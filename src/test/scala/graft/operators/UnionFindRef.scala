package graft.operators

/** Driver-side union-by-min union-find — the independent reference
  * DedupSpec checks [[Dedup.components]] against (union-by-min ⇒ every
  * root is its component's min id, the same fixpoint min-label
  * propagation converges to). `find` is ITERATIVE with full path
  * compression: union-by-min alone can build chain-deep trees, and a
  * recursive find would stack-overflow on a long transitive near-dup run.
  */
final class UnionFindRef {
  private val parent = scala.collection.mutable.Map[Long, Long]()

  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (c != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
    r
  }

  def union(a: Long, b: Long): Unit = {
    val ra = find(a)
    val rb = find(b)
    if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
  }
}
