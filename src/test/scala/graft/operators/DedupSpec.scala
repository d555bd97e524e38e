package graft.operators

import graft.SparkTestBase

/** Pins the banded-pairing kernel behind the near-duplicate pair
  * search ([[Similarity.lshPairsAbove]]): no self-pairs on a key
  * collision, exhaustive pairs in small buckets, star pairs in hot ones.
  */
class DedupSpec extends SparkTestBase {

  test("band-key collision putting one doc in a bucket twice emits no self-pair") {
    import spark.implicits._
    // simulates a numeric-fold collision: doc 7 lands in bucket 100 via
    // TWO different bands (same bk value) — small-bucket pairing must
    // not emit (7,7), and big-bucket star pairing must not emit (1,1)
    val banded = (Seq((7L, 100L), (7L, 100L), (8L, 100L)) ++
      (1L to 50L).map(i => (i, 200L)) :+ (1L, 200L)).toDF("doc_id", "bk")
    val pairs = Similarity.pairsFromBuckets(banded, maxBucket = 10).collect()
    assert(pairs.forall(r => r.getLong(0) != r.getLong(1)),
      s"self pair in ${pairs.filter(r => r.getLong(0) == r.getLong(1)).mkString(",")}")
    // the legitimate pair survives, exactly once
    assert(pairs.count(r => r.getLong(0) == 7L && r.getLong(1) == 8L) == 1)
    // star branch: every member of the hot bucket pairs with rep 1
    assert(pairs.count(_.getLong(0) == 1L) == 49)
  }

  test("pairsFromBuckets == naive reference on random buckets (duplicates included)") {
    import spark.implicits._
    // property-style pin across seeds: random (doc_id, bk) rows with
    // deliberate duplicate memberships; expected output derives from the
    // documented contract — small buckets: all a<b pairs of DISTINCT
    // ids; hot buckets: (min, member) star pairs
    for (seed <- Seq(1, 7, 42)) {
      val rng = new scala.util.Random(seed)
      val maxBucket = 5
      val rows = Seq.fill(300)((rng.nextInt(40).toLong, rng.nextInt(25).toLong))
      val expected = rows.groupBy(_._2).values.flatMap { bucket =>
        val ids = bucket.map(_._1).distinct.sorted
        if (bucket.size <= 1) Seq.empty
        else if (bucket.size <= maxBucket)
          for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
        else ids.tail.map(d => (ids.head, d))
      }.toSet
      val got = Similarity.pairsFromBuckets(rows.toDF("doc_id", "bk"), maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"seed=$seed missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    }
  }
}
