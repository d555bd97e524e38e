package graft.operators

import graft.SparkTestBase
import graft.functions.{LangId, TextOps}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river shore today"), // near dup of 0
    (3L, "completely different content about spark rollup engines and window aggregation"),
    (4L, "spark rollup engines and window aggregation form completely different content"), // shares words, different shingles
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min doc_id per content hash") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 5) // 0 and 1 collapse
    val dup = out.find(_.getAs[Long]("dup_count") == 2L).get
    assert(dup.getAs[Long]("keeper_doc_id") == 0L)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    // bands=8 (2 rows/band): the near-dup pair's jaccard is ~0.57, so
    // per-band hit prob is 0.57² and union over 8 bands ≈ 0.96 — robust
    // to the (deterministic) hash family, unlike 4-row bands (~0.36)
    val pairs = Dedup.minhashLsh(docs, k = 16, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup must be found")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)), "near dup must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._2 == 4L && p._1 != 3L || p._1 == 5L || p._2 == 5L),
      s"unrelated docs must not pair: $pairs")
  }

  test("simhash: identical docs have distance 0; near-dups within 3; unrelated far") {
    val sigs = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sigs(0L) == sigs(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(2L)) <= 6, s"near dup hamming ${ham(sigs(0L), sigs(2L))}")
    assert(ham(sigs(0L), sigs(3L)) > 10, s"unrelated hamming ${ham(sigs(0L), sigs(3L))}")
  }

  test("winnowing fingerprints: shared k-gram runs => shared fingerprints") {
    val fp = TextAnalysis.fingerprints(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet).toMap
    assert(fp(0L) == fp(1L))
    assert((fp(0L) intersect fp(2L)).size > fp(0L).size / 2)
    assert((fp(0L) intersect fp(3L)).isEmpty)
    // determinism: pure function of text
    val fp2 = TextAnalysis.fingerprints(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet).toMap
    assert(fp == fp2)

    // codepoint-indexed grams: astral-plane text counts like SQL
    // substr/length (U+1D11E + 7 ASCII = 8 CODE POINTS = exactly one
    // k=8 gram), so the q27 oracle holds beyond the BMP — unit-indexed
    // grams would see 9 units and split the surrogate pair
    import spark.implicits._
    val astral = Seq((1L, "𝄞" + "abcdefg")).toDF("doc_id", "text")
    val afp = TextAnalysis.fingerprints(astral).head().getSeq[Long](1)
    assert(afp.length == 1, s"expected one whole-string gram, got $afp")
  }

  test("native minhash == built-in-composed minhash (oracle-parity proof)") {
    // the DuckDB oracle mirrors the BUILT-IN form (md5-substr-conv +
    // per-i transform); the native fused expressions must be bit-equal
    import graft.functions.{TextFunctions, TextOps}
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
      .union(Seq((9001L, ""), (9002L, "one"), (9003L, "two words"),
        (9004L, "a  b   c"), (9005L, " leading and trailing "))
        .toDF("doc_id", "text"))
    val nat = real.select(col("doc_id"), TextOps.shingleHashes3(col("text")).as("hs"),
      TextOps.minhash(TextOps.shingleHashes3(col("text")), 16).as("sig"))
    val ref = real.select(col("doc_id"),
      TextFunctions.shingleHashes(TextFunctions.shingles3(col("text"))).as("hs"),
      array((0 until 16).map(i => TextFunctions.minhashUniversal(
        TextFunctions.shingleHashes(TextFunctions.shingles3(col("text"))), i)): _*).as("sig"))
    val joined = nat.alias("n").join(ref.alias("r"), "doc_id")
      .filter(col("n.hs") =!= col("r.hs") || col("n.sig") =!= col("r.sig"))
    assert(joined.count() == 0, s"native/built-in minhash divergence:\n${joined.head(3).mkString("\n")}")
  }

  test("native simhash == declarative simhash (oracle-parity proof)") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
      .union(Seq((9001L, ""), (9002L, "one"), (9003L, "rep rep rep rep"),
        (9004L, "a  b   c")).toDF("doc_id", "text"))
    val nat = Dedup.simhash(real).withColumnRenamed("simhash", "n")
    val ref = Dedup.simhashDeclarative(real).withColumnRenamed("simhash", "r")
    val bad = nat.join(ref, "doc_id").filter(col("n") =!= col("r"))
    assert(bad.count() == 0, s"simhash divergence:\n${bad.head(3).mkString("\n")}")
  }

  test("band-key collision putting one doc in a bucket twice emits no self-pair") {
    import spark.implicits._
    // simulates a numeric-fold collision: doc 7 lands in bucket 100 via
    // TWO different bands (same bk value) — small-bucket pairing must
    // not emit (7,7), and big-bucket star pairing must not emit (1,1)
    val banded = (Seq((7L, 100L), (7L, 100L), (8L, 100L)) ++
      (1L to 50L).map(i => (i, 200L)) :+ (1L, 200L)).toDF("doc_id", "bk")
    val pairs = Dedup.pairsFromBuckets(banded, maxBucket = 10).collect()
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
      val got = Dedup.pairsFromBuckets(rows.toDF("doc_id", "bk"), maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"seed=$seed missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    }
  }

  test("hot-bucket guard: 1000 identical docs yield linear star pairs, not n²") {
    val many = spark.range(1000).select(
      col("id").as("doc_id"),
      lit("the same boilerplate text repeated across every document here").as("text"))
    // every band bucket has 1000 members (> maxBucket=64) → star pairing
    val lsh = Dedup.minhashLsh(many, k = 16, bands = 4, threshold = 0.5).collect()
    assert(lsh.length == 999, s"expected 999 star pairs, got ${lsh.length}")
    assert(lsh.forall(r => r.getAs[Long]("doc_a") == 0L && r.getAs[Double]("jaccard") == 1.0))
    val sp = Dedup.simhashPairs(Dedup.simhash(many)).collect()
    assert(sp.length == 999, s"expected 999 star pairs, got ${sp.length}")
    assert(sp.forall(r =>
      r.getAs[Long]("doc_a") == 0L && r.getAs[Number]("hamming").longValue == 0L))
  }

  test("hot-bucket guard: 1000 empty docs complete with bounded output") {
    val empty = spark.range(1000).select(col("id").as("doc_id"), lit("").as("text"))
    assert(Dedup.minhashLsh(empty, k = 16, bands = 4, threshold = 0.5).count() == 999)
    assert(Dedup.simhashPairs(Dedup.simhash(empty)).count() == 999)
  }

  test("small buckets still pair exhaustively under the guard") {
    // three docs share a bucket (size 3 <= 64): all 3 pairs must appear,
    // not just the representative's 2
    val trio = Seq(
      (7L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (8L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (9L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(trio, k = 16, bands = 4, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs == Set((7L, 8L), (7L, 9L), (8L, 9L)), s"got $pairs")
  }

  test("injected-duplicate recall on the seeded corpus (ground-truth measure)") {
    val n = 2000L
    val docs = graft.ingest.Synth.documents(spark, n, seed = 42L)
    // exact dedup finds every injected exact duplicate: n/10 groups of 2
    val groups = Dedup.exact(docs)
    assert(groups.count() == n - n / 10)
    assert(groups.filter(col("dup_count") === 2).count() == n / 10)
    // minhash LSH: all exact pairs + >=90% of jaccard~0.9 near pairs
    val found = Dedup.minhashLsh(docs, k = 16, bands = 8, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = (8L until n by 10L).map(i => (i - 2, i)).toSet
    val nearPairs = (9L until n by 10L).map(i => (i - 2, i)).toSet
    assert((exactPairs -- found).isEmpty, s"missed exact: ${(exactPairs -- found).take(3)}")
    val nearRecall = (nearPairs intersect found).size.toDouble / nearPairs.size
    assert(nearRecall >= 0.9, s"near-dup recall $nearRecall")
    // nothing unrelated pairs up (threshold 0.8 kills chance collisions)
    assert((found -- exactPairs -- nearPairs).isEmpty,
      s"false pairs: ${(found -- exactPairs -- nearPairs).take(3)}")
    // simhash: exact dups at hamming 0 => found at any maxDist
    val sh = Dedup.simhashPairs(Dedup.simhash(docs))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exactPairs -- sh).isEmpty, "simhash must find all exact dups")
  }

  test("language id separates real multilingual samples") {
    assert(LangId.detect("The quick brown fox jumps over the lazy dog and runs to the forest") == "en")
    assert(LangId.detect("Le renard brun rapide saute par-dessus le chien paresseux près de la rivière") == "fr")
    assert(LangId.detect("El rápido zorro marrón salta sobre el perro perezoso en la ciudad") == "es")
    assert(LangId.detect("Der schnelle braune Fuchs springt über den faulen Hund und läuft schnell") == "de")
    assert(LangId.detect("敏捷的棕色狐狸跳过了懒狗") == "zh")
    assert(LangId.detect("") == "und")
  }

  test("native lang-id expression == UDF form, and stays inside codegen") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val native = TextAnalysis.langId(docs)
      val viaUdf = docs.select(col("doc_id"), LangId.udf(col("text")).as("lang_pred"),
        col("lang").as("lang_label"))
      assert(native.exceptAll(viaUdf).isEmpty && viaUdf.exceptAll(native).isEmpty,
        "native lang-id must match the UDF reference row for row")
      // null text → null prediction through the null-safe expression
      import spark.implicits._
      val withNull = Seq((1L, null: String, "en")).toDF("doc_id", "text", "lang")
      assert(TextAnalysis.langId(withNull).head().isNullAt(1))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("components: chains, stars, and cliques resolve to min-id clusters") {
    import spark.implicits._
    // chain 1-2-3-7, pair {5,6}, star 8-{9,10} — min-label must cross
    // the chain transitively (diameter 3 → several iterations)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (1L, 7L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L, 10L -> 8L))
    // long chain under a tight iteration cap must THROW, not silently
    // return a split component
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException](Dedup.components(chain, maxIters = 2).collect())
    assert(Dedup.components(chain, maxIters = 20).collect()
      .forall(_.getLong(1) == 0L))
  }

  test("components == union-find reference on random pair graphs") {
    val gen = for {
      n <- org.scalacheck.Gen.choose(1, 30)
      es <- org.scalacheck.Gen.listOfN(n, for {
        a <- org.scalacheck.Gen.choose(0L, 19L)
        b <- org.scalacheck.Gen.choose(0L, 19L)
        if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield es
    new graft.PropHelpers {}.forAllN(gen, n = 15) { es =>
      val pairs = es.toDF("doc_a", "doc_b")
      val got = Dedup.components(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // union-by-min union-find reference (root == component min id)
      val uf = new UnionFindRef
      es.foreach { case (a, b) => uf.union(a, b) }
      val want = es.flatMap(p => Seq(p._1, p._2)).distinct
        .map(d => d -> uf.find(d)).toMap
      assert(got == want, s"edges=$es")
    }
  }

  test("dedupByPairs keeps one doc per near-dup cluster plus all singletons") {
    import spark.implicits._
    val corpus = (0L until 8L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 4L), (4L, 6L)).toDF("doc_a", "doc_b")
    val kept = Dedup.dedupByPairs(corpus, pairs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 3L, 5L, 7L), s"got $kept")
    // end-to-end: the full near-dup pipeline dedups the fixture corpus
    // exactly to its jaccard clusters
    val piped = Dedup.dedupByPairs(docs, Dedup.minhashLsh(docs, 16, 4, 0.7))
    val clustered = Dedup.components(Dedup.minhashLsh(docs, 16, 4, 0.7))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val nonKeepers = clustered.filter { case (d, c) => d != c }.map(_._1).toSet
    assert(piped.collect().map(_.getLong(0)).toSet ==
      docs.collect().map(_.getLong(0)).toSet -- nonKeepers)
  }

  test("minhash_sigs of an empty hash array is NULL (array_min-of-empty parity)") {
    import spark.implicits._
    val df = Seq((1L, Seq.empty[Long]), (2L, Seq(5L, 9L)))
      .toDF("doc_id", "hs")
      .select(col("doc_id"), TextOps.minhash(col("hs"), 4).as("sig"))
      .orderBy("doc_id").collect()
    assert(df(0).isNullAt(1), "empty array must yield NULL, not sentinel minima")
    assert(!df(1).isNullAt(1) && df(1).getSeq[Long](1).length == 4)
  }

  // ---- decontaminate ----------------------------------------------------

  test("decontaminate golden: flags exact and near benchmark dups, best match only") {
    import spark.implicits._
    // bench doc 100 == corpus doc 0 (exact), near-dup of corpus doc 2;
    // bench 101 unrelated
    val corpus = docs.filter(col("doc_id") <= 5)
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "nothing in the training corpus resembles this benchmark question at all")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, bench, k = 16, bands = 8, threshold = 0.5)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("bench_id"), r.getAs[Double]("jaccard")))).toMap
    assert(got.keySet == Set(0L, 1L, 2L), s"flagged: ${got.keySet}")
    assert(got(0L) == ((100L, 1.0)) && got(1L) == ((100L, 1.0)))
    assert(got(2L)._1 == 100L && got(2L)._2 > 0.5 && got(2L)._2 < 1.0)
  }

  test("decontaminate: no false positives, jaccards match the brute cross check") {
    val all = graft.ingest.Synth.documents(spark, n = 400, seed = 11L)
    // Synth injects pairs (id-2, id) at id%10 in {8,9}, i.e. base docs
    // are id%10 in {6,7}: benching exactly those bases makes EVERY
    // injected pair (exact and near) straddle the corpus/bench split
    val isBench = col("doc_id") % 10 === 6 || col("doc_id") % 10 === 7
    val corpus = all.filter(!isBench)
    val bench = all.filter(isBench)
    val got = Dedup.decontaminate(corpus, bench, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id"),
        r.getAs[Double]("jaccard")))
    assert(got.nonEmpty, "synth injected dups must straddle the split")
    // brute ground truth: exact jaccard over distinct shingle sets
    val sets = all.select(col("doc_id"),
      array_distinct(TextOps.shingleHashes3(col("text"))).as("s"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet).toMap
    def jac(a: Set[Long], b: Set[Long]): Double = {
      val i = (a intersect b).size.toDouble
      math.rint(i / (a.size + b.size - i) * 1e6) / 1e6
    }
    val benchIds = Set(6L, 7L)
    got.foreach { case (d, b, j) =>
      assert(!benchIds.contains(d % 10) && benchIds.contains(b % 10),
        s"split violated: ($d, $b)")
      val expected = jac(sets(d), sets(b))
      assert(j == expected && j >= 0.5, s"($d,$b): got $j, brute $expected")
      // best match: no OTHER bench doc has a strictly higher jaccard
      // among those at/above threshold that banded with d — weaker but
      // sufficient brute form: none strictly higher in the FULL bench
      // unless LSH missed it (high-jaccard misses are ~impossible at
      // these band settings for j > 0.9)
      val better = sets.keys.filter(k =>
        benchIds.contains(k % 10) && jac(sets(d), sets(k)) > j + 1e-9)
      assert(better.forall(k => jac(sets(d), sets(k)) < 0.95),
        s"doc $d: clearly better bench match missed: $better")
    }
    // every injected EXACT pair (corpus id%10==8 vs its bench base)
    // must be flagged at jaccard 1.0 — band recall is 1 for identity
    val exactIds = (0L until 400L).filter(i => i % 10 == 8 && i >= 2)
    exactIds.foreach { i =>
      val hit = got.find(_._1 == i)
      assert(hit.exists(_._3 == 1.0), s"exact dup $i of bench ${i - 2} missed: $hit")
    }
  }

  test("decontaminate plan: benchmark side broadcasts, corpus side never does") {
    val all = graft.ingest.Synth.documents(spark, n = 200, seed = 11L)
    val plan = Dedup.decontaminate(
      all.filter(col("doc_id") % 5 =!= 0),
      all.filter(col("doc_id") % 5 === 0)).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate discovery must be a broadcast join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"no BNLJ anywhere:\n$plan")
  }

  test("decontaminate rejects bad band/threshold parameters") {
    intercept[IllegalArgumentException](
      Dedup.decontaminate(docs, docs, k = 16, bands = 5))
    intercept[IllegalArgumentException](
      Dedup.decontaminate(docs, docs, threshold = 0.0))
  }

  test("decontaminateBloom golden: same flags and jaccards as the banded form") {
    import spark.implicits._
    val corpus = docs.filter(col("doc_id") <= 5)
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "nothing in the training corpus resembles this benchmark question at all")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminateBloom(corpus, bench, threshold = 0.5)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("bench_id"), r.getAs[Double]("jaccard")))).toMap
    assert(got.keySet == Set(0L, 1L, 2L), s"flagged: ${got.keySet}")
    assert(got(0L) == ((100L, 1.0)) && got(1L) == ((100L, 1.0)))
    assert(got(2L)._1 == 100L && got(2L)._2 > 0.5 && got(2L)._2 < 1.0)
  }

  test("decontaminateBloom == brute all-pairs truth (exact recall, no band curve)") {
    val all = graft.ingest.Synth.documents(spark, n = 400, seed = 11L)
    val isBench = col("doc_id") % 10 === 6 || col("doc_id") % 10 === 7
    val got = Dedup.decontaminateBloom(
      all.filter(!isBench), all.filter(isBench), threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id"),
        r.getAs[Double]("jaccard"))).toSet
    // brute ground truth over distinct shingle sets: EVERY corpus doc
    // with a qualifying match must be flagged with its best match —
    // full set equality, which the banded form cannot promise
    val sets = all.select(col("doc_id"),
      array_distinct(TextOps.shingleHashes3(col("text"))).as("s"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet).toMap
    def jac(a: Set[Long], b: Set[Long]): Double = {
      val i = (a intersect b).size.toDouble
      math.rint(i / (a.size + b.size - i) * 1e6) / 1e6
    }
    val benchIds = sets.keys.filter(k => k % 10 == 6 || k % 10 == 7).toSeq
    val truth = sets.keys.filterNot(k => k % 10 == 6 || k % 10 == 7).flatMap { d =>
      val scored = benchIds.map(b => (b, jac(sets(d), sets(b))))
        .filter(_._2 >= 0.5)
      if (scored.isEmpty) None
      else Some {
        val best = scored.minBy { case (b, j) => (-j, b) }
        (d, best._1, best._2)
      }
    }.toSet
    assert(truth.nonEmpty, "synth must inject cross-split dups")
    assert(got == truth,
      s"missing: ${truth -- got}\nextra: ${got -- truth}")
  }

  test("decontaminateBloom output is bloom-parameter independent (worst-case FPR)") {
    val all = graft.ingest.Synth.documents(spark, n = 200, seed = 7L)
    // the %10∈{6,7} residues are the injected-pair bases (see the
    // brute-truth test) so the split is guaranteed to produce matches
    val isBench = col("doc_id") % 10 === 6 || col("doc_id") % 10 === 7
    def run(bits: Int, hashes: Int) =
      Dedup.decontaminateBloom(all.filter(!isBench), all.filter(isBench),
        threshold = 0.5, numBits = bits, numHashes = hashes)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id"),
          r.getAs[Double]("jaccard"))).toSet
    // 64 bits saturates instantly: every prescreen probe passes (the
    // worst possible false-positive rate) — output must not change
    val tiny = run(64, 1)
    val big = run(1 << 18, 3)
    assert(tiny == big, s"bloom params changed the OUTPUT:\n$tiny\nvs\n$big")
    assert(big.nonEmpty)
  }

  test("bloomBits artifact merges: union of shard bitsets == bitset of the union") {
    val all = graft.ingest.Synth.documents(spark, n = 120, seed = 3L)
    val h1 = all.filter(col("doc_id") < 60)
    val h2 = all.filter(col("doc_id") >= 60)
    def words(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      Dedup.bloomBits(df, numBits = 1 << 12, numHashes = 3)
        .collect()(0).getSeq[Long](0)
    val (w1, w2, wAll) = (words(h1), words(h2), words(all))
    assert(w1.length == (1 << 12) / 64 && wAll.length == w1.length,
      "dense bitset must have exactly numBits/64 words")
    val merged = w1.zip(w2).map { case (a, b) => a | b }
    assert(merged == wAll, "bit_or shard merge must equal whole-corpus bitset")
  }

  test("decontaminateBloom plan: prescreen is join-free map-side, pairing is BHJ") {
    val all = graft.ingest.Synth.documents(spark, n = 200, seed = 11L)
    val plan = Dedup.decontaminateBloom(
      all.filter(col("doc_id") % 5 =!= 0),
      all.filter(col("doc_id") % 5 === 0)).queryExecution.executedPlan.toString
    // the bitset is a literal array (the centroid reference-object
    // pattern) — NO join of any kind reaches the corpus before the
    // survivor explode
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"no BNLJ: the bloom rides as a literal, not a joined row:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"survivor-shingle pairing must be a broadcast hash join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle through a join:\n$plan")
  }

  test("minhashCalibration: exact dups estimate 1.0; estimates quantized to 1/k; injected pairs present") {
    val all = graft.ingest.Synth.documents(spark, n = 300, seed = 11L)
    val got = Dedup.minhashCalibration(all, k = 16, bands = 8).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        ((r.getAs[Double]("est_jaccard"), r.getAs[Double]("exact_jaccard"),
          r.getAs[Double]("abs_err")))).toMap
    assert(got.nonEmpty)
    got.foreach { case (pair, (est, exact, err)) =>
      // estimator is (# agreeing components)/16 — quantized to 1/16
      assert((est * 16).round / 16.0 == est, s"$pair est not a 16th: $est")
      assert(est >= 0.0 && est <= 1.0 && exact >= 0.0 && exact <= 1.0)
      assert(math.abs(err - math.rint(math.abs(est - exact) * 1e6) / 1e6) < 1e-9,
        s"$pair err mismatch: $err vs |$est - $exact|")
    }
    // injected exact duplicates (id%10==8, anchored at id-2): identical
    // text => identical signatures => est 1.0 AND exact 1.0
    val exactPairs = (8L until 300L by 10L).map(i => (i - 2, i))
    exactPairs.foreach { p =>
      val hit = got.get(p)
      assert(hit.exists(v => v._1 == 1.0 && v._2 == 1.0), s"exact dup $p: $hit")
    }
    intercept[IllegalArgumentException](
      Dedup.minhashCalibration(docs, k = 16, bands = 5))
  }

  test("NULL-signature docs: NULL band keys never pair; short docs verify as 0.0 not 0/0") {
    // NULL-text docs have NULL signatures → NULL band keys in every
    // band. Two of them would land in ONE Window.partitionBy(bk)
    // bucket if NULL keys survived banding — emitting pairs the
    // oracle's bk equi-join never produces. bandedKeys filters NULL
    // keys, so no pair may touch a NULL-text doc.
    val mixed = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String]),
      (4L, "ok")
    ).toDF("doc_id", "text")
    val nullDocs = Set(2L, 3L)
    val cal = Dedup.minhashCalibration(mixed, k = 16, bands = 8).collect()
    assert(cal.nonEmpty, "the real dup pair must still be reported")
    cal.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(!nullDocs(a) && !nullDocs(b), s"NULL-text doc in calibration pair ($a,$b)")
    }
    val lsh = Dedup.minhashLsh(mixed, k = 16, bands = 8, threshold = 0.0).collect()
    lsh.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(!nullDocs(a) && !nullDocs(b), s"NULL-text doc in LSH pair ($a,$b)")
    }
    // <3-token docs get a singleton whole-text shingle, so a
    // caller-supplied short-doc pair has a DEFINED jaccard (0.0 for
    // distinct texts) — reported, not crashed on
    val shorts = Seq((10L, "ok"), (11L, "")).toDF("doc_id", "text")
    val v = Dedup.jaccardVerify(shorts, Seq((10L, 11L)).toDF("doc_a", "doc_b"),
      threshold = 0.0).collect()
    assert(v.length == 1 && v(0).getAs[Double]("jaccard") == 0.0)
    // a pair whose BOTH sides have NULL text has NULL (undefined)
    // jaccard — dropped by the threshold filter, not divided 0/0
    assert(Dedup.jaccardVerify(mixed, Seq((2L, 3L)).toDF("doc_a", "doc_b"),
      threshold = 0.0).count() == 0)
  }

  test("decontaminateBloomWith: prebuilt artifact serves many runs, zero build jobs") {
    val all = graft.ingest.Synth.documents(spark, n = 300, seed = 11L)
    val isBench = col("doc_id") % 5 === 0
    val corpus = all.filter(!isBench)
    val bench = all.filter(isBench)
    // the artifact lifecycle: build once (array or one-row frame),
    // read the frame form back losslessly
    val arr = Dedup.bloomBitsArray(bench, numBits = 4096, numHashes = 3)
    val art = Dedup.bloomBits(bench, numBits = 4096, numHashes = 3)
    // the artifact carries its OWN hash count — probing with a
    // different count than the build breaks no-false-negatives
    val (artArr, artHashes) = Dedup.bloomArtifactArray(art)
    assert(artArr.toSeq == arr.toSeq && artHashes == 3)
    // serve-many: constructing the plan from the prebuilt words runs
    // NO Spark job (decontaminateBloom pays the bitset build action
    // per call; the artifact path must not)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    val (p1, p2) = try {
      val a = Dedup.decontaminateBloomWith(corpus, bench, arr, 0.5, 3)
      val b = Dedup.decontaminateBloomWith(corpus, bench, arr, 0.5, 3)
      Thread.sleep(400) // listener bus drain
      assert(jobs.get() == 0,
        s"prebuilt path must run no job at plan time, saw ${jobs.get()}")
      (a, b)
    } finally spark.sparkContext.removeSparkListener(l)
    // and both calls equal the per-call-build sibling exactly, as
    // does the artifact-frame form (stored hash count)
    val direct = Dedup.decontaminateBloom(corpus, bench, 0.5, 4096, 3)
    assertSameRows(p1, direct)
    assertSameRows(p2, direct)
    assertSameRows(
      Dedup.decontaminateBloomArtifact(corpus, bench, art, 0.5), direct)
    intercept[IllegalArgumentException](
      Dedup.decontaminateBloomWith(corpus, bench, Array.emptyLongArray))
    intercept[IllegalArgumentException](Dedup.bloomArtifactArray(art.limit(0)))
  }

  test("decontaminateBloom/bloomBits reject bad parameters") {
    intercept[IllegalArgumentException](Dedup.bloomBits(docs, numBits = 100))
    intercept[IllegalArgumentException](Dedup.bloomBits(docs, numHashes = 0))
    intercept[IllegalArgumentException](
      Dedup.decontaminateBloom(docs, docs, threshold = 0.0))
  }
}
