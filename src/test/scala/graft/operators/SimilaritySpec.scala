package graft.operators

import graft.SparkTestBase
import graft.functions.VectorOps
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("cosine_sim native expression: self-similarity is 1, range is [-1,1]") {
    val self = emb.select(VectorOps.cosineSim(col("embedding"), col("embedding")).as("s"))
      .agg(min("s"), max("s")).head()
    assert(math.abs(self.getDouble(0) - 1.0) < 1e-12 && math.abs(self.getDouble(1) - 1.0) < 1e-12)
    val cross = Similarity.bruteForceTopK(emb, emb.limit(3), 5)
      .agg(min("sim"), max("sim")).head()
    assert(cross.getDouble(0) >= -1.0 - 1e-9 && cross.getDouble(1) <= 1.0 + 1e-9)
  }

  test("precomputed-norm cosine is BIT-identical to the fused kernel") {
    // the r6 pair-scoring split (sqNorm once per row + dotProduct per
    // pair + cosineFromParts) must reproduce CosineSim exactly — same
    // accumulation order, same final op order, same zero-norm guard —
    // or every hash-exact cosine query would drift. Cross-join a
    // slice against itself (includes identical, near, and unrelated
    // pairs) and compare raw doubles with ===, no tolerance.
    val a = emb.limit(60).select(col("vec_id").as("ia"), col("embedding").as("ea"),
      VectorOps.sqNorm(col("embedding")).as("na"))
    val b = emb.limit(60).select(col("vec_id").as("ib"), col("embedding").as("eb"),
      VectorOps.sqNorm(col("embedding")).as("nb"))
    val both = a.crossJoin(b).select(
      VectorOps.cosineSim(col("ea"), col("eb")).as("fused"),
      VectorOps.cosineFromParts(
        VectorOps.dotProduct(col("ea"), col("eb")), col("na"), col("nb"))
        .as("split"))
    assert(both.filter(col("fused") =!= col("split")).count() == 0)
    // zero-norm guard parity: both forms pin 0.0, not NaN
    val z = emb.sparkSession.createDataFrame(Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(1.0f, 2.0f)))).toDF("vec_id", "embedding")
    val zr = z.select(
      VectorOps.cosineSim(col("embedding"), col("embedding")).as("fused"),
      VectorOps.cosineFromParts(
        VectorOps.dotProduct(col("embedding"), col("embedding")),
        VectorOps.sqNorm(col("embedding")), VectorOps.sqNorm(col("embedding")))
        .as("split")).collect()
    assert(zr.forall(r => r.getDouble(0) == r.getDouble(1)))
    assert(zr.exists(r => r.getDouble(0) == 0.0)) // the zero-norm row
  }

  test("brute-force top-k returns k deterministic neighbors per query") {
    val q = emb.filter(col("vec_id") < 5)
    val a = Similarity.bruteForceTopK(emb, q, 5).collect().map(_.toString).sorted
    val b = Similarity.bruteForceTopK(emb, q, 5).collect().map(_.toString).sorted
    assert(a.length == 25 && a.sameElements(b))
  }

  test("LSH top-k recall vs brute force is usable and candidates shrink") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, q, 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val approx = Similarity.lshTopK(emb, q, 10, bits = 4, seed = 42L, tables = 8).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
    // selectivity: each table's buckets split the corpus (scale lever:
    // at 10^9 vectors bits≈16-20 keeps rerank sets ~10^4 per query)
    val corpusN = emb.count()
    val avgBucket = emb.groupBy(VectorOps.lshSig(col("embedding"), 4, 42L))
      .count().agg(avg("count")).head().getDouble(0)
    assert(avgBucket < corpusN / 4.0, s"buckets not selective: $avgBucket of $corpusN")
  }

  test("IVF top-k: deterministic, usable recall, selective lists") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, q, 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val ivf1 = Similarity.ivfTopK(emb, q, 10, nlist = 8, nprobe = 3).collect()
    val ivf2 = Similarity.ivfTopK(emb, q, 10, nlist = 8, nprobe = 3).collect()
    assert(ivf1.map(_.toString).sorted.sameElements(ivf2.map(_.toString).sorted),
      "IVF must be deterministic (seeded centroids)")
    val approx = ivf1.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
    // probing nprobe of nlist lists bounds candidates to ~nprobe/nlist
    // of the corpus per query (the IVF scale lever)
    val cents = Similarity.trainCentroids(emb, 8, 42L, 3)
    assert(cents.length == 8 && cents.forall(_.nonEmpty))
  }

  test("IVF training plans never sort: map-side sample filter, agg-based init") {
    // sampleSize below the corpus size so the hash-threshold branch is
    // the one planned (the branch that replaced orderBy().limit(), whose
    // TakeOrderedAndProject merged a per-partition top-n queue on the
    // driver — ~n × partitions rows of driver traffic at scale)
    val sample = Similarity.trainingSample(emb, seed = 42L, sampleSize = 100)
    val ps = sample.queryExecution.executedPlan.toString
    assert(!ps.contains("TakeOrderedAndProject") && !ps.contains("Sort "),
      s"training sample must be a map-side filter:\n$ps")
    assert(ps.contains("Filter"), s"expected the hash-threshold filter:\n$ps")
    val pi = Similarity.initCentroids(sample, 16, 42L)
    assert(pi.length == 16 && pi.forall(_.nonEmpty))
    // sample is seed-deterministic and close to the requested size
    val n1 = sample.count()
    val n2 = Similarity.trainingSample(emb, 42L, 100).count()
    assert(n1 == n2 && n1 > 50 && n1 < 200, s"sample size $n1")
    // at or under sampleSize the whole corpus trains (small-corpus
    // property: sampling never degrades small inputs)
    assert(Similarity.trainingSample(emb, 42L, 1000000).count() == emb.count())
  }

  test("exhaustive IVF (nprobe=nlist) and LSH (bits=0) reproduce brute force") {
    // probing every list / one all-pass bucket makes the candidate set
    // the whole corpus: the approximate machinery must degrade to EXACT
    // brute force
    val q = emb.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "sim", "rank")
        .collect().map(_.toString).sorted.toSeq
    val brute = rows(Similarity.bruteForceTopK(emb, q, 5))
    assert(rows(Similarity.ivfTopK(emb, q, 5, nlist = 16, nprobe = 16)) == brute)
    assert(rows(Similarity.lshTopK(emb, q, 5, bits = 0, tables = 1)) == brute)
    // the banded-pairing kernel, exhaustive: one all-pass bucket with
    // an uncapped bucket must equal brute-force all-pairs
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(
      pairRows(Similarity.lshPairsAbove(emb, 0.35, bits = 0, tables = 1,
        maxBucket = Int.MaxValue)) ==
      pairRows(Similarity.cosinePairsAbove(emb, 0.35)))
  }

  test("training floors the sample at nlist; row-count hint is sample-identical") {
    // sampleSize < nlist: without the floor, initCentroids recycles the
    // tiny sample into duplicate centroids — the floor keeps the seed
    // pool at least nlist-sized (in expectation)
    val cents = Similarity.trainCentroids(emb, 32, 42L, iters = 1, sampleSize = 4)
    assert(cents.length == 32)
    assert(cents.map(_.toSeq).distinct.length > 4,
      "floored sample must yield more distinct centroids than the raw sampleSize")
    // a caller-supplied row count (SnapshotTable manifest fast path)
    // must pick the IDENTICAL sample as the counted path
    val a = Similarity.trainingSample(emb, 42L, 100)
      .collect().map(_.getLong(0)).sorted
    val b = Similarity.trainingSample(emb, 42L, 100, totalHint = Some(emb.count()))
      .collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b))
  }

  test("threshold pairs are symmetric-free (a<b) and above threshold") {
    val pairs = Similarity.cosinePairsAbove(emb.limit(100), 0.5).collect()
    assert(pairs.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    assert(pairs.forall(_.getAs[Double]("sim") >= 0.5))
  }

  test("IVF at nlist=64 stays inside codegen (no fallback) and is exact-parity") {
    // force codegen: any fallback (e.g. generated code past JVM limits,
    // as with the old nlist×dims literal-array formulation) now throws
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val q = emb.filter(col("vec_id") < 5)
      val out = Similarity.ivfTopK(emb, q, 5, nlist = 64, nprobe = 8)
      assert(out.count() == 25)
      // native argmax ties/values match the declarative formulation
      val cents = Similarity.trainCentroids(emb, 64, 42L, 3)
      val simArr = array(cents.map(c =>
        VectorOps.cosineSim(col("embedding"), typedLit(c.toSeq))): _*)
      val declar = emb.select(col("vec_id"),
        (array_position(simArr, array_max(simArr)) - 1).cast("int").as("list_id"))
      val native = emb.select(col("vec_id"),
        VectorOps.centroidArgmaxCol(col("embedding"), cents).as("list_id"))
      assert(native.exceptAll(declar).isEmpty && declar.exceptAll(native).isEmpty)
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("lshPairsAbove recall on seeded corpus with injected near-dups") {
    val n = 5000L
    val emb2 = graft.ingest.Synth.embeddings(spark, n, dims = 64)
    // injected pairs have cosine ≈ 0.995 → per-bit p ≈ 0.968,
    // union over 8 tables of 10 bits ≈ 0.99997; random pairs sit at
    // 0 ± 1/8, so threshold 0.95 admits ONLY the injected pairs
    val found = Similarity.lshPairsAbove(emb2, 0.95, bits = 10, tables = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val want = (9L until n by 10L).map(i => (i - 2, i)).toSet
    val recall = (want intersect found).size.toDouble / want.size
    assert(recall >= 0.95, s"recall $recall of ${want.size}")
    assert((found -- want).isEmpty, s"false pairs: ${(found -- want).take(3)}")
  }

  test("LSH pairs: subset of exact pairs, usable recall, no broadcast") {
    val exact = Similarity.cosinePairsAbove(emb, 0.35).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val lsh = Similarity.lshPairsAbove(emb, 0.35, bits = 4, tables = 8)
    val approx = lsh.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // every reported pair is exact-reranked, so approx ⊆ exact
    assert((approx -- exact).isEmpty, s"false positives: ${approx -- exact}")
    val recall = (exact intersect approx).size.toDouble / math.max(1, exact.size)
    assert(recall >= 0.5, s"LSH pair recall too low: $recall (${exact.size} exact)")
    // the scale contract: nothing in the plan broadcasts the corpus
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"lshPairsAbove must not BNLJ:\n$plan")
  }

  // ---- labelOutliers ------------------------------------------------------

  test("labelOutliers golden: min-id reference, exact cosine, flag semantics") {
    import spark.implicits._
    val df = Seq(
      (10L, 1, Array(1.0f, 0.0f)),   // ref of label 1 (min id)
      (11L, 1, Array(1.0f, 0.0f)),   // identical -> sim 1.0
      (12L, 1, Array(0.0f, 1.0f)),   // orthogonal -> sim 0.0, outlier at 0.5
      (20L, 2, Array(-1.0f, 0.0f)),  // ref of label 2
      (21L, 2, Array(1.0f, 0.0f))    // opposite -> sim -1.0, outlier
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.labelOutliers(df, threshold = 0.5).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("ref_vec_id"), r.getAs[Double]("sim"),
          r.getAs[Boolean]("is_outlier")))).toMap
    assert(got(10L) == ((10L, 1.0, false)) && got(11L) == ((10L, 1.0, false)))
    assert(got(12L) == ((10L, 0.0, true)))
    assert(got(20L) == ((20L, 1.0, false)) && got(21L) == ((20L, -1.0, true)))
  }

  test("labelOutliers covers every vector; references score 1.0; flag == sim < t") {
    val got = Similarity.labelOutliers(emb, threshold = -0.1)
    val rows = got.collect()
    assert(rows.length == emb.count())
    val refIds = emb.groupBy("label").agg(min("vec_id").as("m")).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Long]("m")).toMap
    rows.foreach { r =>
      val (v, l, ref, sim, o) = (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Long]("ref_vec_id"), r.getAs[Double]("sim"),
        r.getAs[Boolean]("is_outlier"))
      assert(ref == refIds(l), s"vec $v: wrong reference $ref for label $l")
      if (v == ref) assert(sim == 1.0 && !o, s"reference $v must score 1.0")
      assert(o == (sim < -0.1), s"vec $v: flag/threshold mismatch")
    }
  }

  test("labelOutliers drops zero-norm vectors, even as would-be references") {
    import spark.implicits._
    // vec 30 is the MIN id of label 3 but has no direction: it must not
    // become the reference (it would poison the label) nor be scored
    val df = Seq(
      (30L, 3, Array(0.0f, 0.0f)),
      (31L, 3, Array(1.0f, 0.0f)),
      (32L, 3, Array(0.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.labelOutliers(df, threshold = 0.5).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("ref_vec_id"), r.getAs[Double]("sim")))).toMap
    assert(!got.contains(30L), "zero-norm vector must drop")
    assert(got(31L) == ((31L, 1.0)), "reference falls to the next min id")
    assert(got(32L) == ((31L, 0.0)))
  }

  test("labelOutliers plan: corpus is never shuffled (broadcast joins only)") {
    val plan = Similarity.labelOutliers(emb, threshold = -0.1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus must not shuffle through a join:\n$plan")
    intercept[IllegalArgumentException](Similarity.labelOutliers(emb, threshold = 1.5))
  }

  test("embeddingAudit golden: quantized means, dead dims, zero counts; null vectors drop") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.5f)),
      (2L, Seq(2.0f, 0.0f, -0.5f)),
      (3L, Seq(3.0f, 0.0f, 0.25f)),
      (4L, null.asInstanceOf[Seq[Float]])
    ).toDF("vec_id", "embedding")
    val got = Similarity.embeddingAudit(emb).collect()
      .map(r => r.getAs[Int]("dim") -> r).toMap
    assert(got.keySet == Set(0, 1, 2))
    // dim 0: mean (1+2+3)/3 = 2.0, spread alive
    assert(got(0).getAs[Long]("n") == 3 && got(0).getAs[Double]("mean_q") == 2.0)
    assert(!got(0).getAs[Boolean]("is_constant"))
    // dim 1: all zeros — constant AND fully zero-inflated
    assert(got(1).getAs[Boolean]("is_constant") && got(1).getAs[Long]("zero_n") == 3)
    assert(got(1).getAs[Long]("sum_q6") == 0L)
    // dim 2: floor quantization — floor(-0.5e6) = -500000 exactly;
    // sum = 500000 - 500000 + 250000 = 250000 → mean 0.083333
    assert(got(2).getAs[Long]("sum_q6") == 250000L)
    assert(got(2).getAs[Double]("mean_q") == 0.083333)
    assert(got(2).getAs[Double]("min_v") == -0.5 && got(2).getAs[Double]("max_v") == 0.5)
  }

  test("embeddingAudit plan: one exchange, partial aggregation before it") {
    val emb = graft.ingest.Synth.embeddings(spark, 200, dims = 16, seed = 9L)
    val plan = Similarity.embeddingAudit(emb)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"expected exactly one exchange:\n$plan")
    assert(!plan.contains("Join"), s"no joins expected:\n$plan")
  }
}
