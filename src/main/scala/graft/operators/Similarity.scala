package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  *  - [[bruteForceTopK]] — the correctness baseline: broadcast the
  *    (small) query set against the corpus, score with the native
  *    [[graft.functions.CosineSim]] expression (stays in
  *    WholeStageCodegen — no UDF boxing), window top-k. Cost
  *    O(|Q|·|corpus|) but embarrassingly parallel: the corpus never
  *    shuffles, only the per-query top-k heap rows do.
  *  - [[lshTopK]] — the 100 TB path: random-hyperplane signatures
  *    bucket the corpus; each query probes only its own bucket family
  *    (multi-probe via `probes` sign-flips), then exact-reranks.
  *    Corpus pass is one map + one narrow shuffle on (bucket), and the
  *    per-bucket candidate set is ~corpus/2^bits.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    *
    * Norms are precomputed ONCE PER ROW on each side (`sqNorm`) and
    * only the dot product runs per pair — bit-identical to the fused
    * kernel (same accumulators, same final arithmetic; see
    * [[VectorOps.cosineFromParts]]) at 1/3 the per-pair flops, which
    * is the whole cost of an O(|Q|·|corpus|) scorer.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      VectorOps.sqNorm(col("embedding")).as("_nn"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      VectorOps.sqNorm(col("embedding")).as("_qn"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("sim", round(VectorOps.cosineFromParts(
        VectorOps.dotProduct(col("q_emb"), col("n_emb")),
        col("_qn"), col("_nn")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("sim"), col("rank"))
  }

  /** LSH-bucketed ANN: `tables` independent random-hyperplane tables of
    * `bits` bits each (union of same-bucket candidates across tables —
    * the standard recall amplifier: per-table hit prob p^bits, union
    * 1-(1-p^bits)^tables), then exact rerank of the deduped candidates.
    * Returns the same schema as [[bruteForceTopK]]; recall < 1 by
    * construction (bounded in SimilaritySpec, not oracle-exact).
    * Corpus cost: one map pass emitting `tables` (bucket, id) pairs per
    * vector — candidates per query ≈ tables · corpus/2^bits, tuned so
    * that at 10^9 vectors (bits≈16-20) the rerank set stays ~10^4.
    *
    * `bits = 0, tables = 1` is the EXHAUSTIVE setting: one all-pass
    * bucket, so the candidate set is the whole corpus and the result
    * must equal [[bruteForceTopK]] — the exact mode that pins the probe/rerank machinery, leaving only bucketing
    * recall as the approximate part.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      bits: Int = 8, seed: Long = 42L, tables: Int = 8): DataFrame = {
    def bucketed(df: DataFrame, idCol: String, embCol: String, nCol: String) = {
      val sigs = (0 until tables).map(t =>
        struct(lit(t).as("t"),
          VectorOps.lshSig(col("embedding"), bits, seed + t * 0x51_7c_c1_b7L).as("sig"))
          .as(s"b$t"))
      // per-vector norm computed once BEFORE the table explode and
      // carried through it — the rerank then pays only the dot kernel
      // per candidate (see bruteForceTopK)
      df.select(col("vec_id").as(idCol) +: col("embedding").as(embCol) +:
          VectorOps.sqNorm(col("embedding")).as(nCol) +: sigs: _*)
        .withColumn("bucket", explode(array((0 until tables).map(t => col(s"b$t")): _*)))
        .drop((0 until tables).map(t => s"b$t"): _*)
    }
    val c = bucketed(corpus, "n_id", "n_emb", "_nn")
    val q = bucketed(queries, "q_id", "q_emb", "_qn")
    // score BEFORE deduping cross-table repeats (same rationale as
    // lshPairsAbove): dropDuplicates over rows carrying both embedding
    // arrays shuffles 2·dims floats per candidate; scoring map-side
    // and deduping the scalar (q_id, n_id, sim) rows shuffles ~24
    // bytes — a repeated pair re-scores its cosine, compute is cheap
    val scored = c.join(broadcast(
        q.select(col("bucket"), col("q_id"), col("q_emb"), col("_qn"))), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", round(VectorOps.cosineFromParts(
        VectorOps.dotProduct(col("q_emb"), col("n_emb")),
        col("_qn"), col("_nn")), 6))
      .select(col("q_id"), col("n_id"), col("sim"))
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN — the second scale path besides LSH:
    * `nlist` coarse centroids (k-means refined from a deterministic
    * seeded sample), corpus vectors assigned to their nearest centroid
    * MAP-SIDE (the centroid matrix rides inside the native
    * [[graft.functions.CentroidArgmax]] expression as a codegen
    * reference object — no assignment shuffle, and generated code stays
    * O(1) in nlist×dims, so realistic nlist in the hundreds neither
    * blows JVM method limits nor falls out of codegen), queries probe
    * their `nprobe` nearest lists, exact rerank of list members only.
    * Candidates per query ≈ nprobe/nlist of the corpus; recall < 1 by
    * construction (bounded in SimilaritySpec against [[bruteForceTopK]]).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      iters: Int = 3, corpusRows: Option[Long] = None): DataFrame = {
    val centroids = trainCentroids(corpus, nlist, seed, iters,
      corpusRows = corpusRows)

    // corpus: argmax centroid in ONE pass, computed map-side; the
    // per-vector norm rides along so the rerank pays only the dot
    // kernel per candidate (bruteForceTopK doctrine)
    val assigned = corpus.select(
      col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      VectorOps.sqNorm(col("embedding")).as("_nn"),
      VectorOps.centroidArgmaxCol(col("embedding"), centroids).as("list_id"))

    // queries: nprobe best centroids, also map-side (sims array built
    // by one native expression, then sorted — nlist elements per row)
    val probed = queries.select(
        col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        VectorOps.sqNorm(col("embedding")).as("_qn"),
        slice(reverse(array_sort(zip_with(
          VectorOps.centroidSimsCol(col("embedding"), centroids),
          sequence(lit(0), lit(nlist - 1)),
          (s, i) => struct(s.as("sim"), i.as("idx"))))), 1, nprobe).as("probes"))
      .select(col("q_id"), col("q_emb"), col("_qn"),
        explode(col("probes.idx")).as("list_id"))

    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id").asc)
    assigned.join(broadcast(probed), Seq("list_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", round(VectorOps.cosineFromParts(
        VectorOps.dotProduct(col("q_emb"), col("n_emb")),
        col("_qn"), col("_nn")), 6))
      .select(col("q_id"), col("n_id"), col("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic hash-threshold training sample: keep the vectors
    * with `xxhash64(vec_id, seed) mod M < K`, K sized from a cheap
    * count so the expected sample is ~1.1 × `sampleSize`. Fully
    * MAP-SIDE — no sort, no per-partition top-k queues, no driver
    * merge: the `orderBy(hash).limit(n)` form this replaces compiled to
    * TakeOrderedAndProject, which collects a bounded-but-real top-n
    * queue from EVERY partition to the driver (~n × partitions rows of
    * driver traffic at 10^4 partitions). Seed-deterministic: membership
    * is a pure function of (vec_id, seed). Corpora at or under
    * `sampleSize` train on everything — identical to full-corpus
    * training.
    *
    * `totalHint`: corpus row count, when the caller already knows it
    * (a [[graft.table.SnapshotTable]] read knows it from parquet
    * footers via `rowCount` — no Spark job). Absent, ONE count()
    * action sizes the threshold (metadata-only on parquet sources).
    */
  private[operators] def trainingSample(corpus: DataFrame, seed: Long,
      sampleSize: Int, totalHint: Option[Long] = None): DataFrame = {
    val base = corpus.select(col("vec_id"), col("embedding"))
    val total = totalHint.getOrElse(corpus.count())
    if (total <= sampleSize) base
    else {
      val m = 1L << 20
      val k = math.min(m, math.max(1L, m * 11L / 10L * sampleSize / total))
      base.filter(pmod(xxhash64(col("vec_id"), lit(seed)), lit(m)) < lit(k))
    }
  }

  /** Deterministic initial centroids WITHOUT a global sort: each sample
    * vector hashes into one of `nlist` buckets and the bucket's
    * min-by-(hash, vec_id) vector seeds that centroid — one partial-agg
    * shuffle of ≤ nlist rows, well-spread starting points, and a total
    * order (hash ties broken by vec_id) so reruns pick identical seeds.
    * Rare empty buckets (tiny corpora) cycle the found seeds.
    */
  private[operators] def initCentroids(train: DataFrame, nlist: Int,
      seed: Long): Array[Array[Float]] = {
    val rows = train
      .withColumn("h", xxhash64(col("vec_id"), lit(seed + 0x9e3779b9L)))
      .groupBy(pmod(col("h"), lit(nlist)).as("b"))
      .agg(min_by(col("embedding"), struct(col("h"), col("vec_id"))).as("e"))
      .collect()
    require(rows.nonEmpty, "initCentroids on an empty corpus")
    val byBucket = rows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val found = byBucket.toSeq.sortBy(_._1).map(_._2)
    Array.tabulate(nlist)(i => byBucket.getOrElse(i.toLong, found(i % found.size)))
  }

  /** Deterministic k-means training: hash-threshold sample for the
    * training set ([[trainingSample]]), bucket-min seeds for the
    * initial centroids ([[initCentroids]]), then `iters` Lloyd steps
    * over the sample (standard IVF practice — FAISS trains its coarse
    * quantizer on a sample, not the corpus; Lloyd over the full corpus
    * would cost `iters` extra full scans at 10^9+ vectors for no recall
    * benefit). The update is a (list, dim)-keyed average — a shuffle of
    * nlist×dims cells, independent of sample size. Nothing in the
    * training plan sorts: no TakeOrderedAndProject, no global exchange
    * beyond the nlist-row aggregations (pinned in PlanShapeSpec).
    */
  private[operators] def trainCentroids(corpus: DataFrame, nlist: Int,
      seed: Long, iters: Int, sampleSize: Int = 65536,
      corpusRows: Option[Long] = None): Array[Array[Float]] = {
    // floor the sample at nlist: a sample smaller than nlist makes
    // initCentroids recycle seeds into duplicate centroids — silent
    // recall degradation, not an error
    val train = trainingSample(corpus, seed, math.max(sampleSize, nlist),
        totalHint = corpusRows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents: Array[Array[Float]] = initCentroids(train, nlist, seed)
      for (_ <- 1 to iters) {
        val cells = train
          .select(
            VectorOps.centroidArgmaxCol(col("embedding"), cents).as("list_id"),
            col("embedding"))
          .select(col("list_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("list_id"), col("pos"))
          .agg(avg(col("v")).as("c"))
          .collect()
        val next = cents.map(_.clone())
        cells.foreach(r =>
          next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat)
        cents = next
      }
      cents
    } finally train.unpersist()
  }

  /** All pairs above a cosine threshold within a labeled corpus —
    * embedding near-dup dedup. BRUTE-FORCE BASELINE ONLY (the join is a
    * BroadcastNestedLoopJoin — O(n²) work and a broadcast of one full
    * side): correct at any scale where n² compute is affordable, used
    * as the oracle-checkable reference. The 100 TB path is
    * [[lshPairsAbove]], which never broadcasts.
    */
  def cosinePairsAbove(corpus: DataFrame, threshold: Double): DataFrame = {
    // norms once per row (n of them), dot only per pair (n²/2): the
    // fused kernel re-derived both norms inside every pair — 3× the
    // flops on the quadratic term (bit-identical split, see
    // VectorOps.cosineFromParts; SimilaritySpec pins the parity)
    //
    // The streamed side is explicitly spread over the cluster's task
    // slots: a small corpus arrives as ONE scan partition (single
    // parquet file), which would serialize the entire O(n²) nested-loop
    // stage on one core — and AQE would coalesce a keyed repartition
    // of n tiny rows right back to one partition, so the partition
    // count is pinned to defaultParallelism (cores locally, total
    // executor cores on a cluster — environment-derived, not a
    // constant). The exchange moves n rows; the stage it parallelizes
    // does n²/2 dot products — always a win for an all-pairs scorer.
    val slots = corpus.sparkSession.sparkContext.defaultParallelism
    val a = corpus.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      VectorOps.sqNorm(col("embedding")).as("_na"))
      .repartition(slots, col("id_a"))
    val b = corpus.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      VectorOps.sqNorm(col("embedding")).as("_nb"))
    // the threshold predicate is part of the hand-written join
    // condition, ORDERED cheap-first: left to the optimizer, the
    // pushed sim filter landed AHEAD of `id_a < id_b` in the conjunct
    // list, so every ORDERED pair (n², twice the output space) paid
    // the kernel before the id compare discarded half — conjunct
    // short-circuiting makes the id compare a free 2× on the dot count
    val sim = round(VectorOps.cosineFromParts(
      VectorOps.dotProduct(col("emb_a"), col("emb_b")),
      col("_na"), col("_nb")), 6)
    a.join(b, col("id_a") < col("id_b") && sim >= threshold)
      .select(col("id_a"), col("id_b"), sim.as("sim"))
  }

  /** Broadcast-free embedding near-dup pairs — the scale sibling of
    * [[cosinePairsAbove]]: `tables` hyperplane-signature tables bucket
    * the corpus map-side, candidates come from a SELF-JOIN of the
    * bucketed corpus on its bucket key (shuffle-shuffle — nothing is
    * ever broadcast, so the corpus can be arbitrarily large), then the
    * deduped candidates are exact-reranked with the native cosine.
    * Recall < 1 by construction (union over tables amplifies it;
    * bounded vs [[cosinePairsAbove]] in SimilaritySpec). Tune `bits`
    * jointly with the threshold: per-table hit prob is p^bits with
    * p = 1 - acos(sim)/π, so LOW thresholds need FEW bits (θ=0.35 →
    * p≈0.62 → bits=4 keeps union-recall ~0.7) while high-sim near-dup
    * hunting at corpus scale wants bits 16-20 (p≈0.86 at sim 0.9 keeps
    * recall while buckets shrink to corpus/2^bits). Hot buckets
    * (boilerplate/zero vectors) fall back to star pairing against the
    * bucket's min id via [[pairsFromBuckets]] — linear, keeps
    * dedup connectivity.
    */
  def lshPairsAbove(corpus: DataFrame, threshold: Double, bits: Int = 8,
      tables: Int = 8, seed: Long = 42L, maxBucket: Int = 1024): DataFrame = {
    val banded = corpus.select(
      col("vec_id").as("doc_id"), col("embedding"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          VectorOps.lshSig(col("embedding"), bits, seed + t * 0x51_7c_c1_b7L).as("sig"))): _*))
        .as("bk"))
    // score BEFORE deduping cross-table repeats: a distinct over pairs
    // with both embedding arrays attached would shuffle 2·dims floats
    // per candidate; scoring map-side and deduping (id_a, id_b, sim)
    // shuffles 24 bytes (a repeated pair re-scores its cosine k times —
    // compute is cheap, array shuffle is not). The FUSED kernel stays
    // here by measurement: carrying precomputed norms through
    // pairsFromBuckets costs one extra min_by window aggregate per
    // carried column on the banded frame, and recomputing norms per
    // candidate pair is flop-identical to the fused kernel anyway —
    // the split only pays off where one row scores MANY pairs
    // (bruteForce/cosinePairsAbove), not in bucketed candidate scoring.
    pairsFromBuckets(banded, maxBucket, extra = Seq("embedding"),
        distinctOutput = false)
      .withColumn("sim",
        round(VectorOps.cosineSim(col("embedding_a"), col("embedding_b")), 6))
      .filter(col("sim") >= threshold)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("sim"))
      .distinct()
  }

  /** Above this cap, [[pairsFromBuckets]] switches to the segmented
    * parallel expansion (an exhaustive-mode bucket can hold the whole
    * corpus — expanding it as one array would serialize the quadratic
    * stage on one task); at or below it, buckets are small and many,
    * and the zero-exchange single-array expansion wins.
    */
  private val parallelExpandThreshold = 1024

  /** Segment size of the parallel expansion: each work unit expands at
    * most segSize² pairs, so units spread evenly over task slots.
    */
  private val expandSegSize = 128

  /** Shared banded-pairing kernel, built around ONE shuffle of
    * (bk, doc_id, extra…) that every branch reuses — the candidate step
    * of [[lshPairsAbove]]:
    *
    *  - a window over `bk` computes each row's bucket size `n` and the
    *    bucket representative (min doc_id + its `extra` values);
    *  - buckets of size in (1, maxBucket]: `collect_list` per bucket —
    *    now PROVABLY bounded by the cap, so the array-explode pairwise
    *    expansion is safe (an uncapped version could
    *    materialize a whole degenerate bucket on one reducer) — and the
    *    group-by runs on the window's existing bk partitioning, adding
    *    no exchange;
    *  - buckets beyond the cap: star pairs (rep, member) by pure
    *    filter+project — linear, no join, no array.
    *
    * Both branches hang off the same Exchange(bk), which Spark's
    * exchange-reuse dedupes — the (expensive) signature computation
    * below it runs once, not once per branch. `extra` columns (e.g.
    * signatures/embeddings) ride along into the output as `<c>_a/<c>_b`.
    */
  private[operators] def pairsFromBuckets(banded: DataFrame, maxBucket: Int,
      extra: Seq[String] = Seq.empty,
      /** false → caller dedupes cross-band repeats itself; use when the
        * `extra` columns are wide (e.g. embeddings) and a distinct over
        * them would shuffle the payload — score first, dedupe scalars.
        */
      distinctOutput: Boolean = true): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bk"))
    val stat = extra.foldLeft(
      banded
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("rep", min(col("doc_id")).over(w))
        .filter(col("n") > 1)) { (df, c) =>
      df.withColumn(s"rep_$c", min_by(col(c), col("doc_id")).over(w))
    }
    val bucketArrs = stat.filter(col("n") <= maxBucket)
      .groupBy(col("bk"))
      .agg(sort_array(collect_list(struct(col("doc_id") +: extra.map(col): _*)))
        .as("ids"))
    val pairProj: Seq[Column] =
      col("p.a.doc_id").as("doc_a") +: col("p.b.doc_id").as("doc_b") +:
        extra.flatMap(c => Seq(col(s"p.a.$c").as(s"${c}_a"), col(s"p.b.$c").as(s"${c}_b")))
    val pairsSmall =
      if (maxBucket <= parallelExpandThreshold)
        // capped path (every production caller): buckets are provably
        // ≤ maxBucket members, the pairwise expansion is bounded and
        // runs on the window's existing bk partitioning — no extra
        // exchange, parallel across the many buckets
        bucketArrs
          .select(explode(expr(
            "flatten(transform(ids, (a, i) -> transform(slice(ids, i + 2, size(ids)), b -> struct(a, b))))"))
            .as("p"))
          .select(pairProj: _*)
      else {
        // UNCAPPED path (the exhaustive setting, e.g. lshPairsAbove's
        // bits=0 single all-pass bucket): one bucket holds the whole
        // corpus, so the single-array expansion above would build and
        // score all C(n,2) pairs IN ONE TASK — the quadratic stage
        // serializes on one core however many the cluster has. Split
        // each bucket's sorted array into fixed segments and emit one
        // WORK UNIT per segment pair (g1 ≤ g2, each carrying only its
        // two slices), exchange the units across the cluster (explicit
        // partition count: AQE would coalesce these few small-byte
        // rows back to one partition, defeating the point), then
        // expand per unit: positional i<j pairs within a segment, full
        // A×B across segments — exactly the global i<j pair set of the
        // sorted array, in ≤ segSize² chunks. Unit payload totals
        // O(n·nseg) bytes vs the O(n²) pair output — the exchange is
        // asymptotically free next to the expansion it parallelizes.
        val s = expandSegSize
        val nseg = s"cast(ceil(size(ids) / $s.0) as int)"
        val units = bucketArrs
          .select(col("bk"), explode(expr(
            s"""flatten(transform(sequence(0, $nseg - 1), g1 ->
               |  transform(sequence(g1, $nseg - 1), g2 -> struct(
               |    g1 as g1, g2 as g2,
               |    slice(ids, g1 * $s + 1, $s) as sa,
               |    slice(ids, g2 * $s + 1, $s) as sb))))""".stripMargin))
            .as("u"))
          .repartition(banded.sparkSession.sparkContext.defaultParallelism,
            col("bk"), col("u.g1"), col("u.g2"))
        units
          .select(explode(when(col("u.g1") === col("u.g2"),
            expr("flatten(transform(u.sa, (a, i) -> transform(slice(u.sa, i + 2, size(u.sa)), b -> struct(a, b))))"))
            .otherwise(
              expr("flatten(transform(u.sa, a -> transform(u.sb, b -> struct(a, b))))")))
            .as("p"))
          .select(pairProj: _*)
      }
    val pairsBig = stat.filter(col("n") > maxBucket && col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a") +: col("doc_id").as("doc_b") +:
        extra.flatMap(c => Seq(col(s"rep_$c").as(s"${c}_a"), col(c).as(s"${c}_b"))): _*)
    val outCols = Seq("doc_a", "doc_b") ++ extra.flatMap(c => Seq(s"${c}_a", s"${c}_b"))
    // doc_a =!= doc_b: a numeric-fold key collision between two bands
    // of the SAME doc (P ≈ C(bands,2)/2³¹ per doc — expected hits at
    // 10¹⁰ docs) puts that doc_id in one bucket twice, and the
    // slice-pairing would emit a (x, x) self-pair that `distinct` does
    // NOT remove and an `a.doc_id < b.doc_id` self-join never
    // produces. Struct-keyed callers (per-table LSH buckets) cannot
    // collide this way; the guard is here so every
    // caller is safe by construction.
    val unioned = pairsSmall.select(outCols.map(col): _*)
      .union(pairsBig.select(outCols.map(col): _*))
      .filter(col("doc_a") =!= col("doc_b"))
    if (distinctOutput) unioned.distinct() else unioned
  }

  /** Embedding-space label-outlier flagging: per-vector cosine to its
    * label's deterministic reference vector (the embedding of the
    * label's MIN vec_id), with an outlier flag below `threshold` — the
    * embedding-table curation gate ("is this example in the wrong
    * cluster / mislabeled / junk?") a training pipeline runs before
    * the expensive ANN passes.
    *
    * The reference is min-id, NOT a centroid, deliberately: a centroid
    * is a cross-row float SUM whose accumulation order differs between
    * engines (and between runs at different parallelism), so a
    * centroid-based flag is not reproducible — the min-id reference
    * keeps every similarity a pure two-vector function (ROUND-6
    * cosine) and the whole output oracle-exact. A reference
    * row scores 1.0 against itself and stays in the output.
    *
    * Plan: the per-label min-id census partial-aggregates map-side
    * (labels × partitions rows move); fetching the reference embeddings
    * is a broadcast-filter scan (no corpus shuffle), and the scoring
    * join broadcasts the tiny (label → reference) map — the corpus is
    * NEVER shuffled, so the operator is a map-side pass at any scale.
    * Output: `(vec_id, label, ref_vec_id, sim, is_outlier)`.
    */
  def labelOutliers(embeddings: DataFrame, threshold: Double = 0.5): DataFrame = {
    require(threshold > -1 && threshold <= 1,
      s"threshold must be in (-1, 1], got $threshold")
    // zero-norm vectors have no direction: they are unplaceable in
    // cosine space and DROP (the transcripts family's null doctrine) —
    // also the one input class where engines disagree (Spark's
    // CosineSim returns 0.0 on a zero norm, DuckDB's
    // list_cosine_similarity returns -1.0), so the filter is what
    // keeps the oracle mirror exact, on both the scored rows AND the
    // reference selection (a zero min-id vector would otherwise
    // poison its whole label)
    // native SqNorm (same left-to-right double accumulation as the
    // `aggregate` HOF it replaces — identical values, but codegen'd
    // instead of one interpreted lambda per element) serves BOTH the
    // zero-direction filter and the scoring denominator
    val e = embeddings
      .withColumn("_en", graft.functions.VectorOps.sqNorm(col("embedding")))
      .filter(col("_en") > 0)
      .select(col("vec_id"), col("label"), col("embedding"), col("_en"))
    val refIds = e.groupBy(col("label")).agg(min(col("vec_id")).as("ref_vec_id"))
    val refs = e
      .select(col("vec_id").as("ref_vec_id"), col("embedding").as("_ref"),
        col("_en").as("_refn"))
      .join(broadcast(refIds), Seq("ref_vec_id"))
    e.join(broadcast(refs), Seq("label"))
      .withColumn("sim", round(VectorOps.cosineFromParts(
        VectorOps.dotProduct(col("embedding"), col("_ref")),
        col("_en"), col("_refn")), 6))
      .select(col("vec_id"), col("label"), col("ref_vec_id"), col("sim"),
        (col("sim") < threshold).as("is_outlier"))
  }

  /** Embedding-space audit: per-DIMENSION health statistics for the
    * whole corpus — the QA pass an embedding pipeline runs before
    * trusting an encoder version (dead or constant dimensions mean a
    * truncated/buggy export; a shifted per-dim mean against last
    * snapshot's audit means the encoder changed under you; zero
    * inflation means padding leaked in).
    *
    * Float summation across rows is ORDER-DEPENDENT and engine
    * ordering is not reproducible, so the mean is computed from a
    * QUANTIZED integer sum: `floor(x·10⁶)` per value (float→double
    * widening is exact, the product and floor are identical IEEE ops
    * in both engines), summed as BIGINT — associative, deterministic,
    * oracle-exact; min/max/counts involve no arithmetic at all. The
    * 10⁻⁶ quantization bias is bounded by 1e-6 per value, below any
    * drift a dashboard would act on.
    *
    * Output per dim (0-based): `n`, `sum_q6` (quantized sum),
    * `mean_q` (ROUND-6 readout), exact `min_v`/`max_v`, `zero_n`,
    * `is_constant` (min == max — dead or collapsed dimension).
    *
    * Plan: posexplode map-side, ONE exchange of dims×partial rows
    * (fully decomposable aggregates, partial-aggregated before the
    * shuffle — at 10⁹ vectors × 1k dims the exchange carries
    * partitions×dims summary rows, never values).
    */
  def embeddingAudit(embeddings: DataFrame): DataFrame =
    embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "_x")))
      .select(col("dim"),
        floor(col("_x").cast("double") * lit(1000000.0)).cast("long").as("_q"),
        col("_x").cast("double").as("_xd"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("_q")).as("sum_q6"),
        min(col("_xd")).as("min_v"),
        max(col("_xd")).as("max_v"),
        count_if(col("_xd") === 0.0).as("zero_n"))
      .select(col("dim"), col("n"), col("sum_q6"),
        round((col("sum_q6").cast("double") / lit(1000000.0)) /
          col("n").cast("double"), 6).as("mean_q"),
        col("min_v"), col("max_v"), col("zero_n"),
        (col("min_v") === col("max_v")).as("is_constant"))
}
