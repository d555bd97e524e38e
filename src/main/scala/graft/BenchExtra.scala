package graft

import org.apache.spark.sql.SparkSession

/** Focused benchmark runner — guide §1.4 noop-sink isolation for a
  * SUBSET of the declared queries, repeated. The driver contract lives
  * in [[Bench]] (frozen); this main exists so optimization work can
  * measure just the touched queries with per-query repetition (min and
  * median over reps) without paying a full 145-query suite pass per
  * data point, and without perturbing the frozen harness.
  *
  * Usage: `runMain graft.BenchExtra q09_gapfill_1h q44_gapfill_locf`
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32, master local[N]),
  *      SPARK_GRAFT_REPS (default 3).
  * Methodology matches Bench: same session conf, one uncounted warmup
  * of each query, then timed noop-sink reps with cache cleared between.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def force(name: String): Unit = {
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.sharedState.cacheManager.clearCache()
    }
    val out = names.map { name =>
      spark.sparkContext.setJobDescription(s"warmup $name")
      force(name) // uncounted warmup (codegen/JIT warm, Bench doctrine)
      val ts = (1 to reps).map { r =>
        spark.sparkContext.setJobDescription(s"$name rep $r")
        val t0 = System.nanoTime()
        force(name)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      // true median (even rep counts average the middle pair — the
      // upper-middle element alone would bias toward slow outliers)
      val med =
        if (ts.size % 2 == 1) ts(ts.size / 2)
        else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2.0
      System.err.println(f"[bench-extra] $name min=${ts.head}%.3f med=$med%.3f")
      name -> (ts.head, med)
    }
    val qs = out.map { case (k, (mn, md)) =>
      "\"" + k + "\":{\"min\":" + Bench.num(mn) + ",\"med\":" + Bench.num(md) + "}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"focus","reps":$reps,"queries":$qs,"sf":"$sfDir","cpus":$cpus}""")
    spark.stop()
  }
}
