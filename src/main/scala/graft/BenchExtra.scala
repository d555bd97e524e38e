package graft

import com.fasterxml.jackson.databind.node.ObjectNode

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
  * Methodology matches Bench, whose session and noop-sink `force` it
  * uses: one uncounted warmup of each query, then timed noop-sink reps
  * with cache cleared between. Running it under SPARK_GRAFT_CPUS=N and
  * =4N gives a per-query scaling pair.
  */
object BenchExtra {

  /** The run's JSON line: per query, the min and median rep seconds. */
  private[graft] def jsonLine(reps: Int, queries: Seq[(String, (Double, Double))],
      sfDir: String, cpus: String): String = {
    val o = Json.mapper.createObjectNode().put("metric", "focus").put("reps", reps)
    val qs = o.putObject("queries")
    queries.foreach { case (k, (mn, md)) =>
      qs.putObject(k).set[ObjectNode]("min", Bench.num(mn))
        .set[ObjectNode]("med", Bench.num(md))
    }
    Json.mapper.writeValueAsString(o.put("sf", sfDir).put("cpus", cpus.toInt))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Bench.session("graft-bench-extra", cpus)
    def force(name: String): Unit = Bench.force(SparkEntry.queries(name)(spark, sfDir))
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
    println(jsonLine(reps, out, sfDir, cpus))
    spark.stop()
  }
}
