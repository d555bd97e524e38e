package perfbench

import graft.jobs.RollupJob
import graft.model.Tier
import graft.retention.Retention
import graft.table.SnapshotTable
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** JVM side of the pipeline benchmark. `run.py` launches it with
  * `key=value` arguments; every result leaves as an [[Emit]] record.
  *
  * Modes:
  *  - `daily`: repeated daily cycles, each on a copy of a warehouse
  *    built in set-up;
  *  - `serve`: a closed loop of `stitchRangeServing` queries;
  *  - `trace`: the traced pass (see [[Traced]]).
  */
object Main {

  final case class Opts(args: Map[String, String]) {
    def apply(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k="))
    def int(k: String): Int = apply(k).toInt
    def data(table: String): String = s"${apply("data")}/$table"
    def work: String = apply("work")
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts(args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap)
    val spark = session(opts.int("cores"), opts.work)
    Emit.record("env", "java" -> System.getProperty("java.version"), "spark" -> spark.version)
    // several `+`-joined modes share one JVM (the smoke scale's run of
    // all three workloads); each one's records follow a `begin` record
    try opts("mode").split('+').foreach { m =>
      Emit.record("begin", "mode" -> m)
      m match {
        case "daily" => Workloads.daily(spark, opts)
        case "serve" => Workloads.serve(spark, opts)
        case "trace" => Traced.run(spark, opts)
        case _ => throw new IllegalArgumentException(s"unknown mode $m")
      }
    } finally spark.stop()
  }

  /** The session `RollupMain` builds for a local master, with every
    * scratch path inside the invocation's work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder().appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, seconds(t0))
  }

  /** CPU seconds the hypervisor has taken from this machine's CPUs since
    * boot (the `steal` column of /proc/stat, in 1/100 s), or 0 where the
    * kernel does not report it. Timed operations report the difference,
    * so a slow run can be told from a slow program.
    */
  def hostStealS(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8).fold(0.0)(_.toDouble / 100.0)
    finally src.close()
  }

  /** Seconds since this JVM was launched. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(
        throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def freshDir(work: String, name: String): String = {
    val p = Paths.get(work, name)
    deleteTree(p)
    p.toString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
      finally paths.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val paths = Files.walk(from)
    try paths.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally paths.close()
  }

  /** Bytes of every live file of the four tier tables. */
  def storedBytes(job: RollupJob): Long =
    (Tier.cascade.map(job.tierTable) :+ job.blocksTable(Tier.H1))
      .flatMap(_.currentManifest.toSeq.flatMap(_.files)).map(_.bytes).sum

  /** The tables `RollupMain --retention-watermark` expires, in its
    * order, with their horizon keys: every tier, then the blocks table.
    */
  def retentionTables(job: RollupJob): Seq[(String, SnapshotTable)] =
    Tier.cascade.map(t => t.name -> job.tierTable(t)) :+
      (Retention.blocksKey -> job.blocksTable(Tier.H1))

  /** The retention pass; returns the number of dropped partitions. */
  def retention(job: RollupJob, watermarkDay: String): Int =
    retentionTables(job).map { case (key, table) =>
      Retention.expire(table, key, watermarkDay, Retention.Policy()).size
    }.sum
}
