package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across suites (getOrCreate) with the
  * engine's production confs: UTC, AQE on, local-sized shuffle
  * partitions.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  /** `body`'s result and the number of Spark jobs it started (jobs of
    * its own job group, so other threads' jobs never count). Listener
    * events arrive asynchronously: a marker job run afterwards, in its
    * own group, is awaited, and the bus delivers events in order.
    */
  def jobsStarted[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"probe-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      def inGroup[B](g: String)(f: => B): B = {
        sc.setJobGroup(g, g)
        try f finally sc.clearJobGroup()
      }
      val out = inGroup(group)(body)
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener never saw the marker job")
      (out, seen.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** Frames equal as multisets of rows (string-rendered for NaN safety). */
  def assertSameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
    val ca = a.columns.sorted
    val as = a.select(ca.head, ca.tail: _*).collect().map(_.toString).sorted
    val bs = b.select(ca.head, ca.tail: _*).collect().map(_.toString).sorted
    assert(as.length == bs.length, s"row counts differ: ${as.length} vs ${bs.length}")
    as.zip(bs).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i differs:\n  $x\n  $y")
    }
  }
}
