package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Spans around calls into the engine, kept in memory.
  *
  * Each span has a name, a start, an end and the span open around it.
  * A listener attaches Spark's task counters to the innermost open span:
  * the span id travels as a local property into each stage's properties,
  * and each finished task adds its counters to that stage's span.
  */
final class Tracer(spark: SparkSession) {

  final class Counters {
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputBytes = 0L
    /** Task durations (ms) per stage, for the skew ratio. */
    val taskMs = scala.collection.mutable.Map[Int, ArrayBuffer[Long]]()

    def add(c: Counters): Unit = {
      cpuNs += c.cpuNs; gcMs += c.gcMs; shuffleWrite += c.shuffleWrite
      spill += c.spill; inputBytes += c.inputBytes
      c.taskMs.foreach { case (stage, ms) => taskMs.getOrElseUpdate(stage, ArrayBuffer()) ++= ms }
    }
  }

  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long = -1L) {
    def seconds: Double = (end - start) / 1e9
  }

  private val key = "perfbench.span"
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val counters = new ConcurrentHashMap[Int, Counters]()

  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(id =>
        stageSpan.put(e.stageInfo.stageId, id.toInt))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).filter(_ => e.taskMetrics != null).foreach { id =>
        val m = e.taskMetrics
        val c = counters.computeIfAbsent(id, _ => new Counters)
        c.synchronized {
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer()) += e.taskInfo.duration
        }
      }
  }
  spark.sparkContext.addSparkListener(listener)

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, open.headOption.getOrElse(-1), name, System.nanoTime())
    spans += s
    open = s.id :: open
    spark.sparkContext.setLocalProperty(key, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      spark.sparkContext.setLocalProperty(key, open.headOption.map(_.toString).orNull)
    }
  }

  /** Wait until every task event has reached the listener, then stop listening. */
  def close(): Unit = {
    org.apache.spark.perfbench.SparkBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** The outermost span called `name`. */
  def root(name: String): Span = spans.find(s => s.name == name && s.parent == -1).getOrElse(
    throw new IllegalStateException(s"no root span $name"))

  /** Spans called `name` under `root`. */
  def named(name: String, root: Span): Seq[Span] =
    spans.filter(s => s.name == name && within(s, root)).toSeq

  /** Duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double = s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  private def within(s: Span, root: Span): Boolean =
    s.id == root.id || (s.parent >= 0 && within(spans(s.parent), root))

  /** Counters of `of` and every span under them. */
  def counters(of: Seq[Span]): Counters = {
    val sum = new Counters
    spans.filter(x => of.exists(within(x, _))).flatMap(x => Option(counters.get(x.id)))
      .foreach(c => c.synchronized(sum.add(c)))
    sum
  }

  /** Largest max/median task time over the stages with 2+ tasks. */
  def skew(c: Counters): Double = {
    val ratios = c.taskMs.values.filter(_.size >= 2).map { ms =>
      val s = ms.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
