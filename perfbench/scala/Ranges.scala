package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

/** The seeded stream of serving ranges. A pool of distinct ranges is
  * drawn once; queries then walk it in seeded orders, one pass after
  * another, the way dashboards repeat their panels. Every pass holds the
  * pool's exact class mix:
  *
  *  - `aligned` (70%): minute-aligned and inside closed days, so the
  *    stitch reads tier tables only;
  *  - `ragged` (15%): inside closed days with sub-minute ends, so the
  *    stitch also scans the raw edges;
  *  - `tail` (15%): crosses the warehouse's horizon, so the part past
  *    it is aggregated from raw.
  *
  * Every range lasts 1 h to 5 d.
  */
object Ranges {

  final case class Range(from: String, to: String, kind: String)

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val minMinutes = 60
  private val maxMinutes = 5 * 24 * 60

  /** `horizon`: first day the warehouse has not closed. */
  def pool(seed: Long, firstDay: LocalDate, horizon: LocalDate, lastDay: LocalDate,
      n: Int): Seq[Range] = {
    val rnd = new java.util.Random(seed ^ 0x5eedL)
    val first = firstDay.atStartOfDay
    val closedMinutes = java.time.Duration.between(first, horizon.atStartOfDay).toMinutes
    val afterHorizon = java.time.Duration.between(horizon.atStartOfDay,
      lastDay.plusDays(1).atStartOfDay).toMinutes
    def minutes(): Int = minMinutes + rnd.nextInt(maxMinutes - minMinutes + 1)
    def inClosed(len: Int): LocalDateTime =
      first.plusMinutes((rnd.nextDouble() * (closedMinutes - len)).toLong)
    def show(t: LocalDateTime) = t.format(fmt)
    (0 until n).map { i =>
      val len = minutes()
      val u = i.toDouble / n
      if (u < 0.70) {
        val from = inClosed(len)
        Range(show(from), show(from.plusMinutes(len)), "aligned")
      } else if (u < 0.85) {
        val from = inClosed(len + 1).plusSeconds(1 + rnd.nextInt(59))
        Range(show(from), show(from.plusMinutes(len - 1).plusSeconds(rnd.nextInt(60))), "ragged")
      } else {
        val to = horizon.atStartOfDay
          .plusMinutes(1 + (rnd.nextDouble() * math.min(len - 1, afterHorizon - 1)).toLong)
          .plusSeconds(rnd.nextInt(60))
        Range(show(to.minusMinutes(len)), show(to), "tail")
      }
    }
  }

  /** Seeded passes over a pool of `n` ranges, each in a new order. */
  def picks(seed: Long, n: Int): Iterator[Int] = {
    val rnd = new java.util.Random(seed ^ 0x9111L)
    Iterator.continually(scala.util.Random.javaRandomToRandom(rnd).shuffle((0 until n).toVector))
      .flatten
  }
}
