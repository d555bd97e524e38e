package perfbench

import java.util.Locale

/** The one JSON emitter on the JVM side of the benchmark. Each record
  * is a single `PERFBENCH {...}` line on stdout, which `run.py` parses;
  * Spark's own logging goes to stderr. Doubles are formatted with
  * `Locale.ROOT`, so a comma-decimal default locale cannot corrupt a
  * record.
  */
object Emit {

  def record(kind: String, fields: (String, Any)*): Unit = {
    val line = "PERFBENCH " + obj(("kind" -> kind) +: fields)
    System.out.println(line)
    System.out.flush()
  }

  private def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else String.format(Locale.ROOT, "%.9g", Double.box(d))
    case s: String => quote(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => b += c
    }
    (b += '"').toString
  }
}
