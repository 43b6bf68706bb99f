package graft.perfbench

/** Minimal streaming JSON writer for the benchmark JVM's result file. */
final class Json {
  private val sb = new StringBuilder("{")
  // One flag per open container: does it already hold a member?
  private var nonEmpty = List(false)

  private def sep(): Unit = {
    if (nonEmpty.head) sb += ','
    nonEmpty = true :: nonEmpty.tail
  }

  private def open(c: Char)(body: => Unit)(close: Char): Unit = {
    sb += c
    nonEmpty = false :: nonEmpty
    body
    nonEmpty = nonEmpty.tail
    sb += close
  }

  def field(k: String, v: String): Unit = { sep(); sb ++= Json.str(k) += ':' ++= Json.str(v) }
  def field(k: String, v: Long): Unit = { sep(); sb ++= Json.str(k) += ':' ++= v.toString }
  def field(k: String, v: Int): Unit = field(k, v.toLong)
  def field(k: String, v: Double): Unit = { sep(); sb ++= Json.str(k) += ':' ++= Json.num(v) }
  def field(k: String, v: Boolean): Unit = { sep(); sb ++= Json.str(k) += ':' ++= v.toString }
  def obj(k: String)(body: => Unit): Unit = { sep(); sb ++= Json.str(k) += ':'; open('{')(body)('}') }
  def arr(k: String)(body: => Unit): Unit = { sep(); sb ++= Json.str(k) += ':'; open('[')(body)(']') }
  def objItem(body: => Unit): Unit = { sep(); open('{')(body)('}') }
  def rawItem(json: String): Unit = { sep(); sb ++= json }
  def result: String = sb.toString + "}"
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** Full precision; NaN/∞ (never expected) become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
