package perfbench

/** Minimal streaming JSON writer for the harness report (numbers keep all
  * their digits; strings are escaped). */
final class Json {
  private val sb = new StringBuilder
  private var needComma = false

  private def sep(): Unit = { if (needComma) sb.append(','); needComma = false }

  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def key(k: String): Unit = { sep(); str(k); sb.append(':') }

  def value(v: Any): Unit = {
    sep()
    v match {
      case s: String => str(s)
      case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n @ (_: Int | _: Long) => sb.append(n.toString)
      case b: Boolean => sb.append(b.toString)
      case other => str(other.toString)
    }
    needComma = true
  }

  def field(k: String, v: Any): Unit = { key(k); value(v) }

  def raw(json: String): Unit = { sep(); sb.append(json); needComma = true }

  def obj(body: => Unit): Unit = { sep(); sb.append('{'); body; sb.append('}'); needComma = true }

  def arr[A](xs: Iterable[A])(each: A => Unit): Unit = {
    sep(); sb.append('[')
    xs.foreach(each)
    sb.append(']'); needComma = true
  }

  def result(): String = sb.toString
}
