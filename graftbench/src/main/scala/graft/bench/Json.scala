package graft.bench

/** A minimal streaming JSON writer for the run's raw output (numbers,
  * strings, booleans, arrays and objects; nothing else is needed). */
final class Json {
  private val sb = new StringBuilder
  private var first = true

  private def sep(): Unit = { if (!first) sb += ','; first = false }

  def key(k: String): Unit = { sep(); quote(k); sb += ':'; first = true }
  def num(v: Double): Unit = {
    sep()
    sb ++= (if (v.isNaN || v.isInfinite) "null" else v.toString)
  }
  def str(v: String): Unit = { sep(); quote(v) }
  private def quote(v: String): Unit = {
    sb += '"'
    v.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
  def obj(body: => Unit): Unit = {
    sep(); sb += '{'; first = true; body; sb += '}'; first = false
  }
  def arr[T](xs: Iterable[T])(each: T => Unit): Unit = {
    sep(); sb += '['; first = true; xs.foreach(each); sb += ']'; first = false
  }

  def field(k: String, v: Double): Unit = { key(k); num(v) }
  def field(k: String, v: String): Unit = { key(k); str(v) }
  def field(k: String, v: Boolean): Unit = { key(k); sep(); sb ++= v.toString }
  def numMap(m: Map[String, Double]): Unit =
    obj { m.toSeq.sortBy(_._1).foreach { case (k, v) => field(k, v) } }

  def result: String = sb.result()
}
