package graftbench

/** Minimal JSON writer: an object built field by field. */
final class Json {
  private val fields = scala.collection.mutable.ArrayBuffer.empty[String]
  def raw(k: String, v: String): Unit = { fields += Json.str(k) + ":" + v; () }
  def num(k: String, v: Double): Unit = raw(k, Json.num(v))
  def arr(k: String, vs: Seq[String]): Unit = raw(k, vs.mkString("[", ",", "]"))
  def render: String = fields.mkString("{", ",", "}\n")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full precision; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}")

  def strMap(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + str(v) }.mkString("{", ",", "}")
}
