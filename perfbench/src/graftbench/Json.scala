package graftbench

/** The little JSON the benchmark needs: writing nested maps and lists of
  * numbers and strings, and reading a flat array of strings (a binlog
  * stream offset). */
object Json {

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The string elements of a JSON array such as `["a","b"]`; empty
    * for null or a non-array. */
  def stringArray(json: String): Seq[String] =
    if (json == null) Nil
    else "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(json)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
}
