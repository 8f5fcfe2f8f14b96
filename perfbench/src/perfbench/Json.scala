package perfbench

/** Minimal JSON rendering for the run's raw output (numbers in Locale.ROOT,
  * full precision). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null            => "null"
    case s: String       => str(s)
    case b: Boolean      => b.toString
    case d: Double       => num(d)
    case n: Int          => n.toString
    case n: Long         => n.toString
    case m: Map[_, _]    => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_]  => s.map(value).mkString("[", ", ", "]")
    case Raw(j)          => j
    case other           => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  /** Pre-rendered JSON embedded verbatim. */
  final case class Raw(json: String)
}
