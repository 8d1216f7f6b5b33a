package graftbench

/** Minimal JSON rendering for the result line, the trace dump and the
  * fixture expectations (no JSON library on the classpath is stable
  * across Spark versions, and the shapes here are flat). */
object Json {
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}"))
  def arr(vs: Seq[Any]): Raw = Raw(vs.map(render).mkString("[", ",", "]"))

  def render(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).s
    case s: Seq[_] => arr(s).s
    case null => "null"
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** Flat `{"k": number, ...}` parser for files this benchmark wrote. */
  def parseFlat(s: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*(\"[^\"]*\"|[-0-9.eE+]+|true|false)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
}
