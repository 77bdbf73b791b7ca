package perfbench

/** The little JSON the benchmark writes: its result line and its trace. */
sealed trait Json { def render: String }

object Json {
  final case class Str(s: String) extends Json {
    def render: String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').result()
    }
  }
  final case class Num(v: Double) extends Json {
    def render: String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
  }
  final case class Bool(v: Boolean) extends Json { def render: String = v.toString }
  case object Null extends Json { def render: String = "null" }
  final case class Arr(xs: Seq[Json]) extends Json {
    def render: String = xs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(kv: (String, Json)*) extends Json {
    def render: String = kv.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }
}
