package perfbench

/** Minimal JSON tree and renderer for the harness's result files. */
object Json {
  sealed trait V
  final case class Str(s: String) extends V
  final case class Num(d: Double) extends V
  final case class Bool(b: Boolean) extends V
  case object Nul extends V
  final case class Arr(xs: Seq[V]) extends V
  final case class Obj(kv: Seq[(String, V)]) extends V

  def str(s: String): V = Str(s)
  def num(d: Double): V = Num(d)
  def bool(b: Boolean): V = Bool(b)
  val nul: V = Nul
  def arr(xs: Seq[V]): V = Arr(xs)
  def obj(kv: (String, V)*): V = Obj(kv)

  def render(v: V): String = v match {
    case Str(s) => quote(s)
    case Num(d) => if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    case Bool(b) => b.toString
    case Nul => "null"
    case Arr(xs) => xs.map(render).mkString("[", ",", "]")
    case Obj(kv) => kv.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
