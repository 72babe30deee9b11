package perfbench

import scala.language.implicitConversions

/** Minimal JSON writer for the run record and the trace file, so the
  * harness relies on no library beyond Spark's public API.
  */
object Json {
  sealed trait V { def render: String }
  case object Null extends V { def render = "null" }
  final case class Num(d: Double) extends V {
    def render: String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
  }
  final case class Str(s: String) extends V {
    def render: String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case '\t' => b ++= "\\t"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
  }
  final case class Bool(b: Boolean) extends V { def render = b.toString }
  final case class Arr(xs: Seq[V]) extends V {
    def render: String = xs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(kv: Seq[(String, V)]) extends V {
    def render: String =
      kv.map { case (k, v) => Str(k).render + ":" + v.render }
        .mkString("{", ",", "}")
  }

  implicit def num(d: Double): V = Num(d)
  implicit def int(i: Int): V = Num(i.toDouble)
  implicit def long(l: Long): V = Num(l.toDouble)
  implicit def str(s: String): V = Str(s)
  implicit def bool(b: Boolean): V = Bool(b)

  def obj(kv: (String, V)*): V = Obj(kv)
  def arr(xs: Seq[V]): V = Arr(xs)
  def nums(m: Map[String, Double]): V =
    Obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Num(v) })
}
