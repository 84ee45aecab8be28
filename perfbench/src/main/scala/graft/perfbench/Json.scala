package graft.perfbench

import java.util.Locale

/** Minimal JSON writer for the benchmark's machine-read output. Numbers
  * never go through the default locale: a decimal-comma locale would
  * otherwise print `1,5` and break every consumer. */
object Json {
  sealed trait Value
  final case class Num(v: Double) extends Value
  final case class Str(v: String) extends Value
  final case class Bool(v: Boolean) extends Value
  final case class Arr(vs: Seq[Value]) extends Value
  final case class Obj(fields: Seq[(String, Value)]) extends Value

  def obj(fields: (String, Value)*): Obj = Obj(fields)

  /** Shortest decimal that reads back as the same double, without an
    * exponent; whole numbers print without a fraction. */
  def number(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite number $v has no JSON form")
    if (v == math.rint(v) && math.abs(v) < 1e15) java.lang.Long.toString(v.toLong)
    else java.math.BigDecimal.valueOf(v).toPlainString
  }

  /** Fixed-point text for human-read tables, in the root locale. */
  def fixed(v: Double, digits: Int): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(v))

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  }.mkString("\"", "", "\"")

  def render(v: Value): String = v match {
    case Num(d) => number(d)
    case Str(s) => quote(s)
    case Bool(b) => b.toString
    case Arr(vs) => vs.map(render).mkString("[", ",", "]")
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
  }
}
