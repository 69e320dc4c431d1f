package graft.util

import scala.collection.immutable.VectorMap

/** Minimal self-contained JSON model + printer.
  *
  * Used for encoding schemas (see graft.schema.Schema) and for emitting
  * small JSON payloads without depending on any external JSON library (the
  * build is offline; Spark's own shaded deps are not API). Object key order
  * is preserved (VectorMap) so that encoded schemas are deterministic,
  * mirroring the reference's use of insertion-ordered string maps
  * (reference: src/Ifrit/Semantic.purs:403-422).
  */
sealed trait JValue {
  def render: String = this match {
    case JNull          => "null"
    case JBool(b)       => if (b) "true" else "false"
    case JNumber(n)     =>
      val bd = n.underlying.stripTrailingZeros
      if (bd.scale <= 0) bd.toBigInteger.toString else bd.toPlainString
    case JString(s)     => Json.quote(s)
    case JArray(xs)     => xs.map(_.render).mkString("[", ",", "]")
    case JObject(kvs)   =>
      kvs.map { case (k, v) => Json.quote(k) + ":" + v.render }.mkString("{", ",", "}")
  }
}
case object JNull extends JValue
final case class JBool(value: Boolean) extends JValue
final case class JNumber(value: BigDecimal) extends JValue
final case class JString(value: String) extends JValue
final case class JArray(values: Vector[JValue]) extends JValue
final case class JObject(fields: VectorMap[String, JValue]) extends JValue

object Json {

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
