package graft.schema

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.types._

import graft.util.{JArray, JObject, JString, JValue}

/** Closed-world schema ADT mirroring the reference data model
  * (reference: src/Ifrit/Semantic.purs:35-41): a document is an object of
  * named fields; fields are primitives, nested objects, or arrays with a
  * single element schema. Any field not declared here is unreachable from a
  * query — this is the reference's query-scoping security gate
  * (reference: README.md:206-208).
  */
sealed trait Schema {
  /** JSON encoding, identical shape to the reference encoder
    * (reference: src/Ifrit/Semantic.purs:403-422).
    */
  def toJson: JValue = this match {
    case Schema.SObject(fields) => JObject(fields.map { case (k, v) => k -> v.toJson })
    case Schema.SArray(elem)    => JArray(Vector(elem.toJson))
    case Schema.SString         => JString("string")
    case Schema.SNumber         => JString("number")
    case Schema.SBoolean        => JString("boolean")
    case Schema.SNull           => JString("null")
  }

  /** Stringified JSON — the reference's Show instance, used verbatim inside
    * semantic error messages (reference: src/Ifrit/Semantic.purs:425-426).
    */
  def show: String = toJson.render
}

object Schema {
  final case class SObject(fields: VectorMap[String, Schema]) extends Schema
  final case class SArray(elem: Schema) extends Schema
  case object SString extends Schema
  case object SNumber extends Schema
  case object SBoolean extends Schema
  case object SNull extends Schema

  def obj(fields: (String, Schema)*): Schema = SObject(VectorMap(fields: _*))

  /** Deepest nesting of arrays and objects [[fromString]] decodes; deeper
    * input is a `Left` rather than a stack overflow, here or in the layers
    * that recurse over the schema.
    */
  val MaxDepth = 256

  /** Decode a schema from a JSON string (reference: src/Ifrit/Semantic.purs:58-60),
    * with the reference's error strings (reference: src/Ifrit/Semantic.purs:362-400).
    * A JSON syntax error anywhere wins over every decode error; decode errors
    * come in key order, and an array's length is checked before its element.
    * A repeated key keeps its first position and takes its last value.
    */
  def fromString(json: String): Either[String, Schema] =
    try new Decoder(json).document()
    catch { case e: SyntaxError => Left(e.getMessage) }

  private final class SyntaxError(msg: String)
      extends RuntimeException(msg, null, false, false)

  /** A value that parsed but does not decode to a schema. */
  private final class Bad(val msg: String)

  private val badNull = new Bad("can't decode null to schema")
  private val badBoolean = new Bad("can't decode boolean to schema")
  private val badNumber = new Bad("can't decode number to schema")
  private val badArray = new Bad("can't decode array: exactly one element is expected")

  /** One pass from JSON text to [[Schema]]: each value decodes to a `Schema`
    * or a [[Bad]]. A decode error is kept as a value, so parsing goes on and
    * a later syntax error still wins.
    */
  private final class Decoder(s: String) {
    private var pos = 0
    private var depth = 0

    private def fail(msg: String): Nothing = throw new SyntaxError(s"$msg at position $pos")

    private def skipWs(): Unit =
      while (pos < s.length && Character.isWhitespace(s.charAt(pos))) pos += 1

    private def expect(c: Char): Unit = {
      if (pos >= s.length || s.charAt(pos) != c) fail(s"expected '$c'")
      pos += 1
    }

    def document(): Either[String, Schema] = {
      val v = value()
      skipWs()
      if (pos != s.length) Left(s"unexpected trailing characters at $pos")
      else v match {
        case b: Bad    => Left(b.msg)
        case x: Schema => Right(x)
      }
    }

    // a Schema or a Bad
    private def value(): AnyRef = {
      skipWs()
      if (pos >= s.length) fail("unexpected end of input")
      s.charAt(pos) match {
        case '{' => obj()
        case '[' => array()
        case '"' => primitive(string())
        case 't' => literal("true"); badBoolean
        case 'f' => literal("false"); badBoolean
        case 'n' => literal("null"); badNull
        case c if c == '-' || c.isDigit => number(); badNumber
        case c => fail(s"unexpected character '$c'")
      }
    }

    // opens an array or an object: one level deeper
    private def open(c: Char): Unit = {
      if (depth == MaxDepth) fail(s"nesting deeper than $MaxDepth")
      depth += 1
      expect(c); skipWs()
    }

    private def literal(lit: String): Unit =
      if (s.startsWith(lit, pos)) pos += lit.length
      else fail("invalid literal")

    private def obj(): AnyRef = {
      open('{')
      var fields = VectorMap.empty[String, AnyRef]
      var anyBad = false
      if (pos < s.length && s.charAt(pos) == '}') pos += 1
      else {
        var done = false
        while (!done) {
          skipWs()
          val k = string()
          skipWs(); expect(':')
          val v = value()
          anyBad ||= v.isInstanceOf[Bad]
          fields = fields.updated(k, v)
          skipWs()
          if (pos < s.length && s.charAt(pos) == ',') pos += 1
          else { expect('}'); done = true }
        }
      }
      depth -= 1
      val bad = if (anyBad) fields.valuesIterator.find(_.isInstanceOf[Bad]) else None
      // with no Bad left, every value is a Schema
      bad.getOrElse(SObject(fields.asInstanceOf[VectorMap[String, Schema]]))
    }

    private def array(): AnyRef = {
      open('[')
      var n = 0
      var first: AnyRef = null
      if (pos < s.length && s.charAt(pos) == ']') pos += 1
      else {
        var done = false
        while (!done) {
          val v = value()
          if (n == 0) first = v
          n += 1
          skipWs()
          if (pos < s.length && s.charAt(pos) == ',') pos += 1
          else { expect(']'); done = true }
        }
      }
      depth -= 1
      if (n != 1) badArray
      else first match {
        case x: Schema => SArray(x)
        case b         => b
      }
    }

    // Bug-compatible: the reference misses a space in the last message
    // (reference: src/Ifrit/Semantic.purs:387-388).
    private def primitive(name: String): AnyRef = name match {
      case "string"  => SString
      case "number"  => SNumber
      case "boolean" => SBoolean
      case "null"    => SNull
      case other     => new Bad("unknown schema's type" + other)
    }

    private def string(): String = {
      expect('"')
      val start = pos
      while (pos < s.length && s.charAt(pos) != '"' && s.charAt(pos) != '\\') pos += 1
      if (pos < s.length && s.charAt(pos) == '"') { pos += 1; s.substring(start, pos - 1) }
      else escaped(start)
    }

    // the rest of a string that has an escape (or no closing quote)
    private def escaped(start: Int): String = {
      val sb = new java.lang.StringBuilder().append(s, start, pos)
      while (pos < s.length && s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          pos += 1
          if (pos >= s.length) fail("unterminated escape")
          s.charAt(pos) match {
            case '"'  => sb.append('"')
            case '\\' => sb.append('\\')
            case '/'  => sb.append('/')
            case 'b'  => sb.append('\b')
            case 'f'  => sb.append('\f')
            case 'n'  => sb.append('\n')
            case 'r'  => sb.append('\r')
            case 't'  => sb.append('\t')
            case 'u'  =>
              if (pos + 4 >= s.length) fail("bad unicode escape")
              var code = 0
              var k = 1
              while (k <= 4) {
                val d = hexDigit(s.charAt(pos + k))
                if (d < 0) fail("bad unicode escape")
                code = code * 16 + d
                k += 1
              }
              sb.append(code.toChar)
              pos += 4
            case c2 => fail(s"bad escape '\\$c2'")
          }
          pos += 1
        } else { sb.append(c); pos += 1 }
      }
      expect('"')
      sb.toString
    }

    private def hexDigit(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1

    // the number is parsed only to report a malformed one: a number never
    // decodes to a schema
    private def number(): Unit = {
      val start = pos
      if (pos < s.length && s.charAt(pos) == '-') pos += 1
      while (pos < s.length && (s.charAt(pos).isDigit || "+-.eE".indexOf(s.charAt(pos)) >= 0)) pos += 1
      try { new java.math.BigDecimal(s.substring(start, pos)); () }
      catch { case _: NumberFormatException => fail("invalid number") }
    }
  }

  /** Spark mapping: Number is uniformly DoubleType (the reference lexes
    * Decimal but emits doubles — reference: src/Ifrit/Driver/MongoDB.purs:452-453).
    */
  def toStructType(schema: Schema): StructType = schema match {
    case SObject(fields) =>
      StructType(fields.toSeq.map { case (k, v) => StructField(k, toDataType(v)) })
    case other =>
      throw new IllegalArgumentException(s"top-level schema must be an object, got ${other.show}")
  }

  def toDataType(schema: Schema): DataType = schema match {
    case SObject(fields) =>
      StructType(fields.toSeq.map { case (k, v) => StructField(k, toDataType(v)) })
    case SArray(elem) => ArrayType(toDataType(elem))
    case SString      => StringType
    case SNumber      => DoubleType
    case SBoolean     => BooleanType
    case SNull        => NullType
  }

  /** Derive a query schema from a Spark schema. All numeric physical types
    * (int/long/float/double/decimal) present as Number — the dialect has a
    * single numeric type. Fields whose type has no dialect equivalent
    * (timestamps, maps, binary, ...) are omitted: the closed world makes
    * them unreachable from queries rather than mistyped.
    */
  def fromStructType(st: StructType): Schema =
    SObject(VectorMap.from(st.fields.flatMap(f => fromDataType(f.dataType).map(f.name -> _))))

  private def fromDataType(dt: DataType): Option[Schema] = dt match {
    case st: StructType =>
      Some(SObject(VectorMap.from(st.fields.flatMap(f => fromDataType(f.dataType).map(f.name -> _)))))
    case ArrayType(elem, _) => fromDataType(elem).map(SArray(_))
    case StringType         => Some(SString)
    case BooleanType        => Some(SBoolean)
    case NullType           => Some(SNull)
    case _: NumericType     => Some(SNumber)
    case _                  => None
  }
}
