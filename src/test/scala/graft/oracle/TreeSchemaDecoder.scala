package graft.oracle

import scala.collection.immutable.VectorMap

import graft.schema.Schema
import graft.schema.Schema._
import graft.util._

/** Schema decoding in two steps, JSON text to a `JValue` tree and the tree
  * to a [[Schema]] (reference: src/Ifrit/Semantic.purs:58-60, 362-400).
  * Kept as the oracle that `Schema.fromString`'s one-pass decoder is
  * checked against. A `\u` escape takes exactly four ASCII hex digits, as
  * in `Schema.fromString`. The recursion has no depth cap: inputs must stay
  * below `Schema.MaxDepth`.
  */
object TreeSchemaDecoder {

  def fromString(json: String): Either[String, Schema] =
    parse(json).flatMap(fromJson)

  def fromJson(json: JValue): Either[String, Schema] = json match {
    case JNull      => Left("can't decode null to schema")
    case JBool(_)   => Left("can't decode boolean to schema")
    case JNumber(_) => Left("can't decode number to schema")
    case JString(s) =>
      s match {
        case "string"  => Right(SString)
        case "number"  => Right(SNumber)
        case "boolean" => Right(SBoolean)
        case "null"    => Right(SNull)
        case other     => Left("unknown schema's type" + other)
      }
    case JArray(xs) =>
      if (xs.length != 1) Left("can't decode array: exactly one element is expected")
      else fromJson(xs.head).map(SArray(_))
    case JObject(fields) =>
      fields.foldLeft[Either[String, VectorMap[String, Schema]]](Right(VectorMap.empty)) {
        case (acc, (k, v)) => for { m <- acc; s <- fromJson(v) } yield m.updated(k, s)
      }.map(SObject(_))
  }

  def parse(input: String): Either[String, JValue] = {
    val p = new Parser(input)
    try {
      val v = p.parseValue()
      p.skipWs()
      if (p.pos != input.length) Left(s"unexpected trailing characters at ${p.pos}")
      else Right(v)
    } catch {
      case e: JsonError => Left(e.getMessage)
    }
  }

  private final class JsonError(msg: String) extends RuntimeException(msg)

  private final class Parser(s: String) {
    var pos = 0
    private def fail(msg: String): Nothing = throw new JsonError(s"$msg at position $pos")
    def skipWs(): Unit = while (pos < s.length && s.charAt(pos).isWhitespace) pos += 1
    private def expect(c: Char): Unit = {
      if (pos >= s.length || s.charAt(pos) != c) fail(s"expected '$c'")
      pos += 1
    }

    def parseValue(): JValue = {
      skipWs()
      if (pos >= s.length) fail("unexpected end of input")
      s.charAt(pos) match {
        case '{' => parseObject()
        case '[' => parseArray()
        case '"' => JString(parseString())
        case 't' => literal("true"); JBool(true)
        case 'f' => literal("false"); JBool(false)
        case 'n' => literal("null"); JNull
        case c if c == '-' || c.isDigit => parseNumber()
        case c => fail(s"unexpected character '$c'")
      }
    }

    private def literal(lit: String): Unit =
      if (s.regionMatches(pos, lit, 0, lit.length)) pos += lit.length
      else fail(s"invalid literal")

    private def parseObject(): JObject = {
      expect('{'); skipWs()
      var m = VectorMap.empty[String, JValue]
      if (pos < s.length && s.charAt(pos) == '}') { pos += 1; return JObject(m) }
      var done = false
      while (!done) {
        skipWs()
        val k = parseString()
        skipWs(); expect(':')
        val v = parseValue()
        m = m.updated(k, v)
        skipWs()
        if (pos < s.length && s.charAt(pos) == ',') pos += 1
        else { expect('}'); done = true }
      }
      JObject(m)
    }

    private def parseArray(): JArray = {
      expect('['); skipWs()
      val buf = Vector.newBuilder[JValue]
      if (pos < s.length && s.charAt(pos) == ']') { pos += 1; return JArray(buf.result()) }
      var done = false
      while (!done) {
        buf += parseValue()
        skipWs()
        if (pos < s.length && s.charAt(pos) == ',') pos += 1
        else { expect(']'); done = true }
      }
      JArray(buf.result())
    }

    private def isHex(c: Char): Boolean =
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

    private def parseString(): String = {
      expect('"')
      val sb = new StringBuilder
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
              val hex = s.substring(pos + 1, pos + 5)
              if (!hex.forall(isHex)) fail("bad unicode escape")
              sb.append(Integer.parseInt(hex, 16).toChar)
              pos += 4
            case c2 => fail(s"bad escape '\\$c2'")
          }
          pos += 1
        } else { sb.append(c); pos += 1 }
      }
      expect('"')
      sb.toString
    }

    private def parseNumber(): JNumber = {
      val start = pos
      if (pos < s.length && s.charAt(pos) == '-') pos += 1
      while (pos < s.length && (s.charAt(pos).isDigit || "+-.eE".indexOf(s.charAt(pos)) >= 0)) pos += 1
      try JNumber(BigDecimal(s.substring(start, pos)))
      catch { case _: NumberFormatException => fail("invalid number") }
    }
  }
}
