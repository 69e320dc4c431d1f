package graft.oracle

import java.util.Random

/** Seeded input generators for the differential checks of the lexer and the
  * schema decoder against their oracles ([[RegexLexer]],
  * [[TreeSchemaDecoder]]).
  */
object Fuzz {

  private def pick[A](r: Random, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.length))

  // whitespace inside and outside Java regex `\s`, and inside and outside
  // `Character.isWhitespace`
  private val spaces = Vector(" ", " ", "  ", "\t", "\n", "\r", "\f", "\u000b", "\u00a0", "\u2003", "\u001c")

  private val queryFragments = Vector(
    "SELECT", "FROM", "WHERE", "GROUP BY", "ORDER BY", "GROUP", "ORDER", "BY", "LIMIT", "OFFSET",
    "AND", "OR", "AS", "ASC", "DESC", "DISTINCT", "NULL", "NOT", "ORDERS", "ASCII", "ASCEND",
    "GROUP  BY", "ORDER\tBY", "NOTE", "select", "Select",
    "AVG", "COUNT", "MAX", "MIN", "SUM", "STDDEV", "MEDIAN", "MAXIMUM", "SUMS",
    "=", "!=", "<", ">", "<=", ">=", "!", "==", "=<", "*", "+", "-", "/", "--", "-1",
    "true", "false", "trues", "falsey", "True", "tru",
    "0", "1", "14", "1.", ".5", "1.2.3", "007", "1.14", ".42", "12ab", "0.0", "..", ".", "9.",
    "\"male\"", "\"a.b\"", "\"\"", "\"a b\"", "\"abc", "\"x_1\"", "\"", "\"1\"",
    "patate", "age", "spells.power", "a_b", "_x", "x.", "a1",
    "(", ")", ",", "((", "))", "(,)",
  )

  private def printable(r: Random): String = {
    val c = r.nextInt(20) match {
      case 0 => r.nextInt(0x80).toChar // any ASCII, control characters included
      case 1 => (0xa0 + r.nextInt(0x2f60)).toChar
      case _ => (0x20 + r.nextInt(0x5f)).toChar
    }
    c.toString
  }

  /** A query-shaped string: dialect fragments, whitespace and random
    * characters, joined with or without separators.
    */
  def query(r: Random): String = {
    val sb = new java.lang.StringBuilder
    val n = r.nextInt(12)
    var k = 0
    while (k < n) {
      r.nextInt(10) match {
        case 0     => sb.append(printable(r))
        case 1     => sb.append(pick(r, spaces))
        case _     => sb.append(pick(r, queryFragments))
      }
      if (r.nextInt(3) > 0) sb.append(if (r.nextInt(8) == 0) pick(r, spaces) else " ")
      k += 1
    }
    sb.toString
  }

  private val names = Vector("\"string\"", "\"number\"", "\"boolean\"", "\"null\"")
  private val oddStrings = Vector(
    "\"float\"", "\"\"", "\"String\"", "\"str\\u0069ng\"", "\"\\u006eull\"", "\"n\\u0075mber\"",
    "\"a\\\"b\"", "\"x\\\\y\"", "\"\\/\"", "\"\\b\\f\\n\\r\\t\"", "\"\\uD83D\\uDE00\"", "\"\\u00E9\"",
    "\"\\q\"", "\"\\u12\"", "\"\\uzzzz\"", "\"\\u+041\"", "\"\\u-041\"", "\"\\u00g1\"", "\"bool\u00e9an\"",
    "\"\\", "\"abc",
  )
  private val literals = Vector("true", "false", "null", "tru", "nul", "fals", "truex", "nulll")
  private val numbers = Vector(
    "14", "-1", "0", "1e5", "1.5e-3", "-0.0", "1E+2", "-", "1e", "1.2.3", "--1", "+1", ".5",
    "1e99999999999", "0x10", "1-2", "\u0663", "12\u0663",
  )
  private val keys = Vector("\"a\"", "\"b\"", "\"c\"", "\"age\"", "\"\\u0061\"", "\"a b\"", "\"\u00e9\"", "\"\"")

  private def ws(r: Random): String = if (r.nextInt(3) == 0) pick(r, spaces) else ""

  private def value(r: Random, sb: java.lang.StringBuilder, depth: Int): Unit = {
    sb.append(ws(r))
    val roll = if (depth <= 0) 2 + r.nextInt(8) else r.nextInt(10)
    roll match {
      case 0 =>
        sb.append('[')
        val n = r.nextInt(10) match { case 0 => 0; case 1 => 2; case 2 => 3; case _ => 1 }
        var k = 0
        while (k < n) { if (k > 0) sb.append(ws(r)).append(','); value(r, sb, depth - 1); k += 1 }
        sb.append(ws(r)).append(']')
      case 1 =>
        sb.append('{')
        val n = r.nextInt(5)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(ws(r)).append(',')
          sb.append(ws(r)).append(pick(r, keys)).append(ws(r)).append(':')
          value(r, sb, depth - 1)
          k += 1
        }
        sb.append(ws(r)).append('}')
      case 2 | 3 | 4 | 5 => sb.append(pick(r, names))
      case 6 => sb.append(pick(r, oddStrings))
      case 7 => sb.append(pick(r, literals))
      case 8 => sb.append(pick(r, numbers))
      case _ => sb.append(pick(r, names))
    }
    sb.append(ws(r))
  }

  private val jsonChars = "{}[]\":,\\u0123456789abcdefn-+.eE tnrfl"

  /** A schema-shaped JSON text, valid or mutated: duplicate keys, numbers,
    * literals, escapes, odd whitespace, and now and then nesting as deep as
    * `maxDepth`.
    */
  def schema(r: Random, maxDepth: Int): String = {
    val sb = new java.lang.StringBuilder
    if (r.nextInt(50) == 0) {
      // a deep chain of arrays or objects around one leaf
      val d = 1 + r.nextInt(maxDepth)
      val obj = r.nextBoolean()
      var k = 0
      while (k < d) { sb.append(if (obj) "{\"a\":" else "[").append(ws(r)); k += 1 }
      value(r, sb, 0)
      k = 0
      while (k < d) { sb.append(if (obj) '}' else ']'); k += 1 }
    } else value(r, sb, 1 + r.nextInt(4))
    // mutate about half of the texts
    val mutations = if (r.nextBoolean()) 0 else 1 + r.nextInt(3)
    var m = 0
    while (m < mutations && sb.length > 0) {
      val at = r.nextInt(sb.length)
      r.nextInt(4) match {
        case 0 => sb.deleteCharAt(at)
        case 1 => sb.insert(at, jsonChars.charAt(r.nextInt(jsonChars.length)))
        case 2 => sb.setCharAt(at, if (r.nextBoolean()) printable(r).charAt(0) else jsonChars.charAt(r.nextInt(jsonChars.length)))
        case _ => sb.setLength(at)
      }
      m += 1
    }
    sb.toString
  }
}
