package graft.lexer

import java.util.regex.Pattern

/** Tokenizer for the query dialect (reference: src/Ifrit/Lexer.purs).
  *
  * The reference lexes with an ordered regex alternation applied at the
  * current offset; the first alternative that matches wins and whitespace is
  * folded into each token's span while the recorded position is the offset
  * *before* the leading whitespace (reference: src/Ifrit/Lexer.purs:38-51,
  * 161-254). We reproduce that exactly, including the documented
  * order-sensitivity ("OR is included in ORDER BY, AS in ASC" —
  * reference: src/Ifrit/Lexer.purs:176-177).
  */
object Lexer {

  sealed trait Keyword { def show: String }
  object Keyword {
    case object And extends Keyword { val show = "AND" }
    case object As extends Keyword { val show = "AS" }
    case object Asc extends Keyword { val show = "ASC" }
    case object Desc extends Keyword { val show = "DESC" }
    case object Distinct extends Keyword { val show = "DISTINCT" }
    case object From extends Keyword { val show = "FROM" }
    case object GroupBy extends Keyword { val show = "GROUP BY" }
    case object Limit extends Keyword { val show = "LIMIT" }
    case object Null extends Keyword { val show = "NULL" }
    case object Offset extends Keyword { val show = "OFFSET" }
    case object Or extends Keyword { val show = "OR" }
    case object OrderBy extends Keyword { val show = "ORDER BY" }
    case object Select extends Keyword { val show = "SELECT" }
    case object Where extends Keyword { val show = "WHERE" }
  }

  sealed trait Funktion { def show: String }
  object Funktion {
    case object Avg extends Funktion { val show = "AVG" }
    case object Count extends Funktion { val show = "COUNT" }
    case object Max extends Funktion { val show = "MAX" }
    case object Min extends Funktion { val show = "MIN" }
    case object Sum extends Funktion { val show = "SUM" }
    // extension functions (reference roadmap "augment projections &
    // aggregations functions") — lexed only with extensions = true
    case object Stddev extends Funktion { val show = "STDDEV" }
    case object Median extends Funktion { val show = "MEDIAN" }
  }

  /** In reference-parity mode Lte/Gte are never produced by the lexer;
    * they exist as rewrite targets for NOT push-down (reference:
    * src/Ifrit/Lexer.purs:96-103,190-195 — `<=`/`>=` are on the
    * reference's own roadmap, README.md:299-304). With `extensions =
    * true` the lexer emits them directly; the semantic and planner
    * layers always supported them (the NOT rewrite needed both).
    */
  sealed trait Binary { def show: String }
  object Binary {
    case object Eq extends Binary { val show = "=" }
    case object Neq extends Binary { val show = "!=" }
    case object Lt extends Binary { val show = "<" }
    case object Gt extends Binary { val show = ">" }
    case object Lte extends Binary { val show = "<=" }
    case object Gte extends Binary { val show = ">=" }
  }

  sealed trait Token { def show: String }
  object Token {
    final case class Key(k: Keyword) extends Token { def show = k.show }
    final case class Fn(f: Funktion) extends Token { def show = f.show }
    final case class Bin(op: Binary) extends Token { def show = op.show }
    case object Not extends Token { val show = "NOT" }
    final case class Word(value: String) extends Token { def show = value }
    final case class Str(value: String) extends Token { def show = "\"" + value + "\"" }
    final case class Bool(value: Boolean) extends Token { def show = value.toString }
    final case class Num(value: BigDecimal) extends Token { def show = Lexer.showDecimal(value) }
    case object Comma extends Token { val show = "," }
    case object Open extends Token { val show = "(" }
    case object Close extends Token { val show = ")" }
    // extension tokens (lexed only with extensions = true): `*` doubles as
    // the star projection and multiplication; `+ - /` are arithmetic only
    case object Star extends Token { val show = "*" }
    final case class Arith(op: String) extends Token { def show = op }
    case object EOF extends Token { val show = "EOF" }
  }

  final case class PosToken(pos: Int, token: Token)

  /** decimal.js-style rendering: no trailing zeros, no exponent for the
    * magnitudes the dialect admits.
    */
  def showDecimal(d: BigDecimal): String = {
    val bd = d.underlying.stripTrailingZeros
    if (bd.scale <= 0) bd.toBigInteger.toString else bd.toPlainString
  }

  // one alternative of a mode's pattern, with exactly one capturing group
  private def p(re: String) = "(?:" + re + ")"

  // Alternation order matches the reference parser chain
  // (reference: src/Ifrit/Lexer.purs:243-254).
  private val keywordP =
    p("(DISTINCT|GROUP BY|ORDER BY|OFFSET|SELECT|WHERE|LIMIT|NULL|FROM|WHERE|AND|ASC|AS|OR|DESC)")
  private val functionP = p("(AVG|COUNT|MAX|MIN|SUM)")
  // extensions mode adds the roadmap functions
  private val functionPx = p("(AVG|COUNT|MAX|MIN|SUM|STDDEV|MEDIAN)")
  private val unaryP    = p("(NOT)")
  private val binaryP   = p("(!=|=|<|>)")
  // extensions mode: <= and >= must come before < and > in the alternation
  // (first match wins); parity mode lexes "<=" as Lt, Eq and the parser
  // rejects it exactly as the reference does
  private val binaryPx  = p("(!=|<=|>=|=|<|>)")
  // extensions mode only: star / arithmetic operators (`-` cannot collide
  // with numberP, which never matches a leading minus)
  private val arithP    = p("(\\*|\\+|-|/)")
  private val booleanP  = p("(true|false)")
  private val numberP   = p("([0-9]*\\.?[0-9]+)")
  private val stringP   = p("\"([a-zA-Z0-9_.]+)\"")
  private val wordP     = p("([a-zA-Z0-9_.]+)")
  private val parenP    = p("(\\)|\\()")
  private val commaP    = p("(,)")

  private def keywordOf(s: String): Keyword = s match {
    case "AND" => Keyword.And;           case "AS" => Keyword.As
    case "ASC" => Keyword.Asc;           case "DESC" => Keyword.Desc
    case "DISTINCT" => Keyword.Distinct; case "FROM" => Keyword.From
    case "GROUP BY" => Keyword.GroupBy;  case "LIMIT" => Keyword.Limit
    case "NULL" => Keyword.Null;         case "OFFSET" => Keyword.Offset
    case "OR" => Keyword.Or;             case "ORDER BY" => Keyword.OrderBy
    case "SELECT" => Keyword.Select;     case "WHERE" => Keyword.Where
  }

  private def functionOf(s: String): Funktion = s match {
    case "AVG" => Funktion.Avg; case "COUNT" => Funktion.Count
    case "MAX" => Funktion.Max; case "MIN" => Funktion.Min
    case "SUM" => Funktion.Sum
    case "STDDEV" => Funktion.Stddev; case "MEDIAN" => Funktion.Median
  }

  private def buildTable(extensions: Boolean): List[(String, String => Token)] = List(
    keywordP  -> ((s: String) => Token.Key(keywordOf(s))),
    (if (extensions) functionPx else functionP) -> ((s: String) => Token.Fn(functionOf(s))),
    unaryP    -> ((_: String) => Token.Not),
    (if (extensions) binaryPx else binaryP) -> ((s: String) => Token.Bin(s match {
      case "!=" => Binary.Neq; case "=" => Binary.Eq
      case "<=" => Binary.Lte; case ">=" => Binary.Gte
      case "<"  => Binary.Lt;  case ">" => Binary.Gt
    })),
  ) ++ (if (extensions) List(
    arithP    -> ((s: String) => if (s == "*") Token.Star else Token.Arith(s)),
  ) else Nil) ++ List(
    booleanP  -> ((s: String) => Token.Bool(s == "true")),
    numberP   -> ((s: String) => Token.Num(BigDecimal(s))),
    stringP   -> ((s: String) => Token.Str(s)),
    wordP     -> ((s: String) => Token.Word(s)),
    parenP    -> ((s: String) => if (s == "(") Token.Open else Token.Close),
    commaP    -> ((_: String) => Token.Comma),
  )

  /** A mode's alternatives as one pattern, `\s*(?:A|B|…)\s*`: Java tries
    * them left to right, so the first that matches wins, as in the
    * reference's chain of parsers (none starts with whitespace, so each
    * sees the offset it would alone); the group that matched names the token.
    */
  private final class Table(alts: List[(String, String => Token)]) {
    val pattern: Pattern = Pattern.compile(alts.map(_._1).mkString("\\s*(?:", "|", ")\\s*"))
    val make: Array[String => Token] = alts.map(_._2).toArray
  }

  private val tableParity = new Table(buildTable(extensions = false))
  private val tableExt    = new Table(buildTable(extensions = true))

  /** Tokenize the whole input. Error string matches the reference
    * (reference: src/Ifrit/Lexer.purs:46-52, 348-352). Tokenize is the
    * compile hot path: one matcher per call, moved along the input with
    * `region`, one match attempt per token.
    */
  def tokenize(input: String, extensions: Boolean = false): Either[String, List[PosToken]] = {
    val table = if (extensions) tableExt else tableParity
    val m = table.pattern.matcher(input)
    val out = List.newBuilder[PosToken]
    var pos = 0
    while (m.region(pos, input.length).lookingAt()) {
      var g = 1
      while (m.start(g) < 0) g += 1
      out += PosToken(pos, table.make(g - 1)(m.group(g)))
      pos = m.end()
    }
    if (pos == input.length) Right((out += PosToken(pos, Token.EOF)).result())
    // PureScript `show` on a Char renders with single quotes.
    else Left(s"invalid token '${input.charAt(pos)}' at position $pos")
  }
}
