package graft.lexer

/** Tokenizer for the query dialect (reference: src/Ifrit/Lexer.purs).
  *
  * The reference lexes with an ordered chain of regex parsers applied at the
  * current offset (reference: src/Ifrit/Lexer.purs:38-51, 161-254). This is
  * a hand-written one-pass scanner with the same result on every input. At
  * each offset the alternatives are tried in the reference's order and the
  * first that matches wins: keyword, function, `NOT`, binary operator,
  * arithmetic operator (extensions only), boolean, number, string, word,
  * parenthesis, comma. Within the keywords, `ORDER BY` is tried before `OR`
  * and `ASC` before `AS`, but a keyword never has to end at a word boundary,
  * so `ORDERS` lexes as `OR` + `DERS` and `ASCII` as `ASC` + `II` ("OR is
  * included in ORDER BY, AS in ASC" — reference: src/Ifrit/Lexer.purs:176-177).
  * Whitespace is the set of Java regex `\s` (space, tab, line feed, vertical
  * tab, form feed, carriage return). The whitespace before and after a
  * token is folded into its span; its recorded position is the offset
  * *before* its leading whitespace.
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

  // Each alternative's literals in the reference's order (reference:
  // src/Ifrit/Lexer.purs:243-254), with the token each lexes to. Tokens that
  // carry no input text are shared.
  private val keywordAlts: Array[(String, Token)] = Array(
    "DISTINCT" -> Keyword.Distinct, "GROUP BY" -> Keyword.GroupBy,
    "ORDER BY" -> Keyword.OrderBy, "OFFSET" -> Keyword.Offset,
    "SELECT" -> Keyword.Select, "WHERE" -> Keyword.Where,
    "LIMIT" -> Keyword.Limit, "NULL" -> Keyword.Null, "FROM" -> Keyword.From,
    "AND" -> Keyword.And, "ASC" -> Keyword.Asc, "AS" -> Keyword.As,
    "OR" -> Keyword.Or, "DESC" -> Keyword.Desc,
  ).map { case (text, k) => text -> Token.Key(k) }
  private val functionAlts: Array[(String, Token)] = Array(
    "AVG" -> Funktion.Avg, "COUNT" -> Funktion.Count, "MAX" -> Funktion.Max,
    "MIN" -> Funktion.Min, "SUM" -> Funktion.Sum,
  ).map { case (text, f) => text -> Token.Fn(f) }
  // extensions mode adds the roadmap functions
  private val functionAltsX: Array[(String, Token)] =
    functionAlts ++ Array("STDDEV" -> Token.Fn(Funktion.Stddev), "MEDIAN" -> Token.Fn(Funktion.Median))
  private val binEq = Token.Bin(Binary.Eq); private val binNeq = Token.Bin(Binary.Neq)
  private val binLt = Token.Bin(Binary.Lt); private val binGt = Token.Bin(Binary.Gt)
  private val binLte = Token.Bin(Binary.Lte); private val binGte = Token.Bin(Binary.Gte)
  private val plus = Token.Arith("+"); private val minus = Token.Arith("-")
  private val slash = Token.Arith("/")
  private val boolTrue = Token.Bool(true); private val boolFalse = Token.Bool(false)

  // Java regex `\s`, without the UNICODE_CHARACTER_CLASS flag
  private def isSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') // tab, line feed, vertical tab, form feed, carriage return
  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
  // `[a-zA-Z0-9_.]`, the character set of words and strings
  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || isDigit(c) || c == '_' || c == '.'

  /** One pass over one input: `at(i)` returns the token that starts at
    * offset `i` and sets `end` to the offset after it, or returns null when
    * no alternative matches there.
    */
  private final class Scanner(s: String, extensions: Boolean) {
    var end = 0

    private def wordEnd(i: Int): Int = {
      var j = i
      while (j < s.length && isWordChar(s.charAt(j))) j += 1
      j
    }

    private def digitsEnd(i: Int): Int = {
      var j = i
      while (j < s.length && isDigit(s.charAt(j))) j += 1
      j
    }

    private def firstOf(alts: Array[(String, Token)], i: Int): Token = {
      var k = 0
      while (k < alts.length) {
        val text = alts(k)._1
        if (s.startsWith(text, i)) { end = i + text.length; return alts(k)._2 }
        k += 1
      }
      null
    }

    private def one(t: Token, i: Int): Token = { end = i + 1; t }

    // `[0-9]*\.?[0-9]+` as a backtracking regex matches it: a fraction only
    // when the dot has a digit after it, so "1." lexes as 1, then "."
    private def number(i: Int): Token = {
      val intEnd = digitsEnd(i)
      val fracEnd =
        if (intEnd < s.length && s.charAt(intEnd) == '.') digitsEnd(intEnd + 1) else intEnd + 1
      end = if (fracEnd > intEnd + 1) fracEnd else intEnd
      if (end > i) Token.Num(BigDecimal(s.substring(i, end))) else null
    }

    def at(i: Int): Token = {
      val c = s.charAt(i)
      var t: Token = null
      if (c >= 'A' && c <= 'Z') {
        t = firstOf(keywordAlts, i)
        if (t == null) t = firstOf(if (extensions) functionAltsX else functionAlts, i)
        if (t == null && s.startsWith("NOT", i)) { end = i + 3; t = Token.Not }
        if (t != null) return t
      }
      val next = if (i + 1 < s.length) s.charAt(i + 1) else '\u0000'
      c match {
        case '!' if next == '=' => end = i + 2; binNeq
        // parity mode lexes "<=" as Lt, then Eq, as the reference does
        case '<' if extensions && next == '=' => end = i + 2; binLte
        case '>' if extensions && next == '=' => end = i + 2; binGte
        case '=' => one(binEq, i)
        case '<' => one(binLt, i)
        case '>' => one(binGt, i)
        case '*' if extensions => one(Token.Star, i)
        case '+' if extensions => one(plus, i)
        case '-' if extensions => one(minus, i)
        case '/' if extensions => one(slash, i)
        case 't' if s.startsWith("true", i) => end = i + 4; boolTrue
        case 'f' if s.startsWith("false", i) => end = i + 5; boolFalse
        case '"' =>
          val close = wordEnd(i + 1)
          if (close > i + 1 && close < s.length && s.charAt(close) == '"') {
            end = close + 1
            Token.Str(s.substring(i + 1, close))
          } else null
        case '(' => one(Token.Open, i)
        case ')' => one(Token.Close, i)
        case ',' => one(Token.Comma, i)
        case _ if isDigit(c) || c == '.' =>
          t = number(i)
          if (t != null) t else { end = wordEnd(i); Token.Word(s.substring(i, end)) }
        case _ if isWordChar(c) => end = wordEnd(i); Token.Word(s.substring(i, end))
        case _ => null
      }
    }
  }

  /** Tokenize the whole input in one pass. Error string matches the
    * reference (reference: src/Ifrit/Lexer.purs:46-52, 348-352).
    */
  def tokenize(input: String, extensions: Boolean = false): Either[String, List[PosToken]] = {
    val scan = new Scanner(input, extensions)
    val out = List.newBuilder[PosToken]
    var pos = 0
    var done = false
    while (!done) {
      var i = pos
      while (i < input.length && isSpace(input.charAt(i))) i += 1
      val t = if (i < input.length) scan.at(i) else null
      if (t == null) done = true
      else {
        out += PosToken(pos, t)
        pos = scan.end
        while (pos < input.length && isSpace(input.charAt(pos))) pos += 1
      }
    }
    if (pos == input.length) Right((out += PosToken(pos, Token.EOF)).result())
    // PureScript `show` on a Char renders with single quotes.
    else Left(s"invalid token '${input.charAt(pos)}' at position $pos")
  }
}
