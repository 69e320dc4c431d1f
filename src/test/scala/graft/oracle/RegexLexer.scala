package graft.oracle

import java.util.regex.Pattern

import graft.lexer.Lexer.{Binary, Funktion, Keyword, PosToken, Token}

/** The dialect lexer as an ordered regex alternation, the reference's own
  * formulation (reference: src/Ifrit/Lexer.purs:161-254): each mode's
  * alternatives compiled into one pattern `\s*(?:A|B|…)\s*`, which Java
  * tries left to right, so the first that matches wins. Kept as the oracle
  * that `graft.lexer.Lexer`'s hand-written scanner is checked against.
  */
object RegexLexer {

  private def p(re: String) = "(?:" + re + ")"

  private val keywordP =
    p("(DISTINCT|GROUP BY|ORDER BY|OFFSET|SELECT|WHERE|LIMIT|NULL|FROM|WHERE|AND|ASC|AS|OR|DESC)")
  private val functionP = p("(AVG|COUNT|MAX|MIN|SUM)")
  private val functionPx = p("(AVG|COUNT|MAX|MIN|SUM|STDDEV|MEDIAN)")
  private val unaryP    = p("(NOT)")
  private val binaryP   = p("(!=|=|<|>)")
  private val binaryPx  = p("(!=|<=|>=|=|<|>)")
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

  private final class Table(alts: List[(String, String => Token)]) {
    val pattern: Pattern = Pattern.compile(alts.map(_._1).mkString("\\s*(?:", "|", ")\\s*"))
    val make: Array[String => Token] = alts.map(_._2).toArray
  }

  private val tableParity = new Table(buildTable(extensions = false))
  private val tableExt    = new Table(buildTable(extensions = true))

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
    else Left(s"invalid token '${input.charAt(pos)}' at position $pos")
  }
}
