package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.lexer.Lexer
import graft.lexer.Lexer._

/** Port of the reference lexer suite (reference: test/Test.Main.purs:48-171). */
class LexerSpec extends AnyFunSuite {

  private def toks(s: String): List[Token] =
    Lexer.tokenize(s).fold(e => fail(e), _.map(_.token))

  test("SELECT patate") {
    assert(toks("SELECT patate") == List(
      Token.Key(Keyword.Select), Token.Word("patate"), Token.EOF))
  }

  test("SELECT p1, p2 AS alias") {
    assert(toks("SELECT p1, p2 AS alias") == List(
      Token.Key(Keyword.Select), Token.Word("p1"), Token.Comma,
      Token.Word("p2"), Token.Key(Keyword.As), Token.Word("alias"), Token.EOF))
  }

  test("WHERE ? = patate → invalid token") {
    assert(Lexer.tokenize("WHERE ? = patate") == Left("invalid token '?' at position 6"))
  }

  test("FROM AVG(patate) > 14 OR .42 != 1.14") {
    assert(toks("FROM AVG(patate) > 14 OR .42 != 1.14") == List(
      Token.Key(Keyword.From), Token.Fn(Funktion.Avg), Token.Open,
      Token.Word("patate"), Token.Close, Token.Bin(Binary.Gt),
      Token.Num(BigDecimal("14")), Token.Key(Keyword.Or),
      Token.Num(BigDecimal("0.42")), Token.Bin(Binary.Neq),
      Token.Num(BigDecimal("1.14")), Token.EOF))
  }

  test("keyword order: ORDER BY lexes as one keyword, OR alone as another") {
    assert(toks("ORDER BY x OR y") == List(
      Token.Key(Keyword.OrderBy), Token.Word("x"), Token.Key(Keyword.Or),
      Token.Word("y"), Token.EOF))
  }

  test("GROUP BY NULL") {
    assert(toks("GROUP BY NULL") == List(
      Token.Key(Keyword.GroupBy), Token.Key(Keyword.Null), Token.EOF))
  }

  test("string literal with restricted charset") {
    assert(toks("WHERE gender = \"male\"") == List(
      Token.Key(Keyword.Where), Token.Word("gender"), Token.Bin(Binary.Eq),
      Token.Str("male"), Token.EOF))
  }

  test("booleans") {
    assert(toks("WHERE bad_guy = true OR nice = false") == List(
      Token.Key(Keyword.Where), Token.Word("bad_guy"), Token.Bin(Binary.Eq),
      Token.Bool(true), Token.Key(Keyword.Or), Token.Word("nice"),
      Token.Bin(Binary.Eq), Token.Bool(false), Token.EOF))
  }

  test("dotted path word") {
    assert(toks("SELECT details.biographical.age") == List(
      Token.Key(Keyword.Select), Token.Word("details.biographical.age"), Token.EOF))
  }

  test("NOT unary") {
    assert(toks("WHERE NOT(ok)") == List(
      Token.Key(Keyword.Where), Token.Not, Token.Open, Token.Word("ok"),
      Token.Close, Token.EOF))
  }

  test("positions: trailing whitespace folds into the previous token's span") {
    val ts = Lexer.tokenize("SELECT  a").fold(e => fail(e), identity)
    assert(ts.map(_.pos) == List(0, 8, 9))
  }

  test("parity: <= lexes as Lt then Eq (reference never lexes Lte/Gte)") {
    assert(toks("WHERE x <= 1") == List(
      Token.Key(Keyword.Where), Token.Word("x"), Token.Bin(Binary.Lt),
      Token.Bin(Binary.Eq), Token.Num(BigDecimal("1")), Token.EOF))
    assert(toks("WHERE x >= 1") == List(
      Token.Key(Keyword.Where), Token.Word("x"), Token.Bin(Binary.Gt),
      Token.Bin(Binary.Eq), Token.Num(BigDecimal("1")), Token.EOF))
  }

  test("extensions: <= and >= lex as single Lte/Gte tokens") {
    def toksExt(s: String): List[Token] =
      Lexer.tokenize(s, extensions = true).fold(e => fail(e), _.map(_.token))
    assert(toksExt("WHERE x <= 1") == List(
      Token.Key(Keyword.Where), Token.Word("x"), Token.Bin(Binary.Lte),
      Token.Num(BigDecimal("1")), Token.EOF))
    assert(toksExt("WHERE x >= 1") == List(
      Token.Key(Keyword.Where), Token.Word("x"), Token.Bin(Binary.Gte),
      Token.Num(BigDecimal("1")), Token.EOF))
    // plain < and > are unaffected by the extended alternation
    assert(toksExt("WHERE x < 1") == List(
      Token.Key(Keyword.Where), Token.Word("x"), Token.Bin(Binary.Lt),
      Token.Num(BigDecimal("1")), Token.EOF))
  }

  test("scanner order: a keyword needs no word boundary; a number takes a fraction only with a digit after the dot") {
    assert(toks("ASCII ORDERS") == List(
      Token.Key(Keyword.Asc), Token.Word("II"), Token.Key(Keyword.Or), Token.Word("DERS"), Token.EOF))
    assert(toks("1. .5 1.2.3") == List(
      Token.Num(BigDecimal("1")), Token.Word("."), Token.Num(BigDecimal("0.5")),
      Token.Num(BigDecimal("1.2")), Token.Num(BigDecimal("0.3")), Token.EOF))
    assert(toks("truex 12ab") == List(
      Token.Bool(true), Token.Word("x"), Token.Num(BigDecimal("12")), Token.Word("ab"), Token.EOF))
  }

  test("whitespace is the Java regex \\s set; other spaces are invalid tokens") {
    val ts = Lexer.tokenize("\u000bSELECT\f\ra\t").fold(e => fail(e), identity)
    assert(ts.map(_.pos) == List(0, 9, 11))
    assert(Lexer.tokenize("SELECT\u00a0a") == Left("invalid token '\u00a0' at position 6"))
    assert(Lexer.tokenize("  ") == Left("invalid token ' ' at position 0"))
    assert(Lexer.tokenize("") == Right(List(PosToken(0, Token.EOF))))
  }
}
