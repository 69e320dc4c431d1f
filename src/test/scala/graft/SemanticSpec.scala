package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.lexer.Lexer
import graft.parser.Parser
import graft.schema.Schema
import graft.semantic.Semantic

/** Port of the reference semantic suite (reference: test/Test.Main.purs:973-1450):
  * exact error strings and inferred output schemas.
  */
class SemanticSpec extends AnyFunSuite {

  private def analyze(schemaJson: String, query: String): Either[String, Schema] =
    for {
      schema <- Schema.fromString(schemaJson)
      tokens <- Lexer.tokenize(query)
      ast <- Parser.statement(tokens).map(_._1)
      out <- Semantic.analyze(schema, ast)
    } yield out

  private def analyzeShow(schemaJson: String, query: String): Either[String, String] =
    analyze(schemaJson, query).map(_.show)

  test("unknown field in GROUP BY") {
    assert(analyze("""{"autruche": "number"}""", "SELECT autruche GROUP BY patate") ==
      Left("unexisting field 'patate' in GROUP BY expression"))
  }

  test("unknown field in WHERE") {
    assert(analyze("""{"autruche": "number"}""", "SELECT autruche WHERE patate > 14") ==
      Left("unexisting field 'patate' in WHERE expression"))
  }

  test("unknown field in SELECT") {
    assert(analyze("""{"autruche": "number"}""", "SELECT patate") ==
      Left("unexisting field 'patate' in SELECT expression"))
  }

  test("unknown field in ORDER BY") {
    assert(analyze("""{"autruche": "number"}""", "SELECT autruche ORDER BY patate") ==
      Left("unexisting field 'patate' in ORDER BY expression"))
  }

  test("Lt type mismatch: number vs string") {
    assert(analyze("""{"autruche": "number"}""", "SELECT autruche WHERE autruche < \"patate\"") ==
      Left("incompatible types \"number\", \"string\" with binary operator <"))
  }

  test("Lt on booleans rejected") {
    assert(analyze("""{"autruche": "boolean"}""", "SELECT autruche WHERE autruche < true") ==
      Left("incompatible types \"boolean\", \"boolean\" with binary operator <"))
  }

  test("Neq type mismatch: string vs number") {
    assert(analyze("""{"autruche": "string"}""", "SELECT autruche WHERE autruche != 14") ==
      Left("incompatible types \"string\", \"number\" with binary operator !="))
  }

  test("Eq against NULL always well-typed") {
    assert(analyze("""{"autruche": "string"}""", "SELECT autruche WHERE autruche = NULL").isRight)
  }

  test("NOT requires boolean operand") {
    assert(analyze("""{"autruche": "number"}""", "SELECT autruche WHERE NOT(autruche)") ==
      Left("incompatible type \"number\" with unary operator NOT"))
  }

  test("_id is reserved in aggregations (bare)") {
    assert(analyze("""{"_id": "number", "x": "number"}""", "SELECT _id GROUP BY x") ==
      Left("reserved field's name '_id'"))
  }

  test("_id is reserved in aggregations (alias)") {
    assert(analyze("""{"x": "number"}""", "SELECT x AS _id GROUP BY x") ==
      Left("reserved field's name '_id'"))
  }

  test("AVG projection on non-array") {
    assert(analyze("""{"autruche": "string"}""", "SELECT AVG(autruche)") ==
      Left("incompatible type \"string\" with function AVG"))
  }

  test("COUNT projection on non-array") {
    assert(analyze("""{"autruche": "number"}""", "SELECT COUNT(autruche)") ==
      Left("incompatible type \"number\" with function COUNT"))
  }

  test("grouped COUNT output schema keyed by argument name") {
    assert(analyzeShow("""{"age": "number", "name": "string"}""", "SELECT COUNT(age) GROUP BY name") ==
      Right("""{"age":"number","_id":"string"}"""))
  }

  test("grouped plain selector collects into array") {
    assert(analyzeShow("""{"age": "number", "name": "string"}""", "SELECT age GROUP BY name") ==
      Right("""{"age":["number"],"_id":"string"}"""))
  }

  test("GROUP BY NULL yields null _id") {
    assert(analyzeShow("""{"age": "number"}""", "SELECT AVG(age) GROUP BY NULL") ==
      Right("""{"age":"number","_id":"null"}"""))
  }

  test("dotted path alias sanitization") {
    val schema =
      """{"details": {"biographical": {"age": "number"}, "physical": {"height": "number"}}}"""
    assert(analyzeShow(schema, "SELECT details.biographical.age") ==
      Right("""{"details_biographical_age":"number"}"""))
  }

  test("array-of-objects reduction output schema") {
    val schema = """{"spells": [{"name": "string", "power": "number"}]}"""
    assert(analyzeShow(schema, "SELECT MAX(spells.power)") ==
      Right("""{"spells_power":"number"}"""))
    assert(analyzeShow(schema, "SELECT COUNT(spells)") ==
      Right("""{"spells":"number"}"""))
  }

  test("dotted path inside array element structs") {
    val schema = """{"spells": [{"power": {"normal": "number", "super": "number"}}]}"""
    assert(analyzeShow(schema, "SELECT SUM(spells.power.normal)") ==
      Right("""{"spells_power_normal":"number"}"""))
  }

  test("derived table output schema feeds outer query") {
    val schema = """{"a": "number", "b": "string"}"""
    assert(analyzeShow(schema, "SELECT c FROM (SELECT a AS c)") == Right("""{"c":"number"}"""))
    assert(analyze(schema, "SELECT a FROM (SELECT a AS c)") ==
      Left("unexisting field 'a' in SELECT expression"))
  }

  test("schema decode rejections") {
    assert(Schema.fromString("14") == Left("can't decode number to schema"))
    assert(Schema.fromString("true") == Left("can't decode boolean to schema"))
    assert(Schema.fromString("null") == Left("can't decode null to schema"))
    assert(Schema.fromString("""{"a": ["number", "string"]}""") ==
      Left("can't decode array: exactly one element is expected"))
    assert(Schema.fromString("""{"a": "float"}""") == Left("unknown schema's typefloat"))
    // a backslash-u escape takes exactly four ASCII hex digits: non-hex digits and a
    // sign are rejected, not thrown (NumberFormatException) or accepted
    assert(Schema.fromString("\"\\uzzzz\"") == Left("bad unicode escape at position 2"))
    assert(Schema.fromString("\"\\u+041\"") == Left("bad unicode escape at position 2"))
    assert(Schema.fromString("\"\\u-041\"") == Left("bad unicode escape at position 2"))
    assert(Schema.fromString("{\"a\": \"\\u006eumber\"}").map(_.show) == Right("""{"a":"number"}"""))
  }

  test("schema decode precedence: syntax over decode errors, key order, duplicate keys") {
    // a syntax error anywhere beats a decode error before it
    assert(Schema.fromString("""{"a": 14, "b": "number",}""") == Left("expected '\"' at position 24"))
    assert(Schema.fromString("""["float"] x""") == Left("unexpected trailing characters at 10"))
    // decode errors come in key order
    assert(Schema.fromString("""{"a": "float", "b": true}""") == Left("unknown schema's typefloat"))
    // a repeated key keeps its first position and takes its last value
    assert(Schema.fromString("""{"a": 5, "a": "number"}""").map(_.show) == Right("""{"a":"number"}"""))
    assert(Schema.fromString("""{"a": "number", "b": "string", "a": "boolean"}""").map(_.show) ==
      Right("""{"a":"boolean","b":"string"}"""))
    assert(Schema.fromString("""{"a": "float", "b": 5, "a": "number"}""") ==
      Left("can't decode number to schema"))
    // an array's length is checked before its element is decoded
    assert(Schema.fromString("""{"a": ["float", "number"]}""") ==
      Left("can't decode array: exactly one element is expected"))
    assert(Schema.fromString("""{"a": ["float"]}""") == Left("unknown schema's typefloat"))
  }

  private def analyzeExt(schemaJson: String, query: String): Either[String, Schema] =
    for {
      schema <- Schema.fromString(schemaJson)
      tokens <- Lexer.tokenize(query, extensions = true)
      ast <- Parser.statement(tokens, extensions = true).map(_._1)
      out <- Semantic.analyze(schema, ast)
    } yield out

  test("extensions: SELECT * expands to the declared fields, in order") {
    val schema = """{"a": "number", "b": "string", "c": "boolean"}"""
    assert(analyzeExt(schema, "SELECT *").map(_.show) ==
      Right("""{"a":"number","b":"string","c":"boolean"}"""))
    // duplicate mention keeps first position (insertion-ordered map)
    assert(analyzeExt(schema, "SELECT b, *").map(_.show) ==
      Right("""{"b":"string","a":"number","c":"boolean"}"""))
    // star over a derived table expands the INNER statement's output
    assert(analyzeExt(schema, "SELECT * FROM (SELECT a AS x)").map(_.show) ==
      Right("""{"x":"number"}"""))
    assert(analyzeExt(schema, "SELECT * GROUP BY b") ==
      Left("incompatible * projection with GROUP BY expression"))
    // the expansion the planner consumes is static Field selectors
    val expanded = for {
      sch <- Schema.fromString(schema)
      ts <- Lexer.tokenize("SELECT *", extensions = true)
      ast <- Parser.statement(ts, extensions = true).map(_._1)
      x <- Semantic.expandStars(sch, ast)
    } yield x
    assert(expanded == Right(graft.parser.Statement.Select(
      List(graft.parser.Selector.Field("a", None), graft.parser.Selector.Field("b", None),
        graft.parser.Selector.Field("c", None)), None, None, Nil, None, None)))
  }

  test("extensions: arithmetic projections are Number-only and Number-typed") {
    val schema = """{"a": "number", "s": "string"}"""
    assert(analyzeExt(schema, "SELECT a + 1 AS b").map(_.show) ==
      Right("""{"b":"number"}"""))
    assert(analyzeExt(schema, "SELECT s + 1 AS b") ==
      Left("incompatible type \"string\" in arithmetic expression"))
    // under GROUP BY bare fields are not implicitly aggregated
    assert(analyzeExt(schema, "SELECT a * 2 AS b GROUP BY s") ==
      Left("unaggregated field 'a' in arithmetic aggregation"))
  }

  test("extensions: arithmetic over aggregates and array reductions") {
    val schema = """{"a": "number", "b": "number", "s": "string", "arr": ["number"]}"""
    // grouped: aggregate atoms compose
    assert(analyzeExt(schema, "SELECT (SUM(a) / SUM(b)) AS r GROUP BY s").map(_.show) ==
      Right("""{"r":"number","_id":"string"}"""))
    assert(analyzeExt(schema, "SELECT COUNT(s) * 2 AS n GROUP BY s").map(_.show) ==
      Right("""{"n":"number","_id":"string"}"""))
    // grouped: AVG of a string field is the G3 scalar-Number rule
    assert(analyzeExt(schema, "SELECT AVG(s) + 1 AS x GROUP BY s") ==
      Left("incompatible type \"string\" with function AVG"))
    // plain SELECT: function atoms are the P2-P7 array reductions
    assert(analyzeExt(schema, "SELECT SUM(arr) / COUNT(arr) AS m").map(_.show) ==
      Right("""{"m":"number"}"""))
    assert(analyzeExt(schema, "SELECT SUM(a) + 1 AS x") ==
      Left("incompatible type \"number\" with function SUM"))
    // reserved alias still applies to arithmetic aggregations
    assert(analyzeExt(schema, "SELECT SUM(a) + 1 AS _id GROUP BY s") ==
      Left("reserved field's name '_id'"))
  }

  test("extensions: STDDEV / MEDIAN functions in both contexts") {
    val schema = """{"a": "number", "s": "string", "arr": ["number"]}"""
    assert(analyzeExt(schema, "SELECT STDDEV(a) AS sd, MEDIAN(a) AS md GROUP BY s").map(_.show) ==
      Right("""{"sd":"number","md":"number","_id":"string"}"""))
    assert(analyzeExt(schema, "SELECT STDDEV(arr) AS sd, MEDIAN(arr) AS md").map(_.show) ==
      Right("""{"sd":"number","md":"number"}"""))
    assert(analyzeExt(schema, "SELECT STDDEV(s) AS x GROUP BY s") ==
      Left("incompatible type \"string\" with function STDDEV"))
    assert(analyzeExt(schema, "SELECT MEDIAN(a) AS x") ==
      Left("incompatible type \"number\" with function MEDIAN"))
    // parity mode: STDDEV is just a word (the reference's closed function
    // set), so it resolves as an unknown field
    assert(analyze(schema, "SELECT STDDEV(a) AS x").isLeft)
  }

  test("extensions: <= / >= type-check as Number x Number only") {
    val schema = """{"a": "number", "s": "string"}"""
    assert(analyzeExt(schema, "SELECT a WHERE a <= 14").map(_.show) ==
      Right("""{"a":"number"}"""))
    assert(analyzeExt(schema, "SELECT a WHERE a >= 14").map(_.show) ==
      Right("""{"a":"number"}"""))
    assert(analyzeExt(schema, "SELECT a WHERE s <= \"x\"") ==
      Left("incompatible types \"string\", \"string\" with binary operator <="))
    assert(analyzeExt(schema, "SELECT a WHERE a >= NULL") ==
      Left("incompatible types \"number\", \"null\" with binary operator >="))
    // parity mode still rejects at parse (lexes as two tokens)
    assert(analyze(schema, "SELECT a WHERE a <= 14").isLeft)
  }
}
