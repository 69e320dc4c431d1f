package graft

import java.lang.management.ManagementFactory

import org.scalatest.funsuite.AnyFunSuite

import graft.parser.Parser
import graft.schema.Schema

/** The compiler's own contract, no Spark: the planner's compile-time error,
  * the nesting cap and what a compile allocates.
  */
class CompilerSpec extends AnyFunSuite {

  private val errFieldFree =
    "invalid condition: 1 = 2: should target a field of the document"

  test("a field-free comparison is a compile-time Left, not a throw") {
    assert(Compiler.compileJson(CompileBench.schemaJson, "SELECT age WHERE 1 = 2") ==
      Left(errFieldFree))
  }

  test("a field-free comparison under NOT is the same compile-time Left") {
    assert(Compiler.compileJson(CompileBench.schemaJson, "SELECT age WHERE NOT 1 = 2") ==
      Left(errFieldFree))
  }

  test("compiling the Benchmark.js queries allocates under 18 KB per compile") {
    // planning builds no Spark Column, lexing no regex matcher and schema
    // decoding no JSON tree. Measured 7.4-8.2 KB per compile (JDK 17); the
    // bound leaves 2x of that. With a regex lexer and a JValue decode path
    // this measured 11.2-11.6 KB, and with the planner building its Columns
    // at compile time, as it once did, 83.8 KB
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    assume(mx.isThreadAllocatedMemorySupported && mx.isThreadAllocatedMemoryEnabled)
    val queries = CompileBench.workloads.map(_._2)
    def compileAll(rounds: Int): Unit = (1 to rounds).foreach { _ =>
      queries.foreach(q => assert(Compiler.compileJson(CompileBench.schemaJson, q).isRight))
    }
    compileAll(rounds = 4000) // warm-up: JIT and escape analysis settle
    val rounds = 2000
    val before = mx.getCurrentThreadAllocatedBytes
    compileAll(rounds)
    val perCompile = (mx.getCurrentThreadAllocatedBytes - before).toDouble / (rounds * queries.size)
    info(f"mean ${perCompile / 1024}%.1f KB allocated per compileJson")
    assert(perCompile < 18 * 1024)
  }

  private def compileJson(query: String) = Compiler.compileJson(CompileBench.schemaJson, query)

  // each unit opens two levels: the FROM's derived table and its parenthesis
  private def derived(n: Int) = "SELECT age FROM (" * n + "SELECT age" + ")" * n
  private def nestedObjects(n: Int) = "{\"a\":" * n + "\"number\"" + "}" * n

  test("nesting past the cap is a Left naming the depth, not a stack overflow") {
    assert(Schema.MaxDepth == 256 && Parser.MaxDepth == 256)
    assert(Schema.fromString("[" * 200000) == Left("nesting deeper than 256 at position 256"))
    assert(Schema.fromString("{\"a\":" * 100000) == Left("nesting deeper than 256 at position 1280"))
    assert(Compiler.compileJson("[" * 200000, "SELECT age") ==
      Left("nesting deeper than 256 at position 256"))
    assert(compileJson("SELECT age WHERE " + "(" * 100000 + "age > 1" + ")" * 100000) ==
      Left("nesting deeper than 256 at position 273"))
    assert(compileJson(derived(20000)) == Left("nesting deeper than 256 at position 2192"))
    assert(compileJson("SELECT age WHERE " + "NOT " * 100000 + "age > 1") ==
      Left("nesting deeper than 256 at position 1041"))
  }

  test("nesting at the cap compiles on a default thread stack") {
    // the semantic and planner layers and Schema.show recurse once or more
    // per level; run where a caller's thread would, not on a test runner's
    var out: Seq[Either[String, String]] = Nil
    val t = new Thread(() => out = Seq(
      compileJson("SELECT age WHERE " + "(" * 256 + "age > 1" + ")" * 256),
      compileJson(derived(128)),
      compileJson("SELECT age WHERE " + "NOT " * 256 + "age > 1"),
      Compiler.compileJson(nestedObjects(256), "SELECT " + Seq.fill(256)("a").mkString(".")),
    ).map(_.map(_.outputSchema.show)))
    t.start(); t.join()
    assert(out == Seq.fill(3)(Right("""{"age":"number"}""")) :+
      Right("{\"" + Seq.fill(256)("a").mkString("_") + "\":\"number\"}"))
    assert(compileJson(derived(129)) == Left("nesting deeper than 256 at position 2192"))
  }

  // on a thread with the default stack, as a caller's would be
  private def onDefaultStack[A](body: => A): A = {
    var out: Option[A] = None
    val t = new Thread(() => out = Some(body))
    t.start(); t.join()
    out.getOrElse(fail("the compile threw"))
  }

  test("a 100,000-selector list compiles on a default thread stack") {
    val query = "SELECT " + Seq.fill(100000)("age").mkString(", ")
    assert(onDefaultStack(compileJson(query).map(_ => ())) == Right(()))
    // each parenthesized element is tried as a group and then as a selector;
    // the rest of a list that failed once is not parsed again, or this
    // would take 2^100000 parses
    val failing = "SELECT " + Seq.fill(100000)("(age)").mkString(", ") + ", ("
    assert(onDefaultStack(compileJson(failing).map(_ => ())) ==
      Left("unexpected token: EOF at position 700008"))
  }

  test("an arithmetic chain longer than the cap is a Left naming the depth") {
    val schema = Schema.fromString(CompileBench.schemaJson).toOption.get
    // "SELECT " then "age + " per operator: the 257th `+` is at 7 + 256 * 6 + 4
    val query = "SELECT " + Seq.fill(100001)("age").mkString(" + ") + " AS x"
    assert(onDefaultStack(Compiler.compile(schema, query, extensions = true).map(_ => ())) ==
      Left("nesting deeper than 256 at position 1547"))
  }
}
