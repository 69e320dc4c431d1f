package graft

import java.lang.management.ManagementFactory

import org.scalatest.funsuite.AnyFunSuite

/** The compiler's own contract, no Spark: the planner's compile-time error
  * and what a compile allocates.
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

  test("compiling the Benchmark.js queries allocates under 24 KB per compile") {
    // planning builds no Spark Column. Measured 11.2-11.4 KB per compile
    // (JDK 17); the bound leaves 2x of that. With the planner building its
    // Columns at compile time, as it once did, this measured 83.8 KB
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
    assert(perCompile < 24 * 1024)
  }
}
