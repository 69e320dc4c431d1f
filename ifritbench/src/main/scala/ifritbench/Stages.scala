package ifritbench

import graft.Compiler
import graft.lexer.Lexer
import graft.parser.Parser
import graft.planner.Planner
import graft.schema.Schema
import graft.semantic.Semantic

/** `Compiler.compile` called stage by stage, so a traced run can time each
  * stage from outside the program. The stages and their short-circuiting
  * are the ones `Compiler.compile` chains.
  */
object Stages {

  /** Per-layer names of the accumulator slots [[compile]] fills. */
  val Names: Vector[String] =
    Vector("lexer.tokenize_us", "parser.statement_us", "semantic.analyze_us", "planner.plan_us")

  /** Slot of `acc` that counts the tokens the lexer produced. */
  val Tokens = 4

  /** Compile `sql`, adding each stage's nanoseconds to `acc(0..3)` and the
    * token count to `acc(Tokens)`.
    */
  def compile(schema: Schema, sql: String, extensions: Boolean,
      acc: Array[Long]): Either[String, Compiler.Compiled] = {
    var t = System.nanoTime()
    def lap(slot: Int): Unit = {
      val now = System.nanoTime()
      acc(slot) += now - t
      t = now
    }
    val tokens = Lexer.tokenize(sql, extensions)
    lap(0)
    tokens.foreach(ts => acc(Tokens) += ts.size)
    val ast = tokens.flatMap(Parser.statement(_, extensions).map(_._1))
    lap(1)
    val analyzed = for {
      stmt <- ast
      out <- Semantic.analyze(schema, stmt)
      expanded <- Semantic.expandStars(schema, stmt)
    } yield (out, expanded)
    lap(2)
    val planned = analyzed.flatMap { case (_, expanded) => Planner.plan(expanded) }
    lap(3)
    planned.flatMap(run => analyzed.map { case (out, expanded) => Compiler.Compiled(expanded, out, run) })
  }
}
