package graft

import java.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.lexer.Lexer
import graft.oracle.{Fuzz, RegexLexer, TreeSchemaDecoder}
import graft.schema.Schema

/** The one-pass lexer and schema decoder against their two-step oracles
  * (`graft.oracle`), over seeded generated inputs: every result, `Left` or
  * `Right`, must be equal. `graft.tools.Differential` runs the same checks
  * with more inputs.
  */
class DifferentialSpec extends AnyFunSuite {
  import DifferentialSpec._

  test("the lexer scanner matches the regex alternation in both modes") {
    val diffs = lexerDiffs(new Random(20261019L), 20000)
    if (diffs.nonEmpty) fail(s"${diffs.size} differences, the first:\n" + diffs.take(5).mkString("\n"))
  }

  test("the one-pass schema decoder matches the JValue decode path") {
    val diffs = schemaDiffs(new Random(20261020L), 20000)
    if (diffs.nonEmpty) fail(s"${diffs.size} differences, the first:\n" + diffs.take(5).mkString("\n"))
  }
}

object DifferentialSpec {

  // `==` on tokens compares numbers by value and objects regardless of key
  // order; the rendered forms keep scale and order
  private def same[A](a: Either[String, A], b: Either[String, A], render: A => String): Boolean =
    a == b && a.map(render) == b.map(render)

  /** Inputs, each lexed in both modes, on which the scanner and the regex
    * alternation differ.
    */
  def lexerDiffs(r: Random, n: Int): Seq[String] =
    (0 until n).flatMap { _ =>
      val q = Fuzz.query(r)
      Seq(false, true).collect {
        case ext if !same(Lexer.tokenize(q, ext), RegexLexer.tokenize(q, ext), (ts: List[Lexer.PosToken]) => ts.toString) =>
          s"extensions=$ext ${q.map(_.toInt)}: ${Lexer.tokenize(q, ext)} vs ${RegexLexer.tokenize(q, ext)}"
      }
    }

  /** Schema texts on which the one-pass decoder and the JValue path differ. */
  def schemaDiffs(r: Random, n: Int): Seq[String] =
    (0 until n).flatMap { _ =>
      val json = Fuzz.schema(r, Schema.MaxDepth - 1)
      val (a, b) = (Schema.fromString(json), TreeSchemaDecoder.fromString(json))
      if (same(a, b, (s: Schema) => s.show)) None
      else Some(s"${json.map(_.toInt)}: $a vs $b")
    }
}
