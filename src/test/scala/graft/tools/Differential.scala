package graft.tools

import java.util.Random

import graft.DifferentialSpec

/** `DifferentialSpec`'s checks at a larger input count:
  *   sbt "Test/runMain graft.tools.Differential [inputs] [seed]"
  * Lexes `inputs` generated queries in each mode and decodes `inputs`
  * generated schema texts (default 1,000,000, seed 1), and prints the number
  * of differences on each side, the first few, and how many of the inputs
  * the new code accepts.
  */
object Differential {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.fold(1000000)(_.toInt)
    val seed = args.lift(1).fold(1L)(_.toLong)
    val lexer = DifferentialSpec.lexerDiffs(new Random(seed), n)
    println(s"lexer: $n inputs x 2 modes, ${lexer.size} differences")
    lexer.take(5).foreach(println)
    val schema = DifferentialSpec.schemaDiffs(new Random(seed), n)
    println(s"schema: $n inputs, ${schema.size} differences")
    schema.take(5).foreach(println)
    val r = new Random(seed)
    val lexed = (0 until n).count(_ => graft.lexer.Lexer.tokenize(graft.oracle.Fuzz.query(r)).isRight)
    val r2 = new Random(seed)
    val decoded = (0 until n).count(_ =>
      graft.schema.Schema.fromString(graft.oracle.Fuzz.schema(r2, graft.schema.Schema.MaxDepth - 1)).isRight)
    println(s"accepted: $lexed of $n queries (parity mode), $decoded of $n schema texts")
    if (lexer.nonEmpty || schema.nonEmpty) sys.exit(1)
  }
}
