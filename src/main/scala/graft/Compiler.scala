package graft

import org.apache.spark.sql.DataFrame

import graft.lexer.Lexer
import graft.parser.{Parser, Statement}
import graft.planner.Planner
import graft.schema.Schema
import graft.semantic.Semantic

/** Public compiler API (reference: src/Ifrit/Core.purs:30-37): the same
  * 5-stage pipeline — schema decode, tokenize, parse, semantic analysis,
  * "codegen" — where the final stage plans DataFrame transformations for
  * Catalyst instead of emitting a MongoDB aggregation pipeline.
  */
object Compiler {

  /** A compiled query: the AST, the inferred output schema, and the plan as
    * a DataFrame transformation. Compiling builds no Spark `Column`: every
    * compile error is decided before `run` exists, and `run` builds the
    * plan's Columns each time it is applied.
    */
  final case class Compiled(
      statement: Statement,
      outputSchema: Schema,
      run: DataFrame => DataFrame,
  )

  /** Compile against a decoded schema. `extensions = true` enables graft's
    * dialect extensions beyond reference parity — the reference's own
    * roadmap items (reference: README.md:299-304): `SELECT DISTINCT` and
    * the `<=` / `>=` comparison operators; the default keeps the
    * lexer/parser bug-compatible with the reference (DISTINCT lexes but
    * fails to parse, `<=` lexes as `<`, `=` and fails to parse).
    */
  def compile(schema: Schema, query: String, extensions: Boolean = false): Either[String, Compiled] =
    for {
      tokens <- Lexer.tokenize(query, extensions)
      ast <- Parser.statement(tokens, extensions).map(_._1)
      out <- Semantic.analyze(schema, ast)
      // extension: `SELECT *` expands statically against the closed-world
      // schema (no-op for star-free statements, i.e. all parity-mode ASTs)
      astX <- Semantic.expandStars(schema, ast)
      fn <- Planner.plan(astX)
    } yield Compiled(astX, out, fn)

  /** Compile against a JSON schema string — the reference's primary entry
    * point shape (reference: dist/index.js:23-30).
    */
  def compileJson(schemaJson: String, query: String): Either[String, Compiled] =
    Schema.fromString(schemaJson).flatMap(compile(_, query))

  /** Throwing variant of [[compileJson]] — the reference's JS shim throws
    * the error message rather than returning it
    * (reference: dist/index.js:24-29, `throw either.value0`).
    */
  def compileJsonOrThrow(schemaJson: String, query: String): Compiled =
    compileJson(schemaJson, query)
      .fold(err => throw new IllegalArgumentException(err), identity)

  /** Compile against a DataFrame's own schema and run immediately. Numeric
    * physical types all present as the dialect's single Number type; fields
    * with no dialect equivalent are unreachable (closed world).
    */
  def query(df: DataFrame, sql: String, extensions: Boolean = false): Either[String, DataFrame] = {
    // planned array reductions use graft's native expressions (array_sum)
    graft.functions.GraftFunctions.register(df.sparkSession)
    compile(Schema.fromStructType(df.schema), sql, extensions).map(_.run(df))
  }

  /** Like `query` but throwing — convenient at call sites that treat a
    * compile error as fatal (tests, harness entries).
    */
  def queryOrThrow(df: DataFrame, sql: String, extensions: Boolean = false): DataFrame =
    query(df, sql, extensions).fold(err => throw new IllegalArgumentException(err), identity)
}
