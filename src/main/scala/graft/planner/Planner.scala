package graft.planner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.lexer.Lexer.{Binary, Funktion}
import graft.parser._
import graft.semantic.Semantic.defaultAlias

/** Planner: AST → a composition of DataFrame transformations.
  *
  * This replaces the reference's MongoDB codegen
  * (reference: src/Ifrit/Driver/MongoDB.purs) with a declarative Spark plan:
  * Catalyst gets the whole statement as select/filter/orderBy/limit/groupBy
  * nodes and is free to push filters into the scan, prune columns, and pick
  * physical strategies. Stage order follows the reference pipeline exactly
  * (reference: src/Ifrit/Driver/MongoDB.purs:124-160): derived table, then
  * WHERE, ORDER BY, LIMIT, OFFSET — all over *input* fields — and the
  * projection/aggregation last. In particular LIMIT applies before OFFSET
  * (observable golden behavior, reference: test/Test.Main.purs:899-917).
  *
  * Intentional divergences from reference codegen bugs (see SURVEY.md §2.4):
  *  - MAX/MIN over array-of-objects use the element's field, not a
  *    same-named top-level field (reference bug at Driver/MongoDB.purs:224,249);
  *  - field-vs-field comparisons compare columns instead of a literal
  *    "$field" string (reference bug at Driver/MongoDB.purs:388-390).
  *
  * Planning builds no Spark `Column`: the one AST traversal decides every
  * compile-time error and yields deferred builders (`Col`), run only when
  * the returned `DataFrame => DataFrame` is applied: each Spark 4 Column
  * costs µs in `CurrentOrigin.withOrigin`, more than the rest of a compile.
  */
object Planner {

  private type Col = () => Column // built when the plan runs

  private def errCondition(factor: Factor): String =
    s"invalid condition: ${Show.factor(factor)}: should target a field of the document"

  /** Output columns fold into an insertion-ordered map exactly like the
    * reference's object-valued `$project`/`$group`: a duplicate alias keeps
    * the first occurrence's position and the last occurrence's expression
    * (reference: src/Ifrit/Semantic.purs:121 StrMap insert semantics).
    */
  private def dedupeAliases(cols: List[(String, Col)]): List[Column] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Col]
    cols.foreach { case (alias, c) => m.update(alias, c) }
    m.toList.map { case (alias, c) => c().as(alias) }
  }

  def plan(stmt: Statement): Either[String, DataFrame => DataFrame] = stmt match {
    // extension: row-level DISTINCT over the statement's output columns —
    // dropDuplicates plans as a partial aggregation on all output columns
    // followed by one shuffle on their hash (map-side combine collapses
    // each partition's duplicates first), the same scale shape as any
    // grouped aggregate
    case Statement.Distinct(inner) =>
      plan(inner).map(fn => (df: DataFrame) => fn(df).dropDuplicates())

    case Statement.Select(projections, from, where, orders, limit, offset) =>
      for {
        base <- planBase(from, where, orders, limit, offset)
        cols <- traverse(projections)(projectionColumn)
      } yield (df: DataFrame) => {
        // planned reductions use graft natives (array_sum); make the plan
        // self-contained for callers that run it on an arbitrary session
        graft.functions.GraftFunctions.register(df.sparkSession)
        base(df).select(dedupeAliases(cols): _*)
      }

    case Statement.Group(index, aggregations, from, where, orders, limit, offset) =>
      for {
        base <- planBase(from, where, orders, limit, offset)
        aggs <- traverse(aggregations)(aggregationColumn)
      } yield { (df: DataFrame) =>
        val keyed = base(df)
        val aggCols = dedupeAliases(aggs)
        val idxCol = index match {
          case Index.IdxField(k) => col(k)
          case Index.IdxNull     => lit(null)
        }
        // groupBy(key as _id) — the reference's `$group {_id: ...}`
        // (reference: src/Ifrit/Driver/MongoDB.purs:143-160). Aggregations are
        // all map-side combinable (avg/sum/min/max/count), so this is a
        // partial-agg + single shuffle on the key at any scale.
        keyed.groupBy(idxCol.as("_id")).agg(aggCols.head, aggCols.tail: _*)
      }
  }

  /** Shared pre-stages: FROM (derived table), WHERE, ORDER BY, LIMIT, OFFSET,
    * in reference pipeline order.
    */
  private def planBase(
      from: Option[Statement],
      where: Option[Condition],
      orders: List[Order],
      limit: Option[Int],
      offset: Option[Int],
  ): Either[String, DataFrame => DataFrame] =
    for {
      fromFn <- from.fold[Either[String, DataFrame => DataFrame]](Right(identity))(plan)
      cond <- where.fold[Either[String, Option[Col]]](Right(None))(
        c => planCondition(c, negated = false).map(Some(_)))
    } yield { (df0: DataFrame) =>
      var df = fromFn(df0)
      cond.foreach(c => df = df.filter(c()))
      if (orders.nonEmpty) df = df.orderBy(orders.map(orderColumn): _*)
      limit.foreach(n => df = df.limit(n))
      offset.foreach(m => df = df.offset(m))
      df
    }

  private def orderColumn(o: Order): Column = o match {
    case Order.Asc(f)  => col(f).asc
    case Order.Desc(f) => col(f).desc
  }

  // -- projections: per-row values & array reductions ------------------------

  /** A projected column (reference: src/Ifrit/Driver/MongoDB.purs:170-284).
    * Array reductions map to native codegen'd expressions: SUM/AVG run as
    * graft's fused `array_sum` loop (Spark's `aggregate` HOF is
    * CodegenFallback — interpreted lambda dispatch per element would be the
    * scan hot path at scale; `array_sum` keeps bit-identical left-to-right
    * double accumulation), MAX/MIN/COUNT as Spark's `array_max`/
    * `array_min`/`size`. No UDFs. Dotted reductions extract the element
    * field natively first (`GetArrayStructFields`) and reduce the
    * resulting flat array; the plan registers graft's functions on the
    * session it runs on.
    */
  private def projectionColumn(sel: Selector): Either[String, (String, Col)] = sel match {
    case Selector.Field(key, as) =>
      Right(defaultAlias(key, as) -> (() => col(key)))

    // extension: Star is statically expanded to Field selectors before
    // planning (Semantic.expandStars); reaching one here means a caller
    // skipped the expansion step
    case Selector.Star =>
      Left("unexpanded * projection: run Semantic.expandStars before planning")

    // extension: per-row double arithmetic — plain codegen'd expressions
    case Selector.Expr(e, alias) =>
      Right(alias -> (() => numExprColumn(e, grouped = false)))

    case Selector.Fn(f, key, as) =>
      Right(defaultAlias(key, as) -> (() => reductionColumn(f, key)))
  }

  /** The P2-P7 per-row array-reduction column for a projection-context
    * function call — shared by plain Fn selectors and function atoms in
    * extension arithmetic.
    */
  private def reductionColumn(f: Funktion, key: String): Column = {
    val segments = key.split("\\.", 2).toList
    val arraySum = graft.functions.GraftFunctions.arraySum _
    // interpolated median (quantile_cont(0.5) semantics, DuckDB-mirrorable)
    val medianOfArray = graft.functions.GraftFunctions.arrayMedian _
    // dotted: project the element field out of the array-of-structs —
    // GetArrayStructFields, a plain codegen'd expression, not a HOF
    def dotted(source: String, target: String): Column =
      target.split('.').foldLeft(col(source))(_.getField(_))
    (f, segments) match {
      // flat array of numbers
      case (Funktion.Avg, _ :: Nil) => arraySum(col(key)) / size(col(key))
      case (Funktion.Sum, _ :: Nil) => arraySum(col(key))
      case (Funktion.Max, _ :: Nil) => array_max(col(key))
      case (Funktion.Min, _ :: Nil) => array_min(col(key))
      // COUNT is always the array length regardless of path shape
      // (reference: src/Ifrit/Driver/MongoDB.purs:201-214)
      case (Funktion.Count, _) => size(col(key)).cast(DoubleType)
      // extension functions, flat
      case (Funktion.Stddev, _ :: Nil) => stddevOfArray(col(key))
      case (Funktion.Median, _ :: Nil) => medianOfArray(col(key))
      // array of objects, reduce over a field of each element
      case (Funktion.Avg, source :: target :: Nil) =>
        arraySum(dotted(source, target)) / size(col(source))
      case (Funktion.Sum, source :: target :: Nil) =>
        arraySum(dotted(source, target))
      case (Funktion.Max, _ :: _ :: Nil) => array_max(col(key))
      case (Funktion.Min, _ :: _ :: Nil) => array_min(col(key))
      case (Funktion.Stddev, source :: target :: Nil) =>
        stddevOfArray(dotted(source, target))
      case (Funktion.Median, source :: target :: Nil) =>
        medianOfArray(dotted(source, target))
      case _ => col(key)
    }
  }

  /** Per-row sample standard deviation of a numeric array via the
    * two-sums identity sqrt((Σx² − (Σx)²/n)/(n−1)) — both sums fold
    * left-to-right in native code (array_sum, array_sum_squares), so a
    * DuckDB mirror using the same identity over `list_sum` is
    * bit-comparable. Null when n < 2; the inner term clamps at 0 against
    * negative float residue. `greatest` skips nulls in both engines, so a
    * null element (null sums) clamps to 0.0 on both sides.
    */
  private def stddevOfArray(arr: Column): Column = {
    val n = size(arr).cast(DoubleType)
    val s = graft.functions.GraftFunctions.arraySum(arr)
    val s2 = graft.functions.GraftFunctions.arraySumSquares(arr)
    when(size(arr) < 2, lit(null).cast(DoubleType))
      .otherwise(sqrt(greatest((s2 - s * s / n) / (n - lit(1.0)), lit(0.0))))
  }

  // -- grouped aggregations --------------------------------------------------

  /** A grouped aggregation column (reference: src/Ifrit/Driver/MongoDB.purs:286-306).
    * Plain selectors collect the group's values (MongoDB `$push`); COUNT is
    * named `count` unless aliased — bug-compatible with reference codegen
    * (reference: src/Ifrit/Driver/MongoDB.purs:296-297).
    */
  private def aggregationColumn(sel: Selector): Either[String, (String, Col)] = sel match {
    case Selector.Field(key, as) =>
      Right(defaultAlias(key, as) -> (() => collect_list(col(key))))
    // defensive: semantic analysis rejects * under GROUP BY
    case Selector.Star => Left("incompatible * projection with GROUP BY expression")
    // extension: arithmetic over grouped aggregates (SUM(a) / SUM(b), …)
    case Selector.Expr(e, alias) =>
      Right(alias -> (() => numExprColumn(e, grouped = true)))
    case Selector.Fn(f, key, as) =>
      Right(defaultAlias(if (f == Funktion.Count) "count" else key, as) -> (() => groupedColumn(f, key)))
  }

  /** A grouped aggregate of one field, shared by plain Fn selectors and
    * function atoms in extension arithmetic. The extension functions
    * (lexed only with extensions = true) are the sample stddev and the
    * exact interpolated median (percentile ≡ DuckDB quantile_cont); like
    * the rest, both are map-side combinable.
    */
  private def groupedColumn(f: Funktion, key: String): Column = f match {
    case Funktion.Avg    => avg(col(key))
    case Funktion.Count  => count(lit(1)).cast(DoubleType)
    case Funktion.Max    => max(col(key))
    case Funktion.Min    => min(col(key))
    case Funktion.Sum    => sum(col(key))
    case Funktion.Stddev => stddev_samp(col(key))
    case Funktion.Median => percentile(col(key), lit(0.5))
  }

  // -- conditions ------------------------------------------------------------

  /** Conditions plan with `negated` pushed down to the leaves: under NOT,
    * OR becomes AND, AND becomes OR, comparisons flip ([[negate]]) and a
    * bare field `x` becomes `{x: false}`.
    */
  private def planCondition(c: Condition, negated: Boolean): Either[String, Col] = c match {
    case Condition.Term(t)    => planTerm(t, negated)
    case Condition.Or(t1, t2) =>
      for { a <- planTerm(t1, negated); b <- planTerm(t2, negated) }
      yield if (negated) () => a() && b() else () => a() || b()
  }

  private def planTerm(t: Term, negated: Boolean): Either[String, Col] = t match {
    case Term.Fact(f)     => planFactor(f, negated)
    case Term.And(f1, f2) =>
      for { a <- planFactor(f1, negated); b <- planFactor(f2, negated) }
      yield if (negated) () => a() || b() else () => a() && b()
  }

  /** NOT handling mirrors the reference's compile-time push-down including
    * its double-negation quirk: NOT(NOT(x)) plans identically to NOT(x)
    * (reference: src/Ifrit/Driver/MongoDB.purs:411-414). Catalyst would
    * simplify a plain `!` anyway; we keep the structural rewrite so the
    * quirk and the `{field: false}` bare-field form stay observable.
    */
  private def planFactor(f: Factor, negated: Boolean): Either[String, Col] = f match {
    case Factor.Op(Operand.Field(name)) => Right(() => col(name) === lit(!negated))
    // Non-field operands are never negated — reference quirk
    // (reference: src/Ifrit/Driver/MongoDB.purs:401-406).
    case Factor.Op(other) => Right(() => operandColumn(other))
    case Factor.Cond(c)   => planCondition(c, negated)
    case Factor.Not(x)    => planFactor(x, negated = true) // double-negation quirk, see scaladoc
    case bin: Factor.Bin  => planBinary(bin, negated)
  }

  private def negate(op: Binary): Binary = op match {
    case Binary.Eq  => Binary.Neq
    case Binary.Neq => Binary.Eq
    case Binary.Lt  => Binary.Gte
    case Binary.Gt  => Binary.Lte
    case Binary.Lte => Binary.Gt
    case Binary.Gte => Binary.Lt
  }

  /** Mirror of ingestReverseBinary (reference: src/Ifrit/Driver/MongoDB.purs:94-108):
    * the op as seen from the right-hand field.
    */
  private def reverse(op: Binary): Binary = op match {
    case Binary.Eq  => Binary.Eq
    case Binary.Neq => Binary.Neq
    case Binary.Lt  => Binary.Gte
    case Binary.Gt  => Binary.Lte
    case Binary.Lte => Binary.Gt
    case Binary.Gte => Binary.Lt
  }

  private def planBinary(bin: Factor.Bin, negated: Boolean): Either[String, Col] = {
    val Factor.Bin(op0, left, right) = bin
    (left, right) match {
      case (Operand.Field(fname), other) =>
        val op = if (negated) negate(op0) else op0
        Right(() => applyOp(col(fname), op, other))
      case (other, Operand.Field(fname)) =>
        val op = reverse(if (negated) negate(op0) else op0)
        Right(() => applyOp(col(fname), op, other))
      case _ => Left(errCondition(bin))
    }
  }

  /** Comparison with MongoDB null semantics: `= NULL` matches null/missing
    * → `isNull`; `!= NULL` → `isNotNull`
    * (reference behavior via `$eq: null` in `$match`).
    */
  private def applyOp(field: Column, op: Binary, operand: Operand): Column =
    (op, operand) match {
      case (Binary.Eq, Operand.Null)  => field.isNull
      case (Binary.Neq, Operand.Null) => field.isNotNull
      case _ =>
        val v = operandColumn(operand)
        op match {
          case Binary.Eq  => field === v
          case Binary.Neq => field =!= v
          case Binary.Lt  => field < v
          case Binary.Gt  => field > v
          case Binary.Lte => field <= v
          case Binary.Gte => field >= v
        }
    }

  /** Extension arithmetic: numbers are uniformly double (the dialect's one
    * numeric type), so `+ - * /` are plain double ops — codegen'd, no UDF.
    * Function atoms follow the context: per-row array reductions in a
    * plain SELECT, grouped aggregates (G3/G4 shapes) under GROUP BY —
    * all map-side combinable, so grouped arithmetic stays one partial-agg
    * shuffle like any other aggregation.
    */
  private def numExprColumn(e: NumExpr, grouped: Boolean): Column = e match {
    case NumExpr.NLit(n)   => lit(n.toDouble)
    case NumExpr.NField(f) => col(f).cast(DoubleType)
    case NumExpr.NFn(f, key) => if (grouped) groupedColumn(f, key) else reductionColumn(f, key)
    case NumExpr.NNeg(inner) => -numExprColumn(inner, grouped)
    case NumExpr.NBin(op, l, r) =>
      val (a, b) = (numExprColumn(l, grouped), numExprColumn(r, grouped))
      op match {
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case _   => a / b
      }
  }

  private def operandColumn(o: Operand): Column = o match {
    case Operand.Str(s)   => lit(s)
    case Operand.Bool(b)  => lit(b)
    // Numbers collapse to doubles, like reference codegen
    // (reference: src/Ifrit/Driver/MongoDB.purs:452-453).
    case Operand.Num(n)   => lit(n.toDouble)
    case Operand.Field(f) => col(f)
    case Operand.Null     => lit(null)
  }

  private def traverse[A, B](xs: List[A])(f: A => Either[String, B]): Either[String, List[B]] =
    xs.foldRight[Either[String, List[B]]](Right(Nil)) { (a, acc) =>
      for { b <- f(a); rest <- acc } yield b :: rest
    }
}
