package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native sum of a numeric array, accumulated in double.
  *
  * Why custom: the dialect's flat/dotted array reductions (SURVEY §2.3
  * P2/P3/P7) previously planned as `aggregate(arr, 0D, (acc, x) -> acc +
  * x)` — a higher-order function, which is `CodegenFallback`: interpreted
  * lambda dispatch per element, per row. Array reductions run inside the
  * scan projection, so at the 100 TB regime they *are* the scan hot path.
  * This expression is one fused primitive loop inside whole-stage codegen.
  *
  * Semantics are bit-identical to the HOF fold the DuckDB oracles mirror:
  * sequential left-to-right double accumulation starting at 0.0, null if
  * the array is null or any element is null, 0.0 for an empty array.
  * With `squares`, each element is squared in double first: Σ x·x, the
  * fold of `transform(arr, x -> x * x)` that STDDEV's two-sums identity
  * reads, without the interpreted lambda.
  */
case class ArraySum(child: Expression, squares: Boolean = false) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  // nullable even over a non-null child: a null *element* poisons the fold
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"array_sum requires an array of a numeric type, got ${other.simpleString}")
  }

  // per-element read as double, as generated Java (NumericArrays.elemAsDouble)
  private def elemAsDoubleJava(a: String, i: String): String =
    child.dataType match {
      case ArrayType(ByteType, _)    => s"(double) $a.getByte($i)"
      case ArrayType(ShortType, _)   => s"(double) $a.getShort($i)"
      case ArrayType(IntegerType, _) => s"(double) $a.getInt($i)"
      case ArrayType(LongType, _)    => s"(double) $a.getLong($i)"
      case ArrayType(FloatType, _)   => s"(double) $a.getFloat($i)"
      case ArrayType(d: DecimalType, _) =>
        s"$a.getDecimal($i, ${d.precision}, ${d.scale}).toDouble()"
      case _                         => s"$a.getDouble($i)"
    }

  override protected def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return null
      val x = NumericArrays.elemAsDouble(child.dataType, xs, i)
      s += (if (squares) x * x else x)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $x = ${elemAsDoubleJava(a, i)};
         |  $s += ${if (squares) s"$x * $x" else x};
         |}
         |if (!${ev.isNull}) ${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ArraySum =
    copy(child = newChild)

  override def prettyName: String = if (squares) "array_sum_squares" else "array_sum"
}

/** Native interpolated median of a numeric array, in double
  * (`quantile_cont(0.5)` semantics, DuckDB-mirrorable): the middle element
  * of the sorted array, or the mean of the middle two.
  *
  * Why custom: the Column form sorted with `array_sort`, a higher-order
  * function (one interpreted comparator call per comparison, per row); see
  * [[ArraySum]]. This is one primitive sort inside whole-stage codegen.
  *
  * Semantics are bit-identical to that form: elements sort as
  * `array_sort` orders them (ascending, NaN last, -0.0 and 0.0 equal and
  * kept in input order, nulls last) and null elements count in n, so a
  * middle slot that holds a null yields null. Null for a null or empty
  * array.
  */
case class ArrayMedian(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"array_median requires an array of a numeric type, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    NumericArrays.median(input.asInstanceOf[ArrayData], child.dataType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("r")
      val arrayType = ctx.addReferenceObj("arrayType", child.dataType)
      s"""
         |Double $r = graft.functions.NumericArrays.median($a, $arrayType);
         |if ($r == null) ${ev.isNull} = true; else ${ev.value} = $r;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ArrayMedian =
    copy(child = newChild)

  override def prettyName: String = "array_median"
}

/** The element read [[ArraySum]] and [[ArrayMedian]] share, and the
  * median kernel.
  */
object NumericArrays {

  /** Element `i` read as double — every numeric type the schema layer
    * admits as Number (the dialect sees one Number type, so the physical
    * element type must never surface as an analysis error).
    */
  def elemAsDouble(arrayType: DataType, xs: ArrayData, i: Int): Double =
    arrayType match {
      case ArrayType(ByteType, _)    => xs.getByte(i).toDouble
      case ArrayType(ShortType, _)   => xs.getShort(i).toDouble
      case ArrayType(IntegerType, _) => xs.getInt(i).toDouble
      case ArrayType(LongType, _)    => xs.getLong(i).toDouble
      case ArrayType(FloatType, _)   => xs.getFloat(i).toDouble
      case ArrayType(d: DecimalType, _) =>
        xs.getDecimal(i, d.precision, d.scale).toDouble
      case _                         => xs.getDouble(i)
    }

  /** The interpolated median of `xs` (see [[ArrayMedian]]). */
  def median(xs: ArrayData, arrayType: DataType): java.lang.Double = {
    val n = xs.numElements()
    val v = new Array[Double](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) { v(m) = elemAsDouble(arrayType, xs, i); m += 1 }
      i += 1
    }
    // nulls sort after the m values and count in n
    if (n == 0 || (n + 2) / 2 > m) return null
    // Arrays.sort orders -0.0 before 0.0; array_sort compares them equal
    // and its stable sort keeps them in input order, so put the zeros back
    // in the order they came in
    var zeros: Array[Double] = null
    var nz = 0
    i = 0
    while (i < m) {
      if (v(i) == 0.0) {
        if (zeros == null) zeros = new Array[Double](m)
        zeros(nz) = v(i)
        nz += 1
      }
      i += 1
    }
    java.util.Arrays.sort(v, 0, m)
    if (nz > 1) {
      var z = 0
      while (v(z) != 0.0) z += 1
      System.arraycopy(zeros, 0, v, z, nz)
    }
    if (n % 2 == 1) v((n + 1) / 2 - 1) else (v(n / 2 - 1) + v(n / 2)) / 2.0
  }
}

/** Native L2 normalization of a numeric array: `x / sqrt(Σ x²)`, both
  * passes in double.
  *
  * Why custom: the HOF form `transform(vec, x -> x / sqrt(aggregate(vec,
  * …)))` embeds the norm fold inside the lambda, and higher-order
  * functions re-evaluate the captured tree per element — O(dims²) per row
  * on what should be the scan hot path. This is the fused two-pass loop
  * (norm, then divide) inside whole-stage codegen.
  *
  * Semantics: null for a null input, a zero norm (includes the empty
  * array), or a null element — downstream cosine math treats all of these
  * as "no embedding". Accumulation is sequential left-to-right from 0.0,
  * matching the `list_sum` fold the DuckDB oracle mirrors.
  */
case class VecL2Normalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_l2normalize requires array<float> or array<double>, got ${other.simpleString}")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return null
      val x = if (isFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
      s += x * x
      i += 1
    }
    if (s == 0.0) return null
    val norm = math.sqrt(s)
    val out = new Array[Double](n)
    i = 0
    while (i < n) {
      out(i) = (if (isFloat) xs.getFloat(i).toDouble else xs.getDouble(i)) / norm
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val get = if (isFloat) "getFloat" else "getDouble"
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val norm = ctx.freshName("norm")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double ${s}_x = (double) $a.$get($i);
         |  $s += ${s}_x * ${s}_x;
         |}
         |if (!${ev.isNull} && $s == 0.0) ${ev.isNull} = true;
         |if (!${ev.isNull}) {
         |  double $norm = Math.sqrt($s);
         |  double[] $out = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = ((double) $a.$get($i)) / $norm;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecL2Normalize =
    copy(child = newChild)

  override def prettyName: String = "vec_l2normalize"
}
