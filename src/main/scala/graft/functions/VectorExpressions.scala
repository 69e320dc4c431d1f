package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expression for the dot product of two numeric arrays
  * (float or double), accumulating in double.
  *
  * Why custom: Spark's higher-order functions (`zip_with` + `aggregate`)
  * are interpreted (`CodegenFallback`) and materialize an intermediate
  * array per row — on a billion-row similarity scan that is the hot path.
  * This expression runs as a fused primitive loop inside whole-stage
  * codegen: no intermediate array, no lambda dispatch, no boxing.
  *
  * Semantics match `aggregate(zip_with(a, b, (x, y) -> double(x)*double(y)),
  * 0D, (s, v) -> s + v)`: sequential left-to-right double accumulation, so
  * results are bit-identical with the HOF formulation the oracles mirror —
  * including the mismatched-length case: `zip_with` pads the shorter array
  * with nulls, which poisons the fold, so both formulations return NULL
  * when the lengths differ (no silent truncation).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // nullable even over non-null children: length mismatch yields null
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<float> or array<double> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    val lf = isFloat(left)
    val rf = isFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) xs.getFloat(i).toDouble else xs.getDouble(i)
      val y = if (rf) ys.getFloat(i).toDouble else ys.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** Native MinHash signature: from an array of base hashes (one per
  * shingle), the element-wise minimum of `numHashes` seeded re-hashes
  * (XXH64 over the long with seed = family index).
  *
  * Why custom: the HOF formulation is `numHashes` copies of
  * `array_min(transform(...))` — a thousand-node expression tree that
  * costs tens of seconds of janino compilation and re-walks the array per
  * family member. This is one fused loop: elements × families, no
  * intermediate arrays.
  */
case class ArrayMinHash(child: Expression, numHashes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<bigint>, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = xs.getLong(i)
      var k = 0
      while (k < numHashes) {
        val v = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h, k)
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $a.numElements();
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $k = 0; $k < $numHashes; $k++) {
         |    long $v = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong($h, $k);
         |    if ($v < $mins[$k]) $mins[$k] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ArrayMinHash =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

/** Runtime helper for HashEmbed — one pass over the token array, O(T + d):
  * each token's md5-derived hash picks a bucket (`h mod dim`) and a sign
  * (`(h / dim) mod 2` — signed hashing, Weinberger et al. 2009, keeps the
  * folded counts unbiased), accumulated into a primitive double array.
  */
object HashEmbedUtil {
  def embed(tokens: ArrayData, dim: Int): ArrayData = {
    val out = new Array[Double](dim)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      val h = SimHashUtil.tokenHash60(tokens.getUTF8String(i).toString)
      val b = (h % dim).toInt
      out(b) += (if (((h / dim) & 1L) == 0L) 1.0 else -1.0)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Feature-hashing embedding (the hashing trick): fold a token array into
  * a fixed `dim`-length signed-count vector — a model-free document
  * embedding for cosine clustering / near-dup when no learned encoder
  * exists. md5-derived per-token hash (the shared [[GraftFunctions.md5Long60]]
  * derivation), so DuckDB recomputes the vector exactly: a true SQL
  * oracle, unlike any xxhash64-based fold. Codegen'd single pass; the HOF
  * formulation (`transform(sequence(0, dim-1), b -> aggregate(...))`)
  * would be O(dim × T) interpreted — this is O(T + dim) compiled.
  */
case class HashEmbed(child: Expression, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if dim >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"hash_embed requires dim >= 1, got $dim")
    case other => TypeCheckResult.TypeCheckFailure(
      s"hash_embed requires array<string>, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    HashEmbedUtil.embed(input.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashEmbedUtil.embed($c, $dim)")

  override protected def withNewChildInternal(newChild: Expression): HashEmbed =
    copy(child = newChild)

  override def prettyName: String = "hash_embed"
}

/** Runtime helper for MergePair: one left-to-right pass replacing every
  * non-overlapping adjacent occurrence of (a, b) with the concatenation
  * ab — the inner step of BPE training and application.
  */
object MergePairUtil {
  def merge(symbols: ArrayData, a: org.apache.spark.unsafe.types.UTF8String,
      b: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val n = symbols.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      // null elements (possible through the SQL registration, never from
      // graft's own tokenization) match nothing and copy through
      val cur = if (symbols.isNullAt(i)) null else symbols.getUTF8String(i)
      if (cur != null && i + 1 < n && !symbols.isNullAt(i + 1)
          && cur.equals(a) && symbols.getUTF8String(i + 1).equals(b)) {
        out.add(org.apache.spark.unsafe.types.UTF8String.concat(a, b))
        i += 2
      } else {
        out.add(cur)
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size)))
  }
}

/** Merge every adjacent (a, b) symbol pair in an array<string> — codegen'd
  * single pass; the HOF alternative needs a stateful fold that builds
  * nested structs per element.
  */
case class MergePair(symbols: Expression, aExpr: Expression, bExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = symbols
  override def second: Expression = aExpr
  override def third: Expression = bExpr

  // null elements pass through unmerged, so nullability follows the input
  override def dataType: DataType = symbols.dataType match {
    case ArrayType(_, cn) => ArrayType(StringType, containsNull = cn)
    case _ => ArrayType(StringType, containsNull = true)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (symbols.dataType, aExpr.dataType, bExpr.dataType) match {
      case (ArrayType(StringType, _), StringType, StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "merge_pair requires (array<string>, string, string)")
    }

  override protected def nullSafeEval(s: Any, a: Any, b: Any): Any =
    MergePairUtil.merge(s.asInstanceOf[ArrayData],
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, a, b) =>
      s"graft.functions.MergePairUtil.merge($s, $a, $b)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): MergePair =
    copy(symbols = f, aExpr = s, bExpr = t)

  override def prettyName: String = "merge_pair"
}

/** O(1) hash lookup of a string key in a FOLDABLE map literal —
  * `element_at` on a Catalyst map literal is `GetMapValue` over
  * `ArrayBasedMapData`, a LINEAR scan of the keys per call, which turns
  * a vocabulary-sized model lookup into O(tokens × vocab) per row. This
  * expression builds a `java.util.HashMap` from the literal once at plan
  * init (a reference object, like the bloom filter) and probes it per
  * row. Missing keys → `default` (so the caller's smoothing term stays
  * an expression-free constant).
  */
case class MapLookupLong(mapExpr: Expression, keyExpr: Expression, default: Long)
    extends BinaryExpression {

  override def left: Expression = mapExpr
  override def right: Expression = keyExpr
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (mapExpr.dataType, keyExpr.dataType) match {
      case (MapType(StringType, LongType, _), StringType) if mapExpr.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "map_lookup_long requires (foldable map<string,bigint>, string)")
    }

  @transient private lazy val table: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    val md = mapExpr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
    if (md != null) {
      val ks = md.keyArray(); val vs = md.valueArray()
      var i = 0
      while (i < md.numElements()) {
        m.put(ks.getUTF8String(i).toString, vs.getLong(i))
        i += 1
      }
    }
    m
  }

  /** Runtime probe shared by eval and codegen. */
  def look(key: org.apache.spark.unsafe.types.UTF8String): Long = {
    val v = table.get(key.toString)
    if (v == null) default else v.longValue()
  }

  override protected def nullSafeEval(mapIgnored: Any, key: Any): Any =
    look(key.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lookup", this, classOf[MapLookupLong].getName)
    nullSafeCodeGen(ctx, ev, (_, k) => s"${ev.value} = $ref.look($k);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MapLookupLong =
    copy(mapExpr = newLeft, keyExpr = newRight)

  override def prettyName: String = "map_lookup_long"
}

/** Runtime helper for WinnowSelect: O(n) sliding-window minimum via a
  * monotonic deque, distinct + sort on the selected values.
  */
object WinnowUtil {
  def select(hashes: ArrayData, w: Int): ArrayData = {
    val n = hashes.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Long](0))
    val out = new java.util.TreeSet[java.lang.Long]()
    if (n < w) {
      var m = hashes.getLong(0)
      var i = 1
      while (i < n) { val x = hashes.getLong(i); if (x < m) m = x; i += 1 }
      out.add(m)
    } else {
      // deque of candidate indices, values increasing front -> back
      val dq = new Array[Int](n)
      var head = 0
      var tail = 0 // exclusive
      var i = 0
      while (i < n) {
        val x = hashes.getLong(i)
        while (tail > head && hashes.getLong(dq(tail - 1)) >= x) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) out.add(hashes.getLong(dq(head)))
        i += 1
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Winnowing selection (the MOSS window-min rule) as ONE native pass:
  * sorted distinct minima of every `w`-window over a hash sequence;
  * fewer than `w` hashes → the global minimum. Why custom: the HOF
  * formulation (`transform(sequence(0, n-w), i -> array_min(slice(hs,
  * i+1, w)))`) re-evaluates the ENTIRE `hs` child — shingling plus one
  * md5 per shingle — for every window index inside the lambda, O(n²)
  * hashing per document (measured 150× on the sf0.1 corpus); this
  * expression evaluates its child once and runs a monotonic deque, O(n).
  */
case class WinnowSelect(child: Expression, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if w >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckFailure(
      s"winnow_select requires w >= 1, got $w")
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_select requires array<bigint>, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    WinnowUtil.select(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowUtil.select($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)

  override def prettyName: String = "winnow_select"
}

/** Runtime helper for the PQ expressions — compiled loops shared by
  * interpreted eval and generated code.
  */
object PqUtil {
  /** Nearest-codeword index per subspace: argmax of `dot − ‖c‖²/2`
    * (≡ min L2), first index wins ties. O(m·ksub·dsub), one pass over the
    * vector, no allocation beyond the m-int result.
    */
  def encode(vec: ArrayData, cb: Array[Array[Array[Double]]],
      halfNorms: Array[Array[Double]]): ArrayData = {
    val m = cb.length
    // fail loudly on a vector that doesn't span the codebook: on
    // UnsafeArrayData an out-of-range getDouble reads adjacent buffer
    // bytes SILENTLY, which would yield garbage codes instead of an error
    // (the same class of guard as minHashNearDupsIncremental's signature
    // length check)
    var dim = 0
    var jj = 0
    while (jj < m) { dim += cb(jj)(0).length; jj += 1 }
    if (vec.numElements() != dim)
      throw new IllegalArgumentException(
        s"pq_encode: vector length ${vec.numElements()} != codebook dim $dim " +
          s"(m=$m subspaces) — mixed-dimension vectors must be filtered or " +
          "padded before PQ encoding")
    val out = new Array[Int](m)
    var off = 0
    var j = 0
    while (j < m) {
      val words = cb(j)
      val dsub = words(0).length
      var best = 0
      var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < words.length) {
        val w = words(c)
        var s = 0.0
        var d = 0
        while (d < dsub) { s += vec.getDouble(off + d) * w(d); d += 1 }
        s -= halfNorms(j)(c)
        if (s > bestScore) { bestScore = s; best = c }
        c += 1
      }
      out(j) = best
      off += dsub
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC score: m table lookups, `Σ_j luts[j][code[j]]`. Fails loudly on
    * a code built with a different m/ksub than the probe's tables — an
    * out-of-range UnsafeArrayData read would return garbage scores
    * silently.
    */
  def adc(luts: ArrayData, code: ArrayData): Double = {
    val m = code.numElements()
    if (luts.numElements() != m)
      throw new IllegalArgumentException(
        s"pq_adc: code has $m subspaces but the probe tables have " +
          s"${luts.numElements()} — the code was built with a different codebook")
    var s = 0.0
    var j = 0
    while (j < m) {
      val lut = luts.getArray(j)
      val c = code.getInt(j)
      if (c < 0 || c >= lut.numElements())
        throw new IllegalArgumentException(
          s"pq_adc: code value $c out of range [0, ${lut.numElements()}) in " +
            s"subspace $j — the code was built with a different ksub")
      s += lut.getDouble(c)
      j += 1
    }
    s
  }
}

/** PQ encoding as ONE native expression: the codebook rides along as a
  * plan reference object (a foldable nested-array literal at the call
  * site, converted once at plan init), and the generated row code is a
  * single compiled call — NOT `m × ksub` inlined literal dot products,
  * which blow whole-stage codegen past the JVM method limit for
  * production codebook sizes (observed at m=16, ksub=16) and force an
  * interpreted fallback of the entire stage.
  */
case class PqEncode(vecExpr: Expression, cbExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = vecExpr
  override def right: Expression = cbExpr
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (vecExpr.dataType, cbExpr.dataType) match {
      case (ArrayType(DoubleType, _),
            ArrayType(ArrayType(ArrayType(DoubleType, _), _), _)) if cbExpr.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "pq_encode requires (array<double>, foldable array<array<array<double>>>)")
    }

  @transient private lazy val cb: Array[Array[Array[Double]]] = {
    val a = cbExpr.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(a.numElements()) { j =>
      val sub = a.getArray(j)
      Array.tabulate(sub.numElements())(c => sub.getArray(c).toDoubleArray())
    }
  }
  @transient private lazy val halfNorms: Array[Array[Double]] =
    cb.map(_.map(w => w.map(x => x * x).sum / 2.0))

  override protected def nullSafeEval(vec: Any, cbIgnored: Any): Any =
    PqUtil.encode(vec.asInstanceOf[ArrayData], cb, halfNorms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCb", cb, "double[][][]")
    val hnRef = ctx.addReferenceObj("pqHn", halfNorms, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.functions.PqUtil.encode($v, $cbRef, $hnRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(vecExpr = newLeft, cbExpr = newRight)

  override def prettyName: String = "pq_encode"
}

/** ADC score of a PQ code against a probe's per-subspace lookup tables —
  * the per-row work of a compressed ANN scan, as one compiled loop.
  */
case class PqAdc(lutsExpr: Expression, codeExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = lutsExpr
  override def right: Expression = codeExpr
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (lutsExpr.dataType, codeExpr.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "pq_adc requires (array<array<double>>, array<int>)")
    }

  override protected def nullSafeEval(luts: Any, code: Any): Any =
    PqUtil.adc(luts.asInstanceOf[ArrayData], code.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, c) => s"graft.functions.PqUtil.adc($l, $c)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(lutsExpr = newLeft, codeExpr = newRight)

  override def prettyName: String = "pq_adc"
}

/** Runtime helper for [[BpeApply]] — the per-word greedy rank-order merge
  * loop of a BPE tokenizer (the standard application algorithm: repeatedly
  * merge the lowest-rank adjacent pair present, all occurrences
  * left-to-right non-overlapping, until none of the word's pairs is in the
  * merge table). For a merge table produced by [[graft.ops.Bpe.trainBpe]]
  * this is EXACTLY equivalent to replaying the merges in rank order
  * (chained [[MergePair]] passes): a merge can only create adjacencies
  * involving its own new symbol, and a trained table never ranks a pair
  * containing a symbol before the merge that creates it — so no
  * earlier-rank pair can appear after a later-rank merge. The win is
  * complexity: cost per word is O(len²) hash probes, INDEPENDENT of the
  * merge-table size, where the chained form pays one full pass per merge
  * (30k merges = 30k chained plan nodes — unplannable).
  */
object BpeUtil {
  /** Pair key in the rank table: left NUL right (NUL can't appear inside
    * a symbol — symbols come from code points of real text).
    */
  def pairKey(a: String, b: String): String = a + "\u0000" + b

  /** Split a word into code-point symbols (what Java-regex `split("")`
    * does for the chained form — surrogate pairs stay together).
    */
  def codePointSymbols(word: String): java.util.ArrayList[String] = {
    val syms = new java.util.ArrayList[String](word.length)
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      syms.add(word.substring(i, i + n))
      i += n
    }
    syms
  }

  /** Encode one word: greedy min-rank merging to a stable subword array. */
  def encodeWord(word: String,
      ranks: java.util.HashMap[String, Integer]): Array[org.apache.spark.unsafe.types.UTF8String] = {
    var syms = codePointSymbols(word)
    var done = false
    while (!done && syms.size > 1) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var j = 0
      while (j < syms.size - 1) {
        val r = ranks.get(pairKey(syms.get(j), syms.get(j + 1)))
        if (r != null && r < bestRank) {
          bestRank = r; bestA = syms.get(j); bestB = syms.get(j + 1)
        }
        j += 1
      }
      if (bestA == null) done = true
      else {
        // merge every occurrence, left-to-right, non-overlapping — the
        // same pass MergePairUtil.merge makes
        val out = new java.util.ArrayList[String](syms.size)
        var k = 0
        while (k < syms.size) {
          if (k < syms.size - 1 && syms.get(k) == bestA && syms.get(k + 1) == bestB) {
            out.add(bestA + bestB); k += 2
          } else { out.add(syms.get(k)); k += 1 }
        }
        syms = out
      }
    }
    val res = new Array[org.apache.spark.unsafe.types.UTF8String](syms.size)
    var i = 0
    while (i < res.length) {
      res(i) = org.apache.spark.unsafe.types.UTF8String.fromString(syms.get(i))
      i += 1
    }
    res
  }
}

/** BPE application as ONE native expression: the whole merge table rides
  * along as a plan reference object (a foldable `array<array<string>>`
  * literal — `[left, right]` in rank order — hashed into a pair→rank table
  * once at plan init), and each row runs the standard greedy tokenizer
  * inner loop per word in a single compiled call. This replaces the
  * chained one-[[MergePair]]-pass-per-merge form, whose plan size grows
  * linearly with the vocabulary: at production merge counts (30k-50k) the
  * chain blows analysis/codegen long before data size matters, while here
  * vocabulary size is a DATA parameter (one hash map), not a PLAN
  * parameter — the same fix [[PqEncode]] applies to codebooks.
  *
  * A per-plan-instance bounded word cache exploits Zipf: natural-language
  * corpora repeat words, so most rows tokenize from the cache without
  * running the merge loop.
  *
  * Null semantics mirror the chained form (`flatten` over per-word
  * arrays): a null word element nulls the whole result.
  */
case class BpeApply(wordsExpr: Expression, mergesExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = wordsExpr
  override def right: Expression = mergesExpr
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // Can return null even when both inputs are non-null (a null word
  // ELEMENT nulls the result), so nullability must not derive from the
  // children: with non-nullable inputs the generated `ev.isNull`
  // assignment otherwise targets a never-declared variable and janino
  // rejects the stage — Spark then silently falls back to interpreted
  // eval, which is exactly what this expression exists to avoid.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (wordsExpr.dataType, mergesExpr.dataType) match {
      case (ArrayType(StringType, _), ArrayType(ArrayType(StringType, _), _))
          if mergesExpr.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "bpe_apply requires (array<string>, foldable array<array<string>> merge table)")
    }

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    val md = mergesExpr.eval(null).asInstanceOf[ArrayData]
    if (md != null) {
      var i = 0
      while (i < md.numElements()) {
        val pair = md.getArray(i)
        require(pair != null && pair.numElements() == 2,
          s"bpe_apply merge table entry $i must be [left, right]")
        // first (lowest) rank wins if a pair is listed twice
        m.putIfAbsent(
          BpeUtil.pairKey(pair.getUTF8String(0).toString, pair.getUTF8String(1).toString),
          Integer.valueOf(i))
        i += 1
      }
    }
    m
  }

  // Zipf cache: word → subwords. Bounded (clear-on-full keeps the common
  // head hot again within a few rows); ConcurrentHashMap because a
  // compiled stage's reference array may be probed from multiple tasks.
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[org.apache.spark.unsafe.types.UTF8String]]()

  /** Runtime entry shared by eval and codegen. Null on null word element. */
  def applyWords(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val out = new java.util.ArrayList[org.apache.spark.unsafe.types.UTF8String](n * 2)
    var i = 0
    while (i < n) {
      if (words.isNullAt(i)) return null
      val w = words.getUTF8String(i).toString
      var subs = cache.get(w)
      if (subs == null) {
        subs = BpeUtil.encodeWord(w, ranks)
        if (cache.size() >= 65536) cache.clear()
        cache.put(w, subs)
      }
      var j = 0
      while (j < subs.length) { out.add(subs(j)); j += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size)))
  }

  override protected def nullSafeEval(words: Any, mergesIgnored: Any): Any =
    applyWords(words.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpe", this, classOf[BpeApply].getName)
    nullSafeCodeGen(ctx, ev, (w, _) =>
      s"""
         |${ev.value} = $ref.applyWords($w);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeApply =
    copy(wordsExpr = newLeft, mergesExpr = newRight)

  override def prettyName: String = "bpe_apply"
}

/** Dot product of an int8-quantized code array with a per-probe double
  * weight array — the scalar-quantization (SQ) sibling of [[PqAdc]]: with
  * per-dimension affine codes `x̂_d = min_d + c_d·width_d`, a probe's
  * approximate score `Σ p_d·x̂_d` folds into `Σ p_d·min_d` (one per-probe
  * constant) plus THIS loop `Σ c_d·(p_d·width_d)` — so the corpus-side
  * scan touches only the int codes (4-16× less bandwidth than the
  * vectors) and runs one compiled multiply-add per dimension. Null on
  * length mismatch, mirroring [[FloatVecDot]] (no silent truncation).
  */
case class SqDot(codeExpr: Expression, weightsExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = codeExpr
  override def right: Expression = weightsExpr
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (codeExpr.dataType, weightsExpr.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "sq_dot requires (array<int>, array<double>)")
    }

  override protected def nullSafeEval(code: Any, weights: Any): Any = {
    val cs = code.asInstanceOf[ArrayData]
    val ws = weights.asInstanceOf[ArrayData]
    val n = cs.numElements()
    if (n != ws.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += cs.getInt(i) * ws.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, w) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $c.numElements();
         |if ($n != $w.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $c.getInt($i) * $w.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDot =
    copy(codeExpr = newLeft, weightsExpr = newRight)

  override def prettyName: String = "sq_dot"
}

/** Sign-bit binary quantization: pack a numeric vector's signs into
  * longs, 64 dimensions per word (bit `j` of word `w` set iff
  * `x[w·64+j] > 0`). The 1-bit rung of the ANN compression ladder —
  * below [[SqDot]]'s 8 bits/dim and PQ's sub-vector codes: 32-64× less
  * scan bandwidth than the float vectors, compared with one `XOR` +
  * `POPCNT` per word. Signs are invariant under L2 normalization
  * (positive scaling), so raw and normalized vectors pack identically
  * and the codes are exactly SQL-mirrorable. A null ELEMENT nulls the
  * result (no silent sign guess), hence nullable over non-null input.
  */
/** All SRP (signed-random-projection) LSH buckets of a vector, every
  * table in ONE fused native loop: element `t` of the result is table
  * `t`'s packed sign bucket (bit `p` set iff the plane-`p` projection is
  * >= 0). The ±1 hyperplanes derive from the same splitmix64 stream as
  * `Similarity.planeWeights`, and ±1 weights make each projection an
  * exact signed SUM in the same element order as `vec_dot` against the
  * literal weight arrays — so the buckets are BIT-IDENTICAL to the
  * Column-tree formulation this replaces (pinned by an OpsSpec parity
  * test).
  *
  * Why custom: the Column-tree form inlines `tables × planes` vec_dot
  * calls, EACH carrying a `dims`-element literal array — at the sf10
  * configs (11 planes × ~160 tables) that is a multi-MB expression tree
  * that blows past janino/JIT limits and evaluates interpreted (the same
  * mechanism as the round-9 `first_clean_subset` fix). Here the sign
  * matrix is one transient primitive array on the plan-reference object
  * and the work is a compiled elements × planes × tables loop.
  *
  * Null/shape semantics mirror the old form observably: a null vector,
  * a length != `dims`, a null element, or a NaN element null the WHOLE
  * result (the old form nulled every per-table bucket, which the
  * downstream isnotnull(bucket) filter dropped identically).
  */
case class SrpBands(child: Expression, planes: Int, tables: Int, dims: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(planes >= 1 && planes <= 63, "planes must be in [1, 63]")
  require(tables >= 1, "tables must be >= 1")
  require(dims >= 1, "dims must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"srp_bands requires array<float> or array<double>, got ${other.simpleString}")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** +1/-1 sign for (table, plane, d) — the splitmix64 low bit, exactly
    * `Similarity.planeWeights`' derivation. Laid out [table][plane][d]
    * flat; built once per plan instance.
    */
  @transient private lazy val signs: Array[Boolean] = {
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    val out = new Array[Boolean](tables * planes * dims)
    var t = 0
    while (t < tables) {
      var p = 0
      while (p < planes) {
        var d = 0
        while (d < dims) {
          out((t * planes + p) * dims + d) =
            (splitmix(t.toLong << 48 | p.toLong << 32 | d) & 1L) == 1L
          d += 1
        }
        p += 1
      }
      t += 1
    }
    out
  }

  /** The runtime kernel (also called from generated code). */
  def compute(input: ArrayData): ArrayData = {
    if (input == null || input.numElements() != dims) return null
    val v = new Array[Double](dims)
    var d = 0
    while (d < dims) {
      if (input.isNullAt(d)) return null
      val x = if (isFloat) input.getFloat(d).toDouble else input.getDouble(d)
      if (java.lang.Double.isNaN(x)) return null
      v(d) = x
      d += 1
    }
    val buckets = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        val base = (t * planes + p) * dims
        var sum = 0.0
        var i = 0
        while (i < dims) {
          sum += (if (signs(base + i)) v(i) else -v(i))
          i += 1
        }
        if (sum >= 0) bucket |= (1L << p)
        p += 1
      }
      buckets(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buckets)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srp", this, classOf[SrpBands].getName)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SrpBands =
    copy(child = newChild)

  override def prettyName: String = "srp_bands"
}

case class SignPack(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_pack requires array<float> or array<double>, got ${other.simpleString}")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val words = new Array[Long]((n + 63) / 64)
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return null
      val x = if (isFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
      if (x > 0.0) words(i / 64) |= 1L << (i % 64)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(words)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val words = ctx.freshName("words")
      s"""
         |int $n = $a.numElements();
         |long[] $words = new long[($n + 63) / 64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  if (((double) $a.$get($i)) > 0.0) {
         |    $words[$i / 64] |= 1L << ($i % 64);
         |  }
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($words);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignPack =
    copy(child = newChild)

  override def prettyName: String = "sign_pack"
}

/** Hamming distance between two packed sign codes ([[SignPack]] output):
  * `Σ_w popcount(a_w ^ b_w)` — one fused loop, `Long.bitCount` per word.
  * Null on word-count mismatch (codes from different dimensionalities
  * must not compare silently), mirroring [[FloatVecDot]].
  */
case class HammingDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "hamming_dist requires (array<bigint>, array<bigint>)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var s = 0
    var i = 0
    while (i < n) { s += java.lang.Long.bitCount(xs.getLong(i) ^ ys.getLong(i)); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $s = 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDist =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "hamming_dist"
}

/** Bloom-filter membership over a 64-bit hash column, against a
  * pre-built, serialized `org.apache.spark.util.sketch.BloomFilter`
  * (Spark's own sketch — the same one `DataFrameStatFunctions
  * .bloomFilter` builds and runtime row-level filtering ships to scans).
  *
  * The filter arrives as a FOLDABLE binary expression (a literal): it is
  * deserialized once per executor at plan init, never per row, and the
  * generated code is a single `mightContainLong` call — a few L1 probes —
  * inside whole-stage codegen. This is the membership primitive for
  * deny-lists too big to broadcast as exact hash sets (a 1e9-item set at
  * 1% FPP is ~1.2 GB of exact longs but ~1.1 GB bloom... at 1e8 items:
  * ~800 MB exact vs ~115 MB bloom); the bloom's false positives are
  * resolved by an exact verify pass on the (tiny) hit set.
  */
case class BloomMightContain(bloomExpr: Expression, valueExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = bloomExpr
  override def right: Expression = valueExpr
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (bloomExpr.dataType, valueExpr.dataType) match {
      case (BinaryType, LongType) if bloomExpr.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (BinaryType, LongType) =>
        TypeCheckResult.TypeCheckFailure(
          "bloom_might_contain requires a foldable (literal) bloom filter")
      case (b, v) => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain requires (binary, bigint), got " +
          s"(${b.simpleString}, ${v.simpleString})")
    }

  @transient private lazy val bloom: org.apache.spark.util.sketch.BloomFilter = {
    val bytes = bloomExpr.eval(null).asInstanceOf[Array[Byte]]
    if (bytes == null) null
    else org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  }

  // null bloom bytes or null hash → null (BinaryExpression's null
  // propagation); the serialized filter itself is only touched via the
  // lazily-deserialized `bloom`, never per row
  override protected def nullSafeEval(bloomBytes: Any, value: Any): Any =
    bloom.mightContainLong(value.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference the DESERIALIZED filter: the generated row loop is one
    // mightContainLong call (a few cache-line probes), no per-row decode.
    // When the bloom literal is null the body never runs (null-safe gen).
    val ref = ctx.addReferenceObj("bloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (_, v) => s"${ev.value} = $ref.mightContainLong($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(bloomExpr = newLeft, valueExpr = newRight)

  override def prettyName: String = "bloom_might_contain"
}

/** Runtime helper for [[SortedBinContains]]: binary search over an
  * ArrayData of byte arrays, unsigned-lexicographic compare — the SAME
  * total order `sort_array` gives BinaryType, so an array sorted by Spark
  * is searchable here with no re-sort.
  */
object SortedBinSearch {
  def compareUnsigned(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x - y
      i += 1
    }
    a.length - b.length
  }

  def contains(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      key: Array[Byte]): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = compareUnsigned(arr.getBinary(mid), key)
      if (c == 0) return true
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    false
  }
}

/** Membership probe against a SORTED array<binary>: O(log n) binary
  * search per call where `array_contains` scans O(n). Why custom: the
  * boilerplate scrubber probes every SEGMENT of every document against
  * the frequent-segment digest store, which rides as one broadcast
  * array row — with `array_contains` the work is |segments| × |store|,
  * and the store grows WITH the corpus (measured 43 → 1,683 → 47,475
  * digests at sf0.01/sf1/sf30 on the synthetic corpus), i.e. the scrub
  * goes quadratic exactly when scale arrives (measured 201× cost for
  * 30× data: 1.16 s → 234 s, bench_r11_sf30_cheap.json pre-fix). The
  * caller must hand the array sorted by Spark's BinaryType order
  * (`sort_array`); elements may be any length (unsigned-lexicographic,
  * shorter-prefix-first — identical to Spark's ordering).
  */
case class SortedBinContains(arrExpr: Expression, keyExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = arrExpr
  override def right: Expression = keyExpr
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (arrExpr.dataType, keyExpr.dataType) match {
      case (ArrayType(BinaryType, _), BinaryType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, k) => TypeCheckResult.TypeCheckFailure(
        s"sorted_bin_contains requires (array<binary> sorted ascending, " +
          s"binary), got (${a.simpleString}, ${k.simpleString})")
    }

  override protected def nullSafeEval(arr: Any, key: Any): Any =
    SortedBinSearch.contains(
      arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      key.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, k) =>
      s"${ev.value} = graft.functions.SortedBinSearch.contains($a, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedBinContains =
    copy(arrExpr = newLeft, keyExpr = newRight)

  override def prettyName: String = "sorted_bin_contains"
}

/** Registration + Column-level API for graft's native expressions. */
object GraftFunctions {

  // sessions whose first register() call already force-installed graft's
  // builders — weak keys so dropped sessions don't leak
  private val installed =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotently register graft expressions with a session. The first
    * call per session force-installs every builder (createOrReplace, so a
    * user temp function registered BEFORE graft's first use cannot shadow
    * graft's semantics); later calls are no-ops, keeping logs free of
    * per-query "function replaced" warnings. The flip side is deliberate:
    * a user who re-registers one of these names AFTER graft's first call
    * owns it for the rest of the session — the session owner outranks the
    * library, and silently re-stealing the name back on every operator
    * call would be worse than honoring their override.
    */
  def register(spark: SparkSession): Unit =
    if (installed.putIfAbsent(spark, java.lang.Boolean.TRUE) == null) {
      val registry = spark.sessionState.functionRegistry
      def add(name: String, builder: Seq[Expression] => Expression): Unit =
        registry.createOrReplaceTempFunction(name, builder, "built-in")
      add("vec_dot", exprs => FloatVecDot(exprs(0), exprs(1)))
      add("minhash_sig", exprs =>
        ArrayMinHash(exprs(0), exprs(1).eval().asInstanceOf[Number].intValue()))
      add("word_shingles", exprs =>
        WordShingles(exprs(0), exprs(1).eval().asInstanceOf[Number].intValue()))
      add("simhash60", exprs => SimHash60(exprs(0)))
      add("simhash120", exprs => SimHash120(exprs(0)))
      add("array_sum", exprs => ArraySum(exprs(0)))
      add("array_sum_squares", exprs => ArraySum(exprs(0), squares = true))
      add("array_median", exprs => ArrayMedian(exprs(0)))
      add("vec_l2normalize", exprs => VecL2Normalize(exprs(0)))
      add("topk_by_score", exprs =>
        TopKByScore(exprs(0), exprs(1), exprs(2).eval().asInstanceOf[Number].intValue()))
      add("bloom_might_contain", exprs => BloomMightContain(exprs(0), exprs(1)))
      add("sorted_bin_contains", exprs => SortedBinContains(exprs(0), exprs(1)))
      add("hash_embed", exprs =>
        HashEmbed(exprs(0), exprs(1).eval().asInstanceOf[Number].intValue()))
      add("pq_encode", exprs => PqEncode(exprs(0), exprs(1)))
      add("pq_adc", exprs => PqAdc(exprs(0), exprs(1)))
      add("winnow_select", exprs =>
        WinnowSelect(exprs(0), exprs(1).eval().asInstanceOf[Number].intValue()))
      add("map_lookup_long", exprs =>
        MapLookupLong(exprs(0), exprs(1), exprs(2).eval().asInstanceOf[Number].longValue()))
      add("merge_pair", exprs => MergePair(exprs(0), exprs(1), exprs(2)))
      add("bpe_apply", exprs => BpeApply(exprs(0), exprs(1)))
      add("sq_dot", exprs => SqDot(exprs(0), exprs(1)))
      add("sign_pack", exprs => SignPack(exprs(0)))
      add("srp_bands", { exprs =>
        // same analysis-time guard as first_clean_subset below: eval()
        // runs at registration, so a non-foldable or non-integral config
        // argument must raise a clean AnalysisException, not a raw
        // ClassCastException/NPE from the Number cast
        def foldInt(i: Int, name: String): Int = {
          val e = exprs(i)
          val ok = e.foldable && (e.dataType match {
            case org.apache.spark.sql.types.IntegerType
               | org.apache.spark.sql.types.LongType
               | org.apache.spark.sql.types.ShortType
               | org.apache.spark.sql.types.ByteType => true
            case _ => false
          })
          def fail(value: String): Nothing =
            throw new org.apache.spark.sql.AnalysisException(
              "INVALID_PARAMETER_VALUE.PATTERN",
              Map("parameter" -> s"`$name`", "functionName" -> "`srp_bands`",
                "value" -> value),
              Option.empty[Throwable])
          if (!ok) fail("must be a constant integer")
          val v = e.eval()
          if (v == null) fail("must not be null")
          v.asInstanceOf[Number].intValue()
        }
        SrpBands(exprs(0), foldInt(1, "planes"), foldInt(2, "tables"),
          foldInt(3, "dims"))
      })
      add("hamming_dist", exprs => HammingDist(exprs(0), exprs(1)))
      add("media_meta", exprs => MediaMeta(exprs(0)))
      add("deflate_len", exprs => DeflateLen(exprs(0)))
      add("contains_any", exprs => ContainsAny(exprs(0), exprs(1)))
      add("nfc_normalize", exprs => NfcNormalize(exprs(0)))
      add("first_clean_subset", { exprs =>
        // eval() runs at registration/analysis time, so a non-foldable or
        // non-array<bigint> argument must be a clean analysis error, not a
        // raw ClassCastException/NPE from the cast below
        val ok = exprs(1).foldable && (exprs(1).dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, _) => true
          case _ => false
        })
        def fail(subClass: String, extra: Map[String, String]): Nothing =
          throw new org.apache.spark.sql.AnalysisException(
            s"INVALID_PARAMETER_VALUE.$subClass",
            Map("parameter" -> "`subsets`",
              "functionName" -> "`first_clean_subset`") ++ extra,
            Option.empty[Throwable])
        if (!ok) fail("PATTERN",
          Map("value" -> "second argument must be a constant array<bigint>"))
        val arr = exprs(1).eval()
        if (arr == null) fail("NULL", Map.empty)
        FirstCleanSubset(exprs(0),
          arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toLongArray().toSeq)
      })
      add("first_clean_subset2", { exprs =>
        // same analysis-time discipline as first_clean_subset: the two
        // mask arguments must be constant array<bigint> of equal length
        def foldMasks(i: Int, name: String): Seq[Long] = {
          val ok = exprs(i).foldable && (exprs(i).dataType match {
            case org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType, _) => true
            case _ => false
          })
          def fail(subClass: String, extra: Map[String, String]): Nothing =
            throw new org.apache.spark.sql.AnalysisException(
              s"INVALID_PARAMETER_VALUE.$subClass",
              Map("parameter" -> s"`$name`",
                "functionName" -> "`first_clean_subset2`") ++ extra,
              Option.empty[Throwable])
          if (!ok) fail("PATTERN",
            Map("value" -> "mask argument must be a constant array<bigint>"))
          val arr = exprs(i).eval()
          if (arr == null) fail("NULL", Map.empty)
          arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toLongArray().toSeq
        }
        FirstCleanSubset2(exprs(0), exprs(1),
          foldMasks(2, "masks0"), foldMasks(3, "masks1"))
      })
    }

  /** Dot product column; requires `register(spark)` on the session first. */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** MinHash signature column; requires `register(spark)` first. */
  def minHashSig(baseHashes: Column, numHashes: Int): Column =
    call_function("minhash_sig", baseHashes, org.apache.spark.sql.functions.lit(numHashes))

  /** Word-shingle column; requires `register(spark)` first. */
  def wordShingles(text: Column, k: Int): Column =
    call_function("word_shingles", text, org.apache.spark.sql.functions.lit(k))

  /** SimHash column (60-bit, md5-derived); requires `register(spark)` first. */
  def simHash60(text: Column): Column = call_function("simhash60", text)

  /** Wide SimHash column (120-bit as two 60-bit lanes, `array<bigint>`,
    * element 0 == [[simHash60]]); requires `register(spark)` first.
    */
  def simHash120(text: Column): Column = call_function("simhash120", text)

  /** DEFLATE length column; requires `register(spark)` first. */
  def deflateLen(text: Column): Column = call_function("deflate_len", text)

  /** All SRP LSH buckets (one long per table) of a vector in one fused
    * native loop; requires `register(spark)` first.
    */
  def srpBands(vec: Column, planes: Int, tables: Int, dims: Int): Column =
    call_function("srp_bands", vec,
      org.apache.spark.sql.functions.lit(planes),
      org.apache.spark.sql.functions.lit(tables),
      org.apache.spark.sql.functions.lit(dims))

  /** Unicode NFC normalization column; requires `register(spark)` first. */
  def nfcNormalize(text: Column): Column = call_function("nfc_normalize", text)

  /** Multi-pattern substring containment (Aho–Corasick over a literal
    * pattern list); requires `register(spark)` first.
    */
  def containsAny(text: Column, patterns: Seq[String]): Column =
    call_function("contains_any", text,
      org.apache.spark.sql.functions.typedLit(patterns))

  /** Native numeric-array sum (double); requires `register(spark)` first. */
  def arraySum(arr: Column): Column = call_function("array_sum", arr)

  /** Native sum of squares of a numeric array (double); requires
    * `register(spark)` first.
    */
  def arraySumSquares(arr: Column): Column = call_function("array_sum_squares", arr)

  /** Native interpolated median of a numeric array (double); requires
    * `register(spark)` first.
    */
  def arrayMedian(arr: Column): Column = call_function("array_median", arr)

  /** Native L2 normalization (array<double>, null on zero/null vectors);
    * requires `register(spark)` first.
    */
  def vecL2Normalize(vec: Column): Column = call_function("vec_l2normalize", vec)

  /** Bounded top-k aggregate by (score desc, id asc); requires
    * `register(spark)` first. Evaluates to `array<struct<id, score>>`.
    */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    call_function("topk_by_score", score, id, org.apache.spark.sql.functions.lit(k))

  /** Feature-hashing embedding of a token array; requires
    * `register(spark)` first.
    */
  def hashEmbed(tokens: Column, dim: Int): Column =
    call_function("hash_embed", tokens, org.apache.spark.sql.functions.lit(dim))

  /** Winnowed (sorted distinct window-min) selection over a hash array;
    * requires `register(spark)` first.
    */
  def winnowSelect(hashes: Column, w: Int): Column =
    call_function("winnow_select", hashes, org.apache.spark.sql.functions.lit(w))

  /** O(1) hash probe of a foldable map<string,bigint> literal (missing
    * keys → `default`); requires `register(spark)` first.
    */
  def mapLookupLong(mapLit: Column, key: Column, default: Long): Column =
    call_function("map_lookup_long", mapLit, key,
      org.apache.spark.sql.functions.lit(default))

  /** Merge adjacent (a, b) symbol pairs in an array<string>; requires
    * `register(spark)` first.
    */
  def mergePair(symbols: Column, a: Column, b: Column): Column =
    call_function("merge_pair", symbols, a, b)

  /** BPE-tokenize a word array against a FULL merge table shipped as one
    * foldable `array<array<string>>` literal (`[left, right]` in rank
    * order); requires `register(spark)` first.
    */
  def bpeApply(words: Column, mergeTable: Column): Column =
    call_function("bpe_apply", words, mergeTable)

  /** Dot of int8-quantized codes with per-probe weights (the SQ scan
    * primitive); requires `register(spark)` first.
    */
  def sqDot(codes: Column, weights: Column): Column =
    call_function("sq_dot", codes, weights)

  /** Sign-bit packed binary code of a numeric vector (64 dims/long);
    * requires `register(spark)` first.
    */
  def signPack(vec: Column): Column = call_function("sign_pack", vec)

  /** Hamming distance between two packed sign codes; requires
    * `register(spark)` first.
    */
  def hammingDist(a: Column, b: Column): Column =
    call_function("hamming_dist", a, b)

  /** Container-header parse of a binary media payload
    * (struct<format,width,height,sample_rate,n_frames>, NULL when no
    * container is recognized); requires `register(spark)` first.
    */
  def mediaMeta(payload: Column): Column = call_function("media_meta", payload)

  /** PQ code of a (normalized, array<double>) vector against a codebook
    * literal; requires `register(spark)` first.
    */
  def pqEncode(vec: Column, codebooks: Column): Column =
    call_function("pq_encode", vec, codebooks)

  /** ADC score of a PQ code against per-subspace lookup tables; requires
    * `register(spark)` first.
    */
  def pqAdc(luts: Column, code: Column): Column =
    call_function("pq_adc", luts, code)

  /** Bloom membership of a 64-bit hash against a serialized
    * `org.apache.spark.util.sketch.BloomFilter`; requires
    * `register(spark)` first. The bytes ship as a literal into the plan
    * (deserialized once per executor, probed per row in codegen).
    */
  def bloomMightContain(bloomBytes: Array[Byte], hash: Column): Column =
    call_function("bloom_might_contain",
      org.apache.spark.sql.functions.lit(bloomBytes), hash)

  /** O(log n) membership probe against a SORTED array<binary> column
    * (Spark BinaryType order, i.e. `sort_array`'s); requires
    * `register(spark)` first. The scale replacement for
    * `array_contains` when the array is a corpus-growing store.
    */
  def sortedBinContains(sortedArr: Column, key: Column): Column =
    call_function("sorted_bin_contains", sortedArr, key)

  /** 60-bit non-negative integer from the leading 15 hex chars of the md5
    * of a binary column — THE shared deterministic hash for every
    * oracle-checkable operator (multimodal stub codec, rolling
    * fingerprint, sampling). Pure builtins, no registration needed.
    * 15 hex chars = 60 bits keeps the value positive in a signed long, so
    * Spark `pmod` and SQL `%` agree; the DuckDB mirror is
    * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)` (both engines hash
    * the UTF-8 bytes). Changing this derivation means changing
    * `SparkEntry.oracleMd5Long` in lockstep.
    */
  def md5Long60(bytes: Column): Column = {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    conv(substring(md5(bytes), 1, 15), 16, 10).cast("long")
  }
}

/** Runtime helper for WordShingles — shared by interpreted eval and
  * generated code (the loop is string-heavy; a static call keeps the
  * generated method small while avoiding any interpreter overhead).
  */
object ShingleUtil {
  def shingles(text: org.apache.spark.unsafe.types.UTF8String, k: Int): ArrayData = {
    val s = text.toString.toLowerCase
    val tokens = new java.util.ArrayList[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (sb.length > 0) { tokens.add(sb.toString); sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) tokens.add(sb.toString)
    val n = tokens.size
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(
      new Array[AnyRef](0))
    val out = new Array[AnyRef](n - k + 1)
    var j = 0
    while (j <= n - k) {
      val b = new java.lang.StringBuilder(tokens.get(j))
      var m = 1
      while (m < k) { b.append(' ').append(tokens.get(j + m)); m += 1 }
      out(j) = org.apache.spark.unsafe.types.UTF8String.fromString(b.toString)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native word-shingling: lowercase alphanumeric tokenization + k-gram
  * join in one pass. Replaces a `split`/`filter`/`transform(sequence,
  * slice, concat_ws)` HOF chain that is interpreted and re-walks the token
  * array per shingle — shingling is the dominant per-row cost of MinHash
  * dedup, so this is the scan-throughput lever.
  */
case class WordShingles(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires string, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.shingles(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleUtil.shingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

/** Runtime helper for SimHash60: tokenize (lowercase alnum runs), hash
  * each token, vote ±1 per bit, pack the sign vector.
  *
  * The per-token hash is md5-derived — the integer value of the digest's
  * leading 15 hex chars, the exact derivation of
  * [[GraftFunctions.md5Long60]] — NOT xxhash64. Nothing in SimHash
  * requires a particular hash family, and md5 is the one both engines
  * share: DuckDB recomputes the full per-document simhash
  * (`CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)` → 60-lane vote →
  * pack) and checks all-pairs `bit_count(xor(a, b))` exactly, which turns
  * the SimHash near-dup operator from rows-only into hash-verified.
  * 60 bits (not 64) because 15 hex chars keep the value positive in a
  * signed long on both engines; the ~3% Hamming resolution loss is
  * irrelevant at radius 8.
  */
object SimHashUtil {
  /** Bit width of the simhash sign vector (and of the banding below). */
  val Bits = 60

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** md5-derived 60-bit token hash: top 60 bits of the digest read
    * big-endian = integer value of the leading 15 hex chars (the
    * md5Long60 derivation, bit-identical in DuckDB).
    */
  def tokenHash60(token: String): Long = {
    val d = md5.get().digest(
      token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  def simhash(text: org.apache.spark.unsafe.types.UTF8String): Long = {
    val s = text.toString.toLowerCase
    val counts = new Array[Int](Bits)
    val sb = new java.lang.StringBuilder
    def vote(): Unit = {
      if (sb.length > 0) {
        val h = tokenHash60(sb.toString)
        var j = 0
        while (j < Bits) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
        sb.setLength(0)
      }
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c) else vote()
      i += 1
    }
    vote()
    var out = 0L
    var j = 0
    while (j < Bits) { if (counts(j) >= 0) out |= (1L << j); j += 1 }
    out
  }

  /** Total bit width of the wide (two-lane) sketch. */
  val WideBits = 2 * Bits

  /** Both 60-bit lanes of one token's md5 digest: lane 0 is
    * [[tokenHash60]] exactly (hex chars 1-15, bytes 0-7 >>> 4) and lane 1
    * is the digest's SECOND word read the same way (hex chars 17-31,
    * bytes 8-15 >>> 4) — one md5 per token feeds both lanes, and each
    * lane stays positive in a signed 64-bit integer on both engines
    * (`CAST('0x' || substr(md5(tok), 17, 15) AS BIGINT)` in DuckDB).
    */
  private def tokenHash120(token: String, out: Array[Long]): Unit = {
    val d = md5.get().digest(
      token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h0 = 0L
    var h1 = 0L
    var i = 0
    while (i < 8) {
      h0 = (h0 << 8) | (d(i) & 0xffL)
      h1 = (h1 << 8) | (d(i + 8) & 0xffL)
      i += 1
    }
    out(0) = h0 >>> 4
    out(1) = h1 >>> 4
  }

  /** 120-bit (two-lane) simhash in one pass: element 0 is [[simhash]]
    * EXACTLY (same tokenizer, same lane-0 token hash, same >= 0 sign
    * rule), element 1 votes with the same digest's second word — so the
    * wide sketch costs one md5 per token, not two, and the narrow sketch
    * is always its first lane (the parity test in OpsSpec pins that).
    * Empty/token-less text packs all-ones in both lanes, the [[simhash]]
    * convention per lane.
    */
  def simhash2(text: org.apache.spark.unsafe.types.UTF8String): Array[Long] = {
    val s = text.toString.toLowerCase
    val counts = new Array[Int](WideBits)
    val h = new Array[Long](2)
    val sb = new java.lang.StringBuilder
    def vote(): Unit = {
      if (sb.length > 0) {
        tokenHash120(sb.toString, h)
        var j = 0
        while (j < Bits) {
          if (((h(0) >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          if (((h(1) >>> j) & 1L) == 1L) counts(Bits + j) += 1 else counts(Bits + j) -= 1
          j += 1
        }
        sb.setLength(0)
      }
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c) else vote()
      i += 1
    }
    vote()
    var s0 = 0L
    var s1 = 0L
    var j = 0
    while (j < Bits) {
      if (counts(j) >= 0) s0 |= (1L << j)
      if (counts(Bits + j) >= 0) s1 |= (1L << j)
      j += 1
    }
    Array(s0, s1)
  }

  /** [[simhash2]] boxed as Spark ArrayData — shared by SimHash120's
    * interpreted eval and its generated code. */
  def simhash2Data(
      text: org.apache.spark.unsafe.types.UTF8String,
  ): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(simhash2(text))
}

/** Native 60-bit SimHash of a document's token stream — single pass,
  * no token array, no interpreted 60-lane voting tree. See [[SimHashUtil]]
  * for why the token hash is md5-derived and the width is 60.
  */
/** DEFLATE-compressed byte length of a string's UTF-8 bytes — the
  * compression-ratio quality signal (highly compressible text is
  * template/boilerplate/repetition; used by CCNet-class pipelines as a
  * cheap redundancy meter that catches structure n-gram counts miss).
  * Raw deflate (no zlib header), fixed compression level, thread-local
  * `Deflater` reuse so the hot path allocates nothing per row.
  * Deterministic for a given JDK's zlib; cross-JVM-vendor stability is
  * NOT contracted (hence rows-only at the driver, unit-contracted).
  */
case class DeflateLen(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"deflate_len requires string, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    DeflateUtil.deflateLen(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeflateUtil.deflateLen($c)")

  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)

  override def prettyName: String = "deflate_len"
}

/** Runtime helper for [[DeflateLen]] — shared by interpreted eval and
  * generated code.
  */
object DeflateUtil {
  // Deflater is stateful and not thread-safe; one per executor thread,
  // reset per call (cheap) instead of allocated per row (native memory)
  private val local = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
  }
  private val buf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](8192)
  }

  def deflateLen(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = local.get()
    d.reset()
    d.setInput(s.getBytes)
    d.finish()
    val b = buf.get()
    var total = 0L
    while (!d.finished()) total += d.deflate(b)
    total
  }
}

/** Unicode NFC normalization (canonical composition) as a native
  * expression. Web text mixes precomposed and combining-mark encodings
  * of the SAME characters (é as U+00E9 vs e + U+0301), which evades
  * every digest-keyed dedup/decontamination pass — md5 of the two
  * byte sequences differs although the text is canonically identical.
  * Run `nfc_normalize` before digesting wherever the corpus isn't
  * ASCII-clean. NFC (not NFKC) deliberately: canonical equivalence
  * only — ligatures, fullwidth forms, and superscripts stay distinct
  * (collapsing those is a lossy editorial choice, not hygiene).
  *
  * Fast paths keep the common case allocation-free inside codegen: an
  * all-ASCII string (bytes == chars) or an already-normalized string
  * returns the input UTF8String untouched; only actually-denormalized
  * rows pay the String round trip.
  */
case class NfcNormalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires string, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    NfcUtil.nfc(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcUtil.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

/** Runtime helper for [[NfcNormalize]] — shared by interpreted eval and
  * generated code.
  */
object NfcUtil {
  import java.text.Normalizer

  def nfc(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    // ASCII fast path: one byte per char means no mark could compose
    if (s.numBytes == s.numChars) return s
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}

/** Aho–Corasick multi-pattern substring automaton over UTF-8 bytes
  * (Aho & Corasick 1975) — built ONCE per plan from a foldable pattern
  * list and probed per row in O(text bytes), independent of pattern
  * count. Transitions live in one open-addressed long→int table
  * (key = node << 8 | byte) so a 100k-phrase blocklist costs ~4 bytes
  * per pattern byte, not 256-way dense nodes. Empty patterns are
  * ignored (a match-everything pattern is never what a blocklist
  * means).
  */
final class AhoCorasick(patterns: Array[Array[Byte]]) extends Serializable {
  private val pats = patterns.filter(p => p != null && p.length > 0)
  // open-addressed transition table, capacity = power of two ≥ 2× edges
  private val cap: Int = {
    val need = math.max(16, pats.map(_.length).sum * 2)
    Integer.highestOneBit(need - 1) << 1
  }
  private val mask = cap - 1
  private val tKeys = new Array[Long](cap) // stored key + 1; 0 = empty
  private val tVals = new Array[Int](cap)

  private def put(node: Int, b: Byte, child: Int): Unit = {
    val key = (node.toLong << 8) | (b & 0xFFL)
    var i = (java.lang.Long.hashCode(key * 0x9E3779B97F4A7C15L) & mask)
    while (tKeys(i) != 0 && tKeys(i) != key + 1) i = (i + 1) & mask
    tKeys(i) = key + 1
    tVals(i) = child
  }

  /** Child of (node, byte) or -1. */
  private def get(node: Int, b: Byte): Int = {
    val key = (node.toLong << 8) | (b & 0xFFL)
    var i = (java.lang.Long.hashCode(key * 0x9E3779B97F4A7C15L) & mask)
    while (tKeys(i) != 0) {
      if (tKeys(i) == key + 1) return tVals(i)
      i = (i + 1) & mask
    }
    -1
  }

  private val (fail: Array[Int], terminal: Array[Boolean]) = {
    // trie
    val childLists = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[(Byte, Int)])
    val term = scala.collection.mutable.ArrayBuffer(false)
    for (p <- pats) {
      var node = 0
      for (b <- p) {
        var next = get(node, b)
        if (next < 0) {
          next = childLists.length
          childLists += scala.collection.mutable.ArrayBuffer.empty[(Byte, Int)]
          term += false
          put(node, b, next)
          childLists(node) += ((b, next))
        }
        node = next
      }
      term(node) = true
    }
    // BFS failure links; terminal propagates through them
    val f = new Array[Int](childLists.length)
    val queue = new java.util.ArrayDeque[Int]()
    childLists(0).foreach { case (_, c) => f(c) = 0; queue.add(c) }
    while (!queue.isEmpty) {
      val u = queue.poll()
      if (term(f(u))) term(u) = true
      childLists(u).foreach { case (b, c) =>
        var v = f(u)
        var w = get(v, b)
        while (v != 0 && w < 0) { v = f(v); w = get(v, b) }
        f(c) = if (w >= 0 && w != c) w else 0
        queue.add(c)
      }
    }
    (f, term.toArray)
  }

  val isEmpty: Boolean = pats.isEmpty

  /** True iff any pattern occurs as a substring of the bytes. */
  def matches(bytes: Array[Byte]): Boolean = {
    if (isEmpty) return false
    var state = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      var next = get(state, b)
      while (state != 0 && next < 0) { state = fail(state); next = get(state, b) }
      if (next >= 0) state = next
      if (terminal(state)) return true
      i += 1
    }
    false
  }

  def matchesUtf8(s: org.apache.spark.unsafe.types.UTF8String): Boolean =
    matches(s.getBytes)
}

/** `contains_any(text, patterns)` — does the text contain ANY of the
  * pattern strings as a substring? The patterns must be a FOLDABLE
  * array<string> (the blocklist ships with the plan); matching runs the
  * [[AhoCorasick]] automaton built once at plan init — O(text) per row
  * regardless of list size, where the `contains(...) OR contains(...)`
  * chain is O(list × text) and its codegen grows with the list. Matching
  * is byte-exact (case-sensitive): lowercase the text/patterns at the
  * call site for case-insensitive blocklists.
  */
case class ContainsAny(textExpr: Expression, patternsExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = textExpr
  override def right: Expression = patternsExpr
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (textExpr.dataType, patternsExpr.dataType) match {
      case (StringType, ArrayType(StringType, _)) if patternsExpr.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          "contains_any requires a foldable (literal) pattern array")
      case (t, p) => TypeCheckResult.TypeCheckFailure(
        s"contains_any requires (string, array<string>), got " +
          s"(${t.simpleString}, ${p.simpleString})")
    }

  @transient private lazy val automaton: AhoCorasick = {
    val arr = patternsExpr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (arr == null) null
    else {
      val pats = Array.tabulate(arr.numElements()) { i =>
        if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      }
      new AhoCorasick(pats)
    }
  }

  override protected def nullSafeEval(text: Any, patsIgnored: Any): Any =
    automaton.matchesUtf8(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ac", automaton, classOf[AhoCorasick].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $ref.matchesUtf8($t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ContainsAny =
    copy(textExpr = newLeft, patternsExpr = newRight)

  override def prettyName: String = "contains_any"
}

/** Index of the FIRST block subset fully clean of `diff` bits: returns
  * the least t with `(diff & masks(t)) == 0`, or -1 when none — the
  * exactly-once emission rule of the banded simhash self-join
  * ([[graft.ops.Dedup.simHashNearDupsFromSims]]): a candidate pair's
  * matching tables are exactly the subsets whose blocks its XOR leaves
  * untouched, so each join instance keeps itself only when its table is
  * the pair's first match.
  *
  * This exists as a NATIVE expression for a codegen-size reason, not
  * elegance: the same rule written as a Column tree (a per-table
  * when-chain, or bitmask arithmetic over a shared sub-expression) gets
  * inlined by the optimizer into the join CONDITION with the shared
  * sub-expression duplicated per use — at 45 tables the generated
  * predicate method exceeds the JVM's ~8k-bytecode JIT ceiling and the
  * join evaluates it in the interpreter, ~100× slower on the
  * billion-candidate emission. Here the loop is a handful of bytecodes
  * around a referenced mask array.
  */
case class FirstCleanSubset(child: Expression, masks: Seq[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"first_clean_subset requires bigint, got ${other.simpleString}")
  }

  @transient private lazy val maskArr: Array[Long] = masks.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val diff = input.asInstanceOf[Long]
    var t = 0
    while (t < maskArr.length) {
      if ((diff & maskArr(t)) == 0L) return t
      t += 1
    }
    -1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("subsetMasks", maskArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val t = ctx.freshName("t")
      s"""
         |${ev.value} = -1;
         |for (int $t = 0; $t < $m.length; $t++) {
         |  if (($c & $m[$t]) == 0L) { ${ev.value} = $t; break; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): FirstCleanSubset =
    copy(child = newChild)

  override def prettyName: String = "first_clean_subset"
}

case class SimHash60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash60 requires string, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SimHashUtil.simhash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashUtil.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)

  override def prettyName: String = "simhash60"
}

/** Native 120-bit (two-lane) SimHash — `array<bigint>` of the two 60-bit
  * lane sketches, element 0 always equal to [[SimHash60]] of the same
  * text. One tokenize + one md5 per token feeds both lanes (see
  * [[SimHashUtil.simhash2]]); DuckDB recomputes both lanes from the same
  * digest (`substr(md5(tok), 1, 15)` / `substr(md5(tok), 17, 15)`), so
  * wide near-dup rows stay hash-verified like the narrow ones. The wide
  * sketch exists for the resolution argument in SCALING_r11.md §1c: at a
  * FIXED absolute radius, doubling sketch width doubles banding-block
  * width (restoring key selectivity on low-entropy corpora) and tightens
  * the match fraction (halving the qualifying-pair density) — the
  * prescribed escape from the radius-8-of-60-bits frontier.
  */
case class SimHash120(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash120 requires string, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SimHashUtil.simhash2Data(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashUtil.simhash2Data($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash120 =
    copy(child = newChild)

  override def prettyName: String = "simhash120"
}

/** Two-lane twin of [[FirstCleanSubset]]: the least table index t whose
  * subset masks BOTH lane diffs to zero — `(d0 & masks0(t)) == 0 &&
  * (d1 & masks1(t)) == 0` — or -1. Exists for the same reason as the
  * one-lane form (a Column-tree per-table AND chain duplicates shared
  * subexpressions until the generated join predicate blows the JIT
  * bytecode ceiling); the wide banding's subsets span two longs, so the
  * mask pair rides as two parallel constant arrays.
  */
case class FirstCleanSubset2(d0: Expression, d1: Expression,
    masks0: Seq[Long], masks1: Seq[Long])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  require(masks0.length == masks1.length,
    "first_clean_subset2 mask arrays must have equal length")

  override def left: Expression = d0
  override def right: Expression = d1

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (d0.dataType, d1.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"first_clean_subset2 requires (bigint, bigint), got " +
          s"(${a.simpleString}, ${b.simpleString})")
    }

  @transient private lazy val m0: Array[Long] = masks0.toArray
  @transient private lazy val m1: Array[Long] = masks1.toArray

  override protected def nullSafeEval(in0: Any, in1: Any): Any = {
    val a = in0.asInstanceOf[Long]
    val b = in1.asInstanceOf[Long]
    var t = 0
    while (t < m0.length) {
      if ((a & m0(t)) == 0L && (b & m1(t)) == 0L) return t
      t += 1
    }
    -1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a0 = ctx.addReferenceObj("subsetMasks0", m0, "long[]")
    val a1 = ctx.addReferenceObj("subsetMasks1", m1, "long[]")
    nullSafeCodeGen(ctx, ev, (c0, c1) => {
      val t = ctx.freshName("t")
      s"""
         |${ev.value} = -1;
         |for (int $t = 0; $t < $a0.length; $t++) {
         |  if (($c0 & $a0[$t]) == 0L && ($c1 & $a1[$t]) == 0L) { ${ev.value} = $t; break; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstCleanSubset2 =
    copy(d0 = newLeft, d1 = newRight)

  override def prettyName: String = "first_clean_subset2"
}
