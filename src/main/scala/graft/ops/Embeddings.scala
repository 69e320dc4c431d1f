package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-column transforms for training-data pipelines: vector
  * hygiene (normalization) and per-group statistics (centroids) over an
  * `array<float>` column. The search-side operators (top-k, LSH, IVF)
  * live in [[Similarity]]; these are the projection/aggregation
  * primitives that prepare and summarize the vectors themselves.
  */
object Embeddings {

  /** Squared L2 norm, accumulated in double left-to-right — the same
    * order-deterministic per-row sum DuckDB's `list_sum` produces, so
    * results compare exactly across engines (a per-row fold has no
    * parallel reassociation, unlike a grouped aggregate).
    */
  def normSq(vec: Column): Column =
    aggregate(vec, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))

  /** L2-normalize a vector to unit length, in double precision. Null
    * vectors stay null; all-zero vectors (norm 0) become null rather than
    * NaN-filled — downstream cosine math treats both as "no embedding".
    * A pure scan-side projection: zero shuffles at any scale.
    *
    * Runs as the native codegen'd [[graft.functions.VecL2Normalize]] —
    * the HOF form (`transform` dividing by an embedded `aggregate` fold)
    * re-evaluates the norm per element, O(dims²) per row. Callers must
    * `GraftFunctions.register` the session first (as for `vec_dot`).
    */
  def l2Normalize(vec: Column): Column =
    graft.functions.GraftFunctions.vecL2Normalize(vec)

  /** Model-free document embedding by feature hashing (the hashing
    * trick): tokens fold into a `dim`-length signed-count vector (native
    * codegen'd [[graft.functions.HashEmbed]], O(tokens + dim) per row),
    * then L2-normalize — ready for cosine similarity, clustering, or the
    * [[Similarity]] ANN operators when no learned encoder exists. All
    * md5-derived, hence exactly reproducible in SQL. Zero-token documents
    * embed to null (the zero vector normalizes to null, the shared
    * "no embedding" convention). A pure scan-side projection.
    * Callers must `GraftFunctions.register` the session first.
    */
  def hashEmbedding(text: Column, dim: Int = 64): Column =
    l2Normalize(graft.functions.GraftFunctions.hashEmbed(TextOps.tokens(text), dim))

  /** fastText-style linear quality score over hash-bucket token
    * features: `(w · f) / (scale · n_tokens) + bias`, where `f` is the
    * RAW signed-count fold ([[graft.functions.HashEmbed]], no
    * normalization) and `w` an INTEGER weight vector trained offline.
    * Mean pooling (the `/ n_tokens`) makes the score length-invariant —
    * `score("x y x y") == score("x y")`.
    *
    * Why integer weights with one trailing `scale` instead of float
    * weights: the dot product becomes a sum of exact integer products,
    * so summation ORDER cannot change the result and any engine
    * recomputes the score bit-identically (the `q_text_linear_score`
    * oracle does) — quantize trained float weights (e.g. ×1000,
    * scale = 1000) to this form, the standard quantized-linear-model
    * trick. NULL on token-less text (no silent 0 — mirror of the
    * zero-vector → null embedding convention). A pure scan-side
    * projection: zero shuffles, codegen'd end to end.
    * Callers must `GraftFunctions.register` the session first.
    */
  def linearScore(
      text: Column,
      weights: Array[Int],
      scale: Double,
      bias: Double,
      dim: Int = 64,
  ): Column = {
    require(weights.length == dim, s"weights length ${weights.length} != dim $dim")
    require(scale > 0, "scale must be positive")
    val toks = TextOps.tokens(text)
    val f = graft.functions.GraftFunctions.hashEmbed(toks, dim)
    val dot = graft.functions.GraftFunctions.vecDot(
      f, typedLit(weights.map(_.toDouble).toSeq))
    when(size(toks) > 0, dot / (lit(scale) * size(toks)) + lit(bias))
  }

  /** Train the [[linearScore]] weight vector IN-ENGINE by the
    * nearest-centroid (Rocchio) rule: `w = scale ·
    * (μ_pos − μ_neg)` where `μ_c` is class `c`'s token-weighted mean of
    * the signed hash-feature fold — the classic closed-form linear text
    * classifier (Rocchio 1971; the linear-over-hashed-features layout of
    * fastText, Joulin et al. 2016), trainable in ONE corpus pass with no
    * iterative optimization. Weights are quantized to integers with
    * `floor(x + 0.5)` (explicit, so any engine reproduces the rounding),
    * ready to feed [[linearScore]] directly at the same `scale`.
    *
    * The feature fold is the native [[graft.functions.HashEmbed]] — the
    * SAME expression [[linearScore]] applies at inference, so train and
    * score cannot drift apart on tokenization or bucket/sign derivation.
    * All sums are integer-valued (doubles holding integers stay exact
    * below 2^53), so the result is bit-reproducible across partitionings
    * and engines — the `q_text_train_weights` oracle recomputes it.
    *
    * Scale shape: one pass over the corpus; `posexplode` amplifies each
    * document ×dim PRE-shuffle and map-side partial aggregation collapses
    * every partition to ≤ dim cells, so only ~dim rows per partition
    * cross the wire; everything downstream is driver-sized (dim rows).
    * Rows with a null label are excluded; a class with no rows (or no
    * tokens) yields null weights — assert on the output before shipping
    * it to [[linearScore]]. Callers must `GraftFunctions.register` the
    * session first (as for [[linearScore]] itself).
    *
    * Returns (bucket: int, weight: int), one row per feature bucket.
    */
  def trainLinearWeights(
      docs: DataFrame,
      textCol: String,
      positive: Column,
      dim: Int = 64,
      scale: Double = 1000.0,
  ): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    require(scale > 0, "scale must be positive")
    val toks = TextOps.tokens(col(textCol))
    val base = docs
      .filter(positive.isNotNull)
      .select(
        positive.as("__pos"),
        graft.functions.GraftFunctions.hashEmbed(toks, dim).as("__f"),
        size(toks).as("__n"))
    val cells = base
      .select(col("__pos"), posexplode(col("__f")).as(Seq("__b", "__v")))
      .groupBy(col("__b"))
      .agg(
        sum(when(col("__pos"), col("__v"))).as("__spos"),
        sum(when(!col("__pos"), col("__v"))).as("__sneg"))
    val totals = base.groupBy().agg(
      sum(when(col("__pos"), col("__n").cast("long"))).as("__tpos"),
      sum(when(!col("__pos"), col("__n").cast("long"))).as("__tneg"))
    cells
      .crossJoin(broadcast(totals))
      .select(
        col("__b").cast("int").as("bucket"),
        floor(lit(scale) * (coalesce(col("__spos"), lit(0.0)) / col("__tpos")
          - coalesce(col("__sneg"), lit(0.0)) / col("__tneg")) + lit(0.5))
          .cast("int").as("weight"))
  }

  /** Train the [[linearScore]] model by FIXED-EPOCH full-batch gradient
    * descent on a logistic-style loss — the iterative rung above the
    * closed-form [[trainLinearWeights]] (Rocchio), for corpora where
    * class means are not linearly separated well (fastText-quality
    * gates in practice are trained this way; Joulin et al. 2016).
    *
    * Per epoch: ONE aggregated-gradient corpus pass that collapses to
    * the (dim+1)-row driver model — margins and residuals are computed
    * per row, the per-bucket gradient folds through map-side partial
    * aggregation, and only ~dim cells per partition cross the wire.
    * The featurized corpus is cached once across epochs. Deterministic
    * zero init; `epochs`, `lr`, `lrBias` are fixed hyperparameters, no
    * early stopping (determinism over adaptivity).
    *
    * Bit-reproducibility engineering (what makes the result EXACT
    * across partitionings and engines, the [[trainLinearWeights]]
    * contract extended to an iterative optimizer):
    *  - the model lives in INTEGER space end to end: weights are
    *    integers at `scale` (the [[linearScore]] quantization), the
    *    bias an integer at 2^20 — so every per-document dot product is
    *    a sum of exact integer products, immune to summation order;
    *  - the sigmoid is the ALGEBRAIC form σ(m) = 0.5 + 0.5·m/(1+|m|)
    *    (Elliott 1993), built from IEEE-exact ops only (+ × / abs) —
    *    `exp` is the one op two engines may round differently, so the
    *    surrogate is what makes the whole fixpoint cross-engine exact;
    *  - per-document residuals are quantized to integers (×2^20; the
    *    length-normalized gradient term ×2^26) BEFORE the corpus sums,
    *    so gradient accumulations are again order-independent integer
    *    sums (all < 2^53 by construction: |r|≤1, |f_ij|≤n, corpus
    *    counts bound the rest);
    *  - weight updates round to integers with the explicit
    *    `floor(x + 0.5)` — single-value float ops, reproducible
    *    anywhere. Keep `lr`/`lrBias` exactly binary-representable
    *    (integers or powers of two) so an external mirror can embed
    *    them as literals.
    *
    * Output slots into [[linearScore]]/[[saveLinearWeights]] and the
    * whole eval/calibration chain unchanged: rows (bucket ∈ [0,dim),
    * weight) at `scale`, plus one (bucket = -1, weight) row holding
    * the quantized bias (divide by 2^20 for [[linearScore]]'s `bias`).
    */
  def trainLogisticWeights(
      docs: DataFrame,
      textCol: String,
      positive: Column,
      dim: Int = 64,
      scale: Double = 1000.0,
      epochs: Int = 16,
      lr: Double = 512.0,
      lrBias: Double = 4.0,
  ): DataFrame = {
    require(dim >= 1 && epochs >= 1, "dim and epochs must be >= 1")
    // the per-epoch gradient is ONE grouping-key-free aggregate with dim+1
    // sum buffers; past a few hundred columns a single aggregate can blow
    // whole-stage-codegen limits (fallback to interpreted evaluation — the
    // regression class the Dsir scoring comment documents as ~1.8× slower)
    // or hit the generated class's constant pool. 512 is comfortably below
    // both and far above the hash-embedding dims this trains (default 64);
    // raise only together with a chunked-aggregate implementation.
    require(dim <= 512,
      s"trainLogisticWeights supports dim <= 512 (got $dim): the shuffle-free " +
        "gradient builds dim+1 aggregate buffers in one operator")
    require(scale > 0 && lr > 0 && lrBias > 0, "scale and learning rates must be positive")
    val spark = docs.sparkSession
    // hash_embed and vec_dot are session functions: register them here, so
    // the operator runs on any session, not only one a caller prepared
    graft.functions.GraftFunctions.register(spark)
    val Qr = (1L << 20).toDouble // residual / bias quantizer
    val Qg = (1L << 26).toDouble // length-normalized residual quantizer
    val toks = TextOps.tokens(col(textCol))
    val base = docs
      .filter(positive.isNotNull)
      .select(
        positive.as("__pos"),
        graft.functions.GraftFunctions.hashEmbed(toks, dim).as("__f"),
        size(toks).as("__n"))
      .filter(col("__n") > 0)
      .persist()
    val nDocs = base.count().toDouble
    require(nDocs > 0, "trainLogisticWeights: no labeled non-empty documents")
    val v = new Array[Long](dim)
    var bq = 0L
    try {
      for (_ <- 1 to epochs) {
        val vLit = typedLit(v.map(_.toDouble).toSeq)
        val dot = graft.functions.GraftFunctions.vecDot(col("__f"), vLit)
        val m = dot / (lit(scale) * col("__n")) + lit(bq / Qr)
        val p = lit(0.5) + (lit(0.5) * m) / (lit(1.0) + abs(m))
        val r = p - when(col("__pos"), lit(1.0)).otherwise(lit(0.0))
        // one aggregation per epoch: dim+1 sum columns in a single
        // grouping-key-free aggregate — the bias gradient (quantized
        // residual) plus one length-normalized gradient per bucket. The
        // former explode(dim+1 structs per doc) + groupBy shuffled
        // (dim+1)×|docs| rows per epoch to compute what map-side partial
        // aggregation reduces to ONE row per partition; the column-wise
        // form is shuffle-free (a complete aggregate collapses to a
        // single row) and exactly order-independent like the original —
        // every summand is an integer-valued double < 2^53, so the
        // regrouping cannot change a bit of the result.
        val aggs = sum(col("__rq")).cast("double").as("__g_bias") +:
          (0 until dim).map(j =>
            sum(col("__rn") * element_at(col("__f"), j + 1)).as(s"__g$j"))
        val g = base
          .select(
            floor(r * lit(Qr) + lit(0.5)).as("__rq"),
            floor((r / col("__n")) * lit(Qg) + lit(0.5)).as("__rn"),
            col("__f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().head
        bq -= math.floor(((lrBias * Qr) * g.getDouble(0)) / (Qr * nDocs) + 0.5).toLong
        var j = 0
        while (j < dim) {
          v(j) -= math.floor(((lr * scale) * g.getDouble(j + 1)) / (Qg * nDocs) + 0.5).toLong
          j += 1
        }
      }
    } finally base.unpersist()
    (v.zipWithIndex.map { case (w, j) => (j, w) } :+ (-1, bq))
      .foreach { case (_, w) =>
        require(w >= Int.MinValue && w <= Int.MaxValue, "trained weight overflows Int") }
    import spark.implicits._
    (v.zipWithIndex.map { case (w, j) => (j, w.toInt) }.toSeq :+ ((-1, bq.toInt)))
      .toDF("bucket", "weight")
  }

  /** Persist a trained weight table ([[trainLinearWeights]] output, or
    * any (bucket, weight) frame) — the classifier's train-once lifecycle,
    * same convention as `saveBpe`/`savePq`/`saveIvf`/`saveSq`: train in
    * one job, every later session [[loadLinearWeights]]s the model
    * instead of retraining. Null weights (an absent training class) are
    * rejected loudly here rather than surfacing as a zeroed model later.
    */
  def saveLinearWeights(weights: DataFrame, path: String): Unit =
    weights.select(col("bucket"), coalesce(col("weight"),
        raise_error(lit("saveLinearWeights: null weight (was a training class empty?)")))
        .as("weight"))
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a weight vector saved by [[saveLinearWeights]] as the dense
    * array [[linearScore]] takes; `dim` is validated against the stored
    * buckets (every bucket in [0, dim) exactly once).
    */
  def loadLinearWeights(spark: org.apache.spark.sql.SparkSession, path: String,
      dim: Int = 64): Array[Int] = {
    val rows = spark.read.parquet(path).collect()
    require(rows.length == dim,
      s"loadLinearWeights: expected $dim buckets, found ${rows.length}")
    val w = new Array[Int](dim)
    val seen = new Array[Boolean](dim)
    rows.foreach { r =>
      val b = r.getInt(r.fieldIndex("bucket"))
      require(b >= 0 && b < dim && !seen(b), s"loadLinearWeights: bad/duplicate bucket $b")
      seen(b) = true
      w(b) = r.getInt(r.fieldIndex("weight"))
    }
    w
  }

  /** Trained PCA basis over an embedding column: `mean` (dim), the top
    * `k` `components` (orthonormal rows, descending eigenvalue),
    * `eigenvalues` (descending, the per-component explained variance),
    * and `totalVariance` (the covariance trace). Driver-sized — the
    * centroid/codebook lifecycle.
    */
  final case class PcaModel(
      mean: Array[Double],
      components: Array[Array[Double]],
      eigenvalues: Array[Double],
      totalVariance: Double) {
    def dim: Int = mean.length
    def k: Int = components.length
  }

  /** Train PCA IN-ENGINE: ONE corpus aggregation computes the per-dim
    * sums and the upper triangle of Σ·xxᵀ (a single flattened
    * (dim + dim(dim+1)/2 + 1)-cell posexplode with map-side partial
    * aggregation — every partition collapses to ≤ 2145 cells for
    * dim 64 before the one shuffle), then the driver finishes: covariance
    * from the moments, a cyclic Jacobi eigensolver on the dim×dim
    * symmetric matrix (O(dim³) ≪ a second corpus pass), eigenpairs
    * sorted by descending eigenvalue with a deterministic sign fix
    * (first component of largest magnitude made positive), top `k`
    * kept. Training is exactly reproducible: the moment sums are the
    * only cross-row reductions and the corpus is finite — iteration
    * count and rotations depend only on the covariance values.
    *
    * Why in-engine PCA is in a data-pipeline library at all: embedding
    * whitening ([[pcaProject]] `whiten = true`) is the standard
    * pre-step before cosine-based semantic dedup and retrieval
    * (anisotropic embedding spaces overweight dominant directions),
    * and explained-variance curves are the standard dimensionality
    * diagnostic before choosing ANN compression (PQ/SQ) budgets.
    *
    * Null/short vectors are skipped (the shared "no embedding"
    * convention). `sampleOneIn` subsamples deterministically by id
    * hash for 100 TB corpora (same seeded-filter pattern as
    * [[Similarity.trainIvf]]).
    */
  def trainPca(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      sampleOneIn: Int = 1,
      dim: Int = -1,
  ): PcaModel = {
    require(k >= 1, "k must be >= 1")
    require(sampleOneIn >= 1, "sampleOneIn must be >= 1")
    val vecs0 = df
      .filter(col(vecCol).isNotNull)
      .filter(pmod(xxhash64(lit("pca-sample"), col(idCol)), lit(sampleOneIn.toLong)) === 0)
      .select(col(vecCol).cast("array<double>").as("v"))
    // dim is either caller-declared or inferred as the ONE size shared by
    // every sampled vector (a min/max aggregate — deterministic, unlike a
    // partition-order-dependent first row). A mixed-dimension corpus with
    // no declared dim fails loudly instead of silently dropping whichever
    // sizes a nondeterministic probe didn't see.
    val dimR = if (dim > 0) dim else {
      val mm = vecs0.agg(min(size(col("v"))), max(size(col("v")))).head()
      if (mm.isNullAt(0))
        throw new IllegalArgumentException("trainPca: no non-null vectors")
      val (lo, hi) = (mm.getInt(0), mm.getInt(1))
      require(lo == hi,
        s"trainPca: mixed vector sizes [$lo, $hi] — pass dim= explicitly to select one")
      hi
    }
    require(k <= dimR, s"k=$k exceeds dim=$dimR")
    val vecs = vecs0.filter(size(col("v")) === dimR)
    val nTri = dimR * (dimR + 1) / 2
    // one flattened stats vector per row: [x_0..x_{d-1}, upper-tri products, 1]
    val stats = concat(
      col("v"),
      flatten(transform(sequence(lit(0), lit(dimR - 1)), i =>
        transform(sequence(i, lit(dimR - 1)), j =>
          element_at(col("v"), i + 1) * element_at(col("v"), j + 1)))),
      array(lit(1.0)))
    val cells = vecs
      .select(posexplode(stats).as(Seq("__i", "__x")))
      .groupBy(col("__i"))
      .agg(sum(col("__x")).as("__s"))
      .collect()
    val acc = new Array[Double](dimR + nTri + 1)
    cells.foreach(r => acc(r.getInt(0)) = r.getDouble(1))
    val n = acc(dimR + nTri)
    require(n > 1, "trainPca: need at least 2 vectors")
    val mean = Array.tabulate(dimR)(i => acc(i) / n)
    val cov = Array.ofDim[Double](dimR, dimR)
    var t = dimR
    for (i <- 0 until dimR; j <- i until dimR) {
      val c = acc(t) / n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
      t += 1
    }
    val (values, vectors) = jacobiEigen(cov)
    val order = values.indices.sortBy(i => -values(i))
    val comps = order.take(k).map { i =>
      val v = vectors.map(_(i))
      // deterministic sign: the largest-|.| coordinate is positive
      val m = v.indices.maxBy(j => (math.abs(v(j)), -j))
      if (v(m) < 0) v.map(-_) else v
    }.toArray
    PcaModel(mean, comps, order.take(k).map(values).toArray,
      (0 until dimR).map(i => cov(i)(i)).sum)
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix: returns
    * (eigenvalues, column-eigenvector matrix). Deterministic sweep
    * order; converges quadratically — 64×64 finishes in a handful of
    * sweeps, microseconds next to any corpus pass.
    */
  private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-18 && sweep < 64) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > 1e-18) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val tt = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val tSafe = if (theta == 0.0) 1.0 else tt
          val c = 1.0 / math.sqrt(tSafe * tSafe + 1.0)
          val s = tSafe * c
          for (i <- 0 until d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
          }
          for (i <- 0 until d) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi
            a(q)(i) = s * api + c * aqi
          }
          for (i <- 0 until d) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project onto a trained PCA basis as a pure codegen'd projection:
    * component c of the output is `(x − μ)·v_c = x·v_c − μ·v_c` (the
    * `μ·v_c` scalar precomputed on the driver), one [[vec_dot]] per
    * component. `whiten = true` divides by √λ_c (variance-one
    * components — the cosine-isotropy pre-step for semantic dedup);
    * components with λ ≤ 1e-12 whiten to 0 rather than exploding.
    * Null vectors project to null.
    */
  def pcaProject(model: PcaModel, vec: Column, whiten: Boolean = false): Column = {
    val comps = model.components
    val outs = comps.indices.map { c =>
      val mu = comps(c).zip(model.mean).map { case (a, b) => a * b }.sum
      val raw = graft.functions.GraftFunctions.vecDot(
        vec.cast("array<double>"), typedLit(comps(c).toSeq)) - lit(mu)
      if (!whiten) raw
      else if (model.eigenvalues(c) <= 1e-12) lit(0.0)
      else raw / lit(math.sqrt(model.eigenvalues(c)))
    }
    when(vec.isNotNull, array(outs: _*))
  }

  /** Persist a PCA model (rows: component index, eigenvalue, vector;
    * index −1 carries the mean with the covariance trace) — the
    * `saveIvf` train-once lifecycle.
    */
  def savePca(model: PcaModel, spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    val rows = model.components.indices.map(i =>
      (i, model.eigenvalues(i), model.components(i).toSeq)) :+
      ((-1, model.totalVariance, model.mean.toSeq))
    rows.toDF("idx", "value", "vector").coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a PCA model saved by [[savePca]]. */
  def loadPca(spark: org.apache.spark.sql.SparkSession, path: String): PcaModel = {
    val rows = spark.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getSeq[Double](2).toArray))
    val (meanRows, compRows) = rows.partition(_._1 == -1)
    require(meanRows.length == 1, "loadPca: expected exactly one mean row")
    val comps = compRows.sortBy(_._1)
    require(comps.map(_._1).sameElements(comps.indices), "loadPca: component gap")
    PcaModel(meanRows.head._3, comps.map(_._3), comps.map(_._2), meanRows.head._2)
  }

  /** Per-group centroid (dimension-wise mean) + member count of an
    * embedding column: the corpus-summary / cluster-quality primitive.
    *
    * Scale shape: `posexplode` flattens to (group, dim, value) and ONE
    * grouped aggregation averages each (group, dim) cell — map-side
    * partial aggregation collapses every partition to at most
    * |groups|×dims cells before the single shuffle, and no executor ever
    * holds a group's vectors (the collect_list-then-fold alternative
    * does, and dies on a billion-member group). The dims× row
    * amplification is pre-shuffle and partial-agg-absorbed. A second,
    * tiny aggregation (|groups|×dims rows) reassembles the centroid
    * arrays in dimension order.
    *
    * Rows with null embeddings count toward `n` but not the centroid
    * (their dims never explode); groups whose every vector is null are
    * absent from the result. Null GROUP KEYS are ordinary groups (the
    * count join is null-safe `<=>` — a plain equi-join would silently
    * drop them). Mixed-length vectors within a group average
    * per-dimension over the vectors that have that dimension.
    *
    * Returns (groupCols..., n, centroid: array<double>).
    */
  def groupCentroids(df: DataFrame, vecCol: String, groupCols: String*): DataFrame = {
    require(groupCols.nonEmpty, "groupCentroids needs at least one group column")
    val gcols = groupCols.map(col)
    val n = df.groupBy(gcols: _*).agg(count(lit(1)).as("n")).alias("__n")
    val cents = df
      .select(gcols :+ posexplode(col(vecCol)).as(Seq("__d", "__x")): _*)
      .groupBy(gcols :+ col("__d"): _*)
      .agg(avg(col("__x").cast("double")).as("__m"))
      .groupBy(gcols: _*)
      .agg(array_sort(collect_list(struct(col("__d"), col("__m")))).as("__dm"))
      .select(gcols :+ transform(col("__dm"), s => s.getField("__m")).as("centroid"): _*)
      .alias("__c")
    cents
      .join(n, groupCols.map(g => col(s"__c.$g") <=> col(s"__n.$g")).reduce(_ && _))
      .select(groupCols.map(g => col(s"__c.$g").as(g)) ++
        Seq(col("__n.n").as("n"), col("__c.centroid").as("centroid")): _*)
  }
}
