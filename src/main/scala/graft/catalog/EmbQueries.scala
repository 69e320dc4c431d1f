package graft
package catalog

import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.catalog.OracleSql._
import graft.ops.Similarity

/** Embedding hygiene and statistics: normalization, centroids, quantizer
  * codes, hashed embeddings and PCA.
  */
object EmbQueries {

  val specs: Seq[QuerySpec] = Seq(
    // int8 scalar quantization codes of the RAW embedding column: the
    // storage-compression configuration, whose affine arithmetic DuckDB
    // recomputes BIT-identically (min/max per dim → floor((x−mn)·s+0.5))
    QuerySpec("q_emb_sq_codes", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val p = sqFor(s, dir, normalize = false)
      t(s, dir, "embeddings").select(col("vec_id"),
        array_join(
          ops.Similarity.sqQuantizeCol(col("embedding"), p), ",").as("sq_code"))
        .orderBy(col("vec_id"))
    },
      // per-label centroid: per-(label, dim) averages reassembled in
      // dimension order (embeddings are fixed 64-dim in this corpus, hence
      // range(1, 65); DuckDB lists are 1-based, Spark posexplode 0-based —
      // only the order matters)
      // int8 SQ codes recomputed bit-exactly: per-dim min/max, then the
      // same IEEE op order as sqQuantizeCol — (x−mn)·(255/(mx−mn)), +0.5,
      // floor, int cast, clamp
      Oracle("""WITH cells AS (
               |  SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS x
               |  FROM embeddings, (SELECT unnest(range(1, 65)) AS d)
               |), mm AS (
               |  SELECT d, min(x) AS mn, max(x) AS mx FROM cells GROUP BY d
               |), codes AS (
               |  SELECT c.vec_id, c.d,
               |    CASE WHEN mm.mx > mm.mn THEN
               |      least(greatest(CAST(floor((c.x - mm.mn) * (255.0 / (mm.mx - mm.mn)) + 0.5) AS INTEGER), 0), 255)
               |    ELSE 0 END AS code
               |  FROM cells c JOIN mm USING (d)
               |)
               |SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY d) AS sq_code
               |FROM codes GROUP BY vec_id
               |ORDER BY vec_id""".stripMargin)),

    // 1-bit sign codes of the embedding column: training-free binary
    // quantization, 64 dims packed per signed long — DuckDB recomputes
    // the words bit-exactly (HUGEINT bit build, then two's-complement
    // fold back to BIGINT)
    QuerySpec("q_emb_bq_codes", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "embeddings").select(col("vec_id"),
        array_join(ops.Similarity.bqQuantizeCol(col("embedding"))
          .cast("array<string>"), ",").as("bq_code"))
        .orderBy(col("vec_id"))
    },
      // sign-bit binary codes recomputed bit-exactly: bit (d-1)%64 of word
      // (d-1)/64 set iff embedding[d] > 0; the unsigned HUGEINT bit build
      // folds back to Spark's signed long via two's complement
      Oracle("""WITH cells AS (
               |  SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS x
               |  FROM embeddings, (SELECT unnest(range(1, 65)) AS d)
               |), words AS (
               |  SELECT vec_id, (d-1) // 64 AS w,
               |    sum(CASE WHEN x > 0 THEN (1::HUGEINT << CAST((d-1) % 64 AS INTEGER))
               |        ELSE 0::HUGEINT END) AS bits
               |  FROM cells GROUP BY vec_id, (d-1) // 64
               |), signed AS (
               |  SELECT vec_id, w,
               |    CAST(bits - CASE WHEN bits >= 9223372036854775808::HUGEINT
               |      THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT) AS word
               |  FROM words
               |)
               |SELECT vec_id, string_agg(CAST(word AS VARCHAR), ',' ORDER BY w) AS bq_code
               |FROM signed GROUP BY vec_id
               |ORDER BY vec_id""".stripMargin)),

    // feature-hashing document embedding (model-free, md5-derived, L2
    // normalized); canonicalized to a joined %.6f string for the compare
    QuerySpec("q_emb_hash_embed", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = ops.Embeddings.hashEmbedding(col("text"), dim = 64)
      t(s, dir, "documents").select(col("doc_id"),
        array_join(transform(e, x => format_string("%.6f", round(x, 6))), ",").as("emb"))
    },
      // hash embedding: bucket = h % dim, sign = (h // dim) % 2, dense grid
      // via constant range, L2 norm, %.6f canonicalization — all integer
      // counts until the final division, so both engines are bit-identical
      Oracle(s"""WITH toks AS (
                |  SELECT doc_id, $oracleTokens AS tokens FROM documents
                |), th AS (
                |  SELECT doc_id, ${oracleMd5Long("tok")} AS h
                |  FROM (SELECT doc_id, unnest(tokens) AS tok FROM toks)
                |), cells AS (
                |  SELECT doc_id, CAST(h % 64 AS INTEGER) AS b,
                |    sum(CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
                |  FROM th GROUP BY 1, 2
                |), grid AS (
                |  SELECT doc_id, CAST(j AS INTEGER) AS b
                |  FROM toks, range(0, 64) r(j) WHERE len(tokens) > 0
                |), dense AS (
                |  SELECT g.doc_id, g.b, coalesce(c.v, 0.0) AS v
                |  FROM grid g LEFT JOIN cells c ON c.doc_id = g.doc_id AND c.b = g.b
                |), nm AS (
                |  SELECT doc_id, sqrt(sum(v * v)) AS n FROM dense GROUP BY 1
                |), emb AS (
                |  SELECT d.doc_id,
                |    string_agg(printf('%.6f', round(d.v / nm.n, 6) + 0), ',' ORDER BY d.b) AS emb
                |  FROM dense d JOIN nm USING (doc_id) WHERE nm.n > 0
                |  GROUP BY d.doc_id
                |)
                |SELECT t.doc_id, e.emb FROM toks t LEFT JOIN emb e USING (doc_id)""".stripMargin)),

    // L2 normalization: norm + unit vector, canonicalized to fixed-format
    // strings (pre-rounded so half-up vs half-even formatting can't differ)
    QuerySpec("q_emb_normalize", (s, dir) => {
      graft.functions.GraftFunctions.register(s) // native vec_l2normalize
      t(s, dir, "embeddings").select(
        col("vec_id"),
        format_string("%.6f", round(sqrt(ops.Embeddings.normSq(col("embedding"))), 6)).as("norm"),
        array_join(transform(ops.Embeddings.l2Normalize(col("embedding")),
          x => format_string("%.6f", round(x, 6))), ",").as("unit_vec"))
    },
      // L2 normalization: per-row fold in double precision on both sides
      // (list_sum over a double-cast list ≡ the Spark aggregate() fold);
      // values pre-rounded before fixed-format printing. The `+ 0` after
      // each round() of a possibly-negative value normalizes IEEE -0.0:
      // DuckDB's round keeps the sign of a tiny negative (printf renders
      // "-0.000000") while Spark's BigDecimal round never emits -0.0 —
      // first observed as 4/20000 hash mismatches at the sf1 rung
      Oracle("""SELECT vec_id,
               |  printf('%.6f', round(sqrt(nsq), 6)) AS norm,
               |  CASE WHEN nsq = 0 THEN NULL ELSE
               |    array_to_string(list_transform(embedding,
               |      x -> printf('%.6f', round(CAST(x AS DOUBLE) / sqrt(nsq), 6) + 0)), ',')
               |  END AS unit_vec
               |FROM (
               |  SELECT vec_id, embedding,
               |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
               |  FROM embeddings
               |)""".stripMargin)),

    // per-label centroid via the exploded-cell aggregation
    QuerySpec("q_emb_centroid", (s, dir) =>
      ops.Embeddings.groupCentroids(t(s, dir, "embeddings"), "embedding", "label")
        .select(col("label"), col("n"),
          array_join(transform(col("centroid"),
            m => format_string("%.6f", round(m, 6))), ",").as("centroid")),
      Oracle("""WITH cells AS (
               |  SELECT label, d, avg(CAST(embedding[d] AS DOUBLE)) AS m
               |  FROM embeddings, (SELECT unnest(range(1, 65)) AS d)
               |  GROUP BY label, d
               |), cents AS (
               |  SELECT label,
               |    array_to_string(list_transform(list(m ORDER BY d), v -> printf('%.6f', round(v, 6) + 0)), ',') AS centroid
               |  FROM cells GROUP BY label
               |)
               |SELECT n.label, n.n, c.centroid
               |FROM (SELECT label, count(*) AS n FROM embeddings GROUP BY label) n
               |JOIN cents c ON n.label = c.label""".stripMargin)),

    // in-engine PCA, cross-engine-checkable invariant: with the COMPLETE
    // basis (k = dim) the projection preserves centered norms, and the
    // oracle recomputes ‖x − μ‖² independently in SQL (μ from per-dim
    // averages) — an eigendecomposition cannot be replayed in SQL, but
    // the orthonormal-completeness of the learned basis can be checked
    QuerySpec("q_emb_pca_norm", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val m = pcaFor(s, dir, k = 64)
      t(s, dir, "embeddings").select(col("vec_id"),
        round(ops.Embeddings.normSq(
          ops.Embeddings.pcaProject(m, col("embedding"))), 4).as("centered_norm_sq"))
        .orderBy(col("vec_id"))
    },
      // the composed curation pipeline: language + quality + repetition
      // gates, then keep-first dedup among the survivors (QUALIFY runs
      // after WHERE, matching the Spark filter-then-window order)
      // PCA norm preservation: ‖x − μ‖² recomputed independently (zipped
      // unnest → per-dim means → per-row centered norm); equality with
      // the Spark side certifies the learned basis is orthonormal-complete
      Oracle(s"""WITH ex AS (
                |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
                |         unnest(range(1, len(embedding) + 1)) AS d
                |  FROM embeddings
                |), mu AS (
                |  SELECT d, avg(x) AS m FROM ex GROUP BY d
                |)
                |SELECT vec_id, round(sum((x - m) * (x - m)), 4) AS centered_norm_sq
                |FROM ex JOIN mu USING (d)
                |GROUP BY vec_id""".stripMargin)),

    // explained-variance curve (the dimensionality diagnostic before
    // choosing PQ/SQ budgets); eigen output → rows-only, contracts in
    // DriverSuiteSpec (descending, shares sum to 1, trace match)
    QuerySpec("q_emb_pca_var", (s, dir) => {
      val m = pcaFor(s, dir, k = 64)
      val shares = m.eigenvalues.map(_ / m.totalVariance)
      val cum = shares.scanLeft(0.0)(_ + _).tail
      import s.implicits._
      m.eigenvalues.indices.map(i =>
        (i, math.rint(m.eigenvalues(i) * 1e6) / 1e6,
          math.rint(shares(i) * 1e6) / 1e6, math.rint(cum(i) * 1e6) / 1e6))
        .toDF("component", "eigenvalue", "share", "cum_share")
    },
      RowsOnly("eigensolve output; DriverSuiteSpec checks order, shares and trace")),

    // whitened top-8 projection, certified by its DEFINING invariant:
    // whitening is exactly the claim that the projected corpus has
    // identity population covariance, and that 8×8 matrix is computable
    // from the data in one Spark aggregation pass (independent summation
    // from the training pass), while the oracle side is the
    // mathematically-required constant. FULL ORACLE (upgraded from
    // rows-only, round-10): a non-orthogonal eigenbasis, a wrong √λ
    // scale, or a wrong mean all surface as off-identity entries at 6 dp.
    // The per-row whitened projections themselves (eigen output, no SQL
    // mirror) stay contracted in DriverSuiteSpec and exercised end-to-end
    // by q_dedup_semantic_white.
    QuerySpec("q_emb_pca_whiten", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val k = 8
      val m = pcaFor(s, dir, k)
      val w = t(s, dir, "embeddings")
        .filter(col("embedding").isNotNull)
        .select(ops.Embeddings.pcaProject(m, col("embedding"), whiten = true).as("w"))
      val pairs = for (i <- 0 until k; j <- i until k) yield (i, j)
      val aggs =
        Seq(count(lit(1)).cast("double").as("n")) ++
          (0 until k).map(i => sum(element_at(col("w"), i + 1)).as(s"s$i")) ++
          pairs.map { case (i, j) =>
            sum(element_at(col("w"), i + 1) * element_at(col("w"), j + 1))
              .as(s"p${i}_$j")
          }
      val r = w.agg(aggs.head, aggs.tail: _*).collect().head
      val n = r.getAs[Double]("n")
      import s.implicits._
      pairs.map { case (i, j) =>
        val cov = r.getAs[Double](s"p${i}_$j") / n -
          (r.getAs[Double](s"s$i") / n) * (r.getAs[Double](s"s$j") / n)
        // 6-dp HALF_UP through BigDecimal also folds −0.0 to 0.0, so the
        // off-diagonal hash matches the oracle's 0.0 literal exactly
        (i.toLong, j.toLong,
          BigDecimal(cov).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toDF("component_i", "component_j", "cov")
        .orderBy("component_i", "component_j")
    },
      // PCA whitening: the Spark side measures the population covariance
      // of the whitened top-8 projections over the corpus; whitening's
      // defining invariant makes that matrix the 8×8 identity, so the
      // oracle is the mathematically-required constant (upper triangle,
      // 6 dp). Data-dependence lives entirely on the Spark side — a wrong
      // basis/λ/mean fails the hash.
      Oracle(s"""SELECT CAST(i AS BIGINT) AS component_i, CAST(j AS BIGINT) AS component_j,
                |  CAST(CASE WHEN i = j THEN 1.0 ELSE 0.0 END AS DOUBLE) AS cov
                |FROM range(8) t1(i), range(8) t2(j)
                |WHERE i <= j""".stripMargin)),
  )
}
