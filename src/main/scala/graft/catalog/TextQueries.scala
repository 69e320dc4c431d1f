package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.catalog.OracleSql._
import graft.ops.TextOps

/** Text analysis: quality signals, classifiers and their evaluators,
  * fingerprints and decontamination, extraction, URL and encoding
  * hygiene.
  */
object TextQueries {

  private def messyPath: Column = when(pmod(col("doc_id"), lit(5)) === 0, lit("")).otherwise(e2ePath)

  private def messyUrl: Column = syntheticUrl(messyPath)

  /** Train the in-engine linear classifier on the corpus and return the
    * ROUNDED score column — the (register → trainLinearWeights → collect
    * the 64-int model → native linearScore) chain every evaluator row
    * shares. ONE definition keeps the seven call sites in lockstep with
    * `oracleTrainedScoredCte`.
    */
  private def trainedScore(s: SparkSession, d: DataFrame): Column = {
    graft.functions.GraftFunctions.register(s)
    val wRows = ops.Embeddings.trainLinearWeights(d, "text", col("lang") === "en")
      .collect()
    val w = new Array[Int](64)
    wRows.foreach(r => w(r.getInt(0)) = r.getInt(1))
    round(ops.Embeddings.linearScore(col("text"), w, scale = 1000.0, bias = 0.0), 6)
  }

  /** Okapi BM25 top-`k` over `documents` as one DuckDB query — the
    * Retrieval.scored mirror (exact integer tf/df/N/dl, one avgdl
    * division, Lucene lower-bounded idf, fixed term order), ordered on
    * the unrounded score with the id tiebreak. Reused standalone
    * (q_text_bm25) and as the list CTEs of the RRF fusion oracle.
    */
  private def oracleBm25Sql(terms: Seq[String], k: Int): String = {
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf_$i" }.mkString(", ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val matched = terms.indices
      .map(i => s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    val score = terms.indices.map(i =>
      s"ln(1.0 + (n - df_$i + 0.5) / (df_$i + 0.5)) * " +
        s"(CAST(tf_$i AS DOUBLE) * 2.2) / (CAST(tf_$i AS DOUBLE) + " +
        s"1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n)))")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, $oracleTokens AS toks FROM documents
       |), d AS (
       |  SELECT doc_id, len(toks) AS dl, $tfs FROM tok
       |), s AS (
       |  SELECT count(*) AS n, sum(dl) AS sumdl, $dfs FROM d
       |)
       |SELECT doc_id, CAST($matched AS BIGINT) AS matched_terms,
       |  round($score, 6) AS bm25
       |FROM d, s
       |WHERE ($matched) > 0
       |ORDER BY ($score) DESC, doc_id LIMIT $k""".stripMargin
  }

  private val oracleMessyPath = s"CASE WHEN doc_id % 5 = 0 THEN '' ELSE $oracleE2ePath END"

  /** Shared train→score CTE chain for the classifier-evaluator oracles
    * (mirrors q_text_trained_score): defines CTEs up to
    * `scored(doc_id, pos, score)` — Rocchio weights recomputed
    * bit-exactly, documents scored by the same hash-feature dot, scores
    * rounded to 6 dp, zero-token docs scored NULL.
    */
  private val oracleTrainedScoredCte =
    s"""th0 AS (
       |  SELECT (lang = 'en') AS pos,
       |    CAST(h % 64 AS INTEGER) AS b,
       |    CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |  FROM (
       |    SELECT lang, ${oracleMd5Long("tok")} AS h FROM (
       |      SELECT lang, unnest($oracleTokens) AS tok FROM documents
       |    )
       |  )
       |), agg AS (
       |  SELECT b,
       |    CAST(sum(CASE WHEN pos THEN sgn END) AS DOUBLE) AS s_pos,
       |    CAST(sum(CASE WHEN NOT pos THEN sgn END) AS DOUBLE) AS s_neg
       |  FROM th0 GROUP BY b
       |), tot AS (
       |  SELECT CAST(count(*) FILTER (pos) AS DOUBLE) AS t_pos,
       |         CAST(count(*) FILTER (NOT pos) AS DOUBLE) AS t_neg
       |  FROM th0
       |), w AS (
       |  SELECT b AS bucket,
       |    floor(1000.0 * (coalesce(s_pos, 0) / t_pos - coalesce(s_neg, 0) / t_neg)
       |      + 0.5) AS weight
       |  FROM agg CROSS JOIN tot
       |), toks AS (
       |  SELECT doc_id, lang, $oracleTokens AS tokens FROM documents
       |), th AS (
       |  SELECT doc_id, ${oracleMd5Long("tok")} AS h
       |  FROM (SELECT doc_id, unnest(tokens) AS tok FROM toks)
       |), cells AS (
       |  SELECT doc_id, CAST(h % 64 AS INTEGER) AS b,
       |    sum(CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
       |  FROM th GROUP BY 1, 2
       |), dots AS (
       |  SELECT doc_id, sum(v * weight) AS dot
       |  FROM cells JOIN w ON w.bucket = cells.b GROUP BY 1
       |), scored AS (
       |  SELECT t.doc_id, (t.lang = 'en') AS pos,
       |    CASE WHEN len(t.tokens) > 0
       |      THEN round(d.dot / (1000.0 * len(t.tokens)) + 0.0, 6) END AS score
       |  FROM toks t LEFT JOIN dots d USING (doc_id)
       |)""".stripMargin

  /** CTE chain mirroring [[ops.Embeddings.trainLogisticWeights]] (dim 64,
    * scale 1000, lr 512, lrBias 4) for `epochs` epochs: cellsL holds each
    * document's integer hash-feature counts, dlL the labeled non-empty
    * docs, then one (m/r/g/w/b) block per epoch — margins from the
    * integer dot (order-independent), the algebraic sigmoid (IEEE-exact
    * ops only), residuals quantized to integers before the corpus sums,
    * updates rounded with the same explicit floor(x+0.5). Ends with
    * `lw$epochs(bucket, wv)` and `lb$epochs(bv)`. Every constant is
    * binary-exact, so DuckDB replays all 16 epochs bit-identically.
    */
  private def oracleLrCtes(epochs: Int): String = {
    val base =
      s"""ltoks AS MATERIALIZED (
         |  SELECT doc_id, lang, $oracleTokens AS tokens FROM documents
         |), lth AS MATERIALIZED (
         |  SELECT doc_id, ${oracleMd5Long("tok")} AS h
         |  FROM (SELECT doc_id, unnest(tokens) AS tok FROM ltoks)
         |), cellsL AS MATERIALIZED (
         |  SELECT doc_id, CAST(h % 64 AS INTEGER) AS b,
         |    sum(CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS f
         |  FROM lth GROUP BY 1, 2
         |), dlL AS MATERIALIZED (
         |  SELECT doc_id, (lang = 'en') AS pos, len(tokens) AS n
         |  FROM ltoks WHERE len(tokens) > 0
         |), nnL AS MATERIALIZED (
         |  SELECT CAST(count(*) AS DOUBLE) AS nd FROM dlL
         |), lw0 AS MATERIALIZED (
         |  SELECT CAST(unnest(generate_series(0, 63)) AS INTEGER) AS bucket, 0.0 AS wv
         |), lb0 AS MATERIALIZED (
         |  SELECT 0.0 AS bv
         |)""".stripMargin
    val res = "(0.5 + ((0.5 * mm) / (1.0 + abs(mm)))) - CASE WHEN pos THEN 1.0 ELSE 0.0 END"
    val blocks = (1 to epochs).map { e =>
      val pw = e - 1
      s""", lm$e AS MATERIALIZED (
         |  SELECT d.doc_id, d.pos, d.n,
         |    (coalesce(s.dot, 0.0) / (1000.0 * d.n)) + ((SELECT bv FROM lb$pw) / 1048576.0) AS mm
         |  FROM dlL d LEFT JOIN (
         |    SELECT c.doc_id, sum(w.wv * c.f) AS dot
         |    FROM cellsL c JOIN lw$pw w ON w.bucket = c.b GROUP BY 1) s USING (doc_id)
         |), lr$e AS MATERIALIZED (
         |  SELECT doc_id, n,
         |    floor((($res) * 1048576.0) + 0.5) AS rq,
         |    floor(((($res) / n) * 67108864.0) + 0.5) AS rn
         |  FROM lm$e
         |), lg$e AS MATERIALIZED (
         |  SELECT c.b AS bucket, sum(r.rn * c.f) AS g
         |  FROM cellsL c JOIN lr$e r USING (doc_id) GROUP BY 1
         |), lw$e AS MATERIALIZED (
         |  SELECT w.bucket,
         |    w.wv - floor(((512000.0 * coalesce(g.g, 0.0)) / (67108864.0 * nnL.nd)) + 0.5) AS wv
         |  FROM lw$pw w LEFT JOIN lg$e g USING (bucket) CROSS JOIN nnL
         |), lb$e AS MATERIALIZED (
         |  SELECT bv - floor(((4194304.0 * gb) / (1048576.0 * nnL.nd)) + 0.5) AS bv
         |  FROM lb$pw CROSS JOIN (SELECT sum(rq) AS gb FROM lr$e) CROSS JOIN nnL
         |)""".stripMargin
    }.mkString
    base + blocks
  }

  /** `scoredlr(doc_id, pos, score)` over the [[oracleLrCtes]] model —
    * the q_text_lr_score / q_text_lr_auc shared tail: the same
    * hash-feature dot and rounding as the Rocchio `scored` CTE, with
    * the trained bias.
    */
  private def oracleLrScoredCte(epochs: Int): String =
    s"""${oracleLrCtes(epochs)}, ldots AS MATERIALIZED (
       |  SELECT c.doc_id, sum(c.f * w.wv) AS dot
       |  FROM cellsL c JOIN lw$epochs w ON w.bucket = c.b GROUP BY 1
       |), scoredlr AS MATERIALIZED (
       |  SELECT t.doc_id, (t.lang = 'en') AS pos,
       |    CASE WHEN len(t.tokens) > 0
       |      THEN round((d.dot / (1000.0 * len(t.tokens)))
       |             + ((SELECT bv FROM lb$epochs) / 1048576.0), 6) END AS score
       |  FROM ltoks t LEFT JOIN ldots d USING (doc_id)
       |)""".stripMargin

  /** The q_text_blocklist phrase list — bigram phrases from the synthetic
    * corpus vocabulary so both hit and miss paths are exercised.
    */
  private val blockPhrases = Seq(
    "big slow", "fast group", "window big", "merge big join", "slow column")

  /** Shared by q_text_winnow_overlap and q_text_winnow_auto: at the
    * correctness SFs the solver returns the floor window, so both rows
    * compute the identical pair set and one oracle serves both — the
    * executable proof the auto dial is config, not semantics.
    */
  private val oracleWinnowOverlapSql: String =
    s"""WITH hss AS (
       |  SELECT doc_id, list_transform(sh, s -> ${oracleMd5Long("s")}) AS hs
       |  FROM (
       |    SELECT doc_id, ${oracleShingles(5)} AS sh
       |    FROM (SELECT doc_id, $oracleTokens AS tokens FROM documents)
       |  )
       |), fp AS (
       |  SELECT doc_id,
       |    CASE WHEN len(hs) < 4 THEN [list_min(hs)]
       |         ELSE list_distinct(list_transform(
       |           range(1, len(hs) - 2),
       |           i -> list_min(list_slice(hs, i, i + 3))))
       |    END AS f
       |  FROM hss WHERE len(hs) > 0
       |), inv AS (
       |  SELECT doc_id, unnest(f) AS h FROM fp
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_text_quality", (s, dir) => {
      val d = t(s, dir, "documents")
      val metrics = TextOps.qualityMetrics(col("text")).map { case (n, c) => c.as(n) }
      d.select((col("doc_id") +: metrics :+ TextOps.qualityScore(col("text")).as("quality")): _*)
    },
      Oracle(s"""SELECT doc_id, n_chars, n_words, punct_ratio, stopword_ratio, mean_word_len,
                |  round(least(CAST(n_words AS DOUBLE) / 50.0, 1.0) * 0.5
                |      + least(stopword_ratio * 5.0, 1.0) * 0.4
                |      + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.1, 6) AS quality
                |FROM (
                |  SELECT doc_id,
                |    CAST(length(text) AS INTEGER) AS n_chars,
                |    CAST($oracleWsTokens AS INTEGER) AS n_words,
                |    round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
                |    round(CAST($oracleStopEn AS DOUBLE) / greatest($oracleWsTokens, 1), 6) AS stopword_ratio,
                |    round(CAST(length(text) AS DOUBLE) / greatest($oracleWsTokens, 1), 6) AS mean_word_len
                |  FROM documents
                |)""".stripMargin)),

    QuerySpec("q_text_tokens", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeishCount(col("text")).as("bpeish_tokens")),
      Oracle(s"""SELECT doc_id, CAST($oracleWsTokens AS INTEGER) AS ws_tokens,
                |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS bpeish_tokens
                |FROM documents""".stripMargin)),

    // fastText-style linear quality score with a pinned quantized weight
    // vector: integer weights make the hash-feature dot product exactly
    // order-independent, so DuckDB recomputes the score bit-identically
    QuerySpec("q_text_linear_score", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val w = Array.tabulate(64)(d => d % 7 - 3)
      t(s, dir, "documents").select(col("doc_id"),
        round(ops.Embeddings.linearScore(col("text"), w, scale = 10.0, bias = 0.05), 6)
          .as("lin_score"))
        .withColumn("keep", col("lin_score") > 0)
        .orderBy(col("doc_id"))
    },
      // linear score over the same hash features: integer weights (b%7-3)
      // make every product and the sum integer-exact, so the single
      // trailing division + bias reproduces Spark's value bit-for-bit
      Oracle(s"""WITH toks AS (
                |  SELECT doc_id, $oracleTokens AS tokens FROM documents
                |), th AS (
                |  SELECT doc_id, ${oracleMd5Long("tok")} AS h
                |  FROM (SELECT doc_id, unnest(tokens) AS tok FROM toks)
                |), cells AS (
                |  SELECT doc_id, CAST(h % 64 AS INTEGER) AS b,
                |    sum(CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
                |  FROM th GROUP BY 1, 2
                |), dots AS (
                |  SELECT doc_id, sum(v * (b % 7 - 3)) AS dot FROM cells GROUP BY 1
                |), scored AS (
                |  SELECT t.doc_id,
                |    CASE WHEN len(t.tokens) > 0
                |      THEN round(d.dot / (10.0 * len(t.tokens)) + 0.05, 6) END AS lin_score
                |  FROM toks t LEFT JOIN dots d USING (doc_id)
                |)
                |SELECT doc_id, lin_score, lin_score > 0 AS keep
                |FROM scored ORDER BY doc_id""".stripMargin)),

    // in-engine Rocchio training of the linear classifier: one corpus
    // pass; the weight table is bit-exactly recomputable in SQL
    QuerySpec("q_text_train_weights", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      ops.Embeddings.trainLinearWeights(
        t(s, dir, "documents"), "text", col("lang") === "en")
        .orderBy(col("bucket"))
    },
      // Rocchio weights recomputed bit-exactly: integer-valued sums stay
      // exact in doubles, the division/multiply/floor chain is the same
      // IEEE op sequence as the Spark plan
      Oracle(s"""WITH th AS (
                |  SELECT (lang = 'en') AS pos,
                |    CAST(h % 64 AS INTEGER) AS b,
                |    CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
                |  FROM (
                |    SELECT lang, ${oracleMd5Long("tok")} AS h FROM (
                |      SELECT lang, unnest($oracleTokens) AS tok FROM documents
                |    )
                |  )
                |), agg AS (
                |  SELECT b,
                |    CAST(sum(CASE WHEN pos THEN sgn END) AS DOUBLE) AS s_pos,
                |    CAST(sum(CASE WHEN NOT pos THEN sgn END) AS DOUBLE) AS s_neg
                |  FROM th GROUP BY b
                |), tot AS (
                |  SELECT CAST(count(*) FILTER (pos) AS DOUBLE) AS t_pos,
                |         CAST(count(*) FILTER (NOT pos) AS DOUBLE) AS t_neg
                |  FROM th
                |), buckets AS (
                |  SELECT CAST(unnest(generate_series(0, 63)) AS INTEGER) AS bucket
                |)
                |SELECT bucket,
                |  CAST(floor(1000.0 * (coalesce(s_pos, 0) / t_pos - coalesce(s_neg, 0) / t_neg)
                |    + 0.5) AS INTEGER) AS weight
                |FROM buckets LEFT JOIN agg ON agg.b = bucket CROSS JOIN tot
                |ORDER BY bucket""".stripMargin)),

    // the closed loop: train in-engine, collect the driver-sized model
    // (64 ints — the IVF-centroid lifecycle pattern), score with the
    // SAME native expression used at inference
    QuerySpec("q_text_trained_score", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), trainedScore(s, d).as("score"))
        .withColumn("pred_en", col("score") > 0)
        .orderBy(col("doc_id"))
    },
      // train + score end to end: the weight CTE feeds the same
      // hash-feature dot the q_text_linear_score oracle computes
      Oracle(s"""WITH th0 AS (
                |  SELECT (lang = 'en') AS pos,
                |    CAST(h % 64 AS INTEGER) AS b,
                |    CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
                |  FROM (
                |    SELECT lang, ${oracleMd5Long("tok")} AS h FROM (
                |      SELECT lang, unnest($oracleTokens) AS tok FROM documents
                |    )
                |  )
                |), agg AS (
                |  SELECT b,
                |    CAST(sum(CASE WHEN pos THEN sgn END) AS DOUBLE) AS s_pos,
                |    CAST(sum(CASE WHEN NOT pos THEN sgn END) AS DOUBLE) AS s_neg
                |  FROM th0 GROUP BY b
                |), tot AS (
                |  SELECT CAST(count(*) FILTER (pos) AS DOUBLE) AS t_pos,
                |         CAST(count(*) FILTER (NOT pos) AS DOUBLE) AS t_neg
                |  FROM th0
                |), w AS (
                |  SELECT b AS bucket,
                |    floor(1000.0 * (coalesce(s_pos, 0) / t_pos - coalesce(s_neg, 0) / t_neg)
                |      + 0.5) AS weight
                |  FROM agg CROSS JOIN tot
                |), toks AS (
                |  SELECT doc_id, $oracleTokens AS tokens FROM documents
                |), th AS (
                |  SELECT doc_id, ${oracleMd5Long("tok")} AS h
                |  FROM (SELECT doc_id, unnest(tokens) AS tok FROM toks)
                |), cells AS (
                |  SELECT doc_id, CAST(h % 64 AS INTEGER) AS b,
                |    sum(CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
                |  FROM th GROUP BY 1, 2
                |), dots AS (
                |  SELECT doc_id, sum(v * weight) AS dot
                |  FROM cells JOIN w ON w.bucket = cells.b GROUP BY 1
                |), scored AS (
                |  SELECT t.doc_id,
                |    CASE WHEN len(t.tokens) > 0
                |      THEN round(d.dot / (1000.0 * len(t.tokens)) + 0.0, 6) END AS score
                |  FROM toks t LEFT JOIN dots d USING (doc_id)
                |)
                |SELECT doc_id, score, score > 0 AS pred_en
                |FROM scored ORDER BY doc_id""".stripMargin)),

    // evaluate the trained classifier in-engine: one confusion-count
    // aggregation over (label, score > 0) — the model scorecard
    QuerySpec("q_text_classifier_eval", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val d = t(s, dir, "documents")
      val wRows = ops.Embeddings.trainLinearWeights(d, "text", col("lang") === "en")
        .collect()
      val w = new Array[Int](64)
      wRows.foreach(r => w(r.getInt(0)) = r.getInt(1))
      ops.Stats.binaryEval(d,
        col("lang") === "en",
        ops.Embeddings.linearScore(col("text"), w, scale = 1000.0, bias = 0.0) > 0)
    },
      // the full train -> score -> evaluate chain, ending in one
      // confusion-count aggregate (same CTE chain as q_text_trained_score)
      Oracle(s"""WITH th0 AS (
                |  SELECT (lang = 'en') AS pos,
                |    CAST(h % 64 AS INTEGER) AS b,
                |    CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
                |  FROM (
                |    SELECT lang, ${oracleMd5Long("tok")} AS h FROM (
                |      SELECT lang, unnest($oracleTokens) AS tok FROM documents
                |    )
                |  )
                |), agg AS (
                |  SELECT b,
                |    CAST(sum(CASE WHEN pos THEN sgn END) AS DOUBLE) AS s_pos,
                |    CAST(sum(CASE WHEN NOT pos THEN sgn END) AS DOUBLE) AS s_neg
                |  FROM th0 GROUP BY b
                |), tot AS (
                |  SELECT CAST(count(*) FILTER (pos) AS DOUBLE) AS t_pos,
                |         CAST(count(*) FILTER (NOT pos) AS DOUBLE) AS t_neg
                |  FROM th0
                |), w AS (
                |  SELECT b AS bucket,
                |    floor(1000.0 * (coalesce(s_pos, 0) / t_pos - coalesce(s_neg, 0) / t_neg)
                |      + 0.5) AS weight
                |  FROM agg CROSS JOIN tot
                |), toks AS (
                |  SELECT doc_id, lang, $oracleTokens AS tokens FROM documents
                |), th AS (
                |  SELECT doc_id, ${oracleMd5Long("tok")} AS h
                |  FROM (SELECT doc_id, unnest(tokens) AS tok FROM toks)
                |), cells AS (
                |  SELECT doc_id, CAST(h % 64 AS INTEGER) AS b,
                |    sum(CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v
                |  FROM th GROUP BY 1, 2
                |), dots AS (
                |  SELECT doc_id, sum(v * weight) AS dot
                |  FROM cells JOIN w ON w.bucket = cells.b GROUP BY 1
                |), pred AS (
                |  SELECT t.lang = 'en' AS a,
                |    CASE WHEN len(t.tokens) > 0
                |      THEN d.dot / (1000.0 * len(t.tokens)) + 0.0 > 0 END AS p
                |  FROM toks t LEFT JOIN dots d USING (doc_id)
                |), cm AS (
                |  SELECT
                |    sum(CASE WHEN a AND p THEN 1 ELSE 0 END) AS tp,
                |    sum(CASE WHEN NOT a AND p THEN 1 ELSE 0 END) AS fp,
                |    sum(CASE WHEN a AND NOT p THEN 1 ELSE 0 END) AS fn,
                |    sum(CASE WHEN NOT a AND NOT p THEN 1 ELSE 0 END) AS tn
                |  FROM pred WHERE a IS NOT NULL AND p IS NOT NULL
                |)
                |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
                |  round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy,
                |  round(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
                |  round(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
                |  round(CASE WHEN tp * 2 + fp + fn > 0
                |    THEN CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn) END, 6) AS f1
                |FROM cm""".stripMargin)),

    // operating-point sweep over the trained classifier's score: one
    // scan computes P/R/F1 at every candidate cutoff — how a quality
    // filter's threshold gets frozen
    QuerySpec("q_text_threshold_sweep", (s, dir) => {
      val d = t(s, dir, "documents")
      // grid spans the observed score distribution (5th-95th pct is
      // roughly ±2e-4 at both SFs) so every operating point is live
      ops.Stats.thresholdSweep(d, col("lang") === "en", trainedScore(s, d),
        Seq(-2.0e-4, -1.0e-4, -5.0e-5, 0.0, 5.0e-5, 1.0e-4, 2.0e-4))
    },
      // threshold sweep: the trained-score CTE chain, then per-threshold
      // confusion counts + P/R/F1 (scores rounded identically on both
      // sides, so >= comparisons agree at the boundary)
      Oracle(s"""WITH $oracleTrainedScoredCte, ts AS (
                |  SELECT unnest([CAST(-0.0002 AS DOUBLE), -0.0001, -0.00005, 0.0,
                |                 0.00005, 0.0001, 0.0002]) AS threshold
                |), cm AS (
                |  SELECT threshold,
                |    count(*) FILTER (pos AND score >= threshold) AS tp,
                |    count(*) FILTER (NOT pos AND score >= threshold) AS fp,
                |    count(*) FILTER (pos AND score < threshold) AS fn,
                |    count(*) FILTER (NOT pos AND score < threshold) AS tn
                |  FROM scored CROSS JOIN ts
                |  WHERE score IS NOT NULL
                |  GROUP BY threshold
                |)
                |SELECT threshold, tp, fp, fn, tn,
                |  round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy,
                |  round(CASE WHEN tp + fp > 0
                |    THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
                |  round(CASE WHEN tp + fn > 0
                |    THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
                |  round(CASE WHEN tp * 2 + fp + fn > 0
                |    THEN CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn) END, 6) AS f1
                |FROM cm""".stripMargin)),

    // calibration reliability bins of the trained classifier over the
    // live score range (the sweep's ±e-4 band): frac_pos vs mean_score
    // per bin — the "is this score usable as a probability" diagnostic
    QuerySpec("q_text_calibration", (s, dir) => {
      val d = t(s, dir, "documents")
      ops.Stats.calibrationBins(d, col("lang") === "en", trainedScore(s, d),
        bins = 8, lo = -4.0e-4, hi = 4.0e-4)
    },
      // exact ROC-AUC: distinct-score frame with cumulative-below counts →
      // average ranks → tie-corrected Mann–Whitney U
      // calibration bins: same clamp-into-edge-bins binning, avg of the
      // rounded scores and of the 0/1 label — mirrors calibrationBins'
      // double arithmetic (width 1e-4 exact)
      Oracle(s"""WITH $oracleTrainedScoredCte, b AS (
                |  SELECT CAST(least(greatest(
                |      floor((score - (-4.0E-4)) / 1.0E-4), 0.0), 7.0) AS INTEGER) AS bin,
                |    pos, score
                |  FROM scored WHERE score IS NOT NULL
                |)
                |SELECT bin, count(*) AS n, round(avg(score), 6) AS mean_score,
                |  round(avg(CASE WHEN pos THEN CAST(1.0 AS DOUBLE)
                |    ELSE CAST(0.0 AS DOUBLE) END), 6) AS frac_pos
                |FROM b GROUP BY bin""".stripMargin)),

    // expected calibration error: the one-number summary of the bins
    // above (weighted |frac_pos − mean_score| + the worst bin)
    QuerySpec("q_text_ece", (s, dir) => {
      val d = t(s, dir, "documents")
      ops.Stats.expectedCalibrationError(d, col("lang") === "en",
        trainedScore(s, d), bins = 8, lo = -4.0e-4, hi = 4.0e-4)
    },
      // ECE over the ROUNDED bin stats (deterministic by construction)
      Oracle(s"""WITH $oracleTrainedScoredCte, b AS (
                |  SELECT CAST(least(greatest(
                |      floor((score - (-4.0E-4)) / 1.0E-4), 0.0), 7.0) AS INTEGER) AS bin,
                |    pos, score
                |  FROM scored WHERE score IS NOT NULL
                |), c AS (
                |  SELECT bin, count(*) AS n, round(avg(score), 6) AS mean_score,
                |    round(avg(CASE WHEN pos THEN CAST(1.0 AS DOUBLE)
                |      ELSE CAST(0.0 AS DOUBLE) END), 6) AS frac_pos
                |  FROM b GROUP BY bin
                |)
                |SELECT CAST(sum(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_bins,
                |  round(sum(n * abs(frac_pos - mean_score)) / sum(n), 6) AS ece,
                |  round(max(abs(frac_pos - mean_score)), 6) AS max_gap
                |FROM c""".stripMargin)),

    // exact ROC-AUC of the trained classifier (tie-corrected rank
    // statistic) — the threshold-free counterpart of the sweep
    QuerySpec("q_text_auc", (s, dir) => {
      val d = t(s, dir, "documents")
      ops.Stats.rocAuc(d, col("lang") === "en", trainedScore(s, d))
    },
      Oracle(s"""WITH $oracleTrainedScoredCte, g AS (
                |  SELECT score AS s, count(*) AS cnt, count(*) FILTER (pos) AS pos
                |  FROM scored WHERE score IS NOT NULL GROUP BY score
                |), r AS (
                |  SELECT *, coalesce(sum(cnt) OVER (
                |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
                |  FROM g
                |), a AS (
                |  SELECT CAST(sum(pos) AS BIGINT) AS np,
                |         CAST(sum(cnt - pos) AS BIGINT) AS nn,
                |         sum(pos * (below + (cnt + 1.0) / 2.0)) AS rs
                |  FROM r
                |)
                |SELECT np AS n_pos, nn AS n_neg,
                |  round(CASE WHEN np > 0 AND nn > 0
                |    THEN (rs - np * (np + 1.0) / 2.0) / (CAST(np AS DOUBLE) * nn) END, 6) AS auc
                |FROM a""".stripMargin)),

    // in-engine LOGISTIC training (fixed-epoch full-batch GD over the
    // same hashed features): integer-exact gradient sums + the
    // algebraic sigmoid make all 16 epochs bit-reproducible, so the
    // oracle recomputes the whole fixpoint as 16 chained CTE blocks
    QuerySpec("q_text_lr_weights", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      ops.Embeddings.trainLogisticWeights(
          t(s, dir, "documents"), "text", col("lang") === "en")
        .orderBy(col("bucket"))
    },
      // the 16-epoch logistic fixpoint replayed in SQL: integer dot
      // products, the algebraic sigmoid, quantized residual sums, and
      // floor(x+0.5) updates are all order-independent/IEEE-exact, so
      // every epoch lands bit-identically in both engines
      Oracle(s"""WITH ${oracleLrCtes(16)}
                |SELECT bucket, CAST(wv AS INTEGER) AS weight FROM lw16
                |UNION ALL
                |SELECT -1 AS bucket, CAST(bv AS INTEGER) AS weight FROM lb16""".stripMargin)),

    // the trained logistic model scored with the SAME native expression
    // Rocchio uses ([[Embeddings.linearScore]]) — the model slots into
    // the score/eval/calibration chain unchanged
    QuerySpec("q_text_lr_score", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val (w, bias) = lrModelFor(s, dir)
      t(s, dir, "documents").select(col("doc_id"),
        round(ops.Embeddings.linearScore(col("text"), w, scale = 1000.0, bias = bias), 6)
          .as("lr_score"))
        .withColumn("pred_en", col("lr_score") > 0)
        .orderBy(col("doc_id"))
    },
      // train (16 epochs) + score end to end, same linearScore shape as
      // the Rocchio rows
      Oracle(s"""WITH ${oracleLrScoredCte(16)}
                |SELECT doc_id, score AS lr_score, score > 0 AS pred_en FROM scoredlr""".stripMargin)),

    // ROC-AUC of the logistic model — DriverSuiteSpec contracts this
    // strictly above q_text_auc's Rocchio AUC at both SFs (the reason
    // the iterative trainer exists)
    QuerySpec("q_text_lr_auc", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val d = t(s, dir, "documents")
      val (w, bias) = lrModelFor(s, dir)
      ops.Stats.rocAuc(d, col("lang") === "en",
        round(ops.Embeddings.linearScore(col("text"), w, scale = 1000.0, bias = bias), 6))
    },
      // the logistic model's tie-corrected ROC-AUC (the q_text_auc rank
      // statistic over the lr score)
      Oracle(s"""WITH ${oracleLrScoredCte(16)}, g AS (
                |  SELECT score AS s, count(*) AS cnt, count(*) FILTER (pos) AS pos
                |  FROM scoredlr WHERE score IS NOT NULL GROUP BY score
                |), r AS (
                |  SELECT *, coalesce(sum(cnt) OVER (
                |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
                |  FROM g
                |), a AS (
                |  SELECT CAST(sum(pos) AS BIGINT) AS np,
                |         CAST(sum(cnt - pos) AS BIGINT) AS nn,
                |         sum(pos * (below + (cnt + 1.0) / 2.0)) AS rs
                |  FROM r
                |)
                |SELECT np AS n_pos, nn AS n_neg,
                |  round(CASE WHEN np > 0 AND nn > 0
                |    THEN (rs - np * (np + 1.0) / 2.0) / (CAST(np AS DOUBLE) * nn) END, 6) AS auc
                |FROM a""".stripMargin)),

    // average precision of the trained classifier (PR-space summary —
    // the imbalanced-gate counterpart of q_text_auc)
    QuerySpec("q_text_ap", (s, dir) => {
      val d = t(s, dir, "documents")
      ops.Stats.averagePrecision(d, col("lang") === "en", trainedScore(s, d))
    },
      // average precision: descending cumulative precision at each
      // distinct threshold, Σ pos_k · P_k / nPos
      Oracle(s"""WITH $oracleTrainedScoredCte, g AS (
                |  SELECT score AS s, count(*) AS cnt, count(*) FILTER (pos) AS pos
                |  FROM scored WHERE score IS NOT NULL GROUP BY score
                |), r AS (
                |  SELECT *,
                |    sum(cnt) OVER (ORDER BY s DESC
                |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumcnt,
                |    sum(pos) OVER (ORDER BY s DESC
                |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumpos
                |  FROM g
                |), a AS (
                |  SELECT CAST(sum(pos) AS BIGINT) AS np,
                |         CAST(sum(cnt - pos) AS BIGINT) AS nn,
                |         sum(pos * CAST(cumpos AS DOUBLE) / cumcnt) AS sap
                |  FROM r
                |)
                |SELECT np AS n_pos, nn AS n_neg,
                |  round(CASE WHEN np > 0 THEN sap / np END, 6) AS average_precision
                |FROM a""".stripMargin)),

    // context-budget clipping to the first 30 whitespace tokens
    QuerySpec("q_text_truncate", (s, dir) => {
      val (clipped, dropped) = TextOps.truncateTokens(col("text"), maxTokens = 30)
      t(s, dir, "documents").select(col("doc_id"),
        clipped.as("text_clipped"), dropped.as("n_dropped"))
    },
      // clipping mirror: list_slice + rejoin, dropped = max(len - cap, 0)
      Oracle(s"""SELECT doc_id,
                |  array_to_string(list_slice(ws, 1, 30), ' ') AS text_clipped,
                |  CAST(greatest(len(ws) - 30, 0) AS BIGINT) AS n_dropped
                |FROM (
                |  SELECT doc_id,
                |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS ws
                |  FROM documents
                |)""".stripMargin)),

    QuerySpec("q_text_langid", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.languageId(col("text")).as("lang_pred")),
      Oracle("""SELECT doc_id,
               |  CASE
               |    WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
               |    WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
               |    WHEN s_en >= s_de AND s_en > 0 THEN 'en'
               |    WHEN s_de > 0 THEN 'de'
               |    ELSE 'und'
               |  END AS lang_pred
               |FROM (
               |  SELECT doc_id,
               |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS s_en,
               |    len(regexp_extract_all(lower(text), '\b(le|la|les|et|de|un|une)\b')) AS s_fr,
               |    len(regexp_extract_all(lower(text), '\b(el|los|las|y|en|un|una)\b')) AS s_es,
               |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|von|ein|ist)\b')) AS s_de
               |  FROM documents
               |)""".stripMargin)),

    // langid + its abstention margin (top1 − top2 stopword score)
    QuerySpec("q_text_langid_margin", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.languageId(col("text")).as("lang_pred"),
        TextOps.languageMargin(col("text")).as("margin")),
      // margin mirror: descending sort of the four scores, top1 − top2
      Oracle("""SELECT doc_id,
               |  CASE
               |    WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
               |    WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
               |    WHEN s_en >= s_de AND s_en > 0 THEN 'en'
               |    WHEN s_de > 0 THEN 'de'
               |    ELSE 'und'
               |  END AS lang_pred,
               |  CAST(sl[1] - sl[2] AS INTEGER) AS margin
               |FROM (
               |  SELECT doc_id, s_en, s_fr, s_es, s_de,
               |    list_sort([s_en, s_fr, s_es, s_de], 'DESC') AS sl
               |  FROM (
               |    SELECT doc_id,
               |      len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS s_en,
               |      len(regexp_extract_all(lower(text), '\b(le|la|les|et|de|un|une)\b')) AS s_fr,
               |      len(regexp_extract_all(lower(text), '\b(el|los|las|y|en|un|una)\b')) AS s_es,
               |      len(regexp_extract_all(lower(text), '\b(der|die|das|und|von|ein|ist)\b')) AS s_de
               |    FROM documents
               |  )
               |)""".stripMargin)),

    // evaluate the language-ID heuristic against the true labels: the
    // full confusion matrix with per-class recall shares
    QuerySpec("q_text_confusion", (s, dir) =>
      ops.Stats.confusionMatrix(t(s, dir, "documents"),
        col("lang"), TextOps.languageId(col("text")))
        .orderBy(col("actual"), col("predicted")),
      // confusion matrix over the same langid CASE; shares computed over
      // the |classes|^2-row aggregate
      Oracle("""WITH p AS (
               |  SELECT lang AS actual,
               |    CASE
               |      WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
               |      WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
               |      WHEN s_en >= s_de AND s_en > 0 THEN 'en'
               |      WHEN s_de > 0 THEN 'de'
               |      ELSE 'und'
               |    END AS predicted
               |  FROM (
               |    SELECT lang, text,
               |      len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS s_en,
               |      len(regexp_extract_all(lower(text), '\b(le|la|les|et|de|un|une)\b')) AS s_fr,
               |      len(regexp_extract_all(lower(text), '\b(el|los|las|y|en|un|una)\b')) AS s_es,
               |      len(regexp_extract_all(lower(text), '\b(der|die|das|und|von|ein|ist)\b')) AS s_de
               |    FROM documents
               |  )
               |), c AS (
               |  SELECT actual, predicted, count(*) AS n FROM p
               |  WHERE actual IS NOT NULL AND predicted IS NOT NULL
               |  GROUP BY 1, 2
               |)
               |SELECT actual, predicted, n,
               |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY actual), 6) AS share_of_actual
               |FROM c ORDER BY actual, predicted""".stripMargin)),

    // the same gate evaluated PER SOURCE: where does en-detection degrade
    QuerySpec("q_text_eval_by_source", (s, dir) =>
      ops.Stats.binaryEvalByGroup(t(s, dir, "documents"),
        col("lang") === "en", TextOps.languageId(col("text")) === "en",
        Seq("source")).orderBy(col("source")),
      // per-source binary scorecard over the same langid CASE
      Oracle(s"""WITH p AS (
                |  SELECT source, lang = 'en' AS a,
                |    (CASE
                |      WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
                |      WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
                |      WHEN s_en >= s_de AND s_en > 0 THEN 'en'
                |      WHEN s_de > 0 THEN 'de'
                |      ELSE 'und'
                |    END) = 'en' AS p
                |  FROM (
                |    SELECT source, lang,
                |      len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a)\\b')) AS s_en,
                |      len(regexp_extract_all(lower(text), '\\b(le|la|les|et|de|un|une)\\b')) AS s_fr,
                |      len(regexp_extract_all(lower(text), '\\b(el|los|las|y|en|un|una)\\b')) AS s_es,
                |      len(regexp_extract_all(lower(text), '\\b(der|die|das|und|von|ein|ist)\\b')) AS s_de
                |    FROM documents
                |  )
                |), cm AS (
                |  SELECT source,
                |    sum(CASE WHEN a AND p THEN 1 ELSE 0 END) AS tp,
                |    sum(CASE WHEN NOT a AND p THEN 1 ELSE 0 END) AS fp,
                |    sum(CASE WHEN a AND NOT p THEN 1 ELSE 0 END) AS fn,
                |    sum(CASE WHEN NOT a AND NOT p THEN 1 ELSE 0 END) AS tn
                |  FROM p WHERE a IS NOT NULL AND p IS NOT NULL GROUP BY source
                |)
                |SELECT source, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
                |  round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy,
                |  round(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
                |  round(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
                |  round(CASE WHEN tp * 2 + fp + fn > 0
                |    THEN CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn) END, 6) AS f1
                |FROM cm ORDER BY source""".stripMargin)),

    // Flesch-style readability from regexp proxies
    QuerySpec("q_text_readability", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.readability(col("text")).as("readability")),
      // readability mirror: identical proxy counts and double op order
      Oracle(s"""SELECT doc_id,
                |  CASE WHEN w > 0 THEN round(206.835
                |    - 1.015 * (CAST(w AS DOUBLE) / s)
                |    - 84.6 * (CAST(y AS DOUBLE) / w), 6) END AS readability
                |FROM (
                |  SELECT doc_id,
                |    CAST(len($oracleTokens) AS INTEGER) AS w,
                |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
                |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
                |  FROM documents
                |)""".stripMargin)),

    QuerySpec("q_text_top_tokens", (s, dir) =>
      TextOps.topTokens(t(s, dir, "documents"), "text", k = 100),
      Oracle(s"""SELECT token, count(*) AS n FROM (
                |  SELECT unnest($oracleTokens) AS token FROM documents
                |) GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin)),

    // per-language corpus profile with EXACT percentiles (Spark percentile
    // ≡ DuckDB quantile_cont, same linear interpolation)
    QuerySpec("q_text_profile", (s, dir) =>
      TextOps.corpusProfile(t(s, dir, "documents"), "text"),
      Oracle(s"""SELECT lang, count(*) AS n_docs, round(avg(nw), 6) AS avg_tokens,
                |  round(quantile_cont(nw, 0.5), 6) AS p50_tokens,
                |  round(quantile_cont(nw, 0.9), 6) AS p90_tokens,
                |  max(nw) AS max_tokens
                |FROM (
                |  SELECT
                |    CASE
                |      WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
                |      WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
                |      WHEN s_en >= s_de AND s_en > 0 THEN 'en'
                |      WHEN s_de > 0 THEN 'de'
                |      ELSE 'und'
                |    END AS lang,
                |    CAST($oracleWsTokens AS INTEGER) AS nw
                |  FROM (
                |    SELECT text,
                |      $oracleStopEn AS s_en,
                |      len(regexp_extract_all(lower(text), '\\b(le|la|les|et|de|un|une)\\b')) AS s_fr,
                |      len(regexp_extract_all(lower(text), '\\b(el|los|las|y|en|un|una)\\b')) AS s_es,
                |      len(regexp_extract_all(lower(text), '\\b(der|die|das|und|von|ein|ist)\\b')) AS s_de
                |    FROM documents
                |  )
                |)
                |GROUP BY lang""".stripMargin)),

    // substring-span dedup (Lee et al.): remove every k-token span that
    // occurs in >= 2 distinct documents, reconstruct the survivors
    QuerySpec("q_text_span_dedup", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      TextOps.dedupSpans(t(s, dir, "documents"), "text", "doc_id", k = 8, minDocs = 2)
    },
      // substring-span dedup: positions of >=2-doc shingles recomputed via
      // the same md5-derived shingle hashes, covered tokens dropped, kept
      // tokens re-joined in order — the reconstruction must match Spark's
      // byte for byte
      Oracle(s"""WITH toks AS (
                |  SELECT doc_id, $oracleTokens AS tokens FROM documents
                |), sh AS (
                |  -- aligned unnests (expression-context range emits a list):
                |  -- shingle start positions paired with their md5-derived hashes
                |  SELECT doc_id,
                |    unnest(range(0, greatest(len(tokens) - 7, 0))) AS pos,
                |    unnest(list_transform(range(0, greatest(len(tokens) - 7, 0)),
                |      p -> ${oracleMd5Long("array_to_string(list_slice(tokens, p + 1, p + 8), ' ')")})) AS h
                |  FROM toks
                |), dup AS (
                |  SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2
                |), starts AS (
                |  SELECT doc_id, pos FROM sh WHERE h IN (SELECT h FROM dup)
                |), tokpos AS (
                |  SELECT doc_id,
                |    unnest(range(0, len(tokens))) AS i,
                |    unnest(tokens) AS tok
                |  FROM toks
                |), kept AS (
                |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.i) AS txt,
                |    count(*) AS nk
                |  FROM tokpos t
                |  WHERE NOT EXISTS (
                |    SELECT 1 FROM starts s
                |    WHERE s.doc_id = t.doc_id AND s.pos <= t.i AND t.i < s.pos + 8)
                |  GROUP BY t.doc_id
                |)
                |SELECT x.doc_id, coalesce(k.txt, '') AS text_dedup,
                |  CAST(len(x.tokens) AS BIGINT) AS n_tokens,
                |  CAST(len(x.tokens) - coalesce(k.nk, 0) AS BIGINT) AS n_removed
                |FROM toks x LEFT JOIN kept k USING (doc_id)""".stripMargin)),

    // HTML → text extraction: documents wrapped in a deterministic page
    // shell (title/nav/script/style/comments/entities) and stripped back
    // to text by the fixed regexp cascade; the oracle rebuilds the same
    // HTML and replays the same cascade
    QuerySpec("q_text_html_extract", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.htmlToText(syntheticHtml).as("extracted"))
        .orderBy(col("doc_id")),
      // HTML extraction: the same page shell rebuilt in SQL, the same
      // order-fixed cascade (script/style elements, comments, block
      // closers → newlines, tag strip, entities with amp last,
      // whitespace normalization) replayed step for step
      Oracle(s"""WITH h AS (
                |  SELECT doc_id,
                |    '<!DOCTYPE html><html><head><title>Doc ' || doc_id ||
                |    '</title><style>body{color:#000}</style>' ||
                |    '<script type="text/javascript">var x = 1 < 2;</script></head>' ||
                |    '<body><!-- nav boilerplate --><div class="nav">Home &amp; About</div><h1>Doc ' || doc_id ||
                |    '</h1><p>' || text ||
                |    '</p><p>Footer &copy; 2024&nbsp;Example &lt;inc&gt;</p></body></html>' AS html
                |  FROM documents
                |), s1 AS (
                |  SELECT doc_id, regexp_replace(html,
                |    '(?is)<script[^>]*>.*?</script>|(?is)<style[^>]*>.*?</style>', '', 'g') AS t FROM h
                |), s2 AS (
                |  SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', '', 'g') AS t FROM s1
                |), s3 AS (
                |  SELECT doc_id, regexp_replace(t,
                |    '(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/title)[^>]*>', chr(10), 'g') AS t FROM s2
                |), s4 AS (
                |  SELECT doc_id, regexp_replace(t, '<(/?[A-Za-z][^>]*|![^>]*)>', '', 'g') AS t FROM s3
                |), s5 AS (
                |  SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
                |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
                |    '&nbsp;', ' '), '&amp;', '&') AS t FROM s4
                |)
                |SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(t,
                |  '[ \\t\\r]+', ' ', 'g'), ' *\\n *', chr(10), 'g'),
                |  '\\n{3,}', chr(10) || chr(10), 'g')) AS extracted
                |FROM s5""".stripMargin)),

    // URL canonicalization: the crawl-level first dedup key. Messy URL
    // variants (case, default ports, fragments, tracking params,
    // param order) are synthesized deterministically per doc, so the
    // oracle rebuilds the same inputs and applies the same rules
    QuerySpec("q_text_url_canon", (s, dir) => {
      val d = t(s, dir, "documents").withColumn("url", messyUrl)
      d.select(col("doc_id"), col("url"),
        TextOps.canonicalUrl(col("url")).as("url_canon"),
        TextOps.urlDomain(col("url")).as("domain"))
        .orderBy(col("doc_id"))
    },
      // URL canonicalization: the same synthesized messy URLs, the same
      // order-fixed rules (fragment, lowercase scheme/host, default port,
      // empty path, tracking-param drop + param sort) replayed in SQL
      Oracle(s"""WITH raw AS (
                |  SELECT doc_id, ${oracleUrl(oracleMessyPath)} AS url FROM documents
                |), st AS (
                |  SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS u FROM raw
                |), parts AS (
                |  SELECT doc_id, url, u,
                |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                |    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
                |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
                |    coalesce(array_to_string(list_sort(list_filter(
                |      string_split(regexp_extract(u, '\\?([^#]*)', 1), '&'),
                |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=&]*|gclid|fbclid|msclkid)(=|$$)'))), '&'), '') AS qs
                |  FROM st
                |)
                |SELECT doc_id, url,
                |  CASE WHEN scheme = '' THEN NULL ELSE
                |    scheme || '://' ||
                |    (CASE scheme WHEN 'http' THEN regexp_replace(hostport, ':80$$', '')
                |                 WHEN 'https' THEN regexp_replace(hostport, ':443$$', '')
                |                 ELSE hostport END) ||
                |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
                |    (CASE WHEN qs = '' THEN '' ELSE '?' || qs END)
                |  END AS url_canon,
                |  nullif(regexp_replace(
                |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)),
                |    '^www\\.', ''), '') AS domain
                |FROM parts""".stripMargin)),

    // per-domain corpus rollup over the same synthesized URLs — the
    // is-one-site-flooding-the-mix curation meter
    QuerySpec("q_text_domain_stats", (s, dir) =>
      TextOps.domainStats(
        t(s, dir, "documents").withColumn("url", messyUrl), col("url"), col("text")),
      Oracle(s"""SELECT
                |  nullif(regexp_replace(
                |    lower(regexp_extract(${oracleUrl(oracleMessyPath)}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)),
                |    '^www\\.', ''), '') AS domain,
                |  count(*) AS n_docs,
                |  CAST(sum($oracleWsTokens) AS BIGINT) AS n_tokens,
                |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
                |FROM documents GROUP BY 1""".stripMargin)),

    QuerySpec("q_text_repetition", (s, dir) => {
      graft.functions.GraftFunctions.register(s) // native word_shingles
      val metrics = TextOps.repetitionMetrics(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(col("doc_id") +: metrics: _*)
    },
      Oracle({
        s"""SELECT doc_id,
           |  ${oracleDupFrac("sh1")} AS dup_word_frac,
           |  ${oracleDupFrac("sh2")} AS dup_2gram_frac,
           |  ${oracleDupFrac("sh3")} AS dup_3gram_frac
           |FROM (
           |  SELECT doc_id, tokens AS sh1, ${oracleShingles(2)} AS sh2, ${oracleShingles(3)} AS sh3
           |  FROM (SELECT doc_id, $oracleTokens AS tokens FROM documents)
           |)""".stripMargin
      })),

    // BM25 relevance retrieval against a literal query (Okapi, Lucene
    // lower-bounded idf) — the lexical data-selection complement of the
    // embedding ANN ladder: 'dup' is rare (df 25/500 at sf0.01) so it
    // dominates, 'hash'/'scan' are near-ubiquitous background terms.
    // Top-50 on the unrounded score, id tiebreak, full oracle
    QuerySpec("q_text_bm25", (s, dir) =>
      ops.Retrieval.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
        query = "dup hash scan", k = 50),
      // BM25 top-k: mirrors Retrieval.scored's fixed-order double
      // arithmetic term for term (exact integer tf/df/N/dl, one avgdl
      // division, Lucene lower-bounded idf), ordered on the unrounded
      // score with the id tiebreak
      Oracle(oracleBm25Sql(Seq("dup", "hash", "scan"), 50))),

    // reciprocal-rank fusion of two BM25 top-50 lists from different
    // queries (the expanded-query hybrid shape; same combiner fuses
    // lexical ∪ ANN lists) — 1/(60+rank) summed, top-30, full oracle
    QuerySpec("q_text_rrf", (s, dir) => {
      val d = t(s, dir, "documents")
      ops.Retrieval.reciprocalRankFusion(
        Seq(
          (ops.Retrieval.bm25TopK(d, "text", "doc_id", "dup hash scan", k = 50),
            "bm25"),
          (ops.Retrieval.bm25TopK(d, "text", "doc_id", "sort key vector", k = 50),
            "bm25")),
        idCol = "doc_id", topK = 30)
    },
      // reciprocal-rank fusion of two BM25 lists (expanded-query hybrid):
      // per-list rank on (rounded score desc, id), 1/(60+rank) summed
      Oracle(s"""WITH la AS (${oracleBm25Sql(Seq("dup", "hash", "scan"), 50)}),
                |lb AS (${oracleBm25Sql(Seq("sort", "key", "vector"), 50)}),
                |r AS (
                |  SELECT doc_id,
                |    1.0 / (60 + row_number() OVER (ORDER BY bm25 DESC, doc_id)) AS c
                |  FROM la
                |  UNION ALL
                |  SELECT doc_id,
                |    1.0 / (60 + row_number() OVER (ORDER BY bm25 DESC, doc_id)) AS c
                |  FROM lb
                |)
                |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
                |  round(sum(c), 6) AS rrf
                |FROM r GROUP BY doc_id
                |ORDER BY sum(c) DESC, doc_id LIMIT 30""".stripMargin)),

    // phrase-blocklist gate (C4 badwords rule shape): ONE Aho–Corasick
    // automaton probe per row vs a per-phrase contains chain — same
    // semantics, so the oracle is the OR-of-contains SQL
    QuerySpec("q_text_blocklist", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.blocklisted(col("text"), blockPhrases).as("blocked"))
    },
      // blocklist gate: the automaton's substring semantics ARE the
      // OR-of-contains chain, so the chain is the oracle
      Oracle(s"""SELECT doc_id, (${blockPhrases
               .map(p => s"contains(lower(text), '$p')").mkString(" OR ")}) AS blocked
                |FROM documents""".stripMargin)),

    // compression-ratio redundancy signal (native deflate_len
    // expression): deterministic per JDK zlib but not SQL-expressible →
    // rows-only; bounds + determinism contracted by DriverSuiteSpec
    // ("compression ratio signal"), planted ordering in OpsSpec
    QuerySpec("q_text_compress", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val metrics = TextOps.compressionMetrics(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(col("doc_id") +: metrics: _*)
    },
      RowsOnly("JDK zlib deflate lengths are not SQL-expressible (DriverSuiteSpec bounds them)")),

    // PII scrubbing: counts per cascade stage + fingerprint of the
    // scrubbed text (the synthetic corpus has no PII, so counts are 0 and
    // fp equals md5(text) — the oracle still verifies the whole cascade
    // expression; planted-input semantics live in OpsSpec)
    QuerySpec("q_text_redact", (s, dir) => {
      val counts = TextOps.piiCounts(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(
        (col("doc_id") +: counts :+
          md5(TextOps.redactPii(col("text")).cast("binary")).as("fp_redacted")): _*)
    },
      Oracle({
        val u = TextOps.urlPattern
        val e = TextOps.emailPattern
        val p = TextOps.phonePattern
        s"""SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$u')) AS INTEGER) AS n_urls,
           |  CAST(len(regexp_extract_all(regexp_replace(text, '$u', '<URL>', 'g'), '$e')) AS INTEGER) AS n_emails,
           |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(text, '$u', '<URL>', 'g'), '$e', '<EMAIL>', 'g'), '$p')) AS INTEGER) AS n_phones,
           |  md5(regexp_replace(regexp_replace(regexp_replace(text, '$u', '<URL>', 'g'), '$e', '<EMAIL>', 'g'), '$p', '<PHONE>', 'g')) AS fp_redacted
           |FROM documents""".stripMargin
      })),

    // context-window packing: 64-token chunks with 16 tokens of overlap
    QuerySpec("q_text_chunks", (s, dir) =>
      TextOps.chunkTokens(t(s, dir, "documents"), "text", "doc_id",
        chunkSize = 64, overlap = 16),
      // mirrors chunkTokens: stride 48, tail window shorter, no window
      // fully contained in its predecessor
      Oracle(oracleChunks)),

    // sequence packing: the same chunks greedily packed into 256-token
    // training sequences across 8 deterministic salted pack streams
    QuerySpec("q_text_pack", (s, dir) =>
      TextOps.packChunks(
        TextOps.chunkTokens(t(s, dir, "documents"), "text", "doc_id",
          chunkSize = 64, overlap = 16),
        "doc_id", budget = 256, groups = 8, salt = "r4")
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          col("pack_group"), col("seq_idx")),
      // mirrors packChunks over the same chunk set: salted pack stream +
      // windowed token cumsum within the stream
      Oracle(s"""WITH ch AS ($oracleChunks)
                |SELECT doc_id, chunk_idx, n_tokens,
                |  CAST(g AS INTEGER) AS pack_group,
                |  CAST(floor((sum(n_tokens) OVER (
                |        PARTITION BY g ORDER BY doc_id, chunk_idx
                |        ROWS UNBOUNDED PRECEDING) - n_tokens) / 256.0) AS INTEGER) AS seq_idx
                |FROM (SELECT doc_id, chunk_idx, n_tokens,
                |        ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r4'")} % 8 AS g
                |      FROM ch)""".stripMargin)),

    QuerySpec("q_text_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.fingerprintMd5(col("text")).as("fp_md5")),
      Oracle(s"SELECT doc_id, md5($oracleNorm) AS fp_md5 FROM documents")),

    // benchmark decontamination: distinct 5-gram overlap of every corpus
    // document with the "evaluation set" (every 50th document) — the
    // planted near-dup clusters make nonzero overlaps exist
    QuerySpec("q_text_decontam", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.contaminationCounts(docs, docs.filter(col("doc_id") % 50 === 0),
        "text", "doc_id", n = 5)
        .orderBy(col("doc_id"))
    },
      // mirrors contaminationCounts: distinct 5-gram sets per corpus doc
      // joined against the union of benchmark 5-grams (string-keyed here;
      // the Spark side joins 64-bit shingle hashes — equal counts barring
      // astronomically unlikely collisions, which this row would surface)
      Oracle(s"""WITH csh AS (
                |  SELECT doc_id, unnest(list_distinct(sh)) AS s FROM (
                |    SELECT doc_id, ${oracleShingles(5)} AS sh
                |    FROM (SELECT doc_id, $oracleTokens AS tokens FROM documents)
                |  )
                |), bsh AS (
                |  SELECT DISTINCT s FROM csh WHERE doc_id % 50 = 0
                |)
                |SELECT doc_id, count(*) AS n_overlap
                |FROM csh JOIN bsh USING (s)
                |GROUP BY doc_id""".stripMargin)),

    // bloom-prefiltered decontamination: bloom prunes, exact join
    // verifies — by contract row-identical to plain decontaminate, which
    // is what the oracle checks (DuckDB recomputes the EXACT overlap; the
    // bloom must not change the answer)
    QuerySpec("q_text_decontam_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.decontaminateBloom(docs, docs.filter(col("doc_id") % 50 === 0),
        "text", "doc_id", n = 5, minOverlap = 1, fpp = 0.01)
        .select(col("doc_id"))
    },
      // bloom decontamination: the bloom is a pure work-pruner, so the
      // oracle is the exact semantics — documents with zero 5-gram overlap
      // against the benchmark slice
      Oracle(s"""WITH csh AS (
                |  SELECT doc_id, unnest(list_distinct(sh)) AS s FROM (
                |    SELECT doc_id, ${oracleShingles(5)} AS sh
                |    FROM (SELECT doc_id, $oracleTokens AS tokens FROM documents)
                |  )
                |), bsh AS (
                |  SELECT DISTINCT s FROM csh WHERE doc_id % 50 = 0
                |), cont AS (
                |  SELECT DISTINCT doc_id FROM csh JOIN bsh USING (s)
                |)
                |SELECT doc_id FROM documents
                |WHERE doc_id NOT IN (SELECT doc_id FROM cont)""".stripMargin)),

    QuerySpec("q_text_fingerprint_rolling", (s, dir) => {
      graft.functions.GraftFunctions.register(s) // native word_shingles
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.fingerprintRolling(col("text")).as("fp_roll"))
    },
      // 1-hash MinHash over 5-word shingles with the md5-derived hash
      Oracle(s"""SELECT doc_id,
                |  list_min(list_transform(sh, s -> ${oracleMd5Long("s")})) AS fp_roll
                |FROM (
                |  SELECT doc_id, ${oracleShingles(5)} AS sh
                |  FROM (SELECT doc_id, $oracleTokens AS tokens FROM documents)
                |)""".stripMargin)),

    // winnow-fingerprint overlap: near-dup candidates from fingerprints
    // alone (>= 2 shared winnowed hashes)
    QuerySpec("q_text_winnow_overlap", (s, dir) =>
      TextOps.winnowOverlap(t(s, dir, "documents"), "text", "doc_id"),
      // winnow overlap: same winnowed sets, inverted-index self-join on the
      // selected hashes, pair counts at minShared = 2
      Oracle(oracleWinnowOverlapSql)),

    // solver-dialed winnow overlap (the bounded 100 TB default): window
    // solved from the corpus size via the candidate-volume model; at the
    // correctness SFs the solver returns the floor, so this row shares
    // q_text_winnow_overlap's oracle bit-for-bit (dial = config, not
    // semantics)
    QuerySpec("q_text_winnow_auto", (s, dir) =>
      TextOps.winnowOverlapAuto(t(s, dir, "documents"), "text", "doc_id"),
      // the solver-dialed variant: at the correctness SFs winnowConfigFor
      // returns the floor window (the corpus fits the candidate budget), so
      // the result — and therefore the oracle — is IDENTICAL to the
      // fixed-dial row; this entry pins "the dial is config, not semantics"
      Oracle(oracleWinnowOverlapSql)),

    // winnowing (MOSS) fingerprint: distinct window-min shingle hashes,
    // canonicalized to a sorted joined string for the array-free compare
    QuerySpec("q_text_fingerprint_winnow", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val fp = TextOps.fingerprintWinnow(col("text"), k = 5, w = 4)
      t(s, dir, "documents").select(
        col("doc_id"),
        array_join(transform(fp, h => h.cast("string")), ",").as("fp_winnow"),
        size(fp).cast("long").as("n_selected"))
    },
      // winnowing: the same window-min selection over the same md5-derived
      // hashes (list_slice is 1-based inclusive: window i covers i..i+w-1)
      Oracle(s"""SELECT doc_id,
                |  CASE WHEN len(hs) = 0 THEN ''
                |       WHEN len(hs) < 4 THEN CAST(list_min(hs) AS VARCHAR)
                |       ELSE array_to_string(
                |         list_sort(list_distinct(list_transform(
                |           range(1, len(hs) - 2),
                |           i -> list_min(list_slice(hs, i, i + 3))))), ',')
                |  END AS fp_winnow,
                |  CAST(CASE WHEN len(hs) = 0 THEN 0
                |       WHEN len(hs) < 4 THEN 1
                |       ELSE len(list_distinct(list_transform(
                |         range(1, len(hs) - 2),
                |         i -> list_min(list_slice(hs, i, i + 3)))))
                |  END AS BIGINT) AS n_selected
                |FROM (
                |  SELECT doc_id, list_transform(sh, s -> ${oracleMd5Long("s")}) AS hs
                |  FROM (
                |    SELECT doc_id, ${oracleShingles(5)} AS sh
                |    FROM (SELECT doc_id, $oracleTokens AS tokens FROM documents)
                |  )
                |)""".stripMargin)),

    // Unicode NFC canonical composition (native nfc_normalize): the
    // digest-stability hygiene step before any digest-keyed dedup on
    // non-ASCII corpora. This corpus is ASCII so every row reports
    // already_nfc = true — the oracle still verifies the expression
    // end-to-end; combining-mark/ligature semantics live in
    // VectorExprSpec's planted fixtures
    QuerySpec("q_text_nfc", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val nfc = graft.functions.GraftFunctions.nfcNormalize(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        length(nfc).cast("long").as("nfc_chars"),
        (nfc === col("text")).as("already_nfc"))
    },
      // NFC normalization: DuckDB's utf8proc-backed nfc_normalize vs the
      // engine's java.text.Normalizer — both implement UAX #15 canonical
      // composition, so length and identity agree on any input
      Oracle("""SELECT doc_id,
               |  CAST(length(nfc_normalize(text)) AS BIGINT) AS nfc_chars,
               |  nfc_normalize(text) = text AS already_nfc
               |FROM documents""".stripMargin)),

    // encoding-hygiene metrics (this corpus is clean ASCII, so counts are
    // 0 and the ratio 0.0 — the oracle still verifies every expression;
    // planted mojibake semantics live in OpsSpec)
    QuerySpec("q_text_encoding", (s, dir) => {
      val m = TextOps.encodingMetrics(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(col("doc_id") +: m: _*)
    },
      Oracle("""SELECT doc_id,
               |  CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS INTEGER) AS n_control,
               |  CAST(len(regexp_extract_all(text, '�')) AS INTEGER) AS n_replacement,
               |  round(CAST(len(regexp_extract_all(text, '[^\x00-\x7F]')) AS DOUBLE)
               |    / greatest(length(text), 1), 6) AS nonascii_ratio
               |FROM documents""".stripMargin)),

    // corpus-level duplication meter: fraction of each doc's distinct
    // 8-shingles that occur in >= 2 documents (nonzero via the planted
    // near-dup clusters)
    QuerySpec("q_text_corpus_dup", (s, dir) =>
      TextOps.corpusDupStats(t(s, dir, "documents"), "text", "doc_id", k = 8, minDocs = 2),
      // corpus duplication meter: recompute the distinct-shingle inverted
      // index with the same md5-derived 60-bit hash and count per-doc
      // shingles whose doc-frequency reaches minDocs
      Oracle(s"""WITH hs AS (
                |  SELECT doc_id,
                |    list_distinct(list_transform(${oracleShingles(8)}, s -> ${oracleMd5Long("s")})) AS hl
                |  FROM (SELECT doc_id, $oracleTokens AS tokens FROM documents)
                |), inv AS (
                |  SELECT doc_id, unnest(hl) AS h FROM hs
                |), dup AS (
                |  SELECT h FROM inv GROUP BY h HAVING count(*) >= 2
                |), dc AS (
                |  SELECT doc_id, count(*) AS n_dup FROM inv
                |  WHERE h IN (SELECT h FROM dup) GROUP BY doc_id
                |)
                |SELECT d.doc_id,
                |  CAST(coalesce(len(hs.hl), 0) AS BIGINT) AS n_shingles,
                |  CAST(coalesce(dc.n_dup, 0) AS BIGINT) AS n_dup,
                |  round(CASE WHEN coalesce(len(hs.hl), 0) = 0 THEN 0.0
                |        ELSE CAST(coalesce(dc.n_dup, 0) AS DOUBLE) / len(hs.hl) END, 6) AS dup_frac
                |FROM documents d
                |LEFT JOIN hs ON d.doc_id = hs.doc_id
                |LEFT JOIN dc ON d.doc_id = dc.doc_id""".stripMargin)),

    // line-level boilerplate removal: the synthetic corpus is single-line,
    // so " the " stands in as the line separator (43 segments repeat
    // across >= 2 docs at sf0.01 — the operator genuinely rewrites text
    // here); real newline-separated corpora pass sep = "\n"
    QuerySpec("q_text_boilerplate", (s, dir) =>
      TextOps.removeBoilerplate(t(s, dir, "documents"), "text", "doc_id",
        sep = " the ", minDocs = 2),
      // boilerplate removal: recompute the >= minDocs normalized-segment
      // set and filter each document's segments against it (string
      // membership here ≡ the operator's md5-digest membership, modulo md5
      // collisions)
      Oracle(s"""WITH ls AS (
                |  SELECT doc_id, string_split(text, ' the ') AS segs FROM documents
                |), freq AS (
                |  SELECT nl, count(*) AS df FROM (
                |    SELECT doc_id, unnest(list_distinct(list_transform(segs, l -> ${oracleNormExpr("l")}))) AS nl
                |    FROM ls
                |  ) WHERE nl <> '' GROUP BY nl
                |), blarr AS (
                |  SELECT coalesce(list(nl), CAST([] AS VARCHAR[])) AS bl FROM freq WHERE df >= 2
                |)
                |SELECT doc_id,
                |  -- DuckDB's array_to_string of an EMPTY list is NULL; Spark's
                |  -- array_join is '' — coalesce to the Spark (and sensible) value
                |  coalesce(array_to_string(kept, ' the '), '') AS text_clean,
                |  CAST(len(segs) - len(kept) AS BIGINT) AS n_removed
                |FROM (
                |  SELECT doc_id, segs,
                |    list_filter(segs, l -> NOT list_contains(bl, ${oracleNormExpr("l")})) AS kept
                |  FROM ls CROSS JOIN blarr
                |)""".stripMargin)),

    // incremental boilerplate (daily-crawl shape): the batch scrubbed
    // against the HISTORY's persisted frequent-segment store — history
    // frequency decides, batch-internal repetition doesn't
    QuerySpec("q_text_boilerplate_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.removeBoilerplateWith(
        docs.filter(col("doc_id") >= 250),
        TextOps.boilerplateDigests(docs.filter(col("doc_id") < 250),
          "text", " the ", minDocs = 2),
        "text", "doc_id", sep = " the ")
    },
      // incremental boilerplate: store gated on the history slice, applied
      // to the batch slice — same per-line mirror as q_text_boilerplate
      Oracle(s"""WITH ls AS (
                |  SELECT doc_id, string_split(text, ' the ') AS segs FROM documents
                |  WHERE doc_id >= 250
                |), freq AS (
                |  SELECT nl, count(*) AS df FROM (
                |    SELECT doc_id, unnest(list_distinct(list_transform(segs, l -> ${oracleNormExpr("l")}))) AS nl
                |    FROM (SELECT doc_id, string_split(text, ' the ') AS segs
                |          FROM documents WHERE doc_id < 250)
                |  ) WHERE nl <> '' GROUP BY nl
                |), blarr AS (
                |  SELECT coalesce(list(nl), CAST([] AS VARCHAR[])) AS bl FROM freq WHERE df >= 2
                |)
                |SELECT doc_id,
                |  coalesce(array_to_string(kept, ' the '), '') AS text_clean,
                |  CAST(len(segs) - len(kept) AS BIGINT) AS n_removed
                |FROM (
                |  SELECT doc_id, segs,
                |    list_filter(segs, l -> NOT list_contains(bl, ${oracleNormExpr("l")})) AS kept
                |  FROM ls CROSS JOIN blarr
                |)""".stripMargin)),

    // Gopher §A1.1 rule battery; the synthetic corpus has no bullets or
    // ellipses (those rules pass trivially here — planted unit tests
    // exercise them), so the gate discriminates on word count and the
    // required-stopword rule (relaxed to 1: only "the" appears)
    QuerySpec("q_text_gopher", (s, dir) => {
      val d = t(s, dir, "documents")
      val metrics = TextOps.gopherMetrics(col("text"), sep = " the ")
        .map { case (n, c) => c.as(n) }
      d.select((col("doc_id") +: metrics :+
        TextOps.gopherPass(col("text"), sep = " the ",
          minWords = 20, minStopHits = 1).as("pass")): _*)
    },
      // Gopher §A1.1 battery recomputed term by term (sep = ' the ',
      // minWords = 20, minStopHits = 1 — the driver-query config)
      Oracle(s"""WITH m AS (
                |  SELECT doc_id, text,
                |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS ws,
                |    list_filter(list_transform(string_split(text, ' the '), l -> trim(l)),
                |                l -> len(l) > 0) AS segs
                |  FROM documents
                |), g AS (
                |  SELECT doc_id,
                |    CAST(len(ws) AS INTEGER) AS n_words,
                |    round(CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0) AS DOUBLE)
                |      / greatest(len(ws), 1), 6) AS mean_word_len,
                |    round(CAST(len(regexp_extract_all(text, '#'))
                |        + len(regexp_extract_all(text, '\\.\\.\\.'))
                |        + len(regexp_extract_all(text, '…')) AS DOUBLE)
                |      / greatest(len(ws), 1), 6) AS symbol_word_ratio,
                |    round(CAST(len(list_filter(segs, l ->
                |        substr(l, 1, 1) = '-' OR substr(l, 1, 1) = '*' OR substr(l, 1, 1) = '•')) AS DOUBLE)
                |      / greatest(len(segs), 1), 6) AS bullet_line_frac,
                |    round(CAST(len(list_filter(segs, l ->
                |        ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
                |      / greatest(len(segs), 1), 6) AS ellipsis_line_frac,
                |    round(CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                |      / greatest(len(ws), 1), 6) AS alpha_word_frac,
                |    ${TextOps.gopherStopwords.map(w =>
                       s"CASE WHEN regexp_matches(lower(text), '\\b$w\\b') THEN 1 ELSE 0 END")
                       .mkString(" + ")} AS stop_hits
                |  FROM m
                |)
                |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
                |  ellipsis_line_frac, alpha_word_frac, stop_hits,
                |  (n_words >= 20 AND n_words <= 100000
                |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                |    AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
                |    AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
                |    AND stop_hits >= 1) AS pass
                |FROM g""".stripMargin)),

    // C4 line/document cleaning; terminal-punctuation rule off (the
    // synthetic text has no punctuation — planted unit tests cover it)
    QuerySpec("q_text_c4", (s, dir) =>
      TextOps.c4Clean(t(s, dir, "documents"), "text", "doc_id",
        sep = " the ", minLineWords = 4, requireTerminalPunct = false),
      // C4 cleaning recomputed line by line (sep = ' the ', minLineWords = 4,
      // no terminal-punct rule — the driver-query config); the blocklist
      // document drop mirrors the WHERE
      Oracle("""WITH ls AS (
               |  SELECT doc_id, text, string_split(text, ' the ') AS segs FROM documents
               |), f AS (
               |  SELECT doc_id, segs,
               |    list_filter(segs, l ->
               |      len(list_filter(string_split_regex(trim(l), '\s+'), w -> len(w) > 0)) >= 4) AS kept
               |  FROM ls
               |  WHERE NOT (contains(lower(text), 'lorem ipsum') OR contains(lower(text), '{'))
               |)
               |SELECT doc_id,
               |  coalesce(array_to_string(kept, ' the '), '') AS text_clean,
               |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
               |  CAST(len(segs) - len(kept) AS BIGINT) AS n_lines_removed
               |FROM f""".stripMargin)),
  )
}
