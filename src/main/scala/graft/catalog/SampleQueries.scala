package graft
package catalog

import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.catalog.OracleSql._
import graft.ops.{Dedup, Sample, TextOps}

/** Sampling, splits, mixtures, set operations over snapshots and column
  * statistics.
  */
object SampleQueries {

  val specs: Seq[QuerySpec] = Seq(
    // the multi-source recipe end to end: measure shares, temperature-
    // flatten (alpha = 0.5), mix deterministically with those weights —
    // weights collected driver-side (|sources| rows, the model-read
    // pattern), each source then a narrow hash filter
    QuerySpec("q_sample_temp_mix", (s, dir) => {
      val d = t(s, dir, "documents")
      val w = Sample.temperatureWeights(d, "source", alpha = 0.5)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      Sample.mixCorpora(
        w.keys.toSeq.sorted.map(src =>
          (src, d.filter(col("source") === src).drop("source"), w(src))),
        "doc_id", salt = "r5")
        .select(col("source"), col("doc_id"))
    },
      // temperature -> mixture composition: same pow/round weight CTE as
      // q_sample_temperature, then the per-source salted millionth filter
      Oracle(s"""WITH cnt AS (
                |  SELECT source, count(*) AS n FROM documents GROUP BY source
                |), z AS (
                |  SELECT sum(pow(n, 0.5)) AS z FROM cnt
                |), wts AS (
                |  SELECT source, round(pow(n, 0.5) / z, 6) AS w FROM cnt CROSS JOIN z
                |)
                |SELECT source, doc_id FROM (
                |  SELECT d.source, d.doc_id,
                |    ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r5#' || source")} % 1000000 AS b,
                |    CAST(round(w * 1000000) AS BIGINT) AS cut
                |  FROM documents d JOIN wts USING (source)
                |) WHERE b < cut""".stripMargin)),

    // deterministic 1-in-10 hash sample (rerun- and layout-stable)
    QuerySpec("q_sample_hash", (s, dir) =>
      Sample.sampleByHash(t(s, dir, "documents"), "doc_id", oneIn = 10, salt = "r3")
        .select(col("doc_id")),
      Oracle(s"""SELECT doc_id FROM documents
                |WHERE ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r3'")} % 10 = 0""".stripMargin)),

    // deterministic growth-stable train/val/test split (88/6/6)
    QuerySpec("q_sample_split", (s, dir) =>
      Sample.splitByHash(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.88, "val" -> 0.06, "test" -> 0.06), salt = "r4")
        .select(col("doc_id"), col("split")),
      Oracle(s"""SELECT doc_id,
                |  CASE WHEN b < 880000 THEN 'train'
                |       WHEN b < 940000 THEN 'val'
                |       ELSE 'test' END AS split
                |FROM (SELECT doc_id,
                |  ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r4'")} % 1000000 AS b
                |FROM documents)""".stripMargin)),

    // leakage-safe split: assignment keyed on the near-dup CLUSTER label,
    // so near-duplicates can never straddle the train/eval boundary
    QuerySpec("q_sample_split_safe", (s, dir) =>
      Dedup.leakageSafeSplit(t(s, dir, "documents"), "text", "doc_id",
        Seq("train" -> 0.88, "val" -> 0.06, "test" -> 0.06), salt = "r7",
        numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("doc_id"), col("dup_group"), col("split")),
      // the components CTE recomputes the exact near-dup clusters, then the
      // split bucket hashes the CLUSTER label (min id) — every member of a
      // family shares the bucket, so the whole family lands on one side
      Oracle(s"""SELECT doc_id, dup_group,
                |  CASE WHEN b < 880000 THEN 'train'
                |       WHEN b < 940000 THEN 'val'
                |       ELSE 'test' END AS split
                |FROM (SELECT doc_id, dup_group,
                |  ${oracleMd5Long("CAST(dup_group AS VARCHAR) || '#r7'")} % 1000000 AS b
                |FROM ($oracleNearDupComponents))""".stripMargin)),

    // deterministic pre-training shuffle: salted-hash permutation as
    // (shard, pos) addresses — ONE shard-partition + per-shard sort
    QuerySpec("q_sample_shuffle", (s, dir) =>
      Sample.shuffleOrder(t(s, dir, "documents"), "doc_id", nShards = 8, salt = "r5")
        .select(col("doc_id"), col("shard"), col("pos")),
      // the shuffle permutation is pure hash arithmetic + a windowed
      // row_number — both engines replay it exactly
      Oracle(s"""SELECT doc_id, CAST(h % 8 AS INTEGER) AS shard,
                |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
                |FROM (SELECT doc_id,
                |  ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r5'")} AS h
                |FROM documents)""".stripMargin)),

    // exactly-40-document eval slice, hash-ranked (TakeOrdered plan)
    QuerySpec("q_sample_exact", (s, dir) =>
      Sample.sampleExact(t(s, dir, "documents"), "doc_id", n = 40, salt = "r5")
        .select(col("doc_id"), col("lang")),
      // exact-n slice: same hash ranking, ORDER BY + LIMIT
      Oracle(s"""SELECT doc_id, lang FROM documents
                |ORDER BY ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r5'")}, doc_id
                |LIMIT 40""".stripMargin)),

    // per-language document-length histogram, 100-char bins
    QuerySpec("q_stats_histogram", (s, dir) =>
      ops.Stats.histogram(t(s, dir, "documents"), "n_chars", width = 100.0,
        groupCols = Seq("lang")).orderBy(col("lang"), col("bin")),
      // histogram mirror: same floor-bin arithmetic and bin-edge doubles
      Oracle("""WITH b AS (
               |  SELECT lang, CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) / 100.0) AS BIGINT) AS bin
               |  FROM documents WHERE n_chars IS NOT NULL
               |)
               |SELECT lang, bin, 0.0 + bin * 100.0 AS lo, 0.0 + (bin + 1) * 100.0 AS hi,
               |  count(*) AS n
               |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin)),

    // merit-ranked quota: the 3 best-quality documents per language
    QuerySpec("q_sample_top_quality", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("quality", TextOps.qualityScore(col("text")))
      Sample.topKPerGroup(d, Seq("lang"), "quality", k = 3, tieCol = "doc_id")
        .select(col("doc_id"), col("lang"), col("quality"))
    },
      // merit quota: same quality formula as q_text_quality, QUALIFY top-3
      // per language with the doc_id tiebreak
      Oracle(s"""SELECT doc_id, lang, quality FROM (
                |  SELECT doc_id, lang,
                |    round(least(CAST($oracleWsTokens AS DOUBLE) / 50.0, 1.0) * 0.5
                |      + least(round(CAST($oracleStopEn AS DOUBLE) / greatest($oracleWsTokens, 1), 6) * 5.0, 1.0) * 0.4
                |      + (1.0 - least(round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1), 6) * 10.0, 1.0)) * 0.1, 6) AS quality
                |  FROM documents
                |)
                |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) <= 3""".stripMargin)),

    // HLL cardinality meter: exact vs approx_count_distinct + realized
    // error per source. FULL ORACLE (upgraded from rows-only, round 11,
    // the q_emb_pca_whiten reshape pattern): DuckDB's HLL is a different
    // sketch, so the row emits the exact side VERBATIM (regressions in
    // the exact twin can't hide) plus the sketch's error as a
    // bound-check — `within_bound` must be TRUE (3×rsd; the sketch's
    // realized error is 0.2–2.6% at these SFs, contracted tighter in
    // DriverSuiteSpec), which IS SQL-expressible. Keyed on the content
    // DIGEST, not raw text: the exact side's distinct shuffle then moves
    // 32-byte hex strings instead of whole documents (same count; the
    // meter's own scale advice)
    QuerySpec("q_stats_approx_distinct", (s, dir) =>
      ops.Stats.approxDistinct(
        t(s, dir, "documents").withColumn("digest", md5(col("text"))),
        "digest", Seq("source"), rsd = 0.05)
        .select(col("source"), col("n_rows"), col("n_distinct"),
          (col("rel_err") <= 3 * 0.05).as("within_bound"))
        .orderBy(col("source")),
      // the bound-check reshape (round 11): the exact side is the oracle's
      // business (count + count distinct per source, verbatim); the HLL
      // sketch's 3×rsd accuracy claim is the TRUE boolean (DuckDB's HLL is
      // a different sketch, so the raw approx value can't be oracled —
      // the realized error stays contracted tighter in DriverSuiteSpec)
      Oracle("""SELECT source, count(*) AS n_rows,
               |  count(DISTINCT md5(text)) AS n_distinct,
               |  TRUE AS within_bound
               |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // rebalance the corpus to a target language mix (zh dropped): one
    // driver-sized count, then a narrow hash filter
    QuerySpec("q_sample_resample", (s, dir) =>
      Sample.resampleToShares(t(s, dir, "documents"), "lang",
        Seq("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.2),
        "doc_id", salt = "r5")
        .select(col("doc_id"), col("lang")),
      // resample cuts recomputed from the same count/share arithmetic (the
      // double op sequence matches the Scala driver-side computation
      // term for term), then the same millionth-bucket hash filter
      Oracle(s"""WITH cnt AS (
                |  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang
                |), tgt AS (
                |  SELECT * FROM (VALUES ('en', 0.4), ('de', 0.2), ('es', 0.2), ('fr', 0.2))
                |    t(lang, share)
                |), sc AS (
                |  SELECT min(n / share) AS c FROM cnt JOIN tgt USING (lang)
                |), cuts AS (
                |  SELECT lang, CAST(floor(c * share / n * 1000000.0 + 0.5) AS BIGINT) AS cut
                |  FROM cnt JOIN tgt USING (lang) CROSS JOIN sc
                |)
                |SELECT doc_id, lang FROM (
                |  SELECT d.doc_id, d.lang, cut,
                |    ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r5'")} % 1000000 AS b
                |  FROM documents d JOIN cuts USING (lang)
                |) WHERE b < cut""".stripMargin)),

    // key-distribution diagnostics on the natural join key of events
    QuerySpec("q_stats_heavy_hitters", (s, dir) =>
      ops.Stats.heavyHitters(events(s, dir), "user_id", k = 20),
      Oracle("""SELECT user_id, count(*) AS n,
               |  round(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM events), 6) AS share
               |FROM events GROUP BY user_id
               |ORDER BY n DESC, user_id LIMIT 20""".stripMargin)),

    QuerySpec("q_stats_key_skew", (s, dir) =>
      ops.Stats.keySkew(events(s, dir), "user_id"),
      Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_keys,
               |  CAST(sum(n) AS BIGINT) AS n_rows,
               |  max(n) AS max_per_key,
               |  round(avg(n), 6) AS avg_per_key,
               |  round(quantile_cont(n, 0.99), 6) AS p99_per_key,
               |  round(max(n) / avg(n), 6) AS skew_ratio
               |FROM (SELECT user_id, count(*) AS n FROM events GROUP BY 1)""".stripMargin)),

    // the REMEDY for the skew q_stats_key_skew measures: two-stage salted
    // aggregation over the events hot key — count/sum/avg merge partial
    // buffers, the exact distinct-count salts by value hash so per-bucket
    // distinct sets are disjoint. Result is identical to the unsalted
    // groupBy (full DuckDB oracle); the two-exchange plan shape is pinned
    // in PlanSpec, the parity + spread behavior in OpsSpec.
    QuerySpec("q_stats_salted_agg", (s, dir) => {
      import ops.Stats.SaltedAggSpec._
      // value is cast to DECIMAL before aggregating: the events values
      // carry 2 decimals, so double sums regularly land avg on an exact
      // rounding half-point where FP association order (which the salted
      // two-stage deliberately changes) decides the direction — decimal
      // sums are exact and order-independent, so salted ≡ unsalted ≡
      // DuckDB bit-for-bit
      ops.Stats.saltedAgg(
        events(s, dir).withColumn("value", col("value").cast("decimal(18,6)")),
        Seq("user_id"),
        Seq(Count("n_events"), Sum("value", "sum_value"),
          Avg("value", "avg_value"), DistinctCount("event_type", "n_event_types")),
        nSalts = 8)
        .select(col("user_id"), col("n_events"),
          round(col("sum_value"), 4).cast("double").as("sum_value"),
          round(col("avg_value"), 6).cast("double").as("avg_value"),
          col("n_event_types"))
        .orderBy(col("user_id"))
    },
      // the salted two-stage must agree with the plain grouped aggregation
      // — that IS the oracle: DuckDB computes the unsalted groupBy
      Oracle("""SELECT user_id, count(*) AS n_events,
               |  CAST(round(sum(v), 4) AS DOUBLE) AS sum_value,
               |  CAST(round(sum(v) / count(v), 6) AS DOUBLE) AS avg_value,
               |  count(DISTINCT event_type) AS n_event_types
               |FROM (SELECT user_id, event_type, CAST(value AS DECIMAL(18,6)) AS v FROM events)
               |GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // temperature-scaled source mixture weights (alpha = 0.7, the
    // standard up-weight-the-tail setting)
    QuerySpec("q_sample_temperature", (s, dir) =>
      Sample.temperatureWeights(t(s, dir, "documents"), "source", alpha = 0.7),
      Oracle("""SELECT source, n_rows,
               |  round(pow(n_rows, 0.7) / (SELECT sum(pow(n_rows, 0.7)) FROM
               |    (SELECT count(*) AS n_rows FROM documents GROUP BY source)), 6) AS weight
               |FROM (SELECT source, count(*) AS n_rows FROM documents GROUP BY source)""".stripMargin)),

    // one-pass numeric table profile (data-QA)
    QuerySpec("q_stats_profile", (s, dir) =>
      ops.Stats.profileColumns(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      Oracle({
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        cols.map(c =>
          s"""SELECT '$c' AS "column", count($c) AS n,
             |  count(*) - count($c) AS n_null,
             |  CAST(min($c) AS DOUBLE) AS min, CAST(max($c) AS DOUBLE) AS max,
             |  round(avg($c), 6) AS mean, round(stddev_samp($c), 6) AS stddev
             |FROM lineitem""".stripMargin).mkString("\n", "\nUNION ALL\n", "")
      })),

    // per-group quota: at most 5 events per user, hash-chosen
    QuerySpec("q_sample_cap_group", (s, dir) =>
      Sample.capPerGroup(events(s, dir), "user_id", "event_id", n = 5, salt = "r3")
        .select(col("event_id"), col("user_id")),
      Oracle(s"""SELECT event_id, user_id FROM events
                |QUALIFY row_number() OVER (
                |  PARTITION BY user_id
                |  ORDER BY ${oracleMd5Long("CAST(event_id AS VARCHAR) || '#r3'")}, event_id) <= 5""".stripMargin)),

    // token-budget quota: each language capped at ~30k chars of documents,
    // hash-ordered prefix (may overrun by one doc — the packChunks contract)
    QuerySpec("q_sample_cap_tokens", (s, dir) =>
      Sample.capTokensPerGroup(t(s, dir, "documents"), "lang", "doc_id", "n_chars",
        budget = 30000L, salt = "r4")
        .select(col("doc_id"), col("lang"), col("n_chars")),
      Oracle(s"""SELECT doc_id, lang, n_chars FROM documents
                |QUALIFY sum(n_chars) OVER (
                |  PARTITION BY lang
                |  ORDER BY ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r4'")}, doc_id
                |  ROWS UNBOUNDED PRECEDING) - n_chars < 30000""".stripMargin)),

    // epoch allocation under a 45k-token budget at 2-epoch repetition cap:
    // weights derived from the source name (src<i> → i%5 + 1) so the
    // water-filling exercises both regimes — at sf0.01 the high-weight
    // sources saturate and the rest split λ proportionally; at sf0.1 the
    // same budget saturates nothing (10× the tokens)
    QuerySpec("q_sample_epoch_alloc", (s, dir) =>
      Sample.epochAllocation(t(s, dir, "documents"), "source",
        TextOps.tokenCount(col("text")),
        substring(col("source"), 4, 8).cast("int") % 5 + 1,
        budgetTokens = 45000.0, maxEpochs = 2.0)
        .orderBy(col("source")),
      // water-filling mirror: the saturation flag splits the r-sorted frame
      // (prefix caps exact-integer, same double ops as the Spark plan)
      Oracle(s"""WITH per AS (
                |  SELECT source, CAST(sum($oracleWsTokens) AS DOUBLE) AS tokens,
                |         CAST(CAST(substr(source, 4) AS INT) % 5 + 1 AS DOUBLE) AS w
                |  FROM documents GROUP BY source
                |), sized AS (
                |  SELECT *, 2.0 * tokens AS cap, (2.0 * tokens) / w AS r FROM per
                |  WHERE tokens > 0 AND w > 0
                |), win AS (
                |  SELECT *,
                |    coalesce(sum(cap) OVER (ORDER BY r, source
                |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_cap,
                |    sum(w) OVER (ORDER BY r, source
                |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS suf_w,
                |    least(45000.0, sum(cap) OVER ()) AS budget
                |  FROM sized
                |), flagged AS (
                |  SELECT *, pre_cap + r * suf_w <= budget AS saturated FROM win
                |), lam AS (
                |  SELECT *,
                |    coalesce(sum(CASE WHEN saturated THEN cap END) OVER (), 0) AS sat_cap,
                |    sum(CASE WHEN NOT saturated THEN w END) OVER () AS unsat_w
                |  FROM flagged
                |)
                |SELECT source, CAST(tokens AS BIGINT) AS tokens, CAST(w AS INT) AS weight,
                |  cap,
                |  round(CASE WHEN saturated THEN cap
                |             ELSE (budget - sat_cap) / unsat_w * w END, 6) AS alloc_tokens,
                |  round(round(CASE WHEN saturated THEN cap
                |             ELSE (budget - sat_cap) / unsat_w * w END, 6) / tokens, 6) AS epochs,
                |  saturated
                |FROM lam ORDER BY source""".stripMargin)),

    // the allocation MATERIALIZED: floor(epochs) full copies per source +
    // a hash-sampled fractional epoch, every copy epoch-tagged
    QuerySpec("q_sample_epoch_expand", (s, dir) => {
      val d = t(s, dir, "documents")
      val alloc = Sample.epochAllocation(d, "source",
        TextOps.tokenCount(col("text")),
        substring(col("source"), 4, 8).cast("int") % 5 + 1,
        budgetTokens = 45000.0, maxEpochs = 2.0)
      Sample.expandEpochs(d, "source", "doc_id", alloc, salt = "r6")
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    },
      Oracle(s"""WITH per AS (
                |  SELECT source, CAST(sum($oracleWsTokens) AS DOUBLE) AS tokens,
                |         CAST(CAST(substr(source, 4) AS INT) % 5 + 1 AS DOUBLE) AS w
                |  FROM documents GROUP BY source
                |), sized AS (
                |  SELECT *, 2.0 * tokens AS cap, (2.0 * tokens) / w AS r FROM per
                |  WHERE tokens > 0 AND w > 0
                |), win AS (
                |  SELECT *,
                |    coalesce(sum(cap) OVER (ORDER BY r, source
                |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_cap,
                |    sum(w) OVER (ORDER BY r, source
                |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS suf_w,
                |    least(45000.0, sum(cap) OVER ()) AS budget
                |  FROM sized
                |), flagged AS (
                |  SELECT *, pre_cap + r * suf_w <= budget AS saturated FROM win
                |), lam AS (
                |  SELECT *,
                |    coalesce(sum(CASE WHEN saturated THEN cap END) OVER (), 0) AS sat_cap,
                |    sum(CASE WHEN NOT saturated THEN w END) OVER () AS unsat_w
                |  FROM flagged
                |), alloc AS (
                |  SELECT source, round(round(CASE WHEN saturated THEN cap
                |      ELSE (budget - sat_cap) / unsat_w * w END, 6) / tokens, 6) AS epochs
                |  FROM lam
                |)
                |SELECT d.doc_id, d.source, CAST(u.epoch AS INT) AS epoch
                |FROM documents d JOIN alloc a USING (source),
                |unnest(generate_series(0, CAST(floor(a.epochs) AS INT))) AS u(epoch)
                |WHERE u.epoch < CAST(floor(a.epochs) AS INT)
                |   OR (${oracleMd5Long("CAST(d.doc_id AS VARCHAR) || '@e' || CAST(u.epoch AS VARCHAR) || '#r6'")} % 1000000)
                |      < CAST(floor((a.epochs - floor(a.epochs)) * 1000000.0 + 0.5) AS BIGINT)
                |ORDER BY d.doc_id, epoch""".stripMargin)),

    // per-group quantile gate: keep docs at/above their language's median
    // length — the relative-threshold curation knob (distributions differ
    // per language, so one absolute cutoff can't express this)
    QuerySpec("q_sample_quantile", (s, dir) =>
      Sample.keepAboveQuantile(t(s, dir, "documents"), "lang", "n_chars", q = 0.5)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      Oracle("""WITH cuts AS (
               |  SELECT lang, quantile_cont(n_chars, 0.5) AS c
               |  FROM documents GROUP BY lang
               |)
               |SELECT doc_id, lang, n_chars
               |FROM documents JOIN cuts USING (lang)
               |WHERE n_chars >= c""".stripMargin)),

    // weighted corpus mixture: two pseudo-sources over the documents
    // table at 50% / 25%, independently salted per source tag
    QuerySpec("q_sample_mix", (s, dir) => {
      val docs = t(s, dir, "documents")
      Sample.mixCorpora(Seq(("web", docs, 0.5), ("books", docs, 0.25)), "doc_id", salt = "r3")
        .select(col("source"), col("doc_id"))
    },
      Oracle(s"""SELECT 'web' AS source, doc_id FROM documents
                |WHERE ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r3#web'")} % 1000000 < 500000
                |UNION ALL
                |SELECT 'books' AS source, doc_id FROM documents
                |WHERE ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r3#books'")} % 1000000 < 250000""".stripMargin)),
  )
}
