package graft
package catalog

import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.catalog.OracleSql._
import graft.ops.{Dedup, TextOps}

/** Composed pipelines: `Curate`, `Pipeline.prepare` and the
  * crawl-to-training-sequences flagship `q_pipeline_e2e`.
  */
object PipelineQueries {

  /** The gopherPass boolean recomputed inline over `text` with
    * sep = ' the ' (the driver-query config) — the same rounded-metric
    * comparisons as the q_text_gopher oracle, as one expression usable in
    * a WHERE clause.
    */
  private def oracleGopherOk(minWords: Int, minStopHits: Int): String = {
    val ws = "list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)"
    val segs = "list_filter(list_transform(string_split(text, ' the '), l -> trim(l)), l -> len(l) > 0)"
    val stopHits = TextOps.gopherStopwords
      .map(w => s"CASE WHEN regexp_matches(lower(text), '\\b$w\\b') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""(len($ws) >= $minWords AND len($ws) <= 100000
       | AND round(CAST(coalesce(list_sum(list_transform($ws, w -> len(w))), 0) AS DOUBLE) / greatest(len($ws), 1), 6) >= 3.0
       | AND round(CAST(coalesce(list_sum(list_transform($ws, w -> len(w))), 0) AS DOUBLE) / greatest(len($ws), 1), 6) <= 10.0
       | AND round(CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) + len(regexp_extract_all(text, '…')) AS DOUBLE) / greatest(len($ws), 1), 6) <= 0.1
       | AND round(CAST(len(list_filter($segs, l -> substr(l, 1, 1) = '-' OR substr(l, 1, 1) = '*' OR substr(l, 1, 1) = '•')) AS DOUBLE) / greatest(len($segs), 1), 6) <= 0.9
       | AND round(CAST(len(list_filter($segs, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE) / greatest(len($segs), 1), 6) <= 0.3
       | AND round(CAST(len(list_filter($ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / greatest(len($ws), 1), 6) >= 0.8
       | AND $stopHits >= $minStopHits)""".stripMargin.replace("\n", " ")
  }

  /** The full Pipeline.prepare chain as one DuckDB query: curation gates,
    * keep-first dedup (QUALIFY), exact 5-gram decontamination, optionally
    * the fuzzy whole-document Jaccard pass, then the salted CASE split.
    */
  private def oraclePipelinePrepare(fuzzy: Boolean, gopher: Boolean = false): String = {
    val fuzzyCtes =
      if (!fuzzy) ""
      else s""", fpairs AS (
              |${oracleShingleJaccard(k = 5, threshold = 0.5, select = "id_a, id_b")}
              |), fuzzy AS (
              |  SELECT id_a AS doc_id FROM fpairs WHERE id_b % 50 = 0
              |  UNION
              |  SELECT id_b AS doc_id FROM fpairs WHERE id_a % 50 = 0
              |)""".stripMargin
    val fuzzyWhere =
      if (fuzzy) " AND doc_id NOT IN (SELECT doc_id FROM fuzzy)" else ""
    s"""WITH m AS (
       |  SELECT doc_id, text,
       |    CAST($oracleWsTokens AS INTEGER) AS n_words,
       |    round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
       |    round(CAST($oracleStopEn AS DOUBLE) / greatest($oracleWsTokens, 1), 6) AS stopword_ratio,
       |    ${oracleShingles(3).replace("tokens", oracleTokens)} AS sh3,
       |    $oracleStopEn AS s_en,
       |    len(regexp_extract_all(lower(text), '\\b(le|la|les|et|de|un|une)\\b')) AS s_fr,
       |    len(regexp_extract_all(lower(text), '\\b(el|los|las|y|en|un|una)\\b')) AS s_es,
       |    len(regexp_extract_all(lower(text), '\\b(der|die|das|und|von|ein|ist)\\b')) AS s_de
       |  FROM documents
       |), sig AS (
       |  SELECT doc_id, text,
       |    CASE
       |      WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
       |      WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
       |      WHEN s_en >= s_de AND s_en > 0 THEN 'en'
       |      WHEN s_de > 0 THEN 'de'
       |      ELSE 'und'
       |    END AS lang_pred,
       |    round(least(CAST(n_words AS DOUBLE) / 50.0, 1.0) * 0.5
       |        + least(stopword_ratio * 5.0, 1.0) * 0.4
       |        + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.1, 6) AS quality,
       |    ${oracleDupFrac("sh3")} AS dup_3gram_frac
       |  FROM m
       |), kept AS (
       |  SELECT doc_id, text FROM sig
       |  WHERE lang_pred = 'en' AND quality >= 0.6 AND dup_3gram_frac <= 0.05${
         if (gopher) "\n       |    AND " + oracleGopherOk(minWords = 20, minStopHits = 1) else ""}
       |  QUALIFY row_number() OVER (PARTITION BY md5($oracleNorm) ORDER BY doc_id) = 1
       |), ksh AS (
       |  SELECT doc_id, unnest(list_distinct(${oracleShingles(5)})) AS s0
       |  FROM (SELECT doc_id, $oracleTokens AS tokens FROM kept)
       |), bsh AS (
       |  SELECT DISTINCT s0 FROM (
       |    SELECT unnest(list_distinct(${oracleShingles(5)})) AS s0
       |    FROM (SELECT $oracleTokens AS tokens FROM documents WHERE doc_id % 50 = 0)
       |  )
       |), cont AS (
       |  SELECT DISTINCT doc_id FROM ksh JOIN bsh USING (s0)
       |)$fuzzyCtes
       |SELECT doc_id,
       |  CASE WHEN b < 900000 THEN 'train'
       |       WHEN b < 950000 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id,
       |    ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r4'")} % 1000000 AS b
       |  FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM cont)$fuzzyWhere
       |)""".stripMargin
  }

  /** The ENTIRE crawl→training-sequences flagship (q_pipeline_e2e) as
    * one DuckDB query: rebuild the identical WARC record strings
    * (HTML-wrapped documents at their messy e2e URLs), re-parse them,
    * replay HTML extraction + boilerplate-line removal + URL
    * canonicalization, then the full hygiene chain — gates, keep-first
    * dedups (exact QUALIFY + near-dup recursive-CTE components at 0.8),
    * exact + fuzzy decontamination, near-dup-cluster leakage-safe
    * split — and finally the chunk/pack arithmetic over the train
    * split. Stage mirrors are the same proven fragments as the
    * standalone oracles, retargeted from `documents` to the replayed
    * CTEs so the data genuinely flows through the front of the chain.
    */
  private def oraclePipelineE2e: String = {
    val p8 = oracleShingleJaccard(k = 5, threshold = 0.8, select = "id_a, id_b")
      .replace("FROM documents", "FROM kept")
    val fp = oracleShingleJaccard(k = 5, threshold = 0.5, select = "id_a, id_b")
      .replace("FROM documents", "FROM base")
    val ch = oracleChunks.replace("FROM documents", "FROM train")
    s"""WITH RECURSIVE
       |rec AS (
       |  SELECT 'WARC/1.0' || chr(13)||chr(10)
       |    || 'WARC-Type: response' || chr(13)||chr(10)
       |    || 'WARC-Target-URI: ' || u || chr(13)||chr(10)
       |    || 'WARC-Date: 2024-05-01T00:00:00Z' || chr(13)||chr(10)
       |    || 'Content-Type: text/html' || chr(13)||chr(10)
       |    || 'Content-Length: ' || octet_length(encode(html)) || chr(13)||chr(10)
       |    || chr(13)||chr(10) || html || chr(13)||chr(10) AS r
       |  FROM (
       |    SELECT doc_id, ${oracleUrl(oracleE2ePath)} AS u,
       |      '<!DOCTYPE html><html><head><title>Doc ' || doc_id ||
       |      '</title><style>body{color:#000}</style>' ||
       |      '<script type="text/javascript">var x = 1 < 2;</script></head>' ||
       |      '<body><!-- nav boilerplate --><div class="nav">Home &amp; About</div><h1>Doc ' || doc_id ||
       |      '</h1><p>' || text ||
       |      '</p><p>Footer &copy; 2024&nbsp;Example &lt;inc&gt;</p></body></html>' AS html
       |    FROM documents
       |  )
       |), hd AS (
       |  SELECT r, substr(r, 1, strpos(r, chr(13)||chr(10)||chr(13)||chr(10)) - 1) AS h FROM rec
       |), cl AS (
       |  SELECT r, h,
       |    CAST(nullif(regexp_extract(h, 'Content-Length: ([0-9]+)', 1), '') AS BIGINT) AS clen
       |  FROM hd
       |), prs AS (
       |  SELECT
       |    nullif(regexp_extract(h, 'WARC-Type: ([^\r\n]*)', 1), '') AS warc_type,
       |    nullif(regexp_extract(h, 'WARC-Target-URI: ([^\r\n]*)', 1), '') AS url,
       |    nullif(regexp_extract(h, 'Content-Type: ([^\r\n]*)', 1), '') AS content_type,
       |    (octet_length(encode(r)) - octet_length(encode(h)) - 4) < clen AS truncated,
       |    substr(r, length(h) + 5, CAST(clen AS INTEGER)) AS html
       |  FROM cl
       |), flt AS (
       |  SELECT url, html FROM prs
       |  WHERE warc_type = 'response' AND content_type = 'text/html' AND NOT truncated
       |), x1 AS (
       |  SELECT url, regexp_replace(html,
       |    '(?is)<script[^>]*>.*?</script>|(?is)<style[^>]*>.*?</style>', '', 'g') AS t FROM flt
       |), x2 AS (
       |  SELECT url, regexp_replace(t, '(?s)<!--.*?-->', '', 'g') AS t FROM x1
       |), x3 AS (
       |  SELECT url, regexp_replace(t,
       |    '(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/title)[^>]*>', chr(10), 'g') AS t FROM x2
       |), x4 AS (
       |  SELECT url, regexp_replace(t, '<(/?[A-Za-z][^>]*|![^>]*)>', '', 'g') AS t FROM x3
       |), x5 AS (
       |  SELECT url, replace(replace(replace(replace(replace(replace(t,
       |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
       |    '&nbsp;', ' '), '&amp;', '&') AS t FROM x4
       |), ext AS (
       |  SELECT url, trim(regexp_replace(regexp_replace(regexp_replace(t,
       |    '[ \\t\\r]+', ' ', 'g'), ' *\\n *', chr(10), 'g'),
       |    '\\n{3,}', chr(10) || chr(10), 'g')) AS t FROM x5
       |), body AS (
       |  SELECT url, array_to_string(list_filter(string_split(t, chr(10)),
       |    x -> NOT regexp_matches(x, '^Doc [0-9]+$$|^Home & About$$|^Footer .*$$')),
       |    chr(10)) AS text
       |  FROM ext
       |), st AS (
       |  SELECT url, text, regexp_replace(url, '#.*$$', '') AS u FROM body
       |), parts AS (
       |  SELECT url, text, u,
       |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
       |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
       |    coalesce(array_to_string(list_sort(list_filter(
       |      string_split(regexp_extract(u, '\\?([^#]*)', 1), '&'),
       |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=&]*|gclid|fbclid|msclkid)(=|$$)'))), '&'), '') AS qs
       |  FROM st
       |), canon AS (
       |  SELECT
       |    CAST(regexp_extract(url, 'Articles/([0-9]+)', 1) AS BIGINT) AS doc_id,
       |    text,
       |    scheme || '://' ||
       |      (CASE scheme WHEN 'http' THEN regexp_replace(hostport, ':80$$', '')
       |                   WHEN 'https' THEN regexp_replace(hostport, ':443$$', '')
       |                   ELSE hostport END) ||
       |      (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
       |      (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS url_canon,
       |    nullif(regexp_replace(
       |      lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)),
       |      '^www\\.', ''), '') AS domain
       |  FROM parts
       |), base AS (
       |  SELECT doc_id, text, domain FROM canon
       |  QUALIFY row_number() OVER (PARTITION BY url_canon ORDER BY doc_id) = 1
       |), m AS (
       |  SELECT doc_id, text,
       |    CAST($oracleWsTokens AS INTEGER) AS n_words,
       |    round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
       |    round(CAST($oracleStopEn AS DOUBLE) / greatest($oracleWsTokens, 1), 6) AS stopword_ratio,
       |    ${oracleShingles(3).replace("tokens", oracleTokens)} AS sh3,
       |    $oracleStopEn AS s_en,
       |    len(regexp_extract_all(lower(text), '\\b(le|la|les|et|de|un|une)\\b')) AS s_fr,
       |    len(regexp_extract_all(lower(text), '\\b(el|los|las|y|en|un|una)\\b')) AS s_es,
       |    len(regexp_extract_all(lower(text), '\\b(der|die|das|und|von|ein|ist)\\b')) AS s_de
       |  FROM base
       |), sig AS (
       |  SELECT doc_id, text,
       |    CASE
       |      WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
       |      WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
       |      WHEN s_en >= s_de AND s_en > 0 THEN 'en'
       |      WHEN s_de > 0 THEN 'de'
       |      ELSE 'und'
       |    END AS lang_pred,
       |    round(least(CAST(n_words AS DOUBLE) / 50.0, 1.0) * 0.5
       |        + least(stopword_ratio * 5.0, 1.0) * 0.4
       |        + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.1, 6) AS quality,
       |    ${oracleDupFrac("sh3")} AS dup_3gram_frac
       |  FROM m
       |), kept AS (
       |  SELECT doc_id, text FROM sig
       |  WHERE lang_pred = 'en' AND quality >= 0.6 AND dup_3gram_frac <= 0.05
       |    AND ${oracleGopherOk(minWords = 20, minStopHits = 1)}
       |  QUALIFY row_number() OVER (PARTITION BY md5($oracleNorm) ORDER BY doc_id) = 1
       |), p8 AS (
       |$p8
       |), e8 AS (
       |  SELECT id_a AS src, id_b AS dst FROM p8
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM p8
       |), cc8(id, comp) AS (
       |  SELECT doc_id, doc_id FROM kept
       |  UNION
       |  SELECT e8.dst, cc8.comp FROM cc8 JOIN e8 ON cc8.id = e8.src
       |), keep8 AS (
       |  SELECT k.doc_id, k.text FROM kept k
       |  JOIN (SELECT id, min(comp) AS g FROM cc8 GROUP BY id) c ON c.id = k.doc_id
       |  WHERE c.id = c.g
       |), bench AS (
       |  SELECT doc_id, text FROM base WHERE doc_id % 50 = 0
       |), ksh AS (
       |  SELECT doc_id, unnest(list_distinct(${oracleShingles(5)})) AS s0
       |  FROM (SELECT doc_id, $oracleTokens AS tokens FROM keep8)
       |), bsh AS (
       |  SELECT DISTINCT s0 FROM (
       |    SELECT unnest(list_distinct(${oracleShingles(5)})) AS s0
       |    FROM (SELECT $oracleTokens AS tokens FROM bench)
       |  )
       |), cont AS (
       |  SELECT DISTINCT doc_id FROM ksh JOIN bsh USING (s0)
       |), fp AS (
       |$fp
       |), fuzzy AS (
       |  SELECT id_a AS doc_id FROM fp WHERE id_b % 50 = 0
       |  UNION
       |  SELECT id_b AS doc_id FROM fp WHERE id_a % 50 = 0
       |), clean AS (
       |  SELECT doc_id, text FROM keep8
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)
       |    AND doc_id NOT IN (SELECT doc_id FROM fuzzy)
       |), p5 AS (
       |  SELECT id_a, id_b FROM fp
       |  WHERE id_a IN (SELECT doc_id FROM clean) AND id_b IN (SELECT doc_id FROM clean)
       |), e5 AS (
       |  SELECT id_a AS src, id_b AS dst FROM p5
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM p5
       |), cc5(id, comp) AS (
       |  SELECT doc_id, doc_id FROM clean
       |  UNION
       |  SELECT e5.dst, cc5.comp FROM cc5 JOIN e5 ON cc5.id = e5.src
       |), grp AS (
       |  SELECT id AS doc_id, min(comp) AS dup_group FROM cc5 GROUP BY id
       |), spl AS (
       |  SELECT doc_id,
       |    CASE WHEN b < 900000 THEN 'train'
       |         WHEN b < 950000 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |    ${oracleMd5Long("CAST(dup_group AS VARCHAR) || '#r9e'")} % 1000000 AS b
       |  FROM grp)
       |), train AS (
       |  SELECT c.doc_id, c.text FROM clean c
       |  JOIN spl ON spl.doc_id = c.doc_id AND spl.split = 'train'
       |), ch AS (
       |$ch
       |), packed AS (
       |  SELECT doc_id, chunk_idx, n_tokens,
       |    CAST(g AS INTEGER) AS pack_group,
       |    CAST(floor((sum(n_tokens) OVER (
       |          PARTITION BY g ORDER BY doc_id, chunk_idx
       |          ROWS UNBOUNDED PRECEDING) - n_tokens) / 256.0) AS INTEGER) AS seq_idx
       |  FROM (SELECT doc_id, chunk_idx, n_tokens,
       |          ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r9e'")} % 8 AS g
       |        FROM ch)
       |)
       |SELECT p.doc_id, b.domain, p.chunk_idx, p.n_tokens, p.pack_group, p.seq_idx
       |FROM packed p JOIN base b ON b.doc_id = p.doc_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // the full curation pipeline (gates + keep-first dedup) in one pass
    QuerySpec("q_curate", (s, dir) =>
      ops.Curate.curate(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("quality"), col("dup_3gram_frac")),
      Oracle(s"""WITH m AS (
                |  SELECT doc_id, text,
                |    CAST($oracleWsTokens AS INTEGER) AS n_words,
                |    round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
                |    round(CAST($oracleStopEn AS DOUBLE) / greatest($oracleWsTokens, 1), 6) AS stopword_ratio,
                |    ${oracleShingles(3).replace("tokens", oracleTokens)} AS sh3,
                |    $oracleStopEn AS s_en,
                |    len(regexp_extract_all(lower(text), '\\b(le|la|les|et|de|un|une)\\b')) AS s_fr,
                |    len(regexp_extract_all(lower(text), '\\b(el|los|las|y|en|un|una)\\b')) AS s_es,
                |    len(regexp_extract_all(lower(text), '\\b(der|die|das|und|von|ein|ist)\\b')) AS s_de
                |  FROM documents
                |), sig AS (
                |  SELECT doc_id, text,
                |    CASE
                |      WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
                |      WHEN s_es >= s_en AND s_es >= s_de AND s_es > 0 THEN 'es'
                |      WHEN s_en >= s_de AND s_en > 0 THEN 'en'
                |      WHEN s_de > 0 THEN 'de'
                |      ELSE 'und'
                |    END AS lang_pred,
                |    round(least(CAST(n_words AS DOUBLE) / 50.0, 1.0) * 0.5
                |        + least(stopword_ratio * 5.0, 1.0) * 0.4
                |        + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.1, 6) AS quality,
                |    ${oracleDupFrac("sh3")} AS dup_3gram_frac
                |  FROM m
                |)
                |SELECT doc_id, quality, dup_3gram_frac FROM sig
                |WHERE lang_pred = 'en' AND quality >= 0.6 AND dup_3gram_frac <= 0.05
                |QUALIFY row_number() OVER (PARTITION BY md5($oracleNorm) ORDER BY doc_id) = 1""".stripMargin)),

    // the one-call pipeline: gates -> keep-first dedup -> benchmark
    // decontamination -> deterministic split, oracled END TO END
    QuerySpec("q_pipeline_prepare", (s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Pipeline.prepare(docs, docs.filter(col("doc_id") % 50 === 0),
        "text", "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "r4")
        .select(col("doc_id"), col("split"))
    },
      // the composed pipeline end to end: the q_curate chain (gates +
      // QUALIFY keep-first), then 5-gram NOT-IN decontamination of the
      // SURVIVORS, then the salted-hash CASE split — one DuckDB query
      Oracle(oraclePipelinePrepare(fuzzy = false))),

    // the same chain with the Gopher rule battery folded into the narrow
    // gate stage via the extraGate hook
    QuerySpec("q_pipeline_prepare_rules", (s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Pipeline.prepare(docs, docs.filter(col("doc_id") % 50 === 0),
        "text", "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "r4",
        extraGate = Some(TextOps.gopherPass(col("text"), sep = " the ",
          minWords = 20, minStopHits = 1)))
        .select(col("doc_id"), col("split"))
    },
      Oracle(oraclePipelinePrepare(fuzzy = false, gopher = true))),

    // the full hygiene stack: the same chain with the fuzzy whole-document
    // pass (Jaccard >= 0.5 vs the bench slice) after exact decontamination
    QuerySpec("q_pipeline_prepare_fuzzy", (s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Pipeline.prepare(docs, docs.filter(col("doc_id") % 50 === 0),
        "text", "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "r4",
        fuzzyThreshold = Some(0.5))
        .select(col("doc_id"), col("split"))
    },
      // the same chain with the hygiene stack's SECOND pass: whole-document
      // fuzzy (shingle-Jaccard >= 0.5) decontamination after the exact
      // n-gram pass. The fuzzy truth is computed over ALL documents vs the
      // bench slice — a superset of the survivors the Spark side screens,
      // which is NOT-IN-safe (extra contaminated ids outside `kept` never
      // reach the final filter)
      Oracle(oraclePipelinePrepare(fuzzy = true))),

    // THE flagship: crawl archive → training sequences, every stage of a
    // production ingest composed end to end and mirrored in ONE DuckDB
    // query. WARC read (response records over the synthesized HTML
    // pages) → HTML→text extraction → boilerplate-line removal → URL
    // canonicalization (+ per-row domain) → canonical-URL dedup →
    // Gopher gate → curation gates + exact keep-first dedup → near-dup
    // keep-first (Jaccard ≥ 0.8) → exact 5-gram + fuzzy (≥ 0.5)
    // benchmark decontamination → leakage-safe near-dup-cluster split →
    // 64-token chunks greedily packed into 256-token train sequences.
    // Every stage is an already-oracled standalone operator; this row
    // proves the COMPOSITION (the query a new user copies first).
    QuerySpec("q_pipeline_e2e", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val store = warcHtmlStoreFor(s, dir)
      val recs = sources.GraftSource.readWarc(s, s"$store/html")
        .filter(col("warc_type") === "response" &&
          col("content_type") === "text/html" && !col("truncated"))
      val ext = recs.select(
        regexp_extract(col("url"), "Articles/([0-9]+)", 1).cast("long").as("doc_id"),
        TextOps.canonicalUrl(col("url")).as("url_canon"),
        TextOps.urlDomain(col("url")).as("domain"),
        TextOps.stripLines(TextOps.htmlToText(col("text")),
          "^Doc [0-9]+$|^Home & About$|^Footer .*$").as("text"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("url_canon")).orderBy(col("doc_id"))
      // Stage materialization (optimization guide §1.2/§5): the chain's
      // composed stages run EAGER internal jobs (pair materialization,
      // connected components), each of which re-derives its input from
      // lineage — unpersisted, the WARC parse + HTML extraction + dedup
      // window re-ran ~10× per evaluation and the gate battery ~5×
      // (measured r14, cold-isolated BenchOne at sf0.1: 24.0 s → 13.5 s
      // with the three persists).
      // The three stage frames are scratch checkpoints (ops.Scratch):
      // intra-query frames that never enter the CacheManager, which Spark's
      // ContextCleaner frees once the returned frame that reads them is
      // gone — and at warehouse scale avoiding ~10 re-parses of the crawl
      // for three disk-backed text frames is the same trade the
      // measure-then-choose reassembly family makes. Without a checkpoint
      // directory they are local checkpoints in executor storage, so an
      // executor loss after one kills the job; with one (set
      // spark.checkpoint.dir on a cluster) they are reliable and survive
      // it. Either way they are corpus-scale TEXT that stays on disk until
      // a driver GC collects the returned frame
      // (spark.cleaner.periodicGC.interval, 30 min by default), not after
      // the first action — a long-lived session that builds this row
      // again and again holds every generation's copy until then.
      val base = ops.Scratch.checkpoint(ext.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn", "url_canon"), eager = false)
      val bench = base.filter(col("doc_id") % 50 === 0).select(col("doc_id"), col("text"))
      val gated = base.filter(TextOps.gopherPass(col("text"), sep = " the ",
        minWords = 20, minStopHits = 1))
      val curated = ops.Scratch.checkpoint(ops.Curate.curate(gated, "text", "doc_id"),
        eager = false)
      val nearDeduped = Dedup.nearDupKeepFirst(curated, "text", "doc_id",
        numHashes = 128, bands = 32, shingleSize = 5, threshold = 0.8)
      val exact = TextOps.decontaminate(nearDeduped, bench, "text", "doc_id",
        n = 5, minOverlap = 1)
      val cleaned = ops.Scratch.checkpoint(Dedup.fuzzyDecontaminate(exact, bench, "text",
        "doc_id", numHashes = 128, bands = 32, shingleSize = 5, threshold = 0.5), eager = false)
      val split = Dedup.leakageSafeSplit(cleaned, "text", "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "r9e",
        numHashes = 128, bands = 32, shingleSize = 5, threshold = 0.5)
      val train = cleaned.join(
        split.filter(col("split") === "train").select("doc_id"), Seq("doc_id"))
      TextOps.packChunks(
          TextOps.chunkTokens(train, "text", "doc_id", chunkSize = 64, overlap = 16),
          "doc_id", budget = 256, groups = 8, salt = "r9e")
        .join(base.select(col("doc_id"), col("domain")), Seq("doc_id"))
        .select(col("doc_id"), col("domain"), col("chunk_idx"),
          col("n_tokens"), col("pack_group"), col("seq_idx"))
    },
      Oracle(oraclePipelineE2e)),
  )
}
