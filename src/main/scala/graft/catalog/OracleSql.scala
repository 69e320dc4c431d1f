package graft
package catalog

import graft.SparkEntry._

/** DuckDB SQL fragments that oracles of more than one family compose.
  * Each mirrors the operator it names exactly; a fragment one family
  * uses lives in that family's file.
  */
private[catalog] object OracleSql {

  // Shared SQL fragments for the text oracles (must mirror TextOps exactly).
  val oracleTokens =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"

  /** Word k-shingles of a `tokens` list (mirrors ShingleUtil's k-gram
    * join; empty when the document has fewer than k tokens).
    */
  def oracleShingles(k: Int): String =
    s"list_transform(range(1, greatest(len(tokens) - ${k - 1}, 0) + 1), i -> array_to_string(list_slice(tokens, i, i + ${k - 1}), ' '))"

  /** Duplicate-shingle fraction of a shingle-list column (mirrors
    * TextOps.dupNgramFraction).
    */
  def oracleDupFrac(col: String): String =
    s"round(CASE WHEN len($col) = 0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct($col)) AS DOUBLE) / len($col) END, 6)"

  /** All-pairs exact word-shingle Jaccard in DuckDB — the oracle for the
    * MinHash-banded near-dup operators. The banding is a candidate
    * *generator* with recall < 1 for pairs sitting exactly at the
    * threshold (≈0.87 at jaccard = 0.5 for 32×4 banding), so this oracle
    * asserts something *stronger* than the operator's contract: that on
    * THIS dataset the banding misses no true pair. Verified to hold at
    * sf0.01 (the seeded hashes make it deterministic — the duplicate
    * pairs planted by the generator sit well above the threshold, where
    * miss probability is ≈e-4 or less); a dataset with borderline pairs
    * could legitimately fail this row without an engine bug.
    * Tokenization and shingling mirror `graft.functions.ShingleUtil`
    * exactly.
    */
  def oracleShingleJaccard(
      k: Int,
      threshold: Double,
      select: String = "id_a, id_b, round(jaccard, 6) AS jaccard",
      extraWhere: String = "",
  ): String =
    s"""WITH toks AS (
       |  SELECT doc_id, $oracleTokens AS tokens FROM documents
       |), sets AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, greatest(len(tokens) - ${k - 1}, 0) + 1),
       |                  i -> array_to_string(list_slice(tokens, i, i + ${k - 1}), ' '))) AS s
       |  FROM toks WHERE len(tokens) >= $k
       |), inv AS (
       |  SELECT doc_id, unnest(s) AS sh FROM sets
       |), inter AS (
       |  -- inverted-index intersection counts: only pairs sharing >= 1
       |  -- shingle appear, which is exact for any threshold > 0 and keeps
       |  -- this oracle near-linear instead of all-pairs quadratic
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |  FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT $select FROM (
       |  SELECT id_a, id_b,
       |    CAST(n_inter AS DOUBLE) / (len(sa.s) + len(sb.s) - n_inter) AS jaccard
       |  FROM inter
       |  JOIN sets sa ON sa.doc_id = id_a
       |  JOIN sets sb ON sb.doc_id = id_b
       |) WHERE jaccard >= $threshold$extraWhere""".stripMargin

  /** The md5-derived 60-bit hash the multimodal stub codec and rolling
    * fingerprint use (mirrors Multimodal.md5Long: leading 15 hex chars of
    * md5 parsed as an integer — bit-identical in both engines).
    */
  def oracleMd5Long(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** [[syntheticUrl]] as one SQL expression (mirrors the driver's Column
    * builder case for case), with the path's SQL spliced in.
    */
  def oracleUrl(path: String): String =
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END || '://' || " +
      "CASE doc_id % 4 WHEN 0 THEN 'Example.COM' WHEN 1 THEN 'WWW.News-Site.ORG' " +
      "WHEN 2 THEN 'Docs.Example.COM' ELSE 'example.com' END || " +
      "CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ELSE '' END || " +
      path + " || " +
      "CASE doc_id % 5 WHEN 0 THEN '?utm_source=feed&b=2&a=1' WHEN 1 THEN '?z=9&a=1&utm_campaign=x' " +
      "WHEN 2 THEN '?gclid=abc' WHEN 3 THEN '' ELSE '?b=2&a=1' END || " +
      "CASE WHEN doc_id % 2 = 1 THEN '#section-2' ELSE '' END)"

  val oracleE2ePath = "'/Articles/' || doc_id"

  /** [[oracleSrpBuckets]] with planes/tables as SQL expressions (scalar
    * subqueries for corpus-aware configs — `pre` injects the cfg CTEs
    * they reference) and an optional zero-vector filter (lshScored drops
    * zero vectors before banding; embeddingNearDups bands everything —
    * mirror whichever the operator does).
    */
  def oracleSrpBucketsDyn(planes: String, tables: String,
      pre: String = "", zeroFilter: Boolean = true): String = {
    def fold(u: String): String =
      s"CAST($u - CASE WHEN $u >= 9223372036854775808::HUGEINT " +
        s"THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)"
    def unfold(sb: String): String =
      s"(CAST($sb AS HUGEINT) + CASE WHEN $sb < 0 " +
        s"THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)"
    // (a * c) mod 2^64 with a < 2^64: split a into 32-bit halves so no
    // intermediate exceeds HUGEINT's 2^127 ceiling
    def umul(a: String, c: String): String =
      s"((($a % 4294967296::HUGEINT) * $c " +
        s"+ ((($a // 4294967296::HUGEINT) * $c) % 4294967296::HUGEINT) " +
        s"* 4294967296::HUGEINT) % 18446744073709551616::HUGEINT)"
    // DuckDB's range() takes only constant bounds — corpus-aware configs
    // enumerate a fixed ceiling and filter against the cfg scalar before
    // the splitmix chain runs (the filter is the first op, so only real
    // (t, p, d) lanes pay the arithmetic)
    val lit = (s: String) => s.forall(_.isDigit)
    val (tBound, pBound) = (if (lit(tables)) tables else "2048", if (lit(planes)) planes else "32")
    val seedFilter =
      if (lit(tables) && lit(planes)) ""
      else s"\n  WHERE t.range < ($tables) AND p.range < ($planes)"
    s"""WITH ${pre}seeds AS (
       |  SELECT t.range AS t, p.range AS p, d.range AS d,
       |    CAST(t.range AS HUGEINT) * 281474976710656::HUGEINT
       |      + CAST(p.range AS HUGEINT) * 4294967296::HUGEINT
       |      + CAST(d.range AS HUGEINT) AS x0
       |  FROM range(0, $tBound) t, range(0, $pBound) p, range(0, 64) d$seedFilter
       |), a1 AS (
       |  SELECT t, p, d, (x0 + 11400714819323198485::HUGEINT)
       |    % 18446744073709551616::HUGEINT AS x1 FROM seeds
       |), a2 AS (
       |  SELECT t, p, d, xor(${fold("x1")},
       |    CAST((x1 // 1073741824::HUGEINT) AS BIGINT)) AS xb1 FROM a1
       |), a3 AS (
       |  SELECT t, p, d, ${umul(unfold("xb1"), "13787848793156543929::HUGEINT")} AS x2 FROM a2
       |), a4 AS (
       |  SELECT t, p, d, xor(${fold("x2")},
       |    CAST((x2 // 134217728::HUGEINT) AS BIGINT)) AS xb2 FROM a3
       |), a5 AS (
       |  SELECT t, p, d, ${umul(unfold("xb2"), "10723151780598845931::HUGEINT")} AS x3 FROM a4
       |), sgn AS (
       |  SELECT t, p, d,
       |    CASE WHEN (xor(${fold("x3")},
       |      CAST((x3 // 2147483648::HUGEINT) AS BIGINT)) & 1) = 1
       |    THEN 1.0 ELSE -1.0 END AS sv
       |  FROM a5
       |), smat AS (
       |  SELECT t, p, list(sv ORDER BY d) AS sv FROM sgn GROUP BY t, p
       |), emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |  ${if (zeroFilter) "WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0" else ""}
       |), buckets AS (
       |  SELECT emb.vec_id, smat.t,
       |    CAST(sum(CASE WHEN list_dot_product(emb.e, smat.sv) >= 0
       |      THEN (CAST(1 AS BIGINT) << CAST(smat.p AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM emb, smat GROUP BY emb.vec_id, smat.t
       |)""".stripMargin
  }

  /** Connected components over the exact near-dup pair graph, as a
    * recursive CTE: cc accumulates every (node, reachable-origin) pair —
    * UNION dedups so the fixpoint is finite — and min(comp) per node is
    * the component's minimum id, mirroring the hash-min label the Spark
    * operator converges to.
    *
    * Caveat (inherited from the Jaccard oracles, amplified here): the
    * Spark side generates candidate pairs by MinHash banding, which has
    * recall < 1 for pairs sitting AT the threshold; one missed borderline
    * edge would relabel its whole component and change the keep-first
    * survivor set. On this corpus the planted duplicates sit far above
    * the threshold (banding miss probability ≈ e-4), verified green at
    * both SFs — a future corpus with exactly-at-threshold pairs could
    * fail these rows without an engine bug.
    */
  def oracleNearDupComponents: String =
    s"""WITH RECURSIVE
       |pairs AS (${oracleShingleJaccard(k = 5, threshold = 0.5)}),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |cc(id, comp) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.id = e.src
       |)
       |SELECT id AS doc_id, min(comp) AS dup_group FROM cc GROUP BY id""".stripMargin

  val oracleWsTokens =
    "len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0))"

  /** chunkTokens mirror: stride 48, tail window shorter, no window fully
    * contained in its predecessor. Shared by the chunking and packing
    * oracles.
    */
  val oracleChunks =
    """SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
      |  array_to_string(list_slice(t, CAST(k*48+1 AS INTEGER), CAST(k*48+64 AS INTEGER)), ' ') AS chunk_text,
      |  CAST(least(64, len(t) - k*48) AS INTEGER) AS n_tokens
      |FROM (
      |  SELECT doc_id, t,
      |    unnest(range(0, CAST(1 + floor((greatest(0, len(t) - 64) + 47) / 48.0) AS BIGINT))) AS k
      |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
      |        FROM documents)
      |  WHERE len(t) > 0
      |)""".stripMargin

  val oracleStopEn = "len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a)\\b'))"

  val oracleNorm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** [[oracleNorm]] over an arbitrary expression (mirrors TextOps.normalized). */
  def oracleNormExpr(e: String) =
    s"trim(regexp_replace(lower($e), '\\s+', ' ', 'g'))"
}
