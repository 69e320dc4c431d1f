package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.catalog.OracleSql._
import graft.ops.Similarity

/** Similarity search: exact top-k, SRP-LSH, IVF, PQ/SQ/BQ and their
  * recall meters, and hard-example mining.
  */
object SimQueries {

  /** 1-bit-BQ exact-rerank budget, corpus-proportional above the
    * correctness SFs (64 there, unchanged). At a FIXED 64-bit code
    * length, the number of corpus points tied within any Hamming radius
    * of a probe grows linearly with the corpus, so a fixed rerank window
    * admits a shrinking fraction of the true top-k — measured at the
    * generated sf1 (20k vectors): recall@5 fell to 0.595, first sub-floor
    * value of the ladder. Holding rerank/corpus ≈ 3.2% restores the
    * sf0.1-grade margin at sf1 (0.96 measured) for a still-trivial exact
    * re-rank cost (|probes| × rerank dot products). The production knob
    * this mirrors: BQ rerank budgets are sized per corpus, not constants.
    */
  private def bqRerank(s: SparkSession, dir: String): Int =
    math.max(64L, nVecs(s, dir) / 31L).toInt

  /** Same corpus-proportional budget for the PQ row's exact re-rank
    * (8 at the correctness SFs — measured 0.90/0.77 there — but 0.546 at
    * the generated sf1's 20k vectors: ADC-quantized distances tie more
    * competitors into the top-8 window as the corpus grows). rerank/n ≈
    * 0.4% holds the margin with a negligible exact re-rank cost.
    */
  private def pqRerank(s: SparkSession, dir: String): Int =
    math.max(8L, nVecs(s, dir) / 250L).toInt

  /** The IVF+PQ row's exact-rerank budget — same corpus-proportional
    * rationale as [[pqRerank]] (ADC ties grow with the corpus at a fixed
    * code length), floored at the row's historical 16 so the correctness-SF
    * artifacts are unchanged. Measured at the generated sf1: rerank 16 →
    * recall 0.57 (first sub-floor value after the layout regen shifted
    * the trained codebooks); n/250 = 80 restores the margin for 80 extra
    * exact dot products per probe.
    */
  private def ivfpqRerank(s: SparkSession, dir: String): Int =
    math.max(16L, nVecs(s, dir) / 250L).toInt

  /** Banded hard-miner config, solved by [[ops.Similarity.hardBandConfig]]
    * at the rows' band edge (cosine 0.25). (4, 16) at the correctness SFs
    * AND at the generated sf1 (the solver's floors — artifacts there
    * unchanged); (6, 36) at the generated sf10, where the fixed (4, 16)
    * config starved the bucket guard (12.5k expected fill vs the 10k cap)
    * and recall collapsed to 0.17/0.15 — see the solver's scaladoc.
    */
  private def hardBandFor(s: SparkSession, dir: String): (Int, Int) =
    ops.Similarity.hardBandConfig(nVecs(s, dir), edgeCos = 0.25)

  /** The SRP-LSH banding replayed from scratch in DuckDB: the sign for
    * (table, plane, dim) is the low bit of splitmix64(t<<48 | p<<32 | d)
    * — the exact [[graft.functions.SrpBands]] / `Similarity.planeWeights`
    * derivation — computed in HUGEINT u-space (64-bit wrapping add/mul
    * via 32-bit split multiplies; xor through a signed-BIGINT fold, which
    * is bitwise-identical), then per-(vector, table) bucket bits from the
    * sign of each plane's ±1 dot product, and the >`maxBucket` corpus
    * bucket guard. Returns the WITH-prefix up to `emb` (nonzero vectors
    * as double lists) and `buckets` (vec_id, t, bucket); callers append
    * the candidate/rank tail.
    */
  private def oracleSrpBuckets(planes: Int, tables: Int): String =
    oracleSrpBucketsDyn(planes.toString, tables.toString)

  /** Exact-cosine SQL between two `emb`-CTE aliases. */
  private def oracleCos(p: String, c: String): String =
    s"list_dot_product($p.e, $c.e) / (sqrt(list_dot_product($p.e, $p.e)) " +
      s"* sqrt(list_dot_product($c.e, $c.e)))"

  /** `Similarity.hardBandConfig`'s solver arithmetic as cfg CTEs (edge
    * cosine 0.25, floors (4, 16), target fill 5000 — the driver rows'
    * exact call).
    */
  private val oracleHardCfgPre: String =
    """cfgn AS (SELECT count(*) AS n FROM embeddings
      |), cfg AS (
      |  SELECT greatest(4, CAST(ceil(ln(CAST(n AS DOUBLE) / 5000.0) / ln(2.0)) AS INTEGER)) AS planes
      |  FROM cfgn
      |), cfg2 AS (
      |  SELECT greatest(16, CAST(ceil(ln(0.25)
      |    / ln(1.0 - pow(1.0 - acos(0.25) / pi(), planes))) AS INTEGER)) AS tables
      |  FROM cfg
      |), """.stripMargin

  /** The hash-sampled probe id set (probeSample at simProbeOneIn). */
  private val oracleHardProbeSel: String =
    """, sel AS (
      |  SELECT vec_id FROM embeddings
      |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#recall-probe'), 1, 15) AS BIGINT)
      |        % (SELECT greatest(25, n // 80) FROM cfgn) = 0
      |)""".stripMargin

  /** lshScored's candidate + exact-scoring tail over the buckets CTE:
    * guarded corpus bands join the probe bands (given by `probePred`),
    * pairs dedup, vectors re-join for the exact cosine.
    */
  private def oracleHardCandidates(probePred: String): String =
    s""", cband AS (
       |  SELECT t, bucket, vec_id AS neighbor_id FROM buckets
       |  QUALIFY count(*) OVER (PARTITION BY t, bucket) <= 10000
       |), pband AS (
       |  SELECT t, bucket, vec_id AS probe_id FROM buckets WHERE $probePred
       |), cands AS (
       |  SELECT DISTINCT probe_id, neighbor_id
       |  FROM cband JOIN pband USING (t, bucket)
       |  WHERE probe_id <> neighbor_id
       |), scored AS (
       |  SELECT cands.probe_id, cands.neighbor_id,
       |         ${oracleCos("p", "c")} AS cosine
       |  FROM cands
       |  JOIN emb c ON c.vec_id = cands.neighbor_id
       |  JOIN emb p ON p.vec_id = cands.probe_id
       |)""".stripMargin

  // ---- committed-index ANN oracle building blocks ------------------------
  // The DuckDB half of the annFixtureDir lifecycle (scaladoc at
  // fixedIvf/fixedPq): the oracle reads the SAME committed parquet the
  // Spark searches load, so every stage downstream of training is a pure
  // replay. Shared CTE fragments below; each query's oracle composes them.

  /** Centroid CTE: the committed IVF fixture with per-cell half-norms
    * (`|c|²/2`, sum-then-halve exactly like cellScores' Scala literal).
    */
  private def oracleAnnCent: String =
    s"""cent AS (
       |  SELECT cell, CAST(centroid AS DOUBLE[]) AS c,
       |         list_sum(list_transform(CAST(centroid AS DOUBLE[]), x -> x * x)) / 2.0 AS hn
       |  FROM read_parquet('$annFixtureDir/ivf16/*.parquet')
       |), emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), cscore AS (
       |  SELECT emb.vec_id, cent.cell,
       |         list_dot_product(emb.e, cent.c) - cent.hn AS score
       |  FROM emb, cent
       |), cassign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
       |    FROM cscore
       |  ) WHERE rn = 1
       |)""".stripMargin

  /** Probe-side top-nprobe cells: score DESC, cell DESC — the engine's
    * reverse(sort_array(struct(score, cell))) tie semantics (lexicographic
    * struct compare: equal scores resolve to the larger cell).
    */
  private def oracleAnnPcells(probeCond: String, nprobe: Int): String =
    s"""pcells AS (
       |  SELECT vec_id AS probe_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
       |    FROM cscore WHERE $probeCond
       |  ) WHERE rn <= $nprobe
       |)""".stripMargin

  /** L2-normalize CTE (the q_sim_sq_topk arithmetic — x / sqrt(Σx²),
    * zero/null vectors dropped) plus the committed PQ codebook with
    * per-codeword half-norms, and the corpus encode: per (vector,
    * subspace) the argmax codeword of `dot(sub, w) − |w|²/2`, ties to the
    * LOWER code (PqUtil.encode's strict `>`), folded to the code list in
    * subspace order. dsub = 4 (dim 64 / m 16 — the committed fixture's
    * shape, asserted by its own metadata on load).
    */
  private def oracleAnnPqCodes: String =
    s"""norm AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(nsq)) AS v
       |  FROM (
       |    SELECT vec_id, embedding,
       |      list_sum(list_transform(embedding,
       |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
       |    FROM embeddings
       |  ) WHERE nsq > 0
       |), cw AS (
       |  SELECT subspace, code, CAST(codeword AS DOUBLE[]) AS w,
       |         list_sum(list_transform(CAST(codeword AS DOUBLE[]), x -> x * x)) / 2.0 AS hn
       |  FROM read_parquet('$annFixtureDir/pq16x16/*.parquet')
       |), codes AS (
       |  SELECT vec_id, list(code ORDER BY subspace) AS code FROM (
       |    SELECT vec_id, subspace, code, row_number() OVER (
       |      PARTITION BY vec_id, subspace
       |      ORDER BY list_dot_product(sub, w) - hn DESC, code ASC) AS rn
       |    FROM (
       |      SELECT n.vec_id, cw.subspace, cw.code, cw.w, cw.hn,
       |             list_slice(n.v, cw.subspace * 4 + 1, cw.subspace * 4 + 4) AS sub
       |      FROM norm n, cw
       |    )
       |  ) WHERE rn = 1 GROUP BY vec_id
       |)""".stripMargin

  /** Probe-side ADC lookup tables: LUT[j][c] = dot(probe subvector j,
    * codeword c), assembled as a nested list in (subspace, code) order so
    * the ADC fold below indexes it exactly like the native PqAdc loop.
    */
  private def oracleAnnPqLuts(probeCond: String): String =
    s"""plut1 AS (
       |  SELECT probe_id, subspace, list(lv ORDER BY code) AS lvs FROM (
       |    SELECT p.vec_id AS probe_id, cw.subspace, cw.code,
       |           list_dot_product(
       |             list_slice(p.v, cw.subspace * 4 + 1, cw.subspace * 4 + 4), cw.w) AS lv
       |    FROM (SELECT vec_id, v FROM norm WHERE $probeCond) p, cw
       |  ) GROUP BY probe_id, subspace
       |), plut AS (
       |  SELECT probe_id, list(lvs ORDER BY subspace) AS luts
       |  FROM plut1 GROUP BY probe_id
       |)""".stripMargin

  /** ADC score of a corpus code list against a probe's LUTs: the
    * sequential j-order fold of the native PqAdc (list_sum over a
    * list_transform in subspace order — NOT a SUM() aggregate, whose
    * unordered double accumulation could differ in the last ulp).
    */
  private val oracleAnnAdcExpr: String =
    "list_sum(list_transform(range(0, 16), j -> " +
      "pl.luts[CAST(j AS INTEGER) + 1][c.code[CAST(j AS INTEGER) + 1] + 1]))"

  /** The exact-cosine re-rank tail over a `cand(probe_id, neighbor_id)`
    * CTE: fetch true vectors, rank by (cosine DESC, id), keep k=5, report
    * the round(round(·,6),4) display discipline.
    */
  private val oracleAnnRerankTail: String =
    """SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
      |  SELECT probe_id, neighbor_id, cosine,
      |         row_number() OVER (
      |           PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM (
      |    SELECT cand.probe_id, cand.neighbor_id,
      |           list_dot_product(p.e, c.e)
      |             / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))) AS cosine
      |    FROM cand
      |    JOIN emb c ON c.vec_id = cand.neighbor_id
      |    JOIN emb p ON p.vec_id = cand.probe_id
      |  )
      |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin

  /** The recall-meter scaffold shared with q_sim_bq_recall /
    * q_sim_sq_recall: the salted-md5 probe sample (probeSample's
    * arithmetic) and the exact brute-force truth over it.
    */
  private val oracleAnnProbeSel: String =
    """nv AS (SELECT count(*) AS n FROM embeddings
      |), sel AS (
      |  SELECT vec_id FROM embeddings
      |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#recall-probe'), 1, 15) AS BIGINT)
      |        % (SELECT greatest(25, n // 80) FROM nv) = 0
      |)""".stripMargin

  private val oracleAnnTruth: String =
    """truth AS (
      |  SELECT probe_id, neighbor_id FROM (
      |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |           row_number() OVER (PARTITION BY p.vec_id ORDER BY
      |             list_dot_product(p.e, c.e)
      |               / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))) DESC,
      |             c.vec_id) AS rank
      |    FROM emb c, (SELECT * FROM emb WHERE vec_id IN (SELECT vec_id FROM sel)) p
      |    WHERE c.vec_id <> p.vec_id
      |  ) WHERE rank <= 5
      |)""".stripMargin

  /** Approx side of a meter from a `cand` CTE (rank ≤ 5 by exact cosine),
    * then the intersect count — recallAtK's (n_true, n_found, recall).
    */
  private val oracleAnnRecallTail: String =
    """approx AS (
      |  SELECT probe_id, neighbor_id FROM (
      |    SELECT cand.probe_id, cand.neighbor_id,
      |           row_number() OVER (PARTITION BY cand.probe_id ORDER BY
      |             list_dot_product(p.e, c.e)
      |               / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))) DESC,
      |             cand.neighbor_id) AS rank
      |    FROM cand
      |    JOIN emb c ON c.vec_id = cand.neighbor_id
      |    JOIN emb p ON p.vec_id = cand.probe_id
      |  ) WHERE rank <= 5
      |), hit AS (SELECT * FROM truth INTERSECT SELECT * FROM approx)
      |SELECT (SELECT count(*) FROM truth) AS n_true,
      |       (SELECT count(*) FROM hit) AS n_found,
      |       round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
      |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_sim_bruteforce_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    },
      Oracle("""SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
               |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               |         list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               |           / (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])))
               |              * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cosine,
               |         row_number() OVER (
               |           PARTITION BY p.vec_id
               |           ORDER BY list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               |             / (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])))
               |                * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) DESC,
               |             c.vec_id) AS rank
               |  FROM (SELECT * FROM embeddings
               |        WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0) c,
               |       (SELECT * FROM embeddings WHERE vec_id < 10
               |        AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0) p
               |  WHERE c.vec_id <> p.vec_id
               |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin)),

    // 5 planes × 24 tables: tuned for the synthetic corpus where true
    // neighbors sit at moderate cosine (~0.3-0.5) — more tables OR
    // together independent hash families so moderate-similarity pairs
    // still collide somewhere (see lshTopK scaladoc for the math).
    // Raised from 16 tables in round 7: the hash-sampled probe set made
    // the recall audit representative and 16 tables measured 0.672 at
    // sf0.01 — above the 0.6 floor but within one config shift of
    // flapping; 24 tables buys the margin for 1.5× the banded rows.
    // The ≥ 0.6 floor is contracted in DriverSuiteSpec at both SFs.
    // FULL oracle since round 11: the SRP hash family is splitmix64 of
    // (table, plane, dim) — 64-bit wrapping arithmetic DuckDB replays in
    // HUGEINT u-space (the oracle's seeds→signs CTE chain, verified
    // bit-for-bit over all 7,680 lanes) — and everything downstream is
    // deterministic: bucket bits, the >10k corpus-bucket guard, pair
    // dedup, exact-cosine rank by (cosine desc, id asc). Approximate
    // means vs the exact top-k (metered by q_sim_lsh_recall — itself
    // oracled the same way), never nondeterminism.
    QuerySpec("q_sim_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, planes = 5, tables = 24)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    },
      // SRP-LSH top-k replayed from scratch: splitmix64 signs in HUGEINT
      // u-space (oracleSrpBuckets), per-table bucket bits, the >10k corpus
      // bucket guard (QUALIFY), pair dedup across tables, exact-cosine
      // re-rank — the whole approximate-search pipeline, hash-verified
      Oracle((oracleSrpBuckets(planes = 5, tables = 24) +
               """, cband AS (
                 |  SELECT t, bucket, vec_id AS neighbor_id FROM buckets
                 |  QUALIFY count(*) OVER (PARTITION BY t, bucket) <= 10000
                 |), pband AS (
                 |  SELECT t, bucket, vec_id AS probe_id FROM buckets WHERE vec_id < 10
                 |), cands AS (
                 |  SELECT DISTINCT probe_id, neighbor_id
                 |  FROM cband JOIN pband USING (t, bucket)
                 |  WHERE probe_id <> neighbor_id
                 |)
                 |SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
                 |  SELECT probe_id, neighbor_id, cosine,
                 |         row_number() OVER (
                 |           PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
                 |  FROM (
                 |    SELECT cands.probe_id, cands.neighbor_id,
                 |           list_dot_product(p.e, c.e)
                 |             / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))) AS cosine
                 |    FROM cands
                 |    JOIN emb c ON c.vec_id = cands.neighbor_id
                 |    JOIN emb p ON p.vec_id = cands.probe_id
                 |  )
                 |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin))),

    QuerySpec("q_sim_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, nlist = 16, nprobe = 6)
        .orderBy(col("probe_id"), col("rank"))
    },
      RowsOnly("k-means training is aggregation-order-sensitive across layouts; q_sim_ivf_search replays a committed index")),

    // steady-state IVF: the index is the COMMITTED checkpoint (annFixtureDir
    // scaladoc), so this measures search cost — cell assignment + cell
    // equi-join + bounded-heap re-rank — not the k-means build. FULL
    // ORACLE since round 12: DuckDB reads the same saved centroids and
    // replays assignment (argmax of dot − |c|²/2, ties to the larger
    // cell — array_max's lexicographic struct compare), the nprobe cut,
    // and the exact-cosine rank.
    QuerySpec("q_sim_ivf_search", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfSearch(fixedIvf(s), emb,
        emb.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5, nprobe = 6)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    },
      // committed-index IVF search replayed end to end: centroids from the
      // SAME saved fixture the Spark row loads, cell assignment (score DESC,
      // cell DESC — array_max's struct tie), nprobe=6 probe cut, cell
      // equi-join, exact-cosine rank
      Oracle((s"WITH $oracleAnnCent,\n${oracleAnnPcells("vec_id < 10", nprobe = 6)},\n" +
               """cand AS (
                 |  SELECT p.probe_id, ca.vec_id AS neighbor_id
                 |  FROM pcells p JOIN cassign ca ON ca.cell = p.cell
                 |  WHERE ca.vec_id <> p.probe_id
                 |)
                 |""".stripMargin + oracleAnnRerankTail))),

    // hard-band mining for contrastive training sets: the 0.25 positive
    // threshold sits at ~p99 of the synthetic corpus's cosine distribution
    // (median ~0.005, max ~0.49), so both bands are populated — negatives
    // mine [0.05, 0.25), positives everything above. Full DuckDB oracles
    // (band + row_number), unlike the approximate ANN rows.
    QuerySpec("q_sim_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, maxCos = 0.25, minCos = 0.05)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    },
      // band filter on round(cosine, 6) — mirrors hardNegatives/hardPositives,
      // which band on the reported (rounded) value so the advertised exclusive
      // boundary holds on the output; zero vectors excluded like the Spark side
      Oracle("""SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
               |  SELECT probe_id, neighbor_id, cosine,
               |         row_number() OVER (
               |           PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
               |  FROM (
               |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               |           list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               |             / (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])))
               |                * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cosine
               |    FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) p
               |    WHERE c.vec_id <> p.vec_id
               |      AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0
               |      AND list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])) > 0
               |  ) WHERE round(cosine, 6) < 0.25 AND round(cosine, 6) >= 0.05
               |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin)),

    QuerySpec("q_sim_hard_positives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardPositives(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, minCos = 0.25)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    },
      Oracle("""SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
               |  SELECT probe_id, neighbor_id, cosine,
               |         row_number() OVER (
               |           PARTITION BY probe_id ORDER BY cosine ASC, neighbor_id) AS rank
               |  FROM (
               |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               |           list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               |             / (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])))
               |                * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cosine
               |    FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) p
               |    WHERE c.vec_id <> p.vec_id
               |      AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0
               |      AND list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])) > 0
               |  ) WHERE round(cosine, 6) >= 0.25
               |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin)),

    // corpus-scale banded variants: anchors need not broadcast, candidates
    // come from the SRP bucket join. 4 planes × 16 tables (NOT the ANN
    // rows' 5×16): the hard band sits at LOW cosine (0.05-0.25), where
    // fewer planes keep collision probability up. Approximate → rows-only,
    // with recall rows vs the exact miners contracted ≥ 0.6 (measured
    // 0.82/0.90 neg, 0.92/0.86 pos at sf0.01/sf0.1).
    // FULL oracles since round 11 (the q_sim_lsh_topk treatment): the
    // banded miners are the SRP splitmix64 replay + the exact miners'
    // rounded-cosine band + (cosine, id) rank — deterministic end to
    // end, with hardBandConfig's solver arithmetic mirrored as cfg CTEs
    QuerySpec("q_sim_hard_neg_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (planes, tables) = hardBandFor(s, dir)
      Similarity.hardNegativesLsh(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, maxCos = 0.25, minCos = 0.05, planes = planes, tables = tables)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    },
      // banded hard miners: SRP replay with hardBandConfig's solver
      // arithmetic as cfg CTEs (planes from the target bucket fill, tables
      // from the band-edge collision model), then the exact miners'
      // rounded-cosine band filter and (cosine, id) rank — negatives
      // descending, positives ascending
      Oracle((oracleSrpBucketsDyn("(SELECT planes FROM cfg)", "(SELECT tables FROM cfg2)",
               pre = oracleHardCfgPre) + oracleHardCandidates("vec_id < 10") +
               """
                 |SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
                 |  SELECT probe_id, neighbor_id, cosine,
                 |         row_number() OVER (
                 |           PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
                 |  FROM scored
                 |  WHERE round(cosine, 6) < 0.25 AND round(cosine, 6) >= 0.05
                 |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin))),

    QuerySpec("q_sim_hard_pos_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (planes, tables) = hardBandFor(s, dir)
      Similarity.hardPositivesLsh(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, minCos = 0.25, planes = planes, tables = tables)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    },
      Oracle((oracleSrpBucketsDyn("(SELECT planes FROM cfg)", "(SELECT tables FROM cfg2)",
               pre = oracleHardCfgPre) + oracleHardCandidates("vec_id < 10") +
               """
                 |SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
                 |  SELECT probe_id, neighbor_id, cosine,
                 |         row_number() OVER (
                 |           PARTITION BY probe_id ORDER BY cosine ASC, neighbor_id) AS rank
                 |  FROM scored
                 |  WHERE round(cosine, 6) >= 0.25
                 |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin))),

    // the capstone composition: (anchor, hard-positive, hard-negative)
    // triplets ready for a contrastive loss — both miners are full
    // oracles, so the assembled triplets are too
    QuerySpec("q_sim_triplets", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.miningTriplets(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        kPos = 3, kNeg = 3, minPosCos = 0.25, maxNegCos = 0.25, minNegCos = 0.05)
        .withColumn("pos_cosine", round(col("pos_cosine"), 4))
        .withColumn("neg_cosine", round(col("neg_cosine"), 4))
        .orderBy(col("anchor_id"), col("pos_rank"), col("neg_rank"))
    },
      Oracle("""WITH scored AS (
               |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               |         list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
               |           / (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])))
               |              * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cosine
               |  FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 10) p
               |  WHERE c.vec_id <> p.vec_id
               |    AND list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) > 0
               |    AND list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])) > 0
               |), pos AS (
               |  SELECT probe_id AS anchor_id, neighbor_id AS pos_id,
               |         round(round(cosine, 6), 4) AS pos_cosine, rank AS pos_rank FROM (
               |    SELECT probe_id, neighbor_id, cosine,
               |           row_number() OVER (PARTITION BY probe_id ORDER BY cosine ASC, neighbor_id) AS rank
               |    FROM scored WHERE round(cosine, 6) >= 0.25
               |  ) WHERE rank <= 3
               |), neg AS (
               |  SELECT probe_id AS anchor_id, neighbor_id AS neg_id,
               |         round(round(cosine, 6), 4) AS neg_cosine, rank AS neg_rank FROM (
               |    SELECT probe_id, neighbor_id, cosine,
               |           row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
               |    FROM scored WHERE round(cosine, 6) < 0.25 AND round(cosine, 6) >= 0.05
               |  ) WHERE rank <= 3
               |)
               |SELECT pos.anchor_id, pos_id, neg_id, pos_cosine, neg_cosine, pos_rank, neg_rank
               |FROM pos JOIN neg ON pos.anchor_id = neg.anchor_id
               |ORDER BY pos.anchor_id, pos_rank, neg_rank""".stripMargin)),

    QuerySpec("q_sim_hard_neg_lsh_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      val (planes, tables) = hardBandFor(s, dir)
      Similarity.recallAtK(
        Similarity.hardNegatives(emb, probes, "embedding", "vec_id",
          k = 5, maxCos = 0.25, minCos = 0.05),
        Similarity.hardNegativesLsh(emb, probes, "embedding", "vec_id",
          k = 5, maxCos = 0.25, minCos = 0.05, planes = planes, tables = tables))
    },
      Oracle((oracleSrpBucketsDyn("(SELECT planes FROM cfg)", "(SELECT tables FROM cfg2)",
               pre = oracleHardCfgPre) + oracleHardProbeSel +
               oracleHardCandidates("vec_id IN (SELECT vec_id FROM sel)") +
               """, truth AS (
                 |  SELECT probe_id, neighbor_id FROM (
                 |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 |           row_number() OVER (PARTITION BY p.vec_id
                 |             ORDER BY """.stripMargin + oracleCos("p", "c") +
               """ DESC, c.vec_id) AS rank
                 |    FROM emb c, (SELECT * FROM emb WHERE vec_id IN (SELECT vec_id FROM sel)) p
                 |    WHERE c.vec_id <> p.vec_id
                 |      AND round(""".stripMargin + oracleCos("p", "c") +
               """, 6) < 0.25 AND round(""" + oracleCos("p", "c") +
               """, 6) >= 0.05
                 |  ) WHERE rank <= 5
                 |), approx AS (
                 |  SELECT probe_id, neighbor_id FROM (
                 |    SELECT probe_id, neighbor_id, cosine,
                 |           row_number() OVER (
                 |             PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
                 |    FROM scored
                 |    WHERE round(cosine, 6) < 0.25 AND round(cosine, 6) >= 0.05
                 |  ) WHERE rank <= 5
                 |), hit AS (SELECT * FROM truth INTERSECT SELECT * FROM approx)
                 |SELECT (SELECT count(*) FROM truth) AS n_true,
                 |       (SELECT count(*) FROM hit) AS n_found,
                 |       round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin))),

    QuerySpec("q_sim_hard_pos_lsh_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      val (planes, tables) = hardBandFor(s, dir)
      Similarity.recallAtK(
        Similarity.hardPositives(emb, probes, "embedding", "vec_id",
          k = 5, minCos = 0.25),
        Similarity.hardPositivesLsh(emb, probes, "embedding", "vec_id",
          k = 5, minCos = 0.25, planes = planes, tables = tables))
    },
      Oracle((oracleSrpBucketsDyn("(SELECT planes FROM cfg)", "(SELECT tables FROM cfg2)",
               pre = oracleHardCfgPre) + oracleHardProbeSel +
               oracleHardCandidates("vec_id IN (SELECT vec_id FROM sel)") +
               """, truth AS (
                 |  SELECT probe_id, neighbor_id FROM (
                 |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 |           row_number() OVER (PARTITION BY p.vec_id
                 |             ORDER BY """.stripMargin + oracleCos("p", "c") +
               """ ASC, c.vec_id) AS rank
                 |    FROM emb c, (SELECT * FROM emb WHERE vec_id IN (SELECT vec_id FROM sel)) p
                 |    WHERE c.vec_id <> p.vec_id
                 |      AND round(""".stripMargin + oracleCos("p", "c") +
               """, 6) >= 0.25
                 |  ) WHERE rank <= 5
                 |), approx AS (
                 |  SELECT probe_id, neighbor_id FROM (
                 |    SELECT probe_id, neighbor_id, cosine,
                 |           row_number() OVER (
                 |             PARTITION BY probe_id ORDER BY cosine ASC, neighbor_id) AS rank
                 |    FROM scored
                 |    WHERE round(cosine, 6) >= 0.25
                 |  ) WHERE rank <= 5
                 |), hit AS (SELECT * FROM truth INTERSECT SELECT * FROM approx)
                 |SELECT (SELECT count(*) FROM truth) AS n_true,
                 |       (SELECT count(*) FROM hit) AS n_found,
                 |       round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin))),

    // PQ-compressed ANN (asymmetric distance + exact re-rank): the
    // memory-compression path. FULL ORACLE since round 12 under the
    // COMMITTED codebooks (annFixtureDir scaladoc): DuckDB reads the
    // saved (subspace, code, codeword) parquet and replays L2-normalize,
    // per-subspace argmax encode (ties to the LOWER code — PqUtil
    // .encode's strict `>`), the per-probe LUT build, the sequential
    // j-order ADC fold, the rerank×k cut by (approx desc, id asc), and
    // the exact-cosine re-rank. "Approximate" is vs the exact top-k
    // (metered by q_sim_pq_recall), never nondeterminism.
    QuerySpec("q_sim_pq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(fixedPq(s), emb,
        emb.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5, rerank = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    },
      // committed-codebook PQ search replayed end to end: encode (argmax
      // dot − |w|²/2, ties to the lower code), per-probe LUTs, the j-order
      // ADC fold, rerank×k = 40 cut by (approx DESC, id ASC), exact re-rank
      Oracle((s"WITH $oracleAnnPqCodes,\n${oracleAnnPqLuts("vec_id < 10")},\n" +
               s"""adc AS (
                  |  SELECT pl.probe_id, c.vec_id AS neighbor_id, $oracleAnnAdcExpr AS approx
                  |  FROM codes c, plut pl WHERE c.vec_id <> pl.probe_id
                  |), cand AS (
                  |  SELECT probe_id, neighbor_id FROM (
                  |    SELECT probe_id, neighbor_id, row_number() OVER (
                  |      PARTITION BY probe_id ORDER BY approx DESC, neighbor_id ASC) AS cut
                  |    FROM adc
                  |  ) WHERE cut <= 40
                  |), emb AS (
                  |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
                  |)
                  |""".stripMargin + oracleAnnRerankTail))),

    // SQ ANN (FAISS SQ8 rung: 8 bits/dimension, training-free): the scan
    // reads int codes only; per-probe affine fold + native sq_dot +
    // exact re-rank — rows-only (approximate), recall contracted below
    // FULL oracle despite the "approximate" label: every stage is a
    // deterministic function of the data — affine int8 codes (the
    // q_emb_sq_codes arithmetic, over the normalized corpus), the
    // integer-free approx score bias + Σ code_d·pw_d, the (approx desc,
    // id asc) candidate cut at rerank×k, and the exact-cosine re-rank —
    // so DuckDB replays the whole pipeline. "Approximate" refers to the
    // top-k vs the EXACT top-k (recall metered by q_sim_sq_recall), not
    // to any nondeterminism. Cosine reported at 4 dp like
    // q_sim_bruteforce_topk (raw-cosine ranking, rounded display).
    QuerySpec("q_sim_sq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Similarity.sqTopK(sqFor(s, dir, normalize = true), emb,
        emb.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5, rerank = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    },
      // SQ8 top-k replayed end to end: L2-normalize (the q_emb_normalize
      // arithmetic), per-dim min/max → the q_emb_sq_codes affine code
      // arithmetic over the NORMALIZED corpus, approx = bias + Σ c_d·pw_d
      // via list_dot_product (sequential double accumulation, matching the
      // native sq_dot loop), candidate cut ≤ rerank×k = 40 by (approx
      // desc, id asc), exact-cosine re-rank on the RAW vectors
      Oracle("""WITH norm AS (
               |  SELECT vec_id,
               |    list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(nsq)) AS v
               |  FROM (
               |    SELECT vec_id, embedding,
               |      list_sum(list_transform(embedding,
               |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
               |    FROM embeddings
               |  ) WHERE nsq > 0
               |), pmat AS (
               |  SELECT list(mn ORDER BY d) AS mn,
               |         list(CASE WHEN mx > mn THEN 255.0 / (mx - mn) ELSE 0 END ORDER BY d) AS s,
               |         list(CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 0 END ORDER BY d) AS w
               |  FROM (
               |    SELECT CAST(d AS INTEGER) AS d, min(v[CAST(d AS INTEGER)]) AS mn,
               |           max(v[CAST(d AS INTEGER)]) AS mx
               |    FROM norm, range(1, 65) r(d) GROUP BY 1
               |  )
               |), codes AS (
               |  SELECT vec_id,
               |    list_transform(range(1, 65), d -> CAST(least(greatest(
               |      CAST(floor((v[CAST(d AS INTEGER)] - pm.mn[CAST(d AS INTEGER)])
               |        * pm.s[CAST(d AS INTEGER)] + 0.5) AS INTEGER), 0), 255) AS DOUBLE)) AS cl
               |  FROM norm, pmat pm
               |), probes AS (
               |  SELECT vec_id, list_dot_product(v, pm.mn) AS bias,
               |    list_transform(range(1, 65),
               |      d -> v[CAST(d AS INTEGER)] * pm.w[CAST(d AS INTEGER)]) AS pwl
               |  FROM norm, pmat pm WHERE vec_id < 10
               |), cand AS (
               |  SELECT probe_id, neighbor_id FROM (
               |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               |           row_number() OVER (PARTITION BY p.vec_id
               |             ORDER BY p.bias + list_dot_product(c.cl, p.pwl) DESC, c.vec_id ASC) AS cut
               |    FROM codes c, probes p WHERE c.vec_id <> p.vec_id
               |  ) WHERE cut <= 40
               |), emb AS (
               |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
               |)
               |SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
               |  SELECT probe_id, neighbor_id, cosine,
               |         row_number() OVER (
               |           PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
               |  FROM (
               |    SELECT cand.probe_id, cand.neighbor_id,
               |           list_dot_product(p.e, c.e)
               |             / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))) AS cosine
               |    FROM cand
               |    JOIN emb c ON c.vec_id = cand.neighbor_id
               |    JOIN emb p ON p.vec_id = cand.probe_id
               |  )
               |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin)),

    QuerySpec("q_sim_sq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      ops.Similarity.recallAtK(
        ops.Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5),
        ops.Similarity.sqTopK(sqFor(s, dir, normalize = true), emb, probes,
          "embedding", "vec_id", 5, rerank = 8))
    },
      Oracle("""WITH norm AS (
               |  SELECT vec_id,
               |    list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(nsq)) AS v
               |  FROM (
               |    SELECT vec_id, embedding,
               |      list_sum(list_transform(embedding,
               |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
               |    FROM embeddings
               |  ) WHERE nsq > 0
               |), pmat AS (
               |  SELECT list(mn ORDER BY d) AS mn,
               |         list(CASE WHEN mx > mn THEN 255.0 / (mx - mn) ELSE 0 END ORDER BY d) AS s,
               |         list(CASE WHEN mx > mn THEN (mx - mn) / 255.0 ELSE 0 END ORDER BY d) AS w
               |  FROM (
               |    SELECT CAST(d AS INTEGER) AS d, min(v[CAST(d AS INTEGER)]) AS mn,
               |           max(v[CAST(d AS INTEGER)]) AS mx
               |    FROM norm, range(1, 65) r(d) GROUP BY 1
               |  )
               |), codes AS (
               |  SELECT vec_id,
               |    list_transform(range(1, 65), d -> CAST(least(greatest(
               |      CAST(floor((v[CAST(d AS INTEGER)] - pm.mn[CAST(d AS INTEGER)])
               |        * pm.s[CAST(d AS INTEGER)] + 0.5) AS INTEGER), 0), 255) AS DOUBLE)) AS cl
               |  FROM norm, pmat pm
               |), nv AS (SELECT count(*) AS n FROM embeddings
               |), sel AS (
               |  SELECT vec_id FROM embeddings
               |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#recall-probe'), 1, 15) AS BIGINT)
               |        % (SELECT greatest(25, n // 80) FROM nv) = 0
               |), pq AS (
               |  SELECT vec_id, list_dot_product(v, pm.mn) AS bias,
               |    list_transform(range(1, 65),
               |      d -> v[CAST(d AS INTEGER)] * pm.w[CAST(d AS INTEGER)]) AS pwl
               |  FROM norm, pmat pm WHERE vec_id IN (SELECT vec_id FROM sel)
               |), emb AS (
               |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
               |), truth AS (
               |  SELECT probe_id, neighbor_id FROM (
               |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               |           row_number() OVER (PARTITION BY p.vec_id ORDER BY
               |             list_dot_product(p.e, c.e)
               |               / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))) DESC,
               |             c.vec_id) AS rank
               |    FROM emb c, (SELECT * FROM emb WHERE vec_id IN (SELECT vec_id FROM sel)) p
               |    WHERE c.vec_id <> p.vec_id
               |  ) WHERE rank <= 5
               |), cand AS (
               |  SELECT probe_id, neighbor_id FROM (
               |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               |           row_number() OVER (PARTITION BY p.vec_id
               |             ORDER BY p.bias + list_dot_product(c.cl, p.pwl) DESC, c.vec_id ASC) AS cut
               |    FROM codes c, pq p WHERE c.vec_id <> p.vec_id
               |  ) WHERE cut <= 40
               |), approx AS (
               |  SELECT probe_id, neighbor_id FROM (
               |    SELECT cand.probe_id, cand.neighbor_id,
               |           row_number() OVER (PARTITION BY cand.probe_id ORDER BY
               |             list_dot_product(p.e, c.e)
               |               / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))) DESC,
               |             cand.neighbor_id) AS rank
               |    FROM cand
               |    JOIN emb c ON c.vec_id = cand.neighbor_id
               |    JOIN emb p ON p.vec_id = cand.probe_id
               |  ) WHERE rank <= 5
               |), hit AS (SELECT * FROM truth INTERSECT SELECT * FROM approx)
               |SELECT (SELECT count(*) FROM truth) AS n_true,
               |       (SELECT count(*) FROM hit) AS n_found,
               |       round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
               |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin)),

    // binary-quantization ANN (1 bit/dim): scan XOR+POPCNTs one long per
    // corpus row, exact re-rank of rerank*k — rows-only (approximate),
    // recall contracted below. rerank = 64 (was 32 in round 6): 64-bit
    // codes give only 65 distinct Hamming values, so candidate ties are
    // massive and the cheap part (popcount scan) dwarfs the re-rank —
    // doubling the re-ranked tail bought the recall floor a >= 0.15
    // margin (was 0.72 vs 0.6 at sf0.1, one unlucky tie-break from
    // flapping) for negligible scan cost.
    // FULL oracle, same argument as q_sim_sq_topk: sign codes and the
    // hamming candidate score are integer-exact, the cut and re-rank are
    // deterministic by (score, id) — DuckDB replays sign-disagreement
    // counts without even packing words.
    QuerySpec("q_sim_bq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Similarity.bqTopK(emb, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, rerank = 64)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    },
      // binary-quantization top-k replayed end to end: hamming = count of
      // sign disagreements (≡ XOR+popcount of the packed words, without
      // packing), candidate cut row_number() by (hamming asc, id asc) ≤
      // rerank×k = 320 — exactly topk_by_score's (score desc, id asc) on
      // approx = −hamming — then the exact-cosine re-rank and the
      // bruteforce row's round(round(·,6),4) display discipline
      Oracle("""WITH emb AS (
               |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
               |), cand AS (
               |  SELECT probe_id, neighbor_id FROM (
               |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               |           row_number() OVER (PARTITION BY p.vec_id
               |             ORDER BY len(list_filter(range(1, 65),
               |               d -> (c.e[d] > 0) <> (p.e[d] > 0))) ASC, c.vec_id ASC) AS cut
               |    FROM emb c, (SELECT * FROM emb WHERE vec_id < 10) p
               |    WHERE c.vec_id <> p.vec_id
               |  ) WHERE cut <= 320
               |)
               |SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
               |  SELECT probe_id, neighbor_id, cosine,
               |         row_number() OVER (
               |           PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
               |  FROM (
               |    SELECT cand.probe_id, cand.neighbor_id,
               |           list_dot_product(p.e, c.e)
               |             / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))) AS cosine
               |    FROM cand
               |    JOIN emb c ON c.vec_id = cand.neighbor_id
               |    JOIN emb p ON p.vec_id = cand.probe_id
               |  )
               |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin)),

    QuerySpec("q_sim_bq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      ops.Similarity.recallAtK(
        ops.Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5),
        ops.Similarity.bqTopK(emb, probes, "embedding", "vec_id", 5,
          rerank = bqRerank(s, dir)))
    },
      // the recall METERS for the two oracled quantized searches are
      // themselves deterministic end to end — hash-sampled probes (the
      // md5Long60 salted-hash replay, oneIn corpus-aware via a scalar
      // subquery), exact truth by (cosine desc, id asc), the same quantized
      // candidate pipeline as the topk rows, and recall = |∩|/|truth| —
      // so the meter a 100 TB pipeline watches is itself hash-verified
      Oracle("""WITH emb AS (
               |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
               |), nv AS (SELECT count(*) AS n FROM embeddings
               |), probes AS (
               |  SELECT vec_id, e FROM emb
               |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#recall-probe'), 1, 15) AS BIGINT)
               |        % (SELECT greatest(25, n // 80) FROM nv) = 0
               |), truth AS (
               |  SELECT probe_id, neighbor_id FROM (
               |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               |           row_number() OVER (PARTITION BY p.vec_id ORDER BY
               |             list_dot_product(p.e, c.e)
               |               / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))) DESC,
               |             c.vec_id) AS rank
               |    FROM emb c, probes p WHERE c.vec_id <> p.vec_id
               |  ) WHERE rank <= 5
               |), cand AS (
               |  SELECT probe_id, neighbor_id FROM (
               |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
               |           row_number() OVER (PARTITION BY p.vec_id
               |             ORDER BY len(list_filter(range(1, 65),
               |               d -> (c.e[d] > 0) <> (p.e[d] > 0))) ASC, c.vec_id ASC) AS cut
               |    FROM emb c, probes p WHERE c.vec_id <> p.vec_id
               |  ) WHERE cut <= 5 * (SELECT greatest(64, n // 31) FROM nv)
               |), approx AS (
               |  SELECT probe_id, neighbor_id FROM (
               |    SELECT cand.probe_id, cand.neighbor_id,
               |           row_number() OVER (PARTITION BY cand.probe_id ORDER BY
               |             list_dot_product(p.e, c.e)
               |               / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))) DESC,
               |             cand.neighbor_id) AS rank
               |    FROM cand
               |    JOIN emb c ON c.vec_id = cand.neighbor_id
               |    JOIN emb p ON p.vec_id = cand.probe_id
               |  ) WHERE rank <= 5
               |), hit AS (SELECT * FROM truth INTERSECT SELECT * FROM approx)
               |SELECT (SELECT count(*) FROM truth) AS n_true,
               |       (SELECT count(*) FROM hit) AS n_found,
               |       round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
               |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin)),

    QuerySpec("q_sim_pq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5),
        Similarity.pqTopK(fixedPq(s), emb, probes,
          "embedding", "vec_id", 5, rerank = pqRerank(s, dir)))
    },
      Oracle((s"WITH $oracleAnnProbeSel,\n$oracleAnnPqCodes,\n" +
               oracleAnnPqLuts("vec_id IN (SELECT vec_id FROM sel)") + ",\n" +
               s"""adc AS (
                  |  SELECT pl.probe_id, c.vec_id AS neighbor_id, $oracleAnnAdcExpr AS approx
                  |  FROM codes c, plut pl WHERE c.vec_id <> pl.probe_id
                  |), cand AS (
                  |  SELECT probe_id, neighbor_id FROM (
                  |    SELECT probe_id, neighbor_id, row_number() OVER (
                  |      PARTITION BY probe_id ORDER BY approx DESC, neighbor_id ASC) AS cut
                  |    FROM adc
                  |  ) WHERE cut <= 5 * (SELECT greatest(8, n // 250) FROM nv)
                  |), emb AS (
                  |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
                  |),
                  |""".stripMargin + oracleAnnTruth + ",\n" + oracleAnnRecallTail))),

    // IVF+PQ combined (FAISS IVFADC layout): cell pruning bounds the
    // scan, PQ bounds bytes per scanned row — rows-only (approximate).
    // rerank = 16 (was 8 in round 6): the representative hash-sampled
    // probe set measured 0.697 at sf0.1 — above the floor but thin;
    // doubling the exact-rescored tail compounds both approximations'
    // slack (cell miss + PQ distortion) for candidate-sized extra cost.
    // FULL ORACLE since round 12 (committed IVF centroids + PQ codebooks,
    // annFixtureDir scaladoc): the composition of the two replays —
    // cell-pruned candidates scored by the j-order ADC fold, rerank×k
    // cut, exact-cosine re-rank.
    QuerySpec("q_sim_ivfpq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(fixedIvf(s), fixedPq(s), emb,
        emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, nprobe = 8, rerank = 16)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    },
      // the IVFADC composition: cell-pruned candidates (committed IVF),
      // scored by the committed-codebook ADC fold, rerank×k = 80 cut,
      // exact-cosine re-rank
      Oracle((s"WITH $oracleAnnCent,\n${oracleAnnPcells("vec_id < 10", nprobe = 8)},\n" +
               s"$oracleAnnPqCodes,\n${oracleAnnPqLuts("vec_id < 10")},\n" +
               s"""adc AS (
                  |  SELECT p.probe_id, c.vec_id AS neighbor_id, $oracleAnnAdcExpr AS approx
                  |  FROM pcells p
                  |  JOIN cassign ca ON ca.cell = p.cell
                  |  JOIN codes c ON c.vec_id = ca.vec_id
                  |  JOIN plut pl ON pl.probe_id = p.probe_id
                  |  WHERE ca.vec_id <> p.probe_id
                  |), cand AS (
                  |  SELECT probe_id, neighbor_id FROM (
                  |    SELECT probe_id, neighbor_id, row_number() OVER (
                  |      PARTITION BY probe_id ORDER BY approx DESC, neighbor_id ASC) AS cut
                  |    FROM adc
                  |  ) WHERE cut <= 80
                  |)
                  |""".stripMargin + oracleAnnRerankTail))),

    QuerySpec("q_sim_ivfpq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5),
        Similarity.ivfPqTopK(fixedIvf(s), fixedPq(s), emb, probes,
          "embedding", "vec_id", 5, nprobe = 8, rerank = ivfpqRerank(s, dir)))
    },
      Oracle((s"WITH $oracleAnnProbeSel,\n$oracleAnnCent,\n" +
               oracleAnnPcells("vec_id IN (SELECT vec_id FROM sel)", nprobe = 8) + ",\n" +
               s"$oracleAnnPqCodes,\n" +
               oracleAnnPqLuts("vec_id IN (SELECT vec_id FROM sel)") + ",\n" +
               s"""adc AS (
                  |  SELECT p.probe_id, c.vec_id AS neighbor_id, $oracleAnnAdcExpr AS approx
                  |  FROM pcells p
                  |  JOIN cassign ca ON ca.cell = p.cell
                  |  JOIN codes c ON c.vec_id = ca.vec_id
                  |  JOIN plut pl ON pl.probe_id = p.probe_id
                  |  WHERE ca.vec_id <> p.probe_id
                  |), cand AS (
                  |  SELECT probe_id, neighbor_id FROM (
                  |    SELECT probe_id, neighbor_id, row_number() OVER (
                  |      PARTITION BY probe_id ORDER BY approx DESC, neighbor_id ASC) AS cut
                  |    FROM adc
                  |  ) WHERE cut <= 5 * (SELECT greatest(16, n // 250) FROM nv)
                  |),
                  |""".stripMargin + oracleAnnTruth + ",\n" + oracleAnnRecallTail))),

    // driver-visible approximation quality: recall@5 of each ANN path
    // against the exact brute-force result — one row the driver can watch
    // across rounds. The probe set is a deterministic salted hash-sample
    // (probeSample at simProbeOneIn — 1-in-25 at the correctness SFs,
    // plateauing at ~80 probes above them) fed to BOTH sides, so the
    // truth cost is |sample| × |corpus| by construction — the pattern
    // that keeps the recall meter runnable at 100 TB (the sample stays
    // audit-sized automatically). CONTRACT:
    // recall >= 0.6 at the driver configs, at both correctness SFs,
    // asserted by DriverSuiteSpec ("ANN recall floor") so these rows
    // cannot silently drift.
    QuerySpec("q_sim_lsh_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", k = 5),
        Similarity.lshTopK(emb, probes, "embedding", "vec_id", k = 5,
          planes = 5, tables = 24))
    },
      Oracle((oracleSrpBuckets(planes = 5, tables = 24) +
               """, nv AS (SELECT count(*) AS n FROM embeddings
                 |), sel AS (
                 |  SELECT vec_id FROM embeddings
                 |  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#recall-probe'), 1, 15) AS BIGINT)
                 |        % (SELECT greatest(25, n // 80) FROM nv) = 0
                 |), truth AS (
                 |  SELECT probe_id, neighbor_id FROM (
                 |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                 |           row_number() OVER (PARTITION BY p.vec_id ORDER BY
                 |             list_dot_product(p.e, c.e)
                 |               / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))) DESC,
                 |             c.vec_id) AS rank
                 |    FROM emb c, (SELECT * FROM emb WHERE vec_id IN (SELECT vec_id FROM sel)) p
                 |    WHERE c.vec_id <> p.vec_id
                 |  ) WHERE rank <= 5
                 |), cband AS (
                 |  SELECT t, bucket, vec_id AS neighbor_id FROM buckets
                 |  QUALIFY count(*) OVER (PARTITION BY t, bucket) <= 10000
                 |), pband AS (
                 |  SELECT t, bucket, vec_id AS probe_id FROM buckets
                 |  WHERE vec_id IN (SELECT vec_id FROM sel)
                 |), cands AS (
                 |  SELECT DISTINCT probe_id, neighbor_id
                 |  FROM cband JOIN pband USING (t, bucket)
                 |  WHERE probe_id <> neighbor_id
                 |), approx AS (
                 |  SELECT probe_id, neighbor_id FROM (
                 |    SELECT cands.probe_id, cands.neighbor_id,
                 |           row_number() OVER (PARTITION BY cands.probe_id ORDER BY
                 |             list_dot_product(p.e, c.e)
                 |               / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))) DESC,
                 |             cands.neighbor_id) AS rank
                 |    FROM cands
                 |    JOIN emb c ON c.vec_id = cands.neighbor_id
                 |    JOIN emb p ON p.vec_id = cands.probe_id
                 |  ) WHERE rank <= 5
                 |), hit AS (SELECT * FROM truth INTERSECT SELECT * FROM approx)
                 |SELECT (SELECT count(*) FROM truth) AS n_true,
                 |       (SELECT count(*) FROM hit) AS n_found,
                 |       round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin))),

    QuerySpec("q_sim_ivf_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", k = 5),
        Similarity.ivfSearch(fixedIvf(s), emb, probes,
          "embedding", "vec_id", k = 5, nprobe = 6))
    },
      Oracle((s"WITH $oracleAnnProbeSel,\n$oracleAnnCent,\n" +
               oracleAnnPcells("vec_id IN (SELECT vec_id FROM sel)", nprobe = 6) + ",\n" +
               oracleAnnTruth + ",\n" +
               """cand AS (
                 |  SELECT p.probe_id, ca.vec_id AS neighbor_id
                 |  FROM pcells p JOIN cassign ca ON ca.cell = p.cell
                 |  WHERE ca.vec_id <> p.probe_id
                 |),
                 |""".stripMargin + oracleAnnRecallTail))),
  )
}
