package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.catalog.OracleSql._
import graft.ops.{Dedup, TextOps}

/** Deduplication and decontamination: exact, MinHash, SimHash, n-gram,
  * embedding and semantic near-dups, connected components, incremental and
  * cross-source variants, each with its oracle or recall meter.
  */
object DedupQueries {

  /** SemDeDup (cells, nProbe) for the semantic-dedup rows, scale-aware
    * above the correctness SFs ((8, 2) at sf0.01/sf0.1's 500/2,000
    * vectors — unchanged artifacts there). Within-cell work is quadratic
    * in CELL size (measured: 113 s at the generated sf1's 20k vectors
    * with the cell count left at 8), so cells must grow with the corpus —
    * but at this row's MID threshold (0.45; pairs are not tight clusters)
    * recall needs ~10% of the cell space probed, so nProbe/cells is
    * pinned and candidate volume n²·nProbe²/(2·cells) is minimized by the
    * LOWEST nProbe that holds the floor: the measured sf1 frontier
    * ((8,2) 0.81 / (16,2) 0.61 / (32,3) 0.74 / (80,2) 0.37 recall) puts
    * the sweet spot at (32, 3) — 2× the speed of (8, 2) with margin over
    * the 0.6 contract. That caps useful cells at ~32 HERE: mid-threshold
    * cluster banding is intrinsically ~n²/cells (the SRP-banded
    * embeddingNearDups row is the mid-threshold scale path, n^(1+ρ)).
    * The published SemDeDup posture — cells ∝ n, 50k cells for
    * LAION-440M — applies at HIGH thresholds, where near-dup pairs are
    * tight and co-cluster: [[graft.ops.Dedup.semanticDedup]] takes both
    * dials, this helper just pins the driver rows' adversarial config.
    */
  private def semanticCellsFor(s: SparkSession, dir: String): Int =
    math.min(32L, math.max(8L, nVecs(s, dir) / 625L)).toInt

  private def semanticProbesFor(s: SparkSession, dir: String): Int =
    if (semanticCellsFor(s, dir) > 8) 3 else 2

  /** Cell-size cap for the SemDeDup driver rows, corpus-aware: the cell
    * count is bounded by the recall budget (mid-threshold boundary misses
    * grow with cells — SCALING_r9's measured frontier), so one decade past
    * the tuning rung the EXPECTED per-cell row count (nProbe × n / cells)
    * exceeds the operator's default 10k cap and the fail-loud guard would
    * correctly reject the configuration. The rows therefore size the cap
    * to 2× the expected fill (never below the default): the guard still
    * bounds genuinely degenerate cells while the intrinsic ~nProbe·n²/cells
    * verification cost stays the honestly-documented price of
    * mid-threshold semantic dedup at scale.
    */
  private def semanticMaxCellFor(s: SparkSession, dir: String): Int = {
    val cells = semanticCellsFor(s, dir)
    val expected = semanticProbesFor(s, dir).toLong * nVecs(s, dir) / cells
    // clamp BEFORE the narrowing: at expected*2 >= 2^31 a bare .toInt
    // wraps — a negative wrap trips the operator's require, but a
    // positive wrap would silently pass a wrong (tiny) cap
    math.min(math.max(10000L, expected * 2L), Int.MaxValue.toLong).toInt
  }

  /** SRP banding config (planes, tables) for the embedding near-dup rows,
    * corpus-aware above the correctness SFs ((5, 12) at <= 2,000 vectors —
    * unchanged artifacts there). Fixed-width SRP keys make bucket sizes,
    * and hence the bucket self-join, grow linearly with the corpus (n²/2^planes
    * candidates — measured 90 s at the generated sf1); adding one plane per
    * corpus doubling holds expected bucket size constant, and the table
    * count is then solved from the banding recall model so the meter
    * contract keeps its margin: per-plane collision for a pair at the
    * row's cosine threshold 0.45 is p = 1 − acos(0.45)/π ≈ 0.649, a table
    * matches with p^planes, and tables = ⌈ln(0.25)/ln(1 − p^planes)⌉
    * targets ≥ 75% theoretical recall (floor 0.6). This is the LSH n^(1+ρ)
    * curve instead of n²: candidate volume per corpus doubling grows
    * ~1.55× (tables) instead of 4× (bucket pairs).
    */
  private def srpConfigFor(s: SparkSession, dir: String): (Int, Int) = {
    val n = nVecs(s, dir)
    if (n <= 2000L) (5, 12)
    else {
      val planes = 5 + (math.log(n / 2000.0) / math.log(2.0)).floor.toInt
      val pTable = math.pow(1.0 - math.acos(0.45) / math.Pi, planes)
      val tables = math.ceil(math.log(0.25) / math.log(1.0 - pTable)).toInt
      (planes, tables)
    }
  }

  /** Blocked-self-join slice count for the radius-8 simhash rows
    * (1 at the correctness SFs — plans unchanged there). Radius 8 on the
    * 60-bit sketch of near-template text leaves corpus-fraction-sized
    * buckets (SimStats at the generated sf1: hottest bucket 15.8k of 50k
    * docs, 983M join emissions), and one bucket's quadratic verification
    * otherwise runs in ONE task; m slices spread it over m² reducer keys
    * at m× replication of the (id, sim) banded rows. m ≈ √(docs/5000)
    * keeps per-key work near the sf0.1 level as the corpus grows.
    */
  private def simhashSlicesFor(s: SparkSession, dir: String): Int = {
    val n = nDocs(s, dir)
    if (n <= 5000L) 1 else math.ceil(math.sqrt(n / 5000.0)).toInt
  }

  /** Full SimHash near-dup recomputation in DuckDB: per-token md5-derived
    * 60-bit hash (the same derivation as oracleMd5Long — mirrors
    * SimHashUtil.tokenHash60), ±count votes per bit lane, sign-vector
    * pack, then all-pairs `bit_count(xor) <= r`. Tokenization mirrors
    * SimHashUtil (lowercase alnum runs). A document with no tokens packs
    * to the all-ones vector on the Spark side (every lane count is 0 ≥ 0),
    * hence the coalesce. Exact — not an approximation contract: the
    * Spark banding is pigeonhole-exact at the radius, so both engines
    * must produce the identical pair set.
    */
  private def oracleSimHash(maxHamming: Int): String =
    s"""WITH th AS (
       |  SELECT doc_id, ${oracleMd5Long("tok")} AS h, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest($oracleTokens) AS tok FROM documents)
       |  GROUP BY 1, 2
       |), votes AS (
       |  SELECT doc_id, CAST(j AS INTEGER) AS j,
       |    sum(CASE WHEN ((h >> CAST(j AS INTEGER)) & 1) = 1 THEN cnt ELSE -cnt END) AS v
       |  FROM th, range(0, 60) r(j)
       |  GROUP BY 1, 2
       |), packed AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sim
       |  FROM votes GROUP BY doc_id
       |), sims AS (
       |  SELECT d.doc_id, coalesce(p.sim, (CAST(1 AS BIGINT) << 60) - 1) AS sim
       |  FROM documents d LEFT JOIN packed p USING (doc_id)
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
       |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim, b.sim)) <= $maxHamming""".stripMargin

  /** Two-lane (120-bit) simhash recomputed from scratch: both lanes come
    * from ONE md5 per token — lane 0 is hex chars 1-15 (the narrow
    * sketch's exact derivation), lane 1 is hex chars 17-31 — then a
    * 60-lane vote per lane and an all-pairs two-lane hamming check, the
    * wide twin of [[oracleSimHash]]. Token-less docs pack all-ones in
    * both lanes (the per-lane [[graft.functions.SimHashUtil.simhash]]
    * convention).
    */
  private def oracleSimHashWide(maxHamming: Int): String =
    s"""WITH th AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h0,
       |    CAST('0x' || substr(md5(tok), 17, 15) AS BIGINT) AS h1,
       |    count(*) AS cnt
       |  FROM (SELECT doc_id, unnest($oracleTokens) AS tok FROM documents)
       |  GROUP BY 1, 2, 3
       |), votes AS (
       |  SELECT doc_id, CAST(j AS INTEGER) AS j,
       |    sum(CASE WHEN ((h0 >> CAST(j AS INTEGER)) & 1) = 1 THEN cnt ELSE -cnt END) AS v0,
       |    sum(CASE WHEN ((h1 >> CAST(j AS INTEGER)) & 1) = 1 THEN cnt ELSE -cnt END) AS v1
       |  FROM th, range(0, 60) r(j)
       |  GROUP BY 1, 2
       |), packed AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN v0 >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS s0,
       |    CAST(sum(CASE WHEN v1 >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS s1
       |  FROM votes GROUP BY doc_id
       |), sims AS (
       |  SELECT d.doc_id,
       |    coalesce(p.s0, (CAST(1 AS BIGINT) << 60) - 1) AS s0,
       |    coalesce(p.s1, (CAST(1 AS BIGINT) << 60) - 1) AS s1
       |  FROM documents d LEFT JOIN packed p USING (doc_id)
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1)) AS INTEGER) AS hamming
       |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1)) <= $maxHamming""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_dedup_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id"),
      Oracle(s"SELECT md5($oracleNorm) AS content_hash, min(doc_id) AS representative, count(*) AS n_dups FROM documents GROUP BY 1")),

    QuerySpec("q_dedup_keep_first", (s, dir) =>
      Dedup.exactKeepFirst(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id")),
      Oracle(s"""SELECT doc_id FROM documents
                |QUALIFY row_number() OVER (PARTITION BY md5($oracleNorm) ORDER BY doc_id) = 1""".stripMargin)),

    // banding matched to the threshold: 32 bands × 4 rows → s* ≈ 0.42,
    // high recall at the 0.5 cut without flooding candidates on corpora
    // where *all* pairs share some low-level similarity
    QuerySpec("q_dedup_minhash", (s, dir) =>
      Dedup.minHashNearDups(t(s, dir, "documents"), "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b")),
      Oracle(oracleShingleJaccard(k = 5, threshold = 0.5))),

    // incremental near-dup: the batch (doc_id >= 250) compares against the
    // HISTORY's stored signatures (no history text) — emits the pair ids;
    // the estimator's decision matches exact Jaccard here because no pair
    // sits near the threshold (verified: nothing in [0.3, 0.7] at either
    // SF), so the exact-Jaccard oracle applies to the pair SET
    QuerySpec("q_dedup_incr_near", (s, dir) => {
      val docs = t(s, dir, "documents")
      val hist = Dedup.minHashSignatures(
        docs.filter(col("doc_id") < 250), "text", "doc_id", numHashes = 128)
      val batch = Dedup.minHashSignatures(
        docs.filter(col("doc_id") >= 250), "text", "doc_id", numHashes = 128)
      Dedup.minHashNearDupsIncremental(batch, hist,
          numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // incremental near-dup: the true pair set with at least one side in
      // the batch (ids only — the operator's est_jaccard is an estimator
      // value with no SQL equivalent; its decisions coincide with exact
      // Jaccard on this corpus, see the query comment)
      Oracle(oracleShingleJaccard(k = 5, threshold = 0.5,
        select = "id_a, id_b",
        extraWhere = " AND NOT (id_a < 250 AND id_b < 250)"))),

    // fuzzy (near-duplicate) contamination: odd docs with shingle Jaccard
    // >= 0.5 against some even "benchmark" doc — the bipartite LSH that
    // catches lightly-edited benchmark text exact n-gram decontamination
    // misses; banding matched to the threshold as in q_dedup_minhash
    QuerySpec("q_decontam_fuzzy_pairs", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.fuzzyContamination(docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
          numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("id").as("doc_id"), col("bench_id"), col("jaccard"))
        .orderBy(col("doc_id"), col("bench_id"))
    },
      // bipartite pairs reshaped from the symmetric all-pairs truth: the
      // odd (corpus) id first, the even (bench) id second
      Oracle(oracleShingleJaccard(k = 5, threshold = 0.5,
        select = "CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id, " +
          "CASE WHEN id_a % 2 = 1 THEN id_b ELSE id_a END AS bench_id, " +
          "round(jaccard, 6) AS jaccard",
        extraWhere = " AND (id_a % 2) <> (id_b % 2)"))),

    // the gate: odd docs near-duplicate to NO even doc
    QuerySpec("q_decontam_fuzzy", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.fuzzyDecontaminate(docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
          numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      Oracle(s"""SELECT doc_id FROM documents
                |WHERE doc_id % 2 = 1 AND doc_id NOT IN (
                |${oracleShingleJaccard(k = 5, threshold = 0.5,
                     select = "CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id",
                     extraWhere = " AND (id_a % 2) <> (id_b % 2)")}
                |)""".stripMargin)),

    QuerySpec("q_dedup_simhash", (s, dir) =>
      Dedup.simHashNearDups(t(s, dir, "documents"), "text", "doc_id", maxHamming = 8,
        slices = simhashSlicesFor(s, dir))
        .orderBy(col("id_a"), col("id_b")),
      // both SimHash configurations recompute to the same exact pair set
      // (banding-independence is part of the operator contract)
      Oracle(oracleSimHash(maxHamming = 8))),

    // the PRODUCTION radius: Manku et al. (WWW'07) deduplicate 8B pages
    // at hamming <= 3 on 64-bit sketches; radius 3 keys are 15-bit so the
    // banded self-join stays selective even on biased sketch bits — the
    // configuration whose cost actually scales like the published system
    // (the radius-8 rows above stress the adversarial wide-radius shape)
    QuerySpec("q_dedup_simhash_r3", (s, dir) =>
      Dedup.simHashNearDups(t(s, dir, "documents"), "text", "doc_id", maxHamming = 3,
        keyBlocks = Dedup.simHashKeyBlocksFor(nDocs(s, dir), maxHamming = 3))
        .orderBy(col("id_a"), col("id_b")),
      Oracle(oracleSimHash(maxHamming = 3))),

    // pairs → clusters: connected components over the verified near-dup
    // graph (hash-min + pointer-jump label propagation); dup_group is the
    // min id transitively reachable, so it doubles as the representative
    QuerySpec("q_dedup_components", (s, dir) =>
      Dedup.nearDupGroups(t(s, dir, "documents"), "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("doc_id"), col("dup_group")),
      Oracle(oracleNearDupComponents)),

    // incremental clustering (the daily-crawl shape): history clusters
    // computed once compress to star edges, the batch's incremental
    // near-dup pairs fold in, and the merged labels equal the full
    // recompute — verified by the SAME full-graph recursive-CTE oracle
    // as q_dedup_components (estimator decisions coincide with exact
    // Jaccard at these SFs: no pair sits in the estimator's gray zone)
    QuerySpec("q_dedup_components_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      val hist = docs.filter(col("doc_id") < 250)
      val batch = docs.filter(col("doc_id") >= 250)
      val prior = Dedup.connectedComponents(
        Dedup.minHashNearDups(hist, "text", "doc_id",
          numHashes = 128, bands = 32, threshold = 0.5),
        hist.select(col("doc_id").as("id")))
      val incrPairs = Dedup.minHashNearDupsIncremental(
          Dedup.minHashSignatures(batch, "text", "doc_id", numHashes = 128),
          Dedup.minHashSignatures(hist, "text", "doc_id", numHashes = 128),
          numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponentsIncrement(prior, incrPairs,
          batch.select(col("doc_id").as("id")))
        .select(col("id").as("doc_id"), col("comp").as("dup_group"))
    },
      // incremental clustering must land on the identical full-graph
      // labeling — the parity IS the contract, so the oracle is the same
      // recursive CTE over the complete exact-Jaccard edge set
      Oracle(oracleNearDupComponents)),

    // steady-state incremental clustering: prior labels + history
    // signatures load from the persisted store (written once per sf dir,
    // the saveIvf lifecycle), so the row pays ONLY the production
    // per-batch cost — batch signatures, banded incremental pairs, star
    // merge. Same full-graph recursive-CTE oracle as the parity row:
    // steady-state must land on the identical complete labeling.
    QuerySpec("q_dedup_components_incr_steady", (s, dir) => {
      val store = ccStoreFor(s, dir)
      val batch = t(s, dir, "documents").filter(col("doc_id") >= 250)
      val incrPairs = Dedup.minHashNearDupsIncremental(
          Dedup.minHashSignatures(batch, "text", "doc_id", numHashes = 128),
          s.read.parquet(s"$store/signatures"),
          numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponentsIncrement(
          s.read.parquet(s"$store/labels"), incrPairs,
          batch.select(col("doc_id").as("id")))
        .select(col("id").as("doc_id"), col("comp").as("dup_group"))
    },
      // steady-state loads the same history from the persisted store; the
      // complete labeling must still equal the full-graph recursive CTE
      Oracle(oracleNearDupComponents)),

    // the end-to-end near-dedup: one representative per duplicate cluster
    QuerySpec("q_dedup_near_keep_first", (s, dir) =>
      Dedup.nearDupKeepFirst(t(s, dir, "documents"), "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("doc_id")),
      Oracle(s"""SELECT doc_id FROM ($oracleNearDupComponents)
                |WHERE doc_id = dup_group""".stripMargin)),

    // same clusters, best-quality representative instead of min id
    QuerySpec("q_dedup_keep_best", (s, dir) =>
      Dedup.nearDupKeepBest(t(s, dir, "documents"), "text", "doc_id",
        score = TextOps.qualityScore(col("text")),
        numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("doc_id")),
      // keep-best: the same recursive-CTE clusters, ranked by the
      // q_text_quality formula instead of min id
      Oracle(s"""SELECT doc_id FROM (
                |  SELECT c.doc_id, c.dup_group,
                |    round(least(CAST($oracleWsTokens AS DOUBLE) / 50.0, 1.0) * 0.5
                |      + least(round(CAST($oracleStopEn AS DOUBLE) / greatest($oracleWsTokens, 1), 6) * 5.0, 1.0) * 0.4
                |      + (1.0 - least(round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1), 6) * 10.0, 1.0)) * 0.1, 6) AS quality
                |  FROM ($oracleNearDupComponents) c JOIN documents d ON d.doc_id = c.doc_id
                |)
                |QUALIFY row_number() OVER (PARTITION BY dup_group ORDER BY quality DESC, doc_id) = 1""".stripMargin)),

    // the keyBlocks=2 combination-keying scale dial: pigeonhole-exact
    // recall is banding-independent, so this must equal q_dedup_simhash
    // row for row (the driver sees the billion-doc configuration produce
    // the same answer as the default)
    QuerySpec("q_dedup_simhash_k2", (s, dir) =>
      Dedup.simHashNearDups(t(s, dir, "documents"), "text", "doc_id", maxHamming = 8,
        keyBlocks = 2, slices = simhashSlicesFor(s, dir))
        .orderBy(col("id_a"), col("id_b")),
      Oracle(oracleSimHash(maxHamming = 8))),

    // the wide-sketch (120-bit, two md5 lanes) resolution escape from the
    // radius-8 frontier (SCALING_r11.md §1c): SAME absolute radius, double
    // resolution — every banding block doubles in width (13-bit keys at
    // kb=1 where the 60-bit sketch had 7) and the match fraction halves
    // (8/120 vs 8/60), collapsing the output-quadratic near-template pair
    // density. Fully oracled: both lanes are one md5 per token, DuckDB
    // recomputes them from hex chars 1-15 / 17-31 of the same digest.
    // No slices dial needed: the wide keys keep buckets small at the
    // rungs where the narrow radius-8 rows needed blocked self-joins.
    QuerySpec("q_dedup_simhash_wide", (s, dir) =>
      Dedup.simHashNearDupsWide(t(s, dir, "documents"), "text", "doc_id", maxHamming = 8,
        keyBlocks = Dedup.simHashKeyBlocksFor(nDocs(s, dir), maxHamming = 8,
          bits = graft.functions.SimHashUtil.WideBits))
        .orderBy(col("id_a"), col("id_b")),
      Oracle(oracleSimHashWide(maxHamming = 8))),

    // banding-independence witness at the wide width, mirroring
    // q_dedup_simhash_k2: pigeonhole recall is exact for any keyBlocks,
    // so this must equal q_dedup_simhash_wide row for row
    QuerySpec("q_dedup_simhash_wide_k2", (s, dir) =>
      Dedup.simHashNearDupsWide(t(s, dir, "documents"), "text", "doc_id", maxHamming = 8,
        keyBlocks = 2)
        .orderBy(col("id_a"), col("id_b")),
      Oracle(oracleSimHashWide(maxHamming = 8))),

    QuerySpec("q_dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardNearDups(t(s, dir, "documents"), "text", "doc_id", n = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b")),
      Oracle(oracleShingleJaccard(k = 3, threshold = 0.8))),

    // incremental ingestion: dedupe the "new batch" (doc_id >= 250)
    // against the "historical corpus" (doc_id < 250) by content digest,
    // then keep-first within the batch
    QuerySpec("q_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exactDedupIncrement(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
        "text", "doc_id")
        .select(col("doc_id"))
    },
      Oracle(s"""SELECT doc_id FROM (
                |  SELECT doc_id, md5($oracleNorm) AS ch FROM documents WHERE doc_id >= 250
                |) b
                |WHERE ch NOT IN (SELECT md5($oracleNorm) FROM documents WHERE doc_id < 250)
                |QUALIFY row_number() OVER (PARTITION BY ch ORDER BY doc_id) = 1""".stripMargin)),

    // the synthetic embeddings have no true near-dups (max pairwise cosine
    // ≈ 0.51), so the harness entry runs at a moderate threshold where
    // pairs exist; multi-table SRP keeps recall at that regime
    QuerySpec("q_dedup_embedding", (s, dir) => {
      val (planes, tables) = srpConfigFor(s, dir)
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.45, planes = planes, tables = tables)
        .orderBy(col("id_a"), col("id_b"))
    },
      // SRP-banded embedding near-dup replayed from scratch (the
      // q_sim_lsh_topk machinery): splitmix64 signs, corpus-aware
      // (planes, tables) mirrored as the cfg CTEs — srpConfigFor's exact
      // arithmetic, ln/acos/pow/ceil shared IEEE functions — bucket
      // self-join candidates, exact-cosine >= threshold on the RAW value,
      // rounded display. embeddingNearDups bands every vector (no
      // zero-vector drop), hence zeroFilter = false.
      Oracle((oracleSrpBucketsDyn("(SELECT planes FROM cfg)", "(SELECT tables FROM cfg2)",
               pre = """cfgn AS (SELECT count(*) AS n FROM embeddings
                 |), cfg AS (
                 |  SELECT CASE WHEN n <= 2000 THEN 5
                 |    ELSE 5 + CAST(floor(ln(CAST(n AS DOUBLE) / 2000.0) / ln(2.0)) AS INTEGER) END AS planes
                 |  FROM cfgn
                 |), cfg2 AS (
                 |  SELECT CASE WHEN (SELECT n FROM cfgn) <= 2000 THEN 12
                 |    ELSE CAST(ceil(ln(0.25)
                 |      / ln(1.0 - pow(1.0 - acos(0.45) / pi(), planes))) AS INTEGER) END AS tables
                 |  FROM cfg
                 |), """.stripMargin, zeroFilter = false) +
               """, cband AS (
                 |  SELECT t, bucket, vec_id FROM buckets
                 |  QUALIFY count(*) OVER (PARTITION BY t, bucket) <= 10000
                 |), cand AS (
                 |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 |  FROM cband a JOIN cband b
                 |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
                 |)
                 |SELECT id_a, id_b, round(cosine, 6) AS cosine FROM (
                 |  SELECT cand.id_a, cand.id_b,
                 |         list_dot_product(x.e, y.e)
                 |           / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))) AS cosine
                 |  FROM cand
                 |  JOIN emb x ON x.vec_id = cand.id_a
                 |  JOIN emb y ON y.vec_id = cand.id_b
                 |) WHERE cosine >= 0.45""".stripMargin))),

    // driver-visible honesty meter for the one approximate near-DUP path:
    // pair recall of the SRP-banded pass against the exact cosine truth
    // RESTRICTED to a deterministic 1-in-4 probe sample (probeOneIn —
    // the knob that makes this meter runnable at 100 TB: truth cost is
    // |sample| × |corpus|, not |corpus|², and restricted-truth recall is
    // an unbiased estimate of full recall; parity with the full meter is
    // pinned by OpsSpec "sampled exactCosinePairs ≡ full truth
    // restricted"). CONTRACT: recall >= 0.6 at the driver config, both
    // correctness SFs, asserted by DriverSuiteSpec ("ANN recall floor")
    QuerySpec("q_dedup_embedding_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (planes, tables) = srpConfigFor(s, dir)
      Dedup.pairRecall(
        Dedup.exactCosinePairs(emb, "embedding", "vec_id", threshold = 0.45,
          probeOneIn = dedupProbeOneIn(s, dir)),
        Dedup.embeddingNearDups(emb, "embedding", "vec_id",
          threshold = 0.45, planes = planes, tables = tables))
    },
      // and the meter over it: hash-sampled exact truth (least/greatest
      // pair normalization, probe != other, RAW-cosine threshold) vs the
      // replayed banded pass — n_true / n_found / recall, hash-verified
      Oracle((oracleSrpBucketsDyn("(SELECT planes FROM cfg)", "(SELECT tables FROM cfg2)",
               pre = """cfgn AS (SELECT count(*) AS n FROM embeddings
                 |), cfg AS (
                 |  SELECT CASE WHEN n <= 2000 THEN 5
                 |    ELSE 5 + CAST(floor(ln(CAST(n AS DOUBLE) / 2000.0) / ln(2.0)) AS INTEGER) END AS planes
                 |  FROM cfgn
                 |), cfg2 AS (
                 |  SELECT CASE WHEN (SELECT n FROM cfgn) <= 2000 THEN 12
                 |    ELSE CAST(ceil(ln(0.25)
                 |      / ln(1.0 - pow(1.0 - acos(0.45) / pi(), planes))) AS INTEGER) END AS tables
                 |  FROM cfg
                 |), """.stripMargin, zeroFilter = false) +
               """, truth AS (
                 |  SELECT DISTINCT least(p.vec_id, o.vec_id) AS id_a,
                 |                  greatest(p.vec_id, o.vec_id) AS id_b
                 |  FROM (SELECT * FROM emb
                 |        WHERE list_dot_product(e, e) > 0
                 |          AND CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#recall-probe'), 1, 15) AS BIGINT)
                 |              % (SELECT greatest(4, n // 500) FROM cfgn) = 0) p,
                 |       (SELECT * FROM emb WHERE list_dot_product(e, e) > 0) o
                 |  WHERE p.vec_id <> o.vec_id
                 |    AND list_dot_product(p.e, o.e)
                 |          / (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(o.e, o.e))) >= 0.45
                 |), cband AS (
                 |  SELECT t, bucket, vec_id FROM buckets
                 |  QUALIFY count(*) OVER (PARTITION BY t, bucket) <= 10000
                 |), cand AS (
                 |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 |  FROM cband a JOIN cband b
                 |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
                 |), found AS (
                 |  SELECT id_a, id_b FROM (
                 |    SELECT cand.id_a, cand.id_b,
                 |           list_dot_product(x.e, y.e)
                 |             / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))) AS cosine
                 |    FROM cand
                 |    JOIN emb x ON x.vec_id = cand.id_a
                 |    JOIN emb y ON y.vec_id = cand.id_b
                 |  ) WHERE cosine >= 0.45
                 |), hit AS (SELECT * FROM truth INTERSECT SELECT * FROM found)
                 |SELECT (SELECT count(*) FROM truth) AS n_true,
                 |       (SELECT count(*) FROM hit) AS n_found,
                 |       round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin))),

    // SemDeDup: k-means cells + exact within-cell cosine — the
    // cluster-partitioned sibling of the SRP-banded pass above. No SQL
    // mirror (k-means); honesty meter below.
    QuerySpec("q_dedup_semantic", (s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), "embedding", "vec_id",
        nClusters = semanticCellsFor(s, dir), threshold = 0.45,
        nProbe = semanticProbesFor(s, dir), maxCellSize = semanticMaxCellFor(s, dir))
        .orderBy(col("id_a"), col("id_b")),
      RowsOnly("k-means cells: no SQL replay of the training; q_dedup_semantic_recall meters it")),

    // Dolma/RefinedWeb-style corpus-level paragraph dedup: segments
    // (split on " the " — the synthetic corpus has no newlines) deduped
    // globally by normalized digest, first occurrence by (doc, pos)
    // survives, documents reassembled in order
    QuerySpec("q_dedup_paragraph", (s, dir) =>
      Dedup.paragraphDedup(t(s, dir, "documents"), "text", "doc_id",
        sep = " the "),
      // paragraph dedup: full recomputation — positional split, global
      // first-occurrence window over the normalized digest (blank
      // segments always kept), ordered string_agg reassembly
      Oracle(s"""WITH base AS (
                |  SELECT doc_id, string_split(text, ' the ') AS parts FROM documents
                |), p0 AS (
                |  SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i FROM base
                |), p AS (
                |  SELECT doc_id, CAST(i AS INTEGER) AS i,
                |    parts[CAST(i AS INTEGER)] AS part FROM p0
                |), n AS (
                |  SELECT doc_id, i, part, ${oracleNormExpr("part")} AS nm FROM p
                |), k AS (
                |  SELECT doc_id, i, part,
                |    (length(nm) = 0 OR
                |     row_number() OVER (PARTITION BY md5(nm) ORDER BY doc_id, i) = 1) AS keep
                |  FROM n
                |)
                |SELECT doc_id,
                |  coalesce(string_agg(part, ' the ' ORDER BY i) FILTER (WHERE keep), '')
                |    AS text_dedup,
                |  count(*) FILTER (WHERE keep) AS n_paras_kept,
                |  count(*) FILTER (WHERE NOT keep) AS n_paras_removed
                |FROM k GROUP BY doc_id""".stripMargin)),

    // incremental paragraph dedup (the daily-crawl shape): batch docs
    // (id >= 250) against the stored digest set of the accepted history
    // (id < 250) — history-seen segments drop, in-batch first occurrence
    // survives, blanks exempt
    QuerySpec("q_dedup_para_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.paragraphDedupIncrement(
        docs.filter(col("doc_id") >= 250),
        Dedup.paragraphDigests(docs.filter(col("doc_id") < 250), "text", " the "),
        "text", "doc_id", sep = " the ")
    },
      // incremental paragraph dedup: the batch oracle + a NOT IN against
      // the history's distinct digest set
      Oracle(s"""WITH hist AS (
                |  SELECT DISTINCT md5(nm) AS digest FROM (
                |    SELECT ${oracleNormExpr("part")} AS nm FROM (
                |      SELECT unnest(string_split(text, ' the ')) AS part
                |      FROM documents WHERE doc_id < 250))
                |  WHERE length(nm) > 0
                |), base AS (
                |  SELECT doc_id, string_split(text, ' the ') AS parts
                |  FROM documents WHERE doc_id >= 250
                |), p0 AS (
                |  SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i FROM base
                |), p AS (
                |  SELECT doc_id, CAST(i AS INTEGER) AS i,
                |    parts[CAST(i AS INTEGER)] AS part FROM p0
                |), n AS (
                |  SELECT doc_id, i, part, ${oracleNormExpr("part")} AS nm FROM p
                |), k AS (
                |  SELECT doc_id, i, part,
                |    (length(nm) = 0 OR
                |     (md5(nm) NOT IN (SELECT digest FROM hist) AND
                |      row_number() OVER (PARTITION BY md5(nm) ORDER BY doc_id, i) = 1)) AS keep
                |  FROM n
                |)
                |SELECT doc_id,
                |  coalesce(string_agg(part, ' the ' ORDER BY i) FILTER (WHERE keep), '')
                |    AS text_dedup,
                |  count(*) FILTER (WHERE keep) AS n_paras_kept,
                |  count(*) FILTER (WHERE NOT keep) AS n_paras_removed
                |FROM k GROUP BY doc_id""".stripMargin)),

    // D4-style diversification (Tirumala et al. 2023): drop the 25% most
    // prototypical vectors of each k-means cell, keep the diverse rest.
    // FULL ORACLE (upgraded from rows-only, round 11, the reshape
    // pattern): k-means cell ids are not SQL-expressible, but the
    // operator's CONTRACT given the cell assignment is — so the row runs
    // the real diversification pass and emits its verification against
    // the independent per-cell recomputation: the eligible-vector count
    // (anchors the row to the data; SQL-expressible as nonzero vectors),
    // whether every cell kept exactly n − min(ceil(0.25·n), n−1) rows,
    // and whether every dropped row is at least as prototypical as every
    // kept row in its cell. The same invariants stay spec-tested on
    // planted cells (DriverSuiteSpec "D4 diversification").
    QuerySpec("q_dedup_d4", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // shared pre-trained quantizer (ivfIndexFor): training is
      // deterministic, so the cached index equals an in-row retrain —
      // the row benches the diversification pass, not k-means
      val idx = ivfIndexFor(s, dir, nlist = 8)
      val pr = Dedup.prototypicality(emb, "embedding", "vec_id", idx)
      val kept = Dedup.diversify(emb, "embedding", "vec_id", idx, dropFraction = 0.25)
        .select(col("vec_id"), lit(1L).as("__kept"))
      val cells = pr.join(kept, Seq("vec_id"), "left")
        .select(col("cell"), col("proto"), coalesce(col("__kept"), lit(0L)).as("k"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("n_kept"),
          max(when(col("k") === 1L, col("proto"))).as("max_kept"),
          min(when(col("k") === 0L, col("proto"))).as("min_dropped"))
      cells.agg(
        sum(col("n")).as("n_vecs"),
        bool_and(col("n_kept") ===
          col("n") - least(ceil(col("n") * lit(0.25)).cast("long"), col("n") - 1L))
          .as("all_quota_ok"),
        bool_and(col("min_dropped").isNull || col("min_dropped") >= col("max_kept"))
          .as("all_ordering_ok"))
    },
      // the invariant reshape (round 11): the k-means cell ids are not
      // SQL-expressible, but the diversification CONTRACT given any cell
      // assignment is — the row emits its own per-cell verification
      // (quota exact, dropped-at-least-as-prototypical-as-kept) plus the
      // eligible-vector count that anchors it to the data
      Oracle("""SELECT count(*) AS n_vecs, TRUE AS all_quota_ok, TRUE AS all_ordering_ok
               |FROM (
               |  SELECT vec_id,
               |    list_sum(list_transform(embedding,
               |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
               |  FROM embeddings
               |) WHERE nsq > 0""".stripMargin)),

    // pair recall of within-cell pairs vs the exact truth restricted to
    // a 1-in-4 probe sample (same sampled-meter pattern as
    // q_dedup_embedding_recall) — what the cluster-boundary trade costs
    // at this config. CONTRACT: >= 0.6 at both correctness SFs
    // (DriverSuiteSpec "ANN recall floor")
    QuerySpec("q_dedup_semantic_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // the approximate side reuses the shared pre-trained quantizer
      // (identical output — training is deterministic; q_dedup_semantic
      // keeps the visible train+dedup lifecycle cost), so this row
      // benches the METER: sampled exact truth vs the celled pass
      Dedup.pairRecall(
        Dedup.exactCosinePairs(emb, "embedding", "vec_id", threshold = 0.45,
          probeOneIn = dedupProbeOneIn(s, dir)),
        Dedup.semanticDedupWithIndex(
          ivfIndexFor(s, dir, nlist = semanticCellsFor(s, dir)),
          emb, "embedding", "vec_id",
          threshold = 0.45, nProbe = semanticProbesFor(s, dir),
          maxCellSize = semanticMaxCellFor(s, dir)))
    },
      RowsOnly("recall meter over per-session k-means cells (DriverSuiteSpec holds it >= 0.6)")),

    // PCA-whitened SemDeDup: the composition the PCA operator exists
    // for — whiten (variance-one components, isotropic cosine), then
    // the same banded semantic dedup in the whitened space. The
    // whitened corpus is a Spark-computed frame (eigen basis → no SQL
    // mirror), so the row's honesty meter is the standard pair-recall
    // contract against exact cosine truth computed IN the same
    // whitened space (probeOneIn-sampled, the corpus-scale meter form)
    QuerySpec("q_dedup_semantic_white", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val m = pcaFor(s, dir, k = 8)
      val white = t(s, dir, "embeddings").select(col("vec_id"),
        ops.Embeddings.pcaProject(m, col("embedding"), whiten = true).as("w"))
      // whitened quantizer from the shared cache (whiteIvfFor): the row
      // benches whiten + celled dedup + the recall meter, not a k-means
      // retrain per invocation
      Dedup.pairRecall(
        Dedup.exactCosinePairs(white, "w", "vec_id", threshold = 0.6, probeOneIn = dedupProbeOneIn(s, dir)),
        Dedup.semanticDedupWithIndex(
          whiteIvfFor(s, dir, nlist = semanticCellsFor(s, dir)),
          white, "w", "vec_id",
          threshold = 0.6, nProbe = semanticProbesFor(s, dir),
          maxCellSize = semanticMaxCellFor(s, dir)))
    },
      RowsOnly("PCA eigenbasis: no SQL replay; the row carries its own pair-recall meter")),

    // steady-state SemDeDup: the quantizer is pre-trained, so this
    // measures the dedup pass itself — cell assignment + within-cell
    // pairs + exact verification — not the k-means build. FULL ORACLE
    // since round 12 at the correctness SFs: there the scale-aware cell
    // count is the fixture's 8, and the store is the COMMITTED checkpoint
    // (annFixtureDir scaladoc) — DuckDB reads the same saved centroids
    // and replays top-nProbe cell assignment, the within-cell self-join,
    // and the cosine ≥ 0.45 verification. Above the correctness SFs the
    // cell dial grows (semanticCellsFor — pinning 8 cells at sf1+ would
    // re-create the measured 113 s quadratic-cell blowup, SCALING_r9) and
    // the steady store is rebuilt per rung — the corpus-aware-config
    // treatment hardBandConfig's oracles established in round 11.
    QuerySpec("q_dedup_semantic_steady", (s, dir) => {
      val cells = semanticCellsFor(s, dir)
      val idx = if (cells == 8) fixedSemanticIvf(s)
        else ivfIndexFor(s, dir, nlist = cells)
      Dedup.semanticDedupWithIndex(idx,
        t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.45, nProbe = semanticProbesFor(s, dir),
        maxCellSize = semanticMaxCellFor(s, dir))
        .orderBy(col("id_a"), col("id_b"))
    },
      // SF-gated: the SQL replays the committed sem8 quantizer with nProbe = 2
      // and the 10k cell cap, which are the engine's configuration only where
      // semanticCellsFor picks 8 cells (the correctness SFs). Elsewhere the
      // oracle would be a certain false mismatch, so Verify leaves it out and
      // the row is checked rows-only.
      // steady-state SemDeDup under the COMMITTED 8-cell quantizer (the
      // correctness-SF configuration — see the query's scaladoc): top-2
      // cell assignment from the saved centroids (score DESC, cell DESC —
      // topCells' reverse(sort_array) tie), the inert-but-faithful 10k
      // cell guard, within-cell pairs, exact cosine ≥ 0.45
      Oracle(s"""WITH sem AS (
                |  SELECT cell, CAST(centroid AS DOUBLE[]) AS c,
                |         list_sum(list_transform(CAST(centroid AS DOUBLE[]), x -> x * x)) / 2.0 AS hn
                |  FROM read_parquet('$annFixtureDir/sem8/*.parquet')
                |), emb AS (
                |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
                |), celled0 AS (
                |  SELECT vec_id, cell FROM (
                |    SELECT emb.vec_id, sem.cell, row_number() OVER (
                |      PARTITION BY emb.vec_id
                |      ORDER BY list_dot_product(emb.e, sem.c) - sem.hn DESC, sem.cell DESC) AS rn
                |    FROM emb, sem
                |  ) WHERE rn <= 2
                |), celled AS (
                |  SELECT vec_id, cell FROM celled0
                |  QUALIFY count(*) OVER (PARTITION BY cell) <= 10000
                |)
                |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                |       round(list_dot_product(ea.e, eb.e)
                |         / (sqrt(list_dot_product(ea.e, ea.e)) * sqrt(list_dot_product(eb.e, eb.e))), 6) AS cosine
                |FROM celled a
                |JOIN celled b ON a.cell = b.cell AND a.vec_id < b.vec_id
                |JOIN emb ea ON ea.vec_id = a.vec_id
                |JOIN emb eb ON eb.vec_id = b.vec_id
                |WHERE list_dot_product(ea.e, eb.e)
                |  / (sqrt(list_dot_product(ea.e, ea.e)) * sqrt(list_dot_product(eb.e, eb.e))) >= 0.45""".stripMargin,
        applies = (s, dir) => semanticCellsFor(s, dir) == 8)),

    // latest-wins compaction: each user's newest event (CDC compaction)
    QuerySpec("q_dedup_compact_latest", (s, dir) =>
      Dedup.compactLatest(events(s, dir), "user_id", "ts", "event_id")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type")),
      // latest-wins compaction mirror: newest (µs-truncated ts, event_id)
      // per user — both engines rank on the SAME µs value, so sub-µs
      // ordering can't disagree with Spark's nanos→micros read
      Oracle("""SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
               |FROM events
               |QUALIFY row_number() OVER (
               |  PARTITION BY user_id
               |  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) = 1""".stripMargin)),

    // corpus algebra by content digest: which src0-4 docs exist verbatim
    // in the rest of the corpus, and the subtraction that removes them
    QuerySpec("q_dedup_content_intersect", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.intersectByContent(
        d.filter(col("source").isin("src0", "src1", "src2", "src3", "src4")),
        d.filter(!col("source").isin("src0", "src1", "src2", "src3", "src4")),
        "text").select(col("doc_id")).orderBy(col("doc_id"))
    },
      // content-digest set ops: IN / NOT IN over the normalized md5
      Oracle(s"""SELECT doc_id FROM documents
                |WHERE source IN ('src0','src1','src2','src3','src4')
                |  AND md5($oracleNorm) IN (
                |    SELECT md5($oracleNorm) FROM documents
                |    WHERE source NOT IN ('src0','src1','src2','src3','src4'))
                |ORDER BY doc_id""".stripMargin)),

    QuerySpec("q_dedup_content_except", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.exceptByContent(
        d.filter(col("source").isin("src0", "src1", "src2", "src3", "src4")),
        d.filter(!col("source").isin("src0", "src1", "src2", "src3", "src4")),
        "text").select(col("doc_id")).orderBy(col("doc_id"))
    },
      Oracle(s"""SELECT doc_id FROM documents
                |WHERE source IN ('src0','src1','src2','src3','src4')
                |  AND md5($oracleNorm) NOT IN (
                |    SELECT md5($oracleNorm) FROM documents
                |    WHERE source NOT IN ('src0','src1','src2','src3','src4'))
                |ORDER BY doc_id""".stripMargin)),

    // crawl-to-crawl snapshot diff: simulate the next crawl as ids >= 100
    // with every 7th document edited
    QuerySpec("q_dedup_snapshot_diff", (s, dir) => {
      val d = t(s, dir, "documents")
      val prev = d.filter(col("doc_id") < 400)
      val next = d.filter(col("doc_id") >= 100)
        .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" edited v2"))).otherwise(col("text")))
      Dedup.snapshotDiff(prev, next, "doc_id", "text").orderBy(col("doc_id"))
    },
      // snapshot diff: both sides reduce to (id, normalized-content md5),
      // FULL JOIN on id, status by digest compare
      Oracle(s"""WITH prev AS (
                |  SELECT doc_id, md5($oracleNorm) AS h FROM documents WHERE doc_id < 400
                |), next AS (
                |  SELECT doc_id, md5(${oracleNormExpr(
                      "CASE WHEN doc_id % 7 = 0 THEN text || ' edited v2' ELSE text END")}) AS h
                |  FROM documents WHERE doc_id >= 100
                |)
                |SELECT doc_id, status FROM (
                |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                |    CASE WHEN o.h IS NULL THEN 'added'
                |         WHEN n.h IS NULL THEN 'removed'
                |         WHEN o.h <> n.h THEN 'changed'
                |         ELSE 'unchanged' END AS status
                |  FROM prev o FULL JOIN next n ON o.doc_id = n.doc_id
                |) WHERE status <> 'unchanged'
                |ORDER BY doc_id""".stripMargin)),

    // cross-source duplication matrix (distinct shared content per pair)
    QuerySpec("q_dedup_source_overlap", (s, dir) =>
      ops.Dedup.crossSourceOverlap(t(s, dir, "documents"), "text", "source"),
      Oracle(s"""WITH h AS (
                |  SELECT DISTINCT source AS src, md5($oracleNorm) AS ch FROM documents
                |)
                |SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
                |FROM h a JOIN h b ON a.ch = b.ch AND a.src <= b.src
                |GROUP BY 1, 2""".stripMargin)),

    // the same matrix in its 100 TB configuration: per-source HLL
    // sketches + inclusion–exclusion, digests never shuffle. Sketch
    // estimates by contract → rows-only; every pair's error vs the
    // exact twin is contracted within its own emitted err_bound
    // (DriverSuiteSpec "approx source overlap")
    QuerySpec("q_dedup_source_overlap_approx", (s, dir) =>
      ops.Dedup.crossSourceOverlapApprox(t(s, dir, "documents"), "text", "source"),
      RowsOnly("HLL sketch estimates; DriverSuiteSpec bounds each pair by its err_bound")),

    // exact dedup with the provenance audit trail: which sources held
    // copies of each surviving representative, and how many
    QuerySpec("q_dedup_provenance", (s, dir) =>
      Dedup.exactKeepFirstWithProvenance(t(s, dir, "documents"),
        "text", "doc_id", "source")
        .select(col("doc_id"), col("n_copies"), col("sources")),
      // provenance dedup: keep-first QUALIFY + per-digest count and the
      // sorted distinct source list (canonicalized to a joined string on
      // both sides)
      Oracle(s"""WITH k AS (
                |  SELECT doc_id, source, md5($oracleNorm) AS dg,
                |    row_number() OVER (PARTITION BY md5($oracleNorm) ORDER BY doc_id) AS rn
                |  FROM documents
                |), s AS (
                |  SELECT dg, CAST(count(*) AS BIGINT) AS n_copies,
                |    -- an all-NULL-source group: Spark's array_join over the empty
                |    -- set is '', DuckDB's string_agg is NULL — coalesce to match
                |    coalesce(string_agg(DISTINCT source, ',' ORDER BY source), '')
                |      AS sources
                |  FROM k GROUP BY dg
                |)
                |SELECT doc_id, n_copies, sources FROM k JOIN s USING (dg) WHERE rn = 1""".stripMargin)),
  )
}
