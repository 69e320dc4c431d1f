package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Sample, Similarity, TextOps}

/** Driver contract — see SURVEY.md §2.3 for the operator inventory; every
  * inventory row has a `queries` entry here, plus the training-data
  * pipeline operators (dedup / similarity / text analysis / multimodal).
  *
  * Oracle notes:
  *  - the driver sorts columns by name and hash-compares values, so every
  *    computed column is aliased identically in the Spark plan and the SQL;
  *  - double aggregates whose inputs are not integer-valued are rounded on
  *    both sides (float summation order differs between engines);
  *  - operators whose *signatures* are xxhash64-based (MinHash/SRP) have
  *    no DuckDB hash equivalent, but the MinHash near-dup family is
  *    oracle-checked anyway against all-pairs exact Jaccard; SimHash's
  *    token hash is md5-derived precisely so DuckDB can recompute the
  *    full sketch (see oracleSimHash). The only rows-only queries left
  *    are the genuinely approximate ANN ones (SRP-LSH / IVF), verified
  *    by recall meters and unit tests instead.
  */
object SparkEntry {

  /** The pinned session posture every graft entrypoint (Bench, Verify,
    * a spark-submit run — see CLUSTER.md) builds with, so the driver's
    * local[32] runs and a real multi-executor cluster agree on the
    * execution-model assumptions the operators make:
    *
    *  - **AQE on, skew-join handling on**: the as-of join
    *    (`ops/Joins.scala`), sessionization, and hot-key groupBys tolerate
    *    zipfian keys because AQE splits skewed *join* partitions at
    *    runtime. (AQE never splits skewed *aggregation* keys — that is
    *    what `Stats.saltedAgg` exists for.)
    *  - **AQE partition coalescing on**: banded LSH candidate joins
    *    (MinHash / SimHash / SRP buckets, IVF cells) produce many
    *    near-empty post-shuffle partitions once the bucket guard drops
    *    degenerate buckets; coalescing folds them away instead of
    *    scheduling thousands of empty tasks at cluster scale.
    *  - **shuffle partitions = core count locally** (the container is one
    *    JVM; 200 four-row tasks would be pure scheduling overhead). At
    *    cluster scale set `SPARK_GRAFT_SHUFFLE_PARTITIONS` to ~2-3× total
    *    executor cores and let AQE coalesce down per stage.
    *  - **UTC session timezone**: the events oracle and all timestamp
    *    rendering assume it (see `streaming/EventStream.scala` scaladoc on
    *    the session-config side effect).
    *  - the codegen confs of [[pinnedCodegenConfs]].
    */
  def pinnedConfs(shufflePartitions: Int): Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // Scan-split sizing: Spark's split size is
    // min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism)),
    // so the DEFAULT 4 MiB open cost floors every sub-130 MiB table at a
    // handful of tasks — a single-file 23 MiB documents table scans as ONE
    // task and everything computed in the scan stage (tokenize, sketch,
    // SRP projections) serializes on one core. A 128 KiB open cost lets
    // small-to-mid tables split down to totalBytes/cores while changing
    // NOTHING at warehouse scale, where totalBytes/cores >> maxPartitionBytes
    // and the 128 MiB cap rules. (Splits land on row-group boundaries —
    // the data layout must provide them; Datagen writes 512 KiB groups.)
    "spark.sql.files.openCostInBytes" -> (128 * 1024).toString,
    // Broadcast sizing: the candidate→vector re-joins behind every banded
    // pair operator stream CANDIDATE-sized frames (up to billions of rows)
    // against the byte-small (id, vec) corpus side. Spark's default 10 MiB
    // threshold stops broadcasting that side at ~40k 64-dim vectors, and
    // the planner then SORTS the candidate side for a merge join —
    // measured at the generated sf10 rung (200k vectors, 51 MiB side):
    // 1.6B candidate rows spilled the disk to death. 256 MiB broadcasts
    // the small side across the realistic single-box range and is
    // comfortably inside the 16 GiB-per-executor posture (CLUSTER.md);
    // corpora whose (id, vec) projection exceeds 256 MiB are the regime
    // where candidate-sized exchanges are genuinely unavoidable and
    // executor sizing must own the trade.
    "spark.sql.autoBroadcastJoinThreshold" -> (256 * 1024 * 1024).toString,
  ) ++ pinnedCodegenConfs

  /** The codegen confs of [[pinnedConfs]], which the test suite's shared
    * session is built with too. The cache size is STATIC: the first
    * session of a JVM fixes it, so it takes effect only when [[session]]
    * builds that JVM's first session, as it does for Bench, Verify and the
    * benchmark (`ifritbench/`).
    *
    *  - **Codegen class cache, 4000 entries.** Spark keeps Janino-compiled
    *    whole-stage and expression classes in ONE JVM-wide LRU, sized once
    *    when the JVM first generates code (default 100). A cyclic working
    *    set larger than an LRU never hits, and the operators' sets are far
    *    larger: one benchmark `spark` run compiles 307 distinct classes
    *    (282 in its first pass: 54 for the 10 dialect statements, 228 for
    *    the 8 curation operators), and Bench's full sf0.1 surface 1,999. At
    *    100 entries every pass recompiled ~300 classes (~4 s of Janino per
    *    pass); at 4000, ≥ 2× the larger set, no class is compiled twice
    *    (CodegenCacheSpec pins it). The cached classes live in
    *    Metaspace: 163-169 MB over a benchmark run at either size, 216 MB
    *    after Bench's full surface at 4000.
    *  - **No stage id in a generated class's name.** The cache is keyed by
    *    the class source, and by default the whole-stage class is named
    *    after its codegen stage id. Under AQE the ids follow the order in
    *    which query stages finish and are re-planned, so the same stage
    *    can be numbered differently from run to run: its source differs
    *    only in the name and misses the cache (4 of 146 classes compiled
    *    again in a failing CodegenCacheSpec run, all connected-components
    *    stages whose dumped sources differed only in that id).
    */
  val pinnedCodegenConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.codegen.useIdInClassName" -> "false",
  )

  /** Build the session all entrypoints share. The master is whatever
    * spark-submit provided (`spark.master` arrives as a system property);
    * only when absent — the sbt-run local case — does it default to
    * `local[cores]` with the UI off. [[pinnedConfs]] are applied in both
    * modes, so `spark-submit --conf` overrides of OTHER settings compose
    * while the posture above stays pinned.
    */
  def session(appName: String): SparkSession =
    session(appName, sys.env.get("SPARK_GRAFT_WAREHOUSE"))

  /** As [[session]], with an optional DURABLE catalog root: when
    * `warehouse` is set (explicitly or via `SPARK_GRAFT_WAREHOUSE`), the
    * session runs Hive catalog support with a derby metastore under
    * `<warehouse>/metastore_db` and table data under
    * `<warehouse>/warehouse` — so `GraftSource.writeBucketed`'s
    * pay-the-layout-shuffle-once promise survives the session: a LATER
    * JVM pointed at the same root sees the bucketed-table metadata and
    * plans the zero-exchange join (SourcesSpec proves this with a real
    * two-JVM round trip). Without it the default in-memory catalog
    * applies and bucket metadata dies with the JVM (data files, being
    * external, survive either way). Derby is single-process — on a real
    * cluster point `javax.jdo.option.ConnectionURL` at a shared
    * metastore service instead (CLUSTER.md).
    */
  def session(appName: String, warehouse: Option[String]): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus).toInt
    val b0 = SparkSession.builder().appName(appName)
    val b1 =
      if (sys.props.contains("spark.master")) b0
      else b0.master(s"local[$cpus]").config("spark.ui.enabled", "false")
    val b2 = warehouse.fold(b1) { dir =>
      b1.enableHiveSupport()
        .config("spark.sql.warehouse.dir", s"$dir/warehouse")
        .config("javax.jdo.option.ConnectionURL",
          s"jdbc:derby:;databaseName=$dir/metastore_db;create=true")
    }
    pinnedConfs(shuffle).foldLeft(b2) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
  }

  /** The memo: what queries read but should not rebuild per call — base
    * table scans, corpus counts, trained models, committed fixtures and
    * stores written from a test-data directory — in ONE map under one key
    * shape, [[MemoKey]]: kind, dir or fixture path, params, and a session
    * scope set only for entries that hold a `DataFrame`.
    *
    *  - Scans ([[t]]): `read.parquet` builds a fresh file index (directory
    *    listing) and re-reads the parquet footer on EVERY call, a cost every
    *    query construction paid in every bench rep (ProbeConstruct r14:
    *    ~0.1 s per query across the 200-row tail). The entry is the analyzed
    *    scan, never data (no `.cache()`).
    *  - Models, counts, fixtures: deterministic in their inputs, so the
    *    memoized value equals any rebuild (each helper says why it is kept).
    *  - Stores ([[storeFor]]): directories the memo writes under the JVM
    *    temp dir and owns.
    *
    * One routine, [[evict]], drops entries, deleting the directory of any
    * store among them. A scan references its session through
    * `queryExecution`, so scoped entries leave with their session: on the
    * next scoped access, those of a stopped session and those of the
    * session pushed out past [[MaxMemoSessions]] live sessions (a
    * bench/verify JVM uses one; suites rotate through). [[clearTableMemo]]
    * drops everything; JVM exit deletes the stores still held.
    *
    * An entry pins what its first build saw. Test-data directories are
    * write-once, so a JVM that regenerates one must call [[clearTableMemo]]
    * (`spark.catalog.refreshByPath` cannot see this private memo;
    * [[TestdataSpec]] pins the rule for a scan, a model and a store).
    */
  private final case class MemoKey(
      kind: String, path: String, params: Any = (), scope: Option[SparkSession] = None)

  /** Built on first `get`, outside the map's bin lock: builders nest
    * ([[whiteIvfFor]] trains on [[pcaFor]]'s model; nearly every builder
    * scans through [[t]]), and a nested `computeIfAbsent` on one
    * `ConcurrentHashMap` can throw "Recursive update". A build that throws
    * leaves the entry unbuilt, so the next `get` retries.
    */
  private final class Entry(build: () => Any) {
    @volatile private var built: Option[Any] = None
    def get: Any = synchronized { built.getOrElse { val v = build(); built = Some(v); v } }
    def store: Option[String] = built.collect { case Store(dir) => dir }
  }
  private final case class Store(dir: String)

  private val MaxMemoSessions = 4
  private val memo = new java.util.concurrent.ConcurrentHashMap[MemoKey, Entry]()
  private var memoSessions: List[SparkSession] = Nil // most recent first
  sys.addShutdownHook(evict(_ => true))

  private def memoized[V](key: MemoKey)(build: => V): V = {
    key.scope.foreach(touch)
    memo.computeIfAbsent(key, _ => new Entry(() => build)).get.asInstanceOf[V]
  }

  private def evict(drop: MemoKey => Boolean): Unit = {
    val it = memo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (drop(e.getKey)) { it.remove(); e.getValue.store.foreach(deleteDir) }
    }
  }

  private def touch(s: SparkSession): Unit = memo.synchronized {
    val (live, stopped) =
      (s :: memoSessions.filterNot(_ eq s)).partition(!_.sparkContext.isStopped)
    memoSessions = live.take(MaxMemoSessions)
    val out = stopped ++ live.drop(MaxMemoSessions)
    if (out.nonEmpty) evict(_.scope.exists(x => out.exists(_ eq x)))
  }

  private def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  /** Drop every memo entry and delete the stores it wrote: the escape hatch
    * for a JVM that regenerates test-data directories.
    */
  private[graft] def clearTableMemo(): Unit = evict(_ => true)

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    memoized(MemoKey("scan", path, scope = Some(s)))(s.read.parquet(path))
  }

  /** The store of `kind` for `dir`: `write` fills a fresh `graft-<kind>-`
    * temp directory once.
    */
  private def storeFor(kind: String, dir: String)(write: String => Unit): String =
    memoized(MemoKey(kind, dir)) {
      val store = java.nio.file.Files.createTempDirectory(s"graft-$kind-").toString
      try write(store) catch { case e: Throwable => deleteDir(store); throw e }
      Store(store)
    }.dir

  /** Probe-sampling rates for the recall METERS, scale-aware above the
    * two driver correctness SFs. At sf0.01/sf0.1 (200 / 2,000 vectors)
    * these return the historical constants — 4 for the dedup pair-recall
    * meters, 25 for the ANN recall@k meters — so the RECALL artifacts
    * stay bit-comparable round over round. Above that the rate grows
    * linearly with the corpus, which PLATEAUS the probe COUNT (~500
    * dedup probes, ~80 ANN probes): the exact-truth side of a meter
    * costs |probes| × |corpus|, so a fixed rate would make the meter
    * quadratic in corpus size (measured: ~100 s rows at the generated
    * sf1's 20k vectors) while a plateaued count keeps it corpus-linear
    * with unchanged statistical power — the "pick oneIn so the sample
    * stays audit-sized" guidance, now automatic.
    */
  private def nVecs(s: SparkSession, dir: String): Long =
    memoized(MemoKey("count", s"$dir/embeddings"))(t(s, dir, "embeddings").count())
  private def nDocs(s: SparkSession, dir: String): Long =
    memoized(MemoKey("count", s"$dir/documents"))(t(s, dir, "documents").count())
  private def dedupProbeOneIn(s: SparkSession, dir: String): Int =
    math.max(4L, nVecs(s, dir) / 500L).toInt
  private def simProbeOneIn(s: SparkSession, dir: String): Int =
    math.max(25L, nVecs(s, dir) / 80L).toInt

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
  /** Banded hard-miner config, solved by [[ops.Similarity.hardBandConfig]]
    * at the rows' band edge (cosine 0.25). (4, 16) at the correctness SFs
    * AND at the generated sf1 (the solver's floors — artifacts there
    * unchanged); (6, 36) at the generated sf10, where the fixed (4, 16)
    * config starved the bucket guard (12.5k expected fill vs the 10k cap)
    * and recall collapsed to 0.17/0.15 — see the solver's scaladoc.
    */
  private def hardBandFor(s: SparkSession, dir: String): (Int, Int) =
    ops.Similarity.hardBandConfig(nVecs(s, dir), edgeCos = 0.25)

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

  /** Dialect query against a table's own (closed-world) schema. */
  private def q(df: DataFrame, sql: String): DataFrame = Compiler.queryOrThrow(df, sql)

  /** Dialect query with graft's extensions (SELECT DISTINCT) enabled. */
  private def qx(df: DataFrame, sql: String): DataFrame =
    Compiler.queryOrThrow(df, sql, extensions = true)

  /** Flagship query on sf=0.001: grouped revenue aggregate through the
    * full compile → analyze → plan pipeline.
    */
  def entry(spark: SparkSession): DataFrame =
    q(t(spark, "/root/testdata/sf0.001", "lineitem"),
      "SELECT AVG(l_quantity) AS avg_qty, SUM(l_extendedprice) AS sum_price, COUNT(l_orderkey) GROUP BY l_returnflag")

  /** The events table's `ts` column has shipped in two physical forms
    * across testdata generations: nanosecond int64 (which Spark's parquet
    * reader rejects without `nanosAsLong`) and plain `timestamp[us]`.
    * `EventStream.normalizeTs` branches on the decoded type so either
    * generation loads — shared with the streaming source for batch/stream
    * parity.
    */
  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    streaming.EventStream.readEventsBatch(s, s"$dir/events.parquet")

  /** lineitem with a derived boolean column (the dialect needs one for the
    * bare-field predicate F5; TPC-H has no native booleans).
    */
  private def lineitemFlagged(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").withColumn("is_return", col("l_returnflag") === "R")

  /** lineitem rolled into an array-of-structs per order — the document
    * shape the reference's per-row array reductions (P3/P6/P7) act on.
    */
  private def lineitemNested(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_quantity").as("qty"))).as("items"))

  /** IVF index trained once per (sf dir, nlist) and reused — the
    * production shape: the index build is decoupled from search, so the
    * steady-state query (`q_sim_ivf_search`) measures search cost only.
    * Training is deterministic (seeded sample + seeded k-means), so the
    * cached index equals what any invocation would train.
    */
  private def ivfIndexFor(s: SparkSession, dir: String, nlist: Int): ops.Similarity.IvfIndex =
    memoized(MemoKey("ivf", dir, nlist))(
      ops.Similarity.trainIvf(t(s, dir, "embeddings"), "embedding", "vec_id", nlist))

  /** IVF quantizer over the PCA-whitened top-8 projection, trained once
    * per (sf dir, nlist) — the whitened sibling of [[ivfIndexFor]], so
    * the whitened-SemDeDup row benches the composition's dedup pass
    * rather than a per-row k-means retrain.
    */
  private def whiteIvfFor(s: SparkSession, dir: String, nlist: Int): ops.Similarity.IvfIndex =
    memoized(MemoKey("white-ivf", dir, nlist)) {
      graft.functions.GraftFunctions.register(s)
      val m = pcaFor(s, dir, k = 8)
      val white = t(s, dir, "embeddings").select(col("vec_id"),
        ops.Embeddings.pcaProject(m, col("embedding"), whiten = true).as("w"))
      ops.Similarity.trainIvf(white, "w", "vec_id", nlist)
    }

  private def pqFor(s: SparkSession, dir: String, m: Int, ksub: Int): ops.Similarity.PqCodebooks =
    memoized(MemoKey("pq", dir, (m, ksub)))(
      ops.Similarity.trainPq(t(s, dir, "embeddings"), "embedding", "vec_id", m, ksub))

  private def sqFor(s: SparkSession, dir: String, normalize: Boolean): ops.Similarity.SqParams =
    memoized(MemoKey("sq", dir, normalize))(
      ops.Similarity.trainSq(t(s, dir, "embeddings"), "embedding", normalize))

  /** COMMITTED ANN index fixtures — the model-checkpoint lifecycle
    * (`q_bpe_apply_fixed`'s pattern applied to the ANN searches): the IVF
    * centroids and PQ codebooks were trained ONCE (`graft.tools
    * .AnnFixtures`, on /root/testdata/sf0.1), written by the production
    * `saveIvf`/`savePq` writers, and committed to the repo. Search under
    * a committed index is deterministic end to end — cell assignment,
    * ADC lookups, the rerank×k cut, the exact re-rank are all pure
    * functions of (corpus, fixture) — so the DuckDB oracle reads the SAME
    * parquet (`read_parquet` on [[annFixtureDir]]) and replays the whole
    * pipeline, where per-session k-means training (aggregation-order-
    * sensitive across physical layouts, `trainIvf`'s documented
    * determinism scope) was rows-only forever. Training itself stays
    * driver-visible through `q_sim_ivf_topk` (train+search fused).
    * A quantizer is corpus-independent at search time — training on one
    * rung and searching another is the production shape (train on a
    * sample, search everything); the recall meters below measure what
    * that costs, and DriverSuiteSpec holds them ≥ 0.6 at both SFs.
    */
  private[graft] val annFixtureDir: String =
    sys.env.getOrElse("SPARK_GRAFT_FIXTURES", "/root/repo/fixtures") + "/ann"
  private def fixedIvf(s: SparkSession): ops.Similarity.IvfIndex =
    memoized(MemoKey("fixture", s"$annFixtureDir/ivf16"))(
      ops.Similarity.loadIvf(s, s"$annFixtureDir/ivf16"))
  private def fixedPq(s: SparkSession): ops.Similarity.PqCodebooks =
    memoized(MemoKey("fixture", s"$annFixtureDir/pq16x16")) {
      val cb = ops.Similarity.loadPq(s, s"$annFixtureDir/pq16x16")
      // the PQ oracle SQL (oracleAnnPqCodes) hardcodes dsub = 4 in its
      // list_slice arithmetic — a regenerated fixture with different
      // dim/m would silently desync the oracle slicing from cb.dsub, so
      // the contract is pinned HERE, where the committed fixture loads
      require(cb.dim == 64 && cb.m == 16,
        s"fixtures/ann/pq16x16 must stay dim=64 m=16 (dsub=4): the committed oracle " +
          s"SQL slices at dsub=4; got dim=${cb.dim} m=${cb.m}. Regenerate the oracle " +
          "(oracleAnnPqCodes) together with the fixture, or restore the fixture.")
      cb
    }
  private def fixedSemanticIvf(s: SparkSession): ops.Similarity.IvfIndex =
    memoized(MemoKey("fixture", s"$annFixtureDir/sem8"))(
      ops.Similarity.loadIvf(s, s"$annFixtureDir/sem8"))

  /** Incremental-clustering store, written once per sf dir — the
    * production history refresh: prior component labels (the star
    * compression [[ops.Dedup.connectedComponentsIncrement]] merges
    * against) and the history's MinHash signature table, both parquet.
    * Each day's batch then pays ONLY load + batch signatures + banded
    * incremental pairs + star merge — cost ∝ |prior nodes| + |new
    * pairs|, independent of the historical edge count. The
    * `q_dedup_components_incr` row keeps proving incremental ≡ full by
    * paying both sides in one query; `q_dedup_components_incr_steady`
    * benches what production actually pays.
    */
  private def ccStoreFor(s: SparkSession, dir: String): String =
    storeFor("cc-store", dir) { store =>
      val hist = t(s, dir, "documents").filter(col("doc_id") < 250)
      ops.Dedup.minHashSignatures(hist, "text", "doc_id", numHashes = 128)
        .write.mode("overwrite").parquet(s"$store/signatures")
      ops.Dedup.connectedComponents(
          ops.Dedup.minHashNearDups(hist, "text", "doc_id",
            numHashes = 128, bands = 32, threshold = 0.5),
          hist.select(col("doc_id").as("id")))
        .write.mode("overwrite").parquet(s"$store/labels")
    }

  /** Deterministic page shell around each document's text: title,
    * style/script elements (with a bare `<` inside the script — why the
    * element rule runs before tag stripping), comment, nav boilerplate,
    * and the common entities. SQL-mirrorable for the extraction oracle.
    */
  private def syntheticHtml: Column = concat(
    lit("<!DOCTYPE html><html><head><title>Doc "), col("doc_id"),
    lit("</title><style>body{color:#000}</style>" +
      "<script type=\"text/javascript\">var x = 1 < 2;</script></head>" +
      "<body><!-- nav boilerplate --><div class=\"nav\">Home &amp; About</div><h1>Doc "),
    col("doc_id"),
    lit("</h1><p>"), col("text"),
    lit("</p><p>Footer &copy; 2024&nbsp;Example &lt;inc&gt;</p></body></html>"))

  /** Deterministic messy-URL synthesis for the canonicalization rows:
    * mixed-case scheme/host, default ports, empty paths, tracking
    * params in varying order, fragments — every rule of
    * [[ops.TextOps.canonicalUrl]] exercised, SQL-mirrorable.
    */
  private def messyUrl: Column = {
    val host = element_at(array(lit("Example.COM"), lit("WWW.News-Site.ORG"),
      lit("Docs.Example.COM"), lit("example.com")),
      (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
    val scheme = when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTPS")).otherwise(lit("http"))
    val port = when(pmod(col("doc_id"), lit(3)) === 0,
      when(pmod(col("doc_id"), lit(2)) === 0, lit(":443")).otherwise(lit(":80")))
      .otherwise(lit(""))
    val path = when(pmod(col("doc_id"), lit(5)) === 0, lit(""))
      .otherwise(concat(lit("/Articles/"), col("doc_id")))
    val query = element_at(array(lit("?utm_source=feed&b=2&a=1"),
      lit("?z=9&a=1&utm_campaign=x"), lit("?gclid=abc"), lit(""), lit("?b=2&a=1")),
      (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
    val frag = when(pmod(col("doc_id"), lit(2)) === 1, lit("#section-2")).otherwise(lit(""))
    concat(scheme, lit("://"), host, port, path, query, frag)
  }

  /** WARC fixture, serialized once per sf dir: the documents table as
    * real multi-file ISO 28500 WARC conversion records (4 files, so the
    * read-back exercises the parallel multi-file scan). Deterministic
    * and SQL-expressible, so the DuckDB oracle can rebuild the identical
    * record strings and re-parse them.
    */
  private def warcStoreFor(s: SparkSession, dir: String): String =
    storeFor("warc", dir) { store =>
      t(s, dir, "documents").select(
          sources.GraftSource.warcRecord(
            lit("conversion"),
            concat(lit("https://example.org/doc/"), col("doc_id")),
            concat(lit("2024-01-"),
              lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0"),
              lit("T00:00:00Z")),
            lit("text/plain"),
            col("text")).as("value"))
        .repartition(4)
        .write.mode("overwrite").option("lineSep", "\r\n").text(s"$store/wet")
    }

  /** [[messyUrl]] with the path ALWAYS present (`/Articles/{doc_id}`):
    * the e2e crawl fixture needs the document id recoverable from every
    * record's URL, while keeping the case/port/params/fragment mess that
    * exercises canonicalization.
    */
  private def e2eUrl: Column = {
    val host = element_at(array(lit("Example.COM"), lit("WWW.News-Site.ORG"),
      lit("Docs.Example.COM"), lit("example.com")),
      (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
    val scheme = when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTPS")).otherwise(lit("http"))
    val port = when(pmod(col("doc_id"), lit(3)) === 0,
      when(pmod(col("doc_id"), lit(2)) === 0, lit(":443")).otherwise(lit(":80")))
      .otherwise(lit(""))
    val query = element_at(array(lit("?utm_source=feed&b=2&a=1"),
      lit("?z=9&a=1&utm_campaign=x"), lit("?gclid=abc"), lit(""), lit("?b=2&a=1")),
      (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
    val frag = when(pmod(col("doc_id"), lit(2)) === 1, lit("#section-2")).otherwise(lit(""))
    concat(scheme, lit("://"), host, port, lit("/Articles/"), col("doc_id"), query, frag)
  }

  /** The SQL mirror of [[e2eUrl]] (== oracleMessyUrl minus the
    * empty-path case).
    */
  private val oracleE2eUrl: String =
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END || '://' || " +
      "CASE doc_id % 4 WHEN 0 THEN 'Example.COM' WHEN 1 THEN 'WWW.News-Site.ORG' " +
      "WHEN 2 THEN 'Docs.Example.COM' ELSE 'example.com' END || " +
      "CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ELSE '' END || " +
      "'/Articles/' || doc_id || " +
      "CASE doc_id % 5 WHEN 0 THEN '?utm_source=feed&b=2&a=1' WHEN 1 THEN '?z=9&a=1&utm_campaign=x' " +
      "WHEN 2 THEN '?gclid=abc' WHEN 3 THEN '' ELSE '?b=2&a=1' END || " +
      "CASE WHEN doc_id % 2 = 1 THEN '#section-2' ELSE '' END)"

  /** Crawl-shaped WARC fixture for the e2e flagship, serialized once per
    * sf dir: each document wrapped in the [[syntheticHtml]] page (title,
    * nav, h1, body paragraph, footer — the q_text_html_extract fixture)
    * and written as a `response`-type WARC record at its [[e2eUrl]], in
    * 4 files so the read-back is the parallel multi-file scan.
    * Deterministic and SQL-expressible end to end, so the e2e oracle
    * rebuilds the identical record strings and replays the ENTIRE
    * ingest chain from them.
    */
  private def warcHtmlStoreFor(s: SparkSession, dir: String): String =
    storeFor("warc-html", dir) { store =>
      t(s, dir, "documents").select(
          sources.GraftSource.warcRecord(
            lit("response"),
            e2eUrl,
            lit("2024-05-01T00:00:00Z"),
            lit("text/html"),
            syntheticHtml).as("value"))
        .repartition(4)
        .write.mode("overwrite").option("lineSep", "\r\n").text(s"$store/html")
    }

  /** Z-ordered events layout, written once per sf dir: the events table
    * (with `ts` lifted to epoch-micros `ts_us`) Morton-clustered on
    * `(user_id, ts_us)` with its pruning manifest
    * ([[sources.Layout.writeZOrderedWithManifest]]) — the
    * pay-the-layout-once store the `q_layout_prune` row reads through
    * the manifest. Deterministic content (layout file boundaries are
    * not, which is why the oracle checks the READ result, not files).
    */
  private def zStoreFor(s: SparkSession, dir: String): String =
    storeFor("zstore", dir) { store =>
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      sources.Layout.writeZOrderedWithManifest(ev, s"$store/events_z",
        Seq("user_id", "ts_us"), bits = 8, numFiles = 32)
    }

  /** The DuckDB mirror of [[sources.Layout.zValue]]'s bit interleave for
    * two dims: disjoint powers of two, so `+` is exactly the bitwise OR
    * the Spark side computes with shifts.
    */
  private def zInterleaveSql(iu: String, it: String, bits: Int): String =
    (0 until bits).flatMap(b => Seq(
      s"((($iu >> $b) & 1) * ${1L << (2 * b)})",
      s"((($it >> $b) & 1) * ${1L << (2 * b + 1)})")).mkString(" + ")

  /** Logistic model (weights + bias) trained once per sf dir — the
    * [[ivfIndexFor]] lifecycle: `q_text_lr_weights` pays the visible
    * 16-epoch training cost, the score/auc rows load the memoized model
    * and measure scoring. Training is deterministic (zero init, fixed
    * epochs, integer-exact gradient sums), so the cached model equals
    * what any invocation would train.
    */
  private def lrModelFor(s: SparkSession, dir: String): (Array[Int], Double) =
    memoized(MemoKey("lr", dir)) {
      graft.functions.GraftFunctions.register(s)
      val rows = ops.Embeddings.trainLogisticWeights(
        t(s, dir, "documents"), "text", col("lang") === "en").collect()
      val w = new Array[Int](64)
      var bq = 0
      rows.foreach(r =>
        if (r.getInt(0) >= 0) w(r.getInt(0)) = r.getInt(1) else bq = r.getInt(1))
      (w, bq / 1048576.0)
    }

  /** PCA basis trained once per (sf dir, k) — deterministic (one-pass
    * moments + cyclic Jacobi), so the cached model equals any retrain.
    */
  private def pcaFor(s: SparkSession, dir: String, k: Int): ops.Embeddings.PcaModel =
    memoized(MemoKey("pca", dir, k))(
      ops.Embeddings.trainPca(t(s, dir, "embeddings"), "embedding", "vec_id", k))

  /** COMMITTED 24-merge BPE table: trained ONCE by `Bpe.trainBpe` on the
    * sf0.01 documents corpus, then frozen here — the checked-in-artifact
    * lifecycle of a production tokenizer (training evolves; the shipped
    * model is a constant). Because it came from `trainBpe`, it satisfies
    * the trained-table invariant (no pair ranked before the merge that
    * creates its symbols), so the greedy min-rank application is exactly
    * the rank-order replay — the property `q_bpe_apply_fixed`'s DuckDB
    * oracle exercises.
    */
  private val fixedBpeMerges: Seq[ops.Bpe.Merge] = Seq(
    (0, "e", "r"), (1, "i", "n"), (2, "o", "w"), (3, "o", "r"),
    (4, "s", "t"), (5, "m", "er"), (6, "a", "t"), (7, "l", "u"),
    (8, "a", "r"), (9, "p", "ar"), (10, "j", "o"), (11, "jo", "in"),
    (12, "a", "s"), (13, "as", "h"), (14, "h", "ash"), (15, "r", "ow"),
    (16, "at", "c"), (17, "atc", "h"), (18, "b", "atch"), (19, "a", "n"),
    (20, "c", "an"), (21, "s", "can"), (22, "c", "o"), (23, "c", "u"),
  ).map { case (r, a, b) => ops.Bpe.Merge(r, a, b) }

  private def bpeFor(s: SparkSession, dir: String, n: Int): Seq[ops.Bpe.Merge] =
    memoized(MemoKey("bpe", dir, n))(
      ops.Bpe.trainBpe(t(s, dir, "documents"), "text", numMerges = n))

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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- parity operators (SURVEY.md §2.3), via the dialect compiler ----
    "q_p1_project" -> ((s, dir) =>
      q(t(s, dir, "lineitem"), "SELECT l_orderkey, l_quantity AS qty, l_returnflag")),

    // dialect extension (the reference's own roadmap item): SELECT DISTINCT
    "q_p1_distinct" -> ((s, dir) =>
      qx(t(s, dir, "lineitem"), "SELECT DISTINCT l_returnflag, l_linestatus")),

    // dialect extension (reference roadmap): SELECT * — static expansion
    // against the closed-world schema, combined with the >= extension
    "q_p1_star" -> ((s, dir) =>
      qx(t(s, dir, "nation"), "SELECT * WHERE n_regionkey >= 2")),

    // dialect extension (reference roadmap): arithmetic in projections —
    // all-double IEEE ops, identical association both engines, so the
    // values hash-match without rounding
    "q_p1_arith" -> ((s, dir) =>
      qx(t(s, dir, "lineitem"),
        "SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS net_price, (l_quantity + 1) / 2 AS half_qty, -l_tax AS neg_tax")),

    "q_s3_derived" -> ((s, dir) =>
      q(t(s, dir, "lineitem"),
        "SELECT qty FROM (SELECT l_quantity AS qty WHERE l_returnflag = \"A\") WHERE qty > 30")),

    "q_f2_eq" -> ((s, dir) =>
      q(t(s, dir, "lineitem"), "SELECT l_orderkey WHERE l_returnflag = \"R\"")),

    "q_f2_neq" -> ((s, dir) =>
      q(t(s, dir, "lineitem"), "SELECT l_orderkey, l_linestatus WHERE l_linestatus != \"O\"")),

    "q_f2_lt" -> ((s, dir) =>
      q(t(s, dir, "lineitem"), "SELECT l_orderkey, l_quantity WHERE l_quantity < 3")),

    "q_f2_gt" -> ((s, dir) =>
      q(t(s, dir, "lineitem"), "SELECT l_orderkey, l_discount WHERE l_discount > 0.09")),

    "q_f2_eq_null" -> ((s, dir) =>
      q(t(s, dir, "lineitem"), "SELECT l_orderkey WHERE l_returnflag = NULL")),

    // dialect extension (reference roadmap): <= / >= comparison operators
    "q_f2_lte" -> ((s, dir) =>
      qx(t(s, dir, "lineitem"),
        "SELECT l_orderkey, l_quantity WHERE (l_quantity <= 2) OR (l_quantity >= 50)")),

    "q_f3_and" -> ((s, dir) =>
      q(t(s, dir, "lineitem"),
        "SELECT l_orderkey WHERE (l_quantity > 45) AND (l_discount < 0.02)")),

    "q_f3_or" -> ((s, dir) =>
      q(t(s, dir, "lineitem"),
        "SELECT l_orderkey WHERE (l_quantity > 49) OR (l_discount > 0.09)")),

    "q_f4_not" -> ((s, dir) =>
      q(t(s, dir, "lineitem"), "SELECT l_orderkey WHERE NOT(l_returnflag = \"A\")")),

    "q_f5_bare_bool" -> ((s, dir) =>
      q(lineitemFlagged(s, dir), "SELECT l_orderkey WHERE is_return")),

    "q_g1_group_aggs" -> ((s, dir) =>
      q(t(s, dir, "lineitem"),
        "SELECT AVG(l_quantity) AS avg_qty, SUM(l_quantity) AS sum_qty, MAX(l_quantity) AS max_qty, MIN(l_quantity) AS min_qty GROUP BY l_returnflag")),

    "q_g2_group_null" -> ((s, dir) =>
      q(t(s, dir, "lineitem"), "SELECT SUM(l_quantity) AS total GROUP BY NULL")
        .withColumn("_id", lit(null).cast("double"))),

    "q_g4_count" -> ((s, dir) =>
      q(t(s, dir, "lineitem"), "SELECT COUNT(l_orderkey) GROUP BY l_linestatus")),

    // $push emits an array column; the driver's compare layer cannot hash
    // arrays, so the harness entry canonicalizes to a sorted joined string
    // (the DuckDB oracle mirrors the same canonical form). round(x, 1)
    // BEFORE formatting makes the canonicalization exact for any input:
    // both engines round doubles half-away-from-zero, and %.1f of an
    // already-1-dp double can never hit a formatter tie (Java half-up vs
    // C half-even only diverge ON ties) — so fractional quantities like
    // 0.25 canonicalize identically, not just integral ones.
    "q_g5_push" -> ((s, dir) =>
      q(t(s, dir, "lineitem"), "SELECT l_quantity GROUP BY l_returnflag")
        .withColumn("l_quantity",
          array_join(transform(sort_array(col("l_quantity")),
            x => format_string("%.1f", round(x, 1))), ","))),

    // dialect extension (reference roadmap): arithmetic over grouped
    // aggregates — one partial-agg shuffle, same as any G3 aggregation
    "q_g3_arith" -> ((s, dir) =>
      qx(t(s, dir, "lineitem"),
        "SELECT (SUM(l_extendedprice) / SUM(l_quantity)) AS price_per_unit GROUP BY l_returnflag")
        .withColumn("price_per_unit", round(col("price_per_unit"), 6))),

    // dialect extension: arithmetic over per-row array reductions
    // (SUM/COUNT here recompute AVG, so the oracle is exact)
    "q_p2_arith" -> ((s, dir) =>
      qx(t(s, dir, "embeddings"),
        "SELECT vec_id, (SUM(embedding) / COUNT(embedding)) AS mean_val")
        .withColumn("mean_val", round(col("mean_val"), 6))),

    // dialect extension (reference roadmap "augment functions"): STDDEV +
    // MEDIAN as grouped aggregates
    "q_g3_stats" -> ((s, dir) =>
      qx(t(s, dir, "lineitem"),
        "SELECT STDDEV(l_quantity) AS sd_qty, MEDIAN(l_quantity) AS med_qty GROUP BY l_returnflag")
        .withColumn("sd_qty", round(col("sd_qty"), 6))
        .withColumn("med_qty", round(col("med_qty"), 6))),

    // same functions as per-row array reductions (P-family extension)
    "q_p5_stats" -> ((s, dir) =>
      qx(t(s, dir, "embeddings"),
        "SELECT vec_id, STDDEV(embedding) AS sd_val, MEDIAN(embedding) AS med_val")
        .withColumn("sd_val", round(col("sd_val"), 6))
        .withColumn("med_val", round(col("med_val"), 6))),

    "q_o1_order_limit" -> ((s, dir) =>
      q(t(s, dir, "lineitem"),
        "SELECT l_orderkey, l_linenumber, l_quantity ORDER BY l_orderkey, l_linenumber LIMIT 100")),

    "q_o2_limit_offset" -> ((s, dir) =>
      q(t(s, dir, "lineitem"),
        "SELECT l_orderkey, l_linenumber ORDER BY l_orderkey, l_linenumber LIMIT 100 OFFSET 40")),

    // schema breadth: the same dialect operators over every remaining
    // star-schema table (orders/customer/part/supplier/region), so each
    // driver-generated source and its type mix (int32/int64/double/string;
    // the timestamp column is correctly outside the dialect's closed
    // world) is exercised through the full compile lifecycle. Aggregates
    // stay on integer-valued columns so both engines compute bit-identical
    // values (the established double-summation discipline).
    "q_d6_orders_group" -> ((s, dir) =>
      q(t(s, dir, "orders"),
        "SELECT COUNT(o_orderkey), MAX(o_custkey) AS max_cust GROUP BY o_orderstatus")),

    "q_d6_customer_group" -> ((s, dir) =>
      q(t(s, dir, "customer"),
        "SELECT AVG(c_nationkey) AS avg_nation, COUNT(c_custkey) GROUP BY c_mktsegment")),

    "q_d6_part_filter" -> ((s, dir) =>
      q(t(s, dir, "part"),
        "SELECT p_partkey, p_size WHERE p_size > 25 ORDER BY p_partkey LIMIT 200")),

    "q_d6_supplier_distinct" -> ((s, dir) =>
      qx(t(s, dir, "supplier"), "SELECT DISTINCT s_nationkey")),

    "q_d6_region_filter" -> ((s, dir) =>
      q(t(s, dir, "region"), "SELECT r_name WHERE r_regionkey > 1")),

    // flat-array reductions (P2/P4/P5/P7) over the embeddings table
    "q_p2_avg_flat" -> ((s, dir) =>
      q(t(s, dir, "embeddings"), "SELECT vec_id, AVG(embedding) AS avg_val")
        .withColumn("avg_val", round(col("avg_val"), 6))),

    "q_p4_count_flat" -> ((s, dir) =>
      q(t(s, dir, "embeddings"), "SELECT vec_id, COUNT(embedding) AS n_dims")),

    "q_p5_maxmin_flat" -> ((s, dir) =>
      q(t(s, dir, "embeddings"),
        "SELECT vec_id, MAX(embedding) AS max_val, MIN(embedding) AS min_val")),

    "q_p7_sum_flat" -> ((s, dir) =>
      q(t(s, dir, "embeddings"), "SELECT vec_id, SUM(embedding) AS sum_val")
        .withColumn("sum_val", round(col("sum_val"), 6))),

    // array-of-struct reductions (P3/P6/P7 dotted) over per-order items
    "q_p3_dotted_reductions" -> ((s, dir) =>
      q(lineitemNested(s, dir),
        "SELECT l_orderkey, AVG(items.qty) AS avg_qty, SUM(items.qty) AS sum_qty, MAX(items.qty) AS max_qty, MIN(items.qty) AS min_qty, COUNT(items) AS n_items")),

    // ---- training-data pipeline: dedup ----
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id")),

    "q_dedup_keep_first" -> ((s, dir) =>
      Dedup.exactKeepFirst(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"))),

    // banding matched to the threshold: 32 bands × 4 rows → s* ≈ 0.42,
    // high recall at the 0.5 cut without flooding candidates on corpora
    // where *all* pairs share some low-level similarity
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minHashNearDups(t(s, dir, "documents"), "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // incremental near-dup: the batch (doc_id >= 250) compares against the
    // HISTORY's stored signatures (no history text) — emits the pair ids;
    // the estimator's decision matches exact Jaccard here because no pair
    // sits near the threshold (verified: nothing in [0.3, 0.7] at either
    // SF), so the exact-Jaccard oracle applies to the pair SET
    "q_dedup_incr_near" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val hist = Dedup.minHashSignatures(
        docs.filter(col("doc_id") < 250), "text", "doc_id", numHashes = 128)
      val batch = Dedup.minHashSignatures(
        docs.filter(col("doc_id") >= 250), "text", "doc_id", numHashes = 128)
      Dedup.minHashNearDupsIncremental(batch, hist,
          numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // fuzzy (near-duplicate) contamination: odd docs with shingle Jaccard
    // >= 0.5 against some even "benchmark" doc — the bipartite LSH that
    // catches lightly-edited benchmark text exact n-gram decontamination
    // misses; banding matched to the threshold as in q_dedup_minhash
    "q_decontam_fuzzy_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.fuzzyContamination(docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
          numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("id").as("doc_id"), col("bench_id"), col("jaccard"))
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // the gate: odd docs near-duplicate to NO even doc
    "q_decontam_fuzzy" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.fuzzyDecontaminate(docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
          numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simHashNearDups(t(s, dir, "documents"), "text", "doc_id", maxHamming = 8,
        slices = simhashSlicesFor(s, dir))
        .orderBy(col("id_a"), col("id_b"))),

    // the PRODUCTION radius: Manku et al. (WWW'07) deduplicate 8B pages
    // at hamming <= 3 on 64-bit sketches; radius 3 keys are 15-bit so the
    // banded self-join stays selective even on biased sketch bits — the
    // configuration whose cost actually scales like the published system
    // (the radius-8 rows above stress the adversarial wide-radius shape)
    "q_dedup_simhash_r3" -> ((s, dir) =>
      Dedup.simHashNearDups(t(s, dir, "documents"), "text", "doc_id", maxHamming = 3,
        keyBlocks = Dedup.simHashKeyBlocksFor(nDocs(s, dir), maxHamming = 3))
        .orderBy(col("id_a"), col("id_b"))),

    // pairs → clusters: connected components over the verified near-dup
    // graph (hash-min + pointer-jump label propagation); dup_group is the
    // min id transitively reachable, so it doubles as the representative
    "q_dedup_components" -> ((s, dir) =>
      Dedup.nearDupGroups(t(s, dir, "documents"), "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("doc_id"), col("dup_group"))),

    // incremental clustering (the daily-crawl shape): history clusters
    // computed once compress to star edges, the batch's incremental
    // near-dup pairs fold in, and the merged labels equal the full
    // recompute — verified by the SAME full-graph recursive-CTE oracle
    // as q_dedup_components (estimator decisions coincide with exact
    // Jaccard at these SFs: no pair sits in the estimator's gray zone)
    "q_dedup_components_incr" -> ((s, dir) => {
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
    }),

    // steady-state incremental clustering: prior labels + history
    // signatures load from the persisted store (written once per sf dir,
    // the saveIvf lifecycle), so the row pays ONLY the production
    // per-batch cost — batch signatures, banded incremental pairs, star
    // merge. Same full-graph recursive-CTE oracle as the parity row:
    // steady-state must land on the identical complete labeling.
    "q_dedup_components_incr_steady" -> ((s, dir) => {
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
    }),

    // the end-to-end near-dedup: one representative per duplicate cluster
    "q_dedup_near_keep_first" -> ((s, dir) =>
      Dedup.nearDupKeepFirst(t(s, dir, "documents"), "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("doc_id"))),

    // same clusters, best-quality representative instead of min id
    "q_dedup_keep_best" -> ((s, dir) =>
      Dedup.nearDupKeepBest(t(s, dir, "documents"), "text", "doc_id",
        score = TextOps.qualityScore(col("text")),
        numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("doc_id"))),

    // the keyBlocks=2 combination-keying scale dial: pigeonhole-exact
    // recall is banding-independent, so this must equal q_dedup_simhash
    // row for row (the driver sees the billion-doc configuration produce
    // the same answer as the default)
    "q_dedup_simhash_k2" -> ((s, dir) =>
      Dedup.simHashNearDups(t(s, dir, "documents"), "text", "doc_id", maxHamming = 8,
        keyBlocks = 2, slices = simhashSlicesFor(s, dir))
        .orderBy(col("id_a"), col("id_b"))),

    // the wide-sketch (120-bit, two md5 lanes) resolution escape from the
    // radius-8 frontier (SCALING_r11.md §1c): SAME absolute radius, double
    // resolution — every banding block doubles in width (13-bit keys at
    // kb=1 where the 60-bit sketch had 7) and the match fraction halves
    // (8/120 vs 8/60), collapsing the output-quadratic near-template pair
    // density. Fully oracled: both lanes are one md5 per token, DuckDB
    // recomputes them from hex chars 1-15 / 17-31 of the same digest.
    // No slices dial needed: the wide keys keep buckets small at the
    // rungs where the narrow radius-8 rows needed blocked self-joins.
    "q_dedup_simhash_wide" -> ((s, dir) =>
      Dedup.simHashNearDupsWide(t(s, dir, "documents"), "text", "doc_id", maxHamming = 8,
        keyBlocks = Dedup.simHashKeyBlocksFor(nDocs(s, dir), maxHamming = 8,
          bits = graft.functions.SimHashUtil.WideBits))
        .orderBy(col("id_a"), col("id_b"))),

    // banding-independence witness at the wide width, mirroring
    // q_dedup_simhash_k2: pigeonhole recall is exact for any keyBlocks,
    // so this must equal q_dedup_simhash_wide row for row
    "q_dedup_simhash_wide_k2" -> ((s, dir) =>
      Dedup.simHashNearDupsWide(t(s, dir, "documents"), "text", "doc_id", maxHamming = 8,
        keyBlocks = 2)
        .orderBy(col("id_a"), col("id_b"))),

    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardNearDups(t(s, dir, "documents"), "text", "doc_id", n = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))),

    // incremental ingestion: dedupe the "new batch" (doc_id >= 250)
    // against the "historical corpus" (doc_id < 250) by content digest,
    // then keep-first within the batch
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exactDedupIncrement(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
        "text", "doc_id")
        .select(col("doc_id"))
    }),

    // the synthetic embeddings have no true near-dups (max pairwise cosine
    // ≈ 0.51), so the harness entry runs at a moderate threshold where
    // pairs exist; multi-table SRP keeps recall at that regime
    "q_dedup_embedding" -> ((s, dir) => {
      val (planes, tables) = srpConfigFor(s, dir)
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.45, planes = planes, tables = tables)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // driver-visible honesty meter for the one approximate near-DUP path:
    // pair recall of the SRP-banded pass against the exact cosine truth
    // RESTRICTED to a deterministic 1-in-4 probe sample (probeOneIn —
    // the knob that makes this meter runnable at 100 TB: truth cost is
    // |sample| × |corpus|, not |corpus|², and restricted-truth recall is
    // an unbiased estimate of full recall; parity with the full meter is
    // pinned by OpsSpec "sampled exactCosinePairs ≡ full truth
    // restricted"). CONTRACT: recall >= 0.6 at the driver config, both
    // correctness SFs, asserted by DriverSuiteSpec ("ANN recall floor")
    "q_dedup_embedding_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (planes, tables) = srpConfigFor(s, dir)
      Dedup.pairRecall(
        Dedup.exactCosinePairs(emb, "embedding", "vec_id", threshold = 0.45,
          probeOneIn = dedupProbeOneIn(s, dir)),
        Dedup.embeddingNearDups(emb, "embedding", "vec_id",
          threshold = 0.45, planes = planes, tables = tables))
    }),

    // SemDeDup: k-means cells + exact within-cell cosine — the
    // cluster-partitioned sibling of the SRP-banded pass above. No SQL
    // mirror (k-means); honesty meter below.
    "q_dedup_semantic" -> ((s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), "embedding", "vec_id",
        nClusters = semanticCellsFor(s, dir), threshold = 0.45,
        nProbe = semanticProbesFor(s, dir), maxCellSize = semanticMaxCellFor(s, dir))
        .orderBy(col("id_a"), col("id_b"))),

    // Dolma/RefinedWeb-style corpus-level paragraph dedup: segments
    // (split on " the " — the synthetic corpus has no newlines) deduped
    // globally by normalized digest, first occurrence by (doc, pos)
    // survives, documents reassembled in order
    "q_dedup_paragraph" -> ((s, dir) =>
      Dedup.paragraphDedup(t(s, dir, "documents"), "text", "doc_id",
        sep = " the ")),

    // incremental paragraph dedup (the daily-crawl shape): batch docs
    // (id >= 250) against the stored digest set of the accepted history
    // (id < 250) — history-seen segments drop, in-batch first occurrence
    // survives, blanks exempt
    "q_dedup_para_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.paragraphDedupIncrement(
        docs.filter(col("doc_id") >= 250),
        Dedup.paragraphDigests(docs.filter(col("doc_id") < 250), "text", " the "),
        "text", "doc_id", sep = " the ")
    }),

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
    "q_dedup_d4" -> ((s, dir) => {
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
    }),

    // pair recall of within-cell pairs vs the exact truth restricted to
    // a 1-in-4 probe sample (same sampled-meter pattern as
    // q_dedup_embedding_recall) — what the cluster-boundary trade costs
    // at this config. CONTRACT: >= 0.6 at both correctness SFs
    // (DriverSuiteSpec "ANN recall floor")
    "q_dedup_semantic_recall" -> ((s, dir) => {
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
    }),

    // PCA-whitened SemDeDup: the composition the PCA operator exists
    // for — whiten (variance-one components, isotropic cosine), then
    // the same banded semantic dedup in the whitened space. The
    // whitened corpus is a Spark-computed frame (eigen basis → no SQL
    // mirror), so the row's honesty meter is the standard pair-recall
    // contract against exact cosine truth computed IN the same
    // whitened space (probeOneIn-sampled, the corpus-scale meter form)
    "q_dedup_semantic_white" -> ((s, dir) => {
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
    }),

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
    "q_dedup_semantic_steady" -> ((s, dir) => {
      val cells = semanticCellsFor(s, dir)
      val idx = if (cells == 8) fixedSemanticIvf(s)
        else ivfIndexFor(s, dir, nlist = cells)
      Dedup.semanticDedupWithIndex(idx,
        t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.45, nProbe = semanticProbesFor(s, dir),
        maxCellSize = semanticMaxCellFor(s, dir))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- training-data pipeline: similarity search ----
    "q_sim_bruteforce_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    }),

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
    "q_sim_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, planes = 5, tables = 24)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    }),

    "q_sim_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, nlist = 16, nprobe = 6)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // steady-state IVF: the index is the COMMITTED checkpoint (annFixtureDir
    // scaladoc), so this measures search cost — cell assignment + cell
    // equi-join + bounded-heap re-rank — not the k-means build. FULL
    // ORACLE since round 12: DuckDB reads the same saved centroids and
    // replays assignment (argmax of dot − |c|²/2, ties to the larger
    // cell — array_max's lexicographic struct compare), the nprobe cut,
    // and the exact-cosine rank.
    "q_sim_ivf_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfSearch(fixedIvf(s), emb,
        emb.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5, nprobe = 6)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    }),

    // hard-band mining for contrastive training sets: the 0.25 positive
    // threshold sits at ~p99 of the synthetic corpus's cosine distribution
    // (median ~0.005, max ~0.49), so both bands are populated — negatives
    // mine [0.05, 0.25), positives everything above. Full DuckDB oracles
    // (band + row_number), unlike the approximate ANN rows.
    "q_sim_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, maxCos = 0.25, minCos = 0.05)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    }),

    "q_sim_hard_positives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardPositives(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, minCos = 0.25)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    }),

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
    "q_sim_hard_neg_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (planes, tables) = hardBandFor(s, dir)
      Similarity.hardNegativesLsh(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, maxCos = 0.25, minCos = 0.05, planes = planes, tables = tables)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    }),

    "q_sim_hard_pos_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (planes, tables) = hardBandFor(s, dir)
      Similarity.hardPositivesLsh(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, minCos = 0.25, planes = planes, tables = tables)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    }),

    // the capstone composition: (anchor, hard-positive, hard-negative)
    // triplets ready for a contrastive loss — both miners are full
    // oracles, so the assembled triplets are too
    "q_sim_triplets" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.miningTriplets(emb, emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        kPos = 3, kNeg = 3, minPosCos = 0.25, maxNegCos = 0.25, minNegCos = 0.05)
        .withColumn("pos_cosine", round(col("pos_cosine"), 4))
        .withColumn("neg_cosine", round(col("neg_cosine"), 4))
        .orderBy(col("anchor_id"), col("pos_rank"), col("neg_rank"))
    }),

    "q_sim_hard_neg_lsh_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      val (planes, tables) = hardBandFor(s, dir)
      Similarity.recallAtK(
        Similarity.hardNegatives(emb, probes, "embedding", "vec_id",
          k = 5, maxCos = 0.25, minCos = 0.05),
        Similarity.hardNegativesLsh(emb, probes, "embedding", "vec_id",
          k = 5, maxCos = 0.25, minCos = 0.05, planes = planes, tables = tables))
    }),

    "q_sim_hard_pos_lsh_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      val (planes, tables) = hardBandFor(s, dir)
      Similarity.recallAtK(
        Similarity.hardPositives(emb, probes, "embedding", "vec_id",
          k = 5, minCos = 0.25),
        Similarity.hardPositivesLsh(emb, probes, "embedding", "vec_id",
          k = 5, minCos = 0.25, planes = planes, tables = tables))
    }),

    // PQ-compressed ANN (asymmetric distance + exact re-rank): the
    // memory-compression path. FULL ORACLE since round 12 under the
    // COMMITTED codebooks (annFixtureDir scaladoc): DuckDB reads the
    // saved (subspace, code, codeword) parquet and replays L2-normalize,
    // per-subspace argmax encode (ties to the LOWER code — PqUtil
    // .encode's strict `>`), the per-probe LUT build, the sequential
    // j-order ADC fold, the rerank×k cut by (approx desc, id asc), and
    // the exact-cosine re-rank. "Approximate" is vs the exact top-k
    // (metered by q_sim_pq_recall), never nondeterminism.
    "q_sim_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(fixedPq(s), emb,
        emb.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5, rerank = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    }),

    // int8 scalar quantization codes of the RAW embedding column: the
    // storage-compression configuration, whose affine arithmetic DuckDB
    // recomputes BIT-identically (min/max per dim → floor((x−mn)·s+0.5))
    "q_emb_sq_codes" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val p = sqFor(s, dir, normalize = false)
      t(s, dir, "embeddings").select(col("vec_id"),
        array_join(
          ops.Similarity.sqQuantizeCol(col("embedding"), p), ",").as("sq_code"))
        .orderBy(col("vec_id"))
    }),

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
    "q_sim_sq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Similarity.sqTopK(sqFor(s, dir, normalize = true), emb,
        emb.filter(col("vec_id") < 10), "embedding", "vec_id", k = 5, rerank = 8)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    }),

    "q_sim_sq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      ops.Similarity.recallAtK(
        ops.Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5),
        ops.Similarity.sqTopK(sqFor(s, dir, normalize = true), emb, probes,
          "embedding", "vec_id", 5, rerank = 8))
    }),

    // 1-bit sign codes of the embedding column: training-free binary
    // quantization, 64 dims packed per signed long — DuckDB recomputes
    // the words bit-exactly (HUGEINT bit build, then two's-complement
    // fold back to BIGINT)
    "q_emb_bq_codes" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "embeddings").select(col("vec_id"),
        array_join(ops.Similarity.bqQuantizeCol(col("embedding"))
          .cast("array<string>"), ",").as("bq_code"))
        .orderBy(col("vec_id"))
    }),

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
    "q_sim_bq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Similarity.bqTopK(emb, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5, rerank = 64)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    }),

    "q_sim_bq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      ops.Similarity.recallAtK(
        ops.Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5),
        ops.Similarity.bqTopK(emb, probes, "embedding", "vec_id", 5,
          rerank = bqRerank(s, dir)))
    }),

    "q_sim_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5),
        Similarity.pqTopK(fixedPq(s), emb, probes,
          "embedding", "vec_id", 5, rerank = pqRerank(s, dir)))
    }),

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
    "q_sim_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(fixedIvf(s), fixedPq(s), emb,
        emb.filter(col("vec_id") < 10), "embedding", "vec_id",
        k = 5, nprobe = 8, rerank = 16)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("probe_id"), col("rank"))
    }),

    "q_sim_ivfpq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", 5),
        Similarity.ivfPqTopK(fixedIvf(s), fixedPq(s), emb, probes,
          "embedding", "vec_id", 5, nprobe = 8, rerank = ivfpqRerank(s, dir)))
    }),

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
    "q_sim_lsh_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", k = 5),
        Similarity.lshTopK(emb, probes, "embedding", "vec_id", k = 5,
          planes = 5, tables = 24))
    }),

    "q_sim_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = Similarity.probeSample(emb, "vec_id", oneIn = simProbeOneIn(s, dir))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", k = 5),
        Similarity.ivfSearch(fixedIvf(s), emb, probes,
          "embedding", "vec_id", k = 5, nprobe = 6))
    }),

    // ---- training-data pipeline: text analysis ----
    "q_text_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val metrics = TextOps.qualityMetrics(col("text")).map { case (n, c) => c.as(n) }
      d.select((col("doc_id") +: metrics :+ TextOps.qualityScore(col("text")).as("quality")): _*)
    }),

    "q_text_tokens" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeishCount(col("text")).as("bpeish_tokens"))),

    // fastText-style linear quality score with a pinned quantized weight
    // vector: integer weights make the hash-feature dot product exactly
    // order-independent, so DuckDB recomputes the score bit-identically
    "q_text_linear_score" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val w = Array.tabulate(64)(d => d % 7 - 3)
      t(s, dir, "documents").select(col("doc_id"),
        round(ops.Embeddings.linearScore(col("text"), w, scale = 10.0, bias = 0.05), 6)
          .as("lin_score"))
        .withColumn("keep", col("lin_score") > 0)
        .orderBy(col("doc_id"))
    }),

    // in-engine Rocchio training of the linear classifier: one corpus
    // pass; the weight table is bit-exactly recomputable in SQL
    "q_text_train_weights" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      ops.Embeddings.trainLinearWeights(
        t(s, dir, "documents"), "text", col("lang") === "en")
        .orderBy(col("bucket"))
    }),

    // the closed loop: train in-engine, collect the driver-sized model
    // (64 ints — the IVF-centroid lifecycle pattern), score with the
    // SAME native expression used at inference
    "q_text_trained_score" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), trainedScore(s, d).as("score"))
        .withColumn("pred_en", col("score") > 0)
        .orderBy(col("doc_id"))
    }),

    // evaluate the trained classifier in-engine: one confusion-count
    // aggregation over (label, score > 0) — the model scorecard
    "q_text_classifier_eval" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val d = t(s, dir, "documents")
      val wRows = ops.Embeddings.trainLinearWeights(d, "text", col("lang") === "en")
        .collect()
      val w = new Array[Int](64)
      wRows.foreach(r => w(r.getInt(0)) = r.getInt(1))
      ops.Stats.binaryEval(d,
        col("lang") === "en",
        ops.Embeddings.linearScore(col("text"), w, scale = 1000.0, bias = 0.0) > 0)
    }),

    // operating-point sweep over the trained classifier's score: one
    // scan computes P/R/F1 at every candidate cutoff — how a quality
    // filter's threshold gets frozen
    "q_text_threshold_sweep" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // grid spans the observed score distribution (5th-95th pct is
      // roughly ±2e-4 at both SFs) so every operating point is live
      ops.Stats.thresholdSweep(d, col("lang") === "en", trainedScore(s, d),
        Seq(-2.0e-4, -1.0e-4, -5.0e-5, 0.0, 5.0e-5, 1.0e-4, 2.0e-4))
    }),

    // calibration reliability bins of the trained classifier over the
    // live score range (the sweep's ±e-4 band): frac_pos vs mean_score
    // per bin — the "is this score usable as a probability" diagnostic
    "q_text_calibration" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      ops.Stats.calibrationBins(d, col("lang") === "en", trainedScore(s, d),
        bins = 8, lo = -4.0e-4, hi = 4.0e-4)
    }),

    // expected calibration error: the one-number summary of the bins
    // above (weighted |frac_pos − mean_score| + the worst bin)
    "q_text_ece" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      ops.Stats.expectedCalibrationError(d, col("lang") === "en",
        trainedScore(s, d), bins = 8, lo = -4.0e-4, hi = 4.0e-4)
    }),

    // exact ROC-AUC of the trained classifier (tie-corrected rank
    // statistic) — the threshold-free counterpart of the sweep
    "q_text_auc" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      ops.Stats.rocAuc(d, col("lang") === "en", trainedScore(s, d))
    }),

    // in-engine LOGISTIC training (fixed-epoch full-batch GD over the
    // same hashed features): integer-exact gradient sums + the
    // algebraic sigmoid make all 16 epochs bit-reproducible, so the
    // oracle recomputes the whole fixpoint as 16 chained CTE blocks
    "q_text_lr_weights" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      ops.Embeddings.trainLogisticWeights(
          t(s, dir, "documents"), "text", col("lang") === "en")
        .orderBy(col("bucket"))
    }),

    // the trained logistic model scored with the SAME native expression
    // Rocchio uses ([[Embeddings.linearScore]]) — the model slots into
    // the score/eval/calibration chain unchanged
    "q_text_lr_score" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val (w, bias) = lrModelFor(s, dir)
      t(s, dir, "documents").select(col("doc_id"),
        round(ops.Embeddings.linearScore(col("text"), w, scale = 1000.0, bias = bias), 6)
          .as("lr_score"))
        .withColumn("pred_en", col("lr_score") > 0)
        .orderBy(col("doc_id"))
    }),

    // ROC-AUC of the logistic model — DriverSuiteSpec contracts this
    // strictly above q_text_auc's Rocchio AUC at both SFs (the reason
    // the iterative trainer exists)
    "q_text_lr_auc" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val d = t(s, dir, "documents")
      val (w, bias) = lrModelFor(s, dir)
      ops.Stats.rocAuc(d, col("lang") === "en",
        round(ops.Embeddings.linearScore(col("text"), w, scale = 1000.0, bias = bias), 6))
    }),

    // average precision of the trained classifier (PR-space summary —
    // the imbalanced-gate counterpart of q_text_auc)
    "q_text_ap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      ops.Stats.averagePrecision(d, col("lang") === "en", trainedScore(s, d))
    }),

    // classic conversion funnel over the events table: signup → view →
    // click → purchase within 12 h of the signup anchor, greedy
    // first-match per user, one user-keyed fold (unwindowed the
    // synthetic events saturate every step — the window makes each
    // stage discriminating: 1500 → 299 → 34 → 3 at sf0.1)
    "q_events_funnel" -> ((s, dir) =>
      graft.streaming.EventStream.funnel(events(s, dir),
        Seq("signup", "view", "click", "purchase"),
        withinMinutes = Some(720L))),

    // day-N cohort retention: users cohorted by first-signup date,
    // active-day offsets 0..7 — calendar-sized output
    "q_events_retention" -> ((s, dir) =>
      graft.streaming.EventStream.retention(events(s, dir), "signup", maxDays = 7)),

    // context-budget clipping to the first 30 whitespace tokens
    "q_text_truncate" -> ((s, dir) => {
      val (clipped, dropped) = TextOps.truncateTokens(col("text"), maxTokens = 30)
      t(s, dir, "documents").select(col("doc_id"),
        clipped.as("text_clipped"), dropped.as("n_dropped"))
    }),

    "q_text_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.languageId(col("text")).as("lang_pred"))),

    // langid + its abstention margin (top1 − top2 stopword score)
    "q_text_langid_margin" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.languageId(col("text")).as("lang_pred"),
        TextOps.languageMargin(col("text")).as("margin"))),

    // the multi-source recipe end to end: measure shares, temperature-
    // flatten (alpha = 0.5), mix deterministically with those weights —
    // weights collected driver-side (|sources| rows, the model-read
    // pattern), each source then a narrow hash filter
    "q_sample_temp_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val w = Sample.temperatureWeights(d, "source", alpha = 0.5)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      Sample.mixCorpora(
        w.keys.toSeq.sorted.map(src =>
          (src, d.filter(col("source") === src).drop("source"), w(src))),
        "doc_id", salt = "r5")
        .select(col("source"), col("doc_id"))
    }),

    // evaluate the language-ID heuristic against the true labels: the
    // full confusion matrix with per-class recall shares
    "q_text_confusion" -> ((s, dir) =>
      ops.Stats.confusionMatrix(t(s, dir, "documents"),
        col("lang"), TextOps.languageId(col("text")))
        .orderBy(col("actual"), col("predicted"))),

    // the same gate evaluated PER SOURCE: where does en-detection degrade
    "q_text_eval_by_source" -> ((s, dir) =>
      ops.Stats.binaryEvalByGroup(t(s, dir, "documents"),
        col("lang") === "en", TextOps.languageId(col("text")) === "en",
        Seq("source")).orderBy(col("source"))),

    // Flesch-style readability from regexp proxies
    "q_text_readability" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.readability(col("text")).as("readability"))),

    // Zipf slope of the top-100 token frequencies (corpus fingerprint)
    "q_lm_zipf" -> ((s, dir) =>
      ops.Lm.zipfSlope(t(s, dir, "documents"), "text", k = 100)),

    "q_text_top_tokens" -> ((s, dir) =>
      TextOps.topTokens(t(s, dir, "documents"), "text", k = 100)),

    // per-language corpus profile with EXACT percentiles (Spark percentile
    // ≡ DuckDB quantile_cont, same linear interpolation)
    "q_text_profile" -> ((s, dir) =>
      TextOps.corpusProfile(t(s, dir, "documents"), "text")),

    // BPE merge training (deterministic iterative loop over the
    // word-frequency table) + per-doc subword counts under the learned
    // tokenizer. No SQL oracle (DuckDB cannot replay an iterative
    // argmax), but fully deterministic: unit-pinned merges + rows-only
    "q_bpe_subwords" -> ((s, dir) => {
      // register on THIS session: the memoized training may have run (and
      // registered) on a different SparkSession in the same JVM
      graft.functions.GraftFunctions.register(s)
      val merges = bpeFor(s, dir, n = 24)
      t(s, dir, "documents").select(
        col("doc_id"),
        ops.Bpe.subwordCount(col("text"), merges).as("n_subwords"),
        TextOps.tokenCount(col("text")).as("n_words"))
    }),

    // BPE APPLICATION under the COMMITTED merge table (the
    // model-checkpoint shape of a production tokenizer: train once,
    // freeze, apply everywhere). FULL ORACLE (upgraded surface,
    // round-10): the native greedy min-rank loop (BpeApply) is
    // cross-checked against a DuckDB rank-order merge replay — which
    // also certifies the documented greedy ≡ rank-order equivalence on
    // a trained table — down to the exact subword sequence per doc.
    "q_bpe_apply_fixed" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val subs = ops.Bpe.applyBpe(col("text"), fixedBpeMerges)
      t(s, dir, "documents").select(
        col("doc_id"),
        size(subs).as("n_subwords"),
        array_join(subs, " ").as("subwords"))
    }),

    // the PRODUCTION tokenizer configuration driver-visibly: train 1000
    // merges (local loop — seconds, where the round-per-merge form was
    // 1000 Spark jobs) and apply them as the one bpe_apply expression
    // (the chained form cannot plan here). Vocabulary exhaustion on the
    // small corpora just caps the table — still deterministic, rows-only
    "q_bpe_subwords_1k" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val merges = bpeFor(s, dir, n = 1000)
      t(s, dir, "documents").select(
        col("doc_id"),
        ops.Bpe.subwordCount(col("text"), merges).as("n_subwords"))
    }),

    // substring-span dedup (Lee et al.): remove every k-token span that
    // occurs in >= 2 distinct documents, reconstruct the survivors
    "q_text_span_dedup" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      TextOps.dedupSpans(t(s, dir, "documents"), "text", "doc_id", k = 8, minDocs = 2)
    }),

    // CCNet-style unigram LM self-scoring: bits-per-token of every
    // document under an add-one-smoothed model trained on the corpus
    // itself (train == score is the standard self-perplexity quality
    // meter; a held-out training set is the same call with a second table)
    "q_lm_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Lm.unigramBits(docs, docs, "text", "doc_id")
    }),

    // vocabulary coverage: occurrences of odd docs' tokens covered by the
    // even docs' top-500 vocabulary
    "q_lm_vocab_coverage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Lm.vocabCoverage(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), "text", topN = 500)
    }),

    // per-doc OOV rate of odd docs vs the even docs' top-500 vocabulary
    "q_lm_oov_rate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Lm.oovRate(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", topN = 500)
    }),

    // held-out LM scoring: train on even doc_ids, score the odd ones —
    // exercises the out-of-vocabulary path (unseen tokens smooth to
    // count 0) the self-scoring query never hits
    "q_lm_score_heldout" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Lm.unigramBits(docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    }),

    // bigram LM self-scoring: word-ORDER-sensitive quality signal (the
    // bigram upgrade of q_lm_score)
    "q_lm_bigram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Lm.bigramBits(docs, docs, "text", "doc_id")
    }),

    // TF-IDF top-5 salient terms per document (rank on rounded score for
    // cross-engine order determinism)
    "q_lm_tfidf" -> ((s, dir) =>
      ops.Lm.tfIdfTopTerms(t(s, dir, "documents"), "text", "doc_id", k = 5)),

    // CCNet head/middle/tail split over the LM score (tercile cutoffs +
    // value-based bucket, no global window)
    "q_lm_bucket" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Lm.perplexityBuckets(
        ops.Lm.unigramBits(docs, docs, "text", "doc_id"), "bits_per_token")
        .select(col("doc_id"), col("bucket"))
    }),

    // the SAME bucketing in its 100 TB configuration: approx_percentile
    // cutoffs (bounded memory in the final reducer) instead of the exact
    // percentile buffer. FULL ORACLE (upgraded from rows-only, round 11):
    // the row now runs BOTH cutoff paths over one shared scoring pass and
    // emits the agreement meter vs the exact twin — per-bucket doc counts
    // from the EXACT path (verbatim, so the oracle still pins the whole
    // scoring + bucketing pipeline) plus the ≤1%-moved-docs contract as a
    // bound-check boolean, which IS SQL-expressible. The approx path's
    // full per-doc output stays exercised (the join consumes it); its
    // (doc_id, bucket) rows are what q_lm_bucket emits on the exact side.
    "q_lm_bucket_approx" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bits = ops.Lm.unigramBits(docs, docs, "text", "doc_id")
      val exact = ops.Lm.perplexityBuckets(bits, "bits_per_token")
        .select(col("doc_id"), col("bucket"))
      val approx = ops.Lm.perplexityBuckets(bits, "bits_per_token", exact = false)
        .select(col("doc_id"), col("bucket").as("bucket_approx"))
      exact.join(approx, Seq("doc_id"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("bucket") =!= col("bucket_approx"), 1L).otherwise(0L))
            .as("__moved"))
        .withColumn("__total", sum(col("n_docs")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("moved_within_1pct",
          (sum(col("__moved")).over(org.apache.spark.sql.expressions.Window.partitionBy())
            .cast("double") / col("__total")) <= 0.01)
        .select(col("bucket"), col("n_docs"), col("moved_within_1pct"))
        .orderBy(col("bucket"))
    }),

    // DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    // hashed-n-gram (unigram+bigram, 2048 md5 buckets) importance
    // log-weight of every document under target = the English slice,
    // raw = the whole corpus — the "how target-like is this document"
    // selection signal
    // (subset path: the target is a slice of the corpus, so one n-gram
    // pass builds both count tables — two corpus-scale hash passes
    // total; parity with the two-corpus form is a DsirSpec test)
    "q_dsir_weights" -> ((s, dir) =>
      ops.Dsir.logWeightsSubset(t(s, dir, "documents"),
        col("lang") === "en", "text", "doc_id")),

    // DSIR Gumbel top-100 resample: deterministic md5-seeded Gumbel race
    // over the importance weights — a soft draw toward the target mix
    // rather than a hard threshold (the published method's key property)
    "q_dsir_resample" -> ((s, dir) =>
      ops.Dsir.resampleSubset(t(s, dir, "documents"), col("lang") === "en",
        "text", "doc_id", n = 100, seed = "graft-r7")),

    // mixture-weight optimizer: blend the five language slices to match
    // the English slice — the solver must put ~all weight on 'en'.
    // FULL ORACLE (upgraded from rows-only, round-10): the fixed-budget
    // EG solve is deterministic driver arithmetic over the bucket
    // distributions, so DuckDB replays every iteration bit-for-bit in a
    // recursive CTE over the same md5-bucket models (verified equal at
    // 6 dp at both SFs). The 500-iteration budget is chosen so the SQL
    // replay stays seconds-scale while the en-recovery contract
    // (weight ≥ 0.9, DriverSuiteSpec) still clears at every rung; the
    // operator default stays 2000 for users.
    "q_dsir_mixture" -> ((s, dir) =>
      // ONE grouped counting pass builds all five slice distributions
      // and the target's (the slice form; the general multi-frame form
      // scans once per source)
      ops.Dsir.optimizeMixtureForSlice(t(s, dir, "documents"),
        "lang", "text", targetSlice = "en", iterations = 500)
        .orderBy(col("source"))),

    // hashed-n-gram distribution divergence (KL both ways + JS, bits)
    // between the English and non-English slices — the mixture-drift /
    // source-distance meter over the same bucket models DSIR scores with
    "q_lm_divergence" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Dsir.ngramDivergence(docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text")
    }),

    // the full curation pipeline (gates + keep-first dedup) in one pass
    "q_curate" -> ((s, dir) =>
      ops.Curate.curate(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("quality"), col("dup_3gram_frac"))),

    // HTML → text extraction: documents wrapped in a deterministic page
    // shell (title/nav/script/style/comments/entities) and stripped back
    // to text by the fixed regexp cascade; the oracle rebuilds the same
    // HTML and replays the same cascade
    "q_text_html_extract" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.htmlToText(syntheticHtml).as("extracted"))
        .orderBy(col("doc_id"))),

    // URL canonicalization: the crawl-level first dedup key. Messy URL
    // variants (case, default ports, fragments, tracking params,
    // param order) are synthesized deterministically per doc, so the
    // oracle rebuilds the same inputs and applies the same rules
    "q_text_url_canon" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("url", messyUrl)
      d.select(col("doc_id"), col("url"),
        TextOps.canonicalUrl(col("url")).as("url_canon"),
        TextOps.urlDomain(col("url")).as("domain"))
        .orderBy(col("doc_id"))
    }),

    // per-domain corpus rollup over the same synthesized URLs — the
    // is-one-site-flooding-the-mix curation meter
    "q_text_domain_stats" -> ((s, dir) =>
      TextOps.domainStats(
        t(s, dir, "documents").withColumn("url", messyUrl), col("url"), col("text"))),

    // WARC/WET source: the documents table is serialized once per sf dir
    // into real multi-file ISO 28500 WARC (the warcStoreFor fixture),
    // then read back through the record-boundary-splitting parallel
    // reader — the oracle rebuilds the same record strings in DuckDB and
    // RE-PARSES the fields out of them with string ops (regexp over the
    // header block, Content-Length-sliced payload), not the generator
    // formulas
    "q_source_warc" -> ((s, dir) => {
      val store = warcStoreFor(s, dir)
      sources.GraftSource.readWarc(s, s"$store/wet")
        .select(col("warc_type"), col("url"), col("warc_date"),
          col("content_type"), col("content_length"), col("truncated"), col("text"))
    }),

    // Z-value (Morton) layout key over (user_id, epoch-micros ts): pure
    // shift/and/or codegen arithmetic — the oracle recomputes the same
    // bucket indices and interleave with integer SQL
    "q_layout_zvalue" -> ((s, dir) =>
      events(s, dir).select(col("event_id"),
        sources.Layout.zValue(
          Seq(col("user_id"), unix_micros(col("ts"))),
          Seq(0.0, 1704067200000000.0),
          Seq(2048.0, 1706745600000000.0), bits = 8).as("zval"))),

    // manifest-pruned read over the z-ordered events store: files whose
    // (user_id, ts_us) ranges miss the predicate are never opened; the
    // oracle is the plain full-scan filter — pruning must be invisible
    // to the result
    "q_layout_prune" -> ((s, dir) => {
      val store = zStoreFor(s, dir)
      sources.Layout.readPruned(s, s"$store/events_z",
        Seq(("user_id", 2.0, 9.0),
          ("ts_us", 1704931200000000.0, 1705795200000000.0)))
    }),

    // small-files compaction of the z-ordered store (re-cluster +
    // manifest refresh, written beside — never in place); the oracle is
    // the full table: a compaction that loses/duplicates/corrupts any
    // row hash-mismatches
    "q_layout_compact" -> ((s, dir) => {
      val store = zStoreFor(s, dir)
      memoized(MemoKey("zcompact", store))(
        sources.Layout.compactZOrdered(s, s"$store/events_z", s"$store/events_zc",
          Seq("user_id", "ts_us"), bits = 8, targetFileBytes = 64L << 10))
      s.read.parquet(s"$store/events_zc")
    }),

    // feature-hashing document embedding (model-free, md5-derived, L2
    // normalized); canonicalized to a joined %.6f string for the compare
    "q_emb_hash_embed" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = ops.Embeddings.hashEmbedding(col("text"), dim = 64)
      t(s, dir, "documents").select(col("doc_id"),
        array_join(transform(e, x => format_string("%.6f", round(x, 6))), ",").as("emb"))
    }),

    // the one-call pipeline: gates -> keep-first dedup -> benchmark
    // decontamination -> deterministic split, oracled END TO END
    "q_pipeline_prepare" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Pipeline.prepare(docs, docs.filter(col("doc_id") % 50 === 0),
        "text", "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "r4")
        .select(col("doc_id"), col("split"))
    }),

    // the same chain with the Gopher rule battery folded into the narrow
    // gate stage via the extraGate hook
    "q_pipeline_prepare_rules" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Pipeline.prepare(docs, docs.filter(col("doc_id") % 50 === 0),
        "text", "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "r4",
        extraGate = Some(TextOps.gopherPass(col("text"), sep = " the ",
          minWords = 20, minStopHits = 1)))
        .select(col("doc_id"), col("split"))
    }),

    // the full hygiene stack: the same chain with the fuzzy whole-document
    // pass (Jaccard >= 0.5 vs the bench slice) after exact decontamination
    "q_pipeline_prepare_fuzzy" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      ops.Pipeline.prepare(docs, docs.filter(col("doc_id") % 50 === 0),
        "text", "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "r4",
        fuzzyThreshold = Some(0.5))
        .select(col("doc_id"), col("split"))
    }),

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
    "q_pipeline_e2e" -> ((s, dir) => {
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
      // The three stage frames are local checkpoints: intra-query scratch
      // that never enters the CacheManager, whose blocks Spark's
      // ContextCleaner frees once the returned frame that reads them is
      // gone — and at warehouse scale avoiding ~10 re-parses of the crawl
      // for three disk-backed text frames is the same trade the
      // measure-then-choose reassembly family makes. That trade is
      // Dedup.Materialize.Local's: the blocks live in executor storage
      // only, so on a real cluster an executor loss after a checkpoint
      // kills the job; and they are corpus-scale TEXT that stays on local
      // disk until a driver GC collects the returned frame
      // (spark.cleaner.periodicGC.interval, 30 min by default), not after
      // the first action — a long-lived session that builds this row
      // again and again holds every generation's copy until then.
      val base = ext.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn", "url_canon")
        .localCheckpoint(false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bench = base.filter(col("doc_id") % 50 === 0).select(col("doc_id"), col("text"))
      val gated = base.filter(TextOps.gopherPass(col("text"), sep = " the ",
        minWords = 20, minStopHits = 1))
      val curated = ops.Curate.curate(gated, "text", "doc_id")
        .localCheckpoint(false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nearDeduped = Dedup.nearDupKeepFirst(curated, "text", "doc_id",
        numHashes = 128, bands = 32, shingleSize = 5, threshold = 0.8)
      val exact = TextOps.decontaminate(nearDeduped, bench, "text", "doc_id",
        n = 5, minOverlap = 1)
      val cleaned = Dedup.fuzzyDecontaminate(exact, bench, "text", "doc_id",
          numHashes = 128, bands = 32, shingleSize = 5, threshold = 0.5)
        .localCheckpoint(false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
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
    }),

    "q_text_repetition" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s) // native word_shingles
      val metrics = TextOps.repetitionMetrics(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(col("doc_id") +: metrics: _*)
    }),

    // BM25 relevance retrieval against a literal query (Okapi, Lucene
    // lower-bounded idf) — the lexical data-selection complement of the
    // embedding ANN ladder: 'dup' is rare (df 25/500 at sf0.01) so it
    // dominates, 'hash'/'scan' are near-ubiquitous background terms.
    // Top-50 on the unrounded score, id tiebreak, full oracle
    "q_text_bm25" -> ((s, dir) =>
      ops.Retrieval.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
        query = "dup hash scan", k = 50)),

    // reciprocal-rank fusion of two BM25 top-50 lists from different
    // queries (the expanded-query hybrid shape; same combiner fuses
    // lexical ∪ ANN lists) — 1/(60+rank) summed, top-30, full oracle
    "q_text_rrf" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      ops.Retrieval.reciprocalRankFusion(
        Seq(
          (ops.Retrieval.bm25TopK(d, "text", "doc_id", "dup hash scan", k = 50),
            "bm25"),
          (ops.Retrieval.bm25TopK(d, "text", "doc_id", "sort key vector", k = 50),
            "bm25")),
        idCol = "doc_id", topK = 30)
    }),

    // phrase-blocklist gate (C4 badwords rule shape): ONE Aho–Corasick
    // automaton probe per row vs a per-phrase contains chain — same
    // semantics, so the oracle is the OR-of-contains SQL
    "q_text_blocklist" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.blocklisted(col("text"), blockPhrases).as("blocked"))
    }),

    // compression-ratio redundancy signal (native deflate_len
    // expression): deterministic per JDK zlib but not SQL-expressible →
    // rows-only; bounds + determinism contracted by DriverSuiteSpec
    // ("compression ratio signal"), planted ordering in OpsSpec
    "q_text_compress" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val metrics = TextOps.compressionMetrics(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(col("doc_id") +: metrics: _*)
    }),

    // PII scrubbing: counts per cascade stage + fingerprint of the
    // scrubbed text (the synthetic corpus has no PII, so counts are 0 and
    // fp equals md5(text) — the oracle still verifies the whole cascade
    // expression; planted-input semantics live in OpsSpec)
    "q_text_redact" -> ((s, dir) => {
      val counts = TextOps.piiCounts(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(
        (col("doc_id") +: counts :+
          md5(TextOps.redactPii(col("text")).cast("binary")).as("fp_redacted")): _*)
    }),

    // deterministic 1-in-10 hash sample (rerun- and layout-stable)
    "q_sample_hash" -> ((s, dir) =>
      Sample.sampleByHash(t(s, dir, "documents"), "doc_id", oneIn = 10, salt = "r3")
        .select(col("doc_id"))),

    // deterministic growth-stable train/val/test split (88/6/6)
    "q_sample_split" -> ((s, dir) =>
      Sample.splitByHash(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.88, "val" -> 0.06, "test" -> 0.06), salt = "r4")
        .select(col("doc_id"), col("split"))),

    // leakage-safe split: assignment keyed on the near-dup CLUSTER label,
    // so near-duplicates can never straddle the train/eval boundary
    "q_sample_split_safe" -> ((s, dir) =>
      Dedup.leakageSafeSplit(t(s, dir, "documents"), "text", "doc_id",
        Seq("train" -> 0.88, "val" -> 0.06, "test" -> 0.06), salt = "r7",
        numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("doc_id"), col("dup_group"), col("split"))),

    // deterministic pre-training shuffle: salted-hash permutation as
    // (shard, pos) addresses — ONE shard-partition + per-shard sort
    "q_sample_shuffle" -> ((s, dir) =>
      Sample.shuffleOrder(t(s, dir, "documents"), "doc_id", nShards = 8, salt = "r5")
        .select(col("doc_id"), col("shard"), col("pos"))),

    // exactly-40-document eval slice, hash-ranked (TakeOrdered plan)
    "q_sample_exact" -> ((s, dir) =>
      Sample.sampleExact(t(s, dir, "documents"), "doc_id", n = 40, salt = "r5")
        .select(col("doc_id"), col("lang"))),

    // per-language document-length histogram, 100-char bins
    "q_stats_histogram" -> ((s, dir) =>
      ops.Stats.histogram(t(s, dir, "documents"), "n_chars", width = 100.0,
        groupCols = Seq("lang")).orderBy(col("lang"), col("bin"))),

    // merit-ranked quota: the 3 best-quality documents per language
    "q_sample_top_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("quality", TextOps.qualityScore(col("text")))
      Sample.topKPerGroup(d, Seq("lang"), "quality", k = 3, tieCol = "doc_id")
        .select(col("doc_id"), col("lang"), col("quality"))
    }),

    // latest-wins compaction: each user's newest event (CDC compaction)
    "q_dedup_compact_latest" -> ((s, dir) =>
      Dedup.compactLatest(events(s, dir), "user_id", "ts", "event_id")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))),

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
    "q_stats_approx_distinct" -> ((s, dir) =>
      ops.Stats.approxDistinct(
        t(s, dir, "documents").withColumn("digest", md5(col("text"))),
        "digest", Seq("source"), rsd = 0.05)
        .select(col("source"), col("n_rows"), col("n_distinct"),
          (col("rel_err") <= 3 * 0.05).as("within_bound"))
        .orderBy(col("source"))),

    // rebalance the corpus to a target language mix (zh dropped): one
    // driver-sized count, then a narrow hash filter
    "q_sample_resample" -> ((s, dir) =>
      Sample.resampleToShares(t(s, dir, "documents"), "lang",
        Seq("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.2),
        "doc_id", salt = "r5")
        .select(col("doc_id"), col("lang"))),

    // corpus algebra by content digest: which src0-4 docs exist verbatim
    // in the rest of the corpus, and the subtraction that removes them
    "q_dedup_content_intersect" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.intersectByContent(
        d.filter(col("source").isin("src0", "src1", "src2", "src3", "src4")),
        d.filter(!col("source").isin("src0", "src1", "src2", "src3", "src4")),
        "text").select(col("doc_id")).orderBy(col("doc_id"))
    }),
    "q_dedup_content_except" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.exceptByContent(
        d.filter(col("source").isin("src0", "src1", "src2", "src3", "src4")),
        d.filter(!col("source").isin("src0", "src1", "src2", "src3", "src4")),
        "text").select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // crawl-to-crawl snapshot diff: simulate the next crawl as ids >= 100
    // with every 7th document edited
    "q_dedup_snapshot_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val prev = d.filter(col("doc_id") < 400)
      val next = d.filter(col("doc_id") >= 100)
        .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" edited v2"))).otherwise(col("text")))
      Dedup.snapshotDiff(prev, next, "doc_id", "text").orderBy(col("doc_id"))
    }),

    // cross-source duplication matrix (distinct shared content per pair)
    "q_dedup_source_overlap" -> ((s, dir) =>
      ops.Dedup.crossSourceOverlap(t(s, dir, "documents"), "text", "source")),

    // the same matrix in its 100 TB configuration: per-source HLL
    // sketches + inclusion–exclusion, digests never shuffle. Sketch
    // estimates by contract → rows-only; every pair's error vs the
    // exact twin is contracted within its own emitted err_bound
    // (DriverSuiteSpec "approx source overlap")
    "q_dedup_source_overlap_approx" -> ((s, dir) =>
      ops.Dedup.crossSourceOverlapApprox(t(s, dir, "documents"), "text", "source")),

    // key-distribution diagnostics on the natural join key of events
    "q_stats_heavy_hitters" -> ((s, dir) =>
      ops.Stats.heavyHitters(events(s, dir), "user_id", k = 20)),

    "q_stats_key_skew" -> ((s, dir) =>
      ops.Stats.keySkew(events(s, dir), "user_id")),

    // the REMEDY for the skew q_stats_key_skew measures: two-stage salted
    // aggregation over the events hot key — count/sum/avg merge partial
    // buffers, the exact distinct-count salts by value hash so per-bucket
    // distinct sets are disjoint. Result is identical to the unsalted
    // groupBy (full DuckDB oracle); the two-exchange plan shape is pinned
    // in PlanSpec, the parity + spread behavior in OpsSpec.
    "q_stats_salted_agg" -> ((s, dir) => {
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
    }),

    // temperature-scaled source mixture weights (alpha = 0.7, the
    // standard up-weight-the-tail setting)
    "q_sample_temperature" -> ((s, dir) =>
      Sample.temperatureWeights(t(s, dir, "documents"), "source", alpha = 0.7)),

    // one-pass numeric table profile (data-QA)
    "q_stats_profile" -> ((s, dir) =>
      ops.Stats.profileColumns(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // per-group quota: at most 5 events per user, hash-chosen
    "q_sample_cap_group" -> ((s, dir) =>
      Sample.capPerGroup(events(s, dir), "user_id", "event_id", n = 5, salt = "r3")
        .select(col("event_id"), col("user_id"))),

    // token-budget quota: each language capped at ~30k chars of documents,
    // hash-ordered prefix (may overrun by one doc — the packChunks contract)
    "q_sample_cap_tokens" -> ((s, dir) =>
      Sample.capTokensPerGroup(t(s, dir, "documents"), "lang", "doc_id", "n_chars",
        budget = 30000L, salt = "r4")
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    // epoch allocation under a 45k-token budget at 2-epoch repetition cap:
    // weights derived from the source name (src<i> → i%5 + 1) so the
    // water-filling exercises both regimes — at sf0.01 the high-weight
    // sources saturate and the rest split λ proportionally; at sf0.1 the
    // same budget saturates nothing (10× the tokens)
    "q_sample_epoch_alloc" -> ((s, dir) =>
      Sample.epochAllocation(t(s, dir, "documents"), "source",
        TextOps.tokenCount(col("text")),
        substring(col("source"), 4, 8).cast("int") % 5 + 1,
        budgetTokens = 45000.0, maxEpochs = 2.0)
        .orderBy(col("source"))),

    // the allocation MATERIALIZED: floor(epochs) full copies per source +
    // a hash-sampled fractional epoch, every copy epoch-tagged
    "q_sample_epoch_expand" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val alloc = Sample.epochAllocation(d, "source",
        TextOps.tokenCount(col("text")),
        substring(col("source"), 4, 8).cast("int") % 5 + 1,
        budgetTokens = 45000.0, maxEpochs = 2.0)
      Sample.expandEpochs(d, "source", "doc_id", alloc, salt = "r6")
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // per-group quantile gate: keep docs at/above their language's median
    // length — the relative-threshold curation knob (distributions differ
    // per language, so one absolute cutoff can't express this)
    "q_sample_quantile" -> ((s, dir) =>
      Sample.keepAboveQuantile(t(s, dir, "documents"), "lang", "n_chars", q = 0.5)
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    // weighted corpus mixture: two pseudo-sources over the documents
    // table at 50% / 25%, independently salted per source tag
    "q_sample_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sample.mixCorpora(Seq(("web", docs, 0.5), ("books", docs, 0.25)), "doc_id", salt = "r3")
        .select(col("source"), col("doc_id"))
    }),

    // context-window packing: 64-token chunks with 16 tokens of overlap
    "q_text_chunks" -> ((s, dir) =>
      TextOps.chunkTokens(t(s, dir, "documents"), "text", "doc_id",
        chunkSize = 64, overlap = 16)),

    // sequence packing: the same chunks greedily packed into 256-token
    // training sequences across 8 deterministic salted pack streams
    "q_text_pack" -> ((s, dir) =>
      TextOps.packChunks(
        TextOps.chunkTokens(t(s, dir, "documents"), "text", "doc_id",
          chunkSize = 64, overlap = 16),
        "doc_id", budget = 256, groups = 8, salt = "r4")
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          col("pack_group"), col("seq_idx"))),

    "q_text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.fingerprintMd5(col("text")).as("fp_md5"))),

    // benchmark decontamination: distinct 5-gram overlap of every corpus
    // document with the "evaluation set" (every 50th document) — the
    // planted near-dup clusters make nonzero overlaps exist
    "q_text_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.contaminationCounts(docs, docs.filter(col("doc_id") % 50 === 0),
        "text", "doc_id", n = 5)
        .orderBy(col("doc_id"))
    }),

    // bloom-prefiltered decontamination: bloom prunes, exact join
    // verifies — by contract row-identical to plain decontaminate, which
    // is what the oracle checks (DuckDB recomputes the EXACT overlap; the
    // bloom must not change the answer)
    "q_text_decontam_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.decontaminateBloom(docs, docs.filter(col("doc_id") % 50 === 0),
        "text", "doc_id", n = 5, minOverlap = 1, fpp = 0.01)
        .select(col("doc_id"))
    }),

    "q_text_fingerprint_rolling" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s) // native word_shingles
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.fingerprintRolling(col("text")).as("fp_roll"))
    }),

    // winnow-fingerprint overlap: near-dup candidates from fingerprints
    // alone (>= 2 shared winnowed hashes)
    "q_text_winnow_overlap" -> ((s, dir) =>
      TextOps.winnowOverlap(t(s, dir, "documents"), "text", "doc_id")),

    // solver-dialed winnow overlap (the bounded 100 TB default): window
    // solved from the corpus size via the candidate-volume model; at the
    // correctness SFs the solver returns the floor, so this row shares
    // q_text_winnow_overlap's oracle bit-for-bit (dial = config, not
    // semantics)
    "q_text_winnow_auto" -> ((s, dir) =>
      TextOps.winnowOverlapAuto(t(s, dir, "documents"), "text", "doc_id")),

    // winnowing (MOSS) fingerprint: distinct window-min shingle hashes,
    // canonicalized to a sorted joined string for the array-free compare
    "q_text_fingerprint_winnow" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val fp = TextOps.fingerprintWinnow(col("text"), k = 5, w = 4)
      t(s, dir, "documents").select(
        col("doc_id"),
        array_join(transform(fp, h => h.cast("string")), ",").as("fp_winnow"),
        size(fp).cast("long").as("n_selected"))
    }),

    // Unicode NFC canonical composition (native nfc_normalize): the
    // digest-stability hygiene step before any digest-keyed dedup on
    // non-ASCII corpora. This corpus is ASCII so every row reports
    // already_nfc = true — the oracle still verifies the expression
    // end-to-end; combining-mark/ligature semantics live in
    // VectorExprSpec's planted fixtures
    "q_text_nfc" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val nfc = graft.functions.GraftFunctions.nfcNormalize(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        length(nfc).cast("long").as("nfc_chars"),
        (nfc === col("text")).as("already_nfc"))
    }),

    // encoding-hygiene metrics (this corpus is clean ASCII, so counts are
    // 0 and the ratio 0.0 — the oracle still verifies every expression;
    // planted mojibake semantics live in OpsSpec)
    "q_text_encoding" -> ((s, dir) => {
      val m = TextOps.encodingMetrics(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents").select(col("doc_id") +: m: _*)
    }),

    // corpus-level duplication meter: fraction of each doc's distinct
    // 8-shingles that occur in >= 2 documents (nonzero via the planted
    // near-dup clusters)
    "q_text_corpus_dup" -> ((s, dir) =>
      TextOps.corpusDupStats(t(s, dir, "documents"), "text", "doc_id", k = 8, minDocs = 2)),

    // line-level boilerplate removal: the synthetic corpus is single-line,
    // so " the " stands in as the line separator (43 segments repeat
    // across >= 2 docs at sf0.01 — the operator genuinely rewrites text
    // here); real newline-separated corpora pass sep = "\n"
    "q_text_boilerplate" -> ((s, dir) =>
      TextOps.removeBoilerplate(t(s, dir, "documents"), "text", "doc_id",
        sep = " the ", minDocs = 2)),

    // incremental boilerplate (daily-crawl shape): the batch scrubbed
    // against the HISTORY's persisted frequent-segment store — history
    // frequency decides, batch-internal repetition doesn't
    "q_text_boilerplate_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.removeBoilerplateWith(
        docs.filter(col("doc_id") >= 250),
        TextOps.boilerplateDigests(docs.filter(col("doc_id") < 250),
          "text", " the ", minDocs = 2),
        "text", "doc_id", sep = " the ")
    }),

    // exact dedup with the provenance audit trail: which sources held
    // copies of each surviving representative, and how many
    "q_dedup_provenance" -> ((s, dir) =>
      Dedup.exactKeepFirstWithProvenance(t(s, dir, "documents"),
        "text", "doc_id", "source")
        .select(col("doc_id"), col("n_copies"), col("sources"))),

    // Gopher §A1.1 rule battery; the synthetic corpus has no bullets or
    // ellipses (those rules pass trivially here — planted unit tests
    // exercise them), so the gate discriminates on word count and the
    // required-stopword rule (relaxed to 1: only "the" appears)
    "q_text_gopher" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val metrics = TextOps.gopherMetrics(col("text"), sep = " the ")
        .map { case (n, c) => c.as(n) }
      d.select((col("doc_id") +: metrics :+
        TextOps.gopherPass(col("text"), sep = " the ",
          minWords = 20, minStopHits = 1).as("pass")): _*)
    }),

    // C4 line/document cleaning; terminal-punctuation rule off (the
    // synthetic text has no punctuation — planted unit tests cover it)
    "q_text_c4" -> ((s, dir) =>
      TextOps.c4Clean(t(s, dir, "documents"), "text", "doc_id",
        sep = " the ", minLineWords = 4, requireTerminalPunct = false)),

    // ---- training-data pipeline: multimodal ----
    // REAL header parse (round 7): payloads carry genuine container
    // structure (PNG/JPEG/WAV/AVI, built declaratively from the
    // documents table), decodeMeta walks the actual bytes (media_meta
    // native expression), and the oracle rebuilds the same header bytes
    // in DuckDB blob SQL and parses the dimensions back out of them at
    // the container offsets — both engines read the numbers out of the
    // bytes, neither copies the generator formulas.
    "q_mm_decode_meta" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val media = Multimodal.encodedMediaTable(t(s, dir, "documents"))
      media.select(col("media_id"), col("modality"),
        Multimodal.decodeMeta(col("payload")).as("m"))
        .select(col("media_id"), col("modality"), col("m.format").as("format"),
          col("m.width"), col("m.height"), col("m.sample_rate"), col("m.n_frames"),
          col("m.duration_ms"))
    }),

    // parse → resize composition over the REAL parsed metadata: the
    // round-6 resize row kept its synthetic-metadata oracle; this one
    // proves resizeMeta composes on decodeMeta's output unchanged
    "q_mm_decode_resize" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val media = Multimodal.encodedMediaTable(t(s, dir, "documents"))
      media.select(col("media_id"), Multimodal.decodeMeta(col("payload")).as("m"))
        .filter(col("m.width").isNotNull)
        .select(col("media_id"),
          col("m.width").as("width"), col("m.height").as("height"),
          Multimodal.resizeMeta(col("m"), 256).getField("width").as("r_width"),
          Multimodal.resizeMeta(col("m"), 256).getField("height").as("r_height"))
    }),

    // features are array<float>; canonicalized to a fixed-format joined
    // string so the driver's compare layer can hash the column
    "q_mm_features" -> ((s, dir) =>
      Multimodal.syntheticMediaTable(t(s, dir, "documents"))
        .select(col("media_id"),
          array_join(transform(Multimodal.featurize(col("payload"), 16),
            f => format_string("%.6f", f)), ",").as("features"))),

    "q_mm_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(Multimodal.syntheticMediaTable(t(s, dir, "documents")), 4)
        .withColumn("frame_len", length(col("frame_bytes")))
        .drop("frame_bytes")),

    // resizeMeta over SQL-expressible synthetic metadata (text-length
    // derived, not the xxhash64 stub), so the resize arithmetic itself
    // gets a true DuckDB oracle
    "q_mm_resize" -> ((s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        struct(
          (pmod(length(col("text")), lit(1280)) + 640).cast("int").as("width"),
          (pmod(length(col("text")), lit(720)) + 360).cast("int").as("height"),
          lit(null).cast("int").as("sample_rate"),
          lit(null).cast("int").as("n_frames"),
        ).as("meta"))
      media.select(
        col("media_id"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        Multimodal.resizeMeta(col("meta"), 256).getField("width").as("r_width"),
        Multimodal.resizeMeta(col("meta"), 256).getField("height").as("r_height"))
    }),

    "q_mm_batched_decode" -> ((s, dir) =>
      Multimodal.decodeBatched(Multimodal.syntheticMediaTable(t(s, dir, "documents")))
        .select(col("media_id"), col("modality"), col("decoded_bytes"))),

    // ---- events: time-window aggregation ----
    "q_events_window" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))),

    // windowed anomaly meter: per-(type, hour) volume/value z-scores vs
    // the per-type baseline, flagged at |z| >= 2 — the monitoring shape
    // (streaming twin serves a persisted baseline; StreamingSpec parity)
    "q_events_anomaly" -> ((s, dir) =>
      graft.streaming.EventStream.windowAnomaly(events(s, dir),
        zThreshold = 2.0)),

    // trailing-baseline anomaly meter: each (type, hour) vs its own
    // preceding 24 observed windows (warm-up head emits null z) — the
    // regime-change-robust twin of q_events_anomaly
    "q_events_anomaly_trail" -> ((s, dir) =>
      graft.streaming.EventStream.windowAnomalyTrailing(events(s, dir),
        lookback = 24, minPrior = 3, zThreshold = 2.0)),

    // batch twin of the streaming sessionization (gap = 30 min)
    "q_events_sessionize" -> ((s, dir) =>
      graft.streaming.EventStream.sessionizeBatch(events(s, dir), gapMinutes = 30)),

    // as-of join: every purchase enriched with the user's latest
    // at-or-before click (right side pre-deduped to one row per
    // (user, ts) — the operator's documented precondition)
    "q_events_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
      val clicks = ev.filter(col("event_type") === "click")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("user_id"), col("ts"), col("value"))
      ops.Joins.asofJoin(purchases, clicks, "user_id", "ts", "value", prefix = "last_click_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("last_click_value"),
          unix_micros(col("last_click_ts")).as("last_click_ts_us"))
    }),

    // multi-value as-of: real enrichment attaches several columns at once
    // — value AND props ride the one struct carry (still a single window
    // pass), mirrored by DuckDB ASOF selecting both
    "q_events_asof_multi" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
      val clicks = ev.filter(col("event_type") === "click")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("user_id"), col("ts"), col("value"), col("props"))
      ops.Joins.asofJoin(purchases, clicks, "user_id", "ts",
          Seq("value", "props"), prefix = "last_click_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("last_click_value"), col("last_click_props"),
          unix_micros(col("last_click_ts")).as("last_click_ts_us"))
    }),

    // keyed range join: attribute every click to the 30-min-gap session
    // interval it falls in (sessions over ALL events, so each click has
    // exactly one home). Half-open [lo, hi) core, so the inclusive
    // session end passes end+1 on the µs domain; bucketWidth = 1 h ≈ the
    // session-length scale
    "q_events_range" -> ((s, dir) => {
      val ev = events(s, dir)
      val sessions = graft.streaming.EventStream.sessionizeBatch(ev, gapMinutes = 30)
        .select(col("user_id"), col("session_id"), col("session_start_us"),
          (col("session_end_us") + 1).as("session_end_excl"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      ops.Joins.rangeJoin(clicks, sessions, "ts_us", "session_start_us", "session_end_excl",
        bucketWidth = 3600e6, keyCols = Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("session_id"))
    }),

    // ---- embedding hygiene / statistics ----
    // L2 normalization: norm + unit vector, canonicalized to fixed-format
    // strings (pre-rounded so half-up vs half-even formatting can't differ)
    "q_emb_normalize" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s) // native vec_l2normalize
      t(s, dir, "embeddings").select(
        col("vec_id"),
        format_string("%.6f", round(sqrt(ops.Embeddings.normSq(col("embedding"))), 6)).as("norm"),
        array_join(transform(ops.Embeddings.l2Normalize(col("embedding")),
          x => format_string("%.6f", round(x, 6))), ",").as("unit_vec"))
    }),

    // per-label centroid via the exploded-cell aggregation
    "q_emb_centroid" -> ((s, dir) =>
      ops.Embeddings.groupCentroids(t(s, dir, "embeddings"), "embedding", "label")
        .select(col("label"), col("n"),
          array_join(transform(col("centroid"),
            m => format_string("%.6f", round(m, 6))), ",").as("centroid"))),

    // in-engine PCA, cross-engine-checkable invariant: with the COMPLETE
    // basis (k = dim) the projection preserves centered norms, and the
    // oracle recomputes ‖x − μ‖² independently in SQL (μ from per-dim
    // averages) — an eigendecomposition cannot be replayed in SQL, but
    // the orthonormal-completeness of the learned basis can be checked
    "q_emb_pca_norm" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val m = pcaFor(s, dir, k = 64)
      t(s, dir, "embeddings").select(col("vec_id"),
        round(ops.Embeddings.normSq(
          ops.Embeddings.pcaProject(m, col("embedding"))), 4).as("centered_norm_sq"))
        .orderBy(col("vec_id"))
    }),

    // explained-variance curve (the dimensionality diagnostic before
    // choosing PQ/SQ budgets); eigen output → rows-only, contracts in
    // DriverSuiteSpec (descending, shares sum to 1, trace match)
    "q_emb_pca_var" -> ((s, dir) => {
      val m = pcaFor(s, dir, k = 64)
      val shares = m.eigenvalues.map(_ / m.totalVariance)
      val cum = shares.scanLeft(0.0)(_ + _).tail
      import s.implicits._
      m.eigenvalues.indices.map(i =>
        (i, math.rint(m.eigenvalues(i) * 1e6) / 1e6,
          math.rint(shares(i) * 1e6) / 1e6, math.rint(cum(i) * 1e6) / 1e6))
        .toDF("component", "eigenvalue", "share", "cum_share")
    }),

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
    "q_emb_pca_whiten" -> ((s, dir) => {
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
    }),
  )

  // Shared SQL fragments for the text oracles (must mirror TextOps exactly).
  private val oracleTokens =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"

  /** The exact perplexity-bucket assignment as one DuckDB query — the
    * q_lm_bucket oracle body, shared with q_lm_bucket_approx's agreement
    * oracle (which aggregates the same assignment per bucket).
    */
  private lazy val oracleLmBucketSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($oracleTokens) AS token FROM documents
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
       |), cnt AS (
       |  SELECT token, count(*) AS n FROM toks GROUP BY 1
       |), tot AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_total,
       |    CAST(count(DISTINCT token) AS DOUBLE) AS vocab
       |  FROM toks
       |), scored AS (
       |  SELECT doc_id,
       |    round(sum(tf * -log2((n + 1.0) / (n_total + vocab))) / sum(tf), 6)
       |      AS bits
       |  FROM tf JOIN cnt USING (token), tot
       |  GROUP BY doc_id
       |), cuts AS (
       |  SELECT quantile_cont(bits, 1.0/3) AS c1, quantile_cont(bits, 2.0/3) AS c2
       |  FROM scored
       |)
       |SELECT doc_id,
       |  CASE WHEN bits <= c1 THEN 'head'
       |       WHEN bits <= c2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM scored, cuts""".stripMargin

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

  /** Word k-shingles of a `tokens` list (mirrors ShingleUtil's k-gram
    * join; empty when the document has fewer than k tokens).
    */
  private def oracleShingles(k: Int): String =
    s"list_transform(range(1, greatest(len(tokens) - ${k - 1}, 0) + 1), i -> array_to_string(list_slice(tokens, i, i + ${k - 1}), ' '))"

  /** Duplicate-shingle fraction of a shingle-list column (mirrors
    * TextOps.dupNgramFraction).
    */
  private def oracleDupFrac(col: String): String =
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
  private def oracleShingleJaccard(
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
  private def oracleMd5Long(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** The messyUrl synthesis as one SQL expression (mirrors the driver's
    * Column builder case for case).
    */
  private val oracleMessyUrl: String =
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END || '://' || " +
      "CASE doc_id % 4 WHEN 0 THEN 'Example.COM' WHEN 1 THEN 'WWW.News-Site.ORG' " +
      "WHEN 2 THEN 'Docs.Example.COM' ELSE 'example.com' END || " +
      "CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/Articles/' || doc_id END || " +
      "CASE doc_id % 5 WHEN 0 THEN '?utm_source=feed&b=2&a=1' WHEN 1 THEN '?z=9&a=1&utm_campaign=x' " +
      "WHEN 2 THEN '?gclid=abc' WHEN 3 THEN '' ELSE '?b=2&a=1' END || " +
      "CASE WHEN doc_id % 2 = 1 THEN '#section-2' ELSE '' END)"

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

  /** Shared hashed-n-gram feature CTEs for the DSIR/divergence oracles:
    * one row per (doc, n-gram OCCURRENCE) with its 2048-way md5 bucket —
    * mirrors `Dsir.hashedNgramBuckets` (unigrams ++ 2-token shingles,
    * multiplicity preserved).
    */
  private val oracleDsirFeat =
    s"""toks AS (
       |  SELECT doc_id, lang, $oracleTokens AS tokens FROM documents
       |), ng AS (
       |  SELECT doc_id, lang, unnest(tokens) AS g FROM toks
       |  UNION ALL
       |  SELECT doc_id, lang, unnest(${oracleShingles(2)}) AS g FROM toks
       |), feat AS (
       |  SELECT doc_id, lang, ${oracleMd5Long("g")} % 2048 AS bucket FROM ng
       |)""".stripMargin

  /** The DSIR per-document importance-weight SELECT (target = English
    * slice, raw = whole corpus, add-1 smoothing over 2048 buckets) —
    * shared by the weights and resample oracles.
    */
  private val oracleDsirWeights =
    s"""WITH $oracleDsirFeat,
       |tc AS (SELECT bucket, count(*) AS ct FROM feat WHERE lang = 'en' GROUP BY 1),
       |rc AS (SELECT bucket, count(*) AS cr FROM feat GROUP BY 1),
       |tot AS (SELECT
       |  (SELECT CAST(count(*) AS DOUBLE) FROM feat WHERE lang = 'en') AS nt,
       |  (SELECT CAST(count(*) AS DOUBLE) FROM feat) AS nr)
       |SELECT f.doc_id, count(*) AS n_ngrams,
       |  round(sum(log2((coalesce(ct, 0) + 1.0) / (nt + 2048.0))
       |          - log2((coalesce(cr, 0) + 1.0) / (nr + 2048.0))), 6) AS log_weight
       |FROM feat f LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tot
       |GROUP BY 1""".stripMargin

  /** The DuckDB replay of BPE application under [[fixedBpeMerges]]:
    * rank-order merge passes (the trained-table equivalent of the native
    * greedy min-rank loop), each pass a `list_reduce` fold that merges
    * adjacent (left, right) occurrences left-to-right non-overlapping.
    * Words ride as comma-joined symbol strings (tokens are [a-z0-9]+, so
    * ',' can never collide with a symbol): a fold step either appends
    * `,s` or — when the accumulated tail symbol is `left` and `s` is
    * `right` — appends `s` bare, fusing the tail into `left||right`.
    * Overlap safety falls out: the fused tail can never equal `left`
    * again within the pass (that would need an empty `right`).
    */
  private val oracleBpeApplyFixed: String = {
    def mergePass(a: String, b: String) = {
      val na = a.length + 1
      s"list_reduce(string_split(w, ','), (acc, s) -> " +
        s"CASE WHEN s = '$b' AND (acc = '$a' OR right(acc, $na) = ',$a') " +
        s"THEN acc || '$b' ELSE acc || ',' || s END)"
    }
    val stages = fixedBpeMerges.sortBy(_.rank).zipWithIndex.map {
      case (m, k) =>
        s"s${k + 1} AS (SELECT doc_id, list_transform(ws, w -> " +
          s"${mergePass(m.left, m.right)}) AS ws FROM s$k)"
    }
    s"""WITH toks AS (
       |  SELECT doc_id, $oracleTokens AS tokens FROM documents
       |), s0 AS (
       |  SELECT doc_id, list_transform(tokens, w ->
       |    array_to_string(list_transform(range(1, len(w) + 1), i ->
       |      substr(w, CAST(i AS INT), 1)), ',')) AS ws
       |  FROM toks
       |), ${stages.mkString(",\n")},
       |fin AS (
       |  SELECT doc_id,
       |    flatten(list_transform(ws, w -> string_split(w, ','))) AS subs
       |  FROM s${fixedBpeMerges.size}
       |)
       |SELECT doc_id, len(subs) AS n_subwords,
       |  array_to_string(subs, ' ') AS subwords
       |FROM fin""".stripMargin
  }

  /** The DuckDB replay of `Dsir.solveMixture` (target = 'en' slice,
    * 5 sorted slices, lr 2.0, 500 iterations): smoothed bucket
    * distributions built exactly like the engine's (`smooth`: add-1 over
    * 2048 buckets, sequential-order normalizer), zipped into ONE struct
    * list, then a recursive CTE runs the exponentiated-gradient loop —
    * every sum written in the engine's accumulation order (sources
    * left-to-right in the mix and the normalizer, buckets in list order
    * for the gradients and KLs) so the float trajectories coincide and
    * the 6-dp rounding hash-matches.
    */
  private val oracleDsirMixture: String = {
    val mixw = "(w1 * s.p1 + w2 * s.p2 + w3 * s.p3 + w4 * s.p4 + w5 * s.p5)"
    def gI(i: Int) =
      s"list_sum(list_transform(zed.z, s -> s.t * s.p$i / $mixw))"
    val gmax = "greatest(g1, g2, g3, g4, g5)"
    def uI(i: Int) = s"w$i * exp(2.0 * (g$i - $gmax))"
    val usum = (1 to 5).map(uI).mkString("(", " + ", ")")
    val iters = 500
    s"""WITH RECURSIVE $oracleDsirFeat,
       |counts AS (
       |  SELECT CAST(lang AS VARCHAR) AS slice, bucket, count(*) AS n
       |  FROM feat WHERE lang IS NOT NULL GROUP BY 1, 2
       |), grid AS (
       |  SELECT s.slice, r.range AS b
       |  FROM (SELECT DISTINCT slice FROM counts) s, range(2048) r
       |), dense AS (
       |  SELECT g.slice, g.b, 1.0 + coalesce(c.n, 0) AS a
       |  FROM grid g LEFT JOIN counts c ON c.slice = g.slice AND c.bucket = g.b
       |), lists AS (
       |  SELECT slice, list(a ORDER BY b) AS arr FROM dense GROUP BY slice
       |), dists AS (
       |  SELECT slice, row_number() OVER (ORDER BY slice) AS i,
       |         list_transform(arr, x -> x / list_sum(arr)) AS p
       |  FROM lists
       |), zed AS MATERIALIZED (
       |  SELECT
       |    max(CASE WHEN i = 1 THEN slice END) AS n1,
       |    max(CASE WHEN i = 2 THEN slice END) AS n2,
       |    max(CASE WHEN i = 3 THEN slice END) AS n3,
       |    max(CASE WHEN i = 4 THEN slice END) AS n4,
       |    max(CASE WHEN i = 5 THEN slice END) AS n5,
       |    CAST(list_zip(
       |      max(CASE WHEN slice = 'en' THEN p END),
       |      max(CASE WHEN i = 1 THEN p END),
       |      max(CASE WHEN i = 2 THEN p END),
       |      max(CASE WHEN i = 3 THEN p END),
       |      max(CASE WHEN i = 4 THEN p END),
       |      max(CASE WHEN i = 5 THEN p END)) AS
       |      STRUCT(t DOUBLE, p1 DOUBLE, p2 DOUBLE, p3 DOUBLE,
       |             p4 DOUBLE, p5 DOUBLE)[]) AS z
       |  FROM dists
       |), eg AS (
       |  SELECT 0 AS it, FALSE AS haveg,
       |         CAST(0.2 AS DOUBLE) AS w1, CAST(0.2 AS DOUBLE) AS w2,
       |         CAST(0.2 AS DOUBLE) AS w3, CAST(0.2 AS DOUBLE) AS w4,
       |         CAST(0.2 AS DOUBLE) AS w5,
       |         CAST(NULL AS DOUBLE) AS g1, CAST(NULL AS DOUBLE) AS g2,
       |         CAST(NULL AS DOUBLE) AS g3, CAST(NULL AS DOUBLE) AS g4,
       |         CAST(NULL AS DOUBLE) AS g5
       |  UNION ALL
       |  SELECT
       |    it + CASE WHEN haveg THEN 1 ELSE 0 END, NOT haveg,
       |    CASE WHEN haveg THEN ${uI(1)} / $usum ELSE w1 END,
       |    CASE WHEN haveg THEN ${uI(2)} / $usum ELSE w2 END,
       |    CASE WHEN haveg THEN ${uI(3)} / $usum ELSE w3 END,
       |    CASE WHEN haveg THEN ${uI(4)} / $usum ELSE w4 END,
       |    CASE WHEN haveg THEN ${uI(5)} / $usum ELSE w5 END,
       |    CASE WHEN haveg THEN NULL ELSE ${gI(1)} END,
       |    CASE WHEN haveg THEN NULL ELSE ${gI(2)} END,
       |    CASE WHEN haveg THEN NULL ELSE ${gI(3)} END,
       |    CASE WHEN haveg THEN NULL ELSE ${gI(4)} END,
       |    CASE WHEN haveg THEN NULL ELSE ${gI(5)} END
       |  FROM eg, zed
       |  WHERE haveg OR it < $iters
       |), fin AS (
       |  SELECT w1, w2, w3, w4, w5 FROM eg WHERE NOT haveg AND it = $iters
       |), kls AS (
       |  SELECT
       |    round((SELECT list_sum(list_transform(zed.z, s -> s.t * ln(s.t /
       |      (0.2 * s.p1 + 0.2 * s.p2 + 0.2 * s.p3 + 0.2 * s.p4 + 0.2 * s.p5))))
       |      / ln(2.0) FROM zed), 6) AS klu,
       |    round((SELECT list_sum(list_transform(zed.z, s -> s.t * ln(s.t /
       |      (w1 * s.p1 + w2 * s.p2 + w3 * s.p3 + w4 * s.p4 + w5 * s.p5))))
       |      / ln(2.0) FROM zed, fin), 6) AS klo
       |)
       |SELECT v.source, v.weight, kls.klu AS kl_uniform_bits, kls.klo AS kl_opt_bits
       |FROM (
       |  SELECT zed.n1 AS source, round(fin.w1, 6) AS weight FROM zed, fin
       |  UNION ALL SELECT zed.n2, round(fin.w2, 6) FROM zed, fin
       |  UNION ALL SELECT zed.n3, round(fin.w3, 6) FROM zed, fin
       |  UNION ALL SELECT zed.n4, round(fin.w4, 6) FROM zed, fin
       |  UNION ALL SELECT zed.n5, round(fin.w5, 6) FROM zed, fin
       |) v, kls
       |ORDER BY v.source""".stripMargin
  }

  /** Little-endian u32 of an int expression as 8 hex chars (byte-swapped
    * big-endian hex) — the DuckDB mirror of Multimodal's `le32` byte
    * builder, emitted as hex text to be `unhex`ed into the header blob.
    */
  private def oracleLe32Hex(e: String): String =
    s"substr(lpad(hex($e),8,'0'),7,2)||substr(lpad(hex($e),8,'0'),5,2)||" +
      s"substr(lpad(hex($e),8,'0'),3,2)||substr(lpad(hex($e),8,'0'),1,2)"

  /** Parse a big-endian unsigned int out of the header blob's hex dump
    * `hh` at 1-based BYTE offset `byteOff`, `nBytes` wide.
    */
  private def oracleBeParse(byteOff: Int, nBytes: Int): String =
    s"CAST('0x'||substr(hh,${2 * byteOff - 1},${2 * nBytes}) AS BIGINT)"

  /** Parse a little-endian u32 out of the header hex dump `hh` at 1-based
    * BYTE offset `byteOff` (swap the four byte pairs, then read as hex).
    */
  private def oracleLeParse(byteOff: Int): String = {
    val c = 2 * byteOff - 1
    s"CAST('0x'||substr(hh,${c + 6},2)||substr(hh,${c + 4},2)||" +
      s"substr(hh,${c + 2},2)||substr(hh,$c,2) AS BIGINT)"
  }

  /** The decode-meta oracle core: rebuild the SAME container header bytes
    * the Spark encoder writes (PNG sig+IHDR / JPEG SOI+APP0+SOF0 / WAV
    * RIFF+fmt / AVI RIFF+hdrl+avih, as one unhex'ed blob), then detect
    * the format from the magic bytes and parse the dimensions back OUT of
    * the bytes at the container offsets — the oracle reads the numbers
    * from the blob exactly like the media_meta expression does, it does
    * not shortcut to the generator formulas. Yields (media_id, modality,
    * format, width, height, sample_rate, n_frames).
    */
  private lazy val oracleDecodeMeta: String = {
    // header hex layouts; text bytes ride after these prefixes and are
    // irrelevant to the parse (all parsed fields sit inside the prefix)
    val pngHex = "'89504E470D0A1A0A'||'0000000D'||'49484452'" + // sig, len 13, IHDR
      "||lpad(hex(w),8,'0')||lpad(hex(h),8,'0')"
    val jpegHex = "'FFD8'||'FFE00010'||'4A464946'||'00010100000100010000'" + // SOI, APP0 len 16, JFIF\0...
      "||'FFC0000B08'||lpad(hex(h),4,'0')||lpad(hex(w),4,'0')" // SOF0 len 11, prec 8, H, W
    val wavHex = s"'52494646'||${oracleLe32Hex("36+len")}||'57415645'" + // RIFF, size, WAVE
      s"||'666D7420'||'10000000'||'01000100'||${oracleLe32Hex("rate")}" + // fmt , 16, PCM mono, rate
      s"||${oracleLe32Hex("rate*2")}||'02001000'" + // byte rate, block align 2, 16-bit
      s"||'64617461'||${oracleLe32Hex("len")}" // data, len
    val aviHex = s"'52494646'||${oracleLe32Hex("88+len")}||'41564920'" + // RIFF, size, AVI_
      s"||'4C495354'||'44000000'||'6864726C'||'61766968'||'38000000'" + // LIST, 68, hdrl, avih, 56
      s"||${oracleLe32Hex("33333")}||'000000000000000000000000'" + // µs/frame, 3 zero dwords
      s"||${oracleLe32Hex("fr")}||'00000000'||'01000000'||'00000000'" + // frames, initial, streams, bufsize
      s"||${oracleLe32Hex("w")}||${oracleLe32Hex("h")}" // dwWidth, dwHeight
    // FLAC: magic, last-flag STREAMINFO (34), block sizes, unknown frame
    // sizes, bit-packed rate (20)/mono/16-bit (8)/samples (36), zero md5
    val flacHex = "'664C6143'||'80000022'||'10001000'||'000000000000'" +
      "||lpad(hex(rate//16),4,'0')||lpad(hex((rate%16)*16),2,'0')||'F0'" +
      "||lpad(hex(smp),8,'0')||repeat('0',32)"
    // MP3: MPEG-1 Layer III frame header, bitrate idx 9 (128k), srIdx<<2
    val mp3Frame = "'FFFB'||lpad(hex(144 + (len%3)*4),2,'0')||'00'"
    // ID3v2.3 tag: header (10 B, syncsafe size 10) + 10 padding bytes
    val mp3Id3 = s"'494433'||'0300'||'00'||'0000000A'||repeat('00',10)||$mp3Frame"
    // identity transform matrix of mvhd/tkhd (1.0, 1.0, 16.30-coded 1.0)
    val mtx = "'000100000000000000000000'||'000000000001000000000000'||" +
      "'000000000000000040000000'"
    val mp4Hex = "'00000010'||'66747970'||'69736F6D'||'00000200'" + // ftyp isom
      "||'000000D8'||'6D6F6F76'" + // moov (216)
      "||'0000006C'||'6D766864'||'00000000'||'00000000'||'00000000'" + // mvhd (108) v0, ctime, mtime
      s"||'000003E8'||lpad(hex(dur),8,'0')" + // timescale 1000, duration (ms)
      s"||'00010000'||'01000000'||'00000000'||'00000000'||$mtx" + // rate, volume+rsvd, rsvd×2, matrix
      "||'000000000000000000000000'||'000000000000000000000000'" + // pre_defined ×6
      "||'00000002'" + // next_track_ID
      "||'00000064'||'7472616B'" + // trak (100)
      "||'0000005C'||'746B6864'||'00000007'||'00000000'||'00000000'" + // tkhd (92) v0+flags, ctime, mtime
      s"||'00000001'||'00000000'||lpad(hex(dur),8,'0')" + // track_ID, rsvd, duration
      s"||'00000000'||'00000000'||'0000000000000000'||$mtx" + // rsvd×2, layer/group/vol/rsvd, matrix
      "||lpad(hex(w*65536),8,'0')||lpad(hex(h*65536),8,'0')" + // width, height as 16.16
      s"||${"lpad(hex(len+8),8,'0')"}||'6D646174'" // mdat header
    // parsed-field fragments shared between the sample_rate and
    // duration columns (FLAC packs rate into 20 bits at body+10; MP3's
    // header byte sits at offset 2, or 22 past the ID3 tag)
    val flacRate = s"(${oracleBeParse(19, 2)} * 16 + CAST('0x' || substr(hh,41,1) AS BIGINT))"
    val flacSamples =
      s"(CAST('0x' || substr(hh,44,1) AS BIGINT) * 4294967296 + ${oracleBeParse(23, 4)})"
    val mp3Rates = "[44100,48000,32000]"
    val mp3Bitrates = "[0,32,40,48,56,64,80,96,112,128,160,192,224,256,320]"
    def mp3Hdr(byteOff: Int) = s"CAST('0x' || substr(hh,${2 * byteOff - 1},2) AS BIGINT)"
    s"""SELECT doc_id AS media_id, modality,
       |  CASE WHEN substr(hh,1,16) = '89504E470D0A1A0A' THEN 'png'
       |       WHEN substr(hh,1,4) = 'FFD8' THEN 'jpeg'
       |       WHEN substr(hh,1,8) = '52494646' AND substr(hh,17,8) = '57415645' THEN 'wav'
       |       WHEN substr(hh,1,8) = '52494646' AND substr(hh,17,8) = '41564920' THEN 'avi'
       |       WHEN substr(hh,9,8) = '66747970' THEN 'mp4'
       |       WHEN substr(hh,1,8) = '664C6143' THEN 'flac'
       |       WHEN substr(hh,1,4) = 'FFFB' OR substr(hh,1,6) = '494433' THEN 'mp3'
       |  END AS format,
       |  CAST(CASE WHEN substr(hh,1,16) = '89504E470D0A1A0A' THEN ${oracleBeParse(17, 4)}
       |            WHEN substr(hh,1,4) = 'FFD8' THEN ${oracleBeParse(28, 2)}
       |            WHEN substr(hh,17,8) = '41564920' THEN ${oracleLeParse(65)}
       |            WHEN substr(hh,9,8) = '66747970' THEN ${oracleBeParse(225, 2)}
       |  END AS INTEGER) AS width,
       |  CAST(CASE WHEN substr(hh,1,16) = '89504E470D0A1A0A' THEN ${oracleBeParse(21, 4)}
       |            WHEN substr(hh,1,4) = 'FFD8' THEN ${oracleBeParse(26, 2)}
       |            WHEN substr(hh,17,8) = '41564920' THEN ${oracleLeParse(69)}
       |            WHEN substr(hh,9,8) = '66747970' THEN ${oracleBeParse(229, 2)}
       |  END AS INTEGER) AS height,
       |  CAST(CASE WHEN substr(hh,17,8) = '57415645' THEN ${oracleLeParse(25)}
       |            WHEN substr(hh,1,8) = '664C6143' THEN $flacRate
       |            WHEN substr(hh,1,4) = 'FFFB' THEN $mp3Rates[(${mp3Hdr(3)} // 4) % 4 + 1]
       |            WHEN substr(hh,1,6) = '494433' THEN $mp3Rates[(${mp3Hdr(23)} // 4) % 4 + 1]
       |  END AS INTEGER) AS sample_rate,
       |  CAST(CASE WHEN substr(hh,17,8) = '41564920' THEN ${oracleLeParse(49)}
       |  END AS INTEGER) AS n_frames,
       |  CAST(CASE WHEN substr(hh,17,8) = '57415645' THEN (${oracleLeParse(41)} * 1000) // ${oracleLeParse(29)}
       |            WHEN substr(hh,17,8) = '41564920' THEN (${oracleLeParse(33)} * ${oracleLeParse(49)}) // 1000
       |            WHEN substr(hh,9,8) = '66747970' THEN (${oracleBeParse(49, 4)} * 1000) // ${oracleBeParse(45, 4)}
       |            WHEN substr(hh,1,8) = '664C6143' THEN ($flacSamples * 1000) // $flacRate
       |            WHEN substr(hh,1,4) = 'FFFB' THEN ((len + 4) * 8 * 1000) // ($mp3Bitrates[(${mp3Hdr(3)} // 16) + 1] * 1000)
       |            WHEN substr(hh,1,6) = '494433' THEN ((len + 4) * 8 * 1000) // ($mp3Bitrates[(${mp3Hdr(23)} // 16) + 1] * 1000)
       |  END AS INTEGER) AS duration_ms
       |FROM (
       |  SELECT doc_id, modality, len, hex(unhex(CASE c
       |    WHEN 'png' THEN $pngHex
       |    WHEN 'jpeg' THEN $jpegHex
       |    WHEN 'wav' THEN $wavHex
       |    WHEN 'avi' THEN $aviHex
       |    WHEN 'flac' THEN $flacHex
       |    WHEN 'mp3' THEN $mp3Frame
       |    WHEN 'mp3id3' THEN $mp3Id3
       |    ELSE $mp4Hex END)) AS hh
       |  FROM (
       |    SELECT doc_id, len,
       |      CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       |      CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN 'png'
       |           WHEN doc_id % 3 = 0 THEN 'jpeg'
       |           WHEN doc_id % 3 = 1 AND doc_id % 4 < 2 THEN 'wav'
       |           WHEN doc_id % 3 = 1 AND doc_id % 4 = 2 THEN 'flac'
       |           WHEN doc_id % 3 = 1 AND doc_id % 8 = 3 THEN 'mp3'
       |           WHEN doc_id % 3 = 1 THEN 'mp3id3'
       |           WHEN doc_id % 2 = 0 THEN 'avi' ELSE 'mp4' END AS c,
       |      len % 1280 + 640 AS w, len % 720 + 360 AS h, len % 240 + 24 AS fr,
       |      len % 590000 + 1000 AS dur,
       |      len % 900000 + 44100 AS smp,
       |      [8000,16000,22050,44100,48000][(len % 5) + 1] AS rate
       |    FROM (SELECT doc_id, octet_length(encode(text)) AS len FROM documents)
       |  )
       |)""".stripMargin
  }

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
       |    SELECT doc_id, $oracleE2eUrl AS u,
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

  /** [[oracleSrpBuckets]] with planes/tables as SQL expressions (scalar
    * subqueries for corpus-aware configs — `pre` injects the cfg CTEs
    * they reference) and an optional zero-vector filter (lshScored drops
    * zero vectors before banding; embeddingNearDups bands everything —
    * mirror whichever the operator does).
    */
  private def oracleSrpBucketsDyn(planes: String, tables: String,
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
  private def oracleNearDupComponents: String =
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

  private val oracleWsTokens =
    "len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0))"

  /** chunkTokens mirror: stride 48, tail window shorter, no window fully
    * contained in its predecessor. Shared by the chunking and packing
    * oracles.
    */
  private val oracleChunks =
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
  private val oracleStopEn = "len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a)\\b'))"
  private val oracleNorm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** [[oracleNorm]] over an arbitrary expression (mirrors TextOps.normalized). */
  private def oracleNormExpr(e: String) =
    s"trim(regexp_replace(lower($e), '\\s+', ' ', 'g'))"

  /** Gap-sessionization CTE chain (mirrors EventStream.sessionizeBatch,
    * gap = 30 min), ending in `sessagg` — shared by the sessionize oracle
    * and the range-join oracle that attributes clicks to sessions.
    */
  private val oracleSessionCtes =
    """e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events
      |), flagged AS (
      |  SELECT user_id, ts_us, value,
      |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e
      |), sess AS (
      |  SELECT user_id, ts_us, value,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM flagged
      |), sessagg AS (
      |  SELECT user_id, session_id, min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
      |    count(*) AS n_events, round(sum(value), 4) AS sum_value
      |  FROM sess GROUP BY 1, 2
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

  /** SF-gated oracle view (what [[Verify]] dumps): [[oracleSql]] minus
    * entries whose SQL replays a committed fixture that is only the
    * engine's configuration at the correctness SFs. q_dedup_semantic_steady
    * hardcodes the sem8 quantizer, nProbe = 2 and the 10k cell cap, while
    * the engine derives (cells, nProbe, cap) from corpus size
    * (semanticCellsFor) — at any rung where those diverge the oracle would
    * be a guaranteed FALSE mismatch, so the entry is omitted and the
    * driver records the weaker rows-only check instead.
    */
  def oracleSqlFor(s: SparkSession, dir: String): Map[String, String] =
    if (semanticCellsFor(s, dir) == 8) oracleSql
    else oracleSql - "q_dedup_semantic_steady"

  def oracleSql: Map[String, String] = Map(
    "q_p1_project" ->
      "SELECT l_orderkey, l_quantity AS qty, l_returnflag FROM lineitem",

    "q_p1_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    // the dialect's * expands to the DECLARED schema (closed world), so the
    // oracle enumerates nation's columns explicitly
    "q_p1_star" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey >= 2",

    "q_p1_arith" ->
      "SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS net_price, (l_quantity + 1) / 2 AS half_qty, -l_tax AS neg_tax FROM lineitem",

    "q_s3_derived" ->
      "SELECT qty FROM (SELECT l_quantity AS qty FROM lineitem WHERE l_returnflag = 'A') WHERE qty > 30",

    "q_f2_eq" -> "SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'",
    "q_f2_neq" -> "SELECT l_orderkey, l_linestatus FROM lineitem WHERE l_linestatus <> 'O'",
    "q_f2_lt" -> "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity < 3",
    "q_f2_gt" -> "SELECT l_orderkey, l_discount FROM lineitem WHERE l_discount > 0.09",
    "q_f2_eq_null" -> "SELECT l_orderkey FROM lineitem WHERE l_returnflag IS NULL",
    "q_f2_lte" ->
      "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity <= 2 OR l_quantity >= 50",
    "q_f3_and" -> "SELECT l_orderkey FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.02",
    "q_f3_or" -> "SELECT l_orderkey FROM lineitem WHERE l_quantity > 49 OR l_discount > 0.09",
    "q_f4_not" -> "SELECT l_orderkey FROM lineitem WHERE l_returnflag <> 'A'",
    "q_f5_bare_bool" -> "SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'",

    "q_g1_group_aggs" ->
      "SELECT l_returnflag AS _id, avg(l_quantity) AS avg_qty, sum(l_quantity) AS sum_qty, max(l_quantity) AS max_qty, min(l_quantity) AS min_qty FROM lineitem GROUP BY l_returnflag",

    "q_g2_group_null" ->
      "SELECT CAST(NULL AS DOUBLE) AS _id, sum(l_quantity) AS total FROM lineitem",

    "q_g4_count" ->
      "SELECT l_linestatus AS _id, CAST(count(*) AS DOUBLE) AS count FROM lineitem GROUP BY l_linestatus",

    "q_g5_push" ->
      "SELECT l_returnflag AS _id, array_to_string(list_transform(list_sort(list(l_quantity)), x -> printf('%.1f', round(x, 1))), ',') AS l_quantity FROM lineitem GROUP BY l_returnflag",

    "q_g3_arith" ->
      "SELECT l_returnflag AS _id, round(sum(l_extendedprice) / sum(l_quantity), 6) AS price_per_unit FROM lineitem GROUP BY l_returnflag",

    "q_p2_arith" ->
      "SELECT vec_id, round(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6) AS mean_val FROM embeddings",

    "q_g3_stats" ->
      "SELECT l_returnflag AS _id, round(stddev_samp(l_quantity), 6) AS sd_qty, round(quantile_cont(l_quantity, 0.5), 6) AS med_qty FROM lineitem GROUP BY l_returnflag",

    // mirrors the planner's per-row formulas exactly: stddev via the
    // two-sums identity over the same left-to-right list_sum fold;
    // median via sort + middle element(s), elements cast to double
    // BEFORE the even-case addition (float-add first would differ)
    "q_p5_stats" ->
      """SELECT vec_id,
        |  round(CASE WHEN n < 2 THEN NULL
        |        ELSE sqrt(greatest((s2 - s * s / n) / (n - 1), 0.0)) END, 6) AS sd_val,
        |  round(CASE WHEN n = 0 THEN NULL
        |        WHEN n % 2 = 1 THEN CAST(d[CAST((n + 1) // 2 AS INTEGER)] AS DOUBLE)
        |        ELSE (CAST(d[CAST(n // 2 AS INTEGER)] AS DOUBLE)
        |              + CAST(d[CAST(n // 2 + 1 AS INTEGER)] AS DOUBLE)) / 2.0 END, 6) AS med_val
        |FROM (
        |  SELECT vec_id, len(embedding) AS n,
        |    list_sort(embedding) AS d,
        |    list_sum(CAST(embedding AS DOUBLE[])) AS s,
        |    list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS s2
        |  FROM embeddings
        |)""".stripMargin,

    "q_o1_order_limit" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100",

    // reference semantics: LIMIT 100 then OFFSET 40 = SQL LIMIT 60 OFFSET 40
    "q_o2_limit_offset" ->
      "SELECT l_orderkey, l_linenumber FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 60 OFFSET 40",

    // schema-breadth rows: grouped COUNT mirrors the reference's
    // double-typed `count` naming quirk (same CAST as q_g4_count)
    "q_d6_orders_group" ->
      "SELECT o_orderstatus AS _id, CAST(count(*) AS DOUBLE) AS count, max(o_custkey) AS max_cust FROM orders GROUP BY o_orderstatus",

    "q_d6_customer_group" ->
      "SELECT c_mktsegment AS _id, avg(c_nationkey) AS avg_nation, CAST(count(*) AS DOUBLE) AS count FROM customer GROUP BY c_mktsegment",

    "q_d6_part_filter" ->
      "SELECT p_partkey, p_size FROM part WHERE p_size > 25 ORDER BY p_partkey LIMIT 200",

    "q_d6_supplier_distinct" ->
      "SELECT DISTINCT s_nationkey FROM supplier",

    "q_d6_region_filter" ->
      "SELECT r_name FROM region WHERE r_regionkey > 1",

    "q_p2_avg_flat" ->
      "SELECT vec_id, round(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6) AS avg_val FROM embeddings",

    "q_p4_count_flat" ->
      "SELECT vec_id, CAST(len(embedding) AS DOUBLE) AS n_dims FROM embeddings",

    "q_p5_maxmin_flat" ->
      "SELECT vec_id, list_max(embedding) AS max_val, list_min(embedding) AS min_val FROM embeddings",

    "q_p7_sum_flat" ->
      "SELECT vec_id, round(list_sum(CAST(embedding AS DOUBLE[])), 6) AS sum_val FROM embeddings",

    "q_p3_dotted_reductions" ->
      "SELECT l_orderkey, avg(l_quantity) AS avg_qty, sum(l_quantity) AS sum_qty, max(l_quantity) AS max_qty, min(l_quantity) AS min_qty, CAST(count(*) AS DOUBLE) AS n_items FROM lineitem GROUP BY l_orderkey",

    "q_dedup_exact" ->
      s"SELECT md5($oracleNorm) AS content_hash, min(doc_id) AS representative, count(*) AS n_dups FROM documents GROUP BY 1",

    "q_dedup_keep_first" ->
      s"""SELECT doc_id FROM documents
         |QUALIFY row_number() OVER (PARTITION BY md5($oracleNorm) ORDER BY doc_id) = 1""".stripMargin,

    "q_dedup_minhash" -> oracleShingleJaccard(k = 5, threshold = 0.5),

    // incremental near-dup: the true pair set with at least one side in
    // the batch (ids only — the operator's est_jaccard is an estimator
    // value with no SQL equivalent; its decisions coincide with exact
    // Jaccard on this corpus, see the query comment)
    "q_dedup_incr_near" -> oracleShingleJaccard(k = 5, threshold = 0.5,
      select = "id_a, id_b",
      extraWhere = " AND NOT (id_a < 250 AND id_b < 250)"),

    // bipartite pairs reshaped from the symmetric all-pairs truth: the
    // odd (corpus) id first, the even (bench) id second
    "q_decontam_fuzzy_pairs" -> oracleShingleJaccard(k = 5, threshold = 0.5,
      select = "CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id, " +
        "CASE WHEN id_a % 2 = 1 THEN id_b ELSE id_a END AS bench_id, " +
        "round(jaccard, 6) AS jaccard",
      extraWhere = " AND (id_a % 2) <> (id_b % 2)"),

    "q_decontam_fuzzy" ->
      s"""SELECT doc_id FROM documents
         |WHERE doc_id % 2 = 1 AND doc_id NOT IN (
         |${oracleShingleJaccard(k = 5, threshold = 0.5,
              select = "CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS doc_id",
              extraWhere = " AND (id_a % 2) <> (id_b % 2)")}
         |)""".stripMargin,

    // both SimHash configurations recompute to the same exact pair set
    // (banding-independence is part of the operator contract)
    "q_dedup_simhash" -> oracleSimHash(maxHamming = 8),
    "q_dedup_simhash_k2" -> oracleSimHash(maxHamming = 8),
    "q_dedup_simhash_r3" -> oracleSimHash(maxHamming = 3),
    "q_dedup_simhash_wide" -> oracleSimHashWide(maxHamming = 8),
    "q_dedup_simhash_wide_k2" -> oracleSimHashWide(maxHamming = 8),

    // SRP-banded embedding near-dup replayed from scratch (the
    // q_sim_lsh_topk machinery): splitmix64 signs, corpus-aware
    // (planes, tables) mirrored as the cfg CTEs — srpConfigFor's exact
    // arithmetic, ln/acos/pow/ceil shared IEEE functions — bucket
    // self-join candidates, exact-cosine >= threshold on the RAW value,
    // rounded display. embeddingNearDups bands every vector (no
    // zero-vector drop), hence zeroFilter = false.
    "q_dedup_embedding" ->
      (oracleSrpBucketsDyn("(SELECT planes FROM cfg)", "(SELECT tables FROM cfg2)",
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
          |) WHERE cosine >= 0.45""".stripMargin),

    // and the meter over it: hash-sampled exact truth (least/greatest
    // pair normalization, probe != other, RAW-cosine threshold) vs the
    // replayed banded pass — n_true / n_found / recall, hash-verified
    "q_dedup_embedding_recall" ->
      (oracleSrpBucketsDyn("(SELECT planes FROM cfg)", "(SELECT tables FROM cfg2)",
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
          |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin),

    "q_dedup_components" -> oracleNearDupComponents,

    // incremental clustering must land on the identical full-graph
    // labeling — the parity IS the contract, so the oracle is the same
    // recursive CTE over the complete exact-Jaccard edge set
    "q_dedup_components_incr" -> oracleNearDupComponents,

    // steady-state loads the same history from the persisted store; the
    // complete labeling must still equal the full-graph recursive CTE
    "q_dedup_components_incr_steady" -> oracleNearDupComponents,

    "q_dedup_near_keep_first" ->
      s"""SELECT doc_id FROM ($oracleNearDupComponents)
         |WHERE doc_id = dup_group""".stripMargin,

    // keep-best: the same recursive-CTE clusters, ranked by the
    // q_text_quality formula instead of min id
    "q_dedup_keep_best" ->
      s"""SELECT doc_id FROM (
         |  SELECT c.doc_id, c.dup_group,
         |    round(least(CAST($oracleWsTokens AS DOUBLE) / 50.0, 1.0) * 0.5
         |      + least(round(CAST($oracleStopEn AS DOUBLE) / greatest($oracleWsTokens, 1), 6) * 5.0, 1.0) * 0.4
         |      + (1.0 - least(round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1), 6) * 10.0, 1.0)) * 0.1, 6) AS quality
         |  FROM ($oracleNearDupComponents) c JOIN documents d ON d.doc_id = c.doc_id
         |)
         |QUALIFY row_number() OVER (PARTITION BY dup_group ORDER BY quality DESC, doc_id) = 1""".stripMargin,

    "q_dedup_ngram_jaccard" -> oracleShingleJaccard(k = 3, threshold = 0.8),

    "q_dedup_incremental" ->
      s"""SELECT doc_id FROM (
         |  SELECT doc_id, md5($oracleNorm) AS ch FROM documents WHERE doc_id >= 250
         |) b
         |WHERE ch NOT IN (SELECT md5($oracleNorm) FROM documents WHERE doc_id < 250)
         |QUALIFY row_number() OVER (PARTITION BY ch ORDER BY doc_id) = 1""".stripMargin,

    // mirrors contaminationCounts: distinct 5-gram sets per corpus doc
    // joined against the union of benchmark 5-grams (string-keyed here;
    // the Spark side joins 64-bit shingle hashes — equal counts barring
    // astronomically unlikely collisions, which this row would surface)
    "q_text_decontam" ->
      s"""WITH csh AS (
         |  SELECT doc_id, unnest(list_distinct(sh)) AS s FROM (
         |    SELECT doc_id, ${oracleShingles(5)} AS sh
         |    FROM (SELECT doc_id, $oracleTokens AS tokens FROM documents)
         |  )
         |), bsh AS (
         |  SELECT DISTINCT s FROM csh WHERE doc_id % 50 = 0
         |)
         |SELECT doc_id, count(*) AS n_overlap
         |FROM csh JOIN bsh USING (s)
         |GROUP BY doc_id""".stripMargin,

    "q_mm_resize" ->
      """SELECT media_id, width, height,
        |  CAST(floor(width * scale) AS INTEGER) AS r_width,
        |  CAST(floor(height * scale) AS INTEGER) AS r_height
        |FROM (
        |  SELECT media_id, width, height,
        |    least(1.0, 256.0 / greatest(width, height)) AS scale
        |  FROM (
        |    SELECT doc_id AS media_id,
        |      CAST((length(text) % 1280) + 640 AS INTEGER) AS width,
        |      CAST((length(text) % 720) + 360 AS INTEGER) AS height
        |    FROM documents
        |  )
        |)""".stripMargin,

    // frame sampling emits evenly spaced byte ranges; the oracle mirrors
    // the range arithmetic (Spark's int cast truncates, so trunc() here)
    // and the substring clamp at the payload tail, over byte lengths
    "q_mm_frame_sample" ->
      """SELECT media_id, frame_idx, least(flen, greatest(len - s_pos + 1, 0)) AS frame_len
        |FROM (
        |  SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx,
        |    CAST(octet_length(encode(text)) AS INTEGER) AS len,
        |    greatest(CAST(trunc(octet_length(encode(text)) / 4.0) AS INTEGER), 1) AS flen,
        |    CAST(trunc(i * (octet_length(encode(text)) / 4.0) + 1) AS INTEGER) AS s_pos
        |  FROM documents, range(0, 4) t(i)
        |  WHERE doc_id % 3 = 2
        |)""".stripMargin,

    // REAL header parse both sides: Spark's media_meta walks the
    // container bytes; the oracle rebuilds the identical header blob in
    // DuckDB (unhex of the same byte layout) and parses format + fields
    // back OUT of the blob at the container offsets — see
    // oracleDecodeMeta for the byte maps
    "q_mm_decode_meta" -> oracleDecodeMeta,

    // decodeMeta → resizeMeta composition: the resize arithmetic applied
    // to the dimensions parsed out of the header bytes
    "q_mm_decode_resize" ->
      s"""SELECT media_id, width, height,
         |  CAST(floor(width * scale) AS INTEGER) AS r_width,
         |  CAST(floor(height * scale) AS INTEGER) AS r_height
         |FROM (
         |  SELECT media_id, width, height,
         |    least(1.0, 256.0 / greatest(width, height)) AS scale
         |  FROM ($oracleDecodeMeta)
         |  WHERE width IS NOT NULL
         |)""".stripMargin,

    "q_mm_features" ->
      s"""SELECT doc_id AS media_id,
         |  array_to_string(list_transform(range(0, 16), j ->
         |    printf('%.6f', CAST(CAST(${oracleMd5Long("text || '#' || CAST(j AS VARCHAR)")} % 1000000 AS DOUBLE)
         |                        / 1000000.0 - 0.5 AS FLOAT))), ',') AS features
         |FROM documents""".stripMargin,

    "q_mm_batched_decode" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS decoded_bytes
        |FROM documents""".stripMargin,

    "q_events_sessionize" ->
      s"""WITH $oracleSessionCtes
         |SELECT user_id, session_id, session_start_us, session_end_us, n_events, sum_value
         |FROM sessagg""".stripMargin,

    // keyed range join oracle: plain range-predicate join (DuckDB handles
    // the quadratic pairing fine at oracle scale; the operator's bucketed
    // equi-join must produce the identical pair set)
    "q_events_range" ->
      s"""WITH $oracleSessionCtes,
         |c AS (
         |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
         |  FROM events WHERE event_type = 'click'
         |)
         |SELECT c.event_id, c.user_id, c.ts_us, s.session_id
         |FROM c JOIN sessagg s
         |  ON c.user_id = s.user_id
         | AND c.ts_us >= s.session_start_us AND c.ts_us < s.session_end_us + 1""".stripMargin,

    "q_sim_bruteforce_topk" ->
      """SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
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
        |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // binary-quantization top-k replayed end to end: hamming = count of
    // sign disagreements (≡ XOR+popcount of the packed words, without
    // packing), candidate cut row_number() by (hamming asc, id asc) ≤
    // rerank×k = 320 — exactly topk_by_score's (score desc, id asc) on
    // approx = −hamming — then the exact-cosine re-rank and the
    // bruteforce row's round(round(·,6),4) display discipline
    "q_sim_bq_topk" ->
      """WITH emb AS (
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
        |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // SQ8 top-k replayed end to end: L2-normalize (the q_emb_normalize
    // arithmetic), per-dim min/max → the q_emb_sq_codes affine code
    // arithmetic over the NORMALIZED corpus, approx = bias + Σ c_d·pw_d
    // via list_dot_product (sequential double accumulation, matching the
    // native sq_dot loop), candidate cut ≤ rerank×k = 40 by (approx
    // desc, id asc), exact-cosine re-rank on the RAW vectors
    "q_sim_sq_topk" ->
      """WITH norm AS (
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
        |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // SRP-LSH top-k replayed from scratch: splitmix64 signs in HUGEINT
    // u-space (oracleSrpBuckets), per-table bucket bits, the >10k corpus
    // bucket guard (QUALIFY), pair dedup across tables, exact-cosine
    // re-rank — the whole approximate-search pipeline, hash-verified
    "q_sim_lsh_topk" ->
      (oracleSrpBuckets(planes = 5, tables = 24) +
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
          |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin),

    "q_sim_lsh_recall" ->
      (oracleSrpBuckets(planes = 5, tables = 24) +
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
          |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin),

    // banded hard miners: SRP replay with hardBandConfig's solver
    // arithmetic as cfg CTEs (planes from the target bucket fill, tables
    // from the band-edge collision model), then the exact miners'
    // rounded-cosine band filter and (cosine, id) rank — negatives
    // descending, positives ascending
    "q_sim_hard_neg_lsh" ->
      (oracleSrpBucketsDyn("(SELECT planes FROM cfg)", "(SELECT tables FROM cfg2)",
        pre = oracleHardCfgPre) + oracleHardCandidates("vec_id < 10") +
        """
          |SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
          |  SELECT probe_id, neighbor_id, cosine,
          |         row_number() OVER (
          |           PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
          |  FROM scored
          |  WHERE round(cosine, 6) < 0.25 AND round(cosine, 6) >= 0.05
          |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin),

    "q_sim_hard_pos_lsh" ->
      (oracleSrpBucketsDyn("(SELECT planes FROM cfg)", "(SELECT tables FROM cfg2)",
        pre = oracleHardCfgPre) + oracleHardCandidates("vec_id < 10") +
        """
          |SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
          |  SELECT probe_id, neighbor_id, cosine,
          |         row_number() OVER (
          |           PARTITION BY probe_id ORDER BY cosine ASC, neighbor_id) AS rank
          |  FROM scored
          |  WHERE round(cosine, 6) >= 0.25
          |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin),

    "q_sim_hard_neg_lsh_recall" ->
      (oracleSrpBucketsDyn("(SELECT planes FROM cfg)", "(SELECT tables FROM cfg2)",
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
          |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin),

    "q_sim_hard_pos_lsh_recall" ->
      (oracleSrpBucketsDyn("(SELECT planes FROM cfg)", "(SELECT tables FROM cfg2)",
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
          |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin),

    // the recall METERS for the two oracled quantized searches are
    // themselves deterministic end to end — hash-sampled probes (the
    // md5Long60 salted-hash replay, oneIn corpus-aware via a scalar
    // subquery), exact truth by (cosine desc, id asc), the same quantized
    // candidate pipeline as the topk rows, and recall = |∩|/|truth| —
    // so the meter a 100 TB pipeline watches is itself hash-verified
    "q_sim_bq_recall" ->
      """WITH emb AS (
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
        |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin,

    "q_sim_sq_recall" ->
      """WITH norm AS (
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
        |             / (SELECT count(*) FROM truth), 6) AS recall""".stripMargin,

    // committed-index IVF search replayed end to end: centroids from the
    // SAME saved fixture the Spark row loads, cell assignment (score DESC,
    // cell DESC — array_max's struct tie), nprobe=6 probe cut, cell
    // equi-join, exact-cosine rank
    "q_sim_ivf_search" ->
      (s"WITH $oracleAnnCent,\n${oracleAnnPcells("vec_id < 10", nprobe = 6)},\n" +
        """cand AS (
          |  SELECT p.probe_id, ca.vec_id AS neighbor_id
          |  FROM pcells p JOIN cassign ca ON ca.cell = p.cell
          |  WHERE ca.vec_id <> p.probe_id
          |)
          |""".stripMargin + oracleAnnRerankTail),

    "q_sim_ivf_recall" ->
      (s"WITH $oracleAnnProbeSel,\n$oracleAnnCent,\n" +
        oracleAnnPcells("vec_id IN (SELECT vec_id FROM sel)", nprobe = 6) + ",\n" +
        oracleAnnTruth + ",\n" +
        """cand AS (
          |  SELECT p.probe_id, ca.vec_id AS neighbor_id
          |  FROM pcells p JOIN cassign ca ON ca.cell = p.cell
          |  WHERE ca.vec_id <> p.probe_id
          |),
          |""".stripMargin + oracleAnnRecallTail),

    // committed-codebook PQ search replayed end to end: encode (argmax
    // dot − |w|²/2, ties to the lower code), per-probe LUTs, the j-order
    // ADC fold, rerank×k = 40 cut by (approx DESC, id ASC), exact re-rank
    "q_sim_pq_topk" ->
      (s"WITH $oracleAnnPqCodes,\n${oracleAnnPqLuts("vec_id < 10")},\n" +
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
           |""".stripMargin + oracleAnnRerankTail),

    "q_sim_pq_recall" ->
      (s"WITH $oracleAnnProbeSel,\n$oracleAnnPqCodes,\n" +
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
           |""".stripMargin + oracleAnnTruth + ",\n" + oracleAnnRecallTail),

    // the IVFADC composition: cell-pruned candidates (committed IVF),
    // scored by the committed-codebook ADC fold, rerank×k = 80 cut,
    // exact-cosine re-rank
    "q_sim_ivfpq_topk" ->
      (s"WITH $oracleAnnCent,\n${oracleAnnPcells("vec_id < 10", nprobe = 8)},\n" +
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
           |""".stripMargin + oracleAnnRerankTail),

    "q_sim_ivfpq_recall" ->
      (s"WITH $oracleAnnProbeSel,\n$oracleAnnCent,\n" +
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
           |""".stripMargin + oracleAnnTruth + ",\n" + oracleAnnRecallTail),

    // steady-state SemDeDup under the COMMITTED 8-cell quantizer (the
    // correctness-SF configuration — see the query's scaladoc): top-2
    // cell assignment from the saved centroids (score DESC, cell DESC —
    // topCells' reverse(sort_array) tie), the inert-but-faithful 10k
    // cell guard, within-cell pairs, exact cosine ≥ 0.45
    "q_dedup_semantic_steady" ->
      s"""WITH sem AS (
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

    // band filter on round(cosine, 6) — mirrors hardNegatives/hardPositives,
    // which band on the reported (rounded) value so the advertised exclusive
    // boundary holds on the output; zero vectors excluded like the Spark side
    "q_sim_hard_negatives" ->
      """SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
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
        |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "q_sim_hard_positives" ->
      """SELECT probe_id, neighbor_id, round(round(cosine, 6), 4) AS cosine, rank FROM (
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
        |) WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "q_sim_triplets" ->
      """WITH scored AS (
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
        |ORDER BY pos.anchor_id, pos_rank, neg_rank""".stripMargin,

    "q_text_quality" ->
      s"""SELECT doc_id, n_chars, n_words, punct_ratio, stopword_ratio, mean_word_len,
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
         |)""".stripMargin,

    "q_text_tokens" ->
      s"""SELECT doc_id, CAST($oracleWsTokens AS INTEGER) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS bpeish_tokens
         |FROM documents""".stripMargin,

    "q_text_langid" ->
      """SELECT doc_id,
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
        |)""".stripMargin,

    // margin mirror: descending sort of the four scores, top1 − top2
    "q_text_langid_margin" ->
      """SELECT doc_id,
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
        |)""".stripMargin,

    // temperature -> mixture composition: same pow/round weight CTE as
    // q_sample_temperature, then the per-source salted millionth filter
    "q_sample_temp_mix" ->
      s"""WITH cnt AS (
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
         |) WHERE b < cut""".stripMargin,

    // per-source binary scorecard over the same langid CASE
    "q_text_eval_by_source" ->
      s"""WITH p AS (
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
         |FROM cm ORDER BY source""".stripMargin,

    // readability mirror: identical proxy counts and double op order
    "q_text_readability" ->
      s"""SELECT doc_id,
         |  CASE WHEN w > 0 THEN round(206.835
         |    - 1.015 * (CAST(w AS DOUBLE) / s)
         |    - 84.6 * (CAST(y AS DOUBLE) / w), 6) END AS readability
         |FROM (
         |  SELECT doc_id,
         |    CAST(len($oracleTokens) AS INTEGER) AS w,
         |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
         |  FROM documents
         |)""".stripMargin,

    // Zipf least squares over the same top-100 head
    "q_lm_zipf" ->
      s"""WITH tt AS (
         |  SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS r
         |  FROM (
         |    SELECT token, count(*) AS n FROM (
         |      SELECT unnest($oracleTokens) AS token FROM documents
         |    ) GROUP BY token ORDER BY n DESC, token LIMIT 100
         |  )
         |), s AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS m,
         |    sum(ln(CAST(r AS DOUBLE))) AS sx, sum(ln(CAST(n AS DOUBLE))) AS sy,
         |    sum(ln(CAST(r AS DOUBLE)) * ln(CAST(n AS DOUBLE))) AS sxy,
         |    sum(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))) AS sxx
         |  FROM tt
         |)
         |SELECT CAST(m AS BIGINT) AS n_ranks,
         |  round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS slope,
         |  round((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m, 6) AS intercept
         |FROM s""".stripMargin,

    // confusion matrix over the same langid CASE; shares computed over
    // the |classes|^2-row aggregate
    "q_text_confusion" ->
      """WITH p AS (
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
        |FROM c ORDER BY actual, predicted""".stripMargin,

    "q_text_top_tokens" ->
      s"""SELECT token, count(*) AS n FROM (
         |  SELECT unnest($oracleTokens) AS token FROM documents
         |) GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,

    "q_text_profile" ->
      s"""SELECT lang, count(*) AS n_docs, round(avg(nw), 6) AS avg_tokens,
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
         |GROUP BY lang""".stripMargin,

    // hash embedding: bucket = h % dim, sign = (h // dim) % 2, dense grid
    // via constant range, L2 norm, %.6f canonicalization — all integer
    // counts until the final division, so both engines are bit-identical
    "q_emb_hash_embed" ->
      s"""WITH toks AS (
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
         |SELECT t.doc_id, e.emb FROM toks t LEFT JOIN emb e USING (doc_id)""".stripMargin,

    // linear score over the same hash features: integer weights (b%7-3)
    // make every product and the sum integer-exact, so the single
    // trailing division + bias reproduces Spark's value bit-for-bit
    "q_text_linear_score" ->
      s"""WITH toks AS (
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
         |FROM scored ORDER BY doc_id""".stripMargin,

    // Rocchio weights recomputed bit-exactly: integer-valued sums stay
    // exact in doubles, the division/multiply/floor chain is the same
    // IEEE op sequence as the Spark plan
    "q_text_train_weights" ->
      s"""WITH th AS (
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
         |ORDER BY bucket""".stripMargin,

    // train + score end to end: the weight CTE feeds the same
    // hash-feature dot the q_text_linear_score oracle computes
    "q_text_trained_score" ->
      s"""WITH th0 AS (
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
         |FROM scored ORDER BY doc_id""".stripMargin,

    // threshold sweep: the trained-score CTE chain, then per-threshold
    // confusion counts + P/R/F1 (scores rounded identically on both
    // sides, so >= comparisons agree at the boundary)
    "q_text_threshold_sweep" ->
      s"""WITH $oracleTrainedScoredCte, ts AS (
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
         |FROM cm""".stripMargin,

    // exact ROC-AUC: distinct-score frame with cumulative-below counts →
    // average ranks → tie-corrected Mann–Whitney U
    // calibration bins: same clamp-into-edge-bins binning, avg of the
    // rounded scores and of the 0/1 label — mirrors calibrationBins'
    // double arithmetic (width 1e-4 exact)
    "q_text_calibration" ->
      s"""WITH $oracleTrainedScoredCte, b AS (
         |  SELECT CAST(least(greatest(
         |      floor((score - (-4.0E-4)) / 1.0E-4), 0.0), 7.0) AS INTEGER) AS bin,
         |    pos, score
         |  FROM scored WHERE score IS NOT NULL
         |)
         |SELECT bin, count(*) AS n, round(avg(score), 6) AS mean_score,
         |  round(avg(CASE WHEN pos THEN CAST(1.0 AS DOUBLE)
         |    ELSE CAST(0.0 AS DOUBLE) END), 6) AS frac_pos
         |FROM b GROUP BY bin""".stripMargin,

    // ECE over the ROUNDED bin stats (deterministic by construction)
    "q_text_ece" ->
      s"""WITH $oracleTrainedScoredCte, b AS (
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
         |FROM c""".stripMargin,

    "q_text_auc" ->
      s"""WITH $oracleTrainedScoredCte, g AS (
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
         |FROM a""".stripMargin,

    // the 16-epoch logistic fixpoint replayed in SQL: integer dot
    // products, the algebraic sigmoid, quantized residual sums, and
    // floor(x+0.5) updates are all order-independent/IEEE-exact, so
    // every epoch lands bit-identically in both engines
    "q_text_lr_weights" ->
      s"""WITH ${oracleLrCtes(16)}
         |SELECT bucket, CAST(wv AS INTEGER) AS weight FROM lw16
         |UNION ALL
         |SELECT -1 AS bucket, CAST(bv AS INTEGER) AS weight FROM lb16""".stripMargin,

    // train (16 epochs) + score end to end, same linearScore shape as
    // the Rocchio rows
    "q_text_lr_score" ->
      s"""WITH ${oracleLrScoredCte(16)}
         |SELECT doc_id, score AS lr_score, score > 0 AS pred_en FROM scoredlr""".stripMargin,

    // the logistic model's tie-corrected ROC-AUC (the q_text_auc rank
    // statistic over the lr score)
    "q_text_lr_auc" ->
      s"""WITH ${oracleLrScoredCte(16)}, g AS (
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
         |FROM a""".stripMargin,

    // average precision: descending cumulative precision at each
    // distinct threshold, Σ pos_k · P_k / nPos
    "q_text_ap" ->
      s"""WITH $oracleTrainedScoredCte, g AS (
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
         |FROM a""".stripMargin,

    // greedy first-match funnel: chained min-timestamp CTEs, one per
    // step — each step's users are the previous step's with a strictly
    // later occurrence of the step's type, within 12 h of the anchor
    // (the anchor rides the chain via any_value — one value per user)
    "q_events_funnel" ->
      s"""WITH u1 AS (
         |  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
         |  WHERE event_type = 'signup' GROUP BY 1
         |), u2 AS (
         |  SELECT e.user_id, min(epoch_us(ts)) AS t2, any_value(t1) AS a2
         |  FROM events e JOIN u1 USING (user_id)
         |  WHERE event_type = 'view' AND epoch_us(ts) > t1
         |    AND epoch_us(ts) - t1 <= CAST(720 AS BIGINT) * 60 * 1000000
         |  GROUP BY 1
         |), u3 AS (
         |  SELECT e.user_id, min(epoch_us(ts)) AS t3, any_value(a2) AS a3
         |  FROM events e JOIN u2 USING (user_id)
         |  WHERE event_type = 'click' AND epoch_us(ts) > t2
         |    AND epoch_us(ts) - a2 <= CAST(720 AS BIGINT) * 60 * 1000000
         |  GROUP BY 1
         |), u4 AS (
         |  SELECT e.user_id, min(epoch_us(ts)) AS t4
         |  FROM events e JOIN u3 USING (user_id)
         |  WHERE event_type = 'purchase' AND epoch_us(ts) > t3
         |    AND epoch_us(ts) - a3 <= CAST(720 AS BIGINT) * 60 * 1000000
         |  GROUP BY 1
         |)
         |SELECT 1 AS step, 'signup' AS event_type, count(*) AS n_users FROM u1
         |UNION ALL SELECT 2, 'view', count(*) FROM u2
         |UNION ALL SELECT 3, 'click', count(*) FROM u3
         |UNION ALL SELECT 4, 'purchase', count(*) FROM u4""".stripMargin,

    // retention: first-signup cohorts × distinct active dates, offsets
    // counted per (cohort, offset), sizes re-joined
    "q_events_retention" ->
      s"""WITH cohorts AS (
         |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date FROM events
         |  WHERE event_type = 'signup' GROUP BY 1
         |), sizes AS (
         |  SELECT cohort_date, count(*) AS n_cohort FROM cohorts GROUP BY 1
         |), activity AS (
         |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events
         |), j AS (
         |  SELECT c.cohort_date,
         |    CAST(date_diff('day', c.cohort_date, a.active_date) AS INTEGER)
         |      AS day_offset
         |  FROM cohorts c JOIN activity a USING (user_id)
         |  WHERE date_diff('day', c.cohort_date, a.active_date) BETWEEN 0 AND 7
         |)
         |SELECT j.cohort_date, day_offset, count(*) AS n_active,
         |  any_value(n_cohort) AS n_cohort
         |FROM j JOIN sizes USING (cohort_date)
         |GROUP BY 1, 2""".stripMargin,

    // the full train -> score -> evaluate chain, ending in one
    // confusion-count aggregate (same CTE chain as q_text_trained_score)
    "q_text_classifier_eval" ->
      s"""WITH th0 AS (
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
         |FROM cm""".stripMargin,

    // clipping mirror: list_slice + rejoin, dropped = max(len - cap, 0)
    "q_text_truncate" ->
      s"""SELECT doc_id,
         |  array_to_string(list_slice(ws, 1, 30), ' ') AS text_clipped,
         |  CAST(greatest(len(ws) - 30, 0) AS BIGINT) AS n_dropped
         |FROM (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS ws
         |  FROM documents
         |)""".stripMargin,

    // the composed pipeline end to end: the q_curate chain (gates +
    // QUALIFY keep-first), then 5-gram NOT-IN decontamination of the
    // SURVIVORS, then the salted-hash CASE split — one DuckDB query
    "q_pipeline_prepare" -> oraclePipelinePrepare(fuzzy = false),
    "q_pipeline_prepare_rules" -> oraclePipelinePrepare(fuzzy = false, gopher = true),

    // the same chain with the hygiene stack's SECOND pass: whole-document
    // fuzzy (shingle-Jaccard >= 0.5) decontamination after the exact
    // n-gram pass. The fuzzy truth is computed over ALL documents vs the
    // bench slice — a superset of the survivors the Spark side screens,
    // which is NOT-IN-safe (extra contaminated ids outside `kept` never
    // reach the final filter)
    "q_pipeline_prepare_fuzzy" -> oraclePipelinePrepare(fuzzy = true),
    "q_pipeline_e2e" -> oraclePipelineE2e,

    // bloom decontamination: the bloom is a pure work-pruner, so the
    // oracle is the exact semantics — documents with zero 5-gram overlap
    // against the benchmark slice
    "q_text_decontam_bloom" ->
      s"""WITH csh AS (
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
         |WHERE doc_id NOT IN (SELECT doc_id FROM cont)""".stripMargin,

    // substring-span dedup: positions of >=2-doc shingles recomputed via
    // the same md5-derived shingle hashes, covered tokens dropped, kept
    // tokens re-joined in order — the reconstruction must match Spark's
    // byte for byte
    "q_text_span_dedup" ->
      s"""WITH toks AS (
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
         |FROM toks x LEFT JOIN kept k USING (doc_id)""".stripMargin,

    // unigram-LM self-scoring: the full model (counts, totals, add-one
    // smoothing, log2) recomputed in SQL over the mirrored tokenization.
    // train == docs, so every scored token is in-vocabulary and the
    // coalesce in Lm.unigramBits never fires here.
    "q_lm_score" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($oracleTokens) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
         |), cnt AS (
         |  SELECT token, count(*) AS n FROM toks GROUP BY 1
         |), tot AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_total,
         |    CAST(count(DISTINCT token) AS DOUBLE) AS vocab
         |  FROM toks
         |)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  round(sum(tf * -log2((n + 1.0) / (n_total + vocab))) / sum(tf), 6)
         |    AS bits_per_token
         |FROM tf JOIN cnt USING (token), tot
         |GROUP BY doc_id""".stripMargin,

    // vocab coverage: deterministic top-N head + occurrence sums
    "q_lm_vocab_coverage" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($oracleTokens) AS token FROM documents
         |), vocab AS (
         |  SELECT token FROM (
         |    SELECT token, count(*) AS n FROM toks WHERE doc_id % 2 = 0
         |    GROUP BY 1 ORDER BY n DESC, token LIMIT 500
         |  )
         |), occ AS (
         |  SELECT token, count(*) AS occ FROM toks WHERE doc_id % 2 = 1 GROUP BY 1
         |)
         |SELECT
         |  CAST(coalesce((SELECT sum(occ) FROM occ WHERE token IN (SELECT token FROM vocab)), 0) AS BIGINT) AS n_covered,
         |  CAST(coalesce((SELECT sum(occ) FROM occ), 0) AS BIGINT) AS n_total,
         |  CASE WHEN coalesce((SELECT sum(occ) FROM occ), 0) > 0 THEN
         |    round(coalesce((SELECT sum(occ) FROM occ WHERE token IN (SELECT token FROM vocab)), 0)
         |      / CAST((SELECT sum(occ) FROM occ) AS DOUBLE), 6)
         |  END AS coverage""".stripMargin,

    // per-doc OOV rate: same top-N head, LEFT JOIN, per-doc reduce
    "q_lm_oov_rate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($oracleTokens) AS token FROM documents
         |), vocab AS (
         |  SELECT token, 1 AS inv FROM (
         |    SELECT token, count(*) AS n FROM toks WHERE doc_id % 2 = 0
         |    GROUP BY 1 ORDER BY n DESC, token LIMIT 500
         |  )
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM toks
         |  WHERE doc_id % 2 = 1 GROUP BY 1, 2
         |)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN inv IS NULL THEN tf ELSE 0 END) AS BIGINT) AS n_oov,
         |  round(sum(CASE WHEN inv IS NULL THEN tf ELSE 0 END)
         |    / CAST(sum(tf) AS DOUBLE), 6) AS oov_rate
         |FROM tf LEFT JOIN vocab USING (token)
         |GROUP BY doc_id""".stripMargin,

    // held-out LM: the train/score split mirrored with a LEFT JOIN and
    // coalesce-to-zero for out-of-vocabulary tokens
    "q_lm_score_heldout" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($oracleTokens) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM toks
         |  WHERE doc_id % 2 = 1 GROUP BY 1, 2
         |), cnt AS (
         |  SELECT token, count(*) AS n FROM toks WHERE doc_id % 2 = 0 GROUP BY 1
         |), tot AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_total,
         |    CAST(count(DISTINCT token) AS DOUBLE) AS vocab
         |  FROM toks WHERE doc_id % 2 = 0
         |)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  round(sum(tf * -log2((coalesce(n, 0) + 1.0) / (n_total + vocab))) / sum(tf), 6)
         |    AS bits_per_token
         |FROM tf LEFT JOIN cnt USING (token), tot
         |GROUP BY doc_id""".stripMargin,

    // bigram LM: counts, vocabulary, add-one conditional and log2 all
    // recomputed in SQL; first word of a 2-shingle via split_part
    // (tokens are alnum runs — never contain the separator)
    "q_lm_bigram" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $oracleTokens AS tokens FROM documents
         |), bg AS (
         |  SELECT doc_id, unnest(${oracleShingles(2)}) AS bigram FROM toks
         |), tf AS (
         |  SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2
         |), cb AS (
         |  SELECT bigram, count(*) AS n12 FROM bg GROUP BY 1
         |), cu AS (
         |  SELECT token, count(*) AS n1
         |  FROM (SELECT unnest(tokens) AS token FROM toks) GROUP BY 1
         |), tot AS (
         |  SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v
         |  FROM (SELECT unnest(tokens) AS token FROM toks)
         |)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_transitions,
         |  round(sum(tf * -log2((n12 + 1.0) / (n1 + v))) / sum(tf), 6)
         |    AS bits_per_transition
         |FROM tf
         |JOIN cb USING (bigram)
         |JOIN cu ON cu.token = split_part(tf.bigram, ' ', 1), tot
         |GROUP BY doc_id""".stripMargin,

    // DSIR importance weights: full recomputation of the hashed-n-gram
    // bucket models and per-doc log-weights (same md5 buckets, same
    // smoothing) — since raw = the whole corpus, every scored bucket is
    // present in rc, so the left joins reproduce the engine's
    // ratio-table lookup exactly
    "q_dsir_weights" -> oracleDsirWeights,

    // DSIR Gumbel top-100: the weights above + the deterministic
    // md5-seeded uniform -> Gumbel race, ordered on the unrounded key
    // with the id tiebreak (equal-weight docs can tie — the uniform has
    // only 1e6 distinct values)
    "q_dsir_resample" ->
      s"""WITH w AS ($oracleDsirWeights)
         |SELECT doc_id, n_ngrams, log_weight, round(key, 6) AS sample_key FROM (
         |  SELECT *, log_weight + -ln(-ln(
         |    (${oracleMd5Long("'graft-r7#' || CAST(doc_id AS VARCHAR)")} % 1000000 + 0.5)
         |      / 1000000.0)) AS key
         |  FROM w
         |) ORDER BY key DESC, doc_id LIMIT 100""".stripMargin,

    // hashed-n-gram KL/JS divergence between the English and non-English
    // slices: per-occupied-bucket terms + the closed-form zero-count
    // remainder, mirroring Dsir.ngramDivergence term for term
    "q_lm_divergence" ->
      s"""WITH $oracleDsirFeat,
         |ac AS (SELECT bucket, count(*) AS ca FROM feat WHERE lang = 'en' GROUP BY 1),
         |bc AS (SELECT bucket, count(*) AS cb FROM feat WHERE lang <> 'en' GROUP BY 1),
         |j AS (
         |  SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
         |  FROM ac FULL OUTER JOIN bc USING (bucket)
         |), tot AS (
         |  SELECT CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cb) AS DOUBLE) AS nb FROM j
         |), pq AS (
         |  SELECT na, nb,
         |    (ca + 1.0) / (na + 2048.0) AS p,
         |    (cb + 1.0) / (nb + 2048.0) AS q
         |  FROM j, tot
         |), agg AS (
         |  SELECT count(*) AS nocc, any_value(na) AS na, any_value(nb) AS nb,
         |    sum(p * log2(p / q)) AS kab,
         |    sum(q * log2(q / p)) AS kba,
         |    sum(p * log2(p / ((p + q) / 2.0)) / 2.0
         |      + q * log2(q / ((p + q) / 2.0)) / 2.0) AS js
         |  FROM pq
         |), fin AS (
         |  SELECT nocc, kab, kba, js,
         |    1.0 / (na + 2048.0) AS p0, 1.0 / (nb + 2048.0) AS q0,
         |    CAST(2048 - nocc AS DOUBLE) AS rest
         |  FROM agg
         |)
         |SELECT nocc AS n_buckets_occupied,
         |  round(kab + rest * p0 * log2(p0 / q0), 6) AS kl_ab_bits,
         |  round(kba + rest * q0 * log2(q0 / p0), 6) AS kl_ba_bits,
         |  round(js + rest * (p0 * log2(p0 / ((p0 + q0) / 2.0)) / 2.0
         |    + q0 * log2(q0 / ((p0 + q0) / 2.0)) / 2.0), 6) AS js_bits
         |FROM fin""".stripMargin,

    // mixture-weight optimizer: the fixed-budget exponentiated-gradient
    // solve replayed ITERATION BY ITERATION in a recursive CTE over the
    // same smoothed md5-bucket distributions (Dsir.solveMixture mirror:
    // same accumulation order in the mix/gradient/normalizer sums, same
    // max-shifted exp, so the doubles track bit-for-bit and the 6-dp
    // rounding coincides). The five slice distributions zip into one
    // struct list (MATERIALIZED — an inlined CTE would re-scan the
    // corpus every recursion step); each iteration is two recursion
    // rows: gradients from w, then the simplex update from gradients.
    "q_dsir_mixture" -> oracleDsirMixture,

    // BPE application under the committed merge table: rank-order merge
    // replay (one list_reduce fold per merge), exact per-doc subword
    // sequence compared — see oracleBpeApplyFixed for the fold contract
    "q_bpe_apply_fixed" -> oracleBpeApplyFixed,

    // paragraph dedup: full recomputation — positional split, global
    // first-occurrence window over the normalized digest (blank
    // segments always kept), ordered string_agg reassembly
    "q_dedup_paragraph" ->
      s"""WITH base AS (
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
         |FROM k GROUP BY doc_id""".stripMargin,

    // incremental paragraph dedup: the batch oracle + a NOT IN against
    // the history's distinct digest set
    "q_dedup_para_incr" ->
      s"""WITH hist AS (
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
         |FROM k GROUP BY doc_id""".stripMargin,

    // BM25 top-k: mirrors Retrieval.scored's fixed-order double
    // arithmetic term for term (exact integer tf/df/N/dl, one avgdl
    // division, Lucene lower-bounded idf), ordered on the unrounded
    // score with the id tiebreak
    "q_text_bm25" -> oracleBm25Sql(Seq("dup", "hash", "scan"), 50),

    // reciprocal-rank fusion of two BM25 lists (expanded-query hybrid):
    // per-list rank on (rounded score desc, id), 1/(60+rank) summed
    "q_text_rrf" ->
      s"""WITH la AS (${oracleBm25Sql(Seq("dup", "hash", "scan"), 50)}),
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
         |ORDER BY sum(c) DESC, doc_id LIMIT 30""".stripMargin,

    // blocklist gate: the automaton's substring semantics ARE the
    // OR-of-contains chain, so the chain is the oracle
    "q_text_blocklist" ->
      s"""SELECT doc_id, (${blockPhrases
        .map(p => s"contains(lower(text), '$p')").mkString(" OR ")}) AS blocked
         |FROM documents""".stripMargin,

    "q_lm_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($oracleTokens) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
         |), dft AS (
         |  SELECT token, count(*) AS df FROM tf GROUP BY 1
         |), nd AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
         |), sc AS (
         |  SELECT doc_id, token,
         |    round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS score
         |  FROM tf JOIN dft USING (token), nd
         |)
         |SELECT doc_id, token, score, rank FROM (
         |  SELECT doc_id, token, score,
         |    CAST(row_number() OVER (
         |      PARTITION BY doc_id ORDER BY score DESC, token) AS INTEGER) AS rank
         |  FROM sc
         |) WHERE rank <= 5""".stripMargin,

    "q_lm_bucket" -> oracleLmBucketSql,

    // the agreement reshape (round 11): exact per-bucket counts are the
    // oracle-pinned side; the ≤1%-moved contract vs the approx cutoffs
    // is the bound-check boolean (TRUE by contract)
    "q_lm_bucket_approx" ->
      s"""SELECT bucket, count(*) AS n_docs, TRUE AS moved_within_1pct
         |FROM ($oracleLmBucketSql)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_text_repetition" -> {
      s"""SELECT doc_id,
         |  ${oracleDupFrac("sh1")} AS dup_word_frac,
         |  ${oracleDupFrac("sh2")} AS dup_2gram_frac,
         |  ${oracleDupFrac("sh3")} AS dup_3gram_frac
         |FROM (
         |  SELECT doc_id, tokens AS sh1, ${oracleShingles(2)} AS sh2, ${oracleShingles(3)} AS sh3
         |  FROM (SELECT doc_id, $oracleTokens AS tokens FROM documents)
         |)""".stripMargin
    },

    // the composed curation pipeline: language + quality + repetition
    // gates, then keep-first dedup among the survivors (QUALIFY runs
    // after WHERE, matching the Spark filter-then-window order)
    // PCA norm preservation: ‖x − μ‖² recomputed independently (zipped
    // unnest → per-dim means → per-row centered norm); equality with
    // the Spark side certifies the learned basis is orthonormal-complete
    "q_emb_pca_norm" ->
      s"""WITH ex AS (
         |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         |         unnest(range(1, len(embedding) + 1)) AS d
         |  FROM embeddings
         |), mu AS (
         |  SELECT d, avg(x) AS m FROM ex GROUP BY d
         |)
         |SELECT vec_id, round(sum((x - m) * (x - m)), 4) AS centered_norm_sq
         |FROM ex JOIN mu USING (d)
         |GROUP BY vec_id""".stripMargin,

    // PCA whitening: the Spark side measures the population covariance
    // of the whitened top-8 projections over the corpus; whitening's
    // defining invariant makes that matrix the 8×8 identity, so the
    // oracle is the mathematically-required constant (upper triangle,
    // 6 dp). Data-dependence lives entirely on the Spark side — a wrong
    // basis/λ/mean fails the hash.
    "q_emb_pca_whiten" ->
      s"""SELECT CAST(i AS BIGINT) AS component_i, CAST(j AS BIGINT) AS component_j,
         |  CAST(CASE WHEN i = j THEN 1.0 ELSE 0.0 END AS DOUBLE) AS cov
         |FROM range(8) t1(i), range(8) t2(j)
         |WHERE i <= j""".stripMargin,

    // the invariant reshape (round 11): the k-means cell ids are not
    // SQL-expressible, but the diversification CONTRACT given any cell
    // assignment is — the row emits its own per-cell verification
    // (quota exact, dropped-at-least-as-prototypical-as-kept) plus the
    // eligible-vector count that anchors it to the data
    "q_dedup_d4" ->
      """SELECT count(*) AS n_vecs, TRUE AS all_quota_ok, TRUE AS all_ordering_ok
        |FROM (
        |  SELECT vec_id,
        |    list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
        |  FROM embeddings
        |) WHERE nsq > 0""".stripMargin,

    // HTML extraction: the same page shell rebuilt in SQL, the same
    // order-fixed cascade (script/style elements, comments, block
    // closers → newlines, tag strip, entities with amp last,
    // whitespace normalization) replayed step for step
    "q_text_html_extract" ->
      s"""WITH h AS (
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
         |FROM s5""".stripMargin,

    // URL canonicalization: the same synthesized messy URLs, the same
    // order-fixed rules (fragment, lowercase scheme/host, default port,
    // empty path, tracking-param drop + param sort) replayed in SQL
    "q_text_url_canon" ->
      s"""WITH raw AS (
         |  SELECT doc_id, $oracleMessyUrl AS url FROM documents
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
         |FROM parts""".stripMargin,

    "q_text_domain_stats" ->
      s"""SELECT
         |  nullif(regexp_replace(
         |    lower(regexp_extract($oracleMessyUrl, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)),
         |    '^www\\.', ''), '') AS domain,
         |  count(*) AS n_docs,
         |  CAST(sum($oracleWsTokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
         |FROM documents GROUP BY 1""".stripMargin,

    // WARC round trip: rebuild the identical ISO 28500 record strings
    // (CRLF header block, byte-accurate Content-Length, payload) and
    // RE-PARSE every output field out of them with string ops at the
    // record's own offsets — regexp over the header block, the payload
    // sliced by the parsed Content-Length. The corpus is pure ASCII
    // (asserted nothing here relies on it being otherwise: char==byte
    // for substr on this fixture; the reader's binary slicing has its
    // own multibyte unit test).
    "q_source_warc" ->
      s"""WITH rec AS (
         |  SELECT 'WARC/1.0' || chr(13)||chr(10)
         |    || 'WARC-Type: conversion' || chr(13)||chr(10)
         |    || 'WARC-Target-URI: https://example.org/doc/' || doc_id || chr(13)||chr(10)
         |    || 'WARC-Date: 2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T00:00:00Z' || chr(13)||chr(10)
         |    || 'Content-Type: text/plain' || chr(13)||chr(10)
         |    || 'Content-Length: ' || octet_length(encode(text)) || chr(13)||chr(10)
         |    || chr(13)||chr(10) || text || chr(13)||chr(10) AS r
         |  FROM documents
         |), hd AS (
         |  SELECT r, substr(r, 1, strpos(r, chr(13)||chr(10)||chr(13)||chr(10)) - 1) AS h
         |  FROM rec
         |), cl AS (
         |  SELECT r, h,
         |    CAST(nullif(regexp_extract(h, 'Content-Length: ([0-9]+)', 1), '') AS BIGINT) AS clen
         |  FROM hd
         |)
         |SELECT
         |  nullif(regexp_extract(h, 'WARC-Type: ([^\r\n]*)', 1), '') AS warc_type,
         |  nullif(regexp_extract(h, 'WARC-Target-URI: ([^\r\n]*)', 1), '') AS url,
         |  nullif(regexp_extract(h, 'WARC-Date: ([^\r\n]*)', 1), '') AS warc_date,
         |  nullif(regexp_extract(h, 'Content-Type: ([^\r\n]*)', 1), '') AS content_type,
         |  clen AS content_length,
         |  (octet_length(encode(r)) - octet_length(encode(h)) - 4) < clen AS truncated,
         |  substr(r, length(h) + 5, CAST(clen AS INTEGER)) AS text
         |FROM cl""".stripMargin,

    "q_layout_zvalue" ->
      s"""WITH b AS (
         |  SELECT event_id,
         |    CAST(least(greatest(floor((CAST(user_id AS DOUBLE) - 0.0) / 8.0), 0), 255) AS BIGINT) AS iu,
         |    CAST(least(greatest(floor((CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) - 1704067200000000.0) / 10462500000.0), 0), 255) AS BIGINT) AS it
         |  FROM events
         |)
         |SELECT event_id, ${zInterleaveSql("iu", "it", 8)} AS zval
         |FROM b""".stripMargin,

    "q_layout_prune" ->
      """SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |  event_type, value
        |FROM events
        |WHERE CAST(user_id AS DOUBLE) BETWEEN 2.0 AND 9.0
        |  AND CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE)
        |      BETWEEN 1704931200000000.0 AND 1705795200000000.0""".stripMargin,

    "q_layout_compact" ->
      """SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |  event_type, value
        |FROM events""".stripMargin,

    "q_curate" ->
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
         |)
         |SELECT doc_id, quality, dup_3gram_frac FROM sig
         |WHERE lang_pred = 'en' AND quality >= 0.6 AND dup_3gram_frac <= 0.05
         |QUALIFY row_number() OVER (PARTITION BY md5($oracleNorm) ORDER BY doc_id) = 1""".stripMargin,

    // mirrors chunkTokens: stride 48, tail window shorter, no window
    // fully contained in its predecessor
    "q_text_chunks" -> oracleChunks,

    // mirrors packChunks over the same chunk set: salted pack stream +
    // windowed token cumsum within the stream
    "q_text_pack" ->
      s"""WITH ch AS ($oracleChunks)
         |SELECT doc_id, chunk_idx, n_tokens,
         |  CAST(g AS INTEGER) AS pack_group,
         |  CAST(floor((sum(n_tokens) OVER (
         |        PARTITION BY g ORDER BY doc_id, chunk_idx
         |        ROWS UNBOUNDED PRECEDING) - n_tokens) / 256.0) AS INTEGER) AS seq_idx
         |FROM (SELECT doc_id, chunk_idx, n_tokens,
         |        ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r4'")} % 8 AS g
         |      FROM ch)""".stripMargin,

    "q_text_fingerprint" ->
      s"SELECT doc_id, md5($oracleNorm) AS fp_md5 FROM documents",

    "q_text_redact" -> {
      val u = TextOps.urlPattern
      val e = TextOps.emailPattern
      val p = TextOps.phonePattern
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$u')) AS INTEGER) AS n_urls,
         |  CAST(len(regexp_extract_all(regexp_replace(text, '$u', '<URL>', 'g'), '$e')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(text, '$u', '<URL>', 'g'), '$e', '<EMAIL>', 'g'), '$p')) AS INTEGER) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text, '$u', '<URL>', 'g'), '$e', '<EMAIL>', 'g'), '$p', '<PHONE>', 'g')) AS fp_redacted
         |FROM documents""".stripMargin
    },

    "q_sample_hash" ->
      s"""SELECT doc_id FROM documents
         |WHERE ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r3'")} % 10 = 0""".stripMargin,

    "q_sample_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN b < 880000 THEN 'train'
         |       WHEN b < 940000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |  ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r4'")} % 1000000 AS b
         |FROM documents)""".stripMargin,

    // the components CTE recomputes the exact near-dup clusters, then the
    // split bucket hashes the CLUSTER label (min id) — every member of a
    // family shares the bucket, so the whole family lands on one side
    "q_sample_split_safe" ->
      s"""SELECT doc_id, dup_group,
         |  CASE WHEN b < 880000 THEN 'train'
         |       WHEN b < 940000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, dup_group,
         |  ${oracleMd5Long("CAST(dup_group AS VARCHAR) || '#r7'")} % 1000000 AS b
         |FROM ($oracleNearDupComponents))""".stripMargin,

    // the shuffle permutation is pure hash arithmetic + a windowed
    // row_number — both engines replay it exactly
    "q_sample_shuffle" ->
      s"""SELECT doc_id, CAST(h % 8 AS INTEGER) AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
         |FROM (SELECT doc_id,
         |  ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r5'")} AS h
         |FROM documents)""".stripMargin,

    // exact-n slice: same hash ranking, ORDER BY + LIMIT
    "q_sample_exact" ->
      s"""SELECT doc_id, lang FROM documents
         |ORDER BY ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r5'")}, doc_id
         |LIMIT 40""".stripMargin,

    // histogram mirror: same floor-bin arithmetic and bin-edge doubles
    "q_stats_histogram" ->
      """WITH b AS (
        |  SELECT lang, CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) / 100.0) AS BIGINT) AS bin
        |  FROM documents WHERE n_chars IS NOT NULL
        |)
        |SELECT lang, bin, 0.0 + bin * 100.0 AS lo, 0.0 + (bin + 1) * 100.0 AS hi,
        |  count(*) AS n
        |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    // merit quota: same quality formula as q_text_quality, QUALIFY top-3
    // per language with the doc_id tiebreak
    "q_sample_top_quality" ->
      s"""SELECT doc_id, lang, quality FROM (
         |  SELECT doc_id, lang,
         |    round(least(CAST($oracleWsTokens AS DOUBLE) / 50.0, 1.0) * 0.5
         |      + least(round(CAST($oracleStopEn AS DOUBLE) / greatest($oracleWsTokens, 1), 6) * 5.0, 1.0) * 0.4
         |      + (1.0 - least(round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / greatest(length(text), 1), 6) * 10.0, 1.0)) * 0.1, 6) AS quality
         |  FROM documents
         |)
         |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) <= 3""".stripMargin,

    // latest-wins compaction mirror: newest (µs-truncated ts, event_id)
    // per user — both engines rank on the SAME µs value, so sub-µs
    // ordering can't disagree with Spark's nanos→micros read
    "q_dedup_compact_latest" ->
      """SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id
        |  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) = 1""".stripMargin,

    // resample cuts recomputed from the same count/share arithmetic (the
    // double op sequence matches the Scala driver-side computation
    // term for term), then the same millionth-bucket hash filter
    "q_sample_resample" ->
      s"""WITH cnt AS (
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
         |) WHERE b < cut""".stripMargin,

    // content-digest set ops: IN / NOT IN over the normalized md5
    "q_dedup_content_intersect" ->
      s"""SELECT doc_id FROM documents
         |WHERE source IN ('src0','src1','src2','src3','src4')
         |  AND md5($oracleNorm) IN (
         |    SELECT md5($oracleNorm) FROM documents
         |    WHERE source NOT IN ('src0','src1','src2','src3','src4'))
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_content_except" ->
      s"""SELECT doc_id FROM documents
         |WHERE source IN ('src0','src1','src2','src3','src4')
         |  AND md5($oracleNorm) NOT IN (
         |    SELECT md5($oracleNorm) FROM documents
         |    WHERE source NOT IN ('src0','src1','src2','src3','src4'))
         |ORDER BY doc_id""".stripMargin,

    // snapshot diff: both sides reduce to (id, normalized-content md5),
    // FULL JOIN on id, status by digest compare
    "q_dedup_snapshot_diff" ->
      s"""WITH prev AS (
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
         |ORDER BY doc_id""".stripMargin,

    "q_sample_temperature" ->
      """SELECT source, n_rows,
        |  round(pow(n_rows, 0.7) / (SELECT sum(pow(n_rows, 0.7)) FROM
        |    (SELECT count(*) AS n_rows FROM documents GROUP BY source)), 6) AS weight
        |FROM (SELECT source, count(*) AS n_rows FROM documents GROUP BY source)""".stripMargin,

    "q_stats_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map(c =>
        s"""SELECT '$c' AS "column", count($c) AS n,
           |  count(*) - count($c) AS n_null,
           |  CAST(min($c) AS DOUBLE) AS min, CAST(max($c) AS DOUBLE) AS max,
           |  round(avg($c), 6) AS mean, round(stddev_samp($c), 6) AS stddev
           |FROM lineitem""".stripMargin).mkString("\n", "\nUNION ALL\n", "")
    },

    "q_stats_heavy_hitters" ->
      """SELECT user_id, count(*) AS n,
        |  round(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM events), 6) AS share
        |FROM events GROUP BY user_id
        |ORDER BY n DESC, user_id LIMIT 20""".stripMargin,

    "q_stats_key_skew" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  max(n) AS max_per_key,
        |  round(avg(n), 6) AS avg_per_key,
        |  round(quantile_cont(n, 0.99), 6) AS p99_per_key,
        |  round(max(n) / avg(n), 6) AS skew_ratio
        |FROM (SELECT user_id, count(*) AS n FROM events GROUP BY 1)""".stripMargin,

    // the bound-check reshape (round 11): the exact side is the oracle's
    // business (count + count distinct per source, verbatim); the HLL
    // sketch's 3×rsd accuracy claim is the TRUE boolean (DuckDB's HLL is
    // a different sketch, so the raw approx value can't be oracled —
    // the realized error stays contracted tighter in DriverSuiteSpec)
    "q_stats_approx_distinct" ->
      """SELECT source, count(*) AS n_rows,
        |  count(DISTINCT md5(text)) AS n_distinct,
        |  TRUE AS within_bound
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // the salted two-stage must agree with the plain grouped aggregation
    // — that IS the oracle: DuckDB computes the unsalted groupBy
    "q_stats_salted_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(round(sum(v), 4) AS DOUBLE) AS sum_value,
        |  CAST(round(sum(v) / count(v), 6) AS DOUBLE) AS avg_value,
        |  count(DISTINCT event_type) AS n_event_types
        |FROM (SELECT user_id, event_type, CAST(value AS DECIMAL(18,6)) AS v FROM events)
        |GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q_dedup_source_overlap" ->
      s"""WITH h AS (
         |  SELECT DISTINCT source AS src, md5($oracleNorm) AS ch FROM documents
         |)
         |SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
         |FROM h a JOIN h b ON a.ch = b.ch AND a.src <= b.src
         |GROUP BY 1, 2""".stripMargin,

    "q_sample_cap_group" ->
      s"""SELECT event_id, user_id FROM events
         |QUALIFY row_number() OVER (
         |  PARTITION BY user_id
         |  ORDER BY ${oracleMd5Long("CAST(event_id AS VARCHAR) || '#r3'")}, event_id) <= 5""".stripMargin,

    // water-filling mirror: the saturation flag splits the r-sorted frame
    // (prefix caps exact-integer, same double ops as the Spark plan)
    "q_sample_epoch_alloc" ->
      s"""WITH per AS (
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
         |FROM lam ORDER BY source""".stripMargin,

    "q_sample_epoch_expand" ->
      s"""WITH per AS (
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
         |ORDER BY d.doc_id, epoch""".stripMargin,

    "q_sample_cap_tokens" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |QUALIFY sum(n_chars) OVER (
         |  PARTITION BY lang
         |  ORDER BY ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r4'")}, doc_id
         |  ROWS UNBOUNDED PRECEDING) - n_chars < 30000""".stripMargin,

    "q_sample_quantile" ->
      """WITH cuts AS (
        |  SELECT lang, quantile_cont(n_chars, 0.5) AS c
        |  FROM documents GROUP BY lang
        |)
        |SELECT doc_id, lang, n_chars
        |FROM documents JOIN cuts USING (lang)
        |WHERE n_chars >= c""".stripMargin,

    "q_sample_mix" ->
      s"""SELECT 'web' AS source, doc_id FROM documents
         |WHERE ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r3#web'")} % 1000000 < 500000
         |UNION ALL
         |SELECT 'books' AS source, doc_id FROM documents
         |WHERE ${oracleMd5Long("CAST(doc_id AS VARCHAR) || '#r3#books'")} % 1000000 < 250000""".stripMargin,

    // 1-hash MinHash over 5-word shingles with the md5-derived hash
    "q_text_fingerprint_rolling" ->
      s"""SELECT doc_id,
         |  list_min(list_transform(sh, s -> ${oracleMd5Long("s")})) AS fp_roll
         |FROM (
         |  SELECT doc_id, ${oracleShingles(5)} AS sh
         |  FROM (SELECT doc_id, $oracleTokens AS tokens FROM documents)
         |)""".stripMargin,

    // winnow overlap: same winnowed sets, inverted-index self-join on the
    // selected hashes, pair counts at minShared = 2
    "q_text_winnow_overlap" -> oracleWinnowOverlapSql,

    // the solver-dialed variant: at the correctness SFs winnowConfigFor
    // returns the floor window (the corpus fits the candidate budget), so
    // the result — and therefore the oracle — is IDENTICAL to the
    // fixed-dial row; this entry pins "the dial is config, not semantics"
    "q_text_winnow_auto" -> oracleWinnowOverlapSql,

    // winnowing: the same window-min selection over the same md5-derived
    // hashes (list_slice is 1-based inclusive: window i covers i..i+w-1)
    "q_text_fingerprint_winnow" ->
      s"""SELECT doc_id,
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
         |)""".stripMargin,

    "q_events_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |  count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // anomaly meter: same windowed stats + per-type mean/stddev_pop
    // baseline, z on the UNROUNDED ratio for the flag (mirroring
    // anomalyFlags), rounded for display
    "q_events_anomaly" ->
      """WITH w AS (
        |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |    count(*) AS n_events, round(sum(value), 4) AS sum_value
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
        |), b AS (
        |  SELECT event_type,
        |    avg(n_events) AS mean_n, stddev_pop(n_events) AS std_n,
        |    avg(sum_value) AS mean_v, stddev_pop(sum_value) AS std_v
        |  FROM w GROUP BY 1
        |)
        |SELECT w.event_type, w.window_start, n_events, sum_value,
        |  round(CASE WHEN std_n > 0 THEN (n_events - mean_n) / std_n END, 6)
        |    AS z_volume,
        |  round(CASE WHEN std_v > 0 THEN (sum_value - mean_v) / std_v END, 6)
        |    AS z_value,
        |  (coalesce(abs(CASE WHEN std_n > 0
        |      THEN (n_events - mean_n) / std_n END) >= 2.0, false)
        |   OR coalesce(abs(CASE WHEN std_v > 0
        |      THEN (sum_value - mean_v) / std_v END) >= 2.0, false)) AS anomalous
        |FROM w JOIN b USING (event_type)""".stripMargin,

    // trailing-baseline anomaly: the same stats frame + a preceding-rows
    // window per type (count gate, population stddev), unrounded-z flags
    "q_events_anomaly_trail" ->
      """WITH w AS (
        |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |    count(*) AS n_events, round(sum(value), 4) AS sum_value
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
        |), b AS (
        |  SELECT *, count(*) OVER wnd AS np,
        |    avg(n_events) OVER wnd AS mean_n,
        |    stddev_pop(n_events) OVER wnd AS std_n,
        |    avg(sum_value) OVER wnd AS mean_v,
        |    stddev_pop(sum_value) OVER wnd AS std_v
        |  FROM w
        |  WINDOW wnd AS (PARTITION BY event_type ORDER BY window_start
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_type, window_start, n_events, sum_value,
        |  round(CASE WHEN np >= 3 AND std_n > 0
        |    THEN (n_events - mean_n) / std_n END, 6) AS z_volume,
        |  round(CASE WHEN np >= 3 AND std_v > 0
        |    THEN (sum_value - mean_v) / std_v END, 6) AS z_value,
        |  (coalesce(abs(CASE WHEN np >= 3 AND std_n > 0
        |      THEN (n_events - mean_n) / std_n END) >= 2.0, false)
        |   OR coalesce(abs(CASE WHEN np >= 3 AND std_v > 0
        |      THEN (sum_value - mean_v) / std_v END) >= 2.0, false)) AS anomalous
        |FROM b""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN is the oracle for the union+window
    // as-of implementation (both inclusive at equal timestamps)
    "q_events_asof" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        |  FROM events WHERE event_type = 'click'
        |  QUALIFY row_number() OVER (
        |    PARTITION BY user_id, epoch_us(CAST(ts AS TIMESTAMP))
        |    ORDER BY event_id DESC) = 1
        |)
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  c.value AS last_click_value, c.ts_us AS last_click_ts_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us""".stripMargin,

    "q_events_asof_multi" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value, props
        |  FROM events WHERE event_type = 'click'
        |  QUALIFY row_number() OVER (
        |    PARTITION BY user_id, epoch_us(CAST(ts AS TIMESTAMP))
        |    ORDER BY event_id DESC) = 1
        |)
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  c.value AS last_click_value, c.props AS last_click_props,
        |  c.ts_us AS last_click_ts_us
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us""".stripMargin,

    // NFC normalization: DuckDB's utf8proc-backed nfc_normalize vs the
    // engine's java.text.Normalizer — both implement UAX #15 canonical
    // composition, so length and identity agree on any input
    "q_text_nfc" ->
      """SELECT doc_id,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS nfc_chars,
        |  nfc_normalize(text) = text AS already_nfc
        |FROM documents""".stripMargin,

    "q_text_encoding" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS INTEGER) AS n_control,
        |  CAST(len(regexp_extract_all(text, '�')) AS INTEGER) AS n_replacement,
        |  round(CAST(len(regexp_extract_all(text, '[^\x00-\x7F]')) AS DOUBLE)
        |    / greatest(length(text), 1), 6) AS nonascii_ratio
        |FROM documents""".stripMargin,

    // corpus duplication meter: recompute the distinct-shingle inverted
    // index with the same md5-derived 60-bit hash and count per-doc
    // shingles whose doc-frequency reaches minDocs
    "q_text_corpus_dup" ->
      s"""WITH hs AS (
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
         |LEFT JOIN dc ON d.doc_id = dc.doc_id""".stripMargin,

    // boilerplate removal: recompute the >= minDocs normalized-segment
    // set and filter each document's segments against it (string
    // membership here ≡ the operator's md5-digest membership, modulo md5
    // collisions)
    "q_text_boilerplate" ->
      s"""WITH ls AS (
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
         |)""".stripMargin,

    // incremental boilerplate: store gated on the history slice, applied
    // to the batch slice — same per-line mirror as q_text_boilerplate
    "q_text_boilerplate_incr" ->
      s"""WITH ls AS (
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
         |)""".stripMargin,

    // provenance dedup: keep-first QUALIFY + per-digest count and the
    // sorted distinct source list (canonicalized to a joined string on
    // both sides)
    "q_dedup_provenance" ->
      s"""WITH k AS (
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
         |SELECT doc_id, n_copies, sources FROM k JOIN s USING (dg) WHERE rn = 1""".stripMargin,

    // Gopher §A1.1 battery recomputed term by term (sep = ' the ',
    // minWords = 20, minStopHits = 1 — the driver-query config)
    "q_text_gopher" ->
      s"""WITH m AS (
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
         |FROM g""".stripMargin,

    // C4 cleaning recomputed line by line (sep = ' the ', minLineWords = 4,
    // no terminal-punct rule — the driver-query config); the blocklist
    // document drop mirrors the WHERE
    "q_text_c4" ->
      """WITH ls AS (
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
        |FROM f""".stripMargin,

    // L2 normalization: per-row fold in double precision on both sides
    // (list_sum over a double-cast list ≡ the Spark aggregate() fold);
    // values pre-rounded before fixed-format printing. The `+ 0` after
    // each round() of a possibly-negative value normalizes IEEE -0.0:
    // DuckDB's round keeps the sign of a tiny negative (printf renders
    // "-0.000000") while Spark's BigDecimal round never emits -0.0 —
    // first observed as 4/20000 hash mismatches at the sf1 rung
    "q_emb_normalize" ->
      """SELECT vec_id,
        |  printf('%.6f', round(sqrt(nsq), 6)) AS norm,
        |  CASE WHEN nsq = 0 THEN NULL ELSE
        |    array_to_string(list_transform(embedding,
        |      x -> printf('%.6f', round(CAST(x AS DOUBLE) / sqrt(nsq), 6) + 0)), ',')
        |  END AS unit_vec
        |FROM (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
        |  FROM embeddings
        |)""".stripMargin,

    // per-label centroid: per-(label, dim) averages reassembled in
    // dimension order (embeddings are fixed 64-dim in this corpus, hence
    // range(1, 65); DuckDB lists are 1-based, Spark posexplode 0-based —
    // only the order matters)
    // int8 SQ codes recomputed bit-exactly: per-dim min/max, then the
    // same IEEE op order as sqQuantizeCol — (x−mn)·(255/(mx−mn)), +0.5,
    // floor, int cast, clamp
    "q_emb_sq_codes" ->
      """WITH cells AS (
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
        |ORDER BY vec_id""".stripMargin,

    // sign-bit binary codes recomputed bit-exactly: bit (d-1)%64 of word
    // (d-1)/64 set iff embedding[d] > 0; the unsigned HUGEINT bit build
    // folds back to Spark's signed long via two's complement
    "q_emb_bq_codes" ->
      """WITH cells AS (
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
        |ORDER BY vec_id""".stripMargin,

    "q_emb_centroid" ->
      """WITH cells AS (
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
        |JOIN cents c ON n.label = c.label""".stripMargin,
  )
}
