package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: the pinned session every entrypoint builds, the memo
  * of scans, models, fixtures and stores the queries read, and the driver's
  * views of [[catalog.Catalog]] — `queries` and the oracle SQL by name.
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
    // Scratch frames are reliable checkpoints when the session has a
    // checkpoint directory (ops.Scratch). Spark keeps their files after the
    // frame is gone unless this is on; with it, ContextCleaner deletes them
    // with the frame, as it frees a local checkpoint's blocks.
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
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
  private[graft] def nVecs(s: SparkSession, dir: String): Long =
    memoized(MemoKey("count", s"$dir/embeddings"))(t(s, dir, "embeddings").count())
  private[graft] def nDocs(s: SparkSession, dir: String): Long =
    memoized(MemoKey("count", s"$dir/documents"))(t(s, dir, "documents").count())
  private[graft] def dedupProbeOneIn(s: SparkSession, dir: String): Int =
    math.max(4L, nVecs(s, dir) / 500L).toInt
  private[graft] def simProbeOneIn(s: SparkSession, dir: String): Int =
    math.max(25L, nVecs(s, dir) / 80L).toInt

  /** Dialect query against a table's own (closed-world) schema. */
  private[graft] def q(df: DataFrame, sql: String): DataFrame = Compiler.queryOrThrow(df, sql)

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

  /** IVF index trained once per (sf dir, nlist) and reused — the
    * production shape: the index build is decoupled from search, so the
    * steady-state query (`q_sim_ivf_search`) measures search cost only.
    * Training is deterministic (seeded sample + seeded k-means), so the
    * cached index equals what any invocation would train.
    */
  private[graft] def ivfIndexFor(s: SparkSession, dir: String, nlist: Int): ops.Similarity.IvfIndex =
    memoized(MemoKey("ivf", dir, nlist))(
      ops.Similarity.trainIvf(t(s, dir, "embeddings"), "embedding", "vec_id", nlist))

  /** IVF quantizer over the PCA-whitened top-8 projection, trained once
    * per (sf dir, nlist) — the whitened sibling of [[ivfIndexFor]], so
    * the whitened-SemDeDup row benches the composition's dedup pass
    * rather than a per-row k-means retrain.
    */
  private[graft] def whiteIvfFor(s: SparkSession, dir: String, nlist: Int): ops.Similarity.IvfIndex =
    memoized(MemoKey("white-ivf", dir, nlist)) {
      graft.functions.GraftFunctions.register(s)
      val m = pcaFor(s, dir, k = 8)
      val white = t(s, dir, "embeddings").select(col("vec_id"),
        ops.Embeddings.pcaProject(m, col("embedding"), whiten = true).as("w"))
      ops.Similarity.trainIvf(white, "w", "vec_id", nlist)
    }

  private[graft] def sqFor(s: SparkSession, dir: String, normalize: Boolean): ops.Similarity.SqParams =
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
  private[graft] def fixedIvf(s: SparkSession): ops.Similarity.IvfIndex =
    memoized(MemoKey("fixture", s"$annFixtureDir/ivf16"))(
      ops.Similarity.loadIvf(s, s"$annFixtureDir/ivf16"))
  private[graft] def fixedPq(s: SparkSession): ops.Similarity.PqCodebooks =
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
  private[graft] def fixedSemanticIvf(s: SparkSession): ops.Similarity.IvfIndex =
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
  private[graft] def ccStoreFor(s: SparkSession, dir: String): String =
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
  private[graft] def syntheticHtml: Column = concat(
    lit("<!DOCTYPE html><html><head><title>Doc "), col("doc_id"),
    lit("</title><style>body{color:#000}</style>" +
      "<script type=\"text/javascript\">var x = 1 < 2;</script></head>" +
      "<body><!-- nav boilerplate --><div class=\"nav\">Home &amp; About</div><h1>Doc "),
    col("doc_id"),
    lit("</h1><p>"), col("text"),
    lit("</p><p>Footer &copy; 2024&nbsp;Example &lt;inc&gt;</p></body></html>"))

  /** Deterministic messy-URL synthesis: mixed-case scheme/host, default
    * ports, tracking params in varying order, fragments — every rule of
    * [[ops.TextOps.canonicalUrl]] exercised, SQL-mirrorable
    * ([[oracleUrl]]). The canonicalization rows take [[messyPath]], whose
    * empty paths add one more rule; the e2e crawl fixture takes
    * [[e2ePath]], which keeps the document id recoverable from every URL.
    */
  private[graft] def syntheticUrl(path: Column): Column = {
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
    concat(scheme, lit("://"), host, port, path, query, frag)
  }

  private[graft] def e2ePath: Column = concat(lit("/Articles/"), col("doc_id"))

  /** WARC fixture, serialized once per sf dir: the documents table as
    * real multi-file ISO 28500 WARC conversion records (4 files, so the
    * read-back exercises the parallel multi-file scan). Deterministic
    * and SQL-expressible, so the DuckDB oracle can rebuild the identical
    * record strings and re-parse them.
    */
  private[graft] def warcStoreFor(s: SparkSession, dir: String): String =
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

  /** Crawl-shaped WARC fixture for the e2e flagship, serialized once per
    * sf dir: each document wrapped in the [[syntheticHtml]] page (title,
    * nav, h1, body paragraph, footer — the q_text_html_extract fixture)
    * and written as a `response`-type WARC record at its [[e2ePath]] URL, in
    * 4 files so the read-back is the parallel multi-file scan.
    * Deterministic and SQL-expressible end to end, so the e2e oracle
    * rebuilds the identical record strings and replays the ENTIRE
    * ingest chain from them.
    */
  private[graft] def warcHtmlStoreFor(s: SparkSession, dir: String): String =
    storeFor("warc-html", dir) { store =>
      t(s, dir, "documents").select(
          sources.GraftSource.warcRecord(
            lit("response"),
            syntheticUrl(e2ePath),
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
  private[graft] def zStoreFor(s: SparkSession, dir: String): String =
    storeFor("zstore", dir) { store =>
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      sources.Layout.writeZOrderedWithManifest(ev, s"$store/events_z",
        Seq("user_id", "ts_us"), bits = 8, numFiles = 32)
    }

  /** [[zStoreFor]]'s store with its small-files compaction written beside
    * the original (`events_zc`), once per store.
    */
  private[graft] def zCompactedStoreFor(s: SparkSession, dir: String): String = {
    val store = zStoreFor(s, dir)
    memoized(MemoKey("zcompact", store))(
      sources.Layout.compactZOrdered(s, s"$store/events_z", s"$store/events_zc",
        Seq("user_id", "ts_us"), bits = 8, targetFileBytes = 64L << 10))
    store
  }

  /** Logistic model (weights + bias) trained once per sf dir — the
    * [[ivfIndexFor]] lifecycle: `q_text_lr_weights` pays the visible
    * 16-epoch training cost, the score/auc rows load the memoized model
    * and measure scoring. Training is deterministic (zero init, fixed
    * epochs, integer-exact gradient sums), so the cached model equals
    * what any invocation would train.
    */
  private[graft] def lrModelFor(s: SparkSession, dir: String): (Array[Int], Double) =
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
  private[graft] def pcaFor(s: SparkSession, dir: String, k: Int): ops.Embeddings.PcaModel =
    memoized(MemoKey("pca", dir, k))(
      ops.Embeddings.trainPca(t(s, dir, "embeddings"), "embedding", "vec_id", k))

  private[graft] def bpeFor(s: SparkSession, dir: String, n: Int): Seq[ops.Bpe.Merge] =
    memoized(MemoKey("bpe", dir, n))(
      ops.Bpe.trainBpe(t(s, dir, "documents"), "text", numMerges = n))

  /** The driver queries by name, from [[catalog.Catalog]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.Catalog.specs.map(q => q.name -> q.build).toMap

  /** Each oracle's DuckDB SQL by query name; a rows-only query has none. */
  def oracleSql: Map[String, String] = oraclesWhere(_ => true)

  /** [[oracleSql]] as [[Verify]] dumps it for `dir`: without the oracles
    * whose gate ([[catalog.Oracle]]`.applies`) is off there.
    */
  def oracleSqlFor(s: SparkSession, dir: String): Map[String, String] =
    oraclesWhere(_.applies(s, dir))

  private def oraclesWhere(keep: catalog.Oracle => Boolean): Map[String, String] =
    catalog.Catalog.specs.collect {
      case catalog.QuerySpec(name, _, o: catalog.Oracle) if keep(o) => name -> o.sql
    }.toMap
}
