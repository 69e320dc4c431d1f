package graft

import scala.collection.immutable.VectorMap

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.util.{JArray, JBool, JNumber, JObject, JString, JValue}

/** Driver-run benchmark: executes every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  *
  * Methodology:
  *  - all available cores by default (`SPARK_GRAFT_CPUS` overrides) with
  *    shuffle partitions matched to the core count;
  *  - a full warmup pass first, so timings reflect steady state — the
  *    same warmed-cycle methodology as the reference's Benchmark.js
  *    numbers. The warm-up compiles the whole-stage/expression classes the
  *    surface generates (1,999 at sf0.1), and the codegen class cache
  *    (`spark.sql.codegen.cache.maxEntries`, pinned in
  *    [[SparkEntry.pinnedCodegenConfs]]) holds all of them, so a timed rep
  *    compiles only classes the warm-up never generated. At Spark's default
  *    of 100 entries each query's classes were evicted long before its reps
  *    ran and every rep recompiled them. The artifact's `queries_codegen`
  *    records each query's compiled classes and Janino ms, warm-up and reps
  *    apart, and `codegen.reps` sums the reps (80 classes at sf0.1);
  *  - per-query time is the min of `SPARK_GRAFT_REPS` timed runs (default
  *    2): min-of-N isolates plan cost from GC noise;
  *  - outlier escalation: when a query's min-of-reps exceeds 10× its own
  *    warmup time (and 1 s absolutely), one extra rep runs before
  *    recording — a contention window spanning all regular reps then
  *    cannot masquerade as a plan regression (warmup includes codegen
  *    compilation the reps do not pay, so steady state above 10× warmup
  *    is near-impossible on an idle box); escalated queries are listed in
  *    the JSON;
  *  - the cache is cleared between queries so one operator's persisted
  *    intermediates can never tax another's measurement;
  *  - fixed canaries (a hash loop of constant work) run before and after
  *    the query loop, single-threaded AND all-cores: their seconds depend
  *    only on how loaded the box is. The all-cores one sees whole-box
  *    contention the single-thread one cannot (a half-loaded 32-core box
  *    slows 32-thread query stages but leaves one free core for a lone
  *    canary thread). The artifact self-describes window quality:
  *    `load_factor` = min(before, after) all-cores canary over the
  *    embedded idle calibration, and `contended` trips at > 1.5 — a
  *    contended artifact's absolute times carry external inflation and
  *    must be renormalized or rerun before being read as regressions;
  *  - the JSON line is also written to a file (SPARK_GRAFT_BENCH_OUT,
  *    default BENCH_LOCAL.json in the cwd), so consumers don't have to
  *    scrape it out of sbt's log-prefixed stdout.
  */
object Bench {

  /** Round a seconds value for the compact stdout line: 4 decimals is
    * 0.1 ms resolution — far below the bench's own ±12% window variance —
    * and keeps the whole per-query map a few KB. Uses BigDecimal, not a
    * locale-sensitive Formatter (a comma-decimal default locale would
    * emit invalid JSON). Full-precision values stay in the fat artifact.
    */
  private def r4(v: Double): JNumber =
    if (v.isNaN || v.isInfinite) JNumber(-1)
    else JNumber(BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP))

  private def strings(xs: Seq[String]): JArray = JArray(xs.map(JString).toVector)

  /** Driver contract: ONE COMPACT JSON line, printed as the last stdout
    * line before exit — per-query seconds (4 decimals) + totals + the
    * window-quality scalars a consumer needs to read them, nothing
    * map-of-maps sized. Same methodology, same queries, same totals as
    * the fat artifact (which keeps full precision + the per-query
    * spread/disk/compile detail). The fat line overflowed the driver's
    * stdout tail buffer (BENCH_r11..r14: rc 0 yet parsed:null), so the
    * stdout side of the contract is now this bounded line; a full-surface
    * run is ~6 KB.
    */
  private[graft] def compactLine(
      results: Seq[(String, Double)], total: Double, normDivisor: Double,
      loadFactor: Double, contended: Boolean, sfDir: String,
      escalated: Seq[String], failed: Seq[String], partial: Boolean,
      artifact: String): String =
    JObject(VectorMap[String, JValue](
      "metric" -> JString("total"),
      "value" -> r4(total),
      "unit" -> JString("sec"),
      "queries" -> JObject(results.map { case (k, v) => k -> r4(v) }.to(VectorMap)),
      "sf" -> JString(sfDir),
      "total_norm" -> r4(total / normDivisor),
      "load_factor" -> r4(loadFactor),
      "contended" -> JBool(contended),
      "escalated" -> strings(escalated),
      "failed" -> strings(failed),
      "partial" -> JBool(partial),
      "artifact" -> JString(artifact),
    )).render

  /** Codegen compile counters: how many classes Janino compiled (codegen
    * cache misses) and their compile nanos. Both are JVM-wide and only
    * grow, so the difference of two readings is what compiled in between.
    */
  private[graft] final case class Codegen(classes: Long, nanos: Long) {
    def -(o: Codegen): Codegen = Codegen(classes - o.classes, nanos - o.nanos)
    def +(o: Codegen): Codegen = Codegen(classes + o.classes, nanos + o.nanos)
    def json: JObject = JObject(VectorMap(
      "classes" -> JNumber(classes), "compile_ms" -> JNumber(BigDecimal(nanos) / 1e6)))
  }
  private[graft] object Codegen {
    def now(): Codegen =
      Codegen(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  }

  /** Used bytes of the Metaspace pool, in MB (-1 if the JVM has none). */
  private[graft] def metaspaceUsedMb: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").fold(-1L)(_.getUsage.getUsed >> 20)
  }

  /** Fixed-work single-thread canary: seconds to xxh64-chain 2e8 longs.
    * ~0.5-1 s on an idle modern core; scales up linearly with external
    * CPU contention.
    */
  private def canarySeconds(): Double = {
    val t0 = System.nanoTime()
    var h = 42L
    var i = 0
    while (i < 200000000) {
      h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h, 42L)
      i += 1
    }
    // fold h into a side effect the JIT cannot elide
    if (h == 0L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Multi-threaded canary: every thread runs the same fixed hash chain
    * concurrently; wall seconds for ALL to finish. On an idle box this is
    * ≈ the single-thread time (each thread owns a core); under whole-box
    * contention it inflates like the 32-thread query stages do — the
    * round-5 window ran queries ~1.7× slow while the single-thread canary
    * stayed flat, exactly the blind spot this closes.
    */
  private def canarySecondsMulti(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      new Thread(() => {
        var h = 42L
        var i = 0
        while (i < 200000000) {
          h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h, 42L)
          i += 1
        }
        if (h == 0L) System.err.print("")
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Idle-box calibration of [[canarySecondsMulti]] on this container
    * class (32 cores, measured min-of-3 on a quiet box in round 6). The
    * artifact reports `load_factor` = min(before, after) multi-canary /
    * this constant — min, so a transient spike in one measurement doesn't
    * condemn the window; a UNIFORMLY loaded window inflates both.
    */
  private val CanaryIdleCalibSec = sys.env
    .getOrElse("SPARK_GRAFT_CANARY_CALIB", "1.6").toDouble

  /** Free bytes on the shuffle-scratch filesystem (spark.local.dir, or
    * java.io.tmpdir where unset — the local-mode default). Stamped into
    * every artifact before/after the query loop AND after each row
    * (round-13 ask #5): three sf300 takes that round failed or skewed on
    * scratch exhaustion, and nothing in the artifacts said so — disk
    * pressure must be self-describing so in-sweep vs isolated
    * contradictions arrive pre-diagnosed instead of litigated a round
    * later.
    */
  private[graft] def scratchFreeBytes(spark: SparkSession): Long = {
    val dir = spark.sparkContext.getConf
      .getOption("spark.local.dir")
      .map(_.split(',').head)
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
    try new java.io.File(dir).getUsableSpace catch { case _: Throwable => -1L }
  }

  /** Bytes of parquet under the rung directory — the input-size side of
    * the heap-sizing rule below.
    */
  private[graft] def rungBytes(sfDir: String): Long = {
    val d = new java.io.File(sfDir)
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(size).sum
      else if (f.getName.endsWith(".parquet")) f.length
      else 0L
    if (d.isDirectory) size(d) else 0L
  }

  /** Heap posture for a rung, derived — not tribal knowledge. The sf100
    * rung (21 GB parquet) OOMs at the 8 GB default (256 MB/core on
    * local[32]: 32 threads × ~0.5 GB transient columnar-builder buffers,
    * SCALING_r11 §6), and the committed fix (48 GB ≈ 2.3× data) lives
    * only in one run's env var — so derive the bound here and refuse
    * loudly below it. Rule, anchored to the two measured points: rungs
    * ≤ 8 GB of parquet (≤ sf30's 6 GB, all measured fine at the 8 GB
    * default) carry no bound; above that the driver heap must be ≥ 2×
    * the parquet bytes (sf100: 21 GB → 42 GB ≈ the 48 GB that worked).
    * `SPARK_GRAFT_FORCE_HEAP=1` overrides for deliberate spill/starve
    * experiments; either way the artifact stamps `driver_mem_bytes` /
    * `data_bytes` so the posture travels with the numbers.
    */
  private[graft] def requiredHeapBytes(dataBytes: Long): Long =
    if (dataBytes <= (8L << 30)) 0L else 2L * dataBytes

  private[graft] def checkHeapPosture(sfDir: String): (Long, Long) = {
    val dataBytes = rungBytes(sfDir)
    val heapBytes = Runtime.getRuntime.maxMemory
    val need = requiredHeapBytes(dataBytes)
    if (heapBytes < need && sys.env.getOrElse("SPARK_GRAFT_FORCE_HEAP", "0") != "1") {
      System.err.println(
        f"[bench] REFUSING: rung $sfDir holds ${dataBytes / 1e9}%.1f GB of parquet; " +
          f"the heap rule (≥ 2× data above 8 GB; SCALING_r11 §6) needs ${need / 1e9}%.0f GB " +
          f"but -Xmx gives ${heapBytes / 1e9}%.1f GB. Set SPARK_DRIVER_MEM (e.g. " +
          f"SPARK_DRIVER_MEM=${math.ceil(need / 1e9).toLong}g) or SPARK_GRAFT_FORCE_HEAP=1 " +
          "for a deliberate starvation run.")
      sys.exit(2)
    }
    (dataBytes, heapBytes)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (dataBytes, heapBytes) = checkHeapPosture(sfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // optional subset: comma-separated query-name PREFIXES (e.g.
    // "q_dedup,q_sim,q_lm,q_bpe") — the partial-family runs at the
    // generated sf10 rung use this; absent → the full surface, which is
    // what the driver runs
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    // and/or skip by prefix (e.g. the intrinsically-quadratic mid-threshold
    // SemDeDup rows at the sf10 rung, whose measured cost/recall frontier
    // is reported separately rather than re-paid per bench rep)
    // a trailing '$' pins an entry to an exact name (e.g.
    // "q_dedup_simhash$" skips the radius-8 row without touching
    // q_dedup_simhash_r3 — prefix matching alone can't separate them)
    val skip: Seq[String] =
      sys.env.get("SPARK_GRAFT_SKIP").toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    def matches(pat: String, name: String): Boolean =
      if (pat.endsWith("$")) name == pat.dropRight(1) else name.startsWith(pat)
    def selected(name: String): Boolean =
      only.forall(_.exists(matches(_, name))) && !skip.exists(matches(_, name))
    // pinned posture shared with Verify and cluster runs (CLUSTER.md)
    val spark = SparkEntry.session("graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // full cleanup between measurements: SQL cache AND raw persisted RDD
    // blocks — localCheckpoint blocks live in the BlockManager, which
    // spark.catalog.clearCache() alone does not touch
    // unpersisting a localCheckpointed RDD logs an irrelevant
    // "lineage truncated" WARN; silence that logger rather than skip the
    // unpersist — skipping would let dead checkpoint blocks accumulate
    // across warmup + every rep and tax later measurements with
    // eviction/spill pressure (the very cross-query leak clearAll exists
    // to prevent)
    // (each RDD subclass logs under its own class name, so silence the
    // whole rdd package)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    def clearAll(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // warmup pass — untimed in the report, but each query's warmup seconds
    // calibrate the outlier escalation below
    // evaluate() forces EVERY column of every row through the noop sink:
    // .count() lets Catalyst prune a projection-only query down to its
    // scan, timing IO instead of the operator (hid a 150x regression in
    // the winnowing projection until a join forced evaluation)
    def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // a filtered (ONLY) run executes in the ONLY list's order: one-JVM
    // sweeps accumulate lingering shuffle scratch until the context
    // cleaner GCs it, so a caller can front-load the scratch-hungry rows
    // (the r13 sf300 sweep's span row died on disk when it ran 11th and
    // passes easily when isolated or first). The full surface keeps the
    // map's deterministic order.
    val selectedQueries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
      val all = SparkEntry.queries.toSeq.filter(q => selected(q._1))
      only match {
        case Some(pats) =>
          pats.flatMap(p => all.filter(q => matches(p, q._1))).distinct
        case None => all
      }
    }
    // codegen compiles per query, warm-up and timed reps apart: the
    // JVM-wide count of classes Janino compiled (codegen cache misses) and
    // their compile nanos, both monotonic, read before and after
    val warmupCodegen, repsCodegen = scala.collection.mutable.LinkedHashMap.empty[String, Codegen]
    val warmup = selectedQueries.map { case (name, fn) =>
      val c0 = Codegen.now()
      val t0 = System.nanoTime()
      val ok = try { evaluate(fn(spark, sfDir)); true } catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      warmupCodegen(name) = Codegen.now() - c0
      clearAll()
      name -> (if (ok) dt else Double.NaN)
    }.toMap
    // cap canary threads at physical cores: with SPARK_GRAFT_CPUS above
    // availableProcessors the idle multi-canary would exceed single-thread
    // time by oversubscription alone and mislabel a quiet window as loaded
    val canaryThreads = math.min(cpus.toInt, Runtime.getRuntime.availableProcessors)
    val diskFreeBefore = scratchFreeBytes(spark)
    // per-row scratch free bytes, sampled AFTER each query's reps: a row
    // that starved its successors (lingering shuffle scratch) shows as a
    // cliff in this map, not as an unexplained slowdown two rows later
    val diskFree = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val canaryBefore = canarySeconds()
    val canaryMtBefore = canarySecondsMulti(canaryThreads)
    val escalated = scala.collection.mutable.ListBuffer.empty[String]
    // per-query max/min ratio across reps: the artifact's variance
    // self-description (round-11 ask #3 — q_dedup_embedding measured
    // 39.5-69.7 s on identical HEAD/rung even under the pinned exchange,
    // so a single sample of a high-variance row is not a number, and the
    // notes must stop single-sourcing such rows). Only meaningful at
    // reps >= 2; rows with spread > 1.3 deserve a min-of-3 re-read
    // before being called regressions.
    val spreads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = selectedQueries.map { case (name, fn) =>
      // failed reps are excluded from the min (a fast failure must not
      // masquerade as a fast run); all-failed reports -1
      def rep(): Option[Double] = {
        val t0 = System.nanoTime()
        val ok = try { evaluate(fn(spark, sfDir)); true } catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        clearAll()
        if (ok) Some(dt) else None
      }
      val c0 = Codegen.now()
      var times = (1 to reps).flatMap(_ => rep())
      val w = warmup.getOrElse(name, Double.NaN)
      if (times.nonEmpty && !w.isNaN && times.min > math.max(10 * w, 1.0)) {
        // every regular rep was ≥10× the warmup of the SAME query in the
        // SAME process — contention, not plans; take one more sample
        escalated += name
        times ++= rep()
      }
      repsCodegen(name) = Codegen.now() - c0
      // min > 0 guard: a ~0-second rep would serialize Infinity/NaN into
      // the artifact — not valid JSON — and break downstream json.load
      if (times.size >= 2 && times.min > 0) spreads += name -> (times.max / times.min)
      diskFree += name -> scratchFreeBytes(spark)
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    val canaryAfter = canarySeconds()
    val canaryMtAfter = canarySecondsMulti(canaryThreads)
    // window quality: how loaded was the whole box while queries ran.
    // min(before, after): a transient spike in one measurement is not a
    // contended window; a loaded window inflates both. > 1.5 means every
    // absolute query time in this artifact carries external inflation and
    // round-over-round comparisons should renormalize or rerun.
    val loadFactor = math.min(canaryMtBefore, canaryMtAfter) / CanaryIdleCalibSec
    // calibration-free secondary signal: multi-thread over single-thread
    // canary from the SAME run. Idle ≈ 1 (every canary thread owns a
    // core); whole-box contention inflates the multi canary more than the
    // lone-thread one. Unlike load_factor it needs no per-container-class
    // constant, so it degrades gracefully off the calibrated 32-core box
    // (where CanaryIdleCalibSec would mislabel windows).
    val loadFactorRel = math.min(canaryMtBefore / canaryBefore,
      canaryMtAfter / canaryAfter)
    val contended = loadFactor > 1.5
    // compile-throughput rider: a shortened CompileBench run embedded in
    // every per-round BENCH artifact so front-end regressions are
    // driver-visible (the full-length run stays `runMain graft.CompileBench`
    // → COMPILE_r{N}.json). Runs AFTER the closing canaries so its
    // single-threaded CPU burn cannot contaminate the query window's load
    // measurement.
    val compileJson =
      if (sys.env.getOrElse("SPARK_GRAFT_COMPILE", "1") == "0") "null"
      else try CompileBench.run(warmupOps = 10000, opsPerRound = 10000, rounds = 2)
      catch { case e: Throwable =>
        System.err.println(s"[bench] compile bench failed: $e"); "null"
      }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // canary-normalized per-query times: raw seconds divided by the
    // window's load_factor, so round-over-round comparisons can separate
    // plan changes from window contention MECHANICALLY instead of
    // eyeballing the canaries. The divisor is the same all-cores
    // load_factor the artifact reports (floored at 1: a window that
    // measures FASTER than the idle calibration is calibration noise,
    // and "correcting" times upward would manufacture regressions).
    // Failed queries stay -1 unnormalized. Residual cross-round error
    // after normalization is the calibration constant's own drift.
    val normDivisor = math.max(loadFactor, 1.0)
    val qsNorm = results
      .map { case (k, v) => s"\"" + k + "\":" + (if (v < 0) v else v / normDivisor) }
      .mkString("{", ",", "}")
    // failed queries report -1 per entry but must not SUBTRACT from the
    // headline total (a broken query would read as a round-over-round
    // improvement); they are excluded from the sum and listed explicitly
    val failed = results.collect { case (k, v) if v < 0 => k }
    val total = results.map(_._2).filter(_ >= 0).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":${JString(sfDir).render},""" +
        s""""canary_before_sec":$canaryBefore,"canary_after_sec":$canaryAfter,""" +
        s""""canary_mt_before_sec":$canaryMtBefore,"canary_mt_after_sec":$canaryMtAfter,""" +
        s""""canary_idle_calib_sec":$CanaryIdleCalibSec,""" +
        // raw interpolation, not f"%.3f": Formatter is locale-sensitive
        // and a comma-decimal default locale would emit invalid JSON
        s""""load_factor":$loadFactor,"load_factor_rel":$loadFactorRel,"contended":$contended,""" +
        s""""norm_divisor":$normDivisor,"total_norm":${total / normDivisor},""" +
        s""""queries_norm":$qsNorm,""" +
        s""""escalated":${strings(escalated.toSeq).render},"failed":${strings(failed).render},""" +
        // a filtered (ONLY/SKIP) run's total is NOT comparable to a
        // full-surface run's — stamp the active filters so a partial
        // artifact can never masquerade as a round artifact
        // heap posture travels with the numbers (verdict r11 ask #4): a
        // future reader can tell a starved window from a sized one
        s""""driver_mem_bytes":$heapBytes,"data_bytes":$dataBytes,""" +
        // per-query rep spread (max/min) — rows > 1.3 are variance-prone
        // and should be read as min-of-N, never single-sourced
        s""""queries_spread":${spreads.map { case (k, v) =>
          "\"" + k + "\":" + v }.mkString("{", ",", "}")},""" +
        // shuffle-scratch disk pressure, self-describing (r13 ask #5)
        s""""disk_free_before_bytes":$diskFreeBefore,""" +
        s""""disk_free_after_bytes":${scratchFreeBytes(spark)},""" +
        s""""queries_disk_free_bytes":${diskFree.map { case (k, v) =>
          "\"" + k + "\":" + v }.mkString("{", ",", "}")},""" +
        s""""partial":${only.isDefined || skip.nonEmpty},""" +
        s""""only":${strings(only.getOrElse(Seq.empty)).render},""" +
        s""""skip":${strings(skip).render},""" +
        // codegen compiles per query (warm-up vs timed reps), their sums,
        // the cache size they ran under, and the Metaspace that holds the
        // cached classes
        s""""queries_codegen":${JObject(selectedQueries.map { case (k, _) =>
          k -> JObject(VectorMap("warmup" -> warmupCodegen(k).json, "reps" -> repsCodegen(k).json))
        }.to(VectorMap)).render},""" +
        s""""codegen":${JObject(VectorMap[String, JValue](
          "cache_max_entries" -> JString(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
          "warmup" -> warmupCodegen.values.foldLeft(Codegen(0, 0))(_ + _).json,
          "reps" -> repsCodegen.values.foldLeft(Codegen(0, 0))(_ + _).json,
          "metaspace_used_mb" -> JNumber(BigDecimal(metaspaceUsedMb)),
        )).render},""" +
        s""""compile":$compileJson}"""
    // The FAT self-describing artifact goes to the SPARK_GRAFT_BENCH_OUT
    // file ONLY (it grew to hundreds of KB of per-query disk/spread maps,
    // which overflowed the driver's stdout tail buffer — BENCH_r11..r14
    // all show rc:0 with parsed:null because the one printed line could
    // no longer be recovered from the log). A filtered run never
    // overwrites the round artifact by default — explicit
    // SPARK_GRAFT_BENCH_OUT still goes where the caller said.
    val defaultOut =
      if (only.isDefined || skip.nonEmpty) "BENCH_PARTIAL.json" else "BENCH_LOCAL.json"
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: $e")
      // the fat numbers must survive somewhere — stderr, so they still
      // cannot displace the compact contract line on stdout
      System.err.println(line)
    }
    println(compactLine(results, total, normDivisor, loadFactor, contended,
      sfDir, escalated.toSeq, failed, only.isDefined || skip.nonEmpty, outFile))
    spark.stop()
  }
}
