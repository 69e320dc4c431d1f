package ifritbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import graft.{Compiler, SparkEntry}
import graft.schema.Schema

/** The `spark` workload. A pass visits 10 dialect statements (each op
  * `Compiler.query` plus a full `noop` sink, over the sf0.1 test tables)
  * and the eight curation operators (each op one operator call plus a
  * parquet sink, over a slice of the corpus no other op reads, so no
  * construction-time memo can hit).
  */
object SparkLoad {

  /** One traced op: when it ran, how long each phase took, what it allocated
    * on the calling thread, the persisted RDDs it left behind, and the
    * compile-stage nanos of a dialect op (see [[Stages]]).
    */
  final case class Rec(item: Int, n: Int, startMs: Long, endMs: Long, wallMs: Double,
      constructMs: Double, sinkMs: Double, allocBytes: Long, newPersisted: Int, acc: Array[Long])

  /** acc slots after the [[Stages]] slots: schema decode and plan apply nanos. */
  private val Decode = Stages.Tokens + 1
  private val Apply = Stages.Tokens + 2

  /** How the ops of a pass build and sink their DataFrames. */
  final class Items(spark: SparkSession, tableDir: String, data: String, outputs: String) {
    import Catalog.{Operators, Statements}

    private val base = Catalog.Tables.map(t => t -> spark.read.parquet(s"$tableDir/$t.parquet")).toMap
    private val tables = base ++ Catalog.derived(base("lineitem"))
    private val slices = new File(data).listFiles().map(_.getName)
      .filter(_.startsWith("slice")).sorted.map(f => s"$data/$f")
    private var nextSlice = 0
    private var input = ""
    private val written = scala.collection.mutable.Map.empty[String, Map[String, Any]]

    val names: Vector[String] = Statements.map(_.name) ++ Operators.map(_.name)
    def isDialect(item: Int): Boolean = item < Statements.size

    /** Ops the corpus slices allow, in whole passes. */
    val maxOps: Int = slices.length / Operators.size * names.size

    def oracles: Map[String, String] =
      Statements.map(s => s.name -> SparkEntry.oracleSql(s.name)).toMap ++
        Operators.map(o => o.name -> SparkEntry.oracleSql(o.query))

    /** Each statement's output as the warm-up wrote it, with its fingerprint. */
    def refs: Map[String, Map[String, Any]] = written.toMap

    /** Everything before the sink. On traced runs `acc` collects the
      * dialect's stage times.
      */
    def construct(item: Int, acc: Option[Array[Long]]): DataFrame =
      if (!isDialect(item)) {
        input = slices(nextSlice)
        nextSlice += 1
        Operators(item - Statements.size).build(spark.read.parquet(input))
      } else {
        val st = Statements(item)
        val df = tables(st.table)
        def fail(e: String) = throw new IllegalArgumentException(s"${st.name}: $e")
        acc match {
          case None => st.post(Compiler.query(df, st.sql, st.extensions).fold(fail, identity))
          case Some(a) =>
            graft.functions.GraftFunctions.register(spark)
            val t0 = System.nanoTime()
            val schema = Schema.fromStructType(df.schema)
            a(Decode) += System.nanoTime() - t0
            val compiled = Stages.compile(schema, st.sql, st.extensions, a).fold(fail, identity)
            val t1 = System.nanoTime()
            val out = st.post(compiled.run(df))
            a(Apply) += System.nanoTime() - t1
            out
        }
      }

    /** Run the op's sink; the returned step, run untimed, yields what the
      * op's output is checked with. A curation op writes its output for the
      * check. The warm-up (`warm`) writes each statement's output, observing
      * its fingerprint as it writes; a timed dialect op sinks to `noop`, and
      * its check computes the statement's fingerprint again, to be compared
      * with the warm-up's.
      */
    def sink(item: Int, df: DataFrame, n: Int, warm: Boolean): () => Map[String, Any] =
      if (!isDialect(item)) {
        val out = s"$outputs/op$n"
        val in = input
        df.write.mode("overwrite").parquet(out)
        () => Map("out" -> out, "input" -> in)
      } else if (warm) {
        val obs = Observation(s"check$n")
        val out = s"$outputs/${names(item)}"
        Checks.observed(df, obs).write.mode("overwrite").parquet(out)
        () => {
          written(names(item)) = Checks.summary(obs) + ("out" -> out)
          written(names(item))
        }
      } else {
        df.write.mode("overwrite").format("noop").save()
        () => Checks.fingerprint(df)
      }
  }

  def run(a: Main.Args): Map[String, Any] = {
    val spark = SparkEntry.session("ifritbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Main.sinceJvmStart()
    try measure(spark, a) + ("session_s" -> sessionS) finally spark.stop()
  }

  private def measure(spark: SparkSession, a: Main.Args): Map[String, Any] = {
    val sc = spark.sparkContext
    val items = new Items(spark, a.tables, a.data, new File(a.out).getAbsoluteFile.getParent + "/outputs")
    val loop = new Loop(items.names.size, a.seed)
    val k = sc.defaultParallelism
    var tracing: Option[Tracing] = None
    val recs = Vector.newBuilder[Rec]

    def record(ops: Seq[Op]) = ops.map(o => o.check ++ Map("ok" -> o.ok, "ms" -> o.nanos / 1e6))

    def op(warm: Boolean)(item: Int, n: Int): Op = {
      val acc = tracing.map(_ => new Array[Long](Apply + 1))
      val before = if (tracing.isDefined) sc.getPersistentRDDs.keySet else Set.empty[Int]
      val startMs = System.currentTimeMillis()
      val a0 = Main.allocatedBytes()
      val t0 = System.nanoTime()
      try {
        if (tracing.isDefined) sc.setJobGroup(s"c$n", "construct", interruptOnCancel = false)
        val df = items.construct(item, acc)
        val t1 = System.nanoTime()
        if (tracing.isDefined) sc.setJobGroup(s"s$n", "sink", interruptOnCancel = false)
        val finish = items.sink(item, df, n, warm)
        val t2 = System.nanoTime()
        sc.clearJobGroup()
        tracing.foreach { _ =>
          // counted before any cleanup, so persisted data an op leaks shows
          val leaked = (sc.getPersistentRDDs.keySet -- before).size
          recs += Rec(item, n, startMs, System.currentTimeMillis(), (t2 - t0) / 1e6, (t1 - t0) / 1e6,
            (t2 - t1) / 1e6, Main.allocatedBytes() - a0, leaked, acc.get)
        }
        Op(item, t2 - t0, ok = true, finish() + ("item" -> items.names(item)))
      } catch {
        case NonFatal(e) =>
          sc.clearJobGroup()
          Op(item, System.nanoTime() - t0, ok = false,
            Map("item" -> items.names(item), "error" -> e.toString.take(500)))
      }
    }

    val warm = loop.window(Double.MaxValue, a.warmup * items.names.size)(op(warm = true))
    // the benchmark's own cleanup, after the untimed warm-up only
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val setup = Main.sinceJvmStart()
    // a traced run keeps the slices' last pass for its traced window
    val untracedOps = if (a.trace) items.names.size else items.maxOps - loop.opsRun
    val w = Main.withCanary(c => loop.window(a.seconds, untracedOps, Some(c))(op(warm = false)))
    val window = Map("attempted" -> w.ops.size, "failed" -> w.failed, "k" -> k,
      "passes" -> w.passNanos.size, "pass_s" -> w.passNanos.map(_ / 1e9), "canary_s" -> w.canary,
      "warmup" -> Map("ops" -> warm.ops.size, "failed" -> warm.failed,
        "op_ms" -> warm.ops.map(o => Seq(items.names(o.item), o.nanos / 1e6)),
        "errors" -> warm.ops.filterNot(_.ok).map(_.check).take(3)))
    val checks = Map("refs" -> items.refs, "oracles" -> items.oracles)

    if (!a.trace) {
      Main.endToEnd(w, setup) ++
        Map("ops" -> record(w.ops), "window" -> window) ++ checks
    } else {
      val tr = new Tracing
      sc.addSparkListener(tr)
      spark.listenerManager.register(tr)
      tracing = Some(tr)
      val gc0 = Main.gcMs()
      val traced = loop.window(a.seconds, items.maxOps - loop.opsRun)(op(warm = false))
      val gcMs = Main.gcMs() - gc0
      tracing = None
      tr.drain()
      require(traced.ops.nonEmpty, "the corpus slices left no pass for the traced window")
      Map("metrics" -> (layers(tr, recs.result(), items, k, gcMs) ++
        Tracing.overhead(w.throughput, traced.throughput)),
        "ops" -> record(w.ops ++ traced.ops),
        "window" -> (window ++ Map("traced_attempted" -> traced.ops.size,
          "traced_failed" -> traced.failed))) ++ checks
    }
  }

  /** Per-layer metrics as means per op: the Spark layers over every op, the
    * dialect's stages over the dialect ops, and construction over the
    * curation ops, also per operator.
    */
  private def layers(tr: Tracing, recs: Seq[Rec], items: Items, k: Int,
      gcMs: Long): Map[String, Map[String, Any]] = {
    def mean(rs: Seq[Rec])(f: Rec => Double): Double = rs.map(f).sum / rs.size
    val perOp = mean(recs) _
    def groups(r: Rec) = Seq(tr.group(s"c${r.n}"), tr.group(s"s${r.n}"))
    def phase(f: Tracing.Phases => Long): Double =
      perOp(r => tr.phasesIn(r.startMs, r.endMs).map(f).sum.toDouble)
    def constructJobs(r: Rec): Double = tr.group(s"c${r.n}").jobs.toDouble

    val (dialect, curation) = recs.partition(r => items.isDialect(r.item))
    val d = mean(dialect) _
    val stages = Stages.Names.zipWithIndex.map { case (name, i) =>
      name -> Main.metric(d(_.acc(i) / 1e3), "us")
    }
    val byOperator = curation.groupBy(_.item).toSeq.flatMap { case (item, rs) =>
      val name = items.names(item)
      Seq(
        s"ops.construct_ms.$name" -> Main.metric(mean(rs)(_.constructMs), "ms"),
        s"ops.construct_jobs.$name" -> Main.metric(mean(rs)(constructJobs), "count"),
        s"cache.persisted_rdds_after_op.$name" -> Main.metric(mean(rs)(_.newPersisted), "count"),
      )
    }
    Map(
      "schema.decode_us" -> Main.metric(d(_.acc(Decode) / 1e3), "us"),
      "lexer.tokens_per_op" -> Main.metric(d(_.acc(Stages.Tokens).toDouble), "count"),
      "compiler.compile_ms" -> Main.metric(d(r => ((0 until 4).map(r.acc).sum + r.acc(Decode)) / 1e6), "ms"),
      "planner.apply_ms" -> Main.metric(d(_.acc(Apply) / 1e6), "ms"),
      "ops.construct_ms" -> Main.metric(mean(curation)(_.constructMs), "ms"),
      "ops.construct_jobs" -> Main.metric(mean(curation)(constructJobs), "count"),
      "catalyst.analysis_ms" -> Main.metric(phase(_.analysisMs), "ms"),
      "catalyst.optimization_ms" -> Main.metric(phase(_.optimizationMs), "ms"),
      "catalyst.planning_ms" -> Main.metric(phase(_.planningMs), "ms"),
      "exec.ms" -> Main.metric(perOp(_.sinkMs), "ms"),
      "spark.jobs_per_op" -> Main.metric(perOp(r => groups(r).map(_.jobs).sum.toDouble), "count"),
      "spark.stages_per_op" -> Main.metric(perOp(r => groups(r).map(_.stages).sum.toDouble), "count"),
      "spark.tasks_per_op" -> Main.metric(perOp(r => groups(r).map(_.tasks).sum.toDouble), "count"),
      "shuffle.write_bytes_per_op" ->
        Main.metric(perOp(r => groups(r).map(_.shuffleWrite).sum.toDouble), "B"),
      "spill.bytes_per_op" -> Main.metric(perOp(r => groups(r).map(_.spill).sum.toDouble), "B"),
      "exec.core_busy_frac" -> Main.metric(
        recs.map(r => groups(r).map(_.taskRunMs).sum).sum / (recs.map(_.wallMs).sum * k), "fraction"),
      "cache.persisted_rdds_after_op" -> Main.metric(perOp(_.newPersisted.toDouble), "count"),
      "jvm.gc_ms_per_op" -> Main.metric(gcMs / recs.size.toDouble, "ms"),
      "jvm.alloc_kb_per_op" -> Main.metric(perOp(_.allocBytes / 1024.0), "KB"),
    ) ++ stages ++ byOperator
  }
}
