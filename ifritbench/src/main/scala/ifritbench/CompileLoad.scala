package ifritbench

import graft.Compiler
import graft.schema.Schema

/** The `compile` workload: no Spark. Each op is `Compiler.compileJson` on the
  * reference's Benchmark.js schema and one of its five queries (BASELINE.md),
  * so the dialect's own layers do all the work.
  */
object CompileLoad {

  val SchemaJson: String =
    """{ "age": "number", "class": "string", "is_master": "boolean",
      |  "bonus": ["number"], "spells": [{ "name": "string", "power": "number" }] }""".stripMargin

  /** The five queries, each with the output schema its compile must infer. */
  val Queries: Vector[(String, String)] = Vector(
    "SELECT age" -> """{"age":"number"}""",
    "SELECT class AS klass, COUNT(bonus)" -> """{"klass":"string","bonus":"number"}""",
    "SELECT AVG(age) GROUP BY class" -> """{"age":"number","_id":"string"}""",
    "SELECT is_master WHERE age > 14 AND age < 20" -> """{"is_master":"boolean"}""",
    "SELECT AVG(spells_power) AS avg_power FROM (SELECT AVG(spells.power), age) WHERE age > 18 GROUP BY NULL" ->
      """{"_id":"null","avg_power":"number"}""",
  )

  private val expected: Vector[Schema] =
    Queries.map { case (_, s) => Schema.fromString(s).fold(e => sys.error(e), identity) }

  def run(a: Main.Args): Map[String, Any] = {
    val loop = new Loop(Queries.size, a.seed)
    def plainOp(item: Int, n: Int): Op = {
      val t0 = System.nanoTime()
      val out = Compiler.compileJson(SchemaJson, Queries(item)._1)
      val nanos = System.nanoTime() - t0
      Op(item, nanos, out.exists(_.outputSchema == expected(item)))
    }
    val warm = loop.window(Double.MaxValue, a.warmup * Queries.size)(plainOp)
    val setup = Main.sinceJvmStart()
    // a fork's window is about 1 s, so the canary is sampled every 20 ms for
    // a mean over many samples
    val w = Main.withCanary(c => loop.window(a.seconds, canary = Some(c), canaryEveryS = 0.02)(plainOp))
    val ops = Map("attempted" -> w.ops.size, "canary_s" -> w.canary, "failed" -> w.failed,
      "warmup" -> Map("ops" -> warm.ops.size, "failed" -> warm.failed))
    val inputs = Map("queries" -> Queries.size,
      "bytes" -> (SchemaJson.length + Queries.map(_._1.length).sum))
    if (!a.trace) {
      Main.endToEnd(w, setup) ++ Map("window" -> ops, "inputs" -> inputs)
    } else {
      // the same ops, stage by stage, with the calling thread's allocation;
      // traced and untraced ops alternate, so both see the same JIT and
      // machine state and their throughputs give the tracing overhead
      val acc = new Array[Long](Stages.Tokens + 1)
      var decode, alloc = 0L
      val gc0 = Main.gcMs()
      val first = loop.opsRun
      val both = loop.window(a.seconds) { (item, n) =>
        if ((n - first) % 2 == 1) plainOp(item, n)
        else {
          val a0 = Main.allocatedBytes()
          val t0 = System.nanoTime()
          val schema = Schema.fromString(SchemaJson)
          val t1 = System.nanoTime()
          val out = schema.flatMap(Stages.compile(_, Queries(item)._1, extensions = false, acc))
          val t2 = System.nanoTime()
          alloc += Main.allocatedBytes() - a0
          decode += t1 - t0
          Op(item, t2 - t0, out.exists(_.outputSchema == expected(item)))
        }
      }
      val (tracedOps, plainOps) = both.ops.zipWithIndex.partition(_._2 % 2 == 0)
      val traced = both.copy(ops = tracedOps.map(_._1))
      val n = traced.ops.size.toDouble
      val stages = Stages.Names.zipWithIndex.map { case (name, i) =>
        name -> Main.metric(acc(i) / n / 1e3, "us")
      }
      Map("metrics" -> (Map(
        "schema.decode_us" -> Main.metric(decode / n / 1e3, "us"),
        "lexer.tokens_per_op" -> Main.metric(acc(Stages.Tokens) / n, "count"),
        "jvm.alloc_kb_per_op" -> Main.metric(alloc / n / 1024.0, "KB"),
        "jvm.gc_ms_per_op" -> Main.metric((Main.gcMs() - gc0) / both.ops.size.toDouble, "ms"),
      ) ++ stages ++ Tracing.overhead(both.copy(ops = plainOps.map(_._1)).throughput, traced.throughput)),
        "window" -> (ops ++ Map("traced_attempted" -> both.ops.size, "traced_failed" -> both.failed)),
        "inputs" -> inputs)
    }
  }
}
