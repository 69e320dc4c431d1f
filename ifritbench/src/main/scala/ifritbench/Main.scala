package ifritbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import graft.util.{JArray, JBool, JNull, JNumber, JObject, JString, JValue}

/** Entry point run.py launches in a fresh JVM: runs one workload and writes
  * its measurements, and the material its outputs are checked with, to the
  * JSON file named by `--out`.
  *
  * Arguments (all required): `--workload`, `--seed`, `--seconds`,
  * `--trace 0|1`, `--warmup` (untimed passes before the window), `--tables`
  * (the directory of the tables read as they are), `--data` (the directory
  * run.py wrote the seeded inputs to) and `--out`.
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      warmup: Int,
      tables: String,
      data: String,
      out: String,
  )

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("warmup").toInt, kv("tables"), kv("data"), kv("out"))
    val report = a.workload match {
      case "compile" => CompileLoad.run(a)
      case "spark" => SparkLoad.run(a)
      case other => sys.error(s"unknown workload $other")
    }
    val rt = ManagementFactory.getRuntimeMXBean
    val stamp = Map(
      "jvm_flags" -> rt.getInputArguments.asScala.toSeq,
      "java_version" -> System.getProperty("java.version"),
      "jvm_cpus" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    )
    Files.writeString(Paths.get(a.out), json(report + ("stamp" -> stamp)).render)
  }

  /** Seconds from JVM start until now: the set-up a workload's first timed
    * op waits for.
    */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Heap still in use after full collections: what the run retains. */
  def retainedHeapMb(): Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Milliseconds all collectors have spent so far. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Bytes the calling thread has allocated so far. */
  def allocatedBytes(): Long =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      .getCurrentThreadAllocatedBytes

  /** Runs `f` with a started [[Canary]], and stops the canary after. */
  def withCanary[T](f: Canary => T): T = {
    val c = Canary.start()
    try f(c) finally c.close()
  }

  /** The end-to-end metrics of a window, with the window's times scaled to
    * the canary's reference speed, and the same figures as measured. Set-up
    * is reported as measured: the canary samples only the window.
    */
  def endToEnd(w: Loop.Window, setupS: Double): Map[String, Any] = {
    val raw = Map(
      "setup_s" -> setupS,
      "throughput_ops_s" -> w.throughput,
      "latency_p50_us" -> w.latencyUs(0.5),
      "latency_p99_us" -> w.latencyUs(0.99),
      "latency_geomean_us" -> w.itemGeomeanUs,
      "pass_p50_s" -> w.passMedianS,
      "slowdown" -> w.slowdown,
      "retained_heap_mb" -> retainedHeapMb(),
    )
    Map("metrics" -> Map(
      "setup_s" -> metric(setupS, "s"),
      "throughput_ops_s" -> metric(w.throughput * w.slowdown, "1/s"),
      "latency_geomean_us" -> metric(w.itemGeomeanUs / w.slowdown, "us"),
    ), "measured" -> raw)
  }

  /** A metric as the result file carries it. */
  def metric(value: Double, unit: String): Map[String, Any] = Map("value" -> value, "unit" -> unit)

  def json(v: Any): JValue = v match {
    case null | None => JNull
    case Some(x) => json(x)
    case b: Boolean => JBool(b)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JNumber(BigDecimal(d))
    case f: Float => json(f.toDouble)
    case n: Int => JNumber(BigDecimal(n))
    case n: Long => JNumber(BigDecimal(n))
    case s: String => JString(s)
    case m: Map[_, _] => JObject(VectorMap.from(m.toSeq.map { case (k, x) => k.toString -> json(x) }))
    case xs: Iterable[_] => JArray(xs.iterator.map(json).toVector)
    case other => JString(other.toString)
  }
}
