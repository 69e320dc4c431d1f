package ifritbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts what Spark did for each op, through Spark's public listener APIs
  * only. Jobs, stages and tasks are attributed by the job group the
  * benchmark sets around each op's construction and sink; Catalyst's phase
  * times come from each finished query's `QueryPlanningTracker` and are
  * attributed by the wall-clock interval of the op they started in.
  */
final class Tracing extends SparkListener with QueryExecutionListener {
  import Tracing.Phases

  final class Acc {
    var jobs, stages, tasks, shuffleWrite, spill, taskRunMs = 0L
  }

  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val lastEventNs = new AtomicLong(System.nanoTime())
  val phases = new ConcurrentLinkedQueue[Phases]()

  private def acc(group: String): Acc = groups.computeIfAbsent(group, _ => new Acc)
  private def seen(): Unit = lastEventNs.set(System.nanoTime())

  /** Counters of one job group; zero when it started no job. */
  def group(name: String): Acc = groups.getOrDefault(name, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      val a = acc(g)
      a.synchronized(a.jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, g))
    }
    seen()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobsEnded.incrementAndGet()
    seen()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageGroup.get(info.stageId)).foreach { g =>
      val a = acc(g)
      a.synchronized {
        a.stages += 1
        a.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.taskRunMs += m.executorRunTime
        }
      }
    }
    seen()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    def ms(name: String): Long = p.get(name).map(_.durationMs).getOrElse(0L)
    val start = if (p.isEmpty) System.currentTimeMillis() else p.values.map(_.startTimeMs).min
    phases.add(Phases(start, ms("analysis"), ms("optimization"), ms("planning")))
    seen()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen()

  /** Wait until every started job has ended and no event has arrived for a
    * quiet interval, so the counters are complete before they are read.
    */
  def drain(timeoutMs: Long = 10000, quietMs: Long = 300): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
        (jobsStarted.get != jobsEnded.get || System.nanoTime() - lastEventNs.get < quietMs * 1000000L))
      Thread.sleep(20)
  }

  /** Catalyst phases of queries that started within [fromMs, toMs]. */
  def phasesIn(fromMs: Long, toMs: Long): Iterable[Phases] =
    phases.asScala.filter(p => p.startMs >= fromMs && p.startMs <= toMs)
}

object Tracing {

  /** Catalyst phase times of one finished query, with when it started. */
  final case class Phases(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

  /** Throughput with and without tracing, the share tracing costs, and the
    * heap the run retains at its end.
    */
  def overhead(untraced: Double, traced: Double): Map[String, Map[String, Any]] = Map(
    "jvm.retained_heap_mb" -> Main.metric(Main.retainedHeapMb(), "MB"),
    "trace.untraced_ops_s" -> Main.metric(untraced, "1/s"),
    "trace.traced_ops_s" -> Main.metric(traced, "1/s"),
    "trace.overhead_frac" -> Main.metric(1.0 - traced / untraced, "fraction"),
  )
}
