package graft.ops

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.util.QueryExecutionListener

/** Lifecycle manager for the measure-then-choose operators' intra-query
  * scratch caches (round-14 advice): `winnowOverlap`, `dedupSpans` and the
  * paragraph reassembly, on every construction that measures (their
  * `maxCandidatePairs` / `broadcastMaxPositions` > 0, the defaults),
  * persist a byte-small side, measure it with an eager job at
  * plan-construction time, choose a strategy or give the guard verdict
  * from that size, and reference the side again inside the returned lazy
  * plan — so the persist cannot be released
  * in-function (the consumer hasn't run yet), and before this class nothing
  * ever released it: every call in a long-lived session permanently pinned
  * corpus-scale inverted-index blocks in the CacheManager (the same
  * lingering-scratch disk exhaustion SCALING_r13 diagnosed on the sf300
  * box, just heap/disk-cache-shaped instead of shuffle-shaped).
  *
  * Mechanism: after an operator finishes its eager measurements it `arm`s
  * the scratch frames as one GROUP. A session-wide
  * [[QueryExecutionListener]] then watches completed actions; the first
  * one whose optimized plan references any of the group's cached
  * representations (cache substitution rewrites a persisted subtree into
  * an [[InMemoryRelation]] carrying the frame's [[CachedRDDBuilder]] — an
  * identity that survives `withOutput` copies) is, by construction, the
  * CALLER consuming the operator's returned plan — at that point the whole
  * group unpersists, including members that appear only inside another
  * member's cached plan, not in the consumer's.
  *
  * The measurement actions the operator itself ran must not trigger the
  * release (the listener bus is asynchronous — their completion events can
  * arrive AFTER arm()): arm() records a [[QueryExecution]]-id watermark,
  * and only executions constructed after it count. Ids are monotonic, so
  * this is deterministic, not a timing assumption.
  *
  * Semantics for callers: the scratch serves the operator's internal
  * double-scan plus the FIRST full consumption of the returned frame.
  * A second action on the same returned frame recomputes — correct,
  * lazily re-derivable, and the documented trade (a pipeline that needs
  * the result twice should persist the RESULT, which it owns). Release
  * also fires on a FAILED consuming action: a retry loop that leaks
  * corpus-scale cache per attempt is strictly worse than a retry that
  * recomputes one scan.
  */
object ScratchCache {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // CachedRDDBuilder is private[sql]; builders are held as AnyRef and
  // compared by REFERENCE identity — InMemoryRelation.withOutput copies
  // share the builder instance, which is exactly the identity that says
  // "this scan serves that persisted frame"
  private final case class Group(
      entries: Seq[(AnyRef, DataFrame)], // (cacheBuilder, frame) pairs
      armedAfterId: Long)

  private val groups = new ConcurrentHashMap[java.lang.Long, Group]()
  private val nextGroupId = new AtomicLong(0L)
  // one listener per session; weak keys so dead sessions don't accumulate
  private val installed =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Arm auto-release for scratch frames the calling operator has already
    * persisted and measured. Frames that are not cached (e.g. cleared
    * externally in between) are ignored; arming zero cached frames is a
    * no-op.
    */
  def arm(spark: SparkSession, scratch: DataFrame*): Unit = {
    val cm = spark.sharedState.cacheManager
    val entries = scratch.flatMap { s =>
      cm.lookupCachedData(s.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .map(cd => (cd.cachedRepresentation.cacheBuilder, s))
    }
    if (entries.isEmpty) return
    // arm-time is one of the two prune points (the other: a sweep that
    // matched nothing) — zombie groups are bounded without paying a
    // CacheManager lookup per armed frame on EVERY completed action on
    // the shared listener-bus thread (round-14 advice #3)
    pruneDead()
    install(spark)
    // watermark: every QueryExecution constructed from here on has a
    // larger id than anything the operator's own measurements ran
    val watermark = spark.range(0).queryExecution.id
    groups.put(nextGroupId.incrementAndGet(), Group(entries, watermark))
  }

  /** Number of armed groups still awaiting a consuming action (test and
    * audit hook).
    */
  private[graft] def pendingGroups: Int = { pruneDead(); groups.size() }

  /** Drop groups none of whose armed builders still own a cache entry:
    * scratch cleared EXTERNALLY (spark.catalog.clearCache between bench
    * reps, an explicit caller unpersist) leaves nothing to release, and a
    * dead group would otherwise pend forever — each one a map entry the
    * sweep re-walks on every action for the life of the session. An entry
    * that cannot be checked is conservatively kept (never release-by-guess).
    */
  private def pruneDead(): Unit = {
    val it = groups.entrySet().iterator()
    while (it.hasNext) {
      val g = it.next().getValue
      val alive = g.entries.exists { case (builder, f) =>
        // NonFatal only: an OOM/InterruptedException on the listener
        // thread must propagate, not silently read as "alive"
        try f.sparkSession.sharedState.cacheManager
          .lookupCachedData(f.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
          .exists(_.cachedRepresentation.cacheBuilder eq builder)
        catch { case scala.util.control.NonFatal(_) => true }
      }
      if (!alive) it.remove()
    }
  }

  /** Unpersist each frame ONLY if the registered cache entry for its plan
    * still carries the builder we armed. Dataset.unpersist uncaches by
    * PLAN equality, so a late listener event must not release a NEWER
    * same-plan registration (e.g. a benchmark loop that cleared caches and
    * re-ran the operator: the stale warmup event would yank the fresh
    * entry's blocks out from under the in-flight run).
    */
  private def unpersistGroup(g: Group): Unit =
    g.entries.foreach { case (builder, f) =>
      try {
        val cm = f.sparkSession.sharedState.cacheManager
        val stillOurs = cm
          .lookupCachedData(f.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
          .exists(_.cachedRepresentation.cacheBuilder eq builder)
        if (stillOurs) f.unpersist(blocking = false)
      } catch { case scala.util.control.NonFatal(e) =>
        log.warn(s"scratch unpersist failed: $e") }
    }

  private def install(spark: SparkSession): Unit = installed.synchronized {
    if (installed.containsKey(spark)) return
    installed.put(spark, java.lang.Boolean.TRUE)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = sweep(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = sweep(qe)
    }
    spark.listenerManager.register(listener)
  }

  private def sweep(qe: QueryExecution): Unit = {
    if (groups.isEmpty) return
    // builders referenced by the completed action's plan — cache
    // substitution rewrites persisted subtrees into InMemoryRelations
    // during QueryExecution.withCachedData, so the optimized plan carries
    // them; a failed execution may not have one (analysis error) — then
    // nothing can have consumed a cache and the sweep is a no-op
    val seen: Seq[AnyRef] =
      try qe.optimizedPlan.collect { case r: InMemoryRelation => r.cacheBuilder: AnyRef }
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    if (seen.isEmpty) return
    var released = false
    val it = groups.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val g = e.getValue
      if (qe.id > g.armedAfterId &&
          g.entries.exists { case (b, _) => seen.exists(_ eq b) }) {
        it.remove()
        released = true
        log.info(s"scratch released after consuming action (qe=${qe.id}, " +
          s"${g.entries.size} frame(s))")
        unpersistGroup(g)
      }
    }
    // a cache-reading action that consumed NONE of the armed groups is the
    // signature of an externally cleared (zombie) group — prune now, so
    // the per-frame CacheManager lookups run only on this rare path (and
    // on arm()) instead of on every completed action
    if (!released) pruneDead()
  }
}
