package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, TextOps}

/** The measure-then-choose operators (winnowOverlap, dedupSpans and the
  * paragraph reassembly) keep the side they measure as a local checkpoint:
  * nothing enters the CacheManager, every action on the returned frame
  * reads the same blocks, and Spark's ContextCleaner frees those blocks
  * once the frame that reads them is unreachable.
  */
class ScratchCheckpointSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = SparkSpec.spark
  private lazy val sc = spark.sparkContext
  import spark.implicits._

  // the shared mages fixture is deliberately .cache()d by earlier suites;
  // these tests assert on CacheManager emptiness, so start from a clean
  // cache (mages just recomputes uncached for any later reader)
  override def beforeAll(): Unit = spark.catalog.clearCache()

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  /** Ids of the persisted RDDs, copied out: `keySet` is a view that would
    * hold the snapshot's RDDs, and with them their blocks, alive.
    */
  private def persisted: Set[Int] = sc.getPersistentRDDs.keysIterator.toSet

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private lazy val spanDocs = Seq(
    (1L, s"intro one $span tail one"),
    (2L, s"intro two two $span tail two"),
    (3L, "nothing shared here at all beyond plain words"),
  ).toDF("doc_id", "text")
  private lazy val winnowDocs = Seq(
    (1L, s"$span $span shared body of words"),
    (2L, s"$span $span shared body of words too"),
    (3L, "fully distinct filler text with no overlap whatsoever in it"),
  ).toDF("doc_id", "text")
  private lazy val paraDocs = Seq(
    (1L, "shared header\nunique one"),
    (2L, "shared header\nunique two"),
    (3L, null),
  ).toDF("doc_id", "text")

  /** The three operators with their defaults: each one measures at
    * construction.
    */
  private def operators: Seq[(String, () => DataFrame)] = Seq(
    "winnowOverlap" -> (() => TextOps.winnowOverlap(winnowDocs, "text", "doc_id")),
    "dedupSpans" -> (() => TextOps.dedupSpans(spanDocs, "text", "doc_id", k = 4)),
    "paragraphDedup" -> (() => Dedup.paragraphDedup(paraDocs, "text", "doc_id")),
  )

  test("constructing the measuring operators leaves the CacheManager empty") {
    spark.catalog.clearCache()
    for ((name, build) <- operators) {
      build()
      assert(cacheEmpty, s"$name left scratch in the CacheManager")
    }
  }

  test("a refused winnowOverlap leaves the CacheManager empty") {
    spark.catalog.clearCache()
    val docs = Seq(
      (1L, s"$span $span repeated template body"),
      (2L, s"$span $span repeated template body"),
      (3L, s"$span $span repeated template body"),
    ).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextOps.winnowOverlap(docs, "text", "doc_id", maxCandidatePairs = 1L)
    }
    assert(e.getMessage.contains("candidate pairs"))
    assert(cacheEmpty, "refused winnowOverlap left its inverted index cached")
  }

  test("two actions on one returned frame give identical rows") {
    for ((name, build) <- operators) {
      val out = build()
      val first = sorted(out)
      assert(first.nonEmpty, s"$name returned no rows")
      assert(sorted(out) == first, s"a second action changed $name rows")
      assert(sorted(build()) == first, s"a second construction changed $name rows")
    }
    val spans = TextOps.dedupSpans(spanDocs, "text", "doc_id", k = 4).collect()
    assert(spans.exists(_.getAs[Long]("n_removed") > 0))
    val paras = Dedup.paragraphDedup(paraDocs, "text", "doc_id").collect()
    assert(paras.find(_.getLong(0) == 2L).get.getAs[String]("text_dedup") == "unique two")
  }

  test("a returned frame's checkpoints leave the session once it is dropped") {
    // built, consumed and dropped inside one call: no reference outlives it
    def consume(build: () => DataFrame): Int = build().collect().length
    val before = persisted
    operators.foreach { case (_, build) => consume(build) }
    val created = persisted -- before
    assert(created.nonEmpty, "the measuring operators checkpointed nothing")
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while ((persisted intersect created).nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    val left = persisted intersect created
    assert(left.isEmpty, s"checkpoint RDDs $left outlived the frames that read them")
  }

  test("paragraphDedup broadcastMaxPositions = -1 runs no job while it is built") {
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    }
    def jobsIn(group: String): Int = Option(jobs.get(group)).fold(0)(_.get)
    def built(group: String, bound: Long): DataFrame = {
      sc.setJobGroup(group, "paragraphDedup construction")
      try Dedup.paragraphDedup(paraDocs, "text", "doc_id", broadcastMaxPositions = bound)
      finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val before = persisted
      val neverBroadcast = built("scratch-never-broadcast", -1L)
      assert(persisted == before, "the non-measuring build persisted scratch")
      // positive control, later on the same listener queue: once the
      // measuring build's jobs are seen, any job of the first build is too
      val measured = built("scratch-measured", 32000000L)
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (jobsIn("scratch-measured") == 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(jobsIn("scratch-measured") > 0, "listener wiring: the measuring build runs jobs")
      assert(jobsIn("scratch-never-broadcast") == 0,
        s"the non-measuring build ran ${jobsIn("scratch-never-broadcast")} job(s)")
      val rows = sorted(neverBroadcast)
      assert(rows == sorted(measured))
      assert(rows.contains("[3,,1,0]"), s"the NULL-text document's row changed: $rows")
    } finally sc.removeSparkListener(listener)
  }

  test("dedupSpans null ids never count toward document frequency on either path") {
    val docs = Seq(
      (java.lang.Long.valueOf(1L), s"one $span end"),
      (null.asInstanceOf[java.lang.Long], s"two $span end"),
      (java.lang.Long.valueOf(3L), "independent text with nothing shared"),
    ).toDF("doc_id", "text")
    // the span is shared only between doc 1 and the null-id row: with null
    // ids excluded its df is 1 on BOTH paths, so nothing is removed
    for (minDocs <- Seq(2, 3)) {
      val got = TextOps.dedupSpans(docs, "text", "doc_id", k = 4,
        minDocs = minDocs).collect()
      assert(got.filter(_.getAs[Any]("doc_id") != null)
        .forall(_.getAs[Long]("n_removed") == 0L),
        s"minDocs=$minDocs removed spans backed only by a null-id row")
    }
  }
}
