package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, ScratchCache, TextOps}

/** The measure-then-choose operators (dedupSpans, paragraph reassembly,
  * winnowOverlap) persist intra-query scratch; before round 14 nothing
  * ever unpersisted it, so every call in a long-lived session pinned
  * corpus-scale blocks in the CacheManager. These tests assert the
  * auto-release contract: after the FIRST caller action over a returned
  * frame, the scratch is gone from the cache — and the result stays
  * correct on a second (recomputing) action.
  */
class ScratchCacheSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  // the shared mages fixture is deliberately .cache()d by earlier suites;
  // these tests assert on CacheManager emptiness, so start from a clean
  // cache (mages just recomputes uncached for any later reader)
  override def beforeAll(): Unit = spark.catalog.clearCache()

  private def cacheEmpty: Boolean =
    spark.sharedState.cacheManager.isEmpty

  /** The release listener runs on the async listener bus — poll. */
  private def awaitRelease(maxMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while ((!cacheEmpty || ScratchCache.pendingGroups > 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  private val span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private lazy val spanDocs = Seq(
    (1L, s"intro one $span tail one"),
    (2L, s"intro two two $span tail two"),
    (3L, "nothing shared here at all beyond plain words"),
  ).toDF("doc_id", "text")

  test("dedupSpans scratch is released after the first consuming action") {
    assume(cacheEmpty, "another test left cached data behind")
    val out = TextOps.dedupSpans(spanDocs, "text", "doc_id", k = 4)
    // plan construction persisted + measured the scratch: it IS cached now
    assert(!cacheEmpty)
    assert(ScratchCache.pendingGroups >= 1)
    val first = out.collect()
    awaitRelease()
    assert(cacheEmpty, "dedupSpans scratch still cached after consumption")
    assert(ScratchCache.pendingGroups == 0)
    // second action recomputes from lineage — identical rows
    val second = out.collect()
    assert(first.map(_.toString).sorted.sameElements(second.map(_.toString).sorted))
    assert(first.exists(_.getAs[Long]("n_removed") > 0))
  }

  test("paragraph dedup scratch is released after the first consuming action") {
    assume(cacheEmpty, "another test left cached data behind")
    val docs = Seq(
      (1L, "shared header\nunique one"),
      (2L, "shared header\nunique two"),
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "text", "doc_id")
    assert(!cacheEmpty)
    val rows = out.collect()
    awaitRelease()
    assert(cacheEmpty, "reassembly changed-set still cached after consumption")
    assert(rows.length == 2)
    assert(rows.find(_.getLong(0) == 2L).get.getAs[String]("text_dedup") == "unique two")
  }

  test("paragraphDedup broadcastMaxPositions <= 0 runs no plan-time action and persists nothing") {
    assume(cacheEmpty, "another test left cached data behind")
    val docs = Seq(
      (1L, "shared header\nunique one"),
      (2L, "shared header\nunique two"),
    ).toDF("doc_id", "text")
    val lazyOut =
      Dedup.paragraphDedup(docs, "text", "doc_id", broadcastMaxPositions = -1L)
    assert(cacheEmpty, "lazy escape must not persist scratch")
    val eager = Dedup.paragraphDedup(docs, "text", "doc_id").collect()
    awaitRelease()
    assert(lazyOut.collect().map(_.toString).sorted
      .sameElements(eager.map(_.toString).sorted))
  }

  test("winnowOverlap scratch is released after the first consuming action") {
    assume(cacheEmpty, "another test left cached data behind")
    val docs = Seq(
      (1L, s"$span $span shared body of words"),
      (2L, s"$span $span shared body of words too"),
      (3L, "fully distinct filler text with no overlap whatsoever in it"),
    ).toDF("doc_id", "text")
    // every construction measures its own input: each one persists the
    // index, arms its release, and releases it after its first action
    def constructAndConsume() = {
      val out = TextOps.winnowOverlap(docs, "text", "doc_id")
      assert(!cacheEmpty)
      assert(ScratchCache.pendingGroups >= 1)
      val rows = out.collect()
      awaitRelease()
      assert(cacheEmpty, "winnowOverlap inverted index still cached after consumption")
      assert(ScratchCache.pendingGroups == 0)
      rows.map(_.toString).sorted
    }
    val rows = constructAndConsume()
    assert(rows.nonEmpty)
    // a second construction over the same docs takes the same path
    assert(constructAndConsume().sameElements(rows),
      "a second construction changed winnowOverlap rows")
  }

  test("winnowOverlap guard refusal releases the index before throwing") {
    assume(cacheEmpty, "another test left cached data behind")
    val docs = Seq(
      (1L, s"$span $span repeated template body"),
      (2L, s"$span $span repeated template body"),
      (3L, s"$span $span repeated template body"),
    ).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextOps.winnowOverlap(docs, "text", "doc_id", maxCandidatePairs = 1L)
    }
    assert(e.getMessage.contains("candidate pairs"))
    // unpersist(blocking = false) on the refusal path — poll for it
    val deadline = System.currentTimeMillis() + 20000
    while (!cacheEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(cacheEmpty, "refused winnowOverlap left its inverted index cached")
    assert(ScratchCache.pendingGroups == 0)
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
    awaitRelease()
  }
}
