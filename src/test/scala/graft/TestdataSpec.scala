package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types.TimestampType

/** Guard against testdata regeneration drift. Round 5 lost 9 driver
  * queries because the driver regenerated `/root/testdata` with
  * `events.ts` as `timestamp[us]` where the previous generation stored
  * nanosecond int64 — the load helper assumed one physical form and every
  * events-family query failed analysis. This spec loads every table the
  * driver generates through the *same helpers SparkEntry uses*, so any
  * future schema drift fails `sbt test` instead of silently dropping
  * driver rows.
  */
class TestdataSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSpec.spark

  private val dir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("every testdata table loads and analyzes through the driver helpers") {
    for (name <- tables) {
      val df =
        if (name == "events") SparkEntry.events(spark, dir)
        else SparkEntry.t(spark, dir, name)
      // force analysis + one real row so a physical-read incompatibility
      // (not just a footer mismatch) also surfaces
      assert(df.queryExecution.analyzed != null, s"$name failed analysis")
      assert(df.limit(1).count() == 1L, s"$name is empty or unreadable")
    }
  }

  test("events ts normalizes to TimestampType under either physical form") {
    val df = SparkEntry.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    // and the normalized column is actually usable in a window expression
    // (the exact shape that broke in round 5)
    val n = df
      .groupBy(org.apache.spark.sql.functions.window(df("ts"), "1 hour"))
      .count()
      .count()
    assert(n > 0)
  }

  test("table memo pins the first listing; clearTableMemo is the invalidation rule") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("memo_stale")
    def generate(texts: String*): Unit =
      texts.zipWithIndex.map { case (text, i) => (i.toLong, text) }.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def query(name: String) = SparkEntry.queries(name)(spark, tmp)
    // the WARC store's directory: its files sit in <store>/wet/
    def warcStore(): java.nio.file.Path =
      java.nio.file.Paths.get(new java.net.URI(query("q_source_warc").inputFiles.head))
        .getParent.getParent
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq

    generate("abab abab", "ab cd")
    assert(SparkEntry.t(spark, tmp, "documents").count() == 2L)
    val store0 = warcStore()
    assert(java.nio.file.Files.isDirectory(store0))
    query("q_bpe_subwords") // trains and memoizes BPE merges on the first files
    // regenerate the directory with other rows: the memo keeps serving what
    // it built from the first files (write-once invariant) until explicitly
    // cleared — spark.catalog.refresh* cannot see the private memo
    generate("xyxy xyxy", "xy zw", "zwzw")
    val stale = try SparkEntry.t(spark, tmp, "documents").count() catch {
      // a vanished first-listing file is also an acceptable stale outcome
      case _: Throwable => -1L
    }
    assert(stale != 3L, "memo unexpectedly saw the regenerated directory")
    assert(warcStore() == store0)

    SparkEntry.clearTableMemo()
    assert(SparkEntry.t(spark, tmp, "documents").count() == 3L,
      "clearTableMemo must force a fresh listing")
    assert(!java.nio.file.Files.exists(store0),
      s"clearTableMemo must delete the store built before it: $store0")
    // the store and the trained BPE merges are rebuilt from the new files
    val docs = spark.read.parquet(s"$tmp/documents.parquet")
    val store1 = warcStore()
    assert(store1 != store0 && java.nio.file.Files.isDirectory(store1))
    assert(rows(query("q_source_warc").select("text")) == rows(docs.select("text")))
    graft.functions.GraftFunctions.register(spark)
    val fresh = docs.select(col("doc_id"),
      ops.Bpe.subwordCount(col("text"), ops.Bpe.trainBpe(docs, "text", numMerges = 24))
        .as("n_subwords"),
      ops.TextOps.tokenCount(col("text")).as("n_words"))
    assert(rows(query("q_bpe_subwords")) == rows(fresh),
      "clearTableMemo must retrain the memoized BPE merges")
  }
}
