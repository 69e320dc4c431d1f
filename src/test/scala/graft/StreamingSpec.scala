package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.streaming.EventStream

/** Streaming operators driven end-to-end: file source over the real events
  * parquet → streaming aggregation → memory sink, checked against the
  * equivalent batch plan (stream/batch parity).
  */
class StreamingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  test("windowed streaming aggregation matches the batch result") {
    // the file stream source wants a directory; stage the events file into one
    val dir = java.nio.file.Paths.get(tempDir("events_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val path = dir.toString
    val stream = EventStream.windowedAggregate(EventStream.readEvents(spark, path))
    val q = stream.writeStream
      .format("memory").queryName("win_out").outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_out")
        .select($"window_start", $"event_type", $"n_events", $"sum_value")
        .collect().map(_.toString).sorted

      val batch = EventStream
        .readEventsBatch(spark, "/root/testdata/sf0.001/events.parquet")
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n_events"), sum($"value").as("sum_value"))
        .select($"w.start".as("window_start"), $"event_type", $"n_events", $"sum_value")
        .collect().map(_.toString).sorted

      assert(streamed.nonEmpty)
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("windowed anomaly meter flags the planted spike; flat baselines never flag") {
    def ts(h: Long, i: Long) = new java.sql.Timestamp(h * 3600L * 1000L + i)
    // type a: 9 quiet hours of 1 event, then an hour with 12 (the spike);
    // all values 0 → the value signal has a flat baseline (z null)
    // type b: constant 2 events/hour, constant values → never anomalous
    val rows =
      (0L until 9L).map(h => (ts(h, 0), "a", 0.0)) ++
        (0L until 12L).map(i => (ts(9, i), "a", 0.0)) ++
        (0L until 10L).flatMap(h => Seq((ts(h, 0), "b", 1.0), (ts(h, 1), "b", 1.0)))
    val ev = rows.toDF("ts", "event_type", "value")
    val got = graft.streaming.EventStream.windowAnomaly(ev, zThreshold = 2.0)
      .collect()
    assert(got.length == 20)
    val flagged = got.filter(_.getAs[Boolean]("anomalous"))
    // exactly the spike hour: mean 2.1, std_pop 3.3 → z = (12-2.1)/3.3 = 3
    assert(flagged.length == 1)
    assert(flagged.head.getAs[String]("event_type") == "a")
    assert(flagged.head.getAs[Long]("n_events") == 12L)
    assert(flagged.head.getAs[Double]("z_volume") == 3.0)
    assert(flagged.head.isNullAt(flagged.head.fieldIndex("z_value"))) // flat values
    // the flat type never flags and its z is null, not ±inf
    assert(got.filter(_.getAs[String]("event_type") == "b")
      .forall(r => r.isNullAt(r.fieldIndex("z_volume")) && !r.getAs[Boolean]("anomalous")))
  }

  test("trailing anomaly meter: flags the level shift ONCE, then re-baselines") {
    def ts(h: Long, i: Long) = new java.sql.Timestamp(h * 3600L * 1000L + i)
    // quiet alternation 1,2,1,2,... then a permanent jump to 10/hour:
    // the shift hour must flag against its trailing window, and the
    // post-shift hours must NOT (the trailing baseline absorbs the new
    // regime — the exact property the all-time form lacks)
    val counts = Seq(1, 2, 1, 2, 1, 2, 10, 10, 10, 10, 10)
    val rows = counts.zipWithIndex.flatMap { case (c, h) =>
      (0 until c).map(i => (ts(h.toLong, i.toLong), "a", 0.0)) }
    val got = graft.streaming.EventStream.windowAnomalyTrailing(
        rows.toDF("ts", "event_type", "value"),
        lookback = 4, minPrior = 3, zThreshold = 2.0)
      .collect()
      .map(r => (r.getTimestamp(1).getTime / 3600000L).toInt ->
        ((if (r.isNullAt(4)) null else r.getDouble(4).asInstanceOf[Any]),
          r.getAs[Boolean]("anomalous"))).toMap
    assert(got.size == 11)
    // warm-up head: fewer than minPrior predecessors → null z, no flag
    assert((0 to 2).forall(h => got(h)._1 == null && !got(h)._2))
    // the shift hour: trailing {1,2,1,2} → z = (10 − 1.5)/0.5 = 17
    assert(got(6)._1 == 17.0 && got(6)._2)
    // every other hour stays quiet — including all post-shift hours
    assert((3 to 5).forall(h => !got(h)._2))
    assert((7 to 10).forall(h => !got(h)._2))
    // fully re-baselined: the steady new regime has a flat window again
    assert(got(10)._1 == null)
  }

  test("streaming anomaly meter against the persisted baseline matches batch") {
    // the file stream source wants a directory; stage the events file into one
    val dir = java.nio.file.Paths.get(tempDir("events_anom"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val path = dir.toString
    val batchEv = EventStream.readEventsBatch(
      spark, "/root/testdata/sf0.001/events.parquet")
    val baseline = EventStream.windowBaseline(batchEv)
    val q = EventStream.windowAnomalyStream(
        EventStream.readEvents(spark, path), baseline, zThreshold = 2.0)
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("anom_out").collect().map(_.toString).sorted
      val onBatch = EventStream.windowAnomalyStream(batchEv, baseline, zThreshold = 2.0)
        .collect().map(_.toString).sorted
      // literal-baseline path ≡ join-baseline path on the same corpus
      val joined = EventStream.windowAnomaly(batchEv, zThreshold = 2.0)
        .collect().map(_.toString).sorted
      assert(streamed.nonEmpty)
      assert(streamed.sameElements(onBatch))
      assert(onBatch.sameElements(joined))
    } finally q.stop()
  }

  test("batch sessionization splits on the gap and aggregates per session") {
    // user 1: events at 0s, 10s, then a 40-min gap, then 2 more → 2 sessions
    // user 2: single event → 1 session
    val us = 1000000L
    val events = Seq(
      (1L, 0L * us, 1.0), (1L, 10L * us, 2.0),
      (1L, 2500L * us, 3.0), (1L, 2510L * us, 4.0),
      (2L, 5L * us, 9.0),
    ).toDF("user_id", "ts_us", "value")
      .withColumn("ts", timestamp_micros($"ts_us")).drop("ts_us")
    val got = EventStream.sessionizeBatch(events, gapMinutes = 30)
      .orderBy($"user_id", $"session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toList == List(
      (1L, 0L, 0L, 10L * us, 2L, 3.0),
      (1L, 1L, 2500L * us, 2510L * us, 2L, 7.0),
      (2L, 0L, 5L * us, 5L * us, 1L, 9.0),
    ))
  }

  test("streaming exact dedup emits first occurrences only, within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = graft.ops.Dedup.exactDedupStream(docs, "text", "ts", watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      // timestamps well above epoch: a row at event time <= the initial
      // watermark (epoch 0) would be discarded as late data
      def t(sec: Long) = new java.sql.Timestamp((1000000L + sec) * 1000)
      input.addData((0L, "hello world", t(0)))
      q.processAllAvailable()
      // 1 is a normalized duplicate of 0, arriving in a later micro-batch
      // inside the watermark window → dropped; 2 is distinct → kept
      input.addData((1L, "Hello  World", t(1)), (2L, "other", t(2)))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(0L, 2L))
    } finally q.stop()
  }

  test("stateless ops (hash sample, PII redaction, split, winnow) compose with streams") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // narrow, stateless projections/filters are directly streamable —
    // no watermark, no state store
    val out = graft.ops.Sample.splitByHash(
        graft.ops.Sample.sampleByHash(docs, "doc_id", oneIn = 2, salt = "s"),
        "doc_id", Seq("train" -> 0.5, "val" -> 0.5), salt = "sp")
      .select($"doc_id", graft.ops.TextOps.redactPii($"text").as("r"),
        $"split", graft.ops.TextOps.fingerprintWinnow($"text").as("fp"))
    val q = out.writeStream.format("memory").queryName("stateless_ops")
      .outputMode("append").start()
    try {
      input.addData((0L until 20L).map(i => (i, s"mail x$i@y.zz now")): _*)
      q.processAllAvailable()
      val rows = spark.table("stateless_ops").collect()
      // same deterministic subset + assignments the batch operators produce
      val batchDf = (0L until 20L).map(i => (i, "")).toDF("doc_id", "text")
      val batchKept = graft.ops.Sample.splitByHash(
          graft.ops.Sample.sampleByHash(batchDf, "doc_id", 2, "s"),
          "doc_id", Seq("train" -> 0.5, "val" -> 0.5), salt = "sp")
        .select($"doc_id", $"split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.map(_.getLong(0)).toSet == batchKept.keySet)
      assert(rows.forall(r => batchKept(r.getLong(0)) == r.getString(2)))
      assert(rows.forall(_.getString(1).contains("<EMAIL>")))
      assert(rows.forall(!_.isNullAt(3))) // winnow projects per row
    } finally q.stop()
  }

  test("streaming paragraph dedup filters against the static digest store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val history = Seq((0L, "keep me\nshared footer")).toDF("doc_id", "text")
    val store = graft.ops.Dedup.paragraphDigests(history, "text")
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.Dedup.paragraphDedupStream(
        input.toDF().toDF("doc_id", "text"), store, "text", "doc_id")
      .writeStream.format("memory").queryName("para_stream")
      .outputMode("append").start()
    try {
      val data = Seq((10L, "fresh one\nshared footer"), (11L, "fresh two"))
      input.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("para_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val batch = graft.ops.Dedup.paragraphDedupStream(
          data.toDF("doc_id", "text"), store, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(streamed == batch)
      assert(streamed == Set((10L, 0, "fresh one"), (11L, 0, "fresh two")))
    } finally q.stop()
  }

  test("streaming boilerplate scrub against the static store matches batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val history = Seq(
      (0L, "keep me\nshared footer"), (1L, "other\nshared footer"),
    ).toDF("doc_id", "text")
    val store = graft.ops.TextOps.boilerplateDigests(history, "text", "\n", minDocs = 2)
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.TextOps.removeBoilerplateWith(
        input.toDF().toDF("doc_id", "text"), store, "text", "doc_id", "\n")
      .writeStream.format("memory").queryName("bp_stream")
      .outputMode("append").start()
    try {
      val data = Seq((10L, "fresh\nshared footer"), (11L, "all new"))
      input.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("bp_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.ops.TextOps.removeBoilerplateWith(
          data.toDF("doc_id", "text"), store, "text", "doc_id", "\n")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(streamed == Set((10L, "fresh", 1L), (11L, "all new", 0L)))
    } finally q.stop()
  }

  test("streaming BM25 scores a document stream against the static stats store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "apple banana banana"), (1L, "apple cherry"), (2L, "durian"),
    ).toDF("doc_id", "text")
    val stats = graft.ops.Retrieval.bm25Stats(corpus, "text", "doc_id", "apple banana")
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.Retrieval.bm25Stream(
        input.toDF().toDF("doc_id", "text"), stats, "text", "doc_id",
        "apple banana")
      .writeStream.format("memory").queryName("bm25_stream")
      .outputMode("append").start()
    try {
      val data = Seq((10L, "banana banana fresh"), (11L, "apple pie"),
        (12L, "no match here"))
      input.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("bm25_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.ops.Retrieval.bm25Stream(
          data.toDF("doc_id", "text"), stats, "text", "doc_id", "apple banana")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch)
      assert(streamed.map(_._1) == Set(10L, 11L)) // non-matching doc drops
    } finally q.stop()
  }

  test("trained-BPE subword counting composes with streams (stateless projection)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((0L, "the cat the cat the dog")).toDF("doc_id", "text")
    val merges = graft.ops.Bpe.trainBpe(train, "text", numMerges = 4)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .select($"doc_id", graft.ops.Bpe.subwordCount($"text", merges).as("n"))
      .writeStream.format("memory").queryName("bpe_stream")
      .outputMode("append").start()
    try {
      val data = Seq((10L, "the cat"), (11L, "a dog"))
      input.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("bpe_stream").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val batch = data.toDF("doc_id", "text")
        .select($"doc_id", graft.ops.Bpe.subwordCount($"text", merges).as("n"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("range join is stream-static composable and matches the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val points = input.toDF().toDF("pid", "k", "x")
    val ivs = Seq(("k1", "a", 10.0, 25.0), ("k1", "b", 20.0, 120.0), ("k2", "c", 5.0, 15.0))
      .toDF("k", "iv", "lo", "hi")
    // the bucketed rewrite is an equi-join + residual filter, which Spark
    // supports stream-static with no watermark or state store — interval
    // attribution works on a live stream unchanged
    val out = graft.ops.Joins.rangeJoin(points, ivs, "x", "lo", "hi",
      bucketWidth = 7.0, keyCols = Seq("k")).select($"pid", $"iv")
    val q = out.writeStream.format("memory").queryName("range_stream")
      .outputMode("append").start()
    try {
      val data = Seq((1L, "k1", 10.0), (2L, "k1", 25.0), (3L, "k2", 10.0), (4L, "k0", 7.0))
      input.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("range_stream").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = graft.ops.Joins.rangeJoin(data.toDF("pid", "k", "x"), ivs,
          "x", "lo", "hi", 7.0, Seq("k"))
        .select($"pid", $"iv").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed == batch && batch == Set((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("streaming corpus profile matches the batch profile (minus percentiles)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.ops.TextOps.corpusProfileStream(docs, "text")
      .writeStream.format("memory").queryName("profile_stream")
      .outputMode("complete").start()
    try {
      val data = Seq(
        (0L, "the cat and the dog sleep in the house"),
        (1L, "le chat et le chien dorment dans la maison de la ville"),
        (2L, "the quick brown fox jumps over the lazy dog tonight"),
      )
      input.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("profile_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val batch = graft.ops.TextOps.corpusProfileStream(data.toDF("doc_id", "text"), "text")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(streamed == batch)
      assert(streamed.map(_._1) == Set("en", "fr"))
    } finally q.stop()
  }

  test("streamed probes against a static IVF index match the batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = graft.ops.Similarity.trainIvf(emb, "embedding", "vec_id", nlist = 8)
    val probeRows = emb.filter($"vec_id" < 5)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    // stream-static: streamed probes join the static (indexed) corpus;
    // per-probe bounded top-k state, complete output — the continuous
    // query-serving shape
    val q = graft.ops.Similarity.ivfSearch(index, emb,
        input.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id", k = 3)
      .writeStream.format("memory").queryName("ivf_stream")
      .outputMode("complete").start()
    try {
      input.addData(probeRows.toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("ivf_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val batch = graft.ops.Similarity.ivfSearch(index, emb,
          emb.filter($"vec_id" < 5), "embedding", "vec_id", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(streamed == batch)
      assert(streamed.map(_._1) == probeRows.map(_._1).toSet)
    } finally q.stop()
  }

  test("streaming LM scoring matches the batch twin on a static pretrained model") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the dog sat on the rug"),
    ).toDF("doc_id", "text")
    val model = graft.ops.Lm.unigramCounts(train, "text")
    val data = Seq(
      (10L, "the cat and the dog"),
      (11L, "completely novel gibberish tokens"),
      (12L, ""), // zero tokens: dropped by both twins
    )
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.Lm.unigramBitsStream(
      input.toDF().toDF("doc_id", "text"), model, "text", "doc_id")
      .writeStream.format("memory").queryName("lm_stream").start()
    try {
      input.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("lm_stream").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val batch = graft.ops.Lm.unigramBits(
        data.toDF("doc_id", "text"), train, "text", "doc_id").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(streamed.keySet == Set(10L, 11L) && batch.keySet == streamed.keySet)
      streamed.foreach { case (id, (n, bits)) =>
        assert(n == batch(id)._1)
        // both twins round to 6 dp; summation order may differ in the
        // last ulp before rounding, so compare at the rounded precision
        assert(math.abs(bits - batch(id)._2) <= 1e-6, s"doc $id: $bits vs ${batch(id)._2}")
      }
    } finally q.stop()
  }

  test("streaming curation gates + dedups like the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val good = "The project is large and the design of the system is described in the documents " +
      "that the team wrote to explain all of the moving parts in detail and to keep everyone informed."
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = graft.ops.Curate.curateStream(docs, "text", "ts", watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("curate_stream").outputMode("append").start()
    try {
      def t(sec: Long) = new java.sql.Timestamp((1000000L + sec) * 1000)
      input.addData((0L, good, t(0)), (2L, "x", t(1)))
      q.processAllAvailable()
      // 1 duplicates 0 in a later micro-batch → dropped by streaming dedup;
      // 3 is French → dropped by the gate; 4 passes
      input.addData(
        (1L, good, t(2)),
        (3L, "le chat et le chien jouent dans le jardin de la maison pres de la riviere", t(3)),
        (4L, good.replace("project", "library"), t(4)))
      q.processAllAvailable()
      val kept = spark.table("curate_stream").select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(0L, 4L))
    } finally q.stop()
  }

  test("streaming decontamination drops overlapping docs like the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val benchText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.ops.TextOps.decontaminateStream(docs, bench, "text", "text", n = 5)
      .writeStream.format("memory").queryName("decontam_stream").outputMode("append").start()
    try {
      input.addData(
        (0L, benchText),                                  // verbatim → dropped
        (1L, "totally different words about query planning and shuffles"),
        (2L, "prefix then " + benchText + " then suffix"), // contains → dropped
        (3L, "the quick brown fox appears briefly here")) // < 5-gram overlap → kept
      q.processAllAvailable()
      val kept = spark.table("decontam_stream").select($"doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L))
      // exactly the batch operator's survivors at minOverlap = 1
      val batchDocs = Seq(
        (0L, benchText),
        (1L, "totally different words about query planning and shuffles"),
        (2L, "prefix then " + benchText + " then suffix"),
        (3L, "the quick brown fox appears briefly here")).toDF("doc_id", "text")
      val batchKept = graft.ops.TextOps.decontaminate(batchDocs, bench, "text", "doc_id", n = 5)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == batchKept)
    } finally q.stop()
  }

  test("streaming incremental near-dedup matches the batch increment's cross pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // long enough that a one-word edit keeps shingle Jaccard well above
    // the 0.7 threshold: ~46 words → J ≈ (n-9)/(n+1) ≈ 0.8
    val base = "the quick brown fox jumps over the lazy dog near the river bank " +
      "while shuffle partitions spill to disk and the optimizer prunes columns " +
      "from every scan so that the join keys stay narrow and the broadcast side " +
      "fits in memory even when the cluster doubles its executor count overnight"
    val nearDup = base.replace("lazy", "sleepy") // one word edit → high jaccard
    val histDocs = Seq(
      (0L, base),
      (1L, "completely unrelated text about product quantization codebooks " +
        "and inverted file cells probed at query time by the scanner"),
    ).toDF("doc_id", "text")
    val histSigs = graft.ops.Dedup.minHashSignatures(histDocs, "text", "doc_id")
    val newRows = Seq(
      (10L, nearDup),                                  // near-dup of history 0
      (11L, "fresh words having no overlap with anything stored so far " +
        "because every token here is deliberately novel and distinct today"),
      (12L, base),                                     // exact dup of history 0
    )
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val streamDocs = input.toDF().toDF("doc_id", "text", "ts")
    // threshold 0.6: the one-word edit sits at true J ≈ 0.80 but the
    // 64-hash ESTIMATE lands at 0.6875 (deterministic) — the decision
    // boundary caveat the batch scaladoc documents, planted here on purpose
    val q = graft.ops.Dedup.minHashNearDupsStream(
        streamDocs, histSigs, "text", "doc_id", "ts", threshold = 0.6)
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      // strictly after the initial watermark (0): rows AT the watermark
      // are late data to dropDuplicatesWithinWatermark and get dropped
      val t0 = new java.sql.Timestamp(3600000L)
      input.addData(newRows.map { case (id, tx) => (id, tx, t0) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("neardup_stream")
        .select($"hist_id", $"id", $"est_jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // the exact dup and the one-word edit pair with history doc 0
      assert(streamed.map(p => (p._1, p._2)) == Set((0L, 10L), (0L, 12L)))
      assert(streamed.forall(_._3 >= 0.6))
      // parity: the batch increment's CROSS pairs (within-batch pairs —
      // here (10, 12) — are the stream's documented out-of-scope)
      val batchSigs = graft.ops.Dedup.minHashSignatures(
        newRows.toDF("doc_id", "text"), "text", "doc_id")
      val batchCross = graft.ops.Dedup.minHashNearDupsIncremental(
          batchSigs, histSigs, threshold = 0.6)
        .filter($"id_a" < 10L && $"id_b" >= 10L)
        .select($"id_a", $"id_b", $"est_jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batchCross,
        s"stream $streamed != batch cross pairs $batchCross")
    } finally q.stop()
  }

  test("streaming linear scoring matches the batch twin (stateless projection)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    val w = Array.tabulate(64)(d => d % 7 - 3)
    def scored(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id",
        graft.ops.Embeddings.linearScore($"text", w, scale = 10.0, bias = 0.05).as("s"))
    val data = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "???"), // tokenless: scores NULL in both twins
      (2L, "alpha beta gamma"),
    )
    val input = MemoryStream[(Long, String)]
    val q = scored(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("linscore_stream").start()
    try {
      input.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("linscore_stream").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      val batch = scored(data.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(streamed == batch)
      assert(streamed(1L).isEmpty && streamed(0L).nonEmpty)
    } finally q.stop()
  }

  test("streaming latest-wins compaction converges to the batch compaction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq((10L, "k1", 1L, "v1"), (11L, "k2", 5L, "x1"), (12L, "k1", 3L, "v3"))
    val b2 = Seq((13L, "k1", 2L, "v2"),                    // stale: must not win
      (14L, "k2", 5L, "x2"),                               // version tie: higher id wins
      (15L, "k3", 9L, "fresh"))
    val input = MemoryStream[(Long, String, Long, String)]
    val q = graft.ops.Dedup.compactLatestStream(
      input.toDF().toDF("row_id", "key", "version", "payload"),
      "key", "version", "row_id", valueCols = Seq("payload", "version"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("compact_stream").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("compact_stream").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
      val batch = graft.ops.Dedup.compactLatest((b1 ++ b2).toDF("row_id", "key", "version", "payload"),
        "key", "version", "row_id")
        .collect().map(r => r.getString(1) -> ((r.getString(3), r.getLong(2)))).toMap
      assert(streamed == batch)
      assert(streamed == Map("k1" -> (("v3", 3L)), "k2" -> (("x2", 5L)), "k3" -> (("fresh", 9L))))
    } finally q.stop()
  }

  test("streaming C4 cleaning + gopher gate match the batch twins (stateless)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // both operators are pure scan projections/filters, so the SAME
    // functions compose with a stream unchanged — no state store
    def cleaned(df: org.apache.spark.sql.DataFrame) =
      graft.ops.TextOps.c4Clean(df, "text", "doc_id")
        .withColumn("gopher_ok", graft.ops.TextOps.gopherPass(
          $"text_clean", minWords = 3, minStopHits = 1))
    val data = Seq(
      (0L, "The first proper sentence survives intact.\ntiny"),
      (1L, "this page has lorem ipsum somewhere"), // blocklist-dropped
      (2L, "No terminal punctuation on this line\nAnother good sentence here."),
    )
    val input = MemoryStream[(Long, String)]
    val q = cleaned(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("c4_stream").start()
    try {
      input.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("c4_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(4))).sortBy(_._1)
      val batch = cleaned(data.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(4))).sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq)
      assert(!streamed.exists(_._1 == 1L)) // blocklisted doc dropped in-stream
    } finally q.stop()
  }

  test("streamed anchors against the static corpus mine the batch twins' bands") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probeRows = emb.filter($"vec_id" < 5)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    def run(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
            name: String): Set[(Long, Long, Int)] = {
      val input = MemoryStream[(Long, Seq[Float])]
      val q = mk(input.toDF().toDF("vec_id", "embedding"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try {
        input.addData(probeRows.toSeq: _*)
        q.processAllAvailable()
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      } finally q.stop()
    }
    val negS = run(s => graft.ops.Similarity.hardNegativesLshStream(emb, s,
      "embedding", "vec_id", k = 3, maxCos = 0.25, minCos = 0.05,
      planes = 4, tables = 16), "hardneg_stream")
    val negB = graft.ops.Similarity.hardNegativesLsh(emb, emb.filter($"vec_id" < 5),
      "embedding", "vec_id", k = 3, maxCos = 0.25, minCos = 0.05,
      planes = 4, tables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(negS == negB)
    assert(negS.nonEmpty)
    val posS = run(s => graft.ops.Similarity.hardPositivesLshStream(emb, s,
      "embedding", "vec_id", k = 3, minCos = 0.1,
      planes = 4, tables = 16), "hardpos_stream")
    val posB = graft.ops.Similarity.hardPositivesLsh(emb, emb.filter($"vec_id" < 5),
      "embedding", "vec_id", k = 3, minCos = 0.1,
      planes = 4, tables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(posS == posB)
    assert(posS.nonEmpty)
  }

  test("streaming semantic dedup matches the batch increment's cross pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(13)
    def jitter(base: Array[Double], eps: Double): Array[Float] =
      base.map(x => (x + rnd.nextGaussian() * eps).toFloat)
    val c1 = Array.fill(8)(1.0)
    val histDf = ((0L until 4L).map(i => (i, jitter(c1, 0.01))) ++
      Seq((5L, jitter(Array.tabulate(8)(d => math.sin(d * 2.3 + 1)), 0.01))))
      .toDF("id", "v")
    val index = graft.ops.Similarity.trainIvf(histDf, "v", "id", nlist = 2)
    val hist = graft.ops.Dedup.semanticCells(index, histDf, "v", "id", nProbe = 2)
    // stream: a near-dup of the c1 cluster + an unrelated vector
    val newRows = Seq(
      (10L, jitter(c1, 0.01).toSeq),
      (11L, jitter(Array.tabulate(8)(d => math.cos(d * 1.7 - 2)), 0.01).toSeq),
    )
    val input = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val q = graft.ops.Dedup.semanticDedupStream(index,
        input.toDF().toDF("id", "v", "ts"), hist, "v", "id", "ts",
        threshold = 0.99, nProbe = 2)
      .writeStream.format("memory").queryName("semdedup_stream")
      .outputMode("append").start()
    try {
      val t0 = new java.sql.Timestamp(3600000L)
      input.addData(newRows.map { case (id, v) => (id, v, t0) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("semdedup_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the planted near-dup pairs with every history cluster member
      assert(streamed == (0L until 4L).map(h => (10L, h)).toSet)
      // parity: the batch increment's CROSS pairs on the same store
      val batch = graft.ops.Dedup.semanticCells(index,
        newRows.map { case (id, v) => (id, v.toArray) }.toDF("id", "v"),
        "v", "id", nProbe = 2)
      val batchCross = graft.ops.Dedup.semanticDedupIncrement(index, batch, hist,
          threshold = 0.99)
        .filter($"id_a" < 10L || $"id_b" < 10L)
        .collect().map(r => (math.max(r.getLong(0), r.getLong(1)),
          math.min(r.getLong(0), r.getLong(1)))).toSet
      assert(streamed == batchCross,
        s"stream $streamed != batch cross pairs $batchCross")
    } finally q.stop()
  }

  test("streaming sessionization's closed sessions match the batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.sessionize(input.toDS(), gapMillis = 30 * 60000L)
      .writeStream.format("memory").queryName("parity_sess").outputMode("append").start()
    try {
      def ev(id: Long, tSec: Long, user: Long, v: Double) =
        EventStream.Event(id, new java.sql.Timestamp(tSec * 1000), user, "click", v)
      // user 1: two sessions closed by later events; user 2: one closed session
      input.addData(ev(0, 0, 1, 1.0), ev(1, 10, 1, 2.0), ev(2, 5, 2, 9.0))
      input.addData(ev(3, 2500, 1, 3.0), ev(4, 2510, 1, 4.0), ev(5, 2505, 2, 8.0))
      input.addData(ev(6, 9000, 1, 0.5), ev(7, 9000, 2, 0.5)) // closes the 2500s sessions
      q.processAllAvailable()
      val streamed = spark.table("parity_sess")
        .select($"user_id", unix_micros($"session_start").as("session_start_us"),
          unix_micros($"session_end").as("session_end_us"), $"n_events",
          round($"total_value", 4).as("sum_value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet

      val batchInput = Seq(
        (0L, 1L, 1.0), (10L, 1L, 2.0), (5L, 2L, 9.0),
        (2500L, 1L, 3.0), (2510L, 1L, 4.0), (2505L, 2L, 8.0),
        (9000L, 1L, 0.5), (9000L, 2L, 0.5),
      ).toDF("t_sec", "user_id", "value")
        .withColumn("ts", timestamp_seconds($"t_sec")).drop("t_sec")
      val batch = EventStream.sessionizeBatch(batchInput, gapMinutes = 30)
        .select($"user_id", $"session_start_us", $"session_end_us", $"n_events", $"sum_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet

      // streaming emits closed sessions only; every one must appear in the
      // batch result, and the only batch-extra sessions are the open tails
      assert(streamed.subsetOf(batch))
      assert(streamed.size == 4)
      val open = batch -- streamed
      assert(open.forall { case (_, start, _, _, _) => start == 9000L * 1000000L })
    } finally q.stop()
  }

  test("sessionization closes sessions at the gap and keeps state across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStream.Event]
    val sessions = EventStream.sessionize(input.toDS(), gapMillis = 60000)
    val q = sessions.writeStream
      .format("memory").queryName("sess_out").outputMode("append")
      .start()
    try {
      def ev(id: Long, tMillis: Long, user: Long, v: Double) =
        EventStream.Event(id, new java.sql.Timestamp(tMillis), user, "click", v)

      // batch 1: user 1 has two events 10s apart (one open session)
      input.addData(ev(1, 0, 1, 1.0), ev(2, 10000, 1, 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0) // still open

      // batch 2: a third event 2 minutes later closes the first session
      input.addData(ev(3, 130000, 1, 4.0))
      q.processAllAvailable()
      val closed = spark.table("sess_out").as[EventStream.SessionAgg].collect()
      assert(closed.length == 1)
      assert(closed.head.n_events == 2 && closed.head.total_value == 3.0)
      assert(closed.head.session_start.getTime == 0 && closed.head.session_end.getTime == 10000)
    } finally q.stop()
  }

  test("streaming WARC ingest: new crawl files stream in as parsed records, ≡ batch") {
    // the crawl-directory ingest shape: the file streaming source picks
    // up warc files as they appear; the record parse is the same
    // stateless projection as readWarc, so append mode with no state
    val dir = tempDir("warc-stream-")
    val crlf = "\r\n"
    def rec(id: Int, payload: String) =
      "WARC/1.0" + crlf + "WARC-Type: conversion" + crlf +
        s"WARC-Target-URI: https://s/$id" + crlf +
        "WARC-Date: 2024-04-01T00:00:00Z" + crlf + "Content-Type: text/plain" + crlf +
        s"Content-Length: ${payload.getBytes("UTF-8").length}" + crlf + crlf +
        payload + crlf + crlf
    def writeFile(name: String, recs: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        recs.getBytes("UTF-8"))
    writeFile("crawl-0.warc", rec(0, "first batch doc zero") + rec(1, "first batch doc one"))
    val q = graft.sources.GraftSource.readWarcStream(spark, dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("warc_stream").start()
    try {
      q.processAllAvailable()
      // a NEW file arriving mid-stream is the whole point of the shape
      writeFile("crawl-1.warc", rec(2, "second batch doc two"))
      q.processAllAvailable()
      val streamed = spark.table("warc_stream")
        .select($"url", $"text", $"content_length").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
      val batch = graft.sources.GraftSource.readWarc(spark, dir)
        .select($"url", $"text", $"content_length").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(streamed == batch)
      assert(streamed.keySet == Set("https://s/0", "https://s/1", "https://s/2"))
      assert(streamed("https://s/2") == (("second batch doc two", 20L)))
    } finally q.stop()
  }

  test("end-to-end crawl ingest: WARC stream → extract → quality → dedup → parquet → compact") {
    // the whole continuously-ingesting pipeline as one streaming query:
    // crawl files appear → records parse → HTML becomes text → the
    // quality gate drops junk → streaming exact dedup keeps first
    // occurrences → rows land in a DURABLE parquet sink; afterwards the
    // sink's micro-batch file scatter is compacted. Every stage is the
    // same operator the batch pipeline uses.
    val base = tempDir("crawl-e2e-")
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val crlf = "\r\n"
    def page(title: String, body: String) =
      s"<html><head><title>$title</title><script>var x = 1 < 2;</script></head>" +
        s"<body><p>$body</p></body></html>"
    def rec(url: String, sec: Int, html: String) =
      "WARC/1.0" + crlf + "WARC-Type: conversion" + crlf +
        s"WARC-Target-URI: $url" + crlf +
        f"WARC-Date: 2024-04-01T00:00:$sec%02dZ" + crlf + "Content-Type: text/html" + crlf +
        s"Content-Length: ${html.getBytes("UTF-8").length}" + crlf + crlf +
        html + crlf + crlf
    def writeFile(name: String, recs: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name), recs.getBytes("UTF-8"))
    val bodyA = "alpha beta gamma delta epsilon zeta eta theta"
    writeFile("crawl-0.warc",
      rec("https://c/A", 0, page("Doc A", bodyA)) +
        rec("https://c/B", 1, page("Doc B", "tiny"))) // fails the token gate
    val parsed = graft.sources.GraftSource.readWarcStream(spark, in)
      .filter($"warc_type" === "conversion")
      .select($"url",
        to_timestamp($"warc_date", "yyyy-MM-dd'T'HH:mm:ssX").as("ts"),
        graft.ops.TextOps.htmlToText($"text").as("text"))
      .filter(graft.ops.TextOps.tokenCount($"text") >= 6)
    val deduped = graft.ops.Dedup.exactDedupStream(parsed, "text", "ts", "1 hour")
      .select($"url", $"ts", $"text")
    val q = deduped.writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // next crawl file: A′ is the same content modulo case/whitespace
      // (a mirror) → streaming dedup drops it; C is new → kept
      writeFile("crawl-1.warc",
        rec("https://c/A-mirror", 2, page("Doc A", bodyA.toUpperCase + "  ")) +
          rec("https://c/C", 3, page("Doc C", "one two three four five six seven")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$base/out")
    val got = out.collect().map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
    assert(got.keySet == Set("https://c/A", "https://c/C"), s"got ${got.keySet}")
    // extraction really ran: tags/script gone, title + body text present
    assert(got("https://c/A").contains("alpha beta gamma"))
    assert(got("https://c/A").contains("Doc A"))
    assert(!got("https://c/A").contains("<") && !got("https://c/A").contains("var x"))
    // the sink's micro-batch scatter compacts into the serving layout
    val stats = graft.sources.Layout.compactSorted(spark, s"$base/out",
      s"$base/serve", Seq("url"))
    assert(stats.filesOut <= stats.filesIn)
    assert(spark.read.parquet(s"$base/serve").count() == 2)
  }
}
