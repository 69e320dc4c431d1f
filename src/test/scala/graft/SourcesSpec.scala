package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.sources.{GraftSource, Layout}

/** Schema-gated source readers + partitioned sink, against real testdata. */
class SourcesSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("parquet source projects exactly the declared fields") {
    val got = GraftSource.parquet(spark, s"$dir/lineitem.parquet",
      """{ "l_orderkey": "number", "l_quantity": "number", "l_returnflag": "string" }""")
      .fold(e => fail(e), identity)
    assert(got.columns.toList == List("l_orderkey", "l_quantity", "l_returnflag"))
    assert(got.count() > 0)
    // the gated frame is directly queryable by the dialect
    val r = Compiler.queryOrThrow(got, "SELECT l_orderkey WHERE l_returnflag = \"R\"")
    assert(r.count() > 0)
  }

  test("undeclared fields are unreachable through the gate") {
    val got = GraftSource.parquet(spark, s"$dir/lineitem.parquet",
      """{ "l_orderkey": "number" }""").fold(e => fail(e), identity)
    assert(Compiler.query(got, "SELECT l_quantity").isLeft)
  }

  test("missing and type-mismatched fields fail at load with clear errors") {
    val missing = GraftSource.parquet(spark, s"$dir/lineitem.parquet",
      """{ "nonexistent": "number" }""")
    assert(missing.swap.exists(_.contains("unexisting field: nonexistent")))
    val mismatch = GraftSource.parquet(spark, s"$dir/lineitem.parquet",
      """{ "l_returnflag": "number" }""")
    assert(mismatch.swap.exists(e => e.contains("l_returnflag") && e.contains("number")))
  }

  test("json source reads with the declared schema, no inference") {
    val tmp = tempDir("graft_json")
    spark.read.parquet(s"$dir/nation.parquet")
      .select($"n_nationkey", $"n_name").write.mode("overwrite").json(tmp)
    val got = GraftSource.json(spark, tmp,
      """{ "n_nationkey": "number", "n_name": "string" }""").fold(e => fail(e), identity)
    assert(got.schema.fields.map(f => f.name -> f.dataType.simpleString).toList ==
      List("n_nationkey" -> "double", "n_name" -> "string"))
    assert(got.count() == 25)
  }

  test("partitioned sink writes one directory level per key, round-trips") {
    val tmp = tempDir("graft_sink")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
    GraftSource.writeParquet(li, tmp, partitionCols = Seq("l_returnflag"))
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toList == List("l_returnflag=A", "l_returnflag=N", "l_returnflag=R"))
    val back = spark.read.parquet(tmp)
    assert(back.count() == li.count())
    // partition pruning: a filter on the partition column prunes the scan
    val pruned = back.filter($"l_returnflag" === "R")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == li.filter($"l_returnflag" === "R").count())
    assert(scan.contains("PartitionFilters") || scan.contains("partitionFilters"))
  }

  test("orc source gates like parquet: declared fields, load-time mismatch errors") {
    val tmp = tempDir("graft_orc")
    spark.read.parquet(s"$dir/nation.parquet").write.mode("overwrite").orc(tmp)
    val got = GraftSource.orc(spark, tmp,
      """{ "n_nationkey": "number", "n_name": "string" }""").fold(e => fail(e), identity)
    assert(got.columns.toList == List("n_nationkey", "n_name"))
    assert(got.count() == 25)
    // pruning reaches the ORC scan
    val scan = got.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<n_nationkey:int,n_name:string>"), scan)
    // physical-schema validation applies at load, as for parquet
    assert(GraftSource.orc(spark, tmp, """{ "nope": "number" }""").isLeft)
    assert(GraftSource.orc(spark, tmp, """{ "n_name": "number" }""").isLeft)
  }

  test("sorted sink clusters rows within every file (row-group stats usable)") {
    val tmp = tempDir("graft_sink_sorted")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
    GraftSource.writeParquetSorted(li, tmp,
      sortCols = Seq("l_orderkey"), partitionCols = Seq("l_returnflag"))
    val back = spark.read.parquet(tmp)
    assert(back.count() == li.count())
    // every physical file individually is sorted by l_orderkey — that is
    // what makes parquet's per-row-group min/max stats selective
    val files = new java.io.File(tmp).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.nonEmpty)
    files.foreach { f =>
      val keys = spark.read.parquet(f).select($"l_orderkey")
        .collect().map(_.getLong(0))
      assert(keys.sameElements(keys.sorted), s"$f is not sorted")
    }
  }

  test("sharded export: deterministic shards, manifest certifies the round trip") {
    val tmp = tempDir("graft_shards") + "/out"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val produced = GraftSource.writeShardedWithManifest(docs, tmp, "doc_id", numShards = 4)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(produced.keySet == Set(0, 1, 2, 3))
    assert(produced.values.map(_._1).sum == docs.count())
    // consumer side: recompute the manifest from what was actually read
    val back = spark.read.parquet(tmp)
    val consumed = GraftSource.shardManifest(back, "doc_id")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(consumed == produced, "round-trip manifest must match")
    // the persisted manifest agrees too
    val persisted = spark.read.parquet(tmp + "__manifest")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(persisted == produced)
    // a lost row is detected: both the count and the id-xor flip
    val victim = back.orderBy($"doc_id").limit(1).collect().head.getLong(0)
    val tampered = GraftSource.shardManifest(back.filter($"doc_id" =!= victim), "doc_id")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(tampered != produced, "a dropped row must flip the manifest")
    // shard assignment is deterministic: a rerun lands every id identically
    val again = GraftSource.shardManifest(
      docs.withColumn("shard", pmod(xxhash64($"doc_id"), lit(4L)).cast("int")),
      "doc_id").collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(again == produced)
  }

  test("bucketed tables: co-located join and aggregation run with ZERO exchange") {
    val base = tempDir("graft_buckets")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    try {
      GraftSource.writeBucketed(docs.select($"doc_id", $"lang"),
        "bk_meta", s"$base/meta", Seq("doc_id"), nBuckets = 4)
      GraftSource.writeBucketed(docs.select($"doc_id", $"n_chars"),
        "bk_len", s"$base/len", Seq("doc_id"), nBuckets = 4)
      val a = spark.table("bk_meta")
      val b = spark.table("bk_len")
      // the recurring equi-join on the bucket key: correct rows...
      val joined = a.join(b, Seq("doc_id"))
      assert(joined.count() == docs.count())
      // ...and the layout shuffle was paid at write time — the join plan
      // has NO exchange on either side, and the per-bucket sort order
      // means no per-task sort either. At test scale the planner would
      // just broadcast (and rightly skip the bucketed read), so pin the
      // 100 TB-shaped plan by disabling auto-broadcast for the asserts.
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val jp = a.join(b, Seq("doc_id")).queryExecution.executedPlan.toString
        assert(jp.contains("SortMergeJoin"), jp)
        assert(!jp.contains("Exchange"), jp)
        assert(jp.contains("Bucketed: true"), jp)
        assert(jp.contains("SelectedBucketsCount: 4 out of 4"), jp)
        // bucket-keyed aggregation skips its exchange too
        val ap = a.groupBy($"doc_id").count().queryExecution.executedPlan.toString
        assert(!ap.contains("Exchange"), ap)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      // one file per bucket: the pre-repartition collapses per-task files
      val files = new java.io.File(s"$base/meta").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 4, files.map(_.getName).mkString(","))
      // a bare path read sees plain parquet — same rows, no bucket info
      assert(spark.read.parquet(s"$base/meta").count() == docs.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_meta")
      spark.sql("DROP TABLE IF EXISTS bk_len")
    }
  }

  test("bucketed layout survives the session: real two-JVM metastore round trip") {
    // the writeBucketed promise is "pay the layout shuffle once" — that
    // only holds across sessions if the bucket METADATA outlives the
    // catalog. SparkEntry.session(warehouse=...) backs the catalog with
    // a derby metastore on disk; proving durability requires the second
    // session to be a genuinely fresh catalog, so this test runs the
    // write and the read in TWO SEPARATE JVMs (derby is also
    // single-process, which forking sidesteps).
    val wh = tempDir("graft-wh-")
    // each child's Hive session leaves a `<uuid>_resources` directory in
    // its temp dir: keep those inside a directory this test deletes
    val childTmp = tempDir("graft-jvm-tmp-")
    val java17 = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def phase(args: String*): String = {
      val cmd = Seq(java17) ++ addOpens ++
        Seq("-Xmx2g", "-Dspark.ui.enabled=false", s"-Djava.io.tmpdir=$childTmp", "-cp", cp,
          "graft.tools.BucketedCatalog") ++ args
      val out = new StringBuilder
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      Iterator.continually(rd.readLine()).takeWhile(_ != null)
        .foreach(l => out.append(l).append('\n'))
      assert(proc.waitFor() == 0, s"${args.head} phase failed:\n${out.takeRight(4000)}")
      out.toString
    }
    val wOut = phase("write", wh, dir)
    val rows = wOut.linesIterator.find(_.startsWith("WRITE_OK"))
      .getOrElse(fail(s"no WRITE_OK marker:\n$wOut")).split(' ')(1)
    val rOut = phase("read", wh, rows)
    assert(rOut.linesIterator.exists(_.startsWith(s"READ_OK $rows")), rOut)
  }

  test("warc: multi-file round trip, byte-accurate multibyte payloads") {
    val tmp = tempDir("warc-rt-")
    // multibyte text: Content-Length is BYTES, so char-based slicing
    // would cut these payloads short
    val docs = Seq(
      (0L, "plain ascii body"),
      (1L, "héllo wörld — ünïcode päyload"),
      (2L, "日本語のテキスト with mixed ascii"),
      (3L, ""), // empty payload is a legal record
      (4L, "ends with separator-ish text WARC/1.0 inline"),
    ).toDF("doc_id", "text")
    docs.select(GraftSource.warcRecord(
        lit("conversion"),
        concat(lit("https://example.org/d/"), $"doc_id"),
        lit("2024-02-03T04:05:06Z"),
        lit("text/plain"),
        $"text").as("value"))
      .repartition(2) // two files: the read must union them
      .write.mode("overwrite").option("lineSep", "\r\n").text(tmp)
    val got = GraftSource.readWarc(spark, tmp)
      .select($"url", $"text", $"truncated", $"content_length").collect()
    assert(got.length == 5)
    val byUrl = got.map(r => r.getString(0) -> r).toMap
    docs.collect().foreach { d =>
      val r = byUrl(s"https://example.org/d/${d.getLong(0)}")
      assert(r.getString(1) == d.getString(1), s"doc ${d.getLong(0)}")
      assert(!r.getBoolean(2))
      assert(r.getLong(3) == d.getString(1).getBytes("UTF-8").length.toLong)
    }
    // WET view: conversion records only, the ingest shape
    val wet = GraftSource.readWet(spark, tmp)
    assert(wet.columns.toList == List("url", "warc_date", "text"))
    assert(wet.count() == 5)
  }

  test("warc: a payload quoting the record boundary false-splits without eating fragment bytes") {
    // the documented blind spot of boundary-splitting: a payload that
    // contains "\r\n\r\nWARC/" splits early. Contract: the containing
    // record is flagged truncated, the fragment surfaces as a null-header
    // row (its version-line-shaped lead-in is NOT stripped because no
    // header-shaped continuation follows), and neighbors are untouched
    val tmp = tempDir("warc-fs-")
    val crlf = "\r\n"
    val evil = "quoting a boundary:" + crlf + crlf + "WARC/2.5" + crlf +
      "this text is payload, not a version line"
    def rec(id: Int, payload: String) =
      "WARC/1.0" + crlf + "WARC-Type: conversion" + crlf +
        s"WARC-Target-URI: https://fs/$id" + crlf +
        "WARC-Date: 2024-04-01T00:00:00Z" + crlf + "Content-Type: text/plain" + crlf +
        s"Content-Length: ${payload.getBytes("UTF-8").length}" + crlf + crlf +
        payload + crlf + crlf
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tmp, "fs.warc"),
      rec(0, "normal first record") + rec(1, evil).stripSuffix(crlf + crlf) +
        crlf + crlf + rec(2, "normal last record").stripSuffix(crlf + crlf))
    val got = GraftSource.readWarc(spark, tmp).collect()
    assert(got.length == 4, s"2 real + 1 truncated + 1 fragment, got ${got.length}")
    val byUrl = got.filter(_.getAs[String]("url") != null)
      .map(r => r.getAs[String]("url") -> r).toMap
    assert(byUrl("https://fs/0").getAs[String]("text") == "normal first record")
    assert(byUrl("https://fs/2").getAs[String]("text") == "normal last record")
    // the quoting record is cut at the boundary inside its payload
    assert(byUrl("https://fs/1").getAs[Boolean]("truncated"))
    assert(byUrl("https://fs/1").getAs[String]("text") == "quoting a boundary:")
    // the spurious fragment: null headers, bytes preserved (no remnant
    // strip — "2.5\r\nthis text…" is not followed by a WARC-/Content- header)
    val frag = got.filter(_.getAs[String]("url") == null)
    assert(frag.length == 1)
    assert(frag.head.getAs[String]("warc_type") == null)
    assert(frag.head.isNullAt(frag.head.fieldIndex("content_length")))
  }

  test("warc: gzipped files (.warc.gz, the Common Crawl shipping form) read transparently") {
    // whole-file gzip members: the text source decompresses per file by
    // extension, so a directory of .warc.gz reads with the same record
    // splitting — each file is one decompression stream (gzip is not
    // splittable; parallelism is per-file, the Common Crawl layout of
    // many ~1 GiB members)
    val tmp = tempDir("warc-gz-")
    val crlf = "\r\n"
    def rec(id: Int, payload: String) =
      "WARC/1.0" + crlf + "WARC-Type: conversion" + crlf +
        s"WARC-Target-URI: https://gz/$id" + crlf +
        "WARC-Date: 2024-03-01T00:00:00Z" + crlf + "Content-Type: text/plain" + crlf +
        s"Content-Length: ${payload.getBytes("UTF-8").length}" + crlf + crlf +
        payload + crlf + crlf
    for (f <- 0 until 2) {
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$tmp/part-$f.warc.gz"))
      out.write((rec(f * 10, s"gz payload $f a") + rec(f * 10 + 1, s"gz päyload $f b"))
        .getBytes("UTF-8"))
      out.close()
    }
    val got = GraftSource.readWet(spark, tmp).collect()
    assert(got.length == 4)
    assert(got.map(_.getAs[String]("url")).sorted.toList ==
      List("https://gz/0", "https://gz/1", "https://gz/10", "https://gz/11"))
    assert(got.forall(r => r.getAs[String]("text").startsWith("gz p")))
  }

  test("warc: truncated and malformed records are flagged/null, never fatal") {
    val tmp = tempDir("warc-tr-")
    val crlf = "\r\n"
    def rec(headers: Seq[String], payload: String) =
      "WARC/1.0" + crlf + headers.mkString(crlf) + crlf + crlf + payload + crlf + crlf
    val good = rec(Seq("WARC-Type: conversion", "WARC-Target-URI: https://a/1",
      "WARC-Date: 2024-01-01T00:00:00Z", "Content-Type: text/plain",
      "Content-Length: 4"), "full")
    // claims 100 bytes, carries 9 — the malformed tail of a crawl
    val truncated = rec(Seq("WARC-Type: conversion", "WARC-Target-URI: https://a/2",
      "Content-Length: 100"), "only this")
    // no blank line, no Content-Length: header-only garbage
    val malformed = "WARC/1.0" + crlf + "not a header block at all" + crlf + crlf
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "mixed.warc"),
      (good + truncated + malformed).getBytes("UTF-8"))
    val rows = GraftSource.readWarc(spark, tmp).collect()
    assert(rows.length == 3)
    val byU = rows.map(r => Option(r.getAs[String]("url")) -> r).toMap
    val g = byU(Some("https://a/1"))
    assert(g.getAs[String]("text") == "full" && !g.getAs[Boolean]("truncated"))
    val tr = byU(Some("https://a/2"))
    assert(tr.getAs[Boolean]("truncated"))
    assert(tr.getAs[String]("text").startsWith("only this"))
    val bad = byU(None)
    assert(bad.isNullAt(bad.fieldIndex("content_length")))
    assert(bad.isNullAt(bad.fieldIndex("text")))
  }

  test("warc source gates like the others: declared subset, unknown field errors") {
    val tmp = tempDir("warc-gate-")
    Seq((1L, "body")).toDF("doc_id", "text")
      .select(GraftSource.warcRecord(lit("conversion"),
        concat(lit("u"), $"doc_id"), lit("d"), lit("text/plain"), $"text").as("value"))
      .write.mode("overwrite").option("lineSep", "\r\n").text(tmp)
    val gated = GraftSource.warc(spark, tmp, """{ "url": "string", "text": "string" }""")
      .fold(e => fail(e), identity)
    assert(gated.columns.toList == List("url", "text"))
    assert(gated.count() == 1)
    val bad = GraftSource.warc(spark, tmp, """{ "nope": "string" }""")
    assert(bad.swap.exists(_.contains("unexisting field: nope")))
  }

  // ---- Z-order layout + manifest pruning ----

  /** Reference Morton interleave over pre-computed bucket indices. */
  private def refMorton(idx: Seq[Long], bits: Int): Long =
    (0 until bits).flatMap(b => idx.zipWithIndex.map { case (ix, dim) =>
      ((ix >> b) & 1L) << (b * idx.size + dim)
    }).sum

  test("zValue matches the reference Morton interleave on a planted grid") {
    val rows = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    val df = rows.toDF("x", "y")
    // lo=0, hi=16, bits=4 -> bucket width exactly 1: bucket index == value
    val got = df.select($"x", $"y",
        Layout.zValue(Seq($"x", $"y"), Seq(0.0, 0.0), Seq(16.0, 16.0), 4).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (x <- 0 until 16; y <- 0 until 16)
      assert(got((x.toLong, y.toLong)) == refMorton(Seq(x.toLong, y.toLong), 4),
        s"z($x,$y)")
    // clamping: out-of-domain values land in edge buckets, never corrupt bits
    val edge = Seq((-5L, 99L)).toDF("x", "y")
      .select(Layout.zValue(Seq($"x", $"y"), Seq(0.0, 0.0), Seq(16.0, 16.0), 4))
      .head().getLong(0)
    assert(edge == refMorton(Seq(0L, 15L), 4))
  }

  test("z-order bounds per-file ranges on BOTH dimensions; 1-D sort does not") {
    // a shuffled 64x64 grid: every (x, y) once, insertion order scrambled
    val rows = new scala.util.Random(7)
      .shuffle((for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)).toVector)
    val df = rows.toDF("x", "y")
    def avgRange(manifest: org.apache.spark.sql.DataFrame, c: String): Double = {
      val per = manifest.select((col(s"max_$c") - col(s"min_$c")).cast("double")).collect()
      per.map(_.getDouble(0)).sum / per.length / 63.0
    }
    val zdir = tempDir("graft-zorder-") + "/t"
    val zman = Layout.writeZOrderedWithManifest(df, zdir, Seq("x", "y"), bits = 6, numFiles = 16)
    // 16 files over a 2-D curve: each file covers ~1/4 of EACH dimension
    assert(avgRange(zman, "x") < 0.5, s"z-layout x range ${avgRange(zman, "x")}")
    assert(avgRange(zman, "y") < 0.5, s"z-layout y range ${avgRange(zman, "y")}")
    // contrast: sort by x alone -> x tight, y saturates the domain
    val xdir = tempDir("graft-xsort-") + "/t"
    df.repartitionByRange(16, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite").parquet(xdir)
    val xman = Layout.zManifest(spark.read.parquet(xdir), Seq("x", "y"))
    assert(avgRange(xman, "x") < 0.5)
    assert(avgRange(xman, "y") > 0.9, s"x-sort y range ${avgRange(xman, "y")}")
  }

  test("manifest-pruned read equals full filter and opens a fraction of the files") {
    val rows = new scala.util.Random(11)
      .shuffle((for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)).toVector)
    val dir0 = tempDir("graft-zprune-") + "/t"
    Layout.writeZOrderedWithManifest(rows.toDF("x", "y"), dir0, Seq("x", "y"),
      bits = 6, numFiles = 16)
    val ranges = Seq(("x", 8.0, 15.0), ("y", 16.0, 23.0))
    val pruned = Layout.readPruned(spark, dir0, ranges)
    val full = spark.read.parquet(dir0)
      .filter($"x".between(8, 15) && $"y".between(16, 23))
    assert(pruned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(pruned.collect().length == 64)
    val opened = Layout.prunedFiles(spark, dir0, ranges)
    val total = spark.read.parquet(dir0).inputFiles.length
    assert(opened.size < total,
      s"an 1/64-of-domain query opened ${opened.size} of $total files")
    // empty-overlap predicate: zero files opened, empty result, schema kept
    val none = Layout.readPruned(spark, dir0, Seq(("x", 500.0, 600.0)))
    assert(none.columns.toList == List("x", "y") && none.count() == 0)
  }

  test("null layout values survive the z-layout round trip; residual filter decides") {
    val rows = (0 until 200).map(i => (i.toLong, if (i % 50 == 0) None else Some(i.toLong)))
    val df = rows.toDF("id", "v")
    val dir0 = tempDir("graft-znull-") + "/t"
    Layout.writeZOrderedWithManifest(df, dir0, Seq("v"), bits = 4, numFiles = 4)
    val back = spark.read.parquet(dir0)
    assert(back.count() == 200)
    assert(back.filter($"v".isNull).count() == 4)
    val got = Layout.readPruned(spark, dir0, Seq(("v", 10.0, 30.0)))
      .collect().map(_.getLong(0)).toSet
    assert(got == (10L to 30L).filterNot(_ % 50 == 0).toSet)
  }

  test("compaction heals a small-files scatter, restores the sort, keeps content") {
    val base = tempDir("graft-compact-")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
    li.repartition(64).write.mode("overwrite").parquet(s"$base/scattered")
    assert(spark.read.parquet(s"$base/scattered").inputFiles.length == 64)
    val bytes = new java.io.File(s"$base/scattered").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val stats = Layout.compactSorted(spark, s"$base/scattered", s"$base/compact",
      Seq("l_orderkey"), targetFileBytes = bytes / 3)
    assert(stats.filesIn == 64 && stats.filesOut <= 8,
      s"expected <=8 files, got ${stats.filesOut}")
    val back = spark.read.parquet(s"$base/compact")
    assert(back.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted
      .sameElements(li.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted))
    // every compacted file individually sorted (row-group stats selective)
    back.select(input_file_name().as("f"), $"l_orderkey").collect()
      .groupBy(_.getString(0)).foreach { case (f, rows) =>
        val keys = rows.map(_.getLong(1))
        assert(keys.sameElements(keys.sorted), s"$f is not sorted")
      }
  }

  test("z-compaction re-clusters and refreshes the pruning manifest") {
    val base = tempDir("graft-zcompact-")
    val rows = new scala.util.Random(3)
      .shuffle((for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)).toVector)
    // a scattered (unclustered) directory standing in for incremental appends
    rows.toDF("x", "y").repartition(48).write.mode("overwrite").parquet(s"$base/in")
    val bytes = new java.io.File(s"$base/in").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val stats = Layout.compactZOrdered(spark, s"$base/in", s"$base/out",
      Seq("x", "y"), bits = 6, targetFileBytes = bytes / 12)
    assert(stats.filesIn == 48 && stats.filesOut < 24)
    // manifest refreshed beside the compacted data, one row per file
    val man = spark.read.parquet(s"$base/out__zmanifest")
    assert(man.count() == stats.filesOut)
    // the layout is restored: both dims tight per file again
    def avgRange(c: String): Double = {
      val per = man.select((col(s"max_$c") - col(s"min_$c")).cast("double")).collect()
      per.map(_.getDouble(0)).sum / per.length / 63.0
    }
    assert(avgRange("x") < 0.6 && avgRange("y") < 0.6,
      s"ranges x=${avgRange("x")} y=${avgRange("y")}")
    // content intact and the pruned reader works on the compacted store
    assert(spark.read.parquet(s"$base/out").count() == 4096)
    val pr = Layout.readPruned(spark, s"$base/out", Seq(("x", 0.0, 7.0), ("y", 0.0, 7.0)))
    assert(pr.count() == 64)
  }

  test("warc: WARC/1.1 files (ISO 28500:2017) and mixed-version dirs parse every record") {
    // the record split is version-agnostic — a 1.1 file must NOT
    // collapse into one row with the tail records silently lost
    val tmp = tempDir("warc-v11-")
    val crlf = "\r\n"
    def rec(ver: String, id: Int, payload: String) =
      s"WARC/$ver" + crlf + "WARC-Type: conversion" + crlf +
        s"WARC-Target-URI: https://v/$id" + crlf +
        "WARC-Date: 2024-03-01T00:00:00Z" + crlf + "Content-Type: text/plain" + crlf +
        s"Content-Length: ${payload.getBytes("UTF-8").length}" + crlf + crlf +
        payload + crlf + crlf
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "a.warc"),
      rec("1.1", 0, "one one") + rec("1.1", 1, "tw\u00f6 \u00fc") + rec("1.1", 2, "three"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "b.warc"),
      rec("1.0", 10, "ten") + rec("1.1", 11, "eleven mixed in one file"))
    val got = GraftSource.readWarc(spark, tmp)
      .select($"url", $"text", $"truncated").collect()
    assert(got.length == 5, s"expected 5 records, got ${got.length}")
    val byUrl = got.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byUrl("https://v/1") == "tw\u00f6 \u00fc")
    assert(byUrl("https://v/11") == "eleven mixed in one file")
    assert(got.forall(!_.getBoolean(2)))
  }

  test("warc.gz splittable: member-boundary byte-range splits match the whole-stream read") {
    // per-record gzip members (the Common Crawl layout): one big file
    // must read with MANY tasks, rows identical to the non-split path
    val tmp = tempDir("warc-split-")
    val crlf = "\r\n"
    // payloads that do not compress away: deterministic hex noise, so the
    // compressed file comfortably spans several 64 KiB splits
    def noise(id: Int): String = {
      val sb = new StringBuilder
      var h = id * 2654435761L + 12345
      while (sb.length < 1200) {
        h = h * 6364136223846793005L + 1442695040888963407L
        sb.append(java.lang.Long.toHexString(h))
      }
      sb.toString
    }
    def rec(id: Int) = {
      val payload = noise(id)
      "WARC/1.0" + crlf + "WARC-Type: conversion" + crlf +
        s"WARC-Target-URI: https://split/$id" + crlf +
        "WARC-Date: 2024-04-01T00:00:00Z" + crlf + "Content-Type: text/plain" + crlf +
        s"Content-Length: ${payload.getBytes("UTF-8").length}" + crlf + crlf +
        payload + crlf + crlf
    }
    val f = new java.io.FileOutputStream(s"$tmp/big.warc.gz")
    for (id <- 0 until 600) { // ~each member its own gzip stream
      val gz = new java.util.zip.GZIPOutputStream(f) { def finishOnly(): Unit = finish() }
      gz.write(rec(id).getBytes("UTF-8"))
      gz.finishOnly() // end the member WITHOUT closing the file stream
    }
    f.close()
    val len = new java.io.File(s"$tmp/big.warc.gz").length
    assert(len > 4L * 65536, s"fixture too small to split: $len bytes")
    val split = graft.sources.WarcGz.readWarcGz(spark, tmp, splitBytes = 65536)
    val whole = GraftSource.readWarc(spark, tmp)
    // row parity, column by column (order-free: splits reorder records)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"url", $"text", $"content_length", $"truncated", $"warc_type", $"warc_date")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val (ks, kw) = (key(split), key(whole))
    assert(ks.length == 600 && kw.length == 600, s"${ks.length} vs ${kw.length}")
    assert(ks == kw, "split read must be row-identical to the whole-stream read")
    // and it genuinely read with >1 task over the ONE file
    assert(len / 65536 >= 2)
    // mid-file split start: decodeRange from an arbitrary interior offset
    // finds the next member boundary and stays consistent with its
    // neighbor (no duplicate, no loss) — already covered by parity above;
    // spot-check that an interior range alone yields a proper subset
    val conf = new org.apache.hadoop.conf.Configuration()
    val mid = graft.sources.WarcGz.decodeRange(conf, s"$tmp/big.warc.gz", len / 3, 2 * len / 3).toList
    assert(mid.nonEmpty && mid.size < 600)
  }

  test("warc.gz splittable: a member whose gzip magic straddles the split boundary is not lost") {
    // two members A|B; scan ranges chosen so B's 3-byte magic starts at
    // end-1 / end-2 of the range — the scanning task must still claim it
    // (the NEXT task only accepts boundaries >= its own start, so a scan
    // window clipped at `end` silently loses such members)
    val tmp = tempDir("warc-straddle-")
    val crlf = "\r\n"
    def rec(id: Int) = {
      val payload = s"straddle payload $id " + ("z" * 64)
      "WARC/1.0" + crlf + "WARC-Type: conversion" + crlf +
        s"WARC-Target-URI: https://straddle/$id" + crlf +
        "WARC-Date: 2024-04-01T00:00:00Z" + crlf + "Content-Type: text/plain" + crlf +
        s"Content-Length: ${payload.getBytes("UTF-8").length}" + crlf + crlf +
        payload + crlf + crlf
    }
    val file = s"$tmp/two.warc.gz"
    val f = new java.io.FileOutputStream(file)
    for (id <- 0 until 2) {
      val gz = new java.util.zip.GZIPOutputStream(f) { def finishOnly(): Unit = finish() }
      gz.write(rec(id).getBytes("UTF-8"))
      gz.finishOnly()
    }
    f.close()
    // locate member B's start: re-compress member A alone to learn its length
    val bos = new java.io.ByteArrayOutputStream()
    val gzA = new java.util.zip.GZIPOutputStream(bos)
    gzA.write(rec(0).getBytes("UTF-8")); gzA.close()
    val k = bos.size().toLong // B starts at offset k
    val conf = new org.apache.hadoop.conf.Configuration()
    // B's magic byte 0 sits at end-1 and end-2 respectively of the range
    for (end <- Seq(k + 1, k + 2)) {
      val got = graft.sources.WarcGz.decodeRange(conf, file, 1L, end).toList
      assert(got.size == 1, s"member at end-${end - k} lost (range [1,$end), boundary $k)")
      assert(got.head.contains("straddle/1"))
    }
    // and the complementary range must NOT double-claim it
    val next = graft.sources.WarcGz.decodeRange(conf, file, k + 1,
      new java.io.File(file).length).toList
    assert(next.isEmpty, "next task must not re-claim a member starting before its range")
  }
}
