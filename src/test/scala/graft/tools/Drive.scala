package graft.tools

import org.apache.spark.sql.SparkSession

/** Manual end-to-end drive of the public API over the real testdata tables.
  * Not a test suite — run with:
  *   sbt "Test/runMain graft.tools.Drive [sfDir]"
  * Prints results and compile errors for a quick human check of the whole
  * compile → plan → execute path.
  */
object Drive {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")

    println("== grouped aggregation ==")
    graft.Compiler.queryOrThrow(li,
      "SELECT AVG(l_quantity) AS avg_qty, SUM(l_extendedprice) AS sum_price, COUNT(l_orderkey) AS cnt GROUP BY l_returnflag"
    ).show()

    println("== filter + order + limit/offset ==")
    graft.Compiler.queryOrThrow(li,
      "SELECT l_orderkey, l_quantity WHERE l_quantity > 49 ORDER BY l_orderkey LIMIT 5 OFFSET 2"
    ).show()

    println("== derived table ==")
    println("rows: " + graft.Compiler.queryOrThrow(li,
      "SELECT sum_qty FROM (SELECT SUM(l_quantity) AS sum_qty GROUP BY l_orderkey) WHERE sum_qty > 200").count())

    println("== probes (expected compile errors) ==")
    println(graft.Compiler.query(li, "SELECT nonexistent"))
    println(graft.Compiler.query(li, "SELECT l_orderkey WHERE l_returnflag > 3"))
    println(graft.Compiler.query(li, "SELECT l_shipdate")) // timestamp: outside closed world
    println(graft.Compiler.query(li, "SELECT WHERE"))
    println(graft.Compiler.query(li, "SELECT l_orderkey LIMIT 1.5"))

    println("== physical plan of the grouped aggregation ==")
    graft.Compiler.queryOrThrow(li,
      "SELECT AVG(l_quantity) AS avg_qty GROUP BY l_returnflag").explain("formatted")

    println("== schema-gated source: declared fields only, then query ==")
    val gated = graft.sources.GraftSource.parquet(spark, s"$sfDir/lineitem.parquet",
      """{ "l_orderkey": "number", "l_quantity": "number", "l_returnflag": "string" }""")
      .fold(e => sys.error(e), identity)
    gated.show(3)
    graft.Compiler.queryOrThrow(gated, "SELECT l_orderkey WHERE l_returnflag = \"R\"").show(3)
    println("undeclared field probe: " + graft.Compiler.query(gated, "SELECT l_discount"))
    println("gate probes: " +
      graft.sources.GraftSource.parquet(spark, s"$sfDir/lineitem.parquet", """{ "nope": "number" }""") +
      " / " +
      graft.sources.GraftSource.parquet(spark, s"$sfDir/lineitem.parquet", """{ "l_returnflag": "number" }"""))

    println("== real container headers (round 7) + rolling fingerprint ==")
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val media = graft.ops.Multimodal.encodedMediaTable(docs)
    media.select(col("media_id"), col("modality"),
      graft.ops.Multimodal.decodeMeta(col("payload")).as("meta")).show(6, false)
    media.select(col("media_id"),
      graft.ops.Multimodal.featurize(col("payload"), 4).as("features")).show(3, false)
    docs.select(col("doc_id"),
      graft.ops.TextOps.fingerprintRolling(col("text")).as("fp_roll")).show(5)
    println("-- repetition metrics (native word_shingles) + plan --")
    val rep = docs.select(col("doc_id") +:
      graft.ops.TextOps.repetitionMetrics(col("text")).map { case (n, c) => c.as(n) }: _*)
    rep.show(5)
    rep.explain("formatted")

    println("== round-3 operators: DISTINCT / sampling / redaction + plans ==")
    graft.Compiler.queryOrThrow(li, "SELECT DISTINCT l_returnflag, l_linestatus",
      extensions = true).show()
    println("default path still rejects DISTINCT: " +
      graft.Compiler.query(li, "SELECT DISTINCT l_returnflag"))
    val sampled = graft.ops.Sample.sampleByHash(docs, "doc_id", oneIn = 10, salt = "r3")
    println(s"hash sample kept ${sampled.count()} of ${docs.count()} docs; plan:")
    sampled.select(col("doc_id")).explain("formatted")
    docs.select(col("doc_id"),
      graft.ops.TextOps.redactPii(col("text")).as("redacted")).show(2)
    graft.ops.Sample.capPerGroup(
      spark.read.parquet(s"$sfDir/lineitem.parquet"), "l_returnflag", "l_orderkey",
      n = 3, salt = "x")
      .groupBy(col("l_returnflag")).count().show()

    println("== round-4: md5-derived 60-bit SimHash (oracle-checkable) ==")
    docs.select(col("doc_id"), graft.ops.Dedup.simHash(col("text")).as("sim")).show(5)
    val simPairs = graft.ops.Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 8)
    println(s"simhash near-dup pairs at radius 8: ${simPairs.count()}")
    simPairs.orderBy(col("id_a"), col("id_b")).show(5)
    simPairs.explain("formatted")

    println("== round-11: wide (120-bit two-lane) SimHash — the radius-8 resolution escape ==")
    docs.select(col("doc_id"), graft.ops.Dedup.simHashWide(col("text")).as("sims")).show(3, truncate = 48)
    val widePairs = graft.ops.Dedup.simHashNearDupsWide(docs, "text", "doc_id",
      maxHamming = 8, keyBlocks = 2)
    println(s"wide simhash near-dup pairs at radius 8/120 (vs ${simPairs.count()} at 8/60): " +
      s"${widePairs.count()}")
    widePairs.orderBy(col("id_a"), col("id_b")).show(5)
    widePairs.explain("formatted")

    println("== round-4: dialect extensions <=/>= , SELECT *, arithmetic ==")
    graft.Compiler.queryOrThrow(li,
      "SELECT l_orderkey, l_quantity WHERE (l_quantity <= 2) OR (l_quantity >= 50)",
      extensions = true).show(3)
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    graft.Compiler.queryOrThrow(nation, "SELECT * WHERE n_regionkey >= 2",
      extensions = true).show(3)
    graft.Compiler.queryOrThrow(li,
      "SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS net_price",
      extensions = true).show(3)
    println("parity probes (all must fail like the reference):")
    println(graft.Compiler.query(li, "SELECT l_orderkey WHERE l_quantity <= 2"))
    println(graft.Compiler.query(li, "SELECT *"))
    println(graft.Compiler.query(li, "SELECT l_quantity + 1 AS q"))
    graft.Compiler.queryOrThrow(li,
      "SELECT (SUM(l_extendedprice) / SUM(l_quantity)) AS price_per_unit GROUP BY l_returnflag",
      extensions = true).show(3)
    println("extension probes (type errors):")
    println(graft.Compiler.query(li, "SELECT l_returnflag + 1 AS q", extensions = true))
    println(graft.Compiler.query(li, "SELECT l_quantity + 1", extensions = true))

    println("== round-4: clustering without, then with, a checkpoint directory ==")
    // a session's checkpoint directory cannot be unset, so the run without
    // one goes first; every later scratch frame in this drive is reliable
    val keptLocal = graft.ops.Dedup.nearDupKeepFirst(docs, "text", "doc_id",
      numHashes = 128, bands = 32, threshold = 0.5).count()
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("drive-ckpt").toString)
    val keptReliable = graft.ops.Dedup.nearDupKeepFirst(docs, "text", "doc_id",
      numHashes = 128, bands = 32, threshold = 0.5).count()
    println(s"near-dedup keep-first: local checkpoints kept $keptLocal, " +
      s"reliable checkpoints kept $keptReliable (must match)")

    println("== round-4: decontamination + incremental dedup ==")
    val bench4 = docs.filter(col("doc_id") % 50 === 0)
    graft.ops.TextOps.contaminationCounts(docs, bench4, "text", "doc_id", n = 5)
      .orderBy(col("n_overlap").desc).show(5)
    println(s"decontaminated survivors: " +
      graft.ops.TextOps.decontaminate(docs, bench4, "text", "doc_id", n = 5).count() +
      s" of ${docs.count()}")
    println(s"incremental dedup kept: " +
      graft.ops.Dedup.exactDedupIncrement(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
        "text", "doc_id").count() + " of " + docs.filter(col("doc_id") >= 250).count())

    println("== round-4: BPE merge training + subword counts ==")
    val bpeMerges = graft.ops.Bpe.trainBpe(docs, "text", numMerges = 12)
    println("learned merges: " + bpeMerges.map(m => m.left + "+" + m.right).mkString(", "))
    val bpePath = java.nio.file.Files.createTempDirectory("drive_bpe").toString + "/merges"
    graft.ops.Bpe.saveBpe(bpeMerges, spark, bpePath)
    println("bpe round-trip identical: " +
      (graft.ops.Bpe.loadBpe(spark, bpePath) == bpeMerges))
    docs.select(graft.ops.Bpe.subwordCount(col("text"), bpeMerges).as("sw"),
        graft.ops.TextOps.tokenCount(col("text")).as("w"))
      .agg(sum(col("sw")).as("subwords"), sum(col("w")).as("words")).show()

    println("== round-5: native bpe_apply (merge table as ONE plan literal) ==")
    val bpeParity = docs.select(
        graft.ops.Bpe.applyBpe(col("text"), bpeMerges).as("native"),
        graft.ops.Bpe.applyBpeChained(col("text"), bpeMerges).as("chained"))
      .filter(not(col("native") <=> col("chained"))).count()
    println(s"native-vs-chained mismatching docs (expect 0): $bpeParity")
    val bigBpe = graft.ops.Bpe.trainBpe(docs, "text", numMerges = 1000)
    println(s"trained ${bigBpe.size} merges locally; production-size apply:")
    val bigApplied = docs.select(
      graft.ops.Bpe.subwordCount(col("text"), bigBpe).as("sw"))
    bigApplied.agg(sum(col("sw")).as("subwords_1000_merges")).show()
    bigApplied.explain("formatted")

    println("== round-5: full hygiene stack (exact + fuzzy decontam) in prepare ==")
    graft.ops.Pipeline.prepare(docs, docs.filter(col("doc_id") % 50 === 0),
        "text", "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
        salt = "r4", fuzzyThreshold = Some(0.5))
      .groupBy(col("split")).count().orderBy(col("split")).show()

    println("== round-5: per-group quantile gate (median doc length per language) ==")
    graft.ops.Sample.keepAboveQuantile(docs, "lang", "n_chars", q = 0.5)
      .groupBy(col("lang")).count().orderBy(col("lang")).show()

    println("== round-5: embedding near-dup recall vs exact all-pairs truth ==")
    val embForRecall = spark.read.parquet(s"$sfDir/embeddings.parquet")
    graft.ops.Dedup.pairRecall(
      graft.ops.Dedup.exactCosinePairs(embForRecall, "embedding", "vec_id", 0.45),
      graft.ops.Dedup.embeddingNearDups(embForRecall, "embedding", "vec_id",
        threshold = 0.45, planes = 5, tables = 12)).show()

    println("== round-4: PQ-compressed ANN (ADC + exact re-rank) ==")
    val embDrive = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pqCb = graft.ops.Similarity.trainPq(embDrive, "embedding", "vec_id", m = 16, ksub = 16)
    val pqProbes = embDrive.filter(col("vec_id") < 5)
    graft.ops.Similarity.recallAtK(
      graft.ops.Similarity.bruteForceTopK(embDrive, pqProbes, "embedding", "vec_id", 5),
      graft.ops.Similarity.pqTopK(pqCb, embDrive, pqProbes, "embedding", "vec_id", 5, rerank = 8))
      .show()
    val ivfForPq = graft.ops.Similarity.trainIvf(embDrive, "embedding", "vec_id", nlist = 8)
    println("ivf+pq rows: " + graft.ops.Similarity.ivfPqTopK(ivfForPq, pqCb,
      embDrive, pqProbes, "embedding", "vec_id", k = 5, nprobe = 4, rerank = 8).count())

    println("== round-4: feature-hash embeddings -> brute-force top-k ==")
    val he = docs.select(col("doc_id").as("vec_id"),
      graft.ops.Embeddings.hashEmbedding(col("text"), 64).as("embedding"))
    graft.ops.Similarity.bruteForceTopK(
      he, he.filter(col("vec_id") < 2), "embedding", "vec_id", k = 3).show()

    println("== round-4: one-call preparation pipeline ==")
    graft.ops.Pipeline.prepare(docs, docs.filter(col("doc_id") % 50 === 0),
        "text", "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), "r4")
      .groupBy(col("split")).count().orderBy(col("split")).show()

    println("== round-4: winnow overlap candidates ==")
    println("winnow near-dup pairs: " +
      graft.ops.TextOps.winnowOverlap(docs, "text", "doc_id").count())

    println("== round-4: winnowing fingerprint density ==")
    docs.select(org.apache.spark.sql.functions.size(
        graft.ops.TextOps.fingerprintWinnow(col("text"))).as("n_sel"))
      .agg(count(lit(1)).as("docs"), round(avg(col("n_sel")), 2).as("avg_selected")).show()

    println("== round-4: temperature weights + column profile ==")
    graft.ops.Sample.temperatureWeights(docs, "source", alpha = 0.7)
      .orderBy(col("source")).show(3)
    graft.ops.Stats.profileColumns(li,
      Seq("l_quantity", "l_extendedprice")).show()

    println("== round-4: bigram LM + key-skew diagnostics ==")
    graft.ops.Lm.bigramBits(docs, docs, "text", "doc_id")
      .agg(count(lit(1)).as("docs"),
        round(avg(col("bits_per_transition")), 3).as("avg_bits")).show()
    graft.ops.Stats.keySkew(docs, "source").show()
    graft.ops.Stats.heavyHitters(docs, "source", 3).show()

    println("== round-4: hash split + cross-source overlap ==")
    graft.ops.Sample.splitByHash(docs, "doc_id",
      Seq("train" -> 0.88, "val" -> 0.06, "test" -> 0.06), salt = "r4")
      .groupBy(col("split")).count().orderBy(col("split")).show()
    graft.ops.Dedup.crossSourceOverlap(docs, "text", "source")
      .orderBy(col("src_a"), col("src_b")).show()

    println("== round-4: bloom-prefiltered decontamination ==")
    println("bloom-decontaminated kept: " +
      graft.ops.TextOps.decontaminateBloom(
        docs, docs.filter(col("doc_id") % 50 === 0), "text", "doc_id", n = 5)
        .count() + " of " + docs.count())

    println("== round-4: substring-span dedup (Lee et al.) ==")
    graft.ops.TextOps.dedupSpans(docs, "text", "doc_id")
      .agg(count(lit(1)).as("docs"), sum(col("n_removed")).as("tokens_removed"),
        sum(col("n_tokens")).as("tokens_total")).show()

    println("== round-4: fuzzy (near-dup) decontamination, corpus vs benchmark ==")
    graft.ops.Dedup.fuzzyContamination(
      docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0),
      "text", "doc_id", numHashes = 128, bands = 32, threshold = 0.5)
      .orderBy(col("id"), col("bench_id")).show(5)

    println("== round-4: vocab coverage meter ==")
    graft.ops.Lm.vocabCoverage(docs, docs, "text", topN = 200).show()
    graft.ops.Lm.oovRate(docs, docs.filter(col("doc_id") < 250), "text", "doc_id", 300)
      .agg(round(avg(col("oov_rate")), 4).as("avg_oov_rate")).show()

    println("== round-4: unigram LM scoring + perplexity buckets ==")
    val lmScored = graft.ops.Lm.unigramBits(docs, docs, "text", "doc_id")
    graft.ops.Lm.perplexityBuckets(lmScored, "bits_per_token")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), round(avg(col("bits_per_token")), 3).as("avg_bits"))
      .orderBy(col("avg_bits")).show()
    graft.ops.Lm.tfIdfTopTerms(docs, "text", "doc_id", k = 3)
      .filter(col("doc_id") < 2).show()

    println("== round-4: corpus profile + sequence packing ==")
    graft.ops.TextOps.corpusProfile(docs, "text").show()
    // streaming twin (same expressions, complete-mode-safe aggregate set)
    graft.ops.TextOps.corpusProfileStream(docs, "text").show()
    graft.ops.TextOps.packChunks(
      graft.ops.TextOps.chunkTokens(docs, "text", "doc_id", 64, 16),
      "doc_id", budget = 256, groups = 8, salt = "r4")
      .groupBy(col("pack_group"), col("seq_idx"))
      .agg(sum(col("n_tokens")).as("seq_tokens"))
      .orderBy(col("pack_group"), col("seq_idx")).show(5)

    println("== round-4: as-of join (purchases enriched with latest click) ==")
    graft.SparkEntry.queries("q_events_asof")(spark, sfDir)
      .orderBy(col("event_id")).show(5)

    println("== round-4b: boilerplate removal (' the '-separated segments) ==")
    val bp = graft.ops.TextOps.removeBoilerplate(docs, "text", "doc_id", " the ", 2)
    bp.filter(col("n_removed") > 0).orderBy(col("n_removed").desc).show(3, truncate = 40)
    println(s"docs rewritten: ${bp.filter(col("n_removed") > 0).count()} of ${bp.count()}")

    println("== round-4b: keyed range join (clicks -> sessions) ==")
    val rj = graft.SparkEntry.queries("q_events_range")(spark, sfDir)
    rj.orderBy(col("event_id")).show(5)
    println(s"clicks attributed: ${rj.count()}")
    rj.explain("formatted")

    println("== round-4b: embedding normalize + per-label centroids ==")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.select(col("vec_id"),
      round(sqrt(graft.ops.Embeddings.normSq(col("embedding"))), 4).as("norm")).show(3)
    graft.ops.Embeddings.groupCentroids(emb, "embedding", "label")
      .select(col("label"), col("n"), expr("round(centroid[0], 4)").as("c0"),
        expr("round(centroid[1], 4)").as("c1"))
      .orderBy(col("label")).show(5)

    println("== round-4b: encoding metrics (planted mojibake) ==")
    import spark.implicits._
    val mojirows = Seq((0L, "clean prose"), (1L, "caf�s na�ve"), (2L, "中文文本"))
      .toDF("doc_id", "text")
    mojirows.select((col("doc_id") +:
      graft.ops.TextOps.encodingMetrics(col("text")).map { case (n, c) => c.as(n) }): _*)
      .show()

    println("== round-4b: corpus duplication meter + token-budget quota ==")
    graft.ops.TextOps.corpusDupStats(docs, "text", "doc_id", k = 8, minDocs = 2)
      .orderBy(col("dup_frac").desc).show(3)
    val capped = graft.ops.Sample.capTokensPerGroup(docs, "lang", "doc_id", "n_chars",
      budget = 30000L, salt = "r4")
    capped.groupBy(col("lang")).agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
      .orderBy(col("lang")).show()

    println("== round-4b: sorted clustered sink (row-group stats) ==")
    val sinkTmp = java.nio.file.Files.createTempDirectory("drive_sorted_sink").toString
    graft.sources.GraftSource.writeParquetSorted(
      li.select(col("l_orderkey"), col("l_quantity"), col("l_returnflag")),
      sinkTmp, sortCols = Seq("l_orderkey"), partitionCols = Seq("l_returnflag"))
    val sinkBack = spark.read.parquet(sinkTmp)
    println(s"round-trip rows: ${sinkBack.count()} (source ${li.count()})")
    sinkBack.filter(col("l_orderkey") < 100).groupBy(col("l_returnflag")).count().show()

    println("== round-4b: incremental near-dup (batch vs signature history) ==")
    val histSigs = graft.ops.Dedup.minHashSignatures(
      docs.filter(col("doc_id") < 250), "text", "doc_id", numHashes = 128)
    val batchSigs = graft.ops.Dedup.minHashSignatures(
      docs.filter(col("doc_id") >= 250), "text", "doc_id", numHashes = 128)
    graft.ops.Dedup.minHashNearDupsIncremental(batchSigs, histSigs,
      numHashes = 128, bands = 32, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b")).show(5)

    println("== round-4b: orc source gate + IVF index persistence ==")
    val orcTmp = java.nio.file.Files.createTempDirectory("drive_orc").toString
    spark.read.parquet(s"$sfDir/nation.parquet").write.mode("overwrite").orc(orcTmp)
    graft.sources.GraftSource.orc(spark, orcTmp,
      """{ "n_nationkey": "number", "n_name": "string" }""")
      .fold(e => sys.error(e), identity).show(3)
    println("orc gate probe: " +
      graft.sources.GraftSource.orc(spark, orcTmp, """{ "n_name": "number" }"""))
    val ivfIdx = graft.ops.Similarity.trainIvf(emb, "embedding", "vec_id", nlist = 8)
    val ivfPath = java.nio.file.Files.createTempDirectory("drive_ivf").toString + "/idx"
    graft.ops.Similarity.saveIvf(ivfIdx, spark, ivfPath)
    val loaded = graft.ops.Similarity.loadIvf(spark, ivfPath)
    println(s"ivf round-trip: nlist=${loaded.nlist}, " +
      s"search rows=${graft.ops.Similarity.ivfSearch(loaded, emb,
        emb.filter(col("vec_id") < 3), "embedding", "vec_id", k = 5).count()}")
    val pqPath = java.nio.file.Files.createTempDirectory("drive_pq").toString + "/cb"
    graft.ops.Similarity.savePq(pqCb, spark, pqPath)
    val pqBack = graft.ops.Similarity.loadPq(spark, pqPath)
    println(s"pq round-trip: m=${pqBack.m} ksub=${pqBack.ksub} dim=${pqBack.dim}, " +
      s"search rows=${graft.ops.Similarity.pqTopK(pqBack, emb,
        emb.filter(col("vec_id") < 3), "embedding", "vec_id", k = 5).count()}")

    println("== round-5: int8 scalar quantization (SQ) ANN ==")
    val sqP = graft.ops.Similarity.trainSq(emb, "embedding", normalize = true)
    println(s"sq params: dim=${sqP.dim}, width[0]=${sqP.widths(0)}")
    val sqCodes = emb.select(col("vec_id"),
      graft.ops.Similarity.sqQuantizeCol(
        graft.ops.Embeddings.l2Normalize(col("embedding")), sqP).as("sq_code"))
    sqCodes.select(col("vec_id"), expr("slice(sq_code, 1, 6)").as("code_head")).show(3)
    val sqHits = graft.ops.Similarity.sqTopK(sqP, emb,
      emb.filter(col("vec_id") < 3), "embedding", "vec_id", k = 5, rerank = 8)
    sqHits.orderBy(col("probe_id"), col("rank")).show(6)
    sqHits.explain("formatted")
    val sqPath = java.nio.file.Files.createTempDirectory("drive_sq").toString + "/params"
    graft.ops.Similarity.saveSq(sqP, spark, sqPath)
    val sqBack = graft.ops.Similarity.loadSq(spark, sqPath)
    println(s"sq round-trip: dim=${sqBack.dim}, equal=${sqBack.mins.toSeq == sqP.mins.toSeq}")
    println("sq recall@5 vs exact: " + graft.ops.Similarity.recallAtK(
      graft.ops.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
        "embedding", "vec_id", 5),
      sqHits).collect().head.getAs[Double]("recall"))

    println("== round-5: 1-bit binary quantization (sign codes + Hamming) ==")
    emb.select(col("vec_id"),
      graft.ops.Similarity.bqQuantizeCol(col("embedding")).as("bq_code")).show(3, false)
    val bqHits = graft.ops.Similarity.bqTopK(emb,
      emb.filter(col("vec_id") < 3), "embedding", "vec_id", k = 5, rerank = 16)
    bqHits.orderBy(col("probe_id"), col("rank")).show(6)
    println("bq recall@5 vs exact: " + graft.ops.Similarity.recallAtK(
      graft.ops.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
        "embedding", "vec_id", 5),
      bqHits).collect().head.getAs[Double]("recall"))

    println("== round-5: linear quality classifier (quantized hash-feature weights) ==")
    docs.select(col("doc_id"),
      round(graft.ops.Embeddings.linearScore(col("text"),
        Array.tabulate(64)(d => d % 7 - 3), scale = 10.0, bias = 0.05), 4).as("lin_score"))
      .orderBy(col("lin_score").desc).show(3)

    println("== round-5: SemDeDup (k-means cells + exact within-cell cosine) ==")
    val semPairs = graft.ops.Dedup.semanticDedup(emb, "embedding", "vec_id",
      nClusters = 4, threshold = 0.45, nProbe = 2)
    semPairs.orderBy(col("cosine").desc).show(5)
    val semKept = graft.ops.Dedup.semanticDedupKeepFirst(emb, "embedding", "vec_id",
      nClusters = 4, threshold = 0.45, nProbe = 2)
    println(s"semantic keep-first: ${semKept.count()} of ${emb.count()} rows kept")
    // incremental: old corpus as celled store, new batch joins it
    val semIdx = graft.ops.Similarity.trainIvf(emb, "embedding", "vec_id", nlist = 4)
    val semHist = graft.ops.Dedup.semanticCells(semIdx,
      emb.filter(col("vec_id") < 400), "embedding", "vec_id", nProbe = 2)
    val semInc = graft.ops.Dedup.semanticDedupIncrement(semIdx,
      graft.ops.Dedup.semanticCells(semIdx, emb.filter(col("vec_id") >= 400),
        "embedding", "vec_id", nProbe = 2),
      semHist, threshold = 0.45)
    println(s"semantic increment: ${semInc.count()} new-batch pairs")

    println("== round-5: Gopher rule battery + C4 line cleaning ==")
    docs.select((col("doc_id") +: graft.ops.TextOps.gopherMetrics(col("text"), sep = " the ")
      .map { case (n, c) => c.as(n) }) :+
      graft.ops.TextOps.gopherPass(col("text"), sep = " the ",
        minWords = 20, minStopHits = 1).as("pass"): _*).show(4)
    val c4 = graft.ops.TextOps.c4Clean(docs, "text", "doc_id",
      sep = " the ", minLineWords = 4, requireTerminalPunct = false)
    c4.orderBy(col("n_lines_removed").desc).show(3)
    c4.explain("formatted")

    println("== round-5: deterministic shuffle + HLL distinct meter ==")
    val shuffled = graft.ops.Sample.shuffleOrder(docs, "doc_id", nShards = 8, salt = "r5")
    shuffled.select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos")).show(5)
    shuffled.explain("formatted")
    graft.ops.Stats.approxDistinct(docs, "text", Seq("source"), rsd = 0.05)
      .orderBy(col("rel_err").desc).show(3)

    println("== round-5: merit quota + latest-wins compaction ==")
    graft.ops.Sample.topKPerGroup(
      docs.withColumn("quality", graft.ops.TextOps.qualityScore(col("text"))),
      Seq("lang"), "quality", k = 2, tieCol = "doc_id")
      .select(col("lang"), col("doc_id"), col("quality")).orderBy(col("lang")).show(6)
    val versions = docs.select(col("doc_id") % 100 as "key", col("doc_id") as "version",
      col("text"))
    println(s"compacted ${graft.ops.Dedup.compactLatest(versions, "key", "version", "version").count()} of ${versions.count()} version rows")
    // same semantics through the streaming-native max_by aggregation
    graft.ops.Dedup.compactLatestStream(versions, "key", "version", "version",
      valueCols = Seq("version")).orderBy(col("key")).show(3)

    println("== round-5: keep-best dedup + corpus algebra ==")
    val keptBest = graft.ops.Dedup.nearDupKeepBest(docs, "text", "doc_id",
      score = graft.ops.TextOps.qualityScore(col("text")),
      numHashes = 128, bands = 32, threshold = 0.5)
    println(s"keep-best kept ${keptBest.count()} of ${docs.count()} docs")
    val half = docs.filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
    val rest = docs.filter(!col("source").isin("src0", "src1", "src2", "src3", "src4"))
    println(s"verbatim cross-source copies: ${graft.ops.Dedup.intersectByContent(half, rest, "text").count()}; " +
      s"after subtraction: ${graft.ops.Dedup.exceptByContent(half, rest, "text").count()} of ${half.count()}")

    println("== round-5: mixture rebalance + snapshot diff ==")
    val rebal = graft.ops.Sample.resampleToShares(docs, "lang",
      Seq("en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.2), "doc_id", salt = "r5")
    rebal.groupBy(col("lang")).count().orderBy(col("lang")).show()
    val nextCrawl = docs.filter(col("doc_id") >= 100)
      .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" edited v2"))).otherwise(col("text")))
    graft.ops.Dedup.snapshotDiff(docs.filter(col("doc_id") < 400), nextCrawl,
      "doc_id", "text")
      .groupBy(col("status")).count().orderBy(col("status")).show()

    println("== round-5: in-engine Rocchio training -> linearScore ==")
    val wTrained = graft.ops.Embeddings.trainLinearWeights(docs, "text", col("lang") === "en")
    wTrained.orderBy(col("weight").desc).show(5)
    val wArr = new Array[Int](64)
    wTrained.collect().foreach(r => wArr(r.getInt(0)) = r.getInt(1))
    val predicted = docs.select(col("lang"),
      (graft.ops.Embeddings.linearScore(col("text"), wArr, scale = 1000.0, bias = 0.0) > 0)
        .as("pred_en"))
    predicted.groupBy(col("lang"), col("pred_en")).count().orderBy(col("lang")).show()
    graft.ops.Stats.binaryEval(docs.withColumn("s",
        graft.ops.Embeddings.linearScore(col("text"), wArr, scale = 1000.0, bias = 0.0)),
      col("lang") === "en", col("s") > 0).show()
    val (clip30, drop30) = graft.ops.TextOps.truncateTokens(col("text"), maxTokens = 30)
    docs.select(col("doc_id"), clip30.as("clipped"), drop30.as("dropped"))
      .orderBy(col("dropped").desc).show(3)

    println("== Z-order layout: write, manifest, pruned read ==")
    val zdir = java.nio.file.Files.createTempDirectory("drive-zorder-").toString + "/ev"
    val evz = graft.SparkEntry.events(spark, sfDir).select(col("event_id"),
      col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
    val zman = graft.sources.Layout.writeZOrderedWithManifest(
      evz, zdir, Seq("user_id", "ts_us"), bits = 8, numFiles = 16)
    println("manifest (per-file ranges on BOTH dims):")
    zman.orderBy(col("min_user_id")).show(6, truncate = 24)
    val zranges = Seq(("user_id", 2.0, 6.0), ("ts_us", 1.7049312e15, 1.7057952e15))
    val zpruned = graft.sources.Layout.readPruned(spark, zdir, zranges)
    println(s"pruned read opens ${graft.sources.Layout.prunedFiles(spark, zdir, zranges).size} " +
      s"of ${spark.read.parquet(zdir).inputFiles.length} files; " +
      s"rows=${zpruned.count()} (full-filter rows=${spark.read.parquet(zdir)
        .filter(col("user_id").between(2, 6) &&
          col("ts_us").between(1.7049312e15.toLong, 1.7057952e15.toLong)).count()})")
    println("pruned-read physical plan (scan + residual filter, no shuffle):")
    zpruned.explain("formatted")
    val cstats = graft.sources.Layout.compactZOrdered(spark, zdir, zdir + "_c",
      Seq("user_id", "ts_us"), bits = 8, targetFileBytes = 64L << 10)
    println(s"z-compaction: ${cstats.filesIn} files / ${cstats.bytesIn} bytes -> " +
      s"${cstats.filesOut} files; rows=${spark.read.parquet(zdir + "_c").count()} " +
      s"(source rows=${evz.count()})")

    println("== round-13: winnowOverlap bounded default ==")
    println("solver: n=5k -> " + graft.ops.TextOps.winnowConfigFor(5000L) +
      ", n=5M -> " + graft.ops.TextOps.winnowConfigFor(5000000L) +
      ", n=15M -> " + graft.ops.TextOps.winnowConfigFor(15000000L))
    val autoPairs = graft.ops.TextOps.winnowOverlapAuto(docs, "text", "doc_id")
    println(s"auto pairs at this rung (floor dial): ${autoPairs.count()} " +
      "(must equal the fixed-dial count above)")
    println("guard refusal on a 5-pair ceiling:")
    try graft.ops.TextOps.winnowOverlap(docs, "text", "doc_id", maxCandidatePairs = 5L)
    catch { case e: IllegalArgumentException =>
      println("refused as designed: " + e.getMessage.take(160)) }
    autoPairs.explain("formatted")

    println("== JS-shim throwing entry (reference: dist/index.js:23-30) ==")
    println(graft.Compiler.compileJsonOrThrow(
      """{ "age": "number", "class": "string" }""",
      "SELECT AVG(age) GROUP BY class").outputSchema.show)
    try graft.Compiler.compileJsonOrThrow("""{ "age": "number" }""", "SELECT nope")
    catch { case e: IllegalArgumentException => println("throws as expected: " + e.getMessage) }

    spark.stop()
  }
}
