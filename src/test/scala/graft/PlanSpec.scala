package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Sample, Similarity}

/** Plan-shape regression guards: the scale-critical physical-plan
  * properties (pushdown, pruning, partial aggregation, no cartesian
  * products, broadcast where intended, shuffle-free narrow ops) asserted
  * as tests, so a future refactor that silently degrades a plan fails CI
  * rather than a 100 TB run. These inspect `queryExecution.executedPlan`
  * (planning only — nothing is executed unless noted).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** The executed plan of the checkpoint action `build` runs: an operator
    * that checkpoints its result at construction returns a scan of that
    * checkpoint, so its pipeline's plan is the one that action executed.
    */
  private def constructionPlan(build: => DataFrame): String = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      build
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, s"expected one checkpoint action, saw ${plans.size}")
    plans.peek()
  }

  test("dialect filter + projection reach the parquet scan (pushdown + pruning)") {
    val p = plan(Compiler.queryOrThrow(li, "SELECT l_orderkey WHERE l_quantity < 3"))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,3.0)]"), p)
    // column pruning: the scan reads exactly the filter + projection columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("hash sampling is a shuffle-free narrow filter") {
    val p = plan(Sample.sampleByHash(docs, "doc_id", 10, "s").select($"doc_id"))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
  }

  test("corpus mixture stays a union of narrow filters (no shuffle)") {
    val p = plan(Sample.mixCorpora(
      Seq(("a", docs, 0.5), ("b", docs, 0.25)), "doc_id").select($"source", $"doc_id"))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Union"), p)
  }

  test("quantile gate: broadcast cutoff join, no global sort, no per-row window") {
    val p = plan(Sample.keepAboveQuantile(docs, "lang", "n_chars", q = 0.5)
      .select($"doc_id"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p) // cutoffs aggregate; rows never globally sort
  }

  test("grouped aggregation plans partial + final HashAggregate around one shuffle") {
    val p = plan(Compiler.queryOrThrow(li,
      "SELECT AVG(l_quantity) AS a GROUP BY l_returnflag"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // map-side combine + final
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("DISTINCT plans as hash aggregation, not a window") {
    val p = plan(Compiler.queryOrThrow(li, "SELECT DISTINCT l_returnflag",
      extensions = true))
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("brute-force top-k broadcasts probes and aggregates with the bounded heap") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3),
      "embedding", "vec_id", k = 5))
    assert(p.contains("Broadcast"), p)          // probes broadcast, corpus streams
    assert(p.contains("topk_by_score"), p)      // bounded-heap aggregate, no window
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("salted aggregation: the key-only exchange happens once, over partials") {
    import graft.ops.Stats, Stats.SaltedAggSpec._
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    def exchanges(df: org.apache.spark.sql.DataFrame): Seq[String] =
      "Exchange hashpartitioning\\(([^)]*)\\)".r
        .findAllMatchIn(plan(df)).map(_.group(1)).toSeq
    // plain algebraic specs: exactly two exchanges, (key, salt) then key
    val simple = exchanges(Stats.saltedAgg(ev, Seq("user_id"),
      Seq(Count("n"), Sum("value", "sv")), nSalts = 8))
    assert(simple.size == 2, simple)
    assert(simple.count(s => s.contains("user_id") && !s.contains("_groupingexpression")) == 1,
      simple)
    // with an exact distinct-count Spark adds its (key, salt, value)
    // distinct exchange — even finer-keyed, so still skew-safe. The
    // invariant that matters: the KEY-ONLY partitioning (where a hot key
    // would concentrate) appears exactly once, at the final merge, where
    // each key contributes at most nSalts partial rows.
    val withDistinct = exchanges(Stats.saltedAgg(ev, Seq("user_id"),
      Seq(Count("n"), Sum("value", "sv"), DistinctCount("event_type", "nd")),
      nSalts = 8))
    assert(withDistinct.count(s =>
      !s.contains("_groupingexpression") && !s.contains("event_type")) == 1, withDistinct)
    // plan strings print outermost-first: the head is the FINAL merge —
    // the only key-alone partitioning; every earlier stage carries the
    // salt (and/or the distinct value) in its key
    assert(!withDistinct.head.contains("_groupingexpression"), withDistinct)
    assert(withDistinct.tail.forall(s =>
      s.contains("_groupingexpression") || s.contains("event_type")), withDistinct)
  }

  test("media encode + header decode is a shuffle-free codegen projection") {
    graft.functions.GraftFunctions.register(spark)
    val media = Multimodal.encodedMediaTable(docs)
    val p = plan(media.select($"media_id", $"modality",
      Multimodal.decodeMeta($"payload").as("m")))
    assert(!p.contains("Exchange"), p) // encode + parse never shuffle
    // "*(1) Project" = the projection runs inside whole-stage codegen
    // (media_meta participates via its static-call doGenCode)
    assert(p.contains("*(1) Project"), p)
  }

  test("sampled recall meter: exactCosinePairs truth side is sample-bounded") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = Dedup.exactCosinePairs(emb, "embedding", "vec_id", threshold = 0.45,
      probeOneIn = 4)
    // the cross join's PROBE side must carry the deterministic salted
    // hash-sample filter (md5-derived), bounding truth cost to
    // |sample| × |corpus| by construction — the property that makes the
    // honesty meter runnable at 100 TB. The corpus side must NOT be
    // filtered (the restriction is probe-side only, or the "truth" would
    // silently shrink to sample × sample).
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty, df.queryExecution.optimizedPlan.toString)
    val j = joins.head
    val probeSide =
      if (j.left.toString.contains("md5")) j.left else j.right
    val corpusSide = if (probeSide eq j.left) j.right else j.left
    assert(probeSide.toString.contains("md5"),
      s"no hash-sample filter on either join side:\n$j")
    assert(!corpusSide.toString.contains("md5"),
      s"corpus side unexpectedly sampled (truth would shrink to sample²):\n$j")
    // the audit-sized probe sample is broadcast: the corpus streams ONCE
    // against it instead of re-scanning per probe partition in a
    // CartesianProduct
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastNestedLoopJoin"), physical)
    assert(!physical.contains("CartesianProduct"), physical)
  }

  test("hard-band miners broadcast probes, band-filter before the bounded heap") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    for ((df, bandMarker) <- Seq(
        Similarity.hardNegatives(emb, emb.filter($"vec_id" < 3),
          "embedding", "vec_id", k = 5, maxCos = 0.25, minCos = 0.05)
          -> "6) < 0.25",
        Similarity.hardPositives(emb, emb.filter($"vec_id" < 3),
          "embedding", "vec_id", k = 5, minCos = 0.25)
          -> "6) >= 0.25")) {
      val p = plan(df)
      assert(p.contains("Broadcast"), p)        // probes broadcast, corpus streams
      assert(p.contains("topk_by_score"), p)    // bounded-heap aggregate, no window
      assert(!p.contains("Window"), p)
      assert(!p.contains("CartesianProduct"), p)
      // the rounded-band predicate sits in the join stage (Catalyst
      // inlines the cosine expression into the join condition), NOT after
      // the aggregate: the heap must only ever see in-band candidates.
      // Plans print top-down, so the band marker's index being BELOW the
      // aggregate's proves it executes before the heap.
      val aggIdx = p.indexOf("topk_by_score")
      val bandIdx = p.indexOf(bandMarker)
      assert(aggIdx >= 0 && bandIdx > aggIdx, p)
    }
  }

  test("corpus-scale hard miners: banded equi-join, no broadcast cross of the corpus") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(Similarity.hardNegativesLsh(emb, emb.filter($"vec_id" < 3),
      "embedding", "vec_id", k = 5, maxCos = 0.25, minCos = 0.05,
      planes = 4, tables = 16))
    assert(p.contains("topk_by_score"), p)      // bounded heap ranks, not row_number
    // ONE window is expected: the lazy-path over-full-bucket guard sizes
    // buckets with a count window (its exchange is reused by the bucket
    // join); ranking itself must NOT be a per-probe row_number window
    assert(!p.contains("row_number"), p)
    assert(!p.contains("CartesianProduct"), p)
    // candidates come from the (table, bucket) equi-join — a nested-loop
    // join anywhere means the banding degenerated to a cross
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("minhash near-dup candidate generation never plans a cartesian product") {
    val p = constructionPlan(Dedup.minHashNearDups(docs, "text", "doc_id",
      numHashes = 32, bands = 8, threshold = 0.5))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("fuzzy decontamination plans equi-joins only: no cartesian, no nested loop") {
    val p = constructionPlan(Dedup.fuzzyContamination(docs, docs.limit(10), "text", "doc_id",
      numHashes = 32, bands = 8, threshold = 0.5))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("exact keep-first is one window over one hash exchange") {
    val p = plan(Dedup.exactKeepFirst(docs, "text", "doc_id"))
    assert(p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("text gates are a single projection over a pruned scan (zero shuffles)") {
    graft.functions.GraftFunctions.register(spark)
    val metrics = graft.ops.TextOps.repetitionMetrics($"text".cast("string"))
      .map { case (n, c) => c.as(n) }
    val p = plan(docs.select($"doc_id" +: metrics: _*))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("word_shingles"), p) // native expression, not the HOF chain
  }

  test("decontamination broadcasts the benchmark hash set") {
    val p = plan(graft.ops.TextOps.contaminationCounts(
      docs, docs.filter($"doc_id" % 50 === 0), "text", "doc_id", n = 5))
    assert(p.contains("BroadcastHashJoin"), p) // bench side small → broadcast
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sequence packing is one window per salted pack stream (one exchange)") {
    val p = plan(graft.ops.TextOps.packChunks(
      graft.ops.TextOps.chunkTokens(docs, "text", "doc_id", 64, 16),
      "doc_id", budget = 256, groups = 8, salt = "t"))
    assert(p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("as-of join is one exchange + one window — never a range join blow-up") {
    val l = Seq((1L, 5L, "a")).toDF("k", "t", "tag")
    val r = Seq((1L, 4L, 40.0)).toDF("k", "t", "v")
    val p = plan(graft.ops.Joins.asofJoin(l, r, "k", "t", "v"))
    assert(p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("incremental dedup prunes the history scan to the digest inputs") {
    val p = plan(Dedup.exactDedupIncrement(
      docs.filter($"doc_id" >= 250), docs.filter($"doc_id" < 250), "text", "doc_id"))
    // the history branch reads only the digest input + the caller's filter
    // column — lang/source/n_chars must be pruned away (the batch side
    // passes all columns through by contract, so exactly one full scan)
    assert("ReadSchema: struct<doc_id:bigint,text:string>".r.findAllIn(p).size == 1, p)
    assert("ReadSchema: struct<doc_id:bigint,text:string,lang".r.findAllIn(p).size == 1, p)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,250)]"), p)
  }

  test("token-budget quota is one running-sum window over one exchange") {
    val p = plan(Sample.capTokensPerGroup(docs, "lang", "doc_id", "n_chars", 30000L, "t"))
    assert(p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("range join plans as a hash equi-join on buckets, never a nested loop") {
    val points = Seq((1L, "k1", 10.0)).toDF("pid", "k", "x")
    val ivs = Seq(("k1", "a", 10.0, 25.0)).toDF("k", "iv", "lo", "hi")
    val p = plan(graft.ops.Joins.rangeJoin(points, ivs, "x", "lo", "hi", 7.0, Seq("k")))
    // the bucketed rewrite exists precisely so Spark does NOT fall back to
    // BroadcastNestedLoopJoin (its only native plan for a bare range
    // predicate) — the residual lo/hi filter must ride on an equi-join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("boilerplate removal: corpus pass is scan-side; only digests shuffle") {
    val p = plan(graft.ops.TextOps.removeBoilerplate(docs, "text", "doc_id", "\n", 2))
    // the scrub is a PURE scan-side projection since round 12: the digest
    // store ships as one plan-reference literal (the frequency aggregate
    // runs eagerly at store-build time, its own job), so the lazy plan
    // has NO exchange and NO join at all — the crossJoin(broadcast) form
    // re-materialized the corpus-growing array per document row, measured
    // |docs| × |store| (436 s at the sf100 rung, SCALING_r12 §3)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("sorted_bin_contains"), p)
  }

  test("PQ search: code scan + broadcast probes; candidate re-join is an equi-join") {
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cb = graft.ops.Similarity.trainPq(emb, "embedding", "vec_id", m = 8, ksub = 4)
    val p = plan(graft.ops.Similarity.pqTopK(cb, emb,
      emb.filter($"vec_id" < 3), "embedding", "vec_id", k = 3))
    assert(!p.contains("CartesianProduct"), p)
    // probes ride a broadcast; the candidate -> vector re-join must be a
    // hash equi-join on the id, never a nested loop over the corpus
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("SQ/BQ search: native code loops in the scan, probes broadcast, no id cartesian") {
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val sq = graft.ops.Similarity.trainSq(emb, "embedding", normalize = true)
    val pSq = plan(graft.ops.Similarity.sqTopK(sq, emb,
      emb.filter($"vec_id" < 3), "embedding", "vec_id", k = 3))
    val pBq = plan(graft.ops.Similarity.bqTopK(emb,
      emb.filter($"vec_id" < 3), "embedding", "vec_id", k = 3))
    // the approximate scoring runs through the native expressions (never
    // the interpreted HOF fallback), the tiny probe side broadcasts, and
    // the candidate -> vector re-join is a hash equi-join
    assert(pSq.contains("sq_dot"), pSq)
    assert(pBq.contains("hamming_dist") && pBq.contains("sign_pack"), pBq)
    for (p <- Seq(pSq, pBq)) {
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
      assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
        || p.contains("ShuffledHashJoin"), p)
    }
  }

  test("semantic dedup: cells shuffle ids only, vectors re-join candidate-sized") {
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = constructionPlan(graft.ops.Dedup.semanticDedup(emb, "embedding", "vec_id",
      nClusters = 4, threshold = 0.45, nProbe = 2))
    // the within-cell self-join is an equi-join on the cell id — never a
    // corpus-wide cross — and no exchange ever carries the vectors: every
    // hashpartitioning key set is over ids/cells
    assert(!p.contains("CartesianProduct"), p)
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("embedding#")),
      s"vectors shuffled through an exchange:\n$p")
  }

  test("banded self-joins are SHUFFLE joins — never broadcast (emission parallelism)") {
    // The banded side of simhash/SRP/SemDeDup self-joins is byte-small
    // (ids + sketches), so the planner would happily broadcast it and
    // stream the join through the OTHER side's task count — which is the
    // upstream scan's (ONE task for a single-row-group file), serializing
    // the entire candidate emission on one core (measured 302 s for a
    // 5.8 s join at sf1). The merge hints pin a shuffle join: emission
    // parallelism = shuffle partitions, at any input layout.
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pSim = plan(Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 8))
    val pSimSliced = plan(Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 8,
      keyBlocks = 2, slices = 3))
    val pSimWide = plan(Dedup.simHashNearDupsWide(docs, "text", "doc_id", maxHamming = 8,
      keyBlocks = 2))
    val pSrp = constructionPlan(Dedup.embeddingNearDups(emb, "embedding", "vec_id",
      threshold = 0.45, planes = 5, tables = 4))
    for (p <- Seq(pSim, pSimSliced, pSimWide, pSrp)) {
      assert(p.contains("SortMergeJoin"), p) // the banded self-join
      assert(!p.contains("CartesianProduct"), p)
    }
    // the simhash pair join has no other join in the plan, so no
    // broadcast may appear at all; the SRP plan DOES broadcast — the
    // candidate→vector re-joins build on the byte-small (id, vec) side,
    // which is exactly right and orthogonal to self-join parallelism
    assert(!pSim.contains("BroadcastHashJoin"), pSim)
    assert(!pSimSliced.contains("BroadcastHashJoin"), pSimSliced)
    assert(!pSimWide.contains("BroadcastHashJoin"), pSimWide)
    // the exactly-once emission rule runs as the native expression, not a
    // when-chain the optimizer could inline past the JIT bytecode ceiling
    assert(pSim.contains("first_clean_subset"), pSim)
    assert(pSimSliced.contains("first_clean_subset"), pSimSliced)
    assert(pSimWide.contains("first_clean_subset2"), pSimWide)
  }

  test("IVF-PQ: the ADC scan joins on the CELL — never a corpus-wide cross") {
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ivf = graft.ops.Similarity.trainIvf(emb, "embedding", "vec_id", nlist = 4)
    val cb = graft.ops.Similarity.trainPq(emb, "embedding", "vec_id", m = 8, ksub = 4)
    val p = plan(graft.ops.Similarity.ivfPqTopK(ivf, cb, emb,
      emb.filter($"vec_id" < 3), "embedding", "vec_id", k = 3, nprobe = 2))
    assert(!p.contains("CartesianProduct"), p)
    // the compressed scan meets probes through a cell equi-join
    assert(p.contains("cell"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("column profiler reads the table exactly once for all columns") {
    val p = plan(graft.ops.Stats.profileColumns(li,
      Seq("l_quantity", "l_extendedprice", "l_discount")))
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double>"), p)
  }

  test("heavy hitters: partial-agg counts + bounded TakeOrdered, rows never sort") {
    val p = plan(graft.ops.Stats.heavyHitters(docs, "doc_id", 20))
    assert("partial_count".r.findAllIn(p).nonEmpty, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // share rounding must not force a global sort of raw rows
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("hash split is a shuffle-free narrow projection") {
    val p = plan(graft.ops.Sample.splitByHash(
      docs.select($"doc_id"), "doc_id", Seq("train" -> 0.9, "val" -> 0.1)))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
  }

  test("c4 cleaning and the gopher gate are shuffle-free scan projections") {
    val p = plan(graft.ops.TextOps.c4Clean(docs, "text", "doc_id"))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    val g = plan(docs.filter(graft.ops.TextOps.gopherPass($"text")).select($"doc_id"))
    assert(!g.contains("Exchange"), g)
  }

  test("shuffle order: ONE hash exchange on the shard, never a global range sort") {
    val p = plan(graft.ops.Sample.shuffleOrder(docs.select($"doc_id"), "doc_id", 8, "s"))
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("exact-n sample plans as TakeOrdered, never a global sort") {
    val p = plan(graft.ops.Sample.sampleExact(docs.select($"doc_id"), "doc_id", 40, "s"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("histogram is one partial-agg aggregation on (group, bin)") {
    val p = plan(graft.ops.Stats.histogram(docs, "n_chars", 100.0, Seq("lang")))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count") || "HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("resample to shares plans as a narrow filter over the corpus") {
    val p = plan(graft.ops.Sample.resampleToShares(
      docs.select($"doc_id", $"lang"), "lang",
      Seq("en" -> 0.5, "de" -> 0.5), "doc_id", "s"))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("snapshot diff: slim digest equi-join on id, never a cartesian") {
    val p = plan(graft.ops.Dedup.snapshotDiff(
      docs.filter($"doc_id" < 300), docs.filter($"doc_id" >= 100), "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), p)
    // a full-outer id equi-join of two digest projections: at most one
    // hash exchange per side (the digest is computed below the exchange,
    // in the scan-side Project)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
  }

  test("bloom decontamination: codegen bloom probe at the scan, no cartesian") {
    graft.functions.GraftFunctions.register(spark)
    val bench = docs.filter($"doc_id" % 50 === 0)
    val p = plan(graft.ops.TextOps.decontaminateBloom(docs, bench, "text", "doc_id", n = 5))
    // the clean fast path is a bloom_might_contain filter directly over
    // the scan — the filter must appear (both branches), and nothing may
    // degenerate into a cartesian product
    assert(p.contains("bloom_might_contain"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the prefilter itself runs before any exchange: the plan segment up
    // to the first Exchange already contains the bloom probe
    val firstExchange = p.indexOf("Exchange")
    val firstProbe = p.indexOf("bloom_might_contain")
    assert(firstExchange == -1 || firstProbe < firstExchange,
      s"bloom probe not scan-side (probe@$firstProbe exchange@$firstExchange)")
  }

  test("span dedup: hash-only inverted index, no cartesian, pruned scan") {
    graft.functions.GraftFunctions.register(spark)
    // the default path checkpoints the measured starts side at
    // construction, so its plan only reads it back; broadcastMaxPositions
    // = 0 builds the same df gate and starts side inside one plan
    val lazyPlan = plan(graft.ops.TextOps.dedupSpans(docs, "text", "doc_id",
      broadcastMaxPositions = 0L))
    val p = plan(graft.ops.TextOps.dedupSpans(docs, "text", "doc_id"))
    for (q <- Seq(lazyPlan, p)) {
      assert(!q.contains("CartesianProduct"), q)
      // the scan reads exactly the two columns the operator touches
      assert(q.contains("ReadSchema: struct<doc_id:bigint,text:string>"), q)
    }
    // the document-frequency side never exchanges text: every
    // hashpartitioning key set is over ids/positions/hashes (longs/ints)
    def exchanges(q: String) = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(q).map(_.group(1)).toList
    assert(exchanges(lazyPlan).nonEmpty, lazyPlan)
    // text participates in at most one exchange: the merged starts join
    val textExchanges = exchanges(lazyPlan).filter(_.contains("text#"))
    assert(textExchanges.size <= 1, s"text shuffled ${textExchanges.size}x:\n$lazyPlan")
    // measured under the broadcast bound, text never shuffles
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!exchanges(p).exists(_.contains("text#")), p)
  }

  test("vocab coverage: TakeOrdered head, no full sort of the count table") {
    val p = plan(graft.ops.Lm.vocabCoverage(docs, docs, "text", 500))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("paragraph dedup: salted-key window, text shuffles once on the id") {
    // the default path checkpoints the measured changed side at
    // construction, so its plan only reads it back; broadcastMaxPositions
    // = 0 builds the same window and changed side inside one plan
    val lazyPlan = plan(graft.ops.Dedup.paragraphDedup(docs, "text", "doc_id",
      broadcastMaxPositions = 0L))
    val p = plan(graft.ops.Dedup.paragraphDedup(docs, "text", "doc_id"))
    // the keep/drop window shuffles on the salted key (text is projected
    // out before the window; blanks never share the md5("") partition)
    assert(lazyPlan.contains("hashpartitioning(__wkey"), lazyPlan)
    // round 13: the reassembly side is gated to CHANGED documents; the
    // only hash exchanges are the integer/digest-keyed window, the
    // kept-position agg and, without a broadcast, the one id-keyed text
    // exchange of the merge. The old (id, pos)-keyed flag join that
    // shuffled exploded text is gone.
    def textHashEx(q: String) = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(q).map(_.group(1)).filter(_.contains("text#")).toList
    assert(textHashEx(lazyPlan).size <= 1, lazyPlan)
    assert("Exchange hashpartitioning".r.findAllIn(lazyPlan).size <= 4, lazyPlan)
    // measured under the broadcast bound, the text side joins through a
    // BroadcastHashJoin and NEVER shuffles
    assert(p.contains("BroadcastHashJoin"), p)
    assert(textHashEx(p).isEmpty, s"text hash-shuffled: ${textHashEx(p)}\n$p")
    for (q <- Seq(lazyPlan, p)) {
      assert(!"hashpartitioning\\(doc_id#\\d+L?, __pos".r.findAllIn(q).hasNext, q)
      assert(!q.contains("Exchange rangepartitioning"), q)
      assert(!q.contains("CartesianProduct") && !q.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("D4: prototypicality is a shuffle-free scan; diversify adds ONE cell exchange") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val index = graft.ops.Similarity.trainIvf(emb, "embedding", "vec_id", nlist = 4)
    // centroid cosines are literal-weight projections — no joins, no shuffle
    val pp = plan(graft.ops.Dedup.prototypicality(emb, "embedding", "vec_id", index))
    assert(!pp.contains("Exchange"), pp)
    assert(!pp.contains("Join"), pp)
    // the per-cell quota window is the only exchange; never a global sort
    val pd = plan(graft.ops.Dedup.diversify(emb, "embedding", "vec_id", index))
    assert("Exchange hashpartitioning".r.findAllIn(pd).size == 1, pd)
    assert(!pd.contains("Exchange rangepartitioning"), pd)
  }

  test("BM25: broadcast stats row, TakeOrdered top-k, no data-sized shuffle") {
    val p = plan(graft.ops.Retrieval.bm25TopK(docs, "text", "doc_id",
      "dup hash scan", 50))
    // the top-k is a bounded TakeOrdered, never a global range sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    // the one-row corpus-stats aggregate attaches as a broadcast —
    // the corpus itself never hash-shuffles
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("provenance dedup: ONE digest exchange feeds rank + provenance, no join") {
    val p = plan(graft.ops.Dedup.exactKeepFirstWithProvenance(
      docs, "text", "doc_id", "source"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("RRF: fused head is a bounded TakeOrdered over k-sized lists") {
    val bm = (q: String) => graft.ops.Retrieval.bm25TopK(docs, "text", "doc_id", q, 50)
    val p = plan(graft.ops.Retrieval.reciprocalRankFusion(
      Seq((bm("dup hash"), "bm25"), (bm("scan key"), "bm25")), "doc_id", topK = 30))
    // the embedded bm25 lists keep their scalar-stats broadcast attach
    // (a 1-row BroadcastNestedLoopJoin — the approved pattern); the
    // fusion itself adds only bounded work: per-list rank windows over
    // 50-row frames and one TakeOrdered head, never a global range sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("anomaly meter: corpus collapses in ONE windowed agg, baseline broadcasts") {
    val ev = graft.streaming.EventStream.readEventsBatch(
      spark, s"$sfDir/events.parquet")
    val p = plan(graft.streaming.EventStream.windowAnomaly(ev))
    // windows frame joins the per-type baseline as a broadcast — the
    // corpus-scale side never re-shuffles to meet it, and nothing sorts
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
    // both aggregations are map-side combined (partial + final)
    assert("partial_count".r.findAllIn(p).nonEmpty, p)
  }

  test("DSIR: broadcast ratio lookup, partial-agg sums, TakeOrdered resample") {
    val en = docs.filter($"lang" === "en")
    val p = plan(graft.ops.Dsir.logWeights(docs, en, docs, "text", "doc_id"))
    // the ≤B-row ratio table reaches the n-gram stream as a broadcast
    // hash join on the bucket — the corpus-sized side never shuffles to
    // meet the model (the model build itself may SMJ two ≤B-row frames)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // per-doc weight sum is map-side combined
    assert("partial_count".r.findAllIn(p).nonEmpty, p)
    // resampling is a bounded top-k, never a global range sort
    val pr = plan(graft.ops.Dsir.resample(docs, en, docs, "text", "doc_id", n = 10))
    assert(pr.contains("TakeOrderedAndProject"), pr)
    assert(!pr.contains("Exchange rangepartitioning"), pr)
    // the divergence meter: bucket-count shuffles only, no cartesian
    val pd = plan(graft.ops.Dsir.ngramDivergence(en, docs, "text"))
    assert(!pd.contains("CartesianProduct"), pd)
  }

  test("LM scoring: partial-agg counts, token-keyed join, broadcast totals only") {
    val p = plan(graft.ops.Lm.unigramBits(docs, docs, "text", "doc_id"))
    // every aggregate (train counts, per-doc tf, per-doc reduce) is
    // partial-final — no unaggregated token stream crosses an exchange
    assert("partial_count".r.findAllIn(p).nonEmpty, p)
    // the 1-row totals frame is the only nested-loop member, as an
    // explicit broadcast; the token join itself must be a hash equi-join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("every global (partition-less) window sits on an aggregate-reduced input") {
    // The driver-small global windows (epoch allocation saturation frame,
    // funnel report, AUC/AP distinct-score frames, RRF per-list ranks)
    // are documented as cardinality-bounded; this guard makes the
    // boundedness a PLAN property: every Window with an empty
    // partitionSpec must have an Aggregate / Deduplicate / GlobalLimit on
    // EVERY path from it down to every leaf relation — so a refactor
    // that accidentally windows a corpus-sized frame fails here, not on
    // a 100 TB run as one task holding the corpus.
    import org.apache.spark.sql.catalyst.plans.logical._
    def aggReduced(p: LogicalPlan): Boolean = p match {
      case _: Aggregate | _: Deduplicate | _: GlobalLimit => true
      case l if l.children.isEmpty => l.maxRows.exists(_ <= 10000) // bounded local relation
      case other => other.children.forall(aggReduced)
    }
    def globalWindows(df: DataFrame): Seq[Window] =
      df.queryExecution.optimizedPlan.collect {
        case w: Window if w.partitionSpec.isEmpty => w
      }
    def assertGuard(name: String, df: DataFrame, minWindows: Int = 1): Unit = {
      val ws = globalWindows(df)
      assert(ws.size >= minWindows,
        s"$name: expected >= $minWindows global windows, found ${ws.size} — " +
          "site list stale, update this guard")
      ws.foreach(w => assert(aggReduced(w.child),
        s"$name: global window over a non-aggregate-reduced input:\n$w"))
    }
    val d01 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ev = graft.streaming.EventStream.readEventsBatch(
      spark, "/root/testdata/sf0.001/events.parquet")
    graft.functions.GraftFunctions.register(spark)
    // the >= 4 known sites
    assertGuard("rocAuc", graft.ops.Stats.rocAuc(d01, col("lang") === "en", length(col("text"))))
    assertGuard("averagePrecision",
      graft.ops.Stats.averagePrecision(d01, col("lang") === "en", length(col("text"))))
    assertGuard("funnel report",
      graft.streaming.EventStream.funnel(ev, Seq("signup", "view", "click")))
    assertGuard("epoch allocation",
      graft.ops.Sample.epochAllocation(d01, "lang", length(col("text")), lit(1.0),
        budgetTokens = 10000.0, maxEpochs = 4.0))
    assertGuard("rrf per-list ranks",
      graft.ops.Retrieval.reciprocalRankFusion(
        Seq((d01.select(col("doc_id"), length(col("text")).cast("double").as("s")).limit(20), "s"),
          (d01.select(col("doc_id"), (length(col("text")) % 7).cast("double").as("s")).limit(20), "s")),
        "doc_id", topK = 10))
    // negative control: the guard itself must flag a corpus-sized global
    // window (this is what a bad refactor would look like)
    val bad = d01.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
    val badWs = globalWindows(bad)
    assert(badWs.nonEmpty && badWs.exists(w => !aggReduced(w.child)),
      "guard failed to flag a corpus-sized global window")
  }
}
