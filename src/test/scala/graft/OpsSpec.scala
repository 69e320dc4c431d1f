package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.ops._

/** Correctness tests for the training-data pipeline operators, on planted
  * fixtures: known duplicates, known near-duplicates, known nearest
  * neighbors.
  */
class OpsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door " +
    "and the rain falls gently on the old roof as the wind moves through the tall trees behind the quiet house"

  private lazy val docs = Seq(
    (0L, base),
    (1L, base),                                          // exact dup of 0
    (2L, base.replace("warm", "cold")),                  // near dup of 0
    (3L, base + " and the bird sings in the tall tree"), // near-ish dup of 0
    (4L, "completely different content about spark catalyst optimizer rules and physical plans for distributed query execution"),
    (5L, "yet another unrelated document mentioning minhash signatures locality sensitive hashing and jaccard similarity estimation"),
  ).toDF("doc_id", "text")

  test("exact dedup groups identical normalized texts") {
    val got = Dedup.exact(docs, "text", "doc_id").collect()
    assert(got.length == 5) // 0/1 collapse
    val dupGroup = got.filter(_.getAs[Long]("n_dups") == 2L)
    assert(dupGroup.length == 1)
    assert(dupGroup.head.getAs[Long]("representative") == 0L)
  }

  test("exact dedup normalizes case and whitespace") {
    val df = Seq((0L, "Hello  World"), (1L, "hello world"), (2L, "other")).toDF("doc_id", "text")
    assert(Dedup.exactKeepFirst(df, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(0L, 2L))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated pairs") {
    val pairs = Dedup.minHashNearDups(docs, "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhash jaccard of exact dup is 1.0") {
    val row = Dedup.minHashNearDups(docs, "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
      .filter($"id_a" === 0L && $"id_b" === 1L).collect().head
    assert(row.getAs[Double]("jaccard") == 1.0)
  }

  test("fuzzy decontamination: corpus docs near benchmark docs are caught, others survive") {
    val corpus = docs.filter($"doc_id".isin(0L, 4L, 5L))
    val bench = docs.filter($"doc_id".isin(1L, 2L))
    val pairs = Dedup.fuzzyContamination(corpus, bench, "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
      .collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[Long]("bench_id"), r.getAs[Double]("jaccard")))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L), (0L, 2L)))
    // verification is exact Jaccard: the exact dup verifies at 1.0
    assert(pairs.find(p => p._2 == 1L).get._3 == 1.0)
    val kept = Dedup.fuzzyDecontaminate(corpus, bench, "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(4L, 5L))
    // empty benchmark: nothing contaminated, whole corpus survives
    assert(Dedup.fuzzyDecontaminate(corpus, bench.filter(lit(false)), "text", "doc_id")
      .count() == 3)
  }

  test("simhash: identical texts distance 0, near dups small, unrelated large") {
    graft.functions.GraftFunctions.register(spark)
    val sims = docs.select($"doc_id", Dedup.simHash($"text").as("sim"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sim")).toMap
    assert(sims(0L) == sims(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(0L), sims(2L)) <= 8)
    assert(ham(sims(0L), sims(4L)) > 8)
  }

  test("simhash near-dup pairs via banding") {
    val pairs = Dedup.simHashNearDups(docs, "text", "doc_id", maxHamming = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._2 == 4L && p._1 != 4L || p._1 == 4L))
  }

  test("simhash banding catches pairs whose differing bits spread across all wide chunks") {
    // 8 differing bits, two per 16-bit quarter: a fixed 4×16 banding would
    // never see these in the same bucket. With chunks = maxHamming + 1 the
    // pigeonhole guarantees a matching chunk at any spread.
    val diff = Seq(7, 15, 23, 31, 39, 47, 55, 63).map(1L << _).reduce(_ | _)
    val sims = Seq((0L, 0L), (1L, diff), (2L, -1L)).toDF("id", "sim")
    val pairs = Dedup.simHashNearDupsFromSims(sims, maxHamming = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((0L, 1L))) // planted pair caught; far pair (2) excluded
  }

  test("simhash combination keying (keyBlocks=2) has identical verified output") {
    // exact-recall banding means the verified pair set is independent of
    // the banding scheme — m=1 and m=2 must agree exactly
    val diff = Seq(7, 15, 23, 31, 39, 47, 55, 63).map(1L << _).reduce(_ | _)
    val sims = Seq((0L, 0L), (1L, diff), (2L, -1L), (3L, 0L), (4L, 1L << 20)).toDF("id", "sim")
    def run(m: Int) = Dedup.simHashNearDupsFromSims(sims, maxHamming = 8, keyBlocks = m)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val m1 = run(1)
    val m2 = run(2)
    assert(m1 == m2)
    assert(m1.contains((0L, 1L)) && m1.contains((0L, 3L)))
  }

  test("simhash hot-gated slicing: identical output at any slices/threshold mix") {
    // the blocked-self-join slice dial is recall-neutral by construction
    // (a pair meets exactly once at (slice(a), slice(b)) with the SAME
    // per-bucket m on both sides) — verify the r14 hot-bucket gate keeps
    // that across: no slicing, slicing with every bucket hot
    // (sliceHotMin = 0, the legacy replicate-everything plan), and a
    // MIXED gate (sliceHotMin = 2: the planted duplicate-heavy bucket
    // replicates, the singletons don't)
    val diff = Seq(7, 15, 23, 31, 39, 47, 55, 63).map(1L << _).reduce(_ | _)
    val sims = (Seq((0L, 0L), (1L, diff), (2L, -1L), (3L, 0L), (4L, 1L << 20)) ++
      (10L to 20L).map(i => (i, 0L))).toDF("id", "sim")
    def run(m: Int, hot: Int) = Dedup.simHashNearDupsFromSims(sims, maxHamming = 8,
        slices = m, sliceHotMin = hot)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val base = run(1, Dedup.sliceHotMin)
    // below sliceGateMin: the legacy replicate-everything branch
    assert(base == run(3, 0))
    assert(base == run(4, 2))
    // at/above sliceGateMin: the hot-gated branch, all three gate mixes
    assert(base == run(Dedup.sliceGateMin, 0))
    assert(base == run(Dedup.sliceGateMin, 2))
    assert(base == run(Dedup.sliceGateMin + 1, 1000000))
    assert(base.contains((0L, 1L)) && base.contains((10L, 20L)))
    // wide twin: same identity under the same mixes
    val simsW = (Seq((0L, Seq(0L, 0L)), (1L, Seq(diff, 0L)), (2L, Seq(-1L, -1L))) ++
      (10L to 20L).map(i => (i, Seq(0L, 0L)))).toDF("id", "sims")
    def runW(m: Int, hot: Int) = Dedup.simHashNearDupsWideFromSims(simsW, maxHamming = 8,
        slices = m, sliceHotMin = hot)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val baseW = runW(1, Dedup.sliceHotMin)
    assert(baseW == runW(3, 0))
    assert(baseW == runW(Dedup.sliceGateMin, 0))
    assert(baseW == runW(Dedup.sliceGateMin, 2))
    assert(baseW.contains((0L, 1L)) && baseW.contains((10L, 20L)))
  }

  test("simhash keyBlocks dial: model-solved, radius-aware, result-preserving") {
    // the candidate-volume rule (Dedup.simHashKeyBlocksFor): corpora whose
    // predicted candidate volume is already under the work floor stay at
    // 1 (paying explode overhead there is a measured regression); radius 3
    // at the sf10 rung steps to 3 (measured 16x candidate cut); radius 8
    // refuses to step at any n (entropy-saturated blocks — the predicted
    // cut per step is < 2x)
    assert(Dedup.simHashKeyBlocksFor(5000L, maxHamming = 3) == 1)
    assert(Dedup.simHashKeyBlocksFor(50000L, maxHamming = 3) == 1)
    assert(Dedup.simHashKeyBlocksFor(500000L, maxHamming = 3) == 3)
    assert(Dedup.simHashKeyBlocksFor(5000000L, maxHamming = 3) == 4)
    assert(Dedup.simHashKeyBlocksFor(500000L, maxHamming = 8) == 1)
    assert(Dedup.simHashKeyBlocksFor(500000000L, maxHamming = 8) == 1)
    // and whatever it picks, the verified pair set cannot change
    val diff = Seq(5, 25, 45).map(1L << _).reduce(_ | _)
    val sims = Seq((0L, 0L), (1L, diff), (2L, -1L), (3L, 0L), (4L, 1L << 20)).toDF("id", "sim")
    def run(m: Int) = Dedup.simHashNearDupsFromSims(sims, maxHamming = 3, keyBlocks = m)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val dialed = run(Dedup.simHashKeyBlocksFor(500000L, maxHamming = 3))
    assert(dialed == run(1))
    assert(dialed.contains((0L, 1L)) && dialed.contains((0L, 3L)))
  }

  test("hard-miner band dial: model-solved planes/tables, guard-safe fill") {
    // Similarity.hardBandConfig at the driver rows' band edge (0.25):
    // floors hold through the generated sf1 (artifacts there unchanged),
    // sf10 steps to (6, 36) — the rung where the fixed (4, 16) config
    // pushed every bucket over the 10k guard cap and recall collapsed to
    // 0.17/0.15 (RECALL_sf10_r11.json, pre-dial)
    assert(Similarity.hardBandConfig(2000L, edgeCos = 0.25) == ((4, 16)))
    assert(Similarity.hardBandConfig(20000L, edgeCos = 0.25) == ((4, 16)))
    assert(Similarity.hardBandConfig(200000L, edgeCos = 0.25) == ((6, 36)))
    // expected bucket fill n/2^planes stays within the solver's
    // targetBucket (5000, half the 10k guard cap) at every rung — the
    // guard can then only fire on genuine degeneracy
    for (n <- Seq(20000L, 200000L, 2000000L, 20000000L)) {
      val (planes, tables) = Similarity.hardBandConfig(n, edgeCos = 0.25)
      assert(n.toDouble / math.pow(2.0, planes) <= 5000.0 + 1e-9,
        s"n=$n planes=$planes overfills the guard")
      // solved tables hit >= 75% theoretical recall at the edge
      val p1 = 1.0 - math.acos(0.25) / math.Pi
      val theory = 1.0 - math.pow(1.0 - math.pow(p1, planes), tables)
      assert(theory >= 0.75 - 1e-9, s"n=$n ($planes,$tables) theory=$theory")
    }
  }

  test("simhash blocked self-join (slices) has identical verified output") {
    // the skew dial replicates banded rows across slice coordinates; every
    // pair must still meet exactly once — output identical to slices=1,
    // for both keying schemes, on a corpus with planted pairs at several
    // radii (a randomized 40-doc set keeps bucket shapes non-trivial)
    val rnd = new scala.util.Random(7)
    val sims = (0L until 40L).map { i =>
      val base = if (i % 4 == 0) 0L else rnd.nextLong()
      val flips = (0 until rnd.nextInt(10)).map(_ => 1L << rnd.nextInt(60))
        .foldLeft(0L)(_ | _)
      (i, base ^ flips)
    }.toDF("id", "sim")
    for (kb <- Seq(1, 2)) {
      def run(m: Int) = Dedup.simHashNearDupsFromSims(sims, maxHamming = 8,
          keyBlocks = kb, slices = m)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Int]("hamming"))).toSet
      val s1 = run(1)
      assert(s1 == run(3), s"keyBlocks=$kb: slices=3 diverged")
      assert(s1 == run(4), s"keyBlocks=$kb: slices=4 diverged")
      assert(s1.nonEmpty)
    }
  }

  test("simhash banding is exact-match at maxHamming 0") {
    val sims = Seq((0L, 42L), (1L, 42L), (2L, 43L)).toDF("id", "sim")
    val pairs = Dedup.simHashNearDupsFromSims(sims, maxHamming = 0)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("wide simhash: lane 0 equals the narrow sketch; wide distances separate like narrow") {
    graft.functions.GraftFunctions.register(spark)
    val rows = docs.select($"doc_id", Dedup.simHash($"text").as("sim"),
        Dedup.simHashWide($"text").as("sims"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("sim"), r.getSeq[Long](2))))
      .toMap
    // the wide sketch's first lane IS the narrow sketch — a narrow-radius
    // user migrating to the wide operator changes resolution, not hash
    rows.values.foreach { case (sim, sims) =>
      assert(sims.length == 2 && sims.head == sim)
      assert(sims(1) >= 0L && sims(1) < (1L << 60)) // lane 1 positive, 60-bit
    }
    def ham(a: Seq[Long], b: Seq[Long]): Int =
      java.lang.Long.bitCount(a(0) ^ b(0)) + java.lang.Long.bitCount(a(1) ^ b(1))
    assert(ham(rows(0L)._2, rows(1L)._2) == 0) // exact dup
    assert(ham(rows(0L)._2, rows(2L)._2) <= 16) // near dup stays near at 2x bits
    assert(ham(rows(0L)._2, rows(4L)._2) > 16) // unrelated stays far
  }

  test("wide simhash near-dup pairs via banding (text surface)") {
    val pairs = Dedup.simHashNearDupsWide(docs, "text", "doc_id", maxHamming = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("wide simhash banding equals the all-pairs truth for every dial setting") {
    // randomized two-lane sketches with planted clusters: the banded +
    // exactly-once-emission pipeline must reproduce the brute-force
    // two-lane hamming pair set for every (keyBlocks, slices) dial
    val rnd = new scala.util.Random(11)
    val data = (0L until 40L).map { i =>
      val b0 = if (i % 4 == 0) 0L else rnd.nextLong() >>> 4
      val b1 = if (i % 4 == 0) 0L else rnd.nextLong() >>> 4
      val f0 = (0 until rnd.nextInt(7)).map(_ => 1L << rnd.nextInt(60)).foldLeft(0L)(_ | _)
      val f1 = (0 until rnd.nextInt(7)).map(_ => 1L << rnd.nextInt(60)).foldLeft(0L)(_ | _)
      (i, Array(b0 ^ f0, b1 ^ f1))
    }
    val truth = (for {
      (a, sa) <- data; (b, sb) <- data if a < b
      h = java.lang.Long.bitCount(sa(0) ^ sb(0)) + java.lang.Long.bitCount(sa(1) ^ sb(1))
      if h <= 8
    } yield (a, b, h)).toSet
    assert(truth.nonEmpty)
    val sims = data.toDF("id", "sims")
    for (kb <- Seq(1, 2, 3); m <- Seq(1, 3)) {
      val got = Dedup.simHashNearDupsWideFromSims(sims, maxHamming = 8,
          keyBlocks = kb, slices = m)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Int]("hamming"))).toSet
      assert(got == truth, s"keyBlocks=$kb slices=$m diverged from all-pairs truth")
    }
  }

  test("wide simhash pigeonhole boundary: 8 differing bits across lanes caught, 9 missed") {
    // 5 flips in lane 0 + 3 in lane 1 = hamming 8 (kept at radius 8);
    // adding one more lane-1 flip makes 9 (excluded) — the radius counts
    // BOTH lanes even though any single block sees only one
    val d0 = Seq(3, 17, 29, 41, 55).map(1L << _).reduce(_ | _)
    val d1 = Seq(5, 23, 47).map(1L << _).reduce(_ | _)
    val sims = Seq(
      (0L, Array(0L, 0L)), (1L, Array(d0, d1)), (2L, Array(d0, d1 | (1L << 58)))
    ).toDF("id", "sims")
    val pairs = Dedup.simHashNearDupsWideFromSims(sims, maxHamming = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("wide simhash keyBlocks dial: the 2x block width unlocks the step radius 8 refused") {
    // at 60 bits, radius 8's blocks are ~7 bits and the model refuses to
    // step at any n (entropy-saturated; the measured frontier). At 120
    // bits the same radius gets ~13-bit blocks, and the model steps to 2
    // as soon as the predicted volume clears the work floor
    val wide = graft.functions.SimHashUtil.WideBits
    assert(Dedup.simHashKeyBlocksFor(5000L, maxHamming = 8, bits = wide) == 1)
    assert(Dedup.simHashKeyBlocksFor(50000L, maxHamming = 8, bits = wide) == 2)
    assert(Dedup.simHashKeyBlocksFor(500000L, maxHamming = 8, bits = wide) == 2)
    assert(Dedup.simHashKeyBlocksFor(5000000L, maxHamming = 8, bits = wide) == 2)
    // narrow stays refused (the existing dial contract, now via the param)
    assert(Dedup.simHashKeyBlocksFor(500000L, maxHamming = 8, bits = 60) == 1)
  }

  test("vec_dot returns null on length mismatch (matches HOF contract)") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val native = df.select(graft.functions.GraftFunctions.vecDot($"a", $"b")).collect().head
    val hof = df.select(Similarity.dot($"a", $"b")).collect().head
    assert(native.isNullAt(0) && hof.isNullAt(0))
  }

  test("connected components: chains, pairs, singletons — label is min id") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val nodes = (1L to 6L).map(Tuple1(_)).toDF("id")
    val got = Dedup.connectedComponents(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components converges fast on a long chain (pointer jumping)") {
    val n = 64L
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (0L until n).map(Tuple1(_)).toDF("id")
    // worst case for pure hash-min is n rounds; the jump step must get
    // there well inside the iteration cap
    val got = Dedup.connectedComponents(edges, nodes, maxIterations = 20)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(0L))
  }

  test("near-dup keep-first drops the whole transitive cluster, keeps min id") {
    val kept = Dedup.nearDupKeepFirst(docs, "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    // 0,1,2,3 form one near-dup cluster (0-1 exact, 0-2, 0-3 near) → keep 0;
    // 4 and 5 are unrelated → kept
    assert(kept == Set(0L, 4L, 5L))
    val groups = Dedup.nearDupGroups(docs, "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
      .select($"doc_id", $"dup_group").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(1L) == 0L && groups(2L) == 0L)
    assert(groups(4L) == 4L && groups(5L) == 5L)
  }

  test("near-dup keep-best keeps the highest-scored cluster member, not the min id") {
    // score each doc by its id so the BEST member of the 0-1-2-3 cluster
    // is id 3 — keep-first would keep 0, keep-best must keep 3
    val kept = Dedup.nearDupKeepBest(docs, "text", "doc_id",
        score = $"doc_id".cast("double"),
        numHashes = 128, bands = 32, threshold = 0.5)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L))
    // a null score loses to any real score: null out the would-be winner
    val keptNull = Dedup.nearDupKeepBest(docs, "text", "doc_id",
        score = when($"doc_id" =!= 3L, $"doc_id".cast("double")),
        numHashes = 128, bands = 32, threshold = 0.5)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(keptNull == Set(2L, 4L, 5L))
  }

  test("incremental dedup: batch anti-joins history digests, then keep-first") {
    val history = Seq((0L, base), (1L, "old unique document text")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "THE QUICK  brown fox " + base.drop(20)), // normalized dup of history → dropped
      (11L, base + " with a genuinely new tail"),     // different content → kept
      (12L, "fresh new batch document"),              // new → kept
      (13L, "fresh  NEW batch DOCUMENT"),             // normalized dup of 12 within batch → dropped
    ).toDF("doc_id", "text")
    val kept = Dedup.exactDedupIncrement(batch, history, "text", "doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L))
  }

  test("incremental near-dup: batch vs signature history, history pairs excluded") {
    val hist = Dedup.minHashSignatures(docs.filter($"doc_id" <= 2), "text", "doc_id",
      numHashes = 128)
    val batch = Dedup.minHashSignatures(docs.filter($"doc_id" >= 3), "text", "doc_id",
      numHashes = 128)
    val got = Dedup.minHashNearDupsIncremental(batch, hist,
        numHashes = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 3 near-dups the whole history cluster {0,1,2}; 4 and 5 match nothing
    assert(got.keySet == Set((0L, 3L), (1L, 3L), (2L, 3L)))
    assert(got((0L, 3L)) > 0.5 && got((0L, 3L)) <= 1.0)
    // identical docs agree on every signature component
    val sigs = hist.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) == sigs(1L))
  }

  test("decontamination: n-gram overlap with a benchmark flags only true overlaps") {
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val counts = TextOps.contaminationCounts(docs, bench, "text", "doc_id", n = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_overlap")).toMap
    // 0,1 are the benchmark text itself; 3 contains it verbatim (all its
    // 8-grams); 2 shares all but the windows spanning the edited word;
    // 4,5 share none
    assert(counts.keySet == Set(0L, 1L, 2L, 3L))
    assert(counts(0L) == counts(1L) && counts(3L) == counts(0L))
    assert(counts(2L) < counts(0L) && counts(2L) > 0)
    val clean = TextOps.decontaminate(docs, bench, "text", "doc_id", n = 8)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(4L, 5L))
    // a higher floor readmits the partial overlap but not verbatim content
    val lax = TextOps.decontaminate(docs, bench, "text", "doc_id", n = 8,
      minOverlap = counts(0L).toInt)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(lax == Set(2L, 4L, 5L))
  }

  test("sequence packing fills the budget and is layout-deterministic") {
    // 40 docs × 100 tokens → 2 chunks of 50 each; budget 100 = 2 chunks,
    // so every sequence in every pack stream totals exactly 100 tokens
    val corpus = (0L until 40L).map(i => (i, ("tok " * 100).trim)).toDF("doc_id", "text")
    val chunks = TextOps.chunkTokens(corpus, "text", "doc_id", chunkSize = 50)
    val packed = TextOps.packChunks(chunks, "doc_id", budget = 100, groups = 4, salt = "t")
    val seqTotals = packed.groupBy($"pack_group", $"seq_idx")
      .agg(sum($"n_tokens").as("t")).collect().map(_.getAs[Long]("t"))
    assert(seqTotals.nonEmpty && seqTotals.forall(_ == 100L))
    // identical output regardless of the input partition layout
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"chunk_idx", $"pack_group", $"seq_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(rows(packed) ==
      rows(TextOps.packChunks(chunks.repartition(13), "doc_id", 100, 4, "t")))
    // budget NOT a multiple of the chunk size: overrun bounded by one chunk
    val odd = TextOps.packChunks(chunks, "doc_id", budget = 120, groups = 2, salt = "t")
      .groupBy($"pack_group", $"seq_idx").agg(sum($"n_tokens").as("t"))
      .collect().map(_.getAs[Long]("t"))
    assert(odd.forall(_ <= 120 + 50))
  }

  test("corpus profile: per-language counts and exact percentiles") {
    val corpus = Seq(
      (0L, "the a"), (1L, "the a b"), (2L, "the a b c"), // en: 2,3,4 tokens
      (3L, "zzz"),                                       // und: 1 token
    ).toDF("doc_id", "text")
    val got = TextOps.corpusProfile(corpus, "text").collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(got.keySet == Set("en", "und"))
    assert(got("en").getAs[Long]("n_docs") == 3)
    assert(got("en").getAs[Double]("avg_tokens") == 3.0)
    assert(got("en").getAs[Double]("p50_tokens") == 3.0)
    // linear interpolation: h = (3-1)*0.9 = 1.8 → 3 + 0.8*(4-3)
    assert(got("en").getAs[Double]("p90_tokens") == 3.8)
    assert(got("en").getAs[Int]("max_tokens") == 4)
    assert(got("und").getAs[Long]("n_docs") == 1)
  }

  test("as-of join: latest at-or-before right row per left row, null when none") {
    val l = Seq((1L, 5L, "a"), (1L, 10L, "b"), (2L, 3L, "c")).toDF("k", "t", "tag")
    val r = Seq((1L, 4L, 40.0), (1L, 10L, 100.0), (2L, 9L, 90.0)).toDF("k", "t", "v")
    def run(lf: org.apache.spark.sql.DataFrame, rf: org.apache.spark.sql.DataFrame) =
      Joins.asofJoin(lf, rf, "k", "t", "v")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2),
          Option(x.get(3)), Option(x.get(4)))).toSet
    val got = run(l, r)
    assert(got == Set(
      (1L, 5L, "a", Some(40.0), Some(4L)),
      (1L, 10L, "b", Some(100.0), Some(10L)), // inclusive at equal ts
      (2L, 3L, "c", None, None)))             // no prior right row
    // identical output on any partition layout
    assert(run(l.repartition(7), r.repartition(5)) == got)
  }

  test("as-of join: several value columns ride one struct carry") {
    val l = Seq((1L, 5L, "a"), (1L, 10L, "b"), (2L, 3L, "c")).toDF("k", "t", "tag")
    val r = Seq((1L, 4L, 40.0, "x"), (1L, 10L, 100.0, "y"), (2L, 9L, 90.0, "z"))
      .toDF("k", "t", "v", "w")
    val got = Joins.asofJoin(l, r, "k", "t", Seq("v", "w"), prefix = "asof_")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2),
        Option(x.get(3)), Option(x.get(4)), Option(x.get(5)))).toSet
    assert(got == Set(
      (1L, 5L, "a", Some(40.0), Some("x"), Some(4L)),
      (1L, 10L, "b", Some(100.0), Some("y"), Some(10L)),
      (2L, 3L, "c", None, None, None)))
    // both carried columns come from the SAME matched right row even when
    // one of them is null there (the struct carries them atomically — a
    // per-column last(ignoreNulls) would mix rows)
    val rNull = Seq((1L, 4L, 40.0, "x"), (1L, 8L, 80.0, null)).toDF("k", "t", "v", "w")
    val atomic = Joins.asofJoin(
        Seq((1L, 9L)).toDF("k", "t"), rNull, "k", "t", Seq("v", "w"), "asof_")
      .collect().map(x => (Option(x.get(2)), Option(x.get(3)))).toSet
    assert(atomic == Set((Some(80.0), None)))
    // tsCol in valueCols is a loud error, not a duplicate output column
    assertThrows[IllegalArgumentException] {
      Joins.asofJoin(l, r, "k", "t", Seq("v", "t"), "asof_")
    }
  }

  test("as-of join: one pathological hot key stays linear (straggler, not blow-up)") {
    // 20k left + 20k right rows ALL on one key: the window funnels them
    // through one task, but the work is sort + one carry pass — if the
    // plan ever regressed to a range-join pairing (quadratic: 4e8 pairs),
    // this would not complete in test time
    val n = 20000
    val hotL = (0 until n).map(i => (1L, i.toLong * 2)).toDF("k", "t")
    val hotR = (0 until n).map(i => (1L, i.toLong * 2 + 1, i.toDouble)).toDF("k", "t", "v")
    val out = Joins.asofJoin(hotL, hotR, "k", "t", "v")
    assert(out.count() == n)
    // spot-check the carry: left t=2i matches right t=2i-1 → v=i-1
    val sample = out.filter(col("t") === 2000L).collect().head
    assert(sample.getAs[Double]("asof_v") == 999.0)
  }

  test("degenerate-bucket guard fails loud on a pathological all-identical corpus") {
    // 120 byte-identical documents: every (band, bucket) holds all 120
    // rows, so the unguarded self-join is quadratic in the clone count
    val clone = "the same exact document text repeated verbatim over and over again"
    val clones = (0L until 120L).map(i => (i, clone)).toDF("doc_id", "text")
    // default cap (10k) leaves them alone: all C(120,2) true pairs emerge
    val unguarded = Dedup.minHashNearDups(clones, "text", "doc_id",
      numHashes = 32, bands = 8, threshold = 0.5)
    assert(unguarded.count() == 120L * 119 / 2)
    // a tight cap under which EVERY bucket is over-full is a configuration
    // error: an empty pair set would be silent data loss, so the guard
    // fails loud with the dials instead of returning nothing
    val ex = intercept[IllegalArgumentException] {
      Dedup.minHashNearDups(clones, "text", "doc_id",
        numHashes = 32, bands = 8, threshold = 0.5, maxBucketSize = 50).count()
    }
    assert(ex.getMessage.contains("EVERY bucket exceeds"))
    // the guard does not disturb a healthy corpus
    val healthy = Dedup.minHashNearDups(docs, "text", "doc_id",
      numHashes = 128, bands = 32, threshold = 0.5, maxBucketSize = 50)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val default = Dedup.minHashNearDups(docs, "text", "doc_id",
      numHashes = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(healthy == default)
  }

  test("degenerate-bucket guard drops only the over-full buckets of a mixed corpus") {
    // clone block (over-full in every band at cap 50) + the healthy docs
    // fixture (tiny buckets): the partial-drop branch must bound the clone
    // blow-up while leaving the healthy pairs untouched — and NOT trip the
    // all-overfull fail-loud path, because healthy buckets exist
    val clone = "the same exact document text repeated verbatim over and over again"
    val clones = (100L until 220L).map(i => (i, clone))
    val healthyDocs = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val mixed = (clones ++ healthyDocs).toDF("doc_id", "text")
    val guarded = Dedup.minHashNearDups(mixed, "text", "doc_id",
      numHashes = 128, bands = 32, threshold = 0.5, maxBucketSize = 50)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // no clone-clone pair survives (all their buckets were dropped)
    assert(guarded.forall { case (a, b) => a < 100L && b < 100L })
    // every healthy pair from the unmixed default run is preserved
    val default = Dedup.minHashNearDups(docs, "text", "doc_id",
      numHashes = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(guarded == default)
  }

  test("srp_bands native loop is bit-identical to the per-table srpBucket tree") {
    // the fused expression replaces tables × planes inlined vec_dot
    // literal trees (which fell out of codegen at the sf10 configs);
    // correctness bar: EXACTLY the same buckets, including the null/shape
    // edge semantics the bucket joins rely on
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 200L)
      .map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val (planes, tables) = (7, 5)
    val native = vecs.select($"vec_id",
        posexplode(graft.functions.GraftFunctions.srpBands($"embedding", planes, tables, 16))
          .as(Seq("table", "bucket")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val tree = (0 until tables).flatMap { t =>
      vecs.select($"vec_id", lit(t).as("table"),
          graft.ops.Similarity.srpBucket($"embedding", planes, dims = 16, table = t).as("bucket"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    }.toSet
    assert(native.size == 200 * tables)
    assert(native == tree)
    // shape/null edges: wrong length and NaN vanish entirely (the tree
    // form nulled every per-table bucket, which the joins then dropped)
    val edgy = Seq(
      (0L, Array(1.0f, 2.0f)),                        // wrong length
      (1L, Array.fill(16)(Float.NaN)),                // NaN poisons the dots
      (2L, Array.fill(16)(0.5f)),                     // healthy
    ).toDF("vec_id", "embedding")
    val got = edgy.select($"vec_id",
        posexplode(graft.functions.GraftFunctions.srpBands($"embedding", planes, tables, 16))
          .as(Seq("table", "bucket")))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L))
  }

  test("lshTopK degenerate-bucket guard drops over-full corpus buckets") {
    val clones = (0L until 100L).map(i => (i, Array(1.0f, 0.2f, 0.1f)))
      .toDF("vec_id", "embedding")
    val probes = clones.filter($"vec_id" < 2)
    val full = Similarity.lshTopK(clones, probes, "embedding", "vec_id",
      k = 3, planes = 2, tables = 2)
    assert(full.count() == 6) // 2 probes × k
    // identical vectors share every bucket: 100 > cap → dropped → no
    // candidates (bounded), instead of 100 rows joined per probe
    val guarded = Similarity.lshTopK(clones, probes, "embedding", "vec_id",
      k = 3, planes = 2, tables = 2, maxBucketSize = 10)
    assert(guarded.count() == 0)
  }

  test("ngram jaccard near-dups at tight threshold keep only true dups") {
    val pairs = Dedup.ngramJaccardNearDups(docs, "text", "doc_id", n = 3, threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.999f, 0.04f, 0.0f)),  // nearly 0
    (2L, Array(0.0f, 1.0f, 0.0f)),     // orthogonal to 0
    (3L, Array(0.7f, 0.7f, 0.14f)),    // between
    (4L, Array(1.0f, 0.0f, 0.0f)),     // exact dup of 0
  ).toDF("vec_id", "embedding")

  test("brute-force cosine top-k ranks by true cosine") {
    val probes = vecs.filter($"vec_id" === 0L)
    val got = Similarity.bruteForceTopK(vecs, probes, "embedding", "vec_id", k = 3)
      .orderBy($"rank").collect()
    assert(got.map(_.getAs[Long]("neighbor_id")).toList == List(4L, 1L, 3L))
    assert(got.head.getAs[Double]("cosine") == 1.0)
  }

  test("LSH top-k finds the exact duplicate (same bucket by construction)") {
    val probes = vecs.filter($"vec_id" === 0L)
    val got = Similarity.lshTopK(vecs, probes, "embedding", "vec_id", k = 3, planes = 8)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(got.contains(4L))
  }

  test("multi-table LSH recall dominates single-table; no duplicate slots") {
    val probes = vecs.filter($"vec_id" < 2L)
    val exact = Similarity.bruteForceTopK(vecs, probes, "embedding", "vec_id", k = 3)
    def recall(tables: Int): Double =
      Similarity.recallAtK(exact,
        Similarity.lshTopK(vecs, probes, "embedding", "vec_id", k = 3,
          planes = 4, tables = tables))
        .collect().head.getAs[Double]("recall")
    assert(recall(8) >= recall(1))
    // a neighbor found by several tables must appear once, not k times
    val multi = Similarity.lshTopK(vecs, probes, "embedding", "vec_id", k = 3,
      planes = 4, tables = 8).collect()
    val pairs = multi.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id")))
    assert(pairs.distinct.length == pairs.length)
  }

  test("IVF top-k finds the exact duplicate; nprobe=nlist equals brute force") {
    val probes = vecs.filter($"vec_id" === 0L)
    val ivf = Similarity.ivfTopK(vecs, probes, "embedding", "vec_id", k = 3,
      nlist = 2, nprobe = 1)
    assert(ivf.collect().map(_.getAs[Long]("neighbor_id")).contains(4L))
    // searching every cell must reproduce the exact result
    val all = Similarity.ivfTopK(vecs, probes, "embedding", "vec_id", k = 3,
      nlist = 2, nprobe = 2)
      .orderBy($"rank").collect().map(_.getAs[Long]("neighbor_id")).toList
    val exact = Similarity.bruteForceTopK(vecs, probes, "embedding", "vec_id", k = 3)
      .orderBy($"rank").collect().map(_.getAs[Long]("neighbor_id")).toList
    assert(all == exact)
  }

  test("PQ: encode deterministic, exact dup shares the code, top-k finds it") {
    // 8-dim vectors in two planted clusters + an exact dup of the probe
    val pv = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f)
                 else Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f)
      (i, base.zipWithIndex.map { case (x, d) =>
        x + 0.05f * math.sin(i * 13.0 + d).toFloat })
    }.toDF("vec_id", "embedding")
    val dup = Seq((100L, pv.filter($"vec_id" === 0L)
      .collect().head.getSeq[Float](1).toArray)).toDF("vec_id", "embedding")
    val all = pv.union(dup)
    val cb = Similarity.trainPq(all, "embedding", "vec_id", m = 4, ksub = 4)
    val codes = Similarity.pqEncode(all, "embedding", "vec_id", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.size == 41 && codes.values.forall(_.length == 4))
    assert(codes(0L) == codes(100L)) // identical vectors, identical codes
    // re-encoding is deterministic
    val again = Similarity.pqEncode(all.repartition(7), "embedding", "vec_id", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(again == codes)
    // the exact dup tops the probe's neighbors after re-rank
    val top = Similarity.pqTopK(cb, all, all.filter($"vec_id" === 0L),
        "embedding", "vec_id", k = 3, rerank = 4)
      .orderBy($"rank").collect()
    assert(top.head.getAs[Long]("neighbor_id") == 100L)
    assert(top.head.getAs[Double]("cosine") == 1.0)
    // same-cluster neighbors fill the remaining slots
    assert(top.tail.forall(_.getAs[Long]("neighbor_id") % 2 == 0))
  }

  test("PQ encode/ADC fail loudly on dimension/codebook mismatches") {
    // mixed-dimension corpora are tolerated elsewhere (groupCentroids),
    // but against a PQ codebook an out-of-range UnsafeArrayData read
    // returns garbage SILENTLY — the guards turn that into an error
    val pv = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => math.cos(i * 31.0 + d).toFloat))).toDF("id", "v")
    val cb = Similarity.trainPq(pv, "v", "id", m = 4, ksub = 4)
    val short = Seq((0L, Array(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    val eShort = intercept[Exception] {
      Similarity.pqEncode(short, "v", "id", cb).collect()
    }
    assert(exceptionChain(eShort).exists(_.getMessage != null) &&
      exceptionChain(eShort).exists(m => Option(m.getMessage).exists(
        _.contains("codebook dim"))))
    // an ADC probe against codes built with a different m
    graft.functions.GraftFunctions.register(spark)
    val luts = typedLit(Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))   // m = 2
    val badCode = typedLit(Seq(0, 1, 0))                     // m = 3 code
    val eAdc = intercept[Exception] {
      spark.range(1).select(
        graft.functions.GraftFunctions.pqAdc(luts, badCode)).collect()
    }
    assert(exceptionChain(eAdc).exists(m => Option(m.getMessage).exists(
      _.contains("different codebook"))))
    val oobCode = typedLit(Seq(0, 5))                        // ksub overflow
    val eOob = intercept[Exception] {
      spark.range(1).select(
        graft.functions.GraftFunctions.pqAdc(luts, oobCode)).collect()
    }
    assert(exceptionChain(eOob).exists(m => Option(m.getMessage).exists(
      _.contains("different ksub"))))
  }

  private def exceptionChain(e: Throwable): List[Throwable] =
    e :: Option(e.getCause).map(exceptionChain).getOrElse(Nil)

  test("IVF-PQ finds the planted duplicate through cell pruning + ADC") {
    val pv = (0L until 60L).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f)
                 else Array(0f, 1f, 0f, 1f, 0f, 1f, 0f, 1f)
      (i, base.zipWithIndex.map { case (x, d) =>
        x + 0.05f * math.sin(i * 17.0 + d).toFloat })
    }.toDF("vec_id", "embedding")
    val dup = Seq((100L, pv.filter($"vec_id" === 0L)
      .collect().head.getSeq[Float](1).toArray)).toDF("vec_id", "embedding")
    val all = pv.union(dup)
    val ivf = Similarity.trainIvf(all, "embedding", "vec_id", nlist = 2)
    val cb = Similarity.trainPq(all, "embedding", "vec_id", m = 4, ksub = 4)
    val top = Similarity.ivfPqTopK(ivf, cb, all, all.filter($"vec_id" === 0L),
        "embedding", "vec_id", k = 3, nprobe = 1, rerank = 4)
      .orderBy($"rank").collect()
    // the identical vector lands in the probe's own cell and tops the list
    assert(top.head.getAs[Long]("neighbor_id") == 100L)
    assert(top.head.getAs[Double]("cosine") == 1.0)
    assert(top.tail.forall(_.getAs[Long]("neighbor_id") % 2 == 0))
  }

  test("SQ int8 quantization: bounded error, round-trip params, planted-dup search") {
    graft.functions.GraftFunctions.register(spark)
    val pv = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(d => math.cos(i * 31.0 + d).toFloat))).toDF("id", "v")
    val p = Similarity.trainSq(pv, "v", normalize = false)
    assert(p.dim == 8)
    // dequantize(quantize(x)) is within half a quantization step per dim
    val err = pv.select(
        zip_with(Similarity.sqDequantizeCol(
            Similarity.sqQuantizeCol($"v", p), p),
          $"v".cast("array<double>"), (a, b) => abs(a - b)).as("e"))
      .select(explode($"e").as("e")).agg(max($"e")).collect().head.getDouble(0)
    val maxHalfStep = p.widths.max / 2 + 1e-12
    assert(err <= maxHalfStep, s"quantization error $err > half step $maxHalfStep")
    // params persistence round-trip
    val path = tempDir("sq") + "/params"
    Similarity.saveSq(p, spark, path)
    val back = Similarity.loadSq(spark, path)
    assert(back.mins.toSeq == p.mins.toSeq && back.maxs.toSeq == p.maxs.toSeq)
    // search: the planted exact duplicate tops the probe's neighbors
    val dup = Seq((100L, pv.filter($"id" === 0L)
      .collect().head.getSeq[Float](1).toArray)).toDF("id", "v")
    val all = pv.union(dup)
    val pn = Similarity.trainSq(all, "v", normalize = true)
    val top = Similarity.sqTopK(pn, all, all.filter($"id" === 0L),
        "v", "id", k = 3, rerank = 4)
      .orderBy($"rank").collect()
    assert(top.head.getAs[Long]("neighbor_id") == 100L)
    assert(top.head.getAs[Double]("cosine") == 1.0)
  }

  test("linear score: length-invariant mean pooling, bias-only at zero weights, null on empty") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (0L, "alpha beta alpha beta"),
      (1L, "alpha beta"),
      (2L, "???"), // tokenless after the [a-z0-9] split
      (3L, "gamma delta epsilon"),
    ).toDF("doc_id", "text")
    val w = Array.tabulate(64)(d => d % 7 - 3)
    val scored = df.select($"doc_id",
      Embeddings.linearScore($"text", w, scale = 10.0, bias = 0.05).as("s"))
      .orderBy($"doc_id").collect()
    // mean pooling: doubling the bag leaves the score unchanged
    assert(scored(0).getDouble(1) == scored(1).getDouble(1))
    // tokenless text scores NULL, not 0
    assert(scored(2).isNullAt(1))
    // zero weights collapse every tokenful score to the bias
    val zeroed = df.filter($"doc_id" =!= 2L).select(
      Embeddings.linearScore($"text", Array.fill(64)(0), scale = 10.0, bias = 0.25).as("s"))
      .collect()
    assert(zeroed.forall(_.getDouble(0) == 0.25))
    // weight length must match dim
    intercept[IllegalArgumentException] {
      Embeddings.linearScore($"text", Array.fill(8)(1), scale = 1.0, bias = 0.0)
    }
  }

  test("rocchio training separates planted vocabularies; trained weights feed linearScore") {
    graft.functions.GraftFunctions.register(spark)
    val docs = Seq(
      (0L, "good solid quality prose here", true),
      (1L, "good quality here again prose", true),
      (2L, "spam junk noise garbage filler", false),
      (3L, "junk spam filler noise noise", false),
    ).toDF("doc_id", "text", "label")
    val wdf = Embeddings.trainLinearWeights(docs, "text", $"label", dim = 64)
    val rows = wdf.orderBy($"bucket").collect()
    assert(rows.length == 64 && rows.map(_.getInt(0)).toSeq == (0 until 64))
    val w = new Array[Int](64)
    rows.foreach(r => w(r.getInt(0)) = r.getInt(1))
    // the trained model must rank held-in class members on the right sides
    val scored = docs.select($"doc_id", $"label",
      Embeddings.linearScore($"text", w, scale = 1000.0, bias = 0.0).as("s"))
      .collect().map(r => (r.getBoolean(1), r.getDouble(2)))
    assert(scored.forall { case (pos, s) => if (pos) s > 0 else s < 0 })
    // null labels are excluded from training entirely
    val withNull = docs.union(
      Seq((9L, "good quality", Option.empty[Boolean])).toDF("doc_id", "text", "label"))
    val w2 = Embeddings.trainLinearWeights(withNull, "text", $"label", dim = 64)
      .orderBy($"bucket").collect().map(_.getInt(1))
    assert(w2.toSeq == rows.map(_.getInt(1)).toSeq)
    // an absent class yields null weights, loudly detectable
    val oneClass = Embeddings.trainLinearWeights(
      docs.filter($"label"), "text", $"label").collect()
    assert(oneClass.forall(_.isNullAt(1)))
    // persistence round-trip: the loaded model scores identically
    val dir = tempDir("linw") + "/w"
    Embeddings.saveLinearWeights(wdf, dir)
    val loaded = Embeddings.loadLinearWeights(spark, dir)
    assert(loaded.toSeq == w.toSeq)
    // null weights refuse to persist (loud lifecycle, not a zeroed model)
    intercept[Exception] {
      Embeddings.saveLinearWeights(
        Embeddings.trainLinearWeights(docs.filter($"label"), "text", $"label"),
        dir + "2")
    }
  }

  test("logistic training refuses dim > 512 up front, naming the limit and the cause") {
    // callers with dim > 512 worked before the cap and now fail here,
    // before any job runs: the gradient is one aggregate with dim+1 buffers
    val docs = Seq((0L, "good prose", true)).toDF("doc_id", "text", "label")
    val e = intercept[IllegalArgumentException] {
      Embeddings.trainLogisticWeights(docs, "text", $"label", dim = 513)
    }
    assert(e.getMessage == "requirement failed: trainLogisticWeights supports dim <= 512 " +
      "(got 513): the shuffle-free gradient builds dim+1 aggregate buffers in one operator")
  }

  test("logistic training registers its own session functions: it trains on a fresh session") {
    // a new session has its own function registry, empty of graft's
    // natives; the operator must not depend on a caller registering them
    val fresh = spark.newSession()
    val docs = fresh.createDataFrame(Seq(
      (0L, "good solid quality prose", true),
      (1L, "spam junk noise filler", false),
    )).toDF("doc_id", "text", "label")
    val w = Embeddings.trainLogisticWeights(docs, "text", col("label"), dim = 8, epochs = 2)
      .collect()
    assert(w.map(_.getInt(0)).sorted.toSeq == (-1 until 8))
  }

  test("semantic dedup: planted tight clusters found via cells, keep-first keeps min id") {
    // two tight clusters of near-identical vectors + isolated noise: the
    // within-cluster pairs sit far above the threshold, the cross-cluster
    // and noise pairs far below, so k-means separates them and the exact
    // within-cell cosine keeps exactly the planted pairs
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Double], eps: Double): Array[Float] =
      base.map(x => (x + rnd.nextGaussian() * eps).toFloat)
    val c1 = Array.fill(8)(1.0) // cluster around (1,1,...)
    val c2 = Array.tabulate(8)(d => if (d % 2 == 0) 1.0 else -1.0)
    val rows =
      (0L until 4L).map(i => (i, jitter(c1, 0.01))) ++
        (10L until 14L).map(i => (i, jitter(c2, 0.01))) ++
        Seq((100L, jitter(Array.tabulate(8)(d => math.sin(d * 2.3 + 1)), 0.01)))
    val df = rows.toDF("id", "v")
    val pairs = Dedup.semanticDedup(df, "v", "id", nClusters = 3, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val within = (for (a <- 0L until 4L; b <- a + 1 until 4L) yield (a, b)).toSet ++
      (for (a <- 10L until 14L; b <- a + 1 until 14L) yield (a, b)).toSet
    assert(pairs == within)
    // keep-first: one representative (min id) per cluster + the noise row
    val kept = Dedup.semanticDedupKeepFirst(df, "v", "id", nClusters = 3, threshold = 0.99)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 10L, 100L))
  }

  test("threshold sweep: hand-computed confusion per cutoff, nulls excluded") {
    val df = Seq(
      (true, Some(0.9)), (true, Some(0.6)), (true, Some(0.2)),
      (false, Some(0.8)), (false, Some(0.1)),
      (true, None), // null score drops
    ).toDF("label", "score")
    val got = Stats.thresholdSweep(df, $"label", $"score", Seq(0.0, 0.5, 1.0))
      .collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        Option(r.get(6)).map(_.asInstanceOf[Double]),
        Option(r.get(7)).map(_.asInstanceOf[Double])))).toMap
    // t=0.0: everything predicted positive
    assert(got(0.0) == ((3L, 2L, 0L, 0L, Some(0.6), Some(1.0))))
    // t=0.5: tp {0.9,0.6}, fp {0.8}, fn {0.2}, tn {0.1}
    assert(got(0.5) == ((2L, 1L, 1L, 1L, Some(0.666667), Some(0.666667))))
    // t=1.0: nothing predicted positive → precision undefined (null)
    assert(got(1.0) == ((0L, 0L, 3L, 2L, None, Some(0.0))))
  }

  test("ROC-AUC: hand-computed U statistic with ties, degenerate classes null") {
    // pairs: (.9 vs .5) win, (.9 vs .1) win, (.5 vs .5) tie=0.5,
    // (.5 vs .1) win → U = 3.5 of 4 → AUC 0.875
    val df = Seq(
      (true, Some(0.9)), (true, Some(0.5)),
      (false, Some(0.5)), (false, Some(0.1)),
      (true, None), // null score drops
    ).toDF("label", "score")
    val r = Stats.rocAuc(df, $"label", $"score").collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((2L, 2L, 0.875)))
    // perfect separation → 1.0; inverted → 0.0
    val sep = Seq((true, 0.9), (true, 0.8), (false, 0.2)).toDF("label", "score")
    assert(Stats.rocAuc(sep, $"label", $"score").collect().head.getDouble(2) == 1.0)
    assert(Stats.rocAuc(sep, !$"label", $"score").collect().head.getDouble(2) == 0.0)
    // single-class input: AUC undefined (null), counts still reported
    val one = Seq((true, 0.9), (true, 0.1)).toDF("label", "score")
    assert(Stats.rocAuc(one, $"label", $"score").collect().head.isNullAt(2))
  }

  test("average precision: hand-computed step integral, perfect and null cases") {
    // desc ranking: .9(+) P=1 → .8(−) → .5(+) P=2/3 ⇒ AP = (1 + 2/3)/2
    val df = Seq(
      (true, 0.9), (false, 0.8), (true, 0.5), (false, 0.1),
    ).toDF("label", "score")
    val r = Stats.averagePrecision(df, $"label", $"score").collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((2L, 2L, 0.833333)))
    val sep = Seq((true, 0.9), (false, 0.2)).toDF("label", "score")
    assert(Stats.averagePrecision(sep, $"label", $"score")
      .collect().head.getDouble(2) == 1.0)
    val none = Seq((false, 0.9)).toDF("label", "score")
    assert(Stats.averagePrecision(none, $"label", $"score")
      .collect().head.isNullAt(2))
  }

  test("funnel: strict order, greedy anchor, window cutoff, reverse-cumulative report") {
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, ts(1), "signup"), (1L, ts(2), "view"), (1L, ts(3), "click"), (1L, ts(4), "purchase"),
      // user 2: view BEFORE signup and none after → stalls at stage 1
      (2L, ts(1), "view"), (2L, ts(2), "signup"), (2L, ts(3), "click"),
      // user 3: view at the SAME instant as signup → strict > rejects it
      (3L, ts(1), "signup"), (3L, ts(1), "view"), (3L, ts(2), "purchase"),
      // user 4: never signs up
      (4L, ts(1), "view"), (4L, ts(2), "click"),
    ).toDF("user_id", "ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val steps = Seq("signup", "view", "click", "purchase")
    val stages = graft.streaming.EventStream.funnelStages(ev, steps)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stages == Map(1L -> 4, 2L -> 1, 3L -> 1, 4L -> 0))
    val report = graft.streaming.EventStream.funnel(ev, steps)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(report == Set((1, "signup", 3L), (2, "view", 1L),
      (3, "click", 1L), (4, "purchase", 1L)))
    // 15-minute window: user 5 signs up, views at +10, clicks at +20 →
    // greedy anchor at signup, click falls outside → stage 2
    val ev5 = Seq((5L, ts(0), "signup"), (5L, ts(10), "view"), (5L, ts(20), "click"))
      .toDF("user_id", "ts", "event_type")
    val s5 = graft.streaming.EventStream.funnelStages(ev5, steps,
      withinMinutes = Some(15L)).collect().head.getInt(1)
    assert(s5 == 2)
  }

  test("approx source overlap: planted shared set within the emitted bound") {
    // X = docs 0-599, Y = docs 300-899 → true shared 300, union 900
    val planted = ((0 until 600).map(i => ("X", s"document number $i body")) ++
      (300 until 900).map(i => ("Y", s"document number $i body")))
      .toDF("source", "text")
    val rows = Dedup.crossSourceOverlapApprox(planted, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(5), r.getDouble(6), r.getLong(4)))).toMap
    val (sharedXY, boundXY, unionXY) = rows(("X", "Y"))
    assert(math.abs(sharedXY - 300L) <= boundXY, s"$sharedXY vs 300 ± $boundXY")
    assert(math.abs(unionXY - 900L) <= boundXY)
    val (sharedXX, _, _) = rows(("X", "X"))
    assert(math.abs(sharedXX - 600L) <= 0.05 * 600 + 1)
    // matches the exact twin's pair universe semantics (exact drops
    // nothing here — every pair overlaps or is a diagonal)
    val exact = Dedup.crossSourceOverlap(planted, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(exact(("X", "Y")) == 300L && exact(("X", "X")) == 600L)
  }

  test("retention: first-event cohorts, distinct active days, offset bounds") {
    def ts(day: Int, h: Int = 1) =
      java.sql.Timestamp.valueOf(f"2024-01-${day}%02d $h%02d:00:00")
    val ev = Seq(
      // user 1: signs up day 1, active days 1, 2, 2 (dup), 5
      (1L, ts(1), "signup"), (1L, ts(2), "view"), (1L, ts(2, 9), "click"), (1L, ts(5), "view"),
      // user 2: signs up day 1, never returns
      (2L, ts(1), "signup"),
      // user 3: active day 1 BEFORE signing up day 2 — negative offset drops
      (3L, ts(1), "view"), (3L, ts(2), "signup"), (3L, ts(3), "view"),
      // user 4: no signup → no cohort
      (4L, ts(1), "view"),
    ).toDF("user_id", "ts", "event_type")
    val got = graft.streaming.EventStream.retention(ev, "signup", maxDays = 7)
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(("2024-01-01", 0)) == ((2L, 2L))) // users 1+2 on cohort day
    assert(got(("2024-01-01", 1)) == ((1L, 2L))) // only user 1 returns
    assert(got(("2024-01-01", 4)) == ((1L, 2L)))
    assert(got(("2024-01-02", 0)) == ((1L, 1L))) // user 3's cohort
    assert(got(("2024-01-02", 1)) == ((1L, 1L)))
    assert(!got.contains(("2024-01-01", 2))) // no activity → no row
    assert(got.keys.forall(_._2 >= 0)) // pre-signup activity dropped
  }

  test("paragraph dedup: global first occurrence survives, docs reassemble in order") {
    val df = Seq(
      (0L, "unique alpha\nSHARED FOOTER\nunique beta"),
      (1L, "unique gamma\nshared footer\n\nunique delta"), // dup footer (case), blank para
      (2L, "shared   footer"), // whitespace-normalized dup, whole doc
      (3L, "unique epsilon"),
    ).toDF("doc_id", "text")
    def run() = Dedup.paragraphDedup(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val got = run()
    // a second construction over the same frame gives identical rows
    assert(run() == got)
    // doc 0 owns the first occurrence of the footer — nothing removed
    assert(got(0L) == (("unique alpha\nSHARED FOOTER\nunique beta", 3L, 0L)))
    // doc 1 loses its footer but keeps the blank separator paragraph
    assert(got(1L) == (("unique gamma\n\nunique delta", 3L, 1L)))
    // doc 2 was ONLY the footer: row survives with empty text
    assert(got(2L) == (("", 0L, 1L)))
    assert(got(3L) == (("unique epsilon", 1L, 0L)))
  }

  test("paragraph dedup: NULL text keeps its row (treated as empty text)") {
    val df = Seq(
      (0L, Some("shared\nonly")),
      (1L, None), // NULL text must NOT vanish from the output
      (2L, Some("shared")),
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(0L, 1L, 2L))
    assert(got(0L) == (("shared\nonly", 2L, 0L)))
    assert(got(1L) == (("", 1L, 0L))) // one blank paragraph, kept
    assert(got(2L) == (("", 0L, 1L)))
  }

  test("incremental paragraph dedup matches the full pass restricted to the batch") {
    val history = Seq(
      (0L, "unique alpha\nSHARED FOOTER\nunique beta"),
      (1L, "unique gamma\nshared footer"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "fresh zeta\nshared footer\nfresh eta"),   // footer from history drops
      (11L, "batch-local dup\nfresh theta"),
      (12L, "batch-local dup\n\nfresh iota"),          // in-batch first-occurrence
    ).toDF("doc_id", "text")
    val inc = Dedup.paragraphDedupIncrement(batch,
        Dedup.paragraphDigests(history, "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(inc(10L) == (("fresh zeta\nfresh eta", 2L, 1L)))
    assert(inc(11L) == (("batch-local dup\nfresh theta", 2L, 0L)))
    assert(inc(12L) == (("\nfresh iota", 2L, 1L))) // blank kept, dup dropped
    // parity: equals the full-corpus pass restricted to batch docs
    // (history ids precede batch ids)
    val full = Dedup.paragraphDedup(history.union(batch), "text", "doc_id")
      .filter($"doc_id" >= 10L)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(inc == full)
    // streaming twin (on a batch frame): surviving paragraph rows are
    // exactly the anti-join of batch paragraphs vs the history store
    val streamed = Dedup.paragraphDedupStream(batch,
        Dedup.paragraphDigests(history, "text"), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(streamed.map(_._1) == Set(10L, 11L, 12L))
    assert(!streamed.exists(_._3.toLowerCase.contains("shared footer")))
    assert(streamed.count(_._3 == "batch-local dup") == 2) // no in-stream dedup
  }

  test("D4 diversify: drops the per-cell most prototypical rows, keeps the spread") {
    // two planted clusters: a tight core (prototypical) + a spread tail
    // per cluster; dropping 50% per cell must drop the core rows first
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Double], eps: Double): Array[Float] =
      base.map(x => (x + rnd.nextGaussian() * eps).toFloat)
    val c1 = Array.fill(8)(1.0)
    val c2 = Array.tabulate(8)(d => if (d % 2 == 0) 1.0 else -1.0)
    def tilt(base: Array[Double], deg: Double): Array[Double] =
      base.zipWithIndex.map { case (x, i) => x + (if (i == 0) deg else 0.0) }
    val rows =
      // ids 0-2: core of cluster 1 (≈ centroid); ids 3-4: tilted tail
      (0L until 3L).map(i => (i, jitter(c1, 0.005))) ++
        Seq((3L, jitter(tilt(c1, 3.0), 0.005)), (4L, jitter(tilt(c1, -3.0), 0.005))) ++
        (10L until 13L).map(i => (i, jitter(c2, 0.005))) ++
        Seq((13L, jitter(tilt(c2, 3.0), 0.005)), (14L, jitter(tilt(c2, -3.0), 0.005)))
    val df = rows.toDF("id", "v")
    val index = Similarity.trainIvf(df, "v", "id", nlist = 2)
    val all = Dedup.prototypicality(df, "v", "id", index)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(all.length == 10)
    // both planted clusters land in distinct cells
    assert(all.filter(_._1 < 10L).map(_._2).distinct.length == 1)
    assert(all.filter(_._1 >= 10L).map(_._2).distinct.length == 1)
    assert(all.filter(_._1 < 10L).head._2 != all.filter(_._1 >= 10L).head._2)
    val kept = Dedup.diversify(df, "v", "id", index, dropFraction = 0.5)
      .collect().map(_.getLong(0)).toSet
    // ceil(0.5 × 5) = 3 dropped per cell → 2 kept per cell, and the
    // kept rows are the tilted tails (least prototypical)
    assert(kept == Set(3L, 4L, 13L, 14L), s"kept $kept")
    // dropFraction = 0 keeps everything
    assert(Dedup.diversify(df, "v", "id", index, dropFraction = 0.0).count() == 10)
    // the ceil quota is capped at cellN − 1: even a drastic fraction
    // thins cells down to one survivor, never deletes a cell outright
    assert(Dedup.diversify(df, "v", "id", index, dropFraction = 0.9).count() == 2)
  }

  test("incremental semantic dedup: batch vs celled history matches the full pass") {
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Double], eps: Double): Array[Float] =
      base.map(x => (x + rnd.nextGaussian() * eps).toFloat)
    val c1 = Array.fill(8)(1.0)
    val c2 = Array.tabulate(8)(d => if (d % 2 == 0) 1.0 else -1.0)
    val rows =
      (0L until 4L).map(i => (i, jitter(c1, 0.01))) ++
        (10L until 14L).map(i => (i, jitter(c2, 0.01))) ++
        Seq((100L, jitter(Array.tabulate(8)(d => math.sin(d * 2.3 + 1)), 0.01)))
    val df = rows.toDF("id", "v")
    val index = Similarity.trainIvf(df, "v", "id", nlist = 3)
    val hist = Dedup.semanticCells(index, df.filter($"id" < 10L), "v", "id", nProbe = 2)
    val batch = Dedup.semanticCells(index, df.filter($"id" >= 10L), "v", "id", nProbe = 2)
    val inc = Dedup.semanticDedupIncrement(index, batch, hist, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // parity: the full pass restricted to pairs touching >= 1 new row
    val newIds = (10L until 14L).toSet + 100L
    val full = Dedup.semanticDedupWithIndex(index, df, "v", "id",
        threshold = 0.99, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => newIds(p._1) || newIds(p._2))
    assert(inc == full && inc.nonEmpty)
    // a store built with a larger quantizer fails loudly, never mis-buckets
    val bad = hist.withColumn("cell", lit(99))
    intercept[Exception] {
      Dedup.semanticDedupIncrement(index, batch, bad).collect()
    }
  }

  test("binary quantization: sign codes, hamming, planted-dup search") {
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.GraftFunctions.{hammingDist, signPack}
    // pack/hamming basics on a hand-checkable frame: 65 dims → 2 words
    val hand = Seq(
      (0L, Array.tabulate(65)(d => if (d == 0 || d == 64) 1.0f else -1.0f)),
      (1L, Array.tabulate(65)(d => if (d == 0) 1.0f else -1.0f)),
    ).toDF("id", "v")
    val packed = hand.select($"id", signPack($"v").as("c"))
    val codes = packed.orderBy($"id").collect().map(_.getSeq[Long](1))
    assert(codes(0) == Seq(1L, 1L) && codes(1) == Seq(1L, 0L))
    val h = packed.as("a").crossJoin(packed.as("b"))
      .filter($"a.id" < $"b.id")
      .select(hammingDist($"a.c", $"b.c")).collect().head.getInt(0)
    assert(h == 1)
    // null element nulls the code; mismatched word counts null the distance
    val withNull = Seq((0L, Array(Option(1.0f), None))).toDF("id", "v")
    assert(withNull.select(signPack($"v")).collect().head.isNullAt(0))
    assert(spark.range(1)
      .select(hammingDist(array(lit(1L)), array(lit(1L), lit(2L))))
      .collect().head.isNullAt(0))
    // search: the planted exact duplicate tops the probe's neighbors
    val pv = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(d => math.cos(i * 31.0 + d).toFloat))).toDF("id", "v")
    val dup = Seq((100L, pv.filter($"id" === 0L)
      .collect().head.getSeq[Float](1).toArray)).toDF("id", "v")
    val all = pv.union(dup)
    val top = Similarity.bqTopK(all, all.filter($"id" === 0L),
        "v", "id", k = 3, rerank = 8)
      .orderBy($"rank").collect()
    assert(top.head.getAs[Long]("neighbor_id") == 100L)
    assert(top.head.getAs[Double]("cosine") == 1.0)
  }

  test("PQ codebooks save/load round-trip and encode identically") {
    val pv = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(d => math.cos(i * 31.0 + d).toFloat))).toDF("id", "v")
    val cb = Similarity.trainPq(pv, "v", "id", m = 4, ksub = 4)
    val path = tempDir("pq_cb") + "/cb"
    Similarity.savePq(cb, spark, path)
    val back = Similarity.loadPq(spark, path)
    assert(back.dim == cb.dim && back.m == cb.m && back.ksub == cb.ksub)
    assert(back.codewords.map(_.map(_.toSeq).toSeq).toSeq ==
      cb.codewords.map(_.map(_.toSeq).toSeq).toSeq)
    def enc(c: Similarity.PqCodebooks) =
      Similarity.pqEncode(pv, "v", "id", c).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(enc(back) == enc(cb))
  }

  test("IVF index save/load round-trips and searches identically") {
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 37.0 + d).toFloat))).toDF("id", "v")
    val idx = Similarity.trainIvf(vecs, "v", "id", nlist = 4)
    val path = tempDir("ivf_idx") + "/index"
    Similarity.saveIvf(idx, spark, path)
    val back = Similarity.loadIvf(spark, path)
    assert(back.centroids.map(_.toSeq).toSeq == idx.centroids.map(_.toSeq).toSeq)
    val probes = vecs.filter($"id" < 3)
    def run(i: Similarity.IvfIndex) =
      Similarity.ivfSearch(i, vecs, probes, "v", "id", k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(run(back) == run(idx))
  }

  test("recall@k is 1.0 against itself and counts misses correctly") {
    val probes = vecs.filter($"vec_id" === 0L)
    val exact = Similarity.bruteForceTopK(vecs, probes, "embedding", "vec_id", k = 3)
    val self = Similarity.recallAtK(exact, exact).collect().head
    assert(self.getAs[Long]("n_true") == 3L && self.getAs[Double]("recall") == 1.0)
    // an "approximate" result missing one true pair → recall 2/3
    val dropped = exact.filter($"neighbor_id" =!= 3L)
    val partial = Similarity.recallAtK(exact, dropped).collect().head
    assert(partial.getAs[Long]("n_found") == 2L)
    assert(math.abs(partial.getAs[Double]("recall") - 2.0 / 3) < 1e-6)
  }

  test("embedding near-dups by cosine threshold") {
    val pairs = Dedup.embeddingNearDups(vecs, "embedding", "vec_id", threshold = 0.99, planes = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 4L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("sampled exactCosinePairs ≡ full truth restricted to pairs incident to the probe sample") {
    // the contract that makes the sampled honesty meter honest: with
    // probeOneIn = N the output is EXACTLY the full all-pairs truth
    // filtered to pairs touching a sampled probe — not an approximation
    // of the truth, a deterministic restriction of it. pairRecall against
    // the restricted truth is then an unbiased estimate of full recall.
    val rnd = new scala.util.Random(7)
    val df = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val full = pairs(Dedup.exactCosinePairs(df, "embedding", "vec_id", threshold = 0.2))
    val sampleIds = Sample.sampleByHash(df.select($"vec_id".as("id")), "id", 3, "recall-probe")
      .collect().map(_.getLong(0)).toSet
    assert(sampleIds.nonEmpty && sampleIds.size < 60, s"degenerate sample: $sampleIds")
    val restricted = full.filter { case (a, b) => sampleIds(a) || sampleIds(b) }
    assert(restricted.nonEmpty && restricted.size < full.size,
      s"fixture too small to distinguish: full=${full.size} restricted=${restricted.size}")
    val sampled = pairs(Dedup.exactCosinePairs(df, "embedding", "vec_id", threshold = 0.2,
      probeOneIn = 3))
    assert(sampled == restricted)
  }

  test("exactCosinePairs excludes zero vectors from the truth side") {
    // a zero vector's cosine is NaN (0/0) and NaN compares ABOVE every
    // real number in Spark SQL, so without the prefilter every pair
    // incident to it would enter the truth and depress measured recall —
    // the same asymmetry bruteForceTopK guards against on both sides
    val df = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(1f, 0.01f, 0f)),   // near-dup of 0
      (2L, Array(0f, 0f, 0f)),      // zero vector: must be invisible
      (3L, Array(0f, 1f, 0f)),      // orthogonal to 0/1
    ).toDF("vec_id", "embedding")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val full = pairs(Dedup.exactCosinePairs(df, "embedding", "vec_id", threshold = 0.5))
    assert(full == Set((0L, 1L)), s"zero vector leaked into the truth: $full")
    val sampled = pairs(Dedup.exactCosinePairs(df, "embedding", "vec_id",
      threshold = 0.5, probeOneIn = 2))
    assert(!sampled.exists { case (a, b) => a == 2L || b == 2L },
      s"zero vector leaked into the sampled truth: $sampled")
  }

  test("language id picks the stopword-dominant language") {
    val df = Seq(
      (0L, "the cat and the dog play in the garden of the house"),
      (1L, "le chat et le chien jouent dans le jardin de la maison"),
      (2L, "el gato y el perro juegan en el jardin de la casa"),
      (3L, "der hund und die katze spielen in dem garten von dem haus"),
      (4L, "zzz qqq xxx"),
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.languageId($"text").as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(0L -> "en", 1L -> "fr", 2L -> "es", 3L -> "de", 4L -> "und"))
  }

  test("token counts: whitespace and bpe-ish") {
    val df = Seq((0L, "Hello, world! 42 tokens?")).toDF("doc_id", "text")
    val row = df.select(
      TextOps.tokenCount($"text").as("ws"),
      TextOps.bpeishCount($"text").as("bpe")).collect().head
    assert(row.getAs[Int]("ws") == 4)
    // Hello , world ! 42 tokens ? → 7
    assert(row.getAs[Int]("bpe") == 7)
  }

  test("quality score prefers real prose over word salad fragments") {
    val df = Seq(
      (0L, "The project is large and the design of the system is described in the documents that the team wrote to explain all of the moving parts in detail and to keep everyone informed."),
      (1L, "x"),
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.qualityScore($"text").as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(0L) > got(1L))
    assert(got(0L) > 0.5 && got(1L) < 0.4)
  }

  test("repetition metrics flag templated text, clean prose scores low") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (0L, "buy now buy now buy now buy now buy now"),
      (1L, "the quick brown fox jumps over one lazy dog near a stream"),
      (2L, "ab"), // single word: no 2-grams → 0 by definition
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id",
      TextOps.dupNgramFraction($"text", 2).as("dup2")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(0L) > 0.7)   // "buy now"/"now buy" repeat heavily
    assert(got(1L) == 0.0)  // all bigrams unique
    assert(got(2L) == 0.0)
  }

  test("curation keeps quality English prose, drops salad/duplicates/foreign text") {
    val good = "The project is large and the design of the system is described in the documents " +
      "that the team wrote to explain all of the moving parts in detail and to keep everyone informed."
    val df = Seq(
      (0L, good),
      (1L, good),                     // exact duplicate → deduped
      (2L, "x"),                      // word salad → fails quality gate
      (3L, "le chat et le chien jouent dans le jardin de la maison pres de la riviere"), // French
      (4L, ("spam ham " * 40).trim),  // heavy 3-gram repetition
    ).toDF("doc_id", "text")
    val kept = Curate.curate(df, "text", "doc_id")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L))
  }

  test("token chunking: overlap windows, short tail, no redundant window") {
    val df = Seq(
      (0L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (1L, "only three tokens"),
      (2L, "   "),                                     // no tokens → no chunks
    ).toDF("doc_id", "text")
    val got = TextOps.chunkTokens(df, "text", "doc_id", chunkSize = 8, overlap = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val byDoc = got.groupBy(_._1)
    assert(byDoc(0L).map(c => (c._2, c._3, c._4)).sortBy(_._1).toList == List(
      (0, (1 to 8).map(i => s"w$i").mkString(" "), 8),
      (1, (5 to 10).map(i => s"w$i").mkString(" "), 6), // tail shorter, overlap 4
    ))
    assert(byDoc(1L).map(c => (c._2, c._3, c._4)).toList == List((0, "only three tokens", 3)))
    assert(!byDoc.contains(2L))
    // exact-fit document yields exactly one window (no empty successor)
    val exact = TextOps.chunkTokens(
      Seq((0L, (1 to 8).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text"),
      "text", "doc_id", chunkSize = 8, overlap = 4).collect()
    assert(exact.length == 1)
  }

  test("PII redaction tags urls, emails, phones in cascade order; idempotent") {
    val df = Seq(
      (0L, "mail me at jane.doe+x@example.org or call +1 (415) 555-0100 today"),
      (1L, "docs at https://ex.am/p?q=jane@x.io#frag and nothing else"),
      (2L, "clean prose with no identifiers at all"),
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.redactPii($"text").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "mail me at <EMAIL> or call <PHONE> today")
    // the email inside the URL is swallowed by <URL>, not tagged separately
    assert(got(1L) == "docs at <URL> and nothing else")
    assert(got(2L) == "clean prose with no identifiers at all")
    // idempotence: tags contain nothing any pattern matches
    val twice = df.select(TextOps.redactPii(TextOps.redactPii($"text")).as("r"))
      .collect().map(_.getString(0)).toSet
    assert(twice == got.values.toSet)
    // counts line up with emitted tags
    val counts = df.select(
        $"doc_id" +: TextOps.piiCounts($"text").map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(counts(0L) == ((0, 1, 1)) && counts(1L) == ((1, 0, 0)) && counts(2L) == ((0, 0, 0)))
  }

  test("hash sampling is deterministic and roughly 1/N; per-group cap holds") {
    val ids = (0L until 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = Sample.sampleByHash(ids, "doc_id", oneIn = 10, salt = "s").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    val b = Sample.sampleByHash(ids, "doc_id", oneIn = 10, salt = "s").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a == b)                      // rerun-stable
    assert(a.size > 60 && a.size < 140) // ~100 of 1000
    val other = Sample.sampleByHash(ids, "doc_id", oneIn = 10, salt = "t").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(other != a)                  // salt gives an independent sample

    val grouped = (0L until 100L).map(i => (i, i % 4)).toDF("id", "grp")
    val capped = Sample.capPerGroup(grouped, "grp", "id", n = 5, salt = "s")
    val sizes = capped.groupBy($"grp").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ == 5L))
    val again = Sample.capPerGroup(grouped, "grp", "id", n = 5, salt = "s")
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(again == capped.select($"id").collect().map(_.getLong(0)).toSet)
  }

  test("weighted corpus mixture: per-source fractions, independent salts") {
    val ids = (0L until 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val mixed = Sample.mixCorpora(
      Seq(("web", ids, 0.5), ("books", ids, 0.25)), "doc_id", salt = "m")
    val bySource = mixed.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("web") > 400 && bySource("web") < 600)
    assert(bySource("books") > 180 && bySource("books") < 320)
    // each branch is exactly sampleFraction under the derived salt
    val webIds = mixed.filter($"source" === "web").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    val expected = Sample.sampleFraction(ids, "doc_id", 0.5, salt = "m#web")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(webIds == expected)
    // fraction edge cases
    assert(Sample.sampleFraction(ids, "doc_id", 0.0).count() == 0L)
    assert(Sample.sampleFraction(ids, "doc_id", 1.0).count() == 1000L)
  }

  test("md5 fingerprint is whitespace/case canonical") {
    val df = Seq((0L, "Hello   World"), (1L, "hello world"), (2L, "hello worlds")).toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextOps.fingerprintMd5($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(0L) == fps(1L))
    assert(fps(0L) != fps(2L))
  }

  test("rolling fingerprint survives distant edits, md5 does not") {
    graft.functions.GraftFunctions.register(spark)
    val a = base
    val b = base.replaceFirst("quick", "slow") // early edit; min-shingle-hash likely elsewhere
    val df = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
    val rows = df.select(TextOps.fingerprintRolling($"text").as("roll"),
      TextOps.fingerprintMd5($"text").as("md5")).collect()
    assert(rows(0).getAs[String]("md5") != rows(1).getAs[String]("md5"))
    // not asserted equal — just derivable & deterministic
    assert(rows.forall(!_.isNullAt(0)))
  }

  test("multimodal: real header parse recovers the encoded dimensions per container") {
    graft.functions.GraftFunctions.register(spark)
    val docs = (0L to 19L).map(i => (i, s"payload body number $i padded ${"x" * i.toInt}"))
      .toDF("doc_id", "text")
    val media = Multimodal.encodedMediaTable(docs)
    val got = media.select($"media_id", $"modality",
      Multimodal.decodeMeta($"payload").as("m")).collect()
    got.foreach { r =>
      val id = r.getLong(0)
      val m = r.getStruct(2)
      val len = docs.filter($"doc_id" === id).collect().head.getString(1).getBytes("UTF-8").length
      val expFormat =
        if (id % 3 == 0) (if (id % 2 == 0) "png" else "jpeg")
        else if (id % 3 == 1) {
          if (id % 4 < 2) "wav" else if (id % 4 == 2) "flac" else "mp3"
        } else if (id % 2 == 0) "avi" else "mp4"
      assert(m.getAs[String]("format") == expFormat, s"id $id")
      expFormat match {
        case "png" | "jpeg" =>
          assert(m.getAs[Int]("width") == len % 1280 + 640, s"id $id")
          assert(m.getAs[Int]("height") == len % 720 + 360, s"id $id")
          assert(m.isNullAt(m.fieldIndex("sample_rate")) && m.isNullAt(m.fieldIndex("n_frames")))
          assert(m.isNullAt(m.fieldIndex("duration_ms")))
        case "wav" =>
          val rates = Seq(8000, 16000, 22050, 44100, 48000)
          val rate = rates(len % 5)
          assert(m.getAs[Int]("sample_rate") == rate, s"id $id")
          assert(m.isNullAt(m.fieldIndex("width")))
          // duration = data length / byte rate (mono 16-bit → rate×2 B/s)
          assert(m.getAs[Int]("duration_ms") == len.toLong * 1000 / (rate * 2L), s"id $id")
        case "flac" =>
          val rates = Seq(8000, 16000, 22050, 44100, 48000)
          val rate = rates(len % 5)
          val samples = len % 900000 + 44100
          assert(m.getAs[Int]("sample_rate") == rate, s"id $id")
          assert(m.getAs[Int]("duration_ms") == samples.toLong * 1000 / rate, s"id $id")
          assert(m.isNullAt(m.fieldIndex("width")))
        case "mp3" =>
          assert(m.getAs[Int]("sample_rate") == Seq(44100, 48000, 32000)(len % 3), s"id $id")
          assert(m.getAs[Int]("duration_ms") == (len + 4).toLong * 8 * 1000 / 128000, s"id $id")
          assert(m.isNullAt(m.fieldIndex("width")))
        case "avi" =>
          assert(m.getAs[Int]("width") == len % 1280 + 640, s"id $id")
          assert(m.getAs[Int]("height") == len % 720 + 360, s"id $id")
          assert(m.getAs[Int]("n_frames") == len % 240 + 24, s"id $id")
          assert(m.getAs[Int]("duration_ms") ==
            33333L * (len % 240 + 24) / 1000, s"id $id")
        case "mp4" =>
          assert(m.getAs[Int]("width") == len % 1280 + 640, s"id $id")
          assert(m.getAs[Int]("height") == len % 720 + 360, s"id $id")
          assert(m.getAs[Int]("duration_ms") == len % 590000 + 1000, s"id $id")
          assert(m.isNullAt(m.fieldIndex("sample_rate")) && m.isNullAt(m.fieldIndex("n_frames")))
      }
    }
  }

  test("media parser walks segments generally, not at fixed offsets") {
    import graft.functions.MediaParseUtil
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def fcc(s: String) = s.getBytes("US-ASCII")
    // JPEG with TWO extra APPn segments and a COM before SOF2 (not SOF0)
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      Array[Byte](0xff.toByte, 0xe1.toByte) ++ be16(6) ++ Array[Byte](1, 2, 3, 4) ++ // APP1
      Array[Byte](0xff.toByte, 0xee.toByte) ++ be16(4) ++ Array[Byte](9, 9) ++       // APP14
      Array[Byte](0xff.toByte, 0xfe.toByte) ++ be16(5) ++ fcc("hi!") ++              // COM
      Array[Byte](0xff.toByte, 0xc2.toByte) ++ be16(11) ++ Array[Byte](8) ++         // SOF2 (progressive)
      be16(480) ++ be16(640) ++ Array[Byte](1, 1, 0x11, 0)
    val j = MediaParseUtil.parse(jpeg)
    assert(j != null && j.getUTF8String(0).toString == "jpeg")
    assert(j.getInt(1) == 640 && j.getInt(2) == 480)
    // PNG with a non-IHDR chunk first (walker must skip it)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(3) ++ fcc("tEXt") ++ Array[Byte](1, 2, 3) ++ be32(0) ++ // odd leading chunk
      be32(13) ++ fcc("IHDR") ++ be32(800) ++ be32(600) ++ Array[Byte](8, 2, 0, 0, 0) ++ be32(0)
    val p = MediaParseUtil.parse(png)
    assert(p != null && p.getUTF8String(0).toString == "png")
    assert(p.getInt(1) == 800 && p.getInt(2) == 600)
    // WAV with a LIST chunk (odd size -> word-aligned skip) before fmt
    val wav = fcc("RIFF") ++ le32(100) ++ fcc("WAVE") ++
      fcc("LIST") ++ le32(5) ++ Array[Byte](1, 2, 3, 4, 5, 0) ++ // padded to even
      fcc("fmt ") ++ le32(16) ++ Array[Byte](1, 0, 1, 0) ++ le32(44100) ++
      le32(88200) ++ Array[Byte](2, 0, 16, 0)
    val wv = MediaParseUtil.parse(wav)
    assert(wv != null && wv.getUTF8String(0).toString == "wav")
    assert(wv.getInt(3) == 44100)
    // GIF 89a and 87a: logical screen descriptor right after the signature
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val gif = fcc("GIF89a") ++ le16(320) ++ le16(200) ++ Array[Byte](0, 0, 0)
    val g = MediaParseUtil.parse(gif)
    assert(g != null && g.getUTF8String(0).toString == "gif")
    assert(g.getInt(1) == 320 && g.getInt(2) == 200)
    assert(MediaParseUtil.parse(fcc("GIF87a") ++ le16(1) ++ le16(1) ++
      Array[Byte](0)).getInt(1) == 1)
    assert(MediaParseUtil.parse(fcc("GIF88a") ++ le16(9) ++ le16(9) ++
      Array[Byte](0)) == null) // bad version byte
    // BMP: INFO-family header (i32le dims, top-down negative height) and
    // the ancient CORE header (u16 dims)
    val bmpInfo = fcc("BM") ++ le32(200) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(1024) ++ le32(-768) ++ le16(1) ++ le16(24)
    val bi = MediaParseUtil.parse(bmpInfo)
    assert(bi != null && bi.getUTF8String(0).toString == "bmp")
    assert(bi.getInt(1) == 1024 && bi.getInt(2) == 768) // magnitude of top-down
    val bmpCore = fcc("BM") ++ le32(100) ++ le32(0) ++ le32(26) ++
      le32(12) ++ le16(64) ++ le16(48) ++ le16(1) ++ le16(8)
    val bc = MediaParseUtil.parse(bmpCore)
    assert(bc != null && bc.getInt(1) == 64 && bc.getInt(2) == 48)
    // a text blob starting "BM" must NOT sniff as bmp (reserved != 0)
    assert(MediaParseUtil.parse(fcc("BMW group reported great quarterly")) == null)
    // Int.MinValue height has no i32 magnitude -> malformed, null
    val bmpBadH = fcc("BM") ++ le32(200) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(1024) ++ le32(Int.MinValue) ++ le16(1) ++ le16(24)
    assert(MediaParseUtil.parse(bmpBadH) == null)
    // garbage and truncation parse to null, never throw
    assert(MediaParseUtil.parse(Array[Byte]()) == null)
    assert(MediaParseUtil.parse(fcc("not a media file")) == null)
    assert(MediaParseUtil.parse(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte)) == null)
    assert(MediaParseUtil.parse(jpeg.take(12)) == null)
    assert(MediaParseUtil.parse(png.take(20)) == null)
    // malformed 32-bit chunk lengths near 0xFFFFFFFF must parse to null,
    // never wrap the cursor into an infinite loop (Int overflow to 0) or
    // a negative index crash — one bad crawl row must not hang a task
    val hugePng = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(0xfffffff4) ++ fcc("tEXt") ++ Array[Byte](0, 0, 0, 0)
    assert(MediaParseUtil.parse(hugePng) == null)
    val maxIntPng = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(0x7fffffff) ++ fcc("tEXt") ++ Array[Byte](0, 0, 0, 0)
    assert(MediaParseUtil.parse(maxIntPng) == null)
    val hugeWav = fcc("RIFF") ++ le32(100) ++ fcc("WAVE") ++
      fcc("LIST") ++ le32(0xfffffff0) ++ Array[Byte](0, 0, 0, 0)
    assert(MediaParseUtil.parse(hugeWav) == null)
    val hugeAvi = fcc("RIFF") ++ le32(100) ++ fcc("AVI ") ++
      fcc("JUNK") ++ le32(0xfffffff0) ++ Array[Byte](0, 0, 0, 0)
    assert(MediaParseUtil.parse(hugeAvi) == null)
    val hugeAviInner = fcc("RIFF") ++ le32(100) ++ fcc("AVI ") ++
      fcc("LIST") ++ le32(40) ++ fcc("hdrl") ++
      fcc("JUNK") ++ le32(0xfffffff0) ++ Array[Byte](0, 0, 0, 0)
    assert(MediaParseUtil.parse(hugeAviInner) == null)
    // WAV: duration from the data-chunk length over the byte rate; the
    // data chunk may be header-only (truncated body) — the declared
    // length is what a player computes duration from
    val wavDur = fcc("RIFF") ++ le32(100) ++ fcc("WAVE") ++
      fcc("fmt ") ++ le32(16) ++ Array[Byte](1, 0, 1, 0) ++ le32(44100) ++
      le32(88200) ++ Array[Byte](2, 0, 16, 0) ++
      fcc("data") ++ le32(88200) // header-only: length is the claim
    val wd = MediaParseUtil.parse(wavDur)
    assert(wd.getInt(3) == 44100 && wd.getInt(5) == 1000) // 88200 B / 88200 B/s
    // AVI duration: µs/frame × frames / 1000 (33333 µs × 60 → 1999 ms)
    val aviDur = fcc("RIFF") ++ le32(200) ++ fcc("AVI ") ++
      fcc("LIST") ++ le32(68) ++ fcc("hdrl") ++
      fcc("avih") ++ le32(56) ++ le32(33333) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(60) ++ le32(0) ++ le32(1) ++ le32(0) ++ le32(320) ++ le32(240) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val ad = MediaParseUtil.parse(aviDur)
    assert(ad.getInt(4) == 60 && ad.getInt(5) == 1999)
  }

  test("mp4 box walker: v0/v1 full boxes, 64-bit largesize, size-0 tail, malformed") {
    import graft.functions.MediaParseUtil
    def be32(v: Long) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def be64(v: Long) = be32(v >>> 32) ++ be32(v & 0xffffffffL)
    def fcc(s: String) = s.getBytes("US-ASCII")
    def bx(t: String, body: Array[Byte]) = be32(body.length + 8L) ++ fcc(t) ++ body
    def bx64(t: String, body: Array[Byte]) =
      be32(1) ++ fcc(t) ++ be64(body.length + 16L) ++ body
    val ftyp = bx("ftyp", fcc("isom") ++ be32(0x200))
    val m36 = Array.fill[Byte](36)(0)
    // v1 mvhd at a NON-1000 timescale: 1200 units / 600 u/s → 2000 ms
    val mvhd1 = bx("mvhd", Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
      be32(600) ++ be64(1200))
    def tkhd1(w: Int, h: Int) = bx("tkhd", Array[Byte](1, 0, 0, 7) ++
      be64(0) ++ be64(0) ++ be32(1) ++ be32(0) ++ be64(1200) ++
      be64(0) ++ be64(0) ++ m36 ++ be32(w.toLong << 16) ++ be32(h.toLong << 16))
    // an audio trak (zero dims) FIRST — the walker must skip past it
    val moovBody = mvhd1 ++ bx("trak", tkhd1(0, 0)) ++ bx("trak", tkhd1(640, 360))
    // moov as a 64-bit-largesize box, mdat as a size-0 run-to-end box
    val mp4 = ftyp ++ bx64("moov", moovBody) ++
      be32(0) ++ fcc("mdat") ++ fcc("payload bytes")
    val m = MediaParseUtil.parse(mp4)
    assert(m != null && m.getUTF8String(0).toString == "mp4")
    assert(m.getInt(1) == 640 && m.getInt(2) == 360)
    assert(m.getInt(5) == 2000)
    // v0 mvhd, still non-1000 timescale: 900 / 600 → 1500 ms
    val mvhd0 = bx("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(600) ++ be32(900))
    val m0 = MediaParseUtil.parse(ftyp ++ bx("moov", mvhd0))
    assert(m0 != null && m0.getInt(5) == 1500 && m0.isNullAt(1))
    // malformed: huge declared sizes, short sizes, and truncation all
    // yield null (or partial fields), never a hang or a crash
    assert(MediaParseUtil.parse(ftyp ++ be32(0x7fffffffL) ++ fcc("moov")) == null)
    assert(MediaParseUtil.parse(ftyp ++ be32(4) ++ fcc("moov")) == null) // size < 8
    assert(MediaParseUtil.parse(ftyp) == null) // no moov at all
    assert(MediaParseUtil.parse(ftyp ++ be32(1) ++ fcc("moov") ++ be64(8)) == null) // largesize < 16
    assert(MediaParseUtil.parse(mp4.take(40)) == null) // truncated inside moov
    // not MP4 at all: first box isn't ftyp
    assert(MediaParseUtil.parse(bx("free", fcc("xxxx")) ++ ftyp) == null)
  }

  test("html extraction: element removal, entity order, malformed input stays local") {
    def x(h: String): String =
      Seq(h).toDF("h").select(TextOps.htmlToText($"h")).collect().head.getString(0)
    // script content (incl. a bare '<') vanishes wholesale; style too
    assert(x("<p>a</p><script>if (1 < 2) alert('x')</script><style>p{}</style>b") == "a\nb")
    // multi-line lazy matching, case-insensitive tags
    assert(x("<SCRIPT a=b>\nline1\nline2\n</ScRiPt>keep") == "keep")
    // entity order: &amp;lt; must yield literal "&lt;", not "<"
    assert(x("a &amp;lt; b &lt; c &nbsp;d &#39;e&#39;") == "a &lt; b < c d 'e'")
    // unknown entities pass through verbatim
    assert(x("&copy; &hellip;") == "&copy; &hellip;")
    // block closers become line structure; inline tags just vanish
    assert(x("<h1>T</h1><ul><li>one</li><li>two</li></ul><em>fin</em>") == "T\none\ntwo\nfin")
    // whitespace: runs collapse, space around newlines dropped, >2 newlines capped
    assert(x("a  \t b\n\n\n\n<p></p>c") == "a b\n\nc")
    // unclosed '<' is not a tag: stays verbatim (lexical extractor contract)
    assert(x("price < 100 and <b>bold</b>") == "price < 100 and bold")
    // comments, doctype, empty input
    assert(x("<!DOCTYPE html><!-- hidden -->visible") == "visible")
    assert(x("") == "")
  }

  test("pca: planted structure recovered, orthonormal basis, whitening, persistence") {
    import graft.ops.Embeddings
    graft.functions.GraftFunctions.register(spark)
    // planted 2-factor structure in 6-D: x = a*u + b*w + tiny noise,
    // with deterministic pseudo-random a,b per row
    val u = Array(0.5, 0.5, 0.5, 0.5, 0.0, 0.0)
    val w = Array(0.5, -0.5, 0.5, -0.5, 0.0, 0.0)
    def rnd(i: Int, salt: Int): Double = {
      // avalanched per-salt streams — a linear scheme would correlate a
      // and b and tilt the planted top direction
      val h = java.lang.Long.rotateLeft(i * 2654435761L + salt * 0x9e3779b9L,
        salt * 7 + 13) * 0x9e3779b97f4a7c15L
      ((h % 1000L + 1000L) % 1000L) / 500.0 - 1.0
    }
    val data = (0 until 400).map { i =>
      val a = 3.0 * rnd(i, 1); val b = 1.5 * rnd(i, 2)
      (i.toLong, (0 until 6).map(d => a * u(d) + b * w(d) + 0.001 * rnd(i, 3 + d)).toArray)
    }
    val df = data.toDF("vec_id", "embedding")
    val m = Embeddings.trainPca(df, "embedding", "vec_id", k = 6)
    // top-2 explain essentially all variance; eigenvalues descending
    assert(m.eigenvalues.zip(m.eigenvalues.tail).forall { case (a, b) => a >= b - 1e-12 })
    assert(m.eigenvalues.take(2).sum / m.totalVariance > 0.999)
    assert(math.abs(m.eigenvalues.sum - m.totalVariance) < 1e-9 * m.totalVariance)
    // orthonormal rows
    for (i <- m.components.indices; j <- m.components.indices) {
      val dot = m.components(i).zip(m.components(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"c$i . c$j = $dot")
    }
    // the top component is the planted dominant direction (up to sign fix)
    val c0 = m.components(0)
    val uN = u.map(_ / math.sqrt(u.map(x => x * x).sum))
    assert(math.abs(math.abs(c0.zip(uN).map { case (a, b) => a * b }.sum) - 1.0) < 1e-3)
    // whitened projection: per-component variance 1 on the live components
    val proj = df.select(Embeddings.pcaProject(m, $"embedding", whiten = true).as("p"))
      .collect().map(_.getSeq[Double](0))
    for (c <- 0 until 2) {
      val xs = proj.map(_(c))
      val mu = xs.sum / xs.length
      val va = xs.map(x => (x - mu) * (x - mu)).sum / xs.length
      assert(math.abs(va - 1.0) < 1e-6, s"whitened var c$c = $va")
    }
    // determinism + persistence round trip
    val m2 = Embeddings.trainPca(df, "embedding", "vec_id", k = 6)
    assert(m.components.flatten.toSeq == m2.components.flatten.toSeq
      && m.eigenvalues.toSeq == m2.eigenvalues.toSeq)
    val dir = tempDir("pca-")
    Embeddings.savePca(m, spark, s"$dir/m")
    val l = Embeddings.loadPca(spark, s"$dir/m")
    assert(l.components.flatten.toSeq == m.components.flatten.toSeq
      && l.eigenvalues.toSeq == m.eigenvalues.toSeq
      && l.mean.toSeq == m.mean.toSeq && l.totalVariance == m.totalVariance)
    // k = dim: projection preserves centered norms (complete basis)
    val withNorm = df.select(
      Embeddings.normSq(Embeddings.pcaProject(m, $"embedding")).as("pn"),
      Embeddings.normSq($"embedding").as("n"), $"embedding")
      .collect()
    withNorm.foreach { r =>
      val x = r.getSeq[Double](2)
      val cn = x.zip(m.mean).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(r.getDouble(0) - cn) < 1e-9 * (1 + cn))
    }
    // null vectors project to null
    val nulls = Seq((0L, null: Array[Double])).toDF("vec_id", "embedding")
    assert(nulls.select(Embeddings.pcaProject(m, $"embedding")).collect().head.isNullAt(0))
  }

  test("url canonicalization merges crawl variants; domain rollup key") {
    val urls = Seq(
      "HTTP://Example.COM:80/a?b=2&a=1#frag",
      "http://example.com/a?a=1&b=2",            // permutation of the above
      "https://Example.com:443/a?utm_source=x",  // tracking-only query
      "https://example.com/a",                   // its canonical twin
      "HTTPS://WWW.Site.ORG",                    // empty path -> '/'
      "http://example.com:8080/x",               // NON-default port kept
      "not a url at all",
      "ftp://files.example.com/pub",             // unknown scheme: kept, port rule skipped
    ).zipWithIndex.map(_.swap).toDF("id", "url")
    val got = urls.select($"id", TextOps.canonicalUrl($"url").as("c"),
      TextOps.urlDomain($"url").as("d")).collect()
      .map(r => r.getInt(0) -> ((Option(r.getString(1)), Option(r.getString(2))))).toMap
    assert(got(0)._1.get == "http://example.com/a?a=1&b=2")
    assert(got(0)._1 == got(1)._1) // param permutation + port + case merge
    assert(got(2)._1.get == "https://example.com/a")
    assert(got(2)._1 == got(3)._1) // tracking params never split a group
    assert(got(4)._1.get == "https://www.site.org/")
    assert(got(5)._1.get == "http://example.com:8080/x")
    assert(got(6) == ((None, None))) // non-URL -> null, never a bogus key
    assert(got(7)._1.get == "ftp://files.example.com/pub")
    assert(got(4)._2.get == "site.org") // domain drops www., canon does not
    assert(got(5)._2.get == "example.com")
  }

  test("flac/mp3 walkers: block walk, ID3 skip, MPEG2 tables, corroborated sync") {
    import graft.functions.MediaParseUtil
    def be32(v: Long) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def fcc(s: String) = s.getBytes("US-ASCII")
    // FLAC with a NON-first STREAMINFO (a padding block precedes it —
    // the walk must skip by declared length, not anchor at byte 4)
    def streaminfo(sr: Int, samples: Long, last: Boolean) =
      Array[Byte]((if (last) 0x80 else 0).toByte, 0, 0, 34) ++
        Array[Byte](0x10, 0, 0x10, 0, 0, 0, 0, 0, 0, 0) ++
        Array[Byte]((sr >> 12).toByte, ((sr >> 4) & 0xff).toByte,
          ((sr & 0xf) << 4).toByte, // | (ch-1)<<1 | bps-1 bit4 — zero for mono 16-bit
          (0xf0 | ((samples >> 32) & 0xf)).toInt.toByte) ++
        be32(samples & 0xffffffffL) ++ Array.fill[Byte](16)(0)
    val padding = Array[Byte](0x01, 0, 0, 4, 9, 9, 9, 9) // type 1, len 4
    val flac = fcc("fLaC") ++ padding ++ streaminfo(96000, 288000L, last = true)
    val f = MediaParseUtil.parse(flac)
    assert(f != null && f.getUTF8String(0).toString == "flac")
    assert(f.getInt(3) == 96000 && f.getInt(5) == 3000) // 288000 / 96000 = 3 s
    // 36-bit sample count: the >4 GiB-samples path
    val big = fcc("fLaC") ++ streaminfo(48000, (1L << 32) + 480000L, last = true)
    assert(MediaParseUtil.parse(big).getInt(5) == ((1L << 32) + 480000L) * 1000 / 48000)
    // truncated / no STREAMINFO → null
    assert(MediaParseUtil.parse(fcc("fLaC") ++ padding.take(6)) == null)
    assert(MediaParseUtil.parse(fcc("fLaC") ++ Array[Byte](0x81.toByte, 0, 0, 4, 1, 2, 3, 4)) == null)
    // MP3: bare MPEG-1 Layer III frame, 160 kbps idx 10, 48000 idx 1
    val bare = Array[Byte](0xff.toByte, 0xfb.toByte, (0xa4).toByte, 0) ++
      Array.fill[Byte](1996)(7)
    val m1 = MediaParseUtil.parse(bare)
    assert(m1 != null && m1.getUTF8String(0).toString == "mp3")
    assert(m1.getInt(3) == 48000)
    assert(m1.getInt(5) == 2000L * 8 * 1000 / 160000) // 100 ms
    // ID3v2-tagged MPEG-2 frame (22050 Hz, idx 0; bitrate idx 9 → 80k)
    val id3 = fcc("ID3") ++ Array[Byte](3, 0, 0, 0, 0, 0, 20) ++ Array.fill[Byte](20)(0)
    val mpeg2 = Array[Byte](0xff.toByte, 0xf3.toByte, 0x90.toByte, 0) ++ Array.fill[Byte](996)(1)
    val m2 = MediaParseUtil.parse(id3 ++ mpeg2)
    assert(m2 != null && m2.getUTF8String(0).toString == "mp3")
    assert(m2.getInt(3) == 22050)
    assert(m2.getInt(5) == 1000L * 8 * 1000 / 80000) // 100 ms
    // corroboration: text starting "ID3 ..." or 0xFF-garbage is NOT mp3
    assert(MediaParseUtil.parse(fcc("ID3 tags are a metadata container")) == null)
    assert(MediaParseUtil.parse(Array[Byte](0xff.toByte, 0xe6.toByte, 0xff.toByte, 0)) == null) // reserved layer
    assert(MediaParseUtil.parse(Array[Byte](0xff.toByte, 0xfb.toByte, 0xf0.toByte, 0)) == null) // bitrate idx 15
    assert(MediaParseUtil.parse(Array[Byte](0xff.toByte, 0xfb.toByte, 0x9c.toByte, 0)) == null) // sr idx 3
  }

  test("multimodal: stub features have requested dim and bounded range") {
    val media = Multimodal.syntheticMediaTable(Seq((0L, "payload")).toDF("doc_id", "text"))
    val feats = media.select(Multimodal.featurize($"payload", 16).as("f"))
      .collect().head.getSeq[Float](0)
    assert(feats.length == 16)
    assert(feats.forall(v => v >= -0.5f && v < 0.5f))
  }

  test("multimodal: frame sampling explodes n frames per video") {
    val media = Multimodal.syntheticMediaTable(
      Seq((0L, "0123456789abcdef"), (1L, "not video"), (2L, "videovideovideo!")).toDF("doc_id", "text"))
    val frames = Multimodal.frameSample(media, 4)
    val byId = frames.groupBy($"media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // only media_id % 3 == 2 is video
    assert(byId == Map(2L -> 4L))
  }

  test("multimodal: batched decode adds decoded_bytes == payload length") {
    val media = Multimodal.syntheticMediaTable(
      (0L to 99L).map(i => (i, s"payload number $i")).toDF("doc_id", "text"))
    val out = Multimodal.decodeBatched(media, batchSize = 16)
    assert(out.filter(length($"payload") =!= $"decoded_bytes").count() == 0)
    assert(out.count() == 100)
  }

  test("resize preserves aspect ratio within bounds") {
    graft.functions.GraftFunctions.register(spark)
    val media = Multimodal.encodedMediaTable(Seq((0L, "an image payload")).toDF("doc_id", "text"))
    val row = media
      .withColumn("meta", Multimodal.decodeMeta($"payload"))
      .withColumn("resized", Multimodal.resizeMeta($"meta", 256))
      .select($"meta.width", $"meta.height", $"resized.width", $"resized.height")
      .collect().head
    val (w, h, rw, rh) = (row.getInt(0), row.getInt(1), row.getInt(2), row.getInt(3))
    assert(rw <= 256 && rh <= 256)
    assert(math.abs(rw.toDouble / rh - w.toDouble / h) < 0.05)
  }

  test("boilerplate removal drops shared lines, keeps unique ones in order") {
    val pages = Seq(
      (0L, "Subscribe to our newsletter\nfirst article body\nCopyright 2026 Example"),
      (1L, "Subscribe to our newsletter\nsecond article body\nCopyright 2026 Example"),
      (2L, "subscribe   to our NEWSLETTER\nthird article body"), // normalized match
      (3L, "an island document with no shared lines at all"),
    ).toDF("doc_id", "text")
    val out = TextOps.removeBoilerplate(pages, "text", "doc_id", sep = "\n", minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(0L) == (("first article body", 2L)))
    assert(out(1L) == (("second article body", 2L)))
    assert(out(2L) == (("third article body", 1L))) // case/ws-insensitive match
    assert(out(3L) == (("an island document with no shared lines at all", 0L)))
  }

  test("boilerplate removal keeps fully-boilerplate docs with empty text, and empty lines") {
    val pages = Seq(
      (0L, "header\n\nbody a\nheader"), // duplicate line WITHIN one doc counts once
      (1L, "header\n\nbody b"),
      (2L, "header"),                   // nothing left after removal
    ).toDF("doc_id", "text")
    val out = TextOps.removeBoilerplate(pages, "text", "doc_id", sep = "\n", minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // empty lines are structural: never boilerplate, always kept
    assert(out(0L) == (("\nbody a", 2L)))
    assert(out(1L) == (("\nbody b", 1L)))
    assert(out(2L) == (("", 1L))) // row survives, text empties
    // within-doc repetition alone (doc 0's two headers) must not create
    // boilerplate: rerun with doc 1 and 2 removed
    val solo = TextOps.removeBoilerplate(pages.filter($"doc_id" === 0L), "text", "doc_id",
      sep = "\n", minDocs = 2).collect().head
    assert(solo.getString(1) == "header\n\nbody a\nheader" && solo.getLong(2) == 0L)
  }

  test("gopher metrics: bullets, ellipses, symbols, alpha words, stop hits") {
    val doc = "- first bullet line\n- second bullet line\ntrailing thought...\n" +
      "the quick brown fox jumps over 12345 ### with that to be of and have"
    val df = Seq((0L, doc)).toDF("doc_id", "text")
    val m = df.select(TextOps.gopherMetrics($"text").map { case (n, c) => c.as(n) }: _*)
      .collect().head
    val get = (n: String) => m.getAs[Any](n)
    assert(get("n_words") == 25)                        // ws tokens
    assert(get("bullet_line_frac") == 0.5)              // 2 of 4 lines
    assert(get("ellipsis_line_frac") == 0.25)           // 1 of 4 lines
    // symbols: one '...' + three single '#'
    assert(get("symbol_word_ratio") == math.round(4.0 / 25 * 1e6) / 1e6)
    // the two '-' bullets, '12345', and '###' carry no alpha char → 21 of 25
    assert(get("alpha_word_frac") == math.round(21.0 / 25 * 1e6) / 1e6)
    assert(get("stop_hits") == 8)                       // all eight present
  }

  test("gopher gate: word bounds, mean word length, stopword floor") {
    val docs = Seq(
      (0L, Seq.fill(60)("the good and solid words of that text have with be to").mkString(" ")),
      (1L, "the of and short"),                          // too few words
      (2L, Seq.fill(40)("supercalifragilisticexpialidocious extraordinarily").mkString(" ")
        + " the of and that"),                           // mean word length > 10
      (3L, Seq.fill(30)("plain words only none required here").mkString(" ")),  // 0 stop hits
    ).toDF("doc_id", "text")
    val pass = docs.select($"doc_id", TextOps.gopherPass($"text").as("p"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(pass == Map(0L -> true, 1L -> false, 2L -> false, 3L -> false))
  }

  test("c4 clean: terminal punctuation + min words per line, blocklist drops docs") {
    val docs = Seq(
      (0L, "A real sentence with punctuation.\nshort.\nno terminal punctuation here\n" +
        "Another proper sentence ends well!\nIs this kept too?"),
      (1L, "This page contains Lorem Ipsum filler text."),   // blocklisted (case-insensitive)
      (2L, "function f() { return 1; }"),                    // '{' marks code
      (3L, "every line fails the rules"),                    // survives with empty text
    ).toDF("doc_id", "text")
    val out = TextOps.c4Clean(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(!out.contains(1L) && !out.contains(2L))           // whole-document drops
    assert(out(0L) == ((
      "A real sentence with punctuation.\nAnother proper sentence ends well!\nIs this kept too?",
      3L, 2L)))
    assert(out(3L) == (("", 0L, 1L)))                        // row kept, text empties
    // quote is a valid terminal mark; punctuation rule can be disabled
    val q = Seq((0L, "He said \"this line ends with a quote\"\ntiny one")).toDF("doc_id", "text")
    assert(TextOps.c4Clean(q, "text", "doc_id").collect().head.getString(1)
      == "He said \"this line ends with a quote\"")
    assert(TextOps.c4Clean(q, "text", "doc_id", requireTerminalPunct = false)
      .collect().head.getLong(2) == 1L)
  }

  test("range join: half-open bounds, keyed scoping, multi-bucket intervals") {
    val points = Seq((1L, "k1", 10.0), (2L, "k1", 25.0), (3L, "k2", 10.0), (4L, "k1", 99.0))
      .toDF("pid", "k", "x")
    val ivs = Seq(("k1", "a", 10.0, 25.0), ("k1", "b", 20.0, 120.0), ("k2", "c", 50.0, 60.0))
      .toDF("k", "iv", "lo", "hi")
    val got = Joins.rangeJoin(points, ivs, "x", "lo", "hi",
      bucketWidth = 7.0, keyCols = Seq("k"))
      .select($"pid", $"iv").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (1L, "a"),            // x == lo is IN (closed low end)
      (2L, "b"),            // x == hi of "a" is OUT (open high end); in "b"
      (4L, "b"),            // interval spans many buckets — still exactly one match row
    ))                      // pid 3: k2 point outside k2's interval
    // every true pair appears exactly once regardless of bucket width
    for (w <- Seq(1.0, 3.0, 50.0, 1000.0)) {
      val again = Joins.rangeJoin(points, ivs, "x", "lo", "hi", w, Seq("k"))
        .select($"pid", $"iv").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(again == got, s"bucketWidth $w changed the result")
    }
  }

  test("range join rejects unprefixed column collisions; prefix resolves them") {
    val points = Seq((1L, 5.0, 0.0)).toDF("pid", "x", "lo") // 'lo' collides
    val ivs = Seq(("a", 0.0, 10.0)).toDF("iv", "lo", "hi")
    val e = intercept[IllegalArgumentException] {
      Joins.rangeJoin(points, ivs, "x", "lo", "hi", bucketWidth = 2.0)
    }
    assert(e.getMessage.contains("intervalPrefix"))
    // a non-empty prefix renames EVERY non-key interval column
    val got = Joins.rangeJoin(points, ivs, "x", "lo", "hi", 2.0, intervalPrefix = "iv_")
    assert(got.columns.toList == List("pid", "x", "lo", "iv_iv", "iv_lo", "iv_hi"))
    assert(got.count() == 1)
    // a prefix that maps an interval column ONTO a point column is just as
    // ambiguous as no prefix — rejected, not silently duplicated
    val points2 = Seq((1L, 5.0, "occupied")).toDF("pid", "x", "p_iv")
    val e2 = intercept[IllegalArgumentException] {
      Joins.rangeJoin(points2, ivs, "x", "lo", "hi", 2.0, intervalPrefix = "p_")
    }
    assert(e2.getMessage.contains("p_iv"))
  }

  test("incremental near-dup fails loudly on a signature-length mismatch") {
    val hist = Dedup.minHashSignatures(docs.filter($"doc_id" <= 2), "text", "doc_id",
      numHashes = 64) // stored with a DIFFERENT family size
    val batch = Dedup.minHashSignatures(docs.filter($"doc_id" >= 3), "text", "doc_id",
      numHashes = 128)
    val e = intercept[Exception] {
      Dedup.minHashNearDupsIncremental(batch, hist,
        numHashes = 128, bands = 32, threshold = 0.5).count()
    }
    assert(e.getMessage.contains("signature length"))
  }

  test("token-budget cap keeps null-token rows (they count as 0)") {
    val df = Seq((1L, "g", Some(10L)), (2L, "g", None), (3L, "g", Some(10L)))
      .toDF("id", "g", "toks")
    val kept = Sample.capTokensPerGroup(df, "g", "id", "toks", budget = 100L, salt = "t")
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L)) // all fit; the null row is not dropped
  }

  test("range join without keys and with overlapping intervals emits one row per pair") {
    val points = Seq((1L, 5.0), (2L, 15.0)).toDF("pid", "x")
    val ivs = Seq(("a", 0.0, 10.0), ("b", 4.0, 20.0)).toDF("iv", "lo", "hi")
    val got = Joins.rangeJoin(points, ivs, "x", "lo", "hi", bucketWidth = 2.0)
      .select($"pid", $"iv").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (1L, "b"), (2L, "b")))
  }

  test("l2 normalize: unit norm, zero vector -> null, null stays null") {
    graft.functions.GraftFunctions.register(spark) // native vec_l2normalize
    val df = Seq(
      (1L, Some(Seq(3.0f, 4.0f))),
      (2L, Some(Seq(0.0f, 0.0f))),
      (3L, None: Option[Seq[Float]]),
    ).toDF("id", "v")
    val rows = df.select($"id", Embeddings.l2Normalize($"v").as("u")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val u = rows(1L).get.asInstanceOf[scala.collection.Seq[Double]]
    assert(math.abs(u(0) - 0.6) < 1e-12 && math.abs(u(1) - 0.8) < 1e-12)
    assert(rows(2L).isEmpty && rows(3L).isEmpty)
  }

  test("encoding metrics flag control chars, mojibake, and non-ascii text") {
    val rows = Seq(
      (0L, "clean ascii prose here"),
      (1L, "bro\u0000ken with \u0007 bells"),           // bare control chars
      (2L, "caf�s and na�ve decoding"),       // replacement chars
      (3L, "中文文本"),                 // CJK: 100% non-ascii
      (4L, "tabs\tand\nnewlines\rare fine"),            // structural ws excluded
    ).toDF("doc_id", "text")
    val m = TextOps.encodingMetrics($"text").map { case (n, c) => c.as(n) }
    val got = rows.select($"doc_id" +: m: _*).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(got(0L) == ((0, 0, 0.0)))
    assert(got(1L)._1 == 2 && got(1L)._2 == 0)
    assert(got(2L) == ((0, 2, 0.083333))) // round(2/24, 6)
    assert(got(3L)._3 == 1.0)
    assert(got(4L) == ((0, 0, 0.0)))
  }

  test("corpus duplication meter: exact dups fully duplicated, unique docs zero") {
    graft.functions.GraftFunctions.register(spark)
    val stats = TextOps.corpusDupStats(docs, "text", "doc_id", k = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(stats.size == 6) // every input row reports
    // docs 0 and 1 are byte-identical: every shingle occurs in >= 2 docs
    assert(stats(0L)._3 == 1.0 && stats(1L)._3 == 1.0)
    // doc 2 differs by one word: most but not all shingles shared
    assert(stats(2L)._3 > 0.5 && stats(2L)._3 < 1.0)
    // docs 4 and 5 share nothing with anyone
    assert(stats(4L) == ((stats(4L)._1, 0L, 0.0)) && stats(4L)._1 > 0)
    assert(stats(5L)._2 == 0L)
    // a document shorter than k words reports (0, 0, 0.0)
    val short = TextOps.corpusDupStats(
      docs.union(Seq((9L, "too short")).toDF("doc_id", "text")),
      "text", "doc_id", k = 8, minDocs = 2)
      .filter($"doc_id" === 9L).collect().head
    assert((short.getLong(1), short.getLong(2), short.getDouble(3)) == ((0L, 0L, 0.0)))
  }

  test("token-budget cap keeps a hash-ordered prefix, overruns by at most one row") {
    val rows = (0L until 40L).map(i => (i, if (i % 2 == 0) "a" else "b", 10L + (i % 7)))
    val df = rows.toDF("id", "g", "toks")
    val budget = 60L
    val kept = Sample.capTokensPerGroup(df, "g", "id", "toks", budget, salt = "t")
    val byGroup = kept.collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
      .groupBy(_._1)
    byGroup.foreach { case (g, rs) =>
      val total = rs.map(_._3).sum
      val maxRow = rs.map(_._3).max
      assert(total < budget + maxRow, s"group $g exceeded budget + one row: $total")
      assert(total >= budget.min(rows.filter(_._2 == g).map(_._3).sum),
        s"group $g underfilled: $total")
    }
    // deterministic across partition layouts
    val again = Sample.capTokensPerGroup(df.repartition(13), "g", "id", "toks", budget, "t")
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select($"id").collect().map(_.getLong(0)).toSet)
    // a different salt picks a different (same-budget) prefix
    val other = Sample.capTokensPerGroup(df, "g", "id", "toks", budget, salt = "u")
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(other != again)
  }

  test("group centroids: dimension-wise means; null vectors count in n only") {
    val df = Seq(
      ("a", Some(Seq(1.0f, 2.0f))),
      ("a", Some(Seq(3.0f, 6.0f))),
      ("a", None: Option[Seq[Float]]),
      ("b", Some(Seq(10.0f, 0.0f))),
    ).toDF("g", "v")
    val got = Embeddings.groupCentroids(df, "v", "g").collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        r.getSeq[Double](2).toList))).toMap
    assert(got("a")._1 == 3L) // null row counts toward n
    assert(got("a")._2 == List(2.0, 4.0)) // but not the centroid
    assert(got("b") == ((1L, List(10.0, 0.0))))
    // a NULL group key is an ordinary group (the count join is null-safe;
    // a plain equi-join would silently drop it)
    val withNull = Seq(
      (Some("a"), Seq(1.0f, 2.0f)),
      (None: Option[String], Seq(4.0f, 8.0f)),
      (None: Option[String], Seq(6.0f, 10.0f)),
    ).toDF("g", "v")
    val nulled = Embeddings.groupCentroids(withNull, "v", "g").collect()
      .map(r => Option(r.getString(0)) -> ((r.getLong(1), r.getSeq[Double](2).toList)))
      .toMap
    assert(nulled(None) == ((2L, List(5.0, 9.0))))
    assert(nulled(Some("a")) == ((1L, List(1.0, 2.0))))
  }

  test("winnowing: shared w+k-1 run guarantees a shared fingerprint; density bounded") {
    graft.functions.GraftFunctions.register(spark)
    val k = 5; val w = 4
    // docs 0/1: completely different except one shared 8-token run
    // (= w + k - 1, the guarantee threshold)
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (0L, s"aa0 bb0 cc0 dd0 ee0 $run ff0 gg0 hh0"),
      (1L, s"xx1 yy1 zz1 $run qq1 rr1 ss1 tt1 uu1"),
      (2L, "totally unrelated words in this one only here"),
      (3L, "tiny"),                       // < k tokens: empty fingerprint
      (4L, "just five little words here"), // exactly k: 1 shingle < w
    ).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
        graft.ops.TextOps.fingerprintWinnow(col("text"), k, w).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(0L) intersect fps(1L)).nonEmpty, "guarantee violated")
    assert((fps(0L) intersect fps(2L)).isEmpty)
    assert(fps(3L).isEmpty)
    assert(fps(4L).size == 1)
    // sorted, distinct, and far denser than the raw shingle stream isn't:
    // winnowing keeps roughly 2/(w+1) of shingles, never more than n-w+1
    val doc0Shingles = 14 - k + 1
    assert(fps(0L).size <= doc0Shingles - w + 1)
  }

  test("BPE: learns frequency-ordered merges; application replays them in rank order") {
    val corpus = Seq(
      (0L, "aa aa aa ab"),
      (1L, "aa baa"),
    ).toDF("doc_id", "text")
    // word freqs: aa=4, ab=1, baa=1
    // round 1 pairs: (a,a) = 4 + 1 + 1(baa has one a-a pair) = 6... baa = [b,a,a] -> (b,a):1, (a,a):1
    // so (a,a): 4 + 1 = 5 wins; round 2: (b,aa): 1, (a,b): 1 -> tie broken
    // lexicographically: (a,b) < (b,aa)
    val merges = graft.ops.Bpe.trainBpe(corpus, "text", numMerges = 2)
    assert(merges.map(m => (m.left, m.right)) == Seq(("a", "a"), ("a", "b")))
    // application: "aab" -> [a,a,b] -> merge(a,a) -> [aa,b]; (a,b) no longer adjacent as chars
    val applied = corpus.sparkSession.range(1).toDF()
      .select(graft.ops.Bpe.applyBpe(lit("aa ab aab"), merges).as("sw"),
        graft.ops.Bpe.subwordCount(lit("aa ab aab"), merges).as("n"))
      .collect().head
    assert(applied.getSeq[String](0) == Seq("aa", "ab", "aa", "b"))
    assert(applied.getInt(1) == 4)
    // determinism under partition layout
    val again = graft.ops.Bpe.trainBpe(corpus.repartition(7), "text", 2)
    assert(again == merges)
    // save/load round-trip preserves the merge table exactly
    val path = tempDir("bpe") + "/merges"
    graft.ops.Bpe.saveBpe(merges, spark, path)
    assert(graft.ops.Bpe.loadBpe(spark, path) == merges)
  }

  test("BPE: local training matches the distributed round-per-merge formulation") {
    // varied corpus with repeated words, shared prefixes/suffixes and
    // exact pair-count ties — the cases where the argmax tie-break matters
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog the fox"),
      (1L, "lowering towering flowering powering showering glowering"),
      (2L, "aa ab ba bb aa ab ba bb abab baba"),
      (3L, "internationalization internationalization nation nationalization"),
      (4L, "xy xy yx yx"), // (x,y) and (y,x) tie on count -> lex order decides
    ).toDF("doc_id", "text")
    val local = graft.ops.Bpe.trainBpe(corpus, "text", numMerges = 24)
    val dist = graft.ops.Bpe.trainBpeDistributed(corpus, "text", numMerges = 24)
    assert(local == dist, s"merge sequences diverge:\n$local\n$dist")
  }

  test("BPE: native bpe_apply matches the chained merge_pair replay") {
    graft.functions.GraftFunctions.register(spark)
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "lowering towering flowering powering showering"),
      (2L, "aa ab ba bb abab baba aaa bbb aabb"),
      (3L, "internationalization nation nationalization 12345 90210"),
      (4L, ""), // no tokens -> empty subword array
    ).toDF("doc_id", "text")
    val merges = graft.ops.Bpe.trainBpe(corpus, "text", numMerges = 24)
    val both = corpus.select($"doc_id",
        graft.ops.Bpe.applyBpe($"text", merges).as("native"),
        graft.ops.Bpe.applyBpeChained($"text", merges).as("chained"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"doc ${r.getLong(0)}: native ${r.getSeq[String](1)} != chained ${r.getSeq[String](2)}")
    }
  }

  test("BPE: production-size merge tables plan and run (the chained form cannot)") {
    graft.functions.GraftFunctions.register(spark)
    // deterministic synthetic vocabulary rich enough to sustain >1000
    // merges: 3000 words of length 8 from an LCG over a 26-letter alphabet
    var seed = 0x5DEECE66DL
    def nextWord(): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < 8) {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        sb.append(('a' + math.floorMod(seed >>> 33, 26L).toInt).toChar)
        i += 1
      }
      sb.toString
    }
    val text = Seq.fill(3000)(nextWord()).mkString(" ")
    val corpus = Seq((0L, text)).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val merges = graft.ops.Bpe.trainBpe(corpus, "text", numMerges = 1000)
    val trainSec = (System.nanoTime() - t0) / 1e9
    assert(merges.size == 1000, s"vocabulary exhausted at ${merges.size}")
    assert(trainSec < 60.0, f"local 1000-merge training took $trainSec%.1f s")
    // the native form: ONE expression regardless of merge count
    val applied = corpus
      .select(graft.ops.Bpe.applyBpe($"text", merges).as("sw")).collect().head
    val subwords = applied.getSeq[String](0)
    assert(subwords.nonEmpty && subwords.size < 3000 * 8,
      "1000 merges should compress below character count")
    assert(subwords.mkString == text.replace(" ", ""),
      "subwords must reconstruct the input bytes")
    // the chained form pays one plan node chain per merge: at 1000 merges
    // the UNANALYZED expression tree alone is >3000 nodes (and analysis/
    // codegen cost grows superlinearly from there) vs a handful for the
    // native expression — vocabulary size must be a data parameter, not a
    // plan parameter
    def nodeCount(c: org.apache.spark.sql.Column): Int = {
      def walk(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
        1 + e.children.map(walk).sum
      corpus.select(c).queryExecution.logical.expressions.map(walk).sum
    }
    val native = nodeCount(graft.ops.Bpe.applyBpe($"text", merges))
    assert(native < 20, s"native form should be O(1) plan nodes, got $native")
    // the chained form pays one nested plan node chain per merge: at 1000
    // merges even CONSTRUCTING the logical plan overflows the stack
    // (ColumnNode-to-Expression conversion recurses per merge) — observed
    // here, the literal "cannot plan". If a deeper stack survives the
    // conversion, the tree is >3000 nodes: either way vocabulary size is a
    // plan parameter, which is the disease the native expression cures.
    // three possible outcomes, each the same verdict: construction
    // overflows the stack, OR construction survives (thread-stack-depth
    // dependent — varies with suite ordering) and ANALYSIS trips the
    // analyzer's 100-iteration Resolution cap, OR both survive and the
    // tree is >3000 nodes
    val chainedVerdict =
      try Right(nodeCount(graft.ops.Bpe.applyBpeChained($"text", merges)))
      catch {
        case _: StackOverflowError => Left("stack overflow at plan construction")
        case e: Exception if e.getMessage != null
            && e.getMessage.contains("Max iterations") =>
          Left("analyzer iteration cap during resolution")
      }
    chainedVerdict match {
      case Left(_)      => succeed
      case Right(nodes) => assert(nodes > 3000, s"chained form unexpectedly small: $nodes")
    }
  }

  test("compression ratio: repetition compresses, entropy doesn't, null stays null") {
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(3)
    val repetitive = ("lorem ipsum dolor sit amet " * 40).trim
    val highEntropy = Seq.fill(240)(('a' + rnd.nextInt(26)).toChar).mkString
    val df = Seq((0L, repetitive), (1L, highEntropy), (2L, ""))
      .toDF("doc_id", "text")
      .union(Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val m = TextOps.compressionMetrics($"text").map { case (n, c) => c.as(n) }
    val got = df.select($"doc_id" +: m: _*).collect()
      .map(r => r.getLong(0) -> r).toMap
    val ratioRep = got(0L).getDouble(3)
    val ratioEnt = got(1L).getDouble(3)
    // boilerplate repetition compresses an order of magnitude better
    assert(ratioRep < 0.2, s"repetitive ratio $ratioRep")
    assert(ratioEnt > 0.5, s"high-entropy ratio $ratioEnt")
    assert(ratioRep < ratioEnt / 3)
    // empty text: guard denominator, tiny positive deflate output
    assert(got(2L).getLong(1) == 0L && got(2L).getLong(2) > 0L)
    // null text propagates null through the native expression
    assert(got(3L).isNullAt(2) && got(3L).isNullAt(3))
    // SQL surface via the extensions injector
    assert(spark.sql("SELECT deflate_len('aaaaaaaaaaaaaaaaaaaaaaaa')")
      .collect().head.getLong(0) > 0)
  }

  test("hash embedding: unit norm, near-dups close, unrelated far, empty -> null") {
    graft.functions.GraftFunctions.register(spark)
    val df = docs.union(Seq((9L, "")).toDF("doc_id", "text"))
      .select($"doc_id", Embeddings.hashEmbedding($"text", 64).as("e"))
    val got = df.collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(got(9L).isEmpty) // no tokens -> null embedding
    def cos(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    got.collect { case (_, Some(v)) => v }.foreach { v =>
      assert(math.abs(cos(v, v) - 1.0) < 1e-9) // unit norm
    }
    val c01 = cos(got(0L).get, got(1L).get) // exact dups
    val c02 = cos(got(0L).get, got(2L).get) // near dup (one word changed)
    val c04 = cos(got(0L).get, got(4L).get) // unrelated
    assert(math.abs(c01 - 1.0) < 1e-9)
    assert(c02 > 0.9 && c02 < 1.0)
    assert(c04 < 0.5, s"unrelated cosine too high: $c04")
  }

  test("winnow overlap surfaces near-dup pairs, not unrelated docs") {
    val pairs = graft.ops.TextOps.winnowOverlap(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the planted fixtures: 1 is an exact dup of 0, 2/3 near dups of 0
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && pairs.contains((0L, 3L)))
    // the unrelated docs (4, 5) never appear in any pair
    val clustered = pairs.flatMap(p => Set(p._1, p._2))
    assert(!clustered.contains(4L) && !clustered.contains(5L))
  }

  test("winnowConfigFor: floor at correctness scale, widened at the n² frontier") {
    import graft.ops.TextOps.{winnowConfigFor, winnowPredictedCandidates}
    // correctness SFs (≤ ~50k docs): the model predicts well under the 1e8
    // budget, so the solver returns the floor unchanged — q_text_winnow_auto
    // must stay bit-identical to the fixed-dial row there
    assert(winnowConfigFor(500L) == ((4, 2)))
    assert(winnowConfigFor(5000L) == ((4, 2)))
    assert(winnowConfigFor(50000L) == ((4, 2)))
    // ProbeWinnow calibration (SCALING_r12 §4): sf30 = 1.5M docs measured
    // 32.7M candidates — model agrees within 1% and stays under budget
    val sf30Pred = winnowPredictedCandidates(1500000L, 4)
    assert(math.abs(sf30Pred - 32686123.0) / 32686123.0 < 0.12)
    assert(winnowConfigFor(1500000L) == ((4, 2)))
    // sf100 = 5M docs measured 362.7M candidates: over the 1e8 budget, so
    // the solver widens until predicted fits — and the widened prediction
    // genuinely is under budget
    val (w100, ms100) = winnowConfigFor(5000000L)
    assert(w100 > 4 && ms100 == 2, s"got ($w100, $ms100)")
    assert(winnowPredictedCandidates(5000000L, w100) <= 1e8)
    assert(winnowPredictedCandidates(5000000L, w100 - 1) > 1e8)
    // monotone: more docs never narrows the window; maxW caps the dial
    val ws = Seq(1e5, 1e6, 1e7, 1e8, 1e9).map(n => winnowConfigFor(n.toLong)._1)
    assert(ws == ws.sorted)
    assert(winnowConfigFor(1000000000L, maxW = 15)._1 <= 15)
    // minShared passes through: it is the caller's semantic floor
    assert(winnowConfigFor(5000000L, minShared = 3)._2 == 3)
  }

  test("winnowOverlap candidate-volume guard fails loudly over the ceiling") {
    // 6 docs sharing one template text → every fingerprint bucket holds
    // all 6 docs → C(6,2) = 15 pairs per hash; a ceiling of 10 must trip
    val tpl = (1 to 40).map(i => s"w${i % 7}").mkString(" ")
    val many = (0L to 5L).map(i => (i, tpl)).toDF("doc_id", "text")
    def refusal() = intercept[IllegalArgumentException] {
      graft.ops.TextOps.winnowOverlap(many, "text", "doc_id",
        maxCandidatePairs = 10L).collect()
    }
    val e = refusal()
    assert(e.getMessage.contains("candidate pairs"))
    assert(e.getMessage.contains("winnowConfigFor"))
    // a second construction over the same frame measures again and
    // refuses with the identical message
    assert(refusal().getMessage == e.getMessage)
    // the same corpus under the default ceiling passes (pairs flow)
    assert(graft.ops.TextOps.winnowOverlap(many, "text", "doc_id")
      .count() == 15)
    // and the auto variant solves the floor dial at tiny n — identical
    // results to the fixed-dial call
    val fixed = graft.ops.TextOps.winnowOverlap(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val auto = graft.ops.TextOps.winnowOverlapAuto(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto == fixed)
  }

  test("winnowOverlap drops over-full buckets and leaves them out of the guard's volume") {
    // docs 0-4 open with one boilerplate run, so each of its fingerprints
    // sits in a 5-row bucket, over the cap of 3; docs 0 and 1 also share a
    // run of their own, docs 5-7 share one (buckets of exactly the cap) and
    // docs 8 and 9 one more. Pairs among 0-4 other than (0, 1) share only
    // the boilerplate, so only over-full buckets could emit them
    def run(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    val boiler = run("b")
    val corpus = Seq(
      0L -> s"$boiler ${run("p")}", 1L -> s"$boiler ${run("p")}",
      2L -> boiler, 3L -> boiler, 4L -> boiler,
      5L -> run("q"), 6L -> run("q"), 7L -> run("q"),
      8L -> s"${run("r")} ${run("s")}", 9L -> s"${run("u")} ${run("r")}",
    ).toDF("doc_id", "text")
    val sizes = corpus.select(explode(TextOps.fingerprintWinnow(col("text"))).as("h"))
      .groupBy("h").count().collect().map(_.getLong(1))
    assert(sizes.contains(5L) && sizes.contains(3L))
    val kept = sizes.filter(_ <= 3).map(n => n * (n - 1) / 2).sum
    assert(sizes.map(n => n * (n - 1) / 2).sum > kept)
    def pairs(ceiling: Long) = TextOps.winnowOverlap(corpus, "text", "doc_id",
        maxBucketSize = 3, maxCandidatePairs = ceiling)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // a ceiling of exactly the kept buckets' volume passes, one below it
    // refuses: the over-full buckets never count toward the guard
    val got = pairs(kept)
    assert(got.map(p => (p._1, p._2)) == Set((0L, 1L), (5L, 6L), (5L, 7L), (6L, 7L), (8L, 9L)))
    val e = intercept[IllegalArgumentException](pairs(kept - 1))
    assert(e.getMessage.contains(s"would emit $kept candidate pairs"))
    // the unmeasured path drops the same buckets and returns the same rows
    assert(pairs(-1L) == got)
    // under the default cap the boilerplate pairs do flow
    assert(TextOps.winnowOverlap(corpus, "text", "doc_id").collect()
      .exists(r => r.getLong(0) == 2L && r.getLong(1) == 3L))
  }

  test("per-group quantile gate: median cutoff per group, nulls never pass") {
    val df = Seq(
      (0L, Some("en"), Some(10)), (1L, Some("en"), Some(20)),
      (2L, Some("en"), Some(30)), (3L, Some("en"), Some(40)),
      (4L, Some("fr"), Some(100)), (5L, Some("fr"), Some(200)),
      (6L, Some("en"), None),             // null value: never passes
      (7L, None, Some(7)), (8L, None, Some(9)), // null GROUP: its own cutoff
    ).toDF("id", "g", "v")
    val kept = Sample.keepAboveQuantile(df, "g", "v", q = 0.5)
      .collect().map(_.getLong(0)).toSet
    // en median (10,20,30,40) = 25 → 30,40 pass; fr median 150 → 200;
    // null group median (7,9) = 8 → 9 passes
    assert(kept == Set(2L, 3L, 5L, 8L))
    // the 100 TB dial returns the same gate here (approx ≈ exact on tiny
    // groups) and must at least keep the clear top
    val approx = Sample.keepAboveQuantile(df, "g", "v", q = 0.5, exact = false)
      .collect().map(_.getLong(0)).toSet
    assert(approx.contains(3L) && approx.contains(5L) && !approx.contains(6L))
  }

  test("temperature weights: alpha=1 keeps shares, smaller alpha lifts the tail") {
    val df = (Seq.fill(90)("big") ++ Seq.fill(10)("small")).toDF("src")
    val natural = Sample.temperatureWeights(df, "src", alpha = 1.0).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(natural("big") == 0.9 && natural("small") == 0.1)
    val cooled = Sample.temperatureWeights(df, "src", alpha = 0.5).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    // sqrt scaling: 90^.5 : 10^.5 ≈ 0.75 : 0.25 — the tail triples
    assert(cooled("small") > 0.2 && cooled("small") < 0.3)
    assert(math.abs(cooled.values.sum - 1.0) < 1e-5)
  }

  test("column profiler: one-pass stats incl. nulls; stddev null on single value") {
    val df = Seq(
      (Some(1.0), Some(10L)),
      (Some(3.0), None),
      (None, None),
    ).toDF("a", "b")
    val got = Stats.profileColumns(df, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getLong(1) == 2L && a.getLong(2) == 1L) // n non-null, n_null
    assert(a.getDouble(3) == 1.0 && a.getDouble(4) == 3.0 && a.getDouble(5) == 2.0)
    assert(math.abs(a.getDouble(6) - 1.414214) < 1e-6)
    val b = got("b")
    assert(b.getLong(1) == 1L && b.getLong(2) == 2L)
    assert(b.isNullAt(6)) // stddev_samp of one value
  }

  test("key-skew diagnostics: hot key surfaces with exact share and ratio") {
    // key 0 is hot (60 rows); keys 1..8 get 5 each; keys 10/11 tie at 5
    val rows = Seq.fill(60)(0L) ++ (1L to 8L).flatMap(k => Seq.fill(5)(k)) ++
      Seq.fill(5)(10L) ++ Seq.fill(5)(11L)
    val df = rows.toDF("k")
    val hh = Stats.heavyHitters(df, "k", 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hh.head == ((0L, 60L, 0.545455))) // share rounds to 6 dp
    // boundary ties resolve by value ascending: keys 1 and 2 (both 5)
    assert(hh.map(_._1).toSeq == Seq(0L, 1L, 2L))
    val sk = Stats.keySkew(df, "k").collect().head
    assert(sk.getLong(0) == 11L && sk.getLong(1) == 110L && sk.getLong(2) == 60L)
    assert(sk.getDouble(3) == 10.0)   // avg 110/11
    assert(sk.getDouble(5) == 6.0)    // skew = 60/10
  }

  test("salted aggregation equals the unsalted groupBy on a pathological key") {
    import Stats.SaltedAggSpec._
    // one pathological key with 5,000 rows, a handful of normal keys —
    // the shape that stalls an unsalted reduce task at scale
    val rows = (0 until 5000).map(i => (0L, i % 17, s"t${i % 5}")) ++
      (1L to 4L).flatMap(k => (0 until 10).map(i => (k, i, s"t${i % 3}")))
    val df = rows.toDF("k", "v", "tag")
    val specs = Seq(Count("n"), Sum("v", "sv"), Min("v", "mn"), Max("v", "mx"),
      Avg("v", "av"), DistinctCount("tag", "nd"))
    val salted = Stats.saltedAgg(df, Seq("k"), specs, nSalts = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getDouble(5), r.getLong(6))).toMap
    val plain = df.groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("sv"),
      min($"v").as("mn"), max($"v").as("mx"), avg($"v").as("av"),
      countDistinct($"tag").as("nd"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getDouble(5), r.getLong(6))).toMap
    assert(salted == plain)
    // the salt actually SPREADS the hot key: recompute stage 1's salt
    // (hash of the distinct column, the forced choice) and check the hot
    // key's rows land in several buckets — bounded task sizes, not one
    val spread = df.filter($"k" === 0L)
      .select(pmod(Sample.saltedHash($"tag", "salted-agg"), lit(8L)).as("salt"))
      .distinct().count()
    assert(spread >= 3, s"hot key spread over only $spread salt buckets")
    // holistic-aggregate misuse is unrepresentable; bad configs reject
    intercept[IllegalArgumentException] {
      Stats.saltedAgg(df, Seq("k"), specs, nSalts = 1)
    }
    intercept[IllegalArgumentException] {
      Stats.saltedAgg(df, Seq("k"),
        Seq(DistinctCount("tag", "a"), DistinctCount("v", "b")), nSalts = 8)
    }
    // Count-only has no value column to salt on → constant salt → one
    // bucket → zero spread: rejected without an explicit saltOn
    intercept[IllegalArgumentException] {
      Stats.saltedAgg(df, Seq("k"), Seq(Count("n")), nSalts = 8)
    }
    val countOnly = Stats.saltedAgg(df, Seq("k"), Seq(Count("n")), nSalts = 8,
        saltOn = Some($"v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(countOnly == df.groupBy($"k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("histogram: floor binning, group split, nulls excluded, empty bins absent") {
    val df = Seq(("a", Some(0.0)), ("a", Some(99.9)), ("a", Some(100.0)),
      ("a", Some(250.0)), ("b", Some(-0.5)), ("b", None)).toDF("g", "x")
    val got = Stats.histogram(df, "x", width = 100.0, groupCols = Seq("g"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(4)))
      .toSet
    assert(got == Set(
      ("a", 0L, 0.0, 2L),      // [0, 100): 0.0 and 99.9
      ("a", 1L, 100.0, 1L),    // boundary value opens the next bin
      ("a", 2L, 200.0, 1L),
      ("b", -1L, -100.0, 1L),  // negatives floor downward; null excluded
    ))
  }

  test("exact-n sample: exact count, deterministic, whole corpus when n exceeds it") {
    val df = (0L until 500L).toDF("id")
    val a = Sample.sampleExact(df, "id", n = 50, salt = "s").collect().map(_.getLong(0))
    assert(a.length == 50 && a.distinct.length == 50)
    val b = Sample.sampleExact(df.repartition(7), "id", n = 50, salt = "s")
      .collect().map(_.getLong(0))
    assert(a.sorted.toSeq == b.sorted.toSeq)         // layout-independent
    assert(Sample.sampleExact(df, "id", n = 1000).count() == 500)
    // different salt → different slice
    val c = Sample.sampleExact(df, "id", n = 50, salt = "t").collect().map(_.getLong(0))
    assert(c.sorted.toSeq != a.sorted.toSeq)
  }

  test("top-k per group: merit ranking, tie by id, null scores never win") {
    val df = Seq(
      (1L, "a", Some(0.9)), (2L, "a", Some(0.9)), (3L, "a", Some(0.5)),
      (4L, "a", None), (5L, "b", Some(0.1)), (6L, "b", None),
    ).toDF("id", "g", "score")
    val top2 = Sample.topKPerGroup(df, Seq("g"), "score", k = 2, tieCol = "id")
      .collect().map(r => r.getLong(0)).toSet
    // group a: the two 0.9s (tie broken toward id 1, 2); group b: 0.1
    // beats null, then the null row fills the second slot
    assert(top2 == Set(1L, 2L, 5L, 6L))
    val bottom1 = Sample.topKPerGroup(df, Seq("g"), "score", k = 1,
      tieCol = "id", desc = false).collect().map(r => r.getLong(0)).toSet
    assert(bottom1 == Set(3L, 5L)) // smallest real score wins; nulls still last
  }

  test("latest-wins compaction keeps the newest version per key") {
    val log = Seq(
      (10L, "k1", 1L, "v1"), (11L, "k1", 3L, "v3"), (12L, "k1", 2L, "v2"),
      (20L, "k2", 5L, "x1"), (21L, "k2", 5L, "x2"),     // version tie → higher id
      (30L, "k3", 9L, "only"),
    ).toDF("row_id", "key", "version", "payload")
    val got = Dedup.compactLatest(log, "key", "version", "row_id")
      .collect().map(r => r.getString(1) -> r.getString(3)).toMap
    assert(got == Map("k1" -> "v3", "k2" -> "x2", "k3" -> "only"))
  }

  test("language margin: decisive text scores a gap, ambiguous text scores zero") {
    val df = Seq(
      (0L, "the cat and the dog of the house is in a tree"), // en-only hits
      (1L, "un un"),                                          // fr and es tie ("un" in both)
      (2L, "nothing matching any list"),                      // all zero → margin 0
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.languageMargin($"text").as("m"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(0L) > 0)
    assert(got(1L) == 0)   // coin-flip call: the abstention signal fires
    assert(got(2L) == 0)
  }

  test("readability: hand-computed Flesch proxy, unpunctuated text is one sentence") {
    val df = Seq(
      (0L, "Hello world."),                    // 2 words, 1 sentence, 3 vowel groups
      (1L, "no punctuation at all here"),      // 5 words, min-1 sentence
      (2L, "???"),                             // tokenless → null
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.readability($"text").as("r"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got(0L) == Some(math.round((206.835 - 1.015 * 2 - 84.6 * (3.0 / 2)) * 1e6) / 1e6))
    // 5 words / min-1 sentence; vowel groups: o | u,ua,io | a | a | e,e = 8
    assert(got(1L) == Some(math.round((206.835 - 1.015 * 5 - 84.6 * (8.0 / 5)) * 1e6) / 1e6))
    assert(got(2L).isEmpty)
  }

  test("grouped binary eval localizes the failing slice") {
    val df = Seq(
      ("good", true, true), ("good", true, true), ("good", false, false),
      ("bad", true, false), ("bad", true, false), ("bad", false, true),
    ).toDF("src", "a", "p")
    val rows = Stats.binaryEvalByGroup(df, $"a", $"p", Seq("src"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("accuracy")).toMap
    assert(rows("good") == 1.0 && rows("bad") == 0.0)
  }

  test("zipf slope: exact least squares on a tiny head, near -1 on a planted zipf corpus") {
    val tiny = Seq((0L, Seq.fill(8)("aa").mkString(" ") + " " +
      Seq.fill(4)("bb").mkString(" ") + " " + Seq.fill(2)("cc").mkString(" ")))
      .toDF("doc_id", "text")
    val r = Lm.zipfSlope(tiny, "text", k = 3).collect().head
    assert(r.getLong(0) == 3L)
    // expected slope from the same least-squares formula
    val xs = Seq(math.log(1.0), math.log(2.0), math.log(3.0))
    val ys = Seq(math.log(8.0), math.log(4.0), math.log(2.0))
    val m = 3.0
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val sxx = xs.map(x => x * x).sum
    val slope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    assert(math.abs(r.getDouble(1) - math.round(slope * 1e6) / 1e6) < 1e-6)
    // a corpus with counts ~ c/rank fits slope ≈ -1
    val zipf = (1 to 50).flatMap(rk => Seq.fill(600 / rk)(s"tok$rk"))
    val corpus = Seq((0L, zipf.mkString(" "))).toDF("doc_id", "text")
    val s50 = Lm.zipfSlope(corpus, "text", k = 50).collect().head.getDouble(1)
    assert(s50 > -1.15 && s50 < -0.85, s"slope $s50")
  }

  test("confusion matrix: pair counts, per-class shares, null exclusion") {
    val df = Seq(
      ("en", "en"), ("en", "en"), ("en", "de"),
      ("de", "de"), (null: String, "en"), ("fr", null: String),
    ).toDF("a", "p")
    val got = Stats.confusionMatrix(df, $"a", $"p")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == Set(
      ("en", "en", 2L, 0.666667),
      ("en", "de", 1L, 0.333333),
      ("de", "de", 1L, 1.0),
    ))
  }

  test("binary eval: confusion counts, ratios, null exclusion, zero-denominator null") {
    val df = Seq(
      (true, true), (true, true), (true, false),          // 2 tp, 1 fn
      (false, true), (false, false), (false, false),      // 1 fp, 2 tn
    ).toDF("a", "p")
    val r = Stats.binaryEval(df, $"a", $"p").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 1L, 1L, 2L)))
    // all four ratios are 2/3 here, rounded to 6 places
    assert(r.getAs[Double]("accuracy") == 0.666667)
    assert(r.getAs[Double]("precision") == 0.666667)
    assert(r.getAs[Double]("recall") == 0.666667)
    assert(r.getAs[Double]("f1") == 0.666667)
    // null on either side is excluded, not coerced
    val withNulls = df.union(Seq((Option.empty[Boolean], Option(true)),
      (Option(true), Option.empty[Boolean])).toDF("a", "p"))
    val r2 = Stats.binaryEval(withNulls, $"a", $"p").collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(3)) == ((2L, 1L, 1L, 2L)))
    // degenerate: no positive predictions → precision null, not NaN
    val nopos = Stats.binaryEval(
      Seq((true, false), (false, false)).toDF("a", "p"), $"a", $"p").collect().head
    assert(nopos.isNullAt(nopos.fieldIndex("precision")))
    assert(nopos.getAs[Double]("recall") == 0.0)
  }

  test("truncate tokens: clips at the cap, normalizes whitespace, counts dropped") {
    val df = Seq(
      (0L, "one  two\tthree four five"),
      (1L, "short text"),
    ).toDF("id", "text")
    val (clipped, dropped) = TextOps.truncateTokens($"text", maxTokens = 3)
    val out = df.select($"id", clipped.as("t"), dropped.as("d"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(0L) == (("one two three", 2L)))   // runs of whitespace collapse
    assert(out(1L) == (("short text", 0L)))
  }

  test("resample to shares: scarcest group kept whole, mix approached, extras dropped") {
    val df = ((0L until 100L).map(i => (i, "a")) ++
      (100L until 700L).map(i => (i, "b")) ++
      (700L until 750L).map(i => (i, "zz"))).toDF("id", "g")
    val out = Sample.resampleToShares(df, "g",
      Seq("a" -> 0.5, "b" -> 0.5), "id", salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byG = out.groupBy(_._2).view.mapValues(_.size).toMap
    // scale is bound by 'a' (100/0.5 = 200): 'a' keeps everything
    // deterministically, 'b' hash-samples ~1/6 of 600, 'zz' is untargeted
    assert(byG("a") == 100)
    assert(byG("b") > 60 && byG("b") < 140, s"b kept ${byG("b")}")
    assert(!byG.contains("zz"))
    // deterministic across layouts
    val again = Sample.resampleToShares(df.repartition(11), "g",
      Seq("a" -> 0.5, "b" -> 0.5), "id", salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(again.sorted.toSeq == out.sorted.toSeq)
    // loud on a target group the corpus doesn't have
    intercept[IllegalArgumentException] {
      Sample.resampleToShares(df, "g", Seq("a" -> 0.5, "nope" -> 0.5), "id")
    }
    // loud on shares that don't sum to 1
    intercept[IllegalArgumentException] {
      Sample.resampleToShares(df, "g", Seq("a" -> 0.5, "b" -> 0.6), "id")
    }
  }

  test("content set ops: intersect finds verbatim cross-corpus copies, except removes them") {
    val a = Seq((1L, "Shared  Text"), (2L, "only in a"), (3L, "also shared")).toDF("id", "text")
    val b = Seq((10L, "shared text"), (11L, "also shared"), (12L, "only in b")).toDF("id", "text")
    // normalized matching: case/whitespace differences still intersect
    val inter = Dedup.intersectByContent(a, b, "text").collect().map(_.getLong(0)).toSet
    assert(inter == Set(1L, 3L))
    val except = Dedup.exceptByContent(a, b, "text").collect().map(_.getLong(0)).toSet
    assert(except == Set(2L))
    // intersect + except partition a exactly
    assert((inter ++ except) == Set(1L, 2L, 3L) && (inter & except).isEmpty)
  }

  test("snapshot diff: added/removed/changed statuses, unchanged hidden by default") {
    val prev = Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, null: String))
      .toDF("id", "text")
    val next = Seq((2L, "two"), (3L, "three EDITED"), (4L, ""), (5L, "five"))
      .toDF("id", "text")
    val diff = Dedup.snapshotDiff(prev, next, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // id 2 unchanged (absent); id 4: null text digests like empty text
    assert(diff == Map(1L -> "removed", 3L -> "changed", 5L -> "added"))
    val full = Dedup.snapshotDiff(prev, next, "id", "text", includeUnchanged = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full(2L) == "unchanged" && full(4L) == "unchanged" && full.size == 5)
  }

  test("shuffle order: a true permutation, dense per shard, layout-deterministic") {
    val df = (0L until 3000L).toDF("id")
    val out = Sample.shuffleOrder(df, "id", nShards = 7, salt = "s")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // every row keeps exactly one address
    assert(out.length == 3000 && out.map(_._1).distinct.length == 3000)
    // positions are dense 0..n-1 within each shard
    for ((shard, rows) <- out.groupBy(_._2)) {
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length.toLong),
        s"shard $shard positions not dense")
    }
    // the permutation actually breaks input order (not the identity)
    val firstShardIds = out.filter(_._2 == 0).sortBy(_._3).map(_._1).toSeq
    assert(firstShardIds != firstShardIds.sorted)
    // layout determinism: a different input partitioning replays the
    // exact same addresses
    val again = Sample.shuffleOrder(df.repartition(13), "id", nShards = 7, salt = "s")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(again.toSeq == out.sortBy(_._1).toSeq)
    // a new salt gives a different permutation
    val other = Sample.shuffleOrder(df, "id", nShards = 7, salt = "s2")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(other.toSeq != out.sortBy(_._1).toSeq)
  }

  test("approx distinct meter: HLL lands near exact, approx-only drops the exact plan") {
    val df = (0L until 5000L).map(i => (i % 10, s"key_${i % 1234}")).toDF("g", "k")
    val rows = Stats.approxDistinct(df, "k", Seq("g"), rsd = 0.05)
      .collect()
    assert(rows.length == 10)
    for (r <- rows) {
      assert(r.getAs[Long]("n_distinct") > 0)
      assert(r.getAs[Double]("rel_err") <= 0.15,
        s"group ${r.get(0)}: rel_err ${r.getAs[Double]("rel_err")}")
    }
    // approx-only mode: no exact aggregate in schema or plan (the mixed
    // exact+distinct aggregation plans through an Expand; the pure-sketch
    // aggregation must not)
    val approxOnly = Stats.approxDistinct(df, "k", Seq("g"), rsd = 0.05, exact = false)
    assert(approxOnly.columns.toSeq == Seq("g", "n_rows", "n_distinct_approx"))
    assert(!approxOnly.queryExecution.executedPlan.toString.contains("Expand"),
      "approx-only plan must not expand a count-distinct")
  }

  test("hash split: exact partition, growth-stable, rest tag when weights < 1") {
    val df = (0L until 2000L).toDF("id")
    val got = Sample.splitByHash(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every row gets exactly one tag; proportions are hash-approximate
    assert(got.size == 2000)
    val byTag = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byTag.keySet == Set("train", "val", "test"))
    assert(byTag("train") > 1500 && byTag("val") > 130 && byTag("test") > 130)
    // growth stability: a corpus PREFIX gets identical assignments
    val sub = Sample.splitByHash((0L until 500L).toDF("id"), "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sub.forall { case (k, v) => got(k) == v })
    // weights summing under 1 leave a 'rest' remainder
    val withRest = Sample.splitByHash(df, "id", Seq("train" -> 0.5), salt = "s")
      .collect().map(_.getString(1)).groupBy(identity).view.mapValues(_.size).toMap
    assert(withRest.keySet == Set("train", "rest"))
    assert(math.abs(withRest("train") - withRest("rest")) < 200)
  }

  test("leakage-safe split keeps every near-dup cluster on one side") {
    val ws = Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25)
    val split = Dedup.leakageSafeSplit(docs, "text", "doc_id", ws, salt = "s",
        numHashes = 128, bands = 32, threshold = 0.5)
      .select(col("doc_id"), col("dup_group"), col("split")).collect()
    assert(split.length == 6)
    val byGroup = split.groupBy(_.getAs[Long]("dup_group"))
    // the planted family (0=1 exact, 2/3 near) is one cluster...
    assert(byGroup.exists(_._2.length >= 3))
    // ...and no cluster straddles a split boundary
    byGroup.foreach { case (_, rows) =>
      assert(rows.map(_.getAs[String]("split")).toSet.size == 1)
    }
    // the assignment IS splitByHash on the cluster label — same buckets,
    // no private re-derivation that could drift from the plain split
    val byLabel = Sample.splitByHash(docs.select(col("doc_id")), "doc_id", ws, salt = "s")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    split.foreach { r =>
      assert(r.getAs[String]("split") == byLabel(r.getAs[Long]("dup_group")))
    }
  }

  test("cross-source overlap counts shared distinct content per source pair") {
    val corpus = Seq(
      (0L, "web", "shared one"),
      (1L, "web", "shared  ONE "),   // same normalized content, same source
      (2L, "web", "web only text"),
      (3L, "books", "shared one"),   // duplicated across web/books
      (4L, "books", "books only text"),
      (5L, "wiki", "wiki only text"),
    ).toDF("doc_id", "source", "text")
    val got = Dedup.crossSourceOverlap(corpus, "text", "source").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // diagonal: distinct content per source (web's two "shared one" collapse)
    assert(got(("web", "web")) == 2L)
    assert(got(("books", "books")) == 2L)
    assert(got(("wiki", "wiki")) == 1L)
    // off-diagonal: only the planted web/books overlap, ordered a <= b
    assert(got(("books", "web")) == 1L)
    assert(!got.contains(("web", "books")))
    assert(!got.contains(("books", "wiki")) && !got.contains(("web", "wiki")))
  }

  test("bloom_might_contain: no false negatives; FPs bounded on a planted set") {
    graft.functions.GraftFunctions.register(spark)
    val members = (0L until 200L).map(_ * 7919L)
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(200, 0.01)
    members.foreach(bloom.putLong)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream(); bloom.writeTo(bos); bos.toByteArray
    }
    val probes = (members ++ (1L to 2000L).map(_ * 7919L + 3L)).toDF("h")
    val got = probes.withColumn("hit",
      graft.functions.GraftFunctions.bloomMightContain(bytes, $"h"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(members.forall(got(_)), "bloom false negative")
    val fps = (1L to 2000L).map(_ * 7919L + 3L).count(got(_))
    assert(fps < 100, s"implausible FP count for 1% target: $fps")
  }

  test("bloom decontamination equals exact decontamination, even at high FPP") {
    // every token carries its doc index, so no 5-gram crosses documents:
    // the ONLY benchmark overlap is the exact copies of docs 7 and 19
    def words(i: Long) = ('a' to 'h').map(c => s"w$i$c").mkString(" ")
    val corpus = (0L until 30L).map(i => (i, words(i))).toDF("doc_id", "text")
    val bench = Seq((100L, words(7L)), (101L, words(19L))).toDF("doc_id", "text")
    for (fpp <- Seq(0.01, 0.4); minOv <- Seq(1, 2)) {
      val exact = TextOps.decontaminate(corpus, bench, "text", "doc_id", n = 5, minOv)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      val bloomed = TextOps.decontaminateBloom(corpus, bench, "text", "doc_id", n = 5, minOv, fpp)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(bloomed == exact, s"fpp=$fpp minOverlap=$minOv")
    }
    // sanity: the planted contaminated docs really are dropped at minOverlap=1
    val kept = TextOps.decontaminateBloom(corpus, bench, "text", "doc_id", n = 5)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(7L) && !kept.contains(19L) && kept.contains(3L))
  }

  test("span dedup removes cross-doc spans from BOTH docs; short/within-doc repeats survive") {
    graft.functions.GraftFunctions.register(spark)
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // exactly k=8 tokens
    val corpus = Seq(
      (0L, s"one two $shared three four"),
      (1L, s"$shared five six seven"),
      (2L, "unique prose that repeats repeats repeats repeats nothing shared across documents here"),
      (3L, "tiny doc"), // < k tokens: passes through whole
    ).toDF("doc_id", "text")
    def run() = TextOps.dedupSpans(corpus, "text", "doc_id", k = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val got = run()
    // a second construction over the same frame gives identical rows
    assert(run() == got)
    // the shared 8-token span vanishes from BOTH documents (no canonical
    // survivor — that's the Lee-et-al semantics), neighbors survive
    assert(got(0L) == (("one two three four", 12L, 8L)))
    assert(got(1L) == (("five six seven", 11L, 8L)))
    // within-document repetition alone is not cross-document duplication
    assert(got(2L)._3 == 0L && got(2L)._1.startsWith("unique prose"))
    assert(got(3L) == (("tiny doc", 2L, 0L)))
    // overlapping duplicated shingles merge into one covered region:
    // doc 4/5 share a 9-token run = two overlapping 8-shingles
    val overlap = Seq(
      (4L, "x alpha beta gamma delta epsilon zeta eta theta iota y"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota"),
    ).toDF("doc_id", "text")
    val got2 = TextOps.dedupSpans(corpus.union(overlap), "text", "doc_id", 8, 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2(4L) == "x y")
    assert(got2(5L) == "")
  }

  test("span dedup: a null-id row counts toward no span's document frequency and passes through") {
    graft.functions.GraftFunctions.register(spark)
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // exactly k=8 tokens
    def rows(docs: org.apache.spark.sql.DataFrame, minDocs: Int) =
      TextOps.dedupSpans(docs, "text", "doc_id", k = 8, minDocs = minDocs)
        .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) ->
          ((r.getString(1), r.getLong(3)))).toMap
    // one real document and one null-id row share the 8-shingle: the
    // shingle occurs in one document only, so nothing is removed
    val nullRow = Seq((Option.empty[Long], s"$shared null tail")).toDF("doc_id", "text")
    val one = Seq((Option(1L), s"head $shared")).toDF("doc_id", "text")
    val got = rows(one.union(nullRow), minDocs = 2)
    assert(got(Some(1L)) == ((s"head $shared", 0L)))
    assert(got(None) == ((s"$shared null tail", 0L)))
    // the general (minDocs > 2) path counts the same way: two real
    // documents plus the null-id row are two documents, below minDocs = 3
    val two = one.union(Seq((Option(2L), s"$shared again")).toDF("doc_id", "text"))
    val got3 = rows(two.union(nullRow), minDocs = 3)
    assert(got3(Some(1L)) == ((s"head $shared", 0L)))
    assert(got3(Some(2L)) == ((s"$shared again", 0L)))
    assert(got3(None) == ((s"$shared null tail", 0L)))
  }

  test("unigram LM: common-token docs score fewer bits than gibberish; OOV heaviest") {
    val train = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the dog sat on the rug"),
      (2L, "the cat and the dog sat"),
    ).toDF("doc_id", "text")
    val score = Seq(
      (10L, "the the the"),          // most frequent training token only
      (11L, "cat dog rug mat"),      // mid-frequency training tokens
      (12L, "zyx qwv jkp"),          // all OOV -> max smoothed bits
      (13L, ""),                     // no tokens -> dropped, not scored
    ).toDF("doc_id", "text")
    val got = Lm.unigramBits(score, train, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(10L, 11L, 12L))
    assert(got(10L)._1 == 3L && got(11L)._1 == 4L)
    assert(got(10L)._2 < got(11L)._2 && got(11L)._2 < got(12L)._2)
    // OOV bits are exactly -log2(1 / (N + V)): N=18 tokens, V=8 distinct
    assert(math.abs(got(12L)._2 - (math.log(18 + 8) / math.log(2))) < 1e-6)
    // layout-independence: same scores from a repartitioned input
    val again = Lm.unigramBits(score.repartition(7), train.repartition(5), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.map { case (k, v) => k -> v._2 } == again)
  }

  test("vocab coverage: exact occurrence fractions; zero when nothing matches") {
    val train = Seq((0L, "the cat the dog the cat")).toDF("doc_id", "text")
    val score = Seq((1L, "the the cat bird")).toDF("doc_id", "text")
    // top-2 vocab = {the(3), cat(2)}; score occurrences: the×2 + cat×1
    // covered of 4 total
    val got = Lm.vocabCoverage(score, train, "text", topN = 2).collect().head
    assert(got.getLong(0) == 3L && got.getLong(1) == 4L && got.getDouble(2) == 0.75)
    val none = Lm.vocabCoverage(
      Seq((1L, "zz yy")).toDF("doc_id", "text"), train, "text", 2).collect().head
    assert(none.getLong(0) == 0L && none.getDouble(2) == 0.0)
  }

  test("OOV rate: per-doc fractions exact; pure-OOV doc at 1.0; empty doc dropped") {
    val train = Seq((0L, "the cat the dog")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "the cat bird"),  // 1 of 3 OOV
      (2L, "zz yy"),         // all OOV
      (3L, ""),              // no tokens -> dropped
    ).toDF("doc_id", "text")
    val got = Lm.oovRate(score, train, "text", "doc_id", topN = 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((3L, 1L, 0.333333)))
    assert(got(2L) == ((2L, 2L, 1.0)))
    // tightening the vocab raises the rate: topN=1 keeps only "the"
    val tight = Lm.oovRate(score, train, "text", "doc_id", topN = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(tight(1L) == 0.666667)
  }

  test("empty corpus is total: curation, dedup, LM, stats all yield empty, not errors") {
    val empty = spark.emptyDataFrame
      .withColumn("doc_id", lit(0L)).withColumn("text", lit("x"))
      .filter(lit(false)).select($"doc_id", $"text")
    assert(Curate.curate(empty, "text", "doc_id").count() == 0)
    assert(TextOps.dedupSpans(empty, "text", "doc_id").count() == 0)
    assert(TextOps.winnowOverlap(empty, "text", "doc_id").count() == 0)
    assert(Dedup.exact(empty, "text", "doc_id").count() == 0)
    assert(Dedup.crossSourceOverlap(
      empty.withColumn("source", lit("s")), "text", "source").count() == 0)
    assert(Lm.unigramBits(empty, empty, "text", "doc_id").count() == 0)
    assert(Stats.heavyHitters(empty, "doc_id", 5).count() == 0)
    assert(Sample.splitByHash(empty, "doc_id", Seq("a" -> 0.5)).count() == 0)
    // keySkew/profile on empty input: one row of zeros/nulls, no crash
    assert(Stats.keySkew(empty, "doc_id").collect().head.getLong(0) == 0L)
    // vocab meters: empty score corpus -> (0, 0, null) coverage row,
    // zero oovRate rows; empty TRAIN corpus -> empty vocab, coverage 0
    val some = Seq((1L, "a b c")).toDF("doc_id", "text")
    val cov = Lm.vocabCoverage(empty, some, "text", topN = 10).collect().head
    assert(cov.getLong(0) == 0L && cov.getLong(1) == 0L && cov.isNullAt(2))
    assert(Lm.oovRate(empty, some, "text", "doc_id", topN = 10).count() == 0)
    val covEmptyTrain = Lm.vocabCoverage(some, empty, "text", topN = 10).collect().head
    assert(covEmptyTrain.getLong(0) == 0L && covEmptyTrain.getLong(1) == 3L
      && covEmptyTrain.getDouble(2) == 0.0)
  }

  test("bigram LM is word-order sensitive where the unigram LM is blind") {
    val train = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat sat on the rug"),
      (2L, "the dog sat on the mat"),
    ).toDF("doc_id", "text")
    val probes = Seq(
      (10L, "the cat sat on the mat"),  // natural order, seen transitions
      (11L, "mat the on sat cat the"),  // same token HISTOGRAM, scrambled
      (12L, "one"),                     // single token: no transitions -> dropped
    ).toDF("doc_id", "text")
    val bg = Lm.bigramBits(probes, train, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(bg.keySet == Set(10L, 11L))
    assert(bg(10L)._1 == 5L) // 6 tokens -> 5 transitions
    assert(bg(10L)._2 < bg(11L)._2, s"natural ${bg(10L)._2} !< scrambled ${bg(11L)._2}")
    // the unigram model cannot tell them apart (identical histograms)
    val uni = Lm.unigramBits(probes, train, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(uni(10L) - uni(11L)) < 1e-9)
  }

  test("tf-idf: rare repeated terms outrank ubiquitous ones; k bounds output") {
    val corpus = Seq(
      (0L, "shared shared quantum quantum quantum word"),
      (1L, "shared shared word other thing"),
      (2L, "shared word plasma plasma"),
    ).toDF("doc_id", "text")
    val got = Lm.tfIdfTopTerms(corpus, "text", "doc_id", k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3)))
    // per doc at most k rows, ranks 1..k contiguous
    got.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.sameElements(1 to rs.length))
      assert(rs.length <= 2)
    }
    val top = got.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
    // doc-unique repeated terms win over "shared" (df = 3, idf at floor 1.0)
    assert(top(0L) == "quantum")
    assert(top(2L) == "plasma")
    // doc 1 has no unique repeated term: tf=2 "shared" (idf=1) vs tf=1
    // uniques (idf = ln(4/2)+1 ≈ 1.69) → "shared" score 2.0 wins
    assert(top(1L) == "shared")
  }

  test("perplexity buckets: terciles split head/middle/tail by score") {
    val scored = (0 until 9).map(i => (i.toLong, i.toDouble)).toDF("id", "bits")
    val got = Lm.perplexityBuckets(scored, "bits").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // percentile(1/3) over 0..8 = 8/3 ≈ 2.67, percentile(2/3) ≈ 5.33
    assert((0L to 2L).forall(got(_) == "head"))
    assert((3L to 5L).forall(got(_) == "middle"))
    assert((6L to 8L).forall(got(_) == "tail"))
    // approx path: same buckets on this small, well-separated input
    val approx = Lm.perplexityBuckets(scored, "bits", exact = false).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(approx == got)
  }

  test("epoch allocation water-fills: caps bind in r order, rest proportional") {
    // caps (maxE=2): A 200, B 200, C 100; r = cap/w: C 20, B 50, A 200.
    // budget 260: C saturates (needs 20×Σw=200 ≤ 260); λ = (260-100)/5
    // = 32 → B gets 128 (1.28 epochs), A gets 32 (0.32 epochs);
    // allocations sum exactly to the budget.
    val docs = Seq(("A", 100L, 1), ("B", 100L, 4), ("C", 50L, 5))
      .toDF("source", "n", "w")
    val got = Sample.epochAllocation(docs, "source", $"n", $"w",
      budgetTokens = 260.0, maxEpochs = 2.0)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Double]("alloc_tokens"), r.getAs[Double]("epochs"),
          r.getAs[Boolean]("saturated")))).toMap
    assert(got("C") == ((100.0, 2.0, true)))
    assert(got("B") == ((128.0, 1.28, false)))
    assert(got("A") == ((32.0, 0.32, false)))
    assert(got.values.map(_._1).sum == 260.0)

    // budget beyond total capacity: everything saturates at maxEpochs
    val full = Sample.epochAllocation(docs, "source", $"n", $"w",
      budgetTokens = 1000.0, maxEpochs = 2.0)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Double]("epochs"), r.getAs[Boolean]("saturated")))).toMap
    assert(full.values.forall(_ == ((2.0, true))))

    // zero-token / nonpositive-weight sources are excluded
    val dirty = docs.union(Seq(("D", 0L, 3), ("E", 10L, 0)).toDF("source", "n", "w"))
    assert(Sample.epochAllocation(dirty, "source", $"n", $"w", 260.0, 2.0)
      .collect().map(_.getString(0)).toSet == Set("A", "B", "C"))
  }

  test("epoch expansion: full copies exact, fractional epoch hash-sampled") {
    val docs = (0 until 100).map(i => (i.toLong, if (i < 50) "A" else "B"))
      .toDF("doc_id", "source")
    val alloc = Seq(("A", 2.0), ("B", 0.5)).toDF("source", "epochs")
    val got = Sample.expandEpochs(docs, "source", "doc_id", alloc, salt = "t")
      .groupBy($"source", $"epoch").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // A at 2.0 epochs: epochs 0 and 1 complete, no epoch-2 stragglers
    assert(got(("A", 0)) == 50L && got(("A", 1)) == 50L)
    assert(!got.contains(("A", 2)))
    // B at 0.5 epochs: one partial epoch, hash-approximate around 25 of 50
    val b0 = got(("B", 0))
    assert(!got.contains(("B", 1)))
    assert(b0 > 10 && b0 < 40, s"fractional epoch kept $b0 of 50")
    // deterministic: the same call picks the same rows
    val again = Sample.expandEpochs(docs, "source", "doc_id", alloc, salt = "t")
      .filter($"source" === "B").select($"doc_id").collect().map(_.getLong(0)).toSet
    val first = Sample.expandEpochs(docs, "source", "doc_id", alloc, salt = "t")
      .filter($"source" === "B").select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(again == first)
  }

  // ---- hard-negative / hard-positive mining ----
  // Planted bands: each corpus vector (c, sqrt(1-c^2), 0) has cosine ~c
  // with the anchor (1,0,0); the duplicate has cosine exactly 1.0 (pins
  // the exclusive maxCos boundary without float-equality games) and the
  // zero vector yields NaN (0/0) and must never surface.
  private lazy val bandVecs = Seq(
    (100L, Array(1.0f, 0.0f, 0.0f)),        // anchor (also in corpus)
    (1L, Array(1.0f, 0.0f, 0.0f)),          // exact dup: cosine 1.0
    (2L, Array(0.95f, 0.3122499f, 0.0f)),   // ~0.95
    (3L, Array(0.85f, 0.5267827f, 0.0f)),   // ~0.85
    (4L, Array(0.7f, 0.7141428f, 0.0f)),    // ~0.70
    (5L, Array(0.5f, 0.8660254f, 0.0f)),    // ~0.50
    (6L, Array(0.2f, 0.9797959f, 0.0f)),    // ~0.20
    (7L, Array(0.0f, 0.0f, 0.0f)),          // zero vector: NaN cosine
  ).toDF("vec_id", "embedding")
  private lazy val bandProbe = bandVecs.filter($"vec_id" === 100L)

  test("hardNegatives keeps only the [minCos, maxCos) band, hardest first") {
    val got = Similarity.hardNegatives(bandVecs, bandProbe, "embedding", "vec_id",
      k = 10, maxCos = 0.8, minCos = 0.4).orderBy($"rank").collect()
    assert(got.map(_.getAs[Long]("neighbor_id")).toList == List(4L, 5L))
    assert(got.map(_.getAs[Int]("rank")).toList == List(1, 2))
    assert(got.forall { r =>
      val c = r.getAs[Double]("cosine"); c >= 0.4 && c < 0.8
    })
  }

  test("hardNegatives maxCos boundary is exclusive on the reported cosine") {
    val got = Similarity.hardNegatives(bandVecs, bandProbe, "embedding", "vec_id",
      k = 10, maxCos = 1.0).orderBy($"rank").collect()
    // the exact dup (cosine 1.0) is a presumed positive — excluded; the
    // hardest surviving negative is the ~0.95 row
    assert(!got.map(_.getAs[Long]("neighbor_id")).contains(1L))
    assert(got.head.getAs[Long]("neighbor_id") == 2L)
    assert(got.forall(_.getAs[Double]("cosine") < 1.0))
  }

  test("hardPositives ranks ascending: rank 1 = lowest cosine above the floor") {
    val got = Similarity.hardPositives(bandVecs, bandProbe, "embedding", "vec_id",
      k = 10, minCos = 0.8).orderBy($"rank").collect()
    // borderline positive first (~0.85), strongest (the exact dup) last
    assert(got.map(_.getAs[Long]("neighbor_id")).toList == List(3L, 2L, 1L))
    assert(got.map(_.getAs[Double]("cosine")).toList.sorted ==
      got.map(_.getAs[Double]("cosine")).toList)
    assert(got.forall(_.getAs[Double]("cosine") >= 0.8))
  }

  test("LSH hard miners match the exact miners at a generous table count") {
    // planes=2, tables=8: per-table collision for an in-band pair at
    // cosine ~0.5 is (1-θ/π)^2 ≈ 0.44, so 8 OR'd tables find it with
    // ~0.99 probability — and the hash family is seeded/deterministic, so
    // this is a fixed outcome, not a flaky one. With every band member
    // found, the banded miner's output (incl. ranks — both rank by exact
    // cosine) must EQUAL the exact miner's.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"probe_id", $"rank").collect()
        .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toList
    assert(
      rows(Similarity.hardNegativesLsh(bandVecs, bandProbe, "embedding", "vec_id",
        k = 10, maxCos = 0.8, minCos = 0.4, planes = 2, tables = 8)) ==
      rows(Similarity.hardNegatives(bandVecs, bandProbe, "embedding", "vec_id",
        k = 10, maxCos = 0.8, minCos = 0.4)))
    assert(
      rows(Similarity.hardPositivesLsh(bandVecs, bandProbe, "embedding", "vec_id",
        k = 10, minCos = 0.8, planes = 2, tables = 8)) ==
      rows(Similarity.hardPositives(bandVecs, bandProbe, "embedding", "vec_id",
        k = 10, minCos = 0.8)))
  }

  test("triplet assembly crosses each anchor's positives with its negatives") {
    val got = Similarity.miningTriplets(bandVecs, bandProbe, "embedding", "vec_id",
      kPos = 2, kNeg = 2, minPosCos = 0.8, maxNegCos = 0.8, minNegCos = 0.4)
      .collect()
    // positives ranked ascending: {3 (~0.85), 2 (~0.95)}; negatives
    // descending: {4 (~0.70), 5 (~0.50)} → exactly the 2×2 cross
    val trip = got.map(r => (r.getAs[Long]("anchor_id"),
      r.getAs[Long]("pos_id"), r.getAs[Long]("neg_id"))).toSet
    assert(trip == Set((100L, 3L, 4L), (100L, 3L, 5L), (100L, 2L, 4L), (100L, 2L, 5L)))
    assert(got.forall(r => r.getAs[Double]("pos_cosine") > r.getAs[Double]("neg_cosine")))
    val ranks = got.map(r => ((r.getAs[Long]("pos_id"), r.getAs[Long]("neg_id")),
      (r.getAs[Int]("pos_rank"), r.getAs[Int]("neg_rank")))).toMap
    assert(ranks((3L, 4L)) == (1, 1)) // hardest positive × hardest negative
  }

  test("provenance dedup: representative carries sorted source set and copy count") {
    val df = Seq(
      (0L, "shared page", Some("crawl-a")),
      (1L, "SHARED   page", Some("crawl-b")), // normalized dup, other source
      (2L, "shared page", Some("crawl-a")),   // dup within the same source
      (3L, "unique page", Some("crawl-c")),
      (4L, "orphan page", None),              // null source: counted, not listed
      (5L, "orphan page", Some("crawl-d")),
    ).toDF("doc_id", "text", "source")
    val got = Dedup.exactKeepFirstWithProvenance(df, "text", "doc_id", "source")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_copies"), r.getAs[String]("sources")))).toMap
    assert(got.keySet == Set(0L, 3L, 4L))
    assert(got(0L) == ((3L, "crawl-a,crawl-b")))
    assert(got(3L) == ((1L, "crawl-c")))
    assert(got(4L) == ((2L, "crawl-d"))) // null label skipped, copy counted
  }

  test("incremental boilerplate: history frequency decides, batch repeats survive") {
    val history = Seq(
      (0L, "real content\nshared footer"),
      (1L, "other words\nshared footer"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "fresh text\nshared footer"),     // history-frequent: removed
      (11L, "batch echo\nfresh line"),
      (12L, "batch echo\nanother line"),      // 'batch echo' repeats IN BATCH
    ).toDF("doc_id", "text")
    val store = TextOps.boilerplateDigests(history, "text", "\n", minDocs = 2)
    val got = TextOps.removeBoilerplateWith(batch, store, "text", "doc_id", "\n")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(10L) == (("fresh text", 1L)))
    // batch-internal repetition is NOT the store's call — both copies stay
    assert(got(11L) == (("batch echo\nfresh line", 0L)))
    assert(got(12L) == (("batch echo\nanother line", 0L)))
    // the full-pass operator is exactly store-build + apply on one corpus
    val full = TextOps.removeBoilerplate(history, "text", "doc_id", "\n", minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full(0L) == "real content" && full(1L) == "other words")
  }

  test("incremental connected components: star compression, closure, full parity") {
    val priorEdges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val histNodes = Seq(1L, 2L, 3L, 9L).toDF("id")
    val prior = Dedup.connectedComponents(priorEdges, histNodes)
    // new batch: an edge merging into history (3-4), a batch-only pair
    // (5-6), and an untouched singleton (7)
    val newPairs = Seq((3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val newNodes = Seq(4L, 5L, 6L, 7L).toDF("id")
    val inc = Dedup.connectedComponentsIncrement(prior, newPairs, newNodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 9L -> 9L))
    // parity: identical to a full recompute over every edge
    val full = Dedup.connectedComponents(
        priorEdges.union(newPairs),
        histNodes.union(newNodes))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full)
    // closed under iteration: feeding the output back with no new pairs
    // is a fixed point
    val again = Dedup.connectedComponentsIncrement(
        inc.toSeq.toDF("id", "comp"),
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
        Seq.empty[Long].toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == inc)
  }

  test("nfc pre-pass makes digest dedup catch mixed-encoding duplicates") {
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (0L, "caf\u00e9 menu"),  // precomposed e-acute
      (1L, "cafe\u0301 menu"), // combining mark — same text, different bytes
      (2L, "other doc"),
    ).toDF("doc_id", "text")
    // raw digests differ: the duplicate slips through
    assert(Dedup.exactKeepFirst(df, "text", "doc_id").count() == 3)
    // one nfc_normalize projection upstream and the digest unifies
    val fixed = df.withColumn("text",
      graft.functions.GraftFunctions.nfcNormalize(col("text")))
    val kept = Dedup.exactKeepFirst(fixed, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L))
  }

  test("calibration bins and ECE: hand-computed gaps, edge clamping, null exclusion") {
    val df = Seq(
      (Some(false), Some(0.1)), (Some(false), Some(0.1)),   // bin 1: frac 0, mean .1
      (Some(true), Some(0.55)), (Some(true), Some(0.55)),   // bin 5: frac .5,
      (Some(false), Some(0.55)), (Some(false), Some(0.55)), //        mean .55
      (Some(true), Some(1.5)),   // above hi → clamps into bin 9
      (Some(false), Some(-0.2)), // below lo → clamps into bin 0
      (None, Some(0.3)), (Some(true), None), // nulls excluded
    ).toDF("y", "s")
    val bins = Stats.calibrationBins(df, col("y"), col("s"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(bins.keySet == Set(0, 1, 5, 9))
    assert(bins(1) == ((2L, 0.1, 0.0)))
    assert(bins(5) == ((4L, 0.55, 0.5)))
    assert(bins(9) == ((1L, 1.5, 1.0)))
    assert(bins(0) == ((1L, -0.2, 0.0)))
    // ECE = (2·0.1 + 4·0.05 + 1·0.5 + 1·0.2) / 8 = 1.1/8 = 0.1375
    val e = Stats.expectedCalibrationError(df, col("y"), col("s")).collect().head
    assert(e.getLong(0) == 8L && e.getLong(1) == 4L)
    assert(e.getDouble(2) == 0.1375)
    assert(e.getDouble(3) == 0.5) // worst bin: the clamped 1.5 row
  }

  test("BM25: rare terms dominate, tf raises, non-matching docs drop") {
    val df = Seq(
      (0L, "apple banana banana banana"),
      (1L, "apple cherry"),
      (2L, "cherry cherry cherry"),
      (3L, "durian fig grape"),
    ).toDF("doc_id", "text")
    val got = Retrieval.bm25(df, "text", "doc_id", "apple banana")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // only docs containing a query term appear
    assert(got.keySet == Set(0L, 1L))
    assert(got(0L)._1 == 2L && got(1L)._1 == 1L)
    // doc 0 matches both terms incl. the rarer 'banana' (df 1 vs 2) —
    // must outscore the apple-only doc
    assert(got(0L)._2 > got(1L)._2)
    // higher tf raises the score (with saturation): cherry×3 > cherry×1
    val ch = Retrieval.bm25(df, "text", "doc_id", "cherry")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ch.keySet == Set(1L, 2L) && ch(2L) > ch(1L))
    // duplicate query terms collapse (BM25 is over distinct terms)
    val dup = Retrieval.bm25(df, "text", "doc_id", "cherry CHERRY cherry!")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(dup == ch)
    // top-k is the score-desc head with the id tiebreak
    val top = Retrieval.bm25TopK(df, "text", "doc_id", "apple banana", k = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(0L))
  }

  test("reciprocal-rank fusion: hand-computed ranks, overlap wins, topK cuts") {
    val la = Seq((1L, 3.0), (2L, 2.0), (3L, 1.0)).toDF("id", "s") // ranks 1,2,3
    val lb = Seq((2L, 9.0), (3L, 8.0), (4L, 7.0)).toDF("id", "s") // ranks 1,2,3
    val got = Retrieval.reciprocalRankFusion(
        Seq((la, "s"), (lb, "s")), "id", topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // id 2: 1/62 + 1/61; id 3: 1/63 + 1/62; id 1: 1/61; id 4: 1/63
    assert(got.map(_._1).toSeq == Seq(2L, 3L, 1L, 4L))
    assert(got.map(_._2).toSeq == Seq(2L, 2L, 1L, 1L))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    assert(got(0)._3 == r6(1.0 / 62 + 1.0 / 61))
    assert(got(3)._3 == r6(1.0 / 63))
    // topK bounds the fused list
    assert(Retrieval.reciprocalRankFusion(
      Seq((la, "s"), (lb, "s")), "id", topK = 3).count() == 3)
  }

  test("BM25 steady-state scorer matches the in-plan batch scorer exactly") {
    val df = Seq(
      (0L, "apple banana banana banana"),
      (1L, "apple cherry"),
      (2L, "cherry cherry cherry"),
      (3L, "durian fig grape"),
    ).toDF("doc_id", "text")
    val stats = Retrieval.bm25Stats(df, "text", "doc_id", "apple banana")
    // the persistable one-row store: n, sumdl, one df per distinct term
    val s = stats.collect()(0)
    assert(s.getLong(0) == 4L && s.getLong(1) == 12L)
    assert(s.getLong(2) == 2L && s.getLong(3) == 1L) // df(apple), df(banana)
    // bit-exact parity: same fixed-order double arithmetic both paths
    val batch = Retrieval.bm25(df, "text", "doc_id", "apple banana")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val steady = Retrieval.bm25Stream(df, stats, "text", "doc_id", "apple banana")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(steady == batch)
    // stateless by construction: one projection, no join/agg/shuffle
    val p = Retrieval.bm25Stream(df, stats, "text", "doc_id", "apple banana")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Aggregate") &&
      !p.contains("Exchange"), p)
    // store round trip scores identically; a mismatched query term ORDER
    // is refused loudly (the df columns are positional)
    val dir = tempDir("bm25_store") + "/s"
    Retrieval.saveBm25Stats(stats, dir)
    val loaded = Retrieval.loadBm25Stats(spark, dir)
    val viaStore = Retrieval.bm25Stream(df, loaded, "text", "doc_id", "apple banana")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaStore == batch)
    intercept[IllegalArgumentException] {
      Retrieval.bm25Stream(df, loaded, "text", "doc_id", "banana apple")
    }
  }

  test("zero vectors (NaN cosine) never surface in either miner") {
    val negs = Similarity.hardNegatives(bandVecs, bandProbe, "embedding", "vec_id",
      k = 10, maxCos = 0.5).collect()
    val poss = Similarity.hardPositives(bandVecs, bandProbe, "embedding", "vec_id",
      k = 10, minCos = 0.0).collect()
    assert(!negs.map(_.getAs[Long]("neighbor_id")).contains(7L))
    assert(!poss.map(_.getAs[Long]("neighbor_id")).contains(7L))
    assert((negs ++ poss).forall(r => !r.getAs[Double]("cosine").isNaN))
  }

  test("media duration math cannot overflow Long into a plausible value") {
    import graft.functions.MediaParseUtil
    def le32(v: Long) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def be32(v: Long) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def be64(v: Long) = be32(v >>> 32) ++ be32(v & 0xffffffffL)
    def fcc(t: String) = t.getBytes("US-ASCII")
    def bx(t: String, body: Array[Byte]) = be32(body.length + 8L) ++ fcc(t) ++ body
    // AVI: usPerFrame and frames are both u32; 0xFFFFFFFF * 0xFFFFFFFF
    // wraps a Long to +1 — without the pre-multiply guard that is a
    // "1 ms" duration instead of the corrupt-input NULL
    val aviOf = fcc("RIFF") ++ le32(200) ++ fcc("AVI ") ++
      fcc("LIST") ++ le32(68) ++ fcc("hdrl") ++
      fcc("avih") ++ le32(56) ++ le32(0xffffffffL) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(0xffffffffL) ++ le32(0) ++ le32(1) ++ le32(0) ++ le32(320) ++ le32(240) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val a = MediaParseUtil.parse(aviOf)
    assert(a != null && a.isNullAt(5), "overflowed AVI duration must be NULL")
    // frames == 0 stays a legal zero-duration file (guard must not
    // divide by zero or reject it)
    val aviZero = fcc("RIFF") ++ le32(200) ++ fcc("AVI ") ++
      fcc("LIST") ++ le32(68) ++ fcc("hdrl") ++
      fcc("avih") ++ le32(56) ++ le32(33333) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(0) ++ le32(1) ++ le32(0) ++ le32(320) ++ le32(240) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val z = MediaParseUtil.parse(aviZero)
    assert(z != null && z.getInt(5) == 0)
    // MP4 v1 mvhd: duration is a u64 read; d*1000 wraps past
    // Long.MaxValue to a plausible positive without the bound
    val ftyp = bx("ftyp", fcc("isom") ++ be32(0x200))
    val mvhdHuge = bx("mvhd", Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
      be32(600) ++ be64(0x7fffffffffffffffL))
    val m = MediaParseUtil.parse(ftyp ++ bx("moov", mvhdHuge))
    assert(m == null || m.isNullAt(5), "overflowed MP4 v1 duration must be NULL")
  }

  test("trainPca: mixed vector dimensions fail loudly unless dim is declared") {
    val mixed = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.5f, 0.5f, 0.0f)),
      (3L, Array(1.0f, 2.0f)), // stray 2-dim vector
    ).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Embeddings.trainPca(mixed, "embedding", "vec_id", k = 2)
    }
    assert(e.getMessage.contains("mixed vector sizes"))
    // declaring dim selects the matching subset deterministically
    val m = Embeddings.trainPca(mixed, "embedding", "vec_id", k = 2, dim = 3)
    assert(m.mean.length == 3)
    // uniform-dimension inference is unchanged (and deterministic: an
    // aggregate, not a first-row probe)
    val uni = mixed.filter($"vec_id" < 3)
    val m2 = Embeddings.trainPca(uni, "embedding", "vec_id", k = 2)
    assert(m2.mean.length == 3)
  }
}
