package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB regime:
  *
  *  - exact dedup is a single hash-shuffle groupBy (map-side combinable);
  *  - MinHash/SimHash near-dup avoid the O(n²) pair space by banding:
  *    candidates meet only inside an LSH bucket, so the only wide operation
  *    is a shuffle on (band, bucket) whose fan-in is the collision rate,
  *    not the corpus size;
  *  - verification (exact Jaccard / Hamming) runs only on candidate pairs.
  *
  * All signatures are built from deterministic hash expressions
  * (seeded xxhash64 re-hashes for MinHash, md5-derived token hashes for
  * SimHash), so results are stable across runs, partitionings, and
  * cluster sizes.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Degenerate-bucket guard for the LSH self-joins: buckets whose row
    * count exceeds `cap` are dropped before the within-bucket join — a
    * pathological bucket (e.g. millions of byte-identical documents all
    * landing in one (band, bucket)) would otherwise make the self-join
    * quadratic in that bucket's size. Standard LSH practice: an over-full
    * bucket carries no discriminating information, and exact-dedup-first
    * composition keeps true duplicate groups from ever reaching this size.
    * When `logMetric` (the eager paths), the dropped bucket/row counts are
    * computed (one aggregation over the — persisted — banded frame) and
    * logged as a warning so the recall sacrifice is observable.
    */
  private[ops] def dropOverfullBuckets(
      banded: DataFrame,
      keys: Seq[String],
      cap: Int,
      what: String,
      logMetric: Boolean,
  ): DataFrame = {
    require(cap > 0, "maxBucketSize must be positive")
    lazy val bucketSizes = banded
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
    lazy val overfull = bucketSizes.filter(col("__n") > cap)
    if (logMetric) {
      // the metric aggregation doubles as the guard decision: on a
      // healthy corpus (no over-full bucket — the overwhelmingly common
      // case) the anti-join never enters the plan, so the guard's only
      // steady-state cost is this one cached-scan aggregation. Total and
      // over-full rows fold into the SAME pass so the all-overfull check
      // below never re-derives the banding pipeline.
      val m = bucketSizes.agg(
        count(when(col("__n") > cap, lit(1))).as("overBuckets"),
        coalesce(sum(when(col("__n") > cap, col("__n"))), lit(0L)).as("overRows"),
        sum(col("__n")).as("totalRows"),
      ).collect().head
      if (m.getLong(0) == 0) banded
      else {
        // dropping SOME buckets is the guard working; dropping ALL of
        // them means the (buckets, cap) configuration cannot represent
        // this corpus at all — e.g. a recall-capped SemDeDup cell count
        // at a corpus where every cell exceeds maxCellSize. An empty
        // pair set would be silent data loss; fail with the dials.
        require(m.getLong(1) < m.getLong(2),
          s"$what: EVERY bucket exceeds the $cap-row cap " +
            s"(${m.getLong(0)} bucket(s), ${m.getLong(2)} banded rows) — the self-join would be " +
            "vacuous. Raise the bucket/cell count or the size cap, or use a " +
            "hash-banded pass (SRP/MinHash) whose bucket count scales freely.")
        log.warn(s"$what: dropping ${m.getLong(0)} over-full bucket(s) " +
          s"(${m.getLong(1)} banded rows > cap $cap each) before the self-join")
        banded.join(overfull.select(keys.map(col): _*), keys, "left_anti")
      }
    } else {
      // lazy/interactive paths run no actions, so the guard must stay a
      // plan node unconditionally — but NOT as the anti-join above, which
      // would recompute the banding for its build side and add its own
      // shuffle (measured ~2× on the lshTopK search path). A count window
      // over the bucket key sizes every bucket in one pass, and its hash
      // exchange is exactly the partitioning the downstream bucket join
      // needs, so Spark reuses it instead of exchanging again. The one
      // pathological bucket this drops does sort/spill inside a single
      // window task first — bounded by the same rows the anti-join build
      // would have shuffled anyway.
      val w = Window.partitionBy(keys.map(col): _*)
      banded.withColumn("__bn", count(lit(1)).over(w))
        .filter(col("__bn") <= cap)
        .drop("__bn")
    }
  }

  /** Exact duplicate groups by content hash. Returns one row per distinct
    * normalized text: the representative (minimum) id and the duplicate
    * count. One shuffle on the 128-bit content hash; no skew risk beyond
    * genuinely pathological corpora (a single document duplicated billions
    * of times), which AQE's skew-join handling absorbs.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(TextOps.normalized(col(textCol)).cast("binary")).as("content_hash"))
      .agg(
        min(col(idCol)).as("representative"),
        count(lit(1)).as("n_dups"),
      )

  /** Keep only the representative row per distinct text (first by id).
    * Window over the content hash: one shuffle, streams each group.
    */
  def exactKeepFirst(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(TextOps.normalized(col(textCol)).cast("binary")))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** [[exactKeepFirst]] with the audit trail data governance wants: the
    * kept representative carries where its copies came from — all
    * original columns plus `n_copies` (group size) and `sources` (the
    * sorted distinct `srcCol` labels over the duplicate group, joined
    * with ","). "This page survived dedup, and it also appeared in
    * these three crawls" is the provenance record license review and
    * contamination forensics ask for; null source labels are skipped.
    *
    * Scale shape: ONE digest-keyed exchange feeds both the keep-first
    * window and the provenance aggregation, and their equi-join reuses
    * the same partitioning — no second corpus shuffle.
    */
  def exactKeepFirstWithProvenance(
      df: DataFrame,
      textCol: String,
      idCol: String,
      srcCol: String,
  ): DataFrame = {
    val keyed = df.withColumn("__dg", contentDigest(col(textCol)))
    // the provenance aggregates ride the SAME window partition as the
    // keep-first rank (unbounded frame): one scan, one exchange, no
    // second aggregation branch and no join back
    val wOrd = Window.partitionBy(col("__dg")).orderBy(col(idCol))
    val wAll = Window.partitionBy(col("__dg"))
    keyed
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("n_copies", count(lit(1)).over(wAll))
      .withColumn("sources",
        array_join(sort_array(collect_set(col(srcCol)).over(wAll)), ","))
      .filter(col("__rn") === 1)
      .drop("__dg", "__rn")
  }

  /** THE normalized-content digest every exact-dedup operator keys on:
    * the 16-byte binary `unhex(md5(normalized(text)))`. One definition so
    * exact dedup, streaming dedup, incremental dedup, and the
    * cross-source matrix can never disagree on what "same content" means.
    * ([[exact]] keeps md5's hex-string form — its digest is part of its
    * OUTPUT schema, not just a key.)
    */
  private[ops] def contentDigest(text: Column): Column =
    unhex(md5(TextOps.normalized(text).cast("binary")))

  /** Streaming exact dedup: emit one representative per distinct
    * normalized text — the earliest-arriving micro-batch wins; within a
    * single micro-batch the representative is arbitrary (no ordering
    * guarantee, unlike the batch [[exactKeepFirst]]). Dedup state is
    * bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark`): a hash is remembered only until
    * the watermark passes it, so state size tracks arrival rate × delay
    * window, not the full corpus — the property that makes streaming
    * dedup viable indefinitely. The shuffle/state key is the true 16-byte
    * binary digest (`unhex(md5(…))`) — not md5's 32-char hex string, which
    * would double the state-store and exchange key width for no
    * information.
    */
  def exactDedupStream(
      docs: DataFrame,
      textCol: String,
      tsCol: String,
      watermarkDelay: String = "1 hour",
  ): DataFrame =
    docs
      .withColumn("content_hash", contentDigest(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Incremental exact dedup: the new batch's rows whose normalized
    * content appears neither in the historical corpus nor earlier (by id)
    * within the batch itself — the production shape for "dedupe today's
    * crawl against everything already ingested" without re-reading any
    * history text.
    *
    * Scale shape: the history side collapses to DISTINCT 16-byte content
    * digests (`unhex(md5(..))` — ids and text never leave their scan), so
    * a 100 TB history becomes a hash set a fraction of its size; the batch
    * anti-joins on the digest (one shuffle, or a broadcast when the
    * history hash set is small), then keep-first dedups within the batch
    * with the same windowed stream as [[exactKeepFirst]]. Run history
    * through [[exactKeepFirst]] once at bootstrap and this operator keeps
    * the corpus exactly deduplicated forever at per-batch cost.
    */
  def exactDedupIncrement(
      batch: DataFrame,
      history: DataFrame,
      textCol: String,
      idCol: String,
  ): DataFrame = {
    def digest(c: Column) = contentDigest(c)
    val seen = history.select(digest(col(textCol)).as("__ch")).dropDuplicates("__ch")
    val w = Window.partitionBy(col("__ch")).orderBy(col(idCol))
    batch.withColumn("__ch", digest(col(textCol)))
      .join(seen, Seq("__ch"), "left_anti")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__ch", "__rn")
  }

  /** Cross-source duplication matrix — the corpus-governance view ("how
    * much of the web crawl is already in the books set"): for every
    * source pair (a ≤ b), the number of DISTINCT normalized content
    * hashes present in both. The diagonal (a = b) is each source's
    * distinct-content count, the natural denominator for overlap rates.
    *
    * Scale shape: documents collapse to distinct (source, 16-byte digest)
    * rows at the scan (text never shuffles); the self-join keys on the
    * digest, where each group is at most #sources rows, so the join is
    * linear in distinct content — no quadratic corner. Output is
    * #sources² rows at most: driver-sized by construction.
    */
  def crossSourceOverlap(
      docs: DataFrame,
      textCol: String,
      srcCol: String,
  ): DataFrame = {
    val hashed = docs
      .select(col(srcCol).as("src"),
        contentDigest(col(textCol)).as("__ch"))
      .dropDuplicates("src", "__ch")
    hashed.as("a").join(hashed.as("b"),
        col("a.__ch") === col("b.__ch") && col("a.src") <= col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The 100 TB twin of [[crossSourceOverlap]]: the same cross-source
    * duplication matrix from mergeable HLL sketches
    * (`hll_sketch_agg` / `hll_union`, Apache DataSketches) instead of a
    * digest self-join — ONE corpus scan builds |sources| kilobyte-sized
    * sketches (map-side combined), and every pair's intersection comes
    * from inclusion–exclusion `|A| + |B| − |A∪B|` on the sketch frame
    * (|sources|² driver-sized rows; the digests never shuffle at all).
    *
    * Sketch intersections inherit the UNION's absolute error, so each
    * row carries its own `err_bound` (3 × HLL rsd × n_union — rsd =
    * 1.04/√2^lgK ≈ 1.6% at the default lgK=12): an intersection smaller
    * than the bound is indistinguishable from zero, which is the honest
    * semantics of sketch-based overlap at scale. The exact twin remains
    * the verification-scale meter; DriverSuiteSpec contracts that every
    * pair's approx error is within `err_bound` and the diagonal (each
    * source's own cardinality, where inclusion–exclusion cancels to the
    * plain HLL estimate) is within 3×rsd relative.
    */
  def crossSourceOverlapApprox(
      docs: DataFrame,
      textCol: String,
      srcCol: String,
      lgConfigK: Int = 12,
  ): DataFrame = {
    require(lgConfigK >= 4 && lgConfigK <= 21, "lgConfigK must be in [4, 21]")
    val rsd = 1.04 / math.sqrt((1L << lgConfigK).toDouble)
    val sk = docs
      .select(col(srcCol).as("src"), contentDigest(col(textCol)).as("__ch"))
      .groupBy(col("src"))
      .agg(hll_sketch_agg(col("__ch"), lit(lgConfigK)).as("__sk"))
    sk.as("a").join(broadcast(sk.as("b")), col("a.src") <= col("b.src"))
      .select(
        col("a.src").as("src_a"), col("b.src").as("src_b"),
        hll_sketch_estimate(col("a.__sk")).as("n_a"),
        hll_sketch_estimate(col("b.__sk")).as("n_b"),
        hll_sketch_estimate(hll_union(col("a.__sk"), col("b.__sk"))).as("n_union"))
      .withColumn("n_shared_approx",
        greatest(col("n_a") + col("n_b") - col("n_union"), lit(0L)))
      .withColumn("err_bound",
        round(lit(3.0 * rsd) * col("n_union").cast("double"), 2))
  }

  /** Diff two corpus snapshots by document id + content digest: which
    * documents were added, removed, or changed between crawls — the
    * input audit every incremental-ingestion pipeline runs before
    * reprocessing ("this month's crawl touched 3% of pages; only those
    * re-enter dedup/curation"). Composes with [[exactDedupIncrement]] /
    * [[minHashNearDupsIncremental]]: the `added`+`changed` slice IS the
    * new batch those operators take.
    *
    * Scale shape: each side reduces to (id, 16-byte digest) AT THE SCAN
    * — text never shuffles — then ONE full outer equi-join on id. With
    * both snapshots bucketed/partitioned by id the join co-locates;
    * otherwise it's the standard two-sided hash shuffle of slim rows.
    * `unchanged` rows (the overwhelming majority between adjacent
    * crawls) are filtered before returning unless `includeUnchanged`.
    *
    * PRECONDITION: ids unique within each snapshot. A null `textCol`
    * digests like the empty string (both mean "no content" here).
    * Returns (idCol, status ∈ added | removed | changed [| unchanged]).
    */
  /** Corpus algebra by CONTENT: rows of `a` whose normalized-content
    * digest also occurs in `b` — "which of our web docs are verbatim in
    * the books corpus", the cross-corpus companion of the within-corpus
    * [[exact]] dedup and the id-keyed [[snapshotDiff]]. A LEFT SEMI join
    * on the 16-byte [[contentDigest]]: both sides reduce to slim digest
    * rows at the scan (text never shuffles), output carries all of `a`'s
    * columns. Broadcast applies automatically when `b` is small.
    */
  def intersectByContent(a: DataFrame, b: DataFrame, textCol: String): DataFrame =
    a.join(
      b.select(contentDigest(col(textCol)).as("__ch")).dropDuplicates("__ch"),
      contentDigest(a(textCol)) === col("__ch"), "left_semi")

  /** Complement of [[intersectByContent]]: rows of `a` whose content does
    * NOT occur in `b` — the "subtract this corpus" operator (remove the
    * held-out set's verbatim members from the training pool, subtract a
    * vendor dataset before license review). LEFT ANTI on the digest;
    * same slim-join scale shape.
    */
  def exceptByContent(a: DataFrame, b: DataFrame, textCol: String): DataFrame =
    a.join(
      b.select(contentDigest(col(textCol)).as("__ch")).dropDuplicates("__ch"),
      contentDigest(a(textCol)) === col("__ch"), "left_anti")

  /** Latest-wins compaction: keep each key's newest row by `versionCol`
    * (a timestamp, crawl id, or sequence number) — the CDC/compaction
    * step that collapses an append-only log of document versions to the
    * current corpus before any dedup or curation runs. Ties on the
    * version break by `tieCol` DESCENDING (highest wins — with
    * monotonically assigned ids, the later write), so the result is
    * deterministic whenever `tieCol` is unique within a key. Null
    * versions sort last (a versionless row never beats a versioned one).
    * One shuffle on the key; the window streams each group — this is
    * [[Sample.topKPerGroup]] with k = 1, newest-first, packaged for the
    * compaction story.
    */
  def compactLatest(
      df: DataFrame,
      keyCol: String,
      versionCol: String,
      tieCol: String,
  ): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc_nulls_last, col(tieCol).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Streaming latest-wins compaction: the same newest-row-per-key
    * semantics as [[compactLatest]], expressed as a `max_by` over the
    * (version, tie) pair so it runs as a NATIVE streaming aggregation —
    * state is one row per key (bounded by key cardinality, the inherent
    * floor for compaction), updated incrementally per micro-batch, no
    * custom state function. Works identically on a batch frame (the
    * parity test pins stream ≡ batch). Ties break by `tieCol` HIGHEST
    * (same rule as the batch window's `tieCol` DESC). Null versions:
    * `max_by` ignores null ordering keys only if the struct is null —
    * (null, tie) structs still compare (nulls sort FIRST in struct
    * comparison, so a versionless row loses to any versioned one, same
    * outcome as the batch form). Use complete/update output mode.
    *
    * Returns (keyCol, valueCols...) — the compacted current state.
    */
  def compactLatestStream(
      df: DataFrame,
      keyCol: String,
      versionCol: String,
      tieCol: String,
      valueCols: Seq[String],
  ): DataFrame = {
    require(valueCols.nonEmpty, "need at least one value column")
    df.groupBy(col(keyCol))
      .agg(max_by(
        struct(valueCols.map(col): _*),
        struct(col(versionCol), col(tieCol))).as("__latest"))
      .select(col(keyCol) +: valueCols.map(c => col(s"__latest.`$c`")): _*)
  }

  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      includeUnchanged: Boolean = false,
  ): DataFrame = {
    def slim(df: DataFrame, digestName: String): DataFrame =
      df.select(col(idCol),
        contentDigest(coalesce(col(textCol), lit(""))).as(digestName))
    val joined = slim(oldDf, "__oh").as("o")
      .join(slim(newDf, "__nh").as("n"), Seq(idCol), "full_outer")
    val status = when(col("__oh").isNull, "added")
      .when(col("__nh").isNull, "removed")
      .when(col("__oh") =!= col("__nh"), "changed")
      .otherwise("unchanged")
    val out = joined.select(col(idCol), status.as("status"))
    if (includeUnchanged) out else out.filter(col("status") =!= "unchanged")
  }

  /** MinHash signature: `numHashes` minima of independently seeded
    * re-hashes of the shingles' base hashes. Each shingle string is hashed
    * once (builtin xxhash64); the family expansion runs in the native
    * ArrayMinHash expression — one fused codegen'd loop instead of
    * `numHashes` interpreted array traversals. Requires
    * GraftFunctions.register on the session (minHashNearDups does it).
    */
  def minHashSignature(text: Column, numHashes: Int, shingleSize: Int): Column =
    signatureOfShingles(Shingles.wordShingles(text, shingleSize), numHashes)

  def signatureOfShingles(shingles: Column, numHashes: Int): Column =
    graft.functions.GraftFunctions.minHashSig(
      transform(shingles, s => xxhash64(s)), numHashes)

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: signature (narrow) → explode one row per band with the
    * band's bucket hash → shuffle on (band, bucket) → within-bucket
    * self-join → exact Jaccard verification on candidates only → distinct
    * pairs above threshold. With b bands of r rows, a pair with Jaccard s
    * is caught with probability 1-(1-s^r)^b.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Note: this executes EAGERLY — the pair set is checkpointed as
    * scratch ([[Scratch.checkpoint]]) before returning so the persisted
    * shingle/band intermediates can be released immediately; downstream
    * transforms on the (small) result do not push into the dedup
    * computation.
    */
  def minHashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.7,
      maxBucketSize: Int = 10000,
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val rows = numHashes / bands
    // Persisted: shingling is the dominant per-pass cost and
    // three plan branches consume it (banding + both verification joins).
    // The native word_shingles expression tokenizes and joins k-grams in
    // one pass.
    val shingled = df
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions.wordShingles(col(textCol), shingleSize).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .persist()
    val withSig = shingled.withColumn("sig", signatureOfShingles(col("shingles"), numHashes))

    // Band rows carry only (band, bucket, id): the LSH shuffle and the
    // candidate-pair dedup move narrow rows. Shingle arrays re-join only
    // for the (much smaller) distinct candidate set — at scale this is the
    // difference between shuffling ids and shuffling whole documents.
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"), xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows)).as("bucket"))
    }
    // Persisted: both sides of the self-join read it, and it
    // is tiny (bands × one long-keyed row per doc) — without this the full
    // signature computation runs twice.
    val banded1 = withSig
      .select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
      .persist()
    // degenerate-bucket guard (see dropOverfullBuckets): the counts
    // aggregation reads the persisted banded frame, so the guard costs one
    // cached-scan aggregation, not a recompute of the signatures
    val banded = dropOverfullBuckets(banded1, Seq("band", "bucket"), maxBucketSize,
      "minHashNearDups", logMetric = true)

    val left = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val right = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    val candidates = left.join(right, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    val shingleSets = shingled
    val result = candidates
      .join(shingleSets.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(shingleSets.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    // Eagerly materialize the (small) pair set, then release the cached
    // intermediates: persisted shingles/bands must not outlive the operator
    // — a long-lived session running many dedups would otherwise accumulate
    // dead cache blocks until executors spill or evict.
    materializeAndRelease(result, Seq(shingled, banded1))
  }

  /** MinHash signatures as a storable (id, sig) table — the state an
    * incremental near-dedup pipeline persists per corpus increment
    * ([[graft.sources.GraftSource.writeParquet]] it next to the corpus) so
    * future batches compare against history WITHOUT re-reading, or even
    * retaining, historical text. Signature derivation is exactly
    * [[minHashNearDups]]'s (same seeded hash family, so tables built at
    * different times on different clusters are comparable); documents with
    * no shingles are absent, matching its behavior.
    */
  def minHashSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      shingleSize: Int = 5,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id"),
        graft.functions.GraftFunctions.wordShingles(col(textCol), shingleSize).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("id"), signatureOfShingles(col("shingles"), numHashes).as("sig"))
  }

  /** Incremental near-dup at the signature level: pairs of a NEW batch
    * against the historical signature store, plus within-batch pairs —
    * history×history pairs are excluded (history was deduplicated when it
    * was the batch). This is the daily-crawl shape: the corpus grows by
    * increments, and each increment compares against all prior state at
    * the cost of banding only.
    *
    * History has no text anymore, so verification is the signature-
    * estimated Jaccard (component agreement rate: E[est] = J, sd =
    * sqrt(J(1-J)/numHashes) ≈ 0.044 at J = 0.5 with 128 hashes). That
    * makes this operator APPROXIMATE at the decision boundary: keep the
    * threshold ~3-4 sd away from where real pair densities sit, or
    * exactly re-verify borderline survivors where batch text exists.
    *
    * PRECONDITION: ids unique across batch ∪ history. Both inputs are
    * (id, sig) as produced by [[minHashSignatures]] with the same
    * numHashes/shingleSize. Scale shape is [[minHashNearDups]]'s: banding
    * shuffles (band, bucket, id, side) rows; signatures re-join only for
    * the deduplicated candidate set; the window-based degenerate-bucket
    * guard rides the banding exchange.
    *
    * Returns (id_a, id_b, est_jaccard), id_a < id_b.
    */
  def minHashNearDupsIncremental(
      batchSigs: DataFrame,
      historySigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 10000,
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // a stored table built with a different numHashes would mis-band and
    // mis-estimate SILENTLY (empty band slices collapse buckets; the
    // agreement rate divides by the wrong length) — fail loudly on the
    // first wrong-length signature instead, plan-side (no action here)
    def lengthChecked(df: DataFrame): DataFrame = df.withColumn("sig",
      when(size(col("sig")) === numHashes, col("sig")).otherwise(raise_error(concat(
        lit(s"minHashNearDupsIncremental: signature length != numHashes=$numHashes (found "),
        size(col("sig")).cast("string"), lit(")")))))
    val all = lengthChecked(batchSigs).select(col("id"), col("sig"), lit(1).as("side"))
      .unionByName(lengthChecked(historySigs).select(col("id"), col("sig"), lit(0).as("side")))
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows)).as("bucket"))
    }
    val banded0 = all
      .select(col("id"), col("side"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("side"), col("bb.band"), col("bb.bucket"))
    val banded = dropOverfullBuckets(banded0, Seq("band", "bucket"), maxBucketSize,
      "minHashNearDupsIncremental", logMetric = false)
    val left = banded.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("side").as("side_a"))
    val right = banded.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("side").as("side_b"))
    val candidates = left.join(right, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("side_a") + col("side_b") >= 1) // at least one new-batch row
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sigs = all.select(col("id"), col("sig"))
    candidates
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** Streaming twin of [[minHashNearDupsIncremental]]: micro-batch
    * documents sign and band STATELESSLY (the same seeded hash family and
    * band hashing, so buckets line up with any stored signature table),
    * stream-static inner-join the banded history store on (band, bucket),
    * verify candidates by signature-estimated Jaccard, and emit
    * (id, hist_id, est_jaccard) pairs — the online "is this new document
    * a near-dup of anything already ingested" serving path of the
    * daily-crawl story. The only state is `dropDuplicatesWithinWatermark`
    * over the pair key, which collapses multi-band collisions of the same
    * pair and is bounded by the event-time watermark.
    *
    * WITHIN-STREAM pairs are deliberately out of scope: two near-dup
    * documents arriving in different micro-batches would need unbounded
    * signature state to pair up. Run the batch
    * [[minHashNearDupsIncremental]] at compaction time for stream-internal
    * pairs (its within-batch side), and fold each increment's signatures
    * into the store — the stream covers history-vs-new only.
    *
    * Scale shape: the static side is banded ONCE per micro-batch from the
    * (id, sig) store — persist `historySigs` so the banding is served from
    * memory; shuffles carry (band, bucket) keys with signature arrays only
    * for verification; the stream side fans out `bands` rows per document,
    * all narrow.
    */
  def minHashNearDupsStream(
      streamDocs: DataFrame,
      historySigs: DataFrame,
      textCol: String,
      idCol: String,
      tsCol: String,
      watermarkDelay: String = "1 hour",
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.7,
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    graft.functions.GraftFunctions.register(streamDocs.sparkSession)
    // same loud length guard as the batch incremental: a store built with
    // a different numHashes must fail, not silently mis-band
    val histBanded = historySigs
      .withColumn("sig",
        when(size(col("sig")) === numHashes, col("sig")).otherwise(raise_error(concat(
          lit(s"minHashNearDupsStream: signature length != numHashes=$numHashes (found "),
          size(col("sig")).cast("string"), lit(")")))))
      .select(col("id").as("hist_id"), col("sig").as("hist_sig"))
      .select(col("hist_id"), col("hist_sig"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64(lit(b), slice(col("hist_sig"), b * rows + 1, rows)).as("bucket"))
        }: _*)).as("bb"))
      .select(col("hist_id"), col("hist_sig"), col("bb.band"), col("bb.bucket"))
    val streamBanded = streamDocs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol).as("id"), col(tsCol).as("__ts"),
        graft.functions.GraftFunctions.wordShingles(col(textCol), shingleSize).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("id"), col("__ts"),
        signatureOfShingles(col("shingles"), numHashes).as("sig"))
      .select(col("id"), col("__ts"), col("sig"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows)).as("bucket"))
        }: _*)).as("bb"))
      .select(col("id"), col("__ts"), col("sig"), col("bb.band"), col("bb.bucket"))
    streamBanded
      .join(histBanded, Seq("band", "bucket"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig"), col("hist_sig"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id"), col("hist_id"), col("__ts"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
      .dropDuplicatesWithinWatermark("id", "hist_id")
      .select(col("id"), col("hist_id"), col("est_jaccard"))
  }

  /** Fuzzy contamination: corpus documents NEAR-DUPLICATE (shingle
    * Jaccard >= threshold) to some benchmark document — the MinHash-LSH
    * bipartite sibling of [[graft.ops.TextOps.contaminationCounts]]'s
    * exact n-gram overlap. N-gram decontamination misses benchmark text
    * that reached the crawl lightly edited (reflowed, punctuation-
    * normalized, partially translated boilerplate); whole-document
    * similarity catches it. The standard hygiene stack runs both.
    *
    * Bipartite means NO self-join: candidates are (corpus x bench) within
    * a (band, bucket) — quadratic blowup needs an over-full bucket on
    * BOTH sides at once, and the corpus side (the only side that is ever
    * 100 TB) carries the degenerate-bucket guard. The benchmark side — an
    * eval-suite union, at most a few million rows — bands to a table AQE
    * broadcasts; shuffles carry (band, bucket, id) longs, never text;
    * shingle arrays re-join only for the deduplicated candidate set,
    * exactly the [[minHashNearDups]] discipline. Same seeded hash family
    * as every other MinHash operator, so stored signature tables remain
    * comparable.
    *
    * Returns (id, bench_id, jaccard): one row per contaminated-pair with
    * the EXACT verified Jaccard — precision is exact; recall is the LSH
    * catch probability 1-(1-s^r)^b of the banding config.
    */
  def fuzzyContamination(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 5,
      threshold: Double = 0.5,
      maxBucketSize: Int = 10000,
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val rows = numHashes / bands
    // shingles are consumed twice per side (banding + verification join)
    def shingled(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"),
          graft.functions.GraftFunctions.wordShingles(col(textCol), shingleSize).as("shingles"))
        .filter(size(col("shingles")) > 0)
        .persist()
    val cs = shingled(corpus)
    val bs = shingled(bench)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows)).as("bucket"))
    }
    def banded(sh: DataFrame): DataFrame = sh
      .withColumn("sig", signatureOfShingles(col("shingles"), numHashes))
      .select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    // persisted: the guard's eager metric aggregation and
    // the candidate join both read the corpus banding — without this the
    // corpus signatures compute twice (the minHashNearDups discipline);
    // the bench banding is consumed once and needs no cache
    val cb1 = banded(cs).persist()
    val cb = dropOverfullBuckets(cb1, Seq("band", "bucket"), maxBucketSize,
      "fuzzyContamination", logMetric = true)
    val candidates = cb
      .join(banded(bs).withColumnRenamed("id", "bench_id"), Seq("band", "bucket"))
      .select(col("id"), col("bench_id"))
      .dropDuplicates("id", "bench_id")
    val result = candidates
      .join(cs.select(col("id"), col("shingles").as("sh_a")), Seq("id"))
      .join(bs.select(col("id").as("bench_id"), col("shingles").as("sh_b")), Seq("bench_id"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id"), col("bench_id"), round(col("jaccard"), 6).as("jaccard"))
    materializeAndRelease(result, Seq(cs, bs, cb1))
  }

  /** [[fuzzyContamination]]'s gate: the corpus rows near-duplicate to NO
    * benchmark document (all columns kept). The anti-join keys on the
    * distinct contaminated ids — pair multiplicity never amplifies the
    * corpus side.
    */
  def fuzzyDecontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 5,
      threshold: Double = 0.5,
      maxBucketSize: Int = 10000,
  ): DataFrame = {
    val dirty = fuzzyContamination(corpus, bench, textCol, idCol,
        numHashes, bands, shingleSize, threshold, maxBucketSize)
      .select(col("id")).distinct()
    corpus.join(dirty, corpus(idCol) === dirty("id"), "left_anti")
  }

  /** Checkpoint a result as scratch (eager, [[Scratch.checkpoint]]), then
    * release the operator's persisted intermediates.
    */
  private def materializeAndRelease(
      result: DataFrame,
      persisted: Seq[DataFrame],
  ): DataFrame = {
    val out = Scratch.checkpoint(result, eager = true)
    persisted.foreach(_.unpersist())
    out
  }

  /** Exact Jaccard similarity of two shingle arrays (as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    inter / (size(da) + size(db) - inter)
  }

  /** 60-bit SimHash of the document's token multiset: each token hash
    * votes ±1 per bit position; the sign vector packs into a long.
    * Runs as the native SimHash60 expression (one pass over the text, no
    * interpreted voting tree); the token hash is md5-derived so an
    * independent engine can recompute the sketch exactly (see
    * [[graft.functions.SimHashUtil]]). Requires GraftFunctions.register
    * on the session (simHashNearDups does it).
    */
  def simHash(text: Column): Column = graft.functions.GraftFunctions.simHash60(text)

  /** SimHash near-duplicates within a Hamming radius.
    *
    * Banding is pigeonhole-exact (generalized combination keying, Manku
    * et al., WWW'07 §3): the low `SimHashUtil.Bits` (60) bits split into
    * `maxHamming + keyBlocks` disjoint blocks; a pair within the radius
    * has at most `maxHamming` differing bits, so at least `keyBlocks`
    * blocks match exactly, and since every `keyBlocks`-subset of blocks
    * is a table key, some table catches the pair. Recall is therefore
    * 1.0 at the requested radius for ANY `keyBlocks`; the exact
    * `bit_count` check then filters false candidates. Exactness holds
    * even for caller-supplied sketches that use bits above the banded 60:
    * differing bits OUTSIDE the banded region only reduce the number of
    * differing bits inside it, so the pigeonhole argument is unaffected
    * (the verification counts all 64 bits either way).
    *
    * `keyBlocks` is the selectivity/fan-out dial for scale:
    *  - `keyBlocks = 1` (default): `maxHamming + 1` tables with narrow
    *    ~64/(maxHamming+1)-bit keys — minimal shuffle volume, coarse
    *    buckets. Right up to mid-size corpora.
    *  - `keyBlocks = 2`: C(maxHamming+2, 2) tables keyed on block PAIRS —
    *    roughly squares the bucket count (e.g. radius 8: 45 tables of
    *    ~12-13-bit keys vs 9 tables of ~7-bit keys), collapsing candidate
    *    fan-in at billion-document scale for ~5× more banded rows.
    * The shuffle key is (table index, packed key bits) only.
    *
    * `slices` is the skew dial: an aggressive radius relative to the
    * sketch's effective entropy (e.g. radius 8 on near-template text)
    * makes some buckets corpus-fraction-sized, and a bucket's C(size, 2)
    * verification otherwise runs inside ONE reducer task — measured 983M
    * join emissions with a 15.8k-row hottest bucket on the 50k-doc sf1
    * rung, serialized onto a handful of cores. With `slices = m > 1`
    * each side is block-replicated m× and the join key gains the
    * (left-slice, right-slice) coordinates, so every bucket's pair work
    * spreads over m² reducer keys; each candidate pair still meets
    * EXACTLY once, at (slice(a), slice(b)). Replication multiplies only
    * the tiny (id, sim) banded rows, never documents.
    *
    * RADIUS DIAL — prefer [[simHashNearDupsWide]] for radius > 3 on the
    * default 60-bit sketch. The Manku posture is that the radius stays
    * SMALL AND ABSOLUTE as sketches widen (8B pages dedup at hamming ≤ 3
    * of 64 bits); a large radius at a fixed narrow sketch loosens the
    * match fraction instead (8/60 accepts 86.7% bit agreement) and on
    * near-template corpora turns OUTPUT-quadratic — 0.68% of ALL pairs
    * qualify at radius 8 on the measured corpus, and no candidate scheme
    * can emit fewer rows than its output (SCALING_r11.md §1b, measured
    * through sf30). [[simHashNearDupsWide]] runs the SAME absolute radius
    * against a 120-bit two-lane sketch: 93.3% required agreement, a
    * measured 1,655× lower pair density, ~1/9th the cost at sf10 — and
    * it is fully oracled. Reach for radius > 3 here only when the loose
    * 60-bit semantics is literally what you want, and expect ~n² output.
    */
  /** Corpus-aware `keyBlocks` for [[simHashNearDups]] — the selectivity
    * dial, solved from the candidate-volume model instead of guessed.
    *
    * Expected candidate volume is `C(maxH+kb, kb) × n² / 2^(effective key
    * bits)`; stepping kb→kb+1 multiplies it by the table-count ratio and
    * divides by 2^(Δ nominal key width × entropy factor). On near-template
    * corpora the sketch bits are correlated, so a key's effective entropy
    * runs ≈ half its nominal width (measured at the generated sf10:
    * 6.7-bit blocks carry ~3.3 effective bits; SimStats — and the model
    * under that discount predicts the measured volumes within ~1.4×
    * across all six measured configs). The rule steps kb up while each
    * step (a) at least halves the predicted candidates under that
    * discount, (b) keeps the banded explode shuffle-cheap (≤ 64 tables),
    * and (c) the predicted volume still exceeds an absolute work floor
    * (1e8 emissions ≈ a second of codegen'd join time at local[32]) —
    * without (c) the dial pays real explode overhead to shave candidates
    * that were already cheap (measured: radius 3 at 50k docs runs 0.9 s
    * at kb=1 but 2.4 s at kb=4).
    *
    * Consequences at radius 3 (all MEASURED, SimStats at the generated
    * sf10): 500k docs → kb=3, cutting candidates 2.26e9 → 1.37e8 (16×)
    * for a 20-tables-×-ids explode; 50k docs → kb=1 (already under the
    * floor). At radius 8 the rule correctly never steps: the ratio is
    * 5 × 2^(-0.5·5.3) ≈ 0.79 — wider keys buy almost nothing because the
    * block entropy is already saturated (and radius 8 on a 60-bit sketch
    * is output-quadratic on such corpora anyway — 0.68% of ALL pairs
    * qualify; SCALING_r11.md).
    *
    * Recall is banding-independent (pigeonhole exactness, see
    * [[simHashNearDups]]), so this dial can never change results — the
    * `q_dedup_simhash_k2 ≡ q_dedup_simhash` oracle witnesses that.
    */
  def simHashKeyBlocksFor(n: Long, maxHamming: Int, tableBudget: Int = 64,
      bits: Int = graft.functions.SimHashUtil.Bits): Int = {
    val entropyFactor = 0.5
    val workFloor = 1e8
    def width(k: Int): Double = bits.toDouble * k / (maxHamming + k)
    def tables(k: Int): Long =
      (1 to k).foldLeft(1L)((acc, i) => acc * (maxHamming + i) / i)
    def predicted(k: Int): Double =
      tables(k).toDouble * (n.toDouble * n / 2.0) /
        math.pow(2.0, entropyFactor * width(k))
    var kb = 1
    var stepping = true
    while (stepping) {
      val next = kb + 1
      val ratio = tables(next).toDouble / tables(kb) *
        math.pow(2.0, -entropyFactor * (width(next) - width(kb)))
      if (tables(next) <= tableBudget && ratio <= 0.5 && predicted(kb) > workFloor)
        kb = next
      else stepping = false
    }
    kb
  }

  /** Bucket-size gate for the blocked-self-join slice dial: buckets at or
    * under this row count never replicate (their C(size, 2) verification
    * is at most ~12.5M codegen'd emissions ≈ sub-second in one task —
    * the same per-slice-pair work target the m ≈ √(n/5000) solve aims
    * for), so the m× slice replication pays only where the quadratic
    * actually lives.
    */
  private[graft] val sliceHotMin = 5000

  /** Slice count at or above which the hot-bucket gate replaces full
    * replication. The gate's fixed price is one count window (exchange +
    * sort) over the banded frame; full replication's price is (m − 1)×
    * the banded frame through the join exchange on BOTH sides — linear
    * in m. Measured at the generated sf10 (m = 10) the two are a wash
    * within single-shot variance (47.3 legacy / 52.5 gated / 58.1 legacy
    * repeat); at the sf100 rung's solved m = 32 the legacy
    * replication alone is ~2·32·tables·n rows (≈ 430 GB raw for the
    * wide row) — the scratch-disk wall that killed that row in the r14
    * sweep — while the gate's window is m-independent.
    */
  private[graft] val sliceGateMin = 16

  def simHashNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      keyBlocks: Int = 1,
      slices: Int = 1,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    simHashNearDupsFromSims(
      df.select(col(idCol).as("id"), simHash(col(textCol)).as("sim")), maxHamming, keyBlocks,
      slices)
  }

  /** Banding + verification over precomputed (id, sim) rows — the
    * machinery behind [[simHashNearDups]], separated so callers with their
    * own sketches (and the planted-bit recall tests) can use it directly.
    */
  private[graft] def simHashNearDupsFromSims(
      withSim: DataFrame,
      maxHamming: Int,
      keyBlocks: Int = 1,
      slices: Int = 1,
      sliceHotMin: Int = Dedup.sliceHotMin,
  ): DataFrame = {
    require(slices >= 1, "slices must be >= 1")
    val bits = graft.functions.SimHashUtil.Bits
    require(maxHamming >= 0 && maxHamming < bits, s"maxHamming must be in [0, ${bits - 1}]")
    require(keyBlocks >= 1, "keyBlocks must be >= 1")
    val b = maxHamming + keyBlocks
    require(b <= bits, s"maxHamming + keyBlocks must be <= $bits, got $b")
    val widths = Array.tabulate(b)(i => bits / b + (if (i < bits % b) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def blockBits(blk: Int): Column = {
      val mask = (1L << widths(blk)) - 1
      shiftright(col("sim"), offsets(blk)).bitwiseAND(lit(mask))
    }
    // all keyBlocks-subsets of blocks; each subset is one table whose key
    // packs the subset's (disjoint) block bits into a single long
    val subsets = (0 until b).combinations(keyBlocks).toSeq
    require(subsets.size <= 2048,
      s"C($b, $keyBlocks) = ${subsets.size} tables — reduce keyBlocks or maxHamming")
    val chunks = subsets.zipWithIndex.map { case (blks, t) =>
      val packed = blks.map { blk =>
        // shift each block's bits to a disjoint position within the key
        val off = blks.takeWhile(_ != blk).map(widths).sum
        if (off == 0) blockBits(blk) else shiftleft(blockBits(blk), off)
      }.reduce((a, c) => a.bitwiseOR(c))
      struct(lit(t).as("chunk"), packed.as("key"))
    }
    val banded = withSim.select(col("id"), col("sim"), explode(array(chunks: _*)).as("cc"))
      .select(col("id"), col("sim"), col("cc.chunk"), col("cc.key"))
    // blocked self-join (the skew dial, see simHashNearDups): each row
    // owns one slice coordinate by id hash and replicates across the
    // other side's m coordinates, so a pair (a, b) meets exactly once —
    // at key (chunk, key, slice(a), slice(b)) — and a hot bucket's
    // quadratic verification spreads over m² reducer keys.
    // HOT-GATED (r14, guide §2.5 "salt the hot keys, not everything"):
    // replicating EVERY row m× multiplied the join exchange by m on the
    // cold mass — at the generated sf100 (m = 32) that is 32× the banded
    // volume for buckets whose C(size, 2) verification was already
    // sub-second. A count window over the bucket key (the lazy
    // dropOverfullBuckets idiom — no action, and the identical subtree
    // under both join sides is exchange-reused) gates the dial per
    // bucket: only buckets above `sliceHotMin` rows replicate; both
    // sides compute the same per-bucket m, so each pair still meets
    // exactly once and the result set is bit-identical (the planted-bit
    // slices test pins it). Applied from sliceGateMin slices up — below
    // that the window costs as much as the replication it saves (see
    // sliceGateMin's measured trade).
    val allSlices = array((0 until slices).map(lit): _*)
    def slice(c: Column): Column = pmod(xxhash64(c), lit(slices)).cast("int")
    val (left, right, joinKeys) =
      if (slices == 1)
        (banded.select(col("chunk"), col("key"), col("id").as("id_a"), col("sim").as("sim_a")),
          banded.select(col("chunk"), col("key"), col("id").as("id_b"), col("sim").as("sim_b")),
          Seq("chunk", "key"))
      else if (slices < sliceGateMin)
        // small m: full replication is at worst a wash vs the gate's
        // count window (measured at the generated sf10, m = 10: 47.3 s
        // legacy vs 52.5 s gated, single-shot with ±12% window variance
        // — a repeat of the legacy path measured 58.1 s), and the gate's
        // sort of the banded frame is pure overhead when (m − 1)× the
        // banded bytes is still exchange-affordable
        (banded.select(col("chunk"), col("key"), col("id").as("id_a"), col("sim").as("sim_a"),
            slice(col("id")).as("__sa"), explode(allSlices).as("__sb")),
          banded.select(col("chunk"), col("key"), col("id").as("id_b"), col("sim").as("sim_b"),
            explode(allSlices).as("__sa"), slice(col("id")).as("__sb")),
          Seq("chunk", "key", "__sa", "__sb"))
      else {
        val gated = banded.withColumn("__m",
          when(count(lit(1)).over(Window.partitionBy(col("chunk"), col("key")))
            > sliceHotMin, lit(slices)).otherwise(lit(1)))
        (gated.select(col("chunk"), col("key"), col("id").as("id_a"), col("sim").as("sim_a"),
            pmod(xxhash64(col("id")), col("__m")).cast("int").as("__sa"),
            explode(sequence(lit(0), col("__m") - 1)).as("__sb")),
          gated.select(col("chunk"), col("key"), col("id").as("id_b"), col("sim").as("sim_b"),
            explode(sequence(lit(0), col("__m") - 1)).as("__sa"),
            pmod(xxhash64(col("id")), col("__m")).cast("int").as("__sb")),
          Seq("chunk", "key", "__sa", "__sb"))
      }
    // Exactly-once emission WITHOUT a dedup shuffle: a pair's matching
    // tables are fully determined by which blocks of sim_a XOR sim_b are
    // zero, so each join instance can decide locally whether ITS table is
    // the pair's FIRST matching table and drop itself otherwise. On a
    // dense near-dup corpus a true pair collides in up to `subsets.size`
    // tables (hamming 0 ⇒ ALL of them), so the old
    // dropDuplicates(id_a, id_b) exchanged ~tables× the true pair volume;
    // this filter is a codegen'd bitwise chain in the join stage and the
    // only remaining shuffle is the join's own. Pigeonhole guarantees a
    // qualifying pair has >= keyBlocks untouched blocks, hence >= 1
    // matching table — emission is exactly once, the result set is
    // IDENTICAL to the dropDuplicates form.
    // The first matching table: the least t whose subset of blocks the
    // pair's XOR leaves untouched — one AND-against-a-mask per table,
    // evaluated by the native FirstCleanSubset expression. (A Column-tree
    // formulation gets inlined into the join condition with shared
    // sub-expressions duplicated per use; at 45 tables the generated
    // predicate blows the JIT's bytecode ceiling and the emission loop
    // runs interpreted — measured ~100× slower at sf1.)
    graft.functions.GraftFunctions.register(withSim.sparkSession)
    val subsetMasks = subsets.map(blks =>
      blks.map(blk => ((1L << widths(blk)) - 1) << offsets(blk)).reduce(_ | _))
    def firstMatch(diff: Column): Column =
      call_function("first_clean_subset", diff, lit(subsetMasks.toArray))
    // the merge hint forbids a broadcast plan: the banded side is small
    // in BYTES (ids + sims), so the planner would otherwise broadcast it
    // and stream the OTHER side — whose partitioning is the upstream
    // scan's (a single-row-group parquet file = ONE task), serializing
    // the entire candidate emission on one core. A shuffle join exchanges
    // both sides on the join key and runs the emission at full
    // shuffle-partition parallelism; emission volume is the cost either
    // way, parallelism is what the hint buys.
    left.hint("merge").join(right.hint("merge"), joinKeys)
      .filter(col("id_a") < col("id_b"))
      .withColumn("__diff", col("sim_a").bitwiseXOR(col("sim_b")))
      .filter(col("chunk") === firstMatch(col("__diff")))
      .select(col("id_a"), col("id_b"), bit_count(col("__diff")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Wide (120-bit, two-lane) SimHash sketch of the document's token
    * multiset — `array<bigint>` of two 60-bit lanes, element 0 always
    * equal to [[simHash]] of the same text (one md5 per token feeds both
    * lanes). Requires GraftFunctions.register on the session
    * (simHashNearDupsWide does it).
    */
  def simHashWide(text: Column): Column =
    graft.functions.GraftFunctions.simHash120(text)

  /** SimHash near-duplicates within a Hamming radius over the WIDE
    * (120-bit) sketch — the resolution escape from the radius-8-of-60-bits
    * frontier (SCALING_r11.md §1c). Same pigeonhole banding, same
    * exactly-once emission, same dials as [[simHashNearDups]]; what
    * changes is the sketch: at the SAME absolute radius, doubling the
    * sketch width (a) doubles every banding block's width — 13-bit keys
    * at radius 8 / keyBlocks 1 instead of 7-bit, restoring key
    * selectivity exactly where the 60-bit sketch saturates on
    * low-entropy near-template corpora — and (b) halves the match
    * FRACTION the radius asks for (8/120 vs 8/60), so the
    * output-quadratic density of random near-template pairs collapses
    * (measured on the synthetic corpus: see SCALING_r11.md §1d). A
    * 60-bit radius-8 user migrating here keeps the radius and gets a
    * STRICTER (finer-resolution) near-dup semantic — the Manku-style
    * posture where radius stays small and absolute as sketches widen.
    *
    * Solve `keyBlocks` with `simHashKeyBlocksFor(n, maxHamming,
    * bits = SimHashUtil.WideBits)`. Recall at the requested radius is
    * 1.0 for ANY keyBlocks (pigeonhole over the covered blocks;
    * differing bits outside any block only reduce in-block differences),
    * and the dial never changes results — the
    * `q_dedup_simhash_wide_k2 ≡ q_dedup_simhash_wide` oracle pins that.
    */
  def simHashNearDupsWide(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 8,
      keyBlocks: Int = 1,
      slices: Int = 1,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    simHashNearDupsWideFromSims(
      df.select(col(idCol).as("id"), simHashWide(col(textCol)).as("sims")),
      maxHamming, keyBlocks, slices)
  }

  /** Banding + verification over precomputed (id, sims: array<bigint>[2])
    * rows — [[simHashNearDupsFromSims]] generalized to two 60-bit lanes.
    * Blocks split evenly across the lanes (never straddling a lane
    * boundary, so every block is one shift+mask on one long); the
    * exactly-once first-matching-table check runs the two-lane native
    * [[graft.functions.FirstCleanSubset2]] over per-lane mask pairs.
    */
  private[graft] def simHashNearDupsWideFromSims(
      withSims: DataFrame,
      maxHamming: Int,
      keyBlocks: Int = 1,
      slices: Int = 1,
      sliceHotMin: Int = Dedup.sliceHotMin,
  ): DataFrame = {
    require(slices >= 1, "slices must be >= 1")
    val laneBits = graft.functions.SimHashUtil.Bits
    val bits = graft.functions.SimHashUtil.WideBits
    require(maxHamming >= 0 && maxHamming < bits, s"maxHamming must be in [0, ${bits - 1}]")
    require(keyBlocks >= 1, "keyBlocks must be >= 1")
    val b = maxHamming + keyBlocks
    require(b <= bits, s"maxHamming + keyBlocks must be <= $bits, got $b")
    // blocks per lane: lane 0 takes the ceil half — with b <= 120 each
    // lane holds <= 60 blocks, so every block is >= 1 bit wide
    val perLane = Array(b - b / 2, b / 2)
    // global block table: (lane, offset-within-lane, width); uncovered
    // bits (a lane with zero blocks at tiny b) only make banding less
    // selective, never unsound — verification counts all 120 bits
    val blocks: IndexedSeq[(Int, Int, Int)] = (0 to 1).flatMap { lane =>
      val nb = perLane(lane)
      if (nb == 0) IndexedSeq.empty
      else {
        val widths = Array.tabulate(nb)(i => laneBits / nb + (if (i < laneBits % nb) 1 else 0))
        val offsets = widths.scanLeft(0)(_ + _)
        (0 until nb).map(i => (lane, offsets(i), widths(i)))
      }
    }
    def laneCol(lane: Int): Column = col(if (lane == 0) "s0" else "s1")
    def blockBits(blk: Int): Column = {
      val (lane, off, w) = blocks(blk)
      val mask = (1L << w) - 1
      shiftright(laneCol(lane), off).bitwiseAND(lit(mask))
    }
    val subsets = blocks.indices.combinations(keyBlocks).toSeq
    require(subsets.size <= 2048,
      s"C($b, $keyBlocks) = ${subsets.size} tables — reduce keyBlocks or maxHamming")
    subsets.foreach { blks =>
      val w = blks.map(blk => blocks(blk)._3).sum
      require(w <= 63, s"packed table key would be $w bits (> 63) — raise keyBlocks")
    }
    val chunks = subsets.zipWithIndex.map { case (blks, t) =>
      val packed = blks.map { blk =>
        val off = blks.takeWhile(_ != blk).map(i => blocks(i)._3).sum
        if (off == 0) blockBits(blk) else shiftleft(blockBits(blk), off)
      }.reduce((a, c) => a.bitwiseOR(c))
      struct(lit(t).as("chunk"), packed.as("key"))
    }
    val withLanes = withSims.select(col("id"),
      element_at(col("sims"), 1).as("s0"), element_at(col("sims"), 2).as("s1"))
    val banded = withLanes
      .select(col("id"), col("s0"), col("s1"), explode(array(chunks: _*)).as("cc"))
      .select(col("id"), col("s0"), col("s1"), col("cc.chunk"), col("cc.key"))
    // hot-gated slicing — see simHashNearDupsFromSims: only buckets above
    // sliceHotMin rows replicate m×; pairs still meet exactly once
    val allSlices = array((0 until slices).map(lit): _*)
    def slice(c: Column): Column = pmod(xxhash64(c), lit(slices)).cast("int")
    val (left, right, joinKeys) =
      if (slices == 1)
        (banded.select(col("chunk"), col("key"), col("id").as("id_a"),
          col("s0").as("s0_a"), col("s1").as("s1_a")),
          banded.select(col("chunk"), col("key"), col("id").as("id_b"),
            col("s0").as("s0_b"), col("s1").as("s1_b")),
          Seq("chunk", "key"))
      else if (slices < sliceGateMin)
        (banded.select(col("chunk"), col("key"), col("id").as("id_a"),
          col("s0").as("s0_a"), col("s1").as("s1_a"),
          slice(col("id")).as("__sa"), explode(allSlices).as("__sb")),
          banded.select(col("chunk"), col("key"), col("id").as("id_b"),
            col("s0").as("s0_b"), col("s1").as("s1_b"),
            explode(allSlices).as("__sa"), slice(col("id")).as("__sb")),
          Seq("chunk", "key", "__sa", "__sb"))
      else {
        val gated = banded.withColumn("__m",
          when(count(lit(1)).over(Window.partitionBy(col("chunk"), col("key")))
            > sliceHotMin, lit(slices)).otherwise(lit(1)))
        (gated.select(col("chunk"), col("key"), col("id").as("id_a"),
          col("s0").as("s0_a"), col("s1").as("s1_a"),
          pmod(xxhash64(col("id")), col("__m")).cast("int").as("__sa"),
          explode(sequence(lit(0), col("__m") - 1)).as("__sb")),
          gated.select(col("chunk"), col("key"), col("id").as("id_b"),
            col("s0").as("s0_b"), col("s1").as("s1_b"),
            explode(sequence(lit(0), col("__m") - 1)).as("__sa"),
            pmod(xxhash64(col("id")), col("__m")).cast("int").as("__sb")),
          Seq("chunk", "key", "__sa", "__sb"))
      }
    graft.functions.GraftFunctions.register(withSims.sparkSession)
    // per-subset masks, one per lane (0 where the subset has no block in
    // that lane) — the wide twin of the single-long subsetMasks
    val subsetMasks = subsets.map { blks =>
      def laneMask(lane: Int): Long = blks
        .map(blocks).filter(_._1 == lane)
        .map { case (_, off, w) => ((1L << w) - 1) << off }
        .foldLeft(0L)(_ | _)
      (laneMask(0), laneMask(1))
    }
    def firstMatch(diff0: Column, diff1: Column): Column =
      call_function("first_clean_subset2", diff0, diff1,
        lit(subsetMasks.map(_._1).toArray), lit(subsetMasks.map(_._2).toArray))
    left.hint("merge").join(right.hint("merge"), joinKeys)
      .filter(col("id_a") < col("id_b"))
      .withColumn("__d0", col("s0_a").bitwiseXOR(col("s0_b")))
      .withColumn("__d1", col("s1_a").bitwiseXOR(col("s1_b")))
      .filter(col("chunk") === firstMatch(col("__d0"), col("__d1")))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("__d0")) + bit_count(col("__d1"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected pair graph — the step that
    * turns near-duplicate PAIRS into duplicate CLUSTERS (a document
    * transitively near-duplicate of a kept one must also be dropped;
    * pairwise filtering alone can't see that).
    *
    * Algorithm: hash-min label propagation with pointer-jumping
    * shortcuts. Every node starts labeled with its own id; each round
    *  (1) takes the min of its own and its neighbors' labels, and
    *  (2) jumps: relabels to its current label's label,
    * so labels race down edges AND shortcut through label chains —
    * convergence in O(log d) rounds for diameter d (near-dup clusters
    * are quasi-cliques, d is tiny; even a pure chain of length n needs
    * only ~log n rounds thanks to the jump step). Each round is two
    * equi-joins + one aggregation, all shuffling (id, label) longs only —
    * never documents. The driver loop carries no data, just the
    * converged? flag (the same shape as k-means iterations).
    *
    * The converged label IS the minimum id in the component, so the
    * canonical keep-first representative falls out for free
    * (`id == component`).
    *
    * Returns (id, component). Nodes absent from `edges` are their own
    * singleton component.
    */
  def connectedComponents(
      edges: DataFrame, // (id_a, id_b)
      nodes: DataFrame, // (id)
      maxIterations: Int = 50,
  ): DataFrame = {
    // Lineage MUST be truncated every iteration (eagerly): `jumped`
    // references `pulled` twice, so the logical plan otherwise doubles per
    // round and Catalyst analysis goes exponential by ~10 iterations —
    // caching alone does not help, the analyzer still walks the full tree.
    // Each round is scratch (Scratch.checkpoint): reliable when the session
    // has a checkpoint directory, so iterations survive executor loss.
    def truncate(df: DataFrame): DataFrame = Scratch.checkpoint(df, eager = true)
    val both = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    var labels = truncate(nodes.select(col("id"), col("id").as("comp")))
    var changed = 1L
    var iter = 0
    try {
      while (changed > 0 && iter < maxIterations) {
        // (1) hash-min: pull the smallest label among self + neighbors.
        // Persisted: the jump self-join reads `pulled` twice — without the
        // cache the neighbor-min shuffle+aggregation (the dominant
        // per-round cost) would execute twice per iteration.
        val neighborMin = both
          .join(labels.withColumnRenamed("id", "src"), Seq("src"))
          .groupBy(col("dst").as("id"))
          .agg(min(col("comp")).as("ncomp"))
        val pulled = labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"), col("comp").as("old"),
            least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
          .persist()
        // (2) pointer jump: comp := label(comp) — shortcuts label chains.
        // The pre-round label rides along as `old` so the convergence
        // check is a row-level comparison over the SAME pass that
        // materializes the round, not a second job.
        val round = pulled.alias("l")
          .join(pulled.select(col("id").as("comp"), col("comp").as("jcomp")).alias("j"),
            Seq("comp"), "left")
          .select(col("id"), col("old"), coalesce(col("jcomp"), col("comp")).as("comp"))
        // ONE driver action per round, not two: the convergence count
        // piggybacks on the materializing action as an observed metric
        // (CollectMetricsExec populates the count while the checkpoint's
        // internal count() executes the plan; Dataset.checkpoint runs
        // under withAction, so the metric is delivered on completion).
        // The former shape — truncate() then a separate
        // filter(changed).count() — paid a second job per round: trivial
        // at sf0.1 (~0.1-0.3 s job latency over cached blocks) but a
        // serial O(rounds) driver term at 100 TB where the re-scan of the
        // checkpointed blocks is a full cluster pass per round. The
        // metric must not sit under an InMemoryRelation (a cached subtree
        // does not surface it to the action); Scratch.checkpoint's first
        // action is always the local checkpoint of this very plan.
        val obs = org.apache.spark.sql.Observation()
        val jumped = truncate(round
          .observe(obs, count(when(col("comp") =!= col("old"), 1)).as("changed")))
        changed = obs.get("changed").asInstanceOf[Long]
        pulled.unpersist()
        labels = jumped.select(col("id"), col("comp"))
        iter += 1
      }
      require(changed == 0,
        s"connectedComponents did not converge in $maxIterations iterations")
    } finally both.unpersist() // release the edge cache even on non-convergence
    labels
  }

  /** Incremental connected components — the daily-crawl shape for
    * CLUSTERED dedup: fold a new batch's pairs into PRIOR component
    * labels without re-walking the historical edge set. The prior
    * labeling compresses every old component into a STAR (one
    * `(id, comp)` edge per non-representative node — exactly what
    * [[connectedComponents]] returns), so the merge's edge set is
    * `|prior nodes| + |new pairs|` no matter how many historical pair
    * edges produced those labels — at 100 TB the difference between
    * clustering against years of accumulated pairs and clustering
    * against one label table. Labels out are again min-ids over the
    * merged graph, so the operator is CLOSED under iteration: feed each
    * day's output in as the next day's prior (label-stability and
    * full-recompute parity are unit-tested). New-batch ids absent from
    * every pair join as singletons, exactly like the base operator.
    */
  def connectedComponentsIncrement(
      priorLabels: DataFrame, // (id, comp) from a previous run
      newPairs: DataFrame,    // (id_a, id_b) pairs touching the batch
      newNodes: DataFrame,    // (id) the batch's ids
      maxIterations: Int = 50,
  ): DataFrame = {
    val starEdges = priorLabels.filter(col("id") =!= col("comp"))
      .select(col("id").as("id_a"), col("comp").as("id_b"))
    val nodes = priorLabels.select(col("id"))
      .union(newNodes.select(col("id"))).distinct()
    connectedComponents(
      starEdges.unionByName(newPairs.select(col("id_a"), col("id_b"))),
      nodes, maxIterations)
  }

  /** Every row labeled with its near-duplicate cluster (`dup_group` = the
    * minimum id transitively reachable through MinHash near-dup pairs at
    * the threshold). Composition: banded candidate pairs → exact Jaccard
    * verification → connected components — each stage the scale shape
    * described on its operator.
    */
  def nearDupGroups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.7,
  ): DataFrame = {
    val pairs = minHashNearDups(df, textCol, idCol, numHashes, bands, shingleSize, threshold)
    val comps = connectedComponents(pairs, df.select(col(idCol).as("id")))
    df.join(comps.select(col("id").as(idCol), col("comp").as("dup_group")), Seq(idCol))
  }

  /** Keep one representative (the minimum id) per near-duplicate cluster —
    * the end-to-end near-dedup a training pipeline actually applies.
    * Because the component label is the cluster's min id, this is a
    * simple `id == dup_group` filter over [[nearDupGroups]].
    */
  def nearDupKeepFirst(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.7,
  ): DataFrame =
    nearDupGroups(df, textCol, idCol, numHashes, bands, shingleSize, threshold)
      .filter(col(idCol) === col("dup_group")).drop("dup_group")

  /** Near-dup clustered dedup keeping the BEST representative per
    * cluster by a caller-supplied score (a quality signal, a trained
    * [[Embeddings.linearScore]], a length heuristic) instead of
    * [[nearDupKeepFirst]]'s min-id convention — when a page exists as a
    * clean copy and five boilerplate-laden mirrors, production dedup
    * wants the clean one regardless of crawl order. Ties break by
    * `idCol` ascending; null scores sort last (a scoreless copy never
    * beats a scored one).
    *
    * Scale shape: everything [[nearDupGroups]] costs, plus ONE window
    * over the grouped frame keyed on the cluster label — clusters are
    * near-dup families (small), so the window streams without hot-key
    * risk.
    */
  def nearDupKeepBest(
      df: DataFrame,
      textCol: String,
      idCol: String,
      score: Column,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.7,
  ): DataFrame = {
    val grouped = nearDupGroups(df, textCol, idCol, numHashes, bands, shingleSize, threshold)
    val w = Window.partitionBy(col("dup_group"))
      .orderBy(score.desc_nulls_last, col(idCol))
    grouped.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "dup_group")
  }

  /** Leakage-safe train/val/test split: assign the split on the near-dup
    * CLUSTER label instead of the document id, so near-duplicates can
    * never straddle the train/eval boundary. A plain per-doc hash split
    * leaks: two near-identical crawls of one page land on opposite sides
    * with probability 2·p·(1−p), silently inflating eval scores (the
    * train/test contamination Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", measure directly). Composes
    * [[nearDupGroups]] (`dup_group` = min-id per connected near-dup
    * cluster) with [[Sample.splitByHash]] keyed on the cluster label:
    * every member of a cluster shares one hash bucket, so the whole
    * family moves as a unit. Singletons are their own cluster
    * (`dup_group` = own id), so assignment stays growth-stable exactly
    * like `splitByHash` — adding documents never migrates old ones unless
    * a new edge merges their cluster (the correct behavior: the merged
    * family must land on ONE side).
    *
    * Scale shape: everything [[nearDupGroups]] costs (banded candidates,
    * pointer-jump components), plus a narrow hash projection — the split
    * itself adds no shuffle. A production pipeline that already
    * materialized its clusters (a stored `dup_group` column) should skip
    * this and call `Sample.splitByHash(df, "dup_group", …)` directly —
    * this operator IS that call, composed with the cluster computation.
    */
  def leakageSafeSplit(
      df: DataFrame,
      textCol: String,
      idCol: String,
      weights: Seq[(String, Double)],
      salt: String = "",
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.7,
  ): DataFrame =
    Sample.splitByHash(
      nearDupGroups(df, textCol, idCol, numHashes, bands, shingleSize, threshold),
      "dup_group", weights, salt)

  /** N-gram Jaccard near-duplicates: exact Jaccard over word n-gram sets,
    * with MinHash banding as the candidate generator (never all-pairs).
    * This is `minHashNearDups` re-verified with a different n — kept as its
    * own operator because the n-gram granularity is a quality knob
    * training pipelines tune independently.
    */
  def ngramJaccardNearDups(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
  ): DataFrame =
    // 10 bands × 6 rows → s* ≈ 0.68: tuned to the high threshold so that
    // the ubiquitous low-similarity pairs short n-grams produce don't all
    // become candidates (recall at 0.8 ≈ 0.95, at 0.9 ≈ 1.0)
    minHashNearDups(df, textCol, idCol, numHashes = 60, bands = 10, shingleSize = n,
      threshold = threshold)

  /** Embedding-cosine near-duplicates: multi-table SRP-LSH candidates,
    * exact cosine verification.
    *
    * Recall tuning: a pair at cosine c collides in one table with
    * probability (1 - θ/π)^planes (θ = arccos c); `tables` independent
    * hash tables OR together, recall = 1-(1-p)^tables. High thresholds
    * (0.9+) need few tables; moderate thresholds need more tables with
    * fewer planes. The shuffle key is (table, bucket) — candidate volume,
    * not corpus size, drives cost.
    */
  def embeddingNearDups(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      planes: Int = 8,
      tables: Int = 8,
      maxBucketSize: Int = 10000,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val dims = Similarity.vecDims(base, "vec")
    // all tables' buckets in ONE fused native loop (srp_bands): the
    // Column-tree form inlined tables × planes literal-array dot products
    // — a multi-MB expression tree at the corpus-aware sf10 configs that
    // fell out of codegen and evaluated interpreted. Bit-identical
    // buckets (OpsSpec parity test); max(dims, 1) keeps the empty-corpus
    // case a null-band no-op instead of a construction error.
    val banded1 = base
      .select(col("id"), posexplode(graft.functions.GraftFunctions.srpBands(
        col("vec"), planes, tables, math.max(dims, 1))).as(Seq("table", "bucket")))
      .persist()
    val banded = dropOverfullBuckets(banded1, Seq("table", "bucket"), maxBucketSize,
      "embeddingNearDups", logMetric = true)
    val left = banded.select(col("table"), col("bucket"), col("id").as("id_a"))
    val right = banded.select(col("table"), col("bucket"), col("id").as("id_b"))
    // Candidate instances stay duplicated (a pair colliding in t tables
    // appears t times) until AFTER the cosine verification: deduplicating
    // candidates first would exchange the full candidate volume, while a
    // true pair's expected table multiplicity is small (tables ×
    // p_coll^planes ≈ 1.3–1.5 at any recall-holding config), so verifying
    // duplicates costs a few extra dot products and the only pair-keyed
    // exchange left is OUTPUT-sized. The vector re-joins broadcast the
    // (id, vec) side, so duplicated candidates never inflate a shuffle —
    // AQE still picks the join strategy from actual volumes.
    // merge hint: same broadcast-forbidding rationale as
    // [[simHashNearDupsFromSims]] — the banded side is byte-small, and a
    // broadcast plan would stream the bucket self-join's emission through
    // the upstream scan's task count (1 for a single-file corpus).
    // The exchange is PINNED to an explicit partition count (the
    // [[semanticDedupWithIndex]] trick): AQE coalesces by INPUT bytes,
    // but a bucket self-join's output is quadratic in bucket size — the
    // banded frame is byte-small at every rung while its emission is
    // candidate-volume-sized, so AQE's coalesce/skew decisions on it
    // varied run to run (measured 49–75 s on identical sf10 HEAD,
    // BENCH_NOTES_r11 "window quality") — a numbered user repartition is
    // exempt from coalescing and makes the task layout deterministic.
    val np = df.sparkSession.sessionState.conf.numShufflePartitions
    val candidates = left.repartition(np, col("table"), col("bucket")).hint("merge")
      .join(right.repartition(np, col("table"), col("bucket")).hint("merge"),
        Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val result = candidates
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("cosine", Similarity.cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .dropDuplicates("id_a", "id_b")
    // checkpoint, then release the cached banding (see minHashNearDups)
    materializeAndRelease(result, Seq(banded1))
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication by
    * k-means partitioning + EXACT within-cluster cosine. Where
    * [[embeddingNearDups]] hashes (SRP bands, probabilistic recall),
    * this clusters: train a k-means quantizer on a deterministic sample
    * ([[Similarity.trainIvf]]), assign every row its cell with the
    * literal-centroid argmax (narrow, codegen'd — no shuffle), then
    * compare all pairs WITHIN a cell exactly and keep cosine ≥
    * `threshold`. Misses only cross-cell boundary pairs — the published
    * algorithm's deliberate trade, monitored here by the
    * `q_dedup_semantic_recall` driver row ([[pairRecall]] vs
    * [[exactCosinePairs]]) and tunable with `nProbe`: each row lands in
    * its `nProbe` best cells (overlapping clusters), so a boundary pair
    * split between two adjacent cells still shares one — recall rises at
    * n× candidate cost, the same dial IVF search calls nprobe.
    *
    * 100 TB shape: the cell self-join shuffles (id, cell) only — vectors
    * re-join candidate-sized afterwards; per-cell work is quadratic in
    * CELL size, not corpus size, so `nClusters` scales with the corpus
    * (SemDeDup used 50k cells for LAION-440M) and `maxCellSize` guards
    * the degenerate-cell corner exactly like the LSH bucket guard.
    * Returns (id_a, id_b, cosine) pairs; compose with
    * [[semanticDedupKeepFirst]] for the applied dedup.
    */
  def semanticDedup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nClusters: Int = 32,
      threshold: Double = 0.95,
      nProbe: Int = 1,
      sampleOneIn: Int = 1,
      maxCellSize: Int = 10000,
  ): DataFrame =
    semanticDedupWithIndex(
      Similarity.trainIvf(df, vecCol, idCol, nClusters, sampleOneIn),
      df, vecCol, idCol, threshold, nProbe, maxCellSize)

  /** [[semanticDedup]] against a pre-trained quantizer — the steady-state
    * half of the train-once lifecycle ([[Similarity.saveIvf]]/`loadIvf`
    * persist the index), exactly [[Similarity.ivfSearch]]'s split.
    */
  def semanticDedupWithIndex(
      index: Similarity.IvfIndex,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      nProbe: Int = 1,
      maxCellSize: Int = 10000,
  ): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val base = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    val celled1 = base.select(col("id"),
      explode(Similarity.topCells(index, col("vec"), nProbe)).as("cell"))
      .persist()
    val celled = dropOverfullBuckets(celled1, Seq("cell"), maxCellSize,
      "semanticDedup", logMetric = true)
    // pair-keyed dedup AFTER verification, not before: with nProbe
    // overlapping cells a pair appears at most nProbe times, so verifying
    // the duplicates costs <= nProbe dot products while deduplicating
    // first would exchange the whole candidate volume (see the same move
    // in [[embeddingNearDups]]) — the surviving exchange is output-sized.
    // The join's exchange is PINNED to an explicit partition count: AQE's
    // partition coalescing sizes by INPUT bytes, but a cell self-join's
    // output is quadratic in cell size — at the sf1 rung the celled frame
    // is ~1 MB and coalescing folded the whole 58M-pair emission into ONE
    // task (measured 34.7 s vs 3.0 s once pinned at 32 partitions; a
    // numbered user repartition is exempt from coalescing). The merge
    // hints still forbid the broadcast plan (scan-rooted single-task
    // emission, the round-9 fix).
    val np = df.sparkSession.sessionState.conf.numShufflePartitions
    val candidates = celled.select(col("cell"), col("id").as("id_a"))
      .repartition(np, col("cell")).hint("merge")
      .join(celled.select(col("cell"), col("id").as("id_b"))
        .repartition(np, col("cell")).hint("merge"), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val result = candidates
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("cosine", Similarity.cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .dropDuplicates("id_a", "id_b")
    materializeAndRelease(result, Seq(celled1))
  }

  /** The celled-vector store for incremental SemDeDup: (id, cell, vec),
    * one row per (row × probed cell) — the semantic sibling of
    * [[minHashSignatures]]' signature table. Persist it (parquet,
    * partitioned by cell if large) and hand increments to
    * [[semanticDedupIncrement]] / [[semanticDedupStream]]. The store is
    * only comparable to itself when built with the SAME index and
    * `nProbe` — persist the quantizer alongside ([[Similarity.saveIvf]]).
    */
  def semanticCells(
      index: Similarity.IvfIndex,
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nProbe: Int = 1,
  ): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        explode(Similarity.topCells(index, col(vecCol), nProbe)).as("cell"))
      .select(col("id"), col("cell"), col("vec"))
  }

  /** Incremental SemDeDup: a new batch of celled rows against the stored
    * history — [[minHashNearDupsIncremental]]'s daily-crawl shape with
    * cells instead of bands. Pairs must touch at least one NEW row
    * (history×history pairs were reported when the history was new);
    * batch-internal pairs ARE included, so appending `batchCells` to the
    * store after the run keeps the pair set complete. Both inputs come
    * from [[semanticCells]] built with the same index; a store built with
    * a LARGER quantizer fails loudly on the first out-of-range cell id
    * rather than silently mis-bucketing.
    */
  def semanticDedupIncrement(
      index: Similarity.IvfIndex,
      batchCells: DataFrame,
      historyCells: DataFrame,
      threshold: Double = 0.95,
      maxCellSize: Int = 10000,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(batchCells.sparkSession)
    def cellChecked(df: DataFrame): DataFrame = df.withColumn("cell",
      when(col("cell") >= 0 && col("cell") < index.nlist, col("cell"))
        .otherwise(raise_error(concat(
          lit(s"semanticDedupIncrement: cell id out of range for nlist=${index.nlist} (found "),
          col("cell").cast("string"), lit(")")))))
    val all = cellChecked(batchCells)
      .select(col("id"), col("cell"), col("vec"), lit(1).as("side"))
      .unionByName(cellChecked(historyCells)
        .select(col("id"), col("cell"), col("vec"), lit(0).as("side")))
    val celled0 = all.select(col("id"), col("cell"), col("side"))
    val celled = dropOverfullBuckets(celled0, Seq("cell"), maxCellSize,
      "semanticDedupIncrement", logMetric = false)
    // same pinned-exchange discipline as [[semanticDedupWithIndex]]: the
    // cell self-join's emission is quadratic in cell size while its input
    // is KB-scale, so AQE coalescing would fold it onto one task
    val np = batchCells.sparkSession.sessionState.conf.numShufflePartitions
    val candidates = celled
      .select(col("cell"), col("id").as("id_a"), col("side").as("side_a"))
      .repartition(np, col("cell"))
      .join(celled.select(col("cell"), col("id").as("id_b"), col("side").as("side_b"))
        .repartition(np, col("cell")),
        Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("side_a") + col("side_b") >= 1) // at least one new-batch row
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = all.select(col("id"), col("vec")).dropDuplicates("id")
    candidates
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("cosine", Similarity.cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Streaming twin of [[semanticDedupIncrement]]: micro-batch rows
    * assign their `nProbe` cells STATELESSLY (the literal-centroid argmax
    * is a pure projection, so cells line up with any store built from the
    * same index), stream-static inner-join the celled history on `cell`,
    * verify by exact cosine, and emit (id, hist_id, cosine) — the online
    * "is this new vector a semantic dup of anything ingested" serving
    * path. The only state is `dropDuplicatesWithinWatermark` over the
    * pair key (collapses multi-probe collisions of the same pair),
    * bounded by the event-time watermark. WITHIN-STREAM pairs are out of
    * scope for the same reason as [[minHashNearDupsStream]]: both
    * arrivals flow through this same path against the store.
    */
  def semanticDedupStream(
      index: Similarity.IvfIndex,
      streamVecs: DataFrame,
      historyCells: DataFrame,
      vecCol: String,
      idCol: String,
      tsCol: String,
      watermarkDelay: String = "1 hour",
      threshold: Double = 0.95,
      nProbe: Int = 1,
  ): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    graft.functions.GraftFunctions.register(streamVecs.sparkSession)
    val hist = historyCells
      .select(col("id").as("hist_id"), col("cell"), col("vec").as("hist_vec"))
    streamVecs
      .withWatermark(tsCol, watermarkDelay)
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(tsCol).as("__ts"), col(vecCol).as("vec"),
        explode(Similarity.topCells(index, col(vecCol), nProbe)).as("cell"))
      .join(hist, Seq("cell"))
      .withColumn("cosine", Similarity.cosineNative(col("vec"), col("hist_vec")))
      .filter(col("cosine") >= threshold)
      .select(col("id"), col("hist_id"), col("__ts"),
        round(col("cosine"), 6).as("cosine"))
      .dropDuplicatesWithinWatermark("id", "hist_id")
      .select(col("id"), col("hist_id"), col("cosine"))
  }

  /** Keep one representative (the minimum id) per semantic-duplicate
    * cluster: [[semanticDedup]] pairs → [[connectedComponents]] → the
    * `id == component` filter — [[nearDupKeepFirst]]'s composition with
    * cosine-over-clusters instead of Jaccard-over-bands. The end-to-end
    * SemDeDup a training pipeline applies.
    */
  def semanticDedupKeepFirst(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nClusters: Int = 32,
      threshold: Double = 0.95,
      nProbe: Int = 1,
      sampleOneIn: Int = 1,
  ): DataFrame = {
    val pairs = semanticDedup(df, vecCol, idCol, nClusters, threshold, nProbe, sampleOneIn)
    val comps = connectedComponents(pairs, df.select(col(idCol).as("id")))
    df.join(comps.select(col("id").as(idCol), col("comp").as("dup_group")), Seq(idCol))
      .filter(col(idCol) === col("dup_group")).drop("dup_group")
  }

  /** Corpus-level PARAGRAPH dedup — the sub-document pass the Dolma and
    * RefinedWeb pipelines run between exact-doc and near-dup dedup
    * (Soldaini et al. 2024, arXiv:2402.00159; Penedo et al. 2023):
    * split every document on `sep`, drop every paragraph whose
    * normalized content already occurred EARLIER in the corpus (first
    * occurrence ordered by (idCol, position) survives), and reassemble
    * each document from its surviving paragraphs in order. Catches the
    * shared boilerplate (headers, footers, nav, disclaimers) that
    * document-level dedup can't touch because the surrounding text
    * differs. Whitespace-only paragraphs are always kept — they are
    * formatting, not content, and deduping them would garble every
    * document after the first.
    *
    * Output: `(idCol, text_dedup, n_paras_kept, n_paras_removed)` — one
    * row per input document (a fully-deduped document keeps its row
    * with empty text; a NULL-text document is treated as empty text and
    * keeps its row too).
    *
    * Scale shape: the keep/drop decision shuffles only slim
    * (key, id, pos) rows, kept POSITIONS aggregate per document as an
    * integer-only exchange, and the document TEXT rides exactly ONE
    * shuffle — the id-keyed join with its own kept-position list — and
    * never explodes at all (each row re-splits and reassembles its own
    * text in place). Blank paragraphs are window-keyed per row (see
    * [[splitParas]]) so the corpus-wide md5("") key never funnels into
    * one task. All exchanges are hash exchanges; no global sort.
    *
    * `broadcastMaxPositions` is the reassembly's measure-then-choose
    * broadcast bound (see [[reassembleFromPositions]]); `<= 0` never
    * broadcasts: the same changed-set side merges, and no Spark action
    * runs at plan-construction time — the escape lazy-composition and
    * stream-static callers need.
    *
    * Fault tolerance and retention: with a bound above 0 the measured
    * changed-set side is scratch ([[Scratch.checkpoint]]): a reliable
    * checkpoint when the session has a checkpoint directory, which
    * survives executor loss, and a `localCheckpoint` otherwise, whose
    * loss with an executor fails the job. It stays for as long as the
    * returned frame is reachable; Spark's ContextCleaner frees it only
    * after a driver GC has collected that frame
    * (`spark.cleaner.periodicGC.interval`, 30 min by default), not after
    * the first action. A bound `<= 0` checkpoints nothing.
    */
  def paragraphDedup(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      sep: String = "\n",
      broadcastMaxPositions: Long = 32000000L,
  ): DataFrame = {
    val w = Window.partitionBy(col("__wkey")).orderBy(col(idCol), col("__pos"))
    val flagged = slimParas(docs, textCol, idCol, sep)
      .withColumn("__keep", col("__blank") || row_number().over(w) === 1)
    reassembleFromPositions(docs, flagged, textCol, idCol, sep,
      broadcastMaxPositions)
  }

  /** (id, __pos, __para, __digest, __blank, __wkey) exploded paragraph
    * rows — shared front of the paragraph-dedup family. `__wkey` is the
    * dedup window/join key: the normalized-content digest for non-blank
    * paragraphs, but a per-row salted key for BLANKS — every blank in
    * the corpus normalizes to "" and would otherwise funnel into the
    * single md5("") partition (a guaranteed straggler at corpus scale),
    * while the keep rule ignores their window rank anyway. The "b:"
    * prefix cannot collide with a 32-hex md5 digest. NULL text is
    * treated as empty text so every document yields at least one row.
    */
  private def splitParas(
      docs: DataFrame, textCol: String, idCol: String, sep: String): DataFrame = {
    val norm = TextOps.normalized(col("__para"))
    docs
      .select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__para")))
      .withColumn("__digest", md5(norm.cast("binary")))
      .withColumn("__blank", length(norm) === 0)
      .withColumn("__wkey",
        when(col("__blank"),
          concat(lit("b:"), col(idCol).cast("string"), lit(":"),
            col("__pos").cast("string")))
          .otherwise(col("__digest")))
  }

  /** [[splitParas]] without the paragraph text — the shuffle payload of
    * the batch dedup passes.
    */
  private def slimParas(
      docs: DataFrame, textCol: String, idCol: String, sep: String): DataFrame =
    splitParas(docs, textCol, idCol, sep)
      .select(col(idCol), col("__pos"), col("__blank"), col("__wkey"))

  /** Rebuild `(idCol, text_dedup, n_paras_kept, n_paras_removed)` from
    * flagged slim rows: kept positions aggregate per document, join the
    * original documents on the id (the ONE text shuffle), and each row
    * reassembles its own text from the positions — `get` is 0-based and
    * null-safe, matching posexplode's positions.
    *
    * Join strategy is MEASURED, never estimated (round 13): the join side
    * is gated to CHANGED documents only (n_paras_removed > 0 — unchanged
    * documents reassemble to their own text verbatim, split+join being
    * the identity), one aggregate learns its true positions payload, and
    * the reassembly broadcasts when it fits `broadcastMaxPositions` —
    * document text then never shuffles or sorts. Above the bound, and
    * with a bound `<= 0` (nothing measured, no action at construction),
    * the gated side merges through the pinned spill-safe SMJ. History of the
    * pins this replaces, all still binding on the fallback path: leaving
    * the strategy to size ESTIMATES measurably breaks it (at the sf100
    * rung the incremental row's estimator flipped to BROADCASTING the
    * ~20 GB TEXT projection — 50.1 s vs the full pass's 25.0 s for
    * strictly less work, SCALING_r12 §2); MERGE, not shuffle_hash,
    * because a shuffled-hash build has no spill path and the 13-row
    * sf100 sweep OOM'd a 48 GB heap on those maps; and the r12 full-side
    * merge itself went 6.6×/decade at sf300, where sorting the multi-GB
    * text side spilled >40 GB (SCALING_r13) — the changed-set gate is
    * what removes text from the join entirely.
    */
  private def reassembleFromPositions(
      docs: DataFrame, flagged: DataFrame, textCol: String, idCol: String,
      sep: String, broadcastMaxPositions: Long = 32000000L): DataFrame = {
    val kept = flagged
      .groupBy(col(idCol))
      .agg(
        sort_array(collect_list(when(col("__keep"), col("__pos")))).as("__kept"),
        count(when(col("__keep"), lit(1))).as("n_paras_kept"),
        count(when(!col("__keep"), lit(1))).as("n_paras_removed"))
    val parr = split(coalesce(col(textCol), lit("")),
      java.util.regex.Pattern.quote(sep))
    // changed-set gating (round 13 — the sf300 lesson): a document with
    // ZERO removed paragraphs reassembles to its own text verbatim
    // (split-on-sep + join-with-sep is the identity), so only documents
    // that actually LOST a paragraph need to meet their positions in a
    // join. That side is duplication-sized, not corpus-sized — measure
    // it (one aggregate over the checkpointed byte-small positions rows)
    // and broadcast when the payload fits, so document text shuffles
    // and sorts ZERO times; at sf300 the old full-side merge sorted the
    // multi-GB text side with >40 GB of spill (6.6x wall for 3x docs).
    // Above the bound — near-template corpora where most documents lose
    // paragraphs — and when `broadcastMaxPositions <= 0` (never
    // broadcast, nothing measured) the SAME gated side merges through
    // the pinned spill-safe SMJ (never estimator-chosen, never an
    // unspillable hash build).
    val changed = kept.filter(col("n_paras_removed") > 0)
    val side =
      if (broadcastMaxPositions <= 0) changed.hint("merge")
      else {
        // the scratch checkpoint stays out of the CacheManager: it lives
        // as long as the returned reassembly reads it, and Spark's
        // ContextCleaner frees it once that frame is gone, so
        // pipeline-staged sessions don't accumulate one pinned positions
        // frame per dedup pass
        val measured = Scratch.checkpoint(changed, eager = false)
        val m = measured.agg(
          coalesce(sum(size(col("__kept"))), lit(0)).cast("long"),
          count(lit(1))).collect().head
        val positions = m.getLong(0)
        log.info(s"reassembleFromPositions: changed_docs=${m.getLong(1)} " +
          s"kept_positions=$positions (broadcast bound $broadcastMaxPositions)")
        if (positions <= broadcastMaxPositions) broadcast(measured)
        else measured.hint("merge")
      }
    docs
      .select(col(idCol), coalesce(col(textCol), lit("")).as("__t"),
        parr.as("__parr"))
      .join(side, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__kept").isNull, col("__t"))
          .otherwise(
            array_join(transform(col("__kept"), p => get(col("__parr"), p)), sep))
          .as("text_dedup"),
        coalesce(col("n_paras_kept"), size(col("__parr")).cast("long"))
          .as("n_paras_kept"),
        coalesce(col("n_paras_removed"), lit(0L)).as("n_paras_removed"))
  }

  /** The paragraph digest STORE: one row per distinct non-blank
    * normalized-paragraph digest — the persisted state of the
    * incremental lifecycle ([[minHashSignatures]]' sibling). Persist it
    * (parquet), extend it with each accepted batch's digests (union +
    * distinct, or an append + dedup-on-read), and hand it to
    * [[paragraphDedupIncrement]] / [[paragraphDedupStream]].
    */
  def paragraphDigests(
      docs: DataFrame,
      textCol: String,
      sep: String = "\n",
  ): DataFrame =
    docs
      .select(explode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as("__para"))
      .select(TextOps.normalized(col("__para")).as("__n"))
      .filter(length(col("__n")) > 0)
      .select(md5(col("__n").cast("binary")).as("digest"))
      .dropDuplicates("digest")

  /** Incremental paragraph dedup — the daily-crawl shape: a new batch
    * against the STORED digest set of everything already accepted.
    * Batch paragraphs whose digest is in the store are dropped; within
    * the batch, the global first occurrence (by (idCol, position))
    * survives; blanks are exempt as in [[paragraphDedup]]. With the
    * store built from a history whose ids all precede the batch's,
    * the output equals the full-corpus [[paragraphDedup]] restricted
    * to batch documents (parity-tested).
    *
    * Scale shape: the store join is a key-keyed equi-join (16-byte
    * digests, no text; blank rows carry their per-row salted key, so
    * they match nothing and never skew the join); the join's hash
    * partitioning on `__wkey` is exactly what the first-occurrence
    * window needs, so no extra exchange appears between them.
    * Everything else matches the batch operator, including
    * `broadcastMaxPositions` (`<= 0` = never broadcast, no
    * plan-construction-time action) and the fault-tolerance and
    * retention trade of its checkpointed side.
    */
  def paragraphDedupIncrement(
      batch: DataFrame,
      historyDigests: DataFrame,
      textCol: String,
      idCol: String,
      sep: String = "\n",
      broadcastMaxPositions: Long = 32000000L,
  ): DataFrame = {
    val seen = historyDigests.select(col("digest").as("__wkey"))
      .dropDuplicates("__wkey").withColumn("__seen", lit(true))
    val w = Window.partitionBy(col("__wkey")).orderBy(col(idCol), col("__pos"))
    val flagged = slimParas(batch, textCol, idCol, sep)
      .join(seen, Seq("__wkey"), "left")
      .withColumn("__keep",
        col("__blank") || (col("__seen").isNull && row_number().over(w) === 1))
    reassembleFromPositions(batch, flagged, textCol, idCol, sep,
      broadcastMaxPositions)
  }

  /** Streaming twin of [[paragraphDedupIncrement]]: micro-batch
    * documents explode statelessly, anti-join the STATIC digest store,
    * and emit surviving `(idCol, __pos, paragraph)` rows — no state
    * store, append mode. Cross-document dedup WITHIN the stream is
    * deliberately not attempted (reassembly and in-stream first-
    * occurrence both need per-document aggregation state); the batch
    * operator owns that, the stream filters against accepted history —
    * the [[TextOps.decontaminateStream]] trade. Works identically on a
    * batch frame (parity test).
    */
  def paragraphDedupStream(
      stream: DataFrame,
      historyDigests: DataFrame,
      textCol: String,
      idCol: String,
      sep: String = "\n",
  ): DataFrame = {
    val paras = splitParas(stream, textCol, idCol, sep)
    // anti-join on the salted window key: blanks match nothing (the
    // store holds md5 digests only) and so survive without funneling
    // into one md5("") join partition
    val seen = historyDigests.select(col("digest").as("__wkey"))
      .dropDuplicates("__wkey")
    paras
      .join(seen, Seq("__wkey"), "left_anti")
      .select(col(idCol), col("__pos"), col("__para").as("paragraph"))
  }

  /** Per-row prototypicality under a trained [[Similarity.IvfIndex]]:
    * `(idCol, cell, proto)` where `cell` is the literal-centroid argmax
    * assignment (the same one [[Similarity.assignCell]] computes — ties
    * broken identically, by score then cell index) and `proto` is the
    * cosine of the row's vector to its OWN cell's centroid — the
    * "how close to the cluster prototype" signal D4-style
    * diversification prunes on (Tirumala et al., "D4: Improving LLM
    * Pretraining via Document De-Duplication and Diversification",
    * arXiv:2308.12284). A narrow codegen'd projection: the centroids
    * ship as literal weight arrays, zero shuffles, zero joins. Rows
    * with null or zero vectors are dropped (no defined cosine). The
    * scored struct array IS [[Similarity.cellScores]] (cosine-extended)
    * — one definition of the argmax, no copy to drift.
    */
  def prototypicality(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      index: Similarity.IvfIndex,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val vec = col(vecCol)
    val best = array_max(Similarity.cellScores(index, vec, withCosine = true))
    df.filter(Similarity.nonZeroVec(vec))
      .select(col(idCol), best.getField("cell").as("cell"),
        round(best.getField("cos"), 6).as("proto"))
  }

  /** D4-style diversification: drop the `dropFraction` MOST prototypical
    * rows of every cluster (`min(ceil(dropFraction × cellN), cellN − 1)`
    * rows, ranked by prototypicality descending with the id as a
    * deterministic tiebreak — every cell keeps at least one row, so a
    * singleton/tiny cell is never deleted outright), keeping the
    * diverse remainder. The second half of the
    * published D4 recipe — run it AFTER [[semanticDedupKeepFirst]]:
    * SemDeDup removes the near-identical, this removes the redundant
    * middle of each semantic cluster.
    *
    * Returns the KEPT rows as `(idCol, cell, proto)`. One hash exchange
    * on the cell plus a per-cell window sort — no global sort; per-cell
    * cost scales with CELL size, so `nClusters` grows with the corpus
    * exactly as in [[semanticDedup]] (D4 used 11k clusters for CC-scale
    * corpora).
    */
  def diversify(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      index: Similarity.IvfIndex,
      dropFraction: Double = 0.25,
  ): DataFrame = {
    require(dropFraction >= 0.0 && dropFraction < 1.0,
      "dropFraction must be in [0, 1)")
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("proto").desc, col(idCol))
    prototypicality(df, vecCol, idCol, index)
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("cell"))))
      // the ceil quota is capped at __n - 1: a cell always keeps at
      // least one row, so skewed k-means cells (singletons, tiny
      // rare-topic clusters) are thinned, never deleted outright
      .filter(col("__rk") > least(ceil(col("__n") * lit(dropFraction)), col("__n") - 1))
      .drop("__rk", "__n")
  }

  /** EXACT cosine pairs at/above a threshold — the ground truth for
    * [[embeddingNearDups]]'s recall meter. Output matches
    * embeddingNearDups' (id_a, id_b) shape.
    *
    * `probeOneIn` is the knob that makes the honesty meter runnable at
    * corpus scale: with `probeOneIn = N > 1`, a deterministic salted
    * hash-sample ([[Sample.sampleByHash]], a narrow scan-side filter)
    * keeps ~1/N of the rows as PROBES, and the truth is exactly the full
    * truth restricted to pairs incident to a sampled probe. Cost drops
    * from |corpus|² to |sample| × |corpus| — at 100 TB pick N so |sample|
    * is audit-sized (e.g. 1e6) and the truth side is bounded by
    * construction. Recall measured against the restricted truth is an
    * unbiased estimate of full-truth pair recall as long as the
    * approximate pass doesn't condition on the (salted, private) sample —
    * [[pairRecall]] needs no change: its semi-join only ever counts truth
    * pairs, so the found side is restricted automatically.
    *
    * `probeOneIn = 1` (default) is the exact all-pairs meter —
    * deliberately O(n²), for verification samples (the correctness SFs
    * here), never the full corpus.
    */
  def exactCosinePairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      probeOneIn: Int = 1,
      probeSalt: String = "recall-probe",
  ): DataFrame = {
    require(probeOneIn >= 1, "probeOneIn must be >= 1")
    graft.functions.GraftFunctions.register(df.sparkSession)
    // zero/null vectors are excluded from the TRUTH exactly as the
    // operators under audit exclude them: a zero vector's cosine is NaN
    // (0/0), which ANSI mode turns into a runtime error and non-ANSI
    // sorts ABOVE every real number — either way the truth side would
    // diverge from the banded passes (the same discipline bruteForceTopK
    // applies on both sides of recallAtK)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .filter(Similarity.nonZeroVec(col("vec")))
    if (probeOneIn == 1) {
      base.select(col("id").as("id_a"), col("vec").as("vec_a"))
        .crossJoin(base.select(col("id").as("id_b"), col("vec").as("vec_b")))
        .filter(col("id_a") < col("id_b"))
        .filter(Similarity.cosineNative(col("vec_a"), col("vec_b")) >= threshold)
        .select(col("id_a"), col("id_b"))
    } else {
      // sampled probes × full corpus; pairs normalize to (min, max) and
      // dedup because a pair with BOTH endpoints sampled is found twice.
      // The probe side is broadcast (the bruteForceTopK discipline): the
      // contract above says |sample| is audit-sized, and a broadcast
      // nested loop streams the corpus ONCE against it instead of
      // re-scanning per probe partition in a CartesianProduct
      val probes = Sample.sampleByHash(base, "id", probeOneIn, probeSalt)
      broadcast(probes.select(col("id").as("id_p"), col("vec").as("vec_p")))
        .crossJoin(base.select(col("id").as("id_o"), col("vec").as("vec_o")))
        .filter(col("id_p") =!= col("id_o"))
        .filter(Similarity.cosineNative(col("vec_p"), col("vec_o")) >= threshold)
        .select(least(col("id_p"), col("id_o")).as("id_a"),
          greatest(col("id_p"), col("id_o")).as("id_b"))
        .dropDuplicates("id_a", "id_b")
    }
  }

  /** Pair recall of an approximate near-dup pass against an exact truth
    * set — [[Similarity.recallAtK]]'s honesty meter reshaped for
    * unordered (id_a, id_b) pair frames. One row out: n_true, n_found,
    * recall (NULL when the truth is empty — "no ground truth", not 0).
    * Scale shape: a semi-join plus two counts over pair-sized frames.
    */
  def pairRecall(truth: DataFrame, found: DataFrame): DataFrame = {
    val pair = Seq("id_a", "id_b")
    val t = truth.select(pair.map(col): _*).dropDuplicates(pair)
    val hit = t.join(found.select(pair.map(col): _*), pair, "left_semi")
    t.agg(count(lit(1)).as("n_true"))
      .crossJoin(hit.agg(count(lit(1)).as("n_found")))
      .select(col("n_true"), col("n_found"),
        round(col("n_found").cast("double") / col("n_true"), 6).as("recall"))
  }
}
