package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training (Sennrich, Haddow & Birch, "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016) — the
  * trainable-tokenizer step of a training-data pipeline, as a Spark
  * iterative algorithm.
  *
  * Classic BPE trains on the WORD-FREQUENCY table, not the corpus: one
  * corpus pass aggregates (word, freq) — vocabulary-sized, orders of
  * magnitude smaller than 100 TB of text — and every merge round then
  * runs over that small frame: adjacent-symbol pair counts weighted by
  * word frequency (map-side-combinable aggregate), an argmax collected to
  * the driver (one row), and a native single-pass [[graft.functions.MergePair]]
  * rewrite of the symbol arrays. Per-round lineage is truncated by a
  * scratch checkpoint ([[Scratch.checkpoint]]) exactly like the
  * connected-components loop, so `numMerges` rounds never stack plans.
  *
  * Ties in pair frequency break lexicographically (smallest pair wins) —
  * training is DETERMINISTIC for a given corpus, independent of
  * partitioning.
  */
object Bpe {

  /** One learned merge: rank r means "the r-th pair merged". */
  final case class Merge(rank: Int, left: String, right: String)

  /** The word-frequency table: the SAME corpus-count primitive the LM
    * trains on ([[Lm.unigramCounts]] — one definition of "how often each
    * token occurs"), renamed to BPE's vocabulary.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    Lm.unigramCounts(docs, textCol)
      .withColumnRenamed("token", "word").withColumnRenamed("n", "freq")

  /** Train `numMerges` BPE merges on the corpus's word-frequency table.
    * `maxVocabWords` caps the training dictionary to the most frequent
    * words (ties by word) — the standard practical bound that keeps every
    * round's frame driver-predictable without touching the corpus again.
    *
    * Execution shape: the CORPUS-touching part — one word-count
    * aggregation — stays distributed; the merge-argmax loop then runs
    * LOCALLY over the collected ≤`maxVocabWords`-row vocabulary (a few MB)
    * with incremental pair-count maintenance, so 30k merges cost seconds
    * of driver CPU instead of 30k Spark jobs of scheduler overhead. The
    * merge sequence is IDENTICAL to the distributed per-round formulation
    * ([[trainBpeDistributed]], kept for the parity test): same pair
    * counting (adjacent positions weighted by word frequency, overlaps
    * included), same deterministic tie-break (count desc, then pair
    * lexicographically ascending).
    */
  def trainBpe(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      maxVocabWords: Int = 50000,
  ): Seq[Merge] = {
    require(numMerges >= 1, "numMerges must be >= 1")
    require(maxVocabWords >= 1, "maxVocabWords must be >= 1")
    // the session that trains is the session that applies — register the
    // native expressions here so applyBpe works without a separate call
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val vocab = wordCounts(docs, textCol)
      .orderBy(col("freq").desc, col("word"))
      .limit(maxVocabWords)
      .collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("freq")))
    trainLocal(vocab, numMerges)
  }

  /** The local merge loop: subword-nmt's `learn_bpe` shape — pair counts
    * and a pair→word-index inverted index maintained incrementally, so
    * each round touches only the words containing the merged pair.
    */
  private[graft] def trainLocal(
      vocab: Array[(String, Long)], numMerges: Int): Seq[Merge] = {
    import scala.collection.mutable
    val words: Array[java.util.ArrayList[String]] =
      vocab.map { case (w, _) => graft.functions.BpeUtil.codePointSymbols(w) }
    val freqs: Array[Long] = vocab.map(_._2)
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]

    def countWord(wi: Int, sign: Long): Unit = {
      val s = words(wi)
      var i = 0
      while (i < s.size - 1) {
        val p = (s.get(i), s.get(i + 1))
        val c = pairCounts.getOrElse(p, 0L) + sign * freqs(wi)
        if (c == 0L) pairCounts.remove(p) else pairCounts(p) = c
        if (sign > 0) pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
        i += 1
      }
      if (sign < 0) {
        // membership cleanup after the word is rewritten: drop stale sets
        // lazily (a word index may legitimately stay in a set if another
        // occurrence of the pair survives; countWord(+1) re-adds)
        var j = 0
        while (j < s.size - 1) {
          pairWords.get((s.get(j), s.get(j + 1))).foreach(_ -= wi)
          j += 1
        }
      }
    }
    var wi = 0
    while (wi < words.length) { countWord(wi, 1L); wi += 1 }

    val merges = scala.collection.mutable.ListBuffer.empty[Merge]
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      // argmax with the distributed tie-break: count desc, pair lex asc
      var best: (String, String) = null
      var bestN = 0L
      pairCounts.foreach { case (p, n) =>
        if (n > bestN || (n == bestN && best != null &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestN = n
        }
      }
      if (best == null) exhausted = true
      else {
        merges += Merge(r, best._1, best._2)
        val affected = pairWords.getOrElse(best, mutable.Set.empty).toArray
        java.util.Arrays.sort(affected)
        var k = 0
        while (k < affected.length) {
          val w = affected(k)
          countWord(w, -1L)
          // left-to-right non-overlapping merge — MergePairUtil semantics
          val s = words(w)
          val out = new java.util.ArrayList[String](s.size)
          var i = 0
          while (i < s.size) {
            if (i < s.size - 1 && s.get(i) == best._1 && s.get(i + 1) == best._2) {
              out.add(best._1 + best._2); i += 2
            } else { out.add(s.get(i)); i += 1 }
          }
          words(w) = out
          countWord(w, 1L)
          k += 1
        }
        pairCounts.remove(best)
        pairWords.remove(best)
        r += 1
      }
    }
    merges.toList
  }

  /** The round-per-merge distributed formulation trainBpe had through
    * round 4 — one pair-count aggregation + driver argmax + native
    * [[graft.functions.MergePair]] rewrite per merge. Kept as the parity
    * reference for [[trainLocal]] (the merge SEQUENCES must be identical);
    * prefer [[trainBpe]], which runs the same loop driver-side in O(seconds)
    * instead of one Spark job per merge.
    */
  def trainBpeDistributed(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      maxVocabWords: Int = 50000,
  ): Seq[Merge] = {
    require(numMerges >= 1, "numMerges must be >= 1")
    require(maxVocabWords >= 1, "maxVocabWords must be >= 1")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    var vocab = Scratch.checkpoint(wordCounts(docs, textCol)
      .orderBy(col("freq").desc, col("word"))
      .limit(maxVocabWords)
      .select(col("freq"),
        // each word starts as its character sequence
        split(col("word"), "").as("symbols")), eager = true)
    val merges = scala.collection.mutable.ListBuffer.empty[Merge]
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      // adjacent pairs weighted by word frequency; the explode is over
      // the SMALL vocab frame
      val pairs = vocab
        .select(col("freq"), col("symbols"), posexplode(slice(col("symbols"), lit(1),
          greatest(size(col("symbols")) - 1, lit(0)))).as(Seq("__p", "__a")))
        .withColumn("__b", element_at(col("symbols"), col("__p") + 2))
      val top = pairs
        .groupBy(col("__a"), col("__b"))
        .agg(sum(col("freq")).as("__n"))
        .orderBy(col("__n").desc, col("__a"), col("__b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val a = top.head.getString(0)
        val b = top.head.getString(1)
        merges += Merge(r, a, b)
        // per-round lineage truncation; the dropped rounds' checkpoints
        // are released when the old Dataset is GC'd (Dataset.unpersist
        // does NOT free checkpoint RDD blocks — same lifecycle as the
        // connectedComponents loop), which is fine at the vocab-table
        // sizes this trains on
        vocab = Scratch.checkpoint(vocab.withColumn("symbols",
          graft.functions.GraftFunctions.mergePair(col("symbols"), lit(a), lit(b))), eager = true)
        r += 1
      }
    }
    merges.toList
  }

  /** Persist a learned merge table as a tiny parquet of (rank, left,
    * right) — the [[Similarity.saveIvf]] / [[Similarity.savePq]]
    * lifecycle: train once, every later session / job [[loadBpe]]s the
    * tokenizer instead of retraining.
    */
  def saveBpe(merges: Seq[Merge], spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    merges.map(m => (m.rank, m.left, m.right)).toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a merge table saved by [[saveBpe]] (rank order restored). */
  def loadBpe(spark: org.apache.spark.sql.SparkSession, path: String): Seq[Merge] =
    spark.read.parquet(path).orderBy(col("rank")).collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2))).toSeq

  /** The merge table as ONE foldable plan literal (`[left, right]` in
    * rank order) — the argument shape [[graft.functions.BpeApply]] hashes
    * into its pair→rank table at plan init.
    */
  def mergeTableLit(merges: Seq[Merge]): Column =
    typedLit(merges.sortBy(_.rank).map(m => Seq(m.left, m.right)))

  /** Apply learned merges to a text column: tokenize with the shared
    * lowercase-alnum tokenization and run the greedy rank-order tokenizer
    * loop per word as ONE native expression
    * ([[graft.functions.BpeApply]]) over the whole merge table, shipped as
    * a single plan-reference literal. A pure per-row projection — no
    * shuffle, stream-composable; vocabulary size is a data parameter, so a
    * production 30k-50k-merge tokenizer plans identically to a 24-merge
    * one (the chained [[applyBpeChained]] form cannot plan there). Returns
    * array<string> of subword units.
    */
  def applyBpe(text: Column, merges: Seq[Merge]): Column =
    graft.functions.GraftFunctions.bpeApply(
      TextOps.tokens(text), mergeTableLit(merges))

  /** The one-[[graft.functions.MergePair]]-pass-per-merge application
    * form (rank-order replay) applyBpe used through round 4 — kept as the
    * parity reference for the native loop (identical output on any table
    * [[trainBpe]] produces) and as the readable spec of the semantics.
    * Plan size grows linearly with the merge count: fine at tens of
    * merges, unplannable at production vocabularies — use [[applyBpe]].
    */
  def applyBpeChained(text: Column, merges: Seq[Merge]): Column = {
    val chars = transform(TextOps.tokens(text), w => split(w, ""))
    val merged = merges.sortBy(_.rank).foldLeft(chars: Column) { (acc, m) =>
      transform(acc, w =>
        graft.functions.GraftFunctions.mergePair(w, lit(m.left), lit(m.right)))
    }
    flatten(merged)
  }

  /** Subword count under a trained tokenizer — the "how many tokens is
    * this corpus under MY vocab" meter (cost estimation, packing budgets).
    */
  def subwordCount(text: Column, merges: Seq[Merge]): Column =
    size(applyBpe(text, merges))
}
