package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Fault-injection driver for the ITERATIVE operator path (MinHash
  * near-dup clustering → connected components), run on a real cluster
  * while an external script SIGKILLs executors.
  *
  * The CC loop truncates lineage every round with a scratch checkpoint
  * ([[graft.ops.Scratch]]), whose kind follows the session, and this
  * driver witnesses the documented trade on real executor deaths:
  *
  *  - `local` — no checkpoint directory, so `localCheckpoint`: blocks in
  *    executor storage only. An executor lost AFTER a checkpoint cannot
  *    be recomputed (lineage is gone); the iteration's job fails.
  *    Expected under kill: some repetitions FAIL (with Spark's
  *    checkpoint-block FetchFailed / block-not-found error), and every
  *    repetition that completes yields the bit-identical checksum.
  *  - `reliable` — a checkpoint directory (`spark.checkpoint.dir`, or the
  *    optional argument): blocks re-readable by replacement executors.
  *    Expected under kill: every repetition completes with the identical
  *    checksum.
  *
  * Usage (spark-submit):
  *   FaultCc <sfDir> <reps> [checkpointDir]
  * Prints one line per repetition:
  *   FAULTCC <mode> rep=<i> OK rows=<n> checksum=<x> iterKills=<k>
  *   FAULTCC <mode> rep=<i> FAILED <exception class>: <first line>
  * and a final `FAULTCC_SUMMARY mode=<m> ok=<a> failed=<b> distinct_checksums=<c>`.
  * Exit code 0 iff all COMPLETED repetitions agree on one checksum
  * (and, for reliable mode, zero repetitions failed).
  */
object FaultCc {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val ckptDir = if (args.length > 2) Some(args(2)) else None
    val spark = graft.SparkEntry.session("graft-fault-cc")
    spark.sparkContext.setLogLevel("WARN")
    ckptDir.foreach(spark.sparkContext.setCheckpointDir)
    val mode = if (spark.sparkContext.getCheckpointDir.isDefined) "reliable" else "local"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    var ok = 0
    var failed = 0
    val checksums = scala.collection.mutable.Set.empty[Long]
    for (i <- 1 to reps) {
      try {
        val groups = Dedup.nearDupGroups(docs, "text", "doc_id",
          numHashes = 128, bands = 32, shingleSize = 5, threshold = 0.5)
        val row = groups.agg(
          count(lit(1)).as("n"),
          sum(pmod(xxhash64(col("doc_id"), col("dup_group")), lit(1000000007L)))
            .as("sum")).head()
        val (n, s) = (row.getLong(0), row.getLong(1))
        ok += 1
        checksums += s
        println(s"FAULTCC $mode rep=$i OK rows=$n checksum=$s")
      } catch {
        case e: Throwable =>
          failed += 1
          val msg = Option(e.getMessage).getOrElse("").linesIterator
            .toSeq.headOption.getOrElse("")
          println(s"FAULTCC $mode rep=$i FAILED ${e.getClass.getSimpleName}: $msg")
      }
      // release anything a failed iteration left cached so the next rep
      // starts clean (same hygiene as Bench.clearAll)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    println(s"FAULTCC_SUMMARY mode=$mode ok=$ok failed=$failed distinct_checksums=${checksums.size}")
    spark.stop()
    val consistent = checksums.size <= 1 && ok > 0
    val pass = if (mode == "reliable") consistent && failed == 0 else consistent
    if (!pass) sys.exit(1)
  }
}
