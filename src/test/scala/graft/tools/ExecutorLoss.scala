package graft.tools

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerExecutorRemoved}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextOps}

/** The child-JVM half of `graft.ExecutorLossSpec`: scratch checkpoints on
  * real executor processes. Run it with a `local-cluster` master, graft's
  * classes on `spark.executor.extraClassPath`, and optionally
  * `spark.checkpoint.dir`, all as system properties. It prints
  * `LOSS <key> <value>` lines for the spec to check:
  *
  *  - it builds a winnowOverlap, kills an executor that holds one of the
  *    index's checkpoint blocks, and reads the frame again;
  *  - with a checkpoint directory, it also checks minHashNearDups' and
  *    connectedComponents' reliable checkpoints, then drops every frame,
  *    runs GCs and counts the checkpoint files left behind.
  */
object ExecutorLoss {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.session("graft-executor-loss")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      winnowAfterKill(spark)
      sys.props.get("spark.checkpoint.dir").foreach { dir =>
        minHashReliable(spark, dir)
        componentsReliable(spark, dir)
        filesAfterGc(dir)
      }
    } finally spark.stop()
  }

  private def emit(key: String, value: Any): Unit = println(s"LOSS $key $value")

  private def files(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  /** The `rdd-*` checkpoint directories under `root` that hold files. */
  private def rddDirs(root: String): Set[java.io.File] =
    files(new java.io.File(root)).map(_.getParentFile).filter(_.getName.startsWith("rdd-")).toSet

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString(",")).sorted.toSeq

  /** Every message in a throwable's cause chain, on one line. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getSimpleName}: ${t.getMessage}").mkString(" <- ")
      .replace('\n', ' ')

  private def winnowAfterKill(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    // 200 documents in 4 partitions, so both executors hold index blocks;
    // ids 0 and 1 mod 10 share a passage, so the overlap has rows
    val shared = (1 to 40).map(i => s"shared$i").mkString(" ")
    val docs = spark.range(0, 200, 1, 4).select(col("id").as("doc_id"),
      concat_ws(" ",
        transform(sequence(lit(1), lit(30)), i => concat(lit("u"), col("id"), lit("_"), i)),
        when(col("id") % 10 < 2, lit(shared)).otherwise(lit(""))).as("text"))
    val holders = new ConcurrentHashMap[String, String]()
    val removed = new ConcurrentHashMap[String, CountDownLatch]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD && info.storageLevel.isValid)
          holders.put(info.blockId.name, info.blockManagerId.executorId)
      }
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        removed.computeIfAbsent(e.executorId, _ => new CountDownLatch(1)).countDown()
    }
    sc.addSparkListener(listener)
    // construction measures the index, so its checkpoint blocks exist now
    val out = TextOps.winnowOverlap(docs, "text", "doc_id")
    val before = sorted(out)
    emit("winnow_rows", before.size)
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(20)
    while (holders.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    val victim = holders.values.iterator.next()
    emit("killed_executor", victim)
    sys.props.get("spark.checkpoint.dir").foreach(d =>
      emit("index_checkpoint_files", rddDirs(d).toSeq.map(files(_).size).sum))
    sc.killExecutor(victim)
    val gone = removed.computeIfAbsent(victim, _ => new CountDownLatch(1))
    emit("executor_removed", gone.await(30, TimeUnit.SECONDS))
    // a new query over the returned frame reads every index partition again
    Try(sorted(out.select(col("id_a"), col("id_b"), col("n_shared")))) match {
      case Success(after) => emit("winnow_after_kill", if (after == before) "same" else "different")
      case Failure(e) => emit("winnow_after_kill", s"failed ${messages(e)}")
    }
    sc.removeSparkListener(listener)
  }

  private val text =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door " +
    "and the rain falls gently on the old roof as the wind moves through the tall trees behind the quiet house"

  private def nearDupDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (0L, text),
      (1L, text),
      (2L, text.replace("warm", "cold")),
      (3L, text + " and the bird sings in the tall tree"),
      (4L, "completely different content about spark catalyst optimizer rules and physical plans for distributed query execution"),
      (5L, "yet another unrelated document mentioning minhash signatures locality sensitive hashing and jaccard similarity estimation"),
    ).toDF("doc_id", "text")
  }

  private def minHashReliable(spark: SparkSession, dir: String): Unit = {
    val known = rddDirs(dir)
    val pairs = Dedup.minHashNearDups(nearDupDocs(spark), "text", "doc_id",
      numHashes = 128, bands = 32, threshold = 0.5)
    emit("minhash_files", (rddDirs(dir) -- known).toSeq.map(files(_).size).sum)
    // the returned plan is a scan of the checkpoint, not the dedup pipeline
    emit("minhash_scan_only", pairs.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LogicalRDD")))
    emit("minhash_pairs", sorted(pairs.select(concat_ws("-", col("id_a"), col("id_b"))))
      .mkString(","))
  }

  private def componentsReliable(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val known = rddDirs(dir)
    // a chain (several rounds) and a singleton
    val edges = (0L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val nodes = (0L to 16L).map(Tuple1(_)).toDF("id")
    val comps = Dedup.connectedComponents(edges, nodes)
    emit("cc_files", (rddDirs(dir) -- known).toSeq.map(files(_).size).sum)
    val labels = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    emit("cc_labels_right", labels == (0L to 15L).map(_ -> 0L).toMap + (16L -> 16L))
    val kept = Dedup.nearDupKeepFirst(nearDupDocs(spark), "text", "doc_id",
        numHashes = 128, bands = 32, threshold = 0.5)
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    emit("cc_kept", kept.mkString(","))
  }

  /** Every frame above is out of scope here, so a driver GC lets
    * ContextCleaner delete their checkpoint files.
    */
  private def filesAfterGc(dir: String): Unit = {
    val root = new java.io.File(dir)
    emit("files_before_gc", files(root).size)
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (files(root).nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    emit("files_after_gc", files(root).size)
  }
}
