package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scratch checkpoints against a real executor loss. Each run is a child
  * JVM ([[graft.tools.ExecutorLoss]]) on a `local-cluster` master, whose
  * two executors are separate processes that `killExecutor` can end: once
  * without a checkpoint directory, once with `spark.checkpoint.dir`.
  * Workers keep their app directories under `SPARK_HOME/work`, so
  * `SPARK_HOME` is a temp directory that links Spark's `jars`.
  */
class ExecutorLossSpec extends AnyFunSuite with TempDirs {
  /** The child's `LOSS <key> <value>` lines, by key. */
  private def run(checkpointDir: Option[String]): Map[String, String] = {
    val home = tempDir("graft-spark-home-")
    // Spark's jars directory: the one SparkContext's own jar was loaded from
    val sparkJars = java.nio.file.Paths.get(classOf[org.apache.spark.SparkContext]
      .getProtectionDomain.getCodeSource.getLocation.toURI).getParent
    java.nio.file.Files.createSymbolicLink(java.nio.file.Paths.get(home, "jars"), sparkJars)
    // executors load graft's (and this suite's) classes from the build dirs
    val classDirs = System.getProperty("java.class.path").split(java.io.File.pathSeparator)
      .filter(p => new java.io.File(p).isDirectory)
    val (code, out) = ChildJvm.run("graft.tools.ExecutorLoss", Nil,
      Seq("-Xmx768m", "-Dspark.master=local-cluster[2,1,512]", "-Dspark.executor.memory=512m",
        "-Dspark.ui.enabled=false",
        s"-Dspark.executor.extraClassPath=${classDirs.mkString(java.io.File.pathSeparator)}",
        s"-Djava.io.tmpdir=${tempDir("graft-jvm-tmp-")}") ++
        checkpointDir.map(d => s"-Dspark.checkpoint.dir=$d"),
      Map("SPARK_HOME" -> home, "SPARK_SCALA_VERSION" -> "2.13",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "4"))
    assert(code == 0, s"the child JVM failed:\n${out.takeRight(4000)}")
    out.linesIterator.filter(_.startsWith("LOSS ")).map { l =>
      val Array(_, k, v) = l.split(" ", 3)
      k -> v
    }.toMap
  }

  // the two runs are independent, so they run side by side
  private lazy val (local, reliable) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val ckptDir = tempDir("graft-ckpt-")
    val runs = Future.sequence(Seq(Future(run(None)), Future(run(Some(ckptDir)))))
    val Seq(l, r) = Await.result(runs, scala.concurrent.duration.Duration(10, "min"))
    (l, r)
  }

  test("no checkpoint dir: an executor loss after winnowOverlap fails the next read") {
    assert(local("winnow_rows").toInt > 0, local)
    assert(local("executor_removed") == "true", local)
    assert(local("winnow_after_kill").startsWith("failed"), local)
    assert(local("winnow_after_kill").contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), local)
  }

  test("spark.checkpoint.dir: winnowOverlap rows survive the executor loss") {
    assert(reliable("winnow_rows") == local("winnow_rows"), reliable)
    assert(reliable("index_checkpoint_files").toInt > 0, reliable)
    assert(reliable("executor_removed") == "true", reliable)
    assert(reliable("winnow_after_kill") == "same", reliable)
  }

  test("spark.checkpoint.dir: minHashNearDups checkpoints reliably, same pairs") {
    assert(reliable("minhash_files").toInt > 0, reliable)
    assert(reliable("minhash_scan_only") == "true", reliable)
    val pairs = reliable("minhash_pairs").split(',').toSet
    assert(pairs.contains("0-1") && pairs.contains("0-2"), reliable)
  }

  test("spark.checkpoint.dir: connected components converge with the right labels") {
    assert(reliable("cc_files").toInt > 0, reliable)
    assert(reliable("cc_labels_right") == "true", reliable)
    assert(reliable("cc_kept") == "0,4,5", reliable)
  }

  test("reliable checkpoint files leave with the frames that read them") {
    assert(reliable("files_before_gc").toInt > 0, reliable)
    assert(reliable("files_after_gc") == "0", reliable)
  }
}
