package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pinned session posture (SparkEntry.pinnedConfs / session) — the
  * contract CLUSTER.md documents: Bench, Verify, and a spark-submit run
  * must all build sessions with AQE + skew-join + coalescing on, UTC, and
  * an explicit shuffle-partition count.
  */
class SessionSpec extends AnyFunSuite {

  test("pinnedConfs pins the documented AQE posture") {
    val c = SparkEntry.pinnedConfs(7)
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(c("spark.sql.shuffle.partitions") == "7")
    assert(c("spark.sql.session.timeZone") == "UTC")
    // codegen (SparkEntry.pinnedCodegenConfs); the cache size is static,
    // fixed by the JVM's first session
    assert(c("spark.sql.codegen.cache.maxEntries") == "4000")
    assert(c("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("SparkEntry.session builds with every pinned conf applied") {
    // the shared test session already exists, so getOrCreate returns it
    // with the pinned (runtime-modifiable) confs applied — which is
    // exactly the code path Bench/Verify exercise after a restart too
    val before = SparkSpec.spark.conf.get("spark.sql.shuffle.partitions")
    val s = SparkEntry.session("graft-session-spec")
    try {
      val expectedShuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
        sys.env.getOrElse("SPARK_GRAFT_CPUS",
          Runtime.getRuntime.availableProcessors.toString))
      SparkEntry.pinnedConfs(expectedShuffle.toInt).foreach { case (k, v) =>
        assert(s.conf.get(k) == v, k)
      }
    } finally
      // restore the suite-wide partition count other specs were built for
      s.conf.set("spark.sql.shuffle.partitions", before)
  }
}
