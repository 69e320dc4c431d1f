package graft
import java.nio.file.{Files, Paths}
import graft.util.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws does not stop the others; once every result and the JSON are
  * written, the run exits 1 naming each query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the optional tail (names
    // space- or comma-separated) restricts the results and oracle_sql.json
    // to the named queries (local iteration; the driver always passes
    // exactly two args and gets the full surface)
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).flatMap(_.split(',')).filter(_.nonEmpty).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"no such queries: ${unknown.toSeq.sorted.mkString(", ")}")
    // pinned posture shared with Bench and cluster runs (CLUSTER.md)
    val spark = SparkEntry.session("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    // SF-gated view: fixture-replay oracles that are only the engine's
    // config at the correctness SFs are omitted off-rung (→ rows-only)
    // rather than dumped as guaranteed false mismatches
    val json = SparkEntry.oracleSqlFor(spark, sfDir)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
