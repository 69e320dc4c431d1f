package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump a subset of SparkEntry.queries + oracle_sql.json for the local
  * DuckDB oracle simulation (tools/oracle_check.py) — iterate on one
  * oracle without running the full Verify sweep.
  *   sbt "Test/runMain graft.tools.VerifySome <sfDir> <outDir> q_dedup_simhash[,q_other ...]"
  * Query names may be given as separate arguments or comma-separated.
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).flatMap(_.split(',')).filter(_.nonEmpty).toSet
    val unknown = names -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"no such queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.filter(q => names(q._1)).foreach { case (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[verify-some] wrote $name")
    }
    val json = graft.SparkEntry.oracleSql.filter(o => names(o._1))
      .map { case (k, v) => s"${graft.util.Json.quote(k)}: ${graft.util.Json.quote(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
