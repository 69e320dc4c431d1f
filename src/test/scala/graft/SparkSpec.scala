package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for all Spark-backed suites. */
object SparkSpec {
  /** Built with the codegen confs SparkEntry pins: the first session in a
    * JVM fixes the class cache size, so a later `SparkEntry.session`
    * cannot apply it to this one.
    */
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .config(SparkEntry.pinnedCodegenConfs)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  lazy val magesSchemaJson: String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(getClass.getResource("/mages_schema.json").toURI)))

  lazy val mages: DataFrame = {
    val st = graft.schema.Schema.toStructType(
      graft.schema.Schema.fromString(magesSchemaJson).toOption.get)
    spark.read.schema(st).option("multiLine", true)
      .json(getClass.getResource("/mages.json").getPath)
      .cache()
  }
}
