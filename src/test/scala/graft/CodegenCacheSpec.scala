package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Curate, Dedup, Pipeline, Retrieval, TextOps}

/** Spark keeps Janino-compiled codegen classes in one JVM-wide LRU whose
  * size (`spark.sql.codegen.cache.maxEntries`) the session pins. The eight
  * curation operators generate more distinct classes than Spark's default
  * of 100 entries, so under the default a cyclic run of them never hits and
  * every pass recompiles. With the pin, the second run of the same plans
  * compiles nothing.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  /** 300 documents over a 120-word vocabulary: every fifth one copies an
    * earlier document with one word changed (near-duplicates and shared
    * spans), and " the " splits each into paragraphs.
    */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 120).map(i => s"w$i") ++ Seq("dup", "hash", "scan")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 300).foreach { i =>
      val words =
        if (i % 5 == 4) texts(rnd.nextInt(texts.size)).split(' ').updated(0, vocab(rnd.nextInt(vocab.size)))
        else Array.fill(30 + rnd.nextInt(30))(if (rnd.nextInt(8) == 0) "the" else vocab(rnd.nextInt(vocab.size)))
      texts += words.mkString(" ")
    }
    val dir = java.nio.file.Files.createTempDirectory("codegen-corpus").toString + "/docs"
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .coalesce(2).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** The curation operators, called as the benchmark's `spark` workload calls them. */
  private val operators: Seq[DataFrame => DataFrame] = Seq(
    d => Curate.curate(d, "text", "doc_id").select(col("doc_id"), col("quality"), col("dup_3gram_frac")),
    d => Pipeline.prepare(d, d.filter(col("doc_id") % 50 === 0), "text", "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "r4").select(col("doc_id"), col("split")),
    d => Dedup.minHashNearDups(d, "text", "doc_id", numHashes = 128, bands = 32, threshold = 0.5),
    d => Dedup.nearDupGroups(d, "text", "doc_id", numHashes = 128, bands = 32, threshold = 0.5)
      .select(col("doc_id"), col("dup_group")),
    d => TextOps.winnowOverlap(d, "text", "doc_id"),
    d => TextOps.dedupSpans(d, "text", "doc_id", k = 8, minDocs = 2),
    d => Dedup.paragraphDedup(d, "text", "doc_id", sep = " the "),
    d => Retrieval.bm25TopK(d, "text", "doc_id", query = "dup hash scan", k = 50),
  )

  /** Classes compiled while every operator is built and sunk once. */
  private def compilesOfOneRun(): Long = {
    val c0 = Bench.Codegen.now()
    operators.foreach(op => op(corpus).write.format("noop").mode("overwrite").save())
    spark.catalog.clearCache()
    (Bench.Codegen.now() - c0).classes
  }

  test("a second run of the curation operators compiles no codegen class") {
    graft.functions.GraftFunctions.register(spark)
    corpus.count()
    val first = compilesOfOneRun()
    // more than Spark's default cache holds, so the pin is what is tested
    assert(first > 100, s"the operators compiled only $first classes")
    val second = compilesOfOneRun()
    assert(second == 0, s"$second of $first classes were compiled again " +
      s"(cache of ${spark.conf.get("spark.sql.codegen.cache.maxEntries")} entries)")
  }
}
