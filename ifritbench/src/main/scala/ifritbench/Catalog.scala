package ifritbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Curate, Dedup, Pipeline, Retrieval, TextOps}

/** The fixed item sets of the Spark workloads. Each item is named after the
  * `SparkEntry` query whose DuckDB oracle SQL (`graft.SparkEntry.oracleSql`)
  * checks its output.
  */
object Catalog {

  /** One dialect statement: the table it runs on, its text, whether it
    * needs graft's dialect extensions, and the projection the `SparkEntry` query
    * applies after it so that the oracle can compare it.
    */
  final case class Statement(
      name: String,
      table: String,
      sql: String,
      extensions: Boolean = false,
      post: DataFrame => DataFrame = identity,
  )

  private def round6(cols: String*)(df: DataFrame): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, round(col(c), 6)))

  /** 10 of `SparkEntry`'s 35 dialect statements: one or two of each family
    * (projection, star expansion, arithmetic, derived table, filter,
    * grouping, push, ordering, statistics extensions, dotted array
    * reductions). The cut keeps a run within the benchmark's time budget.
    */
  val Statements: Vector[Statement] = Vector(
    Statement("q_p1_project", "lineitem", "SELECT l_orderkey, l_quantity AS qty, l_returnflag"),
    Statement("q_p1_star", "nation", "SELECT * WHERE n_regionkey >= 2", extensions = true),
    Statement("q_p1_arith", "lineitem",
      "SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS net_price, (l_quantity + 1) / 2 AS half_qty, -l_tax AS neg_tax",
      extensions = true),
    Statement("q_s3_derived", "lineitem",
      "SELECT qty FROM (SELECT l_quantity AS qty WHERE l_returnflag = \"A\") WHERE qty > 30"),
    Statement("q_f3_or", "lineitem", "SELECT l_orderkey WHERE (l_quantity > 49) OR (l_discount > 0.09)"),
    Statement("q_g1_group_aggs", "lineitem",
      "SELECT AVG(l_quantity) AS avg_qty, SUM(l_quantity) AS sum_qty, MAX(l_quantity) AS max_qty, MIN(l_quantity) AS min_qty GROUP BY l_returnflag"),
    Statement("q_g5_push", "lineitem", "SELECT l_quantity GROUP BY l_returnflag",
      post = _.withColumn("l_quantity", array_join(transform(sort_array(col("l_quantity")),
        x => format_string("%.1f", round(x, 1))), ","))),
    Statement("q_p5_stats", "embeddings", "SELECT vec_id, STDDEV(embedding) AS sd_val, MEDIAN(embedding) AS med_val",
      extensions = true, post = round6("sd_val", "med_val")),
    Statement("q_o2_limit_offset", "lineitem",
      "SELECT l_orderkey, l_linenumber ORDER BY l_orderkey, l_linenumber LIMIT 100 OFFSET 40"),
    Statement("q_p3_dotted_reductions", "lineitem_nested",
      "SELECT l_orderkey, AVG(items.qty) AS avg_qty, SUM(items.qty) AS sum_qty, MAX(items.qty) AS max_qty, MIN(items.qty) AS min_qty, COUNT(items) AS n_items"),
  )

  /** The base tables the statements read. */
  val Tables: Vector[String] =
    Vector("lineitem", "nation", "embeddings")

  /** The derived input `SparkEntry` builds from lineitem for the dotted
    * array reductions: an array of structs per order.
    */
  def derived(lineitem: DataFrame): Map[String, DataFrame] = Map(
    "lineitem_nested" -> lineitem.groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_quantity").as("qty"))).as("items")),
  )

  /** One curation operator: its short name, its `SparkEntry` query, and the call. */
  final case class Operator(name: String, query: String, build: DataFrame => DataFrame)

  /** The eight training-data operators, called with the arguments (and the
    * output projection) of their `SparkEntry` queries.
    */
  val Operators: Vector[Operator] = Vector(
    Operator("curate", "q_curate", d =>
      Curate.curate(d, "text", "doc_id").select(col("doc_id"), col("quality"), col("dup_3gram_frac"))),
    Operator("prepare", "q_pipeline_prepare", d =>
      Pipeline.prepare(d, d.filter(col("doc_id") % 50 === 0), "text", "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = "r4")
        .select(col("doc_id"), col("split"))),
    Operator("minhash", "q_dedup_minhash", d =>
      Dedup.minHashNearDups(d, "text", "doc_id", numHashes = 128, bands = 32, threshold = 0.5)),
    Operator("components", "q_dedup_components", d =>
      Dedup.nearDupGroups(d, "text", "doc_id", numHashes = 128, bands = 32, threshold = 0.5)
        .select(col("doc_id"), col("dup_group"))),
    Operator("winnow", "q_text_winnow_overlap", d => TextOps.winnowOverlap(d, "text", "doc_id")),
    Operator("spans", "q_text_span_dedup", d => {
      graft.functions.GraftFunctions.register(d.sparkSession)
      TextOps.dedupSpans(d, "text", "doc_id", k = 8, minDocs = 2)
    }),
    Operator("paragraph", "q_dedup_paragraph", d => Dedup.paragraphDedup(d, "text", "doc_id", sep = " the ")),
    Operator("bm25", "q_text_bm25", d =>
      Retrieval.bm25TopK(d, "text", "doc_id", query = "dup hash scan", k = 50)),
  )
}
