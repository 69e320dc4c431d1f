package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry._

/** The parity operators (SURVEY.md §2.3) through the dialect compiler: one
  * row per statement, holding the frame it reads, the dialect text, whether
  * it needs graft's extensions, its DuckDB twin, and a post-projection where
  * the result needs one (rounding, or a form the compare can hash).
  */
object DialectQueries {

  private final case class Statement(
      name: String,
      from: (SparkSession, String) => DataFrame,
      dialect: String,
      oracle: String,
      ext: Boolean = false,
      post: DataFrame => DataFrame = identity)

  private def table(name: String): (SparkSession, String) => DataFrame = t(_, _, name)
  private val lineitem = table("lineitem")
  private val embeddings = table("embeddings")

  /** lineitem with a derived boolean column (the dialect needs one for the
    * bare-field predicate F5; TPC-H has no native booleans).
    */
  private def lineitemFlagged(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").withColumn("is_return", col("l_returnflag") === "R")

  /** lineitem rolled into an array-of-structs per order — the document
    * shape the reference's per-row array reductions (P3/P6/P7) act on.
    */
  private def lineitemNested(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_quantity").as("qty"))).as("items"))

  /** Round double columns to 6 dp, as the oracle does: the engines sum
    * non-integral doubles in different orders.
    */
  private def round6(cols: String*)(df: DataFrame): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, round(col(c), 6)))

  private val statements: Seq[Statement] = Seq(
    Statement("q_p1_project", lineitem, "SELECT l_orderkey, l_quantity AS qty, l_returnflag",
      "SELECT l_orderkey, l_quantity AS qty, l_returnflag FROM lineitem"),

    // dialect extension (the reference's own roadmap item): SELECT DISTINCT
    Statement("q_p1_distinct", lineitem, "SELECT DISTINCT l_returnflag, l_linestatus",
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem", ext = true),

    // dialect extension (reference roadmap): SELECT * — static expansion
    // against the closed-world schema, combined with the >= extension; the
    // * expands to the DECLARED schema, so the oracle enumerates nation's
    // columns explicitly
    Statement("q_p1_star", table("nation"), "SELECT * WHERE n_regionkey >= 2",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey >= 2", ext = true),

    // dialect extension (reference roadmap): arithmetic in projections —
    // all-double IEEE ops, identical association both engines, so the
    // values hash-match without rounding
    Statement("q_p1_arith", lineitem,
      "SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS net_price, (l_quantity + 1) / 2 AS half_qty, -l_tax AS neg_tax",
      "SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS net_price, (l_quantity + 1) / 2 AS half_qty, -l_tax AS neg_tax FROM lineitem",
      ext = true),

    Statement("q_s3_derived", lineitem,
      "SELECT qty FROM (SELECT l_quantity AS qty WHERE l_returnflag = \"A\") WHERE qty > 30",
      "SELECT qty FROM (SELECT l_quantity AS qty FROM lineitem WHERE l_returnflag = 'A') WHERE qty > 30"),

    Statement("q_f2_eq", lineitem, "SELECT l_orderkey WHERE l_returnflag = \"R\"",
      "SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'"),
    Statement("q_f2_neq", lineitem, "SELECT l_orderkey, l_linestatus WHERE l_linestatus != \"O\"",
      "SELECT l_orderkey, l_linestatus FROM lineitem WHERE l_linestatus <> 'O'"),
    Statement("q_f2_lt", lineitem, "SELECT l_orderkey, l_quantity WHERE l_quantity < 3",
      "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity < 3"),
    Statement("q_f2_gt", lineitem, "SELECT l_orderkey, l_discount WHERE l_discount > 0.09",
      "SELECT l_orderkey, l_discount FROM lineitem WHERE l_discount > 0.09"),
    Statement("q_f2_eq_null", lineitem, "SELECT l_orderkey WHERE l_returnflag = NULL",
      "SELECT l_orderkey FROM lineitem WHERE l_returnflag IS NULL"),

    // dialect extension (reference roadmap): <= / >= comparison operators
    Statement("q_f2_lte", lineitem,
      "SELECT l_orderkey, l_quantity WHERE (l_quantity <= 2) OR (l_quantity >= 50)",
      "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity <= 2 OR l_quantity >= 50",
      ext = true),

    Statement("q_f3_and", lineitem,
      "SELECT l_orderkey WHERE (l_quantity > 45) AND (l_discount < 0.02)",
      "SELECT l_orderkey FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.02"),
    Statement("q_f3_or", lineitem,
      "SELECT l_orderkey WHERE (l_quantity > 49) OR (l_discount > 0.09)",
      "SELECT l_orderkey FROM lineitem WHERE l_quantity > 49 OR l_discount > 0.09"),
    Statement("q_f4_not", lineitem, "SELECT l_orderkey WHERE NOT(l_returnflag = \"A\")",
      "SELECT l_orderkey FROM lineitem WHERE l_returnflag <> 'A'"),
    Statement("q_f5_bare_bool", lineitemFlagged, "SELECT l_orderkey WHERE is_return",
      "SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'"),

    Statement("q_g1_group_aggs", lineitem,
      "SELECT AVG(l_quantity) AS avg_qty, SUM(l_quantity) AS sum_qty, MAX(l_quantity) AS max_qty, MIN(l_quantity) AS min_qty GROUP BY l_returnflag",
      "SELECT l_returnflag AS _id, avg(l_quantity) AS avg_qty, sum(l_quantity) AS sum_qty, max(l_quantity) AS max_qty, min(l_quantity) AS min_qty FROM lineitem GROUP BY l_returnflag"),

    Statement("q_g2_group_null", lineitem, "SELECT SUM(l_quantity) AS total GROUP BY NULL",
      "SELECT CAST(NULL AS DOUBLE) AS _id, sum(l_quantity) AS total FROM lineitem",
      post = _.withColumn("_id", lit(null).cast("double"))),

    Statement("q_g4_count", lineitem, "SELECT COUNT(l_orderkey) GROUP BY l_linestatus",
      "SELECT l_linestatus AS _id, CAST(count(*) AS DOUBLE) AS count FROM lineitem GROUP BY l_linestatus"),

    // $push emits an array column; the driver's compare layer cannot hash
    // arrays, so the harness entry canonicalizes to a sorted joined string
    // (the DuckDB oracle mirrors the same canonical form). round(x, 1)
    // BEFORE formatting makes the canonicalization exact for any input:
    // both engines round doubles half-away-from-zero, and %.1f of an
    // already-1-dp double can never hit a formatter tie (Java half-up vs
    // C half-even only diverge ON ties) — so fractional quantities like
    // 0.25 canonicalize identically, not just integral ones.
    Statement("q_g5_push", lineitem, "SELECT l_quantity GROUP BY l_returnflag",
      "SELECT l_returnflag AS _id, array_to_string(list_transform(list_sort(list(l_quantity)), x -> printf('%.1f', round(x, 1))), ',') AS l_quantity FROM lineitem GROUP BY l_returnflag",
      post = _.withColumn("l_quantity",
        array_join(transform(sort_array(col("l_quantity")),
          x => format_string("%.1f", round(x, 1))), ","))),

    // dialect extension (reference roadmap): arithmetic over grouped
    // aggregates — one partial-agg shuffle, same as any G3 aggregation
    Statement("q_g3_arith", lineitem,
      "SELECT (SUM(l_extendedprice) / SUM(l_quantity)) AS price_per_unit GROUP BY l_returnflag",
      "SELECT l_returnflag AS _id, round(sum(l_extendedprice) / sum(l_quantity), 6) AS price_per_unit FROM lineitem GROUP BY l_returnflag",
      ext = true, post = round6("price_per_unit")),

    // dialect extension: arithmetic over per-row array reductions
    // (SUM/COUNT here recompute AVG, so the oracle is exact)
    Statement("q_p2_arith", embeddings,
      "SELECT vec_id, (SUM(embedding) / COUNT(embedding)) AS mean_val",
      "SELECT vec_id, round(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6) AS mean_val FROM embeddings",
      ext = true, post = round6("mean_val")),

    // dialect extension (reference roadmap "augment functions"): STDDEV +
    // MEDIAN as grouped aggregates
    Statement("q_g3_stats", lineitem,
      "SELECT STDDEV(l_quantity) AS sd_qty, MEDIAN(l_quantity) AS med_qty GROUP BY l_returnflag",
      "SELECT l_returnflag AS _id, round(stddev_samp(l_quantity), 6) AS sd_qty, round(quantile_cont(l_quantity, 0.5), 6) AS med_qty FROM lineitem GROUP BY l_returnflag",
      ext = true, post = round6("sd_qty", "med_qty")),

    // same functions as per-row array reductions (P-family extension). The
    // oracle mirrors the planner's per-row formulas exactly: stddev via the
    // two-sums identity over the same left-to-right list_sum fold; median
    // via sort + middle element(s), elements cast to double BEFORE the
    // even-case addition (float-add first would differ)
    Statement("q_p5_stats", embeddings,
      "SELECT vec_id, STDDEV(embedding) AS sd_val, MEDIAN(embedding) AS med_val",
      """SELECT vec_id,
        |  round(CASE WHEN n < 2 THEN NULL
        |        ELSE sqrt(greatest((s2 - s * s / n) / (n - 1), 0.0)) END, 6) AS sd_val,
        |  round(CASE WHEN n = 0 THEN NULL
        |        WHEN n % 2 = 1 THEN CAST(d[CAST((n + 1) // 2 AS INTEGER)] AS DOUBLE)
        |        ELSE (CAST(d[CAST(n // 2 AS INTEGER)] AS DOUBLE)
        |              + CAST(d[CAST(n // 2 + 1 AS INTEGER)] AS DOUBLE)) / 2.0 END, 6) AS med_val
        |FROM (
        |  SELECT vec_id, len(embedding) AS n,
        |    list_sort(embedding) AS d,
        |    list_sum(CAST(embedding AS DOUBLE[])) AS s,
        |    list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS s2
        |  FROM embeddings
        |)""".stripMargin,
      ext = true, post = round6("sd_val", "med_val")),

    Statement("q_o1_order_limit", lineitem,
      "SELECT l_orderkey, l_linenumber, l_quantity ORDER BY l_orderkey, l_linenumber LIMIT 100",
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100"),

    // reference semantics: LIMIT 100 then OFFSET 40 = SQL LIMIT 60 OFFSET 40
    Statement("q_o2_limit_offset", lineitem,
      "SELECT l_orderkey, l_linenumber ORDER BY l_orderkey, l_linenumber LIMIT 100 OFFSET 40",
      "SELECT l_orderkey, l_linenumber FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 60 OFFSET 40"),

    // schema breadth: the same dialect operators over every remaining
    // star-schema table (orders/customer/part/supplier/region), so each
    // driver-generated source and its type mix (int32/int64/double/string;
    // the timestamp column is correctly outside the dialect's closed
    // world) is exercised through the full compile lifecycle. Aggregates
    // stay on integer-valued columns so both engines compute bit-identical
    // values (the established double-summation discipline). A grouped
    // COUNT mirrors the reference's double-typed `count` naming quirk (the
    // same CAST as q_g4_count).
    Statement("q_d6_orders_group", table("orders"),
      "SELECT COUNT(o_orderkey), MAX(o_custkey) AS max_cust GROUP BY o_orderstatus",
      "SELECT o_orderstatus AS _id, CAST(count(*) AS DOUBLE) AS count, max(o_custkey) AS max_cust FROM orders GROUP BY o_orderstatus"),
    Statement("q_d6_customer_group", table("customer"),
      "SELECT AVG(c_nationkey) AS avg_nation, COUNT(c_custkey) GROUP BY c_mktsegment",
      "SELECT c_mktsegment AS _id, avg(c_nationkey) AS avg_nation, CAST(count(*) AS DOUBLE) AS count FROM customer GROUP BY c_mktsegment"),
    Statement("q_d6_part_filter", table("part"),
      "SELECT p_partkey, p_size WHERE p_size > 25 ORDER BY p_partkey LIMIT 200",
      "SELECT p_partkey, p_size FROM part WHERE p_size > 25 ORDER BY p_partkey LIMIT 200"),
    Statement("q_d6_supplier_distinct", table("supplier"), "SELECT DISTINCT s_nationkey",
      "SELECT DISTINCT s_nationkey FROM supplier", ext = true),
    Statement("q_d6_region_filter", table("region"), "SELECT r_name WHERE r_regionkey > 1",
      "SELECT r_name FROM region WHERE r_regionkey > 1"),

    // flat-array reductions (P2/P4/P5/P7) over the embeddings table
    Statement("q_p2_avg_flat", embeddings, "SELECT vec_id, AVG(embedding) AS avg_val",
      "SELECT vec_id, round(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6) AS avg_val FROM embeddings",
      post = round6("avg_val")),
    Statement("q_p4_count_flat", embeddings, "SELECT vec_id, COUNT(embedding) AS n_dims",
      "SELECT vec_id, CAST(len(embedding) AS DOUBLE) AS n_dims FROM embeddings"),
    Statement("q_p5_maxmin_flat", embeddings,
      "SELECT vec_id, MAX(embedding) AS max_val, MIN(embedding) AS min_val",
      "SELECT vec_id, list_max(embedding) AS max_val, list_min(embedding) AS min_val FROM embeddings"),
    Statement("q_p7_sum_flat", embeddings, "SELECT vec_id, SUM(embedding) AS sum_val",
      "SELECT vec_id, round(list_sum(CAST(embedding AS DOUBLE[])), 6) AS sum_val FROM embeddings",
      post = round6("sum_val")),

    // array-of-struct reductions (P3/P6/P7 dotted) over per-order items
    Statement("q_p3_dotted_reductions", lineitemNested,
      "SELECT l_orderkey, AVG(items.qty) AS avg_qty, SUM(items.qty) AS sum_qty, MAX(items.qty) AS max_qty, MIN(items.qty) AS min_qty, COUNT(items) AS n_items",
      "SELECT l_orderkey, avg(l_quantity) AS avg_qty, sum(l_quantity) AS sum_qty, max(l_quantity) AS max_qty, min(l_quantity) AS min_qty, CAST(count(*) AS DOUBLE) AS n_items FROM lineitem GROUP BY l_orderkey"),
  )

  val specs: Seq[QuerySpec] = statements.map(st => QuerySpec(st.name,
    (s, dir) => st.post(Compiler.queryOrThrow(st.from(s, dir), st.dialect, st.ext)),
    Oracle(st.oracle)))
}
