package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, the frame it builds from a session and a
  * test-data directory, and how the driver checks that frame.
  */
final case class QuerySpec(
    name: String, build: (SparkSession, String) => DataFrame, check: Check)

sealed trait Check

/** DuckDB SQL over the same test tables whose result must hash-match the
  * build's. The driver sorts columns by name and hash-compares values, so
  * every computed column is aliased identically on both sides, and double
  * aggregates whose inputs are not integer-valued are rounded on both sides
  * (float summation order differs between engines).
  *
  * `applies` gates an oracle to the directories where its SQL describes the
  * engine's configuration; off it, [[graft.SparkEntry.oracleSqlFor]] leaves
  * the oracle out and the driver checks the row rows-only.
  */
final case class Oracle(
    sql: String, applies: (SparkSession, String) => Boolean = (_, _) => true) extends Check

/** No SQL twin: `why` names what cannot be mirrored and, where there is
  * one, the invariant contract that checks the row instead.
  */
final case class RowsOnly(why: String) extends Check

object QuerySpec {

  /** The specs as one list, refusing a name given twice. */
  def unique(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val repeated = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty, s"repeated query name: ${repeated.toSeq.sorted.mkString(", ")}")
    specs
  }
}

/** Every driver query, family by family (SURVEY.md §2.3 holds the operator
  * inventory). Each family's file keeps a query's build next to its check.
  */
object Catalog {
  lazy val specs: Seq[QuerySpec] = QuerySpec.unique(
    DialectQueries.specs ++ DedupQueries.specs ++ SimQueries.specs ++
      TextQueries.specs ++ LmQueries.specs ++ SampleQueries.specs ++
      PipelineQueries.specs ++ LayoutQueries.specs ++ MediaQueries.specs ++
      EventsQueries.specs ++ EmbQueries.specs)
}
