package ifritbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Output fingerprints: the row count and an order-independent hash (the sum
  * of each row's 32-bit xxhash64 low word). The warm-up gathers them with
  * `Dataset.observe` as it writes a statement's output; a timed op's are
  * computed after its timed sink, by a job of their own, so that the hash
  * is not part of the timed work.
  */
object Checks {

  private def aggregates(df: DataFrame): Seq[Column] = {
    val cols = df.columns.map(c => col(s"`$c`"))
    Seq(count(lit(1)).as("rows"), sum(xxhash64(cols.toIndexedSeq: _*).bitwiseAND(lit(0xffffffffL))).as("hash"))
  }

  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val agg = aggregates(df)
    df.observe(obs, agg.head, agg.tail: _*)
  }

  /** Blocks until the observed values have arrived. */
  def summary(obs: Observation): Map[String, Any] = {
    val m = obs.get
    Map("rows" -> m("rows"), "hash" -> m("hash"))
  }

  /** The fingerprint of `df`'s rows, computed by running it again. */
  def fingerprint(df: DataFrame): Map[String, Any] = {
    val agg = aggregates(df)
    val r = df.agg(agg.head, agg.tail: _*).head()
    Map("rows" -> r.get(0), "hash" -> r.get(1))
  }
}
