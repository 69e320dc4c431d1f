package graft
package catalog

import org.apache.spark.sql.functions._

import graft.SparkEntry._

/** Sources and layout: the WARC read-back, Z-order values, manifest
  * pruning and compaction.
  */
object LayoutQueries {

  /** The DuckDB mirror of [[sources.Layout.zValue]]'s bit interleave for
    * two dims: disjoint powers of two, so `+` is exactly the bitwise OR
    * the Spark side computes with shifts.
    */
  private def zInterleaveSql(iu: String, it: String, bits: Int): String =
    (0 until bits).flatMap(b => Seq(
      s"((($iu >> $b) & 1) * ${1L << (2 * b)})",
      s"((($it >> $b) & 1) * ${1L << (2 * b + 1)})")).mkString(" + ")

  val specs: Seq[QuerySpec] = Seq(
    // WARC/WET source: the documents table is serialized once per sf dir
    // into real multi-file ISO 28500 WARC (the warcStoreFor fixture),
    // then read back through the record-boundary-splitting parallel
    // reader — the oracle rebuilds the same record strings in DuckDB and
    // RE-PARSES the fields out of them with string ops (regexp over the
    // header block, Content-Length-sliced payload), not the generator
    // formulas
    QuerySpec("q_source_warc", (s, dir) => {
      val store = warcStoreFor(s, dir)
      sources.GraftSource.readWarc(s, s"$store/wet")
        .select(col("warc_type"), col("url"), col("warc_date"),
          col("content_type"), col("content_length"), col("truncated"), col("text"))
    },
      // WARC round trip: rebuild the identical ISO 28500 record strings
      // (CRLF header block, byte-accurate Content-Length, payload) and
      // RE-PARSE every output field out of them with string ops at the
      // record's own offsets — regexp over the header block, the payload
      // sliced by the parsed Content-Length. The corpus is pure ASCII
      // (asserted nothing here relies on it being otherwise: char==byte
      // for substr on this fixture; the reader's binary slicing has its
      // own multibyte unit test).
      Oracle(s"""WITH rec AS (
                |  SELECT 'WARC/1.0' || chr(13)||chr(10)
                |    || 'WARC-Type: conversion' || chr(13)||chr(10)
                |    || 'WARC-Target-URI: https://example.org/doc/' || doc_id || chr(13)||chr(10)
                |    || 'WARC-Date: 2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T00:00:00Z' || chr(13)||chr(10)
                |    || 'Content-Type: text/plain' || chr(13)||chr(10)
                |    || 'Content-Length: ' || octet_length(encode(text)) || chr(13)||chr(10)
                |    || chr(13)||chr(10) || text || chr(13)||chr(10) AS r
                |  FROM documents
                |), hd AS (
                |  SELECT r, substr(r, 1, strpos(r, chr(13)||chr(10)||chr(13)||chr(10)) - 1) AS h
                |  FROM rec
                |), cl AS (
                |  SELECT r, h,
                |    CAST(nullif(regexp_extract(h, 'Content-Length: ([0-9]+)', 1), '') AS BIGINT) AS clen
                |  FROM hd
                |)
                |SELECT
                |  nullif(regexp_extract(h, 'WARC-Type: ([^\r\n]*)', 1), '') AS warc_type,
                |  nullif(regexp_extract(h, 'WARC-Target-URI: ([^\r\n]*)', 1), '') AS url,
                |  nullif(regexp_extract(h, 'WARC-Date: ([^\r\n]*)', 1), '') AS warc_date,
                |  nullif(regexp_extract(h, 'Content-Type: ([^\r\n]*)', 1), '') AS content_type,
                |  clen AS content_length,
                |  (octet_length(encode(r)) - octet_length(encode(h)) - 4) < clen AS truncated,
                |  substr(r, length(h) + 5, CAST(clen AS INTEGER)) AS text
                |FROM cl""".stripMargin)),

    // Z-value (Morton) layout key over (user_id, epoch-micros ts): pure
    // shift/and/or codegen arithmetic — the oracle recomputes the same
    // bucket indices and interleave with integer SQL
    QuerySpec("q_layout_zvalue", (s, dir) =>
      events(s, dir).select(col("event_id"),
        sources.Layout.zValue(
          Seq(col("user_id"), unix_micros(col("ts"))),
          Seq(0.0, 1704067200000000.0),
          Seq(2048.0, 1706745600000000.0), bits = 8).as("zval")),
      Oracle(s"""WITH b AS (
                |  SELECT event_id,
                |    CAST(least(greatest(floor((CAST(user_id AS DOUBLE) - 0.0) / 8.0), 0), 255) AS BIGINT) AS iu,
                |    CAST(least(greatest(floor((CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) - 1704067200000000.0) / 10462500000.0), 0), 255) AS BIGINT) AS it
                |  FROM events
                |)
                |SELECT event_id, ${zInterleaveSql("iu", "it", 8)} AS zval
                |FROM b""".stripMargin)),

    // manifest-pruned read over the z-ordered events store: files whose
    // (user_id, ts_us) ranges miss the predicate are never opened; the
    // oracle is the plain full-scan filter — pruning must be invisible
    // to the result
    QuerySpec("q_layout_prune", (s, dir) => {
      val store = zStoreFor(s, dir)
      sources.Layout.readPruned(s, s"$store/events_z",
        Seq(("user_id", 2.0, 9.0),
          ("ts_us", 1704931200000000.0, 1705795200000000.0)))
    },
      Oracle("""SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               |  event_type, value
               |FROM events
               |WHERE CAST(user_id AS DOUBLE) BETWEEN 2.0 AND 9.0
               |  AND CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE)
               |      BETWEEN 1704931200000000.0 AND 1705795200000000.0""".stripMargin)),

    // small-files compaction of the z-ordered store (re-cluster +
    // manifest refresh, written beside — never in place); the oracle is
    // the full table: a compaction that loses/duplicates/corrupts any
    // row hash-mismatches
    QuerySpec("q_layout_compact", (s, dir) => {
      val store = zCompactedStoreFor(s, dir)
      s.read.parquet(s"$store/events_zc")
    },
      Oracle("""SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               |  event_type, value
               |FROM events""".stripMargin)),
  )
}
