package graft
package catalog

import org.apache.spark.sql.functions._

import graft.SparkEntry._

/** Events: time-window aggregation, funnels, sessionization, anomaly
  * trails, as-of and range joins.
  */
object EventsQueries {

  /** Gap-sessionization CTE chain (mirrors EventStream.sessionizeBatch,
    * gap = 30 min), ending in `sessagg` — shared by the sessionize oracle
    * and the range-join oracle that attributes clicks to sessions.
    */
  private val oracleSessionCtes =
    """e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events
      |), flagged AS (
      |  SELECT user_id, ts_us, value,
      |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e
      |), sess AS (
      |  SELECT user_id, ts_us, value,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM flagged
      |), sessagg AS (
      |  SELECT user_id, session_id, min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
      |    count(*) AS n_events, round(sum(value), 4) AS sum_value
      |  FROM sess GROUP BY 1, 2
      |)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // classic conversion funnel over the events table: signup → view →
    // click → purchase within 12 h of the signup anchor, greedy
    // first-match per user, one user-keyed fold (unwindowed the
    // synthetic events saturate every step — the window makes each
    // stage discriminating: 1500 → 299 → 34 → 3 at sf0.1)
    QuerySpec("q_events_funnel", (s, dir) =>
      graft.streaming.EventStream.funnel(events(s, dir),
        Seq("signup", "view", "click", "purchase"),
        withinMinutes = Some(720L)),
      // greedy first-match funnel: chained min-timestamp CTEs, one per
      // step — each step's users are the previous step's with a strictly
      // later occurrence of the step's type, within 12 h of the anchor
      // (the anchor rides the chain via any_value — one value per user)
      Oracle(s"""WITH u1 AS (
                |  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
                |  WHERE event_type = 'signup' GROUP BY 1
                |), u2 AS (
                |  SELECT e.user_id, min(epoch_us(ts)) AS t2, any_value(t1) AS a2
                |  FROM events e JOIN u1 USING (user_id)
                |  WHERE event_type = 'view' AND epoch_us(ts) > t1
                |    AND epoch_us(ts) - t1 <= CAST(720 AS BIGINT) * 60 * 1000000
                |  GROUP BY 1
                |), u3 AS (
                |  SELECT e.user_id, min(epoch_us(ts)) AS t3, any_value(a2) AS a3
                |  FROM events e JOIN u2 USING (user_id)
                |  WHERE event_type = 'click' AND epoch_us(ts) > t2
                |    AND epoch_us(ts) - a2 <= CAST(720 AS BIGINT) * 60 * 1000000
                |  GROUP BY 1
                |), u4 AS (
                |  SELECT e.user_id, min(epoch_us(ts)) AS t4
                |  FROM events e JOIN u3 USING (user_id)
                |  WHERE event_type = 'purchase' AND epoch_us(ts) > t3
                |    AND epoch_us(ts) - a3 <= CAST(720 AS BIGINT) * 60 * 1000000
                |  GROUP BY 1
                |)
                |SELECT 1 AS step, 'signup' AS event_type, count(*) AS n_users FROM u1
                |UNION ALL SELECT 2, 'view', count(*) FROM u2
                |UNION ALL SELECT 3, 'click', count(*) FROM u3
                |UNION ALL SELECT 4, 'purchase', count(*) FROM u4""".stripMargin)),

    // day-N cohort retention: users cohorted by first-signup date,
    // active-day offsets 0..7 — calendar-sized output
    QuerySpec("q_events_retention", (s, dir) =>
      graft.streaming.EventStream.retention(events(s, dir), "signup", maxDays = 7),
      // retention: first-signup cohorts × distinct active dates, offsets
      // counted per (cohort, offset), sizes re-joined
      Oracle(s"""WITH cohorts AS (
                |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date FROM events
                |  WHERE event_type = 'signup' GROUP BY 1
                |), sizes AS (
                |  SELECT cohort_date, count(*) AS n_cohort FROM cohorts GROUP BY 1
                |), activity AS (
                |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date FROM events
                |), j AS (
                |  SELECT c.cohort_date,
                |    CAST(date_diff('day', c.cohort_date, a.active_date) AS INTEGER)
                |      AS day_offset
                |  FROM cohorts c JOIN activity a USING (user_id)
                |  WHERE date_diff('day', c.cohort_date, a.active_date) BETWEEN 0 AND 7
                |)
                |SELECT j.cohort_date, day_offset, count(*) AS n_active,
                |  any_value(n_cohort) AS n_cohort
                |FROM j JOIN sizes USING (cohort_date)
                |GROUP BY 1, 2""".stripMargin)),

    QuerySpec("q_events_window", (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value")),
      Oracle("""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
               |  count(*) AS n_events, round(sum(value), 4) AS sum_value
               |FROM events GROUP BY 1, 2""".stripMargin)),

    // windowed anomaly meter: per-(type, hour) volume/value z-scores vs
    // the per-type baseline, flagged at |z| >= 2 — the monitoring shape
    // (streaming twin serves a persisted baseline; StreamingSpec parity)
    QuerySpec("q_events_anomaly", (s, dir) =>
      graft.streaming.EventStream.windowAnomaly(events(s, dir),
        zThreshold = 2.0),
      // anomaly meter: same windowed stats + per-type mean/stddev_pop
      // baseline, z on the UNROUNDED ratio for the flag (mirroring
      // anomalyFlags), rounded for display
      Oracle("""WITH w AS (
               |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS window_start,
               |    count(*) AS n_events, round(sum(value), 4) AS sum_value
               |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
               |), b AS (
               |  SELECT event_type,
               |    avg(n_events) AS mean_n, stddev_pop(n_events) AS std_n,
               |    avg(sum_value) AS mean_v, stddev_pop(sum_value) AS std_v
               |  FROM w GROUP BY 1
               |)
               |SELECT w.event_type, w.window_start, n_events, sum_value,
               |  round(CASE WHEN std_n > 0 THEN (n_events - mean_n) / std_n END, 6)
               |    AS z_volume,
               |  round(CASE WHEN std_v > 0 THEN (sum_value - mean_v) / std_v END, 6)
               |    AS z_value,
               |  (coalesce(abs(CASE WHEN std_n > 0
               |      THEN (n_events - mean_n) / std_n END) >= 2.0, false)
               |   OR coalesce(abs(CASE WHEN std_v > 0
               |      THEN (sum_value - mean_v) / std_v END) >= 2.0, false)) AS anomalous
               |FROM w JOIN b USING (event_type)""".stripMargin)),

    // trailing-baseline anomaly meter: each (type, hour) vs its own
    // preceding 24 observed windows (warm-up head emits null z) — the
    // regime-change-robust twin of q_events_anomaly
    QuerySpec("q_events_anomaly_trail", (s, dir) =>
      graft.streaming.EventStream.windowAnomalyTrailing(events(s, dir),
        lookback = 24, minPrior = 3, zThreshold = 2.0),
      // trailing-baseline anomaly: the same stats frame + a preceding-rows
      // window per type (count gate, population stddev), unrounded-z flags
      Oracle("""WITH w AS (
               |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS window_start,
               |    count(*) AS n_events, round(sum(value), 4) AS sum_value
               |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
               |), b AS (
               |  SELECT *, count(*) OVER wnd AS np,
               |    avg(n_events) OVER wnd AS mean_n,
               |    stddev_pop(n_events) OVER wnd AS std_n,
               |    avg(sum_value) OVER wnd AS mean_v,
               |    stddev_pop(sum_value) OVER wnd AS std_v
               |  FROM w
               |  WINDOW wnd AS (PARTITION BY event_type ORDER BY window_start
               |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
               |)
               |SELECT event_type, window_start, n_events, sum_value,
               |  round(CASE WHEN np >= 3 AND std_n > 0
               |    THEN (n_events - mean_n) / std_n END, 6) AS z_volume,
               |  round(CASE WHEN np >= 3 AND std_v > 0
               |    THEN (sum_value - mean_v) / std_v END, 6) AS z_value,
               |  (coalesce(abs(CASE WHEN np >= 3 AND std_n > 0
               |      THEN (n_events - mean_n) / std_n END) >= 2.0, false)
               |   OR coalesce(abs(CASE WHEN np >= 3 AND std_v > 0
               |      THEN (sum_value - mean_v) / std_v END) >= 2.0, false)) AS anomalous
               |FROM b""".stripMargin)),

    // batch twin of the streaming sessionization (gap = 30 min)
    QuerySpec("q_events_sessionize", (s, dir) =>
      graft.streaming.EventStream.sessionizeBatch(events(s, dir), gapMinutes = 30),
      Oracle(s"""WITH $oracleSessionCtes
                |SELECT user_id, session_id, session_start_us, session_end_us, n_events, sum_value
                |FROM sessagg""".stripMargin)),

    // as-of join: every purchase enriched with the user's latest
    // at-or-before click (right side pre-deduped to one row per
    // (user, ts) — the operator's documented precondition)
    QuerySpec("q_events_asof", (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
      val clicks = ev.filter(col("event_type") === "click")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("user_id"), col("ts"), col("value"))
      ops.Joins.asofJoin(purchases, clicks, "user_id", "ts", "value", prefix = "last_click_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("last_click_value"),
          unix_micros(col("last_click_ts")).as("last_click_ts_us"))
    },
      // DuckDB's native ASOF LEFT JOIN is the oracle for the union+window
      // as-of implementation (both inclusive at equal timestamps)
      Oracle("""WITH p AS (
               |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               |  FROM events WHERE event_type = 'purchase'
               |), c AS (
               |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
               |  FROM events WHERE event_type = 'click'
               |  QUALIFY row_number() OVER (
               |    PARTITION BY user_id, epoch_us(CAST(ts AS TIMESTAMP))
               |    ORDER BY event_id DESC) = 1
               |)
               |SELECT p.event_id, p.user_id, p.ts_us,
               |  c.value AS last_click_value, c.ts_us AS last_click_ts_us
               |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us""".stripMargin)),

    // multi-value as-of: real enrichment attaches several columns at once
    // — value AND props ride the one struct carry (still a single window
    // pass), mirrored by DuckDB ASOF selecting both
    QuerySpec("q_events_asof_multi", (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)
      val clicks = ev.filter(col("event_type") === "click")
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("user_id"), col("ts"), col("value"), col("props"))
      ops.Joins.asofJoin(purchases, clicks, "user_id", "ts",
          Seq("value", "props"), prefix = "last_click_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("last_click_value"), col("last_click_props"),
          unix_micros(col("last_click_ts")).as("last_click_ts_us"))
    },
      Oracle("""WITH p AS (
               |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               |  FROM events WHERE event_type = 'purchase'
               |), c AS (
               |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value, props
               |  FROM events WHERE event_type = 'click'
               |  QUALIFY row_number() OVER (
               |    PARTITION BY user_id, epoch_us(CAST(ts AS TIMESTAMP))
               |    ORDER BY event_id DESC) = 1
               |)
               |SELECT p.event_id, p.user_id, p.ts_us,
               |  c.value AS last_click_value, c.props AS last_click_props,
               |  c.ts_us AS last_click_ts_us
               |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us""".stripMargin)),

    // keyed range join: attribute every click to the 30-min-gap session
    // interval it falls in (sessions over ALL events, so each click has
    // exactly one home). Half-open [lo, hi) core, so the inclusive
    // session end passes end+1 on the µs domain; bucketWidth = 1 h ≈ the
    // session-length scale
    QuerySpec("q_events_range", (s, dir) => {
      val ev = events(s, dir)
      val sessions = graft.streaming.EventStream.sessionizeBatch(ev, gapMinutes = 30)
        .select(col("user_id"), col("session_id"), col("session_start_us"),
          (col("session_end_us") + 1).as("session_end_excl"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      ops.Joins.rangeJoin(clicks, sessions, "ts_us", "session_start_us", "session_end_excl",
        bucketWidth = 3600e6, keyCols = Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("session_id"))
    },
      // keyed range join oracle: plain range-predicate join (DuckDB handles
      // the quadratic pairing fine at oracle scale; the operator's bucketed
      // equi-join must produce the identical pair set)
      Oracle(s"""WITH $oracleSessionCtes,
                |c AS (
                |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                |  FROM events WHERE event_type = 'click'
                |)
                |SELECT c.event_id, c.user_id, c.ts_us, s.session_id
                |FROM c JOIN sessagg s
                |  ON c.user_id = s.user_id
                | AND c.ts_us >= s.session_start_us AND c.ts_us < s.session_end_us + 1""".stripMargin)),
  )
}
