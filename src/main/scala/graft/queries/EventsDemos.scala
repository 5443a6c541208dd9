package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.RelationalDemos.Demo
import graft.sources.Tables

/** Event-stream operators (SURVEY.md §2B X4 JSON columns + X6 windowed
  * aggregation) over the `events` table (`ts TIMESTAMP, user_id, event_type,
  * value DOUBLE, props JSON-string`).
  *
  * The windowed aggregations here are the BATCH-equivalent declarations —
  * the exact same transformations run unchanged on a streaming DataFrame
  * via [[graft.streaming.StreamingPipelines]] (one definition, two run
  * modes; the streaming runtime is asserted equivalent to these batch
  * results in StreamingSpec, SURVEY §7.4.9). Money-ish sums of `value` go
  * through DECIMAL(18,2) so partial-aggregation order can't perturb them,
  * then cast to DOUBLE in the final projection (driver's hash canonicalizes
  * DECIMAL differently between parquet and DuckDB — round-1 verdict).
  *
  * Scale: all aggs shuffle on (bounded-cardinality key × time bucket);
  * session windows shuffle once on user_id — the same partitioning
  * mapGroupsWithState would use, so the batch plan previews the
  * streaming-state layout.
  */
object EventsDemos {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  private val dec2 = DecimalType(18, 2)

  // -------------------------------------------------------------------
  // X4a: JSON prop extraction + typed aggregation. props = {"k": int} —
  // schema-on-read with from_json (not get_json_object: typed extraction
  // prunes to one parse per row and stays codegen-friendly).
  // -------------------------------------------------------------------
  private val x4a = Demo("x4a_json_props", Some("""
      SELECT event_type,
             count(*) AS n,
             min(cast(json_extract(props, '$.k') AS bigint)) AS min_k,
             max(cast(json_extract(props, '$.k') AS bigint)) AS max_k,
             -- DuckDB sum(BIGINT) widens to HUGEINT (int128), which the
             -- comparison layer would read as float; pin to BIGINT like
             -- Spark's sum(long)
             cast(sum(cast(json_extract(props, '$.k') AS bigint)) AS bigint) AS sum_k
      FROM events
      GROUP BY 1
      ORDER BY event_type ASC NULLS LAST"""),
    (s, dir, _) => t(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))
      .orderBy(col("event_type").asc_nulls_last))

  // -------------------------------------------------------------------
  // X4g: VARIANT JSON PATH — the same extraction as x4a through Spark 4's
  // VARIANT type (parse_json → variant_get): schema-on-read without
  // declaring a struct up front, the semi-structured ingestion surface a
  // lakehouse exposes. One parse per row, typed scalar out — stays in
  // whole-stage codegen like from_json. Oracle = DuckDB's json_extract.
  // -------------------------------------------------------------------
  private val x4g = Demo("x4g_variant_json", Some("""
      SELECT event_id, event_type,
             cast(json_extract(props, '$.k') AS bigint) AS k
      FROM events
      WHERE event_id <= 500
      ORDER BY event_id ASC NULLS LAST"""),
    (s, dir, _) => t(s, dir, "events")
      .filter(col("event_id") <= 500)
      .select(col("event_id"), col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .orderBy(col("event_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // X6a: tumbling 1-hour window aggregation by event_type — the canonical
  // streaming agg, declared with window() so the identical expression runs
  // under readStream+watermark.
  // -------------------------------------------------------------------
  private val x6a = Demo("x6a_window_tumbling", Some("""
      SELECT date_trunc('hour', ts) AS window_start,
             event_type,
             count(*) AS n_events,
             cast(cast(sum(cast(value AS decimal(18,2))) AS decimal(18,2)) AS double) AS total_value
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start ASC NULLS LAST, event_type ASC NULLS LAST"""),
    (s, dir, _) => tumbling(t(s, dir, "events"))
      .orderBy(col("window_start").asc_nulls_last, col("event_type").asc_nulls_last))

  /** The shared batch/streaming tumbling-agg transformation. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(dec2)).cast(dec2).cast(DoubleType)
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  // -------------------------------------------------------------------
  // X6b: sliding window (1 hour, slide 30 min) — each event lands in 2
  // windows. Oracle replicates by unnesting the two candidate starts.
  // -------------------------------------------------------------------
  private val x6b = Demo("x6b_window_sliding", Some("""
      SELECT w AS window_start,
             count(*) AS n_events,
             cast(cast(sum(cast(value AS decimal(18,2))) AS decimal(18,2)) AS double) AS total_value
      FROM (SELECT value,
                   unnest([ts_b, ts_b - INTERVAL 30 MINUTE]) AS w
            FROM (SELECT value,
                         date_trunc('hour', ts)
                           + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                                  ELSE INTERVAL 0 MINUTE END AS ts_b
                  FROM events))
      GROUP BY 1
      ORDER BY window_start ASC NULLS LAST"""),
    (s, dir, _) => sliding(t(s, dir, "events"))
      .orderBy(col("window_start").asc_nulls_last))

  /** The shared batch/streaming sliding-agg transformation. */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(dec2)).cast(dec2).cast(DoubleType)
          .as("total_value"))
      .select(col("window.start").as("window_start"),
        col("n_events"), col("total_value"))

  // -------------------------------------------------------------------
  // X6c: session windows per user (30-minute gap) — Spark's native
  // session_window (merge-on-gap). The oracle derives identical sessions
  // relationally: lag() per user → new-session flag → running sum =
  // session id → group. Session end = last event + gap (Spark semantics).
  // -------------------------------------------------------------------
  private val x6c = Demo("x6c_window_session", Some("""
      WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
        FROM events),
      sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
      SELECT user_id,
             min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events,
             cast(cast(sum(cast(value AS decimal(18,2))) AS decimal(18,2)) AS double) AS total_value
      FROM sessions
      GROUP BY user_id, sid
      ORDER BY user_id ASC NULLS LAST, session_start ASC NULLS LAST"""),
    (s, dir, _) => session(t(s, dir, "events"))
      .orderBy(col("user_id").asc_nulls_last, col("session_start").asc_nulls_last))

  /** The shared batch/streaming session-agg transformation. */
  def session(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(dec2)).cast(dec2).cast(DoubleType)
          .as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  // -------------------------------------------------------------------
  // X6d: EVENT-TIME INTERVAL JOIN — each purchase paired with the same
  // user's clicks in the preceding hour. Batch plan: equi hash join on
  // user_id with the time range as a residual predicate (never a
  // cross-product). The identical transformation runs streaming as a
  // stream-stream self-join (StreamingPipelines.intervalJoinStream):
  // the range condition is exactly what bounds the symmetric join state
  // — each side retains only rows inside watermark + 1 hour.
  // -------------------------------------------------------------------
  private val x6d = Demo("x6d_interval_join", Some("""
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             c.event_id AS click_id, c.ts AS click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      ORDER BY purchase_id ASC NULLS LAST, click_id ASC NULLS LAST"""),
    (s, dir, _) => intervalJoin(t(s, dir, "events"))
      .orderBy(col("purchase_id").asc_nulls_last,
        col("click_id").asc_nulls_last))

  /** The shared batch/streaming purchase←clicks interval join. The
    * `joinType` is "inner" (x6d) or "left_outer" (x6e — purchases with
    * no preceding click survive NULL-padded; in streaming the outer row
    * emits once the watermark closes its join window).
    */
  def intervalJoin(events: DataFrame, joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") <= col("purchase_ts"), joinType)
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  // -------------------------------------------------------------------
  // X6e: LEFT OUTER interval join — x6d plus the purchases that had NO
  // click in the preceding hour (NULL-padded), the attribution-style
  // "conversion without touchpoint" rows. Same physical shape; the
  // streaming face needs watermarks on BOTH sides so state for the
  // outer side can be declared complete and the NULL rows emitted.
  // -------------------------------------------------------------------
  private val x6e = Demo("x6e_interval_join_outer", Some("""
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             c.event_id AS click_id, c.ts AS click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      ORDER BY purchase_id ASC NULLS LAST, click_id ASC NULLS FIRST"""),
    (s, dir, _) => intervalJoin(t(s, dir, "events"), "left_outer")
      .orderBy(col("purchase_id").asc_nulls_last,
        col("click_id").asc_nulls_first))

  // -------------------------------------------------------------------
  // X20: WINDOWED FUNNEL — graft.operators.Funnel over the canonical
  // view → click → purchase progression: a user reaches step k+1 with an
  // event strictly after their FIRST reach of step k AND within a
  // 6-hour gap (the windowed funnel; the unbounded classic is the
  // maxGap=None contract). The oracle pins `cast(ts AS timestamp)`
  // (micros) in its base CTE: DuckDB reads the parquet as TIMESTAMP_NS,
  // and a nanos-precision strict comparison could split a micro-tied
  // pair differently from Spark's micros ts. Conversion = one double
  // division of exact counts.
  // -------------------------------------------------------------------
  private val x20 = Demo("x20_funnel", Some("""
      WITH ev AS (SELECT user_id, event_type,
                         cast(ts AS timestamp) AS ts
                  FROM events),
      s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts) AS t2
             FROM ev e JOIN s1 USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > s1.t1
               AND e.ts <= s1.t1 + INTERVAL 6 HOURS GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.ts) AS t3
             FROM ev e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > s2.t2
               AND e.ts <= s2.t2 + INTERVAL 6 HOURS GROUP BY 1),
      c AS (SELECT (SELECT count(*) FROM s1) AS n1,
                   (SELECT count(*) FROM s2) AS n2,
                   (SELECT count(*) FROM s3) AS n3)
      SELECT 1 AS step, 'view' AS step_name, n1 AS n_users,
             CASE WHEN n1 > 0 THEN cast(n1 AS double) / cast(n1 AS double) END AS conversion
      FROM c
      UNION ALL
      SELECT 2, 'click', n2,
             CASE WHEN n1 > 0 THEN cast(n2 AS double) / cast(n1 AS double) END
      FROM c
      UNION ALL
      SELECT 3, 'purchase', n3,
             CASE WHEN n1 > 0 THEN cast(n3 AS double) / cast(n1 AS double) END
      FROM c
      ORDER BY step ASC NULLS LAST"""),
    (s, dir, _) => graft.operators.Funnel.funnel(
        t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), maxGap = Some("6 HOURS"))
      .orderBy(col("step").asc_nulls_last))

  // -------------------------------------------------------------------
  // X21: COHORT RETENTION — graft.operators.Retention: users cohorted by
  // the calendar week (Monday-truncated, both engines) of their first
  // signup; activity offset = whole weeks since the per-user anchor DAY
  // (integer day arithmetic, no calendar boundary effects); retention =
  // distinct-active / cohort-size, one double division. Micros ts pinned
  // in the oracle base CTE (the x20 nanos note).
  // -------------------------------------------------------------------
  private val x21 = Demo("x21_cohort_retention", Some("""
      WITH ev AS (SELECT user_id, event_type,
                         cast(ts AS timestamp) AS ts
                  FROM events),
      cohorts AS (
        SELECT user_id, min(ts) AS anchor,
               cast(date_trunc('week', min(ts)) AS date) AS cohort_week
        FROM ev WHERE event_type = 'signup' GROUP BY user_id),
      sizes AS (SELECT cohort_week, count(DISTINCT user_id) AS cohort_size
                FROM cohorts GROUP BY 1),
      activity AS (
        SELECT c.cohort_week, e.user_id,
               date_diff('day', cast(c.anchor AS date), cast(e.ts AS date)) // 7
                 AS week_offset
        FROM ev e JOIN cohorts c USING (user_id)
        WHERE e.ts >= c.anchor),
      matrix AS (SELECT cohort_week, week_offset,
                        count(DISTINCT user_id) AS n_active
                 FROM activity GROUP BY 1, 2)
      SELECT m.cohort_week, m.week_offset, m.n_active,
             cast(n_active AS double) / cast(cohort_size AS double) AS retention
      FROM matrix m JOIN sizes USING (cohort_week)
      ORDER BY cohort_week ASC NULLS LAST, week_offset ASC NULLS LAST"""),
    (s, dir, _) => graft.operators.Retention.cohortRetention(
        t(s, dir, "events"), "user_id", "event_type", "ts", "signup")
      .orderBy(col("cohort_week").asc_nulls_last,
        col("week_offset").asc_nulls_last))

  // -------------------------------------------------------------------
  // X6f: FIRST-TOUCH ATTRIBUTION — per-user earliest event with the
  // deterministic (ts, event_id) tiebreak. One min_by hash aggregate
  // (map-side combinable, one user_id exchange, no window sort); the
  // streaming face is StreamingPipelines.firstTouchStream
  // (mapGroupsWithState running-min state), equivalence spec-pinned.
  // Micros ts pinned in the oracle base CTE (the x20 nanos note).
  // -------------------------------------------------------------------
  private val x6f = Demo("x6f_first_touch", Some("""
      WITH e AS (SELECT user_id, cast(ts AS timestamp) AS ts,
                        event_id, event_type
                 FROM events),
      r AS (SELECT user_id, ts, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC) AS rn
            FROM e)
      SELECT user_id, ts AS first_ts, event_id AS first_event_id,
             event_type AS first_event_type
      FROM r WHERE rn = 1
      ORDER BY user_id ASC NULLS LAST"""),
    (s, dir, _) => firstTouch(t(s, dir, "events"))
      .orderBy(col("user_id").asc_nulls_last))

  /** The shared batch face of streaming first-touch (X6f). */
  def firstTouch(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(min_by(
        struct(col("ts"), col("event_id"), col("event_type")),
        struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("f.ts").as("first_ts"),
        col("f.event_id").as("first_event_id"),
        col("f.event_type").as("first_event_type"))

  // -------------------------------------------------------------------
  // X6g: THROTTLE DEDUP — first event per (user, event_type, minute
  // bucket), the batch face of ingestion dedup
  // (StreamingPipelines.dedupStream keys the SAME bucket columns; the
  // watermark-state runtime semantics are spec-pinned in StreamingSpec).
  // Deterministic keeper: min (ts, event_id) within the bucket — the
  // library's exactDedup convention — unlike dropDuplicates' arrival-
  // order keeper. Micros ts pinned in the oracle base CTE (x20 note).
  // Scale: ONE hash exchange on the composite key feeding a combinable
  // min_by — no window sort, state bounded by distinct keys per bucket.
  // -------------------------------------------------------------------
  private val x6g = Demo("x6g_throttle_dedup", Some("""
      WITH e AS (SELECT event_id, user_id, event_type,
                        cast(ts AS timestamp) AS ts
                 FROM events),
      r AS (SELECT event_id, user_id, event_type, ts,
                   row_number() OVER (
                     PARTITION BY user_id, event_type, date_trunc('minute', ts)
                     ORDER BY ts ASC, event_id ASC) AS rn
            FROM e)
      SELECT event_id, user_id, event_type, ts
      FROM r WHERE rn = 1
      ORDER BY event_id ASC NULLS LAST"""),
    (s, dir, _) => throttleDedup(t(s, dir, "events"))
      .orderBy(col("event_id").asc_nulls_last))

  /** The shared batch face of streaming ingestion dedup (X6g). */
  def throttleDedup(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"),
        date_trunc("minute", col("ts")).as("minute"))
      .agg(min_by(col("event_id"), struct(col("ts"), col("event_id")))
          .as("event_id"),
        min(col("ts")).as("ts"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))

  // -------------------------------------------------------------------
  // X6h: STREAM–STATIC ENRICHMENT — the production "enrich the event
  // stream against a dimension table" staple: events INNER-joined to the
  // broadcast customer dim on user_id (every harness event has a
  // customer; dimension misses are a data-quality failure x8-style
  // outer variants would surface), then the tumbling agg by nation.
  // Same single declaration runs under readStream (StreamingPipelines.
  // enrichedTumblingStream; runtime ≡ batch asserted in FileStreamSpec):
  // Spark re-broadcasts the static side per micro-batch, state stays
  // keyed on (window × nation) — bounded. At 100 TB/day the dim is the
  // broadcast side by construction; no stream-side shuffle before the
  // windowed agg beyond the agg's own exchange.
  // -------------------------------------------------------------------
  private val x6h = Demo("x6h_stream_enrich", Some("""
      SELECT date_trunc('hour', e.ts) AS window_start,
             c.c_nationkey,
             count(*) AS n_events,
             cast(cast(sum(cast(e.value AS decimal(18,2))) AS decimal(18,2)) AS double) AS total_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2
      ORDER BY window_start ASC NULLS LAST, c_nationkey ASC NULLS LAST"""),
    (s, dir, _) => enrichedTumbling(t(s, dir, "events"), t(s, dir, "customer"))
      .orderBy(col("window_start").asc_nulls_last,
        col("c_nationkey").asc_nulls_last))

  /** The shared batch/streaming stream–static enrichment transformation. */
  def enrichedTumbling(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
        broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(dec2)).cast(dec2).cast(DoubleType)
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("c_nationkey"),
        col("n_events"), col("total_value"))

  // -------------------------------------------------------------------
  // X48: FUNNEL LATENCY (Funnel.funnelLatency) — time-to-convert p50/p90
  // per step, the product-metric companion of x20's conversion rates.
  // Elapsed times are exact microsecond longs, so percentile
  // interpolation replays bit-identically (x9b law); one division to
  // seconds on the interpolated value.
  // -------------------------------------------------------------------
  private val x48 = Demo("x48_funnel_latency", Some("""
      WITH ev AS (SELECT user_id, event_type,
                         cast(ts AS timestamp) AS ts
                  FROM events),
      s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts) AS t2
             FROM ev e JOIN s1 USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > s1.t1
               AND e.ts <= s1.t1 + INTERVAL 6 HOURS GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.ts) AS t3
             FROM ev e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > s2.t2
               AND e.ts <= s2.t2 + INTERVAL 6 HOURS GROUP BY 1),
      l AS (
        SELECT 2 AS step, 'click' AS step_name,
               date_diff('microsecond', s1.t1, s2.t2) AS us
        FROM s2 JOIN s1 USING (user_id)
        UNION ALL
        SELECT 3, 'purchase', date_diff('microsecond', s1.t1, s3.t3)
        FROM s3 JOIN s1 USING (user_id))
      SELECT step, step_name, count(*) AS n_users,
             quantile_cont(us, 0.5) / 1000000.0 AS p50_secs,
             quantile_cont(us, 0.9) / 1000000.0 AS p90_secs
      FROM l
      GROUP BY step, step_name
      ORDER BY step ASC NULLS LAST"""),
    (s, dir, _) => graft.operators.Funnel.funnelLatency(
        t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), maxGap = Some("6 HOURS"))
      .orderBy(col("step").asc_nulls_last))

  // -------------------------------------------------------------------
  // X49: LAST-TOUCH ATTRIBUTION — the marketing companion of x6f's
  // first-touch: per converting user, the LAST marketing touchpoint
  // (view/click) at or before their FIRST purchase, credited via one
  // max_by aggregate over the purchase-bounded touch stream (no window
  // sort; deterministic (ts, event_id) tiebreak on both mins and maxes).
  // Users who purchase with no prior touchpoint are absent (inner join).
  // -------------------------------------------------------------------
  private val x49 = Demo("x49_last_touch", Some("""
      WITH e AS (SELECT user_id, cast(ts AS timestamp) AS ts,
                        event_id, event_type
                 FROM events),
      conv AS (SELECT user_id, min(ts) AS purchase_ts FROM e
               WHERE event_type = 'purchase' GROUP BY 1),
      touches AS (
        SELECT e.user_id, e.ts, e.event_id, e.event_type, conv.purchase_ts
        FROM e JOIN conv USING (user_id)
        WHERE e.event_type IN ('view', 'click') AND e.ts <= conv.purchase_ts),
      r AS (SELECT user_id, ts, event_id, event_type, purchase_ts,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM touches)
      SELECT user_id, purchase_ts, ts AS touch_ts,
             event_id AS touch_event_id, event_type AS touch_type
      FROM r WHERE rn = 1
      ORDER BY user_id ASC NULLS LAST"""),
    (s, dir, _) => {
      val e = t(s, dir, "events")
      val conv = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
      e.filter(col("event_type").isin("view", "click"))
        .join(conv, Seq("user_id"))
        .filter(col("ts") <= col("purchase_ts"))
        .groupBy(col("user_id"))
        .agg(max(col("purchase_ts")).as("purchase_ts"), // constant per user
          max_by(struct(col("ts"), col("event_id"), col("event_type")),
            struct(col("ts"), col("event_id"))).as("l"))
        .select(col("user_id"), col("purchase_ts"),
          col("l.ts").as("touch_ts"), col("l.event_id").as("touch_event_id"),
          col("l.event_type").as("touch_type"))
        .orderBy(col("user_id").asc_nulls_last)
    })

  val all: Seq[Demo] =
    Seq(x4a, x4g, x6a, x6b, x6c, x6d, x6e, x6f, x6g, x6h, x20, x21, x48, x49)
}
