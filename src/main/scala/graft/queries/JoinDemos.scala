package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.RelationalDemos.Demo
import graft.sources.Tables

/** Join operators Spark lacks natively, composed from built-ins per the
  * preference order (SURVEY.md §7.3 / builder contract: compose > custom
  * Expression > custom SparkPlan): as-of join and banded range join.
  */
object JoinDemos {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  // -------------------------------------------------------------------
  // X8a: AS-OF JOIN — each purchase event matched to the same user's most
  // recent click at-or-before it. Implemented as the single-shuffle window
  // formulation: union both streams, one window per user ordered by
  // (ts, tag) with running max over click timestamps, keep purchases.
  // This is THE scale path — one hash shuffle on user_id and a linear
  // scan, versus the naive inequality join whose per-user fan-out is
  // O(purchases × clicks). The oracle is DuckDB's native ASOF LEFT JOIN.
  // Tag orders clicks before purchases on timestamp ties, matching
  // ASOF's `c.ts <= p.ts` inclusivity.
  // -------------------------------------------------------------------
  private val x8a = Demo("x8a_asof_join", Some("""
      SELECT p.event_id, p.user_id, p.ts AS purchase_ts, p.value AS purchase_value,
             c.ts AS last_click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY p.event_id ASC NULLS LAST"""),
    (s, dir, _) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          (col("event_type") === "purchase").cast("int").as("tag"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("tag").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_click_ts",
          max(when(col("tag") === 0, col("ts"))).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("user_id"),
          col("ts").as("purchase_ts"), col("value").as("purchase_value"),
          col("last_click_ts"))
        .orderBy(col("event_id").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X8b: BANDED RANGE JOIN — events classified into NON-uniform value
  // bands (point-in-interval). The band table is tiny and broadcast, so
  // the inequality join is a broadcast nested-loop over ~6 rows per
  // event — the correct physical shape for banded joins at any fact
  // scale (the small side is the broadcast side; the fact never shuffles).
  // -------------------------------------------------------------------
  private val bandRows = Seq(
    ("nano", 0.0, 10.0), ("small", 10.0, 25.0), ("mid", 25.0, 50.0),
    ("large", 50.0, 100.0), ("huge", 100.0, 200.0), ("whale", 200.0, 1000.0))

  private val x8b = Demo("x8b_range_join", Some(s"""
      WITH bands(band, lo, hi) AS (
        VALUES ${bandRows.map { case (n, l, h) => s"('$n', $l, $h)" }.mkString(", ")})
      SELECT band,
             count(*) AS n_events,
             cast(cast(sum(cast(value AS decimal(18,2))) AS decimal(18,2)) AS double) AS total_value
      FROM events JOIN bands ON value >= lo AND value < hi
      GROUP BY band
      ORDER BY band ASC NULLS LAST"""),
    (s, dir, _) => {
      val bands = s.createDataFrame(bandRows).toDF("band", "lo", "hi")
      t(s, dir, "events")
        .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .cast(org.apache.spark.sql.types.DoubleType).as("total_value"))
        .orderBy(col("band").asc_nulls_last)
    })

  val all: Seq[Demo] = Seq(x8a, x8b)
}
