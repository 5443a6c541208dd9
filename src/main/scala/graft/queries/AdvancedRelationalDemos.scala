package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.RelationalDemos.Demo
import graft.sources.Tables

/** Relational operator families the reference has no instance of
  * (SURVEY.md §2A "categories with NO instance" disposition list) but a
  * user migrating a warehouse workload reaches for immediately: semi/anti
  * joins, ROLLUP subtotals, set operations, PIVOT, and analytic window
  * functions. Each follows the repo determinism conventions (total ORDER
  * BY with pinned NULL ordering; exact DECIMAL(18,2) accumulation with a
  * single final cast to DOUBLE on both engines).
  */
object AdvancedRelationalDemos {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  private val dec2 = DecimalType(18, 2)

  private def monthOf(c: org.apache.spark.sql.Column) =
    date_trunc("month", c).cast(DateType)

  // -------------------------------------------------------------------
  // Q12: LEFT SEMI + LEFT ANTI join — existence / absence filtering
  // without fan-out (the principled fix for the reference's J3 fan-out
  // bug when only membership matters; reference: docs/bug-analysis.md
  // prescribes count(distinct) — semi join is the row-filter sibling).
  // Scale: the probe side streams; Spark hashes the orders side. Both
  // branches share the same build relation, and neither can duplicate
  // customer rows (semi/anti emit each probe row at most once) — so the
  // output is bounded by |customer| at any fact-table scale.
  // -------------------------------------------------------------------
  private val q12 = Demo("q12_semi_anti_join", Some("""
      SELECT c_custkey, c_name, c_mktsegment, 'has_finished_order' AS order_flag
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      UNION ALL
      SELECT c_custkey, c_name, c_mktsegment, 'no_finished_order' AS order_flag
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      ORDER BY c_custkey ASC NULLS LAST"""),
    (s, dir, _) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val finished = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
      val semi = cust
        .join(finished, col("c_custkey") === col("o_custkey"), "left_semi")
        .withColumn("order_flag", lit("has_finished_order"))
      val anti = cust
        .join(finished, col("c_custkey") === col("o_custkey"), "left_anti")
        .withColumn("order_flag", lit("no_finished_order"))
      semi.unionByName(anti).orderBy(col("c_custkey").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q13: ROLLUP — hierarchical subtotals (month, priority) → (month) →
  // grand total in ONE aggregation pass. Scale: Spark expands each input
  // row once per grouping set BEFORE the shuffle but partial aggregation
  // collapses the expansion map-side, so the exchange still carries only
  // group rows (~80 months × 5 priorities + 81 subtotal groups).
  // NULL group keys mark the subtotal levels (both engines agree because
  // the data columns are non-null); ORDER BY pins NULLS FIRST on both.
  // -------------------------------------------------------------------
  private val q13 = Demo("q13_rollup", Some("""
      SELECT cast(date_trunc('month', o_orderdate) AS date) AS month,
             o_orderpriority,
             count(*) AS n_orders,
             cast(cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS double) AS total_price
      FROM orders
      GROUP BY ROLLUP (cast(date_trunc('month', o_orderdate) AS date), o_orderpriority)
      ORDER BY month ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""),
    (s, dir, _) => t(s, dir, "orders")
      .rollup(monthOf(col("o_orderdate")).as("month"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec2)).cast(dec2).cast(DoubleType)
          .as("total_price"))
      .orderBy(col("month").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first))

  // -------------------------------------------------------------------
  // Q14: set operations — INTERSECT / EXCEPT partition two derived key
  // sets into both/left-only/right-only with SQL bag-to-set semantics
  // (Spark's intersect/except are DISTINCT-based, exactly like the SQL
  // operators). Scale: each set op is one hash shuffle on the key; the
  // inputs are already distinct-projected single columns, so the
  // exchanges carry keys only.
  // -------------------------------------------------------------------
  private val q14 = Demo("q14_set_ops", Some("""
      WITH urgent AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
           finished AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
      SELECT custkey, 'both' AS membership FROM (SELECT custkey FROM urgent INTERSECT SELECT custkey FROM finished)
      UNION ALL
      SELECT custkey, 'urgent_only' AS membership FROM (SELECT custkey FROM urgent EXCEPT SELECT custkey FROM finished)
      UNION ALL
      SELECT custkey, 'finished_only' AS membership FROM (SELECT custkey FROM finished EXCEPT SELECT custkey FROM urgent)
      ORDER BY custkey ASC NULLS LAST"""),
    (s, dir, _) => {
      val orders = t(s, dir, "orders")
      val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      val finished = orders.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      val both = urgent.intersect(finished).withColumn("membership", lit("both"))
      val urgentOnly = urgent.except(finished)
        .withColumn("membership", lit("urgent_only"))
      val finishedOnly = finished.except(urgent)
        .withColumn("membership", lit("finished_only"))
      // the three branches partition urgent ∪ finished, so custkey alone
      // is a unique, deterministic sort key
      both.unionByName(urgentOnly).unionByName(finishedOnly)
        .orderBy(col("custkey").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q15: PIVOT — long-to-wide reshape, order counts per month × priority.
  // The pivot VALUES ARE DECLARED LITERALLY: with an explicit value list
  // Spark skips the eager driver-side `collect distinct` pre-pass that
  // `.pivot(col)` alone would run over the full fact table — at 100 TB
  // that pre-pass is a full extra scan. The pivot then compiles to one
  // ordinary hash aggregation (one shuffle on month).
  // Absent combinations: Spark's pivot yields NULL, DuckDB's FILTER
  // count yields 0 — coalesce on the Spark side pins the same value.
  // -------------------------------------------------------------------
  private val pivotPriorities = Seq(
    "1-URGENT" -> "n_urgent", "2-HIGH" -> "n_high", "3-MEDIUM" -> "n_medium",
    "4-NOT SPECIFIED" -> "n_not_specified", "5-LOW" -> "n_low")

  /** The UNSORTED pivoted relation, shared by q15 (which sorts it) and
    * q16 (which unpivots then sorts — sharing the unsorted form keeps the
    * melt from paying q15's global sort twice: a Sort below Expand is not
    * eliminable by Catalyst).
    */
  private def pivotWide(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "orders")
      .groupBy(monthOf(col("o_orderdate")).as("month"))
      .pivot("o_orderpriority", pivotPriorities.map(_._1))
      .agg(count(lit(1)))
    val renamed = pivotPriorities.foldLeft(wide) {
      case (df, (value, alias)) =>
        df.withColumn(alias, coalesce(col(s"`$value`"), lit(0L)))
    }
    renamed.select(col("month") +: pivotPriorities.map(p => col(p._2)): _*)
  }

  private val q15 = Demo("q15_pivot", Some("""
      SELECT cast(date_trunc('month', o_orderdate) AS date) AS month,
             count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
             count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
             count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
             count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_not_specified,
             count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
      FROM orders
      GROUP BY 1
      ORDER BY month ASC NULLS LAST"""),
    (s, dir, _) => pivotWide(s, dir).orderBy(col("month").asc_nulls_last))

  // -------------------------------------------------------------------
  // Q16: UNPIVOT — the wide-to-long inverse of Q15, melting the five
  // per-priority count columns back into (bucket, n_orders) rows.
  // Scale: unpivot is a per-row Expand (5 output rows per input row,
  // no shuffle of its own) over the already-aggregated ~80-row wide
  // relation; the only exchanges are Q15's aggregation and the final
  // sort. Round-trip property: Q16 over Q15 = the long-form group-by.
  // -------------------------------------------------------------------
  private val q16 = Demo("q16_unpivot", Some("""
      WITH wide AS (
        SELECT cast(date_trunc('month', o_orderdate) AS date) AS month,
               count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
               count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
               count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
               count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_not_specified,
               count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
        FROM orders
        GROUP BY 1)
      SELECT month, priority_bucket, n_orders FROM (
        UNPIVOT wide
        ON n_urgent, n_high, n_medium, n_not_specified, n_low
        INTO NAME priority_bucket VALUE n_orders)
      ORDER BY month ASC NULLS LAST, priority_bucket ASC NULLS LAST"""),
    (s, dir, _) => {
      val wide = pivotWide(s, dir) // the UNSORTED pivoted relation
      wide.unpivot(
          ids = Array(col("month")),
          values = pivotPriorities.map(p => col(p._2)).toArray,
          variableColumnName = "priority_bucket",
          valueColumnName = "n_orders")
        .orderBy(col("month").asc_nulls_last,
          col("priority_bucket").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q17: explicit GROUPING SETS with GROUPING() markers — two disjoint
  // breakdowns (by month, by status) plus the grand total in ONE
  // aggregation pass, and the g_* flags disambiguate subtotal NULLs
  // from data NULLs (the robustness rollup's bare NULL markers lack).
  // Driven through spark.sql: ONE text is both the Spark query and the
  // DuckDB oracle, verbatim (the q11 pattern — same Catalyst treatment
  // either way; Expand collapses map-side exactly as in q13).
  // -------------------------------------------------------------------
  private def groupingSetsText: String = """
      SELECT cast(date_trunc('month', o_orderdate) AS date) AS month,
             o_orderstatus,
             cast(grouping(cast(date_trunc('month', o_orderdate) AS date)) AS bigint) AS g_month,
             cast(grouping(o_orderstatus) AS bigint) AS g_status,
             count(*) AS n_orders
      FROM orders
      GROUP BY GROUPING SETS ((cast(date_trunc('month', o_orderdate) AS date)), (o_orderstatus), ())
      ORDER BY g_month ASC NULLS LAST, g_status ASC NULLS LAST,
               month ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST"""

  private val q17 = Demo("q17_grouping_sets", Some(groupingSetsText),
    (s, dir, _) => {
      Tables.table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(groupingSetsText)
    })

  // -------------------------------------------------------------------
  // X9c: analytic window functions — row_number, lag, running total,
  // moving average over a 3-row frame, per customer in order-date order.
  // Scale: ALL four windows share one partitionBy(o_custkey) — Catalyst
  // plans a single Exchange + Sort and evaluates every function in one
  // Window operator pass, so the cost is one shuffle regardless of how
  // many analytics ride on it (plan-asserted in PlanSpec).
  // Determinism: (o_orderdate, o_orderkey) is a unique order within each
  // customer; running/moving sums accumulate in exact DECIMAL and cast
  // the FINAL value to double; the moving average is one IEEE division
  // of that exact sum by the frame row count on both engines.
  // -------------------------------------------------------------------
  private val x9c = Demo("x9c_window_analytics", Some("""
      SELECT o_custkey, o_orderkey, o_orderdate,
             o_totalprice,
             row_number() OVER w AS order_seq,
             lag(o_totalprice, 1) OVER w AS prev_price,
             cast(cast(sum(cast(o_totalprice AS decimal(18,2)))
                  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS decimal(18,2)) AS double) AS running_total,
             cast(cast(sum(cast(o_totalprice AS decimal(18,2)))
                  OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                  AS decimal(18,2)) AS double)
               / count(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS moving_avg_3
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
      ORDER BY o_custkey ASC NULLS LAST, o_orderkey ASC NULLS LAST"""),
    (s, dir, _) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w3 = w.rowsBetween(-2, 0)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("order_seq", row_number().over(w))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("running_total",
          sum(col("o_totalprice").cast(dec2)).over(wRun)
            .cast(dec2).cast(DoubleType))
        .withColumn("moving_avg_3",
          sum(col("o_totalprice").cast(dec2)).over(w3)
            .cast(dec2).cast(DoubleType) / count(lit(1)).over(w3))
        .orderBy(col("o_custkey").asc_nulls_last,
          col("o_orderkey").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q18: LATERAL explode with ordinality — array column → one row per
  // element WITH its position (the `LATERAL unnest WITH ORDINALITY` /
  // dbt-utils `unnest` surface). First 5 whitespace tokens per document;
  // slicing BEFORE the explode bounds the fan-out at 5 rows per input
  // row no matter how long the document is — at 100 TB an unbounded
  // explode of token arrays is a 100× row blowup, a sliced one is ≤5×.
  // No shuffle of its own: Generate is a narrow per-row operator; the
  // only exchange is the final sort.
  // -------------------------------------------------------------------
  private val q18 = Demo("q18_lateral_explode", Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      SELECT doc_id, cast(i AS bigint) AS pos, toks[i] AS token
      FROM d, unnest(generate_series(1, least(coalesce(len(toks), 0), 5))) AS t(i)
      ORDER BY doc_id ASC NULLS LAST, pos ASC NULLS LAST"""),
    (s, dir, _) => t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(slice(split(col("text"), " "), 1, 5)))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("token"))
      .orderBy(col("doc_id").asc_nulls_last, col("pos").asc_nulls_last))

  // -------------------------------------------------------------------
  // Q19: top-N per group — the 3 highest-priced orders per priority via
  // row_number over (price DESC, orderkey ASC). Scale: Spark plans a
  // `rank <= k` filter over a window as WindowGroupLimit — each map task
  // keeps only its local top-3 per group BEFORE the shuffle, so the
  // exchange carries O(groups × k × tasks) rows, not the full fact
  // table (plan-asserted in PlanSpec). The orderkey tiebreak makes the
  // selection deterministic under ties.
  // -------------------------------------------------------------------
  private val q19 = Demo("q19_window_topn", Some("""
      SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        FROM orders)
      WHERE rnk <= 3
      ORDER BY o_orderpriority ASC NULLS LAST, rnk ASC NULLS LAST"""),
    (s, dir, _) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .filter(col("rnk") <= 3)
        .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("o_orderpriority").asc_nulls_last,
          col("rnk").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q20: theta self-join — unordered same-region nation pairs via an
  // equi component (n_regionkey) plus an inequality (n_name <). Spark
  // keys the hash join on the equi conjunct and applies the theta
  // predicate as the join's residual condition — the plan stays a hash
  // join, NOT a nested-loop product (the region key bounds each bucket,
  // so the worst case is the largest region's pair count, not |n|²).
  // A pure theta join with NO equi conjunct would be a
  // BroadcastNestedLoopJoin — acceptable only for tiny dims; at scale,
  // banded predicates get an equi band key first (the x8b pattern).
  // -------------------------------------------------------------------
  private val q20 = Demo("q20_theta_self_join", Some("""
      SELECT r.r_name, a.n_name AS nation_a, b.n_name AS nation_b
      FROM nation a
      JOIN nation b ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name
      JOIN region r ON r.r_regionkey = a.n_regionkey
      ORDER BY r_name ASC NULLS LAST, nation_a ASC NULLS LAST, nation_b ASC NULLS LAST"""),
    (s, dir, _) => {
      val a = t(s, dir, "nation")
        .select(col("n_regionkey"), col("n_name").as("nation_a"))
      val b = t(s, dir, "nation")
        .select(col("n_regionkey").as("rk_b"), col("n_name").as("nation_b"))
      val r = t(s, dir, "region")
      a.join(b, col("n_regionkey") === col("rk_b")
          && col("nation_a") < col("nation_b"))
        .join(broadcast(r), col("r_regionkey") === col("n_regionkey"))
        .select(col("r_name"), col("nation_a"), col("nation_b"))
        .orderBy(col("r_name").asc_nulls_last,
          col("nation_a").asc_nulls_last, col("nation_b").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q21: correlated scalar subquery — each customer's most-expensive
  // order(s), phrased as the textbook correlated filter. Catalyst
  // DECORRELATES it (RewriteCorrelatedScalarSubquery): the inner
  // per-customer max becomes one grouped aggregate joined back on
  // custkey — no per-row re-execution, no nested loop (plan-asserted).
  // ONE shared SQL text drives spark.sql and the oracle (q11 pattern).
  // max() is order-independent, so raw DOUBLE comparison is exact.
  // -------------------------------------------------------------------
  private val correlatedText = """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders o
      WHERE o_totalprice = (SELECT max(i.o_totalprice) FROM orders i
                            WHERE i.o_custkey = o.o_custkey)
      ORDER BY o_orderkey ASC NULLS LAST"""

  private val q21 = Demo("q21_correlated_subquery", Some(correlatedText),
    (s, dir, _) => {
      Tables.table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(correlatedText)
    })

  // -------------------------------------------------------------------
  // Q22: NOT IN three-valued logic — the classic SQL-semantics trap,
  // pinned: NOT IN over an empty set keeps every row; NOT IN over a set
  // CONTAINING NULL keeps none (x <> NULL is UNKNOWN, so the conjunction
  // never reaches TRUE); a real set anti-filters. ONE shared text drives
  // spark.sql and the oracle, so both engines' ANSI semantics are
  // hash-compared directly. Spark plans the nullable branch as a
  // null-aware anti join rather than re-running the subquery per row.
  // -------------------------------------------------------------------
  private val notInText = """
      SELECT 'not_in_empty_set' AS scenario, count(*) AS n FROM customer
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                              WHERE o_orderstatus = 'NOPE')
      UNION ALL
      SELECT 'not_in_null_set', count(*) FROM customer
      WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderstatus = 'NOPE'
                                          THEN o_custkey END
                              FROM orders)
      UNION ALL
      SELECT 'not_in_real_set', count(*) FROM customer
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')
      ORDER BY scenario ASC NULLS LAST"""

  private val q22 = Demo("q22_not_in_semantics", Some(notInText),
    (s, dir, _) => {
      Tables.table(s, dir, "customer").createOrReplaceTempView("customer")
      Tables.table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(notInText)
    })

  // -------------------------------------------------------------------
  // Q23: CUBE — the full 2^k subtotal lattice completing the q13 ROLLUP /
  // q17 GROUPING SETS trio: (status, priority), (status), (priority) and
  // the grand total in ONE Expand pass (4 grouping sets from 2 columns).
  // GROUPING() flags disambiguate subtotal NULLs, as in q17. Scale: the
  // Expand multiplies rows 4× pre-shuffle but partial aggregation
  // collapses them map-side, so the exchange still carries group rows.
  // -------------------------------------------------------------------
  private val cubeText = """
      SELECT o_orderstatus, o_orderpriority,
             cast(grouping(o_orderstatus) AS bigint) AS g_status,
             cast(grouping(o_orderpriority) AS bigint) AS g_priority,
             count(*) AS n_orders,
             cast(cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS double) AS total_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY g_status ASC NULLS LAST, g_priority ASC NULLS LAST,
               o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""

  private val q23 = Demo("q23_cube", Some(cubeText),
    (s, dir, _) => {
      Tables.table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(cubeText)
    })

  // -------------------------------------------------------------------
  // Q24: RANGE window frame — a per-customer trailing-30-day spend sum,
  // the time-based sibling of x9c's ROWS frames: the frame is defined by
  // VALUE distance on the ordering column (orders within 30 days before
  // this one), not row position, so variable-density histories aggregate
  // correctly. One hash exchange on o_custkey carries all of it; exact
  // DECIMAL accumulation with the final double cast. ORDER BY inside the
  // window includes only o_orderdate (RANGE requires a single ordering
  // expression); the output sort adds o_orderkey for total determinism —
  // ties share an orderdate and therefore an identical frame value.
  // -------------------------------------------------------------------
  private val rangeFrameText = """
      SELECT o_custkey, o_orderkey, o_orderdate,
             cast(cast(sum(cast(o_totalprice AS decimal(18,2))) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate ASC
                    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
                  AS decimal(18,2)) AS double) AS trailing_30d_spend
      FROM orders
      ORDER BY o_custkey ASC NULLS LAST, o_orderkey ASC NULLS LAST"""

  private val q24 = Demo("q24_range_frame", Some(rangeFrameText),
    (s, dir, _) => {
      Tables.table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(rangeFrameText)
    })

  // -------------------------------------------------------------------
  // Q25: MEDIAN + DETERMINISTIC MODE per group — median as interpolated
  // p50 over integer cents (the x9b bit-identical law); mode pinned
  // deterministically as "min value among the max-count values" (both
  // engines' native mode() breaks frequency ties arbitrarily, so the
  // demo encodes the tiebreak explicitly — two combinable aggregations,
  // no window over the raw rows).
  // -------------------------------------------------------------------
  private val q25 = Demo("q25_median_mode", Some("""
      WITH c AS (SELECT o_orderpriority, o_orderstatus,
                        cast(round(o_totalprice * 100) AS bigint) AS cents
                 FROM orders),
      vc AS (SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
             FROM c GROUP BY 1, 2),
      vm AS (SELECT o_orderpriority, o_orderstatus, cnt,
                    max(cnt) OVER (PARTITION BY o_orderpriority) AS mx
             FROM vc),
      md AS (SELECT o_orderpriority, min(o_orderstatus) AS mode_status
             FROM vm WHERE cnt = mx GROUP BY 1),
      me AS (SELECT o_orderpriority,
                    quantile_cont(cents, 0.5) / 100 AS median_price
             FROM c GROUP BY 1)
      SELECT o_orderpriority, median_price, mode_status
      FROM me JOIN md USING (o_orderpriority)
      ORDER BY o_orderpriority ASC NULLS LAST"""),
    (s, dir, _) => {
      val c = t(s, dir, "orders").select(col("o_orderpriority"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val me = c.groupBy(col("o_orderpriority"))
        .agg((expr("percentile(cents, 0.5)") / 100).as("median_price"))
      val md = c.groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("mx",
          max(col("cnt")).over(Window.partitionBy(col("o_orderpriority"))))
        .filter(col("cnt") === col("mx"))
        .groupBy(col("o_orderpriority"))
        .agg(min(col("o_orderstatus")).as("mode_status"))
      me.join(md, "o_orderpriority")
        .orderBy(col("o_orderpriority").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q26: REGEXP surface — extract / replace / rlike over order comments
  // (patterns restricted to character classes + quantifiers, the subset
  // where Java regex and DuckDB's RE2 agree; both engines yield '' for a
  // no-match extract). Narrow codegen'd projections over the scan.
  // -------------------------------------------------------------------
  private val q26 = Demo("q26_regexp_funcs", Some("""
      SELECT doc_id,
             regexp_extract(text, '([a-z]{8,})', 1) AS first_long_word,
             regexp_replace(text, '[0-9]+', '#', 'g') AS masked_digits,
             CASE WHEN regexp_matches(text, '[Tt]he') THEN 1 ELSE 0 END AS has_the
      FROM documents
      WHERE doc_id <= 500
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => t(s, dir, "documents")
      .filter(col("doc_id") <= 500)
      .select(col("doc_id"),
        regexp_extract(col("text"), "([a-z]{8,})", 1).as("first_long_word"),
        regexp_replace(col("text"), "[0-9]+", "#").as("masked_digits"),
        when(col("text").rlike("[Tt]he"), lit(1)).otherwise(lit(0))
          .as("has_the"))
      .orderBy(col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // Q27: STRING-FUNCTION surface — case/pad/trim/slice/translate/
  // levenshtein composite over customer names; every function is a
  // deterministic character-level operation both engines define
  // identically. Narrow projection; the levenshtein argument is a
  // constant so the comparison is a per-row scalar, not a join.
  // -------------------------------------------------------------------
  private val q27 = Demo("q27_string_funcs", Some("""
      SELECT c_custkey,
             upper(c_name) AS up_name,
             lpad(cast(c_custkey AS varchar), 12, '0') AS padded_key,
             substr(c_name, 1, 8) AS name_prefix,
             translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lowvowel,
             levenshtein(c_mktsegment, 'BUILDING') AS seg_dist,
             length(trim(c_name)) AS name_len
      FROM customer
      WHERE c_custkey <= 500
      ORDER BY c_custkey ASC NULLS LAST"""),
    (s, dir, _) => t(s, dir, "customer")
      .filter(col("c_custkey") <= 500)
      .select(col("c_custkey"),
        upper(col("c_name")).as("up_name"),
        lpad(col("c_custkey").cast("string"), 12, "0").as("padded_key"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_lowvowel"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).as("seg_dist"),
        length(trim(col("c_name"))).as("name_len"))
      .orderBy(col("c_custkey").asc_nulls_last))

  // -------------------------------------------------------------------
  // Q28: RANKING-FUNCTION FAMILY — ntile / percent_rank / cume_dist over
  // a UNIQUE order (totalprice, orderkey tiebreak: rank-based functions
  // are only engine-portable under a total order), plus dense_rank over
  // a genuinely tied key (order month) to exercise tie semantics. All
  // four share one Window partitioning → a single exchange + sort pass.
  // percent_rank/cume_dist are exact integer ratios → bit-identical
  // doubles on both engines.
  // -------------------------------------------------------------------
  private val q28 = Demo("q28_rank_family", Some("""
      SELECT o_orderkey, o_orderpriority,
             cast(ntile(4) OVER w AS bigint) AS quartile,
             percent_rank() OVER w AS pct_rank,
             cume_dist() OVER w AS cum_dist,
             cast(dense_rank() OVER (PARTITION BY o_orderpriority
                    ORDER BY date_trunc('month', o_orderdate))
                  AS bigint) AS month_rank
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice ASC, o_orderkey ASC)
      ORDER BY o_orderkey ASC NULLS LAST"""),
    (s, dir, _) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      val wm = Window.partitionBy(col("o_orderpriority"))
        .orderBy(date_trunc("month", col("o_orderdate")))
      Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).cast(LongType).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cum_dist"),
          dense_rank().over(wm).cast(LongType).as("month_rank"))
        .orderBy(col("o_orderkey").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q29: RECURSIVE CTE — a calendar month spine generated by WITH
  // RECURSIVE (Spark 4's recursive-CTE surface), left-joined to monthly
  // urgent-order revenue: the gap-filled-time-series idiom every
  // reporting layer needs (months with no orders appear as 0 rows, not
  // holes). ONE SQL text drives both engines (q11/q21 pattern). The
  // recursion depth is the month count — driver-side plan unrolling of a
  // tiny spine, joined to the distributed aggregate; the fact-side scan
  // and agg shuffle are unchanged at any scale.
  // -------------------------------------------------------------------
  private val recursiveCteText = """
      WITH RECURSIVE spine(mon) AS (
        SELECT cast('1995-01-01' AS date)
        UNION ALL
        SELECT cast(mon + INTERVAL 1 MONTH AS date) FROM spine
        WHERE mon < cast('2001-08-01' AS date)
      )
      SELECT s.mon,
             coalesce(r.n_orders, 0) AS n_orders,
             coalesce(r.revenue, 0.0e0) AS revenue
      FROM spine s
      LEFT JOIN (
        SELECT cast(date_trunc('month', o_orderdate) AS date) AS mon,
               count(*) AS n_orders,
               cast(cast(sum(cast(o_totalprice AS decimal(18,2)))
                    AS decimal(18,2)) AS double) AS revenue
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY 1) r ON s.mon = r.mon
      ORDER BY s.mon ASC NULLS LAST"""

  private val q29 = Demo("q29_recursive_cte", Some(recursiveCteText),
    (s, dir, _) => {
      Tables.table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(recursiveCteText)
    })

  // -------------------------------------------------------------------
  // Q30: ARRAY-FUNCTION SURFACE — the collection verbs (size, distinct,
  // slice, element access, sort, contains, join-to-string) exercised
  // over tokenized documents; Spark array_* ≡ DuckDB list_* modulo
  // naming. Array-valued outputs are joined to strings so the oracle
  // hash stays scalar. Narrow codegen projections — no shuffle except
  // the output sort.
  // -------------------------------------------------------------------
  private val q30 = Demo("q30_array_funcs", Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      SELECT doc_id,
             cast(len(toks) AS bigint) AS n_toks,
             cast(len(list_distinct(toks)) AS bigint) AS n_distinct,
             array_to_string(toks[1:3], ' ') AS first3,
             toks[-1] AS last_tok,
             array_to_string(list_sort(list_distinct(toks))[1:5], ' ') AS sorted5,
             list_contains(toks, 'the') AS has_the
      FROM tok
      ORDER BY doc_id ASC NULLS LAST"""),
    (s, dir, _) => Tables.table(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_toks"),
        size(array_distinct(col("toks"))).cast(LongType).as("n_distinct"),
        array_join(slice(col("toks"), 1, 3), " ").as("first3"),
        element_at(col("toks"), -1).as("last_tok"),
        array_join(slice(sort_array(array_distinct(col("toks"))), 1, 5), " ")
          .as("sorted5"),
        array_contains(col("toks"), "the").as("has_the"))
      .orderBy(col("doc_id").asc_nulls_last))

  // -------------------------------------------------------------------
  // Q31: SAFE-CAST / GUARDED-ARITHMETIC SURFACE — try_cast (bad input →
  // NULL, never an exception: the ingest posture for dirty data) and the
  // nullif division guard; ONE shared SQL text on both engines.
  // -------------------------------------------------------------------
  private val tryCastText = """
      SELECT c_custkey,
             try_cast(CASE WHEN c_custkey % 2 = 0
                           THEN cast(c_custkey AS varchar(20))
                           ELSE c_name END AS bigint) AS maybe_key,
             try_cast(c_mktsegment AS double) AS not_a_number,
             c_acctbal / nullif(cast(c_custkey % 3 AS double), 0.0e0) AS safe_div
      FROM customer
      WHERE c_custkey <= 1000
      ORDER BY c_custkey ASC NULLS LAST"""

  private val q31 = Demo("q31_try_cast", Some(tryCastText),
    (s, dir, _) => {
      Tables.table(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(tryCastText)
    })

  // -------------------------------------------------------------------
  // Q32: DATE-FUNCTION SURFACE — the calendar verbs every reporting
  // model leans on (year/month/quarter/day extraction, month-end, date
  // offset, day difference), pinned over the engine-portable subset
  // (week-of-year and day-of-week numbering differ between engines and
  // are deliberately excluded). Narrow codegen projections.
  // -------------------------------------------------------------------
  private val q32 = Demo("q32_date_funcs", Some("""
      SELECT o_orderkey,
             cast(o_orderdate AS date) AS od,
             cast(extract(year FROM o_orderdate) AS bigint) AS yr,
             cast(extract(month FROM o_orderdate) AS bigint) AS mo,
             cast(extract(quarter FROM o_orderdate) AS bigint) AS qtr,
             cast(extract(day FROM o_orderdate) AS bigint) AS dom,
             last_day(cast(o_orderdate AS date)) AS eom,
             cast(cast(o_orderdate AS date) + INTERVAL 30 DAY AS date) AS plus30,
             cast(date_diff('day', DATE '1995-01-01',
                            cast(o_orderdate AS date)) AS bigint) AS days_in
      FROM orders
      WHERE o_orderkey <= 2000
      ORDER BY o_orderkey ASC NULLS LAST"""),
    (s, dir, _) => {
      val od = col("o_orderdate").cast(DateType)
      Tables.table(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          od.as("od"),
          year(od).cast(LongType).as("yr"),
          month(od).cast(LongType).as("mo"),
          quarter(od).cast(LongType).as("qtr"),
          dayofmonth(od).cast(LongType).as("dom"),
          last_day(od).as("eom"),
          date_add(od, 30).as("plus30"),
          datediff(od, lit(java.sql.Date.valueOf("1995-01-01")))
            .cast(LongType).as("days_in"))
        .orderBy(col("o_orderkey").asc_nulls_last)
    })

  val all: Seq[Demo] =
    Seq(q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24, q25,
      q26, q27, q28, q29, q30, q31, q32, x9c)
}
