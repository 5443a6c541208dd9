package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** One named demonstrator per reference operator (SURVEY.md §2A), phrased
  * over the harness TPC-H-ish tables, each structurally identical to its
  * reference site, with a DuckDB oracle for the driver's t2 hash-compare.
  *
  * Determinism conventions (SURVEY §7.4):
  *  - every query ends in a total ORDER BY with explicit NULLS ordering,
  *    pinned identically in the oracle SQL (Spark asc = NULLS FIRST but
  *    DuckDB asc = NULLS LAST, so never rely on defaults);
  *  - money sums go through DECIMAL(18,2) (exact, associative — immune to
  *    partial-aggregation order), are narrowed back to DECIMAL(18,2) because
  *    Spark widens sum(DECIMAL(18,2)) to (28,2) while DuckDB widens to (38,2),
  *    and the FINAL projection casts the exact decimal to DOUBLE on both
  *    engines — the driver's hash canonicalizes parquet DECIMAL and DuckDB
  *    DECIMAL differently (round-1 verdict), while one correctly-rounded
  *    decimal→double cast of the same exact value is bit-identical;
  *  - raw DOUBLE outputs are rounded (both engines round half-away-from-zero
  *    for positive doubles).
  *
  * Scale notes per query in the scaladoc of each builder.
  */
object RelationalDemos {

  /** A named demonstrator: Spark builder (cutting into the scope its
    * caller closes) + equivalent DuckDB oracle SQL.
    */
  final case class Demo(
      name: String,
      oracle: Option[String],
      build: (SparkSession, String, graft.Checkpoints.Scope) => DataFrame)

  private val dec2 = DecimalType(18, 2)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** month bucketing: `{{ date_trunc('month', c) }}` analog (reference:
    * models/marts/agg_monthly_loans.sql:11,23), TIMESTAMP in → DATE out.
    */
  private def monthOf(c: org.apache.spark.sql.Column) =
    date_trunc("month", c).cast(DateType)

  val all: Seq[Demo] = Seq(

    // ----- A1-A5 + F7 + O1: multi-key hash agg with count(distinct), sum,
    // avg over month buckets (reference: agg_monthly_loans.sql:9-18).
    // Scale: two-phase hash agg, shuffle only on (month, priority) — ~100s
    // of groups regardless of input rows, so the reduce side is trivial at
    // any SF; the global sort is on the tiny aggregate.
    Demo("q01_monthly_agg", Some("""
      SELECT cast(date_trunc('month', o_orderdate) AS date) AS month,
             o_orderpriority,
             count(DISTINCT o_orderkey) AS n_orders,
             cast(cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS double) AS total_price,
             cast(cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS double)
               / count(*) AS avg_price
      FROM orders
      GROUP BY 1, 2
      ORDER BY month DESC NULLS LAST, o_orderpriority ASC NULLS LAST"""),
      (s, dir, _) => t(s, dir, "orders")
        .groupBy(
          monthOf(col("o_orderdate")).as("month"),
          col("o_orderpriority"))
        .agg(
          countDistinct(col("o_orderkey")).as("n_orders"),
          // exact decimal sum; final DOUBLE cast because the driver's hash
          // canonicalizes Spark-parquet DECIMAL and DuckDB DECIMAL
          // differently (round-1 verdict) — one correctly-rounded cast of
          // the SAME exact decimal is bit-identical on both engines.
          sum(col("o_totalprice").cast(dec2)).cast(dec2).cast(DoubleType)
            .as("total_price"),
          // avg derived from the EXACT decimal sum, not avg(double):
          // double accumulation order differs between engines, and rounding
          // a double diverges at decimal ties because Spark rounds the
          // shortest decimal repr while DuckDB rounds the binary value.
          // exact-decimal-sum → double → one IEEE division = deterministic.
          (sum(col("o_totalprice").cast(dec2)).cast(dec2).cast(DoubleType)
            / count(lit(1))).as("avg_price"))
        .orderBy(col("month").desc_nulls_last, col("o_orderpriority").asc_nulls_last)),

    // ----- J1 + P2 + P4 + F3: filtered fact ⟕ broadcast dim with derived
    // rounded metric (reference: fct_loan_details.sql:34-36 + :23-33 shape).
    // Scale: part is the small side → broadcast hash join, zero shuffle of
    // the fact; the l_quantity filter is pushed to the parquet scan.
    // Bench note (r3 outlier, 7.96 s): isolated at sf0.1 this runs
    // 1.4-1.8 s vs q10's ~0.95 s — the r3 number was session warmup
    // (codegen + broadcast machinery) landing on whichever query the
    // nondeterministic hash-Map iteration put first; fixed by the
    // declared-order ListMap in SparkEntry. The honest steady-state gap
    // vs q10 is the broadcast build + the 5-column range sort.
    Demo("q02_dim_join", Some("""
      SELECT l_orderkey, l_linenumber, p_brand, p_type,
             cast(cast(round(cast(l_extendedprice AS decimal(18,2))
                             * (1 - cast(l_discount AS decimal(18,2))), 2)
                       AS decimal(18,2)) AS double) AS net_price
      FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
      WHERE l_quantity > 45
      ORDER BY l_orderkey ASC NULLS LAST, l_linenumber ASC NULLS LAST,
               net_price ASC NULLS LAST, p_brand ASC NULLS LAST,
               p_type ASC NULLS LAST"""),
      (s, dir, _) => t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45)
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"), "left")
        .select(
          col("l_orderkey"), col("l_linenumber"), col("p_brand"), col("p_type"),
          // exact decimal arithmetic end-to-end: rounding a DOUBLE product
          // diverges between engines at decimal ties (e.g. x.815)
          round(col("l_extendedprice").cast(dec2)
            * (lit(1) - col("l_discount").cast(dec2)), 2)
            .cast(dec2).cast(DoubleType).as("net_price"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // total order needs every output column (SURVEY §7.4.5)
        .orderBy(col("l_orderkey").asc_nulls_last, col("l_linenumber").asc_nulls_last,
          col("net_price").asc_nulls_last, col("p_brand").asc_nulls_last,
          col("p_type").asc_nulls_last)),

    // ----- J2 + F6 + F7: full outer of two monthly aggregates at different
    // grains with coalesce zero-fill (reference: agg_monthly_loans.sql:32-47).
    // Scale: both inputs pre-aggregate to ~100 rows before the join — the
    // full outer (which cannot broadcast) touches only aggregate-grain data.
    Demo("q03_full_outer_monthly", Some("""
      WITH om AS (
        SELECT cast(date_trunc('month', o_orderdate) AS date) AS month,
               count(*) AS n_orders,
               cast(sum(cast(o_totalprice AS decimal(18,2))) AS decimal(18,2)) AS order_value
        FROM orders GROUP BY 1),
      lm AS (
        SELECT cast(date_trunc('month', l_shipdate) AS date) AS month,
               count(*) AS n_shipments,
               cast(sum(cast(l_quantity AS decimal(18,2))) AS decimal(18,2)) AS qty_shipped
        FROM lineitem GROUP BY 1)
      SELECT coalesce(om.month, lm.month) AS month,
             coalesce(n_orders, 0) AS n_orders,
             cast(cast(coalesce(order_value, 0) AS decimal(18,2)) AS double) AS order_value,
             coalesce(n_shipments, 0) AS n_shipments,
             cast(cast(coalesce(qty_shipped, 0) AS decimal(18,2)) AS double) AS qty_shipped
      FROM om FULL OUTER JOIN lm ON om.month = lm.month
      ORDER BY month ASC NULLS LAST"""),
      (s, dir, _) => {
        val om = t(s, dir, "orders")
          .groupBy(monthOf(col("o_orderdate")).as("month"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(dec2)).cast(dec2).as("order_value"))
        val lm = t(s, dir, "lineitem")
          .groupBy(monthOf(col("l_shipdate")).as("month"))
          .agg(count(lit(1)).as("n_shipments"),
            sum(col("l_quantity").cast(dec2)).cast(dec2).as("qty_shipped"))
        om.alias("om")
          .join(lm.alias("lm"), col("om.month") === col("lm.month"), "full_outer")
          .select(
            coalesce(col("om.month"), col("lm.month")).as("month"),
            coalesce(col("n_orders"), lit(0)).as("n_orders"),
            coalesce(col("order_value"), lit(0)).cast(dec2).cast(DoubleType)
              .as("order_value"),
            coalesce(col("n_shipments"), lit(0)).as("n_shipments"),
            coalesce(col("qty_shipped"), lit(0)).cast(dec2).cast(DoubleType)
              .as("qty_shipped"))
          .orderBy(col("month").asc_nulls_last)
      }),

    // ----- J3 + J4: the reference's fan-out anti-pattern, faithfully —
    // aggregate-grain ⟕ detail-grain on a non-unique key (reference:
    // agg_monthly_loans.sql:48-49; docs/bug-analysis.md:69-98). Each nation
    // aggregate row multiplies by that nation's supplier count.
    // Scale: kept on the small dimension side deliberately — at 100 TB this
    // pattern on a fact table is an incident, which is the reference doc's
    // thesis; the lint for it is FanoutLint (graft.plans).
    Demo("q04_fanout_join", Some("""
      WITH agg AS (
        SELECT c_nationkey,
               count(DISTINCT c_custkey) AS n_customers,
               cast(cast(sum(cast(c_acctbal AS decimal(18,2))) AS decimal(18,2)) AS double) AS total_acctbal
        FROM customer GROUP BY 1)
      SELECT agg.c_nationkey AS nationkey, n_customers, total_acctbal,
             s.s_suppkey, s.s_name
      FROM agg LEFT JOIN supplier s ON agg.c_nationkey = s.s_nationkey
      ORDER BY nationkey ASC NULLS LAST, s_suppkey ASC NULLS LAST"""),
      (s, dir, _) => t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          countDistinct(col("c_custkey")).as("n_customers"),
          sum(col("c_acctbal").cast(dec2)).cast(dec2).cast(DoubleType)
            .as("total_acctbal"))
        .alias("agg")
        .join(t(s, dir, "supplier").alias("s"),
          col("agg.c_nationkey") === col("s.s_nationkey"), "left")
        .select(
          col("agg.c_nationkey").as("nationkey"),
          col("n_customers"), col("total_acctbal"),
          col("s.s_suppkey"), col("s.s_name"))
        .orderBy(col("nationkey").asc_nulls_last, col("s_suppkey").asc_nulls_last)),

    // ----- P3 + P4 + F2 + F4 + F5 + F3: guarded CASE, numeric cast, power,
    // annuity-shaped arithmetic (reference: fct_loan_details.sql:23-33).
    // Scale: pure narrow projection — whole-stage codegen over the scan.
    Demo("q05_case_math", Some("""
      SELECT o_orderkey,
             cast(o_orderstatus AS varchar) AS status,
             cast(cast(o_totalprice AS decimal(18,3)) AS double) AS price_numeric,
             CASE WHEN o_totalprice > 200000
                  THEN cast(cast(round(cast(o_totalprice AS decimal(18,2)) * 0.067, 2)
                                 AS decimal(18,2)) AS double)
                  ELSE NULL END AS big_order_fee,
             round(o_totalprice * (0.05/12) * power(1 + 0.05/12, 36)
                   / (power(1 + 0.05/12, 36) - 1), 2) AS annuity_36m
      FROM orders
      ORDER BY o_orderkey ASC NULLS LAST, price_numeric ASC NULLS LAST,
               status ASC NULLS LAST"""),
      (s, dir, _) => {
        val r = lit(0.05) / lit(12)
        val growth = pow(lit(1) + r, lit(36))
        t(s, dir, "orders").select(
          col("o_orderkey"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").cast(DecimalType(18, 3)).cast(DoubleType)
            .as("price_numeric"),
          when(col("o_totalprice") > 200000,
            round(col("o_totalprice").cast(dec2) * lit(BigDecimal("0.067")), 2)
              .cast(dec2).cast(DoubleType))
            .otherwise(lit(null)).as("big_order_fee"),
          round(col("o_totalprice") * r * growth / (growth - lit(1)), 2)
            .as("annuity_36m"))
          // total order even if o_orderkey ever stops being unique
          // (SURVEY §7.4.5); the extra keys determine the derived columns
          .orderBy(col("o_orderkey").asc_nulls_last,
            col("price_numeric").asc_nulls_last, col("status").asc_nulls_last)
      }),

    // ----- P5 + F7: SELECT DISTINCT grain extraction (reference:
    // docs/bug-analysis.md:141-150). Scale: distinct = hash agg on the pair;
    // output is bounded by #months × #priorities.
    Demo("q06_distinct_grain", Some("""
      SELECT DISTINCT cast(date_trunc('month', o_orderdate) AS date) AS month,
                      o_orderpriority
      FROM orders
      ORDER BY month ASC NULLS LAST, o_orderpriority ASC NULLS LAST"""),
      (s, dir, _) => t(s, dir, "orders")
        .select(monthOf(col("o_orderdate")).as("month"), col("o_orderpriority"))
        .distinct()
        .orderBy(col("month").asc_nulls_last, col("o_orderpriority").asc_nulls_last)),

    // ----- P6 + A6: HAVING on an aggregate (reference:
    // docs/bug-analysis.md:151-156 HAVING shape).
    Demo("q07_having", Some("""
      SELECT o_orderpriority, count(*) AS n
      FROM orders
      GROUP BY 1
      HAVING count(*) > 100
      ORDER BY o_orderpriority ASC NULLS LAST"""),
      (s, dir, _) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 100)
        .orderBy(col("o_orderpriority").asc_nulls_last)),

    // ----- A7 + M3: the reference's grain-invariant data-quality test,
    // verbatim shape — scalar subquery counts compared with HAVING
    // (reference: docs/bug-analysis.md:139-157). Empty result = pass.
    // Spark side stays declarative: two 1-row aggregates cross-joined.
    Demo("q08_grain_test", Some("""
      WITH expected_months AS (
        SELECT DISTINCT cast(date_trunc('month', o_orderdate) AS date) AS month,
                        o_orderpriority
        FROM orders),
      actual_months AS (
        SELECT DISTINCT month, o_orderpriority
        FROM (SELECT cast(date_trunc('month', o_orderdate) AS date) AS month,
                     o_orderpriority, count(*) AS n
              FROM orders GROUP BY 1, 2))
      SELECT count(*) AS expected_rows,
             (SELECT count(*) FROM actual_months) AS actual_rows,
             (SELECT count(*) FROM actual_months) - count(*) AS extra_rows
      FROM expected_months
      HAVING (SELECT count(*) FROM actual_months) != count(*)"""),
      (s, dir, _) => {
        val orders = t(s, dir, "orders")
        val expected = orders
          .select(monthOf(col("o_orderdate")).as("month"), col("o_orderpriority"))
          .distinct()
          .agg(count(lit(1)).as("expected_rows"))
        val actual = orders
          .groupBy(monthOf(col("o_orderdate")).as("month"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
          .select(col("month"), col("o_orderpriority")).distinct()
          .agg(count(lit(1)).as("actual_rows"))
        expected.crossJoin(actual)
          .select(col("expected_rows"), col("actual_rows"),
            (col("actual_rows") - col("expected_rows")).as("extra_rows"))
          .filter(col("actual_rows") =!= col("expected_rows"))
      }),

    // ----- P1 + S2: SELECT * passthrough over a registered relation
    // (reference: stg_loans.sql:1-3 CTE shape).
    Demo("q09_select_star", Some("""
      SELECT * FROM region ORDER BY r_regionkey ASC NULLS LAST"""),
      (s, dir, _) => t(s, dir, "region")
        .orderBy(col("r_regionkey").asc_nulls_last)),

    // ----- O1: dedicated multi-key mixed-direction global sort (reference:
    // agg_monthly_loans.sql:53). Scale: range-partitioned exchange + local
    // sort; output grain = input grain, so only demo-sized here.
    Demo("q10_sort_mixed", Some("""
      SELECT o_orderkey, cast(o_orderdate AS date) AS order_date, o_orderpriority
      FROM orders
      ORDER BY order_date DESC NULLS LAST, o_orderkey ASC NULLS LAST,
               o_orderpriority ASC NULLS LAST"""),
      (s, dir, _) => t(s, dir, "orders")
        .select(col("o_orderkey"),
          col("o_orderdate").cast(DateType).as("order_date"),
          col("o_orderpriority"))
        .orderBy(col("order_date").desc_nulls_last, col("o_orderkey").asc_nulls_last,
          col("o_orderpriority").asc_nulls_last)),

    // ----- S2/S3 + SQL surface: the same engine drives plain Spark SQL
    // over registered temp views (the dbt-model authoring mode) — one
    // Catalyst plan regardless of entry API. CTE + join + agg + sort in
    // a single spark.sql text that is ALSO the oracle, verbatim.
    Demo("q11_sql_surface", Some(sqlSurfaceText),
      (s, dir, _) => {
        // register only the relations the query names (registerAll would
        // also open events and flip its nanos legacy conf needlessly)
        Seq("nation", "region").foreach(n =>
          Tables.table(s, dir, n).createOrReplaceTempView(n))
        s.sql(sqlSurfaceText)
      }))

  /** Shared Spark-SQL/DuckDB text for q11 (both engines parse it as-is —
    * the S2 relation names come from Tables.registerAll's temp views).
    * A def, not a val: `all` above references it during object init.
    */
  private def sqlSurfaceText: String = """
      WITH rn AS (
        SELECT n_nationkey, n_name, r_name
        FROM nation JOIN region ON n_regionkey = r_regionkey)
      SELECT r_name,
             count(*) AS n_nations,
             count(DISTINCT substr(n_name, 1, 1)) AS initials
      FROM rn
      GROUP BY r_name
      ORDER BY r_name ASC NULLS LAST"""
}
