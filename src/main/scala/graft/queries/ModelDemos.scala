package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.models.{Incremental, Snapshot}
import graft.queries.RelationalDemos.Demo
import graft.sources.Tables

/** Oracle-verified demonstrators for the dbt materialization machinery in
  * `graft.models`: the SCD2 snapshot ([[Snapshot]]) and the incremental
  * materialization ([[Incremental]]). Both run the REAL iterative
  * machinery — successive snapshot/incremental runs over time-sliced
  * source data — and the DuckDB oracle replays the same history
  * declaratively, so the driver's hash compare proves
  * "incremental == full recompute", the invariant that matters in
  * production.
  */
object ModelDemos {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  private val dec2 = DecimalType(18, 2)

  /** A FIXED scratch dir per demo, recursively cleared at the start of
    * each invocation — repeated Verify/Bench/spec runs reuse one tree
    * instead of littering the temp dir with abandoned parquet (the
    * harness drives queries sequentially, so the fixed name is safe).
    */
  private def freshScratchDir(name: String): String = {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_demo_$name")
    graft.sources.FsUtil.deleteTree(root)
    root.toString
  }

  // -------------------------------------------------------------------
  // X12: SCD2 SNAPSHOT — orders as a customer-state change feed
  // (status/priority of a customer's latest order), snapshotted at three
  // points in time (end-1996, end-1998, present). Each era applies one
  // real `Snapshot.timestampStrategy` merge; the oracle rebuilds the
  // same version history with windows over the full feed.
  // Scale: each run is one key-join of the OPEN slice against the deduped
  // source; closed history passes through untouched (never re-shuffled).
  // -------------------------------------------------------------------
  private val eraBounds = Seq("1997-01-01", "1999-01-01", "2002-01-01")

  private val x12 = Demo("x12_scd2_snapshot", Some("""
      WITH eras AS (
        SELECT * FROM (VALUES (1, TIMESTAMP '1997-01-01'),
                              (2, TIMESTAMP '1999-01-01'),
                              (3, TIMESTAMP '2002-01-01')) AS t(era, bound)),
      ranked AS (
        SELECT e.era, o.o_custkey, o.o_orderstatus, o.o_orderpriority, o.o_orderdate,
               row_number() OVER (PARTITION BY e.era, o.o_custkey
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM eras e JOIN orders o ON o.o_orderdate < e.bound),
      versions AS (
        SELECT era, o_custkey, o_orderstatus, o_orderpriority,
               o_orderdate AS valid_from
        FROM ranked WHERE rn = 1),
      changed AS (
        SELECT *, lag(valid_from) OVER (PARTITION BY o_custkey ORDER BY era) AS prev_from
        FROM versions),
      kept AS (
        SELECT o_custkey, o_orderstatus, o_orderpriority, valid_from
        FROM changed WHERE prev_from IS NULL OR valid_from > prev_from)
      SELECT o_custkey, o_orderstatus, o_orderpriority, valid_from,
             lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS valid_to,
             lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) IS NULL AS is_current
      FROM kept
      ORDER BY o_custkey ASC NULLS LAST, valid_from ASC NULLS LAST"""),
    (s, dir, _) => {
      val orders = t(s, dir, "orders")
      var snap: Option[DataFrame] = None
      eraBounds.foreach { bound =>
        val src = Snapshot.latestPerKey(
            orders.filter(col("o_orderdate") < to_timestamp(lit(bound))),
            Seq("o_custkey"), "o_orderdate", col("o_orderkey"))
          .select(col("o_custkey"), col("o_orderstatus"),
            col("o_orderpriority"), col("o_orderdate").as("updated_at"))
        // the eras chain lazily, with no cut between runs: each merge
        // reads its predecessor twice (closed and open slice), so the
        // final plan holds era 1 four times, and x12 runs 11 Spark jobs
        // where a cut per era makes it run 14
        snap = Some(Snapshot.timestampStrategy(
          snap, src, Seq("o_custkey"), "updated_at"))
      }
      snap.get
        .withColumn("is_current", col(Snapshot.ValidTo).isNull)
        .select(col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"),
          col(Snapshot.ValidFrom), col(Snapshot.ValidTo), col("is_current"))
        .orderBy(col("o_custkey").asc_nulls_last,
          col(Snapshot.ValidFrom).asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X13: INCREMENTAL MATERIALIZATION — daily event rollup built by three
  // real `Incremental.run` calls over ten-day arrival batches, with the
  // insert_overwrite strategy on day partitions; the LAST batch is run
  // TWICE to prove idempotent re-processing (dynamic partition overwrite
  // replaces exactly the re-run days — an append strategy would
  // double-count). The oracle is the plain full-recompute aggregate.
  // Scale: each run writes only its delta's partitions; the existing
  // table is never read or shuffled by the merge itself.
  // -------------------------------------------------------------------
  private val batches = Seq(
    ("2024-01-01", "2024-01-11"), ("2024-01-11", "2024-01-21"),
    ("2024-01-21", "2024-02-01"),
    ("2024-01-21", "2024-02-01")) // deliberate re-run: must be a no-op

  private val x13 = Demo("x13_incremental", Some("""
      SELECT cast(ts AS date) AS day, event_type,
             count(*) AS n_events,
             cast(cast(sum(cast(value AS decimal(18,2))) AS decimal(18,2)) AS double) AS total_value
      FROM events
      GROUP BY 1, 2
      ORDER BY day ASC NULLS LAST, event_type ASC NULLS LAST"""),
    (s, dir, _) => {
      val path = freshScratchDir("x13_incremental") + "/daily_events"
      val table = batches.map { case (lo, hi) =>
        Incremental.run(s, path, Incremental.InsertOverwrite(Seq("day"))) {
          (_, _) =>
            t(s, dir, "events")
              .filter(col("ts") >= to_timestamp(lit(lo)) &&
                col("ts") < to_timestamp(lit(hi)))
              .groupBy(to_date(col("ts")).as("day"), col("event_type"))
              .agg(count(lit(1)).as("n_events"),
                sum(col("value").cast(dec2)).cast(dec2).as("total_value"))
        }
      }.last
      table.select(col("day"), col("event_type"), col("n_events"),
          col("total_value").cast(DoubleType).as("total_value"))
        .orderBy(col("day").asc_nulls_last, col("event_type").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X15: dbt `source freshness` — graft.models.SourceFreshness evaluated
  // at a pinned anchor instant (2024-02-01T00:00:00Z; a wall-clock "now"
  // would be unverifiable). Three monitored sources exercise all three
  // statuses against the harness data: events is ~24h stale at the
  // anchor (pass at 72h / warn at 12h thresholds) and orders' last
  // o_orderdate is years old (error). Scale: one single-row max() agg
  // per source. Timestamps floor to whole epoch seconds on both engines
  // before any arithmetic (micros-vs-nanos physical precision would
  // otherwise leak into the hash).
  // -------------------------------------------------------------------
  private val freshnessAnchorSec = 1706745600L // 2024-02-01T00:00:00Z

  private val x15 = Demo("x15_source_freshness", Some(s"""
      WITH ev AS (SELECT max(ts) AS mx FROM events),
      od AS (SELECT max(o_orderdate) AS mx FROM orders),
      src AS (
        SELECT 'events_daily' AS source_name, epoch_us(mx) // 1000000 AS mxs,
               72 AS warn_h, 720 AS err_h FROM ev
        UNION ALL
        SELECT 'events_strict', epoch_us(mx) // 1000000, 12, 8760 FROM ev
        UNION ALL
        SELECT 'orders_snapshot', epoch_us(mx) // 1000000, 24, 96 FROM od)
      SELECT source_name,
             make_timestamp(mxs * 1000000) AS max_loaded_at,
             ($freshnessAnchorSec - mxs) // 3600 AS age_hours,
             CASE WHEN mxs IS NULL
                       OR ($freshnessAnchorSec - mxs) // 3600 >= err_h THEN 'error'
                  WHEN ($freshnessAnchorSec - mxs) // 3600 >= warn_h THEN 'warn'
                  ELSE 'pass' END AS status
      FROM src
      ORDER BY source_name ASC NULLS LAST"""),
    (s, dir, _) => {
      import graft.models.SourceFreshness
      import graft.models.SourceFreshness.Source
      val events = t(s, dir, "events")
      val orders = t(s, dir, "orders")
      SourceFreshness.check(Seq(
          Source("events_daily", events, col("ts"), 72L, 720L),
          Source("events_strict", events, col("ts"), 12L, 8760L),
          Source("orders_snapshot", orders, col("o_orderdate"), 24L, 96L)),
        freshnessAnchorSec)
        .orderBy(col("source_name").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q33: JINJA CONTROL FLOW MODEL (JinjaMacros.renderModel via SqlDag) —
  // a model authored with {% for %} over a literal list, {% if not
  // loop.first %} (the dbt union-by-segment idiom) and a user macro,
  // compiled and executed by the real SqlDag runner. The oracle is the
  // hand-unrolled SQL, so BOTH the Jinja rendering and the execution
  // are driver-checked. Driver-side work is string rendering only; the
  // query itself is three pushdown-filtered scans of orders.
  // -------------------------------------------------------------------
  private val q33Macro =
    "{% macro avg2(c) %}round(avg({{ c }}), 2){% endmacro %}"

  private val q33Model =
    "{% for s in ['F', 'O', 'P'] %}" +
      "{% if not loop.first %} union all {% endif %}" +
      "select '{{ s }}' as status, {{ avg2('o_totalprice') }} as avg_price, " +
      "count(*) as n from {{ ref('orders') }} where o_orderstatus = '{{ s }}'" +
      "{% endfor %}"

  private val q33 = Demo("q33_jinja_model", Some("""
      SELECT status, avg_price, n FROM (
        SELECT 'F' AS status, round(avg(o_totalprice), 2) AS avg_price,
               count(*) AS n FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT 'O', round(avg(o_totalprice), 2), count(*)
          FROM orders WHERE o_orderstatus = 'O'
        UNION ALL
        SELECT 'P', round(avg(o_totalprice), 2), count(*)
          FROM orders WHERE o_orderstatus = 'P')
      ORDER BY status ASC NULLS LAST"""),
    (s, dir, _) => {
      val dag = new graft.models.SqlDag(s, freshScratchDir("q33"))
      val built = dag.run(
        Seq(graft.models.SqlDag.SqlModel("q33_status_mix", q33Model)),
        seeds = Map("orders" -> t(s, dir, "orders")),
        macros = graft.models.JinjaMacros.parse(q33Macro))
      built("q33_status_mix").orderBy(col("status").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q34: PROJECT VARIABLES + {% set %} (JinjaMacros.substituteVars /
  // SetNode via SqlDag.run(vars = …)) — the dbt `--vars` CI surface:
  // `min_price` binds from the runner's vars map (a CLI override),
  // `status` falls back to its var() DEFAULT, a {% set %} carries it,
  // and the {% if %} gate compares the set binding — the everyday
  // dbt-authoring constructs. The oracle is the
  // fully-substituted SQL.
  // -------------------------------------------------------------------
  private val q34Model =
    "{% set status = var('status', 'O') %}" +
      "select o_orderpriority as priority, " +
      "round(avg(o_totalprice), 2) as avg_price, count(*) as n " +
      "from {{ ref('orders') }} " +
      "where o_totalprice >= {{ var('min_price') }}" +
      "{% if status != 'all' %} and o_orderstatus = '{{ status }}'{% endif %}" +
      " group by o_orderpriority"

  private val q34 = Demo("q34_jinja_vars", Some("""
      SELECT o_orderpriority AS priority,
             round(avg(o_totalprice), 2) AS avg_price, count(*) AS n
      FROM orders
      WHERE o_totalprice >= 1000 AND o_orderstatus = 'O'
      GROUP BY o_orderpriority
      ORDER BY priority ASC NULLS LAST"""),
    (s, dir, _) => {
      val dag = new graft.models.SqlDag(s, freshScratchDir("q34"))
      val built = dag.run(
        Seq(graft.models.SqlDag.SqlModel("q34_priced_priorities", q34Model)),
        seeds = Map("orders" -> t(s, dir, "orders")),
        vars = Map("min_price" -> "1000"))
      built("q34_priced_priorities").orderBy(col("priority").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q35: JINJA FILTERS on var prints (JinjaMacros.applyFilters via
  // substituteVars) — the dbt-authoring construct that transforms a
  // var print: `| trim | upper` normalizes a sloppily-entered
  // status var (through the var() DEFAULT path), `| replace | upper`
  // canonicalizes a priority prefix passed as a CLI override. Filters
  // are whole-span string transforms applied at render time; the
  // oracle is the fully-substituted SQL.
  // -------------------------------------------------------------------
  private val q35Model =
    "select o_orderpriority as priority, count(*) as n " +
      "from {{ ref('orders') }} " +
      "where o_orderstatus = '{{ var(\"status_raw\", \"  o \") | trim | upper }}'" +
      " and o_orderpriority like" +
      " '{{ var(\"prio_prefix\") | replace (\"%\", \"\") | upper }}%'" +
      // `| default` fires only for an UNDEFINED var with no var()
      // default (dbt precedence) — status_excl is never passed, so
      // 'x' | upper → 'X' reaches the SQL. The space in `replace (…)`
      // above pins that Jinja allows whitespace before a filter's
      // argument list.
      " and o_orderstatus != '{{ var(\"status_excl\") | default(\"x\") | upper }}'" +
      " group by o_orderpriority"

  private val q35 = Demo("q35_jinja_filters", Some("""
      SELECT o_orderpriority AS priority, count(*) AS n
      FROM orders
      WHERE o_orderstatus = 'O' AND o_orderpriority LIKE '1-URG%'
        AND o_orderstatus <> 'X'
      GROUP BY o_orderpriority
      ORDER BY priority ASC NULLS LAST"""),
    (s, dir, _) => {
      val dag = new graft.models.SqlDag(s, freshScratchDir("q35"))
      val built = dag.run(
        Seq(graft.models.SqlDag.SqlModel("q35_urgent_open", q35Model)),
        seeds = Map("orders" -> t(s, dir, "orders")),
        vars = Map("prio_prefix" -> "1-urg%"))
      built("q35_urgent_open").orderBy(col("priority").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q36: SEED +column_types (SeedConfig + Tables.seedCsvTyped) — dbt's
  // dbt_project.yml seed typing, end-to-end: orders is round-tripped
  // through a header CSV (the seed file a migrating project ships),
  // re-ingested with agate-style inference plus the configured
  // overrides (`o_orderdate: date`, `o_orderkey: bigint` — inference
  // alone would leave a string and an int), and aggregated off the
  // TYPED columns (date_trunc needs the date; max needs the bigint).
  // The oracle replays the same casts over the parquet table, so the
  // compare proves the CSV round trip + override typing is
  // value-exact. Scale: seeds are small by dbt's definition — the CSV
  // write is a demo fixture, not a data path.
  // -------------------------------------------------------------------
  private val q36ProjectYml =
    """seeds:
      |  demo_project:
      |    +column_types:
      |      o_orderkey: bigint
      |    orders_seed:
      |      +column_types:
      |        o_orderdate: date
      |""".stripMargin

  private val q36 = Demo("q36_seed_column_types", Some("""
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
             count(*) AS n, round(sum(o_totalprice), 2) AS total,
             CAST(max(o_orderkey) AS BIGINT) AS max_key
      FROM orders
      GROUP BY 1
      ORDER BY month ASC NULLS LAST"""),
    (s, dir, _) => {
      val scratch = freshScratchDir("q36")
      val csvDir = s"$scratch/orders_seed"
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"))
        .coalesce(1)
        .write.option("header", "true").csv(csvDir)
      val typed = Tables.seedCsvTyped(s, csvDir,
        graft.models.SeedConfig.columnTypes(q36ProjectYml, "orders_seed"))
      typed
        .groupBy(trunc(col("o_orderdate"), "month").as("month"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("month").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q37: EXPOSURE-DRIVEN RUN (`+exposure:` — SchemaConfig.exposures +
  // SqlDag selection) — dbt's "build everything this dashboard reads"
  // CI idiom. The project declares three models; the ops_dashboard
  // exposure depends only on priority_daily, so
  // `run(select = +exposure:ops_dashboard)` builds the
  // orders_enriched → priority_daily chain and SKIPS region_names
  // (whose ref would fail if it ran against an empty catalog entry —
  // the returned map simply omits it). The oracle replays the selected
  // chain's SQL composed by hand.
  // -------------------------------------------------------------------
  private val q37ExposuresYml =
    """version: 2
      |exposures:
      |  - name: ops_dashboard
      |    type: dashboard
      |    maturity: high
      |    url: https://bi.example.com/ops
      |    owner:
      |      name: Ops Analytics
      |      email: ops@example.com
      |    depends_on:
      |      - ref('priority_daily')
      |""".stripMargin

  private val q37 = Demo("q37_exposure_select", Some("""
      WITH orders_enriched AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(o_orderdate AS DATE) AS order_date
        FROM orders WHERE o_orderstatus <> 'F'),
      priority_daily AS (
        SELECT o_orderpriority AS priority,
               CAST(date_trunc('month', order_date) AS DATE) AS month,
               count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
        FROM orders_enriched GROUP BY 1, 2)
      SELECT priority, month, n, avg_price FROM priority_daily
      ORDER BY priority ASC NULLS LAST, month ASC NULLS LAST"""),
    (s, dir, _) => {
      val models = Seq(
        graft.models.SqlDag.SqlModel("orders_enriched",
          "select o_orderkey, o_orderpriority, o_totalprice, " +
            "cast(o_orderdate as date) as order_date " +
            "from {{ ref('orders') }} where o_orderstatus <> 'F'"),
        graft.models.SqlDag.SqlModel("priority_daily",
          "select o_orderpriority as priority, " +
            "cast(date_trunc('month', order_date) as date) as month, " +
            "count(*) as n, round(avg(o_totalprice), 2) as avg_price " +
            "from {{ ref('orders_enriched') }} group by 1, 2"),
        // outside the exposure's upstream — selection must skip it
        graft.models.SqlDag.SqlModel("region_names",
          "select r_name from {{ ref('region') }}"))
      val dag = new graft.models.SqlDag(s, freshScratchDir("q37"))
      val built = dag.run(models,
        seeds = Map("orders" -> t(s, dir, "orders"),
          "region" -> t(s, dir, "region")),
        select = Seq("+exposure:ops_dashboard"),
        exposures = graft.models.SchemaConfig.exposures(q37ExposuresYml))
      require(!built.contains("region_names"),
        "exposure selection built a model outside the dashboard's upstream")
      built("priority_daily")
        .orderBy(col("priority").asc_nulls_last, col("month").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q38: METRICS NODE (`metrics:` YAML + Metrics.calculate) — dbt's
  // v1.3 semantic-layer surface: a revenue metric DECLARED in YAML
  // (sum of o_totalprice at declared grains/dimensions, filtered to
  // open orders) over a SqlDag-built model, computed with dbt's
  // calculate(grain, dimensions) contract. The oracle replays the
  // model SQL + the metric rollup by hand; the round(…, 2) shaping on
  // both sides absorbs float-sum ordering, as in every sum(double)
  // demo. Scale: one (period, dim) shuffle with partial aggregation;
  // the status filter sits under it.
  // -------------------------------------------------------------------
  private val q38MetricsYml =
    """version: 2
      |metrics:
      |  - name: revenue
      |    label: Open-order revenue
      |    model: ref('orders_enriched_m')
      |    calculation_method: sum
      |    expression: o_totalprice
      |    timestamp: order_date
      |    time_grains: [day, month, year]
      |    dimensions: [priority]
      |    filters:
      |      - field: o_orderstatus
      |        operator: '='
      |        value: "'O'"
      |""".stripMargin

  private val q38 = Demo("q38_metric_calculate", Some("""
      WITH orders_enriched_m AS (
        SELECT o_orderpriority AS priority, o_totalprice, o_orderstatus,
               CAST(o_orderdate AS DATE) AS order_date
        FROM orders)
      SELECT CAST(date_trunc('month', order_date) AS DATE) AS period,
             priority, round(sum(o_totalprice), 2) AS revenue
      FROM orders_enriched_m
      WHERE o_orderstatus = 'O'
      GROUP BY 1, 2
      ORDER BY period ASC NULLS LAST, priority ASC NULLS LAST"""),
    (s, dir, _) => {
      val dag = new graft.models.SqlDag(s, freshScratchDir("q38"))
      val built = dag.run(
        Seq(graft.models.SqlDag.SqlModel("orders_enriched_m",
          "select o_orderpriority as priority, o_totalprice, " +
            "o_orderstatus, cast(o_orderdate as date) as order_date " +
            "from {{ ref('orders') }}")),
        seeds = Map("orders" -> t(s, dir, "orders")))
      val metric = graft.models.Metrics.metrics(q38MetricsYml)
        .find(_.name == "revenue").get
      graft.models.Metrics
        .calculate(built(metric.model), metric, grain = "month",
          dimensions = Seq("priority"))
        .withColumn("revenue", round(col("revenue"), 2))
        .orderBy(col("period").asc_nulls_last, col("priority").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q39: SOURCE RESOLUTION — dbt's `{{ source('a', 'b') }}`, the
  // staging-layer idiom the reference never exercises (its seed-only
  // project refs raw CSVs via ref(), stg_loans.sql:2 — this is
  // extension surface): a staging model reads a DECLARED source
  // relation, a mart aggregates it, and the run is SELECTED by
  // `source:warehouse+` — "build everything this source feeds" — which
  // must skip a sibling model that only reads a seed. The oracle
  // replays staging + mart as CTEs over the same orders table.
  // Scale: source resolution is driver-side name substitution; the
  // built plan is a filter → one (month) hash aggregate, the status
  // filter pushed to the scan.
  // -------------------------------------------------------------------
  private val q39 = Demo("q39_source_staging", Some("""
      WITH stg_open_orders AS (
        SELECT o_orderkey, o_totalprice,
               CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month
        FROM orders WHERE o_orderstatus = 'O'),
      monthly_open AS (
        SELECT month, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM stg_open_orders GROUP BY 1)
      SELECT month, n_orders, total FROM monthly_open
      ORDER BY month ASC NULLS LAST"""),
    (s, dir, _) => {
      val models = Seq(
        graft.models.SqlDag.SqlModel("stg_open_orders",
          "select o_orderkey, o_totalprice, " +
            "cast(date_trunc('month', cast(o_orderdate as date)) as date) " +
            "as month " +
            "from {{ source('warehouse', 'orders') }} " +
            "where o_orderstatus = 'O'"),
        graft.models.SqlDag.SqlModel("monthly_open",
          "select month, count(*) as n_orders, " +
            "round(sum(o_totalprice), 2) as total " +
            "from {{ ref('stg_open_orders') }} group by 1"),
        // seed-fed sibling, NOT downstream of the source — the
        // source:warehouse+ selection must not build it
        graft.models.SqlDag.SqlModel("nation_names",
          "select n_name from {{ ref('nation') }}"))
      val dag = new graft.models.SqlDag(s, freshScratchDir("q39"))
      val built = dag.run(models,
        seeds = Map("nation" -> t(s, dir, "nation")),
        select = Seq("source:warehouse+"),
        sources = Map(("warehouse", "orders") -> t(s, dir, "orders")))
      require(!built.contains("nation_names"),
        "source: selection built a model outside the source's downstream")
      built("monthly_open").orderBy(col("month").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q40: PROJECT-LEVEL RUN HOOKS — dbt_project.yml's `on-run-start` /
  // `on-run-end` (the reference project declares none; its README's
  // lifecycle section documents the verb surface): the start hook runs
  // ONCE before the first model and may create relations models read
  // (here an fx_rate view parameterized by a dbt var with a default);
  // the end hook runs once after the last model (here an audit summary
  // whose existence and count the demo asserts). The oracle replays the
  // model with the hook's constant inlined. Scale: hooks are eager
  // driver-side spark.sql statements — catalog work, not a data path.
  // -------------------------------------------------------------------
  private val q40 = Demo("q40_run_hooks", Some("""
      WITH priced AS (
        SELECT o_orderkey, o_totalprice * 1.1 AS gross
        FROM orders WHERE o_orderstatus = 'O')
      SELECT count(*) AS n, round(sum(gross), 2) AS total_gross
      FROM priced"""),
    (s, dir, _) => {
      val dag = new graft.models.SqlDag(s, freshScratchDir("q40"))
      // shared session: clear leftovers so the existence assertions
      // below can only be satisfied by THIS run's hooks
      s.catalog.dropTempView("fx_rate")
      s.catalog.dropTempView("run_summary")
      val built = dag.run(
        Seq(graft.models.SqlDag.SqlModel("priced",
          "select o_orderkey, " +
            "o_totalprice * (select rate from fx_rate) as gross " +
            "from {{ ref('orders') }} where o_orderstatus = 'O'")),
        seeds = Map("orders" -> t(s, dir, "orders")),
        onRunStart = Seq("create or replace temporary view fx_rate as " +
          "select {{ var('fx', '1.1') }} as rate"),
        onRunEnd = Seq("create or replace temporary view run_summary as " +
          "select count(*) as n_rows from priced"))
      require(s.catalog.tableExists("run_summary"),
        "on-run-end hook did not execute")
      require(s.table("run_summary").head().getLong(0)
        == built("priced").count(),
        "on-run-end audit row disagrees with the built model")
      built("priced")
        .agg(count(lit(1)).as("n"),
          round(sum(col("gross")), 2).as("total_gross"))
    })

  // -------------------------------------------------------------------
  // Q41: DBT_UTILS SHIMS — the de-facto standard package's most-used
  // macros (generate_surrogate_key, safe_divide) running UNCHANGED at
  // their dbt call-site spellings (bare and dbt_utils.-qualified)
  // through the real SqlDag + Jinja pipeline. The oracle replays the
  // published macro shape by hand in DuckDB — md5 over the
  // '-'-joined, null-sentineled, string-cast fields — so the surrogate
  // keys themselves (not just row counts) are hash-compared across
  // engines. Scale: compile-time expansion to codegen'd expressions
  // (md5, nullif); one narrow projection, no shuffle.
  // -------------------------------------------------------------------
  private val q41 = Demo("q41_dbt_utils_shims", Some("""
      SELECT md5(CAST(
               coalesce(CAST(o_orderkey AS VARCHAR), '_dbt_utils_surrogate_key_null_')
               || '-' ||
               coalesce(CAST(o_orderstatus AS VARCHAR), '_dbt_utils_surrogate_key_null_')
             AS VARCHAR)) AS order_sk,
             o_orderkey,
             o_totalprice / nullif(o_custkey, 0) AS price_per_cust,
             o_totalprice / nullif(o_orderkey % 2, 0) AS price_odd_only
      FROM orders
      ORDER BY o_orderkey ASC NULLS LAST"""),
    (s, dir, _) => {
      val dag = new graft.models.SqlDag(s, freshScratchDir("q41"))
      val built = dag.run(
        Seq(graft.models.SqlDag.SqlModel("orders_keyed",
          "select {{ dbt_utils.generate_surrogate_key(['o_orderkey', 'o_orderstatus']) }} as order_sk, " +
            "o_orderkey, " +
            "{{ safe_divide('o_totalprice', 'o_custkey') }} as price_per_cust, " +
            "{{ dbt_utils.safe_divide('o_totalprice', 'o_orderkey % 2') }} as price_odd_only " +
            "from {{ ref('orders') }}")),
        seeds = Map("orders" -> t(s, dir, "orders")),
        macros = graft.models.DbtUtils.macros)
      built("orders_keyed").orderBy(col("o_orderkey").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q42: MODEL CONTRACTS — dbt ≥1.5 `contract: enforced` (a
  // migration-visible dbt surface): the
  // schema.yml declares the model's column names and types; the build
  // checks the ACTUAL materialized schema against them and fails fast
  // on drift. The demo builds a contracted rollup (green face), then
  // asserts IN-DEMO that a drifted declaration fails with the contract
  // diff (red face) — both semantics ride one oracle row. Scale: the
  // check is analysis-time metadata, no data pass.
  // -------------------------------------------------------------------
  private val q42 = Demo("q42_model_contract", Some("""
      SELECT o_orderstatus AS status, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY 1
      ORDER BY status ASC NULLS LAST"""),
    (s, dir, _) => {
      val yaml = """
models:
  - name: status_rollup
    config:
      contract:
        enforced: true
    columns:
      - name: status
        data_type: string
      - name: n_orders
        data_type: bigint
      - name: total
        data_type: double
"""
      val models = Seq(graft.models.SqlDag.SqlModel("status_rollup",
        "select o_orderstatus as status, count(*) as n_orders, " +
          "round(sum(o_totalprice), 2) as total " +
          "from {{ ref('orders') }} group by 1"))
      val seeds = Map("orders" -> t(s, dir, "orders"))
      val dag = new graft.models.SqlDag(s, freshScratchDir("q42"))
      val built = dag.run(models, seeds,
        contracts = graft.models.SchemaConfig.contracts(yaml))
      // red face: the same model under a drifted declaration must fail
      // BEFORE materializing, with the offending column in the message
      val drifted = graft.models.SchemaConfig.contracts(
        yaml.replace("data_type: double", "data_type: decimal(10,2)"))
      val err =
        try { dag.run(models, seeds, contracts = drifted); None }
        catch { case e: IllegalArgumentException => Some(e.getMessage) }
      require(err.exists(m => m.contains("violates its enforced contract")
        && m.contains("column total")),
        s"drifted contract did not fail the build: $err")
      built("status_rollup").orderBy(col("status").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q43: TEST SEVERITY + STORE_FAILURES — dbt's test-config block:
  // `severity: warn` keeps a flagging test from
  // breaking the build, `warn_if`/`error_if` thresholds grade the
  // failure count, and `store_failures` persists the violating rows to
  // an audit table. The demo declares the tests in schema.yml form,
  // runs them with the full config semantics, asserts the verdict
  // matrix in-demo (warn face green-but-flagging, threshold face
  // passing, full-severity face erroring), and returns the PERSISTED
  // audit table — so the oracle hash-checks the stored failure rows
  // themselves, not just a count. Scale: each test is one bounded job;
  // the audit write is the (small) violation set, never the relation.
  // -------------------------------------------------------------------
  private val q43 = Demo("q43_test_severity_audit", Some("""
      SELECT o_orderkey, o_orderstatus
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F')
      ORDER BY o_orderkey ASC NULLS LAST"""),
    (s, dir, _) => {
      val yaml = """
models:
  - name: orders
    columns:
      - name: o_orderstatus
        tests:
          - accepted_values:
              values: ['O', 'F']
              config:
                severity: warn
                store_failures: true
          - not_null:
              config:
                warn_if: "> 0"
                error_if: "> 999999999"
"""
      val built = Map("orders" -> t(s, dir, "orders"))
      val store = freshScratchDir("q43")
      // red face first: the same flagging test at dbt's default
      // severity must grade error (CI exit), before the warn face's
      // audit table is read back as the query result
      val hard = graft.models.GenericTests.runDetailed(
        graft.models.SchemaConfig.tests(
          yaml.replace("severity: warn", "severity: error")),
        built, Some(store))
      require(hard.find(_.name == "accepted_values_orders_o_orderstatus")
        .exists(_.status == "error"), s"full severity did not error: $hard")
      val results = graft.models.GenericTests.runDetailed(
        graft.models.SchemaConfig.tests(yaml), built, Some(store))
      val byName = results.map(r => r.name -> r).toMap
      val av = byName("accepted_values_orders_o_orderstatus")
      require(av.status == "warn" && av.failures > 0,
        s"expected a flagging warn, got: $av")
      require(byName("not_null_orders_o_orderstatus").status == "pass",
        "threshold face should pass: no NULL statuses in orders")
      s.read.parquet(av.storedPath.get)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // Q44: ANALYSES — dbt's `analysis-paths` (reference dbt_project.yml:7
  // declares the path): compile-only SQL nodes. The analysis renders
  // through the FULL Jinja pipeline (a var-parameterized threshold),
  // participates in selection (`+analysis:name` builds ONLY what the
  // analysis reads — the seed-fed sibling must not build), and
  // compileAnalyses emits the runnable resolved SQL WITHOUT
  // materializing anything — the demo then executes that compiled text
  // exactly as a user pastes target/compiled output into a session.
  // The oracle replays staging + analysis as CTEs. Scale: compilation
  // is driver-side string work; the executed plan is a pushed-down
  // filter → one (year) hash aggregate.
  // -------------------------------------------------------------------
  private val q44 = Demo("q44_analysis_compile", Some("""
      WITH stg_priced AS (
        SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
        FROM orders WHERE o_orderstatus = 'F'),
      big_orders_by_year AS (
        SELECT CAST(date_trunc('year', order_date) AS DATE) AS year,
               count(*) AS n_big,
               round(sum(o_totalprice), 2) AS total_price
        FROM stg_priced WHERE o_totalprice > 150000.0
        GROUP BY 1)
      SELECT year, n_big, total_price FROM big_orders_by_year
      ORDER BY year ASC NULLS LAST"""),
    (s, dir, _) => {
      val models = Seq(
        graft.models.SqlDag.SqlModel("stg_priced",
          "select o_orderkey, o_totalprice, " +
            "cast(o_orderdate as date) as order_date " +
            "from {{ ref('orders') }} where o_orderstatus = 'F'"),
        // seed-fed sibling the analysis does NOT read — +analysis:
        // selection must skip it
        graft.models.SqlDag.SqlModel("nation_names",
          "select n_name from {{ ref('nation') }}"))
      val analysis = graft.models.SqlDag.Analysis("big_orders_by_year",
        "select cast(date_trunc('year', order_date) as date) as year, " +
          "count(*) as n_big, round(sum(o_totalprice), 2) as total_price " +
          "from {{ ref('stg_priced') }} " +
          "where o_totalprice > {{ var('price_floor') }} group by 1")
      val vars = Map("price_floor" -> "150000.0")
      val dag = new graft.models.SqlDag(s, freshScratchDir("q44"))
      val built = dag.run(models,
        seeds = Map("orders" -> t(s, dir, "orders"),
          "nation" -> t(s, dir, "nation")),
        select = Seq("+analysis:big_orders_by_year"),
        vars = vars, analyses = Seq(analysis))
      require(built.contains("stg_priced") && !built.contains("nation_names"),
        s"+analysis: selection built the wrong sub-DAG: ${built.keySet}")
      val compiled = dag.compileAnalyses(Seq(analysis), models,
        seeds = Set("orders", "nation"), vars = vars)("big_orders_by_year")
      require(!compiled.contains("{{") && !s.catalog.tableExists("big_orders_by_year"),
        "analysis must compile fully and materialize nothing")
      s.sql(compiled).orderBy(col("year").asc_nulls_last)
    })

  val all: Seq[Demo] =
    Seq(x12, x13, x15, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43,
      q44)
}
