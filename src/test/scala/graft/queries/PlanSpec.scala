package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.{Checkpoints, SparkEntry, SparkSpec}

/** Physical-plan shape assertions (SURVEY.md §4): each claimed plan
  * property — broadcast the small side, push filters to the scan, prune
  * columns, keep hot expressions inside whole-stage codegen — is pinned
  * here so a regression (e.g. a broadcast silently degrading to
  * sort-merge, a filter stuck above a join) fails `sbt test` rather than
  * surfacing as a 100 TB incident.
  */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q02 dim join: broadcast hash join + quantity filter pushed to parquet scan") {
    val p = plan("q02_dim_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45"), p)
  }

  test("q01 monthly agg: two-phase hash aggregation, one exchange for the agg") {
    val p = plan("q01_monthly_agg")
    assert(p.contains("HashAggregate"), p)
    // partial + final (+ distinct-agg expand phases) — never a naive
    // single-phase shuffle of raw rows
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q02/q05 scans prune to referenced columns only") {
    val p2 = plan("q02_dim_join")
    // lineitem has 16 columns; the scan must read only the 5 referenced
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p2).map(_.group(1)).get
    assert(read.split(",").length <= 6, s"lineitem scan reads too much: $read")
  }

  test("x3a topk: query vectors broadcast, corpus side not shuffled before scoring") {
    val p = plan("x3a_topk_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("x8a as-of join: single exchange on user_id (window formulation, no pair fan-out)") {
    val p = plan("x8a_asof_join")
    assert(!p.contains("Join"), s"as-of should be join-free (window formulation): $p")
    assert(p.contains("Window"), p)
  }

  test("x2e/x3 kernels stay inside whole-stage codegen (dot_long is codegen'd)") {
    // AQE only segments codegen stages in the final plan — execute, then
    // read the executed plan's simple form, where `*(n)` marks codegen
    // stages and dot_long must appear inside one
    val df = SparkEntry.queries("x2e_embed_neardup")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.lines.anyMatch(l => l.contains("*(") && l.contains("dot_long")), p)
  }

  test("x3c ivf: cell assignment is join-free (literal centroids) and probes broadcast") {
    val p = plan("x3c_ivf_ann")
    // exactly one join NODE — the probe-cell candidate join, with the
    // probe side broadcast; assignment itself must be a scan-side
    // projection (literal centroids, no centroid-table join)
    assert("""\(\d+\) \w*Join""".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("x5g packing: materialized prefix-sum base carries only (doc_id, n_tokens, pid)") {
    val df = SparkEntry.queries("x5g_seq_packing")(spark, sfDir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the range-partitioned base is materialized (stable boundaries for
    // the offset map) — downstream reads the checkpoint, not the table…
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD")
      || p.contains("Scan ExistingRDD"), p)
    // …and the checkpointed frame was pruned before materialization: the
    // text column must appear NOWHERE in the final plan
    assert(!p.contains("text#"), p)
    assert(p.contains("Window"), p)
  }

  test("x5e/x5f text transforms stay single-stage narrow (no exchange before output sort)") {
    val p = plan("x5e_pii_mask")
    // one range exchange for the final ORDER BY is the only shuffle
    assert("Exchange".r.findAllIn(p).size <= 2, p) // node + detail section
  }

  test("q12 semi/anti: both existence branches broadcast the filter set, no sort-merge") {
    val p = plan("q12_semi_anti_join")
    assert(p.contains("BroadcastHashJoin LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q13 rollup: grouping-set Expand collapses map-side (partial+final agg)") {
    val p = plan("q13_rollup")
    assert(p.contains("Expand"), p)
    assert("""\(\d+\) HashAggregate""".r.findAllIn(p).size >= 2, p)
  }

  test("q15 pivot: compiles to hash aggregation (no Expand, no extra scans)") {
    val p = plan("q15_pivot")
    assert(!p.contains("Expand"), p)
    assert("""\(\d+\) HashAggregate""".r.findAllIn(p).size >= 2, p)
    // literal pivot values: exactly one scan of orders — no driver-side
    // distinct pre-pass materializing a second read
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p)
  }

  test("q16 unpivot: per-row Expand over the aggregated relation, still one scan") {
    val p = plan("q16_unpivot")
    assert(p.contains("Expand"), p)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p)
    // the melt shares q15's UNSORTED aggregate — the only exchanges are
    // the two aggregation phases plus ONE final sort (a sort below the
    // Expand would survive EliminateSorts and waste a range exchange)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 3, p)
  }

  test("x9c window analytics: all four functions ride ONE hash exchange") {
    val p = plan("x9c_window_analytics")
    assert(p.contains("Window"), p)
    // one hashpartitioning(o_custkey) exchange + the final range sort —
    // never an exchange per window function
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 2, p)
  }

  test("x9d hll: register aggregation is two-phase (map-side combine to <=512 rows)") {
    val p = plan("x9d_hll_distinct")
    // partial+final per aggregation level — the shuffle carries register
    // rows, never raw keys (the whole point of the sketch)
    assert("""\(\d+\) HashAggregate""".r.findAllIn(p).size >= 4, p)
  }

  test("q18 lateral explode: Generate is narrow — only the final sort exchanges") {
    val p = plan("q18_lateral_explode")
    assert(p.contains("Generate"), p)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1, p)
  }

  test("q19 top-n: rank filter compiles to a PARTIAL WindowGroupLimit before the shuffle") {
    val p = plan("q19_window_topn")
    // each map task keeps its local top-3 per group pre-exchange — the
    // shuffle carries O(groups·k·tasks) rows, not the fact table
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("row_number(), 3, Partial"), p)
  }

  test("q20 theta self-join: equi conjunct keys a hash join, theta stays residual") {
    val p = plan("q20_theta_self_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x9e cm sketch: counter and estimate aggregations two-phase, counters broadcast") {
    val p = plan("x9e_cm_sketch")
    assert("""\(\d+\) HashAggregate""".r.findAllIn(p).size >= 4, p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("x14 salted agg: two aggregation phases (salted partials, true-key final)") {
    val p = plan("x14_salted_agg")
    assert("""\(\d+\) HashAggregate""".r.findAllIn(p).size >= 4, p)
  }

  test("q21 correlated subquery decorrelates: one grouped agg joined back, no re-execution") {
    val p = plan("q21_correlated_subquery")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x16 profile: ONE scan feeds every column's counts (multi-distinct Expand)") {
    val p = plan("x16_profile")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p)
    assert(p.contains("Expand"), p)
  }

  test("x4f phash near-dup: band candidates come from an equi join, never a nested loop") {
    val p = plan("x4f_phash_neardup")
    assert(p.contains("Join"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x17 key skew: top-K via distributed TakeOrdered, no global sort of all keys") {
    val p = plan("x17_key_skew")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x18 incremental dedup: store anti-join stays an equi anti join") {
    val p = plan("x18_incremental_dedup")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("flagship entry: broadcast join, no shuffle of the fact side") {
    val df: DataFrame = SparkEntry.entry(spark)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x5l ppl buckets: boundary broadcast, NO window over the corpus") {
    val p = plan("x5l_ppl_buckets")
    // the design claim: percentile boundaries ride a 1-row broadcast —
    // the naive ntile(3) global window (single partition) must not appear
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x32 quality resample: narrow codegen filter (only the output-sort exchange)") {
    val p = plan("x32_quality_resample")
    // one range exchange for the final ORDER BY is the only shuffle
    assert("Exchange".r.findAllIn(p).size <= 2, p) // node + detail section
  }

  test("x33 bm25: distributed TakeOrdered top-k, rank window only after the cut") {
    val p = plan("x33_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x31 semdedup: pair step is an equi hash join on the cell id, never a nested loop") {
    val p = plan("x31_semdedup")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x37 random projection: shuffle-free before the declared output sort") {
    // the projection itself is a narrow codegen expression chain — the
    // ONLY exchange allowed is the demo's own orderBy range partition
    val df = graft.operators.VectorSearch.signedRandomProjection(
      graft.sources.Tables.table(spark, sfDir, "embeddings"),
      "vec_id", "embedding", outDims = 16)
    val p = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLAppendColumn"), p)
  }

  test("x42 chisq drift: scalar totals join is broadcast, never shuffled; TakeOrdered cut") {
    val p = plan("x42_chisq_drift")
    // totals (1 row) × vocabulary must be a broadcast nested-loop of the
    // scalar side, not a sort-merge/cartesian of the big side
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // top-k is a distributed TakeOrdered, not a global sort of the vocab
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("join strategy hints override the planner's default choice") {
    import org.apache.spark.sql.functions.col
    val li = graft.sources.Tables.table(spark, sfDir, "lineitem")
    val p = graft.sources.Tables.table(spark, sfDir, "part")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // part is broadcast-eligible at this SF — the default is broadcast…
    val dflt = planOf(li.join(p, col("l_partkey") === col("p_partkey")))
    assert(dflt.contains("BroadcastHashJoin"), dflt)
    // …a merge hint forces sort-merge anyway (e.g. to cap driver memory)…
    val merged = planOf(li.join(p.hint("merge"),
      col("l_partkey") === col("p_partkey")))
    assert(merged.contains("SortMergeJoin") &&
      !merged.contains("BroadcastHashJoin"), merged)
    // …and shuffle_hash forces a shuffled hash join (no sort phase)
    val hashed = planOf(li.join(p.hint("shuffle_hash"),
      col("l_partkey") === col("p_partkey")))
    assert(hashed.contains("ShuffledHashJoin"), hashed)
  }

  test("window discipline sweep: no demo ranks/numbers an unbounded input globally") {
    // every SparkEntry demo is built (analysis + optimization only, no
    // execution beyond what construction itself runs) and checked for an
    // unpartitioned Window whose input is not provably bounded by a
    // LIMIT / aggregate-to-constant / literal cut — the one-task global
    // sort that works at sf0.01 and is an incident at 100 TB. The
    // bounded sites (keySkewProfile's top-K rank, x33's post-TakeOrdered
    // rank, prefix-sum offsets) pass because the cut is IN the plan.
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        graft.plans.WindowLint
          .unboundedGlobalWindows(fn(spark, sfDir).queryExecution.optimizedPlan)
          .map(name + ": " + _)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("q38 metric calculate: two-phase hash agg, metric filter pushed to the scan") {
    val p = plan("q38_metric_calculate")
    // Metrics.calculate is one declarative filter → groupBy(period, dims)
    // → agg chain: partial + final aggregation around the one exchange,
    // and the YAML filter (o_orderstatus = 'O') reaches the parquet scan
    // — a metric that re-scanned or single-phase-shuffled raw rows would
    // not be the rollup a user hand-writes
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]"), p)
  }

  test("q39 source staging: the staging filter pushes through source resolution to the scan") {
    val p = plan("q39_source_staging")
    // source() resolution is name substitution, not a plan barrier: the
    // staging model's status filter must still reach the parquet scan,
    // and the mart is a partial+final hash aggregate above it
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), Not(EqualTo(o_orderstatus,O))]")
      || p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q41 dbt_utils shims: compile-time expansion — one projection, no exchange before the output sort") {
    val p = plan("q41_dbt_utils_shims")
    // the shims expand to codegen'd expressions (md5, nullif) inside ONE
    // narrow projection: the only exchange tolerated is the declared
    // output sort's range partitioning; a UDF or an extra shuffle would
    // mean the macro layer leaked run-time work into the data path
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    assert(p.contains("md5"), p)
  }

  test("x35 segment dedup: exactly the two semantic shuffles (segment window, doc agg)") {
    val df = graft.operators.TextDedup.segmentDedup(
      graft.sources.Tables.table(spark, sfDir, "documents"),
      "doc_id", "text", width = 8)
    val p = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // one exchange keyed on the segment (keep-first window), one on the
    // doc id (reassembly aggregate) — a third would be a regression
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 2, p)
  }

  /** The Spark jobs query `name` runs while it builds its frame, and the
    * Exchanges that frame plans.
    */
  private def workBudget(name: String): (Int, Int) =
    Checkpoints.scoped { cuts =>
      val (df, jobs) = jobsDuring(SparkEntry.build(name, spark, sfDir, cuts))
      (jobs, "\\(\\d+\\) Exchange".r.findAllIn(
        df.queryExecution.explainString(ExplainMode.fromString("formatted"))).size)
    }

  test("work budget: build jobs and planned Exchanges of x62, x63 and x64") {
    // the survival stats and x64's presets read min_bn off their
    // candidate pairs; a second bucket window or a min_bn re-attach join
    // shows up here. A count that falls is lowered here in the same change.
    assert(workBudget("x62_lsh_survival") === ((9, 1)))
    assert(workBudget("x63_lsh_recall_curve") === ((9, 2)))
    assert(workBudget("x64_recall_floor_presets") === ((15, 1)))
    // x12's three snapshot eras chain lazily, one join per merge; a cut
    // per era would show up here as build jobs
    assert(workBudget("x12_scd2_snapshot") === ((1, 12)))
  }

  test("x2b: the candidate pair aggregate computes no function (the unused min_bn is pruned)") {
    val p = Checkpoints.scoped(cuts =>
      SparkEntry.build("x2b_minhash_lsh", spark, sfDir, cuts)
        .queryExecution.executedPlan.toString)
    val pairAggs = p.linesIterator
      .filter(l => l.contains("HashAggregate") && l.contains("__graft_id_a")).toSeq
    assert(pairAggs.nonEmpty, p)
    assert(pairAggs.forall(_.contains("functions=[]")), pairAggs.mkString("\n"))
  }
}
