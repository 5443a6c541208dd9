package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.RelationalDemos.Demo
import graft.sources.Tables

/** Statistical aggregates over the events stream — the corpus-profiling
  * ops a training-data pipeline runs constantly (value distributions,
  * outlier bounds).
  *
  * Parity design: values quantize to exact integer cents, so Σx and Σx²
  * are exact longs regardless of partial-aggregation order; variance and
  * stddev are then single deterministic double expressions. Percentiles
  * use Spark's exact `percentile` vs DuckDB's `quantile_cont` — the same
  * linear interpolation on sorted values.
  */
object StatsDemos {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  // -------------------------------------------------------------------
  // X9a: moments per event_type — n, mean, sample stddev from exact
  // integer power sums (shuffle carries 3 longs per group).
  // -------------------------------------------------------------------
  private val x9a = Demo("x9a_moments", Some("""
      WITH c AS (SELECT event_type, cast(round(value * 100) AS bigint) AS cents
                 FROM events)
      SELECT event_type,
             count(*) AS n,
             cast(sum(cents) AS double) / count(*) / 100 AS mean_value,
             CASE WHEN count(*) > 1 THEN
               sqrt((count(*) * cast(sum(cents * cents) AS double)
                     - cast(sum(cents) AS double) * cast(sum(cents) AS double))
                    / (cast(count(*) AS double) * (count(*) - 1))) / 100
             ELSE NULL END AS stddev_value
      FROM c
      GROUP BY event_type
      ORDER BY event_type ASC NULLS LAST"""),
    (s, dir, _) => {
      val cents = round(col("value") * 100).cast("long")
      t(s, dir, "events")
        .select(col("event_type"), cents.as("cents"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("sx"),
          sum(col("cents") * col("cents")).as("sxx"))
        .select(col("event_type"), col("n"),
          (col("sx").cast("double") / col("n") / 100).as("mean_value"),
          // n = 1 would divide by zero — ANSI mode (Spark 4 default) makes
          // that an error, not a NULL, so guard singleton groups explicitly
          when(col("n") > 1,
            sqrt((col("n") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
              / (col("n").cast("double") * (col("n") - 1))) / 100)
            .otherwise(lit(null)).as("stddev_value"))
        .orderBy(col("event_type").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X9b: exact interpolated percentiles (p50/p90/p99) per event_type on
  // the integer cents — Spark `percentile` and DuckDB `quantile_cont`
  // share the linear-interpolation definition, and integer inputs keep
  // the interpolation arithmetic bit-identical.
  // -------------------------------------------------------------------
  private val x9b = Demo("x9b_percentiles", Some("""
      WITH c AS (SELECT event_type, cast(round(value * 100) AS bigint) AS cents
                 FROM events)
      SELECT event_type,
             quantile_cont(cents, 0.5) / 100 AS p50,
             quantile_cont(cents, 0.9) / 100 AS p90,
             quantile_cont(cents, 0.99) / 100 AS p99
      FROM c
      GROUP BY event_type
      ORDER BY event_type ASC NULLS LAST"""),
    (s, dir, _) => {
      val cents = round(col("value") * 100).cast("long")
      t(s, dir, "events")
        .select(col("event_type"), cents.as("cents"))
        .groupBy(col("event_type"))
        .agg(
          (expr("percentile(cents, 0.5)") / 100).as("p50"),
          (expr("percentile(cents, 0.9)") / 100).as("p90"),
          (expr("percentile(cents, 0.99)") / 100).as("p99"))
        .orderBy(col("event_type").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X9d: HYPERLOGLOG DISTINCT ESTIMATE over lineitem.l_orderkey, next to
  // the exact count for error inspection. Every stochastic ingredient of
  // the sketch is exact-integer (31-bit murmur-style avalanche, CASE-
  // based rank, 2^23-scaled BIGINT indicator sum over 512 registers), so
  // even this APPROXIMATE operator is bit-verified against the oracle —
  // every sketch constant in the SQL below is derived from the same
  // graft.operators.Sketches definitions the Spark side folds over.
  // Scale: map-side combine reduces every partition to ≤512 register
  // rows; the exact branch is the expensive one and exists only for the
  // error column.
  // -------------------------------------------------------------------
  // every sketch constant below derives from the Sketches definitions so
  // a retune (Buckets/RankBits) can never desynchronize oracle and impl
  private val skM = graft.operators.Sketches.Buckets
  private val skBucketBits = Integer.numberOfTrailingZeros(skM)
  private val skSentinel = graft.operators.Sketches.RankBits + 1
  private val skScale = 1L << skSentinel

  private val rankCase: String = {
    val whens = graft.operators.Sketches.rankThresholds
      .map { case (r, thr) => s"WHEN (h >> $skBucketBits) >= $thr THEN $r" }
      .mkString(" ")
    s"CASE $whens ELSE $skSentinel END"
  }

  private val x9d = Demo("x9d_hll_distinct", Some(s"""
      WITH h0 AS (
        SELECT l_orderkey % ${graft.operators.Sketches.Mod31} AS h
        FROM lineitem WHERE l_orderkey IS NOT NULL),
      h1 AS (SELECT (xor(h, h >> 16) * ${graft.operators.Sketches.C1}) % ${graft.operators.Sketches.Mod31} AS h FROM h0),
      h2 AS (SELECT (xor(h, h >> 13) * ${graft.operators.Sketches.C2}) % ${graft.operators.Sketches.Mod31} AS h FROM h1),
      h3 AS (SELECT xor(h, h >> 16) AS h FROM h2),
      registers AS (
        SELECT h % $skM AS bucket, max($rankCase) AS m_rho
        FROM h3 GROUP BY 1),
      sketch AS (
        SELECT cast(coalesce(sum(1::BIGINT << ($skSentinel - m_rho)), 0) AS bigint) AS s_nonempty,
               count(*) AS buckets_used
        FROM registers),
      exact AS (SELECT count(DISTINCT l_orderkey) AS n_exact FROM lineitem)
      SELECT n_exact,
             ${graft.operators.Sketches.AlphaExpr}
               / cast(s_nonempty + ($skM - buckets_used) * $skScale AS double)
               AS n_estimate,
             buckets_used
      FROM exact CROSS JOIN sketch"""),
    (s, dir, _) => graft.operators.Sketches.approxDistinct(
      t(s, dir, "lineitem"), col("l_orderkey")))

  // -------------------------------------------------------------------
  // X9e: COUNT-MIN SKETCH frequency estimates for 20 probe user_ids over
  // the events stream, next to the exact counts. Same oracle-exactness
  // recipe as x9d: the 4 row-hashes are mix31 over a row-salted key, the
  // counters are exact integer sums, the estimate is an integer min — so
  // the approximate operator hash-matches bit-for-bit. Scale: map-side
  // combine bounds the counter shuffle at depth×width rows per
  // partition; the 4096-row counter table broadcasts to the probes.
  // -------------------------------------------------------------------
  private val cmD = graft.operators.Sketches.CmDepth
  private val cmW = graft.operators.Sketches.CmWidth
  private val cmSalt = graft.operators.Sketches.CmSalt

  /** Staged mix31 CTE chain over CTE `src` (column `k2`, carries `carry`)
    * ending in CTE `out` with columns (carry..., h) — the same avalanche
    * Sketches.mix31 folds, so the oracle cannot desynchronize from it.
    */
  private def mixCtes(src: String, carry: Seq[String], out: String): String = {
    val cs = carry.map(_ + ", ").mkString
    val M = graft.operators.Sketches.Mod31
    s"""${src}_h0 AS (SELECT $cs k2 % $M AS h FROM $src),
      ${src}_h1 AS (SELECT $cs (xor(h, h >> 16) * ${graft.operators.Sketches.C1}) % $M AS h FROM ${src}_h0),
      ${src}_h2 AS (SELECT $cs (xor(h, h >> 13) * ${graft.operators.Sketches.C2}) % $M AS h FROM ${src}_h1),
      $out AS (SELECT $cs xor(h, h >> 16) AS h FROM ${src}_h2)"""
  }

  private val x9e = Demo("x9e_cm_sketch", Some(s"""
      WITH probes AS (
        SELECT cast(unnest(generate_series(0, 19)) AS bigint) AS probe_key),
      ev AS (SELECT user_id AS k FROM events WHERE user_id IS NOT NULL),
      cells AS (SELECT k + r * $cmSalt AS k2, r
                FROM ev, unnest(generate_series(0, ${cmD - 1})) AS t(r)),
      ${mixCtes("cells", Seq("r"), "cellsh")},
      counters AS (SELECT r, h % $cmW AS c, count(*) AS cnt
                   FROM cellsh GROUP BY 1, 2),
      pc AS (SELECT probe_key, probe_key + r * $cmSalt AS k2, r
             FROM probes, unnest(generate_series(0, ${cmD - 1})) AS t(r)),
      ${mixCtes("pc", Seq("probe_key", "r"), "pch")},
      pcells AS (SELECT probe_key, r, h % $cmW AS c FROM pch),
      est AS (SELECT probe_key, min(coalesce(cnt, 0)) AS n_cm
              FROM pcells LEFT JOIN counters USING (r, c) GROUP BY 1),
      exact AS (SELECT k AS probe_key, count(*) AS cnt_exact FROM ev GROUP BY 1)
      SELECT p.probe_key, coalesce(e.cnt_exact, 0) AS n_exact, est.n_cm
      FROM probes p
      LEFT JOIN exact e USING (probe_key)
      JOIN est USING (probe_key)
      ORDER BY probe_key ASC NULLS LAST"""),
    (s, dir, _) => {
      val probes = s.range(0, 20).select(col("id").as("probe_key"))
      graft.operators.Sketches
        .cmFrequency(t(s, dir, "events"), col("user_id"), probes, "probe_key")
        .orderBy(col("probe_key").asc_nulls_last)
    })

  // -------------------------------------------------------------------
  // X9f: EQUI-WIDTH HISTOGRAM QUANTILE SKETCH per event_type — 64 exact
  // integer bin counts per group, quantile estimated by linear
  // interpolation inside the crossing bin, reported next to the exact
  // interpolated percentile. The interpolation chain is the identical
  // single-rounding float expression on both engines (arithmetic only —
  // no transcendentals, so IEEE guarantees bit equality). Scale: the
  // shuffle carries ≤64 bin rows per group no matter the input size —
  // the mergeable-fixed-state alternative to x9b's exact sort; the
  // exact column exists only for error inspection.
  // -------------------------------------------------------------------
  private val histB = graft.operators.Sketches.HistBins

  private val x9f = Demo("x9f_hist_quantile", Some(s"""
      WITH c AS (SELECT event_type, cast(round(value * 100) AS bigint) AS cents
                 FROM events WHERE value IS NOT NULL),
      bounds AS (SELECT event_type, min(cents) AS lo, max(cents) AS hi,
                        count(*) AS n
                 FROM c GROUP BY 1),
      hist AS (SELECT c.event_type,
                      ((cents - lo) * $histB) // (hi - lo + 1) AS bin,
                      count(*) AS cnt
               FROM c JOIN bounds USING (event_type) GROUP BY 1, 2),
      cum AS (SELECT event_type, bin, cnt,
                     sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
              FROM hist),
      targets AS (SELECT event_type, lo, hi, n, q,
                         cast(ceil(qv * n) AS bigint) AS target
                  FROM bounds,
                       (VALUES ('p50', 0.5e0), ('p90', 0.9e0), ('p99', 0.99e0)) AS qs(q, qv)),
      crossing AS (SELECT t.event_type, t.q, t.n,
                          (cast(lo AS double)
                           + (cast(bin AS double)
                              + cast(target - (cum - cnt) AS double)
                                / cast(cnt AS double))
                           * (cast(hi - lo + 1 AS double)
                              / cast($histB AS double))) / 100 AS est_value
                   FROM targets t JOIN cum USING (event_type)
                   WHERE cum >= target AND cum - cnt < target),
      exactw AS (SELECT event_type,
                        quantile_cont(cents, 0.5) / 100 AS p50,
                        quantile_cont(cents, 0.9) / 100 AS p90,
                        quantile_cont(cents, 0.99) / 100 AS p99
                 FROM c GROUP BY 1),
      ex AS (SELECT event_type, q, exact_value FROM (
               UNPIVOT exactw ON p50, p90, p99
               INTO NAME q VALUE exact_value))
      SELECT cr.event_type, cr.q, cr.n, cr.est_value, ex.exact_value
      FROM crossing cr JOIN ex USING (event_type, q)
      ORDER BY event_type ASC NULLS LAST, q ASC NULLS LAST"""),
    (s, dir, _) => graft.operators.Sketches.histQuantiles(
        t(s, dir, "events"), "event_type",
        round(col("value") * 100).cast("long"),
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .orderBy(col("event_type").asc_nulls_last, col("q").asc_nulls_last))

  // -------------------------------------------------------------------
  // X9g: covariance / Pearson correlation per l_returnflag from EXACT
  // integer power sums (n, Σx, Σy, Σx², Σy², Σxy) — one grouped
  // aggregation carrying 10 longs per group, then a fixed single-
  // rounding float expression (sqrt/·// are IEEE exact-rounded; no
  // transcendentals). ONE shared SQL text drives spark.sql AND the
  // oracle (the q11/q17 pattern) so the op order cannot diverge.
  // Magnitude contract: the quantity/discount/tax percent columns are
  // small integers, so every power sum stays well inside int64 at any
  // harness scale (the engines' sum types — Spark long, DuckDB HUGEINT —
  // only widen headroom).
  // -------------------------------------------------------------------
  private val correlationText = """
      WITH c AS (SELECT l_returnflag AS flag,
                        cast(l_quantity AS bigint) AS q,
                        cast(round(l_discount * 100) AS bigint) AS d,
                        cast(round(l_tax * 100) AS bigint) AS t
                 FROM lineitem),
      s AS (SELECT flag, count(*) AS n,
                   sum(q) AS sq, sum(d) AS sd, sum(t) AS st,
                   sum(q * q) AS sqq, sum(d * d) AS sdd, sum(t * t) AS stt,
                   sum(q * d) AS sqd, sum(q * t) AS sqt
            FROM c GROUP BY 1)
      SELECT flag, n,
             CASE WHEN n > 1 THEN
               cast(n * sqd - sq * sd AS double)
                 / cast(n AS double) / cast(n - 1 AS double)
             END AS cov_qty_discount,
             CASE WHEN (n * sqq - sq * sq) > 0 AND (n * sdd - sd * sd) > 0 THEN
               cast(n * sqd - sq * sd AS double)
                 / (sqrt(cast(n * sqq - sq * sq AS double))
                    * sqrt(cast(n * sdd - sd * sd AS double)))
             END AS corr_qty_discount,
             CASE WHEN (n * sqq - sq * sq) > 0 AND (n * stt - st * st) > 0 THEN
               cast(n * sqt - sq * st AS double)
                 / (sqrt(cast(n * sqq - sq * sq AS double))
                    * sqrt(cast(n * stt - st * st AS double)))
             END AS corr_qty_tax
      FROM s
      ORDER BY flag ASC NULLS LAST"""

  private val x9g = Demo("x9g_correlation", Some(correlationText),
    (s, dir, _) => {
      Tables.table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(correlationText)
    })

  // -------------------------------------------------------------------
  // X16: column profiling — graft.operators.Profile over events, with a
  // derived null-bearing column (the harness has no NULLs, so the NULL
  // path is exercised via the derive-then-replay recipe: CASE WHEN
  // value > 100). ONE pass computes every column's counts (multi-
  // distinct rides a single Expand aggregation — plan-asserted); the
  // oracle states each column's profile as its own scalar aggregate.
  // -------------------------------------------------------------------
  private val x16 = Demo("x16_profile", Some("""
      WITH ev AS (SELECT user_id, event_type, value,
                         CASE WHEN value > 100 THEN value END AS big_value
                  FROM events)
      SELECT 'big_value' AS col_name, count(*) AS n_rows,
             count(big_value) AS n_nonnull, count(DISTINCT big_value) AS n_distinct FROM ev
      UNION ALL
      SELECT 'event_type', count(*), count(event_type), count(DISTINCT event_type) FROM ev
      UNION ALL
      SELECT 'user_id', count(*), count(user_id), count(DISTINCT user_id) FROM ev
      UNION ALL
      SELECT 'value', count(*), count(value), count(DISTINCT value) FROM ev
      ORDER BY col_name ASC NULLS LAST"""),
    (s, dir, _) => graft.operators.Profile.profile(
        t(s, dir, "events").select(col("user_id"), col("event_type"),
          col("value"),
          when(col("value") > 100, col("value")).as("big_value")),
        Seq("user_id", "event_type", "value", "big_value"))
      .orderBy(col("col_name").asc_nulls_last))

  // -------------------------------------------------------------------
  // X22: IQR OUTLIER PROFILE — Profile.iqrOutliers per event_type:
  // Tukey fences [Q1 − 1.5·IQR, Q3 + 1.5·IQR] from exact interpolated
  // quartiles on integer cents (the x9b parity recipe), outlier counts
  // and the kept range. Fence arithmetic is one pinned single-rounding
  // float expression; the long-vs-double bound comparison promotes
  // identically on both engines.
  // -------------------------------------------------------------------
  private val x22 = Demo("x22_iqr_outliers", Some("""
      WITH c AS (SELECT event_type, cast(round(value * 100) AS bigint) AS cents
                 FROM events WHERE value IS NOT NULL),
      fences AS (
        SELECT event_type,
               quantile_cont(cents, 0.25e0) - 1.5e0 * (quantile_cont(cents, 0.75e0) - quantile_cont(cents, 0.25e0)) AS lo,
               quantile_cont(cents, 0.75e0) + 1.5e0 * (quantile_cont(cents, 0.75e0) - quantile_cont(cents, 0.25e0)) AS hi
        FROM c GROUP BY 1)
      SELECT c.event_type,
             count(*) AS n,
             cast(sum(CASE WHEN cents < lo OR cents > hi THEN 1 ELSE 0 END) AS bigint) AS n_outliers,
             cast(min(CASE WHEN cents >= lo AND cents <= hi THEN cents END) AS double) / 100 AS kept_min,
             cast(max(CASE WHEN cents >= lo AND cents <= hi THEN cents END) AS double) / 100 AS kept_max
      FROM c JOIN fences USING (event_type)
      GROUP BY 1
      ORDER BY event_type ASC NULLS LAST"""),
    (s, dir, _) => graft.operators.Profile.iqrOutliers(
        t(s, dir, "events"), "event_type",
        round(col("value") * 100).cast("long"))
      .orderBy(col("event_type").asc_nulls_last))

  // -------------------------------------------------------------------
  // X9h: HEAVY HITTERS — Misra–Gries sketch + exact verification
  // (Sketches.heavyHitters over document words, k=16): the ≤k-counter
  // summary guarantees every word with share > 1/(k+1) survives as a
  // candidate; exact counts over the broadcast candidate set then keep
  // share > 1/k. The sketch only PRUNES — the verified output is
  // deterministic, so the oracle is the plain exact formulation.
  // -------------------------------------------------------------------
  private val hhK = 32

  private val x9h = Demo("x9h_heavy_hitters", Some(s"""
      WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word
                 FROM documents),
      w2 AS (SELECT word FROM w WHERE word <> ''),
      c AS (SELECT word AS hh_key, count(*) AS cnt FROM w2 GROUP BY 1),
      t AS (SELECT count(*) AS n FROM w2)
      SELECT hh_key, cnt
      FROM c, t
      WHERE cnt * $hhK > n
      ORDER BY hh_key ASC NULLS LAST"""),
    (s, dir, _) => graft.operators.Sketches.heavyHitters(
        t(s, dir, "documents")
          .select(explode(split(lower(col("text")), " ")).as("word"))
          .filter(col("word") =!= ""),
        col("word"), k = hhK)
      .orderBy(col("hh_key").asc_nulls_last))

  val all: Seq[Demo] = Seq(x9a, x9b, x9d, x9e, x9f, x9g, x9h, x16, x22)
}
