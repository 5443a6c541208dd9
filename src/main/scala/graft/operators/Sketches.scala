package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch operators — the sublinear-state estimators a 100 TB pipeline
  * uses where exact answers need an unbounded shuffle. First member:
  * HyperLogLog distinct-count, built deterministically enough to be
  * hash-verified against a SQL oracle (an unusual property for a sketch —
  * every stochastic ingredient is replaced by an exact-integer one):
  *
  *  - the "random" hash is a 31-bit Murmur-style finalizer (two
  *    xorshift-multiply rounds, every multiply kept under 2^63 so ANSI
  *    mode can't overflow) — a plain modular multiply is a bijection
  *    with low-discrepancy structure on dense key ranges and skews the
  *    leading-zero tail badly (measured 9× overestimate); the finalizer
  *    avalanche fixes it (measured ≤ ~7% across sf0.001–0.1);
  *  - the register rank (leading-zero count) is an exact integer CASE
  *    over power-of-two thresholds — no float log;
  *  - the harmonic indicator Z = Σ 2^-M[j] is scaled by 2^23 into an
  *    exact BIGINT sum (order-independent, partial-aggregation safe);
  *    only the FINAL estimate performs float ops, from e0-suffixed
  *    DOUBLE literals (a bare `0.7213` is DECIMAL in some engines) in a
  *    pinned single-rounding sequence both engines execute identically.
  *
  * Scale: one narrow projection + a 512-group aggregation — map-side
  * combine reduces every partition to ≤ 512 rows regardless of input
  * size, so the shuffle is O(m), not O(n). This is the plan shape of
  * `approx_count_distinct`, with a reproducible sketch.
  */
object Sketches {

  /** Number of HLL registers (2^9). Standard error ≈ 1.04/√m ≈ 4.6%. */
  val Buckets = 512
  /** Bits of hash examined for the rank: 31 − 9 bucket bits. */
  val RankBits = 22

  /** Thresholds for the rank CASE, descending: rank r ⇔ the 22-bit field
    * v has exactly r−1 leading zeros ⇔ `v >= 2^(22−r)` first matches at
    * r; v = 0 (all zeros) → rank 23.
    */
  def rankThresholds: Seq[(Int, Long)] =
    (1 to RankBits).map(r => r -> (1L << (RankBits - r)))

  /** alpha_512 · m² · 2^23 — the numerator of the estimate. e0 suffixes
    * pin every literal to DOUBLE; mirror this text in the oracle.
    */
  val AlphaExpr: String =
    "(0.7213e0 / (1.0e0 + 1.079e0 / 512.0e0)) * 262144.0e0 * 8388608.0e0"

  // public so oracle SQL texts interpolate the SAME constants they mirror
  val Mod31 = 2147483648L // 2^31
  val C1 = 2246822507L // murmur3 finalizer constant 0x85ebca6b
  val C2 = 3266489917L // murmur3 finalizer constant 0xc2b2ae35

  /** 31-bit xorshift-multiply avalanche of a long key. Largest
    * intermediate: (2^31−1) · C2 < 2^62.6 — no int64 overflow (ANSI-safe
    * on Spark, error-free in any BIGINT engine).
    */
  def mix31(key: Column): Column = {
    def xs(h: Column, bits: Int): Column = h.bitwiseXOR(shiftright(h, bits))
    val h0 = pmod(key.cast("long"), lit(Mod31))
    val h1 = pmod(xs(h0, 16) * C1, lit(Mod31))
    val h2 = pmod(xs(h1, 13) * C2, lit(Mod31))
    xs(h2, 16)
  }

  /** Driver-side mirror of [[mix31]] — the identical avalanche over Scala
    * longs, for operators that precompute probe bitmaps from a bounded
    * collected key set ([[TextDedup.decontaminateBloom]]). All
    * intermediates are non-negative (floorMod = Spark's pmod; >>> = >>
    * on non-negatives), so the two forms agree bit-for-bit — pinned by a
    * SketchesSpec property test.
    */
  def mix31L(key: Long): Long = {
    def xs(h: Long, bits: Int): Long = h ^ (h >>> bits)
    val h0 = Math.floorMod(key, Mod31)
    val h1 = Math.floorMod(xs(h0, 16) * C1, Mod31)
    val h2 = Math.floorMod(xs(h1, 13) * C2, Mod31)
    xs(h2, 16)
  }

  /** One-row HLL distinct estimate for `key`, alongside the exact
    * count(distinct) for error inspection: `(n_exact, n_estimate,
    * buckets_used)`. Raw HLL estimate only (no small/large-range
    * correction: the linear-counting branch needs a float log, the one
    * op SQL engines round differently); for m=512 the raw estimate
    * holds to the sketch's ±4.6% σ once n ≳ 2.5·m.
    */
  def approxDistinct(df: DataFrame, key: Column): DataFrame = {
    val h = mix31(key)
    val bucket = pmod(h, lit(Buckets.toLong))
    val v = shiftright(h, 9)
    val rank = rankThresholds.reverse
      .foldLeft(lit(RankBits + 1): Column) { case (acc, (r, threshold)) =>
        when(v >= threshold, lit(r)).otherwise(acc)
      }
    val registers = df
      .filter(key.isNotNull)
      .select(bucket.as("bucket"), rank.as("rank"))
      .groupBy(col("bucket"))
      .agg(max(col("rank")).as("m_rho"))
    // Z · 2^23, exactly: non-empty registers contribute 2^(23−rho),
    // empty ones 2^23 each
    // coalesce: zero non-null keys → empty registers → sum() is NULL,
    // but the estimate must be the (finite) all-empty raw-HLL value
    // alpha·m ≈ 363, not NULL (raw HLL without linear counting cannot
    // reach 0; callers in the n ≲ 2.5m regime need the correction)
    val sketch = registers.agg(
      coalesce(sum(expr("shiftleft(cast(1 AS bigint), 23 - m_rho)")), lit(0L))
        .as("s_nonempty"),
      count(lit(1)).as("buckets_used"))
    val exact = df.agg(countDistinct(key).as("n_exact"))
    exact.crossJoin(sketch).select(
      col("n_exact"),
      (expr(AlphaExpr) /
        (col("s_nonempty") +
          (lit(Buckets.toLong) - col("buckets_used")) * lit(1L << 23))
          .cast("double")).as("n_estimate"),
      col("buckets_used"))
  }

  // -------------------------------------------------------------------
  // Count-min sketch — point-frequency estimation in O(depth × width)
  // state. Like the HLL above, every stochastic ingredient is exact
  // integer (the row hashes reuse mix31 on a row-salted key), so the
  // whole sketch is oracle-verifiable.
  // -------------------------------------------------------------------

  /** CM rows (independent hash functions). */
  val CmDepth = 4
  /** CM counters per row. Overestimate bias ≈ n/width per row before
    * taking the min across rows.
    */
  val CmWidth = 1024L
  /** Row salt: key + r·CmSalt decorrelates the CmDepth hash functions
    * through the mix31 avalanche (golden-ratio odd constant). Largest
    * pre-mod value: key< 2^31 plus 3·CmSalt < 2^34 — no overflow.
    */
  val CmSalt = 2654435769L

  /** Counter index of `key` in CM row `r`. The key folds to 31 bits
    * BEFORE the salt is added — `(k mod M + r·s) mod M = (k + r·s) mod M`,
    * so the hash is unchanged for small keys while a key near
    * Long.MaxValue can no longer overflow the addition (ANSI-safe for
    * the full int64 key domain, like mix31 itself).
    */
  def cmCell(key: Column, r: Column): Column =
    pmod(mix31(pmod(key.cast("long"), lit(Mod31)) + r * lit(CmSalt)),
      lit(CmWidth))

  /** Count-min frequency estimates for `probes` (a DataFrame with a long
    * key column `probeCol`) against the frequency of `key` in `df`:
    * `(probe_key, n_exact, n_cm)` with n_cm ≥ n_exact (the sketch only
    * overestimates, by < depth·n/width with high probability).
    *
    * Scale: ONE pass over the input. The cell fan-out explodes each row
    * CmDepth×, but map-side combine collapses every partition to
    * ≤ depth·width (+ depth·|probes|) rows, so the shuffle is
    * O(depth·width) regardless of input size — the counters then
    * broadcast to the probe side. The exact counts (error-inspection
    * column) ride the SAME aggregate: probe keys are tagged in the
    * exploded frame (one bounded collect of the tiny-by-contract probe
    * set — the IVF-centroid legitimacy), and each probe's exact count is
    * read off its r=0 cell row, eliminating the second input scan the
    * previous exact branch paid.
    */
  def cmFrequency(df: DataFrame, key: Column, probes: DataFrame,
      probeCol: String): DataFrame = {
    def cells(in: DataFrame, k: String, carry: Seq[String]): DataFrame =
      in.select((carry.map(col) :+ col(k)
          :+ explode(sequence(lit(0L), lit(CmDepth - 1L))).as("r")): _*)
        .select((carry.map(col) :+ col("r")
          :+ cmCell(col(k), col("r")).as("c")): _*)
    val keyed = df.filter(key.isNotNull).select(key.cast("long").as("k"))
    // distinct: a duplicated probe key must yield one output row, not a
    // duplicated (est/exact are aggregates, so only multiplicity — not
    // values — would reflect the duplicates, which is worse: silently
    // wrong row counts). Probe sets are small by contract, so the
    // distinct is a broadcast-scale dedup.
    val probeKeys = probes.select(col(probeCol).cast("long").as("probe_key"))
      .distinct()
    // NULL probe keys stay out of the tag set (a NULL key matches no
    // input row) but keep their output row via the probeKeys joins below
    val probeSet: Seq[Long] = probeKeys.collect()
      .filter(!_.isNullAt(0)).map(_.getLong(0)).toSeq
    val cellCounts = cells(keyed, "k", Seq("k"))
      .select(col("r"), col("c"),
        when(col("k").isInCollection(probeSet), col("k")).as("pk"))
      .groupBy(col("r"), col("c"), col("pk")).agg(count(lit(1)).as("cnt"))
    val counters = cellCounts
      .groupBy(col("r"), col("c")).agg(sum(col("cnt")).as("cnt"))
    // a probe key's rows all share one cell per CM row, so its r=0 cell
    // count IS its exact frequency
    val exact = cellCounts.filter(col("pk").isNotNull && col("r") === 0L)
      .groupBy(col("pk")).agg(sum(col("cnt")).as("cnt_exact"))
    val est = cells(probeKeys, "probe_key", Seq("probe_key"))
      .join(broadcast(counters), Seq("r", "c"), "left")
      .groupBy(col("probe_key"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_cm"))
    probeKeys
      .join(exact, col("probe_key") === col("pk"), "left")
      .join(est, Seq("probe_key"))
      .select(col("probe_key"),
        coalesce(col("cnt_exact"), lit(0L)).as("n_exact"), col("n_cm"))
  }

  // -------------------------------------------------------------------
  // Equi-width histogram sketch + interpolated quantile estimation —
  // the fixed-size alternative to an exact sort-based quantile: O(bins)
  // state per group, mergeable (bin counts are sums), and at 100 TB the
  // shuffle carries ≤ bins rows per group instead of every value.
  // -------------------------------------------------------------------

  /** Histogram bins per group. Quantile estimate error ≤ bin width. */
  val HistBins = 64L

  /** Histogram-interpolated quantile estimates per group next to the
    * exact interpolated percentile for error inspection:
    * `(group, q, n, est_value, exact_value)` on the cents/100 scale.
    *
    * Determinism: bounds and bin counts are exact integers (bin index is
    * one integer multiply + divide; `(hi−lo)·bins / (hi−lo+1) < bins`, so
    * no clamp is needed); the only float ops are the final interpolation
    * chain, written as the same single-rounding expression sequence on
    * both engines (IEEE ops are exact-rounded; no transcendentals).
    *
    * Input passes: the bounds aggregate feeds TWO consumers (the bin
    * computation and the quantile targets), so the lazy plan may
    * evaluate it twice — two-to-three scans of the input; a production
    * run with a FIXED domain skips the bounds pass entirely.
    */
  def histQuantiles(df: DataFrame, group: String, cents: Column,
      qs: Seq[(String, Double)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.map(_._1).distinct.size == qs.size,
      s"quantile labels must be non-empty and distinct: ${qs.map(_._1)}")
    val base = df.filter(cents.isNotNull)
      .select(col(group), cents.cast("long").as("cents"))
    val bounds = base.groupBy(col(group)).agg(
      min(col("cents")).as("lo"), max(col("cents")).as("hi"),
      count(lit(1)).as("n"))
    val hist = base.join(broadcast(bounds), Seq(group))
      .select(col(group),
        expr(s"((cents - lo) * $HistBins) div (hi - lo + 1)").as("bin"))
      .groupBy(col(group), col("bin")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(group)).orderBy(col("bin"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val qArr = array(qs.map { case (l, v) =>
      struct(lit(l).as("q"), lit(v).as("qv")) }: _*)
    val targets = bounds
      .withColumn("qs", explode(qArr))
      .select(col(group), col("lo"), col("hi"), col("n"),
        col("qs.q").as("q"),
        ceil(col("qs.qv") * col("n")).cast("long").as("target"))
    val crossing = targets.join(broadcast(cum), Seq(group))
      .filter(col("cum") >= col("target") && col("cum") - col("cnt") < col("target"))
      .select(col(group), col("q"), col("n"),
        ((col("lo").cast("double")
          + (col("bin").cast("double")
            + (col("target") - (col("cum") - col("cnt"))).cast("double")
              / col("cnt").cast("double"))
          * ((col("hi") - col("lo") + 1).cast("double")
            / lit(HistBins).cast("double"))) / 100).as("est_value"))
    // plain-string literal: a raw Double interpolation renders small
    // quantiles in scientific notation ("1.0E-4"), which the SQL parser
    // rejects
    def pctExpr(v: Double): Column =
      expr(s"percentile(cents, ${BigDecimal(v).underlying.toPlainString}e0)") / 100
    val exactWide = base.groupBy(col(group)).agg(
      pctExpr(qs.head._2).as(qs.head._1),
      qs.tail.map { case (l, v) => pctExpr(v).as(l) }: _*)
    val exact = exactWide.unpivot(
      ids = Array(col(group)),
      values = qs.map(p => col(p._1)).toArray,
      variableColumnName = "q", valueColumnName = "exact_value")
    crossing.join(broadcast(exact), Seq(group, "q"))
      .select(col(group), col("q"), col("n"), col("est_value"),
        col("exact_value"))
  }

  /** Heavy hitters by Misra–Gries sketch + exact verification: the
    * ≤`k`-counter [[graft.functions.MisraGriesAgg]] summary guarantees
    * every item with frequency > n/(k+1) survives as a candidate; the
    * bounded candidate set (≤ k keys) then broadcast-joins back for
    * EXACT counts, and the support filter `cnt·k > n` keeps the true
    * heavy hitters — deterministic output despite the sketch's
    * partition-order-dependent internals (the sketch only PRUNES; the
    * verdict is exact). Output: (key, cnt) for items with share > 1/k.
    *
    * Scale: the sketch shuffle carries one ≤k-entry map per partition
    * (never the key universe); verification scans once more with a
    * broadcast ≤k-key semi filter — the sketch-then-verify shape that
    * replaces a full groupBy over 100 TB of keys.
    */
  def heavyHitters(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    // NULL keys are dropped before the sketch (and before n_total): a
    // null entering the Map[String,Long] buffer would throw in Catalyst
    // map encoding, and a frequency share over unkeyed rows is
    // meaningless — same "NULL key never passes" contract as Sampling
    val keyed = df.select(key.cast("string").as("hh_key"))
      .filter(col("hh_key").isNotNull)
    val mg = udaf(new graft.functions.MisraGriesAgg(k),
      org.apache.spark.sql.Encoders.STRING)
    // n_total rides the sketch pass as a second aggregate — exactly two
    // input scans total (sketch+count, then candidate verification)
    val sketch = keyed.agg(mg(col("hh_key")).as("mg"),
      count(lit(1)).as("n_total"))
    val cands = sketch
      .select(explode(map_keys(col("mg"))).as("cand"), col("n_total"))
    keyed.join(broadcast(cands), col("hh_key") === col("cand"))
      .groupBy(col("hh_key"), col("n_total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > col("n_total"))
      .select(col("hh_key"), col("cnt"))
  }
}
