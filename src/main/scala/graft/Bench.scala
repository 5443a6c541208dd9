package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every `SparkEntry.queries` entry on
  * `SPARK_GRAFT_SF_DIR` and emits ONE JSON line, both on stdout (bare —
  * build.sbt routes forked run output through StdoutOutput so sbt does not
  * `[info]`-prefix it) and to `target/bench.json` for robust extraction.
  *
  * Timing action is a `noop`-format write, not `count()`: under a count
  * aggregate Catalyst's EliminateSorts removes global sorts and column
  * pruning deletes unused projections, so sort/projection queries would
  * report scan time only. The noop sink forces full evaluation of every
  * output column with zero driver-side collection and zero I/O.
  *
  * A query that throws is excluded from the reported total and listed in
  * `"failed"` (and the process exits nonzero) — a broken query must never
  * read as a fast run.
  */
object Bench {

  /** One query's timing outcome: the per-run seconds that completed,
    * and the first failure as `<exception class>: <message>` (r9
    * verdict: the old catch dropped the exception, so a failed
    * OFFICIAL record carried only the query name and could not
    * self-diagnose — the x5j failure took a judge re-run to explain).
    */
  final case class Timed(times: Seq[Double], err: Option[String])

  /** Time `mk()` `nRuns` times under [[BenchProtocol]]; a run that
    * throws contributes no time but records the reason. Factored out
    * of `main` so a spec can pin the err format on a deliberately
    * broken query.
    */
  def timeQuery(spark: org.apache.spark.sql.SparkSession, nRuns: Int,
      gcMode: String)(mk: () => DataFrame): Timed = {
    var err: Option[String] = None
    val times = (1 to nRuns).flatMap { _ =>
      val t0 = System.nanoTime()
      try {
        BenchProtocol.evaluate(mk())
        val dt = (System.nanoTime() - t0) / 1e9
        BenchProtocol.releaseStorage(spark, gcMode)
        Some(dt)
      } catch {
        case e: Throwable =>
          if (err.isEmpty) {
            val msg = String.valueOf(e.getMessage)
              .linesIterator.mkString(" ").take(300)
            err = Some(e.getClass.getName + ": " + msg)
          }
          BenchProtocol.releaseStorage(spark, gcMode)
          None
      }
    }
    Timed(times, err)
  }

  /** Minimal JSON string escaping for the failure messages — Spark
    * exception texts carry quotes/newlines that would break the
    * one-line record.
    */
  def jsonEscape(s: String): String = s.flatMap {
    case '"'           => "\\\""
    case '\\'          => "\\\\"
    case '\n'          => "\\n"
    case '\r'          => "\\r"
    case '\t'          => "\\t"
    case c if c < ' '  => f"\\u${c.toInt}%04x"
    case c             => c.toString
  }

  /** `v` with `digits` decimals, formatted the same in every default
    * locale: a decimal comma would make the record invalid JSON.
    */
  def fixed(v: Double, digits: Int): String =
    s"%.${digits}f".formatLocal(java.util.Locale.ROOT, v)

  /** The stdout contract line. It carries the medians of the most
    * expensive queries, added in descending median order while the line
    * stays within `lineBudget` bytes; `queries_omitted` counts the rest.
    */
  def contractLine(total: Double, calib: Double, calibIo: Double,
      sweeps: Int, calibsJson: String, source: String, nFailed: Int,
      ioJson: String, ok: Map[String, Double], sfDir: String,
      lineBudget: Int): String = {
    val valueCalib = total / calib
    def summaryWith(entries: Seq[(String, Double)], omitted: Int): String = {
      val qsTop = entries.map { case (k, v) => "\"" + k + "\":" + fixed(v, 3) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"value_calib":$valueCalib,"unit":"sec","stat":"median_of_sweeps","sweeps":$sweeps,"calib":$calib,"calib_io":$calibIo,"calibs":$calibsJson,"source":"$source","n":${ok.size},"n_failed":$nFailed,"io":$ioJson,"queries":$qsTop,"queries_omitted":$omitted,"sf":"$sfDir"}"""
    }
    val byCost = ok.toSeq.sortBy { case (k, v) => (-v, k) }
    // largest prefix of the cost-ordered queries that keeps the line
    // within budget (every prefix is monotonically longer, so the scan
    // finds the exact cut)
    val kFit = (0 to byCost.size).reverse
      .find(k => summaryWith(byCost.take(k), byCost.size - k).length <= lineBudget)
      .getOrElse(0)
    summaryWith(byCost.take(kFit), byCost.size - kFit)
  }

  def main(args: Array[String]): Unit = {
    // mechanical mutual exclusion with any ScaleProbe chain — fail fast
    // BEFORE building a session, so a contaminated official record
    // (the r9 failure mode) is impossible rather than discouraged
    val benchLock = BenchProtocol.acquireBenchLock()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle-file cleanup mode (SPARK_GRAFT_GC) — the r7 full sweep
    // regressed uniformly 1.56x after releaseStorage() gained a bare
    // System.gc(): the gc call itself sits OUTSIDE the timed window, but
    // ContextCleaner's shuffle-file deletion it triggers is ASYNC and its
    // I/O bled into the NEXT query's timed run. "blocking" (default)
    // keeps the gc and makes the cleaner wait for shuffle deletion to
    // finish inside releaseStorage — cleanup still happens every timing
    // (the sf10 disk-exhaustion lesson) but completes before the next
    // clock starts. "async" reproduces the r7 behavior, "off" skips the
    // gc entirely — both kept for A/B probes (BENCHNOTES r8).
    val gcMode = sys.env.getOrElse("SPARK_GRAFT_GC", "blocking")
    require(Set("blocking", "async", "off")(gcMode),
      s"SPARK_GRAFT_GC must be blocking|async|off, got '$gcMode'")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.blocking.shuffle",
        (gcMode == "blocking").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Spark's WindowExec warns "No Partition Defined" on EVERY global
    // window, including the handful of demo sites whose input is provably
    // bounded (top-K after LIMIT, aggregate-to-constant) — and those are
    // already regression-gated by the PlanSpec window-discipline sweep
    // over all demos (an unpartitioned window over UNBOUNDED input fails
    // `sbt test`). The burst drowned real warnings in the bench tail
    // (r6 verdict), so silence that one logger here; the gate, not the
    // logger, is the discipline.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    graft.sources.Tables.bootstrap(spark)

    // shared protocol (BenchProtocol — ONE definition with ScaleProbe so
    // cross-harness ratios stay protocol-consistent); Bench additionally
    // warms the entry query (a real datasource scan on the smallest
    // fixture)
    BenchProtocol.warmup(spark)
    try BenchProtocol.evaluate(SparkEntry.entry(spark))
    catch { case _: Throwable => }

    // steady-state timing: SWEEPS whole-suite repetitions, per-query
    // MEDIAN across sweeps (sweep 1 pays per-query codegen, which a
    // long-running cluster amortizes away — the median discards it)
    // SPARK_GRAFT_ONLY: comma-separated name prefixes for local builder
    // iteration on a query subset (the driver never sets it → full run)
    // SPARK_GRAFT_RUNS: runs per query per sweep (default 1); big local
    // scale probes keep 1 — a ratio is protocol-consistent as long as
    // BOTH scale points use the same run count (the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    // SPARK_GRAFT_SWEEPS: whole-suite repetitions (default 3) — the
    // OFFICIAL per-query statistic is the MEDIAN across sweeps (r11
    // verdict item 2: three same-code close sweeps spread ±7% on the
    // total; a single-sweep number inherits whichever I/O window it ran
    // in, and min-of-back-to-back-runs shares one window). Sweeps
    // repeat the whole suite, so a query's samples land in DIFFERENT
    // windows; the median is robust to one bad window AND to sweep 1's
    // per-query codegen warmup.
    def intEnv(name: String, default: Int): Int = {
      val raw = sys.env.getOrElse(name, default.toString)
      val n = raw.toIntOption.getOrElse(sys.error(
        s"$name must be a positive integer, got '$raw'"))
      require(n >= 1, s"$name must be >= 1, got $n")
      n
    }
    // runs-per-query-per-sweep default drops to 1: the cross-sweep
    // median replaces min-of-2 as the steady-state estimator (3 sweeps
    // of 1 cost the same as 1 sweep of 3 and sample 3 windows, not 1)
    val nRuns = intEnv("SPARK_GRAFT_RUNS", 1)
    val sweeps = intEnv("SPARK_GRAFT_SWEEPS", 3)
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    // calibration measured PER SWEEP, immediately before the sweep's
    // queries, official scalar = the cross-sweep MEDIAN (r16 verdict
    // item 5: one calibration per run is itself weather-exposed — r16's
    // three same-day windows measured calib 2.01/1.55/4.21, so the two
    // normalizations of the same record disagreed by 3×; per-sweep
    // calibs sample the same windows the query medians do, and the
    // median discards the one bad window exactly like the query stat)
    val sweepCalibs = Array.fill(sweeps)(0.0)
    val sweepCalibsIo = Array.fill(sweeps)(0.0)
    val perSweep: Seq[Map[String, Timed]] = (1 to sweeps).map { s =>
      sweepCalibs(s - 1) = BenchProtocol.calib(spark)
      sweepCalibsIo(s - 1) = BenchProtocol.calibIo(spark)
      queries.map { case (name, fn) =>
        val t = timeQuery(spark, nRuns, gcMode)(() => fn(spark, sfDir))
        // per-query progress on stderr: long sweeps were a black box
        // until the final JSON (stdout stays reserved for that line)
        System.err.println(
          s"[bench $s/$sweeps] $name ${t.times.map(fixed(_, 2)).mkString("/")}s" +
            (if (t.times.size < nRuns)
              " FAILED " + t.err.getOrElse("") else ""))
        name -> t
      }
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val calib = median(sweepCalibs.toSeq)
    val calibIo = median(sweepCalibsIo.toSeq)
    // every run of every sweep must succeed, else the query is a
    // failure, not a time; the per-sweep sample is that sweep's min
    val ok = queries.keys.toSeq.collect(scala.Function.unlift { k =>
      val samples = perSweep.map(_(k))
      if (samples.forall(_.times.size == nRuns))
        Some(k -> median(samples.map(_.times.min)))
      else None
    }).toMap
    val failedMap = queries.keys.toSeq.collect(scala.Function.unlift { k =>
      val samples = perSweep.map(_(k))
      if (samples.forall(_.times.size == nRuns)) None
      else Some(k -> samples.flatMap(_.err).headOption
        .getOrElse("run did not complete"))
    }).toMap
    val failed = failedMap.keys.toSeq.sorted
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // calib-normalized medians: three rounds running, the per-query
    // regression read was dominated by box noise (every LSH query
    // tracking the cpu-calib swing) — the judge diffs THIS field across
    // rounds so a plan regression separates from weather (r13 verdict
    // item 7). Normalization is by the same run's cpu calib; sub-1e-9
    // calibs are a broken calibration, not a fast box — fail loudly.
    require(calib > 1e-9, s"cpu calib implausibly small: $calib")
    val qsCalib = ok.map { case (k, v) => "\"" + k + "\":" + (v / calib) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // I/O-BOUND flags (r17 verdict item 8): queries that write+read
    // their own scratch data inside the timed region (store/snapshot/
    // model materialization demos), so their seconds track calib_io —
    // disk weather — under zero code change (r17 measured x12 1.59→2.57
    // and calib_io 2.46→1.03 across same-code windows). Flagging them
    // makes cross-round weather attribution mechanical: a mover on this
    // list needs a calib_io-sized discount before it reads as a code
    // delta. Membership is structural (the demo performs its own
    // filesystem writes), not measured, so the list is stable across
    // rounds and additions-only.
    val ioQueries = Seq(
      "x12_scd2_snapshot", "x13_incremental", "x24_jsonl_roundtrip",
      "x25_partition_pruning", "x26_bucketed_join", "x38_orc_roundtrip",
      "x43_shard_pipeline", "x44_schema_evolution",
      "x59_lsh_store_maintenance",
      "q33_jinja_model", "q34_jinja_vars", "q35_jinja_filters",
      "q36_seed_column_types", "q37_exposure_select", "q38_metric_calculate",
      "q39_source_staging", "q40_run_hooks", "q41_dbt_utils_shims",
      "q42_model_contract", "q43_test_severity_audit", "q44_analysis_compile")
    val ioJson = ioQueries.filter(queries.contains)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // `failed` keeps its name-only shape (the driver parses it);
    // `failed_detail` carries the reason so a failed official record is
    // self-diagnosing (r9 verdict item 3)
    val failedDetailJson = failed.map(k =>
      s"""{"name":"$k","err":"${jsonEscape(failedMap(k))}"}""")
      .mkString("[", ",", "]")
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    // per-sweep totals over the queries that succeeded everywhere: the
    // same-code spread is part of the record (r11 close measured ±7%
    // across three sweeps — a cross-round comparison needs to know it)
    val sweepTotals = perSweep
      .map(m => ok.keys.map(k => m(k).times.min).sum)
      .map(fixed(_, 3)).mkString("[", ",", "]")
    // record provenance (r16 verdict item 4: two "official" r16 records
    // coexisted — the builder's close run and the driver's post-close
    // run — and nothing in either file said which was which): the
    // harness stamps who invoked it; round_close exports builder-close
    val source = sys.env.getOrElse("SPARK_GRAFT_BENCH_SOURCE", "driver")
    val calibsJson = sweepCalibs.map(fixed(_, 6)).mkString("[", ",", "]")
    val calibsIoJson = sweepCalibsIo.map(fixed(_, 6)).mkString("[", ",", "]")
    // "queries" carries the official (median) statistic; the explicit
    // "queries_median" alias says so to any consumer diffing rounds
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","stat":"median_of_sweeps","sweeps":$sweeps,"sweep_totals":$sweepTotals,"calib":$calib,"calib_io":$calibIo,"calibs":$calibsJson,"calibs_io":$calibsIoJson,"source":"$source","io":$ioJson,"queries":$qs,"queries_median":$qs,"queries_median_calib":$qsCalib,"failed":$failedJson,"failed_detail":$failedDetailJson,"sf":"$sfDir"}"""
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/bench.json"),
      (json + "\n").getBytes(StandardCharsets.UTF_8))
    // Also write the full record (per-query timings + failed list) to a
    // TRACKED path: the driver's BENCH_r{N}.json captures only the stdout
    // tail, so without this the per-query numbers and the names of failed
    // queries exist solely in the untracked target/ dir (round-4 advice).
    // Committed once per round alongside BENCHNOTES.md. Resolved against
    // the repo root (SPARK_GRAFT_REPO, else the sbt-set user.dir, else
    // CWD) so an out-of-repo-root caller doesn't scatter the record
    // (round-5 advice).
    val repoRoot = BenchProtocol.repoRoot
    // scale-factor guard (r14 advice, high): the r14 committed record
    // was accidentally produced at sf0.01 while every consumer
    // (round_close, sync_benchnotes, cross-round diffs) assumes the
    // protocol-pinned sf0.1 — refuse to overwrite an official record
    // with one measured at a DIFFERENT sf unless the operator says so
    // explicitly (SPARK_GRAFT_ALLOW_SF_CHANGE=1)
    val fullPath = Paths.get(repoRoot, "BENCH_FULL.json")
    val priorSf = if (Files.exists(fullPath)) {
      val prior = new String(Files.readAllBytes(fullPath), StandardCharsets.UTF_8)
      // anchored to the record's tail: "sf" is the LAST field of the
      // full record by construction, and an unanchored first-match could
      // be fooled by a failed_detail error string that happens to
      // contain the substring (r15 advice)
      val m = """"sf":"([^"]+)"\}\s*$""".r.findFirstMatchIn(prior).map(_.group(1))
      // an EXISTING record the anchor cannot parse must not silently
      // disable the sf-mismatch guard (r16 advice: a field-order change
      // or hand edit would have let a wrong-sf run overwrite the
      // official record without SPARK_GRAFT_ALLOW_SF_CHANGE) — refuse
      // with the same explicit override
      if (m.isEmpty && sys.env.get("SPARK_GRAFT_ALLOW_SF_CHANGE").isEmpty) {
        val refusedPath = Paths.get(repoRoot, "target", "bench_refused.json")
        Files.createDirectories(refusedPath.getParent)
        Files.write(refusedPath, (json + "\n").getBytes(StandardCharsets.UTF_8))
        println(s"""{"metric":"refused","reason":"existing BENCH_FULL.json has no parseable tail-anchored sf field — cannot verify sf continuity; fix or remove the file, or set SPARK_GRAFT_ALLOW_SF_CHANGE=1; full record left at $refusedPath"}""")
        spark.stop()
        benchLock.close()
        sys.exit(1)
      }
      m
    } else None
    priorSf.filter(p => p != sfDir &&
        sys.env.get("SPARK_GRAFT_ALLOW_SF_CHANGE").isEmpty).foreach { p =>
      // repoRoot-anchored like BENCH_FULL itself (r15 advice: a
      // CWD-relative path scattered the refusal record — and made the
      // printed pointer wrong — for out-of-repo-root callers)
      val refusedPath = Paths.get(repoRoot, "target", "bench_refused.json")
      Files.createDirectories(refusedPath.getParent)
      Files.write(refusedPath, (json + "\n").getBytes(StandardCharsets.UTF_8))
      println(s"""{"metric":"refused","reason":"sf mismatch: prior record is $p, this run is $sfDir — set SPARK_GRAFT_ALLOW_SF_CHANGE=1 to accept; full record left at $refusedPath"}""")
      spark.stop()
      benchLock.close()
      sys.exit(1)
    }
    Files.write(fullPath,
      (json + "\n").getBytes(StandardCharsets.UTF_8))
    // The full line above carries every per-query timing (~4 KB) and has
    // twice fallen out of the driver's stdout tail-capture window (the r1
    // and r2 BENCH records are exactly 2000 chars of tail with the line's
    // HEAD cut off — the rounds had no parsed bench at all), leaving the
    // official record unparsed. So the stdout line must stay inside a
    // ~2000-char tail — which also means the COMPLETE 164-query map
    // (~4 KB of names alone) can never ride it. The r17 verdict (item 2)
    // asks for per-query medians in the contract line so PERF can score
    // per-query deltas; the largest slice that fits is the TOP-K most
    // expensive queries — where all optimization signal lives (the tail
    // below the cut sits at the 0.3–0.5 s job-launch floor and reads as
    // noise anyway). Entries are added in descending median order until
    // the line would exceed the budget; the complete map is in
    // BENCH_FULL.json (committed) and target/bench.json as before.
    // "queries_omitted" says how many didn't fit, so no consumer can
    // mistake the slice for the whole suite.
    // 1650, not 2000: the window must also hold sbt's trailing
    // "[success] Total time..." line (~74 bytes, measured across 20+
    // runs) plus slack for a stray shutdown WARN — a line that
    // overruns gets HEAD-truncated and the round loses its bench
    // record entirely (the r1/r2 failure mode), which is never worth a
    // few more sub-2s entries whose deltas are noise anyway
    val summary = contractLine(total, calib, calibIo, sweeps, calibsJson,
      source, failed.size, ioJson, ok, sfDir, lineBudget = 1650)
    println(summary)
    spark.stop()
    benchLock.close()
    if (failed.nonEmpty) sys.exit(1)
  }
}
