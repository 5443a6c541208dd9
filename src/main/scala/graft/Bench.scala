package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
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
    * and the first failure as `<exception class>: <message>`, so a
    * record with a failed query says why it failed without a re-run.
    */
  final case class Timed(times: Seq[Double], err: Option[String])

  /** Time `mk()` `nRuns` times under [[BenchProtocol]]; a run that
    * throws contributes no time but records the reason. Factored out
    * of `main` so a spec can pin the err format on a deliberately
    * broken query.
    */
  def timeQuery(spark: SparkSession, nRuns: Int)(mk: () => DataFrame): Timed = {
    var err: Option[String] = None
    val times = (1 to nRuns).flatMap { _ =>
      val t0 = System.nanoTime()
      try {
        BenchProtocol.evaluate(mk())
        val dt = (System.nanoTime() - t0) / 1e9
        BenchProtocol.releaseStorage(spark)
        Some(dt)
      } catch {
        case e: Throwable =>
          if (err.isEmpty) {
            val msg = String.valueOf(e.getMessage)
              .linesIterator.mkString(" ").take(300)
            err = Some(e.getClass.getName + ": " + msg)
          }
          BenchProtocol.releaseStorage(spark)
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

  /** Where a run keeps its full record besides `target/bench.json`: the
    * tracked `BENCH_FULL.json` under `repoRoot` for a full-suite run, and
    * nowhere for a `SPARK_GRAFT_ONLY` subset, whose partial record would
    * replace the full suite's.
    */
  def fullRecordPath(repoRoot: String, only: Option[Seq[String]]): Option[Path] =
    if (only.isEmpty) Some(Paths.get(repoRoot, "BENCH_FULL.json")) else None

  def main(args: Array[String]): Unit = {
    // mutual exclusion with any other timing harness, taken before the
    // session is built so a concurrent run fails fast instead of
    // contaminating this record
    val benchLock = BenchProtocol.acquireBenchLock()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)

    // the protocol shared with perfbench; Bench also warms the entry
    // query (a real datasource scan on the smallest fixture)
    BenchProtocol.warmup(spark)
    try BenchProtocol.evaluate(SparkEntry.entry(spark))
    catch { case _: Throwable => }

    // steady-state timing: SWEEPS whole-suite repetitions, per-query
    // median across sweeps (sweep 1 pays per-query codegen, which a
    // long-running cluster amortizes away; the median discards it)
    // SPARK_GRAFT_ONLY: comma-separated name prefixes to time a query
    // subset (unset: the full suite)
    // SPARK_GRAFT_RUNS: runs per query per sweep (default 1); a ratio
    // between two scale points holds as long as both use the same count
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    // SPARK_GRAFT_SWEEPS: whole-suite repetitions (default 3); the
    // reported per-query statistic is the median across sweeps. Three
    // sweeps of the same code spread ±7% on the total, and a
    // single-sweep number inherits whichever I/O window it ran in.
    // Sweeps repeat the whole suite, so a query's samples land in
    // different windows; the median is robust to one bad window and to
    // sweep 1's per-query codegen warmup.
    // one run per query per sweep by default: the cross-sweep median is
    // the steady-state estimator, and 3 sweeps of 1 cost the same as 1
    // sweep of 3 but sample 3 windows, not 1
    val nRuns = GraftSession.intEnv("SPARK_GRAFT_RUNS", 1)
    val sweeps = GraftSession.intEnv("SPARK_GRAFT_SWEEPS", 3)
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    // calibration measured per sweep, immediately before the sweep's
    // queries; the reported scalar is the cross-sweep median. One
    // calibration per run is itself exposed to the box's weather (three
    // windows of one day measured 2.01/1.55/4.21); per-sweep calibs
    // sample the same windows the query medians do, and the median
    // discards one bad window just as the query statistic does
    val sweepCalibs = Array.fill(sweeps)(0.0)
    val sweepCalibsIo = Array.fill(sweeps)(0.0)
    val perSweep: Seq[Map[String, Timed]] = (1 to sweeps).map { s =>
      sweepCalibs(s - 1) = BenchProtocol.calib(spark)
      sweepCalibsIo(s - 1) = BenchProtocol.calibIo(spark)
      queries.map { case (name, fn) =>
        val t = timeQuery(spark, nRuns)(() => fn(spark, sfDir))
        // per-query progress on stderr (stdout is reserved for the
        // record line)
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
    // calib-normalized medians: per-query times track the box's CPU
    // speed (every LSH query follows the cpu-calib swing), so comparing
    // this field between records separates a plan regression from the
    // weather. Normalization is by the same run's cpu calib; a sub-1e-9
    // calib is a broken calibration, not a fast box, and fails.
    require(calib > 1e-9, s"cpu calib implausibly small: $calib")
    val qsCalib = ok.map { case (k, v) => "\"" + k + "\":" + (v / calib) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // I/O-bound queries: they write and read their own scratch data
    // inside the timed region (store, snapshot and model materialization
    // demos), so their seconds track calib_io, the disk's speed, with no
    // code change (x12 measured 1.59 → 2.57 s while calib_io went
    // 2.46 → 1.03 between windows of the same code). A mover on this
    // list needs a calib_io-sized discount before it reads as a code
    // change. Membership is structural (the demo performs its own
    // filesystem writes), not measured, so the list is stable.
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
    // `failed_detail` carries the reason
    val failedDetailJson = failed.map(k =>
      s"""{"name":"$k","err":"${jsonEscape(failedMap(k))}"}""")
      .mkString("[", ",", "]")
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    // per-sweep totals over the queries that succeeded everywhere: the
    // same-code spread (±7% across three sweeps) is part of the record,
    // since a comparison between records needs to know it
    val sweepTotals = perSweep
      .map(m => ok.keys.map(k => m(k).times.min).sum)
      .map(fixed(_, 3)).mkString("[", ",", "]")
    // record provenance: SPARK_GRAFT_BENCH_SOURCE names who ran the
    // bench (round_close.sh exports builder-close), so two records of
    // the same code can be told apart
    val source = sys.env.getOrElse("SPARK_GRAFT_BENCH_SOURCE", "driver")
    val calibsJson = sweepCalibs.map(fixed(_, 6)).mkString("[", ",", "]")
    val calibsIoJson = sweepCalibsIo.map(fixed(_, 6)).mkString("[", ",", "]")
    // "queries" carries the reported (median) statistic; the explicit
    // "queries_median" alias says so to any consumer diffing records
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","stat":"median_of_sweeps","sweeps":$sweeps,"sweep_totals":$sweepTotals,"calib":$calib,"calib_io":$calibIo,"calibs":$calibsJson,"calibs_io":$calibsIoJson,"source":"$source","io":$ioJson,"queries":$qs,"queries_median":$qs,"queries_median_calib":$qsCalib,"failed":$failedJson,"failed_detail":$failedDetailJson,"sf":"$sfDir"}"""
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/bench.json"),
      (json + "\n").getBytes(StandardCharsets.UTF_8))
    // Also write the full record (per-query timings + failed list) to a
    // tracked path, BENCH_FULL.json, on a full-suite run: the stdout line
    // carries only the most expensive queries, and target/ is not
    // tracked. Resolved against BenchProtocol.repoRoot so a caller
    // outside the repo root still writes it into the repo.
    val repoRoot = BenchProtocol.repoRoot
    // scale-factor guard: every consumer of BENCH_FULL.json
    // (round_close, sync_benchnotes, record diffs) assumes sf0.1, so a
    // record measured at a different sf does not overwrite it unless
    // SPARK_GRAFT_ALLOW_SF_CHANGE=1 says so
    val fullPath = fullRecordPath(repoRoot, only)
    val priorSf = fullPath.filter(Files.exists(_)).flatMap { fullPath =>
      val prior = new String(Files.readAllBytes(fullPath), StandardCharsets.UTF_8)
      // anchored to the record's tail: "sf" is the last field of the
      // full record by construction, and an unanchored first match could
      // hit a failed_detail error string that contains the substring
      val m = """"sf":"([^"]+)"\}\s*$""".r.findFirstMatchIn(prior).map(_.group(1))
      // an existing record the anchor cannot parse (a field-order
      // change or a hand edit) must not disable the sf guard: refuse,
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
    }
    priorSf.filter(p => p != sfDir &&
        sys.env.get("SPARK_GRAFT_ALLOW_SF_CHANGE").isEmpty).foreach { p =>
      // repoRoot-anchored like BENCH_FULL itself, so the printed
      // pointer is right for a caller outside the repo root
      val refusedPath = Paths.get(repoRoot, "target", "bench_refused.json")
      Files.createDirectories(refusedPath.getParent)
      Files.write(refusedPath, (json + "\n").getBytes(StandardCharsets.UTF_8))
      println(s"""{"metric":"refused","reason":"sf mismatch: prior record is $p, this run is $sfDir — set SPARK_GRAFT_ALLOW_SF_CHANGE=1 to accept; full record left at $refusedPath"}""")
      spark.stop()
      benchLock.close()
      sys.exit(1)
    }
    fullPath.foreach(Files.write(_,
      (json + "\n").getBytes(StandardCharsets.UTF_8)))
    // The full line above carries every per-query timing (~4 KB); a
    // consumer that captures only the last ~2000 characters of stdout
    // would cut its head off and lose the record. So the stdout line
    // carries the per-query medians of the most expensive queries, which
    // is where the optimization signal is (the tail sits at the
    // 0.3–0.5 s job-launch floor). Entries are added in descending
    // median order until the line would exceed the budget;
    // "queries_omitted" counts the rest, so nobody mistakes the slice
    // for the whole suite. The complete map is in BENCH_FULL.json and
    // target/bench.json.
    // 1650, not 2000: the window must also hold sbt's trailing
    // "[success] Total time..." line (~74 bytes) plus slack for a stray
    // shutdown WARN, and a line that overruns loses the whole record
    val summary = contractLine(total, calib, calibIo, sweeps, calibsJson,
      source, failed.size, ioJson, ok, sfDir, lineBudget = 1650)
    println(summary)
    spark.stop()
    benchLock.close()
    if (failed.nonEmpty) sys.exit(1)
  }
}
