package perfbench

/** Per-layer metrics of the traced passes, each averaged per pass. Layers
  * are the program's modules as the harness enters them:
  *   - operators: the `SparkEntry.queries(name)` call that builds each
  *                dedup_corpus op's frame; every one of those builders is a
  *                single `TextDedup`/`TextAnalysis` call, so the `queries.*`
  *                build metrics and the `operators.*` metrics measure the
  *                same spans;
  *   - plans:     `queryExecution.executedPlan`, plus the plan nodes of
  *                every query the pass's ops executed (not their checks);
  *   - exec:      all Spark jobs, stages and tasks of the pass;
  *   - models:    `SqlDag.build`, `Incremental.run`, `Snapshot`, and the
  *                data-test jobs launched from `GenericTests`;
  *   - sources:   `Tables.*` calls and file-scan time;
  *   - harness:   `BenchProtocol.releaseStorage` between ops.
  */
object Layers {
  val SelfLayers = Seq("op", "operators", "plans", "exec", "models", "sources",
    "harness")

  private def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2).toDouble
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var end = Double.NegativeInfinity
    clipped.foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def metrics(tracer: Tracer, spans: SpanListener, plans: PlanListener,
      ops: Seq[Main.OpRecord], passes: Seq[Map[String, Any]], nPasses: Int,
      threads: Int): Map[String, Double] = {
    val n = nPasses.toDouble
    val all = tracer.spans.toSeq
    val byId = all.map(s => s.id -> s).toMap
    // span -1 holds the jobs of output checks, which run outside every span
    val work = spans.bySpan.toMap.filter(_._1 >= 0)
    def w(s: Span) = work.get(s.id)
    def sumS(p: Span => Boolean) = all.filter(p).map(_.seconds).sum
    def jobsIn(p: Span => Boolean) = all.filter(p).flatMap(w).map(_.jobs).sum
    val allWork = work.values.toSeq
    def total(f: SparkWork => Long) = allWork.map(f).sum.toDouble

    val isBuild = (s: Span) => s.layer == "operators"
    val isDag = (s: Span) => s.name == "SqlDag.build"

    // share of op wall time with no task running, and tasks per thread-second
    val opSpans = all.filter(_.layer == "op")
    val opSeconds = opSpans.map(_.seconds).sum
    val tasks = allWork.flatMap(_.taskIntervals).map { case (a, b) => (a.toDouble, b.toDouble) }
    val busyMs = opSpans.map(s =>
      covered(tasks, tracer.epochMs(s.startNs), tracer.epochMs(s.endNs))).sum
    val idle = if (opSeconds > 0) 1.0 - busyMs / 1e3 / opSeconds else 0.0
    val taskS = total(_.taskMs) / 1e3
    val parallelism = if (opSeconds > 0) taskS / (opSeconds * threads) else 0.0
    val slowest = spans.stages.values.toSeq.sortBy(-_._1).headOption
    // task times are whole milliseconds; a median under 1 ms counts as 1 ms
    val skew = slowest.filter(_._2.nonEmpty).fold(0.0) { case (_, times) =>
      times.max / median(times.toSeq).max(1.0)
    }

    val nodes = ops.filter(_.name == "build")
      .map(_.check.get("nodes").fold(0.0)(_.toString.toDouble)).sum
    val dagJobs = jobsIn(isDag)

    val selfTimes = SelfLayers.map { layer =>
      val own = all.filter(_.layer == layer)
      val childS = all.filter(c => c.parent >= 0 && byId(c.parent).layer == layer)
        .map(_.seconds).sum
      s"self.${layer}_s" -> (own.map(_.seconds).sum - childS) / n
    }

    def passMean(key: String) =
      passes.flatMap(_.get(key)).map(_.toString.toDouble).sum / n

    Map(
      "queries.build_s" -> sumS(isBuild) / n,
      "queries.build_jobs" -> jobsIn(isBuild) / n,
      "operators.call_s" -> sumS(isBuild) / n,
      "operators.jobs" -> jobsIn(isBuild) / n,
      "plans.plan_s" -> sumS(_.layer == "plans") / n,
      "plans.exchanges" -> plans.exchanges / n,
      "plans.scans" -> plans.scans / n,
      "plans.queries" -> plans.queries / n,
      "exec.jobs" -> total(_.jobs) / n,
      "exec.stages" -> spans.stages.size / n,
      "exec.tasks" -> total(_.tasks) / n,
      "exec.task_s" -> taskS / n,
      "exec.task_cpu_s" -> total(_.taskCpuNs) / 1e9 / n,
      "exec.shuffle_write_mb" -> total(_.shuffleWriteBytes) / 1e6 / n,
      "exec.shuffle_read_mb" -> total(_.shuffleReadBytes) / 1e6 / n,
      "exec.spill_mb" -> total(_.spillBytes) / 1e6 / n,
      "exec.idle_frac" -> idle,
      "exec.parallelism" -> parallelism,
      "exec.skew" -> skew,
      "models.build_s" -> sumS(isDag) / n,
      "models.nodes" -> nodes / n,
      "models.jobs_per_node" -> (if (nodes > 0) dagJobs / nodes else 0.0),
      "models.test_s" -> total(_.testJobMs) / 1e3 / n,
      "models.incremental_s" -> sumS(_.name == "Incremental.run") / n,
      "models.snapshot_s" -> sumS(_.name == "Snapshot.checkStrategy") / n,
      "models.files_written" -> passMean("data_files"),
      "written_mb" -> passMean("written_bytes") / 1e6,
      "sources.read_s" -> (sumS(_.layer == "sources") + plans.scanTimeMs / 1e3) / n,
      "sources.rows_read" -> total(_.inputRecords) / n,
      "sources.bytes_read_mb" -> total(_.inputBytes) / 1e6 / n,
      "harness.release_s" -> sumS(_.layer == "harness") / n,
    ) ++ selfTimes
  }
}
