package graft

/** Harness-discipline specs: the bench/probe mutual-exclusion lock,
  * failure-reason capture in the timing loop, the record line's JSON,
  * and which runs may write the tracked full record. None touches query
  * semantics; they keep a bench record from being contaminated by a
  * concurrent run, losing why a query failed, or being replaced by a
  * subset run's.
  */
class BenchSpec extends SparkSpec {

  test("bench lock: second acquirer fails fast with a named refusal") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-lock-spec").toString
    val held = BenchProtocol.acquireBenchLock(root)
    try {
      // a dummy holder is live → a second harness must be REFUSED, not
      // queued and not silently co-scheduled
      val e = intercept[IllegalStateException] {
        BenchProtocol.acquireBenchLock(root)
      }
      assert(e.getMessage.contains("HELD"))
      assert(e.getMessage.contains(".graft_bench_lock"))
      // the refusal names the holder pid for diagnosis
      assert(e.getMessage.contains("pid="))
    } finally held.close()
    // released → the next harness acquires normally
    val again = BenchProtocol.acquireBenchLock(root)
    again.close()
  }

  test("bench lock: locks under different roots are independent") {
    val r1 = java.nio.file.Files.createTempDirectory("graft-lock-a").toString
    val r2 = java.nio.file.Files.createTempDirectory("graft-lock-b").toString
    val a = BenchProtocol.acquireBenchLock(r1)
    val b = BenchProtocol.acquireBenchLock(r2) // different box-scope: fine
    a.close(); b.close()
  }

  test("timeQuery records the failure reason as <class>: <message>") {
    val t = Bench.timeQuery(spark, nRuns = 1)(() =>
      throw new RuntimeException("boom: stage 3 lost"))
    assert(t.times.isEmpty)
    assert(t.err === Some("java.lang.RuntimeException: boom: stage 3 lost"))
    // multiline Spark messages flatten to one line, bounded length
    val t2 = Bench.timeQuery(spark, nRuns = 1)(() =>
      throw new IllegalStateException("line1\nline2\n" + "x" * 500))
    val err2 = t2.err.get
    assert(err2.startsWith("java.lang.IllegalStateException: line1 line2"))
    assert(err2.length <= "java.lang.IllegalStateException: ".length + 300)
    // a healthy query times normally and carries no err
    val ok = Bench.timeQuery(spark, nRuns = 2)(() =>
      spark.range(10).toDF("id"))
    assert(ok.times.size === 2 && ok.err.isEmpty)
  }

  test("contract line numbers parse as JSON under a decimal-comma locale") {
    val before = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val line =
      try {
        assert(f"${1.5}%.1f" === "1,5") // the locale really is in force
        Bench.contractLine(total = 12.25, calib = 1.5, calibIo = 0.75,
          sweeps = 3, calibsJson = Seq(1.4, 1.5, 1.6).map(Bench.fixed(_, 6))
            .mkString("[", ",", "]"),
          source = "spec", nFailed = 0, ioJson = "[]",
          ok = Map("q01" -> 2.125, "q02" -> 0.5), sfDir = "sf0.1", lineBudget = 1650)
      } finally java.util.Locale.setDefault(before)
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(tree.get("queries").get("q01").asDouble() === 2.125)
    assert(tree.get("calibs").get(1).asDouble() === 1.5)
    assert(tree.get("queries_omitted").asInt() === 0)
  }

  test("jsonEscape keeps failure messages one-line-JSON safe") {
    assert(Bench.jsonEscape("""say "hi"\ now""") === """say \"hi\"\\ now""")
    assert(Bench.jsonEscape("a\nb\tc\rd") === "a\\nb\\tc\\rd")
    assert(Bench.jsonEscape("ctrl:" + 1.toChar) === "ctrl:\\u0001")
  }

  test("a SPARK_GRAFT_ONLY subset run leaves the tracked full record alone") {
    assert(Bench.fullRecordPath("/repo", None) ===
      Some(java.nio.file.Paths.get("/repo", "BENCH_FULL.json")))
    assert(Bench.fullRecordPath("/repo", Some(Seq("x12", "x13"))) === None)
  }
}
