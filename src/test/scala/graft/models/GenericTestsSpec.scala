package graft.models

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The dbt generic-test helpers: violation detection on crafted frames,
  * and the project's test suite over the real seeds — where the integrity
  * tests all pass, and the grain checks flag exactly what they should:
  * the fan-out bug in the checked-in mart (the reference bug-analysis
  * doc's thesis), plus the reference grain test's documented
  * over-strictness on the payment-only month.
  */
class GenericTestsSpec extends SparkSpec {

  import GenericTests._

  private def df(rows: Seq[(Integer, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  test("unique flags duplicated keys with counts; NULL keys exempt (dbt semantics)") {
    val d = df(Seq((1, "a"), (2, "b"), (2, "c"), (3, null)))
    val viol = unique(d, "k").collect()
    assert(viol.map(r => (r.getInt(0), r.getLong(1))).toSeq === Seq((2, 2L)))
    assert(unique(df(Seq((1, "a"), (2, "b"))), "k").isEmpty)
    // two NULL keys are not a uniqueness violation — dbt's unique filters
    // `where column is not null`; nullability is not_null's job
    assert(unique(df(Seq((null, "a"), (null, "b"), (1, "c"))), "k").isEmpty)
  }

  test("notNull flags null rows only") {
    val d = df(Seq((1, "a"), (2, null), (3, null)))
    assert(notNull(d, "v").count() === 2)
    assert(notNull(d, "k").isEmpty)
  }

  test("acceptedValues ignores NULLs (dbt semantics) and flags outsiders") {
    val d = df(Seq((1, "ok"), (2, "bad"), (3, null)))
    val viol = acceptedValues(d, "v", Seq("ok", "fine")).collect()
    assert(viol.map(_.getString(1)).toSeq === Seq("bad"))
  }

  test("relationships flags orphan foreign keys, NULLs exempt") {
    val child = df(Seq((1, "x"), (7, "y"), (null, "z")))
    val parent = df(Seq((1, "p"), (2, "p")))
    val viol = relationships(child, "k", parent, "k").collect()
    assert(viol.map(_.getInt(0)).toSeq === Seq(7))
  }

  /** The project's tests as `dbt build` runs them over the seeds. */
  private lazy val projectResults: Seq[TestResult] = {
    val wh = java.nio.file.Files.createTempDirectory("graft-test-wh").toString
    new SqlDag(spark, wh).build(FictionBankSql.models, fictionBankSeeds,
      FictionBankSql.tests, storeDir = Some(s"$wh/test_failures"))
      .nodes.flatMap(_.tests)
  }

  test("project suite over the seeds: all pass except the buggy mart's grain test") {
    assert(projectResults.size === 11)
    val results = projectResults.map(r => r.name -> r.failures).toMap
    assert(results("unique_stg_loans_loan_id") === 0)
    assert(results("not_null_stg_loans_loan_id") === 0)
    assert(results("unique_stg_loan_payments_payment_id") === 0)
    assert(results("not_null_stg_loan_payments_payment_status") === 0)
    assert(results("accepted_values_payment_status") === 0)
    assert(results("relationships_stg_loans_loan_type_id") === 0)
    assert(results("relationships_payments_loan_id") === 0)
    // the reference's grain test is over-strict by design: the payment-only
    // month (NULL type) flags BOTH variants with one extra-row violation
    assert(results("grain_agg_monthly_loans") === 1)
    assert(results("grain_agg_monthly_loans_fixed") === 1)
    // the discriminating check: every origination (month, type) combo is
    // duplicated by the fan-out in the buggy mart (10 combos), none in the
    // fixed one
    assert(results("unique_agg_monthly_loans_grain") === 10)
    assert(results("unique_agg_monthly_loans_fixed_grain") === 0)
  }

  test("TestConfig: dbt's severity/threshold verdict matrix; typos fail at construction") {
    // defaults: severity error, both thresholds != 0
    assert(TestConfig().status(0) === "pass")
    assert(TestConfig().status(1) === "error")
    // severity warn never errors, whatever the count
    assert(TestConfig(severity = "warn").status(1000) === "warn")
    assert(TestConfig(severity = "warn").status(0) === "pass")
    // dbt's triage ladder: small counts warn, large ones error
    val ladder = TestConfig(warnIf = "> 0", errorIf = "> 10")
    assert(ladder.status(0) === "pass")
    assert(ladder.status(5) === "warn")
    assert(ladder.status(11) === "error")
    // every comparator spelling
    assert(TestConfig.met(">= 3", 3) && !TestConfig.met(">=3", 2))
    assert(TestConfig.met("<=3", 3) && TestConfig.met("< 3", 2))
    assert(TestConfig.met("= 0", 0) && TestConfig.met("== 2", 2))
    // a typo'd threshold or severity must fail when DECLARED, not
    // silently never-fire at evaluation time
    assert(intercept[IllegalArgumentException] {
      TestConfig(warnIf = "more than ten")
    }.getMessage.contains("cannot parse test threshold"))
    assert(intercept[IllegalArgumentException] {
      TestConfig(severity = "warning")
    }.getMessage.contains("severity must be warn or error"))
  }

  test("TestConfig: severity validates case-insensitively (dbt accepts WARN/Warn/error)") {
    // dbt-core normalizes severity case; a schema.yml legal under dbt
    // must parse here too (r13 advice)
    for (spelling <- Seq("WARN", "Warn", "warn"))
      assert(TestConfig(severity = spelling).status(5) === "warn")
    for (spelling <- Seq("ERROR", "Error"))
      assert(TestConfig(severity = spelling).status(5) === "error")
    assert(TestConfig(severity = "WARN").severityNormalized === "warn")
    // a real typo still fails at construction, any case
    assert(intercept[IllegalArgumentException] {
      TestConfig(severity = "WARNING")
    }.getMessage.contains("severity must be warn or error"))
  }

  test("runDetailed: store_failures persists the violating rows (and empty on pass)") {
    val d = df(Seq((1, "a"), (2, "b"), (2, "c")))
    val store = java.nio.file.Files.createTempDirectory("graft-audit").toString
    val tests = Seq(
      DataTest("unique_t_k", b => unique(b("t"), "k"),
        TestConfig(severity = "warn", storeFailures = true)),
      DataTest("not_null_t_v", b => notNull(b("t"), "v"),
        TestConfig(storeFailures = true)))
    val results = GenericTests.runDetailed(tests, Map("t" -> d), Some(store))
    val byName = results.map(r => r.name -> r).toMap
    assert(byName("unique_t_k").status === "warn")
    assert(byName("unique_t_k").failures === 1)
    // the audit table IS the violation frame
    val audit = spark.read.parquet(s"$store/unique_t_k").collect()
    assert(audit.map(r => (r.getInt(0), r.getLong(1))).toSeq === Seq((2, 2L)))
    // a PASSING store_failures test still (re)writes its table, empty —
    // a stale failure table from a previous run must not read as live
    assert(byName("not_null_t_v").status === "pass")
    assert(spark.read.parquet(s"$store/not_null_t_v").isEmpty)
    // store_failures with nowhere to store: fail fast
    assert(intercept[IllegalArgumentException] {
      GenericTests.runDetailed(tests, Map("t" -> d), None)
    }.getMessage.contains("no storeDir"))
  }

  test("schema.yml test config: `config:` block and dbt's inline spelling both parse") {
    val yaml = """
models:
  - name: t
    columns:
      - name: k
        tests:
          - unique:
              config:
                severity: warn
                store_failures: true
          - not_null:
              severity: warn
              warn_if: "> 2"
"""
    val parsed = SchemaConfig.tests(yaml)
    assert(parsed.map(_.name) === Seq("unique_t_k", "not_null_t_k"))
    assert(parsed.head.config ===
      TestConfig(severity = "warn", storeFailures = true))
    assert(parsed(1).config ===
      TestConfig(severity = "warn", warnIf = "> 2"))
    // the inline-threshold test: 2 nulls is under the "> 2" bar
    val d = df(Seq((null, "a"), (null, "b"), (1, "c")))
    val store = java.nio.file.Files.createTempDirectory("graft-audit-y").toString
    val r = GenericTests.runDetailed(parsed, Map("t" -> d), Some(store))
    assert(r.map(t => t.name -> t.status) ===
      Seq("unique_t_k" -> "pass", "not_null_t_k" -> "pass"))
    // a threshold typo fails at PARSE time with the column named
    assert(intercept[IllegalArgumentException] {
      SchemaConfig.tests(yaml.replace("\"> 2\"", "lots"))
    }.getMessage.contains("test config on t.k"))
  }

  test("test config where/limit: dbt's relation filter and failure-row cap") {
    val yaml = """
models:
  - name: t
    columns:
      - name: v
        tests:
          - not_null:
              config:
                where: "k > 1"
      - name: k
        tests:
          - unique:
              config:
                limit: 2
                store_failures: true
"""
    val parsed = SchemaConfig.tests(yaml)
    assert(parsed.head.config.where === Some("k > 1"))
    assert(parsed(1).config.limit === Some(2))
    // where: only the filtered slice is tested — k=1's NULL is exempt
    val d = df(Seq((1, null), (2, null), (3, "c")))
    val store = java.nio.file.Files.createTempDirectory("graft-audit-wl").toString
    // dups on keys 1, 2, 3 → 3 violations, capped at 2 by limit; the
    // stored audit table carries exactly the capped rows
    val dup = df(Seq((1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "b")))
    val byName = GenericTests
      .runDetailed(parsed, Map("t" -> d.union(dup)), Some(store))
      .map(r => r.name -> r).toMap
    // union frame: not_null sees NULLs at k=1 (exempted by where) and
    // k=2 (counted)
    assert(byName("not_null_t_v").failures === 1L)
    assert(byName("unique_t_k").failures === 2L)
    assert(spark.read.parquet(s"$store/unique_t_k").count() === 2L)
    // a non-positive limit fails at declaration
    assert(intercept[IllegalArgumentException] {
      SchemaConfig.tests(yaml.replace("limit: 2", "limit: 0"))
    }.getMessage.contains("limit must be >= 1"))
  }

  test("project suite detailed: known-informational tests WARN and store, the rest pass") {
    val results = projectResults
    val byName = results.map(r => r.name -> r).toMap
    // the demoted triage tests warn — the build stays green — and their
    // flagged rows persist to the audit schema
    Seq("grain_agg_monthly_loans", "grain_agg_monthly_loans_fixed",
      "unique_agg_monthly_loans_grain").foreach { n =>
      assert(byName(n).status === "warn", n)
      val stored = spark.read.parquet(byName(n).storedPath.get)
      assert(stored.count() === byName(n).failures, n)
    }
    // full-severity tests: all pass, nothing stored
    assert(byName("unique_agg_monthly_loans_fixed_grain").status === "pass")
    assert(byName("unique_agg_monthly_loans_fixed_grain").storedPath.isEmpty)
    assert(results.count(_.status == "error") === 0)
  }
}
