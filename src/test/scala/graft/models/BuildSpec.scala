package graft.models

import graft.SparkSpec

/** `dbt build` (SqlDag.build) — the interleaved seed → model → tests →
  * downstream lifecycle with skip-on-failure scheduling: an
  * ERROR-severity test failure (or a build exception) skips the node's
  * DESCENDANTS while independent subgraphs keep building; WARN-severity
  * failures report and proceed. The semantics the reference README
  * drives with separate `dbt seed` / `dbt run` / `dbt test` invocations
  * (reference README.md:44-55), fused as dbt's modern one-command verb.
  */
class BuildSpec extends SparkSpec {

  import SqlDag._

  // a: root over the seed; b: mid; c: leaf of b; d: independent branch —
  // the smallest graph where "skip descendants, keep siblings" is
  // observable
  private def models = Seq(
    SqlModel("m_a", "select id, v from {{ ref('raw_vals') }}"),
    SqlModel("m_b", "select id, v from {{ ref('m_a') }}"),
    SqlModel("m_c", "select count(*) as n from {{ ref('m_b') }}"),
    SqlModel("m_d", "select max(v) as mx from {{ ref('raw_vals') }}"))

  private def seeds = {
    val s = spark
    import s.implicits._
    // id 1 is DUPLICATED: a unique test on any descendant fails with
    // exactly 1 violating key
    Map("raw_vals" -> Seq((1L, 10.0), (1L, 11.0), (2L, 20.0), (3L, 30.0))
      .toDF("id", "v"))
  }

  private def uniqueTest(node: String, cfg: GenericTests.TestConfig) =
    GenericTests.DataTest(s"unique_${node}_id",
      built => GenericTests.unique(built(node), "id"), cfg)

  test("error-severity test failure skips descendants, independent branch builds") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build").toString
    val dag = new SqlDag(spark, wh)
    val r = dag.build(models, seeds,
      tests = Map("m_b" -> Seq(uniqueTest("m_b", GenericTests.TestConfig()))))
    // m_b built (its relation exists) — dbt fails the TEST, not the model
    assert(r.statusOf("m_a") === Some("success"))
    assert(r.statusOf("m_b") === Some("success"))
    val bTests = r.nodes.find(_.name == "m_b").get.tests
    assert(bTests.map(t => (t.name, t.status)) ===
      Seq(("unique_m_b_id", "error")))
    assert(bTests.head.failures === 1L) // one duplicated key
    // m_c skipped BECAUSE of m_b; m_d (independent) built
    assert(r.statusOf("m_c") === Some("skipped"))
    assert(r.nodes.find(_.name == "m_c").get.cause === Some("m_b"))
    assert(r.statusOf("m_d") === Some("success"))
    assert(r.relations.contains("m_b") && !r.relations.contains("m_c"))
    assert(!r.success)
    // execution order: a node's row precedes its descendants' rows
    val order = r.nodes.map(_.name)
    assert(order.indexOf("m_a") < order.indexOf("m_b"))
    assert(order.indexOf("m_b") < order.indexOf("m_c"))
  }

  test("warn severity (and an unmet errorIf threshold) proceed downstream") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build-warn").toString
    val dag = new SqlDag(spark, wh)
    val r = dag.build(models, seeds, tests = Map(
      "m_a" -> Seq(uniqueTest("m_a",
        GenericTests.TestConfig(severity = "warn"))),
      // severity error but the threshold tolerates up to 5 bad keys —
      // TestConfig.status degrades it to warn (warnIf default != 0)
      "m_b" -> Seq(uniqueTest("m_b",
        GenericTests.TestConfig(severity = "error", errorIf = "> 5")))))
    assert(r.nodes.find(_.name == "m_a").get.tests.head.status === "warn")
    assert(r.nodes.find(_.name == "m_b").get.tests.head.status === "warn")
    assert(r.statusOf("m_c") === Some("success"))
    assert(r.relations("m_c").head().getLong(0) === 4L)
    assert(r.success) // warns never fail the run verdict
  }

  test("seed tests gate first: models over a bad seed skip, the rest build") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build-seed").toString
    val dag = new SqlDag(spark, wh)
    val s = spark
    import s.implicits._
    val twoSeeds = seeds + ("clean_vals" ->
      Seq((7L, 70.0)).toDF("id", "v"))
    val ms = models :+
      SqlModel("m_clean", "select id from {{ ref('clean_vals') }}")
    val r = dag.build(ms, twoSeeds,
      tests = Map("raw_vals" ->
        Seq(uniqueTest("raw_vals", GenericTests.TestConfig()))))
    // the seed's own node row carries the failed test…
    assert(r.statusOf("raw_vals") === Some("success"))
    assert(r.nodes.find(_.name == "raw_vals").get.tests.head.status === "error")
    // …every model reading it skips (m_a directly, m_b/m_c by cascade,
    // m_d directly) with the nearest dead ancestor as cause
    assert(r.statusOf("m_a") === Some("skipped"))
    assert(r.nodes.find(_.name == "m_a").get.cause === Some("raw_vals"))
    assert(r.statusOf("m_c") === Some("skipped"))
    assert(r.nodes.find(_.name == "m_c").get.cause === Some("m_b"))
    assert(r.statusOf("m_d") === Some("skipped"))
    // the untested clean seed's branch is untouched
    assert(r.statusOf("m_clean") === Some("success"))
  }

  test("a model build exception marks it error, skips its subtree, keeps siblings; failFast aborts") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build-err").toString
    val dag = new SqlDag(spark, wh)
    val broken = models.map(m =>
      if (m.name == "m_b")
        m.copy(jinjaSql = "select no_such_column from {{ ref('m_a') }}")
      else m)
    val r = dag.build(broken, seeds)
    assert(r.statusOf("m_b") === Some("error"))
    assert(r.nodes.find(_.name == "m_b").get.cause.exists(
      _.toLowerCase.contains("no_such_column")))
    assert(r.statusOf("m_c") === Some("skipped"))
    assert(r.statusOf("m_d") === Some("success"))
    assert(!r.relations.contains("m_b") && !r.relations.contains("m_c"))
    assert(!r.success)
    // --fail-fast: the same graph ABORTS on the build exception
    intercept[Exception] { dag.build(broken, seeds, failFast = true) }
  }

  test("a failing model throws its own exception at threads = 1 and 4 (run, failFast build)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build-throw").toString
    val dag = new SqlDag(spark, wh)
    // m_a shares wave 1 with m_d, so at threads = 4 it fails on a pool
    // thread while a sibling builds
    val broken = models.map(m =>
      if (m.name == "m_a")
        m.copy(jinjaSql = "select no_such_column from {{ ref('raw_vals') }}")
      else m)
    def thrown(body: => Any): Class[_] = intercept[Exception](body).getClass
    val classes = Seq(1, 4).map(threads => threads -> Seq(
      thrown(dag.run(broken, seeds, threads = threads)),
      thrown(dag.build(broken, seeds, threads = threads, failFast = true))))
    assert(classOf[org.apache.spark.sql.AnalysisException]
      .isAssignableFrom(classes.head._2.head), classes)
    assert(classes.flatMap(_._2).distinct.size === 1, classes)
  }

  test("a gate may read LATER siblings of its own wave (all successes register before any gate)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build-wave").toString
    val dag = new SqlDag(spark, wh)
    // m_x and m_y are both wave-1 (each reads only the seed), declared
    // in that order — a test ON m_x that reads m_y could only work if
    // the whole wave registers before gates run (r16 advice: the
    // single-pass form threw NoSuchElementException here)
    val ms = Seq(
      SqlModel("m_x", "select id, v from {{ ref('raw_vals') }}"),
      SqlModel("m_y", "select id, v * 2 as v2 from {{ ref('raw_vals') }}"))
    val r = dag.build(ms, seeds, tests = Map("m_x" -> Seq(
      GenericTests.DataTest("x_matches_y_grain",
        built => {
          // a cross-sibling reconciliation: rows of m_x with no m_y
          // counterpart (none, both read the same seed)
          built("m_x").join(built("m_y"), Seq("id"), "left_anti")
        },
        GenericTests.TestConfig()))))
    assert(r.success)
    assert(r.nodes.find(_.name == "m_x").get.tests.head.status === "pass")
  }

  test("failFast also halts scheduling after a failed TEST node (dbt --fail-fast, both halves)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build-ff").toString
    val dag = new SqlDag(spark, wh)
    // waves: 1 [m_a, m_d] → 2 [m_b (gate fails), m_e] → 3 [m_c, m_f].
    // Without failFast, m_f (independent of m_b) builds; with it, the
    // wave-2 gate failure stops wave 3 entirely
    val ms = models ++ Seq(
      SqlModel("m_e", "select mx from {{ ref('m_d') }}"),
      SqlModel("m_f", "select mx from {{ ref('m_e') }}"))
    val failingTests = Map("m_b" ->
      Seq(uniqueTest("m_b", GenericTests.TestConfig())))
    val slow = dag.build(ms, seeds, tests = failingTests)
    assert(slow.statusOf("m_f") === Some("success"))
    assert(slow.statusOf("m_c") === Some("skipped"))
    val fast = dag.build(ms, seeds, tests = failingTests, failFast = true)
    // wave 2 finished (m_e built before the halt), wave 3 never ran
    assert(fast.statusOf("m_e") === Some("success"))
    assert(fast.statusOf("m_c") === Some("skipped"))
    assert(fast.statusOf("m_f") === Some("skipped"))
    assert(fast.nodes.find(_.name == "m_f").get.cause === Some("m_b"))
    assert(!fast.relations.contains("m_f"))
  }

  test("retry rebuilds exactly the dead subgraph, keeping successes") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build-retry").toString
    val dag = new SqlDag(spark, wh)
    val broken = models.map(m =>
      if (m.name == "m_b")
        m.copy(jinjaSql = "select no_such_column from {{ ref('m_a') }}")
      else m)
    val r1 = dag.build(broken, seeds)
    assert(r1.statusOf("m_b") === Some("error"))
    assert(r1.statusOf("m_c") === Some("skipped"))
    // retry with the fix: exactly {m_b, m_c} re-run — m_a/m_d keep
    // their relations and get NO new report rows (dbt retry's
    // run_results covers the retried nodes only)
    val r2 = dag.retry(models, seeds, r1)
    assert(r2.nodes.map(_.name).sorted === Seq("m_b", "m_c"))
    assert(r2.nodes.forall(_.status == "success"))
    assert(r2.success)
    assert(r2.relations.contains("m_c") && r2.relations.contains("m_a"))
    assert(r2.relations("m_c").head().getLong(0) === 4L)
    // a fully green build has nothing to retry
    val e = intercept[IllegalArgumentException] {
      dag.retry(models, seeds, r2.copy(nodes =
        r2.nodes.filter(_.status == "success")))
    }
    assert(e.getMessage.contains("nothing to retry"))
  }

  test("retry re-runs a failed gate WITHOUT rebuilding its node; re-failure dooms descendants again") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build-retryg").toString
    val dag = new SqlDag(spark, wh)
    val failing = Map("m_b" -> Seq(uniqueTest("m_b", GenericTests.TestConfig())))
    val r1 = dag.build(models, seeds, tests = failing)
    assert(r1.statusOf("m_c") === Some("skipped"))
    // same data, same test → the gate fails again and m_c is doomed
    // again, without rebuilding anything (report = the re-run gate +
    // the re-skipped descendant)
    val again = dag.retry(models, seeds, r1, tests = failing)
    assert(again.nodes.map(n => n.name -> n.status).sorted ===
      Seq("m_b" -> "success", "m_c" -> "skipped"))
    assert(again.nodes.find(_.name == "m_c").get.cause === Some("m_b"))
    assert(!again.success)
    // now the test passes (v IS unique) → the gate alone re-runs and
    // unblocks m_c. m_b's SQL is BROKEN in this project snapshot, so a
    // rebuild would error — the success row proves retry validated the
    // kept relation instead of rebuilding (dbt retries the TEST node)
    val brokenB = models.map(m =>
      if (m.name == "m_b")
        m.copy(jinjaSql = "select no_such_column from {{ ref('m_a') }}")
      else m)
    val fixed = Map("m_b" -> Seq(GenericTests.DataTest("unique_m_b_v",
      built => GenericTests.unique(built("m_b"), "v"),
      GenericTests.TestConfig())))
    val r2 = dag.retry(brokenB, seeds, r1, tests = fixed)
    assert(r2.nodes.map(n => n.name -> n.status).sorted ===
      Seq("m_b" -> "success", "m_c" -> "success"))
    assert(r2.nodes.find(_.name == "m_b").get.gatePassed)
    assert(r2.success)
    assert(r2.relations("m_c").head().getLong(0) === 4L)
  }

  test("ls prints the selection, sorted, without building anything") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build-ls").toString
    val dag = new SqlDag(spark, wh)
    // fresh names: other tests of this suite register m_a… as views in
    // the shared session, and THIS test's point is that ls registers
    // nothing
    val ms = Seq(
      SqlModel("ls_a", "select id, v from {{ ref('raw_vals') }}"),
      SqlModel("ls_b", "select id, v from {{ ref('ls_a') }}"),
      SqlModel("ls_c", "select count(*) as n from {{ ref('ls_b') }}"),
      SqlModel("ls_d", "select max(v) as mx from {{ ref('raw_vals') }}"))
    assert(dag.ls(ms) === Seq("ls_a", "ls_b", "ls_c", "ls_d"))
    assert(dag.ls(ms, select = Seq("+ls_c")) === Seq("ls_a", "ls_b", "ls_c"))
    assert(dag.ls(ms, select = Seq("ls_a+"), exclude = Seq("ls_c")) ===
      Seq("ls_a", "ls_b"))
    // ls is a pure computation over the parsed graph — no relations
    // appear in the session from the calls above
    assert(!spark.catalog.tableExists("ls_a"))
  }

  test("tests keyed on unknown nodes refuse up front") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build-ref").toString
    val dag = new SqlDag(spark, wh)
    val e = intercept[IllegalArgumentException] {
      dag.build(models, seeds, tests = Map("nonexistent" ->
        Seq(uniqueTest("m_a", GenericTests.TestConfig()))))
    }
    assert(e.getMessage.contains("nonexistent"))
  }

  test("all green: build ≡ run + test, store_failures audits persist") {
    val wh = java.nio.file.Files.createTempDirectory("graft-build-green").toString
    val store = java.nio.file.Files.createTempDirectory("graft-build-audit").toString
    val dag = new SqlDag(spark, wh)
    val r = dag.build(models, seeds,
      tests = Map("m_d" -> Seq(GenericTests.DataTest("d_not_null",
        built => GenericTests.notNull(built("m_d"), "mx"),
        GenericTests.TestConfig(storeFailures = true)))),
      storeDir = Some(store))
    assert(r.success)
    assert(r.nodes.map(n => n.name -> n.status).toMap ===
      Map("m_a" -> "success", "m_b" -> "success",
        "m_c" -> "success", "m_d" -> "success"))
    // relations match a plain run's
    val ran = new SqlDag(spark,
      java.nio.file.Files.createTempDirectory("graft-build-cmp").toString)
      .run(models, seeds)
    assert(r.relations("m_c").head().getLong(0) ===
      ran("m_c").head().getLong(0))
    // the audit table exists (and is empty — zero violations)
    val audited = spark.read.parquet(s"$store/d_not_null")
    assert(audited.count() === 0L)
  }

  /** A report as comparable values: node, status, cause and each test's
    * name, failure count and status (audit paths differ per warehouse).
    */
  private def summary(r: BuildResult) =
    r.nodes.map(n => (n.name, n.status, n.cause,
      n.tests.map(t => (t.name, t.failures, t.status))))

  test("the project build: its Spark jobs and full report, the same at threads = 4; so is the broken-staging retry") {
    val seeds = fictionBankSeeds
    def build(threads: Int) = {
      val wh = java.nio.file.Files.createTempDirectory("graft-build-fb").toString
      new SqlDag(spark, wh).build(FictionBankSql.models, seeds,
        FictionBankSql.tests, threads = threads,
        storeDir = Some(s"$wh/test_failures"))
    }
    val (sequential, jobs) = jobsDuring(build(1))
    // the build's jobs (test counts, audit writes, mart writes): a
    // change to scheduling alone must not add or drop one
    assert(jobs === 63)
    val ok = (t: String) => (t, 0L, "pass")
    assert(summary(sequential) === Seq(
      ("stg_loans", "success", None, Seq(ok("unique_stg_loans_loan_id"),
        ok("not_null_stg_loans_loan_id"),
        ok("relationships_stg_loans_loan_type_id"))),
      ("stg_loan_payments", "success", None, Seq(
        ok("unique_stg_loan_payments_payment_id"),
        ok("not_null_stg_loan_payments_payment_status"),
        ok("accepted_values_payment_status"),
        ok("relationships_payments_loan_id"))),
      ("fct_loan_details", "success", None, Nil),
      ("agg_monthly_loans", "success", None, Seq(
        ("grain_agg_monthly_loans", 1L, "warn"),
        ("unique_agg_monthly_loans_grain", 10L, "warn"))),
      ("agg_monthly_loans_fixed", "success", None, Seq(
        ("grain_agg_monthly_loans_fixed", 1L, "warn"),
        ok("unique_agg_monthly_loans_fixed_grain"))),
      ("loan_monthly_detail", "success", None, Nil)))
    assert(summary(build(4)) === summary(sequential))
    // RunPipeline's retry: a broken stg_loan_payments errors and skips
    // both monthly marts; the retry reruns exactly those three
    val broken = FictionBankSql.models.map(m =>
      if (m.name == "stg_loan_payments")
        m.copy(jinjaSql =
          "select no_such_column from {{ ref('raw_loan_payments') }}")
      else m)
    def failedThenRetried(threads: Int) = {
      val dag = new SqlDag(spark,
        java.nio.file.Files.createTempDirectory("graft-build-fbr").toString)
      val failed = dag.build(broken, seeds, threads = threads)
      (summary(failed), summary(dag.retry(FictionBankSql.models, seeds,
        failed, threads = threads)))
    }
    val (failed, retried) = failedThenRetried(1)
    assert(failed.map(n => (n._1, n._2)) === Seq(
      "stg_loans" -> "success", "stg_loan_payments" -> "error",
      "agg_monthly_loans" -> "skipped", "agg_monthly_loans_fixed" -> "skipped",
      "fct_loan_details" -> "success", "loan_monthly_detail" -> "success"))
    assert(failed(1)._3.exists(_.contains("no_such_column")))
    assert(failed.slice(2, 4).map(_._3) ===
      Seq(Some("stg_loan_payments"), Some("stg_loan_payments")))
    assert(retried === Seq("stg_loan_payments", "agg_monthly_loans",
      "agg_monthly_loans_fixed").map(n => (n, "success", None, Nil)))
    assert(failedThenRetried(4) === ((failed, retried)))
  }
}
