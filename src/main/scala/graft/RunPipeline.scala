package graft

import graft.models.FictionBankDag
import graft.sources.Tables

/** CLI equivalent of the reference's `dbt seed` + `dbt run`
  * (reference: README.md:44-54): ingest the seed CSVs, build every model in
  * topological order with dbt's materialization semantics, and print each
  * relation's row count.
  *
  * Usage: runMain graft.RunPipeline <seedsDir> <warehouseDir>
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val seedsDir = if (args.length > 0) args(0) else "src/test/resources/seeds"
    val warehouseDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val spark = GraftSession.local(GraftSession.cpus)
    // GraftExtensions injects FanoutLint, which flags the checked-in
    // agg_monthly_loans fan-out join as the pipeline materializes it
    // (reference: docs/bug-analysis.md)
    val seeds = Map(
      "raw_loans" -> Tables.seedCsv(spark, s"$seedsDir/raw_loans.csv", Tables.rawLoansSchema),
      "raw_loan_payments" -> Tables.seedCsv(spark, s"$seedsDir/raw_loan_payments.csv", Tables.rawLoanPaymentsSchema),
      "loan_types" -> Tables.seedCsv(spark, s"$seedsDir/loan_types.csv", Tables.loanTypesSchema))

    // dbt's `threads`: independent models in one dependency wave build
    // concurrently (e.g. the two mart variants + loan_monthly_detail)
    val threads = GraftSession.intEnv("SPARK_GRAFT_THREADS", 4)
    val t0 = System.nanoTime()
    val dag = new FictionBankDag(spark, warehouseDir)
    val built = dag.run(seeds, threads = threads)
    println(f"dag built in ${(System.nanoTime() - t0) / 1e9}%.2fs (threads=$threads)")
    println(s"warehouse: $warehouseDir")
    dag.lineage.keys.toSeq.sorted.foreach { name =>
      println(f"$name%-28s rows=${built(name).count()}")
    }
    built("fct_loan_details").orderBy("loan_id").show(12, truncate = false)
    built("agg_monthly_loans_fixed").show(12, truncate = false)
    // `dbt test` analog with dbt's config semantics: the grain checks
    // that flag the checked-in buggy mart (docs/bug-analysis.md's
    // thesis) and the reference grain test's over-strict payment-only-
    // month artifact are declared `severity: warn` + `store_failures`
    // in the dag itself — a WARN keeps the build green while the
    // flagged rows persist to the audit schema; an ERROR (full-severity
    // test failing) exits nonzero so CI can't read a broken run as
    // green. The known-informational tests are also REQUIRED to warn:
    // a grain test that silently passed would mean the documented bug
    // vanished — that's a harness regression, not a success.
    val expectedWarn = Set("grain_agg_monthly_loans",
      "grain_agg_monthly_loans_fixed", "unique_agg_monthly_loans_grain")
    val results = dag.testDetailed(built, s"$warehouseDir/test_failures")
    results.foreach { r =>
      val label = r.status match {
        case "pass" => "PASS"
        case "warn" => s"WARN (${r.failures}${if (expectedWarn(r.name)) ", expected" else ""})"
        case _ => s"ERROR (${r.failures})"
      }
      println(f"test ${r.name}%-44s $label" +
        r.storedPath.fold("")(p => s" [failures stored: $p]"))
    }
    val unexpected = results.collect {
      case r if r.status == "error" => r.name
      case r if (r.status == "warn") != expectedWarn(r.name) => r.name
    }
    // `dbt docs generate` analog: lineage + schema manifest next to the
    // materialized marts
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(warehouseDir, "manifest.json"),
      dag.manifest(built) + "\n")
    println(s"manifest: $warehouseDir/manifest.json")

    // `dbt build` (SqlDag.build): the one-command lifecycle over the
    // reference's own SQL texts — each node's tests run immediately
    // after it materializes; an ERROR-severity failure would skip its
    // descendants (spec-pinned in BuildSpec), a WARN (the documented
    // fan-out grain bug under triage) reports and proceeds
    import graft.models.{SqlDag, FictionBankSql, GenericTests}
    import SqlDag._
    val buildDag = new SqlDag(spark, s"$warehouseDir/build")
    val buildRes = buildDag.build(
      Seq(
        SqlModel("stg_loans", FictionBankSql.StgLoans, View),
        SqlModel("stg_loan_payments", FictionBankSql.StgLoanPayments, View),
        SqlModel("fct_loan_details", FictionBankSql.FctLoanDetails, Table),
        SqlModel("agg_monthly_loans", FictionBankSql.AggMonthlyLoans, Table)),
      seeds,
      tests = Map(
        "stg_loans" -> Seq(
          GenericTests.DataTest("b_unique_stg_loans_loan_id",
            b => GenericTests.unique(b("stg_loans"), "loan_id")),
          GenericTests.DataTest("b_not_null_stg_loans_loan_id",
            b => GenericTests.notNull(b("stg_loans"), "loan_id"))),
        "stg_loan_payments" -> Seq(
          GenericTests.DataTest("b_unique_payments_payment_id",
            b => GenericTests.unique(b("stg_loan_payments"), "payment_id"))),
        "agg_monthly_loans" -> Seq(
          GenericTests.DataTest("b_unique_agg_monthly_grain",
            b => GenericTests.unique(b("agg_monthly_loans"),
              "month", "loan_type_name"),
            GenericTests.TestConfig(severity = "warn",
              storeFailures = true)))),
      threads = threads,
      storeDir = Some(s"$warehouseDir/build_test_failures"))
    println("\ndbt build (interleaved models+tests, skip-on-failure):")
    buildRes.nodes.foreach { n =>
      val ts = n.tests.map(t => s"${t.name}=${t.status}").mkString(" ")
      println(f"build ${n.name}%-28s ${n.status}%-8s $ts" +
        n.cause.fold("")(c => s" [cause: $c]"))
    }
    val buildOk = buildRes.success
    println(s"build verdict: ${if (buildOk) "green" else "FAILED"}")

    // `dbt ls` — print a selection without running anything (the same
    // selector grammar run/build use)
    val lsModels = Seq(
      SqlModel("stg_loans", FictionBankSql.StgLoans, View),
      SqlModel("stg_loan_payments", FictionBankSql.StgLoanPayments, View),
      SqlModel("fct_loan_details", FictionBankSql.FctLoanDetails, Table),
      SqlModel("agg_monthly_loans", FictionBankSql.AggMonthlyLoans, Table))
    println("\ndbt ls --select +fct_loan_details:")
    buildDag.ls(lsModels, select = Seq("+fct_loan_details"))
      .foreach(n => println(s"  $n"))

    // `dbt retry` — resume a failed build from its failure point: break
    // a staging model (its subtree skips), then retry with the fix —
    // exactly the dead subgraph reruns, the surviving staging view is
    // kept, and the retried run goes green
    val retryDag = new SqlDag(spark, s"$warehouseDir/retry")
    val failedBuild = retryDag.build(
      lsModels.map(m =>
        if (m.name == "stg_loan_payments")
          m.copy(jinjaSql =
            "select no_such_column from {{ ref('raw_loan_payments') }}")
        else m),
      seeds, threads = threads)
    println("\ndbt build with a broken staging model (retry setup):")
    failedBuild.nodes.foreach(n => println(
      f"build ${n.name}%-28s ${n.status}%-8s" +
        n.cause.fold("")(c => s" [cause: $c]")))
    val retried = retryDag.retry(lsModels, seeds, failedBuild,
      threads = threads)
    println("dbt retry (reruns errored + skipped nodes only):")
    retried.nodes.foreach(n => println(
      f"retry ${n.name}%-28s ${n.status}%-8s" +
        n.cause.fold("")(c => s" [cause: $c]")))
    // dead subgraph = the broken staging model + agg (which reads it);
    // fct_loan_details reads only stg_loans + the loan_types seed, so
    // it survived the failed build and must NOT re-run
    val retryOk = retried.success &&
      retried.nodes.map(_.name).toSet ==
        Set("stg_loan_payments", "agg_monthly_loans")
    println(s"retry verdict: ${if (retryOk) "green (dead subgraph only)"
      else "FAILED"}")

    spark.stop()
    if (unexpected.nonEmpty) {
      println(s"unexpected test outcomes: ${unexpected.mkString(", ")}")
      sys.exit(1)
    }
    if (!buildOk) {
      println("dbt build verdict was not green")
      sys.exit(1)
    }
    if (!retryOk) {
      println("dbt retry did not resume the dead subgraph cleanly")
      sys.exit(1)
    }
  }
}
