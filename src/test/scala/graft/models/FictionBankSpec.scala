package graft.models

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden tests for the Fiction-Bank pipeline (SURVEY.md §5.2): run the
  * model functions on replicas of the reference seeds and assert the exact
  * outputs the reference SQL produces on DuckDB (reference:
  * seeds/raw_loans.csv, models/marts/fct_loan_details.sql,
  * models/marts/agg_monthly_loans.sql, docs/bug-analysis.md:84-107).
  */
class FictionBankSpec extends SparkSpec {

  lazy val loanTypes: DataFrame = fictionBankSeeds("loan_types")
  lazy val rawLoans: DataFrame = fictionBankSeeds("raw_loans")
  lazy val rawPayments: DataFrame = fictionBankSeeds("raw_loan_payments")

  lazy val stg = FictionBank.stgLoans(rawLoans)
  lazy val stgPay = FictionBank.stgLoanPayments(rawPayments)
  lazy val fct = FictionBank.fctLoanDetails(stg, loanTypes)

  test("seed ingest: quoted commas, empty->NULL (S1)") {
    assert(rawLoans.count() === 10)
    assert(rawPayments.count() === 15)
    assert(loanTypes.count() === 3)
    val l001 = rawLoans.filter(col("loan_id") === "L001").head()
    assert(l001.getAs[String]("property_address") === "123 Main St, Austin TX")
    // L004/L008 empty property fields -> NULL (raw_loans.csv:5,9)
    val nulls = rawLoans.filter(col("property_value").isNull)
      .select("loan_id").collect().map(_.getString(0)).sorted
    assert(nulls.toSeq === Seq("L004", "L008"))
  }

  test("stg_loans: date cast + passthrough (P2, F1)") {
    assert(stg.count() === 10)
    assert(stg.schema("loan_start_date").dataType.typeName === "date")
    val l001 = stg.filter(col("loan_id") === "L001").head()
    assert(l001.getAs[java.sql.Date]("loan_start_date").toString === "2023-01-15")
  }

  test("stg_loan_payments: date cast (P2, F1)") {
    assert(stgPay.count() === 15)
    assert(stgPay.schema("payment_date").dataType.typeName === "date")
    assert(stgPay.filter(col("payment_status") === "completed").count() === 15)
  }

  test("fct_loan_details: golden LTV + annuity (J1, P3, F2-F5)") {
    assert(fct.count() === 10)
    val byId = fct.collect().map(r => r.getAs[String]("loan_id") -> r).toMap
    def ltv(id: String): Option[BigDecimal] =
      Option(byId(id).getAs[java.math.BigDecimal]("ltv_ratio")).map(BigDecimal(_))
    def pay(id: String): Double = byId(id).getAs[Double]("estimated_monthly_payment")
    // golden values from executing the reference SQL on its seeds (SURVEY §5.2)
    assert(ltv("L001").get === BigDecimal("83.33"))
    assert(math.abs(pay("L001") - 1122.61) < 0.005)
    assert(ltv("L002").get === BigDecimal("81.82"))
    assert(math.abs(pay("L002") - 2084.02) < 0.005)
    assert(ltv("L003").get === BigDecimal("37.50"))
    assert(math.abs(pay("L003") - 768.28) < 0.005)
    // L004: NULL property_value -> CASE else branch -> NULL ltv (P3/P4)
    assert(ltv("L004").isEmpty)
    assert(math.abs(pay("L004") - 307.75) < 0.005)
    assert(ltv("L008").isEmpty)
    // dim join brought type attributes (J1)
    assert(byId("L001").getAs[String]("loan_type_name") === "Mortgage")
  }

  test("agg_monthly_loans buggy: 39-row fan-out, inflated sum (J2, J3, A1-A5, F6, F7, O1)") {
    val agg = FictionBank.aggMonthlyLoansBuggy(fct, stgPay)
    val rows = agg.collect()
    assert(rows.length === 39) // 11 true grain rows fanned out (docs/bug-analysis.md:104)
    // distinct month x type re-collapses to the true grain
    assert(agg.select("month", "loan_type_name").distinct().count() === 11)
    // inflated metric: sum over fanned rows (docs/bug-analysis.md:104-107)
    val inflated = agg.agg(sum("amount_originated")).head().getLong(0)
    assert(inflated === 8110000L)
    // payment-only month 2023-09 survives the full outer with NULL type (J2)
    val sept = rows.filter(r => r.getAs[java.sql.Date]("month").toString == "2023-09-01")
    assert(sept.length === 1)
    assert(sept.head.getAs[String]("loan_type_name") === null)
    assert(sept.head.getAs[Long]("new_loans") === 0L) // coalesce zero-fill (F6)
    // ORDER BY month desc, type asc (O1): first row is the latest month
    assert(rows.head.getAs[java.sql.Date]("month").toString === "2023-09-01")
  }

  test("agg_monthly_loans fixed: 11-row true grain (docs/bug-analysis.md:161-175)") {
    val agg = FictionBank.aggMonthlyLoansFixed(fct, stgPay)
    assert(agg.count() === 11)
    val total = agg.agg(sum("amount_originated")).head().getLong(0)
    assert(total === 1720000L) // true origination volume
  }

  test("grain test: literal reference semantics (M3)") {
    val buggy = FictionBank.aggMonthlyLoansBuggy(fct, stgPay)
    val fixed = FictionBank.aggMonthlyLoansFixed(fct, stgPay)
    // The literal test (docs/bug-analysis.md:139-157) compares DISTINCT
    // grains: fct yields 10 month x type pairs, while both agg variants carry
    // 11 (payment-only month 2023-09 with NULL type survives the full outer),
    // so extra_rows = 1 on both -- the test is over-strict by design and the
    // fan-out itself is caught by the raw row count (39 vs 11).
    val onFixed = FictionBank.grainTest(fct, fixed).head()
    assert(onFixed.getAs[Long]("expected_rows") === 10L)
    assert(onFixed.getAs[Long]("actual_rows") === 11L)
    assert(onFixed.getAs[Long]("extra_rows") === 1L)
    assert(FictionBank.grainTest(fct, buggy).count() === 1)
    assert(buggy.count() !== fixed.count())
  }

  /** `dbt build` over the project: every model plus its tests, in a
    * fresh warehouse.
    */
  private lazy val project: (String, SqlDag, SqlDag.BuildResult) = {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val dag = new SqlDag(spark, wh)
    val res = dag.build(FictionBankSql.models, fictionBankSeeds,
      FictionBankSql.tests, storeDir = Some(s"$wh/test_failures"))
    (wh, dag, res)
  }

  test("dag: topological run + materializations (M1, S3, S4)") {
    val (wh, dag, res) = project
    assert(res.success)
    val built = res.relations
    assert(built("agg_monthly_loans").count() === 39)
    assert(built("agg_monthly_loans_fixed").count() === 11)
    // marts are materialized as parquet (re-read, not the live plan)
    assert(new java.io.File(s"$wh/fct_loan_details").exists())
    // lineage edges match dbt ref() graph
    val lineage = dag.lineage(FictionBankSql.models)
    assert(lineage("fct_loan_details") === Set("stg_loans", "loan_types"))
    assert(lineage("agg_monthly_loans") === Set("fct_loan_details", "stg_loan_payments"))
  }

  test("manifest: dbt-docs artifact is valid JSON with deps + schemas (M1)") {
    val (_, dag, res) = project
    val json = dag.manifest(FictionBankSql.models, res.relations)
    // must parse as strict JSON (Jackson ships with Spark)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    assert(root.fieldNames().hasNext)
    val fct = root.get("fct_loan_details")
    assert(fct.get("materialization").asText() === "table")
    assert(fct.get("depends_on").toString.contains("stg_loans"))
    assert(fct.get("columns").get("ltv_ratio") != null)
    assert(root.get("stg_loans").get("materialization").asText() === "view")
  }
}
