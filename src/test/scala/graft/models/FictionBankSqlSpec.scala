package graft.models

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The "can I keep my dbt SQL" fidelity gate: the project's model texts
  * ([[FictionBankSql]]), built by [[SqlDag]] in a temp warehouse, must
  * produce exactly the rows the DataFrame-API port ([[FictionBank]])
  * produces, plus the reference's golden values (10/15/10/39 rows, L001 →
  * ltv 83.33 / payment 1122.61; 11 and 10 rows for the two fixes).
  */
class FictionBankSqlSpec extends SparkSpec {

  private lazy val seeds: Map[String, DataFrame] = fictionBankSeeds

  private lazy val sqlModels: Map[String, DataFrame] =
    new SqlDag(spark,
      java.nio.file.Files.createTempDirectory("graft-fb-sql").toString)
      .run(FictionBankSql.models, seeds)

  private lazy val dfModels: Map[String, DataFrame] = {
    val stg = FictionBank.stgLoans(seeds("raw_loans"))
    val stgPay = FictionBank.stgLoanPayments(seeds("raw_loan_payments"))
    val fct = FictionBank.fctLoanDetails(stg, seeds("loan_types"))
    Map(
      "stg_loans" -> stg,
      "stg_loan_payments" -> stgPay,
      "fct_loan_details" -> fct,
      "agg_monthly_loans" -> FictionBank.aggMonthlyLoansBuggy(fct, stgPay),
      "agg_monthly_loans_fixed" -> FictionBank.aggMonthlyLoansFixed(fct, stgPay),
      "loan_monthly_detail" -> FictionBank.loanMonthlyDetail(fct))
  }

  /** Rows as comparable values: decimals collapse to double (the two
    * surfaces parse `numeric` at different precisions — DuckDB-compatible
    * (18,3) in the DataFrame port, Spark's (10,0) in raw SQL — identical
    * after round(_,2)); doubles compared with a relative epsilon.
    */
  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq
      .map(_.toSeq.map {
        case d: java.math.BigDecimal => d.doubleValue
        case x => x
      })
      .sortBy(_.mkString("|"))

  private def approxEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    case (x, y) => x == y
  }

  private def assertSameRows(name: String): Unit = {
    val (sqlDf, apiDf) = (sqlModels(name), dfModels(name))
    assert(sqlDf.columns.toSeq === apiDf.columns.toSeq, s"$name columns")
    val (s, a) = (canon(sqlDf), canon(apiDf))
    assert(s.size === a.size, s"$name row count")
    s.zip(a).zipWithIndex.foreach { case ((sr, ar), i) =>
      assert(sr.size == ar.size && sr.zip(ar).forall((approxEq _).tupled),
        s"$name row $i differs:\n  sql=$sr\n  api=$ar")
    }
  }

  test("jinja rendering substitutes ref() and the date_trunc macro only") {
    val rendered = SqlDag.render(FictionBankSql.AggMonthlyLoans)
    assert(!rendered.contains("{{") && !rendered.contains("}}"))
    assert(rendered.contains("from fct_loan_details"))
    assert(rendered.contains("cast(date_trunc('month', loan_start_date) as date)"))
  }

  test("stg_loans SQL text == DataFrame port (10 rows)") {
    assert(sqlModels("stg_loans").count() === 10)
    assertSameRows("stg_loans")
  }

  test("stg_loan_payments SQL text == DataFrame port (15 rows)") {
    assert(sqlModels("stg_loan_payments").count() === 15)
    assertSameRows("stg_loan_payments")
  }

  test("fct_loan_details SQL text == DataFrame port, golden L001 (10 rows)") {
    val fct = sqlModels("fct_loan_details")
    assert(fct.count() === 10)
    val l001 = fct.filter(col("loan_id") === "L001").head()
    assert(BigDecimal(l001.getAs[java.math.BigDecimal]("ltv_ratio")) === BigDecimal("83.33"))
    assert(math.abs(l001.getAs[Double]("estimated_monthly_payment") - 1122.61) < 0.005)
    assertSameRows("fct_loan_details")
  }

  test("agg_monthly_loans SQL text reproduces the checked-in fan-out bug (39 rows)") {
    val agg = sqlModels("agg_monthly_loans")
    assert(agg.count() === 39)
    // the fan-out inflates sum(amount_originated) to 8,110,000 on the seeds
    // (docs/bug-analysis.md measured values; true total is 1,720,000)
    val total = agg.agg(sum(col("amount_originated"))).head().getLong(0)
    assert(total === 8110000L)
    assertSameRows("agg_monthly_loans")
  }

  test("agg_monthly_loans_fixed SQL text == DataFrame port (11 rows, true total)") {
    val agg = sqlModels("agg_monthly_loans_fixed")
    assert(agg.count() === 11)
    val total = agg.agg(sum(col("amount_originated"))).head().getLong(0)
    assert(total === 1720000L)
    assertSameRows("agg_monthly_loans_fixed")
  }

  test("loan_monthly_detail SQL text == DataFrame port (10 rows)") {
    assert(sqlModels("loan_monthly_detail").count() === 10)
    assertSameRows("loan_monthly_detail")
  }
}
