package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Fiction-Bank loan-analytics pipeline: a Spark-first re-expression of
  * every model in the reference dbt project (reference: models/staging and
  * models/marts SQL files; README.md:7).
  *
  * Each reference model is one Scala function from DataFrames to a DataFrame;
  * `{{ ref('x') }}` edges (reference: stg_loans.sql:2, fct_loan_details.sql:2,6,
  * agg_monthly_loans.sql:2,6) become plain function arguments, so lineage is
  * the Scala call graph. The project itself runs as SQL texts through
  * [[SqlDag]] ([[FictionBankSql]]); these functions are the reference that
  * FictionBankSqlSpec compares those texts against.
  *
  * Scale note: all transforms are declarative DataFrame ops — Catalyst prunes
  * columns/pushes filters; the single dim join is broadcast (3-row dim); the
  * aggregations are two-phase hash aggregates. Nothing collects to the driver,
  * so the same code runs on a 1000-executor cluster.
  */
object FictionBank {

  /** stg_loans (reference: models/staging/stg_loans.sql:6-15): rename
    * passthrough + `cast(loan_start_date as date)` (stg_loans.sql:12).
    */
  def stgLoans(rawLoans: DataFrame): DataFrame =
    rawLoans.select(
      col("loan_id"),
      col("customer_id"),
      col("loan_type_id"),
      col("loan_amount"),
      col("interest_rate"),
      col("loan_start_date").cast(DateType).as("loan_start_date"),
      col("loan_term_months"),
      col("property_address"),
      col("property_value"))

  /** stg_loan_payments (reference: models/staging/stg_loan_payments.sql:6-14):
    * rename passthrough + `cast(payment_date as date)` (:9).
    */
  def stgLoanPayments(rawPayments: DataFrame): DataFrame =
    rawPayments.select(
      col("payment_id"),
      col("loan_id"),
      col("payment_date").cast(DateType).as("payment_date"),
      col("payment_amount"),
      col("principal_paid"),
      col("interest_paid"),
      col("payment_status"))

  /** DuckDB `cast(x as numeric)` defaults to DECIMAL(18,3) — parity trap,
    * SURVEY.md §7.4.2 (reference: fct_loan_details.sql:25).
    */
  private val Numeric = DecimalType(18, 3)

  /** fct_loan_details (reference: models/marts/fct_loan_details.sql):
    * loans ⟕ loan_types dim join (:34-36) + guarded LTV CASE (:23-27) +
    * annuity-payment formula (:28-33).
    *
    * The dim side is tiny (3 rows) and unique on the key, so we broadcast —
    * at 100 TB of loans this stays a map-side hash join with zero shuffle.
    */
  def fctLoanDetails(stgLoans: DataFrame, loanTypes: DataFrame): DataFrame = {
    // monthly rate r = interest_rate / 100 / 12 (fct_loan_details.sql:29)
    val r = col("interest_rate") / lit(100) / lit(12)
    val growth = pow(lit(1) + r, col("loan_term_months")) // (1+r)^n (:30-31)
    stgLoans.alias("loans")
      .join(
        broadcast(loanTypes.alias("loan_types")),
        col("loans.loan_type_id") === col("loan_types.loan_type_id"),
        "left")
      .select(
        col("loans.loan_id"),
        col("loans.customer_id"),
        col("loans.loan_type_id"),
        col("loan_types.loan_type_name"),
        col("loan_types.description").as("loan_type_description"),
        col("loans.loan_amount"),
        col("loans.interest_rate"),
        col("loans.loan_start_date"),
        col("loans.loan_term_months"),
        col("loan_types.typical_term_months"),
        col("loans.property_address"),
        col("loans.property_value"),
        // CASE WHEN property_value > 0 THEN round(ltv,2) ELSE NULL (:23-27);
        // NULL property_value falls through to the ELSE branch.
        when(col("property_value") > 0,
          round(col("loan_amount").cast(Numeric) / col("property_value").cast(Numeric) * 100, 2))
          .otherwise(lit(null))
          .as("ltv_ratio"),
        // annuity: round(P*r*(1+r)^n / ((1+r)^n - 1), 2) (:28-33)
        // parity note: for interest_rate = 0 this divides by zero, exactly
        // like the unguarded reference SQL (fct_loan_details.sql:28-33) —
        // an ANSI-mode error here, NaN/inf in DuckDB; the seeds contain no
        // 0% loans, and we reproduce the reference bug-for-bug rather than
        // guard a case it never defined
        round(col("loan_amount") * r * growth / (growth - lit(1)), 2)
          .as("estimated_monthly_payment"))
  }

  /** Shared upper CTEs of agg_monthly_loans (reference:
    * models/marts/agg_monthly_loans.sql:9-30): two hash aggregates at
    * different grains — month×type originations and month payments.
    */
  /** `{{ date_trunc('month', c) }}` cast to date — the project's one macro
    * (agg_monthly_loans.sql:11,23); single definition for every model.
    */
  private def monthStart(c: Column): Column = date_trunc("month", c).cast(DateType)

  private def monthlyParts(fctLoanDetails: DataFrame, stgLoanPayments: DataFrame)
      : (DataFrame, DataFrame) = {
    val orig = fctLoanDetails
      .groupBy(
        monthStart(col("loan_start_date")).as("month_start"),
        col("loan_type_name"))
      .agg(
        countDistinct(col("loan_id")).as("loans_originated"),
        sum(col("loan_amount")).as("total_amount_originated"),
        avg(col("loan_amount")).as("avg_loan_amount"),
        avg(col("interest_rate")).as("avg_interest_rate"))
    val pay = stgLoanPayments
      .groupBy(monthStart(col("payment_date")).as("month_start"))
      .agg(
        countDistinct(col("payment_id")).as("total_payments"),
        sum(col("payment_amount")).as("total_payment_amount"),
        sum(col("principal_paid")).as("total_principal_paid"),
        sum(col("interest_paid")).as("total_interest_paid"))
    (orig, pay)
  }

  private def combinedMetrics: Seq[Column] = Seq(
    coalesce(col("orig.loans_originated"), lit(0)).as("new_loans"),
    coalesce(col("orig.total_amount_originated"), lit(0)).as("amount_originated"),
    coalesce(col("orig.avg_loan_amount"), lit(0)).as("avg_loan_size"),
    coalesce(col("orig.avg_interest_rate"), lit(0)).as("avg_rate"),
    coalesce(col("pay.total_payments"), lit(0)).as("payments_received"),
    coalesce(col("pay.total_payment_amount"), lit(0)).as("payment_volume"),
    coalesce(col("pay.total_principal_paid"), lit(0)).as("principal_collected"),
    coalesce(col("pay.total_interest_paid"), lit(0)).as("interest_collected"))

  /** agg_monthly_loans, CHECKED-IN (BUGGY) variant — bug-for-bug parity
    * target (SURVEY §7.4.8). The left join back to loan-grain detail on the
    * non-unique `loan_type_name` (reference: agg_monthly_loans.sql:48-49)
    * fans each month×type row out by the number of loans of that type
    * (11 → 39 rows on the seeds; docs/bug-analysis.md:69-98).
    */
  def aggMonthlyLoansBuggy(fct: DataFrame, stgLoanPayments: DataFrame): DataFrame = {
    val (orig, pay) = monthlyParts(fct, stgLoanPayments)
    orig.alias("orig")
      // full outer: either side NULL-padded; payment-only month 2023-09
      // survives (agg_monthly_loans.sql:45-47)
      .join(pay.alias("pay"), col("orig.month_start") === col("pay.month_start"), "full_outer")
      // THE BUG: agg-grain ⟕ detail-grain on a non-unique key (:48-49)
      .join(fct.alias("loans"), col("orig.loan_type_name") === col("loans.loan_type_name"), "left")
      .select(Seq(
        coalesce(col("orig.month_start"), col("pay.month_start")).as("month"),
        col("orig.loan_type_name"),
        col("loans.customer_id")) ++ combinedMetrics: _*)
      .orderBy(col("month").desc, col("loan_type_name").asc)
  }

  /** agg_monthly_loans, FIXED variant (reference: docs/bug-analysis.md:161-175
    * "Option 1: Remove the join entirely"): pure month×type grain, no
    * customer_id, 11 rows on the seeds.
    */
  def aggMonthlyLoansFixed(fct: DataFrame, stgLoanPayments: DataFrame): DataFrame = {
    val (orig, pay) = monthlyParts(fct, stgLoanPayments)
    orig.alias("orig")
      .join(pay.alias("pay"), col("orig.month_start") === col("pay.month_start"), "full_outer")
      .select(Seq(
        coalesce(col("orig.month_start"), col("pay.month_start")).as("month"),
        col("orig.loan_type_name")) ++ combinedMetrics: _*)
      .orderBy(col("month").desc, col("loan_type_name").asc)
  }

  /** loan_monthly_detail (reference: docs/bug-analysis.md:178-187 "Option 2:
    * Create a separate detail model"): loan-grain monthly detail.
    */
  def loanMonthlyDetail(fct: DataFrame): DataFrame =
    fct.select(
      monthStart(col("loan_start_date")).as("month"),
      col("loan_type_name"),
      col("customer_id"),
      col("loan_id"),
      col("loan_amount"))

  /** The reference's data-quality test (reference: docs/bug-analysis.md:139-157):
    * non-empty result ⇒ the monthly mart's grain diverges from the expected
    * distinct month×type grain of fct_loan_details.
    */
  def grainTest(fct: DataFrame, aggMonthly: DataFrame): DataFrame = {
    // fully declarative (no eager count() actions at construction): two
    // 1-row aggregates cross-joined — the scalar-subquery shape of the
    // reference test (docs/bug-analysis.md:151-157), same as demo q08
    val expected = fct.select(
      monthStart(col("loan_start_date")).as("month"),
      col("loan_type_name")).distinct()
      .agg(count(lit(1)).as("expected_rows"))
    val actual = aggMonthly.select(col("month"), col("loan_type_name")).distinct()
      .agg(count(lit(1)).as("actual_rows"))
    expected.crossJoin(actual)
      .select(col("expected_rows"), col("actual_rows"),
        (col("actual_rows") - col("expected_rows")).as("extra_rows"))
      .filter(col("actual_rows") =!= col("expected_rows"))
  }
}
