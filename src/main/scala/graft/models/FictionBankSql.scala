package graft.models

import SqlDag.{SqlModel, Table, View}

/** The Fiction-Bank dbt project as [[SqlDag]] runs it: the reference's
  * four model files as SQL TEXT, the two fixes docs/bug-analysis.md
  * proposes, and the project's data tests. `dbt run`, `test` and `build`
  * over it are one [[SqlDag.build]] call (see RunPipeline); [[SqlDag]]
  * renders only the two Jinja constructs dbt would substitute
  * (`{{ ref('x') }}` and the project's `{{ date_trunc(part, col) }}`
  * macro). This answers a migrating dbt user's first question — "can I
  * keep my SQL?" — with yes: the same model texts drive the same Catalyst
  * engine as the DataFrame API ([[FictionBank]]); FictionBankSqlSpec
  * asserts both surfaces produce identical rows and the reference's
  * golden values.
  *
  * The four reference texts are intentionally verbatim (cited per val) —
  * executing the user's existing SQL without edits IS the feature being
  * demonstrated.
  *
  * Scale note: `spark.sql` and the DataFrame API meet in the same logical
  * plan, so everything in [[FictionBank]]'s scale notes (broadcast dim
  * join, two-phase hash aggregates, column pruning) applies unchanged to
  * the SQL surface.
  */
object FictionBankSql {

  /** reference: models/staging/stg_loans.sql:1-19 (verbatim). */
  val StgLoans: String = """
with source as (
    select * from {{ ref('raw_loans') }}
),

renamed as (
    select
        loan_id,
        customer_id,
        loan_type_id,
        loan_amount,
        interest_rate,
        cast(loan_start_date as date) as loan_start_date,
        loan_term_months,
        property_address,
        property_value
    from source
)

select * from renamed
"""

  /** reference: models/staging/stg_loan_payments.sql:1-17 (verbatim). */
  val StgLoanPayments: String = """
with source as (
    select * from {{ ref('raw_loan_payments') }}
),

renamed as (
    select
        payment_id,
        loan_id,
        cast(payment_date as date) as payment_date,
        payment_amount,
        principal_paid,
        interest_paid,
        payment_status
    from source
)

select * from renamed
"""

  /** reference: models/marts/fct_loan_details.sql:1-39 (verbatim). Note
    * Spark parses `cast(x as numeric)` as DECIMAL(10,0) where DuckDB
    * defaults to DECIMAL(18,3); after the `round(_, 2)` both yield the
    * same 2-dp LTV on the seed domain (asserted golden in the spec).
    */
  val FctLoanDetails: String = """
with loans as (
    select * from {{ ref('stg_loans') }}
),

loan_types as (
    select * from {{ ref('loan_types') }}
),

loan_details as (
    select
        loans.loan_id,
        loans.customer_id,
        loans.loan_type_id,
        loan_types.loan_type_name,
        loan_types.description as loan_type_description,
        loans.loan_amount,
        loans.interest_rate,
        loans.loan_start_date,
        loans.loan_term_months,
        loan_types.typical_term_months,
        loans.property_address,
        loans.property_value,
        case
            when loans.property_value > 0
            then round((cast(loans.loan_amount as numeric) / cast(loans.property_value as numeric)) * 100, 2)
            else null
        end as ltv_ratio,
        round(
            loans.loan_amount * (loans.interest_rate / 100 / 12) *
            power(1 + (loans.interest_rate / 100 / 12), loans.loan_term_months) /
            (power(1 + (loans.interest_rate / 100 / 12), loans.loan_term_months) - 1),
            2
        ) as estimated_monthly_payment
    from loans
    left join loan_types
        on loans.loan_type_id = loan_types.loan_type_id
)

select * from loan_details
"""

  /** reference: models/marts/agg_monthly_loans.sql:1-53 (verbatim) — the
    * CHECKED-IN buggy variant, including the fan-out left join on
    * `loan_type_name` (:48-49) and the loan-grain `customer_id` in a
    * month-grain select (:36); 39 rows on the seeds.
    */
  val AggMonthlyLoans: String = """
with loans as (
    select * from {{ ref('fct_loan_details') }}
),

payments as (
    select * from {{ ref('stg_loan_payments') }}
),

monthly_originations as (
    select
        cast({{ date_trunc('month', 'loan_start_date') }} as date) as month_start,
        loan_type_name,
        count(distinct loan_id) as loans_originated,
        sum(loan_amount) as total_amount_originated,
        avg(loan_amount) as avg_loan_amount,
        avg(interest_rate) as avg_interest_rate
    from loans
    group by 1, 2
),

monthly_payments as (
    select
        cast({{ date_trunc('month', 'payment_date') }} as date) as month_start,
        count(distinct payment_id) as total_payments,
        sum(payment_amount) as total_payment_amount,
        sum(principal_paid) as total_principal_paid,
        sum(interest_paid) as total_interest_paid
    from payments
    group by 1
),

combined as (
    select
        coalesce(orig.month_start, pay.month_start) as month,
        orig.loan_type_name,
        loans.customer_id,
        coalesce(orig.loans_originated, 0) as new_loans,
        coalesce(orig.total_amount_originated, 0) as amount_originated,
        coalesce(orig.avg_loan_amount, 0) as avg_loan_size,
        coalesce(orig.avg_interest_rate, 0) as avg_rate,
        coalesce(pay.total_payments, 0) as payments_received,
        coalesce(pay.total_payment_amount, 0) as payment_volume,
        coalesce(pay.total_principal_paid, 0) as principal_collected,
        coalesce(pay.total_interest_paid, 0) as interest_collected
    from monthly_originations orig
    full outer join monthly_payments pay
        on orig.month_start = pay.month_start
    left join loans
        on orig.loan_type_name = loans.loan_type_name
)

select * from combined
order by month desc, loan_type_name
"""

  /** agg_monthly_loans, FIXED variant (reference: docs/bug-analysis.md:161-175
    * "Option 1: Remove the join entirely"): the checked-in text without the
    * detail join and its loan-grain `customer_id`, so one row per
    * month×type; 11 rows on the seeds.
    */
  val AggMonthlyLoansFixed: String = """
with loans as (
    select * from {{ ref('fct_loan_details') }}
),

payments as (
    select * from {{ ref('stg_loan_payments') }}
),

monthly_originations as (
    select
        cast({{ date_trunc('month', 'loan_start_date') }} as date) as month_start,
        loan_type_name,
        count(distinct loan_id) as loans_originated,
        sum(loan_amount) as total_amount_originated,
        avg(loan_amount) as avg_loan_amount,
        avg(interest_rate) as avg_interest_rate
    from loans
    group by 1, 2
),

monthly_payments as (
    select
        cast({{ date_trunc('month', 'payment_date') }} as date) as month_start,
        count(distinct payment_id) as total_payments,
        sum(payment_amount) as total_payment_amount,
        sum(principal_paid) as total_principal_paid,
        sum(interest_paid) as total_interest_paid
    from payments
    group by 1
)

select
    coalesce(orig.month_start, pay.month_start) as month,
    orig.loan_type_name,
    coalesce(orig.loans_originated, 0) as new_loans,
    coalesce(orig.total_amount_originated, 0) as amount_originated,
    coalesce(orig.avg_loan_amount, 0) as avg_loan_size,
    coalesce(orig.avg_interest_rate, 0) as avg_rate,
    coalesce(pay.total_payments, 0) as payments_received,
    coalesce(pay.total_payment_amount, 0) as payment_volume,
    coalesce(pay.total_principal_paid, 0) as principal_collected,
    coalesce(pay.total_interest_paid, 0) as interest_collected
from monthly_originations orig
full outer join monthly_payments pay
    on orig.month_start = pay.month_start
order by month desc, loan_type_name
"""

  /** loan_monthly_detail (reference: docs/bug-analysis.md:178-187 "Option 2:
    * Create a separate detail model"): the loan-grain rows the buggy mart
    * tried to carry, in a model of their own; 10 rows on the seeds.
    */
  val LoanMonthlyDetail: String = """
select
    cast({{ date_trunc('month', 'loan_start_date') }} as date) as month,
    loan_type_name,
    customer_id,
    loan_id,
    loan_amount
from {{ ref('fct_loan_details') }}
"""

  /** The project's models with dbt_project.yml's materializations
    * (staging → view, marts → table; reference: dbt_project.yml:19-22):
    * the four reference texts plus the two documented fixes.
    */
  val models: Seq[SqlModel] = Seq(
    SqlModel("stg_loans", StgLoans, View),
    SqlModel("stg_loan_payments", StgLoanPayments, View),
    SqlModel("fct_loan_details", FctLoanDetails, Table),
    SqlModel("agg_monthly_loans", AggMonthlyLoans, Table),
    SqlModel("agg_monthly_loans_fixed", AggMonthlyLoansFixed, Table),
    SqlModel("loan_monthly_detail", LoanMonthlyDetail, Table))

  /** The project's data tests — the schema.yml the reference configures
    * but never ships (dbt_project.yml:8), expressed with the four dbt
    * generic tests ([[GenericTests]]) plus the reference's documented
    * grain test (docs/bug-analysis.md:139-157). Each test is keyed on the
    * latest node it reads, so [[SqlDag.build]] runs it once every
    * relation it needs exists.
    */
  val tests: Map[String, Seq[GenericTests.DataTest]] = {
    import GenericTests._
    // the reference's grain test is over-strict by design: the payment-
    // only month (NULL type) makes it flag BOTH mart variants with
    // extra_rows = 1 (see FictionBankSpec's golden assertion). These
    // known-informational tests carry dbt's triage config — demoted to
    // `severity: warn` with `store_failures` so a build still goes green
    // while the flagged rows persist to the audit schema — the workflow
    // dbt users run while a bug like the checked-in fan-out is analyzed
    val triage = TestConfig(severity = "warn", storeFailures = true)
    Map(
      "stg_loans" -> Seq(
        DataTest("unique_stg_loans_loan_id",
          b => unique(b("stg_loans"), "loan_id")),
        DataTest("not_null_stg_loans_loan_id",
          b => notNull(b("stg_loans"), "loan_id")),
        DataTest("relationships_stg_loans_loan_type_id",
          b => relationships(b("stg_loans"), "loan_type_id",
            b("loan_types"), "loan_type_id"))),
      "stg_loan_payments" -> Seq(
        DataTest("unique_stg_loan_payments_payment_id",
          b => unique(b("stg_loan_payments"), "payment_id")),
        DataTest("not_null_stg_loan_payments_payment_status",
          b => notNull(b("stg_loan_payments"), "payment_status")),
        DataTest("accepted_values_payment_status",
          b => acceptedValues(b("stg_loan_payments"), "payment_status",
            Seq("completed", "pending", "failed"))),
        DataTest("relationships_payments_loan_id",
          b => relationships(b("stg_loan_payments"), "loan_id",
            b("stg_loans"), "loan_id"))),
      // the DISCRIMINATING grain check, via the dbt `unique` generic test:
      // the mart's intended grain is one row per (month, type) — the
      // checked-in fan-out bug duplicates every origination combo (triage:
      // the documented bug), the fixed variant none (full severity: a
      // failure THERE is a regression)
      "agg_monthly_loans" -> Seq(
        DataTest("grain_agg_monthly_loans",
          b => FictionBank.grainTest(b("fct_loan_details"), b("agg_monthly_loans")),
          triage),
        DataTest("unique_agg_monthly_loans_grain",
          b => unique(b("agg_monthly_loans"), "month", "loan_type_name"),
          triage)),
      "agg_monthly_loans_fixed" -> Seq(
        DataTest("grain_agg_monthly_loans_fixed",
          b => FictionBank.grainTest(b("fct_loan_details"),
            b("agg_monthly_loans_fixed")),
          triage),
        DataTest("unique_agg_monthly_loans_fixed_grain",
          b => unique(b("agg_monthly_loans_fixed"), "month", "loan_type_name"))))
  }
}
