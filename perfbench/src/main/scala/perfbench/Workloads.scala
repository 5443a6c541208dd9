package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{BenchProtocol, SparkEntry}
import graft.models.{GenericTests, Incremental, Snapshot, SqlDag}
import graft.models.FictionBankSql
import graft.sources.{FsUtil, Tables}

/** One benchmark op. `run` is the timed call; `check` runs afterwards with
  * the clock stopped and returns the values the output check compares.
  */
trait Op {
  def name: String
  def run(): Unit
  def check(): Map[String, Any]
}

/** A workload is a sequence of passes; each pass is a list of ops. Pass 0
  * is the untimed warm pass of set-up.
  */
trait Workload {
  def ops(pass: Int): Seq[Op]
  /** Called after each pass with the clock stopped. */
  def afterPass(pass: Int): Map[String, Any] = Map.empty
}

final case class Ctx(spark: SparkSession, tracer: Tracer, inputs: String,
    work: String)

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "dedup_corpus" => new DedupCorpus(ctx)
    case "dbt_build" => new DbtBuild(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Attach a row count and an order-independent row checksum to `df`;
    * both are filled when the frame is evaluated.
    */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val hash = xxhash64(df.columns.toSeq.map(c => col(s"`${c.replace("`", "``")}`")): _*)
    (df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(hash.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("checksum")), obs)
  }

  def observedValues(obs: Observation): Map[String, Any] = {
    val m = obs.get
    Map("rows" -> m("rows").toString, "checksum" -> m("checksum").toString)
  }
}

/** An op that builds a frame through `SparkEntry.queries(name)`, a single
  * call of `operator`, and times it with `BenchProtocol.evaluate`.
  */
final class OperatorOp(ctx: Ctx, val name: String, operator: String) extends Op {
  private var obs: Observation = _
  def run(): Unit = ctx.tracer.span("op", name) {
    val df = ctx.tracer.span("operators", s"$operator via SparkEntry.queries($name)") {
      SparkEntry.queries(name)(ctx.spark, ctx.inputs)
    }
    if (ctx.tracer.enabled)
      ctx.tracer.span("plans", "queryExecution.executedPlan") {
        df.queryExecution.executedPlan
      }
    val (o, observation) = Workloads.observed(df)
    obs = observation
    ctx.tracer.span("exec", "BenchProtocol.evaluate") { BenchProtocol.evaluate(o) }
  }
  def check(): Map[String, Any] = Workloads.observedValues(obs)
}

/** The LLM-data curation chain: one op per operator, each reached through
  * its `SparkEntry` builder, which is a single call into `TextDedup` or
  * `TextAnalysis` over the documents table.
  */
final class DedupCorpus(ctx: Ctx) extends Workload {
  val chain: Seq[(String, String)] = Seq(
    "x1_dedup_exact" -> "TextDedup.exactDedup",
    "x2a_fingerprint" -> "TextDedup.fingerprint",
    "x2b_minhash_lsh" -> "TextDedup.minhashLshPairs",
    "x2f_dedup_clusters" -> "TextDedup.dedupClusters",
    "x2c2_ngram_jaccard_capped" -> "TextDedup.ngramJaccardPairs",
    "x23_decontaminate" -> "TextDedup.decontaminate",
    "x5h_tfidf_terms" -> "TextAnalysis.tfIdf",
    "x5o_bpe_train" -> "TextAnalysis.bpeMerges")

  def ops(pass: Int): Seq[Op] = chain.map { case (n, fn) => new OperatorOp(ctx, n, fn) }
}

/** The Fiction-Bank `dbt build`: models gated by generic tests, then a
  * series of incremental payment batches and a snapshot. Each pass is one
  * cycle that starts from an empty warehouse.
  */
final class DbtBuild(ctx: Ctx) extends Workload {
  import SqlDag._

  private val seedDir = s"${ctx.inputs}/loans"
  private val batches: Seq[String] = {
    val s = Files.list(Paths.get(seedDir, "batches"))
    try s.toArray.map(_.toString).filter(_.endsWith(".csv")).sorted.toSeq
    finally s.close()
  }
  private def warehouse(pass: Int) = Paths.get(ctx.work, "warehouse", s"cycle_$pass")

  /** agg_monthly_loans with the fan-out join removed: month x type grain. */
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

  private val models = Seq(
    SqlModel("stg_loans", FictionBankSql.StgLoans, View),
    SqlModel("stg_loan_payments", FictionBankSql.StgLoanPayments, View),
    SqlModel("fct_loan_details", FictionBankSql.FctLoanDetails, Table),
    SqlModel("agg_monthly_loans", FictionBankSql.AggMonthlyLoans, Table),
    SqlModel("agg_monthly_loans_fixed", AggMonthlyLoansFixed, Table))

  private def t(name: String, f: Map[String, DataFrame] => DataFrame,
      severity: String = "error") =
    GenericTests.DataTest(name, f, GenericTests.TestConfig(severity = severity))

  private val tests = Map(
    "stg_loans" -> Seq(
      t("unique_stg_loans_loan_id", b => GenericTests.unique(b("stg_loans"), "loan_id")),
      t("not_null_stg_loans_loan_id", b => GenericTests.notNull(b("stg_loans"), "loan_id"))),
    "stg_loan_payments" -> Seq(
      t("unique_stg_loan_payments_payment_id",
        b => GenericTests.unique(b("stg_loan_payments"), "payment_id")),
      t("relationships_stg_loan_payments_loan_id", b => GenericTests.relationships(
        b("stg_loan_payments"), "loan_id", b("stg_loans"), "loan_id"))),
    "fct_loan_details" -> Seq(
      t("unique_fct_loan_details_loan_id",
        b => GenericTests.unique(b("fct_loan_details"), "loan_id")),
      t("accepted_values_fct_loan_details_loan_type_name",
        b => GenericTests.acceptedValues(b("fct_loan_details"), "loan_type_name",
          Seq("Mortgage", "Home Equity", "Personal")))),
    "agg_monthly_loans" -> Seq(
      t("unique_agg_monthly_loans_grain",
        b => GenericTests.unique(b("agg_monthly_loans"), "month", "loan_type_name"),
        severity = "warn")),
    "agg_monthly_loans_fixed" -> Seq(
      t("unique_agg_monthly_loans_fixed_grain",
        b => GenericTests.unique(b("agg_monthly_loans_fixed"), "month", "loan_type_name"))))

  private def seed(file: String, schema: org.apache.spark.sql.types.StructType) =
    ctx.tracer.span("sources", s"Tables.seedCsv($file)") {
      Tables.seedCsv(ctx.spark, s"$seedDir/$file", schema)
    }

  /** stg_loan_payments' projection, applied to a payments CSV. */
  private def payments(path: String): DataFrame =
    ctx.tracer.span("sources", s"Tables.seedCsv(${Paths.get(path).getFileName})") {
      Tables.seedCsv(ctx.spark, path, Tables.rawLoanPaymentsSchema)
    }.select(col("payment_id"), col("loan_id"),
      col("payment_date").cast("date").as("payment_date"), col("payment_amount"),
      col("principal_paid"), col("interest_paid"), col("payment_status"))

  def ops(pass: Int): Seq[Op] = {
    val wh = warehouse(pass)
    val paymentsTable = wh.resolve("fct_payments").toString
    val build = new Op {
      val name = "build"
      private var res: BuildResult = _
      def run(): Unit = ctx.tracer.span("op", name) {
        val seeds = Map(
          "raw_loans" -> seed("raw_loans.csv", Tables.rawLoansSchema),
          "raw_loan_payments" -> seed("raw_loan_payments.csv", Tables.rawLoanPaymentsSchema),
          "loan_types" -> seed("loan_types.csv", Tables.loanTypesSchema))
        res = ctx.tracer.span("models", "SqlDag.build") {
          new SqlDag(ctx.spark, wh.resolve("build").toString)
            .build(models, seeds, tests, storeDir = Some(wh.resolve("test_failures").toString))
        }
      }
      def check(): Map[String, Any] = {
        def total(model: String, c: String) = res.relations.get(model).fold("missing")(
          _.agg(sum(col(c))).head().get(0).toString)
        Map("success" -> res.success, "nodes" -> res.nodes.size,
          "fct_total" -> total("fct_loan_details", "loan_amount"),
          "fixed_total" -> total("agg_monthly_loans_fixed", "amount_originated"),
          "fanout_total" -> total("agg_monthly_loans", "amount_originated"))
      }
    }
    val sources = (s"$seedDir/raw_loan_payments.csv" +: batches).zipWithIndex
    val incremental = sources.map { case (path, i) =>
      new Op {
        val name = f"incremental_$i%03d"
        private var out: DataFrame = _
        def run(): Unit = ctx.tracer.span("op", name) {
          out = ctx.tracer.span("models", "Incremental.run") {
            Incremental.run(ctx.spark, paymentsTable, Incremental.Merge(Seq("payment_id"))) {
              (_, _) => payments(path)
            }
          }
        }
        def check(): Map[String, Any] = Map("rows" -> out.count())
      }
    }
    val snapshot = new Op {
      val name = "snapshot"
      private val key = Seq("payment_id")
      private val checkCols = Seq("payment_amount", "payment_status")
      private val out = wh.resolve("payments_snapshot").toString
      def run(): Unit = ctx.tracer.span("op", name) {
        ctx.tracer.span("models", "Snapshot.checkStrategy") {
          val first = wh.resolve("payments_snapshot_0").toString
          Snapshot.checkStrategy(None, payments(s"$seedDir/raw_loan_payments.csv"),
            key, checkCols, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
            .write.mode("overwrite").parquet(first)
          Snapshot.checkStrategy(Some(ctx.spark.read.parquet(first)),
            ctx.spark.read.parquet(paymentsTable), key, checkCols,
            java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
            .write.mode("overwrite").parquet(out)
        }
      }
      def check(): Map[String, Any] = Map("rows" -> ctx.spark.read.parquet(out).count())
    }
    (build +: incremental) :+ snapshot
  }

  /** What the cycle left in its warehouse; the next cycle starts empty. */
  override def afterPass(pass: Int): Map[String, Any] = {
    val wh = warehouse(pass)
    val files = {
      val s = Files.walk(wh)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }
    val left = Map[String, Any]("written_bytes" -> files.map(Files.size).sum,
      "data_files" -> files.count(_.getFileName.toString.startsWith("part-")))
    FsUtil.deleteTree(wh)
    left
  }
}
