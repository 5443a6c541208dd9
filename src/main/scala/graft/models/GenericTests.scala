package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** dbt's four built-in generic data tests as library helpers (reference:
  * README.md:53-54 `dbt test`; dbt_project.yml:8 configures `test-paths`
  * but the project ships no tests dir, so these cover the lifecycle verb
  * the reference documents). Each helper returns a MUST-BE-EMPTY
  * DataFrame of violating rows — the M3 pattern ([[FictionBank.grainTest]],
  * docs/bug-analysis.md:139-157): a test passes iff its frame is empty,
  * and on failure the frame IS the diagnostic (the offending keys/rows).
  *
  * Scale: `unique` is one hash aggregate on the tested key; `notNull` and
  * `acceptedValues` are pushdown-able scan filters; `relationships` is a
  * left-anti join whose parent side is typically a broadcast-size dim.
  * Nothing collects to the driver — at 100 TB each test is one bounded
  * Spark job whose output is only the violations.
  */
object GenericTests {

  /** `unique`: key tuples appearing more than once, with their counts.
    * dbt semantics: rows with a NULL in the tested column(s) are exempt
    * (dbt's generated SQL filters `where column is not null`; nullability
    * is `not_null`'s job) — two NULL keys are NOT a uniqueness violation.
    */
  def unique(df: DataFrame, cols: String*): DataFrame =
    df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** `not_null`: rows whose `c` is NULL. */
  def notNull(df: DataFrame, c: String): DataFrame =
    df.filter(col(c).isNull)

  /** `accepted_values`: rows whose non-NULL `c` is outside `values`
    * (dbt semantics: NULLs are not violations — pair with [[notNull]]).
    */
  def acceptedValues(df: DataFrame, c: String, values: Seq[Any]): DataFrame =
    df.filter(col(c).isNotNull && !col(c).isin(values: _*))

  /** `relationships`: child rows whose non-NULL foreign key `c` has no
    * match in `parent.parentCol` (dbt's referential-integrity test).
    */
  def relationships(df: DataFrame, c: String,
      parent: DataFrame, parentCol: String): DataFrame =
    df.filter(col(c).isNotNull)
      .join(parent.select(col(parentCol).as("__parent_key")).distinct(),
        col(c) === col("__parent_key"), "left_anti")

  /** dbt's test-config block (`severity`, `warn_if`/`error_if`
    * thresholds, `store_failures`, `where`, `limit`): how a test's
    * violation COUNT maps to a verdict. dbt's semantics —
    * `severity: error` (the default) checks `error_if` first, then
    * falls back to `warn_if`; `severity: warn` never errors, it checks
    * `warn_if` only. Both thresholds default to `!= 0`. Conditions are
    * dbt's comparator strings over the failure count (`">10"`,
    * `">= 3"`, `"!=0"`) and parse at CONSTRUCTION — a typo'd threshold
    * must fail when declared, not silently pass forever at evaluation
    * time. `where` filters the TESTED relation before the test (dbt
    * wraps the model in a WHERE subquery — applied by the schema.yml
    * builders, [[SchemaConfig.tests]]); `limit` caps the failure rows
    * the test considers (dbt appends LIMIT to the test query — so the
    * count, the verdict, AND the stored audit rows are all capped,
    * applied in [[runDetailed]]). At scale `limit` is also the early-out
    * knob: a LocalLimit over the violation plan stops scanning once N
    * rows are found instead of materializing every violation.
    */
  final case class TestConfig(severity: String = "error",
      warnIf: String = "!= 0", errorIf: String = "!= 0",
      storeFailures: Boolean = false,
      where: Option[String] = None,
      limit: Option[Int] = None) {
    // dbt-core validates severity case-insensitively (WARN / Warn /
    // error are all legal schema.yml spellings) — normalize once and
    // compare against the normalized form everywhere
    val severityNormalized: String =
      severity.toLowerCase(java.util.Locale.ROOT)
    require(Set("warn", "error")(severityNormalized),
      s"severity must be warn or error (any case), got '$severity'")
    limit.foreach(n => require(n >= 1, s"test limit must be >= 1, got $n"))
    TestConfig.met(warnIf, 0)
    TestConfig.met(errorIf, 0)

    /** The verdict for `failures` violating rows: pass / warn / error. */
    def status(failures: Long): String =
      if (severityNormalized == "error" && TestConfig.met(errorIf, failures))
        "error"
      else if (TestConfig.met(warnIf, failures)) "warn"
      else "pass"
  }

  object TestConfig {
    private val Cond = """^\s*(>=|<=|!=|==|>|<|=)\s*(\d+)\s*$""".r

    /** Evaluate a dbt threshold condition against a failure count. */
    def met(cond: String, n: Long): Boolean = cond match {
      case Cond(op, v) =>
        val t = v.toLong
        op match {
          case ">" => n > t
          case ">=" => n >= t
          case "<" => n < t
          case "<=" => n <= t
          case "!=" => n != t
          case "=" | "==" => n == t
        }
      case _ => throw new IllegalArgumentException(
        s"cannot parse test threshold '$cond' " +
          "(expected a comparator + integer, e.g. '>10', '!=0')")
    }
  }

  /** A named test over built relations: `frame(built)` must be empty —
    * or, under a non-default [[TestConfig]], within its thresholds.
    */
  final case class DataTest(name: String,
      frame: Map[String, DataFrame] => DataFrame,
      config: TestConfig = TestConfig())

  /** One evaluated test: violation count, the [[TestConfig]] verdict,
    * and where the failing rows were persisted (when `store_failures`).
    */
  final case class TestResult(name: String, failures: Long, status: String,
      storedPath: Option[String])

  /** `dbt test` analog: evaluate each test, returning name → violation
    * count (0 = pass). One Spark job per test; no driver-side data.
    * Count-only API: it never promised an audit table, so a test whose
    * config sets `store_failures` is evaluated with the store step
    * skipped (use [[runDetailed]] with a `storeDir` to persist audits)
    * rather than throwing on a config the caller can't act on.
    */
  def run(tests: Seq[DataTest],
      built: Map[String, DataFrame]): Seq[(String, Long)] =
    runDetailed(
      tests.map(t =>
        if (t.config.storeFailures)
          t.copy(config = t.config.copy(storeFailures = false))
        else t),
      built).map(r => r.name -> r.failures)

  /** [[run]] with dbt's full test-config semantics: each test's count
    * maps through its [[TestConfig]] to pass/warn/error, and a test with
    * `store_failures` persists its violating rows as a parquet audit
    * table under `storeDir/<test_name>` (dbt's audit schema) — written
    * even when empty, so the audit relation always reflects the LATEST
    * run (a stale failure table from a previous run would read as a
    * live problem). The count is then taken off the stored table: one
    * evaluation of the test frame, and the persisted audit rows provably
    * back the verdict. Scale: unchanged — one bounded job per test; the
    * store is a write of the (small) violation set, never the relation.
    */
  def runDetailed(tests: Seq[DataTest], built: Map[String, DataFrame],
      storeDir: Option[String] = None): Seq[TestResult] =
    tests.map { t =>
      val frame = t.config.limit.fold(t.frame(built))(t.frame(built).limit)
      val stored = if (t.config.storeFailures) {
        val dir = storeDir.getOrElse(throw new IllegalArgumentException(
          s"test ${t.name} sets store_failures but runDetailed got no " +
            "storeDir — pass the audit location"))
        val path = s"$dir/${t.name}"
        frame.write.mode("overwrite").parquet(path)
        Some(path)
      } else None
      val n = stored.fold(frame.count())(p =>
        graft.sources.Tables.readWritten(frame.sparkSession, p, frame.schema).count())
      TestResult(t.name, n, t.config.status(n), stored)
    }
}
