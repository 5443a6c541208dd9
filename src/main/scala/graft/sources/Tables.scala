package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the harness parquet tables (`/root/repo/TESTDATA.md`) and the
  * Fiction-Bank seed CSVs replicated from the reference
  * (reference: seeds/loan_types.csv, seeds/raw_loans.csv,
  * seeds/raw_loan_payments.csv — see SURVEY.md §1.3 / FIXTURES.md §A).
  *
  * Scale notes: parquet scans carry their own schema and are
  * splittable — at 100 TB the same `spark.read.parquet(dir)` call
  * distributes across executors; nothing here collects to the driver.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Enable reading parquet TIMESTAMP(NANOS) columns as raw Long nanos.
    * SESSION-WIDE side effect, deliberately: the conf must hold from plan
    * time through task execution (it is captured into the scan's hadoop
    * conf at planning), so scoped set/restore is unsafe. All graft entry
    * points call this up front; any nanos-timestamp parquet read in the
    * session then yields LongType nanos to convert via [[nanosTsToMicros]].
    */
  def enableNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Read parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) columns as
    * session-local TimestampType instead of TIMESTAMP_NTZ. SESSION-WIDE for
    * the same capture-at-planning reason as [[enableNanosAsLong]].
    *
    * Why: the harness tables store naive micros (`timestamp[us]`, no tz),
    * which Spark 4 infers as TIMESTAMP_NTZ by default. Under the UTC
    * session timezone every graft entry point sets, the two types carry
    * identical values — but NTZ breaks downstream consumers that expect
    * TimestampType (java.sql.Timestamp rows, streaming schemas declared
    * LTZ). Disabling inference at the SCAN keeps the column TimestampType
    * with zero per-row conversion, so `ts` predicates still push down to
    * parquet (a cast-on-top-of-scan would block pushdown at 100 TB).
    */
  def enableLtzTimestamps(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** The ONE sanctioned session mutation: set both parquet-reader confs
    * ([[enableNanosAsLong]], [[enableLtzTimestamps]]) up front. Every
    * graft entry point (Bench/Verify/RunPipeline/Explain, the shared test
    * session) calls this once right after building its session — so
    * [[table]]/[[events]] stay pure reads with no hidden conf writes on
    * the hot path (r5 advice: a per-call `conf.set` surprises concurrent
    * callers and defeats conf-change auditing).
    */
  def bootstrap(spark: SparkSession): Unit = {
    enableNanosAsLong(spark)
    enableLtzTimestamps(spark)
  }

  /** The shared nanos→micros `ts` conversion used by BOTH the batch and
    * streaming events readers — `timestamp_micros(ts DIV 1000)` (integer
    * division; `/` would round-trip through double and lose precision at
    * epoch-nanos magnitude). Matches DuckDB's truncation when it loads the
    * same file into its microsecond TIMESTAMP, so oracle comparisons stay
    * bit-identical.
    */
  def nanosTsToMicros(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))

  /** Read one harness table. Column pruning + predicate pushdown reach the
    * parquet scan because this is a plain datasource relation.
    *
    * `events.ts` has shipped in multiple physical layouts across harness
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read as raw Long nanos via [[enableNanosAsLong]] and truncate
    * with [[nanosTsToMicros]]) and TIMESTAMP(MICROS), either UTC-adjusted or
    * naive (the naive form would infer as TIMESTAMP_NTZ — normalized to
    * TimestampType at the scan via [[enableLtzTimestamps]]). The conversion
    * is type-conditional on the actual file schema so every generation reads
    * correctly.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, s"$dir/$name.parquet")
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Events reader handling all three physical `ts` layouts (see [[table]]):
    * legacy TIMESTAMP(NANOS) read as raw Long nanos and truncated, naive
    * TIMESTAMP(MICROS) read as LTZ via [[enableLtzTimestamps]], and
    * UTC-adjusted TIMESTAMP(MICROS) passed through.
    */
  def events(spark: SparkSession, path: String): DataFrame = {
    // defensive: events is the one table whose READ is wrong without the
    // confs (nanos files fail outright), and the confs must hold at plan
    // time anyway — so re-asserting here is idempotent, not scoped
    Tables.bootstrap(spark)
    val df = spark.read.parquet(path)
    df.schema("ts").dataType match {
      case LongType => nanosTsToMicros(df)
      // Spark-WRITTEN NTZ files keep their footer-recorded schema regardless
      // of the inference conf (which only governs metadata-free files like
      // the pyarrow-written harness tables) — normalize those by cast, which
      // is value-identical under the UTC session timezone.
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Register every harness table as a temp view so demonstrators can be
    * written in either the DataFrame API or `spark.sql` (same names the
    * DuckDB oracle uses).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n => table(spark, dir, n).createOrReplaceTempView(n) }

  // ---------------------------------------------------------------------
  // Fiction-Bank seeds (reference seeds/*.csv). Explicit StructTypes —
  // never schema inference — per SURVEY.md §7.4.3. Empty CSV field → NULL
  // (raw_loans.csv:5,9) is Spark's CSV default with these nullable types.
  // ---------------------------------------------------------------------

  val loanTypesSchema: StructType = StructType(Seq(
    StructField("loan_type_id", IntegerType),
    StructField("loan_type_name", StringType),
    StructField("description", StringType),
    StructField("typical_term_months", IntegerType),
    StructField("min_amount", IntegerType),
    StructField("max_amount", IntegerType)))

  val rawLoansSchema: StructType = StructType(Seq(
    StructField("loan_id", StringType),
    StructField("customer_id", StringType),
    StructField("loan_type_id", IntegerType),
    StructField("loan_amount", LongType),
    StructField("interest_rate", DoubleType),
    StructField("loan_start_date", StringType),
    StructField("loan_term_months", IntegerType),
    StructField("property_address", StringType),
    StructField("property_value", LongType)))

  val rawLoanPaymentsSchema: StructType = StructType(Seq(
    StructField("payment_id", StringType),
    StructField("loan_id", StringType),
    StructField("payment_date", StringType),
    StructField("payment_amount", DoubleType),
    StructField("principal_paid", DoubleType),
    StructField("interest_paid", DoubleType),
    StructField("payment_status", StringType)))

  /** Overwrite `path` with `df` as parquet and return the stored table,
    * read back with the schema just written ([[readWritten]]) — the one
    * write-and-reread of a whole-table materialization: downstream refs
    * read the TABLE, not the plan.
    */
  def writeTable(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    readWritten(df.sparkSession, path, df.schema)
  }

  /** Read the parquet table at `path`, written whole by one write of a
    * frame with `schema`. Every file's footer holds exactly that schema,
    * and the file source makes the schema nullable whether it is given or
    * inferred, so this equals `spark.read.parquet(path)` — without the
    * inference job (`mergeSchemasInParallel`) that reads a footer on an
    * executor. Not for partitioned or appended-to tables: partition
    * columns come from directory names, and appended files may differ.
    */
  def readWritten(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** The Spark schema of the parquet table at `path`, read without a
    * Spark job from the footer of its first `part-*.parquet` file — the schema
    * string Spark's own inference job would read there, converted by the
    * same `ParquetFileFormat.readSchemaFromFooter`. None when the table
    * has no data file or the footer carries no Spark schema (a file
    * written by another tool). Only valid for a table whose files all
    * share one schema, e.g. one written whole by one write.
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).headOption
      .flatMap { file =>
        val meta = ParquetFileReader.readFooter(
          HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        if (!meta.getFileMetaData.getKeyValueMetaData
            .containsKey(ParquetReadSupport.SPARK_METADATA_KEY)) None
        else Some(ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      }
  }

  /** CSV seed ingest (SURVEY §2A S1): header row, quoted fields with embedded
    * commas, empty field → NULL. Reads from a directory containing the three
    * seed CSVs (tests ship replicas under src/test/resources/seeds).
    */
  def seedCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("quote", "\"")
      .schema(schema)
      .csv(path)

  /** CSV seed ingest under dbt's `+column_types` config
    * ([[graft.models.SeedConfig]]): schema inference plays agate's role
    * (dbt's default seed typing), then each configured column is cast
    * to its declared SQL type. An override naming a column the file
    * does not have fails fast — dbt errors on that too, and a typo'd
    * override silently not applying is how a seed ships mistyped.
    * Unparseable values fail at load under ANSI mode, matching dbt's
    * load-time type error. Inference is one extra driver-coordinated
    * pass over the file — seeds are small by dbt's own definition.
    */
  def seedCsvTyped(spark: SparkSession, path: String,
      columnTypes: Map[String, String]): DataFrame = {
    val inferred = spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("inferSchema", "true")
      .csv(path)
    val unknown = columnTypes.keySet.diff(inferred.columns.toSet)
    require(unknown.isEmpty,
      s"column_types name columns absent from $path: ${unknown.toSeq.sorted.mkString(", ")}")
    columnTypes.foldLeft(inferred) { case (df, (c, t)) =>
      // parse the type eagerly so a bad DDL string names the column
      val dt =
        try org.apache.spark.sql.types.DataType.fromDDL(t)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"column_types.$c: unparseable SQL type '$t'", e) }
      df.withColumn(c, col(c).cast(dt))
    }
  }
}
