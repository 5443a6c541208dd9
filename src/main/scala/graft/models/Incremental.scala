package graft.models

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.Tables

/** dbt `incremental` materialization analog: a model that, after its first
  * full build, processes only newly-arrived source data and folds it into
  * the existing table (reference surface: dbt materializations —
  * `dbt_project.yml:17-22` configures view/table; incremental is the third
  * strategy a production dbt project grows into, dispositioned here).
  *
  * Strategies (dbt names):
  *  - [[Append]]: insert the delta — immutable event logs;
  *  - [[Merge]]: upsert on a unique key — delta rows replace same-key rows;
  *  - [[InsertOverwrite]]: replace exactly the partitions present in the
  *    delta — THE 100 TB shape: a late-data re-run rewrites only the
  *    affected partition directories (dynamic partition overwrite), never
  *    the whole table, and re-running the same batch is idempotent.
  *
  * Merge does what dbt's incremental materialization does on a warehouse
  * without MERGE: it builds the new relation beside the old one and swaps
  * it in. The merged rows are written once to a hidden sibling staging
  * directory (`.<name>.staging` — the leading dot keeps it out of
  * listings and partition discovery) while the old table stays readable;
  * then the old directory is deleted and the staging directory renamed
  * into place. A failed write leaves the old table untouched. Only the
  * short window between the delete and the rename has no table at
  * `path`; a transactional format's MERGE INTO closes it.
  *
  * Scale: the existing table is never shuffled by Append/InsertOverwrite
  * (pure metadata + delta write). Merge anti-joins existing against the
  * delta's keys — one key-shuffle (or a broadcast when the delta is small),
  * the same plan at any table size — and rewrites the table once. On an
  * object store the rename is a copy; that is where MERGE INTO pays off.
  */
object Incremental {

  sealed trait Strategy
  case object Append extends Strategy
  final case class Merge(uniqueKey: Seq[String]) extends Strategy
  final case class InsertOverwrite(partitionBy: Seq[String]) extends Strategy {
    // an empty list would make the rebalance before the write a
    // whole-table round-robin shuffle of an unpartitioned table
    require(partitionBy.nonEmpty, "InsertOverwrite needs at least one partition column")
  }

  /** `is_incremental()` watermark idiom: the max of `col` already loaded,
    * collected eagerly to the driver (a single scalar from a small
    * aggregate job — never row data) so the delta filter is a literal and
    * the source scan can prune partitions with it.
    */
  def maxWatermark(existing: DataFrame, colName: String): Option[Any] = {
    val row = existing.agg(org.apache.spark.sql.functions.max(colName)).head()
    if (row.isNullAt(0)) None else Some(row.get(0))
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Replace the table at `path` with `df`: one write into the hidden
    * sibling staging directory, then delete the old directory and rename
    * the staging one into its place. A staging directory left by a
    * crashed run is deleted first; one left by a failed write is deleted
    * before the failure propagates, and the old table is untouched.
    */
  private def stageAndSwap(df: DataFrame, path: String): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val table = fs.makeQualified(target)
    val staging = new Path(table.getParent, s".${table.getName}.staging")
    fs.delete(staging, true)
    try df.write.parquet(staging.toString)
    catch { case e: Throwable => fs.delete(staging, true); throw e }
    fs.delete(table, true)
    if (!fs.rename(staging, table))
      throw new java.io.IOException(s"could not rename $staging to $table")
  }

  /** One `dbt run` of an incremental model materialized at `path`.
    * `build(isIncremental, existing)` is the model body: on the first run
    * it receives `(false, None)` and must produce the full table; on
    * later runs `(true, Some(existing))` and must produce only the delta.
    * Returns the materialized table, re-read from storage. A table this
    * run wrote whole (first build, full refresh, each merge) is re-read
    * with the schema just written, which starts no schema-inference job;
    * Append and InsertOverwrite tables are re-read with inference, since
    * their partition columns come from directory names and appended files
    * may differ.
    *
    * `fullRefresh` is dbt's `--full-refresh` flag: the run takes the
    * FIRST-BUILD path regardless of what exists at `path` —
    * `is_incremental()` reports false, the body must produce the full
    * table, and the static overwrite replaces the whole directory (for
    * InsertOverwrite that includes partitions the rebuild no longer
    * emits — exactly dbt's drop-and-rebuild, and the escape hatch after
    * a schema or logic change that incremental folding can't express).
    */
  def run(spark: SparkSession, path: String, strategy: Strategy,
      fullRefresh: Boolean = false)(
      build: (Boolean, Option[DataFrame]) => DataFrame): DataFrame = {
    // Partitioned writes REBALANCE by the partition columns first (the
    // same write-side distribution as ScaleOps.writePartitioned):
    // without it every upstream task writes one file per partition value
    // it holds — N tasks × D values small files per run, compounding
    // each incremental batch, and every later `existing` re-read (the
    // is_incremental() path reads the table every run) pays the
    // listing/open cost. AQE sizes the exchange, so a hot partition
    // splits across writers instead of straggling one. Data-identical.
    // Unpartitioned writes stay distribution-free: adding an exchange to
    // a pass-through full rewrite would shuffle the whole table for
    // nothing.
    def partitionedWrite(df: DataFrame, parts: Seq[String]): Unit =
      df.hint("rebalance", parts.map(col): _*)
        .write.partitionBy(parts: _*).mode("overwrite").parquet(path)
    if (fullRefresh || !exists(spark, path)) {
      val full = build(false, None)
      strategy match {
        case InsertOverwrite(parts) =>
          partitionedWrite(full, parts)
          spark.read.parquet(path)
        case _ => Tables.writeTable(full, path)
      }
    } else {
      // A Merge table is always written whole by one write, so any one
      // footer holds the schema of every file — Spark's inference job
      // (without mergeSchema) reads just one footer too. Read it here,
      // without a Spark job.
      val existing = strategy match {
        case Merge(_) => Tables.footerSchema(spark, path)
          .fold(spark.read.parquet(path))(Tables.readWritten(spark, path, _))
        case _ => spark.read.parquet(path)
      }
      val delta = build(true, Some(existing))
      strategy match {
        case Append =>
          delta.write.mode("append").parquet(path)
          spark.read.parquet(path)
        case Merge(key) =>
          // upsert = keep existing rows whose key is absent from the
          // delta, union the delta. The plan still reads the old table's
          // files, which stay in place until the staged write completes.
          val kept = existing.join(delta.select(key.map(col): _*), key, "left_anti")
          val merged = kept.unionByName(delta)
          stageAndSwap(merged, path)
          Tables.readWritten(spark, path, merged.schema)
        case InsertOverwrite(parts) =>
          // The delta is pinned off the table's files before the write:
          // the model body may derive it FROM `existing` (late-data
          // models re-read affected partitions), and Spark correctly
          // refuses to overwrite a path a lazy plan still reads. The
          // delta is batch-sized by contract, so the checkpoint is
          // bounded; a transactional format's MERGE/REPLACE WHERE makes
          // both the pin and the swap storage-side.
          val pinned = delta.localCheckpoint(true)
          // dynamic mode: only partitions present in the delta are
          // replaced (static mode would silently truncate the whole
          // table). The conf must hold at write execution, but it also
          // changes the semantics of every OTHER partitioned overwrite
          // in the session — so set/restore around this one write (the
          // write is synchronous).
          val key = "spark.sql.sources.partitionOverwriteMode"
          val before = spark.conf.getOption(key)
          spark.conf.set(key, "dynamic")
          try partitionedWrite(pinned, parts)
          finally before match {
            case Some(v) => spark.conf.set(key, v)
            case None => spark.conf.unset(key)
          }
          spark.read.parquet(path)
      }
    }
  }
}
