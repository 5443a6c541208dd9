package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The timing protocol shared by [[Bench]] (the full-suite record) and
  * `perfbench` (the steady benchmark): one lock, one warmup, one timing
  * action, one release between timings and one pair of calibrations, so
  * ratios between the two harnesses compare like with like.
  */
object BenchProtocol {

  /** Repo root for harness artifacts (BENCH_FULL.json, the bench lock):
    * `SPARK_GRAFT_REPO`, else the sbt-set `user.dir`, else CWD. One
    * definition, so every harness always resolves the same lock
    * file and a caller outside the repo root still writes the record
    * into the repo.
    */
  def repoRoot: String = sys.env.get("SPARK_GRAFT_REPO")
    .orElse(sys.props.get("user.dir")).getOrElse(".")

  /** Mutual-exclusion lock for timing harnesses. Two timing JVMs sharing
    * one box slow each other down and can fail each other's queries (a
    * Bench run next to another timing JVM took 182 s against 117 s
    * alone), so [[Bench]] and `perfbench` both take an OS-level file lock
    * (`target/.graft_bench_lock` under [[repoRoot]]) before building
    * their SparkSession, and the second acquirer fails fast with a named
    * error. An OS `flock`, not a marker file, so a crashed or killed
    * harness releases the lock with its process. Returns a handle to
    * close when timing is done; process exit also releases it.
    */
  def acquireBenchLock(root: String = repoRoot): java.io.Closeable = {
    import java.nio.file.{Files, Paths, StandardOpenOption => O}
    val dir = Paths.get(root, "target")
    Files.createDirectories(dir)
    val path = dir.resolve(".graft_bench_lock")
    val ch = java.nio.channels.FileChannel.open(path, O.CREATE, O.WRITE)
    val lock =
      try ch.tryLock()
      catch { // same-JVM holder (the spec's dummy-holder case)
        case _: java.nio.channels.OverlappingFileLockException => null
      }
    if (lock == null) {
      val holder =
        try new String(Files.readAllBytes(path),
          java.nio.charset.StandardCharsets.UTF_8).trim
        catch { case _: Throwable => "" }
      ch.close()
      throw new IllegalStateException(
        s"graft bench lock $path is HELD" +
          (if (holder.nonEmpty) s" ($holder)" else "") +
          " — another timing harness (Bench or perfbench) is " +
          "running on this box; a concurrent run would contaminate both " +
          "records. Wait for it to finish.")
    }
    ch.truncate(0)
    ch.write(java.nio.ByteBuffer.wrap(
      s"pid=${ProcessHandle.current().pid()} since=${java.time.Instant.now()}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    ch.force(true)
    () => {
      try lock.release() catch { case _: Throwable => }
      ch.close()
    }
  }

  /** Timing action: a `noop`-format write — full evaluation of every
    * output column, zero driver collection, zero I/O. (Under `count()`
    * Catalyst's EliminateSorts/pruning would delete the work being
    * measured.)
    */
  def evaluate(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Release executor storage between timings so one query's cached
    * frames and localCheckpoints never distort the next query's clock,
    * and run `System.gc()` so the ContextCleaner deletes the shuffle
    * files of plans that went unreachable: it deletes them only after a
    * GC, so a long sweep on a big heap would otherwise keep every
    * query's shuffle files until the disk fills (~50 GB in an sf10
    * sweep). Under [[GraftSession.local]]'s blocking shuffle cleanup the
    * deletions finish here, outside every timed window.
    */
  def releaseStorage(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** JIT/codegen warmup: exercise the shuffle, codegen AND noop-write
    * paths once so the first timed run does not absorb one-time JVM
    * compilation cost (with the single-run probe protocol that cost
    * would land entirely inside the measurement).
    */
  def warmup(spark: SparkSession): Unit =
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      evaluate(spark.range(100000).selectExpr("id", "id * 2 AS v"))
    } catch { case _: Throwable => }

  /** Machine-speed calibration: a fixed CPU-bound job (range sum + hash
    * agg), timed after warmup; container CPU throughput varies
    * several-fold between time windows. CPU-only: pair with [[calibIo]].
    */
  def calib(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200000000L)
      .selectExpr("id % 97 AS k", "id")
      .groupBy("k").sum("id").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** I/O calibration: a fixed ~64 MB parquet write+read round trip
    * through the local disk and the datasource scan path. Query time on
    * a shared box can move with disk speed while the CPU calibration
    * stays flat or improves; this measures that dimension.
    */
  def calibIo(spark: SparkSession): Double = {
    val dir = java.nio.file.Files.createTempDirectory("graft-calib-io")
    val path = dir.resolve("t.parquet").toString
    val t0 = System.nanoTime()
    spark.range(8000000L).selectExpr("id", "id * 31 % 997 AS v")
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).selectExpr("sum(v)").collect()
    val dt = (System.nanoTime() - t0) / 1e9
    // best-effort cleanup; an abandoned temp dir must never fail a bench
    try graft.sources.FsUtil.deleteTree(dir)
    catch { case _: Throwable => }
    dt
  }
}
