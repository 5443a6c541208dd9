package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. One JVM-wide session (local
  * mode), UTC, shuffle partitions pinned small for tiny test data.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // as in GraftSession.local: each Checkpoints.Scope release warns that
    // the cut's lineage is gone, which is the intended release, and every
    // global window (a row_number over the whole frame) warns that it has
    // no partition
    Configurator.setLevel("org.apache.spark.sql.execution.window", Level.ERROR)
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    graft.sources.Tables.bootstrap(s)
    s
  }

  /** Absolute path of a test resource (e.g. "/seeds/raw_loans.csv"). */
  def resource(path: String): String =
    getClass.getResource(path).getPath

  /** The three Fiction-Bank seed frames, keyed by relation name — shared
    * by every spec that drives the pipeline, so schema/path changes have
    * one site.
    */
  def fictionBankSeeds(spark: SparkSession): Map[String, org.apache.spark.sql.DataFrame] = {
    import graft.sources.Tables
    Map(
      "loan_types" ->
        Tables.seedCsv(spark, resource("/seeds/loan_types.csv"), Tables.loanTypesSchema),
      "raw_loans" ->
        Tables.seedCsv(spark, resource("/seeds/raw_loans.csv"), Tables.rawLoansSchema),
      "raw_loan_payments" ->
        Tables.seedCsv(spark, resource("/seeds/raw_loan_payments.csv"), Tables.rawLoanPaymentsSchema))
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  def resource(path: String): String = SparkSpec.resource(path)
  def fictionBankSeeds: Map[String, org.apache.spark.sql.DataFrame] =
    SparkSpec.fictionBankSeeds(spark)

  /** Spark jobs started on this thread while `body` runs. Jobs are
    * tagged with a job group; after `body`, one marker job in another
    * group is run and awaited — the listener bus delivers events in
    * order, so once the marker's start has arrived every earlier job
    * start has too.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-spec-${System.nanoTime()}"
    val marker = group + "-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
