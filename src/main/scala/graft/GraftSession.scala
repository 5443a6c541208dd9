package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every graft main runs under, and
  * the parser for the mains' integer environment settings.
  */
object GraftSession {

  /** A local session on `cpus` threads:
    *  - [[graft.plans.GraftExtensions]] (FanoutLint and the plan rules);
    *  - `spark.sql.shuffle.partitions` = `cpus`;
    *  - UTC session time zone, no UI;
    *  - blocking shuffle cleanup, so the shuffle files that
    *    `BenchProtocol.releaseStorage`'s `System.gc()` frees are deleted
    *    before it returns rather than during the next timed query;
    *  - WARN logging, with Spark's window logger at ERROR: it warns
    *    "No Partition Defined" on every global window, including the
    *    bounded ones PlanSpec's window sweep already checks;
    *  - [[graft.sources.Tables.bootstrap]].
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Configurator.setLevel("org.apache.spark.sql.execution.window", Level.ERROR)
    graft.sources.Tables.bootstrap(spark)
    spark
  }

  /** `SPARK_GRAFT_CPUS`, defaulting to the JVM's available processors. */
  def cpus: Int = intEnv("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors)

  /** The positive integer in environment variable `name`, or `default`
    * when it is unset. Any other value fails with the variable's name.
    */
  def intEnv(name: String, default: Int,
      env: Map[String, String] = sys.env): Int = {
    val raw = env.getOrElse(name, default.toString)
    val n = raw.toIntOption.getOrElse(sys.error(
      s"$name must be a positive integer, got '$raw'"))
    require(n >= 1, s"$name must be >= 1, got $n")
    n
  }
}
