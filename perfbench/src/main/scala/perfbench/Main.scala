package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.BenchProtocol
import graft.sources.Tables

/** Runs one workload in one JVM: set-up (session, untimed warm pass), a
  * timed closed loop of ops, and a result file for `run.py`.
  *
  * Arguments (all `--key value`): workload, inputs, work, passes, trace
  * (0|1), threads, out (result file), lock (directory whose
  * `target/` holds the bench lock).
  *
  * The timed window runs a fixed number of whole passes, so every run
  * times the same mix of ops. With trace 1 each of those passes is run
  * twice, once untraced and once with spans and listeners on; the
  * per-layer metrics come from the traced passes and the ratio of the two
  * pass times is the tracing overhead.
  */
object Main {
  final case class OpRecord(name: String, pass: Int, seconds: Double,
      check: Map[String, Any], traced: Boolean)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val lock = BenchProtocol.acquireBenchLock(a("lock"))
    try run(a) finally lock.close()
  }

  private def session(threads: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    Tables.bootstrap(spark)
    spark
  }

  /** Input records read per op, counted during the warm pass only. */
  private final class RecordsListener extends SparkListener {
    val byOp = mutable.HashMap.empty[String, Long]
    private val stageOp = mutable.HashMap.empty[Int, String]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      op.foreach(o => e.stageIds.foreach(stageOp(_) = o))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (o <- stageOp.get(e.stageId); m <- Option(e.taskMetrics))
        byOp(o) = byOp.getOrElse(o, 0L) + m.inputMetrics.recordsRead
    }
  }
  private val OpProperty = "perfbench.op"

  private def rssKb(field: String): Long = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith(field + ":"))
    line.fold(0L)(_.split("\\s+")(1).toLong)
  }

  /** Reset the peak-RSS watermark so VmHWM covers only what follows. */
  private def resetPeakRss(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: Exception => false }

  /** Heap left in use after each full collection (the one
    * `BenchProtocol.releaseStorage` runs after every op): the data the
    * program keeps live between ops. Young collections are left out: when
    * one runs, and so what it sees of an op's working set and of the old
    * generation's garbage, depends on how the collector sized the young
    * generation, and a single one decided the peak at random.
    */
  private final class LiveHeap extends NotificationListener {
    private val names = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
    private val afterFullGcBytes = mutable.ArrayBuffer.empty[Long]
    private var notified, countAtStart = 0L
    private def collections = beans.map(_.getCollectionCount.max(0L)).sum
    def start(): Unit = {
      beans.foreach {
        case e: NotificationEmitter => e.addNotificationListener(this, null, null)
        case _ =>
      }
      countAtStart = collections
    }
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = gc.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if names(pool) => u.getUsed }.sum
        synchronized {
          if (gc.getGcAction == "end of major GC") afterFullGcBytes += used
          notified += 1
          notifyAll()
        }
      }
    /** The heap after each full collection since `start`, once the
      * collectors' notifications, which arrive on another thread, have all
      * come in (at most 5 s).
      */
    def afterFullGc(): List[Long] = synchronized {
      val deadline = System.nanoTime() + 5000000000L
      while (notified < collections - countAtStart && System.nanoTime() < deadline) wait(50)
      afterFullGcBytes.toList
    }
  }

  private def gcMs(): Long = {
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def run(a: Map[String, String]): Unit = {
    val workloadName = a("workload")
    val work = a("work")
    val threads = a("threads").toInt
    val nPasses = a("passes").toInt
    val traced = a("trace") == "1"
    val spark = session(threads, work)
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, enabled = false)
    val ctx = Ctx(spark, tracer, a("inputs"), work)
    val sessionMs = System.currentTimeMillis()
    val wl = Workloads(workloadName, ctx)

    // warm pass: the same ops, untimed; the first also counts each op's
    // input rows. A traced run warms twice, so that its untraced/traced
    // comparison starts from a settled JVM.
    val records = new RecordsListener
    sc.addSparkListener(records)
    val warmPasses = if (traced) 2 else 1
    val warm = (0 until warmPasses).flatMap { p =>
      val recs = wl.ops(p).map { op =>
        sc.setLocalProperty(OpProperty, op.name)
        val t0 = System.nanoTime()
        op.run()
        val dt = (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(OpProperty, null)
        val c = op.check()
        BenchProtocol.releaseStorage(spark)
        OpRecord(op.name, p, dt, c, traced = false)
      }
      wl.afterPass(p)
      if (p == 0) {
        ListenerBusDrain(sc)
        sc.removeSparkListener(records)
      }
      recs
    }
    val setupEndMs = System.currentTimeMillis()
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName,
      "setup_end_epoch_ms" -> setupEndMs,
      "session_ready_epoch_ms" -> sessionMs,
      "warm" -> warm.map(opJson),
      "rows_in" -> records.byOp.toMap,
      "env" -> Map(
        "threads" -> threads,
        "available_processors" -> Runtime.getRuntime.availableProcessors(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version))
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var releaseS = 0.0
    var pass = warmPasses

    // a traced run alternates untraced and traced passes in ABBA order, so
    // the drift of a warming JVM cancels out of the tracing overhead
    val schedule =
      if (!traced) Seq.fill(nPasses)(false)
      else (1 to nPasses).flatMap(i => if (i % 2 == 1) Seq(false, true) else Seq(true, false))
    val spanListener = new SpanListener
    val planListener = new PlanListener
    if (traced) sc.addSparkListener(spanListener)
    def timedRun(op: Op): Double = {
      val t0 = System.nanoTime()
      op.run()
      (System.nanoTime() - t0) / 1e9
    }
    val memory = ManagementFactory.getMemoryMXBean
    val passSeconds = Map(false -> mutable.ArrayBuffer.empty[Double],
      true -> mutable.ArrayBuffer.empty[Double])
    var gcS, cpuS = 0.0
    var heapMax = 0L

    val rssReset = resetPeakRss()
    val liveHeap = new LiveHeap
    liveHeap.start()
    schedule.foreach { tracing =>
      tracer.enabled = tracing
      tracer.pass = pass
      val gc0 = gcMs()
      val cpu0 = processCpuNs()
      var timed = 0.0
      wl.ops(pass).foreach { op =>
        val dt = if (tracing) planListener.counting(spark)(timedRun(op)) else timedRun(op)
        timed += dt
        val c = op.check()
        val r0 = System.nanoTime()
        tracer.span("harness", "BenchProtocol.releaseStorage") {
          BenchProtocol.releaseStorage(spark)
        }
        releaseS += (System.nanoTime() - r0) / 1e9
        ops += OpRecord(op.name, pass, dt, c, tracing)
        if (tracing) heapMax = heapMax.max(memory.getHeapMemoryUsage.getUsed)
      }
      passes += (wl.afterPass(pass) + ("pass" -> pass) + ("traced" -> tracing))
      if (tracing) {
        gcS += (gcMs() - gc0) / 1e3
        cpuS += (processCpuNs() - cpu0) / 1e9
      }
      passSeconds(tracing) += timed
      pass += 1
    }
    tracer.enabled = false
    if (traced) {
      ListenerBusDrain(sc)
      val n = passSeconds(true).size
      def mean(xs: Seq[Double]) = xs.sum / xs.size
      result("layers") = Layers.metrics(tracer, spanListener, planListener,
        ops.filter(_.traced).toSeq, passes.filter(_("traced") == true).toSeq,
        n, threads) ++ Map(
        "jvm.gc_s" -> gcS / n,
        "jvm.process_cpu_s" -> cpuS / n,
        "jvm.heap_used_mb" -> heapMax / 1e6,
        "trace.overhead_frac" ->
          (mean(passSeconds(true).toSeq) / mean(passSeconds(false).toSeq) - 1.0))
      result("spans") = tracer.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "pass" -> s.pass, "start_ms" -> tracer.epochMs(s.startNs),
        "end_ms" -> tracer.epochMs(s.endNs)))
    }
    result("peak_rss_kb") = rssKb("VmHWM")
    // a full collection right after the window stands in if none ran in it
    val afterFullGc = liveHeap.afterFullGc()
    result("peak_live_heap_bytes") =
      if (afterFullGc.nonEmpty) afterFullGc.max
      else { System.gc(); memory.getHeapMemoryUsage.getUsed }
    result("window_full_gc_heap_mb") = afterFullGc.map(_ / 1048576.0)
    result("peak_rss_reset") = rssReset
    result("ops") = ops.map(opJson)
    result("passes") = passes
    result("release_s") = releaseS
    write(a("out"), result)
    spark.stop()
  }

  private def opJson(r: OpRecord): Map[String, Any] = Map(
    "name" -> r.name, "pass" -> r.pass, "seconds" -> r.seconds,
    "check" -> r.check, "traced" -> r.traced)

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** The result file's JSON. Jackson writes numbers the same under every
    * default locale.
    */
  def toJson(v: Any): String = json.writeValueAsString(v)

  private def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), toJson(v))
}
