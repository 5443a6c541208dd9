package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer of the program. `layer` is the module the
  * call enters (operators, plans, exec, models, sources, harness) or `op`
  * for the root span of one benchmark op.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    pass: Int, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the harness's calls into the program. Disabled,
  * it runs the body and records nothing, so untraced runs pay no cost.
  * Spans are kept in memory and written out once, at the end of the run.
  *
  * The open span's id is set as a Spark local property, so every job the
  * body starts carries it and [[SpanListener]] can attribute the job's
  * stages and tasks to that span.
  */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var pass: Int = 0
  /** Wall-clock anchor so task times (epoch ms) compare with span times. */
  val epochMs0: Long = System.currentTimeMillis()
  val nanos0: Long = System.nanoTime()

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), layer, name,
        pass, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  def epochMs(ns: Long): Double = epochMs0 + (ns - nanos0) / 1e6
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Spark work attributed to one span: what its jobs' tasks did. */
final class SparkWork {
  var jobs = 0
  var testJobMs = 0L
  var tasks = 0
  var taskMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var inputBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes jobs, stages and tasks to the span open when the job
  * started (via [[Tracer.SpanProperty]]). Jobs of SQL executions whose
  * call site lies in `GenericTests` are data-test jobs, counted separately.
  */
final class SpanListener extends SparkListener {
  val bySpan = mutable.HashMap.empty[Int, SparkWork]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val testJobs = mutable.HashSet.empty[Int]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val testExecutions = mutable.HashSet.empty[String]
  /** (stage id, attempt) -> (duration ms, task run times ms), for stages
    * of jobs started inside a span. */
  val stages = mutable.HashMap.empty[(Int, Int), (Long, mutable.ArrayBuffer[Long])]

  private def work(span: Int) = bySpan.getOrElseUpdate(span, new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).fold(-1)(_.toInt)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .exists(testExecutions.contains)) testJobs += e.jobId
    e.stageIds.foreach(stageSpan(_) = span)
    work(span).jobs += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.details.contains("GenericTests") =>
      synchronized { testExecutions += s.executionId.toString }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (testJobs(e.jobId))
      work(jobSpan(e.jobId)).testJobMs += e.time - jobStart(e.jobId)
  }

  private def stage(id: Int, attempt: Int) =
    stages.getOrElseUpdate((id, attempt), (0L, mutable.ArrayBuffer.empty[Long]))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    if (stageSpan.getOrElse(i.stageId, -1) >= 0) {
      val ms = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
      stages((i.stageId, i.attemptNumber())) = (ms, stage(i.stageId, i.attemptNumber())._2)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, -1)
    val w = work(span)
    w.tasks += 1
    val info = e.taskInfo
    w.taskIntervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (span >= 0)
      stage(e.stageId, e.stageAttemptId)._2 += (if (m == null) info.duration else m.executorRunTime)
    if (m != null) {
      w.taskMs += m.executorRunTime
      w.taskCpuNs += m.executorCpuTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.spillBytes += m.diskBytesSpilled
      w.inputRecords += m.inputMetrics.recordsRead
      w.inputBytes += m.inputMetrics.bytesRead
    }
  }
}

/** Counts plan nodes of the queries run inside [[counting]]. */
final class PlanListener extends QueryExecutionListener {
  var queries = 0
  var exchanges = 0
  var scans = 0
  var scanTimeMs = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val nodes = PlanListener.nodes(qe.executedPlan)
      queries += 1
      exchanges += nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }
      nodes.foreach {
        case s: FileSourceScanExec =>
          scans += 1
          scanTimeMs += s.metrics.get("scanTime").fold(0L)(_.value)
        case _ =>
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Runs `body` with this listener registered. Plan events arrive
    * asynchronously, so queued ones are delivered before registering and
    * before unregistering: exactly the queries `body` ran are counted, and
    * none of the output checks run before or after it.
    */
  def counting[T](spark: SparkSession)(body: => T): T = {
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(this)
    try body
    finally {
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(this)
    }
  }
}

object PlanListener {
  /** Every node of a physical plan, looking through adaptive wrappers and
    * query stages into the plan that actually ran, and into subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
