package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job of an op: the graft module it is attributed to, and
  * its interval on Spark's event clock (ms).
  */
final case class JobSpan(id: Int, module: String, underRunner: Boolean,
    startMs: Long, var endMs: Long = -1L)

/** Everything the traced run records for one op. Counters are filled by
  * the listeners while the op is current; the harness fills the rest.
  */
final class OpTrace(val name: String) {
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = c(k) = c(k) + v
  private val blocks = mutable.Map.empty[String, Long]
  private var live = 0L
  def block(id: String, bytes: Long): Unit = {
    live += bytes - blocks.getOrElse(id, 0L)
    if (bytes == 0) blocks.remove(id) else blocks(id) = bytes
    if (live > c("freeze.peak_bytes")) c("freeze.peak_bytes") = live.toDouble
  }
  def toMap: Map[String, Any] = Map("name" -> name, "counters" -> c.toMap,
    "jobs" -> jobs.map(j => Map("id" -> j.id, "module" -> j.module,
      "under_runner" -> j.underRunner, "start_ms" -> j.startMs,
      "end_ms" -> j.endMs)))
}

/** The graft module a job belongs to: the first `graft.` frame of its
  * stage call site, which is the innermost graft code that submitted it.
  * Adaptive query stages are submitted from Spark's own threads, so their
  * call site has no graft frame; they take the call site of the SQL
  * execution they belong to. Jobs with no graft frame in either were
  * submitted by the benchmark's own sink (the op's final noop write), so
  * they run the op's result plan.
  */
object Attribution {
  def module(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => "sink"
      case Some(f) =>
        val cls = f.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")
        val top = cls.takeWhile(_ != '$')
        top match {
          case "graft.Main" => "Main"
          case t if t.startsWith("graft.ci.") => "ci"
          case "graft.core.Runner" => "Runner"
          case "graft.core.Materializer" => "Materializer"
          case "graft.core.Snapshot" => "Snapshot"
          case "graft.core.MergeOnRead" => "MergeOnRead"
          case "graft.core.TimeTravel" => "TimeTravel"
          case "graft.core.Warehouse" | "graft.core.Retry" => "Warehouse"
          case "graft.operators.Gate" => "Gate"
          case t if t.startsWith("graft.queries.") ||
            t.startsWith("graft.operators.") || t.startsWith("graft.plans.") =>
            "operators"
          case _ => "other"
        }
    }
}

/** Scheduler-side instrument: jobs, stages, task metrics and RDD block
  * updates, charged to whichever op is current.
  */
final class SchedulerTrace extends SparkListener {
  @volatile var current: OpTrace = new OpTrace("idle")
  private val open = mutable.Map.empty[Int, JobSpan]
  private val executionSites = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executionSites(s.executionId) = s.details
    case s: SparkListenerSQLExecutionEnd => executionSites.remove(s.executionId)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val stageSite = e.stageInfos.headOption.map(_.details).getOrElse("")
    val site = if (stageSite.contains("graft.")) stageSite
      else Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSites.get(id.toLong)).getOrElse(stageSite)
    val span = JobSpan(e.jobId, Attribution.module(site),
      site.contains("graft.core.Runner"), e.time)
    open(e.jobId) = span
    current.jobs += span
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    open.remove(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    current.add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = current
    op.add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val delayMs = info.duration - m.executorDeserializeTime -
        m.executorRunTime - m.resultSerializationTime - info.gettingResultTime
      op.add("spark.sched_delay_s", math.max(0L, delayMs) / 1e3)
      op.add("spark.task_s", m.executorRunTime / 1e3)
      op.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      op.add("spark.gc_s", m.jvmGCTime / 1e3)
      op.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      op.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      op.add("spark.spill_bytes", m.diskBytesSpilled.toDouble)
      op.add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      op.add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val live = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      current.block(i.blockId.name, live)
    }
  }
}

/** Catalyst-side instrument: the tracker's phase times and the executed
  * plan's node counts for every query execution.
  */
final class PlanTrace(sched: SchedulerTrace) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val op = sched.current
    op.add("catalyst.executions", 1)
    val phases = qe.tracker.phases
    op.add("catalyst.plan_s", Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum / 1e3)
    PlanStats.count(qe.executedPlan).foreach { case (k, v) => op.add(k, v) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

object PlanStats extends AdaptiveSparkPlanHelper {
  def count(plan: SparkPlan): Map[String, Double] = {
    collectWithSubqueries(plan) { case p =>
      p match {
        case _: ReusedExchangeExec => "plan.reused_exchanges"
        case _: ShuffleExchangeLike => "plan.exchanges"
        case _: BroadcastExchangeLike => "plan.broadcasts"
        case _ => p.getClass.getSimpleName match {
          case "FileSourceScanExec" | "BatchScanExec" => "plan.scans"
          case "RDDScanExec" | "InMemoryTableScanExec" => "plan.rdd_scans"
          case _ => ""
        }
      }
    }.filter(_.nonEmpty).groupMapReduce(identity)(_ => 1.0)(_ + _)
  }
}

/** Attaches and detaches the two listeners; the counting file system is
  * put in place by the traced run's classpath, not here.
  */
final class Tracer(spark: SparkSession) {
  val sched = new SchedulerTrace
  private val plans = new PlanTrace(sched)
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(plans)
  }
  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sched)
    spark.listenerManager.unregister(plans)
  }
}
