package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch microseconds
  * so the benchmark's own spans and Spark's event timestamps (epoch ms)
  * share one clock. */
final case class Span(id: Long, parent: Long, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store; written out once when the run ends. When
  * disabled it records nothing, so untimed bookkeeping stays out of the
  * end-to-end numbers. */
final class Tracer(@volatile var enabled: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]

  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) synchronized(buf += s)
  def spans: Seq[Span] = synchronized(buf.toList)

  /** Time `f`, record it as a child of `parent`, return its result and
    * its duration in milliseconds. */
  def timed[T](name: String, parent: Long, attrs: Map[String, Any] = Map.empty)
      (f: Long => T): (T, Double) = {
    val id = newId()
    val s = nowUs
    val t0 = System.nanoTime()
    val r = f(id)
    val ms = (System.nanoTime() - t0) / 1e6
    add(Span(id, parent, name, s, nowUs, attrs))
    (r, ms)
  }
}

/** Per-op scheduler figures from Spark's public listener surface, keyed
  * by the job group the benchmark sets to the op's span id. */
final case class SchedStats(jobs: Int, stages: Int, tasks: Long,
    taskMs: Double, criticalMs: Double, delayMs: Double,
    shuffleWriteBytes: Long, shuffleRecords: Long, fetchWaitMs: Double,
    spillBytes: Long, aqeReplans: Int,
    jobSpans: Seq[(Int, Long, Long)], stageSpans: Seq[(Int, Int, Long, Long)])

final class SchedProbe extends SparkListener {
  private final class StageAcc(val jobId: Int) {
    var tasks = 0L; var runMs = 0.0; var maxTaskMs = 0.0; var delayMs = 0.0
    var shufBytes = 0L; var shufRecs = 0L; var fetchWaitMs = 0.0
    var spill = 0L; var submitMs = 0L; var doneMs = 0L
  }
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobEnd = mutable.HashMap.empty[Int, Long]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private val execEnded = mutable.HashSet.empty[Long]
  private val aqe = mutable.HashMap.empty[String, Int]
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageAcc(e.jobId)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch(); jobEnd(e.jobId) = e.time
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    stages.get(e.stageInfo.stageId).foreach { a =>
      a.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
      a.doneMs = e.stageInfo.completionTime.getOrElse(0L)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val m = e.taskMetrics
    stages.get(e.stageId).foreach { a =>
      val info = e.taskInfo
      val durMs = (info.finishTime - info.launchTime).toDouble
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.delayMs += math.max(0.0, durMs - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        a.shufBytes += m.shuffleWriteMetrics.bytesWritten
        a.shufRecs += m.shuffleWriteMetrics.recordsWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      a.maxTaskMs = math.max(a.maxTaskMs, durMs)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    touch()
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup(s.executionId) = s.jobGroupId.getOrElse("")
      case s: SparkListenerSQLExecutionEnd => execEnded += s.executionId
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execGroup.get(u.executionId).foreach(g => aqe(g) = aqe.getOrElse(g, 0) + 1)
      case _ =>
    }
  }

  /** Listener delivery is asynchronous: wait until every job and SQL
    * execution of `group` has ended and the bus has been quiet briefly. */
  def awaitSettled(group: String, timeoutMs: Long = 3000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled: Boolean = synchronized {
      val jobsDone = jobGroup.forall { case (j, g) => g != group || jobEnd.contains(j) }
      val execsDone = execGroup.forall { case (x, g) => g != group || execEnded.contains(x) }
      jobsDone && execsDone && System.nanoTime() - lastEventNs > 20000000L
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def stats(group: String): SchedStats = synchronized {
    val js = jobGroup.collect { case (j, g) if g == group => j }.toSeq.sorted
    val st = stages.filter { case (_, a) => js.contains(a.jobId) && a.tasks > 0 }
    SchedStats(
      jobs = js.size, stages = st.size, tasks = st.values.map(_.tasks).sum,
      taskMs = st.values.map(_.runMs).sum,
      criticalMs = st.values.map(_.maxTaskMs).sum,
      delayMs = st.values.map(_.delayMs).sum,
      shuffleWriteBytes = st.values.map(_.shufBytes).sum,
      shuffleRecords = st.values.map(_.shufRecs).sum,
      fetchWaitMs = st.values.map(_.fetchWaitMs).sum,
      spillBytes = st.values.map(_.spill).sum,
      aqeReplans = aqe.getOrElse(group, 0),
      jobSpans = js.flatMap(j => for (s <- jobStart.get(j); e <- jobEnd.get(j)) yield (j, s, e)),
      stageSpans = st.toSeq.sortBy(_._1).map { case (id, a) => (id, a.jobId, a.submitMs, a.doneMs) })
  }
}

/** Captures every QueryExecution the session runs (collects, eager
  * iteration rounds, writes) through the public listener manager. */
final class QeCapture extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(buf += qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized(buf += qe)
  def drain(): Seq[QueryExecution] = synchronized { val r = buf.toList; buf.clear(); r }
}

/** What the executed plans of one op show. */
final case class PlanStats(analysisMs: Double, optimizationMs: Double,
    planningMs: Double, phaseSpans: Seq[(String, Long, Long)],
    graftScanRows: Long, rewrites: Set[String], nativeExprs: Int)

object PlanStats {
  private val helper = new AdaptiveSparkPlanHelper {}

  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    helper.collectWithSubqueries(p) { case n => n }

  def of(qes: Seq[QueryExecution]): PlanStats = {
    var an, opt, pl = 0.0
    val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var rows = 0L
    val rewrites = mutable.Set.empty[String]
    var native = 0
    qes.foreach { qe =>
      qe.tracker.phases.foreach { case (name, ps) =>
        val ms = (ps.endTimeMs - ps.startTimeMs).toDouble
        name match {
          case "analysis" => an += ms
          case "optimization" => opt += ms
          case "planning" => pl += ms
          case _ =>
        }
        phases += ((name, ps.startTimeMs, ps.endTimeMs))
      }
      val plan = try nodes(qe.executedPlan) catch { case _: Throwable => Nil }
      plan.foreach {
        case b: BatchScanExec if b.scan.getClass.getName.startsWith("graft.") =>
          rows += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case n =>
          val cls = n.getClass.getName
          if (cls.startsWith("graft.plans.")) rewrites += n.getClass.getSimpleName
      }
      plan.foreach { n =>
        if (n.output.exists(_.name.startsWith("__graft_bucket"))) rewrites += "RangeJoinRewrite"
        n.expressions.foreach(_.foreach { e =>
          if (e.getClass.getName.startsWith("graft.functions.")) native += 1
        })
      }
    }
    PlanStats(an, opt, pl, phases.toList, rows, rewrites.toSet, native)
  }
}
