package graftbench

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work of one group of jobs: one snap commit, one micro-batch of
  * one streaming query, or one face execution. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var inputBytes = 0L; var outputBytes = 0L
  val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** Spark's job, stage and task telemetry, grouped by the operation that
  * caused it. A streaming micro-batch is named by its query id and
  * batch id (properties Spark sets on every job it runs for a batch);
  * anything else by the `graftbench.op` local property the benchmark
  * sets around each operation. */
final class SparkWork extends SparkListener {
  private val groups = mutable.HashMap.empty[String, Work]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  private def groupOf(p: java.util.Properties): String =
    if (p == null) "other"
    else Option(p.getProperty("sql.streaming.queryId"))
      .map(q => s"stream:$q:${p.getProperty("streaming.sql.batchId")}")
      .orElse(Option(p.getProperty(SparkWork.OpKey)))
      .getOrElse("other")

  private def work(g: String): Work = groups.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
    work(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => work(g).jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    work(stageGroup.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageGroup.getOrElse(e.stageId, "other"))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def get(g: String): Work = synchronized(groups.getOrElse(g, new Work))
}

object SparkWork {
  val OpKey = "graftbench.op"
}

/** Driver phases and file counts of one executed query. */
final case class Planned(endMs: Long, analysisMs: Long, optimizationMs: Long,
                         planningMs: Long, filesRead: Long, filesWritten: Long)

/** Reads each executed query's `QueryPlanningTracker` phases and the file
  * counts of its scan and write nodes. Registered on one session, so a
  * session per client keeps clients apart. */
final class PlanPhases extends QueryExecutionListener {
  private val done = mutable.ArrayBuffer.empty[Planned]

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
    var read = 0L; var written = 0L
    try nodes(qe.executedPlan).foreach { n =>
      n.metrics.get("numFiles").foreach { m =>
        if (n.isInstanceOf[FileSourceScanExec]) read += m.value else written += m.value
      }
    } catch { case _: Throwable => () }
    synchronized { done += Planned(end, ms("analysis"), ms("optimization"), ms("planning"), read, written) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Queries whose planning ended inside [t0, t1]. */
  def within(t0: Long, t1: Long): Seq[Planned] =
    synchronized(done.filter(p => p.endMs >= t0 && p.endMs <= t1).toSeq)
}

/** Streaming progress records, by query. Always on: the lag and
  * catch-up metrics are read from them. */
final class Progress extends StreamingQueryListener {
  private val byQuery = mutable.HashMap.empty[UUID, mutable.ArrayBuffer[StreamingQueryProgress]]
  private val rows = mutable.HashMap.empty[UUID, Long]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    byQuery.getOrElseUpdate(e.progress.id, mutable.ArrayBuffer.empty) += e.progress
    rows(e.progress.id) = rows.getOrElse(e.progress.id, 0L) + e.progress.numInputRows
  }

  def of(id: UUID): Seq[StreamingQueryProgress] =
    synchronized(byQuery.get(id).map(_.toSeq).getOrElse(Seq.empty))
  def rowsSeen(id: UUID): Long = synchronized(rows.getOrElse(id, 0L))
}

object Progress {
  def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution")
  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
}

/** The traced-mode listeners, attached for a traced round and detached
  * after it, so an untraced round pays for none of them. */
final class Tracer(spark: SparkSession, extraSessions: Seq[SparkSession] = Seq.empty) {
  val work = new SparkWork
  val phases: Map[SparkSession, PlanPhases] =
    (spark +: extraSessions).map(s => s -> new PlanPhases).toMap

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(work)
    phases.foreach { case (s, l) => s.listenerManager.register(l) }
  }

  def detach(): Unit = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(work)
    phases.foreach { case (s, l) => s.listenerManager.unregister(l) }
  }
}

/** Wall time covered by a set of [start, end] spans (overlaps counted once). */
object Spans {
  def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
