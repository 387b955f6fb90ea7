package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftListenerBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans plus the Spark counters recorded at the same boundaries.
  *
  * A span is opened around each of the benchmark's own calls into the
  * program. Spark jobs are tied to the open span through the job group
  * (`span-<id>`); stream queries set their own job group (the run id), so a
  * query's run id is tied to the span that started it, and its jobs and
  * triggers land there too. Query-execution events carry no group: they are
  * credited to the innermost span open when they are delivered, which is the
  * call that ran them because the listener bus is drained before every span
  * closes. Everything is written once, by [[report]], at the end of the run.
  */
final class Tracer(spark: SparkSession) {

  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var busyMs, waitMs = 0L
    var shuffleWriteBytes, shuffleReadBytes, shuffleWriteRecords, shuffleReadRecords = 0L
    var spillBytes = 0L
    var skewMax = 0.0
    var planMs = 0L
    var exchanges = 0L
    var streamStages = 0L
    val triggerMs = mutable.ArrayBuffer.empty[Long]
    var addBatchMs, walCommitMs, queryPlanningMs, getBatchMs = 0L
    var stateRows, stateBytes = 0L

    def json: ListMap[String, Any] = ListMap[String, Any](
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
      "task_busy_ms" -> busyMs, "task_wait_ms" -> waitMs,
      "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_records" -> shuffleWriteRecords, "shuffle_read_records" -> shuffleReadRecords,
      "spill_bytes" -> spillBytes, "skew_max" -> skewMax, "plan_ms" -> planMs,
      "exchanges" -> exchanges, "stream_stages" -> streamStages, "trigger_ms" -> triggerMs.toSeq,
      "add_batch_ms" -> addBatchMs, "wal_commit_ms" -> walCommitMs,
      "query_planning_ms" -> queryPlanningMs, "get_batch_ms" -> getBatchMs,
      "state_rows" -> stateRows, "state_bytes" -> stateBytes)
  }

  final class Span(val id: Int, val name: String, val kind: String, val parent: Int, val start: Long) {
    var end: Long = 0L
    val counters = new Counters
  }

  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var stack: List[Span] = Nil
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val streamStage = mutable.Set.empty[Int]
  private val runSpan = mutable.Map.empty[String, Span]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val unattributed = new Span(-1, "unattributed", "none", -1, origin)

  private def current: Span = stack.headOption.getOrElse(unattributed)

  def begin(name: String, kind: String): Unit = synchronized {
    val s = new Span(spans.size, name, kind, current.id, System.nanoTime())
    spans += s
    stack = s :: stack
    spark.sparkContext.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
  }

  def end(): Unit = {
    drain()
    synchronized {
      val s = stack.head
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  private def drain(): Unit =
    try GraftListenerBridge.drainListenerBus(spark.sparkContext, 60000L)
    catch { case _: java.util.concurrent.TimeoutException => () }

  private def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2).toDouble
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val span =
        if (group.startsWith("span-")) spans.lift(group.drop(5).toInt).getOrElse(unattributed)
        else runSpan.getOrElse(group, unattributed)
      span.counters.jobs += 1
      e.stageIds.foreach { id =>
        stageSpan(id) = span
        if (runSpan.contains(group)) streamStage += id
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = stageSpan.getOrElse(e.stageId, unattributed).counters
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.busyMs += m.executorRunTime
        val delay = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime
        c.waitMs += math.max(0L, delay) + m.executorDeserializeTime
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      val c = stageSpan.getOrElse(info.stageId, unattributed).counters
      c.stages += 1
      if (streamStage.remove(info.stageId)) c.streamStages += 1
      val m = info.taskMetrics
      if (m != null) {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        c.spillBytes += m.diskBytesSpilled
      }
      stageTaskMs.remove(info.stageId).filter(_.size > 1).foreach { ts =>
        val med = median(ts.toSeq)
        if (med > 0) c.skewMax = math.max(c.skewMax, ts.max / med)
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    // delivered synchronously from start(), on the thread that owns the span
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { runSpan(e.runId.toString) = current }

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val c = runSpan.getOrElse(p.runId.toString, unattributed).counters
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        c.triggerMs += d.getOrElse("triggerExecution", 0L)
        c.addBatchMs += d.getOrElse("addBatch", 0L)
        c.walCommitMs += d.getOrElse("walCommit", 0L)
        c.queryPlanningMs += d.getOrElse("queryPlanning", 0L)
        c.getBatchMs += d.getOrElse("getBatch", 0L)
        c.stateRows = math.max(c.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
        c.stateBytes = math.max(c.stateBytes, p.stateOperators.map(_.memoryUsedBytes).sum)
      }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  spark.listenerManager.register(new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val c = current.counters
        c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
        c.exchanges += collectWithSubqueries(qe.executedPlan) { case x: Exchange => x }.size
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  /** Start the JVM heap peak over the timed passes. */
  def resetJvmPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def report(): ListMap[String, Any] = {
    drain()
    synchronized {
      def ms(t: Long) = (t - origin) / 1e6
      val children = spans.groupBy(_.parent)
      val rows = spans.toSeq.map { s =>
        val dur = s.end - s.start
        val kids = children.getOrElse(s.id, Nil).map(k => k.end - k.start).sum
        ListMap[String, Any]("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
          "start_ms" -> ms(s.start), "end_ms" -> ms(s.end), "self_ms" -> (dur - kids) / 1e6,
          "counters" -> s.counters.json)
      }
      ListMap[String, Any]("spans" -> rows, "unattributed" -> unattributed.counters.json,
        "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    }
  }
}
