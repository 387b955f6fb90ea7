package graft

import org.apache.spark.sql.catalyst.expressions.NTile
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.PlanNodes

/** The plans the `stream_*` rows actually execute, swept for the same
  * three properties as the batch sweep ([[SparkSpec.postureViolations]]).
  * The batch sweep cannot see them: a stream row's query function RUNS
  * the stream and returns a post-hoc read of its output.
  *
  * Two capture channels, both live for every row:
  *  - a [[QueryExecutionListener]] registered before stream start sees
  *    every Dataset action inside a `foreachBatch` body (the micro-batch
  *    engine clones the session at start, and the clone's listener
  *    manager copies the parent's listeners);
  *  - a poller samples each live query's `lastExecution`, the plan the
  *    trigger actually ran (native memory/file sinks never reach the
  *    listener: they run under a bare `SQLExecution.withNewExecutionId`),
  *    deduped on (runId, batchId).
  *
  * The only unpartitioned window admitted is the staging fixture's
  * `ntile(5) OVER (ORDER BY doc_id)` arrival split, which is arrival-sized
  * by construction (admitted by its window function, not by row name,
  * because it executes inside whichever row stages first).
  *
  * Runs on a PRIVATE `newSession()`: execution-end events are filtered by
  * session UUID, so a shared session would leak other suites' plans into
  * the capture buffer and replay memoized artifacts instead of exercising
  * the builds. */
class StreamPlanAuditSpec extends SparkSpec {

  /** The `foreachBatch` rows, each with the prefix of a temp dir that only
    * its batch body reads or writes: a captured plan that scans or writes
    * under it proves the listener saw INSIDE the body, not just staging
    * and the post-hoc read. The first five are the heaviest rows. */
  private val heavy = Seq(
    "stream_setsim_dedup_eq" -> "graft_stream_setsim_",
    "stream_substring_dedup_eq" -> "graft_stream_substr_state_",
    "stream_hybrid_rrf_eq" -> "graft_stream_hybrid_out_",
    "stream_bm25_refresh_eq" -> "graft_stream_bm25_",
    "stream_chunk_retrieval_eq" -> "graft_stream_chunk_out_")
  private val foreachBatchRows = heavy ++ Seq(
    "stream_cdc_eq" -> "graft_cdc_state_",
    "stream_ivf_ingest_eq" -> "graft_stream_ivf_",
    "stream_quarantine_eq" -> "graft_stream_quar_",
    "stream_foreachbatch_eq" -> "graft_stream_feb_out_",
    "stream_bpe_encode_eq" -> "graft_stream_bpe_out_",
    "stream_quality_gate_eq" -> "graft_stream_qg_out_",
    "stream_dsir_weights_eq" -> "graft_stream_dsir_out_",
    "stream_decontaminate_eq" -> "graft_stream_decon_out_")
  /** The native-sink rows, gated on the micro-batch channel. */
  private val nativeSinkRows = Seq(
    "stream_hourly_eq", "stream_file_sink_eq", "stream_incremental_eq", "stream_latest_eq",
    "stream_latest_tws_eq", "stream_latest_warm_eq", "stream_sessionize_eq",
    "stream_session_window_eq", "stream_sessionize_tws_eq", "stream_sessionize_incr_eq",
    "stream_attribution_eq", "stream_dedup_eq", "stream_enrich_eq", "stream_dedup_incr_eq",
    "stream_dedup_wm_eq", "stream_ewma_eq", "stream_type_hist_eq", "stream_recent3_eq",
    "stream_join_eq", "stream_left_join_eq")

  /** The root paths `w` scans and the output paths it writes. */
  private def paths(w: PlanNodes): Seq[String] = w.collect {
    case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    case d: DataWritingCommandExec => d.cmd match {
      case i: InsertIntoHadoopFsRelationCommand => Seq(i.outputPath.toString)
      case _ => Nil
    }
  }.flatten

  private def arrivalSplit(w: LWindow): Boolean =
    w.windowExpressions.exists(_.exists(_.isInstanceOf[NTile]))

  private def drained[T](q: java.util.concurrent.ConcurrentLinkedQueue[T]): Seq[T] = {
    val b = Seq.newBuilder[T]
    q.forEach(b += _)
    b.result()
  }

  test("streaming inner plans: every executed micro-batch action is Cartesian-free, window-partitioned, driver-relation-free") {
    sweep(heavy.map(_._1))
  }

  test("streaming inner plans, full roster: the remaining 28 stream rows' micro-batch and foreachBatch plans swept") {
    val roster = SparkEntry.queries.keySet.filter(_.startsWith("stream_"))
    val listed = foreachBatchRows.map(_._1).toSet ++ nativeSinkRows
    assert(listed == roster, s"sweep roster drifted: missing ${roster -- listed}, stale ${listed -- roster}")
    sweep(foreachBatchRows.drop(heavy.size).map(_._1) ++ nativeSinkRows)
  }

  /** Runs `rows` on a private session with both capture channels live and
    * sweeps every captured plan. */
  private def sweep(rows: Seq[String]): Unit = {
    val session = spark.newSession()
    val qeCaptured = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qeCaptured.add((funcName, qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        qeCaptured.add((funcName, qe))
    }
    val mbCaptured = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val mbSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Long)]()
    val stopPoll = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() => {
      while (!stopPoll.get()) {
        try session.streams.active.foreach { q =>
          org.apache.spark.sql.GraftStreamingBridge.lastExecution(q).foreach {
            case (rid, bid, qe) => if (mbSeen.add((rid, bid))) mbCaptured.add((s"microbatch-$rid-$bid", qe))
          }
        } catch { case scala.util.control.NonFatal(_) => () }
        Thread.sleep(25)
      }
    }, "graft-stream-plan-poller")
    poller.setDaemon(true)
    val markers = foreachBatchRows.toMap
    session.listenerManager.register(listener)
    poller.start()
    try {
      val failures = Seq.newBuilder[String]
      rows.foreach { name =>
        qeCaptured.clear(); mbCaptured.clear()
        SparkEntry.queries(name)(session, sf).collect()
        // execution-end events ride the shared listener bus
        // asynchronously — drain before snapshotting the capture buffers
        org.apache.spark.GraftListenerBridge.drainListenerBus(session.sparkContext, 60000L)
        val qePlans = drained(qeCaptured)
        val mbPlans = drained(mbCaptured)
        // a thin capture means a channel never saw the row's triggers and
        // the sweep would pass vacuously
        markers.get(name) match {
          case Some(m) =>
            val inner = qePlans.count { case (_, qe) =>
              try paths(PlanNodes(qe.executedPlan)).exists(_.contains(m))
              catch { case scala.util.control.NonFatal(_) => false }
            }
            val (minPlans, minInner) = if (heavy.exists(_._1 == name)) (5, 3) else (0, 1)
            if (qePlans.size < minPlans)
              failures += s"$name: only ${qePlans.size} executed plans captured"
            if (inner < minInner)
              failures += s"$name: only $inner captured plans read or write under $m — inner foreachBatch actions not captured"
          case None =>
            if (mbPlans.isEmpty)
              failures += s"$name: zero micro-batch executions captured — poller channel vacuous"
        }
        (qePlans ++ mbPlans).zipWithIndex.foreach { case ((fn, qe), i) =>
          try postureViolations(qe)(arrivalSplit).foreach(v => failures += s"$name[$i/$fn]: $v")
          catch { case e: Exception =>
            failures += s"$name[$i/$fn]: sweep threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          }
        }
      }
      val bad = failures.result()
      assert(bad.isEmpty, s"stream inner-plan violations:\n${bad.mkString("\n")}")
    } finally {
      stopPoll.set(true)
      session.listenerManager.unregister(listener)
    }
  }
}
