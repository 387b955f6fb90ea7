package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Fixed-cost profile of the streaming oracle twins: where do the ~3.6
  * s/row go? Attaches a listener and drives representative bridges
  * through their REAL registered entries, splitting each row's wall into
  * the engine's own phase durations (query start/planning, per-trigger
  * addBatch vs offset/commit WAL, state-store commit) plus the residue
  * (staging, the batch read-back of the sink, session overhead).
  * Output: one JSON line per row — committed as a BENCH_r{N} probe with
  * the PLANS note that interprets it. */
object ProbeStreamCost {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.sources.SpillSafety.tune(SparkSession.builder(),
        cpus.toInt, 0.6)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    // listener: phase durations summed over every trigger of every query
    // started while a row runs
    // ONE monitor (`agg`) guards every reset/accumulate/read — the
    // listener bus delivers events asynchronously, so the per-row reset
    // and the post-drain read must share the writers' lock
    val agg = new Object
    val phase = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var triggers = 0
    var queries = 0
    var stateCommitMs = 0L
    var stateStores = 0L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        agg.synchronized { queries += 1 }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        agg.synchronized {
          triggers += 1
          e.progress.durationMs.forEach((k, v) => phase(k) += v)
          e.progress.stateOperators.foreach { so =>
            stateCommitMs += so.commitTimeMs
            stateStores += so.numShufflePartitions
          }
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    val rows = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq).getOrElse(Seq(
      "stream_latest_eq", "stream_hourly_eq", "stream_dedup_eq",
      "stream_sessionize_tws_eq", "stream_substring_dedup_eq", "stream_enrich_eq"))
    val out = rows.map { name =>
      agg.synchronized {
        phase.clear(); triggers = 0; queries = 0; stateCommitMs = 0; stateStores = 0
      }
      val fn = streaming.StreamingBridge.queries(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wallMs = (System.nanoTime() - t0) / 1000000
      // listener events are async — drain before reading
      Thread.sleep(300)
      val (ph, tr, qn, sc, ss) = agg.synchronized {
        (phase.toMap, triggers, queries, stateCommitMs, stateStores)
      }
      val phJson = ph.toSeq.sortBy(-_._2).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"row":"$name","wall_ms":$wallMs,"queries":$qn,"triggers":$tr,"state_commit_ms":$sc,"state_instances":$ss,"phases_ms":{$phJson}}"""
    }
    println("[" + out.mkString(",\n") + "]")
    spark.stop()
  }
}
