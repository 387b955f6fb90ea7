package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Executor-loss recovery probe (r19 verdict order #6, stretch): the
  * multi-JVM probe proved the partitioning contracts carry across real
  * executor boundaries; the remaining untested runtime claim is Spark's
  * task-retry on EXECUTOR DEATH — the engine-side analogue of the
  * reference's worker-lease reassignment (`coordinator.rs:72-131`
  * re-queues a dead worker's tasks; Spark's TaskSchedulerImpl +
  * DAGScheduler resubmit lost tasks and re-run map stages whose shuffle
  * output died with the executor).
  *
  * Protocol: run the 100× chunk-index build (`chunk_postings`, a real
  * ceiling kernel: tokenize → shuffle → partitioned artifact build under
  * the atomic-claim protocol) twice under `local-cluster[2,16,…]` — two
  * separate executor JVMs, real Netty shuffle:
  *
  *   1. baseline: undisturbed; order-independent content hash recorded;
  *   2. kill run: once the build is demonstrably mid-stage (≥ 24 task
  *      starts past warmup, +2 s), SIGKILL one executor JVM
  *      (`ProcessHandle.destroyForcibly`, matched by app-id in the
  *      command line) and let the job run to completion.
  *
  * PASS iff the kill run (a) completes, (b) produces the IDENTICAL
  * content hash and row count, and (c) shows the recovery actually
  * exercised: ≥ 1 executor removed, ≥ 1 failed/killed task or
  * resubmitted stage attempt, and a replacement executor registered
  * (standalone worker relaunch). Kill timestamp + pid and the listener's
  * retry evidence are emitted in the JSON artifact
  * (→ BENCH_r20_probe_execloss.json); exits 1 on any broken contract. */
object ProbeExecutorLoss {

  final class Stats {
    val taskStarts = new java.util.concurrent.atomic.AtomicLong
    val failedTasks = new java.util.concurrent.atomic.AtomicLong
    val resubmittedStages = new java.util.concurrent.atomic.AtomicLong
    val executorsRemoved = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val executorsAdded = new java.util.concurrent.ConcurrentLinkedQueue[String]
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/probedata/sf10h")
    val jar = sys.env.getOrElse("SPARK_GRAFT_JAR",
      sys.error("SPARK_GRAFT_JAR must point at the packaged graft jar " +
        "(sbt package) so local-cluster executors can load the operators"))

    def runOnce(tag: String, kill: Boolean)
        : (String, Long, Double, Stats, String) = {
      val stats = new Stats
      val spark = (graft.sources.Session.conf(32) ++
          graft.sources.SpillSafety.sessionConf(16L << 30, 16, 0.6))
        .foldLeft(SparkSession.builder()
          .master("local-cluster[2,16,18432]")
          .appName(s"graft-execloss-$tag")
          .config("spark.jars", jar)
          .config("spark.executor.memory", "16g")) { case (b, (k, v)) => b.config(k, v) }
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val appId = spark.sparkContext.applicationId
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskStart(e: SparkListenerTaskStart): Unit =
          stats.taskStarts.incrementAndGet()
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.reason != org.apache.spark.Success)
            stats.failedTasks.incrementAndGet()
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          if (e.stageInfo.attemptNumber() > 0)
            stats.resubmittedStages.incrementAndGet()
        override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
          stats.executorsRemoved.add(e.executorId)
        override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit =
          stats.executorsAdded.add(e.executorId)
      })
      // warmup: both executors registered and class-loaded before the
      // timed kernel (and before the kill trigger starts counting)
      spark.range(1000).selectExpr("sum(id)")
        .write.format("noop").mode("overwrite").save()
      val killInfo = new java.util.concurrent.atomic.AtomicReference[String]("null")
      val warmStarts = stats.taskStarts.get()
      val killer =
        if (!kill) None
        else Some(new Thread(() => {
          // fire only once the kernel is demonstrably mid-stage: ≥ 24
          // fresh task starts (32-partition stages across 2×16 slots),
          // then 2 s into their execution
          while (stats.taskStarts.get() < warmStarts + 24) Thread.sleep(50)
          Thread.sleep(2000)
          import scala.jdk.CollectionConverters._
          val victims = ProcessHandle.allProcesses().iterator().asScala
            .filter { p =>
              val c = p.info().commandLine().orElse("")
              c.contains("CoarseGrainedExecutorBackend") && c.contains(appId)
            }.toSeq.sortBy(_.pid())
          victims.headOption match {
            case Some(v) =>
              val ts = java.time.Instant.now().toString
              val pid = v.pid()
              v.destroyForcibly() // SIGKILL on Linux
              killInfo.set(s"""{"pid": $pid, "ts": "$ts", "executor_jvms_seen": ${victims.size}}""")
            case None =>
              killInfo.set(""""no-executor-process-found"""")
          }
        }, "graft-execloss-killer"))
      killer.foreach { t => t.setDaemon(true); t.start() }
      val t0 = System.nanoTime()
      val root = operators.TextAnalysis.chunkIndexWarm(spark, sfDir)
      val (h, n) = ProbeSpill.contentHash(spark.read.parquet(s"$root/postings"))
      val wall = (System.nanoTime() - t0) / 1e9
      killer.foreach(_.join(10000))
      try org.apache.spark.GraftListenerBridge
        .drainListenerBus(spark.sparkContext, 30000L)
      catch { case _: java.util.concurrent.TimeoutException => () }
      spark.stop()
      (h, n, wall, stats, killInfo.get())
    }

    val (hBase, nBase, wBase, sBase, _) = runOnce("baseline", kill = false)
    val (hKill, nKill, wKill, sKill, killJson) = runOnce("kill", kill = true)

    val failures = Seq.newBuilder[String]
    if (hKill != hBase || nKill != nBase)
      failures += s"content diverged after executor loss: baseline ($nBase rows, hash $hBase) != kill run ($nKill rows, hash $hKill)"
    if (killJson == "null" || killJson.contains("no-executor"))
      failures += s"kill never fired: $killJson"
    if (sKill.executorsRemoved.isEmpty)
      failures += "no executor-removed event: the SIGKILL did not register as an executor loss"
    if (sKill.failedTasks.get() == 0 && sKill.resubmittedStages.get() == 0)
      failures += "no failed task and no resubmitted stage: the kill exercised no retry path"
    if (sKill.executorsAdded.size <= sBase.executorsAdded.size)
      failures += s"no replacement executor registered (${sKill.executorsAdded.size} adds vs baseline ${sBase.executorsAdded.size})"

    import scala.jdk.CollectionConverters._
    def statsJson(s: Stats): String =
      s"""{"task_starts": ${s.taskStarts.get()}, "failed_tasks": ${s.failedTasks.get()}, """ +
        s""""resubmitted_stages": ${s.resubmittedStages.get()}, """ +
        s""""executors_removed": [${s.executorsRemoved.asScala.map("\"" + _ + "\"").mkString(",")}], """ +
        s""""executors_added": [${s.executorsAdded.asScala.map("\"" + _ + "\"").mkString(",")}]}"""

    val bad = failures.result()
    val verdict = if (bad.isEmpty) "PASS" else "FAIL"
    println(
      s"""{"probe": "execloss", "sf": "$sfDir", "verdict": "$verdict", """ +
        s""""kernel": "chunk_postings", "master": "local-cluster[2,16,18432]", """ +
        s""""baseline": {"rows": $nBase, "hash": "$hBase", "wall_s": ${f"$wBase%.1f"}, "stats": ${statsJson(sBase)}}, """ +
        s""""kill_run": {"rows": $nKill, "hash": "$hKill", "hash_match": ${hKill == hBase}, "wall_s": ${f"$wKill%.1f"}, "kill": $killJson, "stats": ${statsJson(sKill)}}, """ +
        s""""missed": [${bad.map("\"" + _ + "\"").mkString(",")}]}""")
    if (bad.nonEmpty) sys.exit(1)
  }
}
