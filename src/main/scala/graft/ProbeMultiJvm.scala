package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-JVM evidence point (r18 verdict order #8, stretch): the ceiling
  * probe's claim is "past the 1-JVM limit the same partitioning needs
  * more executors" — an extrapolation until the partitioning is shown to
  * carry across REAL JVM boundaries at least once. This probe runs the
  * two ceiling kernels (`dedup_substring`, `chunk_postings`) over the
  * 100× Heaps corpus twice in one process:
  *
  *   1. `local[32]` — the single-JVM shape every bench uses;
  *   2. `local-cluster[2,16,<mem>]` — two SEPARATE executor JVMs, real
  *      Netty shuffle between them, user classes shipped via
  *      `spark.jars` (sbt package), exactly the multi-executor layout a
  *      production cluster runs;
  *
  * and asserts the order-independent content hashes (ProbeSpill's
  * md5-prefix-sum) are IDENTICAL — the operators' repartition/shuffle
  * contracts produce the same row multisets whether partitions live in
  * one heap or cross process boundaries. Per-executor shuffle/spill
  * accounting (from task-end metrics, keyed by executorId) is reported
  * so the cross-JVM run demonstrably exercised remote shuffle on BOTH
  * executors rather than collapsing onto one.
  *
  * Emits one JSON line (→ BENCH_r19_probe_multijvm.json); exits 1 on
  * any hash mismatch. */
object ProbeMultiJvm {

  final case class ExecStats(var tasks: Long = 0, var shufWrite: Long = 0,
      var shufRead: Long = 0, var memSpill: Long = 0, var diskSpill: Long = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/probedata/sf10h")
    val jar = sys.env.getOrElse("SPARK_GRAFT_JAR",
      sys.error("SPARK_GRAFT_JAR must point at the packaged graft jar " +
        "(sbt package) so local-cluster executors can load the operators"))

    def runUnder(master: String, tag: String,
        extra: Seq[(String, String)]): (Seq[(String, String, Long, Double)], String) = {
      val execs = new java.util.concurrent.ConcurrentHashMap[String, ExecStats]()
      val spark = (graft.sources.Session.conf(32) ++ extra).foldLeft(SparkSession.builder()
          .master(master)
          .appName(s"graft-multijvm-$tag")
          .config("spark.jars", jar)) { case (b, (k, v)) => b.config(k, v) }
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
          val s = execs.computeIfAbsent(e.taskInfo.executorId, _ => ExecStats())
          s.synchronized {
            s.tasks += 1
            val m = e.taskMetrics
            if (m != null) {
              s.shufWrite += m.shuffleWriteMetrics.bytesWritten
              s.shufRead += m.shuffleReadMetrics.totalBytesRead
              s.memSpill += m.memoryBytesSpilled
              s.diskSpill += m.diskBytesSpilled
            }
          }
        }
      })
      // warmup: absorb session init so the first row's wall is the kernel
      spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
      val rows: Seq[(String, () => DataFrame)] = Seq(
        ("dedup_substring", () => SparkEntry.queries("dedup_substring")(spark, sfDir)),
        ("chunk_postings", () => {
          val root = operators.TextAnalysis.chunkIndexWarm(spark, sfDir)
          spark.read.parquet(s"$root/postings")
        }))
      val out = rows.map { case (name, mk) =>
        val t0 = System.nanoTime()
        val (h, n) = ProbeSpill.contentHash(mk())
        (name, h, n, (System.nanoTime() - t0) / 1e9)
      }
      try org.apache.spark.GraftListenerBridge
        .drainListenerBus(spark.sparkContext, 30000L)
      catch { case _: java.util.concurrent.TimeoutException => () }
      import scala.jdk.CollectionConverters._
      val execJson = execs.asScala.toSeq.sortBy(_._1).map { case (id, s) =>
        f""""$id": {"tasks": ${s.tasks}, "shuffle_write_mb": ${s.shufWrite / 1e6}%.1f, "shuffle_read_mb": ${s.shufRead / 1e6}%.1f, "spill_mem_mb": ${s.memSpill / 1e6}%.1f, "spill_disk_mb": ${s.diskSpill / 1e6}%.1f}"""
      }.mkString("{", ", ", "}")
      spark.stop()
      // memoized artifact roots are per (session, …) — a stopped session's
      // entries are dropped on next access, so the cluster run rebuilds
      // its own chunk index instead of replaying the local one
      (out, execJson)
    }

    val (localRows, localExec) = runUnder("local[32]", "local",
      graft.sources.SpillSafety.sessionConf(Runtime.getRuntime.maxMemory(), 32, 0.6))
    // local-cluster's worker-memory figure is the WORKER's resource pool,
    // NOT the executor heap — without spark.executor.memory the executors
    // launch at the 1g default and OOM at 100× (observed: exit 52, Java
    // heap space, 16 slots against 1g). 16g executors ÷ 16 slots is the
    // same 1 GiB/slot ratio the r17 spill grid proved survivable, plus
    // the starved-sorter guard at that ratio.
    val (clusterRows, clusterExec) =
      runUnder("local-cluster[2,16,18432]", "cluster",
        Seq("spark.executor.memory" -> "16g") ++
          graft.sources.SpillSafety.sessionConf(16L << 30, 16, 0.6))

    val failures = Seq.newBuilder[String]
    val rowsJson = localRows.zip(clusterRows).map {
      case ((n1, h1, c1, w1), (n2, h2, c2, w2)) =>
        require(n1 == n2)
        if (h1 != h2 || c1 != c2)
          failures += s"$n1: local[32] ($c1 rows, hash $h1) != local-cluster ($c2 rows, hash $h2)"
        f""""$n1": {"rows": $c1, "hash_match": ${h1 == h2}, "local_wall_s": $w1%.1f, "cluster_wall_s": $w2%.1f}"""
    }.mkString("{", ", ", "}")

    val bad = failures.result()
    val verdict = if (bad.isEmpty) "PASS" else "FAIL"
    println(
      s"""{"probe": "multijvm", "sf": "$sfDir", "verdict": "$verdict", """ +
        s""""rows": $rowsJson, """ +
        s""""local_executors": $localExec, "cluster_executors": $clusterExec, """ +
        s""""missed": [${bad.map("\"" + _ + "\"").mkString(",")}]}""")
    if (bad.nonEmpty) sys.exit(1)
  }
}
