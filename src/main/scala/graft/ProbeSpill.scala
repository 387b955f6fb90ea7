package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame

/** r17 spill probe (verdict order #1): drive the heaviest shuffle/sort
  * rows at 10× data in a heap-constrained JVM so Spark's external
  * sort/aggregation actually spills, and prove GRACEFUL degradation:
  * zero OOM, result hashes identical to the roomy-heap run, bounded
  * slowdown, real spill bytes in the task metrics. The reference engine
  * materializes its whole input file and reduce partition in memory
  * with no spill path (reference `src/mr/worker.rs:96-130`) — surviving
  * memory pressure by spilling is the capability that separates the
  * engines at 100 TB, and until this probe nothing had forced it.
  *
  * Run twice and diff the JSON (`javaOptions` puts `SPARK_DRIVER_MEM`
  * on the forked JVM's -Xmx):
  * {{{
  *   SPARK_DRIVER_MEM=4g  sbt "runMain graft.ProbeSpill"  # pressure
  *   SPARK_DRIVER_MEM=16g sbt "runMain graft.ProbeSpill"  # reference
  * }}}
  * Per row: wall seconds, an order-independent content hash of every
  * output row (sum over per-row md5 prefixes of the canonical JSON —
  * must be IDENTICAL across heap sizes), and the memory/disk bytes the
  * row's stages spilled (must be >0 under pressure on the heavy rows,
  * proving the pressure was real, and 0s are honest "never spilled"
  * signals). `chunk_postings` hashes the chunk-index artifact's
  * postings, so the index BUILD runs under pressure too (process-
  * private artifact root — each JVM rebuilds its own).
  */
object ProbeSpill {

  /** Order-independent content hash + row count of a frame: SUM of a
    * 56-bit prefix of each row's md5 over its canonical JSON. Column
    * formatting is engine-deterministic, so two runs of the same Spark
    * version agree iff the row multisets agree. Shared by the
    * hash-comparing probes (this one, ProbeMultiJvm, ProbeExecutorLoss). */
  def contentHash(df: DataFrame): (String, Long) = {
    val r = df.selectExpr(
      "sum(cast(conv(substring(md5(to_json(struct(*))), 1, 14), 16, 10) as decimal(38,0))) as h",
      "count(1) as n").head()
    (Option(r.get(0)).map(_.toString).getOrElse("0"), r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/probedata/sf1.0h")
    // second pressure axis: floor the unified-memory fraction so the
    // execution pool is tiny even when the heap fits the data — forces
    // UnsafeExternalSorter/aggregation onto their spill paths on rows
    // whose working set fits 4g comfortably (the 2020s-hardware analogue
    // of a busy multi-tenant executor)
    val memFraction = sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.6")
    val spark = graft.sources.Session.local(
      extra = Seq("spark.memory.fraction" -> memFraction))
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    val memSpill = new java.util.concurrent.atomic.AtomicLong(0)
    val diskSpill = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    // optional row filter (comma-separated names) — the 30× scaling run
    // drops dedup_setsim_join because that corpus shape trips its pair
    // budget BY DESIGN (462M prefix candidates at 30×: the guard's loud
    // refusal is the correct behavior, recorded in the probe notes)
    val only = sys.env.get("SPARK_GRAFT_SPILL_ROWS").map(_.split(",").toSet)
    val rows: Seq[(String, () => DataFrame)] = Seq(
      ("dedup_substring", () => SparkEntry.queries("dedup_substring")(spark, sfDir)),
      ("dedup_setsim_join", () => SparkEntry.queries("dedup_setsim_join")(spark, sfDir)),
      ("chunk_postings", () => {
        val root = operators.TextAnalysis.chunkIndexWarm(spark, sfDir)
        spark.read.parquet(s"$root/postings")
      }),
      ("scd2_pit_enrich", () => SparkEntry.queries("scd2_pit_enrich")(spark, sfDir)),
      ("cdc_apply", () => SparkEntry.queries("cdc_apply")(spark, sfDir)))

    val out = rows.filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, mk) =>
      // Stage-completion events arrive asynchronously on the listener
      // bus; drain it before sampling either side of the delta so a late
      // stage isn't attributed to the next row.
      def drained[A](f: => A): A = {
        try org.apache.spark.GraftListenerBridge
          .drainListenerBus(spark.sparkContext, 30000L)
        catch { case _: java.util.concurrent.TimeoutException => () }
        f
      }
      val (m0, d0) = drained((memSpill.get(), diskSpill.get()))
      val t0 = System.nanoTime()
      val (h, n) = contentHash(mk())
      val wall = (System.nanoTime() - t0) / 1e9
      val (m1, d1) = drained((memSpill.get(), diskSpill.get()))
      val spillMem = m1 - m0
      val spillDisk = d1 - d0
      f"""  "$name": {"wall_s": $wall%.3f, "rows": $n, "hash": "$h", "spill_mem_mb": ${spillMem / 1e6}%.1f, "spill_disk_mb": ${spillDisk / 1e6}%.1f}"""
    }

    val heap = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    println(
      s"""{"probe": "spill", "sf": "$sfDir", "heap_mb": $heap, "cpus": ${graft.sources.Session.defaultCores}, "rows": {
         |${out.mkString(",\n")}
         |}}""".stripMargin)
    spark.stop()
  }
}
