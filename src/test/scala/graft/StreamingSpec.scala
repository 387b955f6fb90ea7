package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Analytics, Multimodal}
import graft.sources.Tables
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def loadEvents(): Seq[Event] =
    Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq

  test("streaming hourly counts == batch event_hourly") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.hourlyCounts(mem.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    try {
      mem.addData(loadEvents(): _*)
      q.processAllAvailable()
      val got = spark.table("hourly_out")
        .orderBy("hour")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      val want = Analytics.eventHourly(spark, sf)
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      assert(got.sameElements(want))
    } finally q.stop()
  }

  test("file-sink hourly roundtrip == batch event_hourly (exactly-once read-back)") {
    val got = graft.streaming.StreamingBridge.streamFileSinkEq(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    val want = Analytics.eventHourly(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("streaming sessionize totals == batch sessionize (closed sessions)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.sessionize(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      val evs = loadEvents().sortBy(e => (e.ts.getTime, e.event_id))
      mem.addData(evs: _*)
      q.processAllAvailable()
      // push watermark far past the last event so every session closes
      val last = evs.last
      mem.addData(Event(9999999L,
        new java.sql.Timestamp(last.ts.getTime + 24L * 3600 * 1000),
        -1L, "flush", 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .filter($"user_id" >= 0)
        .groupBy("user_id").agg(sum("n_events").as("total"))
        .as[(Long, Long)].collect().toMap
      val want = Analytics.sessionize(spark, sf)
        .groupBy("user_id").agg(sum("n_events").as("total"))
        .as[(Long, Long)].collect().toMap
      assert(got == want)
    } finally q.stop()
  }

  test("stream-stream join == batch interval self-join (views x purchases)") {
    val got = graft.streaming.StreamingBridge.streamJoinEq(spark, sf)
      .select($"user_id", $"view_id", $"purchase_id", $"gap_s")
      .as[(Long, Long, Long, Long)].collect().toSet
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("us"))
    val v = ev.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"us".as("vus"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"event_id".as("purchase_id"), $"us".as("pus"))
    val want = v.join(p, $"user_id" === $"pu" &&
        $"pus" >= $"vus" && $"pus" <= $"vus" + 3600000000L)
      .select($"user_id", $"view_id", $"purchase_id",
        floor(($"pus" - $"vus") / 1000000L).as("gap_s"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("stream-stream LEFT join flushes unmatched views after typed sentinels") {
    val got = graft.streaming.StreamingBridge.streamLeftJoinEq(spark, sf)
      .select($"user_id", $"view_id", $"purchase_id", $"gap_s")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("us"))
    val v = ev.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"us".as("vus"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"event_id".as("purchase_id"), $"us".as("pus"))
    val want = v.join(p, $"user_id" === $"pu" &&
        $"pus" >= $"vus" && $"pus" <= $"vus" + 3600000000L, "left_outer")
      .select($"user_id", $"view_id", $"purchase_id",
        floor(($"pus" - $"vus") / 1000000L).as("gap_s"))
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
    // the null rows are the point: unmatched views must be flushed
    assert(want.exists(_._3.isEmpty))
    assert(got == want)
  }

  test("file sink crash-recovery: restart from same checkpoint is exactly-once") {
    // The fault-tolerance claim the reference's WAL gestures at
    // (/root/reference/src/mr/coordinator.rs:134-199) demonstrated end to
    // end: a checkpointed file-sink query is stopped after two committed
    // micro-batches and RESTARTED from the same checkpoint with the rest
    // of the input. Exactly-once requires three recoveries to compose:
    // source offsets (phase-1 files must not be re-read), aggregation
    // state (windows open across the stop must resume their counts, not
    // restart them), and the sink commit log (uncommitted junk in the
    // output directory must be invisible to the read-back).
    import org.apache.spark.sql.streaming.StreamingQuery
    val allStaged = graft.streaming.StreamingBridge.stageTimeOrdered(spark, sf, 4)
    val parts = new java.io.File(allStaged).listFiles().sortBy(_.getName).toSeq
    val streamDir = graft.sources.TempDirs.create("graft_restart_src_")
    val outDir = graft.sources.TempDirs.create("graft_restart_out_")
    val ckDir = graft.sources.TempDirs.create("graft_restart_ck_")
    // COPY_ATTRIBUTES keeps stageTimeOrdered's ascending mtimes, so the
    // file source replays chronologically across both phases
    def expose(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(streamDir, f.getName),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val schema = spark.read.parquet(allStaged).schema
    def start(): StreamingQuery = StreamingOps.hourlyCounts(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(streamDir))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckDir)
      .format("parquet").option("path", outDir)
      .start()

    expose(parts.take(2))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val phase1Hours = spark.read.parquet(outDir)
      .collect().map(_.getTimestamp(0)).toSet

    // simulate a crashed task's leftover: a parquet file in the output
    // directory that no committed batch wrote — a raw listing sees it,
    // the _spark_metadata read-back must not
    val junkTmp = graft.sources.TempDirs.create("graft_restart_junk_")
    Seq((new java.sql.Timestamp(0L), 999L, 9.9)).toDF("hour", "n", "total_value")
      .coalesce(1).write.mode("overwrite").parquet(junkTmp)
    val junkPart = new java.io.File(junkTmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(junkPart.toPath,
      java.nio.file.Paths.get(outDir, "part-junk-uncommitted.parquet"))

    expose(parts.drop(2))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val maxMs = Tables.events(spark, sf)
        .agg(max($"ts")).head().getTimestamp(0).getTime
      graft.streaming.StreamingBridge.writeSentinelNamed(spark, streamDir,
        schema, maxMs + 24L * 3600 * 1000, "zz_sentinel.parquet")
      q2.processAllAvailable()
    } finally q2.stop()

    val got = spark.read.parquet(outDir)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    val want = Analytics.eventHourly(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    // the stop landed mid-stream: some windows emitted before it, some after
    assert(phase1Hours.nonEmpty && phase1Hours.size < want.length)
    // junk file exists on disk but never surfaces through the commit log
    assert(new java.io.File(outDir).listFiles().exists(_.getName.contains("junk")))
    assert(!got.exists(_._2 == 999L))
    // no window was emitted twice across the restart...
    assert(got.map(_._1).distinct.length == got.length)
    // ...and the union of both phases is exactly the batch answer
    assert(got.toSet == want.toSet)
  }

  test("multimodal decode stub is deterministic and matches byte math") {
    val (w, h, c) = Multimodal.decodeStub("the fast".getBytes("UTF-8"))
    assert(w == 64 + 't'.toInt % 64 && h == 64 + 'h'.toInt % 64 && c == 3)
    val empty = Multimodal.decodeStub(Array.emptyByteArray)
    assert(empty == (64, 64, 3))
  }

  test("media_features vectors are 16-dim and sum to ~1") {
    val rows = Multimodal.mediaFeatures(spark, sf)
      .select($"doc_id", $"features").as[(Long, Seq[Double])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, v) =>
      assert(v.length == 16, s"doc $id: dim ${v.length}")
      // per-bin rounding to 6 decimals can drift the sum by ≤ 16 * 5e-7
      assert(math.abs(v.sum - 1.0) < 1e-4, s"doc $id: sum ${v.sum}")
    }
  }

  test("decode/resize are real for PNG and BMP payloads (javax.imageio path)") {
    // fixtures generated in-memory: a genuine 8x6 PNG and a 10x4 BMP
    def encodeImg(w: Int, h: Int, format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, (x * 31 + y * 7) << 8)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, bos)
      bos.toByteArray
    }
    val png = encodeImg(8, 6, "png")
    val bmp = encodeImg(10, 4, "bmp")
    assert(Multimodal.looksLikeImage(png) && Multimodal.looksLikeImage(bmp))
    assert(Multimodal.decode(png) == (8, 6, 3))
    assert(Multimodal.decode(bmp) == (10, 4, 3))
    // resize halves each dimension and re-encodes as PNG — decode the
    // output to prove it's a real image, not stub bytes
    val halfPng = Multimodal.resize(png)
    assert(Multimodal.looksLikeImage(halfPng))
    assert(Multimodal.decode(halfPng) == (4, 3, 3))
    assert(Multimodal.decode(Multimodal.resize(bmp)) == (5, 2, 3))
    // non-image payloads still take the deterministic stub paths
    val text = "plain text payload".getBytes("UTF-8")
    assert(!Multimodal.looksLikeImage(text))
    assert(Multimodal.decode(text) == Multimodal.decodeStub(text))
    assert(Multimodal.resize(text).sameElements(Multimodal.resizeStub(text)))
    // "BM"-prefixed ASCII is a sniff false positive: the codec parse
    // fails and the stub keeps the result deterministic
    val bmText = "BMW dealerships report record sales this quarter".getBytes("UTF-8")
    assert(Multimodal.decode(bmText) == Multimodal.decodeStub(bmText))
  }

  test("frame_sample frames are 16-byte slices at 64-byte stride") {
    val fs = Multimodal.frameSample(spark, sf)
    val one = fs.filter($"doc_id" === 0).collect()
    val text = Tables.documents(spark, sf)
      .filter($"doc_id" === 0).select("text").as[String].head()
    val expected = (0 to (text.length - 16) / 64).map { i =>
      val slice = text.substring(i * 64, i * 64 + 16)
      java.security.MessageDigest.getInstance("MD5")
        .digest(slice.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }
    assert(one.map(_.getString(2)).toSeq == expected)
  }

  test("streamDedupWatermarkEq: bounded-state dedup equals batch DISTINCT over the bucketed key") {
    val got = graft.streaming.StreamingBridge.streamDedupWatermarkEq(spark, sf)
      .as[(Long, String, java.sql.Timestamp)].collect().toSet
    val want = Tables.events(spark, sf)
      .select($"user_id", $"event_type", date_trunc("hour", $"ts").as("hour"))
      .distinct()
      .as[(Long, String, java.sql.Timestamp)].collect().toSet
    assert(got == want, s"streaming kept ${got.size} keys, batch distinct has ${want.size}")
  }

  test("transformWithState latest-per-key equals the mapGroupsWithState implementation") {
    val old = graft.streaming.StreamingBridge.streamLatestEq(spark, sf)
      .as[(Long, Long, Long, String, Long)].collect().toSeq
    val tws = graft.streaming.StreamingBridge.streamLatestTwsEq(spark, sf)
      .as[(Long, Long, Long, String, Long)].collect().toSeq
    assert(tws.nonEmpty && tws == old,
      "old and new arbitrary-state APIs must agree row-for-row")
  }

  test("transformWithState sessionizer (event-time timers) equals the flatMapGroupsWithState one") {
    val old = graft.streaming.StreamingBridge.streamSessionizeEq(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val tws = graft.streaming.StreamingBridge.streamSessionizeTwsEq(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(tws.nonEmpty && tws == old,
      "timer-based sessions must match the timeout-based ones row-for-row")
  }

  test("transformWithState crash-recovery: RocksDB state resumes across a checkpoint restart") {
    // the modern API's counterpart of the file-sink recovery test: a
    // tws query over ValueState is stopped after two micro-batches and
    // restarted from the same checkpoint with the rest of the input.
    // Correct recovery means per-key counts ACCUMULATE across the stop
    // (state restored from the RocksDB snapshot + changelog), so the
    // final per-user n_events equals the batch count over ALL events -
    // a restarted-from-zero state would undercount phase-1 keys.
    import org.apache.spark.sql.streaming.StreamingQuery
    val allStaged = graft.streaming.StreamingBridge.stageTimeOrdered(spark, sf, 4)
    val parts = new java.io.File(allStaged).listFiles().sortBy(_.getName).toSeq
    val streamDir = graft.sources.TempDirs.create("graft_tws_restart_src_")
    val ckDir = graft.sources.TempDirs.create("graft_tws_restart_ck_")
    val outDir = graft.sources.TempDirs.create("graft_tws_restart_out_")
    def expose(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(streamDir, f.getName),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val schema = spark.read.parquet(allStaged).schema
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // memory sink can't recover from a checkpoint; foreachBatch can -
      // append each batch's update rows, the per-key max is final state
      def start(): StreamingQuery = StreamingOps.latestPerUserTws(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(streamDir).as[Event])
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamingOps.LatestOut], _: Long) =>
          batch.write.mode("append").parquet(outDir)
          ()
        }.start()

      expose(parts.take(2))
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()

      expose(parts.drop(2))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()

      val got = spark.read.parquet(outDir)
        .groupBy("user_id").agg(max("n_events").as("n"))
        .as[(Long, Long)].collect().toMap
      val want = Tables.events(spark, sf)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap
      assert(got == want,
        s"state did not survive the restart: ${got.toSeq.sorted.take(5)}... vs ${want.toSeq.sorted.take(5)}...")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("transformWithState timer recovery: timers registered before a restart fire after it") {
    // the TIMER-shaped counterpart of the ValueState recovery test: a
    // sessionizeTws query is stopped with sessions still OPEN (state +
    // a registered event-time close timer in the RocksDB checkpoint),
    // then restarted with ONLY a watermark-advancing sentinel — no real
    // events. A key the sentinel never touches cannot reach
    // handleInputRows after the restart, so its remaining session can
    // close ONLY through a timer that was registered BEFORE the stop,
    // survived the checkpoint, and fired via handleExpiredTimer after
    // it. The union of pre- and post-restart emissions must equal batch
    // sessionization over exactly the phase-1 events.
    import org.apache.spark.sql.streaming.StreamingQuery
    import org.apache.spark.sql.expressions.Window
    val allStaged = graft.streaming.StreamingBridge.stageTimeOrdered(spark, sf, 4)
    val parts = new java.io.File(allStaged).listFiles().sortBy(_.getName).toSeq.take(2)
    val streamDir = graft.sources.TempDirs.create("graft_tws_timer_src_")
    val ckDir = graft.sources.TempDirs.create("graft_tws_timer_ck_")
    val outDir = graft.sources.TempDirs.create("graft_tws_timer_out_")
    parts.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(streamDir, f.getName),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val schema = spark.read.parquet(allStaged).schema
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def start(): StreamingQuery = StreamingOps.sessionizeTws(
          Tables.normalizeTs(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
              .parquet(streamDir))
            .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
            .as[Event])
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamingOps.SessionOut], _: Long) =>
          batch.write.mode("append").parquet(outDir)
          ()
        }.start()

      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      val beforeRestart = spark.read.parquet(outDir).count()

      // restart: the ONLY new input is the far-future sentinel (key -1)
      val maxMs = Tables.normalizeTs(spark.read.parquet(streamDir))
        .agg(max(col("ts"))).head().getTimestamp(0).getTime
      graft.streaming.StreamingBridge.writeSentinelNamed(spark, streamDir,
        schema, maxMs + 24L * 3600 * 1000, "zz_sentinel.parquet")
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()

      val got = spark.read.parquet(outDir).filter($"user_id" >= 0)
        .select($"user_id", $"n_events", $"duration_s")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(got.size > beforeRestart,
        "no session closed after the restart — restored timers never fired")
      val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
      val want = Tables.normalizeTs(
          spark.read.parquet(parts.map(_.getPath): _*))
        .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
        .withColumn("prev_us", lag("us", 1).over(byUser))
        .withColumn("is_new",
          when($"prev_us".isNull || $"us" - $"prev_us" > 30L * 60 * 1000000, 1)
            .otherwise(0))
        .withColumn("sid", sum("is_new").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"sid")
        .agg(count(lit(1)).as("n_events"),
          floor((max("us") - min("us")) / lit(1000000L)).cast("long").as("duration_s"))
        .select($"user_id", $"n_events", $"duration_s")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(got == want,
        s"sessions diverged from batch over phase-1 events: got ${got.size} vs ${want.size} rows")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("streaming IVF ingest == batch incremental index row-for-row") {
    // the micro-batched foreachBatch appends and the one-shot batch
    // append must produce the SAME merged inverted lists — assignment
    // against stored centroids is deterministic and batching-invariant
    val got = graft.streaming.StreamingBridge.streamIvfIngestEq(spark, sf)
      .as[(Long, Long, Int)].collect().toSeq
    val want = graft.operators.Similarity.ivfIncremental(spark, sf)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got.nonEmpty && got == want,
      s"streaming ingest diverged from batch: ${got.size} vs ${want.size} rows")
  }

  test("streaming EWMA (tws sequential state) equals batch ewma_hourly row-for-row") {
    val got = graft.streaming.StreamingBridge.streamEwmaEq(spark, sf)
      .as[(String, java.sql.Timestamp, Long, Double)].collect().toSeq
    val want = graft.operators.EventAnalytics.ewmaHourly(spark, sf)
      .as[(String, java.sql.Timestamp, Long, Double)].collect().toSeq
    assert(got.nonEmpty && got == want,
      s"streaming EWMA diverged: ${got.take(3)} vs ${want.take(3)}")
  }

  test("streaming attribution equals batch; some purchase's first touch crossed a batch boundary") {
    val got = graft.streaming.StreamingBridge.streamAttributionEq(spark, sf)
      .as[(Long, Long, Long, Long, String, Option[Long], Option[String])].collect().toSeq
    val want = graft.operators.Analytics.sessionAttribution(spark, sf)
      .as[(Long, Long, Long, Long, String, Option[Long], Option[String])].collect().toSeq
    assert(got.nonEmpty && got == want,
      s"streaming attribution diverged: ${got.take(2)} vs ${want.take(2)}")
    // handoff proof on a CONTROLLED two-file feed (the sf0.001 staging
    // may not happen to split any session across a file boundary): a
    // view in micro-batch 1, the purchase 10 minutes later in micro-batch
    // 2 — the purchase must be attributed to the file-1 view, which only
    // works if session state survived the batch boundary
    import graft.streaming.StreamingOps.Event
    def ev(id: Long, ms: Long, tpe: String) =
      Event(id, new java.sql.Timestamp(ms), 7L, tpe, 1.0)
    val t0 = 1700000000000L
    val feed = graft.sources.TempDirs.create("graft_attrib_handoff_")
    Seq(
      ("f1", Seq(ev(1, t0, "view"), ev(2, t0 + 60000, "click"))),
      ("f2", Seq(ev(3, t0 + 600000, "purchase")))
    ).zipWithIndex.foreach { case ((fn, evs), i) =>
      val tmp = graft.sources.TempDirs.create(s"graft_attrib_build_${i}_")
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(feed, s"$fn.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 2000 + i * 1000))
    }
    val schema = spark.read.parquet(feed).schema
    val name = "graft_attrib_handoff_sink"
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q =
      try graft.streaming.StreamingOps.attributionTws(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(feed).as[Event])
        .writeStream.outputMode("update")
        .format("memory").queryName(name).start()
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    try q.processAllAvailable() finally q.stop()
    val handoff = spark.table(name)
      .as[(Long, Long, Long, Long, String, Option[Long], Option[String])].collect().toSeq
    assert(handoff == Seq((7L, 1L, 3L, 1L, "view", Some(2L), Some("click"))),
      s"cross-batch attribution wrong: $handoff")
  }

  test("attribution state survives a query RESTART: purchase after restart credits pre-restart touches") {
    // restart-shaped counterpart of the cross-batch handoff test: the
    // session head and pending last-touch live only in AttribState, the
    // query is STOPPED between the touches and the purchase, and the
    // restarted query (same RocksDB checkpoint) must still attribute the
    // purchase to the pre-restart view/click — a restarted-from-zero
    // state would call it a direct conversion instead
    import org.apache.spark.sql.streaming.StreamingQuery
    import graft.streaming.StreamingOps.Event
    def ev(id: Long, ms: Long, tpe: String) =
      Event(id, new java.sql.Timestamp(ms), 11L, tpe, 1.0)
    val t0 = 1710000000000L
    val feed = graft.sources.TempDirs.create("graft_attrib_restart_src_")
    val ckDir = graft.sources.TempDirs.create("graft_attrib_restart_ck_")
    val outDir = graft.sources.TempDirs.create("graft_attrib_restart_out_")
    def writeFile(fn: String, evs: Seq[Event], mtime: Long): Unit = {
      val tmp = graft.sources.TempDirs.create(s"graft_attrib_restart_b_")
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(feed, fn)
      java.nio.file.Files.copy(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    writeFile("f1.parquet", Seq(ev(1, t0, "view"), ev(2, t0 + 60000, "click")),
      System.currentTimeMillis() - 2000)
    val schema = spark.read.parquet(feed).schema
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def start(): StreamingQuery = graft.streaming.StreamingOps.attributionTws(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(feed).as[Event])
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckDir)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.StreamingOps.AttribOut], _: Long) =>
          batch.write.mode("append").parquet(outDir)
          ()
        }.start()
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      writeFile("f2.parquet", Seq(ev(3, t0 + 600000, "purchase")),
        System.currentTimeMillis())
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val got = spark.read.parquet(outDir)
        .as[(Long, Long, Long, Long, String, Option[Long], Option[String])]
        .collect().toSeq
      assert(got == Seq((11L, 1L, 3L, 1L, "view", Some(2L), Some("click"))),
        s"attribution state lost across restart: $got")
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }
  test("substring stream screen: trigger semantics pinned synthetically") {
    // the corpus cannot exercise these cases (every recurring arrival
    // window there is also resident-backed — PLANS round-15b), so the
    // per-trigger kernel is driven directly with controlled batches:
    //  - a same-trigger arrival-only pair flags BOTH carriers
    //  - a cross-trigger arrival-only pair flags only the LATER carrier
    //  - a resident-backed run flags in any trigger
    import graft.operators.Dedup
    val a1 = (1L, ("a" * 30) + ("p" * 50) + ("b" * 30) + ("x" * 50) + ("c" * 30))
    val a2 = (2L, ("d" * 30) + ("p" * 50) + ("e" * 30))
    val b  = (3L, ("f" * 30) + ("x" * 50) + ("g" * 30) + ("r" * 50) + ("h" * 30))
    val resident = Seq((100L, ("i" * 30) + ("r" * 50) + ("j" * 30))).toDF("doc_id", "text")
    val residentIdx = Dedup.windowHashSet(resident)
    val batch0 = Seq(a1, a2).toDF("doc_id", "text")
    val batch1 = Seq(b).toDF("doc_id", "text")
    val state0 = spark.range(0).select($"id".as("h"))
    val out0 = Dedup.screenArrivalsAgainst(batch0, residentIdx.unionByName(state0))
      .orderBy("doc_id").as[(Long, Long, Long, Long, Long)].collect().toSeq
    // t0: the shared p-run flags both docs; A1's x-run has no second
    // carrier yet — it must NOT be flagged retroactively-in-advance
    assert(out0 == Seq(
      (1L, 1L, 50L, 190L, 1000000L * 50 / 190),
      (2L, 1L, 50L, 110L, 1000000L * 50 / 110)))
    val state1 = state0.unionByName(Dedup.windowHashSet(batch0)).distinct()
    val out1 = Dedup.screenArrivalsAgainst(batch1, residentIdx.unionByName(state1))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // t1: B's x-run is caught by the arrival-hash STATE (cross-trigger),
    // its r-run by the resident index — two disjoint spans
    assert(out1 == Seq((3L, 2L, 100L, 190L, 1000000L * 100 / 190)))
  }

  test("delta-state compaction: bounded dirs over 12 triggers, cross-fold state preserved") {
    import graft.operators.Dedup
    import graft.streaming.DeltaState
    // 12 single-doc triggers, fold every 2: doc t carries the 50-char run
    // of doc t−1, so EVERY trigger's coverage depends on state that has
    // (for t > 2) been folded into a snapshot — a fold that loses or
    // duplicates state shows up as a wrong span, not just a wrong dir
    // count. Blocks A/B/C are 31 chars (< one window) with doc-unique
    // boundary digits, so no straddling window recurs — each doc's
    // expected coverage is exactly run(t−1).
    // lowercase run alphabet: disjoint from the uppercase block tags, so
    // a block's trailing/leading tag char can never extend a run
    def run(t: Int) = ('a' + t).toChar.toString * 50
    // 31 chars (< one window), content unique per (tag, doc): no window
    // fits inside a block and no straddling window can recur cross-doc
    def block(tag: String, t: Int) = (f"$tag$t%02d" * 11).take(31)
    def doc(t: Int): String =
      if (t == 0) block("A", t) + block("B", t) + run(t) + block("C", t)
      else block("A", t) + run(t - 1) + block("B", t) + run(t) + block("C", t)
    val foldK = 2
    val feed = graft.sources.TempDirs.create("graft_deltastate_feed_")
    val stateRoot = graft.sources.TempDirs.create("graft_deltastate_state_")
    val outDir = graft.sources.TempDirs.create("graft_deltastate_out_")
    val ck = graft.sources.TempDirs.create("graft_deltastate_ck_")
    val tsBase = System.currentTimeMillis() - 20000L
    val build = graft.sources.TempDirs.create("graft_deltastate_build_")
    (0 until 12).foreach { t =>
      val f = f"$feed/batch_$t%05d.parquet"
      Seq((t.toLong, doc(t))).toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$build/t$t")
      val src = new java.io.File(s"$build/t$t").listFiles()
        .filter(x => x.getName.startsWith("part-") && x.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(src.toPath, java.nio.file.Paths.get(f))
      java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(f),
        java.nio.file.attribute.FileTime.fromMillis(tsBase + t * 1000L))
    }
    val schema = spark.read.parquet(s"$feed/batch_00000.parquet").schema
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(feed)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        val statePaths = DeltaState.priorPaths(session, stateRoot, "d",
          batchId, foldK, fold = _.distinct())
        val prior =
          if (statePaths.isEmpty)
            session.range(0).select(col("id").as("h"))
          else session.read.parquet(statePaths: _*)
        Dedup.screenArrivalsAgainst(batch, prior)
          .write.mode("overwrite").parquet(s"$outDir/b$batchId")
        Dedup.windowHashSet(batch)
          .write.mode("overwrite").parquet(s"$stateRoot/d$batchId")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // cross-fold correctness: doc 0 clean, every later doc exactly the
    // previous doc's 50-char run
    val got = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val want = (0 until 12).map { t =>
      val total = doc(t).length.toLong
      if (t == 0) (0L, 0L, 0L, total, 0L)
      else (t.toLong, 1L, 50L, total, 1000000L * 50 / total)
    }
    assert(got == want, s"screen diverged across folds:\n$got\nvs\n$want")
    // the bound the compaction exists for: ≤ 2 snapshots + 2K deltas
    // after 12 triggers (unfolded deltas would be 12 dirs)
    val dirs = new java.io.File(stateRoot).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(dirs.size <= 6, s"state dirs unbounded: $dirs")
    assert(dirs.exists(_.startsWith("sd")), s"no snapshot dir materialized: $dirs")
    // retry idempotence: re-entering a FOLD trigger (structured
    // streaming re-runs the last uncommitted batch after a crash)
    // must rebuild the identical snapshot from the retained inputs
    // and return the same paths
    val lastFold = dirs.filter(_.startsWith("sd")).map(_.stripPrefix("sd").toLong).max
    val before = spark.read.parquet(s"$stateRoot/sd$lastFold")
      .as[Long].collect().sorted.toSeq
    val p1 = DeltaState.priorPaths(spark, stateRoot, "d", lastFold, foldK, _.distinct())
    val p2 = DeltaState.priorPaths(spark, stateRoot, "d", lastFold, foldK, _.distinct())
    assert(p1 == p2, "retried fold trigger must see identical state paths")
    val after = spark.read.parquet(s"$stateRoot/sd$lastFold")
      .as[Long].collect().sorted.toSeq
    assert(after == before, "retried fold must rebuild the identical snapshot")
  }

  test("setsim stream screen: exactly-once pair emission across triggers (synthetic)") {
    // the per-trigger kernel driven directly with controlled batches:
    //  - vs-resident pair emitted in its carrier's trigger
    //  - cross-trigger arrival pair emitted exactly once, on the LATER
    //    carrier (prior-state prefix probe), never re-emitted
    import graft.operators.Dedup
    val resident = Seq(
      (100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val (df, prefix, grams) = Dedup.setsimIndexFrames(Dedup.gramSetsOf(resident))
    val batch0 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (20L, "quux corge grault garply waldo fred")).toDF("doc_id", "text")
    val batch1 = Seq(
      (30L, "quux corge grault garply waldo fred")).toDF("doc_id", "text")
    val ag0 = Dedup.gramSetsOf(batch0).persist()
    val ap0 = Dedup.arrivalPrefix(ag0, df).persist()
    val out0 = Dedup.setsimScreenWith(ag0, ap0, prefix, grams)
      .orderBy("id1", "id2").as[(Long, Long, Double)].collect().toSeq
    assert(out0 == Seq((10L, 100L, 1.0))) // doc 20's twin hasn't arrived
    val ag1 = Dedup.gramSetsOf(batch1).persist()
    val ap1 = Dedup.arrivalPrefix(ag1, df).persist()
    val out1 = Dedup.setsimScreenWith(ag1, ap1,
        prefix.unionByName(ap0), grams.unionByName(ag0))
      .orderBy("id1", "id2").as[(Long, Long, Double)].collect().toSeq
    // t1: the cross-trigger pair surfaces via the state probe; the
    // already-emitted (10, 100) pair does NOT reappear
    assert(out1 == Seq((20L, 30L, 1.0)))
    Seq(ag0, ap0, ag1, ap1).foreach(_.unpersist())
  }

  test("stagedFor: memo hit on unchanged data, supersession deletes the stale staged dir") {
    import graft.streaming.StreamingBridge
    import java.nio.file.{Files, Paths}
    // a fake "dataset": one file whose rewrite changes the fingerprint
    val ds = graft.sources.TempDirs.create("graft_stagedfor_ds_")
    Files.write(Paths.get(ds, "data"), "gen1".getBytes)
    var builds = 0
    def build(): String = {
      builds += 1
      val d = graft.sources.TempDirs.create("graft_stagedfor_stage_")
      Files.write(Paths.get(d, "staged"), s"b$builds".getBytes)
      d
    }
    val s1 = StreamingBridge.stagedFor(ds, "spec-tag")(build())
    val s2 = StreamingBridge.stagedFor(ds, "spec-tag")(build())
    assert(s1 == s2 && builds == 1, "unchanged data must be a memo hit")
    // regenerate in place: new content + mtime → new fingerprint → the
    // stale staged dir must be DELETED, not left unreachable on disk
    Files.write(Paths.get(ds, "data"), "generation2".getBytes)
    Files.setLastModifiedTime(Paths.get(ds, "data"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 2000))
    val s3 = StreamingBridge.stagedFor(ds, "spec-tag")(build())
    assert(s3 != s1 && builds == 2, "regeneration must rebuild the stage")
    assert(!Files.exists(Paths.get(s1)),
      "superseded staged dir must be deleted on rebuild")
    assert(Files.exists(Paths.get(s3, "staged")))
  }

  test("stageTimeOrdered: regenerating the events file deletes the superseded staged base") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val ds = graft.sources.TempDirs.create("graft_stage_regen_ds_")
    val events = Paths.get(ds, "events.parquet")
    Files.copy(Paths.get(sf, "events.parquet"), events)
    // the base a link view was made from: the one other staged dir
    // holding the same inode as the view's first file
    def baseOf(view: String): Option[Path] = {
      val f = new java.io.File(view).listFiles().filter(_.getName.endsWith(".parquet"))
        .minBy(_.getName).toPath
      val siblings = Files.list(Paths.get(view).getParent)
      try siblings.iterator().asScala.toList
        .filter(d => d.getFileName.toString.startsWith("graft_") && d != Paths.get(view))
        .find { d =>
          val twin = d.resolve(f.getFileName)
          scala.util.Try(Files.isSameFile(twin, f)).getOrElse(false)
        }
      finally siblings.close()
    }
    val base1 = baseOf(graft.streaming.StreamingBridge.stageTimeOrdered(spark, ds, 4))
    assert(base1.exists(Files.isDirectory(_)), "first staging has no base dir")
    // regenerate in place: same path, new mtime → new fingerprint
    Files.copy(Paths.get(sf, "events.parquet"), events,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(events,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 2000))
    val base2 = baseOf(graft.streaming.StreamingBridge.stageTimeOrdered(spark, ds, 4))
    assert(base2.nonEmpty && base2 != base1, "regeneration must restage")
    assert(!Files.exists(base1.get),
      s"superseded staged base ${base1.get} was left on disk")
  }

  test("stream_incremental_eq: a second call replays the shared events staging, writing none") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // graft dirs under java.io.tmpdir holding a Spark write's output
    // (part-* files); a staging's per-query link views hold only its
    // batch_* files
    def written(): Set[String] = {
      val dirs = Files.list(Paths.get(sys.props("java.io.tmpdir")))
      try dirs.iterator().asScala.filter { d =>
          d.getFileName.toString.startsWith("graft_") &&
            Option(d.toFile.listFiles()).exists(_.exists { f =>
              f.getName.startsWith("part-") && f.getName.endsWith(".parquet")
            })
        }.map(_.toString).toSet
      finally dirs.close()
    }
    val run = SparkEntry.queries("stream_incremental_eq")
    val first = run(spark, sf).collect()
    val before = written()
    val second = run(spark, sf).collect()
    val fresh = written() -- before
    assert(fresh.isEmpty, s"the second call wrote a new staging: $fresh")
    assert(first.nonEmpty && second.sameElements(first))
  }

  test("bridge drive: a throwing drive stops its query and restores the scoped confs") {
    // a feed that stages and starts cleanly but fails inside the first
    // micro-batch: a null user_id cannot decode into Event's Long
    val ds = graft.sources.TempDirs.create("graft_drive_throw_ds_")
    Seq((1L, new java.sql.Timestamp(0L), null.asInstanceOf[java.lang.Long], "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$ds/events.parquet")
    val session = spark.newSession()
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    val explicit = Seq(Some("7"),
      Some("org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"))
    Seq(explicit, Seq(None, None)).foreach { prev =>
      keys.zip(prev).foreach {
        case (k, Some(v)) => session.conf.set(k, v)
        case (k, None) => session.conf.unset(k)
      }
      val values = keys.map(session.conf.get)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        graft.streaming.StreamingBridge.queries("stream_latest_tws_eq")(session, ds)
      }
      assert(session.streams.active.isEmpty, "the failed query was left running")
      assert(keys.map(session.conf.getAll.get) == prev,
        s"explicit settings not restored: ${keys.map(session.conf.getAll.get)} vs $prev")
      assert(keys.map(session.conf.get) == values)
    }
  }

  test("checkpointed bridge drives delete their checkpoint dir once the query stops") {
    def checkpoints(): Int =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).list()).toSeq.flatten
        .count(n => n.startsWith("graft_") && n.contains("_ck_"))
    val bridges = Seq("stream_decontaminate_eq", "stream_file_sink_eq")
      .map(graft.streaming.StreamingBridge.queries)
    bridges.foreach(_(spark, sf).count()) // the stagings, built once per process
    val before = checkpoints()
    for (_ <- 1 to 3) bridges.foreach(_(spark, sf).count())
    assert(checkpoints() == before)
  }

  test("a flushing bridge's drives delete each sentinel's write dir once its part file is copied") {
    def sentinels(): Int =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).list()).toSeq.flatten
        .count(_.startsWith("graft_stream_sentinel_"))
    val bridge = graft.streaming.StreamingBridge.queries("stream_sessionize_eq")
    val before = sentinels()
    for (_ <- 1 to 3) bridge(spark, sf).count()
    assert(sentinels() == before)
  }
}
