package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.sources.{Tables, TempDirs}
import graft.streaming.StreamingOps.Event

/** Batch⇄streaming equivalence bridge: drives the Structured Streaming
  * operators over a FILE-SOURCE stream of the events table and returns the
  * sink contents as a batch DataFrame, which makes the streaming module
  * oracle-checkable — its results are compared against the SAME DuckDB SQL
  * as the batch twins, instead of being trusted on spec assertions alone.
  *
  * All 33 queries stream from `readStream` on a staged copy of their input
  * (the production shape — nothing is routed through the driver; the only
  * driver-side values are scalar aggregates like the max event time used
  * to place the watermark-advancing sentinel, and the shipped artifacts
  * the serving twins load as literals). Every drive goes through one of
  * three helpers — [[memorySink]], [[foreachBatch]] or the file sink's
  * [[checkpointed]] drive — and ends in [[drain]].
  */
object StreamingBridge {

  // memory-sink table names must be unique per run within a session
  private val runId = new java.util.concurrent.atomic.AtomicInteger

  private val eventCols = Seq("event_id", "ts", "user_id", "event_type", "value")

  /** Streaming state partitions per bridge drive — see [[scoped]]. */
  private val StateParts = 4

  private val StateStoreProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val OneFilePerTrigger = Map("maxFilesPerTrigger" -> "1")

  // bridge mutual exclusion: every bridge drive and every staging-memo
  // access. A PRIVATE lock, deliberately not the SparkSession's own
  // monitor: Scala lazy-val initialization inside SparkSession
  // synchronizes on the session instance, so holding that monitor across
  // a whole streaming drive could deadlock against a streaming-execution
  // thread touching a not-yet-initialized lazy val.
  private val bridgeLock = new Object

  /** (dataset dir, stage tag) → (dataset fingerprint at staging, staged
    * dir). Guarded by [[bridgeLock]]. */
  private val stagings = scala.collection.mutable.HashMap.empty[(String, String), (String, String)]

  /** THE staging memo of every bridge: the staged dir built for (`dir`,
    * `tag`), built once per process and reused while the dataset's
    * fingerprint holds — the [[graft.sources.Stages]] discipline applied
    * to on-disk stagings, which are not stages of a session and so
    * survive `Stages.clear()`. Keyed by stable identity (dataset path +
    * stage tag), the VALUE carries the staging-time fingerprint: a hit
    * under a changed fingerprint (dataset regenerated in place) is a miss
    * that also DELETES the superseded staged dir, so a process-lifetime
    * embedder can't accumulate one dead staging per regeneration (keying
    * by `DatasetId.key` — fingerprint inside the key — made stale entries
    * unreachable but never evicted them). Check, delete and rebuild are
    * one atomic step under [[bridgeLock]]; the eager delete cannot pull
    * files from under a reader, because bridges read stagings only inside
    * a drive (which holds the same lock) and event stagings are handed out
    * only as [[linkStaged]] views, which keep their own links. */
  private[graft] def stagedFor(dir: String, tag: String)(build: => String): String =
    bridgeLock.synchronized {
      val fp = graft.sources.DatasetId.fingerprint(dir)
      stagings.get((dir, tag)) match {
        case Some((`fp`, staged)) => staged
        case stale =>
          stale.foreach { case (_, old) =>
            try graft.sources.ArtifactRoots.deleteRecursively(Paths.get(old))
            catch { case scala.util.control.NonFatal(_) => () }
          }
          val staged = build
          stagings.put((dir, tag), (fp, staged))
          staged
      }
    }

  /** Per-query view of the staging `stagedFor(dir, tag)(build)`:
    * hard-link every file of the base into a fresh temp dir (copy
    * with attributes if the filesystem refuses links). Links share the
    * base inodes, so the mtime ordering the file source replays by is
    * IDENTICAL to the base's — and the sentinel files a bridge later
    * drops into its view are new inodes in a private dir, invisible to
    * sibling queries and to the base. */
  private def linkStaged(dir: String, tag: String)(build: => String): String =
    bridgeLock.synchronized {
      val base = stagedFor(dir, tag)(build)
      val d = TempDirs.create("graft_stage_view_")
      new java.io.File(base).listFiles().sortBy(_.getName)
        .foreach { f =>
          val dst = Paths.get(d, f.getName)
          try Files.createLink(dst, f.toPath)
          catch {
            case _: Exception => Files.copy(f.toPath, dst,
              java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
          }
        }
      d
    }

  /** The part files a Spark write left in `dir`, in name order. */
  private def partFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  /** THE copy tail of every staging: copy `parts` into a fresh temp dir
    * under `prefix` with ascending mtimes 1 s apart, so the file source
    * (ordered by timestamp, then path) replays them in the given order —
    * one file per micro-batch at `maxFilesPerTrigger = 1`. One
    * implementation, so the batch-ordering semantics every `stream_*_eq`
    * oracle depends on cannot silently fork per staging. */
  private def copyAscending(parts: Seq[java.io.File], prefix: String): String = {
    val out = TempDirs.create(prefix)
    val tsBase = System.currentTimeMillis() - 1000L * parts.length
    parts.zipWithIndex.foreach { case (f, i) =>
      val dst = Paths.get(out, f"batch_$i%05d.parquet")
      Files.copy(f.toPath, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(tsBase + i * 1000L))
    }
    out
  }

  /** Write `df` as `n` range-split parquet files (range keys `rangeCols`)
    * with ascending mtimes under a fresh temp dir — one file per
    * micro-batch at `maxFilesPerTrigger = 1`. Shared by the time-ordered
    * events, the corpus stages, the IVF ingest delta and the retrieval
    * query panels. */
  private def stageRangedFiles(df: DataFrame, n: Int, prefix: String,
      rangeCols: String*): String = {
    val build = TempDirs.create(s"${prefix}build_")
    df.repartitionByRange(n, rangeCols.map(col): _*).write.mode("overwrite").parquet(build)
    copyAscending(partFiles(build), prefix)
  }

  /** Write `df` as one parquet file per value of the integer column
    * `split`, in the order of `keys`, with ascending mtimes — for splits
    * an oracle must reproduce exactly, where repartitionByRange's sampled
    * boundaries would not do. A key with no rows stages no file (ntile(5)
    * over fewer than 5 rows emits fewer groups; the oracle's assignment
    * is identical either way). */
  private def stageSplit(df: DataFrame, split: Column, keys: Seq[Int],
      prefix: String): String = {
    val build = TempDirs.create(s"${prefix}build_")
    df.withColumn("split", split).coalesce(1)
      .write.partitionBy("split").mode("overwrite").parquet(build)
    copyAscending(keys.flatMap(k => partFiles(s"$build/split=$k").headOption), prefix)
  }

  /** A staged event feed: the monitored dir, the on-disk schema its
    * stream (and its sentinels) use, and the file-source options. */
  private final case class Feed(dir: String, schema: StructType, opts: Map[String, String])

  /** Stage the events table into a per-query temp directory the file
    * stream source can monitor. The source watches a DIRECTORY and
    * discovers new files per micro-batch; testdata ships events.parquet
    * as a bare file in a read-only tree, so it can neither be monitored
    * in place nor appended to with a sentinel. In production the
    * monitored ingest directory already exists. The feed's schema is the
    * on-disk schema projected to the event columns — parquet resolves
    * columns by name, so the projection prunes the scan and lets sentinel
    * files carry only these five columns. The schema is stored with the
    * staging (`_schema.json`, which the file source skips like every
    * `_`-prefixed file): a parquet schema read is a Spark job, paid once
    * per staging rather than once per query. The whole file set is one
    * micro-batch. */
  private def stageEvents(spark: SparkSession, dir: String): Feed = {
    val path = s"$dir/events.parquet"
    val view = linkStaged(dir, "events") {
      val src = new java.io.File(path)
      val out = copyAscending(
        if (src.isDirectory)
          src.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
        else Seq(src),
        "graft_stream_events_")
      Files.writeString(Paths.get(out, "_schema.json"),
        StructType(eventCols.map(spark.read.parquet(path).schema(_))).json)
      out
    }
    Feed(view, DataType.fromJson(Files.readString(Paths.get(view, "_schema.json")))
      .asInstanceOf[StructType], Map.empty)
  }

  /** Stage the events table as `n` time-range parquet files with
    * ascending mtimes, so the file source (ordered by timestamp, then
    * path) replays them chronologically — shared by the incremental
    * dedup/sessionize bridges and the whole transformWithState family.
    * The range keys are (ts, event_id) — the same total order the batch
    * twins and the per-batch sorts inside the stateful processors use —
    * so equal-timestamp events can never straddle a file (= micro-batch)
    * boundary in an order that differs from the batch (ts, event_id)
    * replay; without the tie-break, last-touch/prev state in the
    * tie-sensitive attribution twin could flip on a boundary split.
    * The ranged write (a Spark job over the full events table) runs ONCE
    * per (dataset, n) per process; every query gets a private hard-link
    * view so its sentinels stay its own. */
  private[graft] def stageTimeOrdered(spark: SparkSession, dir: String, n: Int): String =
    linkStaged(dir, s"events:$n") {
      stageRangedFiles(Tables.events(spark, dir).select(eventCols.map(col): _*),
        n, "graft_incr_", "ts", "event_id")
    }

  /** The 4-file chronological feed, replayed one file per trigger. */
  private def timeOrdered(spark: SparkSession, dir: String): Feed = {
    val staged = stageTimeOrdered(spark, dir, 4)
    Feed(staged, spark.read.parquet(staged).schema, OneFilePerTrigger)
  }

  /** Stage a projection of the documents table as `n` doc_id-ranged
    * parquet files (one file per micro-batch) — the document-corpus
    * counterpart of stageTimeOrdered, shared by the artifact-serving
    * twins (BPE encode, quality gate, DSIR, decontamination, BM25).
    * Fingerprint-checked through [[stagedFor]], so an in-process
    * regeneration of the dataset is a miss here exactly as it is for the
    * artifact roots in graft.sources.Stages (bpe, gatespec) — a path-only
    * memo would replay the stale staged corpus while the freshly
    * fingerprinted artifacts retrain, silently diverging batch from
    * stream. No sentinels are ever written into these dirs, so queries
    * share the staged dir directly (each brings its own checkpoint).
    * Per-doc outputs are order-independent, so no tie-break discipline is
    * needed either; the range split just guarantees real multi-batch
    * replay. */
  private def stageDocsRanged(spark: SparkSession, dir: String, n: Int,
      cols: Seq[String]): String =
    stagedFor(dir, s"docs:$n:${cols.mkString(",")}") {
      stageRangedFiles(Tables.documents(spark, dir).select(cols.map(col): _*),
        n, "graft_stream_docs_", "doc_id")
    }

  /** Stage the arrival split (doc_id ≡ 0 mod 10) as 5 EXPLICIT
    * ntile(doc_id) files — not stageRangedFiles: repartitionByRange draws
    * sampled boundaries, and the substring twin's oracle must reproduce
    * the trigger assignment exactly, so the split is pinned to ntile(5)
    * OVER (ORDER BY doc_id) on both sides. The window is arrival-sized
    * (staging fixture, not the operator path). */
  private def stageSubstrArrivals(spark: SparkSession, dir: String): String =
    stagedFor(dir, "arrivals:ntile5") {
      stageSplit(Tables.documents(spark, dir)
          .filter(col("doc_id") % 10 === 0).select("doc_id", "text"),
        ntile(5).over(org.apache.spark.sql.expressions.Window.orderBy("doc_id")),
        1 to 5, "graft_stream_substr_docs_")
    }

  /** The staged parquet dir `dir` as a stream, one file per trigger. */
  private def replay(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(dir).schema)
      .options(OneFilePerTrigger).parquet(dir)

  /** The feed as an event stream: ts normalized as in Tables.events
    * (LongType nanos → µs TimestampType, NTZ → TimestampType, which
    * `withWatermark` requires), projected to the event columns. */
  private def events(spark: SparkSession, feed: Feed): DataFrame =
    Tables.normalizeTs(spark.readStream.schema(feed.schema).options(feed.opts)
      .parquet(feed.dir)).select(eventCols.map(col): _*)

  private def typedEvents(spark: SparkSession, feed: Feed): Dataset[Event] = {
    import spark.implicits._
    events(spark, feed).as[Event]
  }

  /** Drop a one-row-per-event-type sentinel parquet file into the
    * monitored directory: the next micro-batch reads it, the watermark
    * advances past every open session's timeout, and the subsequent
    * no-data batch fires the event-time timeouts. This is also how a
    * production ingest directory closes its last sessions — event time
    * only advances through data. */
  private[graft] def writeSentinelNamed(spark: SparkSession, streamDir: String,
      schema: StructType, flushMs: Long, fileName: String,
      eventTypes: Seq[String] = Seq("flush")): Unit = {
    val tsVal: Any = schema("ts").dataType match {
      case LongType => flushMs * 1000000L
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ's external row type is LocalDateTime; session zone is UTC,
        // so epoch-millis → UTC wall time preserves the value exactly
        java.time.LocalDateTime.ofInstant(
          java.time.Instant.ofEpochMilli(flushMs), java.time.ZoneOffset.UTC)
      case _ => new java.sql.Timestamp(flushMs)
    }
    val rows: java.util.List[Row] = {
      val l = new java.util.ArrayList[Row]()
      eventTypes.foreach(t => l.add(Row(-1L, tsVal, -1L, t, 0.0)))
      l
    }
    val tmp = TempDirs.create("graft_stream_sentinel_")
    spark.createDataFrame(rows, schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = partFiles(tmp).headOption
      .getOrElse(sys.error(s"no part file written under $tmp"))
    Files.copy(part.toPath, Paths.get(streamDir, fileName))
  }

  /** Set `key` to `value` for the duration of `body`, then restore the
    * previous setting — the previous value, or unset if it was not set —
    * however `body` ends. */
  private def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Watermark flush for [[drain]]: after the first drain, one sentinel
    * file of `eventTypes` rows per entry of `hours` (that many hours past
    * the max ts of the events of `dataset`) is dropped into `feed` and
    * drained on its own. */
  private final case class Flush(dataset: String, feed: Feed,
      eventTypes: Seq[String] = Seq("flush"), hours: Seq[Long] = Seq(24L))

  /** Drive `q` to completion and always stop it: process everything
    * available, then write each flush sentinel and process again. The
    * events' max ts, which places the sentinels, is read once. */
  private def drain(spark: SparkSession, q: StreamingQuery, flush: Option[Flush] = None): Unit =
    try {
      q.processAllAvailable()
      flush.foreach { f =>
        val maxMs = Tables.events(spark, f.dataset)
          .agg(max(col("ts"))).head().getTimestamp(0).getTime
        f.hours.foreach { h =>
          writeSentinelNamed(spark, f.feed.dir, f.feed.schema, maxMs + h * 3600 * 1000,
            s"zz_sentinel_${h}h.parquet", f.eventTypes)
          q.processAllAvailable()
        }
      }
    } finally q.stop()

  /** Start `plan` into a memory sink under a fresh `<tag>_<runId>` name in
    * output mode `mode`, drain it (with `flush`, if any) and return the
    * sink table. With `rocksDb` the RocksDB state store provider
    * (transformWithState requires it) is scoped to the plan's
    * construction and start: a query binds its provider at start. */
  private def memorySink(spark: SparkSession, tag: String, mode: String,
      rocksDb: Boolean = false, flush: Option[Flush] = None)(plan: => Dataset[_]): DataFrame = {
    val name = s"${tag}_${runId.incrementAndGet()}"
    def start(): StreamingQuery =
      plan.writeStream.outputMode(mode).format("memory").queryName(name).start()
    drain(spark,
      if (rocksDb) withConf(spark, StateStoreProviderKey, RocksDbProvider)(start()) else start(),
      flush)
    spark.table(name)
  }

  /** Start `w` with its checkpoint in a fresh temp dir under `ckPrefix`,
    * [[drain]] it (with `flush`, if any), and delete the checkpoint once
    * the query has stopped: nothing reads it after. What the sink wrote
    * stays for the frame the bridge returns. */
  private def checkpointed(w: DataStreamWriter[_], ckPrefix: String,
      flush: Option[Flush] = None): Unit = {
    val ck = TempDirs.create(ckPrefix)
    try {
      val q = w.option("checkpointLocation", ck).start()
      drain(q.sparkSession, q, flush)
    } finally TempDirs.delete(ck)
  }

  /** Run `body` on every micro-batch of `source` through a checkpointed
    * `foreachBatch` (output mode `mode`), and drain it. */
  private def foreachBatch(source: DataFrame, ckPrefix: String, mode: String = "append")
      (body: (DataFrame, Long) => Unit): Unit =
    checkpointed(source.writeStream.outputMode(mode).foreachBatch(body), ckPrefix)

  /** Final per-user state of a latest-per-key update stream: the
    * emission with the highest cumulative count (n_events grows
    * monotonically), selected with an aggregate — never trusting batch
    * boundaries, which the file source doesn't guarantee. */
  private def latestPerKey(updates: DataFrame): DataFrame =
    updates.groupBy("user_id")
      .agg(max_by(
        struct(col("last_us"), col("last_event_id"), col("last_type"), col("n_events")),
        struct(col("n_events"), col("last_us"), col("last_event_id"))).as("m"))
      .select(col("user_id"), col("m.last_us").as("last_us"),
        col("m.last_event_id").as("last_event_id"),
        col("m.last_type").as("last_type"), col("m.n_events").as("n_events"))
      .orderBy("user_id")

  /** Closed sessions of a sessionizer sink: the sentinel's own session
    * (negative user id) dropped; sessions have no stable id in append
    * output, so order by the full value tuple to make the oracle compare
    * row-order deterministic. */
  private def closedSessions(sink: DataFrame): DataFrame =
    sink.filter(col("user_id") >= 0)
      .select("user_id", "n_events", "duration_s")
      .orderBy("user_id", "n_events", "duration_s")

  /** Streaming hourly windowed counts, driven to completion in one batch.
    * Complete mode: every window is emitted regardless of the watermark,
    * so the result is the batch answer. */
  def streamHourlyEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = stageEvents(spark, dir)
    memorySink(spark, "graft_stream_hourly", "complete")(
      StreamingOps.hourlyCounts(events(spark, feed))).orderBy("hour")
  }

  /** Streaming hourly aggregation through a real parquet FILE SINK with a
    * checkpoint — the production exactly-once output path: the sink's
    * commit log (_spark_metadata) records exactly the files of committed
    * batches, and the batch read-back lists through it, so a crashed or
    * duplicated batch can never surface partial output. Append mode emits
    * a window only once the watermark passes its end, so the far-future
    * sentinel both flushes every real window and proves the emitted set
    * is final; the sentinel's own window stays open and is never
    * written. */
  def streamFileSinkEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = stageEvents(spark, dir)
    val outDir = TempDirs.create("graft_stream_sink_out_")
    checkpointed(StreamingOps.hourlyCounts(events(spark, feed))
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir), "graft_stream_sink_ck_",
      Some(Flush(dir, feed)))
    spark.read.parquet(outDir).orderBy("hour")
  }

  /** Hourly aggregation processed as MANY micro-batches — the shared
    * 4-file chronological feed ([[timeOrdered]]), one file per trigger,
    * so the aggregate state must accumulate across 4 genuine micro-batch
    * boundaries (the single-big-batch runs above never exercise
    * cross-batch state merge for the windowed agg). Complete mode: the
    * final emission is the batch answer iff every intermediate state
    * handoff was correct, whatever the split. */
  def streamIncrementalEq(spark: SparkSession, dir: String): DataFrame =
    memorySink(spark, "graft_stream_incr", "complete")(
      StreamingOps.hourlyCounts(events(spark, timeOrdered(spark, dir)))).orderBy("hour")

  /** Streaming dead-letter quarantine — json_quarantine's streaming
    * twin, the split every production ingest stream runs: a text feed
    * carrying deliberately-broken rows (every 7th) is parsed with
    * `from_json` (corrupt → NULL struct), and ONE `foreachBatch` routes
    * each micro-batch to two sinks — parsed rows to the silver parquet
    * table, unparseable payloads verbatim to a dead-letter table for
    * replay. Neither failure mode stops the stream nor drops a row: the
    * final accounting (parsed langs + the NULL-lang quarantine bucket)
    * must reconcile against the batch oracle over the ORIGINAL corpus,
    * so a swallowed row anywhere breaks the hash. Split + both writes
    * are stateless map work at any scale; the feed is staged across 3
    * files read one per trigger, so routing also survives real
    * micro-batch boundaries. */
  def streamQuarantineEq(spark: SparkSession, dir: String): DataFrame = {
    val root = TempDirs.create("graft_stream_quar_")
    Tables.documents(spark, dir)
      .select(when(col("doc_id") % 7 === 0,
          concat(lit("{broken!"), col("lang")))
        .otherwise(to_json(struct(col("doc_id"), col("lang"))))
        .as("value"))
      .repartition(3)
      .write.mode("overwrite").text(s"$root/feed")
    val parsed = spark.readStream
      .options(OneFilePerTrigger).text(s"$root/feed")
      .select(col("value"),
        from_json(col("value"),
          StructType.fromDDL("doc_id LONG, lang STRING")).as("j"))
    foreachBatch(parsed, "graft_stream_quar_ck_") { (batch, _) =>
      // Route on one row-local predicate, inverted for the good side —
      // two map-only writes, no set-op shuffle inside the hot loop.
      val isBad = col("j").isNull || col("j.doc_id").isNull
      batch.filter(isBad).select("value")
        .write.mode("append").text(s"$root/dead")
      batch.filter(!isBad).select("j.doc_id", "j.lang")
        .write.mode("append").parquet(s"$root/good")
    }
    val good = spark.read.parquet(s"$root/good")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), lit(0L).as("n_quarantined"),
        sum("doc_id").as("sum_ids"))
    val dead = spark.read.text(s"$root/dead")
      .agg(count(lit(1)).as("n"))
      .select(lit(null).cast("string").as("lang"), col("n"),
        col("n").as("n_quarantined"), lit(0L).as("sum_ids"))
    good.unionByName(dead).orderBy(asc_nulls_first("lang"))
  }

  /** Streaming hourly aggregation through `foreachBatch` — the
    * operational escape hatch for sinks Spark has no connector for
    * (OLTP upserts, search indexes, feature stores). Complete mode +
    * whole-result overwrite per micro-batch is the idempotence pattern:
    * a replayed batch id rewrites the same state, so at-least-once
    * delivery of batches yields exactly-once RESULTS without a commit
    * log. Checkpointed like any production stream. */
  def streamForeachBatchEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = stageEvents(spark, dir)
    val outDir = TempDirs.create("graft_stream_feb_out_")
    foreachBatch(StreamingOps.hourlyCounts(events(spark, feed)),
        "graft_stream_feb_ck_", "complete") { (batch, _) =>
      batch.write.mode("overwrite").parquet(outDir)
    }
    spark.read.parquet(outDir).orderBy("hour")
  }

  /** Streaming sessionization driven to a closed state: all events in the
    * initial batch, then a far-future sentinel file to advance the
    * watermark past every open session's timeout (the subsequent no-data
    * batch fires the event-time timeouts, emitting the final session per
    * user). The sentinel's own session is filtered out by its negative
    * user id. */
  def streamSessionizeEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = stageEvents(spark, dir)
    closedSessions(memorySink(spark, "graft_stream_sessions", "append",
        flush = Some(Flush(dir, feed)))(
      StreamingOps.sessionize(typedEvents(spark, feed))))
  }

  /** Streaming sessionization via Spark's NATIVE session_window
    * aggregation — the declarative/stateful pairing of batch
    * sessionWindowAgg, closing the loop with the imperative
    * flatMapGroupsWithState sessionizer: three batch/stream
    * implementations, one oracle. Gap-bounded windows merge inside the
    * stateful aggregate (state per key is the user's OPEN sessions, not
    * events); append mode emits a session only once the watermark proves
    * it closed, so the far-future sentinel flushes the last open
    * sessions and the emitted set is final. duration = window end −
    * start − gap exactly (session_window end = last event + gap). */
  def streamSessionWindowEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = stageEvents(spark, dir)
    val gapUs = 30L * 60 * 1000000
    val sink = memorySink(spark, "graft_stream_sesswin", "append",
        flush = Some(Flush(dir, feed))) {
      events(spark, feed).withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("n_events"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"))
    }
    closedSessions(sink.withColumn("duration_s",
      floor((col("end_us") - col("start_us") - gapUs) / lit(1000000L)).cast("long")))
  }

  /** Sessionization via transformWithState with explicit event-time
    * timers — driven exactly like streamSessionizeEq (drain, far-future
    * sentinel advances the watermark, the no-data batch fires the
    * registered per-key alarms), same oracle: the modern API must land
    * on the same sessions as flatMapGroupsWithState and the two batch
    * sessionizers. */
  def streamSessionizeTwsEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = stageEvents(spark, dir)
    closedSessions(memorySink(spark, "graft_stream_sess_tws", "append",
        rocksDb = true, flush = Some(Flush(dir, feed)))(
      StreamingOps.sessionizeTws(typedEvents(spark, feed))))
  }

  /** Streaming dedup across micro-batch boundaries: time-ordered 4-file
    * one-per-trigger replay (range-staged with ascending mtimes — a
    * RANDOM split loses keys whose only events land behind the advancing
    * watermark; measured: 749 vs 750 keys), so dropDuplicates state must
    * suppress keys first seen in EARLIER batches. Key-set equivalence
    * with batch DISTINCT, as in streamDedupEq. */
  def streamDedupIncrementalEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = timeOrdered(spark, dir)
    memorySink(spark, "graft_dedup_incr", "append")(
      StreamingOps.dedupStream(events(spark, feed)))
      .select("user_id", "event_type").orderBy("user_id", "event_type")
  }

  /** Sessionization across REAL micro-batch boundaries: events staged as
    * 4 time-range files (range partition i lands in part-0000i, so name
    * order = time order), mtimes set ascending so the file source's
    * (timestamp, path) ordering replays them chronologically at
    * `maxFilesPerTrigger = 1`. Sessions spanning adjacent ranges must
    * survive state handoff between batches, and the advancing watermark
    * closes stale sessions MID-STREAM via event-time timeout — the two
    * mechanisms the one-big-batch run cannot exercise. Ranges ascend, so
    * no cross-batch event is ever late; the sentinel flushes the last
    * open sessions. */
  def streamSessionizeIncrementalEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = timeOrdered(spark, dir)
    closedSessions(memorySink(spark, "graft_sess_incr", "append",
        flush = Some(Flush(dir, feed)))(
      StreamingOps.sessionize(typedEvents(spark, feed))))
  }

  /** Streaming first/last-touch attribution across REAL micro-batch
    * boundaries: the same chronological 4-file staging as the
    * incremental sessionizer, because an open session (and its pending
    * last-touch candidate) must survive state handoff between batches —
    * a purchase in file 3 can be attributed to a first touch from file
    * 1. No sentinel and no watermark: attribution emits at arrival (the
    * decision needs only state already in hand), so the drain is
    * complete when the files are. Output must equal the batch
    * session_attribution window query row for row — same oracle. */
  def streamAttributionEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = timeOrdered(spark, dir)
    memorySink(spark, "graft_attrib", "update", rocksDb = true)(
      StreamingOps.attributionTws(typedEvents(spark, feed)))
      .orderBy("user_id", "session_id", "purchase_id")
  }

  /** BOUNDED-STATE streaming dedup via dropDuplicatesWithinWatermark —
    * the 100 TB answer to dedupStream's unbounded dropDuplicates state
    * (which grows with the key universe forever): state is evicted once
    * the watermark passes an entry's event time + delay, so steady-state
    * memory is (keys arriving within the delay window), not (all keys
    * ever). The dedup key therefore must bound duplicate spread in event
    * time — here (user_id, event_type, hour): duplicates of a key
    * co-occur within one hour by construction, and the 2 h delay covers
    * any same-hour straddle of a micro-batch boundary, so eviction can
    * never let a duplicate through. Replayed as 4 chronological files,
    * one per trigger, so state genuinely evicts mid-stream while the
    * suppression guarantee holds — output equals batch DISTINCT. */
  def streamDedupWatermarkEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = timeOrdered(spark, dir)
    memorySink(spark, "graft_dedup_wm", "append") {
      events(spark, feed)
        .withColumn("hour", date_trunc("hour", col("ts")))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("user_id", "event_type", "hour")
        .select("user_id", "event_type", "hour")
    }.orderBy("user_id", "event_type", "hour")
  }

  /** Streaming EWMA of hourly counts — the sequential-state twin of
    * batch ewma_hourly: 4 chronological files replayed one per trigger,
    * so the per-type hour fold and its 7-hour deque must roll across
    * real micro-batch boundaries; the far-future sentinel advances the
    * watermark past every open hour's end and the registered event-time
    * timers flush the tails. The sentinel's own 'flush' key is dropped
    * from the result. Same oracle as batch ewma_hourly. */
  def streamEwmaEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = timeOrdered(spark, dir)
    memorySink(spark, "graft_stream_ewma", "append", rocksDb = true,
        flush = Some(Flush(dir, feed)))(
      StreamingOps.ewmaHourlyTws(typedEvents(spark, feed)))
      .filter(col("event_type") =!= "flush")
      .orderBy("event_type", "hour_ts")
  }

  /** Streaming exact dedup driven to completion: one row survives per
    * (user, type) key. WHICH row survives a single unsorted batch is not
    * deterministic (first-seen per partition), so the equivalence is on
    * the retained KEY SET — exactly one row per distinct key, matching
    * batch DISTINCT — not on the winning row's payload. */
  def streamDedupEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = stageEvents(spark, dir)
    memorySink(spark, "graft_stream_dedup", "append")(
      StreamingOps.dedupStream(events(spark, feed)))
      .select("user_id", "event_type").orderBy("user_id", "event_type")
  }

  /** Stream-stream inner join driven to completion: views and purchases
    * are two filtered readers over the SAME staged file stream (two
    * independent file sources in one query — the production shape for a
    * topic read twice). Inner matches emit in the batch where both rows
    * are present, so one drain suffices; no sentinel. */
  def streamJoinEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = stageEvents(spark, dir)
    def side(eventType: String): DataFrame =
      events(spark, feed).filter(col("event_type") === eventType)
    memorySink(spark, "graft_stream_join", "append")(
      StreamingOps.viewPurchaseJoin(side("view"), side("purchase")))
      .orderBy("user_id", "view_id", "purchase_id")
  }

  /** Stream-stream LEFT OUTER interval join driven to completion:
    * matched pairs emit like the inner join, but an unmatched view's
    * null row emits only once the watermark PROVES no purchase can still
    * arrive inside [v_ts, v_ts + 1 h] — so after the first drain,
    * far-future sentinels push the watermark past every open window and
    * later drains flush the null rows. The sentinels must be TYPED (one
    * 'view' + one 'purchase' row, user_id −1): Catalyst pushes the
    * event-type filters below the watermark operator, so each branch's
    * event-time stats see only rows of its own type and a neither-type
    * 'flush' row would never advance the query watermark (= min across
    * branches). Sentinel rows are excluded from the result by user_id.
    * Two sentinel batches, because outer-join null emission lags state
    * eviction by one micro-batch. */
  def streamLeftJoinEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = stageEvents(spark, dir)
    val evs = events(spark, feed).withWatermark("ts", "1 hour")
    def side(eventType: String): DataFrame =
      evs.filter(col("event_type") === eventType)
    memorySink(spark, "graft_stream_ljoin", "append",
        flush = Some(Flush(dir, feed, Seq("view", "purchase"), Seq(24L, 48L))))(
      StreamingOps.viewPurchaseLeftJoin(side("view"), side("purchase")))
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "view_id", "purchase_id")
  }

  /** Stream-static broadcast enrichment driven to completion: every
    * event joins its nation dimension row map-side (stateless — no
    * watermark, no state store), the bronze→silver enrichment shape.
    * One drain suffices; nothing is held back. */
  def streamEnrichEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = stageEvents(spark, dir)
    memorySink(spark, "graft_stream_enrich", "append") {
      StreamingOps.enrichWithDim(events(spark, feed),
          Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name")),
          "n_nationkey")
        .select(col("event_id"), col("user_id"), col("n_name"))
    }.orderBy("event_id")
  }

  /** mapGroupsWithState latest-per-key driven to completion. The memory
    * sink accumulates one update row per key per micro-batch; the final
    * state is selected by [[latestPerKey]]. */
  def streamLatestEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = stageEvents(spark, dir)
    latestPerKey(memorySink(spark, "graft_stream_latest", "update")(
      StreamingOps.latestPerUser(typedEvents(spark, feed))))
  }

  /** latest-per-key through the MODERN transformWithState API (Spark 4's
    * StatefulProcessor) — same drive and final-state selection as
    * streamLatestEq, same oracle, so the old and new arbitrary-state
    * APIs are proven equivalent on the same input. transformWithState
    * requires the RocksDB state store; the provider is scoped to this
    * query (set before start, restored after — queries bind their
    * provider at start). */
  def streamLatestTwsEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = stageEvents(spark, dir)
    latestPerKey(memorySink(spark, "graft_stream_latest_tws", "update", rocksDb = true)(
      StreamingOps.latestPerUserTws(typedEvents(spark, feed))))
  }

  /** Warm-started latest-per-key: the backfill→streaming migration
    * pattern end to end. The chronologically-staged events are split in
    * half; a BATCH aggregate computes per-user state over the first half
    * (the backfill job), the streaming query starts FROM that state via
    * StatefulProcessorWithInitialState and folds only the second half
    * (the live feed), and the serving view is sink ∪ backfill with a
    * per-key max_by — which must equal the batch answer over ALL events
    * (same oracle as the other latest twins). Proves initial-state
    * seeding composes with the fold: n_events accumulates from the
    * backfilled count, tie-breaks respect the backfilled argmax. */
  def streamLatestWarmStartEq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stageTimeOrdered(spark, dir, 4)
    val parts = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val liveDir = TempDirs.create("graft_warm_live_")
    parts.drop(2).foreach { f =>
      Files.copy(f.toPath, Paths.get(liveDir, f.getName),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val backfill = Tables.normalizeTs(
        spark.read.parquet(parts.take(2).map(_.getPath).toIndexedSeq: _*))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(max_by(struct(col("us"), col("event_id"), col("event_type")),
          struct(col("us"), col("event_id"))).as("m"),
        count(lit(1)).as("n"))
      .select(col("user_id"), col("m.us").as("last_us"),
        col("m.event_id").as("last_event_id"),
        col("m.event_type").as("last_type"), col("n"))
    val init = backfill.as[StreamingOps.LatestInit]
    val live = Feed(liveDir, spark.read.parquet(liveDir).schema, OneFilePerTrigger)
    latestPerKey(memorySink(spark, "graft_warm_latest", "update", rocksDb = true)(
        StreamingOps.latestPerUserWarmStart(typedEvents(spark, live), init))
      .unionByName(backfill.withColumnRenamed("n", "n_events")))
  }

  /** Per-user event-type histogram through MapState, replayed as 4
    * micro-batches so map entries accumulate across batch boundaries;
    * counts only grow, so the final histogram is the per-(user, type)
    * max over the update stream. Oracle: plain batch GROUP BY. */
  def streamTypeHistEq(spark: SparkSession, dir: String): DataFrame = {
    val feed = timeOrdered(spark, dir)
    memorySink(spark, "graft_type_hist", "update", rocksDb = true)(
      StreamingOps.typeHistPerUser(typedEvents(spark, feed)))
      .groupBy("user_id", "event_type").agg(max("n").as("n"))
      .orderBy("user_id", "event_type")
  }

  /** Per-user 3-most-recent events through ListState, replayed over 4
    * micro-batches; the serving row per key is the emission with the
    * highest n_seen (counts only grow). Oracle: batch top-3 window. */
  def streamRecent3Eq(spark: SparkSession, dir: String): DataFrame = {
    val feed = timeOrdered(spark, dir)
    memorySink(spark, "graft_recent3", "update", rocksDb = true)(
      StreamingOps.recent3PerUser(typedEvents(spark, feed)))
      .groupBy("user_id")
      .agg(max_by(struct(col("n_seen"), col("e1"), col("e2"), col("e3")),
        col("n_seen")).as("m"))
      .select(col("user_id"), col("m.n_seen").as("n_seen"),
        col("m.e1").as("e1"), col("m.e2").as("e2"), col("m.e3").as("e3"))
      .orderBy("user_id")
  }

  /** Streaming CDC upsert — the maintenance loop of a materialized table:
    * the batch cdc_apply's change feed (diffSnapshots of the two demo
    * order snapshots) replays one key-disjoint file per micro-batch, and
    * each batch MERGEs into a versioned keyed state — anti-join the
    * current state on the batch's touched keys, union the insert/update
    * rows, write state v(id+1). This is exactly Delta/Iceberg MERGE's
    * copy-on-write shape without a table format: reading v(id) and
    * overwriting v(id+1) keyed by the deterministic batchId makes a
    * retried batch rewrite the same version from the same input —
    * idempotent, so the sink is exactly-once without a commit log.
    *
    * At scale the state is partitioned by key range and a MERGE rewrites
    * only partitions the batch touches (the anti-join's broadcast side is
    * the batch's key set, which is the delta, not the corpus); the full
    * rewrite here is the sf-small demo of that shape. Final state must
    * equal the independently-recomputed target snapshot — the SAME oracle
    * as batch cdc_apply. */
  def streamCdcEq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.DataOps
    val (base, target) = DataOps.demoSnapshots(spark, dir)
    val diff = DataOps.diffSnapshots(base, target, "o_orderkey", "v")
      .select(col("o_orderkey"), col("change"), col("new_value"))
    // the feed as 3 key-disjoint files (pmod(key, 3)) replayed as 3
    // separate micro-batches
    val staged = stageSplit(diff, pmod(col("o_orderkey"), lit(3)), 0 until 3,
      "graft_cdc_feed_")
    val stateRoot = TempDirs.create("graft_cdc_state_")
    base.write.mode("overwrite").parquet(s"$stateRoot/v0")
    foreachBatch(replay(spark, staged), "graft_cdc_ck_") { (batch, id) =>
      val s = batch.sparkSession
      val cur = s.read.parquet(s"$stateRoot/v$id")
      val touched = batch.select("o_orderkey").distinct()
      val upserts = batch.filter(col("change").isin("insert", "update"))
        .select(col("o_orderkey"), col("new_value").as("v"))
      cur.join(broadcast(touched), Seq("o_orderkey"), "left_anti")
        .unionByName(upserts)
        .write.mode("overwrite").parquet(s"$stateRoot/v${id + 1}")
    }
    val last = new java.io.File(stateRoot).listFiles()
      .map(_.getName).filter(_.startsWith("v")).map(_.drop(1).toInt).max
    spark.read.parquet(s"$stateRoot/v$last").orderBy("o_orderkey")
  }

  /** Per-process streaming-ingested IVF roots, a [[graft.sources.Stages]]
    * entry like the batch incremental index in Similarity: the build +
    * 3-batch stream ingest runs once; re-entry (Verify, warm+measure
    * bench runs) is a pure read-back, and a half-ingested index is never
    * exposed because the stage registers only after the stream drains
    * cleanly. */
  private def ivfIngestRoot(spark: SparkSession, dir: String): String =
    graft.sources.Stages(spark, "streaming/ivf_ingest", dir, chain = "stream_ivf") {
      import graft.operators.Similarity
      val root = TempDirs.create("graft_stream_ivf_")
      val isNew = col("vec_id") % 10 === 0
      Similarity.ivfBuildIndexFrom(
        Similarity.emb(spark, dir).filter(!isNew), spark, root)
      // the delta as 3 id-ranged files → 3 real micro-batches
      val deltaDir = stageRangedFiles(Similarity.emb(spark, dir).filter(isNew),
        3, "graft_stream_ivf_delta_", "vec_id")
      val cents = spark.read.parquet(s"$root/centroids")
      foreachBatch(replay(spark, deltaDir), "graft_stream_ivf_ck_") { (batch, _) =>
        graft.sources.ArtifactRoots.boundedWrite(
            Similarity.assignCells(batch, cents))
          .mode("append").partitionBy("cell").parquet(s"$root/lists")
      }
      root
    }

  /** Streaming ANN ingest — the streaming twin of batch ivf_incremental,
    * closing the last batch/streaming pairing gap in the similarity
    * family: the resident corpus (vec_id ≢ 0 mod 10) builds a PRIVATE
    * copy of the IVF index once, then the SAME delta (vec_id ≡ 0 mod 10)
    * arrives as a 3-file stream and each micro-batch is assigned against
    * the STORED centroids (map-only over the batch, broadcast K-row
    * centroid table) and parquet-APPENDED to the cell-partitioned
    * inverted lists inside a checkpointed foreachBatch — O(|batch|) per
    * trigger, existing list files never read or rewritten: the
    * steady-state ingest loop of a production vector store. Read-back
    * and oracle are ivf_incremental's: append-time assignment under the
    * stored centroids must equal a from-scratch assignment of the full
    * corpus, REGARDLESS of how the delta was micro-batched. */
  def streamIvfIngestEq(spark: SparkSession, dir: String): DataFrame = {
    val root = ivfIngestRoot(spark, dir)
    spark.read.parquet(s"$root/lists")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        (col("vec_id") % 10 === 0).cast("int").as("is_new"))
      .orderBy("vec_id")
  }

  /** Streaming BPE encode — the tokenizer's inference half run as a
    * stream, closing the last batch/streaming pairing gap in the text
    * family: the PERSISTED merge table (the parquet artifact
    * `TextAnalysis.bpeIndexRoot` writes; trained once on the full corpus)
    * is loaded as driver literals, then the document corpus arrives as 3
    * doc_id-ranged files (one per micro-batch at maxFilesPerTrigger=1)
    * and each batch is encoded independently — per-doc fertility rows
    * depend only on the doc's own words and the shipped merge file, so
    * batch-wise encode + parquet append is value-identical to the batch
    * corpus pass, and the SAME oracle as bpe_encode gates the result.
    * This is the production shape: a tokenizer service holds the merge
    * artifact and encodes arriving documents with no corpus-wide state. */
  def streamBpeEncodeEq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val merges = TextAnalysis.bpeMergeTable(spark, dir)
    val docsDir = stageDocsRanged(spark, dir, 3, Seq("doc_id", "text"))
    val outDir = TempDirs.create("graft_stream_bpe_out_")
    foreachBatch(replay(spark, docsDir), "graft_stream_bpe_ck_") { (batch, _) =>
      TextAnalysis.bpeEncodeDocs(batch, merges)
        .write.mode("append").parquet(outDir)
    }
    spark.read.parquet(outDir).orderBy("doc_id")
  }

  /** Streaming quality gate — the curation gate run as a stream under a
    * corpus-trained SPEC, the third artifact-reuse pairing (after the IVF
    * index and the BPE merge table): the batch side trains the gate spec
    * on the full corpus — per-lang threshold scores plus the EXPLICIT
    * roster of threshold-tied admitted docs — and the stream scores each
    * arriving micro-batch with the identical row-local arithmetic and
    * applies the spec as a pure predicate (quality > qt OR doc_id ∈
    * roster). Tie resolution is global by construction (baked into the
    * shipped roster), so no batch boundary can flip an admission — which
    * is exactly why a rank-within-batch formulation would be WRONG here
    * and the spec artifact is the production shape. The spec is RELOADED
    * from the persisted parquet artifact (`TextAnalysis.gateSpecRoot`,
    * same atomic-build protocol as the BPE/IVF artifacts) — training and
    * serving communicate only through the shipped files. Output must
    * equal batch quality_gate row for row; same oracle. */
  def streamQualityGateEq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val specRoot = TextAnalysis.gateSpecRoot(spark, dir)
    // the shipped spec: a per-lang threshold table (≤ #langs rows) and the
    // tie roster (≤ Σ per-lang tie-group), reloaded as driver literals
    val qtRows = spark.read.parquet(s"$specRoot/thresholds")
      .select("lang", "qt").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val roster = spark.read.parquet(s"$specRoot/roster")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val docsDir = stageDocsRanged(spark, dir, 3, Seq("doc_id", "lang", "text"))
    val outDir = TempDirs.create("graft_stream_qg_out_")
    // gate predicate as a pure codegen'd Column over spec literals: the
    // per-lang threshold folds into a CASE chain, the roster into an IN
    // list — no join, no lambda, map-only per batch
    val qtExpr = qtRows.foldLeft(lit(Double.MaxValue)) { case (acc, (l, t)) =>
      when(col("lang") === lit(l), lit(t)).otherwise(acc)
    }
    foreachBatch(replay(spark, docsDir), "graft_stream_qg_ck_") { (batch, _) =>
      TextAnalysis.scoreDocsFrame(batch)
        .select("doc_id", "lang", "quality")
        .filter(col("quality") > qtExpr ||
          col("doc_id").isInCollection(roster))
        .write.mode("append").parquet(outDir)
    }
    spark.read.parquet(outDir).orderBy("doc_id")
  }

  /** Streaming DSIR scoring — the importance-resampling family's
    * artifact-reuse pairing: the batch side fits the hashed-n-gram
    * bucket models once and ships the per-bucket log-likelihood-ratio
    * table as a persisted parquet artifact (`Dsir.modelRoot`, atomic
    * build protocol); the stream reloads it as a dense lr-by-bucket
    * array (256 longs — driver literals, no broadcast needed) and
    * scores each arriving micro-batch ROW-LOCALLY with
    * `Dsir.scoreFrame`: weight = fold over the doc's own grams of
    * lr[bucket(gram)], an INDEPENDENT derivation of the batch side's
    * Σ_b c_b·lr_b aggregate dot product. Per-doc output depends only on
    * the doc and the shipped model, so batch-wise append is
    * value-identical to the corpus pass — the SAME oracle as batch
    * dsir_weights gates the result. This is the production ingest
    * shape: fit the selection model on the resident corpus, score new
    * documents at the door. */
  def streamDsirWeightsEq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dsir
    val root = Dsir.modelRoot(spark, dir)
    // the artifact's own row count IS the model width — a 10k-bucket
    // model scores at 10k; the serving side never consults session conf
    val lrRows = spark.read.parquet(s"$root/lr")
      .select("bucket", "lr_nano").collect()
    val lrByBucket = Array.ofDim[Long](lrRows.length)
    lrRows.foreach(r => lrByBucket(r.getLong(0).toInt) = r.getLong(1))
    val docsDir = stageDocsRanged(spark, dir, 3, Seq("doc_id", "lang", "text"))
    val outDir = TempDirs.create("graft_stream_dsir_out_")
    foreachBatch(replay(spark, docsDir), "graft_stream_dsir_ck_") { (batch, _) =>
      Dsir.scoreFrame(batch, lrByBucket)
        .write.mode("append").parquet(outDir)
    }
    spark.read.parquet(outDir).orderBy("doc_id")
  }

  /** Streaming decontamination — the fourth artifact-reuse pairing
    * (after IVF ingest, BPE encode, quality gate), closing the batch/
    * streaming gap for the decontamination family: the benchmark split's
    * distinct char-8-gram set is a PERSISTED parquet artifact
    * (`Dedup.benchGramRoot`, same atomic-build protocol), reloaded here
    * as a sorted array plus a Bloom sketch built over it, both broadcast
    * once; the training corpus then arrives as 3 doc_id-ranged files and
    * each micro-batch is screened entirely ROW-LOCALLY — per doc, a
    * Bloom-probe count and an independent binary-search exact count
    * against the shipped gram set (independent so the no-false-negative
    * column is a live check, not a tautology), no join, no shuffle, no
    * state store. This is the production
    * ingest shape: the benchmark registry ships its sketch, arriving
    * documents are screened at the door. Per-doc results depend only on
    * the doc's own grams and the shipped artifact, so batch-wise append
    * is value-identical to the batch pass — the SAME oracle as
    * decontaminate_bloom gates the result. */
  def streamDecontaminateEq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val benchGrams = spark.read.parquet(s"${Dedup.benchGramRoot(spark, dir)}/grams")
      .collect().map(_.getLong(0)).sorted
    val bf = org.apache.spark.util.sketch.BloomFilter.create(
      math.max(benchGrams.length.toLong, 10000L), 0.01)
    benchGrams.foreach(bf.putLong)
    val bgB = spark.sparkContext.broadcast(benchGrams)
    val bfB = spark.sparkContext.broadcast(bf)
    val docsDir = stageDocsRanged(spark, dir, 3, Seq("doc_id", "text"))
    val outDir = TempDirs.create("graft_stream_decon_out_")
    foreachBatch(replay(spark, docsDir), "graft_stream_decon_ck_") { (batch, _) =>
      val session = batch.sparkSession
      import session.implicits._
      batch.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          val bg = bgB.value
          val f = bfB.value
          it.map { case (id, text) =>
            var shared = 0L
            var flagged = 0L
            Dedup.gramSet8(text).foreach { g =>
              // both counts independently, like the batch pass: the
              // exact binary-search count never consults the sketch,
              // so `flagged >= shared` is a REAL per-doc check of the
              // Bloom's no-false-negative guarantee — gating the
              // exact check behind the Bloom probe would make the
              // comparison true by construction and unable to fire
              if (f.mightContainLong(g)) flagged += 1
              if (java.util.Arrays.binarySearch(bg, g) >= 0) shared += 1
            }
            (id, shared, if (shared >= 5) 1 else 0, flagged >= shared)
          }
        }
        .toDF("doc_id", "n_shared", "contaminated", "no_false_negative")
        .write.mode("append").parquet(outDir)
    }
    spark.read.parquet(outDir).orderBy("doc_id")
  }

  /** Streaming BM25 model maintenance — the fifth batch/stream pairing,
    * the serving half of `bm25_model_refresh`: the resident corpus's
    * lexical model (per-word df + the (N, TL) scalars) is materialized
    * once as version-0 state, then the delta (doc_id ≡ 0 mod 10)
    * arrives as micro-batches and each trigger folds the BATCH's model
    * increment into a new state version — a vocabulary-sized merge by
    * addition, valid because batch doc sets are disjoint, so the final
    * version must equal a from-scratch retrain REGARDLESS of how the
    * delta was micro-batched. Per-trigger cost is O(|batch| + vocab),
    * never a corpus re-scan — the index-freshness loop of a production
    * retrieval stack, and the same versioned-state shape as the CDC
    * twin. Gated by bm25_model_refresh's full-retrain oracle. */
  def streamBm25RefreshEq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val stateRoot = TempDirs.create("graft_stream_bm25_")
    def writeModel(df: DataFrame, sc: DataFrame, v: Long): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$stateRoot/v$v/df")
      sc.coalesce(1).write.mode("overwrite").parquet(s"$stateRoot/v$v/sc")
    }
    val base = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
    val (dfB, scB) = TextAnalysis.bm25ModelParts(base)
    writeModel(dfB, scB, 0)
    val ver = new java.util.concurrent.atomic.AtomicLong(0)
    val docsDir = stageDocsRanged(spark, dir, 3, Seq("doc_id", "text"))
    foreachBatch(replay(spark, docsDir), "graft_stream_bm25_ck_") { (batch, batchId) =>
      val session = batch.sparkSession
      // The state version is DERIVED from the batchId (v = batchId+1,
      // prior = batchId), never from a driver-side counter: foreachBatch
      // is at-least-once, and a counter incremented after the merge
      // would let a retried batch fold its delta into a fresh version —
      // double-counting df/N/TL. Keyed by batchId, a retry re-reads the
      // same prior version (which its own earlier attempt never wrote)
      // and OVERWRITES the same output version: idempotent by layout.
      val cur = batchId
      val (dfI, scI) = TextAnalysis.bm25ModelParts(
        batch.filter(col("doc_id") % 10 === 0).select("doc_id", "text"))
      val dfM = session.read.parquet(s"$stateRoot/v$cur/df")
        .unionByName(dfI).groupBy("word").agg(sum("df").as("df"))
      val scM = session.read.parquet(s"$stateRoot/v$cur/sc")
        .crossJoin(scI.select(col("n").as("ni"), col("tl").as("tli")))
        .select((col("n") + col("ni")).as("n"), (col("tl") + col("tli")).as("tl"))
      writeModel(dfM, scM, cur + 1)
      ver.getAndUpdate(v => math.max(v, cur + 1))
    }
    val last = ver.get()
    spark.read.parquet(s"$stateRoot/v$last/df")
      .crossJoin(broadcast(spark.read.parquet(s"$stateRoot/v$last/sc")
        .select(col("n").as("n_docs"), col("tl").as("total_tokens"))))
      .select("word", "df", "n_docs", "total_tokens")
      .orderBy("word")
  }

  /** Streaming retrieval serving — the sixth batch/stream pairing, and
    * the QUERY-side twin (every earlier twin streamed the corpus; here
    * the corpus is the served artifact and the QUERIES stream): the
    * panel's 10 query docs arrive as 3 doc_id-ranged micro-batches, and
    * each trigger is answered entirely from the persisted chunk-serving
    * index (`TextAnalysis.chunkIndexRoot` — bucketed postings + BM25
    * model, atomic-build/marker protocol): the batch's docs are scored
    * against the SHIPPED model (tf/dl row-local, df from the vocabulary
    * table, the same integer kernel by construction —
    * bm25ScoreAgainstModel), each query's top-3 terms then probe the
    * postings through a broadcast join keyed on (wb, word), so the
    * corpus-sized grid is read only in the ≤3 buckets the terms hash to
    * — never scanned whole — and the shared diversity cut (per-doc cap,
    * global top-5, both TopKAggregator folds) finishes the answer.
    * Per-query results depend only on the query's own text and the
    * shipped artifacts, so batch-wise append is value-identical to the
    * batch pass: the SAME oracle as chunk_retrieval gates the result. */
  def streamChunkRetrievalEq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val root = TextAnalysis.chunkIndexRoot(spark, dir)
    val postings = spark.read.parquet(s"$root/postings")
    val modelDf = spark.read.parquet(s"$root/model_df")
    val scRow = spark.read.parquet(s"$root/model_sc").head()
    val (n, tl, maxdl) = (scRow.getAs[Long]("n"), scRow.getAs[Long]("tl"),
      scRow.getAs[Long]("maxdl"))
    // the query panel as 3 id-ranged files → 3 real micro-batches
    val panelDir = stagedFor(dir, "panel:chunk") {
      stageRangedFiles(Tables.documents(spark, dir)
          .filter(col("doc_id") < 10).select("doc_id", "text"),
        3, "graft_stream_chunk_panel_", "doc_id")
    }
    val outDir = TempDirs.create("graft_stream_chunk_out_")
    foreachBatch(replay(spark, panelDir), "graft_stream_chunk_ck_") { (batch, batchId) =>
      val wQt = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(desc("bm25"), asc("word"))
      val qterms = TextAnalysis.bm25ScoreAgainstModel(
          batch.select("doc_id", "text"), modelDf, n, tl, maxdl)
        .withColumn("rn", row_number().over(wQt))
        .filter(col("rn") <= 3)
        .select(col("doc_id").as("qid"), col("word"),
          expr("bm25 div 1000").as("w"))
        .withColumn("wb", TextAnalysis.wordBucket(col("word")))
      val scored = postings.join(broadcast(qterms), Seq("wb", "word"))
        .filter(col("doc_id") =!= col("qid"))
        .groupBy("qid", "doc_id", "chunk_id")
        .agg(sum(col("cnt") * col("w")).as("score"))
      // per-batch OVERWRITE keyed by the deterministic batchId (the
      // streamCdcEq discipline): foreachBatch is at-least-once, and a
      // plain append would duplicate a retried batch's answers —
      // rewriting b<batchId> makes retries idempotent. Dir name
      // deliberately not `batch=<id>`: partition discovery would
      // inject a spurious column; recursiveFileLookup disables it.
      TextAnalysis.chunkDiversityCut(scored)
        .write.mode("overwrite").parquet(s"$outDir/b$batchId")
    }
    spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .orderBy("qid", "chunk_rank")
  }

  /** Streaming hybrid retrieval serving — the full RAG serving loop as
    * a stream, the seventh batch/stream pairing and the second
    * query-side twin: query panels (text + embedding vector per query
    * doc) arrive as 3 micro-batches and each trigger is answered
    * end-to-end from three persisted artifacts —
    *
    *  - the IVF index (`Similarity.ivfServeTopK`: arriving vectors rank
    *    the stored centroids via a broadcast K-row table, then the
    *    DPP-pruned inverted-list top-10 — the production ANN leg),
    *  - the BM25 model (chunkidx's `model_df`/`model_sc`: the arriving
    *    doc's top-3 terms derived by the shared integer kernel), and
    *  - the lexical postings (`lexidx`: per-(doc, word) BM25 bucketed
    *    by word hash — the batch's terms read ≤3 of 64 partitions of a
    *    corpus-sized index, never the whole thing),
    *
    * fused by the SAME `lexTopK` + `rrfFuse` code the batch hybrids
    * use, per-batch output OVERWRITTEN keyed by batchId
    * (retry-idempotent). Per-query answers depend only on the query's
    * own text/vector and the shipped artifacts, so micro-batching is
    * value-invisible: gated by hybrid_rrf_ivf's exact oracle. */
  def streamHybridRrfEq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Similarity, TextAnalysis}
    val chunkRoot = TextAnalysis.chunkIndexRoot(spark, dir)
    val lexRoot = TextAnalysis.lexIndexRoot(spark, dir)
    val ivfRoot = Similarity.ivfWarmIndex(spark, dir)
    val modelDf = spark.read.parquet(s"$chunkRoot/model_df")
    val scRow = spark.read.parquet(s"$chunkRoot/model_sc").head()
    val (n, tl, maxdl) = (scRow.getAs[Long]("n"), scRow.getAs[Long]("tl"),
      scRow.getAs[Long]("maxdl"))
    val lexPost = spark.read.parquet(s"$lexRoot/postings")
    // FULL OUTER union of the two query domains: the batch oracle fuses
    // the legs full_outer, so a query doc with text but no embedding
    // row (or vice versa) still gets a one-leg fused ranking — an
    // inner-joined panel would silently drop it from the stream while
    // the oracle answers it (the current fixture aligns the two 1:1,
    // which would mask the divergence until a generator change)
    val panel = Tables.documents(spark, dir)
      .filter(col("doc_id") < 10).select("doc_id", "text")
      .join(Similarity.emb(spark, dir).filter(col("vec_id") < 10)
        .select(col("vec_id").as("doc_id"), col("v")), Seq("doc_id"), "full_outer")
    val panelDir = stagedFor(dir, "panel:hybrid") {
      stageRangedFiles(panel, 3, "graft_stream_hybrid_panel_", "doc_id")
    }
    val outDir = TempDirs.create("graft_stream_hybrid_out_")
    foreachBatch(replay(spark, panelDir), "graft_stream_hybrid_ck_") { (batch, batchId) =>
      val depth = 10
      val wQt = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(desc("bm25"), asc("word"))
      val qterms = TextAnalysis.bm25ScoreAgainstModel(
          batch.filter(col("text").isNotNull).select("doc_id", "text"),
          modelDf, n, tl, maxdl)
        .withColumn("rn", row_number().over(wQt))
        .filter(col("rn") <= 3)
        .select(col("doc_id").as("qid"), col("word"))
        .withColumn("wb", TextAnalysis.wordBucket(col("word")))
      val lex = Similarity.lexTopK(
        lexPost.join(broadcast(qterms), Seq("wb", "word"))
          .filter(col("doc_id") =!= col("qid")), depth)
      val ann = Similarity.ivfServeTopK(spark, ivfRoot,
          batch.filter(col("v").isNotNull)
            .select(col("doc_id").as("qid"), col("v").as("qv")),
          depth, admitted = None)
        .select(col("qid"), col("cand_id"), col("rn").as("ar"))
      Similarity.rrfFuse(ann, lex)
        .write.mode("overwrite").parquet(s"$outDir/b$batchId")
    }
    spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .orderBy("qid", "rrf_rank")
  }

  /** Streaming position-level dedup screen — substring_dedup_incr run
    * as the ingest service it models: arriving documents (the
    * doc_id ≡ 0 mod 10 split) stream in five deterministic ntile
    * micro-batches, and each trigger is screened by the ONE kernel the
    * batch row uses (`Dedup.screenArrivalsAgainst`) against the
    * persisted resident window-hash index UNIONED with the versioned
    * arrival-hash state — so boilerplate entering across triggers is
    * still caught once its first carrier has arrived. State is the
    * arrival window-hash set as per-trigger DELTA dirs keyed by batchId
    * (d<batchId> overwrites on retry), per-trigger output overwritten
    * at b<batchId>: at-least-once safe end to end, O(batch) state write
    * per trigger.
    *
    * Stream-vs-batch semantics, stated honestly: the batch row judges
    * recurrence over the WHOLE arrival split at once, the stream can
    * only know arrivals up to the current trigger — an arrival-only
    * duplicate pair split across triggers is flagged on the LATER
    * carrier only (first-wins, the dedup_incremental discipline). The
    * oracle encodes exactly that trigger-aware rule (b.trg <= a.trg
    * over the same ntile(5) assignment staged here). On the current
    * corpus every recurring arrival window is also resident-backed, so
    * oracle-level divergence from the batch rule is fixture-vacuous;
    * the divergence cases are therefore pinned SYNTHETICALLY in
    * StreamingSpec (same-trigger pair → both flagged, cross-trigger →
    * later only) so a generator change cannot silently mask a fork.
    *
    * Scale shape per trigger: delta-sized hashing + island merge, one
    * broadcast-probe of the index/state hash columns — the corpus text
    * is never re-read; state grows with DISTINCT arrival hashes only. */
  def streamSubstringDedupEq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val winRoot = Dedup.winIndexRoot(spark, dir)
    val docsDir = stageSubstrArrivals(spark, dir)
    // arrival-hash state as per-trigger DELTA dirs folded into a
    // snapshot every K triggers (DeltaState): writing d<batchId>
    // (overwrite — retry-idempotent) costs O(batch) per trigger, the
    // periodic fold amortizes to O(state/K) per trigger, and a trigger
    // READS O(snapshot + K) dirs regardless of stream age — not the
    // O(triggers) union growth of unfolded deltas. Duplicate hashes
    // across deltas are harmless (the screen kernel distincts its probe
    // result); the fold distincts to keep the snapshot set-sized.
    val stateRoot = TempDirs.create("graft_stream_substr_state_")
    val outDir = TempDirs.create("graft_stream_substr_out_")
    foreachBatch(replay(spark, docsDir), "graft_stream_substr_ck_") { (batch, batchId) =>
      val session = batch.sparkSession
      val statePaths = DeltaState.priorPaths(session, stateRoot, "d",
        batchId, DeltaState.FoldK, fold = _.distinct())
      val prior =
        if (statePaths.isEmpty) session.read.parquet(s"$winRoot/hashes")
        else session.read.parquet(s"$winRoot/hashes")
          .unionByName(session.read.parquet(statePaths: _*))
      Dedup.screenArrivalsAgainst(batch, prior)
        .write.mode("overwrite").parquet(s"$outDir/b$batchId")
      Dedup.windowHashSet(batch)
        .write.mode("overwrite").parquet(s"$stateRoot/d$batchId")
    }
    spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .orderBy("doc_id")
  }

  /** Streaming exact set-similarity screen — dedup_setsim_incr run as
    * the ingest service it models: the arriving split streams in the
    * same five ntile micro-batches the substring twin uses, and each
    * trigger runs the ONE candidate+verify tail the batch row uses
    * (`Dedup.setsimScreenWith`) against the persisted setsimidx prefix
    * postings + gram sets UNIONED with the per-trigger arrival state —
    * so a near-dup pair split across triggers is caught when its later
    * carrier arrives. Unlike the substring twin there is NO
    * trigger-aware semantics fork: the output is pairwise and each
    * qualifying pair is emitted exactly once (within-batch pairs by the
    * self-join, cross-trigger and vs-resident pairs by the prefix probe
    * when the later doc arrives), with trigger-independent values — so
    * the accumulated union equals the batch row bit-exactly and the
    * oracle IS dedup_setsim_incr's.
    *
    * State per trigger: the batch's gram sets (g<batchId>) and prefix
    * postings (p<batchId>) as delta dirs, overwritten by batchId —
    * retry-idempotent, O(batch) written per trigger; ranking uses the
    * resident df only (unseen grams rank cnt-0), so a doc's prefix is
    * IDENTICAL whichever trigger carries it — the Lemma-1 total order
    * never shifts with arrival history. The screen reads the state back
    * rather than recomputing lineage, and the one persisted frame per
    * trigger (the gram barrier, see Dedup.arrivalPrefix) is
    * unpersisted before the trigger returns. */
  def streamSetsimDedupEq(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val root = Dedup.setsimIndexRoot(spark, dir)
    val docsDir = stageSubstrArrivals(spark, dir)
    val stateRoot = TempDirs.create("graft_stream_setsim_state_")
    val outDir = TempDirs.create("graft_stream_setsim_out_")
    foreachBatch(replay(spark, docsDir), "graft_stream_setsim_ck_") { (batch, batchId) =>
      val session = batch.sparkSession
      val df = session.read.parquet(s"$root/df")
      val ag = Dedup.gramSetsOf(batch.select("doc_id", "text")).persist()
      ag.write.mode("overwrite").parquet(s"$stateRoot/g$batchId")
      Dedup.arrivalPrefix(ag, df)
        .write.mode("overwrite").parquet(s"$stateRoot/p$batchId")
      ag.unpersist()
      val agW = session.read.parquet(s"$stateRoot/g$batchId")
      val apW = session.read.parquet(s"$stateRoot/p$batchId")
      // both state families fold every K triggers (DeltaState): a
      // trigger reads O(snapshot + K) state dirs, never O(triggers)
      val priorP = DeltaState.priorPaths(session, stateRoot, "p", batchId, DeltaState.FoldK)
      val priorG = DeltaState.priorPaths(session, stateRoot, "g", batchId, DeltaState.FoldK)
      val prefixAll =
        if (priorP.isEmpty) session.read.parquet(s"$root/prefix")
        else session.read.parquet(s"$root/prefix")
          .unionByName(session.read.parquet(priorP: _*))
      val gramsAll =
        if (priorG.isEmpty) session.read.parquet(s"$root/grams")
        else session.read.parquet(s"$root/grams")
          .unionByName(session.read.parquet(priorG: _*))
      Dedup.setsimScreenWith(agW, apW, prefixAll, gramsAll)
        .write.mode("overwrite").parquet(s"$outDir/b$batchId")
    }
    spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .orderBy("id1", "id2")
  }

  /** Scope the state-partition count to the bridge call: stateful
    * operators bind `spark.sql.shuffle.partitions` into the checkpoint at
    * query start, and each state partition is a live store instance
    * (RocksDB database / HDFS-backed map) that pays open + commit +
    * snapshot I/O EVERY micro-batch. The session's shuffle partitions
    * (one per core) are sized for corpus shuffles, not for the bridge
    * feeds' key cardinality, so the bridges pin [[StateParts]] = 4 for
    * the duration of the drive (results are partitioning-invariant and
    * every bridge sorts its output; BENCH_r16_probe_streamcost A/B'd 8
    * vs 4 across the family). At 100 TB state partitions follow key
    * volume and executor count instead, never the session default.
    * Scoping is exact for the streaming side because every bridge drains
    * its query eagerly before returning; the returned DataFrame is a
    * batch read of the sink and executes under the caller's own
    * partitions. The save/set/restore mutates session-global conf, so
    * all bridge drives serialize on [[bridgeLock]]: concurrent callers
    * would otherwise race the restore and could reinstate a stale value.
    * The monitor is reentrant, so a nested scoped call on the same
    * thread is safe (its restore writes back the outer pin). */
  private def scoped[T](f: (SparkSession, String) => T): (SparkSession, String) => T =
    (spark, dir) => bridgeLock.synchronized {
      withConf(spark, "spark.sql.shuffle.partitions", StateParts.toString)(f(spark, dir))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_cdc_eq" -> scoped(streamCdcEq),
    "stream_ivf_ingest_eq" -> scoped(streamIvfIngestEq),
    "stream_latest_eq" -> scoped(streamLatestEq),
    "stream_latest_tws_eq" -> scoped(streamLatestTwsEq),
    "stream_latest_warm_eq" -> scoped(streamLatestWarmStartEq),
    "stream_foreachbatch_eq" -> scoped(streamForeachBatchEq),
    "stream_incremental_eq" -> scoped(streamIncrementalEq),
    "stream_hourly_eq" -> scoped(streamHourlyEq),
    "stream_file_sink_eq" -> scoped(streamFileSinkEq),
    "stream_sessionize_eq" -> scoped(streamSessionizeEq),
    "stream_session_window_eq" -> scoped(streamSessionWindowEq),
    "stream_sessionize_tws_eq" -> scoped(streamSessionizeTwsEq),
    "stream_sessionize_incr_eq" -> scoped(streamSessionizeIncrementalEq),
    "stream_attribution_eq" -> scoped(streamAttributionEq),
    "stream_dedup_eq" -> scoped(streamDedupEq),
    "stream_enrich_eq" -> scoped(streamEnrichEq),
    "stream_dedup_incr_eq" -> scoped(streamDedupIncrementalEq),
    "stream_dedup_wm_eq" -> scoped(streamDedupWatermarkEq),
    "stream_ewma_eq" -> scoped(streamEwmaEq),
    "stream_type_hist_eq" -> scoped(streamTypeHistEq),
    "stream_recent3_eq" -> scoped(streamRecent3Eq),
    "stream_join_eq" -> scoped(streamJoinEq),
    "stream_left_join_eq" -> scoped(streamLeftJoinEq),
    "stream_quarantine_eq" -> scoped(streamQuarantineEq),
    "stream_bpe_encode_eq" -> scoped(streamBpeEncodeEq),
    "stream_quality_gate_eq" -> scoped(streamQualityGateEq),
    "stream_dsir_weights_eq" -> scoped(streamDsirWeightsEq),
    "stream_decontaminate_eq" -> scoped(streamDecontaminateEq),
    "stream_bm25_refresh_eq" -> scoped(streamBm25RefreshEq),
    "stream_chunk_retrieval_eq" -> scoped(streamChunkRetrievalEq),
    "stream_hybrid_rrf_eq" -> scoped(streamHybridRrfEq),
    "stream_substring_dedup_eq" -> scoped(streamSubstringDedupEq),
    "stream_setsim_dedup_eq" -> scoped(streamSetsimDedupEq),
  )

  // Oracle SQL shared by several twins (one implementation family, one
  // oracle): each string once.
  private val hourlySql =
    ("SELECT date_trunc('hour', ts) AS hour, count(*) AS n, " +
      "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
      "FROM events GROUP BY 1 ORDER BY 1")
  private val distinctTypesSql =
    "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type"
  private val latestSql =
    ("SELECT user_id, last_us, last_event_id, last_type, n_events FROM " +
      "(SELECT user_id, epoch_us(ts) AS last_us, event_id AS last_event_id, " +
      "event_type AS last_type, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn, " +
      "count(*) OVER (PARTITION BY user_id) AS n_events FROM events) " +
      "WHERE rn = 1 ORDER BY user_id")
  private val sessionsSql =
    ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
      "flagged AS (SELECT user_id, event_id, us, " +
      "CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 30*60*1000000 THEN 1 ELSE 0 END AS is_new " +
      "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
      "sessions AS (SELECT user_id, us, " +
      "CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id " +
      "FROM flagged) " +
      "SELECT user_id, count(*) AS n_events, " +
      "CAST(floor((max(us) - min(us)) / 1000000) AS BIGINT) AS duration_s " +
      "FROM sessions GROUP BY user_id, session_id " +
      "ORDER BY user_id, n_events, duration_s")

  // Oracles are the batch twins' SQL (graft.operators.Analytics): streaming
  // and batch must produce the same answer over the same finite input.
  val oracle: Map[String, String] = Map(
    // streaming ingest twin: IDENTICAL oracle to batch ivf_incremental —
    // micro-batched appends must land exactly where a rebuild under the
    // same centroids would put every vector
    "stream_ivf_ingest_eq" -> graft.operators.Similarity.oracle("ivf_incremental"),
    // identical to batch bpe_encode: per-doc fertility under the SAME
    // persisted merge artifact, encoded per micro-batch instead of in
    // one corpus pass
    "stream_bpe_encode_eq" -> graft.operators.TextAnalysis.oracle("bpe_encode"),
    // identical to batch quality_gate: corpus-trained spec (thresholds +
    // tie roster) applied per micro-batch must admit the same doc set
    "stream_quality_gate_eq" -> graft.operators.TextAnalysis.oracle("quality_gate"),
    // identical to batch dsir_weights: per-doc importance weight under
    // the SAME persisted bucket-model artifact, scored per micro-batch
    // by a gram-fold instead of the corpus-wide aggregate dot product
    "stream_dsir_weights_eq" -> graft.operators.Dsir.oracle("dsir_weights"),
    // identical to batch decontaminate_bloom: per-doc screen-then-verify
    // against the persisted benchmark-gram artifact, applied per
    // micro-batch instead of in one corpus join
    "stream_decontaminate_eq" -> graft.operators.Dedup.oracle("decontaminate_bloom"),
    // identical to batch bm25_model_refresh: per-trigger mergeable-model
    // folds must land on the exact full-retrain model
    "stream_bm25_refresh_eq" -> graft.operators.TextAnalysis.oracle("bm25_model_refresh"),
    // identical to batch chunk_retrieval: query panels answered per
    // micro-batch from the persisted postings + BM25 model artifacts
    // must produce the exact batch ranking
    "stream_chunk_retrieval_eq" -> graft.operators.TextAnalysis.oracle("chunk_retrieval"),
    // identical to batch hybrid_rrf_ivf: per-batch serving from the
    // persisted IVF index + BM25 model + lexical postings must land on
    // the exact batch fusion
    "stream_hybrid_rrf_eq" -> graft.operators.Similarity.oracle("hybrid_rrf_ivf"),
    // identical to batch dedup_setsim_incr: pairwise output, each
    // qualifying pair emitted exactly once with trigger-independent
    // values, so the accumulated stream union IS the batch screen
    "stream_setsim_dedup_eq" -> graft.operators.Dedup.oracle("dedup_setsim_incr"),
    // trigger-aware duplicated-span coverage: recurrence = resident
    // corpus, or an arrival whose ntile(5) trigger is <= the doc's own
    // (the stream can only know arrivals up to the current trigger)
    "stream_substring_dedup_eq" ->
      ("WITH d AS (SELECT doc_id, text, len(text) AS total_chars FROM documents WHERE len(text) >= 40), " +
        "p AS (SELECT doc_id, text, unnest(generate_series(1, total_chars - 39)) AS i FROM d), " +
        "ph AS (SELECT doc_id, i, CAST('0x' || substr(md5(substr(text, CAST(i AS INT), 40)), 1, 14) AS BIGINT) AS h FROM p), " +
        "at AS (SELECT doc_id, ntile(5) OVER (ORDER BY doc_id) AS trg FROM documents WHERE doc_id % 10 = 0), " +
        "arr AS (SELECT ph.doc_id, ph.i, ph.h, at.trg FROM ph JOIN at ON ph.doc_id = at.doc_id), " +
        "res AS (SELECT DISTINCT h FROM ph WHERE doc_id % 10 <> 0), " +
        "dp AS (SELECT DISTINCT a.doc_id, a.i FROM arr a WHERE " +
        "EXISTS (SELECT 1 FROM res r WHERE r.h = a.h) OR " +
        "EXISTS (SELECT 1 FROM arr b WHERE b.h = a.h AND b.doc_id <> a.doc_id AND b.trg <= a.trg)), " +
        "fl AS (SELECT doc_id, i, max(i + 39) OVER (PARTITION BY doc_id ORDER BY i " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM dp), " +
        "isl AS (SELECT doc_id, i, sum(CASE WHEN pe IS NULL OR i > pe THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM fl), " +
        "sp AS (SELECT doc_id, island, min(i) AS s, max(i + 39) AS e FROM isl GROUP BY 1, 2), " +
        "ag AS (SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_chars FROM sp GROUP BY 1) " +
        "SELECT d.doc_id, CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans, " +
        "CAST(coalesce(a.dup_chars, 0) AS BIGINT) AS dup_chars, " +
        "CAST(d.total_chars AS BIGINT) AS total_chars, " +
        "(1000000 * CAST(coalesce(a.dup_chars, 0) AS BIGINT)) // CAST(d.total_chars AS BIGINT) AS coverage_ppm " +
        "FROM d LEFT JOIN ag a USING (doc_id) WHERE d.doc_id % 10 = 0 ORDER BY doc_id"),
    // identical to batch session_attribution: per-purchase first/last
    // touch decided by streaming state must equal the window derivation
    "stream_attribution_eq" -> graft.operators.Analytics.oracle("session_attribution"),
    // identical to batch cdc_apply: the target snapshot recomputed
    // independently — streaming MERGE must land on the same table
    "stream_cdc_eq" ->
      ("""SELECT o_orderkey, CAST(CASE WHEN o_orderkey % 89 = 0
         |    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(21,3))
         |    ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) END AS VARCHAR) AS v
         |FROM orders WHERE o_orderkey % 97 <> 0 ORDER BY o_orderkey""".stripMargin),
    "stream_quarantine_eq" ->
      ("SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang, " +
        "count(*) AS n, " +
        "CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined, " +
        "CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE doc_id END) AS BIGINT) AS sum_ids " +
        "FROM documents GROUP BY 1 ORDER BY lang NULLS FIRST"),
    // the latest twins (mapGroupsWithState, transformWithState, and the
    // warm start: backfill(first half) + stream(second half)) all equal
    // batch over everything
    "stream_latest_warm_eq" -> latestSql,
    "stream_latest_tws_eq" -> latestSql,
    "stream_latest_eq" -> latestSql,
    "stream_hourly_eq" -> hourlySql,
    "stream_foreachbatch_eq" -> hourlySql,
    "stream_incremental_eq" -> hourlySql,
    "stream_file_sink_eq" -> hourlySql,
    "stream_dedup_eq" -> distinctTypesSql,
    "stream_enrich_eq" ->
      ("SELECT e.event_id, e.user_id, n.n_name FROM events e " +
        "JOIN nation n ON e.user_id % 25 = n.n_nationkey ORDER BY e.event_id"),
    "stream_dedup_incr_eq" -> distinctTypesSql,
    // ListState recency buffer: batch top-3 window, -1 pads young keys
    "stream_recent3_eq" ->
      ("WITH ranked AS (SELECT user_id, event_id, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn, " +
        "count(*) OVER (PARTITION BY user_id) AS n_seen FROM events) " +
        "SELECT user_id, n_seen, " +
        "coalesce(max(CASE WHEN rn = 1 THEN event_id END), -1) AS e1, " +
        "coalesce(max(CASE WHEN rn = 2 THEN event_id END), -1) AS e2, " +
        "coalesce(max(CASE WHEN rn = 3 THEN event_id END), -1) AS e3 " +
        "FROM ranked GROUP BY user_id, n_seen ORDER BY user_id"),
    // MapState histogram: plain batch GROUP BY
    "stream_type_hist_eq" ->
      ("SELECT user_id, event_type, count(*) AS n FROM events " +
        "GROUP BY 1, 2 ORDER BY user_id, event_type"),
    // sequential-state EWMA: same SQL as batch ewma_hourly
    "stream_ewma_eq" ->
      ("WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS cnt, " +
        "epoch_us(date_trunc('hour', ts)) // 3600000000 AS h FROM events GROUP BY 1, 2) " +
        "SELECT a.event_type, a.hour_ts, a.cnt, " +
        "round(sum(b.cnt * pow(0.5, a.h - b.h)) / sum(pow(0.5, a.h - b.h)), 6) AS ewma " +
        "FROM hourly a JOIN hourly b ON a.event_type = b.event_type " +
        "AND b.h BETWEEN a.h - 6 AND a.h " +
        "GROUP BY a.event_type, a.hour_ts, a.cnt ORDER BY a.event_type, a.hour_ts"),
    // bounded-state dedup: key includes the hour bucket, so
    // within-watermark suppression is exhaustive and the result is the
    // plain batch DISTINCT over the bucketed key
    "stream_dedup_wm_eq" ->
      ("SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hour " +
        "FROM events ORDER BY user_id, event_type, hour"),
    // µs-domain comparisons: Spark truncates the ns parquet timestamps to
    // µs on read, so the oracle joins on epoch_us, not raw ns timestamps
    "stream_join_eq" ->
      ("SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id, " +
        "CAST(floor((epoch_us(p.ts) - epoch_us(v.ts)) / 1000000) AS BIGINT) AS gap_s " +
        "FROM events v JOIN events p ON p.user_id = v.user_id " +
        "AND v.event_type = 'view' AND p.event_type = 'purchase' " +
        "AND epoch_us(p.ts) >= epoch_us(v.ts) " +
        "AND epoch_us(p.ts) <= epoch_us(v.ts) + 3600000000 " +
        "ORDER BY v.user_id, view_id, purchase_id"),
    "stream_left_join_eq" ->
      ("SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id, " +
        "CAST(floor((epoch_us(p.ts) - epoch_us(v.ts)) / 1000000) AS BIGINT) AS gap_s " +
        "FROM (SELECT * FROM events WHERE event_type = 'view') v " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ON p.user_id = v.user_id " +
        "AND epoch_us(p.ts) >= epoch_us(v.ts) " +
        "AND epoch_us(p.ts) <= epoch_us(v.ts) + 3600000000 " +
        "ORDER BY v.user_id, view_id, purchase_id"),
    // one oracle, four sessionizers: flatMapGroupsWithState (single and
    // 4-batch replay), transformWithState event-time timers, and the
    // native session_window aggregate
    "stream_sessionize_eq" -> sessionsSql,
    "stream_sessionize_tws_eq" -> sessionsSql,
    "stream_session_window_eq" -> sessionsSql,
    "stream_sessionize_incr_eq" -> sessionsSql,
  )
}
