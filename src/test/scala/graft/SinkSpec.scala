package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.WordCount
import graft.sources.Tables
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** Sink parity (reference O5/O11: space-separated "{key} {value}" text
  * files, /root/reference/src/mr/worker.rs:155,215) and source round-trips
  * for the formats the library supports. */
class SinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("wordcount text sink round-trip in the reference's 'key value' line format") {
    val out = tmpDir("txtsink") + "/wc"
    val wc = WordCount.wordcount(spark, sf)
    wc.select(concat_ws(" ", col("word"), col("cnt"))).write.mode("overwrite").text(out)
    val back = spark.read.text(out)
      .select(split(col("value"), " ").as("kv"))
      .select(col("kv")(0).as("word"), col("kv")(1).cast("long").as("cnt"))
      .orderBy("word")
    assert(back.collect().toSeq == wc.collect().toSeq)
  }

  test("csv and json round-trips preserve the pricing summary") {
    val q1 = graft.operators.Analytics.q1Pricing(spark, sf)
    val csv = tmpDir("csv") + "/q1"
    q1.write.mode("overwrite").option("header", "true").csv(csv)
    val backCsv = spark.read.option("header", "true").schema(q1.schema).csv(csv)
      .orderBy("l_returnflag", "l_linestatus")
    assert(backCsv.collect().toSeq == q1.collect().toSeq)

    val json = tmpDir("json") + "/q1"
    q1.write.mode("overwrite").json(json)
    val backJson = spark.read.schema(q1.schema).json(json)
      .orderBy("l_returnflag", "l_linestatus")
    assert(backJson.collect().toSeq == q1.collect().toSeq)
  }

  test("streaming dedup keeps one row per (user, type) and matches batch distinct") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.dedupStream(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      val evs = Tables.events(spark, sf)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[Event].collect().toSeq
      mem.addData(evs: _*)
      q.processAllAvailable()
      val got = spark.table("dedup_out").count()
      val want = Tables.events(spark, sf)
        .select("user_id", "event_type").distinct().count()
      assert(got == want)
    } finally q.stop()
  }

  test("sink_partitioned prunes the lang partition at the scan, not post-scan") {
    val out = graft.sources.TempDirs.create("graft_sink_part_spec_")
    Tables.documents(spark, sf)
      .select("doc_id", "n_chars", "lang", "source")
      .write.mode("overwrite").partitionBy("lang", "source").parquet(out)
    val q = spark.read.parquet(out).filter(org.apache.spark.sql.functions.col("lang") === "en")
    walk(q).matching("lang partition filter on the scan") {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.partitionFilters.exists(_.references.exists(_.name == "lang")) => s
    }
    // and the pruned read agrees with a predicate over the original table
    val want = Tables.documents(spark, sf).filter($"lang" === "en").count()
    assert(q.count() == want)
  }

  test("compact_files: compaction collapses the file count without changing rows") {
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    val root = graft.operators.Relational.compactRoot(spark, sf)
    val fragFiles = parquetFiles(s"$root/frag")
    val compactFiles = parquetFiles(s"$root/compact")
    val rows = Tables.documents(spark, sf).count()
    // 50-record cap fragments the corpus into >> 4 files
    assert(fragFiles >= (rows / 50).toInt,
      s"expected >=${rows / 50} fragment files, got $fragFiles")
    assert(compactFiles <= 4, s"expected <=4 compacted files, got $compactFiles")
    assert(compactFiles < fragFiles)
    assert(spark.read.parquet(s"$root/compact").count() == rows)
  }

  test("mixture_resample: minority lang keeps all; majority langs land near the target") {
    val rows = graft.operators.TextAnalysis.mixtureResample(spark, sf)
      .as[(Long, String, Boolean)].collect()
    val byLang = rows.groupBy(_._2)
    val counts = byLang.view.mapValues(_.length).toMap
    val nMin = counts.values.min
    val minLang = counts.minBy(_._2)._1
    // p = 1 for the minority language: every doc kept, deterministically
    assert(byLang(minLang).forall(_._3))
    byLang.foreach { case (lang, docs) =>
      val kept = docs.count(_._3)
      val sigma = math.sqrt(nMin.toDouble)
      assert(math.abs(kept - nMin) <= math.max(5 * sigma, 5.0),
        s"$lang kept $kept, target $nMin")
    }
    // keyed hash: decisions are identical under any partitioning
    val again = graft.operators.TextAnalysis.mixtureResample(spark, sf)
      .repartition(7).as[(Long, String, Boolean)].collect().toSet
    assert(again == rows.toSet)
  }

  test("json_quarantine: corrupt payloads are retained verbatim for replay") {
    val df = graft.operators.Relational.jsonQuarantine(spark, sf)
    val corrupt = df.filter($"lang".isNull).select("n", "n_quarantined")
      .as[(Long, Long)].collect()
    assert(corrupt.length == 1)
    // every NULL-lang row is quarantined, none slipped through as parsed
    assert(corrupt.head._1 == corrupt.head._2)
    val expected = Tables.documents(spark, sf).filter($"doc_id" % 7 === 0).count()
    assert(corrupt.head._1 == expected)
  }
}
