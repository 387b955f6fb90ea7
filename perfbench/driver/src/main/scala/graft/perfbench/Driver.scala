// In package graft so the chain builds are timed through the same entry
// points graft.Bench bills them by (some are package-private).
package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.SparkEntry
import graft.operators.{Dedup, Dsir, Similarity, TextAnalysis}

/** JVM side of the benchmark (see perfbench/README.md).
  *
  * {{{
  * Driver --workload <name> --data <dir> --out <dir> --seconds <s> --trace <0|1>
  * }}}
  *
  * Builds the session the way graft.Bench does, runs its untimed warm-up
  * action and prints `READY` (the caller times launch to that line). Then it
  * runs the workload's calls in passes: [[WarmUpPasses]] untimed passes
  * warm the JIT, then timed passes follow until `--seconds` have elapsed (at
  * least [[MinTimedPasses]]). Every query call writes its result as parquet
  * under `<out>/p<pass>/<name>` for the caller's oracle check. Shared stages
  * are rebuilt in every pass: the program's memos are cleared between
  * passes. Per-pass and per-call times go to `<out>/driver.json`.
  *
  * With `--trace 1` it also records spans (workload, pass, call, kernel
  * probe) with their Spark counters through a [[Tracer]], runs the
  * [[Kernels]] probes, and adds both to `driver.json`.
  */
object Driver {

  /** Untimed passes before the timed window. The first pass in a JVM is
    * cold: on a 4-core box it takes about twice a later pass while C2
    * compiles Spark's and the plans' code. */
  val WarmUpPasses = 1

  /** Timed passes run until `--seconds` have elapsed, and at least this
    * many: a pass repeats every call, and its wall varies by a tenth from
    * one pass to the next while the JIT keeps compiling generated code. */
  val MinTimedPasses = 2

  final case class Call(name: String, kind: String, run: (SparkSession, String, String) => Unit)

  private def query(name: String): Call = {
    val fn = SparkEntry.queries(name)
    Call(name, "query", (spark, dir, out) => fn(spark, dir).write.mode("overwrite").parquet(out))
  }

  private def chain(name: String)(build: (SparkSession, String) => Any): Call =
    Call(name, "chain", (spark, dir, _) => build(spark, dir) match {
      case ds: Dataset[_] => ds.count(); ()
      case _ => ()
    })

  /** The reference's job through every path: data-plane bound. */
  private val wordcount: Seq[Call] = Seq(
    "wordcount", "mr_wordcount", "mr_wordcount_combine", "mr_inverted_index").map(query)

  /** The LSH dedup chain's shared builds and their consumers, n-gram
    * Jaccard, one vector path (IVF index + semantic dedup) and one
    * artifact-serving stream twin (decontamination against the persisted
    * benchmark-gram artifact). */
  private val llmDedup: Seq[Call] = Seq(
    chain("dedup_sigs")(Dedup.cachedSignatures),
    chain("shingle_grams")(Dedup.shingleGramSets),
    chain("dedup_verified")(Dedup.verifiedCandidates),
    chain("ivf_index")(Similarity.ivfWarmIndex),
    chain("bench_grams")(Dedup.benchGramRoot),
  ) ++ Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_verify_candidates", "dedup_ngram_jaccard",
    "dedup_semantic", "stream_decontaminate_eq",
  ).map(query)

  /** Event-stream bridges: stateful dedup, sessions, file sink,
    * stream-stream join and RocksDB transformWithState. */
  private val streamIngest: Seq[Call] = Seq(
    "stream_dedup_eq", "stream_dedup_wm_eq", "stream_sessionize_eq",
    "stream_sessionize_tws_eq", "stream_latest_tws_eq",
    "stream_file_sink_eq", "stream_join_eq", "stream_hourly_eq",
  ).map(query)

  val workloads: Map[String, Seq[Call]] = Map(
    "wordcount" -> wordcount, "llm_dedup" -> llmDedup, "stream_ingest" -> streamIngest)

  private def clearMemos(spark: SparkSession): Unit = {
    Dedup.clearMemo(); Similarity.clearMemo(); TextAnalysis.clearMemo(); Dsir.clearMemo()
    spark.catalog.clearCache()
  }

  private def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  private def jitMillis: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  /** Peak resident set of this process in MB (VmHWM), 0 where /proc is absent. */
  private def peakRssMb: Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def dirBytes(root: Path, keep: Path => Boolean): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && keep(p)).map(Files.size).sum
      finally s.close()
    }

  /** Bytes under the program's scratch and artifact roots (java.io.tmpdir/graft_*). */
  private def artifactBytes(tmp: Path, part: String = ""): Long =
    dirBytes(tmp, p => {
      val rel = tmp.relativize(p)
      rel.getNameCount > 0 && rel.getName(0).toString.startsWith("graft_") &&
        rel.getName(0).toString.contains(part)
    })

  private def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.sources.SpillSafety.tune(SparkSession.builder(), cpus.toInt, 0.6)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** graft.Bench's untimed warm-up: absorb one-time init before timing. */
  private def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val first = new java.io.File(dir).list().filter(_.endsWith(".parquet")).sorted.head
    spark.read.parquet(s"$dir/$first").count()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opts("data")
    val spark = session()
    warmUp(spark, dir)
    println("READY")
    System.out.flush()

    val workload = opts("workload")
    val calls = workloads(workload)
    val out = Paths.get(opts("out"))
    val seconds = opts("seconds").toDouble
    val tracer = if (opts("trace") == "1") Some(new Tracer(spark)) else None
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(out)

    val passes = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    var pass = 0
    var timedStart = 0L
    tracer.foreach(_.begin(workload, "workload"))
    while (pass < WarmUpPasses + MinTimedPasses || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      val timed = pass >= WarmUpPasses
      if (pass == WarmUpPasses) { timedStart = System.nanoTime(); tracer.foreach(_.resetJvmPeaks()) }
      val art0 = tracer.map(_ => artifactBytes(tmp)).getOrElse(0L)
      val ck0 = tracer.map(_ => artifactBytes(tmp, "_ck_")).getOrElse(0L)
      val (c0, g0, j0) = (cpuNanos, gcMillis, jitMillis)
      val w0 = System.nanoTime()
      tracer.foreach(_.begin(s"pass$pass", "pass"))
      val results = calls.map { c =>
        val target = out.resolve(s"p$pass").resolve(c.name)
        tracer.foreach(_.begin(c.name, c.kind))
        val s = System.nanoTime()
        val err = try { c.run(spark, dir, target.toString); None }
          catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        val wall = (System.nanoTime() - s) / 1e9
        tracer.foreach(_.end())
        ListMap[String, Any]("name" -> c.name, "kind" -> c.kind, "wall_s" -> wall,
          "error" -> err.orNull, "output" -> (if (c.kind == "query") target.toString else null))
      }
      tracer.foreach(_.end())
      val wall = (System.nanoTime() - w0) / 1e9
      val (cpu, gc, jit) = ((cpuNanos - c0) / 1e9, (gcMillis - g0) / 1e3, (jitMillis - j0) / 1e3)
      passes += ListMap[String, Any]("pass" -> pass, "timed" -> timed, "wall_s" -> wall,
        "cpu_s" -> cpu, "gc_s" -> gc, "jit_s" -> jit,
        "artifact_mb" -> tracer.map(_ => (artifactBytes(tmp) - art0) / 1048576.0).getOrElse(0.0),
        "checkpoint_mb" -> tracer.map(_ => (artifactBytes(tmp, "_ck_") - ck0) / 1048576.0).getOrElse(0.0),
        "calls" -> results)
      clearMemos(spark)
      pass += 1
    }
    tracer.foreach(_.end())
    val kernels = tracer.map(Kernels.run(spark, dir, _)).orNull
    val oracle = SparkEntry.oracleSql
    val report = ListMap[String, Any](
      "workload" -> workload,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "passes" -> passes.toSeq,
      "oracle" -> ListMap[String, Any](calls.filter(_.kind == "query").flatMap(c => oracle.get(c.name).map(c.name -> _)): _*),
      "peak_rss_mb" -> peakRssMb,
      "kernels" -> kernels,
      "trace" -> tracer.map(_.report()).orNull)
    Files.writeString(out.resolve("driver.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(report))
    spark.stop()
  }
}
