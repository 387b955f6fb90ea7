package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Each query is executed through `write.format("noop")` — a real action
  * that materializes every output row through the complete physical plan
  * (a bare `.count()` would let Catalyst prune final sorts/projections and
  * under-measure).
  *
  * Output contract: the harness that invokes this keeps only a short tail
  * of stdout (observed: 2000 chars, with sbt's own "[success]" line after
  * ours), so the stdout JSON line must stay comfortably under that or it
  * is truncated mid-line and unparseable — which is exactly what happened
  * once the suite passed ~90 queries. The line therefore carries the
  * slowest entries first up to a hard character budget (failures always
  * included) plus an `omitted` count; the complete per-query wall/cpu/gc
  * detail goes to BENCH_DETAIL.json in the working directory.
  *
  * Billing of shared stages: a stage several queries share is built by
  * whichever of them runs first, so without care its whole build cost
  * lands on that query and per-query numbers aren't comparable across
  * rounds or subsets. The operator code labels each such stage where it
  * registers it in [[graft.sources.Stages]]; during pass 1 Bench meters
  * the registry, times every build of a labeled stage (plus one
  * `count()` when it is a DataFrame, which is what materializes it) as
  * its own `chain_<label>` entry, and subtracts it from the entry that
  * triggered it. A build nested in another labeled build is billed to
  * its own chain only. So a subset run (`SPARK_GRAFT_ONLY`) reports
  * exactly the chains its queries build, and `total` still counts every
  * second once.
  *
  * Pass-1 walls of the early-alphabet rows (roughly the first 50) carry
  * JVM warm-up: the untimed warm-up below leaves the JIT cold, so those
  * rows run interpreted or C1-compiled while C2 catches up (measured:
  * `agg_incremental` 0.71 → 2.96 s, with `jit_s` 0.80 → 6.19, when the
  * chain builds stopped running first). A change that reorders builds
  * moves that cost between rows, so compare such changes on the steady
  * passes (`SPARK_GRAFT_PASSES` ≥ 3, `wall_med_s`), not on pass 1.
  */
object Bench {

  /** Cumulative JVM GC milliseconds across all collectors. */
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** Process CPU nanoseconds (−1 if the platform bean is unavailable). */
  private def cpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  private def fmt(v: Double): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** Cumulative JIT compilation milliseconds (all compiler threads). A
    * query whose wall inflates while jit_s spikes is not a plan problem:
    * it ran interpreted/C1 behind a C2 backlog of generated classes from
    * the preceding ~200 queries (one JVM runs the whole suite). */
  private def jitMillis: Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime else -1L
  }

  /** Generated classes Janino has compiled in this JVM: one per miss of
    * Spark's generated-class cache (hits are not counted). */
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One entry's figures. A field that failed (wall) or that the
    * platform can't read (cpu, jit) is −1, and stays −1 under + and −. */
  final case class Timing(name: String, wallS: Double, cpuS: Double, gcS: Double,
      jitS: Double, compiles: Long) {
    def +(o: Timing): Timing = zip(o, 1)
    def -(o: Timing): Timing = zip(o, -1)
    private def zip(o: Timing, sign: Int): Timing = {
      def f(a: Double, b: Double) = if (a < 0 || b < 0) -1.0 else a + sign * b
      Timing(name, f(wallS, o.wallS), f(cpuS, o.cpuS), f(gcS, o.gcS), f(jitS, o.jitS),
        compiles + sign * o.compiles)
    }
  }

  /** Times Bench's entries and, while it meters [[graft.sources.Stages]],
    * the labeled stage builds they trigger (see the billing note above).
    * Bench runs one entry at a time and every labeled stage is built on
    * the thread that drives the entry, so the nesting is a plain stack. */
  private final class Billing extends graft.sources.Stages.Meter {
    /** `chain_<label>` entries in build order; a label built twice (two
      * registry entries, or a retry) sums into one entry. */
    val chains = scala.collection.mutable.LinkedHashMap.empty[String, Timing]
    /** Gross figures of the builds finished inside each open section,
      * innermost first. */
    private var nested = List.empty[Timing]

    /** `body`'s figures less those of the builds it triggered; a throwing
      * body gets the −1 wall sentinel, so a failure is unmistakable in
      * the JSON, not billed a normal-looking duration. */
    def timed[T](label: String)(body: => T): (Timing, Either[Throwable, T]) = {
      val t0 = System.nanoTime(); val c0 = cpuNanos; val g0 = gcMillis
      val j0 = jitMillis; val k0 = codegenCompiles
      nested = Timing(label, 0, 0, 0, 0, 0) :: nested
      val r = try Right(body) catch { case e: Throwable => Left(e) }
      val gross = Timing(label, (System.nanoTime() - t0) / 1e9,
        if (c0 >= 0) (cpuNanos - c0) / 1e9 else -1.0, (gcMillis - g0) / 1e3,
        if (j0 >= 0) (jitMillis - j0) / 1e3 else -1.0, codegenCompiles - k0)
      val net = gross - nested.head
      nested = nested.tail match {
        case outer :: rest => (outer + gross) :: rest
        case Nil => Nil
      }
      r.left.foreach(e => System.err.println(s"[bench] $label failed: ${e.getMessage}"))
      (if (r.isLeft) net.copy(wallS = -1.0) else net, r)
    }

    def apply[T](label: String)(build: => T): T = {
      val (t, r) = timed(s"chain_$label") {
        val v = build
        v match { case df: Dataset[_] => df.count(); case _ => () }
        v
      }
      chains(t.name) = chains.get(t.name).fold(t)(_ + t)
      r.fold(e => throw e, identity)
    }
  }

  /** One timed pass of `queries`, each driven through the `noop` sink:
    * (chain entries, query entries). Only a `metered` pass bills labeled
    * stage builds to chain entries; otherwise the first list is empty. */
  private[graft] def pass(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      metered: Boolean): (Seq[Timing], Seq[Timing]) = {
    val billing = new Billing
    def run() = queries.map { case (name, fn) =>
      billing.timed(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())._1
    }
    val results = if (metered) graft.sources.Stages.metered(billing)(run()) else run()
    (billing.chains.values.toSeq, results)
  }

  private def entry(t: Timing): String = "\"" + t.name + "\":" + fmt(t.wallS)

  /** The stdout line's queries map: failures first, then slowest first,
    * as many as fit in `budget` characters. Returns (kept, omitted);
    * together they are `all`. */
  private[graft] def stdoutEntries(all: Seq[Timing], budget: Int): (Seq[Timing], Seq[Timing]) = {
    val ordered = all.filter(_.wallS < 0) ++ all.filter(_.wallS >= 0).sortBy(-_.wallS)
    var used = 0
    val n = ordered.takeWhile { t => used += entry(t).length + 1; used <= budget }.size
    ordered.splitAt(n)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.sources.Session.local()
    // untimed warmup: absorb one-time init (FS, codegen, committers) so it
    // isn't billed to whichever query happens to run first
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    val gc0 = gcMillis
    val cpu0 = cpuNanos
    // pass 1 meters the registry: every labeled stage build becomes its
    // own chain entry (steady passes hit every stage, so they carry none)
    val (chainResults, results) = pass(spark, sfDir, selected, metered = true)
    // Optional steady-state passes (SPARK_GRAFT_PASSES=N, N >= 2): rerun
    // the query set N-1 more times in the SAME JVM. Pass 1 pays each
    // plan's one-time cost: Janino compiles its generated classes
    // (`codegen_compiles`) and C2 then warms them. The classes stay in
    // Spark's generated-class cache, sized by
    // SpillSafety.CodegenCacheEntries to hold the whole suite (at Spark's
    // 100-entry default a steady sf0.01 pass recompiled 5,727 of them),
    // so a steady pass compiles only classes whose code differs from pass
    // 1 (mostly in the stream rows), and its walls are the plan-cost signal to compare across
    // rounds. With N >= 3 the OF-RECORD figure is the per-query MEDIAN
    // of passes 2..N (`wall_med_s` / `med_total`): the r16 close measured
    // a ~38 s same-code pass-2 spread on this host — larger than a
    // typical round's real win — and a median over independent
    // steady-state passes suppresses the band where a single pass rides
    // it. Pass 1 remains the of-record COLD number.
    val nPasses = sys.env.get("SPARK_GRAFT_PASSES").flatMap(_.toIntOption).getOrElse(1)
    val steadyPasses: Seq[Seq[Timing]] =
      (2 to nPasses).map(_ => pass(spark, sfDir, selected, metered = false)._2)
    val results2 = steadyPasses.headOption
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // per-query median across the steady passes (failed passes excluded;
    // a query that failed EVERY steady pass medians to the -1 sentinel).
    // Only emitted at n>=3 — at n=2 the "median" of one steady pass is
    // just wall2_s and reads as an of-record figure it isn't.
    val medByName: Map[String, Double] =
      if (steadyPasses.isEmpty || nPasses < 3) Map.empty
      else steadyPasses.flatten.groupBy(_.name).map { case (n, ts) =>
        n -> median(ts.map(_.wallS).filter(_ >= 0))
      }
    val all = chainResults ++ results
    // The failed list rides the size-capped stdout line, so it must be
    // bounded itself (22 failures once inflated the line past the 2000-char
    // stdout tail and left the round's JSON unparseable): show at most 10
    // names, and report the true count in n_failed.
    val failedNames = all.collect { case t if t.wallS < 0 => t.name }
    val failed = failedNames.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = all.map(_.wallS).filter(_ >= 0).sum
    // Self-diagnosing telemetry: wall time alone can't distinguish a slow
    // plan from a contended machine (BENCH_r02 ran 6x slow on an otherwise
    // unchanged commit). gc_s is this JVM's collector time over the run;
    // cpu_s is this process's CPU seconds (>> 32x wall means external
    // contention is unlikely; << wall x parallelism means we were starved
    // — BENCH_r04's 775 cpu_s over 370 s wall reads as a ~2-core cgroup
    // quota on the harness box); load_avg is the 1-minute load at exit.
    val gcS = (gcMillis - gc0) / 1e3
    val cpuS = if (cpu0 >= 0) (cpuNanos - cpu0) / 1e9 else -1.0
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // Full detail (wall + cpu + gc per query) → file; judge-readable even
    // when the stdout tail is truncated. With SPARK_GRAFT_PASSES=2 each
    // entry also carries wall2_s/cpu2_s (the steady-state rerun).
    val pass2ByName = results2.map(_.map(t => t.name -> t).toMap).getOrElse(Map.empty)
    val detail = all.map { t =>
      val p2 = pass2ByName.get(t.name).map(s =>
        s""", "wall2_s": ${fmt(s.wallS)}, "cpu2_s": ${fmt(s.cpuS)}, "codegen_compiles2": ${s.compiles}""").getOrElse("")
      val med = medByName.get(t.name).map(m =>
        s""", "wall_med_s": ${fmt(m)}""").getOrElse("")
      s"""    "${t.name}": {"wall_s": ${fmt(t.wallS)}, "cpu_s": ${fmt(t.cpuS)}, "gc_s": ${fmt(t.gcS)}, "jit_s": ${fmt(t.jitS)}, "codegen_compiles": ${t.compiles}$p2$med}"""
    }.mkString("{\n", ",\n", "\n  }")
    val jitTotal = all.map(_.jitS).filter(_ >= 0).sum
    // per-pass compile totals: a steady pass that recompiles hundreds of
    // classes means the generated-class cache is thrashing
    val compilesByPass = (all +: steadyPasses).map(_.map(_.compiles).sum)
    val pass2Line = results2.map { r2 =>
      val t2 = r2.map(_.wallS).filter(_ >= 0).sum
      val j2 = r2.map(_.jitS).filter(_ >= 0).sum
      val medTotal =
        if (medByName.nonEmpty) medByName.values.filter(_ >= 0).sum else -1.0
      val medPart =
        if (nPasses >= 3) s""" "med_total": ${fmt(medTotal)}, "n_passes": $nPasses,"""
        else ""
      s"""\n  "pass2_total": ${fmt(t2)}, "pass2_jit_s": ${fmt(j2)},$medPart"""
    }.getOrElse("")
    val detailJson =
      s"""{
  "metric": "total", "value": ${fmt(total)}, "unit": "sec",$pass2Line
  "gc_s": ${fmt(gcS)}, "cpu_s": ${fmt(cpuS)}, "jit_s": ${fmt(jitTotal)}, "load_avg": ${fmt(load)},
  "codegen_compiles_by_pass": ${compilesByPass.mkString("[", ", ", "]")},
  "sf": "$sfDir", "n_queries": ${results.size}, "n_chains": ${chainResults.size},
  "queries": $detail
}
"""
    try {
      val p = java.nio.file.Paths.get("BENCH_DETAIL.json")
      java.nio.file.Files.write(p, detailJson.getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write BENCH_DETAIL.json: ${e.getMessage}")
    }

    // Compact stdout line: failures first, then slowest-first, capped so the
    // whole line survives a 2000-char stdout tail with room for sbt's
    // trailing "[success]" line.
    // The queries map gets whatever budget the (already-bounded) failed
    // array leaves over, so the full line stays under the tail cap no
    // matter how many queries fail.
    val (kept, omitted) = stdoutEntries(all, math.max(300, 1450 - failed.length))
    val omittedS = omitted.map(_.wallS).filter(_ >= 0).sum
    val qs = kept.map(entry).mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"omitted":${omitted.size},"omitted_s":${fmt(omittedS)},"failed":$failed,"n_failed":${failedNames.size},"gc_s":${fmt(gcS)},"cpu_s":${fmt(cpuS)},"load_avg":${fmt(load)},"detail":"BENCH_DETAIL.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
