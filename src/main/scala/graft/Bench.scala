package graft

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

  final case class Timing(name: String, wallS: Double, cpuS: Double, gcS: Double,
      jitS: Double, compiles: Long)

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
    val names = selected.map(_._1).toSet

    def timed(label: String)(body: => Unit): Timing = {
      val t0 = System.nanoTime(); val c0 = cpuNanos; val g0 = gcMillis
      val j0 = jitMillis; val k0 = codegenCompiles
      val ok =
        try { body; true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $label failed: ${e.getMessage}")
          false
        }
      // -1 sentinel: a throwing query must be unmistakable in the JSON,
      // not silently billed a normal-looking duration
      val wall = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      Timing(label, wall,
        if (c0 >= 0) (cpuNanos - c0) / 1e9 else -1.0, (gcMillis - g0) / 1e3,
        if (j0 >= 0) (jitMillis - j0) / 1e3 else -1.0, codegenCompiles - k0)
    }

    val gc0 = gcMillis
    val cpu0 = cpuNanos
    // Shared-stage builds, billed explicitly: the dedup chain, ANN pair,
    // and IVF index stages are memoized across queries, so without this
    // the whole build cost lands on whichever consumer runs first
    // (alphabetical order) and per-query numbers aren't comparable across
    // rounds. Each build below is timed as its own `chain_*` entry (still
    // part of `total`); the per-query entries then measure marginal cost.
    val dedupChainConsumers = Set(
      "dedup_minhash_lsh", "dedup_verify_candidates", "dedup_clusters",
      "dedup_apply", "minhash_est_vs_exact", "dedup_editdist", "dedup_jaro",
      "dedup_triangles", "dedup_cluster_sizes", "dedup_incremental",
      "dedup_bfs_levels", "lsh_exact_eval")
    val chainDefs: Seq[(String, Set[String], () => Unit)] = Seq(
      ("chain_dedup_sigs", dedupChainConsumers + "lsh_recall_audit",
        () => { operators.Dedup.cachedSignatures(spark, sfDir).count(); () }),
      ("chain_shingle_grams", dedupChainConsumers ++
          Set("dedup_setsim_join", "dedup_setsim_incr"),
        () => { operators.Dedup.shingleGramSets(spark, sfDir).count(); () }),
      ("chain_dedup_verified", dedupChainConsumers,
        () => { operators.Dedup.verifiedCandidates(spark, sfDir).count(); () }),
      ("chain_setsim_index", Set("dedup_setsim_incr", "stream_setsim_dedup_eq"),
        () => { operators.Dedup.setsimIndexWarm(spark, sfDir); () }),
      ("chain_setsim_pairs", Set("dedup_setsim_join", "lsh_exact_eval"),
        () => { operators.Dedup.setsimPairs(spark, sfDir).count(); () }),
      ("chain_dedup_clusters", Set("dedup_clusters", "dedup_apply", "dedup_cluster_sizes"),
        () => { operators.Dedup.clusterLabels(spark, sfDir).count(); () }),
      ("chain_ann_pairs", Set("ann_lsh_pairs", "dedup_embedding"),
        () => { operators.Similarity.scoredLshPairs(spark, sfDir).count(); () }),
      ("chain_ivf_index", Set("ivf_assign", "ivf_search", "ivf_search_filtered",
          "ivf_pq_search", "ivf_pq_recall", "ivf_filtered_recall", "hybrid_rrf_ivf",
          "retrieval_rank_eval", "stream_hybrid_rrf_eq"),
        () => { operators.Similarity.ivfWarmIndex(spark, sfDir); () }),
      ("chain_ivf_incr", Set("ivf_incremental", "ivf_refresh"),
        () => { operators.Similarity.ivfIncrWarmIndex(spark, sfDir); () }),
      ("chain_ivf_refresh", Set("ivf_refresh"),
        () => { operators.Similarity.ivfRefreshWarm(spark, sfDir); () }),
      ("chain_stream_ivf", Set("stream_ivf_ingest_eq"),
        () => { streaming.StreamingBridge.streamIvfIngestWarm(spark, sfDir); () }),
      ("chain_doc_scores", Set("quality_gate", "quality_score"),
        () => { operators.TextAnalysis.scoredDocs(spark, sfDir).count(); () }),
      ("chain_bpe_merges", Set("bpe_learn_merges", "bpe_encode"),
        () => { operators.TextAnalysis.bpeMergeTable(spark, sfDir); () }),
      ("chain_bm25_scored", Set("bm25_top_terms", "hybrid_rrf", "hybrid_rrf_filtered", "hybrid_rrf_ivf", "retrieval_rank_eval", "chunk_retrieval", "stream_hybrid_rrf_eq"),
        () => { operators.TextAnalysis.bm25Scored(spark, sfDir).count(); () }),
      ("chain_bench_grams", Set("stream_decontaminate_eq"),
        () => { operators.Dedup.benchGramRoot(spark, sfDir); () }),
      ("chain_win_index", Set("substring_dedup_incr", "stream_substring_dedup_eq"),
        () => { operators.Dedup.winIndexWarm(spark, sfDir); () }),
      ("chain_substring_spans", Set("dedup_substring", "substring_dedup_apply"),
        () => { operators.Dedup.corpusSpans(spark, sfDir).count(); () }),
      ("chain_chunk_index", Set("stream_chunk_retrieval_eq", "stream_hybrid_rrf_eq"),
        () => { operators.TextAnalysis.chunkIndexWarm(spark, sfDir); () }),
      ("chain_lex_index", Set("stream_hybrid_rrf_eq"),
        () => { operators.TextAnalysis.lexIndexWarm(spark, sfDir); () }),
      ("chain_pq_codes", Set("pq_encode", "pq_recon_error", "ivf_pq_search", "ivf_pq_recall"),
        () => { operators.Similarity.pqCodes(spark, sfDir).count(); () }),
      ("chain_line_frames", Set("line_dedup_apply", "line_dedup_keep_first"),
        () => { operators.Dedup.lineFramesWarm(spark, sfDir); () }),
      ("chain_dsir_counts", Set("dsir_bucket_stats", "dsir_weights",
          "dsir_sample", "stream_dsir_weights_eq"),
        () => { operators.Dsir.dsirCountsWarm(spark, sfDir); () }),
    )
    val chainResults = chainDefs.collect {
      case (label, consumers, build) if consumers.exists(names.contains) =>
        timed(label)(build())
    }
    val results = selected.map { case (name, fn) =>
      timed(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    }
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
      (2 to nPasses).map { _ =>
        selected.map { case (name, fn) =>
          timed(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        }
      }
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
    val budget = math.max(300, 1450 - failed.length)
    val ordered = all.filter(_.wallS < 0) ++ all.filter(_.wallS >= 0).sortBy(-_.wallS)
    val entries = ordered.map(t => "\"" + t.name + "\":" + fmt(t.wallS))
    var used = 0
    val kept = entries.takeWhile { e => used += e.length + 1; used <= budget }
    val omitted = all.drop(kept.size)
    val omittedS = omitted.map(_.wallS).filter(_ >= 0).sum
    val qs = kept.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"omitted":${omitted.size},"omitted_s":${fmt(omittedS)},"failed":$failed,"n_failed":${failedNames.size},"gc_s":${fmt(gcS)},"cpu_s":${fmt(cpuS)},"load_avg":${fmt(load)},"detail":"BENCH_DETAIL.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
