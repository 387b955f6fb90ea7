package graft

import org.apache.spark.sql.SparkSession

import graft.operators.{Dedup, Similarity}
import graft.sources.{Stages, Tables}

/** The stage registry's materialization policy: building a query's
  * DataFrame runs no stage build, and [[Stages.clear]] releases every
  * frame the registered queries stored. */
class MaterializationSpec extends SparkSpec {

  /** The jobs `body` started, each named by its stages' call sites. */
  private def jobsStartedBy(body: => Unit): Seq[String] = {
    val st = spark.sparkContext.statusTracker
    jobsRunBy(body)._2.map { id =>
      st.getJobInfo(id).toSeq.flatMap(_.stageIds.toSeq)
        .flatMap(st.getStageInfo(_).toSeq).map(_.name).distinct.mkString(" + ")
    }
  }

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()

  private def construct(name: String): Unit = SparkEntry.queries(name)(spark, sf)

  test("after one run, constructing a query with a former checkpoint barrier starts no job") {
    Seq("dedup_local_cc", "dedup_triangles", "pq_refresh").foreach { q =>
      run(q)
      val jobs = jobsStartedBy(construct(q))
      assert(jobs.isEmpty, s"constructing $q ran ${jobs.size} job(s): $jobs")
    }
  }

  test("after one run, constructing ivf_refresh starts only its artifact reads' schema inference") {
    run("ivf_refresh")
    val jobs = jobsStartedBy(construct("ivf_refresh"))
    // the two serving probes read the stale and the refreshed index's
    // inverted lists; each read infers its parquet schema with one job
    assert(jobs.nonEmpty && jobs.forall(_.startsWith("parquet at Similarity.scala")),
      s"constructing ivf_refresh ran jobs other than schema inference: $jobs")
    info(s"jobs while constructing ivf_refresh: ${jobs.mkString(", ")}")
  }

  test("after clear(), constructing dedup_setsim_join over read schemas starts no job") {
    Stages.clear()
    Tables.documents(spark, sf)
    val jobs = jobsStartedBy(construct("dedup_setsim_join"))
    assert(jobs.isEmpty, s"constructing dedup_setsim_join ran ${jobs.size} job(s): $jobs")
    run("dedup_setsim_join")
  }

  test("clear() releases every frame the registered queries stored") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    Stages.clear()
    spark.catalog.clearCache()
    // the llm_dedup benchmark's shared builds, then its queries
    val builds: Seq[(SparkSession, String) => Any] = Seq(Dedup.cachedSignatures,
      Dedup.shingleGramSets, Dedup.verifiedCandidates, Similarity.ivfWarmIndex,
      Dedup.benchGramRoot)
    builds.foreach(_(spark, sf) match {
      case ds: org.apache.spark.sql.Dataset[_] => ds.count()
      case _ => ()
    })
    Seq("dedup_exact", "dedup_minhash_lsh", "dedup_verify_candidates", "dedup_ngram_jaccard",
      "dedup_semantic", "stream_decontaminate_eq", "vocab_coverage", "pq_refresh",
      "ivf_refresh", "dedup_local_cc", "dedup_clusters").foreach(run)
    assert(!cache.isEmpty, "the runs stored no frame, so this check would pass vacuously")
    Stages.clear()
    assert(cache.isEmpty, "a frame outlived Stages.clear(): a persist the registry does not own")
  }
}
