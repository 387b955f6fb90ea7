package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine-config invariance: a query's RESULT must not depend on the
  * execution knobs a deployment turns — AQE on/off and the shuffle
  * partition count. This is the portability claim behind "the same code
  * runs on a 1000-executor cluster": partition counts and adaptive
  * re-planning change the physical plan freely, so any query whose
  * VALUES move with them is silently partition-dependent (float sum
  * order, rand(), row_number without a total order) and would produce
  * different answers at different cluster sizes. One representative
  * query per major family is pinned here; every operator's
  * determinism-by-construction arguments (integer scaling, fixed-order
  * folds, keyed hashes, tie-broken windows) are what make this pass. */
class ConfigInvarianceSpec extends SparkSpec {

  private def withConfs[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // sorted: the check pins VALUES; output order on an orderBy that is
  // not a total order may legally vary with partitioning
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q5_region_revenue" -> operators.Analytics.q5RegionRevenue _,
    "wordcount" -> operators.WordCount.wordcount _,
    "dedup_minhash_lsh" -> operators.Dedup.dedupMinhashLsh _,
    "bm25_top_terms" -> operators.TextAnalysis.bm25TopTerms _,
    "window_range_frame" -> operators.Analytics.windowRangeFrame _,
    "mutual_knn" -> operators.Similarity.mutualKnn _,
    "bpe_pair_counts" -> operators.TextAnalysis.bpePairCounts _,
    "quantiles" -> operators.Analytics.quantiles _,
    // the round-13 vocabulary-model rewrite and the persisted-artifact
    // encode path: both must hold values under partitioning changes
    "lm_bigram_score" -> operators.TextAnalysis.lmBigramScore _,
    "bpe_encode" -> operators.TextAnalysis.bpeEncode _,
    // DSIR: the nano-nat BIGINT dot product is the order-independence claim
    "dsir_weights" -> operators.Dsir.dsirWeights _,
  )

  // drop every registered stage/localCheckpoint so each variant genuinely
  // re-executes the shared stages (scoredLshPairs, the LSH pairs, the
  // BPE merge table) under ITS config — otherwise variants replay caches
  // materialized under the baseline config and prove nothing
  private def clearAllMemos(): Unit = graft.sources.Stages.clear()

  test("results identical under AQE on/off and shuffle partitions 4 vs 13") {
    clearAllMemos()
    val baseline = queries.map { case (n, f) => n -> rows(f(spark, sf)) }.toMap
    val variants = Seq(
      Seq("spark.sql.adaptive.enabled" -> "false"),
      Seq("spark.sql.shuffle.partitions" -> "13"),
      Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "13"))
    variants.foreach { confs =>
      withConfs(confs: _*) {
        clearAllMemos()
        queries.foreach { case (n, f) =>
          val got = rows(f(spark, sf))
          assert(got == baseline(n),
            s"$n drifted under ${confs.mkString(", ")}: " +
              s"${got.diff(baseline(n)).take(3)} vs ${baseline(n).diff(got).take(3)}")
        }
      }
    }
  }
}
