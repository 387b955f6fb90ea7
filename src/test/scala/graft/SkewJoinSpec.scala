package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** AQE skew-join handling: plant a hot key, run a sort-merge join with
  * aggressive skew thresholds, and assert the runtime actually SPLIT the
  * skewed partition (OptimizeSkewedJoin marks the join `skew=true` in the
  * final adaptive plan). Complements the deterministic-salt rewrites
  * (saltedAgg/saltedJoin), which handle skew the planner must be told
  * about — this proves the runtime path the 100 TB config relies on is
  * live, not just enabled in a config string. */
class SkewJoinSpec extends SparkSpec {

  test("AQE splits a skewed sort-merge join partition") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
    )
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // thresholds scaled down so a ~3 MB hot partition counts as skewed
      // in a unit test; production uses the defaults (256 MB / factor 5)
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // hot key 0 carries 200k of 201k left rows; right side is uniform
      // and non-broadcastable (threshold -1) so the join is sort-merge
      val left = spark.range(200000).select(lit(0L).as("k"), col("id").as("v"))
        .unionAll(spark.range(1000).select((col("id") % 4 + 1).as("k"), col("id").as("v")))
      val right = spark.range(5).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = left.join(right, "k")
      // drive joined's OWN QueryExecution (count() would wrap it in a new
      // one and leave this adaptive plan unmaterialized)
      assert(joined.queryExecution.executedPlan.execute().count() == 201000L)
      val w = walk(joined)
      assert(w.nodes[AdaptiveSparkPlanExec].forall(_.isFinalPlan), "AQE final plan not materialized")
      w.matching("skew-split join") { case j: SortMergeJoinExec if j.isSkewJoin => j }
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }
}
