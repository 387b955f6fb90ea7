package graft

import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Co-located joins via bucketing: writing both fact tables bucketed on
  * the join key lets SortMergeJoin read buckets directly — zero shuffle
  * exchanges in the join plan. This is the pre-partitioning strategy a
  * recurring 100 TB join pipeline would use (pay the shuffle once at
  * ingest, never again). */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed orders ⋈ lineitem joins with zero shuffle exchanges") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      Tables.orders(spark, sf).write
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
      Tables.lineitem(spark, sf).write
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")

      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), $"l_orderkey" === $"o_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))

      val w = walk(joined)
      // the join itself must not shuffle; only the groupBy above it may
      w.nodes[SortMergeJoinExec]
      assert(hashKeys(w).size <= 1, s"join should read buckets directly: ${hashKeys(w)}")

      // correctness: same result as the unbucketed join
      val want = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("bucketed_join query plan reads buckets directly (no join-side exchange)") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = graft.operators.AdvancedSql.bucketedJoin(spark, sf)
      val w = walk(joined)
      w.nodes[SortMergeJoinExec]
      // only the groupBy and the output sort above the join may exchange
      val joinKeyed = hashKeys(w).filter(k => k.contains("l_orderkey") || k.contains("o_orderkey"))
      assert(joinKeyed.isEmpty, s"join inputs should read buckets: $joinKeyed")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("bucketed_join follows a switch of dataset: A, B, A each match the raw-parquet join") {
    def raw(dir: String) = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy("o_orderstatus", "l_returnflag")
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    def bucketed(dir: String) = graft.operators.AdvancedSql.bucketedJoin(spark, dir)
      .select("o_orderstatus", "l_returnflag", "n")
      .as[(String, String, Long)].collect().toSet
    Seq(sf, sfOther, sf).foreach { dir =>
      assert(bucketed(dir) == raw(dir), s"bucketed_join on $dir read another dataset's tables")
    }
  }
}
