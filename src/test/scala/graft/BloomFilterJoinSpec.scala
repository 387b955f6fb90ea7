package graft

import org.apache.spark.sql.functions._

/** Runtime bloom-filter join pruning: when one side of a shuffle join
  * carries a selective filter, Catalyst injects a bloom filter built from
  * the filtered (creation) side into the other (application) side's scan,
  * so most non-matching rows die before the shuffle — at 100 TB this is
  * the difference between shuffling the whole fact table and shuffling
  * the ~matching slice. Thresholds are scaled down so a unit-test-sized
  * application side qualifies; production uses the defaults (10 GB scan
  * threshold). Asserts the `might_contain` predicate is actually in the
  * executed plan, not just that the feature flag is set. */
class BloomFilterJoinSpec extends SparkSpec {

  test("a selective dim filter injects might_contain into the fact side") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
    )
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      // broadcast would bypass the shuffle (and the bloom filter with it)
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = graft.sources.Tables.orders(spark, sf)
        .filter(col("o_orderkey") % 100 === 0) // selective creation side
        .select(col("o_orderkey"))
      val lineitem = graft.sources.Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_quantity"))
      val joined = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      val expected = joined.collect().length
      assert(expected > 0)
      walk(joined).matching("runtime bloom filter on the application side") {
        case n if n.expressions.exists(_.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain])) => n
      }
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  test("join_bloom_prune's bloom sizing is clamped at Spark's bloom maxima") {
    import graft.operators.AdvancedSql.bloomSizing
    val (maxItems, maxBits) = (4000000L, 67108864L) // Spark's defaults
    assert(bloomSizing(0L, maxItems, maxBits) == ((1000L, 10000L)))
    assert(bloomSizing(3000L, maxItems, maxBits) == ((3000L, 30000L)))
    // items clamp first at the defaults; the literal stops growing
    assert(bloomSizing(50000000L, maxItems, maxBits) == ((maxItems, maxItems * 10)))
    // a tighter bit cap binds on its own
    assert(bloomSizing(3000000L, maxItems, 1L << 20) == ((3000000L, 1L << 20)))
    // the conf keys the operator reads exist with those defaults
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong == maxItems)
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong == maxBits)
  }
}
