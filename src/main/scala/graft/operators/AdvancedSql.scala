package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-4 relational/window surface extensions: navigation windows
  * (lag/lead/ntile/percent_rank), ordered string aggregation, histogram
  * bucketing, correlated scalar subqueries, three more TPC-H-shaped
  * queries (Q6/Q12/Q18 analogues on this schema), and a skew-safe salted
  * join. Same determinism contract as the rest of the library: exact
  * DECIMAL(18,2) money arithmetic, integer-only comparisons where a
  * threshold decides membership, and a total ORDER BY on every output.
  */
object AdvancedSql {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Navigation + distribution windows in one pass: lag/lead fetch
    * neighboring order prices, ntile buckets the partition into
    * quartiles, percent_rank places each row — all over ONE window
    * (single shuffle on o_custkey, single in-partition sort). */
  def windowLagLead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("prev_price", lag("o_totalprice", 1).over(w))
      .withColumn("next_price", lead("o_totalprice", 1).over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pr", round(percent_rank().over(w), 6))
      .drop("o_orderdate")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Ordered string aggregation (GROUP_CONCAT/string_agg): the collect →
    * sort → join shape. Sorting inside the aggregate makes the result
    * deterministic under any partitioning — an UNSORTED string_agg is a
    * merge-order race on any distributed engine. */
  def stringAggLangs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        concat_ws(",", array_sort(collect_set(col("source")))).as("sources"))
      .orderBy("lang")

  /** Equi-width histogram via width_bucket — the single-pass grouped
    * bucketing every profiling pipeline runs (vs rangeJoin's interval
    * table: no join at all, the bucket id is computed row-locally). */
  def histogramPrices(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(width_bucket(col("o_totalprice"), lit(0d), lit(500000d), lit(10)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** Correlated scalar subqueries: orders strictly above their customer's
    * average spend. Written as two correlated aggregates so Catalyst's
    * RewriteCorrelatedScalarSubquery turns them into ONE grouped join —
    * at scale this is an aggregate + shuffle join, never a re-scan per
    * outer row. The comparison is price·n > Σprice in exact DECIMAL
    * (algebraically "price > avg" without ever dividing — no
    * float-boundary ambiguity between engines). */
  def scalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders_sq")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM graft_orders_sq o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
        |      (SELECT count(*) FROM graft_orders_sq i WHERE i.o_custkey = o.o_custkey)
        |    > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM graft_orders_sq i
        |       WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey
        |""".stripMargin)
  }

  /** TPC-H Q6 analogue: forecast-revenue-change — one filtered scan, one
    * global sum, zero joins. Every predicate reaches PushedFilters; the
    * scan reads 4 of 11 columns. */
  def q6DiscountRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n"))

  /** TPC-H Q12 analogue: order-priority class counts per line status —
    * the canonical conditional aggregation (CASE inside SUM) over the
    * orders ⋈ lineitem fact join. */
  def q12PriorityLines(spark: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .select("l_orderkey", "l_linestatus")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** TPC-H Q18 analogue: large-volume orders — HAVING over a fact
    * aggregation, then enrichment joins. The quantity filter runs on the
    * AGGREGATED frame (15× smaller than lineitem) before any join. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(dec(col("l_quantity"))).as("qty"))
      .filter(col("qty") > 300) // HAVING
      .join(Tables.orders(spark, dir)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("qty").cast("double").as("total_qty"))
      .orderBy("o_orderkey")

  /** TPC-H Q4 analogue: order counts per priority among orders with at
    * least one late-shipped line (ship > order date + 60 days). The
    * EXISTS is a LEFT SEMI join whose non-equi predicate rides the join
    * condition — lineitem is reduced to (orderkey, shipdate) before the
    * shuffle, and each order emits at most once regardless of line count. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
      .join(Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  /** TPC-H Q14 analogue: promo revenue share — a conditional aggregate
    * ratio over the lineitem ⋈ part join. One division at the very end of
    * two exact decimal sums (both cast to double first), so the only
    * float op is a single correctly-rounded divide. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val disc = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-07-01")))
      .select("l_partkey", "l_extendedprice", "l_discount")
      .join(Tables.part(spark, dir).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", disc).otherwise(dec(lit(0)))).cast("double").as("promo_rev"),
        sum(disc).cast("double").as("total_rev"))
      .select(col("promo_rev"), col("total_rev"),
        round(lit(100.0) * col("promo_rev") / col("total_rev"), 6).as("promo_pct"))
  }

  private val SaltR = 8

  /** Skew-safe salted JOIN (completing saltedAgg's pattern for joins):
    * the fact side takes a deterministic salt in [0, R); the dimension
    * side is replicated R ways; the join key becomes (user_id, salt), so
    * a hot user's rows spread over R reducers instead of one. With a
    * deterministic salt the result is exactly the unsalted join — which
    * is what the oracle runs. At 100 TB this (or AQE's skew-join split)
    * is the difference between a straggler-free shuffle and one reducer
    * owning the hot key's entire partition.
    *
    * Salt convention: `pmod`, not `%`. Scala/Spark `%` follows the
    * dividend's sign (-3 % 8 = -3), so a negative event_id would salt
    * into [-7, 0) — a bucket the dimension side (replicated over exactly
    * [0, R)) never has, silently DROPPING those fact rows from the join.
    * `pmod` is always non-negative, so every fact row lands on a
    * replicated salt. */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val dim = ev.select("user_id").distinct()
      .withColumn("tier", pmod(col("user_id"), lit(10)))
    val dimSalted = dim.withColumn("salt",
      explode(array((0 until SaltR).map(lit(_)): _*)))
    ev.select(col("user_id"), dec(col("value")).as("v"),
        pmod(col("event_id"), lit(SaltR)).as("salt"))
      .join(dimSalted, Seq("user_id", "salt"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("total_value"))
      .orderBy("tier")
  }

  /** Co-located join over BUCKETED tables — the pay-the-shuffle-once
    * strategy for a recurring 100 TB fact-fact join: both sides are
    * written `bucketBy(8, orderkey).sortBy(orderkey)` into external
    * catalog tables (one-time, memoized per session+dataset), after
    * which every join on the bucket key reads bucket files directly —
    * SortMergeJoin with ZERO exchanges before the join (asserted with
    * broadcast disabled in BucketingSpec; here the production config
    * stays untouched). The oracle runs the identical join from the raw
    * parquet — green iff bucketed layout changed nothing but the plan. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    bucketedTablesFor(spark, dir)
    spark.table("graft_b_lineitem")
      .join(spark.table("graft_b_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus", "l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast("double").as("total"))
      .orderBy("o_orderstatus", "l_returnflag")
  }

  /** One-time bucketed ingest of orders+lineitem on the join key, into
    * process-private external paths. The catalog names are fixed for the
    * whole session, so the stage is session-wide: reuse prevents a rewrite
    * per consuming query, and ingesting another dataset supersedes it. */
  def bucketedTablesFor(spark: SparkSession, dir: String): Unit =
    graft.sources.Stages.sessionWide(spark, "sql/bucketed_tables", dir) {
      val root = graft.sources.TempDirs.create("graft_bucketed_")
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
      Tables.orders(spark, dir).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$root/orders")
        .mode("overwrite").saveAsTable("graft_b_orders")
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_returnflag", "l_extendedprice")
        .write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$root/lineitem")
        .mode("overwrite").saveAsTable("graft_b_lineitem")
      ()
    }

  /** Runtime bloom-filter join pruning — the explicit form of the
    * selective-join pattern Spark's InjectRuntimeFilter automates: when a
    * dimension filter keeps a small key set, a bloom of those keys can
    * screen the 100 TB fact side MAP-ONLY, before any shuffle, so the
    * exact semi-join only ever sees the ~selectivity+fpp fraction of the
    * fact. Build is fully distributed (`bloom_filter_agg` — partial
    * blooms per partition, merged in the final aggregate); only the one
    * finished ~KB filter crosses to the driver and re-enters the plan as
    * a constant for the codegen `might_contain` probe. False positives
    * are removed by the exact semi-join that follows and false negatives
    * are impossible, so the result is EXACTLY the plain semi-join — which
    * is what the oracle computes; the green row is the no-false-negative
    * gate itself. */
  def joinBloomPrune(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // Size the filter to the BUILD SIDE, not a constant (guide §3.2:
    // expectedNumItems ≥ the true count, ~10 bits/item ≈ 1% fpp): the
    // former fixed 1.6 Mbit filter was a ~200 KB literal baked into the
    // probe's generated code at EVERY scale — oversized (slow codegen,
    // fat broadcast) at bench SFs and undersized past ~170 k urgent
    // orders. Order count is a metadata-only parquet count; urgent is
    // ~1/5 of orders (n/4 for slack). False positives are removed by the
    // exact semi-join either way, so the result is sizing-invariant.
    val expected = math.max(1000L, Tables.orders(spark, dir).count() / 4)
    // bloom_filter_agg / might_contain are registry-internal (the pair
    // InjectRuntimeFilter plants); the bridge builds them directly
    val bfBytes = urgent
      .agg(GraftColumnBridge.column(new BloomFilterAggregate(
        GraftColumnBridge.expression(xxhash64(col("o_orderkey"))),
        Literal(expected), Literal(expected * 10)).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = GraftColumnBridge.column(BloomFilterMightContain(
      Literal(bfBytes, org.apache.spark.sql.types.BinaryType),
      GraftColumnBridge.expression(xxhash64(col("l_orderkey")))))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      .filter(mightContain)
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
      .orderBy("l_returnflag")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bucketed_join" -> bucketedJoin,
    "window_lag_lead" -> windowLagLead,
    "string_agg_langs" -> stringAggLangs,
    "histogram_prices" -> histogramPrices,
    "scalar_subquery" -> scalarSubquery,
    "q6_discount_revenue" -> q6DiscountRevenue,
    "q12_priority_lines" -> q12PriorityLines,
    "q18_large_orders" -> q18LargeOrders,
    "q4_order_priority" -> q4OrderPriority,
    "q14_promo_revenue" -> q14PromoRevenue,
    "salted_join" -> saltedJoin,
    "join_bloom_prune" -> joinBloomPrune,
  )

  val oracle: Map[String, String] = Map(
    "join_bloom_prune" ->
      ("SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM lineitem WHERE l_orderkey IN " +
        "(SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "bucketed_join" ->
      ("SELECT o_orderstatus, l_returnflag, count(*) AS n, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderstatus, l_returnflag ORDER BY o_orderstatus, l_returnflag"),
    "window_lag_lead" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, " +
        "lag(o_totalprice, 1) OVER w AS prev_price, " +
        "lead(o_totalprice, 1) OVER w AS next_price, " +
        "CAST(ntile(4) OVER w AS INT) AS quartile, " +
        "round(percent_rank() OVER w, 6) AS pr " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
        "ORDER BY o_custkey, o_orderkey"),
    "string_agg_langs" ->
      ("SELECT lang, count(*) AS n_docs, count(DISTINCT source) AS n_sources, " +
        "string_agg(DISTINCT source, ',' ORDER BY source) AS sources " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "histogram_prices" ->
      // DuckDB has no width_bucket; this floor form is the same double
      // division Spark's WidthBucket evaluates ((hi-lo)/nb = 50000.0 is
      // exact in binary, so (v-0)/50000 is bit-identical arithmetic) with
      // the out-of-range clamps SQL-standard width_bucket defines
      ("SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0 WHEN o_totalprice >= 500000 THEN 11 " +
        "ELSE floor(o_totalprice / 50000) + 1 END AS BIGINT) AS bucket, " +
        "count(*) AS n FROM orders GROUP BY bucket ORDER BY bucket"),
    "scalar_subquery" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders o " +
        "WHERE CAST(o_totalprice AS DECIMAL(18,2)) * " +
        "(SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey) > " +
        "(SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders i " +
        "WHERE i.o_custkey = o.o_custkey) ORDER BY o_orderkey"),
    "q6_discount_revenue" ->
      ("SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, " +
        "count(*) AS n FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
    "q12_priority_lines" ->
      ("SELECT l_linestatus, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY l_linestatus ORDER BY l_linestatus"),
    "q18_large_orders" ->
      ("SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, " +
        "CAST(qty AS DOUBLE) AS total_qty FROM " +
        "(SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty " +
        "FROM lineitem GROUP BY l_orderkey HAVING qty > 300) " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey"),
    "q4_order_priority" ->
      ("SELECT o_orderpriority, count(*) AS order_count FROM orders o " +
        "WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey " +
        "AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q14_promo_revenue" ->
      ("SELECT promo_rev, total_rev, round(100.0 * promo_rev / total_rev, 6) AS promo_pct FROM " +
        "(SELECT CAST(sum(CASE WHEN p_type = 'PROMO' " +
        "THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_rev, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_rev " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01')"),
    "salted_join" ->
      // oracle runs the UNSALTED equivalent — the salt must be a pure
      // execution-strategy detail with zero result effect
      ("SELECT user_id % 10 AS tier, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
        "FROM events GROUP BY tier ORDER BY tier"),
  )
}
