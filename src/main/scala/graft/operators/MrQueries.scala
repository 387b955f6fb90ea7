package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.mr.MapReduce
import graft.sources.Tables

/** The generic map/reduce surface (SURVEY.md §2.2) exercised as queries:
  * word count re-expressed through both reduce paths, cross-checked against
  * the DataFrame version by sharing its DuckDB oracle. The map side reads
  * the kernel-wide documents scan, like the DataFrame word count.
  */
object MrQueries {

  /** Holistic path: flatMap → key-column shuffle at full width → sort →
    * mapGroups — the reference's exact execution shape (whole group
    * materialized per key); the final sort reads the materialized reduce
    * output. */
  def mrWordcount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val text = Tables.documentsKernelWide(spark, dir).select("text").as[String]
    val counts = MapReduce.mapReduce(
      text,
      MapReduce.wordCountMap,
      (k: String, vs: Iterator[Long]) => (k, vs.sum))
      .toDF("word", "cnt")
    MapReduce.sortedOutput(counts, "word")
  }

  /** Combiner path: flatMap → Aggregator (partial+final HashAggregate) —
    * the scale-correct version for associative reductions. */
  def mrWordcountCombine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val text = Tables.documentsKernelWide(spark, dir).select("text").as[String]
    val counts = MapReduce.mapReduceCombine[String, String, Long, Long, Long](
      text,
      MapReduce.wordCountMap,
      0L, _ + _, _ + _, identity)
      .toDF("word", "cnt")
    MapReduce.sortedOutput(counts, "word")
  }

  /** Inverted index through the generic surface — a reduce that genuinely
    * needs the whole group (sorted distinct posting list), i.e. the case
    * where the reference's holistic contract is the right tool and a
    * combiner isn't. Output as a comma-joined string for engine-portable
    * comparison. */
  def mrInvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documentsKernelWide(spark, dir)
      .select("doc_id", "text").as[(Long, String)]
    val index = MapReduce.mapReduce(
      docs,
      (d: (Long, String)) => MapReduce.wordCountMap(d._2).map { case (w, _) => (w, d._1) },
      (word: String, docIds: Iterator[Long]) =>
        (word, docIds.toSeq.distinct.sorted.mkString(",")))
      .toDF("word", "doc_ids")
    MapReduce.sortedOutput(index, "word")
  }

  /** Order reconciliation through the two-input holistic surface: for
    * every order key, BOTH complete groups (order rows, line rows) arrive
    * at one UDF call after a single co-partitioned shuffle. Absence
    * handling (an order with no lines) is explicit — the exact semantics
    * a FULL OUTER JOIN + re-aggregation would need two operators for.
    * Quantities fold through exact BigDecimal, so the per-group sum is
    * iteration-order-independent (group iterators are not ordered). */
  def mrCogroupOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority")).as[(Long, String)]
    val lines = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity")).as[(Long, Double)]
    val reconciled = MapReduce.coGroup(
      orders, lines, (_: (Long, String))._1, (_: (Long, Double))._1,
      (k: Long, os: Iterator[(Long, String)], ls: Iterator[(Long, Double)]) => {
        val priority = os.map(_._2).nextOption().getOrElse("NO_ORDER")
        var n = 0L
        var sum = BigDecimal(0)
        ls.foreach { l =>
          n += 1
          sum += BigDecimal(l._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        }
        Iterator((k, priority, n, sum.toDouble))
      })
      .toDF("o_orderkey", "priority", "n_lines", "sum_qty")
    MapReduce.sortedOutput(reconciled, "o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_wordcount" -> mrWordcount,
    "mr_wordcount_combine" -> mrWordcountCombine,
    "mr_inverted_index" -> mrInvertedIndex,
    "mr_cogroup_orders" -> mrCogroupOrders,
  )

  val oracle: Map[String, String] = Map(
    "mr_wordcount" -> WordCount.oracle("wordcount"),
    "mr_wordcount_combine" -> WordCount.oracle("wordcount"),
    "mr_cogroup_orders" ->
      ("SELECT coalesce(o_orderkey, l_orderkey) AS o_orderkey, " +
        "coalesce(o_orderpriority, 'NO_ORDER') AS priority, " +
        "count(l_orderkey) AS n_lines, " +
        "coalesce(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS sum_qty " +
        "FROM orders FULL OUTER JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY 1, 2 ORDER BY 1"),
    "mr_inverted_index" ->
      ("SELECT word, array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS doc_ids " +
        "FROM (SELECT doc_id, unnest(string_split_regex(regexp_replace(text, '[^\\w\\s]+', '', 'g'), '\\s+')) AS word " +
        "FROM documents) WHERE length(word) > 0 GROUP BY word ORDER BY word"),
  )
}
