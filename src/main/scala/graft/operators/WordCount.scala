package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.Tables

/** The reference engine's flagship (and only) query: word count.
  *
  * Reproduces the full reference dataflow
  * (/root/reference/src/mr/worker.rs + /root/reference/src/mr/function.rs):
  *   O1 scan → O2/O3 flatMap tokenize (strip, whitespace split, no
  *   lowercasing: one kernel, graft.plans.Tokens) → O4/O5/O6
  *   hash-partition shuffle → O7-O10 group + count
  *   → O12 global sort.
  * In Spark this is scan → Generate(explode) → partial HashAggregate →
  * ShuffleExchange(HashPartitioning) → final HashAggregate → Sort — the
  * map-side partial aggregate is a strict improvement over the reference
  * (which has no combiner) with identical results, and at 100 TB it is the
  * difference between shuffling one row per *token* and one row per
  * *(partition, distinct word)*.
  *
  * We intentionally reproduce the intended semantics, not the reference's
  * last-group-drop bug (SURVEY.md §7.4-3), and keep counts as LongType
  * rather than strings (§7.4-6).
  */
object WordCount {

  /** The map stage (tokenize, explode, partial count) reads the
    * kernel-wide documents scan, so a one-file corpus still maps on every
    * core (Tables.floorParallelism). */
  def wordcount(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsKernelWide(spark, dir)
      .select(explode(TextFunctions.tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** Word count restricted by a pushed-down predicate — demonstrates that
    * the filter reaches the parquet scan (PushedFilters) before tokenizing;
    * Catalyst pushes it below the kernel-wide repartition. */
  def wordcountFiltered(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsKernelWide(spark, dir)
      .filter(col("lang") === "en")
      .select(explode(TextFunctions.tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wordcount" -> wordcount,
    "wordcount_filtered" -> wordcountFiltered,
  )

  // DuckDB note: RE2 `\w` is ASCII-only while Spark's `(?U)\w` is Unicode;
  // the documents corpus is ASCII so the two tokenizations agree
  // (SURVEY.md §7.4-1).
  private val tokenizeSql =
    "SELECT unnest(string_split_regex(regexp_replace(text, '[^\\w\\s]+', '', 'g'), '\\s+')) AS word FROM documents"

  val oracle: Map[String, String] = Map(
    "wordcount" ->
      s"SELECT word, count(*) AS cnt FROM ($tokenizeSql) WHERE length(word) > 0 GROUP BY word ORDER BY word",
    "wordcount_filtered" ->
      ("SELECT word, count(*) AS cnt FROM (SELECT unnest(string_split_regex(regexp_replace(text, '[^\\w\\s]+', '', 'g'), '\\s+')) AS word " +
        "FROM documents WHERE lang = 'en') WHERE length(word) > 0 GROUP BY word ORDER BY word"),
  )
}
