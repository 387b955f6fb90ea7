package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.lit

import graft.plans.PlanNodes
import graft.sources.{Tables, TempDirs}

/** The loaders in `graft.sources.Tables`: where the width of a kernel
  * stage is decided, and how often a table's schema is inferred. */
class TablesSpec extends SparkSpec {

  /** The entries whose map stage tokenizes every document. */
  private val wordCountFamily = Seq(
    "wordcount", "wordcount_filtered", "mr_wordcount", "mr_wordcount_combine", "mr_inverted_index")

  /** A dataset dir holding the test corpus's documents as `files` parquet files. */
  private def documentsAs(files: Int): String = {
    val ds = TempDirs.create("graft_tables_docs_")
    spark.read.parquet(s"$sf/documents.parquet").repartition(files)
      .write.parquet(s"$ds/documents.parquet")
    ds
  }

  private lazy val oneFile = documentsAs(1)
  private lazy val manyFiles = documentsAs(2 * spark.sparkContext.defaultParallelism)

  /** The tokenizing nodes of `df`'s plan, before AQE runs it: the explode
    * of the Column path, the flatMap of the typed path. */
  private def tokenizers(df: DataFrame): Seq[SparkPlan] =
    walk(df).matching("tokenizing node") { case t @ (_: GenerateExec | _: MapPartitionsExec) => t }

  private def kernelWide(e: ShuffleExchangeExec): Boolean = e.outputPartitioning match {
    case HashPartitioning(Seq(a: Attribute), n) =>
      a.name == "doc_id" && n == spark.sparkContext.defaultParallelism
    case _ => false
  }

  test("the word-count family tokenizes a one-file corpus behind a doc_id exchange at full width") {
    assert(Tables.documents(spark, oneFile).rdd.getNumPartitions == 1)
    wordCountFamily.foreach { name =>
      tokenizers(SparkEntry.queries(name)(spark, oneFile)).foreach { t =>
        assert(PlanNodes(t).of[ShuffleExchangeExec].exists(kernelWide),
          s"$name: no hashpartitioning(doc_id, defaultParallelism) below ${t.nodeName}:\n$t")
      }
    }
  }

  test("a corpus of at least defaultParallelism files gains no exchange below the tokenizer") {
    assert(Tables.documents(spark, manyFiles).rdd.getNumPartitions * 2 >=
      spark.sparkContext.defaultParallelism, "the wide corpus must already scan wide")
    wordCountFamily.foreach { name =>
      tokenizers(SparkEntry.queries(name)(spark, manyFiles)).foreach { t =>
        assert(PlanNodes(t).of[ShuffleExchangeExec].isEmpty,
          s"$name: an exchange below ${t.nodeName} of a wide scan:\n$t")
      }
    }
  }

  test("wordcount_filtered's lang predicate still reaches the scan below the repartition") {
    walk(SparkEntry.queries("wordcount_filtered")(spark, oneFile)).nodes[FileSourceScanExec].foreach(s =>
      assert(s.dataFilters.exists(_.references.exists(_.name == "lang")), s"lang is not pushed to the scan:\n$s"))
  }

  test("a table's schema is inferred once per session and dataset, and again after regeneration") {
    val ds = documentsAs(1)
    val (first, inferJobs) = jobsRunBy(Tables.documents(spark, ds))
    assert(inferJobs.size >= 1, "the first read infers the schema from the parquet footers")
    val (second, rereadJobs) = jobsRunBy(Tables.documents(spark, ds))
    assert(rereadJobs.isEmpty, s"a second read of the same table ran ${rereadJobs.size} Spark job(s)")
    assert(second.schema == first.schema && second.count() == first.count())

    spark.read.parquet(s"$sf/documents.parquet").withColumn("regenerated", lit(1))
      .write.mode("overwrite").parquet(s"$ds/documents.parquet")
    val (third, regenJobs) = jobsRunBy(Tables.documents(spark, ds))
    assert(regenJobs.size >= 1, "a regenerated table must be inferred again")
    assert(third.columns.contains("regenerated"), s"stale schema after regeneration: ${third.columns.mkString(",")}")
  }
}
