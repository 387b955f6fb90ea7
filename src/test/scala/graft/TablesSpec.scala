package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.lit

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

  /** The physical plan with its planned Exchanges, before AQE runs it. */
  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

  /** Every node of `plan` that `pf` matches; fails when none does, so a
    * guard over the matches can never pass vacuously. */
  private def nodes[T](plan: SparkPlan, what: String)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val found = plan.collect(pf)
    assert(found.nonEmpty, s"no $what in the plan:\n$plan")
    found
  }

  /** The tokenizing nodes: the explode of the Column path, the flatMap of
    * the typed path. */
  private def tokenizers(plan: SparkPlan): Seq[SparkPlan] =
    nodes(plan, "tokenizing node") {
      case g: GenerateExec => g
      case m: MapPartitionsExec => m
    }

  private def kernelWide(e: ShuffleExchangeExec): Boolean = e.outputPartitioning match {
    case HashPartitioning(Seq(a: Attribute), n) =>
      a.name == "doc_id" && n == spark.sparkContext.defaultParallelism
    case _ => false
  }

  test("the word-count family tokenizes a one-file corpus behind a doc_id exchange at full width") {
    assert(Tables.documents(spark, oneFile).rdd.getNumPartitions == 1)
    wordCountFamily.foreach { name =>
      val plan = physical(SparkEntry.queries(name)(spark, oneFile))
      tokenizers(plan).foreach { t =>
        val below = t.collect { case e: ShuffleExchangeExec => e }
        assert(below.exists(kernelWide),
          s"$name: no hashpartitioning(doc_id, defaultParallelism) below ${t.nodeName}:\n$plan")
      }
    }
  }

  test("a corpus of at least defaultParallelism files gains no exchange below the tokenizer") {
    assert(Tables.documents(spark, manyFiles).rdd.getNumPartitions * 2 >=
      spark.sparkContext.defaultParallelism, "the wide corpus must already scan wide")
    wordCountFamily.foreach { name =>
      val plan = physical(SparkEntry.queries(name)(spark, manyFiles))
      tokenizers(plan).foreach { t =>
        val below = t.collect { case e: ShuffleExchangeExec => e }
        assert(below.isEmpty, s"$name: an exchange below ${t.nodeName} of a wide scan:\n$plan")
      }
    }
  }

  test("wordcount_filtered's lang predicate still reaches the scan below the repartition") {
    val plan = physical(SparkEntry.queries("wordcount_filtered")(spark, oneFile))
    val scans = nodes(plan, "documents scan") { case s: FileSourceScanExec => s }
    scans.foreach(s => assert(s.dataFilters.exists(_.references.exists(_.name == "lang")),
      s"lang is not pushed to the scan:\n$plan"))
  }

  /** Spark jobs started on this thread while `body` runs. */
  private def jobsRunBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "TablesSpec", interruptOnCancel = false)
    try {
      val v = body
      org.apache.spark.GraftListenerBridge.drainListenerBus(sc, 60000L)
      (v, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a table's schema is inferred once per session and dataset, and again after regeneration") {
    val ds = documentsAs(1)
    val (first, inferJobs) = jobsRunBy(Tables.documents(spark, ds))
    assert(inferJobs >= 1, "the first read infers the schema from the parquet footers")
    val (second, rereadJobs) = jobsRunBy(Tables.documents(spark, ds))
    assert(rereadJobs == 0, s"a second read of the same table ran $rereadJobs Spark job(s)")
    assert(second.schema == first.schema && second.count() == first.count())

    spark.read.parquet(s"$sf/documents.parquet").withColumn("regenerated", lit(1))
      .write.mode("overwrite").parquet(s"$ds/documents.parquet")
    val (third, regenJobs) = jobsRunBy(Tables.documents(spark, ds))
    assert(regenJobs >= 1, "a regenerated table must be inferred again")
    assert(third.columns.contains("regenerated"), s"stale schema after regeneration: ${third.columns.mkString(",")}")
  }
}
