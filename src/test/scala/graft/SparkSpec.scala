package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, DynamicPruningExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, Partial}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Window => LWindow}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanNodes

/** Shared session for all suites — one local SparkSession per JVM. */
object TestSpark {
  lazy val spark: SparkSession = graft.sources.Session.local(cores = 4, extra = Seq(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> "target/spark-warehouse"))
  val sf: String = "/root/testdata/sf0.001"
  /** The next scale factor beside [[sf]]: a second, different dataset for
    * specs that switch datasets or regenerate one in place. */
  val sfOther: String = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf
  val sfOther: String = TestSpark.sfOther

  /** `body`'s value and the ids of the Spark jobs it started (under a
    * fresh job group, read once the listener bus has drained), in id order. */
  def jobsRunBy[T](body: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"${getClass.getSimpleName}-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, getClass.getSimpleName, interruptOnCancel = false)
    val v = try body finally sc.clearJobGroup()
    org.apache.spark.GraftListenerBridge.drainListenerBus(sc, 60000L)
    (v, sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted)
  }

  /** The walk of `df`'s executed plan. */
  def walk(df: DataFrame): PlanNodes = PlanNodes.of(df)

  /** The key columns of each hash-partitioned shuffle in `w`, in key order. */
  def hashKeys(w: PlanNodes): Seq[Seq[String]] =
    w.collect { case s: ShuffleExchangeLike => s.outputPartitioning }.collect {
      case h: HashPartitioning => h.expressions.flatMap(_.collect { case a: Attribute => a.name })
    }

  /** The scans in `w` that carry a dynamic partition pruning filter; fails
    * when none does. */
  def dppScans(w: PlanNodes): Seq[FileSourceScanExec] =
    w.matching("DPP-pruned scan") {
      case s: FileSourceScanExec if s.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruningExpression])) => s
    }

  /** The aggregates in `w` that run an `F` in partial mode, below their
    * exchange; fails when none does. */
  def partial[F <: AggregateFunction](w: PlanNodes)(implicit f: ClassTag[F]): Seq[BaseAggregateExec] =
    w.matching(s"partial ${f.runtimeClass.getSimpleName}") {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
        e.mode == Partial && f.runtimeClass.isInstance(e.aggregateFunction)) => a
    }

  /** The three properties every plan keeps at any scale, as violations:
    * no CartesianProduct in the physical walk (a pair materialization is
    * quadratic); no Window with an empty partitionSpec in the analyzed
    * plan unless `windowOk` admits it (a global window sorts its whole
    * input in one task); no LocalRelation over 10k rows (a
    * collect()-shaped loop built the input on the driver). The analyzed
    * plan, not the optimized one: persist barriers hide sub-plans inside
    * InMemoryRelation after optimization. */
  def postureViolations(qe: QueryExecution)(windowOk: LWindow => Boolean): Seq[String] = {
    val cartesian = PlanNodes(qe.executedPlan).of[CartesianProductExec].size
    val windows = qe.analyzed.collect { case w: LWindow if w.partitionSpec.isEmpty && !windowOk(w) => w }
    val local = qe.analyzed.collect { case l: LocalRelation if l.data.size > 10000 => l.data.size }
    Seq(
      Option.when(cartesian > 0)(s"$cartesian CartesianProduct(s) in the physical plan"),
      Option.when(windows.nonEmpty)(s"${windows.size} unpartitioned window(s)"),
      Option.when(local.nonEmpty)(s"driver-materialized LocalRelation of ${local.max} rows")).flatten
  }
}
