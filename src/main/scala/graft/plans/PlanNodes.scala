package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** One walk of a physical plan: the node list every plan guard, `Explain`
  * and a cost ledger read, so all of them count one way.
  *
  * The walk visits each node once. It enters adaptive plans (their
  * current plan: the initial plan before execution, the final one after),
  * query stages and subqueries (DPP filters, scalar subqueries). It enters
  * the build plan of each distinct stored stage (`InMemoryTableScanExec`,
  * keyed by its cache builder) once, however many scans read it. A
  * `ReusedExchangeExec` is a leaf: the exchange it reuses is walked where
  * it is planned.
  *
  * Queries that select nodes fail when nothing matches, and absence
  * queries fail on an empty walk, so no guard passes on a plan it never
  * saw. */
final class PlanNodes private (val all: IndexedSeq[SparkPlan], stored: Int, roots: Seq[SparkPlan]) {

  /** Every walked node that `pf` matches; may be empty. */
  def collect[T](pf: PartialFunction[SparkPlan, T]): Seq[T] = all.collect(pf)

  /** Every walked node of type `T`; may be empty. */
  def of[T <: SparkPlan](implicit t: ClassTag[T]): Seq[T] = collect { case t(n) => n }

  /** Every walked node that `pf` matches; fails when none does. */
  def matching[T](what: String)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val found = collect(pf)
    if (found.isEmpty) fail(s"no $what")
    found
  }

  /** Every walked node of type `T`; fails when there is none. */
  def nodes[T <: SparkPlan](implicit t: ClassTag[T]): Seq[T] =
    matching(t.runtimeClass.getSimpleName) { case t(n) => n }

  /** Fails when a walked node matches `pf`, or when nothing was walked. */
  def noneMatching(what: String)(pf: PartialFunction[SparkPlan, Any]): Unit = {
    if (all.isEmpty) fail(s"an empty walk cannot show the absence of $what")
    val found = collect(pf)
    if (found.nonEmpty) fail(s"${found.size} x $what")
  }

  /** Fails when a node of type `T` is walked, or when nothing was walked. */
  def none[T <: SparkPlan](implicit t: ClassTag[T]): Unit =
    noneMatching(t.runtimeClass.getSimpleName) { case t(n) => n }

  /** Operators (every node but the adaptive and codegen wrappers),
    * shuffle and broadcast exchanges, and distinct stored stages. */
  def counts: PlanNodes.Counts = PlanNodes.Counts(
    nodes = all.count {
      case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: WholeStageCodegenExec |
          _: InputAdapter => false
      case _ => true
    },
    shuffles = of[ShuffleExchangeLike].size,
    broadcasts = of[BroadcastExchangeLike].size,
    stored = stored)

  private def fail(what: String): Nothing =
    throw new PlanNodes.Mismatch(s"$what in the plan:\n${roots.mkString("\n")}")
}

object PlanNodes {

  /** A node query that the walked plan does not satisfy. */
  final class Mismatch(msg: String) extends RuntimeException(msg)

  final case class Counts(nodes: Int, shuffles: Int, broadcasts: Int, stored: Int) {
    override def toString: String =
      s"nodes=$nodes shuffles=$shuffles broadcasts=$broadcasts stored=$stored"
  }

  /** One walk over `roots`: a node or stored stage they share is visited once. */
  def apply(roots: SparkPlan*): PlanNodes = {
    // by identity: the nodes visited and the cache builders entered
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    val out = IndexedSeq.newBuilder[SparkPlan]
    var stored = 0
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      val next = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case m: InMemoryTableScanExec if seen.add(m.relation.cacheBuilder) =>
          stored += 1
          Seq(m.relation.cacheBuilder.cachedPlan)
        case _ => p.children
      }
      next.foreach(walk)
      p.subqueries.foreach(walk)
    }
    roots.foreach(walk)
    new PlanNodes(out.result(), stored, roots)
  }

  /** The walk of `df`'s executed plan. */
  def of(df: DataFrame): PlanNodes = apply(df.queryExecution.executedPlan)
}
