package graft

import org.apache.spark.sql.execution.{ExecSubqueryExpression, FileSourceScanExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.col

import graft.plans.PlanNodes

/** The plan walk every plan guard reads: what it enters, and that its
  * queries cannot pass on a plan they never saw. */
class PlanNodesSpec extends SparkSpec {

  test("a stored stage read twice through a self-join is entered once") {
    val stored = spark.range(1000).select((col("id") % 10).as("k")).groupBy("k").count().persist()
    try {
      // different filters keep the two scans from collapsing into one reused exchange
      val w = walk(stored.filter(col("k") < 5).as("a").join(stored.filter(col("k") > 2).as("b"), "k"))
      assert(w.of[InMemoryTableScanExec].size == 2)
      assert(w.counts.stored == 1)
      // the build's partial and final aggregate, once, not once per scan
      assert(w.of[HashAggregateExec].size == 2)
      assert(w.counts.shuffles == 1 + w.of[SortMergeJoinExec].size * 2)
    } finally stored.unpersist()
  }

  test("a DPP subquery's scan is found") {
    val w = walk(graft.operators.Relational.dppPrune(spark, sf))
    val subqueryScans = dppScans(w).flatMap(_.partitionFilters).flatMap(_.collect { case e: ExecSubqueryExpression => e.plan })
      .flatMap(p => PlanNodes(p).of[FileSourceScanExec])
    assert(subqueryScans.nonEmpty, "the DPP filter plans no scan of its own")
    assert(subqueryScans.forall(s => w.all.exists(_ eq s)), "the walk missed the DPP subquery's scan")
  }

  test("a typed query with no match fails") {
    val w = walk(spark.range(3).toDF())
    intercept[PlanNodes.Mismatch](w.nodes[SortMergeJoinExec])
    intercept[PlanNodes.Mismatch](w.matching("sort-merge join") { case j: SortMergeJoinExec => j })
    w.none[CartesianProductExec]
  }

  test("an absence query fails on an empty walk") {
    intercept[PlanNodes.Mismatch](PlanNodes().none[CartesianProductExec])
    intercept[PlanNodes.Mismatch](PlanNodes().noneMatching("anything") { case p => p })
  }
}
