package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

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

  /** Every node of `plan` that `pf` matches, inside adaptive plans and
    * their query stages too; fails when none does, so a guard over the
    * matches can never pass vacuously. */
  def nodes[T](plan: SparkPlan, what: String)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val found = SparkSpec.Plans.collect(plan)(pf)
    assert(found.nonEmpty, s"no $what in the plan:\n$plan")
    found
  }
}

object SparkSpec {
  private object Plans extends AdaptiveSparkPlanHelper
}
