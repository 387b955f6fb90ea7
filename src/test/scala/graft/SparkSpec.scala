package graft

import org.apache.spark.sql.SparkSession
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
}
