package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one local SparkSession per JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.sources.SpillSafety.tune(SparkSession.builder(), 4, 0.6)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
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
