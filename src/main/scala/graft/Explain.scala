package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev tool: dump the formatted physical plan of every query (or the ones
  * named in args) to a file for pushdown/broadcast/shuffle review. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_OUT", "/tmp/graft_plans.txt")
    val spark = graft.sources.SpillSafety.tune(SparkSession.builder(), 4, 0.6)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = if (args.isEmpty) SparkEntry.queries.keySet else args.toSet
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (wanted(name)) {
        sb.append(s"\n===== $name =====\n")
        try sb.append(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"plans written to $out")
    spark.stop()
  }
}
