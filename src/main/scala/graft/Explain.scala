package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump the formatted physical plan of every query (or the ones
  * named in args) to a file for pushdown/broadcast/shuffle review, each
  * under one line of counts from the plan walk ([[graft.plans.PlanNodes]]):
  * operators, shuffle and broadcast exchanges, and stored stages, each
  * stored stage's build counted once. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_OUT", "/tmp/graft_plans.txt")
    val spark = graft.sources.Session.local()
    val wanted = if (args.isEmpty) SparkEntry.queries.keySet else args.toSet
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (wanted(name)) {
        sb.append(s"\n===== $name =====\n")
        try {
          val qe = fn(spark, sfDir).queryExecution
          sb.append(s"counts: ${graft.plans.PlanNodes(qe.executedPlan).counts}\n")
          sb.append(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"plans written to $out")
    spark.stop()
  }
}
