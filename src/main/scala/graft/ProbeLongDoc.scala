package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Long-document scaling probe for the position-level dedup kernel
  * (Dedup.substringCoverage): fixed total corpus characters, document
  * length swept 3k → 96k chars. The previous per-position
  * `md5(substring(text, i, SubK))` window hash was O(len²) per document
  * (UTF8String.substring walks to the char offset from the string start),
  * invisible on the 100–500-char test corpus but ~10¹⁰ byte steps on a
  * 100 kB web document — the exact regime ExactSubstr-style dedup exists
  * for. With the Rabin-Karp rolling hash the whole kernel is corpus-linear
  * regardless of document length, so the wall across this sweep must stay
  * ~flat (the quadratic formulation blows up ×32 across the same sweep).
  *
  * Output: one JSON line, committed as BENCH_r{N}_probe_longdoc.json.
  */
object ProbeLongDoc {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.sources.SpillSafety.tune(SparkSession.builder(),
        cpus.toInt, 0.6)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    val totalChars = 12L * 1000 * 1000
    // one shared 400-char boilerplate span, embedded in 10% of docs so the
    // kernel does real recurrence + island-merge work at every length
    val span = (1 to 50).map(i => f"boil$i%03dz").mkString // 50 × 8 = 400 chars
    val runs = Seq(3000, 12000, 48000, 96000).map { docLen =>
      val nDocs = (totalChars / docLen).toInt
      val unit = 8 // approx len of the per-doc filler unit below
      val fillReps = (docLen - span.length) / (2 * unit)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        when(col("id") % 10 === 0,
          concat(repeat(concat(lit("f"), format_string("%06d", col("id")), lit("y")), fillReps),
            lit(span),
            repeat(concat(lit("g"), format_string("%06d", col("id")), lit("w")), fillReps)))
          .otherwise(
            concat(repeat(concat(lit("f"), format_string("%06d", col("id")), lit("y")), fillReps),
              repeat(concat(lit("g"), format_string("%06d", col("id")), lit("w")), fillReps)))
          .as("text"))
      val t0 = System.nanoTime()
      val covered = operators.Dedup.substringCoverage(docs)
        .filter(col("dup_chars") > 0).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // sanity: exactly the carriers (and only they) show duplication
      val carriers = (nDocs + 9) / 10
      require(covered == carriers, s"docLen=$docLen: covered=$covered, want $carriers")
      (docLen, nDocs, wall)
    }
    val runsJson = runs.map { case (l, n, w) =>
      f"""{"doc_len":$l,"n_docs":$n,"wall_s":$w%.3f}"""
    }.mkString("[", ",", "]")
    println(s"""{"probe":"longdoc","total_chars":$totalChars,"runs":$runsJson}""")
    spark.stop()
  }
}
