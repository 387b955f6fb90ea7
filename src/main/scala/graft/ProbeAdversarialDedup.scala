package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Adversarial corpus probe for the document-dedup family: ONE generated
  * fixture combining the three shapes the round-15/16 budgets and skew
  * fixes defend against —
  *   - LONG documents (40 k chars, 10% of the corpus): the regime where
  *     a per-position window hash goes quadratic (r16 rolling-hash fix);
  *   - MASS-DUPLICATED BOILERPLATE (a 300-char span verbatim in 20%):
  *     the hot window-hash a per-key window sort would funnel into one
  *     task (r16 de-skew fix);
  *   - TINY VOCABULARY (all short docs drawn from 40 words, in 50
  *     identical-content groups with near-dup jitter): defeats prefix
  *     filtering and inflates every block/bucket — the corpus shape the
  *     candidate-pair budgets exist to refuse.
  * Every row of Dedup.queries runs against it at 1× and 10×; the probe
  * records wall seconds, or the REFUSAL (budget contract) — both are
  * passes, silence would be the failure. The embedding-/media-side dedup
  * rows (dedup_embedding, dedup_semantic, media_dedup) are text-shape-
  * independent and out of scope here.
  *
  * Output: one JSON line per row per scale; committed as a BENCH_r{N}
  * probe with the PLANS table that interprets it. */
object ProbeAdversarialDedup {

  private def genFixture(spark: SparkSession, nDocs: Int): String = {
    val dir = graft.sources.TempDirs.create("graft_adv_dedup_")
    val vocab = array((0 until 40).map(i => lit(f"word$i%02d")): _*)
    val span = (0 until 42).map(i => f"boiler${i % 9}%dplate").mkString(" ").take(300)
    val id = col("id")
    // 50 content groups: docs in a group share the exact word sequence
    // (mass exact dups); every third doc appends one word (near-dups)
    val g = id % 50
    val nWords = lit(60) + (g % 31)
    val words = transform(sequence(lit(1), nWords),
      j => element_at(vocab, ((g * 7 + j * 13) % 40 + 1).cast("int")))
    val vocabDoc = concat_ws(" ", flatten(array(words,
      when(id % 3 === 0, array(lit("jitterword"))).otherwise(array().cast("array<string>")))))
    val longDoc = concat(
      repeat(concat(lit("f"), format_string("%07d", id), lit("x")), 2500),
      lit(span),
      repeat(concat(lit("g"), format_string("%07d", id), lit("y")), 2500))
    val carrierDoc = concat(
      repeat(concat(lit("u"), format_string("%07d", id), lit("p")), 30),
      lit(" "), lit(span), lit(" "),
      repeat(concat(lit("v"), format_string("%07d", id), lit("q")), 30))
    spark.range(nDocs)
      .select(id.as("doc_id"),
        when(id % 10 === 0, longDoc)
          .when(id % 10 === 1 || id % 10 === 2, carrierDoc)
          .otherwise(vocabDoc).as("text"),
        lit("en").as("lang"), lit("web").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val mult = sys.env.getOrElse("SPARK_GRAFT_ADV_MULT", "1").toInt
    val spark = graft.sources.SpillSafety.tune(SparkSession.builder(),
        cpus.toInt, 0.6)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val nDocs = 2000 * mult
    val dir = genFixture(spark, nDocs)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val rows = operators.Dedup.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val out = rows.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val status =
        try {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          "ok"
        } catch {
          case e: Throwable =>
            def msgs(t: Throwable): Seq[String] =
              Option(t).toSeq.flatMap(x =>
                Option(x.getMessage).toSeq ++ msgs(x.getCause))
            val all = msgs(e).mkString(" | ")
            if (all.contains("budget")) "refused" else {
              // strip EVERY control char + JSON specials — the brief is
              // embedded verbatim in the JSON artifact
              val brief = all.replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(120)
              s"error: $brief"
            }
        }
      val wall = (System.nanoTime() - t0) / 1e9
      f"""{"row":"$name","n_docs":$nDocs,"status":"$status","wall_s":$wall%.3f}"""
    }
    println("[" + out.mkString(",\n") + "]")
    spark.stop()
  }
}
