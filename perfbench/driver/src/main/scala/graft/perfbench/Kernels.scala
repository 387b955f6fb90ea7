package graft.perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.plans.{StringExpressions, VectorExpressions}
import graft.sources.Tables

/** Traced-run probes of single layers, each written to a noop sink:
  * the bare `graft.sources` scan of every input table, and each kernel of
  * `graft.functions` / `graft.plans` over the workload's own column. A
  * kernel's time is (input + kernel) minus (input alone), both medians of
  * [[Reps]] runs, so it excludes the scan and the input preparation
  * (tokenizing, for the kernels over token arrays). */
object Kernels {
  private val Reps = 3

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, dir: String, tracer: Tracer): ListMap[String, Any] = {
    def timed(name: String)(df: => DataFrame): Double = {
      val ts = (1 to Reps).map { _ =>
        tracer.begin(name, "kernel")
        val t0 = System.nanoTime()
        noop(df)
        val t = (System.nanoTime() - t0) / 1e9
        tracer.end()
        t
      }.sorted
      ts(Reps / 2)
    }
    def kernel(name: String, input: DataFrame, k: Column): Double =
      timed(s"$name.kernel")(input.select(k)) - timed(s"$name.input")(input)

    val tables = Seq("documents", "embeddings", "events")
      .filter(t => new java.io.File(s"$dir/$t.parquet").exists)
    tracer.begin("kernels", "kernels")
    val scan = tables.map(t => timed(s"scan.$t")(Tables.table(spark, dir, t))).sum
    val text = if (tables.contains("documents")) {
      val docs = Tables.documents(spark, dir).select("text")
      val toks = docs.select(TextFunctions.tokens(col("text")).as("toks"))
      val hashed = toks.select(array_sort(array_distinct(
        transform(col("toks"), t => xxhash64(t)))).as("h"))
      Seq(
        "functions.tokens_s" -> kernel("tokens", docs, TextFunctions.tokens(col("text"))),
        "functions.minhash_s" -> kernel("minhash", toks,
          TextFunctions.minhashSignature(array_distinct(col("toks")), 8)),
        "plans.jaro_s" -> kernel("jaro", docs,
          StringExpressions.jaro_winkler(col("text"), reverse(col("text")))),
        "plans.intersect_s" -> kernel("intersect", hashed,
          VectorExpressions.sorted_intersect_count(col("h"), col("h"))),
        "plans.window_hash_s" -> kernel("window_hash", docs,
          StringExpressions.rolling_window_hashes(col("text"), 40)))
    } else Nil
    val vec = if (tables.contains("embeddings")) {
      val v = Tables.embeddings(spark, dir).select(VectorFunctions.toDoubleVec(col("embedding")).as("v"))
      Seq("plans.vec_cosine_s" -> kernel("vec_cosine", v,
        VectorExpressions.vec_cosine(col("v"), reverse(col("v")))))
    } else Nil
    tracer.end()
    ListMap[String, Any]((("sources.scan_s" -> scan) +: (text ++ vec)): _*)
  }
}
