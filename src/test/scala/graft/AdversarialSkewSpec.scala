package graft

import org.apache.spark.sql.functions._

/** Adversarial-skew stress fixture: the template-document / hot-key shape
  * a real crawl corpus has (one boilerplate template = 20% of documents,
  * one power user = 20% of events), generated here because the driver's
  * testdata is only mildly skewed. Exercises the detect→handle loop the
  * 100 TB design claims:
  *   - dedup_degree_hist DETECTS the hub (one degree bucket holding the
  *     whole template family),
  *   - the CC clustering HANDLES it (one cluster of exactly the family
  *     size, converging in O(log d) contraction rounds, no chaining),
  *   - the salted join rewrite beats the unsalted partitioning measurably
  *     (max partition share collapses from the hot key's 20% to ~1/R of
  *     it) while producing identical results,
  * all within wall-time bounds that a quadratic or driver-bound
  * regression would blow through. */
class AdversarialSkewSpec extends SparkSpec {

  private val SaltR = 8 // mirrors AdvancedSql's salt fan-out

  /** One fixture dir per suite run: documents with a 20% template family,
    * events with a 20% hot user. Written with the driver testdata's exact
    * schemas so the REAL operators run against it unmodified. */
  private lazy val fixtureDir: String = {
    val dir = graft.sources.TempDirs.create("graft_skew_fixture_")
    val template = (1 to 40).map(i => s"boilerplate$i").mkString(" ")
    spark.range(1000)
      .select(col("id").as("doc_id"),
        when(col("id") % 5 === 0, lit(template))
          .otherwise(concat_ws(" ", (0 until 12).map(j =>
            concat(lit(s"u${j}x"), col("id"))): _*)).as("text"),
        lit("en").as("lang"), lit("web").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    spark.range(50000)
      .select(col("id").as("event_id"),
        (lit(java.sql.Timestamp.valueOf("2025-01-01 00:00:00").getTime / 1000) +
          col("id") % 86400).cast("timestamp").as("ts"),
        when(col("id") % 5 === 0, 0L).otherwise(pmod(col("id"), lit(997)) + 1).as("user_id"),
        lit("view").as("event_type"),
        (col("id") % 100).cast("double").as("value"),
        concat(lit("p"), col("id")).as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("degree histogram detects the template hub, CC contains it as one exact cluster") {
    val t0 = System.nanoTime()
    val hist = operators.Dedup.dedupDegreeHist(spark, fixtureDir).collect()
    // detect: the 200 template docs form a clique — every member has
    // degree 199, and NOTHING else has a verified duplicate
    val hub = hist.filter(_.getAs[Long]("degree") == 199L)
    assert(hub.length == 1 && hub.head.getAs[Long]("n_nodes") == 200L,
      s"hub signature missing from degree histogram: ${hist.mkString(", ")}")
    assert(hist.length == 1, s"unique docs leaked into the dup graph: ${hist.mkString(", ")}")
    // handle: clustering the hub family converges (O(log d) contraction,
    // not a per-edge chain) and yields ONE cluster of exactly the family
    val clusters = operators.Dedup.dedupClusters(spark, fixtureDir)
      .groupBy("cluster_id").agg(count(lit(1)).as("n")).collect()
    assert(clusters.length == 1 && clusters.head.getAs[Long]("n") == 200L,
      s"template family did not cluster exactly: ${clusters.mkString(", ")}")
    val elapsed = (System.nanoTime() - t0) / 1e9
    // generous wall bound: the clique path is candidate-bounded (~20k
    // pairs); a quadratic corpus-wide or driver-looping regression is
    // minutes, not seconds
    assert(elapsed < 90, f"detect+handle took $elapsed%.1f s on the 1k-doc fixture")
  }

  test("salted partitioning beats unsalted on the hot key and preserves the join result") {
    val ev = sources.Tables.events(spark, fixtureDir)
      .select(col("event_id"), col("user_id"), col("value"))
    def maxShare(parted: org.apache.spark.sql.DataFrame): Double = {
      val counts = parted.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect()
      counts.max.toDouble / counts.sum
    }
    val unsalted = maxShare(ev.repartition(32, col("user_id")))
    val salted = maxShare(
      ev.repartition(32, col("user_id"), pmod(col("event_id"), lit(SaltR))))
    // hot user 0 owns 20% of rows: unsalted, its partition holds ≥20%;
    // salted, the hot key spreads over R shards (~2.5% each + uniform
    // residue). Require a ≥2× reduction — far inside the real gap, far
    // outside noise.
    assert(unsalted >= 0.19, f"fixture lost its hot key: max share $unsalted%.3f")
    assert(salted * 2 < unsalted,
      f"salting did not rebalance: unsalted $unsalted%.3f vs salted $salted%.3f")
    // and the REAL salted operator returns exactly the plain join's answer
    val saltedRows = operators.AdvancedSql.saltedJoin(spark, fixtureDir).collect()
    val dim = ev.select("user_id").distinct()
      .withColumn("tier", pmod(col("user_id"), lit(10)))
    val plainRows = ev.select(col("user_id"), col("value").cast("decimal(18,2)").as("v"))
      .join(dim, "user_id")
      .groupBy("tier")
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("total_value"))
      .orderBy("tier").collect()
    assert(saltedRows.map(_.toString).toSeq == plainRows.map(_.toString).toSeq,
      "salted join diverged from the unsalted reference on the skew fixture")
  }

  test("substring recurrence survives a corpus-wide boilerplate span: de-skewed count, exact spans") {
    import spark.implicits._
    // one 98-char boilerplate sentence embedded verbatim in 20% of 5k
    // otherwise-unique docs — every window inside the span recurs in 1k
    // documents, the hot-key shape a partitionBy(h) window would funnel
    // into ONE task's sort buffer (1k rows per hot hash on one key
    // range). The de-skewed groupBy(h) count partial-aggregates the hot
    // hash map-side; correctness is checked against an independent truth.
    val span = (1 to 11).map(i => f"boiler$i%02d").mkString(" ") // 8+1 chars × 11 − 1
    val spanLen = span.length.toLong
    assert(spanLen >= 60, s"span must dominate a window, got $spanLen")
    val docs = spark.range(5000).select(col("id").as("doc_id"),
      when(col("id") % 5 === 0,
        concat(lit("u"), col("id"), lit("p "), lit(span), lit(" u"), col("id"), lit("s")))
        .otherwise(concat(lit("unique text block "),
          concat_ws(" ", (0 until 8).map(j => concat(lit(s"w${j}q"), col("id"))): _*))).as("text"))
    val t0 = System.nanoTime()
    val cov = operators.Dedup.substringCoverage(docs)
    val rows = cov.collect()
    val elapsed = (System.nanoTime() - t0) / 1e9
    // independent truth: recurrence over the raw 40-char window STRINGS
    // (no hashes, no shared code with the operator), island-merged on
    // the driver — id-digit collisions in the margins legitimately
    // extend a carrier's run past the span, so the truth is computed,
    // not assumed
    val w = docs.filter(length(col("text")) >= 40)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - lit(39))).as("i"))
      .select(col("doc_id"), col("i"),
        expr("substring(text, cast(i as int), 40)").as("w"))
    val rec = w.groupBy("w").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("w")
    val dupPos = w.join(rec, "w").select(col("doc_id"), col("i"))
      .as[(Long, Int)].collect()
    val truth = dupPos.groupBy(_._1).map { case (d, ps) =>
      var n = 0L; var dupChars = 0L; var curS = -1; var curE = -2
      ps.map(_._2).sorted.foreach { s =>
        val e = s + 39
        if (curS < 0) { curS = s; curE = e; n = 1 }
        else if (s > curE) { dupChars += curE - curS + 1; curS = s; curE = e; n += 1 }
        else curE = math.max(curE, e)
      }
      dupChars += curE - curS + 1
      d -> (n, dupChars)
    }
    rows.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val want = truth.getOrElse(d, (0L, 0L))
      assert((r.getAs[Long]("n_spans"), r.getAs[Long]("dup_chars")) == want,
        s"doc $d: got (${r.getAs[Long]("n_spans")}, ${r.getAs[Long]("dup_chars")}), want $want")
    }
    // shape sanity: every carrier's duplicated run covers at least the span
    val carriers = rows.filter(_.getAs[Long]("doc_id") % 5 == 0)
    assert(carriers.length == 1000)
    assert(carriers.forall(_.getAs[Long]("dup_chars") >= spanLen))
    // structural de-skew proof: the executed plan partial-aggregates the
    // recurrence count on h (map-side combine on the hot key) and joins
    // it back with a HASH join — no corpus-wide per-key window sort
    val plan = walk(cov)
    partial[org.apache.spark.sql.catalyst.expressions.aggregate.Count](plan)
    plan.nodes[org.apache.spark.sql.execution.joins.HashJoin]
    // a single-task hot-key sort would take minutes at this shape
    assert(elapsed < 90, f"boilerplate fixture took $elapsed%.1f s")
  }
}
