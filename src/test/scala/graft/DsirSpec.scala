package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.operators.Dsir

class DsirSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reimplementation of the gram→bucket hash (JDK
    * MessageDigest, not Spark's md5 expression) — pins the cross-engine
    * contract the DuckDB oracle relies on. */
  private def jdkBucket(gram: String): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(gram.getBytes(StandardCharsets.UTF_8))
    val hex = d.take(3).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % Dsir.Buckets
  }

  test("bucket hash matches an independent JDK md5 fold, incl. non-ASCII") {
    val grams = Seq("the", "quick brown", "straße", "世界 你好", "éclair")
    val got = grams.toDF("g")
      .select(conv(substring(md5(col("g")), 1, 6), 16, 10).cast("long") % Dsir.Buckets)
      .as[Long].collect()
    assert(got.toSeq == grams.map(jdkBucket),
      s"engine buckets ${got.toSeq} != jdk ${grams.map(jdkBucket)}")
  }

  test("bucket stats: full domain, totals conserve the gram count, smoothed LLR signs track the ratio") {
    val stats = Dsir.dsirBucketStats(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(stats.length == Dsir.Buckets)
    assert(stats.map(_._1).toSeq == (0L until Dsir.Buckets.toLong))
    val rTot = stats.map(_._3).sum
    val tTot = stats.map(_._2).sum
    // every target gram is also a raw gram (target ⊂ raw)
    assert(tTot > 0 && tTot < rTot)
    stats.foreach { case (b, t, r, lr) =>
      assert(t <= r, s"bucket $b: target $t > raw $r")
      // recompute the floored nano-nat LLR from the emitted counts
      val want = math.floor(math.log(
        ((t + 1).toDouble * (rTot + Dsir.Buckets)) /
          ((r + 1).toDouble * (tTot + Dsir.Buckets))) * 1e9).toLong
      assert(lr == want, s"bucket $b: lr_nano $lr != recomputed $want")
    }
  }

  test("weights: n_grams = 2*|toks|-1, weight is the exact bucket-count dot product, en mean > non-en mean") {
    val w = Dsir.dsirWeights(spark, sf)
      .as[(Long, String, Long, Long)].collect()
    assert(w.length == 500)
    // n_grams arithmetic on one known doc (unigrams + bigrams)
    val toks = graft.sources.Tables.documents(spark, sf)
      .where(col("doc_id") === w.head._1)
      .select(graft.functions.TextFunctions.tokens(col("text")))
      .as[Seq[String]].head()
    val expectGrams = if (toks.isEmpty) 0L else 2L * toks.size - 1
    assert(w.head._3 == expectGrams)
    // the target slice must score higher on average — the point of DSIR
    val (en, rest) = w.partition(_._2 == "en")
    assert(en.map(_._4).sum / en.length > rest.map(_._4).sum / rest.length,
      "target-language docs do not outscore the raw mixture")
    // cross-check one doc's weight against bucket stats × its own grams
    val lr = Dsir.dsirBucketStats(spark, sf)
      .as[(Long, Long, Long, Long)].collect().map(s => s._1 -> s._4).toMap
    val doc = graft.sources.Tables.documents(spark, sf)
      .where(col("doc_id") === w.head._1)
      .select(col("text")).as[String].head()
    val grams = {
      val t = toks
      t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val manual = grams.map(g => lr(jdkBucket(g))).sum
    assert(w.head._4 == manual,
      s"doc ${w.head._1}: weight ${w.head._4} != manual dot product $manual (text: ${doc.take(40)}…)")
  }

  test("sample: SampleK rows, subset of roster, importance-shifted toward the target language") {
    val s = Dsir.dsirSample(spark, sf)
      .as[(Long, String, Long, Long)].collect()
    assert(s.length == Dsir.SampleK)
    assert(s.map(_._1).distinct.length == s.length, "duplicate doc in sample")
    val w = Dsir.dsirWeights(spark, sf)
      .as[(Long, String, Long, Long)].collect()
    val roster = w.map(r => r._1 -> r._4).toMap
    s.foreach { case (id, _, wn, _) =>
      assert(roster.get(id).contains(wn), s"sample doc $id weight drifted from roster")
    }
    val enCorpus = w.count(_._2 == "en").toDouble / w.length
    val enSample = s.count(_._2 == "en").toDouble / s.length
    assert(enSample > enCorpus,
      f"sample en fraction $enSample%.2f not above corpus $enCorpus%.2f")
    // emitted order: key_micro desc, doc_id asc
    val keys = s.map(r => (-r._4, r._1)).toSeq
    assert(keys == keys.sorted, "sample not ordered by (key desc, doc_id)")
  }

  test("shipped model: the gram-fold scorer reproduces the aggregate dot product doc-for-doc") {
    // the streaming twin's scoring path: reload the persisted LLR
    // artifact and fold per-doc grams — must equal the batch aggregate
    // derivation exactly (both are Σ_b c_b·lr_b in BIGINT)
    val root = graft.sources.ArtifactRoots.assertComplete(
      Dsir.modelRoot(spark, sf))
    val lrByBucket = Array.ofDim[Long](Dsir.Buckets)
    spark.read.parquet(s"$root/lr").select("bucket", "lr_nano").collect()
      .foreach(r => lrByBucket(r.getLong(0).toInt) = r.getLong(1))
    val folded = Dsir.scoreFrame(
        graft.sources.Tables.documents(spark, sf)
          .select("doc_id", "lang", "text"), lrByBucket)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val batch = Dsir.dsirWeights(spark, sf)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(folded == batch, {
      val d = folded.zip(batch).filter { case (a, b) => a != b }.take(3)
      s"gram-fold scorer diverged from the aggregate derivation: $d"
    })
  }

  test("plans: sample is a TakeOrdered top-k, weights carry no cartesian product and broadcast the LLR table") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    walk(Dsir.dsirSample(spark, sf)).nodes[TakeOrderedAndProjectExec]
    val wdf = Dsir.dsirWeights(spark, sf)
    val w = walk(wdf)
    w.none[CartesianProductExec]
    w.matching("broadcast LLR join") { case j @ (_: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec) => j }
    // the bucket models, their totals, and the per-doc weights must share
    // ONE tokenization pass: every consumer reads the persisted
    // (doc, lang, bucket) aggregate, so the optimized LOGICAL plan (where
    // InMemoryRelation is a leaf — the string form re-prints the cache
    // build under every scan) contains cache scans and ZERO tokenizer
    // Generates of its own
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val opt = wdf.queryExecution.optimizedPlan
    assert(opt.collect { case g: Generate => g }.isEmpty,
      s"weights plan tokenizes outside the shared persisted stage:\n$opt")
    assert(opt.collect { case r: InMemoryRelation => r }.nonEmpty,
      s"doc-bucket counts not served from the persisted shared stage:\n$opt")
  }
}
