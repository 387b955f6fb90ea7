package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextAnalysis}
import graft.sources.TempDirs

/** The vector rows over neighbors planted into a copy of the fixture's
  * `embeddings` (and `documents`, for the lexical leg), whose truth is
  * known by construction:
  *
  *  - `exact`: a copy of an organic vector under a fresh id;
  *  - `near`: a perturbed copy at cosine ≈ 0.995;
  *  - `hyb`: per panel query (vec_id < 10), a vector at cosine ≈ 1 − 1e-8
  *    (1.000000 at the engine's 6-dp ranking) plus a short document
  *    stacking the query's top-3 BM25 terms, built to top both legs of
  *    the hybrid;
  *  - `qnn`: per panel query, a second vector at cosine ≈ 1 − 1e-8 with a
  *    larger id and no document, so it is lexically absent.
  *
  * Each row is held to its own contract; where a miss is legitimate, the
  * engine's own intermediate frames must explain it. */
class PlantedVecSpec extends SparkSpec {
  import spark.implicits._

  /** (family, anchor id, planted id) and the planted corpus. */
  private lazy val (plants, dir) = {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label").as[(Long, Seq[Float], Int)].collect()
    val byId = vecs.map(v => v._1 -> v._2.map(_.toDouble)).toMap
    val rnd = new scala.util.Random(20260816)
    // v plus a random orthogonal component sized so that cos(v, out) = c
    def perturb(v: Seq[Double], c: Double): Seq[Double] = {
      def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
      val g = v.map(_ => rnd.nextGaussian())
      val r = g.zip(v).map { case (x, y) => x - dot(g, v) / dot(v, v) * y }
      val scale = math.tan(math.acos(c)) * math.sqrt(dot(v, v) / dot(r, r))
      v.zip(r).map { case (x, y) => x + scale * y }
    }
    val planted = (0 until 10).map(i => ("exact", 100L + i, 1000L + i, byId(100L + i))) ++
      (0 until 10).map(i => ("near", 200L + i, 1100L + i, perturb(byId(200L + i), 0.995))) ++
      (0 until 10).map(q => ("hyb", q.toLong, 1200L + q, perturb(byId(q.toLong), 1 - 1e-8))) ++
      (0 until 10).map(q => ("qnn", q.toLong, 1300L + q, perturb(byId(q.toLong), 1 - 1e-8)))
    // the query docs' top-3 BM25 terms, ranked as the hybrid's lexical leg
    // ranks them; a term the plants displace only keeps that query's hyb
    // plant from topping the lexical leg
    val terms = TextAnalysis.bm25Scored(spark, sf).filter(col("doc_id") < 10)
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("bm25"), asc("word"))))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("word")).as[(Long, String)].collect()
      .groupBy(_._1).map { case (q, ws) => q -> ws.map(_._2) }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source").as[(Long, String, String, String)].collect()
    val hybDocs = planted.filter(_._1 == "hyb").map { case (_, q, b, _) =>
      (b, terms(q).flatMap(Seq.fill(6)(_)).mkString(" "), docs.head._3, docs.head._4)
    }
    val out = TempDirs.create("graft_planted_vec_")
    (vecs.toSeq ++ planted.map(p => (p._3, p._4.map(_.toFloat), -1)))
      .toDF("vec_id", "embedding", "label").coalesce(1).write.parquet(s"$out/embeddings.parquet")
    (docs.toSeq ++ hybDocs).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$out/documents.parquet")
    (planted.map(p => (p._1, p._2, p._3)), out)
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def family(names: String*): Seq[(String, Long, Long)] =
    plants.filter(p => names.contains(p._1))

  /** Each panel query's probed cells, and each vector's cell. */
  private lazy val probed: Map[Long, Set[Long]] =
    Similarity.ivfProbeCells(spark, dir).select(col("qid").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
  private lazy val cell: Map[Long, Long] =
    Similarity.ivfAssign(spark, dir).as[(Long, Long)].collect().toMap

  private def isProbed(qid: Long, b: Long): Boolean = probed(qid).contains(cell(b))

  test("dedup_embedding catches every exact copy; a missed near-duplicate shares no band key") {
    val found = q("dedup_embedding").select(col("id1").cast("long"), col("id2").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(family("exact").filterNot(p => found((p._2, p._3))).isEmpty)
    val missed = family("near").filterNot(p => found((p._2, p._3)))
    if (missed.nonEmpty) {
      // 2 bands x 8 planes, as dedup_embedding bands them
      val keys = Similarity.annBandedKeys(Similarity.emb(spark, dir), 2, 8)
        .as[(Long, Int, Int)].collect().groupBy(_._1)
        .map { case (k, v) => k -> v.map(r => (r._2, r._3)).toSet }
      missed.foreach { case (_, a, b) => assert((keys(a) & keys(b)).isEmpty, (a, b)) }
    }
  }

  test("dedup_semantic drops the later copy of every exact pair and co-resident near pair") {
    val kept = q("dedup_semantic").select(col("vec_id").cast("long"), col("cell").cast("long"),
      col("kept")).as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    family("exact", "near").foreach { case (fam, a, b) =>
      val ((ca, _), (cb, keptB)) = (kept(a), kept(b))
      // identical vectors share their nearest centroid; a near pair split
      // across cells is SemDeDup's documented blind spot
      if (fam == "exact") assert(ca == cb, (a, b))
      if (ca == cb) assert(!keptB, (fam, a, b))
    }
  }

  test("ivf_search ranks the planted neighbors first unless their cell was not probed") {
    val ranked = q("ivf_search").select(col("qid").cast("long"), col("cand_id").cast("long"),
      col("cos")).as[(Long, Long, Double)].collect().groupBy(_._1)
    var armed = 0
    family("hyb", "qnn").groupBy(_._2).foreach { case (qid, ps) =>
      // tied at cosine 1.000000, the plants rank by id
      val want = ps.map(_._3).filter(isProbed(qid, _)).sorted
      val got = ranked(qid).take(want.size)
      assert(got.map(_._2).toSeq == want && got.forall(_._3 == 1.0), (qid, got.toSeq))
      armed += want.size
    }
    assert(armed > 0)
  }

  test("ivf_pq_search loses a planted neighbor only to pruning or quantization") {
    val top3 = q("ivf_pq_search").select(col("qid").cast("long"), col("cand_id").cast("long"),
      col("dist").cast("double"), col("rn").cast("int")).as[(Long, Long, Double, Int)]
      .collect().groupBy(_._1)
    val plantIds = family("hyb", "qnn").map(_._3)
    // the engine's own ADC distances before the top-3 cut
    val adc = Similarity.ivfPqScored(spark, dir).filter(col("cand_id").isin(plantIds: _*))
      .select(col("qid").cast("long"), col("cand_id").cast("long"), col("dist").cast("double"))
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    family("hyb", "qnn").foreach { case (_, qid, b) =>
      val rows = top3(qid)
      if (!rows.exists(_._2 == b) && isProbed(qid, b)) {
        val db = adc.getOrElse((qid, b), fail(s"plant $b of query $qid is absent from the ADC frame"))
        // a legitimate miss: the returned rank-3's (dist, id) key beats the plant's
        val (_, id3, d3, _) = rows.maxBy(_._4)
        assert(db > d3 || (db == d3 && b > id3), (qid, b, db, rows.toSeq))
        // a tie at the global ADC minimum is coherent only if every
        // returned candidate carries the plant's distance
        if (db == rows.minBy(_._4)._3) assert(rows.forall(_._3 == db), (qid, b, rows.toSeq))
      }
    }
  }

  test("hybrid_rrf_ivf fuses exactly the integer RRF of its measured legs") {
    val fused = q("hybrid_rrf_ivf").select(col("qid").cast("long"), col("cand_id").cast("long"),
      col("rrf").cast("long"), col("rrf_rank").cast("int")).as[(Long, Long, Long, Int)]
      .collect().groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._4).map(r => (r._2, r._3, r._4)).toSeq }
    val vec = Similarity.ivfProbeTopK(spark, dir, 10, None)
      .select(col("qid").cast("long"), col("cand_id").cast("long"), col("rn").cast("int"))
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val lex = Similarity.hybridLexTopK(spark, dir, 10, None)
      .select(col("qid").cast("long"), col("cand_id").cast("long"), col("lr").cast("int"))
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    def rrf(rank: Option[Int]): Long = rank.fold(0L)(r => 1000000000000L / (60 + r))
    (vec.keySet ++ lex.keySet).groupBy(_._1).foreach { case (qid, keys) =>
      val expect = keys.toSeq.map { k => (k._2, rrf(vec.get(k)) + rrf(lex.get(k))) }
        .sortBy { case (c, s) => (-s, c) }.take(5)
        .zipWithIndex.map { case ((c, s), i) => (c, s, i + 1) }
      assert(fused.getOrElse(qid, Nil) == expect, qid)
    }
    // a plant that tops both legs fuses to rank 1; at least one must
    val bothBest = family("hyb").filter(p => vec.get((p._2, p._3)).contains(1) &&
      lex.get((p._2, p._3)).contains(1))
    assert(bothBest.nonEmpty)
    bothBest.foreach { case (_, qid, b) => assert(fused(qid).head._1 == b, (qid, b)) }
    // no document carries a qnn plant's id
    family("qnn").foreach { case (_, qid, b) => assert(!lex.contains((qid, b)), (qid, b)) }
  }
}
