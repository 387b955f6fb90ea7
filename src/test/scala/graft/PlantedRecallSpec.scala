package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.TempDirs

/** Recall of the registered text-dedup rows over a duplicate population
  * planted into a copy of the fixture, whose truth is known by
  * construction. Each family is held to its own contract:
  *
  *  - `dedup_setsim_join` (PPJoin): prefix filtering is lossless, so
  *    every planted pair with J ≥ 1/2 is found: exact copies, high-J
  *    (≈0.93) and low-J (≈0.6) near-duplicates.
  *  - `dedup_exact`: both members of an exact pair hash into one group.
  *  - `dedup_minhash_lsh` and `dedup_verify_candidates`: exact copies
  *    have identical signatures, so every band collides. Recall below
  *    J = 1 is probabilistic by design and is not asserted.
  *  - `dedup_substring`: window anchoring is exact, so a doc sharing one
  *    span reports exactly one span of exactly the shared region's
  *    length.
  *  - `line_dedup_apply` / `line_dedup_keep_first`: an 8-token line
  *    recurring in 5 docs (≥ k = 3) is cut from all 5, or from all but
  *    its min-`doc_id` copy. */
class PlantedRecallSpec extends SparkSpec {
  import spark.implicits._

  private val Pairs = 10

  /** (family, id1, id2) planted pairs, (doc_id, shared chars) substring
    * docs, (doc_id, is_keeper) line docs, and the planted corpus. */
  private lazy val (pairs, spans, lines, dir) = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang", "source").as[(Long, String, String, String)]
      .collect().sortBy(_._1)
    // sources: docs long enough to carry a few dozen shingles; each pair
    // overwrites a doc from the far end of the id range
    val src = docs.filter(_._2.split(" ").length >= 30).map(_._1).take(3 * Pairs)
    val dst = docs.map(_._1).reverse.take(3 * Pairs)
    require(src.intersect(dst).isEmpty)
    val text = docs.map(d => d._1 -> d._2).toMap
    def grams(t: String): Int = t.split(" ").sliding(3).map(_.mkString(" ")).toSet.size
    val planted = Seq("exact", "hi", "lo").zipWithIndex.flatMap { case (fam, f) =>
      (0 until Pairs).map { i =>
        val (a, b) = (src(f * Pairs + i), dst(f * Pairs + i))
        // each appended pair-unique token adds one 3-gram: J = G / (G + m)
        val m = fam match { case "exact" => 0; case "hi" => 3; case "lo" => 2 * grams(text(a)) / 3 }
        (fam, a, b, (text(a) +: (0 until m).map(j => s"p${fam}${i}t$j")).mkString(" "))
      }
    }
    // synthetic substring pairs: unique filler around one shared 15-token
    // span at different offsets; the shared region is the span plus any
    // identical characters around it
    val sub = (0 until 5).flatMap { i =>
      val span = (0 until 15).map(j => s"spn${i}w$j").mkString(" ")
      val (c1, c2) = (1000L + 2 * i, 1001L + 2 * i)
      val t1 = ((0 until 20).map(j => s"sfa${c1}w$j") ++ Seq(span) ++
        (20 until 60).map(j => s"sfa${c1}w$j")).mkString(" ")
      val t2 = ((0 until 35).map(j => s"sfb${c2}w$j") ++ Seq(span) ++
        (35 until 60).map(j => s"sfb${c2}w$j")).mkString(" ")
      val (i1, i2) = (t1.indexOf(span), t2.indexOf(span))
      val left = Iterator.from(1).takeWhile(k => t1(i1 - k) == t2(i2 - k)).size
      val right = Iterator.from(0).takeWhile(k =>
        t1(i1 + span.length + k) == t2(i2 + span.length + k)).size
      val shared = left + span.length + right
      Seq((c1, t1, shared), (c2, t2, shared))
    }
    // one 8-token line at reflow grid line 1 of five 32-token docs
    val line = (0 until 8).map(j => s"lg0w$j")
    val lineDocs = (0 until 5).map { k =>
      val id = 1100L + k
      val filler = (0 until 24).map(j => s"lf${id}w$j")
      (id, (filler.take(8) ++ line ++ filler.drop(8)).mkString(" "))
    }
    val replaced = planted.map(p => p._3 -> p._4).toMap
    val (lang, source) = (docs.head._3, docs.head._4)
    val rows = docs.map { case (id, t, l, s) => (id, replaced.getOrElse(id, t), l, s) } ++
      (sub.map(s => (s._1, s._2)) ++ lineDocs).map { case (id, t) => (id, t, lang, source) }
    val out = TempDirs.create("graft_planted_recall_")
    rows.toSeq.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$out/documents.parquet")
    (planted.map(p => (p._1, p._2, p._3)), sub.map(s => s._1 -> s._3).toMap,
      lineDocs.map(d => d._1 -> (d._1 == 1100L)).toMap, out)
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id1").cast("long"), col("id2").cast("long")).as[(Long, Long)].collect().toSet

  private def missed(found: Set[(Long, Long)], families: String*): Seq[(String, Long, Long)] =
    pairs.filter(p => families.contains(p._1) && !found.contains((p._2, p._3)))

  test("dedup_setsim_join finds every planted pair with J >= 1/2, near the threshold too") {
    val got = q("dedup_setsim_join").select(col("id1").cast("long"), col("id2").cast("long"),
      col("jaccard")).as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(missed(got.keySet, "exact", "hi", "lo").isEmpty)
    // the plants sit where their families say
    pairs.foreach { case (fam, a, b) =>
      val j = got((a, b))
      fam match {
        case "exact" => assert(j == 1.0, (a, b))
        case "hi" => assert(j >= 0.85 && j < 1.0, (a, b, j))
        case "lo" => assert(j >= 0.5 && j < 0.7, (a, b, j))
      }
    }
  }

  test("dedup_exact groups both members of every exact pair under the first") {
    val groups = q("dedup_exact").select(col("keep_id").cast("long"), col("n_dups").cast("long"))
      .as[(Long, Long)].collect().toMap
    pairs.filter(_._1 == "exact").foreach { case (_, a, b) =>
      assert(groups.get(a).exists(_ >= 2), (a, b))
    }
  }

  test("dedup_minhash_lsh and dedup_verify_candidates find every exact pair") {
    assert(missed(pairsOf(q("dedup_minhash_lsh")), "exact").isEmpty)
    assert(missed(pairsOf(q("dedup_verify_candidates").filter(col("is_dup") === 1)),
      "exact").isEmpty)
  }

  test("dedup_substring reports exactly one span of the shared length per planted doc") {
    val got = q("dedup_substring").select(col("doc_id"), col("n_spans"), col("dup_chars"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    spans.foreach { case (id, shared) => assert(got.get(id).contains((1L, shared.toLong)), id) }
  }

  test("line dedup cuts the recurring line everywhere, or everywhere but its first copy") {
    val apply = q("line_dedup_apply").select(col("doc_id"), col("n_lines"), col("n_cut_lines"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val keepFirst = q("line_dedup_keep_first").select(col("doc_id"), col("n_cut_lines"))
      .as[(Long, Long)].collect().toMap
    lines.foreach { case (id, keeper) =>
      assert(apply.get(id).contains((4L, 1L)), id)
      assert(keepFirst.get(id).contains(if (keeper) 0L else 1L), id)
    }
  }
}
