package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r18 planted-duplicate recall probe (verdict order #2): the
  * regenerated 10× corpus yields zero organic setsim pairs, so until
  * now the sub-quadratic dedup screens had only ever been scale-tested
  * while finding NOTHING — green runs that proved the guards and the
  * wall clock, not detection. `tools/gen_planted.py` writes a corpus
  * variant with a disjoint, known-by-construction dup population; this
  * probe drives the REGISTERED rows end-to-end over it at 10× and
  * checks recall per family against each family's own contract:
  *
  *  - `dedup_setsim_join` (PPJoin): prefix filtering is lossless
  *    (Lemma 1), so recall of every planted pair with J ≥ 1/2 — exact
  *    copies, J≈0.93 near-dups, and J≈0.61 threshold-region pairs —
  *    must be EXACTLY 100%. Asserted.
  *  - `dedup_exact`: both members of every exact pair hash-group
  *    together (keep_id = min, n_dups ≥ 2). 100%, asserted.
  *  - `dedup_minhash_lsh` → `dedup_verify_candidates`: exact copies
  *    have identical signatures (every band collides) — 100%,
  *    asserted, through BOTH the candidate stage and the verify stage.
  *    J<1 recall is probabilistic by design (1-(1-J²)^4 ≈ 99.87% at
  *    J=.93, ≈76% at J=.61) — measured and reported, not asserted.
  *  - `dedup_substring`: window anchoring is exact (any duplicated run
  *    ≥ SubK chars contains a fully-duplicated window), so each
  *    planted doc must report EXACTLY one span of EXACTLY the shared
  *    region's length (the generator computes the maximal identical
  *    region including boundary spaces/prefixes). Asserted.
  *  - `line_dedup_apply` / `line_dedup_keep_first`: the planted
  *    8-token line recurs 5× ≥ k=3 — drop-all must cut exactly it in
  *    all five members; keep-first must spare exactly the min-doc_id
  *    occurrence. Asserted.
  *
  * Emits one JSON line with planted/found per family and exits 1 on
  * any missed contract.
  */
object ProbePlantedRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/repo/probedata/sf1.0h_planted")
    val spark = graft.sources.Session.local()

    val truthPairs = spark.read.parquet(s"$sfDir/planted_pairs.parquet")
    val truthSub = spark.read.parquet(s"$sfDir/planted_substring.parquet")
    val truthLines = spark.read.parquet(s"$sfDir/planted_lines.parquet")

    def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

    /** planted∖found per family for a pair-shaped output frame. */
    def pairRecall(found: DataFrame): Map[String, (Long, Long)] = {
      val f = found.select(col("id1").cast("long"), col("id2").cast("long"))
      val hit = truthPairs.join(f,
        truthPairs("id1") === f("id1") && truthPairs("id2") === f("id2"),
        "left_semi")
      val planted = truthPairs.groupBy("family").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = hit.groupBy("family").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      planted.map { case (fam, n) => fam -> (n, got.getOrElse(fam, 0L)) }
    }

    // family filter for larger SFs: at 30× the setsim pair budget
    // refuses the corpus shape BY DESIGN (the r16 guard), so the 30×
    // recall run scopes to the families whose guards admit it
    val famOnly = sys.env.get("SPARK_GRAFT_FAMILIES").map(_.split(",").toSet)
    def famOn(name: String): Boolean = famOnly.forall(_.contains(name))

    val failures = Seq.newBuilder[String]
    def fam(tag: String, m: Map[String, (Long, Long)],
        mustBeFull: Set[String]): String = {
      mustBeFull.foreach { f =>
        val (n, g) = m(f)
        if (g != n) failures += s"$tag/$f: found $g of $n planted"
      }
      m.toSeq.sortBy(_._1).map { case (f, (n, g)) =>
        s""""${tag}_$f": {"planted": $n, "found": $g}"""
      }.mkString(", ")
    }

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // PPJoin setsim: exact contract over EVERY planted family
    val (setsimJson, tSetsim) = timed { if (!famOn("setsim")) "" else
      fam("setsim", pairRecall(q("dedup_setsim_join")),
        Set("exact", "hi", "lo"))
    }
    // LSH candidate stage and its verify stage: exact copies asserted
    val (lshJson, tLsh) = timed { if (!famOn("lsh")) "" else
      fam("lsh", pairRecall(q("dedup_minhash_lsh")), Set("exact"))
    }
    val (verifyJson, tVerify) = timed { if (!famOn("lsh")) "" else
      fam("lsh_verified",
        pairRecall(q("dedup_verify_candidates")
          .filter(col("is_dup").cast("int") === 1)),
        Set("exact"))
    }

    // exact dedup: each planted pair's group keyed by its min id
    val (exactJson, tExact) = timed { if (!famOn("exact")) "" else {
      val out = q("dedup_exact").select(col("keep_id").cast("long"),
        col("n_dups").cast("long"))
      val exPairs = truthPairs.filter(col("family") === "exact")
      val hit = exPairs.join(out,
        exPairs("id1") === out("keep_id") && out("n_dups") >= 2, "left_semi")
      val n = exPairs.count(); val g = hit.count()
      if (g != n) failures += s"dedup_exact: found $g of $n planted groups"
      s""""exact_groups": {"planted": $n, "found": $g}"""
    }}

    // substring spans: exactly one span of the shared length (±2 spaces)
    val (subJson, tSub) = timed { if (!famOn("substring")) "" else {
      val out = q("dedup_substring")
        .select(col("doc_id"), col("n_spans"), col("dup_chars"))
      val j = truthSub.join(out, "doc_id")
      val n = truthSub.count()
      val g = j.filter(col("n_spans") === 1 &&
        col("dup_chars") === col("span_chars")).count()
      if (g != n) failures += s"dedup_substring: $g of $n planted docs report the span"
      s""""substring_docs": {"planted": $n, "found": $g}"""
    }}

    // line rules: drop-all cuts the planted line everywhere; keep-first
    // spares exactly the min-doc_id occurrence
    val (lineJson, tLine) = timed { if (!famOn("lines")) "" else {
      val la = q("line_dedup_apply").select(col("doc_id"),
        col("n_lines"), col("n_cut_lines").as("cut_all"))
      val lk = q("line_dedup_keep_first").select(col("doc_id"),
        col("n_cut_lines").as("cut_kf"))
      val j = truthLines.join(la, "doc_id").join(lk, "doc_id")
      val n = truthLines.count()
      val gAll = j.filter(col("n_lines") === 4 && col("cut_all") === 1).count()
      val gKf = j.filter(
        when(col("is_keeper"), col("cut_kf") === 0)
          .otherwise(col("cut_kf") === 1)).count()
      if (gAll != n) failures += s"line_dedup_apply: $gAll of $n planted docs cut"
      if (gKf != n) failures += s"line_dedup_keep_first: $gKf of $n keeper verdicts correct"
      s""""line_drop_all": {"planted": $n, "found": $gAll}, """ +
        s""""line_keep_first": {"planted": $n, "found": $gKf}"""
    }}

    val bad = failures.result()
    val verdict = if (bad.isEmpty) "PASS" else "FAIL"
    val famJson = Seq(setsimJson, lshJson, verifyJson, exactJson, subJson,
      lineJson).filter(_.nonEmpty).mkString(", ")
    println(
      s"""{"probe": "planted_recall", "sf": "$sfDir", "verdict": "$verdict", """ +
        s""""families": {$famJson}, """ +
        s""""wall_s": {"setsim": ${f"$tSetsim%.1f"}, "lsh": ${f"$tLsh%.1f"}, "verify": ${f"$tVerify%.1f"}, "exact": ${f"$tExact%.1f"}, "substring": ${f"$tSub%.1f"}, "lines": ${f"$tLine%.1f"}}, """ +
        s""""missed": [${bad.map("\"" + _ + "\"").mkString(",")}]}""")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
