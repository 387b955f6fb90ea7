package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r19 planted-nearest-neighbor recall probe for the VECTOR families
  * (r18 verdict order #3) — the embedding analogue of
  * [[ProbePlantedRecall]]: the ANN/embedding rows have recall evals
  * against exact ground truth at 1×, but at 10× they had only ever been
  * scale-tested on organic data with no planted truth. Over the corpus
  * `tools/gen_planted_vec.py` writes (20 exact-copy pairs, 20 cosine≈.995
  * near-dup pairs, 10 cosine≈.9995 planted query-neighbors), this probe
  * drives the REGISTERED rows end-to-end and checks each family against
  * its own contract:
  *
  *  - `dedup_embedding` (LSH generate → cosine verify): an exact copy
  *    shares every hyperplane sign, so both bands collide and cosine 1
  *    passes the ≥ 0.5 gate — 100%, ASSERTED. Near-dup candidacy is
  *    probabilistic (2 bands × 8 planes at θ ≈ 0.1 rad ⇒ pair surfaces
  *    w.p. ≈ 1−(1−(1−θ/π)⁸)² ≈ 0.998) — measured; every miss must be
  *    EXPLAINED by a measured band-key disagreement (zero shared
  *    (band, key) slots), else the screen lost a candidate it hashed
  *    together and the probe FAILS.
  *  - `dedup_semantic` (SemDeDup: within-cell keep-first at cos ≥ τ):
  *    exact copies share the nearest centroid by construction, so the
  *    later id must be dropped — 100%, ASSERTED. Near-dups are asserted
  *    only when co-resident (same cell); split-cell pairs are the
  *    documented SemDeDup cross-cell blind spot — measured and
  *    reported, with the split verified from the emitted assignments.
  *  - `ivf_search` (nprobe = 2 as configured): each planted neighbor
  *    sits at cosine ≈ 1−1e-8 of its query — 1.000000 at the engine's
  *    6-dp ranking precision, strictly above every organic candidate
  *    (the 10× corpus's replicated base vectors reach ≈ .999992; the
  *    probe's first run planted at .9995 and the engine CORRECTLY
  *    ranked organics first — a probe-truth bug, not an engine one) —
  *    so it must surface at rank 1 UNLESS its assigned cell fell
  *    outside the query's probed cells (the classic recall/cost
  *    trade). Found + explained-by-pruning must cover all 10; an
  *    unexplained miss FAILS the probe.
  *
  * r20 (r19 verdict order #2) extends the probe to the COMPOSED serving
  * paths, which until now had recall evals at 1× only:
  *
  *  - `ivf_pq_search` (coarse-prune × ADC ranking): both near-identical
  *    plant families (hyb 43000+q, qnn 44000+q) carry the query's own
  *    PQ code tuple — the GLOBAL ADC minimum — so each must surface in
  *    the top-3 unless (a) its cell fell outside the probed cells
  *    (pruning loss), or (b) the engine's OWN ADC scores
  *    ([[graft.operators.Similarity.ivfPqScored]], the pre-cut frame)
  *    place three candidates ahead of it — tied organic replicas of the
  *    query's base vector share the same code tuple and win the id
  *    tie-break (quantization loss: ADC cannot separate same-code
  *    candidates; the residual is exactly what pq_recon_error
  *    quantifies, emitted alongside). A miss with a strictly BETTER
  *    ADC key than the returned rank-3 is an engine bug and FAILS.
  *  - `hybrid_rrf_ivf` (the production RAG fusion): the hyb plant is
  *    built to be BOTH legs' best (vector: cos 1.000000 with the
  *    smallest tied id; lexical: a short doc stacking the query's
  *    predicted top-3 BM25 terms); the probe measures each planted
  *    id's ACTUAL per-leg ranks from the engine's own legs
  *    (ivfProbeTopK k=10 / hybridLexTopK) and asserts: (1) the entire
  *    fused top-5 of every panel query equals the probe's independent
  *    integer RRF re-derivation from those measured legs — scores,
  *    order, tie-breaks; (2) every measured both-legs-best plant fuses
  *    to rank 1 (vacuous-if-zero guard: at least one query must arm);
  *    (3) the qnn plants are lexically ABSENT, so their fused
  *    presence/rank must match vector-only RRF arithmetic.
  *
  * Emits one JSON line with planted/found/explained per family and
  * exits 1 on any broken contract. */
object ProbePlantedVec {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/repo/probedata/sf1.0h_planted_vec")
    val spark = graft.sources.Session.local()
    import graft.operators.Similarity

    val truth = spark.read.parquet(s"$sfDir/planted_vec_pairs.parquet")
    def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val failures = Seq.newBuilder[String]

    // ---- dedup_embedding: LSH candidates + cosine gate ----
    val ((embJson), tEmb) = timed {
      val found = q("dedup_embedding")
        .select(col("id1").cast("long"), col("id2").cast("long"))
      val pairs = truth.filter(col("family").isin("exact", "near"))
      val hit = pairs.join(found,
        pairs("id1") === found("id1") && pairs("id2") === found("id2"),
        "left_semi")
      val planted = pairs.groupBy("family").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = hit.groupBy("family").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (got.getOrElse("exact", 0L) != planted("exact"))
        failures += s"dedup_embedding/exact: found ${got.getOrElse("exact", 0L)} of ${planted("exact")}"
      // every NEAR miss must show zero shared band keys — the screen's
      // own hash must agree it never co-bucketed the pair
      val missedNear = pairs.filter(col("family") === "near")
        .join(hit, Seq("family", "id1", "id2"), "left_anti")
        .select(col("id1").cast("long"), col("id2").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val unexplained =
        if (missedNear.isEmpty) 0L
        else {
          // 2 bands × 8 planes: mirrors Similarity's Bands/RowsPerBand
          val keys = Similarity.annBandedKeys(
              Similarity.emb(spark, sfDir), 2, 8)
            .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2)))
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          missedNear.count { case (a, b) =>
            keys.getOrElse(a, Set.empty).intersect(
              keys.getOrElse(b, Set.empty)).nonEmpty
          }
        }
      if (unexplained > 0)
        failures += s"dedup_embedding/near: $unexplained misses share a band key (screen lost a generated candidate)"
      s""""emb_exact": {"planted": ${planted("exact")}, "found": ${got.getOrElse("exact", 0L)}}, """ +
        s""""emb_near": {"planted": ${planted("near")}, "found": ${got.getOrElse("near", 0L)}, "missed_explained_by_banding": ${missedNear.length - unexplained}, "unexplained": $unexplained}"""
    }

    // ---- dedup_semantic: within-cell keep-first ----
    val (semJson, tSem) = timed {
      val verdicts = q("dedup_semantic")
        .select(col("vec_id").cast("long"), col("cell"), col("kept"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      val pairs = truth.filter(col("family").isin("exact", "near"))
        .select(col("family"), col("id1").cast("long"), col("id2").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      var exOk, nearOk, nearSplit = 0
      pairs.foreach { case (fam, a, b) =>
        val (ca, _) = verdicts(a); val (cb, kb) = verdicts(b)
        if (fam == "exact") {
          if (ca != cb) failures += s"dedup_semantic: exact pair ($a,$b) split cells $ca/$cb — identical vectors MUST co-assign"
          else if (kb) failures += s"dedup_semantic: exact dup $b kept despite co-resident $a"
          else exOk += 1
        } else {
          if (ca != cb) nearSplit += 1 // the documented cross-cell trade
          else if (kb) failures += s"dedup_semantic: co-resident near-dup $b kept (cos≈.995 ≥ τ)"
          else nearOk += 1
        }
      }
      s""""sem_exact": {"planted": 20, "dropped": $exOk}, """ +
        s""""sem_near": {"planted": 20, "dropped_coresident": $nearOk, "cell_split": $nearSplit}"""
    }

    // ---- ivf_search: planted neighbor at nprobe=2 ----
    val (ivfJson, tIvf) = timed {
      val res = q("ivf_search")
        .select(col("qid").cast("long"), col("cand_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val qnn = truth.filter(col("family") === "qnn")
        .select(col("id1").cast("long"), col("id2").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val probed = Similarity.ivfProbeCells(spark, sfDir)
        .select(col("qid").cast("long"), col("cell").cast("long"))
        .collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
      val cells = q("dedup_semantic")
        .select(col("vec_id").cast("long"), col("cell").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var found = 0; var pruned = 0
      qnn.foreach { case (qid, b) =>
        if (res.contains((qid, b))) found += 1
        else if (!probed.getOrElse(qid, Set.empty).contains(cells(b))) pruned += 1
        else failures += s"ivf_search: planted neighbor $b of query $qid in a PROBED cell but not returned"
      }
      s""""ivf_qnn": {"planted": ${qnn.length}, "found": $found, "missed_explained_by_pruning": $pruned}"""
    }

    // ---- ivf_pq_search: planted neighbors through coarse-prune × ADC ----
    val (pqJson, tPq) = timed {
      val top3 = q("ivf_pq_search")
        .select(col("qid").cast("long"), col("cand_id").cast("long"),
          col("dist").cast("double"), col("rn").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      val byQ = top3.groupBy(_._1)
      val plants = truth.filter(col("family").isin("hyb", "qnn"))
        .select(col("family"), col("id1").cast("long"), col("id2").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // the ENGINE's own pre-cut ADC scores for the planted candidates —
      // the quantization-loss adjudicator (absent row = candidate never
      // reached ADC, i.e. its cell was pruned)
      val plantIds = plants.map(_._3).toSet
      val adc = Similarity.ivfPqScored(spark, sfDir)
        .filter(col("cand_id").isin(plantIds.toSeq: _*))
        .select(col("qid").cast("long"), col("cand_id").cast("long"),
          col("dist").cast("double"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val probed = Similarity.ivfProbeCells(spark, sfDir)
        .select(col("qid").cast("long"), col("cell").cast("long"))
        .collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
      val cells = q("dedup_semantic")
        .select(col("vec_id").cast("long"), col("cell").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var found = 0; var pruned = 0; var quant = 0; var tieAtMin = 0
      plants.foreach { case (fam, qid, b) =>
        val rows = byQ.getOrElse(qid, Array.empty)
        if (rows.exists(r => r._2 == b)) found += 1
        else if (!probed.getOrElse(qid, Set.empty).contains(cells(b))) pruned += 1
        else adc.get((qid, b)) match {
          case None =>
            failures += s"ivf_pq_search: $fam plant $b of query $qid in a probed cell but absent from the ADC frame"
          case Some(db) =>
            // legitimate miss iff the returned rank-3's (dist, id) key
            // beats the plant's — same-code ties resolve by id asc
            val (_, id3, d3, _) = rows.maxBy(_._4)
            val d1 = rows.minBy(_._4)._3
            if (db > d3 || (db == d3 && b > id3)) {
              quant += 1
              // a plant carrying the query's own code tuple sits AT the
              // global ADC minimum — db == rank-1's dist distinguishes
              // pure tie-loss (ADC cannot separate same-code candidates)
              // from an actual quantization gap (a float32 perturbation
              // flipped a code assignment): reported, either is a
              // legitimate ADC outcome
              if (db == d1) {
                tieAtMin += 1
                // ADVICE r20: a tie-at-min loss is only arithmetically
                // coherent if EVERY returned candidate shares the plant's
                // exact ADC distance (db == d1 ≤ each dist ≤ d3, and the
                // miss condition forces db == d3 — so any returned dist
                // differing from db means the engine's scores are
                // inconsistent, not a tie). Assert it so the tie
                // adjudication can never pass vacuously on bad scores.
                rows.find(r => r._3 != db).foreach { r =>
                  failures += s"ivf_pq_search: $fam plant $b of query $qid tied at the global ADC min ($db) but returned rank-${r._4} candidate ${r._2} carries a DIFFERENT dist ${r._3}"
                }
              }
            } else failures += s"ivf_pq_search: $fam plant $b of query $qid has ADC key ($db,$b) beating rank-3 ($d3,$id3) yet was not returned"
        }
      }
      // ADVICE r20 vacuity flag: found + pruned == 0 means not a single
      // plant ever surfaced through coarse-prune × ADC and the contract
      // passed on tie-arithmetic adjudication alone — legitimate for
      // same-code plants (r20's committed run), but the artifact must
      // SAY so rather than read as planted recall.
      val pqVacuous = plants.nonEmpty && found + pruned == 0
      // context the judge asked the decomposition to sit against: the PQ
      // reconstruction error (quantization residual) — corpus-wide vs
      // the planted rows (near-identical to panel queries, so their
      // residual ≈ the queries' own quantization error)
      val reconDf = q("pq_recon_error")
      val corpusR = reconDf.agg(avg("err_total"), max("err_total")).head()
      val plantR = reconDf.filter(col("vec_id").isin(plantIds.toSeq: _*))
        .agg(avg("err_total"), max("err_total")).head()
      s""""pq_plants": {"planted": ${plants.length}, "found": $found, "missed_explained_by_pruning": $pruned, "missed_explained_by_quantization_tie": $quant, "ties_at_global_adc_min": $tieAtMin, "tie_adjudication_only": $pqVacuous}, """ +
        s""""pq_recon_error": {"corpus_avg": ${f"${corpusR.getDouble(0)}%.6f"}, "corpus_max": ${f"${corpusR.getDouble(1)}%.6f"}, "plants_avg": ${f"${plantR.getDouble(0)}%.6f"}, "plants_max": ${f"${plantR.getDouble(1)}%.6f"}}"""
    }

    // ---- hybrid_rrf_ivf: fused ranks vs measured legs + RRF arithmetic ----
    val (hybJson, tHyb) = timed {
      val fused = q("hybrid_rrf_ivf")
        .select(col("qid").cast("long"), col("cand_id").cast("long"),
          col("rrf").cast("long"), col("rrf_rank").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3, t._4)).toSeq).toMap
      val vec = Similarity.ivfProbeTopK(spark, sfDir, 10, None)
        .select(col("qid").cast("long"), col("cand_id").cast("long"), col("rn").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      val lex = Similarity.hybridLexTopK(spark, sfDir, 10, None)
        .select(col("qid").cast("long"), col("cand_id").cast("long"), col("lr").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      // independent integer RRF re-derivation from the measured legs —
      // the probe's own arithmetic, deliberately not the engine's
      def rrfOf(r: Option[Int]): Long = r.fold(0L)(x => 1000000000000L / (60 + x))
      val qids = (vec.keys ++ lex.keys).map(_._1).toSet
      qids.foreach { qid =>
        val cands = (vec.keys ++ lex.keys).filter(_._1 == qid).map(_._2).toSet
        val expect = cands.toSeq
          .map(c => (c, rrfOf(vec.get((qid, c))) + rrfOf(lex.get((qid, c)))))
          .sortBy { case (c, s) => (-s, c) }.take(5)
          .zipWithIndex.map { case ((c, s), i) => (c, s, i + 1) }
        val got = fused.getOrElse(qid, Seq.empty)
        if (got != expect)
          failures += s"hybrid_rrf_ivf: query $qid fused list $got != RRF arithmetic over measured legs $expect"
      }
      val plants = truth.filter(col("family").isin("hyb", "qnn"))
        .select(col("family"), col("id1").cast("long"), col("id2").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      var bothBest = 0; var fusedRank1 = 0; var hybLegMiss = 0
      var qnnPresent = 0; var qnnAbsentByArith = 0
      plants.foreach { case (fam, qid, b) =>
        val ar = vec.get((qid, b)); val lr = lex.get((qid, b))
        val fr = fused.getOrElse(qid, Seq.empty).find(_._1 == b).map(_._3)
        if (fam == "hyb") {
          if (ar.contains(1) && lr.contains(1)) {
            bothBest += 1
            if (fr.contains(1)) fusedRank1 += 1
            else failures += s"hybrid_rrf_ivf: hyb plant $b of query $qid measured BOTH legs best (ar=1, lr=1) but fused rank $fr != 1"
          } else hybLegMiss += 1 // plant-quality shortfall, reported not failed
        } else { // qnn: no document row exists — must be lexically absent
          if (lr.isDefined)
            failures += s"hybrid_rrf_ivf: qnn plant $b of query $qid has a LEXICAL rank $lr — no document was planted under that id"
          if (fr.isDefined) qnnPresent += 1 else qnnAbsentByArith += 1
          // presence/rank correctness is covered by the full-list
          // equality above; these counters just report the trade
        }
      }
      if (bothBest == 0)
        failures += "hybrid_rrf_ivf: ZERO hyb plants measured both-legs-best — the fused-rank-1 contract never armed (plant quality regression)"
      s""""hyb_fusion": {"queries_checked": ${qids.size}, "hyb_planted": 10, "both_legs_best": $bothBest, "fused_rank1": $fusedRank1, "leg_shortfall": $hybLegMiss}, """ +
        s""""qnn_fusion": {"planted": 10, "fused_present": $qnnPresent, "absent_by_arithmetic": $qnnAbsentByArith}"""
    }

    val bad = failures.result()
    val verdict = if (bad.isEmpty) "PASS" else "FAIL"
    println(
      s"""{"probe": "planted_vec", "sf": "$sfDir", "verdict": "$verdict", """ +
        s""""families": {$embJson, $semJson, $ivfJson, $pqJson, $hybJson}, """ +
        s""""wall_s": {"embedding": ${f"$tEmb%.1f"}, "semantic": ${f"$tSem%.1f"}, "ivf": ${f"$tIvf%.1f"}, "ivf_pq": ${f"$tPq%.1f"}, "hybrid": ${f"$tHyb%.1f"}}, """ +
        s""""missed": [${bad.map("\"" + _ + "\"").mkString(",")}]}""")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
