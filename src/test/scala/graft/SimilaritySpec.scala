package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Similarity, TextAnalysis}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of a vector with itself is 1.0") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
      .select(VectorFunctions.toDoubleVec($"embedding").as("v"))
    val c = df.select(round(VectorFunctions.cosine($"v", $"v"), 9).as("c"))
      .as[Double].head()
    assert(c == 1.0)
  }

  test("cosine of orthogonal vectors is 0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("a", "b")
      .select(VectorFunctions.toDoubleVec($"a").as("a"),
        VectorFunctions.toDoubleVec($"b").as("b"))
    assert(df.select(VectorFunctions.cosine($"a", $"b")).as[Double].head() == 0.0)
  }

  test("cosine_topk: 10 queries x 5 neighbors, cos in [-1,1], rn 1..5") {
    val t = Similarity.cosineTopk(spark, sf).collect()
    assert(t.length == 50)
    assert(t.forall(r => math.abs(r.getDouble(2)) <= 1.000001))
    assert(t.map(_.getInt(3)).toSet == Set(1, 2, 3, 4, 5))
  }

  test("lsh buckets are stable and within [0, 256)") {
    val b = Similarity.annLshBuckets(spark, sf).as[(Long, Int)].collect()
    assert(b.forall { case (_, bk) => bk >= 0 && bk < 256 })
    val b2 = Similarity.annLshBuckets(spark, sf).as[(Long, Int)].collect()
    assert(b.sameElements(b2))
  }

  test("lsh pair cosines skew higher than random-pair baseline") {
    val pairCos = Similarity.annLshPairs(spark, sf)
      .agg(avg("cos")).as[Double].head()
    // same-bucket pairs agree on all 8 hyperplanes; expect positive mean
    assert(pairCos > 0.0)
  }

  test("lang_id predicts a label for every doc; token counts positive") {
    val n = graft.sources.Tables.documents(spark, sf).count()
    assert(TextAnalysis.langId(spark, sf).count() == n)
    val tc = TextAnalysis.tokenCount(spark, sf)
      .filter($"n_tokens" <= 0 || $"n_subwords" < $"n_tokens").count()
    assert(tc == 0) // every token contributes >= 1 subword
  }

  test("split_assign: stable keyed assignment, every split nonempty, exact halves gate") {
    val s1 = TextAnalysis.splitAssign(spark, sf).as[(Long, Long, String)].collect()
    val s2 = TextAnalysis.splitAssign(spark, sf).as[(Long, Long, String)].collect()
    assert(s1.sameElements(s2)) // keyed hash, not rand(): reruns identical
    assert(s1.forall { case (_, b, _) => b >= 0 && b < 100 })
    val bySplit = s1.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") + bySplit("test"))
  }

  test("quality_gate keeps exactly floor(n/2) docs per language") {
    val perLang = graft.sources.Tables.documents(spark, sf)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val kept = TextAnalysis.qualityGate(spark, sf)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    perLang.foreach { case (lang, n) =>
      assert(kept.getOrElse(lang, 0L) == n / 2, s"lang=$lang n=$n kept=${kept.get(lang)}")
    }
  }

  test("quality score in [0,1]") {
    val bad = TextAnalysis.qualityScore(spark, sf)
      .filter($"quality" < 0 || $"quality" > 1).count()
    assert(bad == 0)
  }

  test("doc_fingerprint: equal normalized text => equal fp_norm") {
    val df = Seq((1L, "a  b\tc"), (2L, "A B C"), (3L, "a b c"))
      .toDF("doc_id", "text")
      .select(md5(lower(regexp_replace($"text", "\\s+", " "))).as("fp"))
      .as[String].collect()
    assert(df(0) == df(1) && df(1) == df(2))
  }

  test("ivf: every vector gets exactly one cell; search returns top-3 per query") {
    val assign = graft.operators.Similarity.ivfAssign(spark, sf)
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(assign.count() == n)
    assert(assign.select("vec_id").distinct().count() == n)
    val search = graft.operators.Similarity.ivfSearch(spark, sf).collect()
    assert(search.length == 30) // 10 queries x 3
    assert(search.forall(r => r.getInt(3) >= 1 && r.getInt(3) <= 3))
  }

  test("ivf_search probe scan is dynamically partition-pruned (DPP in plan)") {
    // the probes side keys the partitioned lists scan: only the probed
    // cells' files are read — the on-disk analogue of partition pruning
    // that makes the persisted index pay off at scale
    val plan = graft.operators.Similarity.ivfSearch(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the lists scan:\n$plan")
  }

  test("ivf_refresh: BOTH probe paths ride DPP-pruned list scans") {
    // the recall-delta report serves the stale AND the refreshed index
    // through the one probe kernel — each partitioned lists scan must
    // carry its own dynamicpruning filter keyed by its probe side
    val plan = graft.operators.Similarity.ivfRefresh(spark, sf)
      .queryExecution.executedPlan.toString
    val n = "dynamicpruning".r.findAllIn(plan).size
    assert(n >= 2, s"expected DPP on both list scans, found $n:\n${plan.take(4000)}")
  }

  test("ivfBuildIndex: atomic build into caller root; marker skips rebuild") {
    val root = java.nio.file.Files.createTempDirectory("ivf_spec_").toString
    Similarity.ivfBuildIndex(spark, sf, root)
    assert(new java.io.File(s"$root/.complete").exists)
    assert(new java.io.File(s"$root/centroids").exists)
    assert(new java.io.File(s"$root/lists").exists)
    assert(!new java.io.File(s"$root/.build").exists) // staging renamed away
    val mtime = new java.io.File(s"$root/.complete").lastModified
    Similarity.ivfBuildIndex(spark, sf, root) // marker present => no-op
    assert(new java.io.File(s"$root/.complete").lastModified == mtime)
  }

  test("dedup_semantic: verdict per vector; min vec_id of every cell is kept") {
    val rows = graft.operators.Similarity.dedupSemantic(spark, sf)
      .select($"vec_id", $"cell", $"kept").as[(Long, Long, Boolean)].collect()
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.length == n)
    // keep-first: nothing earlier in the cell can drop the cell's min id
    rows.groupBy(_._2).foreach { case (_, cellRows) =>
      val first = cellRows.minBy(_._1)
      assert(first._3, s"cell ${first._2}: min vec_id ${first._1} was dropped")
    }
    assert(rows.count(_._3) >= 1)
  }

  test("ivf recall sanity: probed search finds mostly the same top-1 as brute force") {
    val brute = graft.operators.Similarity.cosineTopk(spark, sf)
      .filter($"rn" === 1).select($"qid", $"vec_id").as[(Long, Long)].collect().toMap
    val ivf = graft.operators.Similarity.ivfSearch(spark, sf)
      .filter($"rn" === 1).select($"qid", $"cand_id").as[(Long, Long)].collect().toMap
    val hits = brute.count { case (q, v) => ivf.get(q).contains(v) }
    // 2 of 16 cells probed => recall well below 1.0 is expected, but the
    // query's own cell almost always holds several true near neighbors
    assert(hits >= 3, s"top-1 recall too low: $hits/10")
  }

  test("embed_quantize: every top-5 pair's quantized cosine is within the gate") {
    val rows = graft.operators.Similarity.embedQuantize(spark, sf)
    assert(rows.count() === 50L) // 10 queries x top-5
    assert(rows.filter(!$"within_bound").count() === 0L)
  }

  test("ivf_incremental: full cover, delta flagged, delta cells from resident centroids") {
    val rows = graft.operators.Similarity.ivfIncremental(spark, sf)
      .select($"vec_id", $"cell", $"is_new").as[(Long, Long, Int)].collect()
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    // merged read-back covers every vector exactly once (append lost or
    // duplicated nothing)
    assert(rows.length.toLong == n)
    assert(rows.map(_._1).distinct.length.toLong == n)
    rows.foreach { case (id, cell, isNew) =>
      assert(isNew == (if (id % 10 == 0) 1 else 0), s"vec $id flag $isNew")
      // resident-built centroids: cells are resident seed ids — a delta
      // vec_id (≡ 0 mod 10) can never name a cell
      assert(cell % 10 != 0, s"vec $id landed in non-resident cell $cell")
    }
  }

  test("ivf_refresh: published index complete, centroids moved, report well-formed") {
    import graft.operators.Similarity
    val staleRoot = Similarity.ivfIncrRoot(spark, sf)
    val freshRoot = graft.sources.ArtifactRoots.assertComplete(
      Similarity.ivfRefreshRoot(spark, sf))
    // the refreshed lists cover every vector exactly once (the
    // reassignment half of the Lloyd step lost/duplicated nothing)
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    val fresh = spark.read.parquet(s"$freshRoot/lists")
      .select($"vec_id").as[Long].collect()
    assert(fresh.length.toLong == n && fresh.distinct.length.toLong == n)
    // drift actually happened: the accumulated-corpus means differ from
    // the stale resident-trained centroids (the delta shifts every cell
    // mean it touches)
    def cents(root: String) = spark.read.parquet(s"$root/centroids")
      .select($"cid", $"cv").as[(Long, Seq[Double])].collect().toMap
    val sc = cents(staleRoot)
    val fc = cents(freshRoot)
    assert(sc.keySet == fc.keySet, "refresh must not create or drop cells")
    assert(sc.exists { case (cid, cv) => fc(cid) != cv },
      "refreshed centroids identical to stale — no Lloyd step happened")
    // report shape: one row per panel query, recalls integer-exact in range
    val rows = Similarity.ivfRefresh(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 10)
    rows.foreach { case (_, ns, nf, rs, rf) =>
      assert(ns >= 0 && ns <= 3 && nf >= 0 && nf <= 3)
      assert(rs == ns * 100 / 3 && rf == nf * 100 / 3)
    }
  }

  test("pq_refresh: Lloyd monotonicity holds — refreshed SSE never exceeds stale, full cover") {
    val rows = graft.operators.Similarity.pqRefresh(spark, sf)
      .as[(Int, Long, Double, Double, Boolean)].collect()
    assert(rows.length == 4, "one row per subspace")
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    rows.foreach { case (m, cnt, stale, fresh, improved) =>
      assert(cnt == n, s"subspace $m encoded $cnt of $n vectors")
      // the mathematical guarantee the row gates: at fixed assignment the
      // per-code means minimize SSE, and re-encoding only lowers it
      assert(fresh <= stale && improved, s"subspace $m: SSE $stale -> $fresh")
    }
    // the refresh is non-vacuous on this corpus: at least one subspace
    // strictly improves (stale books were trained without the delta)
    assert(rows.exists { case (_, _, stale, fresh, _) => fresh < stale })
  }

  test("embed_clusters: edges stay within clusters; labels are member minima") {
    val labels = graft.operators.Similarity.embedClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    val edges = graft.operators.Similarity.annLshPairs(spark, sf)
      .filter($"cos" >= 0.3).select($"id1", $"id2").as[(Long, Long)].collect()
    // every vector is labeled, every admitted edge joins equal labels
    assert(labels.size == graft.sources.Tables.embeddings(spark, sf).count())
    edges.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"edge ($a,$b) crosses clusters")
    }
    // the label of each cluster is its smallest member id
    labels.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.keys.min == cl, s"cluster $cl min is ${members.keys.min}")
    }
  }

  test("embed_clusters: an in-place regenerated dataset gets fresh labels, not the old ones") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val ds = graft.sources.TempDirs.create("graft_clusters_regen_")
    new java.io.File(sf).listFiles().foreach(f =>
      Files.copy(f.toPath, Paths.get(ds, f.getName)))
    def clusters() = Similarity.embedClusters(spark, ds).as[(Long, Long)].collect().toSeq
    val before = clusters()
    Files.copy(Paths.get(sfOther, "embeddings.parquet"),
      Paths.get(ds, "embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val after = clusters()
    graft.sources.Stages.clear()
    val fresh = clusters()
    assert(fresh != before, "the regenerated embeddings must cluster differently")
    val stale = after.zip(fresh).count { case (x, y) => x != y }
    assert(after.size == fresh.size && stale == 0,
      s"embed_clusters served $stale labels of the superseded dataset")
  }

  test("knn_graph: <=3 ranked neighbors per node, drawn from the candidate pairs") {
    val knn = graft.operators.Similarity.knnGraph(spark, sf)
      .as[(Long, Long, Double, Int)].collect()
    assert(knn.nonEmpty)
    val pairs = graft.operators.Similarity.annLshPairs(spark, sf)
      .select($"id1", $"id2").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    knn.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.length <= 3)
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to rows.length))
      // ranks follow (cos desc, dst asc)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2),
            s"src $src: rank order broken between $a and $b")
        case _ => ()
      }
      rows.foreach(r => assert(pairs.contains((r._1, r._2))))
    }
  }

  test("annRecallReport: one row per panel query, hits bounded and consistent") {
    val rows = Similarity.annRecallReport(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == (0L until rows.length).toSeq,
      "every panel query gets exactly one row, in order")
    rows.foreach { case (qid, nTrue, nHit, ppm) =>
      assert(nTrue == 5, s"qid $qid: panel truth must be top-5")
      assert(nHit >= 0 && nHit <= nTrue)
      assert(ppm == 1000000L * nHit / nTrue, s"qid $qid: ppm inconsistent")
    }
    // cross-check one query's hits against the candidate pair set
    val pairSet = Similarity.annLshPairs(spark, sf)
      .select("id1", "id2").as[(Long, Long)].collect()
      .flatMap(p => Seq(p, p.swap)).toSet
    val truth = Similarity.cosineTopk(spark, sf)
      .select("qid", "vec_id").as[(Long, Long)].collect()
    val expectHits = truth.groupBy(_._1).view
      .mapValues(_.count(t => pairSet.contains(t))).toMap
    rows.foreach { case (qid, _, nHit, _) =>
      assert(expectHits.getOrElse(qid, 0) == nHit, s"qid $qid hit count mismatch")
    }
  }

  test("embedDrift: counts reconcile, share shifts telescope to ~0, shifts are finite and non-negative") {
    val rows = Similarity.embedDrift(spark, sf)
      .as[(Int, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val total = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.map(r => r._2 + r._3).sum == total,
      "per-label ref+cur counts must partition the corpus")
    // each snapshot's shares sum to 1e6 minus at most one ppm of `div`
    // truncation per label, so the shift column telescopes to ~0
    assert(math.abs(rows.map(_._4).sum) <= rows.length,
      s"share shifts sum ${rows.map(_._4).sum} beyond truncation slack")
    rows.foreach { case (label, nRef, nCur, _, shift) =>
      assert(nRef > 0 && nCur > 0, s"label $label: empty snapshot")
      assert(!shift.isNaN && shift >= 0.0, s"label $label: bad shift $shift")
    }
    // deterministic: a second run is value-identical
    val again = Similarity.embedDrift(spark, sf)
      .as[(Int, Long, Long, Long, Double)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("mutual_knn: canonical pairs, reciprocal by construction, subset of knn_graph") {
    val knn = Similarity.knnGraph(spark, sf)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val mutual = Similarity.mutualKnn(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(mutual.nonEmpty, "no reciprocal edges on the test corpus")
    mutual.foreach { case (a, b, cos) =>
      assert(a < b, s"pair ($a,$b) not canonicalized")
      assert(knn.contains((a, b)) && knn.contains((b, a)),
        s"pair ($a,$b) not reciprocal in the directed kNN edges")
      assert(cos >= -1.0 && cos <= 1.0, s"cos $cos out of range")
    }
    // completeness: every reciprocal directed pair survives the filter
    val expected = knn.filter { case (a, b) => a < b && knn.contains((b, a)) }
    assert(mutual.map(m => (m._1, m._2)).toSet == expected,
      "mutual_knn must keep exactly the reciprocal pairs")
  }

  test("ivf_pq_search: ranked top-3 per query, candidates drawn only from probed cells") {
    val rows = Similarity.ivfPqSearch(spark, sf)
      .as[(Long, Long, Double, Int)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1 to rs.length), s"query $qid ranks broken")
      val dists = rs.sortBy(_._4).map(_._3)
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b },
        s"query $qid ADC distances not non-decreasing: ${dists.toSeq}")
      assert(rs.forall(_._2 != qid), s"query $qid returned itself")
    }
    // cell-pruning containment: every candidate's stored cell is one of
    // its query's probed cells — the IVF half actually pruned
    val probes = Similarity.ivfProbeCells(spark, sf)
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cellOf = Similarity.ivfAssign(spark, sf)
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (qid, cand, _, _) =>
      assert(probes(qid).contains(cellOf(cand)),
        s"query $qid candidate $cand from unprobed cell ${cellOf(cand)}")
    }
    // determinism across reruns (memoized codes + persisted index)
    val again = Similarity.ivfPqSearch(spark, sf)
      .as[(Long, Long, Double, Int)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("ivf_pq_recall: one row per panel query, overlap bounded, integer recall") {
    val rows = Similarity.ivfPqRecall(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == (0L until 10L))
    rows.foreach { case (qid, n, pct) =>
      assert(n >= 0 && n <= 3, s"query $qid overlap $n out of [0,3]")
      assert(pct == n * 100 / 3, s"query $qid recall $pct != ${n * 100 / 3}")
    }
    // the pruned path can never find MORE true neighbors than exist
    assert(rows.map(_._2).sum <= 30)
  }

  test("ivf_filtered_recall: one row per panel query, underfill visible, overlap within returns") {
    val rows = Similarity.ivfFilteredRecall(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == (0L until 10L))
    rows.foreach { case (qid, nRet, nOv, pct) =>
      assert(nRet >= 0 && nRet <= 3, s"query $qid returned $nRet out of [0,3]")
      assert(nOv <= nRet, s"query $qid overlap $nOv exceeds its $nRet returns")
      assert(pct == nOv * 100 / 3, s"query $qid recall $pct != ${nOv * 100 / 3}")
    }
    // the filtered search results must all pass the predicate: every
    // returned candidate appears in the exact filtered ground truth's
    // admissible universe (overlap counted against it is the gate; here
    // just assert the search never returns an inadmissible doc)
    val keep = graft.sources.Tables.documents(spark, sf)
      .filter($"lang" === "en" && $"n_chars" >= 200)
      .select($"doc_id").as[Long].collect().toSet
    val returned = Similarity.ivfSearchFiltered(spark, sf)
      .select($"cand_id").as[Long].collect()
    assert(returned.forall(keep), "filtered search leaked an inadmissible doc")
  }

  test("hybrid_rrf_ivf: fused ranking substantially agrees with the exact-leg hybrid") {
    // the production composition (IVF vector leg) vs the oracle-exact
    // reference ranking (brute-force vector leg): the lexical leg and
    // fusion are shared code, so disagreement is bounded by IVF
    // cell-pruning loss alone — measured 48/50 fused-top-5 overlap at
    // sf0.01, gated loosely here to stay fixture-stable
    val ivf = Similarity.hybridRrfIvf(spark, sf)
      .select($"qid", $"cand_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.hybridRrf(spark, sf)
      .select($"qid", $"cand_id").as[(Long, Long)].collect().toSet
    assert(ivf.map(_._1) == (0L until 10L).toSet, "one fused list per panel query")
    val overlap = ivf.intersect(exact).size
    assert(overlap >= 30,
      s"IVF-backed fusion agrees on only $overlap/50 fused results — " +
        "cell pruning is costing more than the recall evals report")
    // both rankings are top-5 per query
    assert(ivf.size == 50 && exact.size == 50)
  }

  test("retrieval_rank_eval: metric invariants hold and re-derive from the graded inputs") {
    val rows = Similarity.retrievalRankEval(spark, sf)
      .as[(Long, Long, Int, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSet == (0L until 10L).toSet, "one metrics row per panel query")
    rows.foreach { case (qid, nRel, first, rr, dcg, ndcg) =>
      assert(nRel >= 0 && nRel <= 5, s"q$qid n_rel $nRel out of [0,5]")
      assert((nRel == 0) == (first == 0), s"q$qid first_rel_rank/n_rel disagree")
      assert(rr == (if (first > 0) 1000000L / first else 0L), s"q$qid rr_ppm mismatch")
      assert(dcg >= 0 && dcg <= Similarity.ndcgIdcgScaled, s"q$qid DCG above ideal")
      assert(ndcg == 1000000L * dcg / Similarity.ndcgIdcgScaled, s"q$qid ndcg scaling")
    }
    assert(rows.exists(_._2 > 0), "panel should surface at least one true neighbor")
    // independent re-derivation for every query from the two public
    // stages the eval composes: grade the fused list by the exact
    // ranking and recount
    val sys = Similarity.hybridRrfIvf(spark, sf)
      .select($"qid", $"cand_id", $"rrf_rank").as[(Long, Long, Int)].collect()
    val exact = Similarity.cosineTopk(spark, sf)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    // cosine_topk is top-5; a fused hit in the exact top-5 must carry
    // rel >= 6, so n_rel from the row must be >= the top-5 overlap
    val inTop5 = sys.filter(t => exact.contains((t._1, t._2)))
      .groupBy(_._1).view.mapValues(_.size).toMap
    rows.foreach { case (qid, nRel, _, _, _, _) =>
      assert(nRel >= inTop5.getOrElse(qid, 0),
        s"q$qid reports fewer relevant hits than its exact-top-5 overlap")
    }
  }

  test("embed_prefix_recall: 3 prefixes x 10 queries, recall bounded, improves with dims on aggregate") {
    val rows = Similarity.embedPrefixRecall(spark, sf)
      .as[(Long, Int, Long, Long, Long)].collect()
    assert(rows.length == 30, s"expected 10 queries x 3 prefixes, got ${rows.length}")
    rows.foreach { case (qid, p, nTrue, nHit, ppm) =>
      assert(nTrue == 5L, s"query $qid p=$p truth size $nTrue != 5")
      assert(nHit >= 0 && nHit <= 5, s"query $qid p=$p hits $nHit out of [0,5]")
      assert(ppm == 1000000L * nHit / 5, s"query $qid p=$p ppm mismatch")
    }
    // more dims can only help IN AGGREGATE (per-query inversions are
    // legitimate — a truncated space can luckily rank a true neighbor
    // higher): the corpus-level curve must be non-decreasing. On this
    // SYNTHETIC corpus the absolute values are near-chance (random
    // vectors spread information uniformly across dims — no matryoshka
    // concentration to exploit), which is precisely the verdict the dial
    // exists to deliver: do NOT serve these vectors truncated. A real
    // MRL-trained store reads a high-and-flattening curve instead.
    val byP = rows.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    assert(byP(8) <= byP(16) && byP(16) <= byP(32),
      s"aggregate recall curve not monotone: $byP")
    assert(byP(32) > 0, s"32-dim prefix found nothing: $byP")
  }

  test("hybrid_rrf: 5 fused rows per query, scores from the two legs' exact contributions") {
    import spark.implicits._
    val rows = Similarity.hybridRrf(spark, sf)
      .as[(Long, Long, Long, Int)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == 10 && byQ.values.forall(_.length == 5),
      "each panel query must fuse to exactly 5 results")
    // every fused score must be expressible as contribution(ar) +
    // contribution(lr) with ranks in [1, 10] (0 = absent from that leg),
    // and a doc present in BOTH legs must outrank one with a single
    // equally-ranked contribution — the fusion property RRF exists for
    val contrib = (r: Int) => if (r == 0) 0L else 1000000000000L / (60 + r)
    val legal = (for { a <- 0 to 10; l <- 0 to 10 if a > 0 || l > 0 }
      yield contrib(a) + contrib(l)).toSet
    rows.foreach { case (qid, cand, rrf, rk) =>
      assert(legal.contains(rrf),
        s"q$qid cand$cand: rrf $rrf is not a sum of two leg contributions")
      assert(rk >= 1 && rk <= 5)
    }
    assert(rows.exists(_._3 > contrib(1)),
      "no fused result drew from both legs — panel should overlap somewhere")
  }

  test("hybrid_rrf_filtered: every fused result satisfies the metadata predicate") {
    import spark.implicits._
    val keep = graft.sources.Tables.documents(spark, sf)
      .filter(col("lang") === "en" && col("n_chars") >= 200)
      .select("doc_id").as[Long].collect().toSet
    val rows = Similarity.hybridRrfFiltered(spark, sf)
      .as[(Long, Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (q, cand, _, _) =>
      assert(keep.contains(cand),
        s"q$q fused inadmissible doc $cand — predicate must gate BOTH legs pre-rank")
    }
    // filter-then-rank, not post-filter: admissible-only queries still
    // fuse a full 5 when enough admissible docs exist
    assert(rows.groupBy(_._1).values.forall(_.length == 5),
      "filtered fusion came up short despite an admissible majority at this SF")
  }
}
