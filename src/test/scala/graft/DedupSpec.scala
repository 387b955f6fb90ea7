package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("dedup_exact: identical texts collapse to one group keeping min id") {
    val df = Seq((1L, "same text here"), (2L, "same text here"), (3L, "other"))
      .toDF("doc_id", "text")
    val got = df.groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("keep_id")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (3L, 1L)))
  }

  test("dedup_exact covers all documents") {
    val d = Dedup.dedupExact(spark, sf)
    assert(d.agg(sum("n_dups")).as[Long].head() == Tables.documents(spark, sf).count())
  }

  test("minhash LSH: identical docs always collide; pairs are id1<id2") {
    val pairs = Dedup.dedupMinhashLsh(spark, sf)
      .as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a < b })
    // a doc unioned with a copy of itself must come back as a candidate
    // pair: identical text => identical signature => same band buckets
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val orig = docs.orderBy("doc_id").limit(1)
    val origId = orig.select("doc_id").as[Long].head()
    val dup = orig.select(($"doc_id" + 100000).as("doc_id"), $"text")
    val dupPairs = Dedup.minhashLshPairs(docs.union(dup))
      .as[(Long, Long)].collect()
    assert(dupPairs.contains((origId, origId + 100000)))
    val sig = docs.limit(1)
      .select(graft.functions.TextFunctions
        .minhashSignature(array_distinct(
          graft.functions.TextFunctions.wordShingles($"text", 3)), 8).as("s"))
      .as[Seq[Long]].head()
    assert(sig.length == 8 &&
      sig.forall(h => h >= 0 && h < graft.functions.TextFunctions.MinhashP))
  }

  test("setsim join: prefix filter is lossless vs brute force; threshold holds") {
    val got = Dedup.dedupSetsimJoin(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.forall { case (a, b, j) => a < b && j >= 0.5 && j <= 1.0 })
    // brute-force all-pairs over the same shingle universe — the in-suite
    // proof that the prefix filter dropped no admissible pair
    val grams = Tables.documents(spark, sf)
      .select($"doc_id", graft.functions.TextFunctions.tokens($"text").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", array_distinct(graft.functions.TextFunctions.minhashBases(
        array_distinct(graft.functions.TextFunctions.wordShinglesFromTokens($"toks", 3)))).as("g"))
    val brute = grams.as("a").join(grams.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id1"), $"b.doc_id".as("id2"),
        size(array_intersect($"a.g", $"b.g")).as("inter"),
        (size($"a.g") + size($"b.g")).as("tot"))
      .filter($"inter" * 3 >= $"tot")
      .select($"id1", $"id2", round($"inter" / ($"tot" - $"inter"), 6).as("j"))
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(got.sorted == brute)
    assert(brute.nonEmpty) // the corpus seeds near-dups; empty would be a vacuous pass
  }

  test("setsim incr: screen equals the batch join restricted to arrival pairs") {
    val got = Dedup.dedupSetsimIncr(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    val expect = Dedup.dedupSetsimJoin(spark, sf)
      .filter($"id1" % 10 === 0 || $"id2" % 10 === 0)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == expect)
    assert(expect.nonEmpty) // the corpus seeds arrival-side near-dups
  }

  test("setsim incr: unseen-gram ranking and all three candidate paths (fixture)") {
    // residents 1, 3 share nothing; arrival 10 copies resident 1 (index
    // path), arrivals 20/30 copy each other using vocabulary the index
    // has NEVER seen (batch-local path under the cnt-0 rank rule);
    // arrival 40 is unrelated
    val resident = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (20L, "quux corge grault garply waldo fred"),
      (30L, "quux corge grault garply waldo fred"),
      (40L, "seven eight nine ten eleven twelve")).toDF("doc_id", "text")
    val (df, prefix, grams) = Dedup.setsimIndexFrames(Dedup.gramSetsOf(resident))
    val ag = Dedup.gramSetsOf(arrivals).persist()
    val ap = Dedup.arrivalPrefix(ag, df).persist()
    val got = Dedup.setsimScreenWith(ag, ap, prefix, grams)
      .orderBy("id1", "id2").as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10L, 1.0), (20L, 30L, 1.0)))
    Seq(ag, ap).foreach(_.unpersist())
  }

  test("lsh_exact_eval: counts reconcile and the measure-equivalence invariant holds") {
    val r = Dedup.lshExactEval(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    val (nTruth, nCands, nHit, nMissed, recall, prec) = r
    assert(nTruth > 0 && nCands > 0) // corpus seeds near-dups
    assert(nHit <= nCands && nHit <= nTruth)
    // every LSH-caught J>=1/2 pair is a truth pair (same gram universe,
    // same measure) — the anti-join must account for exactly the rest
    assert(nTruth == nHit + nMissed)
    assert(recall >= 0 && recall <= 1000000 && prec >= 0 && prec <= 1000000)
    assert(recall == 1000000L * nHit / nTruth)
  }

  test("setsim join refuses loudly past the candidate-pair budget") {
    spark.conf.set("spark.graft.setsimPairBudget", "1")
    try {
      val e = intercept[Exception] {
        Dedup.dedupSetsimJoin(spark, sf).count()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(m => m.contains("setsimPairBudget") &&
        m.contains("dedup_minhash_lsh")),
        s"refusal must name the budget knob and the at-scale alternative, got: $e")
    } finally spark.conf.unset("spark.graft.setsimPairBudget")
    // and at the default budget the join still runs
    assert(Dedup.dedupSetsimJoin(spark, sf).count() > 0)
  }

  test("setsim incremental screen refuses loudly past the same budget") {
    // the contract extends to the incremental path: a bulk backfill must
    // refuse instead of silently materializing the cross candidates
    spark.conf.set("spark.graft.setsimPairBudget", "1")
    try {
      val e = intercept[Exception] {
        Dedup.dedupSetsimIncr(spark, sf).count()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(m => m.contains("setsimPairBudget") &&
        m.contains("incremental screen")),
        s"refusal must name the knob and the screen, got: $e")
    } finally spark.conf.unset("spark.graft.setsimPairBudget")
    assert(Dedup.dedupSetsimIncr(spark, sf).count() > 0)
  }

  test("simhash: 32-bit range, deterministic, identical text => identical hash") {
    val s1 = Dedup.dedupSimhash(spark, sf).as[(Long, Long)].collect()
    assert(s1.forall { case (_, h) => h >= 0 && h < (1L << 32) })
    val s2 = Dedup.dedupSimhash(spark, sf).as[(Long, Long)].collect()
    assert(s1.sameElements(s2))
  }

  test("connected components: chain + triangle + isolated pair resolve to min-id labels") {
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id1", "id2")
    val labels = Dedup.connectedComponents(edges)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("decontaminate covers every train doc and flags exactly n_shared >= 5") {
    val out = Dedup.decontaminate(spark, sf).as[(Long, Long, Int)].collect()
    val nTrain = Tables.documents(spark, sf).filter($"doc_id" % 50 =!= 0).count()
    assert(out.length == nTrain) // zero-overlap docs included with n_shared=0
    assert(out.forall { case (_, n, c) => n >= 0 && c == (if (n >= 5) 1 else 0) })
    assert(out.forall { case (id, _, _) => id % 50 != 0 }) // benchmark side excluded
  }

  test("dedup_apply keeps one representative per cluster and all singletons") {
    val docs = Tables.documents(spark, sf)
    val clusters = Dedup.dedupClusters(spark, sf)
    val kept = Dedup.dedupApply(spark, sf)
    val dropped = clusters.filter($"doc_id" =!= $"cluster_id").count()
    assert(kept.count() == docs.count() - dropped)
    // every cluster representative survives
    val reps = clusters.filter($"doc_id" === $"cluster_id").select("doc_id")
    assert(reps.join(kept, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("jaccard of a doc with itself is 1.0") {
    val g = Tables.documents(spark, sf).limit(5)
      .select($"doc_id",
        array_distinct(graft.functions.TextFunctions.charNGrams($"text", 5)).as("g"))
    val self = g.as("a").join(g.as("b"), col("a.doc_id") === col("b.doc_id"))
      .select((size(array_intersect(col("a.g"), col("b.g"))) /
        (size(col("a.g")) + size(col("b.g")) - size(array_intersect(col("a.g"), col("b.g")))))
        .as("j"))
      .as[Double].collect()
    assert(self.forall(_ == 1.0))
  }

  test("dedup_incremental covers exactly the new slice with consistent statuses") {
    val rows = Dedup.dedupIncremental(spark, sf)
      .as[(Long, String)].collect()
    val newIds = Tables.documents(spark, sf)
      .filter($"doc_id" % 10 === 0).select("doc_id").as[Long].collect().toSet
    assert(rows.map(_._1).toSet === newIds, "one status per new doc, none missing")
    assert(rows.map(_._2).toSet.subsetOf(Set("kept", "dup_exact", "dup_near")))
    // every dup_exact doc must share its text fingerprint with a SMALLER doc
    val fps = Tables.documents(spark, sf)
      .select($"doc_id", md5($"text").as("fp")).as[(Long, String)].collect()
    val byFp = fps.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val fpOf = fps.toMap
    rows.filter(_._2 == "dup_exact").foreach { case (id, _) =>
      assert(byFp(fpOf(id)) < id, s"doc $id marked dup_exact without an earlier holder")
    }
  }

  test("containment dominates jaccard on every candidate pair; subset doc is fully contained") {
    // C = i/min ≥ J = i/union always; equality iff the smaller set is a subset
    val c = Dedup.dedupContainment(spark, sf)
      .select("id1", "id2", "containment_ppm").as[(Long, Long, Long)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    val j = Dedup.dedupVerifyCandidates(spark, sf)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect()
    assert(j.nonEmpty)
    j.foreach { case (a, b, jac) =>
      assert(c((a, b)) >= math.floor(jac * 1e6).toLong - 1,
        s"pair ($a,$b): containment ${c((a, b))} below jaccard $jac")
    }
  }

  test("crossSplitLeakage matrix accounts for every verified candidate pair") {
    val cells = Dedup.crossSplitLeakage(spark, sf)
      .as[(String, String, Long, Long, Int)].collect()
    val pairs = Dedup.dedupVerifyCandidates(spark, sf).count()
    assert(cells.map(_._3).sum === pairs, "cell counts must cover all candidate pairs")
    cells.foreach { case (s1, s2, n, nDups, isLeak) =>
      assert(nDups <= n)
      assert(isLeak === (if (s1 != s2 && nDups > 0) 1 else 0),
        s"cell ($s1,$s2) leak flag inconsistent")
    }
  }

  test("dedupLocalCc: lcc in [0, 1e6], and triangle counts sum to 3x the triangle enumeration") {
    val rows = Dedup.dedupLocalCc(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, deg, tri, ppm) =>
      assert(deg >= 1, s"doc $id: degree $deg")
      assert(tri >= 0 && ppm >= 0 && ppm <= 1000000L, s"doc $id: lcc $ppm out of range")
      val expect = if (deg >= 2) 2000000L * tri / (deg * (deg - 1)) else 0L
      assert(ppm == expect, s"doc $id: ppm $ppm != $expect")
    }
    // every triangle contributes once to each of its three vertices
    val nTriangles = Dedup.dedupTriangles(spark, sf).count()
    assert(rows.map(_._3).sum == 3 * nTriangles,
      s"sum(n_tri) ${rows.map(_._3).sum} != 3 * $nTriangles")
  }

  test("dedup_sample_weights: covers corpus; singleton weight 1e6; clusters telescope") {
    val rows = Dedup.dedupSampleWeights(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { case (id, size, ppm) =>
      assert(size >= 1, s"doc $id: size $size")
      assert(ppm == 1000000L / size, s"doc $id: ppm $ppm != 1e6/$size")
    }
    // docs in the cluster roster carry that cluster's size; all others 1
    val labels = Dedup.clusterLabels(spark, sf)
      .as[(Long, Long)].collect()
    val bySize = labels.groupBy(_._2).values.flatMap { g =>
      g.map(m => m._1 -> g.length.toLong)
    }.toMap
    rows.foreach { case (id, size, _) =>
      assert(size == bySize.getOrElse(id, 1L), s"doc $id: size $size")
    }
    // a k-cluster's total weight is k * floor(1e6/k) <= 1e6 — the family
    // contributes at most one document's worth of sampling mass
    bySize.values.toSeq.distinct.foreach { k =>
      assert(k * (1000000L / k) <= 1000000L)
    }
  }

  test("dedup_degree_hist: node and edge totals reconcile with the verified pair set") {
    val rows = Dedup.dedupDegreeHist(spark, sf).as[(Long, Long)].collect()
    assert(rows.nonEmpty && rows.forall(_._1 >= 1))
    val nEdges = Dedup.dedupVerifyCandidates(spark, sf)
      .filter($"is_dup" === 1).count()
    // handshake lemma: sum(degree * n_nodes) == 2 * |edges|
    assert(rows.map(r => r._1 * r._2).sum == 2 * nEdges,
      "degree mass must equal twice the verified edge count")
    // every node in the histogram is a roster member and vice versa
    assert(rows.map(_._2).sum == Dedup.clusterLabels(spark, sf).count(),
      "histogram nodes must equal the cluster roster")
  }

  test("quality_dup_calibration: deciles partition the corpus; dup counts reconcile with the roster") {
    val rows = Dedup.qualityDupCalibration(spark, sf)
      .as[(Int, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (b, n, nd, ppm) =>
      assert(b >= 0 && b <= 9, s"bucket $b out of range")
      assert(nd >= 0 && nd <= n, s"bucket $b: $nd dups of $n docs")
      assert(ppm == 1000000L * nd / n, s"bucket $b: ppm mismatch")
    }
    assert(rows.map(_._2).sum == Tables.documents(spark, sf).count(),
      "buckets must partition the corpus")
    assert(rows.map(_._3).sum == Dedup.clusterLabels(spark, sf).count(),
      "per-bucket dup counts must sum to the cluster roster")
  }

  test("ngram_jaccard_sampled: deterministic, block-bounded, agrees with the exhaustive audit") {
    val s1 = Dedup.dedupNgramJaccardSampled(spark, sf)
      .as[(String, String, Int, Long, Long, Double)].collect()
    val s2 = Dedup.dedupNgramJaccardSampled(spark, sf)
      .as[(String, String, Int, Long, Long, Double)].collect()
    assert(s1.nonEmpty)
    assert(s1.toSeq == s2.toSeq, "keyed-hash draw must be reproducible run to run")
    // the rate saturates at TARGET=8 expected docs per block: sampled doc
    // count per stratum must stay near that bound (hard cap here: a
    // block can't exceed its own population or a loose 4x of the target)
    val perBlock = s1.groupBy(t => (t._1, t._2, t._3))
      .map { case (_, ps) => ps.flatMap(p => Seq(p._4, p._5)).distinct.size }
    assert(perBlock.forall(_ <= 32),
      s"sampled docs per block must be O(target), got max ${perBlock.max}")
    // agreement: any sampled same-band pair at J >= 0.2 is exactly the
    // value the exhaustive audit reports for that pair
    val exhaustive = Dedup.dedupNgramJaccard(spark, sf)
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val admissible = s1.filter(t => t._6 >= 0.2)
    assert(admissible.nonEmpty, "fixture should sample at least one true near-dup")
    admissible.foreach { t =>
      assert(exhaustive.get((t._4, t._5)).contains(t._6),
        s"pair (${t._4},${t._5}) J=${t._6} must match the exhaustive audit")
    }
  }

  test("dedup_substring: shared span localized exactly; doc-level invariants hold") {
    // two docs embed the same 60-char run inside otherwise-unique text:
    // document-level Jaccard is low, but the position audit must report
    // exactly that run — one span, 60 chars — in BOTH docs, and nothing
    // in the unique third doc
    val shared = "the quick brown fox jumps over the lazy dog again and now once"
    val L = shared.length.toLong
    assert(L >= 40, "shared run must span at least one full window")
    val total = 100L + L
    val d1 = ("A" * 50) + shared + ("B" * 50)
    val d2 = ("C" * 50) + shared + ("D" * 50)
    val d3 = "E" * total.toInt
    val got = Dedup.substringCoverage(
        Seq((1L, d1), (2L, d2), (3L, d3), (4L, d1)).toDF("doc_id", "text"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // docs 1 and 4 are EXACT duplicates: every window recurs cross-doc,
    // so position-level coverage must agree with document-level exact
    // dedup and report 100%; docs 1/2 share only the embedded run
    assert(got == Seq(
      (1L, 1L, total, total, 1000000L),
      (2L, 1L, L, total, 1000000L * L / total),
      (3L, 0L, 0L, total, 0L),
      (4L, 1L, total, total, 1000000L)))
    // long documents, the regime the rolling window hash exists for: a
    // 400-char span shared by three of five 40k–60k-char docs is one
    // span of exactly 400 chars in each carrier and nothing elsewhere.
    // Random lowercase filler shares no window across docs, and the
    // digits flanking the span differ per carrier, so no match extends
    // past it.
    val rnd = new scala.util.Random(11)
    def filler(n: Int): String = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val span = (1 to 50).map(i => f"BOIL$i%03dZ").mkString
    assert(span.length == 400)
    val long = (0 until 5).map { i =>
      val half = 20000 + 2500 * i
      i.toLong -> (if (i % 2 == 0) filler(half) + i + span + (i + 5) + filler(half)
        else filler(2 * half))
    }
    val longGot = Dedup.substringCoverage(long.toDF("doc_id", "text"))
      .orderBy("doc_id").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(longGot == long.map { case (id, text) =>
      val n = text.length.toLong
      if (id % 2 == 0) (id, 1L, 400L, n, 1000000L * 400 / n) else (id, 0L, 0L, n, 0L)
    })
    // real corpus: coverage must be a true union (never exceeds the doc),
    // every span carries at least one full window, and document-level
    // exact dups are fully covered at position level (cross-operator
    // consistency with dedup_exact)
    val rows = Dedup.dedupSubstring(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.forall { case (_, ns, dc, tc, _) =>
      dc <= tc && (ns == 0L) == (dc == 0L) && (ns == 0L || dc >= 40L) })
    assert(rows.exists { case (_, _, dc, tc, _) => dc > 0 && dc < tc },
      "fixture corpus should contain PARTIAL duplication — the case " +
        "document-level dedup misses")
  }

  test("substring_dedup_apply: cut accounting reconciles with the audit; cleaned text exact") {
    // cross-operator invariants on the real corpus: kept + cut = total
    // for every doc, and cut equals the coverage audit's dup_chars on
    // the audited (len >= 40) docs
    val applied = Dedup.substringDedupApply(spark, sf)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(applied.forall { case (_, total, cut, kept, _) => kept + cut == total })
    val cov = Dedup.dedupSubstring(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    applied.foreach { case (d, _, cut, _, _) =>
      cov.get(d).foreach(dup => assert(cut == dup, s"doc $d: cut $cut vs audit $dup"))
    }
    // fully-duplicated docs clean to the empty string
    val emptyFp = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.emptyByteArray).map("%02x".format(_)).mkString
    assert(applied.filter(r => r._3 == r._2).forall(_._5 == emptyFp))
  }

  test("substring_dedup_incr equals the corpus-global audit on the arrival split") {
    // the contract the O(delta) screen must hit: index-probe recurrence
    // (resident corpus) plus batch-local recurrence together reproduce
    // GLOBAL cross-doc recurrence exactly for the screened docs
    val incr = Dedup.substringDedupIncr(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val global = Dedup.dedupSubstring(spark, sf)
      .filter($"doc_id" % 10 === 0)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(incr == global,
      "incremental screen diverges from the corpus-global definition")
    assert(incr.nonEmpty && incr.exists(_._3 > 0),
      "arrival split should carry at least one duplicated span")
    // the screen's probe side must be the broadcast batch (index never
    // shuffles): the executed plan carries a broadcast join on h
    val w = walk(Dedup.substringDedupIncr(spark, sf))
    assert(w.of[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec].nonEmpty ||
      w.of[org.apache.spark.sql.execution.exchange.BroadcastExchangeLike].nonEmpty,
      "winidx probe should be a map-side broadcast join, not a shuffle of the index")
  }

  test("ngram_jaccard refuses loudly past the per-block pair budget") {
    // with a budget no real block fits under, the exhaustive audit must
    // fail with the remediation message instead of silently going
    // quadratic — the enforced form of its "small-SF verifier" role
    spark.conf.set("spark.graft.jaccardPairBudget", "1")
    try {
      val e = intercept[Exception] {
        Dedup.dedupNgramJaccard(spark, sf).count()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(m => m.contains("exhaustive-audit budget") &&
        m.contains("dedup_ngram_jaccard_sampled")),
        s"refusal must name the budget and the at-scale alternative, got: $e")
    } finally spark.conf.unset("spark.graft.jaccardPairBudget")
    // and at the default budget the small-SF audit still runs
    assert(Dedup.dedupNgramJaccard(spark, sf).count() > 0)
  }

  test("editdist/jaro refuse loudly past the per-pair character budget") {
    // with a budget no real pair fits under, the O(len1*len2) re-rankers
    // must fail with the remediation instead of silently running the DP
    // on long documents (the r16 adversarial-probe finding)
    spark.conf.set("spark.graft.editPairCharBudget", "1")
    try {
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      // collect(), not count(): the guard rides the t1 column the DP
      // kernel reads, so a count() prunes BOTH — which is the correct
      // semantics (no kernel, no cost, nothing to refuse)
      Seq("dedup_editdist" -> (() => Dedup.dedupEditDistance(spark, sf)),
          "dedup_jaro" -> (() => Dedup.dedupJaro(spark, sf))).foreach {
        case (name, run) =>
          val e = intercept[Exception] { run().collect() }
          assert(msgs(e).exists(m => m.contains(name) &&
            m.contains("editPairCharBudget") && m.contains("dedup_simhash")),
            s"$name refusal must name the budget and the at-scale screen, got: $e")
      }
    } finally spark.conf.unset("spark.graft.editPairCharBudget")
    // and at the default budget the short-document corpus still runs
    assert(Dedup.dedupEditDistance(spark, sf).count() > 0)
  }

  test("line_dedup_apply: recurring grid lines cut everywhere, docs reassembled in order") {
    // boiler is one full 8-token grid line shared by docs 1 and 2 at
    // grid-aligned positions; with k=2 it is boilerplate and BOTH
    // occurrences are cut — doc 2 (boiler only) cleans to '', doc 1
    // keeps its unique line, doc 3 (no recurrence, ragged last line)
    // passes through intact including the partial 3-token line
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    val u1 = "u11 u12 u13 u14 u15 u16 u17 u18"
    val d3a = "w1 w2 w3 w4 w5 w6 w7 w8"
    val d3b = "w9 w10 w11"
    val docs = Seq(
      (1L, s"$boiler $u1"),
      (2L, boiler),
      (3L, s"$d3a $d3b")).toDF("doc_id", "text")
    val got = Dedup.lineDedupApplyOf(docs, 2)
      .select($"doc_id", $"n_lines", $"n_cut_lines", $"kept_chars")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, u1.length.toLong),
      (2L, 1L, 1L, 0L),
      (3L, 2L, 0L, (s"$d3a\n$d3b").length.toLong)), s"got $got")
    // reassembly preserves original order and content exactly
    val fp3 = Dedup.lineDedupApplyOf(docs, 2)
      .filter($"doc_id" === 3).select($"cleaned_fp").as[String].head()
    assert(fp3 == java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d3a\n$d3b".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    // at k=3 nothing recurs often enough: every doc passes through
    assert(Dedup.lineDedupApplyOf(docs, 3)
      .agg(sum($"n_cut_lines")).as[Long].head() == 0L)
  }

  test("line_dedup_keep_first: exactly one copy of a recurring line survives, at its first position") {
    // boiler recurs in docs 1, 2, 3 (k=2): the GLOBAL first occurrence
    // is (doc 1, pos 0) — doc 1 keeps it, docs 2 and 3 lose theirs;
    // unique lines untouched. Contrast with drop-all, which cuts all 3.
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    val u1 = "u11 u12 u13 u14 u15 u16 u17 u18"
    val u3 = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (1L, s"$boiler $u1"),
      (2L, boiler),
      (3L, s"$u3 $boiler")).toDF("doc_id", "text")
    val got = Dedup.lineDedupKeepFirstOf(docs, 2)
      .select($"doc_id", $"n_lines", $"n_cut_lines", $"kept_chars")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 0L, s"$boiler\n$u1".length.toLong), // keeper survives here
      (2L, 1L, 1L, 0L),                            // copy cut, doc empties
      (3L, 2L, 1L, u3.length.toLong)),             // copy cut, unique kept
      s"got $got")
    // drop-all on the same corpus cuts all three copies
    assert(Dedup.lineDedupApplyOf(docs, 2)
      .agg(sum($"n_cut_lines")).as[Long].head() == 3L)
  }

  test("char budget passes null texts through instead of raising") {
    // a null text costs the DP kernel nothing — it must yield the null
    // measure row (pre-budget behavior), not trip the budget error via
    // the null-valued when-condition falling through to raise_error
    spark.conf.set("spark.graft.editPairCharBudget", "1")
    try {
      val joined = Seq((1L, 2L, null.asInstanceOf[String], "bb"),
        (3L, 4L, "aa", null.asInstanceOf[String]))
        .toDF("id1", "id2", "t1", "t2")
      val got = Dedup.charBudgetGuarded(spark, joined, "spec")
        .select($"id1", levenshtein($"t1", $"t2").as("d"))
        .as[(Long, Option[Int])].collect().toSeq.sortBy(_._1)
      assert(got == Seq((1L, None), (3L, None)),
        s"null texts must pass through as null measures, got $got")
      // while a real over-budget pair still refuses
      val bad = Seq((5L, 6L, "xx", "yy")).toDF("id1", "id2", "t1", "t2")
      intercept[Exception] {
        Dedup.charBudgetGuarded(spark, bad, "spec").collect()
      }
    } finally spark.conf.unset("spark.graft.editPairCharBudget")
  }

  test("triangle rows refuse loudly past the wedge budget") {
    // a mass-duplicate clique makes per-triangle listing Θ(k³) output —
    // with a budget nothing fits under, both enumeration rows must die
    // on the degree pass naming the aggregate-row remedies
    spark.conf.set("spark.graft.wedgeBudget", "0")
    try {
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      Seq("dedup_triangles" -> (() => Dedup.dedupTriangles(spark, sf)),
          "dedup_local_cc" -> (() => Dedup.dedupLocalCc(spark, sf))).foreach {
        case (name, run) =>
          val e = intercept[Exception] { run().count() }
          assert(msgs(e).exists(m => m.contains(name) &&
            m.contains("wedgeBudget") && m.contains("dedup_degree_hist")),
            s"$name refusal must name the budget and the aggregate remedy, got: $e")
      }
    } finally spark.conf.unset("spark.graft.wedgeBudget")
    // and at the default budget the family-bounded corpus still runs
    assert(Dedup.dedupLocalCc(spark, sf).count() > 0)
  }

  test("lsh_recall_audit: sample-bounded pair universe, caught flags agree with the candidate stage") {
    val rows = Dedup.lshRecallAudit(spark, sf)
      .as[(Long, Long, Double, Int, Int)].collect()
    assert(rows.nonEmpty)
    // pair count must be exactly sample-choose-2 for the realized sample
    val ids = rows.flatMap(r => Seq(r._1, r._2)).distinct.sorted
    assert(rows.length == ids.length * (ids.length - 1) / 2,
      "audit must emit every in-sample pair exactly once")
    // caught == membership in the pipeline's own candidate set
    val cands = Dedup.dedupMinhashLsh(spark, sf)
      .as[(Long, Long)].collect().toSet
    rows.foreach { case (id1, id2, _, _, caught) =>
      assert((caught == 1) == cands.contains((id1, id2)),
        s"caught flag for ($id1,$id2) disagrees with the LSH candidate stage")
    }
    // signal checks derive from the data, not from luck of the draw
    // (whether the seeded sample contains near-dups is fixture-dependent):
    // every in-sample IDENTICAL-text pair must be judged a dup and must
    // be caught — identical docs have identical signatures and always
    // collide in every band
    val sampled = ids.toSet
    val byText = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
      .filter(d => sampled.contains(d._1))
      .groupBy(_._2).values.filter(_.length >= 2)
    val identicalPairs = byText.flatMap { g =>
      val s = g.map(_._1).sorted
      for (i <- s.indices; j <- (i + 1) until s.length) yield (s(i), s(j))
    }.toSet
    val verdict = rows.map(r => (r._1, r._2) -> (r._4, r._5)).toMap
    identicalPairs.foreach { p =>
      assert(verdict(p) == ((1, 1)),
        s"identical in-sample pair $p must be is_dup=1 and caught=1, got ${verdict(p)}")
    }
    // and every true dup the sample DID find must be consistent: caught
    // or not, its jaccard clears the pipeline threshold
    rows.filter(_._4 == 1).foreach { r =>
      assert(r._3 >= 0.2, s"is_dup pair (${r._1},${r._2}) below threshold: ${r._3}")
    }
  }
}
