package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.{Stages, Tables}

/** Deduplication operators for LLM-training-data pipelines (north star in
  * /root/repo/BASELINE.json; no equivalent in the reference, whose only
  * "dedup" is the distinct-key effect of groupBy — SURVEY.md §2.3).
  *
  * Scale design, per operator:
  *  - exact: group by a 128-bit content fingerprint, not the full text —
  *    the shuffle carries 16-byte digests instead of documents.
  *  - MinHash+LSH: signatures are computed row-locally (no per-token
  *    explode); only (doc, band, bandhash) rows — b rows per doc — are
  *    shuffled, and the candidate join is an equi-join on (band, bandhash)
  *    buckets. This is the classic sub-quadratic near-dup path: O(n·b)
  *    shuffle instead of O(n²) compare.
  *  - SimHash: one 32-bit signature per doc from md5 hex digits, again
  *    row-local; identical-signature grouping is a fingerprint dedup.
  *  - n-gram Jaccard: exact pairwise verification *within blocking groups*
  *    (lang, source) — the pattern used to re-rank LSH candidates; the
  *    cross product never leaves a bucket.
  *
  * All hashes are md5 (identical hex output on Spark and DuckDB; for
  * fixed-length lowercase hex, lexicographic MIN == numeric MIN), which is
  * what makes every one of these SQL-expressible for the oracle.
  */
object Dedup {

  private val K = 8 // minhash signature length
  private val B = 4 // LSH bands (rows per band = K/B = 2)

  // The dedup chain's shared stages are registered per (session,
  // dataset) in graft.sources.Stages, which stores each frame once. The
  // chain verify ⊂ clusters ⊂ apply shares its prefix: without the
  // registry, each of the three declared queries re-derived the whole
  // LSH→verify (and apply additionally re-ran CC) — ~3× the unique work
  // per bench/verify run. The frames are tiny (candidate pairs and
  // labels — ints and one double per row, pair count bounded by LSH
  // bucket occupancy), so retention is cents of memory, not a leak.

  /** Drop and unpersist every registered stage (test/embedder hook for
    * callers that regenerate datasets or want the storage back). */
  def clearMemo(): Unit = graft.sources.Stages.clear()

  private def toksCol: Column = TextFunctions.tokens(col("text"))

  /** Exact dedup by content fingerprint: one row per distinct text, keeping
    * the smallest doc_id as the canonical representative. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("keep_id")

  /** Normalized exact dedup: case-fold + whitespace-collapse BEFORE the
    * fingerprint, so trivially reformatted copies (case changes,
    * re-wrapping) collapse that byte-exact dedup misses — the standard
    * canonicalization layer between exact and near-dup. Reports how many
    * raw byte-variants each normalized group absorbed. */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(norm).as("nfp"), md5(col("text")).as("fp"))
      .groupBy("nfp")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_raw_variants"))
      .orderBy("keep_id")
  }

  /** MinHash + LSH candidate pairs. k=8 permutations of ONE md5-derived
    * base hash per shingle (universal hashing), 4 bands × 2 rows; the
    * band key is the raw (h_2j, h_2j+1) pair — no re-hashing needed.
    * Served from the memoized verify stage: the candidate set equals the
    * verified set's pair columns by construction (both sides of every
    * candidate passed the ≥3-token shingle gate that admits docs into the
    * band join), so this query shares the chain instead of re-deriving
    * the LSH pipeline. */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    verifiedCandidates(spark, dir).select("id1", "id2").orderBy("id1", "id2")

  /** LSH candidate pairs over any (doc_id, text) frame — the reusable
    * generate stage (dedupMinhashLsh is this over the documents table;
    * dedupVerifyCandidates re-ranks its output with exact Jaccard). */
  /** Per-doc k=8 MinHash signature over word-3-shingles — the reusable
    * signature stage (minhashLshPairs bands it; minhashEstVsExact compares
    * it positionwise against exact Jaccard). Row-local throughout. */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3) // ≡ shingle set nonempty; cheap to push down
      .select(col("doc_id"),
        array_distinct(TextFunctions.wordShinglesFromTokens(col("toks"), 3)).as("shingles"))
    val based = sh.select(col("doc_id"),
      TextFunctions.minhashBases(col("shingles")).as("bases"))
    based.select(col("doc_id"),
      array((0 until K).map(i =>
        TextFunctions.minhashFromBases(col("bases"), i)): _*).as("sig"))
  }

  /** Memoized signature stage: the per-doc MinHash signatures are shared
    * by the LSH band join (inside the verified chain) and the
    * calibration query — computed and cached once per (session, dataset)
    * instead of re-deriving the md5+permutation pipeline per consumer
    * (measured 2.5 s → sub-second for minhash_est_vs_exact at sf0.1).
    * Tiny residency: doc_id + 8 ints per doc. */
  def cachedSignatures(spark: SparkSession, dir: String): DataFrame =
    Stages(spark, "dedup/sigs", dir, chain = "dedup_sigs") {
      minhashSignatures(Tables.documentsKernelWide(spark, dir))
    }

  def minhashLshPairs(docs: DataFrame): DataFrame =
    lshPairsFromSigs(minhashSignatures(docs))

  def lshPairsFromSigs(sig: DataFrame): DataFrame = {
    val bands = sig.select(col("doc_id"), explode(array((0 until B).map { j =>
      struct(lit(j).as("band"), col("sig")(2 * j).as("h1"),
        col("sig")(2 * j + 1).as("h2"))
    }: _*)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.h1"), col("e.h2"))
    // UNSORTED by design (guide §2.4 — an orderBy used only for
    // determinism is a range exchange + sampling pass): every consumer
    // either sorts on top (dedup_minhash_lsh via the verified chain) or
    // aggregates/joins the pair set where order is immaterial
    // (lsh_exact_eval, lsh_recall_audit, the verify stage).
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.h1") === col("b.h1") &&
          col("a.h2") === col("b.h2") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** Candidate-driven exact-Jaccard verification — the scale-safe verify
    * stage: instead of an O(n²)-per-block self-join, the exact measure is
    * evaluated ONLY on LSH candidate pairs, joined back to per-doc shingle
    * sets on doc_id (plain equi-joins; pair count is bounded by LSH bucket
    * occupancy, never by block size). Jaccard is computed over the same
    * word-3-shingle universe the MinHash signatures approximate, as
    * md5-derived long sets (identical on both engines, cheap to shuffle).
    */
  def dedupVerifyCandidates(spark: SparkSession, dir: String): DataFrame =
    verifiedCandidates(spark, dir)
      .select("id1", "id2", "jaccard", "is_dup").orderBy("id1", "id2")

  /** Memoized per-doc shingle-gram sets, SORTED ascending: the set
    * universe every exact measure in the LSH family scores over —
    * md5-derived longs of word-3-shingles, one row per admitted doc.
    * Shared by the verify stage, the exact setsim join, and containment;
    * persisted so the tokenize→shingle→hash pipeline runs once per
    * (session, dataset) however many consumers (and join sides) read it.
    * Sorted per doc at build time so the merge-scan
    * [[graft.plans.VectorExpressions.sorted_intersect_count]] can score
    * any pair without a per-pair hash set — one sort per document, not
    * per pair. */
  def shingleGramSets(spark: SparkSession, dir: String): DataFrame =
    Stages(spark, "dedup/shinglegrams", dir, chain = "shingle_grams") {
      gramSetsOf(Tables.documentsKernelWide(spark, dir))
    }

  /** The sorted shingle-gram set of ANY (doc_id, text) frame — the one
    * tokenize→shingle→hash→sort definition under the corpus memo above,
    * the setsim index build, and the incremental screen's arrival side,
    * shared so the incremental equality claims rest on one kernel. */
  private[graft] def gramSetsOf(input: DataFrame): DataFrame =
    input
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), array_sort(array_distinct(TextFunctions.minhashBases(
        array_distinct(TextFunctions.wordShinglesFromTokens(col("toks"), 3))))).as("g"))
      .select(col("doc_id"), col("g"), size(col("g")).as("sz"))

  /** Memoized verify stage: LSH candidates scored with exact Jaccard,
    * computed once per (session, dataset) and persisted — every chain
    * consumer (verify query, clusters, apply) reuses the same cached
    * frame instead of re-deriving the LSH→verify prefix. */
  def verifiedCandidates(spark: SparkSession, dir: String): DataFrame =
    Stages(spark, "dedup/verified", dir, chain = "dedup_verified") {
      val cands = lshPairsFromSigs(cachedSignatures(spark, dir))
      val grams = shingleGramSets(spark, dir)
      cands
        .join(grams.select(col("doc_id").as("id1"), col("g").as("g1"), col("sz").as("sz1")), "id1")
        .join(grams.select(col("doc_id").as("id2"), col("g").as("g2"), col("sz").as("sz2")), "id2")
        .select(col("id1"), col("id2"),
          // arrays arrive sorted from shingleGramSets — merge-scan count
          graft.plans.VectorExpressions.sorted_intersect_count(col("g1"), col("g2")).as("inter"),
          (col("sz1") + col("sz2")).as("tot"),
          least(col("sz1"), col("sz2")).as("sz_min"))
        .select(col("id1"), col("id2"), col("inter"), col("sz_min"), col("tot"),
          round(col("inter") / (col("tot") - col("inter")), 6).as("jaccard"),
          // integer threshold algebra: J = i/(tot−i) ≥ 0.2 ⟺ 6i ≥ tot
          (col("inter") * 6 >= col("tot")).cast("int").as("is_dup"))
    }

  /** Exact set-similarity self-join via prefix filtering — the AllPairs /
    * PPJoin candidate-generation principle (Bayardo et al., WWW'07; Xiao
    * et al., WWW'08): every pair with shingle Jaccard ≥ 0.5, over the SAME
    * word-3-shingle universe the MinHash/LSH pipeline approximates, with
    * 100% recall BY CONSTRUCTION. This is the exact complement to
    * `dedup_minhash_lsh` (probabilistic recall, audited after the fact by
    * `lsh_recall_audit`): same input space, same verify kernel, but the
    * candidate filter is lossless, so the oracle — a plain quadratic
    * all-pairs join — doubles as a proof of the prefix principle on this
    * corpus.
    *
    * Why it is sub-quadratic: order each doc's gram set by ascending
    * GLOBAL document frequency (ties on gram value — one total order
    * shared by all docs), and keep only the prefix a J ≥ t match cannot
    * avoid: with the 2·min ≥ max length filter, J ≥ 1/2 forces an overlap
    * ≥ ⌈sz/2⌉, so two matching docs must share a gram inside their first
    * sz − ⌈sz/2⌉ + 1 = ⌊sz/2⌋ + 1 rarest grams (PPJoin Lemma 1). The
    * candidate join is an equi-join on PREFIX grams only: a gram with
    * prefix-frequency d contributes ≤ d²/2 candidates, and rarest-first
    * ordering drives prefix frequencies toward 1 — a globally frequent
    * gram enters a prefix only for the rare doc where half its grams are
    * even more frequent. Measured on this corpus: 772 candidates vs
    * 124,750 all-pairs at sf0.01 (161×). Every stage is linear except the
    * candidate pair set itself: the df table is one partial-agg pass over
    * exploded grams, the canonical rank is a per-doc window (doc-sized
    * partitions, no global sort), and verification joins gram arrays by
    * doc_id so full sets travel once per doc, not per pair — the
    * merge-scan [[graft.plans.VectorExpressions.sorted_intersect_count]]
    * scores each candidate without a per-pair hash set. */
  def dedupSetsimJoin(spark: SparkSession, dir: String): DataFrame =
    setsimPairs(spark, dir).orderBy("id1", "id2")

  /** Memoized corpus-wide prefix postings (rarest-first rank window run
    * ONCE per session/dataset): the budget gate, both self-join sides,
    * and the exact eval all read this stored frame instead of
    * re-deriving the explode→df-join→window pass per consumer. */
  private def setsimPrefixMemo(spark: SparkSession, dir: String): DataFrame =
    Stages(spark, "dedup/setsim_prefix", dir) {
      // the vocab-sized df is a stage of its own, so the prefix plan
      // reads it stored instead of inlining the explode + full
      // gram-count aggregate a second time (the tok stream feeds BOTH
      // the df aggregate and the rank join — guide §3.3)
      val tok = setsimTok(shingleGramSets(spark, dir))
      val df = Stages(spark, "dedup/setsim_df", dir)(setsimDf(tok))
      prefixOf(tok.join(df, "gram"))
    }

  /** Memoized exact pair set (UNSORTED — the registered query adds the
    * output sort; lsh_exact_eval aggregates it directly, so the pair
    * set and its verify work compute once however many consumers). The
    * budget guard literal is baked into the cached plan, so the stage's
    * conf parameter is the configured budget — a mid-session knob change
    * is a memo miss, not a silently stale guard (the artifactVersion
    * lesson); stale entries are pair-set-sized, bounded by the number of
    * distinct budget settings in a session. */
  private[graft] def setsimPairs(spark: SparkSession, dir: String): DataFrame =
    Stages(spark, "dedup/setsim_pairs", dir, chain = "setsim_pairs",
        conf = spark.conf.getOption("spark.graft.setsimPairBudget").getOrElse("")) {
      val prefix = setsimBudgetGuarded(spark, setsimPrefixMemo(spark, dir))
      val cands = prefix.as("a")
        .join(prefix.as("b"),
          col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id") &&
            // lossless length filter: J ≥ 1/2 ⟹ min ≥ tot/3 ⟹ 2·min ≥ max
            least(col("a.sz"), col("b.sz")) * 2 >= greatest(col("a.sz"), col("b.sz")))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .distinct() // a pair may share several prefix grams
      verifySetsimCands(cands, shingleGramSets(spark, dir), broadcastCands = false)
    }

  /** In-plan candidate-pair budget for the exact self-join — the
    * `jaccardPairBudget` contract applied to the PPJoin site: rarest-first
    * ordering keeps prefix frequencies near 1 on natural corpora, but the
    * bound is CORPUS-SHAPE-dependent (a tiny vocabulary or mass-duplicated
    * boilerplate fattens prefix postings), so the join refuses loudly past
    * `spark.graft.setsimPairBudget` (default 10⁸ candidate pairs) instead
    * of silently going quadratic. The exact join-output bound
    * Σ_g d(g)·(d(g)−1)/2 is summed in DECIMAL(38,0) — no Long overflow at
    * any d — by one linear partial-agg pass over the prefix postings; the
    * 1-row verdict broadcasts onto the join input and the refusal rides
    * the `sz` column the join condition references (the
    * raise_error-in-arithmetic pattern), so an over-budget join dies on
    * its FIRST candidate at O(corpus) cost, and the plan stays lazy. */
  private def setsimBudgetGuarded(spark: SparkSession, prefix: DataFrame): DataFrame = {
    val budget = spark.conf.getOption("spark.graft.setsimPairBudget")
      .map(_.toLong).getOrElse(100000000L)
    val gate = prefix.groupBy("gram").agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(col("d").cast("decimal(19,0)") *
        (col("d") - 1).cast("decimal(19,0)")), lit(0).cast("decimal(38,0)")).as("t2"))
      .select((col("t2") <= lit(budget).cast("decimal(38,0)") * 2).as("ok"),
        (col("t2") / 2).cast("decimal(38,0)").cast("string").as("bound"))
    prefix.crossJoin(broadcast(gate))
      .withColumn("sz",
        when(col("ok"), col("sz"))
          .otherwise(raise_error(concat(
            lit("dedup_setsim_join: prefix candidate bound "), col("bound"),
            lit(s" pairs exceeds spark.graft.setsimPairBudget=$budget; " +
              "this corpus shape defeats prefix filtering — use " +
              "dedup_minhash_lsh at this scale or raise the budget"))
          ).cast("int")))
      .drop("ok", "bound")
  }

  /** Prefix cut of a ranked (doc_id, sz, gram, cnt) frame under the
    * global rarest-first (df, gram) order: the first
    * p = sz − ⌈sz/2⌉ + 1 = ⌊sz/2⌋ + 1 grams (t = 1/2), integer
    * arithmetic throughout. The rank window partitions by doc —
    * doc-sized state, no global sort. */
  private def prefixOf(ranked: DataFrame): DataFrame =
    ranked
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("cnt"), col("gram"))))
      .filter(col("r") <= floor(col("sz") / lit(2)) + 1)
      .select(col("doc_id"), col("sz"), col("gram"))

  /** The three frames a setsim prefix index consists of, from a sorted
    * gram-set frame: (df, prefix postings, gram sets). One definition
    * under the batch self-join, the persisted setsimidx artifact, and
    * the spec fixtures — the candidate-generation order cannot fork
    * between build and probe. */
  /** The exploded (doc_id, sz, gram) token stream and its gram document
    * frequencies — the two sub-frames of [[setsimIndexFrames]], exposed
    * so a caller that MATERIALIZES the df (artifact write, checkpoint)
    * can build the prefix from the barrier without re-aggregating —
    * while the ranking definition itself stays in one place. */
  private[graft] def setsimTok(gramSets: DataFrame): DataFrame =
    gramSets.select(col("doc_id"), col("sz"), explode(col("g")).as("gram"))

  private[graft] def setsimDf(tok: DataFrame): DataFrame =
    tok.groupBy("gram").agg(count(lit(1)).as("cnt"))

  private[graft] def setsimIndexFrames(gramSets: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val tok = setsimTok(gramSets)
    val docFreq = setsimDf(tok)
    (docFreq, prefixOf(tok.join(docFreq, "gram")), gramSets)
  }

  /** Exact-Jaccard verification of candidate (id1, id2) pairs against a
    * gram-set lookup: the merge-scan intersect kernel, the J ≥ 1/2
    * threshold in its cross-multiplied integer form, gram arrays joined
    * by doc_id so full sets travel once per doc. `broadcastCands` marks
    * the delta-bounded incremental path, where the pair set broadcasts
    * and the corpus-sized lookup is never shuffled. */
  private def verifySetsimCands(cands: DataFrame, lookup: DataFrame,
      broadcastCands: Boolean): DataFrame = {
    val c = if (broadcastCands) broadcast(cands) else cands
    val j1 = c.join(lookup.select(col("doc_id").as("id1"),
      col("g").as("g1"), col("sz").as("sz1")), "id1")
    // the id1-joined frame is still candidate-bounded — re-hint it so the
    // second lookup join stays a broadcast probe of the corpus side too
    val j1h = if (broadcastCands) broadcast(j1) else j1
    j1h
      .join(lookup.select(col("doc_id").as("id2"), col("g").as("g2"), col("sz").as("sz2")), "id2")
      .select(col("id1"), col("id2"),
        graft.plans.VectorExpressions.sorted_intersect_count(col("g1"), col("g2")).as("inter"),
        (col("sz1") + col("sz2")).as("tot"))
      // J = i/(tot−i) ≥ 1/2 ⟺ 3i ≥ tot, threshold before the projection
      .filter(col("inter") * 3 >= col("tot"))
      .select(col("id1"), col("id2"),
        round(col("inter") / (col("tot") - col("inter")), 6).as("jaccard"))
  }

  /** Persisted resident-corpus setsim prefix index (shared-root
    * protocol): document frequencies, rarest-first prefix postings, and
    * sorted gram sets of every resident document (the doc_id ≢ 0 mod 10
    * split — the dedup_incremental fixture discipline). This is the
    * artifact that makes the exact set-similarity screen INCREMENTAL:
    * an arriving batch is prefix-probed against it instead of re-running
    * the corpus-wide self-join. */
  private[graft] def setsimIndexRoot(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactRoots.built(spark, "setsimidx", dir,
        Seq("df", "prefix", "grams"), chain = "setsim_index") { stage =>
      val gramSets = shingleGramSets(spark, dir).filter(col("doc_id") % 10 =!= 0)
      setsimDf(setsimTok(gramSets)).write.mode("overwrite").parquet(s"$stage/df")
      // the prefix pass reads the df part JUST WRITTEN instead of
      // re-aggregating document frequencies in-plan (guide §3.3 — the
      // write is the materialization barrier; the former shape paid
      // the explode + full gram-count aggregate twice per build)
      prefixOf(setsimTok(gramSets)
          .join(spark.read.parquet(s"$stage/df"), "gram"))
        .write.mode("overwrite").parquet(s"$stage/prefix")
      gramSets.write.mode("overwrite").parquet(s"$stage/grams")
    }

  /** Prefix postings of a persisted arrival gram-set frame under the
    * resident-df order (unseen grams rank rarest, cnt 0). `ag` MUST be
    * persisted or read back from storage by the caller — an un-persisted
    * gram frame lets CollapseProject + InferFiltersFromGenerate inline
    * the whole tokenize→shingle→md5→sort pipeline into the explode's
    * inferred filter and every downstream projection (measured ~12
    * evaluations per row, ×8 wall at 10× data). The batch row owns its
    * frames through the chain memo; the streaming twin writes them as
    * per-trigger state and reads them back. */
  private[graft] def arrivalPrefix(ag: DataFrame, df: DataFrame): DataFrame = {
    val atok = ag.select(col("doc_id"), col("sz"), explode(col("g")).as("gram"))
    // delta-bounded: the df rows whose gram occurs in this batch
    val dfHit = df.join(broadcast(atok.select("gram").distinct()), "gram")
    prefixOf(
      atok.join(broadcast(dfHit), Seq("gram"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L))))
  }

  /** THE incremental screening kernel (shared by dedup_setsim_incr and
    * its streaming twin): every J ≥ 1/2 pair touching the arriving
    * frame — against `priorPrefix`/`priorGrams` (the setsimidx parts,
    * optionally unioned with previously-arrived state) AND within the
    * batch itself. Inputs must be materialized (chain memo / state
    * read-back — see arrivalPrefix's barrier note).
    *
    * Losslessness in the incremental setting: PPJoin Lemma 1 needs both
    * sides of a pair ranked under ONE total order. That order is
    * f(gram) = (resident df count, gram) with grams the index has never
    * seen ranked rarest (cnt 0) — arrivalPrefix left-joins the df and
    * coalesces to 0, so arrival prefixes and index prefixes agree on f
    * by construction, and batch-local pairs (both sides ranked under the
    * same f) are covered by the same lemma.
    *
    * Scale shape: everything arrival-sided is delta-bounded (gram sets,
    * the rank window, both broadcast hints); the corpus appears only as
    * (a) one semi-restricted probe of the df's (gram, cnt) columns
    * against the broadcast batch gram set, (b) one scan of the prefix
    * postings' three int/long columns joined to the broadcast arrival
    * prefix, and (c) the verify join of the candidate-restricted gram
    * arrays — no corpus text is re-read, re-tokenized, or shuffled. A
    * bulk backfill (delta no longer panel-bounded) would drop the
    * broadcast hints and take the shuffle joins. */
  private[graft] def setsimScreenWith(ag: DataFrame, aprefix: DataFrame,
      priorPrefix: DataFrame, priorGrams: DataFrame): DataFrame = {
    val vsPrior = priorPrefix
      .join(broadcast(aprefix.select(col("doc_id").as("adoc"),
        col("sz").as("asz"), col("gram"))), "gram")
      .filter(least(col("sz"), col("asz")) * 2 >= greatest(col("sz"), col("asz")))
      .select(least(col("doc_id"), col("adoc")).as("id1"),
        greatest(col("doc_id"), col("adoc")).as("id2"))
    val vsBatch = aprefix.as("a")
      .join(broadcast(aprefix.as("b")),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.sz"), col("b.sz")) * 2 >= greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
    // the budget verdict wraps the streamed candidate rows BEFORE the
    // distinct: one gate reference (one gate execution per screen), and
    // an over-budget screen still dies on its FIRST candidate because
    // join output pipelines through this projection — nothing blocks
    // between the join and the raise
    val gate = incrBudgetGate(ag.sparkSession, aprefix, priorPrefix)
    val cands = vsPrior.unionByName(vsBatch)
      .crossJoin(broadcast(gate))
      .withColumn("id1",
        when(col("ok"), col("id1"))
          .otherwise(raise_error(concat(
            lit("setsim incremental screen: candidate bound "), col("bound"),
            lit(s" pairs exceeds spark.graft.setsimPairBudget; " +
              "shrink the arriving batch or raise the budget"))
          ).cast("bigint")))
      .drop("ok", "bound")
      .distinct()
    verifySetsimCands(cands, ag.unionByName(priorGrams),
      broadcastCands = true)
  }

  /** The pair-budget contract extended to the incremental screen: the
    * batch join refuses a corpus shape that defeats prefix filtering,
    * and a BULK BACKFILL through the screen must refuse the same way
    * instead of silently materializing Σ dR·dA cross pairs. The exact
    * candidate bound Σ_g dR(g)·dA(g) + Σ_g dA(g)(dA(g)−1)/2 is computed
    * WITHOUT running the join: dA is a delta-bounded aggregate of the
    * arrival prefix, dR aggregates the prior postings semi-restricted to
    * the batch's grams (same linear scan the probe join pays, but its
    * output is per-gram counts — delta-bounded — never pair rows). Same
    * knob (`spark.graft.setsimPairBudget`), same DECIMAL(38,0)
    * arithmetic; the 1-row (ok, bound) verdict is applied by the caller
    * to the streamed candidate rows. */
  private def incrBudgetGate(spark: SparkSession, aprefix: DataFrame,
      priorPrefix: DataFrame): DataFrame = {
    val budget = spark.conf.getOption("spark.graft.setsimPairBudget")
      .map(_.toLong).getOrElse(100000000L)
    val dec = "decimal(19,0)"
    val dA = aprefix.groupBy("gram").agg(count(lit(1)).as("da"))
    val dR = priorPrefix.join(broadcast(dA.select("gram")), "gram")
      .groupBy("gram").agg(count(lit(1)).as("dr"))
    dA.join(broadcast(dR), Seq("gram"), "left")
      .agg(
        coalesce(sum(col("da").cast(dec) *
          coalesce(col("dr"), lit(0L)).cast(dec)), lit(0).cast(dec)).as("tc"),
        coalesce(sum(col("da").cast(dec) *
          (col("da") - 1).cast(dec)), lit(0).cast(dec)).as("t2"))
      // integral comparison: 2·(cross + within) ≤ 2·budget
      .select((col("tc") * 2 + col("t2") <=
          lit(budget).cast("decimal(38,0)") * 2).as("ok"),
        ((col("tc") * 2 + col("t2")) / 2).cast("decimal(38,0)")
          .cast("string").as("bound"))
  }

  /** Incremental exact set-similarity screen — dedup_setsim_join as the
    * O(delta) operation a production ingest runs: only the ARRIVING
    * docs (doc_id ≡ 0 mod 10) are tokenized and prefix-ranked, and the
    * result is exactly the corpus-wide join's rows restricted to pairs
    * touching an arrival — the oracle replays THAT definition
    * (brute-force all-pairs with an at-least-one-arrival condition), so
    * the hash-green row proves the incremental screen loses nothing the
    * batch join would have found. */
  def dedupSetsimIncr(spark: SparkSession, dir: String): DataFrame = {
    val root = setsimIndexRoot(spark, dir)
    // the arrival frames are registry stages, not per-call persists:
    // repeated calls (two-pass bench, verify + spec in one JVM) must not
    // accumulate cache entries — one owner stores and releases them
    val ag = Stages(spark, "dedup/setsim_arrival_grams", dir) {
      gramSetsOf(Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 === 0).select("doc_id", "text"))
    }
    val aprefix = Stages(spark, "dedup/setsim_arrival_prefix", dir) {
      arrivalPrefix(ag, spark.read.parquet(s"$root/df"))
    }
    setsimScreenWith(ag, aprefix,
      spark.read.parquet(s"$root/prefix"),
      spark.read.parquet(s"$root/grams"))
      .orderBy("id1", "id2")
  }

  /** EXACT evaluation of the MinHash/LSH screen at the J ≥ 1/2 operating
    * point, against the PPJoin join's lossless ground truth — the eval
    * `lsh_recall_audit` deliberately samples (O(sample) by design) made
    * affordable at FULL corpus scale: the truth side is the sub-quadratic
    * prefix-filter join, the predicted side is the LSH candidate stage,
    * both already sub-quadratic, so exact corpus-level recall costs no
    * more than the screens themselves. n_missed is computed by an
    * independent anti-join of the two pair sets (not derived as
    * n_truth − n_hit), so the row also guards the measure equivalence:
    * both sides score the SAME sorted gram sets with the SAME
    * cross-multiplied threshold, and a fork would break
    * n_truth = n_hit + n_missed in the oracle comparison. */
  def lshExactEval(spark: SparkSession, dir: String): DataFrame = {
    val truth = setsimPairs(spark, dir).select("id1", "id2")
    // the memoized verified stage's pair columns ARE the LSH candidate
    // set (both sides of every candidate passed the ≥3-token gate that
    // admits docs into the band join — the dedup_minhash_lsh invariant),
    // so read the cache instead of re-running the band self-join +
    // distinct per eval
    val cands = verifiedCandidates(spark, dir).select("id1", "id2")
    val vc = verifiedCandidates(spark, dir)
    val c = vc.agg(count(lit(1)).as("n_cands"),
      coalesce(sum((col("inter") * 3 >= col("tot")).cast("long")), lit(0L)).as("n_hit"))
    val t = truth.agg(count(lit(1)).as("n_truth"))
    val m = truth.join(cands, Seq("id1", "id2"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    c.crossJoin(t).crossJoin(m).select(
      col("n_truth"), col("n_cands"), col("n_hit"), col("n_missed"),
      // nullif: a dup-free corpus reports NULL, not an ANSI divide error
      expr("(1000000 * n_hit) div nullif(n_truth, 0)").as("recall_ppm"),
      expr("(1000000 * n_hit) div nullif(n_cands, 0)").as("candidate_precision_ppm"))
  }

  /** Connected components over the verified dup-pair graph: the step that
    * turns pairwise candidates into usable clusters. Iterative min-label
    * propagation — each round every node adopts the smallest label in its
    * neighborhood — converges in O(component diameter) rounds, and
    * near-dup components are shallow in practice (dup clusters are
    * near-cliques, so diameter ≈ 2–3 even when the cluster is huge). Each
    * round is one shuffle-join of the (node, label) table against the
    * edge list; the only driver-side value is the scalar changed-count
    * that decides convergence — labels never leave the executors.
    *
    * Output: (doc_id, cluster_id) for every document that has at least one
    * verified near-duplicate, cluster_id = min doc_id of the component. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy("doc_id")

  /** Memoized cluster stage: connected components over the memoized
    * verified pairs, computed once per (session, dataset); the registry
    * stores the labels and releases them. */
  def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    Stages(spark, "dedup/clusters", dir, chain = "dedup_clusters") {
      connectedComponents(
        verifiedCandidates(spark, dir)
          .filter(col("is_dup") === 1)
          .select("id1", "id2"))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    }

  /** Duplicate-aware sample weighting — the loss-REWEIGHTING alternative
    * to dropping near-duplicates: every document keeps a training weight
    * of 1/cluster_size (ppm-scaled integer, floor), so a family of k
    * near-identical documents contributes one document's worth of
    * gradient in expectation instead of k× (the over-representation that
    * makes models memorize boilerplate), while unique phrasing inside
    * each variant still gets seen. Singletons weigh 1.0 exactly. Shape:
    * the memoized cluster roster (only docs WITH a verified near-dup —
    * a small fraction of any real corpus) aggregates to per-cluster
    * sizes, joins back to the roster, and the result broadcasts against
    * the corpus id list as a left join — the corpus pass is map-side,
    * payload never moves, same drop-list discipline as dedup_apply. */
  def dedupSampleWeights(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    Tables.documents(spark, dir).select("doc_id")
      .join(broadcast(labels.join(sizes, "cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight_ppm", expr("1000000 div cluster_size"))
      .orderBy("doc_id")
  }

  /** Degree histogram of the verified dup graph — the one-line health
    * check read BEFORE clustering: a fat tail (nodes with degree ≫
    * cluster sizes) is the hub/template signature that warns the CC step
    * will chain unrelated families together (the same smell
    * dedup_cluster_cohesion measures after the fact, caught earlier and
    * cheaper). Two bounded aggregates over the memoized verified pairs —
    * per-node degree, then degree→count — output is O(max degree). */
  def dedupDegreeHist(spark: SparkSession, dir: String): DataFrame =
    verifiedCandidates(spark, dir).filter(col("is_dup") === 1)
      .select(col("id1").as("id")).unionAll(
        verifiedCandidates(spark, dir).filter(col("is_dup") === 1)
          .select(col("id2").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  /** Quality↔duplication calibration — the diagnostic that VALIDATES a
    * quality score against dedup behavior: per quality decile, how many
    * docs have a verified near-duplicate. Boilerplate families are both
    * low-quality and heavily duplicated, so a well-calibrated score
    * shows dup_rate falling as the decile rises; a flat curve means the
    * quality signal is not capturing the templated mass and gating on it
    * won't help dedup (and vice versa). Composition shape: the row-local
    * decile bucket (same clamped floor(q·10) as curriculum_order) joins
    * the broadcast cluster roster as a left membership flag, then one
    * 10-key aggregate — a corpus map-side pass over two already-gated
    * stages. */
  def qualityDupCalibration(spark: SparkSession, dir: String): DataFrame = {
    val roster = clusterLabels(spark, dir).select(col("doc_id"), lit(1).as("is_dup"))
    TextAnalysis.scoredDocs(spark, dir)
      .select(col("doc_id"),
        greatest(lit(0), least(lit(9), floor(col("quality") * 10).cast("int"))).as("qbucket"))
      .join(broadcast(roster), Seq("doc_id"), "left")
      .groupBy("qbucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0))).as("n_dup"))
      .withColumn("dup_rate_ppm", expr("1000000 * n_dup div n_docs"))
      .orderBy("qbucket")
  }

  /** Cluster-cohesion QA over the dup graph: per component, node count,
    * verified-edge count, and edge density in ppm of the complete graph
    * (2·10⁶·E / n(n−1)). Low-density mega-clusters are the classic LSH
    * failure smell — long chains glued by borderline pairs where A~B~C
    * but A̸~C — and the signal to tighten the threshold (see
    * dedup_threshold_sweep) before keep-first deletes half a template
    * family. Both inputs are memoized stages (labels + verified pairs);
    * an edge's endpoints share a component BY CONSTRUCTION, so one
    * id1→label join attributes every edge, and the output is two bounded
    * aggregates joined on cluster_id — never a corpus pass. */
  def dedupClusterCohesion(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
    val nodes = labels.groupBy("cluster_id").agg(count(lit(1)).as("n_nodes"))
    val edges = verifiedCandidates(spark, dir).filter(col("is_dup") === 1)
      .join(labels.withColumnRenamed("doc_id", "id1"), "id1")
      .groupBy("cluster_id").agg(count(lit(1)).as("n_edges"))
    nodes.join(edges, "cluster_id")
      .select(col("cluster_id"), col("n_nodes"), col("n_edges"),
        expr("2000000L * n_edges div (n_nodes * (n_nodes - 1))").as("density_ppm"))
      .orderBy("cluster_id")
  }

  /** Policy-driven dedup representative selection: per near-dup cluster,
    * keep the HIGHEST-QUALITY member (quality desc, doc_id asc tiebreak)
    * instead of dedupApply's min-id — the policy production pipelines
    * actually run, since the min-id doc may be the truncated or
    * boilerplate-ridden variant of the family. Shape: the tiny cluster
    * roster (memoized CC labels — only docs with a verified near-dup)
    * joins the row-local quality stage on doc_id, then one window
    * partitioned by cluster_id ranks members; the window's sort is
    * bounded by cluster size, never corpus size, and quality values are
    * the 6-decimal-rounded doubles both engines compute identically
    * (quality_score is hash-green), so the cross-engine argmax is exact
    * with the doc_id tiebreak absorbing any rounding-induced tie. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val byCl = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    clusterLabels(spark, dir)
      .join(TextAnalysis.scoredDocs(spark, dir).select("doc_id", "quality"), "doc_id")
      .select(col("cluster_id"), col("doc_id"), col("quality"),
        count(lit(1)).over(byCl).as("n_members"),
        row_number().over(byCl.orderBy(desc("quality"), col("doc_id"))).as("rn"))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("quality").as("kept_quality"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** Cluster-aware train/val/test split — the leakage FIX complementing
    * cross_split_leakage's audit: the unit of assignment is the near-dup
    * CLUSTER, not the document, so no verified near-duplicate pair can
    * straddle a split boundary (the protocol violation that inflates
    * eval scores). Singleton docs use group_key = their own doc_id with
    * the SAME salt as split_assign, so they hash to identical buckets —
    * migrating a doc-level split to the group-aware one only moves docs
    * that belong to clusters. Shape: one equi-join of the (small)
    * cluster roster against the corpus ids, then a row-local keyed
    * hash — rerun- and append-stable like every split decision here. */
  def groupSplitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(clusterLabels(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("group_key"))
      .select(col("doc_id"), col("group_key"),
        (conv(substring(md5(concat(lit("graft-split:"), col("group_key").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"))
      .select(col("doc_id"), col("group_key"), col("bucket"),
        when(col("bucket") < 96, "train")
          .when(col("bucket") < 98, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  /** Contrastive training-pair mining off the shared verify stage: per
    * anchor, up to 2 positives (verified near-dups) and up to 2 HARD
    * negatives (LSH candidates that failed verification — the
    * near-misses that actually teach an embedding margin, unlike random
    * negatives), jaccard-ranked with deterministic tie order; anchors
    * without a positive are dropped (nothing to contrast against). Long
    * format (anchor, role, pair_rank, other_id, jaccard) — the batch
    * shape a contrastive trainer consumes. Marginal cost: one bounded
    * window over the memoized candidate pairs — no re-pairing, no text
    * access, no new shuffle wider than the candidate set. */
  def contrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val vc = verifiedCandidates(spark, dir)
    val sym = vc
      .select(col("id1").as("anchor"), col("id2").as("other"), col("jaccard"), col("is_dup"))
      .unionByName(vc
        .select(col("id2").as("anchor"), col("id1").as("other"), col("jaccard"), col("is_dup")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("anchor", "is_dup").orderBy(desc("jaccard"), asc("other"))
    val kept = sym.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    val anchored = kept.filter(col("is_dup") === 1).select(col("anchor")).distinct()
    kept.join(anchored, Seq("anchor"))
      .select(col("anchor"),
        when(col("is_dup") === 1, "pos").otherwise("neg").as("role"),
        col("rn").cast("int").as("pair_rank"),
        col("other").as("other_id"), col("jaccard"))
      .orderBy("anchor", "role", "pair_rank")
  }

  /** Cluster-size histogram over the connected components — the
    * distribution report a dedup run publishes (how much of the corpus
    * sits in pairs vs. mega-clusters decides the drop policy). Two
    * bounded aggregates over the memoized labels; output is at most
    * |distinct sizes| rows regardless of corpus scale. */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** Connected components by contraction — alternating neighbor-min
    * hooking with pointer doubling (the Shiloach–Vishkin shape; same
    * O(log d) round bound as the large-star/small-star formulation, with
    * an exact, hash-free convergence test). Returns (id, label) with
    * label = min id of the component, for every node that appears in an
    * edge. See dedupClusters for the scale argument.
    *
    * Per round:
    *   hook:  label(v) ← min(label(v), min over neighbors' labels)
    *   jump:  label(v) ← label(label(v))   (parent-pointer doubling)
    * The jump halves every pointer chain, so total rounds are
    * O(log diameter) instead of the O(diameter) a pure min-label
    * propagation needs — a 200-node path converges in ~9 rounds, and no
    * component shape can force more than ~⌈log₂ d⌉ + O(1) rounds.
    * Because labels are node ids that only strictly decrease (bounded
    * below by the component min), the loop provably terminates on ANY
    * input — there is deliberately no round cap to abort behind.
    *
    * Fixed-point correctness: convergence means label(v) ≤ label(u) for
    * every edge (u,v) in both directions, so labels are constant per
    * component; labels are always in-component node ids and the component
    * min m keeps label(m)=m, so the constant is exactly m — identical
    * semantics (and oracle hashes) to the propagation it replaces.
    *
    * Lineage hygiene: each round's state is `localCheckpoint(eager)`ed,
    * not merely persisted. persist() caches DATA but leaves the logical
    * plan intact, and round k's plan references round k−1's frame more
    * than once (hook input, jump's self-join sides) — so the plan tree
    * would grow geometrically per round, which blows up driver memory
    * inside AQE replanning (measured: OOM in an 8 GiB heap on a ~30-round
    * random-graph property before checkpointing). Checkpointing truncates
    * the plan to a leaf, making every round O(1) in plan size; superseded
    * rounds' blocks are reclaimed by the ContextCleaner once the loop
    * drops its reference. (On a multi-node cluster with executor churn,
    * `checkpoint` to reliable storage is the fault-tolerant variant;
    * iteration state here is tiny — two longs per node — so
    * executor-local is the right default.)
    *
    * The returned frame is a projection of the last round's checkpoint,
    * not persisted: a caller that reads it more than once registers it
    * as a stage (clusterLabels, Similarity.embedClusters), and the
    * registry stores and releases it. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    // undirected adjacency, cached: re-read every round
    val adj = edges.select(col("id1").as("id"), col("id2").as("nbr"))
      .union(edges.select(col("id2").as("id"), col("id1").as("nbr")))
      .persist()
    // Initial labels fold the first hook into the dedup aggregation
    // itself — label₀ = min(id, min neighbor) — saving one join round.
    var state = adj
      .groupBy("id").agg(least(col("id"), min(col("nbr"))).as("label"))
      .localCheckpoint(true)
    var changed = 1L
    while (changed > 0) {
      // hook: pull the min label across every edge
      val nbrMin = adj
        .join(state.select(col("id").as("nbr"), col("label").as("nbr_label")), "nbr")
        .groupBy("id").agg(min("nbr_label").as("min_nbr"))
      // `old` rides along so the convergence count is a filter over the
      // frame being materialized anyway — no extra join against state.
      val hooked = state.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("min_nbr"), col("label"))).as("label"))
        .localCheckpoint(true) // referenced twice by the jump join below
      // jump: label ← label(label). Labels are node ids, so the parent's
      // row always exists; the left join + coalesce is belt-and-braces.
      // Parent labels ≤ parent ids ≤ own label, so the jump is monotone
      // and the changed-count below still measures true progress.
      val jumped = hooked
        .join(hooked.select(col("id").as("label"), col("label").as("plabel"))
          .as("parent"), Seq("label"), "left")
        .select(col("id"), col("old"),
          coalesce(col("plabel"), col("label")).as("label"))
        .localCheckpoint(true) // plan becomes a leaf — see scaladoc
      changed = jumped.filter(col("label") < col("old")).count()
      state = jumped.select("id", "label")
    }
    adj.unpersist()
    state
  }

  /** Deduplicated corpus: drop exact-dup non-keepers (min doc_id per
    * content fingerprint survives) and near-dup cluster non-representatives
    * (cluster_id survives), via one anti-join on doc_id — the emit step an
    * LLM-data pipeline actually runs. The drop list is tiny relative to
    * the corpus, so AQE broadcasts it and the corpus streams map-only. */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nearDrops = clusterLabels(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    // Digest BEFORE the window: partitioning over a pre-projected
    // (doc_id, fp) pair means only 16-byte digests ride the exchange.
    // Windowing directly over md5(text) re-evaluates the partition
    // expression post-shuffle, forcing the full text column through the
    // wire — a full-corpus text shuffle at 100 TB for 16-byte keys.
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val exactDrops = docs
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .select(col("doc_id"), min(col("doc_id")).over(byFp).as("keep"))
      .filter(col("doc_id") =!= col("keep"))
      .select("doc_id")
    docs.join(nearDrops.union(exactDrops).distinct(), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Incremental-ingest dedup: classify a NEW batch (doc_id ≡ 0 mod 10,
    * the stand-in ingest slice) against the EXISTING corpus — the
    * steady-state shape of a production dedup service, where the corpus
    * is already resident and only the delta is scored. Each new doc is
    * `dup_exact` if its fingerprint collides with any existing doc or an
    * earlier new doc, `dup_near` if a verified near-dup pair links it to
    * an existing doc or an earlier new doc, else `kept`.
    *
    * Scale shape: the exact check is a fingerprint equi-join (16-byte
    * digests), the near check reuses the memoized LSH→verify pairs —
    * nothing rescans or re-pairs the existing corpus beyond the shared
    * chain stage; in production the old side's signatures come from the
    * persisted index rather than recompute, but the join topology is
    * identical. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = (col("doc_id") % 10 === 0)
    val fps = docs.select(col("doc_id"), md5(col("text")).as("fp"))
    // exact: earliest holder of each fingerprint wins; a NEW doc is a dup
    // if any older doc (existing, or new with smaller id) shares its fp
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val exactDup = fps
      .select(col("doc_id"), min(col("doc_id")).over(byFp).as("first_id"))
      .filter(isNew && col("doc_id") =!= col("first_id"))
      .select(col("doc_id"))
    // near: verified pairs (id1 < id2 by construction) where the LATER
    // side is a new doc — the earlier side is existing or an earlier new
    val nearDup = verifiedCandidates(spark, dir)
      .filter(col("is_dup") === 1 && col("id2") % 10 === 0)
      .select(col("id2").as("doc_id"))
    docs.filter(isNew)
      .join(exactDup.withColumn("is_exact", lit(1)), Seq("doc_id"), "left")
      .join(nearDup.distinct().withColumn("is_near", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact") === 1, "dup_exact")
          .when(col("is_near") === 1, "dup_near")
          .otherwise("kept").as("status"))
      .orderBy("doc_id")
  }

  /** BFS levels over the verified dup graph from its smallest node — the
    * reachability probe (how far does a contamination/duplication chain
    * spread from a seed?). Frontier-expansion loop via Graph.bfsLevels;
    * the only driver-side values are the per-level growth scalars. */
  def dedupBfsLevels(spark: SparkSession, dir: String): DataFrame = {
    val edges = verifiedCandidates(spark, dir)
      .filter(col("is_dup") === 1).select("id1", "id2")
    val minRow = edges.agg(min(col("id1"))).head()
    if (minRow.isNullAt(0)) {
      // zero verified dup pairs: no graph, no levels — empty frame, not NPE
      import spark.implicits._
      spark.emptyDataset[(Long, Long)].toDF("id", "level")
    } else {
      Graph.bfsLevels(edges, minRow.getLong(0)).orderBy("id")
    }
  }

  /** 32-bit SimHash per document (majority vote per bit) over one
    * 32-bit md5-derived integer per token — bit tests are integer
    * shifts, not string surgery. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val vals = transform(toksCol, t => TextFunctions.md5Base32(t))
    // single-pass codegen kernel (SimHashBits); the previous Column
    // formulation — 32 independent size(filter(bit-test)) trees —
    // re-traversed the token array 32× per doc (measured 2.8 s → sub-s
    // at sf0.1, same majority-vote bits)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.plans.VectorExpressions.simhash32(vals).as("simhash"))
      .orderBy("doc_id")
  }

  /** Exact Jaccard over distinct char-5-grams for pairs inside a
    * (lang, source, length-band) blocking group — the verification stage
    * an LSH pipeline runs on its candidates. Set sizes are precomputed
    * per doc and the intersection is evaluated exactly once per pair.
    * Blocks are sub-divided by geometric length bands (ratio 5, matching
    * the 5·min ≥ max admissibility bound), which is LOSSLESS for the
    * J ≥ 0.2 threshold: no admissible pair spans more than adjacent
    * bands, so the per-block quadratic is bounded by a band's population
    * rather than a whole (lang, source) slice of the corpus. */
  /** Base-31 rolling hash of text[i..i+n) — JVM twin of the SQL polynomial
    * in the oracle (ascii-exact on the ASCII corpus). */
  private def gramHash(s: String, i: Int, n: Int): Long = {
    var h = 0L
    var j = 0
    while (j < n) { h = h * 31 + s.charAt(i + j).toLong; j += 1 }
    h
  }

  /** The per-doc gram-set stage shared by the exhaustive audit and its
    * sampled variant: (doc_id, lang, source, sorted distinct 5-gram
    * hashes, set size, length band). Computed in a typed mapPartitions —
    * a tight JVM loop AND a hard optimizer barrier. Expressing this with
    * Column transforms let Catalyst/AQE inline the gram pipeline into
    * downstream operators (the self-join predicate, pushed filters) and
    * recompute it per CANDIDATE PAIR — thread dumps showed ArrayDistinct
    * inside the join's SpecificPredicate and O(len²) ascii loops in the
    * scan; 813 s vs ~10 s at sf0.1. Deserialize/Serialize boundaries are
    * opaque to the optimizer, so the arrays are materialized exactly
    * once per doc. */
  private def gramSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // kernel-wide scan: the O(len) gram loop below is the cost center,
    // not the scan — see Tables.floorParallelism
    Tables.documentsKernelWide(spark, dir)
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .as[(Long, String, String, String)]
      .mapPartitions(_.map { case (id, lang, src, text) =>
        val set = new scala.collection.mutable.LinkedHashSet[Long]
        var i = 0
        while (i <= text.length - 5) { set += gramHash(text, i, 5); i += 1 }
        // length band = min(⌊log₅ sz⌋, 10), geometric with ratio 5 —
        // ALIGNED with the 5·min ≥ max size bound below, so a surviving
        // pair's bands differ by at most 1 (sub-blocking is lossless for
        // J ≥ 0.2; merging everything past band 10 — docs with ≥ 5¹⁰
        // ≈ 10M distinct grams, i.e. ~10MB+ of text — stays lossless
        // too, it just coarsens the pruning for those giants). The cap
        // exists so the sampled-audit oracle's finite CASE chain is
        // EXACTLY this function, not a truncation of it.
        var band = 0
        var t = set.size
        while (t >= 5 && band < 10) { t /= 5; band += 1 }
        // sorted ascending: the contract SortedIntersectCount's merge
        // scan relies on — one sort per document, not per pair
        (id, lang, src, set.toArray.sorted, set.size, band)
      })
      .toDF("doc_id", "lang", "source", "g", "sz", "band")
  }

  /** Enforced audit budget: the exhaustive audit refuses loudly when any
    * blocking group could generate more candidate pairs than
    * `spark.graft.jaccardPairBudget` (default 10⁷ per block, ~3k docs) —
    * the adjudicated "small-SF verifier" role as a CONTRACT rather than
    * a convention, so nobody silently runs an in-band quadratic at
    * corpus scale (the at-scale form is [[dedupNgramJaccardSampled]]).
    * The per-block populations come from an exact extra pass over the
    * gram stage (the band is defined on DISTINCT gram counts, so a
    * cheap length-based estimate could under-count a band that
    * repetitive long docs collapse into — exactly the blowup the budget
    * exists to catch); that pass is linear, runs as the broadcast build
    * BEFORE any pair is generated, and the guard itself rides the probe
    * projection via the chunk_retrieval raise_error-in-arithmetic
    * pattern (wrapping `sz`, which the join condition references, so
    * the optimizer cannot prune it): the first probe row of an
    * over-budget block kills the job with the block's coordinates while
    * the refusal cost stays O(corpus), never O(pairs). */
  private def budgetGuarded(spark: SparkSession, probe: DataFrame): DataFrame = {
    val budget = spark.conf.getOption("spark.graft.jaccardPairBudget")
      .map(_.toLong).getOrElse(10000000L)
    // compare m against floor(sqrt(budget)) rather than m*m against the
    // budget: at the (en, web)-slice scale this guard exists for,
    // m ≥ ~3.04e9 would overflow m*m to a NEGATIVE Long and the
    // overflowed product would pass the very check meant to refuse it
    val maxM = math.sqrt(budget.toDouble).toLong
    val blockM = probe.groupBy("lang", "source", "block").agg(count(lit(1)).as("m"))
    probe.join(broadcast(blockM), Seq("lang", "source", "block"))
      .withColumn("sz",
        when(col("m") <= maxM, col("sz"))
          .otherwise(raise_error(concat(
            lit("dedup_ngram_jaccard: block ("), col("lang"), lit(", "),
            col("source"), lit(", band "), col("block").cast("string"),
            lit(") holds "), col("m").cast("string"),
            lit(s" docs — candidate-pair bound exceeds the exhaustive-audit " +
              s"budget of $budget pairs/block; run dedup_ngram_jaccard_sampled " +
              "at this scale or raise spark.graft.jaccardPairBudget"))
          ).cast("int")))
      .drop("m")
  }

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val g = gramSets(spark, dir)
    // Asymmetric band join, each admissible pair generated EXACTLY once:
    // the probe side enters its own band's block AND the next band up,
    // the anchor side only its own band. A same-band pair matches in its
    // band (doc_id < dedupes the two orders); a cross-band pair matches
    // only where the anchor is the larger-band doc meeting the smaller
    // doc's up-copy. A raw (lang, source) block — the whole corpus for
    // (en, web) at 100 TB — never self-joins: the quadratic is bounded
    // per (lang, source, length-band) block, and for a single-band corpus
    // the candidate-pair count equals the plain self-join's (the up-copies
    // meet an empty anchor band — no inflation, measured 3.7 s → 2.8 s at
    // sf0.1 vs the symmetric both-sides-exploded variant).
    // one exchange, reused by both sides: the probe (exploded) frame is
    // hash-partitioned on the block key; the anchor side is the same
    // frame filtered to its own band (block == band), so its rows are
    // already partitioned by (lang, source, band) and the join's second
    // input is a ReusedExchange — grams are computed and shuffled once
    val probe = budgetGuarded(spark, g
      .withColumn("block", explode(array(col("band"), col("band") + 1))))
      .repartition(col("lang"), col("source"), col("block"))
    probe.filter(col("block") === col("band")).as("a")
      .join(probe.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.block") === col("b.block") &&
          (col("a.band") > col("b.band") || col("a.doc_id") < col("b.doc_id")) &&
          // size filter (lossless): J = i/(s1+s2−i) ≥ 0.2 needs
          // i ≥ (s1+s2)/6 and i ≤ min(s1,s2), hence 5·min ≥ max — integer
          // predicates over precomputed sizes prune a pair BEFORE its
          // set intersection is ever evaluated
          col("a.sz") * 5 >= col("b.sz") && col("b.sz") * 5 >= col("a.sz"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id2"),
        // merge-scan count over the pre-sorted arrays: no per-pair hash
        // set, no materialized intersection array (see SortedIntersectCount
        // for the measured prefix-filter dead end this replaces)
        graft.plans.VectorExpressions.sorted_intersect_count(col("a.g"), col("b.g")).as("inter"),
        (col("a.sz") + col("b.sz")).as("tot"))
      // threshold BEFORE the jaccard projection, as integer arithmetic
      // referencing `inter` exactly once: J = i/(tot-i) >= 0.2 ⟺ 6i >= tot.
      // Catalyst folds this into the join condition — which is fine (and
      // fast) precisely because the substituted expression computes the
      // intersect once. Filtering on the rounded jaccard instead would
      // substitute a formula with TWO intersect occurrences into the join
      // (measured 4x slowdown).
      .filter(col("inter") * 6 >= col("tot"))
      .select(col("id1"), col("id2"),
        round(col("inter") / (col("tot") - col("inter")), 6).as("jaccard"))
      .orderBy("id1", "id2")
  }

  /** Sampled exact-Jaccard audit — the form of [[dedupNgramJaccard]] one
    * actually runs at corpus scale. The exhaustive audit is in-band
    * quadratic BY DEFINITION (every admissible pair must be scored), so
    * at 100 TB it is an audit nobody runs; this variant ground-truths the
    * LSH pipeline's recall at O(sample) cost instead: a deterministic
    * stratified document sample per (lang, source, length-band) block,
    * then exact Jaccard on ALL pairs inside the sampled stratum —
    * unthresholded, so the output is the true J distribution the LSH
    * threshold sweep can be calibrated against.
    *
    * The sample is rate-adapted, not rank-based, on purpose: a
    * `row_number` window per block would place an entire block — the
    * whole (en, web) slice of the corpus — in ONE window partition. Here
    * block populations come from a partial-aggregated count (tiny: ≤
    * #langs·#sources·#bands rows, broadcast back), and selection is the
    * map-side integer predicate `hash56(doc_id) < (TARGET·2⁵⁶) div m` —
    * expected TARGET docs per block whatever m is, hence O(TARGET²)
    * pairs per block at ANY scale, and the keyed md5 hash (the
    * curriculum_order recipe, widened to 14 hex digits = 56 bits so the
    * floored threshold stays nonzero up to m ≈ 7·10¹⁶ docs per block —
    * a ppm-quantized rate would silently sample NOTHING past m = 8·10⁶,
    * exactly the corpus scale the audit exists for) makes the draw
    * reproducible run-to-run, append-stable, and replayable verbatim by
    * the DuckDB oracle. Blocks at or under TARGET docs are audited
    * exhaustively (the rate saturates), so small strata lose nothing. */
  def dedupNgramJaccardSampled(spark: SparkSession, dir: String): DataFrame = {
    val target = 8L // expected docs sampled per block → ≤ ~28 pairs each
    val g = gramSets(spark, dir)
    val sizes = g.groupBy("lang", "source", "band").agg(count(lit(1)).as("m"))
    val samp = g
      .withColumn("hk", conv(substring(md5(concat(lit("graft-jacsample:"),
        col("doc_id").cast("string"))), 1, 14), 16, 10).cast("long"))
      .join(broadcast(sizes), Seq("lang", "source", "band"))
      .filter(col("hk") < expr(s"${target * (1L << 56)} div m"))
    samp.as("a")
      .join(samp.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.lang").as("lang"), col("a.source").as("source"),
        col("a.band").as("band"),
        col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        graft.plans.VectorExpressions.sorted_intersect_count(
          col("a.g"), col("b.g")).as("inter"),
        (col("a.sz") + col("b.sz")).as("tot"))
      .select(col("lang"), col("source"), col("band"), col("id1"), col("id2"),
        round(col("inter") / (col("tot") - col("inter")), 6).as("jaccard"))
      .orderBy("lang", "source", "band", "id1", "id2")
  }

  /** LSH recall/precision audit against a seeded document sample — the
    * measurement the sampled-audit machinery exists for: MinHash-LSH's
    * candidate set has no global ground truth at corpus scale (exact
    * all-pairs shingle Jaccard is quadratic), so ground truth comes from
    * a rate-adapted md5-keyed doc sample (expected 64 shingled docs
    * whatever the corpus size — the ngram_jaccard_sampled trick at doc
    * granularity), exact Jaccard over ALL in-sample pairs, and a join
    * against the pipeline's own candidate stage. Every sampled pair is
    * emitted with its true Jaccard, the pipeline's duplicate verdict
    * threshold (6·inter ≥ tot ⟺ J ≥ 0.2), and whether LSH generated it —
    * so the one bounded table reads out recall (caught among true dups)
    * AND candidate precision (true dups among caught), the two numbers
    * that size the band/row trade. Scale shape: the 1-row universe count
    * broadcasts, selection is a map-side integer predicate, the pair
    * universe is sample²-bounded (~2k rows) at ANY corpus size, and the
    * candidate join touches only in-sample pairs. */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val target = 64L
    // the sample universe and its size both come from the PERSISTED
    // signature stage — cachedSignatures applies the identical
    // ≥3-tokens admission (shingled docs), so neither the draw nor m
    // needs a corpus gram scan of its own
    val sigs = cachedSignatures(spark, dir)
    val m = sigs.agg(count(lit(1)).as("m"))
    // 56-bit draw for the same reason as ngram_jaccard_sampled: the
    // floored per-corpus rate must stay nonzero at any realistic m
    val sampIds = sigs.select("doc_id")
      .withColumn("hk", conv(substring(md5(concat(lit("graft-lshsample:"),
        col("doc_id").cast("string"))), 1, 14), 16, 10).cast("long"))
      .crossJoin(broadcast(m))
      .filter(col("hk") < expr(s"${target * (1L << 56)} div m"))
      .select("doc_id")
    // exact shingle-gram sets are derived ONLY for the sampled docs —
    // the broadcast id semi-restriction reaches the documents scan, so
    // the expensive tokenize/shingle/hash pipeline runs on ~TARGET rows,
    // not the corpus (the third full gram scan the review caught)
    val samp = Tables.documents(spark, dir)
      .join(broadcast(sampIds), Seq("doc_id"))
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), array_distinct(TextFunctions.minhashBases(
        array_distinct(TextFunctions.wordShinglesFromTokens(col("toks"), 3)))).as("g"))
      .select(col("doc_id"), col("g"), size(col("g")).as("sz"))
    // candidacy among sampled docs only: a pair is an LSH candidate iff
    // its OWN band signatures collide, so restricting the signature
    // frame to the sample before the band self-join is semantically
    // identical for every audited pair — and collapses the audit's
    // candidate stage from a corpus-wide join (measured ×11 at 10× data)
    // to a ~64-doc one, keeping the whole operator O(sample) + one
    // (persisted) signature scan
    val cands = lshPairsFromSigs(sigs
        .join(broadcast(sampIds), Seq("doc_id")))
      .withColumn("caught", lit(1))
    // broadcast one side of the sample² pair join: the frame is
    // TARGET-bounded by the draw, so this plans as a nested-loop over
    // ~64 broadcast rows instead of a CartesianProduct exchange
    samp.as("a")
      .join(broadcast(samp.as("b")), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        size(array_intersect(col("a.g"), col("b.g"))).as("inter"),
        (col("a.sz") + col("b.sz")).as("tot"))
      .join(cands, Seq("id1", "id2"), "left")
      .select(col("id1"), col("id2"),
        round(col("inter") / (col("tot") - col("inter")), 6).as("jaccard"),
        (col("inter") * 6 >= col("tot")).cast("int").as("is_dup"),
        coalesce(col("caught"), lit(0)).as("caught"))
      .orderBy("id1", "id2")
  }

  /** Per-pair budget for the O(len1·len2) character re-rank kernels
    * (Levenshtein's DP table, Jaro's match window): candidate COUNT is
    * LSH-bounded, but nothing bounds candidate LENGTH — two 40 kB
    * boilerplate-sharing documents pass every band filter and then cost
    * 1.6e9 DP cells per pair, hours on a corpus with a few hundred such
    * docs (found by the r16 adversarial-corpus probe, not theoretical).
    * The contract mirrors `jaccardPairBudget`: the guard rides the text
    * column the kernel references (raise_error-in-arithmetic, so the
    * optimizer cannot prune it) and the first over-budget pair kills the
    * job with its coordinates and the remediation — the banded measures
    * (simhash / minhash / setsim) are the at-scale screen for long
    * documents; character-level DP is a SHORT-document re-ranker. */
  private[graft] def charBudgetGuarded(spark: SparkSession, joined: DataFrame,
      row: String): DataFrame = {
    val budget = spark.conf.getOption("spark.graft.editPairCharBudget")
      .map(_.toLong).getOrElse(4000000L)
    // a null text can't cost the kernel anything — pass it through (the
    // downstream measure yields null, the pre-ADVICE behavior) instead of
    // letting the null-valued when-condition fall through to raise_error
    joined.withColumn("t1",
      when(col("t1").isNull.or(col("t2").isNull)
          .or(length(col("t1")).cast("long") * length(col("t2")) <= budget), col("t1"))
        .otherwise(raise_error(concat(
          lit(s"$row: candidate pair ("), col("id1").cast("string"), lit(", "),
          col("id2").cast("string"), lit(") has character product "),
          (length(col("t1")).cast("long") * length(col("t2"))).cast("string"),
          lit(s" — the O(len1*len2) re-rank kernel exceeds the per-pair " +
            s"budget of $budget; screen long documents with the banded " +
            "measures (dedup_simhash / dedup_minhash_lsh / dedup_setsim_join) " +
            "or raise spark.graft.editPairCharBudget"))).cast("string")))
  }

  /** Edit-distance verification of LSH candidates: full Levenshtein plus
    * a length-normalized similarity per candidate pair. The O(L²) kernel
    * runs ONLY on pairs LSH already admitted (candidate-driven, like
    * dedupVerifyCandidates) — texts are fetched by two doc_id equi-joins,
    * so the corpus is never self-joined and the pair count stays bounded
    * by LSH bucket occupancy at any scale; per-pair COST is bounded by
    * [[charBudgetGuarded]] (long documents refuse loudly). */
  def dedupEditDistance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val joined = verifiedCandidates(spark, dir).select("id1", "id2")
      .join(docs.select(col("doc_id").as("id1"), col("text").as("t1")), "id1")
      .join(docs.select(col("doc_id").as("id2"), col("text").as("t2")), "id2")
    charBudgetGuarded(spark, joined, "dedup_editdist")
      .select(col("id1"), col("id2"),
        levenshtein(col("t1"), col("t2")).as("editdist"),
        greatest(length(col("t1")), length(col("t2"))).as("mx"))
      .select(col("id1"), col("id2"), col("editdist"),
        round(lit(1.0) - col("editdist") / col("mx"), 6).as("edit_sim"))
      .orderBy("id1", "id2")
  }

  /** Jaro-Winkler re-ranking of LSH candidates — the prefix-weighted,
    * length-tolerant string measure (standard for near-name matching)
    * Spark lacks natively; implemented as the codegen JaroWinkler
    * expression with semantics verified against DuckDB's
    * jaro_winkler_similarity. Candidate-driven like dedup_editdist, and
    * cost-bounded by the same [[charBudgetGuarded]] contract (Jaro's
    * match window makes it O(len1·len2) too). */
  def dedupJaro(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val joined = verifiedCandidates(spark, dir).select("id1", "id2")
      .join(docs.select(col("doc_id").as("id1"), col("text").as("t1")), "id1")
      .join(docs.select(col("doc_id").as("id2"), col("text").as("t2")), "id2")
    charBudgetGuarded(spark, joined, "dedup_jaro")
      .select(col("id1"), col("id2"),
        round(graft.plans.StringExpressions.jaro_winkler(col("t1"), col("t2")), 6)
          .as("jw_sim"))
      .orderBy("id1", "id2")
  }

  /** In-plan wedge budget for the triangle-enumeration rows: candidate
    * pairs are LSH-bounded, but a MASS-DUPLICATE family turns the dup
    * graph into a clique, and triangle listing over a k-clique is
    * Θ(k³) OUTPUT — the r16 adversarial probe measured 146–223 s at 1×
    * for a 400-clique (20% boilerplate carriers) and the 10× shape is
    * ~10¹⁰ triangles. The wedge bound Σ_v d(v)(d(v)−1)/2 — the exact
    * candidate count of the wedge self-join and an upper bound (×3) on
    * listed triangles — is computed by one linear degree pass in
    * DECIMAL(38,0), and the 1-row verdict broadcasts onto the edge list,
    * riding the `id1` column every enumeration join references: an
    * over-budget graph dies on its first wedge at O(E) cost. The
    * at-scale remedies are the AGGREGATE graph rows (clusters, sizes,
    * degree histogram detect the hub; keep-best collapses it) — listing
    * every triangle of a clique is the wrong question at that shape. */
  private def wedgeBudgetGuarded(spark: SparkSession, edges: DataFrame,
      row: String): DataFrame = {
    val budget = spark.conf.getOption("spark.graft.wedgeBudget")
      .map(_.toLong).getOrElse(100000000L)
    val sym = edges.unionByName(
      edges.select(col("id2").as("id1"), col("id1").as("id2")))
    val gate = sym.groupBy("id1").agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(col("d").cast("decimal(19,0)") *
        (col("d") - 1).cast("decimal(19,0)")), lit(0).cast("decimal(38,0)")).as("t2"))
      .select((col("t2") <= lit(budget).cast("decimal(38,0)") * 2).as("ok"),
        (col("t2") / 2).cast("decimal(38,0)").cast("string").as("bound"))
    edges.crossJoin(broadcast(gate))
      .withColumn("id1",
        when(col("ok"), col("id1"))
          .otherwise(raise_error(concat(
            lit(s"$row: wedge bound "), col("bound"),
            lit(s" exceeds spark.graft.wedgeBudget=$budget — a mass-duplicate " +
              "clique makes per-triangle enumeration explode; use the aggregate " +
              "graph rows (dedup_clusters / dedup_cluster_sizes / " +
              "dedup_degree_hist) at this shape, or raise the budget"))
          ).cast("long")))
      .drop("ok", "bound")
  }

  /** Triangles of the verified dup graph — the cluster-density signal
    * (near-dup components should be near-cliques; a sparse, triangle-poor
    * component suggests chained false positives). Enumeration is
    * Graph.trianglesOf over the memoized verified edges, wedge-budget
    * guarded ([[wedgeBudgetGuarded]]): listing triangles of a
    * mass-duplicate clique refuses loudly instead of emitting Θ(k³). */
  def dedupTriangles(spark: SparkSession, dir: String): DataFrame =
    Graph.trianglesOf(guardedDupEdges(spark, dir, "dedup_triangles"))
      .orderBy("a", "b", "c")

  /** The verified dup edges behind `row`'s wedge-budget guard, registered
    * as a stage so the guard runs ONCE: the enumeration references its
    * edge frame several times (trianglesOf 3×, local_cc 7×), and each
    * reference of an unstored frame re-executes the 1-row budget gate's
    * aggregate + broadcast subplan (r22 plan audit: the un-truncated
    * local_cc variant carried 228 Exchanges / 130 cache scans for a
    * verified-pair-sized input). The list is tiny — bounded by LSH
    * bucket occupancy — and an over-budget graph still refuses loudly,
    * at the first action that reads it. The budget is the stage's conf
    * parameter, so a mid-session budget change is a miss. */
  private def guardedDupEdges(spark: SparkSession, dir: String, row: String): DataFrame =
    Stages(spark, s"dedup/${row}_edges", dir,
        conf = spark.conf.getOption("spark.graft.wedgeBudget").getOrElse("")) {
      wedgeBudgetGuarded(spark,
        verifiedCandidates(spark, dir).filter(col("is_dup") === 1).select("id1", "id2"), row)
    }

  /** Per-node local clustering coefficient of the verified dup graph —
    * the node-level refinement of dedup_cluster_cohesion's per-component
    * density: lcc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)) in ppm. In a genuine
    * near-dup family every member's neighbors are each other's neighbors
    * (lcc → 1e6); a CHAIN node gluing two families through borderline
    * pairs has high degree but triangle-poor neighbors (lcc → 0) — this
    * report names exactly which doc to re-verify before components are
    * collapsed, where the component-level density only says something is
    * off somewhere.
    *
    * Shape: wedges (neighbor pairs per node) from one self-join of the
    * symmetric edge list, closed against the canonical edge set with a
    * LEFT SEMI join, then two bounded aggregates. Wedge count is
    * Σ deg(v)² — quadratic in DEGREE, not corpus; near-dup family size
    * bounds degrees on natural corpora, and [[wedgeBudgetGuarded]]
    * ENFORCES that assumption (a mass-duplicate clique refuses loudly
    * instead of melting — the r16 probe finding); integer ppm via
    * `div`, exact cross-engine. */
  def dedupLocalCc(spark: SparkSession, dir: String): DataFrame = {
    val e = guardedDupEdges(spark, dir, "dedup_local_cc")
    val edges = e.unionByName(e.select(col("id2").as("id1"), col("id1").as("id2")))
    val deg = edges.groupBy("id1").agg(count(lit(1)).as("deg"))
    // Per-node triangle counts from the ORIENTED enumeration (a<b<c, the
    // trianglesOf kernel) instead of closing symmetric wedges at every
    // corner: the oriented wedge join generates ≈¼ the candidates of the
    // symmetric Σ deg(v)² self-join (guide §2.3 — fewer rows into the
    // exchange), and exploding each triangle to its 3 corners counts
    // exactly the triangles incident to v — the same n_tri.
    val tri = Graph.trianglesOf(e)
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("tri"))
    deg.join(tri, col("id1") === col("v"), "left")
      .select(col("id1").as("doc_id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          expr("(2000000 * coalesce(tri, 0)) div (deg * (deg - 1))"))
          .otherwise(0L).as("lcc_ppm"))
      .orderBy("doc_id")
  }

  /** MinHash-estimate calibration: for every LSH candidate pair, the
    * signature-agreement estimate Ĵ = |{i : sig1ᵢ = sig2ᵢ}| / k next to
    * the exact Jaccard — the sketch-quality report a dedup pipeline uses
    * to size k before committing to a threshold. Reuses the memoized
    * verified stage for the exact side; the estimate side is two
    * signature equi-joins on doc_id (pair-bounded, never corpus-bounded).
    * Ĵ is m/8 — a dyadic rational, exact in binary on both engines. */
  def minhashEstVsExact(spark: SparkSession, dir: String): DataFrame = {
    val sigs = cachedSignatures(spark, dir)
    verifiedCandidates(spark, dir)
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
      .select(col("id1"), col("id2"),
        round(size(filter(zip_with(col("sig1"), col("sig2"), (a, b) => a === b),
          x => x)) / lit(8.0), 6).as("est_jaccard"),
        col("jaccard"))
      .orderBy("id1", "id2")
  }

  /** Benchmark decontamination: flag training documents sharing ≥5
    * distinct char-8-gram hashes with any document in a held-out
    * benchmark set (stand-in here: doc_id ≡ 0 mod 50) — the overlap check
    * every LLM data pipeline runs before training so eval results aren't
    * contaminated by memorized test items.
    *
    * Scale shape: gram sets are computed per doc in one typed
    * mapPartitions pass (optimizer barrier — see dedupNgramJaccard), then
    * exploded into an inverted (gram, doc) index and equi-joined on the
    * gram hash. The benchmark side is genuinely bounded (benchmarks are
    * MBs while the corpus is TBs), so its distinct-gram set is
    * broadcast — the training corpus streams map-only through the join,
    * never shuffling on gram. */
  /** Distinct char-8-gram hashes of one text — the row-local kernel
    * shared by the batch decontamination passes and the streaming twin's
    * per-batch screen. */
  private[graft] def gramSet8(text: String): Array[Long] = {
    val set = new scala.collection.mutable.LinkedHashSet[Long]
    var i = 0
    while (i <= text.length - 8) { set += gramHash(text, i, 8); i += 1 }
    set.toArray
  }

  /** The exploded (doc_id, gram) inverted frame both decontamination
    * passes and the benchmark-gram artifact build share. */
  private def gramsFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsKernelWide(spark, dir)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, gramSet8(text)) })
      .toDF("doc_id", "g")
      .select(col("doc_id"), explode(col("g")).as("gr"))
  }

  /** Persisted benchmark-gram artifact (durable-artifact protocol, like
    * the BPE merges / gate spec / IVF index): the distinct char-8-gram
    * hash set of the held-out benchmark split, written once as parquet
    * and reloaded by the streaming decontamination twin — the production
    * contract where the benchmark registry ships its gram sketch to the
    * ingest service rather than every consumer rescanning the split. The
    * set is bounded by benchmark size (MBs while the corpus is TBs). */
  private[graft] def benchGramRoot(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactRoots.built(spark, "benchgrams", dir, Seq("grams"),
        chain = "bench_grams") { stage =>
      gramsFrame(spark, dir).filter(col("doc_id") % 50 === 0)
        .select("gr").distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/grams")
    }

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val grams = gramsFrame(spark, dir)
    val bench = grams.filter(col("doc_id") % 50 === 0).select("gr").distinct()
    val train = grams.filter(col("doc_id") % 50 =!= 0)
    val shared = train.join(broadcast(bench), "gr")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 50 =!= 0)
      .select("doc_id")
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= 5).cast("int").as("contaminated"))
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered decontamination — the sketch-accelerated first
    * pass at corpus scale: instead of shuffling every training gram into
    * a join, a Bloom filter over the (bounded) benchmark gram set rides
    * to the executors as a few MB broadcast and each gram is screened
    * with a hash probe, MAP-ONLY. Bloom guarantees no false negatives,
    * so the screened doc set is a provable superset of the exactly
    * contaminated set; the exact join then runs only on the screened
    * survivors. The oracle emits the exact result + literal true for
    * `no_false_negative` (the bound-gate pattern): the row is green iff
    * every exactly-contaminated doc was flagged by the sketch. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = gramsFrame(spark, dir)
    val bench = grams.filter(col("doc_id") % 50 === 0).select("gr").distinct()
    // Size the filter from the realized benchmark-gram cardinality (the
    // bench side is bounded — MBs, not the corpus — so this count is
    // cheap): a hardcoded capacity silently degrades fpp at larger SFs,
    // eroding the map-only screening advantage. Floor keeps tiny inputs
    // from under-sizing below the library's effective minimum.
    val benchGrams = bench.persist()
    val expected = math.max(benchGrams.count(), 10000L)
    val bf = benchGrams.stat.bloomFilter("gr", expected, 0.01)
    benchGrams.unpersist()
    val bfB = spark.sparkContext.broadcast(bf)
    // map-only screen: per-doc count of sketch-positive grams
    val screened = grams.filter(col("doc_id") % 50 =!= 0)
      .as[(Long, Long)]
      .mapPartitions { it =>
        val f = bfB.value
        it.collect { case (id, gr) if f.mightContainLong(gr) => id }
      }
      .groupBy(col("value").as("doc_id")).agg(count(lit(1)).as("n_flagged"))
      .select(col("doc_id"), col("n_flagged"))
    // exact verification join runs conceptually on the screened docs;
    // here both sides are emitted so the gate is checkable per doc
    decontaminate(spark, dir)
      .join(screened, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shared"), col("contaminated"),
        // Bloom may over-count (false positives) but never under-count
        (coalesce(col("n_flagged"), lit(0L)) >= col("n_shared")).as("no_false_negative"))
      .orderBy("doc_id")
  }

  /** Window size for the duplicated-substring coverage audit: a span
    * must repeat verbatim for at least this many characters to count.
    * 40 chars ≈ 6–8 words — long enough that chance n-gram collisions
    * in natural text are negligible, short enough to catch boilerplate
    * sentences (the published ExactSubstr threshold is 50 BPE tokens at
    * web scale; this corpus's documents are 100–500 chars). */
  private val SubK = 40

  /** ExactSubstr-style duplicated-span coverage — the position-level
    * dedup modality the document-level family (exact/minhash/simhash)
    * cannot express: a document that is 95% unique but embeds one
    * boilerplate paragraph verbatim from another document scores ~0 on
    * document Jaccard yet carries real duplicated training mass. Lee et
    * al.'s ExactSubstr finds such spans with a corpus-global suffix
    * array — inherently sequential and memory-resident, the wrong shape
    * for a cluster. The Spark-native equivalent: anchor a `SubK`-char
    * window at EVERY character position (any duplicated run of length
    * ≥ SubK contains at least one fully-duplicated window, so detection
    * is exact, not sampled), hash each window to 56 bits, keep positions
    * whose window recurs in ≥2 distinct documents, and merge each
    * document's surviving [i, i+SubK-1] intervals into maximal spans
    * (gaps-and-islands over a running max-end). Output per doc: span
    * count, duplicated chars (union of spans), and floor-ppm coverage —
    * the audit that decides whether position-level dedup is worth
    * running on a corpus at all.
    *
    * Scale shape: corpus-LINEAR, not quadratic — one (hash, doc, pos)
    * row per character (~20 bytes/char, the honest amplification of
    * stride-1 anchoring) through ONE shuffle on the 56-bit hash; the
    * recurring-hash set joins back by hash equi-join, and the island
    * merge windows partition by doc_id — per-document work bounded by
    * document length, never a corpus-wide sort. Same cost class as the
    * other corpus-linear kernels (char_entropy, ngram_novelty). The
    * hash-recurrence sets equal string-recurrence on both engines as
    * long as neither the Spark-side 63-bit rolling hash nor the
    * oracle-side md5-56 collides — well below 1e-5 false-positive mass
    * even at 10^12 positions per shuffle partition group. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    coverageFromSpans(Tables.documents(spark, dir), corpusSpans(spark, dir))
      .orderBy("doc_id")

  /** Memoized corpus-global duplicated spans (doc_id, island, s, e) —
    * the shared stage of the coverage audit and the span-cutting apply
    * (registered in graft.sources.Stages: the frame is island-sized, cents of memory;
    * Bench bills the build as `chain_substring_spans`). */
  private[graft] def corpusSpans(spark: SparkSession, dir: String): DataFrame =
    Stages(spark, "dedup/substring_spans", dir, chain = "substring_spans") {
      spansFrom(dupPosOf(Tables.documentsKernelWide(spark, dir)
        .select(col("doc_id"), col("text"))))
    }

  /** Positional window hashes of a (doc_id, text) frame: one
    * (doc_id, anchor position, 63-bit rolling hash of the SubK-char
    * window) row per character position — the shared first stage of the
    * batch audit, the winidx artifact build, and the incremental screen.
    * The hash is ONE O(len) Rabin-Karp pass per document
    * (plans.RollingWindowHashes); the previous per-position
    * `md5(substring(text, i, SubK))` formulation was O(len²) per doc —
    * UTF8String.substring walks from the string start per call — i.e. a
    * latent scale-killer on exactly the long boilerplate-bearing
    * documents this kernel exists for. The oracle keeps hashing windows
    * independently (md5-56 in DuckDB): the OUTPUT of every consumer is
    * coverage statistics, not hashes, and both sides' recurrence sets
    * equal string-recurrence exactly when neither hash collides — the
    * same contract as before, now with 63 output bits.
    * (InferFiltersFromGenerate evaluates the hash array a second time in
    * its inferred `size(...) > 0` filter — a bounded 2× on a now-linear
    * kernel, not the deep-nesting ×12 pathology PLANS §r15 documents.) */
  private def winHashes(input: DataFrame): DataFrame =
    input
      .filter(length(col("text")) >= SubK)
      .select(col("doc_id"),
        posexplode(graft.plans.StringExpressions.rolling_window_hashes(
          col("text"), SubK)).as(Seq("p", "h")))
      .select(col("doc_id"), (col("p") + lit(1)).as("i"), col("h"))

  /** One row per (window hash, doc) carrying that doc's anchor
    * positions — the frame both recurrence tests run over. */
  private def winByDoc(input: DataFrame): DataFrame =
    winHashes(input).groupBy(col("h"), col("doc_id"))
      .agg(collect_list(col("i")).as("is"))

  /** Island-merge + per-doc packaging: duplicated anchor positions →
    * maximal spans → (doc_id, n_spans, dup_chars, total_chars,
    * coverage_ppm), zero-filled over every doc long enough to carry a
    * window. Shared by the batch audit and the incremental screen so
    * the span semantics cannot fork. */
  /** Maximal duplicated spans (doc_id, s, e) from duplicated anchor
    * positions — gaps-and-islands over a running max-end. Shared by the
    * coverage report and the span-cutting apply so the span semantics
    * cannot fork. */
  private def spansFrom(dupPos: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wPrev = W.partitionBy("doc_id").orderBy("i")
      .rowsBetween(W.unboundedPreceding, -1)
    val wRun = W.partitionBy("doc_id").orderBy("i")
      .rowsBetween(W.unboundedPreceding, 0)
    dupPos
      .withColumn("pe", max(col("i") + lit(SubK - 1)).over(wPrev))
      .withColumn("ni", when(col("pe").isNull || col("i") > col("pe"), 1).otherwise(0))
      .withColumn("island", sum(col("ni")).over(wRun))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("s"), max(col("i") + lit(SubK - 1)).as("e"))
  }

  private def coverageFrom(input: DataFrame, dupPos: DataFrame): DataFrame =
    coverageFromSpans(input, spansFrom(dupPos))

  private def coverageFromSpans(input: DataFrame, spansDf: DataFrame): DataFrame = {
    val spans = spansDf
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum((col("e") - col("s") + 1).cast("long")).as("dup_chars"))
    input
      .filter(length(col("text")) >= SubK)
      .select(col("doc_id"), length(col("text")).cast("long").as("total_chars"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        col("total_chars"))
      .withColumn("coverage_ppm", expr("(1000000 * dup_chars) div total_chars"))
  }

  /** The coverage kernel over any (doc_id, text) frame — split from the
    * registered query so specs can drive synthetic fixtures through the
    * exact production path (the minhashLshPairs pattern). */
  /** Corpus-globally duplicated anchor positions (doc_id, i) of a
    * (doc_id, text) frame — the shared recurrence stage of the coverage
    * audit and the span-cutting apply.
    *
    * Recurrence = distinct-doc count per window hash. NOT a
    * `count().over(partitionBy(h))` window: that puts every (h, doc)
    * row of one window hash into a single task's sort, so a corpus-wide
    * boilerplate span (the exact thing this audit hunts) concentrates
    * millions of rows on one key. groupBy(h) gets map-side partial
    * aggregation on the hot key (each task contributes ONE row per h),
    * and the join back is a shuffled HASH join — the hot hash's rows
    * stream through a probe, never a per-key sort buffer. The byDoc
    * subtree appears twice but its exchange is reused (identical
    * subplans), so positions are hashed and shuffled once. */
  private def dupPosOf(input: DataFrame): DataFrame = {
    val wh = winHashes(input)
    // "≥ 2 distinct docs" as min(doc)≠max(doc): partial+final
    // HashAggregate, so the corpus-sized position frame is map-side
    // combined to one row per distinct hash per partition BEFORE the
    // exchange. The former shape grouped (h, doc) with collect_list —
    // every position row crossed that exchange un-combined, and the
    // grouped frame was then RE-shuffled by h for the recurrence join
    // (and, being referenced twice, the whole collect_list stage ran
    // twice). Positions now ride the one h-keyed shuffle-hash join only.
    val recurring = wh.groupBy("h")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select("h")
    wh.join(recurring.hint("shuffle_hash"), "h")
      .select(col("doc_id"), col("i"))
  }

  private[graft] def substringCoverage(input: DataFrame): DataFrame =
    coverageFrom(input, dupPosOf(input))

  /** Persisted resident-corpus window-hash index (shared-root protocol):
    * the DISTINCT rolling window hashes of every resident document, one
    * BIGINT column — ~8 bytes per corpus character before dedup, a few
    * percent of corpus bytes on disk. This is the artifact that makes
    * position-level dedup INCREMENTAL: an arriving batch is screened
    * against it instead of re-running the corpus-global audit. */
  private[graft] def winIndexRoot(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactRoots.built(spark, "winidx", dir, Seq("hashes"),
        chain = "win_index") { stage =>
      winHashes(Tables.documentsKernelWide(spark, dir).filter(col("doc_id") % 10 =!= 0))
        .select("h").distinct()
        .write.mode("overwrite").parquet(s"$stage/hashes")
    }

  /** Incremental duplicated-span coverage — dedup_substring as the
    * O(delta) screen a production ingest runs: only the ARRIVING docs
    * (doc_id ≡ 0 mod 10, the dedup_incremental fixture split) are
    * hashed and scored; a window counts as duplicated if it recurs in
    * the resident corpus (probe of the persisted winidx artifact) or in
    * ≥2 distinct docs of the arriving batch itself (batch-local
    * recurrence — new boilerplate entering in bulk must not slip the
    * screen just because the index predates it). Result: exactly the
    * corpus-global audit's rows restricted to the arrivals — the oracle
    * replays THAT definition, so the two recurrence paths must
    * reproduce global recurrence bit-exactly.
    *
    * Scale shape: the batch side is delta-sized end to end (hashing,
    * the batch-local window count, the island merge); the resident
    * corpus appears ONLY as one map-side probe of the index's single
    * BIGINT column against the broadcast batch hash set — the arriving
    * batch is panel-bounded, so its distinct hashes broadcast; a bulk
    * backfill would drop the broadcast hint and take the shuffle join.
    * No corpus text is ever re-read, re-hashed, or shuffled. */
  def substringDedupIncr(spark: SparkSession, dir: String): DataFrame = {
    val root = winIndexRoot(spark, dir)
    val arrivals = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    screenArrivalsAgainst(arrivals, spark.read.parquet(s"$root/hashes"))
      .orderBy("doc_id")
  }

  /** THE screening kernel under both the incremental row and its
    * streaming twin (one per-trigger invocation there): coverage of the
    * arriving (doc_id, text) frame where a window counts as duplicated
    * if its hash occurs in `prior` (a hash frame — the resident winidx,
    * optionally unioned with previously-arrived hashes) or in ≥2
    * distinct docs of the batch itself. Shared so the twin's equality
    * claim rests on shared code, not a hand-kept copy. */
  private[graft] def screenArrivalsAgainst(arrivals: DataFrame,
      prior: DataFrame): DataFrame = {
    val byDoc = winByDoc(arrivals)
    // delta-bounded: the prior rows whose hash occurs in this batch
    val hits = prior.select(col("h"))
      .join(broadcast(byDoc.select("h").distinct()), "h")
      .distinct()
      .withColumn("hit", lit(1))
    // batch-local recurrence via groupBy + join-back, not a partitionBy(h)
    // window — same de-skew rationale as substringCoverage (a bulk
    // boilerplate arrival is exactly when this screen matters most)
    val nd = byDoc.groupBy("h").agg(count(lit(1)).as("nd"))
    val dupPos = byDoc
      .join(nd.hint("shuffle_hash"), "h")
      .join(hits, Seq("h"), "left")
      .filter(col("nd") >= 2 || col("hit") === 1)
      .select(col("doc_id"), explode(col("is")).as("i"))
    coverageFrom(arrivals, dupPos)
  }

  /** The distinct window-hash set of a (doc_id, text) frame — the state
    * delta the streaming twin folds per trigger. */
  private[graft] def windowHashSet(docs: DataFrame): DataFrame =
    winHashes(docs).select("h").distinct()

  /** Position-level dedup APPLY — the action the coverage audit informs
    * (what dedup_apply is to the document-level family): cut every
    * corpus-globally duplicated span (the audit's maximal islands, ALL
    * copies — the ExactSubstr-cut discipline) out of every document and
    * emit byte accounting plus the cleaned text's fingerprint. Documents
    * too short to audit pass through uncut; a fully-duplicated document
    * cleans to the empty string.
    *
    * Construction is mirrored bit-exactly in the oracle: per doc, the
    * between-span and tail segments ((prev_e+1, s−1), (last_e+1, len)),
    * empty segments dropped, each segment substring'd once, concatenated
    * in segment order. Spans per doc are bounded by len/(2·SubK−1), so
    * the per-segment substring offset walks cost O(n_spans·len) per doc
    * worst case — the cut itself is a data-movement op over the already-
    * linear recurrence stage, and the span LIST per doc is collected
    * row-locally (doc-bounded, never corpus-bounded). */
  def substringDedupApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val sp = corpusSpans(spark, dir)
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("sp"))
    val between = transform(col("sp"), (x, idx) =>
      struct(
        when(idx === 0, lit(1))
          .otherwise(element_at(col("sp"), idx).getField("e") + 1).as("st"),
        (x.getField("s") - 1).as("en")))
    val tail = array(struct(
      when(size(col("sp")) === 0, lit(1))
        .otherwise(element_at(col("sp"), size(col("sp"))).getField("e") + 1).as("st"),
      length(col("text")).as("en")))
    docs.join(sp, Seq("doc_id"), "left")
      .withColumn("sp", coalesce(col("sp"),
        array().cast("array<struct<s:int,e:int>>")))
      .withColumn("cleaned", array_join(transform(
        filter(concat(between, tail), g => g.getField("en") >= g.getField("st")),
        g => col("text").substr(g.getField("st"),
          g.getField("en") - g.getField("st") + 1)), ""))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("total_chars"),
        (length(col("text")) - length(col("cleaned"))).cast("long").as("cut_chars"),
        length(col("cleaned")).cast("long").as("kept_chars"),
        md5(col("cleaned")).as("cleaned_fp"))
      .orderBy("doc_id")
  }

  /** Line/paragraph-level exact dedup apply — the C4/MassiveText web-
    * corpus cleanup rule: a SEGMENT occurring ≥ [[LineDupK]] times
    * corpus-wide is boilerplate (nav headers, footers, license blocks)
    * and EVERY occurrence is cut, each document reassembled from its
    * surviving segments with byte accounting. Production corpora carry
    * newline segmentation; this corpus is single-line word soup, so
    * segmentation here is a deterministic token reflow ([[LineWords]]-
    * token grid lines, '\n'-joined) applied identically in both engines
    * — the rule itself (line hash → corpus-global recurring set →
    * anti-join → ordered reassembly) is granularity-independent.
    * Scale shape: the recurrence count groups the 16-byte line digest
    * (map-side combine, line text never rides that shuffle); the
    * recurring set — bounded by DISTINCT boilerplate lines, tiny
    * relative to the corpus — joins back via SHUFFLE_HASH anti-join
    * (no corpus-wide sort, the substring-recurrence discipline at line
    * granularity); reassembly shuffles only kept lines by doc_id. */
  /** (doc_id, lines) reflow + its positional explode — the shared first
    * stages of both line-dedup policies. */
  private def linedFrames(docs: DataFrame): (DataFrame, DataFrame) = {
    val lined = docs
      .select(col("doc_id"), toksCol.as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), transform(
        sequence(lit(0), expr(s"cast((size(tk) - 1) div $LineWords as int)")),
        g => array_join(
          slice(col("tk"), g * LineWords + 1, lit(LineWords)), " ")).as("lines"))
    val ex = lined
      .select(col("doc_id"), posexplode(col("lines")))
      .select(col("doc_id"), col("pos"), col("col").as("line"),
        md5(col("col")).as("fp"))
    (lined, ex)
  }

  /** Reassembly + byte accounting over the KEPT lines — shared by both
    * policies so the output contract cannot fork. */
  private def reassemble(lined: DataFrame, kept: DataFrame): DataFrame = {
    val re = kept
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("cleaned"))
    lined
      .select(col("doc_id"), size(col("lines")).cast("long").as("n_lines"),
        length(array_join(col("lines"), "\n")).cast("long").as("total_chars"))
      .join(re, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_cut_lines"),
        col("total_chars"),
        length(coalesce(col("cleaned"), lit(""))).cast("long").as("kept_chars"),
        md5(coalesce(col("cleaned"), lit(""))).as("cleaned_fp"))
      .orderBy("doc_id")
  }

  def lineDedupApplyOf(docs: DataFrame, k: Int): DataFrame = {
    val (lined, ex) = linedFrames(docs)
    lineDedupApplyFrames(lined, ex, k)
  }

  private def lineDedupApplyFrames(lined: DataFrame, ex: DataFrame,
      k: Int): DataFrame = {
    val recurring = ex.groupBy("fp")
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= k).select("fp")
    reassemble(lined,
      ex.join(recurring.hint("shuffle_hash"), Seq("fp"), "left_anti"))
  }

  /** The keep-FIRST policy — C4's actual rule: of a segment recurring
    * ≥ k times corpus-wide, the globally first occurrence (smallest
    * (doc_id, position)) SURVIVES and every other copy is cut, so the
    * corpus retains exactly one copy of each boilerplate segment
    * instead of losing it entirely ([[lineDedupApplyOf]] is the
    * drop-all MassiveText flavor). Scale shape: the keeper is an
    * AGGREGATE, not a window — groupBy(fp).agg(min(struct(doc_id,
    * pos))) gets map-side partial aggregation on hot boilerplate
    * hashes (a window partitioned by fp would sort every occurrence of
    * the hottest segment in one task — the skew shape the substring
    * recurrence de-skew killed); the keeper set joins back
    * SHUFFLE_HASH and a row survives if its fp never recurred or it IS
    * the keeper. */
  def lineDedupKeepFirstOf(docs: DataFrame, k: Int): DataFrame = {
    val (lined, ex) = linedFrames(docs)
    lineDedupKeepFirstFrames(lined, ex, k)
  }

  private def lineDedupKeepFirstFrames(lined: DataFrame, ex: DataFrame,
      k: Int): DataFrame = {
    val keepers = ex.groupBy("fp")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("keeper"))
      .filter(col("cnt") >= k)
      .select(col("fp"), col("keeper"))
    reassemble(lined,
      ex.join(keepers.hint("shuffle_hash"), Seq("fp"), "left")
        .filter(col("keeper").isNull ||
          (col("keeper.doc_id") === col("doc_id") && col("keeper.pos") === col("pos")))
        .select("doc_id", "pos", "line"))
  }

  /** Segments recurring this often corpus-wide are boilerplate (the
    * MassiveText "line duplicated ≥ k times" rule). */
  val LineDupK = 3
  /** Reflow grid width for the synthetic single-line corpus. */
  val LineWords = 8

  /** Memoized shared line-reflow frames (r21, guide §2.3/§5): BOTH
    * line-dedup policies consume the same tokenize→reflow(→explode→md5)
    * pipeline, and within one policy the plan referenced it three times
    * (recurrence aggregate, join-back side, reassembly accounting) —
    * measured: 3 parquet scans + 7 reflow-transform evaluations per
    * query, ~16 CPU-s each at sf0.1, with exchange reuse deduplicating
    * none of them (the scoredDocs/docBucketCounts precedent). Persisted
    * once per (session, dataset), the pipeline runs once; Bench bills
    * the build as `chain_line_frames`. The frames are corpus-linear
    * ((doc_id, lines) + the exploded (doc_id, pos, line, fp)); persist()
    * spills past memory. */
  private def linedFramesMemo(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val (l, e) = linedFrames(Tables.documentsKernelWide(spark, dir)
      .select(col("doc_id"), col("text")))
    (Stages(spark, "dedup/line_lined", dir, chain = "line_frames")(l),
      Stages(spark, "dedup/line_ex", dir, chain = "line_frames")(e))
  }

  def lineDedupApply(spark: SparkSession, dir: String): DataFrame = {
    val (lined, ex) = linedFramesMemo(spark, dir)
    lineDedupApplyFrames(lined, ex, LineDupK)
  }

  def lineDedupKeepFirst(spark: SparkSession, dir: String): DataFrame = {
    val (lined, ex) = linedFramesMemo(spark, dir)
    lineDedupKeepFirstFrames(lined, ex, LineDupK)
  }

  /** Asymmetric containment on the verified candidate pairs:
    * C = |A∩B| / |smaller| — the measure that catches SUBSET duplication
    * (a short doc quoted whole inside a long one) which symmetric
    * Jaccard dilutes toward 0 as the size gap grows. Pure projection
    * over the memoized verify stage (the intersection and sizes are
    * already computed there), so the marginal cost is zero; the score
    * stays a scaled integer and the ≥0.8 flag is the cross-multiplied
    * form 5·inter ≥ 4·min, no float on a decision boundary. */
  /** Threshold-tuning sweep over the verified pairs: for every candidate
    * Jaccard threshold t = k/10 (k ∈ 2..9), how many pairs pass and how
    * many documents the keep-first rule would drop. This is the curve an
    * operator reads BEFORE fixing the production threshold — too low and
    * distinct docs merge, too high and boilerplate families survive.
    * Pure fan-out over the memoized verify stage (8 integer predicates
    * per already-scored pair — no re-scoring, no corpus pass); each
    * predicate is the cross-multiplied form i·(10+k) ≥ k·tot, so no float
    * ever sits on a counting boundary. */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame =
    verifiedCandidates(spark, dir)
      .select(col("id2"), col("inter"), col("tot"),
        explode(sequence(lit(2), lit(9))).as("k"))
      .filter(col("inter") * (col("k") + 10) >= col("k") * col("tot"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id2")).as("n_docs_dropped"))
      .select((col("k") * 10).as("threshold_pct"),
        col("n_pairs"), col("n_docs_dropped"))
      .orderBy("threshold_pct")

  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    verifiedCandidates(spark, dir)
      .select(col("id1"), col("id2"),
        expr("(1000000L * inter) div sz_min").as("containment_ppm"),
        (col("inter") * 5 >= col("sz_min") * 4).cast("int").as("is_contained"))
      .orderBy("id1", "id2")

  /** Train/eval leakage matrix: verified near-dup pairs bucketed by the
    * (split, split) cell their endpoints land in — the check that
    * decontaminate can't do, because the leak here is NEAR-duplication
    * across the pipeline's OWN split boundary (an eval doc whose
    * near-twin sits in train inflates the benchmark silently; exact
    * dedup misses it, and benchmark decontamination only guards
    * external suites). Composes two memoized stages: the LSH→verify
    * candidate pairs (sub-quadratic, candidate-bounded) joined to the
    * hash-derived split labels (row-local, deterministic, the
    * split_assign function) — the join keys on doc ids and the output
    * is the ≤9-cell matrix, so beyond the shared verify stage this
    * costs one vocab-free broadcast-sized pass at any corpus size. A
    * cell is a leak iff it is off-diagonal with verified dups in it. */
  def crossSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val s = TextAnalysis.splitAssign(spark, dir).select("doc_id", "split")
    verifiedCandidates(spark, dir)
      .join(s.select(col("doc_id").as("id1"), col("split").as("split1")), "id1")
      .join(s.select(col("doc_id").as("id2"), col("split").as("split2")), "id2")
      .groupBy("split1", "split2")
      .agg(count(lit(1)).as("n_candidates"), sum(col("is_dup")).as("n_dups"))
      .withColumn("is_leak",
        (col("split1") =!= col("split2") && col("n_dups") > 0).cast("int"))
      .orderBy("split1", "split2")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cross_split_leakage" -> crossSplitLeakage,
    "dedup_containment" -> dedupContainment,
    "dedup_threshold_sweep" -> dedupThresholdSweep,
    "decontaminate" -> decontaminate,
    "decontaminate_bloom" -> decontaminateBloom,
    "dedup_exact" -> dedupExact,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_setsim_join" -> dedupSetsimJoin,
    "dedup_setsim_incr" -> dedupSetsimIncr,
    "lsh_exact_eval" -> lshExactEval,
    "dedup_verify_candidates" -> dedupVerifyCandidates,
    "dedup_clusters" -> dedupClusters,
    "dedup_apply" -> dedupApply,
    "dedup_simhash" -> dedupSimhash,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "ngram_jaccard_sampled" -> dedupNgramJaccardSampled,
    "dedup_substring" -> dedupSubstring,
    "substring_dedup_incr" -> substringDedupIncr,
    "substring_dedup_apply" -> substringDedupApply,
    "line_dedup_apply" -> lineDedupApply,
    "line_dedup_keep_first" -> lineDedupKeepFirst,
    "lsh_recall_audit" -> lshRecallAudit,
    "minhash_est_vs_exact" -> minhashEstVsExact,
    "dedup_editdist" -> dedupEditDistance,
    "dedup_triangles" -> dedupTriangles,
    "dedup_local_cc" -> dedupLocalCc,
    "dedup_cluster_sizes" -> dedupClusterSizes,
    "dedup_sample_weights" -> dedupSampleWeights,
    "quality_dup_calibration" -> qualityDupCalibration,
    "dedup_degree_hist" -> dedupDegreeHist,
    "dedup_cluster_cohesion" -> dedupClusterCohesion,
    "dedup_keep_best" -> dedupKeepBest,
    "dedup_incremental" -> dedupIncremental,
    "dedup_jaro" -> dedupJaro,
    "dedup_bfs_levels" -> dedupBfsLevels,
    "dedup_normalized" -> dedupNormalized,
    "group_split_assign" -> groupSplitAssign,
    "contrastive_pairs" -> contrastivePairs,
  )

  // ---- oracle SQL ----

  private val toksSql =
    "list_filter(string_split_regex(regexp_replace(text, '[^\\w\\s]+', '', 'g'), '\\s+'), t -> len(t) > 0)"

  /** DuckDB twin of TextFunctions.md5Base32. */
  private def base32Sql(x: String): String =
    s"CAST('0x' || substr(md5($x), 1, 8) AS BIGINT)"

  private def sigSql: String = {
    import TextFunctions.{MinhashA, MinhashB, MinhashP}
    (0 until K).map(i =>
      s"list_min(list_transform(bases, b -> (${MinhashA(i)} * b + ${MinhashB(i)}) % $MinhashP))")
      .mkString("[", ", ", "]")
  }

  private def simhashTermsSql: String =
    (0 until 32).map { b =>
      s"CASE WHEN 2 * len(list_filter(vals, v -> ((v >> $b) & 1) = 1)) > n THEN CAST(${1L << b} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")

  /** Shared line-reflow CTE chain (documents → tokens → 8-token grid
    * lines → positional explode) — one definition under both line-dedup
    * policies so the segmentation cannot fork in SQL either. */
  private val lineCtesSql: String =
    s"t AS (SELECT doc_id, $toksSql AS tk FROM documents), " +
      "tt AS (SELECT doc_id, tk FROM t WHERE len(tk) > 0), " +
      s"ln AS (SELECT doc_id, list_transform(generate_series(0, (len(tk) - 1) // $LineWords, 1), " +
      s"g -> array_to_string(tk[CAST(g*$LineWords+1 AS BIGINT):CAST(g*$LineWords+$LineWords AS BIGINT)], ' ')) AS lines FROM tt), " +
      "ex AS (SELECT doc_id, unnest(generate_series(1, len(lines))) AS pos, lines FROM ln), " +
      "el AS (SELECT doc_id, pos, lines[CAST(pos AS INT)] AS line FROM ex)"

  /** Shared reassembly tail over a `kept (doc_id, pos, line)` CTE. */
  private val lineReassembleSql: String =
    ", re AS (SELECT doc_id, count(*) AS n_kept, " +
      "string_agg(line, chr(10) ORDER BY pos) AS cleaned FROM kept GROUP BY doc_id) " +
      "SELECT n.doc_id, CAST(len(n.lines) AS BIGINT) AS n_lines, " +
      "CAST(len(n.lines) - coalesce(re.n_kept, 0) AS BIGINT) AS n_cut_lines, " +
      "CAST(len(array_to_string(n.lines, chr(10))) AS BIGINT) AS total_chars, " +
      "CAST(len(coalesce(re.cleaned, '')) AS BIGINT) AS kept_chars, " +
      "md5(coalesce(re.cleaned, '')) AS cleaned_fp " +
      "FROM ln n LEFT JOIN re USING (doc_id) ORDER BY n.doc_id"

  /** Shared CTE chain: documents → shingles → minhash signatures → LSH
    * bands → distinct candidate pairs (the SQL twin of minhashLshPairs). */
  private val lshCtesSql: String =
    s"toks AS (SELECT doc_id, $toksSql AS toks FROM documents), " +
      "sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2), " +
      "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS shingles FROM toks WHERE len(toks) >= 3), " +
      s"based AS (SELECT doc_id, list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP}) AS bases FROM sh), " +
      s"sig AS (SELECT doc_id, $sigSql AS sig FROM based), " +
      "bands AS (SELECT doc_id, t.i AS band, sig[2*t.i+1] AS h1, sig[2*t.i+2] AS h2 " +
      "FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)), " +
      "cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id)"

  /** Duplicated-span coverage oracle: positional 40-char windows hashed
    * independently (md5-56) here, with one Rabin-Karp rolling pass on
    * the Spark side — the outputs carry coverage statistics, not hashes,
    * and the two recurrence sets both equal string-recurrence exactly
    * while neither hash collides. Recurring-window positions merged
    * gaps-and-islands. `finalWhere` restricts the OUTPUT rows only —
    * recurrence is always judged corpus-globally, which is exactly the
    * equivalence the incremental row's two-path screen must hit. */
  /** Shared CTE chain through the maximal duplicated spans `sp` —
    * reused by the coverage oracles and the span-cutting apply oracle
    * so the span semantics cannot fork in SQL either. */
  private val substringSpanCtesSql: String =
    s"d AS (SELECT doc_id, text, len(text) AS total_chars FROM documents WHERE len(text) >= $SubK), " +
      s"p AS (SELECT doc_id, text, unnest(generate_series(1, total_chars - ${SubK - 1})) AS i FROM d), " +
      s"ph AS (SELECT doc_id, i, CAST('0x' || substr(md5(substr(text, CAST(i AS INT), $SubK)), 1, 14) AS BIGINT) AS h FROM p), " +
      "duph AS (SELECT h FROM ph GROUP BY h HAVING count(DISTINCT doc_id) >= 2), " +
      "dp AS (SELECT doc_id, i FROM ph JOIN duph USING (h)), " +
      s"fl AS (SELECT doc_id, i, max(i + ${SubK - 1}) OVER (PARTITION BY doc_id ORDER BY i " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM dp), " +
      "isl AS (SELECT doc_id, i, sum(CASE WHEN pe IS NULL OR i > pe THEN 1 ELSE 0 END) " +
      "OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM fl), " +
      s"sp AS (SELECT doc_id, island, min(i) AS s, max(i + ${SubK - 1}) AS e FROM isl GROUP BY 1, 2)"

  private def substringOracleSql(finalWhere: String): String =
    s"WITH $substringSpanCtesSql, " +
      "ag AS (SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_chars FROM sp GROUP BY 1) " +
      "SELECT d.doc_id, CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans, " +
      "CAST(coalesce(a.dup_chars, 0) AS BIGINT) AS dup_chars, " +
      "CAST(d.total_chars AS BIGINT) AS total_chars, " +
      "(1000000 * CAST(coalesce(a.dup_chars, 0) AS BIGINT)) // CAST(d.total_chars AS BIGINT) AS coverage_ppm " +
      s"FROM d LEFT JOIN ag a USING (doc_id) ${finalWhere}ORDER BY doc_id"

  val oracle: Map[String, String] = Map(
    "decontaminate" -> {
      // base-31 char-8-gram polynomial, the SQL twin of gramHash(_, _, 8)
      // (ascii-exact on the ASCII corpus, as in doc_fingerprint)
      val pows = (0 until 8).map(j => math.pow(31, 7 - j).toLong)
      val poly = (0 until 8).map(j =>
        s"CAST(ascii(substr(text, CAST(i+$j AS INT), 1)) AS BIGINT) * ${pows(j)}").mkString(" + ")
      s"WITH g AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(text) - 7), i -> $poly))) AS gr " +
        "FROM documents WHERE len(text) >= 8), " +
        "b AS (SELECT DISTINCT gr FROM g WHERE doc_id % 50 = 0), " +
        "t AS (SELECT doc_id, gr FROM g WHERE doc_id % 50 <> 0), " +
        "s AS (SELECT t.doc_id AS sid, count(*) AS n_shared FROM t JOIN b USING (gr) GROUP BY t.doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared, " +
        "CAST(coalesce(s.n_shared, 0) >= 5 AS INT) AS contaminated " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d " +
        "LEFT JOIN s ON d.doc_id = s.sid ORDER BY doc_id"
    },
    "decontaminate_bloom" -> {
      val pows = (0 until 8).map(j => math.pow(31, 7 - j).toLong)
      val poly = (0 until 8).map(j =>
        s"CAST(ascii(substr(text, CAST(i+$j AS INT), 1)) AS BIGINT) * ${pows(j)}").mkString(" + ")
      s"WITH g AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(text) - 7), i -> $poly))) AS gr " +
        "FROM documents WHERE len(text) >= 8), " +
        "b AS (SELECT DISTINCT gr FROM g WHERE doc_id % 50 = 0), " +
        "t AS (SELECT doc_id, gr FROM g WHERE doc_id % 50 <> 0), " +
        "s AS (SELECT t.doc_id AS sid, count(*) AS n_shared FROM t JOIN b USING (gr) GROUP BY t.doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared, " +
        "CAST(coalesce(s.n_shared, 0) >= 5 AS INT) AS contaminated, " +
        "true AS no_false_negative " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d " +
        "LEFT JOIN s ON d.doc_id = s.sid ORDER BY doc_id"
    },
    "dedup_substring" -> substringOracleSql(""),
    // span-cutting apply: same span CTEs, then mirrored segment
    // construction (between-span + tail, empty segments dropped,
    // ordered concatenation) over ALL documents — short docs pass
    // through uncut, fully-duplicated docs clean to ''
    "substring_dedup_apply" ->
      (s"WITH $substringSpanCtesSql, " +
        "sel AS (SELECT doc_id, text, len(text) AS total FROM documents), " +
        "mx AS (SELECT doc_id, max(e) AS me FROM sp GROUP BY doc_id), " +
        "iseg AS (SELECT doc_id, coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS st, s - 1 AS en FROM sp), " +
        "tseg AS (SELECT sel.doc_id, mx.me + 1 AS st, sel.total AS en FROM sel JOIN mx USING (doc_id)), " +
        "nseg AS (SELECT sel.doc_id, 1 AS st, sel.total AS en FROM sel LEFT JOIN mx USING (doc_id) WHERE mx.doc_id IS NULL), " +
        "segs AS (SELECT * FROM iseg UNION ALL SELECT * FROM tseg UNION ALL SELECT * FROM nseg), " +
        "cln AS (SELECT s.doc_id, string_agg(substr(sel.text, s.st, s.en - s.st + 1), '' ORDER BY s.st) AS ct " +
        "FROM segs s JOIN sel USING (doc_id) WHERE s.en >= s.st GROUP BY s.doc_id) " +
        "SELECT sel.doc_id, CAST(sel.total AS BIGINT) AS total_chars, " +
        "CAST(sel.total - len(coalesce(cln.ct, '')) AS BIGINT) AS cut_chars, " +
        "CAST(len(coalesce(cln.ct, '')) AS BIGINT) AS kept_chars, " +
        "md5(coalesce(cln.ct, '')) AS cleaned_fp " +
        "FROM sel LEFT JOIN cln USING (doc_id) ORDER BY sel.doc_id"),
    // the SAME corpus-global definition restricted to the arrivals: the
    // Spark side's two-path recurrence (index probe + batch-local) must
    // reproduce global recurrence exactly for the screened split
    "substring_dedup_incr" -> substringOracleSql("WHERE d.doc_id % 10 = 0 "),
    // C4/MassiveText line rule, mirrored: token reflow to the 8-token
    // grid, corpus-global recurring-line set (count >= 3), anti-join,
    // ordered '\n' reassembly — fully-cut docs clean to ''
    "line_dedup_apply" ->
      (s"WITH $lineCtesSql, " +
        s"rc AS (SELECT md5(line) AS fp FROM el GROUP BY 1 HAVING count(*) >= $LineDupK), " +
        "kept AS (SELECT el.doc_id, el.pos, el.line FROM el " +
        "LEFT JOIN rc ON md5(el.line) = rc.fp WHERE rc.fp IS NULL)" +
        lineReassembleSql),
    // the keep-FIRST policy (C4's actual rule): the globally first
    // occurrence (smallest doc_id, pos) of a recurring line survives
    "line_dedup_keep_first" ->
      (s"WITH $lineCtesSql, " +
        "rk AS (SELECT doc_id, pos, line, " +
        "count(*) OVER (PARTITION BY md5(line)) AS c, " +
        "row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) AS rn FROM el), " +
        s"kept AS (SELECT doc_id, pos, line FROM rk WHERE c < $LineDupK OR rn = 1)" +
        lineReassembleSql),
    "dedup_normalized" ->
      ("SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS nfp, " +
        "min(doc_id) AS keep_id, count(*) AS n_docs, " +
        "count(DISTINCT md5(text)) AS n_raw_variants " +
        "FROM documents GROUP BY 1 ORDER BY keep_id"),
    "dedup_exact" ->
      ("SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups " +
        "FROM documents GROUP BY md5(text) ORDER BY keep_id"),
    "dedup_minhash_lsh" ->
      s"WITH $lshCtesSql SELECT id1, id2 FROM cands ORDER BY id1, id2",
    // the quadratic form IS the oracle: the Spark side's prefix filter is
    // lossless (PPJoin Lemma 1), so equality against brute force proves it
    "dedup_setsim_join" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh) " +
        "SELECT id1, id2, round(inter / (tot - inter), 6) AS jaccard FROM " +
        "(SELECT a.doc_id AS id1, b.doc_id AS id2, " +
        "len(list_intersect(a.g, b.g)) AS inter, len(a.g) + len(b.g) AS tot " +
        "FROM grams a JOIN grams b ON a.doc_id < b.doc_id) " +
        "WHERE inter * 3 >= tot ORDER BY id1, id2"),
    // the SAME corpus-wide definition restricted to pairs touching an
    // arrival: the incremental screen's three candidate paths (index
    // probe, batch-local self-join, unseen-gram cnt-0 ranking) must
    // reproduce the batch join exactly for the screened split
    "dedup_setsim_incr" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh) " +
        "SELECT id1, id2, round(inter / (tot - inter), 6) AS jaccard FROM " +
        "(SELECT a.doc_id AS id1, b.doc_id AS id2, " +
        "len(list_intersect(a.g, b.g)) AS inter, len(a.g) + len(b.g) AS tot " +
        "FROM grams a JOIN grams b ON a.doc_id < b.doc_id) " +
        "WHERE inter * 3 >= tot AND (id1 % 10 = 0 OR id2 % 10 = 0) " +
        "ORDER BY id1, id2"),
    // truth = brute-force all-pairs at J >= 1/2; predicted = the LSH
    // candidate stage; n_missed independently via NOT EXISTS so the
    // measure-equivalence invariant n_truth = n_hit + n_missed is gated
    "lsh_exact_eval" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, " +
        "len(list_intersect(a.g, b.g)) AS inter, len(a.g) + len(b.g) AS tot " +
        "FROM grams a JOIN grams b ON a.doc_id < b.doc_id), " +
        "truth AS (SELECT id1, id2 FROM pairs WHERE inter * 3 >= tot), " +
        "vc AS (SELECT p.* FROM pairs p JOIN cands c ON p.id1 = c.id1 AND p.id2 = c.id2), " +
        "agg AS (SELECT " +
        "(SELECT count(*) FROM truth) AS n_truth, " +
        "(SELECT count(*) FROM cands) AS n_cands, " +
        "(SELECT coalesce(sum(CASE WHEN inter * 3 >= tot THEN 1 ELSE 0 END), 0) FROM vc) AS n_hit, " +
        "(SELECT count(*) FROM truth t WHERE NOT EXISTS " +
        "(SELECT 1 FROM cands c WHERE c.id1 = t.id1 AND c.id2 = t.id2)) AS n_missed) " +
        "SELECT CAST(n_truth AS BIGINT) AS n_truth, CAST(n_cands AS BIGINT) AS n_cands, " +
        "CAST(n_hit AS BIGINT) AS n_hit, CAST(n_missed AS BIGINT) AS n_missed, " +
        "(1000000 * CAST(n_hit AS BIGINT)) // nullif(n_truth, 0) AS recall_ppm, " +
        "(1000000 * CAST(n_hit AS BIGINT)) // nullif(n_cands, 0) AS candidate_precision_ppm " +
        "FROM agg"),
    "cross_split_leakage" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "scored AS (SELECT id1, id2, CAST(inter * 6 >= tot AS INT) AS is_dup FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2)), " +
        "sp AS (SELECT doc_id, CASE WHEN b < 96 THEN 'train' WHEN b < 98 THEN 'val' ELSE 'test' END AS split " +
        "FROM (SELECT doc_id, CAST('0x' || substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b FROM documents)) " +
        "SELECT split1, split2, n_candidates, n_dups, " +
        "CAST(split1 <> split2 AND n_dups > 0 AS INT) AS is_leak FROM " +
        "(SELECT s1.split AS split1, s2.split AS split2, count(*) AS n_candidates, " +
        "CAST(sum(is_dup) AS BIGINT) AS n_dups FROM scored " +
        "JOIN sp s1 ON id1 = s1.doc_id JOIN sp s2 ON id2 = s2.doc_id GROUP BY 1, 2) " +
        "ORDER BY split1, split2"),
    "dedup_threshold_sweep" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "pairs AS (SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, " +
        "len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "SELECT CAST(k * 10 AS INT) AS threshold_pct, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "CAST(count(DISTINCT id2) AS BIGINT) AS n_docs_dropped " +
        "FROM pairs CROSS JOIN (SELECT unnest(generate_series(2, 9)) AS k) ks " +
        "WHERE inter * (k + 10) >= k * tot " +
        "GROUP BY k ORDER BY threshold_pct"),
    "dedup_containment" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh) " +
        "SELECT id1, id2, CAST((1000000 * inter) // sz_min AS BIGINT) AS containment_ppm, " +
        "CAST(inter * 5 >= sz_min * 4 AS INT) AS is_contained FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, " +
        "least(len(g1.g), len(g2.g)) AS sz_min " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "ORDER BY id1, id2"),
    "dedup_verify_candidates" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh) " +
        "SELECT id1, id2, round(inter / (tot - inter), 6) AS jaccard, " +
        "CAST(inter * 6 >= tot AS INT) AS is_dup FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "ORDER BY id1, id2"),
    "dedup_clusters" ->
      (s"WITH RECURSIVE $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot), " +
        "edges AS (SELECT id1 AS id, id2 AS nbr FROM verified UNION SELECT id2, id1 FROM verified), " +
        "reach AS (SELECT id, nbr AS r FROM edges " +
        "UNION SELECT e.id, r.r FROM edges e JOIN reach r ON e.nbr = r.id) " +
        "SELECT id AS doc_id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id"),
    "dedup_cluster_cohesion" ->
      (s"WITH RECURSIVE $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot), " +
        "edges AS (SELECT id1 AS id, id2 AS nbr FROM verified UNION SELECT id2, id1 FROM verified), " +
        "reach AS (SELECT id, nbr AS r FROM edges " +
        "UNION SELECT e.id, r.r FROM edges e JOIN reach r ON e.nbr = r.id), " +
        "clus AS (SELECT id, least(id, min(r)) AS cl FROM reach GROUP BY id), " +
        "nn AS (SELECT cl, count(*) AS n_nodes FROM clus GROUP BY cl), " +
        "ee AS (SELECT c.cl, count(*) AS n_edges FROM verified v JOIN clus c ON c.id = v.id1 GROUP BY c.cl) " +
        "SELECT nn.cl AS cluster_id, CAST(n_nodes AS BIGINT) AS n_nodes, " +
        "CAST(n_edges AS BIGINT) AS n_edges, " +
        "CAST(2000000 * n_edges // (n_nodes * (n_nodes - 1)) AS BIGINT) AS density_ppm " +
        "FROM nn JOIN ee ON nn.cl = ee.cl ORDER BY cluster_id"),
    "dedup_keep_best" ->
      (s"WITH RECURSIVE $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot), " +
        "edges AS (SELECT id1 AS id, id2 AS nbr FROM verified UNION SELECT id2, id1 FROM verified), " +
        "reach AS (SELECT id, nbr AS r FROM edges " +
        "UNION SELECT e.id, r.r FROM edges e JOIN reach r ON e.nbr = r.id), " +
        "clus AS (SELECT id AS doc_id, least(id, min(r)) AS cl FROM reach GROUP BY id), " +
        s"${TextAnalysis.qualityCteSql}, " +
        "m AS (SELECT c.cl, c.doc_id, q.quality, " +
        "count(*) OVER (PARTITION BY c.cl) AS n_members, " +
        "row_number() OVER (PARTITION BY c.cl ORDER BY q.quality DESC, c.doc_id) AS rn " +
        "FROM clus c JOIN q USING (doc_id)) " +
        "SELECT cl AS cluster_id, doc_id AS kept_doc_id, quality AS kept_quality, " +
        "CAST(n_members AS BIGINT) AS n_members FROM m WHERE rn = 1 ORDER BY cluster_id"),
    "dedup_degree_hist" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot), " +
        "deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM " +
        "(SELECT id1 AS id FROM verified UNION ALL SELECT id2 FROM verified) GROUP BY id) " +
        "SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes FROM deg " +
        "GROUP BY degree ORDER BY degree"),
    "quality_dup_calibration" ->
      (s"WITH RECURSIVE $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot), " +
        "edges AS (SELECT id1 AS id, id2 AS nbr FROM verified UNION SELECT id2, id1 FROM verified), " +
        "reach AS (SELECT id, nbr AS r FROM edges " +
        "UNION SELECT e.id, r.r FROM edges e JOIN reach r ON e.nbr = r.id), " +
        "clus AS (SELECT id AS doc_id FROM reach GROUP BY id), " +
        s"${TextAnalysis.qualityCteSql}, " +
        "b AS (SELECT q.doc_id, greatest(0, least(9, CAST(floor(q.quality * 10) AS INT))) AS qbucket, " +
        "CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup " +
        "FROM q LEFT JOIN clus c USING (doc_id)) " +
        "SELECT qbucket, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(is_dup) AS BIGINT) AS n_dup, " +
        "(1000000 * CAST(sum(is_dup) AS BIGINT)) // CAST(count(*) AS BIGINT) AS dup_rate_ppm " +
        "FROM b GROUP BY qbucket ORDER BY qbucket"),
    "dedup_apply" ->
      (s"WITH RECURSIVE $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot), " +
        "edges AS (SELECT id1 AS id, id2 AS nbr FROM verified UNION SELECT id2, id1 FROM verified), " +
        "reach AS (SELECT id, nbr AS r FROM edges " +
        "UNION SELECT e.id, r.r FROM edges e JOIN reach r ON e.nbr = r.id), " +
        "near_drops AS (SELECT id FROM (SELECT id, least(id, min(r)) AS cl FROM reach GROUP BY id) WHERE id != cl), " +
        "exact_drops AS (SELECT doc_id AS id FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM documents) WHERE doc_id != keep) " +
        "SELECT doc_id, lang, source FROM documents " +
        "WHERE doc_id NOT IN (SELECT id FROM near_drops UNION SELECT id FROM exact_drops) " +
        "ORDER BY doc_id"),
    "dedup_simhash" ->
      (s"SELECT doc_id, CAST($simhashTermsSql AS BIGINT) AS simhash FROM " +
        s"(SELECT doc_id, list_transform($toksSql, t -> ${base32Sql("t")}) AS vals, " +
        s"len($toksSql) AS n FROM documents) ORDER BY doc_id"),
    "minhash_est_vs_exact" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "exact AS (SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2), " +
        s"est AS (SELECT id1, id2, len(list_filter(generate_series(1, $K), i -> s1.sig[i] = s2.sig[i])) AS m " +
        "FROM cands JOIN sig s1 ON s1.doc_id = id1 JOIN sig s2 ON s2.doc_id = id2) " +
        "SELECT e.id1, e.id2, round(est.m / 8.0, 6) AS est_jaccard, " +
        "round(e.inter / (e.tot - e.inter), 6) AS jaccard " +
        "FROM exact e JOIN est ON e.id1 = est.id1 AND e.id2 = est.id2 " +
        "ORDER BY e.id1, e.id2"),
    "dedup_incremental" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot), " +
        "ex AS (SELECT doc_id FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS first_id FROM documents) " +
        "WHERE doc_id % 10 = 0 AND doc_id <> first_id), " +
        "nr AS (SELECT DISTINCT id2 AS doc_id FROM verified WHERE id2 % 10 = 0) " +
        "SELECT d.doc_id, CASE WHEN ex.doc_id IS NOT NULL THEN 'dup_exact' " +
        "WHEN nr.doc_id IS NOT NULL THEN 'dup_near' ELSE 'kept' END AS status " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d " +
        "LEFT JOIN ex ON d.doc_id = ex.doc_id LEFT JOIN nr ON d.doc_id = nr.doc_id " +
        "ORDER BY d.doc_id"),
    "group_split_assign" ->
      (s"WITH RECURSIVE $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot), " +
        "edges AS (SELECT id1 AS id, id2 AS nbr FROM verified UNION SELECT id2, id1 FROM verified), " +
        "reach AS (SELECT id, nbr AS r FROM edges " +
        "UNION SELECT e.id, r.r FROM edges e JOIN reach r ON e.nbr = r.id), " +
        "labels AS (SELECT id, least(id, min(r)) AS cl FROM reach GROUP BY id), " +
        "base AS (SELECT d.doc_id, coalesce(l.cl, d.doc_id) AS group_key " +
        "FROM documents d LEFT JOIN labels l ON d.doc_id = l.id), " +
        "bkt AS (SELECT doc_id, group_key, " +
        "CAST('0x' || substr(md5('graft-split:' || CAST(group_key AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket FROM base) " +
        "SELECT doc_id, group_key, bucket, " +
        "CASE WHEN bucket < 96 THEN 'train' WHEN bucket < 98 THEN 'val' ELSE 'test' END AS split " +
        "FROM bkt ORDER BY doc_id"),
    "contrastive_pairs" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "vc AS (SELECT id1, id2, round(inter / (tot - inter), 6) AS jaccard, " +
        "CAST(inter * 6 >= tot AS INT) AS is_dup FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2)), " +
        "sym AS (SELECT id1 AS anchor, id2 AS other, jaccard, is_dup FROM vc " +
        "UNION ALL SELECT id2 AS anchor, id1 AS other, jaccard, is_dup FROM vc), " +
        "kept AS (SELECT * FROM (SELECT anchor, other, jaccard, is_dup, " +
        "row_number() OVER (PARTITION BY anchor, is_dup ORDER BY jaccard DESC, other) AS rn FROM sym) " +
        "WHERE rn <= 2), " +
        "anchored AS (SELECT DISTINCT anchor FROM kept WHERE is_dup = 1) " +
        "SELECT k.anchor, CASE WHEN k.is_dup = 1 THEN 'pos' ELSE 'neg' END AS role, " +
        "CAST(k.rn AS INT) AS pair_rank, k.other AS other_id, k.jaccard AS jaccard " +
        "FROM kept k JOIN anchored a ON k.anchor = a.anchor " +
        "ORDER BY k.anchor, role, pair_rank"),
    "dedup_cluster_sizes" ->
      (s"WITH RECURSIVE $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot), " +
        "edges AS (SELECT id1 AS id, id2 AS nbr FROM verified UNION SELECT id2, id1 FROM verified), " +
        "reach AS (SELECT id, nbr AS r FROM edges " +
        "UNION SELECT e.id, r.r FROM edges e JOIN reach r ON e.nbr = r.id), " +
        "labels AS (SELECT id, least(id, min(r)) AS cl FROM reach GROUP BY id), " +
        "sizes AS (SELECT cl, count(*) AS cluster_size FROM labels GROUP BY cl) " +
        "SELECT cluster_size, count(*) AS n_clusters FROM sizes " +
        "GROUP BY cluster_size ORDER BY cluster_size"),
    "dedup_sample_weights" ->
      (s"WITH RECURSIVE $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot), " +
        "edges AS (SELECT id1 AS id, id2 AS nbr FROM verified UNION SELECT id2, id1 FROM verified), " +
        "reach AS (SELECT id, nbr AS r FROM edges " +
        "UNION SELECT e.id, r.r FROM edges e JOIN reach r ON e.nbr = r.id), " +
        "labels AS (SELECT id, least(id, min(r)) AS cl FROM reach GROUP BY id), " +
        "csize AS (SELECT cl, count(*) AS n FROM labels GROUP BY cl), " +
        "docw AS (SELECT l.id AS doc_id, c.n AS cluster_size FROM labels l JOIN csize c ON l.cl = c.cl) " +
        "SELECT d.doc_id, CAST(COALESCE(w.cluster_size, 1) AS BIGINT) AS cluster_size, " +
        "1000000 // CAST(COALESCE(w.cluster_size, 1) AS BIGINT) AS weight_ppm " +
        "FROM documents d LEFT JOIN docw w USING (doc_id) ORDER BY d.doc_id"),
    "dedup_editdist" ->
      (s"WITH $lshCtesSql " +
        "SELECT id1, id2, levenshtein(d1.text, d2.text) AS editdist, " +
        "round(1.0 - levenshtein(d1.text, d2.text) / greatest(len(d1.text), len(d2.text)), 6) AS edit_sim " +
        "FROM cands JOIN documents d1 ON d1.doc_id = id1 JOIN documents d2 ON d2.doc_id = id2 " +
        "ORDER BY id1, id2"),
    "dedup_bfs_levels" ->
      (s"WITH RECURSIVE $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot), " +
        "edges AS (SELECT id1 AS id, id2 AS nbr FROM verified UNION SELECT id2, id1 FROM verified), " +
        "src AS (SELECT min(id1) AS s FROM verified), " +
        "bfs AS (SELECT s AS id, CAST(0 AS BIGINT) AS level FROM src " +
        "UNION SELECT e.nbr, b.level + 1 FROM bfs b JOIN edges e ON e.id = b.id WHERE b.level < 30) " +
        "SELECT id, min(level) AS level FROM bfs GROUP BY id ORDER BY id"),
    "dedup_jaro" ->
      (s"WITH $lshCtesSql " +
        "SELECT id1, id2, round(jaro_winkler_similarity(d1.text, d2.text), 6) AS jw_sim " +
        "FROM cands JOIN documents d1 ON d1.doc_id = id1 JOIN documents d2 ON d2.doc_id = id2 " +
        "ORDER BY id1, id2"),
    "dedup_local_cc" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot), " +
        "edges AS (SELECT id1 AS id, id2 AS nbr FROM verified UNION ALL SELECT id2, id1 FROM verified), " +
        "deg AS (SELECT id, count(*) AS deg FROM edges GROUP BY id), " +
        "wedge AS (SELECT x.id AS v, x.nbr AS a, y.nbr AS b FROM edges x " +
        "JOIN edges y ON x.id = y.id AND x.nbr < y.nbr), " +
        "tri AS (SELECT v, count(*) AS tri FROM wedge w " +
        "JOIN verified e ON w.a = e.id1 AND w.b = e.id2 GROUP BY v) " +
        "SELECT deg.id AS doc_id, CAST(deg AS BIGINT) AS deg, " +
        "CAST(coalesce(tri, 0) AS BIGINT) AS n_tri, " +
        "CAST(CASE WHEN deg >= 2 THEN (2000000 * coalesce(tri, 0)) // (deg * (deg - 1)) ELSE 0 END AS BIGINT) AS lcc_ppm " +
        "FROM deg LEFT JOIN tri ON deg.id = tri.v ORDER BY doc_id"),
    "dedup_triangles" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "verified AS (SELECT id1, id2 FROM " +
        "(SELECT id1, id2, len(list_intersect(g1.g, g2.g)) AS inter, len(g1.g) + len(g2.g) AS tot " +
        "FROM cands JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2) " +
        "WHERE inter * 6 >= tot) " +
        "SELECT ab.id1 AS a, ab.id2 AS b, bc.id2 AS c FROM verified ab " +
        "JOIN verified bc ON ab.id2 = bc.id1 " +
        "JOIN verified ac ON ac.id1 = ab.id1 AND ac.id2 = bc.id2 " +
        "ORDER BY a, b, c"),
    "dedup_ngram_jaccard" ->
      ("WITH g AS (SELECT doc_id, lang, source, " +
        "list_distinct(list_transform(generate_series(1, len(text) - 4), i -> " +
        "CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT) * 923521 + ascii(substr(text, CAST(i+1 AS INT), 1)) * 29791 + " +
        "ascii(substr(text, CAST(i+2 AS INT), 1)) * 961 + ascii(substr(text, CAST(i+3 AS INT), 1)) * 31 + " +
        "ascii(substr(text, CAST(i+4 AS INT), 1)))) AS g " +
        "FROM documents WHERE len(text) >= 5) " +
        "SELECT id1, id2, round(inter / (tot - inter), 6) AS jaccard FROM " +
        "(SELECT a.doc_id AS id1, b.doc_id AS id2, len(list_intersect(a.g, b.g)) AS inter, " +
        "len(a.g) + len(b.g) AS tot " +
        "FROM g a JOIN g b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id) " +
        "WHERE inter * 6 >= tot ORDER BY id1, id2"),
    // sampled audit: replays the Spark side's rate-adapted keyed-hash
    // draw verbatim — same gram polynomial, same ⌊log₅ sz⌋ band (exact
    // integer CASE chain, no float log), same md5-derived selection —
    // then exact Jaccard on all pairs inside each sampled stratum
    "ngram_jaccard_sampled" ->
      ("WITH g0 AS (SELECT doc_id, lang, source, " +
        "list_distinct(list_transform(generate_series(1, len(text) - 4), i -> " +
        "CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT) * 923521 + ascii(substr(text, CAST(i+1 AS INT), 1)) * 29791 + " +
        "ascii(substr(text, CAST(i+2 AS INT), 1)) * 961 + ascii(substr(text, CAST(i+3 AS INT), 1)) * 31 + " +
        "ascii(substr(text, CAST(i+4 AS INT), 1)))) AS g " +
        "FROM documents WHERE len(text) >= 5), " +
        "g2 AS (SELECT doc_id, lang, source, g, len(g) AS sz, " +
        "CAST(CASE WHEN len(g) < 5 THEN 0 WHEN len(g) < 25 THEN 1 WHEN len(g) < 125 THEN 2 " +
        "WHEN len(g) < 625 THEN 3 WHEN len(g) < 3125 THEN 4 WHEN len(g) < 15625 THEN 5 " +
        "WHEN len(g) < 78125 THEN 6 WHEN len(g) < 390625 THEN 7 WHEN len(g) < 1953125 THEN 8 " +
        "WHEN len(g) < 9765625 THEN 9 ELSE 10 END AS INT) AS band FROM g0), " +
        "sizes AS (SELECT lang, source, band, count(*) AS m FROM g2 GROUP BY 1, 2, 3), " +
        "samp AS (SELECT g2.* FROM g2 JOIN sizes USING (lang, source, band) " +
        s"WHERE CAST('0x' || substr(md5('graft-jacsample:' || CAST(doc_id AS VARCHAR)), 1, 14) AS BIGINT) < ${8L * (1L << 56)} // m) " +
        "SELECT lang, source, band, id1, id2, round(inter / (tot - inter), 6) AS jaccard FROM " +
        "(SELECT a.lang, a.source, a.band, a.doc_id AS id1, b.doc_id AS id2, " +
        "len(list_intersect(a.g, b.g)) AS inter, len(a.g) + len(b.g) AS tot " +
        "FROM samp a JOIN samp b ON a.lang = b.lang AND a.source = b.source " +
        "AND a.band = b.band AND a.doc_id < b.doc_id) " +
        "ORDER BY lang, source, band, id1, id2"),
    // LSH recall/precision audit: the identical seeded doc sample, exact
    // shingle Jaccard on all in-sample pairs, joined to the pipeline's
    // own candidate CTE
    "lsh_recall_audit" ->
      (s"WITH $lshCtesSql, " +
        s"grams AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${base32Sql("s")} % ${TextFunctions.MinhashP})) AS g FROM sh), " +
        "mm AS (SELECT count(*) AS m FROM grams), " +
        "gsamp AS (SELECT doc_id, g FROM grams, mm " +
        s"WHERE CAST('0x' || substr(md5('graft-lshsample:' || CAST(doc_id AS VARCHAR)), 1, 14) AS BIGINT) < ${64L * (1L << 56)} // m), " +
        "p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, " +
        "len(list_intersect(a.g, b.g)) AS inter, len(a.g) + len(b.g) AS tot " +
        "FROM gsamp a JOIN gsamp b ON a.doc_id < b.doc_id) " +
        "SELECT p.id1, p.id2, round(inter / (tot - inter), 6) AS jaccard, " +
        "CAST(inter * 6 >= tot AS INT) AS is_dup, " +
        "CAST(c.id1 IS NOT NULL AS INT) AS caught " +
        "FROM p LEFT JOIN cands c ON c.id1 = p.id1 AND c.id2 = p.id2 " +
        "ORDER BY p.id1, p.id2"),
  )
}
