package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.Tables

/** Text analysis for training-data pipelines: language ID, quality scoring,
  * token counting, document fingerprinting (north-star extensions —
  * SURVEY.md §2.3; absent from the reference).
  *
  * Everything is a row-local Column expression over the token array — no
  * shuffle at all until the final ORDER BY, so each of these streams
  * through a 100 TB corpus in a single map phase.
  */
object TextAnalysis {

  private def toks: Column = TextFunctions.tokens(col("text"))

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "une", "est"),
  )

  private def markerCount(lang: String): Column =
    size(filter(col("toks"), t => t.isin(stopwords(lang): _*)))

  /** Heuristic language ID: argmax of per-language marker-word counts,
    * first-match tie-break, 'und' when no marker hits. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("labeled_lang"), toks.as("toks"))
      .select(col("doc_id"), col("labeled_lang"),
        markerCount("en").as("s_en"), markerCount("es").as("s_es"),
        markerCount("de").as("s_de"), markerCount("fr").as("s_fr"))
    val best = greatest(col("s_en"), col("s_es"), col("s_de"), col("s_fr"))
    scored.select(col("doc_id"), col("labeled_lang"),
      when(best === 0, "und")
        .when(col("s_en") === best, "en")
        .when(col("s_es") === best, "es")
        .when(col("s_de") === best, "de")
        .otherwise("fr").as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Classifier-eval confusion matrix for the language-ID heuristic:
    * labeled × predicted counts plus a per-cell accuracy flag — the
    * quality report any heuristic labeler ships with (precision/recall
    * per language read straight off the matrix). One grouped count over
    * langId's map-only scoring pass; output bounded by |langs|², never
    * the corpus. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir)
      .groupBy("labeled_lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("is_correct",
        (col("labeled_lang") === col("pred_lang")).cast("int"))
      .orderBy("labeled_lang", "pred_lang")

  /** Shared doc-scoring stage: tokenize + quality signals, persisted once
    * per (session, dataset identity) in [[graft.sources.Stages]].
    * qualityScore reads it once, but qualityGate's
    * threshold selection consumes it THREE times (histogram, above-cut
    * filter, tie ranking); without the cache each consumer re-tokenizes
    * the whole corpus (measured ~1 s per redundant pass at sf0.1). The
    * cached projection is a handful of narrow columns — orders of
    * magnitude smaller than the corpus — and persist() spills to disk, so
    * the cache is the cheap side of the recompute-vs-materialize tradeoff
    * at any scale. */
  private[graft] def scoredDocs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Stages(spark, "text/scored", dir, chain = "doc_scores")(
      scoreDocsFrame(Tables.documents(spark, dir)))

  /** The row-local scoring pass over ANY (doc_id, lang, text) frame —
    * shared by the memoized corpus stage above and the streaming
    * quality-gate twin (which scores each arriving micro-batch with the
    * identical arithmetic before applying the persisted gate spec). */
  private[graft] def scoreDocsFrame(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), col("lang"), col("text"), toks.as("toks"))
      .select(col("doc_id"), col("lang"), col("text"), col("toks"),
        size(col("toks")).as("n_tokens"))
    val stopHits = size(filter(col("toks"), t => t.isin(stopwords("en"): _*)))
    val stopRatio = when(col("n_tokens") > 0,
      stopHits.cast("double") / col("n_tokens")).otherwise(0.0)
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "(?U)[^\\w\\s]+", ""))).cast("double")
    val punctRatio = when(length(col("text")) > 0,
      punct / length(col("text"))).otherwise(0.0)
    val lenSat = least(col("n_tokens").cast("double") / 500.0, lit(1.0))
    d.select(col("doc_id"), col("lang"), col("n_tokens"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(punctRatio, 6).as("punct_ratio"),
      round(stopRatio * 0.4 + lenSat * 0.5 + (lit(1.0) - punctRatio) * 0.1, 6).as("quality"))
  }

  /** Drop every registered stage so the stages genuinely re-execute. */
  def clearMemo(): Unit = graft.sources.Stages.clear()

  /** Quality score: stopword ratio + length saturation, rounded. The exact
    * formula matters less than it being deterministic and monotone in
    * signals a curation pipeline would use. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    scoredDocs(spark, dir)
      .select("doc_id", "n_tokens", "stopword_ratio", "punct_ratio", "quality")
      .orderBy("doc_id")

  /** Deterministic train/val/test split assignment: a salted md5 of the
    * document key maps each doc to one of 100 buckets (96/2/2). Entirely
    * row-local — no shuffle except the output sort — and stable under
    * corpus growth or repartitioning (a keyed hash, not row_number or
    * rand(), so reruns and incremental appends assign identically — the
    * property a training pipeline needs to avoid test-set leakage). */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit("graft-split:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 96, "train")
          .when(col("bucket") < 98, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  /** Mixture resampling to a uniform language target: every language is
    * hash-downsampled to the minority language's expected count — the
    * data-mixing step that turns a skewed crawl into the training
    * mixture, run as one decision per row. Mechanics: per-lang counts
    * broadcast back (≤|langs| rows), then a salted keyed hash u ∈
    * [0, 2³²) accepts a doc iff u·n_l < n_min·2³² — the cross-multiplied
    * EXACT integer form of P(keep) = n_min/n_l, so no float ratio sits
    * on an acceptance boundary and reruns/appends decide identically
    * (same keyed-hash stability argument as splitAssign). Corpus pass is
    * map-only; emits every doc's verdict so the oracle audits decisions,
    * not just totals. */
  def mixtureResample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "lang")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val nMin = counts.agg(min(col("n_l")).as("n_min"))
    docs.join(broadcast(counts), "lang")
      .crossJoin(broadcast(nMin))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(concat(lit("graft-mix:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") * col("n_l") < col("n_min") * lit(4294967296L))
          .as("kept"))
      .orderBy("doc_id")
  }

  /** Curriculum scheduling — the training-ORDER op that follows scoring
    * and splitting: docs are bucketed into ten quality phases (phase 0 =
    * top decile, fed first) and SHUFFLED within each phase by a salted
    * keyed hash, producing the easy-to-hard schedule curriculum training
    * consumes without any global sort bottleneck. Phase is row-local
    * arithmetic on the 6-decimal quality score (clamped floor of q·10,
    * identical IEEE doubles in both engines); intra-phase order is the
    * splitAssign md5 idiom — rerun- and append-stable, so a resumed run
    * or a grown corpus schedules existing docs identically. At 100 TB
    * the (phase, order_key) pair IS the sort key of a range-partitioned
    * write; nothing here needs a single-partition window or a driver
    * pass. */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame =
    scoredDocs(spark, dir)
      .select(col("doc_id"),
        (lit(9) - greatest(lit(0), least(lit(9),
          floor(col("quality") * 10).cast("int")))).as("phase"),
        conv(substring(md5(concat(lit("graft-curriculum:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long").as("order_key"))
      .orderBy("phase", "order_key", "doc_id")

  /** Token-budget selection — fill a training-token budget (⅓ of the
    * corpus here, derived in-plan so the op is scale-free) in CURRICULUM
    * order: walk docs phase-by-phase, best quality first, and keep each
    * until the running token total crosses the budget — the data-
    * selection step between scoring and training when compute, not data,
    * is the binding constraint. Every doc gets an auditable verdict
    * (selected + its cumulative position), not just the survivors.
    *
    * The running total uses token_pack's two-level prefix sum so no
    * window ever sees a corpus-sized partition: docs group into
    * (phase, order_key-range bucket) cells — lexicographic cell order IS
    * the global curriculum order — per-cell totals (≤640 rows) get
    * running offsets in one bounded window, and each doc adds its
    * in-cell prefix to its cell's offset. The 1-row budget aggregate
    * broadcasts; everything else is the row-local curriculum arithmetic
    * already gated by curriculum_order. */
  def tokenBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val o = scoredDocs(spark, dir)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        (lit(9) - greatest(lit(0), least(lit(9),
          floor(col("quality") * 10).cast("int")))).as("phase"),
        conv(substring(md5(concat(lit("graft-curriculum:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long").as("order_key"))
      .withColumn("bucket", shiftright(col("order_key"), 26).cast("int"))
    val grpTot = o.groupBy("phase", "bucket").agg(sum("n_tokens").as("gt"))
    val wOff = Window.orderBy("phase", "bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = grpTot
      .withColumn("offset", coalesce(sum("gt").over(wOff), lit(0L)))
      .select("phase", "bucket", "offset")
    val byCell = Window.partitionBy("phase", "bucket")
      .orderBy("order_key", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = o.agg(expr("sum(n_tokens) div 3").as("budget"))
    o.join(broadcast(off), Seq("phase", "bucket"))
      .withColumn("cum_tokens", col("offset") + sum("n_tokens").over(byCell))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("phase"), col("order_key"),
        col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= col("budget")).cast("int").as("selected"))
      .orderBy("phase", "order_key", "doc_id")
  }

  /** First BPE merge-step statistics — the tokenizer-TRAINING primitive
    * (quality/packing ops above consume a tokenizer; this is the op that
    * builds one): count every adjacent symbol pair across all word
    * OCCURRENCES (frequency-weighted, as BPE requires — a pair in a
    * common word counts once per appearance) and report the top-20
    * merge candidates. Shape: the canonical map-side-combine aggregate —
    * pairs explode row-locally, partial counts collapse per partition
    * before the shuffle, and the reduced key space is at most
    * alphabet², so the exchange is tiny no matter the corpus; the final
    * top-20 is a TakeOrdered, not a global sort. Ties break on the pair
    * string so the cut at rank 20 is deterministic cross-engine. */
  def bpePairCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(toks).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_pairs"))
      .orderBy(desc("n_pairs"), asc("pair"))
      .limit(20)

  /** Iterative BPE training — five full merge rounds, not just the
    * first-step statistics of bpe_pair_counts: each round counts every
    * adjacent symbol pair over the frequency-weighted word table, elects
    * the most frequent pair (count desc, then lexicographic — the
    * deterministic tiebreak), and APPLIES it corpus-wide with a greedy
    * left-to-right fold before the next round recounts. This is the
    * tokenizer-training dataflow itself: the output (step, pair, count)
    * table IS the merge table a BPE tokenizer ships.
    *
    * Shape, and why it scales: the unit of work is the DISTINCT-WORD
    * table (vocab-sized, frequency-weighted — never the corpus), the
    * merge application is a row-local `aggregate` higher-order fold
    * (whole-stage codegen, no UDF), and each round is one map-side-
    * combined pair count over an alphabet²-bounded key space plus one
    * 1-row argmax pulled to the driver — the trainer's inherent
    * synchronization point (the next round's MAP depends on it, exactly
    * like the frontier test in BFS). Rounds checkpoint eagerly so the
    * plan stays O(1) across iterations instead of nesting five folds.
    * The DuckDB oracle replays the identical five rounds as chained
    * CTEs whose `list_reduce` fold mirrors the Spark `aggregate` fold
    * element for element. */
  /** The greedy left-to-right merge fold shared by training and encode:
    * replace every non-overlapping (a, b) adjacency in `syms` with the
    * merged symbol. */
  private[graft] def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Frequency-weighted distinct-word table with initial char symbols —
    * the unit of work for the BPE trainer and encoder. */
  private def bpeWords(spark: SparkSession, dir: String): DataFrame =
    bpeWordsFrame(Tables.documents(spark, dir))

  /** The same word table over ANY (doc_id, text) frame — one definition
    * of tokenize/group/symbol-split shared by the corpus trainer above
    * and the per-batch streaming encode, so the two paths cannot drift. */
  private def bpeWordsFrame(docs: DataFrame): DataFrame =
    docs
      .select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"),
        filter(split(col("w"), ""), x => length(x) > 0).as("syms"),
        col("freq"))

  /** Per-process persisted merge-table roots, one training run per
    * (session, dataset) — the IVF index pattern (`ArtifactRoots.built`):
    * the trained tokenizer is a durable pipeline ARTIFACT, written to a
    * parquet file and reloaded by every consumer, exactly how a
    * production encoder ships its merge file. The root defaults to a
    * process-private temp dir (no state outlives the JVM); with
    * `spark.graft.artifactRoot` set it becomes a shared durable path
    * (ArtifactRoots.rootFor), where the staged write + ATOMIC_MOVE +
    * `.complete` marker — enforced on BOTH sides: atomicBuild arbitrates
    * racing writers, assertComplete gates every reader — are what make a
    * killed build unreadable rather than half-read. */
  private[graft] def bpeIndexRoot(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactRoots.built(spark, "bpe", dir, Seq("merges"),
        chain = "bpe_merges") { stage =>
      import spark.implicits._
      trainBpeMerges(spark, dir)
        .toDF("step", "left_sym", "right_sym", "pair_count")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/merges")
    }

  /** The merge table as driver literals, RELOADED from the persisted
    * artifact — both bpe_learn_merges and bpe_encode (and the streaming
    * encode twin) consume the parquet file, never the trainer directly,
    * so the artifact is the contract between training and inference.
    * The root comes through `ArtifactRoots.built`, which checks its
    * `.complete` marker. */
  private[graft] def bpeMergeTable(
      spark: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    spark.read.parquet(s"${bpeIndexRoot(spark, dir)}/merges")
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq

  /** The iterative trainer itself: 5 rounds of (count adjacent pairs →
    * take argmax → fold the merge), each round one Spark job over the
    * frequency-weighted distinct-word table with a per-round
    * localCheckpoint; the 1-row argmax is the inherent sync point of
    * sequential BPE. */
  private def trainBpeMerges(
      spark: SparkSession, dir: String): Seq[(Int, String, String, Long)] = {
      var cur = bpeWords(spark, dir).select("syms", "freq").localCheckpoint(true)
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      var step = 1
      var exhausted = false
      // a degenerate corpus (all words reduced to one symbol) runs out of
      // adjacent pairs before round 5: emit the rounds learned so far, the
      // same truncation the oracle's bounded recursion produces
      while (step <= 5 && !exhausted) {
        val win = cur.filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(1, size(syms) - 1), " +
              "j -> struct(element_at(syms, j) AS a, element_at(syms, j + 1) AS b))")).as("p"))
          .groupBy("p.a", "p.b").agg(sum("freq").as("cnt"))
          .orderBy(desc("cnt"), asc("a"), asc("b"))
          .take(1).headOption
        win match {
          case Some(row) =>
            val (a, b, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
            merges += ((step, a, b, cnt))
            cur = cur.select(applyMerge(col("syms"), a, b).as("syms"), col("freq"))
              .localCheckpoint(true)
          case None => exhausted = true
        }
        step += 1
      }
      merges.result()
  }

  def bpeLearnMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMergeTable(spark, dir)
      .toDF("step", "left_sym", "right_sym", "pair_count")
      .orderBy("step")
  }

  /** BPE ENCODE — the inference half that closes the tokenizer loop:
    * apply the five learned merges, in training order, to every distinct
    * word, then attribute the resulting token counts back to documents.
    * Per doc: word count, char-symbol count (pre-merge), BPE token count
    * (post-merge), and the compression ratio in ppm — the fertility
    * metric (tokens per unit of text) that decides whether a tokenizer
    * is economical for a corpus. Shape: the merge table is RELOADED from
    * the persisted parquet artifact (bpeIndexRoot) and folded into the
    * plan as a 5-row driver constant — the same way a production encoder
    * ships and loads the merge file its trainer wrote —
    * the five folds compose row-locally over the vocab-sized word table
    * with no intermediate materialization, and the corpus pass is one
    * explode + equi-join on word + per-doc sum — at 100 TB the word
    * table is Zipf-small relative to the corpus and broadcast-eligible;
    * here the join shuffles both sides on `w` once. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeDocs(Tables.documents(spark, dir), bpeMergeTable(spark, dir))

  /** The encode pass over ANY (doc_id, text) frame — shared by batch
    * bpe_encode (full corpus) and the streaming twin (per micro-batch;
    * per-doc rows are independent given the merge table, so encoding
    * batches separately and appending is value-identical to one corpus
    * pass). The merge table argument is the persisted artifact's rows as
    * driver literals. */
  private[graft] def bpeEncodeDocs(docs: DataFrame,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val encoded = merges.foldLeft(bpeWordsFrame(docs)) { case (df, (_, a, b, _)) =>
      df.select(col("w"), applyMerge(col("syms"), a, b).as("syms"))
    }
    val perWord = encoded.select(col("w"), size(col("syms")).as("n_bpe"))
    docs
      .select(col("doc_id"), explode(toks).as("w"))
      .join(perWord, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("n_char_syms"),
        sum("n_bpe").as("n_bpe_tokens"))
      .withColumn("compression_ppm",
        expr("1000000 * n_bpe_tokens div n_char_syms"))
      .orderBy("doc_id")
  }

  /** Per-language quality gate: keep the better half of each language's
    * documents by quality score — the curation step between scoring and
    * training. Rank-based selection (2·rank ≤ count, ties broken by
    * doc_id) rather than a filter against an interpolated quantile:
    * integer logic is exact on both engines, where a floating median
    * comparison can flip boundary docs on a 1-ulp divergence.
    *
    * Scale shape: a naive row_number over Window.partitionBy(lang) sorts
    * the whole corpus through ≤#langs reducers. Instead the cut is found
    * on the per-(lang, quality) HISTOGRAM (bounded by the 6-decimal score
    * grid, not corpus size): cumulative counts locate each language's
    * threshold score and how many threshold-tied docs are admitted; rows
    * strictly above the threshold pass with a broadcast-joined filter (no
    * sort at all), and only the tiny threshold-tie set is ranked by
    * doc_id to break ties exactly as before. The three consumers read the
    * memoized scoredDocs stage, so the corpus is tokenized once, not
    * three times. */
  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    gateTopHalf(scoredDocs(spark, dir).select("doc_id", "lang", "quality"))

  /** The selection itself, over any (doc_id, lang, quality) frame. */
  def gateTopHalf(scored: DataFrame): DataFrame = {
    val (thresholds, ties) = gateSpec(scored)
    scored.join(broadcast(thresholds), Seq("lang"))
      .filter(col("quality") > col("qt"))
      .select("doc_id", "lang", "quality")
      .unionAll(ties)
      .orderBy("doc_id")
  }

  /** Per-process persisted gate-spec roots — the same durable-artifact
    * protocol as the BPE merge table and the IVF index (default
    * process-private root or the configured shared durable root; staged
    * write, ATOMIC_MOVE, completion marker enforced writer- AND
    * reader-side via ArtifactRoots): the trained gate ships as two
    * parquet files (thresholds + tie roster) and every consumer — batch
    * audit or the streaming twin — reloads the files, never the
    * trainer. */
  private[graft] def gateSpecRoot(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactRoots.built(spark, "gatespec", dir,
        Seq("thresholds", "roster")) { stage =>
      val (thresholds, ties) = gateSpec(
        scoredDocs(spark, dir).select("doc_id", "lang", "quality"))
      thresholds.coalesce(1).write.mode("overwrite").parquet(s"$stage/thresholds")
      ties.coalesce(1).write.mode("overwrite").parquet(s"$stage/roster")
    }

  /** The gate SPEC as two tiny frames — (lang, qt, adm) thresholds and
    * the explicit roster of threshold-TIED docs admitted by doc_id rank.
    * Together they make admission a row-local predicate
    * (quality > qt OR doc_id ∈ roster), which is what lets the streaming
    * twin apply a corpus-trained gate to arriving micro-batches exactly:
    * tie resolution is global by construction (baked into the shipped
    * roster), so no batch split can flip it. Both frames are bounded by
    * #langs and per-lang tie-group size, not corpus size. */
  private[graft] def gateSpec(scored: DataFrame): (DataFrame, DataFrame) = {
    val thresholds = thresholdsFromHist(
      scored.groupBy("lang", "quality").agg(count(lit(1)).as("c")))
    val tieW = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
    val ties = scored.join(broadcast(thresholds), Seq("lang"))
      .filter(col("quality") === col("qt"))
      .withColumn("trn", row_number().over(tieW))
      .filter(col("trn") <= col("adm"))
      .select("doc_id", "lang", "quality")
    (thresholds, ties)
  }

  /** Threshold derivation from a per-(lang, quality) HISTOGRAM — the
    * factored core of gateSpec, exposed separately because the histogram
    * is MERGEABLE: hist(base) ⊎ hist(delta) = hist(base ∪ delta), so the
    * spec refreshes in O(delta) without rescoring the resident corpus
    * (the agg_incremental discipline applied to curation). keep
    * k = floor(cnt/2) docs per lang, best-first; cnt comes from the
    * histogram itself, never a second corpus scan. Output per lang: the
    * threshold score (rank k falls inside its tie group) and how many
    * docs AT that score are admitted. */
  private[graft] def thresholdsFromHist(hist: DataFrame): DataFrame = {
    val byLang = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val byLangDesc = byLang.orderBy(desc("quality"))
    hist
      .withColumn("cum", sum("c").over(byLangDesc))
      .withColumn("prev", col("cum") - col("c"))
      .withColumn("k", floor(sum("c").over(byLang) / 2))
      .filter(col("prev") < col("k") && col("k") <= col("cum"))
      .select(col("lang"), col("quality").as("qt"), (col("k") - col("prev")).as("adm"))
  }

  /** Incremental gate-spec maintenance — the refresh a production
    * curation pipeline runs when a delta lands: the resident corpus's
    * per-(lang, quality) histogram is a maintained artifact; the delta is
    * scored and histogrammed alone (O(delta)); the two histograms MERGE
    * by addition (the mergeable-aggregate property the sketch family
    * already gates); and the new thresholds derive from the merged
    * histogram, which is score-grid-bounded, not corpus-bounded. Output
    * must equal the spec a full retrain would produce — that equality
    * (merge-refresh == retrain) is exactly what the oracle checks, the
    * same contract as agg_incremental. Delta here: doc_id ≡ 0 (mod 7). */
  def gateSpecRefresh(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredDocs(spark, dir).select("doc_id", "lang", "quality")
    val hist = (s: DataFrame) => s.groupBy("lang", "quality").agg(count(lit(1)).as("c"))
    val merged = hist(scored.filter(col("doc_id") % 7 =!= 0))
      .unionAll(hist(scored.filter(col("doc_id") % 7 === 0)))
      .groupBy("lang", "quality").agg(sum("c").as("c"))
    thresholdsFromHist(merged).orderBy("lang")
  }

  /** Intra-document repetition: the fraction of word-3-gram occurrences
    * that are repeats (1 − distinct/total) — the boilerplate/spam signal
    * repetition filters threshold on. Row-local. */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    val g3 = when(size(col("toks")) >= 3,
      TextFunctions.wordShinglesFromTokens(col("toks"), 3))
      .otherwise(array())
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), size(g3).cast("long").as("n_grams"),
        size(array_distinct(g3)).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_grams"),
        round(when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_grams"))
          .otherwise(0.0), 6).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** Stratified sampling with per-language rates (en 10%, others 50% —
    * downweight the dominant language, the standard mixture rebalance).
    * Like splitAssign the keep decision is a salted keyed hash against a
    * per-mille threshold: row-local, rerun-stable, and append-consistent
    * (a doc's fate never depends on what else is in the corpus). */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(concat(lit("graft-sample:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 1000).as("bucket"))
      .filter(col("bucket") < when(col("lang") === "en", 100).otherwise(500))
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Data-mixture weights: per-source token counts and the upsampling
    * factor that equalizes each source's token contribution to the
    * largest source — the numbers a training-mixture config is built
    * from. One partial+final aggregate; the 1-row max joins back via
    * broadcast (same shape as TF-IDF's corpus-N). */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"), size(toks).cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
    per.join(broadcast(per.agg(max(col("n_tokens")).as("max_tokens"))), lit(true))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("max_tokens").cast("double") / col("n_tokens"), 6).as("weight"))
      .orderBy("source")
  }

  /** Token packing (concat-and-chunk): assign every document its starting
    * (chunk, offset) position when the corpus is concatenated in doc_id
    * order and sliced into 2048-token windows — the layout step before
    * writing training shards. Packing runs per (lang, source) shard, and
    * the shard prefix sum is TWO-LEVEL, so no single sort ever sees a
    * whole shard:
    *   1. docs are bucketed by `doc_id div 4096` (monotone in doc_id, so
    *      bucket order = doc order) and each bucket computes its local
    *      exclusive prefix sum — the largest sort in the plan is one
    *      bucket (≤ 4096 docs), regardless of shard skew;
    *   2. per-bucket token totals (a B-fold smaller table) take their own
    *      per-shard running sum and broadcast back as bucket offsets —
    *      final position = bucket offset + local prefix.
    * At 100 TB a hot (en, web) shard therefore packs with full cluster
    * parallelism; the only per-shard serial step is the window over
    * bucket TOTALS, corpus/4096 rows. Identical output to the one-level
    * shard window it replaces. */
  def tokenPack(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        size(toks).cast("long").as("n_tokens"))
      .withColumn("bucket", expr("doc_id div 4096"))
    val wLocal = W.partitionBy("lang", "source", "bucket").orderBy("doc_id")
      .rowsBetween(W.unboundedPreceding, -1)
    val local = base
      .withColumn("local_cum", coalesce(sum("n_tokens").over(wLocal), lit(0L)))
    val wBucket = W.partitionBy("lang", "source").orderBy("bucket")
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = base.groupBy("lang", "source", "bucket")
      .agg(sum("n_tokens").as("bucket_tokens"))
      .withColumn("bucket_offset",
        coalesce(sum("bucket_tokens").over(wBucket), lit(0L)))
      .select("lang", "source", "bucket", "bucket_offset")
    local.join(broadcast(offsets), Seq("lang", "source", "bucket"))
      .withColumn("cum", col("bucket_offset") + col("local_cum"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        expr("cum div 2048").as("start_chunk"),
        (col("cum") % 2048).as("start_offset"))
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens + a BPE-ish subword estimate
    * (ceil(len/4) pieces per token, the usual chars-per-token heuristic). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"), length(col("text")).as("n_chars"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        aggregate(col("toks"), lit(0L),
          (acc, t) => acc + floor((length(t) + lit(3)) / lit(4))).as("n_subwords"),
        col("n_chars"))
      .orderBy("doc_id")

  /** Content fingerprints: md5 of whitespace-normalized lowercase text
    * (exact-dup key) + min base-31 rolling hash over char-8-grams
    * (winnowing-style near-dup key, stable under local edits).
    * Computed in a typed mapPartitions: a per-row JVM loop and a hard
    * optimizer barrier (Column-transform versions of this pipeline got
    * inlined/recomputed by Catalyst — see Dedup.dedupNgramJaccard). */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsKernelWide(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val norm = text.toLowerCase.replaceAll("\\s+", " ")
          val fpNorm = md.digest(norm.getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString
          var minH = Long.MaxValue
          var i = 0
          while (i <= text.length - 8) {
            var h = 0L
            var j = 0
            while (j < 8) { h = h * 31 + text.charAt(i + j).toLong; j += 1 }
            if (h < minH) minH = h
            i += 1
          }
          (id, fpNorm, if (minH == Long.MaxValue) -1L else minH)
        }
      }
      .toDF("doc_id", "fp_norm", "fp_mingram")
      .orderBy("doc_id")
  }

  /** TF-IDF top terms per document. IDF is integer-scaled
    * (floor(1e6·N/df)) instead of log-scaled: IEEE division of integers is
    * exactly rounded and therefore bit-identical across engines, where
    * ln() may differ in the last ulp between libms. Classic two-aggregate
    * + broadcast-model + window shape; model tables are tiny vs corpus. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("word"))
    val tf = pairs.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // df and N both derive from tf (one row per distinct (doc_id, word)),
    // so all three branches can share tf's corpus-scan shuffle via AQE
    // exchange reuse, and N becomes a broadcast 1-row DataFrame instead of
    // a driver-side count() action (which eagerly ran a full extra corpus
    // scan at plan-build time). The `tf >= 1` filters are semantic no-ops
    // (counts are always ≥ 1) whose job is to reference the aggregated
    // column: without them Catalyst prunes count(1) out of the df/N
    // branches' inner aggregate, the three exchange subtrees stop being
    // canonically identical, and ReuseExchange never fires — measured as
    // three full corpus scans instead of one.
    val df = tf.filter(col("tf") >= 1).groupBy("word").agg(count(lit(1)).as("df"))
    val n = tf.filter(col("tf") >= 1).agg(countDistinct(col("doc_id")).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("word"))
    // IDF model tables are vocabulary-sized (tiny vs corpus) → broadcast,
    // keeping the corpus-sized tf side shuffle-free through both joins
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"),
        (col("tf") * floor(lit(1000000.0) * col("n") / col("df")).cast("long")).as("tfidf"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("doc_id", "rn", "word", "tfidf")
      .orderBy("doc_id", "rn")
  }

  /** BM25 top terms per document — the ranking function retrieval-style
    * data prep actually uses where TF-IDF is the teaching example: term
    * frequency saturates (k1) and is length-normalized (b), so a term
    * repeated 50× in a long doc no longer drowns out a focused short doc.
    *
    * Cross-engine exactness: k1 = 1.2 and b = 0.75 are exact rationals,
    * so the whole score clears to INTEGER arithmetic — with N docs, total
    * token count TL, doc length dl: the tf factor tf·(k1+1)/(tf + k1·(1−b
    * + b·dl·N/TL)) equals 22·tf·TL / (10·tf·TL + 3·TL + 9·dl·N) exactly,
    * and the BM25 idf (N−df+0.5)/(df+0.5) equals (2N−2df+1)/(2df+1); both
    * are floor-scaled by 1e6 with integer `div` — no log, no float, no
    * ulp drift (same trick as tfidf_top_terms).
    *
    * Overflow safety is scale-ADAPTIVE, not a per-row tax: the corpus
    * model scalars (N, TL, max dl) come from one tiny aggregate pulled to
    * the driver (the blessed scalar-pull pattern), and the plan routes on
    * a PROVEN BigInt bound — when 22e6·maxdl·TL, the tff denominator, and
    * the idf×tff product all clear 2⁶³, the per-row kernel is pure Long
    * arithmetic (the hot path at any bench scale); only when a corpus is
    * genuinely large enough to threaten 2⁶³ does the kernel lift to
    * DECIMAL(38,0) (HUGEINT in the oracle) — still exact, never silently
    * wrapped, and exceeding 38 digits fails loudly rather than corrupting
    * scores. Both paths floor to the same BIGINT values, so the routing
    * is invisible to the oracle. The idf factor depends only on df, so it
    * is computed once per DISTINCT WORD on the broadcast-side df table
    * (|vocab| rows) instead of once per (doc, word) pair — the row-local
    * kernel on the corpus-sized side is one fused mul/div chain with the
    * corpus scalars folded in as literals (no crossJoin needed). Shape:
    * df model broadcast + a per-doc length join that reuses the window's
    * doc_id partitioning; the corpus-sized tf side shuffles once. */
  def bm25TopTerms(spark: SparkSession, dir: String): DataFrame =
    bm25TopTermsImpl(spark, dir, forceDecimal = false)

  /** The per-(doc, word) integer BM25 score frame — the ranking model
    * BEFORE the per-doc top-3 cut, factored out so retrieval
    * compositions (hybrid_rrf's lexical leg) score candidate documents
    * with the exact same kernel the gated bm25_top_terms row uses.
    * Memoized + persisted per (session, dataset fingerprint): hybrid_rrf
    * consumes it from two plan branches (query terms and candidate
    * scores) and bm25_top_terms is a third consumer — without the memo
    * the corpus-wide tokenize + tf/df/dl aggregation would re-execute
    * per branch. */
  private[graft] def bm25Scored(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Stages(spark, "text/bm25", dir, chain = "bm25_scored")(
      bm25ScoredImpl(spark, dir, forceDecimal = false))

  /** `forceDecimal` lets the spec exercise the huge-corpus DECIMAL kernel
    * at test scale and prove it value-identical to the Long fast path —
    * the branch real data can't reach below ~2e6 documents. */
  private[graft] def bm25TopTermsImpl(spark: SparkSession, dir: String,
      forceDecimal: Boolean): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(desc("bm25"), asc("word"))
    // the Long fast path shares the memoized stage; the spec-only DECIMAL
    // variant stays un-memoized so it can't shadow the production frame
    (if (forceDecimal) bm25ScoredImpl(spark, dir, forceDecimal = true)
     else bm25Scored(spark, dir))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("doc_id", "rn", "word", "bm25")
      .orderBy("doc_id", "rn")
  }

  /** The tf/df/dl aggregation stack under every BM25 surface — corpus
    * kernel (bm25ScoredImpl), mergeable model parts (bm25ModelParts),
    * and the chunk-serving index's shipped model (chunkIndexRoot) all
    * derive from THIS one derivation, so batch/stream oracle equality
    * rests on shared code, not on three hand-kept copies staying
    * identical. */
  private def bm25TfStages(d: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val tf = d.select(col("doc_id"), explode(toks).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfm = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    (tf, dfm, dl)
  }

  private def bm25ScoredImpl(spark: SparkSession, dir: String,
      forceDecimal: Boolean): DataFrame = {
    val (tf, df, dl) = bm25TfStages(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    val totRow = dl.agg(count(lit(1)).as("n"), sum("dl").as("tl"),
      max("dl").as("maxdl")).head()
    val n = totRow.getLong(0)
    val tl = if (totRow.isNullAt(1)) 0L else totRow.getLong(1)
    val maxdl = if (totRow.isNullAt(2)) 1L else math.max(totRow.getLong(2), 1L)
    val (idf, score) = bm25Exprs(n, tl, maxdl, forceDecimal)
    tf.join(broadcast(df.withColumn("idf", idf)), "word")
      .join(dl, "doc_id")
      .select(col("doc_id"), col("word"), score.as("bm25"))
  }

  /** The integer BM25 kernel's two expressions over columns (df) and
    * (tf, dl, idf), given the corpus scalars — factored so the corpus
    * kernel (bm25ScoredImpl) and model-serving scorers
    * (bm25ScoreAgainstModel, the streaming retrieval twin) are the SAME
    * arithmetic by construction, including the Long-vs-DECIMAL overflow
    * decision, which depends only on the shipped (n, tl, maxdl). */
  private def bm25Exprs(n: Long, tl: Long, maxdl: Long,
      forceDecimal: Boolean): (Column, Column) = {
    val longSafe = !forceDecimal && {
      val (bn, btl, bdl) = (BigInt(n), BigInt(tl max 1L), BigInt(maxdl))
      Seq(
        BigInt(22000000L) * bdl * btl,                          // tff numerator (tf ≤ maxdl)
        BigInt(10) * bdl * btl + BigInt(3) * btl + BigInt(9) * bdl * bn, // tff denominator
        BigInt(1000000L) * (2 * bn + 1) * BigInt(2200000L)      // idf × tff product (tff ≤ 2.2e6)
      ).forall(_ <= BigInt(Long.MaxValue))
    }
    val idf =
      if (longSafe) expr(s"(1000000 * (2*${n}L - 2*df + 1)) div (2*df + 1)")
      else expr(s"cast((1000000 * (2*cast($n as decimal(38,0)) - 2*df + 1)) " +
        "div (2*df + 1) as decimal(38,0))")
    val score =
      if (longSafe)
        expr(s"(idf * ((1000000 * 22 * tf * ${tl}L) div " +
          s"(10*tf*${tl}L + 3*${tl}L + 9*dl*${n}L))) div 1000000")
      else
        expr(s"(idf * ((1000000 * 22 * tf * cast($tl as decimal(38,0))) div " +
          s"(10*tf*cast($tl as decimal(38,0)) + 3*cast($tl as decimal(38,0)) " +
          s"+ 9*dl*cast($n as decimal(38,0))))) div 1000000")
    (idf, score)
  }

  /** Score an ARRIVING document frame against the shipped BM25 model —
    * the serving-side scorer: tf and dl are row-local to the arriving
    * doc, df comes from the model's vocabulary table, and (n, tl,
    * maxdl) are the shipped corpus scalars, so for a doc that is a
    * corpus member the output (doc_id, word, bm25) rows are identical
    * to the corpus kernel's. The arriving batch broadcasts (it is the
    * small side — a query panel, never the corpus); the vocabulary
    * table is scanned, never shuffled. Words outside the model
    * vocabulary drop (df unknown — the model must be refreshed to rank
    * them, the bm25_model_refresh loop). */
  private[graft] def bm25ScoreAgainstModel(docs: DataFrame, modelDf: DataFrame,
      n: Long, tl: Long, maxdl: Long): DataFrame = {
    val (tf, _, dl) = bm25TfStages(docs) // dfm unused (the model ships df)
    val (idf, score) = bm25Exprs(n, tl, maxdl, forceDecimal = false)
    broadcast(tf).join(modelDf.withColumn("idf", idf), "word")
      .join(broadcast(dl), "doc_id")
      .select(col("doc_id"), col("word"), score.as("bm25"))
  }

  /** The BM25 model's two mergeable parts for a document frame: the
    * per-word document-frequency table and the 1-row (n, tl) corpus
    * scalars — shared by the batch refresh and its streaming twin. */
  private[graft] def bm25ModelParts(d: DataFrame): (DataFrame, DataFrame) = {
    val (_, dfm, dl) = bm25TfStages(d)
    (dfm, dl.agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("tl")))
  }

  /** O(delta) BM25 lexical-model maintenance — the agg_incremental /
    * gate_spec_refresh discipline applied to the retrieval index: the
    * BM25 model is three mergeable aggregates (per-word document
    * frequency, corpus doc count N, corpus token total TL), and because
    * a delta's doc set is disjoint from the resident corpus, df/N/TL all
    * merge by ADDITION — so when a delta lands (doc_id ≡ 0 mod 10, the
    * dedup_incremental convention), refreshing the model costs one pass
    * over the DELTA plus a vocabulary-sized merge, never a corpus
    * re-scan. The oracle retrains from the full corpus directly: green
    * iff merge(model(base), model(delta)) == model(base ∪ delta), the
    * invariant that makes incremental index refresh trustworthy. Output
    * is the merged model itself (per-word df + the two corpus scalars),
    * vocabulary-bounded. */
  def bm25ModelRefresh(spark: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % 10 === 0
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val (dfBase, scBase) = bm25ModelParts(docs.filter(!isNew))
    val (dfDelta, scDelta) = bm25ModelParts(docs.filter(isNew))
    val scalars = scBase.crossJoin(
        scDelta.select(col("n").as("nd"), col("tl").as("tld")))
      .select((col("n") + col("nd")).as("n_docs"),
        (col("tl") + col("tld")).as("total_tokens"))
    dfBase.unionByName(dfDelta)
      .groupBy("word").agg(sum("df").as("df"))
      .crossJoin(broadcast(scalars))
      .select("word", "df", "n_docs", "total_tokens")
      .orderBy("word")
  }

  /** RAG-shaped chunk retrieval with a per-document diversity cap — the
    * serving-side composition of two gated stages: each panel query's
    * top-3 BM25 terms (its lexical query, weights from the memoized
    * per-(doc, word) kernel) score every 64-token/stride-32 chunk (the
    * doc_chunking grid) as Σ occurrences × term weight, then results
    * diversify: at most 2 chunks per source document (so one
    * boilerplate-heavy doc can't fill the context window), global top-5
    * per query. Both cuts ride the TopKAggregator UDAF — O(k)
    * partial-agg state with map-side combine — because a common query
    * term matches a corpus-sized chunk set and per-query window
    * partitions would hot-spot (the hybrid_rrf argument, twice).
    * Weights are floor-scaled by 1000 so the worst-case chunk score
    * (64 matched tokens × max idf-scaled weight) stays double-exact in
    * the top-k buffers out to ~10⁹-doc corpora; integer arithmetic on
    * both engines makes the oracle replay exact. Encoded tie-break id
    * doc_id·10⁶ + chunk_id orders (doc, chunk) ascending; chunk_id < 10⁶
    * holds for any document under 32M tokens and is ENFORCED with a
    * raise_error branch folded into the encode arithmetic — an
    * over-radix chunk would otherwise silently corrupt the decode. */
  def chunkRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val wQt = Window.partitionBy("doc_id").orderBy(desc("bm25"), asc("word"))
    val qterms = bm25Scored(spark, dir).filter(col("doc_id") < 10)
      .withColumn("rn", row_number().over(wQt))
      .filter(col("rn") <= 3)
      .select(col("doc_id").as("qid"), col("word"), expr("bm25 div 1000").as("w"))
    val scored = chunkWordsFrame(spark, dir).join(broadcast(qterms), "word")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy("qid", "doc_id", "chunk_id")
      .agg(sum("w").as("score"))
    chunkDiversityCut(scored)
  }

  /** The 64-token/stride-32 chunk grid as one (doc_id, chunk_id, word)
    * occurrence row per chunk-word — shared by the batch retrieval row
    * and the persisted postings artifact its streaming twin serves
    * from. */
  private def chunkWordsFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("tk")) - 1, lit(32))).as("s"), col("tk"))
      .select(col("doc_id"), (col("s") / 32).cast("long").as("chunk_id"),
        explode(slice(col("tk"), col("s") + 1, lit(64))).as("word"))

  /** THE word→bucket function of every bucketed lexical artifact
    * (chunkidx and lexidx postings) AND every serving-side probe: it is
    * a JOIN KEY, so build and probe sides forking on the modulus or
    * hash would not merely lose pruning — rows whose buckets disagree
    * would silently vanish from the join. One definition, no copies. */
  private[graft] def wordBucket(w: Column): Column = pmod(xxhash64(w), lit(64))

  /** Persisted chunk-retrieval serving index — the artifact pair the
    * streaming retrieval twin answers from, on the shared-root protocol
    * (atomic build + marker + version/fingerprint path):
    *
    *  - `postings`: the chunk grid aggregated to (word, doc_id,
    *    chunk_id, cnt) posting rows, written `partitionBy(wb)` with
    *    wb = xxhash64(word) mod 64 — a query's ≤3 terms touch ≤3 of 64
    *    buckets, so the per-trigger scan is partition-pruned to the
    *    terms' buckets (the IVF inverted-list discipline applied to the
    *    lexical index; at 100 TB the grid is corpus-sized and a serving
    *    path must never scan it whole).
    *  - `model_df` / `model_sc`: the BM25 vocabulary table and the
    *    (n, tl, maxdl) corpus scalars — maxdl shipped so the serving
    *    scorer makes the SAME Long-vs-DECIMAL overflow decision as the
    *    corpus kernel.
    */
  private[graft] def chunkIndexRoot(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactRoots.built(spark, "chunkidx", dir,
        Seq("postings", "model_df", "model_sc"), chain = "chunk_index") { stage =>
      graft.sources.ArtifactRoots.boundedWrite(chunkWordsFrame(spark, dir)
        .groupBy("word", "doc_id", "chunk_id").agg(count(lit(1)).as("cnt"))
        .withColumn("wb", wordBucket(col("word"))))
        .partitionBy("wb").mode("overwrite").parquet(s"$stage/postings")
      val (_, dfm, dl) = bm25TfStages(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      dfm.coalesce(1).write.mode("overwrite").parquet(s"$stage/model_df")
      dl.agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("tl"),
          coalesce(max("dl"), lit(1L)).as("maxdl"))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/model_sc")
    }

  /** Persisted lexical-retrieval index: the per-(doc, word) integer
    * BM25 kernel — the exact frame bm25_top_terms gates — written as
    * postings bucketed by wb = xxhash64(word) mod 64 (the chunkidx
    * discipline): a query's ≤3 terms touch ≤3 of 64 partitions, so the
    * serving path reads only those buckets of a corpus-sized index.
    * Together with chunkidx's shipped model (which scores the ARRIVING
    * query doc), this is everything the streaming hybrid needs — the
    * lexical half of a RAG serving stack as a durable artifact. */
  private[graft] def lexIndexRoot(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactRoots.built(spark, "lexidx", dir, Seq("postings"),
        chain = "lex_index") { stage =>
      graft.sources.ArtifactRoots.boundedWrite(bm25Scored(spark, dir)
        .withColumn("wb", wordBucket(col("word"))))
        .partitionBy("wb").mode("overwrite").parquet(s"$stage/postings")
    }

  /** The diversity cut shared by chunk_retrieval and its streaming twin:
    * per-doc cap (top-2 chunks) then global top-5 per query, both as
    * TopKAggregator partial-agg folds, with the radix-overflow guard
    * folded into the tie-break encode. Input: (qid, doc_id, chunk_id,
    * score); output: the gated (qid, chunk_rank, doc_id, chunk_id,
    * score) frame. */
  private[graft] def chunkDiversityCut(scored: DataFrame): DataFrame = {
    import graft.functions.{TopKAggregator, TopKItem}
    val enc = org.apache.spark.sql.Encoders.product[TopKItem]
    val top2 = udaf(new TopKAggregator(2), enc)
    val top5 = udaf(new TopKAggregator(5), enc)
    val capped = scored.groupBy("qid", "doc_id")
      .agg(top2(col("score").cast("double"), col("chunk_id")).as("t"))
      .select(col("qid"), col("doc_id"), explode(col("t.items")).as("it"))
      // encoding-overflow guard referenced by the arithmetic itself (so
      // the optimizer can't prune it): a chunk_id past the 10⁶ radix
      // would silently corrupt the decode — fail loudly instead
      .select(col("qid"),
        (col("doc_id") * 1000000L +
          when(col("it.id") < 1000000L, col("it.id"))
            .otherwise(raise_error(lit(
              "chunk_id >= 1e6 (document over 32M tokens): " +
                "widen the chunk_retrieval tie-break radix")).cast("long"))).as("e"),
        col("it.value").as("v"))
    capped.groupBy("qid").agg(top5(col("v"), col("e")).as("t"))
      .select(col("qid"), posexplode(col("t.items")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("chunk_rank"),
        col("col.id").as("e"), col("col.value").as("v"))
      .select(col("qid"), col("chunk_rank"),
        expr("e div 1000000").as("doc_id"), expr("e % 1000000").as("chunk_id"),
        col("v").cast("long").as("score"))
      .orderBy("qid", "chunk_rank")
  }

  /** Corpus bigram language-model scoring — the model is trained on the
    * corpus and applied back to each document (the self-referential shape
    * of a data-quality pipeline). P(w2|w1) is integer-scaled like TF-IDF.
    * Output: per-doc average scaled bigram probability (fluency proxy).
    *
    * Scale shape (was the one superlinear kernel in the r12 scaling
    * table — 6.1× at 9× data, from joining the raw occurrence stream
    * against both count tables): P(w2|w1) is CONSTANT per distinct
    * bigram, so the model is built once at vocabulary size and applied
    * to per-doc DISTINCT bigram counts. The corpus occurrence stream is
    * shuffled exactly once — the (doc_id, bg) groupBy with map-side
    * partial aggregation; c_bg is a re-aggregation of that stage (never
    * touches raw occurrences), c_w1 is derived from c_bg (vocab-sized),
    * and the model join's probe side is per-doc-distinct counts while
    * the build side is the Zipf-small vocabulary table. avg over
    * occurrences = Σ(k·p)/Σk with k the per-doc multiplicity —
    * value-identical to the per-occurrence oracle. */
  def lmBigramScore(spark: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(TextFunctions.wordShinglesFromTokens(col("toks"), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("k"))
    val cBg = occ.groupBy("bg").agg(sum("k").as("c_bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val cW1 = cBg.groupBy("w1").agg(sum("c_bg").as("c_w1"))
    val model = cBg.join(cW1, "w1")
      .select(col("bg"),
        floor(lit(1000000.0) * col("c_bg") / col("c_w1")).cast("long").as("p"))
    occ.join(model, "bg")
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"),
        floor(sum(col("k") * col("p")) / sum("k")).cast("long").as("avg_p_scaled"))
      .orderBy("doc_id")
  }

  /** PII redaction pass: the standard email + digit-run masking chain,
    * applied to the one column in the testdata with digit content
    * (events.props — the document corpus is a clean synthetic vocabulary,
    * so the email pattern is exercised as a no-op by construction; the
    * digit pattern fires on every row). Row-local regexp_replace chain —
    * map-only over a 100 TB corpus — plus a redaction count per row, the
    * audit signal a privacy pipeline logs. Patterns are RE2-compatible so
    * Spark (Java regex) and the DuckDB oracle agree literally. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        regexp_replace(
          regexp_replace(col("props"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\d+", "<NUM>").as("redacted"),
        regexp_count(col("props"), lit("\\d+")).cast("int").as("n_nums"))
      .orderBy("event_id")

  /** Sliding-window document chunking (64-token chunks, stride 32): the
    * step that turns curated documents into overlapping model-context
    * pieces. Chunk starts are a row-local `sequence` explode — output
    * rows ≈ 2·tokens/64 per doc, no shuffle before the final sort. The
    * companion of tokenPack (which packs whole docs into fixed budgets;
    * this splits single docs into overlapping windows). */
  def docChunking(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(toks).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0), col("n_tokens") - 1, lit(32))).as("start_tok"))
      .select(col("doc_id"),
        (col("start_tok") / 32).cast("long").as("chunk_id"),
        col("start_tok"),
        least(lit(64), col("n_tokens") - col("start_tok")).as("chunk_len"))
      .orderBy("doc_id", "chunk_id")

  /** Span-level cross-document dedup: 64-token chunks (stride 32, the
    * docChunking grid) that appear verbatim in MORE THAN ONE document,
    * with occurrence counts and the canonical (smallest) owner — the
    * pass that catches boilerplate/license blocks/shared intros that
    * survive whole-document dedup because the surrounding text differs
    * (Lee et al.'s span dedup, on the chunk grid instead of suffix
    * arrays). Chunk text and its digest are row-local; only the
    * 16-byte digest + doc_id ride the shuffle — the frameDedup shape
    * applied to text. Output is bounded by the duplicated-span count,
    * not the corpus. */
  /** df-parametric core: (doc_id, text) → shared-chunk rows. */
  def chunkDedupOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("tk")) - 1, lit(32))).as("s"),
        col("tk"))
      .select(col("doc_id"),
        md5(array_join(slice(col("tk"), col("s") + 1, lit(64)), " "))
          .as("chunk_fp"))
      .groupBy("chunk_fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("canonical_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk_fp")

  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupOf(Tables.documents(spark, dir))

  /** Misra-Gries heavy hitters with a VERIFIED error bound. Each
    * partition keeps k=16 counters in one pass (classic MG: new key on a
    * full map decrements every counter, zeros evicted); partial summaries
    * merge by summed estimates. The merged sketch undercounts any key by
    * at most N/(k+1) — every decrement round retires k+1 occurrences —
    * independent of partitioning. The query emits the top-50 exact
    * counts plus `within_bound` = (exact − est ≤ N/(k+1)); the oracle
    * emits the exact side + literal true (the approx_distinct pattern),
    * so the row is green iff the one-pass bounded-memory sketch honors
    * its guarantee. The exact side exists only for verification — a
    * production run keeps just the O(k)-memory single pass. */
  /** Merged Misra-Gries summary of a key stream: (key, est) with
    * est ≤ exact and exact − est ≤ N/(k+1) for EVERY key (spec-checked
    * on skewed data across partitionings). O(k) memory per partition,
    * one pass, no shuffle wider than k rows per partition. */
  def misraGries(keys: org.apache.spark.sql.Dataset[String], k: Int): DataFrame = {
    import keys.sparkSession.implicits._
    val partials = keys.mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { w =>
        if (counts.contains(w) || counts.size < k) {
          counts(w) = counts.getOrElse(w, 0L) + 1
        } else {
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counts.keysIterator.foreach { key =>
            val c = counts(key) - 1
            if (c == 0) dead += key else counts(key) = c
          }
          dead.foreach(counts.remove)
        }
      }
      counts.iterator
    }.toDF("w", "est")
    partials.groupBy("w").agg(sum("est").as("est"))
  }

  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 16
    val toksDs = Tables.documents(spark, dir)
      .select(explode(toks).as("w")).as[String]
    val est = misraGries(toksDs, k)
    val exact = toksDs.groupBy("w").agg(count(lit(1)).as("exact"))
    val n = exact.agg(sum("exact").cast("double").as("n"))
    exact.crossJoin(broadcast(n))
      .join(est, Seq("w"), "left")
      .select(col("w"), col("exact"),
        (col("exact") - coalesce(col("est"), lit(0L)) <= col("n") / (k + 1))
          .as("within_bound"))
      .orderBy(desc("exact"), asc("w"))
      .limit(50)
  }

  /** End-to-end curation pipeline in one declarative plan: length gate →
    * exact dedup (fingerprint window, digests only on the exchange) →
    * 64-token/32-stride chunk counting → per-lang corpus summary. The
    * point is compositional: each stage is the library operator, fused by
    * Catalyst into scan → window-on-digest → map-side chunk math → one
    * aggregate; no stage materializes an intermediate corpus. */
  def pipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val byFp = Window.partitionBy("fp")
    val kept = Tables.documents(spark, dir)
      .filter(col("n_chars") >= 100)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("fp"),
        size(toks).as("n_toks"))
      .withColumn("keep_id", min(col("doc_id")).over(byFp))
      .filter(col("doc_id") === col("keep_id"))
    kept
      .select(col("lang"), col("n_toks"),
        when(col("n_toks") > 0, ceil(col("n_toks") / 32.0)).otherwise(lit(0L))
          .cast("long").as("n_chunks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("total_tokens"),
        sum("n_chunks").as("total_chunks"))
      .orderBy("lang")
  }

  /** Cross-document duplicated-5-gram fraction — the Gopher/RefinedWeb
    * repetition signal at CORPUS scope (repetitionRatio is the within-doc
    * twin): for each document, the share of its word-5-gram occurrences
    * whose gram also appears in at least one OTHER document. Shape is the
    * decontamination inverted index — grams shuffle once to count
    * distinct docs (partial+final), then join back against the gram
    * stream. All arithmetic is integer (scaled fraction via `div`), so
    * the cross-engine compare is exact by construction. At 100 TB the
    * gram→doc-count table is the corpus vocabulary of 5-grams — the same
    * cardinality class the MinHash/LSH stages already shuffle. */
  def dupGramFraction(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"),
        explode(TextFunctions.wordShinglesFromTokens(col("tk"), 5)).as("g"))
    val nd = grams.groupBy("g").agg(count_distinct(col("doc_id")).as("ndocs"))
    grams.join(nd, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("dup_grams"))
      .withColumn("dup_frac_scaled", expr("(1000000 * dup_grams) div n_grams"))
      .orderBy("doc_id")
  }

  /** Per-document novel-gram fraction — the MARGINAL-CONTRIBUTION signal
    * of corpus curation (what dup_gram_fraction is to redundancy, this is
    * to novelty): for each document, the share of its DISTINCT word
    * 5-grams whose corpus-wide first occurrence (min doc_id, the ingest
    * order) is this document. A doc scoring near 0 adds nothing the
    * corpus hasn't already seen and is a drop candidate even when no
    * single pair-wise duplicate exists — the long-tail boilerplate case
    * LSH never pairs up.
    *
    * Shape: the same gram inverted index the decontamination/dup-gram
    * stages shuffle (gram cardinality = corpus 5-gram vocabulary), but
    * aggregated with MIN instead of a distinct-count — partial min
    * combines map-side, and the join back is gram-keyed like
    * dup_gram_fraction. Per-doc grams are deduped row-locally
    * (array_distinct before explode) so the exchange carries each
    * (doc, gram) once. All arithmetic integer (`div`-scaled ppm) —
    * cross-engine exact by construction. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), explode(array_distinct(
        TextFunctions.wordShinglesFromTokens(col("tk"), 5))).as("g"))
    val first = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    grams.join(first, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("novel_grams"))
      .withColumn("novel_frac_scaled", expr("(1000000 * novel_grams) div n_grams"))
      .orderBy("doc_id")
  }

  /** Per-document character-level Shannon entropy (nats) — the
    * low-entropy screen that catches boilerplate/garbage text a length
    * gate misses.
    *
    * Scale shape: entropy is a PER-DOCUMENT quantity, so no char ever
    * crosses the wire — the per-char counts are run lengths of the
    * row-locally sorted char array (boundary positions via one `filter`
    * over indices, run lengths as boundary deltas), and the whole
    * operator is map-only until the final output sort. The obvious
    * explode → groupBy(doc_id, char) formulation shuffles one row per
    * CHARACTER — corpus bytes × 1 exchange rows at 100 TB, for a value
    * each row can compute alone.
    *
    * Determinism across engines is BIT-EXACT, not tolerance-based:
    * H = ln(n) − (Σ cnt·ln(cnt))/n is evaluated as a left fold over the
    * counts in ascending char order on BOTH engines (run lengths of a
    * sorted array are char-ordered by construction; DuckDB folds a
    * `list(... ORDER BY c)`), and Java's Math.log matches libm/DuckDB
    * `ln` bit-for-bit on every integer count (verified 1..5000) —
    * identical operand order + identical primitive ops ⇒ identical
    * doubles. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        array_sort(filter(split(col("text"), ""), c => length(c) > 0)).as("cs"))
      .select(col("doc_id"), col("cs"), size(col("cs")).as("n"),
        filter(sequence(lit(1), size(col("cs"))),
          i => (i === 1) || element_at(col("cs"), i) =!=
            element_at(col("cs"), i - 1)).as("starts"))
      .select(col("doc_id"), col("n"), col("starts"),
        concat(col("starts"), array(col("n") + 1)).as("bounds"))
      .select(col("doc_id"),
        col("n").cast("long").as("n_chars_counted"),
        size(col("starts")).as("n_distinct"),
        transform(sequence(lit(1), size(col("starts"))),
          j => (element_at(col("bounds"), j + 1) -
            element_at(col("bounds"), j)).cast("double")).as("runs"))
      .select(col("doc_id"), col("n_chars_counted"), col("n_distinct"),
        round(log(col("n_chars_counted").cast("double")) -
          aggregate(col("runs"), lit(0.0), (acc, r) => acc + r * log(r)) /
            col("n_chars_counted"), 6).as("ent_nats"))
      .orderBy("doc_id")

  /** Collocation mining — the word2phrase pass that promotes frequent
    * bigrams ("new york") to single tokens before embedding training:
    * score = (c_xy − δ)·N / (c_x·c_y) with discount δ=5, kept as a
    * SCALED INTEGER (ppm, floor division) so no float log/division sits
    * on the rank or filter boundary cross-engine. Unigram and bigram
    * counts are map-side-combinable aggregates; the score join keys on
    * words (vocab-sized, not corpus-sized) and the one-row token total
    * is broadcast. Top-50 by (score, w1, w2) is a TakeOrdered — no
    * global sort of the vocab. */
  def phraseDetect(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir).select(toks.as("tk"))
    val uni = t.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = t.filter(size(col("tk")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("tk")) - 1),
        i => struct(element_at(col("tk"), i).as("w1"),
          element_at(col("tk"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
    val total = uni.agg(sum(col("c")).as("n_tokens"))
    bi.filter(col("c_xy") > 5)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_xy"),
        expr("(1000000L * (c_xy - 5) * n_tokens) div (c1 * c2)")
          .as("score_ppm"))
      .orderBy(desc("score_ppm"), col("w1"), col("w2"))
      .limit(50)
  }

  /** Corpus character-5-gram frequency through the custom `char_ngrams`
    * Catalyst Generator (graft.plans.CharNGrams) — the UDTF leg of the
    * extensibility surface, driven end-to-end: documents LATERAL-VIEW a
    * native Generate node (zero-copy byte-range grams, no UDF
    * serialization), then one partial+final count and a top-100
    * TakeOrderedAndProject. Deterministic tie-break on the gram itself. */
  def ngramUdtf(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("graft_docs_udtf")
    spark.sql(
      """SELECT gram, count(*) AS cnt
        |FROM graft_docs_udtf LATERAL VIEW char_ngrams(text, 5) t AS gram
        |GROUP BY gram ORDER BY cnt DESC, gram LIMIT 100""".stripMargin)
  }

  /** Vocabulary coverage: share of each language's token occurrences
    * covered by the corpus-global top-200 vocabulary — the tokenizer-fit
    * audit run before committing a vocab (a language whose coverage
    * craters will fragment into bytes at training time). One corpus
    * explode feeds a (lang, word) count table, registered as a stage so
    * it is stored once per (session, dataset) and released with the
    * registry; everything
    * downstream — the global top-200 (count desc, word asc: a total
    * order, so the cut is engine-independent), per-lang totals, and the
    * covered subset — re-aggregates that vocab-sized table instead of
    * re-scanning the corpus. The vocab is a TakeOrdered (no global sort)
    * broadcast into a semi-join; coverage is exact integer ppm so no
    * float ratio sits on the hash boundary. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val byLangW = graft.sources.Stages(spark, "text/lang_words", dir) {
      Tables.documents(spark, dir)
        .select(col("lang"), explode(toks).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
    }
    val vocab = byLangW.groupBy("w").agg(sum(col("c")).as("cw"))
      .orderBy(desc("cw"), col("w")).limit(200).select("w")
    val totals = byLangW.groupBy("lang").agg(sum(col("c")).as("total_tokens"))
    val covered = byLangW.join(broadcast(vocab), Seq("w"), "left_semi")
      .groupBy("lang").agg(sum(col("c")).as("covered_tokens"))
    totals.join(covered, "lang")
      .select(col("lang"), col("total_tokens"), col("covered_tokens"),
        expr("1000000L * covered_tokens div total_tokens").as("coverage_ppm"))
      .orderBy("lang")
  }

  /** Training-shard assignment audit: the deterministic keyed-hash
    * doc→shard map (splitAssign's salted-md5 idiom, 64 shards) with
    * per-shard document count, byte mass, and id range — the balance
    * report checked before a shuffle-write of training shards. The
    * assignment is row-local and rerun/append-stable (a keyed hash, not
    * rand() or row_number), the report is one 64-row bounded aggregate,
    * and the same expression IS the `repartition(64, shard)` key a
    * shard writer would use — the audit and the writer can never
    * disagree. */
  def shardAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        (conv(substring(md5(concat(lit("graft-shard:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 64).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_sum"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("shard")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ngram_udtf" -> ngramUdtf,
    "vocab_coverage" -> vocabCoverage,
    "shard_assign" -> shardAssign,
    "pipeline_e2e" -> pipelineE2e,
    "chunk_dedup" -> chunkDedup,
    "phrase_detect" -> phraseDetect,
    "dup_gram_fraction" -> dupGramFraction,
    "ngram_novelty" -> ngramNovelty,
    "bm25_top_terms" -> bm25TopTerms,
    "char_entropy" -> charEntropy,
    "heavy_hitters" -> heavyHitters,
    "doc_chunking" -> docChunking,
    "pii_redact" -> piiRedact,
    "tfidf_top_terms" -> tfidfTopTerms,
    "lm_bigram_score" -> lmBigramScore,
    "lang_id" -> langId,
    "lang_confusion" -> langConfusion,
    "quality_score" -> qualityScore,
    "quality_gate" -> qualityGate,
    "gate_spec_refresh" -> gateSpecRefresh,
    "bm25_model_refresh" -> bm25ModelRefresh,
    "chunk_retrieval" -> chunkRetrieval,
    "curriculum_order" -> curriculumOrder,
    "token_budget_select" -> tokenBudgetSelect,
    "bpe_pair_counts" -> bpePairCounts,
    "bpe_learn_merges" -> bpeLearnMerges,
    "bpe_encode" -> bpeEncode,
    "split_assign" -> splitAssign,
    "token_count" -> tokenCount,
    "token_pack" -> tokenPack,
    "repetition_ratio" -> repetitionRatio,
    "stratified_sample" -> stratifiedSample,
    "mixture_weights" -> mixtureWeights,
    "mixture_resample" -> mixtureResample,
    "doc_fingerprint" -> docFingerprint,
  )

  // ---- oracle SQL ----

  private val toksSql =
    "list_filter(string_split_regex(regexp_replace(text, '[^\\w\\s]+', '', 'g'), '\\s+'), t -> len(t) > 0)"

  private def markersSql(lang: String): String = {
    val lst = stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(toks, t -> list_contains($lst, t)))"
  }

  /** BM25 CTE chain ending in `bscored(doc_id, word, bm25)` — the exact
    * per-(doc, word) integer score bm25_top_terms gates, exported (with
    * collision-proof b-prefixed CTE names) so cross-module retrieval
    * oracles (Similarity's hybrid_rrf) replay the identical lexical
    * model inside a larger WITH chain. */
  private[operators] def bm25ScoredCteSql: String =
    s"btoks AS (SELECT doc_id, $toksSql AS tk FROM documents), " +
      "bpairs AS (SELECT doc_id, unnest(tk) AS word FROM btoks), " +
      "btf AS (SELECT doc_id, word, count(*) AS tf FROM bpairs GROUP BY 1, 2), " +
      "bdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM btf GROUP BY 1), " +
      "bdft AS (SELECT word, count(*) AS df FROM btf GROUP BY 1), " +
      "btot AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(dl) AS HUGEINT) AS tl FROM bdl), " +
      "bscored AS (SELECT t.doc_id, t.word, " +
      "CAST(((1000000 * (2*n - 2*df + 1)) // (2*df + 1)) * " +
      "((1000000 * 22 * tf * tl) // (10*tf*tl + 3*tl + 9*d.dl*n)) // 1000000 AS BIGINT) AS bm25 " +
      "FROM btf t JOIN bdft USING (word) JOIN bdl d USING (doc_id) CROSS JOIN btot)"

  /** Quality-score CTE chain ending in `q(doc_id, quality)` — the exact
    * expression the quality_score oracle uses, exported so cross-module
    * oracles (Dedup.dedupKeepBest) score documents identically. */
  private[operators] def qualityCteSql: String =
    s"qt AS (SELECT doc_id, text, $toksSql AS toks FROM documents), " +
      s"qd AS (SELECT doc_id, text, toks, len(toks) AS n_tokens, " +
      s"${markersSql("en")} AS stop_hits, " +
      "len(text) - len(regexp_replace(text, '[^\\w\\s]+', '', 'g')) AS punct FROM qt), " +
      "q AS (SELECT doc_id, " +
      "round(CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens ELSE 0.0 END * 0.4 + " +
      "least(CAST(n_tokens AS DOUBLE) / 500.0, 1.0) * 0.5 + " +
      "(1.0 - CASE WHEN len(text) > 0 THEN CAST(punct AS DOUBLE) / len(text) ELSE 0.0 END) * 0.1, 6) AS quality " +
      "FROM qd)"

  /** Five chained BPE rounds as CTEs; the `list_reduce` fold mirrors the
    * Spark-side `aggregate` fold exactly (same init — the fold starts
    * from the first singleton — same greedy merge-or-append lambda). */
  /** The shared 5-round CTE chain (carries the word string so the encode
    * oracle can join token counts back to documents). */
  private def bpeChainSql: String = {
    val stages = new StringBuilder(
      s"bw AS (SELECT w, CAST(count(*) AS BIGINT) AS freq " +
        s"FROM (SELECT unnest($toksSql) AS w FROM documents) GROUP BY w), " +
        "s1 AS (SELECT w, string_split(w, '') AS syms, freq FROM bw)")
    for (i <- 1 to 5) {
      stages ++= s", p$i AS (SELECT syms[CAST(j AS INT)] AS a, " +
        s"syms[CAST(j AS INT)+1] AS b, freq FROM s$i, " +
        "UNNEST(range(1, len(syms))) AS t(j) WHERE len(syms) >= 2), " +
        s"win$i AS (SELECT $i AS step, a, b, cnt FROM " +
        s"(SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p$i " +
        "GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1)), " +
        s"s${i + 1} AS (SELECT w, list_reduce(list_transform(syms, s -> [s]), " +
        s"(acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = win$i.a AND x[1] = win$i.b " +
        s"THEN list_append(acc[1:len(acc)-1], win$i.a || win$i.b) " +
        s"ELSE list_concat(acc, x) END) AS syms, freq FROM s$i CROSS JOIN win$i)"
    }
    stages.result()
  }

  private def bpeLearnSql: String =
    s"WITH $bpeChainSql " +
      "SELECT step, a AS left_sym, b AS right_sym, cnt AS pair_count FROM (" +
      (1 to 5).map(i => s"SELECT * FROM win$i").mkString(" UNION ALL ") +
      ") ORDER BY step"

  private def bpeEncodeSql: String =
    s"WITH $bpeChainSql, " +
      "enc AS (SELECT w, len(syms) AS n_bpe FROM s6), " +
      s"dw AS (SELECT doc_id, unnest($toksSql) AS w FROM documents) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(len(w)) AS BIGINT) AS n_char_syms, " +
      "CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens, " +
      "1000000 * CAST(sum(n_bpe) AS BIGINT) // CAST(sum(len(w)) AS BIGINT) AS compression_ppm " +
      "FROM dw JOIN enc USING (w) GROUP BY doc_id ORDER BY doc_id"

  val oracle: Map[String, String] = Map(
    "bpe_learn_merges" -> bpeLearnSql,
    "bpe_encode" -> bpeEncodeSql,
    "curriculum_order" ->
      (s"WITH $qualityCteSql " +
        "SELECT doc_id, CAST(9 - greatest(0, least(9, CAST(floor(quality * 10) AS INT))) AS INT) AS phase, " +
        "CAST('0x' || substr(md5('graft-curriculum:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS order_key " +
        "FROM q ORDER BY phase, order_key, doc_id"),
    "token_budget_select" ->
      (s"WITH $qualityCteSql, " +
        "o AS (SELECT qd.doc_id, CAST(qd.n_tokens AS BIGINT) AS n_tokens, " +
        "9 - greatest(0, least(9, CAST(floor(q.quality * 10) AS INT))) AS phase, " +
        "CAST('0x' || substr(md5('graft-curriculum:' || CAST(qd.doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS order_key " +
        "FROM qd JOIN q USING (doc_id)), " +
        "tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 3 AS budget FROM o), " +
        "c AS (SELECT doc_id, phase, order_key, n_tokens, " +
        "CAST(sum(n_tokens) OVER (ORDER BY phase, order_key, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM o) " +
        "SELECT doc_id, phase, order_key, n_tokens, cum_tokens, " +
        "CAST(cum_tokens <= budget AS INT) AS selected " +
        "FROM c CROSS JOIN tot ORDER BY phase, order_key, doc_id"),
    "bpe_pair_counts" ->
      (s"WITH toksrc AS (SELECT $toksSql AS tk FROM documents), " +
        "words AS (SELECT unnest(tk) AS w FROM toksrc), " +
        "pairs AS (SELECT substr(w, CAST(i AS INT), 2) AS pair " +
        "FROM words, UNNEST(range(1, len(w))) AS t(i) WHERE len(w) >= 2) " +
        "SELECT pair, count(*) AS n_pairs FROM pairs " +
        "GROUP BY pair ORDER BY n_pairs DESC, pair LIMIT 20"),
    "vocab_coverage" ->
      (s"WITH t AS (SELECT lang, unnest($toksSql) AS w FROM documents), " +
        "blw AS (SELECT lang, w, count(*) AS c FROM t GROUP BY 1, 2), " +
        "vocab AS (SELECT w FROM (SELECT w, sum(c) AS cw FROM blw GROUP BY w ORDER BY cw DESC, w LIMIT 200)), " +
        "tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS total_tokens FROM blw GROUP BY lang), " +
        "cov AS (SELECT lang, CAST(sum(c) AS BIGINT) AS covered_tokens FROM blw " +
        "WHERE w IN (SELECT w FROM vocab) GROUP BY lang) " +
        "SELECT tot.lang AS lang, total_tokens, covered_tokens, " +
        "CAST(1000000 * covered_tokens // total_tokens AS BIGINT) AS coverage_ppm " +
        "FROM tot JOIN cov ON tot.lang = cov.lang ORDER BY tot.lang"),
    "shard_assign" ->
      ("SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS n_chars_sum, " +
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc " +
        "FROM (SELECT doc_id, n_chars, " +
        "CAST('0x' || substr(md5('graft-shard:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 64 AS shard " +
        "FROM documents) GROUP BY shard ORDER BY shard"),
    "ngram_udtf" ->
      ("""SELECT gram, CAST(count(*) AS BIGINT) AS cnt
         |FROM (SELECT unnest(list_transform(generate_series(1, greatest(len(text) - 4, 0)),
         |  i -> substr(text, i, 5))) AS gram FROM documents)
         |GROUP BY gram ORDER BY cnt DESC, gram LIMIT 100""".stripMargin),
    "chunk_dedup" ->
      (s"WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents), " +
        "ch AS (SELECT doc_id, md5(array_to_string(tk[CAST(s + 1 AS INT):CAST(s + 64 AS INT)], ' ')) AS chunk_fp " +
        "FROM t, UNNEST(CASE WHEN len(tk) > 0 THEN range(0, len(tk), 32) ELSE [] END) AS u(s)) " +
        "SELECT chunk_fp, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences, " +
        "min(doc_id) AS canonical_doc FROM ch GROUP BY chunk_fp " +
        "HAVING count(DISTINCT doc_id) >= 2 ORDER BY chunk_fp"),
    "phrase_detect" ->
      (s"WITH t AS (SELECT $toksSql AS tk FROM documents), " +
        "uni AS (SELECT w, count(*) AS c FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni), " +
        "bi AS (SELECT tk[CAST(i AS INT)] AS w1, tk[CAST(i + 1 AS INT)] AS w2, count(*) AS c_xy " +
        "FROM t, UNNEST(CASE WHEN len(tk) >= 2 THEN range(1, len(tk)) ELSE [] END) AS u(i) GROUP BY 1, 2) " +
        "SELECT w1, w2, c_xy, " +
        "CAST((1000000 * (c_xy - 5) * n_tokens) // (c1 * c2) AS BIGINT) AS score_ppm FROM " +
        "(SELECT bi.w1, bi.w2, bi.c_xy, u1.c AS c1, u2.c AS c2 FROM bi " +
        "JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w WHERE bi.c_xy > 5) " +
        "CROSS JOIN tot ORDER BY score_ppm DESC, w1, w2 LIMIT 50"),
    "dup_gram_fraction" ->
      (s"WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents), " +
        "grams AS (SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS g " +
        "FROM toks, UNNEST(CASE WHEN len(tk) >= 5 THEN range(1, len(tk) - 3) ELSE [] END) AS t(i)), " +
        "nd AS (SELECT g, count(DISTINCT doc_id) AS ndocs FROM grams GROUP BY g) " +
        "SELECT doc_id, count(*) AS n_grams, " +
        "CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams, " +
        "(1000000 * CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS dup_frac_scaled " +
        "FROM grams JOIN nd USING (g) GROUP BY doc_id ORDER BY doc_id"),
    "bm25_top_terms" ->
      (s"WITH $bm25ScoredCteSql " +
        "SELECT doc_id, CAST(rn AS INT) AS rn, word, bm25 FROM " +
        "(SELECT doc_id, word, bm25, row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, word) AS rn FROM bscored) " +
        "WHERE rn <= 3 ORDER BY doc_id, rn"),
    "ngram_novelty" ->
      (s"WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents), " +
        "grams AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS g " +
        "FROM toks, UNNEST(CASE WHEN len(tk) >= 5 THEN range(1, len(tk) - 3) ELSE [] END) AS t(i)), " +
        "fo AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g) " +
        "SELECT doc_id, count(*) AS n_grams, " +
        "CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams, " +
        "(1000000 * CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS novel_frac_scaled " +
        "FROM grams JOIN fo USING (g) GROUP BY doc_id ORDER BY doc_id"),
    "char_entropy" ->
      ("WITH cnts AS (SELECT doc_id, c, count(*) AS cnt FROM " +
        "(SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents) u " +
        "WHERE length(c) > 0 GROUP BY doc_id, c), " +
        "folded AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars_counted, " +
        "CAST(count(*) AS INT) AS n_distinct, list(CAST(cnt AS DOUBLE) ORDER BY c) AS cl " +
        "FROM cnts GROUP BY doc_id) " +
        "SELECT doc_id, n_chars_counted, n_distinct, " +
        "round(ln(CAST(n_chars_counted AS DOUBLE)) - " +
        "list_reduce(list_transform(cl, x -> x * ln(x)), (a, b) -> a + b) / n_chars_counted, 6) AS ent_nats " +
        "FROM folded ORDER BY doc_id"),
    "pipeline_e2e" ->
      (s"WITH t AS (SELECT doc_id, lang, md5(text) AS fp, len($toksSql) AS n_toks " +
        "FROM documents WHERE n_chars >= 100), " +
        "k AS (SELECT * FROM (SELECT doc_id, lang, n_toks, " +
        "min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM t) WHERE doc_id = keep_id) " +
        "SELECT lang, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS total_tokens, " +
        "CAST(sum(CASE WHEN n_toks > 0 THEN CAST(ceil(n_toks / 32.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS total_chunks " +
        "FROM k GROUP BY lang ORDER BY lang"),
    "heavy_hitters" ->
      (s"SELECT w, exact, true AS within_bound FROM " +
        "(SELECT w, count(*) AS exact FROM " +
        s"(SELECT unnest(toks) AS w FROM (SELECT $toksSql AS toks FROM documents)) " +
        "GROUP BY w) ORDER BY exact DESC, w LIMIT 50"),
    // full-retrain oracle: green iff merge(base, delta) == retrain(full)
    "bm25_model_refresh" ->
      (s"WITH mpairs AS (SELECT doc_id, unnest($toksSql) AS word FROM documents), " +
        "mtf AS (SELECT doc_id, word, count(*) AS tf FROM mpairs GROUP BY 1, 2), " +
        "mdf AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM mtf GROUP BY 1), " +
        "mdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM mtf GROUP BY 1), " +
        "msc AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(coalesce(sum(dl), 0) AS BIGINT) AS total_tokens FROM mdl) " +
        "SELECT word, df, n_docs, total_tokens FROM mdf CROSS JOIN msc ORDER BY word"),
    // replay: query terms + weights from the shared bscored CTE, chunk
    // grid from btoks, the same two-level (per-doc cap 2, global top-5)
    // rank with identical integer weights and tie order
    "chunk_retrieval" ->
      (s"WITH $bm25ScoredCteSql, " +
        "qt3 AS (SELECT qid, word, w FROM (SELECT doc_id AS qid, word, bm25 // 1000 AS w, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, word) AS rn " +
        "FROM bscored WHERE doc_id < 10) WHERE rn <= 3), " +
        "cw AS (SELECT doc_id, CAST(s // 32 AS BIGINT) AS chunk_id, unnest(tk[s+1 : s+64]) AS word " +
        "FROM (SELECT doc_id, tk, unnest(generate_series(0, len(tk) - 1, 32)) AS s " +
        "FROM btoks WHERE len(tk) > 0)), " +
        "sc2 AS (SELECT qid, cw.doc_id, chunk_id, CAST(sum(w) AS BIGINT) AS score " +
        "FROM cw JOIN qt3 USING (word) WHERE cw.doc_id <> qt3.qid GROUP BY 1, 2, 3), " +
        "cap AS (SELECT qid, doc_id, chunk_id, score FROM (SELECT sc2.*, " +
        "row_number() OVER (PARTITION BY qid, doc_id ORDER BY score DESC, chunk_id) AS rn FROM sc2) WHERE rn <= 2) " +
        "SELECT qid, CAST(rk AS INT) AS chunk_rank, doc_id, chunk_id, score FROM " +
        "(SELECT cap.*, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id, chunk_id) AS rk FROM cap) " +
        "WHERE rk <= 5 ORDER BY qid, chunk_rank"),
    "doc_chunking" ->
      (s"SELECT doc_id, CAST(start_tok // 32 AS BIGINT) AS chunk_id, " +
        "CAST(start_tok AS INT) AS start_tok, " +
        "CAST(least(64, n_tokens - start_tok) AS INT) AS chunk_len FROM " +
        s"(SELECT doc_id, len(toks) AS n_tokens, unnest(generate_series(0, len(toks) - 1, 32)) AS start_tok " +
        s"FROM (SELECT doc_id, $toksSql AS toks FROM documents) WHERE len(toks) > 0) " +
        "ORDER BY doc_id, chunk_id"),
    "pii_redact" ->
      ("SELECT event_id, regexp_replace(regexp_replace(props, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\d+', '<NUM>', 'g') AS redacted, " +
        "CAST(len(regexp_extract_all(props, '\\d+')) AS INT) AS n_nums " +
        "FROM events ORDER BY event_id"),
    "tfidf_top_terms" ->
      (s"WITH pairs AS (SELECT doc_id, unnest(toks) AS word FROM (SELECT doc_id, $toksSql AS toks FROM documents)), " +
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM pairs GROUP BY doc_id, word), " +
        "df AS (SELECT word, count(DISTINCT doc_id) AS df FROM pairs GROUP BY word), " +
        "n AS (SELECT count(DISTINCT doc_id) AS n FROM pairs), " +
        "scored AS (SELECT doc_id, tf.word, tf * CAST(floor(1000000.0 * n.n / df.df) AS BIGINT) AS tfidf " +
        "FROM tf JOIN df ON tf.word = df.word CROSS JOIN n), " +
        "ranked AS (SELECT doc_id, word, tfidf, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn FROM scored) " +
        "SELECT doc_id, CAST(rn AS INT) AS rn, word, tfidf FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn"),
    "lm_bigram_score" ->
      (s"WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1), " +
        "i -> concat_ws(' ', toks[i], toks[i+1]))) AS bg FROM t WHERE len(toks) >= 2), " +
        "bgw AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bg), " +
        "c_bg AS (SELECT bg, count(*) AS c_bg FROM bgw GROUP BY bg), " +
        "c_w1 AS (SELECT w1, count(*) AS c_w1 FROM bgw GROUP BY w1), " +
        "scored AS (SELECT doc_id, CAST(floor(1000000.0 * c_bg.c_bg / c_w1.c_w1) AS BIGINT) AS p " +
        "FROM bgw JOIN c_bg ON bgw.bg = c_bg.bg JOIN c_w1 ON bgw.w1 = c_w1.w1) " +
        "SELECT doc_id, count(*) AS n_bigrams, CAST(floor(sum(p) / count(*)) AS BIGINT) AS avg_p_scaled " +
        "FROM scored GROUP BY doc_id ORDER BY doc_id"),
    "lang_confusion" ->
      (s"WITH t AS (SELECT doc_id, lang AS labeled_lang, $toksSql AS toks FROM documents), " +
        s"s AS (SELECT doc_id, labeled_lang, ${markersSql("en")} AS s_en, ${markersSql("es")} AS s_es, " +
        s"${markersSql("de")} AS s_de, ${markersSql("fr")} AS s_fr FROM t), " +
        "pred AS (SELECT labeled_lang, CASE " +
        "WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und' " +
        "WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en' " +
        "WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es' " +
        "WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de' " +
        "ELSE 'fr' END AS pred_lang FROM s) " +
        "SELECT labeled_lang, pred_lang, count(*) AS n, " +
        "CAST(labeled_lang = pred_lang AS INT) AS is_correct FROM pred " +
        "GROUP BY 1, 2 ORDER BY labeled_lang, pred_lang"),
    "lang_id" ->
      (s"WITH t AS (SELECT doc_id, lang AS labeled_lang, $toksSql AS toks FROM documents), " +
        s"s AS (SELECT doc_id, labeled_lang, ${markersSql("en")} AS s_en, ${markersSql("es")} AS s_es, " +
        s"${markersSql("de")} AS s_de, ${markersSql("fr")} AS s_fr FROM t) " +
        "SELECT doc_id, labeled_lang, CASE " +
        "WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und' " +
        "WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en' " +
        "WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es' " +
        "WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de' " +
        "ELSE 'fr' END AS pred_lang FROM s ORDER BY doc_id"),
    "quality_score" ->
      (s"WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents), " +
        "d AS (SELECT doc_id, text, toks, len(toks) AS n_tokens, " +
        s"${markersSql("en")} AS stop_hits, " +
        "len(text) - len(regexp_replace(text, '[^\\w\\s]+', '', 'g')) AS punct FROM t) " +
        "SELECT doc_id, n_tokens, " +
        "round(CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS stopword_ratio, " +
        "round(CASE WHEN len(text) > 0 THEN CAST(punct AS DOUBLE) / len(text) ELSE 0.0 END, 6) AS punct_ratio, " +
        "round(CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens ELSE 0.0 END * 0.4 + " +
        "least(CAST(n_tokens AS DOUBLE) / 500.0, 1.0) * 0.5 + " +
        "(1.0 - CASE WHEN len(text) > 0 THEN CAST(punct AS DOUBLE) / len(text) ELSE 0.0 END) * 0.1, 6) AS quality " +
        "FROM d ORDER BY doc_id"),
    "quality_gate" ->
      (s"WITH t AS (SELECT doc_id, lang, text, $toksSql AS toks FROM documents), " +
        "d AS (SELECT doc_id, lang, text, toks, len(toks) AS n_tokens, " +
        s"${markersSql("en")} AS stop_hits, " +
        "len(text) - len(regexp_replace(text, '[^\\w\\s]+', '', 'g')) AS punct FROM t), " +
        "q AS (SELECT doc_id, lang, " +
        "round(CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens ELSE 0.0 END * 0.4 + " +
        "least(CAST(n_tokens AS DOUBLE) / 500.0, 1.0) * 0.5 + " +
        "(1.0 - CASE WHEN len(text) > 0 THEN CAST(punct AS DOUBLE) / len(text) ELSE 0.0 END) * 0.1, 6) AS quality " +
        "FROM d), " +
        "r AS (SELECT doc_id, lang, quality, " +
        "row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY lang) AS cnt FROM q) " +
        "SELECT doc_id, lang, quality FROM r WHERE rn * 2 <= cnt ORDER BY doc_id"),
    // the refresh oracle retrains from scratch on the FULL corpus: the
    // Spark side's histogram merge (base ⊎ delta) must land on the same
    // per-lang (threshold, tie-admission) spec — merge-refresh == retrain
    "gate_spec_refresh" ->
      (s"WITH t AS (SELECT doc_id, lang, text, $toksSql AS toks FROM documents), " +
        "d AS (SELECT doc_id, lang, text, toks, len(toks) AS n_tokens, " +
        s"${markersSql("en")} AS stop_hits, " +
        "len(text) - len(regexp_replace(text, '[^\\w\\s]+', '', 'g')) AS punct FROM t), " +
        "q AS (SELECT doc_id, lang, " +
        "round(CASE WHEN n_tokens > 0 THEN CAST(stop_hits AS DOUBLE) / n_tokens ELSE 0.0 END * 0.4 + " +
        "least(CAST(n_tokens AS DOUBLE) / 500.0, 1.0) * 0.5 + " +
        "(1.0 - CASE WHEN len(text) > 0 THEN CAST(punct AS DOUBLE) / len(text) ELSE 0.0 END) * 0.1, 6) AS quality " +
        "FROM d), " +
        "r AS (SELECT lang, quality, " +
        "row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY lang) AS cnt FROM q), " +
        "kth AS (SELECT lang, quality AS qt, cnt // 2 AS k FROM r WHERE rn = cnt // 2), " +
        "above AS (SELECT r.lang, count(*) AS na FROM r JOIN kth USING (lang) " +
        "WHERE r.quality > kth.qt GROUP BY r.lang) " +
        "SELECT kth.lang, qt, CAST(k - coalesce(na, 0) AS BIGINT) AS adm " +
        "FROM kth LEFT JOIN above USING (lang) ORDER BY lang"),
    "mixture_resample" ->
      ("WITH c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang), " +
        "m AS (SELECT min(n_l) AS n_min FROM c) " +
        "SELECT doc_id, d.lang, " +
        "CAST('0x' || substr(md5('graft-mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) * n_l < n_min * 4294967296 AS kept " +
        "FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN m ORDER BY doc_id"),
    "split_assign" ->
      ("SELECT doc_id, bucket, CASE WHEN bucket < 96 THEN 'train' " +
        "WHEN bucket < 98 THEN 'val' ELSE 'test' END AS split FROM " +
        "(SELECT doc_id, CAST('0x' || substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket " +
        "FROM documents) ORDER BY doc_id"),
    "token_count" ->
      (s"SELECT doc_id, len(toks) AS n_tokens, " +
        "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, t -> CAST((len(t) + 3) // 4 AS BIGINT))), (a, x) -> a + x) AS BIGINT) AS n_subwords, " +
        s"len(text) AS n_chars FROM (SELECT doc_id, text, $toksSql AS toks FROM documents) ORDER BY doc_id"),
    "repetition_ratio" ->
      (s"WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN " +
        "list_transform(generate_series(1, len(toks) - 2), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) " +
        "ELSE [] END AS g3 FROM t), " +
        "c AS (SELECT doc_id, CAST(len(g3) AS BIGINT) AS n_grams, " +
        "CAST(len(list_distinct(g3)) AS BIGINT) AS n_distinct FROM g) " +
        "SELECT doc_id, n_grams, round(CASE WHEN n_grams > 0 THEN " +
        "1.0 - CAST(n_distinct AS DOUBLE) / n_grams ELSE 0.0 END, 6) AS rep_ratio " +
        "FROM c ORDER BY doc_id"),
    "stratified_sample" ->
      ("SELECT doc_id, lang FROM " +
        "(SELECT doc_id, lang, CAST('0x' || substr(md5('graft-sample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000 AS bucket " +
        "FROM documents) " +
        "WHERE bucket < CASE WHEN lang = 'en' THEN 100 ELSE 500 END ORDER BY doc_id"),
    "mixture_weights" ->
      (s"WITH per AS (SELECT source, count(*) AS n_docs, CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY source), " +
        "m AS (SELECT max(n_tokens) AS max_tokens FROM per) " +
        "SELECT source, n_docs, n_tokens, round(CAST(max_tokens AS DOUBLE) / n_tokens, 6) AS weight " +
        "FROM per CROSS JOIN m ORDER BY source"),
    "token_pack" ->
      (s"WITH t AS (SELECT doc_id, lang, source, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, lang, source, n_tokens, " +
        "CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang, source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum FROM t) " +
        "SELECT doc_id, lang, source, n_tokens, cum // 2048 AS start_chunk, " +
        "cum % 2048 AS start_offset FROM c ORDER BY doc_id"),
    "doc_fingerprint" -> {
      val pows = (0 until 8).map(j => math.pow(31, 7 - j).toLong)
      val poly = (0 until 8).map(j =>
        s"CAST(ascii(substr(text, CAST(i+$j AS INT), 1)) AS BIGINT) * ${pows(j)}").mkString(" + ")
      "SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp_norm, " +
        s"coalesce(list_min(list_transform(generate_series(1, len(text) - 7), i -> $poly)), -1) AS fp_mingram " +
        "FROM documents ORDER BY doc_id"
    },
  )
}
