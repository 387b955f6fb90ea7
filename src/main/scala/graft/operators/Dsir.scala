package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.Tables

/** DSIR-style data selection via hashed-n-gram importance resampling
  * (Xie et al., "Data Selection for Language Models via Importance
  * Resampling", NeurIPS 2023) — a north-star training-data-pipeline
  * extension (SURVEY.md §2.3; absent from the reference, whose only
  * dataflow is word count, /root/reference/src/mr/function.rs:9-16).
  *
  * The published recipe: featurize every document as a bag of hashed
  * unigrams+bigrams, fit bucket unigram models for a TARGET distribution
  * (the "want more of this" corpus — Wikipedia in the paper; the `en`
  * slice of `documents` here) and the RAW distribution (the whole
  * crawl), weight each document by its log-likelihood ratio
  * λ(d) = Σ_b c_b(d)·(ln p_target(b) − ln p_raw(b)), then sample the kept
  * subset with probability ∝ exp(λ) via Gumbel-top-k.
  *
  * Exactness adaptations (this repo's oracle discipline):
  *  - the gram→bucket hash is the first 6 hex chars of md5, parsed as an
  *    integer — byte-identical in Spark (`conv(substring(md5,1,6),16,10)`)
  *    and DuckDB (`CAST('0x'||substr(md5,1,6) AS BIGINT)`), both UTF-8;
  *  - per-bucket log-ratios are floored to integer NANO-NATS once (floor,
  *    not round: no half-rule divergence between engines), so the per-doc
  *    weight is a pure BIGINT dot product — order-independent under any
  *    partitioning, no float-sum nondeterminism;
  *  - the paper's Gumbel noise comes from a hash-derived uniform
  *    (md5 of a salted doc_id), so the "random" resample is reproducible
  *    and oracle-checkable.
  *
  * Scale shape (100 TB posture): gram extraction and bucketing are
  * row-local; the bucket models are a [[Buckets]]-key aggregate with
  * map-side partial combine (a ~KB result at any corpus size); the
  * log-ratio table joins back by BROADCAST; the per-doc weight is one
  * map-side-combinable groupBy(doc_id); the resample is a
  * TakeOrderedAndProject top-k, never a global window. The two integer
  * products inside the smoothed ratio are computed in DOUBLE (IEEE
  * multiply is deterministic in both engines) so gram totals beyond
  * 2^53 at production scale degrade in precision, never overflow.
  */
object Dsir {

  /** Default hash-feature dimensionality. The paper uses 10k buckets for
    * CommonCrawl; 256 keeps every bucket populated at the test SFs while
    * exercising the identical dataflow (the bucket-model aggregate is
    * O(buckets) regardless). Overridable per session via
    * `spark.graft.dsirBuckets` (e.g. `Session.local(extra = ...)`) for
    * paper-scale runs — the ORACLE strings are only valid at the default
    * width (the standard-run contract). */
  val Buckets = 256

  /** Effective bucket width for this session (conf override or the
    * default). Every memo below keys on this — a mid-session width
    * change must be a cache miss, same discipline as artifactVersion. */
  private def bucketsOf(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.dsirBuckets").map(_.toInt).getOrElse(Buckets)

  /** Docs kept by the resample (the paper keeps a target token budget;
    * a fixed doc count keeps the oracle's LIMIT exact). */
  val SampleK = 100

  private val HexDenom = "16777217.0" // 16^6 + 1: md5-derived uniform in (0,1)

  /** doc_id, lang, grams (unigrams ++ bigram shingles) — row-local, over
    * the kernel-wide scan: tokenizing, shingling and bucketing every
    * document is the cost of the counts stage, not the scan. */
  private def gramsDf(spark: SparkSession, dir: String): DataFrame = {
    val tk = TextFunctions.tokens(col("text"))
    Tables.documentsKernelWide(spark, dir)
      .select(col("doc_id"), col("lang"), tk.as("tk"))
      .select(col("doc_id"), col("lang"),
        concat(col("tk"), TextFunctions.wordShinglesFromTokens(col("tk"), 2))
          .as("grams"))
  }

  private def bucketOf(gram: Column, width: Int): Column =
    conv(substring(md5(gram), 1, 6), 16, 10).cast("long") % width

  /** Per-(doc, bucket) gram counts — the ONE tokenization pass, memoized
    * per (session, dataset identity) and persisted, same discipline as
    * TextAnalysis.scoredDocs: three consumers fold it (the bucket models,
    * their totals, and the per-doc weights), and exchange reuse cannot
    * deduplicate them structurally (the roster's left join pushes an
    * IsNotNull(doc_id) into one branch, breaking canonical equality; the
    * rest did not match under AQE's canonicalization either — observed,
    * not hypothesized: the unmemoized plan ran the gram pass three
    * times). The persisted aggregate is ≤ |docs|·min(Buckets,
    * doc_len) narrow rows — orders of magnitude smaller than the corpus —
    * and persist() spills to disk, so it is the cheap side of the
    * recompute-vs-materialize tradeoff at any scale. */
  private def docBucketCounts(spark: SparkSession, dir: String): DataFrame = {
    val w = bucketsOf(spark)
    graft.sources.Stages(spark, "dsir/counts", dir, s"b$w", chain = "dsir_counts") {
      gramsDf(spark, dir)
        .select(col("doc_id"), col("lang"), explode(col("grams")).as("g"))
        .select(col("doc_id"), col("lang"), bucketOf(col("g"), w).as("bucket"))
        .groupBy("doc_id", "lang", "bucket").agg(count(lit(1)).as("c"))
    }
  }

  /** One fitted bucket-model row: (bucket, target_grams, raw_grams,
    * lr_nano). */
  final case class LrRow(bucket: Long, target_grams: Long, raw_grams: Long,
      lr_nano: Long)

  /** The fitted per-bucket model, computed ON THE DRIVER: the width-key
    * aggregate is collected (O(buckets) rows — a ~KB result at any
    * corpus size) and lr_nano = floor(1e9 · ln(p_target/p_raw)) with
    * add-1 smoothing is evaluated ONCE, with ONE log implementation
    * (java.lang.Math.log), then shipped as LITERALS to both the engine
    * plan and the oracle SQL — the Similarity ndcgDiscPpm /
    * TextAnalysis "no log in the kernel" discipline (ADVICE r18: Spark's
    * and DuckDB's ln are each not correctly rounded, so an independent
    * re-derivation risks a 1-ulp flip across a floor boundary; counts
    * stay independently re-derived in the oracle, so the cross-engine
    * check of the tokenize→bucket→count dataflow is undiminished). */
  private val LrStage = "dsir/lr"

  /** The fitted models available for the data-dependent oracle literals:
    * every live (session not stopped) [[LrStage]] entry, distinct by
    * content. [[oracle]] takes the literal path only when this resolves
    * to EXACTLY ONE model — the one-dataset-then-dump flow Verify runs.
    * A process that fits models for several dirs/widths before dumping
    * (test suites, future multi-SF runs) is ambiguous: a parameterless
    * oracle cannot know which dataset DuckDB will run against, and the
    * old last-writer-wins global silently embedded whichever was fitted
    * most recently (ADVICE r19 — a fragile implicit ordering contract).
    * Ambiguity now falls back to [[lnDlrCte]], which re-derives the
    * model IN DuckDB and is correct for any dataset, carrying only the
    * documented 1-ulp ln() exposure the literal path exists to close. */
  private def liveModels: Seq[IndexedSeq[LrRow]] = {
    // a fitted model has one row per bucket: its length IS its width
    val live = graft.sources.Stages.live[IndexedSeq[LrRow]](LrStage)
      .map { case (id, rows) => (id, rows.length, rows) }
    // ADVICE r20: in a process that fitted models for SEVERAL dirs/widths,
    // a parameterless dump used to fall back to the compiled default
    // width — a 256-bucket oracle for runs fitted under a dsirBuckets
    // override (spurious gate failure). The dumper that KNOWS its target
    // dataset (Verify) threads it via [[setOracleTarget]]; when the hint
    // matches a live model by (dataset identity, width), that model
    // disambiguates. No hint, or no match → the old resolution.
    val hinted = oracleTargetHint match {
      case Some((id, w)) => live.collect { case (`id`, `w`, rows) => rows }.distinct
      case None => Nil
    }
    if (hinted.nonEmpty) hinted else live.map(_._3).distinct
  }

  /** (dataset identity, bucket width) of the dataset the next oracle
    * dump targets — see [[liveModels]]. Cleared by [[clearMemo]]. */
  @volatile private var oracleTargetHint: Option[(String, Int)] = None

  /** Disambiguate the oracle dump for multi-dataset/width processes: the
    * dump that follows targets `dir` as bucketed under `spark`'s current
    * `spark.graft.dsirBuckets`. Verify calls this right before
    * serializing [[SparkEntry.oracleSql]]. */
  def setOracleTarget(spark: SparkSession, dir: String): Unit =
    oracleTargetHint =
      Some((graft.sources.DatasetId.key(dir), bucketsOf(spark)))

  private def lrRows(spark: SparkSession, dir: String): IndexedSeq[LrRow] = {
    val w = bucketsOf(spark)
    graft.sources.Stages(spark, LrStage, dir, s"b$w", chain = "dsir_counts") {
      val counts = docBucketCounts(spark, dir)
        .groupBy("bucket")
        .agg(sum("c").as("raw_g"),
          sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("tgt_g"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val rTot = counts.valuesIterator.map(_._1).sum
      val tTot = counts.valuesIterator.map(_._2).sum
      (0L until w.toLong).map { b =>
        val (raw, tgt) = counts.getOrElse(b, (0L, 0L))
        LrRow(b, tgt, raw, math.floor(math.log(
          ((tgt + 1).toDouble * (rTot + w).toDouble) /
            ((raw + 1).toDouble * (tTot + w).toDouble)) * 1e9).toLong)
      }
    }
  }

  /** The model as a literal DataFrame (the broadcast side of the scoring
    * join; also the dsir_bucket_stats result frame). */
  private def lrTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lrRows(spark, dir).toDF()
  }

  /** doc roster with the integer importance weight; empty-token docs get
    * weight 0 (the empty product — DSIR is indifferent to them). The
    * roster (doc_id, lang) comes off the raw documents scan with the
    * text column PRUNED — n_grams is Σc from the shared aggregate, so no
    * consumer tokenizes the corpus a second time. */
  private def weighted(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = docBucketCounts(spark, dir)
      .join(broadcast(lrTable(spark, dir).select("bucket", "lr_nano")), "bucket")
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_grams"),
        sum(col("c") * col("lr_nano")).as("weight_nano"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "weight_nano"))
  }

  /** Per-document DSIR importance weight in nano-nats. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    weighted(spark, dir)
      .select("doc_id", "lang", "n_grams", "weight_nano")
      .orderBy("doc_id")

  /** The fitted bucket models + log-ratio table (diagnostic the paper
    * plots; also the broadcast side of the scoring join). */
  def dsirBucketStats(spark: SparkSession, dir: String): DataFrame =
    lrTable(spark, dir).orderBy("bucket")

  /** Gumbel-top-k importance resample: key(d) = λ(d) + Gumbel(d), kept
    * set = top [[SampleK]] keys — samples without replacement with
    * P(keep) ∝ exp(λ), per the Gumbel-max trick, but from hash-derived
    * uniforms so the draw is deterministic. The top-k CUT selects on the
    * pre-floored INTEGER key (key_micro) with the doc_id tiebreak — in
    * both the engine and the oracle — so which doc sits at rank SampleK
    * depends only on integers (ADVICE r18: cutting on the raw double let
    * a 1-ulp ln() divergence between engines flip the boundary doc).
    * The single residual exposure is a ln() ulp landing EXACTLY on a
    * 1e-6 floor boundary — accepted and documented, per the advisory. */
  def dsirSample(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("dsir:"), col("doc_id").cast("string"))), 1, 6),
      16, 10).cast("long")
    val u = (h + 1).cast("double") / expr(HexDenom)
    val key = col("weight_nano").cast("double") / lit(1e9) - log(-log(u))
    weighted(spark, dir)
      .withColumn("key_micro", floor(key * 1e6).cast("long"))
      .orderBy(col("key_micro").desc, col("doc_id"))
      .limit(SampleK)
      .select(col("doc_id"), col("lang"), col("weight_nano"), col("key_micro"))
      .orderBy(col("key_micro").desc, col("doc_id"))
  }

  /** The fitted bucket model as a PERSISTED parquet artifact (one `lr`
    * part, [[Buckets]] rows) under the same atomic-build protocol as the
    * BPE/IVF/gate-spec artifacts: training and serving communicate only
    * through the shipped file. The streaming twin reloads it as a dense
    * lr-by-bucket array and scores arriving micro-batches row-locally. */
  private[graft] def modelRoot(spark: SparkSession, dir: String): String = {
    // non-default widths get their own artifact kind: a 10k-bucket model
    // must never be served where a 256-bucket reader expects one
    val w = bucketsOf(spark)
    val kind = if (w == Buckets) "dsirmodel" else s"dsirmodel-b$w"
    graft.sources.ArtifactRoots.built(spark, kind, dir, Seq("lr")) { stage =>
      lrTable(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$stage/lr")
    }
  }

  /** Row-local DSIR scorer over ANY (doc_id, lang, text) frame under a
    * SHIPPED model (dense lr-by-bucket array): weight = fold over the
    * doc's own grams of lr[bucket(gram)] — an independent derivation of
    * Σ_b c_b·lr_b (the batch side's aggregate dot product), so the
    * streaming twin passing the SAME oracle is a real cross-derivation
    * check, not a replay. No join, no shuffle, no state: per-doc output
    * depends only on the doc and the artifact, which is what makes
    * micro-batched append value-identical to the corpus pass. */
  private[graft] def scoreFrame(docs: DataFrame, lrByBucket: Array[Long]): DataFrame = {
    // the shipped model's own length IS the bucket width — a scorer under
    // a 10k-bucket artifact hashes into 10k, no session conf consulted
    val w = lrByBucket.length
    require(w > 0, "empty model")
    val lrArr = array(lrByBucket.map(lit(_)): _*)
    val tk = TextFunctions.tokens(col("text"))
    docs
      .select(col("doc_id"), col("lang"), tk.as("tk"))
      .select(col("doc_id"), col("lang"),
        // null text tokenizes to null and would propagate NULL through
        // concat/size/aggregate; the batch twin scores such a doc (0, 0)
        // via the roster left-join fill, so score the empty gram bag here
        // too (ADVICE r18 — keeps micro-batched append value-identical
        // to the corpus pass even with null texts in the corpus)
        coalesce(
          concat(col("tk"), TextFunctions.wordShinglesFromTokens(col("tk"), 2)),
          array().cast("array<string>")).as("grams"))
      .select(col("doc_id"), col("lang"),
        size(col("grams")).cast("long").as("n_grams"),
        aggregate(col("grams"), lit(0L),
          (acc, g) => acc + element_at(lrArr, (bucketOf(g, w) + 1).cast("int")))
          .as("weight_nano"))
  }

  /** Drop every registered stage so the count pass genuinely
    * re-executes, and forget the oracle target. */
  def clearMemo(): Unit = {
    graft.sources.Stages.clear()
    oracleTargetHint = None
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dsir_weights" -> dsirWeights,
    "dsir_bucket_stats" -> dsirBucketStats,
    "dsir_sample" -> dsirSample,
  )

  // ---- oracle SQL (DuckDB) ----

  private val toksSql =
    "list_filter(string_split_regex(regexp_replace(text, '[^\\w\\s]+', '', 'g'), '\\s+'), t -> len(t) > 0)"

  /** Oracle-side bucket width: the width of the single model fitted
    * in-process when unambiguous (Verify dumps oracle SQL AFTER running
    * the queries on one dataset, so the two always agree — including
    * under a `spark.graft.dsirBuckets` override, which is how the
    * 10k-bucket probe gets a genuinely re-derived DuckDB gate at paper
    * width); the compiled default otherwise. */
  private def oracleWidth: Int = {
    val widths = liveModels.map(_.length).distinct
    widths match {
      case Seq(w) => w
      case _ => Buckets
    }
  }

  /** Shared CTE chain through the independent COUNT derivation —
    * `dbc(bucket, raw_g, tgt_g)` + `dexp` + `ddoc(doc_id, lang, grams)`
    * — mirrors the engine's dataflow in SQL (window-free, list
    * comprehensions instead of explode where DuckDB prefers them). */
  private def countsCtes =
    s"dtk AS (SELECT doc_id, lang, $toksSql AS tk FROM documents), " +
      "ddoc AS (SELECT doc_id, lang, list_concat(tk, " +
      "list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1])) AS grams FROM dtk), " +
      "dexp AS (SELECT doc_id, lang, " +
      "CAST('0x' || substr(md5(unnest(grams)), 1, 6) AS BIGINT) % " + oracleWidth + " AS bucket FROM ddoc), " +
      "dbc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS raw_g, " +
      "CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS tgt_g FROM dexp GROUP BY bucket), " +
      "dtot AS (SELECT CAST(sum(raw_g) AS BIGINT) AS rTot, CAST(sum(tgt_g) AS BIGINT) AS tTot FROM dbc), " +
      s"ddom AS (SELECT unnest(generate_series(0, ${oracleWidth - 1})) AS bucket)"

  /** `dlr` from the DRIVER-FITTED model literals (the Similarity
    * pattern): the counts stay DuckDB-derived — a wrong engine-side
    * tokenize/bucket/count still fails the compare — while lr_nano is
    * the single driver-computed table both engines consume, closing the
    * dueling-ln() 1-ulp floor-boundary exposure (ADVICE r18). */
  private def litDlrCte(rows: IndexedSeq[LrRow]): String =
    "lrlit(bucket, lr_nano) AS (SELECT * FROM (VALUES " +
      rows.map(r => s"(${r.bucket}, ${r.lr_nano})").mkString(", ") + ") v(bucket, lr_nano)), " +
      "dlr AS (SELECT CAST(ddom.bucket AS BIGINT) AS bucket, " +
      "CAST(coalesce(tgt_g, 0) AS BIGINT) AS target_grams, " +
      "CAST(coalesce(raw_g, 0) AS BIGINT) AS raw_grams, " +
      "CAST(lrlit.lr_nano AS BIGINT) AS lr_nano " +
      "FROM ddom LEFT JOIN dbc ON ddom.bucket = dbc.bucket " +
      "JOIN lrlit ON ddom.bucket = lrlit.bucket)"

  /** Fallback `dlr` re-deriving ln() in DuckDB — reachable when the
    * oracle is dumped without the dsir queries having run in-process, or
    * when MORE THAN ONE model is live (multi-dataset/width process —
    * see [[liveModels]]; never the driver's Verify, which runs every
    * query on one dataset first); correct for any dataset, carrying the
    * documented 1-ulp exposure the literal path closes. */
  private def lnDlrCte =
    "dlr AS (SELECT CAST(ddom.bucket AS BIGINT) AS bucket, " +
      "CAST(coalesce(tgt_g, 0) AS BIGINT) AS target_grams, " +
      "CAST(coalesce(raw_g, 0) AS BIGINT) AS raw_grams, " +
      s"CAST(floor(ln((CAST(coalesce(tgt_g, 0) + 1 AS DOUBLE) * CAST(rTot + $oracleWidth AS DOUBLE)) / " +
      s"(CAST(coalesce(raw_g, 0) + 1 AS DOUBLE) * CAST(tTot + $oracleWidth AS DOUBLE))) * 1e9) AS BIGINT) AS lr_nano " +
      "FROM ddom LEFT JOIN dbc ON ddom.bucket = dbc.bucket CROSS JOIN dtot)"

  private def baseCtes: String =
    countsCtes + ", " +
      (liveModels match {
        case Seq(one) => litDlrCte(one)
        case _ => lnDlrCte // none fitted, or ambiguous (multi-dataset)
      })

  private def weightCtes: String =
    baseCtes + ", " +
      "ddc AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c FROM dexp GROUP BY doc_id, bucket), " +
      "dw AS (SELECT doc_id, CAST(sum(c * lr_nano) AS BIGINT) AS weight_nano " +
      "FROM ddc JOIN dlr USING (bucket) GROUP BY doc_id), " +
      "dwfull AS (SELECT ddoc.doc_id, lang, CAST(len(grams) AS BIGINT) AS n_grams, " +
      "CAST(coalesce(weight_nano, 0) AS BIGINT) AS weight_nano " +
      "FROM ddoc LEFT JOIN dw ON ddoc.doc_id = dw.doc_id)"

  def oracle: Map[String, String] = Map(
    "dsir_weights" ->
      s"WITH $weightCtes SELECT doc_id, lang, n_grams, weight_nano FROM dwfull ORDER BY doc_id",
    "dsir_bucket_stats" ->
      s"WITH $baseCtes SELECT bucket, target_grams, raw_grams, lr_nano FROM dlr ORDER BY bucket",
    // the top-k cut selects on the pre-floored integer key with the
    // doc_id tiebreak — the same integers the engine cuts on
    "dsir_sample" ->
      (s"WITH $weightCtes, " +
        "dkeyed AS (SELECT doc_id, lang, weight_nano, " +
        "CAST(floor((CAST(weight_nano AS DOUBLE) / 1e9 - ln(-ln(" +
        "(CAST(CAST('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) + 1 AS DOUBLE)" +
        s" / $HexDenom)))) * 1e6) AS BIGINT) AS key_micro FROM dwfull) " +
        s"SELECT doc_id, lang, weight_nano, key_micro FROM dkeyed " +
        s"ORDER BY key_micro DESC, doc_id LIMIT $SampleK"),
  )
}
