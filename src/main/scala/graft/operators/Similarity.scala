package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.plans.VectorExpressions.{lsh_bucket, vec_cosine}
import graft.sources.Tables

/** Similarity search over the embeddings table (north-star extension; the
  * reference has no numeric capability at all — its one value type is the
  * string "1", /root/reference/src/mr/function.rs:14).
  *
  * Two paths, as a real ANN pipeline would ship them:
  *  - brute-force cosine top-k: the exact baseline. O(Q·N·d); the query
  *    side is broadcast so the big side never shuffles — at 100 TB the
  *    corpus streams through map tasks once.
  *  - LSH-bucketed: random-hyperplane signatures (8 planes → 256 buckets)
  *    computed row-locally; candidate generation is an equi-join on the
  *    bucket id. Sub-quadratic; the scale path when Q is also huge.
  */
object Similarity {

  private val Dim = 64
  private val Planes = 8

  private[graft] def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))

  /** Per-group top-`k` fold through the TopKAggregator UDAF — the O(k)
    * partial-agg replacement for every corpus-sized `row_number()` window
    * in this module (guide §2.3 "aggregate before you shuffle"): each map
    * task folds its candidate rows into a k-item buffer, buffers combine
    * map-side, and only |groups|·k rows cross the exchange — where the
    * window formulation shuffles EVERY candidate row into #groups
    * partitions (10 hot partitions at a 10-query panel, corpus-sized at
    * 100 TB). Ordering is (value desc, id asc), identical to the windows
    * it replaces for every value `round()` can emit (round never produces
    * -0.0, and the corpus QA gate tracks non-finites). Output columns:
    * groupCols ++ (id, value, rn). For an ASCENDING metric (PQ distances)
    * pass the negated column; `-x` is an exact sign flip, so the caller
    * recovers the metric with a second negation. */
  private def topKFold(df: DataFrame, groupCols: Seq[String], value: Column,
      id: Column, k: Int): DataFrame = {
    import graft.functions.{TopKAggregator, TopKItem}
    val topk = udaf(new TopKAggregator(k),
      org.apache.spark.sql.Encoders.product[TopKItem])
    df.groupBy(groupCols.map(col): _*)
      .agg(topk(value.cast("double"), id).as("top"))
      .select(groupCols.map(col) :+ posexplode(col("top.items")): _*)
      .select(groupCols.map(col) ++ Seq(col("col.id").as("id"),
        col("col.value").as("value"), (col("pos") + 1).cast("int").as("rn")): _*)
  }

  /** Exact top-5 cosine neighbors for each query vector (vec_id < 10). */
  def cosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(vec_cosine(col("qv"), col("v")), 6).as("cos"))
    topKFold(scored, Seq("qid"), col("cos"), col("vec_id"), 5)
      .select(col("qid"), col("id").as("vec_id"), col("value").as("cos"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** LSH bucket assignment (the signature stage of the ANN index). */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("vec_id"), lsh_bucket(col("v"), Planes, Dim).as("bucket"))
      .orderBy("vec_id")

  private val Bands = 2       // LSH tables (recall dial)
  private val RowsPerBand = 8 // planes per band → 2^R buckets per band (occupancy dial)

  /** Per-band LSH keys: ONE `bands·rowsPerBand`-plane signature per vector
    * (row-local), bit-sliced into `bands` keys. Bucket count per band is
    * 2^rowsPerBand — a parameter to grow with N (set rowsPerBand ≈
    * log2(N/targetOccupancy) at 100 TB), while extra bands recover the
    * recall that sharper buckets cost. The fixed-256-bucket single-table
    * variant this replaces had O(N²/256) candidate pairs — a quadratic
    * cliff at scale. */
  def annBandedKeys(e: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand <= 31, "signature must fit an Int")
    val sig = e.select(col("vec_id"),
      lsh_bucket(col("v"), bands * rowsPerBand, Dim).as("sig"))
    sig.select(col("vec_id"), explode(array((0 until bands).map { j =>
      struct(lit(j).as("band"),
        shiftright(col("sig"), j * rowsPerBand)
          .bitwiseAND(lit((1 << rowsPerBand) - 1)).as("key"))
    }: _*)).as("e"))
      .select(col("vec_id"), col("e.band"), col("e.key"))
  }

  /** Candidate pairs that share any band bucket, scored with exact cosine —
    * generate-then-verify, the standard ANN shape. The band join shuffles
    * only (vec_id, band, key) ints; vectors are fetched for the distinct
    * surviving pairs, so wide arrays never ride the candidate explosion. */
  def annLshPairs(spark: SparkSession, dir: String): DataFrame =
    scoredLshPairs(spark, dir).orderBy("id1", "id2")

  /** Drop and unpersist every registered stage (index-root entries are
    * just paths; their dirs are process-private and reaped at exit). */
  def clearMemo(): Unit = graft.sources.Stages.clear()

  /** Scored-candidate stage, shared by annLshPairs and dedupEmbedding —
    * one LSH generate+verify per (session, dataset) instead of one per
    * declared query, registered in [[graft.sources.Stages]]. */
  def scoredLshPairs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Stages(spark, "similarity/lsh_pairs", dir, chain = "ann_pairs") {
      val e = emb(spark, dir)
      val keys = annBandedKeys(e, Bands, RowsPerBand)
      val pairs = keys.as("x")
        .join(keys.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"))
        .distinct()
      pairs
        .join(e.select(col("vec_id").as("id1"), col("v").as("v1")), "id1")
        .join(e.select(col("vec_id").as("id2"), col("v").as("v2")), "id2")
        .select(col("id1"), col("id2"),
          round(vec_cosine(col("v1"), col("v2")), 6).as("cos"))
    }

  private val IvfK = 16     // coarse centroids
  private val IvfProbes = 2 // cells searched per query

  /** Nearest-centroid assignment: every vector scores only the broadcast
    * K-row centroid table and keeps its best cell — map-only + one
    * per-vector window, the 100 TB-friendly build shape. */
  private[graft] def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    // Aggregate-argmax instead of a row_number window: max(struct(sim,
    // -cid, v)) picks exactly the window's (sim desc, cid asc) winner —
    // struct ordering is Spark's own SortOrder comparator field by field —
    // but folds map-side, so the exchange carries ONE struct per vector
    // instead of K scored copies of every vector (guide §2.3). `v` rides
    // as the last struct field (never compared: cid is unique per
    // centroid) so the winner's vector needs no join-back.
    e.join(broadcast(cents), col("vec_id") =!= lit(-1))
      .select(col("vec_id"),
        struct(round(vec_cosine(col("v"), col("cv")), 6).as("sim"),
          (lit(0L) - col("cid")).as("nc"), col("v").as("v")).as("c"))
      .groupBy("vec_id")
      .agg(max(col("c")).as("c"))
      .select(col("vec_id"), col("c.v").as("v"), (lit(0L) - col("c.nc")).as("cell"))

  /** One deterministic k-means (Lloyd) step from the first-K seed
    * quantizer: assign to seeds, then per-cell element-wise mean. Means
    * are exact DECIMAL sums divided once — order-independent, so the
    * centroid doubles are bit-identical across engines and runs (a plain
    * double sum would vary with partition merge order and break the
    * oracle hash). The per-element explode shuffles (cell, pos) keyed
    * partial sums — partial+final aggregated, never wide rows. */
  def refinedCentroids(e: DataFrame): DataFrame = {
    val seeds = e.filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    assignCells(e, seeds)
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg((sum(col("x").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("mx"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
        s => s.getField("mx")).as("cv"))
      .select(col("cell").as("cid"), col("cv"))
  }

  /** Build the IVF index under caller-owned `root`: refined centroids as
    * one small parquet, inverted lists as parquet PARTITIONED BY cell —
    * the on-disk layout that lets a probe read only its cells' files
    * (partition pruning), exactly like the bucketed-join strategy in
    * BucketingSpec but for ANN. The build is atomic: stages land in a
    * `.build` sibling and are renamed into place before the `.complete`
    * marker is written (ArtifactRoots.atomicBuild, which also arbitrates
    * concurrent builders on a shared root: losers block on the winner's
    * marker), so a crash mid-build never leaves a readable half-index.
    * If the marker already exists the build is skipped — the CALLER owns
    * keying `root` by (dataset, params, code version); nothing here
    * guesses at staleness. */
  def ivfBuildIndex(spark: SparkSession, dir: String, root: String): String =
    ivfBuildIndexFrom(emb(spark, dir), spark, root)

  /** Same atomic build over a caller-supplied vector frame (the
    * incremental path builds from the resident corpus only). */
  private[graft] def ivfBuildIndexFrom(e: DataFrame, spark: SparkSession,
      root: String): String =
    graft.sources.ArtifactRoots.atomicBuild(root, IvfParts)(writeIvfIndex(e, spark, _))

  private val IvfParts = Seq("centroids", "lists")

  /** The index's parts, written under a build's staging dir `stage`. */
  private def writeIvfIndex(e: DataFrame, spark: SparkSession, stage: String): Unit = {
    refinedCentroids(e).write.mode("overwrite").parquet(s"$stage/centroids")
    graft.sources.ArtifactRoots.boundedWrite(
        assignCells(e, spark.read.parquet(s"$stage/centroids")))
      .mode("overwrite").partitionBy("cell").parquet(s"$stage/lists")
  }

  /** Per-process index roots, one build per (session, dataset). By
    * default the index lands in a fresh process-private temp dir: cold
    * and warm bench runs pay the same (single) build, and no state
    * outlives the JVM — an UNKEYED shared /tmp path would let any later
    * process silently reuse whatever an earlier (possibly older-code)
    * run left behind. With `spark.graft.artifactRoot` set, the index
    * instead lands under the shared durable root at a dataset-fingerprint
    * path (ArtifactRoots.rootFor), where the atomic-build claim + marker
    * arbitrate concurrent builders and staleness is impossible by key.
    * Every access re-asserts the reader-side `.complete` check. */
  private def ivfIndexRoot(spark: SparkSession, dir: String): String =
    graft.sources.ArtifactRoots.built(spark, "ivf", dir, IvfParts, chain = "ivf_index")(
      writeIvfIndex(emb(spark, dir), spark, _))

  /** Public warm-up: force the one-time index build so a harness can
    * time it apart from the per-query probe cost. */
  def ivfWarmIndex(spark: SparkSession, dir: String): String =
    ivfIndexRoot(spark, dir)

  /** IVF cell assignment, read back from the persisted inverted lists. */
  def ivfAssign(spark: SparkSession, dir: String): DataFrame = {
    val root = ivfIndexRoot(spark, dir)
    spark.read.parquet(s"$root/lists")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .orderBy("vec_id")
  }

  /** The ONE probe-search kernel every IVF consumer composes: join the
    * query panel's probed cells against the partitioned inverted lists
    * (dynamic partition pruning keys the corpus-sized scan on the tiny
    * probe side), optionally admit candidates through a metadata
    * semi-join BEFORE ranking, and take the per-query top-`k` by exact
    * cosine. Shared by ivf_search (k=3), ivf_search_filtered (k=3 +
    * predicate), and hybrid_rrf_ivf's vector leg (k=10) so a change to
    * the probe shape — the cell cast, the tie-break, the self-exclusion
    * — cannot silently diverge the three and break their documented
    * "differences are attributable to X alone" comparisons. */
  private[graft] def ivfProbeTopK(spark: SparkSession, dir: String, k: Int,
      admitted: Option[DataFrame]): DataFrame = {
    val q = emb(spark, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    ivfServeTopK(spark, ivfIndexRoot(spark, dir), q, k, admitted)
  }

  /** The same kernel for an ARRIVING query frame `(qid, qv)` against
    * the persisted index at `root` — the serving-side entry the
    * streaming hybrid twin uses per micro-batch: probe cells are ranked
    * from the stored centroids for whatever queries just arrived
    * (broadcast K-row centroid table, row-local scoring), then the
    * identical pruned-list top-k. */
  private[graft] def ivfServeTopK(spark: SparkSession, root: String,
      q: DataFrame, k: Int, admitted: Option[DataFrame]): DataFrame = {
    val cents = spark.read.parquet(s"$root/centroids")
    val lists = spark.read.parquet(s"$root/lists")
      .select(col("vec_id").as("cand_id"), col("v").as("cv2"),
        col("cell").cast("long").as("cell"))
    // qv rides THROUGH the probe window instead of a join-back on qid:
    // the former `probeCellsOf(q, cents).join(q, "qid")` re-scanned the
    // query frame and paid one more broadcast exchange per serve (r22
    // plan audit: ivf_search dropped a scan + BroadcastHashJoin). The
    // window's ordering columns are untouched — qv is payload — so the
    // probed cells are identical.
    val probes = probeCellsCarrying(q, cents)
    val cands = probes.join(lists, "cell")
    val scored = admitted.fold(cands)(keep =>
        cands.join(keep, col("cand_id") === col("doc_id"), "left_semi"))
      .filter(col("cand_id") =!= col("qid"))
      .select(col("qid"), col("cand_id"),
        round(vec_cosine(col("qv"), col("cv2")), 6).as("cos"))
    // per-query top-k via the TopKAggregator fold: probed cells hold a
    // corpus FRACTION (nprobe/K of N), so a #queries-partition window
    // here is still a hot-spot at scale — same shape as the lexical leg
    topKFold(scored, Seq("qid"), col("cos"), col("cand_id"), k)
      .select(col("qid"), col("id").as("cand_id"), col("value").as("cos"), col("rn"))
  }

  /** IVF probe search against the PERSISTED index: each query ranks the
    * stored centroids, then joins only its top-`IvfProbes` cells of the
    * partitioned lists (dynamic partition pruning keys the scan on the
    * 20-row probe side) and ranks candidates by exact cosine — the
    * classic recall/cost dial, with zero index recomputation per query. */
  def ivfSearch(spark: SparkSession, dir: String): DataFrame =
    ivfProbeTopK(spark, dir, 3, admitted = None).orderBy("qid", "rn")

  /** Filtered ANN search — top-k under a metadata predicate, the vector-
    * store query shape users actually run ("docs like this, but only
    * English and substantial"): the IVF probe prunes the corpus to each
    * query's top-`IvfProbes` cells AND the predicate admits only
    * candidates whose document metadata qualifies, BEFORE the top-k rank
    * — filtered search, not filter-after-search, so the k results are
    * the true best among admissible docs (a post-filter can return fewer
    * than k or none). Plan shape at 100 TB, guarded by PlanAuditSpec:
    * the predicate pushes down to the documents parquet scan
    * (PushedFilters — only doc_id and the two predicate columns are
    * read), the partitioned list scan carries a dynamicpruning filter
    * keyed by the tiny probe side (only probed cells' files open), and
    * admission is a SEMI join — candidate rows never duplicate, and the
    * corpus's float vectors ride only the cell-pruned list scan. */
  def ivfSearchFiltered(spark: SparkSession, dir: String): DataFrame =
    ivfProbeTopK(spark, dir, 3, admitted = Some(
      Tables.documents(spark, dir)
        .filter(col("lang") === "en" && col("n_chars") >= 200)
        .select(col("doc_id"))))
      .orderBy("qid", "rn")

  /** Hybrid lexical+vector retrieval via reciprocal-rank fusion — the
    * standard RAG retrieval operator: each query's BM25 lexical ranking
    * and its cosine ANN ranking are fused as Σ 1/(60 + rank) over the
    * union of both top-10 lists, so a document strong in either modality
    * surfaces and one strong in both wins. Composes two already-gated
    * stages: the lexical leg scores candidates with the EXACT integer
    * BM25 kernel bm25_top_terms gates (each query doc's top-3 BM25 terms
    * are its lexical query), the vector leg is cosine_topk's ranking.
    *
    * Cross-engine exactness: RRF contributions are floor-scaled integers
    * `1e12 div (60 + rank)` summed as BIGINT — no float reciprocal sum
    * to drift. The lexical top-10 rides the TopKAggregator UDAF (O(k)
    * partial-agg state, map-side combine) rather than a per-query window
    * — at 100 TB a common query term admits a corpus-sized candidate
    * set, and a 10-partition window over it is a hot-spot by
    * construction; the double-valued buffer stays exact because summed
    * integer BM25 scores are < 2⁵³ for any corpus under ~10⁹ documents
    * (idf ≤ 2N·10⁶/3, tff ≤ 2.2·10⁶, 3-term sum ≤ 4.4·10¹⁵). Shape: the
    * query panel's term table broadcasts (≤ 30 rows), the corpus-sized
    * scored frame shuffles once into the partial top-k agg; the ANN leg
    * is the gated broadcast-query brute-force scan. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrfImpl(spark, dir, admitted = None)

  /** Filtered hybrid retrieval — the daily production composition of the
    * two retrieval dimensions this engine gates separately: the SAME
    * metadata predicate as ivf_search_filtered (`lang = 'en' AND
    * n_chars >= 200`, pushed down to the documents scan) admits
    * candidates into BOTH legs BEFORE their rankings, so each leg's
    * top-10 — and therefore the fusion — ranks only admissible docs
    * (filter-then-rank, not a post-filter that can starve the fused
    * list). Everything else is hybrid_rrf verbatim. */
  def hybridRrfFiltered(spark: SparkSession, dir: String): DataFrame =
    hybridRrfImpl(spark, dir, admitted = Some(
      Tables.documents(spark, dir)
        .filter(col("lang") === "en" && col("n_chars") >= 200)
        .select(col("doc_id"))))

  private def hybridRrfImpl(spark: SparkSession, dir: String,
      admitted: Option[DataFrame]): DataFrame = {
    val depth = 10
    val ann = bruteAnnTopK(spark, dir, depth, admitted)
    rrfFuseWithLex(spark, dir, ann, admitted, depth)
  }

  /** The EXACT brute-force vector ranking — query panel broadcast
    * against the full corpus scan, per-query top-`depth` by rounded
    * cosine. One kernel under the batch hybrids' vector leg AND the
    * ranking-quality eval's graded ground truth, so "the exact
    * reference ranking" cannot fork between the surface being evaluated
    * and the truth it is evaluated against. Eval/oracle shape only at
    * corpus scale (the adjudicated ann_recall_report pattern) — the
    * production serving leg is the IVF probe. */
  private[graft] def bruteAnnTopK(spark: SparkSession, dir: String,
      depth: Int, admitted: Option[DataFrame]): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val annCands = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(vec_cosine(col("qv"), col("v")), 6).as("cos"))
    val admittedCands = admitted.fold(annCands)(k =>
        annCands.join(k, col("cand_id") === col("doc_id"), "left_semi"))
    // corpus-sized candidate set → the TopKAggregator fold, never a
    // #queries-partition window (the hybrid lexical leg's shape)
    topKFold(admittedCands, Seq("qid"), col("cos"), col("cand_id"), depth)
      .select(col("qid"), col("id").as("cand_id"), col("rn").as("ar"))
  }

  /** Hybrid RRF retrieval with the PRODUCTION vector leg: the persisted
    * IVF index probe (top-`depth` by exact cosine over the query's
    * probed cells) replaces hybrid_rrf's brute-force corpus scan — the
    * composition a RAG serving path actually runs, since a corpus-sized
    * exact scan per query panel is exactly what the index exists to
    * avoid. The lexical leg and the integer-exact RRF fusion are
    * hybrid_rrf verbatim, so any ranking difference between the two
    * rows is attributable to IVF cell-pruning alone (quantified on the
    * vector side by ivf_pq_recall / ivf_filtered_recall; the spec gates
    * fused-list overlap against hybrid_rrf directly). Scale shape: the
    * vector leg touches only the cell-pruned list scan (dynamic
    * partition pruning keyed by the ≤ queries×nprobe probe side,
    * plan-guarded), the corpus's float vectors never ride a shuffle,
    * and the fusion inputs are two ≤ queries×depth integer-rank
    * frames. */
  def hybridRrfIvf(spark: SparkSession, dir: String): DataFrame = {
    val depth = 10
    val ann = ivfProbeTopK(spark, dir, depth, admitted = None)
      .select(col("qid"), col("cand_id"), col("rn").as("ar"))
    rrfFuseWithLex(spark, dir, ann, admitted = None, depth)
  }

  /** Graded-relevance depth for the ranking eval: exact-cosine rank r
    * (r ≤ RelDepth) grades a candidate rel = RelDepth+1-r; outside the
    * exact top-RelDepth, rel = 0. */
  private val RelDepth = 10

  /** Floor-ppm DCG discounts 1/log2(p+1) for positions 1..5, computed
    * ONCE here and interpolated as literals into BOTH engines — log2 is
    * not guaranteed correctly-rounded across engines, a literal table
    * is (the embed_project LCG-matrix pattern). */
  private[graft] val ndcgDiscPpm: IndexedSeq[Long] =
    (1 to 5).map(p => math.floor(1e6 / (math.log(p + 1.0) / math.log(2.0))).toLong)

  /** IDCG@5 under rank-derived grading is constant: every query's ideal
    * head is grades RelDepth..RelDepth-4 (the corpus always holds ≥
    * RelDepth candidates), so nDCG differs from DCG by one global
    * scale — kept anyway so the row reads in the standard [0, 1e6]. */
  private[graft] val ndcgIdcgScaled: Long =
    (1 to 5).map(p => (RelDepth + 1 - p).toLong * ndcgDiscPpm(p - 1)).sum

  private def discCaseSql: String =
    (1 to 5).map(p => s"WHEN $p THEN ${ndcgDiscPpm(p - 1)}")
      .mkString("CASE rrf_rank ", " ", " ELSE 0 END")

  /** Ranking-quality eval of the PRODUCTION serving ranking — the
    * metrics layer the retrieval stack was still missing: recall rows
    * (ann_recall_report, ivf_pq_recall, ivf_filtered_recall) ask "did
    * the true neighbors surface at all"; this row asks "did they
    * surface IN THE RIGHT ORDER", per query, over the end-to-end
    * hybrid_rrf_ivf fused list. Ground truth grades each fused
    * candidate by its EXACT brute-force cosine rank (rel = 11-rank for
    * the exact top-10, via the same bruteAnnTopK kernel the batch
    * hybrids rank with); emitted per query: hits-in-top-5 (n_rel),
    * first relevant position and its reciprocal (MRR@5 numerator),
    * DCG@5 and nDCG@5. Everything integer-exact: relevance grades are
    * small ints, discounts are the floor-ppm literal table above, DCG
    * is a BIGINT dot product, MRR and nDCG are floor-div ppm — no
    * float ever crosses the engine boundary.
    *
    * Scale shape: the system side is hybrid_rrf_ivf's ≤ queries×5
    * fused frame; the ground-truth side is the one corpus scan the
    * adjudicated eval shape pays (broadcast query panel, no corpus
    * shuffle); grading and the per-query fold are broadcast-sized. */
  def retrievalRankEval(spark: SparkSession, dir: String): DataFrame = {
    val sys = hybridRrfIvf(spark, dir)
    val exact = bruteAnnTopK(spark, dir, RelDepth, admitted = None)
    val graded = sys.join(exact, Seq("qid", "cand_id"), "left")
      .select(col("qid"), col("rrf_rank"),
        coalesce(lit(RelDepth + 1) - col("ar"), lit(0)).as("rel"))
    graded.groupBy("qid")
      .agg(
        sum((col("rel") > 0).cast("long")).as("n_rel"),
        coalesce(min(when(col("rel") > 0, col("rrf_rank"))), lit(0))
          .cast("int").as("first_rel_rank"),
        sum(col("rel").cast("long") * expr(discCaseSql)).as("dcg"))
      .select(col("qid"), col("n_rel"), col("first_rel_rank"),
        expr("case when first_rel_rank > 0 then 1000000 div first_rel_rank else cast(0 as bigint) end").as("rr_ppm"),
        col("dcg"),
        expr(s"(1000000 * dcg) div $ndcgIdcgScaled").as("ndcg_ppm"))
      .orderBy("qid")
  }

  /** The lexical leg + RRF fusion shared by every hybrid variant: BM25
    * top-`depth` per query via the TopKAggregator partial-agg fold, then
    * integer reciprocal-rank fusion with the given vector-leg ranking. */
  private def rrfFuseWithLex(spark: SparkSession, dir: String,
      ann: DataFrame, admitted: Option[DataFrame], depth: Int): DataFrame =
    rrfFuse(ann, hybridLexTopK(spark, dir, depth, admitted))
      .orderBy("qid", "rrf_rank")

  /** The hybrids' lexical leg on its own — (qid, cand_id, lr) — exposed
    * for `PlantedVecSpec`: the fused-rank contract decomposes into the
    * two measured leg ranks, and the spec needs THIS leg, not a
    * re-derivation that could fork the qterm cut or the tie-break. */
  private[graft] def hybridLexTopK(spark: SparkSession, dir: String,
      depth: Int, admitted: Option[DataFrame]): DataFrame = {
    val scored = TextAnalysis.bm25Scored(spark, dir)
    val wQt = Window.partitionBy("doc_id").orderBy(desc("bm25"), asc("word"))
    val qterms = scored.filter(col("doc_id") < 10)
      .withColumn("rn", row_number().over(wQt))
      .filter(col("rn") <= 3)
      .select(col("doc_id").as("qid"), col("word"))
    val lexCands = scored.join(broadcast(qterms), "word")
      .filter(col("doc_id") =!= col("qid"))
    lexTopK(admitted.fold(lexCands)(k =>
      lexCands.join(k, Seq("doc_id"), "left_semi")), depth)
  }

  /** Per-query lexical top-`depth` from (qid, doc_id, bm25) candidate
    * rows: sum the query's term scores per candidate, then the
    * TopKAggregator partial-agg fold (O(k) state, map-side combine) —
    * never a per-query window over a corpus-sized candidate set.
    * Shared by the batch hybrids and the streaming serving twin so the
    * cut semantics (tie-break by doc_id through the fold's id channel)
    * cannot fork. */
  private[graft] def lexTopK(cands: DataFrame, depth: Int): DataFrame = {
    import graft.functions.{TopKAggregator, TopKItem}
    val topk = udaf(new TopKAggregator(depth),
      org.apache.spark.sql.Encoders.product[TopKItem])
    cands.groupBy("qid", "doc_id")
      .agg(sum("bm25").as("lex"))
      .groupBy("qid")
      .agg(topk(col("lex").cast("double"), col("doc_id")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), col("col.id").as("cand_id"),
        (col("pos") + 1).cast("int").as("lr"))
  }

  /** Integer-exact reciprocal-rank fusion of a vector ranking (`ar`)
    * and a lexical ranking (`lr`): Σ 1e12 div (60+rank) as BIGINT,
    * top-5 per query — ONE implementation under every hybrid surface. */
  private[graft] def rrfFuse(ann: DataFrame, lex: DataFrame): DataFrame = {
    val wF = Window.partitionBy("qid").orderBy(desc("rrf"), asc("cand_id"))
    ann.join(lex, Seq("qid", "cand_id"), "full_outer")
      .select(col("qid"), col("cand_id"),
        (coalesce(expr("1000000000000 div (60 + ar)"), lit(0L)) +
          coalesce(expr("1000000000000 div (60 + lr)"), lit(0L))).as("rrf"))
      .withColumn("rrf_rank", row_number().over(wF))
      .filter(col("rrf_rank") <= 5)
      .select("qid", "cand_id", "rrf", "rrf_rank")
  }

  /** IVF-PQ search — the composition a production vector store actually
    * runs (the FAISS `IVFPQ` shape): the coarse IVF quantizer prunes the
    * corpus to the query's top-`IvfProbes` cells, and the surviving
    * candidates are ranked by PQ asymmetric distance — the query's EXACT
    * sub-vectors against each candidate's stored byte codes via a
    * 4×16-entry lookup table — so the float vectors of the corpus are
    * never touched at query time. Both halves are individually
    * oracle-gated (ivf_search, pq_adc_recall); this row gates their
    * COMPOSITION: cell pruning must commute with ADC ranking exactly.
    * Shape at 100 TB: probes (queries × IvfProbes rows) and the per-query
    * LUT broadcast; the corpus side touches only (cell, code) integers —
    * the partitioned list scan is pruned to probed cells, the ADC join is
    * map-side against the broadcast LUT, and the only per-query sort is
    * a bounded top-3 window over candidates from ≤2 cells. */
  /** The query panel's top-`IvfProbes` cells under the stored centroids
    * — shared by ivf_pq_search and its spec. */
  private[graft] def ivfProbeCells(spark: SparkSession, dir: String): DataFrame = {
    val root = ivfIndexRoot(spark, dir)
    val q = emb(spark, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    probeCellsOf(q, spark.read.parquet(s"$root/centroids"))
  }

  /** The ONE probe-cell ranking under every IVF consumer — panel probes
    * (ivfProbeCells → ivf_pq_search/ivf_pq_recall) and serving probes
    * (ivfServeTopK → the search family + both hybrids + the streaming
    * twin): rank `cents` per query by cosine, keep the top-`IvfProbes`
    * cells. Tie-break (csim desc, cid asc) and the 6-dp rounding are
    * part of the oracle contract; a forked copy diverging on either
    * silently shifts which cells open. */
  private def probeCellsOf(q: DataFrame, cents: DataFrame): DataFrame =
    probeCellsCarrying(q, cents).select(col("qid"), col("cell"))

  /** probeCellsOf with the query vector carried through as payload —
    * (qid, qv, cell) — so serving consumers need no join-back on qid.
    * The window's partition/order columns are unchanged; qv never
    * participates in the ranking, so the probed cells are identical. */
  private def probeCellsCarrying(q: DataFrame, cents: DataFrame): DataFrame = {
    val wProbe = Window.partitionBy("qid").orderBy(desc("csim"), asc("cid"))
    q.join(broadcast(cents), lit(true))
      .select(col("qid"), col("qv"), col("cid"),
        round(vec_cosine(col("qv"), col("cv")), 6).as("csim"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= IvfProbes)
      .select(col("qid"), col("qv"), col("cid").as("cell"))
  }

  def ivfPqSearch(spark: SparkSession, dir: String): DataFrame =
    // ascending metric through the (desc) fold: value = -dist, recovered
    // by a second exact sign flip
    topKFold(ivfPqScored(spark, dir), Seq("qid"),
        lit(0.0) - col("dist"), col("cand_id"), 3)
      .select(col("qid"), col("id").as("cand_id"),
        (lit(0.0) - col("value")).as("dist"), col("rn"))
      .orderBy("qid", "rn")

  /** The IVF-PQ ADC scores BEFORE the top-3 cut — (qid, cand_id, dist)
    * for every candidate in the query's probed cells. Exposed for
    * `PlantedVecSpec`: adjudicating a planted neighbor's miss as
    * quantization loss requires the ENGINE's own ADC distance for that
    * candidate, not a spec-side re-derivation that could fork the LUT
    * rounding or the subspace split. */
  private[graft] def ivfPqScored(spark: SparkSession, dir: String): DataFrame = {
    val root = ivfIndexRoot(spark, dir)
    val cellOf = spark.read.parquet(s"$root/lists")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    val e = emb(spark, dir)
    val probes = ivfProbeCells(spark, dir)
    val qsubs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        explode(array((0 until PqM).map(m =>
          struct(lit(m).as("m"), pqSubv(col("v"), m).as("qsv"))): _*)).as("s"))
      .select(col("qid"), col("s.m").as("m"), col("s.qsv").as("qsv"))
    val lut = qsubs.join(broadcast(pqBooks(spark, dir)), Seq("m"))
      .select(col("qid"), col("m"), col("cid").as("code"),
        round(pqD2(col("qsv"), col("cv")), 6).as("qdist"))
    val dAt = (j: Int) => max(when(col("m") === j, col("qdist"))).as(s"qd$j")
    pqCodes(spark, dir)
      .join(cellOf, "vec_id")
      .join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(lut), Seq("qid", "m", "code"))
      .groupBy("qid", "vec_id")
      .agg(dAt(0), dAt(1), dAt(2), dAt(3))
      .select(col("qid"), col("vec_id").as("cand_id"),
        (col("qd0") + col("qd1") + col("qd2") + col("qd3")).as("dist"))
  }

  /** Recall of the COMPOSED IVF-PQ path vs exact cosine — the eval that
    * sizes nprobe/M/K in production: pq_adc_recall isolates quantization
    * loss, ivf_pq_recall adds the cell-pruning loss on top (a true
    * neighbor in an unprobed cell is unreachable no matter how good the
    * codes are), so the gap between the two reports is exactly the
    * recall cost of pruning. Top-3 overlap per panel query, recall in
    * third-fractions ×100 — integer-exact, no float recall. */
  def ivfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val approx = ivfPqSearch(spark, dir).select("qid", "cand_id")
    val qv = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exactScored = e.join(broadcast(qv), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(vec_cosine(col("v"), col("qv")), 6).as("cos"))
    val exact = topKFold(exactScored, Seq("qid"), col("cos"), col("cand_id"), 3)
      .select(col("qid"), col("id").as("cand_id"))
    val overlap = approx.join(exact, Seq("qid", "cand_id"))
      .groupBy("qid").agg(count(lit(1)).as("n"))
    qv.select(col("qid"))
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n"), lit(0L)).as("n_overlap"))
      .withColumn("recall_pct", expr("n_overlap * 100 div 3"))
      .orderBy("qid")
  }

  /** Recall of FILTERED IVF search vs the exact filtered ground truth —
    * the eval ivf_pq_recall provides for the PQ path, applied to the
    * predicate dimension: ivf_search_filtered admits only candidates
    * passing the metadata predicate, but at fixed `IvfProbes` a
    * restrictive predicate can empty the probed cells and the search
    * silently returns fewer than k — this row makes that cost visible
    * per query. Ground truth is brute-force cosine over exactly the
    * predicate-admitted corpus (semi-join on the pushed-down documents
    * scan, query panel broadcast — the candidate-bounded shape every
    * recall eval here uses). `n_returned` < 3 is the silent-underfill
    * signal; `recall_pct` (third-fractions ×100, integer-exact) is the
    * dial for sizing nprobe against selectivity: recall lost here but
    * NOT in ivf_pq_recall is attributable to the predicate emptying
    * probed cells, so the remedy is raising nprobe for filtered
    * queries, not better codes. */
  def ivfFilteredRecall(spark: SparkSession, dir: String): DataFrame = {
    val approx = ivfSearchFiltered(spark, dir).select("qid", "cand_id")
    val keep = Tables.documents(spark, dir)
      .filter(col("lang") === "en" && col("n_chars") >= 200)
      .select(col("doc_id"))
    val e = emb(spark, dir)
    val qv = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exactScored = e.join(keep, col("vec_id") === col("doc_id"), "left_semi")
      .join(broadcast(qv), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(vec_cosine(col("v"), col("qv")), 6).as("cos"))
    val exact = topKFold(exactScored, Seq("qid"), col("cos"), col("cand_id"), 3)
      .select(col("qid"), col("id").as("cand_id"))
    val returned = approx.groupBy("qid").agg(count(lit(1)).as("nr"))
    val overlap = approx.join(exact, Seq("qid", "cand_id"))
      .groupBy("qid").agg(count(lit(1)).as("n"))
    qv.select(col("qid"))
      .join(returned, Seq("qid"), "left")
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("nr"), lit(0L)).as("n_returned"),
        coalesce(col("n"), lit(0L)).as("n_overlap"))
      .withColumn("recall_pct", expr("n_overlap * 100 div 3"))
      .orderBy("qid")
  }

  /** Incremental IVF maintenance root: the RESIDENT corpus
    * (vec_id ≢ 0 mod 10) builds the persisted index once; the NEW batch
    * (vec_id ≡ 0 mod 10, the same delta convention as dedup_incremental)
    * is then assigned against the STORED centroids — a map-only pass over
    * the delta with a broadcast K-row centroid table — and APPENDED to the
    * partitioned inverted lists. Existing list files are never read or
    * rewritten: parquet append to `partitionBy(cell)` only adds files
    * under the touched cell directories, so ingesting a batch costs
    * O(|delta|) regardless of index size — the steady-state ANN shape a
    * full rebuild lacks. Atomicity comes from the memo + process-private
    * root: a failure anywhere before the memo insert abandons the fresh
    * root entirely, and re-entry starts over with a new one — a
    * half-appended index is never exposed. Centroids intentionally do NOT
    * drift with the delta — re-clustering is the periodic REBUILD
    * operation (ivfBuildIndex), not the ingest path. */
  private[graft] def ivfIncrRoot(spark: SparkSession, dir: String): String =
    graft.sources.Stages(spark, "similarity/ivf_incr", dir, chain = "ivf_incr") {
      val root = graft.sources.TempDirs.create("graft_ivf_incr_")
      val isNew = col("vec_id") % 10 === 0
      ivfBuildIndexFrom(emb(spark, dir).filter(!isNew), spark, root)
      graft.sources.ArtifactRoots.boundedWrite(
          assignCells(emb(spark, dir).filter(isNew),
            spark.read.parquet(s"$root/centroids")))
        .mode("append").partitionBy("cell").parquet(s"$root/lists")
      root
    }

  /** Merged assignment read back from the incrementally-maintained index:
    * resident rows keep their build-time cells, delta rows carry the
    * cells the stored centroids gave them at ingest. Oracle-checked
    * against a from-scratch resident-centroid assignment of the full
    * corpus — green iff append-time assignment ≡ rebuild-time assignment
    * under the same centroids (the invariant that makes incremental
    * ingest trustworthy). */
  def ivfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val root = ivfIncrRoot(spark, dir)
    spark.read.parquet(s"$root/lists")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        (col("vec_id") % 10 === 0).cast("int").as("is_new"))
      .orderBy("vec_id")
  }

  /** Centroid REFRESH of the incrementally-maintained index — the
    * lifecycle step ivf_incremental intentionally lacks: ingest appends
    * against stored centroids forever, so a drifting corpus degrades
    * recall with stale centroids (ivf_cell_stats is the detection
    * signal; this is the action). One Lloyd step over the ACCUMULATED
    * corpus, from the STORED assignment: new centroid = exact-DECIMAL
    * per-cell mean of the persisted inverted lists (no re-clustering
    * from seeds, no corpus re-scan beyond the lists the index already
    * holds — O(corpus read + K·dim) where a from-scratch rebuild pays
    * seed-assign + mean + assign), then the reassignment half of the
    * step (map-only broadcast of the K refreshed centroids) published
    * as a NEW index root under the atomic-build marker protocol — the
    * stale index stays readable until its readers re-key.
    *
    * The from-scratch gate (the bm25_model_refresh discipline): the
    * oracle recomputes the refreshed centroids from the raw embeddings
    * end to end, so hash-green means refresh-from-stored-stats ≡
    * from-scratch recomputation exactly. */
  private[graft] def ivfRefreshRoot(spark: SparkSession, dir: String): String =
    graft.sources.Stages(spark, "similarity/ivf_refresh", dir, chain = "ivf_refresh") {
      val stale = ivfIncrRoot(spark, dir)
      val root = graft.sources.TempDirs.create("graft_ivf_refresh_")
      graft.sources.ArtifactRoots.atomicBuild(root, Seq("centroids", "lists")) { stage =>
        val lists = spark.read.parquet(s"$stale/lists")
          .select(col("v"), col("cell").cast("long").as("cell"))
        // the refinedCentroids mean, over the stored assignment: exact
        // DECIMAL sums divided once — order-independent, bit-identical
        // across engines and runs
        lists.select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cell", "pos")
          .agg((sum(col("x").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("mx"))
          .groupBy("cell")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
            s => s.getField("mx")).as("cv"))
          .select(col("cell").as("cid"), col("cv"))
          .write.mode("overwrite").parquet(s"$stage/centroids")
        graft.sources.ArtifactRoots.boundedWrite(
            assignCells(emb(spark, dir), spark.read.parquet(s"$stage/centroids")))
          .mode("overwrite").partitionBy("cell").parquet(s"$stage/lists")
      }
    }

  /** Recall-delta report of the refreshed index vs the stale one it
    * replaces, against exact ground truth — the instrumented answer to
    * "was the refresh worth publishing": per panel query, top-3 overlap
    * with brute-force cosine truth under (a) the stale incremental index
    * (resident-trained centroids, appended delta) and (b) the refreshed
    * index (one Lloyd step over the accumulated corpus). Integer-exact
    * third-fraction recalls, the ivf_pq_recall pattern. Both probes run
    * the ONE serving kernel (ivfServeTopK) against their respective
    * persisted roots — DPP-pruned list scans, broadcast query panel. */
  def ivfRefresh(spark: SparkSession, dir: String): DataFrame = {
    val staleRoot = ivfIncrRoot(spark, dir)
    val freshRoot = ivfRefreshRoot(spark, dir)
    val e = emb(spark, dir)
    val qv = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exactScored = e.join(broadcast(qv), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cand_id"),
        round(vec_cosine(col("v"), col("qv")), 6).as("cos"))
    // The exact ground truth is a stage (guide §3.3): it is referenced by
    // BOTH overlap branches, and unstored the corpus-sized exact-top-k
    // subtree inlines into each — two full corpus scans + folds where
    // one suffices (r22 plan audit: ivf_refresh 729 plan lines / 40
    // Exchanges before). The stored frame is 10·k rows.
    val exact = graft.sources.Stages(spark, "similarity/ivf_exact_top3", dir) {
      topKFold(exactScored, Seq("qid"), col("cos"), col("cand_id"), 3)
        .select(col("qid"), col("id").as("cand_id"))
    }
    def overlap(root: String, as: String) =
      ivfServeTopK(spark, root, qv, 3, admitted = None)
        .select("qid", "cand_id")
        .join(exact, Seq("qid", "cand_id"))
        .groupBy("qid").agg(count(lit(1)).as(as))
    qv.select(col("qid"))
      .join(overlap(staleRoot, "ns"), Seq("qid"), "left")
      .join(overlap(freshRoot, "nf"), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("ns"), lit(0L)).as("n_stale"),
        coalesce(col("nf"), lit(0L)).as("n_fresh"))
      .withColumn("recall_stale_pct", expr("n_stale * 100 div 3"))
      .withColumn("recall_fresh_pct", expr("n_fresh * 100 div 3"))
      .orderBy("qid")
  }

  /** Embedding-cosine near-duplicate pairs: the dedup-flavored use of the
    * ANN path — LSH candidates filtered to cosine ≥ 0.5. Same
    * generate-then-verify shape; the threshold makes it a dedup decision
    * rather than a ranking. */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    scoredLshPairs(spark, dir).filter(col("cos") >= 0.5).orderBy("id1", "id2")

  /** Cluster-quality evaluation of the persisted IVF index: per cell, the
    * member count, majority ground-truth label (embeddings.label), and
    * purity = majority fraction — the eval an embedding pipeline runs
    * after (re)building an index. Aggregate-only: per-(cell, label) counts
    * partial+final, then one `max_by` pass per cell (ties break to the
    * smaller label via the (count, −label) ordering struct); no windows,
    * no sorts beyond the final small ORDER BY. */
  def ivfPurity(spark: SparkSession, dir: String): DataFrame = {
    val root = ivfIndexRoot(spark, dir)
    val assign = spark.read.parquet(s"$root/lists")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    assign.join(labels, "vec_id")
      .groupBy("cell", "label")
      .agg(count(lit(1)).as("c"))
      .groupBy("cell")
      .agg(sum(col("c")).as("n"),
        max_by(col("label"), struct(col("c"), lit(0) - col("label"))).as("majority_label"),
        round(max(col("c")).cast("double") / sum(col("c")), 6).as("purity"))
      .orderBy("cell")
  }

  /** IVF index-health report: per cell, occupancy plus the cohesion of
    * the inverted list — mean and worst member-to-centroid cosine. This
    * is the maintenance signal an ANN service watches: occupancy skew
    * says the K dial is wrong (one hot cell degrades every probe that
    * hits it), a sagging mean/min cosine says the corpus has drifted off
    * the centroids and the index needs a re-train (the trigger for the
    * ivf_incremental → rebuild escalation). Reads only the PERSISTED
    * index; one broadcast of the K centroids keeps the list scan
    * map-only, and the per-cell mean comes from an exact DECIMAL sum of
    * the rounded cosines so both engines fold identical operands. */
  def ivfCellStats(spark: SparkSession, dir: String): DataFrame = {
    val root = ivfIndexRoot(spark, dir)
    val lists = spark.read.parquet(s"$root/lists")
      .select(col("vec_id"), col("v"), col("cell").cast("long").as("cell"))
    val cents = spark.read.parquet(s"$root/centroids")
    lists.join(broadcast(cents), col("cell") === col("cid"))
      .select(col("cell"), round(vec_cosine(col("v"), col("cv")), 6).as("cos"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        sum(col("cos").cast("decimal(18,6)")).as("s"),
        min(col("cos")).as("min_cos"))
      .select(col("cell"), col("n"),
        round(col("s").cast("double") / col("n"), 6).as("mean_cos"),
        col("min_cos"))
      .orderBy("cell")
  }

  private val SemTau = 0.3 // within-cell cosine above which the later vec drops

  /** SemDeDup-style semantic dedup: cluster first (the persisted IVF
    * cells), then compare pairs only WITHIN a cell and drop vector v when
    * some earlier vector u < v in the same cell has cosine ≥ SemTau —
    * deterministic keep-first, the cluster-partitioned published recipe
    * for embedding-level dedup of web-scale corpora.
    *
    * Scale shape: the all-pairs comparison is confined to a cell, and K
    * grows with N (K ≈ N/targetCellSize), so per-cell work stays bounded
    * while the cell equi-join shuffles each vector exactly once — unlike
    * the LSH near-dup path (dedupEmbedding) this needs no banding recall
    * dial, at the cost of missing cross-cell duplicates (the classic
    * SemDeDup trade). Emits every vector's (cell, kept) verdict, so the
    * oracle checks assignments and decisions in one row set. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val root = ivfIndexRoot(spark, dir)
    val lists = spark.read.parquet(s"$root/lists")
      .select(col("vec_id"), col("v"), col("cell").cast("long").as("cell"))
    val drops = lists.as("x")
      .join(lists.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .filter(round(vec_cosine(col("x.v"), col("y.v")), 6) >= SemTau)
      .select(col("y.vec_id").as("vec_id"))
      .distinct()
    lists
      .join(drops.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("hit").isNull.as("kept"))
      .orderBy("vec_id")
  }

  /** Int8 scalar quantization with an error gate. Each vector is
    * symmetric-quantized row-locally (scale = max|v|/127, codes
    * round(v/scale) ∈ [−127,127]) — 4× smaller than float32 on the wire
    * and in executor memory, the standard footprint lever for ANN at
    * 100 TB. The query re-ranks the exact top-5 pairs with QUANTIZED
    * cosine (the per-vector scales cancel in cosine) and gates
    * |cos_q − cos| ≤ 0.02 per pair; like approx_distinct, the oracle
    * emits the exact pairs plus literal true, so the row is green iff
    * the quantization error is genuinely within bound. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val codes = emb(spark, dir).select(col("vec_id"),
      (array_max(transform(col("v"), x => abs(x))) / 127.0).as("scale"), col("v"))
      .select(col("vec_id"),
        when(col("scale") > 0,
          transform(col("v"), x => round(x / col("scale")).cast("int")))
          .otherwise(transform(col("v"), x => lit(0)))
          .as("codes"))
    cosineTopk(spark, dir)
      .join(codes.select(col("vec_id").as("qid"), col("codes").as("qc")), "qid")
      .join(codes.select(col("vec_id"), col("codes").as("nc")), "vec_id")
      .select(col("qid"), col("vec_id"), col("cos"), col("rn"),
        (abs(vec_cosine(toDoubleVec(col("qc")), toDoubleVec(col("nc"))) - col("cos"))
          <= 0.02).as("within_bound"))
      .orderBy("qid", "rn")
  }

  private val ProjK = 8

  /** Deterministic Johnson-Lindenstrauss coefficient r(i,j) ∈
    * [−500001, 500001] from an integer LCG over the (input, output)
    * index pair — both engines regenerate the identical matrix from the
    * formula, so no projection state is stored or shipped. */
  private def projCoef(i: Int, j: Int): Long =
    (i.toLong * 2654435761L + j.toLong * 40503L) % 1000003L - 500001L

  /** Random-projection dimensionality reduction (64 → 8) — the
    * preprocessing lever ahead of ANN at 100 TB: candidate generation
    * over 8-dim projections costs 1/8 the memory/FLOPs of the raw
    * vectors, and JL guarantees pairwise distances survive within
    * (1±ε). Shape: entirely ROW-LOCAL (one whole-stage-codegen map over
    * the scan — no shuffle, no state), the property that makes the
    * projection free to fuse into any ingest. Cross-engine exactness:
    * inputs are quantized to integers (floor(x·1e6)) and the matrix is
    * integer, so every product/sum is exact int64 arithmetic — the
    * projection is REPRODUCIBLE across engines, runs, and partitionings,
    * which is what makes a projected index rebuildable. */
  def embedProject(spark: SparkSession, dir: String): DataFrame = {
    val q = transform(col("embedding"), x => floor(x.cast("double") * lit(1e6)).cast("long"))
    val projCols = (0 until ProjK).map { j =>
      val rj = array((0 until Dim).map(i => lit(projCoef(i, j))): _*)
      aggregate(zip_with(q, rj, (a, b) => a * b), lit(0L), (acc, x) => acc + x)
        .as(s"p$j")
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id") +: projCols: _*)
      .orderBy("vec_id")
  }

  // ---- Product quantization ----
  private val PqM = 4          // subspaces
  private val PqSub = Dim / PqM // dims per subspace
  private val PqK = 16         // codes per subspace

  private def pqSubv(v: Column, m: Int): Column = slice(v, m * PqSub + 1, PqSub)

  /** Strict left-fold squared L2 between two sub-vectors — same
    * evaluation order as the DuckDB twin, so distances are
    * bit-identical across engines. */
  private def pqD2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** One-Lloyd-step codebook for subspace m: seeds are the first-PqK
    * vectors' sub-vectors, refined once by exact-DECIMAL per-position
    * means — the refinedCentroids recipe applied per subspace, so the
    * codebook doubles are bit-identical across engines/runs. */
  private def pqCodebook(e: DataFrame, m: Int): DataFrame = {
    val seeds = e.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("cid"), pqSubv(col("v"), m).as("cv"))
    // aggregate-argmin (min(struct(d2, cid, sv)) ≡ the former (d2 asc,
    // cid asc) window winner — see assignCells): one struct per vector
    // crosses the exchange instead of K scored copies
    e.join(broadcast(seeds), col("vec_id") =!= lit(-1))
      .select(col("vec_id"),
        struct(round(pqD2(pqSubv(col("v"), m), col("cv")), 6).as("d2"),
          col("cid"), pqSubv(col("v"), m).as("sv")).as("c"))
      .groupBy("vec_id")
      .agg(min(col("c")).as("c"))
      .select(col("c.cid").as("code"), posexplode(col("c.sv")).as(Seq("pos", "x")))
      .groupBy("code", "pos")
      .agg((sum(col("x").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("mx"))
      .groupBy("code")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
        s => s.getField("mx")).as("cv"))
      .select(col("code").as("cid"), col("cv"))
  }

  /** Memoized union of all M codebooks, tagged by subspace: (m, cid, cv).
    * 64 tiny rows — always broadcast by consumers. */
  private def pqBooks(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Stages(spark, "similarity/pq_books", dir) {
      val e = emb(spark, dir)
      (0 until PqM)
        .map(m => pqCodebook(e, m).withColumn("m", lit(m)))
        .reduce(_.unionByName(_))
    }

  /** Memoized PQ encoding stage: (vec_id, m, code, d2). Product
    * quantization is THE 100 TB vector-footprint lever — M=4 one-byte
    * codes replace 64 floats (64× smaller than float32) and ADC search
    * scans codes against a 4×16-entry broadcast lookup table. The
    * encode itself is the production shape: all M codebooks (64 tiny
    * rows) broadcast, sub-vectors exploded row-locally, ONE shuffle for
    * the per-(vec, m) argmin window. Codebook training (4 seeded Lloyd
    * steps) is the one-time build, billed as `chain_pq_codes`. */
  /** Per-(vector, subspace) sub-vector rows — the explode every PQ
    * encode shares. */
  private def pqSubRows(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(array((0 until PqM).map(m =>
          struct(lit(m).as("m"), pqSubv(col("v"), m).as("sv"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))

  /** THE PQ encode kernel: broadcast (m, cid, cv) codebooks against the
    * exploded sub-vectors, per-(vec, m) argmin with the (d2, cid)
    * tie-break. Shared by the memoized corpus encode and pq_refresh's
    * stale/fresh encodes so the assignment semantics cannot fork. */
  private def pqEncodeWith(e: DataFrame, books: DataFrame): DataFrame =
    // aggregate-argmin: min(struct(d2, cid)) is the (d2 asc, cid asc)
    // winner with map-side combine — the K-way scored explode never
    // crosses an exchange (the former per-(vec, m) window shuffled and
    // sorted all K candidates per sub-vector)
    pqSubRows(e).join(broadcast(books), Seq("m"))
      .select(col("vec_id"), col("m"),
        struct(round(pqD2(col("sv"), col("cv")), 6).as("d2"), col("cid")).as("c"))
      .groupBy("vec_id", "m")
      .agg(min(col("c")).as("c"))
      .select(col("vec_id"), col("m"), col("c.cid").as("code"), col("c.d2").as("d2"))

  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Stages(spark, "similarity/pq_codes", dir, chain = "pq_codes")(
      pqEncodeWith(emb(spark, dir), pqBooks(spark, dir)))

  /** PQ codebook REFRESH — the quantization twin of ivf_refresh, closing
    * the same staleness class for the OTHER persisted vector artifact:
    * codebooks trained on the RESIDENT corpus (vec_id ≢ 0 mod 10) go
    * stale as the corpus accumulates, and every arriving vector is
    * encoded against them with growing reconstruction error. The refresh
    * is one Lloyd step over the ACCUMULATED corpus from the STORED
    * codes — per (subspace, code), the exact-DECIMAL mean of the
    * assigned sub-vectors (O(corpus read + M·K·dim), no re-seeding) —
    * followed by the re-encode half of the step, through the ONE encode
    * kernel both paths share. Report: per subspace, vector count and the
    * summed reconstruction SSE under the stale vs refreshed codebooks,
    * plus the improvement verdict (guaranteed by Lloyd monotonicity:
    * means minimize SSE at fixed assignment, re-encoding only lowers
    * it further — a false `improved` is a bug, not drift). Every number
    * replays exactly in DuckDB (DECIMAL means, rounded per-pair d2,
    * DECIMAL SSE sums), so hash-green IS the from-scratch gate. */
  def pqRefresh(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val resident = e.filter(col("vec_id") % 10 =!= 0)
    // staleCodes is a stage: it is referenced by BOTH the stale-SSE
    // branch and the fresh-books train, and unstored the DataFrame DAG
    // inlines the 4-codebook build subtree into every reference — the
    // final plan then carries the stale codebook train MULTIPLICATIVELY
    // (the r20 close measured a 215 s pass-1 on this row when the
    // duplicated subtrees landed behind a C2 backlog; the steady-state
    // median was ~8 s). The fresh books are a stage too, so the query's
    // own plan reads both as leaves; the stale books are read once, by
    // staleCodes' encode, and need no storing. The books are 64 rows,
    // staleCodes 4 rows per vector — cents of memory.
    val staleCodes = graft.sources.Stages(spark, "similarity/pq_stale_codes", dir) {
      pqEncodeWith(e, (0 until PqM)
        .map(m => pqCodebook(resident, m).withColumn("m", lit(m)))
        .reduce(_.unionByName(_)))
    }
    // one Lloyd step from the stored assignment: per (m, code) exact
    // means of the accumulated corpus's assigned sub-vectors
    val freshBooks = graft.sources.Stages(spark, "similarity/pq_fresh_books", dir) {
      pqSubRows(e)
        .join(staleCodes.select("vec_id", "m", "code"), Seq("vec_id", "m"))
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("m", "code", "pos")
        .agg((sum(col("x").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("mx"))
        .groupBy("m", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx")).as("cv"))
        .select(col("m"), col("code").as("cid"), col("cv"))
    }
    val freshCodes = pqEncodeWith(e, freshBooks)
    def sse(codes: DataFrame, as: String) = codes.groupBy("m")
      .agg(count(lit(1)).as(s"n_$as"),
        sum(col("d2").cast("decimal(18,6)")).cast("double").as(s"sse_$as"))
    sse(staleCodes, "stale").join(sse(freshCodes, "fresh"), "m")
      .select(col("m"), col("n_stale").as("n"),
        col("sse_stale"), col("sse_fresh"),
        (col("sse_fresh") <= col("sse_stale")).as("improved"))
      .orderBy("m")
  }

  /** PQ code assignment per vector — the compressed representation an
    * ANN index stores. Oracle-exact because codebooks and distances are
    * bit-identical (see pqCodebook/pqD2). */
  def pqEncode(spark: SparkSession, dir: String): DataFrame = {
    val codeAt = (j: Int) => max(when(col("m") === j, col("code")))
      .cast("int").as(s"code$j")
    pqCodes(spark, dir).groupBy("vec_id")
      .agg(codeAt(0), codeAt(1), codeAt(2), codeAt(3))
      .orderBy("vec_id")
  }

  /** Per-vector PQ reconstruction error (per-subspace squared L2 to the
    * chosen code's centroid + fixed-order total) — the quality metric
    * that decides M/K sizing before a fleet-wide re-encode. Exact in
    * both engines: each err_m is the rounded assignment distance, the
    * total a fixed-order double sum of the four. */
  def pqReconError(spark: SparkSession, dir: String): DataFrame = {
    val errAt = (j: Int) => max(when(col("m") === j, col("d2"))).as(s"err$j")
    pqCodes(spark, dir).groupBy("vec_id")
      .agg(errAt(0), errAt(1), errAt(2), errAt(3))
      .select(col("vec_id"), col("err0"), col("err1"), col("err2"), col("err3"),
        (col("err0") + col("err1") + col("err2") + col("err3")).as("err_total"))
      .orderBy("vec_id")
  }

  /** ADC (asymmetric distance computation) search quality: for each
    * query, rank the corpus by PQ-approximated L2 — the query's EXACT
    * sub-vectors against each vector's code centroids — and report
    * top-5 recall vs exact full-dimension L2. This is how a PQ index is
    * actually probed at 100 TB: the per-query work is a 4×16-entry
    * lookup table (broadcast), the corpus side touches only its byte
    * codes — never the floats — and the scan is a map-side join of the
    * code table against a 640-row LUT. Fully deterministic in both
    * engines (codebooks are bit-identical, distances rounded, totals
    * fixed-order), so recall itself is oracle-exact — the eval that
    * decides whether M/K is sized right before a fleet re-encode. */
  def pqAdcRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val codes = pqCodes(spark, dir)
    val qsubs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        explode(array((0 until PqM).map(m =>
          struct(lit(m).as("m"), pqSubv(col("v"), m).as("qsv"))): _*)).as("s"))
      .select(col("qid"), col("s.m").as("m"), col("s.qsv").as("qsv"))
    val lut = qsubs.join(broadcast(pqBooks(spark, dir)), Seq("m"))
      .select(col("qid"), col("m"), col("cid").as("code"),
        round(pqD2(col("qsv"), col("cv")), 6).as("qdist"))
    val dAt = (j: Int) => max(when(col("m") === j, col("qdist"))).as(s"qd$j")
    val adc = codes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(dAt(0), dAt(1), dAt(2), dAt(3))
      .select(col("qid"), col("vec_id"),
        (col("qd0") + col("qd1") + col("qd2") + col("qd3")).as("dist"))
    val qv = e.filter(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = e.join(broadcast(qv), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), round(pqD2(col("v"), col("qv")), 6).as("dist"))
    def top5(df: DataFrame): DataFrame =
      topKFold(df, Seq("qid"), lit(0.0) - col("dist"), col("vec_id"), 5)
        .select(col("qid"), col("id").as("vec_id"))
    val overlap = top5(adc).join(top5(exact), Seq("qid", "vec_id"))
      .groupBy("qid").agg(count(lit(1)).as("n"))
    qv.select(col("qid"))
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n"), lit(0L)).as("n_overlap"),
        (coalesce(col("n"), lit(0L)) * 20).as("recall_pct"))
      .orderBy("qid")
  }

  /** k-NN graph over the memoized LSH candidate pairs: each vector's
    * top-3 neighbors by exact cosine AMONG ITS CANDIDATES — the
    * adjacency structure semantic clustering / label propagation /
    * graph-based dedup consume downstream. Candidates are symmetrized
    * (each undirected pair feeds both endpoints), then one window sorts
    * each node's bounded candidate list — per-node work is capped by LSH
    * bucket occupancy, never O(N), and the candidate stage is shared
    * with ann_lsh_pairs/dedup_embedding via the pairs memo (built once
    * per session+dataset). */
  /** Directed k=3 nearest-neighbour edges (unsorted) — shared stage of
    * knn_graph and mutual_knn. */
  private def knnEdges(spark: SparkSession, dir: String): DataFrame = {
    val p = scoredLshPairs(spark, dir)
    val sym = p.select(col("id1").as("src"), col("id2").as("dst"), col("cos"))
      .union(p.select(col("id2").as("src"), col("id1").as("dst"), col("cos")))
    // per-node top-3 via the TopKAggregator fold: per-node candidate
    // lists are LSH-occupancy-bounded, but the SUM over nodes is
    // pair-table-sized — fold map-side rather than shuffle every
    // symmetrized pair into a per-src window sort
    topKFold(sym, Seq("src"), col("cos"), col("dst"), 3)
      .select(col("src"), col("id").as("dst"), col("value").as("cos"), col("rn"))
  }

  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnEdges(spark, dir).orderBy("src", "rn")

  /** Mutual-kNN graph — keep only edges present in BOTH directions of
    * the directed kNN graph (u ∈ knn(v) AND v ∈ knn(u)). This is the
    * standard densification filter before graph clustering / dedup on an
    * ANN graph: one-sided edges are mostly hubness artifacts (a popular
    * vector appears in everyone's top-k without reciprocating), and
    * dropping them is what makes the subsequent connected components
    * meaningful. Shape: the directed edge list is k·N rows; reciprocity
    * is ONE self-equi-join on the reversed key pair (left_semi, so no
    * column duplication and the join can stay shuffle-local on the same
    * (src, dst) hash), then src<dst canonicalizes each surviving pair to
    * a single undirected row. No O(N²) anywhere — candidate generation
    * is the memoized LSH stage shared with knn_graph/ann_lsh_pairs. */
  def mutualKnn(spark: SparkSession, dir: String): DataFrame = {
    val knn = knnEdges(spark, dir).select("src", "dst", "cos")
    val rev = knn.select(col("dst").as("src"), col("src").as("dst"))
    knn.join(rev, Seq("src", "dst"), "left_semi")
      .filter(col("src") < col("dst"))
      .select(col("src").as("id1"), col("dst").as("id2"), col("cos"))
      .orderBy("id1", "id2")
  }

  /** Semantic clusters: connected components over the cosine near-dup
    * graph (edges = memoized LSH candidates with cos ≥ 0.3, the SemTau
    * convention). Labels come from the same hooking + pointer-doubling
    * loop the text-dedup chain uses (`Dedup.connectedComponents` —
    * O(log diameter) checkpointed rounds, O(1) plan size); vectors with
    * no admitted edge stay singleton clusters of themselves via one
    * left join. The composition IS the point: candidate generation,
    * exact verification, and graph contraction are each already
    * oracle-gated — this row gates their interplay end-to-end. */
  def embedClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = graft.sources.Stages(spark, "similarity/clusters", dir) {
      val edges = scoredLshPairs(spark, dir)
        .filter(col("cos") >= 0.3).select(col("id1"), col("id2"))
      Dedup.connectedComponents(edges)
    }
    emb(spark, dir).select(col("vec_id"))
      .join(labels, col("vec_id") === col("id"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("cluster_id"))
      .orderBy("vec_id")
  }

  /** ANN recall eval: for each query in the exact-top-k panel, the
    * fraction of its TRUE top-5 cosine neighbors the banded-LSH
    * candidate stage actually surfaces — the number that tells you
    * whether the (bands, rowsPerBand) recall dial is set right before
    * you trust the index at scale. Ground truth is the bounded query
    * panel (brute force over a panel is the standard eval harness, not
    * a production scan); candidates come from the MEMOIZED scored-pair
    * stage, so the eval adds one panel-sized join to work the index
    * already did. Recall is a scaled integer (ppm, floor division) —
    * no float ratio in the output hash.
    *
    * Reading the number: THIS index is dialed for near-duplicate
    * retrieval (16 shared planes ⇒ collisions concentrate at cos ≳
    * 0.9), so against a random panel whose true top-5 sit near cos
    * 0.3–0.5 the measured recall is honestly LOW — that is the report
    * doing its job, telling you to add bands / shorten keys before
    * using the same index for general k-NN. The IVF probe path
    * (ivf_search) is the general-k-NN configuration. */
  def annRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val truth = cosineTopk(spark, dir).select(col("qid"), col("vec_id"))
    val pairs = scoredLshPairs(spark, dir).select("id1", "id2")
    val cand = pairs.select(col("id1").as("qid"), col("id2").as("vec_id"))
      .unionByName(pairs.select(col("id2").as("qid"), col("id1").as("vec_id")))
      .filter(col("qid") < 10).distinct()
    truth.join(cand.withColumn("hit", lit(1L)), Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_ppm", expr("(1000000L * n_hit) div n_true"))
      .orderBy("qid")
  }

  /** Matryoshka-style prefix-dimension recall — the measurement behind
    * truncatable-embedding serving (MRL): retrieve top-5 by cosine over
    * only the FIRST p dims (p ∈ {8, 16, 32}) and report, per query and
    * prefix, how much of the full-64-dim exact top-5 survives. This is
    * the dial a production store reads before shipping truncated vectors
    * (smaller index, cheaper dot products) — recall_ppm vs p IS the
    * cost/quality curve. Shape: queries broadcast (10 rows), the corpus
    * side is one column-pruned scan per prefix with a row-local `slice`
    * — no shuffle beyond the bounded per-query top-5 windows; at 100 TB
    * the per-prefix scans would hang off one persisted projection (the
    * scoredLshPairs discipline), and truth comes from the already-gated
    * exact top-k stage. */
  def embedPrefixRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val truth = cosineTopk(spark, dir).select(col("qid"), col("vec_id"))
    val prefixTops = Seq(8, 16, 32).map { p =>
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(vec_cosine(slice(col("qv"), 1, p), slice(col("v"), 1, p)), 6).as("pcos"))
      topKFold(scored, Seq("qid"), col("pcos"), col("vec_id"), 5)
        .select(col("qid"), col("id").as("vec_id"), lit(p).as("prefix_dim"))
    }.reduce(_.unionAll(_))
    truth.crossJoin(spark.range(1).select(explode(array(lit(8), lit(16), lit(32))).as("prefix_dim")))
      .join(prefixTops.withColumn("hit", lit(1L)), Seq("qid", "vec_id", "prefix_dim"), "left")
      .groupBy("qid", "prefix_dim")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_ppm", expr("(1000000L * n_hit) div n_true"))
      .orderBy("qid", "prefix_dim")
  }

  /** Embedding-store hygiene audit: per label, the integer facts a vector
    * pipeline must gate ingest on — row count, dimension bounds (a single
    * mis-dimensioned batch breaks every downstream dot product), zero-norm
    * vectors (cosine is undefined; they silently score 0/NaN against
    * everything), and non-finite elements (one NaN poisons any sum it
    * touches). Integer-only output by design: counts hash identically
    * across engines, where float norms would need tolerance gates.
    * One map-only scan + partial+final aggregate; the lambda predicates
    * (`exists`/`forall`) run row-local inside codegen. */
  def embedQa(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val emb = col("embedding")
    val bad = emb.isNotNull &&
      exists(emb, x => isnan(x) || x === Float.PositiveInfinity || x === Float.NegativeInfinity)
    e.groupBy(col("label")).agg(
      count(lit(1)).as("n_vectors"),
      count(when(emb.isNull, 1)).as("n_null"),
      coalesce(min(when(emb.isNotNull, size(emb))), lit(0)).as("min_dim"),
      coalesce(max(when(emb.isNotNull, size(emb))), lit(0)).as("max_dim"),
      count(when(emb.isNotNull && forall(emb, _ === 0f), 1)).as("n_zero_norm"),
      count(when(bad, 1)).as("n_nonfinite"))
      .orderBy("label")
  }

  /** Embedding-snapshot drift monitor — the model/data-shift alarm a
    * vector pipeline runs between ingest generations: the corpus is split
    * into a reference snapshot (even vec_id) and a current one (odd),
    * and per ground-truth label the report carries the population facts
    * (n_ref, n_cur, share-shift in ppm — integer `div` arithmetic, exact
    * cross-engine) plus the squared L2 distance between the two
    * snapshots' label centroids. A centroid that moves while its share
    * holds signals representation drift (re-embed or re-train the index);
    * a share that moves signals source mix drift (re-balance before the
    * index's cell occupancy skews).
    *
    * Exactness recipe: per-(label, snapshot, pos) means are exact-DECIMAL
    * sums divided once (the refinedCentroids recipe — bit-identical
    * doubles on both engines); per-position deltas are rounded to 6 dp,
    * cast to DECIMAL(18,6), and the 64 squared terms are summed in exact
    * decimal arithmetic — order-independent by construction, so no fold
    * ordering is even needed. Shape: BOTH snapshots' means come out of
    * ONE (label, pos) keyed partial+final conditional aggregate over a
    * single scan (a per-(label, snap, pos) grouping would force a second
    * scan or a self-join to pair them) — the element explode never
    * carries whole vectors, the delta/square math is then row-local,
    * and everything downstream is O(labels): one per-label aggregate,
    * one counts join, one broadcast of the 1-row totals. */
  def embedDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"), col("label"),
        (col("vec_id") % 2 === 0).cast("int").as("is_ref"))
    val ref = col("is_ref") === 1
    val shift = e.select(col("label"), col("is_ref"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(
        (sum(when(ref, col("x")).cast("decimal(28,12)")).cast("double") /
          sum(when(ref, 1L).otherwise(0L))).as("mref"),
        (sum(when(!ref, col("x")).cast("decimal(28,12)")).cast("double") /
          sum(when(!ref, 1L).otherwise(0L))).as("mcur"))
      // a label present in only ONE snapshot has null means (zero-count
      // division); drop it here so the downstream inner join agrees with
      // the oracle, whose ref⋈cur mean join drops such labels entirely
      .filter(col("mref").isNotNull && col("mcur").isNotNull)
      .select(col("label"),
        round(col("mref") - col("mcur"), 6).cast("decimal(18,6)").as("d"))
      .groupBy("label")
      .agg(round(sum(col("d") * col("d")).cast("double"), 6).as("centroid_shift_l2sq"))
    val counts = e.groupBy("label").agg(
      sum(col("is_ref").cast("long")).as("n_ref"),
      sum(lit(1L) - col("is_ref")).as("n_cur"))
    val totals = counts.agg(sum("n_ref").as("tot_ref"), sum("n_cur").as("tot_cur"))
    counts.join(shift, "label").crossJoin(broadcast(totals))
      .select(col("label"), col("n_ref"), col("n_cur"),
        expr("(1000000 * n_cur) div tot_cur - (1000000 * n_ref) div tot_ref")
          .as("share_shift_ppm"),
        col("centroid_shift_l2sq"))
      .orderBy("label")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_qa" -> embedQa,
    "embed_drift" -> embedDrift,
    "ann_recall_report" -> annRecallReport,
    "embed_prefix_recall" -> embedPrefixRecall,
    "embed_clusters" -> embedClusters,
    "knn_graph" -> knnGraph,
    "mutual_knn" -> mutualKnn,
    "embed_quantize" -> embedQuantize,
    "embed_project" -> embedProject,
    "pq_encode" -> pqEncode,
    "pq_recon_error" -> pqReconError,
    "pq_adc_recall" -> pqAdcRecall,
    "cosine_topk" -> cosineTopk,
    "ann_lsh_buckets" -> annLshBuckets,
    "ann_lsh_pairs" -> annLshPairs,
    "dedup_embedding" -> dedupEmbedding,
    "ivf_assign" -> ivfAssign,
    "ivf_search" -> ivfSearch,
    "ivf_search_filtered" -> ivfSearchFiltered,
    "hybrid_rrf" -> hybridRrf,
    "hybrid_rrf_filtered" -> hybridRrfFiltered,
    "hybrid_rrf_ivf" -> hybridRrfIvf,
    "retrieval_rank_eval" -> retrievalRankEval,
    "ivf_pq_search" -> ivfPqSearch,
    "ivf_pq_recall" -> ivfPqRecall,
    "ivf_filtered_recall" -> ivfFilteredRecall,
    "ivf_incremental" -> ivfIncremental,
    "ivf_refresh" -> ivfRefresh,
    "pq_refresh" -> pqRefresh,
    "dedup_semantic" -> dedupSemantic,
    "ivf_purity" -> ivfPurity,
    "ivf_cell_stats" -> ivfCellStats,
  )

  // ---- oracle SQL ----

  /** Strict-left-fold dot product between two double lists in DuckDB —
    * operation order identical to VectorFunctions.dot. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, $Dim), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)}))"

  /** Prefix-dim cosine: dot and norms over the first p dims only — the
    * SQL twin of vec_cosine(slice(v, 1, p), slice(w, 1, p)). */
  private def cosSqlP(a: String, b: String, p: Int): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_transform(generate_series(1, $p), i -> $x[i] * $y[i]), (x, y) -> x + y)"
    s"(${dot(a, b)} / sqrt(${dot(a, a)} * ${dot(b, b)}))"
  }

  private val toDoubleSql = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  /** Literal ±1 projection sum for hyperplane h (shared sign matrix). */
  private def projSql(h: Int): String =
    (0 until Dim).map { i =>
      val s = if (planeSign(h, i) > 0) "+" else "-"
      s"$s v[${i + 1}]"
    }.mkString("(", " ", ")")

  private def bucketSql: String = bucketSql(Planes)

  private def bucketSql(planes: Int): String =
    (0 until planes).map(h =>
      s"CASE WHEN ${projSql(h)} >= 0 THEN ${1 << h} ELSE 0 END").mkString(" + ")

  /** Shared CTE chain: signature → per-band keys → distinct candidate
    * pairs → exact cosine (the SQL twin of annLshPairs). */
  private val bandedPairsCtesSql: String = {
    val bandSelects = (0 until Bands).map(j =>
      s"SELECT vec_id, $j AS band, (sig >> ${j * RowsPerBand}) & ${(1 << RowsPerBand) - 1} AS key FROM b")
    s"b AS (SELECT vec_id, v, CAST(${bucketSql(Bands * RowsPerBand)} AS INT) AS sig " +
      s"FROM (SELECT vec_id, $toDoubleSql AS v FROM embeddings)), " +
      s"k AS (${bandSelects.mkString(" UNION ALL ")}), " +
      "p AS (SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2 FROM k x " +
      "JOIN k y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id), " +
      s"scored AS (SELECT id1, id2, round(${cosSql("e1.v", "e2.v")}, 6) AS cos " +
      "FROM p JOIN b e1 ON e1.vec_id = id1 JOIN b e2 ON e2.vec_id = id2)"
  }

  /** DuckDB twin of refinedCentroids: seed-assign, then per-cell
    * per-position exact-decimal mean (sum as DECIMAL(28,12), cast to
    * DOUBLE, divided once by the cell count — the same operation order as
    * the Spark side, so the centroid doubles are bit-identical). `c` is
    * the refined centroid table every downstream CTE assigns against. */
  private val refinedCentroidCtesSql: String =
    s"e AS (SELECT vec_id, $toDoubleSql AS v FROM embeddings), " +
      // internal names carry an i-prefix so this chain composes with the
      // PQ chain (whose codebooks are c0..c3) in one WITH clause
      s"ic0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfK), " +
      s"ia0s AS (SELECT e.vec_id, e.v, ic0.cid, round(${cosSql("e.v", "ic0.cv")}, 6) AS sim FROM e CROSS JOIN ic0), " +
      "ia0 AS (SELECT vec_id, v, cid AS cell FROM (SELECT vec_id, v, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ia0s) WHERE rn = 1), " +
      "imean AS (SELECT cell, p.pos, CAST(sum(CAST(v[p.pos] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mx " +
      s"FROM ia0 CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS pos) p GROUP BY cell, p.pos), " +
      "c AS (SELECT cell AS cid, list(mx ORDER BY pos) AS cv FROM imean GROUP BY cell)"

  /** The full hybrid_rrf_ivf CTE chain through the fused top-5 list
    * `hr` — shared by the hybrid_rrf_ivf oracle and the ranking eval's
    * (which grades exactly this list), so the system-under-eval and its
    * own gate can never diverge in SQL. */
  private def hybridRrfIvfCtesSql: String =
    s"$refinedCentroidCtesSql, " +
      s"ascored AS (SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS sim FROM e CROSS JOIN c), " +
      "assign AS (SELECT vec_id AS cand_id, cid AS cell FROM " +
      "(SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ascored) WHERE rn = 1), " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
      s"pscored AS (SELECT q.qid, q.qv, c.cid, round(${cosSql("q.qv", "c.cv")}, 6) AS csim FROM q CROSS JOIN c), " +
      "probes AS (SELECT qid, qv, cid AS cell FROM " +
      s"(SELECT qid, qv, cid, row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cid) AS pr FROM pscored) WHERE pr <= $IvfProbes), " +
      "cand AS (SELECT p.qid, p.qv, a.cand_id FROM probes p JOIN assign a ON p.cell = a.cell WHERE a.cand_id <> p.qid), " +
      s"cscored AS (SELECT qid, cand_id, round(${cosSql("qv", "e2.v")}, 6) AS cos FROM cand JOIN e e2 ON e2.vec_id = cand_id), " +
      "ann AS (SELECT qid, cand_id, ar FROM (SELECT qid, cand_id, " +
      "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand_id) AS ar FROM cscored) WHERE ar <= 10), " +
      s"${TextAnalysis.bm25ScoredCteSql}, " +
      "qt2 AS (SELECT doc_id AS qid, word FROM (SELECT doc_id, word, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, word) AS rn " +
      "FROM bscored WHERE doc_id < 10) WHERE rn <= 3), " +
      "lexs AS (SELECT qt2.qid, s.doc_id AS cand_id, CAST(sum(s.bm25) AS BIGINT) AS lex " +
      "FROM qt2 JOIN bscored s USING (word) WHERE s.doc_id <> qt2.qid GROUP BY 1, 2), " +
      "lex AS (SELECT qid, cand_id, lr FROM (SELECT qid, cand_id, " +
      "row_number() OVER (PARTITION BY qid ORDER BY lex DESC, cand_id) AS lr FROM lexs) WHERE lr <= 10), " +
      "fused AS (SELECT coalesce(a.qid, l.qid) AS qid, coalesce(a.cand_id, l.cand_id) AS cand_id, " +
      "coalesce(1000000000000 // (60 + a.ar), 0) + coalesce(1000000000000 // (60 + l.lr), 0) AS rrf " +
      "FROM ann a FULL JOIN lex l ON a.qid = l.qid AND a.cand_id = l.cand_id), " +
      "hr AS (SELECT qid, cand_id, CAST(rrf AS BIGINT) AS rrf, CAST(rrf_rank AS INT) AS rrf_rank FROM " +
      "(SELECT qid, cand_id, rrf, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cand_id) AS rrf_rank FROM fused) " +
      "WHERE rrf_rank <= 5)"

  /** Resident-corpus twin of refinedCentroidCtesSql: seeds and the Lloyd
    * step use only vec_id ≢ 0 mod 10 (the corpus that built the
    * incremental index); `c` is what the stored centroids contain. */
  private val residentCentroidCtesSql: String =
    s"e AS (SELECT vec_id, $toDoubleSql AS v FROM embeddings), " +
      "res AS (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 0), " +
      s"c0 AS (SELECT vec_id AS cid, v AS cv FROM res WHERE vec_id < $IvfK), " +
      s"a0s AS (SELECT res.vec_id, res.v, c0.cid, round(${cosSql("res.v", "c0.cv")}, 6) AS sim FROM res CROSS JOIN c0), " +
      "a0 AS (SELECT vec_id, v, cid AS cell FROM (SELECT vec_id, v, cid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM a0s) WHERE rn = 1), " +
      "mean AS (SELECT cell, p.pos, CAST(sum(CAST(v[p.pos] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mx " +
      s"FROM a0 CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS pos) p GROUP BY cell, p.pos), " +
      "c AS (SELECT cell AS cid, list(mx ORDER BY pos) AS cv FROM mean GROUP BY cell)"

  /** Strict left-fold squared L2 in DuckDB — same order as pqD2. */
  private def pqD2Sql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, $PqSub), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"

  /** DuckDB twin of the PQ build+encode: per subspace m — sub-vector
    * slice, first-PqK seed assign, exact-decimal per-position mean
    * (codebook), final assign against the refined codebook. CTE names:
    * a1{m} carries subspace m's final (vec_id, cid, d2). */
  private val pqPerSubspaceCtesSql: String =
    (0 until PqM).map { m =>
      val lo = m * PqSub + 1
      s"s$m AS (SELECT vec_id, list_transform(generate_series($lo, ${lo + PqSub - 1}), i -> v[i]) AS sv FROM e), " +
        s"c0$m AS (SELECT vec_id AS cid, sv AS cv FROM s$m WHERE vec_id < $PqK), " +
        s"a0${m}s AS (SELECT s.vec_id, s.sv, c.cid, round(${pqD2Sql("s.sv", "c.cv")}, 6) AS d2 FROM s$m s CROSS JOIN c0$m c), " +
        s"a0$m AS (SELECT vec_id, sv, cid FROM (SELECT vec_id, sv, cid, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM a0${m}s) WHERE rn = 1), " +
        s"mean$m AS (SELECT cid, p.pos, CAST(sum(CAST(sv[p.pos] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mx " +
        s"FROM a0$m CROSS JOIN (SELECT unnest(generate_series(1, $PqSub)) AS pos) p GROUP BY cid, p.pos), " +
        s"c$m AS (SELECT cid, list(mx ORDER BY pos) AS cv FROM mean$m GROUP BY cid), " +
        s"a1${m}s AS (SELECT s.vec_id, c.cid, round(${pqD2Sql("s.sv", "c.cv")}, 6) AS d2 FROM s$m s CROSS JOIN c$m c), " +
        s"a1$m AS (SELECT vec_id, cid, d2 FROM (SELECT vec_id, cid, d2, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM a1${m}s) WHERE rn = 1)"
    }.mkString(", ")

  private val pqCtesSql: String =
    s"e AS (SELECT vec_id, $toDoubleSql AS v FROM embeddings), $pqPerSubspaceCtesSql"

  /** DuckDB twin of pqRefresh, per subspace m (q-prefixed names so the
    * chain stands alone): resident-seeded stale codebook → stale encode
    * of the full corpus → one Lloyd step from the stored codes (fresh
    * codebook) → fresh encode; the final select unions the four
    * subspaces' count + SSE pairs. */
  private val pqRefreshCtesSql: String =
    (0 until PqM).map { m =>
      val lo = m * PqSub + 1
      s"qs$m AS (SELECT vec_id, list_transform(generate_series($lo, ${lo + PqSub - 1}), i -> v[i]) AS sv FROM e), " +
        s"qr$m AS (SELECT vec_id, sv FROM qs$m WHERE vec_id % 10 <> 0), " +
        s"qc0$m AS (SELECT vec_id AS cid, sv AS cv FROM qr$m WHERE vec_id < $PqK), " +
        s"qa0${m}s AS (SELECT r.vec_id, r.sv, c.cid, round(${pqD2Sql("r.sv", "c.cv")}, 6) AS d2 FROM qr$m r CROSS JOIN qc0$m c), " +
        s"qa0$m AS (SELECT vec_id, sv, cid FROM (SELECT vec_id, sv, cid, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM qa0${m}s) WHERE rn = 1), " +
        s"qmean$m AS (SELECT cid, p.pos, CAST(sum(CAST(sv[p.pos] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mx " +
        s"FROM qa0$m CROSS JOIN (SELECT unnest(generate_series(1, $PqSub)) AS pos) p GROUP BY cid, p.pos), " +
        s"qc$m AS (SELECT cid, list(mx ORDER BY pos) AS cv FROM qmean$m GROUP BY cid), " +
        s"qsa${m}s AS (SELECT s.vec_id, s.sv, c.cid, round(${pqD2Sql("s.sv", "c.cv")}, 6) AS d2 FROM qs$m s CROSS JOIN qc$m c), " +
        s"qsa$m AS (SELECT vec_id, sv, cid, d2 FROM (SELECT vec_id, sv, cid, d2, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM qsa${m}s) WHERE rn = 1), " +
        s"qfmean$m AS (SELECT cid, p.pos, CAST(sum(CAST(sv[p.pos] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mx " +
        s"FROM qsa$m CROSS JOIN (SELECT unnest(generate_series(1, $PqSub)) AS pos) p GROUP BY cid, p.pos), " +
        s"qfc$m AS (SELECT cid, list(mx ORDER BY pos) AS cv FROM qfmean$m GROUP BY cid), " +
        s"qfa${m}s AS (SELECT s.vec_id, c.cid, round(${pqD2Sql("s.sv", "c.cv")}, 6) AS d2 FROM qs$m s CROSS JOIN qfc$m c), " +
        s"qfa$m AS (SELECT vec_id, d2 FROM (SELECT vec_id, d2, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM qfa${m}s) WHERE rn = 1)"
    }.mkString(", ")

  /** Per-query ADC lookup tables lut0..lut3 (query sub-vectors × refined
    * codebooks), shared by pq_adc_recall and ivf_pq_search. */
  private val pqLutsSql: String = (0 until PqM).map { m =>
    val lo = m * PqSub + 1
    s"lut$m AS (SELECT q.qid, c.cid, round(${pqD2Sql("q.qs", "c.cv")}, 6) AS qd2 " +
      s"FROM (SELECT vec_id AS qid, list_transform(generate_series($lo, ${lo + PqSub - 1}), i -> v[i]) AS qs " +
      s"FROM e WHERE vec_id < 10) q CROSS JOIN c$m c)"
  }.mkString(", ")

  val oracle: Map[String, String] = Map(
    "embed_drift" ->
      (s"WITH e AS (SELECT vec_id, $toDoubleSql AS v, label, " +
        "CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref FROM embeddings), " +
        "mean AS (SELECT label, is_ref, p.pos, " +
        "CAST(sum(CAST(v[p.pos] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mx " +
        s"FROM e CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS pos) p " +
        "GROUP BY label, is_ref, p.pos), " +
        "d AS (SELECT r.label, CAST(round(r.mx - c.mx, 6) AS DECIMAL(18,6)) AS d " +
        "FROM (SELECT * FROM mean WHERE is_ref = 1) r " +
        "JOIN (SELECT * FROM mean WHERE is_ref = 0) c ON r.label = c.label AND r.pos = c.pos), " +
        "shift AS (SELECT label, round(CAST(sum(d * d) AS DOUBLE), 6) AS centroid_shift_l2sq " +
        "FROM d GROUP BY label), " +
        "cnt AS (SELECT label, CAST(sum(is_ref) AS BIGINT) AS n_ref, " +
        "CAST(sum(1 - is_ref) AS BIGINT) AS n_cur FROM e GROUP BY label), " +
        "tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tot_ref, CAST(sum(n_cur) AS BIGINT) AS tot_cur FROM cnt) " +
        "SELECT cnt.label, n_ref, n_cur, " +
        "(1000000 * n_cur) // tot_cur - (1000000 * n_ref) // tot_ref AS share_shift_ppm, " +
        "centroid_shift_l2sq " +
        "FROM cnt JOIN shift USING (label) CROSS JOIN tot ORDER BY cnt.label"),
    "pq_encode" ->
      (s"WITH $pqCtesSql " +
        "SELECT a10.vec_id, CAST(a10.cid AS INT) AS code0, CAST(a11.cid AS INT) AS code1, " +
        "CAST(a12.cid AS INT) AS code2, CAST(a13.cid AS INT) AS code3 " +
        "FROM a10 JOIN a11 USING (vec_id) JOIN a12 USING (vec_id) JOIN a13 USING (vec_id) " +
        "ORDER BY vec_id"),
    "pq_recon_error" ->
      (s"WITH $pqCtesSql " +
        "SELECT a10.vec_id, a10.d2 AS err0, a11.d2 AS err1, a12.d2 AS err2, a13.d2 AS err3, " +
        "a10.d2 + a11.d2 + a12.d2 + a13.d2 AS err_total " +
        "FROM a10 JOIN a11 USING (vec_id) JOIN a12 USING (vec_id) JOIN a13 USING (vec_id) " +
        "ORDER BY vec_id"),
    "pq_adc_recall" -> {
      val luts = pqLutsSql
      val fullD2 =
        s"list_reduce(list_transform(generate_series(1, $Dim), " +
          "i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i])), (x, y) -> x + y)"
      s"WITH $pqCtesSql, $luts, " +
        "adc AS (SELECT l0.qid, a10.vec_id, l0.qd2 + l1.qd2 + l2.qd2 + l3.qd2 AS dist " +
        "FROM a10 JOIN a11 USING (vec_id) JOIN a12 USING (vec_id) JOIN a13 USING (vec_id) " +
        "JOIN lut0 l0 ON l0.cid = a10.cid " +
        "JOIN lut1 l1 ON l1.cid = a11.cid AND l1.qid = l0.qid " +
        "JOIN lut2 l2 ON l2.cid = a12.cid AND l2.qid = l0.qid " +
        "JOIN lut3 l3 ON l3.cid = a13.cid AND l3.qid = l0.qid " +
        "WHERE a10.vec_id <> l0.qid), " +
        "adct AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM adc) WHERE rn <= 5), " +
        s"ex AS (SELECT q.qid, e.vec_id, round($fullD2, 6) AS dist " +
        "FROM e CROSS JOIN (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10) q " +
        "WHERE e.vec_id <> q.qid), " +
        "ext AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM ex) WHERE rn <= 5), " +
        "ov AS (SELECT a.qid, CAST(count(*) AS BIGINT) AS n FROM adct a " +
        "JOIN ext x ON a.qid = x.qid AND a.vec_id = x.vec_id GROUP BY a.qid) " +
        "SELECT q.qid, coalesce(ov.n, 0) AS n_overlap, coalesce(ov.n, 0) * 20 AS recall_pct " +
        "FROM (SELECT vec_id AS qid FROM e WHERE vec_id < 10) q " +
        "LEFT JOIN ov USING (qid) ORDER BY qid"
    },
    "embed_qa" ->
      ("""SELECT label,
         |  CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(coalesce(sum(CASE WHEN embedding IS NULL THEN 1 END), 0) AS BIGINT) AS n_null,
         |  CAST(coalesce(min(CASE WHEN embedding IS NOT NULL THEN len(embedding) END), 0) AS INT) AS min_dim,
         |  CAST(coalesce(max(CASE WHEN embedding IS NOT NULL THEN len(embedding) END), 0) AS INT) AS max_dim,
         |  CAST(coalesce(sum(CASE WHEN embedding IS NOT NULL
         |    AND len(list_filter(embedding, x -> x <> 0)) = 0 THEN 1 END), 0) AS BIGINT) AS n_zero_norm,
         |  CAST(coalesce(sum(CASE WHEN embedding IS NOT NULL
         |    AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) > 0 THEN 1 END), 0) AS BIGINT) AS n_nonfinite
         |FROM embeddings GROUP BY label ORDER BY label""".stripMargin),
    "ivf_incremental" ->
      // from-scratch assignment of the FULL corpus against the
      // resident-built centroids: green iff the appended delta rows match
      // what a rebuild under the same centroids would have produced
      (s"WITH $residentCentroidCtesSql, " +
        s"ascored AS (SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS sim FROM e CROSS JOIN c), " +
        "assign AS (SELECT vec_id, cid AS cell FROM " +
        "(SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ascored) WHERE rn = 1) " +
        "SELECT vec_id, cell, CAST(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END AS INT) AS is_new " +
        "FROM assign ORDER BY vec_id"),
    "pq_refresh" -> {
      val perM = (0 until PqM).map { m =>
        s"SELECT $m AS m, (SELECT CAST(count(*) AS BIGINT) FROM qsa$m) AS n, " +
          s"(SELECT CAST(sum(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) FROM qsa$m) AS sse_stale, " +
          s"(SELECT CAST(sum(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) FROM qfa$m) AS sse_fresh"
      }.mkString(" UNION ALL ")
      s"WITH e AS (SELECT vec_id, $toDoubleSql AS v FROM embeddings), $pqRefreshCtesSql " +
        s"SELECT m, n, sse_stale, sse_fresh, sse_fresh <= sse_stale AS improved " +
        s"FROM ($perM) ORDER BY m"
    },
    "ivf_refresh" ->
      // refreshed centroids recomputed from the RAW embeddings end to
      // end (stale resident centroids → full-corpus assignment → one
      // Lloyd-step mean), so hash-green proves the Spark side's
      // refresh-from-stored-lists ≡ a from-scratch recomputation; both
      // probe paths and the exact truth replayed per query
      (s"WITH $residentCentroidCtesSql, " +
        s"ascored AS (SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS sim FROM e CROSS JOIN c), " +
        "assign AS (SELECT vec_id AS cand_id, cid AS cell FROM " +
        "(SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ascored) WHERE rn = 1), " +
        "nmean AS (SELECT a.cell, p.pos, CAST(sum(CAST(e.v[p.pos] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mx " +
        s"FROM assign a JOIN e ON e.vec_id = a.cand_id CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS pos) p GROUP BY a.cell, p.pos), " +
        "nc AS (SELECT cell AS cid, list(mx ORDER BY pos) AS cv FROM nmean GROUP BY cell), " +
        s"fascored AS (SELECT e.vec_id, nc.cid, round(${cosSql("e.v", "nc.cv")}, 6) AS sim FROM e CROSS JOIN nc), " +
        "fassign AS (SELECT vec_id AS cand_id, cid AS cell FROM " +
        "(SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM fascored) WHERE rn = 1), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        s"spsc AS (SELECT q.qid, q.qv, c.cid, round(${cosSql("q.qv", "c.cv")}, 6) AS csim FROM q CROSS JOIN c), " +
        "sprb AS (SELECT qid, qv, cid AS cell FROM " +
        s"(SELECT qid, qv, cid, row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cid) AS pr FROM spsc) WHERE pr <= $IvfProbes), " +
        "scand AS (SELECT p.qid, p.qv, a.cand_id FROM sprb p JOIN assign a ON p.cell = a.cell WHERE a.cand_id <> p.qid), " +
        s"scsc AS (SELECT qid, cand_id, round(${cosSql("qv", "e2.v")}, 6) AS cos FROM scand JOIN e e2 ON e2.vec_id = cand_id), " +
        "stop AS (SELECT qid, cand_id FROM (SELECT qid, cand_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand_id) AS rn FROM scsc) WHERE rn <= 3), " +
        s"fpsc AS (SELECT q.qid, q.qv, nc.cid, round(${cosSql("q.qv", "nc.cv")}, 6) AS csim FROM q CROSS JOIN nc), " +
        "fprb AS (SELECT qid, qv, cid AS cell FROM " +
        s"(SELECT qid, qv, cid, row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cid) AS pr FROM fpsc) WHERE pr <= $IvfProbes), " +
        "fcand AS (SELECT p.qid, p.qv, a.cand_id FROM fprb p JOIN fassign a ON p.cell = a.cell WHERE a.cand_id <> p.qid), " +
        s"fcsc AS (SELECT qid, cand_id, round(${cosSql("qv", "e2.v")}, 6) AS cos FROM fcand JOIN e e2 ON e2.vec_id = cand_id), " +
        "ftop AS (SELECT qid, cand_id FROM (SELECT qid, cand_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand_id) AS rn FROM fcsc) WHERE rn <= 3), " +
        s"exs AS (SELECT q.qid, e.vec_id, round(${cosSql("e.v", "q.qv")}, 6) AS cos FROM e CROSS JOIN q WHERE e.vec_id <> q.qid), " +
        "ext AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM exs) WHERE rn <= 3), " +
        "sov AS (SELECT a.qid, CAST(count(*) AS BIGINT) AS n FROM stop a JOIN ext x ON a.qid = x.qid AND a.cand_id = x.vec_id GROUP BY a.qid), " +
        "fov AS (SELECT a.qid, CAST(count(*) AS BIGINT) AS n FROM ftop a JOIN ext x ON a.qid = x.qid AND a.cand_id = x.vec_id GROUP BY a.qid) " +
        "SELECT q.qid, coalesce(sov.n, 0) AS n_stale, coalesce(fov.n, 0) AS n_fresh, " +
        "coalesce(sov.n, 0) * 100 // 3 AS recall_stale_pct, coalesce(fov.n, 0) * 100 // 3 AS recall_fresh_pct " +
        "FROM q LEFT JOIN sov USING (qid) LEFT JOIN fov USING (qid) ORDER BY qid"),
    "embed_quantize" ->
      // exact side only + literal true — green iff the Spark-side
      // quantized cosine is actually within the 0.02 bound (the
      // approx_distinct pattern: sketch internals are engine-specific,
      // the error bound is the testable contract)
      (s"WITH e AS (SELECT vec_id, $toDoubleSql AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        s"scored AS (SELECT qid, vec_id, round(${cosSql("qv", "v")}, 6) AS cos " +
        "FROM e CROSS JOIN q WHERE vec_id <> qid), " +
        "ranked AS (SELECT qid, vec_id, cos, row_number() OVER " +
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM scored) " +
        "SELECT qid, vec_id, cos, rn, true AS within_bound FROM ranked WHERE rn <= 5 ORDER BY qid, rn"),
    "cosine_topk" ->
      (s"WITH e AS (SELECT vec_id, $toDoubleSql AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        s"scored AS (SELECT qid, vec_id, round(${cosSql("qv", "v")}, 6) AS cos " +
        "FROM e CROSS JOIN q WHERE vec_id <> qid), " +
        "ranked AS (SELECT qid, vec_id, cos, row_number() OVER " +
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM scored) " +
        "SELECT qid, vec_id, cos, rn FROM ranked WHERE rn <= 5 ORDER BY qid, rn"),
    "embed_project" -> {
      // same integer LCG matrix regenerated literally; exact int64 fold
      val qSql = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
      val pCols = (0 until ProjK).map { j =>
        val rj = (0 until Dim).map(i => projCoef(i, j).toString).mkString("[", ", ", "]")
        s"list_reduce(list_transform(generate_series(1, $Dim), i -> q[i] * ($rj)[i]), (x, y) -> x + y) AS p$j"
      }.mkString(", ")
      s"SELECT vec_id, $pCols FROM (SELECT vec_id, $qSql AS q FROM embeddings) ORDER BY vec_id"
    },
    "ann_lsh_buckets" ->
      (s"SELECT vec_id, CAST($bucketSql AS INT) AS bucket " +
        s"FROM (SELECT vec_id, $toDoubleSql AS v FROM embeddings) ORDER BY vec_id"),
    "ann_lsh_pairs" ->
      s"WITH $bandedPairsCtesSql SELECT id1, id2, cos FROM scored ORDER BY id1, id2",
    "embed_prefix_recall" -> {
      val prefixBlocks = Seq(8, 16, 32).map { p =>
        s"sp$p AS (SELECT qid, e.vec_id, round(${cosSqlP("qv", "e.v", p)}, 6) AS pcos " +
          "FROM e CROSS JOIN q WHERE e.vec_id <> qid), " +
          s"rp$p AS (SELECT qid, vec_id, row_number() OVER " +
          s"(PARTITION BY qid ORDER BY pcos DESC, vec_id) AS rn FROM sp$p), " +
          s"tp$p AS (SELECT qid, vec_id, $p AS prefix_dim FROM rp$p WHERE rn <= 5)"
      }.mkString(", ")
      s"WITH e AS (SELECT vec_id, $toDoubleSql AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        s"fs AS (SELECT qid, e.vec_id, round(${cosSql("qv", "e.v")}, 6) AS cos " +
        "FROM e CROSS JOIN q WHERE e.vec_id <> qid), " +
        "fr AS (SELECT qid, vec_id, row_number() OVER " +
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM fs), " +
        "truth AS (SELECT qid, vec_id FROM fr WHERE rn <= 5), " +
        prefixBlocks + ", " +
        "cand AS (SELECT qid, vec_id, prefix_dim, 1 AS hit FROM " +
        "(SELECT * FROM tp8 UNION ALL SELECT * FROM tp16 UNION ALL SELECT * FROM tp32)), " +
        "grid AS (SELECT t.qid, t.vec_id, p.prefix_dim FROM truth t " +
        "CROSS JOIN (SELECT unnest([8, 16, 32]) AS prefix_dim) p) " +
        "SELECT g.qid AS qid, CAST(g.prefix_dim AS INT) AS prefix_dim, count(*) AS n_true, " +
        "CAST(sum(coalesce(c.hit, 0)) AS BIGINT) AS n_hit, " +
        "CAST((1000000 * sum(coalesce(c.hit, 0))) // count(*) AS BIGINT) AS recall_ppm " +
        "FROM grid g LEFT JOIN cand c ON g.qid = c.qid AND g.vec_id = c.vec_id " +
        "AND g.prefix_dim = c.prefix_dim " +
        "GROUP BY g.qid, g.prefix_dim ORDER BY g.qid, g.prefix_dim"
    },
    "ann_recall_report" ->
      (s"WITH $bandedPairsCtesSql, " +
        "tq AS (SELECT vec_id AS qid, v AS qv FROM b WHERE vec_id < 10), " +
        s"ts AS (SELECT qid, b.vec_id, round(${cosSql("qv", "b.v")}, 6) AS cos " +
        "FROM b CROSS JOIN tq WHERE b.vec_id <> qid), " +
        "tr AS (SELECT qid, vec_id, row_number() OVER " +
        "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM ts), " +
        "truth AS (SELECT qid, vec_id FROM tr WHERE rn <= 5), " +
        "cand AS (SELECT DISTINCT qid, vec_id FROM " +
        "(SELECT id1 AS qid, id2 AS vec_id FROM p UNION ALL SELECT id2, id1 FROM p) " +
        "WHERE qid < 10) " +
        "SELECT t.qid, count(*) AS n_true, " +
        "CAST(sum(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, " +
        "CAST((1000000 * sum(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS recall_ppm " +
        "FROM truth t LEFT JOIN cand c ON t.qid = c.qid AND t.vec_id = c.vec_id " +
        "GROUP BY t.qid ORDER BY t.qid"),
    "embed_clusters" ->
      (s"WITH RECURSIVE $bandedPairsCtesSql, " +
        "fedges AS (SELECT id1, id2 FROM scored WHERE cos >= 0.3), " +
        "gedges AS (SELECT id1 AS id, id2 AS nbr FROM fedges UNION SELECT id2, id1 FROM fedges), " +
        "reach AS (SELECT id, nbr AS r FROM gedges " +
        "UNION SELECT e.id, r.r FROM gedges e JOIN reach r ON e.nbr = r.id), " +
        "lbl AS (SELECT id, least(id, min(r)) AS cl FROM reach GROUP BY id) " +
        "SELECT vec_id, COALESCE(lbl.cl, vec_id) AS cluster_id " +
        "FROM embeddings LEFT JOIN lbl ON vec_id = lbl.id ORDER BY vec_id"),
    "knn_graph" ->
      (s"WITH $bandedPairsCtesSql, " +
        "sym AS (SELECT id1 AS src, id2 AS dst, cos FROM scored " +
        "UNION ALL SELECT id2 AS src, id1 AS dst, cos FROM scored), " +
        "ranked AS (SELECT src, dst, cos, row_number() OVER " +
        "(PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM sym) " +
        "SELECT src, dst, cos, CAST(rn AS INT) AS rn FROM ranked WHERE rn <= 3 ORDER BY src, rn"),
    "mutual_knn" ->
      (s"WITH $bandedPairsCtesSql, " +
        "sym AS (SELECT id1 AS src, id2 AS dst, cos FROM scored " +
        "UNION ALL SELECT id2 AS src, id1 AS dst, cos FROM scored), " +
        "ranked AS (SELECT src, dst, cos, row_number() OVER " +
        "(PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM sym), " +
        "knn AS (SELECT src, dst, cos FROM ranked WHERE rn <= 3) " +
        "SELECT a.src AS id1, a.dst AS id2, a.cos FROM knn a " +
        "JOIN knn b ON a.src = b.dst AND a.dst = b.src " +
        "WHERE a.src < a.dst ORDER BY id1, id2"),
    "dedup_embedding" ->
      (s"WITH $bandedPairsCtesSql SELECT id1, id2, cos FROM scored " +
        "WHERE cos >= 0.5 ORDER BY id1, id2"),
    "ivf_assign" ->
      (s"WITH $refinedCentroidCtesSql, " +
        s"scored AS (SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS sim FROM e CROSS JOIN c), " +
        "ranked AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM scored) " +
        "SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1 ORDER BY vec_id"),
    "ivf_search" ->
      (s"WITH $refinedCentroidCtesSql, " +
        s"ascored AS (SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS sim FROM e CROSS JOIN c), " +
        "assign AS (SELECT vec_id AS cand_id, cid AS cell FROM " +
        "(SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ascored) WHERE rn = 1), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        s"pscored AS (SELECT q.qid, q.qv, c.cid, round(${cosSql("q.qv", "c.cv")}, 6) AS csim FROM q CROSS JOIN c), " +
        "probes AS (SELECT qid, qv, cid AS cell FROM " +
        s"(SELECT qid, qv, cid, row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cid) AS pr FROM pscored) WHERE pr <= $IvfProbes), " +
        "cand AS (SELECT p.qid, p.qv, a.cand_id FROM probes p JOIN assign a ON p.cell = a.cell WHERE a.cand_id <> p.qid), " +
        s"cscored AS (SELECT qid, cand_id, round(${cosSql("qv", "e2.v")}, 6) AS cos FROM cand JOIN e e2 ON e2.vec_id = cand_id), " +
        "ranked AS (SELECT qid, cand_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand_id) AS rn FROM cscored) " +
        "SELECT qid, cand_id, cos, rn FROM ranked WHERE rn <= 3 ORDER BY qid, rn"),
    "ivf_search_filtered" ->
      (s"WITH $refinedCentroidCtesSql, " +
        s"ascored AS (SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS sim FROM e CROSS JOIN c), " +
        "assign AS (SELECT vec_id AS cand_id, cid AS cell FROM " +
        "(SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ascored) WHERE rn = 1), " +
        "keep AS (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        s"pscored AS (SELECT q.qid, q.qv, c.cid, round(${cosSql("q.qv", "c.cv")}, 6) AS csim FROM q CROSS JOIN c), " +
        "probes AS (SELECT qid, qv, cid AS cell FROM " +
        s"(SELECT qid, qv, cid, row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cid) AS pr FROM pscored) WHERE pr <= $IvfProbes), " +
        "cand AS (SELECT p.qid, p.qv, a.cand_id FROM probes p JOIN assign a ON p.cell = a.cell " +
        "WHERE a.cand_id <> p.qid AND a.cand_id IN (SELECT doc_id FROM keep)), " +
        s"cscored AS (SELECT qid, cand_id, round(${cosSql("qv", "e2.v")}, 6) AS cos FROM cand JOIN e e2 ON e2.vec_id = cand_id), " +
        "ranked AS (SELECT qid, cand_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand_id) AS rn FROM cscored) " +
        "SELECT qid, cand_id, cos, rn FROM ranked WHERE rn <= 3 ORDER BY qid, rn"),
    "hybrid_rrf" ->
      (s"WITH e AS (SELECT vec_id, $toDoubleSql AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        s"ascr AS (SELECT qid, vec_id AS cand_id, round(${cosSql("qv", "v")}, 6) AS cos " +
        "FROM e CROSS JOIN q WHERE vec_id <> qid), " +
        "ann AS (SELECT qid, cand_id, ar FROM (SELECT qid, cand_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand_id) AS ar FROM ascr) WHERE ar <= 10), " +
        s"${TextAnalysis.bm25ScoredCteSql}, " +
        "qt2 AS (SELECT doc_id AS qid, word FROM (SELECT doc_id, word, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, word) AS rn " +
        "FROM bscored WHERE doc_id < 10) WHERE rn <= 3), " +
        "lexs AS (SELECT qt2.qid, s.doc_id AS cand_id, CAST(sum(s.bm25) AS BIGINT) AS lex " +
        "FROM qt2 JOIN bscored s USING (word) WHERE s.doc_id <> qt2.qid GROUP BY 1, 2), " +
        "lex AS (SELECT qid, cand_id, lr FROM (SELECT qid, cand_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY lex DESC, cand_id) AS lr FROM lexs) WHERE lr <= 10), " +
        "fused AS (SELECT coalesce(a.qid, l.qid) AS qid, coalesce(a.cand_id, l.cand_id) AS cand_id, " +
        "coalesce(1000000000000 // (60 + a.ar), 0) + coalesce(1000000000000 // (60 + l.lr), 0) AS rrf " +
        "FROM ann a FULL JOIN lex l ON a.qid = l.qid AND a.cand_id = l.cand_id) " +
        "SELECT qid, cand_id, CAST(rrf AS BIGINT) AS rrf, CAST(rrf_rank AS INT) AS rrf_rank FROM " +
        "(SELECT qid, cand_id, rrf, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cand_id) AS rrf_rank FROM fused) " +
        "WHERE rrf_rank <= 5 ORDER BY qid, rrf_rank"),
    // identical to hybrid_rrf except the vector leg is the persisted
    // IVF probe (top-10 by exact cosine within probed cells) instead of
    // the brute-force corpus scan
    "hybrid_rrf_ivf" ->
      s"WITH $hybridRrfIvfCtesSql SELECT qid, cand_id, rrf, rrf_rank FROM hr ORDER BY qid, rrf_rank",
    // the fused serving list `hr` graded by the exact brute-force
    // cosine top-10 (xa); discounts/IDCG are the Scala-side literals
    "retrieval_rank_eval" ->
      (s"WITH $hybridRrfIvfCtesSql, " +
        s"xs AS (SELECT q.qid, e.vec_id AS cand_id, round(${cosSql("q.qv", "e.v")}, 6) AS xcos " +
        "FROM e CROSS JOIN q WHERE e.vec_id <> q.qid), " +
        "xa AS (SELECT qid, cand_id, xr FROM (SELECT qid, cand_id, " +
        s"row_number() OVER (PARTITION BY qid ORDER BY xcos DESC, cand_id) AS xr FROM xs) WHERE xr <= $RelDepth), " +
        s"gr AS (SELECT hr.qid, hr.rrf_rank, coalesce(${RelDepth + 1} - xa.xr, 0) AS rel " +
        "FROM hr LEFT JOIN xa ON xa.qid = hr.qid AND xa.cand_id = hr.cand_id), " +
        "ev AS (SELECT qid, CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel, " +
        "CAST(coalesce(min(CASE WHEN rel > 0 THEN rrf_rank END), 0) AS INT) AS first_rel_rank, " +
        s"CAST(sum(CAST(rel AS BIGINT) * ($discCaseSql)) AS BIGINT) AS dcg FROM gr GROUP BY qid) " +
        "SELECT qid, n_rel, first_rel_rank, " +
        "CASE WHEN first_rel_rank > 0 THEN CAST(1000000 AS BIGINT) // first_rel_rank ELSE CAST(0 AS BIGINT) END AS rr_ppm, " +
        s"dcg, (1000000 * dcg) // $ndcgIdcgScaled AS ndcg_ppm FROM ev ORDER BY qid"),
    // identical to hybrid_rrf except both legs admit only keep docs
    // BEFORE their rankings (filter-then-rank)
    "hybrid_rrf_filtered" ->
      (s"WITH e AS (SELECT vec_id, $toDoubleSql AS v FROM embeddings), " +
        "keep AS (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        s"ascr AS (SELECT qid, vec_id AS cand_id, round(${cosSql("qv", "v")}, 6) AS cos " +
        "FROM e CROSS JOIN q WHERE vec_id <> qid AND vec_id IN (SELECT doc_id FROM keep)), " +
        "ann AS (SELECT qid, cand_id, ar FROM (SELECT qid, cand_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand_id) AS ar FROM ascr) WHERE ar <= 10), " +
        s"${TextAnalysis.bm25ScoredCteSql}, " +
        "qt2 AS (SELECT doc_id AS qid, word FROM (SELECT doc_id, word, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, word) AS rn " +
        "FROM bscored WHERE doc_id < 10) WHERE rn <= 3), " +
        "lexs AS (SELECT qt2.qid, s.doc_id AS cand_id, CAST(sum(s.bm25) AS BIGINT) AS lex " +
        "FROM qt2 JOIN bscored s USING (word) WHERE s.doc_id <> qt2.qid " +
        "AND s.doc_id IN (SELECT doc_id FROM keep) GROUP BY 1, 2), " +
        "lex AS (SELECT qid, cand_id, lr FROM (SELECT qid, cand_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY lex DESC, cand_id) AS lr FROM lexs) WHERE lr <= 10), " +
        "fused AS (SELECT coalesce(a.qid, l.qid) AS qid, coalesce(a.cand_id, l.cand_id) AS cand_id, " +
        "coalesce(1000000000000 // (60 + a.ar), 0) + coalesce(1000000000000 // (60 + l.lr), 0) AS rrf " +
        "FROM ann a FULL JOIN lex l ON a.qid = l.qid AND a.cand_id = l.cand_id) " +
        "SELECT qid, cand_id, CAST(rrf AS BIGINT) AS rrf, CAST(rrf_rank AS INT) AS rrf_rank FROM " +
        "(SELECT qid, cand_id, rrf, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cand_id) AS rrf_rank FROM fused) " +
        "WHERE rrf_rank <= 5 ORDER BY qid, rrf_rank"),
    "ivf_pq_search" ->
      (s"WITH $refinedCentroidCtesSql, $pqPerSubspaceCtesSql, $pqLutsSql, " +
        s"ascored AS (SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS sim FROM e CROSS JOIN c), " +
        "assign AS (SELECT vec_id, cid AS cell FROM " +
        "(SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ascored) WHERE rn = 1), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        s"pscored AS (SELECT q.qid, c.cid, round(${cosSql("q.qv", "c.cv")}, 6) AS csim FROM q CROSS JOIN c), " +
        "probes AS (SELECT qid, cid AS cell FROM " +
        s"(SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cid) AS pr FROM pscored) WHERE pr <= $IvfProbes), " +
        "adc AS (SELECT p.qid, a10.vec_id, l0.qd2 + l1.qd2 + l2.qd2 + l3.qd2 AS dist " +
        "FROM a10 JOIN a11 USING (vec_id) JOIN a12 USING (vec_id) JOIN a13 USING (vec_id) " +
        "JOIN assign ON assign.vec_id = a10.vec_id " +
        "JOIN probes p ON p.cell = assign.cell " +
        "JOIN lut0 l0 ON l0.cid = a10.cid AND l0.qid = p.qid " +
        "JOIN lut1 l1 ON l1.cid = a11.cid AND l1.qid = p.qid " +
        "JOIN lut2 l2 ON l2.cid = a12.cid AND l2.qid = p.qid " +
        "JOIN lut3 l3 ON l3.cid = a13.cid AND l3.qid = p.qid " +
        "WHERE a10.vec_id <> p.qid) " +
        "SELECT qid, vec_id AS cand_id, dist, CAST(rn AS INT) AS rn FROM " +
        "(SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM adc) " +
        "WHERE rn <= 3 ORDER BY qid, rn"),
    "ivf_pq_recall" ->
      (s"WITH $refinedCentroidCtesSql, $pqPerSubspaceCtesSql, $pqLutsSql, " +
        s"ascored AS (SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS sim FROM e CROSS JOIN c), " +
        "assign AS (SELECT vec_id, cid AS cell FROM " +
        "(SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ascored) WHERE rn = 1), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        s"pscored AS (SELECT q.qid, c.cid, round(${cosSql("q.qv", "c.cv")}, 6) AS csim FROM q CROSS JOIN c), " +
        "probes AS (SELECT qid, cid AS cell FROM " +
        s"(SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cid) AS pr FROM pscored) WHERE pr <= $IvfProbes), " +
        "adc AS (SELECT p.qid, a10.vec_id, l0.qd2 + l1.qd2 + l2.qd2 + l3.qd2 AS dist " +
        "FROM a10 JOIN a11 USING (vec_id) JOIN a12 USING (vec_id) JOIN a13 USING (vec_id) " +
        "JOIN assign ON assign.vec_id = a10.vec_id " +
        "JOIN probes p ON p.cell = assign.cell " +
        "JOIN lut0 l0 ON l0.cid = a10.cid AND l0.qid = p.qid " +
        "JOIN lut1 l1 ON l1.cid = a11.cid AND l1.qid = p.qid " +
        "JOIN lut2 l2 ON l2.cid = a12.cid AND l2.qid = p.qid " +
        "JOIN lut3 l3 ON l3.cid = a13.cid AND l3.qid = p.qid " +
        "WHERE a10.vec_id <> p.qid), " +
        "apq AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn FROM adc) WHERE rn <= 3), " +
        s"exs AS (SELECT q.qid, e.vec_id, round(${cosSql("e.v", "q.qv")}, 6) AS cos " +
        "FROM e CROSS JOIN q WHERE e.vec_id <> q.qid), " +
        "ext AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM exs) WHERE rn <= 3), " +
        "ov AS (SELECT a.qid, CAST(count(*) AS BIGINT) AS n FROM apq a " +
        "JOIN ext x ON a.qid = x.qid AND a.vec_id = x.vec_id GROUP BY a.qid) " +
        "SELECT q.qid, coalesce(ov.n, 0) AS n_overlap, coalesce(ov.n, 0) * 100 // 3 AS recall_pct " +
        "FROM q LEFT JOIN ov USING (qid) ORDER BY qid"),
    "ivf_filtered_recall" ->
      (s"WITH $refinedCentroidCtesSql, " +
        s"ascored AS (SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS sim FROM e CROSS JOIN c), " +
        "assign AS (SELECT vec_id AS cand_id, cid AS cell FROM " +
        "(SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ascored) WHERE rn = 1), " +
        "keep AS (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10), " +
        s"pscored AS (SELECT q.qid, q.qv, c.cid, round(${cosSql("q.qv", "c.cv")}, 6) AS csim FROM q CROSS JOIN c), " +
        "probes AS (SELECT qid, qv, cid AS cell FROM " +
        s"(SELECT qid, qv, cid, row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cid) AS pr FROM pscored) WHERE pr <= $IvfProbes), " +
        "cand AS (SELECT p.qid, p.qv, a.cand_id FROM probes p JOIN assign a ON p.cell = a.cell " +
        "WHERE a.cand_id <> p.qid AND a.cand_id IN (SELECT doc_id FROM keep)), " +
        s"cscored AS (SELECT qid, cand_id, round(${cosSql("qv", "e2.v")}, 6) AS cos FROM cand JOIN e e2 ON e2.vec_id = cand_id), " +
        "appr AS (SELECT qid, cand_id FROM (SELECT qid, cand_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cand_id) AS rn FROM cscored) WHERE rn <= 3), " +
        s"exs AS (SELECT q.qid, e.vec_id, round(${cosSql("e.v", "q.qv")}, 6) AS cos " +
        "FROM e CROSS JOIN q WHERE e.vec_id <> q.qid AND e.vec_id IN (SELECT doc_id FROM keep)), " +
        "ext AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM exs) WHERE rn <= 3), " +
        "ret AS (SELECT qid, CAST(count(*) AS BIGINT) AS nr FROM appr GROUP BY qid), " +
        "ov AS (SELECT a.qid, CAST(count(*) AS BIGINT) AS n FROM appr a " +
        "JOIN ext x ON a.qid = x.qid AND a.cand_id = x.vec_id GROUP BY a.qid) " +
        "SELECT q.qid, coalesce(ret.nr, 0) AS n_returned, coalesce(ov.n, 0) AS n_overlap, " +
        "coalesce(ov.n, 0) * 100 // 3 AS recall_pct " +
        "FROM q LEFT JOIN ret USING (qid) LEFT JOIN ov USING (qid) ORDER BY qid"),
    "dedup_semantic" ->
      (s"WITH $refinedCentroidCtesSql, " +
        s"ascored AS (SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS sim FROM e CROSS JOIN c), " +
        "assign AS (SELECT vec_id, cid AS cell FROM " +
        "(SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ascored) WHERE rn = 1), " +
        "drops AS (SELECT DISTINCT y.vec_id AS vec_id FROM assign x " +
        "JOIN assign y ON x.cell = y.cell AND x.vec_id < y.vec_id " +
        "JOIN e ex ON ex.vec_id = x.vec_id JOIN e ey ON ey.vec_id = y.vec_id " +
        s"WHERE round(${cosSql("ex.v", "ey.v")}, 6) >= $SemTau) " +
        "SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS kept " +
        "FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id ORDER BY a.vec_id"),
    "ivf_purity" ->
      (s"WITH $refinedCentroidCtesSql, " +
        s"ascored AS (SELECT e.vec_id, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS sim FROM e CROSS JOIN c), " +
        "assign AS (SELECT vec_id, cid AS cell FROM " +
        "(SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ascored) WHERE rn = 1), " +
        "counts AS (SELECT a.cell, emb.label, count(*) AS c FROM assign a " +
        "JOIN embeddings emb ON emb.vec_id = a.vec_id GROUP BY a.cell, emb.label), " +
        "ranked AS (SELECT cell, label, c, " +
        "row_number() OVER (PARTITION BY cell ORDER BY c DESC, label ASC) AS rn, " +
        // CAST: DuckDB sum(BIGINT) is HUGEINT; Spark's sum(long) is long
        "CAST(sum(c) OVER (PARTITION BY cell) AS BIGINT) AS n FROM counts) " +
        "SELECT cell, n, label AS majority_label, " +
        "round(CAST(c AS DOUBLE) / n, 6) AS purity FROM ranked WHERE rn = 1 ORDER BY cell"),
    "ivf_cell_stats" ->
      (s"WITH $refinedCentroidCtesSql, " +
        s"ascored AS (SELECT e.vec_id, e.v, c.cid, round(${cosSql("e.v", "c.cv")}, 6) AS sim FROM e CROSS JOIN c), " +
        "assign AS (SELECT vec_id, v, cid AS cell FROM " +
        "(SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM ascored) WHERE rn = 1), " +
        s"scored AS (SELECT a.cell, round(${cosSql("a.v", "c.cv")}, 6) AS cos " +
        "FROM assign a JOIN c ON c.cid = a.cell) " +
        "SELECT cell, CAST(count(*) AS BIGINT) AS n, " +
        "round(CAST(sum(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_cos, " +
        "min(cos) AS min_cos " +
        "FROM scored GROUP BY cell ORDER BY cell"),
  )
}
