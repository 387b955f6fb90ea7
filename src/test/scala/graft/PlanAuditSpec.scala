package graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, BloomFilterMightContain, EqualTo, Explode, GreaterThan, GreaterThanOrEqual, IsNotNull, Literal, PosExplode}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HllSketchAgg, HyperLogLogPlusPlus, Min, Sum, ThetaSketchAgg}
import org.apache.spark.sql.catalyst.plans.{LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec, ScalaAggregator, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowExecBase, WindowGroupLimitExec}

import graft.functions.TopKAggregator
import graft.operators.{Analytics, Relational}
import graft.plans.PlanNodes

/** Plan-shape regression guards: the properties the 100 TB design
  * depends on, asserted on typed nodes of the live optimizer's plans (one
  * [[PlanNodes]] walk each) instead of audited by hand once. If an upgrade
  * or refactor re-plans one of these into a full scan / shuffle / global
  * sort, the suite goes red. */
class PlanAuditSpec extends SparkSpec {

  private def noWindow(w: PlanNodes): Unit =
    w.noneMatching("window") { case n @ (_: WindowExecBase | _: WindowGroupLimitExec) => n }

  private def noJoin(w: PlanNodes): Unit = w.none[BaseJoinExec]

  /** Hash (and object-hash) aggregates: partial and final each count. */
  private def hashAggs(w: PlanNodes): Int =
    w.collect { case a @ (_: HashAggregateExec | _: ObjectHashAggregateExec) => a }.size

  private def noHashShuffle(w: PlanNodes): Unit = assert(hashKeys(w).isEmpty,
    s"hash exchanges on ${hashKeys(w)}")

  private def broadcastJoin(w: PlanNodes, t: org.apache.spark.sql.catalyst.plans.JoinType): Seq[BroadcastHashJoinExec] =
    w.matching(s"$t broadcast hash join") { case j: BroadcastHashJoinExec if j.joinType == t => j }

  /** A one-row side broadcast: a nested-loop broadcast join or any broadcast exchange. */
  private def broadcastsOneRow(w: PlanNodes): Unit =
    assert(w.of[BroadcastNestedLoopJoinExec].nonEmpty || w.of[BroadcastExchangeLike].nonEmpty,
      "one-row side not broadcast")

  /** The windows whose partition or order keys reference `col`; fails when none does. */
  private def windowsOver(w: PlanNodes, col: String): Seq[WindowExec] =
    w.matching(s"window over $col") {
      case x: WindowExec if (x.partitionSpec ++ x.orderSpec).exists(_.references.exists(_.name == col)) => x
    }

  private def partitionedBy(x: WindowExec, col: String): Boolean =
    x.partitionSpec.exists(_.references.exists(_.name == col))

  /** The logical aggregates that fold through the TopKAggregator UDAF. */
  private def topKFolds(p: LogicalPlan): Seq[Aggregate] = p.collect {
    case a: Aggregate if a.aggregateExpressions.exists(_.exists {
      case e: AggregateExpression => e.aggregateFunction match {
        case s: ScalaAggregator[_, _, _] => s.agg.isInstanceOf[TopKAggregator]
        case _ => false
      }
      case _ => false
    }) => a
  }

  test("filter_pred pushes its predicates and scan_project prunes columns") {
    val scan = walk(Relational.filterPred(spark, sf)).nodes[FileSourceScanExec]
    assert(scan.size == 1)
    val filters = scan.head.dataFilters
    // predicates on bare columns, the form a parquet reader takes
    assert(filters.exists {
      case IsNotNull(a: Attribute) => a.name == "l_quantity"
      case _ => false
    }, s"no null screen on l_quantity pushed: $filters")
    assert(filters.exists {
      case GreaterThan(a: Attribute, Literal(v, _)) => a.name == "l_quantity" && v.toString.toDouble == 45
      case _ => false
    }, s"quantity predicate not pushed: $filters")
    assert(filters.exists {
      case GreaterThanOrEqual(a: Attribute, _: Literal) => a.name == "l_shipdate"
      case _ => false
    }, s"ship-date predicate not pushed: $filters")
    val s = walk(Relational.scanProject(spark, sf)).nodes[FileSourceScanExec]
    assert(s.map(_.requiredSchema.fieldNames.toSet) ==
      Seq(Set("l_orderkey", "l_linenumber", "l_extendedprice")),
      s"schema not pruned to the 3 projected columns: ${s.map(_.requiredSchema)}")
  }

  test("q5 joins the nation dimension by broadcast, never shuffling the fact for it") {
    walk(Analytics.q5RegionRevenue(spark, sf)).nodes[BroadcastHashJoinExec]
  }

  test("topk plans TakeOrderedAndProject, not a global sort") {
    walk(Relational.topk(spark, sf)).nodes[TakeOrderedAndProjectExec]
  }

  test("q1 aggregates partial+final (map-side combine before the exchange)") {
    val w = walk(Analytics.q1Pricing(spark, sf))
    partial[Sum](w)
    assert(hashAggs(w) >= 2, "expected partial and final aggregates")
  }

  test("dedup_ngram_jaccard blocks carry the length band, never raw (lang, source) alone") {
    // the scale guard for the in-block verifier: every hash partitioning
    // of the self-join must include the length-band block key — a
    // (lang, source)-only exchange means the whole (en, web) slice of a
    // 100 TB corpus lands in one quadratic block again
    val parts = hashKeys(walk(graft.operators.Dedup.dedupNgramJaccard(spark, sf)))
      .filter(_.contains("lang"))
    assert(parts.nonEmpty, "no block exchange found")
    parts.foreach(keys =>
      assert(keys.contains("block"), s"self-join exchange keyed on raw (lang, source) alone: $keys"))
  }

  test("token_pack's doc-level window is bucket-partitioned (two-level prefix sum)") {
    // the doc-row prefix sum must be partitioned by (lang, source, bucket)
    // — a (lang, source)-only doc window sorts a whole 100 TB shard in one
    // task; only the bucket-TOTALS window (ordered by bucket, B-fold
    // smaller input) may remain shard-partitioned
    windowsOver(walk(graft.operators.TextAnalysis.tokenPack(spark, sf)), "doc_id").foreach(x =>
      assert(partitionedBy(x, "bucket"), s"doc-level prefix sum windows over the whole shard: $x"))
  }

  test("token_budget_select's doc-level prefix sum is cell-partitioned (two-level)") {
    // the per-doc running total must be partitioned by (phase, bucket) —
    // a phase-only (or global) window sorts a tenth of a 100 TB corpus
    // in one task; only the ≤640-row cell-TOTALS offset window may be
    // globally ordered
    windowsOver(walk(graft.operators.TextAnalysis.tokenBudgetSelect(spark, sf)), "doc_id").foreach(x =>
      assert(partitionedBy(x, "bucket"), s"doc-level prefix sum windows a whole phase: $x"))
  }

  test("mode_agg contains no window operator over raw events") {
    noWindow(walk(Analytics.modeAgg(spark, sf)))
  }

  test("char_entropy is map-only: no hash exchange, no aggregate, no window") {
    // entropy is per-document; a hash exchange means the explode+groupBy
    // formulation crept back (one shuffle row per CHAR)
    val w = walk(graft.operators.TextAnalysis.charEntropy(spark, sf))
    noHashShuffle(w)
    noWindow(w)
    assert(hashAggs(w) == 0, "char_entropy grew an aggregate")
  }

  test("topn_agg is a partial+final object aggregate (k-row buffers cross the wire)") {
    val w = walk(graft.operators.EventAnalytics.topnAgg(spark, sf))
    assert(w.collect { case a @ (_: ObjectHashAggregateExec | _: SortAggregateExec) => a }.size >= 2,
      "expected partial and final typed aggregates")
    noWindow(w)
  }

  test("phrase_detect: top-50 is a TakeOrdered and the token total broadcasts") {
    val w = walk(graft.operators.TextAnalysis.phraseDetect(spark, sf))
    w.nodes[TakeOrderedAndProjectExec]
    broadcastsOneRow(w)
  }

  test("chunk_dedup shuffles digests only: no join, one partial+final aggregate") {
    val w = walk(graft.operators.TextAnalysis.chunkDedupOf(graft.sources.Tables.documents(spark, sf)))
    noJoin(w)
    val parts = hashKeys(w)
    assert(parts.nonEmpty && parts.forall(_.contains("chunk_fp")),
      s"expected only digest-keyed exchanges: $parts")
  }

  test("mad_outliers joins its per-group stats by broadcast, never sort-merge") {
    val w = walk(graft.operators.DataOps.madOutliers(spark, sf))
    w.nodes[BroadcastHashJoinExec]
    w.none[SortMergeJoinExec]
  }

  test("q21 plans the per-order aggregate rewrite: two fact scans, no fact-fact self-join") {
    val w = walk(graft.operators.TpcH2.q21WaitingSuppliers(spark, sf))
    // the literal EXISTS/NOT-EXISTS form needs three lineitem scans and
    // two self-joins; the aggregate rewrite reads the fact twice (once
    // per branch of the orderkey join) and shuffles on l_orderkey only
    val scans = w.of[FileSourceScanExec].size
    assert(scans <= 6, s"q21 re-scans beyond the rewrite's budget: $scans scans")
    w.nodes[BroadcastHashJoinExec]
    assert(hashKeys(w).exists(k => k.contains("l_orderkey") || k.contains("ok")),
      "no orderkey exchange found in q21")
  }

  test("q11's global total broadcasts back against the grouped values") {
    val w = walk(graft.operators.TpcH2.q11ImportantStock(spark, sf))
    broadcastsOneRow(w)
    noWindow(w)
  }

  test("q17's per-part average is decorrelated into a join, not re-scanned or windowed") {
    val w = walk(graft.operators.TpcH2.q17SmallQtyRevenue(spark, sf))
    noWindow(w)
    // one grouped-stats side joined back: at most one scan pair of
    // lineitem beyond the stats branch (no per-row re-scan)
    val scans = w.of[FileSourceScanExec].size
    assert(scans <= 4, s"q17 re-scans its inputs more than the decorrelated shape needs: $scans scans")
  }

  test("referential_integrity joins NDV-collapsed keys, never raw child rows") {
    // every FK join input must sit ABOVE a per-key aggregate: the join
    // width is the child's key cardinality, not its row count — the
    // property that keeps the 8-edge audit linear at 100 TB
    val w = walk(graft.operators.DataOps.referentialIntegrity(spark, sf))
    val joins = w.collect { case j @ (_: HashJoin | _: SortMergeJoinExec) => j }.size
    assert(joins === 8, s"expected 8 FK-edge joins, got $joins")
    assert(hashAggs(w) >= 32, "child/parent sides not collapsed before the joins")
    noWindow(w)
  }

  test("join_skew_report is aggregates only — no window, no join") {
    val w = walk(graft.operators.DataOps.joinSkewReport(spark, sf))
    noWindow(w)
    noJoin(w)
  }

  test("ngram_udtf drives a native Generate into partial+final count and top-k") {
    val w = walk(graft.operators.TextAnalysis.ngramUdtf(spark, sf))
    w.nodes[GenerateExec]
    w.nodes[TakeOrderedAndProjectExec]
    assert(hashAggs(w) >= 2, "gram counts not partially aggregated before the shuffle")
  }

  test("embed_qa is one map-only scan with partial+final aggregation") {
    val w = walk(graft.operators.Similarity.embedQa(spark, sf))
    assert(w.of[FileSourceScanExec].size === 1, "embed_qa re-scans")
    noJoin(w)
    noWindow(w)
  }

  test("vocab_coverage takes its top-200 as TakeOrdered and semi-joins it by broadcast") {
    val w = walk(graft.operators.TextAnalysis.vocabCoverage(spark, sf))
    w.nodes[TakeOrderedAndProjectExec]
    broadcastJoin(w, LeftSemi)
    noWindow(w)
  }

  test("shard_assign is one scan into partial+final aggregation, no join") {
    val w = walk(graft.operators.TextAnalysis.shardAssign(spark, sf))
    assert(w.of[FileSourceScanExec].size === 1, "shard_assign re-scans")
    noJoin(w)
    noWindow(w)
    assert(hashAggs(w) >= 2, "shard stats not partially aggregated before the exchange")
  }

  test("hll_daily_merge builds partial sketches below the exchange (mergeable rollup)") {
    val w = walk(graft.operators.Analytics.hllDailyMerge(spark, sf))
    assert(partial[HllSketchAgg](w).forall(_.isInstanceOf[ObjectHashAggregateExec]),
      "HLL sketch agg not planned as an object hash aggregate")
    noWindow(w)
  }

  test("theta_overlap builds partial theta sketches below the exchange") {
    val w = walk(Analytics.thetaOverlap(spark, sf))
    assert(partial[ThetaSketchAgg](w).forall(_.isInstanceOf[ObjectHashAggregateExec]),
      "theta sketch agg not planned as an object hash aggregate")
    noWindow(w)
  }

  test("scd2_pit_enrich broadcasts the dimension history against the streaming fact") {
    val w = walk(graft.operators.DataOps.scd2PitEnrich(spark, sf))
    w.nodes[BroadcastHashJoinExec]
    // the fact side must never shuffle for the enrichment join — a
    // SortMergeJoin here repartitions 100 TB of facts for a MB-scale dim
    w.none[SortMergeJoinExec]
  }

  test("agg_incremental aggregates base and delta partially before the key-only merge join") {
    val w = walk(graft.operators.DataOps.aggIncremental(spark, sf))
    assert(hashAggs(w) >= 4, "base/delta sides not partial+final aggregated before the merge")
    noWindow(w)
    // the merge join's inputs are the aggregated key sets — every
    // exchange must be keyed on the agg keys, never raw event rows
    val parts = hashKeys(w)
    assert(parts.nonEmpty && parts.forall(k => k.contains("day") && k.contains("event_type")),
      s"expected only (day, event_type) exchanges: $parts")
  }

  test("zone_map_manifest is row-local key math into a partial+final aggregate") {
    val w = walk(graft.operators.Layout.zoneMapManifest(spark, sf))
    noWindow(w)
    w.none[SortMergeJoinExec]
    assert(hashAggs(w) >= 2, "shard stats not partially aggregated before the exchange")
  }

  test("snapshot_drift's cumulative window runs over the binned aggregate, not raw rows") {
    val w = walk(graft.operators.DataOps.snapshotDrift(spark, sf))
    assert(hashAggs(w) >= 2, "bin counts not partially aggregated")
    // every row-count-scale exchange must be keyed on bin; the window's
    // single-partition exchange is fed by the ≤20-row bin aggregate only
    val parts = hashKeys(w)
    assert(parts.nonEmpty && parts.forall(_.contains("bin")),
      s"expected only bin-keyed exchanges below the tiny window: $parts")
    w.none[SortMergeJoinExec]
  }

  test("join_bloom_prune screens the fact map-side with might_contain before the semi-join") {
    val w = walk(graft.operators.AdvancedSql.joinBloomPrune(spark, sf))
    w.matching("might_contain screen") {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[BloomFilterMightContain])) => n
    }
    broadcastJoin(w, LeftSemi)
    w.none[SortMergeJoinExec]
  }

  test("dpp_prune's fact scan carries a dynamicpruning partition filter") {
    dppScans(walk(Relational.dppPrune(spark, sf)))
  }

  test("cms_freq's point queries run over the tiny grouped frame, total broadcast") {
    val w = walk(Analytics.cmsFreq(spark, sf))
    broadcastsOneRow(w)
    assert(hashAggs(w) >= 2, "exact counts not partially aggregated")
    noWindow(w)
  }

  test("embed_project is row-local: no exchange except the output sort, no join/agg") {
    val w = walk(graft.operators.Similarity.embedProject(spark, sf))
    noHashShuffle(w)
    noJoin(w)
    assert(hashAggs(w) == 0, "projection grew an aggregate")
  }

  test("pq_encode broadcasts the codebooks and argmins per (vec, subspace) as a partial agg") {
    val w = walk(graft.operators.Similarity.pqEncode(spark, sf))
    w.none[SortMergeJoinExec]
    // r21: the per-(vec, m) argmin is an aggregate fold — min(struct(d2,
    // cid)) with a map-side partial min — so no scored candidate row
    // crosses an exchange un-combined, and NO window remains anywhere in
    // the encode path (the former shape shuffled and sorted every scored
    // candidate copy into a per-(vec, m) row_number window)
    noWindow(w)
    val keys = partial[Min](w).map(_.groupingExpressions.map(_.name))
    assert(keys.exists(_.take(2) == Seq("vec_id", "m")),
      s"encode argmin not keyed by (vec_id, m): $keys")
  }

  test("approx_distinct: the HLL sketch aggregates per event_type only — never keyed by user") {
    // r21: mixing countDistinct with approx_count_distinct in ONE agg
    // made Spark's single-distinct rewrite key the partial aggregate by
    // (event_type, user_id) — a 1,638-long HLL++ sketch materialized and
    // shuffled per DISTINCT USER (Results [1641] partials). The split
    // formulation must keep every sketch aggregate keyed by the bounded
    // group column alone, with the two sides joined by broadcast.
    val w = walk(Analytics.approxDistinct(spark, sf))
    val sketches = w.matching("HLL aggregate") {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(
        _.aggregateFunction.isInstanceOf[HyperLogLogPlusPlus]) => a
    }
    sketches.foreach { a =>
      assert(a.isInstanceOf[HashAggregateExec] || a.isInstanceOf[ObjectHashAggregateExec],
        s"HLL function outside a hash aggregate: $a")
      assert(!a.groupingExpressions.exists(_.references.exists(_.name == "user_id")),
        s"HLL sketch aggregate keyed by user_id — a ~13 KB sketch per distinct user rides the exchange: $a")
    }
    w.nodes[BroadcastHashJoinExec]
  }

  test("line dedup rows read the memoized reflow frames — tokenize runs once in the shared build") {
    // r21: both policies (and three branches within each) re-derived the
    // tokenize→reflow(→explode→md5) pipeline per reference; the shared
    // frames are now chain-memoized (chain_line_frames), so each policy's
    // plan must read InMemoryTableScan leaves, not re-tokenize.
    walk(graft.operators.Dedup.lineDedupApply(spark, sf)).nodes[InMemoryTableScanExec]
    walk(graft.operators.Dedup.lineDedupKeepFirst(spark, sf)).nodes[InMemoryTableScanExec]
  }

  test("dedup_keep_best ranks inside clusters only — window partitioned by cluster_id") {
    walk(graft.operators.Dedup.dedupKeepBest(spark, sf)).nodes[WindowExec].foreach(x =>
      assert(partitionedBy(x, "cluster_id"), s"member ranking not partitioned by cluster_id: $x"))
  }

  test("ngram_novelty MIN-combines the gram index map-side (partial_min before the exchange)") {
    val w = walk(graft.operators.TextAnalysis.ngramNovelty(spark, sf))
    partial[Min](w)
    val explodes = w.of[GenerateExec].count(_.generator.isInstanceOf[Explode])
    assert(explodes <= 2, s"gram stream exploded $explodes times, more than the two intended")
  }

  test("embed_drift derives both snapshot centroids from ONE element explode (no self-join of means)") {
    // the conditional aggregate must pair ref/cur means in a single
    // (label, pos) pass — a second posexplode means the corpus is being
    // re-scanned and the means self-joined, double the dominant cost
    val w = walk(graft.operators.Similarity.embedDrift(spark, sf))
    val explodes = w.of[GenerateExec].count(_.generator.isInstanceOf[PosExplode])
    assert(explodes == 1, s"expected exactly one element explode, found $explodes")
    partial[Sum](w)
  }

  test("dedup_sample_weights broadcasts the cluster roster; corpus side never shuffles") {
    val w = walk(graft.operators.Dedup.dedupSampleWeights(spark, sf))
    broadcastJoin(w, LeftOuter)
    // the only allowed exchanges prepare the tiny roster/size aggregate
    // (inside the broadcast) and the final output sort — the documents
    // scan must never be hashed on doc_id
    def docHashed(x: PlanNodes): Seq[SparkPlan] = x.collect {
      case s: ShuffleExchangeLike if hashKeys(PlanNodes(s)).exists(_.headOption.contains("doc_id")) => s
    }
    val inRoster = docHashed(PlanNodes(w.of[BroadcastExchangeLike]: _*))
    assert(docHashed(w).forall(s => inRoster.exists(_ eq s)),
      "corpus side shuffled on doc_id outside the broadcast roster")
  }

  test("curriculum_order is map-only up to the schedule sort (no joins, no aggregates)") {
    val w = walk(graft.operators.TextAnalysis.curriculumOrder(spark, sf))
    noJoin(w)
    // one range exchange for the (phase, order_key) sort is the contract;
    // any hash exchange means phase/order stopped being row-local
    noHashShuffle(w)
  }

  test("bpe_pair_counts combines map-side and ends in TakeOrdered, not a global sort") {
    val w = walk(graft.operators.TextAnalysis.bpePairCounts(spark, sf))
    partial[Count](w)
    w.nodes[TakeOrderedAndProjectExec]
  }

  test("bm25 df model broadcast; corpus scalars folded as literals (no totals exchange)") {
    val w = walk(graft.operators.TextAnalysis.bm25TopTerms(spark, sf))
    w.nodes[BroadcastExchangeLike]
    w.nodes[BroadcastHashJoinExec]
    // the corpus totals ride as literals now — a nested-loop join would
    // mean the 1-row totals crossJoin crept back in
    w.none[BroadcastNestedLoopJoinExec]
  }

  // guards for the event-time batch rows restored in round 11: each is a
  // single-pass window shape whose ONLY hash exchange is the user_id
  // partition — a second hash exchange or a join operator means the
  // events table is being shuffled twice (or candidate pairs
  // materialized), which at 100 TB doubles the dominant cost

  private def userIdWindowGuard(name: String, w: PlanNodes): Unit = {
    val parts = hashKeys(w)
    assert(parts.size == 1 && parts.head.contains("user_id"),
      s"$name: expected exactly the user_id hash exchange, got $parts")
    noJoin(w)
  }

  test("sessionize shuffles events once on user_id — no join, no second exchange") {
    userIdWindowGuard("sessionize", walk(Analytics.sessionize(spark, sf)))
  }

  test("session_attribution rides the sessionizer's single user_id exchange") {
    userIdWindowGuard("session_attribution", walk(Analytics.sessionAttribution(spark, sf)))
  }

  test("asof_join is a running window, not a join: one user_id exchange, no pair materialization") {
    userIdWindowGuard("asof_join", walk(Analytics.asofJoin(spark, sf)))
  }

  test("window_range_frame's 1h rolling sum shuffles once on user_id") {
    userIdWindowGuard("window_range_frame", walk(Analytics.windowRangeFrame(spark, sf)))
  }

  // Every path from `p` down to a leaf relation must pass through an
  // Aggregate: the window's input row count is then bounded by grouping
  // keys, not corpus size. (A mere "an Aggregate exists somewhere in the
  // subtree" check is vacuous — nearly every corpus pipeline has one on
  // SOME branch; this demands it on EVERY branch.)
  private def aggCoversAllLeaves(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => true
    case leaf if leaf.children.isEmpty => false
    case n => n.children.forall(aggCoversAllLeaves)
  }

  test("gate_spec_refresh windows only the merged histogram, never corpus rows") {
    // the O(delta) claim: both windows in the threshold derivation must
    // sit above an Aggregate (the mergeable histogram), and the merge
    // itself must be aggregate-shaped — a corpus-row window here would
    // mean the refresh silently rescans what it promised not to
    val df = graft.operators.TextAnalysis.gateSpecRefresh(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "threshold derivation lost its windows")
    windows.foreach(w =>
      assert(aggCoversAllLeaves(w.child), s"refresh window has a raw-relation path beneath it:\n$w"))
    assert(hashAggs(walk(df)) >= 2, "histogram not built with partial+final aggregation")
  }

  test("every intentional single-partition window runs over an aggregate, never raw rows") {
    // the five sites that legitimately trigger WindowExec's
    // single-partition warning (indexed in PLANS.md §Round-13): each
    // window's input must be an AGGREGATE whose key bounds the row count
    // (calendar days/months, score-grid cells, histogram bins) — if a
    // refactor ever feeds one of these windows raw corpus rows, the
    // "cardinality-bounded by construction" argument is void and this
    // guard goes red before the bench tail does
    val sites: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "rolling_median" -> Analytics.rollingMedian(spark, sf),
      "monthly_growth" -> Analytics.monthlyGrowth(spark, sf),
      "open_orders_timeline" -> Analytics.openOrdersTimeline(spark, sf),
      "token_budget_select" -> graft.operators.TextAnalysis.tokenBudgetSelect(spark, sf),
      "snapshot_drift" -> graft.operators.DataOps.snapshotDrift(spark, sf))
    sites.foreach { case (name, df) =>
      val unpartitioned = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.nonEmpty,
        s"$name: expected an unpartitioned window (site list is stale — update PLANS.md)")
      unpartitioned.foreach(w => assert(aggCoversAllLeaves(w.child),
        s"$name: single-partition window has a raw-relation path beneath it:\n$w"))
    }
  }

  test("ivf_search_filtered: cell pruning AND the pushed metadata predicate both reach their scans") {
    val w = walk(graft.operators.Similarity.ivfSearchFiltered(spark, sf))
    // the partitioned inverted-list scan must be keyed by the probe side
    // (dynamic partition pruning), not read whole
    dppScans(w)
    // the metadata predicate must push into the documents parquet scan —
    // only the filter columns + doc_id read, not text
    w.matching("scan with a pushed lang predicate") {
      case s: FileSourceScanExec if s.dataFilters.exists {
        case IsNotNull(a: Attribute) => a.name == "lang"
        case EqualTo(a: Attribute, _: Literal) => a.name == "lang"
        case _ => false
      } => s
    }
    w.noneMatching("node carrying the text column") {
      case n if n.output.exists(_.name == "text") => n
    }
    // admission is a semi join: candidates never duplicate per metadata row
    w.matching("semi join") { case j: BaseJoinExec if j.joinType == LeftSemi => j }
  }

  test("hybrid_rrf: lexical top-k is a partial-aggregated UDAF fold, never a corpus-wide window") {
    val df = graft.operators.Similarity.hybridRrf(spark, sf)
    // logical check: the only Windows in the plan are the bounded ones
    // (ANN rank over the broadcast-query candidate set, query-term top-3,
    // final fused rank over <= 20 rows/query) — the lexical candidate
    // aggregation itself must be an Aggregate (TopKAggregator), because
    // at 100 TB a common query term admits a corpus-sized candidate set
    // and a 10-partition window over it is a hot-spot by construction
    assert(topKFolds(df.queryExecution.optimizedPlan).nonEmpty,
      "lexical top-k no longer folds through the TopKAggregator UDAF")
    // physical check: partial aggregation (ObjectHashAggregate partial +
    // final pair) carries the k-row buffers through the shuffle
    assert(walk(df).of[ObjectHashAggregateExec].size >= 2,
      "TopKAggregator not partially aggregated (no map-side combine)")
  }

  test("hybrid_rrf_ivf: the fused plan rides the pruned index scan and the UDAF lexical fold") {
    val df = graft.operators.Similarity.hybridRrfIvf(spark, sf)
    // the vector leg inside the fusion must be the cell-pruned list
    // scan — dynamic partition pruning keyed by the probe side, exactly
    // the ivf_search shape, or the "production" composition is quietly
    // re-scanning the corpus
    dppScans(walk(df))
    // and the lexical leg keeps the partial-agg TopKAggregator fold
    assert(topKFolds(df.queryExecution.optimizedPlan).nonEmpty,
      "lexical top-k no longer folds through the TopKAggregator UDAF")
  }

  /** The first ten documents' top-3 BM25 terms per doc against the chunk
    * index's model, with their postings buckets: the REAL serving shape of
    * the retrieval twins (the per-doc top-3 window, not a limit
    * approximation — a regression that breaks DPP only under the window
    * would otherwise sail past the guards below). */
  private def servingTerms(): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{asc, col, desc, row_number}
    val root = graft.sources.ArtifactRoots.assertComplete(
      graft.operators.TextAnalysis.chunkIndexRoot(spark, sf))
    val scRow = spark.read.parquet(s"$root/model_sc").head()
    graft.operators.TextAnalysis.bm25ScoreAgainstModel(
        graft.sources.Tables.documents(spark, sf)
          .filter(col("doc_id") < 10).select("doc_id", "text"),
        spark.read.parquet(s"$root/model_df"),
        scRow.getAs[Long]("n"), scRow.getAs[Long]("tl"), scRow.getAs[Long]("maxdl"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(desc("bm25"), asc("word"))))
      .filter(col("rn") <= 3)
      .select(col("doc_id").as("qid"), col("word"))
      .withColumn("wb", graft.operators.TextAnalysis.wordBucket(col("word")))
  }

  test("stream_chunk_retrieval serving probe reads only the query terms' postings buckets") {
    // the per-trigger plan of the streaming retrieval twin, built here as
    // a batch frame: the postings artifact is partitioned by wb, the
    // query side broadcasts with wb in the join key, so the corpus-sized
    // grid scan must carry dynamic partition pruning — a serving path
    // that scans the whole grid per trigger is not a serving path
    import org.apache.spark.sql.functions.broadcast
    val root = graft.sources.ArtifactRoots.assertComplete(
      graft.operators.TextAnalysis.chunkIndexRoot(spark, sf))
    dppScans(walk(spark.read.parquet(s"$root/postings")
      .join(broadcast(servingTerms()), Seq("wb", "word"))))
  }

  test("stream_hybrid serving legs ride pruned artifact scans: lexical buckets + IVF cells") {
    import org.apache.spark.sql.functions.{broadcast, col}
    // lexical leg: the per-trigger postings probe must be partition-
    // pruned to the batch's term buckets, exactly like the chunk probe
    val lexRoot = graft.sources.ArtifactRoots.assertComplete(
      graft.operators.TextAnalysis.lexIndexRoot(spark, sf))
    dppScans(walk(spark.read.parquet(s"$lexRoot/postings")
      .join(broadcast(servingTerms()), Seq("wb", "word"))))
    // vector leg: the serving-side probe against the persisted index
    // must dynamically prune the inverted-list scan to probed cells
    val ivfRoot = graft.operators.Similarity.ivfWarmIndex(spark, sf)
    val q = graft.operators.Similarity.emb(spark, sf)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    dppScans(walk(graft.operators.Similarity.ivfServeTopK(spark, ivfRoot, q, 10, None)))
  }

  test("chunk_retrieval: both diversity cuts are partial-agg folds; the only window is the 10-doc query panel") {
    val df = graft.operators.TextAnalysis.chunkRetrieval(spark, sf)
    val topk = topKFolds(df.queryExecution.optimizedPlan)
    assert(topk.size >= 2,
      s"expected per-doc cap AND global top-5 as TopKAggregator folds, found ${topk.size}")
    // the sole window ranks the panel's own terms (partitioned by the
    // query doc id, 10 partitions of vocabulary-bounded size) — never
    // the corpus-sized chunk-candidate stream
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty && windows.forall(
      _.partitionSpec.exists(_.references.exists(_.name == "doc_id"))),
      "unexpected window shape in chunk_retrieval")
    assert(walk(df).of[ObjectHashAggregateExec].size >= 4, "TopK folds not partially aggregated")
  }

  test("dedup_setsim_incr: every corpus-side join is a broadcast probe; rank window is arrival-only") {
    val df = graft.operators.Dedup.dedupSetsimIncr(spark, sf)
    val w = walk(df)
    // the delta-bounded arrival side broadcasts into every join against a
    // setsimidx part (df probe, prefix probe, both verify lookups) — a
    // sort-merge join here means the corpus-sized index got shuffled for
    // a panel-sized batch
    w.none[SortMergeJoinExec]
    w.nodes[BroadcastHashJoinExec]
    // the only nested-loop join is the budget gate's 1-row verdict
    // broadcast (the adjudicated scalar-crossJoin shape), planned once in
    // the stored guarded arrival prefix — never a pair materialization
    w.none[CartesianProductExec]
    val nested = w.of[BroadcastNestedLoopJoinExec].size
    assert(nested <= 1, s"$nested nested-loop joins, beyond the 1-row budget gate")
    // the only row_number window is the arrival prefix rank, partitioned
    // by doc_id over the delta — never a corpus-sized or global window.
    // Collected from the ANALYZED plan: the optimized plan hides it inside
    // the delta-sized persist barrier's InMemoryRelation.
    val windows = df.queryExecution.analyzed.collect { case x: LWindow => x }
    assert(windows.nonEmpty && windows.forall(
      _.partitionSpec.exists(_.references.exists(_.name == "doc_id"))),
      "prefix rank window not partitioned by doc_id")
    // the arrival split predicate reaches the documents parquet scan
    w.matching("scan with a doc_id data filter") {
      case s: FileSourceScanExec if s.dataFilters.exists(_.references.exists(_.name == "doc_id")) => s
    }
  }

  test("all-plans sweep: no CartesianProduct, no unwhitelisted global window, no driver-materialized relation") {
    // The round-close ritual ("zero CartesianProduct across all plans"),
    // permanent: every registered query's plan is built and swept for the
    // three properties of [[SparkSpec.postureViolations]]. stream_* rows
    // are swept by StreamPlanAuditSpec: their query functions RUN a
    // structured-streaming pipeline and return a post-hoc read of the
    // stream's output dir, so the returned frame's plan is a bare scan.
    val globalWindowOk = Set(
      "rolling_median",       // 7-day frame over per-DAY totals (~2.4k rows/decade)
      "monthly_growth",       // lag over per-MONTH totals (~120 rows/decade)
      "open_orders_timeline", // running sum over per-day open/close deltas
      "token_budget_select",  // offset window over phase×bucket cell totals (≤640 rows)
      "snapshot_drift")       // cumulative TVD over 20 fixed histogram bins
    val bad = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => !n.startsWith("stream_") }
      .flatMap { case (name, fn) =>
        try postureViolations(fn(spark, sf).queryExecution)(_ => globalWindowOk(name)).map(v => s"$name: $v")
        catch { case e: Exception =>
          Seq(s"$name: plan build threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    assert(bad.isEmpty, s"plan sweep violations:\n${bad.mkString("\n")}")
  }
}
