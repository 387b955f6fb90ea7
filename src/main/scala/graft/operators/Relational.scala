package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.Tables

/** Reference-operator parity surface (SURVEY.md §2.1, observable subset).
  *
  * The reference's data plane is scan → flatMap → hash-shuffle → sort →
  * group → reduce → sink (/root/reference/src/mr/worker.rs:88-231). Each
  * query here isolates one observable operator Spark-natively; the shuffle
  * machinery (O4-O6) is Spark's ShuffleExchange and is exercised implicitly
  * by every groupBy/join below.
  *
  * Every query ends in a total ORDER BY so the DuckDB oracle hash-compare
  * is row-order-deterministic (SURVEY.md §7.4-8). Money aggregates are cast
  * to DECIMAL(18,2) *before* summing on both engines — integer-scaled exact
  * arithmetic, immune to floating-point summation-order differences.
  */
object Relational {

  /** O1 + projection: column pruning must reach the parquet scan
    * (ReadSchema carries only 3 of 16 columns — at 100 TB that is the
    * difference between reading ~20% and 100% of the table bytes). */
  def scanProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")

  /** Filter pushdown: both predicates land in PushedFilters on the scan. */
  def filterPred(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp(lit("1998-01-01")) &&
        col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  /** O2/O3 flatMap observable as rows: (doc_id, token) pairs, pre-shuffle
    * shape of the reference's map phase output (mr-i-r.txt lines).
    *
    * The global (doc_id, word) order comes from range-partitioning the
    * COMPACT doc rows on the sort-key prefix, then exploding and sorting
    * within partitions — same total order (doc ranges are disjoint and
    * a doc's tokens are co-partitioned), but the range sampler reads doc
    * rows instead of re-running the tokenizer, the corpus is tokenized
    * ONCE instead of twice (a plain `orderBy` above the explode samples
    * its child — measured 2×), and the exchange carries each text once
    * rather than one row per token. */
  def flatmapTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .repartitionByRange(col("doc_id"))
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("word"))
      .sortWithinPartitions("doc_id", "word")

  /** O12 + limit: Catalyst plans TakeOrderedAndProject — per-partition
    * top-k then a k-row merge on the driver, never a full global sort.
    * Tie-broken on the unique (l_orderkey, l_linenumber) pair. */
  def topk(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(100)

  /** O6 fan-in as UNION ALL: two disjoint scans concatenated, then
    * aggregated. DECIMAL(18,2) sum for exact cross-engine arithmetic. */
  def unionAll(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cheap = o.filter(col("o_totalprice") < 10000)
    val pricey = o.filter(col("o_totalprice") >= 400000)
    cheap.union(pricey)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  /** DISTINCT (exact dedup of a projection). */
  def distinctPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** LEFT SEMI join (EXISTS): customers with at least one order.
    * The orders side is reduced to its join key before the shuffle. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** LEFT ANTI join (NOT EXISTS): customers with no orders. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** INTERSECT (distinct semantics on both engines). */
  def setIntersect(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey").as("custkey"))
      .intersect(Tables.orders(spark, dir).select(col("o_custkey").as("custkey")))
      .orderBy("custkey")

  /** EXCEPT (distinct semantics on both engines). */
  def setExcept(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey").as("custkey"))
      .except(Tables.orders(spark, dir).select(col("o_custkey").as("custkey")))
      .orderBy("custkey")

  /** INTERSECT ALL / EXCEPT ALL — the multiset semantics the distinct
    * variants above erase: a customer with 3 open and 1 filled order
    * contributes min(3,1)=1 row to the intersection and 3−1=2 rows to the
    * difference. Spark plans both as one aggregate computing per-key
    * multiplicities plus a generate replicating min/difference counts —
    * same single shuffle as the distinct forms, never a raw-row join. */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val open = o.filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey"))
    val filled = o.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    open.intersectAll(filled).withColumn("op", lit("intersect_all"))
      .unionByName(open.exceptAll(filled).withColumn("op", lit("except_all")))
      .select("op", "custkey")
      .orderBy("op", "custkey")
  }

  /** Scalar string/date/math function sampler (SURVEY §2.3 row
    * "String/date/math scalar fns") — one codegen'd projection, no shuffle
    * until the output sort. */
  def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") <= 1000)
      .select(
        col("o_orderkey"),
        upper(col("o_orderstatus")).as("status_u"),
        lower(col("o_orderpriority")).as("prio_l"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("prio_rank"),
        concat_ws("#", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
        length(trim(col("o_orderpriority"))).as("prio_len"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        round(sqrt(col("o_totalprice")), 6).as("sqrt_price"),
        round(ln(col("o_totalprice")), 6).as("ln_price"),
        pmod(col("o_orderkey"), lit(7)).as("k_mod7"),
        (col("o_totalprice") > 200000).cast("int").as("is_big"))
      .orderBy("o_orderkey")

  /** Array function sampler over the embedding column (SURVEY §2.3 row
    * "array fns"): slicing, sorting, reductions — all row-local. */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 200)
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first"),
        round(array_min(col("embedding")).cast("double"), 6).as("vmin"),
        round(array_max(col("embedding")).cast("double"), 6).as("vmax"),
        size(filter(col("embedding"), x => x > 0)).as("n_pos"),
        round(element_at(array_sort(col("embedding")), 32).cast("double"), 6).as("median_lo"))
      .orderBy("vec_id")

  /** Map function sampler (SURVEY §2.3 row "map fns"): per user, an
    * event_type→count map built from sorted entries
    * (`map_from_entries`), then probed with `map_keys`/`element_at` and
    * folded with `aggregate(map_values(...))` — all row-local after one
    * partial+final count aggregate. Output stays scalar (joined key
    * string, lookups, fold) so the cross-engine compare is order-proof;
    * the DuckDB oracle states the same facts in plain SQL, which is the
    * point: the map is a Spark-side data-shaping tool, not a new
    * semantics. */
  def mapFuncs(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
    counts.groupBy("user_id")
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("event_type"), col("c"))))).as("m"))
      .select(col("user_id"),
        size(col("m")).as("n_types"),
        array_join(map_keys(col("m")), ",").as("types"),
        element_at(col("m"), "view").as("views"),
        aggregate(map_values(col("m")), lit(0L), (a, x) => a + x).as("total"))
      .orderBy("user_id")
  }

  /** O11 sink + O1 source, oracle-checked round trip: a projection is
    * written as headered CSV, JSON lines, AND ORC to a process-private
    * temp dir, read back (explicit schemas for the text formats; ORC is
    * self-describing), and aggregated per format — the oracle (running
    * on the original parquet) only matches if every value survived all
    * three write/read cycles. Complements SinkSpec's text/csv
    * round-trip specs by putting the sink paths under the DuckDB
    * gate. */
  def sinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.sources.TempDirs.create("graft_sink_rt_")
    val proj = Tables.documents(spark, dir).select("doc_id", "lang")
    proj.write.mode("overwrite").option("header", "true").csv(s"$out/csv")
    proj.write.mode("overwrite").json(s"$out/json")
    proj.write.mode("overwrite").orc(s"$out/orc")
    def agg(df: DataFrame, fmt: String): DataFrame =
      df.groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"))
        .withColumn("fmt", lit(fmt))
    agg(spark.read.option("header", "true")
        .schema("doc_id LONG, lang STRING").csv(s"$out/csv"), "csv")
      .union(agg(spark.read.schema("doc_id LONG, lang STRING")
        .json(s"$out/json"), "json"))
      .union(agg(spark.read.orc(s"$out/orc"), "orc"))
      .select("fmt", "lang", "n", "sum_ids")
      .orderBy("fmt", "lang")
  }

  /** Hive-style partitioned parquet sink + partition-pruned read-back:
    * documents written `partitionBy(lang, source)` (the layout a corpus
    * store actually uses — partition columns become directories, so a
    * lang/source-scoped job reads only its slice), then read back with
    * a partition filter and aggregated. At 100 TB the pruning IS the
    * query plan: the `en` filter must show up as a PartitionFilter
    * (asserted in SinkSpec), never a post-scan filter over all langs. */
  def sinkPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.sources.TempDirs.create("graft_sink_part_")
    Tables.documents(spark, dir)
      .select("doc_id", "n_chars", "lang", "source")
      .write.mode("overwrite").partitionBy("lang", "source").parquet(out)
    spark.read.parquet(out)
      .filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
      .orderBy("source")
  }

  /** Dynamic partition pruning — the join-driven cousin of
    * sink_partitioned's static prune: the fact is written
    * `partitionBy(lang)`, and the qualifying langs are only known at
    * RUNTIME (a HAVING filter over a runtime aggregate), so no static
    * filter can reach the scan. Catalyst plants a `dynamicpruning`
    * subquery in the fact scan's PartitionFilters — the fact directories
    * for losing langs are never opened, which at 100 TB is the
    * difference between reading one partition and reading the table.
    * Asserted in PlanAuditSpec; result is oracle-exact regardless. */
  def dppPrune(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.sources.TempDirs.create("graft_dpp_")
    Tables.documents(spark, dir)
      .select("doc_id", "n_chars", "lang")
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    val fact = spark.read.parquet(out)
    val dim = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 75)
    fact.join(dim, Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** Schema evolution on the read path: two parquet batches written with
    * DIFFERENT schemas (a column added between ingest generations — the
    * normal life of a long-lived corpus store), read back as one table
    * with `mergeSchema`; rows from the old generation surface NULL for
    * the new column and the aggregate accounts for them explicitly. At
    * scale mergeSchema costs one footer read per file at planning time —
    * the data path is unchanged. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.sources.TempDirs.create("graft_schema_evo_")
    val docs = Tables.documents(spark, dir)
    docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "lang")
      .write.mode("overwrite").parquet(s"$out/gen=1")
    docs.filter(col("doc_id") % 2 =!= 0)
      .select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$out/gen=2")
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_missing"),
        coalesce(sum("n_chars"), lit(0L)).as("sum_chars"))
      .orderBy("lang")
  }

  /** Small-files compaction — the table-maintenance pass every long-lived
    * 100 TB store runs: a fragmented ingest generation (forced here with
    * `maxRecordsPerFile`, the shape thousands of tiny streaming commits
    * produce) is rewritten into few large range-clustered files
    * (`repartitionByRange` on the read-pattern key + in-file sort, so
    * min/max row-group stats stay selective). The oracle checks CONTENT
    * identity against the source table — green iff compaction lost,
    * duplicated, or mutated nothing; the file-count collapse itself is
    * asserted in SinkSpec (counts are layout, not semantics). */
  def compactFiles(spark: SparkSession, dir: String): DataFrame = {
    val out = compactRoot(spark, dir)
    spark.read.parquet(s"$out/compact")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"),
        sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** Build the fragmented + compacted generations once per (session, dir)
    * so the spec can inspect both layouts without a second rewrite. */
  def compactRoot(spark: SparkSession, dir: String): String =
    graft.sources.Stages(spark, "relational/compact", dir) {
      val out = graft.sources.TempDirs.create("graft_compact_")
      val docs = Tables.documents(spark, dir)
        .select("doc_id", "lang", "source", "n_chars")
      docs.write.mode("overwrite")
        .option("maxRecordsPerFile", 50).parquet(s"$out/frag")
      graft.sources.ArtifactRoots.boundedWrite(
          spark.read.parquet(s"$out/frag")
            .repartitionByRange(4, col("lang"), col("doc_id"))
            .sortWithinPartitions("lang", "doc_id"))
        .mode("overwrite").parquet(s"$out/compact")
      out
    }

  /** Corrupt-record quarantine on the read path: a staged JSON-lines
    * batch carries deliberately-broken rows (every 7th record — the
    * malformed-producer reality of any external feed); a PERMISSIVE read
    * with `columnNameOfCorruptRecord` lands them in a quarantine column
    * instead of failing the job or silently dropping them. The aggregate
    * accounts for every input row: valid rows group by their parsed
    * lang, corrupt rows surface as the NULL-lang bucket with their raw
    * payloads countable for replay. Map-only over the feed at any scale. */
  def jsonQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.sources.TempDirs.create("graft_quarantine_")
    Tables.documents(spark, dir)
      .select(when(col("doc_id") % 7 === 0,
          concat(lit("{broken!"), col("lang")))
        .otherwise(to_json(struct(col("doc_id"), col("lang"))))
        .as("value"))
      .write.mode("overwrite").text(out)
    spark.read
      .schema("doc_id LONG, lang STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_quarantined"),
        coalesce(sum("doc_id"), lit(0L)).as("sum_ids"))
      .orderBy(asc_nulls_first("lang"))
  }

  /** Explicit GROUPING SETS (beyond rollup/cube): chosen group combos. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n
         |FROM parquet.`$dir/orders.parquet`
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
         |""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scalar_funcs" -> scalarFuncs,
    "array_funcs" -> arrayFuncs,
    "map_funcs" -> mapFuncs,
    "grouping_sets" -> groupingSets,
    "sink_roundtrip" -> sinkRoundtrip,
    "sink_partitioned" -> sinkPartitioned,
    "dpp_prune" -> dppPrune,
    "schema_evolution" -> schemaEvolution,
    "compact_files" -> compactFiles,
    "json_quarantine" -> jsonQuarantine,
    "scan_project" -> scanProject,
    "filter_pred" -> filterPred,
    "flatmap_tokens" -> flatmapTokens,
    "topk" -> topk,
    "union_all" -> unionAll,
    "distinct_pairs" -> distinctPairs,
    "semi_join" -> semiJoin,
    "anti_join" -> antiJoin,
    "set_intersect" -> setIntersect,
    "set_except" -> setExcept,
    "set_ops_all" -> setOpsAll,
  )

  val oracle: Map[String, String] = Map(
    "scalar_funcs" ->
      ("SELECT o_orderkey, upper(o_orderstatus) AS status_u, lower(o_orderpriority) AS prio_l, " +
        "CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_rank, " +
        "concat_ws('#', o_orderstatus, o_orderpriority) AS tag, " +
        "CAST(length(trim(o_orderpriority)) AS INT) AS prio_len, " +
        "CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m, " +
        "CAST(day(o_orderdate) AS INT) AS d, " +
        "round(sqrt(o_totalprice), 6) AS sqrt_price, round(ln(o_totalprice), 6) AS ln_price, " +
        "o_orderkey % 7 AS k_mod7, CAST(o_totalprice > 200000 AS INT) AS is_big " +
        "FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey"),
    "array_funcs" ->
      ("SELECT vec_id, CAST(len(embedding) AS INT) AS dim, " +
        "round(CAST(embedding[1] AS DOUBLE), 6) AS first, " +
        "round(CAST(list_min(embedding) AS DOUBLE), 6) AS vmin, " +
        "round(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax, " +
        "CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos, " +
        "round(CAST(list_sort(embedding)[32] AS DOUBLE), 6) AS median_lo " +
        "FROM embeddings WHERE vec_id < 200 ORDER BY vec_id"),
    "map_funcs" ->
      ("WITH c AS (SELECT user_id, event_type, count(*) AS c FROM events " +
        "GROUP BY user_id, event_type) " +
        "SELECT user_id, CAST(count(*) AS INT) AS n_types, " +
        "string_agg(event_type, ',' ORDER BY event_type) AS types, " +
        "max(CASE WHEN event_type = 'view' THEN c END) AS views, " +
        "CAST(sum(c) AS BIGINT) AS total " +
        "FROM c GROUP BY user_id ORDER BY user_id"),
    "sink_roundtrip" ->
      ("SELECT f.fmt, lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids " +
        "FROM documents CROSS JOIN (VALUES ('csv'), ('json'), ('orc')) f(fmt) " +
        "GROUP BY f.fmt, lang ORDER BY f.fmt, lang"),
    "sink_partitioned" ->
      ("SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        "FROM documents WHERE lang = 'en' GROUP BY source ORDER BY source"),
    "dpp_prune" ->
      ("SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        "FROM documents WHERE lang IN " +
        "(SELECT lang FROM documents GROUP BY lang HAVING count(*) >= 75) " +
        "GROUP BY lang ORDER BY lang"),
    "schema_evolution" ->
      ("SELECT lang, count(*) AS n, " +
        "CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_missing, " +
        "CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN n_chars ELSE 0 END) AS BIGINT) AS sum_chars " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "compact_files" ->
      ("SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "json_quarantine" ->
      ("SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang, " +
        "count(*) AS n, " +
        "CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined, " +
        "CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE doc_id END) AS BIGINT) AS sum_ids " +
        "FROM documents GROUP BY 1 ORDER BY lang NULLS FIRST"),
    "grouping_sets" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders " +
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ()) " +
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"),
    "scan_project" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem ORDER BY 1, 2, 3",
    "filter_pred" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_quantity > 45 ORDER BY 1, 2"),
    "flatmap_tokens" ->
      ("SELECT doc_id, word FROM (SELECT doc_id, unnest(string_split_regex(regexp_replace(text, '[^\\w\\s]+', '', 'g'), '\\s+')) AS word " +
        "FROM documents) WHERE length(word) > 0 ORDER BY doc_id, word"),
    "topk" ->
      ("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100"),
    "union_all" ->
      ("SELECT o_orderstatus, count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total FROM " +
        "(SELECT * FROM orders WHERE o_totalprice < 10000 UNION ALL SELECT * FROM orders WHERE o_totalprice >= 400000) " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "distinct_pairs" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2",
    "semi_join" ->
      ("SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),
    "anti_join" ->
      ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),
    "set_intersect" ->
      ("SELECT c_custkey AS custkey FROM customer INTERSECT " +
        "SELECT o_custkey AS custkey FROM orders ORDER BY custkey"),
    "set_except" ->
      ("SELECT c_custkey AS custkey FROM customer EXCEPT " +
        "SELECT o_custkey AS custkey FROM orders ORDER BY custkey"),
    "set_ops_all" ->
      ("WITH o1 AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'), " +
        "f1 AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F') " +
        "SELECT 'intersect_all' AS op, custkey FROM (SELECT custkey FROM o1 INTERSECT ALL SELECT custkey FROM f1) " +
        "UNION ALL " +
        "SELECT 'except_all' AS op, custkey FROM (SELECT custkey FROM o1 EXCEPT ALL SELECT custkey FROM f1) " +
        "ORDER BY op, custkey"),
  )
}
