package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver testdata star schema
  * (`/root/repo/TESTDATA.md`).
  *
  * The reference engine's only source is a whole-file text scan
  * (/root/reference/src/mr/worker.rs:88-99); here every source is a columnar
  * parquet scan so Catalyst can push filters and prune columns — at 100 TB
  * the scan is the dominant cost and `PushedFilters`/`ReadSchema` on the
  * `FileSourceScanExec` are what keep it linear in the *needed* bytes, not
  * the stored bytes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Table `name` of the dataset at `dir`. Its schema is inferred once
    * per (session, dataset identity) through [[Stages]] (stage
    * `schema/<name>`), and every later read passes it in: inference reads
    * the parquet footers in a one-task Spark job, which each read would
    * otherwise rerun. A regenerated dataset changes its identity and is
    * inferred again; [[Stages.clear]] drops the schemas with every other
    * stage. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = Stages(spark, s"schema/$name", dir)(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** events.ts has shipped in three physical parquet shapes across
    * testdata generations, all normalized here to µs TimestampType so
    * every event-time operator sees ONE type:
    *  - TIMESTAMP(NANOS): Spark 4 refuses to map it to TimestampType;
    *    [[Session.conf]] reads it as longs (the legacy parquet flag), so it
    *    arrives as LongType nanos — truncate to micros (matches DuckDB's
    *    `epoch_us(ts)` exactly).
    *  - timestamp[us] without timezone → TimestampNTZType: `unix_micros`
    *    and `withWatermark` reject NTZ, so cast to TimestampType; under
    *    the pinned UTC session zone the cast is value-identical to
    *    DuckDB's naive reading, so oracle hashes are unaffected.
    *  - timestamp[us] UTC-adjusted → TimestampType: pass through. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(table(spark, dir, "events"))

  /** Normalize a `ts` column of any of the three shipped physical types
    * (LongType nanos / TimestampNTZType / TimestampType) to µs
    * TimestampType. Shared by the batch loader above and the streaming
    * bridge's file-source reads. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Parallelism floor for CPU-bound per-row kernels: a compacted
    * few-file corpus (one parquet file at probe scale; a handful after
    * compaction at any real scale) plans the scan with fewer splits than
    * the machine has cores, so a tight mapPartitions / codegen kernel
    * downstream runs the whole corpus on one or two threads — the r16
    * ngram_jaccard dig measured cpu_s ≈ 3× wall at scan parallelism ~1
    * on a single 6 MB file. When the frame's planned parallelism is
    * below HALF the scheduler's default parallelism, hash-repartition on
    * `key` to full width: the rows shuffle once and the kernel uses the
    * machine. An already-wide scan (every real multi-split layout)
    * passes through with NO added exchange, and hash partitioning (not
    * round-robin) avoids the retry-determinism sort on wide text rows.
    * Row-local kernels are partitioning-invariant, so results are
    * unchanged under the floor.
    *
    * Every consumer reads through [[documentsKernelWide]]: the word-count
    * family's map stages (`wordcount`, `wordcount_filtered`,
    * `mr_wordcount`, `mr_wordcount_combine`, `mr_inverted_index`), DSIR's
    * gram pass, Dedup's per-doc kernels (minhash signatures, shingle
    * and n-gram gram sets, decontamination grams, substring window
    * hashes, line frames) and TextAnalysis's doc fingerprints. */
  def floorParallelism(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target, col(key))
    else df
  }

  /** The documents scan floored to kernel width — for the CPU-heavy
    * per-doc stages (tokenizing, gram sets, minhash signatures, window
    * hashes, fingerprints); use plain [[documents]] wherever the work is
    * scan-bound rather than kernel-bound. */
  def documentsKernelWide(spark: SparkSession, dir: String): DataFrame =
    floorParallelism(documents(spark, dir), "doc_id")
}
