package graft.sources

/** Unmanaged-memory guardrails for memory-starved executors.
  *
  * Spark's spill machinery bounds MANAGED memory, but two per-file
  * buffer families live outside every pool and scale with spill/write
  * fan-in, which is exactly what explodes when the pool is starved:
  *
  *  - spill READERS: `UnsafeExternalSorter.getSortedIterator` merges
  *    ALL of a task's spill files at once, one `UnsafeSorterSpillReader`
  *    each; with read-ahead enabled every reader allocates two heap
  *    buffers of `spark.unsafe.sorter.spill.reader.buffer.size` (plus a
  *    1 MiB direct NIO buffer). A 6 MiB/slot execution pool turns a
  *    hundred-MiB working set into dozens of spill files per task, and
  *    32 concurrent merges × dozens of files × 2 MiB of heap OOMed the
  *    r18 probe at 4g + memoryFraction 0.05 — inside
  *    `ReadAheadInputStream.<init>`, not in any managed pool.
  *  - parquet WRITERS: one open row-group buffer per running task
  *    ([[ArtifactRoots.boundedBlockBytes]] bounds those).
  *
  * Policy: when the per-slot execution pool is starved (< 16 MiB —
  * only adversarial fractions or drastically oversubscribed executors
  * get there; every production-shaped config clears it by an order of
  * magnitude), disable spill read-ahead so readers keep only their
  * direct NIO buffer, and pin the reader buffer at parquet's 1 MiB
  * floor. Read-ahead is a throughput optimization; under this much
  * pressure the job is spill-bound anyway and surviving beats
  * prefetching. These are SparkConf-level settings (the reader
  * constructor reads `SparkEnv.get().conf()`), so they must be applied
  * at session BUILD time — hence a builder hook, not a runtime set.
  *
  * The same hook sizes Spark's generated-class cache, another static
  * conf ([[CodegenCacheEntries]]), and binds `file://` to
  * [[InProcessLocalFs]]. Every local graft session is built by the
  * factory [[Session.local]], which builds through [[tune]] and fails
  * loudly if the cache did not take the cap or the binding did not
  * take; a `local-cluster` session (`ExecutorLossSpec`) folds
  * [[sessionConf]], and the benchmark driver calls [[tune]]. */
object SpillSafety {
  /** Per-slot execution-pool floor below which the guardrails engage. */
  val StarvedPoolPerSlotBytes: Long = 16L << 20

  /** The conf pairs for a JVM with `heapBytes` max heap, `slots`
    * concurrent tasks, and `memFraction` unified-pool fraction. Empty
    * when the pool is healthy — steady-state bench configs are
    * untouched. Pure, so the policy itself is spec-testable. */
  def starvedSorterConf(heapBytes: Long, slots: Int,
      memFraction: Double): Seq[(String, String)] = {
    val poolPerSlot =
      (heapBytes * memFraction / math.max(1, slots)).toLong
    if (poolPerSlot < StarvedPoolPerSlotBytes)
      Seq("spark.unsafe.sorter.spill.read.ahead.enabled" -> "false",
        "spark.unsafe.sorter.spill.reader.buffer.size" -> (1L << 20).toString)
    else Seq.empty
  }

  /** Capacity of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, an LRU; Spark's default is
    * 100). Its size is read once, from the active session's conf, when
    * the code generator first loads, so the session must be built before
    * anything generates code. At the default every pass recompiles most
    * of its classes in Janino: perfbench `llm_dedup` generates ~160 per
    * pass and recompiled ~150 each timed pass; a steady Bench sf0.01
    * pass recompiled 5,727. Measured working set, the distinct compiles
    * in one Bench pass with a 1,000,000-entry cap: 4,192 at sf0.01 and
    * 4,183 at sf0.1. The cap is at least twice the largest. */
  val CodegenCacheEntries: Int = 16384

  /** The static conf that carries [[CodegenCacheEntries]]. */
  val CodegenCacheKey: String = "spark.sql.codegen.cache.maxEntries"

  /** Every conf pair the build hook sets: the starved-sorter guard (see
    * [[starvedSorterConf]]), the codegen cache capacity, and the
    * `file://` binding to Hadoop's local filesystem without a process per
    * file ([[InProcessLocalFs.sessionConf]]). Pure; a non-local master
    * folds it with its EXECUTOR heap and slots, and its executors take
    * the binding through `spark.hadoop.*`. */
  def sessionConf(heapBytes: Long, slots: Int,
      memFraction: Double): Seq[(String, String)] =
    (starvedSorterConf(heapBytes, slots, memFraction) :+
      (CodegenCacheKey -> CodegenCacheEntries.toString)) ++ InProcessLocalFs.sessionConf

  /** Apply [[sessionConf]] to a session builder using this JVM's max heap
    * (the executor heap in local mode, where all graft CLIs run). */
  def tune(builder: org.apache.spark.sql.SparkSession.Builder, slots: Int,
      memFraction: Double): org.apache.spark.sql.SparkSession.Builder =
    sessionConf(Runtime.getRuntime.maxMemory(), slots, memFraction)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
}
