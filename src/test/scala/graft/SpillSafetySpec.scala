package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ArtifactRoots, SpillSafety}

/** Pins the starvation-guard policies so a threshold edit can't
  * silently change when they engage (the guards exist precisely for
  * configs nobody runs day-to-day, so nothing else would notice). */
class SpillSafetySpec extends AnyFunSuite {
  private val G = 1L << 30

  test("spill read-ahead guard engages exactly when the per-slot pool is starved") {
    // the r17/r18 probe grid: 4g heap, 32 slots
    assert(SpillSafety.starvedSorterConf(4 * G, 32, 0.05).nonEmpty) // 6.4 MB/slot — OOMed in r17
    assert(SpillSafety.starvedSorterConf(4 * G, 32, 0.10).nonEmpty) // 12.8 MB/slot
    assert(SpillSafety.starvedSorterConf(4 * G, 32, 0.15).isEmpty)  // 19.2 MB/slot
    assert(SpillSafety.starvedSorterConf(4 * G, 32, 0.60).isEmpty)  // default fraction
    // steady-state bench config: 8g/32 at the default fraction
    assert(SpillSafety.starvedSorterConf(8 * G, 32, 0.60).isEmpty)
    // production-shaped executor: 4 GiB/slot never engages
    assert(SpillSafety.starvedSorterConf(16 * G, 4, 0.60).isEmpty)
    val conf = SpillSafety.starvedSorterConf(4 * G, 32, 0.05).toMap
    assert(conf("spark.unsafe.sorter.spill.read.ahead.enabled") == "false")
    assert(conf("spark.unsafe.sorter.spill.reader.buffer.size") == (1L << 20).toString)
  }

  test("the session-build hook's conf carries the codegen cache cap and the starved-sorter pairs unchanged") {
    val key = "spark.sql.codegen.cache.maxEntries"
    for ((heap, slots, frac) <- Seq((4 * G, 32, 0.05), (8 * G, 32, 0.60), (16 * G, 4, 0.60))) {
      val conf = SpillSafety.sessionConf(heap, slots, frac)
      assert(conf.toMap.get(key).contains(SpillSafety.CodegenCacheEntries.toString))
      assert(conf.filterNot(_._1 == key) == SpillSafety.starvedSorterConf(heap, slots, frac))
    }
    // far above Spark's 100-entry default, which one Bench pass overflows
    assert(SpillSafety.CodegenCacheEntries >= 8192)
    // the shared test session is built through the hook: the static conf
    // is live on its context
    assert(TestSpark.spark.sparkContext.getConf.get(key) ==
      SpillSafety.CodegenCacheEntries.toString)
    // ... and live in Spark's cache, read the way the factory checks it
    assert(graft.sources.Session.codegenCacheCapacity.contains(
      SpillSafety.CodegenCacheEntries.toLong))
  }

  test("artifact row-group bound clamps to the parquet default at production heap/slot ratios") {
    val spark = TestSpark.spark // local JVM: heap is this JVM's -Xmx
    val slots = spark.sparkContext.defaultParallelism
    val heap = Runtime.getRuntime.maxMemory()
    val b = ArtifactRoots.boundedBlockBytes(spark)
    val expected = math.max(4L << 20, math.min(128L << 20, heap / (8L * slots)))
    assert(b == expected)
    // the bound never leaves [4 MiB, 128 MiB]
    assert(b >= (4L << 20) && b <= (128L << 20))
  }
}
