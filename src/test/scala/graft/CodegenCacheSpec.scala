package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark's generated-class cache must hold a query set's whole working
  * set: at Spark's 100-entry default, rerunning the same plans recompiles
  * most of their classes in Janino (the steady-pass thrash the session
  * build hook's [[graft.sources.SpillSafety.CodegenCacheEntries]] fixes). */
class CodegenCacheSpec extends SparkSpec {

  /** The 22 TPC-H queries: plain plans that read no memoized stage, so a
    * rerun plans the same queries again. */
  private val names = SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compiles while running every query in [[names]] once. */
  private def runAll(): Long = {
    val c0 = compiles
    names.foreach(n =>
      SparkEntry.queries(n)(spark, sf).write.format("noop").mode("overwrite").save())
    compiles - c0
  }

  test("a second run of the TPC-H queries compiles almost no generated class") {
    assert(names.size == 22, s"expected the 22 TPC-H queries, got $names")
    // The cache reads its capacity from the active session's conf when
    // the code generator first loads, so the session must exist before
    // this test touches the generator itself.
    spark.sparkContext
    // Empty the JVM-wide cache first: suites that ran earlier in this JVM
    // already compiled these plans, and a warm first run would make the
    // working-set floor below pass or fail by suite order.
    val cache = {
      val m = CodeGenerator.getClass.getDeclaredMethod("cache")
      m.setAccessible(true)
      m.invoke(CodeGenerator)
    }
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = runAll()
    val second = runAll()
    info(s"compiles: first run $first, second run $second")
    // more distinct classes than Spark's 100-entry default cache holds, so
    // the test cannot pass on a cache that merely fits a small set
    assert(first > 100, s"first run compiled only $first classes")
    // AQE re-plans as query stages finish, so a rerun can generate code
    // that differs by a few classes (observed 6–20 in the second run, 0–2
    // with AQE off). Hundreds recompiled means the cache evicted the
    // first run's classes, as Spark's 100-entry default does (~300).
    assert(second <= 40,
      s"second run recompiled $second of the first run's $first classes")
  }
}
