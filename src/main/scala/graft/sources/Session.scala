package graft.sources

import org.apache.spark.sql.SparkSession

/** THE session factory: every local graft session — Bench, Verify,
  * Explain, the probes and the test base — is built by [[local]], so the
  * oracle dump, the bench and the tests run one conf by construction.
  * The two `local-cluster` probes fold [[conf]] with their own master and
  * executor-heap [[SpillSafety.sessionConf]]. */
object Session {

  /** Task slots of a local session: `SPARK_GRAFT_CPUS`, default 4. */
  val defaultCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The pinned conf of a graft session on `cores` task slots: shuffle
    * partitions = cores, AQE on, UTC, legacy parquet nanos read as longs
    * (see [[Tables.events]]), no UI. Pure. */
  def conf(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** Probe hook: `SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"` drives the same
    * mains under a conf override (e.g. the 10k-bucket DSIR oracle run,
    * `spark.graft.dsirBuckets=10000`). Unset in every contracted run. */
  private def envConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(";"))
      .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }

  /** The `local[cores]` session: [[conf]], then `extra`, then the probe
    * hook, built through [[SpillSafety.tune]] at the session's memory
    * fraction, log level WARN. Throws if Spark's generated-class cache
    * did not take the session's capacity (see [[codegenCacheCapacity]]). */
  def local(cores: Int = defaultCores,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val pairs = conf(cores) ++ extra ++ envConf
    val fraction = pairs.toMap.get("spark.memory.fraction").fold(0.6)(_.toDouble)
    val spark = pairs.foldLeft(SpillSafety.tune(SparkSession.builder(), cores, fraction)
        .master(s"local[$cores]")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val want = spark.sparkContext.getConf.getLong(SpillSafety.CodegenCacheKey, 0L)
    codegenCacheCapacity.filter(_ < want).foreach { live =>
      spark.stop()
      throw new IllegalStateException(s"Spark's generated-class cache holds $live " +
        s"entries, not the $want the session sets: something generated code before " +
        "the session existed, and the cache reads its size once, when the code " +
        "generator first loads")
    }
    spark
  }

  /** Live capacity of Spark's JVM-wide generated-class cache (the shaded
    * Guava `LocalCache.maxWeight` behind `CodeGenerator.cache`), or None
    * if this Spark version hides it — `SpillSafetySpec` then fails rather
    * than every session. */
  private[graft] def codegenCacheCapacity: Option[Long] = scala.util.Try {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    def field(o: AnyRef, name: String): AnyRef = {
      val f = Iterator.iterate[Class[_]](o.getClass)(_.getSuperclass)
        .takeWhile(_ != null).flatMap(_.getDeclaredFields).find(_.getName == name).get
      f.setAccessible(true)
      f.get(o)
    }
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    val loading = cache.getClass.getMethod("loadingCache").invoke(cache)
    field(field(loading, "localCache"), "maxWeight").asInstanceOf[java.lang.Long].longValue
  }.toOption
}
