package graft.sources

import org.apache.spark.sql.SparkSession

/** THE session factory: every local graft session — Bench, Verify,
  * Explain and the test base — is built by [[local]], so the oracle
  * dump, the bench and the tests run one conf by construction, and it
  * refuses a session whose JVM lost a conf it cannot take late (the
  * generated-class cache size, the `file://` binding). A `local-cluster`
  * session (`ExecutorLossSpec`) folds [[conf]] with its own master and
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

  /** The `local[cores]` session: [[conf]], then `extra`, built through
    * [[SpillSafety.tune]] at the session's memory fraction, log level
    * WARN. Throws if Spark's generated-class cache
    * did not take the session's capacity (see [[codegenCacheCapacity]]),
    * or if `file://` is not served by [[InProcessLocalFs]] through both
    * Hadoop APIs: Hadoop caches one local `FileSystem` per JVM, so one
    * created before the first session keeps the stock class, and every
    * file written after would fork `chmod` again. */
  def local(cores: Int = defaultCores,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val pairs = conf(cores) ++ extra
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
    localFsClasses(spark).filterNot { case (live, want) => want.isAssignableFrom(live) }
      .foreach { case (live, want) =>
        spark.stop()
        throw new IllegalStateException(s"Hadoop serves file:// with ${live.getName}, " +
          s"not ${want.getName}: something created a local FileSystem before the " +
          "session existed, and Hadoop caches one per JVM")
      }
    spark
  }

  /** (live class, graft's class) of `file://` on the session's Hadoop
    * conf: the raw `FileSystem` under `FileSystem.getLocal`, and the
    * `AbstractFileSystem` that `FileContext` (the streaming WAL) uses. */
  private[graft] def localFsClasses(spark: SparkSession): Seq[(Class[_], Class[_])] = {
    import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem}
    val hadoop = spark.sparkContext.hadoopConfiguration
    Seq(FileSystem.getLocal(hadoop).getRaw.getClass -> classOf[InProcessRawLocalFileSystem],
      AbstractFileSystem.get(java.net.URI.create("file:///"), hadoop).getClass ->
        classOf[InProcessLocalFs])
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
