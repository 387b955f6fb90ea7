package graft

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, ShuffleQueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Session, SpillSafety, Stages, TempDirs}

/** Builds the chunk index (`TextAnalysis.chunkIndexRoot`) twice on
  * `local-cluster[2,1,1024]` (two executor JVMs, a real Netty shuffle):
  * once undisturbed, and once with one executor SIGKILLed between the
  * build's first shuffle stage and the stage that reads it. Prints one
  * `execloss k=v ...` line. Run in a child JVM by [[ExecutorLossSpec]].
  *
  * The kill point is deterministic: adaptive execution re-optimizes on
  * the driver thread after a query stage materializes and before it
  * submits the stages that read it, so a runtime optimizer rule that
  * finds a materialized shuffle stage kills the executor that ran the
  * last map task and returns only once the driver has removed it. */
object ExecutorLossChild {
  private val armed = new AtomicBoolean(false)
  private val lastMapExecutor = new AtomicReference[String]
  /** Failed tasks plus stages that recompute lost map output. */
  private val retries = new AtomicLong
  private val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Seq[Int]]()
  private val removed = new ConcurrentLinkedQueue[String]
  private val added = new ConcurrentLinkedQueue[String]

  /** Poll `done` until it holds or `seconds` pass; whether it holds. */
  def await(seconds: Int)(done: => Boolean): Boolean = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(seconds)
    while (!done && System.nanoTime() < deadline) Thread.sleep(20)
    done
  }

  /** Order-independent content hash and row count of a frame: the sum of
    * a 56-bit prefix of each row's md5 over its JSON form, so two runs
    * agree iff their row multisets agree. */
  def contentHash(df: DataFrame): (String, Long) = {
    val r = df.selectExpr(
      "sum(cast(conv(substring(md5(to_json(struct(*))), 1, 14), 16, 10) as decimal(38,0))) as h",
      "count(1) as n").head()
    (String.valueOf(r.get(0)), r.getLong(1))
  }

  /** A process's arguments, read from procfs: an executor's command line
    * (the whole test classpath) is too long for `ProcessHandle.Info`. */
  def argv(p: ProcessHandle): Seq[String] = scala.util.Try(new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"/proc/${p.pid}/cmdline")))
    .split('\u0000').toSeq).getOrElse(Nil)

  private object KillAfterMapStage extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = {
      val mapped = plan.exists {
        case s: LogicalQueryStage => s.physicalPlan.exists {
          case q: ShuffleQueryStageExec => q.isMaterialized
          case _ => false
        }
        case _ => false
      }
      if (mapped && armed.compareAndSet(true, false)) kill()
      plan
    }
  }

  /** SIGKILL the executor JVM that ran the last map task, then wait until
    * the driver has removed it. */
  private def kill(): Unit = {
    val sc = SparkSession.active.sparkContext
    org.apache.spark.GraftListenerBridge.drainListenerBus(sc, 60000L)
    val victim = lastMapExecutor.get
    // the in-process workers fork the executors as this JVM's children
    val proc = ProcessHandle.current().children().iterator().asScala
      .find(argv(_).containsSlice(Seq("--executor-id", victim)))
      .getOrElse(sys.error(s"no process for executor $victim"))
    proc.destroyForcibly()
    require(await(60)(removed.contains(victim)), s"the driver did not remove executor $victim")
  }

  private def rdds(s: StageInfo): Seq[Int] = s.rddInfos.map(_.id).sorted

  def main(args: Array[String]): Unit = {
    val executorHeap = 512L << 20
    val spark = (Session.conf(2) ++ SpillSafety.sessionConf(executorHeap, 1, 0.6) ++ Seq(
        "spark.executor.memory" -> s"${executorHeap >> 20}m",
        "spark.executor.extraClassPath" -> sys.props("java.class.path")))
      .foldLeft(SparkSession.builder().master("local-cluster[2,1,1024]")
        .appName("graft-executor-loss")
        .withExtensions(_.injectRuntimeOptimizerRule(_ => KillAfterMapStage))) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) retries.incrementAndGet()
        else if (e.taskType == "ShuffleMapTask") lastMapExecutor.set(e.taskInfo.executorId)
      // a lost map output is recomputed by a new attempt of its stage, or,
      // once the job that ran it has ended, by a new stage over the same RDDs
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.attemptNumber() > 0 || ran.contains(rdds(e.stageInfo)))
          retries.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.failureReason.isEmpty) ran.add(rdds(e.stageInfo))
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        removed.add(e.executorId)
      override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit =
        added.add(e.executorId)
    })
    val dir = TestSpark.sf
    def build(): (String, Long) = contentHash(spark.read.parquet(
      s"${operators.TextAnalysis.chunkIndexRoot(spark, dir)}/postings"))

    val (hBase, nBase) = build()
    val baseRetries = retries.get
    Stages.clear() // the next access rebuilds the index under a fresh root
    val addedBefore = added.size
    armed.set(true)
    val (hKill, nKill) = build()
    // the standalone worker relaunches the killed executor
    await(60)(added.size > addedBefore)
    println(s"execloss app=${spark.sparkContext.applicationId} " +
      s"base_rows=$nBase base_hash=$hBase base_retries=$baseRetries " +
      s"kill_rows=$nKill kill_hash=$hKill killed=${!armed.get} removed=${removed.size} " +
      s"retries=${retries.get - baseRetries} replacements=${added.size - addedBefore}")
    spark.stop()
  }
}

/** Spark's task retry stands in for the reference's leases and stale-task
  * reassignment: an executor lost mid-build costs a retry, not a
  * different result. */
class ExecutorLossSpec extends AnyFunSuite {

  test("the chunk-index build survives the SIGKILL of an executor with the same rows") {
    // local-cluster launches executors from SPARK_HOME's jars, as Spark's
    // launch scripts do (which also export the Scala version): a private
    // home linking the jars beside spark-core keeps the workers' scratch
    // out of the installation
    val home = TempDirs.create("graft_spark_home_")
    val jars = java.nio.file.Paths.get(classOf[org.apache.spark.SparkContext]
      .getProtectionDomain.getCodeSource.getLocation.toURI).getParent
    java.nio.file.Files.createSymbolicLink(java.nio.file.Paths.get(home, "jars"), jars)
    val (code, out) = ChildJvm.run("graft.ExecutorLossChild", Map("SPARK_HOME" -> home,
      "SPARK_SCALA_VERSION" -> scala.util.Properties.versionNumberString.split('.').take(2).mkString(".")))
    val line = out.linesIterator.find(_.startsWith("execloss ")).getOrElse(
      fail(s"the child reported nothing (exit $code):\n$out"))
    val r = line.split(" ").drop(1).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    assert(code == 0, out)
    assert(r("base_rows").toLong > 0 && r("base_retries") == "0", line)
    assert(r("kill_rows") == r("base_rows") && r("kill_hash") == r("base_hash"), line)
    // recovery was exercised, so the equality above is not vacuous
    assert(r("killed") == "true", line)
    assert(r("removed").toInt >= 1, line)
    assert(r("retries").toLong >= 1, line)
    assert(r("replacements").toInt >= 1, line)
    // no executor JVM outlives the child
    def left = ProcessHandle.allProcesses().iterator().asScala
      .filter(ExecutorLossChild.argv(_).exists(_.contains(r("app")))).toList
    assert(ExecutorLossChild.await(30)(left.isEmpty), left.map(_.pid).mkString(" "))
    TempDirs.delete(home)
  }
}
