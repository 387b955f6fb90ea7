package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Stages, TempDirs}

/** Bench's billing of shared stage builds: a metered pass reports one
  * `chain_<label>` entry per labeled stage its queries build, and each
  * entry is billed only its own work. */
class BenchSpec extends SparkSpec {

  private def queries(names: String*): Seq[(String, (SparkSession, String) => DataFrame)] =
    names.map(n => n -> SparkEntry.queries(n))

  /** A fake one-file dataset: a fresh registry key for synthetic stages. */
  private def dataset(): String = {
    val ds = TempDirs.create("graft_bench_ds_")
    Files.write(Paths.get(ds, "data"), "gen1".getBytes)
    ds
  }

  /** Spark jobs started while `body` ran. */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"bench-spec-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "BenchSpec", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    org.apache.spark.GraftListenerBridge.drainListenerBus(sc, 60000L)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def sleeping[T](ms: Long)(v: => T): T = { Thread.sleep(ms); v }

  test("a dedup_containment-only pass bills the three dedup chains, and the query pays none of them") {
    Stages.clear()
    val t0 = System.nanoTime()
    val (chains, results) = Bench.pass(spark, sf, queries("dedup_containment"), metered = true)
    val passWall = (System.nanoTime() - t0) / 1e9
    assert(chains.map(_.name).toSet ==
      Set("chain_dedup_sigs", "chain_shingle_grams", "chain_dedup_verified"))
    assert(results.map(_.name) == Seq("dedup_containment"))
    val all = chains ++ results
    assert(all.forall(t => t.wallS > 0 && t.compiles >= 0), s"unbilled or failed entry: $all")
    // every second of the pass is billed once: a query that also paid
    // for the builds it triggered would push the sum past the pass wall
    assert(all.map(_.wallS).sum <= passWall,
      s"entries sum to ${all.map(_.wallS).sum} s over a $passWall s pass: $all")
    // the stages are registered now, so the next pass builds nothing
    val (again, _) = Bench.pass(spark, sf, queries("dedup_containment"), metered = true)
    assert(again.isEmpty, s"a pass over built stages billed chains: $again")
  }

  test("the stdout line's omitted entries are exactly the ones it does not show") {
    def t(name: String, wall: Double) = Bench.Timing(name, wall, 0, 0, 0, 0)
    // registry order (chains first, then alphabetical) differs from the
    // line's order (failures first, then slowest first)
    val all = Seq(t("chain_a", 0.5), t("q_fast", 0.1), t("q_failed", -1.0),
      t("q_slow", 9.0), t("q_mid", 2.0), t("q_tiny", 0.01))
    val (kept, omitted) = Bench.stdoutEntries(all, budget = 45)
    assert(kept.map(_.name) == Seq("q_failed", "q_slow", "q_mid"))
    assert(omitted.map(_.name).toSet == Set("chain_a", "q_fast", "q_tiny"))
    assert((kept ++ omitted).map(_.name).sorted == all.map(_.name).sorted)
    val total = all.map(_.wallS).filter(_ >= 0).sum
    val shown = kept.map(_.wallS).filter(_ >= 0).sum
    assert(math.abs(shown + omitted.map(_.wallS).filter(_ >= 0).sum - total) < 1e-9)
  }

  test("a wordcount-only pass bills no chain") {
    Stages.clear()
    val (chains, results) = Bench.pass(spark, sf, queries("wordcount"), metered = true)
    assert(chains.isEmpty && results.map(_.name) == Seq("wordcount") && results.head.wallS > 0)
  }

  test("a labeled build nested in another is billed to its own chain only") {
    val ds = dataset()
    def inner(s: SparkSession, d: String): String =
      Stages(s, "spec/inner", d, chain = "spec_inner")(sleeping(600)("inner"))
    def outer(s: SparkSession, d: String): String =
      Stages(s, "spec/outer", d, chain = "spec_outer")(sleeping(200)(inner(s, d) + "+outer"))
    val query = (s: SparkSession, d: String) => { outer(s, d); s.range(1).toDF() }
    val (chains, Seq(q)) = Bench.pass(spark, ds, Seq("spec_query" -> query), metered = true)
    assert(chains.map(_.name) == Seq("chain_spec_inner", "chain_spec_outer"))
    val Seq(in, out) = chains
    assert(in.wallS >= 0.6, s"inner build under-billed: $in")
    assert(out.wallS >= 0.2 && out.wallS < 0.6, s"outer build must exclude the inner one: $out")
    assert(q.wallS >= 0 && q.wallS < 0.6, s"the query must exclude both builds: $q")
  }

  test("two registry entries under one label bill one chain; a failed build is recorded once as -1") {
    val ds = dataset()
    def twins(s: SparkSession, d: String): Unit = {
      Stages(s, "spec/twin_a", d, chain = "spec_twin")(sleeping(300)("a"))
      Stages(s, "spec/twin_b", d, chain = "spec_twin")(sleeping(300)("b"))
    }
    def broken(s: SparkSession, d: String): String =
      Stages(s, "spec/broken", d, chain = "spec_broken")(sys.error("stage build failed"))
    val ok = (s: SparkSession, d: String) => { twins(s, d); s.range(1).toDF() }
    val bad = (s: SparkSession, d: String) => { broken(s, d); s.range(1).toDF() }
    val (chains, results) = Bench.pass(spark, ds,
      Seq("spec_a" -> ok, "spec_b" -> bad, "spec_c" -> bad), metered = true)
    assert(chains.map(_.name) == Seq("chain_spec_twin", "chain_spec_broken"))
    assert(chains.head.wallS >= 0.6, s"both entries of the label must be billed: ${chains.head}")
    assert(chains(1).wallS == -1.0)
    assert(results.map(r => r.name -> (r.wallS < 0)) ==
      Seq("spec_a" -> false, "spec_b" -> true, "spec_c" -> true))
  }

  test("outside a metered pass a labeled DataFrame stage is built without running a Spark job") {
    val ds = dataset()
    var built: DataFrame = null
    val jobs = jobsRunBy {
      built = Stages(spark, "spec/labeled", ds, chain = "spec_labeled") {
        spark.range(5).toDF("id").persist()
      }
    }
    assert(jobs == 0, s"building a labeled stage ran $jobs Spark job(s)")
    val (chains, _) = Bench.pass(spark, ds, Seq("spec_unmetered" -> ((s: SparkSession, d: String) =>
      Stages(s, "spec/labeled_b", d, chain = "spec_labeled")(s.range(5).toDF("id")))), metered = false)
    assert(chains.isEmpty && built.count() == 5)
  }
}
