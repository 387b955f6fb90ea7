package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

import graft.sources.{Stages, TempDirs}

/** The session-scoped stage registry: when a registered stage is reused,
  * rebuilt, or released. */
class StagesSpec extends SparkSpec {

  /** A fake one-file "dataset" whose rewrite changes its fingerprint. */
  private def dataset(): String = {
    val ds = TempDirs.create("graft_stages_ds_")
    Files.write(Paths.get(ds, "data"), "gen1".getBytes)
    ds
  }

  private def regenerate(ds: String): Unit = {
    Files.write(Paths.get(ds, "data"), "generation2".getBytes)
    Files.setLastModifiedTime(Paths.get(ds, "data"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 2000))
  }

  /** A persisted frame with a plan of its own: the cache is keyed by plan,
    * so two structurally equal frames would share one cache entry. */
  private def frame(n: Int): DataFrame =
    spark.range(n).toDF("id")
      .withColumn("tag", lit(java.util.UUID.randomUUID().toString)).persist()

  test("a hit on unchanged data builds once") {
    val ds = dataset()
    var builds = 0
    def stage(): DataFrame = Stages(spark, "spec/hit", ds) { builds += 1; frame(3) }
    val a = stage()
    val b = stage()
    assert((a eq b) && builds == 1, "unchanged data must be a hit")
  }

  test("in-place regeneration rebuilds and unpersists the superseded frame") {
    val ds = dataset()
    var builds = 0
    def stage(): DataFrame = Stages(spark, "spec/regen", ds) { builds += 1; frame(3 + builds) }
    val old = stage()
    assert(old.storageLevel != StorageLevel.NONE)
    regenerate(ds)
    val fresh = stage()
    assert(builds == 2 && (fresh ne old), "regeneration must rebuild the stage")
    assert(old.storageLevel == StorageLevel.NONE,
      "the superseded frame must be released, not pinned next to the new one")
    assert(fresh.storageLevel != StorageLevel.NONE)
    assert(fresh.count() == 5)
  }

  test("clear() unpersists every frame and leaves the stream input stagings alone") {
    val ds = dataset()
    val frames = Seq("spec/clear_a", "spec/clear_b").map(s => Stages(spark, s, ds)(frame(2)))
    var staged = 0
    def stagedDir(): String = graft.streaming.StreamingBridge.stagedFor(ds, "spec-clear") {
      staged += 1
      TempDirs.create("graft_stages_staged_")
    }
    val s1 = stagedDir()
    Stages.clear()
    assert(frames.forall(_.storageLevel == StorageLevel.NONE),
      "clear() must release every registered frame")
    var rebuilt = false
    Stages(spark, "spec/clear_a", ds) { rebuilt = true; frame(2) }
    assert(rebuilt, "a cleared stage must rebuild on next access")
    assert(stagedDir() == s1 && staged == 1,
      "clear() must not drop a process-level stream input staging")
  }

  test("two conf values of one stage get separate entries") {
    val ds = dataset()
    var builds = Map.empty[String, Int]
    def stage(conf: String): DataFrame = Stages(spark, "spec/conf", ds, conf) {
      builds = builds.updated(conf, builds.getOrElse(conf, 0) + 1)
      frame(conf.drop(1).toInt)
    }
    val a = stage("b16")
    val b = stage("b32")
    assert((stage("b16") eq a) && (stage("b32") eq b) && builds == Map("b16" -> 1, "b32" -> 1),
      "each conf value must hold its own entry, neither superseding the other")
    // the real knob: a dsirBuckets change mid-session is a miss, and
    // switching back serves the first width's model again, not the last
    val widths = Seq("16", "32", "16").map { w =>
      spark.conf.set("spark.graft.dsirBuckets", w)
      try graft.operators.Dsir.dsirBucketStats(spark, sf).count()
      finally spark.conf.unset("spark.graft.dsirBuckets")
    }
    assert(widths == Seq(16L, 32L, 16L))
  }
}
