package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.execution.{AppendColumnsWithObjectExec, MapGroupsExec, MapPartitionsExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.internal.SQLConf

import graft.mr.MapReduce

/** A key that encodes to a struct column. */
case class MrSpecKey(word: String, len: Int)

/** The typed map/reduce path shuffles, sorts and reduces every record
  * once: it groups on the encoded key column, its holistic shuffle keeps
  * `spark.sql.shuffle.partitions` partitions, and the final sort reads a
  * materialized reduce output. */
class MapReduceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val width = spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt

  test("the holistic reduce runs once per key under the final sort, in stages of full width") {
    val sc = spark.sparkContext
    val calls = sc.longAccumulator("reduce calls")
    val stages = sc.collectionAccumulator[Int]("reduce stages")
    val lines = (0 until 2000).map(i => s"w${i % 300} v${i % 7}, x!")
    val counts = MapReduce.mapReduce(lines.toDS(), MapReduce.wordCountMap,
      (k: String, vs: Iterator[Long]) => {
        calls.add(1)
        stages.add(TaskContext.get().stageId())
        (k, vs.sum)
      }).toDF("word", "cnt")
    val (rows, jobs) = jobsRunBy(MapReduce.sortedOutput(counts, "word").collect())
    val want = lines.flatMap(MapReduce.wordCountMap).groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == want)
    assert(calls.value == want.size,
      s"${calls.value} reduce calls for ${want.size} keys over ${jobs.size} jobs")
    val st = sc.statusTracker
    val ran = stages.value.asScala.toSet
    ran.foreach { id =>
      val tasks = st.getStageInfo(id).map(_.numTasks)
      assert(tasks.contains(width), s"the reduce ran in stage $id with $tasks tasks, not $width")
    }
  }

  test("a key that encodes to a struct groups like a flat one in both paths") {
    val lines = Seq("a bb a", "bb c a").toDS()
    val keyed = (l: String) => MapReduce.wordCountMap(l).map { case (w, n) => (MrSpecKey(w, w.length), n) }
    val want = Seq(("a", 3L), ("bb", 2L), ("c", 1L))
    val holistic = MapReduce.mapReduce(lines, keyed,
      (k: MrSpecKey, vs: Iterator[Long]) => (k.word, vs.sum)).collect().sorted.toSeq
    assert(holistic == want)
    val combined = MapReduce.mapReduceCombine[String, MrSpecKey, Long, Long, Long](
      lines, keyed, 0L, _ + _, _ + _, identity).collect().map { case (k, n) => (k.word, n) }.sorted.toSeq
    assert(combined == want)
  }

  test("the word-count MR queries group on the key column: no AppendColumnsWithObject") {
    Seq("mr_wordcount", "mr_wordcount_combine", "mr_inverted_index").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val w = walk(df)
      w.nodes[MapPartitionsExec]
      w.matching(s"$name's reduce") { case r @ (_: MapGroupsExec | _: BaseAggregateExec) => r }
      w.none[AppendColumnsWithObjectExec]
    }
  }

  test("after a run, the holistic MR queries' mapGroups read all spark.sql.shuffle.partitions partitions") {
    Seq("mr_wordcount", "mr_inverted_index").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      walk(df).nodes[MapGroupsExec].foreach { m =>
        assert(m.child.outputPartitioning.numPartitions == width,
          s"$name reduces ${m.child.outputPartitioning.numPartitions} partitions, not $width:\n$m")
      }
    }
  }
}
