package graft.mr

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

/** The reference engine's generic map/reduce UDF surface (SURVEY.md §2.2),
  * re-expressed as typed Dataset combinators.
  *
  * Reference contract (/root/reference/src/mr/worker.rs:37-47):
  *   map:    Fn(&str) -> Vec<KeyValue>            — flatMap shape
  *   reduce: Fn(&str, Vec<&str>) -> String        — holistic, whole group
  *
  * `mapReduce` reproduces the holistic semantics exactly: the reduce fn
  * sees the complete value iterator for its key, like the reference's
  * sorted-run grouping (/root/reference/src/mr/worker.rs:199-222). Spark's
  * shuffle replaces the mr-{m}-{r}.txt files (worker.rs:139-164) and the
  * sort+group loop; `groupByKey.mapGroups` is the exact equivalent of
  * "materialize the group, call the UDF once".
  *
  * `mapReduceCombine` is the scale path the reference lacks (it has NO
  * map-side combiner): when the reduction is associative+commutative, an
  * `Aggregator` gives partial aggregation before the shuffle — on a skewed
  * 100 TB key distribution this bounds shuffle volume by
  * |partitions|×|distinct keys| instead of |rows|, and is the version any
  * high-cardinality job should use.
  */
object MapReduce {

  /** Exact reference semantics: holistic reduce over fully-materialized
    * groups. Use only when the reduction genuinely needs the whole group
    * (medians, dedup-keep-first, concatenation in key order...). */
  def mapReduce[I, K: Encoder, V, O: Encoder](
      input: Dataset[I],
      mapFn: I => IterableOnce[(K, V)],
      reduceFn: (K, Iterator[V]) => O)(
      implicit kvEnc: Encoder[(K, V)]): Dataset[O] =
    input
      .flatMap(mapFn)
      .groupByKey(_._1)
      .mapGroups((k, it) => reduceFn(k, it.map(_._2)))

  /** Two-input holistic reduce — the reference's contract generalized to
    * a second input (it has no multi-input operator of any kind; shuffle
    * fan-in at /root/reference/src/mr/worker.rs:101-131 concatenates one
    * logical stream). `cogroup` hands the UDF BOTH complete value
    * iterators per key after one co-partitioned shuffle — no join
    * materialization of the pair cross-product, which is what makes
    * group-vs-group logic (reconciliation, enrichment with absence
    * handling) safe when one side of a key is huge. */
  def coGroup[I1, I2, K: Encoder, O: Encoder](
      left: Dataset[I1], right: Dataset[I2],
      leftKey: I1 => K, rightKey: I2 => K,
      f: (K, Iterator[I1], Iterator[I2]) => IterableOnce[O]): Dataset[O] =
    left.groupByKey(leftKey).cogroup(right.groupByKey(rightKey))(f)

  /** Combiner-enabled variant for associative reductions: flatMap then an
    * Aggregator, which Spark executes as partial + final HashAggregate
    * (map-side combine the reference never had). */
  def mapReduceCombine[I, K: Encoder, V, B, O](
      input: Dataset[I],
      mapFn: I => IterableOnce[(K, V)],
      zeroB: B,
      seqOp: (B, V) => B,
      combOp: (B, B) => B,
      finishOp: B => O)(
      implicit kvEnc: Encoder[(K, V)],
      bufEnc: Encoder[B],
      outEnc: Encoder[O],
      resEnc: Encoder[(K, O)]): Dataset[(K, O)] = {
    val agg = new Aggregator[(K, V), B, O] {
      override def zero: B = zeroB
      override def reduce(b: B, a: (K, V)): B = seqOp(b, a._2)
      override def merge(b1: B, b2: B): B = combOp(b1, b2)
      override def finish(b: B): O = finishOp(b)
      override def bufferEncoder: Encoder[B] = bufEnc
      override def outputEncoder: Encoder[O] = outEnc
    }
    input.flatMap(mapFn).groupByKey(_._1).agg(agg.toColumn)
  }

  /** Word count through the generic surface — the reference's only
    * registered (map, reduce) pair (/root/reference/src/mr/function.rs:4-21).
    * It runs the same tokenizer kernel as graft.functions.TextFunctions.tokens;
    * a lone surrogate encodes as `?`, which the kernel drops like the
    * definition drops the surrogate. */
  def wordCountMap(line: String): Seq[(String, Long)] = {
    val toks = graft.plans.TokensAlgo.compute(UTF8String.fromString(line))
    (0 until toks.numElements()).map(i => (toks.getUTF8String(i).toString, 1L))
  }
}
