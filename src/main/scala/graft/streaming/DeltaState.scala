package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bounded per-trigger delta-dir state for the foreachBatch ingest twins
  * (the setsim and substring screens).
  *
  * The r15 shape wrote one delta dir per trigger (`d<batchId>`, overwrite —
  * retry-idempotent, O(batch) written per trigger) and READ the union
  * `d0..d<batchId-1>` on every trigger. O(batch) written is right;
  * O(triggers) dirs read is not: a long-running ingest pays file-listing +
  * plan growth per trigger forever — fine at 5 triggers, the wrong shape at
  * 10⁴. This helper folds the accumulated deltas into a snapshot dir every
  * `k` triggers ([[FoldK]] for the twins), so a trigger
  * reads O(snapshot + k) dirs regardless of stream age.
  *
  * '''Retry discipline''' (the twins' overwrite-by-batchId contract,
  * extended): the fold for base `b` runs on trigger `b` and is a
  * DETERMINISTIC function of `b` — snapshot(b) = snapshot(b−k) ∪
  * deltas[b−k, b), written `mode(overwrite)` — so a retried trigger
  * rebuilds the identical snapshot. Pruning keeps everything a retry of
  * the CURRENT batch can read: after publishing snapshot(b), only dirs
  * strictly older than snapshot(b−k)'s inputs are deleted (deltas < b−k
  * and snapshots < b−k). Structured streaming re-runs at most the last
  * uncommitted batch, so nothing older is ever read again.
  *
  * '''Bound''': at any trigger the state root holds ≤ 2 snapshots +
  * ≤ 2k delta dirs.
  */
private[graft] object DeltaState {

  /** The fold period the ingest twins run with. The dir layout is a
    * function of it, so it is fixed for the life of a state root. */
  val FoldK = 4

  /** Parquet paths holding the accumulated `prefix`-family state from all
    * triggers before `batchId` (empty on the first trigger). Runs the fold
    * + prune when `batchId` is a fold boundary. `k` is the fold period,
    * the same on every trigger of a root; `fold` post-processes the
    * snapshot frame before it lands (e.g. `distinct()` for hash-set state,
    * where cross-delta duplicates are semantic no-ops but dead weight). */
  def priorPaths(session: SparkSession, stateRoot: String, prefix: String,
      batchId: Long, k: Int, fold: DataFrame => DataFrame = identity): Seq[String] = {
    val snapBase = (batchId / k) * k
    def snap(base: Long) = s"$stateRoot/s$prefix$base"
    def delta(i: Long) = s"$stateRoot/$prefix$i"
    if (snapBase == 0) return (0L until batchId).map(delta)
    if (batchId == snapBase) {
      val prevBase = snapBase - k
      val inputs =
        (if (prevBase > 0) Seq(snap(prevBase)) else Seq.empty) ++
          (prevBase until snapBase).map(delta)
      fold(session.read.parquet(inputs: _*))
        .write.mode("overwrite").parquet(snap(snapBase))
      // prune what no retry can need: a retry of THIS trigger re-reads
      // snap(prevBase) + deltas[prevBase, snapBase) to rebuild — keep
      // those, drop the FIXED window the previous fold's retention left
      // behind (every fold prunes its own trailing window, so nothing
      // older survives; probing 0..prevBase would be O(triggers²/k)
      // filesystem calls cumulatively). Best-effort: a prune racing a
      // concurrent reader/lister must not fail the trigger.
      (math.max(0L, prevBase - k) until prevBase).foreach(i => best(delta(i)))
      if (prevBase - k > 0) best(snap(prevBase - k))
    }
    Seq(snap(snapBase)) ++ (snapBase until batchId).map(delta)
  }

  private def best(p: String): Unit =
    try graft.sources.ArtifactRoots.deleteRecursively(java.nio.file.Paths.get(p))
    catch { case scala.util.control.NonFatal(_) => () }
}
