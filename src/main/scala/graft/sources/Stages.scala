package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}

/** The session-scoped registry of shared pipeline stages: the one place
  * that decides when a built stage (a persisted or checkpointed frame, an
  * artifact root, a driver-side model) is reused by the next query that
  * reads it instead of being rebuilt.
  *
  * '''Key.''' (session, stage name, the conf parameters the build bakes
  * in, dataset path). Keying by session keeps specs with their own
  * SparkSessions isolated; a conf parameter in the key (a budget literal,
  * a bucket width, the artifact root and version) makes a mid-session knob
  * change a miss, never a silently stale hit.
  *
  * '''Hit.''' An entry holds the dataset identity it was built under
  * (path + listing fingerprint, [[DatasetId.key]]); a hit needs it to
  * match. A mismatch — the dataset was regenerated in place — releases
  * the old value and rebuilds, so a superseded frame's cached blocks are
  * not pinned next to the new generation's. Releasing unpersists a
  * DataFrame and does nothing to any other value (a root path, a model).
  *
  * '''Eviction.''' Entries of stopped sessions are dropped on every
  * access: their cached blocks died with the session, and the strong key
  * would otherwise pin the stopped session for the process lifetime.
  *
  * How a stage materializes (persist, localCheckpoint, an
  * [[ArtifactRoots]] root) stays the builder's choice. The streaming
  * bridge's input stagings are files on disk, not stages of a session:
  * they live in its one process-level memo, `StreamingBridge.stagedFor`,
  * which applies the same fingerprint check (a regenerated dataset
  * deletes and rebuilds its staging); [[clear]] leaves them alone.
  *
  * '''Chain labels.''' A stage shared by several queries carries a chain
  * label where it is registered. While a [[Meter]] is set ([[metered]]),
  * every miss of a labeled stage builds through it, so a benchmark can
  * bill that build to `chain_<label>` instead of to whichever query
  * happened to trigger it. Unset (the default), a label changes nothing.
  */
object Stages {

  private final case class Key(spark: SparkSession, stage: String, conf: String, dir: String)
  private final case class Entry(identity: String, value: Any)

  private val entries = new scala.collection.concurrent.TrieMap[Key, Entry]

  /** Receives every build of a labeled stage while set: `build` runs
    * inside it, and its value is what the registry stores. */
  trait Meter { def apply[T](label: String)(build: => T): T }

  @volatile private var meter: Option[Meter] = None

  /** Run `body` with `m` metering the labeled builds it triggers. */
  def metered[T](m: Meter)(body: => T): T = {
    meter = Some(m)
    try body finally meter = None
  }

  /** Stage `stage` of the dataset at `dir`, built under the conf
    * parameters `conf`: the registered value when it was built under the
    * dataset's current identity, else `build`, registered. `chain` labels
    * a shared stage for the [[Meter]]. */
  def apply[T](spark: SparkSession, stage: String, dir: String, conf: String = "",
      chain: String = "")(build: => T): T =
    lookup(Key(spark, stage, conf, dir), DatasetId.key(dir), chain)(build)

  /** A stage whose result is global to the session (fixed catalog table
    * names): one entry per stage, so building it for another dataset
    * supersedes the previous dataset's. */
  def sessionWide[T](spark: SparkSession, stage: String, dir: String)(build: => T): T =
    lookup(Key(spark, stage, "", ""), DatasetId.key(dir), "")(build)

  private def lookup[T](k: Key, identity: String, chain: String)(build: => T): T = {
    evictStopped()
    entries.get(k) match {
      case Some(Entry(`identity`, v)) => v.asInstanceOf[T]
      case stale =>
        stale.foreach(e => release(e.value))
        val v = meter match {
          case Some(m) if chain.nonEmpty => m(chain)(build)
          case _ => build
        }
        entries.put(k, Entry(identity, v))
        v
    }
  }

  /** (dataset identity, value) of every live-session entry of `stage`,
    * across conf parameters and datasets. */
  def live[T](stage: String): Seq[(String, T)] = {
    evictStopped()
    entries.toSeq.collect {
      case (k, e) if k.stage == stage => (e.identity, e.value.asInstanceOf[T])
    }
  }

  /** Release and drop every registered stage, so the next access
    * genuinely rebuilds (test/embedder hook for callers that regenerate
    * datasets, change configs, or want the storage back). */
  def clear(): Unit = {
    entries.values.foreach(e => release(e.value))
    entries.clear()
  }

  private def evictStopped(): Unit =
    entries.keys.filter(_.spark.sparkContext.isStopped).foreach(entries.remove)

  private def release(v: Any): Unit = v match {
    case df: Dataset[_] =>
      // NonFatal only: an unpersist on a dying session may throw benign
      // races, but OOM/fatal errors must propagate, not be swallowed
      try { if (!df.sparkSession.sparkContext.isStopped) df.unpersist() }
      catch { case scala.util.control.NonFatal(_) => () }
    case _ => ()
  }
}
