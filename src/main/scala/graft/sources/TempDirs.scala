package graft.sources

/** Process-private scratch directories (IVF index, stream staging, sink
  * round-trips) that are deleted on JVM exit. Keeping them process-scoped
  * is what makes those operators hermetic — no run can observe another's
  * state. The exit hook only bounds scratch by the JVM's life: a dir that
  * its owner can drop sooner (a bridge's checkpoint, once its query has
  * stopped) is removed with [[delete]]; the rest accrue under
  * java.io.tmpdir until exit. */
object TempDirs {

  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  sys.addShutdownHook {
    created.forEach { root =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () } // exit-path cleanup is best-effort
    }
  }

  /** Create a fresh temp directory removed on JVM exit. */
  def create(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    created.add(d)
    d.toString
  }

  /** Delete `dir`, made by [[create]], now rather than at JVM exit. Best
    * effort: a dir that cannot be removed whole (a file appeared under it
    * mid-walk) stays registered, and the exit hook retries it. */
  def delete(dir: String): Unit = {
    val d = java.nio.file.Paths.get(dir)
    try {
      ArtifactRoots.deleteRecursively(d)
      created.remove(d)
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}
