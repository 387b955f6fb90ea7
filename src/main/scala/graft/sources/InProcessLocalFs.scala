package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a child process per file.
  *
  * Without libhadoop (`NativeCodeLoader` warns at every start), Hadoop's
  * [[RawLocalFileSystem]] forks `chmod` in `setPermission`, which it runs
  * for every file and directory it creates (part files, `.crc` files,
  * `_temporary` dirs, `_SUCCESS`), and `readlink` in `getFileLinkStatus`,
  * which `FileContext.rename` runs on every streaming checkpoint commit
  * (offsets, commits, sources and metadata, each with a `.tmp` and a
  * `.crc`). One fork costs ~2 ms of a 3 GB JVM; a perfbench `llm_dedup`
  * pass forked ~262 times. [[InProcessRawLocalFileSystem]] does both
  * calls with `java.nio` and keeps everything else of the stock class.
  *
  * '''What stays identical.''' The bytes written, the mode bits set and
  * the statuses returned. `setPermission` sets the nine rwx bits of
  * `perm.toShort`; a sticky bit asked for, a setuid, setgid or sticky bit
  * already on the file (GNU `chmod` keeps a directory's setgid on a
  * four-digit mode, `chmod(2)` would not), or a file store without POSIX
  * attributes goes to the stock shell call. `getFileLinkStatus` reads the
  * link at exactly the path the stock class hands `readlink`,
  * `new File(p.toString)`: a scheme-qualified path names no file there
  * and stays a non-link, as it does today, and a real link returns the
  * target `readlink` (without `-f`) prints. It mirrors the stock class's
  * default status path (`useStatIfAvailable` is never called).
  *
  * '''Binding.''' [[sessionConf]] binds `file://` to the wrappers for
  * both Hadoop APIs: [[InProcessLocalFileSystem]] (`FileSystem`, what
  * parquet and the commit protocol write through) and [[InProcessLocalFs]]
  * (`AbstractFileSystem`, what Spark's `FileContextBasedCheckpointFileManager`
  * writes the streaming WAL through). [[SpillSafety.sessionConf]] carries
  * the pairs, so every graft session, the benchmark driver's included,
  * is built with them; `spark.hadoop.*` reaches `local-cluster` executors.
  *
  * '''Caveat: one local FileSystem per JVM.''' Hadoop caches the first
  * `file://` `FileSystem` a JVM creates and hands it to every later
  * caller, whatever their conf says. A local filesystem created before
  * the first graft session keeps the stock class for the life of the
  * JVM, so [[Session.local]] checks the live classes and throws. */
object InProcessLocalFs {

  /** The conf pairs that bind `file://` to the in-process wrappers. */
  val sessionConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[InProcessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[InProcessLocalFs].getName)
}

/** [[RawLocalFileSystem]] with `setPermission` and the link-status calls
  * done in-process; see [[InProcessLocalFs$ InProcessLocalFs]]. */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode bits above the nine rwx bits: setuid, setgid, sticky
    * (`unix:mode` also carries the file type above these). */
  private val SpecialBits = 0xe00

  /** `PosixFilePermission.values` runs OWNER_READ … OTHERS_EXECUTE, the
    * rwx bits from 0400 down to 0001. */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode >> (8 - i) & 1) != 0) s.add(p)
    }
    s
  }

  /** The target `readlink` prints for `f` (trimmed, as Hadoop trims the
    * shell's output), or "" where it fails: not a link, or no such path. */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch { case _: IOException | _: InvalidPathException => "" }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    val file = pathToFile(p).toPath
    val plain = (mode & SpecialBits) == 0 && (try {
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Integer].intValue & SpecialBits) == 0
    } catch { case _: IOException | _: UnsupportedOperationException => false })
    if (plain) Files.setPosixFilePermissions(file, rwx(mode))
    else super.setPermission(p, permission)
  }

  /** The stock class's status of `f` without dereferencing a final link,
    * its link target unqualified. */
  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      // a dangling link has no status of its own
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink
}

/** The checksummed `FileSystem` over [[InProcessRawLocalFileSystem]]:
  * graft's `fs.file.impl`. */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `org.apache.hadoop.fs.local.RawLocalFs` over
  * [[InProcessRawLocalFileSystem]], with the stock class's three
  * overrides: no default port, the local server defaults (so `.crc`
  * chunking is unchanged) and every name valid. */
class InProcessRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    URI.create("file:///"), new InProcessRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("mirrors the deprecated stock override", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` over [[InProcessRawLocalFs]]:
  * graft's `fs.AbstractFileSystem.file.impl`. Like the stock `LocalFs` it
  * ignores the URI it is created for; every local path is `file:///`. */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(conf))
