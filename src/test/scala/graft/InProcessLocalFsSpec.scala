package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.sources.{InProcessLocalFileSystem, InProcessLocalFs, InProcessRawLocalFileSystem,
  Session, TempDirs}

/** The processes this JVM starts, seen by Flight Recorder's
  * `jdk.ProcessStart` event through an in-process recording stream. */
object ProcessStarts {
  @jdk.jfr.Name("graft.ProcessStartsMarker")
  class Marker extends jdk.jfr.Event

  /** The command line of every process started while `body` ran. A
    * marker event committed after `body` closes the window: the stream
    * dispatches in time order, so once it sees the marker it has seen
    * every earlier start. */
  def during(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val closed = new java.util.concurrent.CountDownLatch(1)
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[Marker])
      rs.onEvent("jdk.ProcessStart", e => seen.add(e.getString("command")))
      rs.onEvent("graft.ProcessStartsMarker", _ => closed.countDown())
      rs.startAsync()
      body
      new Marker().commit()
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "Flight Recorder did not deliver the closing marker in 60 s")
    } finally rs.close()
    seen.asScala.toSeq
  }

  /** Let the process starts already pending in this JVM happen before a
    * window opens: a GC, then quiet rounds until one sees no start. Spark
    * registers every session's ArtifactManager with a Cleaner that forks
    * `rm -rf` on the session's artifact dir once the session is collected,
    * so a session an earlier suite left unreachable forks whenever the GC
    * gets to it. */
  def settle(): Unit = {
    System.gc()
    Iterator.range(0, 30).map(_ => during(Thread.sleep(1000)))
      .takeWhile(_.nonEmpty).foreach(_ => System.gc())
  }
}

/** The `file://` binding ([[InProcessLocalFs]]): it is live on the
  * session, it writes with the stock filesystem's mode bits, bytes and
  * link statuses, and the writes graft makes start no child process. */
class InProcessLocalFsSpec extends SparkSpec {

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def rawMode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & 0xfff

  private def octal(m: String): FsPermission = new FsPermission(Integer.parseInt(m, 8).toShort)

  private def initialized[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Every file and dir under `root` (relative path) with its mode. */
  private def modes(root: JPath): Seq[(String, String)] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toSeq.sorted
    finally s.close()
  }

  /** What both filesystems write: a dir tree, a checksummed file, a file
    * created with an explicit permission, and one chmod. */
  private def writeTree(fs: FileSystem, root: JPath): Unit = {
    val r = new Path(root.toString)
    fs.mkdirs(new Path(r, "a/b"))
    val out = fs.create(new Path(r, "a/b/data.bin"))
    out.write(Array.tabulate[Byte](3000)(_.toByte))
    out.close()
    fs.create(new Path(r, "perm.bin"), octal("640"), true, 4096,
      1.toShort, 32L << 20, null).close()
    fs.create(new Path(r, "chmod.bin")).close()
    fs.setPermission(new Path(r, "chmod.bin"), octal("604"))
  }

  test("the session serves file:// through graft's classes, on both Hadoop APIs") {
    Session.localFsClasses(spark).foreach { case (live, want) => assert(live == want) }
  }

  for ((label, umask) <- Seq("the default umask" -> None, "umask 077" -> Some("077")))
    test(s"files, .crc files and dirs get the stock mode bits and bytes under $label") {
      spark // the session first: it must create the JVM's cached local FileSystem
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val stockRoot = Paths.get(TempDirs.create("graft_fsparity_stock_"))
      val oursRoot = Paths.get(TempDirs.create("graft_fsparity_ours_"))
      writeTree(initialized(new LocalFileSystem(new RawLocalFileSystem), conf), stockRoot)
      writeTree(initialized(new InProcessLocalFileSystem, conf), oursRoot)
      val stock = modes(stockRoot)
      assert(stock.map(_._1).contains("a/b/.data.bin.crc"), stock)
      assert(modes(oursRoot) == stock)
      stock.map(_._1).filter(n => Files.isRegularFile(stockRoot.resolve(n))).foreach { n =>
        assert(Files.readAllBytes(oursRoot.resolve(n)).sameElements(
          Files.readAllBytes(stockRoot.resolve(n))), n)
      }
      if (umask.nonEmpty) assert(mode(oursRoot.resolve("a/b")) == "rwx------")
      // the AbstractFileSystem (FileContext) path the streaming WAL writes
      // through: same bits, same bytes, same .crc chunking
      def viaContext(impl: String, root: JPath): Unit = {
        val c = new Configuration(conf)
        c.set("fs.AbstractFileSystem.file.impl", impl)
        val fc = FileContext.getFileContext(URI.create("file:///"), c)
        val out = fc.create(new Path(s"$root/ctx/offsets.tmp"),
          java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
        out.write(Array.tabulate[Byte](1500)(i => (i * 7).toByte))
        out.close()
        fc.rename(new Path(s"file:$root/ctx/offsets.tmp"), new Path(s"file:$root/ctx/0"))
      }
      viaContext("org.apache.hadoop.fs.local.LocalFs", stockRoot)
      viaContext(classOf[InProcessLocalFs].getName, oursRoot)
      assert(modes(oursRoot.resolve("ctx")) == modes(stockRoot.resolve("ctx")))
      Seq("ctx/0", "ctx/.0.crc").foreach { n =>
        assert(Files.readAllBytes(oursRoot.resolve(n)).sameElements(
          Files.readAllBytes(stockRoot.resolve(n))), n)
      }
      val ctxConf = new Configuration(conf)
      ctxConf.set("fs.AbstractFileSystem.file.impl", classOf[InProcessLocalFs].getName)
      val ours = AbstractFileSystem.get(URI.create("file:///"), ctxConf)
      assert(ours.getUriDefaultPort == -1)
      assert(ours.getServerDefaults(new Path("/")).getBytesPerChecksum ==
        org.apache.hadoop.fs.local.LocalConfigKeys.getServerDefaults.getBytesPerChecksum)
      TempDirs.delete(stockRoot.toString)
      TempDirs.delete(oursRoot.toString)
    }

  test("getFileLinkStatus and getLinkTarget agree with the stock readlink on links and non-links") {
    spark
    val conf = new Configuration()
    val stock = initialized(new RawLocalFileSystem, conf)
    val ours = initialized(new InProcessRawLocalFileSystem, conf)
    val d = Paths.get(TempDirs.create("graft_fsparity_link_"))
    Files.write(d.resolve("target.txt"), "x".getBytes)
    Files.createSymbolicLink(d.resolve("rel"), Paths.get("target.txt"))
    Files.createSymbolicLink(d.resolve("abs"), d.resolve("target.txt"))
    Files.createSymbolicLink(d.resolve("dangling"), Paths.get("gone.txt"))
    for (name <- Seq("rel", "abs", "dangling", "target.txt")) {
      // the unqualified path names the link; the scheme-qualified one, as
      // FileContext passes it, names no file for readlink
      for (p <- Seq(new Path(d.resolve(name).toString), new Path(s"file:${d.resolve(name)}"))) {
        (scala.util.Try(stock.getFileLinkStatus(p)), scala.util.Try(ours.getFileLinkStatus(p))) match {
          case (scala.util.Success(s), scala.util.Success(o)) =>
            assert(o.isSymlink == s.isSymlink, p)
            assert(o.getPath == s.getPath && o.getLen == s.getLen &&
              o.isDirectory == s.isDirectory, p)
            if (s.isSymlink) {
              assert(o.getSymlink == s.getSymlink, p)
              assert(ours.getLinkTarget(p) == stock.getLinkTarget(p), p)
            }
          // a dangling link named by a scheme-qualified path: no status either way
          case (scala.util.Failure(s), scala.util.Failure(o)) =>
            assert(o.getClass == s.getClass, p)
          case other => fail(s"$p: stock and graft disagree: $other")
        }
      }
      assert(stock.getFileLinkStatus(new Path(d.resolve(name).toString)).isSymlink ==
        (name != "target.txt"), name)
    }
    assert(ours.getLinkTarget(new Path(d.resolve("rel").toString)) == new Path("target.txt"))
    intercept[java.io.FileNotFoundException](ours.getFileLinkStatus(new Path(s"$d/none")))
    TempDirs.delete(d.toString)
  }

  test("a sticky bit, or a setgid dir, goes to the stock chmod; plain modes start no process") {
    spark
    val ours = initialized(new InProcessRawLocalFileSystem, new Configuration())
    val d = Paths.get(TempDirs.create("graft_fsparity_sticky_"))
    val p = new Path(d.toString)
    val plain = ProcessStarts.during(ours.setPermission(p, octal("750")))
    assert(plain.isEmpty, plain)
    assert(rawMode(d) == Integer.parseInt("750", 8))
    val sticky = ProcessStarts.during(ours.setPermission(p, octal("1755")))
    assert(sticky.exists(_.contains("chmod")), sticky)
    assert(rawMode(d) == Integer.parseInt("1755", 8))
    // GNU chmod keeps a directory's setgid on a four-digit mode: so does the binding
    Files.setAttribute(d, "unix:mode", Integer.valueOf(Integer.parseInt("2755", 8)))
    val setgid = ProcessStarts.during(ours.setPermission(p, octal("700")))
    assert(setgid.exists(_.contains("chmod")), setgid)
    TempDirs.delete(d.toString)
  }

  test("a partitioned parquet write, an IVF artifact build and a checkpointed bridge start no process") {
    val s = spark
    // Spark's executor metrics fork `getconf PAGESIZE` once per JVM, when
    // ProcfsMetricsGetter loads at the first heartbeat: not a per-file
    // cost, so it is loaded before the window rather than timed into it
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val out = TempDirs.create("graft_nofork_out_")
    val shared = TempDirs.create("graft_nofork_artifacts_")
    // each streaming query runs on a clone of the session: holding the
    // queries started in the window holds their clones until it closes
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]
    val hold = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        queries.add(s.streams.get(e.id))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    ProcessStarts.settle()
    s.streams.addListener(hold)
    val started = try ProcessStarts.during {
      s.range(400).withColumn("k", col("id") % 8).write.partitionBy("k").parquet(s"$out/parts")
      // a fresh shared root: a registry miss, so the index really builds
      s.conf.set("spark.graft.artifactRoot", shared)
      try graft.operators.Similarity.ivfWarmIndex(s, sf)
      finally s.conf.unset("spark.graft.artifactRoot")
      graft.streaming.StreamingBridge.queries("stream_decontaminate_eq")(s, sf).count()
    } finally s.streams.removeListener(hold)
    assert(!queries.isEmpty)
    assert(new java.io.File(s"$shared/ivf").list().nonEmpty)
    assert(started.isEmpty, s"${started.size} processes started:\n${started.mkString("\n")}")
  }
}
