package graft

import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** Generates code before any session exists, then asks the factory for
  * one: Spark's generated-class cache has already read its size from the
  * default conf, so the factory must refuse. Run in a child JVM by
  * [[SessionSpec]]. */
object CodegenBeforeSession {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeProjection}
    UnsafeProjection.create(Seq(Literal(1)))
    graft.sources.Session.local(cores = 1)
  }
}

/** Creates Hadoop's local FileSystem before any session exists, then asks
  * the factory for one: Hadoop has cached the stock class for the JVM,
  * so the factory must refuse. Run in a child JVM by [[SessionSpec]]. */
object LocalFsBeforeSession {
  def main(args: Array[String]): Unit = {
    org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    graft.sources.Session.local(cores = 1)
  }
}

/** Runs a main in a child JVM on this JVM's classpath. */
object ChildJvm {

  /** Run `main` with `env` added to this JVM's environment; its exit
    * code and output. Fails the calling test if the child does not exit
    * in 180 s, after killing the child and every process it started. */
  def run(main: String, env: Map[String, String] = Map.empty): (Int, String) = {
    import scala.jdk.CollectionConverters._
    // this JVM's --add-opens flags (Spark needs them outside spark-submit),
    // in either the split or the `=` form
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val addOpens = jvmArgs.zip(jvmArgs.drop(1) :+ "").flatMap {
      case ("--add-opens", v) => Seq("--add-opens", v)
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val log = java.io.File.createTempFile("graft_child_", ".log")
    log.deleteOnExit()
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ addOpens ++
      Seq("-cp", sys.props("java.class.path"), main)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log)
    pb.environment().putAll(env.asJava)
    val proc = pb.start()
    if (!proc.waitFor(180, TimeUnit.SECONDS)) {
      // descendants first: the child's executor JVMs would outlive it
      proc.descendants().forEach(p => { p.destroyForcibly(); () })
      proc.destroyForcibly()
      org.scalatest.Assertions.fail(s"child JVM did not exit in 180 s; output in $log")
    }
    (proc.exitValue(), new String(java.nio.file.Files.readAllBytes(log.toPath)))
  }
}

class SessionSpec extends AnyFunSuite {

  test("the factory fails loudly when code was generated before the session existed") {
    val (code, out) = ChildJvm.run("graft.CodegenBeforeSession")
    assert(code != 0, s"the factory accepted a capped cache:\n$out")
    assert(out.contains("IllegalStateException") &&
      out.contains("something generated code before the session existed"), out)
  }

  test("the factory fails loudly when a local FileSystem existed before the session") {
    val (code, out) = ChildJvm.run("graft.LocalFsBeforeSession")
    assert(code != 0, s"the factory accepted the stock local filesystem:\n$out")
    assert(out.contains("IllegalStateException") &&
      out.contains("something created a local FileSystem before the session existed"), out)
  }
}
