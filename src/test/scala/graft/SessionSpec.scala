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

class SessionSpec extends AnyFunSuite {

  test("the factory fails loudly when code was generated before the session existed") {
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
    val log = java.io.File.createTempFile("graft_codegen_first_", ".log")
    log.deleteOnExit()
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ addOpens ++
      Seq("-cp", sys.props("java.class.path"), "graft.CodegenBeforeSession")
    val child = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start()
    if (!child.waitFor(180, TimeUnit.SECONDS)) {
      child.destroyForcibly()
      fail(s"child JVM did not exit in 180 s; output in $log")
    }
    val out = new String(java.nio.file.Files.readAllBytes(log.toPath))
    assert(child.exitValue() != 0, s"the factory accepted a capped cache:\n$out")
    assert(out.contains("IllegalStateException") &&
      out.contains("something generated code before the session existed"), out)
  }
}
