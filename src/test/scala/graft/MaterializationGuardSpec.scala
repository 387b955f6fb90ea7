package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One owner for materialization: `src/main` stores a frame only through
  * [[graft.sources.Stages]], outside two kinds of code the registry's
  * scaladoc names. Iterative functions truncate lineage with a
  * `localCheckpoint` per round, and a few functions persist a frame they
  * read repeatedly and unpersist it before they return. The allow-list
  * is the exact count per (file, enclosing def, call), so a new call
  * site fails this spec, and so does an allowed one that went away. */
class MaterializationGuardSpec extends AnyFunSuite {

  private val Calls = Seq(
    "persist" -> """\.persist\(""".r,
    "cache" -> """\.cache\(\)""".r,
    "localCheckpoint" -> """\.localCheckpoint\(""".r)
  private val Unpersist = """\.unpersist\(""".r
  private val Def = """\bdef (\w+)""".r

  private val Allowed: Map[(String, String, String), Int] = Map(
    // the registry itself
    ("Stages.scala", "stored", "persist") -> 1,
    // lineage truncation per round inside iterative functions
    ("Graph.scala", "pagerankOf", "localCheckpoint") -> 3,
    ("Graph.scala", "bfsLevels", "localCheckpoint") -> 2,
    ("Graph.scala", "lpaCommunities", "localCheckpoint") -> 3,
    ("Graph.scala", "ssspOf", "localCheckpoint") -> 3,
    ("Dedup.scala", "connectedComponents", "localCheckpoint") -> 3,
    ("TextAnalysis.scala", "trainBpeMerges", "localCheckpoint") -> 2,
    // persists released before the function returns
    ("Dedup.scala", "connectedComponents", "persist") -> 1,
    ("Graph.scala", "bfsLevels", "persist") -> 1,
    ("Dedup.scala", "decontaminateBloom", "persist") -> 1,
    ("StreamingBridge.scala", "streamSetsimDedupEq", "persist") -> 1)

  /** Code lines (comment lines and trailing comments dropped) of every
    * Scala file under `src/main/scala`, with the def each one is in. */
  private lazy val codeLines: Seq[(String, String, String)] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 20, s"found ${files.size} source files: is the working dir the repo root?")
    files.flatMap { (p: Path) =>
      var enclosing = ""
      Files.readAllLines(p).asScala.toSeq.flatMap { line =>
        val t = line.trim
        if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) None
        else {
          val code = line.split("//", 2)(0)
          Def.findFirstMatchIn(code).foreach(m => enclosing = m.group(1))
          Some((p.getFileName.toString, enclosing, code))
        }
      }
    }
  }

  test("src/main stores frames only through the stage registry and the listed exceptions") {
    val found = Calls.flatMap { case (call, re) =>
      codeLines.flatMap { case (file, d, code) =>
        Seq.fill(re.findAllIn(code).size)((file, d, call))
      }
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    val extra = found.filter { case (k, n) => Allowed.get(k).forall(_ != n) }
    val gone = Allowed.filter { case (k, n) => found.get(k).forall(_ != n) }
    assert(extra.isEmpty && gone.isEmpty,
      s"\nnot on the allow-list (or a changed count): $extra\nallowed but not found: $gone")
  }

  test("each allowed persist outside the registry is released in the same function") {
    Allowed.keys.filter { case (f, _, call) => call == "persist" && f != "Stages.scala" }
      .foreach { case (file, d, _) =>
        val body = codeLines.collect { case (`file`, `d`, code) => code }
        val persists = body.map(c => Calls.head._2.findAllIn(c).size).sum
        val unpersists = body.map(c => Unpersist.findAllIn(c).size).sum
        assert(persists > 0 && unpersists == persists,
          s"$file $d: $persists persist(s), $unpersists unpersist(s)")
      }
  }
}
