package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Cache lifecycle lives in one place: only [[Scope]] may list or sweep
  * a session's persisted state, so no harness grows its own sweep
  * again, and nothing the memo may keep is rooted at a checkpoint. */
class ScopeSourceSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** The main sources under `dir` whose text matches `pattern`, relative
    * to the source root. */
  private def hits(dir: Path, pattern: scala.util.matching.Regex): Seq[String] = {
    val files = Files.walk(dir)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => pattern.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally files.close()
  }

  test("persisted-state sweeps appear in Scope only") {
    val sweep = """getPersistentRDDs|catalog\s*\.\s*clearCache|cacheManager\s*\.\s*clearCache""".r
    val found = hits(root, sweep)
    assert(found.toSet.subsetOf(Set("graft/Scope.scala")),
      s"sweeps outside Scope: ${found.mkString(", ")}")
  }

  test("localCheckpoint appears neither in the registry nor in the memo") {
    val found = hits(root.resolve("graft/registry"), "localCheckpoint".r) ++
      hits(root.resolve("graft/pipeline/Memo.scala"), "localCheckpoint".r)
    assert(found.isEmpty, s"localCheckpoint in ${found.mkString(", ")}")
  }
}
