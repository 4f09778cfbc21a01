package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Cache lifecycle lives in one place: only [[Scope]] and the memo it
  * defers to may list or sweep a session's persisted state, so no
  * harness grows its own sweep again. */
class ScopeSourceSpec extends AnyFunSuite {

  test("persisted-state sweeps appear in Scope and Memo only") {
    val root = Paths.get("src/main/scala")
    val sweep = """getPersistentRDDs|catalog\s*\.\s*clearCache|cacheManager\s*\.\s*clearCache""".r
    val files = Files.walk(root)
    val hits =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => sweep.findFirstIn(Files.readString(p)).nonEmpty)
        .map(p => root.relativize(p).toString).toSeq.sorted
      finally files.close()
    assert(hits.toSet.subsetOf(Set("graft/Scope.scala", "graft/pipeline/Memo.scala")),
      s"sweeps outside Scope/Memo: ${hits.mkString(", ")}")
  }
}
