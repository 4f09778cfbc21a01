package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Session configuration lives in one place: every entry point under
  * src/main builds its session through [[LocalSession]]. */
class LocalSessionSpec extends AnyFunSuite {

  test("SparkSession.builder appears in LocalSession only") {
    val root = Paths.get("src/main/scala")
    val builder = """SparkSession\s*\.\s*builder""".r
    val files = Files.walk(root)
    val hits =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => builder.findFirstIn(Files.readString(p)).nonEmpty)
        .map(p => root.relativize(p).toString).toSeq.sorted
      finally files.close()
    assert(hits == Seq("graft/LocalSession.scala"))
  }
}
