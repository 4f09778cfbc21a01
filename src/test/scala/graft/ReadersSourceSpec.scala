package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** sfDir tables are read in one place: a parquet read of a
  * `<dir>/<name>.parquet` path appears only in `Readers.table`, so every
  * read carries a declared schema and none starts an inference job. */
class ReadersSourceSpec extends AnyFunSuite {

  test("parquet reads of <dir>/<name>.parquet paths appear in Readers.table only") {
    val root = Paths.get("src/main/scala")
    val sfRead = """\.\s*parquet\(\s*s?"[^"]*\.parquet"""".r
    val files = Files.walk(root)
    val hits =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val n = sfRead.findAllIn(Files.readString(p)).size
          if (n > 0) Some(root.relativize(p).toString -> n) else None
        }.toSeq.sorted
      finally files.close()
    assert(hits == Seq("graft/sources/Readers.scala" -> 1))
  }
}
