package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in main code goes through Tables.readParquet, so
  * no new call site pays the schema-inference job on each read. */
class ParquetReadGuardSpec extends AnyFunSuite {

  private val plainRead = """\.read\s*\.parquet\(""".r
  private val comment = """(?s)/\*.*?\*/|//[^\n]*""".r

  /** The file's code with comments blanked, line breaks kept. */
  private def code(f: Path): String =
    comment.replaceAllIn(new String(Files.readAllBytes(f), UTF_8),
      m => Regex.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))

  test("src/main/scala reads parquet only inside Tables.readParquet") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val tables = Paths.get("src/main/scala/graft/Tables.scala")
    val helper = {
      val src = code(tables)
      val start = src.indexOf("def readParquet(")
      assert(start >= 0, "Tables.readParquet not found")
      val end = """\n  \S""".r.findFirstMatchIn(src.substring(start)).fold(src.length)(start + _.start)
      start until end
    }
    val reads = files.flatMap { f =>
      val src = code(f)
      plainRead.findAllMatchIn(src).map(m => (f, m.start, src.take(m.start).count(_ == '\n') + 1))
    }
    val (inHelper, outside) = reads.partition { case (f, at, _) => f == tables && helper.contains(at) }
    assert(inHelper.nonEmpty, "the guard no longer sees the helper's own read")
    assert(outside.isEmpty,
      s"parquet read outside Tables.readParquet: ${outside.map { case (f, _, l) => s"$f:$l" }}")
  }
}
