package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Every batch parquet read in `src/main` goes through `Tables.parquet`,
  * which learns the schema without a Spark job. A direct reader call
  * elsewhere would bring the inference job back unseen.
  */
class ParquetReadGuardSpec extends AnyFunSuite {
  private val allowed = Set("Tables.scala", "GraftParquetBridge.scala")
  // `.read` then any option/schema calls, then `.parquet(` or a parquet format
  private val direct =
    """\.read\s*(\.\w+\([^()]*\)\s*)*\.(parquet\(|format\(\s*"parquet"\s*\))""".r

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  test("no direct spark.read.parquet outside Tables.parquet and its bridge") {
    val main = new File("src/main")
    assert(main.isDirectory, s"run from the project root (no ${main.getAbsolutePath})")
    val files = scalaFiles(main)
    assert(files.size > 50)
    val hits = files.filterNot(f => allowed(f.getName)).flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      direct.findAllMatchIn(text).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        s"${f.getPath}:$line: ${m.matched.replaceAll("\\s+", " ")}"
      }
    }
    assert(hits.isEmpty, "read parquet through Tables.parquet:\n" + hits.mkString("\n"))
  }
}
