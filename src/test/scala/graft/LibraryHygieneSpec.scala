package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Library code reads its settings from parameters and the Spark session,
  * and reports through results and slf4j: no environment toggles, no
  * stderr prints. Deployment settings belong to the entry points (`Bench`,
  * `Verify`, `examples`), which this guard does not scan.
  */
class LibraryHygieneSpec extends AnyFunSuite {

  private val libraryDirs = Seq("core", "ops", "functions", "constraints",
    "requirements", "runner", "sources", "streaming")
  private val forbidden = Seq("sys.env", "System.getenv", "System.err")

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("library packages read no environment variables and print nothing to stderr") {
    val root = new File("src/main/scala/graft")
    val files = libraryDirs.flatMap { d =>
      val dir = new File(root, d)
      assert(dir.isDirectory, s"missing library directory ${dir.getPath}")
      scalaFiles(dir)
    }
    assert(files.size > 50, s"only ${files.size} library sources found under ${root.getAbsolutePath}")
    val hits = for {
      f <- files
      src = Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      p <- forbidden if line.contains(p)
    } yield s"${f.getPath}:${i + 1}: $p"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
