package graft

import java.io.File
import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

/** Scaladoc attaches a doc comment to the definition right after it, so a
  * doc block followed (blank lines aside) by another doc block documents
  * nothing: Scaladoc drops it. Text-only scan of `src/main`, no Spark.
  */
class ScaladocPlacementSpec extends AnyFunSuite {
  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** (first line, 1-based) of every doc block that sits directly above
    * another doc block.
    */
  private def orphanedDocs(lines: IndexedSeq[String]): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var start = -1
    for (i <- lines.indices) {
      val s = lines(i).trim
      if (start < 0 && s.startsWith("/**")) start = i
      if (start >= 0 && s.endsWith("*/")) {
        val next = lines.indexWhere(_.trim.nonEmpty, i + 1)
        if (next >= 0 && lines(next).trim.startsWith("/**")) out += start + 1
        start = -1
      }
    }
    out.result()
  }

  test("the scan flags a doc block stacked on another, blank lines between or not") {
    val src = IndexedSeq(
      "/** dropped */", "/** kept */", "def a = 1",
      "/** dropped", "  * too", "  */", "", "/** kept */", "def b = 2",
      "/** kept */", "def c = 3")
    assert(orphanedDocs(src) == Seq(1, 4))
  }

  test("no doc block in src/main sits directly above another") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} is not a directory")
    val bad = scalaFiles(root).flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toIndexedSeq finally src.close()
      orphanedDocs(lines).map(n => s"${f.getPath}:$n")
    }
    if (bad.nonEmpty) fail(s"doc blocks with no definition of their own: ${bad.mkString(", ")}")
  }
}
