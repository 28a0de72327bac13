package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards for rules the compiler cannot check. */
class SourceLintSpec extends AnyFunSuite {
  private val main = new java.io.File("src/main/scala")

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** GraftSession demotes WindowExec's "No Partition Defined" warning to
    * ERROR because every unpartitioned window goes through
    * [[graft.util.Windows.bounded]], whose frames are bounded by
    * construction. A bare `Window.orderBy(` (or an unpartitioned frame
    * spec) anywhere else would be a window nobody audited, and the
    * demoted warning would no longer report it. */
  test("unpartitioned windows are built only through Windows.bounded") {
    assert(main.isDirectory, s"run from the repository root (no ${main.getPath})")
    val bare = """\bWindow\s*\.\s*(orderBy|rowsBetween|rangeBetween)\s*\(""".r
    val hits = scalaFiles(main)
      .filterNot(_.getPath.endsWith("util/Windows.scala"))
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        bare.findAllMatchIn(src).map { m =>
          s"${f.getPath}:${src.substring(0, m.start).count(_ == '\n') + 1}"
        }
      }
    assert(hits.isEmpty, "use graft.util.Windows.bounded for: " + hits.mkString(", "))
  }
}
