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

  /** `file:line` of every match of `re` in src/main, `allowed` excepted. */
  private def hits(re: scala.util.matching.Regex, allowed: String): Seq[String] = {
    assert(main.isDirectory, s"run from the repository root (no ${main.getPath})")
    scalaFiles(main).filterNot(_.getPath.endsWith(allowed)).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      re.findAllMatchIn(src).map { m =>
        s"${f.getPath}:${src.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }
  }

  /** GraftSession demotes WindowExec's "No Partition Defined" warning to
    * ERROR because every unpartitioned window goes through
    * [[graft.util.Windows.bounded]], whose frames are bounded by
    * construction. A bare `Window.orderBy(` (or an unpartitioned frame
    * spec) anywhere else would be a window nobody audited, and the
    * demoted warning would no longer report it. */
  test("unpartitioned windows are built only through Windows.bounded") {
    val bare = """\bWindow\s*\.\s*(orderBy|rowsBetween|rangeBetween)\s*\(""".r
    val found = hits(bare, "util/Windows.scala")
    assert(found.isEmpty, "use graft.util.Windows.bounded for: " + found.mkString(", "))
  }

  /** Every frame the engine pins for a session goes through
    * [[graft.util.Tables.persisted]], which builds it once per session
    * and table listing, drops it when the files change and is cleared
    * by `releaseCaches`. A `persist` or `cache` anywhere else would be
    * a cache with its own staleness and release rules. */
  test("frames are persisted only through Tables.persisted") {
    val found = hits("""\.\s*(persist\s*\(|cache\s*\(\s*\))""".r, "util/Tables.scala")
    assert(found.isEmpty, "use graft.util.Tables.persisted for: " + found.mkString(", "))
  }
}
