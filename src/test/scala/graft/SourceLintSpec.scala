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

  /** `file:line` of every match of `re` in src/main, except those in an
    * `allowed` place: a file (`functions/WireRender.scala`) or one
    * member of a file (`cdc/Craft.scala#frameComposed`, from its `def`
    * to the next line at the same or a smaller indent). */
  private def hits(re: scala.util.matching.Regex, allowed: String*): Seq[String] = {
    assert(main.isDirectory, s"run from the repository root (no ${main.getPath})")
    scalaFiles(main).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val spans = allowed.map(_.split('#')).filter(a => f.getPath.endsWith(a(0))).map {
        case Array(_) => (0, src.length)
        case Array(_, member) =>
          val d = ("""(?m)^( *).*\bdef """ + member + """\b""").r.findFirstMatchIn(src)
            .getOrElse(fail(s"${f.getPath} has no def $member"))
          val body = src.indexOf('\n', d.end) + 1
          val end = ("""(?m)^ {0,""" + d.group(1).length + """}\S""").r
            .findFirstMatchIn(src.substring(body)).fold(src.length)(body + _.start)
          (d.start, end)
      }
      re.findAllMatchIn(src).filterNot(m => spans.exists { case (a, b) => m.start >= a && m.start < b })
        .map(m => s"${f.getPath}:${src.substring(0, m.start).count(_ == '\n') + 1}")
    }
  }

  /** GraftSession demotes WindowExec's "No Partition Defined" warning to
    * ERROR because every unpartitioned window goes through
    * [[graft.util.Windows.bounded]], whose frames are bounded by
    * construction. A bare `Window.orderBy(` (or an unpartitioned frame
    * spec) anywhere else would be a window nobody audited, and the
    * demoted warning would no longer report it. So would the bare
    * `Window` object bound to a name (`val w = Window`), whose later
    * `w.orderBy(` the first pattern cannot see. */
  test("unpartitioned windows are built only through Windows.bounded") {
    val bare = ("""\bWindow\s*\.\s*(orderBy|rowsBetween|rangeBetween)\s*\(""" +
      """|=\s*(org\.apache\.spark\.sql\.expressions\.)?Window\b(?!\s*\.)""").r
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

  /** Every session cache lives in the registry of
    * [[graft.util.Tables]] (`persisted` and `checkpointed`), which keys
    * it on the files it read and frees it in `releaseCaches`. A
    * `TrieMap` anywhere else would be a cache with its own lock,
    * staleness and release rules. */
  test("session caches are kept only in the Tables registry") {
    val found = hits("""\bTrieMap\b""".r, "util/Tables.scala")
    assert(found.isEmpty, "use graft.util.Tables.checkpointed for: " + found.mkString(", "))
  }

  /** Every fixed-point number of the engine (`%.2f`, `%.4f`) is
    * rendered by the one native renderer ([[graft.functions.FixedPoint]],
    * reached from Columns through `WireRender.fixed4`), which matches
    * Spark's `format_string` byte for byte, and no row renders a number
    * through `java.util.Formatter`. A `format_string` or `String.format`
    * with a `%.Nf` or `%0NX` pattern elsewhere would be a second
    * renderer. Bench's output line and the composed parity reference
    * of the craft layout are the exceptions. */
  test("%.4f numbers are rendered only by the native renderer") {
    val found = hits("""(format_string|String\.format)\s*\([^)]*"%(\.\d+f|0\d+X)"""".r,
      "functions/WireRender.scala", "graft/Bench.scala#f3", "cdc/Craft.scala#frameComposed")
    assert(found.isEmpty, "use graft.functions.FixedPoint for: " + found.mkString(", "))
  }

  /** Floor division that must agree with the oracle's truncating `//`
    * is written once, in [[graft.functions.Portable.floorDiv]]: the
    * exact-multiple form `div(num - pmod(num, den), den)`. A `- pmod(`
    * feeding a `div` or `DIV` elsewhere would be a second copy of it. */
  test("exact-multiple floor division is written only in Portable.floorDiv") {
    val idiom = """"div"\s*,[^;]{0,80}?-\s*pmod\s*\(|-\s*pmod\s*\([^"\n]*?\)\s*(?i:div)\b""".r
    val found = hits(idiom, "functions/Portable.scala")
    assert(found.isEmpty, "use graft.functions.Portable.floorDiv for: " + found.mkString(", "))
  }

  /** Every message decoder is a native scanner registered through
    * [[graft.functions.WireScanExprs]]; Spark's `from_json` and
    * `from_csv` tokenize the whole message interpreted. The A46
    * checksum verifier is the one remaining parse. */
  test("messages are parsed only by the registered wire scanners") {
    val found = hits("""\bfrom_(json|csv)\s*\(""".r, "cdc/Checksum.scala#verifyMessages")
    assert(found.isEmpty, "use graft.functions.WireScanExprs.decode for: " + found.mkString(", "))
  }
}
