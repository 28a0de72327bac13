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

  /** Every batcher of the sinks and the open-protocol wire closes its
    * batches with the one per-stream fold, [[graft.cdc.Sinks.batches]];
    * a `sortWithinPartitions` elsewhere would be a second copy of its
    * repartition → sort → iterator shape. */
  test("batches are closed only by the one sink fold") {
    val found = hits("""\bsortWithinPartitions\b""".r, "cdc/Sinks.scala#batches")
    assert(found.isEmpty, "use graft.cdc.Sinks.batches for: " + found.mkString(", "))
  }

  /** Source text with comments and string literals blanked (offsets and
    * newlines kept); the code of an interpolated string's `${...}` stays,
    * since oracle builders call each other there. */
  private def codeOnly(src: String): String = {
    val out = src.toCharArray
    def blank(a: Int, b: Int): Unit = (a until b).foreach(k => if (out(k) != '\n') out(k) = ' ')
    def code(from: Int, inBrace: Boolean): Int = {
      var i = from; var depth = 0
      while (i < src.length) {
        if (src.startsWith("//", i)) {
          val j = src.indexOf('\n', i) match { case -1 => src.length; case j => j }
          blank(i, j); i = j
        } else if (src.startsWith("/*", i)) {
          val j = src.indexOf("*/", i + 2) match { case -1 => src.length; case j => j + 2 }
          blank(i, j); i = j
        } else if (src(i) == '"') {
          val interp = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
          val q = if (src.startsWith("\"\"\"", i)) 3 else 1
          var j = i + q; var start = j; var open = true
          while (open && j < src.length) {
            if (q == 3 && src.startsWith("\"\"\"", j)) {
              while (j + 3 < src.length && src(j + 3) == '"') j += 1
              open = false
            } else if (q == 1 && src(j) == '"') open = false
            else if (q == 1 && src(j) == '\\') j += 2
            else if (interp && src.startsWith("${", j)) {
              blank(start, j + 2); j = code(j + 2, inBrace = true); start = j
            } else j += 1
          }
          blank(start, j); i = j + q
        } else if (src(i) == '\'' && i + 2 < src.length &&
            (src(i + 2) == '\'' || src(i + 1) == '\\')) {
          val j = src.indexOf('\'', i + (if (src(i + 1) == '\\') 3 else 2))
          blank(i + 1, j); i = j + 1
        } else if (src(i) == '{') { depth += 1; i += 1 }
        else if (src(i) == '}') {
          if (inBrace && depth == 0) return i
          depth -= 1; i += 1
        } else i += 1
      }
      src.length
    }
    code(0, inBrace = false)
    new String(out)
  }

  /** The simple JSON and Avro wires and the canal envelope build their
    * BOOTSTRAP resend, DDL and watermark legs in the one skeleton,
    * [[graft.cdc.MessageStream]], and supply only renderers. A DDL-event,
    * max-ts or `row_number` call in the code of one of them (an
    * interpolated oracle builder included) would be a second copy of
    * the leg structure. */
  test("message legs are built only by the message-stream skeleton") {
    val legs = """\b(SchemaStore\s*\.\s*ddlEvents(Sql)?|ClDims\s*\.\s*maxTs|row_number)\s*\(""".r
    val found = Seq("SimpleProtocol", "SimpleAvro", "Codecs").flatMap { w =>
      val f = new java.io.File(main, s"graft/cdc/$w.scala")
      val src = codeOnly(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      legs.findAllMatchIn(src)
        .map(m => s"${f.getPath}:${src.substring(0, m.start).count(_ == '\n') + 1}")
    }
    assert(found.isEmpty, "build the legs with graft.cdc.MessageStream: " + found.mkString(", "))
  }

  /** The top-level comma-separated items of the bracketed list opening
    * at `s(open)`, and the index just past its closing bracket. */
  private def items(s: String, open: Int): (Seq[String], Int) = {
    val found = Seq.newBuilder[String]
    var depth = 0; var start = open + 1; var i = open
    while (i < s.length) {
      s(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' =>
          depth -= 1
          if (depth == 0) {
            found += s.substring(start, i)
            return (found.result().filter(_.trim.nonEmpty), i + 1)
          }
        case ',' if depth == 1 => found += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    (found.result().filter(_.trim.nonEmpty), s.length)
  }

  /** Every bracketed clause that directly follows `from` (`f(a)(b)`). */
  private def clauses(s: String, from: Int): Seq[Seq[String]] =
    if (from < s.length && s(from) == '(') {
      val (args, next) = items(s, from)
      args +: clauses(s, next)
    } else Nil

  /** An operator parameter exists only where a caller sets it: a
    * defaulted parameter that no call in src/main, src/test or the
    * benchmark harness passes — by name, or positionally at its index —
    * is one value written as an option. It belongs in a named constant
    * of its object, where the Spark build, its SQL oracle and its
    * streaming twin all read it. A case-class field counts as a
    * parameter of its constructor, which a `copy(field = …)` also sets.
    * Calls are matched by method name, so a call to a same-named method
    * elsewhere also counts as setting it. */
  test("every defaulted parameter in src/main is set by some caller") {
    assert(main.isDirectory, s"run from the repository root (no ${main.getPath})")
    val callers = (scalaFiles(main) ++ scalaFiles(new java.io.File("src/test/scala")) ++
      scalaFiles(new java.io.File("perfbench/harness")))
      .map(f => codeOnly(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))
    val named = """(?s)\s*(\w+)\s*=(?![=>]).*""".r
    def positional(args: Seq[String]) = args.takeWhile(a => named.unapplySeq(a).isEmpty).size
    val param = """(?s)\s*(?:implicit\s+)?(?:val\s+)?(\w+)\s*:(.*)""".r
    def hasDefault(rest: String): Boolean = {
      var depth = 0
      rest.indices.exists { k =>
        rest(k) match {
          case '(' | '[' | '{' => depth += 1; false
          case ')' | ']' | '}' => depth -= 1; false
          case '=' => depth == 0 && !rest.startsWith("=>", k) && !rest.startsWith("==", k) &&
            (k == 0 || !"<>!=".contains(rest(k - 1)))
          case _ => false
        }
      }
    }
    val defRe = """\b(def|case\s+class)\s+(\w+)\s*(?:\[[^\]]*\])?\s*(?=\()""".r
    // (place, def, clause, index, parameter, case-class field?) of every
    // defaulted parameter
    val defaulted = scalaFiles(main).flatMap { f =>
      val s = codeOnly(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      defRe.findAllMatchIn(s).toSeq.flatMap { d =>
        val at = s"${f.getPath}:${s.substring(0, d.start).count(_ == '\n') + 1}"
        clauses(s, d.end).zipWithIndex.flatMap { case (params, ci) =>
          params.zipWithIndex.collect {
            case (param(p, rest), pi) if hasDefault(rest) =>
              (at, d.group(2), ci, pi, p, d.group(1) != "def")
          }
        }
      }
    }
    def callsTo(name: String): Seq[Seq[Seq[String]]] = callers.flatMap { c =>
      ("""(?<![\w$])""" + name + """\s*(?:\[[^\]]*\])?\s*(?=\()""").r.findAllMatchIn(c)
        .filterNot { m =>
          val before = c.substring(math.max(0, m.start - 8), m.start).trim
          before.endsWith("def") || before.endsWith("class")
        }
        .map(m => clauses(c, m.end))
    }
    val callsOf = defaulted.map(_._2).distinct.map(name => name -> callsTo(name)).toMap
    val copies = callsTo("copy")
    def setsByName(cl: Seq[String], p: String) = cl.exists { case named(n) => n == p; case _ => false }
    val unset = defaulted.collect {
      case (at, name, ci, pi, p, field) if !callsOf(name).exists(cl => cl.size > ci &&
          (positional(cl(ci)) > pi || setsByName(cl(ci), p))) &&
          !(field && copies.exists(cl => cl.nonEmpty && setsByName(cl.head, p))) =>
        s"$at $name.$p"
    }
    assert(unset.isEmpty, s"${unset.size} defaulted parameters no caller sets " +
      "(make each a constant of its object): " + unset.mkString(", "))
  }
}
