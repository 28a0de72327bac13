package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** C36/C37/C38 retrieval operators checked against independent
  * sequential implementations (the algorithms re-derived in plain
  * Scala over the same portable hash), plus structural invariants. */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.GraftSession.local(4)
  val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  /** Portable.hash60 re-derived: first 60 bits of md5. */
  private def hash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  private def toks(text: String): Array[String] =
    text.toLowerCase.replaceAll("\\s+", " ").trim.split(" ", -1)

  private lazy val corpus: Seq[(Long, String)] =
    graft.util.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq

  // ---- C36 ----

  test("C36: chunks tile every document with stride overlap and exact text hashes") {
    val w = 64; val s = 48
    val got = ops.Retrieval.docChunk(spark, dir, w, s)
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    corpus.foreach { case (id, text) =>
      val ts = toks(text)
      val n = ts.length
      val k = 1 + math.max(0, ((math.max(n - w, 0) + s - 1) / s))
      val want = (0 until k).map { ci =>
        val st = ci * s
        val en = math.min(st + w, n)
        val ct = ts.slice(st, en).mkString(" ")
        (id, ci + 1L, st.toLong, en.toLong, (en - st).toLong,
          ct.length.toLong, hash60(ct))
      }
      assert(got(id) == want, s"doc $id")
    }
  }

  test("C36: consecutive chunks overlap by exactly window minus stride") {
    val frame = ops.Retrieval.docChunk(spark, dir).cache()
    val bad = frame.withColumn("prev_end",
        lag("tok_end", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("chunk_seq")))
      .filter(col("prev_end").isNotNull &&
        // next chunk starts 48 after the previous one; overlap 16
        // unless the previous chunk was already the clipped tail
        col("tok_start") =!= col("prev_end") - 16L &&
        col("tok_end") =!= col("prev_end"))
    assert(bad.count() == 0)
    frame.unpersist()
  }

  // ---- C37 ----

  /** Winnowing re-derived (Schleimer et al. §4): window the 40-bit
    * gram-hash sequence, min per window, rightmost on ties, dedup. */
  private def seqWinnow(text: String, win: Int): Set[(Long, Long)] = {
    val ts = toks(text)
    if (ts.length < 3) return Set.empty
    val hs = ts.sliding(3).map(g => hash60(g.mkString(" ")) % (1L << 40)).toArray
    if (hs.length < win) return Set.empty
    (0 to hs.length - win).map { i =>
      val wnd = hs.slice(i, i + win)
      val mn = wnd.min
      val rightmost = (0 until win).filter(j => wnd(j) == mn).max + i
      (rightmost.toLong, mn)
    }.toSet
  }

  test("C37: frame equals the sequential winnow on the whole sf0.001 corpus") {
    val got = ops.Retrieval.winnowing(spark, dir)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    corpus.foreach { case (id, text) =>
      val want = seqWinnow(text, 4)
      assert(got.getOrElse(id, Set.empty) == want, s"doc $id")
    }
  }

  test("C37: rightmost tie-break — a repeated gram run fingerprints its last position") {
    // ten identical grams: every window min ties; rightmost wins, so
    // selections advance with the window instead of sticking at 0
    val doc = Seq((1L, Array.fill(12)("x").mkString(" ")))
      .toDF("doc_id", "text")
    // drive the core via a temp view against the same operator body:
    // all grams equal -> hash ties in every window
    val ts = toks(doc.as[(Long, String)].head()._2)
    val want = seqWinnow(ts.mkString(" "), 4)
    // grams m = 10, windows at 0..6, each selects pos i+3
    assert(want == (3L to 9L).map(p => (p, hash60("x x x") % (1L << 40))).toSet)
  }

  // ---- C38 ----

  test("C38: top-k equals the sequential BM25 with exact rational clearing") {
    val q = ops.Retrieval.Query
    val dls = corpus.map { case (id, t) => id -> toks(t).length.toLong }.toMap
    val n = corpus.size.toLong
    val tt = dls.values.sum
    val tfs = corpus.map { case (id, t) =>
      id -> toks(t).groupBy(identity).view.mapValues(_.length.toLong).toMap
    }.toMap
    val dfs = q.map(term => term -> corpus.count {
      case (id, _) => tfs(id).getOrElse(term, 0L) > 0L
    }.toLong).toMap
    val scored = corpus.flatMap { case (id, _) =>
      val dl = dls(id)
      val ss = q.map { term =>
        val tf = tfs(id).getOrElse(term, 0L)
        if (tf == 0L) 0.0
        else {
          val df = dfs(term)
          val num = (2 * n - 2 * df + 1) * 22 * tf * tt
          val den = (2 * df + 1) * ((10 * tf + 3) * tt + 9 * dl * n)
          num.toDouble / den
        }
      }
      if (ss.forall(_ == 0.0)) None
      else Some((id, dl, ss(0), ss(1), ss(2), ss(0) + ss(1) + ss(2)))
    }
    val want = scored.sortBy(r => (-r._6, r._1)).take(20).zipWithIndex
      .map { case (r, i) => (r._1, r._2, r._3, r._4, r._5, r._6, i + 1L) }
    val got = ops.Retrieval.bm25TopK(spark, dir)
      .as[(Long, Long, Double, Double, Double, Double, Long)]
      .collect().sortBy(_._7).toSeq
    assert(got == want)
  }

  test("C39: the MOSS guarantee — a shared >= win+2 token run is always detected") {
    // doc 2 embeds a 12-token run of benchmark doc 1 inside unrelated
    // text; doc 3 shares nothing. Winnowing guarantees any shared run
    // of >= win+2 tokens shares a selected fingerprint hash (the min
    // key inside a fully-shared window depends only on the gram hashes
    // -- positions are tie-break bits below the hash), so doc 2 MUST
    // score hits > 0 and doc 3 must score 0.
    val run = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val docs = Seq(
      (1L, s"benchmark preamble $run benchmark epilogue here", "src0"),
      (2L, s"completely different opening words then $run and another tail", "src9"),
      (3L, "nothing shared with the benchmark corpus at all in this text", "src9"))
      .toDF("doc_id", "text", "source")
    val byId = ops.Retrieval.decontaminateWinnowFrom(docs)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(byId(2L)._3 > 0, s"shared run must share a fingerprint: ${byId(2L)}")
    assert(byId(3L)._3 == 0, s"disjoint doc must have zero hits: ${byId(3L)}")
    assert(byId(2L)._5 == "drop" && byId(3L)._5 == "keep")
    // a doc too short to winnow stays visible with the -1 sentinel
    val tiny = Seq((1L, "benchmark words", "src0"), (4L, "tiny", "src9"))
      .toDF("doc_id", "text", "source")
    val t = ops.Retrieval.decontaminateWinnowFrom(tiny)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(t(4L)._2 == 0 && t(4L)._4 == -1L && t(4L)._5 == "keep",
      s"unfingerprint-able doc must surface with the sentinel: ${t(4L)}")
  }

  test("C42: containment catches a short doc quoted in a long one that Jaccard misses") {
    val short = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val filler = (1 to 40).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, short, "src1"),                       // the quoted passage
      (2L, s"$filler $short $filler", "src2"),   // the container
      (3L, "entirely different content with nothing shared here at all ok", "src3"))
      .toDF("doc_id", "text", "source")
    val g = docs.select(col("doc_id"),
        ops.Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), expr(ops.Text.gramsExpr).as("grams"))
      .filter(size(col("grams")) > 0)
    val got = ops.Retrieval.dedupContainmentFrom(docs, g)
      .as[(Long, Long, Long, Long, Long, String)].collect()
    assert(got.length == 1, s"exactly the quoted pair: ${got.toSeq}")
    val p = got.head
    // all of doc 1's grams appear in doc 2 -> containment exactly 1.0
    assert(p._1 == 1L && p._2 == 2L && p._4 == 1000000L && p._6 == "a_in_b", p.toString)
    // symmetric Jaccard on the same pair is far below any dedup tau:
    // 8 shared grams over ~96 union grams
    assert(p._5 < 200000L, s"the long side must NOT be contained: $p")
  }

  test("C42: the two posting regimes are exact and agree at any split point") {
    // the shared-gram count splits by posting length (inverted index
    // for k <= hotMax, candidate-bounded fan-out above); both regimes
    // are exact, so forcing EVERYTHING through either one must
    // reproduce the production frame bit-for-bit on real data
    val g = ops.Dedup.gramFrame(spark, dir)
    val fps = ops.Retrieval.winnowHashesCached(spark, dir)
    def run(hotMax: Long) =
      ops.Retrieval.containmentFromFps(fps, g, hotMax)
        .orderBy("doc_a", "doc_b").collect().toSeq
    val prod = run(64L)
    assert(prod.nonEmpty, "fixture must produce containment pairs")
    assert(run(0L) == prod, "all-hot (pure candidate fan-out) diverged")
    assert(run(Long.MaxValue) == prod, "all-cold (pure inverted index) diverged")
    assert(run(2L) == prod, "mixed-regime split diverged")
  }

  test("C53: edit distance catches scattered-edit variants that gram Jaccard misses") {
    // base: 48 tokens; variant: every 8th token substituted — runs of 7
    // unchanged tokens keep shared winnow fingerprints (candidates
    // survive) while every touched 3-gram dies
    val baseToks = (1 to 48).map(i => s"tok$i")
    val varToks = baseToks.zipWithIndex.map { case (t, i) =>
      if (i % 8 == 0) s"zzz$i" else t }
    val docs = Seq(
      (1L, baseToks.mkString(" "), "src1"),
      (2L, varToks.mkString(" "), "src2"),
      (3L, "entirely different content with nothing shared here at all ok", "src3"))
      .toDF("doc_id", "text", "source")
    val got = ops.Retrieval.dedupEditDistanceFrom(docs)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length == 1 && got.head._1 == 1L && got.head._2 == 2L,
      s"exactly the variant pair: ${got.toSeq}")
    assert(got.head._7 <= 300000L, s"scattered edits stay near: ${got.head}")
    assert(got.head._3 >= 3L, "the variant pair clears the shared-fp gate")
    // the same pair's symmetric gram Jaccard is deep below dedup taus
    val g = docs.select(col("doc_id"), ops.Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), expr(ops.Text.gramsExpr).as("grams"))
    val sets = g.as[(Long, Seq[String])].collect().toMap
    val (ga, gb) = (sets(1L).toSet, sets(2L).toSet)
    val jacc = ga.intersect(gb).size.toDouble / ga.union(gb).size
    assert(jacc < 0.6, s"gram jaccard should collapse under scattered edits: $jacc")
    // the C42 converse: a short doc quoted in a long one is edit-FAR
    // (distance ~ the length difference) — this operator must NOT pair it
    val short = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val filler = (1 to 40).map(i => s"word$i").mkString(" ")
    val quoted = Seq((1L, short, "s1"), (2L, s"$filler $short $filler", "s2"))
      .toDF("doc_id", "text", "source")
    assert(ops.Retrieval.dedupEditDistanceFrom(quoted).count() == 0,
      "containment's case must stay invisible to edit distance")
  }

  test("C68: every span projects to char offsets that re-extract their own tokens") {
    val spans = ops.Retrieval.dedupSubstringSpans(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_seq")) -> r)
      .toMap
    val chars = ops.Retrieval.dedupSpanChars(spark, dir).collect()
    // 1:1 with the token-space frame
    assert(chars.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("span_seq"))).toSet == spans.keySet)
    assert(chars.nonEmpty)
    val norms = graft.util.Tables.documents(spark, dir)
      .select(col("doc_id"), ops.Text.norm(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    chars.foreach { r =>
      assert(r.getAs[Long]("verified") == 1L, r.toString)
      val s = spans((r.getAs[Long]("doc_id"), r.getAs[Long]("span_seq")))
      assert(r.getAs[Long]("tok_start") == s.getAs[Long]("tok_start"))
      assert(r.getAs[Long]("tok_end") == s.getAs[Long]("tok_end"))
      // independent re-extraction from the collected normalized text
      val norm = norms(r.getAs[Long]("doc_id"))
      val extract = norm.substring(r.getAs[Long]("char_start").toInt,
        r.getAs[Long]("char_end").toInt)
      val toks = norm.split(" ")
      val want = toks.slice(s.getAs[Long]("tok_start").toInt,
        s.getAs[Long]("tok_end").toInt).mkString(" ")
      assert(extract == want, s"span $r extracts '$extract' != '$want'")
    }
  }

  test("C59 sweep: randomized small-alphabet corpora match the brute-force span algebra") {
    // a 4-word alphabet forces dense cross-doc gram sharing; 25 random
    // corpora sweep island shapes the handcrafted specs can't enumerate.
    // Fixed seed: deterministic per build.
    val rnd = new scala.util.Random(42)
    val k = 3
    (1 to 25).foreach { trial =>
      val nDocs = 4 + rnd.nextInt(4)
      val corpus = (1 to nDocs).map { id =>
        val len = 3 + rnd.nextInt(10)
        (id.toLong, (1 to len).map(_ => ('a' + rnd.nextInt(4)).toChar.toString)
          .mkString(" "))
      }
      val got = ops.Retrieval.dedupSubstringSpansFrom(
          corpus.toDF("doc_id", "text"), k)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("tok_start"),
          r.getAs[Long]("tok_end"), r.getAs[Long]("span_seq"),
          r.getAs[Long]("doc_tokens"), r.getAs[Long]("dup_ppm")))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      // brute force: a position is duplicated iff its k-gram appears in
      // ANOTHER document; islands merge on overlap or touch
      val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val gramsOf = toks.view.mapValues(ts =>
        if (ts.length < k) Seq.empty
        else ts.sliding(k).map(_.mkString(" ")).toSeq).toMap
      val want = toks.keys.map { id =>
        val others = gramsOf.filter(_._1 != id).values.flatten.toSet
        val dupPos = gramsOf(id).zipWithIndex
          .filter { case (g, _) => others(g) }.map(_._2.toLong)
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        dupPos.foreach { p =>
          if (spans.nonEmpty && p <= spans.last._2)
            spans(spans.length - 1) = (spans.last._1, p + k)
          else spans += ((p, p + k))
        }
        id -> spans.toSeq
      }.filter(_._2.nonEmpty).toMap
      assert(got.keySet == want.keySet, s"trial $trial docs")
      want.foreach { case (id, spans) =>
        val g = got(id)
        assert(g.map(s => (s._2, s._3)).toSeq == spans, s"trial $trial doc $id")
        val dup = spans.map(s => s._2 - s._1).sum
        g.zipWithIndex.foreach { case (s, i) =>
          assert(s._4 == i + 1L)
          assert(s._5 == toks(id).length.toLong)
          assert(s._6 == dup * 1000000L / toks(id).length)
        }
      }
    }
  }

  test("C69: the applied cut equals a driver-side rebuild and covers the whole corpus") {
    val got = ops.Retrieval.dedupCutApply(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val spans = ops.Retrieval.dedupSubstringSpans(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("tok_start"),
        r.getAs[Long]("tok_end")))
      .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).sortBy(_._1)).toMap
    val toks = graft.util.Tables.documents(spark, dir)
      .select(col("doc_id"), ops.Text.tokens(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // full corpus replacement: one output row per document
    assert(got.keySet == toks.keySet)
    toks.foreach { case (id, ts) =>
      val r = got(id)
      val kept = spans.get(id) match {
        case None => ts
        case Some(ss) =>
          val sb = Seq.newBuilder[String]
          var cur = 0L
          ss.foreach { case (s, e) =>
            sb ++= ts.slice(cur.toInt, s.toInt); cur = e }
          sb ++= ts.slice(cur.toInt, ts.length)
          sb.result()
      }
      assert(r.getAs[Long]("n_before") == ts.length.toLong)
      assert(r.getAs[Long]("n_after") == kept.length.toLong, s"doc $id")
      assert(r.getAs[Long]("was_cut") == (if (spans.contains(id)) 1L else 0L))
      assert(r.getAs[Long]("cut_ppm") ==
        (ts.length - kept.length).toLong * 1000000L / ts.length)
      assert(r.getAs[Long]("text_hash") ==
        graft.functions.Portable.hash60Long(kept.mkString(" ")), s"doc $id")
    }
    // the cut really bites at this SF, and uncut docs pass verbatim
    assert(got.values.exists(_.getAs[Long]("was_cut") == 1L))
    assert(got.values.exists(_.getAs[Long]("was_cut") == 0L))
  }

  test("C66: the context ledger is full-prefix / one-truncation / dropped-suffix") {
    val budget = 600L
    val rows = ops.Retrieval.ragContextPack(spark, dir, budget = budget)
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(rows.nonEmpty)
    // cum_before recounts; take is the clamp; statuses label it
    var cum = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("cum_before") == cum)
      val dt = r.getAs[Long]("doc_tokens")
      val want = math.max(0L, math.min(dt, budget - cum))
      assert(r.getAs[Long]("take_tokens") == want)
      assert(r.getAs[Long]("ctx_end") == cum + want)
      val status = r.getAs[String]("status")
      assert(status == (if (want == dt) "full"
        else if (want > 0) "truncated" else "dropped"))
      cum += dt
    }
    // shape: a full prefix, at most one truncation, a dropped suffix
    val st = rows.map(_.getAs[String]("status")).toSeq
    assert(st.count(_ == "truncated") <= 1)
    assert(st == st.filter(_ == "full") ++ st.filter(_ == "truncated") ++
      st.filter(_ == "dropped"), s"statuses out of order: $st")
    // the budget bites at this SF (else the op is vacuous here)
    assert(st.contains("dropped"))
    // nothing kept past the budget
    rows.filter(_.getAs[String]("status") != "dropped")
      .foreach(r => assert(r.getAs[Long]("ctx_end") <= budget))
  }

  test("C59: shared runs become exact removal spans; touching runs merge; unique docs vanish") {
    // doc1 = shared12 + uniq10, doc2 = uniq7 + shared12: with k=8 the
    // duplicated gram starts are exactly the 5 positions inside each
    // copy of the run, so the merged span is the run itself
    val shared = (1 to 12).map(i => s"sh$i")
    val d1 = shared ++ (1 to 10).map(i => s"ua$i")
    val d2 = (1 to 7).map(i => s"ub$i") ++ shared
    val d3 = (1 to 20).map(i => s"uc$i")
    val docs = Seq((1L, d1.mkString(" ")), (2L, d2.mkString(" ")),
      (3L, d3.mkString(" "))).toDF("doc_id", "text")
    val got = ops.Retrieval.dedupSubstringSpansFrom(docs)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1)
    assert(!got.contains(3L), "the unique doc must emit no spans")
    assert(got(1L).toSeq == Seq((1L, 1L, 0L, 12L, 12L, 22L,
      12L * 1000000L / 22L)))
    assert(got(2L).toSeq == Seq((2L, 1L, 7L, 19L, 12L, 19L,
      12L * 1000000L / 19L)))
    // two shared runs separated by ONE unique token stay two spans
    // (the bridging grams cross the unique token and are unshared)
    val d4 = shared ++ Seq("gap") ++ shared
    val twoRuns = Seq((1L, d4.mkString(" ")), (2L, shared.mkString(" ")))
      .toDF("doc_id", "text")
    val spans4 = ops.Retrieval.dedupSubstringSpansFrom(twoRuns)
      .filter(col("doc_id") === 1L)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(spans4.map(s => (s._3, s._4)).toSeq == Seq((0L, 12L), (13L, 25L)),
      spans4.toSeq.toString)
    // real corpus: spans are disjoint, sorted, and the ppm identity holds
    val real = ops.Retrieval.dedupSubstringSpans(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1)
    assert(real.nonEmpty, "sf0.001 corpus should contain shared substrings")
    real.values.foreach { spans =>
      val ord = spans.sortBy(_._2)
      assert(ord.map(_._2).toSeq == (1L to ord.length.toLong))
      ord.sliding(2).foreach {
        case Array(a, b) => assert(a._4 < b._3, s"overlapping spans: $a $b")
        case _ =>
      }
      val dup = ord.map(s => s._4 - s._3).sum
      ord.foreach { s =>
        assert(s._5 == s._4 - s._3)
        assert(s._7 == dup * 1000000L / s._6, s"ppm mismatch: $s")
      }
    }
  }

  test("C48: RRF fusion equals the per-arm recomputation and prefers dual-arm hits") {
    val kArm = 50; val rrfK = 60L
    val fused = ops.Retrieval.hybridRrfTopK(spark, dir, kArm = kArm)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(fused.nonEmpty)
    // independent recomputation of both arm rankings
    val sparse = ops.Retrieval.bm25TopK(spark, dir, kArm)
      .select(col("doc_id"), col("rank")).as[(Long, Long)].collect().toMap
    val c = ops.Similarity.corpus(spark, dir)
    val qRow = c.filter(col("vec_id") === 0L).select("v", "nrm").head()
    val qv = qRow.getSeq[Double](0); val qn = qRow.getDouble(1)
    val dense = c.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Seq[Double], Double)].collect()
      .map { case (id, v, n) =>
        val dotp = v.indices.foldLeft(0.0)((a, i) => a + qv(i) * v(i))
        (id, BigDecimal(dotp / (qn * n))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (id, cos) => (-cos, id) }.take(kArm).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // every fused row's score is exactly the sum of its arm contributions
    fused.values.foreach { case (id, sr, dr, rrf, _) =>
      assert(sr == sparse.getOrElse(id, -1L), s"doc $id sparse rank")
      assert(dr == dense.getOrElse(id, -1L), s"doc $id dense rank")
      val expect = (if (sr > 0) 1000000L / (rrfK + sr) else 0L) +
        (if (dr > 0) 1000000L / (rrfK + dr) else 0L)
      assert(rrf == expect, s"doc $id rrf $rrf != $expect")
    }
    // ranks are dense 1..k by (rrf desc, doc_id)
    val byRank = fused.values.toSeq.sortBy(_._5)
    assert(byRank.map(_._5) == (1L to byRank.size.toLong))
    assert(byRank.sliding(2).forall {
      case Seq(a, b) => a._4 > b._4 || (a._4 == b._4 && a._1 < b._1)
      case _ => true
    })
    // fusion actually fuses: some top document carries BOTH arm ranks
    assert(fused.values.exists(r => r._2 > 0 && r._3 > 0),
      "no dual-arm document in the fused top-k")
  }
}
