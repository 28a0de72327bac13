package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable
import graft.util.Tables

/** C36/C37/C38 — retrieval-side corpus operators: RAG chunking,
  * winnowing fingerprints, and BM25 ranking.
  *
  * C36 `doc_chunk`: sliding-window token chunking (window W, stride
  * S < W for overlap) — the standard RAG pre-indexing step. Chunk
  * text is reconstructed deterministically (normalized tokens joined
  * by one space) and surfaced as a portable hash + char count, so
  * the oracle checks the exact chunk CONTENT without shipping it.
  * Row-local after the tokenizer: one explode per document, no
  * shuffle (the chunk frame inherits the scan partitioning).
  *
  * C37 `text_winnowing`: winnowing document fingerprints (Schleimer,
  * Wilkerson, Aiken, SIGMOD 2003 — the MOSS algorithm): hash all
  * word 3-grams, slide a window of w=4 over the hash sequence, keep
  * the minimum hash per window breaking ties to the RIGHTMOST
  * position, and dedup the selections. Guarantees every match of
  * length ≥ w+2 tokens shares a fingerprint — the local-dedup /
  * plagiarism primitive. The min-with-rightmost-tie selection packs
  * (hash, position) into ONE comparable BIGINT key — 40-bit hash
  * above a 22-bit position complement — so a single frame-window
  * MIN does the lexicographic argmin portably in both engines.
  *
  * C38 `bm25_topk`: Okapi BM25 (k1 = 6/5, b = 3/4) for a fixed
  * query, top-k documents. Logarithm-free exactness: with rational
  * k1/b every per-term score is a ratio of two exact int64 products
  *   idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  *     = [(2N−2df+1) · 22 · tf · T] / [(2df+1) · ((10·tf+3)·T + 9·dl·N)]
  * (avgdl = T/N cleared of fractions; Robertson idf (N−df+½)/(df+½)
  * kept raw — ln() is not bit-portable across engines and a monotone
  * transform preserves the ranking for fixed df, the C15 precedent).
  * Both sides fit 2^53 at test scale, so the ONE double division is
  * IEEE-exact and bit-identical in Spark and DuckDB; the per-term
  * scores sum in fixed literal order. At 100 TB the same plan runs
  * with plain double arithmetic — the integer clearing is the oracle
  * contract, not the scale path.
  */
object Retrieval {

  /** [[docChunk]]'s width and stride, tokens. */
  val ChunkW = 64
  val ChunkS = 48
  /** Winnowing window ([[winnowing]] and every pass over its
    * fingerprints). */
  val Win = 4
  /** Overlap thresholds: [[decontaminateWinnow]], [[dedupContainment]]
    * and [[dedupEditDistance]] (with its compared-prefix cap and
    * shared-fingerprint floor). */
  val DecontamTauPpm = 100000L
  val ContainTauPpm = 800000L
  val EditTauPpm = 300000L
  val EditCap = 600
  val EditMinShared = 3
  /** Retrieval depth ([[bm25TopK]], [[hybridRrfTopK]], [[ragContextPack]]),
    * the RRF arm depth, RRF k and query vector. */
  val RetrieveK = 20
  val RrfKArm = 50
  val RrfK = 60
  val QueryVec = 0L
  /** Substring-dedup gram length ([[dedupSubstringSpans]], the passes
    * over its spans and the substring stream). */
  val SubstrK = 8
  /** [[ragContextPack]]'s token budget. */
  val RagBudget = 600L

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))

  // ------------------------------------------------------------------
  // C36 — sliding-window chunking
  // ------------------------------------------------------------------

  /** Chunk count: 1 + ceil(max(0, n−W)/S) — the last chunk may be
    * shorter than W; a doc shorter than W is one chunk. */
  def docChunk(spark: SparkSession, dir: String,
               w: Int = ChunkW, s: Int = ChunkS): DataFrame =
    Text.docTokens(spark, dir)
      .select(col("doc_id"), col("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("ci", explode(sequence(lit(0L),
        expr(s"(greatest(n - $w, CAST(0 AS BIGINT)) + ${s - 1}) div $s"))))
      .withColumn("tok_start", col("ci") * s)
      .withColumn("tok_end", least(col("tok_start") + w, col("n")))
      .withColumn("chunk_tokens", col("tok_end") - col("tok_start"))
      .withColumn("chunk_text",
        array_join(slice(col("toks"),
          (col("tok_start") + 1).cast("int"),
          col("chunk_tokens").cast("int")), " "))
      .select(col("doc_id"),
        (col("ci") + 1L).as("chunk_seq"),
        col("tok_start"), col("tok_end"), col("chunk_tokens"),
        length(col("chunk_text")).cast("long").as("chunk_chars"),
        Portable.hash60(col("chunk_text")).as("chunk_hash"))

  def docChunkSql(): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), c AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
       |    UNNEST(GENERATE_SERIES(0,
       |      (GREATEST(CAST(len(toks) AS BIGINT) - $ChunkW, 0) + ${ChunkS - 1}) // $ChunkS))
       |      AS ci
       |  FROM t
       |), x AS (
       |  SELECT doc_id, ci, n,
       |    CAST(ci * $ChunkS AS BIGINT) AS tok_start,
       |    CAST(LEAST(ci * $ChunkS + $ChunkW, n) AS BIGINT) AS tok_end,
       |    array_to_string(toks[CAST(ci * $ChunkS + 1 AS BIGINT) :
       |      CAST(LEAST(ci * $ChunkS + $ChunkW, n) AS BIGINT)], ' ') AS chunk_text
       |  FROM c
       |)
       |SELECT doc_id, CAST(ci + 1 AS BIGINT) AS chunk_seq,
       |  tok_start, tok_end,
       |  tok_end - tok_start AS chunk_tokens,
       |  CAST(LENGTH(chunk_text) AS BIGINT) AS chunk_chars,
       |  ${Portable.hash60Sql("chunk_text")} AS chunk_hash
       |FROM x""".stripMargin

  // ------------------------------------------------------------------
  // C37 — winnowing fingerprints
  // ------------------------------------------------------------------

  /** 40-bit gram hash over a 22-bit position complement: MIN of the
    * packed key = (min hash, rightmost position) lexicographically. */
  private val HashMod = 1099511627776L // 2^40
  private val PosMod = 4194304L // 2^22

  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    val grams = Text.docTokens(spark, dir)
      .select(col("doc_id"),
        call_function("graft_word_ngrams_all", col("toks"), lit(3)).as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("m"),
        posexplode(col("grams")).as(Seq("pos", "gram")))
      .withColumn("key",
        (Portable.hash60(col("gram")) % HashMod) * PosMod +
          (lit(PosMod - 1) - col("pos")))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, Win - 1)
    grams
      .withColumn("mk", min(col("key")).over(frame))
      .filter(col("pos") <= col("m") - Win)
      .select(col("doc_id"),
        (lit(PosMod - 1) - pmod(col("mk"), lit(PosMod))).as("fp_pos"),
        expr(s"mk div $PosMod").as("fp_hash"))
      .distinct()
  }

  // ------------------------------------------------------------------
  // C39 — winnowing-fingerprint decontamination
  // ------------------------------------------------------------------

  /** Distinct winnowing fingerprint hashes per doc, carrying source —
    * the C37 selection with positions stripped (overlap detection
    * compares content, not offsets). */
  private def winnowHashes(docsFrame: DataFrame): DataFrame = {
    val grams = Text.withToks(docsFrame)
      .select(col("doc_id"), col("source"),
        call_function("graft_word_ngrams_all", col("toks"), lit(3)).as("grams"))
      .select(col("doc_id"), col("source"),
        size(col("grams")).cast("long").as("m"),
        posexplode(col("grams")).as(Seq("pos", "gram")))
      .withColumn("key",
        (Portable.hash60(col("gram")) % HashMod) * PosMod +
          (lit(PosMod - 1) - col("pos")))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, Win - 1)
    grams
      .withColumn("mk", min(col("key")).over(frame))
      .filter(col("pos") <= col("m") - Win)
      .select(col("doc_id"), col("source"), expr(s"mk div $PosMod").as("fp_hash"))
      .distinct()
  }

  /** The production fingerprint frame, kept per (session, documents,
    * win) by [[Tables.checkpointed]]: C39, C42 and the funnel (C46)
    * consume this frame, and the containment self-join reads it twice. */
  private[graft] def winnowHashesCached(spark: SparkSession, dir: String): DataFrame =
    Tables.checkpointed(spark, "winnow", dir, "documents", ())(
      winnowHashes(Text.docTokens(spark, dir)).localCheckpoint())

  /** C39 — decontamination by winnowing-fingerprint overlap: the MOSS
    * guarantee (any shared run of ≥ win+2 tokens shares a fingerprint)
    * turned into a train/test overlap detector. Where C19 joins EVERY
    * distinct corpus 4-gram against the benchmark gram set, this joins
    * only the winnow-SELECTED ~2/(win+1) density of gram hashes — the
    * same guarantee class at a fraction of the join traffic, which is
    * the 100 TB path for substring-level decontamination. Per
    * non-benchmark doc: distinct fingerprint count, benchmark-hit
    * count, overlap ppm (−1 for fingerprint-free docs, the C19
    * sentinel convention) and the keep/drop verdict at [[DecontamTauPpm]].
    * Plan: one doc-keyed window on the repartition key (no extra
    * exchange), one distinct, benchmark side broadcast (benchmark
    * suites are fixed-size while the corpus grows). */
  private[graft] def decontaminateWinnowFrom(docsFrame: DataFrame): DataFrame =
    decontaminateFromFps(docsFrame, winnowHashes(docsFrame))

  private def decontaminateFromFps(docsFrame: DataFrame, fps: DataFrame): DataFrame = {
    val bench = fps.filter(col("source") === "src0")
      .select(col("fp_hash")).distinct().withColumn("hit", lit(1))
    val scored = fps.filter(col("source") =!= "src0")
      .join(broadcast(bench), Seq("fp_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"), count(col("hit")).as("n_hits"))
    // fingerprint-free docs (too short to winnow) re-enter with the -1
    // sentinel — an un-checkable doc must stay visible, not vanish
    docsFrame.filter(col("source") =!= "src0").select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fps"), lit(0L)).as("n_fps"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_fps"), lit(0L)) > 0,
          call_function("div", col("n_hits").cast("decimal(38,0)")
            * lit(1000000L), col("n_fps")))
          .otherwise(lit(-1L)).as("overlap_ppm"))
      .withColumn("verdict",
        when(col("overlap_ppm") >= DecontamTauPpm, lit("drop")).otherwise(lit("keep")))
  }

  def decontaminateWinnow(spark: SparkSession, dir: String): DataFrame =
    decontaminateFromFps(graft.ops.Text.docTokens(spark, dir),
      winnowHashesCached(spark, dir))

  /** The SQL twin of [[winnowHashes]]' windowing over a `grams` list
    * relation: per-position gram keys `h` and their [[Win]]-wide window
    * minimum `w`, carrying the row keys `cols`. */
  private def winnowCtesSql(cols: String, grams: String): String =
    s"""pg AS (
       |  SELECT $cols, CAST(len(grams) AS BIGINT) AS m,
       |    UNNEST(list_transform(range(1, len(grams) + 1),
       |      i -> {'pos': i - 1, 'gram': grams[i]})) AS e
       |  FROM $grams
       |), h AS (
       |  SELECT $cols, m, CAST(e.pos AS BIGINT) AS pos,
       |    (${Portable.hash60Sql("e.gram")} % $HashMod) * $PosMod
       |      + (${PosMod - 1} - e.pos) AS key
       |  FROM pg
       |), w AS (
       |  SELECT $cols, m, pos,
       |    MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${Win - 1} FOLLOWING) AS mk
       |  FROM h
       |)""".stripMargin

  def decontaminateWinnowSql(): String = {
    val allGrams =
      """CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(1, len(toks) - 1),
        |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |  ELSE [] END""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, source, ${Text.tokensSql("text")} AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, source, $allGrams AS grams FROM t
       |), ${winnowCtesSql("doc_id, source", "g")}, fps AS (
       |  SELECT DISTINCT doc_id, source, CAST(mk // $PosMod AS BIGINT) AS fp_hash
       |  FROM w WHERE pos <= m - $Win
       |), bench AS (
       |  SELECT DISTINCT fp_hash FROM fps WHERE source = 'src0'
       |), scored AS (
       |  SELECT f.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_fps,
       |    CAST(COUNT(b.fp_hash) AS BIGINT) AS n_hits
       |  FROM fps f LEFT JOIN bench b ON f.fp_hash = b.fp_hash
       |  WHERE f.source <> 'src0'
       |  GROUP BY f.doc_id
       |), u AS (
       |  SELECT d.doc_id,
       |    COALESCE(s.n_fps, 0) AS n_fps, COALESCE(s.n_hits, 0) AS n_hits
       |  FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
       |  LEFT JOIN scored s ON d.doc_id = s.doc_id
       |)
       |SELECT doc_id, n_fps, n_hits,
       |  CASE WHEN n_fps > 0 THEN n_hits * 1000000 // n_fps ELSE -1 END AS overlap_ppm,
       |  CASE WHEN (CASE WHEN n_fps > 0 THEN n_hits * 1000000 // n_fps ELSE -1 END)
       |         >= $DecontamTauPpm THEN 'drop' ELSE 'keep' END AS verdict
       |FROM u""".stripMargin
  }

  // ------------------------------------------------------------------
  // C84 — cross-source duplication matrix
  // ------------------------------------------------------------------

  /** C84 — cross-source duplication matrix: for every source pair, how
    * many distinct winnowing fingerprints they share, as a ppm of each
    * side's fingerprint universe — the "which sources copy which"
    * audit run before mixing weights are set (a mirror site or a
    * re-crawled dump shows up as a high-ppm pair; C26's weights then
    * double-count it unless one side is capped). Fingerprints, not raw
    * grams: the ~2/(win+1) winnow density keeps the per-source
    * universes a fraction of the gram space with the MOSS shared-run
    * guarantee intact.
    *
    * Scale: the frame self-joined is the (fp_hash, source)-DISTINCT
    * projection, so postings per fp_hash are bounded by the SOURCE
    * COUNT (a dimension), never by corpus size — the join cannot go
    * quadratic in docs by construction. One distinct, one bounded
    * self-join, two dimension-scale aggs. */
  def sourceDedupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val fps = winnowHashesCached(spark, dir)
    val fpsrc = fps.select(col("source"), col("fp_hash")).distinct()
    val totals = fpsrc.groupBy(col("source")).agg(count(lit(1)).as("n_fps"))
    fpsrc.as("a").join(fpsrc.as("b"), Seq("fp_hash"))
      .filter(col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .join(totals.select(col("source").as("src_a"),
        col("n_fps").as("fps_a")), "src_a")
      .join(totals.select(col("source").as("src_b"),
        col("n_fps").as("fps_b")), "src_b")
      .withColumn("share_a_ppm", expr("n_shared_fps * 1000000 DIV fps_a"))
      .withColumn("share_b_ppm", expr("n_shared_fps * 1000000 DIV fps_b"))
      .select(col("src_a"), col("src_b"), col("n_shared_fps"),
        col("fps_a"), col("fps_b"), col("share_a_ppm"), col("share_b_ppm"))
  }

  def sourceDedupMatrixSql(): String = {
    val allGrams =
      """CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(1, len(toks) - 1),
        |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |  ELSE [] END""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, source, ${Text.tokensSql("text")} AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, source, $allGrams AS grams FROM t
       |), ${winnowCtesSql("doc_id, source", "g")}, fpsrc AS (
       |  SELECT DISTINCT source, CAST(mk // $PosMod AS BIGINT) AS fp_hash
       |  FROM w WHERE pos <= m - $Win
       |), totals AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fps
       |  FROM fpsrc GROUP BY 1
       |), pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared_fps
       |  FROM fpsrc a JOIN fpsrc b ON a.fp_hash = b.fp_hash
       |  WHERE a.source < b.source
       |  GROUP BY 1, 2
       |)
       |SELECT p.src_a, p.src_b, p.n_shared_fps,
       |  ta.n_fps AS fps_a, tb.n_fps AS fps_b,
       |  CAST(p.n_shared_fps * 1000000 // ta.n_fps AS BIGINT) AS share_a_ppm,
       |  CAST(p.n_shared_fps * 1000000 // tb.n_fps AS BIGINT) AS share_b_ppm
       |FROM pairs p
       |JOIN totals ta ON ta.source = p.src_a
       |JOIN totals tb ON tb.source = p.src_b""".stripMargin
  }

  // ------------------------------------------------------------------
  // C42 — asymmetric containment dedup
  // ------------------------------------------------------------------

  /** C42 — containment dedup: C(a→b) = |grams(a) ∩ grams(b)| / |grams(a)|,
    * the asymmetric overlap that catches a SHORT document quoted inside
    * a LONG one — a pair symmetric Jaccard (C4) scores near 0 (the
    * union is dominated by the long side) but containment scores 1.
    * Candidates are pairs sharing a winnowing fingerprint (the C37
    * selection): a fully-contained passage of ≥ win+2 tokens is
    * GUARANTEED to share one, and the ~2/(win+1) fingerprint density
    * keeps the self-join a fraction of a full inverted-index join —
    * the candidate generation is mirrored in the oracle exactly (the
    * C2/C5 banding precedent). Exact verify on the distinct-3-gram
    * sets; ppm containment both directions; `contained` labels which
    * side dissolves into the other at [[ContainTauPpm]].
    *
    * Plan: fingerprint frame (one doc-keyed window on the repartition
    * key) self-joined on fp_hash (bucket-bounded, never all-pairs),
    * distinct pairs, then the exact verify as a partial-agg shared-gram
    * count over the exploded (doc, gram) frame — scalar rows only;
    * gram ARRAYS never cross a shuffle (see [[containmentFromFps]]). */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    containmentFromFps(winnowHashesCached(spark, dir),
      Dedup.gramFrame(spark, dir))

  /** `g` must carry (doc_id, grams) with grams = the DISTINCT 3-gram
    * set of the doc's text (the C4 cached frame in production). */
  private[graft] def dedupContainmentFrom(docsFrame: DataFrame, g: DataFrame): DataFrame =
    containmentFromFps(winnowHashes(docsFrame), g)

  /** Posting-length split point for the two-regime shared-gram count:
    * grams held by ≤ HotPostingMax docs count pairs through the
    * inverted index (cost Σ k² ≤ HotPostingMax · Σ k — linear in
    * corpus gram rows); rarer-than-that is almost everything, and the
    * few grams ABOVE it (boilerplate shingles living in a large
    * fraction of the corpus, where k² explodes) count through the
    * candidate-bounded fan-out instead (cost Σ_pairs |hot ∩ grams(a)|,
    * linear in candidates). Both regimes are exact; their counts are
    * disjoint by the split and sum to |∩|. */
  private val HotPostingMax = 64L

  private[graft] def containmentFromFps(fpsFull: DataFrame, g: DataFrame,
      hotMax: Long = HotPostingMax): DataFrame = {
    val fps = fpsFull.select(col("doc_id"), col("fp_hash"))
    val cand = fps.as("a").join(fps.as("b"), Seq("fp_hash"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // |∩| from the EXPLODED (doc, gram) frame, scalar rows only — no
    // array column ever rides a shuffle (the r10 blowup: shipping BOTH
    // docs' full gram arrays to every pair before array_intersect was
    // spill-sensitive at the docs tier — judge measured 52 s and 477 s
    // on consecutive passes — and pair × full-array materialization
    // through a shuffle is a scale-killer at 100 TB regardless).
    // TWO REGIMES split by posting length (probe: inverted index alone
    // is 4x faster than the candidate fan-out at docs10 — 2.5 s vs
    // 9 s — but its Σ k² term dies on boilerplate grams at corpus
    // scale; the fan-out is candidate-bounded but pays |grams(a)| rows
    // per pair for every pair):
    //   cold (k ≤ HotPostingMax): per-gram doc-pair generation +
    //     partial-agg count, semi-joined to the candidate set;
    //   hot (k > HotPostingMax): candidate pairs pick up the A-side's
    //     HOT grams only and match them on (doc_b, gram) equality.
    // Zero-overlap candidates (possible only via fp-hash collision)
    // drop out of the inner joins; any tauPpm > 0 filters them
    // identically, so the frame is value-equal to the oracle's
    // list_intersect verify.
    val ex = g.select(col("doc_id"), explode(col("grams")).as("gram"))
      .withColumn("k", count(lit(1)).over(Window.partitionBy(col("gram"))))
    val sz = g.select(col("doc_id"), size(col("grams")).cast("long").as("sz"))
    val cold = ex.filter(col("k") <= hotMax).select(col("doc_id"), col("gram"))
    val coldInter = cold.as("x").join(cold.as("y"), Seq("gram"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("cold_n"))
      .join(cand, Seq("doc_a", "doc_b"), "left_semi")
    val hot = ex.filter(col("k") > hotMax).select(col("doc_id"), col("gram"))
    val hotInter = cand
      .join(hot.select(col("doc_id").as("doc_a"), col("gram")), Seq("doc_a"))
      .join(hot.select(col("doc_id").as("doc_b"), col("gram"))
        .hint("shuffle_hash"), Seq("doc_b", "gram"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("hot_n"))
    val inter = coldInter.join(hotInter, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        (coalesce(col("cold_n"), lit(0L)) + coalesce(col("hot_n"), lit(0L)))
          .as("inter"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      // inter is now aggregate-derived (a count), so the ppm numerator
      // runs in decimal(38) — the OverflowGuard class; IntegralDivide
      // still returns the BIGINT ratio
      .withColumn("cont_a_ppm",
        call_function("div", col("inter").cast("decimal(38,0)") * lit(1000000L),
          col("sza")))
      .withColumn("cont_b_ppm",
        call_function("div", col("inter").cast("decimal(38,0)") * lit(1000000L),
          col("szb")))
      .filter(col("cont_a_ppm") >= ContainTauPpm || col("cont_b_ppm") >= ContainTauPpm)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("cont_a_ppm"), col("cont_b_ppm"),
        when(col("cont_a_ppm") >= ContainTauPpm && col("cont_b_ppm") >= ContainTauPpm, lit("both"))
          .when(col("cont_a_ppm") >= ContainTauPpm, lit("a_in_b"))
          .otherwise(lit("b_in_a")).as("contained"))
  }

  def dedupContainmentSql(): String = {
    val allGrams =
      """CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(1, len(toks) - 1),
        |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |  ELSE [] END""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), ga AS (
       |  SELECT doc_id, $allGrams AS grams FROM t
       |), ${winnowCtesSql("doc_id", "ga")}, fps AS (
       |  SELECT DISTINCT doc_id, CAST(mk // $PosMod AS BIGINT) AS fp_hash
       |  FROM w WHERE pos <= m - $Win
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM fps a JOIN fps b
       |    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
       |), gs AS (
       |  SELECT doc_id, list_distinct(grams) AS grams FROM ga WHERE len(grams) > 0
       |), v AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(x.grams, y.grams)) AS BIGINT) AS inter,
       |    CAST(len(x.grams) AS BIGINT) AS sza, CAST(len(y.grams) AS BIGINT) AS szb
       |  FROM cand c
       |  JOIN gs x ON x.doc_id = c.doc_a
       |  JOIN gs y ON y.doc_id = c.doc_b
       |)
       |SELECT doc_a, doc_b, inter,
       |  inter * 1000000 // sza AS cont_a_ppm,
       |  inter * 1000000 // szb AS cont_b_ppm,
       |  CASE WHEN inter * 1000000 // sza >= $ContainTauPpm
       |        AND inter * 1000000 // szb >= $ContainTauPpm THEN 'both'
       |       WHEN inter * 1000000 // sza >= $ContainTauPpm THEN 'a_in_b'
       |       ELSE 'b_in_a' END AS contained
       |FROM v
       |WHERE inter * 1000000 // sza >= $ContainTauPpm
       |   OR inter * 1000000 // szb >= $ContainTauPpm""".stripMargin
  }

  // ------------------------------------------------------------------
  // C53 — edit-distance near-dup verify (the reordering-sensitive arm)
  // ------------------------------------------------------------------

  /** Edit-distance near-dup pairs: winnowing candidates verified with
    * character-level Levenshtein. The complement of the gram-set
    * verifies (C4/C42): a doc with scattered single-token edits keeps
    * a LOW edit distance while every touched 3-gram dies (gram
    * Jaccard collapses), so set-similarity misses it — the classic
    * plagiarism/boilerplate-variant case; conversely a short doc
    * quoted inside a long one (C42's case) has edit distance ≈ the
    * length difference and stays invisible here. Production dedup
    * stacks both.
    *
    * The verify is the EXPENSIVE one in the family (O(len²) DP per
    * pair vs C42's set intersection), so the candidate contract is
    * deliberately tighter than C42's and BOTH filters are part of the
    * operator's declared recall (mirrored exactly in the oracle, the
    * C2/C5 banding discipline):
    *   - pairs must share ≥ [[EditMinShared]] winnowing fingerprints (one
    *     shared phrase fingerprint is template noise; a ≤τ-edit
    *     variant keeps long untouched runs and shares many) — on the
    *     template-heavy sf0.1 corpus this cuts 334k candidate pairs
    *     to ~400 while keeping every near pair but one borderline;
    *   - the length bound |len_a−len_b| ≤ τ·max(len) (an edit
    *     distance is never below the length difference).
    * Verify = levenshtein on the first [[EditCap]] chars (bounded O(cap²)
    * per pair at any doc length), ppm of the LONGER doc; each engine
    * runs its own native levenshtein — an independent
    * cross-implementation check. */
  def dedupEditDistance(spark: SparkSession, dir: String): DataFrame =
    editDistanceFromFps(winnowHashesCached(spark, dir), docs(spark, dir))

  private[graft] def dedupEditDistanceFrom(docsFrame: DataFrame): DataFrame =
    editDistanceFromFps(winnowHashes(docsFrame), docsFrame)

  private def editDistanceFromFps(fpsFull: DataFrame, docsFrame: DataFrame): DataFrame = {
    val fps = fpsFull.select(col("doc_id"), col("fp_hash"))
    val cand = fps.as("a").join(fps.as("b"), Seq("fp_hash"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= EditMinShared.toLong)
    val d = docsFrame.select(col("doc_id"),
      substring(col("text"), 1, EditCap).as("txt"),
      length(col("text")).cast("long").as("len"))
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("txt").as("ta"),
        col("len").as("len_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("txt").as("tb"),
        col("len").as("len_b")), "doc_b")
      // the length bound prunes BEFORE the quadratic DP runs
      .filter(abs(col("len_a") - col("len_b")) * 1000000L <=
        lit(EditTauPpm) * greatest(col("len_a"), col("len_b"), lit(1L)))
      .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
      .withColumn("lev_ppm", call_function("div", col("lev") * lit(1000000L),
        greatest(col("len_a"), col("len_b"), lit(1L))))
      .filter(col("lev_ppm") <= EditTauPpm)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("len_a"),
        col("len_b"), col("lev"), col("lev_ppm"))
  }

  def dedupEditDistanceSql(): String = {
    val allGrams =
      """CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(1, len(toks) - 1),
        |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |  ELSE [] END""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, $allGrams AS grams FROM t
       |), ${winnowCtesSql("doc_id", "g")}, fps AS (
       |  SELECT DISTINCT doc_id, CAST(mk // $PosMod AS BIGINT) AS fp_hash
       |  FROM w WHERE pos <= m - $Win
       |), cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM fps a JOIN fps b
       |    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $EditMinShared
       |), pruned AS (
       |  SELECT c.doc_a, c.doc_b, c.n_shared,
       |    CAST(LENGTH(x.text) AS BIGINT) AS len_a,
       |    CAST(LENGTH(y.text) AS BIGINT) AS len_b,
       |    x.text AS ta, y.text AS tb
       |  FROM cand c
       |  JOIN documents x ON x.doc_id = c.doc_a
       |  JOIN documents y ON y.doc_id = c.doc_b
       |  WHERE ABS(LENGTH(x.text) - LENGTH(y.text)) * 1000000
       |    <= $EditTauPpm * GREATEST(LENGTH(x.text), LENGTH(y.text), 1)
       |)
       |SELECT doc_a, doc_b, n_shared, len_a, len_b, lev,
       |  lev * 1000000 // GREATEST(len_a, len_b, 1) AS lev_ppm
       |FROM (
       |  SELECT doc_a, doc_b, n_shared, len_a, len_b,
       |    CAST(levenshtein(substring(ta, 1, $EditCap),
       |      substring(tb, 1, $EditCap)) AS BIGINT) AS lev
       |  FROM pruned
       |)
       |WHERE lev * 1000000 // GREATEST(len_a, len_b, 1) <= $EditTauPpm""".stripMargin
  }

  def winnowingSql(): String = {
    val allGrams =
      """CASE WHEN len(toks) >= 3
        |  THEN list_transform(range(1, len(toks) - 1),
        |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |  ELSE [] END""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, $allGrams AS grams FROM t
       |), pg AS (
       |  SELECT doc_id, CAST(len(grams) AS BIGINT) AS m,
       |    UNNEST(list_transform(range(1, len(grams) + 1),
       |      i -> {'pos': i - 1, 'gram': grams[i]})) AS e
       |  FROM g
       |), h AS (
       |  SELECT doc_id, m, CAST(e.pos AS BIGINT) AS pos,
       |    (${Portable.hash60Sql("e.gram")} % $HashMod) * $PosMod
       |      + (${PosMod - 1} - e.pos) AS key
       |  FROM pg
       |), w AS (
       |  SELECT doc_id, m, pos,
       |    MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${Win - 1} FOLLOWING) AS mk
       |  FROM h
       |)
       |SELECT DISTINCT doc_id,
       |  CAST(${PosMod - 1} - (mk % $PosMod) AS BIGINT) AS fp_pos,
       |  CAST(mk // $PosMod AS BIGINT) AS fp_hash
       |FROM w WHERE pos <= m - $Win""".stripMargin
  }

  // ------------------------------------------------------------------
  // C38 — BM25 top-k
  // ------------------------------------------------------------------

  /** The fixed retrieval query (high-df corpus terms — the summed
    * score must be non-trivial on the synthetic vocabulary). */
  val Query: Seq[String] = Seq("hash", "join", "scan")

  def bm25TopK(spark: SparkSession, dir: String, k: Int = RetrieveK): DataFrame = {
    val base = Text.docTokens(spark, dir)
      .select(col("doc_id"), col("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val scal = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("t_toks"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(Query: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(scal))
      .withColumn("num",
        (lit(2L) * col("n_docs") - lit(2L) * col("df") + 1L) *
          lit(22L) * col("tf") * col("t_toks"))
      .withColumn("den",
        (lit(2L) * col("df") + 1L) *
          ((lit(10L) * col("tf") + 3L) * col("t_toks") +
            lit(9L) * col("dl") * col("n_docs")))
      .withColumn("s", col("num").cast("double") / col("den"))
    val sCols = Query.map(q =>
      coalesce(max(when(col("term") === q, col("s"))), lit(0.0d))
        .as(s"s_$q"))
    val pivoted = scored.groupBy(col("doc_id"), col("dl"))
      .agg(sCols.head, sCols.tail: _*)
    val score = Query.map(q => s"s_$q").mkString(" + ")
    // Distributed top-k: orderBy+limit plans TakeOrderedAndProject
    // (per-partition partial top-k, then a k-row merge) instead of
    // dragging every scored doc through one unpartitioned window task.
    // rank is re-derived over the <=k surviving rows, where a global
    // window is a bounded frame, not a corpus-scale one.
    pivoted
      .withColumn("score", expr(score))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        graft.util.Windows.bounded(col("score").desc, col("doc_id"))).cast("long"))
      .select(Seq(col("doc_id"), col("dl")) ++
        Query.map(q => col(s"s_$q")) ++
        Seq(col("score"), col("rank")): _*)
  }

  def bm25TopKSql(k: Int = RetrieveK): String = {
    val inList = Query.map(q => s"'$q'").mkString(", ")
    val sCols = Query.map(q =>
      s"COALESCE(MAX(CASE WHEN term = '$q' THEN s END), 0.0) AS s_$q")
      .mkString(",\n       |    ")
    val score = Query.map(q => s"s_$q").mkString(" + ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(len(${Text.tokensSql("text")}) AS BIGINT) AS dl,
       |    ${Text.tokensSql("text")} AS toks
       |  FROM documents
       |), scal AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS t_toks FROM base
       |), tf AS (
       |  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, UNNEST(toks) AS term FROM base)
       |  WHERE term IN ($inList)
       |  GROUP BY doc_id, dl, term
       |), dfq AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
       |), scored AS (
       |  SELECT tf.doc_id, tf.dl, tf.term,
       |    CAST((2 * n_docs - 2 * df + 1) * 22 * tf.tf * t_toks AS DOUBLE)
       |      / ((2 * df + 1) * ((10 * tf.tf + 3) * t_toks
       |          + 9 * tf.dl * n_docs)) AS s
       |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN scal
       |), pivoted AS (
       |  SELECT doc_id, dl,
       |    $sCols
       |  FROM scored GROUP BY doc_id, dl
       |)
       |SELECT * FROM (
       |  SELECT doc_id, dl, ${Query.map(q => s"s_$q").mkString(", ")},
       |    $score AS score,
       |    CAST(ROW_NUMBER() OVER (ORDER BY $score DESC, doc_id)
       |      AS BIGINT) AS rank
       |  FROM pivoted
       |) WHERE rank <= $k""".stripMargin
  }

  // ------------------------------------------------------------------
  // C48 — hybrid retrieval (reciprocal-rank fusion)
  // ------------------------------------------------------------------

  /** C48 — hybrid sparse+dense retrieval fused by Reciprocal Rank
    * Fusion (Cormack, Clarke, Buettcher, SIGIR 2009): the standard
    * production-RAG shape — run BM25 (C38) and dense cosine top-k
    * over the same corpus, then fuse per-document by
    * RRF(d) = Σ_arms 1/(κ + rank_arm(d)), κ = 60.
    *
    * Integer-exact fusion: each arm contributes
    * 1000000 div (κ + rank) micro-units (positive truncating division
    * — identical in both engines), so the fused score is a BIGINT and
    * the oracle hash is stable. A document missing from an arm (docs
    * without embeddings, or outside that arm's top-k) contributes 0
    * and reports rank −1, the repo's sentinel convention. Documents
    * and embeddings are linked by id (vec_id embeds doc_id's text) —
    * the dense arm covers the embedded subset, exactly the
    * partial-coverage reality RRF is built for.
    *
    * Scale shape: both arms end in a distributed top-k
    * (TakeOrderedAndProject via orderBy+limit — the C38 discipline,
    * never a corpus-scale global window); everything after the limits
    * is a ≤2·kArm-row frame, so the full-outer fusion join and the
    * final re-rank window are bounded by construction. */
  def hybridRrfTopK(spark: SparkSession, dir: String,
                    kArm: Int = RrfKArm): DataFrame = {
    val sparse = bm25TopK(spark, dir, kArm)
      .select(col("doc_id"), col("rank").as("sparse_rank"))
    val c = Similarity.corpus(spark, dir)
    val q = c.filter(col("vec_id") === QueryVec)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val dense = c.filter(col("vec_id") =!= QueryVec)
      .join(broadcast(q))
      .withColumn("cosine",
        round(Similarity.dot("qv", "v") / (col("qn") * col("nrm")), 4))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(kArm)
      .withColumn("dense_rank", row_number().over(
        graft.util.Windows.bounded(col("cosine").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("sparse_rank"), lit(-1L)).as("sparse_rank"),
        coalesce(col("dense_rank"), lit(-1L)).as("dense_rank"),
        (coalesce(expr(s"1000000L div (${RrfK}L + sparse_rank)"), lit(0L)) +
          coalesce(expr(s"1000000L div (${RrfK}L + dense_rank)"), lit(0L)))
          .as("rrf_u"))
      .orderBy(col("rrf_u").desc, col("doc_id"))
      .limit(RetrieveK)
      .withColumn("rank", row_number().over(
        graft.util.Windows.bounded(col("rrf_u").desc, col("doc_id"))).cast("long"))
  }

  def hybridRrfTopKSql(): String = {
    val bm25 = bm25TopKSql(RrfKArm)
      .linesIterator.map("    " + _).mkString("\n")
    s"""WITH ${Similarity.corpusSql},
       |q AS (SELECT v AS qv, nrm AS qn FROM c WHERE vec_id = $QueryVec),
       |dscore AS (
       |  SELECT c.vec_id,
       |    ROUND((${Similarity.dotSql("c.v", "qv")}) / (c.nrm * qn), 4)
       |      AS cosine
       |  FROM c CROSS JOIN q WHERE c.vec_id <> $QueryVec
       |),
       |dense AS (
       |  SELECT vec_id AS doc_id, rnk AS dense_rank FROM (
       |    SELECT vec_id, cosine,
       |      CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id)
       |        AS BIGINT) AS rnk
       |    FROM dscore
       |  ) WHERE rnk <= $RrfKArm
       |),
       |sparse AS (
       |  SELECT doc_id, rank AS sparse_rank FROM (
       |$bm25
       |  ) s
       |),
       |fused AS (
       |  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
       |    CAST(COALESCE(s.sparse_rank, -1) AS BIGINT) AS sparse_rank,
       |    CAST(COALESCE(d.dense_rank, -1) AS BIGINT) AS dense_rank,
       |    CAST(COALESCE(1000000 // ($RrfK + s.sparse_rank), 0)
       |      + COALESCE(1000000 // ($RrfK + d.dense_rank), 0) AS BIGINT)
       |      AS rrf_u
       |  FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
       |)
       |SELECT doc_id, sparse_rank, dense_rank, rrf_u, rank FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rrf_u DESC, doc_id)
       |    AS BIGINT) AS rank
       |  FROM fused
       |) WHERE rank <= $RetrieveK""".stripMargin
  }

  // ------------------------------------------------------------------
  // C68 — removal spans projected to character offsets
  // ------------------------------------------------------------------

  /** C68 — the executable cut list: C59 marks removal spans in TOKEN
    * space, but the pass that actually cuts operates on the stored
    * text — so each span is projected to character offsets through
    * the token→char map (C55's arithmetic: token i of the normalized
    * text starts after Σ(len+1) of its predecessors). char_start =
    * first token's start, char_end = last token's end; the contract
    * is SELF-CHECKING the C55 way — `verified` re-extracts
    * substring(norm, char_start+1, span_chars) in BOTH engines and
    * re-tokenizes it, asserting exactly span_tokens tokens whose
    * join equals the extract — an off-by-one here silently corrupts
    * every cut downstream, which is why it fails the oracle hash
    * loudly instead. Plan: C59's span frame + two (doc, token_idx)
    * equi-joins against the offsets stream + one doc-keyed norm
    * join — all doc-keyed, nothing new at scale. */
  def dedupSpanChars(spark: SparkSession, dir: String): DataFrame = {
    val spans = substringSpansCached(spark, dir)
      .select(col("doc_id"), col("span_seq"), col("tok_start"), col("tok_end"))
    val offs = graft.ops.TextAnalysis.tokenOffsets(spark, dir)
      .select(col("doc_id"), col("token_idx"), col("char_start"),
        col("char_end"))
    val norms = docs(spark, dir)
      .select(col("doc_id"), Text.norm(col("text")).as("norm"))
    spans
      .join(offs.select(col("doc_id"), col("token_idx").as("tok_start"),
        col("char_start")), Seq("doc_id", "tok_start"))
      .join(offs.select(col("doc_id"),
        (col("token_idx") + 1L).as("tok_end"),
        col("char_end")), Seq("doc_id", "tok_end"))
      .join(norms, "doc_id")
      .withColumn("span_chars", col("char_end") - col("char_start"))
      .withColumn("extract", expr(
        "substring(norm, CAST(char_start + 1 AS INT), CAST(span_chars AS INT))"))
      // verified checks BOTH halves of the contract in-engine (the C55
      // discipline): the re-extract tokenizes to exactly span_tokens
      // tokens AND equals the join of the span's own token slice — a
      // projection shifted one char at both ends preserves the count
      // but not the join, so the equality half is load-bearing.
      .withColumn("span_join", expr(
        "array_join(slice(split(norm, ' '), CAST(tok_start + 1 AS INT), " +
          "CAST(tok_end - tok_start AS INT)), ' ')"))
      .select(col("doc_id"), col("span_seq"), col("tok_start"), col("tok_end"),
        col("char_start"), col("char_end"), col("span_chars"),
        (size(split(col("extract"), " ")).cast("long") ===
          col("tok_end") - col("tok_start") &&
          col("extract") === col("span_join")).cast("long").as("verified"))
  }

  def dedupSpanCharsSql(): String = {
    val spans = dedupSubstringSpansSql()
      .linesIterator.map("    " + _).mkString("\n")
    val offs = graft.ops.TextAnalysis.tokenOffsetsSql
      .linesIterator.map("    " + _).mkString("\n")
    s"""WITH spans AS (
       |$spans
       |), offs AS (
       |$offs
       |), norms AS (
       |  SELECT doc_id, ${Text.normSql("text")} AS norm FROM documents
       |)
       |SELECT s.doc_id, s.span_seq, s.tok_start, s.tok_end,
       |  a.char_start, b.char_end,
       |  b.char_end - a.char_start AS span_chars,
       |  CAST(len(string_split(substring(n.norm,
       |      CAST(a.char_start + 1 AS INT),
       |      CAST(b.char_end - a.char_start AS INT)), ' '))
       |    = s.tok_end - s.tok_start
       |    AND substring(n.norm, CAST(a.char_start + 1 AS INT),
       |      CAST(b.char_end - a.char_start AS INT))
       |    = array_to_string(list_slice(string_split(n.norm, ' '),
       |      CAST(s.tok_start + 1 AS INT), CAST(s.tok_end AS INT)), ' ')
       |    AS BIGINT) AS verified
       |FROM spans s
       |JOIN offs a ON s.doc_id = a.doc_id AND s.tok_start = a.token_idx
       |JOIN offs b ON s.doc_id = b.doc_id AND s.tok_end = b.token_idx + 1
       |JOIN norms n ON s.doc_id = n.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // C69 — apply the cuts: rebuild deduplicated text
  // ------------------------------------------------------------------

  /** C69 — the cut applied: rebuild each document's text with its C59
    * removal spans excised — the step that turns the span ledger into
    * the corpus the next pipeline stage actually trains on. The kept
    * text is the join of the token-space COMPLEMENT intervals
    * (gaps-between-spans plus the head and tail), assembled per doc
    * from its sorted span array with one `aggregate` fold (spans per
    * doc are bounded — this is array surgery, not a shuffle); docs
    * with no spans pass through verbatim with `was_cut` 0, so the
    * output is a FULL corpus replacement, not a patch. Outputs carry
    * the before/after token counts, the cut ppm, and the portable
    * hash of the rebuilt text — the content key the next stage's C1
    * exact dedup consumes (cutting boilerplate routinely CREATES new
    * exact duplicates, which is why the hash is part of the
    * contract). One doc-keyed span collect + one doc-keyed join —
    * nothing beyond C59's own shapes. */
  def dedupCutApply(spark: SparkSession, dir: String): DataFrame = {
    val spans = substringSpansCached(spark, dir)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("tok_start"), col("tok_end"))))
        .as("spans"))
    Text.docTokens(spark, dir)
      .select(col("doc_id"), col("toks"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("n_before", size(col("toks")).cast("long"))
      .withColumn("kept_toks", when(col("spans").isNull, col("toks"))
        .otherwise(expr(
          // fold the sorted spans: carry (cursor, kept) — append the
          // gap before each span, skip the span, then the tail
          """aggregate(spans,
            |  named_struct('cur', 0L, 'kept', CAST(array() AS ARRAY<STRING>)),
            |  (acc, s) -> named_struct(
            |    'cur', s.tok_end,
            |    'kept', concat(acc.kept,
            |      slice(toks, CAST(acc.cur + 1 AS INT),
            |        CAST(s.tok_start - acc.cur AS INT)))),
            |  acc -> concat(acc.kept,
            |    slice(toks, CAST(acc.cur + 1 AS INT),
            |      CAST(size(toks) - acc.cur AS INT))))""".stripMargin)))
      .select(col("doc_id"), col("n_before"),
        size(col("kept_toks")).cast("long").as("n_after"),
        call_function("div",
          (col("n_before") - size(col("kept_toks")).cast("long"))
            .cast("decimal(38,0)") * lit(1000000L),
          col("n_before")).as("cut_ppm"),
        col("spans").isNotNull.cast("long").as("was_cut"),
        Portable.hash60(array_join(col("kept_toks"), " ")).as("text_hash"))
  }

  def dedupCutApplySql(): String = {
    val spans = dedupSubstringSpansSql()
      .linesIterator.map("    " + _).mkString("\n")
    s"""WITH spanrows AS (
       |$spans
       |), spanlist AS (
       |  SELECT doc_id,
       |    list_sort(list(
       |      {'tok_start': tok_start, 'tok_end': tok_end})) AS spans
       |  FROM spanrows GROUP BY 1
       |), t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), j AS (
       |  SELECT t.doc_id, t.toks, s.spans,
       |    CAST(len(t.toks) AS BIGINT) AS n_before,
       |    CASE WHEN s.spans IS NULL THEN t.toks
       |      ELSE list_concat(
       |        flatten(list_transform(range(1, len(s.spans) + 1),
       |          i -> t.toks[
       |            CAST(CASE WHEN i = 1 THEN 1
       |              ELSE s.spans[i - 1].tok_end + 1 END AS BIGINT) :
       |            CAST(s.spans[i].tok_start AS BIGINT)])),
       |        t.toks[CAST(s.spans[len(s.spans)].tok_end + 1 AS BIGINT) :
       |          CAST(len(t.toks) AS BIGINT)])
       |      END AS kept_toks
       |  FROM t LEFT JOIN spanlist s ON t.doc_id = s.doc_id
       |)
       |SELECT doc_id, n_before,
       |  CAST(len(kept_toks) AS BIGINT) AS n_after,
       |  CAST((n_before - len(kept_toks)) * 1000000 // n_before AS BIGINT)
       |    AS cut_ppm,
       |  CAST(spans IS NOT NULL AS BIGINT) AS was_cut,
       |  ${Portable.hash60Sql(
              // a fully-cut doc keeps ZERO tokens: DuckDB renders the
              // empty list as NULL where Spark renders '' — coalesce
              "COALESCE(array_to_string(kept_toks, ' '), '')")} AS text_hash
       |FROM j""".stripMargin
  }

  // ------------------------------------------------------------------
  // C66 — RAG context packing under a token budget
  // ------------------------------------------------------------------

  /** C66 — context assembly, the last step of every RAG pipeline (and
    * of retrieval-augmented pretraining batches): fit the fused
    * ranking (C48) into the model's context budget, in rank order —
    * full documents while they fit, the budget-crossing document
    * TRUNCATED to the remaining tokens, everything after it dropped.
    * The greedy fold has a closed form: with cum_before = the
    * cumulative full-doc tokens of all better-ranked docs,
    * take = clamp(budget − cum_before, 0, doc_tokens) — once the
    * budget is crossed every later doc reads take 0, so no sequential
    * state is needed (the reason this is a window, not an A92-style
    * fold). The ledger row per candidate (kept/truncated/dropped +
    * offsets) is what prompt-builder debugging actually reads. The
    * rank window is unpartitioned but bounded by the top-k contract
    * (≤ k rows after the broadcast semi-join) — never corpus-scale. */
  def ragContextPack(spark: SparkSession, dir: String,
                     budget: Long = RagBudget): DataFrame = {
    val ranked = hybridRrfTopK(spark, dir)
      .select(col("doc_id"), col("rank"))
    val toks = Text.docTokens(spark, dir)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("doc_tokens"))
    val before = graft.util.Windows.bounded(col("rank"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(broadcast(ranked), "doc_id")
      .withColumn("cum_before",
        coalesce(sum(col("doc_tokens")).over(before), lit(0L)))
      .withColumn("take_tokens", greatest(lit(0L),
        least(col("doc_tokens"), lit(budget) - col("cum_before"))))
      .select(col("rank"), col("doc_id"), col("doc_tokens"),
        col("cum_before"), col("take_tokens"),
        (col("cum_before") + col("take_tokens")).as("ctx_end"),
        when(col("take_tokens") === col("doc_tokens"), "full")
          .when(col("take_tokens") > 0L, "truncated")
          .otherwise("dropped").as("status"))
  }

  def ragContextPackSql(): String = {
    val ranked = hybridRrfTopKSql()
      .linesIterator.map("    " + _).mkString("\n")
    s"""WITH ranked AS (
       |$ranked
       |), toks AS (
       |  SELECT doc_id, CAST(len(${Text.tokensSql("text")}) AS BIGINT)
       |    AS doc_tokens
       |  FROM documents
       |), j AS (
       |  SELECT r.rank, r.doc_id, t.doc_tokens,
       |    CAST(COALESCE(SUM(t.doc_tokens) OVER (ORDER BY r.rank
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum_before
       |  FROM ranked r JOIN toks t ON r.doc_id = t.doc_id
       |)
       |SELECT rank, doc_id, doc_tokens, cum_before,
       |  GREATEST(0, LEAST(doc_tokens, $RagBudget - cum_before)) AS take_tokens,
       |  cum_before + GREATEST(0, LEAST(doc_tokens, $RagBudget - cum_before))
       |    AS ctx_end,
       |  CASE
       |    WHEN GREATEST(0, LEAST(doc_tokens, $RagBudget - cum_before))
       |      = doc_tokens THEN 'full'
       |    WHEN GREATEST(0, LEAST(doc_tokens, $RagBudget - cum_before)) > 0
       |      THEN 'truncated'
       |    ELSE 'dropped' END AS status
       |FROM j""".stripMargin
  }

  // ------------------------------------------------------------------
  // C59 — cross-document repeated-substring span marking
  // ------------------------------------------------------------------

  /** C59 — the SPAN-level arm of the dedup family (C1/C2/C53 keep or
    * drop whole documents; production corpora instead CUT the shared
    * boilerplate passage and keep the unique remainder — the
    * "deduplicating training data" ExactSubstr discipline, applied at
    * the word-k-gram grain): a token position is duplicated when the
    * k-gram starting there also appears in ANOTHER document, and
    * maximal runs of duplicated positions merge into removal spans
    * (overlap or touch ⇒ one span — each span is a contiguous token
    * interval whose every k-window is shared). Cross-doc only by
    * construction (document frequency ≥ 2 on distinct doc sets);
    * intra-doc repetition is C14's arm. Plan: one corpus gram explode,
    * df via distinct+partial-agg groupBy on the 60-bit gram key, one
    * equi-join back, then per-DOC windows (per-key small at any corpus
    * size) for the island merge — nothing global, nothing quadratic.
    * Output: one row per removal span with the doc's totals — exactly
    * what a cut pass downstream consumes. */
  def dedupSubstringSpans(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringSpansFrom(Text.docTokens(spark, dir))

  /** The C59 span ledger, kept per (session, documents, k) by
    * [[Tables.checkpointed]]: C68 (char projection) and C69 (cut
    * apply), the two downstream stages of the cut pipeline, consume it.
    * `dedup_substring_spans` itself recomputes from the parquet inputs. */
  private[graft] def substringSpansCached(spark: SparkSession, dir: String): DataFrame =
    Tables.checkpointed(spark, "spans", dir, "documents", ())(
      dedupSubstringSpans(spark, dir).localCheckpoint())

  /** Positioned 60-bit gram-hash occurrences of a documents frame
    * (shared by C59 and its streaming twin's static-index builder). */
  private[graft] def substringOcc(docsFrame: DataFrame, k: Int = SubstrK): DataFrame =
    Text.withToks(docsFrame)
      .select(col("doc_id"), col("toks"))
      .withColumn("doc_tokens", size(col("toks")).cast("long"))
      .withColumn("grams",
        call_function("graft_word_ngrams_all", col("toks"), lit(k)))
      .select(col("doc_id"), col("doc_tokens"),
        posexplode(col("grams")).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("doc_tokens"), col("pos").cast("long").as("pos"),
        Portable.hash60(col("gram")).as("gh"))

  /** The cross-document duplicated-gram set (df ≥ 2) — the published
    * index C59s marks arriving documents against, and the index branch
    * of the batch C59 below (ONE definition for both consumers, in the
    * single-exchange countDistinct form: map-side (gh, doc_id) dedup
    * inside the partial aggregate, one hash(gh) shuffle). */
  private[graft] def dupGramSet(docsFrame: DataFrame): DataFrame =
    dupGramSetFromOcc(substringOcc(docsFrame))

  private def dupGramSetFromOcc(occ: DataFrame): DataFrame =
    occ
      .groupBy(col("gh")).agg(countDistinct(col("doc_id")).as("gdf"))
      .filter(col("gdf") >= 2L)
      .select(col("gh"))

  private[graft] def dedupSubstringSpansFrom(docsFrame: DataFrame,
                                             k: Int = SubstrK): DataFrame = {
    // The df>=2 index branch used to run distinct-on-(gh, doc_id)
    // [Exchange hash(gh, doc_id)] and THEN groupBy(gh) [Exchange
    // hash(gh)] — two corpus-scale exchanges where one suffices: the
    // count-DISTINCT formulation dedups (gh, doc_id) map-side inside
    // the partial aggregate and shuffles once on hash(gh) (guide §2.4).
    // The occurrence pass itself still computes once per branch: an
    // eager localCheckpoint of the corpus-scale occ frame was measured
    // SLOWER at the bench tiers than the recompute it saved, and
    // exchange reuse cannot merge the branches (the index branch's
    // exchange carries partial-agg rows, the join branch's carries raw
    // occurrences).
    val occ = substringOcc(docsFrame, k)
    val dupGrams = dupGramSetFromOcc(occ)
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = occ.join(dupGrams, "gh")
      .select(col("doc_id"), col("doc_tokens"), col("pos"))
      .withColumn("prev_end", max(col("pos") + k.toLong)
        .over(byPos.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk", when(col("prev_end").isNull ||
        col("pos") > col("prev_end"), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk"))
        .over(byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("doc_tokens"), col("island"))
      .agg(min(col("pos")).as("tok_start"),
        (max(col("pos")) + k.toLong).as("tok_end"))
    spans
      .withColumn("span_seq", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("tok_start"))).cast("long"))
      .withColumn("dup_tokens", sum(col("tok_end") - col("tok_start"))
        .over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("span_seq"), col("tok_start"),
        col("tok_end"), (col("tok_end") - col("tok_start")).as("span_tokens"),
        col("doc_tokens"),
        call_function("div", col("dup_tokens").cast("decimal(38,0)")
          * lit(1000000L), col("doc_tokens")).as("dup_ppm"))
  }

  def dedupSubstringSpansSql(): String = {
    val gramChain = "toks[i]" +
      (1 until SubstrK).map(j => s" || ' ' || toks[i+$j]").mkString
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS doc_tokens,
       |    CASE WHEN len(toks) >= $SubstrK
       |      THEN list_transform(range(1, len(toks) - ${SubstrK - 2}),
       |           i -> $gramChain)
       |      ELSE [] END AS grams
       |  FROM t
       |), occ AS (
       |  SELECT doc_id, doc_tokens,
       |    CAST(e.pos AS BIGINT) AS pos, ${Portable.hash60Sql("e.gram")} AS gh
       |  FROM (
       |    SELECT doc_id, doc_tokens,
       |      UNNEST(list_transform(range(1, len(grams) + 1),
       |        i -> {'pos': i - 1, 'gram': grams[i]})) AS e
       |    FROM g)
       |), dup AS (
       |  SELECT gh FROM (
       |    SELECT gh, COUNT(*) AS gdf
       |    FROM (SELECT DISTINCT gh, doc_id FROM occ) GROUP BY 1)
       |  WHERE gdf >= 2
       |), marked AS (
       |  SELECT o.doc_id, o.doc_tokens, o.pos,
       |    MAX(o.pos + $SubstrK) OVER (PARTITION BY o.doc_id ORDER BY o.pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM occ o JOIN dup USING (gh)
       |), islands AS (
       |  SELECT doc_id, doc_tokens, pos,
       |    SUM(CASE WHEN prev_end IS NULL OR pos > prev_end
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM marked
       |), spans AS (
       |  SELECT doc_id, doc_tokens, island,
       |    MIN(pos) AS tok_start, MAX(pos) + $SubstrK AS tok_end
       |  FROM islands GROUP BY 1, 2, 3
       |)
       |SELECT doc_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tok_start)
       |    AS BIGINT) AS span_seq,
       |  tok_start, tok_end, tok_end - tok_start AS span_tokens,
       |  doc_tokens,
       |  CAST(SUM(tok_end - tok_start) OVER (PARTITION BY doc_id)
       |    * 1000000 // doc_tokens AS BIGINT) AS dup_ppm
       |FROM spans""".stripMargin
  }
}
