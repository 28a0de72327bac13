package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Portable
import graft.util.Tables

/** Document deduplication for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design: exact dedup is one hash aggregation (map-side
  * combine). The near-dup operators never form a cross product — LSH
  * banding bounds candidate generation to same-bucket pairs, and the
  * exact-Jaccard operator blocks by language. Signature computation is
  * pure higher-order array expressions (no UDFs, no shuffle until the
  * bucket join).
  */
object Dedup {

  /** C1 — exact dedup on normalized text: one row per distinct
    * fingerprint with the survivor (min doc_id) and multiplicity. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(Text.norm(col("text")).cast("binary")).as("fingerprint"), col("doc_id"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  val exactSql: String =
    s"""SELECT md5(${Text.normSql("text")}) AS fingerprint,
       |  MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
       |FROM documents
       |GROUP BY 1""".stripMargin

  /** C4 — exact word-3-gram Jaccard near-dup pairs within language
    * blocks, via prefix filtering (the PPJoin candidate principle —
    * public set-similarity-join literature): a pair with J ≥ τ must
    * share ≥ ⌈τ·|x|⌉ grams, so it must share at least one gram among
    * each doc's first `|x| − ⌈τ·|x|⌉ + 1` grams under ANY global order.
    * Ordering grams by (document frequency asc, gram) makes those
    * prefix grams the RAREST ones, so the inverted-index self-join
    * fans out on low-frequency keys only — no all-pairs block join,
    * no quadratic blowup on block size. Candidates then verify with
    * the exact Jaccard, so the result is IDENTICAL to the naive
    * all-pairs definition (100% recall by the prefix lemma) and the
    * all-pairs DuckDB oracle checks it directly. */
  def ngramJaccard(spark: SparkSession, dir: String, tau: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = gramFrame(spark, dir)
    val ex = g.select(col("doc_id"), col("lang"), size(col("grams")).as("sz"),
      explode(col("grams")).as("gram"))
    val freq = ex.groupBy(col("lang"), col("gram")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gram"))
    // prefix length also gets the ε slack (below): CEIL(τ·sz) on an
    // FP-inflated product (0.8·5 → 4.0000000000000004) would shorten
    // the prefix by one and turn the 'lossless' candidate generation
    // lossy for non-default τ.
    val prefix = ex.join(freq, Seq("lang", "gram"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(lit(tau) * col("sz") - lit(1e-9)) + lit(1L))
      .select(col("lang"), col("gram"), col("doc_id"), col("sz"), col("rn"))
    // two more lossless prunes on the inverted-index join (PPJoin):
    // - length filter: J ≥ τ forces min(|a|,|b|) ≥ τ·max(|a|,|b|);
    // - positional filter: a shared gram at prefix positions (i, j)
    //   bounds the total overlap by 1 + min(|a|−i, |b|−j), which must
    //   reach ⌈τ/(1+τ)·(|a|+|b|)⌉ for J ≥ τ. Both are row-local join
    //   predicates — pruned pairs never reach the exact verify.
    // The ε slack keeps the prunes lossless for τ values that aren't
    // exactly representable as doubles (e.g. 0.8·5 → 4.0000000000000004
    // would otherwise reject an exactly-qualifying |a|=4,|b|=5 pair);
    // integer sz spacing means ε can never admit a truly failing pair.
    val eps = 1e-9
    val overlapNeeded = ceil(lit(tau / (1 + tau)) * (col("a.sz") + col("b.sz")) - lit(eps))
    val overlapBound = lit(1L) +
      least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn"))
    val cand = prefix.as("a").join(prefix.as("b"), Seq("lang", "gram"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        col("b.sz") * lit(tau) <= col("a.sz") + lit(eps) &&
        col("a.sz") * lit(tau) <= col("b.sz") + lit(eps) &&
        overlapBound >= overlapNeeded)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(g.select(col("doc_id").as("doc_a"), col("grams").as("ga")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("double"))
      // filter on the UNROUNDED Jaccard (round only the output):
      // candidate generation is complete for exact J ≥ τ, so accepting
      // ROUND(J,4) ≥ τ could admit a pair with J ∈ [τ−5e-5, τ) that
      // the positional prune legitimately dropped — a false oracle red
      // once gram sets reach ~10k. Both engines divide the same
      // integers in IEEE double, so the unrounded filter agrees
      // bit-for-bit.
      .withColumn("jac_raw",
        col("inter") / (size(col("ga")) + size(col("gb")) - col("inter")))
      .filter(col("jac_raw") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("jac_raw"), 4).as("jaccard"))
  }

  /** Oracle for C4. The first cut was the naive all-pairs block join —
    * the literal Jaccard definition — but at docs10 the lang-block
    * cross product ground >35 min in DuckDB. This rendering mirrors
    * the lossless prefix-filter candidate generation (the same
    * published PPJoin lemma the Spark side uses, the C2/C5
    * oracle-mirrors-candidate-generation precedent): candidates are a
    * provable superset of all pairs with J ≥ τ, and every candidate is
    * verified with the EXACT Jaccard — so the result is identical to
    * the all-pairs definition while the oracle stays affordable at
    * dense tiers. Ground truth remains the exact verify, not the
    * filter. (Only the prefix + length prunes are mirrored; the
    * positional prune is Spark-side-only — a candidate superset keeps
    * the oracle lossless.) */
  def ngramJaccardSql(tau: Double = 0.5): String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, ${Text.tokensSql("text")} AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, lang, ${Text.gramsSql} AS grams FROM t
       |), gg AS (SELECT * FROM g WHERE len(grams) > 0),
       |ex AS (
       |  SELECT doc_id, lang, len(grams) AS sz, unnest(grams) AS gram FROM gg
       |), freq AS (
       |  SELECT lang, gram, COUNT(*) AS df FROM ex GROUP BY 1, 2
       |), pref AS (
       |  SELECT ex.lang, ex.gram, ex.doc_id, ex.sz
       |  FROM ex JOIN freq ON ex.lang = freq.lang AND ex.gram = freq.gram
       |  QUALIFY row_number() OVER (PARTITION BY ex.doc_id ORDER BY freq.df, ex.gram)
       |    <= ex.sz - CEIL($tau * ex.sz - 1e-9) + 1
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pref a JOIN pref b
       |    ON a.lang = b.lang AND a.gram = b.gram AND a.doc_id < b.doc_id
       |  WHERE b.sz * $tau <= a.sz + 1e-9 AND a.sz * $tau <= b.sz + 1e-9
       |)
       |SELECT c.doc_a, c.doc_b,
       |  ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE /
       |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 4) AS jaccard
       |FROM cand c
       |JOIN gg a ON a.doc_id = c.doc_a
       |JOIN gg b ON b.doc_id = c.doc_b
       |WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
       |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= $tau""".stripMargin

  /** MinHash permutation constants: universal hashing
    * `(a_p * h + b_p) mod P` over the Mersenne prime P = 2^31 - 1.
    * Pure 64-bit-safe arithmetic (operands < 2^31, products < 2^62) so
    * the identical permutation is computable in any engine — no
    * engine-specific hash function in the signature. */
  private val MersenneP = 2147483647L
  private def permA(p: Int): Long = ((2L * p + 1L) * 1000003L) % MersenneP
  private def permB(p: Int): Long = (p.toLong * 7919L + 104729L) % MersenneP

  /** C2 — MinHash + LSH near-dup pairs.
    *
    * ZERO-shuffle banding: the gram array is already per-document, so
    * the whole signature — 128 `min((a_p·hash60(gram)+b_p) mod P)`
    * permutation minima — is a row-local computation, fused into ONE
    * native pass per doc (graft.functions.MinhashBandKeys; one md5
    * per gram, all permutations in the inner loop). The rounds-1-8
    * shape exploded grams and ran a 128-min groupBy — a corpus-scale
    * shuffle of every (doc, gram-hash) pair that the row-local form
    * simply deletes. 16 bands of 8 form the bucket keys; same-bucket
    * pairs dedupe and verify with exact Jaccard over the persisted
    * gram arrays — candidates only, never a cross product. Signature
    * and banding are engine-portable, so a generated DuckDB oracle
    * checks the full pipeline ([[minhashLshSql]]). */
  def minhashLsh(spark: SparkSession, dir: String,
                 perms: Int = 128, bands: Int = 16, tau: Double = 0.5): DataFrame = {
    val docs = gramFrame(spark, dir)
    val banded = docs
      .select(col("doc_id"),
        posexplode(graft.functions.VectorExprs.minhashBands(col("grams"),
          perms, bands)).as(Seq("band_id", "band_key")))
      .localCheckpoint()
    val cand = banded.as("x").join(banded.as("y"), Seq("band_id", "band_key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("grams").as("ga")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
      // lossless length prune before the expensive intersection:
      // J ≥ τ forces min(|a|,|b|) ≥ τ·max(|a|,|b|); ε covers τ values
      // not exactly representable as doubles (integer sizes mean ε can
      // never admit a truly failing pair)
      .filter(size(col("gb")) * lit(tau) <= size(col("ga")) + lit(1e-9) &&
        size(col("ga")) * lit(tau) <= size(col("gb")) + lit(1e-9))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (size(col("ga")) + size(col("gb")) - col("inter")), 4))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** DuckDB oracle reproducing [[minhashLsh]] exactly (same portable
    * gram hashes, permutations, band keys, and Jaccard verify). */
  def minhashLshSql(perms: Int = 128, bands: Int = 16, tau: Double = 0.5): String = {
    val rows = perms / bands
    val minCols = (0 until perms)
      .map(p => s"MIN((h * ${permA(p)} + ${permB(p)}) % $MersenneP) AS m$p")
      .mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until rows).map(r => s"m${b * rows + r}").mkString(", ',', ")
      s"SELECT doc_id, $b AS band_id, CONCAT($key) AS band_key FROM s"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $gramFrameSql,
       |e AS (SELECT doc_id, unnest(grams) AS gram FROM gg),
       |h AS (SELECT doc_id, ${Portable.hash60Sql("gram")} % $MersenneP AS h FROM e),
       |s AS (SELECT doc_id,
       |    $minCols
       |  FROM h GROUP BY doc_id),
       |b AS (
       |  $bandSelects
       |),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM b x JOIN b y ON x.band_id = y.band_id AND x.band_key = y.band_key
       |    AND x.doc_id < y.doc_id),
       |j AS (SELECT cand.doc_a, cand.doc_b,
       |    CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) AS inter,
       |    len(ga.grams) AS la, len(gb.grams) AS lb
       |  FROM cand
       |  JOIN gg ga ON ga.doc_id = cand.doc_a
       |  JOIN gg gb ON gb.doc_id = cand.doc_b)
       |SELECT doc_a, doc_b, ROUND(inter / (la + lb - inter), 4) AS jaccard
       |FROM j WHERE ROUND(inter / (la + lb - inter), 4) >= $tau""".stripMargin
  }

  // ---------------------------------------------------------------- C79

  /** 1 in IncrementalBatchMod docs belong to TONIGHT'S BATCH; the rest
    * are the all-time indexed corpus. */
  val IncrementalBatchMod = 4L

  private[graft] def isIncrementalBatch(docId: Column): Column =
    pmod(Portable.hash60(concat(lit("inc:"), docId.cast("string"))),
      lit(IncrementalBatchMod)) === 0L

  private[ops] def isIncrementalBatchSql(docIdExpr: String): String =
    s"(${Portable.hash60Sql(s"'inc:' || CAST($docIdExpr AS VARCHAR)")}" +
      s" % $IncrementalBatchMod) = 0"

  /** C79 — INCREMENTAL dedup: tonight's crawl batch probed against the
    * all-time corpus INDEX — the production dedup shape (a pipeline
    * never re-deduplicates 100 TB against itself; it dedups the new
    * 0.1% against a published band index). The corpus side is the C2
    * LSH index (per-doc band keys — in production precomputed once and
    * appended nightly); batch docs compute the SAME signatures and
    * probe by (band_id, band_key); candidates verify exact Jaccard
    * over the gram arrays. Per batch doc: its candidate count, the
    * best match (highest Jaccard, smallest corpus doc on ties —
    * deterministic), and the verdict — exact_dup (gram SETS equal:
    * inter = union, integer-exact, not a rounded-1.0 artifact),
    * near_dup (J ≥ τ), keep.
    *
    * Scale shape vs C2: the probe join is ASYMMETRIC — the batch side
    * is batch-sized (1/[[IncrementalBatchMod]] here; 0.1% in
    * production), so the shuffle-join against the pre-bucketed index
    * moves the batch, not the corpus; the verify joins gram arrays for
    * candidates only. Signature computation stays the one-shuffle
    * map-side-combined C2 pass. */
  def dedupIncremental(spark: SparkSession, dir: String,
                       perms: Int = 128, bands: Int = 16,
                       tau: Double = 0.5): DataFrame =
    dedupIncrementalFrom(gramFrame(spark, dir), perms, bands, tau)

  /** [[dedupIncremental]] over any (doc_id, grams) frame — the spec
    * drives it with a corpus containing exact cross-split duplicates
    * so the exact_dup arm (absent in the synthetic tables) is
    * exercised. */
  private[graft] def dedupIncrementalFrom(docs: DataFrame,
                                          perms: Int = 128, bands: Int = 16,
                                          tau: Double = 0.5): DataFrame = {
    val banded = docs
      .select(col("doc_id"),
        posexplode(graft.functions.VectorExprs.minhashBands(col("grams"),
          perms, bands)).as(Seq("band_id", "band_key")))
      .withColumn("is_batch", isIncrementalBatch(col("doc_id")))
      .localCheckpoint()
    val probe = banded.filter(col("is_batch"))
      .select(col("doc_id").as("bid"), col("band_id"), col("band_key"))
    val idx = banded.filter(!col("is_batch"))
      .select(col("doc_id").as("cid"), col("band_id"), col("band_key"))
    val cand = probe.join(idx, Seq("band_id", "band_key"))
      .select(col("bid"), col("cid")).distinct()
    val verified = cand
      .join(docs.select(col("doc_id").as("bid"), col("grams").as("gb")), "bid")
      .join(docs.select(col("doc_id").as("cid"), col("grams").as("gc")), "cid")
      .withColumn("inter", size(array_intersect(col("gb"), col("gc"))).cast("long"))
      .withColumn("uni",
        size(col("gb")).cast("long") + size(col("gc")) - col("inter"))
      .withColumn("j_ppm", expr("CAST(ROUND(inter * 1000000.0 / uni, 0) AS BIGINT)"))
      .withColumn("is_exact", when(col("inter") === col("uni"), 1L).otherwise(0L))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bid"))
    val best = verified
      .withColumn("n_candidates", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("j_ppm").desc, col("cid"))))
      .filter(col("rn") === 1)
      .select(col("bid"), col("n_candidates"), col("cid").as("best_match"),
        col("j_ppm").as("best_j_ppm"), col("is_exact"))
    docs.filter(isIncrementalBatch(col("doc_id")))
      .select(col("doc_id").as("bid"))
      .join(best, Seq("bid"), "left")
      .select(col("bid").as("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("best_match"), lit(-1L)).as("best_match"),
        coalesce(col("best_j_ppm"), lit(-1L)).as("best_j_ppm"),
        when(col("is_exact") === 1L, "exact_dup")
          .when(col("best_j_ppm") >= math.round(tau * 1e6), "near_dup")
          .otherwise("keep").as("verdict"))
  }

  /** The published band INDEX of the corpus side — (cid, band_id,
    * band_key); in production written once and appended nightly. The
    * C79s stream twin probes it as a STATIC frame. */
  private[graft] def incrementalIndex(spark: SparkSession, dir: String,
                                      perms: Int = 128,
                                      bands: Int = 16): DataFrame =
    gramFrame(spark, dir)
      .filter(!isIncrementalBatch(col("doc_id")))
      .select(col("doc_id").as("cid"),
        posexplode(graft.functions.VectorExprs.minhashBands(col("grams"),
          perms, bands)).as(Seq("band_id", "band_key")))

  /** The corpus-side gram store (cid, gc) the verify step reads. */
  private[graft] def corpusGramStore(spark: SparkSession, dir: String): DataFrame =
    gramFrame(spark, dir)
      .filter(!isIncrementalBatch(col("doc_id")))
      .select(col("doc_id").as("cid"), col("grams").as("gc"))

  def dedupIncrementalSql(perms: Int = 128, bands: Int = 16,
                          tau: Double = 0.5): String = {
    val rows = perms / bands
    val minCols = (0 until perms)
      .map(p => s"MIN((h * ${permA(p)} + ${permB(p)}) % $MersenneP) AS m$p")
      .mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until rows).map(r => s"m${b * rows + r}").mkString(", ',', ")
      s"SELECT doc_id, $b AS band_id, CONCAT($key) AS band_key FROM s"
    }.mkString("\n  UNION ALL\n  ")
    val isBatch = isIncrementalBatchSql("doc_id")
    s"""WITH $gramFrameSql,
       |e AS (SELECT doc_id, unnest(grams) AS gram FROM gg),
       |h AS (SELECT doc_id, ${Portable.hash60Sql("gram")} % $MersenneP AS h FROM e),
       |s AS (SELECT doc_id,
       |    $minCols
       |  FROM h GROUP BY doc_id),
       |b AS (
       |  $bandSelects
       |),
       |probe AS (SELECT doc_id AS bid, band_id, band_key FROM b
       |  WHERE $isBatch),
       |idx AS (SELECT doc_id AS cid, band_id, band_key FROM b
       |  WHERE NOT ($isBatch)),
       |cand AS (SELECT DISTINCT p.bid, i.cid
       |  FROM probe p JOIN idx i
       |    ON p.band_id = i.band_id AND p.band_key = i.band_key),
       |v AS (SELECT cand.bid, cand.cid,
       |    CAST(len(list_intersect(gb.grams, gc.grams)) AS BIGINT) AS inter,
       |    CAST(len(gb.grams) + len(gc.grams)
       |      - len(list_intersect(gb.grams, gc.grams)) AS BIGINT) AS uni
       |  FROM cand
       |  JOIN gg gb ON gb.doc_id = cand.bid
       |  JOIN gg gc ON gc.doc_id = cand.cid),
       |scored AS (SELECT bid, cid,
       |    CAST(ROUND(inter * 1000000.0 / uni, 0) AS BIGINT) AS j_ppm,
       |    CASE WHEN inter = uni THEN 1 ELSE 0 END AS is_exact,
       |    CAST(COUNT(*) OVER (PARTITION BY bid) AS BIGINT) AS n_candidates,
       |    ROW_NUMBER() OVER (PARTITION BY bid
       |      ORDER BY CAST(ROUND(inter * 1000000.0 / uni, 0) AS BIGINT) DESC,
       |        cid) AS rn
       |  FROM v),
       |best AS (SELECT * FROM scored WHERE rn = 1)
       |SELECT d.doc_id,
       |  CAST(COALESCE(best.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(COALESCE(best.cid, -1) AS BIGINT) AS best_match,
       |  CAST(COALESCE(best.j_ppm, -1) AS BIGINT) AS best_j_ppm,
       |  CASE WHEN best.is_exact = 1 THEN 'exact_dup'
       |    WHEN best.j_ppm >= ${math.round(tau * 1e6)} THEN 'near_dup'
       |    ELSE 'keep' END AS verdict
       |FROM (SELECT doc_id FROM gg WHERE $isBatch) d
       |LEFT JOIN best ON best.bid = d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- C73

  /** C73 — LSH recall audit: MEASURE what C2's banding geometry
    * actually recalls on THIS corpus, per similarity band — the audit
    * that justifies (or retunes) (perms, bands) before anyone trusts
    * the dedup pass (banding recall is probabilistic; the standard
    * S-curve 1−(1−j^r)^b is the design promise, this frame is the
    * delivered number). Ground truth is EXACT all-pairs Jaccard — at
    * corpus scale that is only computable on a SAMPLE, so the audit
    * is declared sampled: a deterministic hash keeps 1/sampleMod of
    * documents, where sampleMod is DERIVED from the corpus count so
    * the sampled block is a FIXED-SIZE target (~`sampleTarget` docs)
    * regardless of SF — the quadratic truth join runs inside that
    * bounded block, so the audit's cost is a constant, not Θ(n²)
    * (the round-8 default sampleMod=2 grew quadratically with the
    * corpus). Both engines derive the identical modulus from the same
    * count — Spark injects the driver-computed literal, the oracle
    * re-derives it in SQL from COUNT(*) — so the sampled populations
    * match doc-for-doc. Candidates
    * re-run C2's exact signature/banding pipeline restricted to the
    * sample — band keys are per-document, so sample-restricted
    * banding produces exactly the full run's pairs among sampled
    * docs. Output per Jaccard decile: true pairs, banding-covered
    * pairs, delivered recall ppm, and the theoretical S-curve
    * expectation at the band midpoint — the expectation is computed
    * ONCE in Scala and injected as the same literal into both
    * engines (no cross-engine pow drift). -1 sentinels for empty
    * bands. */
  def lshRecallAudit(spark: SparkSession, dir: String,
                     perms: Int = 128, bands: Int = 16,
                     sampleTarget: Long = 1200L,
                     jFloor: Double = 0.2): DataFrame =
    lshRecallAuditFrom(gramFrame(spark, dir), perms, bands, sampleTarget,
      jFloor)

  /** The audit's sampling modulus: ceil(n / target), floored at 1 —
    * keeps the expected sampled block at ~`target` docs so the
    * quadratic truth join is bounded at any corpus size. Evaluated
    * from the corpus count on BOTH sides (driver literal here, a
    * COUNT(*) re-derivation in the oracle SQL). */
  private[graft] def auditSampleMod(n: Long, target: Long): Long =
    math.max(1L, (n + target - 1L) / target)

  /** [[lshRecallAudit]] over any (doc_id, grams) frame — the spec
    * drives it with a synthetic controlled-overlap corpus so the
    * partial-recall mid-bands are exercised, not just the exact-dup
    * top band real small-SF corpora produce. */
  private[graft] def lshRecallAuditFrom(gramsFrame: DataFrame,
                                        perms: Int = 128, bands: Int = 16,
                                        sampleTarget: Long = 1200L,
                                        jFloor: Double = 0.2): DataFrame = {
    val rows = perms / bands
    // One count against the (cache-backed) gram frame buys the bound:
    // the derived modulus pins the sampled block to ~sampleTarget docs.
    val sampleMod = auditSampleMod(gramsFrame.count(), sampleTarget)
    val sampled = gramsFrame
      .filter(pmod(Portable.hash60(concat(lit("graft-audit-v1:"),
        col("doc_id").cast("string"))), lit(sampleMod)) === 0L)
      .localCheckpoint()
    // Grams arrive SORTED so the per-pair intersection is a linear
    // merge (graft_sorted_intersect_size) instead of the builtin
    // array_intersect, whose string path evaluates interpreted
    // (SQLOpenHashSet + boxed getters) and COLLAPSED under 32-way
    // parallelism (r16 thread dumps: every task thread inside
    // nullSafeEval, 32c 7-30x slower than 8c, GC ruled out). Sorting
    // costs one sort_array per sampled doc — O(sample), not O(sample²).
    val a = sampled.select(col("doc_id").as("doc_a"),
      sort_array(col("grams")).as("ga"), size(col("grams")).as("sa"))
    val b = sampled.select(col("doc_id").as("doc_b"),
      sort_array(col("grams")).as("gb"), size(col("grams")).as("sb"))
    val interC = graft.functions.VectorExprs
      .sortedIntersectSize(col("ga"), col("gb")).cast("double")
    // The WHOLE per-pair predicate lives in the join condition, ordered
    // cheap → expensive: (1) doc_a < doc_b halves the pair count, (2)
    // the lossless size prune — the audit keeps only ROUND(J,4) >=
    // jFloor and J <= min(|a|,|b|)/max(|a|,|b|), so any kept pair has
    // min >= (jFloor - 1e-4)·max (1e-4 covers the 5e-5 round-up; sizes
    // are integers, so the slack only lets borderline pairs THROUGH to
    // the exact check) — and only then (3) the merge intersect. The r15
    // shape expressed (3) as a separate .filter, which Catalyst pushed
    // to the FRONT of the BNLJ conjunction — the expensive intersect ran
    // before the prunes for every ordered pair (plan-verified,
    // plans/r16/lsh_recall_audit_before.txt line 81).
    val truth = a.join(b, col("doc_a") < col("doc_b") &&
        least(col("sa"), col("sb")).cast("double") >=
          lit(jFloor - 1e-4) * greatest(col("sa"), col("sb")) &&
        round(interC / (size(col("ga")) + size(col("gb")) - interC), 4)
          >= jFloor)
      .withColumn("inter", interC)
      .withColumn("jaccard", round(col("inter") /
        (size(col("ga")) + size(col("gb")) - col("inter")), 4))
      .withColumn("jband",
        least(lit(9L), floor(col("jaccard") * 10).cast("long")))
      .select(col("doc_a"), col("doc_b"), col("jband"))
    // the audit re-runs C2's EXACT banding pipeline (the fused
    // row-local MinhashBandKeys pass) restricted to the sample
    val banded = sampled
      .select(col("doc_id"),
        posexplode(graft.functions.VectorExprs.minhashBands(col("grams"),
          perms, bands)).as(Seq("band_id", "band_key")))
      .localCheckpoint()
    val cand = banded.as("x").join(banded.as("y"), Seq("band_id", "band_key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .withColumn("hit", lit(1L))
    val spk = gramsFrame.sparkSession
    import spk.implicits._
    val grid = ((jFloor * 10).toInt to 9).map { jb =>
      (jb.toLong, expectedRecallPpm(jb, rows, bands))
    }.toDF("jband", "expected_recall_ppm")
    val measured = truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("jband"))
      .agg(count(lit(1)).as("n_true_pairs"),
        coalesce(sum(col("hit")), lit(0L)).as("n_candidate_hits"))
    grid.join(measured, Seq("jband"), "left")
      .select(col("jband"),
        coalesce(col("n_true_pairs"), lit(0L)).as("n_true_pairs"),
        coalesce(col("n_candidate_hits"), lit(0L)).as("n_candidate_hits"),
        when(col("n_true_pairs") > 0L, call_function("div",
          col("n_candidate_hits").cast("decimal(38,0)") * lit(1000000L),
          col("n_true_pairs")))
          .otherwise(lit(-1L)).as("recall_ppm"),
        col("expected_recall_ppm"))
  }

  /** Banding S-curve 1−(1−m^r)^b at the decile midpoint, in ppm —
    * evaluated once here so both engines carry the identical literal. */
  private def expectedRecallPpm(jband: Long, rows: Int, bands: Int): Long = {
    val m = jband * 0.1 + 0.05
    math.round((1.0 - math.pow(1.0 - math.pow(m, rows), bands)) * 1000000.0)
  }

  def lshRecallAuditSql(perms: Int = 128, bands: Int = 16,
                        sampleTarget: Long = 1200L,
                        jFloor: Double = 0.2): String = {
    val rows = perms / bands
    val minCols = (0 until perms)
      .map(p => s"MIN((h * ${permA(p)} + ${permB(p)}) % $MersenneP) AS m$p")
      .mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until rows).map(r => s"m${b * rows + r}").mkString(", ',', ")
      s"SELECT doc_id, $b AS band_id, CONCAT($key) AS band_key FROM s"
    }.mkString("\n  UNION ALL\n  ")
    val gridRows = ((jFloor * 10).toInt to 9)
      .map(jb => s"($jb, ${expectedRecallPpm(jb, rows, bands)})")
      .mkString(", ")
    s"""WITH $gramFrameSql,
       |smod AS (
       |  -- ceil(n/target) floored at 1: the same modulus the Spark side
       |  -- derives on the driver, re-derived here from the same count
       |  SELECT GREATEST(1, (COUNT(*) + ${sampleTarget - 1L}) // $sampleTarget)
       |    AS m
       |  FROM gg
       |),
       |sampled AS (
       |  SELECT doc_id, grams FROM gg
       |  WHERE ${Portable.hash60Sql(
              "'graft-audit-v1:' || CAST(doc_id AS VARCHAR)")}
       |    % (SELECT m FROM smod) = 0
       |), truth AS (
       |  SELECT doc_a, doc_b,
       |    LEAST(9, CAST(FLOOR(jaccard * 10) AS BIGINT)) AS jband
       |  FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |        (len(a.grams) + len(b.grams)
       |          - len(list_intersect(a.grams, b.grams))), 4) AS jaccard
       |    FROM sampled a JOIN sampled b ON a.doc_id < b.doc_id)
       |  WHERE jaccard >= $jFloor
       |), e AS (
       |  SELECT s2.doc_id, unnest(s2.grams) AS gram FROM sampled s2
       |), h AS (
       |  SELECT doc_id, ${Portable.hash60Sql("gram")} % $MersenneP AS h FROM e
       |), s AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM h GROUP BY doc_id
       |), b AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM b x JOIN b y ON x.band_id = y.band_id
       |    AND x.band_key = y.band_key AND x.doc_id < y.doc_id
       |), measured AS (
       |  SELECT t.jband,
       |    CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       |    CAST(COALESCE(SUM(CASE WHEN c.doc_a IS NOT NULL
       |      THEN 1 END), 0) AS BIGINT) AS n_candidate_hits
       |  FROM truth t LEFT JOIN cand c
       |    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
       |  GROUP BY 1
       |)
       |SELECT CAST(g.jband AS BIGINT) AS jband,
       |  COALESCE(m.n_true_pairs, 0) AS n_true_pairs,
       |  COALESCE(m.n_candidate_hits, 0) AS n_candidate_hits,
       |  CAST(CASE WHEN m.n_true_pairs > 0
       |    THEN m.n_candidate_hits * 1000000 // m.n_true_pairs
       |    ELSE -1 END AS BIGINT) AS recall_ppm,
       |  CAST(g.expected_recall_ppm AS BIGINT) AS expected_recall_ppm
       |FROM (VALUES $gridRows) AS g(jband, expected_recall_ppm)
       |LEFT JOIN measured m ON g.jband = m.jband""".stripMargin
  }

  /** Persisted per-doc distinct word-3-gram frame: (doc_id, grams) —
    * the shared front end of every near-dup operator.
    *
    * The explicit repartition matters twice over: (a) locally the table
    * is one parquet split, so without it the CPU-heavy shingling runs
    * on ONE core; at scale the same holds for any source with fewer
    * splits than cores. (b) It pre-aligns partitioning with the
    * `groupBy(doc_id)` every signature pipeline performs next, so the
    * big exploded gram frame never shuffles — only the small text rows
    * do. Explicit N keeps AQE from coalescing the tiny local exchange
    * back to one partition.
    *
    * Persisting BEFORE any filter/explode is load-bearing: the shingle
    * chain is an interpreted higher-order expression, and project-filter
    * collapse would otherwise re-evaluate it once per consumer (the
    * band join alone has two). Built once per (session, documents
    * listing) by [[Tables.persisted]], like the
    * [[Text.docTokens]] frame it reads. */
  private[ops] def gramsCached(spark: SparkSession, dir: String): DataFrame =
    Tables.persisted(spark, "grams", dir, "documents")(_ =>
      Text.docTokens(spark, dir)
        // native shingling (graft.functions.WordNGrams): one JVM loop per
        // doc instead of interpreted higher-order lambdas; set-identical
        // to the declarative Text.gramsExpr and the DuckDB oracle
        .select(col("doc_id"), col("lang"),
          call_function("graft_word_ngrams", col("toks"), lit(3)).as("grams")))

  /** Non-empty gram arrays (cache-backed). */
  private[graft] def gramFrame(spark: SparkSession, dir: String): DataFrame =
    gramsCached(spark, dir).filter(size(col("grams")) > 0)

  /** The VERIFIED C4 near-dup pair ledger (doc_a < doc_b, no score
    * column), memoized per (session, dir, τ) — the dedup graph's fuzzy
    * edge set that C18's clusters, C71's split-leakage labeling and
    * C78's chain audit all consume. A real pipeline materializes this
    * ledger once per corpus snapshot and every downstream stage reads
    * it (the clusterMemo / gramsCached precedent); before the memo,
    * each of the three consumers re-ran the full PPJoin candidate
    * generation + exact verify — three corpus-scale inverted-index
    * joins per composition instead of one (r15 plan audit:
    * split_leakage alone carried 25 parquet scans / 75 exchanges,
    * most of them this subtree). `dedup_ngram_jaccard` itself does NOT
    * read the memo — the declared query recomputes from the parquet
    * inputs on every invocation. Released by
    * [[graft.util.GraftSession.releaseCaches]]. */
  private val pairsMemo = scala.collection.concurrent.TrieMap[
    (SparkSession, String, Double), DataFrame]()
  private[graft] def clearPairsMemo(): Unit = pairsMemo.synchronized {
    // release the checkpoint blocks WITH the reference (ADVICE r15):
    // the ledger is corpus-scale, and ContextCleaner GC is not prompt
    pairsMemo.values.foreach(graft.util.Checkpoints.drop)
    pairsMemo.clear()
  }
  private[graft] def ngramPairsCached(spark: SparkSession, dir: String,
                                      tau: Double): DataFrame =
    pairsMemo.synchronized {
      pairsMemo.keys.filter(_._1.sparkContext.isStopped)
        .foreach(pairsMemo.remove)
      pairsMemo.getOrElseUpdate((spark, dir, tau),
        ngramJaccard(spark, dir, tau)
          .select(col("doc_a"), col("doc_b")).localCheckpoint())
    }

  /** (doc_id, gram) exploded pairs (cache-backed; explode drops empty
    * docs, so no pre-filter needed). */
  private[ops] def gramExploded(spark: SparkSession, dir: String): DataFrame =
    gramsCached(spark, dir).select(col("doc_id"), explode(col("grams")).as("gram"))

  /** DuckDB CTE chain producing the same frame as [[gramFrame]] (view
    * name `gg`). */
  private[ops] val gramFrameSql: String =
    s"""t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, ${Text.gramsSql} AS grams FROM t
       |), gg AS (SELECT doc_id, grams FROM g WHERE len(grams) > 0)""".stripMargin

  /** C3 — SimHash near-dup candidates.
    *
    * 60-bit simhash over distinct word-3-gram hashes (shingles, not
    * unigrams: unigram sets are near-identical across docs sharing a
    * vocabulary, so they don't discriminate). The per-bit majority
    * vote is computed the scale-safe way: explode grams to (doc_id,
    * hash60) rows — ONE portable md5-based hash per gram — then one
    * `groupBy(doc_id)` with 60 codegen'd conditional sums (partial
    * aggregation, map-side combine, single shuffle), instead of
    * interpreted per-row higher-order lambdas. The signature frame is
    * persisted so the band self-join computes it once.
    *
    * Banding: 4×15-bit bands — any pair within Hamming 3 agrees on ≥1
    * band (pigeonhole); pairs up to `maxHamming` surface with the
    * standard LSH recall contract. Same-bucket pairs verify by exact
    * Hamming distance; candidate fan-out never leaves the join. The
    * hash is [[Portable.hash60]], so a DuckDB oracle reproduces the
    * signature bit-for-bit ([[simhashSql]]). */
  def simhash(spark: SparkSession, dir: String, maxHamming: Int = 8): DataFrame = {
    // row-local signature (graft.functions.SimhashValue): the gram
    // array is already per-document, so the 60 majority votes need no
    // explode + groupBy shuffle — the C2 fused-banding argument
    val sig = gramFrame(spark, dir)
      .select(col("doc_id"),
        graft.functions.VectorExprs.simhashOf(col("grams")).as("simhash"))
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band_id"),
        shiftright(col("simhash"), b * 15).bitwiseAND(lit(32767L)).as("band_val"))
    }
    // eager materialization: the self-join reads this twice, and a lazy
    // cache would re-enter the signature aggregation
    val banded = sig.select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("simhash"), col("band.band_id"), col("band.band_val"))
      .localCheckpoint()
    banded.as("x").join(banded.as("y"), Seq("band_id", "band_val"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** DuckDB oracle reproducing [[simhash]] exactly (same md5-based
    * gram hashes, same majority votes, same banding). */
  def simhashSql(maxHamming: Int = 8): String = {
    val h = Portable.hash60Sql("gram")
    val votes = (0 until 60)
      .map(i => s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i")
      .mkString(",\n    ")
    val sigBits = (0 until 60)
      .map(i => s"(CASE WHEN s$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH $gramFrameSql,
       |e AS (SELECT doc_id, unnest(grams) AS gram FROM gg),
       |h AS (SELECT doc_id, $h AS h FROM e),
       |v AS (SELECT doc_id,
       |    $votes
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigBits AS simhash FROM v),
       |b AS (SELECT doc_id, simhash, band_id,
       |    (simhash >> (band_id * 15)) & 32767 AS band_val
       |  FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) bands(band_id))
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |FROM b x JOIN b y ON x.band_id = y.band_id AND x.band_val = y.band_val
       |  AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= $maxHamming""".stripMargin
  }

  /** C27 — line-level dedup across the corpus (the CCNet / RefinedWeb
    * boilerplate pass: drop every later occurrence of a repeated line,
    * keep the first in corpus order). This corpus has no newlines, so
    * "lines" are consecutive `width`-token windows — the same fixed
    * chunking both engines derive row-locally from the token array.
    *
    * Scale design: line construction is a pure array expression (zero
    * shuffle). First-occurrence resolution is a groupBy on the LINE key
    * with map-side partial aggregation — deliberately NOT a window over
    * the line: boilerplate lines are the canonical skew case ("click
    * here..." × 10⁹ docs), and a window would move every occurrence of
    * a hot line to one task, while partial agg collapses them per
    * partition before the shuffle. The keep decision joins occurrences
    * back on the line key (AQE skew-split applies); reassembly is one
    * doc-keyed aggregation. First occurrence = min composite key
    * doc_id·2²⁰ + line_no (line_no < 2²⁰ asserted by construction —
    * docs with ≥ 2²⁰·width tokens would need a wider multiplier).
    *
    * Output per doc: line totals, kept/dropped counts, kept token
    * count, and the md5 fingerprint of the surviving text (kept lines
    * re-joined in order). */
  def dedupLines(spark: SparkSession, dir: String, width: Int = 10): DataFrame = {
    // the exploded line frame feeds BOTH the first-occurrence agg and
    // the probe join: checkpoint it once (the self-join discipline) or
    // the slice/array_join string construction runs twice. The agg and
    // join key on the line's md5, not the line text — an 8-byte-ish
    // key vs a width-token string in every shuffle record (collisions:
    // 128-bit md5, negligible far past corpus scale).
    val occ = lineFrame(spark, dir, width)
      .withColumn("okey", col("doc_id") * lit(1048576L) + col("line_no"))
      .withColumn("lh", md5(col("line").cast("binary")))
      .localCheckpoint()
    val firsts = occ.groupBy(col("lh")).agg(min(col("okey")).as("first_key"))
    val marked = occ.join(firsts, "lh")
      .withColumn("kept", col("okey") === col("first_key"))
    marked.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("kept_lines"),
      sum(when(col("kept"), 0L).otherwise(1L)).as("dropped_lines"),
      sum(when(col("kept"), size(split(col("line"), " ")).cast("long"))
        .otherwise(0L)).as("kept_tokens"),
      md5(array_join(
        transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("line_no"), col("line"))))),
          x => x.getField("line")),
        "\n").cast("binary")).as("kept_fp"))
  }

  /** (doc_id, line_no, line): consecutive `width`-token windows of the
    * normalized text, built row-locally (slice + array_join). */
  private def lineFrame(spark: SparkSession, dir: String, width: Int): DataFrame =
    lineFrameOf(Text.docTokens(spark, dir), width)

  /** [[lineFrame]] over an arbitrary documents frame — shared with the
    * streaming twin (row-local, so it runs unchanged per micro-batch).
    * `keep` carries extra columns through (the streaming twin threads
    * its event-time column to the watermarked dedup state). */
  private[graft] def lineFrameOf(docs: DataFrame, width: Int,
                                 keep: Seq[String] = Nil): DataFrame =
    Text.withToks(docs)
      .select(col("doc_id") +: col("toks") +: keep.map(col): _*)
      .select(col("doc_id") +:
        expr(s"""transform(
          sequence(0, CAST(ceil(size(toks) / ${width}.0) AS INT) - 1),
          i -> array_join(slice(toks, i * $width + 1, $width), ' '))""").as("lines") +:
        keep.map(col): _*)
      .select(col("doc_id") +: posexplode(col("lines")).as(Seq("line_no", "line")) +:
        keep.map(col): _*)
      .select(col("doc_id") +: col("line_no").cast("long").as("line_no") +:
        col("line") +: keep.map(col): _*)

  def dedupLinesSql(width: Int = 10): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), occ AS (
       |  SELECT doc_id,
       |    CAST((pos - 1) // $width AS BIGINT) AS line_no,
       |    string_agg(w, ' ' ORDER BY pos) AS line
       |  FROM (SELECT doc_id, unnest(toks) AS w,
       |          generate_subscripts(toks, 1) AS pos FROM t)
       |  GROUP BY 1, 2
       |), keyed AS (
       |  SELECT *, doc_id * 1048576 + line_no AS okey FROM occ
       |), firsts AS (
       |  SELECT line, MIN(okey) AS first_key FROM keyed GROUP BY 1
       |), marked AS (
       |  SELECT k.*, k.okey = f.first_key AS kept
       |  FROM keyed k JOIN firsts f ON k.line = f.line
       |)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(COALESCE(SUM(CASE WHEN kept THEN 1 ELSE 0 END), 0) AS BIGINT) AS kept_lines,
       |  CAST(COALESCE(SUM(CASE WHEN kept THEN 0 ELSE 1 END), 0) AS BIGINT) AS dropped_lines,
       |  CAST(COALESCE(SUM(CASE WHEN kept THEN length(string_split(line, ' ')) ELSE 0 END), 0) AS BIGINT) AS kept_tokens,
       |  md5(COALESCE(string_agg(line, chr(10) ORDER BY line_no) FILTER (WHERE kept), '')) AS kept_fp
       |FROM marked
       |GROUP BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // C52 — Bloom-filter incremental dedup
  // ------------------------------------------------------------------

  /** Bloom geometry: m bits as 32-bit words (bit 63 never set: DuckDB
    * faults on 1<<63), k = 4 salted portable hashes. m is DERIVED from
    * the corpus count — the smallest power of two ≥ 16·n, floored at
    * 2^16 and capped at 2^30 (k=4, m=16n gives FP ≈ 0.24%): a FIXED m
    * saturates as the historical corpus grows and silently flags
    * everything positive — the C5/C7 fixed-parameter class. The floor
    * keeps every small-SF bitmap (and its oracle hash) identical to
    * the fixed-2^16 rounds; the oracle re-derives the same m from its
    * own COUNT(*) ladder. False positives are surfaced, not hidden. */
  val BloomBitsFloor = 65536L
  val BloomBitsCap = 1073741824L
  val BloomK = 4

  private[graft] def bloomBitsFor(n: Long): Long = {
    var m = BloomBitsFloor
    while (m < 16L * n && m < BloomBitsCap) m <<= 1
    m
  }

  private[ops] def bloomBitsSql(cnt: String): String = {
    val arms = Iterator.iterate(BloomBitsFloor)(_ << 1)
      .takeWhile(_ < BloomBitsCap)
      .map(m => s"WHEN 16 * $cnt <= $m THEN $m")
      .mkString(" ")
    s"CASE $arms ELSE $BloomBitsCap END"
  }

  /** C52 — incremental exact dedup via a Bloom filter: the scale
    * path for "is this incoming document already in the 100 TB
    * historical corpus" WITHOUT joining the corpus — build the
    * filter once (a ≤1024-row bitmap that BROADCASTS), test each
    * incoming doc against it, and only bloom-positive docs touch the
    * exact fingerprint set. The membership sketch every production
    * ingest pipeline runs in front of C1.
    *
    * Fully engine-portable (unlike Spark's built-in
    * `stat.bloomFilter`, whose hash is not reproducible in SQL):
    * positions are k salted md5-based hashes mod m, the bitmap is a
    * groupBy(word) + BIT_OR of single-bit masks, membership is
    * (bits & mask) != 0 over a k-row explode. The no-false-negative
    * invariant is spec-asserted: every exact duplicate is
    * bloom-positive; bloom-positive non-duplicates surface as
    * `false_positive` (the rate is the sketch's documented cost).
    *
    * Scale shape: ONE pass over the historical side builds the
    * dimension-scale bitmap (m/64 rows regardless of corpus size);
    * the test side is a k-row explode + broadcast join — no
    * corpus-to-corpus join anywhere. The exact-verify semi-join
    * touches only the historical FINGERPRINT column (8-byte-ish md5
    * keys), and at scale would prune to bloom-positive rows first. */
  def dedupBloom(spark: SparkSession, dir: String,
                 mBitsOverride: Option[Long] = None,
                 k: Int = BloomK): DataFrame = {
    import graft.functions.Portable
    val docs = Tables.documents(spark, dir)
    val mBits = mBitsOverride.getOrElse(bloomBitsFor(docs.count()))
    val fps = docs
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), md5(Text.norm(col("text")).cast("binary")).as("fp"))
      .withColumn("incoming", (pmod(col("doc_id"), lit(3L)) === 0L).cast("long"))
    def positions(c: org.apache.spark.sql.Column) =
      array((0 until k).map(i =>
        pmod(Portable.hash60(concat(lit(s"bloom$i:"), c)), lit(mBits))): _*)
    val bitmap = fps.filter(col("incoming") === 0L)
      .select(explode(positions(col("fp"))).as("pos"))
      .select(expr("pos div 32").as("word"),
        expr("shiftleft(1L, cast(pos % 32 as int))").as("mask"))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits"))
    val histFps = fps.filter(col("incoming") === 0L)
      .select(col("fp")).distinct().withColumn("exact_hit", lit(1L))
    val tested = fps.filter(col("incoming") === 1L)
      .select(col("doc_id"), col("fp"), explode(positions(col("fp"))).as("pos"))
      .select(col("doc_id"), col("fp"), expr("pos div 32").as("word"),
        expr("shiftleft(1L, cast(pos % 32 as int))").as("mask"))
      .join(broadcast(bitmap), Seq("word"), "left")
      .withColumn("hit",
        (coalesce(col("bits"), lit(0L)).bitwiseAND(col("mask")) =!= 0L)
          .cast("long"))
      .groupBy(col("doc_id"), col("fp"))
      .agg(sum(col("hit")).as("n_hits"))
      .withColumn("bloom_positive", (col("n_hits") === k.toLong).cast("long"))
    tested
      .join(broadcast(histFps), Seq("fp"), "left")
      .withColumn("exact_dup", coalesce(col("exact_hit"), lit(0L)))
      .withColumn("verdict",
        when(col("exact_dup") === 1L, "dup")
          .when(col("bloom_positive") === 1L, "false_positive")
          .otherwise("new"))
      .select(col("doc_id"), col("n_hits"), col("bloom_positive"),
        col("exact_dup"), col("verdict"))
  }

  def dedupBloomSql(k: Int = BloomK): String = {
    import graft.functions.Portable
    // the oracle derives the identical m from its own COUNT(*) ladder
    def posSql(i: Int) =
      s"(${Portable.hash60Sql(s"CONCAT('bloom$i:', fp)")} % (SELECT m FROM bm))"
    val posList = (0 until k).map(posSql).mkString(", ")
    s"""WITH bm AS (
       |  SELECT ${bloomBitsSql("COUNT(*)")} AS m FROM documents
       |), fps AS (
       |  SELECT doc_id, md5(${Text.normSql("text")}) AS fp,
       |    CAST(doc_id % 3 = 0 AS BIGINT) AS incoming
       |  FROM documents
       |), hpos AS (
       |  SELECT UNNEST([$posList]) AS pos
       |  FROM fps WHERE incoming = 0
       |), bitmap AS (
       |  SELECT pos // 32 AS word, BIT_OR(1::BIGINT << (pos % 32)::INT)
       |    AS bits
       |  FROM hpos GROUP BY 1
       |), hist AS (
       |  SELECT DISTINCT fp, CAST(1 AS BIGINT) AS exact_hit
       |  FROM fps WHERE incoming = 0
       |), tpos AS (
       |  SELECT doc_id, fp, UNNEST([$posList]) AS pos
       |  FROM fps WHERE incoming = 1
       |), tested AS (
       |  SELECT t.doc_id, t.fp,
       |    CAST(SUM(CASE WHEN (COALESCE(b.bits, 0)
       |      & (1::BIGINT << (t.pos % 32)::INT)) <> 0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM tpos t LEFT JOIN bitmap b ON b.word = t.pos // 32
       |  GROUP BY 1, 2
       |)
       |SELECT t.doc_id, t.n_hits,
       |  CAST(t.n_hits = $k AS BIGINT) AS bloom_positive,
       |  CAST(COALESCE(h.exact_hit, 0) AS BIGINT) AS exact_dup,
       |  CASE WHEN COALESCE(h.exact_hit, 0) = 1 THEN 'dup'
       |    WHEN t.n_hits = $k THEN 'false_positive'
       |    ELSE 'new' END AS verdict
       |FROM tested t LEFT JOIN hist h ON h.fp = t.fp""".stripMargin
  }

  // ------------------------------------------------------------------
  // C82 — boilerplate prefix/suffix clusters
  // ------------------------------------------------------------------

  /** C82 — boilerplate prefix/suffix detection: documents sharing
    * their first (or last) `k` normalized tokens verbatim — the
    * crawl-template shape (navigation headers, license footers,
    * signature blocks) that full-document dedup misses because the
    * middles differ and gram-Jaccard under-scores because the shared
    * run is a small fraction of a long page. One row per (kind,
    * key_hash) cluster with multiplicity and the doc-id span; clusters
    * feed a strip-or-drop pass the way C18's components feed C49.
    *
    * Scale: the key is row-local (slice + join of an array already on
    * the row), so the whole operator is one hash-keyed partial agg —
    * map-side combine, single shuffle on the 60-bit key. */
  def prefixSuffix(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    prefixSuffixFrom(Text.docTokens(spark, dir), k)

  private[graft] def prefixSuffixFrom(docsFrame: DataFrame,
      k: Int = 8): DataFrame = {
    val toks = Text.withToks(docsFrame)
      .select(col("doc_id"), col("toks"))
      .filter(size(col("toks")) >= k)
    val pre = toks.select(col("doc_id"), lit("prefix").as("kind"),
      array_join(slice(col("toks"), 1, k), " ").as("key"))
    val suf = toks.select(col("doc_id"), lit("suffix").as("kind"),
      array_join(slice(col("toks"), -k, k), " ").as("key"))
    pre.union(suf)
      .groupBy(col("kind"), Portable.hash60(col("key")).as("key_hash"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("keep_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .filter(col("n_docs") > 1L)
  }

  def prefixSuffixSql(k: Int = 8): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents
       |), ok AS (
       |  SELECT doc_id, toks FROM t WHERE len(toks) >= $k
       |), keys AS (
       |  SELECT doc_id, 'prefix' AS kind,
       |    array_to_string(toks[1:$k], ' ') AS key FROM ok
       |  UNION ALL
       |  SELECT doc_id, 'suffix' AS kind,
       |    array_to_string(list_slice(toks, len(toks) - ${k - 1}, len(toks)), ' ')
       |      AS key FROM ok
       |)
       |SELECT kind, ${Portable.hash60Sql("key")} AS key_hash,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(doc_id) AS keep_doc_id, MAX(doc_id) AS max_doc_id
       |FROM keys GROUP BY 1, 2
       |HAVING COUNT(*) > 1""".stripMargin
}
