package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.{Checkpoints, Tables}
import graft.functions.Portable

/** Embedding similarity search: LSH-filtered cosine pairs, brute-force
  * ANN top-k, and multi-probe LSH-bucketed ANN.
  *
  * Vectors are `array<float>` cast to double (dimension fixed at 64 by
  * the embeddings table). Dot products are explicit 64-term sums —
  * fully whole-stage-codegen'd, no interpreted higher-order lambdas —
  * and evaluate left-to-right identically in Spark and DuckDB, so every
  * operator here has an exact SQL oracle.
  *
  * Random hyperplanes are deterministic ±1 matrices from a seeded
  * generator, embedded as literals into BOTH the Spark expressions and
  * the generated oracle SQL: the LSH bucketing is part of each
  * operator's checkable contract, not an unverifiable side effect.
  *
  * Scale design: the corpus repartitions once on vec_id (the source is
  * a single small split locally; at 100 TB this is the partitioning the
  * bucket join reuses). Brute force scans the corpus once per query
  * set (queries broadcast). The LSH paths score only same-bucket
  * candidates — corpus-fraction work per query with multi-probe
  * recall fallback, never a cross product.
  */
object Similarity {

  /** Query vectors every ANN operator probes (ids 0 until NQueries). */
  val NQueries = 8
  /** Neighbours returned: [[annTopK]], [[annMatryoshkaTopK]], the
    * LSH/IVF/PQ indexes, [[knnGraph]] and [[hardNegatives]]. */
  val AnnK = 5
  val MatryoshkaK = 10
  val AnnTopK = 3
  val KnnK = 3
  val HardNegK = 5
  /** [[annMatryoshkaTopK]]'s prefix and [[randomProjection]]'s output
    * dimension. */
  val PrefixDim = 16
  val ProjDim = 16
  /** Cosine near-duplicate threshold ([[cosinePairs]], [[dedupSemantic]])
    * and [[cosinePairs]]' LSH band count. */
  val CosineTau = 0.4
  val CosineBands = 8
  /** Target rows per LSH bucket, from which the plane count derives. */
  val TargetBucket = 32L
  /** [[annIvf]]'s lists probed per query. */
  val NProbe = 8
  /** [[embeddingDimStats]]' dead-dimension variance floor (×1e12). */
  val DeadVarE12 = 1000000L
  /** [[clusterLabelTfidf]]'s label terms. */
  val LabelTopK = 5

  val Dim = 64

  /** Deterministic ±1 hyperplane rows (java.util.Random LCG is
    * platform-stable by spec; same seed → same matrix in the SQL
    * rendering below). */
  private def planes(nPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nPlanes, Dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Native loop-codegen dot product ([[graft.functions.DotProduct]]):
    * constant-size generated code — an unrolled 64-term sum per plane
    * blew past Janino/JIT limits when several planes shared a
    * projection, falling back to interpreted execution. Accumulation
    * order (i ascending, left-assoc) matches the SQL rendering
    * exactly, so IEEE results are bit-identical. */
  private[ops] def dot(a: String, b: String): Column =
    graft.functions.VectorExprs.dot(a, b)

  /** DuckDB rendering of [[dot]] (1-based lists). */
  private[ops] def dotSql(a: String, b: String): String =
    (1 to Dim).map(i => s"$a[$i] * $b[$i]").mkString(" + ")

  /** Signed projection of column `v` onto a literal plane. */
  private def proj(v: String, w: Array[Double]): Column =
    graft.functions.VectorExprs.dotLit(v, w.toSeq)

  private def projSql(v: String, w: Array[Double]): String =
    (1 to Dim).map(i => s"$v[$i] * ${w(i - 1)}").mkString(" + ")

  /** corpus with unit-norm metadata: (vec_id, label, v, nrm),
    * repartitioned for parallel scoring (single parquet split locally)
    * and aligned with the bucket joins. */
  private[graft] def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot("v", "v")))

  private[ops] val corpusSql: String =
    s"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id, label, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e)""".stripMargin

  /** Fixed plane-grid width per band: each band owns MaxBandBits
    * consecutive plane rows and USES the first `bitsPerBand` of them —
    * so a corpus-derived band width never re-seats planes, and the
    * oracle can render the full 16-bit key and truncate. */
  private val MaxBandBits = 16

  /** Corpus-scaled band width: the smallest b in [4, MaxBandBits] with
    * n <= targetBucket·2^b — i.e. ≈log₂(n/targetBucket) — so per-band
    * bucket occupancy stays ~targetBucket as the corpus grows instead
    * of candidate pairs growing quadratically (the round-8 fixed
    * bitsPerBand=4 gave 16 keys/band forever; emb25 paid 21.8 s for
    * it). Pure integer ladder — no float log2 on either engine
    * ([[bandBitsSql]] renders the identical CASE ladder over
    * COUNT(*)). */
  private[graft] def bandBits(n: Long): Int = {
    var b = 4
    while (b < MaxBandBits && n > (TargetBucket << b)) b += 1
    b
  }

  private[ops] def bandBitsSql(cnt: String): String = {
    val arms = (4 until MaxBandBits)
      .map(b => s"WHEN $cnt <= ${TargetBucket << b} THEN $b")
      .mkString(" ")
    s"CASE $arms ELSE $MaxBandBits END"
  }

  /** C5 — near-duplicate cosine pairs within label blocks, LSH-banded.
    *
    * Candidate generation is [[CosineBands]] independent sign-bit keys of
    * bitsPerBand hyperplanes each, where bitsPerBand is DERIVED from
    * the corpus count ([[bandBits]]): a pair is a candidate iff it
    * agrees on ALL bits of ≥1 band within its label block (standard
    * banding recall: near-identical vectors agree on almost all bits,
    * so they collide in some band with high probability; the exact
    * all-pairs block join this replaces is quadratic in block size and
    * dies at 100 TB — and so would a FIXED key space, whose bucket
    * occupancy grows linearly with the corpus). Candidates verify with
    * the exact cosine ≥ τ. The oracle SQL derives the identical band
    * width from its own COUNT(*) and computes the identical bands, so
    * the operator's full contract — including its recall geometry —
    * is checked. */
  def cosinePairs(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val bitsPerBand = bandBits(c.count())
    val w = planes(CosineBands * MaxBandBits, seed = 42L)
    // ONE native expression computes every band key in a single tight
    // loop per row (graft.functions.HyperplaneBandKeys): the previous
    // bands×bits separate projection columns generated code past the
    // JIT method-size limit at corpus-derived widths and materialized
    // at interpreted speed (12 s for the emb25 banding vs <0.5 s
    // here). Only the bits a band actually uses are computed (the
    // oracle computes all MaxBandBits and truncates — same key).
    val banded = c.select(col("vec_id"), col("label"),
        posexplode(graft.functions.VectorExprs.bandKeys(col("v"), w, CosineBands,
          bitsPerBand, MaxBandBits)).as(Seq("band_id", "band_key")))
    val cand = banded.as("x").join(banded.as("y"), Seq("label", "band_id", "band_key"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("label"), col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(c.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")), "vec_a")
      .join(c.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cosine", round(dot("va", "vb") / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= CosineTau)
      .select(col("label"), col("vec_a"), col("vec_b"), col("cosine"))
  }

  def cosinePairsSql(): String = {
    val w = planes(CosineBands * MaxBandBits, seed = 42L)
    // The oracle renders the FULL MaxBandBits-char key per band and
    // truncates to the COUNT-derived width — exactly the prefix the
    // Spark side computes from the same plane grid.
    val bandSelects = (0 until CosineBands).map { b =>
      val key = (0 until MaxBandBits).map { r =>
        s"(CASE WHEN ${projSql("v", w(b * MaxBandBits + r))} >= 0 THEN '1' ELSE '0' END)"
      }.mkString("CONCAT(", ", ", ")")
      s"""SELECT vec_id, label, $b AS band_id,
         |    substring($key, 1, (SELECT bpb FROM p)) AS band_key FROM c"""
        .stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $corpusSql,
       |p AS (
       |  SELECT CAST(${bandBitsSql("COUNT(*)")} AS INT) AS bpb
       |  FROM c
       |),
       |b AS (
       |  $bandSelects
       |),
       |cand AS (SELECT DISTINCT x.label, x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM b x JOIN b y ON x.label = y.label AND x.band_id = y.band_id
       |    AND x.band_key = y.band_key AND x.vec_id < y.vec_id),
       |scored AS (SELECT cand.label, cand.vec_a, cand.vec_b,
       |    ROUND((${dotSql("a.v", "b.v")}) / (a.nrm * b.nrm), 4) AS cosine
       |  FROM cand
       |  JOIN c a ON a.vec_id = cand.vec_a
       |  JOIN c b ON b.vec_id = cand.vec_b)
       |SELECT label, vec_a, vec_b, cosine FROM scored WHERE cosine >= $CosineTau""".stripMargin
  }

  /** C6 — brute-force exact ANN: top-k cosine neighbors for each query
    * vector (vec_id < nQueries). The query side is a broadcast; the
    * corpus is scanned once; ranking is per-query top-k on the rounded
    * score with vec_id tiebreak (deterministic). */
  def annTopK(spark: SparkSession, dir: String, nQueries: Int = NQueries, k: Int = AnnK): DataFrame = {
    val c = corpus(spark, dir)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
  }

  def annTopKSql(): String =
    s"""WITH $corpusSql,
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id,
       |    ROUND((${dotSql("a.v", "b.v")}) / (a.nrm * b.nrm), 4) AS cosine
       |  FROM c a JOIN c b ON a.vec_id < $NQueries AND b.vec_id <> a.vec_id
       |)
       |SELECT query_id, vec_id, cosine, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored
       |) WHERE rank <= $AnnK""".stripMargin

  /** C57 — per-dimension embedding statistics: the dead/collapsed
    * dimension audit run before trusting an embedding column (and
    * before spending PQ codebooks or matryoshka truncation on it) —
    * a dimension with ~zero variance carries no signal and a mean far
    * from zero marks mis-centering. Components quantize to micro
    * units FIRST (round(x·10⁶) as BIGINT) so the per-dimension sums
    * are order-independent exact integers — summing raw doubles
    * would make the result depend on reduction order and re-open the
    * float-hash class. Variance is reported in micro² units via the
    * integer identity E[q²] − E[q]² (truncating divisions,
    * non-negative). One posexplode + ONE 64-group partial-agg shuffle
    * — at any corpus size the reduce state is `Dim` rows. */
  def embeddingDimStats(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .withColumn("q", round(col("x") * 1000000d).cast("long"))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("q")).as("sum_q"),
        sum(col("q") * col("q")).as("ss_q"))
      // sum_q can be negative: floor, not truncating, division
      .withColumn("mean_micro", Portable.floorDiv(col("sum_q"), col("n_vecs")))
      .withColumn("var_e12",
        call_function("div", col("ss_q"), col("n_vecs")) -
          col("mean_micro") * col("mean_micro"))
      .withColumn("dead", (col("var_e12") < DeadVarE12).cast("long"))
      .select(col("dim"), col("n_vecs"), col("mean_micro"), col("var_e12"),
        col("dead"))

  def embeddingDimStatsSql(): String =
    s"""WITH $corpusSql,
       |q AS (
       |  SELECT CAST(e.i - 1 AS BIGINT) AS dim,
       |    CAST(ROUND(e.x * 1000000, 0) AS BIGINT) AS qv
       |  FROM (
       |    SELECT UNNEST(list_transform(range(1, len(v) + 1),
       |      i -> {'i': i, 'x': v[i]})) AS e
       |    FROM c)
       |), s AS (
       |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |    CAST(SUM(qv) AS BIGINT) AS sum_q,
       |    CAST(SUM(qv * qv) AS BIGINT) AS ss_q
       |  FROM q GROUP BY 1
       |)
       |SELECT dim, n_vecs,
       |  CAST(sum_q - ((sum_q % n_vecs + n_vecs) % n_vecs) AS BIGINT)
       |    // n_vecs AS mean_micro,
       |  CAST(ss_q // n_vecs
       |    - ((sum_q - ((sum_q % n_vecs + n_vecs) % n_vecs)) // n_vecs)
       |      * ((sum_q - ((sum_q % n_vecs + n_vecs) % n_vecs)) // n_vecs)
       |    AS BIGINT) AS var_e12,
       |  CAST(CASE WHEN ss_q // n_vecs
       |    - ((sum_q - ((sum_q % n_vecs + n_vecs) % n_vecs)) // n_vecs)
       |      * ((sum_q - ((sum_q % n_vecs + n_vecs) % n_vecs)) // n_vecs)
       |    < $DeadVarE12 THEN 1 ELSE 0 END AS BIGINT) AS dead
       |FROM s""".stripMargin

  /** C56 — Matryoshka prefix-dimension retrieval audit: serve ANN from
    * the first `prefixDim` of `Dim` dimensions (the MRL trick — a
    * matryoshka-trained embedding packs most signal into its prefix,
    * so the serving index stores 4× fewer floats) and measure what
    * that truncation actually costs on THIS corpus: per query, the
    * top-k overlap between the full-dimension and prefix rankings and
    * whether the top-1 survives. This is the audit a platform runs
    * BEFORE flipping serving to truncated vectors; on non-MRL
    * embeddings (like these) it quantifies the recall you'd lose.
    *
    * Plan: one broadcast of the query rows, ONE corpus scan scoring
    * both arms per row, two rank windows on the same query-keyed
    * shuffle, then a per-query reduce — the C6 discipline, nothing
    * quadratic. */
  def annMatryoshkaTopK(spark: SparkSession, dir: String, nQueries: Int = NQueries,
                        k: Int = MatryoshkaK, prefixDim: Int = PrefixDim): DataFrame = {
    val c = corpus(spark, dir)
      .withColumn("vp", expr(s"slice(v, 1, $prefixDim)"))
      .withColumn("np", sqrt(dot("vp", "vp")))
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("vp").as("qvp"), col("np").as("qnp"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_full", round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
      .withColumn("cos_pre", round(dot("qvp", "vp") / (col("qnp") * col("np")), 4))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_full").desc, col("vec_id"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_pre").desc, col("vec_id"))
    scored
      .withColumn("rank_full", row_number().over(wf).cast("long"))
      .withColumn("rank_pre", row_number().over(wp).cast("long"))
      .filter(col("rank_full") <= k || col("rank_pre") <= k)
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("rank_full") <= k && col("rank_pre") <= k, 1L)
          .otherwise(0L)).as("n_overlap"),
        max(when(col("rank_full") === 1L && col("rank_pre") === 1L, 1L)
          .otherwise(0L)).as("top1_match"))
      .withColumn("overlap_ppm",
        call_function("div", col("n_overlap").cast("decimal(38,0)")
          * lit(1000000L), lit(k.toLong)))
      .select(col("query_id"), col("n_overlap"), col("overlap_ppm"),
        col("top1_match"))
  }

  def annMatryoshkaTopKSql(): String = {
    def dotN(a: String, b: String) =
      (1 to PrefixDim).map(i => s"$a[$i] * $b[$i]").mkString(" + ")
    s"""WITH $corpusSql,
       |cp AS (
       |  SELECT vec_id, label, v, nrm, v[1:$PrefixDim] AS vp,
       |    sqrt(${dotN("v", "v")}) AS np
       |  FROM c
       |), scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id,
       |    ROUND((${dotSql("a.v", "b.v")}) / (a.nrm * b.nrm), 4) AS cos_full,
       |    ROUND((${dotN("a.vp", "b.vp")}) / (a.np * b.np), 4) AS cos_pre
       |  FROM cp a JOIN cp b ON a.vec_id < $NQueries AND b.vec_id <> a.vec_id
       |), ranked AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_full DESC, vec_id) AS rank_full,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_pre DESC, vec_id) AS rank_pre
       |  FROM scored
       |)
       |SELECT query_id,
       |  CAST(SUM(CASE WHEN rank_full <= $MatryoshkaK AND rank_pre <= $MatryoshkaK
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       |  CAST(SUM(CASE WHEN rank_full <= $MatryoshkaK AND rank_pre <= $MatryoshkaK
       |    THEN 1 ELSE 0 END) * 1000000 // $MatryoshkaK AS BIGINT) AS overlap_ppm,
       |  CAST(MAX(CASE WHEN rank_full = 1 AND rank_pre = 1
       |    THEN 1 ELSE 0 END) AS BIGINT) AS top1_match
       |FROM ranked
       |WHERE rank_full <= $MatryoshkaK OR rank_pre <= $MatryoshkaK
       |GROUP BY 1""".stripMargin
  }

  /** C7 — LSH-bucketed ANN with multi-probe: `nPlanes` hyperplane sign
    * bits bucket the corpus into 2^nPlanes cells; each query probes its
    * own cell plus every 1-bit-flip neighbor (nPlanes+1 cells), scoring
    * only those candidates — the scale path when the corpus no longer
    * admits a full scan per query. Multi-probe bounds the recall loss
    * of single-cell probing: the nearest neighbors of a query sit in
    * Hamming-adjacent cells when a projection lands near zero. The
    * probed cells are disjoint, so no pair dedupe is needed. The
    * deterministic planes make the full pipeline — buckets, probes,
    * ranking — reproducible in the SQL oracle. */
  /** Corpus-scaled plane count: smallest q in [6, MaxBucketPlanes]
    * with n <= targetBucket·2^q, so per-cell occupancy stays
    * ~targetBucket as the corpus grows (the r8 fixed nPlanes=6 froze
    * the key space at 64 cells forever — the C5 defect class). Planes
    * live on a fixed MaxBucketPlanes grid, so a width change never
    * re-seats existing planes and the oracle can compute the full
    * bucket and mask to 2^q. */
  private val MaxBucketPlanes = 16
  private[graft] def planeCount(n: Long): Int = {
    var q = 6
    while (q < MaxBucketPlanes && n > (TargetBucket << q)) q += 1
    q
  }
  private[ops] def planeMaskSql(cnt: String): String = {
    val arms = (6 until MaxBucketPlanes)
      .map(q => s"WHEN $cnt <= ${TargetBucket << q} THEN ${(1L << q) - 1L}")
      .mkString(" ")
    s"CASE $arms ELSE ${(1L << MaxBucketPlanes) - 1L} END"
  }

  def annLshBucketed(spark: SparkSession, dir: String): DataFrame = {
    val c0 = corpus(spark, dir)
    val nPlanes = planeCount(c0.count())
    val w = planes(MaxBucketPlanes, seed = 7L)
    // two-step bit columns (JIT-able codegen units), then the bucket
    // sum
    val bitCols = (0 until nPlanes).map { p =>
      when(proj("v", w(p)) >= 0d, lit(1L << p)).otherwise(lit(0L)).as(s"bp$p")
    }
    val c = c0
      .select(Seq(col("vec_id"), col("label"), col("v"), col("nrm")) ++ bitCols: _*)
      .withColumn("bucket", (0 until nPlanes).map(p => col(s"bp$p")).reduce(_ + _))
      .drop((0 until nPlanes).map(p => s"bp$p"): _*)
    val probeMasks = 0L +: (0 until nPlanes).map(p => 1L << p)
    val q = c.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qbucket"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(array(probeMasks.map(m => col("qbucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
    val win = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("bucket"), col("vec_id"), col("cosine"), col("rank"))
  }

  /** Sizing of the two trained indexes, read by the Spark builds and by
    * their DuckDB renderings ([[ivfAssignedCtes]], [[pqEncodeSql]]), so
    * the oracle trains on the same sample with the same k. */
  private val IvfKMin = 64
  private val IvfKCap = 4096
  private val PqSubspaces = 8
  private val PqSubK = 16
  /** Training-sample rows per centroid (IVF) or codebook entry (PQ). */
  private val TrainPerCentroid = 64

  /** The deterministic bounded training sample: the `m` rows of `c`
    * with the lowest `salt`-keyed hash, with that hash as `h`. The
    * ranking is engine-portable, so the oracle draws the same rows
    * ([[trainSampleSql]]). orderBy+limit plans as a distributed
    * partial top-m (TakeOrdered), not a global sort. */
  private def trainSample(c: DataFrame, salt: String, m: Long): DataFrame =
    c.withColumn("h", Portable.hash60(concat(lit(s"$salt:"), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(m.toInt)
      .localCheckpoint()

  private def trainSampleSql(salt: String, limit: String): String =
    s"""SELECT *, ${Portable.hash60Sql(s"CONCAT('$salt:', CAST(vec_id AS VARCHAR))")} AS h FROM c
       |  ORDER BY h, vec_id LIMIT $limit""".stripMargin

  /** C13 — IVF-bucketed ANN (inverted-file index): the corpus is
    * assigned to its nearest centroid; a query scores only the lists of
    * its [[NProbe]] nearest centroids. This is the second scale path next
    * to hyperplane LSH (C7): centroid lists adapt to the data
    * distribution, and probing more lists trades work for recall.
    *
    * The index build is one k-means round, fully deterministic:
    *  - k scales with the corpus: `min(IvfKCap, max(IvfKMin,
    *    ceil(sqrt(n))))` — constant work per vector per assignment as
    *    the corpus grows, lists of ~sqrt(n) vectors each;
    *  - seed centroids are the first k vectors of the training sample;
    *    every sample vector assigns to its nearest seed (rounded cosine,
    *    cent_id tiebreak);
    *  - ONE Lloyd refinement recomputes each centroid as its members'
    *    per-dimension mean. The mean is computed in EXACT integer
    *    arithmetic over power-of-2-quantized components
    *    (`round(v_i * 1024)` is exact for float32 inputs — the scaling
    *    is a mantissa shift, so both engines recover the same long) and
    *    floor-divided — no double summation-order or rounding anywhere,
    *    which is what lets an iterative clustering survive an exact
    *    cross-engine hash check.
    * Every vector then joins the list of its nearest refined centroid;
    * the probed lists are scored with the exact cosine on the ORIGINAL
    * vectors.
    *
    * 100 TB path (coded, not just documented): centroid TRAINING —
    * the seed assignment and the Lloyd mean — runs on the
    * `TrainPerCentroid·k` rows of [[trainSample]]. Training cost is
    * then `TrainPerCentroid·k² = TrainPerCentroid·n` under k~√n —
    * linear, and constant once `IvfKCap` bites — instead of the full
    * n·k. k-means quality on an i.i.d. sample of 64 rows per centroid
    * is statistically indistinguishable from full-corpus training (the
    * mean of 64 members concentrates), which is why every large-scale
    * IVF library trains on a sample. The one remaining n·k pass is the
    * list assignment — inherent to building the inverted file, and run
    * once per session inside [[ivfIndex]]. The sizing constants are
    * the ones above [[trainSample]]; the oracle renders the same. */
  /** Nearest-centroid scoring: every input row against every centroid
    * (broadcast), keep the top `keep` per vector. */
  private def nearestCents(in: DataFrame, cents: DataFrame, keep: Int): DataFrame = {
    val win = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cent_id"))
    in.crossJoin(broadcast(cents))
      .withColumn("sim", round(dot("v", "cv") / (col("nrm") * col("cn")), 4))
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= keep)
  }

  /** The trained IVF index (centroids (cent_id, cv, cn), lists
    * (cent_id, vec_id, v, nrm): every vector in the list of its
    * nearest centroid), kept per (session, embeddings) by
    * [[Tables.checkpointed]]: [[annIvf]], [[dedupSemantic]],
    * [[knnGraph]] and [[clusterLabelTfidf]] all read the same lists. */
  private[graft] def ivfIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    Tables.checkpointed(spark, "ivf", dir, "embeddings", ())(buildIvfIndex(spark, dir))

  private def buildIvfIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = corpus(spark, dir).localCheckpoint()
    val k = math.min(IvfKCap.toLong, math.max(IvfKMin.toLong,
      math.ceil(math.sqrt(c.count().toDouble)).toLong))
    val sample = trainSample(c, "ivf-train-v1", TrainPerCentroid * k)
    val seeds = sample.orderBy(col("h"), col("vec_id")).limit(k.toInt)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    // Lloyd refinement: per-dimension integer-exact rounded mean of the
    // quantized members; the refined centroid lives on the 1/1024 grid
    val qSums = (0 until Dim).map(i =>
      sum(round(col("v").getItem(i) * lit(1024.0)).cast("long")).as(s"s$i"))
    val cents = nearestCents(sample, seeds, 1)
      .groupBy(col("cent_id"))
      .agg(qSums.head, qSums.tail :+ count(lit(1)).as("cnt"): _*)
      .select(col("cent_id"), array((0 until Dim).map(i =>
        Portable.floorDiv(col(s"s$i") + call_function("div", col("cnt"), lit(2L)),
          col("cnt")).cast("double")): _*).as("cv"))
      .withColumn("cn", sqrt(dot("cv", "cv")))
      .localCheckpoint()
    val lists = nearestCents(c, cents, 1)
      .select(col("cent_id"), col("vec_id"), col("v"), col("nrm"))
      .localCheckpoint()
    // each checkpoint is eager: the sample and the corpus are scratch
    Seq(sample, c).foreach(Checkpoints.drop)
    (cents, lists)
  }

  def annIvf(spark: SparkSession, dir: String,
             nQueries: Int = NQueries): DataFrame = {
    val (cents, lists) = ivfIndex(spark, dir)
    val queries = lists.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("v"), col("nrm"))
    val qprobe = nearestCents(queries, cents, NProbe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cent_id"))
    val win = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    lists.join(broadcast(qprobe), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
      .withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("cent_id"), col("vec_id"), col("cosine"), col("rank"))
  }

  /** The IVF index-build CTE chain (corpus → bounded training sample →
    * seeds → one Lloyd round → `cents`/`s1`/`assigned`) shared by the
    * IVF oracles — the SQL mirror of [[ivfIndex]]. */
  private def ivfAssignedCtes: String = {
    val qSums = (0 until Dim)
      .map(i => s"SUM(CAST(ROUND(v[${i + 1}] * 1024.0, 0) AS BIGINT)) AS s$i")
      .mkString(", ")
    // floor division via the exact-multiple trick: subtract the
    // positive mod first, then `//` — floor and trunc agree on exact
    // multiples, so this matches Spark's floor for negative sums too
    val cvArr = (0 until Dim)
      .map { i =>
        val num = s"(s$i + cnt // 2)"
        s"CAST(($num - ((($num % cnt) + cnt) % cnt)) // cnt AS DOUBLE)"
      }
      .mkString("[", ", ", "]")
    s"""$corpusSql,
       |kk AS (SELECT LEAST($IvfKCap, GREATEST($IvfKMin, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))) AS k FROM c),
       |sample AS (${trainSampleSql("ivf-train-v1", s"(SELECT k * $TrainPerCentroid FROM kk)")}),
       |seeds AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM sample
       |  ORDER BY h, vec_id LIMIT (SELECT k FROM kk)),
       |s0 AS (SELECT sample.vec_id, sample.v, seeds.cent_id,
       |    ROUND((${dotSql("sample.v", "seeds.cv")}) / (sample.nrm * seeds.cn), 4) AS sim
       |  FROM sample CROSS JOIN seeds),
       |a0 AS (SELECT cent_id, vec_id, v FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cent_id) AS rn FROM s0
       |  ) WHERE rn = 1),
       |sums AS (SELECT cent_id, $qSums, COUNT(*) AS cnt FROM a0 GROUP BY cent_id),
       |refined AS (SELECT cent_id, $cvArr AS cv FROM sums),
       |cents AS (SELECT cent_id, cv, sqrt(${dotSql("cv", "cv")}) AS cn FROM refined),
       |s1 AS (SELECT c.vec_id, c.v, c.nrm, cents.cent_id,
       |    ROUND((${dotSql("c.v", "cents.cv")}) / (c.nrm * cents.cn), 4) AS sim
       |  FROM c CROSS JOIN cents),
       |assigned AS (SELECT cent_id, vec_id, v, nrm FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cent_id) AS rn FROM s1
       |  ) WHERE rn = 1)""".stripMargin
  }

  def annIvfSql(): String = {
    s"""WITH $ivfAssignedCtes,
       |qprobe AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, cent_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, cent_id) AS rn
       |    FROM s1 WHERE vec_id < $NQueries
       |  ) WHERE rn <= $NProbe),
       |scored AS (SELECT q.query_id, a.cent_id, a.vec_id,
       |    ROUND((${dotSql("q.qv", "a.v")}) / (q.qn * a.nrm), 4) AS cosine
       |  FROM qprobe q JOIN assigned a ON a.cent_id = q.cent_id
       |    AND a.vec_id <> q.query_id)
       |SELECT query_id, cent_id, vec_id, cosine, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored
       |) WHERE rank <= $AnnTopK""".stripMargin
  }

  /** C25 — semantic dedup (SemDeDup-style: arXiv:2303.09540 — dedup in
    * embedding space by clustering, then dropping near-identical
    * neighbors WITHIN each cluster): every vector is filed into its IVF
    * cell (the lists of C13's [[ivfIndex]] entry, so the cluster
    * structure is shared with ANN), and within each cell every pair is
    * scored with the exact cosine; a doc
    * whose cell holds a LOWER-id doc with cosine ≥ τ is dropped, keyed
    * to its smallest such keeper. Output: one row per dropped doc
    * (doc_id, cent_id, dup_of, cosine-to-keeper).
    *
    * Scale shape: NEVER all-pairs — the quadratic work is per-cell
    * (cell size ≈ n/k = √n under k~√n, so Σ|cell|² ≈ n^1.5 ≪ n²; past
    * IvfKCap² ≈ 1.7·10⁷ vectors k stops growing and cells grow as
    * n/IvfKCap). The pair join shuffles once on cent_id; the keeper
    * choice is one window per dropped doc. The dropped set feeds C18's
    * cluster resolution exactly like the MinHash pair stream. */
  def dedupSemantic(spark: SparkSession, dir: String,
                    tau: Double = CosineTau): DataFrame = {
    val (_, lists) = ivfIndex(spark, dir)
    val a = lists.select(col("cent_id"), col("vec_id").as("dup_of"),
      col("v").as("va"), col("nrm").as("na"))
    val b = lists.select(col("cent_id"), col("vec_id").as("doc_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("dup_of"))
    a.join(b, Seq("cent_id"))
      .filter(col("dup_of") < col("doc_id"))
      .withColumn("cosine", round(dot("va", "vb") / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= tau)
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cent_id"), col("dup_of"), col("cosine"))
  }

  def dedupSemanticSql(): String =
    s"""WITH $ivfAssignedCtes,
       |pairs AS (SELECT b.vec_id AS doc_id, a.cent_id, a.vec_id AS dup_of,
       |    ROUND((${dotSql("a.v", "b.v")}) / (a.nrm * b.nrm), 4) AS cosine
       |  FROM assigned a JOIN assigned b ON a.cent_id = b.cent_id
       |    AND a.vec_id < b.vec_id)
       |SELECT doc_id, cent_id, dup_of, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY dup_of) AS rn
       |  FROM pairs WHERE cosine >= $CosineTau
       |) WHERE rn = 1""".stripMargin

  /** C29 — kNN-graph construction over the embedding corpus: each
    * vector's top-`k` cosine neighbors WITHIN ITS IVF CELL, plus the
    * mutual flag (reverse edge also present) that graph-based dedup /
    * clustering / NN-descent seeding consumes downstream.
    *
    * Scale: candidates are within-cell only — Σ|cell|² bounded work
    * exactly like [[dedupSemantic]] (never all-pairs), reading the
    * SAME lists of [[ivfIndex]], so a session composing dedup + graph
    * pays for one training pass and one list assignment. Ranking is a
    * per-src top-k window on the cell join; the mutual flag is a
    * self-equi-join of the (n·k)-row edge frame on the reversed key —
    * edge-scale, not corpus-scale. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    val (_, lists) = ivfIndex(spark, dir)
    val a = lists.select(col("cent_id"), col("vec_id").as("src"),
      col("v").as("va"), col("nrm").as("na"))
    val b = lists.select(col("cent_id"), col("vec_id").as("dst"),
      col("v").as("vb"), col("nrm").as("nb"))
    val win = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
    val edges = a.join(b, Seq("cent_id"))
      .filter(col("src") =!= col("dst"))
      .withColumn("cosine", round(dot("va", "vb") / (col("na") * col("nb")), 4))
      .withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= KnnK)
      .select(col("src"), col("dst"), col("rank"), col("cosine"))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"), lit(1L).as("m"))
    edges.join(rev, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("rank"), col("cosine"),
        coalesce(col("m"), lit(0L)).as("mutual"))
  }

  /** C43 — cluster labeling: the top-`k` TF-IDF terms of every IVF
    * cell, the corpus-exploration step after clustering (what IS this
    * cluster about?). Each cell is a super-document: tf = the term's
    * occurrence count across the cell's docs (doc_id ≡ vec_id in the
    * corpus), idf = the log-free linear ratio n_cells/df_cells (the
    * C15 precedent — a monotone transform preserves per-cell ranking
    * for fixed df), score = tf·n_cells div df_cells in exact BIGINT,
    * ties pinned to the lexicographically smaller term. Reads the
    * lists of the C13 index ([[ivfIndex]]); the token explode is the
    * one corpus-scale pass, tf/df aggregations are (cells×vocab)- and
    * vocab-bounded, the top-k is a cell-keyed window. */
  def clusterLabelTfidf(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfIndex(spark, dir)._2
      .select(col("vec_id").as("doc_id"), col("cent_id"))
    val toks = graft.ops.Text.docTokens(spark, dir)
      .select(col("doc_id"), explode(col("toks")).as("term"))
    val tf = toks.join(assigned, "doc_id")
      .groupBy(col("cent_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df_cells"))
    val nCells = assigned.select(col("cent_id")).distinct()
      .agg(count(lit(1)).as("n_cells"))
    val win = Window.partitionBy(col("cent_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfc, "term").crossJoin(broadcast(nCells))
      .withColumn("score",
        call_function("div", col("tf") * col("n_cells"), col("df_cells")))
      .withColumn("rnk", row_number().over(win).cast("long"))
      .filter(col("rnk") <= LabelTopK)
      .select(col("cent_id"), col("rnk"), col("term"), col("tf"),
        col("df_cells"), col("score"))
  }

  def clusterLabelTfidfSql(): String =
    s"""WITH $ivfAssignedCtes,
       |cells AS (SELECT vec_id AS doc_id, cent_id FROM assigned),
       |toks AS (
       |  SELECT doc_id, unnest(${graft.ops.Text.tokensSql("text")}) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT c.cent_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM toks t JOIN cells c ON t.doc_id = c.doc_id
       |  GROUP BY 1, 2
       |), dfc AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_cells FROM tf GROUP BY 1
       |), nc AS (SELECT CAST(COUNT(DISTINCT cent_id) AS BIGINT) AS n_cells FROM cells)
       |SELECT cent_id, rnk, term, tf, df_cells, score FROM (
       |  SELECT f.cent_id, f.term, f.tf, d.df_cells,
       |    f.tf * nc.n_cells // d.df_cells AS score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY f.cent_id
       |      ORDER BY f.tf * nc.n_cells // d.df_cells DESC, f.term) AS BIGINT) AS rnk
       |  FROM tf f JOIN dfc d ON f.term = d.term CROSS JOIN nc
       |) WHERE rnk <= $LabelTopK""".stripMargin

  def knnGraphSql(): String =
    s"""WITH $ivfAssignedCtes,
       |pairs AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ROUND((${dotSql("a.v", "b.v")}) / (a.nrm * b.nrm), 4) AS cosine
       |  FROM assigned a JOIN assigned b ON a.cent_id = b.cent_id
       |    AND a.vec_id <> b.vec_id),
       |edges AS (SELECT src, dst, CAST(rank AS BIGINT) AS rank, cosine FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cosine DESC, dst) AS rank
       |    FROM pairs
       |  ) WHERE rank <= $KnnK)
       |SELECT e.src, e.dst, e.rank, e.cosine,
       |  CAST(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS mutual
       |FROM edges e LEFT JOIN (SELECT dst AS src, src AS dst FROM edges) r
       |  ON e.src = r.src AND e.dst = r.dst""".stripMargin

  /** C30 — product quantization (the public PQ construction of
    * Jégou/Douze/Schmid, IEEE TPAMI 2011): the 64-dim space splits
    * into `PqSubspaces` (8) 8-dim subspaces, each with its own
    * `PqSubK`-entry (16) codebook trained on a sample drawn like the
    * IVF index's ([[trainSample]], its own salt; seed assignment + one
    * integer-exact Lloyd round on the 1/1024 grid, so the oracle
    * replays the training bit-for-bit). A vector's code is one hex
    * nibble per subspace — 4 bytes replacing 512, the memory format
    * ANN serving tiers hold in RAM at 100 TB scale.
    *
    * Scale: training is sample-bounded (PqSubK·TrainPerCentroid
    * rows); encoding is a fixed n×PqSubspaces×PqSubK fan-out (explode +
    * broadcast codebook join), collapsed by map-side partial aggregation —
    * min(struct) per (vec, sub) combines the 16 candidate rows inside
    * the explode's own partition before any shuffle. Distances are
    * rounded at 1e-4 with the cent-index tie-break (portable argmin);
    * the reconstruction error ships as e4-quantized BIGINT so the
    * 8-term sum is order-independent. The sizing constants are the
    * ones above [[trainSample]]; the oracle renders the same. */
  /** The trained PQ parts, kept per (session, embeddings) by
    * [[Tables.checkpointed]]: [[pqEncode]] and [[pqAdcTopK]] read the
    * same (corpus, codebook, assignments). */
  private[graft] def pqIndexParts(spark: SparkSession,
                                  dir: String): (DataFrame, DataFrame, DataFrame) =
    Tables.checkpointed(spark, "pq", dir, "embeddings", ())(buildPqIndex(spark, dir))

  /** (corpus, refined codebook (sub, cent, cv), assignments
    * (vec_id, sub, cent, rd)) — the trained-PQ state. */
  private def buildPqIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val S = Dim / PqSubspaces
    val c = corpus(spark, dir).localCheckpoint()
    def subExplode(df: DataFrame): DataFrame =
      df.select(col("vec_id"), explode(array((0 until PqSubspaces).map(s =>
          struct(lit(s).as("sub"), slice(col("v"), s * S + 1, S).as("sv"))): _*)).as("x"))
        .select(col("vec_id"), col("x.sub").as("sub"), col("x.sv").as("sv"))
    val sample = trainSample(c, "pq-train-v1", TrainPerCentroid * PqSubK)
    val seeds = sample.orderBy(col("h"), col("vec_id")).limit(PqSubK)
      .withColumn("cent",
        row_number().over(graft.util.Windows.bounded(col("h"), col("vec_id"))).cast("int") - 1)
    val book0 = seeds.select(explode(array((0 until PqSubspaces).map(s =>
        struct(lit(s).as("sub"), col("cent"),
          slice(col("v"), s * S + 1, S).as("cv"))): _*)).as("x"))
      .select(col("x.sub").as("sub"), col("x.cent").as("cent"), col("x.cv").as("cv"))
    val d2 = (0 until S).map(i =>
      (col("sv")(i) - col("cv")(i)) * (col("sv")(i) - col("cv")(i))).reduce(_ + _)
    def assign(ex: DataFrame, book: DataFrame): DataFrame =
      ex.join(broadcast(book), Seq("sub"))
        .withColumn("rd", round(d2, 4))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("rd"), col("cent"))).as("best"))
        .select(col("vec_id"), col("sub"),
          col("best.cent").as("cent"), col("best.rd").as("rd"))
    val exSample = subExplode(sample).localCheckpoint()
    val qSums = (0 until S).map(i =>
      sum(round(col("sv")(i) * 1024.0).cast("long")).as(s"s$i"))
    val book = assign(exSample, book0)
      .join(exSample, Seq("vec_id", "sub"))
      .groupBy(col("sub"), col("cent"))
      .agg(qSums.head, qSums.tail :+ count(lit(1)).as("cnt"): _*)
      // divide the grid integers back to vector scale: cosine is
      // scale-invariant so IVF never needs this, but L2 distances do;
      // /1024 is a power of two, so the double is exact both engines
      .select(col("sub"), col("cent"), array((0 until S).map(i =>
        (Portable.floorDiv(col(s"s$i") + Portable.floorDiv(col("cnt"), lit(2L)), col("cnt"))
          .cast("double") / lit(1024.0))): _*).as("cv"))
      .localCheckpoint()
    val assigned = assign(subExplode(c), book).localCheckpoint()
    Seq(exSample, sample).foreach(Checkpoints.drop)
    (c, book, assigned)
  }

  def pqEncode(spark: SparkSession, dir: String): DataFrame = {
    val (c, _, af) = pqIndexParts(spark, dir)
    af
      .groupBy(col("vec_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("sub"), lower(hex(col("cent"))).as("hx")))),
          x => x.getField("hx")), "").as("pq_code"),
        sum(round(col("rd") * 10000.0).cast("long")).as("err2_e4"))
      .join(c.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("pq_code"), col("err2_e4"))
  }

  def pqEncodeSql(): String = {
    val S = Dim / PqSubspaces
    def subUnion(src: String): String = (0 until PqSubspaces).map { s =>
      s"SELECT vec_id, $s AS sub, v[${s * S + 1}:${s * S + S}] AS sv FROM $src"
    }.mkString("\n    UNION ALL\n    ")
    val bookUnion = (0 until PqSubspaces).map { s =>
      s"SELECT $s AS sub, cent, v[${s * S + 1}:${s * S + S}] AS cv FROM seeds"
    }.mkString("\n    UNION ALL\n    ")
    val d2 = (0 until S).map(i =>
      s"(x.sv[${i + 1}] - b.cv[${i + 1}]) * (x.sv[${i + 1}] - b.cv[${i + 1}])")
      .mkString(" + ")
    val qSums = (0 until S)
      .map(i => s"SUM(CAST(ROUND(x.sv[${i + 1}] * 1024.0, 0) AS BIGINT)) AS s$i")
      .mkString(", ")
    val cvArr = (0 until S).map { i =>
      val num = s"(s$i + cnt // 2)"
      s"(CAST(($num - ((($num % cnt) + cnt) % cnt)) // cnt AS DOUBLE) / 1024.0)"
    }.mkString("[", ", ", "]")
    def argmin(ex: String, book: String): String =
      s"""SELECT vec_id, sub, cent, rd FROM (
         |    SELECT x.vec_id, x.sub, b.cent, ROUND($d2, 4) AS rd,
         |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.sub
         |        ORDER BY ROUND($d2, 4), b.cent) AS rn
         |    FROM $ex x JOIN $book b ON x.sub = b.sub) WHERE rn = 1""".stripMargin
    s"""WITH $corpusSql,
       |samp AS (${trainSampleSql("pq-train-v1", s"${TrainPerCentroid * PqSubK}")}),
       |seeds AS (SELECT vec_id, v,
       |    ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cent
       |  FROM samp ORDER BY h, vec_id LIMIT $PqSubK),
       |book0 AS (
       |    $bookUnion
       |),
       |sx AS (
       |    ${subUnion("samp")}
       |),
       |a0 AS (${argmin("sx", "book0")}),
       |book AS (SELECT sub, cent, $cvArr AS cv FROM (
       |    SELECT a0.sub, a0.cent, $qSums, COUNT(*) AS cnt
       |    FROM a0 JOIN sx x ON a0.vec_id = x.vec_id AND a0.sub = x.sub
       |    GROUP BY 1, 2)),
       |cx AS (
       |    ${subUnion("c")}
       |),
       |af AS (${argmin("cx", "book")}),
       |g AS (SELECT vec_id,
       |    string_agg(lower(to_hex(cent)), '' ORDER BY sub) AS pq_code,
       |    CAST(SUM(CAST(ROUND(rd * 10000.0, 0) AS BIGINT)) AS BIGINT) AS err2_e4
       |  FROM af GROUP BY 1)
       |SELECT g.vec_id, c.label, g.pq_code, g.err2_e4
       |FROM g JOIN c ON g.vec_id = c.vec_id""".stripMargin
  }

  /** C31 — asymmetric-distance (ADC) top-k over the PQ codes: the
    * serving pattern the codes exist for (Jégou et al. §IV). Each
    * query precomputes its distance to every codebook entry — a
    * PqSubspaces×PqSubK lookup table, broadcast — and a database vector's
    * approximate distance is the SUM OF TABLE LOOKUPS addressed by its
    * code nibbles: the 64-dim scan never touches the raw vectors
    * again. Distances live on the e4 integer grid (order-independent
    * sums, and ADC(q → q's own code) reconstructs q's err2_e4 exactly
    * — the cross-operator identity the spec pins).
    *
    * Scale: the LUT is queries×PqSubspaces×PqSubK rows (broadcast); the
    * scan is the code frame (n×PqSubspaces) joined to it with map-side
    * partial aggregation per (query, vec); one top-k window. */
  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val scores = pqAdcScores(spark, dir, NQueries)
      .filter(col("vec_id") =!= col("query_id"))
    val win = Window.partitionBy(col("query_id")).orderBy(col("adc_e4"), col("vec_id"))
    scores.withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("vec_id"), col("rank"), col("adc_e4"))
  }

  /** Full ADC score frame (query_id, vec_id, adc_e4), self included. */
  private[graft] def pqAdcScores(spark: SparkSession, dir: String,
                                 nQueries: Int): DataFrame = {
    val S = Dim / PqSubspaces
    val (c, book, af) = pqIndexParts(spark, dir)
    val qx = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), explode(array((0 until PqSubspaces).map(s =>
        struct(lit(s).as("sub"), slice(col("v"), s * S + 1, S).as("sv"))): _*)).as("x"))
      .select(col("query_id"), col("x.sub").as("sub"), col("x.sv").as("sv"))
    val d2 = (0 until S).map(i =>
      (col("sv")(i) - col("cv")(i)) * (col("sv")(i) - col("cv")(i))).reduce(_ + _)
    val lut = qx.join(book, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cent"),
        round(round(d2, 4) * 10000.0).cast("long").as("qd_e4"))
    af.join(broadcast(lut), Seq("sub", "cent"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qd_e4")).as("adc_e4"))
  }

  def pqAdcTopKSql(): String = {
    val S = Dim / PqSubspaces
    val d2q = (0 until S).map(i =>
      s"(q.sv[${i + 1}] - b.cv[${i + 1}]) * (q.sv[${i + 1}] - b.cv[${i + 1}])")
      .mkString(" + ")
    val qxUnion = (0 until PqSubspaces).map { s =>
      s"SELECT vec_id AS query_id, $s AS sub, v[${s * S + 1}:${s * S + S}] AS sv FROM c WHERE vec_id < $NQueries"
    }.mkString("\n    UNION ALL\n    ")
    val encodeBody = pqEncodeSql()
    // reuse the encode chain up to the assignment CTE `af`
    val ctes = encodeBody.substring(0, encodeBody.indexOf(",\ng AS ("))
    s"""$ctes,
       |qx AS (
       |    $qxUnion
       |),
       |lut AS (SELECT q.query_id, q.sub, b.cent,
       |    CAST(ROUND(ROUND($d2q, 4) * 10000.0, 0) AS BIGINT) AS qd_e4
       |  FROM qx q JOIN book b ON q.sub = b.sub),
       |adc AS (SELECT l.query_id, a.vec_id,
       |    CAST(SUM(l.qd_e4) AS BIGINT) AS adc_e4
       |  FROM af a JOIN lut l ON a.sub = l.sub AND a.cent = l.cent
       |  GROUP BY 1, 2)
       |SELECT query_id, vec_id, rank, adc_e4 FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc_e4, vec_id) AS rank
       |  FROM adc WHERE vec_id <> query_id
       |) WHERE rank <= $AnnTopK""".stripMargin
  }

  /** C35 — random-projection dimensionality reduction (the
    * Johnson–Lindenstrauss / Achlioptas sign-matrix construction,
    * public): project 64-dim vectors onto [[ProjDim]] seeded ±1
    * hyperplanes — the cheap pre-ANN reduction production pipelines
    * run before indexing (4× fewer dims ⇒ 4× cheaper distances; the
    * same literal-hyperplane machinery C5/C7 bucket with, kept
    * CONTINUOUS instead of signed). Row-local, zero shuffle; the
    * output ships the %.4f component digest (C17's portable-code
    * pattern) + the e4 projected norm so the oracle checks every
    * component and the spec checks neighborhood preservation. */
  def randomProjection(spark: SparkSession, dir: String): DataFrame = {
    val frame = projFrame(spark, dir, ProjDim)
    // + 0.0 normalizes IEEE signed zero before formatting: a projection
    // within 5e-5 of zero rounds to -0.0 under DuckDB's binary ROUND
    // but +0.0 under Spark's decimal-string route, and '%.4f' renders
    // them "-0.0000" vs "0.0000" — caught by the emb25 dense-tier
    // oracle in r14 (invisible below ~50k vectors: no projection
    // landed inside the window)
    frame.select(col("vec_id"), col("label"),
      md5(concat_ws(",",
        (0 until ProjDim).map(j =>
          graft.functions.WireRender.fixed4(col(s"p$j") + lit(0.0))): _*)
        .cast("binary")).as("proj_digest"),
      round(sqrt((0 until ProjDim).map(j => col(s"p$j") * col(s"p$j"))
        .reduce(_ + _)) * 10000.0).cast("long").as("proj_norm_e4"))
  }

  /** The projected frame (vec_id, label, p0..p{outDim-1}), each
    * component its own JIT-able column. */
  private[graft] def projFrame(spark: SparkSession, dir: String,
                               outDim: Int): DataFrame = {
    val w = planes(outDim, seed = 23L)
    val comps = (0 until outDim).map(j => round(proj("v", w(j)), 4).as(s"p$j"))
    corpus(spark, dir).select(col("vec_id") +: col("label") +: comps: _*)
  }

  def randomProjectionSql(): String = {
    val w = planes(ProjDim, seed = 23L)
    val comps = (0 until ProjDim)
      .map(j => s"printf('%.4f', ROUND(${projSql("v", w(j))}, 4) + 0.0)")
      .mkString(", ',', ")
    val norm = (0 until ProjDim)
      .map(j => s"ROUND(${projSql("v", w(j))}, 4) * ROUND(${projSql("v", w(j))}, 4)")
      .mkString(" + ")
    s"""WITH $corpusSql
       |SELECT vec_id, label,
       |  md5(CONCAT($comps)) AS proj_digest,
       |  CAST(ROUND(sqrt($norm) * 10000.0, 0) AS BIGINT) AS proj_norm_e4
       |FROM c""".stripMargin
  }

  /** C17 — int8 embedding quantization: per-vector affine compression
    * (the storage/transport format ANN indexes and feature stores ship
    * at scale — 8× smaller than float64, 4× smaller than float32).
    *
    * Engine-portable by construction: the zero point is the vector's
    * own min component (an existing double — identical bits in both
    * engines); the scale is the smallest POWER OF TWO with
    * `255·scale ≥ range`, picked by a comparison chain (no log(), which
    * is not bit-portable); codes are `floor((v_i − mn)/scale)` — the
    * division is exact (power-of-2 divisor), so floor is deterministic.
    * Output: per-vector scale exponent, zero point, a portable md5
    * digest of the code string, and the exact worst-case
    * reconstruction error (un-rounded double — same IEEE sequence both
    * sides). Row-local; no shuffle. */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    val expRange = -24 to 8
    val v = Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("rng", array_max(col("v")) - col("mn"))
    // smallest 2^e with 255*2^e >= rng (e=8 absorbs any larger range)
    val expCol = expRange.init.reverse.foldLeft(lit(expRange.last)) {
      (acc, e) => when(col("rng") <= lit(255.0 * math.pow(2, e)), lit(e)).otherwise(acc)
    }
    val withScale = v.withColumn("scale_exp", expCol)
      .withColumn("scale", pow(lit(2.0), col("scale_exp")))
    // codes + max_err in ONE native loop (graft_quantize): the unrolled
    // 64-column projection generated 20,382 bytecodes — over HotSpot's
    // 8000-bytecode JIT ceiling, so the fused stage ran interpreted
    // (JitCeilingSpec pins the budget). Projected as a named struct
    // column first so the two field reads cannot duplicate the pass.
    withScale
      .withColumn("q",
        call_function("graft_quantize", col("v"), col("mn"), col("scale")))
      .select(col("vec_id"), col("label"), col("scale_exp").cast("long").as("scale_exp"),
        col("mn").as("zero_point"),
        md5(col("q").getField("codes").cast("binary")).as("codes_digest"),
        col("q").getField("max_err").as("max_err"))
  }

  def embeddingQuantizeSql(): String = {
    val expRange = -24 to 8
    val expCase = expRange.init
      .map(e => s"WHEN rng <= ${255.0 * math.pow(2, e)} THEN $e")
      .mkString("CASE ", " ", s" ELSE ${expRange.last} END")
    val codes = (1 to Dim)
      .map(i => s"CAST(floor((v[$i] - mn) / scale) AS BIGINT)")
      .mkString("CONCAT_WS(',', ", ", ", ")")
    val errs = (1 to Dim)
      .map(i => s"abs(v[$i] - (mn + CAST(floor((v[$i] - mn) / scale) AS BIGINT) * scale))")
      .mkString("GREATEST(", ", ", ")")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |m AS (SELECT vec_id, label, v, list_min(v) AS mn,
       |        list_max(v) - list_min(v) AS rng FROM e),
       |s AS (SELECT *, $expCase AS scale_exp FROM m),
       |sc AS (SELECT *, power(2.0, scale_exp) AS scale FROM s)
       |SELECT vec_id, label, CAST(scale_exp AS BIGINT) AS scale_exp,
       |  mn AS zero_point, MD5($codes) AS codes_digest, $errs AS max_err
       |FROM sc""".stripMargin
  }

  def annLshBucketedSql(): String = {
    val w = planes(MaxBucketPlanes, seed = 7L)
    // the oracle computes the FULL fixed-grid bucket and masks it to
    // the COUNT-derived plane count (mask = 2^q - 1 via the ladder)
    val bucketSql = (0 until MaxBucketPlanes)
      .map(p => s"(CASE WHEN ${projSql("v", w(p))} >= 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
    val probeMasks = 0L +: (0 until MaxBucketPlanes).map(p => 1L << p)
    val probes = probeMasks.map(m =>
      s"SELECT query_id, qv, qn, xor(qbucket, $m) AS bucket FROM q " +
        s"WHERE $m <= (SELECT mask FROM pm) OR $m = 0")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $corpusSql,
       |pm AS (SELECT ${planeMaskSql("COUNT(*)")} AS mask FROM c),
       |cb AS (SELECT vec_id, label, v, nrm,
       |  ($bucketSql) & (SELECT mask FROM pm) AS bucket FROM c),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qbucket
       |  FROM cb WHERE vec_id < $NQueries),
       |probes AS (
       |  $probes
       |),
       |scored AS (SELECT p.query_id, cb.bucket, cb.vec_id,
       |    ROUND((${dotSql("p.qv", "cb.v")}) / (p.qn * cb.nrm), 4) AS cosine
       |  FROM probes p JOIN cb ON cb.bucket = p.bucket AND cb.vec_id <> p.query_id)
       |SELECT query_id, bucket, vec_id, cosine, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored
       |) WHERE rank <= $AnnTopK""".stripMargin
  }

  // ---------------------------------------------------------------- C62

  /** C62 — hard-negative mining, the training-pair generator for
    * contrastive retrieval/embedding fine-tuning (the "mine the
    * near-miss" step of the DPR/sentence-transformers lineage): for
    * each query vector, the top-k most-similar OTHER-label vectors —
    * the negatives near the decision boundary that teach the model
    * anything (random negatives are trivially separable) — each
    * carrying its rank, its cosine, the query's best same-label
    * positive, and the margin positive−negative (negative margin =
    * the negative OUTSCORES every positive: the pair a curriculum
    * orders first and a label auditor reads as a mislabel signal;
    * -2.0 sentinel when the query has no positive in the corpus). ONE
    * corpus scan against the broadcast query block scores both arms;
    * the positive arm folds to a per-query 1-row max and broadcasts
    * back; the negative arm is the C6 per-query top-k rank. Nothing
    * quadratic in the corpus — the quadratic side is capped by the
    * bounded query block. */
  def hardNegatives(spark: SparkSession, dir: String,
                    nQueries: Int = NQueries, k: Int = HardNegK): DataFrame = {
    val c = corpus(spark, dir)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
    val posBest = scored.filter(col("label") === col("qlabel"))
      .groupBy(col("query_id")).agg(max(col("cosine")).as("pos_best_cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.filter(col("label") =!= col("qlabel"))
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= k)
      .join(broadcast(posBest), Seq("query_id"), "left")
      .withColumn("pos_best_cosine",
        coalesce(col("pos_best_cosine"), lit(-2.0d)))
      .select(col("query_id"), col("vec_id").as("neg_vec_id"),
        col("neg_rank"), col("cosine").as("neg_cosine"),
        col("pos_best_cosine"),
        round(col("pos_best_cosine") - col("cosine"), 4).as("margin"))
  }

  // ---------------------------------------------------------------- C76

  /** C76 — embedding covariance: the Gram/covariance matrix computed
    * before any whitening, PCA, or ZCA pass over an embedding column
    * (and the matrix SVD-based dimension reduction factorizes) —
    * completing C57's per-dimension diagonal with the OFF-DIAGONAL
    * structure (two dimensions with |corr| ≈ 1 carry one dimension's
    * worth of signal: the redundancy a whitening pass removes).
    * Components quantize to micro units FIRST so every sum is an
    * order-independent exact integer (the C57 discipline); covariance
    * in micro² via E[q_i·q_j] − E[q_i]E[q_j] with the exact-multiple
    * floor division on possibly-NEGATIVE sums (plain div/// truncate
    * toward zero and diverge across engines). The dim² accumulation
    * runs PARTITION-LOCALLY — one mutable Dim·(Dim+1)/2 long array
    * per partition absorbs every vector's outer product in a tight
    * JVM loop, then emits its 2080 partial cells once (the textbook
    * X^T X map-reduce; the Multimodal byte-fold precedent for
    * inherently-loopy per-partition work) — so the shuffle carries
    * partitions × 2080 rows instead of corpus × 2080 (the first cut
    * materialized the fan-out as an explode and paid 103 s at the
    * 25x embedding probe; this shape is corpus-volume-free past the
    * scan). Integer sums are order-independent, so partition
    * boundaries cannot change the result. Upper triangle only
    * (i ≤ j). */
  def embeddingCovariance(spark: SparkSession, dir: String): DataFrame = {
    val spk = spark
    import spk.implicits._
    val cells = corpus(spark, dir)
      .select(col("v")).as[Seq[Double]]
      .mapPartitions { it =>
        var dim = -1
        var accQQ: Array[Long] = null
        var accQ: Array[Long] = null
        var n = 0L
        it.foreach { v =>
          if (dim < 0) {
            dim = v.length
            accQQ = Array.ofDim[Long](dim * (dim + 1) / 2)
            accQ = Array.ofDim[Long](dim)
          }
          // Half-away-from-zero, matching the oracle's ROUND and the
          // C57 Catalyst round(): JVM math.round is half-toward-+Inf,
          // which diverges on negative exact-half micro boundaries.
          val q = Array.tabulate(dim) { i =>
            val x = v(i) * 1000000d
            if (x < 0) -math.round(-x) else math.round(x)
          }
          var idx = 0; var i = 0
          while (i < dim) {
            accQ(i) += q(i)
            var j = i
            // Long headroom: |q| ~ 1e6 for unit-scale components, so each
            // q_i*q_j term is ~1e12 and the Long partial wraps past ~9e6
            // vectors PER PARTITION (DuckDB's SUM promotes to HUGEINT and
            // would not). At larger per-partition volumes split the scan
            // into more partitions (the merge is exact-integer and
            // order-free) — documented bound, not a silent contract.
            while (j < dim) { accQQ(idx) += q(i) * q(j); idx += 1; j += 1 }
            i += 1
          }
          n += 1
        }
        if (dim < 0) Iterator.empty
        else {
          var idx = -1
          (for { i <- 0 until dim; j <- i until dim } yield {
            idx += 1
            (i.toLong, j.toLong, n, accQQ(idx), accQ(i), accQ(j))
          }).iterator
        }
      }
      .toDF("i", "j", "pn", "pqq", "pqi", "pqj")
      .groupBy(col("i"), col("j"))
      .agg(sum(col("pn")).as("n_vecs"), sum(col("pqq")).as("sum_qq"),
        sum(col("pqi")).as("sum_qi"), sum(col("pqj")).as("sum_qj"))
    cells.select(col("i"), col("j"), col("n_vecs"),
      (Portable.floorDiv(col("sum_qq"), col("n_vecs")) -
        Portable.floorDiv(col("sum_qi"), col("n_vecs")) *
          Portable.floorDiv(col("sum_qj"), col("n_vecs"))).as("cov_e12"),
      (col("i") === col("j")).cast("long").as("diag"))
  }

  def embeddingCovarianceSql(): String =
    s"""WITH $covCellsCtes
       |SELECT i, j, n_vecs, cov_e12, diag FROM cov_cells""".stripMargin

  /** The C76 covariance as a reusable CTE chain ending in
    * `cov_cells(i, j, n_vecs, cov_e12, diag)` — shared by the C76
    * oracle and the C80 PCA oracle (which re-derives the power
    * iteration from these exact integer cells). */
  private def covCellsCtes: String = {
    def floorDiv(num: String, den: String) =
      s"($num - ((($num % $den) + $den) % $den)) // $den"
    s"""$corpusSql,
       |q AS (
       |  SELECT vec_id, list_transform(v,
       |    x -> CAST(ROUND(x * 1000000, 0) AS BIGINT)) AS qv
       |  FROM c
       |), pairs AS (
       |  SELECT CAST(e.i - 1 AS BIGINT) AS i, CAST(e.j - 1 AS BIGINT) AS j,
       |    e.qq
       |  FROM (
       |    SELECT UNNEST(flatten(list_transform(
       |      range(1, len(qv) + 1),
       |      i -> list_transform(range(CAST(i AS INT), len(qv) + 1),
       |        j -> {'i': i, 'j': j, 'qq': qv[CAST(i AS INT)] * qv[j]}))))
       |      AS e
       |    FROM q)
       |), agg AS (
       |  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |    CAST(SUM(qq) AS BIGINT) AS sum_qq
       |  FROM pairs GROUP BY 1, 2
       |), means AS (
       |  SELECT dim,
       |    CAST(${floorDiv("sum_q", "n")} AS BIGINT) AS mean_micro
       |  FROM (
       |    SELECT CAST(e.i - 1 AS BIGINT) AS dim,
       |      CAST(SUM(e.x) AS BIGINT) AS sum_q,
       |      CAST(COUNT(*) AS BIGINT) AS n
       |    FROM (
       |      SELECT UNNEST(list_transform(range(1, len(qv) + 1),
       |        i -> {'i': i, 'x': qv[CAST(i AS INT)]})) AS e
       |      FROM q)
       |    GROUP BY 1)
       |),
       |cov_cells AS MATERIALIZED (
       |  SELECT a.i, a.j, a.n_vecs,
       |    CAST(${floorDiv("a.sum_qq", "a.n_vecs")}
       |      - mi.mean_micro * mj.mean_micro AS BIGINT) AS cov_e12,
       |    CAST(a.i = a.j AS BIGINT) AS diag
       |  FROM agg a
       |  JOIN means mi ON a.i = mi.dim
       |  JOIN means mj ON a.j = mj.dim
       |)""".stripMargin
  }

  // ---------------------------------------------------------------- C80

  /** PCA iteration count — fixed so both engines unroll identically. */
  val PcaIters = 12

  private def roundHalfAway(d: Double): Long =
    if (d < 0) -math.round(-d) else math.round(d)

  private def floorDivL(num: Long, den: Long): Long =
    (num - (((num % den) + den) % den)) / den

  /** Quantized max-norm power iteration on an integer covariance —
    * the pure solve, spec-drivable with handcrafted matrices. Every
    * step stays on the micro-integer grid: y = C·x in exact Long
    * arithmetic, then x' = round(y / max|y| · 1e6) half-away-from-zero
    * (the single double divide both engines perform identically), so
    * the T-step trajectory — not just the limit — is engine-portable.
    * A zero matvec (degenerate all-zero covariance) keeps x. */
  private[graft] def powerIterate(dim: Int, covMicro: Array[Array[Long]],
                                  iters: Int): Array[Long] = {
    var d0 = 0
    var i = 1
    while (i < dim) { if (covMicro(i)(i) > covMicro(d0)(d0)) d0 = i; i += 1 }
    var x = Array.ofDim[Long](dim)
    x(d0) = 1000000L
    var t = 0
    while (t < iters) {
      val y = Array.tabulate(dim) { r =>
        var s = 0L; var j = 0
        while (j < dim) { s += covMicro(r)(j) * x(j); j += 1 }
        s
      }
      var m = 0L
      y.foreach(v => if (math.abs(v) > m) m = math.abs(v))
      if (m != 0L) x = y.map(v => roundHalfAway(v.toDouble / m * 1e6))
      t += 1
    }
    x
  }

  /** C80 — PCA projection along the top principal direction: the
    * dimension-reduction / whitening front door every embedding
    * pipeline passes through (and the op C76 computes its covariance
    * FOR). Spark-first shape = Spark MLlib's own PCA: the Gramian/
    * covariance is computed DISTRIBUTED (C76's partition-local outer
    * products — the only corpus pass), the O(dim²) eigen-solve runs on
    * the driver over the dim·(dim+1)/2 integer cells, and the learned
    * direction returns to the executors as a broadcast literal for a
    * row-local projection — no driver loop ever touches row data.
    *
    * Engine parity is exact, not approximate: the covariance cells are
    * C76's integers; the solve is [[powerIterate]]'s quantized
    * max-norm power iteration (micro-integer grid every step, one
    * double divide per step performed identically by both engines);
    * the DuckDB oracle re-derives the SAME trajectory by unrolling the
    * T matvec+requantize steps as CTE pairs over the mirrored cell
    * table — an independent re-derivation, not an injected literal.
    * Projection: q·x in exact Long micro×micro arithmetic, reported in
    * micro units (floor division, exact-multiple form for negatives).
    *
    * Scale shape at 100 TB: one corpus scan for the covariance
    * (partition-local, corpus-volume-free past the scan), one
    * broadcast-literal row-local projection scan; the solve is
    * O(T·dim²) driver arithmetic — dimension-scale, data-free. */
  def embeddingPcaProject(spark: SparkSession, dir: String): DataFrame = {
    val cells = embeddingCovariance(spark, dir)
      .select(col("i"), col("j"), col("cov_e12")).collect()
    val dim = cells.iterator.map(_.getLong(1)).max.toInt + 1
    val cs = Array.ofDim[Long](dim, dim)
    cells.foreach { r =>
      val i = r.getLong(0).toInt
      val j = r.getLong(1).toInt
      // micro units so the matvec stays inside Long (|cov_s|·|x|·dim
      // ≤ 1e6·1e6·dim ≪ 2^63)
      val s = floorDivL(r.getLong(2), 1000000L)
      cs(i)(j) = s
      cs(j)(i) = s
    }
    val x = powerIterate(dim, cs, PcaIters)
    val xlit = typedLit(x.toSeq)
    corpus(spark, dir)
      .withColumn("pc1", xlit)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr(
          """aggregate(
            |  zip_with(v, pc1,
            |    (a, b) -> CAST(ROUND(a * 1000000, 0) AS BIGINT) * b),
            |  0L, (acc, e) -> acc + e)""".stripMargin).as("p12"))
      .select(col("vec_id"), col("label"),
        Portable.floorDiv(col("p12"), lit(1000000L)).as("proj_micro"))
  }

  def embeddingPcaProjectSql(): String = {
    // mirrored integer cell table in micro units
    val mirror =
      s"""cm AS MATERIALIZED (
         |  SELECT i, j,
         |    CAST((cov_e12 - (((cov_e12 % 1000000) + 1000000) % 1000000))
         |      // 1000000 AS BIGINT) AS cov_s
         |  FROM cov_cells
         |  UNION ALL
         |  SELECT j, i,
         |    CAST((cov_e12 - (((cov_e12 % 1000000) + 1000000) % 1000000))
         |      // 1000000 AS BIGINT)
         |  FROM cov_cells WHERE i <> j
         |)""".stripMargin
    val start =
      s"""x0 AS MATERIALIZED (
         |  SELECT cm.i AS dim,
         |    CASE WHEN cm.i = (SELECT i FROM cov_cells WHERE i = j
         |      ORDER BY cov_e12 DESC, i LIMIT 1)
         |      THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS xv
         |  FROM (SELECT DISTINCT i FROM cm) cm
         |)""".stripMargin
    val steps = (1 to PcaIters).map { t =>
      s"""y$t AS MATERIALIZED (
         |  SELECT cm.i AS dim, CAST(SUM(cm.cov_s * p.xv) AS BIGINT) AS y
         |  FROM cm JOIN x${t - 1} p ON cm.j = p.dim GROUP BY 1
         |), x$t AS MATERIALIZED (
         |  SELECT p.dim,
         |    CASE WHEN (SELECT MAX(ABS(y)) FROM y$t) = 0 THEN p.xv
         |      ELSE CAST(ROUND(CAST(q.y AS DOUBLE)
         |        / (SELECT MAX(ABS(y)) FROM y$t) * 1000000, 0) AS BIGINT)
         |    END AS xv
         |  FROM x${t - 1} p JOIN y$t q ON q.dim = p.dim
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $covCellsCtes,
       |$mirror,
       |$start,
       |$steps
       |SELECT vec_id, label,
       |  CAST((p12 - (((p12 % 1000000) + 1000000) % 1000000)) // 1000000
       |    AS BIGINT) AS proj_micro
       |FROM (
       |  SELECT c.vec_id, CAST(c.label AS BIGINT) AS label,
       |    CAST(SUM(CAST(ROUND(c.v[CAST(d.dim AS INT) + 1] * 1000000, 0)
       |      AS BIGINT) * d.xv) AS BIGINT) AS p12
       |  FROM c CROSS JOIN x$PcaIters d
       |  GROUP BY c.vec_id, c.label
       |)""".stripMargin
  }

  def hardNegativesSql(): String =
    s"""WITH $corpusSql,
       |scored AS (
       |  SELECT a.vec_id AS query_id, a.label AS qlabel,
       |    b.vec_id, b.label,
       |    ROUND((${dotSql("a.v", "b.v")}) / (a.nrm * b.nrm), 4) AS cosine
       |  FROM c a JOIN c b ON a.vec_id < $NQueries AND b.vec_id <> a.vec_id
       |), pos AS (
       |  SELECT query_id, MAX(cosine) AS pos_best_cosine
       |  FROM scored WHERE label = qlabel GROUP BY 1
       |), neg AS (
       |  SELECT query_id, vec_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS neg_rank
       |  FROM scored WHERE label <> qlabel
       |)
       |SELECT n.query_id, n.vec_id AS neg_vec_id,
       |  CAST(n.neg_rank AS BIGINT) AS neg_rank, n.cosine AS neg_cosine,
       |  COALESCE(p.pos_best_cosine, -2.0) AS pos_best_cosine,
       |  ROUND(COALESCE(p.pos_best_cosine, -2.0) - n.cosine, 4) AS margin
       |FROM neg n LEFT JOIN pos p ON n.query_id = p.query_id
       |WHERE n.neg_rank <= $HardNegK""".stripMargin
}
