package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables

/** Multimodal column plumbing: opaque binary payloads with typed
  * metadata, batch feature extraction via partition-local iteration.
  *
  * The Spark-side mechanics are real and tested — binary column schema,
  * typed `Dataset` encoders, `mapPartitions` batch shape (the Scala
  * analogue of `mapInPandas` batches), partition-count preservation.
  * The codec itself is a clearly-marked DETERMINISTIC STUB: this
  * container ships no image/audio libraries, so `decodeStub` derives
  * features from the payload bytes instead of a real decode. Swapping
  * in a real decoder changes only the function body — schema,
  * partitioning, and batch shape stay identical.
  */
object Multimodal {

  /** [[frameSamples]]' step and cap. */
  val FrameStep = 4
  val MaxFrames = 8
  /** [[phashDedup]]'s Hamming threshold. */
  val PhashTau = 3
  /** [[audioSegments]]' window and hop. */
  val AudioWin = 50
  val AudioHop = 30
  /** [[patchGrid]]'s patch edge. */
  val PatchSize = 16

  /** A media row: payload is an opaque encoded blob + typed metadata. */
  case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte],
                      declared_w: Int, declared_h: Int)

  /** Extracted features (what a real decode would produce). */
  case class MediaFeature(doc_id: Long, media_type: String, n_bytes: Long,
                          width: Int, height: Int, n_frames: Int, checksum: Long)

  /** Build the media frame from a documents frame (batch OR streaming —
    * the projection is row-local): the text bytes stand in for an
    * encoded payload; type and declared dims derive deterministically
    * from doc_id. */
  def mediaFrom(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3L)) + 1L).cast("int")).as("media_type"),
        col("text").cast("binary").as("payload"),
        (lit(64) + pmod(col("doc_id"), lit(8L)) * 32L).cast("int").as("declared_w"),
        (lit(64) + pmod(col("doc_id"), lit(4L)) * 32L).cast("int").as("declared_h"))
      .as[MediaRow]
  }

  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] =
    mediaFrom(Tables.documents(spark, dir))

  /** ===== DETERMINISTIC DECODE STUB =====
    * Stands in for image decode / audio resample / video frame-sample.
    * Features are pure functions of the payload bytes so results are
    * stable across runs and partitionings — and the "content digest"
    * is the first 60 bits of md5, the same portable hash as
    * [[graft.functions.Portable.hash60]], so a DuckDB oracle can check
    * the whole frame ([[featuresSql]]) even though this path runs as
    * partition-local JVM code rather than a Catalyst expression. */
  private def decodeStub(md: java.security.MessageDigest)(r: MediaRow): MediaFeature = {
    val n = r.payload.length.toLong
    md.reset()
    val hex = md.digest(r.payload).take(8).map(b => f"$b%02x").mkString
    val checksum = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val frames = r.media_type match {
      case "video" => (n / 100L).toInt + 1   // ~1 "frame" per 100 bytes
      case "audio" => (n / 400L).toInt + 1   // coarser "chunks"
      case _       => 1
    }
    MediaFeature(r.doc_id, r.media_type, n, r.declared_w, r.declared_h, frames, checksum)
  }

  /** C12 — batch feature extraction: partition-local iteration (one
    * decoder/digest init per partition, amortized over its batch — the
    * mapInPandas batch pattern), no shuffle, typed output schema.
    * `featuresFrom` also accepts a STREAMING documents frame: the
    * decode is stateless per row, so the same mapPartitions runs
    * unchanged per micro-batch (StreamingSpec asserts equality with
    * this batch path). */
  def featuresFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    mediaFrom(docs)
      .mapPartitions { it =>
        // the codec initializes ONCE per partition, then streams the batch
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map(decodeStub(md))
      }
      .toDF()
  }

  def features(spark: SparkSession, dir: String): DataFrame =
    featuresFrom(Tables.documents(spark, dir))

  /** DuckDB oracle reproducing [[features]]: the payload is the UTF-8
    * text bytes, so octet_length/md5 over the text column match the
    * JVM byte-level computation exactly. */
  val featuresSql: String =
    """SELECT doc_id,
      |  (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
      |  octet_length(encode(text)) AS n_bytes,
      |  CAST(64 + (doc_id % 8) * 32 AS INT) AS width,
      |  CAST(64 + (doc_id % 4) * 32 AS INT) AS height,
      |  CAST(CASE CAST(doc_id % 3 AS INT)
      |    WHEN 2 THEN octet_length(encode(text)) // 100 + 1
      |    WHEN 1 THEN octet_length(encode(text)) // 400 + 1
      |    ELSE 1 END AS INT) AS n_frames,
      |  CAST(CONCAT('0x', SUBSTRING(MD5(text), 1, 15)) AS BIGINT) AS checksum
      |FROM documents""".stripMargin

  /** One sampled frame of a video payload. */
  case class FrameSample(doc_id: Long, frame_no: Int, frame_offset: Long,
                         frame_bytes: Long, frame_digest: Long)

  /** C33 — video frame sampling: the uniform temporal sampling every
    * frame-extraction pipeline runs before featurizing video (take
    * every [[FrameStep]]-th frame, at most [[MaxFrames]] per clip). The
    * "container format" is the deterministic stub — fixed-width frames
    * of `declared_w` bytes — but the batch shape is the real one:
    * bounded row amplification (≤ maxFrames per clip, never the full
    * frame count), partition-local byte slicing with one digest init
    * per partition, no shuffle at any scale. A real demuxer changes
    * only the slicing body. */
  def frameSamples(spark: SparkSession, dir: String): DataFrame =
    frameSamplesFrom(Tables.documents(spark, dir))

  /** [[frameSamples]] over any documents frame (streaming-safe: the
    * sampler is stateless per row). */
  def frameSamplesFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    mediaFrom(docs)
      .filter(col("media_type") === "video")
      .as[MediaRow]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { r =>
          val stride = r.declared_w
          val nFrames = (r.payload.length + stride - 1) / stride
          (0 until nFrames).iterator
            .filter(_ % FrameStep == 0).take(MaxFrames)
            .map { i =>
              val from = i * stride
              val frame = java.util.Arrays.copyOfRange(
                r.payload, from, math.min(from + stride, r.payload.length))
              md.reset()
              val hex = md.digest(frame).take(8).map(b => f"$b%02x").mkString
              FrameSample(r.doc_id, i, from.toLong, frame.length.toLong,
                java.lang.Long.parseLong(hex.substring(0, 15), 16))
            }
        }
      }
      .toDF()
  }

  /** DuckDB oracle for [[frameSamples]]: byte slicing over the UTF-8
    * text payload via substring arithmetic (the corpus is ASCII after
    * normalization upstream generated it, so char == byte offsets). */
  def frameSamplesSql(): String =
    s"""WITH v AS (
       |  SELECT doc_id, text,
       |    CAST(64 + (doc_id % 8) * 32 AS INT) AS stride,
       |    octet_length(encode(text)) AS n
       |  FROM documents WHERE doc_id % 3 = 2
       |), f AS (
       |  SELECT doc_id, text, stride, n,
       |    UNNEST(GENERATE_SERIES(0, (n + stride - 1) // stride - 1)) AS i
       |  FROM v
       |)
       |SELECT doc_id,
       |  CAST(i AS INT) AS frame_no,
       |  CAST(i * stride AS BIGINT) AS frame_offset,
       |  CAST(LEAST(stride, n - i * stride) AS BIGINT) AS frame_bytes,
       |  CAST(CONCAT('0x', SUBSTRING(MD5(SUBSTRING(text, i * stride + 1, stride)), 1, 15))
       |    AS BIGINT) AS frame_digest
       |FROM f
       |WHERE i % $FrameStep = 0 AND i // $FrameStep < $MaxFrames""".stripMargin

  // ---------------------------------------------------------------- C44
  /** C44 — perceptual-hash image dedup: the banded near-dup join every
    * image pipeline runs over pHash/aHash codes, on the engine's
    * multimodal rows. The HASH is the deterministic stub (the payload's
    * portable 60-bit digest — this container ships no image codec; a
    * real DCT pHash swaps into `phashFrom` without touching the plan),
    * the PLAN is the production shape: 4 bands × 15 bits exploded off
    * the hash, equi-join on (band, value) within media_type='image'
    * (never all-pairs), distinct candidate pairs, exact Hamming verify
    * `bit_count(xor) ≤ tau`. Pigeonhole guarantee: hamming ≤ 3 leaves
    * one 15-bit band untouched, so recall is 100% at the default τ=3
    * (the C3 simhash argument). With the digest stub only exact
    * payload duplicates land at hamming 0 — the spec injects them and
    * a handcrafted hash frame drives the near-miss arms. */
  /** The banded near-dup PAIR frame over a (doc_id, phash) index —
    * the spec drives it with injected duplicates. */
  private[graft] def phashPairsFrom(hashes: DataFrame): DataFrame = {
    val bands = hashes.select(col("doc_id"), col("phash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          pmod(shiftright(col("phash"), b * 15), lit(32768L)).as("bv"))): _*)).as("e"))
      .select(col("doc_id"), col("phash"),
        col("e.band").as("band"), col("e.bv").as("bv"))
    val cand = bands.as("a").join(bands.as("b"), Seq("band", "bv"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.phash").as("ha"), col("b.phash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming",
        expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("hamming") <= PhashTau)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** The oracle row: one row PER IMAGE with its pHash, band values and
    * near-dup partner count (the synthetic corpus holds no
    * byte-identical payloads, so n_dups is honestly 0 there — the
    * dedup arms are spec-driven with injected duplicates; a corpus
    * with re-encoded copies populates them with no plan change). */
  def phashDedup(spark: SparkSession, dir: String): DataFrame = {
    val hashes = mediaTable(spark, dir).toDF()
      .filter(col("media_type") === "image")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.Portable.hash60(col("payload").cast("string")).as("phash"))
    val pairs = phashPairsFrom(hashes)
    val cnt = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    hashes.join(cnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("phash"),
        pmod(shiftright(col("phash"), 0), lit(32768L)).as("band0"),
        pmod(shiftright(col("phash"), 15), lit(32768L)).as("band1"),
        pmod(shiftright(col("phash"), 30), lit(32768L)).as("band2"),
        pmod(shiftright(col("phash"), 45), lit(32768L)).as("band3"),
        coalesce(col("n"), lit(0L)).as("n_dups"))
  }

  /** One segmentation window of an audio payload. */
  case class AudioSegment(doc_id: Long, seg_no: Int, frame_start: Long,
                          frame_end: Long, seg_ms_start: Long, seg_ms_end: Long,
                          seg_bytes: Long, seg_digest: Long)

  /** C64 — audio windowing: the overlapped fixed-window segmentation
    * every speech/audio pipeline runs before featurizing (VAD, ASR
    * chunking, CLAP-style embedding all consume ~1 s windows with
    * overlap so no event straddles a cut) — the audio twin of C36's
    * sliding text chunker, over the engine's multimodal rows. The
    * "codec" is the deterministic stub (a feature-frame stream at
    * `Fps` frames/s, `FrameBytes` payload bytes each — a real
    * log-mel/PCM front end swaps into the slicing body); the BATCH
    * SHAPE is the production one: window count 1 + ⌈max(0, n−W)/H⌉
    * (the C36 closed form — the tail window may be short, a
    * shorter-than-W clip is one window), bounded row amplification,
    * partition-local byte slicing with one digest init per partition,
    * zero shuffle at any scale. Millisecond timestamps derive from
    * the frame grid (1000/Fps ms per frame) — the offsets a
    * transcript aligner consumes downstream. */
  val AudioFps = 100
  val AudioFrameBytes = 4
  def audioSegments(spark: SparkSession, dir: String): DataFrame =
    audioSegmentsFrom(Tables.documents(spark, dir))

  /** [[audioSegments]] over any documents frame (streaming-safe: the
    * segmenter is stateless per row). */
  def audioSegmentsFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val msPerFrame = 1000L / AudioFps
    mediaFrom(docs)
      .filter(col("media_type") === "audio")
      .as[MediaRow]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { r =>
          val nf = r.payload.length / AudioFrameBytes
          if (nf == 0) Iterator.empty
          else {
            val nSegs = 1 + (math.max(0, nf - AudioWin) + AudioHop - 1) / AudioHop
            (0 until nSegs).iterator.map { s =>
              val fs = s.toLong * AudioHop
              val fe = math.min(fs + AudioWin, nf.toLong)
              val from = (fs * AudioFrameBytes).toInt
              val to = (fe * AudioFrameBytes).toInt
              val slice = java.util.Arrays.copyOfRange(r.payload, from, to)
              md.reset()
              val hex = md.digest(slice).take(8).map(b => f"$b%02x").mkString
              AudioSegment(r.doc_id, s, fs, fe,
                fs * msPerFrame, fe * msPerFrame, (to - from).toLong,
                java.lang.Long.parseLong(hex.substring(0, 15), 16))
            }
          }
        }
      }
      .toDF()
  }

  /** DuckDB oracle for [[audioSegments]]: frame/byte arithmetic over
    * the UTF-8 text payload (ASCII corpus ⇒ char == byte offsets). */
  def audioSegmentsSql(): String = {
    val fb = AudioFrameBytes
    val mpf = 1000L / AudioFps
    s"""WITH a AS (
       |  SELECT doc_id, text,
       |    octet_length(encode(text)) // $fb AS nf
       |  FROM documents WHERE doc_id % 3 = 1
       |), s AS (
       |  SELECT doc_id, text, nf,
       |    UNNEST(GENERATE_SERIES(0,
       |      (GREATEST(nf - $AudioWin, 0) + ${AudioHop - 1}) // $AudioHop)) AS seg
       |  FROM a WHERE nf > 0
       |)
       |SELECT doc_id, CAST(seg AS INT) AS seg_no,
       |  CAST(seg * $AudioHop AS BIGINT) AS frame_start,
       |  CAST(LEAST(seg * $AudioHop + $AudioWin, nf) AS BIGINT) AS frame_end,
       |  CAST(seg * $AudioHop * $mpf AS BIGINT) AS seg_ms_start,
       |  CAST(LEAST(seg * $AudioHop + $AudioWin, nf) * $mpf AS BIGINT) AS seg_ms_end,
       |  CAST((LEAST(seg * $AudioHop + $AudioWin, nf) - seg * $AudioHop) * $fb AS BIGINT)
       |    AS seg_bytes,
       |  CAST(CONCAT('0x', SUBSTRING(MD5(
       |      SUBSTRING(text, seg * $AudioHop * $fb + 1,
       |        (LEAST(seg * $AudioHop + $AudioWin, nf) - seg * $AudioHop) * $fb)),
       |    1, 15)) AS BIGINT) AS seg_digest
       |FROM s""".stripMargin
  }

  /** One P×P patch of an image payload. */
  case class ImagePatch(doc_id: Long, patch_row: Int, patch_col: Int,
                        byte_offset: Long, patch_bytes: Long, patch_digest: Long)

  /** C72 — image patchification: the ViT front end (an image enters
    * the model as a grid of P×P patches, each flattened and embedded
    * — this op IS the "patchify" step every vision-language pipeline
    * runs), over the engine's multimodal rows. The 2D geometry is
    * real: the payload is read as a row-major W-stride byte raster
    * (declared_w per row), patch (r, c) assembles its P row-slices
    * [rowIdx·W + c·P, +P) and digests them — a real decoder swaps
    * into the raster read; the grid arithmetic, the bounded
    * amplification (⌈W/P⌉·⌈H/P⌉ patches per image), and the
    * partition-local batch shape are the production mechanics. The
    * stub payload is usually SHORTER than W·H, so patches keep their
    * honest byte count (edge patches are short, fully-out-of-payload
    * patches are skipped — the same short-tail discipline as
    * C33/C64); both engines digest the identical assembled bytes. */
  def patchGrid(spark: SparkSession, dir: String): DataFrame =
    patchGridFrom(Tables.documents(spark, dir))

  def patchGridFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    mediaFrom(docs)
      .filter(col("media_type") === "image")
      .as[MediaRow]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { r =>
          val w = r.declared_w; val h = r.declared_h; val n = r.payload.length
          val cols = (w + PatchSize - 1) / PatchSize
          val rows = (h + PatchSize - 1) / PatchSize
          for {
            pr <- (0 until rows).iterator
            pc <- 0 until cols
            slices = for {
              rr <- pr * PatchSize until math.min(pr * PatchSize + PatchSize, h)
              from = rr * w + pc * PatchSize
              if from < n
            } yield java.util.Arrays.copyOfRange(r.payload, from,
              math.min(from + PatchSize, math.min((rr + 1) * w, n)))
            bytes = slices.foldLeft(Array.empty[Byte])(_ ++ _)
            if bytes.nonEmpty
          } yield {
            md.reset()
            val hex = md.digest(bytes).take(8).map(b => f"$b%02x").mkString
            ImagePatch(r.doc_id, pr, pc, (pr.toLong * PatchSize) * w + pc * PatchSize,
              bytes.length.toLong,
              java.lang.Long.parseLong(hex.substring(0, 15), 16))
          }
        }
      }
      .toDF()
  }

  /** DuckDB oracle for [[patchGrid]]: the same raster arithmetic over
    * the UTF-8 text payload (ASCII ⇒ char == byte offsets); the patch
    * bytes assemble as concatenated row-slice substrings. */
  def patchGridSql(): String =
    s"""WITH img AS (
       |  SELECT doc_id, text,
       |    CAST(64 + (doc_id % 8) * 32 AS INT) AS w,
       |    CAST(64 + (doc_id % 4) * 32 AS INT) AS h,
       |    octet_length(encode(text)) AS n
       |  FROM documents WHERE doc_id % 3 = 0
       |), grid AS (
       |  SELECT doc_id, text, w, h, n,
       |    CAST(pr.i AS INT) AS patch_row, CAST(pc.i AS INT) AS patch_col
       |  FROM img,
       |    UNNEST(GENERATE_SERIES(0, (h + $PatchSize - 1) // $PatchSize - 1)) AS pr(i),
       |    UNNEST(GENERATE_SERIES(0, (w + $PatchSize - 1) // $PatchSize - 1)) AS pc(i)
       |), assembled AS (
       |  SELECT doc_id, patch_row, patch_col,
       |    CAST(patch_row * $PatchSize * w + patch_col * $PatchSize AS BIGINT) AS byte_offset,
       |    array_to_string(list_transform(
       |      GENERATE_SERIES(patch_row * $PatchSize,
       |        LEAST(patch_row * $PatchSize + $PatchSize, h) - 1),
       |      rr -> substring(text, rr * w + patch_col * $PatchSize + 1,
       |        LEAST($PatchSize, LEAST((rr + 1) * w, n) - (rr * w + patch_col * $PatchSize)))),
       |      '') AS bytes
       |  FROM grid
       |)
       |SELECT doc_id, patch_row, patch_col, byte_offset,
       |  CAST(octet_length(encode(bytes)) AS BIGINT) AS patch_bytes,
       |  CAST(CONCAT('0x', SUBSTRING(MD5(bytes), 1, 15)) AS BIGINT)
       |    AS patch_digest
       |FROM assembled
       |WHERE octet_length(encode(bytes)) > 0""".stripMargin

  def phashDedupSql(): String = {
    val h = graft.functions.Portable.hash60Sql("text")
    s"""WITH img AS (
       |  SELECT doc_id, $h AS phash FROM documents WHERE doc_id % 3 = 0
       |), bands AS (
       |  SELECT doc_id, phash, b.band,
       |    (phash // CAST(POWER(2, b.band * 15) AS BIGINT)) % 32768 AS bv
       |  FROM img CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS band) b
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.phash AS ha, b.phash AS hb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       |), pairs AS (
       |  SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(ha, hb)) <= $PhashTau
       |), cnt AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |    SELECT doc_a AS doc_id FROM pairs
       |    UNION ALL SELECT doc_b FROM pairs)
       |  GROUP BY 1
       |)
       |SELECT i.doc_id, i.phash,
       |  (i.phash // 1) % 32768 AS band0,
       |  (i.phash // 32768) % 32768 AS band1,
       |  (i.phash // 1073741824) % 32768 AS band2,
       |  (i.phash // 35184372088832) % 32768 AS band3,
       |  COALESCE(c.n, 0) AS n_dups
       |FROM img i LEFT JOIN cnt c ON i.doc_id = c.doc_id""".stripMargin
  }
}
