package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sink-side frame derivations beyond the codecs: large-message
  * claim-check splitting and MySQL batched-statement generation.
  * Both are row-local projections / one-shuffle aggregations — the
  * shapes the real sinks execute, made oracle-checkable.
  */
object Sinks {

  /** Where claim-checked payloads live ([[claimCheck]],
    * [[compressedClaimCheck]]). */
  val ClaimCheckUri = "s3://claim-check"

  /** A31 — Kafka large-message claim-check (reference:
    * pkg/sink/kafka/claimcheck/claim_check.go:51 `WriteMessage` +
    * pkg/sink/codec/open/encoder.go:54): when an encoded message
    * exceeds `maxBytes`, the full message is written to external
    * storage and the Kafka value is replaced by a location message
    * that carries only the handle key and the claim-check file URI.
    *
    * The reference names files with a UUID; we derive the name from
    * `commit_ts` (unique by construction) so the frame is
    * deterministic and DuckDB-checkable. Pure conditional projection:
    * no shuffle, linear at any scale. */
  /** The claim-check frame — shared by the batch operator and the
    * streaming pipeline (row-local, so identical in micro-batch
    * execution). `extra` columns (the streaming topic) lead the output.
    *
    * The canal value is rendered ONCE into `_canal_value` and the
    * claimed/otherwise arms reference the column: the previous
    * column-list form rendered the payload through both
    * `octet_length(value)` and the `otherwise(value)` branch — a
    * conditional reference CSE cannot share and CollapseProject
    * duplicates — so every inline message paid the full canal render
    * twice (the compressedSized/handleKeyOnly bug, same fix). */
  def claimCheckFrame(cl: DataFrame, n: Int, maxBytes: Int,
                      extra: Seq[org.apache.spark.sql.Column] = Nil)
      : DataFrame = {
    val claimed = col("payload_bytes") > maxBytes
    val location = concat(lit(ClaimCheckUri + "/"), col("schema_name"), lit("/"),
      col("table_name"), lit("/"), col("commit_ts"), lit(".json"))
    val stub = concat(
      lit("{\"ts\":"), col("commit_ts"),
      lit(",\"handleKey\":{\"pk\":"), col("pk"),
      lit("},\"claimCheckLocation\":\""), location, lit("\"}"))
    cl.withColumn("_canal_value", Codecs.canalJsonValue)
      .withColumn("payload_bytes", octet_length(col("_canal_value")))
      .select(extra ++ Seq(
        col("commit_ts"), Dispatchers.indexValueBucket(n).as("partition"),
        col("payload_bytes"), claimed.as("claimed"),
        when(claimed, location).otherwise(lit(null).cast("string")).as("claim_location"),
        when(claimed, stub).otherwise(col("_canal_value")).as("value")): _*)
  }

  def claimCheck(cl: DataFrame, n: Int, maxBytes: Int): DataFrame =
    claimCheckFrame(cl, n, maxBytes)

  def claimCheckSql(n: Int, maxBytes: Int): String = {
    val valueSql = Codecs.canalJsonValueSql
    val bytesSql = s"octet_length(encode($valueSql))"
    val locSql = s"CONCAT('$ClaimCheckUri/', schema_name, '/', table_name, '/', commit_ts, '.json')"
    val stubSql =
      s"""CONCAT('{"ts":', commit_ts, ',"handleKey":{"pk":', pk,
         |  '},"claimCheckLocation":"', $locSql, '"}')""".stripMargin
    s"""SELECT commit_ts,
       |  ${Dispatchers.indexValueBucketSql(n)} AS partition,
       |  $bytesSql AS payload_bytes,
       |  $bytesSql > $maxBytes AS claimed,
       |  CASE WHEN $bytesSql > $maxBytes THEN $locSql ELSE NULL END AS claim_location,
       |  CASE WHEN $bytesSql > $maxBytes THEN $stubSql ELSE $valueSql END AS value
       |FROM changelog""".stripMargin
  }

  /** A48 — message-compression length model feeding the claim-check
    * threshold (reference: pkg/sink/codec/common/compress.go:23-41
    * `Compress`/`Decompress`: encoded payloads are snappy/lz4-coded
    * before the size checks, and the ratio is recorded as a metric ×100).
    *
    * An exact snappy byte count is not expressible in portable SQL, so
    * this is an explicit deterministic MODEL of it, calibrated to how
    * LZ codecs behave on codec JSON: the payload splits into its
    * VARIABLE content (names, digit runs, money strings, props — high
    * entropy, kept at full length) and its TEMPLATE (the constant JSON
    * skeleton — keys, punctuation, op words — which an LZ pass reduces
    * to back-references, modeled at 8:1), plus the codec frame overhead
    * (stream header + block frame = 18 bytes) and the uvarint
    * uncompressed-length prefix. The model is deterministic, monotone
    * in payload size, engine-portable, and — the part that matters to
    * the sink — it changes WHICH messages cross the claim-check
    * threshold exactly the way enabling compression does in the
    * reference. `ratio_pct` mirrors the reference's ×100 compression
    * ratio metric as a BIGINT. Row-local, zero shuffle. */
  /** The A48 deterministic compression size model over the canal
    * payload — shared by the claim-check (A48) and handle-key-only
    * (A58) large-message arms. Adds payload_bytes / var_bytes /
    * compressed_bytes to the changelog columns. */
  private def compressedSized(cl: DataFrame): DataFrame = {
    val digits = (c: org.apache.spark.sql.Column) =>
      octet_length(c.cast("string"))
    cl.select(col("schema_name"), col("table_name"), col("commit_ts"),
        col("start_ts"), col("pk"), col("op"), col("props"),
        col("after_value"), col("before_value"),
        // the typed-matrix arms reference event_type (c_enum); the
        // re-encode in handleKeyOnly needs it downstream
        col("event_type"),
        // render the canal value ONCE and carry it: handleKeyOnly's
        // inline arm previously re-rendered it in a conditional branch
        // one Project above — invisible to both CSE (conditional) and
        // CollapseProject (payload_bytes multiply-referenced), so the
        // r11-widened value rendered twice per row
        Codecs.canalJsonValue.as("_canal_value"))
      .withColumn("payload_bytes", octet_length(col("_canal_value")))
      .withColumn("var_bytes",
        octet_length(col("schema_name")) + octet_length(col("table_name")) +
        digits(col("commit_ts")) + digits(col("start_ts")) + digits(col("pk")) +
        octet_length(Codecs.fmt(when(col("op") === "D", col("before_value"))
          .otherwise(col("after_value")))) +
        octet_length(col("props")) +
        when(col("op") === "U", octet_length(Codecs.fmt(col("before_value"))))
          .otherwise(lit(0)))
      .withColumn("compressed_bytes",
        (lit(18) + Craft.uvarintLen(col("payload_bytes").cast("long")) +
          col("var_bytes") +
          ((col("payload_bytes") - col("var_bytes") + lit(7)) / lit(8))
            .cast("int")).cast("long"))
  }

  def compressedClaimCheck(cl: DataFrame, n: Int, maxBytes: Int): DataFrame = {
    compressedSized(cl)
      .withColumn("claimed", col("compressed_bytes") > maxBytes)
      .select(
        col("commit_ts"),
        Dispatchers.indexValueBucket(n).as("partition"),
        col("payload_bytes").cast("long").as("payload_bytes"),
        col("compressed_bytes"),
        // oldSize/newSize*100, the reference's ratio metric, integral
        (col("payload_bytes").cast("long") * 100L / col("compressed_bytes"))
          .cast("long").as("ratio_pct"),
        col("claimed"),
        when(col("claimed"), concat(lit(ClaimCheckUri + "/"), col("schema_name"),
          lit("/"), col("table_name"), lit("/"), col("commit_ts"),
          lit(".json.sz"))).otherwise(lit(null).cast("string"))
          .as("claim_location"))
  }

  /** A58 — handle-key-only large-message arm (reference:
    * pkg/sink/codec/simple/marshaller.go:38 — every
    * `MarshalRowChangedEvent` takes `handleKeyOnly`; open/encoder
    * .go:82-99 — when `LargeMessageHandle.HandleKeyOnly()`, an
    * oversized message re-encodes carrying ONLY the handle-key columns
    * instead of being offloaded to external storage; canal marks such
    * messages `_tidb.onlyHandleKey`). The SECOND option of the
    * large-message config, complementing A31/A48's claim check: same
    * compressed-size gate (the A48 model), but the oversized value
    * degrades in place — data keeps just the pk, old is dropped — and
    * no external location exists.
    *
    * `mode` column: 'inline' (under the cap) | 'handle_key' (degraded).
    * The degraded set equals the claim-check set at the same threshold
    * by construction of the shared gate — spec-asserted. Row-local,
    * zero shuffle. */
  def handleKeyOnly(cl: DataFrame, n: Int, maxBytes: Int): DataFrame = {
    val opWord = when(col("op") === "I", lit("INSERT"))
      .when(col("op") === "D", lit("DELETE")).otherwise(lit("UPDATE"))
    val degraded = concat(
      lit("{\"id\":"), col("commit_ts"),
      lit(",\"database\":\""), col("schema_name"),
      lit("\",\"table\":\""), col("table_name"),
      lit("\",\"pkNames\":[\"pk\"],\"isDdl\":false,\"type\":\""), opWord,
      lit("\",\"es\":"), col("commit_ts"),
      lit(",\"ts\":"), col("start_ts"),
      lit(",\"data\":[{\"pk\":"), col("pk"),
      lit("}],\"old\":null,\"_tidb\":{\"onlyHandleKey\":true}}"))
    compressedSized(cl)
      .withColumn("oversized", col("compressed_bytes") > maxBytes)
      .select(
        col("commit_ts"),
        Dispatchers.indexValueBucket(n).as("partition"),
        col("payload_bytes").cast("long").as("payload_bytes"),
        col("compressed_bytes"),
        when(col("oversized"), lit("handle_key")).otherwise(lit("inline"))
          .as("mode"),
        when(col("oversized"), degraded).otherwise(col("_canal_value"))
          .as("value"))
  }

  def handleKeyOnlySql(n: Int, maxBytes: Int): String = {
    val opWordSql =
      "CASE op WHEN 'I' THEN 'INSERT' WHEN 'D' THEN 'DELETE' ELSE 'UPDATE' END"
    val degradedSql =
      s"""CONCAT('{"id":', commit_ts,
         |  ',"database":"', schema_name,
         |  '","table":"', table_name,
         |  '","pkNames":["pk"],"isDdl":false,"type":"', $opWordSql,
         |  '","es":', commit_ts,
         |  ',"ts":', start_ts,
         |  ',"data":[{"pk":', pk,
         |  '}],"old":null,"_tidb":{"onlyHandleKey":true}}')""".stripMargin
    val fmtV = (e: String) =>
      s"CASE WHEN $e IS NULL THEN 'null' ELSE printf('%.4f', $e) END"
    val payload = s"octet_length(encode(${Codecs.canalJsonValueSql}))"
    val varBytes =
      s"""(octet_length(encode(schema_name)) + octet_length(encode(table_name))
         | + octet_length(encode(CAST(commit_ts AS VARCHAR))) + octet_length(encode(CAST(start_ts AS VARCHAR)))
         | + octet_length(encode(CAST(pk AS VARCHAR)))
         | + octet_length(encode(${fmtV("CASE WHEN op = 'D' THEN before_value ELSE after_value END")}))
         | + octet_length(encode(props))
         | + CASE WHEN op = 'U' THEN octet_length(encode(${fmtV("before_value")})) ELSE 0 END)""".stripMargin
    s"""WITH sized AS (
       |  SELECT *, ${Dispatchers.indexValueBucketSql(n)} AS partition,
       |    $payload AS payload_bytes,
       |    $varBytes AS var_bytes
       |  FROM changelog
       |), modeled AS (
       |  SELECT *, CAST(18 + ${Craft.uvarintLenSql("payload_bytes")} + var_bytes
       |    + (payload_bytes - var_bytes + 7) // 8 AS BIGINT) AS compressed_bytes
       |  FROM sized
       |)
       |SELECT commit_ts, partition,
       |  CAST(payload_bytes AS BIGINT) AS payload_bytes,
       |  compressed_bytes,
       |  CASE WHEN compressed_bytes > $maxBytes THEN 'handle_key' ELSE 'inline' END AS mode,
       |  CASE WHEN compressed_bytes > $maxBytes THEN $degradedSql
       |       ELSE ${Codecs.canalJsonValueSql} END AS value
       |FROM modeled""".stripMargin
  }

  def compressedClaimCheckSql(n: Int, maxBytes: Int): String = {
    val fmtV = (e: String) =>
      s"CASE WHEN $e IS NULL THEN 'null' ELSE printf('%.4f', $e) END"
    val payload = s"octet_length(encode(${Codecs.canalJsonValueSql}))"
    val varBytes =
      s"""(octet_length(encode(schema_name)) + octet_length(encode(table_name))
         | + octet_length(encode(CAST(commit_ts AS VARCHAR))) + octet_length(encode(CAST(start_ts AS VARCHAR)))
         | + octet_length(encode(CAST(pk AS VARCHAR)))
         | + octet_length(encode(${fmtV("CASE WHEN op = 'D' THEN before_value ELSE after_value END")}))
         | + octet_length(encode(props))
         | + CASE WHEN op = 'U' THEN octet_length(encode(${fmtV("before_value")})) ELSE 0 END)""".stripMargin
    s"""WITH sized AS (
       |  SELECT schema_name, table_name, commit_ts, pk, props, op,
       |    ${Dispatchers.indexValueBucketSql(n)} AS partition,
       |    $payload AS payload_bytes,
       |    $varBytes AS var_bytes
       |  FROM changelog
       |), modeled AS (
       |  SELECT *, CAST(18 + ${Craft.uvarintLenSql("payload_bytes")} + var_bytes
       |    + (payload_bytes - var_bytes + 7) // 8 AS BIGINT) AS compressed_bytes
       |  FROM sized
       |)
       |SELECT commit_ts, partition,
       |  CAST(payload_bytes AS BIGINT) AS payload_bytes,
       |  compressed_bytes,
       |  CAST(payload_bytes * 100 // compressed_bytes AS BIGINT) AS ratio_pct,
       |  compressed_bytes > $maxBytes AS claimed,
       |  CASE WHEN compressed_bytes > $maxBytes
       |    THEN CONCAT('$ClaimCheckUri/', schema_name, '/', table_name, '/', commit_ts, '.json.sz')
       |    ELSE NULL END AS claim_location
       |FROM modeled""".stripMargin
  }

  /** A32 — MySQL batched-statement frame (reference:
    * pkg/sink/mysql/sql_builder.go:56 buildInsert / :85 buildDelete /
    * :118 buildUpdate + mysql_writer.go:670 prepareDMLs): each row
    * change becomes one parametric statement; the writer flushes them
    * per transaction, at most `maxTxnRow` rows per batch (config.go
    * DefaultMaxTxnRow). This frame is the per-(txn, table, type)
    * statement stream the sink actually executes — statement text,
    * row count, and batch count — complementing A12/A13's net-effect
    * view. `safeMode` renders INSERT as REPLACE (safe-mode upserts). */
  def mysqlStmts(cl: DataFrame, maxTxnRow: Int = 16,
                 safeMode: Boolean = false): DataFrame = {
    val insertWord = if (safeMode) "REPLACE" else "INSERT"
    val qtbl = concat(lit("`"), col("schema_name"), lit("`.`"), col("table_name"), lit("`"))
    val stmt = when(col("op") === "I",
        concat(lit(s"$insertWord INTO "), qtbl, lit(" (pk,value,props) VALUES (?,?,?)")))
      .when(col("op") === "U",
        concat(lit("UPDATE "), qtbl, lit(" SET pk = ?, value = ?, props = ? WHERE pk = ? LIMIT 1")))
      .otherwise(concat(lit("DELETE FROM "), qtbl, lit(" WHERE pk = ? LIMIT 1")))
    val stmtType = when(col("op") === "I", lit(insertWord))
      .when(col("op") === "U", lit("UPDATE")).otherwise(lit("DELETE"))
    cl.select(col("start_ts"), col("schema_name"), col("table_name"),
        col("commit_ts"), stmtType.as("stmt_type"), stmt.as("stmt"))
      .groupBy(col("start_ts"), col("schema_name"), col("table_name"),
        col("stmt_type"), col("stmt"))
      .agg(count(lit(1)).as("n_stmts"),
        ((count(lit(1)) + lit(maxTxnRow - 1).cast("long")) / lit(maxTxnRow.toLong))
          .cast("long").as("n_batches"),
        min(col("commit_ts")).as("min_ts"), max(col("commit_ts")).as("max_ts"))
  }

  /** A40 — per-transaction atomicity frame (reference:
    * downstreamadapter/worker/mysql_worker.go:96 — txn events append
    * WHOLE and flush when accumulated rows exceed MaxTxnRow
    * (pkg/sink/mysql/config.go:39 DefaultMaxTxnRow); a txn larger than
    * the quota flushes alone as an oversized batch, atomicity intact.
    * The legacy split-txn mode would instead break it into
    * ceil(rows/max) batches). One row per upstream txn: size, table
    * fan-out, the atomic/oversized verdict, and the batch count the
    * legacy splitter would produce. */
  def txnAtomicity(cl: DataFrame, maxTxnRow: Int = 16): DataFrame =
    cl.groupBy(col("start_ts"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("schema_name"), col("table_name")).as("n_tables"),
        min(col("commit_ts")).as("first_ts"),
        max(col("commit_ts")).as("last_ts"))
      .withColumn("oversized", col("n_events") > maxTxnRow)
      .withColumn("atomic", lit(true)) // new-arch: txns never split
      .withColumn("legacy_split_batches",
        ceil(col("n_events").cast("double") / lit(maxTxnRow.toDouble)).cast("long"))

  def txnAtomicitySql(maxTxnRow: Int = 16): String =
    s"""SELECT start_ts, n_events, n_tables, first_ts, last_ts,
       |  n_events > $maxTxnRow AS oversized,
       |  TRUE AS atomic,
       |  CAST(CEIL(CAST(n_events AS DOUBLE) / $maxTxnRow) AS BIGINT) AS legacy_split_batches
       |FROM (
       |  SELECT start_ts, COUNT(*) AS n_events,
       |    COUNT(DISTINCT (schema_name, table_name)) AS n_tables,
       |    MIN(commit_ts) AS first_ts, MAX(commit_ts) AS last_ts
       |  FROM changelog GROUP BY start_ts
       |)""".stripMargin

  def mysqlStmtsSql(maxTxnRow: Int = 16, safeMode: Boolean = false): String = {
    val insertWord = if (safeMode) "REPLACE" else "INSERT"
    s"""SELECT start_ts, schema_name, table_name,
       |  CASE op WHEN 'I' THEN '$insertWord' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END AS stmt_type,
       |  CASE op
       |    WHEN 'I' THEN CONCAT('$insertWord INTO `', schema_name, '`.`', table_name, '` (pk,value,props) VALUES (?,?,?)')
       |    WHEN 'U' THEN CONCAT('UPDATE `', schema_name, '`.`', table_name, '` SET pk = ?, value = ?, props = ? WHERE pk = ? LIMIT 1')
       |    ELSE CONCAT('DELETE FROM `', schema_name, '`.`', table_name, '` WHERE pk = ? LIMIT 1')
       |  END AS stmt,
       |  COUNT(*) AS n_stmts,
       |  (COUNT(*) + ${maxTxnRow - 1}) // $maxTxnRow AS n_batches,
       |  MIN(commit_ts) AS min_ts, MAX(commit_ts) AS max_ts
       |FROM changelog
       |GROUP BY 1, 2, 3, 4, 5""".stripMargin
  }

  /** The open-protocol sink stream the A49/A50/A93 batchers close
    * batches over: per event its (table, sink partition) stream key,
    * commit_ts and encoded value bytes. */
  private def sinkStream(cl: DataFrame, n: Int): DataFrame =
    cl.select(col("schema_name"), col("table_name"),
      Dispatchers.indexValueBucket(n).as("partition"), col("commit_ts"),
      octet_length(Codecs.openProtocolValue).cast("long").as("payload_bytes"))

  private def sinkStreamSql(n: Int): String =
    s"""SELECT schema_name, table_name, commit_ts,
       |    ${Dispatchers.indexValueBucketSql(n)} AS partition,
       |    CAST(octet_length(encode(${Codecs.openProtocolValueSql})) AS BIGINT)
       |      AS payload_bytes
       |  FROM changelog""".stripMargin

  /** The columns of one sink batch frame row. */
  private val batchCols = Seq("schema_name", "table_name", "partition",
    "batch_id", "n_rows", "batch_bytes", "first_ts", "last_ts").map(col)

  /** The one batch-close fold of the sinks and the open-protocol wire
    * (reference: open/encoder.go:122 `pushMessage` — a message holds at
    * most MaxBatchSize events and closes when the next event would pass
    * MaxMessageBytes — and kafka_dml_worker.go:264-307 `batch`, whose
    * flush ticker closes a batch `flushInterval` after its first
    * event). `events` carries schema_name, table_name, partition and
    * commit_ts; per event `bytes` is its size and `key`/`value` the
    * segments its message concatenates. Within each (table, partition)
    * stream in commit_ts order, a batch admits the next event iff
    * `rows < maxBatch`, `head + bytes + b <= maxBytes` (a message's
    * fixed head plus the bytes it holds plus the event's) and
    * `ts - firstTs < flushInterval`. A rule that does not apply is
    * `Long.MaxValue`; an event over the byte cap alone forms a
    * singleton batch.
    *
    * One row per closed batch: stream key, batch_id (0, 1, … per
    * stream), n_rows, batch_bytes (the events' bytes, without the
    * head), first/last ts, the concatenated key/value segments
    * (key_wire, value_wire) and close_reason — 'size' (maxBatch
    * reached), 'eof' (the stream drained), 'bytes' or 'flush' (the
    * next event failed that term).
    *
    * A greedy prefix fold is sequential per stream, so it runs as the
    * secondary-sort shape: ONE repartition by the stream key (the
    * kafka writer's key), a sort by key + commit_ts, and one lazy
    * `mapPartitions` pass that keeps O(1) state (the open batch; its
    * segments are bounded by the caps) and emits each batch as it
    * closes — no window, no aggregate, no second shuffle. Precondition
    * (probed at sf0.01 and sf10): commit_ts is unique within a stream,
    * so the order and every boundary are deterministic. */
  def batches(events: DataFrame, bytes: Column, key: Column, value: Column,
              maxBatch: Int, maxBytes: Long, head: Long,
              flushInterval: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val stream = events.select(col("schema_name"), col("table_name"),
        col("partition"), col("commit_ts"), bytes, key, value)
      .repartition(col("schema_name"), col("table_name"), col("partition"))
      .sortWithinPartitions(col("schema_name"), col("table_name"),
        col("partition"), col("commit_ts"))
      .as[(String, String, Long, Long, Long, String, String)]
    stream.mapPartitions { it =>
      val in = it.buffered
      val kb = new java.lang.StringBuilder
      val vb = new java.lang.StringBuilder
      var lastKey: (String, String, Long) = null
      var lastId = -1L
      new Iterator[(String, String, Long, Long, Long, Long, Long, Long,
          String, String, String)] {
        override def hasNext: Boolean = in.hasNext
        override def next(): (String, String, Long, Long, Long, Long, Long,
            Long, String, String, String) = {
          val (s, t, p, ts0, b0, k0, v0) = in.next()
          val streamKey = (s, t, p)
          val id = if (streamKey == lastKey) lastId + 1 else 0L
          var rows = 1L; var acc = b0; var last = ts0
          kb.setLength(0); vb.setLength(0); kb.append(k0); vb.append(v0)
          var reason: String = null
          while (reason == null) {
            if (rows >= maxBatch) reason = "size"
            else if (!in.hasNext || in.head._1 != s || in.head._2 != t ||
                in.head._3 != p) reason = "eof"
            else {
              val (_, _, _, ts, b, k, v) = in.head
              if (head + acc + b > maxBytes) reason = "bytes"
              else if (ts - ts0 >= flushInterval) reason = "flush"
              else {
                in.next()
                rows += 1; acc += b; last = ts; kb.append(k); vb.append(v)
              }
            }
          }
          lastKey = streamKey; lastId = id
          (s, t, p, id, rows, acc, ts0, last, kb.toString, vb.toString, reason)
        }
      }
    }.toDF("schema_name", "table_name", "partition", "batch_id", "n_rows",
      "batch_bytes", "first_ts", "last_ts", "key_wire", "value_wire",
      "close_reason")
  }

  /** The DuckDB replay of [[batches]]: the `o` and recursive `fold`
    * CTEs over a `stream` CTE (schema_name, table_name, partition,
    * commit_ts, …), with `bytes` the per-event size over the stream's
    * columns. `fold` holds every stream column plus `ev_bytes`, `rn`
    * and the event's `batch_id`; the caller aggregates it. Written to
    * follow a `WITH RECURSIVE` list. */
  def batchesSql(stream: String, bytes: String, maxBatch: Int, maxBytes: Long,
                 head: Long, flushInterval: Long): String = {
    val close =
      s"""f.rows_in >= $maxBatch
         |           OR $head + f.acc + m.ev_bytes > $maxBytes
         |           OR m.commit_ts - f.bfirst >= $flushInterval""".stripMargin
    s"""o AS (
       |  SELECT *, $bytes AS ev_bytes, ROW_NUMBER() OVER (
       |      PARTITION BY schema_name, table_name, partition
       |      ORDER BY commit_ts) AS rn
       |  FROM $stream
       |), fold AS (
       |  SELECT *, CAST(0 AS BIGINT) AS batch_id, CAST(1 AS BIGINT) AS rows_in,
       |    ev_bytes AS acc, commit_ts AS bfirst
       |  FROM o WHERE rn = 1
       |  UNION ALL
       |  SELECT m.*,
       |    CASE WHEN $close
       |         THEN f.batch_id + 1 ELSE f.batch_id END,
       |    CASE WHEN $close
       |         THEN CAST(1 AS BIGINT) ELSE f.rows_in + 1 END,
       |    CASE WHEN $close
       |         THEN m.ev_bytes ELSE f.acc + m.ev_bytes END,
       |    CASE WHEN $close
       |         THEN m.commit_ts ELSE f.bfirst END
       |  FROM fold f JOIN o m
       |    ON m.schema_name = f.schema_name AND m.table_name = f.table_name
       |   AND m.partition = f.partition AND m.rn = f.rn + 1
       |)""".stripMargin
  }

  /** The sink batch frame of a [[batchesSql]] fold over the sink stream. */
  private def batchFrameFoldSql(n: Int, maxBatch: Int, maxBytes: Long,
                                flushInterval: Long): String =
    s"""WITH RECURSIVE msgs AS (
       |  ${sinkStreamSql(n)}
       |), ${batchesSql("msgs", "payload_bytes", maxBatch, maxBytes, 0L, flushInterval)},
       |agged AS (
       |  SELECT schema_name, table_name, partition, batch_id,
       |    COUNT(*) AS n_rows,
       |    CAST(SUM(payload_bytes) AS BIGINT) AS batch_bytes,
       |    MIN(commit_ts) AS first_ts, MAX(commit_ts) AS last_ts
       |  FROM fold
       |  GROUP BY 1, 2, 3, 4
       |)""".stripMargin

  /** A49 — encoder-group batch framing (reference:
    * pkg/sink/codec/encoder_group.go + open/encoder.go:122 — "one
    * message can contain at most MaxBatchSize events"): within each
    * (table, sink partition) stream, consecutive commit_ts-ordered
    * events pack into messages of at most `maxBatch` rows; the frame
    * carries each message's row count, encoded byte total, and ts
    * span. The [[batches]] fold with only the count term; the oracle
    * states the same batches by formula (row_number div maxBatch). */
  def batchFrame(cl: DataFrame, n: Int, maxBatch: Int): DataFrame =
    batchFrameBytes(cl, n, maxBatch, Long.MaxValue)

  def batchFrameSql(n: Int, maxBatch: Int): String =
    s"""WITH msgs AS (
       |  ${sinkStreamSql(n)}
       |), b AS (
       |  SELECT *, CAST((ROW_NUMBER() OVER (
       |      PARTITION BY schema_name, table_name, partition
       |      ORDER BY commit_ts) - 1) // $maxBatch AS BIGINT) AS batch_id
       |  FROM msgs
       |)
       |SELECT schema_name, table_name, partition, batch_id,
       |  COUNT(*) AS n_rows,
       |  CAST(SUM(payload_bytes) AS BIGINT) AS batch_bytes,
       |  MIN(commit_ts) AS first_ts, MAX(commit_ts) AS last_ts
       |FROM b
       |GROUP BY 1, 2, 3, 4""".stripMargin

  /** A50 — the byte-capped half of encoder-group batching (reference:
    * open/encoder.go:122 — a new message starts when appending would
    * exceed MaxMessageBytes OR the message already holds MaxBatchSize
    * rows): the [[batches]] fold with the count and byte terms and no
    * message head. */
  def batchFrameBytes(cl: DataFrame, n: Int, maxBatch: Int,
                      maxBytes: Long): DataFrame =
    batches(sinkStream(cl, n), col("payload_bytes"), lit(""), lit(""),
      maxBatch, maxBytes, 0L, Long.MaxValue).select(batchCols: _*)

  def batchFrameBytesSql(n: Int, maxBatch: Int, maxBytes: Long): String =
    s"""${batchFrameFoldSql(n, maxBatch, maxBytes, Long.MaxValue)}
       |SELECT * FROM agged""".stripMargin

  /** A93 — the Kafka DML worker's flush-interval batching (reference:
    * downstreamadapter/worker/kafka_dml_worker.go:219-262
    * `batchEncodeRun` + :264-307 `batch`): the production worker's
    * latency-vs-throughput rule. `batch` blocks for the FIRST message,
    * resets the flush ticker, then keeps collecting until the buffer
    * holds `maxBatch` messages (returns immediately) OR the ticker
    * fires — so a batch admits exactly the events arriving strictly
    * inside `firstTs + flushInterval`. Deterministic commit-ts clock
    * (the A34 cadence precedent): an event's arrival time IS its
    * commit_ts, and the ticker at `first_ts + interval` beats any
    * event arriving at or after that instant.
    *
    * The [[batches]] fold with the count and flush terms; each batch
    * records WHY it closed: 'size' (hit maxBatch — the immediate
    * return), 'flush' (a successor event arrived past the deadline),
    * 'eof' (stream drained). The oracle derives the reason from the
    * folded batches. */
  def batchFrameFlush(cl: DataFrame, n: Int, maxBatch: Int,
                      flushInterval: Long): DataFrame =
    batches(sinkStream(cl, n), col("payload_bytes"), lit(""), lit(""),
      maxBatch, Long.MaxValue, 0L, flushInterval)
      .select(batchCols :+ col("close_reason"): _*)

  def batchFrameFlushSql(n: Int, maxBatch: Int, flushInterval: Long): String =
    s"""${batchFrameFoldSql(n, maxBatch, Long.MaxValue, flushInterval)}
       |SELECT *,
       |  CASE WHEN n_rows >= $maxBatch THEN 'size'
       |       WHEN batch_id = MAX(batch_id) OVER (
       |         PARTITION BY schema_name, table_name, partition) THEN 'eof'
       |       ELSE 'flush' END AS close_reason
       |FROM agged""".stripMargin

  /** A56 — blackhole sink ack frame (reference:
    * downstreamadapter/sink/blackhole.go:44-72 — `AddDMLEvent` fires
    * every PostTxnFlushed callback inline and `WriteBlockEvent` acks
    * DDL/syncpoint events the same way): the sink's observable behavior
    * is instantaneous checkpoint advancement. Per table: acked event
    * counts by op and the checkpoint ts — the table's max commit_ts,
    * since nothing is ever pending. One partial-agg shuffle. */
  def blackhole(cl: DataFrame): DataFrame =
    cl.groupBy(col("schema_name"), col("table_name"))
      .agg(count(lit(1)).as("n_acked"),
        sum((col("op") === "I").cast("long")).as("n_insert"),
        sum((col("op") === "U").cast("long")).as("n_update"),
        sum((col("op") === "D").cast("long")).as("n_delete"),
        max(col("commit_ts")).as("checkpoint_ts"))

  val blackholeSql: String =
    """SELECT schema_name, table_name,
      |  COUNT(*) AS n_acked,
      |  CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
      |  CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
      |  CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
      |  MAX(commit_ts) AS checkpoint_ts
      |FROM changelog
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // A111 — encoder-group ordered merge
  // ------------------------------------------------------------------

  /** Encoders per changefeed group — model-scale stand-in for the
    * configured encoder concurrency. */
  val EncoderConcurrency = 8L
  /** Deterministic encode-cost model (µs): per-row append work plus
    * per-100-bytes serialization work — the constants are a model, the
    * FRAME is the protocol (assignment, FIFO, ordered merge). */
  val EncCostPerRowUs = 10L
  val EncCostPer100BytesUs = 1L

  /** A111 — the encoder group's ordered merge (reference:
    * pkg/sink/codec/encoder_group.go:171-199 `AddEvents` + :145-169
    * `runEncoder` + :216-240 `future`): each event batch becomes a
    * FUTURE pushed round-robin onto one of N encoder input channels
    * (`atomic.AddUint64(&index, 1) % concurrency` — the FIRST future
    * lands on encoder 1, not 0) AND, in the same arrival order, onto
    * the single output channel; encoders drain their channels FIFO;
    * the consumer awaits each future's `Ready` in output order — so
    * OUTPUT ORDER IS ARRIVAL ORDER no matter which encoder finishes
    * first, and a slow future head-of-line blocks every later one.
    * This frame makes the reorder invariant and the HOL-blocking cost
    * observable: per future its encoder assignment, channel position,
    * deterministic encode cost, ready time (its encoder's cumulative
    * cost), consume time (the running max of ready times over arrival
    * order — the ordered-merge wait), and the HOL wait it absorbed.
    *
    * Arrival order: the A49 batch frame's futures per CHANGEFEED
    * (= schema, the A76/A78 convention — the group, its round-robin
    * counter and its output channel are all per-changefeed state),
    * ordered by (first_ts, table, partition, batch_id) — the
    * dispatcher hands batches to AddEvents in event-time order, ties
    * resolved by the sink key for determinism.
    *
    * Scale shape: per-changefeed rank/cumsum/running-max windows over
    * the A49 batch frame (corpus/maxBatch rows) — the A2 sequential-
    * protocol class: parallel across changefeeds, sequential within,
    * exactly the reference's concurrency layout. */
  def encoderGroup(cl: DataFrame, n: Int = 16, maxBatch: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arrival = Window.partitionBy(col("schema_name"))
      .orderBy(col("first_ts"), col("table_name"), col("partition"),
        col("batch_id"))
    val perEnc = Window.partitionBy(col("schema_name"), col("enc_idx"))
      .orderBy(col("batch_seq"))
    val prefix = Window.partitionBy(col("schema_name"))
      .orderBy(col("batch_seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    batchFrame(cl, n, maxBatch)
      .withColumn("batch_seq", row_number().over(arrival).cast("long"))
      .withColumn("enc_idx", pmod(col("batch_seq"), lit(EncoderConcurrency)))
      .withColumn("enc_seq", row_number().over(perEnc).cast("long"))
      .withColumn("cost_us",
        col("n_rows") * EncCostPerRowUs +
          expr(s"batch_bytes div 100") * EncCostPer100BytesUs)
      .withColumn("ready_us", sum(col("cost_us")).over(
        perEnc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("consume_us", max(col("ready_us")).over(prefix))
      .withColumn("hol_wait_us", col("consume_us") - col("ready_us"))
      .withColumn("out_pos", row_number().over(
        Window.partitionBy(col("schema_name"))
          .orderBy(col("consume_us"), col("batch_seq"))).cast("long"))
      .withColumn("order_preserved",
        when(col("out_pos") === col("batch_seq"), 1L).otherwise(0L))
      .select(col("schema_name"), col("table_name"), col("partition"),
        col("batch_id"), col("batch_seq"), col("enc_idx"), col("enc_seq"),
        col("n_rows"), col("batch_bytes"), col("cost_us"), col("ready_us"),
        col("consume_us"), col("hol_wait_us"), col("order_preserved"))
  }

  def encoderGroupSql(n: Int = 16, maxBatch: Int = 16): String =
    s"""WITH batches AS (
       |${batchFrameSql(n, maxBatch).linesIterator.map("  " + _).mkString("\n")}
       |), seqd AS (
       |  SELECT *,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY schema_name
       |      ORDER BY first_ts, table_name, partition, batch_id) AS BIGINT)
       |      AS batch_seq
       |  FROM batches
       |), enc AS (
       |  SELECT *, batch_seq % $EncoderConcurrency AS enc_idx,
       |    CAST(n_rows * $EncCostPerRowUs +
       |      (batch_bytes // 100) * $EncCostPer100BytesUs AS BIGINT)
       |      AS cost_us
       |  FROM seqd
       |), timed AS (
       |  SELECT *,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY schema_name, enc_idx
       |      ORDER BY batch_seq) AS BIGINT) AS enc_seq,
       |    CAST(SUM(cost_us) OVER (PARTITION BY schema_name, enc_idx
       |      ORDER BY batch_seq
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS ready_us
       |  FROM enc
       |), merged AS (
       |  SELECT *,
       |    CAST(MAX(ready_us) OVER (PARTITION BY schema_name
       |      ORDER BY batch_seq
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS consume_us
       |  FROM timed
       |)
       |SELECT schema_name, table_name, partition, batch_id, batch_seq,
       |  enc_idx, enc_seq, n_rows, batch_bytes, cost_us, ready_us,
       |  consume_us, CAST(consume_us - ready_us AS BIGINT) AS hol_wait_us,
       |  CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY schema_name
       |      ORDER BY consume_us, batch_seq) = batch_seq
       |    THEN 1 ELSE 0 END AS BIGINT) AS order_preserved
       |FROM merged""".stripMargin
}
