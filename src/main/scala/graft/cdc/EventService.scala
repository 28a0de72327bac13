package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A77 — the event service's scan-task decision (reference:
  * pkg/eventservice/event_broker.go:302-351 `checkNeedScan` +
  * pkg/eventservice/dispatcher_stat.go:121-137 `getDataRange`): for
  * every registered dispatcher span the broker decides, each poll,
  * whether to scan the event store or just advance the dispatcher's
  * watermark:
  *
  *  1. `startTs = max(sentResolvedTs, resetTs)`; if the dispatcher has
  *     caught up to the store's resolvedTs there is NO RANGE to scan
  *     (dispatcher_stat.go:127-128);
  *  2. the range end is CLAMPED by the table's DDL-event state —
  *     `endTs = min(storeResolvedTs, ddlResolvedTs)` — and a clamp at
  *     or below startTs cancels the scan (event_broker.go:322-327);
  *  3. if no DML (`startTs >= latestCommitTs`) and no DDL
  *     (`startTs >= ddlMaxEventCommitTs`) can exist in the range, the
  *     broker skips the scan and SENDS THE WATERMARK directly
  *     (event_broker.go:331-338);
  *  4. otherwise it scans `(startTs, endTs]`.
  *
  * Dispatcher state is modeled deterministically over the A69 region
  * spans (region = pk-hash bucket, region resolvedTs = its max
  * commitTs), replaying a mixed fleet by `region_id mod 4`:
  * class 0 LAGS (sent = last syncpoint-aligned boundary), class 1 has
  * CAUGHT UP (sent = resolved), class 2 is IDLE-ADVANCED (sent =
  * resolved, store resolved heartbeat-advanced one cadence past the
  * last commit — the broker's watermark-only fast path), class 3 is
  * DDL-STALLED (the schemastore's resolvedTs stuck at the dispatcher's
  * own boundary — the clamp arm that cancels the scan). The table's
  * DDL state otherwise sits one half-cadence past the region frontier,
  * with max DDL commit at the last schema-version boundary (SchemaStore
  * step grid). All four broker decisions appear in the production
  * frame; the oracle checks the full rule arithmetic.
  *
  * Scale shape: dispatcher state is dimension-scale (tables × regions)
  * — one partial-aggregated pass over the changelog builds it; the
  * scan-range count re-reads the changelog once against the BROADCAST
  * task frame (equi on (table, region) + the ts range as a
  * post-filter), partial-aggregated before the final join. */
object EventService {

  // one scan tick is the syncpoint interval: a lagging dispatcher's
  // sent ts is the last syncpoint-aligned boundary
  import Materialize.SyncStep

  /** A77: one row per dispatcher span with its scan decision. */
  def scanTasks(cl: DataFrame): DataFrame = {
    val step = SchemaStore.step
    val withRegion = cl.withColumn("region_id", Scheduler.pkRegion())
    // per-span state + the global DDL grid constant
    val spans = withRegion
      .groupBy(col("schema_name"), col("table_name"), col("region_id"))
      .agg(max(col("commit_ts")).as("rts"))
      .withColumn("cls", pmod(col("region_id"), lit(4L)))
      .withColumn("aligned", expr(s"(rts div $SyncStep) * $SyncStep"))
      .withColumn("sent_ts",
        when(col("cls") === 0L || col("cls") === 3L, col("aligned"))
          .otherwise(col("rts")))
      .withColumn("store_resolved_ts",
        when(col("cls") === 2L, col("rts") + SyncStep).otherwise(col("rts")))
      .withColumn("latest_commit_ts", col("rts"))
      .withColumn("ddl_resolved_ts",
        when(col("cls") === 3L, col("aligned"))
          .otherwise(col("rts") + SyncStep / 2))
    val ddlMax = cl.agg(
      expr(s"(max(commit_ts) div $step) * $step").as("ddl_max_commit_ts"))
    val tasks = spans.crossJoin(broadcast(ddlMax))
      .withColumn("start_ts", col("sent_ts")) // resetTs = 0 in this replay
      .withColumn("end_ts",
        least(col("store_resolved_ts"), col("ddl_resolved_ts")))
      .withColumn("decision",
        when(col("start_ts") >= col("store_resolved_ts"), "no_range")
          .when(col("end_ts") <= col("start_ts"), "ddl_clamped")
          .when(col("start_ts") >= col("latest_commit_ts") &&
            col("start_ts") >= col("ddl_max_commit_ts"), "watermark_only")
          .otherwise(lit("scan")))
    // scan-range event counts: broadcast the dimension-scale task frame,
    // partial-aggregate the in-range events per span
    val scanRanges = tasks.filter(col("decision") === "scan")
      .select(col("schema_name").as("s"), col("table_name").as("t"),
        col("region_id").as("r"), col("start_ts").as("lo"), col("end_ts").as("hi"))
    val counts = withRegion.join(broadcast(scanRanges),
        col("schema_name") === col("s") && col("table_name") === col("t") &&
          col("region_id") === col("r") &&
          col("commit_ts") > col("lo") && col("commit_ts") <= col("hi"))
      .groupBy(col("s"), col("t"), col("r"))
      .agg(count(lit(1)).as("n_events"))
    tasks.join(counts,
        col("schema_name") === col("s") && col("table_name") === col("t") &&
          col("region_id") === col("r"), "left")
      .select(col("schema_name"), col("table_name"), col("region_id"),
        col("start_ts"), col("end_ts"), col("store_resolved_ts"),
        col("decision"), coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  def scanTasksSql(): String = {
    val step = SchemaStore.step
    val bucket = Scheduler.pkRegionSql()
    s"""WITH regioned AS (
       |  SELECT schema_name, table_name, $bucket AS region_id, commit_ts
       |  FROM changelog
       |),
       |spans AS (
       |  SELECT schema_name, table_name, region_id, MAX(commit_ts) AS rts,
       |    region_id % 4 AS cls,
       |    (MAX(commit_ts) // $SyncStep) * $SyncStep AS aligned
       |  FROM regioned GROUP BY 1, 2, 3
       |),
       |st AS (
       |  SELECT schema_name, table_name, region_id, rts,
       |    CASE WHEN cls IN (0, 3) THEN aligned ELSE rts END AS start_ts,
       |    CASE WHEN cls = 2 THEN rts + $SyncStep ELSE rts END AS store_resolved_ts,
       |    rts AS latest_commit_ts,
       |    CASE WHEN cls = 3 THEN aligned ELSE rts + ${SyncStep / 2} END AS ddl_resolved_ts,
       |    (SELECT (MAX(commit_ts) // $step) * $step FROM changelog) AS ddl_max_commit_ts
       |  FROM spans
       |),
       |tasks AS (
       |  SELECT schema_name, table_name, region_id, start_ts,
       |    LEAST(store_resolved_ts, ddl_resolved_ts) AS end_ts,
       |    store_resolved_ts,
       |    CASE
       |      WHEN start_ts >= store_resolved_ts THEN 'no_range'
       |      WHEN LEAST(store_resolved_ts, ddl_resolved_ts) <= start_ts THEN 'ddl_clamped'
       |      WHEN start_ts >= latest_commit_ts AND start_ts >= ddl_max_commit_ts
       |        THEN 'watermark_only'
       |      ELSE 'scan'
       |    END AS decision
       |  FROM st
       |),
       |counts AS (
       |  SELECT t.schema_name, t.table_name, t.region_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM tasks t JOIN regioned e
       |    ON e.schema_name = t.schema_name AND e.table_name = t.table_name
       |   AND e.region_id = t.region_id
       |   AND e.commit_ts > t.start_ts AND e.commit_ts <= t.end_ts
       |  WHERE t.decision = 'scan'
       |  GROUP BY 1, 2, 3
       |)
       |SELECT t.schema_name, t.table_name, t.region_id, t.start_ts, t.end_ts,
       |  t.store_resolved_ts, t.decision,
       |  COALESCE(c.n_events, 0) AS n_events
       |FROM tasks t LEFT JOIN counts c
       |  ON c.schema_name = t.schema_name AND c.table_name = t.table_name
       | AND c.region_id = t.region_id""".stripMargin
  }

  // ---------------------------------------------------------------- A85
  /** A85: the event collector's INGRESS protocol — how a dispatcher
    * guards itself against a mis-sequencing event service (reference:
    * downstreamadapter/eventcollector/event_collector.go:469-525
    * `checkEventSeq` + `shouldIgnoreDataEvent`, `reset`:461-467,
    * `handleHandshakeEvent`:527-551). Per event:
    * wrong-server events are dropped outright (no state touched); while
    * `waitHandshake`, every data event is dropped; otherwise the seq
    * check INCREMENTS lastEventSeq and a mismatch resets the dispatcher
    * (lastEventSeq=0, waitHandshake until the next handshake — which
    * itself passes the seq check, so a recovery handshake carries
    * seq 1); a surviving event older than sendCommitTs is dropped as
    * stale; an accepted event advances sendCommitTs.
    *
    * The ingress trace is derived deterministically from the changelog
    * so every arm appears and the whole decision sequence has a CLOSED
    * FORM (no sequential fold needed): per dispatcher (= table), DMLs
    * arrive in commit order; at rows with commit_ts%23==3 the service
    * "mis-delivers" — a DUPLICATE of the row (stale seq → out-of-order
    * → reset), on odd commit_ts a STRAGGLER copy of the next row
    * arrives before the recovery handshake (dropped by the wait arm,
    * then re-sent in the new epoch), a recovery HANDSHAKE (seq 1), and
    * a REPLAY of the epoch's first DML with the correct next seq
    * (dropped as STALE exactly when the epoch held ≥2 DMLs — otherwise
    * its ts equals sendCommitTs and is accepted). Rows with
    * commit_ts%29==7 also arrive from a WRONG SERVER. Epoch indices,
    * per-epoch positions, seqs, the global item position `pos`, and
    * every outcome are CLOSED FORMS in prefix counts of the row-local
    * source flags — no sequential fold: one per-dispatcher window
    * (ordered by commit_ts, pk — pk closes the total order for oracle
    * hash parity on same-ts DMLs) carries every prefix count, and the
    * anchors explode into positioned items row-locally. Building the
    * frame runs no Spark job. The fold-equality spec replays the
    * reference's stateful loop (transcribed) over the trace and must
    * reproduce every outcome. */
  def seqCheck(cl: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("schema_name"), col("table_name"))
      .orderBy(col("commit_ts"), col("pk"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val base = cl.select(col("schema_name"), col("table_name"), col("commit_ts"),
        col("pk"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("inj", expr("commit_ts % 23 = 3") && col("rn") > 1L)
      .withColumn("delayed", col("inj") && expr("commit_ts % 2 = 1"))
      .withColumn("wrong", expr("commit_ts % 29 = 7"))
      .withColumn("next_ts", lead(col("commit_ts"), 1).over(w))
      .withColumn("epoch",
        coalesce(sum(col("inj").cast("long")).over(wPrev), lit(0L)))
      .withColumn("p",
        col("rn") - coalesce(max(when(col("inj"), col("rn"))).over(wPrev), lit(0L)))
      .withColumn("first_ts_epoch",
        coalesce(last(when(col("inj"), col("next_ts")), ignoreNulls = true).over(wPrev),
          first(col("commit_ts")).over(w)))
      .withColumn("seq",
        when(col("epoch") === 0L, lit(1L) + col("p")).otherwise(lit(2L) + col("p")))
      .withColumn("n_items",
        (col("rn") === 1L).cast("long") + lit(1L) + col("wrong").cast("long")
          + col("inj").cast("long") * lit(3L)
          + (col("delayed") && col("next_ts").isNotNull).cast("long"))
    // second WindowExec on the same sorted frame (streaming pass, no
    // new shuffle/sort)
    val counted = base.withColumn("pos_base",
      coalesce(sum(col("n_items")).over(wPrev), lit(0L)))
    // per-anchor offsets of each entry among the PRESENT ones — the
    // prefix sums of the presence flags, so pos needs no post-explode
    // rank (and no non-codegen array HOF: plain explode + null filter)
    val hs = (col("rn") === 1L).cast("long")
    val wv = col("wrong").cast("long")
    val iv = col("inj").cast("long")
    val dv = (col("delayed") && col("next_ts").isNotNull).cast("long")
    def item(sub: Int, pos: org.apache.spark.sql.Column, kind: String,
             seq: org.apache.spark.sql.Column,
             ts: org.apache.spark.sql.Column, src: String,
             epoch: org.apache.spark.sql.Column,
             outcome: org.apache.spark.sql.Column) =
      struct(lit(sub).as("sub"), (col("pos_base") + pos + 1L).as("pos"),
        lit(kind).as("kind"), seq.as("seq"),
        ts.as("commit_ts"), lit(src).as("src"), epoch.as("epoch"),
        outcome.as("outcome"))
    val items = counted.select(col("schema_name"), col("table_name"),
      col("rn").as("anchor_rn"),
      explode(array(
        when(col("rn") === 1L, item(-1, lit(0L), "HANDSHAKE", lit(1L), lit(0L),
          "srv-0", lit(0L), lit("accept_handshake"))),
        item(0, hs, "DML", col("seq"), col("commit_ts"), "srv-0", col("epoch"),
          lit("accept")),
        when(col("wrong"), item(1, hs + 1L, "DML", lit(0L), col("commit_ts"),
          "srv-remote", col("epoch"), lit("ignore_wrong_server"))),
        when(col("inj"), item(2, hs + 1L + wv, "DML", col("seq"), col("commit_ts"),
          "srv-0", col("epoch"), lit("ignore_out_of_order"))),
        when(col("delayed") && col("next_ts").isNotNull,
          item(3, hs + 1L + wv + iv, "DML", col("seq") + 1L, col("next_ts"), "srv-0",
            col("epoch"), lit("ignore_wait_handshake"))),
        when(col("inj"), item(4, hs + 1L + wv + iv + dv, "HANDSHAKE", lit(1L),
          col("commit_ts"),
          "srv-0", col("epoch") + 1L, lit("accept_handshake"))),
        when(col("inj"), item(5, hs + 2L + wv + iv + dv, "DML", lit(2L),
          col("first_ts_epoch"),
          "srv-0", col("epoch") + 1L,
          when(col("p") >= 2L, lit("ignore_stale")).otherwise(lit("accept"))))
      )).as("e"))
      .filter(col("e").isNotNull)
    items.select(col("schema_name"), col("table_name"), col("anchor_rn"),
        col("e.sub").cast("long").as("sub"),
        col("e.pos").cast("long").as("pos"),
        col("e.kind").as("kind"), col("e.seq").as("seq"),
        col("e.commit_ts").as("commit_ts"), col("e.src").as("src"),
        col("e.epoch").as("epoch"), col("e.outcome").as("outcome"))
  }

  def seqCheckSql(): String =
    s"""WITH base AS (
       |  SELECT schema_name, table_name, commit_ts, pk,
       |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
       |    (commit_ts % 23 = 3 AND ROW_NUMBER() OVER w > 1) AS inj,
       |    (commit_ts % 23 = 3 AND ROW_NUMBER() OVER w > 1
       |      AND commit_ts % 2 = 1) AS delayed,
       |    (commit_ts % 29 = 7) AS wrong,
       |    LEAD(commit_ts, 1) OVER w AS next_ts
       |  FROM changelog
       |  WINDOW w AS (PARTITION BY schema_name, table_name
       |    ORDER BY commit_ts, pk)
       |), d AS (
       |  SELECT *,
       |    COALESCE(SUM(CASE WHEN inj THEN 1 ELSE 0 END) OVER wp, 0) AS epoch,
       |    rn - COALESCE(MAX(CASE WHEN inj THEN rn END) OVER wp, 0) AS p,
       |    COALESCE(
       |      LAST_VALUE(CASE WHEN inj THEN next_ts END IGNORE NULLS) OVER wp,
       |      MIN(commit_ts) OVER (PARTITION BY schema_name, table_name)
       |    ) AS first_ts_epoch
       |  FROM base
       |  WINDOW wp AS (PARTITION BY schema_name, table_name
       |    ORDER BY commit_ts, pk
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |), s AS (
       |  SELECT *, CASE WHEN epoch = 0 THEN 1 + p ELSE 2 + p END AS seq
       |  FROM d
       |), ex AS (
       |  SELECT schema_name, table_name, rn AS anchor_rn,
       |    UNNEST(list_filter([
       |      CASE WHEN rn = 1 THEN {'sub': -1, 'kind': 'HANDSHAKE', 'seq': 1,
       |        'commit_ts': 0, 'src': 'srv-0', 'epoch': 0,
       |        'outcome': 'accept_handshake'} END,
       |      {'sub': 0, 'kind': 'DML', 'seq': seq, 'commit_ts': commit_ts,
       |        'src': 'srv-0', 'epoch': epoch, 'outcome': 'accept'},
       |      CASE WHEN wrong THEN {'sub': 1, 'kind': 'DML', 'seq': 0,
       |        'commit_ts': commit_ts, 'src': 'srv-remote', 'epoch': epoch,
       |        'outcome': 'ignore_wrong_server'} END,
       |      CASE WHEN inj THEN {'sub': 2, 'kind': 'DML', 'seq': seq,
       |        'commit_ts': commit_ts, 'src': 'srv-0', 'epoch': epoch,
       |        'outcome': 'ignore_out_of_order'} END,
       |      CASE WHEN delayed AND next_ts IS NOT NULL THEN {'sub': 3,
       |        'kind': 'DML', 'seq': seq + 1, 'commit_ts': next_ts,
       |        'src': 'srv-0', 'epoch': epoch,
       |        'outcome': 'ignore_wait_handshake'} END,
       |      CASE WHEN inj THEN {'sub': 4, 'kind': 'HANDSHAKE', 'seq': 1,
       |        'commit_ts': commit_ts, 'src': 'srv-0', 'epoch': epoch + 1,
       |        'outcome': 'accept_handshake'} END,
       |      CASE WHEN inj THEN {'sub': 5, 'kind': 'DML', 'seq': 2,
       |        'commit_ts': first_ts_epoch, 'src': 'srv-0', 'epoch': epoch + 1,
       |        'outcome': CASE WHEN p >= 2 THEN 'ignore_stale'
       |                        ELSE 'accept' END} END
       |    ], x -> x IS NOT NULL)) AS e
       |  FROM s
       |)
       |SELECT schema_name, table_name, anchor_rn,
       |  CAST(e.sub AS BIGINT) AS sub,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY schema_name, table_name
       |    ORDER BY anchor_rn, e.sub) AS BIGINT) AS pos,
       |  e.kind AS kind, CAST(e.seq AS BIGINT) AS seq,
       |  CAST(e.commit_ts AS BIGINT) AS commit_ts, e.src AS src,
       |  CAST(e.epoch AS BIGINT) AS epoch, e.outcome AS outcome
       |FROM ex""".stripMargin

  // ---------------------------------------------------------------- A87
  /** A87: the scan-task EMISSION assembly — what `doScan` actually
    * sends for a task the A77 decision marked `scan` (reference:
    * pkg/eventservice/event_broker.go:395-505 doScan + sendDDL:285-300
    * + sendWatermark:144-157): DMLs of the range stream in commit
    * order; the fetched DDL list interleaves by the STRICT rule
    * (`dml.CommitTs > ddl.FinishedTs` sends the DDL first, so a DDL
    * ties AFTER a DML at the same ts); leftover DDLs drain after the
    * last DML; one final watermark message at EndTs closes the task.
    * DML and DDL share the dispatcher's single seq counter
    * (`d.seq.Add(1)` in both paths); the watermark carries none.
    * The syncpoint arm is off — the production default
    * (`enableSyncPoint=false`); A16/A54 model syncpoint semantics.
    *
    * Plan: the A77 task frame (dimension-scale, broadcast) gates one
    * changelog pass (equi join on (table, region) + the range as a
    * post-filter) unioned with the task × DDL-grid rows; pos and seq
    * are two windows on the same task-keyed shuffle. */
  def scanEmit(cl: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tasks = scanTasks(cl)
      .filter(col("decision") === "scan")
      .select(col("schema_name"), col("table_name"), col("region_id"),
        // the changelog carries its own txn start_ts — rename the range
        col("start_ts").as("scan_start"), col("end_ts"))
    val dmls = cl
      .withColumn("region_id", Scheduler.pkRegion())
      .join(broadcast(tasks), Seq("schema_name", "table_name", "region_id"))
      .filter(col("commit_ts") > col("scan_start") && col("commit_ts") <= col("end_ts"))
      .select(col("schema_name"), col("table_name"), col("region_id"),
        col("commit_ts").as("ts"), lit(0L).as("tie"), lit("DML").as("kind"),
        col("pk").cast("string").as("detail"))
    val ddls = SchemaStore.ddlEvents(cl, Nil)
      .join(broadcast(tasks), Seq("schema_name", "table_name"))
      .filter(col("valid_from") > col("scan_start") && col("valid_from") <= col("end_ts"))
      .select(col("schema_name"), col("table_name"), col("region_id"),
        col("valid_from").as("ts"), lit(1L).as("tie"), lit("DDL").as("kind"),
        col("schema_ver").as("detail"))
    val wm = tasks.select(col("schema_name"), col("table_name"), col("region_id"),
      col("end_ts").as("ts"), lit(2L).as("tie"), lit("WATERMARK").as("kind"),
      lit("").as("detail"))
    // detail (the pk / schema version) closes the total order: two
    // DMLs at one commit_ts must get engine-independent pos/seq
    val w = Window.partitionBy(col("schema_name"), col("table_name"), col("region_id"))
      .orderBy(col("ts"), col("tie"), col("detail"))
    dmls.unionByName(ddls).unionByName(wm)
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("seq",
        when(col("kind") === "WATERMARK", lit(0L))
          .otherwise(sum(when(col("kind") =!= "WATERMARK", lit(1L))
            .otherwise(lit(0L)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      .select(col("schema_name"), col("table_name"), col("region_id"),
        col("pos"), col("kind"), col("ts"), col("seq"), col("detail"))
  }

  def scanEmitSql(): String = {
    val bucket = Scheduler.pkRegionSql()
    s"""WITH alltasks AS (
       |${scanTasksSql().linesIterator.map("  " + _).mkString("\n")}
       |), tasks AS (
       |  SELECT schema_name, table_name, region_id, start_ts, end_ts
       |  FROM alltasks WHERE decision = 'scan'
       |), ddlgrid AS (
       |  SELECT t.schema_name, t.table_name,
       |    g.v * ${SchemaStore.step} AS valid_from,
       |    CONCAT('v', CAST(g.v AS VARCHAR)) AS schema_ver
       |  FROM (SELECT DISTINCT schema_name, table_name FROM changelog) t
       |  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0,
       |    (SELECT MAX(commit_ts) FROM changelog) // ${SchemaStore.step})) AS v) g
       |), msgs AS (
       |  SELECT c.schema_name, c.table_name, r.region_id, c.commit_ts AS ts,
       |    0 AS tie, 'DML' AS kind, CAST(c.pk AS VARCHAR) AS detail
       |  FROM (SELECT *, $bucket AS region_id FROM changelog) c
       |  JOIN tasks r ON c.schema_name = r.schema_name
       |    AND c.table_name = r.table_name AND c.region_id = r.region_id
       |  WHERE c.commit_ts > r.start_ts AND c.commit_ts <= r.end_ts
       |  UNION ALL
       |  SELECT d.schema_name, d.table_name, r.region_id, d.valid_from AS ts,
       |    1 AS tie, 'DDL' AS kind, d.schema_ver AS detail
       |  FROM ddlgrid d JOIN tasks r
       |    ON d.schema_name = r.schema_name AND d.table_name = r.table_name
       |  WHERE d.valid_from > r.start_ts AND d.valid_from <= r.end_ts
       |  UNION ALL
       |  SELECT schema_name, table_name, region_id, end_ts AS ts,
       |    2 AS tie, 'WATERMARK' AS kind, '' AS detail
       |  FROM tasks
       |)
       |SELECT schema_name, table_name, region_id,
       |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS pos,
       |  kind, CAST(ts AS BIGINT) AS ts,
       |  CAST(CASE WHEN kind = 'WATERMARK' THEN 0
       |    ELSE SUM(CASE WHEN kind <> 'WATERMARK' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY schema_name, table_name, region_id
       |        ORDER BY ts, tie, detail
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    END AS BIGINT) AS seq,
       |  detail
       |FROM msgs
       |WINDOW w AS (PARTITION BY schema_name, table_name, region_id
       |  ORDER BY ts, tie, detail)""".stripMargin
  }

  // ---------------------------------------------------------------- A88
  /** A88: the TiKV RECORD-KEY layout — the raw key every entry of the
    * ingestion side carries (reference: pkg/common/event/codec.go:32
    * `tablePrefix` + :62-72 `decodeTableID` over tidb's
    * codec.DecodeInt, mounter.go:243-249 DecodeTableID): byte layout
    * `'t' ++ memcomparable(int64 tableID) ++ "_r" ++
    * memcomparable(int64 handle)`, where memcomparable(int64) is the
    * big-endian bytes of `v XOR 2^63` (the sign-flip that makes signed
    * ints order as unsigned bytes). Both ids here are non-negative and
    * < 2^60, so the encoding is the '8' sign nibble followed by the
    * 15-nibble hex of the value — rendered as lowercase hex, the
    * byte-exact convention of A41/A61. The frame carries encode AND
    * decode (prefix/sign/separator checks; `valid`=1 ⇔ the key parses
    * and round-trips) — row-local after a dimension-scale dense-rank
    * broadcast assigns table ids. */
  def kvKeyCodec(cl: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ids = ClDims.tables(cl)
      .withColumn("table_id",
        row_number().over(graft.util.Windows.bounded(col("schema_name"), col("table_name")))
          .cast("long") - 1L)
    def enc15(c: org.apache.spark.sql.Column) =
      concat(lit("8"), lpad(lower(hex(c)), 15, "0"))
    // The 15-nibble encoding is only injective on 0 <= v < 2^60; an
    // out-of-domain id must fail LOUDLY (NULL key, which decodes to
    // valid=0) instead of silently truncating to a structurally
    // plausible key for a different handle. Mirrored in the oracle.
    def inDomain(c: org.apache.spark.sql.Column) =
      c >= 0L && c < (1L << 60)
    val keyed = cl.select(col("schema_name"), col("table_name"),
        col("pk"), col("commit_ts"))
      .join(broadcast(ids), Seq("schema_name", "table_name"))
      .withColumn("key_hex",
        when(inDomain(col("table_id")) && inDomain(col("pk")),
          concat(lit("74"), enc15(col("table_id")), lit("5f72"), enc15(col("pk")))))
    keyed
      .withColumn("dec_table_id",
        when(substring(col("key_hex"), 1, 2) === "74" &&
             substring(col("key_hex"), 3, 1) === "8" &&
             substring(col("key_hex"), 19, 4) === "5f72" &&
             substring(col("key_hex"), 23, 1) === "8" &&
             length(col("key_hex")) === 38,
          conv(substring(col("key_hex"), 4, 15), 16, 10).cast("long"))
          .otherwise(lit(-1L)))
      .withColumn("dec_handle",
        when(col("dec_table_id") >= 0L,
          conv(substring(col("key_hex"), 24, 15), 16, 10).cast("long"))
          .otherwise(lit(-1L)))
      .withColumn("valid",
        (col("dec_table_id") === col("table_id") &&
          col("dec_handle") === col("pk")).cast("long"))
      .select(col("schema_name"), col("table_name"), col("pk"), col("commit_ts"),
        col("table_id"), col("key_hex"), col("dec_table_id"),
        col("dec_handle"), col("valid"))
  }

  def kvKeyCodecSql(): String =
    s"""WITH ids AS (
       |  SELECT schema_name, table_name,
       |    CAST(ROW_NUMBER() OVER (ORDER BY schema_name, table_name)
       |      AS BIGINT) - 1 AS table_id
       |  FROM (SELECT DISTINCT schema_name, table_name FROM changelog)
       |), keyed AS (
       |  SELECT c.schema_name, c.table_name, c.pk, c.commit_ts, i.table_id,
       |    CASE WHEN i.table_id >= 0 AND i.table_id < ${1L << 60}
       |          AND c.pk >= 0 AND c.pk < ${1L << 60}
       |      THEN CONCAT('74', '8', lpad(lower(to_hex(i.table_id)), 15, '0'),
       |        '5f72', '8', lpad(lower(to_hex(c.pk)), 15, '0'))
       |      END AS key_hex
       |  FROM changelog c JOIN ids i
       |    ON c.schema_name = i.schema_name AND c.table_name = i.table_name
       |), dec AS (
       |  SELECT *,
       |    CASE WHEN substring(key_hex, 1, 2) = '74'
       |          AND substring(key_hex, 3, 1) = '8'
       |          AND substring(key_hex, 19, 4) = '5f72'
       |          AND substring(key_hex, 23, 1) = '8'
       |          AND length(key_hex) = 38
       |      THEN CAST(CONCAT('0x', substring(key_hex, 4, 15)) AS BIGINT)
       |      ELSE -1 END AS dec_table_id
       |  FROM keyed
       |)
       |SELECT schema_name, table_name, pk, commit_ts, table_id, key_hex,
       |  dec_table_id,
       |  CASE WHEN dec_table_id >= 0
       |    THEN CAST(CONCAT('0x', substring(key_hex, 24, 15)) AS BIGINT)
       |    ELSE -1 END AS dec_handle,
       |  CAST(dec_table_id = table_id AND
       |    (CASE WHEN dec_table_id >= 0
       |      THEN CAST(CONCAT('0x', substring(key_hex, 24, 15)) AS BIGINT)
       |      ELSE -1 END) = pk AS BIGINT) AS valid
       |FROM dec""".stripMargin

  // --------------------------------------------------------------- A104
  /** A104: the eventstore's SORT-KEY layout (reference:
    * logservice/eventstore/format.go:50-85 EncodeKey + getDMLOrder) —
    * the on-disk key whose BYTE order IS the replay order: big-endian
    * (uniqueID, tableID, CRTs, startTs) as four 8-byte words, a
    * 2-byte DML-order discriminator pinning delete < update < insert
    * at equal commit ts (the storage-layer tiebreak the A2 sort
    * relies on), then the raw record key (the A88 layout). Because
    * every field is fixed-width big-endian, lexicographic order of
    * the encoded bytes equals the tuple order — THE invariant an LSM
    * iterator needs, and the oracle makes it visible: `pos_bykey`
    * ranks by the hex string, `pos_bytuple` by the logical tuple, and
    * a layout bug (little-endian words, unpadded hex) splits them.
    * uniqueID stand-in = the subscription's table id (one
    * subscription per table — the A77 scan-task granularity).
    * Row-local encode after the dimension-scale id broadcast + one
    * per-table rank window pair on a single shuffle (the A2 class). */
  def eventstoreKey(cl: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ids = ClDims.tables(cl)
      .withColumn("table_id",
        row_number().over(graft.util.Windows.bounded(col("schema_name"), col("table_name")))
          .cast("long") - 1L)
    def w16(c: org.apache.spark.sql.Column) = lpad(lower(hex(c)), 16, "0")
    def enc15(c: org.apache.spark.sql.Column) =
      concat(lit("8"), lpad(lower(hex(c)), 15, "0"))
    // The 15-nibble raw-key encoding is injective only on 0 <= v < 2^60
    // (the A88 guard, applied to its A104 twin): an out-of-domain pk
    // must fail LOUDLY (NULL raw/sort key, order_preserved NULL) rather
    // than silently truncate into a plausible sort position for a
    // DIFFERENT handle. Mirrored in the oracle; nulls-last pinned
    // explicitly in both engines so the tamper arm stays deterministic.
    def inDomain(c: org.apache.spark.sql.Column) =
      c >= 0L && c < (1L << 60)
    val w = Window.partitionBy(col("table_id"))
    val keyed = cl.select(col("schema_name"), col("table_name"), col("op"),
        col("pk"), col("commit_ts"), col("start_ts"))
      .join(broadcast(ids), Seq("schema_name", "table_name"))
      .withColumn("dml_order",
        when(col("op") === "D", 1L).when(col("op") === "U", 2L).otherwise(3L))
      .withColumn("raw_key",
        when(inDomain(col("table_id")) && inDomain(col("pk")),
          concat(lit("74"), enc15(col("table_id")), lit("5f72"),
            enc15(col("pk")))))
      .withColumn("sort_key",
        concat(w16(col("table_id")), w16(col("table_id")),
          w16(col("commit_ts")), w16(col("start_ts")),
          lpad(lower(hex(col("dml_order"))), 4, "0"), col("raw_key")))
    keyed
      .withColumn("pos_bykey",
        row_number().over(w.orderBy(col("sort_key").asc_nulls_last,
          col("pk"))).cast("long"))
      .withColumn("pos_bytuple",
        row_number().over(w.orderBy(col("commit_ts"), col("start_ts"),
          col("dml_order"), col("raw_key").asc_nulls_last, col("pk")))
          .cast("long"))
      .select(col("schema_name"), col("table_name"), col("pk"),
        col("commit_ts"), col("op"), col("table_id"), col("dml_order"),
        col("sort_key"), col("pos_bykey"), col("pos_bytuple"),
        (col("pos_bykey") === col("pos_bytuple")).cast("long")
          .as("order_preserved"))
  }

  def eventstoreKeySql(): String =
    s"""WITH ids AS (
       |  SELECT schema_name, table_name,
       |    CAST(ROW_NUMBER() OVER (ORDER BY schema_name, table_name)
       |      AS BIGINT) - 1 AS table_id
       |  FROM (SELECT DISTINCT schema_name, table_name FROM changelog)
       |), keyed AS (
       |  SELECT c.schema_name, c.table_name, c.pk, c.commit_ts, c.start_ts,
       |    c.op, i.table_id,
       |    CASE WHEN c.op = 'D' THEN 1 WHEN c.op = 'U' THEN 2 ELSE 3 END
       |      AS dml_order,
       |    CASE WHEN i.table_id >= 0 AND i.table_id < ${1L << 60}
       |          AND c.pk >= 0 AND c.pk < ${1L << 60}
       |      THEN CONCAT('74', '8', lpad(lower(to_hex(i.table_id)), 15, '0'),
       |        '5f72', '8', lpad(lower(to_hex(c.pk)), 15, '0'))
       |      END AS raw_key
       |  FROM changelog c JOIN ids i
       |    ON c.schema_name = i.schema_name AND c.table_name = i.table_name
       |), sk AS (
       |  -- '||' (not CONCAT): DuckDB CONCAT skips NULL args, but a NULL
       |  -- raw_key must null the WHOLE sort key (Spark concat semantics).
       |  SELECT *,
       |    lpad(lower(to_hex(table_id)), 16, '0')
       |      || lpad(lower(to_hex(table_id)), 16, '0')
       |      || lpad(lower(to_hex(commit_ts)), 16, '0')
       |      || lpad(lower(to_hex(start_ts)), 16, '0')
       |      || lpad(lower(to_hex(dml_order)), 4, '0')
       |      || raw_key AS sort_key
       |  FROM keyed
       |)
       |SELECT schema_name, table_name, pk, commit_ts, op, table_id,
       |  CAST(dml_order AS BIGINT) AS dml_order, sort_key,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY table_id
       |    ORDER BY sort_key NULLS LAST, pk) AS BIGINT) AS pos_bykey,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY table_id
       |    ORDER BY commit_ts, start_ts, dml_order, raw_key NULLS LAST, pk)
       |    AS BIGINT) AS pos_bytuple,
       |  CAST((ROW_NUMBER() OVER (PARTITION BY table_id
       |      ORDER BY sort_key NULLS LAST, pk)) =
       |    (ROW_NUMBER() OVER (PARTITION BY table_id
       |      ORDER BY commit_ts, start_ts, dml_order, raw_key NULLS LAST, pk))
       |    AS BIGINT) AS order_preserved
       |FROM sk""".stripMargin

  // ---------------------------------------------------------------- A89
  /** A89: the mounter's ingress key gate — what happens to each raw KV
    * entry BEFORE it becomes a row event (reference:
    * pkg/common/event/mounter.go:67-110 DecodeToChunk): only table
    * RECORD keys (`t…_r…`, the A88 layout) decode; INDEX keys
    * (`t…_i…`) fail DecodeRowKey and are skipped; non-table keys
    * (the `m…` meta keyspace) fail the tablePrefix gate. A decoded
    * entry contributes one chunk row PER PRESENT IMAGE — OldValue and
    * Value each decode when non-empty (:81-109), so an update counts 2,
    * an insert or delete 1. The mixed key stream is deterministic
    * (every event carries its record key; commit_ts%7==0 adds an index
    * key, %11==0 a meta key) and the frame aggregates per
    * (table, kind): key count + decoded-image count. One
    * partial-aggregated shuffle over the row-local classification. */
  def rawKeyFilter(cl: DataFrame): DataFrame = {
    val base = cl.select(col("schema_name"), col("table_name"), col("op"),
        col("commit_ts"))
      .withColumn("n_images",
        when(col("op") === "U", lit(2L)).otherwise(lit(1L)))
      .select(col("schema_name"), col("table_name"),
        explode(array(
          struct(lit("record").as("kind"), lit("decode").as("decision"),
            col("n_images").as("imgs")),
          when(expr("commit_ts % 7 = 0"),
            struct(lit("index").as("kind"), lit("skip_index").as("decision"),
              lit(0L).as("imgs"))),
          when(expr("commit_ts % 11 = 0"),
            struct(lit("meta").as("kind"), lit("skip_non_table").as("decision"),
              lit(0L).as("imgs"))))).as("e"))
      .filter(col("e").isNotNull)
    base.groupBy(col("schema_name"), col("table_name"),
        col("e.kind").as("kind"), col("e.decision").as("decision"))
      .agg(count(lit(1)).as("n_keys"), sum(col("e.imgs")).as("n_images_decoded"))
  }

  val rawKeyFilterSql: String =
    """SELECT schema_name, table_name, e.kind AS kind, e.decision AS decision,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(e.imgs) AS BIGINT) AS n_images_decoded
      |FROM (
      |  SELECT schema_name, table_name,
      |    UNNEST(list_filter([
      |      {'kind': 'record', 'decision': 'decode',
      |       'imgs': CASE WHEN op = 'U' THEN 2 ELSE 1 END},
      |      CASE WHEN commit_ts % 7 = 0 THEN
      |        {'kind': 'index', 'decision': 'skip_index', 'imgs': 0} END,
      |      CASE WHEN commit_ts % 11 = 0 THEN
      |        {'kind': 'meta', 'decision': 'skip_non_table', 'imgs': 0} END
      |    ], x -> x IS NOT NULL)) AS e
      |  FROM changelog
      |)
      |GROUP BY 1, 2, 3, 4""".stripMargin

  // ---------------------------------------------------------------- A86
  /** A86: the log coordinator's candidate-node ranking — where a
    * dispatcher can RE-FETCH history from when its local event store
    * can't serve it (reference: logservice/coordinator/coordinator.go:
    * 194-248 `getCandidateNodes` + updateEventStoreState:161-190).
    * For a (table span, startTs) request: every OTHER node that holds a
    * subscription on the table whose checkpointTs ≤ startTs can serve;
    * each such node bids its MAX resolvedTs over qualifying
    * subscriptions; candidates rank by resolvedTs DESC. The reference's
    * sort leaves equal-resolvedTs order unspecified (sort.Slice is
    * unstable) — the model pins ties to the smaller node ordinal, a
    * deterministic refinement.
    *
    * The node fleet and its subscription table are derived
    * deterministically from per-table changelog stats (4 nodes × 2
    * subscriptions, one (node,table) pair absent per table — the `!ok`
    * skip arm; checkpoints stride an eighth of the table's ts range,
    * resolved ts vary by a rotating shift so rankings differ by table);
    * requests probe two startTs grid points per table from node n0.
    * Everything after the ONE changelog aggregation is
    * dimension-scale: stats × node grid × request grid ride broadcast
    * crosses. */
  def logCandidates(cl: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = cl.groupBy(col("schema_name"), col("table_name"))
      .agg(min(col("commit_ts")).as("tmin"), max(col("commit_ts")).as("tmax"))
      .withColumn("tord",
        row_number().over(graft.util.Windows.bounded(col("schema_name"), col("table_name")))
          .cast("long") - 1L)
      .withColumn("stride", expr("(tmax - tmin) div 8"))
    val nodes = stats.sparkSession.range(Scheduler.NNodes).select(col("id").as("nord"))
    val subs = stats.crossJoin(broadcast(nodes))
      .filter(expr(s"(tord + nord) % ${Scheduler.NNodes} != ${Scheduler.NNodes - 1}"))
      .select(col("schema_name"), col("table_name"), col("tmin"), col("tmax"),
        col("stride"), col("nord"),
        explode(array(lit(0L), lit(1L))).as("k"))
      .withColumn("cp", col("tmin") + (col("nord") * 2L + col("k")) * col("stride"))
      .withColumn("rts",
        col("tmax") - pmod(col("nord") + col("k") * 3L, lit(5L)) *
          expr("(tmax - tmin) div 16"))
    val reqs = stats.select(col("schema_name"), col("table_name"),
      explode(array(expr("tmin + (tmax - tmin) div 4"),
        expr("tmin + (tmax - tmin) div 2"))).as("start_ts"))
    val bids = reqs.join(subs, Seq("schema_name", "table_name"))
      .filter(col("nord") =!= 0L && col("cp") <= col("start_ts"))
      .groupBy(col("schema_name"), col("table_name"), col("start_ts"), col("nord"))
      .agg(max(col("rts")).as("resolved_ts"))
    bids.withColumn("rnk",
        row_number().over(Window
          .partitionBy(col("schema_name"), col("table_name"), col("start_ts"))
          .orderBy(col("resolved_ts").desc, col("nord"))).cast("long"))
      .select(col("schema_name"), col("table_name"), col("start_ts"),
        col("rnk"), concat(lit("n"), col("nord").cast("string")).as("node"),
        col("resolved_ts"))
  }

  def logCandidatesSql(): String =
    s"""WITH stats AS (
       |  SELECT schema_name, table_name,
       |    MIN(commit_ts) AS tmin, MAX(commit_ts) AS tmax,
       |    CAST(ROW_NUMBER() OVER (ORDER BY schema_name, table_name)
       |      AS BIGINT) - 1 AS tord,
       |    (MAX(commit_ts) - MIN(commit_ts)) // 8 AS stride
       |  FROM changelog GROUP BY schema_name, table_name
       |), subs AS (
       |  SELECT s.schema_name, s.table_name, s.tmin, s.tmax, s.stride,
       |    n.nord, k.k,
       |    s.tmin + (n.nord * 2 + k.k) * s.stride AS cp,
       |    s.tmax - ((n.nord + 3 * k.k) % 5) * ((s.tmax - s.tmin) // 16) AS rts
       |  FROM stats s
       |  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, ${Scheduler.NNodes - 1})) AS nord) n
       |  CROSS JOIN (SELECT UNNEST([0, 1]) AS k) k
       |  WHERE (s.tord + n.nord) % ${Scheduler.NNodes} != ${Scheduler.NNodes - 1}
       |), reqs AS (
       |  SELECT schema_name, table_name,
       |    UNNEST([tmin + (tmax - tmin) // 4,
       |            tmin + (tmax - tmin) // 2]) AS start_ts
       |  FROM stats
       |), bids AS (
       |  SELECT r.schema_name, r.table_name, r.start_ts, s.nord,
       |    CAST(MAX(s.rts) AS BIGINT) AS resolved_ts
       |  FROM reqs r JOIN subs s
       |    ON r.schema_name = s.schema_name AND r.table_name = s.table_name
       |  WHERE s.nord != 0 AND s.cp <= r.start_ts
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT schema_name, table_name, CAST(start_ts AS BIGINT) AS start_ts,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY schema_name, table_name, start_ts
       |    ORDER BY resolved_ts DESC, nord) AS BIGINT) AS rnk,
       |  CONCAT('n', CAST(nord AS VARCHAR)) AS node,
       |  resolved_ts
       |FROM bids""".stripMargin
}
