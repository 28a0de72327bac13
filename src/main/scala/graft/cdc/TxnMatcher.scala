package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Portable
import graft.functions.WireRender.fixed4

/** The logpuller transaction matcher — the engine's equivalent of
  * `logservice/logpuller/txn_matcher.go`: raw TiKV change entries
  * arrive as PREWRITE rows (carrying value + old value at start_ts),
  * COMMIT rows (carrying only the commit_ts for a (key, start_ts)
  * pair), and ROLLBACK rows (canceling a prewrite). A row event is
  * born when a commit matches its cached prewrite; the matcher must
  * survive two mess modes:
  *
  *  - fake prewrites (txn-heartbeat artifacts with EMPTY value) must
  *    not overwrite a cached real prewrite for the same (key,
  *    start_ts) (putPrewriteRow:56-77);
  *  - commits without any live prewrite (their txn rolled back, or
  *    the prewrite predates the subscription) are IGNORED
  *    (matchCachedRow:102-126 "ignore commit event without
  *    prewrite").
  *
  * The raw stream derives deterministically from the changelog (arm =
  * portable hash of the event identity): every event emits a real
  * prewrite; arm 2 adds a LATER fake prewrite for the same pair; arm
  * 0 rolls the txn back instead of committing; arm 1 withholds the
  * prewrite (orphan commit). The oracle replays the identical arms.
  *
  * Scale: matching is the textbook keyed shuffle — prewrite dedup,
  * rollback anti-join, and commit inner join all hash on the same
  * (table, key, start_ts), so the exchange is reused across the three
  * legs; per-key state is O(1) like the reference's map entry.
  */
object TxnMatcher {

  private def arm: Column = pmod(Portable.hash60(
    concat_ws("|", lit("txn-arm-v1:"), col("schema_name"), col("table_name"),
      col("pk").cast("string"), col("start_ts").cast("string"))), lit(12L))

  private val armSql: String = {
    val h = Portable.hash60Sql(
      "CONCAT_WS('|', 'txn-arm-v1:', schema_name, table_name, " +
        "CAST(pk AS VARCHAR), CAST(start_ts AS VARCHAR))")
    s"($h % 12)"
  }

  /** A72: matched row events. One row per commit that finds a live
    * prewrite — arm 0 (rollback) and arm 1 (orphan commit) vanish, arm
    * 2 proves the fake-prewrite guard (the matched value is the REAL
    * payload, never the fake's empty one). */
  def matched(cl: DataFrame): DataFrame = {
    val keyed = cl.withColumn("arm", arm)
    // real prewrites (seq 0): every arm except the orphan-commit one.
    // value payload: the encoded row, 'del' for deletes (a real delete
    // prewrite is not a heartbeat fake; fakes are the EMPTY payload)
    val payload = when(col("op") === "D", lit("del"))
      .otherwise(fixed4(col("after_value")))
    val oldPayload = when(col("before_value").isNull, lit(""))
      .otherwise(fixed4(col("before_value")))
    val real = keyed.filter(col("arm") =!= 1L)
      .select(col("schema_name"), col("table_name"), col("pk"), col("start_ts"),
        lit(0L).as("seq"), payload.as("value"), oldPayload.as("old_value"))
    val fake = keyed.filter(col("arm") === 2L)
      .select(col("schema_name"), col("table_name"), col("pk"), col("start_ts"),
        lit(1L).as("seq"), lit("").as("value"), lit("").as("old_value"))
    // cache rule: an empty-value prewrite never overwrites a cached
    // real one -> per (key, start_ts) keep min (is_fake, seq)
    val cached = real.unionByName(fake)
      .withColumn("is_fake", when(col("value") === "", 1L).otherwise(0L))
      .groupBy(col("schema_name"), col("table_name"), col("pk"), col("start_ts"))
      .agg(min(struct(col("is_fake"), col("seq"), col("value"), col("old_value")))
        .as("pw"))
      .select(col("schema_name"), col("table_name"), col("pk"), col("start_ts"),
        col("pw.value").as("value"), col("pw.old_value").as("old_value"))
    val rollbacks = keyed.filter(col("arm") === 0L)
      .select(col("schema_name"), col("table_name"), col("pk"), col("start_ts"))
    val commits = keyed.filter(col("arm") =!= 0L)
      .select(col("schema_name"), col("table_name"), col("pk"), col("start_ts"),
        col("commit_ts"), col("op"), col("arm"))
    val live = cached.join(rollbacks,
      Seq("schema_name", "table_name", "pk", "start_ts"), "left_anti")
    commits.join(live, Seq("schema_name", "table_name", "pk", "start_ts"))
      .select(col("schema_name"), col("table_name"), col("pk"), col("start_ts"),
        col("commit_ts"), col("op"), col("value"), col("old_value"), col("arm"))
  }

  /** The derived raw KV stream (kind P real-prewrite / F fake / R
    * rollback / C commit, seq orders kinds within a pair) — the input
    * the streaming twin consumes; [[matched]] fuses the same legs into
    * the one-shuffle batch plan. */
  private[graft] def rawStream(cl: DataFrame): DataFrame = {
    val keyed = cl.withColumn("arm", arm)
    val payload = when(col("op") === "D", lit("del"))
      .otherwise(fixed4(col("after_value")))
    val oldPayload = when(col("before_value").isNull, lit(""))
      .otherwise(fixed4(col("before_value")))
    def leg(f: Column, kind: String, seq: Long, v: Column, ov: Column,
            cts: Column, op: Column): DataFrame =
      keyed.filter(f).select(col("schema_name"), col("table_name"), col("pk"),
        col("start_ts"), lit(kind).as("kind"), lit(seq).as("seq"),
        cts.as("commit_ts"), op.as("op"), v.as("value"), ov.as("old_value"))
    leg(col("arm") =!= 1L, "P", 0L, payload, oldPayload, lit(0L), lit(""))
      .unionByName(leg(col("arm") === 2L, "F", 1L, lit(""), lit(""), lit(0L), lit("")))
      .unionByName(leg(col("arm") === 0L, "R", 2L, lit(""), lit(""), lit(0L), lit("")))
      .unionByName(leg(col("arm") =!= 0L, "C", 2L, lit(""), lit(""),
        col("commit_ts"), col("op")))
  }

  val matchedSql: String =
    s"""WITH keyed AS (
       |  SELECT *, $armSql AS arm FROM changelog
       |), pw AS (
       |  SELECT schema_name, table_name, pk, start_ts, 0 AS seq,
       |    CASE WHEN op = 'D' THEN 'del'
       |         ELSE printf('%.4f', after_value) END AS value,
       |    CASE WHEN before_value IS NULL THEN ''
       |         ELSE printf('%.4f', before_value) END AS old_value
       |  FROM keyed WHERE arm <> 1
       |  UNION ALL
       |  SELECT schema_name, table_name, pk, start_ts, 1 AS seq,
       |    '' AS value, '' AS old_value
       |  FROM keyed WHERE arm = 2
       |), cached AS (
       |  SELECT schema_name, table_name, pk, start_ts, value, old_value FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY schema_name, table_name, pk, start_ts
       |      ORDER BY (CASE WHEN value = '' THEN 1 ELSE 0 END), seq,
       |        value, old_value) AS rn
       |    FROM pw) WHERE rn = 1
       |), live AS (
       |  SELECT c.* FROM cached c
       |  ANTI JOIN (SELECT schema_name, table_name, pk, start_ts
       |             FROM keyed WHERE arm = 0) r
       |    USING (schema_name, table_name, pk, start_ts)
       |)
       |SELECT k.schema_name, k.table_name, k.pk, k.start_ts, k.commit_ts,
       |  k.op, l.value, l.old_value, k.arm
       |FROM keyed k
       |JOIN live l USING (schema_name, table_name, pk, start_ts)
       |WHERE k.arm <> 0""".stripMargin
}
