package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables

/** Analytic query surface (SURVEY.md §2 B-series) — declarative
  * DataFrame plans; Catalyst handles pushdown/pruning/join selection.
  *
  * Scale notes: dimension tables (region/nation/customer/supplier/part)
  * get explicit `broadcast` hints on the star joins; fact-fact joins
  * shuffle on their keys with AQE skew handling.
  *
  * Output-type convention (graft.util.Money): every oracle-checked
  * aggregate is an exact integer BIGINT — money as cents, averages as
  * micro-units (value × 10^6, integer floor-div), quantiles ×10^4.
  * Three driver rounds proved BIGINT/VARCHAR are the only numeric
  * output classes with a unique cross-engine byte encoding: doubles
  * flake at ULP under ROUND, decimals flake on trailing-zero
  * rendering, and DuckDB's SUM-of-integer returns HUGEINT which its
  * pandas bridge coerces to float64. Every DuckDB integer SUM below is
  * therefore wrapped in CAST(... AS BIGINT).
  */
object Analytics {

  /** [[qRangeJoin]]'s range (and its stream twin's): a view within 24 h
    * before a purchase. */
  val RangeJoinUs = 86400000000L
  /** [[bucketedCum]]'s bucket width. */
  val BktWidth = 1048576L
  /** [[qSaltedSkewJoin]]'s salt fan-out of the skewed join key. */
  val SkewSalts = 8
  /** [[qRollingDistinct]]'s window, days. */
  val RollingDays = 7
  /** [[qConcurrencyGauge]]'s session duration and sampling grid. */
  val GaugeDurUs = 300000000L
  val GaugeGridUs = 60000000L
  /** [[qRangeFrame]]'s RANGE frame width. */
  val RangeFrameUs = 3600000000L
  /** [[qHistogram]]'s bucket count. */
  val HistBuckets = 20

  private val revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Integral divide (Spark's `div`, truncating). Callers guarantee a
    * non-negative numerator, where truncation == floor == DuckDB `//`
    * (DuckDB 1.0 `//` truncates: -7//2 = -3 — NOT floor div). */
  private def ldiv(a: Column, b: Column): Column = call_function("div", a, b)

  /** Two-level cumulative count over a (part, v) → cnt CELL frame —
    * the distributed-rank building block B37/B39 share. A plain
    * `sum(cnt) over (partition by part order by v)` sorts every cell
    * of a part in ONE task; with dimension-bounded `part` keys (five
    * order priorities) and a dense value domain, that is a corpus-
    * scale single-task sort at 100 TB. Instead: cells coarse-bucket by
    * `v div bktWidth` (monotone in v, so bucket order = value order),
    * per-(part, bucket) totals prefix-sum in a dimension-scale window,
    * and the within-bucket cumulation windows at (part × bucket)
    * parallelism. Adds `cum` = peer-inclusive cumulative count;
    * callers needing exclusive positions subtract cnt. The caller
    * passes cells already checkpointed — both internal consumers and
    * the caller's own reuse hit the one materialization. */
  private def bucketedCum(cells: DataFrame, part: String, v: String,
      cnt: String): DataFrame = {
    val bucketed = cells.withColumn("bkt", ldiv(col(v), lit(BktWidth)))
    val off = bucketed.groupBy(col(part), col("bkt"))
      .agg(sum(col(cnt)).as("bcnt"))
      .withColumn("boff", coalesce(sum(col("bcnt")).over(
        Window.partitionBy(col(part)).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(part), col("bkt"), col("boff"))
    bucketed.join(broadcast(off), Seq(part, "bkt"))
      .withColumn("cum", col("boff") + sum(col(cnt)).over(
        Window.partitionBy(col(part), col("bkt")).orderBy(col(v))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .drop("bkt", "boff")
  }

  /** Exact cents (BIGINT) sum of a non-negative money column.
    *
    * Steps, each engine-portable:
    *  1. per-row minor units: money columns carry ≤`scale` true decimal
    *     digits (prices 2; price·(1±disc) 4; ·(1±tax) 6), so `x·10^s`
    *     is within ~1e-6 of an integer and every engine's ROUND
    *     recovers the same long;
    *  2. the long sum is exact and order-independent (pure primitive
    *     codegen with map-side combine; ANSI mode faults loudly beyond
    *     2^63 minor units — groups that large need decimal(38,s) sums);
    *  3. for scale>2 the half-up round to cents happens in INTEGER
    *     space (truncating `div`; numerator non-negative, so it equals
    *     DuckDB's truncating `//`), never on a double.
    * The result is a BIGINT on the exact cent grid — nothing left for
    * any driver/engine version to canonicalize. */
  private def moneyCents(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    val minor = sum(round(c * lit(f)).cast("long"))
    if (scale <= 2) minor
    else {
      val d = math.pow(10, scale - 2).toLong
      ldiv(minor + lit(d / 2), lit(d))
    }
  }

  private def moneyCentsSql(e: String, scale: Int): String = {
    val f = math.pow(10, scale).toLong
    val minor = s"SUM(CAST(ROUND(($e) * $f.0, 0) AS BIGINT))"
    val cents =
      if (scale <= 2) minor
      else { val d = f / 100; s"(($minor + ${d / 2}) // $d)" }
    // SUM(BIGINT) is HUGEINT in DuckDB → its pandas bridge would emit
    // float64; the cast pins the output to int64 on every path
    s"CAST($cents AS BIGINT)"
  }

  /** Average as micro-units (value × 10^6) BIGINT: the exact minor-unit
    * sum scaled to 10^6 in long space, then one truncating integer
    * divide by the row count — identical in both engines for the
    * non-negative columns this is applied to. (Headroom: minor sums
    * ≤ ~10^13 here × 10^4 ≪ 2^63; at larger scales switch the sum to
    * decimal(38,0) before the scale-up.) */
  private def avgMicro(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    val up = math.pow(10, 6 - scale).toLong
    // corpus-scale SUM x micro upscale runs in decimal(38): at 100 TB
    // a cents sum crosses Long/10^4 (the q_share_of_total class); the
    // IntegralDivide still returns the BIGINT micro-average
    ldiv(sum(round(c * lit(f)).cast("long")).cast("decimal(38,0)")
      * lit(up), count(lit(1)))
  }

  private def avgMicroSql(e: String, scale: Int): String = {
    val f = math.pow(10, scale).toLong
    val up = math.pow(10, 6 - scale).toLong
    s"CAST((SUM(CAST(ROUND(($e) * $f.0, 0) AS BIGINT)) * $up) // COUNT(*) AS BIGINT)"
  }

  /** B1 — TPC-H Q1 pricing summary: single scan, map-side partial agg.
    * Quantities/prices ×100, averages in micro-units. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneyCents(col("l_quantity"), 2).as("sum_qty_x100"),
        moneyCents(col("l_extendedprice"), 2).as("sum_base_price_cents"),
        moneyCents(revenue, 4).as("sum_disc_price_cents"),
        moneyCents(revenue * (lit(1.0) + col("l_tax")), 6).as("sum_charge_cents"),
        avgMicro(col("l_quantity"), 2).as("avg_qty_micro"),
        avgMicro(col("l_extendedprice"), 2).as("avg_price_micro"),
        avgMicro(col("l_discount"), 2).as("avg_disc_micro"),
        count(lit(1)).as("count_order"))

  val q1AggSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${moneyCentsSql("l_quantity", 2)} AS sum_qty_x100,
       |  ${moneyCentsSql("l_extendedprice", 2)} AS sum_base_price_cents,
       |  ${moneyCentsSql("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price_cents,
       |  ${moneyCentsSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge_cents,
       |  ${avgMicroSql("l_quantity", 2)} AS avg_qty_micro,
       |  ${avgMicroSql("l_extendedprice", 2)} AS avg_price_micro,
       |  ${avgMicroSql("l_discount", 2)} AS avg_disc_micro,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** B2 — TPC-H Q3 shape: customer⋈orders⋈lineitem, top-10 revenue.
    * Customer is the small side → broadcast; orderkey tiebreaks the
    * limit so the selected set is deterministic. Ordering by cents is
    * ordering by revenue. */
  def q3JoinTopN(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
          .filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(moneyCents(revenue, 4).as("rev_cents"))
      .orderBy(col("rev_cents").desc, col("l_orderkey"))
      .limit(10)

  val q3JoinTopNSql: String =
    s"""SELECT l_orderkey, o_orderdate,
      |  ${moneyCentsSql("l_extendedprice * (1.0 - l_discount)", 4)} AS rev_cents
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY rev_cents DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** B3 — TPC-H Q5 shape: 6-way star join, local-supplier revenue per
    * nation. region/nation/supplier/customer broadcast; the only
    * shuffle join is lineitem⋈orders on orderkey. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val dims = broadcast(
      Tables.supplier(spark, dir)
        .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(spark, dir).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey")))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1994-01-01").cast("timestamp") &&
                  col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(dims, col("l_suppkey") === col("s_suppkey") &&
                  col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(moneyCents(revenue, 4).as("rev_cents"))
  }

  val q5MultiJoinSql: String =
    s"""SELECT n_name, ${moneyCentsSql("l_extendedprice * (1.0 - l_discount)", 4)} AS rev_cents
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1994-01-01'
      |  AND o_orderdate <  TIMESTAMP '1996-01-01'
      |GROUP BY n_name""".stripMargin

  /** B4 — EXISTS → left_semi: customers that placed a high-value order,
    * counted per market segment. (c_acctbal can be negative; the cents
    * sum is exact for any sign — only divisions need the non-negative
    * guarantee.) */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 100000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        graft.util.Money.sumCents(col("c_acctbal")).as("sum_acctbal_cents"))

  val qSemiJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_acctbal_cents
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
      |GROUP BY c_mktsegment""".stripMargin

  /** B5 — NOT EXISTS → left_anti: customers who never placed a
    * 250k+ order. */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 250000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))

  val qAntiJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 250000.0)
      |GROUP BY c_mktsegment""".stripMargin

  /** B6 — top-N per group: each customer's 3 largest orders.
    * row_number (not rank) + unique orderkey tiebreak → deterministic.
    * o_totalprice passes through unchanged from the source parquet —
    * untransformed doubles are byte-identical on both sides. */
  def qWindowTopN(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
  }

  val qWindowTopNSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders
      |) WHERE rn <= 3""".stripMargin

  /** B7 — running analytics: cumulative spend + previous order value
    * per customer over order time, both in exact cents. */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir).select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
      sum(graft.util.Money.cents(col("o_totalprice")))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("cum_spend_cents"),
      coalesce(lag(graft.util.Money.cents(col("o_totalprice")), 1).over(w), lit(0L))
        .as("prev_price_cents"))
  }

  val qWindowRunningSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_spend_cents,
      |  COALESCE(LAG(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT), 1) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey), 0) AS prev_price_cents
      |FROM orders""".stripMargin

  /** B8 — rollup: revenue at (flag,status), per-flag, and grand-total
    * levels in one pass (partial agg reused across levels). */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(moneyCents(revenue, 4).as("rev_cents"), count(lit(1)).as("n"))

  val qRollupSql: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  ${moneyCentsSql("l_extendedprice * (1.0 - l_discount)", 4)} AS rev_cents,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** B9 — conditional (pivot-style) aggregation: order counts and value
    * by status, one row per priority. Oracle uses FILTER (not CASE):
    * COUNT(*) FILTER is BIGINT-native in DuckDB, where SUM(CASE..1..0)
    * would be HUGEINT→float64 — this query hash-failed three rounds
    * running and was the only aggregate (with B14) emitting a DuckDB
    * integer-SUM output column. */
  def qConditionalAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_pending"),
        sum(when(col("o_orderstatus") === "F",
            graft.util.Money.cents(col("o_totalprice"))).otherwise(0L))
          .as("finished_value_cents"))

  val qConditionalAggSql: String =
    """SELECT o_orderpriority,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
      |  COALESCE(CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
      |    FILTER (WHERE o_orderstatus = 'F') AS BIGINT), 0) AS finished_value_cents
      |FROM orders
      |GROUP BY o_orderpriority""".stripMargin

  /** B10 — distinct aggregation: supplier/part fan-out per return flag
    * (expand + two-phase distinct agg under the hood). */
  def qDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))

  val qDistinctAggSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin

  /** B11 — scalar subquery: parts priced above the global average.
    * The scalar agg is a 1-row broadcast, not a driver collect. The
    * comparison stays in doubles (internal); the output max is exact
    * cents. */
  def qScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val avgPrice = p.agg(avg(col("p_retailprice")).as("a"))
    p.join(broadcast(avgPrice), col("p_retailprice") > col("a"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_above_avg"),
        max(graft.util.Money.cents(col("p_retailprice"))).as("max_price_cents"))
  }

  val qScalarSubquerySql: String =
    """SELECT p_brand, COUNT(*) AS n_above_avg,
      |  MAX(CAST(ROUND(p_retailprice * 100.0, 0) AS BIGINT)) AS max_price_cents
      |FROM part
      |WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)
      |GROUP BY p_brand""".stripMargin

  /** B12 — time-series bucketing: daily event rollup (date_trunc is a
    * row-local expression; the agg is one shuffle on the bucket). */
  def qTimeBucket(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(date_trunc("DAY", expr("timestamp_micros(ts div 1000)")).as("day"),
        col("event_type"), col("value"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        moneyCents(col("value"), 2).as("sum_value_cents"),
        avgMicro(col("value"), 2).as("avg_value_micro"))

  val qTimeBucketSql: String =
    s"""SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_type,
      |  COUNT(*) AS n_events,
      |  ${moneyCentsSql("value", 2)} AS sum_value_cents,
      |  ${avgMicroSql("value", 2)} AS avg_value_micro
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** B13 — quantiles: exact interpolated percentiles for oracle parity
    * (a sketch's answer is engine-specific). Output is the quantile
    * ×10^4 as BIGINT (round-half-up and C round agree for positive
    * values), not a ROUND-ed double. */
  def qApproxQuantile(spark: SparkSession, dir: String): DataFrame = {
    // Exact quantiles via the WEIGHTED `percentile(v, p, freq)` form
    // over a pre-compressed (group, value) → count frame, instead of
    // the unweighted aggregate, which materializes every value of a
    // group in ONE agg buffer (~20M doubles/group at the 100x tier; an
    // OOM on a real cluster, and a single-threaded 20M-element sort).
    // The count agg is map-side combined and its buffer is bounded by
    // the VALUE DOMAIN (~583k distinct prices at any SF — scale
    // replicates keys, not prices), so memory per group is
    // corpus-volume-free. Weight-1 input is the exact same
    // Percentile.getPercentile code path — cumulative frequencies +
    // (higher−pos)·v_lo + (pos−lower)·v_hi — so the output bits (and
    // the ROUND×10⁴ hash vs DuckDB quantile_cont) are unchanged. Two
    // 2-column pruned scans beat one exploded 3-column scan; the join
    // re-merging the 3-row legs is a broadcast.
    val li = Tables.lineitem(spark, dir)
    val price = li.groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.5, 0.95), c)").as("pp"))
    val qty = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5, c)").as("pq"))
    price.join(broadcast(qty), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        round(element_at(col("pp"), 1) * lit(10000.0)).cast("long").as("p50_x10k"),
        round(element_at(col("pp"), 2) * lit(10000.0)).cast("long").as("p95_x10k"),
        round(col("pq") * lit(10000.0)).cast("long").as("p50_qty_x10k"))
  }

  val qApproxQuantileSql: String =
    """SELECT l_returnflag,
      |  CAST(ROUND(quantile_cont(l_extendedprice, 0.5) * 10000.0, 0) AS BIGINT) AS p50_x10k,
      |  CAST(ROUND(quantile_cont(l_extendedprice, 0.95) * 10000.0, 0) AS BIGINT) AS p95_x10k,
      |  CAST(ROUND(quantile_cont(l_quantity, 0.5) * 10000.0, 0) AS BIGINT) AS p50_qty_x10k
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin

  /** B14 — sessionization: 30-minute-gap sessions per user via
    * lag + cumulative session starts — one window shuffle keyed by
    * user, no self-join. (Streaming twin: session_window /
    * flatMapGroupsWithState.) session_id is CAST to BIGINT in the
    * oracle (window SUM of int is HUGEINT in DuckDB — the 3-round
    * hash-fail class); duration uses integral `div`, not a double
    * division. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 1800L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"), col("value"))
      .withColumn("new_session",
        when(coalesce(col("ts_us") - lag(col("ts_us"), 1).over(w), lit(gapUs + 1)) > gapUs,
          1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        ldiv(max(col("ts_us")) - min(col("ts_us")), lit(1000000L)).as("duration_sec"),
        moneyCents(col("value"), 2).as("sum_value_cents"))
  }

  val qSessionizeSql: String =
    s"""WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
      |  FROM events
      |), s AS (
      |  SELECT *, CASE WHEN COALESCE(ts_us - LAG(ts_us, 1) OVER w, 1800000001) > 1800000000
      |                 THEN 1 ELSE 0 END AS new_session
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |), g AS (
      |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM s
      |)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts_us) AS session_start_us,
      |  CAST((MAX(ts_us) - MIN(ts_us)) // 1000000 AS BIGINT) AS duration_sec,
      |  ${moneyCentsSql("value", 2)} AS sum_value_cents
      |FROM g
      |GROUP BY user_id, session_id""".stripMargin

  /** B15 — ordered funnel (view → click → purchase) per user: the
    * earliest view, the earliest click strictly after that view, the
    * earliest purchase strictly after that click. Three stacked window
    * aggregates over the SAME user partitioning — one shuffle total,
    * no self-joins (the naive per-stage join re-shuffles the event
    * table once per stage). Timestamps surface as epoch-micro BIGINTs
    * with -1 for a stage never reached; `stage` counts completed
    * steps. */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ts_us") > col("t_view"),
          col("ts_us"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ts_us") > col("t_click"),
          col("ts_us"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("t_view")).as("v"), max(col("t_click")).as("c"),
        max(col("t_purchase")).as("p"))
      .select(col("user_id"),
        coalesce(col("v"), lit(-1L)).as("t_view_us"),
        coalesce(col("c"), lit(-1L)).as("t_click_us"),
        coalesce(col("p"), lit(-1L)).as("t_purchase_us"),
        (when(col("v").isNotNull, 1L).otherwise(0L) +
         when(col("c").isNotNull, 1L).otherwise(0L) +
         when(col("p").isNotNull, 1L).otherwise(0L)).as("stage"))
  }

  val qFunnelSql: String =
    """WITH t AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
      |), s1 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_us END)
      |    OVER (PARTITION BY user_id) AS t_view FROM t
      |), s2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_us > t_view THEN ts_us END)
      |    OVER (PARTITION BY user_id) AS t_click FROM s1
      |), s3 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_us > t_click THEN ts_us END)
      |    OVER (PARTITION BY user_id) AS t_purchase FROM s2
      |), g AS (
      |  SELECT user_id, MAX(t_view) AS v, MAX(t_click) AS c, MAX(t_purchase) AS p
      |  FROM s3 GROUP BY user_id
      |)
      |SELECT user_id,
      |  COALESCE(v, -1) AS t_view_us,
      |  COALESCE(c, -1) AS t_click_us,
      |  COALESCE(p, -1) AS t_purchase_us,
      |  CAST((CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) +
      |       (CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) +
      |       (CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage
      |FROM g""".stripMargin

  /** B16 — retention cohorts: users grouped by the epoch-day of their
    * first event; for every (cohort_day, day_offset) cell, how many of
    * that cohort's users were active. One window shuffle on user (the
    * first-day assignment) + one aggregation shuffle on the cohort
    * cell; COUNT(DISTINCT) is Spark's partial-aggregated distinct, not
    * a driver-side set. */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), ldiv(expr("ts div 1000"), lit(86400000000L)).as("day"))
      .withColumn("cohort_day", min(col("day")).over(w))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  val qRetentionSql: String =
    """WITH t AS (
      |  SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events
      |), c AS (
      |  SELECT *, MIN(day) OVER (PARTITION BY user_id) AS cohort_day FROM t
      |)
      |SELECT cohort_day, day - cohort_day AS day_offset,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM c
      |GROUP BY 1, 2""".stripMargin

  /** B19 — PIVOT: per-user daily activity matrix, event types as
    * columns (`groupBy().pivot(values)` — Spark pivots with an
    * explicit value list stay a single partial-aggregated shuffle and
    * a STATIC schema; an unlisted-values pivot would need a distinct
    * pre-pass and break oracle comparability). The oracle is the
    * equivalent conditional aggregation — what PIVOT desugars to. */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    Tables.events(spark, dir)
      .select(col("user_id"),
        ldiv(expr("ts div 1000"), lit(86400000000L)).as("day"),
        col("event_type"))
      .groupBy(col("user_id"), col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("user_id") +: col("day") +:
        types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
  }

  val qPivotSql: String = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    val cells = types.map(t =>
      s"CAST(COUNT(*) FILTER (WHERE event_type = '$t') AS BIGINT) AS n_$t")
      .mkString(",\n      |  ")
    s"""SELECT user_id,
      |  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |  $cells
      |FROM events
      |GROUP BY 1, 2""".stripMargin
  }

  /** B34 — share-of-parent ratios: the UNORDERED partition-window
    * class (every other window on the board orders its frame — B7
    * running, B6/B22 ranks, B29 range). Revenue per nation as ppm of
    * its region and of the grand total: the aggregate reduces to the
    * 25-row nation grid FIRST, so both windows (region-partitioned
    * and the global one) run over a dimension-bounded frame — the
    * unpartitioned total window never sees corpus-scale rows. */
  def qShareOfTotal(spark: SparkSession, dir: String): DataFrame = {
    val perNation = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(moneyCents(revenue, 4).as("rev_cents"))
    val wr = Window.partitionBy(col("r_name"))
    val wg = Window.partitionBy()
    // ppm numerator = rev_cents·10⁶ — a corpus-scale SUM times a
    // million exceeds Long past ~9·10¹² cents of nation revenue (the
    // sf10 tier hits it; 100 TB certainly does). The multiply runs in
    // decimal(38) and the integral divide returns the BIGINT ppm;
    // the oracle's HUGEINT cast is the same promotion.
    val num = col("rev_cents").cast("decimal(38,0)") * lit(1000000L)
    perNation
      .withColumn("region_share_ppm", call_function("div",
        num, sum(col("rev_cents")).over(wr)))
      .withColumn("total_share_ppm", call_function("div",
        num, sum(col("rev_cents")).over(wg)))
      .select(col("r_name"), col("n_name"), col("rev_cents"),
        col("region_share_ppm"), col("total_share_ppm"))
  }

  val qShareOfTotalSql: String =
    s"""WITH per_nation AS (
      |  SELECT r_name, n_name,
      |    ${moneyCentsSql("l_extendedprice * (1.0 - l_discount)", 4)} AS rev_cents
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2
      |)
      |SELECT r_name, n_name, rev_cents,
      |  CAST(CAST(rev_cents AS HUGEINT) * 1000000
      |    // SUM(rev_cents) OVER (PARTITION BY r_name) AS BIGINT)
      |    AS region_share_ppm,
      |  CAST(CAST(rev_cents AS HUGEINT) * 1000000
      |    // SUM(rev_cents) OVER () AS BIGINT)
      |    AS total_share_ppm
      |FROM per_nation""".stripMargin

  /** B33 — approximate distinct (HyperLogLog): the sketch-aggregate
    * class exact distincts can't replace at 100 TB — B10's exact
    * COUNT(DISTINCT) shuffles every (group, user) pair, while the HLL
    * sketch is a fixed few-KB state per group that merges
    * map-side. The two engines run DIFFERENT sketch implementations
    * (Spark HLL++, DuckDB its own HLL), so raw estimates can never
    * hash-match; the oracle contract is the TOLERANCE VERDICT both
    * sides compute against their own exact count — each engine's
    * sketch must land within 5% (rsd 2% requested), which is the
    * property a user of the estimate actually relies on. */
  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("decimal(38,0)")
          * 1000000L <= col("n_exact").cast("decimal(38,0)") * 50000L)
          .cast("long").as("approx_within_5pct"))

  val qApproxDistinctSql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
      |  CAST(ABS(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
      |      * 1000000 <= COUNT(DISTINCT user_id) * 50000
      |    AS BIGINT) AS approx_within_5pct
      |FROM events
      |GROUP BY 1""".stripMargin

  /** B32 — FULL OUTER reconcile, the missing join polarity (B2/B3
    * inner, B4 semi, B5 anti, B17 left-as-of): two independently
    * filtered per-part summaries — the large-size catalog band vs the
    * bulk-shipment aggregate — merged with presence labels and -1
    * sentinels on the absent side. Spark plans a sort-merge full
    * outer (broadcast cannot preserve both unmatched sides), the
    * shuffle keyed on the join's own aggregation key so the
    * b-side partial agg reuses its exchange. */
  def qFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.part(spark, dir)
      .filter(col("p_size") >= 40)
      .select(col("p_partkey").as("partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"))
    val b = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 45)
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(col("l_quantity")).cast("long").as("bulk_qty"),
        count(lit(1)).as("n_bulk_items"))
    a.join(b, Seq("partkey"), "full_outer")
      .select(col("partkey"),
        coalesce(col("price_cents"), lit(-1L)).as("price_cents"),
        coalesce(col("bulk_qty"), lit(-1L)).as("bulk_qty"),
        coalesce(col("n_bulk_items"), lit(-1L)).as("n_bulk_items"),
        when(col("price_cents").isNotNull && col("bulk_qty").isNotNull, "both")
          .when(col("price_cents").isNotNull, "catalog_only")
          .otherwise("shipped_only").as("presence"))
  }

  val qFullOuterSql: String =
    """WITH a AS (
      |  SELECT p_partkey AS partkey,
      |    CAST(ROUND(p_retailprice * 100.0, 0) AS BIGINT) AS price_cents
      |  FROM part WHERE p_size >= 40
      |), b AS (
      |  SELECT l_partkey AS partkey,
      |    CAST(SUM(l_quantity) AS BIGINT) AS bulk_qty,
      |    CAST(COUNT(*) AS BIGINT) AS n_bulk_items
      |  FROM lineitem WHERE l_quantity >= 45
      |  GROUP BY 1
      |)
      |SELECT COALESCE(a.partkey, b.partkey) AS partkey,
      |  COALESCE(a.price_cents, -1) AS price_cents,
      |  COALESCE(b.bulk_qty, -1) AS bulk_qty,
      |  COALESCE(b.n_bulk_items, -1) AS n_bulk_items,
      |  CASE WHEN a.partkey IS NOT NULL AND b.partkey IS NOT NULL THEN 'both'
      |       WHEN a.partkey IS NOT NULL THEN 'catalog_only'
      |       ELSE 'shipped_only' END AS presence
      |FROM a FULL OUTER JOIN b ON a.partkey = b.partkey""".stripMargin

  /** B31 — UNPIVOT, the inverse of B19: the wide per-(user, day)
    * count matrix melts back to sparse long form through Spark's
    * native `unpivot` (a map-side Expand — rows × types with NO
    * shuffle beyond the pivot's own aggregation). The oracle is NOT
    * the desugared union but the DIRECT long-form aggregate
    * (GROUP BY user, day, type): green means unpivot ∘ pivot is the
    * identity on non-zero cells against an independent derivation —
    * the strongest contract the operator pair can state. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    qPivot(spark, dir)
      .unpivot(Array(col("user_id"), col("day")),
        types.map(t => col(s"n_$t")).toArray, "pivot_col", "n")
      .filter(col("n") > 0L)
      .select(col("user_id"), col("day"),
        substring(col("pivot_col"), 3, 32).as("event_type"), col("n"))
  }

  val qUnpivotSql: String = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    s"""SELECT user_id,
      |  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |  event_type, CAST(COUNT(*) AS BIGINT) AS n
      |FROM events
      |WHERE event_type IN (${types.map(t => s"'$t'").mkString(", ")})
      |GROUP BY 1, 2, 3""".stripMargin
  }

  /** B20 — GROUPING SETS with grouping_id: one pass producing the
    * (flag, bucket) cells, the per-flag margins, the per-bucket
    * margins, and the grand total — four aggregation levels in a
    * single shuffle (Spark expands the sets map-side; a UNION of four
    * GROUP BYs would scan four times). `gid` disambiguates the NULL
    * of a rolled-up key from a data NULL — the standard consumer
    * contract for margin tables. */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"),
        (col("l_linenumber") % 2).cast("long").as("bucket"),
        col("l_quantity"))
      .groupingSets(
        Seq(Seq(col("flag"), col("bucket")), Seq(col("flag")),
          Seq(col("bucket")), Seq()),
        col("flag"), col("bucket"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))

  val qGroupingSetsSql: String =
    """SELECT flag, bucket, CAST(GROUPING(flag, bucket) AS BIGINT) AS gid,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM (SELECT l_returnflag AS flag,
      |        CAST(l_linenumber % 2 AS BIGINT) AS bucket, l_quantity
      |      FROM lineitem)
      |GROUP BY GROUPING SETS ((flag, bucket), (flag), (bucket), ())""".stripMargin

  /** B17 — AS-OF JOIN (last-touch attribution): for every purchase,
    * the user's latest view at or before the purchase instant.
    *
    * The scalable plan is the union-tag trick — NOT a per-row range
    * probe: tag views 0 and purchases 1, union them into ONE stream,
    * window it per user ordered by (ts, tag, id), and carry the last
    * non-null view columns forward (`last(_, ignoreNulls)` over an
    * unbounded-preceding rows frame). Every purchase row then reads
    * its as-of view from the running columns. ONE shuffle on user_id,
    * O(n log n) in the partition — the classic big-big as-of that
    * never materializes candidate pairs. A view at the exact purchase
    * instant is included (tag orders views first at equal ts); views
    * are pre-deduped per (user, ts) to max event_id so the window
    * peer order cannot affect the answer.
    *
    * Oracle: DuckDB's NATIVE `ASOF LEFT JOIN` — a genuinely
    * independent implementation of the operator checks ours. */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"), lit(0L).as("tag"),
        col("event_id").as("view_id"), lit(null).cast("long").as("purchase_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), lit(1L).as("tag"),
        lit(null).cast("long").as("view_id"),
        col("event_id").as("purchase_id"))
    // one ordered pass: at equal ts views sort before purchases (tag)
    // and by ascending id, so `last` lands on the max-id view at the
    // latest instant ≤ the purchase — duplicate-instant determinism
    // without a dedup aggregation. Single struct-valued `last` keeps
    // Catalyst to ONE Window operator (two lasts plan as two stacked
    // windows over the same sort).
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("tag"), coalesce(col("view_id"), lit(Long.MaxValue)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("asof", last(
        when(col("tag") === 0L, struct(col("view_id"), col("ts_us"))),
        ignoreNulls = true).over(w))
      .filter(col("tag") === 1L)
      .select(col("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_us"),
        col("asof.view_id").as("asof_view_id"),
        col("asof.ts_us").as("asof_view_us"),
        (col("ts_us") - col("asof.ts_us")).as("gap_us"))
  }

  val qAsofJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
      |  FROM events
      |), v AS (
      |  SELECT user_id, ts_us, CAST(MAX(event_id) AS BIGINT) AS view_id
      |  FROM e WHERE event_type = 'view' GROUP BY 1, 2
      |), p AS (
      |  SELECT event_id AS purchase_id, user_id, ts_us, value
      |  FROM e WHERE event_type = 'purchase'
      |)
      |SELECT p.purchase_id, p.user_id, p.ts_us AS purchase_us,
      |  v.view_id AS asof_view_id, v.ts_us AS asof_view_us,
      |  p.ts_us - v.ts_us AS gap_us
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND v.ts_us <= p.ts_us""".stripMargin

  /** B18 — bucketed RANGE JOIN (attribution window): per purchase, how
    * many of the user's views fall in the 24 h before it, and the
    * latest such view.
    *
    * The scalable plan buckets time by the RANGE WIDTH: each view
    * lands in bucket ts/W; each purchase probes exactly two buckets
    * (its own and the previous — any in-range view must be in one of
    * them since W = the range), so the join is EQUI on
    * (user, bucket) with the exact range predicate as a post-filter.
    * Candidate work is bounded by bucket co-membership — never the
    * per-user cross product a naive non-equi join plans (and
    * PlanQualitySpec forbids). One shuffle each side + one aggregation.
    * Purchase-side explode is ×2, the fixed fan-out. */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val rangeUs = RangeJoinUs // also the bucket width
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us").as("view_us"),
        col("event_id").as("view_id"),
        ldiv(col("ts_us"), lit(rangeUs)).as("bucket"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("purchase_us"),
        col("event_id").as("purchase_id"),
        explode(array(ldiv(col("ts_us"), lit(rangeUs)) - 1L,
          ldiv(col("ts_us"), lit(rangeUs)))).as("bucket"))
    purchases.join(views, Seq("user_id", "bucket"))
      .filter(col("view_us") > col("purchase_us") - rangeUs &&
        col("view_us") <= col("purchase_us"))
      .groupBy(col("purchase_id"), col("user_id"), col("purchase_us"))
      .agg(count(lit(1)).as("n_views_24h"),
        max(col("view_us")).as("last_view_us"))
  }

  val qRangeJoinSql: String =
    s"""WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events
      |)
      |SELECT p.event_id AS purchase_id, p.user_id, p.ts_us AS purchase_us,
      |  COUNT(*) AS n_views_24h,
      |  CAST(MAX(v.ts_us) AS BIGINT) AS last_view_us
      |FROM e p JOIN e v
      |  ON p.user_id = v.user_id AND p.event_type = 'purchase'
      | AND v.event_type = 'view'
      | AND v.ts_us > p.ts_us - $RangeJoinUs AND v.ts_us <= p.ts_us
      |GROUP BY 1, 2, 3""".stripMargin

  /** B22 — the ranking-window family on ONE keyed shuffle: ntile
    * deciles, percent_rank, cume_dist (both ppm-scaled for exact
    * comparison), and nth_value — the remaining SQL window functions an
    * analytics user expects, all sharing a single (custkey, orderdate)
    * window so Catalyst plans one Exchange + one Window operator. */
  def qWindowRanks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir).select(
      col("o_custkey"), col("o_orderkey"),
      ntile(4).over(w).cast("long").as("quartile"),
      round(percent_rank().over(w) * 1000000.0).cast("long").as("pct_rank_ppm"),
      round(cume_dist().over(w) * 1000000.0).cast("long").as("cume_dist_ppm"),
      nth_value(col("o_orderkey"), 2).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("second_orderkey"))
  }

  val qWindowRanksSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
      |  CAST(ROUND(PERCENT_RANK() OVER w * 1000000.0, 0) AS BIGINT) AS pct_rank_ppm,
      |  CAST(ROUND(CUME_DIST() OVER w * 1000000.0, 0) AS BIGINT) AS cume_dist_ppm,
      |  NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_orderkey
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** B23 — correlated aggregate subquery (the TPC-H q17 class): line
    * items whose quantity is below 20% of their OWN part's average,
    * and the revenue lost to those small lots per brand. The
    * correlation decorrelates to a per-part aggregate joined back on
    * the same key — the join reuses the aggregation's partitioning,
    * so the plan is one lineitem shuffle + a broadcast of the part
    * dimension, not a per-row subquery. The 0.2·avg comparison clears
    * to exact integers (qty·5·cnt < sum_qty): quantities are integral,
    * so no engine-variant float division decides membership. */
  def qCorrAggSubquery(spark: SparkSession, dir: String): DataFrame = {
    // Plan shape (r15 audit): the per-part aggregate is broadcast back
    // onto the probe side, so lineitem is never shuffled for this
    // query — an explicit repartition(l_partkey) was tried and
    // REJECTED (it added a corpus-scale exchange on the probe side
    // while column pruning — the agg branch reads 2 columns, the probe
    // 3 — prevents the two branches from sharing it).
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice"))
    val stats = li.groupBy(col("l_partkey"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
    li.join(stats, "l_partkey")
      .filter(col("qty") * 5L * col("cnt") < col("sum_qty"))
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small_lots"),
        sum(graft.util.Money.cents(col("l_extendedprice")))
          .as("lost_revenue_cents"))
  }

  val qCorrAggSubquerySql: String =
    """WITH s AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY l_partkey
      |)
      |SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_small_lots,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT)) AS BIGINT)
      |    AS lost_revenue_cents
      |FROM lineitem l
      |JOIN s ON l.l_partkey = s.l_partkey
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE CAST(l.l_quantity AS BIGINT) * 5 * s.cnt < s.sum_qty
      |GROUP BY p_brand""".stripMargin

  /** B21 — the EXPLICIT skew-salting pattern: events join a per-type
    * dimension on `event_type`, a handful of hot values carrying the
    * whole corpus — the one shape where a plain shuffle join puts an
    * entire key on one task. The big side salts deterministically
    * (event_id pmod R); the dimension replicates ×R; the join is EQUI
    * on (type, salt), so each hot key spreads over R tasks. The
    * follow-up aggregation is two-stage for the same reason: partial
    * per (type, salt), final per type — the hot-key reduce never sees
    * more than R pre-combined rows per key. AQE's skew-join split
    * covers sort-merge plans at runtime; the explicit salt is the
    * plan-level guarantee for when the dimension is mid-size (too big
    * to broadcast, as forced here) or the engine's splitter can't see
    * the skew. Oracle = the plain unsalted join + aggregation. */
  def qSaltedSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        pmod(col("event_id"), lit(SkewSalts.toLong)).as("salt"))
    val dim = Tables.events(spark, dir).select(col("event_type")).distinct()
      .withColumn("type_weight", length(col("event_type")).cast("long"))
    val dimSalted = dim.crossJoin(
      spark.range(SkewSalts).select(col("id").as("salt")))
    ev.join(dimSalted.hint("shuffle_hash"), Seq("event_type", "salt"))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(round(col("value") * 100.0).cast("long") * col("type_weight")).as("pw"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n_events"),
        sum(col("pw")).as("weighted_cents"),
        count(lit(1)).as("n_salt_parts"))
  }

  def qSaltedSkewJoinSql(): String =
    s"""WITH dim AS (
       |  SELECT event_type, CAST(LENGTH(event_type) AS BIGINT) AS type_weight
       |  FROM (SELECT DISTINCT event_type FROM events)
       |)
       |SELECT e.event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(CAST(ROUND(e.value * 100.0, 0) AS BIGINT) * d.type_weight)
       |    AS BIGINT) AS weighted_cents,
       |  CAST(COUNT(DISTINCT e.event_id % $SkewSalts) AS BIGINT) AS n_salt_parts
       |FROM events e JOIN dim d ON e.event_type = d.event_type
       |GROUP BY 1""".stripMargin

  /** B24 — exact MEDIAN + deterministic MODE per group, distributed:
    * order statistics over a value on a bounded grid (l_quantity is
    * integral 1..50) need no global sort — ONE partial-aggregated
    * (group, value) count shuffle, then cumulative/rank windows over
    * the dimension-scale grid. median_qty_x2 = lo + hi (the two middle
    * order statistics; ×2 keeps the even-count average in exact
    * BIGINT), mode = most frequent value with ties broken to the
    * smallest (both engines pin the same total order; a bare SQL
    * `mode()` leaves ties unspecified). The same plan at 100 TB
    * aggregates trillions of rows into 50·|groups| grid rows. */
  def qMedianMode(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      .groupBy(col("l_returnflag"), col("qty"))
      .agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(col("l_returnflag")).orderBy(col("qty"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col("l_returnflag"))
    val wrk = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("c").desc, col("qty"))
    counts
      .withColumn("cum", sum(col("c")).over(wcum))
      .withColumn("n", sum(col("c")).over(wall))
      .withColumn("rk", row_number().over(wrk))
      .groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n_rows"),
        (min(when(expr("cum >= (n + 1) div 2"), col("qty"))) +
          min(when(expr("cum >= (n + 2) div 2"), col("qty"))))
          .as("median_qty_x2"),
        max(when(col("rk") === 1, col("qty"))).as("mode_qty"),
        max(when(col("rk") === 1, col("c"))).as("mode_count"))
  }

  /** B25 — bag-semantics set operations: the INTERSECT ALL / EXCEPT
    * ALL query class (customer activity overlap between two years),
    * using Spark's native operators (Catalyst rewrites both to
    * aggregate+generate plans — declarative, no manual join). The
    * result is aggregated to (custkey, multiplicity) so the frame is
    * deterministic; multiplicities follow the SQL standard bag rules
    * (min(a,b) for INTERSECT ALL, max(a−b,0) for EXCEPT ALL). */
  /** Single-shuffle plan via the bag-algebra identities: per key,
    * INTERSECT ALL multiplicity = min(mA, mB) and EXCEPT ALL
    * multiplicity = max(0, mA − mB) — so ONE orders scan + ONE
    * custkey shuffle computes all three branches, where the literal
    * `intersectAll`/`exceptAll` composition re-scans and re-shuffles
    * both inputs per branch (6 scans, 3 set-op shuffles; 23.7 s vs
    * this plan at the 100× ladder tier). The oracle stays the literal
    * INTERSECT ALL / EXCEPT ALL SQL, and a spec pins this plan to
    * Spark's own set-op operators — the identity is the distributed
    * PLAN, not a semantics change. */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val m = o.withColumn("y", year(col("o_orderdate")))
      .filter(col("y").isin(1996, 1997))
      .groupBy(col("o_custkey"))
      .agg(sum(when(col("y") === 1996, 1L).otherwise(0L)).as("m96"),
        sum(when(col("y") === 1997, 1L).otherwise(0L)).as("m97"))
    def branch(mult: Column, op: String) =
      m.select(col("o_custkey"), mult.as("multiplicity"), lit(op).as("op"))
        .filter(col("multiplicity") > 0L)
    branch(least(col("m96"), col("m97")), "intersect_all")
      .unionByName(branch(col("m96") - col("m97"), "except_all"))
      .unionByName(branch(col("m97") - col("m96"), "except_all_rev"))
  }

  val qSetOpsSql: String =
    """WITH a AS (
      |  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
      |), b AS (
      |  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
      |)
      |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS multiplicity,
      |  'intersect_all' AS op
      |FROM (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
      |GROUP BY 1
      |UNION ALL
      |SELECT o_custkey, CAST(COUNT(*) AS BIGINT), 'except_all'
      |FROM (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
      |GROUP BY 1
      |UNION ALL
      |SELECT o_custkey, CAST(COUNT(*) AS BIGINT), 'except_all_rev'
      |FROM (SELECT o_custkey FROM b EXCEPT ALL SELECT o_custkey FROM a)
      |GROUP BY 1""".stripMargin

  /** B26 — gaps-and-islands: per-user CONSECUTIVE-day activity streaks
    * via the rank-difference trick (day − row_number is constant
    * within an island of consecutive days) — the calendar-streak
    * class, distinct from time-gap sessionization (B14): islands are
    * defined on the integer day grid, not on event spacing. Output per
    * user: active days, streak count, longest streak with its start
    * day (ties → earliest start). One user-keyed shuffle; both windows
    * and both aggregations reuse its partitioning. */
  def qGapsIslands(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"),
        ldiv(expr("ts div 1000"), lit(86400000000L)).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = days
      .withColumn("island", col("day") - row_number().over(w).cast("long"))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
    islands.groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        min_by(col("start_day"), struct(-col("len"), col("start_day")))
          .as("longest_streak_start"))
  }

  val qGapsIslandsSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |  FROM events
      |), islands AS (
      |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
      |    MIN(day) AS start_day
      |  FROM (
      |    SELECT user_id, day,
      |      day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
      |    FROM days)
      |  GROUP BY 1, 2
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY len DESC, start_day) AS rk
      |  FROM islands
      |)
      |SELECT user_id,
      |  CAST(SUM(len) AS BIGINT) AS n_active_days,
      |  CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |  CAST(MAX(len) AS BIGINT) AS longest_streak,
      |  CAST(MAX(CASE WHEN rk = 1 THEN start_day END) AS BIGINT)
      |    AS longest_streak_start
      |FROM ranked GROUP BY 1""".stripMargin

  val qMedianModeSql: String =
    """WITH counts AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1, 2
      |), w AS (
      |  SELECT l_returnflag, qty, c,
      |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY qty
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(c) OVER (PARTITION BY l_returnflag) AS n,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY c DESC, qty) AS rk
      |  FROM counts
      |)
      |SELECT l_returnflag,
      |  CAST(MAX(n) AS BIGINT) AS n_rows,
      |  CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN qty END)
      |     + MIN(CASE WHEN cum >= (n + 2) // 2 THEN qty END) AS BIGINT) AS median_qty_x2,
      |  CAST(MAX(CASE WHEN rk = 1 THEN qty END) AS BIGINT) AS mode_qty,
      |  CAST(MAX(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS mode_count
      |FROM w GROUP BY 1""".stripMargin

  /** B27 — rolling distinct: 7-day trailing unique active users per
    * day (the DAU/WAU class every product dashboard runs). COUNT
    * (DISTINCT) over a SLIDING frame is not expressible as a plain
    * window aggregate in either engine; the scale shape is the
    * UNROLLED contribution join — reduce to distinct (user, day)
    * pairs first (one partial-aggregated shuffle bounds the volume at
    * active-pairs, not events), explode each pair to the ≤7 window
    * ends it contributes to, and partial-agg COUNT DISTINCT per end
    * day. Amplification is the window length — a constant — vs the
    * running-set sweep that needs a global order. Day bounds ride a
    * 1-row broadcast so no phantom post-horizon days appear. */
  def qRollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"),
        ldiv(expr("ts div 1000"), lit(86400000000L)).as("day"))
      .distinct()
    val bounds = pairs.agg(max(col("day")).as("max_day"))
    val perDay = pairs.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("day_users"))
    pairs
      .select(col("user_id"),
        explode(expr(s"sequence(day, day + ${RollingDays - 1}L)")).as("day"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") <= col("max_day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as(s"users_${RollingDays}d"))
      .join(perDay, Seq("day"), "left")
      .select(col("day"), col(s"users_${RollingDays}d"),
        coalesce(col("day_users"), lit(0L)).as("day_users"))
  }

  def qRollingDistinctSql(): String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT user_id,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events
       |), bounds AS (SELECT MAX(day) AS max_day FROM pairs),
       |perday AS (
       |  SELECT day, COUNT(DISTINCT user_id) AS day_users
       |  FROM pairs GROUP BY 1
       |), unrolled AS (
       |  SELECT p.user_id, UNNEST(GENERATE_SERIES(p.day, p.day + ${RollingDays - 1}))
       |    AS day
       |  FROM pairs p
       |), agg AS (
       |  SELECT u.day, COUNT(DISTINCT u.user_id) AS users_${RollingDays}d
       |  FROM unrolled u CROSS JOIN bounds b
       |  WHERE u.day <= b.max_day
       |  GROUP BY 1
       |)
       |SELECT a.day, a.users_${RollingDays}d,
       |  CAST(COALESCE(p.day_users, 0) AS BIGINT) AS day_users
       |FROM agg a LEFT JOIN perday p ON p.day = a.day""".stripMargin

  /** B28 — concurrency gauge: how many sessions are open at each
    * minute boundary (each event opens a fixed-duration interval) —
    * the max-concurrent-intervals class (active sessions, open
    * connections, concurrent viewers). The textbook +1/−1 sweep needs
    * ONE global time-ordered cumulative sum — a corpus-scale
    * unpartitioned window. The scale shape instead SAMPLES the gauge
    * on the minute grid: each interval explodes to the ~D/M
    * boundaries it covers (constant amplification), then one
    * partial-aggregated count per boundary — embarrassingly parallel,
    * exact at every sampled point. */
  def qConcurrencyGauge(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(expr("ts div 1000").as("s"), col("event_type"))
      .select(col("event_type"), explode(expr(
        s"sequence((s + ${GaugeGridUs - 1}L) div ${GaugeGridUs}L, " +
          s"(s + ${GaugeDurUs - 1}L) div ${GaugeGridUs}L)")).as("minute"))
      .groupBy(col("minute"))
      .agg(count(lit(1)).as("n_concurrent"),
        countDistinct(col("event_type")).as("n_types"))

  def qConcurrencyGaugeSql(): String =
    s"""WITH iv AS (
       |  SELECT event_type, epoch_us(ts) AS s FROM events
       |), cover AS (
       |  SELECT event_type,
       |    UNNEST(GENERATE_SERIES((s + ${GaugeGridUs - 1}) // $GaugeGridUs,
       |      (s + ${GaugeDurUs - 1}) // $GaugeGridUs)) AS minute
       |  FROM iv
       |)
       |SELECT minute, CAST(COUNT(*) AS BIGINT) AS n_concurrent,
       |  COUNT(DISTINCT event_type) AS n_types
       |FROM cover GROUP BY 1""".stripMargin

  /** B29 — RANGE-frame window: per-user trailing-hour spend over the
    * event stream — the VALUE-range sliding aggregate (RANGE BETWEEN
    * x PRECEDING), distinct from B7's row-count frame: the frame
    * holds however many events fall inside the time interval, and
    * ts-ties are PEERS (all equal-ts rows share one frame — the
    * deterministic semantics both engines pin, no tie-break needed).
    * One user-keyed shuffle; the frame is bounded by the interval's
    * event density, never the partition. */
  def qRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-RangeFrameUs, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("ts_us"),
        graft.util.Money.cents(col("value")).as("cents"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        sum(col("cents")).over(w).as("hour_spend_cents"),
        count(lit(1)).over(w).as("hour_events"))
  }

  /** B30 — semi-structured extraction: aggregate over a field pulled
    * out of a JSON payload column at scan time — the schema-on-read
    * class every event pipeline runs (Spark `get_json_object` is
    * codegen'd row-local string parsing; at 100 TB the same query
    * prefers a materialized parsed column, but the extraction plan is
    * the ingest step that builds it). Decile-bucketed `props.k` per
    * event type with exact counts, cents, and user reach. */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        graft.util.Money.cents(col("value")).as("cents"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("k_decile", ldiv(col("k"), lit(10L)))
      .groupBy(col("event_type"), col("k_decile"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_value_cents"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))

  val qJsonExtractSql: String =
    """SELECT event_type,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_decile,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_value_cents,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |    AS BIGINT) AS k_min,
      |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |    AS BIGINT) AS k_max
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  def qRangeFrameSql(): String =
    s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |  CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) OVER w
       |    AS BIGINT) AS hour_spend_cents,
       |  CAST(COUNT(*) OVER w AS BIGINT) AS hour_events
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
       |  RANGE BETWEEN $RangeFrameUs PRECEDING AND CURRENT ROW)""".stripMargin

  /** B35 — CUBE: the full-margin lattice completing the grouping
    * family (B8's rollup drops the status-only margin, B20 picks its
    * sets by hand): order counts and money at every (priority, status)
    * subset, tagged with the GROUPING_ID level bit-vector — Spark's
    * `grouping_id()` and DuckDB's `GROUPING(a, b)` emit the same
    * value (bit set = column rolled up), so the level id itself is
    * oracle-checked. One scan: Catalyst plans Expand + ONE partial
    * aggregation shared by all four levels — no per-level rescan. */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        moneyCents(col("o_totalprice"), 2).as("total_cents"),
        grouping_id().cast("long").as("gid"))

  val qCubeSql: String =
    s"""SELECT o_orderpriority, o_orderstatus,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  ${moneyCentsSql("o_totalprice", 2)} AS total_cents,
      |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
      |FROM orders
      |GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin

  /** B36 — order-dependent endpoints: FIRST_VALUE / LAST_VALUE /
    * NTH_VALUE over the full partition frame — the class min/max can't
    * express (the first order BY DATE is not the cheapest order): per
    * customer the first and latest order value and the second-ever
    * order key (-1 for single-order customers). One keyed window
    * (customer partitions are per-key small at any corpus size) with
    * an explicit ROWS UNBOUNDED..UNBOUNDED frame — the default
    * RANGE..CURRENT frame silently truncates LAST_VALUE in both
    * engines, the classic footgun this row pins down. */
  def qFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val frame = ord.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(ord))
      .withColumn("n_orders", count(lit(1)).over(frame))
      .withColumn("first_cents", first(col("cents")).over(frame))
      .withColumn("last_cents", last(col("cents")).over(frame))
      .withColumn("second_orderkey",
        coalesce(nth_value(col("o_orderkey"), 2).over(frame), lit(-1L)))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("custkey"), col("n_orders"),
        col("first_cents"), col("last_cents"), col("second_orderkey"))
  }

  val qFirstLastSql: String =
    """WITH base AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey,
      |    CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents
      |  FROM orders
      |), w AS (
      |  SELECT o_custkey AS custkey,
      |    ROW_NUMBER() OVER ord AS rn,
      |    CAST(COUNT(*) OVER frame AS BIGINT) AS n_orders,
      |    FIRST_VALUE(cents) OVER frame AS first_cents,
      |    LAST_VALUE(cents) OVER frame AS last_cents,
      |    COALESCE(NTH_VALUE(o_orderkey, 2) OVER frame, -1)
      |      AS second_orderkey
      |  FROM base
      |  WINDOW ord AS (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey),
      |    frame AS (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |)
      |SELECT custkey, n_orders, first_cents, last_cents, second_orderkey
      |FROM w WHERE rn = 1""".stripMargin

  /** B37 — EXACT interpolated percentiles (p25/p50/p75) through the
    * value-grid cumulative, the scale-honest shape for exact order
    * statistics (B13 is the sketch arm; this is the arm you run when
    * the answer must be exact): reduce the corpus to the per-(group,
    * value) count grid FIRST (one partial-aggregated shuffle — the
    * only corpus-scale pass), run the cumulative window over the
    * DISTINCT-value frame, then locate the two order statistics each
    * percentile interpolates between by joining the ≤6-row/group
    * target grid (broadcast) against the [cum-nv, cum) intervals.
    * value×100 at the hundredth-fraction grid keeps the interpolated
    * result an exact BIGINT: q_cents_x100 = 100·v_lo +
    * frac_pct·(v_hi − v_lo), frac_pct = ((n−1)·p) mod 100. */
  def qPercentileExact(spark: SparkSession, dir: String): DataFrame = {
    val ps = Seq(25, 50, 75)
    val grid = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      .agg(count(lit(1)).as("nv"))
      .localCheckpoint()
    // two-level prefix (bucketedCum): the naive 5-partition cumulative
    // window over a dense value grid is a single-task corpus-scale
    // sort at 100 TB — the B39 class
    val cum = bucketedCum(grid, "prio", "v", "nv")
    val targets = grid.groupBy(col("prio")).agg(sum(col("nv")).as("n"))
      .select(col("prio").as("wprio"), col("n"),
        explode(array(ps.map(p => lit(p.toLong)): _*)).as("p"))
      .withColumn("lo", lit(1L) + ldiv((col("n") - 1L) * col("p"), lit(100L)))
      .withColumn("frac_pct", ((col("n") - 1L) * col("p")) % 100L)
    val wanted = targets.select(col("wprio"), col("p"), col("frac_pct"),
      explode(when(col("frac_pct") > 0L,
        array(struct(lit("lo").as("which"), col("lo").as("idx")),
          struct(lit("hi").as("which"), (col("lo") + 1L).as("idx"))))
        .otherwise(array(
          struct(lit("lo").as("which"), col("lo").as("idx"))))).as("t"))
      .select(col("wprio"), col("p"), col("frac_pct"),
        col("t.which").as("which"), col("t.idx").as("idx"))
    cum.join(broadcast(wanted),
        col("prio") === col("wprio") &&
          col("idx") > col("cum") - col("nv") && col("idx") <= col("cum"))
      .groupBy(col("prio").as("o_orderpriority"), col("p"), col("frac_pct"))
      .agg(max(when(col("which") === "lo", col("v"))).as("v_lo"),
        max(when(col("which") === "hi", col("v"))).as("v_hi"))
      .select(col("o_orderpriority"), col("p"),
        (col("v_lo") * 100L + coalesce(
          (col("v_hi") - col("v_lo")) * col("frac_pct"), lit(0L)))
          .as("q_cents_x100"))
  }

  val qPercentileExactSql: String =
    """WITH grid AS (
      |  SELECT o_orderpriority AS prio,
      |    CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS v,
      |    COUNT(*) AS nv
      |  FROM orders GROUP BY 1, 2
      |), cum AS (
      |  SELECT prio, v, nv,
      |    SUM(nv) OVER (PARTITION BY prio ORDER BY v) AS cum
      |  FROM grid
      |), targets AS (
      |  SELECT prio AS wprio, n, p,
      |    1 + (((n - 1) * p) // 100) AS lo,
      |    ((n - 1) * p) % 100 AS frac_pct
      |  FROM (SELECT prio, MAX(cum) AS n FROM cum GROUP BY 1),
      |    (SELECT UNNEST([25, 50, 75]) AS p)
      |), wanted AS (
      |  SELECT wprio, p, frac_pct, 'lo' AS which, lo AS idx FROM targets
      |  UNION ALL
      |  SELECT wprio, p, frac_pct, 'hi', lo + 1 FROM targets
      |  WHERE frac_pct > 0
      |)
      |SELECT c.prio AS o_orderpriority, CAST(w.p AS BIGINT) AS p,
      |  CAST(MAX(CASE WHEN w.which = 'lo' THEN c.v END) * 100
      |    + COALESCE((MAX(CASE WHEN w.which = 'hi' THEN c.v END)
      |        - MAX(CASE WHEN w.which = 'lo' THEN c.v END))
      |      * w.frac_pct, 0) AS BIGINT) AS q_cents_x100
      |FROM cum c JOIN wanted w ON c.prio = w.wprio
      |  AND w.idx > c.cum - c.nv AND w.idx <= c.cum
      |GROUP BY 1, 2, w.frac_pct""".stripMargin

  /** B38 — ordered string aggregation (LISTAGG/STRING_AGG): the
    * report-surface class turning a grouped set into one deterministic
    * delimited string — here each nation's alphabetically-first five
    * customer names plus the true group size. The top-5 cut runs as a
    * rank window BEFORE the aggregation so the collected list is
    * bounded (never collect_list an unbounded group); Spark spells the
    * ordered agg array_sort ∘ collect_list ∘ array_join, DuckDB
    * string_agg(... ORDER BY) — same string, oracle-checked. */
  def qStringAgg(spark: SparkSession, dir: String): DataFrame = {
    // `n_name` has 25 values, so a row-level window partitioned by it
    // is a 25-task corpus-scale sort (the B39 class, row flavor). The
    // top-5-by-name fold is salt-decomposable: every global top-5 name
    // is also in its salt group's top-5, so a first window at
    // (nation × 64-salt) parallelism cuts each group to ≤5 rows and
    // the global window runs over ≤320 candidates per nation. The
    // count leaves the window entirely (one map-side-combined agg,
    // broadcast back over the 25-row result).
    val cust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_name"))
    val nCust = cust.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"))
    val salted = Window
      .partitionBy(col("n_name"), pmod(xxhash64(col("c_name")), lit(64L)))
      .orderBy(col("c_name"))
    val global = Window.partitionBy(col("n_name")).orderBy(col("c_name"))
    cust
      .withColumn("rn", row_number().over(salted)).filter(col("rn") <= 5)
      .withColumn("grn", row_number().over(global)).filter(col("grn") <= 5)
      .groupBy(col("n_name"))
      .agg(array_join(array_sort(collect_list(col("c_name"))), ",")
        .as("top5_names"))
      .join(broadcast(nCust), "n_name")
      .select(col("n_name"), col("n_customers"), col("top5_names"))
  }

  val qStringAggSql: String =
    """WITH ranked AS (
      |  SELECT n_name, c_name,
      |    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_name) AS rn,
      |    COUNT(*) OVER (PARTITION BY n_name) AS n_cust
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |)
      |SELECT n_name, CAST(MAX(n_cust) AS BIGINT) AS n_customers,
      |  string_agg(c_name, ',' ORDER BY c_name) AS top5_names
      |FROM ranked WHERE rn <= 5 GROUP BY 1""".stripMargin

  /** B39 — distribution ranks (NTILE / PERCENT_RANK / CUME_DIST): the
    * within-group position profile, integer-exact by re-deriving the
    * fractional ranks from rank()/count() in ppm instead of trusting
    * either engine's double (percent_rank = (rank−1)/(n−1) and
    * cume_dist = peers-inclusive-count/n are exact on the ppm grid).
    * NTILE's tie order is pinned by (value, key) so bucket edges are
    * deterministic in both engines. Output folds to the bounded
    * (priority × decile) grid: counts, value band, rank-ppm band.
    *
    * Plan shape: `prio` has FIVE distinct values, so the naive
    * per-row window (the oracle's spelling, and r1-r9's plan) is a
    * 5-task corpus-scale sort — 10.3 s at the sf10 tier, a one-task
    * 20 TB sort at the 100 TB target. Every output is a function of
    * per-(prio, cents) VALUE CELLS and their cumulative positions, so
    * the rewrite is the classic distributed-rank shape: (1) one
    * map-side-combined cell agg; (2) two-level prefix sums — cells
    * coarse-bucketed by `cents div 2^20` (~60 buckets over the ~6·10⁷
    * cent domain), dimension-scale bucket offsets via a tiny window,
    * within-bucket cumulation windowed at (prio × bucket)
    * parallelism; (3) the 10-row-per-prio decile position grid
    * (NTILE's floor/remainder boundary arithmetic from n alone)
    * broadcast-range-joined to the cells it intersects. Rows of one
    * cell are interchangeable for every output (equal cents ⇒ equal
    * rank/cume; the o_orderkey tie-break only permutes within the
    * cell), so per-decile folds over intersecting cells reproduce the
    * row-level answer bit-for-bit: n_rows by overlap length,
    * min_prank from cum_before (rank−1 of the whole cell), max_cume
    * from peer-inclusive cum_through — the cell may extend past the
    * decile edge, exactly as a row's peer count does. */
  def qNtileCume(spark: SparkSession, dir: String): DataFrame = {
    // one scan + one combined agg, checkpointed: the offsets, the
    // per-prio n, the grid, and the cumulated cells all reuse it
    val cells = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("prio"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("prio"), col("cents")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val withCum = bucketedCum(cells, "prio", "cents", "cnt")
      .withColumnRenamed("cum", "cum_through")
      .withColumn("cum_before", col("cum_through") - col("cnt"))
    // NTILE(10) boundary positions from n: q = n div 10, r = n mod 10;
    // buckets 1..r hold q+1 rows, so hi_d = d·q + min(d, r)
    val grid = cells.groupBy(col("prio").as("gprio"))
      .agg(sum(col("cnt")).as("n"))
      .select(col("gprio"), col("n"),
        explode(sequence(lit(1L), lit(10L))).as("decile"),
        ldiv(col("n"), lit(10L)).as("q"), pmod(col("n"), lit(10L)).as("r"))
      .select(col("gprio"), col("n"), col("decile"),
        (col("decile") * col("q") + least(col("decile"), col("r")))
          .as("hi_pos"),
        ((col("decile") - 1L) * col("q")
          + least(col("decile") - 1L, col("r")) + 1L).as("lo_pos"))
    withCum.join(broadcast(grid), col("prio") === col("gprio") &&
        col("cum_before") + 1L <= col("hi_pos") &&
        col("cum_through") >= col("lo_pos"))
      .groupBy(col("prio"), col("decile"))
      .agg(sum(least(col("cum_through"), col("hi_pos"))
          - greatest(col("cum_before") + 1L, col("lo_pos")) + 1L)
          .as("n_rows"),
        min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"),
        min(ldiv(col("cum_before").cast("decimal(38,0)") * 1000000L,
          greatest(col("n") - 1L, lit(1L)))).as("min_prank_ppm"),
        max(ldiv(col("cum_through").cast("decimal(38,0)") * 1000000L,
          col("n"))).as("max_cume_ppm"))
  }

  /** B40 — leave-one-out aggregation, the target-encoding class every
    * feature pipeline runs before training (encode a key by its
    * group's mean WITHOUT the row's own contribution — including it
    * leaks the label into the feature): per order, the mean order
    * value of the customer's OTHER orders, in exact micro-cents via
    * (group_sum − own) · 10⁶ div (n − 1), with the -1 sentinel for
    * single-order customers (no peers ⇒ no encoding — downstream
    * imputes the global prior). One unordered keyed window computes
    * both group aggregates; the subtraction is row-local — no
    * self-join, no second shuffle. */
  def qLeaveOneOut(spark: SparkSession, dir: String): DataFrame = {
    val part = Window.partitionBy(col("o_custkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("grp_sum", sum(col("cents")).over(part))
      .withColumn("n", count(lit(1)).over(part))
      .select(col("o_orderkey"), col("o_custkey"), col("cents"),
        col("n").as("n_orders"),
        when(col("n") > 1L, ldiv((col("grp_sum") - col("cents"))
            .cast("decimal(38,0)") * 1000000L,
          col("n") - 1L)).otherwise(lit(-1L)).as("loo_mean_microcents"))
  }

  val qLeaveOneOutSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents
      |  FROM orders
      |), w AS (
      |  SELECT o_orderkey, o_custkey, cents,
      |    SUM(cents) OVER part AS grp_sum,
      |    COUNT(*) OVER part AS n
      |  FROM base
      |  WINDOW part AS (PARTITION BY o_custkey)
      |)
      |SELECT o_orderkey, o_custkey, cents, CAST(n AS BIGINT) AS n_orders,
      |  CAST(CASE WHEN n > 1
      |    THEN ((grp_sum - cents) * 1000000) // (n - 1)
      |    ELSE -1 END AS BIGINT) AS loo_mean_microcents
      |FROM w""".stripMargin

  /** B41 — equi-width histogram: the generic numeric distribution
    * profile (C47 is its specialized length cousin) — order values
    * bucketed on a closed-form grid derived from the broadcast
    * (min, max) scalar pair: bucket = (cents − lo)·B div (hi − lo + 1),
    * integer-exact, NO corpus-scale sort or window (the rank-based
    * equi-HEIGHT histogram is B39's ntile; equi-WIDTH needs only the
    * two scalars). Per bucket: count, exact bounds observed, and the
    * closed-form bucket edges — the frame a query planner's stats
    * collector or a monitoring dashboard reads. Buckets with no rows
    * are absent (sparse form); the edges make gaps interpretable. */
  def qHistogram(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.orders(spark, dir)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
    val span = cents.agg(min(col("cents")).as("lo"),
      (max(col("cents")) - min(col("cents")) + 1L).as("w"))
    cents.crossJoin(broadcast(span))
      .withColumn("bucket",
        ldiv((col("cents") - col("lo")) * HistBuckets, col("w")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
        (first(col("lo")) + ldiv(col("bucket") * first(col("w")),
          lit(HistBuckets.toLong))).as("edge_lo_cents"),
        (first(col("lo")) + ldiv((col("bucket") + 1L) * first(col("w")),
          lit(HistBuckets.toLong)) - 1L).as("edge_hi_cents"))
  }

  def qHistogramSql(): String =
    s"""WITH cents AS (
      |  SELECT CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents
      |  FROM orders
      |), span AS (
      |  SELECT MIN(cents) AS lo, MAX(cents) - MIN(cents) + 1 AS w
      |  FROM cents
      |)
      |SELECT ((c.cents - s.lo) * $HistBuckets) // s.w AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(c.cents) AS min_cents, MAX(c.cents) AS max_cents,
      |  CAST(s.lo + (((c.cents - s.lo) * $HistBuckets) // s.w) * s.w
      |    // $HistBuckets AS BIGINT) AS edge_lo_cents,
      |  CAST(s.lo + ((((c.cents - s.lo) * $HistBuckets) // s.w) + 1) * s.w
      |    // $HistBuckets - 1 AS BIGINT) AS edge_hi_cents
      |FROM cents c CROSS JOIN span s
      |GROUP BY 1, s.lo, s.w""".stripMargin

  /** B42 — period-over-period deltas: the reporting class behind
    * every "up 12% MoM" line — monthly revenue with month-over-month
    * and year-over-year change in ppm, computed on the BOUNDED month
    * grid (the corpus-scale rows fold to one row per month first; the
    * lag windows never see data volume). Deltas can be NEGATIVE, so
    * the ppm division uses the exact-multiple floor form
    * (num − pmod(num, d)) div d — plain `div`/`//` truncate toward
    * zero and disagree with floor on negatives across engines (the
    * documented C57 discipline). First month (no MoM base) and the
    * first year (no YoY base) carry -1 sentinels in the base columns
    * and a 0 delta with a 0 `has_*` flag — absence is explicit, never
    * an accidental zero. */
  def qPeriodOverPeriod(spark: SparkSession, dir: String): DataFrame = {
    // monthly revenue is a corpus-scale money sum: delta·10⁶ passes
    // 2.5·10¹⁸ at the sf10 tier — the numerator runs in decimal(38)
    // (oracle: HUGEINT) so the ppm stays exact at any volume
    def floorDivPpm(num: Column, den: Column): Column =
      graft.functions.Portable.floorDiv(num.cast("decimal(38,0)") * lit(1000000L), den)
    val monthly = Tables.orders(spark, dir)
      .groupBy((year(col("o_orderdate")) * 12 +
        month(col("o_orderdate")) - 1).cast("long").as("month_idx"))
      .agg(moneyCents(col("o_totalprice"), 2).as("rev_cents"))
    val byMonth = graft.util.Windows.bounded(col("month_idx"))
    monthly
      .withColumn("prev_cents", lag(col("rev_cents"), 1).over(byMonth))
      .withColumn("yoy_cents", lag(col("rev_cents"), 12).over(byMonth))
      .select(col("month_idx"),
        ldiv(col("month_idx"), lit(12L)).as("year"),
        (pmod(col("month_idx"), lit(12L)) + 1L).as("month"),
        col("rev_cents"),
        coalesce(col("prev_cents"), lit(-1L)).as("prev_cents"),
        when(col("prev_cents").isNotNull, floorDivPpm(
          col("rev_cents") - col("prev_cents"), col("prev_cents")))
          .otherwise(lit(0L)).as("mom_delta_ppm"),
        col("prev_cents").isNotNull.cast("long").as("has_mom"),
        coalesce(col("yoy_cents"), lit(-1L)).as("yoy_base_cents"),
        when(col("yoy_cents").isNotNull, floorDivPpm(
          col("rev_cents") - col("yoy_cents"), col("yoy_cents")))
          .otherwise(lit(0L)).as("yoy_delta_ppm"),
        col("yoy_cents").isNotNull.cast("long").as("has_yoy"))
  }

  val qPeriodOverPeriodSql: String =
    s"""WITH monthly AS (
      |  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
      |      AS BIGINT) AS month_idx,
      |    ${moneyCentsSql("o_totalprice", 2)} AS rev_cents
      |  FROM orders GROUP BY 1
      |), w AS (
      |  SELECT month_idx, rev_cents,
      |    LAG(rev_cents, 1) OVER (ORDER BY month_idx) AS prev_cents,
      |    LAG(rev_cents, 12) OVER (ORDER BY month_idx) AS yoy_cents
      |  FROM monthly
      |)
      |SELECT month_idx, month_idx // 12 AS year,
      |  (month_idx % 12) + 1 AS month, rev_cents,
      |  COALESCE(prev_cents, -1) AS prev_cents,
      |  CAST(CASE WHEN prev_cents IS NOT NULL THEN
      |    (CAST(rev_cents - prev_cents AS HUGEINT) * 1000000
      |      - (((CAST(rev_cents - prev_cents AS HUGEINT) * 1000000)
      |          % prev_cents + prev_cents) % prev_cents)) // prev_cents
      |    ELSE 0 END AS BIGINT) AS mom_delta_ppm,
      |  CAST(prev_cents IS NOT NULL AS BIGINT) AS has_mom,
      |  COALESCE(yoy_cents, -1) AS yoy_base_cents,
      |  CAST(CASE WHEN yoy_cents IS NOT NULL THEN
      |    (CAST(rev_cents - yoy_cents AS HUGEINT) * 1000000
      |      - (((CAST(rev_cents - yoy_cents AS HUGEINT) * 1000000)
      |          % yoy_cents + yoy_cents) % yoy_cents)) // yoy_cents
      |    ELSE 0 END AS BIGINT) AS yoy_delta_ppm,
      |  CAST(yoy_cents IS NOT NULL AS BIGINT) AS has_yoy
      |FROM w""".stripMargin

  /** B43 — new vs returning: the growth dashboard's counterpart to
    * B16's retention matrix — per week, how many active users are
    * seen for the FIRST time vs coming back. First-activity week is
    * one user-keyed partial aggregation (min week per user — no
    * window, no corpus-scale sort); the weekly activity set joins it
    * on the user key and folds to the bounded week grid with both
    * classes plus the returning share in ppm. */
  def qNewVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val activity = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("((ts div 1000) div 86400000000) div 7").as("week_idx"))
      .distinct()
    val firstSeen = activity.groupBy(col("user_id"))
      .agg(min(col("week_idx")).as("first_week"))
    activity.join(firstSeen, "user_id")
      .groupBy(col("week_idx"))
      .agg(count(lit(1)).as("n_active"),
        sum((col("week_idx") === col("first_week")).cast("long"))
          .as("n_new"))
      .select(col("week_idx"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        ldiv((col("n_active") - col("n_new")).cast("decimal(38,0)")
            * 1000000L, col("n_active"))
          .as("returning_ppm"))
  }

  val qNewVsReturningSql: String =
    """WITH activity AS (
      |  SELECT DISTINCT user_id,
      |    (CAST(epoch_us(ts) AS BIGINT) // 86400000000) // 7 AS week_idx
      |  FROM events
      |), first_seen AS (
      |  SELECT user_id, MIN(week_idx) AS first_week
      |  FROM activity GROUP BY 1
      |)
      |SELECT a.week_idx,
      |  CAST(COUNT(*) AS BIGINT) AS n_active,
      |  CAST(SUM(CASE WHEN a.week_idx = f.first_week THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_new,
      |  CAST(COUNT(*) - SUM(CASE WHEN a.week_idx = f.first_week
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
      |  CAST((COUNT(*) - SUM(CASE WHEN a.week_idx = f.first_week
      |    THEN 1 ELSE 0 END)) * 1000000 // COUNT(*) AS BIGINT)
      |    AS returning_ppm
      |FROM activity a JOIN first_seen f ON a.user_id = f.user_id
      |GROUP BY 1""".stripMargin

  val qNtileCumeSql: String =
    """WITH base AS (
      |  SELECT o_orderpriority AS prio, o_orderkey,
      |    CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents
      |  FROM orders
      |), w AS (
      |  SELECT prio, cents,
      |    CAST(NTILE(10) OVER ord AS BIGINT) AS decile,
      |    RANK() OVER byval AS rnk,
      |    COUNT(*) OVER byval AS cume_cnt,
      |    COUNT(*) OVER part AS n
      |  FROM base
      |  WINDOW ord AS (PARTITION BY prio ORDER BY cents, o_orderkey),
      |    byval AS (PARTITION BY prio ORDER BY cents),
      |    part AS (PARTITION BY prio)
      |)
      |SELECT prio, decile, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(cents) AS lo_cents, MAX(cents) AS hi_cents,
      |  CAST(MIN(((rnk - 1) * 1000000)
      |    // GREATEST(n - 1, 1)) AS BIGINT) AS min_prank_ppm,
      |  CAST(MAX((cume_cnt * 1000000) // n) AS BIGINT) AS max_cume_ppm
      |FROM w GROUP BY 1, 2""".stripMargin
}
