package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Relational operator surface: aggregation, joins (broadcast / semi / anti /
  * as-of), windows, set ops, rollup, top-k. These are the Spark-native counterparts of
  * the reference's aggregation + query layer (SURVEY.md §2.5, §2.8 A1-A5,
  * Q1/Q5/Q6/Q9 shapes) expressed over the driver-provided TPC-H-ish tables so
  * that every one has an exact DuckDB oracle.
  *
  * Oracle-parity rules used throughout (driver hashes values after sorting
  * columns by name):
  *  - money/quantity sums go through DECIMAL(18,2) (exact, order-independent)
  *    and are cast back to DOUBLE so the output schema is identical in both
  *    engines;
  *  - year()/month() are cast to INT explicitly (DuckDB returns BIGINT);
  *  - every query ends in a deterministic ORDER BY with a unique tiebreak.
  */
object Relational {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private def sumDec(c: Column): Column = sum(dec(c)).cast(DoubleType)

  // Q1-style pricing summary (reference analytics counters A1/A2/A5 algebra:
  // partial+final agg — analytics.py:278-283).
  def q01PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumDec(col("l_quantity")).as("sum_qty"),
        sumDec(col("l_extendedprice")).as("sum_base_price"),
        // price and discount are exact 2-dec values ⇒ the product is an exact
        // 4-dec value ⇒ DECIMAL(18,4) rounds identically in Spark and DuckDB
        // (never at a rounding tie).
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).cast(DoubleType).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // Events per year (reference Q1, events_per_year.py:37-41: COUNT DISTINCT
  // per year — Catalyst partial+final agg replaces the manual shard merge).
  def q02EventsPerYear(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(year(col("ts")).cast(IntegerType).as("y"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("y"))

  val q02Sql: String =
    """SELECT CAST(year(ts) AS INT) AS y, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY y""".stripMargin

  // Multi-hop dimension join, all dims broadcast (reference J1-J7 are
  // broadcast dictionary joins; this is the relational proof of the shape).
  def q03RegionRevenue(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        sumDec(col("o_totalprice")).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))

  val q03Sql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // Ranking window: top-3 customers by revenue within each nation.
  def q04TopCustomersPerNation(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sumDec(col("o_totalprice")).as("revenue"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("revenue").desc, col("o_custkey"))
    rev
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("n_name"), col("rk"), col("o_custkey").as("custkey"), col("revenue"))
      .orderBy(col("n_name"), col("rk"))
  }

  val q04Sql: String =
    """WITH rev AS (
      |  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM orders GROUP BY o_custkey)
      |SELECT n_name, rk, custkey, revenue FROM (
      |  SELECT n_name, o_custkey AS custkey, revenue,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY revenue DESC, o_custkey) AS INT) AS rk
      |  FROM rev JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey) t
      |WHERE rk <= 3 ORDER BY n_name, rk""".stripMargin

  // Semi join (EXISTS): orders having at least one line shipped after a date.
  def q05SemiJoin(s: SparkSession, d: String): DataFrame = {
    val late = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast(TimestampType))
      .select(col("l_orderkey"))
    Tables.orders(s, d)
      .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val q05Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_shipdate >= TIMESTAMP '1998-01-01')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // Anti join (NOT EXISTS / FILTER NOT EXISTS in reference Q5,
  // create_topic_graph.py:363-393): customers without recent orders.
  def q06AntiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2001-06-01").cast(TimestampType))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))

  val q06Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer WHERE NOT EXISTS (
      |  SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-06-01')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // Histogram / ValueDict (reference A3: string→count sorted by count desc).
  def q07EventTypeHistogram(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type"))

  val q07Sql: String =
    """SELECT event_type, COUNT(*) AS n FROM events
      |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin

  // Cumulative window (reference Q9 hit-ratio running sum,
  // hit_ratio_per_month.py:36-71): per-type running event count by hour.
  def q08RunningCounts(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).cast(TimestampNTZType).as("h"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly.withColumn("running_n", sum(col("n")).over(w))
      .orderBy(col("event_type"), col("h"))
  }

  val q08Sql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, h, n,
      |  CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY h
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
      |FROM hourly ORDER BY event_type, h""".stripMargin

  // Time-bucketed aggregation (streaming-window batch equivalent).
  def q09HourlyBuckets(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).cast(TimestampNTZType).as("h"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .orderBy(col("h"))

  val q09Sql: String =
    """SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY h""".stripMargin

  // Fact-to-dim broadcast join + group (part side broadcast).
  def q10BrandVolume(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_lines"),
        sumDec(col("l_quantity")).as("sum_qty"))
      .orderBy(col("p_brand"))

  val q10Sql: String =
    """SELECT p_brand, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // Set op: union + distinct (reference D1/D2 graph-union set semantics).
  def q11NationUnion(s: SparkSession, d: String): DataFrame = {
    val custNations = Tables.customer(s, d).select(col("c_nationkey").cast(IntegerType).as("nationkey"))
    val suppNations = Tables.supplier(s, d).select(col("s_nationkey").cast(IntegerType).as("nationkey"))
    custNations.union(suppNations).distinct()
      .join(broadcast(Tables.nation(s, d)), col("nationkey") === col("n_nationkey"))
      .select(col("n_name"))
      .orderBy(col("n_name"))
  }

  val q11Sql: String =
    """SELECT n_name FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  UNION SELECT s_nationkey FROM supplier) t
      |JOIN nation ON nationkey = n_nationkey ORDER BY n_name""".stripMargin

  // Global top-k with deterministic tiebreak (reference: Nominatim limit 1 /
  // label-sort top-k shapes). TakeOrderedAndProject — no full sort at scale.
  def q12TopOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  val q12Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // ROLLUP (monthly/yearly/grand-total in one pass — reference A5 merge
  // across months).
  def q13OrdersRollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        year(col("o_orderdate")).cast(IntegerType).as("y"),
        month(col("o_orderdate")).cast(IntegerType).as("m"))
      .rollup(col("y"), col("m"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("y").asc_nulls_first, col("m").asc_nulls_first)

  val q13Sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS y,
      |  CAST(month(o_orderdate) AS INT) AS m, COUNT(*) AS n_orders
      |FROM orders GROUP BY ROLLUP (y, m)
      |ORDER BY y ASC NULLS FIRST, m ASC NULLS FIRST""".stripMargin

  // lag/lead window (reference sentence prev/next chaining,
  // outputRdf.py:504-518).
  def q14UserEventDeltas(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .filter(col("user_id") < 100)
      .withColumn("prev_event_id", lag(col("event_id"), 1).over(w))
      .withColumn("delta_value", col("value") - lag(col("value"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("prev_event_id"), col("delta_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q14Sql: String =
    """SELECT user_id, event_id,
      |  LAG(event_id, 1) OVER w AS prev_event_id,
      |  value - LAG(value, 1) OVER w AS delta_value
      |FROM events WHERE user_id < 100
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  // q15: AS-OF JOIN — each event picks the latest order of the same customer
  // at or before the event time. Spark has no native as-of join; the naive
  // compositions are a per-row correlated subquery (driver-side, non-starter)
  // or an inequality range join (O(events × orders-per-key) row explosion).
  // This is the scale-correct composition: tag both inputs, UNION, and take
  // `last(_, ignoreNulls)` over a (key, time)-ordered running window — ONE
  // shuffle on the join key, linear in |events| + |orders|, the same shape a
  // 100 TB point-in-time feature join runs. Tie semantics: an order at
  // exactly the event timestamp IS visible (as-of <=), enforced by sorting
  // order rows (is_event=0) before event rows at equal t; orders are first
  // deduped to one row per (customer, date) by max orderkey, so equal-t
  // events read one deterministic order row. Both asof_* columns ride the
  // same window, so they always come from the same order row. The oracle is
  // DuckDB's NATIVE ASOF LEFT JOIN over the same deduped order set.
  def q15AsofJoin(s: SparkSession, d: String): DataFrame = {
    val dedup = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val ord = Tables.orders(s, d)
      // a NULL order date must be invisible (ASOF's `ts >= date` is never
      // true on NULL) — without this filter Spark's nulls-first window order
      // would put such a row at the partition head and leak it to EVERY event
      .filter(col("o_orderdate").isNotNull)
      .withColumn("rn", row_number().over(dedup)).filter(col("rn") === 1)
      .select(col("o_custkey").as("user_id"), col("o_orderdate").as("t"),
        lit(0).as("is_event"), lit(null).cast(LongType).as("event_id"),
        col("o_orderkey"), col("o_totalprice"))
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts").as("t"), lit(1).as("is_event"),
        col("event_id"), lit(null).cast(LongType).as("o_orderkey"),
        lit(null).cast(DoubleType).as("o_totalprice"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("is_event"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.unionByName(ev)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("asof_totalprice", last(col("o_totalprice"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .select(col("event_id"), col("user_id"),
        col("asof_orderkey"), col("asof_totalprice"))
      .orderBy(col("event_id"))
  }

  val q15Sql: String =
    """WITH od AS (
      |  SELECT * FROM (
      |    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
      |      row_number() OVER (PARTITION BY o_custkey, o_orderdate
      |                         ORDER BY o_orderkey DESC) AS rn
      |    FROM orders) WHERE rn = 1)
      |SELECT e.event_id, e.user_id,
      |  od.o_orderkey AS asof_orderkey, od.o_totalprice AS asof_totalprice
      |FROM events e
      |ASOF LEFT JOIN od ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
      |ORDER BY e.event_id""".stripMargin

  // q16: EXACT per-group quantiles (p25/p50/p75) by RANK SELECTION — the
  // scale-correct exact path. Spark's percentile()/median() aggregates
  // buffer every group value in executor memory (an OOM hazard for a skewed
  // group at 100 TB); rank selection instead takes the value at rank r from
  // the plans.PrefixScan bucket (q) whose rank range covers r — no row-level
  // window or sort; the bucket frame has at most groups × distinct q rows,
  // and TPC-H's floor(l_quantity) takes the values 1–50. All arithmetic
  // stays integer: with 0-indexed position pos = ((n-1)·k) DIV 4 and remainder
  // r = ((n-1)·k) % 4 for the k/4 quantile, the interpolated value ×4 is
  // (4-r)·v[pos] + r·v[pos+1] — a BIGINT. The oracle recomputes through a
  // DIFFERENT algorithm (DuckDB's native quantile_cont; exact here because
  // quarter fractions and ×4 are exact in binary doubles).
  def q16QuantilesRankSelect(s: SparkSession, d: String): DataFrame = {
    // explicit floor() on BOTH sides: a bare double→int cast truncates in
    // Spark but rounds half-to-even in DuckDB — latent parity break the
    // moment a quantity is fractional
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), floor(col("l_quantity")).cast(LongType).as("q"))
    val ranked = graft.plans.PrefixScan.bucketOffsets(li, Seq("l_returnflag"),
      bucket = "q", value = "1")
    val counts = ranked.groupBy(col("l_returnflag")).agg(sum(col("bucket_total")).as("n"))
    def rk(rank: String) = s"$rank BETWEEN bucket_offset + 1 AND bucket_offset + bucket_total"
    def qx4(k: Int): Column = {
      val pos0 = s"((n - 1) * $k) DIV 4"
      val r = s"((n - 1) * $k) % 4"
      (max(when(expr(rk(s"$pos0 + 1")), expr(s"(4 - $r) * q"))) +
        coalesce(max(when(expr(s"${rk(s"$pos0 + 2")} AND $r > 0"), expr(s"$r * q"))),
          lit(0L)))
    }
    ranked.join(counts, Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), col("n"))
      .agg(qx4(1).as("p25_x4"), qx4(2).as("p50_x4"), qx4(3).as("p75_x4"))
      .orderBy(col("l_returnflag"))
  }

  val q16Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(4 * quantile_cont(CAST(floor(l_quantity) AS BIGINT), 0.25) AS BIGINT) AS p25_x4,
      |  CAST(4 * quantile_cont(CAST(floor(l_quantity) AS BIGINT), 0.50) AS BIGINT) AS p50_x4,
      |  CAST(4 * quantile_cont(CAST(floor(l_quantity) AS BIGINT), 0.75) AS BIGINT) AS p75_x4
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // q17: interval-overlap (range) join WITHOUT an equi key, made scale-safe
  // by bin bucketing. Each 'error' event opens a 10-minute incident window
  // [ts, ts+10min); the query counts all events (and distinct users) inside
  // each window, across ALL users — so there is no natural join key and the
  // naive plan is a BroadcastNestedLoopJoin (O(|windows|·|events|), the
  // classic range-join scale killer). The bucketed plan derives one: bin the
  // time axis at exactly the window length (600 s), so a window starting in
  // bin b only ever overlaps bins {b, b+1}. Explode each window to those two
  // bins, equi-join events on THEIR single home bin, then apply the precise
  // containment predicate. Each (window, event) pair meets in exactly one
  // bin — the event's home bin — so the join needs no post-dedup. Cost:
  // 2·|windows| + |events| shuffle rows on a key whose skew is bounded by
  // events-per-10-minutes, and both aggregates fold map-side. The oracle
  // recomputes through DuckDB's native inequality join (IEJoin) — a
  // different algorithm, same answer.
  def q17IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val binUs = 600000000L // 10 min in µs == the window length
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        // integer DIV (`/` on Columns is DOUBLE division — binning must not
        // round); CAST: driver parquet is TIMESTAMP_NTZ, unix_micros wants
        // LTZ. Any tz offset shifts window and event bins identically, and
        // bin width == window length keeps the ≤2-bin overlap guarantee at
        // any alignment, so the pairing is offset-invariant.
        expr(s"unix_micros(CAST(ts AS TIMESTAMP)) DIV ${binUs}L").as("bin"))
    val windows = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("wid"), col("ts").as("wts"),
        explode(array(col("bin"), col("bin") + 1)).as("jbin"))
    val probe = ev.select(col("bin").as("jbin"), col("ts").as("ets"),
      col("user_id"))
    windows.join(probe, Seq("jbin"))
      .filter(col("ets") >= col("wts") &&
        col("ets") < col("wts") + expr("INTERVAL 10 MINUTES"))
      .groupBy(col("wid"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("wid"))
  }

  val q17Sql: String =
    """SELECT w.event_id AS wid, COUNT(*) AS n_hits,
      |  COUNT(DISTINCT e.user_id) AS n_users
      |FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') w
      |JOIN events e ON e.ts >= w.ts AND e.ts < w.ts + INTERVAL 10 MINUTE
      |GROUP BY w.event_id ORDER BY w.event_id""".stripMargin

  // q18: PIVOT — the wide-table reshaping operator (per-day event counts,
  // one column per event type). The type domain is passed EXPLICITLY to
  // pivot(): with an explicit value list the plan is a single regular
  // aggregate (one shuffle, map-side combinable, streaming-friendly);
  // without one Spark first runs a distinct-values job and collects the
  // domain to the driver — a silent extra pass over 100 TB. The oracle
  // reshapes through conditional aggregation, the relational-algebra
  // identity pivot desugars to.
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def q18Pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast(TimestampNTZType).as("day"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes)
      .select(col("day") +: EventTypes.map(t => col(t).as(s"n_$t")): _*)
      .orderBy(col("day"))

  val q18Sql: String = {
    val cols = EventTypes.map(t => // CAST: DuckDB SUM(INT) widens to HUGEINT
      s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t")
    s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |  ${cols.mkString(",\n  ")}
       |FROM events GROUP BY 1 ORDER BY day""".stripMargin
  }

  // q19: TIME-RANGE sliding window — per event, the same user's activity in
  // the trailing hour ([ts-1h, ts], RANGE frame => ts peers share a frame).
  // This is the frame family rows-BETWEEN cannot express (q08 covers rows
  // frames): the frame edge is a time offset, not a row count. One window
  // exchange on user_id, sorted once per partition; the value sum stays in
  // exact e6 integer units (st02's rule) so the gate is hash-exact.
  def q19SlidingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).selectExpr(
      "event_id", "user_id",
      "COUNT(*) OVER (PARTITION BY user_id ORDER BY ts " +
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_last_hour",
      "SUM(CAST(round(value * 1000000) AS BIGINT)) OVER (PARTITION BY user_id " +
        "ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) " +
        "AS sum_value_e6_last_hour")
      .orderBy(col("event_id"))

  val q19Sql: String =
    """SELECT event_id, user_id,
      |  COUNT(*) OVER w AS n_last_hour,
      |  CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) OVER w AS BIGINT)
      |    AS sum_value_e6_last_hour
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // q20: FUNNEL (ordered-sequence) matching — per user, the deepest stage of
  // view → click → purchase completed with the whole chain inside one hour
  // of the view. The naive formulation is a per-user triple self-join
  // (O(events³) on an active user — a skew bomb); this plan instead CHAINS
  // TWO of q19's time-range windows: pass 1 carries each row's latest view
  // in the trailing hour, pass 2 carries the best (latest-view) click seen
  // in the trailing hour, and a purchase completes the funnel iff that
  // carried view is within its own trailing hour. Two window exchanges on
  // user_id, zero joins — the standard sequence-match-as-prefix-scan shape.
  // Stage flags are monotone by construction (s3 ⇒ s2 ⇒ s1), so depth is
  // their sum. Simultaneous timestamps count (RANGE frames include peers) —
  // in both engines identically.
  //
  // Both carried values are MAX (the LATEST qualifying view): the s3 test is
  // an existence question — "is there a view v and click c with
  // v <= c <= p and v >= p - 1h" — and the greedy-latest choice is exact for
  // it (if ANY qualifying (v, c) exists, the latest view in that click's
  // trailing hour qualifies too). Carrying MIN instead silently fails users
  // whose early view shadows a later in-window one — a parity-proof bug (an
  // oracle sharing the formulation agrees on the wrong answer), which is why
  // the spec pins the multi-view golden.
  def q20Funnel(s: SparkSession, d: String): DataFrame = {
    val w = "(PARTITION BY user_id ORDER BY ts " +
      "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
    Tables.events(s, d)
      .selectExpr("user_id", "ts", "event_type")
      .selectExpr("user_id", "ts", "event_type",
        s"MAX(CASE WHEN event_type = 'view' THEN ts END) OVER $w AS latest_view")
      .selectExpr("user_id", "ts", "event_type", "latest_view",
        s"MAX(CASE WHEN event_type = 'click' THEN latest_view END) OVER $w " +
          "AS best_view_via_click")
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "view", 1).otherwise(0)).as("s1"),
        max(when(col("event_type") === "click" && col("latest_view").isNotNull,
          1).otherwise(0)).as("s2"),
        max(when(col("event_type") === "purchase" &&
          col("best_view_via_click") >= col("ts") - expr("INTERVAL 1 HOUR"),
          1).otherwise(0)).as("s3"))
      .selectExpr("user_id", "CAST(s1 + s2 + s3 AS INT) AS funnel_depth")
      .orderBy(col("user_id"))
  }

  val q20Sql: String =
    """WITH v1 AS (
      |  SELECT user_id, ts, event_type,
      |    MAX(CASE WHEN event_type = 'view' THEN ts END) OVER w AS latest_view
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)),
      |v2 AS (
      |  SELECT user_id, ts, event_type, latest_view,
      |    MAX(CASE WHEN event_type = 'click' THEN latest_view END) OVER w
      |      AS best_view_via_click
      |  FROM v1
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW))
      |SELECT user_id,
      |  CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |     + MAX(CASE WHEN event_type = 'click' AND latest_view IS NOT NULL
      |            THEN 1 ELSE 0 END)
      |     + MAX(CASE WHEN event_type = 'purchase'
      |                 AND best_view_via_click >= ts - INTERVAL 1 HOUR
      |            THEN 1 ELSE 0 END) AS INT) AS funnel_depth
      |FROM v2 GROUP BY user_id ORDER BY user_id""".stripMargin

  // q21: UNPIVOT (melt) — the inverse reshaping of q18: a wide per-flag
  // measure frame melts to (key, metric, value) long form. Uses Spark's
  // native unpivot operator (an Expand node: each input row emits one row
  // per measure in a single pass — no union-of-selects re-scan); the oracle
  // reshapes through the portable UNION ALL identity instead, so the
  // semantics are recomputed by a different mechanism. Measures go through
  // DECIMAL sums (q01's rule) and share one DOUBLE value column.
  private val UnpivotMeasures = Seq("sum_qty", "sum_price", "sum_disc", "sum_tax")

  def q21Unpivot(s: SparkSession, d: String): DataFrame = {
    val wide = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        sumDec(col("l_quantity")).as("sum_qty"),
        sumDec(col("l_extendedprice")).as("sum_price"),
        sumDec(col("l_discount")).as("sum_disc"),
        sumDec(col("l_tax")).as("sum_tax"))
    wide.unpivot(
        Array(col("l_returnflag")),
        UnpivotMeasures.map(col).toArray,
        "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))
  }

  val q21Sql: String = {
    def m(c: String, src: String) =
      s"CAST(SUM(CAST($src AS DECIMAL(18,2))) AS DOUBLE) AS $c"
    val melts = UnpivotMeasures.map(c =>
      s"SELECT l_returnflag, '$c' AS metric, $c AS value FROM wide")
    s"""WITH wide AS (
       |  SELECT l_returnflag,
       |    ${m("sum_qty", "l_quantity")},
       |    ${m("sum_price", "l_extendedprice")},
       |    ${m("sum_disc", "l_discount")},
       |    ${m("sum_tax", "l_tax")}
       |  FROM lineitem GROUP BY l_returnflag)
       |${melts.mkString("\nUNION ALL\n")}
       |ORDER BY l_returnflag, metric""".stripMargin
  }

  // q22: SNAPSHOT DIFF via FULL OUTER join — the CDC/reconciliation shape:
  // per-user activity in the first half of the window vs the second,
  // full-outer joined on user_id and classified added / removed / changed /
  // unchanged. This is how incremental dataset versions are reconciled at
  // 100 TB (d07 is the dedup-specific instance; this is the generic one):
  // both sides aggregate BEFORE the join (map-side-combinable, the join
  // carries one row per user per side, never raw events), and the
  // full-outer join shuffles both sides on the same key. The midpoint is a
  // fixed literal so the split is deterministic at every SF (events span
  // 2024-01, TESTDATA.md).
  def q22SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val mid = lit("2024-01-16").cast(TimestampType)
    val ev = Tables.events(s, d)
    def half(cond: Column, name: String) = ev.filter(cond)
      .groupBy(col("user_id")).agg(count(lit(1)).as(name))
    half(col("ts") < mid, "n_before")
      .join(half(col("ts") >= mid, "n_after"), Seq("user_id"), "full_outer")
      .selectExpr("user_id",
        "coalesce(n_before, 0L) AS n_before",
        "coalesce(n_after, 0L) AS n_after",
        "CASE WHEN n_before IS NULL THEN 'added' " +
          "WHEN n_after IS NULL THEN 'removed' " +
          "WHEN n_before = n_after THEN 'unchanged' " +
          "ELSE 'changed' END AS status",
        "coalesce(n_after, 0L) - coalesce(n_before, 0L) AS delta")
      .orderBy(col("user_id"))
  }

  val q22Sql: String =
    """WITH b AS (
      |  SELECT user_id, COUNT(*) AS n_before FROM events
      |  WHERE ts < TIMESTAMP '2024-01-16' GROUP BY user_id),
      |a AS (
      |  SELECT user_id, COUNT(*) AS n_after FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY user_id)
      |SELECT COALESCE(b.user_id, a.user_id) AS user_id,
      |  COALESCE(n_before, 0) AS n_before,
      |  COALESCE(n_after, 0) AS n_after,
      |  CASE WHEN n_before IS NULL THEN 'added'
      |       WHEN n_after IS NULL THEN 'removed'
      |       WHEN n_before = n_after THEN 'unchanged'
      |       ELSE 'changed' END AS status,
      |  COALESCE(n_after, 0) - COALESCE(n_before, 0) AS delta
      |FROM b FULL OUTER JOIN a ON b.user_id = a.user_id
      |ORDER BY user_id""".stripMargin

  /** q23: CUBE over (lang, source) with explicit per-column grouping flags.
    * The multi-dimensional rollup a corpus dashboard reads: per (lang,
    * source) cell, per-lang margin, per-source margin, and the grand total,
    * in ONE pass (Spark expands cube groups map-side; no 4× re-scan).
    * grouping(col) is emitted per column (0/1, cast BIGINT) instead of
    * grouping_id — bit order is engine-specific, per-flag values are not —
    * and the aggregate-row NULLs are COALESCEd to '(all)' so the driver's
    * row compare never depends on engine NULL-ordering.
    */
  def q23Cube(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        grouping(col("lang")).cast("long").as("g_lang"),
        grouping(col("source")).cast("long").as("g_source"))
      .selectExpr("COALESCE(lang, '(all)') AS lang",
        "COALESCE(source, '(all)') AS source",
        "n_docs", "n_chars", "g_lang", "g_source")
      .orderBy(col("g_lang"), col("g_source"), col("lang"), col("source"))

  val q23Sql: String =
    """SELECT COALESCE(lang, '(all)') AS lang,
      |  COALESCE(source, '(all)') AS source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
      |  CAST(GROUPING(source) AS BIGINT) AS g_source
      |FROM documents
      |GROUP BY CUBE (lang, source)
      |ORDER BY g_lang, g_source, lang, source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q23_cube" -> (q23Cube _),
    "q22_snapshot_diff" -> (q22SnapshotDiff _),
    "q21_unpivot" -> (q21Unpivot _),
    "q20_funnel" -> (q20Funnel _),
    "q19_sliding_window" -> (q19SlidingWindow _),
    "q18_pivot" -> (q18Pivot _),
    "q17_interval_join" -> (q17IntervalJoin _),
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_events_per_year" -> (q02EventsPerYear _),
    "q03_region_revenue" -> (q03RegionRevenue _),
    "q04_top_customers_per_nation" -> (q04TopCustomersPerNation _),
    "q05_semi_join" -> (q05SemiJoin _),
    "q06_anti_join" -> (q06AntiJoin _),
    "q07_event_type_histogram" -> (q07EventTypeHistogram _),
    "q08_running_counts" -> (q08RunningCounts _),
    "q09_hourly_buckets" -> (q09HourlyBuckets _),
    "q10_brand_volume" -> (q10BrandVolume _),
    "q11_nation_union" -> (q11NationUnion _),
    "q12_top_orders" -> (q12TopOrders _),
    "q13_orders_rollup" -> (q13OrdersRollup _),
    "q14_user_event_deltas" -> (q14UserEventDeltas _),
    "q15_asof_join" -> (q15AsofJoin _),
    "q16_quantiles_rank_select" -> (q16QuantilesRankSelect _))

  val oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" -> q01Sql,
    "q02_events_per_year" -> q02Sql,
    "q03_region_revenue" -> q03Sql,
    "q04_top_customers_per_nation" -> q04Sql,
    "q05_semi_join" -> q05Sql,
    "q06_anti_join" -> q06Sql,
    "q07_event_type_histogram" -> q07Sql,
    "q08_running_counts" -> q08Sql,
    "q09_hourly_buckets" -> q09Sql,
    "q10_brand_volume" -> q10Sql,
    "q11_nation_union" -> q11Sql,
    "q12_top_orders" -> q12Sql,
    "q13_orders_rollup" -> q13Sql,
    "q14_user_event_deltas" -> q14Sql,
    "q15_asof_join" -> q15Sql,
    "q16_quantiles_rank_select" -> q16Sql,
    "q17_interval_join" -> q17Sql,
    "q18_pivot" -> q18Sql,
    "q19_sliding_window" -> q19Sql,
    "q20_funnel" -> q20Sql,
    "q21_unpivot" -> q21Sql,
    "q22_snapshot_diff" -> q22Sql,
    "q23_cube" -> q23Sql)
}
