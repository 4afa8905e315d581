package graft.queries

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class RelationalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** q15 as-of semantics, pinned by hand against the definition (latest order
    * with o_orderdate <= ts, same customer) — independent of the DuckDB
    * ASOF JOIN oracle, so a shared misreading of tie rules can't pass:
    *  - an event BEFORE any order gets nulls (left as-of);
    *  - an order at EXACTLY the event timestamp is visible (<=, not <);
    *  - two orders on the same (customer, date) collapse to max orderkey;
    *  - a later event sees the latest of several orders, not the first;
    *  - customers never ordered stay null; other users' orders never leak.
    */
  test("q15 as-of join matches hand-computed goldens") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_q15").toString
    def ts(s: String) = Timestamp.valueOf(s)
    Seq(
      (10L, 1L, "O", 11.0, ts("2024-01-05 00:00:00"), "1-URGENT"),
      (11L, 1L, "O", 12.0, ts("2024-01-05 00:00:00"), "1-URGENT"), // same date: max key (11) wins
      (12L, 1L, "O", 13.0, ts("2024-02-01 00:00:00"), "1-URGENT"),
      (20L, 2L, "O", 21.0, ts("2024-03-01 12:00:00"), "1-URGENT")) // exactly at event 3's ts
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    Seq(
      (0L, ts("2024-01-01 00:00:00"), 1L, "view", 1.0, "{}"), // before all orders
      (1L, ts("2024-01-10 00:00:00"), 1L, "view", 1.0, "{}"), // after the dup-date pair
      (2L, ts("2024-03-01 00:00:00"), 1L, "view", 1.0, "{}"), // after order 12
      (3L, ts("2024-03-01 12:00:00"), 2L, "view", 1.0, "{}"), // == order 20's timestamp
      (4L, ts("2024-01-10 00:00:00"), 3L, "view", 1.0, "{}")) // customer with no orders
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")

    val got = Relational.queries("q15_asof_join")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got == Seq(
      (0L, 1L, None, None),
      (1L, 1L, Some(11L), Some(12.0)),
      (2L, 1L, Some(12L), Some(13.0)),
      (3L, 2L, Some(20L), Some(21.0)),
      (4L, 3L, None, None)))
  }

  /** q16 rank-selection arithmetic pinned by hand against the textbook
    * (n-1)·p linear-interpolation definition, covering an odd group (all
    * remainders 0) and an even group (remainders 1/2/3) — independent of the
    * DuckDB quantile_cont oracle. Groups C and D repeat values, so the
    * bracketing ranks fall inside and at the edges of a run of ties.
    */
  test("q16 rank-selection quantiles match hand-computed goldens") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_q16").toString
    // group A: 1..9 (odd) → p25=3, p50=5, p75=7 (×4: 12/20/28)
    // group B: 1..10 (even) → p25=3.25, p50=5.5, p75=7.75 (×4: 13/22/31)
    // group C: 2,2,2,2,7,7,9 → p25=2, p50=2, p75=7 (×4: 8/8/28)
    // group D: 1,1,3,3 → p25=1, p50=2, p75=3 (×4: 4/8/12)
    val rows = (1 to 9).map(q => ("A", q.toDouble)) ++
      (1 to 10).map(q => ("B", q.toDouble)) ++
      Seq(2, 2, 2, 2, 7, 7, 9).map(q => ("C", q.toDouble)) ++
      Seq(1, 1, 3, 3).map(q => ("D", q.toDouble))
    rows.toDF("l_returnflag", "l_quantity")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val got = Relational.queries("q16_quantiles_rank_select")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("A", 9L, 12L, 20L, 28L),
      ("B", 10L, 13L, 22L, 31L),
      ("C", 7L, 8L, 8L, 28L),
      ("D", 4L, 4L, 8L, 12L)))
  }

  /** q17 interval-join semantics pinned by hand, independent of the DuckDB
    * IEJoin oracle — boundary cases the bucketed plan must not blur:
    *  - an event AT the window start is included ([ts, ts+10min) is
    *    left-closed), one at exactly ts+10min is excluded (right-open);
    *  - a window crossing a 10-minute bin boundary still sees events whose
    *    home bin is the NEXT bin (the explode-to-{b,b+1} path);
    *  - the error event counts itself; users dedupe across hits;
    *  - overlapping windows each count independently.
    */
  test("q17 interval join matches hand-computed goldens") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_q17").toString
    def ts(s: String) = Timestamp.valueOf(s)
    Seq(
      (0L, ts("2024-01-01 00:05:00"), 1L, "error", 0.0, "{}"), // window [00:05, 00:15)
      (1L, ts("2024-01-01 00:05:00"), 2L, "view", 0.0, "{}"), // == start → in
      (2L, ts("2024-01-01 00:14:59.999999"), 2L, "view", 0.0, "{}"), // next bin, in
      (3L, ts("2024-01-01 00:15:00"), 3L, "view", 0.0, "{}"), // == end → out
      (4L, ts("2024-01-01 00:04:59"), 1L, "view", 0.0, "{}"), // before → out
      (5L, ts("2024-01-01 00:10:00"), 3L, "error", 0.0, "{}"), // window [00:10, 00:20)
      (6L, ts("2024-01-01 00:21:00"), 1L, "view", 0.0, "{}")) // after both
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Relational.queries("q17_interval_join")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (0L, 4L, 3L), // e0,e1,e2,e5 — users {1,2,3}
      (5L, 3L, 2L))) // e2,e3,e5 — users {2,3}
  }

  /** q18 pivot semantics pinned by hand: a day missing a type entirely gets
    * 0 (the null-cell fill path), and counts land in the right (day, type)
    * cell with the column order fixed by the explicit domain list.
    */
  test("q18 pivot matches hand-computed goldens") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_q18").toString
    def ts(s: String) = Timestamp.valueOf(s)
    Seq(
      (0L, ts("2024-01-01 01:00:00"), 1L, "click", 0.0, "{}"),
      (1L, ts("2024-01-01 02:00:00"), 1L, "click", 0.0, "{}"),
      (2L, ts("2024-01-01 03:00:00"), 2L, "view", 0.0, "{}"),
      (3L, ts("2024-01-02 01:00:00"), 1L, "error", 0.0, "{}"),
      (4L, ts("2024-01-02 23:59:59"), 2L, "signup", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Relational.queries("q18_pivot")(spark, d).collect()
      .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("2024-01-01T00:00", 2L, 0L, 0L, 0L, 1L),
      ("2024-01-02T00:00", 0L, 1L, 0L, 1L, 0L)))
  }

  /** q19 time-range frame semantics pinned by hand: the trailing-hour frame
    * is inclusive at exactly -1 h, excludes one second beyond it, never
    * crosses users, and RANGE (not ROWS) means ts-duplicate peers count each
    * other symmetrically.
    */
  test("q19 sliding time-range window matches hand-computed goldens") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_q19").toString
    def ts(s: String) = Timestamp.valueOf(s)
    Seq(
      (0L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (1L, ts("2024-01-01 11:00:00"), 1L, "view", 2.0, "{}"), // incl. 10:00 (exact -1h)
      (2L, ts("2024-01-01 11:00:01"), 1L, "view", 4.0, "{}"), // 10:00 now out
      (3L, ts("2024-01-01 11:00:01"), 1L, "view", 8.0, "{}"), // ts peer of e2
      (4L, ts("2024-01-01 10:30:00"), 2L, "view", 16.0, "{}")) // other user
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Relational.queries("q19_sliding_window")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (0L, 1L, 1L, 1000000L),
      (1L, 1L, 2L, 3000000L), // 10:00 + 11:00
      (2L, 1L, 3L, 14000000L), // 11:00 + both 11:00:01 peers
      (3L, 1L, 3L, 14000000L), // RANGE: identical frame as its ts peer
      (4L, 2L, 1L, 16000000L)))
  }

  /** q20 funnel semantics pinned by hand — each stage's time bound, the
    * whole-chain-within-1h-of-the-view rule (not merely pairwise 1 h gaps),
    * the inclusive boundary, and that order matters (a purchase BEFORE the
    * view never completes the funnel).
    */
  test("q20 funnel depths match hand-computed goldens") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_q20").toString
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      // user 1: clean 50-minute chain -> 3
      (1L, "view", "10:00:00"), (1L, "click", "10:20:00"), (1L, "purchase", "10:50:00"),
      // user 2: pairwise gaps < 1 h but chain spans 70 min... actually the
      // click falls out of the purchase's trailing hour -> 2
      (2L, "view", "10:00:00"), (2L, "click", "10:20:00"), (2L, "purchase", "11:30:00"),
      // user 3: click+purchase inside the hour but the VIEW is older than
      // the purchase's trailing hour -> 2 (the whole-chain rule)
      (3L, "view", "10:00:00"), (3L, "click", "10:50:00"), (3L, "purchase", "11:10:00"),
      // user 4: no view at all -> 0
      (4L, "click", "10:00:00"), (4L, "purchase", "10:30:00"),
      // user 5: views only -> 1
      (5L, "view", "10:00:00"), (5L, "view", "11:00:00"),
      // user 6: chain spanning EXACTLY one hour view->purchase -> 3 (inclusive)
      (6L, "view", "10:00:00"), (6L, "click", "10:30:00"), (6L, "purchase", "11:00:00"),
      // user 7: purchase precedes the view -> 2 (view->click only)
      (7L, "purchase", "09:00:00"), (7L, "view", "10:00:00"), (7L, "click", "10:10:00"),
      // user 8: TWO views before the click; only the LATER one starts a
      // chain that reaches the purchase within 1 h -> 3. Carrying the
      // EARLIEST view per click (the bug this golden exists to catch) would
      // shadow the 10:40 view with 10:00 and misreport depth 2
      (8L, "view", "10:00:00"), (8L, "view", "10:40:00"),
      (8L, "click", "10:45:00"), (8L, "purchase", "11:30:00"))
    rows.zipWithIndex.map { case ((u, t, hms), i) =>
      (i.toLong, ts(s"2024-01-01 $hms"), u, t, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Relational.queries("q20_funnel")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq((1L, 3), (2L, 2), (3L, 2), (4L, 0), (5L, 1), (6L, 3), (7L, 2),
      (8L, 3)))
  }

  /** q21 melt semantics pinned by hand: every (flag, metric) cell of the
    * wide frame lands as exactly one long row, metric names come from the
    * column list, and row order is (flag, metric).
    */
  test("q21 unpivot matches hand-computed goldens") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_q21").toString
    Seq(
      ("A", 2.0, 10.0, 0.1, 0.2), ("A", 3.0, 20.0, 0.2, 0.3),
      ("B", 5.0, 50.0, 0.0, 0.1))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val got = Relational.queries("q21_unpivot")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq(
      ("A", "sum_disc", 0.3), ("A", "sum_price", 30.0),
      ("A", "sum_qty", 5.0), ("A", "sum_tax", 0.5),
      ("B", "sum_disc", 0.0), ("B", "sum_price", 50.0),
      ("B", "sum_qty", 5.0), ("B", "sum_tax", 0.1)))
  }

  /** q22 full-outer diff semantics pinned by hand: all four statuses, the
    * boundary row (midnight of the midpoint belongs to the AFTER side), and
    * deltas signed from before to after.
    */
  test("q22 snapshot diff matches hand-computed goldens") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_q22").toString
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      (1L, "2024-01-05 10:00:00"), (1L, "2024-01-20 10:00:00"), // unchanged 1:1
      (2L, "2024-01-05 10:00:00"), (2L, "2024-01-06 10:00:00"), // removed
      (3L, "2024-01-20 10:00:00"),                              // added
      (4L, "2024-01-05 10:00:00"), (4L, "2024-01-20 10:00:00"),
      (4L, "2024-01-21 10:00:00"),                              // changed +1
      (5L, "2024-01-16 00:00:00"))                              // boundary -> after
    rows.zipWithIndex.map { case ((u, t), i) =>
      (i.toLong, ts(t), u, "view", 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val got = Relational.queries("q22_snapshot_diff")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, 1L, 1L, "unchanged", 0L),
      (2L, 2L, 0L, "removed", -2L),
      (3L, 0L, 1L, "added", 1L),
      (4L, 1L, 2L, "changed", 1L),
      (5L, 0L, 1L, "added", 1L)))
  }

  /** q23's '(all)' sentinel collides if a data row's lang/source is NULL or
    * literally '(all)' — a margin row and a data row would then carry
    * identical sort keys with different counts, making cross-engine row
    * order nondeterministic (r6 ADVICE). Pin the precondition on the corpora
    * the driver actually checks, so a future generator change fails HERE
    * with a named cause instead of as a baffling q23 hash flake.
    */
  test("q23 sentinel precondition: no NULL or '(all)' lang/source in corpora") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val bad = Tables.documents(spark, sf)
        .where("lang IS NULL OR source IS NULL OR lang = '(all)' OR source = '(all)'")
        .count()
      assert(bad == 0L, s"$sf holds $bad rows colliding with q23's sentinel")
    }
  }
}
