package graft.emit

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** TableIO's REPLACE WHERE commit: what the manifest records must be read
  * off exactly the partitions the write produced.
  */
class TableIOSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val (d1, d2, d3) = ("2022-01-05", "2022-01-06", "2022-01-07")

  private def df(rows: Seq[(String, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v", "event_date")
  }

  private def committed(table: String): Set[(String, Long, String)] =
    TableIO.read(spark, table, "event_date")
      .select(col("k"), col("v"), col("event_date").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

  test("REPLACE WHERE with no rows for a committed key drops its directory and records 0 rows") {
    val table = Files.createTempDirectory("graft_tableio_empty").toString
    TableIO.replacePartitions(spark, table,
      df(Seq(("a", 1L, d1), ("b", 2L, d1), ("c", 3L, d2))), "event_date", Seq(d1, d2))
    assert(Files.isDirectory(Paths.get(table, "data", s"event_date=$d1")))
    // rewrite both keys from a slice that has rows for d2 only
    val m = TableIO.replacePartitions(spark, table, df(Seq(("z", 9L, d2))),
      "event_date", Seq(d1, d2))
    assert(m.partitions(d1) == TableIO.PartitionMeta(d1, 0L, 0))
    assert(!Files.exists(Paths.get(table, "data", s"event_date=$d1")))
    assert(m.partitions(d2).rows == 1L && m.partitions(d2).files == 1)
    assert(TableIO.currentManifest(table) == m)
    assert(committed(table) == Set(("z", 9L, d2)))
  }

  test("row counts and metricsFn see exactly the rewritten rows, event_date as a string") {
    val table = Files.createTempDirectory("graft_tableio_counts").toString
    TableIO.replacePartitions(spark, table, df(Seq(("old", 0L, d3))), "event_date", Seq(d3))
    var seenType: DataType = null
    var seen = Set.empty[(String, Long, String)]
    // the d3 row is outside the requested keys: neither written nor counted
    val input = df(Seq(("a", 1L, d1), ("b", 2L, d1), ("c", 3L, d2), ("x", 4L, d3)))
    val m = TableIO.replacePartitions(spark, table, input, "event_date", Seq(d1, d2),
      metricsFn = slice => {
        seenType = slice.schema("event_date").dataType
        seen = slice.select("k", "v", "event_date").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
        slice.groupBy("event_date").agg(sum("v").as("s")).collect()
          .map(r => r.getString(0) -> Map("sum_v" -> r.getLong(1))).toMap
      })
    assert(seenType == StringType)
    assert(seen == Set(("a", 1L, d1), ("b", 2L, d1), ("c", 3L, d2)))
    assert(m.partitions(d1).rows == 2L && m.partitions(d1).metrics == Map("sum_v" -> 3L))
    assert(m.partitions(d2).rows == 1L && m.partitions(d2).metrics == Map("sum_v" -> 3L))
    assert(m.partitions(d3).rows == 1L)
    assert(committed(table) == Set(("a", 1L, d1), ("b", 2L, d1), ("c", 3L, d2), ("old", 0L, d3)))
  }

  test("rowsMetric: the row count is read from a metric every rewritten key must carry") {
    val table = Files.createTempDirectory("graft_tableio_rows").toString
    val input = df(Seq(("a", 1L, d1), ("b", 2L, d1), ("c", 3L, d2)))
    val m = TableIO.replacePartitions(spark, table, input, "event_date", Seq(d1, d2),
      metricsFn = slice => slice.groupBy("event_date").count().collect()
        .map(r => r.getString(0) -> Map("n" -> r.getLong(1))).toMap,
      rowsMetric = Some("n"))
    assert(m.partitions(d1).rows == 2L && m.partitions(d1).metrics == Map("n" -> 2L))
    assert(m.partitions(d2).rows == 1L && m.partitions(d2).metrics == Map("n" -> 1L))
    // a key without the metric fails the commit instead of recording 0 rows
    intercept[NoSuchElementException] {
      TableIO.replacePartitions(spark, table, input, "event_date", Seq(d1, d2),
        metricsFn = _ => Map(d1 -> Map("n" -> 2L)),
        rowsMetric = Some("n"))
    }
    assert(TableIO.currentManifest(table) == m)
  }
}
