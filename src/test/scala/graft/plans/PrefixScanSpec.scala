package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LeafExecNode
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

class PrefixScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** (k, id, v) rows: key "a" and "b" span buckets `id DIV 10` with gaps
    * (no ids in 10–29 for "a", none in 20–59 for "b"), key "c" has one row.
    */
  private val rows: Seq[(String, Long, Long)] =
    ((0L to 9L) ++ (30L to 34L) ++ Seq(77L, 78L, 95L)).map(i => ("a", i, i * 7 % 11 + 1)) ++
      ((3L to 17L) ++ (60L to 62L)).map(i => ("b", i, i * 5 % 13 + 2)) ++
      Seq(("c", 41L, 9L))

  private def frame = {
    import spark.implicits._
    rows.toDF("k", "id", "v").selectExpr("k", "id % 2 AS p", "id", "v", "id DIV 10 AS bkt")
  }

  private def scan(keys: Seq[String]) = PrefixScan.exclusiveSum(frame, keys,
    bucket = "bkt", order = "id", value = "v", as = "before")

  test("exclusiveSum equals a sequential running sum, over one key and over two") {
    def sequential(group: ((String, Long, Long)) => Any) =
      rows.groupBy(group).values.flatMap { rs =>
        var cum = 0L
        rs.sortBy(_._2).map { case (k, id, v) => val before = cum; cum += v; (k, id, before) }
      }.toSeq.sortBy(r => (r._1, r._2))
    def got(keys: Seq[String]) = scan(keys).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("id"), r.getAs[Long]("before")))
      .toSeq.sortBy(r => (r._1, r._2))
    assert(scan(Seq("k")).columns.toSeq == Seq("k", "p", "id", "v", "bkt", "before"))
    assert(got(Seq("k")) == sequential(_._1))
    assert(got(Seq("k", "p")) == sequential(r => (r._1, r._2 % 2)))
    assert(got(Seq("k")).contains(("c", 41L, 0L)))
  }

  test("bucketOffsets rank ranges pick the sorted-array value at every rank") {
    import spark.implicits._
    // ties inside groups, a one-row group, and buckets that are one rank wide
    val vals = Seq("x" -> Seq(5L, 1L, 3L, 3L, 9L, 3L, 1L, 7L, 7L, 2L),
      "y" -> Seq(4L, 4L, 4L, 4L), "z" -> Seq(8L), "w" -> Seq(6L, 2L, 6L, 1L, 2L))
    val df = vals.flatMap { case (g, qs) => qs.map(q => (g, q)) }.toDF("g", "q")
    val buckets = PrefixScan.bucketOffsets(df, Seq("g"), bucket = "q", value = "1")
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("q"),
        r.getAs[Long]("bucket_offset"), r.getAs[Long]("bucket_total")))
    vals.foreach { case (g, qs) =>
      val sorted = qs.sorted
      (1 to sorted.length).foreach { rank =>
        val covering = buckets.filter(b => b._1 == g && b._3 + 1 <= rank && rank <= b._3 + b._4)
        assert(covering.map(_._2).toSeq == Seq(sorted(rank - 1)), s"group $g rank $rank")
      }
    }
  }

  test("the only row-level window is bucket-local; the key-only window reads the bucket aggregate") {
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    try {
      val plan = scan(Seq("k")).queryExecution.executedPlan
      val windows = plan.collect { case w: WindowExec => w }
      def names(w: WindowExec) = w.partitionSpec.flatMap(_.references.map(_.name))
      val (keyOnly, rowLevel) = windows.partition(w => names(w) == Seq("k"))
      assert(keyOnly.size == 1 && rowLevel.size == 1, plan.toString)
      // the first aggregate, join or leaf under the key-only window is the
      // (k, bkt) bucket aggregate
      val below = keyOnly.head.child.collectFirst {
        case a: HashAggregateExec => a
        case j: BaseJoinExec => j
        case l: LeafExecNode => l
      }
      assert(below.exists {
        case a: HashAggregateExec => a.groupingExpressions.map(_.name) == Seq("k", "bkt")
        case _ => false
      }, keyOnly.head.toString)
      assert(names(rowLevel.head).contains("bkt"), rowLevel.head.toString)
      // one exchange carries rows (it outputs the order column `id`)
      val rowExchanges = plan.collect {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "id") => e
      }
      assert(rowExchanges.size == 1, plan.toString)
    } finally prev.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
  }
}
