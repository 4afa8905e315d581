package graft

/** Local stand-in for the driver's t1 smoke check: runs SparkEntry.entry and
  * prints its row count (must be > 0) plus a sample.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Lab.session()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    df.show(5, truncate = 120)
    require(n > 0, "entry must return rows")
    spark.stop()
  }
}
