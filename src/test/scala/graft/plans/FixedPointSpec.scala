package graft.plans

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FixedPointSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A loop whose round `i` changes one row while `i <= need`: it needs
    * exactly `need` productive rounds. Its state is the number of rounds
    * applied.
    */
  private def loop(name: String, need: Int, cap: Int): Int =
    FixedPoint.converge(spark, name, cap)(0) { (applied, round) =>
      FixedPoint.Round(spark.range(need).where(col("id") === round - 1).toDF(),
        _ => applied + 1)
    }

  test("a loop needing exactly cap productive rounds gets its confirming round") {
    assert(loop("fp-spec-exact", need = 3, cap = 3) == 3)
    assert(Meters.get("fp-spec-exact.rounds").contains(3L))
  }

  test("a loop needing cap + 1 productive rounds fails and names itself") {
    val e = intercept[IllegalArgumentException](loop("fp-spec-over", need = 4, cap = 3))
    assert(e.getMessage.contains("fp-spec-over"), e.getMessage)
  }

  test("the change count is observed on the rows where `changed` holds") {
    import spark.implicits._
    // every round keeps all rows but changes one fewer: 2, 1, then 0
    val got = FixedPoint.converge(spark, "fp-spec-changed", 5, countConfirming = true)(
      Seq(0, 1, 2).toDF("v")) { (df, _) =>
      FixedPoint.Round(df.select(greatest(col("v") - 1, lit(0)).as("v"), col("v").as("prev")),
        _.select(col("v")), changed = col("v") =!= col("prev"))
    }
    assert(got.as[Int].collect().toSeq.sorted == Seq(0, 0, 0))
    assert(Meters.get("fp-spec-changed.rounds").contains(3L))
  }

  // CacheManager keeps its entry list private to Spark's sql package, hence
  // the reflective read (as in ConnectedComponentsSpec)
  private def cachedEntries: Seq[AnyRef] = {
    val cm = spark.sharedState.cacheManager
    val entries = cm.getClass.getDeclaredMethod("cachedData")
    entries.setAccessible(true)
    entries.invoke(cm).asInstanceOf[Seq[AnyRef]]
  }

  /** Runs `f` with the session conf `k` set to `v`, then restores it. */
  private def withConf[A](k: String, v: String)(f: => A): A = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f
    finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }

  test("a round job that throws restores AQE and adds no cache entry") {
    val k = "spark.sql.adaptive.enabled"
    val poisoned = udf((i: Long) =>
      if (i == 1) throw new IllegalStateException("poisoned round") else i)
    withConf(k, "true") {
      val before = cachedEntries
      var aqeInLoop = Option.empty[String]
      val e = intercept[Exception] {
        FixedPoint.converge(spark, "fp-spec-poisoned", 8)(0) { (applied, round) =>
          aqeInLoop = spark.conf.getOption(k)
          FixedPoint.Round(spark.range(2).where(col("id") === round - 1)
            .select(poisoned(col("id")).as("id")), _ => applied + 1)
        }
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("poisoned round"))), e)
      assert(aqeInLoop.contains("false"))
      assert(spark.conf.get(k) == "true")
      assert(cachedEntries.filterNot(e => before.exists(_ eq e)).isEmpty)
    }
  }

  /** Jobs started while `f` runs. A sentinel job marks the end: listener
    * events are delivered in order, so once its start arrives, every job of
    * `f` has been seen.
    */
  private def jobsDuring(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val endMark = s"jobs-end-${System.nanoTime}"
    val seenEnd = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == endMark))
          seenEnd.countDown()
        else if (seenEnd.getCount > 0) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      spark.sparkContext.setJobDescription(endMark)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(seenEnd.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("Reach.closure runs one job per round: no separate emptiness job") {
    import spark.implicits._
    val chain = (1 to 4).map(i => s"n$i" -> s"n${i - 1}").toDF("child", "parent")
    val seed = Seq("n0").toDF("node")
    var got: DataFrame = null
    // no broadcast joins: a broadcast runs its own job, so the count would
    // depend on which round sides the planner broadcasts
    val jobs = withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      jobsDuring { got = graft.canon.Reach.closure(chain, seed) }
    }
    assert(Meters.get("reach.rounds").contains(4L))
    // the seed's checkpoint, then 4 productive rounds and the confirming one
    assert(jobs == 1 + 5, s"$jobs jobs")
    assert(got.as[String].collect().toSeq.sorted == (0 to 4).map(i => s"n$i"))
  }
}
