package graft.kg

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.emit.TableIO

/** Writes the triple table as date-partitioned parquet with snapshot commits
  * (north rule: "(subj, pred, obj) Iceberg partitions keyed by event date …
  * per-partition checkpointing, lineage records, and resumability so a
  * killed job restarts from the last committed snapshot").
  *
  * Work is committed month-by-month (the reference's month loop,
  * __main__.py:253-345): each month's date partitions are computed, written
  * via REPLACE WHERE and committed atomically. On restart, committed dates
  * are pruned from the work list BEFORE parsing — the day-page scan itself
  * shrinks, not just the write.
  *
  * The article side is enriched once per table, not once per month (the
  * reference memoizes `get_article` across its whole month loop, J9): the
  * first month that commits writes the enriched articles as a snapshot under
  * `<table>/_enriched/`, and every later month — in this run or a restarted
  * one — reads it back.
  */
object Materialize {

  /** The table's enriched-article snapshot, built and committed on first
    * use. Layout: `<table>/_enriched/data/` parquet plus a marker holding the
    * corpus key ([[CorpusStore.dirFor]]); the marker is written to a
    * temporary file and renamed, so a crash between the data write and the
    * rename leaves no marker and the next call rebuilds the data. A marker
    * naming another corpus fails: the table was built from different
    * articles, and joining its months against these would mix two corpora.
    */
  def enrichedSnapshot(spark: SparkSession, table: String,
      p: Synth.Params): Dataset[EnrichedArticle] = synchronized {
    val dir = Paths.get(table, "_enriched")
    val data = dir.resolve("data").toString
    val marker = dir.resolve("_GRAFT_ENRICHED_OK")
    val key = CorpusStore.dirFor(p)
    if (Files.exists(marker)) {
      val built = Files.readString(marker).trim
      require(built == key,
        s"enriched snapshot $dir was built from corpus $built, not $key")
    } else {
      val (e, caches) = Pipeline.enrichedArticlesTracked(spark, p)
      try e.write.mode("overwrite").parquet(data)
      finally caches.foreach(_.unpersist(blocking = false))
      val tmp = dir.resolve("_GRAFT_ENRICHED_OK.tmp")
      Files.writeString(tmp, key)
      Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING) // the rename IS the commit
    }
    val enc = Encoders.product[EnrichedArticle]
    spark.read.schema(enc.schema).parquet(data).as(enc)
  }

  /** Per-partition lineage counters for the manifest (north rule:
    * "per-partition checkpointing, lineage records"): triple/module/entity
    * counts from the committed slice plus the article date/time parse-error
    * counts the reference logs per run (analytics.py:120-184,
    * articleExtractor.py:50-63).
    */
  def lineageMetrics(slice: org.apache.spark.sql.DataFrame,
      errorsByDate: org.apache.spark.sql.DataFrame): Map[String, Map[String, Long]] = {
    def nsCount(prefix: String) =
      countDistinct(when(col("subj").startsWith(prefix), col("subj")))
    val counters = slice.groupBy(col("event_date")).agg(
      count(lit(1)).as("n_triples"),
      countDistinct(col("subj")).as("n_subjects"),
      sum(when(col("obj_is_iri"), 1L).otherwise(0L)).as("n_iri_objects"),
      sum(when(col("graph_module") === "base", 1L).otherwise(0L)).as("n_base"),
      sum(when(col("graph_module") === "raw", 1L).otherwise(0L)).as("n_raw"),
      sum(when(col("graph_module") === "osm", 1L).otherwise(0L)).as("n_osm"),
      sum(when(col("graph_module") === "ohg", 1L).otherwise(0L)).as("n_ohg"),
      nsCount(Ns.events).as("n_events"),
      (nsCount(Ns.textTopics) + nsCount(Ns.articleTopics)).as("n_topics"),
      nsCount(Ns.wikipediaArticle).as("n_articles"),
      nsCount(Ns.osmElement).as("n_osm_elements"),
      nsCount(Ns.sentences).as("n_sentences"))
    counters.join(errorsByDate, Seq("event_date"), "left")
      .na.fill(0L)
      .collect()
      .map { r =>
        val key = r.getString(r.fieldIndex("event_date"))
        key -> r.schema.fieldNames.filter(_ != "event_date")
          .map(f => f -> r.getLong(r.fieldIndex(f))).toMap
      }.toMap
  }

  def datesOfMonth(p: Synth.Params, year: Int, month: Int): Seq[String] =
    Synth.allDaysOf(p).filter(x => x._1 == year && x._2 == month)
      .map { case (y, m, d) => f"$y%04d-$m%02d-$d%02d" }

  /** Run (or resume) the materialization. Returns committed partition count.
    *
    * Failure policy (reference __main__.py:297-317): a month whose build or
    * commit throws is SKIPPED and remembered in the table's unparsed-months
    * log (the `unparsed_months` analogue), and the loop continues — one
    * poisoned partition must cost one partition, not the whole backfill.
    * Skipped months stay uncommitted, so the next run retries them (and the
    * log records every attempt). `crashOnError` restores the reference's
    * `-coe` crash-immediately behavior.
    *
    * The enriched-article snapshot is outside that policy: every month
    * joins against it, so a snapshot that cannot be built or belongs to
    * another corpus fails the run instead of skipping every month.
    *
    * @param maxMonths stop after this many months (for kill/restart tests)
    * @param crashOnError rethrow the first month failure instead of skipping
    * @param buildFn the month build over the table's enriched articles
    *   (injectable: specs poison one month)
    */
  def run(spark: SparkSession, sfDir: String, table: String,
      maxMonths: Int = Int.MaxValue, crashOnError: Boolean = false,
      buildFn: (SparkSession, Synth.Params, Set[String], Dataset[EnrichedArticle]) =>
        Pipeline.Build = (s, p, dates, enriched) =>
          Pipeline.trackedBuild(s, p, Some(dates), Some(enriched))): Int = {
    val p = Synth.paramsFor(sfDir)
    // built by the first month that commits, read by every later one
    lazy val enriched = enrichedSnapshot(spark, table, p)
    var committed = 0
    var monthsDone = 0
    // avgDayTime/avgMonthTime analogues (analytics.py:161-163): the reference
    // times its sequential month/day loop; the Spark analogues are the
    // month's wall clock and its summed executor task time (the distributed
    // equivalent of "time spent processing this month's days"), recorded in
    // the same manifest commit as the month's lineage counters. Only tasks of
    // jobs in THIS run's job group are counted, so concurrent work on the
    // same SparkContext cannot inflate month_task_ms.
    val jobGroup = s"graft-materialize-${System.nanoTime()}"
    val taskMs = new java.util.concurrent.atomic.LongAdder
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            jobGroup == js.properties.getProperty("spark.jobGroup.id"))
          js.stageIds.foreach(groupStages.add(_))
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null && groupStages.contains(te.stageId))
          taskMs.add(te.taskInfo.duration)
    }
    // listener events arrive asynchronously on the bus; by read time every
    // task has ENDED (the write action returned), only delivery lags — wait
    // until the sum stabilizes so a month's tail tasks are not undercounted
    // or attributed to the next month
    def settledTaskMs(): Long = {
      var prev = -1L
      var cur = taskMs.sum
      var waited = 0
      while (cur != prev && waited < 2000) {
        prev = cur; Thread.sleep(50); waited += 50; cur = taskMs.sum
      }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(jobGroup, "graft materialize", false)
    try {
      for (year <- p.year until (p.year + p.years);
           month <- 1 to p.months if monthsDone < maxMonths) {
        monthsDone += 1
        val dates = datesOfMonth(p, year, month)
        val todo = TableIO.uncommitted(table, dates)
        if (todo.nonEmpty) {
          // settle BEFORE starting the wall clock, so the up-to-2s delivery
          // poll of the previous month is not billed to this one
          val task0 = settledTaskMs()
          val t0 = System.nanoTime
          val articles = enriched // outside the skip policy: every month needs it
          try {
            val b = buildFn(spark, p, todo.toSet, articles)
            try {
              TableIO.replacePartitions(spark, table, b.triples.toDF(), "event_date",
                todo, metricsFn = slice => {
                  // called post-write: wall/task cover build + write of the month
                  val wallMs = math.max(1L, (System.nanoTime - t0) / 1000000L)
                  val monthTaskMs = math.max(0L, settledTaskMs() - task0)
                  val timing = Map(
                    "month_wall_ms" -> wallMs,
                    "month_task_ms" -> monthTaskMs,
                    "avg_day_wall_ms" -> wallMs / todo.size,
                    "avg_day_task_ms" -> monthTaskMs / todo.size)
                  lineageMetrics(slice, b.articleErrorsByDate)
                    .map { case (k, mm) => k -> (mm ++ timing) }
                })
              committed += todo.size
            } finally b.releaseCaches() // committed OR failed: drop the blocks
          } catch {
            // NonFatal only: OOM/linkage errors and interrupts (cancellation)
            // must abort the backfill, not be recorded as a skipped month and
            // silently survived on a broken JVM
            case scala.util.control.NonFatal(e) if !crashOnError =>
              TableIO.recordUnparsed(table, f"$year%04d-$month%02d",
                Option(e.getMessage).getOrElse(e.getClass.getName))
          }
        }
      }
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    committed
  }
}
