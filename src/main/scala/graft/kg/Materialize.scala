package graft.kg

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
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
    *
    * Everything is one aggregation job over the slice. Per (event_date,
    * subj) first, where each row is one distinct subject, so the
    * distinct-subject counters are plain sums of the per-date level.
    * `n_topics` adds its two prefix counts, so a subject under both prefixes
    * counts twice. `n_triples` is the partition's row count: the committed
    * path records it as the manifest row count instead of counting the
    * slice again.
    *
    * The parse errors are read off the slice too: every article mention
    * emits `<article> dcterms:source <url>` on its date, and the slice is a
    * set, so its source rows are the distinct (date, article url) mentions.
    * They join the articles' two error columns (a shuffled hash join: the
    * article side can be as large as the corpus, and a broadcast would add a
    * job) and enter the per-date level as rows without a subject. A date
    * without article mentions has 0 errors.
    *
    * @param articles the enriched articles the slice was built from
    */
  def lineageMetrics(slice: DataFrame,
      articles: Dataset[EnrichedArticle]): Map[String, Map[String, Long]] = {
    def ones(c: Column) = sum(when(c, 1L).otherwise(0L))
    def module(m: String) = ones(col("graph_module") === m)
    def subjects(prefix: String) = ones(col("subj").startsWith(prefix))
    val perSubject = Seq("n_triples", "n_iri_objects", "n_base", "n_raw", "n_osm", "n_ohg")
    val errorCols = Seq("n_time_parse_errors", "n_date_parse_errors")
    val bySubj = slice.groupBy(col("event_date"), col("subj")).agg(
      count(lit(1)).as("n_triples"), ones(col("obj_is_iri")).as("n_iri_objects"),
      module("base").as("n_base"), module("raw").as("n_raw"),
      module("osm").as("n_osm"), module("ohg").as("n_ohg"))
      .select(col("*") +: errorCols.map(lit(0L).as(_)): _*)
    val errors = slice
      .filter(col("pred") === Ns.DCTERMS + "source" && col("subj").startsWith(Ns.wikipediaArticle))
      .select(col("event_date"), col("obj").as("url"))
      .join(articles.select(col("url"), col("nTimeParseErrors"), col("nDateParseErrors"))
        .filter(col("nTimeParseErrors") + col("nDateParseErrors") > 0)
        .hint("shuffle_hash"), "url")
      .select(col("event_date") +: lit(null).cast("string").as("subj") +:
        (perSubject.map(lit(0L).as(_)) ++ Seq(
          col("nTimeParseErrors").cast("long").as(errorCols(0)),
          col("nDateParseErrors").cast("long").as(errorCols(1)))): _*)
    val counters = bySubj.unionByName(errors).groupBy(col("event_date")).agg(
      count(col("subj")).as("n_subjects"),
      (perSubject.map(c => sum(col(c)).as(c)) ++ errorCols.map(c => sum(col(c)).as(c)) ++ Seq(
        subjects(Ns.events).as("n_events"),
        (subjects(Ns.textTopics) + subjects(Ns.articleTopics)).as("n_topics"),
        subjects(Ns.wikipediaArticle).as("n_articles"),
        subjects(Ns.osmElement).as("n_osm_elements"),
        subjects(Ns.sentences).as("n_sentences"))): _*)
    counters.collect().map { r =>
      r.getString(r.fieldIndex("event_date")) -> r.schema.fieldNames.filter(_ != "event_date")
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
    // the group's jobs whose start event has arrived and whose end has not
    val running = scala.collection.mutable.Set.empty[Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            jobGroup == js.properties.getProperty("spark.jobGroup.id")) {
          js.stageIds.foreach(groupStages.add(_))
          running.synchronized(running += js.jobId)
        }
      override def onJobEnd(
          je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        running.synchronized(if (running.remove(je.jobId)) running.notifyAll())
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null && groupStages.contains(te.stageId))
          taskMs.add(te.taskInfo.duration)
    }
    // listener events arrive asynchronously on the bus, in posting order, and
    // a job's task-end events are posted before its job-end event: once every
    // started job's end has arrived, every task of those jobs is counted, so
    // none is missed or billed to the next month. (A job whose start event is
    // still queued is not waited for: this relies on the bus delivering a
    // start event within the run time of its job, which for the write and
    // counting jobs is hundreds of milliseconds or more.) The deadline
    // only guards against an end event the bus dropped (it drops events when
    // a listener queue overflows), which would otherwise hang the backfill.
    def settledTaskMs(): Long = running.synchronized {
      val deadline = System.nanoTime + java.util.concurrent.TimeUnit.SECONDS.toNanos(60)
      while (running.nonEmpty && System.nanoTime < deadline) running.wait(1000)
      taskMs.sum
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
          // settle BEFORE starting the wall clock, so waiting for the
          // previous month's events is not billed to this one
          val task0 = settledTaskMs()
          val t0 = System.nanoTime
          val articles = enriched // outside the skip policy: every month needs it
          try {
            val b = buildFn(spark, p, todo.toSet, articles)
            try {
              TableIO.replacePartitions(spark, table, b.triples.toDF(), "event_date",
                todo, rowsMetric = Some("n_triples"), metricsFn = slice => {
                  // called post-write: wall/task cover build + write of the month
                  val wallMs = math.max(1L, (System.nanoTime - t0) / 1000000L)
                  val monthTaskMs = math.max(0L, settledTaskMs() - task0)
                  val timing = Map(
                    "month_wall_ms" -> wallMs,
                    "month_task_ms" -> monthTaskMs,
                    "avg_day_wall_ms" -> wallMs / todo.size,
                    "avg_day_task_ms" -> monthTaskMs / todo.size)
                  lineageMetrics(slice, articles)
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
