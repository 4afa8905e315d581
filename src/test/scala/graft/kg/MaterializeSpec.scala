package graft.kg

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite
import graft.emit.TableIO

class MaterializeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001" // 2 months

  test("kill/restart: partial commit then resume reproduces the full snapshot") {
    val table = Files.createTempDirectory("graft_triples").toString
    // "killed" run: only month 1 committed
    val c1 = Materialize.run(spark, sfDir, table, maxMonths = 1)
    assert(c1 == 31)
    val m1 = TableIO.currentManifest(table)
    assert(m1.partitions.keySet.forall(_.startsWith("2022-01")))
    // restart: resumes from the snapshot, commits only month 2
    val c2 = Materialize.run(spark, sfDir, table)
    assert(c2 == 28) // February only — January partitions were skipped
    // final snapshot equals a from-scratch full run
    // read() returns event_date as a partition column possibly reordered;
    // compare as Triple-shaped sets
    val gotSet = TableIO.read(spark, table, "event_date")
      .selectExpr("graph_module", "subj", "pred", "obj", "obj_is_iri",
        "obj_dtype", "obj_lang", "CAST(event_date AS STRING) AS event_date")
      .as[Triple](spark.implicits.newProductEncoder[Triple])
      .collect().toSet
    val fullSet = Pipeline.triples(spark, sfDir).collect().toSet
    assert(gotSet == fullSet)
  }

  test("manifest carries per-partition lineage counters incl parse errors") {
    val table = Files.createTempDirectory("graft_triples_metrics").toString
    Materialize.run(spark, sfDir, table, maxMonths = 1)
    val m = TableIO.currentManifest(table)
    val metrics = m.partitions("2022-01-05").metrics
    assert(metrics.size >= 10, s"expected >=10 lineage counters, got $metrics")
    assert(metrics.contains("n_time_parse_errors") && metrics.contains("n_date_parse_errors"))
    assert(metrics("n_triples") == m.partitions("2022-01-05").rows)
    assert(metrics("n_events") > 0 && metrics("n_articles") > 0)
    // avgDayTime/avgMonthTime analogues land in the same commit
    assert(metrics("month_wall_ms") > 0L)
    assert(metrics("avg_day_wall_ms") <= metrics("month_wall_ms"))
    assert(metrics.contains("month_task_ms") && metrics.contains("avg_day_task_ms"))
    // counters survive the manifest round-trip and a snapshot bump
    val someDate = "2022-01-06"
    val t = Pipeline.triples(spark, sfDir, Some(Set(someDate)))
    TableIO.replacePartitions(spark, table, t.toDF(), "event_date", Seq(someDate))
    assert(TableIO.currentManifest(table).partitions("2022-01-05").metrics == metrics)
  }

  test("every lineage counter equals a plain recount of the committed rows") {
    val table = Files.createTempDirectory("graft_triples_counters").toString
    val p = Synth.paramsFor(sfDir)
    // both months: only February has an article with parse errors that is
    // mentioned twice on one date (by two mention paths), which the error
    // counters must count once
    Materialize.run(spark, sfDir, table)
    val parts = TableIO.currentManifest(table).partitions
    val rows = TableIO.read(spark, table, "event_date")
      .selectExpr("graph_module", "subj", "pred", "obj", "obj_is_iri",
        "obj_dtype", "obj_lang", "CAST(event_date AS STRING) AS event_date")
      .as[Triple](spark.implicits.newProductEncoder[Triple])
      .collect().groupBy(_.event_date)
    val errors = Materialize.enrichedSnapshot(spark, table, p).collect()
      .map(a => a.url -> (a.nTimeParseErrors.toLong, a.nDateParseErrors.toLong)).toMap
    assert(rows.keySet == parts.keySet && rows.size == 59)
    for ((date, ts) <- rows) {
      def subjects(prefix: String) = ts.map(_.subj).distinct.count(_.startsWith(prefix)).toLong
      def module(m: String) = ts.count(_.graph_module == m).toLong
      // each (date, article) mention emits <article> dcterms:source <url>
      val mentioned = ts.filter(t => t.subj.startsWith(Ns.wikipediaArticle) &&
        t.pred == Ns.DCTERMS + "source").map(_.obj).distinct
      val expected = Map(
        "n_triples" -> ts.length.toLong,
        "n_subjects" -> ts.map(_.subj).distinct.length.toLong,
        "n_iri_objects" -> ts.count(_.obj_is_iri).toLong,
        "n_base" -> module("base"), "n_raw" -> module("raw"),
        "n_osm" -> module("osm"), "n_ohg" -> module("ohg"),
        "n_events" -> subjects(Ns.events),
        "n_topics" -> (subjects(Ns.textTopics) + subjects(Ns.articleTopics)),
        "n_articles" -> subjects(Ns.wikipediaArticle),
        "n_osm_elements" -> subjects(Ns.osmElement),
        "n_sentences" -> subjects(Ns.sentences),
        "n_time_parse_errors" -> mentioned.map(errors(_)._1).sum,
        "n_date_parse_errors" -> mentioned.map(errors(_)._2).sum)
      val got = parts(date).metrics
      assert(got.view.filterKeys(expected.keySet).toMap == expected, s"at $date")
      assert(parts(date).rows == ts.length)
    }
    // the error counters are exercised, not all zero
    assert(parts.values.exists(_.metrics("n_time_parse_errors") > 0))
    assert(parts.values.exists(_.metrics("n_date_parse_errors") > 0))
  }

  test("idempotence: a second run over a complete snapshot commits nothing") {
    val table = Files.createTempDirectory("graft_triples2").toString
    Materialize.run(spark, sfDir, table)
    val snap = TableIO.currentManifest(table)
    val c = Materialize.run(spark, sfDir, table)
    assert(c == 0)
    assert(TableIO.currentManifest(table).snapshotId == snap.snapshotId)
  }

  test("skip-and-remember: a poisoned month is skipped, logged, and retried next run") {
    val table = Files.createTempDirectory("graft_triples_poison").toString
    val boom: (SparkSession, Synth.Params, Set[String], Dataset[EnrichedArticle]) =>
        Pipeline.Build =
      (s, p, dates, enriched) =>
        if (dates.exists(_.startsWith("2022-01")))
          throw new RuntimeException("poisoned month")
        else Pipeline.trackedBuild(s, p, Some(dates), Some(enriched))
    // January fails, February must still commit (reference __main__.py:297-317)
    val c1 = Materialize.run(spark, sfDir, table, buildFn = boom)
    assert(c1 == 28)
    assert(TableIO.currentManifest(table).partitions.keySet.forall(_.startsWith("2022-02")))
    val skipped = TableIO.unparsedMonths(table)
    assert(skipped.map(_._1) == Seq("2022-01"))
    assert(skipped.head._2.contains("poisoned"))
    // -coe analogue: crashOnError rethrows instead of skipping
    intercept[RuntimeException] {
      Materialize.run(spark, sfDir, table, crashOnError = true, buildFn = boom)
    }
    // a later healthy run retries ONLY the skipped month (Feb stays committed)
    val c2 = Materialize.run(spark, sfDir, table)
    assert(c2 == 31)
    assert(TableIO.currentManifest(table).partitions.size == 59)
  }

  test("fatal errors propagate instead of being recorded as skipped months") {
    val table = Files.createTempDirectory("graft_triples_fatal").toString
    // an interrupt (cancellation) is not a poisoned month — the skip policy
    // must rethrow it, not survive it on a broken/interrupted JVM
    intercept[InterruptedException] {
      Materialize.run(spark, sfDir, table,
        buildFn = (_, _, _, _) => throw new InterruptedException("cancelled"))
    }
    assert(TableIO.unparsedMonths(table).isEmpty)
  }

  test("salted writes: hot partitions spread over >1 file, manifest counts honest") {
    val table = Files.createTempDirectory("graft_triples_salt").toString
    val someDate = "2022-01-05"
    val t = Pipeline.triples(spark, sfDir, Some(Set(someDate)))
    val m = TableIO.replacePartitions(spark, table, t.toDF(), "event_date", Seq(someDate))
    val meta = m.partitions(someDate)
    val dir = java.nio.file.Paths.get(table, "data", s"event_date=$someDate")
    val s = Files.list(dir)
    val actual = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.count(_.toString.endsWith(".parquet"))
    } finally s.close()
    assert(meta.files == actual, "manifest file count must match the layout")
    assert(meta.files > 1, s"hot date should spread over >1 salt bucket, got ${meta.files}")
    // the salted exchange changes layout only — not content
    assert(TableIO.read(spark, table, "event_date").count() == meta.rows)
  }

  test("REPLACE WHERE rewrites exactly the targeted partition") {
    val table = Files.createTempDirectory("graft_triples3").toString
    Materialize.run(spark, sfDir, table, maxMonths = 1)
    val before = TableIO.currentManifest(table)
    val someDate = "2022-01-05"
    val t = Pipeline.triples(spark, sfDir, Some(Set(someDate)))
    TableIO.replacePartitions(spark, table, t.toDF(), "event_date", Seq(someDate))
    val after = TableIO.currentManifest(table)
    assert(after.snapshotId == before.snapshotId + 1)
    assert(after.partitions(someDate).rows == before.partitions(someDate).rows)
    assert((after.partitions - someDate) == (before.partitions - someDate))
  }

  private def snapshotMarker(table: String): Path =
    Paths.get(table, "_enriched", "_GRAFT_ENRICHED_OK")

  /** name → last-modified millis of the enriched snapshot's data files. */
  private def snapshotFiles(table: String): Map[String, Long] = {
    val s = Files.list(Paths.get(table, "_enriched", "data"))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .map(f => f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis).toMap
    finally s.close()
  }

  /** The job starts and SQL execution starts of everything `f` runs, in
    * bus order. A sentinel action marks the end: listener events are
    * delivered in order, so once its start arrives, every event of `f` has
    * been seen.
    */
  private def eventsDuring(f: => Unit): Seq[SparkListenerEvent] = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]
    val endMark = s"events-end-${System.nanoTime}"
    val seenEnd = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (seenEnd.getCount > 0) events.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          if (s.description == endMark) seenEnd.countDown() else events.add(s)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      spark.sparkContext.setJobDescription(endMark)
      try spark.range(1).collect() finally spark.sparkContext.setJobDescription(null)
      assert(seenEnd.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel execution")
    } finally spark.sparkContext.removeSparkListener(listener)
    events.asScala.toSeq
  }

  /** Descriptions of the file scans in every SQL execution `f` runs,
    * cached plans included.
    */
  private def scansDuring(f: => Unit): Seq[String] = {
    def walk(i: SparkPlanInfo): Seq[String] =
      (if (i.nodeName.contains("Scan")) Seq(i.simpleString + " " + i.metadata.values.mkString(" "))
       else Nil) ++ i.children.flatMap(walk)
    eventsDuring(f).collect { case s: SparkListenerSQLExecutionStart => walk(s.sparkPlanInfo) }
      .flatten
  }

  test("a resumed month commits with one job after the write job") {
    val table = Files.createTempDirectory("graft_triples_jobs").toString
    Materialize.run(spark, sfDir, table, maxMonths = 1)
    // static plans, as the backfill's sessions run them (AQE runs each
    // query stage as a job of its own)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the month's jobs, by the call site of their final stage
    val jobs = try eventsDuring(assert(Materialize.run(spark, sfDir, table) == 28)).collect {
      case j: SparkListenerJobStart
          if Option(j.properties).exists(_.getProperty("spark.jobGroup.id", "")
            .startsWith("graft-materialize-")) =>
        j.stageInfos.maxBy(_.stageId).name
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    val writes = jobs.zipWithIndex.filter(_._1.contains("TableIO.scala"))
    assert(writes.size == 1, s"expected one write job among:\n${jobs.mkString("\n")}")
    // the lineage counters, parse errors included, are one aggregation
    val after = jobs.drop(writes.head._2 + 1)
    assert(after.size == 1, s"jobs after the write:\n${after.mkString("\n")}")
  }

  test("enriched snapshot: a resumed run reuses it and scans no article pages") {
    val table = Files.createTempDirectory("graft_triples_snap").toString
    Materialize.run(spark, sfDir, table, maxMonths = 1)
    assert(Files.readString(snapshotMarker(table)) == CorpusStore.dirFor(Synth.paramsFor(sfDir)))
    val files = snapshotFiles(table)
    assert(files.nonEmpty)
    val scans = scansDuring(assert(Materialize.run(spark, sfDir, table) == 28))
    assert(snapshotFiles(table) == files, "the resumed run rewrote the snapshot")
    assert(scans.exists(_.contains("_enriched")), s"no snapshot scan in:\n${scans.mkString("\n")}")
    assert(!scans.exists(_.contains("articles-")),
      s"the resumed run scanned article pages:\n${scans.mkString("\n")}")
    // the snapshot round-trips the in-memory enrichment exactly
    val p = Synth.paramsFor(sfDir)
    val (inMemory, caches) = Pipeline.enrichedArticlesTracked(spark, p)
    try assert(Materialize.enrichedSnapshot(spark, table, p).collect().toSet ==
      inMemory.collect().toSet)
    finally caches.foreach(_.unpersist(blocking = false))
  }

  test("enriched snapshot: a missing marker (crash before the rename) rebuilds it") {
    val table = Files.createTempDirectory("graft_triples_snap_crash").toString
    Materialize.run(spark, sfDir, table, maxMonths = 1)
    val first = snapshotFiles(table)
    Files.delete(snapshotMarker(table))
    assert(Materialize.run(spark, sfDir, table) == 28)
    assert(Files.exists(snapshotMarker(table)))
    // a rewrite names every file after its own job id
    val rebuilt = snapshotFiles(table)
    assert(rebuilt.nonEmpty && rebuilt.keySet.intersect(first.keySet).isEmpty)
  }

  test("enriched snapshot: a marker of another corpus fails the run loudly") {
    val table = Files.createTempDirectory("graft_triples_snap_key").toString
    Materialize.run(spark, sfDir, table, maxMonths = 1)
    Files.writeString(snapshotMarker(table), "target/corpus/another-corpus")
    val e = intercept[IllegalArgumentException](Materialize.run(spark, sfDir, table))
    assert(e.getMessage.contains("another-corpus"))
    // not swallowed by the skip-and-remember policy
    assert(TableIO.unparsedMonths(table).isEmpty)
    assert(TableIO.uncommitted(table, Materialize.datesOfMonth(Synth.paramsFor(sfDir), 2022, 2))
      .size == 28)
  }
}
