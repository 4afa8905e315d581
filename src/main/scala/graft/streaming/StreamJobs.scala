package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming jobs over the `events` table shape: watermarked
  * windowed aggregation and custom sessionization state
  * (mapGroupsWithState). The same transforms run in batch mode — the spec
  * asserts stream output == batch output over the same input, which is the
  * contract that matters when this runs against a real source (Kafka/files)
  * on a cluster.
  */
object StreamJobs {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Watermarked tumbling-window count/sum per event type. Works on both a
    * streaming and a batch DataFrame (identical plan semantics).
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  // ---- sessionization with explicit state ----------------------------------
  // The value accumulator is exact integer micros (values carry ≤6 decimals,
  // TESTDATA.md) so the state is order-independent and the output oracles
  // exactly — float accumulation order in mapGroupsWithState is not
  // deterministic across partitionings.
  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(count: Long, sumE6: Long, lastTs: Long)
  case class SessionOut(user_id: Long, n_events: Long, sum_value_e6: Long)

  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOut](GroupStateTimeout.NoTimeout()) {
        (user, it, state: GroupState[SessionState]) =>
          var s = state.getOption.getOrElse(SessionState(0, 0L, 0L))
          for (e <- it) s = SessionState(s.count + 1,
            s.sumE6 + Math.round(e.value * 1e6), math.max(s.lastTs, e.ts.getTime))
          state.update(s)
          SessionOut(user, s.count, s.sumE6)
      }
  }

  // ---- streaming exact dedup (stateful fingerprint registry) ---------------
  // State per BoW fingerprint: (canonical representative = min doc_id seen,
  // running member count). Both folds are commutative/associative, so the
  // final state is independent of arrival order — the batch run, any
  // micro-batch split of the same input, and the DuckDB groupBy oracle all
  // converge to identical rows. That is what makes an incremental corpus
  // dedup safe on a real feed: reordered or re-sharded input cannot change
  // which document a fingerprint canonicalizes to.
  case class DocIn(doc_id: Long, fp: String)
  case class DedupState(rep: Long, n: Long)
  case class DedupOut(fp: String, rep_doc_id: Long, n_docs: Long)

  def dedupState(docs: Dataset[DocIn]): Dataset[DedupOut] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.fp)
      .mapGroupsWithState[DedupState, DedupOut](GroupStateTimeout.NoTimeout()) {
        (fp, it, state: GroupState[DedupState]) =>
          var s = state.getOption.getOrElse(DedupState(Long.MaxValue, 0L))
          for (d <- it) s = DedupState(math.min(s.rep, d.doc_id), s.n + 1)
          state.update(s)
          DedupOut(fp, s.rep, s.n)
      }
  }

  /** st06: streaming SEQUENCE PACKING — the order-DEPENDENT state machine
    * (unlike st03's commutative folds): a running token cursor per lang
    * stream assigns each arriving document to its training sequence
    * (seq = tokens-before DIV budget, the x02/m07 streaming-pack rule) and
    * the cursor carries across micro-batches. Order dependence is the
    * point: this is the append-ordered ingestion contract a continuous
    * packing job runs under, and StreamJobsSpec proves stream == batch ==
    * the SQL window truth over REAL ordered micro-batches (doc_id-range
    * shards, ascending mtimes). Within a batch each group's slice is
    * sorted by doc_id so a single batch is also internally order-correct.
    *
    * MEMORY BOUND (r6 ADVICE): `it.toIndexedSeq.sortBy` buffers one group's
    * slice of ONE MICRO-BATCH per task — bounded by the micro-batch size
    * (maxFilesPerTrigger / maxBytesPerTrigger on a real source), never the
    * whole stream. This state machine is STREAM-ONLY: the batch
    * driver-contract entry (StreamingQueries.st06StreamPacking) computes
    * the identical assignment with a bucketed prefix scan (plans.PrefixScan)
    * instead of routing the full corpus through per-lang groups.
    */
  val PackBudget = 4096L

  case class PackIn(doc_id: Long, lang: String, n_tokens: Long)
  case class PackCursor(cum: Long)
  case class PackOut(doc_id: Long, lang: String, n_tokens: Long, seq_idx: Long)

  def packState(docs: Dataset[PackIn]): Dataset[PackOut] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.lang)
      .flatMapGroupsWithState[PackCursor, PackOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (lang, it, state: GroupState[PackCursor]) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = it.toIndexedSeq.sortBy(_.doc_id).map { d =>
            val seq = cum / PackBudget
            cum += d.n_tokens
            PackOut(d.doc_id, lang, d.n_tokens, seq)
          }
          state.update(PackCursor(cum))
          out.iterator
      }
  }

  /** Drive the packing state machine as an actual multi-batch stream over a
    * directory of parquet shards (append mode → memory sink; one output row
    * per document, so the sink holds the final assignment directly).
    */
  def runPackStream(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_tokens", LongType)))
    val q = packState(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir).as[PackIn])
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** st07: COUNT-MIN SKETCH CELLS ON A STREAM — the sketch state (3×256
    * (row, col) counter cells, sk02's exact hash family) maintained by
    * Spark's OWN incremental streaming aggregation, no custom state
    * machine: tokens explode to per-seed cell hits and a groupBy counts
    * them, so each micro-batch folds into the standing cell counters
    * exactly the way a 1000-executor tree aggregation (or a cross-cluster
    * sketch union) merges partial sketches — commutative per-cell sums.
    * The identical transform runs on a batch frame; StreamJobsSpec proves
    * the multi-batch stream's final cells equal the batch cells.
    */
  def cmsCells(docs: DataFrame): DataFrame = {
    import graft.queries.Sketches
    docs.selectExpr("explode(split(text, ' ')) AS tok")
      .filter(col("tok") =!= "")
      .selectExpr("inline(array(" + Sketches.cmsSeeds.map(k =>
        s"named_struct('row_k', CAST($k AS BIGINT), " +
          s"'col_k', ${Sketches.cmsCol(k, "tok", Sketches.sparkCat)})")
        .mkString(", ") + "))")
      .groupBy(col("row_k"), col("col_k"))
      .agg(count(lit(1)).as("cell_cnt"))
  }

  /** Drive the CMS cell aggregation as an actual multi-batch stream (Update
    * mode → memory sink; cell counts are monotone per key, so the final
    * state per cell is the max over the accumulated updates).
    */
  def runCmsStream(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = cmsCells(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir))
      .writeStream.outputMode(OutputMode.Update()).format("memory")
      .queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
      .groupBy(col("row_k"), col("col_k"))
      .agg(max(col("cell_cnt")).as("cell_cnt"))
  }

  /** Run the dedup state machine as an actual multi-batch stream over a
    * directory of parquet shards (Update output mode → memory sink). The
    * sink accumulates one row per (fingerprint, micro-batch touching it);
    * rep is monotone non-increasing and n monotone increasing per key, so
    * the FINAL state per fingerprint is exactly (min(rep), max(n)) over the
    * accumulated updates.
    */
  def runDedupStream(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    import spark.implicits._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("fp", StringType)))
    val stream = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .as[DocIn]
    val q = dedupState(stream)
      .writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
      .groupBy(col("fp"))
      .agg(min(col("rep_doc_id")).as("rep_doc_id"), max(col("n_docs")).as("n_docs"))
  }

  /** Drive the windowed agg as an actual stream from parquet and collect the
    * complete result via the memory sink (local smoke for the streaming
    * plan — used by the spec and available as a library entry point).
    */
  /** Stream-static enrichment join + aggregation — the standard pattern for
    * enriching an event stream with a slowly-changing dimension: the STATIC
    * side is broadcast into every micro-batch (the stream side never
    * shuffles for the join), then a per-nation aggregate. The value
    * accumulator is exact integer micros (order-independent, same rule as
    * sessionize). The identical transform runs on a batch frame.
    */
  def enrichAgg(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
        broadcast(customers.select(col("c_custkey"), col("c_nationkey"))),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 1000000) AS BIGINT)")).as("sum_value_e6"))

  def runEnrichStream(spark: SparkSession, eventsDir: String,
      customers: DataFrame, queryName: String): DataFrame = {
    val stream = spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(eventsDir)
    val q = enrichAgg(stream.filter(col("event_id").isNotNull), customers)
      .writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  def runWindowedStream(spark: SparkSession, sfDir: String, queryName: String): DataFrame = {
    val stream = spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$sfDir")
    val q = windowedAgg(stream.filter(col("event_id").isNotNull))
      .writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** st05: STREAM-STREAM interval join — clicks matched to the errors that
    * follow them within 30 minutes for the same user. This is the join shape
    * Structured Streaming keeps two-sided state for: each side buffers rows
    * until the OTHER side's watermark passes the interval bound, then evicts
    * — the time-range condition is what makes the state finite (an
    * unconstrained stream-stream join would buffer both streams forever).
    * Inner-join matches emit eagerly per micro-batch; the watermark governs
    * state eviction only, so the complete result equals the batch join
    * (StreamJobsSpec proves it over real multi-batch streams). The identical
    * transform runs on two batch frames for the driver oracle.
    */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame): DataFrame =
    clicks.alias("c").join(errors.alias("x"),
      expr("c.user_id = x.user_id AND x.ts >= c.ts AND " +
        "x.ts <= c.ts + INTERVAL 30 MINUTES"))
      .select(col("c.event_id").as("click_id"), col("x.event_id").as("error_id"))

  def runJoinStream(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    def side(tpe: String) = spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .filter(col("event_type") === tpe)
      // 1 h watermark on BOTH sides: required for state cleanup on a
      // stream-stream join (with the 30-min range bound it caps buffered
      // state at ~90 min of stream time per side)
      .withWatermark("ts", "1 hour")
    val q = clickErrorJoin(side("click"), side("error"))
      .writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  // ---- watermark late-data semantics ---------------------------------------

  /** 10-minute tumbling count with a 10-minute watermark. On a stream in
    * APPEND mode this carries the semantics batch cannot express: a row
    * arriving after the watermark has passed its window's end is DROPPED,
    * and a window is emitted exactly once — only after the watermark passes
    * its end (windows still open at stream end are never emitted). The same
    * plan on a batch frame ignores the watermark (all rows counted), which
    * is exactly the contrast StreamJobsSpec pins.
    */
  def lateWindowCount(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("k"), col("n"))

  /** Drive [[lateWindowCount]] as a REAL ordered multi-batch file stream
    * (one file per micro-batch; the file source orders initial files by
    * modification time, which the spec stages explicitly). Returns the rows
    * the append-mode sink received — each emitted window exactly once — plus
    * the total rows the watermark dropped as late.
    *
    * Watermark timing subtlety this harness surfaced (SPARK-42376, Spark
    * 3.4+): within batch N, LATE-EVENT FILTERING uses the watermark batch
    * N-1 ran with, while STATE EVICTION/emission uses the one updated from
    * batch N-1's data. A row is therefore dropped only when it arrives two
    * or more batches after the data that advanced the watermark past its
    * window — arriving in the very next batch still lands in (or reopens)
    * state. The spec's fixture is staged around exactly this.
    */
  def runLateDataStream(spark: SparkSession, dir: String,
      queryName: String): (DataFrame, Long) = {
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("k", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = lateWindowCount(stream)
      .writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    val progress = q.recentProgress
    // the progress buffer retains only the last
    // spark.sql.streaming.numRecentProgressUpdates entries (default 100) —
    // if batches outran it, early drops would silently vanish from the sum.
    // Same silent-cap class as the oracle series windows: fail loudly.
    val batchesRun = progress.lastOption.map(_.batchId + 1).getOrElse(0L)
    require(progress.length.toLong >= batchesRun,
      s"progress buffer holds ${progress.length} of $batchesRun batches — " +
        "raise spark.sql.streaming.numRecentProgressUpdates before trusting " +
        "the watermark-dropped count")
    val dropped = progress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsDroppedByWatermark).sum
    q.stop()
    (spark.table(queryName), dropped)
  }
}
