package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.kg.{CorpusStore, Materialize, Pipeline, Synth}
import graft.emit.TableIO

/** Incremental KG construction as a Structured Streaming job: the documents
  * table is consumed as a FILE STREAM (new day-page partitions arrive over
  * time — the reference's daily/monthly crawl cadence), and each micro-batch
  * REPLACE-WHERE commits exactly the newly-arrived dates' triples.
  *
  * Exactly-once end to end without sink-side transactions:
  *  - source side: the stream checkpoint tracks consumed files;
  *  - sink side: TableIO's snapshot commit is idempotent per partition
  *    (re-committing a date replaces it with identical deterministic bytes),
  *    so a replayed micro-batch after a crash converges to the same table.
  *
  * The per-batch work reuses the BATCH pipeline on the batch's dates
  * (foreachBatch), so stream and batch semantics are identical by
  * construction — IncrementalKgSpec asserts streamed table == one-shot
  * batch table triple-for-triple. Like a batch backfill, every micro-batch
  * joins against the table's enriched-article snapshot, which the first
  * batch builds.
  */
object IncrementalKg {

  /** Start the incremental job over an existing corpus table.
    * @param filesPerTrigger max corpus files per micro-batch (arrival-rate stand-in)
    */
  def start(spark: SparkSession, p: Synth.Params, table: String,
      checkpoint: String, filesPerTrigger: Int = 50): StreamingQuery = {
    val dir = CorpusStore.ensure(spark, p)
    val stream = spark.readStream
      .schema(CorpusStore.documentsSchema.add("part", "string"))
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .option("basePath", s"$dir/data")
      .parquet(s"$dir/data")
      .filter(!col("part").startsWith("articles-")) // day pages drive commits

    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val dates = batch.select(col("part")).distinct()
          .collect().map(_.getString(0)).sorted
        if (dates.nonEmpty) {
          val articles = Materialize.enrichedSnapshot(spark, table, p)
          val b = Pipeline.trackedBuild(spark, p, Some(dates.toSet), Some(articles))
          TableIO.replacePartitions(spark, table, b.triples.toDF(),
            "event_date", dates, rowsMetric = Some("n_triples"),
            metricsFn = slice => Materialize.lineageMetrics(slice, articles))
          b.releaseCaches()
        }
      }
      .start()
  }
}
