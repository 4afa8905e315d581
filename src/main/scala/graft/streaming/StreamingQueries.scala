package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.Tables

/** Batch entry points for the streaming transforms (same plan runs on a
  * stream — StreamJobsSpec proves stream==batch equivalence).
  */
object StreamingQueries {

  def st01WindowedAgg(s: SparkSession, d: String): DataFrame =
    StreamJobs.windowedAgg(Tables.events(s, d))
      .select(col("ws").cast(TimestampNTZType).as("ws"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("ws"), col("event_type"))

  val st01Sql: String =
    """SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin

  def st02Sessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val evs = Tables.events(s, d)
      .selectExpr("user_id", "ts", "value").as[StreamJobs.Ev]
    StreamJobs.sessionize(evs).toDF()
      .select(col("user_id"), col("n_events"), col("sum_value_e6"))
      .orderBy(col("user_id"))
  }

  // values are positive (TESTDATA.md) so round() half-up agrees across engines
  val st02Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_e6
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // st03: the stateful streaming dedup registry run in batch mode — same
  // mapGroupsWithState plan the multi-batch stream runs (StreamJobsSpec
  // proves the stream converges to these rows); the oracle is the
  // equivalent d04-style fingerprint groupBy, which the commutative state
  // folds match by construction.
  def st03StreamDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .selectExpr("doc_id", s"${graft.queries.Dedup.bowFp} AS fp")
      .as[StreamJobs.DocIn]
    StreamJobs.dedupState(docs).toDF()
      .select(col("fp"), col("rep_doc_id"), col("n_docs"))
      .orderBy(col("rep_doc_id"))
  }

  val st03Sql: String =
    """SELECT fp, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_docs
      |FROM (SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
      |  FROM documents) t
      |GROUP BY fp ORDER BY rep_doc_id""".stripMargin

  // st04: stream-static enrichment — events joined to the static customer
  // dimension (broadcast per micro-batch) and aggregated per nation; the
  // batch entry runs the identical transform (StreamJobsSpec proves the
  // multi-micro-batch stream lands on the same rows).
  def st04StreamEnrich(s: SparkSession, d: String): DataFrame =
    StreamJobs.enrichAgg(Tables.events(s, d), Tables.customer(s, d))
      .orderBy(col("nation"))

  val st04Sql: String =
    """SELECT c_nationkey AS nation, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_e6
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1 ORDER BY nation""".stripMargin

  // st05: stream-stream interval join (clicks → errors within 30 min, same
  // user), the two-sided-state streaming join — batch entry for the driver
  // oracle; StreamJobsSpec proves the real multi-batch stream emits the
  // identical pair set.
  def st05StreamStreamJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    StreamJobs.clickErrorJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "error"))
      .orderBy(col("click_id"), col("error_id"))
  }

  val st05Sql: String =
    """SELECT c.event_id AS click_id, x.event_id AS error_id
      |FROM events c JOIN events x
      |  ON x.user_id = c.user_id
      | AND x.ts >= c.ts AND x.ts <= c.ts + INTERVAL 30 MINUTE
      |WHERE c.event_type = 'click' AND x.event_type = 'error'
      |ORDER BY click_id, error_id""".stripMargin

  // st06: streaming sequence packing, batch form: x02's bucketed packing at
  // the stream's budget. The STREAM path keeps the per-lang cursor state
  // machine (StreamJobs.packState: order dependence is the ingestion
  // contract there); StreamJobsSpec proves stream == this batch plan.
  def st06StreamPacking(s: SparkSession, d: String): DataFrame =
    graft.queries.TrainingMix.packByLang(s, d, StreamJobs.PackBudget, "seq_idx")

  val st06Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT doc_id, lang, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    // ${StreamJobs.PackBudget} AS BIGINT) AS seq_idx
       |FROM toks ORDER BY doc_id""".stripMargin

  // st07: the CMS sketch cells maintained by the native streaming
  // aggregation, run in batch mode — commutative per-cell sums, so stream,
  // batch, and the DuckDB per-seed recount converge (StreamJobsSpec).
  def st07StreamCmsCells(s: SparkSession, d: String): DataFrame =
    StreamJobs.cmsCells(Tables.documents(s, d))
      .orderBy(col("row_k"), col("col_k"))

  val st07Sql: String = {
    import graft.queries.Sketches
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |hits AS (
       |  ${Sketches.cmsSeeds.map(k =>
            s"SELECT CAST($k AS BIGINT) AS row_k, " +
              s"${Sketches.cmsCol(k, "tok", Sketches.duckCat)} AS col_k " +
              "FROM toks WHERE tok <> ''").mkString("\n  UNION ALL\n  ")})
       |SELECT row_k, col_k, COUNT(*) AS cell_cnt
       |FROM hits GROUP BY row_k, col_k
       |ORDER BY row_k, col_k""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st07_stream_cms_cells" -> (st07StreamCmsCells _),
    "st06_stream_packing" -> (st06StreamPacking _),
    "st01_windowed_agg" -> (st01WindowedAgg _),
    "st02_sessionize" -> (st02Sessionize _),
    "st03_stream_dedup" -> (st03StreamDedup _),
    "st04_stream_enrich" -> (st04StreamEnrich _),
    "st05_stream_stream_join" -> (st05StreamStreamJoin _))

  def oracleSql: Map[String, String] = Map(
    "st01_windowed_agg" -> st01Sql,
    "st02_sessionize" -> st02Sql,
    "st03_stream_dedup" -> st03Sql,
    "st04_stream_enrich" -> st04Sql,
    "st05_stream_stream_join" -> st05Sql,
    "st06_stream_packing" -> st06Sql,
    "st07_stream_cms_cells" -> st07Sql)
}
