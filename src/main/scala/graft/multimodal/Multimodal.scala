package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Tables

/** Multimodal columns for a training-data pipeline: media as opaque BINARY
  * plus typed metadata, with decode / feature-extract / frame-sample as
  * batch transforms.
  *
  * The container has no image/audio codecs, so the DECODE STEP IS A
  * DETERMINISTIC STUB (clearly marked below) — what is real and tested is
  * the Spark-side plumbing: binary column handling, metadata schema,
  * explode-based frame fan-out, and the typed mapPartitions batch shape a
  * production decoder (or a Pandas UDF via mapInPandas on PySpark) would
  * plug into.
  */
object Multimodal {

  /** m01: media inventory — metadata per media blob. The blob is the utf-8
    * encoding of the text (stand-in for real media bytes); the blob itself is
    * carried through the plan as a real BINARY column but emitted as its md5
    * fingerprint so every output column is oracle-hashable (raw bytes and
    * float arrays are not comparable through the driver's pandas harness).
    */
  def m01MediaInventory(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .selectExpr("doc_id", "encode(text, 'UTF-8') AS media") // opaque binary column
      .selectExpr(
        "doc_id",
        "md5(media) AS media_md5", // content fingerprint of the blob
        "CAST(octet_length(media) AS BIGINT) AS n_bytes",
        // format tag from the content hash (deterministic fake container type)
        "CASE (instr('0123456789abcdef', substr(md5(media), 1, 1)) - 1) % 3 " +
          "WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webm' END AS format",
        // fake dimensions from hash nibbles (decode stub — no codec in sandbox)
        "CAST(16 * (16 + (instr('0123456789abcdef', substr(md5(media), 2, 1)) - 1)) AS BIGINT) AS width",
        "CAST(16 * (9 + (instr('0123456789abcdef', substr(md5(media), 3, 1)) - 1)) AS BIGINT) AS height")
      .orderBy(col("doc_id"))

  val m01Sql: String =
    """SELECT doc_id, md5(text) AS media_md5,
      |  octet_length(encode(text)) AS n_bytes,
      |  CASE (instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) % 3
      |    WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webm' END AS format,
      |  16 * (16 + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) AS width,
      |  16 * (9 + (instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1)) AS height
      |FROM documents ORDER BY doc_id""".stripMargin

  /** m02: frame sampling — a fake video of n_frames = n_chars frames sampled
    * every 30th frame, one output row per sampled frame with a content
    * fingerprint. Exercises the explode fan-out and per-frame keying a real
    * frame extractor uses.
    */
  def m02FrameSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // zero-frame media yields NO rows, like the oracle's series-join bound;
      // without the filter sequence(0, -1, 30) is an illegal Spark sequence
      // (start > stop with a positive step) and the whole query throws
      .filter(col("n_chars") >= 1)
      .selectExpr("doc_id", "text", "explode(sequence(CAST(0 AS BIGINT), n_chars - 1, CAST(30 AS BIGINT))) AS frame_idx")
      .selectExpr("doc_id", "frame_idx",
        "md5(concat(doc_id, ':', frame_idx, ':', text)) AS frame_fp")
      .orderBy(col("doc_id"), col("frame_idx"))

  val m02Sql: String =
    """WITH series AS (SELECT i FROM generate_series(0, 2048, 30) t(i))
      |SELECT doc_id, i AS frame_idx,
      |  md5(doc_id || ':' || i || ':' || text) AS frame_fp
      |FROM documents JOIN series ON i <= n_chars - 1
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Typed batch decode shape: the real plumbing a production decoder plugs
    * into — binary in, fixed-width float feature vector out, one decoder
    * instance per partition (mapPartitions), constant memory per batch.
    */
  case class MediaRow(doc_id: Long, media: Array[Byte])
  case class MediaFeature(doc_id: Long, feature: Array[Long])

  /** DECODE STUB: a real implementation would decode `media` with a codec
    * and run a feature extractor. The stub folds the raw bytes into a
    * deterministic 8-lane vector (lane k = sum of bytes at positions ≡ k
    * mod 8) — exact integer arithmetic so the vector is order-independent
    * and reproducible by the DuckDB oracle.
    */
  def decodeStub(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](8)
    var i = 0
    while (i < bytes.length) {
      out(i % 8) += (bytes(i) & 0xff).toLong
      i += 1
    }
    out
  }

  def m03FeatureExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media: Dataset[MediaRow] = Tables.documents(s, d)
      // the oracle's series join (i <= length(text)) emits rows only for
      // docs with at least one byte and a non-null text; match it here —
      // also keeps decodeStub from dereferencing a null media array
      .filter(col("text").isNotNull && length(col("text")) >= 1)
      .selectExpr("doc_id", "encode(text, 'UTF-8') AS media")
      .as[MediaRow]
    media.mapPartitions { it =>
      // one decoder instance per partition (real decoders are expensive to init)
      it.map(r => MediaFeature(r.doc_id, decodeStub(r.media)))
    }.toDF()
      // unpack lanes to scalar BIGINT columns: oracle-hashable output schema
      .selectExpr(Seq("doc_id") ++ (0 until 8).map(k => s"feature[$k] AS f$k"): _*)
      .orderBy(col("doc_id"))
  }

  // documents are ASCII (TESTDATA.md) so ascii(substr(...)) == byte value;
  // the 2048 series bound exceeds the corpus max text length (577 at sf0.1)
  val m03Sql: String = {
    val lanes = (0 until 8)
      .map(k => s"CAST(SUM(CASE WHEN (i - 1) % 8 = $k THEN ascii(substr(text, i, 1)) ELSE 0 END) AS BIGINT) AS f$k")
      .mkString(",\n      |  ")
    s"""WITH series AS (SELECT i FROM generate_series(1, 2048) t(i))
       |SELECT doc_id,
       |  $lanes
       |FROM documents JOIN series ON i <= length(text)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** m04: resize planning — aspect-preserving target dimensions for a
    * max-edge-224 thumbnail of every media blob, plus the fingerprint the
    * resized artifact would be stored under. The geometry math is the real
    * part (pure integer arithmetic, oracle-exact); producing the resized
    * bytes is the same codec stub boundary as m03 — a production resizer
    * plugs into the identical projection shape (or mapPartitions for a
    * native library). Dimensions come from m01's decode-stub metadata.
    */
  def m04ResizePlan(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .selectExpr("doc_id", "encode(text, 'UTF-8') AS media")
      .selectExpr(
        "doc_id", "md5(media) AS media_md5",
        "CAST(16 * (16 + (instr('0123456789abcdef', substr(md5(media), 2, 1)) - 1)) AS BIGINT) AS width",
        "CAST(16 * (9 + (instr('0123456789abcdef', substr(md5(media), 3, 1)) - 1)) AS BIGINT) AS height")
      .selectExpr("doc_id", "media_md5", "width", "height",
        "CASE WHEN width >= height THEN CAST(224 AS BIGINT) " +
          "ELSE greatest(CAST(1 AS BIGINT), (width * 224) DIV height) END AS target_w",
        "CASE WHEN width >= height THEN greatest(CAST(1 AS BIGINT), (height * 224) DIV width) " +
          "ELSE CAST(224 AS BIGINT) END AS target_h")
      .selectExpr("doc_id", "width", "height", "target_w", "target_h",
        "md5(concat(media_md5, ':', CAST(target_w AS STRING), 'x', CAST(target_h AS STRING))) AS resized_fp")
      .orderBy(col("doc_id"))

  val m04Sql: String =
    """WITH dims AS (
      |  SELECT doc_id, md5(text) AS media_md5,
      |    16 * (16 + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) AS width,
      |    16 * (9 + (instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1)) AS height
      |  FROM documents),
      |plan AS (
      |  SELECT doc_id, media_md5, width, height,
      |    CASE WHEN width >= height THEN 224
      |      ELSE greatest(1, (width * 224) // height) END AS target_w,
      |    CASE WHEN width >= height THEN greatest(1, (height * 224) // width)
      |      ELSE 224 END AS target_h
      |  FROM dims)
      |SELECT doc_id, width, height, target_w, target_h,
      |  md5(media_md5 || ':' || target_w || 'x' || target_h) AS resized_fp
      |FROM plan ORDER BY doc_id""".stripMargin

  /** m05: interleaved-span context alignment — attach every media_ref-bearing
    * inline span (wikilink / extlink / media) of the KG corpus to its nearest
    * PRECEDING textual-context span (text / ib_row) in the same document's
    * span sequence: the caption-alignment primitive of an interleaved
    * text+media training pipeline (a media span carries no text of its own;
    * its training context is the text flow it interrupts). Alignment is by
    * ARRAY POSITION, not offset — marker/metadata spans legitimately restart
    * offset at 0. Plan: the SHARED exploded-span leaf (KgPipeline.corpusSpans
    * — the nested spans-array parquet decode is the dominant cost and is paid
    * once per sf across kg14/m05/m06) → one running-last window per doc
    * (ignoreNulls) — no self-join; at 100 TB this is a single shuffle by
    * doc_id. The DuckDB oracle re-derives the alignment with a
    * max-preceding-position join over the NESTED aux dump instead of a
    * window, so the semantics are recomputed, not restated.
    */
  def m05SpanContextAlign(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = graft.KgPipeline.corpusSpans(s, d)
      .select(col("doc_id"), col("pos"), col("kind"), col("text"), col("media_ref"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1) // strictly preceding
    val ctx = struct(col("pos"), col("kind"), col("text"))
    sp.withColumn("ctx",
        last(when(col("kind").isin("text", "ib_row"), ctx), ignoreNulls = true).over(w))
      .filter(col("kind").isin("wikilink", "extlink", "media"))
      .selectExpr("doc_id", "pos", "kind", "media_ref",
        "ctx.pos AS ctx_pos", "ctx.kind AS ctx_kind", "ctx.text AS ctx_text")
      .orderBy(col("doc_id"), col("pos"))
  }

  val m05Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, spans FROM read_parquet('{AUX}/kg_corpus/*.parquet')),
      |series AS (SELECT i FROM generate_series(1, 4096) t(i)),
      |sp AS (
      |  SELECT doc_id, i AS pos, spans[i].kind AS kind, spans[i].text AS text,
      |    spans[i].media_ref AS media_ref
      |  FROM corpus JOIN series ON i <= len(spans)),
      |m AS (SELECT * FROM sp WHERE kind IN ('wikilink', 'extlink', 'media')),
      |c AS (SELECT doc_id, pos, kind, text FROM sp
      |      WHERE kind IN ('text', 'ib_row')),
      |best AS (
      |  SELECT m.doc_id, m.pos, MAX(c.pos) AS ctx_pos
      |  FROM m JOIN c ON m.doc_id = c.doc_id AND c.pos < m.pos
      |  GROUP BY m.doc_id, m.pos)
      |SELECT m.doc_id, m.pos, m.kind, m.media_ref,
      |  b.ctx_pos, c.kind AS ctx_kind, c.text AS ctx_text
      |FROM m
      |LEFT JOIN best b ON m.doc_id = b.doc_id AND m.pos = b.pos
      |LEFT JOIN c ON b.doc_id = c.doc_id AND b.ctx_pos = c.pos
      |ORDER BY m.doc_id, m.pos""".stripMargin

  /** m06: cross-document media/link-asset dedup — for every span that
    * carries a media_ref (media, wikilink, extlink), how many documents and
    * occurrences reuse the same ref, with the canonical owner (min doc_id).
    * The asset-dedup primitive of an interleaved corpus at 100 TB: repeated
    * images/anchors are fetched, decoded and stored ONCE, keyed exactly by
    * this table (the same shape content-hash dedup takes when bytes are
    * available — the ref plays the hash's role here). Plan: the shared
    * exploded-span leaf (KgPipeline.corpusSpans — decode paid once per sf),
    * one (kind, ref)-keyed aggregate — countDistinct folds map-side via
    * partial two-phase agg; no joins.
    */
  def m06MediaDedup(s: SparkSession, d: String): DataFrame = {
    graft.KgPipeline.corpusSpans(s, d)
      .filter(col("media_ref").isNotNull)
      .select(col("doc_id"), col("kind"), col("media_ref"))
      .groupBy(col("kind"), col("media_ref"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("rep_doc_id"))
      .orderBy(col("kind"), col("media_ref"))
  }

  val m06Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, spans FROM read_parquet('{AUX}/kg_corpus/*.parquet')),
      |series AS (SELECT i FROM generate_series(1, 4096) t(i)),
      |sp AS (
      |  SELECT doc_id, spans[i].kind AS kind, spans[i].media_ref AS media_ref
      |  FROM corpus JOIN series ON i <= len(spans))
      |SELECT kind, media_ref,
      |  COUNT(DISTINCT doc_id) AS n_docs,
      |  COUNT(*) AS n_occurrences,
      |  MIN(doc_id) AS rep_doc_id
      |FROM sp WHERE media_ref IS NOT NULL
      |GROUP BY kind, media_ref
      |ORDER BY kind, media_ref""".stripMargin

  /** m07: span-aware SEQUENCE PACKING over the interleaved corpus — the
    * operation that turns interleaved text+media documents into fixed-budget
    * training sequences. Differs from x02 (whole-doc, whitespace-token,
    * per-lang) in exactly the ways an interleaved corpus demands: the packing
    * unit is the SPAN (documents larger than the budget split at span
    * boundaries, never mid-span), costs are MODALITY-WEIGHTED (text/ib_row
    * spans cost their whitespace tokens; media placeholders a fixed 64;
    * link anchors 16; structural markers 1 control token), and the stream is
    * partitioned by MONTH (the corpus' natural shard key). The running token
    * sum is a plans.PrefixScan with the document as bucket, so no window
    * task ever sorts more than one document's spans, and the boundary rule
    * (seq = tokens-before DIV budget) is the same streaming-pack rule x02
    * uses, overflowing by at most one span.
    * Output: per-sequence composition stats (the shard-manifest row a
    * training loader reads). Oracle: identical window+aggregate recomputed
    * by DuckDB over the NESTED aux dump.
    */
  val SeqBudget = 512

  private val spanCostSql: String =
    """CASE WHEN kind IN ('text', 'ib_row')
      |  THEN greatest(CAST(1 AS BIGINT),
      |                CAST(size(split(COALESCE(text, ''), ' ')) AS BIGINT))
      |WHEN kind = 'media' THEN CAST(64 AS BIGINT)
      |WHEN media_ref IS NOT NULL THEN CAST(16 AS BIGINT)
      |ELSE CAST(1 AS BIGINT) END""".stripMargin.replace('\n', ' ')

  def m07SequencePacking(s: SparkSession, d: String): DataFrame = {
    val sp = graft.KgPipeline.corpusSpans(s, d)
      .selectExpr("substr(doc_id, 5, 7) AS month", "doc_id", "pos",
        "kind", "media_ref", s"$spanCostSql AS cost")
    graft.plans.PrefixScan.exclusiveSum(sp, Seq("month"), bucket = "doc_id",
        order = "pos", value = "cost", as = "cum_before")
      .selectExpr("month", "doc_id", "pos", "kind", "media_ref", "cost",
        s"cum_before DIV $SeqBudget AS seq_idx")
      .groupBy(col("month"), col("seq_idx"))
      .agg(
        count(lit(1)).as("n_spans"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("cost")).as("n_tokens"),
        sum(when(col("kind").isin("text", "ib_row"), col("cost"))
          .otherwise(lit(0L))).as("text_tokens"),
        sum(when(col("media_ref").isNotNull, col("cost"))
          .otherwise(lit(0L))).as("media_tokens"))
      .orderBy(col("month"), col("seq_idx"))
  }

  val m07Sql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, spans FROM read_parquet('{AUX}/kg_corpus/*.parquet')),
       |series AS (SELECT i FROM generate_series(1, 4096) t(i)),
       |sp AS (
       |  SELECT substr(doc_id, 5, 7) AS month, doc_id, i AS pos,
       |    spans[i].kind AS kind, spans[i].media_ref AS media_ref,
       |    CASE WHEN spans[i].kind IN ('text', 'ib_row')
       |      THEN greatest(1, len(string_split(COALESCE(spans[i].text, ''), ' ')))
       |    WHEN spans[i].kind = 'media' THEN 64
       |    WHEN spans[i].media_ref IS NOT NULL THEN 16
       |    ELSE 1 END AS cost
       |  FROM corpus JOIN series ON i <= len(spans)),
       |packed AS (
       |  SELECT month, doc_id, pos, kind, media_ref, cost,
       |    COALESCE(SUM(cost) OVER (PARTITION BY month ORDER BY doc_id, pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM sp)
       |SELECT month, CAST(cum_before // $SeqBudget AS BIGINT) AS seq_idx,
       |  COUNT(*) AS n_spans,
       |  COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM(cost) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN kind IN ('text', 'ib_row') THEN cost ELSE 0 END) AS BIGINT) AS text_tokens,
       |  CAST(SUM(CASE WHEN media_ref IS NOT NULL THEN cost ELSE 0 END) AS BIGINT) AS media_tokens
       |FROM packed
       |GROUP BY month, seq_idx
       |ORDER BY month, seq_idx""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m07_sequence_packing" -> (m07SequencePacking _),
    "m06_media_dedup" -> (m06MediaDedup _),
    "m01_media_inventory" -> (m01MediaInventory _),
    "m02_frame_sample" -> (m02FrameSample _),
    "m03_feature_extract" -> (m03FeatureExtract _),
    "m04_resize_plan" -> (m04ResizePlan _),
    "m05_span_context_align" -> (m05SpanContextAlign _))

  def oracleSql: Map[String, String] = Map(
    "m07_sequence_packing" -> m07Sql,
    "m01_media_inventory" -> m01Sql,
    "m02_frame_sample" -> m02Sql,
    "m03_feature_extract" -> m03Sql,
    "m04_resize_plan" -> m04Sql,
    "m05_span_context_align" -> m05Sql,
    "m06_media_dedup" -> m06Sql)
}
