package graft.kg

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's input table (BASELINE.json input_hint / FIXTURES.md §1):
  * an Iceberg-shaped `documents(doc_id STRING, spans ARRAY<STRUCT<kind,
  * text, media_ref, offset>>)` table, stored as partitioned parquet with an
  * atomic commit marker. The synthetic corpus is rendered ONCE per scale
  * through this store; the pipeline then `spark.read`s it like any external
  * table — nested-column pruning, partition pruning on the resume path and
  * schema enforcement all happen at a real scan, exactly as they would
  * against a production Iceberg catalog (reference analogue: the month-page
  * fetch + local page cache, inputHtml.py:129-141).
  *
  * Partition layout: `part=<yyyy-mm-dd>` for day pages (the resume unit) and
  * `part=articles-<bucket>` hash buckets for article pages (so the article
  * scan parallelizes across files without a repartition).
  */
object CorpusStore {

  /** input_hint schema, enforced at read. */
  val spanType: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("text", StringType),
    StructField("media_ref", StringType),
    StructField("offset", IntegerType)))
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(spanType))))

  private val ArticleBuckets = 8
  private def scanSchema: StructType = documentsSchema.add(StructField("part", StringType))

  def dirFor(p: Synth.Params): String =
    s"target/corpus/m${p.months}-a${p.articles}-y${p.year}x${p.years}-d${p.density}"

  /** Render + write the corpus table if this scale's table is not committed
    * yet (atomic marker). Returns the table directory. Thread-safe within a
    * JVM; cross-JVM races are benign (same deterministic bytes).
    */
  def ensure(spark: SparkSession, p: Synth.Params): String = synchronized {
    val dir = dirFor(p)
    val marker = Paths.get(dir, "_GRAFT_CORPUS_OK")
    if (Files.exists(marker)) return dir
    import spark.implicits._

    val days = Synth.allDaysOf(p)
    val dayDf = spark.createDataset(days.indices.toSeq)
      .repartition(spark.sparkContext.defaultParallelism)
      .map { i =>
        val (y, m, d) = days(i)
        val doc = SpanCodec.dayDoc(p, Synth.day(p, m, d, y))
        (doc.doc_id, doc.spans, f"$y%04d-$m%02d-$d%02d")
      }
      .toDF("doc_id", "spans", "part")
    val artDf = spark.range(p.articles)
      .repartition(spark.sparkContext.defaultParallelism)
      .map { i =>
        val doc = SpanCodec.articleDoc(p, Synth.article(p, i.toInt))
        (doc.doc_id, doc.spans, s"articles-${Math.floorMod(i, ArticleBuckets.toLong)}")
      }
      .toDF("doc_id", "spans", "part")

    dayDf.unionByName(artDf)
      .repartition(col("part")) // one task → one file per partition dir
      .write.mode("overwrite").partitionBy("part")
      .parquet(s"$dir/data")
    val tmp = Paths.get(dir, "_GRAFT_CORPUS_OK.tmp")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, "ok")
    Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING) // the rename IS the commit
    dir
  }

  /** Scan the committed table with the input_hint schema asserted. The
    * returned frame carries the partition column for source-level pruning.
    * `parts` reads only those `part=<value>` directories, keeping `basePath`
    * so `part` stays a column: the planner lists just them instead of the
    * whole table root (a parallel listing job once the root holds more than
    * 32 directories). A requested part with no directory yields no rows.
    */
  def scan(spark: SparkSession, p: Synth.Params,
      parts: Option[Set[String]] = None): DataFrame = {
    val root = s"${ensure(spark, p)}/data"
    val paths = parts match {
      case Some(ps) => ps.toSeq.sorted.map(v => s"$root/part=$v")
        .filter(d => Files.isDirectory(Paths.get(d)))
      case None => Seq(root)
    }
    val df = spark.read.schema(scanSchema)
      .option("basePath", root)
      .parquet(paths: _*)
    val got = StructType(df.schema.fields.filter(_.name != "part"))
    require(got.sql == documentsSchema.sql,
      s"documents table drifted from the input_hint schema: ${got.sql}")
    df
  }
}
