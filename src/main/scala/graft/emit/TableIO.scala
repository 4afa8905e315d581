package graft.emit

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-shaped table semantics over partitioned parquet (SURVEY.md §7:
  * no Iceberg jar in the sandbox, so snapshot/manifest/REPLACE-WHERE are
  * implemented explicitly behind this small API; a real Iceberg catalog
  * drops in by replacing this object).
  *
  * Layout:
  *   table/
  *     data/<partCol>=<value>/...parquet     (one dir per partition value)
  *     _manifests/manifest-<epoch>.json      (snapshot: committed partitions
  *                                            + row counts + lineage metrics)
  *     _manifests/CURRENT                    (atomic pointer, rename-commit)
  *
  * Guarantees:
  *  - commit is atomic: data lands partition-by-partition, then one rename
  *    flips CURRENT → readers never see a half-written snapshot;
  *  - REPLACE WHERE: rewriting a partition replaces exactly that partition;
  *  - resume: `uncommitted(keys)` anti-joins the work list against the
  *    current snapshot so a killed job restarts from the last commit
  *    (reference analogue: skip-month-if-exists gate, __main__.py:286).
  */
object TableIO {

  case class PartitionMeta(key: String, rows: Long, files: Int,
      metrics: Map[String, Long] = Map.empty)
  case class Manifest(snapshotId: Long, partitions: Map[String, PartitionMeta])

  // write-exchange salt buckets per partition value, and the file-size
  // bound within one task (see replacePartitions)
  private val SaltsPerPartition = 4
  private val MaxRecordsPerFile = 5000000L

  private def manifestDir(table: String): Path = Paths.get(table, "_manifests")
  private def dataDir(table: String): Path = Paths.get(table, "data")

  def currentManifest(table: String): Manifest = {
    val cur = manifestDir(table).resolve("CURRENT")
    if (!Files.exists(cur)) Manifest(0L, Map.empty)
    else readManifest(manifestDir(table).resolve(Files.readString(cur).trim))
  }

  private def readManifest(p: Path): Manifest = {
    // minimal line-oriented format: snapshotId then one line per partition
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
    val sid = lines.head.toLong
    val parts = lines.tail.map { l =>
      val f = l.split("\t", -1)
      val metrics =
        if (f.length > 3 && f(3).nonEmpty)
          f(3).split(";").map { kv =>
            val Array(k, v) = kv.split("=", 2); k -> v.toLong
          }.toMap
        else Map.empty[String, Long]
      f(0) -> PartitionMeta(f(0), f(1).toLong, f(2).toInt, metrics)
    }.toMap
    Manifest(sid, parts)
  }

  private def writeManifest(table: String, m: Manifest): Unit = {
    val dir = manifestDir(table)
    Files.createDirectories(dir)
    val name = s"manifest-${m.snapshotId}"
    val body = (Seq(m.snapshotId.toString) ++
      m.partitions.values.toSeq.sortBy(_.key)
        .map { p =>
          val ms = p.metrics.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")
          s"${p.key}\t${p.rows}\t${p.files}\t$ms"
        }).mkString("\n")
    val tmp = dir.resolve(name + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    val curTmp = dir.resolve("CURRENT.tmp")
    Files.writeString(curTmp, name)
    // the atomic rename IS the commit
    Files.move(curTmp, dir.resolve("CURRENT"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Partition keys in the work list that the current snapshot has not
    * committed yet — the resume anti-join.
    */
  def uncommitted(table: String, keys: Seq[String]): Seq[String] = {
    val done = currentManifest(table).partitions.keySet
    keys.filterNot(done.contains)
  }

  /** Skip-and-remember log (reference __main__.py:297-317 unparsed_months):
    * one line per failed month attempt. Append-only and OUTSIDE the snapshot
    * commit — a failed month stays uncommitted (so the next run retries it);
    * this log only records that, and why, it was skipped.
    */
  def recordUnparsed(table: String, monthKey: String, reason: String): Unit = {
    val dir = manifestDir(table)
    Files.createDirectories(dir)
    val line = s"$monthKey\t${reason.replaceAll("[\\r\\n\\t]+", " ").take(500)}\n"
    Files.writeString(dir.resolve("unparsed-months.log"), line,
      StandardCharsets.UTF_8,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** (monthKey, reason) per recorded skip, in append order. */
  def unparsedMonths(table: String): Seq[(String, String)] = {
    val f = manifestDir(table).resolve("unparsed-months.log")
    if (!Files.exists(f)) Seq.empty
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t')
        if (i < 0) (l, "") else (l.substring(0, i), l.substring(i + 1))
      }
  }

  /** REPLACE-WHERE write: materialize exactly the given partitions of `df`
    * (partitioned by `partCol`), replacing any previous version of those
    * partitions, then commit a new snapshot covering old ∪ new. Lineage
    * metrics are recorded per partition in the manifest: the row count plus
    * whatever counters `metricsFn` derives from the slice. Both read the
    * partition files the write just produced (only the keys it rewrote, with
    * `partCol` typed as in `df`), so `df` is computed once, by the write, and
    * no slice-sized cache is held.
    *
    * @param rowsMetric a counter of `metricsFn` that is the key's row count;
    *   when given, the manifest's row count is read from it, so the written
    *   rows are aggregated once (by `metricsFn`) instead of twice. A
    *   rewritten key without it fails the commit.
    */
  def replacePartitions(spark: SparkSession, table: String, df: DataFrame,
      partCol: String, keys: Seq[String],
      metricsFn: DataFrame => Map[String, Map[String, Long]] = _ => Map.empty,
      rowsMetric: Option[String] = None): Manifest = {
    val prev = currentManifest(table)
    // Write-exchange spec: partition value PLUS a bounded salt. Keying the
    // exchange by the partition column alone puts one date on ONE task and
    // ONE file — at 100 TB a hot date serializes on a single core and emits
    // a multi-GB file. The salt spreads each date over up to
    // SaltsPerPartition tasks (hash of the payload columns, so the spread is
    // even), and MaxRecordsPerFile bounds file sizes within a task. Small
    // dates still produce 1 file (empty salt buckets write nothing).
    val spark0 = df.sparkSession
    val payloadCols = df.columns.filterNot(_ == partCol).map(col)
    val slice = df.filter(col(partCol).isin(keys: _*))
      // align the write exchange with the partition spec (+ bounded salt); the
      // explicit width keeps AQE from coalescing the salt buckets of a small
      // slice back into one task
      .repartition(spark0.conf.get("spark.sql.shuffle.partitions").toInt,
        col(partCol), pmod(hash(payloadCols: _*), lit(SaltsPerPartition)))
    def partDir(k: String): Path = dataDir(table).resolve(s"$partCol=$k")
    def parquetFiles(k: String): Set[String] =
      if (!Files.isDirectory(partDir(k))) Set.empty
      else {
        val s = Files.list(partDir(k))
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
        finally s.close()
      }
    val before = keys.map(k => k -> parquetFiles(k)).toMap
    slice.write
      .mode(SaveMode.Overwrite)
      .partitionBy(partCol)
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .parquet(dataDir(table).toString)
    // dynamic overwrite replaces the directory of every key that got rows
    // with files named after this write's job id, and leaves untouched any
    // requested key that had no rows this time: a key was rewritten iff its
    // file set changed. Drop the stale directories so snapshot and data
    // agree.
    val rewritten = keys.map(k => k -> parquetFiles(k))
      .filter { case (k, fs) => fs.nonEmpty && fs != before(k) }.toMap
    for (k <- keys if !rewritten.contains(k) && Files.exists(partDir(k)))
      Files.walk(partDir(k)).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    val (counts, lineage) =
      if (rewritten.isEmpty) (Map.empty[String, Long], Map.empty[String, Map[String, Long]])
      else {
        val written = spark0.read.schema(df.schema)
          .option("basePath", dataDir(table).toString)
          .parquet(keys.filter(rewritten.contains).map(partDir(_).toString): _*)
        val lineage = metricsFn(written)
        val counts = rowsMetric match {
          case Some(m) => rewritten.keys.map(k =>
            k -> lineage.getOrElse(k, Map.empty[String, Long])(m)).toMap
          case None => written.groupBy(partCol).count().collect()
            .map(r => r.get(0).toString -> r.getLong(1)).toMap
        }
        (counts, lineage)
      }
    val newParts = keys.map { k =>
      k -> PartitionMeta(k, counts.getOrElse(k, 0L), rewritten.get(k).fold(0)(_.size),
        lineage.getOrElse(k, Map.empty))
    }.toMap
    val m = Manifest(prev.snapshotId + 1, prev.partitions ++ newParts)
    writeManifest(table, m)
    m
  }

  /** Subject-level graph-consistency compaction — the GCK cascade analogue
    * (reference graphConsistencyKeeper.py:116-477): after re-emitting the
    * partitions `newKeys`, every subject re-emitted there has ONE current
    * version (its payload rows in the new partitions). Copies of those
    * subjects under OTHER partitions that disagree with the current version
    * are stale — an article whose enrichment changed between runs must not
    * keep its old name/sameAs/WKT under the event dates that were not re-run.
    * This job anti-joins them out and rewrites exactly the affected
    * partitions (REPLACE WHERE), committing a new snapshot.
    *
    * "Disagrees" is scoped per re-asserted (subj, pred): a copy is stale only
    * when the new version RE-ASSERTS that predicate for that subject with a
    * different object set. Predicates the re-run did not emit for the subject
    * are left alone — per-mention emission legitimately varies with context
    * (an article mentioned as a topic carries place triples its event-link
    * mention does not), and the cascade must not delete assertions it cannot
    * re-derive.
    *
    * `subjectExpr` scopes WHICH re-emitted subjects have global version
    * semantics — the reference GCK cascades per entity type, and only
    * enrichment-derived entities (articles, places, OSM elements) have one
    * current version; topic/event subjects carry legitimately per-date
    * assertions (parents, labels seen that day) and must not be compacted.
    * `exemptExpr` additionally marks per-partition assertions that each
    * partition OWNS even on versioned subjects (e.g. the KG's
    * hasMentionDate triples, whose object is the partition's own date).
    *
    * Scale shape: one committed-table scan; a semi join on subj + an anti
    * join on the payload (both shuffle-partitioned on their keys, broadcast
    * when the re-run slice is small); only partitions that actually contain
    * stale rows are rewritten.
    */
  def compactSubjects(spark: SparkSession, table: String, partCol: String,
      newKeys: Seq[String], subjectExpr: String = "true",
      exemptExpr: String = "false"): Manifest = {
    val all = read(spark, table, partCol)
      // partition-column type inference may read dates as DATE; the rewrite
      // must round-trip the exact string keys
      .withColumn(partCol, col(partCol).cast("string"))
    val payload = all.columns.filterNot(_ == partCol).toSeq
    val current = all.filter(col(partCol).isin(newKeys: _*))
      .select(payload.map(col): _*).distinct()
    val subjects = current.filter(expr(subjectExpr))
      .select(col("subj")).distinct()
    // payload comparison must be NULL-SAFE (obj_lang/obj_dtype are null for
    // IRIs) — a plain using-columns join would treat every null-bearing row
    // as non-matching and delete legitimate copies. The renamed projection
    // also severs the self-join lineage.
    val curCmp = current.select(payload.map(c => col(c).as(s"__cur_$c")): _*)
    def payloadCond = payload.map(c => col(c) <=> col(s"__cur_$c")).reduce(_ && _)
    // (subj, pred) pairs the new version re-asserts — the cascade's scope
    val pairs = current.select(col("subj").as("__p_subj"), col("pred").as("__p_pred"))
      .distinct()
    // the stale-detection chain (table scan + two semi joins + null-safe
    // payload anti join) is the expensive half of compaction — materialize it
    // as a leaf ONCE: the affected-partition collect below reads blocks and
    // the keep-side anti join reuses them instead of recomputing the chain
    val stale = graft.plans.Caches.leaf(
      all.filter(!col(partCol).isin(newKeys: _*))
        .filter(!expr(exemptExpr))
        .join(subjects, Seq("subj"), "left_semi")
        .join(pairs,
          col("subj") === col("__p_subj") && col("pred") === col("__p_pred"),
          "left_semi")
        .join(curCmp, payloadCond, "left_anti"))
    try {
      // the affected-partition list is small by construction (bounded by the
      // table's partition count) — the only driver-side collect here
      val affected = stale.select(col(partCol)).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      if (affected.isEmpty) currentManifest(table)
      else {
        // keep = affected rows MINUS the stale rows (null-safe full-row anti
        // join: one complementary definition instead of re-deriving the keep
        // branches, so keep ∪ stale ≡ affected by construction)
        val allCols = all.columns.toSeq
        val staleCmp = stale.select(allCols.map(c => col(c).as(s"__st_$c")): _*)
        val affRows = all.filter(col(partCol).isin(affected: _*))
        // leaf-materialize the keep side BEFORE the rewrite: replacePartitions'
        // dynamic overwrite replaces the very partition directories this plan
        // reads. A lazy `kept` would make the write read its own target, and
        // be correct only because dynamic overwrite defers the replacement
        // to job commit (a static overwrite deletes first, which is why Spark
        // refuses such table inserts). Materializing severs the
        // read-from-overwritten-source cycle.
        val kept = graft.plans.Caches.leaf(affRows.join(staleCmp,
          allCols.map(c => col(c) <=> col(s"__st_$c")).reduce(_ && _), "left_anti"))
        // carry the affected partitions' lineage metrics forward: they describe
        // the original month build (timings, parse errors, emit counters) and
        // compaction must not erase that history; rows/files are re-counted
        // from the rewritten layout by replacePartitions itself
        val prevMeta = currentManifest(table).partitions
        try replacePartitions(spark, table, kept, partCol, affected,
          metricsFn = _ => affected.map(k =>
            k -> prevMeta.get(k).map(_.metrics).getOrElse(Map.empty[String, Long])).toMap)
        finally graft.plans.Caches.free(kept)
      }
    } finally graft.plans.Caches.free(stale)
  }

  /** Read the committed snapshot (only partitions listed in the manifest). */
  def read(spark: SparkSession, table: String, partCol: String): DataFrame = {
    val m = currentManifest(table)
    require(m.partitions.nonEmpty, s"no committed snapshot in $table")
    spark.read.option("basePath", dataDir(table).toString)
      .parquet(dataDir(table).toString)
      .filter(col(partCol).isin(m.partitions.keySet.toSeq: _*))
  }
}
