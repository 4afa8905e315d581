package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{Caches, SessionCache}
import graft.queries.{Dedup, Similarity}

/** One release path: the two driver hooks free every shared cache the
  * engine builds — KgPipeline's, Dedup's, Similarity's, and a cache that no
  * owner lists — and the edge cache's parquet dir, cycle after cycle.
  */
class ReleaseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  /** Ids of the RDDs that hold `df`'s materialized data: the RDD behind a
    * checkpoint leaf, or the column buffers of a persisted frame.
    */
  private def heldRdds(df: DataFrame): Set[Int] =
    (df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id } ++
      df.queryExecution.withCachedData.collect {
        case m: InMemoryRelation => m.cacheBuilder.cachedColumnBuffers.id
      }).toSet

  private def edgeDirs(df: DataFrame): Seq[java.io.File] =
    df.queryExecution.analyzed.collect {
      case r: LogicalRelation => r.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
    }.flatten.map(p => new java.io.File(p.toUri.getPath))

  test("KgPipeline.release + Dedup.release free every shared cache, two cycles") {
    val s = spark.newSession() // own cache keys
    val mine = new SessionCache[DataFrame]("release-spec", Caches.free)
    for (cycle <- 1 to 2) {
      val local = mine.get(s, sfDir)(Caches.leaf(s.range(100).toDF()))
      val cached = Seq(
        KgPipeline.triples(s, sfDir).toDF(), KgPipeline.enriched(s, sfDir).toDF(),
        KgPipeline.kg12MonthlyMetrics(s, sfDir), KgPipeline.corpusSpans(s, sfDir),
        KgPipeline.cooccurrence(s, sfDir), Dedup.prologue(s, sfDir).sigs,
        Dedup.prologue(s, sfDir).groups, Dedup.bandPairsLeaf(s, sfDir),
        Dedup.verifiedPairs(s, sfDir), Similarity.queries("s01_knn_brute")(s, sfDir),
        Similarity.queries("s02_ann_lsh")(s, sfDir), local)
      val rdds = cached.flatMap(heldRdds).toSet
      val dirs = edgeDirs(KgPipeline.edges(s, sfDir))
      assert(rdds.size >= cached.size, s"cycle $cycle: a cache holds no RDD: $rdds")
      assert(dirs.nonEmpty && dirs.forall(_.exists()))
      val stored = s.sparkContext.getRDDStorageInfo.map(_.id).toSet
      assert(rdds.subsetOf(stored), s"cycle $cycle: not materialized: ${rdds -- stored}")

      KgPipeline.release()
      Dedup.release()

      val left = s.sparkContext.getRDDStorageInfo.map(_.id).toSet & rdds
      assert(left.isEmpty, s"cycle $cycle: released caches still stored: $left")
      assert(dirs.forall(!_.exists()), s"cycle $cycle: edge-cache dir left: $dirs")
      var rebuilt = false
      mine.get(s, sfDir) { rebuilt = true; null }
      assert(rebuilt, s"cycle $cycle: the unlisted cache was not emptied")
    }
  }
}
