package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.SessionCache

/** `graft.cache.reliable=true` reaches every eager leaf: the shared caches,
  * the query-local leaves and the fixed-point loop rounds are reliable
  * checkpoints, the rows are the default mode's, and release leaves no
  * checkpoint file behind.
  */
class ReliableModeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  // g01 first: a CC loop over the documents table, with no shared cache
  private val names = Seq("g01_cc_chains", "kg04_closure_events_per_month",
    "kg08_canonical_clusters", "kg17_entity_pagerank", "d02_lsh_pairs",
    "sk05_hll_set_ops", "s01_knn_brute")

  test("reliable mode returns the default mode's rows; release deletes its checkpoint files") {
    val t0 = System.nanoTime()
    val s = spark.newSession() // session-local conf and cache keys
    s.conf.set("spark.sql.shuffle.partitions", "4") // fewer tasks and checkpoint files
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(s, sfDir).collect().map(_.toString).toSeq
    def files(dir: String): Seq[String] = {
      val p = new Path(dir)
      val it = p.getFileSystem(s.sparkContext.hadoopConfiguration).listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSeq
    }
    val default = names.map(n => n -> rows(n)).toMap
    val ownDir = s.sparkContext.getCheckpointDir.isEmpty
    assert(default.values.forall(_.nonEmpty))
    SessionCache.releaseAll() // reliable mode builds every shared cache anew
    s.conf.set("graft.cache.reliable", "true")
    s.conf.set("graft.cache.checkpointDir",
      java.nio.file.Files.createTempDirectory("graft_reliable_spec").toString)
    try {
      assert(rows(names.head) == default(names.head))
      val dir = s.sparkContext.getCheckpointDir
      assert(dir.exists(files(_).nonEmpty),
        "g01's leaves and CC rounds must be written as reliable checkpoints")
      names.tail.foreach(n => assert(rows(n) == default(n), n))
      SessionCache.releaseAll()
      assert(files(dir.get).isEmpty, "release must empty the context's checkpoint dir")
    } finally {
      SessionCache.releaseAll()
      // a context sets its checkpoint dir once, and a set dir shadows every
      // later spec's graft.cache.checkpointDir: leave the context as found
      if (ownDir) s.sparkContext.setCheckpointDir(null)
    }
    info(f"wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
