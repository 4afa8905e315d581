package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.Dataset
import scala.util.control.NonFatal

/** The one materialization policy for eager leaves: the only place in the
  * engine that checkpoints a frame or frees one.
  *
  * A leaf truncates lineage to one scan of materialized blocks. Long-lived
  * shared caches (the triple table, the enriched-article frame) must be
  * leaves: consumers embed up to ~8 copies, and an un-truncated lineage
  * costs O(copies × plan size) of eager re-analysis per query (see the
  * spark-bench-protocol notes / BENCH/BASELINE.md). Query-local frames that
  * feed several joins, and the rounds of [[FixedPoint]]'s loops, are leaves
  * for the same reason. (The edge projection is a leaf by construction: a
  * parquet scan, KgPipeline.edges.) Every one of them goes through [[leaf]],
  * so the policy reaches them all. Two ways to get a leaf:
  *
  *  - `localCheckpoint` (default): blocks live on executors, zero extra I/O.
  *    Correct in one local JVM; on a real cluster a lost executor makes the
  *    blocks unrecoverable MID-QUERY because the lineage is gone.
  *  - reliable `checkpoint` (conf `graft.cache.reliable=true`): blocks are
  *    written to `graft.cache.checkpointDir` (HDFS/object store on a
  *    cluster) and survive executor loss — the right setting at 100 TB,
  *    costing one write+read of the cached frame.
  *
  * Release: a shared leaf is freed by its [[SessionCache]] through [[free]];
  * [[SessionCache.releaseAll]] then empties the context's checkpoint
  * directory ([[clearCheckpoints]]), which is where reliable mode's
  * query-local leaves and loop rounds land. In default mode the context has
  * no checkpoint directory and release deletes no file.
  */
object Caches {

  /** Eagerly materialize `ds` as a leaf plan under the session's configured
    * cache-reliability policy.
    */
  def leaf[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    if (spark.conf.get("graft.cache.reliable", "false").toBoolean) {
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(
          spark.conf.get("graft.cache.checkpointDir",
            sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-checkpoints"))
      ds.checkpoint(eager = true)
    } else ds.localCheckpoint(eager = true)
  }

  /** Free everything a [[leaf]]-materialized frame holds. Dataset.unpersist
    * alone is a no-op on a checkpoint-backed leaf (the blocks belong to the
    * RDD behind the LogicalRDD, and reclamation would wait for driver GC), so
    * the checkpointed RDD is unpersisted explicitly; and in reliable mode the
    * ReliableCheckpointRDD's files are DELETED — Spark only garbage-collects
    * them under spark.cleaner.referenceTracking.cleanCheckpoints (default
    * false) and never at context stop, so without this each rebuild cycle
    * would grow the checkpoint store by a full copy of the cached frame.
    * Call only after every consumer of the frame has finished.
    */
  def free(ds: Dataset[_]): Unit = {
    ds.unpersist(blocking = false) // covers any persist-backed value
    val sc = ds.sparkSession.sparkContext
    ds.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach(p => delete(sc, new Path(p))) // reliable mode only
      case _ => ()
    }
  }

  /** Deletes every file under the context's checkpoint directory (Spark
    * names it per context, so no other context's files are touched). A
    * no-op when the context never set one, as in default mode.
    */
  private[plans] def clearCheckpoints(sc: SparkContext): Unit =
    sc.getCheckpointDir.foreach { d =>
      val dir = new Path(d)
      try dir.getFileSystem(sc.hadoopConfiguration).listStatus(dir)
        .foreach(s => delete(sc, s.getPath))
      catch { case NonFatal(_) => () }
    }

  private def delete(sc: SparkContext, p: Path): Unit =
    try p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
    catch { case NonFatal(_) => () }
}
