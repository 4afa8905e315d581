package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{Caches, FixedPoint}

/** Distributed connected components over a DataFrame edge list — the
  * canonicalization pass of the KG pipeline (merges aliased entities via
  * owl:sameAs / shared-URI edges before triple materialization; SURVEY.md §4
  * item 2). GraphFrames is not on the classpath, so this is a hand-rolled
  * min-label propagation with pointer jumping (path doubling), which
  * converges in O(log diameter) rounds — a 50-node chain closes in ~6
  * rounds, not 50.
  *
  * Scale design: each round is two hash-shuffles on the node id (one
  * neighbor-min aggregation, one self-join for the pointer jump), run by
  * plans.FixedPoint (one checkpoint job per round, AQE off).
  */
object ConnectedComponents {

  /** @param edges two-column DataFrame (src, dst), any orientation, any type
    *              with a total order (long/string).
    * @param maxIter productive pointer-jumping rounds allowed: 30 cover any
    *              component with diameter < 2^30; a labeling that needs more
    *              fails loudly instead of returning a non-fixpoint.
    * @return (node, component) where component = min node id in the component.
    */
  def run(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val src = edges.columns(0)
    val dst = edges.columns(1)
    // the symmetrized edge list feeds every round — persist it once
    val sym = edges.select(col(src).as("u"), col(dst).as("v"))
      .union(edges.select(col(dst).as("u"), col(src).as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // finally: a failed round job must not leave the edge list cached for
    // the session (same failure-path hygiene as the other cache builders)
    try FixedPoint.converge(edges.sparkSession, "cc", maxIter, countConfirming = true)(
      // init: component = min(self, direct neighbors); every node appears as
      // `u` in the symmetrized edge list.
      Caches.leaf(sym.groupBy(col("u").as("node"))
        .agg(min(col("v")).as("mv"))
        .select(col("node"), least(col("node"), col("mv")).as("comp")))) { (assign, _) =>
      // 1-hop propagation: comp'(n) = min(comp(n), min_{v∈N(n)} comp(v));
      // the previous assignment rides along so the change count is observed
      // on the checkpointed result, not a join + recompute
      val viaNbr = sym.join(assign.withColumnRenamed("node", "v"), Seq("v"))
        .groupBy(col("u").as("node")).agg(min(col("comp")).as("nbr_comp"))
      val prop = assign.withColumnRenamed("comp", "prev")
        .join(viaNbr, Seq("node"), "left")
        .select(col("node"), col("prev"),
          least(col("prev"), coalesce(col("nbr_comp"), col("prev"))).as("comp"))
      // pointer jump: comp''(n) = comp'(comp'(n))  (comp'(m) <= m always)
      val jump = prop.as("x")
        .join(prop.select(col("node").as("comp"), col("comp").as("jcomp")).as("y"),
          Seq("comp"), "left")
        .select(col("node"), col("prev"),
          coalesce(col("jcomp"), col("comp")).as("comp"))
      FixedPoint.Round(jump, _.select(col("node"), col("comp")),
        changed = col("comp") =!= col("prev"))
    } finally sym.unpersist(blocking = false)
  }
}
