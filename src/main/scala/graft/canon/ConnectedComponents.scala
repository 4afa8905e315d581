package graft.canon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components over a DataFrame edge list — the
  * canonicalization pass of the KG pipeline (merges aliased entities via
  * owl:sameAs / shared-URI edges before triple materialization; SURVEY.md §4
  * item 2). GraphFrames is not on the classpath, so this is a hand-rolled
  * min-label propagation with pointer jumping (path doubling), which
  * converges in O(log diameter) rounds — a 50-node chain closes in ~6
  * rounds, not 50.
  *
  * Scale design: each round is two hash-shuffles on the node id (one
  * neighbor-min aggregation, one self-join for the pointer jump);
  * `localCheckpoint` cuts lineage each round so plans don't grow; AQE
  * handles skewed high-degree components.
  */
object ConnectedComponents {

  /** @param edges two-column DataFrame (src, dst), any orientation, any type
    *              with a total order (long/string).
    * @return (node, component) where component = min node id in the component.
    */
  def run(edges: DataFrame, maxIter: Int = 30): DataFrame =
    // per-round frames are tiny and re-planned every iteration: AQE's stage
    // barriers would multiply the round latency 4-6x (graft.plans.Aqe)
    graft.plans.Aqe.without(edges.sparkSession)(runLoop(edges, maxIter))

  private def runLoop(edges: DataFrame, maxIter: Int): DataFrame = {
    val src = edges.columns(0)
    val dst = edges.columns(1)
    // the symmetrized edge list feeds every round — persist it once
    val sym = edges.select(col(src).as("u"), col(dst).as("v"))
      .union(edges.select(col(dst).as("u"), col(src).as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var assign: DataFrame = null
    var converged = false
    var it = 0
    // finally: a failed round job must not leave the edge list cached for
    // the session (same failure-path hygiene as the other cache builders)
    try {
      // init: component = min(self, direct neighbors); every node appears as
      // `u` in the symmetrized edge list.
      assign = sym.groupBy(col("u").as("node"))
        .agg(min(col("v")).as("mv"))
        .select(col("node"), least(col("node"), col("mv")).as("comp"))
        .localCheckpoint(eager = true)

      // maxIter + 1 total rounds: convergence is only OBSERVED by the
      // no-change round after the last productive one, so a labeling that
      // needs exactly maxIter productive rounds must get its confirming round
      // instead of being rejected at the boundary (same off-by-one class as
      // Reach.closure's productive-round guard)
      while (!converged && it < maxIter + 1) {
        // 1-hop propagation: comp'(n) = min(comp(n), min_{v∈N(n)} comp(v));
        // the previous assignment rides along so convergence is a filter on
        // the checkpointed result, not a join + recompute
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
          .localCheckpoint(eager = true)
        converged = jump.filter(col("comp") =!= col("prev")).limit(1).isEmpty
        assign = jump.select(col("node"), col("comp"))
        it += 1
      }
    } finally sym.unpersist(blocking = false)
    graft.plans.Meters.set("cc.rounds", it.toLong)
    // pointer jumping halves the tree height per round: 30 rounds cover any
    // component with diameter < 2^30. If we ever DO hit the cap, the
    // assignment is not a fixpoint — refuse to return it silently (same
    // policy as Reach.closure; a truncated closure cost kg04 an oracle row)
    require(converged, s"ConnectedComponents did not converge in ${maxIter + 1} " +
      s"pointer-jumping rounds (maxIter=$maxIter productive + the confirming " +
      "round) — diameter beyond what pointer jumping covers at this cap, or a " +
      "livelock; refusing to return a non-fixpoint labeling")
    assign
  }
}
