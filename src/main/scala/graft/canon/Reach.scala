package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.FixedPoint

/** Downward reachability closure over a (child, parent) edge list: every
  * node reachable from `seed` by repeatedly following parent→child edges.
  * Used by the kg04 isOccuringDuring closure (create_event_map.py-family
  * queries walk the topic nesting to fixpoint).
  *
  * Runs to FIXPOINT — `maxRounds` is a loud data-corruption guard, not a
  * silent truncation. Round 4 found the cost of the alternative: a fixed
  * 8-round cap (justified by "day-page nesting ≤ 4") silently dropped the
  * depth-9 tail of the sf0.1 topic graph — 3 nodes, one event, an
  * off-by-one in a monthly rollup that only a cross-SF oracle run caught.
  * Frontier rounds are O(closure diameter), run by plans.FixedPoint (one
  * checkpoint job per round, AQE off). Cycles cannot trip the guard: the
  * left_anti keeps every frontier strictly new, so a cyclic graph still
  * converges in <= |nodes| rounds — only a graph deeper than maxRounds can.
  */
object Reach {

  /** @param childParent two columns named (child, parent)
    * @param seed one column named node
    * @return one column `node`: the seed plus everything reachable below it
    */
  def closure(childParent: DataFrame, seed: DataFrame, maxRounds: Int = 64): DataFrame =
    FixedPoint.converge(childParent.sparkSession, "reach", maxRounds) {
      val s = seed.select(col("node")).localCheckpoint(true)
      (s, s)
    } { case ((reach, frontier), round) =>
      val next = childParent
        .join(frontier.withColumnRenamed("node", "parent"), Seq("parent"))
        .select(col("child").as("node")).distinct()
        .join(reach, Seq("node"), "left_anti")
      // accumulate as a UNION OF LEAVES (every `next` is already a
      // checkpointed leaf, so nothing recomputes); checkpoint the union
      // only every 8th round to bound plan width — r6: the former
      // per-round union checkpoint was one full job per round, a third
      // of the loop's job count, purely to re-materialize rows that
      // were all in blocks already
      FixedPoint.Round(next, leaf => {
        val r = reach.union(leaf)
        (if (round % 8 == 0) r.localCheckpoint(true) else r, leaf)
      })
    }._1
}
