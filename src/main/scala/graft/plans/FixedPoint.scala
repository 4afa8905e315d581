package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit, when}

/** The one runner of the engine's iterative fixed-point loops: connected
  * components (canon.ConnectedComponents: kg08, g01, d11), the reachability
  * closure (canon.Reach: kg04), g02's BFS, g03's and kg17's PageRank and
  * g05's SSSP. A loop body owns its joins and aggregates; FixedPoint owns
  * everything around them:
  *
  *  - the AQE-off window. Each round's frames are tiny and already shaped,
  *    so AQE's per-stage barriers and replanning dominate the round cost
  *    (measured 4-6x, BENCH/BASELINE.md). Loops run at the session's
  *    shuffle width.
  *  - the eager leaf ([[Caches.leaf]], so under the session's leaf policy)
  *    of a round's result, which cuts lineage so the plan stays O(1) per
  *    round. A convergence loop's change count is observed
  *    (`Dataset.observe`) on that same checkpoint job, so seeing the
  *    fixpoint costs no extra job. The count is only compared with 0, so a
  *    reliable checkpoint that computes the round twice changes nothing.
  *  - the round guard: at most `cap` productive rounds plus the confirming
  *    round that changes nothing. A loop that needs more fails loudly and
  *    names itself; it never returns a truncated result.
  *  - the round count, written to [[Meters]] as `<name>.rounds`.
  */
object FixedPoint {

  /** One round of a convergence loop. `frame` is the round's result; the
    * loop checkpoints it and counts its rows where `changed` holds (every
    * row by default: a delta frame). A round that changed no row is the
    * confirming round and ends the loop with the state before it; otherwise
    * `next` builds the following state from the checkpointed leaf.
    */
  final case class Round[S](frame: DataFrame, next: DataFrame => S,
      changed: Column = lit(true))

  /** Runs `round` from `init` until a round changes no row. `round` gets the
    * state and the 1-based round number. `countConfirming` says whether the
    * meter counts the confirming round too (connected components has always
    * counted it; the delta loops count productive rounds only).
    */
  def converge[S](spark: SparkSession, name: String, cap: Int,
      countConfirming: Boolean = false)(init: => S)(round: (S, Int) => Round[S]): S =
    withoutAqe(spark) {
      var state = init
      var rounds = 0
      var done = false
      while (!done) {
        rounds += 1
        val r = round(state, rounds)
        val seen = Observation()
        val leaf = Caches.leaf(
          r.frame.observe(seen, count(when(r.changed, lit(1))).as("changed")))
        if (seen.get("changed") == 0L) done = true
        else {
          require(rounds <= cap, s"fixed-point loop '$name' did not converge " +
            s"within $cap productive rounds plus the confirming round; refusing " +
            "to return a truncated closure")
          state = r.next(leaf)
        }
      }
      Meters.set(s"$name.rounds", if (countConfirming) rounds else rounds - 1)
      state
    }

  /** Runs `round` exactly `rounds` times from `init` (a loop with a fixed
    * iteration count, PageRank's power iterations). It checkpoints every
    * SECOND round and the last (r6): plans stay two rounds deep, and the
    * same arithmetic runs in half the materialization barriers — at local
    * scale each eager checkpoint is a full job whose scheduling floor
    * dominates the tiny per-round frames.
    */
  def iterate(spark: SparkSession, name: String, rounds: Int)
      (init: => DataFrame)(round: DataFrame => DataFrame): DataFrame =
    withoutAqe(spark) {
      var state = init
      for (i <- 1 to rounds) {
        state = round(state)
        if (i % 2 == 0 || i == rounds) state = Caches.leaf(state)
      }
      Meters.set(s"$name.rounds", rounds)
      state
    }

  // Session conf is shared mutable state: two overlapping windows would
  // corrupt each other's save/restore, so windows are serialized PER
  // SESSION (a global lock would also serialize unrelated sessions). The
  // lock is reentrant, so a loop nested in another on one thread is fine.
  // Residual: unrelated queries submitted on the same session during a
  // window plan without AQE, a perf-only effect.
  private val locks =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.locks.ReentrantLock]()
  private def lockFor(s: SparkSession) = locks.synchronized {
    var l = locks.get(s)
    if (l == null) { l = new java.util.concurrent.locks.ReentrantLock(); locks.put(s, l) }
    l
  }

  private def withoutAqe[A](spark: SparkSession)(f: => A): A = {
    val k = "spark.sql.adaptive.enabled"
    val lock = lockFor(spark)
    // a loop can run long, and a cross-thread wait cycle must degrade, not
    // deadlock: on timeout the window runs without the conf swap (AQE state
    // inherited, perf-only) and says so in the log
    if (!lock.tryLock(60, java.util.concurrent.TimeUnit.SECONDS)) {
      System.err.println("[graft] FixedPoint: lock timeout after 60s — " +
        "running this loop WITHOUT the AQE swap (AQE state inherited)")
      return f
    }
    try {
      val prev = spark.conf.getOption(k)
      spark.conf.set(k, "false")
      try f
      finally prev match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    } finally lock.unlock()
  }
}
