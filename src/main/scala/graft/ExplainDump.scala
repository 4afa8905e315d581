package graft

import java.nio.file.{Files, Paths}

/** Plan-audit dump: `explain("formatted")` for the FULL query surface, one
  * text file per SparkEntry query. This is how the plan claims in
  * COVERAGE.md / BENCH/BASELINE.md are re-checkable without running anything:
  * `ReadSchema` shows column pruning reached the parquet scan, `PushedFilters`
  * shows predicate pushdown, `BroadcastHashJoin`/`SortMergeJoin` nodes show
  * which side broadcasts, and `Exchange` nodes count the shuffles.
  *
  * Iterative fixpoint queries (g01/g02/g03/g05, kg04, kg08, kg17) return their
  * final-round LEAF (a LogicalRDD), so the printed plan shows the readout
  * over that leaf, none of the per-round work — those dumps carry an explicit
  * header note and their plan story is the loop code plus the round-latency
  * notes in BENCH/BASELINE.md. They are dumped anyway so the archive is
  * complete (one file per query) and the READOUT plan stays diffable
  * round-over-round.
  *
  * Usage: `sbt 'runMain graft.ExplainDump /root/testdata/sf0.01 BENCH/plans'`;
  * extra args select specific queries instead of the full registry
  * (unknown names fail loudly). This is the ONE explain tool — it replaced
  * the stdout-only `graft.Explain`, which silently skipped unknown names and
  * had drifted on session config.
  */
object ExplainDump {

  /** Queries whose returned frame sits on a fixpoint-loop leaf: the dump is
    * the readout plan only (see scaladoc).
    */
  private val FixpointLeaves = Set(
    "g01_cc_chains", "g02_tree_depth", "g03_pagerank", "g05_sssp",
    "kg04_closure_events_per_month", "kg08_canonical_clusters",
    "kg17_entity_pagerank")

  /** Plan text that differs per process: the edge cache's directory
    * (`KgPipeline.edges`) and a lambda's class number and identity hash.
    * The dump shows fixed tokens instead, so an unchanged plan dumps the
    * same text run over run.
    */
  private val EdgeCacheDir = """file:[^\[\]\s,]*/graft-edge-cache/[^\[\]\s,]+""".r
  private val LambdaId = """\$Lambda\$\d+/0x\p{XDigit}+@\p{XDigit}+""".r
  private def maskProcessIds(plan: String): String =
    LambdaId.replaceAllIn(EdgeCacheDir.replaceAllIn(plan, "<edge-cache-dir>"), "\\$Lambda")

  private val FixpointNote =
    "NOTE: this query is an iterative fixpoint loop; the plan below is the\n" +
    "READOUT over the final-round localCheckpoint leaf (LogicalRDD). The\n" +
    "per-round join/agg plan lives in the loop body (see the query's source\n" +
    "and the round-latency notes in BENCH/BASELINE.md).\n\n"

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "BENCH/plans"
    // Bench's confs (AQE off), so the archive shows the plans the lap runs
    val spark = Lab.session()
    Files.createDirectories(Paths.get(outDir))
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    var failed = List.empty[String]
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"ExplainDump names a query that no longer exists: $name"))
      try {
        val plan = maskProcessIds(fn(spark, sfDir).queryExecution.explainString(mode))
        val note = if (FixpointLeaves(name)) FixpointNote else ""
        Files.writeString(Paths.get(s"$outDir/$name.txt"),
          s"== $name @ $sfDir ==\n\n$note$plan")
        println(s"[explain] wrote $outDir/$name.txt")
      } catch { case e: Throwable =>
        // delete any stale committed dump: README sells these files as
        // "checkable without running anything", so a plan from an older
        // commit masquerading as current is worse than a missing file
        Files.deleteIfExists(Paths.get(s"$outDir/$name.txt"))
        failed ::= name
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    KgPipeline.release()
    graft.queries.Dedup.release()
    spark.stop()
    if (failed.nonEmpty)
      sys.error(s"ExplainDump failed for: ${failed.reverse.mkString(", ")}")
  }
}
