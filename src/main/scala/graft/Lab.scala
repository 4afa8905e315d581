package graft

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.{Pipeline, SequentialOracle, Synth}
import graft.plans.Meters
import graft.queries.Dedup

/** The dev measurement main, and the session builder every dev main shares.
  * It is not the measured lap; graft.Bench is.
  * Every measurement calls production code; none re-implements a chain.
  *
  * Subcommands (`time`, `d02`, `kg16` and `profile` read the sf dir named by
  * SPARK_GRAFT_SF_DIR):
  *
  *  - `time [queries…]`: the six shared caches built first, each on its own
  *    line, then per-query wall through the NOOP SINK
  *    (`write.format("noop")`), which computes every column of every row,
  *    unlike Bench's `.count()`. No names: every SparkEntry query.
  *  - `d02`: stage split of the shared dedup build (prologue, band pairs,
  *    verified pairs, d09, d11).
  *  - `kg16`: kg16's driver-side sequential oracle vs the full query.
  *  - `profile`: the KG build's stages (day scan, parse, enrichment, full
  *    tracked triple build) over the sf dir's Synth params.
  *  - `synth [root]`: growth document tables at 1×/2×/4×/8× the sf0.1
  *    corpus under `root` (default `target/growth`): docs1x … docs8x.
  *  - `docs <dir>…`: per documents dir, dedup candidate populations, query
  *    walls and loop round counts.
  *  - `kg <dir>…`: per KG sf dir (`Synth.paramsFor` scales sf0.2, sf0.4, …),
  *    the cache builds, chain-query walls and loop round counts.
  *
  * Each entry prints a progress line; the run ends with ONE JSON line:
  * per entry the wall, the rows it returned (when a count), and the input
  * bytes, executor CPU and executor run time summed over its tasks. A failed
  * entry does not stop the run: the main finishes, then exits non-zero
  * naming every failed entry. An unknown subcommand or query name fails
  * before any session starts.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sf dir> sbt 'runMain graft.Lab time'`.
  */
object Lab {

  /** Cores of a dev session: SPARK_GRAFT_CPUS, else the host's processors. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The dev session, on graft.Bench's confs: `cores` task slots and
    * shuffle partitions (fixed-point loops run at that width too), AQE off,
    * UTC, no UI. `extra` confs go on top.
    */
  def session(cores: Int = Lab.cores, extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val Subcommands = Set("time", "d02", "kg16", "profile", "synth", "docs", "kg")

  private val Usage = "usage: graft.Lab time [queries…] | d02 | kg16 | profile | " +
    "synth [root] | docs <dir>… | kg <dir>…"

  /** Rejects an unknown subcommand, an unknown query name or a missing dir
    * list. Needs no session.
    */
  def check(args: Seq[String]): Unit = {
    require(args.nonEmpty, Usage)
    val cmd = args.head
    require(Subcommands(cmd), s"unknown Lab subcommand: $cmd; $Usage")
    if (cmd == "time") {
      val unknown = args.tail.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    }
    if (cmd == "docs" || cmd == "kg")
      require(args.length > 1, s"Lab $cmd needs at least one dir; $Usage")
  }

  /** Per-label task totals: a job's stages take the label of the job
    * description it ran under. The listener bus is asynchronous, so the
    * label travels with the job, not with a driver-side variable.
    */
  private final class Meter extends SparkListener {
    private val stageLabel = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    // label -> (input bytes, executor CPU ns, executor run ms)
    val totals = mutable.Map.empty[String, Array[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .foreach(l => e.stageIds.foreach(stageLabel.put(_, l)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val label = stageLabel.get(e.stageId)
      val m = e.taskMetrics
      if (label != null && m != null) totals.synchronized {
        val t = totals.getOrElseUpdate(label, new Array[Long](3))
        t(0) += m.inputMetrics.bytesRead
        t(1) += m.executorCpuTime
        t(2) += m.executorRunTime
      }
    }
  }

  /** One run's labelled entries. */
  private final class Run(val spark: SparkSession) {
    private val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    private val walls = mutable.LinkedHashMap.empty[String, Double]
    private val rows = mutable.Map.empty[String, Long]
    private val counters = mutable.LinkedHashMap.empty[String, Long]
    private var failed = Vector.empty[String]

    /** Runs and records `f` as `label`; false when it failed. */
    def entry(label: String)(f: => Any): Boolean = {
      val sc = spark.sparkContext
      sc.setJobDescription(label)
      val t0 = System.nanoTime()
      try {
        val r = f
        val secs = (System.nanoTime() - t0) / 1e9
        walls(label) = secs
        r match { case n: Long => rows(label) = n; case _ => () }
        println(f"[lab] $label: $secs%.2f s" + rows.get(label).fold("")(n => s" ($n rows)"))
        true
      } catch { case NonFatal(e) =>
        failed :+= label
        System.err.println(s"[lab] $label failed: $e")
        false
      } finally sc.setJobDescription(null)
    }

    /** Records the loop round counter `meter` last set, as `name`: call it
      * only after the loop's entry succeeded, or it reads an older loop's.
      */
    def rounds(name: String, meter: String): Unit =
      Meters.get(meter).foreach { n => counters(name) = n; println(s"[lab] $name: $n") }

    /** Releases the shared caches, stops the session (which drains the
      * listener bus), prints the JSON line, and fails naming every failed
      * entry.
      */
    def finish(cmd: String, sf: Option[String]): Unit = {
      KgPipeline.release()
      Dedup.release()
      spark.stop()
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val es = walls.map { case (l, s) =>
        val t = meter.totals.getOrElse(l, new Array[Long](3))
        q(l) + s""":{"wall_s":$s,""" + rows.get(l).fold("")(n => s""""rows":$n,""") +
          s""""input_bytes":${t(0)},"cpu_s":${t(1) / 1e9},"run_s":${t(2) / 1e3}}"""
      }.mkString("{", ",", "}")
      val cs = counters.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
      println(s"""{"cmd":${q(cmd)},""" + sf.fold("")(d => s""""sf":${q(d)},""") +
        s""""cores":$cores,"total_s":${walls.values.sum},"entries":$es,""" +
        s""""rounds":$cs,"failed":${failed.map(q).mkString("[", ",", "]")}}""")
      if (failed.nonEmpty) sys.error(s"Lab $cmd failed for: ${failed.mkString(", ")}")
    }
  }

  def main(args: Array[String]): Unit = {
    check(args.toSeq)
    val cmd = args.head
    val sf =
      if (Set("time", "d02", "kg16", "profile")(cmd))
        Some(sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          throw new IllegalArgumentException(s"Lab $cmd reads SPARK_GRAFT_SF_DIR, which is unset")))
      else None
    val run = new Run(session())
    cmd match {
      case "time" => time(run, sf.get, args.tail.toSeq)
      case "d02" => d02(run, sf.get)
      case "kg16" => kg16(run, sf.get)
      case "profile" => profile(run, sf.get)
      case "synth" =>
        val root = args.lift(1).getOrElse("target/growth")
        for ((n, tag) <- Seq(5000 -> "docs1x", 10000 -> "docs2x",
            20000 -> "docs4x", 40000 -> "docs8x"))
          run.entry(s"synth_$tag")(synthDocs(run.spark, n, s"$root/$tag"))
      case "docs" => args.tail.foreach(growthDocs(run, _))
      case "kg" => args.tail.foreach(growthKg(run, _))
    }
    run.finish(cmd, sf)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time(run: Run, sf: String, names: Seq[String]): Unit = {
    val s = run.spark
    run.entry("cache_triples")(KgPipeline.triples(s, sf).count())
    run.entry("cache_edges")(KgPipeline.edges(s, sf).count())
    run.entry("cache_enriched")(KgPipeline.enriched(s, sf).count())
    run.entry("cache_metrics")(KgPipeline.kg12MonthlyMetrics(s, sf).count())
    run.entry("cache_corpus")(KgPipeline.corpusSpans(s, sf).count())
    run.entry("cache_cooc")(KgPipeline.cooccurrence(s, sf).count())
    val qs = SparkEntry.queries
    for (n <- if (names.nonEmpty) names else qs.keys.toSeq.sorted)
      run.entry(n)(noop(qs(n)(s, sf)))
  }

  private def d02(run: Run, sf: String): Unit = {
    val s = run.spark
    run.entry("d02_prologue")(Dedup.prologue(s, sf).sigs.count())
    run.entry("d02_band_pairs")(Dedup.bandPairsLeaf(s, sf).count())
    run.entry("d02_verified_pairs")(Dedup.d02LshPairs(s, sf).count())
    run.entry("d09_full")(Dedup.d09MinhashCalibration(s, sf).count())
    run.entry("d11_full")(Dedup.d11DupClusters(s, sf).count())
  }

  private def kg16(run: Run, sf: String): Unit = {
    run.entry("cache_triples")(KgPipeline.triples(run.spark, sf).count())
    run.entry("kg16_sequential_oracle")(
      SequentialOracle.expectedTriples(Synth.paramsFor(sf)).size.toLong)
    run.entry("kg16_full")(KgPipeline.kg16TripleParity(run.spark, sf).count())
  }

  private def profile(run: Run, sf: String): Unit = {
    val s = run.spark
    val p = Synth.paramsFor(sf)
    run.entry("day_docs")(Pipeline.dayDocs(s, p).count())
    run.entry("parse")(Pipeline.parsedDays(s, p).count())
    run.entry("enrich") {
      val (e, caches) = Pipeline.enrichedArticlesTracked(s, p)
      try e.count() finally caches.foreach(_.unpersist(blocking = true))
    }
    run.entry("triples") {
      val b = Pipeline.trackedBuild(s, p)
      try b.triples.count() finally b.releaseCaches()
    }
  }

  // the exact sf0.1 documents vocabulary (measured; see BENCH/BASELINE.md)
  private val vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** A documents table of `n` docs mirroring the measured sf0.1 statistics
    * (31-word vocab, uniform 10-100 tokens/doc, lang mix en .41 / others
    * ~.15, 20 sources, ~0.16% exact-dup rows), so the growth points are
    * self-similar; the 1× point cross-checks the generator against sf0.1.
    */
  def synthDocs(spark: SparkSession, n: Int, outDir: String): Unit = {
    import spark.implicits._
    val base = (0 until n).map { i =>
      val rnd = new scala.util.Random(42L * 1000003L + i)
      val nTok = 10 + rnd.nextInt(91)
      val text = Seq.fill(nTok)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val u = rnd.nextInt(1000)
      val lang = if (u < 412) "en" else if (u < 563) "zh"
        else if (u < 712) "es" else if (u < 860) "fr" else "de"
      (i.toLong, text, lang, s"src${rnd.nextInt(20)}")
    }
    val rows = base.map { case r @ (id, _, lang, src) =>
      val rnd = new scala.util.Random(7L * 999983L + id)
      if (id > 0 && rnd.nextInt(1000) < 2) // ~0.16% exact-dup injection
        (id, base(rnd.nextInt(id.toInt))._2, lang, src)
      else r
    }
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** One documents growth point: dedup candidate populations, full-query
    * walls, and the CC/SSSP round counts.
    */
  private def growthDocs(run: Run, dir: String): Unit = {
    val s = run.spark
    def e(name: String)(f: => Any): Boolean = run.entry(s"$dir:$name")(f)
    e("n_docs")(queries.Tables.documents(s, dir).count())
    e("d02_reps")(Dedup.prologue(s, dir).groups.count())
    e("d02_cand")(Dedup.boundedBandPairs(Dedup.prologue(s, dir).sigs).distinct().count())
    e("d02_full")(Dedup.d02LshPairs(s, dir).count())
    e("d06_cand")(Dedup.d06CandidateStage(s, dir).cand.count())
    e("d06_full")(Dedup.d06EmbeddingNeardup(s, dir).count())
    e("d08_distinct_grams")(Dedup.d08CandidateStage(s, dir).grams.select("g").distinct().count())
    e("d08_gram_rows")(Dedup.d08CandidateStage(s, dir).grams.count())
    e("d08_cand")(Dedup.d08CandidateStage(s, dir).cand.count())
    e("d08_full")(Dedup.d08NgramJaccard(s, dir).count())
    if (e("g01_full")(queries.Graph.queries("g01_cc_chains")(s, dir).count()))
      run.rounds(s"$dir:g01_cc_rounds", "cc.rounds")
    if (e("g05_full")(queries.Graph.queries("g05_sssp")(s, dir).count()))
      run.rounds(s"$dir:g05_sssp_rounds", "sssp.rounds")
    e("d10_full")(Dedup.d10DuplicateSpans(s, dir).count())
    if (e("d11_full")(Dedup.d11DupClusters(s, dir).count()))
      run.rounds(s"$dir:d11_cc_rounds", "cc.rounds")
    e("st06_full")(streaming.StreamingQueries.st06StreamPacking(s, dir).count())
    e("x02_full")(queries.TrainingMix.x02ShardPacking(s, dir).count())
    Dedup.release()
  }

  /** One KG growth point: cache builds, chain-query walls (two warm runs),
    * and the reach/CC/PageRank round counts.
    */
  private def growthKg(run: Run, dir: String): Unit = {
    val s = run.spark
    def e(name: String)(f: => Any): Boolean = run.entry(s"$dir:$name")(f)
    e("kg_triples_build")(KgPipeline.triples(s, dir).count())
    e("kg_edges_build")(KgPipeline.edges(s, dir).count())
    for (r <- 1 to 2) {
      e(s"kg05_run$r")(KgPipeline.kg05EventMapWkts(s, dir).count())
      e(s"kg11_run$r")(KgPipeline.kg11CompanyEntities(s, dir).count())
    }
    if (e("kg04_full")(KgPipeline.kg04ClosureEventsPerMonth(s, dir).count()))
      run.rounds(s"$dir:kg04_reach_rounds", "reach.rounds")
    if (e("kg08_full")(KgPipeline.kg08CanonicalClusters(s, dir).count()))
      run.rounds(s"$dir:kg08_cc_rounds", "cc.rounds")
    e("kg15_cooc_build")(KgPipeline.cooccurrence(s, dir).count())
    if (e("kg17_full")(KgPipeline.kg17EntityPagerank(s, dir).count()))
      run.rounds(s"$dir:kg17_pagerank_rounds", "salience.rounds")
    e("cache_corpus_build")(KgPipeline.corpusSpans(s, dir).count())
    e("m07_full")(multimodal.Multimodal.m07SequencePacking(s, dir).count())
    KgPipeline.release()
  }
}
