package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import graft.KgPipeline
import graft.emit.TableIO
import graft.kg.{CorpusStore, Materialize, Pipeline, SequentialOracle, Synth, Triple}
import graft.multimodal.Multimodal
import graft.queries.{Dedup, Graph, Relational, Similarity, Sketches, TextAnalysis, TrainingMix}
import graft.streaming.StreamingQueries

/** Benchmark main: one named workload per process, a closed loop with one
  * client.
  *
  *   kg_backfill  commits the Synth KG one month per op through
  *                `Materialize.run(maxMonths = k)`, the resume path a
  *                restarted job takes, into a fresh table per full backfill;
  *                set-up commits month 1, so the first op resumes a table
  *   serve        runs the 18 `kg*` entry points over the shared KG caches
  *                and a fixed slice of the corpus-analytics entry points over
  *                the benchmark's sf0.001 tables, in a seed-shuffled order
  *                per pass; the analytics' shared leaves are built inside
  *                the op time
  *
  * The layer calls run through the noop sink; a query op collects its rows,
  * which computes every column of every row just the same and feeds the
  * check. Ops run until `--seconds` of op time have passed (query workloads:
  * whole passes), or until an op fails. Output checks run outside the op
  * time. The stdout line starting with `RESULT ` is the result; `run.py`
  * turns it into the benchmark's JSON line.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --cpus <n> --work <dir> [--golden <verifyOutDir>]
  */
object Main {

  /** The scale. The directory holds the tables the corpus-analytics
    * queries read; the program derives the Synth parameters of the KG (2
    * months of day pages, 240 articles) from its name alone.
    */
  val SfToken = "sf0.001"
  val SfDir = s"perfbench/data/$SfToken"

  /** Golden fingerprints of one group of entry points ("kg" or "lap"). */
  def goldenFile(group: String): String = s"perfbench/golden/${group}_$SfToken.tsv"

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, work: String, golden: Option[String])

  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cpus").toInt, need("work"), kv.get("golden"))
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      // as graft.Bench: static planning, narrow fixed-point loop width
      .config("spark.sql.adaptive.enabled", "false")
      .config("graft.loop.shufflePartitions", math.min(8, conf.cpus).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bench = new Bench(spark, conf, Meter.attach(spark.sparkContext), jvmStartMs)
    val code = try {
      conf.golden match {
        case Some(dir) => bench.writeGoldens(dir); 0
        case None =>
          val r = conf.workload match {
            case "kg_backfill" => bench.backfill()
            case "serve" => bench.serve()
            case w => sys.error(s"unknown workload: $w")
          }
          println("RESULT " + r.json)
          if (r.correct) 0 else 1
      }
    } finally {
      KgPipeline.release()
      Dedup.release()
      spark.stop()
    }
    sys.exit(code)
  }
}

/** One timed call. `parent` is the op a layer probe belongs to, or -1. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startMs: Long, endMs: Long, wallS: Double)

final case class Result(correct: Boolean, attempted: Int, failed: Int,
    metrics: Seq[(String, Double, String)], info: Seq[(String, Double)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    val in = info.map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": $ms, "info": $in}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

final class Bench(spark: SparkSession, conf: Main.Conf, meter: Meter, jvmStartMs: Long) {
  import Bench._

  private val work = Paths.get(conf.work)
  private val sfDir = Main.SfDir
  private val p = Synth.paramsFor(sfDir)
  private val runId = s"${conf.workload}-s${conf.seed}-p${ProcessHandle.current().pid()}"
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  private def newId(): Int = { nextId += 1; nextId - 1 }

  private def span(name: String, layer: String, parent: Int = -1, id: Int = -1)(
      f: => Unit): Span = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    f
    val s = Span(if (id >= 0) id else newId(), name, layer, parent, t0,
      System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9)
    spans += s
    s
  }

  private def noop(df: Dataset[_]): Unit =
    df.toDF().write.format("noop").mode("overwrite").save()

  private def cost(s: Span): Work = meter.window(s.startMs, s.endMs, s.wallS)

  /** Render the corpus table from scratch. */
  private def renderCorpus(): Unit = {
    deleteTree(Paths.get(CorpusStore.dirFor(p)))
    CorpusStore.ensure(spark, p)
  }

  private def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** JVM start to a ready Spark session. */
  private val sessionS = sinceStart

  // ---- per-layer accounting ------------------------------------------------

  private val layerSum = scala.collection.mutable.Map(Layers.map(_ -> Work.zero): _*)
  private val layerN = scala.collection.mutable.Map(Layers.map(_ -> 0): _*)

  private def addLayer(layer: String, w: Work): Unit = {
    layerSum(layer) = layerSum(layer) + w
    layerN(layer) += 1
  }

  /** Spans around each KG-build layer's public function, each a separate
    * call over the same dates, in the order the layers nest. A layer's self
    * cost is its call's cost minus the cost of the inner layers' calls.
    * Returns the inclusive cost of the Pipeline call, which Materialize
    * wraps.
    */
  private def probeBuild(parent: Int, dates: Option[Set[String]]): Work = {
    val csDay = span("dayDocs", "CorpusStore", parent)(noop(Pipeline.dayDocs(spark, p, dates)))
    val csArt = span("articleDocs", "CorpusStore", parent)(noop(Pipeline.articleDocs(spark, p)))
    val dpp = span("parsedDays", "DayPageParser", parent)(
      noop(Pipeline.parsedDays(spark, p, dates)))
    val enr = span("enrichedArticlesTracked", "Enrich", parent) {
      val (e, caches) = Pipeline.enrichedArticlesTracked(spark, p)
      try noop(e) finally caches.foreach(_.unpersist(blocking = true))
    }
    val pipe = span("trackedBuild", "Pipeline", parent) {
      val b = Pipeline.trackedBuild(spark, p, dates)
      try noop(b.triples) finally b.caches.foreach(_.unpersist(blocking = true))
    }
    meter.drain()
    val Seq(wDay, wArt, wDpp, wEnr, wPipe) = Seq(csDay, csArt, dpp, enr, pipe).map(cost)
    addLayer("CorpusStore", wDay + wArt)
    addLayer("DayPageParser", wDpp - wDay)
    addLayer("Enrich", wEnr - wArt)
    addLayer("Pipeline", wPipe - wDpp - wEnr)
    wPipe
  }

  // ---- the measured loop -----------------------------------------------------

  private val opSpans = ArrayBuffer.empty[Span]
  private var attempted = 0
  private var failed = 0
  /** Wall seconds of the ops that threw: they count toward op time, so a
    * failing op cannot keep a run from ending.
    */
  private var failedS = 0.0
  /** Wall seconds the trace run spent on probes and attribution around ops. */
  private var traceCostS = 0.0

  private def opTime: Double = opSpans.map(_.wallS).sum + failedS

  /** Loop condition of every workload: at least one op, then ops until
    * `--seconds` of op time have passed, and none after a failure.
    */
  private def more: Boolean = failed == 0 && (attempted == 0 || opTime < conf.seconds)

  /** One op. In the trace run `probe` runs first, under the op's span id;
    * then the op is timed; then `after` gets the op span and the probe's
    * result, outside the op time. A throw anywhere counts the op as failed.
    */
  private def op[P](name: String, layer: String)(probe: Int => P)(f: => Unit)(
      after: (Span, Option[P]) => Unit): Unit = {
    attempted += 1
    val id = newId()
    val t0 = System.nanoTime()
    try {
      val probed = if (conf.trace) Some(probe(id)) else None
      val s = span(name, layer, id = id)(f)
      opSpans += s
      if (conf.trace) {
        meter.drain()
        traceCostS += (System.nanoTime() - t0) / 1e9 - s.wallS
      }
      after(s, probed)
    } catch { case e: Exception =>
      failed += 1
      failedS += (System.nanoTime() - t0) / 1e9
      System.err.println(s"[perfbench] $name failed: $e")
    }
  }

  /** Over the ops that completed. */
  private def endToEnd(setupS: Double): Seq[(String, Double, String)] = {
    meter.drain()
    Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", opSpans.size / opTime, "1/s"),
      ("cpu_s_per_op", opSpans.map(cost).map(_.cpuS).sum / math.max(1, opSpans.size), "s"),
      ("peak_cache_mb", meter.peakMb, "MB"))
  }

  /** Per-layer values that are not a layer's seven: a workload sets the ones
    * it measures, the others stay 0.
    */
  private val extra = scala.collection.mutable.LinkedHashMap(Extras.map(_ -> 0.0): _*)

  /** Per layer, the mean self cost per layer call; then the extra values and
    * the trace run's own op throughput and tracing cost.
    */
  private def perLayer(): Seq[(String, Double, String)] = {
    writeTrace()
    Layers.flatMap { layer =>
      val n = math.max(1, layerN(layer))
      val w = layerSum(layer)
      Seq(
        (s"$layer.self_s", w.wallS / n, "s"),
        (s"$layer.driver_s", w.driverS / n, "s"),
        (s"$layer.cpu_s", w.cpuS / n, "s"),
        (s"$layer.jobs", w.jobs.toDouble / n, "count"),
        (s"$layer.tasks", w.tasks.toDouble / n, "count"),
        (s"$layer.shuffle_mb", w.shuffleMb / n, "MB"),
        (s"$layer.input_mb", w.inputMb / n, "MB"))
    } ++ extra.toSeq.map { case (n, v) =>
      (n, v, if (n.endsWith("_mb")) "MB" else "count")
    } ++ Seq(
      ("trace.ops_per_s", opSpans.size / opTime, "1/s"),
      ("trace.cost_s_per_op", traceCostS / math.max(1, opSpans.size), "s"))
  }

  private def writeTrace(): Unit = {
    Files.createDirectories(work)
    val out = work.resolve(s"trace-$runId.jsonl")
    val lines = spans.sortBy(_.startMs).map { s =>
      s"""{"run": ${Json.str(runId)}, "id": ${s.id}, "name": ${Json.str(s.name)}, """ +
        s""""layer": ${Json.str(s.layer)}, "parent": ${s.parent}, "start_ms": ${s.startMs}, """ +
        s""""end_ms": ${s.endMs}, "wall_s": ${Json.num(s.wallS)}}"""
    }
    Files.write(out, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"# trace $out (${spans.size} spans)")
  }

  private def result(e2e: => Seq[(String, Double, String)], info: Seq[(String, Double)]): Result =
    Result(failed == 0, attempted, failed,
      if (conf.trace) perLayer() else e2e,
      info ++ Seq("session_s" -> sessionS, "ops" -> opSpans.size.toDouble, "op_s" -> opTime))

  // ---- workloads -----------------------------------------------------------

  def backfill(): Result = {
    val months = for (y <- p.year until p.year + p.years; m <- 1 to p.months)
      yield Materialize.datesOfMonth(p, y, m)
    lazy val expected = SequentialOracle.expectedTriples(p)
    val tables = work.resolve("tables")
    var pass = 0
    var done = 0
    def table = tables.resolve(s"$runId-$pass").toString
    var checkS = 0.0
    def finishTable(): Unit = {
      val t0 = System.nanoTime()
      val dates = months.take(done).flatten.toSet
      // a wrong table fails one more op, never more ops than were attempted
      if (!checkTable(table, dates.toSeq, expected.filter(t => dates(t.event_date))))
        failed = math.min(math.max(1, attempted), failed + 1)
      extra("Materialize.table_mb") = treeBytes(Paths.get(table, "data")) / 1e6
      deleteTree(Paths.get(table))
      pass += 1
      done = 0
      checkS += (System.nanoTime() - t0) / 1e9
    }
    // Set-up commits month 1 of the first table: that warms the JIT on the
    // commit path itself, and the first timed op then resumes the table as
    // a restarted job does
    renderCorpus()
    val n1 = Materialize.run(spark, sfDir, table, maxMonths = 1)
    require(n1 == months.head.size, s"set-up committed $n1 of ${months.head.size} dates")
    done = 1
    val setupS = sinceStart
    meter.drain()
    meter.resetPeak()
    while (more) {
      val dates = months(done)
      op(s"commit_month_${done + 1}", "Materialize")(id => probeBuild(id, Some(dates.toSet))) {
        val n = Materialize.run(spark, sfDir, table, maxMonths = done + 1)
        require(n == dates.size, s"committed $n of ${dates.size} dates")
      } { (s, probed) =>
        probed.foreach(wPipe => addLayer("Materialize", cost(s) - wPipe))
      }
      done += 1
      if (done == months.size) finishTable()
    }
    val e2e = endToEnd(setupS)
    if (done > 0) finishTable()
    deleteTree(tables)
    val docs = months.flatten.size + p.articles
    result(e2e, Seq(
      "backfill_docs" -> docs.toDouble,
      "commit_docs_per_s" -> docs.toDouble * opSpans.size / months.size / opTime,
      "tables_checked" -> pass.toDouble,
      "check_s" -> checkS,
      "table_mb" -> extra("Materialize.table_mb")))
  }

  /** The committed table holds exactly the oracle's triples for `dates`,
    * every one of those dates is committed and no month was logged as
    * unparsed.
    */
  private def checkTable(table: String, dates: Seq[String], expected: Set[Triple]): Boolean = {
    import spark.implicits._
    val got = TableIO.read(spark, table, "event_date")
      .selectExpr("graph_module", "subj", "pred", "obj", "obj_is_iri",
        "obj_dtype", "obj_lang", "CAST(event_date AS STRING) AS event_date")
      .as[Triple].collect().toSet
    val missing = TableIO.uncommitted(table, dates)
    val unparsed = TableIO.unparsedMonths(table)
    val ok = got == expected && missing.isEmpty && unparsed.isEmpty
    if (!ok) System.err.println(s"[perfbench] table check failed: ${got.size} triples " +
      s"vs ${expected.size} expected, ${missing.size} dates uncommitted, " +
      s"unparsed months: $unparsed")
    ok
  }

  def serve(): Result = {
    val ops = ServeOps
    val unknown = LapSlice.filterNot(n => LapOps.exists(_._1 == n))
    require(unknown.isEmpty, s"not a corpus-analytics entry point: $unknown")
    val goldens = readGoldens(ops)
    // a fresh session's state: the shared dedup and similarity leaves are
    // built by the first op that needs them, inside the op time. No separate
    // warm-up: the first cache build is a whole KG build
    KgPipeline.release()
    Dedup.release()
    renderCorpus()
    val setupId = newId()
    val builds = cacheBuilds.map { case (n, f) => span(n, "KgPipeline.cache", setupId)(noop(f())) }
    val setupS = sinceStart
    meter.drain()
    extra("KgPipeline.cache_mb") = meter.cachedMb
    if (conf.trace) {
      // the cache layer wraps whole builds, so it is reported inclusive; the
      // probe then decomposes one warm in-memory build of the same KG
      addLayer("KgPipeline.cache", builds.map(cost).reduce(_ + _))
      probeBuild(setupId, None)
    }
    val passes = queryPasses(ops, goldens)
    result(endToEnd(setupS), Seq(
      "passes" -> passes.toDouble,
      "cache_mb" -> extra("KgPipeline.cache_mb"),
      "cache_build_s" -> builds.map(_.wallS).sum))
  }

  private def cacheBuilds: Seq[(String, () => Dataset[_])] = Seq(
    "cache_triples" -> (() => KgPipeline.triples(spark, sfDir)),
    "cache_edges" -> (() => KgPipeline.edges(spark, sfDir)),
    "cache_enriched" -> (() => KgPipeline.enriched(spark, sfDir)),
    "cache_metrics" -> (() => KgPipeline.kg12MonthlyMetrics(spark, sfDir)),
    "cache_corpus" -> (() => KgPipeline.corpusSpans(spark, sfDir)),
    "cache_cooc" -> (() => KgPipeline.cooccurrence(spark, sfDir)))

  /** Whole passes over `ops`, each in a seed-shuffled order. Each op collects
    * its rows: every column of every row is computed, as through the noop
    * sink, and the rows feed the golden check outside the op time. Returns
    * the number of passes.
    */
  private def queryPasses(ops: Seq[(String, String, Query)],
      goldens: Map[String, String]): Int = {
    var passes = 0
    meter.resetPeak()
    while (more) {
      val order = new scala.util.Random(conf.seed * 1000003L + passes).shuffle(ops)
      order.foreach { case (name, layer, fn) =>
        var rows: (Array[String], Array[Row]) = null
        op(name, layer)(_ => ()) {
          val df = fn(spark, sfDir)
          rows = (df.columns, df.collect())
        } { (s, _) =>
          RoundMeters.foreach { case (prefix, key, metric) =>
            if (name.startsWith(prefix))
              extra(metric) = graft.plans.Meters.get(key).getOrElse(0L).toDouble
          }
          if (conf.trace) addLayer(layer, cost(s))
          val got = fingerprint(rows._1, rows._2)
          if (got != goldens(name)) {
            failed += 1
            System.err.println(s"[perfbench] $name result $got != golden ${goldens(name)}")
          }
        }
      }
      passes += 1
    }
    passes
  }

  // ---- golden fingerprints -------------------------------------------------

  private def readGoldens(ops: Seq[(String, String, Query)]): Map[String, String] = {
    val goldens = GoldenGroups.flatMap { case (group, _) =>
      val f = Paths.get(Main.goldenFile(group))
      require(Files.exists(f), s"missing golden fingerprints: $f")
      val src = scala.io.Source.fromFile(f.toFile, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")).map(a => a(0) -> a(1)).toList
      finally src.close()
    }.toMap
    val missing = ops.map(_._1).filterNot(goldens.contains)
    require(missing.isEmpty, s"no golden fingerprint for: $missing")
    goldens
  }

  /** Fingerprint every kg and corpus-analytics entry point as graft.Verify
    * dumped it and as this build computes it; both must agree before the
    * goldens are written.
    */
  def writeGoldens(verifyDir: String): Unit = GoldenGroups.foreach { case (group, ops) =>
    val lines = ops.map { case (name, _, fn) =>
      val dumped = fingerprint(spark.read.parquet(s"$verifyDir/$name"))
      val live = fingerprint(fn(spark, sfDir))
      require(dumped == live, s"$name: live $live != dumped $dumped")
      s"$name\t$dumped"
    }
    val out = Paths.get(Main.goldenFile(group))
    Files.createDirectories(out.getParent)
    Files.write(out, (s"# entry point\trows:sha256 at ${Main.SfToken}\n" +
      lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
    println(s"# wrote ${lines.size} goldens to $out")
  }
}

object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** The non-kg entry points of `SparkEntry.queries`, by module; each module
    * is one layer.
    */
  val Modules: Seq[(String, Map[String, Query])] = Seq(
    "Relational" -> Relational.queries,
    "TextAnalysis" -> TextAnalysis.queries,
    "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries,
    "Graph" -> Graph.queries,
    "Sketches" -> Sketches.queries,
    "Multimodal" -> Multimodal.queries,
    "StreamingQueries" -> StreamingQueries.queries,
    "TrainingMix" -> TrainingMix.queries)

  private def ops(byLayer: Seq[(String, Map[String, Query])]): Seq[(String, String, Query)] =
    byLayer.flatMap { case (layer, qs) => qs.toSeq.map { case (n, f) => (n, layer, f) } }
      .sortBy(_._1)

  /** Query ops, (entry point, layer, query): the 18 kg entry points, and the
    * 81 corpus-analytics ones.
    */
  val KgOps: Seq[(String, String, Query)] = ops(Seq("KgPipeline.query" -> KgPipeline.queries))
  val LapOps: Seq[(String, String, Query)] = ops(Modules)

  val GoldenGroups: Seq[(String, Seq[(String, String, Query)])] =
    Seq("kg" -> KgOps, "lap" -> LapOps)

  /** The corpus-analytics entry points the serve workload times: at least
    * one per module, the round-counted loops g01 (CC) and g05 (SSSP), the
    * per-row-heavy d02 and d08 and the windows sk04, m07 and st06. No two
    * share a cached leaf, so an op's cost does not depend on the order.
    */
  val LapSlice: Seq[String] = Seq(
    "q01_pricing_summary",
    "t02_quality_score",
    "d02_lsh_pairs", "d08_ngram_jaccard",
    "s02_ann_lsh",
    "g01_cc_chains", "g05_sssp",
    "sk04_quantile_sketch",
    "m07_sequence_packing",
    "st06_stream_packing",
    "x01_stratified_sample")

  val ServeOps: Seq[(String, String, Query)] = KgOps ++ LapOps.filter(o => LapSlice.contains(o._1))

  val Layers: Seq[String] = Seq("CorpusStore", "DayPageParser", "Enrich", "Pipeline",
    "Materialize", "KgPipeline.cache", "KgPipeline.query") ++ Modules.map(_._1)

  /** Round counters, read from `plans.Meters` right after the op that sets
    * them: (entry point prefix, meter key, per-layer metric).
    */
  val RoundMeters: Seq[(String, String, String)] = Seq(
    ("kg08", "cc.rounds", "canon.cc_rounds"),
    ("kg04", "reach.rounds", "canon.reach_rounds"),
    ("g01", "cc.rounds", "Graph.cc_rounds"),
    ("g05", "sssp.rounds", "Graph.sssp_rounds"))

  val Extras: Seq[String] =
    Seq("Materialize.table_mb", "KgPipeline.cache_mb") ++ RoundMeters.map(_._3)


  /** Row count plus a hash of the sorted canonical rows, so neither row nor
    * column order matters. Doubles are rounded to 9 decimals, as
    * tools/verify_local.py rounds them.
    */
  def fingerprint(df: DataFrame): String = fingerprint(df.columns, df.collect())

  def fingerprint(columns: Array[String], collected: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val rows = collected.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString("\u0001").getBytes("UTF-8"))
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update(Array[Byte](10)) }
    s"${rows.length}:" + md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => new java.math.BigDecimal(d)
      .setScale(9, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
