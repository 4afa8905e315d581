package graft.kg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("pipeline triples match the sequential oracle at P/R >= 0.95 (exact)") {
    val sfDir = "/root/testdata/sf0.001" // params: 2 months, 240 articles
    val p = Synth.paramsFor(sfDir)
    val got = Pipeline.triples(spark, sfDir).collect().toSet
    val expected = SequentialOracle.expectedTriples(p)
    val tp = (got & expected).size.toDouble
    val precision = if (got.nonEmpty) tp / got.size else 0.0
    val recall = if (expected.nonEmpty) tp / expected.size else 0.0
    if (precision < 1.0 || recall < 1.0) {
      val fp = (got -- expected).take(5)
      val fn = (expected -- got).take(5)
      info(s"precision=$precision recall=$recall got=${got.size} expected=${expected.size}")
      fp.foreach(t => info(s"FP: $t"))
      fn.foreach(t => info(s"FN: $t"))
    }
    assert(precision >= 0.95, s"precision $precision")
    assert(recall >= 0.95, s"recall $recall")
    // the gate is 0.95; the wiring itself should be exact
    assert(precision == 1.0 && recall == 1.0, "wiring should be exact vs oracle")
  }

  test("triple set is deterministic under different parallelism") {
    val sfDir = "/root/testdata/sf0.001"
    val a = Pipeline.triples(spark, sfDir).collect().toSet
    val b = Pipeline.triples(spark, sfDir).repartition(3).collect().toSet
    assert(a == b)
  }

  test("day-page scan is a pruned parquet scan of the documents table") {
    val p = Synth.paramsFor("/root/testdata/sf0.001")
    val pruned = Pipeline.dayDocs(spark, p, Some(Set("2022-01-05")))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("Scan parquet"), s"no parquet scan in:\n$plan")
    // the scan lists only the requested partition directory, not the root
    assert(plan.contains("InMemoryFileIndex(1 paths)") && plan.contains("part=2022-01-05"),
      s"scan not pruned to the requested partition:\n$plan")
    assert(pruned.count() == 1) // exactly the one committed date survives
    // schema enforcement: the scan reads exactly the input_hint columns
    assert(pruned.schema.fieldNames.toSeq == Seq("doc_id", "spans"))
    // a requested date without a day page yields no rows, alone or mixed in
    assert(Pipeline.dayDocs(spark, p, Some(Set("2022-01-05", "2099-01-01"))).count() == 1)
    assert(Pipeline.dayDocs(spark, p, Some(Set("2099-01-01"))).count() == 0)
  }

  /** Every field name in `t`, nested ones included. */
  private def fieldNames(t: DataType): Seq[String] = t match {
    case s: StructType => s.fields.toSeq.flatMap(f => f.name +: fieldNames(f.dataType))
    case a: ArrayType => fieldNames(a.elementType)
    case m: MapType => fieldNames(m.keyType) ++ fieldNames(m.valueType)
    case _ => Nil
  }

  test("the persisted per-doc join holds only the link fields day-doc emission reads") {
    val p = Synth.paramsFor("sf0.001")
    val b = Pipeline.trackedBuild(spark, p, Some(Set("2022-01-05")))
    try {
      // (ParsedDay, DocArts): the one cached pair whose left side is a day doc
      val perDoc = b.caches.map(_.schema).filter(s =>
        s.fieldNames.toSeq == Seq("_1", "_2") && fieldNames(s("_1").dataType).contains("events"))
      assert(perDoc.size == 1, s"expected one per-doc frame among ${b.caches.map(_.schema)}")
      val arts = perDoc.head("_2").dataType.asInstanceOf[StructType]("arts")
      val link = arts.dataType.asInstanceOf[ArrayType].elementType
      assert(link.asInstanceOf[StructType].fieldNames.toSeq == Seq("url", "wdUri",
        "locationFlag", "parentLocUris", "classes", "microDtstart", "microDtend",
        "timeRows", "dateRows"))
      val all = fieldNames(perDoc.head)
      for (wide <- Seq("rawInfobox", "osmElements", "locLinkWkts", "childUrls", "falconEntityUris"))
        assert(!all.contains(wide), s"$wide widened the per-doc join")
    } finally b.releaseCaches()
  }

  /** Every physical node of `plan`, descending once into the plan that
    * builds each of its in-memory caches.
    */
  private def allNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    def walk(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
      case s: InMemoryTableScanExec if seen.add(s.relation.cacheBuilder) =>
        s +: walk(s.relation.cachedPlan)
      case n => Seq(n)
    }
    walk(plan)
  }

  test("a snapshot-fed month build plans no MapPartitions and caches only what it keeps") {
    val p = Synth.paramsFor("sf0.001")
    val table = java.nio.file.Files.createTempDirectory("graft_plan_shape").toString
    val snapshot = Materialize.enrichedSnapshot(spark, table, p)
    // the static plan, as the committed path's sessions run it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val b = Pipeline.trackedBuild(spark, p, Some(Materialize.datesOfMonth(p, 2022, 2).toSet),
      Some(snapshot))
    try {
      val nodes = allNodes(b.triples.queryExecution.executedPlan)
      // a typed flatMap plans as an uncompiled MapPartitions between two
      // codegen stages; the build's per-row steps fuse map + explode instead
      val mapPartitions = nodes.filter(_.nodeName == "MapPartitions")
      assert(mapPartitions.isEmpty, mapPartitions.mkString("\n"))
      // each persisted frame is one InMemoryRelation; a frame whose two
      // consumers read one exchange is not persisted
      val cached = nodes.collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
        .distinct
      assert(cached.size == b.caches.size, s"${cached.size} cached frames, build keeps ${b.caches.size}")
      assert(b.caches.size == 2, "a snapshot-fed build keeps the parsed days and the per-doc join")
      // and those consumers really share it: no exchange is planned twice
      val exchanges = nodes.collect { case e: Exchange => e.canonicalized }
      assert(exchanges.distinct.size == exchanges.size, "an exchange is computed twice")
      assert(nodes.exists(_.isInstanceOf[ReusedExchangeExec]))
    } finally {
      b.releaseCaches()
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("span-sequence equality: the scanned table preserves (kind, text, media_ref, order) per row") {
    val p = Synth.paramsFor("/root/testdata/sf0.001")
    val scannedDays = Pipeline.dayDocs(spark, p).collect()
      .map(d => d.doc_id -> d.spans).toMap
    val expectedDays = Synth.allDaysOf(p)
      .map { case (y, m, dd) => SpanCodec.dayDoc(p, Synth.day(p, m, dd, y)) }
    assert(scannedDays.size == expectedDays.size)
    for (e <- expectedDays) assert(scannedDays(e.doc_id) == e.spans)
    val scannedArts = Pipeline.articleDocs(spark, p).collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(scannedArts.size == p.articles)
    for (i <- 0 until p.articles) {
      val e = SpanCodec.articleDoc(p, Synth.article(p, i))
      assert(scannedArts(e.doc_id) == e.spans)
    }
  }

  test("dictionary enrichment runs as Catalyst broadcast hash joins") {
    val p = Synth.paramsFor("/root/testdata/sf0.001")
    val plan = Pipeline.enrichedArticles(spark, p)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected BroadcastHashJoin in enrich plan:\n${plan.take(4000)}")
  }

  test("oversize-dictionary shuffle join path emits the same triple set") {
    val sfDir = "/root/testdata/sf0.001"
    val p = Synth.paramsFor(sfDir)
    val broadcastPath = Pipeline.triples(spark, sfDir).collect().toSet
    spark.conf.set("graft.dicts.broadcast.maxArticles", "0") // dicts "oversize"
    // pin the static planner so neither the auto-broadcast threshold nor AQE
    // re-introduces a broadcast behind the gate's back for the plan assert
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the gate really removed the hints: no broadcast join over the dicts
      val plan = Pipeline.enrichedArticles(spark, p)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"dict broadcast hint not gated off:\n${plan.take(4000)}")
      val shufflePath = Pipeline.triples(spark, sfDir).collect().toSet
      assert(shufflePath == broadcastPath)
    } finally {
      spark.conf.unset("graft.dicts.broadcast.maxArticles")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("salted one-hop shuffle join path emits the same triple set") {
    val sfDir = "/root/testdata/sf0.001"
    val broadcastPath = Pipeline.triples(spark, sfDir).collect().toSet
    spark.conf.set("graft.onehop.broadcast.maxArticles", "0") // force salt path
    spark.conf.set("graft.onehop.salt.hotThreshold", "3") // engage hot keys
    try {
      val saltedPath = Pipeline.triples(spark, sfDir).collect().toSet
      assert(saltedPath == broadcastPath)
    } finally {
      spark.conf.unset("graft.onehop.broadcast.maxArticles")
      spark.conf.unset("graft.onehop.salt.hotThreshold")
    }
  }

  test("enriched rows carry the falcon2 dbpedia entities (infoboxRow.py:17-22 parity)") {
    val sfDir = "/root/testdata/sf0.001"
    val p = Synth.paramsFor(sfDir)
    val (e, caches) = Pipeline.enrichedArticlesTracked(spark, p)
    val rows = e.collect()
    caches.foreach(_.unpersist(blocking = false))
    // the dbpedia half of the falcon2 response rides the location row through
    // the distributed path exactly as generated (and, like the reference,
    // only articles WITH a location value carry any)
    rows.foreach { a =>
      val expected = a.locValue.toSeq.flatMap(v => Dicts.falconDbpediaFor(p.articles, v))
      assert(a.falconDbpediaUris == expected, s"at ${a.url}")
    }
    assert(rows.exists(_.falconDbpediaUris.nonEmpty))
    assert(rows.flatMap(_.falconDbpediaUris)
      .forall(_.startsWith("http://dbpedia.org/resource/")))
  }

  test("reliable-checkpoint cache path emits the same triple set as localCheckpoint") {
    val sfDir = "/root/testdata/sf0.001"
    val enriched = graft.KgPipeline.enriched(spark, sfDir)
    val localPath = Pipeline.materializedTriples(spark, sfDir, enriched).collect().toSet
    val ckDir = java.nio.file.Files.createTempDirectory("graft_reliable_ck").toString
    spark.conf.set("graft.cache.reliable", "true")
    spark.conf.set("graft.cache.checkpointDir", ckDir)
    try {
      val reliable = Pipeline.materializedTriples(spark, sfDir, enriched)
      // a reliable checkpoint actually landed on disk (survives executor
      // loss); getOrCreate shares one SparkContext across suites, so only
      // assert a checkpoint dir exists and holds data
      val dir = spark.sparkContext.getCheckpointDir
      assert(dir.nonEmpty)
      assert(reliable.collect().toSet == localPath)
    } finally {
      spark.conf.unset("graft.cache.reliable")
      spark.conf.unset("graft.cache.checkpointDir")
    }
  }

  test("all four graph modules are populated, osm > base per-article shape") {
    val sfDir = "/root/testdata/sf0.001"
    val counts = Pipeline.triples(spark, sfDir)
      .groupBy("graph_module").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("base", "raw", "osm", "ohg").subsetOf(counts.keySet))
    assert(counts.values.forall(_ > 0))
  }
}
