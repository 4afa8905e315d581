package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._
import graft.canon.ConnectedComponents

/** KG-construction pipeline facade: deterministic synthetic span corpus →
  * parse → enrich → canonicalize → triples (graft.kg.Pipeline), plus the
  * read-side query surface mirroring the reference's SPARQL analytics layer
  * (SURVEY.md §2.8 Q1-Q9). These queries have no SQL oracle (the corpus is
  * engine-side); they are rows-only checked by the driver and P/R-gated by
  * ScalaTest fixtures against the model oracle.
  */
object KgPipeline {

  // cache the triple table per (session, sf dir) — queries share one pipeline
  // run. plans.SessionCache carries the whole lifecycle discipline (session-
  // reference keys, computeIfAbsent single-build, dead-session purge that is
  // safe against same-map reentrancy — the edges builder calls triples(), so
  // a purge-on-every-access scheme violated CHM's "mapping function must not
  // modify this map" contract; see SessionCache's scaladoc).
  private val cache = new graft.plans.SessionCache[Dataset[Triple]]("kg-triples")
  // one shared date-deduped (subj, pred, obj) edge projection: article-derived
  // triples repeat once per mention date (partition key), so every graph-shaped
  // query (kg02-kg08) needs the same distinct — run the shuffle ONCE, not per
  // query. Derived predicates of this cache are unique per (subj, obj).
  private val edgeCache = new graft.plans.SessionCache[DataFrame]("kg-edges")
  // the triple build and kg10/kg12/kg13 all need the enriched-article frame
  // and kg13 needs kg12's metrics table — cache both per sf dir so the
  // enrichment dataflow runs once per session instead of once per consumer
  private val enrichedCache =
    new graft.plans.SessionCache[Dataset[EnrichedArticle]]("kg-enriched")
  private val metricsCache = new graft.plans.SessionCache[DataFrame]("kg-metrics")
  // kg14/m05/m06 all consume the interleaved corpus span-by-span, and the
  // nested spans-array parquet decode dominates each of them (r4 driver lap:
  // m05 15.9 s + m06 14.6 s vs ~1 s of actual window/agg work) — decode and
  // posexplode ONCE per (session, sf) and share the flat projection, exactly
  // the treatment the triple/edge/enriched caches got in r4
  private val corpusSpansCache =
    new graft.plans.SessionCache[DataFrame]("kg-corpus-spans")
  // kg15 (readout), kg17 (PageRank input) and the kg_cooc oracle dump all
  // need the entity co-occurrence aggregate, whose prologue is the 5-hop
  // association chain — build it once per (session, sf)
  private val coocCache = new graft.plans.SessionCache[DataFrame]("kg-cooc")

  /** The triple table, cached per sf. It is built over the session's
    * enriched-article leaf ([[enriched]]), so a session enriches once for
    * the triples and kg10/kg12/kg13.
    */
  def triples(spark: SparkSession, sfDir: String): Dataset[Triple] =
    cache.get(spark, sfDir)(Pipeline.materializedTriples(spark, sfDir, enriched(spark, sfDir)))

  /** Enriched articles, cached per sf (one enrichment job for kg10/kg12). */
  def enriched(spark: SparkSession, sfDir: String): Dataset[EnrichedArticle] =
    enrichedCache.get(spark, sfDir) {
      val (e, stageCaches) = Pipeline.enrichedArticlesTracked(spark, Synth.paramsFor(sfDir))
      try graft.plans.Caches.leaf(e) // eager materialization + leaf plan
      finally stageCaches.foreach(_.unpersist(blocking = false))
    }

  /** Drop every per-sf cached block (bench/verify hygiene). Caches.free
    * unpersists the checkpointed RDD behind each LogicalRDD leaf (a plain
    * Dataset.unpersist is a no-op there) and deletes reliable-checkpoint
    * files so repeated build cycles don't grow the checkpoint store.
    */
  def release(): Unit = {
    cache.foreachValue(graft.plans.Caches.free(_)); cache.clear()
    // the edge cache holds no blocks, only its parquet directories
    edgeCache.clear()
    deleteEdgeDirs()
    enrichedCache.foreachValue(graft.plans.Caches.free(_)); enrichedCache.clear()
    metricsCache.foreachValue(graft.plans.Caches.free(_)); metricsCache.clear()
    corpusSpansCache.foreachValue(graft.plans.Caches.free(_)); corpusSpansCache.clear()
    coocCache.foreachValue(graft.plans.Caches.free(_)); coocCache.clear()
    // the similarity family's s01/s02 result caches ride on this hook: the
    // FROZEN driver mains (Bench/Verify) call exactly KgPipeline.release()
    // and Dedup.release(), so this is where non-kg shared frames must clean
    // up without touching the hashed harness files
    graft.queries.Similarity.release()
  }

  /** The interleaved corpus, exploded to one row per span with its 1-based
    * array position — the shared input of every span-shaped consumer (kg14
    * inventory, m05 context alignment, m06 asset dedup). Cached as a leaf
    * per (session, sf): the flat projection is narrow (six scalar columns),
    * while re-decoding the NESTED spans array from parquet per query is the
    * dominant cost at every scale. At 100 TB the same trade holds — one
    * decode feeding n consumers — and the reliable-checkpoint gate
    * (plans.Caches) makes the leaf executor-loss-safe on a real cluster.
    */
  def corpusSpans(spark: SparkSession, sfDir: String): DataFrame =
    corpusSpansCache.get(spark, sfDir)(
      graft.plans.Caches.leaf(
        kg.CorpusStore.scan(spark, kg.Synth.paramsFor(sfDir))
          .selectExpr("doc_id", "posexplode(spans) AS (j, sp)")
          .selectExpr("doc_id", "CAST(j + 1 AS BIGINT) AS pos",
            "sp.kind AS kind", "sp.text AS text",
            "sp.media_ref AS media_ref", "sp.offset AS offset")))

  /** Predicates the shared edge cache retains — the union of every kg-query
    * projection below. The cache deliberately EXCLUDES the heavy literal
    * payloads (raw HTML bodies, NIF text spans, span indices): they dominate
    * triple bytes and no graph-shaped query reads them, yet un-filtered they
    * are deserialized on every one of the cache's ~8 scans per chain query
    * AND shuffled through the date-dedup distinct. A consumer adding a new
    * predicate must extend this list; the KgQueriesSpec sequential-oracle
    * fixtures fail immediately if a needed predicate is missing.
    */
  private[graft] val EdgePreds: Seq[String] = Seq(
    Ns.COY + "hasMentionDate", Ns.COY + "isOccuringDuring",
    Ns.COY + "isIdentifiedBy", Ns.COY + "hasOsmElement",
    Ns.COY + "hasWikidataEventType",
    Ns.NIF + "subString", Ns.GN + "wikipediaArticle", Ns.GEO + "asWKT",
    Ns.SCHEMA + "name", Ns.owlSameAs, Ns.rdfType, Ns.rdfsLabel,
    Ns.WDT + "P31")
  private val EdgePredSet = EdgePreds.toSet

  /** Names an edge-cache predicate; throws at query-construction time if it
    * is not retained in the cache, so a missing entry in [[EdgePreds]] is an
    * immediate error instead of a silent empty projection.
    */
  private def edgePred(pred: String): String = {
    require(EdgePredSet.contains(pred), s"predicate not in the edge cache: $pred")
    pred
  }

  /** Date-deduped edges over the kg-query predicate set, cached per sf.
    *
    * The projection is written ONCE as parquet partitioned by `pred` and
    * read back, so every consumer's `filter(col("pred") === …)` is partition
    * PRUNING at the scan: each of kg11's 6 predicate legs reads only its own
    * partition instead of the full edge set. This is the layout a 100 TB
    * triple store wants (predicate-partitioned storage prunes I/O at the
    * source and survives executor loss); it measured 3.5× faster on chain
    * queries than one localCheckpoint leaf of the whole projection
    * (BENCH/BASELINE.md §3a).
    */
  def edges(spark: SparkSession, sfDir: String): DataFrame =
    edgeCache.get(spark, sfDir) {
      // dir is keyed by (sf, session, PROCESS): two live sessions on the
      // same sf must not overwrite each other's files mid-read, and
      // identity hashes are reproducible across JVMs (fixed HotSpot PRNG
      // seed), so two CONCURRENT JVMs on the same sf (the multi-JVM bench
      // workflow) could resolve to the same dir without the pid component.
      // release() deletes it.
      val dir = EdgeCacheRoot + "/" + java.lang.Integer.toHexString(sfDir.hashCode) +
        "-" + java.lang.Integer.toHexString(System.identityHashCode(spark)) +
        "-p" + ProcessHandle.current().pid()
      triples(spark, sfDir)
        .filter(col("pred").isin(EdgePreds: _*))
        .select(col("subj"), col("pred"), col("obj")).distinct()
        .write.mode("overwrite").partitionBy("pred").parquet(dir)
      edgeDirsWritten.add(dir)
      // partition values round-trip URL-escaped directory names
      // (EdgeLayoutSpec compares them to the triples); the select restores
      // the (subj, pred, obj) column order
      spark.read.parquet(dir).select(col("subj"), col("pred"), col("obj"))
    }

  private val EdgeCacheRoot =
    sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-edge-cache"

  // every edge-cache directory this JVM wrote, deleted by exact path on
  // release() and, for a JVM that ends without a last release() (a test
  // run), at exit: the hook runs before Hadoop closes its file systems
  private val edgeDirsWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    () => deleteEdgeDirs(), org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 1)

  private def deleteEdgeDirs(): Unit = {
    edgeDirsWritten.forEach { p =>
      try {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(new org.apache.hadoop.conf.Configuration())
          .delete(path, true)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    edgeDirsWritten.clear()
  }

  /** Flagship: full pipeline at tiny scale — returns the triple DataFrame. */
  def entry(spark: SparkSession, sfDir: String): DataFrame =
    triples(spark, sfDir).toDF()

  // Q8: triple count per graph module (avg_graph_module_size.py:43-46)
  def kg01ModuleCounts(s: SparkSession, d: String): DataFrame =
    triples(s, d).groupBy(col("graph_module"))
      .agg(count(lit(1)).as("n_triples"))
      .orderBy(col("graph_module"))

  // Q1: events per year (events_per_year.py:37-41)
  def kg02EventsPerYear(s: SparkSession, d: String): DataFrame = {
    edges(s, d).filter(col("pred") === edgePred(Ns.COY + "hasMentionDate") &&
        col("subj").startsWith(Ns.events))
      .select(col("subj"), substring(col("obj"), 1, 4).as("y"))
      .distinct()
      .groupBy(col("y")).agg(countDistinct(col("subj")).as("n_events"))
      .orderBy(col("y"))
  }

  // Q2: distinct topics per year (events_per_year.py:73-97)
  def kg03TopicsPerYear(s: SparkSession, d: String): DataFrame = {
    val t = edges(s, d)
    val topicUris = t.filter(col("pred") === edgePred(Ns.rdfType) && col("obj") === Ns.COY + "TextTopic")
      .select(col("subj"))
    t.filter(col("pred") === edgePred(Ns.COY + "hasMentionDate"))
      .join(topicUris, Seq("subj"), "left_semi")
      .select(col("subj"), substring(col("obj"), 1, 4).as("y"))
      .distinct()
      .groupBy(col("y")).agg(count(lit(1)).as("n_topics"))
      .orderBy(col("y"))
  }

  // Q3: transitive isOccuringDuring closure from a seed topic, events per
  // month (create_events_per_month_diagram.py:31-38) — fixpoint iterative join
  def kg04ClosureEventsPerMonth(s: SparkSession, d: String): DataFrame = {
    val t = edges(s, d) // date-deduped once, shared across kg02-kg08
    // materialized once: the closure loop joins `during` EVERY round, and an
    // unmaterialized projection re-opened the edge parquet per round (a
    // pruned but still per-round scan; at 100 TB that is rounds × a
    // partition read). One small leaf instead (r6).
    val during = t.filter(col("pred") === edgePred(Ns.COY + "isOccuringDuring"))
      .select(col("subj").as("child"), col("obj").as("parent"))
      .localCheckpoint(true)
    // seed: the most-referenced parent topic (deterministic). Materialized
    // HERE, before Reach.closure's AQE-off window: this groupBy + global
    // sort runs over the full edge set — the one non-tiny frame of the
    // query — and must keep AQE's coalescing, unlike the loop's per-round
    // frames.
    val seed = during.groupBy(col("parent")).count()
      .orderBy(col("count").desc, col("parent")).limit(1)
      .select(col("parent").as("node")).localCheckpoint(true)
    // fixpoint frontier loop (canon.Reach): the oracle's recursive CTE has
    // no depth cap, and neither may this side — a fixed 8-round cap here
    // silently dropped the sf0.1 graph's depth-9 tail (r4 cross-SF find)
    val reach = graft.canon.Reach.closure(during, seed)
    val eventDates = t.filter(col("pred") === edgePred(Ns.COY + "hasMentionDate") &&
        col("subj").startsWith(Ns.events))
      .select(col("subj").as("node"), substring(col("obj"), 1, 7).as("ym"))
    eventDates.join(reach, Seq("node"), "left_semi")
      .groupBy(col("ym")).agg(count(lit(1)).as("n_events"))
      .orderBy(col("ym"))
  }

  // Q4: per-day event-location WKTs via the multi-hop chain
  // event→context→sentence→phrase→article→(sameAs→osm | osm) (create_event_map.py:441-461)
  /** The five-projection association chain event → textContext → sentence →
    * phrase → wikipediaArticle → wikidata entity, shared by kg05 / kg11 /
    * kg15. The namespace prefix filters here are the correctness-critical
    * part and exist ONCE — the oracle side has the same single definition
    * (KgOracles.assocCtes), so the engine and its oracles move in lockstep.
    * `eventsOnly` adds the events-prefix guard on the chain head (kg11/kg15;
    * kg05 keeps every isIdentifiedBy holder).
    */
  private case class AssocChain(evCtx: DataFrame, ctxSent: DataFrame,
      sentPhrase: DataFrame, phraseArt: DataFrame, sameAs: DataFrame) {
    /** (event, ..., article) — the four-hop join to the article. */
    def toArticle: DataFrame =
      evCtx.join(ctxSent, "ctx").join(sentPhrase, "sent").join(phraseArt, "phrase")
    /** (event, wd) — the full five-hop association. */
    def eventWd: DataFrame =
      toArticle.join(sameAs, "article").select(col("event"), col("wd"))
  }

  private def assocChain(s: SparkSession, d: String, eventsOnly: Boolean): AssocChain = {
    val t = edges(s, d)
    def p(pred: String) = t.filter(col("pred") === edgePred(pred))
      .select(col("subj"), col("obj"))
    val evCtx0 = p(Ns.COY + "isIdentifiedBy")
    AssocChain(
      (if (eventsOnly) evCtx0.filter(col("subj").startsWith(Ns.events)) else evCtx0)
        .select(col("subj").as("event"), col("obj").as("ctx")),
      p(Ns.NIF + "subString").select(col("subj").as("ctx"), col("obj").as("sent"))
        .filter(col("sent").startsWith(Ns.sentences)),
      p(Ns.NIF + "subString").select(col("subj").as("sent"), col("obj").as("phrase"))
        .filter(col("phrase").startsWith(Ns.phrases)),
      p(Ns.GN + "wikipediaArticle")
        .filter(col("subj").startsWith(Ns.phrases))
        .select(col("subj").as("phrase"), col("obj").as("article")),
      p(Ns.owlSameAs)
        .filter(col("subj").startsWith(Ns.wikipediaArticle)) // article→wd only
        .select(col("subj").as("article"), col("obj").as("wd")))
  }

  def kg05EventMapWkts(s: SparkSession, d: String): DataFrame = {
    // joining duplicated edge sets multiplies quadratically — all
    // projections come from the shared date-deduped edge cache (via the
    // shared association chain; kg05 keeps every isIdentifiedBy holder)
    val ch = assocChain(s, d, eventsOnly = false)
    val t = edges(s, d)
    def p(pred: String) = t.filter(col("pred") === edgePred(pred))
      .select(col("subj"), col("obj"))
    val hasOsm = p(Ns.COY + "hasOsmElement").select(col("subj").as("holder"), col("obj").as("osm"))
    val wkt = p(Ns.GEO + "asWKT").select(col("subj").as("osm"), col("obj").as("wkt"))
    val dates = p(Ns.COY + "hasMentionDate")
      .filter(col("subj").startsWith(Ns.events))
      .select(col("subj").as("event"), col("obj").as("date"))

    val artOsm = ch.sameAs.join(hasOsm, ch.sameAs("wd") === hasOsm("holder")).select(col("article"), col("osm"))
      .unionByName(hasOsm
        .filter(col("holder").startsWith(Ns.wikipediaArticle))
        .withColumnRenamed("holder", "article").select(col("article"), col("osm")))
    ch.toArticle
      .join(artOsm, "article").join(wkt, "osm").join(dates, "event")
      .select(col("date"), col("event"), col("article"), col("wkt"))
      .distinct()
      .orderBy(col("date"), col("event"), col("article"), col("wkt"))
  }

  // Q5: topic graph with labels and earliest mention date. Label semantics
  // follow the reference's UNION (create_topic_graph.py:363-393): an
  // ArticleTopic is labeled by its article's schema:name (via
  // gn:wikipediaArticle); a pure TextTopic (FILTER NOT EXISTS ArticleTopic)
  // by its own rdfs:label.
  def kg06TopicGraph(s: SparkSession, d: String): DataFrame = {
    // the shared edge cache is already (subj, pred, obj)-distinct, so each
    // fixed-predicate projection below is unique per (subj, obj)
    val t = edges(s, d)
    val topics = t.filter(col("pred") === edgePred(Ns.rdfType) && col("obj") === Ns.COY + "TextTopic")
      .select(col("subj").as("topic"))
    val articleTopics = t.filter(col("pred") === edgePred(Ns.rdfType) && col("obj") === Ns.COY + "ArticleTopic")
      .select(col("subj").as("topic"))
    val pureText = topics.join(articleTopics, Seq("topic"), "left_anti")
    // prefix-prune to topic subjects: these predicates span the whole KG
    // (sentences/phrases/articles), topics are a tiny slice
    val isTopicUri = col("subj").startsWith(Ns.articleTopics) ||
      col("subj").startsWith(Ns.textTopics)
    // ArticleTopic branch: topic —gn:wikipediaArticle→ article —schema:name→ l
    val wpArt = t.filter(col("pred") === edgePred(Ns.GN + "wikipediaArticle") && isTopicUri)
      .select(col("subj").as("topic"), col("obj").as("art"))
    val artNames = t.filter(col("pred") === edgePred(Ns.SCHEMA + "name") &&
        col("subj").startsWith(Ns.wikipediaArticle))
      .select(col("subj").as("art"), col("obj").as("label"))
    val articleLabels = articleTopics
      .join(wpArt, Seq("topic")).join(artNames, Seq("art"))
      .select(col("topic"), col("label"))
    // pure-TextTopic branch: own rdfs:label, FILTER NOT EXISTS ArticleTopic
    val textLabels = t.filter(col("pred") === edgePred(Ns.rdfsLabel) && isTopicUri)
      .select(col("subj").as("topic"), col("obj").as("label"))
      .join(pureText, Seq("topic"), "left_semi")
    val labels = articleLabels.unionByName(textLabels)
    val parents = t.filter(col("pred") === edgePred(Ns.COY + "isOccuringDuring") && isTopicUri)
      .select(col("subj").as("topic"), col("obj").as("parent"))
    val dates = t.filter(col("pred") === edgePred(Ns.COY + "hasMentionDate") && isTopicUri)
      .select(col("subj").as("topic"), col("obj").as("dt"))
    topics
      .join(labels, Seq("topic"), "left")
      .join(parents, Seq("topic"), "left")
      .join(dates, Seq("topic"), "left")
      .join(pureText.withColumn("pure", lit(1)), Seq("topic"), "left")
      .groupBy(col("topic"), col("parent"))
      .agg(min(col("label")).as("label"), min(col("dt")).as("earliest"),
        max(coalesce(col("pure"), lit(0))).as("is_pure_text"))
      .orderBy(col("topic"), col("parent"))
  }

  // Q6: event × wikidata event-type rows (company_events_per_month_diagram.py:59-77)
  // with the company-subclass closure membership per type (the reference's
  // cached ASK P279*/P460? Q783794, :184-189 — pre-baked as the
  // company_subclasses dim of FIXTURES.md §2).
  def kg07EventTypes(s: SparkSession, d: String): DataFrame = {
    val t = edges(s, d)
    val types = t.filter(col("pred") === edgePred(Ns.COY + "hasWikidataEventType"))
      .select(col("subj").as("event"), col("obj").as("wd_class"))
    val labels = t.filter(col("pred") === edgePred(Ns.rdfsLabel))
      .select(col("subj").as("wd_class"), col("obj").as("class_label"))
    val company = Dicts.companySubclassesDs(s)
      .select(concat(lit(Ns.WD), col("value")).as("wd_class"), lit(1).as("is_company_subclass"))
    types.join(labels, Seq("wd_class"), "left")
      .join(broadcast(company), Seq("wd_class"), "left")
      .select(col("event"), col("wd_class"), col("class_label"),
        coalesce(col("is_company_subclass"), lit(0)).as("is_company_subclass"))
      .distinct()
      .orderBy(col("event"), col("wd_class"))
  }

  // Q6 (entity side): distinct company entities mentioned by events — the
  // exact reference chain (company_events_per_month_diagram.py:150-177):
  // event —isIdentifiedBy→ ctx —subString/subString→ phrase
  // —gn:wikipediaArticle→ article —owl:sameAs→ wd —wdt:P31→ type, keeping
  // entities whose type is in the company-subclass closure.
  def kg11CompanyEntities(s: SparkSession, d: String): DataFrame = {
    val t = edges(s, d)
    val p31 = t.filter(col("pred") === edgePred(Ns.WDT + "P31"))
      .select(col("subj").as("wd"), col("obj").as("tpe"))
    val company = Dicts.companySubclassesDs(s)
      .select(concat(lit(Ns.WD), col("value")).as("tpe"))
    assocChain(s, d, eventsOnly = true).eventWd
      .join(p31, "wd")
      .join(broadcast(company), Seq("tpe"), "left_semi")
      .select(col("wd")).distinct()
      .orderBy(col("wd"))
  }

  // Canonicalization: connected components over owl:sameAs (north rule) —
  // cluster table mapping every aliased entity to its canonical id.
  def kg08CanonicalClusters(s: SparkSession, d: String): DataFrame = {
    val sameAs = edges(s, d).filter(col("pred") === edgePred(Ns.owlSameAs))
      .select(col("subj"), col("obj"))
    ConnectedComponents.run(sameAs)
      .withColumnRenamed("node", "entity")
      .withColumnRenamed("comp", "canonical_id")
      .orderBy(col("entity"))
  }

  // Q7: location-classifier evaluation vs labeled ground truth
  // (location_classification_diagram.py:173-213): per-article predicted flag
  // (the engine's P14 classifier) against the synthetic corpus' intent label,
  // aggregated to precision/recall/accuracy ×1e6 (exact integer arithmetic).
  def kg10LocationEval(s: SparkSession, d: String): DataFrame = {
    val labeled = labeledLocations(s, d)
    val predicted = enriched(s, d)
      .select(col("url"), col("locationFlag").as("predicted"))
    labeled.filter(col("resolvable"))
      .join(predicted, Seq("url"), "inner")
      .agg(
        sum(when(col("labeled") && col("predicted"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("labeled") && col("predicted"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("labeled") && !col("predicted"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("labeled") && !col("predicted"), 1L).otherwise(0L)).as("tn"))
      .selectExpr("tp", "fp", "fn", "tn",
        "(1000000 * tp) DIV greatest(tp + fp, 1) AS precision_e6",
        "(1000000 * tp) DIV greatest(tp + fn, 1) AS recall_e6",
        "(1000000 * (tp + tn)) DIV greatest(tp + fp + fn + tn, 1) AS accuracy_e6")
  }

  // A4: the reference's monthly analytics counter set (analytics.py:120-184
  // analogues — extraction counts, article-cache hit/miss, per-article
  // enrichment flags and the parse-error counts the extractor logs at
  // articleExtractor.py:50-63). One day-side parse pass + one broadcast-
  // joined article pass, rolled up per month.
  def kg12MonthlyMetrics(s: SparkSession, d: String): DataFrame =
    metricsCache.get(s, d) {
      val (raw, perDay) = kg12MonthlyMetricsUncached(s, d)
      // eager leaf materialization; kg13's window reads blocks, not a re-run
      try graft.plans.Caches.leaf(raw)
      finally perDay.unpersist(blocking = false)
    }

  /** kg10's ground-truth table (generator location intent per article) —
    * public so graft.Verify can dump it as a DuckDB oracle input.
    */
  def labeledLocations(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = Synth.paramsFor(d)
    s.range(p.articles).map { i =>
      val a = Synth.article(p, i.toInt)
      // ground truth: the generator's location intent (the "hand label")
      val intended = Synth.isLocationIntent(i.toInt)
      (a.url, intended, a.exists && !a.isNamespace)
    }.toDF("url", "labeled", "resolvable")
  }

  /** kg12's per-day parse counters + requested hrefs — public (unpersisted)
    * so graft.Verify can dump it as a DuckDB oracle input.
    */
  def kg12PerDay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = Synth.paramsFor(d)
    Pipeline.dayDocs(s, p).map { doc =>
      val (events, topics, refs) = DayPageParser.parse(doc)
      val ym = doc.doc_id.stripPrefix("day:").take(7)
      // every event-sentence/topic link is one get_article request; the LRU
      // cache analogue: hits = repeat requests of an already-fetched url
      val hrefs = events.flatMap(_.sentences.flatMap(_.links).map(_.href)) ++
        topics.flatMap(_.linkHref)
      (ym, events.size.toLong, topics.size.toLong,
        events.map(_.sentences.size.toLong).sum, refs.size.toLong,
        events.count(_.refs.nonEmpty).toLong,
        events.map(_.sentences.flatMap(_.links).size.toLong).sum,
        topics.count(_.linkHref.isEmpty).toLong, hrefs)
    }.toDF("ym", "n_events", "n_topics", "n_sentences", "n_references",
      "n_events_with_refs", "n_event_links", "n_linkless_topics", "hrefs")
  }

  private def kg12MonthlyMetricsUncached(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val perDay = kg12PerDay(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val monthly = perDay.groupBy(col("ym")).agg(
      count(lit(1)).as("n_days"),
      sum(col("n_events")).as("n_events"),
      sum(col("n_topics")).as("n_topics"),
      sum(col("n_sentences")).as("n_sentences"),
      sum(col("n_references")).as("n_references"),
      sum(col("n_events_with_refs")).as("n_events_with_refs"),
      sum(col("n_event_links")).as("n_event_links"),
      sum(col("n_linkless_topics")).as("n_linkless_topics"))
    val reqs = perDay.select(col("ym"), explode(col("hrefs")).as("href"))
    val cacheStats = reqs.groupBy(col("ym")).agg(
      count(lit(1)).as("n_article_requests"),
      countDistinct(col("href")).as("article_cache_misses"))
      .withColumn("article_cache_hits",
        col("n_article_requests") - col("article_cache_misses"))
    // per-article enrichment flags — the reference's analytics.py:120-184
    // counter set (WKT/coords/osm/falcon/parent-loc/infobox-row analogues),
    // one pass over the shared enriched-article cache
    val artStats = reqs.distinct()
      .join(enriched(s, d), col("href") === col("url"))
      .groupBy(col("ym")).agg(
        count(lit(1)).as("n_articles_resolved"),
        sum(when(col("wdUri").isNotNull, 1L).otherwise(0L)).as("n_articles_with_wd"),
        sum(when(col("locationFlag"), 1L).otherwise(0L)).as("n_articles_with_loc_flag"),
        sum(when(size(col("osmElements")) > 0, 1L).otherwise(0L)).as("n_articles_with_osm"),
        sum(when(size(col("falconEntityUris")) > 0, 1L).otherwise(0L)).as("n_articles_with_falcon"),
        sum(size(col("osmElements")).cast("long")).as("n_osm_elements"),
        sum(size(col("falconEntityUris")).cast("long")).as("n_falcon_entities"),
        sum(when(size(col("locLinkWkts")) > 0, 1L).otherwise(0L)).as("n_articles_with_wkt"),
        sum(when(size(col("pageCoordinates")) > 0 || size(col("ibCoordinates")) > 0, 1L)
          .otherwise(0L)).as("n_articles_with_coords"),
        sum(when(col("locValue").isNotNull, 1L).otherwise(0L)).as("n_articles_with_loc_row"),
        sum(when(size(col("parentLocUris")) > 0, 1L).otherwise(0L)).as("n_articles_with_parent_loc"),
        sum(when(size(col("classes")) > 0, 1L).otherwise(0L)).as("n_articles_with_classes"),
        sum(size(col("classes")).cast("long")).as("n_wd_classes"),
        sum(when(size(col("childUrls")) > 0, 1L).otherwise(0L)).as("n_articles_with_children"),
        sum(size(col("childUrls")).cast("long")).as("n_child_links"),
        sum(when(col("microDtstart").isNotNull, 1L).otherwise(0L)).as("n_articles_with_microformat"),
        sum(size(col("timeRows")).cast("long")).as("n_time_rows"),
        sum(size(col("dateRows")).cast("long")).as("n_date_rows"),
        sum(col("nTimeParseErrors").cast("long")).as("n_time_parse_errors"),
        sum(col("nDateParseErrors").cast("long")).as("n_date_parse_errors"))
    // topic/timespan/event-type counters from the reference's analytics set
    // (analytics.py:135-152 numTopicsWith*/numEventsWithType analogues),
    // derived from the materialized KG: "subject gained such a triple this
    // month" is exactly what the reference increments at construction time.
    // One scan over the shared triple cache, predicate-pruned.
    val C = Ns.COY
    val preds = Seq(
      "hasTimespan" -> "n_topics_with_timespan",
      "hasLocation" -> "n_topics_with_location",
      "hasStartDate" -> "n_timespans_with_start_date",
      "hasEndDate" -> "n_timespans_with_end_date",
      "hasOngoingSpan" -> "n_timespans_ongoing",
      "hasStartTimestamp" -> "n_timespans_with_start_time",
      "hasEndTimestamp" -> "n_timespans_with_end_time",
      "hasWikidataEventType" -> "n_events_with_wd_type")
    val kgAggs = preds.map { case (p, name) =>
      countDistinct(when(col("pred") === lit(C + p), col("subj"))).as(name)
    }
    val kgStats = triples(s, d)
      .filter(col("pred").isin(preds.map(C + _._1): _*))
      .groupBy(expr("substr(event_date, 1, 7)").as("ym"))
      .agg(kgAggs.head, kgAggs.tail: _*)
    val out = monthly
      .join(cacheStats, Seq("ym"), "left")
      .join(artStats, Seq("ym"), "left")
      .join(kgStats, Seq("ym"), "left")
      .na.fill(0L)
      .orderBy(col("ym"))
    (out, perDay)
  }

  // Q9: the reference's cumulative cache-hit-ratio window over the monthly
  // metrics table (hit_ratio_per_month.py:36-71) — per-month ratio plus the
  // running cumulative ratio, exact integer arithmetic.
  def kg13HitRatioWindow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = kg12MonthlyMetrics(s, d)
      .select(col("ym"), col("article_cache_hits").as("hits"),
        col("article_cache_misses").as("misses"))
    val w = Window.orderBy(col("ym"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.withColumn("cum_hits", sum(col("hits")).over(w))
      .withColumn("cum_total", sum(col("hits") + col("misses")).over(w))
      .select(col("ym"), col("hits"), col("misses"),
        expr("(1000000 * hits) DIV (hits + misses)").as("ratio_e6"),
        expr("(1000000 * cum_hits) DIV cum_total").as("cumulative_ratio_e6"))
      .orderBy(col("ym"))
  }

  // A4: per-partition lineage metrics in one agg pass (analytics.py counters)
  def kg09PartitionMetrics(s: SparkSession, d: String): DataFrame =
    triples(s, d).groupBy(col("event_date"), col("graph_module"))
      .agg(
        count(lit(1)).as("n_triples"),
        countDistinct(col("subj")).as("n_subjects"),
        sum(when(col("obj_is_iri"), 1L).otherwise(0L)).as("n_iri_objects"))
      .orderBy(col("event_date"), col("graph_module"))

  // input_hint evidence, driver-visible: an inventory of the interleaved
  // documents table itself, per span kind, carrying an ORDER-SENSITIVE
  // sequence checksum — each span contributes the first 8 md5 hex digits of
  // (doc_id | 1-based array position | kind | text | media_ref | offset) as
  // an integer, summed per kind. Reordering ANY doc's spans (or touching a
  // kind/text/media_ref/offset) changes the row hash, so the green driver
  // row IS the span-sequence-equality invariant (BASELINE.json input_hint)
  // checked end-to-end through parquet by an independent engine. Plan shape:
  // the shared corpusSpans leaf (decode+posexplode once per sf, reused by
  // m05/m06) → hash → one groupBy(kind); embarrassingly parallel at 100 TB.
  def kg14SpanInventory(s: SparkSession, d: String): DataFrame = {
    corpusSpans(s, d)
      .selectExpr("doc_id", "kind", "media_ref",
        "CAST(conv(substr(md5(concat_ws('|', doc_id, pos, kind, " +
          "coalesce(text, ''), coalesce(media_ref, ''), offset)), " +
          "1, 8), 16, 10) AS BIGINT) AS coin")
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_spans"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(when(col("media_ref").isNotNull, 1L).otherwise(0L)).as("n_media_refs"),
        sum(col("coin")).as("seq_checksum"))
      .orderBy(col("kind"))
  }

  /** kg15: entity CO-OCCURRENCE projection — the bipartite (event, entity)
    * association (kg11's link chain, minus its company filter) projected to
    * weighted entity-entity edges: (wd_a < wd_b, n_events sharing both).
    * The standard KG-analytics projection, with the standard skew hazard: an
    * event mentioning k entities emits k·(k-1)/2 pairs, so a mega-event
    * would go quadratic in the self-join. Events with more than
    * [[Kg15MaxEntities]] entities are excluded by BOTH engines (the same
    * bounded-population rule as d02's mega-bucket guard — deterministic and
    * oracle-visible, not a silent engine-side cap).
    */
  val Kg15MaxEntities = 64

  /** The unordered (wd_a, wd_b, n_events) co-occurrence aggregate, cached
    * per (session, sf) — kg15's readout, kg17's PageRank input and the
    * kg_cooc oracle dump share ONE association-chain build + self-join.
    */
  def cooccurrence(s: SparkSession, d: String): DataFrame =
    coocCache.get(s, d) {
      // Shape kept AS-IS after measurement (r6 stage probe): a
      // window-based k-guard (count OVER (PARTITION BY event), no barrier,
      // self-join sides sharing one ReusedExchange) measured 5.3 s vs 1.5 s
      // for this checkpoint + semi-join shape — the window executes once
      // per self-join side above the reused exchange, so the "fewer
      // barriers" plan loses. The leaf is tiny (distinct (event, wd)
      // associations) and both self-join sides read its blocks.
      val eventWd = assocChain(s, d, eventsOnly = true).eventWd.distinct()
        .localCheckpoint(true) // feeds the size guard and both self-join sides
      val ok = eventWd.join(
        eventWd.groupBy(col("event")).agg(count(lit(1)).as("k"))
          .filter(col("k") <= Kg15MaxEntities).select(col("event")),
        Seq("event"), "left_semi")
      graft.plans.Caches.leaf(
        ok.as("x").join(ok.as("y"),
            col("x.event") === col("y.event") && col("x.wd") < col("y.wd"))
          .select(col("x.wd").as("wd_a"), col("y.wd").as("wd_b"))
          .groupBy(col("wd_a"), col("wd_b")).agg(count(lit(1)).as("n_events")))
    }

  def kg15EntityCooccurrence(s: SparkSession, d: String): DataFrame =
    cooccurrence(s, d).orderBy(col("wd_a"), col("wd_b"))

  /** kg17: ENTITY SALIENCE — weighted PageRank over the kg15 co-occurrence
    * graph (the standard KG-analytics ranking: which entities anchor the
    * event graph). Integer-exact scaled-BIGINT power iterations — the g03
    * pattern, which is the only hash-exact path for numeric loops — with
    * per-node WEIGHTED mass split: a node's rank flows to each neighbor in
    * proportion (pr * w) DIV wtot, so heavily co-mentioned pairs pull rank.
    * Every round is one join + one aggregate over a localCheckpoint leaf
    * (plans stay O(round)); 8 rounds on plans.FixedPoint. The
    * DuckDB oracle recomputes the identical iteration as an unrolled
    * MATERIALIZED CTE chain over the dumped co-occurrence edges
    * ({AUX}/kg_cooc), so the semantics are re-derived from artifacts.
    */
  val Kg17Scale = 1000000000000L
  val Kg17Iters = 8

  def kg17EntityPagerank(s: SparkSession, d: String): DataFrame = {
    val cooc = cooccurrence(s, d)
      .select(col("wd_a"), col("wd_b"), col("n_events"))
    val edges = cooc.selectExpr("wd_a AS src", "wd_b AS dst", "n_events AS w")
      .unionAll(cooc.selectExpr("wd_b AS src", "wd_a AS dst", "n_events AS w"))
      .localCheckpoint(true) // reused every round (plus wtot + nodes below)
    val nodes = edges.select(col("src").as("node")).distinct().localCheckpoint(true)
    // ONE setup aggregate for both loop preconditions (r6: the node count
    // and the weight guard were two separate collect jobs)
    val guard = edges.selectExpr("count(DISTINCT src) AS n", "max(w) AS m")
      .collect().head
    val n = guard.getLong(0)
    require(n > 0, "kg17 needs a non-empty co-occurrence graph — kg15 " +
      "returned no entity pairs")
    // (pr * w) must not wrap: pr mass is bounded by Kg17Scale, so the guard
    // is on the edge weights — loud, not silent (the x07 overflow lesson)
    val maxW = guard.getLong(1)
    require(maxW <= 1000000L,
      s"kg17 edge weight $maxW would overflow the scaled-integer rank " +
        "product (Kg17Scale * w approaches Long range) — rescale first")
    val wtot = edges.groupBy(col("src")).agg(sum(col("w")).as("wtot"))
    val edgesW = edges.join(wtot, Seq("src")).localCheckpoint(true)
    val teleport = 15L * (Kg17Scale / n) / 100
    graft.plans.FixedPoint.iterate(s, "salience", Kg17Iters)(
      nodes.selectExpr("node", s"CAST(${Kg17Scale / n} AS BIGINT) AS pr")) { pr =>
      edgesW.join(pr.withColumnRenamed("node", "src"), Seq("src"))
        .selectExpr("dst", "(pr * w) DIV wtot AS c")
        .groupBy(col("dst")).agg(sum(col("c")).as("sum_in"))
        .selectExpr("dst AS node", s"$teleport + (85 * sum_in) DIV 100 AS pr")
    }.selectExpr("node AS wd", "pr AS pr_e12").orderBy(col("wd"))
  }

  /** kg18: MONTH-OVER-MONTH SNAPSHOT DELTA per graph module — the CDC view
    * of the materialized KG (event_date is the partition key, so each month
    * is a snapshot increment): triples per (module, month) plus the delta
    * against the module's previous month (q22's reconciliation shape, on
    * the KG itself). Dateless triples (enrichment dims) are excluded by the
    * same rule on both engines. One aggregate over the cached triple leaf +
    * a lag window over the tiny (module × month) frame.
    */
  def kg18MonthlyDelta(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    triples(s, d).toDF()
      .filter(col("event_date").isNotNull)
      .selectExpr("graph_module", "substr(event_date, 1, 7) AS month")
      .groupBy(col("graph_module"), col("month"))
      .agg(count(lit(1)).as("n_triples"))
      .withColumn("prev", lag(col("n_triples"), 1)
        .over(Window.partitionBy("graph_module").orderBy("month")))
      .selectExpr("graph_module", "month", "n_triples",
        "coalesce(n_triples - prev, n_triples) AS delta")
      .orderBy(col("graph_module"), col("month"))
  }

  /** kg16: PIPELINE-FIDELITY PARITY, driver-visible. The kg oracles
    * recompute queries over engine-dumped intermediates, so the triple table
    * itself was until now gated only by ScalaTest (sequential-oracle P/R
    * fixtures, invisible to the driver). This query diffs the DISTRIBUTED
    * pipeline's triple set against the INDEPENDENT sequential re-derivation
    * (graft.kg.SequentialOracle — plain driver-side Scala maps, no Spark) as
    * one full-outer null-safe 8-column join, and emits the set cardinalities
    * plus integer precision/recall. Verify dumps BOTH sets to _oracle_aux and
    * the DuckDB oracle recomputes the identical diff from the dumps — a green
    * row makes P=R=1.0 a driver artifact (r4 verdict item 7). The query also
    * FAILS LOUDLY on any mismatch (collect + require), so a fidelity break
    * turns the CORRECTNESS row red rather than green-with-nonzero-columns.
    */
  def kg16TripleParity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cols = Seq("graph_module", "subj", "pred", "obj", "obj_is_iri",
      "obj_dtype", "obj_lang", "event_date")
    val eng = triples(s, d).toDF().select(cols.map(col): _*)
    // parallelize (not createDataset): a LocalRelation would embed the whole
    // oracle set in ONE task (~10 MB/0.001 sf — 100 MB-class at sf0.1)
    val orc = s.createDataset(s.sparkContext.parallelize(
        SequentialOracle.expectedTriples(Synth.paramsFor(d)).toSeq, 8))
      .toDF().select(cols.map(col): _*)
    // r6: the diff is a TAGGED-UNION GROUP BY, not a full-outer join — one
    // hash shuffle over both sets replaces the former 8-column null-safe
    // SMJ (two sorted sides) and subsumes the engine-side pre-distinct
    // (max-per-side handles duplicates). groupBy treats NULL keys as equal,
    // exactly the <=> semantics the join used; counts are identical
    // (`graft.Lab kg16`: the oracle re-derivation is 0.5 s — the diff was
    // the other ~4 s of this query).
    val parity = eng.withColumn("src", lit(1))
      .unionByName(orc.withColumn("src", lit(2)))
      .groupBy(cols.map(col): _*)
      .agg(
        max(when(col("src") === 1, 1L).otherwise(0L)).as("in_eng"),
        max(when(col("src") === 2, 1L).otherwise(0L)).as("in_orc"))
      .agg(
        sum(col("in_eng")).as("n_engine"),
        sum(col("in_orc")).as("n_oracle"),
        sum(col("in_eng") * col("in_orc")).as("n_common"))
      .selectExpr("n_engine", "n_oracle", "n_common",
        "n_engine - n_common AS n_only_engine",
        "n_oracle - n_common AS n_only_oracle",
        "(1000000 * n_common) DIV n_engine AS precision_e6",
        "(1000000 * n_common) DIV n_oracle AS recall_e6")
    val row = parity.collect().head
    require(row.getLong(3) == 0L && row.getLong(4) == 0L,
      s"kg16 triple parity broken: ${row.getLong(3)} engine-only and " +
        s"${row.getLong(4)} oracle-only triples (engine ${row.getLong(0)}, " +
        s"sequential oracle ${row.getLong(1)})")
    parity
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg18_monthly_delta" -> (kg18MonthlyDelta _),
    "kg17_entity_pagerank" -> (kg17EntityPagerank _),
    "kg16_triple_parity" -> (kg16TripleParity _),
    "kg15_entity_cooccurrence" -> (kg15EntityCooccurrence _),
    "kg01_module_counts" -> (kg01ModuleCounts _),
    "kg02_events_per_year" -> (kg02EventsPerYear _),
    "kg03_topics_per_year" -> (kg03TopicsPerYear _),
    "kg04_closure_events_per_month" -> (kg04ClosureEventsPerMonth _),
    "kg05_event_map_wkts" -> (kg05EventMapWkts _),
    "kg06_topic_graph" -> (kg06TopicGraph _),
    "kg07_event_types" -> (kg07EventTypes _),
    "kg08_canonical_clusters" -> (kg08CanonicalClusters _),
    "kg09_partition_metrics" -> (kg09PartitionMetrics _),
    "kg10_location_eval" -> (kg10LocationEval _),
    "kg11_company_entities" -> (kg11CompanyEntities _),
    "kg12_monthly_metrics" -> (kg12MonthlyMetrics _),
    "kg13_hit_ratio_window" -> (kg13HitRatioWindow _),
    "kg14_span_inventory" -> (kg14SpanInventory _))

  /** DuckDB oracle SQL per kg query — over the intermediate tables
    * graft.Verify dumps to `<outDir>/_oracle_aux/` (see [[KgOracles]]).
    */
  def oracleSql: Map[String, String] = KgOracles.sql
}
