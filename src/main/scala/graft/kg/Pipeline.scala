package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The KG-construction dataflow (SURVEY.md §3.1 Spark shape):
  *
  *   docs(day pages)    —mapPartitions P1-P9→  ParsedDay(events, topics)
  *   docs(article pages)—mapPartitions P10-16→ ArticleRaw —dedup urls→
  *                      —broadcast dict joins J1-J7→ EnrichedArticle
  *   per-doc article refs ⋈ articles' link projection (Emit.LinkedArticle)
  *                      —collect_list by doc→ per-doc links (DocArts)
  *   ParsedDay ⟕ per-doc links —one flatMap→ event+topic triples
  *                             —one flatMap→ article mentions (url, date)
  *   mentions ⋈ articles —flatMap→ article/place/osm triples (+ child mentions)
  *   mentions ⋈ one-hop dictionary → ohg triples
  *   union → distinct → partitioned by (event_date, graph_module)
  *
  * The day-page side's exchanges (the ref⋈article join, the group by doc_id,
  * the join back onto the day docs) move only the nine link fields emission
  * reads, not the whole enriched article, and are columnar: the typed steps
  * are the parse, the href flatMap and the two per-doc flatMaps. The mention
  * side costs three exchanges (mention distinct, mention⋈articles, final
  * distinct) and keeps the full article, which article triples read.
  * Everything else is narrow mapPartitions work. Dictionaries broadcast; the
  * one-hop join is the Zipf-skew hotspot and is AQE/salting-eligible
  * (graft.plans.SaltedJoin is the shuffle-side fallback when the dictionary
  * outgrows broadcast).
  */
object Pipeline {
  import Emit.LinkedArticle

  case class ParsedDay(doc_id: String, events: Seq[KEvent], topics: Seq[KTopic])
  case class DocArts(doc_id: String, arts: Seq[LinkedArticle])
  case class Mention(url: String, date: String, isTopic: Boolean,
      forcePlace: Boolean, traverseChildren: Boolean)

  /** Day-page scan of the persisted `documents` table (input_hint contract).
    * Resume pruning happens at the SOURCE: `onlyDates` names the partition
    * directories the scan reads, so committed dates are never listed, let
    * alone parsed (reference analogue: skip-month-if-exists,
    * __main__.py:286).
    */
  def dayDocs(spark: SparkSession, p: Synth.Params,
      onlyDates: Option[Set[String]] = None): Dataset[SpanDoc] = {
    import spark.implicits._
    val scan = CorpusStore.scan(spark, p, onlyDates)
    val dayParts =
      if (onlyDates.isDefined) scan else scan.filter(!col("part").startsWith("articles-"))
    dayParts.select(col("doc_id"), col("spans")).as[SpanDoc]
  }

  /** Article-page scan of the same `documents` table (article buckets). */
  def articleDocs(spark: SparkSession, p: Synth.Params): Dataset[SpanDoc] = {
    import spark.implicits._
    CorpusStore.scan(spark, p)
      .filter(col("part").startsWith("articles-"))
      .select(col("doc_id"), col("spans")).as[SpanDoc]
  }

  /** Parse + enrich stages shared by triples and tests. */
  def parsedDays(spark: SparkSession, p: Synth.Params,
      onlyDates: Option[Set[String]] = None): Dataset[ParsedDay] = {
    import spark.implicits._
    dayDocs(spark, p, onlyDates)
      .map { d =>
        val (e, t, _) = DayPageParser.parse(d)
        ParsedDay(d.doc_id, e, t)
      }
  }

  /** Untracked convenience wrapper (tests): DISCARDS the stage-cache
    * handles, so the parse-stage persist can never be released and — worse —
    * Spark's CacheManager may silently serve the leaked cache to any later
    * plan with the same subtree. Long-lived callers must use
    * [[enrichedArticlesTracked]] and release after materializing.
    */
  def enrichedArticles(spark: SparkSession, p: Synth.Params): Dataset[EnrichedArticle] =
    enrichedArticlesTracked(spark, p)._1

  /** Enriched articles plus the parse-stage cache the join graph holds
    * (released by the caller once the result is materialized).
    */
  def enrichedArticlesTracked(spark: SparkSession, p: Synth.Params):
      (Dataset[EnrichedArticle], Seq[Dataset[_]]) = {
    import spark.implicits._
    val articlesRaw = articleDocs(spark, p)
      .flatMap(ArticleParser.parse(_))
      .dropDuplicates("url") // J9: the reference's LRU memo, Spark-native
    Enrich.enrichJoinedTracked(articlesRaw, p)(spark)
  }

  /** All article hrefs a doc needs resolved: event sentence links (phrase
    * articles) and topic row links (topic articles).
    */
  def docHrefs(pd: ParsedDay): Seq[String] =
    (pd.events.flatMap(_.sentences.flatMap(_.links).map(_.href)) ++
      pd.topics.flatMap(_.linkHref)).distinct

  /** In-row emission for one day doc with its resolved articles (by url). */
  def emitDoc(pd: ParsedDay, arts: Map[String, LinkedArticle]): Seq[Triple] = {
    val infos: Map[Long, Emit.TopicInfo] = pd.topics.map { t =>
      val art = t.linkHref.flatMap(arts.get)
      val uri = art.map(a => Uris.articleTopicUri(a.url)).getOrElse(Uris.textTopicUri(t.text))
      t.topicId -> Emit.TopicInfo(t.topicId, uri, art.map(_.url),
        art.map(_.classes).getOrElse(Nil), t.parentTopicIds)
    }.toMap
    pd.events.flatMap(e => Emit.eventTriples(e, infos, arts)) ++
      pd.topics.flatMap { t =>
        val info = infos(t.topicId)
        Emit.topicTriples(t, info, infos, t.linkHref.flatMap(arts.get))
      }
  }

  /** A doc's resolved links by url (none when no link resolved). */
  private def byUrl(da: DocArts): Map[String, LinkedArticle] =
    if (da == null) Map.empty else da.arts.map(a => a.url -> a).toMap

  /** Depth-1 article mentions of one doc. */
  def docMentions(pd: ParsedDay, arts: Map[String, LinkedArticle]): Seq[Mention] = {
    val ev = pd.events.flatMap(e =>
      e.sentences.flatMap(_.links).map(_.href).distinct.flatMap(h =>
        arts.get(h).map(a => Mention(a.url, e.date, isTopic = false,
          forcePlace = false, traverseChildren = true))))
    val top = pd.topics.flatMap(t =>
      t.linkHref.flatMap(arts.get).map(a => Mention(a.url, t.date, isTopic = true,
        forcePlace = false, traverseChildren = true)))
    (ev ++ top).distinct
  }

  def triples(spark: SparkSession, sfDir: String,
      onlyDates: Option[Set[String]] = None): Dataset[Triple] =
    triplesFor(spark, Synth.paramsFor(sfDir), onlyDates)

  def triplesFor(spark: SparkSession, p: Synth.Params,
      onlyDates: Option[Set[String]] = None): Dataset[Triple] =
    triplesTracked(spark, p, onlyDates)._1

  /** Build + persist + materialize the triple table, then release the
    * intermediate stage caches (articles / doc-join / mentions) the build
    * holds — long-lived consumers (KgPipeline's query cache, benches) keep
    * only the one result cache instead of leaking four.
    */
  def materializedTriples(spark: SparkSession, sfDir: String,
      onlyDates: Option[Set[String]] = None): Dataset[Triple] = {
    val b = trackedBuild(spark, Synth.paramsFor(sfDir), onlyDates)
    // localCheckpoint, not persist: materializes the same MEMORY_AND_DISK
    // blocks AND truncates the logical plan to a leaf. The full build plan
    // is hundreds of nodes; downstream kg queries embed up to ~8 copies of
    // this frame, and with the un-truncated lineage every Dataset
    // transformation re-analyzes all of them — measured ~7 s of ANALYSIS per
    // chain query at sf0.1, dwarfing planning (0.5 s) and execution (2 s).
    // Blocks are released when the frame becomes unreachable after
    // KgPipeline.release() drops the reference (ContextCleaner), or at JVM
    // exit.
    // finally: a failed checkpoint job must still release the stage caches
    // (same failure-path hygiene as the other cache builders)
    // (graft.plans.Caches: reliable checkpoint under graft.cache.reliable)
    try graft.plans.Caches.leaf(b.triples)
    finally b.releaseCaches()
  }

  /** A triple build plus the stage caches it holds (released by the caller
    * once the result is materialized) and the per-date article parse-error
    * lineage (cheap to aggregate while the mention cache is still hot).
    */
  case class Build(triples: Dataset[Triple], caches: Seq[Dataset[_]],
      articleErrorsByDate: DataFrame) {
    def releaseCaches(): Unit = caches.foreach(_.unpersist(blocking = false))
  }

  def triplesTracked(spark: SparkSession, p: Synth.Params,
      onlyDates: Option[Set[String]] = None): (Dataset[Triple], Seq[Dataset[_]]) = {
    val b = trackedBuild(spark, p, onlyDates)
    (b.triples, b.caches)
  }

  /** The triple build over the day pages of `onlyDates` (all when None).
    *
    * @param enriched the enriched-article frame the build joins against.
    *   None (the default) enriches the whole article corpus in memory for
    *   this build; the committed write path passes the table's enriched
    *   snapshot ([[Materialize.enrichedSnapshot]]) so a backfill enriches
    *   once, not once per month.
    */
  def trackedBuild(spark: SparkSession, p: Synth.Params,
      onlyDates: Option[Set[String]] = None,
      enriched: Option[Dataset[EnrichedArticle]] = None): Build = {
    import spark.implicits._

    // days feed two consumers (href explode + the doc join) — persist so the
    // day-page corpus is parsed once, not twice
    val days = parsedDays(spark, p, onlyDates)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // three joins read the articles (doc links, child mentions, mention
    // payloads): an in-memory enrichment is persisted so it runs once
    val (articles, enrichCaches) = enriched match {
      case Some(e) => (e, Nil)
      case None =>
        val (e, caches) = enrichedArticlesTracked(spark, p)
        val persisted = e.persist(StorageLevel.MEMORY_AND_DISK)
        (persisted, persisted +: caches)
    }

    // per-doc article resolution: the refs join the articles' link
    // projection (a column select, so a snapshot scan reads only those
    // columns) and are collected per doc_id. The left join keeps docs
    // without resolved links (null DocArts); the cache holds the pair as the
    // join emits it, since a typed map here would re-encode every ParsedDay,
    // the largest generated class of the build.
    val linkCols = Encoders.product[LinkedArticle].schema.fieldNames.map(col)
    val refs = days.flatMap(pd => docHrefs(pd).map(h => (pd.doc_id, h))).toDF("doc_id", "href")
    val docArts = refs
      .join(articles.select(linkCols: _*), col("href") === col("url"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(linkCols: _*)).as("arts"))
      .as[DocArts]
    val docJoined = days
      .joinWith(docArts, days("doc_id") === docArts("doc_id"), "left_outer")
      .persist(StorageLevel.MEMORY_AND_DISK)

    val dayTriples = docJoined.flatMap { case (pd, da) => emitDoc(pd, byUrl(da)) }

    // ---- article mentions → article/place/osm triples -----------------------
    val depth1 = docJoined
      .flatMap { case (pd, da) => docMentions(pd, byUrl(da)) }
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val childMentions = depth1
      .joinWith(articles, depth1("url") === articles("url"))
      .flatMap { case (m, a) =>
        val hasPlace = a.locationFlag || m.isTopic || m.forcePlace
        if (hasPlace)
          a.childUrls.map(c => Mention(c, m.date, isTopic = false,
            forcePlace = true, traverseChildren = false))
        else Nil
      }
    val mentions = depth1.union(childMentions).distinct()
    // one join, two consumers (article triples + ohg probe)
    val mentArts = mentions
      .joinWith(articles, mentions("url") === articles("url"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val articleTriples = mentArts.flatMap { case (m, a) =>
      Emit.articleTriples(a, m.date, m.isTopic, m.forcePlace, m.traverseChildren)
    }

    // ---- ohg module: one-hop dictionary join (the skew hotspot) ------------
    // Broadcast while the dictionary fits the executor budget; beyond that a
    // plain shuffle join would put every head entity's probe volume on one
    // task (Zipf skew), so the fallback routes through SaltedJoin (north
    // rule: broadcast dictionary join + salted skew-join fallback). The
    // threshold is a conf so specs can force either path on the same corpus.
    val onehop = spark.range(p.articles)
      .flatMap(i => if (Synth.article(p, i.toInt).wdId.isDefined) Dicts.onehopFor(i.toInt) else Nil)
    val wdMentions = mentArts
      .flatMap { case (m, a) => a.wdUri.map(w => (w, m.date)) }
      .distinct()
    val bcastMaxArticles =
      spark.conf.get("graft.onehop.broadcast.maxArticles", "1000000").toInt
    val ohgTriples: Dataset[Triple] =
      if (p.articles <= bcastMaxArticles)
        wdMentions
          .joinWith(broadcast(onehop), wdMentions("_1") === onehop("subj_wd"))
          .map { case ((_, date), r) =>
            Triple("ohg", r.subj_wd, r.pred, r.obj, r.obj_is_iri,
              r.obj_dtype.orNull, r.obj_lang.orNull, date)
          }
      else {
        val hotThreshold =
          spark.conf.get("graft.onehop.salt.hotThreshold", "10000").toLong
        graft.plans.SaltedJoin.join(
            wdMentions.toDF("subj_wd", "event_date"), onehop.toDF(), "subj_wd",
            hotThreshold = hotThreshold)
          .select(lit("ohg").as("graph_module"), col("subj_wd").as("subj"),
            col("pred"), col("obj"), col("obj_is_iri"),
            col("obj_dtype"), col("obj_lang"), col("event_date"))
          .as[Triple]
      }

    val out = dayTriples
      .unionByName(articleTriples)
      .unionByName(ohgTriples)
      .dropDuplicates() // D1: rdflib graph set semantics

    // lineage: article parse errors attributed to each mention date, one
    // count per (date, article) — reads the mention cache (O5) by column, so
    // no article is decoded
    val errorsByDate = mentArts
      .select(col("_1.date").as("event_date"), col("_2.url").as("url"),
        col("_2.nTimeParseErrors").as("time_errs"), col("_2.nDateParseErrors").as("date_errs"))
      .distinct()
      .groupBy(col("event_date"))
      .agg(sum(col("time_errs")).cast("long").as("n_time_parse_errors"),
        sum(col("date_errs")).cast("long").as("n_date_parse_errors"))

    Build(out, Seq(days, docJoined, depth1, mentArts) ++ enrichCaches,
      errorsByDate)
  }
}
