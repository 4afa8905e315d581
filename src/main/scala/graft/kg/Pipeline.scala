package graft.kg

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The KG-construction dataflow (SURVEY.md §3.1 Spark shape):
  *
  *   docs(day pages)    —map P1-P9→  ParsedDay(events, topics)
  *   docs(article pages)—flatMap P10-16→ ArticleRaw —dedup urls→
  *                      —broadcast dict joins J1-J7→ EnrichedArticle
  *   per-doc article refs ⋈ articles' link projection (Emit.LinkedArticle)
  *                      —collect_list by doc→ per-doc links (DocArts)
  *   ParsedDay ⟕ per-doc links —map + explode→ event+topic triples
  *                             —map + explode→ article mentions (url, date)
  *   mentions ⋈ articles —map + explode→ article/place/osm triples
  *                         (+ child mentions, + one probe row per entity)
  *   entity probes ⟕ one-hop dictionary → ohg triples
  *   union → distinct → partitioned by (event_date, graph_module)
  *
  * The day-page side's exchanges (the group by doc_id, the join back onto
  * the day docs) move only the nine link fields emission reads, not the
  * whole enriched article, and are columnar: the typed steps are the parse
  * and three maps over the day docs (hrefs, day triples, mentions). The
  * mention side costs two exchanges before the final distinct (depth-1 and
  * all mentions) and keeps the full article, which article triples read.
  * Dictionaries broadcast; the one-hop join is the Zipf-skew hotspot and is
  * AQE/salting-eligible (graft.plans.SaltedJoin is the shuffle-side fallback
  * when the dictionary outgrows broadcast).
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

  /** The triple build for an sf dir, for tests: it drops the stage-cache
    * handles, so long-lived callers use [[trackedBuild]] and release them.
    */
  def triples(spark: SparkSession, sfDir: String,
      onlyDates: Option[Set[String]] = None): Dataset[Triple] =
    trackedBuild(spark, Synth.paramsFor(sfDir), onlyDates).triples

  /** Build + persist + materialize the triple table, then release the
    * intermediate stage caches (parsed days / doc join / articles) the build
    * holds — long-lived consumers (KgPipeline's query cache, benches) keep
    * only the one result cache instead of leaking them.
    *
    * @param enriched the enriched articles the build joins against, held
    *   by the caller (KgPipeline's session leaf), so the build does not
    *   enrich again
    */
  def materializedTriples(spark: SparkSession, sfDir: String,
      enriched: Dataset[EnrichedArticle],
      onlyDates: Option[Set[String]] = None): Dataset[Triple] = {
    val b = trackedBuild(spark, Synth.paramsFor(sfDir), onlyDates, Some(enriched))
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
    * once the result is materialized).
    */
  case class Build(triples: Dataset[Triple], caches: Seq[Dataset[_]]) {
    def releaseCaches(): Unit = caches.foreach(_.unpersist(blocking = false))
  }

  /** `ds.flatMap(f)` planned as a typed map to a Seq plus `explode`: the
    * map and the generator fuse into one whole-stage codegen stage with their
    * neighbours, where a typed flatMap is an uncompiled MapPartitions that
    * ends the stage below it, starts a new one above it and compiles its own
    * deserializer projection.
    */
  private def flatMapFused[T, U <: Product: TypeTag](ds: Dataset[T])(f: T => Seq[U]): Dataset[U] = {
    import ds.sparkSession.implicits._
    ds.map(f).select(explode(col("value")).as("x")).select(col("x.*")).as[U]
  }

  /** The triple build over the day pages of `onlyDates` (all when None).
    *
    * The plan is kept small on purpose, because every distinct generated
    * class of a month build is one entry of Spark's codegen cache (100 by
    * default) and a backfill runs this build once per month:
    *  - the per-row steps are typed maps fused with `explode`
    *    ([[flatMapFused]]), never an uncompiled flatMap;
    *  - the one-hop join runs inside the article emission stage, on probe
    *    rows the emission adds, instead of as a second pass over the
    *    mention ⋈ article join;
    *  - only the two frames whose consumers would otherwise recompute them
    *    are persisted (the parsed days and the per-doc join). The depth-1
    *    mentions feed two consumers too, but both read the exchange of
    *    their distinct, and the two joins with the full articles read one
    *    exchange of them: the plan reuses each instead of recomputing it.
    *
    * @param enriched the enriched-article frame the build joins against.
    *   None (the default) enriches the whole article corpus in memory for
    *   this build and persists it; the committed write path passes the
    *   table's enriched snapshot ([[Materialize.enrichedSnapshot]]) and the
    *   serving path its cached enrichment leaf, so each enriches once, not
    *   once per build.
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
    // without resolved links (null DocArts); the pair is assembled by a
    // column select, since a typed map here would re-encode every ParsedDay,
    // the largest generated class of the build.
    val linkCols = Encoders.product[LinkedArticle].schema.fieldNames.map(col)
    val refs = days.map(pd => (pd.doc_id, docHrefs(pd)))
      .select(col("_1").as("doc_id"), explode(col("_2")).as("href"))
    val docArts = refs
      .join(articles.select(linkCols: _*), col("href") === col("url"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(linkCols: _*)).as("arts"))
    // a join on the plain doc_id keeps docArts in the partitioning its
    // aggregate left it in (a typed joinWith keys on `_2.doc_id` and
    // re-shuffles it). Hashed, not sorted: the build side holds one row per
    // day page, i.e. per calendar day of the build.
    val docJoined = days.join(docArts.hint("shuffle_hash"), Seq("doc_id"), "left_outer")
      .select(struct(days.columns.map(col): _*).as("_1"),
        when(col("arts").isNotNull, struct(col("doc_id"), col("arts"))).as("_2"))
      .as[(ParsedDay, DocArts)]
      .persist(StorageLevel.MEMORY_AND_DISK)

    val dayTriples = flatMapFused(docJoined) { case (pd, da) => emitDoc(pd, byUrl(da)) }

    // ---- article mentions → article/place/osm triples -----------------------
    val depth1 = flatMapFused(docJoined) { case (pd, da) => docMentions(pd, byUrl(da)) }
      .distinct()
    val childMentions = flatMapFused(depth1.joinWith(articles, depth1("url") === articles("url"))) {
      case (m, a) =>
        val hasPlace = a.locationFlag || m.isTopic || m.forcePlace
        if (hasPlace)
          a.childUrls.map(c => Mention(c, m.date, isTopic = false,
            forcePlace = true, traverseChildren = false))
        else Nil
    }
    val mentions = depth1.union(childMentions).distinct()
    // per mention: the article's triples, plus one probe row for its
    // Wikidata entity (pred null) that the one-hop join below expands
    val mentArts = mentions.joinWith(articles, mentions("url") === articles("url"))
    val articleTriples = flatMapFused(mentArts) { case (m, a) =>
      val ts = Emit.articleTriples(a, m.date, m.isTopic, m.forcePlace, m.traverseChildren)
      a.wdUri.fold(ts)(w => ts :+ Triple("ohg", w, null, null, obj_is_iri = false,
        null, null, m.date))
    }

    // ---- ohg module: one-hop dictionary join (the skew hotspot) ------------
    // Broadcast while the dictionary fits the executor budget; beyond that a
    // plain shuffle join would put every head entity's probe volume on one
    // task (Zipf skew), so the fallback routes through SaltedJoin (north
    // rule: broadcast dictionary join + salted skew-join fallback). The
    // threshold is a conf so specs can force either path on the same corpus.
    val onehop = flatMapFused(spark.range(p.articles)) { i =>
      if (Synth.article(p, i.toInt).wdId.isDefined) Dicts.onehopFor(i.toInt) else Nil
    }
    val isProbe = col("pred").isNull
    val bcastMaxArticles =
      spark.conf.get("graft.onehop.broadcast.maxArticles", "1000000").toInt
    val (emitted, mentionCaches) =
      if (p.articles <= bcastMaxArticles) {
        // the probe rows are the join's only keys, so the join runs inside
        // the emission stage: other rows pass with a null key and no match,
        // a probe row becomes its entity's dictionary rows (none: dropped).
        // An entity mentioned twice on a date (say at depth 1 and as a
        // child) repeats its rows into the final distinct; deduping the
        // probes first needs a second pass over the mention join, which
        // costs more codegen classes and CPU than those few rows
        val dict = onehop.select(onehop.columns.map(c => col(c).as("oh_" + c)): _*)
        val fromDict = Set("pred", "obj", "obj_is_iri", "obj_dtype", "obj_lang")
        (articleTriples
          .join(broadcast(dict), when(isProbe, col("subj")) === col("oh_subj_wd"), "left_outer")
          .filter(!isProbe || col("oh_pred").isNotNull)
          .select(Encoders.product[Triple].schema.fieldNames.map(c =>
            if (fromDict(c)) coalesce(col("oh_" + c), col(c)).as(c) else col(c)): _*)
          .as[Triple], Nil)
      } else {
        // a shuffled join cannot run inside the emission stage, so the
        // emission feeds two consumers (its triples, and the probes' hot-key
        // scan + join): persisted, so it runs once
        val cached = articleTriples.persist(StorageLevel.MEMORY_AND_DISK)
        val wdMentions = cached.filter(isProbe)
          .select(col("subj").as("subj_wd"), col("event_date")).distinct()
        val hotThreshold =
          spark.conf.get("graft.onehop.salt.hotThreshold", "10000").toLong
        val ohg = graft.plans.SaltedJoin.join(wdMentions, onehop.toDF(), "subj_wd",
            hotThreshold = hotThreshold)
          .select(lit("ohg").as("graph_module"), col("subj_wd").as("subj"),
            col("pred"), col("obj"), col("obj_is_iri"),
            col("obj_dtype"), col("obj_lang"), col("event_date"))
          .as[Triple]
        (cached.filter(!isProbe).unionByName(ohg), Seq(cached))
      }

    val out = dayTriples
      .unionByName(emitted)
      .dropDuplicates() // D1: rdflib graph set semantics

    Build(out, Seq(days, docJoined) ++ mentionCaches ++ enrichCaches)
  }
}
