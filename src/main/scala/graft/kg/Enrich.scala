package graft.kg

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, collect_set, sort_array}

/** Enriched article after the dictionary joins J1-J7 (SURVEY.md §2.4):
  * Wikidata P31 classes + labels, parent locations, OSM elements (via
  * Nominatim), Falcon2 entities (via wd→wp, location-flag filtered), and the
  * resolved location-row child articles (the reference's bounded
  * `article_recursions=2`, unrolled — children lists are traversed only for
  * depth-1 mentions).
  */
case class ClassLabel(id: String, label: String)
case class LocLinkWkt(osmId: Long, osmType: String, wkt: String)
case class EnrichedArticle(
    url: String,
    name: Option[String],
    headline: Option[String],
    datePublished: Option[String],
    dateModified: Option[String],
    wdUri: Option[String],
    locationFlag: Boolean,
    pageCoordinates: Seq[Double],
    ibCoordinates: Seq[Double],
    rawInfobox: String,
    locLabel: Option[String],
    locValue: Option[String],
    locLinkWkts: Seq[LocLinkWkt],
    falconEntityUris: Seq[String],
    falconDbpediaUris: Seq[String], // row-model parity (infoboxRow.py:17-22); not emitted to RDF
    classes: Seq[ClassLabel],
    parentLocUris: Seq[String],
    osmElements: Seq[KOsmElement],
    timeRows: Seq[IbTimeRow],
    dateRows: Seq[IbDateRow],
    nTimeParseErrors: Int, // lineage counters (reference articleExtractor.py:50-63)
    nDateParseErrors: Int,
    microDtstart: Option[String],
    microDtend: Option[String],
    childUrls: Seq[String])

/** Per-row (narrow) enrichment output: everything computable without the
  * wd dictionary, plus the join keys the dictionary joins consume.
  */
case class PreEnriched(
    url: String,
    name: Option[String],
    headline: Option[String],
    datePublished: Option[String],
    dateModified: Option[String],
    wdUri: Option[String],
    wdBare: Option[String], // J1-J4/J6 join key
    locationFlag: Boolean,
    pageCoordinates: Seq[Double],
    ibCoordinates: Seq[Double],
    rawInfobox: String,
    locLabel: Option[String],
    locValue: Option[String],
    locLinkWkts: Seq[LocLinkWkt],
    falconEntityUris: Seq[String], // J5/J7 join input
    falconDbpediaUris: Seq[String], // carried only (infoboxRow.py:17-22)
    timeRows: Seq[IbTimeRow],
    dateRows: Seq[IbDateRow],
    nTimeParseErrors: Int,
    nDateParseErrors: Int,
    microDtstart: Option[String],
    microDtend: Option[String],
    linkCandidates: Seq[String]) // loc-row link articles (child-flag join input)

/** Sequential dictionary bundle — the TEST ORACLE's lookup tables. The
  * production path (enrichJoined below) never builds these maps: it runs
  * Catalyst broadcast joins against the dictionary Datasets, so PipelineSpec
  * cross-validates two independent J1-J7 implementations.
  */
case class DictMaps(
    wdOsm: Map[String, (Seq[String], Seq[String])], // wd -> (rel ids, objs)
    parentLoc: Map[String, Seq[String]], // wd -> parent wds
    p31: Map[String, Seq[String]], // wd -> class ids
    classLabels: Map[String, String], // class id -> en label
    wd2wp: Map[String, String], // wd -> wp url
    artLocFlag: Map[String, Boolean], // existing article url -> location flag
    placeTemplates: Set[String],
    nArticles: Int) // corpus article-pool size (falcon dictionary domain)

object Enrich {

  private val objRe = "^(way|node)/\\d+$".r

  def bareWd(uri: String): String = Uris.urlBasename(uri)

  /** J3 + J6 shared by both paths: OSM id validation (relation ids win, elif
    * semantics articleExtractor.py:184-197; filters per
    * wikidataService.py:182-224) then Nominatim resolution.
    */
  def resolveOsm(relids: Seq[String], objs: Seq[String]): Seq[KOsmElement] = {
    val validRelids = relids.filter(r => r.nonEmpty && r.forall(_.isDigit))
    val validObjs = objs.filter(o => objRe.pattern.matcher(o).matches())
    val osmKeys =
      if (validRelids.nonEmpty) validRelids.map("relation/" + _)
      else validObjs
    osmKeys.flatMap(Dicts.nominatimFor)
  }

  /** The narrow per-row stage: location row/flag, WKT lookups, Falcon2
    * entity linking on the raw location value, typed date/time rows. No
    * dictionary joins — only the static place-template set.
    */
  def preEnrichOne(a: ArticleRaw, placeTemplates: Set[String], nArticles: Int): PreEnriched = {
    val locFlag = ArticleParser.locationFlag(a.ibClasses, a.templates, placeTemplates)
    val wdUri = a.wikidataEntity

    // location row (P13)
    val locRow = ArticleParser.locationRow(a)
    val locValue = locRow.map(_.value).filter(_.nonEmpty)
    val locLinks = locRow.map(_.links).getOrElse(Nil)

    // J6 per-link WKTs (always computed when a location value exists)
    val locLinkWkts = if (locValue.isDefined)
      locLinks.flatMap(l => Dicts.nominatimFor(l.text)).map(e => LocLinkWkt(e.osmId, e.osmType, e.wkt))
    else Nil

    // J5 Falcon2 on the raw location value text (one response carries both
    // the wikidata and the dbpedia entity lists, falcon2Service.py:72-74)
    val falconEntities = locValue.toSeq.flatMap(v => Dicts.falconEntitiesFor(nArticles, v))
    val falconDbpedia = locValue.toSeq.flatMap(v => Dicts.falconDbpediaFor(nArticles, v))

    // loc-row link children candidates (articleExtractor.py:546-550); the
    // existence/flag filters are dictionary joins downstream
    val linkCandidates = if (locValue.isDefined)
      locLinks.map(_.href).filter(DayPageParser.urlIsArticle)
    else Nil

    val (timeRows, dateRows, timeErrs, dateErrs) = ArticleParser.extractDateTimeRows(a)
    val vevent = a.ibClasses.contains("vevent")

    PreEnriched(
      url = a.url,
      name = a.name, headline = a.headline,
      datePublished = a.datePublished, dateModified = a.dateModified,
      wdUri = wdUri,
      wdBare = wdUri.map(bareWd),
      locationFlag = locFlag,
      pageCoordinates = a.pageCoordinates.getOrElse(Nil),
      ibCoordinates = a.ibCoordinates.getOrElse(Nil),
      rawInfobox = a.rawInfobox,
      locLabel = locRow.map(_.label),
      locValue = locValue,
      locLinkWkts = locLinkWkts,
      falconEntityUris = falconEntities,
      falconDbpediaUris = falconDbpedia,
      timeRows = timeRows,
      dateRows = dateRows,
      nTimeParseErrors = timeErrs,
      nDateParseErrors = dateErrs,
      microDtstart = if (vevent) a.microDtstart else None,
      microDtend = if (vevent) a.microDtend else None,
      linkCandidates = linkCandidates)
  }

  private def assemble(pre: PreEnriched, classes: Seq[ClassLabel],
      parentLocUris: Seq[String], osmElements: Seq[KOsmElement],
      childUrls: Seq[String]): EnrichedArticle =
    EnrichedArticle(
      url = pre.url,
      name = pre.name, headline = pre.headline,
      datePublished = pre.datePublished, dateModified = pre.dateModified,
      wdUri = pre.wdUri,
      locationFlag = pre.locationFlag,
      pageCoordinates = pre.pageCoordinates,
      ibCoordinates = pre.ibCoordinates,
      rawInfobox = pre.rawInfobox,
      locLabel = pre.locLabel,
      locValue = pre.locValue,
      locLinkWkts = pre.locLinkWkts,
      falconEntityUris = pre.falconEntityUris,
      falconDbpediaUris = pre.falconDbpediaUris,
      classes = classes,
      parentLocUris = parentLocUris,
      osmElements = osmElements,
      timeRows = pre.timeRows,
      dateRows = pre.dateRows,
      nTimeParseErrors = pre.nTimeParseErrors,
      nDateParseErrors = pre.nDateParseErrors,
      microDtstart = pre.microDtstart,
      microDtend = pre.microDtend,
      childUrls = childUrls)

  /** Sequential reference path (used by the test oracle): the same per-row
    * function as production, with J1-J7 as plain map lookups.
    */
  def enrichOne(a: ArticleRaw, d: DictMaps): EnrichedArticle = {
    val pre = preEnrichOne(a, d.placeTemplates, d.nArticles)

    // J4-derived P31 classes + J1 label join (en only)
    val classes = pre.wdBare.toSeq
      .flatMap(w => d.p31.getOrElse(w, Nil))
      .flatMap(c => d.classLabels.get(c).map(l => ClassLabel(c, l)))

    // J2 parent locations (keys only are consumed downstream, outputRdf.py:540-557)
    val parentLocs = pre.wdBare.toSeq.flatMap(w => d.parentLoc.getOrElse(w, Nil))
      .map(p => Ns.WD + p)

    val (relids, objs) = pre.wdBare.flatMap(d.wdOsm.get).getOrElse((Nil, Nil))
    val osmElements = resolveOsm(relids, objs)

    // children (depth+1): loc-row link articles (any flag) + falcon articles
    // (location-flag filtered, articleExtractor.py:546-550); deduped like the
    // reference's set() (outputRdf.py:185-189)
    val linkChildren = pre.linkCandidates.filter(d.artLocFlag.contains)
    val falconChildren = pre.falconEntityUris
      .flatMap(e => d.wd2wp.get(bareWd(e)))
      .filter(u => d.artLocFlag.get(u).contains(true))
    val children = (falconChildren ++ linkChildren).distinct.sorted

    assemble(pre, classes, parentLocs, osmElements, children)
  }

  /** Production path: J1-J7 as Catalyst joins against distributively-built
    * dictionary Datasets (SURVEY.md §2.4 `spark.read.parquet + broadcast()`
    * shape). Each dictionary join is broadcast while the dictionary fits the
    * conf budget (`graft.dicts.broadcast.maxArticles`, same pattern as the
    * one-hop join's gate) and falls back to a plain shuffle join beyond it —
    * PipelineSpec forces both paths and asserts identical triples.
    *
    * Plan shape: one BroadcastHashJoin fills every wd-keyed field; the child
    * resolution is explode → two broadcast joins → one hash aggregation
    * keyed by article url, joined back (the only shuffles on this side).
    *
    * Returns the enriched Dataset plus the stage caches it holds (`pre` —
    * the parsed+pre-enriched articles feed THREE consumers: the wd join, the
    * falcon-child explode and the link-child explode; unpersisted, Catalyst
    * re-parses the whole article corpus per consumer — the round-2 driver
    * throughput regression). Callers release via Build.releaseCaches once
    * the result is materialized.
    */
  def enrichJoinedTracked(parsed: Dataset[ArticleRaw], p: Synth.Params)(
      implicit spark: SparkSession): (Dataset[EnrichedArticle], Seq[Dataset[_]]) = {
    import spark.implicits._
    val nArticles = p.articles
    val pre = parsed.map(a => preEnrichOne(a, Dicts.placeTemplates, nArticles))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Broadcast gate: dictionaries are one row per wd entity / article, so
    // the article-pool size is the size proxy. Oversize → no hint → the
    // planner's shuffle join (PipelineSpec:dictShufflePath pins the fallback).
    val bcastMax =
      spark.conf.get("graft.dicts.broadcast.maxArticles", "1000000").toInt
    def gate[T](ds: Dataset[T]): Dataset[T] =
      if (p.articles <= bcastMax) broadcast(ds) else ds

    // J1/J2/J3/J4/J6 in one hash join on the wd key
    val bundles = gate(Dicts.wdBundles(spark, p))
    val withWd = pre.joinWith(bundles, pre("wdBare") === bundles("wd"), "left_outer")
    val assembled = withWd.map { case (pr, b) =>
      if (b == null) assemble(pr, Nil, Nil, Nil, Nil)
      else assemble(pr, b.classes, b.parent_loc_uris, b.osm_elements, Nil)
    }

    // J5 falcon entity → wp url (inner join = the negative cache), then the
    // location-flag membership join (flag must be true for falcon children)
    val flags = gate(Dicts.artFlagsDs(spark, p)).toDF()
    val w2w = gate(Dicts.wd2wpDs(spark, p)).toDF()
    val falconKids = pre.flatMap(r => r.falconEntityUris.map(e => (r.url, bareWd(e))))
      .toDF("url", "cwd")
      .join(w2w, col("cwd") === col("wd_id"))
      .select(col("url"), col("wp_url").as("child"))
      .join(flags, col("child") === col("art_url") && col("loc_flag"))
      .select("url", "child")
    // loc-row link children: existence is enough (any flag)
    val linkKids = pre.flatMap(r => r.linkCandidates.map(c => (r.url, c)))
      .toDF("url", "child")
      .join(flags, col("child") === col("art_url"))
      .select("url", "child")
    val kids = falconKids.unionByName(linkKids)
      .groupBy(col("url"))
      .agg(sort_array(collect_set(col("child"))).as("children")) // = distinct.sorted

    // the children replace the assembled (empty) childUrls by column: a typed
    // map here would decode and re-encode every enriched article
    val fields = Encoders.product[EnrichedArticle].schema.fieldNames
    val out = assembled.join(kids, Seq("url"), "left_outer")
      .withColumn("childUrls", coalesce(col("children"), col("childUrls")))
      .select(fields.map(col): _*)
      .as[EnrichedArticle]
    (out, Seq(pre))
  }

  def enrichJoined(parsed: Dataset[ArticleRaw], p: Synth.Params)(
      implicit spark: SparkSession): Dataset[EnrichedArticle] =
    enrichJoinedTracked(parsed, p)._1

  /** Build the sequential dictionary bundle (test oracle only). */
  def buildDicts(p: Synth.Params): DictMaps = {
    val arts = (0 until p.articles).map(i => Synth.article(p, i))
    val withWd = arts.filter(a => a.wdId.isDefined)
    DictMaps(
      wdOsm = withWd.map(a => a.wdId.get -> Dicts.osmFor(a.idx)).toMap,
      parentLoc = withWd.flatMap(a => Dicts.parentLocFor(p, a.idx))
        .groupBy(_.child_wd).view.mapValues(_.map(_.parent_wd)).toMap,
      p31 = withWd.map(a => a.wdId.get -> Dicts.p31ClassesFor(a.idx)).toMap,
      classLabels = Dicts.classLabels.filter(_.lang == "en").map(l => l.wd_id -> l.label).toMap,
      wd2wp = withWd.filter(a => a.exists && !a.isNamespace)
        .map(a => a.wdId.get -> a.url).toMap,
      artLocFlag = arts.filter(a => a.exists && !a.isNamespace)
        .map(a => a.url -> ArticleParser.locationFlag(
          a.ibClasses, a.templates, Dicts.placeTemplates)).toMap,
      placeTemplates = Dicts.placeTemplates,
      nArticles = p.articles)
  }
}
