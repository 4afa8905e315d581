package graft.kg

/** Row-level triple materialization replicating the reference's store shapes
  * (outputRdf.py:414-612 storeEvent / storeTopic / __add_article_triples /
  * __add_place / __addCoordinates / __addOsmElement). Pure functions —
  * executed inside flatMap stages; all set semantics come from the final
  * distinct.
  */
object Emit {

  /** A day doc's view of one linked article: exactly the fields event and
    * topic emission read (outputRdf.py:62-136), so the day-doc join moves
    * this projection; full article triples are emitted via the mentions
    * path.
    */
  case class LinkedArticle(url: String, wdUri: Option[String], locationFlag: Boolean,
      parentLocUris: Seq[String], classes: Seq[ClassLabel],
      microDtstart: Option[String], microDtend: Option[String],
      timeRows: Seq[IbTimeRow], dateRows: Seq[IbDateRow])

  object LinkedArticle {
    def of(a: EnrichedArticle): LinkedArticle = LinkedArticle(a.url, a.wdUri,
      a.locationFlag, a.parentLocUris, a.classes, a.microDtstart, a.microDtend,
      a.timeRows, a.dateRows)
  }

  /** Per-doc view of a topic after article resolution (URI depends on the
    * resolved article, outputRdf.py:80-89).
    */
  case class TopicInfo(topicId: Long, uri: String, artUrl: Option[String],
      classes: Seq[ClassLabel], parentIds: Seq[Long])

  import Ns._

  private def iri(m: String, s: String, p: String, o: String, date: String): Triple =
    Triple(m, s, p, o, obj_is_iri = true, null, null, date)
  private def lit(m: String, s: String, p: String, o: String, dtype: String, date: String): Triple =
    Triple(m, s, p, o, obj_is_iri = false, dtype, null, date)
  private def litLang(m: String, s: String, p: String, o: String, lang: String, date: String): Triple =
    Triple(m, s, p, o, obj_is_iri = false, null, lang, date)

  /** str(None) = "None" — the reference passes raw Python values through
    * str() when minting literals, so absent names become "None"
    * (e.g. outputRdf.py:341).
    */
  private def pyStr(o: Option[String]): String = o.getOrElse("None")

  def mentionDateLit(date: String): String = date + "T00:00:00"

  // ---- event types (P6): BFS up the topic hierarchy, first non-empty level
  // (extraction.py:291-304); per-id merge like dict |=.
  def eventTypes(parentIds: Seq[Long], topics: Map[Long, TopicInfo]): Seq[ClassLabel] = {
    // no round cap: `seen` makes each level strictly new, so the walk
    // terminates in <= |topics| rounds even on a cyclic parent graph — a cap
    // here could only ever turn a deep-but-valid hierarchy into silently
    // missing hasWikidataEventType triples (the kg04 silent-cap lesson)
    var level = parentIds
    var seen = Set.empty[Long]
    var out = Seq.empty[ClassLabel]
    while (level.nonEmpty && out.isEmpty) {
      val infos = level.flatMap(topics.get)
      out = infos.flatMap(_.classes).distinctBy(_.id)
      seen ++= level
      level = infos.flatMap(_.parentIds).filterNot(seen.contains)
    }
    out
  }

  // ---- storeEvent (outputRdf.py:418-561) ----------------------------------
  def eventTriples(e: KEvent, topics: Map[Long, TopicInfo],
      arts: Map[String, LinkedArticle]): Seq[Triple] = {
    val d = e.date
    val out = Seq.newBuilder[Triple]
    val eventUri = Uris.eventUri(d, e.eventIndex)
    val contextUri = Uris.contextUri(d, e.eventIndex)

    out += iri("base", eventUri, rdfType, COY + "NewsSummary", d)
    out += iri("base", eventUri, rdfType, COY + "WikiNews", d)
    out += iri("base", eventUri, rdfType, COY + "Event", d)
    out += lit("base", eventUri, rdfsLabel, e.text, xsdString, d)
    out += iri("base", eventUri, COY + "isIdentifiedBy", contextUri, d)
    e.category.foreach(c => out += lit("base", eventUri, COY + "hasTag", c, xsdString, d))
    out += lit("base", eventUri, COY + "hasMentionDate", mentionDateLit(d), xsdDateTime, d)
    out += lit("raw", eventUri, COY + "hasRawHtml", e.raw, xsdString, d)

    for (pid <- e.parentTopicIds; pt <- topics.get(pid))
      out += iri("base", eventUri, COY + "isOccuringDuring", pt.uri, d)

    for (cl <- eventTypes(e.parentTopicIds, topics)) {
      out += iri("base", eventUri, COY + "hasWikidataEventType", WD + cl.id, d)
      out += lit("base", WD + cl.id, rdfsLabel, cl.label, xsdString, d)
    }

    // context node
    out += iri("base", contextUri, rdfType, NIF + "Context", d)
    out += lit("base", contextUri, rdfsLabel, e.text, xsdString, d)
    out += lit("base", contextUri, NIF + "isString", e.text, xsdString, d)
    out += lit("base", contextUri, NIF + "beginIndex", "0", xsdNonNegativeInteger, d)
    out += lit("base", contextUri, NIF + "endIndex", e.text.length.toString, xsdNonNegativeInteger, d)
    out += iri("base", contextUri, NIF + "sourceUrl", e.sourceUrl, d)
    out += iri("base", e.sourceUrl, rdfType, FOAF + "Document", d)

    for (l <- e.sourceLinks) {
      out += iri("base", contextUri, DCTERMS + "source", l.href, d)
      out += iri("base", l.href, rdfType, COY + "News", d)
      out += lit("base", l.href, rdfsLabel, l.text, xsdString, d)
    }
    for (r <- e.refs) {
      out += iri("base", contextUri, DCTERMS + "source", r.url, d)
      out += iri("base", r.url, rdfType, COY + "News", d)
      out += lit("base", r.url, rdfsLabel, r.anchorText, xsdString, d)
    }

    // J10 prep: located wd entities of all sentence-linked articles
    val linkedArts = e.sentences.flatMap(_.links).flatMap(l => arts.get(l.href))
    val wdLocUris = linkedArts.filter(a => a.wdUri.isDefined && a.locationFlag).map(_.wdUri.get)
    val wd2Article = linkedArts.filter(_.wdUri.isDefined).map(a => a.wdUri.get -> a).toMap

    var lastSentenceUri: String = null
    for ((sentence, i) <- e.sentences.zipWithIndex) {
      val sUri = Uris.sentenceUri(contextUri, i)
      out += iri("base", sUri, rdfType, NIF + "Sentence", d)
      out += lit("base", sUri, rdfsLabel, sentence.text, xsdString, d)
      out += iri("base", sUri, NIF + "referenceContext", contextUri, d)
      out += iri("base", contextUri, NIF + "subString", sUri, d)
      out += lit("base", sUri, NIF + "anchorOf", sentence.text, xsdString, d)
      out += lit("base", sUri, NIF + "beginIndex", sentence.start.toString, xsdNonNegativeInteger, d)
      out += lit("base", sUri, NIF + "endIndex", sentence.end.toString, xsdNonNegativeInteger, d)
      if (lastSentenceUri != null) {
        out += iri("base", sUri, NIF + "previousSentence", lastSentenceUri, d)
        out += iri("base", lastSentenceUri, NIF + "nextSentence", sUri, d)
      }
      for ((link, j) <- sentence.links.zipWithIndex) {
        val phUri = Uris.phraseUri(sUri, j)
        out += iri("base", phUri, rdfType, NIF + "Phrase", d)
        out += lit("base", phUri, rdfsLabel, link.text, xsdString, d)
        out += iri("base", phUri, NIF + "referenceContext", sUri, d)
        out += iri("base", sUri, NIF + "subString", phUri, d)
        out += lit("base", phUri, NIF + "anchorOf", link.text, xsdString, d)
        out += lit("base", phUri, NIF + "beginIndex", link.startPos.toString, xsdNonNegativeInteger, d)
        out += lit("base", phUri, NIF + "endIndex", link.endPos.toString, xsdNonNegativeInteger, d)
        for (article <- arts.get(link.href)) {
          out += iri("base", phUri, GN + "wikipediaArticle", Uris.articleUri(article.url), d)
          // parent-location linking within the event (outputRdf.py:540-557)
          for (parentWd <- article.parentLocUris) {
            if (wdLocUris.contains(parentWd) && !article.wdUri.contains(parentWd)) {
              val parentArt = wd2Article(parentWd)
              out += iri("base", Uris.placeUri(article.url), COY + "isLocatedIn",
                Uris.placeUri(parentArt.url), d)
            }
          }
        }
      }
      lastSentenceUri = sUri
    }
    out.result()
  }

  // ---- storeTopic (outputRdf.py:564-612) -----------------------------------
  def topicTriples(t: KTopic, self: TopicInfo, topics: Map[Long, TopicInfo],
      article: Option[LinkedArticle]): Seq[Triple] = {
    val d = t.date
    val out = Seq.newBuilder[Triple]
    val uri = self.uri
    out += iri("base", uri, rdfType, COY + "TextTopic", d)
    out += iri("base", uri, rdfType, COY + "WikiNews", d)
    out += iri("base", uri, rdfType, COY + "Event", d)
    out += lit("base", uri, rdfsLabel, t.text, xsdString, d)
    out += lit("base", uri, COY + "hasMentionDate", mentionDateLit(d), xsdDateTime, d)
    out += lit("raw", uri, COY + "hasRawHtml", t.raw, xsdString, d)
    for (pid <- t.parentTopicIds; pt <- topics.get(pid))
      out += iri("base", uri, COY + "isOccuringDuring", pt.uri, d)
    article.foreach { a =>
      out += iri("base", uri, rdfType, COY + "ArticleTopic", d)
      out += iri("base", uri, GN + "wikipediaArticle", Uris.articleUri(a.url), d)
      // place is always emitted for topic articles (is_topic_article=True)
      out += iri("base", uri, COY + "hasLocation", Uris.placeUri(a.url), d)
      Timespan.build(a.microDtstart, a.microDtend, a.dateRows, a.timeRows).foreach { ts =>
        out += iri("base", uri, COY + "hasTimespan", ts.uri, d)
        out += iri("base", ts.uri, rdfType, COY + "Timespan", d)
        out += lit("base", ts.uri, rdfsLabel, ts.label, xsdString, d)
        ts.startDate.foreach(sd =>
          out += lit("base", ts.uri, COY + "hasStartDate", sd.isoformat, xsdDateTime, d))
        ts.endDate match {
          case Some(ed) =>
            out += lit("base", ts.uri, COY + "hasEndDate", ed.isoformat, xsdDateTime, d)
          case None if ts.ongoing =>
            out += lit("base", ts.uri, COY + "hasOngoingSpan", "true", xsdBoolean, d)
          case None => ()
        }
        ts.startTime.foreach(st =>
          out += lit("base", ts.uri, COY + "hasStartTimestamp", st.pyStr, xsdTime, d))
        ts.endTime.foreach(et =>
          out += lit("base", ts.uri, COY + "hasEndTimestamp", et.pyStr, xsdTime, d))
      }
    }
    out.result()
  }

  // ---- __addCoordinates (outputRdf.py:139-152) -----------------------------
  private def coordinateTriples(parentUri: String, c: Seq[Double], d: String): Seq[Triple] = {
    val lat = Uris.pyFloat(c(0))
    val lon = Uris.pyFloat(c(1))
    val pUri = Ns.point + Uris.quotePlus(s"${lat}_$lon")
    Seq(
      iri("base", parentUri, GEO + "hasGeometry", pUri, d),
      iri("base", pUri, rdfType, WGS + "Point", d),
      lit("base", pUri, rdfsLabel, s"$lat,$lon", xsdString, d),
      lit("base", pUri, WGS + "lat", lat, xsdFloat, d),
      lit("base", pUri, WGS + "long", lon, xsdFloat, d),
      lit("base", parentUri, COY + "hasLatitude", lat, xsdDecimal, d),
      lit("base", parentUri, COY + "hasLongitude", lon, xsdDecimal, d))
  }

  // ---- __addOsmElement (outputRdf.py:155-168) ------------------------------
  private def osmElementTriples(target: String, el: KOsmElement, d: String): Seq[Triple] = {
    val uri = Uris.osmUri(el.osmType, el.osmId)
    Seq(
      iri("osm", target, COY + "hasOsmElement", uri, d),
      iri("osm", uri, rdfType, COY + "OsmElement", d),
      lit("osm", uri, rdfsLabel, s"${el.osmType} ${el.osmId}", xsdString, d),
      lit("osm", uri, COY + "hasOsmType", el.osmType, xsdString, d),
      lit("osm", uri, COY + "hasOsmId", el.osmId.toString, xsdInteger, d),
      lit("osm", uri, GEO + "asWKT", el.wkt, geoWktLiteral, d))
  }

  /** __add_article_triples + __add_place for one (article, date, context)
    * mention (outputRdf.py:333-407, 175-192). `traverseChildren` is true only
    * for depth-1 mentions (the reference's recursion budget).
    */
  def articleTriples(a: EnrichedArticle, d: String, isTopic: Boolean,
      forcePlace: Boolean, traverseChildren: Boolean): Seq[Triple] = {
    val out = Seq.newBuilder[Triple]
    val artUri = Uris.articleUri(a.url)

    out += iri("base", artUri, rdfType, GN + "WikipediaArticle", d)
    out += lit("base", artUri, rdfsLabel, pyStr(a.name), xsdString, d)
    out += iri("base", a.url, rdfType, FOAF + "Document", d)
    out += iri("base", artUri, DCTERMS + "source", a.url, d)
    out += lit("raw", artUri, COY + "hasRawHtml", a.rawInfobox, xsdString, d)

    val hasPlace = a.locationFlag || isTopic || forcePlace
    if (hasPlace) {
      val placeUri = Uris.placeUri(a.url)
      out += iri("base", placeUri, rdfType, COY + "Location", d)
      out += lit("base", placeUri, rdfsLabel, pyStr(a.name), xsdString, d)
      a.locValue.foreach(v =>
        out += lit("base", placeUri, COY + "isIdentifiedBy", v, xsdString, d))
      if (traverseChildren) {
        for (child <- a.childUrls)
          out += iri("base", placeUri, COY + "isLocatedIn", Uris.placeUri(child), d)
      }
      out += iri("base", placeUri, GN + "wikipediaArticle", artUri, d)
      if (a.pageCoordinates.size == 2) out ++= coordinateTriples(placeUri, a.pageCoordinates, d)
      if (a.ibCoordinates.size == 2) out ++= coordinateTriples(placeUri, a.ibCoordinates, d)
      a.wdUri.foreach(w => out += iri("base", placeUri, owlSameAs, w, d))
    }

    a.wdUri.foreach { w =>
      for (el <- a.osmElements) out ++= osmElementTriples(w, el, d)
      out += iri("base", artUri, owlSameAs, w, d)
      // class labels into the ohg module (outputRdf.py:377-380)
      for (cl <- a.classes)
        out += lit("ohg", WD + cl.id, rdfsLabel, cl.label, xsdString, d)
    }

    a.datePublished.foreach(v => out += lit("base", artUri, SCHEMA + "datePublished", v, xsdDateTime, d))
    a.dateModified.foreach(v => out += lit("base", artUri, SCHEMA + "dateModified", v, xsdDateTime, d))
    a.name.foreach(v => out += lit("base", artUri, SCHEMA + "name", v, xsdString, d))
    a.headline.foreach(v => out += lit("base", artUri, SCHEMA + "headline", v, xsdString, d))

    // OSM elements of the location-row value links (outputRdf.py:397-400)
    for (w <- a.locLinkWkts)
      out ++= osmElementTriples(artUri, KOsmElement(w.osmId, w.osmType, w.wkt), d)

    out.result()
  }
}
