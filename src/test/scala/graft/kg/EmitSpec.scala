package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed golden triples for one small event — first-principles check
  * of the storeEvent shapes (outputRdf.py:418-561) independent of the synth
  * generator and the sequential oracle.
  */
class EmitSpec extends AnyFunSuite {

  private val d = "2022-01-05"
  private val ev = Uris.eventUri(d, 3)
  private val ctx = Uris.contextUri(d, 3)

  private def mkEvent: KEvent = {
    val link = KLink("https://en.wikipedia.org/wiki/CityX", "CityX", 11, 16, external = false)
    val text = "Quake hits CityX. "
    KEvent(
      doc_id = "day:2022-01-05", date = d, eventIndex = 3,
      category = Some("Disasters and accidents"),
      text = text, sourceText = "(Reuters)",
      sourceUrl = "https://en.wikipedia.org/wiki/Portal:Current_events/January_2022",
      raw = "[raw]",
      sentences = Seq(KSentence("Quake hits CityX. ", 0, 18, Seq(link))),
      links = Seq(link),
      sourceLinks = Seq(KLink("https://news.example.org/r/1", "(Reuters)", 19, 28, external = true)),
      refs = Seq(KReference(2, "https://news.example.org/cite/9", "Cited story")),
      parentTopicIds = Seq(0L))
  }

  private val topicInfo = Emit.TopicInfo(0L, Uris.articleTopicUri("https://en.wikipedia.org/wiki/Storm_q"),
    Some("https://en.wikipedia.org/wiki/Storm_q"),
    Seq(ClassLabel("Q7", "instance class 7")), Nil)

  /** The fixture article's link view, with the fields event emission reads. */
  private def link(url: String, wd: String, located: Boolean,
      parents: Seq[String] = Nil): Emit.LinkedArticle =
    Emit.LinkedArticle.of(mkArticle(url).copy(wdUri = Some(wd), locationFlag = located,
      parentLocUris = parents))

  test("storeEvent golden shapes") {
    val got = Emit.eventTriples(mkEvent, Map(0L -> topicInfo),
      Map("https://en.wikipedia.org/wiki/CityX" ->
        link("https://en.wikipedia.org/wiki/CityX", Ns.WD + "Q205", located = true))).toSet

    def iri(s: String, p: String, o: String) = Triple("base", s, p, o, true, null, null, d)
    def str(s: String, p: String, o: String) = Triple("base", s, p, o, false, Ns.xsdString, null, d)
    def nni(s: String, p: String, o: String) =
      Triple("base", s, p, o, false, Ns.xsdNonNegativeInteger, null, d)

    val sent = Ns.sentences + "2022-01-05_3_0"
    val phrase = Ns.phrases + "2022-01-05_3_0_0"
    val expected = Set(
      iri(ev, Ns.rdfType, Ns.COY + "NewsSummary"),
      iri(ev, Ns.rdfType, Ns.COY + "WikiNews"),
      iri(ev, Ns.rdfType, Ns.COY + "Event"),
      str(ev, Ns.rdfsLabel, "Quake hits CityX. "),
      iri(ev, Ns.COY + "isIdentifiedBy", ctx),
      str(ev, Ns.COY + "hasTag", "Disasters and accidents"),
      Triple("base", ev, Ns.COY + "hasMentionDate", "2022-01-05T00:00:00", false, Ns.xsdDateTime, null, d),
      Triple("raw", ev, Ns.COY + "hasRawHtml", "[raw]", false, Ns.xsdString, null, d),
      iri(ev, Ns.COY + "isOccuringDuring", Ns.articleTopics + "Storm_q"),
      iri(ev, Ns.COY + "hasWikidataEventType", Ns.WD + "Q7"),
      str(Ns.WD + "Q7", Ns.rdfsLabel, "instance class 7"),
      // context node
      iri(ctx, Ns.rdfType, Ns.NIF + "Context"),
      str(ctx, Ns.rdfsLabel, "Quake hits CityX. "),
      str(ctx, Ns.NIF + "isString", "Quake hits CityX. "),
      nni(ctx, Ns.NIF + "beginIndex", "0"),
      nni(ctx, Ns.NIF + "endIndex", "18"),
      iri(ctx, Ns.NIF + "sourceUrl", "https://en.wikipedia.org/wiki/Portal:Current_events/January_2022"),
      iri("https://en.wikipedia.org/wiki/Portal:Current_events/January_2022", Ns.rdfType, Ns.FOAF + "Document"),
      // news sources: trailing "(Reuters)" + cite reference
      iri(ctx, Ns.DCTERMS + "source", "https://news.example.org/r/1"),
      iri("https://news.example.org/r/1", Ns.rdfType, Ns.COY + "News"),
      str("https://news.example.org/r/1", Ns.rdfsLabel, "(Reuters)"),
      iri(ctx, Ns.DCTERMS + "source", "https://news.example.org/cite/9"),
      iri("https://news.example.org/cite/9", Ns.rdfType, Ns.COY + "News"),
      str("https://news.example.org/cite/9", Ns.rdfsLabel, "Cited story"),
      // sentence
      iri(sent, Ns.rdfType, Ns.NIF + "Sentence"),
      str(sent, Ns.rdfsLabel, "Quake hits CityX. "),
      iri(sent, Ns.NIF + "referenceContext", ctx),
      iri(ctx, Ns.NIF + "subString", sent),
      str(sent, Ns.NIF + "anchorOf", "Quake hits CityX. "),
      nni(sent, Ns.NIF + "beginIndex", "0"),
      nni(sent, Ns.NIF + "endIndex", "18"),
      // phrase
      iri(phrase, Ns.rdfType, Ns.NIF + "Phrase"),
      str(phrase, Ns.rdfsLabel, "CityX"),
      iri(phrase, Ns.NIF + "referenceContext", sent),
      iri(sent, Ns.NIF + "subString", phrase),
      str(phrase, Ns.NIF + "anchorOf", "CityX"),
      nni(phrase, Ns.NIF + "beginIndex", "11"),
      nni(phrase, Ns.NIF + "endIndex", "16"),
      iri(phrase, Ns.GN + "wikipediaArticle", Ns.wikipediaArticle + "CityX"))

    val missing = expected -- got
    val extra = got -- expected
    assert(missing.isEmpty, s"missing: ${missing.take(5)}")
    assert(extra.isEmpty, s"extra: ${extra.take(5)}")
  }

  test("multi-sentence golden: previous/nextSentence chain") {
    val s1 = KSentence("Quake hits. ", 0, 12, Nil)
    val s2 = KSentence("Aid arrives. ", 12, 25, Nil)
    val e = mkEvent.copy(text = "Quake hits. Aid arrives. ",
      sentences = Seq(s1, s2), links = Nil)
    val got = Emit.eventTriples(e, Map(0L -> topicInfo), Map.empty).toSet
    val su0 = Uris.sentenceUri(ctx, 0)
    val su1 = Uris.sentenceUri(ctx, 1)
    // the chain links exist exactly between consecutive sentences
    assert(got.contains(Triple("base", su1, Ns.NIF + "previousSentence", su0, true, null, null, d)))
    assert(got.contains(Triple("base", su0, Ns.NIF + "nextSentence", su1, true, null, null, d)))
    assert(got.count(t => t.pred == Ns.NIF + "previousSentence" ||
      t.pred == Ns.NIF + "nextSentence") == 2)
  }

  test("parent-location golden: linked place isLocatedIn its parent, no reflexive link (outputRdf.py:540-557)") {
    val cityUrl = "https://en.wikipedia.org/wiki/CityX"
    val countryUrl = "https://en.wikipedia.org/wiki/CountryZ"
    val townUrl = "https://en.wikipedia.org/wiki/TownY"
    val links = Seq(
      KLink(cityUrl, "CityX", 11, 16, external = false),
      KLink(countryUrl, "CountryZ", 20, 28, external = false),
      KLink(townUrl, "TownY", 33, 38, external = false))
    val text = "Quake hits CityX in CountryZ and TownY. "
    val e = mkEvent.copy(text = text,
      sentences = Seq(KSentence(text, 0, 40, links)), links = links)
    // CityX's parents: its own wd (reflexive — excluded), CountryZ's wd
    // (located article in the same event — linked), TownY's wd (linked in
    // the event but NOT location-flagged — excluded), Q777 (not in the
    // event at all — excluded)
    val city = link(cityUrl, Ns.WD + "Q205", located = true,
      parents = Seq(Ns.WD + "Q205", Ns.WD + "Q999", Ns.WD + "Q555", Ns.WD + "Q777"))
    val country = link(countryUrl, Ns.WD + "Q999", located = true)
    val town = link(townUrl, Ns.WD + "Q555", located = false)
    val got = Emit.eventTriples(e, Map(0L -> topicInfo),
      Map(cityUrl -> city, countryUrl -> country, townUrl -> town)).toSet
    val located = got.filter(_.pred == Ns.COY + "isLocatedIn")
    assert(located == Set(Triple("base", Uris.placeUri(cityUrl),
      Ns.COY + "isLocatedIn", Uris.placeUri(countryUrl), true, null, null, d)))
  }

  private def mkArticle(url: String): EnrichedArticle = EnrichedArticle(
    url = url,
    name = Some("City X"), headline = Some("About City X"),
    datePublished = Some("2021-12-01T08:00:00Z"), dateModified = None,
    wdUri = Some(Ns.WD + "Q205"),
    locationFlag = true,
    pageCoordinates = Seq(36.25, -3.5), ibCoordinates = Nil,
    rawInfobox = "[ib]",
    locLabel = Some("Location"), locValue = Some("Region 7"),
    locLinkWkts = Seq(LocLinkWkt(42L, "way", "POINT(1.0 2.0)")),
    falconEntityUris = Nil,
    falconDbpediaUris = Nil,
    classes = Seq(ClassLabel("Q7", "instance class 7")),
    parentLocUris = Nil,
    osmElements = Seq(KOsmElement(62422L, "relation", "POINT(3.0 4.0)")),
    timeRows = Nil, dateRows = Nil,
    nTimeParseErrors = 0, nDateParseErrors = 0,
    microDtstart = None, microDtend = None,
    childUrls = Seq("https://en.wikipedia.org/wiki/Child_y"))

  test("storeTopic golden shapes (outputRdf.py:564-612)") {
    val url = "https://en.wikipedia.org/wiki/Storm_q"
    val topicUri = Uris.articleTopicUri(url)
    val parent = Emit.TopicInfo(7L, Uris.textTopicUri("parent topic"), None, Nil, Nil)
    val t = KTopic("day:2022-01-05", 0L, d, 1, "Storm q", Some(url),
      parentTopicIds = Seq(7L), sourceUrl = "src", raw = "[raw-t]")
    val self = Emit.TopicInfo(0L, topicUri, Some(url), Nil, Seq(7L))
    val got = Emit.topicTriples(t, self, Map(7L -> parent),
      Some(Emit.LinkedArticle.of(mkArticle(url)))).toSet

    def iri(s: String, p: String, o: String) = Triple("base", s, p, o, true, null, null, d)
    def str(s: String, p: String, o: String) = Triple("base", s, p, o, false, Ns.xsdString, null, d)
    val expected = Set(
      iri(topicUri, Ns.rdfType, Ns.COY + "TextTopic"),
      iri(topicUri, Ns.rdfType, Ns.COY + "WikiNews"),
      iri(topicUri, Ns.rdfType, Ns.COY + "Event"),
      str(topicUri, Ns.rdfsLabel, "Storm q"),
      Triple("base", topicUri, Ns.COY + "hasMentionDate", "2022-01-05T00:00:00",
        false, Ns.xsdDateTime, null, d),
      Triple("raw", topicUri, Ns.COY + "hasRawHtml", "[raw-t]", false, Ns.xsdString, null, d),
      iri(topicUri, Ns.COY + "isOccuringDuring", Uris.textTopicUri("parent topic")),
      // article-linked topic: ArticleTopic type + article edge + place
      iri(topicUri, Ns.rdfType, Ns.COY + "ArticleTopic"),
      iri(topicUri, Ns.GN + "wikipediaArticle", Uris.articleUri(url)),
      iri(topicUri, Ns.COY + "hasLocation", Uris.placeUri(url)))
    assert((expected -- got).isEmpty, s"missing: ${(expected -- got).take(5)}")
    assert((got -- expected).isEmpty, s"extra: ${(got -- expected).take(5)}")
  }

  test("article + place golden shapes (outputRdf.py:333-407, 175-192)") {
    val url = "https://en.wikipedia.org/wiki/CityX"
    val a = mkArticle(url)
    val got = Emit.articleTriples(a, d, isTopic = false, forcePlace = false,
      traverseChildren = true).toSet

    val art = Uris.articleUri(url)
    val place = Uris.placeUri(url)
    val osm = Uris.osmUri("relation", 62422L)
    val losm = Uris.osmUri("way", 42L)
    val point = Ns.point + Uris.quotePlus("36.25_-3.5")
    def iri(s: String, p: String, o: String) = Triple("base", s, p, o, true, null, null, d)
    def str(s: String, p: String, o: String) = Triple("base", s, p, o, false, Ns.xsdString, null, d)
    def oiri(s: String, p: String, o: String) = Triple("osm", s, p, o, true, null, null, d)
    def olit(s: String, p: String, o: String, dt: String) = Triple("osm", s, p, o, false, dt, null, d)
    val expected = Set(
      iri(art, Ns.rdfType, Ns.GN + "WikipediaArticle"),
      str(art, Ns.rdfsLabel, "City X"),
      iri(url, Ns.rdfType, Ns.FOAF + "Document"),
      iri(art, Ns.DCTERMS + "source", url),
      Triple("raw", art, Ns.COY + "hasRawHtml", "[ib]", false, Ns.xsdString, null, d),
      // place (locationFlag=true)
      iri(place, Ns.rdfType, Ns.COY + "Location"),
      str(place, Ns.rdfsLabel, "City X"),
      str(place, Ns.COY + "isIdentifiedBy", "Region 7"),
      iri(place, Ns.COY + "isLocatedIn", Uris.placeUri("https://en.wikipedia.org/wiki/Child_y")),
      iri(place, Ns.GN + "wikipediaArticle", art),
      iri(place, Ns.owlSameAs, Ns.WD + "Q205"),
      // page coordinates → point node (outputRdf.py:139-152)
      iri(place, Ns.GEO + "hasGeometry", point),
      iri(point, Ns.rdfType, Ns.WGS + "Point"),
      str(point, Ns.rdfsLabel, "36.25,-3.5"),
      Triple("base", point, Ns.WGS + "lat", "36.25", false, Ns.xsdFloat, null, d),
      Triple("base", point, Ns.WGS + "long", "-3.5", false, Ns.xsdFloat, null, d),
      Triple("base", place, Ns.COY + "hasLatitude", "36.25", false, Ns.xsdDecimal, null, d),
      Triple("base", place, Ns.COY + "hasLongitude", "-3.5", false, Ns.xsdDecimal, null, d),
      // wd side: osm element on the wd entity + sameAs + ohg class label
      oiri(Ns.WD + "Q205", Ns.COY + "hasOsmElement", osm),
      oiri(osm, Ns.rdfType, Ns.COY + "OsmElement"),
      olit(osm, Ns.rdfsLabel, "relation 62422", Ns.xsdString),
      olit(osm, Ns.COY + "hasOsmType", "relation", Ns.xsdString),
      olit(osm, Ns.COY + "hasOsmId", "62422", Ns.xsdInteger),
      olit(osm, Ns.GEO + "asWKT", "POINT(3.0 4.0)", Ns.geoWktLiteral),
      iri(art, Ns.owlSameAs, Ns.WD + "Q205"),
      Triple("ohg", Ns.WD + "Q7", Ns.rdfsLabel, "instance class 7", false, Ns.xsdString, null, d),
      // schema.org metadata
      Triple("base", art, Ns.SCHEMA + "datePublished", "2021-12-01T08:00:00Z",
        false, Ns.xsdDateTime, null, d),
      str(art, Ns.SCHEMA + "name", "City X"),
      str(art, Ns.SCHEMA + "headline", "About City X"),
      // loc-row link WKT OSM element attached to the ARTICLE uri (outputRdf.py:397-400)
      oiri(art, Ns.COY + "hasOsmElement", losm),
      oiri(losm, Ns.rdfType, Ns.COY + "OsmElement"),
      olit(losm, Ns.rdfsLabel, "way 42", Ns.xsdString),
      olit(losm, Ns.COY + "hasOsmType", "way", Ns.xsdString),
      olit(losm, Ns.COY + "hasOsmId", "42", Ns.xsdInteger),
      olit(losm, Ns.GEO + "asWKT", "POINT(1.0 2.0)", Ns.geoWktLiteral))
    assert((expected -- got).isEmpty, s"missing: ${(expected -- got).take(5)}")
    assert((got -- expected).isEmpty, s"extra: ${(got -- expected).take(8)}")
  }

  test("timespan slot-fill golden triples: dtstart + date-row time merge (outputRdf.py:193-329)") {
    import DateTimeParse._
    // dtstart fills start first; the date row merges ONLY its time-of-day
    // into it (has_time(start)=false, has_time(row)=true); start-only ⇒
    // end := start (point in time). Label records dtstart + the merged row.
    val url = "https://en.wikipedia.org/wiki/Storm_q"
    val a = mkArticle(url).copy(
      microDtstart = Some("2022-01-05"), microDtend = None,
      dateRows = Seq(IbDateRow("Date", "5 January 2022 13:30",
        Some(KDateTime(2022, 1, 5, 13, 30)), None, ongoing = false)),
      timeRows = Nil)
    val topicUri = Uris.articleTopicUri(url)
    val self = Emit.TopicInfo(0L, topicUri, Some(url), Nil, Nil)
    val t = KTopic("day:2022-01-05", 0L, d, 1, "Storm q", Some(url), Nil, "src", "[raw-t]")
    val got = Emit.topicTriples(t, self, Map.empty, Some(Emit.LinkedArticle.of(a))).toSet
      .filter(tr => tr.pred == Ns.COY + "hasTimespan" || tr.subj.startsWith(Ns.timespan))

    val ts = Uris.timespanUri(Some("2022-01-05 13:30:00"), Some("2022-01-05 13:30:00"),
      ongoing = false, None, None, None)
    def iri(s: String, p: String, o: String) = Triple("base", s, p, o, true, null, null, d)
    def lit(s: String, p: String, o: String, dt: String) = Triple("base", s, p, o, false, dt, null, d)
    val expected = Set(
      iri(topicUri, Ns.COY + "hasTimespan", ts),
      iri(ts, Ns.rdfType, Ns.COY + "Timespan"),
      lit(ts, Ns.rdfsLabel,
        "dtstart: 2022-01-05 00:00:00\nDate: 5 January 2022 13:30\n", Ns.xsdString),
      lit(ts, Ns.COY + "hasStartDate", "2022-01-05T13:30:00", Ns.xsdDateTime),
      lit(ts, Ns.COY + "hasEndDate", "2022-01-05T13:30:00", Ns.xsdDateTime))
    assert(got == expected,
      s"missing: ${(expected -- got).take(5)}; extra: ${(got -- expected).take(5)}")
  }

  test("timespan slot-fill golden triples: ongoing + time row with tz") {
    import DateTimeParse._
    // date row sets start + ongoing; the time row then fills start's
    // time-of-day AND mints an end from start's date (end wins over the
    // ongoing flag in emission: hasEndDate, no hasOngoingSpan); its tz
    // propagates to both slots AFTER the fold (outputRdf.py:306-311).
    val url = "https://en.wikipedia.org/wiki/Storm_q"
    val a = mkArticle(url).copy(
      microDtstart = None, microDtend = None,
      dateRows = Seq(IbDateRow("Date", "17 January 2022 - present",
        Some(KDateTime(2022, 1, 17)), None, ongoing = true)),
      timeRows = Seq(IbTimeRow("Time", "14:29 - 14:50 (UTC+4:00)",
        KTime(14, 29, Some(240)), Some(KTime(14, 50, Some(240))))))
    val topicUri = Uris.articleTopicUri(url)
    val self = Emit.TopicInfo(0L, topicUri, Some(url), Nil, Nil)
    val t = KTopic("day:2022-01-05", 0L, d, 1, "Storm q", Some(url), Nil, "src", "[raw-t]")
    val got = Emit.topicTriples(t, self, Map.empty, Some(Emit.LinkedArticle.of(a))).toSet
      .filter(tr => tr.pred == Ns.COY + "hasTimespan" || tr.subj.startsWith(Ns.timespan))

    val ts = Uris.timespanUri(Some("2022-01-17 14:29:00+04:00"),
      Some("2022-01-17 14:50:00+04:00"), ongoing = true, None, None, Some("UTC+04:00"))
    def iri(s: String, p: String, o: String) = Triple("base", s, p, o, true, null, null, d)
    def lit(s: String, p: String, o: String, dt: String) = Triple("base", s, p, o, false, dt, null, d)
    val expected = Set(
      iri(topicUri, Ns.COY + "hasTimespan", ts),
      iri(ts, Ns.rdfType, Ns.COY + "Timespan"),
      lit(ts, Ns.rdfsLabel,
        "Date: 17 January 2022 - present\nTime: 14:29 - 14:50 (UTC+4:00)\n", Ns.xsdString),
      lit(ts, Ns.COY + "hasStartDate", "2022-01-17T14:29:00+04:00", Ns.xsdDateTime),
      lit(ts, Ns.COY + "hasEndDate", "2022-01-17T14:50:00+04:00", Ns.xsdDateTime))
    assert(got == expected,
      s"missing: ${(expected -- got).take(5)}; extra: ${(got -- expected).take(5)}")
  }

  test("timespan slot-fill golden triples: no dates — standalone time slots") {
    import DateTimeParse._
    // no date slots at all: times land in the standalone start/end time
    // slots as xsd:time triples; ongoing never set ⇒ no date triples.
    val url = "https://en.wikipedia.org/wiki/Storm_q"
    val a = mkArticle(url).copy(
      microDtstart = None, microDtend = None, dateRows = Nil,
      timeRows = Seq(IbTimeRow("Time", "13:05", KTime(13, 5, None), None)))
    val topicUri = Uris.articleTopicUri(url)
    val self = Emit.TopicInfo(0L, topicUri, Some(url), Nil, Nil)
    val t = KTopic("day:2022-01-05", 0L, d, 1, "Storm q", Some(url), Nil, "src", "[raw-t]")
    val got = Emit.topicTriples(t, self, Map.empty, Some(Emit.LinkedArticle.of(a))).toSet
      .filter(tr => tr.pred == Ns.COY + "hasTimespan" || tr.subj.startsWith(Ns.timespan))

    val ts = Uris.timespanUri(None, None, ongoing = false, Some("13:05:00"), None, None)
    def iri(s: String, p: String, o: String) = Triple("base", s, p, o, true, null, null, d)
    def lit(s: String, p: String, o: String, dt: String) = Triple("base", s, p, o, false, dt, null, d)
    val expected = Set(
      iri(topicUri, Ns.COY + "hasTimespan", ts),
      iri(ts, Ns.rdfType, Ns.COY + "Timespan"),
      lit(ts, Ns.rdfsLabel, "Time: 13:05\n", Ns.xsdString),
      lit(ts, Ns.COY + "hasStartTimestamp", "13:05:00", Ns.xsdTime))
    assert(got == expected,
      s"missing: ${(expected -- got).take(5)}; extra: ${(got -- expected).take(5)}")
  }

  test("URI minting matches reference literal forms") {
    assert(Uris.eventUri("2022-01-05", 3) ==
      "https://data.coypu.org/newssummary/wikipedia-current-events/2022-01-05_3")
    assert(Uris.textTopicUri("2022 storms, floods") ==
      "https://data.coypu.org/texttopic/wikipedia-current-events/2022+storms%2C+floods")
    assert(Uris.sentenceUri(Uris.contextUri("2022-01-05", 3), 1) ==
      "https://data.coypu.org/sentence/wikipedia-current-events/2022-01-05_3_1")
    assert(Uris.phraseUri(Uris.sentenceUri(Uris.contextUri("2022-01-05", 3), 1), 2) ==
      "https://data.coypu.org/phrase/wikipedia-current-events/2022-01-05_3_1_2")
    assert(Uris.osmUri("relation", 62422L) ==
      "https://data.coypu.org/osmelement/wikipedia-current-events/relation_62422")
    assert(Uris.pointUri(36.2306, -3.6833) ==
      "https://data.coypu.org/point/wikipedia-current-events/" +
        Uris.quotePlus("36.2306_-3.6833"))
  }
}
