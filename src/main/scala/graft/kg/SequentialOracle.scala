package graft.kg

/** Sequential (driver-side) golden oracle: computes the expected triple set
  * for a corpus by walking the documents one by one with plain Scala maps —
  * no Spark. Comparing the distributed pipeline's output against this
  * validates the join/grouping/mention wiring, dedup and partition-key
  * plumbing end to end (FIXTURES.md §3). The reference-semantics *functions*
  * themselves (parse folds, date bank, URI minting, timespan filling) are
  * validated separately by the unit-test fixture banks.
  *
  * Main-scope (not test) because it feeds TWO independent gates: the
  * ScalaTest P/R fixtures (KgQueriesSpec/PipelineSpec) and the DRIVER-VISIBLE
  * kg16_triple_parity row — graft.Verify dumps this set alongside the
  * pipeline's, and the DuckDB oracle recomputes the diff, making P=R=1.0 a
  * committed driver artifact instead of a spec-only claim.
  */
object SequentialOracle {

  def expectedTriples(p: Synth.Params): Set[Triple] = {
    val dicts = Enrich.buildDicts(p)

    // enriched articles, keyed by url
    val articles: Map[String, EnrichedArticle] =
      (0 until p.articles).iterator
        .flatMap(i => ArticleParser.parse(SpanCodec.articleDoc(p, Synth.article(p, i))))
        .map(a => Enrich.enrichOne(a, dicts))
        .map(a => a.url -> a)
        .toMap

    val out = Set.newBuilder[Triple]
    // mentions: (url, date, isTopic, forcePlace, traverseChildren)
    val mentions = scala.collection.mutable.Set.empty[(String, String, Boolean, Boolean, Boolean)]

    for ((y, m, dayN) <- Synth.allDaysOf(p)) {
      val doc = SpanCodec.dayDoc(p, Synth.day(p, m, dayN, y))
      val (events, topics, _) = DayPageParser.parse(doc)

      val infos: Map[Long, Emit.TopicInfo] = topics.map { t =>
        val art = t.linkHref.flatMap(articles.get)
        val uri = art.map(a => Uris.articleTopicUri(a.url)).getOrElse(Uris.textTopicUri(t.text))
        t.topicId -> Emit.TopicInfo(t.topicId, uri, art.map(_.url),
          art.map(_.classes).getOrElse(Nil), t.parentTopicIds)
      }.toMap

      for (e <- events) {
        val arts = e.sentences.flatMap(_.links).map(_.href).distinct
          .flatMap(h => articles.get(h).map(a =>
            h -> Emit.LinkedArticle.of(a)))
          .toMap
        out ++= Emit.eventTriples(e, infos, arts)
        for (h <- e.sentences.flatMap(_.links).map(_.href).distinct if articles.contains(h))
          mentions += ((h, e.date, false, false, true))
      }
      for (t <- topics) {
        val info = infos(t.topicId)
        out ++= Emit.topicTriples(t, info, infos,
          info.artUrl.map(u => Emit.LinkedArticle.of(articles(u))))
        info.artUrl.foreach(u => mentions += ((u, t.date, true, false, true)))
      }
    }

    // depth-2 mentions from depth-1 place holders
    val children = mentions.toSeq.flatMap { case (u, d, isTopic, force, _) =>
      val a = articles(u)
      if (a.locationFlag || isTopic || force)
        a.childUrls.map(c => (c, d, false, true, false))
      else Nil
    }
    mentions ++= children

    for ((u, d, isTopic, force, traverse) <- mentions) {
      val a = articles(u)
      out ++= Emit.articleTriples(a, d, isTopic, force, traverse)
    }

    // ohg: one-hop rows per (wd entity, date)
    val wdDates = mentions.toSeq.flatMap { case (u, d, _, _, _) =>
      articles(u).wdUri.map(w => (w, d))
    }.distinct
    val byIdx = (0 until p.articles).flatMap { i =>
      val a = Synth.article(p, i)
      a.wdId.map(q => (Ns.WD + q) -> i)
    }.toMap
    for ((w, d) <- wdDates; i <- byIdx.get(w); r <- Dicts.onehopFor(i))
      out += Triple("ohg", r.subj_wd, r.pred, r.obj, r.obj_is_iri,
        r.obj_dtype.orNull, r.obj_lang.orNull, d)

    out.result()
  }
}
