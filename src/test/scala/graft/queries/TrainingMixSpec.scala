package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Sequential (collections-only) recompute of each TrainingMix operator —
  * the same hand-oracle style as graft.kg.Oracle: the distributed plan must
  * reproduce the per-row arithmetic exactly, not just look plausible.
  */
class TrainingMixSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // corpus: dominant en + minority langs, an identical-text cluster (spans
  // both d07 halves), near-dup pairs (one token changed), and unique filler
  private val corpus: Seq[(Long, String, String)] = {
    val base = (0 until 30).map(j => s"word$j").mkString(" ")
    val cluster = (0L until 12L).map(i => (i, base, "en"))
    val nearA = (12L until 18L).map(i => (i, base + s" tail$i", "en"))
    val filler = (18L until 48L).map { i =>
      val lang = Seq("en", "en", "de", "fr", "es", "it")((i % 6).toInt)
      (i, (0 until 40).map(j => s"tok${i}u$j").mkString(" "), lang)
    }
    cluster ++ nearA ++ filler
  }

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_tmix").toString
    corpus.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def u16(docId: Long): Int =
    Integer.parseInt(md5hex(docId.toString).substring(0, 4), 16)

  test("x01 stratified sample == sequential md5-threshold recompute") {
    val rate = (lang: String) => lang match {
      case "en" => 16384
      case "de" | "fr" | "es" => 65536
      case _ => 8192
    }
    val expected = corpus
      .filter { case (id, _, lang) => u16(id) < rate(lang) }
      .map { case (id, _, lang) => (id, lang, u16(id).toLong) }
      .sortBy(_._1)
    val got = TrainingMix.queries("x01_stratified_sample")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    // the mix actually moved: de/fr/es survive whole, en is cut
    assert(expected.count(e => Set("de", "fr", "es")(e._2)) ==
      corpus.count(c => Set("de", "fr", "es")(c._3)))
    assert(expected.count(_._2 == "en") < corpus.count(_._3 == "en"))
  }

  test("x02 shard packing == sequential running-sum recompute; budget rule holds") {
    val budget = 4096L
    val expected = corpus.groupBy(_._3).flatMap { case (lang, docs) =>
      var cum = 0L
      docs.sortBy(_._1).map { case (id, text, _) =>
        val nTok = text.count(_ == ' ').toLong + 1L
        val shard = cum / budget
        cum += nTok
        (id, lang, nTok, shard)
      }
    }.toSeq.sortBy(_._1)
    val got = TrainingMix.queries("x02_shard_packing")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // every shard holds <= budget tokens before its last doc was added
    // (streaming rule: overflow by at most one document)
    got.groupBy(t => (t._2, t._4)).foreach { case (_, docs) =>
      assert(docs.init.map(_._3).sum <= budget)
    }
    // shards within a stream are contiguous starting at 0
    got.groupBy(_._2).foreach { case (_, docs) =>
      val shards = docs.map(_._4).distinct.sorted
      assert(shards == (0L to shards.max).toList)
    }
  }

  test("d07 incremental dedup == sequential fingerprint+minhash recompute") {
    def shingles(text: String): Seq[String] = {
      val n = math.max(text.length - 7, 1)
      (0 until n).map(i => text.substring(i, math.min(i + 8, text.length)))
    }
    def sig(text: String, seed: Int): String =
      shingles(text).map(sh => md5hex(s"s$seed" + sh)).min
    def bowFp(text: String): String =
      md5hex(text.split(" ").distinct.sorted.mkString(" "))
    val nibOf = (id: Long) =>
      Integer.parseInt(md5hex(id.toString).substring(0, 1), 16)
    val base = corpus.filter(c => nibOf(c._1) < 8)
    val inc = corpus.filter(c => nibOf(c._1) >= 8)
    assert(base.nonEmpty && inc.nonEmpty)
    val baseFps = base.map(c => bowFp(c._2)).toSet
    val baseSigs = base.flatMap(c => (0 until 4).map(k => (k, sig(c._2, k)))).toSet
    val expected = inc.map { case (id, text, _) =>
      val verdict =
        if (baseFps.contains(bowFp(text))) "exact"
        else if ((0 until 4).exists(k => baseSigs.contains((k, sig(text, k))))) "near"
        else "keep"
      (id, verdict)
    }.sortBy(_._1)
    val got = TrainingMix.queries("d07_incremental_dedup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == expected)
    // the corpus exercises all three verdicts
    assert(Set("exact", "near", "keep").subsetOf(expected.map(_._2).toSet))
  }

  test("x03 decontamination == sequential n-gram overlap recompute") {
    // eval split: doc_id % 97 == 0 → doc 0 only here, a member of the
    // identical-text cluster, so the cluster + near-dups must flag and the
    // unique filler must not
    def grams(text: String): Set[String] =
      text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val evalSet = corpus.filter(_._1 % 97 == 0).flatMap(c => grams(c._2)).toSet
    val expected = corpus.filter(_._1 % 97 != 0).map { case (id, text, _) =>
      val g = grams(text)
      (id, g.size.toLong, g.count(evalSet.contains).toLong)
    }.sortBy(_._1)
    val got = TrainingMix.queries("x03_decontaminate")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // both classes present: contaminated (cluster/near-dups) and clean filler
    assert(expected.exists(_._3 > 0) && expected.exists(_._3 == 0L))
  }

  test("x04 temperature weights match hand-computed e6 goldens") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_tmix_x04").toString
    // srcA: 100 tokens, srcB: 400 tokens → tot 500
    // w_prop_e6: 200000 / 800000; st: isqrt(100)=10, isqrt(400)=20, tot 30
    // w_sqrt_e6: 10^7//30 = 333333 / 2*10^7//30 = 666666 — the α=0.5
    // temperature upweights the small source (0.20 → 0.33 of the mix)
    Seq((0L, Seq.fill(100)("w").mkString(" "), "en", "srcA"),
      (1L, Seq.fill(400)("w").mkString(" "), "en", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TrainingMix.queries("x04_temperature_mix")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      ("srcA", 1L, 100L, 200000L, 333333L),
      ("srcB", 1L, 400L, 800000L, 666666L)))
  }

  test("x03 survives sub-n-token docs: no gram rows, (id, 0, 0) in the spine") {
    import spark.implicits._
    // a 2-token train doc and a 1-token EVAL doc (doc_id 0): the gram lambda
    // must never see them (sequence(1, k<=0) counts down through index 0 and
    // element_at(toks, 0) throws under ANSI) — they fall out of the gram
    // scan exactly like the oracle's series-join bound drops them
    val d = Files.createTempDirectory("graft_tmix_short").toString
    Seq((0L, "solo", "en"), (1L, "two tokens", "en"),
      (2L, "three whole tokens here", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TrainingMix.queries("x03_decontaminate")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 0L, 0L), (2L, 2L, 0L)))
  }

  /** x05's point is the LAYOUT property: z-bucket min/max ranges are tight on
    * BOTH dimensions (top-4 z bits pin the top-2 bits of each dim ⇒ spread
    * ≤ 63), whereas a plain ts-sorted layout leaves every file spanning the
    * whole user range — the contrast this spec pins on the same input.
    */
  test("x05 z-order buckets bound BOTH dims; a ts-sorted layout does not") {
    import spark.implicits._
    // full 256×(every 8th hour) grid so both dimensions have real range —
    // the driver tables at small SF have too few distinct users to show the
    // layout contrast
    val d = Files.createTempDirectory("graft_x05").toString
    val rows0 = for (u <- 0 until 256; h <- 0 until 256 by 8) yield
      (u.toLong, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(1970, 1, 1, 0, 0).plusHours(h.toLong)))
    rows0.toDF("user_id", "ts").write.mode("overwrite").parquet(s"$d/events.parquet")
    val rows = TrainingMix.queries("x05_zorder_layout")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 16 && rows.map(_._2).sum == rows0.length)
    for ((b, _, uMin, uMax, tMin, tMax) <- rows) {
      assert(uMax - uMin <= 63L, s"bucket $b u-spread")
      assert(tMax - tMin <= 63L, s"bucket $b t-spread")
    }
    // naive comparison layout: bucket by t alone (what a ts-sorted write
    // produces) — t stays tight but u spans the whole 0..255 range
    val naive = spark.read.parquet(s"$d/events.parquet")
      .selectExpr("user_id % 256 AS u",
        "CAST((datediff(CAST(ts AS DATE), DATE'1970-01-01') * 24 + hour(ts)) % 256 AS BIGINT) AS t")
      .selectExpr("t DIV 16 AS bucket", "u")
      .groupBy("bucket")
      .agg(org.apache.spark.sql.functions.expr("max(u) - min(u) AS u_spread"))
      .collect().map(_.getLong(1))
    assert(naive.max === 255L)
  }

  /** x06 against a sequential recompute, plus the leakage contrast that
    * justifies the operator: on this very fixture a PER-DOC coin would
    * straddle a duplicate cluster across train and val (so the invariant
    * column is falsifiable, not decorative).
    */
  test("x06 cluster-level split == sequential recompute; per-doc coin would leak") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_x06").toString
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def coin(x: String): String =
      if ("0123456789abcdef".indexOf(md5hex(x).charAt(0)) < 13) "train" else "val"
    // one 30-member duplicate cluster + unique singles: with 30 members the
    // probability that a per-doc doc_id coin agrees across the whole cluster
    // is (13/16)^30 + (3/16)^30 — this fixture's ids do split (asserted)
    val cluster = (0L until 30L).map(i => (i, "dup dup text shared by all members"))
    val singles = (100L until 130L).map(i => (i, s"unique text nr $i payload"))
    val corpus = cluster ++ singles
    corpus.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$d/documents.parquet")

    def fp(t: String): String =
      md5hex(t.split(" ").distinct.sorted.mkString(" "))
    val byFp = corpus.groupBy { case (_, t) => fp(t) }
    val want = byFp.toSeq.map { case (f, members) =>
      (members.map(_._1).min, members.size.toLong, coin(f), 1L)
    }.sortBy(_._1)

    val got = TrainingMix.queries("x06_leakage_safe_split")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == want)
    assert(got.forall(_._4 == 1L)) // the leakage invariant
    assert(got.map(_._3).distinct.sorted == Seq("train", "val")) // both splits occur
    // the contrast: a per-doc coin on the duplicate cluster's doc_ids lands
    // on BOTH sides — the bug this operator exists to prevent
    val perDocSplits = cluster.map { case (id, _) => coin(id.toString) }.distinct
    assert(perDocSplits.size == 2)
  }

  /** x07 against a sequential waterfilling recompute — both the feasible
    * fixture (some sources capped, budget fully distributed up to DIV
    * truncation) and the INFEASIBLE one (few sources, n·Cap < 1e6: all cap
    * and w_total_e6 exposes the shortfall rather than silently lying).
    */
  test("x07 capped mixture == sequential waterfilling; shortfall observable") {
    import spark.implicits._
    val cap = 52000L
    def waterfill(masses: Seq[(String, Long)]): Seq[(String, Long, Int, Long)] = {
      val sorted = masses.sortBy { case (src, m) => (-m, src) }
      var capped = Vector.empty[String]
      var stillOver = true
      for (((src, m), i) <- sorted.zipWithIndex if stillOver) {
        val suffix = sorted.drop(i).map(_._2).sum
        if (m * (1000000L - i * cap) > cap * suffix) capped :+= src
        else stillOver = false
      }
      val mu = masses.filterNot(p => capped.contains(p._1)).map(_._2).sum
      val k = capped.size
      masses.map { case (src, m) =>
        val w = if (capped.contains(src)) cap else (1000000L - k * cap) * m / mu
        (src, m, if (capped.contains(src)) 1 else 0, w)
      }.sortBy(_._1)
    }
    def run(masses: Seq[(String, Long)]): (Seq[(String, Long, Int, Long)], Long) = {
      val d = java.nio.file.Files.createTempDirectory("graft_x07").toString
      masses.zipWithIndex.map { case ((src, m), i) =>
        // m tokens == m-1 spaces; single long "word block" text
        (i.toLong, Seq.fill(m.toInt)("w").mkString(" "), "en", src, m)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      val rows = TrainingMix.queries("x07_capped_mixture")(spark, d).collect()
      (rows.map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq,
        rows.head.getLong(4))
    }
    // feasible: 20 sources, two heavy (capped), rest uniform
    val feasible = Seq("sA" -> 900L, "sB" -> 700L) ++
      (0 until 18).map(i => f"s$i%02d" -> 300L)
    val (gotF, totalF) = run(feasible)
    val wantF = waterfill(feasible)
    assert(gotF == wantF)
    assert(gotF.count(_._3 == 1) >= 1 && gotF.count(_._3 == 0) >= 1)
    assert(totalF == gotF.map(_._4).sum && totalF > 990000L) // DIV dust only
    // infeasible: 4 sources, 4·52000 < 1e6 -> all capped, shortfall visible
    val infeasible = Seq("a" -> 600L, "b" -> 200L, "c" -> 120L, "d" -> 80L)
    val (gotI, totalI) = run(infeasible)
    assert(gotI.forall(_._3 == 1))
    assert(gotI.forall(_._4 == cap))
    assert(totalI == 4 * cap) // 208000 — the observable shortfall
  }
}
