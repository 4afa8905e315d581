package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Sequential (collections-only) recompute of both sketch operators, plus the
  * two properties that make sketches trustworthy at scale: the HLL register
  * vector MERGES by elementwise max (what a tree aggregation relies on) and
  * the CMS estimate never undercounts (the structural guarantee).
  */
class SketchesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def nib(h: String, i: Int): Int = // 1-based, like the SQL
    "0123456789abcdef".indexOf(h.charAt(i - 1))

  // ---- sk01 ----------------------------------------------------------------

  private def hllRegisters(ids: Seq[Long]): Array[Long] = {
    val regs = Array.fill(256)(0L)
    ids.foreach { id =>
      val h = md5hex(id.toString)
      val bucket = nib(h, 1) * 16 + nib(h, 2)
      val v = (3 to 10).foldLeft(0L)((acc, i) => acc * 16 + nib(h, i))
      val rho = if (v == 0L) 33L else 33L - (64 - java.lang.Long.numberOfLeadingZeros(v))
      if (rho > regs(bucket)) regs(bucket) = rho
    }
    regs
  }

  private def writeEvents(ids: Seq[Long]): String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_sk01").toString
    ids.toDF("event_id").write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("sk01 registers and estimate match a sequential HLL; raw error < 20%") {
    val n = 65536
    val ids = (0L until n.toLong).map(i => i * 2654435761L % 1000000007L).distinct
    val d = writeEvents(ids)
    val got = Sketches.queries("sk01_hll_distinct")(spark, d).collect()
    assert(got.length == 256)
    val want = hllRegisters(ids)
    got.foreach { r =>
      assert(r.getLong(1) == want(r.getLong(0).toInt), s"register ${r.getLong(0)}")
    }
    val s = want.map(r => 1L << (33 - r)).sum
    val est = 47072L * 8589934592L / s
    assert(got.head.getLong(3) == est)
    assert(got.head.getLong(4) == ids.length.toLong)
    assert(math.abs(est.toDouble - ids.length) / ids.length < 0.20,
      s"raw HLL estimate $est vs exact ${ids.length}")
  }

  test("sk01 register vectors merge by elementwise max across disjoint halves") {
    val ids = (0L until 20000L).map(i => i * 6364136223846793005L % 999999937L)
    val (a, b) = ids.partition(_ % 2 == 0)
    def regsOf(xs: Seq[Long]): Map[Long, Long] =
      Sketches.queries("sk01_hll_distinct")(spark, writeEvents(xs)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (full, ra, rb) = (regsOf(ids), regsOf(a), regsOf(b))
    (0L until 256L).foreach { bkt =>
      assert(full(bkt) == math.max(ra(bkt), rb(bkt)), s"bucket $bkt")
    }
  }

  // ---- sk02 ----------------------------------------------------------------

  // skewed vocabulary: head tokens repeated corpus-wide, per-doc unique tail
  private lazy val cmsCorpus: Seq[(Long, String)] =
    (0L until 50L).map { i =>
      val head = Seq.fill(20)("the") ++ Seq.fill(10)("of") ++ Seq.fill(5)("and") ++
        Seq.fill(3)(s"topic${i % 7}")
      val tail = (0 until 15).map(j => s"doc${i}tok$j")
      (i, (head ++ tail).mkString(" "))
    }

  test("sk02 matches a sequential CMS and never undercounts") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_sk02").toString
    cmsCorpus.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$d/documents.parquet")

    val counts = cmsCorpus.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val cells = scala.collection.mutable.Map.empty[(Int, Int), Long]
    for ((tok, cnt) <- counts; k <- 0 until 3) {
      val h = md5hex(s"c$k$tok")
      val c = nib(h, 1) * 16 + nib(h, 2)
      cells((k, c)) = cells.getOrElse((k, c), 0L) + cnt
    }
    val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(20)
    val want = top.zipWithIndex.map { case ((tok, cnt), i) =>
      val est = (0 until 3).map { k =>
        val h = md5hex(s"c$k$tok")
        cells((k, nib(h, 1) * 16 + nib(h, 2)))
      }.min
      (i + 1, tok, cnt, est)
    }

    val got = Sketches.queries("sk02_cms_heavy_hitters")(spark, d).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want)
    got.foreach { case (_, tok, exact, est) =>
      assert(est >= exact, s"CMS undercounted $tok")
    }
  }

  // ---- sk03 ----------------------------------------------------------------

  test("sk03 words match a sequential Bloom filter; no false negatives") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_sk03").toString
    // 200 users, every 5th has an error event → 40 build keys, 200 probes
    val rows = (0L until 200L).map { u =>
      (u, new java.sql.Timestamp(1704067200000L + u * 60000L), u,
        if (u % 5 == 0) "error" else "view", 1.0, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")

    def bitsOf(u: Long): Seq[Int] = (0 until 3).map { j =>
      val h = md5hex(s"b$j$u")
      nib(h, 1) * 256 + nib(h, 2) * 16 + nib(h, 3)
    }
    val buildKeys = (0L until 200L).filter(_ % 5 == 0)
    val words = Array.fill(128)(0L)
    buildKeys.flatMap(bitsOf).foreach { bit =>
      words(bit / 32) |= (1L << (bit % 32))
    }
    def maybe(u: Long): Boolean =
      bitsOf(u).forall(b => (words(b / 32) & (1L << (b % 32))) != 0)

    val got = Sketches.queries("sk03_bloom_filter")(spark, d).collect()
    assert(got.length == 128)
    got.foreach(r => assert(r.getLong(1) == words(r.getLong(0).toInt),
      s"word ${r.getLong(0)}"))
    val h = got.head
    val wantMaybe = (0L until 200L).count(maybe)
    val wantFp = (0L until 200L).count(u => maybe(u) && u % 5 != 0)
    assert((h.getLong(2), h.getLong(3), h.getLong(4), h.getLong(5)) ==
      ((200L, wantMaybe.toLong, wantFp.toLong, 40L)))
    assert(h.getLong(6) == words.map(java.lang.Long.bitCount(_).toLong).sum)
    // structural Bloom guarantee: every build key probes positive
    buildKeys.foreach(u => assert(maybe(u), s"false negative for $u"))
  }

  // ---- sk04 ----------------------------------------------------------------

  test("sk04 estimates and calibration match a sequential sample-and-rank recompute") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_sk04").toString
    // 2,000 rows over three flags, quantities 1–50 with fractions (floored)
    // and heavy ties, so sampled ranks land inside and at the edges of runs
    val rows = (0 until 2000).map { i =>
      (i / 4 + 1L, i % 4 + 1, Seq("A", "N", "R")(i % 3), (i * 37 % 50) + 1 + (i % 2) * 0.5)
    }
    rows.toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")

    val li = rows.map { case (ok, ln, flag, qty) =>
      (flag, math.floor(qty).toLong, nib(md5hex(s"$ok:$ln"), 1)) }
    val expected = li.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (flag, g) =>
      val qs = g.map(_._2)
      val sample = g.filter(_._3 == 0).map(_._2).sorted
      val (n, m) = (qs.size.toLong, sample.size.toLong)
      assert(m > 0, s"flag $flag sampled no row")
      (1 to 3).map { k =>
        val est = sample((((m - 1) * k) / 4).toInt)
        val lo = 1000000L * qs.count(_ < est) / n
        val hi = 1000000L * qs.count(_ <= est) / n
        val target = k * 250000L
        val err = if (lo > target) lo - target else if (hi < target) target - hi else 0L
        Seq[Any](flag, k.toLong, n, m, est, lo, hi, err,
          if (err * err * m <= 9000000000000L) 1L else 0L)
      }
    }
    val got = Sketches.queries("sk04_quantile_sketch")(spark, d).collect().toSeq
      .map(r => r.getString(0) +: (1 until r.length).map(i => r.getAs[Number](i).longValue))
    assert(got == expected)
  }
}
