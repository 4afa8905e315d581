package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Caches

/** Probabilistic sketch operators — the approximate-aggregation family a
  * 100 TB pipeline leans on when exact distinct/frequency state would not
  * fit: HyperLogLog distinct counting and count-min frequency sketching.
  * (Reference analogue: the A3 ValueDict histogram and per-month counters —
  * analytics.py keeps exact dicts because its corpus is one month of pages;
  * at 10^12 documents those dicts must become fixed-size mergeable sketches.)
  *
  * Both sketches are built from md5 as the shared hash family (hex output is
  * identical in Spark and DuckDB), with every derivation in integer
  * arithmetic, so the driver gate checks the sketch STATE itself hash-exact —
  * not a tolerance band. Determinism is structural, not incidental:
  *  - HLL registers are per-bucket MAX — commutative/associative, so
  *    Catalyst's partial aggregation merges them map-side in any order;
  *  - CMS cells are per-(row, column) SUM — same property.
  * That is exactly the merge shape a 1000-executor tree aggregation needs:
  * each sketch is O(1)-sized state per group regardless of input rows.
  */
object Sketches {

  /** Hex nibble of a string expression at 1-based position `i` → 0..15
    * (instr is 1-based and identical in both engines). */
  private[queries] def nib(h: String, i: Int): String =
    s"(instr('0123456789abcdef', substr($h, $i, 1)) - 1)"

  // ---- sk01: HyperLogLog distinct sketch ----------------------------------
  // m = 256 registers (b = 8 bucket bits = the first 2 md5 nibbles).
  // The next 8 nibbles form a 32-bit value v; rho = position of the highest
  // set bit counted from bit 32 (leading-zero count + 1), computed exactly as
  // 33 - bitlength(v) via length(bin(v)) — bin() renders without leading
  // zeros in both engines; v = 0 (p = 2^-32) saturates at rho = 33.
  // Register_b = MAX(rho) over the bucket's items: the sketch state.
  //
  // The readout is the raw HLL estimate alpha_256 * m^2 / sum(2^-reg), kept
  // integer-exact by scaling: s_scaled = sum(2^(33-reg)) (empty bucket →
  // 2^33), est = floor(alpha_m2_e0 * 2^33 / s_scaled) where
  // alpha_m2_e0 = floor(0.718273 * 256 * 256) = floor(718273*65536/1e6)
  // = 47072 (alpha_256 = 0.7213/(1 + 1.079/256), e6-truncated — a fixed
  // published constant, same truncation in both engines by construction).
  // No small-range linear-counting correction: that needs ln(), which is
  // floating point; the raw estimate keeps the gate integer-exact and the
  // spec pins the accuracy band on a 65k-distinct synthetic input instead.
  private val hllHash = "md5(CAST(event_id AS STRING))"

  private def hllV32(h: String): String =
    (4 to 10).map(i => nib(h, i)) // first term BIGINT ⇒ the whole Horner
      .foldLeft(s"CAST(${nib(h, 3)} AS BIGINT)")( // chain is 64-bit (ANSI-safe)
        (acc, n) => s"($acc * 16 + $n)")

  def sk01HllDistinct(s: SparkSession, d: String): DataFrame = {
    val h = hllHash
    val perItem = Tables.events(s, d).selectExpr(
      s"CAST(${nib(h, 1)} * 16 + ${nib(h, 2)} AS BIGINT) AS bucket",
      s"CAST(${hllV32(h)} AS BIGINT) AS v")
      .selectExpr("bucket",
        "CASE WHEN v = 0 THEN 33L ELSE CAST(33 - length(bin(v)) AS BIGINT) END AS rho")
    val regs0 = perItem.groupBy(col("bucket")).agg(max(col("rho")).as("r"))
    // all 256 buckets, empty → register 0: the fixed-size state a merge sees
    val regs = s.range(256).toDF("bucket")
      .join(broadcast(regs0), Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("r"), lit(0L)).as("register"))
    val summary = regs.selectExpr(
      "CAST(shiftleft(CAST(1 AS BIGINT), CAST(33 - register AS INT)) AS BIGINT) AS p")
      .agg(sum(col("p")).cast("long").as("s_scaled"))
      .selectExpr("s_scaled",
        "CAST(47072 AS BIGINT) * 8589934592 DIV s_scaled AS est_distinct")
    val exact = Tables.events(s, d)
      .agg(countDistinct(col("event_id")).as("n_exact"))
    regs.crossJoin(broadcast(summary)).crossJoin(broadcast(exact))
      .orderBy(col("bucket"))
  }

  val sk01Sql: String = {
    val h = "md5(CAST(event_id AS VARCHAR))"
    s"""WITH per AS (
       |  SELECT CAST(${nib(h, 1)} * 16 + ${nib(h, 2)} AS BIGINT) AS bucket,
       |         CAST(${hllV32(h)} AS BIGINT) AS v
       |  FROM events),
       |rho AS (
       |  SELECT bucket,
       |    CASE WHEN v = 0 THEN CAST(33 AS BIGINT)
       |         ELSE CAST(33 - length(bin(v)) AS BIGINT) END AS rho
       |  FROM per),
       |regs0 AS (SELECT bucket, MAX(rho) AS r FROM rho GROUP BY bucket),
       |frame AS (SELECT CAST(generate_series AS BIGINT) AS bucket
       |          FROM generate_series(0, 255)),
       |regs AS (
       |  SELECT f.bucket, CAST(COALESCE(r.r, 0) AS BIGINT) AS register
       |  FROM frame f LEFT JOIN regs0 r ON f.bucket = r.bucket),
       |summ AS (
       |  SELECT CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - register AS INT)) AS BIGINT)
       |           AS s_scaled
       |  FROM regs),
       |summ2 AS (
       |  SELECT s_scaled,
       |         CAST(47072 AS BIGINT) * 8589934592 // s_scaled AS est_distinct
       |  FROM summ),
       |exact AS (SELECT COUNT(DISTINCT event_id) AS n_exact FROM events)
       |SELECT regs.bucket, regs.register, summ2.s_scaled, summ2.est_distinct,
       |       exact.n_exact
       |FROM regs CROSS JOIN summ2 CROSS JOIN exact
       |ORDER BY regs.bucket""".stripMargin
  }

  // ---- sk02: count-min sketch + heavy-hitter readout -----------------------
  // d = 3 seeded rows × w = 256 columns over the document token stream.
  // Column of token t in row k: first 2 nibbles of md5('c<k>' || t).
  // Cell value = SUM of token occurrences hashing there (order-free).
  // Readout: the exact top-20 tokens (row_number over cnt DESC, token ASC —
  // unique tiebreak keeps the boundary deterministic), each with
  // est = MIN over rows of its cell — the CMS guarantee est >= exact is a
  // hard invariant the spec pins alongside golden values.
  //
  // Plan shape: token counts are ONE explode+groupBy; the cell aggregation
  // and the top-k window both consume that same hash exchange, which
  // Catalyst's ReuseExchange dedupes — the corpus is scanned once. Cells
  // (768 rows) broadcast back onto the top-k, so the readout adds no
  // corpus-sized shuffle.
  private[graft] val cmsSeeds = 0 until 3

  /** CMS column of the token expression `tok` in sketch row `k`:
    * first 2 nibbles of md5('c<k>' || tok). `cat` is the engine's string
    * concatenation spelling. */
  private[graft] def cmsCol(k: Int, tok: String, cat: (String, String) => String): String = {
    val h = s"md5(${cat(s"'c$k'", tok)})"
    s"CAST(${nib(h, 1)} * 16 + ${nib(h, 2)} AS BIGINT)"
  }
  private[graft] def sparkCat(a: String, b: String) = s"concat($a, $b)"
  private[graft] def duckCat(a: String, b: String) = s"($a || $b)"

  def sk02CmsHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, d)
      .selectExpr("explode(split(text, ' ')) AS tok")
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
    // (row, column, cnt) triples via inline — ONE extra (tiny, 768-group)
    // shuffle over the vocab, not the corpus
    val cells = counts.selectExpr("exact_cnt",
      "inline(array(" + cmsSeeds.map(k =>
        s"named_struct('row_k', CAST($k AS BIGINT), " +
          s"'col_k', ${cmsCol(k, "tok", sparkCat)})").mkString(", ") + "))")
      .groupBy(col("row_k"), col("col_k"))
      .agg(sum(col("exact_cnt")).as("cell_cnt"))
    // distributed top-k: orderBy+limit compiles to TakeOrderedAndProject
    // (per-partition heads merged at the driver), NOT a global sort; the
    // row_number window then runs over 20 rows only
    val top = counts.orderBy(col("exact_cnt").desc, col("tok")).limit(20)
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("exact_cnt").desc, col("tok"))).cast("int"))
    val withCols = top.selectExpr((Seq("rk", "tok", "exact_cnt") ++
      cmsSeeds.map(k => cmsCol(k, "tok", sparkCat) + s" AS c$k")): _*)
    val joined = cmsSeeds.foldLeft(withCols) { (acc, k) =>
      acc.join(
        broadcast(cells.filter(col("row_k") === k)
          .select(col("col_k").as(s"jc$k"), col("cell_cnt").as(s"e$k"))),
        col(s"c$k") === col(s"jc$k"), "left")
    }
    joined.selectExpr("rk", "tok", "exact_cnt",
      "CAST(least(e0, e1, e2) AS BIGINT) AS est_cnt")
      .orderBy(col("rk"))
  }

  val sk02Sql: String = {
    def c(k: Int, tok: String) = cmsCol(k, tok, duckCat)
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |counts AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
       |  FROM toks WHERE tok <> '' GROUP BY tok),
       |cells AS (
       |  SELECT row_k, col_k, CAST(SUM(exact_cnt) AS BIGINT) AS cell_cnt
       |  FROM (
       |    ${cmsSeeds.map(k =>
              s"SELECT CAST($k AS BIGINT) AS row_k, ${c(k, "tok")} AS col_k, exact_cnt FROM counts")
              .mkString("\n    UNION ALL\n    ")}
       |  ) GROUP BY row_k, col_k),
       |top AS (
       |  SELECT * FROM (
       |    SELECT CAST(ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, tok) AS INT)
       |             AS rk, tok, exact_cnt
       |    FROM counts)
       |  WHERE rk <= 20)
       |SELECT t.rk, t.tok, t.exact_cnt,
       |       CAST(LEAST(e0.cell_cnt, e1.cell_cnt, e2.cell_cnt) AS BIGINT) AS est_cnt
       |FROM top t
       |LEFT JOIN cells e0 ON e0.row_k = 0 AND e0.col_k = ${c(0, "t.tok")}
       |LEFT JOIN cells e1 ON e1.row_k = 1 AND e1.col_k = ${c(1, "t.tok")}
       |LEFT JOIN cells e2 ON e2.row_k = 2 AND e2.col_k = ${c(2, "t.tok")}
       |ORDER BY t.rk""".stripMargin
  }

  // ---- sk03: Bloom filter build + probe ------------------------------------
  // m = 4096 bits as 128 × 32-bit words (each word carried in a BIGINT so
  // every value stays positive — no sign-bit parity risk), k = 3 seeded
  // hashes; bit of key under seed j = first 3 md5 nibbles of 'b<j>' || key.
  // Build side: the distinct users with an 'error' event. Word_w = BIT_OR of
  // the masks landing in w — like the HLL registers, a commutative/
  // associative per-word fold that Catalyst merges map-side, so the filter
  // state is O(m) per build regardless of input rows (this is exactly the
  // shape Spark's own runtime-filter pushdown materializes on the build side
  // of a shuffle join). Probe side: ALL distinct users; a probe is 'maybe'
  // iff all 3 of its bits are set (probe bits equi-join the 128-word state —
  // broadcast — and fold by MIN(hit)). The readout keeps the classic Bloom
  // contract observable: n_false_pos counts maybes that are NOT in the build
  // set (via anti-membership left join), and no_false_neg is asserted by the
  // spec (a build key can never probe negative).
  private val bloomSeeds = 0 until 3
  private val bloomWords = 128 // × 32 bits = 4096-bit filter

  /** Bit position (0..4095) of `key` under seed `j`. */
  private def bloomBit(j: Int, key: String, cat: (String, String) => String): String = {
    val h = s"md5(${cat(s"'b$j'", key)})"
    s"CAST((${nib(h, 1)} * 256 + ${nib(h, 2)} * 16 + ${nib(h, 3)}) AS BIGINT)"
  }

  def sk03BloomFilter(s: SparkSession, d: String): DataFrame = {
    val keyExpr = "CAST(user_id AS STRING)"
    val bitsOf = bloomSeeds.map(j =>
      s"${bloomBit(j, keyExpr, sparkCat)}").mkString("array(", ", ", ")")
    val ev = Tables.events(s, d)
    val build = ev.filter(col("event_type") === "error")
      .select(col("user_id")).distinct()
    val buildBits = build.selectExpr(s"explode($bitsOf) AS bit")
      .selectExpr("bit DIV 32 AS word_idx",
        "shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT)) AS mask")
    val words0 = buildBits.groupBy(col("word_idx"))
      .agg(bit_or(col("mask")).as("w"))
    val words = s.range(bloomWords).toDF("word_idx")
      .join(broadcast(words0), Seq("word_idx"), "left")
      .select(col("word_idx"), coalesce(col("w"), lit(0L)).as("word"))
    val probes = ev.select(col("user_id")).distinct()
    val probeBits = probes.selectExpr("user_id", s"explode($bitsOf) AS bit")
      .selectExpr("user_id", "bit DIV 32 AS word_idx",
        "shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT)) AS mask")
    val verdicts = probeBits.join(broadcast(words), Seq("word_idx"))
      .selectExpr("user_id",
        "CASE WHEN (word & mask) = mask THEN 1L ELSE 0L END AS hit")
      .groupBy(col("user_id")).agg(min(col("hit")).as("maybe"))
      .join(build.withColumn("in_build", lit(1L)), Seq("user_id"), "left")
      .select(col("maybe"), coalesce(col("in_build"), lit(0L)).as("in_build"))
    val summary = verdicts.agg(
      count(lit(1)).as("n_probe"),
      sum(col("maybe")).cast("long").as("n_maybe"),
      sum(when(col("maybe") === 1 && col("in_build") === 0, 1L).otherwise(0L))
        .cast("long").as("n_false_pos"),
      sum(col("in_build")).cast("long").as("n_build"))
    val bitsSet = words.agg(
      sum(bit_count(col("word")).cast("long")).cast("long").as("n_bits_set"))
    words.crossJoin(broadcast(summary)).crossJoin(broadcast(bitsSet))
      .orderBy(col("word_idx"))
  }

  val sk03Sql: String = {
    val keyExpr = "CAST(user_id AS VARCHAR)"
    def bits(alias: String) = bloomSeeds.map(j =>
      s"SELECT $alias.user_id, ${bloomBit(j, keyExpr, duckCat)} AS bit FROM $alias")
      .mkString("\n    UNION ALL\n    ")
    s"""WITH build AS (
       |  SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
       |bbits AS (
       |  SELECT bit // 32 AS word_idx,
       |         (CAST(1 AS BIGINT) << CAST(bit % 32 AS INT)) AS mask
       |  FROM (
       |    ${bits("build")}
       |  )),
       |words0 AS (
       |  SELECT word_idx, CAST(BIT_OR(mask) AS BIGINT) AS w
       |  FROM bbits GROUP BY word_idx),
       |frame AS (SELECT CAST(generate_series AS BIGINT) AS word_idx
       |          FROM generate_series(0, ${bloomWords - 1})),
       |words AS (
       |  SELECT f.word_idx, CAST(COALESCE(w0.w, 0) AS BIGINT) AS word
       |  FROM frame f LEFT JOIN words0 w0 ON f.word_idx = w0.word_idx),
       |probes AS (SELECT DISTINCT user_id FROM events),
       |pbits AS (
       |  SELECT user_id, bit // 32 AS word_idx,
       |         (CAST(1 AS BIGINT) << CAST(bit % 32 AS INT)) AS mask
       |  FROM (
       |    ${bits("probes")}
       |  )),
       |verdicts AS (
       |  SELECT p.user_id,
       |         MIN(CASE WHEN (w.word & p.mask) = p.mask THEN 1 ELSE 0 END)
       |           AS maybe
       |  FROM pbits p JOIN words w ON p.word_idx = w.word_idx
       |  GROUP BY p.user_id),
       |joined AS (
       |  SELECT v.maybe,
       |         CASE WHEN b.user_id IS NULL THEN 0 ELSE 1 END AS in_build
       |  FROM verdicts v LEFT JOIN build b ON v.user_id = b.user_id),
       |summary AS (
       |  SELECT COUNT(*) AS n_probe,
       |         CAST(SUM(maybe) AS BIGINT) AS n_maybe,
       |         CAST(SUM(CASE WHEN maybe = 1 AND in_build = 0 THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_false_pos,
       |         CAST(SUM(in_build) AS BIGINT) AS n_build
       |  FROM joined),
       |bits_set AS (
       |  SELECT CAST(SUM(CAST(bit_count(word) AS BIGINT)) AS BIGINT)
       |           AS n_bits_set
       |  FROM words)
       |SELECT words.word_idx, words.word, summary.n_probe, summary.n_maybe,
       |       summary.n_false_pos, summary.n_build, bits_set.n_bits_set
       |FROM words CROSS JOIN summary CROSS JOIN bits_set
       |ORDER BY words.word_idx""".stripMargin
  }

  // ---- sk04: deterministic hash-sampled quantile sketch -------------------
  // Mergeable quantile state with a CALIBRATION readout (the d09 pattern:
  // the query measures its own sketch against the exact answer). The state
  // is a Bernoulli hash sample — keep a lineitem row iff the first md5
  // nibble of its (orderkey, linenumber) row key is 0, p = 1/16 — which is
  // the quantile-sketch state that stays DRIVER-HASH-EXACT: KLL/t-digest
  // compaction decisions are rng- and arrival-order-driven, while a
  // content-keyed coin is a pure function of the row, so both engines build
  // the IDENTICAL sample. Merge = plain union (a 1000-executor tree-agg
  // concatenates per-partition samples; expected size p·n per group, tuned
  // by nibble count — each extra nibble is a 16× reduction). Readout = rank
  // selection inside the sample (q16's bucketed prefix scan at 1/16 the
  // rows); calibration = each estimate's TRUE cdf interval against the FULL
  // table (one scan + a broadcast of the k-row estimate frame), with the
  // DKW-style rank-error bound err ≤ 3/√m checked in INTEGER form
  // (err_e6² · m ≤ 9·10¹² — no cross-engine sqrt enters the gate).
  def sk04QuantileSketch(s: SparkSession, d: String): DataFrame = {
    val h = "md5(concat(CAST(l_orderkey AS STRING), ':', " +
      "CAST(l_linenumber AS STRING)))"
    val li = Tables.lineitem(s, d).selectExpr("l_returnflag",
      "CAST(floor(l_quantity) AS BIGINT) AS q", s"${nib(h, 1)} AS coin")
    val ranked = graft.plans.PrefixScan.bucketOffsets(li.filter(col("coin") === 0),
      Seq("l_returnflag"), bucket = "q", value = "1")
    val mSz = ranked.groupBy(col("l_returnflag")).agg(sum(col("bucket_total")).as("m"))
    // the k/4-quantile estimate = the sample element at 0-indexed rank
    // ((m-1)·k) DIV 4 (lower selection, no interpolation — stays a data
    // value, so the true-cdf probe below is well-defined): the q bucket
    // whose rank range covers it, so ties in q need no tiebreak.
    val ests = ranked.join(mSz, Seq("l_returnflag"))
      .selectExpr("l_returnflag", "m", "q", "bucket_offset", "bucket_total",
        "explode(array(1, 2, 3)) AS quantile_k")
      .filter(expr("((m - 1) * quantile_k) DIV 4 + 1 " +
        "BETWEEN bucket_offset + 1 AND bucket_offset + bucket_total"))
      .selectExpr("l_returnflag", "quantile_k", "m AS m_sample", "q AS est_q")
    val nSz = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    li.join(broadcast(ests), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), col("quantile_k"), col("m_sample"),
        col("est_q"))
      .agg(sum(when(col("q") < col("est_q"), 1L).otherwise(0L)).as("lt"),
        sum(when(col("q") <= col("est_q"), 1L).otherwise(0L)).as("le"))
      .join(broadcast(nSz), Seq("l_returnflag"))
      .selectExpr("l_returnflag", "quantile_k", "n", "m_sample", "est_q",
        "(1000000 * lt) DIV n AS cdf_lo_e6",
        "(1000000 * le) DIV n AS cdf_hi_e6")
      // est_q is an actual data value, so its true cdf is the INTERVAL
      // [lt/n, le/n]; the rank error is the distance from the k/4 target to
      // that interval (zero when the target falls inside it)
      .selectExpr("l_returnflag", "quantile_k", "n", "m_sample", "est_q",
        "cdf_lo_e6", "cdf_hi_e6",
        "CASE WHEN cdf_lo_e6 > quantile_k * 250000 " +
          "THEN cdf_lo_e6 - quantile_k * 250000 " +
          "WHEN cdf_hi_e6 < quantile_k * 250000 " +
          "THEN quantile_k * 250000 - cdf_hi_e6 " +
          "ELSE CAST(0 AS BIGINT) END AS rank_err_e6")
      .selectExpr("l_returnflag", "quantile_k", "n", "m_sample", "est_q",
        "cdf_lo_e6", "cdf_hi_e6", "rank_err_e6",
        "CASE WHEN rank_err_e6 * rank_err_e6 * m_sample <= 9000000000000 " +
          "THEN 1 ELSE 0 END AS within_bound")
      .orderBy(col("l_returnflag"), col("quantile_k"))
  }

  val sk04Sql: String =
    """WITH li AS (
      |  SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS q,
      |    (instr('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR)
      |       || ':' || CAST(l_linenumber AS VARCHAR)), 1, 1)) - 1) AS coin
      |  FROM lineitem),
      |smp AS (SELECT l_returnflag, q FROM li WHERE coin = 0),
      |ranked AS (SELECT l_returnflag, q,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY q) AS rk
      |  FROM smp),
      |msz AS (SELECT l_returnflag, COUNT(*) AS m FROM smp GROUP BY 1),
      |ks AS (SELECT UNNEST([1, 2, 3]) AS quantile_k),
      |ests AS (
      |  SELECT r.l_returnflag, ks.quantile_k, msz.m AS m_sample, r.q AS est_q
      |  FROM ranked r JOIN msz USING (l_returnflag) CROSS JOIN ks
      |  WHERE r.rk = ((msz.m - 1) * ks.quantile_k) // 4 + 1),
      |nsz AS (SELECT l_returnflag, COUNT(*) AS n FROM li GROUP BY 1),
      |cmp AS (
      |  SELECT li.l_returnflag, e.quantile_k, e.m_sample, e.est_q,
      |    CAST(SUM(CASE WHEN li.q < e.est_q THEN 1 ELSE 0 END) AS BIGINT) AS lt,
      |    CAST(SUM(CASE WHEN li.q <= e.est_q THEN 1 ELSE 0 END) AS BIGINT) AS le
      |  FROM li JOIN ests e USING (l_returnflag)
      |  GROUP BY 1, 2, 3, 4),
      |cdf AS (
      |  SELECT c.l_returnflag, c.quantile_k, nsz.n, c.m_sample, c.est_q,
      |    (1000000 * c.lt) // nsz.n AS cdf_lo_e6,
      |    (1000000 * c.le) // nsz.n AS cdf_hi_e6
      |  FROM cmp c JOIN nsz USING (l_returnflag)),
      |err AS (
      |  SELECT *,
      |    CASE WHEN cdf_lo_e6 > quantile_k * 250000
      |           THEN cdf_lo_e6 - quantile_k * 250000
      |         WHEN cdf_hi_e6 < quantile_k * 250000
      |           THEN quantile_k * 250000 - cdf_hi_e6
      |         ELSE CAST(0 AS BIGINT) END AS rank_err_e6
      |  FROM cdf)
      |SELECT l_returnflag, quantile_k, n, m_sample, est_q, cdf_lo_e6,
      |  cdf_hi_e6, rank_err_e6,
      |  CASE WHEN rank_err_e6 * rank_err_e6 * m_sample <= 9000000000000
      |       THEN 1 ELSE 0 END AS within_bound
      |FROM err ORDER BY l_returnflag, quantile_k""".stripMargin

  // ---- sk05: HLL SET ALGEBRA across streams --------------------------------
  /** Distinct-user cardinalities of unions and intersections BETWEEN event
    * types, computed from per-type HLL register vectors — the sketch-algebra
    * primitive of a sharded corpus: union is the elementwise register MAX
    * (the exact operation a cross-cluster merge applies), intersection the
    * inclusion-exclusion residual. sk01's integer raw-estimate formula, so
    * the whole table is hash-exact; exact inclusion-exclusion counts ride
    * along per pair as the calibration truth (the d09/s05/sk04 pattern).
    * Plan: one scan → per-(type, bucket) max, a dense types×256 frame, a
    * bucket-aligned pair self-join over 256×pairs rows (tiny), and one
    * broadcast pair dim for the exact side. At 100 TB only the first
    * aggregate touches the corpus; everything after runs on fixed-size
    * sketch state.
    */
  def sk05HllSetOps(s: SparkSession, d: String): DataFrame = {
    val h = "md5(CAST(user_id AS STRING))"
    val ev = Tables.events(s, d)
    val per = ev.selectExpr("event_type",
      s"CAST(${nib(h, 1)} * 16 + ${nib(h, 2)} AS BIGINT) AS bucket",
      s"CAST(${hllV32(h)} AS BIGINT) AS v")
      .selectExpr("event_type", "bucket",
        "CASE WHEN v = 0 THEN 33L ELSE CAST(33 - length(bin(v)) AS BIGINT) END AS rho")
      .groupBy(col("event_type"), col("bucket")).agg(max(col("rho")).as("r"))
    // type universe from the aggregated per-type frame (every event
    // contributes a `per` row, so the distinct type set is identical) —
    // saves a third full scan of events; `per` is types×256 rows at most
    val perLeaf = Caches.leaf(per) // feeds types + the regs join
    val types = perLeaf.select(col("event_type")).distinct()
    val regs = Caches.leaf(types.crossJoin(s.range(256).toDF("bucket"))
      .join(perLeaf, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        coalesce(col("r"), lit(0L)).as("register"))) // both sides of the bucket-aligned pair join
    val pairSums = regs.as("a").join(regs.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.event_type") < col("b.event_type"))
      .selectExpr("a.event_type AS ta", "b.event_type AS tb",
        "shiftleft(CAST(1 AS BIGINT), CAST(33 - a.register AS INT)) AS pa",
        "shiftleft(CAST(1 AS BIGINT), CAST(33 - b.register AS INT)) AS pb",
        "shiftleft(CAST(1 AS BIGINT), CAST(33 - greatest(a.register, b.register) AS INT)) AS pu")
      .groupBy(col("ta"), col("tb"))
      .agg(sum(col("pa")).as("sa"), sum(col("pb")).as("sb"), sum(col("pu")).as("su"))
    val est = pairSums.selectExpr("ta", "tb",
      "CAST(47072 AS BIGINT) * 8589934592 DIV sa AS est_a",
      "CAST(47072 AS BIGINT) * 8589934592 DIV sb AS est_b",
      "CAST(47072 AS BIGINT) * 8589934592 DIV su AS est_union")
    // per-type counts + the pair union counts
    val userTypes = Caches.leaf(ev.select(col("user_id"), col("event_type")).distinct())
    val exactPer = userTypes.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
    val pairDim = est.select(col("ta"), col("tb"))
    val exactUnion = userTypes.join(broadcast(pairDim),
        col("event_type") === col("ta") || col("event_type") === col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(countDistinct(col("user_id")).as("exact_union"))
    est
      .join(broadcast(exactPer.select(col("event_type").as("ta"), col("n").as("exact_a"))), Seq("ta"))
      .join(broadcast(exactPer.select(col("event_type").as("tb"), col("n").as("exact_b"))), Seq("tb"))
      .join(exactUnion, Seq("ta", "tb"))
      .selectExpr("ta", "tb", "est_a", "est_b", "est_union",
        "est_a + est_b - est_union AS est_inter",
        "exact_a", "exact_b", "exact_union",
        "exact_a + exact_b - exact_union AS exact_inter")
      .orderBy(col("ta"), col("tb"))
  }

  val sk05Sql: String = {
    val h = "md5(CAST(user_id AS VARCHAR))"
    s"""WITH per AS (
       |  SELECT event_type,
       |    CAST(${nib(h, 1)} * 16 + ${nib(h, 2)} AS BIGINT) AS bucket,
       |    CAST(${hllV32(h)} AS BIGINT) AS v
       |  FROM events),
       |rho AS (
       |  SELECT event_type, bucket,
       |    CASE WHEN v = 0 THEN CAST(33 AS BIGINT)
       |         ELSE CAST(33 - length(bin(v)) AS BIGINT) END AS rho
       |  FROM per),
       |regs0 AS (
       |  SELECT event_type, bucket, MAX(rho) AS r
       |  FROM rho GROUP BY event_type, bucket),
       |frame AS (
       |  SELECT t.event_type, CAST(g.generate_series AS BIGINT) AS bucket
       |  FROM (SELECT DISTINCT event_type FROM events) t,
       |       generate_series(0, 255) g),
       |regs AS (
       |  SELECT f.event_type, f.bucket, CAST(COALESCE(r.r, 0) AS BIGINT) AS register
       |  FROM frame f LEFT JOIN regs0 r
       |    ON f.event_type = r.event_type AND f.bucket = r.bucket),
       |sums AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb,
       |    CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - a.register AS INT)) AS BIGINT) AS sa,
       |    CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - b.register AS INT)) AS BIGINT) AS sb,
       |    CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - greatest(a.register, b.register) AS INT)) AS BIGINT) AS su
       |  FROM regs a JOIN regs b
       |    ON a.bucket = b.bucket AND a.event_type < b.event_type
       |  GROUP BY ta, tb),
       |est AS (
       |  SELECT ta, tb,
       |    CAST(47072 AS BIGINT) * 8589934592 // sa AS est_a,
       |    CAST(47072 AS BIGINT) * 8589934592 // sb AS est_b,
       |    CAST(47072 AS BIGINT) * 8589934592 // su AS est_union
       |  FROM sums),
       |ut AS (SELECT DISTINCT user_id, event_type FROM events),
       |exact_per AS (
       |  SELECT event_type, COUNT(DISTINCT user_id) AS n FROM ut GROUP BY event_type),
       |exact_union AS (
       |  SELECT e.ta, e.tb, COUNT(DISTINCT u.user_id) AS exact_union
       |  FROM est e JOIN ut u
       |    ON u.event_type = e.ta OR u.event_type = e.tb
       |  GROUP BY e.ta, e.tb)
       |SELECT e.ta, e.tb, est_a, est_b, est_union,
       |  est_a + est_b - est_union AS est_inter,
       |  pa.n AS exact_a, pb.n AS exact_b, x.exact_union,
       |  pa.n + pb.n - x.exact_union AS exact_inter
       |FROM est e
       |JOIN exact_per pa ON pa.event_type = e.ta
       |JOIN exact_per pb ON pb.event_type = e.tb
       |JOIN exact_union x ON x.ta = e.ta AND x.tb = e.tb
       |ORDER BY e.ta, e.tb""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk05_hll_set_ops" -> (sk05HllSetOps _),
    "sk01_hll_distinct" -> (sk01HllDistinct _),
    "sk02_cms_heavy_hitters" -> (sk02CmsHeavyHitters _),
    "sk03_bloom_filter" -> (sk03BloomFilter _),
    "sk04_quantile_sketch" -> (sk04QuantileSketch _))

  val oracleSql: Map[String, String] = Map(
    "sk01_hll_distinct" -> sk01Sql,
    "sk02_cms_heavy_hitters" -> sk02Sql,
    "sk03_bloom_filter" -> sk03Sql,
    "sk04_quantile_sketch" -> sk04Sql,
    "sk05_hll_set_ops" -> sk05Sql)
}
