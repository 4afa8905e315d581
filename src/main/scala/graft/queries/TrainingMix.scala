package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-mix construction operators over `documents` — the steps between
  * "deduplicated corpus" and "tokenizer-ready shards" in a large-scale
  * training-data pipeline: deterministic stratified sampling to a target
  * language mix, token-budget shard packing, and incremental dedup of new
  * documents against an already-ingested base corpus.
  *
  * Determinism rule (shared with Dedup/TextAnalysis): every random-looking
  * choice is a pure function of md5 hex, which Spark and DuckDB compute
  * identically, so each query has an exact DuckDB oracle. No rand(), no
  * sample() — a resumed or re-run job at 100 TB must pick the SAME documents.
  *
  * Scale notes (100 TB):
  *  - x01 is a narrow scan: the keep/drop decision is per-row arithmetic on
  *    md5(doc_id); no shuffle at any scale.
  *  - x02's running sum is a plans.PrefixScan: its row-level window is
  *    partitioned by (lang, 4096-id doc bucket), never by lang alone.
  *  - d07's base-side fingerprints/signatures are, operationally, tables you
  *    write once when the base corpus is ingested and reuse for every
  *    increment; both probes are semi joins on hashed keys (no candidate-pair
  *    explosion — membership, not pairing), hash-partitioned on fp/(band,sig),
  *    and broadcastable when the increment is small.
  */
object TrainingMix {
  import Sketches.nib

  // 4 nibbles of md5(doc_id) → uniform u16 in [0, 65536): the deterministic
  // coin every sampling decision flips. doc_id is BIGINT in the input table —
  // cast to string before hashing (both engines render int64 identically).
  private val u16 = {
    val h = "md5(CAST(doc_id AS STRING))"
    s"(((${nib(h, 1)} * 16 + ${nib(h, 2)}) * 16 + ${nib(h, 3)}) * 16 + ${nib(h, 4)})"
  }

  // Target mix: downsample the dominant language to 1/4, keep the minority
  // languages whole, everything unrecognized at 1/8. Rates are u16 thresholds
  // (65536 = keep all) so keep/drop is integer-exact in both engines.
  private val rateExpr =
    "CASE WHEN lang = 'en' THEN 16384 " +
      "WHEN lang IN ('de', 'fr', 'es') THEN 65536 ELSE 8192 END"

  // ---- x01: stratified training-mix sample --------------------------------
  def x01StratifiedSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .selectExpr("doc_id", "lang",
        s"CAST($u16 AS BIGINT) AS u16", s"$rateExpr AS rate_u16")
      .filter(col("u16") < col("rate_u16"))
      .select(col("doc_id"), col("lang"), col("u16"))
      .orderBy(col("doc_id"))

  val x01Sql: String = {
    val h = "md5(CAST(doc_id AS VARCHAR))"
    val u = s"(((${nib(h, 1)} * 16 + ${nib(h, 2)}) * 16 + ${nib(h, 3)}) * 16 + ${nib(h, 4)})"
    s"""SELECT doc_id, lang, $u AS u16
       |FROM documents
       |WHERE $u < $rateExpr
       |ORDER BY doc_id""".stripMargin
  }

  // ---- x08: dedup-aware sampling weights -----------------------------------
  /** SOFT dedup — the reweighting real pipelines use instead of dropping
    * duplicates: each document carries weight 1/cluster_size over its d04
    * BoW-fingerprint cluster, so a cluster contributes ONE document's worth
    * of sampling mass however many copies exist, without discarding any
    * (order/recency of copies stays available to the sampler). Exact e6
    * integer weights; eff_tokens is the deduplicated token mass the mixture
    * planner (x04/x07) should budget with. One window over the fp partition
    * — no join, no second scan.
    */
  def x08DedupWeights(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .selectExpr("doc_id", "lang", s"${Dedup.bowFp} AS fp", s"$nTok AS n_tokens")
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy("fp")))
      .selectExpr("doc_id", "lang", "group_size",
        "CAST(1000000 AS BIGINT) DIV group_size AS weight_e6",
        "(n_tokens * (CAST(1000000 AS BIGINT) DIV group_size)) DIV 1000000 AS eff_tokens")
      .orderBy(col("doc_id"))
  }

  val x08Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
       |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS group_size
       |  FROM t)
       |SELECT doc_id, lang, group_size,
       |  CAST(1000000 // group_size AS BIGINT) AS weight_e6,
       |  CAST((n_tokens * (1000000 // group_size)) // 1000000 AS BIGINT) AS eff_tokens
       |FROM g ORDER BY doc_id""".stripMargin

  // ---- x02: token-budget shard packing -------------------------------------
  // Contiguous packing per language stream: docs ordered by doc_id, shard
  // boundary every ShardBudget whitespace tokens (shard = tokens-before DIV
  // budget — the standard streaming-pack rule; a shard overflows by at most
  // one document, never silently splits one).
  private val ShardBudget = 4096L
  private val nTok = "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"

  def x02ShardPacking(s: SparkSession, d: String): DataFrame =
    packByLang(s, d, ShardBudget, "shard_idx")

  /** x02's and st06's packing: `idx` = the doc's language's tokens before it
    * (doc_id order) DIV `budget`, a plans.PrefixScan over 4096-id buckets. */
  def packByLang(s: SparkSession, d: String, budget: Long, idx: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .selectExpr("doc_id", "lang", s"$nTok AS n_tokens", "doc_id DIV 4096 AS bkt")
    graft.plans.PrefixScan.exclusiveSum(docs, Seq("lang"), bucket = "bkt",
        order = "doc_id", value = "n_tokens", as = "cum_before")
      .selectExpr("doc_id", "lang", "n_tokens", s"cum_before DIV $budget AS $idx")
      .orderBy(col("doc_id"))
  }

  val x02Sql: String =
    s"""WITH toks AS (SELECT doc_id, lang, $nTok AS n_tokens FROM documents),
       |packed AS (
       |  SELECT doc_id, lang, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM toks)
       |SELECT doc_id, lang, n_tokens,
       |  CAST(cum_before // $ShardBudget AS BIGINT) AS shard_idx
       |FROM packed ORDER BY doc_id""".stripMargin

  // ---- d07: incremental dedup against a base corpus ------------------------
  // Corpus split deterministically on the first md5(doc_id) nibble: < 8 is
  // the already-ingested base, >= 8 the incoming increment. Each incoming doc
  // is flagged 'exact' (its bag-of-words fingerprint exists in the base),
  // 'near' (shares a MinHash band signature with any base doc — d01's
  // signature family, one band per seed), or 'keep'. Exact wins over near.
  private val NSeeds = Dedup.NSeeds // d01's signature family, by construction
  private val bowFp = s"${Dedup.bowFp} AS fp" // d04's fingerprint, shared

  def d07IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).selectExpr("doc_id", "text",
      s"${nib("md5(CAST(doc_id AS STRING))", 1)} AS nib")
    val base = docs.filter(col("nib") < 8)
    val inc = docs.filter(col("nib") >= 8)
    val baseFps = base.selectExpr(bowFp).distinct()
    val exactIds = inc.selectExpr("doc_id", bowFp)
      .join(baseFps, Seq("fp"), "left_semi").select(col("doc_id")).distinct()
    def sigs(df: DataFrame): DataFrame = df
      .select(col("doc_id"), graft.functions.Native.minhashSigs("text", NSeeds).as("mhs"))
      .selectExpr("doc_id", "posexplode(mhs) AS (band, sig)")
    val baseSigs = sigs(base).select(col("band"), col("sig")).distinct()
    val nearIds = sigs(inc).join(baseSigs, Seq("band", "sig"), "left_semi")
      .select(col("doc_id")).distinct()
    inc.select(col("doc_id"))
      .join(exactIds.withColumn("is_exact", lit(1)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("is_near", lit(1)), Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "CASE WHEN is_exact = 1 THEN 'exact' " +
          "WHEN is_near = 1 THEN 'near' ELSE 'keep' END AS verdict")
      .orderBy(col("doc_id"))
  }

  val d07Sql: String = {
    val mins = (0 until NSeeds)
      .map(k => s"min(md5('s$k' || substr(text, i, 8))) AS mh$k").mkString(", ")
    def stack(src: String) = (0 until NSeeds)
      .map(k => s"SELECT doc_id, $k AS band, mh$k AS sig FROM $src")
      .mkString(" UNION ALL ")
    val fp = "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp"
    s"""WITH docs AS (
       |  SELECT doc_id, text,
       |    ${nib("md5(CAST(doc_id AS VARCHAR))", 1)} AS nib
       |  FROM documents),
       |base AS (SELECT doc_id, text FROM docs WHERE nib < 8),
       |inc AS (SELECT doc_id, text FROM docs WHERE nib >= 8),
       |series AS (SELECT i FROM generate_series(1, 2048) t(i)),
       |basefp AS (SELECT DISTINCT $fp FROM base),
       |incfp AS (SELECT doc_id, $fp FROM inc),
       |basesig0 AS (
       |  SELECT doc_id, $mins FROM base
       |  JOIN series ON i <= greatest(length(text) - 7, 1) GROUP BY doc_id),
       |incsig0 AS (
       |  SELECT doc_id, $mins FROM inc
       |  JOIN series ON i <= greatest(length(text) - 7, 1) GROUP BY doc_id),
       |basesig AS (SELECT DISTINCT band, sig FROM (${stack("basesig0")})),
       |incsig AS (${stack("incsig0")}),
       |exact AS (SELECT DISTINCT doc_id FROM incfp JOIN basefp USING (fp)),
       |near AS (SELECT DISTINCT s.doc_id FROM incsig s JOIN basesig b USING (band, sig))
       |SELECT i.doc_id,
       |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
       |       WHEN n.doc_id IS NOT NULL THEN 'near' ELSE 'keep' END AS verdict
       |FROM inc i LEFT JOIN exact e USING (doc_id) LEFT JOIN near n USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- x03: eval-set decontamination ---------------------------------------
  // Flag training documents that share any word n-gram with a held-out eval
  // set (deterministic split: doc_id % 97 == 0 is "eval"). The canonical
  // pre-training hygiene step: benchmark text leaking into the training mix
  // inflates downstream scores, so per-doc overlap is counted (n_hits > 0 ⇒
  // contaminated, drop or audit). n = 3 here because this synthetic corpus's
  // near-dups are word-order shuffles (BoW-equal, so longer grams never
  // match — measured: n=8 yields zero hits, n=3 yields 171 contaminated docs
  // at sf0.01); production decontamination uses n of 8-13 over the SAME plan
  // shape.
  // Scale: a REAL eval set is benchmark-sized (MBs against a 100 TB corpus)
  // and its gram set belongs on the broadcast side; here the deterministic
  // 1/97 split SCALES WITH THE CORPUS, so the join is left to Spark/AQE
  // (runtime size decides) — a forced broadcast hint would bypass the size
  // thresholds and OOM at scale. ONE gram scan feeds both
  // counters — the left join tags eval hits in-stream and a single
  // partial-agg groupBy(doc_id) emits (n_grams, n_hits) together, instead
  // of two consumers recomputing the explode. Docs shorter than n tokens
  // produce no gram rows (filtered BEFORE the gram lambda — see
  // Dedup.wordGramExpr's caller contract) and land in the output spine as
  // (doc_id, 0, 0), exactly like the oracle's series-join bound loses them.
  private val DecontamN = 3

  def x03Decontaminate(s: SparkSession, d: String): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .filter(size(col("toks")) >= DecontamN)
      .selectExpr("doc_id",
        s"explode(array_distinct(${Dedup.wordGramExpr(DecontamN)})) AS g")
    val docs = Tables.documents(s, d)
    val evalGrams = grams(docs.filter(col("doc_id") % 97 === 0))
      .select(col("g")).distinct()
    val counts = grams(docs.filter(col("doc_id") % 97 =!= 0))
      .join(evalGrams.withColumn("hit", lit(1)), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hits"))
    docs.filter(col("doc_id") % 97 =!= 0).select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_hits"))
      .orderBy(col("doc_id"))
  }

  val x03Sql: String = {
    val sel = (0 until DecontamN).map(k => s"toks[i+$k]").mkString(" || ' ' || ")
    s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |series AS (SELECT i FROM generate_series(1, 2048) t(i)),
       |grams AS (
       |  SELECT DISTINCT doc_id, $sel AS g
       |  FROM docs JOIN series ON i <= length(toks) - ${DecontamN - 1}),
       |eg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
       |agg AS (
       |  SELECT t.doc_id, COUNT(*) AS n_grams, COUNT(e.g) AS n_hits
       |  FROM grams t LEFT JOIN eg e ON t.g = e.g
       |  WHERE t.doc_id % 97 <> 0
       |  GROUP BY t.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
       |LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // x04: temperature-scaled mixture weights — the sampling-alpha operator of
  // multilingual/multi-source training (upweight small sources relative to
  // their token share). Per source: token mass, proportional weight (α=1)
  // and α=0.5 temperature weight, both in exact e6 units. The α=0.5 path is
  // the only float op in the pipeline's oracle surface and is safe: IEEE 754
  // requires sqrt to be correctly rounded, an integer < 2^52 is exact as a
  // DOUBLE, so floor(sqrt(x)) is the same integer in Spark and DuckDB; all
  // sums/divisions stay BIGINT (order-free). Scale shape: one map-side-
  // combinable groupBy(source) over the corpus (source cardinality is tiny),
  // then a broadcast of the one-row totals frame.
  def x04TemperatureMix(s: SparkSession, d: String): DataFrame = {
    // one corpus scan: the totals come from an unpartitioned window over the
    // tiny per-source frame (source cardinality rows — the single-partition
    // warning is the point), NOT a crossJoin with a separately aggregated
    // totals frame, which would re-derive the whole corpus scan+agg lineage
    // a second time. The e6 fixed-point guard fails loudly inside the plan
    // (raise_error, no extra scan) if a source's token mass would overflow
    // 1000000 * n_tokens — DuckDB errors natively on the same overflow, so
    // both engines refuse rather than Spark silently wrapping negative.
    val per = Tables.documents(s, d).selectExpr("source", s"$nTok AS nt")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .selectExpr("source", "n_docs",
        s"CASE WHEN n_tokens > ${Long.MaxValue / 1000000} THEN " +
          "CAST(raise_error('x04: source token mass overflows the e6 " +
          "fixed-point — raise the weight unit') AS BIGINT) " +
          "ELSE n_tokens END AS n_tokens",
        "CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS st")
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per.withColumn("tot_tokens", sum(col("n_tokens")).over(all))
      .withColumn("tot_st", sum(col("st")).over(all))
      .selectExpr("source", "n_docs", "n_tokens",
        "(1000000 * n_tokens) DIV tot_tokens AS w_prop_e6",
        "(1000000 * st) DIV tot_st AS w_sqrt_e6")
      .orderBy(col("source"))
  }

  val x04Sql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |per2 AS (
      |  SELECT source, n_docs, n_tokens,
      |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS st
      |  FROM per),
      |tot AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
      |    CAST(sum(st) AS BIGINT) AS tot_st FROM per2)
      |SELECT source, n_docs, n_tokens,
      |  (1000000 * n_tokens) // tot_tokens AS w_prop_e6,
      |  (1000000 * st) // tot_st AS w_sqrt_e6
      |FROM per2, tot ORDER BY source""".stripMargin

  // x05: Z-ORDER layout clustering — the Iceberg/Delta `Z-ORDER BY` write
  // optimization as an explicit, oracle-checkable operator. The z-key
  // interleaves the bits of two dimensions (user bucket, hour-of-epoch
  // bucket, 8 bits each), so sorting by it co-locates rows that are close in
  // BOTH dimensions; bucketing the sorted order into 16 write units then
  // yields files whose min/max ranges are tight on BOTH columns, which is
  // what lets a scan prune files on either predicate. (A ts-sorted layout
  // prunes only on ts — each file spans the whole user range; the spec pins
  // the contrast.) Top-4 z bits = top-2 bits of EACH dimension, so every
  // bucket's spread is ≤ 63 on both dims by construction. All arithmetic is
  // integer (DIV/%/×4^i), identical in both engines.
  private def zbit(dim: String, i: Int, weight: Long): String =
    s"(($dim DIV ${1L << i}) % 2) * ${weight << (2 * i)}"
  private val zkeyExpr = {
    val terms = (0 until 8).flatMap(i => Seq(zbit("u", i, 1L), zbit("t", i, 2L)))
    terms.mkString("(", " + ", ")")
  }

  // hour index from the NTZ wall-clock fields (datediff×24 + hour) — the
  // events table is TIMESTAMP_NTZ, where unix_millis() does not apply and
  // field reads are timezone-independent in both engines
  def x05ZorderLayout(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .selectExpr("user_id % 256 AS u",
        "CAST((datediff(CAST(ts AS DATE), DATE'1970-01-01') * 24 + hour(ts)) % 256 AS BIGINT) AS t")
      .selectExpr("u", "t", s"$zkeyExpr AS zkey")
      .selectExpr("u", "t", "zkey DIV 4096 AS bucket") // 16 write units
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("u")).as("u_min"), max(col("u")).as("u_max"),
        min(col("t")).as("t_min"), max(col("t")).as("t_max"))
      .orderBy(col("bucket"))

  val x05Sql: String = {
    val terms = (0 until 8).flatMap(i => Seq(
      s"((u // ${1L << i}) % 2) * ${1L << (2 * i)}",
      s"((t // ${1L << i}) % 2) * ${2L << (2 * i)}"))
    s"""WITH dims AS (
       |  SELECT user_id % 256 AS u,
       |    CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) * 24
       |          + hour(ts)) % 256 AS BIGINT) AS t
       |  FROM events),
       |keyed AS (SELECT u, t, ${terms.mkString("(", " + ", ")")} // 4096 AS bucket
       |          FROM dims)
       |SELECT bucket, COUNT(*) AS n,
       |  MIN(u) AS u_min, MAX(u) AS u_max, MIN(t) AS t_min, MAX(t) AS t_max
       |FROM keyed GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // x06: LEAKAGE-SAFE train/val split. A per-document hash split puts exact
  // duplicates on both sides of the split — the classic eval-leakage bug (a
  // val doc whose twin was trained on). The fix: the split coin is thrown on
  // the DUPLICATE-CLUSTER fingerprint (d04's BoW fp), so a whole cluster
  // moves together; train gets first-nibble < 13 (~13/16 ≈ 81%). The output
  // carries the machine-checkable invariant alongside the assignment:
  // n_splits_in_cluster (distinct splits over the doc's cluster — MUST be 1
  // everywhere; a per-doc coin would make it 2 for straddling clusters, and
  // the spec proves exactly that contrast). Plan: one fp groupBy and a
  // fp-keyed join back — both on the same key, one shuffle each; the coin is
  // a pure expression, no extra pass.
  def x06LeakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    val withFp = Tables.documents(s, d)
      .selectExpr("doc_id", s"${Dedup.bowFp} AS fp")
    val clusters = withFp.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("cluster_size"))
      .selectExpr("fp", "rep", "cluster_size",
        "CASE WHEN instr('0123456789abcdef', substr(md5(fp), 1, 1)) - 1 < 13 " +
          "THEN 'train' ELSE 'val' END AS split")
    // each DOC carries its (cluster-derived) split; re-aggregating per
    // cluster and counting distinct doc-level splits is what makes the
    // invariant non-tautological: swap the coin to a per-doc hash and
    // n_splits_in_cluster reads 2 for mixed clusters (the spec pins that
    // contrast)
    withFp.join(clusters, Seq("fp"))
      .groupBy(col("fp"), col("rep"), col("cluster_size"))
      .agg(max(col("split")).as("split"),
        countDistinct(col("split")).as("n_splits_in_cluster"))
      .selectExpr("rep", "cluster_size", "split", "n_splits_in_cluster")
      .orderBy(col("rep"))
  }

  val x06Sql: String =
    """WITH fps AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
      |  FROM documents),
      |clusters AS (
      |  SELECT fp, MIN(doc_id) AS rep, COUNT(*) AS cluster_size,
      |    CASE WHEN instr('0123456789abcdef', substr(md5(fp), 1, 1)) - 1 < 13
      |         THEN 'train' ELSE 'val' END AS split
      |  FROM fps GROUP BY fp)
      |SELECT rep, cluster_size, MAX(split) AS split,
      |  CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits_in_cluster
      |FROM fps JOIN clusters USING (fp)
      |GROUP BY fp, rep, cluster_size
      |ORDER BY rep""".stripMargin

  // x07: CAPPED mixture weights — the third mixture-planning primitive
  // (x01 samples, x04 temperature-scales, x06 splits): no source may exceed
  // CapE6 of the token budget; the excess redistributes proportionally
  // among uncapped sources. Exact integer WATERFILLING, closed-form via
  // windows on the tiny per-source frame (source-cardinality rows — the
  // same documented single-partition windows as x04, no corpus re-scan):
  // sort by mass desc; source r is capped iff, with the r-1 heavier sources
  // capped, its proportional share of the remaining budget still exceeds
  // the cap — m_r · (1e6 − (r−1)·Cap) > Cap · suffixMass_r, all BIGINT —
  // and the capped set is the maximal prefix where that holds (running AND).
  // Uncapped weight = (1e6 − k·Cap) · m DIV uncappedMass. The prefix rule
  // self-terminates with budget left (k ≤ (1e6−1) DIV Cap), and when the
  // cap is INFEASIBLE (few sources, n·Cap < 1e6) every source caps and the
  // shortfall is OBSERVABLE in w_total_e6 — pinned by the spec, never a
  // silent lie. Cap 52000 (5.2%) splits the ~20-source synthetic corpus at
  // every SF, so both branches run in the driver gate.
  private[queries] val CapE6 = 52000L

  def x07CappedMixture(s: SparkSession, d: String): DataFrame = {
    val byMass = Window.orderBy(col("m").desc, col("source"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.documents(s, d).selectExpr("source", s"$nTok AS nt")
      .groupBy(col("source")).agg(sum(col("nt")).as("m"))
      // x04's overflow rule: the cap test multiplies m by up to 1e6, so a
      // source past Long.MaxValue/1e6 (~9.2e12) tokens must FAIL LOUDLY in
      // the plan — Spark's non-ANSI wrap would otherwise compute the capped
      // set from a negative product while DuckDB errors, a silent divergence
      // in exactly the 100 TB regime this operator targets
      .withColumn("m",
        expr(s"CASE WHEN m > ${Long.MaxValue / 1000000} THEN " +
          "CAST(raise_error('x07: source token mass overflows the e6 " +
          "fixed-point cap test — raise the weight unit') AS BIGINT) " +
          "ELSE m END"))
      .withColumn("r", row_number().over(byMass).cast("long"))
      .withColumn("suffix", sum(col("m"))
        .over(byMass.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      // the OTHER overflow operand: the cap test's right side is CapE6 *
      // suffix, and suffix at r=1 is the TOTAL corpus mass — many sources
      // each under the per-source guard can still wrap the product (total
      // ≳ 1.77e14 tokens). suffix is monotone decreasing in r, so guarding
      // every row guards the total; same loud raise_error, same DuckDB-
      // errors-anyway parity story as the per-source guard above.
      .withColumn("suffix",
        expr(s"CASE WHEN suffix > ${Long.MaxValue / CapE6} THEN " +
          "CAST(raise_error('x07: total token mass overflows the cap test " +
          "(CapE6 * suffix) — raise the weight unit') AS BIGINT) " +
          "ELSE suffix END"))
      .withColumn("over",
        when(col("m") * (lit(1000000L) - (col("r") - 1) * CapE6) >
          lit(CapE6) * col("suffix"), 1L).otherwise(0L))
      .withColumn("capped", min(col("over"))
        .over(byMass.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("k", sum(col("capped")).over(all))
      .withColumn("mu",
        sum(when(col("capped") === 0, col("m")).otherwise(0L)).over(all))
      .selectExpr("source", "m AS n_tokens", "CAST(capped AS INT) AS is_capped",
        s"CASE WHEN capped = 1 THEN ${CapE6}L " +
          s"ELSE ((1000000 - k * $CapE6) * m) DIV mu END AS w_e6")
      .withColumn("w_total_e6", sum(col("w_e6")).over(all))
      .orderBy(col("source"))
  }

  val x07Sql: String =
    s"""WITH per AS (
       |  SELECT source,
       |    CAST(sum(CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)) AS BIGINT) AS m
       |  FROM documents GROUP BY source),
       |ranked AS (
       |  SELECT source, m,
       |    CAST(ROW_NUMBER() OVER mass AS BIGINT) AS r,
       |    SUM(m) OVER (mass ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |      AS suffix
       |  FROM per WINDOW mass AS (ORDER BY m DESC, source)),
       |flagged AS (
       |  SELECT *,
       |    MIN(CASE WHEN m * (1000000 - (r - 1) * $CapE6) > $CapE6 * suffix
       |             THEN 1 ELSE 0 END)
       |      OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS capped
       |  FROM ranked),
       |totals AS (
       |  SELECT *,
       |    CAST(SUM(capped) OVER () AS BIGINT) AS k,
       |    CAST(SUM(CASE WHEN capped = 0 THEN m ELSE 0 END) OVER () AS BIGINT)
       |      AS mu
       |  FROM flagged),
       |weighted AS (
       |  SELECT source, m AS n_tokens, CAST(capped AS INT) AS is_capped,
       |    CASE WHEN capped = 1 THEN CAST($CapE6 AS BIGINT)
       |         ELSE ((1000000 - k * $CapE6) * m) // mu END AS w_e6
       |  FROM totals)
       |SELECT source, n_tokens, is_capped, w_e6,
       |  CAST(SUM(w_e6) OVER () AS BIGINT) AS w_total_e6
       |FROM weighted ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x01_stratified_sample" -> (x01StratifiedSample _),
    "x02_shard_packing" -> (x02ShardPacking _),
    "x03_decontaminate" -> (x03Decontaminate _),
    "x04_temperature_mix" -> (x04TemperatureMix _),
    "d07_incremental_dedup" -> (d07IncrementalDedup _),
    "x05_zorder_layout" -> (x05ZorderLayout _),
    "x06_leakage_safe_split" -> (x06LeakageSafeSplit _),
    "x07_capped_mixture" -> (x07CappedMixture _),
    "x08_dedup_weights" -> (x08DedupWeights _))

  val oracleSql: Map[String, String] = Map(
    "x01_stratified_sample" -> x01Sql,
    "x02_shard_packing" -> x02Sql,
    "x03_decontaminate" -> x03Sql,
    "x04_temperature_mix" -> x04Sql,
    "d07_incremental_dedup" -> d07Sql,
    "x05_zorder_layout" -> x05Sql,
    "x06_leakage_safe_split" -> x06Sql,
    "x07_capped_mixture" -> x07Sql,
    "x08_dedup_weights" -> x08Sql)
}
