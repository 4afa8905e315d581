package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.plans.{Caches, SessionCache}

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact/bag-of-words dedup, MinHash signatures, MinHash-LSH candidate pairs
  * with verified n-gram Jaccard, and SimHash. All use md5 as the shared hash
  * family so every step has an exact DuckDB oracle (md5 hex is identical in
  * both engines; Jaccard is computed in pure integer arithmetic).
  *
  * Scale notes (100 TB): every stage is explode → hash-partitioned groupBy —
  * no driver-side state. The LSH self-join is banded (join key = (band,
  * signature)), so shuffle volume is O(docs × bands), not O(docs²); the
  * verification join touches only candidate pairs.
  */
object Dedup {

  // MinHash seeds; each seed doubles as one LSH band. Shared with
  // TrainingMix.d07 so the incremental probe stays in d01's signature family.
  private[queries] val NSeeds = 4

  // ---- d01: MinHash signatures over character 8-gram shingles -------------
  // The SQL form of the signature (kept for the NativeMinHashSpec equality
  // gate; the hot path uses the single-pass native expression below, which
  // computes all seeds in one text scan with byte-level digest comparison —
  // see functions/GraftHash.scala).
  private[queries] def minhashExpr(seed: Int): String =
    s"array_min(transform(sequence(1, greatest(length(text) - 7, 1)), " +
      s"i -> md5(concat('s$seed', substr(text, i, 8))))) AS mh$seed"

  // null-text docs are dropped, matching the oracle: the SQL forms lose them
  // through the series join / explode, while the native scalar expression
  // would keep a (doc_id, NULL) row — filter for parity.
  def d01MinhashSignatures(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), graft.functions.Native.minhashSigs("text", NSeeds).as("mhs"))
      .selectExpr(Seq("doc_id") ++ (0 until NSeeds).map(k => s"mhs[$k] AS mh$k"): _*)
      .orderBy(col("doc_id"))

  val d01Sql: String = {
    // DuckDB 1.0 lacks lateral generate_series args: build an uncorrelated
    // series to the corpus max and filter.
    val mins = (0 until NSeeds)
      .map(k => s"min(md5('s$k' || substr(text, i, 8))) AS mh$k").mkString(", ")
    s"""WITH series AS (SELECT i FROM generate_series(1, 2048) t(i))
       |SELECT doc_id, $mins
       |FROM documents JOIN series ON i <= greatest(length(text) - 7, 1)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- d02: LSH candidate pairs + verified word-3-gram Jaccard ------------
  // Exact/BoW duplicates (d04's fingerprint) are COLLAPSED to one
  // representative BEFORE banding: a 100-member duplicate cluster would
  // otherwise flood its buckets past the mega-bucket guard and be silently
  // dropped — exactly the cluster dedup exists to find. Group members pair
  // with their canonical representative directly; LSH hunts near-dups among
  // the representatives only. Dropped mega-buckets are surfaced as the
  // oracle-checked d05 metric, not swallowed.
  // Verification: exact Jaccard over distinct word 3-grams, as integer
  // permille (1000*|∩| div |∪|) so the value is engine-exact. Output:
  // top-100 most similar candidate pairs.
  // over a materialized `toks` column — inlining split(text) here would
  // re-split the text on every element_at call inside the lambda (no CSE
  // across lambda boundaries): O(tokens²) per doc, measured 4.4 s vs sub-
  // second at sf0.1. Shared with TrainingMix.x03 (same gram family).
  // CALLER CONTRACT: rows must satisfy size(toks) >= n — sequence(1, k)
  // with k <= 0 counts DOWN through index 0 and element_at(toks, 0) throws
  // under ANSI mode. Every consumer filters short docs first (which is also
  // what the DuckDB oracles do via the series join bound).
  private[graft] def wordGramExpr(n: Int): String = {
    val parts = (0 until n).map(k => s"element_at(toks, i + $k)").mkString(", ")
    s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', $parts))"
  }
  private val shingle3 = wordGramExpr(3)

  // BoW fingerprint (d04's key); shared with TrainingMix.d07's exact probe
  // and the stateful streaming dedup (StreamingQueries.st03)
  private[graft] val bowFp =
    "md5(array_join(array_sort(array_distinct(split(text, ' '))), ' '))"

  /** Shared, materialized LSH prologue: BoW groups, representatives, band
    * signatures. The per-character md5 MinHash scan is the expensive subtree
    * of both d02 and d05, and each query references it 2-3× — without
    * materialization Catalyst recomputes it per reference (~6-8× total, the
    * round-2 regression). Cached per sf dir so d02 and d05 share ONE compute;
    * freed (both frames unpersisted) by [[SessionCache.releaseAll]], so no
    * blocks linger.
    * At 100 TB the same persist(MEMORY_AND_DISK) holds: signatures are a
    * narrow (doc_id, band, sig) projection, a tiny fraction of corpus bytes.
    */
  private[graft] case class Prologue(groups: DataFrame,
      groupPairs: DataFrame, sigs: DataFrame)

  private val prologueCache = new SessionCache[Prologue]("dedup-lsh-prologue", p => {
    p.sigs.unpersist(blocking = false)
    p.groups.unpersist(blocking = false)
  })

  private[graft] def prologue(s: SparkSession, d: String): Prologue =
    prologueCache.get(s, d) {
      val docs = Tables.documents(s, d)
        .filter(size(split(col("text"), " ")) >= 3)
      val groups = docs.selectExpr("doc_id", s"$bowFp AS fp")
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val groupPairs = groups
        .selectExpr("rep AS a", "explode(members) AS b")
        .filter(col("a") < col("b"))
      // reps (full text rows) feeds ONLY the signature build — no persist:
      // once sigs materializes it is never read again
      val reps = docs.join(groups.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
      val sigs = reps
        .select(col("doc_id"), graft.functions.Native.minhashSigs("text", NSeeds).as("mhs"))
        .selectExpr("doc_id", "posexplode(mhs) AS (band, sig)")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try sigs.count() // materialize the whole chain once (groups en route)
      catch { case t: Throwable => // failed builder must not strand blocks
        sigs.unpersist(blocking = false)
        groups.unpersist(blocking = false); throw t
      }
      Prologue(groups, groupPairs, sigs)
    }

  /** Mega-bucket guard threshold (a bucket holding more members than this is
    * useless for banding and would go quadratic in the candidate self-join).
    * The ONE definition consumed by d02 (candidate bounding), d05 (the
    * dropped-volume observability metric) and d09 (calibration must measure
    * the same candidate population d02 emits) — Scala and generated SQL.
    */
  private[queries] val BucketGuard = 50

  // the rep-level banded candidate self-join, materialized once per
  // (session, sf): d02 and d09 consume the identical candidate population
  // (that is d09's calibration contract), and before r6 each re-executed the
  // bucket-bound + self-join chain inside its own plan
  private val bandPairsCache =
    new SessionCache[DataFrame]("dedup-band-pairs", Caches.free)

  /** [[boundedBandPairs]] over the shared prologue, distinct, as a
    * materialized leaf — the one candidate population d02 and d09 share.
    */
  private[graft] def bandPairsLeaf(s: SparkSession, d: String): DataFrame =
    bandPairsCache.get(s, d) {
      Caches.leaf(boundedBandPairs(prologue(s, d).sigs).distinct())
    }

  // d02's VERIFIED top-100 pair table, materialized once per (session, sf):
  // the shingle-verification joins are the expensive half of d02, and d11
  // (cluster resolution over exactly these pairs) previously re-executed
  // them inside its own plan — the whole candidate+verify chain ran twice
  // per lap and would run twice at 100 TB too (r5 verdict item 1)
  private val verifiedPairsCache =
    new SessionCache[DataFrame]("dedup-d02-pairs", Caches.free)

  /** Rep-level LSH candidate pairs (a < b) from the guard-bounded banding —
    * the single definition of "d02's candidate population", shared with d09.
    */
  private[graft] def boundedBandPairs(sigs: DataFrame): DataFrame = {
    val bucketSizes = sigs.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= BucketGuard)
      .select(col("band"), col("sig"))
    val bounded = sigs.join(bucketSizes, Seq("band", "sig"), "left_semi")
    bounded.as("x").join(bounded.as("y"),
      col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
  }

  /** (a, b, n_common, na, nb): distinct-item overlap of candidate pairs over
    * a (doc_id, gs ARRAY&lt;STRING&gt; of DISTINCT items) frame — the shared
    * exact-verification step of d02 (word 3-grams) and d09 (char 8-gram
    * shingles). r6 REWRITE: overlap is computed IN-ROW via array_intersect
    * over the two attached arrays (d06's dense-vector-verify pattern). The
    * former shape exploded every candidate doc's items and equi-joined the
    * (doc, item) frame against itself per pair — an O(candidate docs ×
    * items-per-doc) shuffle executed twice plus a groupBy, the dominant
    * cost of d02 (probeD02). Per-pair work is O(na + nb) with NO shuffle
    * beyond attaching the arrays; row width is bounded by one document's
    * distinct-gram set, the same per-row bound d06's 64-slot vectors and
    * x03's gram arrays already rely on. `gs` must be distinct per doc and
    * cover every doc in `cand`; counts are identical to the exploded join
    * (|A ∩ B| over distinct sets), DedupSpec's brute-force gates prove it.
    */
  private def pairOverlap(cand: DataFrame, garr: DataFrame): DataFrame =
    cand
      .join(garr.select(col("doc_id").as("a"), col("gs").as("ga")), Seq("a"))
      .join(garr.select(col("doc_id").as("b"), col("gs").as("gb")), Seq("b"))
      .selectExpr("a", "b",
        "CAST(size(array_intersect(ga, gb)) AS BIGINT) AS n_common",
        "CAST(size(ga) AS BIGINT) AS na", "CAST(size(gb) AS BIGINT) AS nb")

  /** Frees every shared cache in the JVM ([[SessionCache.releaseAll]]);
    * kept as the hook the driver mains call.
    */
  def release(): Unit = SessionCache.releaseAll()

  /** d02's result rows (top-100 verified pairs), materialized as a leaf —
    * consumed by d02 (ordered readout) and d11 (cluster resolution).
    */
  private[graft] def verifiedPairs(s: SparkSession, d: String): DataFrame =
    verifiedPairsCache.get(s, d) {
      val docs = Tables.documents(s, d)
        .filter(size(split(col("text"), " ")) >= 3)
      val pro = prologue(s, d)
      // cand and sh each feed multiple joins below — eagerly checkpoint so
      // the verification joins read blocks, not recompute lineage (blocks
      // are GC-cleaned with the frames once the query's consumers finish).
      // cand is O(candidate pairs); sh is restricted to docs that appear in
      // a candidate pair BEFORE the shingle explode, so it is O(candidate
      // docs' shingles), not O(corpus). Dropped mega-bucket volume is
      // reported by d05_lsh_bucket_stats.
      // no distinct over the union (r6): the two sides are DISJOINT —
      // band pairs hold two REPRESENTATIVES (signatures are built over
      // reps only) while group pairs hold a rep and a NON-rep member (a
      // doc belongs to exactly one fp group, so a member b ≠ its group's
      // rep is no group's rep) — and each side is internally distinct
      // (band pairs via the leaf's distinct; one group row per (fp,
      // member)). The former distinct re-shuffled the full candidate set
      // for provably zero effect; any error in this argument would emit
      // duplicate (a, b) rows and turn the d02/d09/d11 oracle rows red.
      val cand = Caches.leaf(bandPairsLeaf(s, d) // shared with d09
        .unionByName(pro.groupPairs)) // exact/BoW members ↔ canonical rep
      val candDocs = cand.selectExpr("explode(array(a, b)) AS doc_id").distinct()
      // distinct word-3-gram ARRAY per candidate doc (no explode — the
      // in-row overlap consumes whole arrays); checkpointed: feeds both
      // array-attach joins
      val sh = Caches.leaf(docs.join(candDocs, Seq("doc_id"), "left_semi")
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr("doc_id", s"array_distinct($shingle3) AS gs"))
      Caches.leaf(pairOverlap(cand, sh)
        .selectExpr("a", "b",
          "(1000 * n_common) DIV (na + nb - n_common) AS jaccard_e3")
        .orderBy(col("jaccard_e3").desc, col("a"), col("b"))
        .limit(100))
    }

  def d02LshPairs(s: SparkSession, d: String): DataFrame =
    verifiedPairs(s, d)
      .orderBy(col("jaccard_e3").desc, col("a"), col("b"))

  // shared SQL prologue: docs, BoW groups, representatives, band signatures
  private val lshPrologueSql: String = {
    val mins = (0 until NSeeds)
      .map(k => s"min(md5('s$k' || substr(text, i, 8))) AS mh$k").mkString(", ")
    val stack = (0 until NSeeds).map(k => s"SELECT doc_id, $k AS band, mh$k AS sig FROM sigs")
      .mkString(" UNION ALL ")
    s"""WITH docs AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
       |  WHERE length(string_split(text, ' ')) >= 3),
       |series AS (SELECT i FROM generate_series(1, 2048) t(i)),
       |grps AS (
       |  SELECT md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp,
       |    MIN(doc_id) AS rep, list(doc_id) AS members
       |  FROM docs GROUP BY fp),
       |reps AS (SELECT d.* FROM docs d JOIN grps g ON d.doc_id = g.rep),
       |sigs AS (
       |  SELECT doc_id, $mins
       |  FROM reps JOIN series ON i <= greatest(length(text) - 7, 1)
       |  GROUP BY doc_id),
       |bands0 AS ($stack)""".stripMargin
  }

  val d02Sql: String =
    s"""$lshPrologueSql,
       |grp_pairs AS (
       |  SELECT rep AS a, unnest(members) AS b FROM grps),
       |keep AS (
       |  SELECT band, sig FROM bands0 GROUP BY band, sig HAVING COUNT(*) <= $BucketGuard),
       |bands AS (SELECT bands0.* FROM bands0 JOIN keep USING (band, sig)),
       |cand AS (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT x.doc_id AS a, y.doc_id AS b
       |    FROM bands x JOIN bands y
       |      ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
       |    UNION ALL
       |    SELECT a, b FROM grp_pairs WHERE a < b) t),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
       |  FROM docs JOIN series ON i <= length(toks) - 2),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT a, b, COUNT(*) AS n_common
       |  FROM cand JOIN sh sa ON a = sa.doc_id
       |  JOIN sh sb ON b = sb.doc_id AND sa.sh = sb.sh
       |  GROUP BY a, b)
       |SELECT a, b,
       |  (1000 * COALESCE(n_common, 0)) // (na + nb - COALESCE(n_common, 0)) AS jaccard_e3
       |FROM cand
       |LEFT JOIN common USING (a, b)
       |JOIN (SELECT doc_id AS a, n_sh AS na FROM sizes) USING (a)
       |JOIN (SELECT doc_id AS b, n_sh AS nb FROM sizes) USING (b)
       |ORDER BY jaccard_e3 DESC, a, b LIMIT 100""".stripMargin

  // ---- d05: LSH bucket stats — the mega-bucket guard made observable ------
  // Per band: bucket count, mega buckets (>50 members, excluded from d02's
  // candidate join) and the representative volume inside them. A silent cap
  // is a lie at scale; this is the lineage metric for it.
  def d05LshBucketStats(s: SparkSession, d: String): DataFrame = {
    prologue(s, d).sigs // shared with d02: one MinHash scan for both queries
      .groupBy(col("band"), col("sig")).agg(count(lit(1)).as("bsz"))
      .groupBy(col("band")).agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("bsz") > BucketGuard, 1L).otherwise(0L)).as("n_mega_buckets"),
        sum(when(col("bsz") > BucketGuard, col("bsz")).otherwise(0L)).as("n_docs_dropped"))
      .orderBy(col("band"))
  }

  val d05Sql: String =
    s"""$lshPrologueSql,
       |buckets AS (
       |  SELECT band, sig, COUNT(*) AS bsz FROM bands0 GROUP BY band, sig)
       |SELECT band,
       |  COUNT(*) AS n_buckets,
       |  CAST(SUM(CASE WHEN bsz > $BucketGuard THEN 1 ELSE 0 END) AS BIGINT) AS n_mega_buckets,
       |  CAST(SUM(CASE WHEN bsz > $BucketGuard THEN bsz ELSE 0 END) AS BIGINT) AS n_docs_dropped
       |FROM buckets GROUP BY band ORDER BY band""".stripMargin

  // ---- d06: embedding-cosine near-dup -------------------------------------
  // Hashing-trick embeddings: 64-dim token-count vectors (md5 bucket per
  // token). Components are integers, so dot products and norms are
  // BIGINT-exact and the cosine reduces to ONE deterministic double
  // expression — identical in both engines, hence oracle-exact. Candidates
  // come from 4 bands of signed-hyperplane projections (integer sums, so the
  // sign test has no FP ambiguity); the planes-per-band count GROWS with the
  // corpus — smallest p ≥ 4 with n_docs ≤ 50·2^p, a pure integer rule both
  // engines evaluate identically — so expected bucket size stays ≤ ~50 and
  // the banded self-join never goes quadratic. Pairs are verified exactly:
  // each doc's sparse dims densify to one 64-slot BIGINT array, the
  // candidate pair picks both arrays up via broadcast joins, and the dot is
  // a codegen'd zip_with fold (s01's pattern) — O(64) per pair, no join
  // explosion. Kept at cosine ≥ 0.95. The same plan over learned float
  // embeddings is s02's bucketing (the synthetic embeddings table has no
  // near-dup pairs to find — max pairwise cosine 0.51 — so documents is the
  // demonstrative input). Like d02, identical-text clusters are COLLAPSED to
  // a canonical representative before banding (a k-member cluster shares
  // every bucket and would emit O(k²) pairs); members pair with their rep
  // directly and LSH hunts near-dups among representatives only, so output
  // semantics match d02's canonical pairing.
  private val NEmbBands = 4
  private val EmbDim = 64
  private val EmbBucketTarget = 50L
  private val MaxEmbPlanes = 16
  private val NearDupE6 = 950000L

  private def embPlanesFor(nDocs: Long): Int =
    (4 to MaxEmbPlanes).find(p => nDocs <= EmbBucketTarget * (1L << p))
      .getOrElse(MaxEmbPlanes)

  /** d06's candidate stage (everything before exact-cosine verification),
    * split out so the growth lap can COUNT the candidate population per
    * scale point — the quantity the star-pair guard bounds at 100 TB.
    */
  private[graft] case class D06Stage(cand: DataFrame, vecs: DataFrame, nDocs: Long)

  private[graft] def d06CandidateStage(s: SparkSession, d: String): D06Stage = {
    val docs = Tables.documents(s, d)
    // exact-text pre-collapse: identical texts ⇒ identical vectors; band
    // representatives only, pair members with their rep (verified through
    // the same cosine expression, so every output row is formula-derived)
    // feeds the rep semi-join + group pairs + count
    val fpGroups = Caches.leaf(docs.selectExpr("doc_id", "md5(text) AS fp").groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members")))
    val groupPairs = fpGroups
      .selectExpr("rep AS a", "explode(members) AS b")
      .filter(col("a") < col("b"))
    val nDocs = docs.count() // parquet metadata count; sizes the vec broadcast
    val nReps = fpGroups.count()
    val nPlanes = embPlanesFor(nReps) // buckets hold representatives
    // dense 64-slot count vector per doc via the native single-pass
    // expression (functions/GraftHash.scala) — replaces the token explode +
    // (doc, slot) groupBy + densify pipeline, which shuffled O(corpus
    // tokens) rows; now the ONLY pass over document text in d06, feeding
    // both the rep bucket projections and the verification vectors —
    // checkpoint so the text scan runs once
    val feat = Caches.leaf(docs
      .select(col("doc_id"),
        graft.functions.Native.tokenCountVec("text", EmbDim).as("v")))
    // dense vector + norm per doc; narrow over the feat blocks (each
    // broadcast side re-reads blocks and re-folds — O(64)/row, cheaper than
    // another checkpoint job)
    val vecs = feat.selectExpr("doc_id", "v",
      "aggregate(v, CAST(0 AS BIGINT), (acc, x) -> acc + x * x) AS n2")
    // per-band hyperplane buckets for representatives, computed IN-ROW by
    // the native expression (the sign table is the same md5 rule the DuckDB
    // oracle states) — replaces a broadcast planes join + two groupBys
    val bkt = Caches.leaf(feat
      .join(fpGroups.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.functions.Native.embBuckets("v", NEmbBands, nPlanes).as("bkts"))
      .selectExpr("doc_id", "posexplode(bkts) AS (band, bucket)")) // both banded self-join sides
    // Mega-bucket guard, adapted to near-dup semantics: hyperplane buckets
    // are NOT uniform — mutually-similar vectors pile into the SAME buckets
    // in every band (more planes can split random collisions but never a
    // true cluster), measured at sf0.1 as 3.4M candidate pairs from 5k reps
    // that bound the whole query on distinct + verification; a skewed
    // bucket at 100 TB goes quadratic. d02's drop-the-bucket rule would
    // throw away exactly the clusters near-dup search exists to find
    // (measured: 26 → 5 result rows at sf0.01), so oversized buckets emit
    // STAR pairs to the bucket's min doc instead — O(members) candidates,
    // cluster connectivity preserved through the bucket root, the same
    // canonical-pairing shape grp_pairs gives exact dups. Buckets at or
    // under the target keep exhaustive in-bucket pairing. The DuckDB oracle
    // states the identical split rule.
    val bstats = bkt.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"), min(col("doc_id")).as("root"))
    val smallB = bstats.filter(col("bsz") <= EmbBucketTarget)
      .select(col("band"), col("bucket"))
    val bigB = bstats.filter(col("bsz") > EmbBucketTarget)
      .select(col("band"), col("bucket"), col("root"))
    val bounded = bkt.join(smallB, Seq("band", "bucket"), "left_semi")
    val allPairs = bounded.as("x").join(bounded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val starPairs = bkt.join(bigB, Seq("band", "bucket"))
      .filter(col("doc_id") > col("root"))
      .select(col("root").as("a"), col("doc_id").as("b"))
    val cand = allPairs
      .unionByName(starPairs) // mega buckets: member ↔ bucket root only
      .unionByName(groupPairs) // exact-dup members ↔ canonical rep
      .distinct()
    D06Stage(cand, vecs, nDocs)
  }

  def d06EmbeddingNeardup(s: SparkSession, d: String): DataFrame = {
    val D06Stage(cand, vecs, nDocs) = d06CandidateStage(s, d)
    // the dense-vector side is a narrow (doc_id, 64×BIGINT) projection —
    // broadcast below the size gate (same pattern as the one-hop join's
    // conf-gated fallback); oversize corpora fall back to a shuffle join on
    // the pair keys, which co-partitions with cand's distinct. The gate is
    // BYTE-based, not row-based: what OOMs the driver is the materialized
    // broadcast (rows × row bytes), and the row width here is fixed and
    // known — EmbDim 8-byte slots + doc_id + n2 + array/offset overhead ≈
    // 0.57 KB/doc — so a row gate would under-admit narrow projections and
    // over-admit this one (1M docs ≈ 0.5-1 GB, an OOM below a 100k-row
    // gate's radar only by luck of the default). Default 64 MB ≈ 110k docs,
    // ~the old row default, and well under a 1 GB driver result budget even
    // with both join sides resident.
    val embRowBytes = EmbDim * 8L + 64L // v slots + doc_id + n2 + overhead
    val bcMaxBytes = s.conf.getOption("graft.d06.broadcast.maxBytes")
      .map(_.toLong).getOrElse(64L << 20)
    def side(n: String, vn: String, nn: String) = {
      val v = vecs.select(col("doc_id").as(n), col("v").as(vn), col("n2").as(nn))
      if (nDocs * embRowBytes <= bcMaxBytes) broadcast(v) else v
    }
    cand
      .join(side("a", "va", "n2a"), Seq("a"))
      .join(side("b", "vb", "n2b"), Seq("b"))
      .selectExpr("a", "b",
        "aggregate(zip_with(va, vb, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v) AS dot",
        "n2a", "n2b")
      .selectExpr("a", "b",
        "CAST(floor(1e6 * dot / (sqrt(n2a) * sqrt(n2b))) AS BIGINT) AS sim_e6")
      .filter(col("sim_e6") >= NearDupE6)
      .orderBy(col("sim_e6").desc, col("a"), col("b"))
  }

  val d06Sql: String = {
    val nib = (i: Int) => s"(instr('0123456789abcdef', substr(md5(tok), $i, 1)) - 1)"
    s"""WITH grps AS (
       |  SELECT md5(text) AS fp, MIN(doc_id) AS rep, list(doc_id) AS members
       |  FROM documents GROUP BY fp),
       |grp_pairs AS (
       |  SELECT rep AS a, unnest(members) AS b FROM grps),
       |nplanes AS (
       |  SELECT COALESCE(MIN(p), $MaxEmbPlanes) AS np
       |  FROM generate_series(4, $MaxEmbPlanes) t(p)
       |  WHERE (SELECT COUNT(*) FROM grps) <= $EmbBucketTarget * (CAST(1 AS BIGINT) << p)),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |feat AS (
       |  SELECT doc_id, (${nib(1)} * 16 + ${nib(2)}) % $EmbDim AS j,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM toks GROUP BY doc_id, j),
       |vecs AS (
       |  SELECT f.doc_id,
       |    list(COALESCE(ff.c, 0) ORDER BY s.i) AS v,
       |    CAST(SUM(COALESCE(ff.c, 0) * COALESCE(ff.c, 0)) AS BIGINT) AS n2
       |  FROM (SELECT DISTINCT doc_id FROM feat) f
       |  CROSS JOIN generate_series(0, ${EmbDim - 1}) s(i)
       |  LEFT JOIN feat ff ON ff.doc_id = f.doc_id AND ff.j = s.i
       |  GROUP BY f.doc_id),
       |planes AS (
       |  SELECT band, p, j,
       |    CASE WHEN (instr('0123456789abcdef',
       |        substr(md5('eb' || band || '_' || p || '_' || j), 1, 1)) - 1) % 2 = 0
       |      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sgn
       |  FROM generate_series(0, ${NEmbBands - 1}) tb(band),
       |       generate_series(0, ${MaxEmbPlanes - 1}) tp(p),
       |       generate_series(0, ${EmbDim - 1}) tj(j)
       |  WHERE p < (SELECT np FROM nplanes)),
       |bkt AS (
       |  SELECT doc_id, band,
       |    CAST(SUM(CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
       |  FROM (
       |    SELECT f.doc_id, pl.band, pl.p, SUM(pl.sgn * f.c) AS proj
       |    FROM feat f JOIN planes pl ON f.j = pl.j
       |    JOIN grps g ON f.doc_id = g.rep
       |    GROUP BY f.doc_id, pl.band, pl.p) t
       |  GROUP BY doc_id, band),
       |bstats AS (
       |  SELECT band, bucket, COUNT(*) AS bsz, MIN(doc_id) AS root
       |  FROM bkt GROUP BY band, bucket),
       |bktk AS (
       |  SELECT bkt.* FROM bkt
       |  JOIN (SELECT band, bucket FROM bstats WHERE bsz <= $EmbBucketTarget) s
       |  USING (band, bucket)),
       |starp AS (
       |  SELECT g.root AS a, k.doc_id AS b
       |  FROM (SELECT band, bucket, root FROM bstats WHERE bsz > $EmbBucketTarget) g
       |  JOIN bkt k USING (band, bucket)
       |  WHERE k.doc_id > g.root),
       |cand AS (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT x.doc_id AS a, y.doc_id AS b
       |    FROM bktk x JOIN bktk y
       |      ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
       |    UNION ALL
       |    SELECT a, b FROM starp
       |    UNION ALL
       |    SELECT a, b FROM grp_pairs WHERE a < b) u)
       |SELECT a, b,
       |  CAST(floor(1e6 *
       |    (SELECT SUM(pa.v[i] * pb.v[i]) FROM generate_series(1, $EmbDim) t(i)) /
       |    (sqrt(pa.n2) * sqrt(pb.n2))) AS BIGINT) AS sim_e6
       |FROM cand JOIN vecs pa ON pa.doc_id = a JOIN vecs pb ON pb.doc_id = b
       |WHERE floor(1e6 *
       |    (SELECT SUM(pa.v[i] * pb.v[i]) FROM generate_series(1, $EmbDim) t(i)) /
       |    (sqrt(pa.n2) * sqrt(pb.n2))) >= $NearDupE6
       |ORDER BY sim_e6 DESC, a, b""".stripMargin
  }

  // ---- d03: SimHash (16-bit) over the token multiset ----------------------
  // h16(token) = first 4 hex nibbles of md5; bit votes ±1; sign → bit.
  // Hot path: the native single-pass expression (functions/GraftHash.scala) —
  // per-doc votes accumulate in-row, so the whole query is a narrow scan with
  // NO shuffle (the SQL form explodes 16 × tokens rows into a groupBy — an
  // O(corpus tokens) shuffle at 100 TB). The SQL form below is kept as the
  // NativeMinHashSpec equality reference.
  def d03Simhash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("text").isNotNull) // parity: the explode forms drop these
      .select(col("doc_id"), graft.functions.Native.simhash16("text").as("simhash16"))
      .orderBy(col("doc_id"))

  private[queries] def d03SimhashSqlForm(s: SparkSession, d: String): DataFrame = {
    val nib = (i: Int) => s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1)"
    val bits = Tables.documents(s, d)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS tok")
      .selectExpr("doc_id", "substr(md5(tok), 1, 4) AS h")
      .selectExpr("doc_id",
        s"((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + ${nib(4)} AS h16")
      .selectExpr("doc_id", "h16", "explode(sequence(0, 15)) AS b")
      .selectExpr("doc_id", "b", "2 * ((h16 DIV shiftleft(1, b)) % 2) - 1 AS vote")
    bits.groupBy(col("doc_id"), col("b"))
      .agg(sum(col("vote")).as("votes"))
      .selectExpr("doc_id",
        "CASE WHEN votes > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END AS bitval")
      .groupBy(col("doc_id"))
      .agg(sum(col("bitval")).as("simhash16"))
      .orderBy(col("doc_id"))
  }

  val d03Sql: String = {
    val nib = (i: Int) => s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1)"
    s"""WITH toks AS (
       |  SELECT doc_id, substr(md5(tok), 1, 4) AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
       |h16s AS (
       |  SELECT doc_id,
       |    ((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + ${nib(4)} AS h16
       |  FROM toks),
       |votes AS (
       |  SELECT doc_id, b, SUM(2 * ((h16 // (1 << b)) % 2) - 1) AS votes
       |  FROM h16s, generate_series(0, 15) AS t(b)
       |  GROUP BY doc_id, b)
       |SELECT doc_id,
       |  CAST(SUM(CASE WHEN votes > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash16
       |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- d04: exact + bag-of-words duplicate groups --------------------------
  // Canonical = min doc_id per BoW fingerprint; groups of size ≥ 1 reported
  // with their size (size > 1 ⇒ near-duplicate cluster to drop).
  def d04ExactDupGroups(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .selectExpr("doc_id", s"$bowFp AS fp")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_doc_id"), count(lit(1)).as("group_size"))
      .orderBy(col("canonical_doc_id"))

  val d04Sql: String =
    """SELECT fp, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS group_size
      |FROM (SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
      |  FROM documents) t
      |GROUP BY fp ORDER BY canonical_doc_id""".stripMargin

  // ---- d08: EXACT n-gram Jaccard join via global-order prefix filtering ---
  // The non-probabilistic counterpart to d02's MinHash-LSH: ALL pairs with
  // word-3-gram Jaccard ≥ τ = 3/5, no hashing approximation and no dropped
  // buckets. Classic prefix-filter join (SSJoin/PPJoin family): order each
  // doc's grams by global rarity (document frequency asc, gram asc — a total
  // order, so both engines pick identical prefixes), index only the first
  // n - ⌈τ·n⌉ + 1 grams per doc, and generate candidates from docs sharing a
  // PREFIX gram. Losslessness: J(x,y) ≥ τ ⟹ |x∩y| ≥ ⌈τ·max(|x|,|y|)⌉, so the
  // common grams cannot all hide in either doc's ⌈τ·n⌉-1 suffix — at least
  // one lands in both prefixes (DedupSpec proves equality to the brute-force
  // all-pairs answer). Scale shape: candidate volume is Σ_g df_prefix(g)² —
  // the rarest-first order pushes frequent grams OUT of prefixes, which is
  // what bounds the self-join at 100 TB (a stopword-ish gram ranks last and
  // is never indexed unless a doc has nothing rarer); the length filter
  // 5·min(n) ≥ 3·max(n) prunes inside the join condition, and verification
  // touches candidate docs only. All arithmetic is integer-exact
  // (⌈3n/5⌉ = (3n+4) DIV 5; permille Jaccard as in d02).
  /** d08's prefix-filter candidate stage, split out (same reason as
    * [[d06CandidateStage]]): the growth lap charts candidate volume —
    * Σ df_prefix(g)² — against corpus scale.
    */
  private[graft] case class D08Stage(memb: DataFrame, grams: DataFrame, cand: DataFrame)

  private[graft] def d08CandidateStage(s: SparkSession, d: String): D08Stage = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .filter(size(split(col("text"), " ")) >= 3)
    // IDENTICAL-TEXT collapse — exactness-preserving (unlike d02's BoW-level
    // collapse, which is only sound for its hash family): identical text ⇒
    // identical gram set ⇒ J(member, x) = J(rep, x) for every x, so the
    // prefix-filter join and verification run over ONE representative per
    // distinct text and member pairs are expanded back at the end. An
    // n-member identical cluster is n²/2 OUTPUT rows either way (that is the
    // all-pairs semantics), but collapsed it costs O(1) verification work
    // instead of n²/2 gram-set intersections. df ordering over reps instead
    // of all docs changes only candidate volume, never the output: prefix
    // filtering is lossless under ANY global total order.
    // feeds reps, intra pairs, 2 expansion joins
    val memb = Caches.leaf(docs.selectExpr("doc_id", "md5(text) AS fp")
      .withColumn("rep", min(col("doc_id")).over(Window.partitionBy("fp"))))
    val reps = docs.join(
      memb.filter(col("doc_id") === col("rep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    // distinct (rep, gram) rows feed df, the ranked-prefix build, and the
    // verification join twice — materialize the explode ONCE (d02's rule)
    val grams = Caches.leaf(reps
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", s"explode(array_distinct($shingle3)) AS g"))
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("doc_id")
    val ranked = grams.join(df, Seq("g"))
      .select(col("doc_id"), col("g"),
        row_number().over(byDoc.orderBy(col("df"), col("g"))).as("rk"),
        count(lit(1)).over(byDoc).as("n"))
    // both sides of the self-join read the df-join + double-window chain —
    // materialize it once (exchange reuse across self-join sides is not
    // guaranteed, and under AQE the sides re-plan independently)
    val prefix = Caches.leaf(ranked.filter(col("rk") <= col("n") - expr("(3 * n + 4) DIV 5") + 1))
    // positional filter (PPJoin): a pair needs overlap c >= 3(na+nb)/8 to
    // reach J >= 3/5, and the FIRST common gram under the global (df, g)
    // order — which prefix filtering guarantees both prefixes contain —
    // leaves at most 1 + min(na - rk_x, nb - rk_y) grams that can still be
    // common (every other common gram ranks after it on BOTH sides, ranks
    // being assigned by the same global order). Any qualifying pair
    // therefore survives through that first gram, so the filter is LOSSLESS
    // for the output while pruning deep-prefix matches. The growth lap
    // measured why this matters: under a saturating gram universe (closed
    // vocab) plain prefix filtering goes quadratic — candidates 183k -> 3.7M
    // from 5k -> 20k docs (exponent ~2.2) without it.
    val cand = Caches.leaf(prefix.as("x").join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          lit(5) * least(col("x.n"), col("y.n")) >=
            lit(3) * greatest(col("x.n"), col("y.n")) &&
          lit(8) * (lit(1) + least(col("x.n") - col("x.rk"), col("y.n") - col("y.rk"))) >=
            lit(3) * (col("x.n") + col("y.n")))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .distinct()) // feeds candDocs, common, and the final join
    D08Stage(memb, grams, cand)
  }

  def d08NgramJaccard(s: SparkSession, d: String): DataFrame = {
    val D08Stage(memb, grams, cand) = d08CandidateStage(s, d)
    val docs = Tables.documents(s, d)
      .filter(size(split(col("text"), " ")) >= 3)
    val candDocs = cand.selectExpr("explode(array(a, b)) AS doc_id").distinct()
    // r6: overlap verification IN-ROW over per-doc distinct-gram arrays
    // (pairOverlap's array_intersect rewrite) — replaces the exploded
    // (doc, gram) self-equi-join + groupBy, the heavy half of this query.
    // Arrays are rebuilt from text rather than re-grouped from `grams`
    // (one narrow in-row pass over candidate reps, no shuffle). The former
    // inner join on `common` only kept pairs sharing ≥1 gram; the Jaccard
    // threshold filter subsumes it (c = 0 can never satisfy 5c ≥ 3(na+nb)).
    val garr = Caches.leaf(docs.join(candDocs, Seq("doc_id"), "left_semi")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", s"array_distinct($shingle3) AS gs")) // feeds both array-attach joins
    val repPairs = cand
      .join(garr.select(col("doc_id").as("a"), col("gs").as("ga")), Seq("a"))
      .join(garr.select(col("doc_id").as("b"), col("gs").as("gb")), Seq("b"))
      .selectExpr("a", "b", "na", "nb",
        "CAST(size(array_intersect(ga, gb)) AS BIGINT) AS c")
      .filter(lit(5) * col("c") >= lit(3) * (col("na") + col("nb") - col("c")))
      .selectExpr("a", "b", "(1000 * c) DIV (na + nb - c) AS jaccard_e3")
    // expand the collapse back to doc-level pairs: cross-group pairs inherit
    // the rep pair's Jaccard; intra-group pairs are exact duplicates (1000)
    val cross = repPairs
      .join(memb.select(col("rep").as("a"), col("doc_id").as("da")), Seq("a"))
      .join(memb.select(col("rep").as("b"), col("doc_id").as("db")), Seq("b"))
      .selectExpr("least(da, db) AS a", "greatest(da, db) AS b", "jaccard_e3")
    val intra = memb.as("x").join(memb.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        lit(1000L).as("jaccard_e3"))
    cross.unionByName(intra)
      .orderBy(col("jaccard_e3").desc, col("a"), col("b"))
  }

  val d08Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE length(string_split(text, ' ')) >= 3),
      |series AS (SELECT i FROM generate_series(1, 2048) t(i)),
      |grams AS (
      |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      |  FROM docs JOIN series ON i <= length(toks) - 2),
      |dfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
      |ranked AS (
      |  SELECT doc_id, g,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, g) AS rk,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS n
      |  FROM grams JOIN dfreq USING (g)),
      |pref AS (SELECT * FROM ranked WHERE rk <= n - (3 * n + 4) // 5 + 1),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.n AS na, y.n AS nb
      |  FROM pref x JOIN pref y
      |    ON x.g = y.g AND x.doc_id < y.doc_id
      |    AND 5 * least(x.n, y.n) >= 3 * greatest(x.n, y.n)),
      |common AS (
      |  SELECT a, b, COUNT(*) AS c
      |  FROM cand JOIN grams sa ON a = sa.doc_id
      |  JOIN grams sb ON b = sb.doc_id AND sa.g = sb.g
      |  GROUP BY a, b)
      |SELECT a, b, CAST((1000 * c) // (na + nb - c) AS BIGINT) AS jaccard_e3
      |FROM cand JOIN common USING (a, b)
      |WHERE 5 * c >= 3 * (na + nb - c)
      |ORDER BY jaccard_e3 DESC, a, b""".stripMargin

  // ---- d09: MinHash calibration — estimate vs truth, measured ------------
  // For every rep-level LSH candidate pair: the MinHash ESTIMATE of Jaccard
  // (agreeing signature slots / NSeeds, in e3 units) next to the EXACT
  // char-8-gram Jaccard the signatures approximate, plus the absolute error.
  // This is the "measure, don't guess" operator for the dedup family: at
  // 100 TB you tune band/seed counts from exactly this calibration table,
  // not from the textbook formula. Slot agreement is counted over the FULL
  // signature set (mega-bucket bands included — calibration must see every
  // slot); candidates come from the same guarded banding as d02, and the
  // exact side reuses d02's candidates-only explode shape, but over the
  // char shingles the signatures are actually built from (word grams would
  // calibrate against the wrong universe). Every candidate pair agrees in
  // >= 1 bounded band by construction, so the agree join is inner.
  def d09MinhashCalibration(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(size(split(col("text"), " ")) >= 3)
    val pro = prologue(s, d)
    val sigs = pro.sigs
    // the shared band-pair leaf (built once, reused by d02) feeds agree,
    // candDocs and the final join
    val cand = bandPairsLeaf(s, d)
    val agree = cand.join(sigs.as("sa"), col("a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("b") === col("sb.doc_id") &&
        col("sa.band") === col("sb.band"))
      .filter(col("sa.sig") === col("sb.sig"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_agree"))
    val candDocs = cand.selectExpr("explode(array(a, b)) AS doc_id").distinct()
    // distinct char-8-gram ARRAY per candidate doc (in-row overlap, as d02)
    val sh = Caches.leaf(docs.join(candDocs, Seq("doc_id"), "left_semi")
      .selectExpr("doc_id",
        "array_distinct(transform(sequence(1, greatest(length(text) - 7, 1)), " +
          "i -> substr(text, i, 8))) AS gs")) // read by both array-attach joins
    pairOverlap(cand, sh)
      .join(agree, Seq("a", "b"))
      .selectExpr("a", "b", "n_agree",
        s"(1000 * n_agree) DIV $NSeeds AS est_e3",
        "(1000 * n_common) DIV (na + nb - n_common) AS jacc_e3")
      .selectExpr("a", "b", "n_agree", "est_e3", "jacc_e3",
        "abs(est_e3 - jacc_e3) AS err_e3")
      .orderBy(col("a"), col("b"))
  }

  val d09Sql: String =
    s"""$lshPrologueSql,
       |keep AS (
       |  SELECT band, sig FROM bands0 GROUP BY band, sig HAVING COUNT(*) <= $BucketGuard),
       |bands AS (SELECT bands0.* FROM bands0 JOIN keep USING (band, sig)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |agree AS (
       |  SELECT a, b, COUNT(*) AS n_agree
       |  FROM cand
       |  JOIN bands0 sa ON a = sa.doc_id
       |  JOIN bands0 sb ON b = sb.doc_id AND sa.band = sb.band AND sa.sig = sb.sig
       |  GROUP BY a, b),
       |cdocs AS (SELECT a AS doc_id FROM cand UNION SELECT b FROM cand),
       |csh AS (
       |  SELECT DISTINCT doc_id, substr(text, i, 8) AS sh
       |  FROM docs JOIN series ON i <= greatest(length(text) - 7, 1)
       |  WHERE doc_id IN (SELECT doc_id FROM cdocs)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM csh GROUP BY doc_id),
       |common AS (
       |  SELECT a, b, COUNT(*) AS n_common
       |  FROM cand JOIN csh sa ON a = sa.doc_id
       |  JOIN csh sb ON b = sb.doc_id AND sa.sh = sb.sh
       |  GROUP BY a, b)
       |SELECT a, b, n_agree,
       |  (1000 * n_agree) // $NSeeds AS est_e3,
       |  (1000 * COALESCE(n_common, 0)) // (na + nb - COALESCE(n_common, 0)) AS jacc_e3,
       |  abs((1000 * n_agree) // $NSeeds -
       |      (1000 * COALESCE(n_common, 0)) // (na + nb - COALESCE(n_common, 0))) AS err_e3
       |FROM cand
       |JOIN agree USING (a, b)
       |LEFT JOIN common USING (a, b)
       |JOIN (SELECT doc_id AS a, n_sh AS na FROM sizes) USING (a)
       |JOIN (SELECT doc_id AS b, n_sh AS nb FROM sizes) USING (b)
       |ORDER BY a, b""".stripMargin

  // ---- d10: duplicated n-gram SPAN detection -------------------------------
  /** Per-document runs of word 5-grams that also occur in ANOTHER document —
    * the repeated-substring primitive of training-data hygiene (long spans
    * shared across documents are boilerplate/quotation mass that survives
    * doc-level dedup). Plan: one positioned gram explode (inverted-index
    * shape), document frequency over distinct docs per gram, a semi
    * join-back of duplicated grams, then gaps-and-islands per document
    * (run id = pos − row_number, one per-doc window) → per-doc span stats.
    * O(corpus grams) shuffle, no self-joins, window partitioned by doc —
    * the shape survives 100 TB unchanged. Cross-DOC duplication only (a
    * gram repeated within one document is not a dup here); spans report
    * token lengths (run + 4). The DuckDB oracle recomputes the identical
    * islands from its own 1-based positions — the run structure is
    * offset-invariant, so position-base parity cancels by construction.
    */
  def d10DuplicateSpans(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(size(split(col("text"), " ")) >= 5)
    // feeds the df aggregate AND the semi join-back
    val grams = Caches.leaf(docs
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", s"posexplode(${wordGramExpr(5)}) AS (p, g)"))
    // "occurs in ≥ 2 distinct docs" ⟺ min(doc) ≠ max(doc): one-pass min/max
    // instead of a countDistinct (which expands to a two-phase distinct
    // aggregate over every corpus gram) — r6
    val dupG = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"))
      .filter(col("dmin") =!= col("dmax")).select(col("g"))
    val isl = grams.join(dupG, Seq("g"), "left_semi")
      .selectExpr("doc_id", "p",
        "p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl")
    val runs = isl.groupBy(col("doc_id"), col("isl"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy(col("doc_id"))
      .agg(sum(col("run_len")).as("n_dup_grams"),
        count(lit(1)).as("n_runs"),
        (max(col("run_len")) + lit(4L)).as("longest_span_tokens"))
      .orderBy(col("doc_id"))
  }

  val d10Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE length(string_split(text, ' ')) >= 5),
      |series AS (SELECT i FROM generate_series(1, 2048) t(i)),
      |grams AS (
      |  SELECT doc_id, i AS p,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |    toks[i+3] || ' ' || toks[i+4] AS g
      |  FROM docs JOIN series ON i <= length(toks) - 4),
      |dupg AS (
      |  SELECT g FROM (
      |    SELECT g, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY g) t
      |  WHERE df >= 2),
      |isl AS (
      |  SELECT doc_id, p,
      |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl
      |  FROM grams JOIN dupg USING (g)),
      |runs AS (
      |  SELECT doc_id, isl, COUNT(*) AS run_len FROM isl GROUP BY doc_id, isl)
      |SELECT doc_id,
      |  CAST(SUM(run_len) AS BIGINT) AS n_dup_grams,
      |  COUNT(*) AS n_runs,
      |  CAST(MAX(run_len) + 4 AS BIGINT) AS longest_span_tokens
      |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- d11: duplicate CLUSTERS from pair evidence --------------------------
  /** The dedup endgame: pairwise near-dup evidence (d02's verified LSH
    * pairs) resolved into connected duplicate CLUSTERS with a canonical
    * keeper per cluster — the table a corpus builder actually filters by
    * (transitivity matters: A~B and B~C must drop to ONE keeper even when
    * A~C was never emitted as a pair). Pointer-jumping connected components
    * (graft.canon, O(log diameter) rounds) over the pair set, then one size
    * aggregate; the DuckDB oracle re-derives the same clusters with a
    * recursive min-label CTE over the d02 oracle SQL recomputed verbatim —
    * two independent algorithms, one fixpoint.
    */
  def d11DupClusters(s: SparkSession, d: String): DataFrame = {
    // d02's materialized verified-pair leaf — the candidate generation and
    // shingle-verification joins run ONCE per (session, sf), not once per
    // consumer (r5 verdict item 1: the lap previously paid the whole d02
    // chain a second time inside this query)
    val pairs = verifiedPairs(s, d).select(col("a"), col("b"))
    val cc = graft.canon.ConnectedComponents.run(pairs)
    val sizes = cc.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("comp"))
      .selectExpr("node AS doc_id", "comp AS cluster_id", "cluster_size",
        "CASE WHEN node = comp THEN 1L ELSE 0L END AS is_keeper")
      .orderBy(col("doc_id"))
  }

  val d11Sql: String =
    s"""WITH RECURSIVE
       |dpairs AS (SELECT a AS u, b AS v FROM ($d02Sql) t),
       |sym AS (SELECT u, v FROM dpairs UNION SELECT v AS u, u AS v FROM dpairs),
       |reach AS (SELECT u AS node, u AS lab FROM sym
       |          UNION
       |          SELECT s.u AS node, r.lab FROM sym s JOIN reach r ON s.v = r.node),
       |cc AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node),
       |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id)
       |SELECT node AS doc_id, cluster_id, cluster_size,
       |  CAST(CASE WHEN node = cluster_id THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
       |FROM cc JOIN sizes USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d11_dup_clusters" -> (d11DupClusters _),
    "d10_duplicate_spans" -> (d10DuplicateSpans _),
    "d09_minhash_calibration" -> (d09MinhashCalibration _),
    "d01_minhash_signatures" -> (d01MinhashSignatures _),
    "d02_lsh_pairs" -> (d02LshPairs _),
    "d03_simhash" -> (d03Simhash _),
    "d04_exact_dup_groups" -> (d04ExactDupGroups _),
    "d05_lsh_bucket_stats" -> (d05LshBucketStats _),
    "d06_embedding_neardup" -> (d06EmbeddingNeardup _),
    "d08_ngram_jaccard" -> (d08NgramJaccard _))

  val oracleSql: Map[String, String] = Map(
    "d01_minhash_signatures" -> d01Sql,
    "d02_lsh_pairs" -> d02Sql,
    "d03_simhash" -> d03Sql,
    "d04_exact_dup_groups" -> d04Sql,
    "d05_lsh_bucket_stats" -> d05Sql,
    "d06_embedding_neardup" -> d06Sql,
    "d08_ngram_jaccard" -> d08Sql,
    "d09_minhash_calibration" -> d09Sql,
    "d10_duplicate_spans" -> d10Sql,
    "d11_dup_clusters" -> d11Sql)
}
