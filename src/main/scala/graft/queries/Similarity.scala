package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.plans.{Caches, SessionCache}

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float> dim=64, label).
  *
  * s01: brute-force cosine top-k — the correctness baseline. The query set is
  *      broadcast; the scan side streams once; per-row score is a codegen'd
  *      higher-order-function fold (no UDF).
  * s02: random-hyperplane LSH ANN — the scale path. Hyperplane signs are
  *      derived deterministically from md5 so the DuckDB oracle reproduces
  *      them; candidates are restricted to the query's bucket.
  * s03: IVF-style partitioned search using label as the coarse partition
  *      (nearest-centroid probe); ScalaTest-verified (float centroid math is
  *      not bit-portable to an external oracle).
  *
  * Scores are emitted as floor(sim*1e6) BIGINT; all arithmetic is elementwise
  * float→double (exact in both engines) so oracles match.
  */
object Similarity {

  private val Dim = 64
  private val NQueries = 5 // query set: vec_id < 5
  private val K = 10

  private val dotExpr =
    "aggregate(zip_with(qe, ce, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
  private val qnormExpr =
    "sqrt(aggregate(transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), " +
      "CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
  private val cnormExpr = qnormExpr.replace("qe", "ce")

  // s01/s02 top-k result tables, materialized once per (session, sf) — s05
  // (recall calibration over exactly these row sets) previously re-executed
  // both scans + top-k windows inside its own plan (the d11 lesson applied
  // to the similarity family, r6). Results are NQueries×K rows.
  private val s01Cache = new SessionCache[DataFrame]("sim-s01", Caches.free)
  private val s02Cache = new SessionCache[DataFrame]("sim-s02", Caches.free)

  private def s01Cached(s: SparkSession, d: String): DataFrame =
    s01Cache.get(s, d) {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val cands = emb.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      val scored = cands.join(broadcast(queries), col("cand_id") =!= col("query_id"))
        .selectExpr("query_id", "cand_id",
          s"CASE WHEN $qnormExpr * $cnormExpr = 0 THEN CAST(-2000000 AS BIGINT) " +
            s"ELSE CAST(floor(1e6 * $dotExpr / ($qnormExpr * $cnormExpr)) AS BIGINT) END AS sim_e6")
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim_e6").desc, col("cand_id"))
      Caches.leaf(scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("query_id"), col("rk"), col("cand_id"), col("sim_e6")))
    }

  def s01KnnBrute(s: SparkSession, d: String): DataFrame =
    s01Cached(s, d).orderBy(col("query_id"), col("rk"))

  val s01Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT query_id, c.vec_id AS cand_id,
       |    CASE WHEN
       |      (SELECT SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))
       |       FROM generate_series(1, $Dim) t(i)) *
       |      (SELECT SUM(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
       |       FROM generate_series(1, $Dim) t(i)) = 0 THEN CAST(-2000000 AS BIGINT)
       |    ELSE CAST(floor(1e6 *
       |      (SELECT SUM(CAST(qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
       |       FROM generate_series(1, $Dim) t(i)) /
       |      (sqrt((SELECT SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))
       |             FROM generate_series(1, $Dim) t(i))) *
       |       sqrt((SELECT SUM(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
       |             FROM generate_series(1, $Dim) t(i))))) AS BIGINT) END AS sim_e6
       |  FROM embeddings c, q WHERE c.vec_id <> query_id)
       |SELECT query_id, rk, cand_id, sim_e6 FROM (
       |  SELECT query_id, cand_id, sim_e6,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_e6 DESC, cand_id) AS INT) AS rk
       |  FROM scored) t
       |WHERE rk <= $K ORDER BY query_id, rk""".stripMargin

  // ---- s02: hyperplane-LSH bucketed ANN ------------------------------------
  private val NPlanes = 8

  /** Buckets for every vector: plane sign(p,i) = ±1 from md5 parity. */
  private def buckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planes = s.range(NPlanes).select(col("id").cast(IntegerType).as("p"))
      .selectExpr("p", s"explode(sequence(1, $Dim)) AS i")
      .selectExpr("p", "i",
        "CASE WHEN (instr('0123456789abcdef', substr(md5(concat('pl', p, '_', i)), 1, 1)) - 1) % 2 = 0 " +
          "THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS sgn")
    val comps = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .selectExpr("vec_id", "pos + 1 AS i", "CAST(x AS DOUBLE) AS x")
    comps.join(broadcast(planes), Seq("i"))
      .groupBy(col("vec_id"), col("p"))
      .agg(sum(col("sgn") * col("x")).as("proj"))
      .selectExpr("vec_id",
        "CASE WHEN proj > 0 THEN shiftleft(1, p) ELSE 0 END AS bit")
      .groupBy(col("vec_id"))
      .agg(sum(col("bit")).as("bucket"))
  }

  private def s02Cached(s: SparkSession, d: String): DataFrame =
    s02Cache.get(s, d) {
      val emb = Tables.embeddings(s, d)
      val bk = buckets(s, d)
      val vecs = emb.join(bk, Seq("vec_id"))
      val queries = vecs.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket"))
      val cands = vecs.select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("bucket"))
      val scored = cands.join(broadcast(queries), Seq("bucket"))
        .filter(col("cand_id") =!= col("query_id"))
        .selectExpr("query_id", "cand_id",
          s"CASE WHEN $qnormExpr * $cnormExpr = 0 THEN CAST(-2000000 AS BIGINT) " +
            s"ELSE CAST(floor(1e6 * $dotExpr / ($qnormExpr * $cnormExpr)) AS BIGINT) END AS sim_e6")
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim_e6").desc, col("cand_id"))
      Caches.leaf(scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("query_id"), col("rk"), col("cand_id"), col("sim_e6")))
    }

  def s02AnnLsh(s: SparkSession, d: String): DataFrame =
    s02Cached(s, d).orderBy(col("query_id"), col("rk"))

  val s02Sql: String = {
    // The float accumulation order for `proj` differs between engines only at
    // ~1ulp; the sign test is safe because projections are O(1)-magnitude.
    s"""WITH planes AS (
       |  SELECT p, i,
       |    CASE WHEN (instr('0123456789abcdef', substr(md5('pl' || p || '_' || i), 1, 1)) - 1) % 2 = 0
       |      THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS sgn
       |  FROM generate_series(0, ${NPlanes - 1}) tp(p), generate_series(1, $Dim) ti(i)),
       |projs AS (
       |  SELECT e.vec_id, pl.p, SUM(pl.sgn * CAST(e.embedding[pl.i] AS DOUBLE)) AS proj
       |  FROM embeddings e, planes pl GROUP BY e.vec_id, pl.p),
       |bk AS (
       |  SELECT vec_id, SUM(CASE WHEN proj > 0 THEN 1 << p ELSE 0 END) AS bucket
       |  FROM projs GROUP BY vec_id),
       |vecs AS (SELECT e.vec_id, e.embedding, bk.bucket FROM embeddings e JOIN bk USING (vec_id)),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM vecs WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT query_id, c.vec_id AS cand_id,
       |    CASE WHEN
       |      (SELECT SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))
       |       FROM generate_series(1, $Dim) t(i)) *
       |      (SELECT SUM(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
       |       FROM generate_series(1, $Dim) t(i)) = 0 THEN CAST(-2000000 AS BIGINT)
       |    ELSE CAST(floor(1e6 *
       |      (SELECT SUM(CAST(qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
       |       FROM generate_series(1, $Dim) t(i)) /
       |      (sqrt((SELECT SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))
       |             FROM generate_series(1, $Dim) t(i))) *
       |       sqrt((SELECT SUM(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
       |             FROM generate_series(1, $Dim) t(i))))) AS BIGINT) END AS sim_e6
       |  FROM vecs c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id)
       |SELECT query_id, rk, cand_id, sim_e6 FROM (
       |  SELECT query_id, cand_id, sim_e6,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_e6 DESC, cand_id) AS INT) AS rk
       |  FROM scored) t
       |WHERE rk <= $K ORDER BY query_id, rk""".stripMargin
  }

  // ---- s03: IVF-style probe via label partitions ---------------------------
  // Centroid arithmetic is integer-exact (components quantized to 2^20 grid,
  // summed as BIGINT — order-independent) so the probe ranking is
  // deterministic and the whole query has a DuckDB oracle. The only double op
  // is one final division of an exact integer (IEEE-identical cross-engine).
  def s03IvfTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val comps = emb
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .selectExpr("vec_id", "label", "pos",
        "CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT) AS xq")
    val centroids = comps.groupBy(col("label"), col("pos"))
      .agg(sum(col("xq")).as("cs"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("cs")))).as("arr"),
        max(col("n")).as("n"))
      .selectExpr("label", "transform(arr, s -> s.cs) AS centsum", "n")
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // probe: 2 nearest centroids per query (by mean dot product; the fold is
    // BIGINT-exact, the /n division is one deterministic double op)
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("cdot").desc, col("label"))
    val probes = queries.crossJoin(broadcast(centroids))
      .selectExpr("query_id", "qe", "label",
        "CAST(aggregate(zip_with(transform(qe, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)), " +
          "centsum, (x, y) -> x * y), CAST(0 AS BIGINT), (a, v) -> a + v) AS DOUBLE) / n AS cdot")
      .withColumn("prk", row_number().over(probeW))
      .filter(col("prk") <= 2)
      .select(col("query_id"), col("qe"), col("label"))
    val cands = emb.select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("label"))
    val scored = cands.join(broadcast(probes), Seq("label"))
      .filter(col("cand_id") =!= col("query_id"))
      .selectExpr("query_id", "cand_id",
        s"CASE WHEN $qnormExpr * $cnormExpr = 0 THEN CAST(-2000000 AS BIGINT) " +
          s"ELSE CAST(floor(1e6 * $dotExpr / ($qnormExpr * $cnormExpr)) AS BIGINT) END AS sim_e6")
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim_e6").desc, col("cand_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("query_id"), col("rk"), col("cand_id"), col("sim_e6"))
      .orderBy(col("query_id"), col("rk"))
  }

  val s03Sql: String =
    s"""WITH comps AS (
       |  SELECT vec_id, label, i AS pos,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT) AS xq
       |  FROM embeddings, generate_series(1, $Dim) t(i)),
       |cent AS (
       |  SELECT label, pos, CAST(SUM(xq) AS BIGINT) AS cs, COUNT(*) AS n
       |  FROM comps GROUP BY label, pos),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $NQueries),
       |probes0 AS (
       |  SELECT q.query_id, c.label,
       |    CAST(CAST(SUM(CAST(floor(CAST(q.qe[c.pos] AS DOUBLE) * 1048576) AS BIGINT) * c.cs) AS BIGINT) AS DOUBLE)
       |      / MAX(c.n) AS cdot
       |  FROM q, cent c GROUP BY q.query_id, c.label),
       |probes AS (
       |  SELECT query_id, label FROM (
       |    SELECT query_id, label,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cdot DESC, label) AS prk
       |    FROM probes0) t WHERE prk <= 2),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS cand_id,
       |    CASE WHEN
       |      sqrt((SELECT SUM(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
       |            FROM generate_series(1, $Dim) t(i))) *
       |      sqrt((SELECT SUM(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
       |            FROM generate_series(1, $Dim) t(i))) = 0 THEN CAST(-2000000 AS BIGINT)
       |    ELSE CAST(floor(1e6 *
       |      (SELECT SUM(CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
       |       FROM generate_series(1, $Dim) t(i)) /
       |      (sqrt((SELECT SUM(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
       |             FROM generate_series(1, $Dim) t(i))) *
       |       sqrt((SELECT SUM(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
       |             FROM generate_series(1, $Dim) t(i))))) AS BIGINT) END AS sim_e6
       |  FROM embeddings c
       |  JOIN probes p ON c.label = p.label
       |  JOIN q ON q.query_id = p.query_id AND c.vec_id <> q.query_id)
       |SELECT query_id, rk, cand_id, sim_e6 FROM (
       |  SELECT query_id, cand_id, sim_e6,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_e6 DESC, cand_id) AS INT) AS rk
       |  FROM scored) t
       |WHERE rk <= $K ORDER BY query_id, rk""".stripMargin

  // ---- s04: k-means assignment (the Lloyd half-step), integer-exact --------
  // The clustering pass a curation pipeline runs over embeddings (domain
  // balancing, semantic dedup cohorts). k = 8 seed centroids = the vectors
  // of vec_id 0..7; every vector is assigned to the nearest centroid by
  // squared L2 over MILLI-QUANTIZED components (floor(x·1000) as BIGINT —
  // float L2 can't be driver-hash-exact, but quantized distances are
  // integers with unique deterministic minima under the (dist, centroid_id)
  // tiebreak). Output per cluster: member count, exact SSE, and the
  // component-sum evidence of the centroid UPDATE step (sum_q0; a full
  // Lloyd iteration needs only these sums ÷ counts). Plan shape at 100 TB:
  // the k×dim centroid frame broadcasts onto a single embedding scan, the
  // per-pair fold is a codegen'd HOF (no UDF), and the argmin + the cluster
  // aggregate both fold map-side — one shuffle of k·|vecs| tiny rows, then
  // one of k rows.
  private val KClusters = 8
  private val quantExpr =
    "transform(%s, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  def s04KmeansAssign(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // quantize ONCE PER VECTOR, before the crossJoin: the centroid side is
    // materialized by the broadcast (8 quantizations total), and the scan
    // side's `vq` is referenced twice below (dist + q0) so CollapseProject
    // keeps the projection — inlining quantExpr into the pair row would
    // re-quantize both 64-element arrays per (vector, centroid) pair
    // (lambda-CSE lesson, see d02's toks comment)
    val cents = emb.filter(col("vec_id") < KClusters)
      .selectExpr("vec_id AS cid", s"${quantExpr.format("embedding")} AS kq")
    val pairs = emb
      .selectExpr("vec_id", s"${quantExpr.format("embedding")} AS vq")
      .crossJoin(broadcast(cents))
      .selectExpr("vec_id", "cid",
        "aggregate(zip_with(vq, kq, (x, y) -> (x - y) * (x - y)), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS dist",
        "element_at(vq, 1) AS q0")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("cid"))
    val assigned = pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
    val agg = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("dist")).cast("long").as("sse"),
        sum(col("q0")).cast("long").as("sum_q0"))
    s.range(KClusters).toDF("cid")
      .join(broadcast(agg), Seq("cid"), "left")
      .select(col("cid"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("sse"), lit(0L)).as("sse"),
        coalesce(col("sum_q0"), lit(0L)).as("sum_q0"))
      .orderBy(col("cid"))
  }

  val s04Sql: String = {
    def quant(e: String, i: String) =
      s"CAST(floor(CAST($e[$i] AS DOUBLE) * 1000) AS BIGINT)"
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS ke FROM embeddings
       |  WHERE vec_id < $KClusters),
       |pairs AS (
       |  SELECT v.vec_id, c.cid,
       |    (SELECT SUM((${quant("v.embedding", "i")} - ${quant("c.ke", "i")}) *
       |                (${quant("v.embedding", "i")} - ${quant("c.ke", "i")}))
       |     FROM generate_series(1, $Dim) t(i)) AS dist,
       |    ${quant("v.embedding", "1")} AS q0
       |  FROM embeddings v CROSS JOIN cents c),
       |assigned AS (
       |  SELECT * FROM (
       |    SELECT vec_id, cid, dist, q0,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
       |    FROM pairs) WHERE rk = 1),
       |agg AS (
       |  SELECT cid, COUNT(*) AS n_members, CAST(SUM(dist) AS BIGINT) AS sse,
       |         CAST(SUM(q0) AS BIGINT) AS sum_q0
       |  FROM assigned GROUP BY cid),
       |frame AS (SELECT CAST(generate_series AS BIGINT) AS cid
       |          FROM generate_series(0, ${KClusters - 1}))
       |SELECT f.cid, CAST(COALESCE(a.n_members, 0) AS BIGINT) AS n_members,
       |       CAST(COALESCE(a.sse, 0) AS BIGINT) AS sse,
       |       CAST(COALESCE(a.sum_q0, 0) AS BIGINT) AS sum_q0
       |FROM frame f LEFT JOIN agg a ON f.cid = a.cid
       |ORDER BY f.cid""".stripMargin
  }

  // ---- s05: ANN recall calibration -----------------------------------------
  /** Measured recall@K of the s02 hyperplane-LSH ANN against the s01
    * brute-force truth, per query point — the "measure, don't guess"
    * operator for the similarity family (d09 plays this role for MinHash,
    * sk04's DKW check for the quantile sketch). At 100 TB you tune NPlanes /
    * probe counts from exactly this table: recall is a property of the DATA
    * distribution, not of the formula. Join is on (query, candidate) ids, so
    * the calibration is insensitive to sub-ulp score jitter; n_approx < K
    * rows expose starved buckets (the failure mode more planes induces).
    */
  def s05AnnRecall(s: SparkSession, d: String): DataFrame = {
    // the cached s01/s02 result leaves — the scans + top-k windows run once
    // per (session, sf), not once per consumer (r6)
    val truth = s01Cached(s, d).select(col("query_id"), col("cand_id"))
    val approx = s02Cached(s, d).select(col("query_id"), col("cand_id"))
      .withColumn("hit", lit(1L))
    truth.join(approx, Seq("query_id", "cand_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .join(approx.groupBy(col("query_id")).agg(count(lit(1)).as("n_approx")),
        Seq("query_id"), "left")
      .selectExpr("query_id", "n_truth",
        "coalesce(n_approx, CAST(0 AS BIGINT)) AS n_approx", "n_hit",
        "(1000 * n_hit) DIV n_truth AS recall_e3")
      .orderBy(col("query_id"))
  }

  /** Oracle: both sides recomputed verbatim from the s01/s02 oracle SQL as
    * subqueries, diffed with the identical join+aggregate.
    */
  val s05Sql: String =
    s"""WITH truth AS (SELECT query_id, cand_id FROM ($s01Sql) t1),
       |approx AS (SELECT query_id, cand_id FROM ($s02Sql) t2),
       |hits AS (
       |  SELECT t.query_id, COUNT(*) AS n_truth,
       |    CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM truth t LEFT JOIN approx a
       |    ON t.query_id = a.query_id AND t.cand_id = a.cand_id
       |  GROUP BY t.query_id),
       |ac AS (SELECT query_id, COUNT(*) AS n_approx FROM approx GROUP BY query_id)
       |SELECT h.query_id, n_truth,
       |  CAST(COALESCE(n_approx, 0) AS BIGINT) AS n_approx, n_hit,
       |  (1000 * n_hit) // n_truth AS recall_e3
       |FROM hits h LEFT JOIN ac ON h.query_id = ac.query_id
       |ORDER BY h.query_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s05_ann_recall" -> (s05AnnRecall _),
    "s01_knn_brute" -> (s01KnnBrute _),
    "s02_ann_lsh" -> (s02AnnLsh _),
    "s03_ivf_topk" -> (s03IvfTopk _),
    "s04_kmeans_assign" -> (s04KmeansAssign _))

  val oracleSql: Map[String, String] = Map(
    "s01_knn_brute" -> s01Sql,
    "s02_ann_lsh" -> s02Sql,
    "s03_ivf_topk" -> s03Sql,
    "s04_kmeans_assign" -> s04Sql,
    "s05_ann_recall" -> s05Sql)
}
