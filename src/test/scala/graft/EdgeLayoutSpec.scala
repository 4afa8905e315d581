package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The edge cache is a pred-partitioned parquet store. Its rows must be
  * exactly the distinct (subj, pred, obj) edge projection of the triples,
  * the store must actually PRUNE (a single-predicate filter's scan reads
  * only that predicate's partition), and release() must delete it.
  */
class EdgeLayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  // own SessionCache key → own edge build
  private def session(): SparkSession = spark.newSession()

  test("pred-partitioned layout returns the distinct edge projection of the triples") {
    import org.apache.spark.sql.functions.col
    val s = session()
    val edges = KgPipeline.edges(s, sfDir)
    val expected = KgPipeline.triples(s, sfDir)
      .filter(col("pred").isin(KgPipeline.EdgePreds: _*))
      .select(col("subj"), col("pred"), col("obj")).distinct()
    assert(edges.columns.toSeq == Seq("subj", "pred", "obj"))
    val e = edges.collect().map(_.toSeq).sortBy(_.mkString("\u0000"))
    val x = expected.collect().map(_.toSeq).sortBy(_.mkString("\u0000"))
    assert(e.length == x.length, s"row counts differ: ${e.length} vs ${x.length}")
    // URI predicates round-trip through URL-escaped partition directory
    // names — any escaping defect shows up here as a value diff
    assert(e.sameElements(x))
  }

  test("release() deletes the pred layout's session-private parquet dir") {
    val e = KgPipeline.edges(session(), sfDir)
    val dirs = e.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten.filter(_.contains("graft-edge-cache"))
    assert(dirs.nonEmpty, "the edge cache must read from its parquet dir")
    val local = new java.io.File(new java.net.URI(dirs.head).getPath)
    assert(local.exists())
    KgPipeline.release()
    assert(!local.exists(),
      s"release() must delete the edge cache dir $local — " +
        "repeated build cycles would otherwise grow the store")
  }

  test("single-predicate filter prunes partitions in the pred layout") {
    import org.apache.spark.sql.functions.col
    val e = KgPipeline.edges(session(), sfDir)
    val one = e.filter(col("pred") === graft.kg.Ns.owlSameAs)
    val scans = one.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "the edge cache must scan parquet files")
    val scan = scans.head
    // static partition pruning: exactly one of the ~16 pred partitions
    assert(scan.relation.partitionSchema.fieldNames.contains("pred"),
      "pred must be a partition column")
    assert(scan.metadata.get("PartitionFilters").exists(_.contains("pred")),
      s"partition filter on pred missing: ${scan.metadata}")
    val selected = scan.selectedPartitions.partitionCount
    assert(selected == 1,
      s"expected 1 selected pred partition, got $selected")
  }
}
