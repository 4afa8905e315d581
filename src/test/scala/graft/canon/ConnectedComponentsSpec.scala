package graft.canon

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def edges(pairs: (String, String)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  // the session is shared with the other suites of the run, so each test
  // compares the entries cached after the run with those before it, not
  // with an empty cache. CacheManager keeps its entry list private to
  // Spark's sql package, hence the reflective read.
  private def cachedEntries: Seq[AnyRef] = {
    val cm = spark.sharedState.cacheManager
    val entries = cm.getClass.getDeclaredMethod("cachedData")
    entries.setAccessible(true)
    entries.invoke(cm).asInstanceOf[Seq[AnyRef]]
  }

  private def addedSince(before: Seq[AnyRef]): Seq[AnyRef] =
    cachedEntries.filterNot(e => before.exists(_ eq e))

  test("components are labeled by their minimum node and the edge cache is released") {
    val before = cachedEntries
    val got = ConnectedComponents.run(edges("b" -> "a", "c" -> "b", "e" -> "d"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d"))
    assert(addedSince(before).isEmpty)
  }

  test("a failed round job leaves no new cache entry in the session") {
    val poisoned = udf((s: String) =>
      if (s == "n2") throw new IllegalStateException("poisoned edge") else s)
    // a range source, so the edges are evaluated by a job, not folded on the
    // driver while the edge list is persisted
    val bad = spark.range(4).select(
      poisoned(concat(lit("n"), col("id"))).as("src"), concat(lit("n"), col("id") + 1).as("dst"))
    val before = cachedEntries
    val e = intercept[Exception](ConnectedComponents.run(bad))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("poisoned edge"))), e)
    assert(addedSince(before).isEmpty, "the symmetrized edge list is still cached")
  }
}
