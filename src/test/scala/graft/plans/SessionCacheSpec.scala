package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SessionCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("builder runs exactly once per key under concurrent first calls") {
    val c = new SessionCache[String]("spec", _ => ())
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            latch.await()
            c.get(spark, "dirA") { builds.incrementAndGet(); "vA" }
          }
        })
      }
      latch.countDown()
      assert(futures.map(_.get()).forall(_ == "vA"))
      assert(builds.get() == 1)
    } finally pool.shutdown()
  }

  test("keys are session REFERENCES: a different session object rebuilds") {
    val c = new SessionCache[String]("spec-ref", _ => ())
    var n = 0
    val s2 = spark.newSession() // same context, distinct session reference
    assert(c.get(spark, "d") { n += 1; s"v$n" } == "v1")
    assert(c.get(spark, "d") { n += 1; s"v$n" } == "v1") // cached
    assert(c.get(s2, "d") { n += 1; s"v$n" } == "v2")    // distinct reference
    assert(c.get(spark, "e") { n += 1; s"v$n" } == "v3") // distinct dir
    assert(n == 3)
  }

  test("releaseAll frees and empties a cache that no owner lists") {
    val freed = new java.util.concurrent.atomic.AtomicInteger(0)
    val c = new SessionCache[String]("spec-unlisted", _ => freed.incrementAndGet())
    assert(c.get(spark, "d")("v1") == "v1")
    assert(c.get(spark, "e")("v2") == "v2")
    SessionCache.releaseAll()
    assert(freed.get() == 2)
    assert(c.get(spark, "d")("rebuilt") == "rebuilt")
  }

  test("a builder may call get on ANOTHER cache (the edges->triples chain)") {
    // the regression class this guards: nested gets across caches must not
    // trip the same-map-modification hazard the purge used to create — the
    // nested get purges only ITS OWN map, never the one whose builder is
    // running on this thread
    val inner = new SessionCache[String]("spec-inner", _ => ())
    val outer = new SessionCache[String]("spec-outer", _ => ())
    val got = outer.get(spark, "d") {
      "outer(" + inner.get(spark, "d")("innerV") + ")"
    }
    assert(got == "outer(innerV)")
    // both entries landed and are served from cache afterwards
    assert(inner.get(spark, "d")(fail("inner rebuilt")) == "innerV")
    assert(outer.get(spark, "d")(fail("outer rebuilt")) == "outer(innerV)")
  }
}
