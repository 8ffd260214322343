package graft.queries

import graft.{Caches, SparkTestBase}
import org.apache.spark.storage.StorageLevel

/** The session-memoized banded-pair frame shared by x20, x84, and the
  * cluster-label chain (r8 verdict ask 5): the sharing used to be two
  * textually identical `bandedJaccardMinhash` call sites converging via
  * canonical-plan caching — load-bearing for the bench but silently
  * breakable by a parameter drift at either site. `Extensions.bandedPairs`
  * makes it an object identity; these pins keep it one.
  */
class SharedSubtreeSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("bandedPairs memoizes per (session, dir) and persists") {
    Caches.clearAll(spark)
    val a = Extensions.bandedPairs(spark, sf)
    val b = Extensions.bandedPairs(spark, sf)
    assert(a eq b, "second call must return the memoized frame")
    assert(a.storageLevel != StorageLevel.NONE, "pair frame must be persisted")
    assert(a.columns.contains("d1") && a.columns.contains("d2"))
  }

  test("x20 and x84 consume the one frame and stay mutually consistent") {
    val pairs = Extensions.bandedPairs(spark, sf)
    val x20 = Extensions.queries("x20_banded_jaccard")(spark, sf).collect()
    val x84 = Extensions.queries("x84_source_overlap")(spark, sf).collect()
    assert(x20.length === pairs.count())
    // every x20 pair lands in exactly one unordered source bucket
    assert(x84.map(_.getLong(2)).sum === x20.length.toLong)
  }

  test("Caches.clearAll unpersists the pair frame and drops the memo") {
    val a = Extensions.bandedPairs(spark, sf)
    Caches.clearAll(spark)
    assert(a.storageLevel === StorageLevel.NONE, "release must unpersist")
    val c = Extensions.bandedPairs(spark, sf)
    assert(!(a eq c), "release must drop the memo so the next call rebuilds")
    Caches.clearAll(spark)
  }

  test("a newSession() sibling gets its own pair frame; clearAll drops both") {
    val s2 = spark.newSession()
    val a = Extensions.bandedPairs(spark, sf)
    val b = Extensions.bandedPairs(s2, sf)
    assert(!(a eq b), "each session must build its own entry")
    assert(b.sparkSession eq s2)
    assert(Extensions.bandedPairs(s2, sf) eq b)
    // the sessions share one Spark cache, so releasing it releases both memos
    Caches.clearAll(spark)
    val b2 = Extensions.bandedPairs(s2, sf)
    assert(!(b2 eq b), "clearAll must drop the sibling's entry too")
    assert(b2.storageLevel != StorageLevel.NONE)
    Caches.clearAll(spark)
  }

  test("repeatEdges memoizes per (session, dir) and persists — a60/a61 " +
       "share one edge build (r9 verdict ask 3)") {
    Caches.clearAll(spark)
    val a = Analytics.repeatEdges(spark, sf)
    val b = Analytics.repeatEdges(spark, sf)
    assert(a eq b, "second call must return the memoized frame")
    assert(a.storageLevel != StorageLevel.NONE, "edge frame must be persisted")
    assert(a.columns.toSeq === Seq("p1", "p2", "n_ab"))
    // both consumers stay mutually consistent on the one frame: a61's
    // node universe is exactly the distinct endpoints of the edges a60
    // counts triangles over
    val nodes = a.select("p1").union(a.select("p2")).distinct().count()
    val a61 = Analytics.queries("a61_degree_profile")(spark, sf).collect()
    assert(a61.map(_.getLong(1)).sum === nodes)
    val a60 = Analytics.queries("a60_basket_triangles")(spark, sf)
    assert(a60.count() <= nodes)
  }

  test("Caches.clearAll unpersists the edge frame and drops the memo") {
    val a = Analytics.repeatEdges(spark, sf)
    Caches.clearAll(spark)
    assert(a.storageLevel === StorageLevel.NONE, "release must unpersist")
    val c = Analytics.repeatEdges(spark, sf)
    assert(!(a eq c), "release must drop the memo so the next call rebuilds")
    Caches.clearAll(spark)
  }
}
