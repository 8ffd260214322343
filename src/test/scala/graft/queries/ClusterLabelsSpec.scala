package graft.queries

import java.nio.file.Files

import graft.{Caches, SparkTestBase}
import graft.tables.Tables
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The session-memoized cluster-label table shared by x14/x44/x59.
  *
  * connectedComponentsKeepOne runs eager actions, so the sharing
  * contract is object identity: repeated calls must return the SAME
  * persisted frame, not a canonically-equal rebuild — otherwise each
  * consumer would re-run the banded-pairs + components chain.
  */
class ClusterLabelsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("clusterLabels memoizes per (session, dir) and persists") {
    Caches.clearAll(spark)
    val a = Extensions.clusterLabels(spark, sf)
    val b = Extensions.clusterLabels(spark, sf)
    assert(a eq b, "second call must return the memoized frame")
    assert(a.storageLevel != StorageLevel.NONE, "label table must be persisted")
    assert(a.columns.contains("doc_id") && a.columns.contains("canonical_id"))
    assert(a.count() > 0)
  }

  test("x14/x44/x59 consume one chain and stay mutually consistent") {
    val labels = Extensions.clusterLabels(spark, sf)
    val x14 = Extensions.queries("x14_dedup_keepone")(spark, sf).collect()
    val x44 = Extensions.queries("x44_cluster_sizes")(spark, sf).collect()
    val x59 = Extensions.queries("x59_cluster_split")(spark, sf).collect()
    // histogram mass equals the doc count; split covers every doc
    assert(x44.map(r => r.getLong(0) * r.getLong(1)).sum === x14.length)
    assert(x59.length === x14.length)
    assert(labels.count() === x14.length)
  }

  test("Caches.clearAll unpersists the label table and drops the memo") {
    val a = Extensions.clusterLabels(spark, sf)
    Caches.clearAll(spark)
    assert(a.storageLevel === StorageLevel.NONE, "release must unpersist")
    val c = Extensions.clusterLabels(spark, sf)
    assert(!(a eq c), "release must drop the memo so the next call rebuilds")
    Caches.clearAll(spark)
  }

  test("after Caches.clearAll the label table is persisted again") {
    Extensions.clusterLabels(spark, sf)
    Caches.clearAll(spark)
    val c = Extensions.clusterLabels(spark, sf)
    assert(c.storageLevel != StorageLevel.NONE,
      "clearAll must not leave the memo handing out an unpersisted frame")
  }

  test("Tables.invalidate drops the label table of a rewritten dir, not its sibling's") {
    val root = Files.createTempDirectory("graft_labels").toString
    val (dir, sibling) = (s"$root/sf0.1", s"$root/sf0.15")
    val src = spark.read.parquet(s"$sf/documents.parquet")
    Seq(dir, sibling).foreach(d => src.write.parquet(s"$d/documents.parquet"))
    val (a, s) = (Extensions.clusterLabels(spark, dir), Extensions.clusterLabels(spark, sibling))
    assert(a.count() === src.count())
    // keep the even ids: a stale pair frame would still link odd ones
    val subset = src.filter(col("doc_id") % 2 === 0)
    subset.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables.invalidate(spark, dir)
    val c = Extensions.clusterLabels(spark, dir)
    assert(!(c eq a), "invalidate must drop the memoized label table")
    assert(c.count() === subset.count())
    assert(c.filter(col("canonical_id") % 2 =!= 0).count() === 0,
      "labels must come from the rewritten rows only")
    assert(Extensions.clusterLabels(spark, sibling) eq s,
      "invalidate must keep the sibling dir's label table")
  }
}
