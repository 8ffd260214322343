package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.tables.{Tables => T}

/** x65 stratifiedTake: the deterministic per-stratum eval-subset
  * builder. Pins size bounds, determinism, rank-prefix stability, and
  * that the window form lowers to the custom bounded-heap exec.
  */
class StratifiedTakeSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("per-stratum sizes are min(n, |stratum|); ranks are 1..size") {
    val docs = T.documents(spark, sf)
    val out = Sampling.stratifiedTake(docs, col("doc_id"), "lang", 7)
    val sizes = out.groupBy("lang").agg(
        count(lit(1)).as("taken"), max(col("take_rank")).as("maxr"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    val full = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.keySet === full.keySet)
    sizes.foreach { case (lang, (taken, maxr)) =>
      assert(taken === math.min(7L, full(lang)), s"$lang size")
      assert(maxr.toLong === taken, s"$lang ranks must be dense 1..size")
    }
  }

  test("deterministic across runs, and rank ≤ m is a PREFIX of rank ≤ n") {
    val docs = T.documents(spark, sf)
    val a = Sampling.stratifiedTake(docs, col("doc_id"), "lang", 7)
      .select("lang", "take_rank", "doc_id").collect().toSet
    val b = Sampling.stratifiedTake(docs, col("doc_id"), "lang", 7)
      .select("lang", "take_rank", "doc_id").collect().toSet
    assert(a === b, "same input must reproduce the same subset")
    val small = Sampling.stratifiedTake(docs, col("doc_id"), "lang", 3)
      .select("lang", "take_rank", "doc_id").collect().toSet
    assert(small === a.filter(_.getInt(1) <= 3),
      "shrinking n must select a rank-prefix, not a resample")
  }

  test("the rank window lowers to the bounded-heap TopKPerKeyExec") {
    val plan = Sampling.stratifiedTake(
        T.documents(spark, sf), col("doc_id"), "lang", 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
  }
}
