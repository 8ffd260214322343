package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan pins for the round-10 final additions (a70, a71,
  * x106): the shuffle/broadcast structure each scaladoc claims,
  * asserted on the real sf fixture.
  */
class Round10cPlanSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("a70 rolling actives via KMV: no exchange carries user_id (users " +
       "hash scan-side into the sketch domain) and the plan has no " +
       "Expand — the whole point vs the exact countDistinct form") {
    val s = planString(
      graft.queries.Analytics.queries("a70_rolling_active_kmv")(spark, sf))
    val exLines = s.split('\n').filter(_.contains("Exchange"))
    assert(exLines.nonEmpty)
    assert(!exLines.exists(_.contains("user_id")),
      s"an exchange carries raw user ids:\n$s")
    assert(!s.contains("Expand"), s"countDistinct Expand leaked in:\n$s")
  }

  test("a71 ab test: the first-event window and the per-user rollup " +
       "share ONE user_id exchange") {
    val s = planString(
      graft.queries.Analytics.queries("a71_ab_test")(spark, sf))
    val userEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(s).size
    assert(userEx == 1, s"expected exactly 1 user_id exchange:\n$s")
    assert(s.contains("Window"), s)
  }

  test("x107 cell assignment is exchange-free (codebook broadcasts, " +
       "argmax is a narrow map over the vector scan) and the term-total " +
       "join stays shuffle_hash — a web-scale vocabulary must never " +
       "broadcast") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val asgPlan = planString(graft.operators.Similarity
      .sampledCellAssignments(emb, "embedding", "vec_id", 16))
    assert(!asgPlan.contains("Exchange hashpartitioning"),
      s"assignment must not shuffle:\n$asgPlan")
    val s = planString(
      graft.queries.Extensions.queries("x107_cluster_terms")(spark, sf))
    assert(s.contains("ShuffledHashJoin"),
      s"term-total join must be shuffle_hash:\n$s")
    assert(s.contains("InMemoryTableScan"),
      s"the (cell,term) count frame must persist — rollups may not " +
        s"re-scan the corpus:\n$s")
  }

  test("x106 mmr pool: the bounded pool broadcasts onto the vector scan " +
       "— the corpus-sized vector frame is never shuffled on cand_id") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val s = planString(graft.operators.Similarity.mmrPool(
      emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id", 20))
    assert(s.contains("BroadcastHashJoin"),
      s"pool must broadcast onto vecs:\n$s")
    assert(!s.contains("Exchange hashpartitioning(cand_id"),
      s"vecs re-shuffled on cand_id:\n$s")
  }
}
