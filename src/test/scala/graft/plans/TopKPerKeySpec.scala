package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.tables.{Tables => T}

class TopKPerKeySpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def rankQuery(k: Int) = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    T.orders(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rn")
  }

  test("window+filter top-k rewrites to TopKPerKeyExec and matches the window result") {
    val df = rankQuery(3)
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      df.queryExecution.executedPlan.toString)

    val rewritten = df.collect().toSeq
    val baseline = {
      spark.conf.set("spark.graft.topkRewrite", "false")
      try rankQuery(3).collect().toSeq
      finally spark.conf.set("spark.graft.topkRewrite", "true")
    }
    assert(rewritten === baseline)
    assert(rewritten.size === 15) // 5 priorities × 3
  }

  test("rewrite leaves non-top-k windows and non-literal bounds alone") {
    // rank() instead of row_number: not rewritten
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice").desc)
    val notRewritten = T.orders(spark, sf)
      .withColumn("r", rank().over(w)).filter(col("r") <= 3)
    assert(!notRewritten.queryExecution.executedPlan.toString.contains("TopKPerKey"))

    // row_number kept as a column without a filter: not rewritten
    val noFilter = T.orders(spark, sf)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
    assert(!noFilter.queryExecution.executedPlan.toString.contains("TopKPerKey"))
  }

  test("GLOBAL (unpartitioned) row_number top-k is NOT rewritten") {
    // no partitionBy: the exec would return per-partition ranks — must
    // stay on Spark's window plan.
    val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val df = T.orders(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("o_orderkey", "rn")
    assert(!df.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    assert(df.count() === 5) // exactly 5 rows globally, not 5 per partition
  }

  test("property: rewritten top-k equals the window plan on random data") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val gen = Gen.listOfN(300, for {
      key <- Gen.choose(0, 7); v <- Gen.choose(0, 40); id <- Gen.choose(0L, 100000L)
    } yield (key, v.toDouble, id))
    (1 to 5).foreach { i =>
      val rows = gen.pureApply(Gen.Parameters.default, Seed(99L + i))
        .zipWithIndex.map { case ((k, v, _), idx) => (k, v, idx.toLong) }
      val df = rows.toDF("k", "v", "row_id").repartition(5)
      val w = Window.partitionBy(col("k")).orderBy(col("v").desc, col("row_id"))
      def topk = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
        .select("k", "rn", "row_id")
      assert(topk.queryExecution.executedPlan.toString.contains("TopKPerKey"))
      val rewritten = topk.collect().toSet
      val baseline = {
        spark.conf.set("spark.graft.topkRewrite", "false")
        try topk.collect().toSet
        finally spark.conf.set("spark.graft.topkRewrite", "true")
      }
      assert(rewritten === baseline, s"sample $i diverged")
    }
  }

  test("rewritten a07 matches its recorded shape at larger k than group size") {
    // k larger than some groups: every row flows through with correct ranks
    val all = rankQuery(100000).collect()
    val expected = T.orders(spark, sf).count()
    assert(all.length === expected)
  }
}
