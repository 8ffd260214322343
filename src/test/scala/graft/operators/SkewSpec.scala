package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Salted aggregation on a fixture where one key holds 50 % of the rows.
  * A plain count/sum groupBy is already skew-proof (map-side partial
  * aggregation collapses the hot key to one row per map partition before
  * the shuffle), so the assertion is result equality, not bytes.
  */
class SkewSpec extends SparkTestBase {

  // 50% of rows on key 0, the rest uniform over 99 other keys; an
  // incompressible per-row payload (md5 hex)
  private lazy val skewedFact = spark.range(0, 100000)
    .select(
      when(col("id") % 2 === 0, 0L).otherwise(pmod(col("id"), lit(99)) + 1).as("k"),
      md5(col("id").cast("string")).as("v"))

  test("salted agg returns exactly the plain result") {
    val plainAgg = skewedFact.groupBy("k").agg(count(lit(1)).as("n"), sum(length(col("v"))).as("s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val saltedAgg = Skew.saltedCountSum(skewedFact, Seq("k"), length(col("v")), "s")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(saltedAgg === plainAgg)
  }
}
