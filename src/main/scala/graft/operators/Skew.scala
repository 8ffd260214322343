package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation operators: salting splits a hot key across
  * `saltBuckets` shuffle partitions.
  *
  * At 100 TB a single hot key (empty doc, null-ish id, default value)
  * can pin one reducer for hours; salting bounds any key's partition to
  * 1/saltBuckets of its rows. AQE's skew-join handling covers sort-merge
  * joins at runtime; salting is the static tool for aggregations.
  */
object Skew {

  /** Two-phase salted aggregation: partial aggregate on (key, salt),
    * final aggregate on key. Provided partials must be decomposable
    * (sum/count/min/max-style). Result is identical to the direct
    * groupBy — only the shuffle skew profile changes.
    */
  def saltedCountSum(df: DataFrame, keyCols: Seq[String], sumCol: Column,
                     sumName: String, saltBuckets: Int = 16): DataFrame = {
    val keyRefs = keyCols.map(col)
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
      .groupBy((keyRefs :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__n"), sum(sumCol).as("__s"))
      .groupBy(keyRefs: _*)
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as(sumName))
  }
}
