package graft.plans

import org.apache.spark.sql.SparkSession

/** Installs the graft plan extensions on a live session: the
  * [[TopKViaWindowRewrite]] optimizer rule and the [[TopKPerKeyStrategy]]
  * planner strategy. Idempotent: a second call adds nothing.
  */
object GraftExtensions {
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(TopKViaWindowRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKViaWindowRewrite
    }
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    }
  }
}
