package graft

import org.apache.spark.sql.SparkSession

/** The one builder for a local engine session: `local[n]` with `n`
  * shuffle partitions, the session zone pinned to UTC, the UI off, WARN
  * logging and the graft plan extensions installed.
  *
  * `getOrCreate` semantics: a second call in the same JVM returns the
  * live session with the runtime confs re-applied, and the rule install
  * is idempotent, so a caller never stacks duplicate rules.
  *
  * `graft.etl.EtlMain` keeps its own builder: its master is a CLI
  * argument and the ETL job runs without the graft rules.
  */
object LocalSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[n]` session; `conf` adds (or overrides) Spark settings. */
  def apply(n: Int, conf: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    spark
  }
}
