package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary

/** One operation of a workload, run by a single closed-loop client.
  *
  * `run` does the timed work and reports its phase boundaries through
  * `phase` ("build" before the DataFrame is built, "exec" before it is
  * executed). It returns the analysis phase that building the DataFrame
  * ran eagerly, read from the DataFrame's own planning tracker before it
  * is executed. `check` validates the output outside the timed region and
  * returns the mismatch, if any. */
trait Op {
  def name: String
  def run(spark: SparkSession, phase: String => Unit): Option[PhaseSummary]
  def check(spark: SparkSession): Option[String] = None
}

/** A query from `graft.SparkEntry.queries`, timed to its full
  * result: the DataFrame is written to Spark's `noop` sink. `count()` is
  * never used: Catalyst prunes a count down to the columns the count
  * needs, so it skips most of the work of many queries. */
final class QueryOp(val name: String, dir: String) extends Op {
  private val fn = graft.SparkEntry.queries(name)

  def build(spark: SparkSession): DataFrame = fn(spark, dir)

  def run(spark: SparkSession, phase: String => Unit): Option[PhaseSummary] = {
    phase("build")
    val df = build(spark)
    phase("exec")
    // read before the write: executing the DataFrame may measure the
    // phase again on the same tracker, which widens its interval
    val analysis = df.queryExecution.tracker.phases.get("analysis")
    QueryOp.writeNoop(df)
    analysis
  }
}

object QueryOp {
  def writeNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The delivery ETL job, `graft.etl.EtlRunner.run`, over generated CSVs.
  * Its check reads back the partitioned parquet it wrote and compares it
  * with the plain-Scala recomputation. */
final class EtlOp(conf: graft.etl.EtlConfig, expected: EtlGen.Expected) extends Op {
  val name = "etl_deliveries"
  private var report: Option[graft.etl.EtlRunner.EtlReport] = None

  def run(spark: SparkSession, phase: String => Unit): Option[PhaseSummary] = {
    report = None
    phase("exec")
    report = Some(graft.etl.EtlRunner.run(spark, conf))
    None
  }

  override def check(spark: SparkSession): Option[String] = report match {
    case None => Some("no report")
    case Some(r) if r.written.isEmpty => Some("quality gate blocked the write")
    case Some(r) if r.rowsOut != expected.rowsOut =>
      Some(s"rowsOut ${r.rowsOut} != expected ${expected.rowsOut}")
    case Some(r) =>
      import org.apache.spark.sql.functions._
      val got = spark.read.parquet(r.written.get)
        .groupBy(col("fecha_proceso").cast("string"), col("pais"))
        .agg(count(lit(1)), sum(col("total_estandar").cast("decimal(38,10)")))
        .collect()
        .map(x => (x.getString(0), x.getString(1)) ->
          (x.getLong(2), BigDecimal(x.getDecimal(3))))
        .toMap
      val want = expected.partitions
      if (got.keySet != want.keySet) Some(s"partitions ${got.keySet} != ${want.keySet}")
      else want.collectFirst {
        case (k, (n, total)) if got(k)._1 != n || got(k)._2.compare(total) != 0 =>
          s"partition $k: ${got(k)} != ($n, $total)"
      }
  }
}

object Workloads {
  val Names: Seq[String] = Seq("etl_deliveries", "queries_light_sf01")

  /** Engine queries whose full result takes under half a second on the
    * benchmark tables at local[4], so per-query fixed cost (build, Catalyst,
    * job and stage scheduling) dominates. Drawn by `LightList`'s rule from
    * the committed survey of all 276 queries: one each from the p, a, st
    * and x families, plus x65 for its `TopKPerKeyExec` and a51 for its
    * interpreted (`CodegenFallback`) expressions. */
  val Light: Seq[String] = Seq(
    "p02_filter_dates", "a45_unpivot", "st24_stream_quantile", "x132_dedup_quality_bias",
    "x65_stratified_take", "a51_explode_outer")

  def queries(workload: String): Seq[String] = workload match {
    case "queries_light_sf01" => Light
    case _ => Nil
  }

  /** ETL input size: files of rows. At least as many files as cores. */
  def etlShape(nproc: Int): (Int, Int) = (math.max(8, nproc), 8000)

  /** Generate the ETL input for `seed` under `dir`, and the job config. */
  def etlInput(dir: Path, seed: Long, configTemplate: Path, files: Int, rowsPerFile: Int)
      : (graft.etl.EtlConfig, EtlGen.Expected, Long) = {
    val gen = EtlGen.generate(seed, files, rowsPerFile)
    val in = dir.resolve("in")
    val out = dir.resolve("out")
    Files.createDirectories(out)
    val paths = EtlGen.write(in, gen)
    val yaml = new String(Files.readAllBytes(configTemplate), "UTF-8")
      .replace("${INPUT}", in.toString).replace("${OUTPUT}", out.toString)
    val confPath = dir.resolve("deliveries.yaml")
    Files.write(confPath, yaml.getBytes("UTF-8"))
    (graft.etl.EtlConfig.load(confPath.toString), EtlGen.expected(gen),
      paths.map(Files.size).sum)
  }
}
