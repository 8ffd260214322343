package graft.etl

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The whole job, [[EtlRunner.run]], over small inline CSVs whose output
  * is computed by hand, plus a guard on the transformed frame's plan.
  */
class EtlRunnerSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import EtlProbes.header

  /** Two files, 11 rows. Kept (reference config): GT 2025-05-13 a1, a3 and
    * b1 (b1 duplicates a1 across files, so only `filename` differs); SV
    * 2025-03-25 a5 and a8; HN 2025-03-14 b2. Dropped: a2 and a6 (exact
    * duplicates within the file), a4 (COBR), a7 (date out of range), b3
    * (null tipo_entrega).
    */
  private def input(): Path = {
    val dir = Files.createTempDirectory("graft_etl_in")
    Files.write(dir.resolve("a.csv"), Seq(header,
      "GT,20250513,1,100,ZPRE,M1,400.0,2.0,CS",   // a1: 40 ST at 10.0 → 400
      "GT,20250513,1,100,ZPRE,M1,400.0,2.0,CS",   // a2
      "GT,20250513,2,100,Z04,M2,2.5,4.0,ST",      // a3: 4 × 2.5 → 10
      "GT,20250513,3,100,COBR,M3,50.0,1.0,ST",    // a4
      "SV,20250325,4,200,zve1,M4,100.0,1.0,cs",   // a5: 20 ST at 5.0 → 100
      "SV,20250325,4,200,zve1,M4,100.0,1.0,cs",   // a6
      "HN,20230101,5,300,ZPRE,M5,10.0,1.0,ST",    // a7
      "SV,20250325,6,200,Z05,,8.0,2.0,ST").asJava) // a8: 2 × 8.0 → 16
    Files.write(dir.resolve("b.csv"), Seq(header,
      "GT,20250513,1,100,ZPRE,M1,400.0,2.0,CS",   // b1: as a1 → 400
      "HN,20250314,7,300,ZVE1,M6,1.5,2.0,ST",     // b2: 2 × 1.5 → 3
      "HN,20250314,8,300,,M7,1.0,1.0,ST").asJava) // b3
    dir
  }

  private def freshOut(): String =
    Files.createTempDirectory("graft_etl_out").toString + "/processed"

  /** (fecha_proceso, pais) → (rows, sum of total_estandar) of the output. */
  private def perPartition(path: String): Map[(String, String), (Long, Double)] =
    spark.read.parquet(path).groupBy("fecha_proceso", "pais")
      .agg(count(lit(1)), sum("total_estandar")).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap

  test("run writes the hand-computed rows and totals per partition") {
    val conf = ReferenceJob.config(input().toString, freshOut())
    val report = EtlRunner.run(spark, conf)
    assert(report.inputGate.forall(_.passed) && report.outputGate.forall(_.passed))
    assert(report.written.nonEmpty, "write was gated off")
    assert(report.rowsOut === 6L)
    assert(perPartition(report.written.get) === Map(
      ("2025-05-13", "GT") -> (3L, 810.0),
      ("2025-03-25", "SV") -> (2L, 116.0),
      ("2025-03-14", "HN") -> (1L, 3.0)))
    val out = spark.read.parquet(report.written.get)
    assert(out.filter(col("material") === "M1").select("filename").as[String]
      .collect().sorted.toSeq === Seq("a.csv", "b.csv"))
    assert(out.filter(col("material") === "NOT INFO").count() === 1L)
  }

  test("run with overlapping indicator families doubles the rows both match") {
    val base = ReferenceJob.config(input().toString, freshOut())
    // ZPRE now matches both families: a1 and b1 come out twice each
    val conf = base.copy(indicators = base.indicators.map(i =>
      if (i.name == "entrega_bonificada") i.copy(values = i.values :+ "ZPRE") else i))
    val report = EtlRunner.run(spark, conf)
    assert(report.rowsOut === 8L)
    val parts = perPartition(report.written.get)
    assert(parts === Map(
      ("2025-05-13", "GT") -> (5L, 1610.0),
      ("2025-03-25", "SV") -> (2L, 116.0),
      ("2025-03-14", "HN") -> (1L, 3.0)))
    assert(parts.values.map(_._1).sum === report.rowsOut)
  }

  test("the transformed frame plans one CSV scan and one shuffle exchange") {
    val conf = ReferenceJob.config(input().toString, freshOut())
    val transformed = Transforms(Reader.read(spark, conf.input), conf)
    assert(transformed.collect().length === 6)
    val plan = transformed.queryExecution.executedPlan
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan)
    val csvScans = collect(plan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] => s
    }
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(csvScans.size === 1, plan.toString)
    assert(shuffles.size === 1, plan.toString)
    assert(hashKeys(shuffles.head) === Seq("fecha_proceso", "pais"), plan.toString)
  }

  test("a run scans its CSV input in one SQL execution and starts at most 4 jobs") {
    val conf = ReferenceJob.config(input().toString, freshOut())
    val ((report, scans), jobs) =
      EtlProbes.jobs(spark)(EtlProbes.csvScans(spark)(EtlRunner.run(spark, conf)))
    assert(report.written.nonEmpty && report.rowsOut === 6L)
    assert(scans === 1, "SQL executions that scan the CSV input")
    assert(jobs <= 4, "Spark jobs in one run")
  }

  test("the observed counts equal plain counts under AQE on/off and 1 or 7 shuffle partitions") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val prev = keys.map(spark.conf.get)
    try for (aqe <- Seq("true", "false"); parts <- Seq("1", "7")) {
      spark.conf.set(keys(0), aqe)
      spark.conf.set(keys(1), parts)
      val conf = ReferenceJob.config(input().toString, freshOut())
      val report = EtlRunner.run(spark, conf)
      val raw = Reader.read(spark, conf.input)
      val cell = s"AQE $aqe, $parts partitions"
      assert(report.inputGate.head.measured === Some(raw.count()), cell)
      assert(report.rowsOut === Transforms(raw, conf).count(), cell)
      assert(report.rowsOut === 6L, cell)
      assert(perPartition(report.written.get).values.map(_._1).sum === 6L, cell)
    } finally keys.zip(prev).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** The column names a shuffle hashes on; empty if it does not hash. */
  private def hashKeys(e: ShuffleExchangeExec): Seq[String] = e.outputPartitioning match {
    case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
    case _ => Nil
  }

  /** Three output partitions of 60 distinct rows each, in three files. */
  private def wideInput(): Path = {
    val dir = Files.createTempDirectory("graft_etl_wide")
    val parts = Seq(("GT", "20250513"), ("SV", "20250325"), ("HN", "20250314"))
    for (f <- 0 until 3)
      Files.write(dir.resolve(s"f$f.csv"), (header +: (for {
        (pais, fecha) <- parts; i <- 0 until 20
      } yield s"$pais,$fecha,${f * 20 + i},100,ZPRE,M$i,10.0,1.0,ST")).asJava)
    dir
  }

  test("run writes one parquet file per output partition") {
    val report = EtlRunner.run(spark, ReferenceJob.config(wideInput().toString, freshOut()))
    assert(report.rowsOut === 180L)
    val files = Files.walk(Path.of(report.written.get)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val perDir = files.groupBy(_.getParent.getFileName.toString).map { case (d, fs) => d -> fs.size }
    assert(perDir.keySet === Set("pais=GT", "pais=SV", "pais=HN"))
    assert(perDir.values.forall(_ == 1), perDir)
  }

  test("partition columns map back through renames; derived ones fall back to the plain dedup") {
    val base = ReferenceJob.config(input().toString, freshOut())
    val raw = Reader.read(spark, base.input)
    def rows(conf: EtlConfig) = Transforms(raw, conf).collect().map(_.toString).sorted.toSeq
    val plain = rows(base.copy(output = base.output.copy(partitionBy = Nil)))
    assert(plain.length === 6)
    val renamed = base.copy(output = base.output.copy(partitionBy = Seq("unidad_origen")))
    assert(Transforms.writeKeys(raw, renamed) === Seq("unidad"))
    assert(rows(renamed) === plain)
    val renamedPlan = Transforms(raw, renamed).queryExecution.executedPlan
    assert(collect(renamedPlan) { case e: ShuffleExchangeExec => hashKeys(e) } === Seq(Seq("unidad")))
    val derived = base.copy(output = base.output.copy(
      partitionBy = Seq("unidad_estandar", "entrega_rutina")))
    assert(Transforms.writeKeys(raw, derived).isEmpty)
    assert(rows(derived) === plain)
  }
}
