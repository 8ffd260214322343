package graft.etl

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.GraftSqlTestShims
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

  test("a run scans its CSV input in one SQL execution and starts at most 2 jobs") {
    val conf = ReferenceJob.config(input().toString, freshOut())
    val ((report, scans), jobs) =
      EtlProbes.jobs(spark)(EtlProbes.csvScans(spark)(EtlRunner.run(spark, conf)))
    assert(report.written.nonEmpty && report.rowsOut === 6L)
    assert(scans === 1, "SQL executions that scan the CSV input")
    assert(jobs <= 2, "Spark jobs in one run")
  }

  test("a not-null gate on a renamed and a nullable column counts in the write's one scan " +
       "and reports under the configured names") {
    val base = ReferenceJob.config(input().toString, freshOut())
    // `precio` is renamed to `precio_origen`; `transporte` is nullable, so
    // the gate cannot be skipped and its count runs
    val conf = base.copy(quality = base.quality.copy(notNullColumns = Seq("precio", "transporte")))
    val (run, lines) = EtlProbes.logged(EtlProbes.csvScans(spark)(EtlRunner.run(spark, conf)))
    val (report, scans) = run.get
    assert(scans === 1, "SQL executions that scan the CSV input")
    assert(report.outputGate === Seq(
      DataQuality.CheckResult("not_null(precio)", true,
        "La columna 'precio' no contiene valores nulos.", Some(0L)),
      DataQuality.CheckResult("not_null(transporte)", true,
        "La columna 'transporte' no contiene valores nulos.", Some(0L))))
    assert(report.written.contains(s"${conf.output.basePath}/PROD") && report.rowsOut === 6L)
    assert(lines === Seq(
      s"INFO | read_data | Datos cargados exitosamente desde: ${conf.input.path}",
      "INFO | data_quality_input | Ejecutando Comprobación de Calidad de Datos...",
      "INFO | data_quality_input | [DQ INPUT APROBADA] Conteo de filas: 11",
      "INFO | data_quality_input | [DQ INPUT APROBADA] Todas las columnas requeridas están presentes",
      "INFO | transform_data | Eliminando registros duplicados...",
      "INFO | transform_data | Aplicando Filtros...",
      "INFO | date_filter | Filtro fecha >>> OK",
      "INFO | country_filter | Filtro pais >>> OK",
      "INFO | delivery_filter | Filtro tipo entrega >>> OK",
      "INFO | transform_data | Registros originales: 11 | Registros filtrados: 6",
      "INFO | derived_cols | Columnas derivadas de tipo entrega >>> OK",
      "INFO | fix_nulls | Rellenado valores nulos >>> OK",
      "INFO | treatment_units | Unidad, cantidad y precio ajustadas >>> OK",
      "INFO | rename_and_order_cols | Renombrado: 'precio' a 'precio_origen'",
      "INFO | rename_and_order_cols | Renombrado: 'cantidad' a 'cantidad_origen'",
      "INFO | rename_and_order_cols | Renombrado: 'unidad' a 'unidad_origen'",
      "INFO | rename_and_order_cols | Renombrado y ordenamiento de columnas >>> OK",
      "INFO | data_quality_output | [DQ OUTPUT APROBADA]: La columna 'precio' no contiene valores nulos.",
      "INFO | data_quality_output | [DQ OUTPUT APROBADA]: La columna 'transporte' no contiene valores nulos.",
      s"INFO | write_data | Escribiendo datos en: ${conf.output.basePath}/PROD",
      "INFO | write_data | Escritura exitosa."))
  }

  test("a failing not-null gate on a renamed column counts each column in the write's one scan") {
    val dir = input()
    // a kept row with a null `transporte`: the per-column counts run too
    Files.write(dir.resolve("c.csv"), Seq(header, "GT,20250513,,100,Z05,M9,1.0,1.0,ST").asJava)
    val base = ReferenceJob.config(dir.toString, freshOut())
    val conf = base.copy(quality = base.quality.copy(notNullColumns = Seq("precio", "transporte")))
    val (report, scans) = EtlProbes.csvScans(spark)(EtlRunner.run(spark, conf))
    assert(scans === 1, "SQL executions that scan the CSV input")
    assert(report.outputGate === Seq(
      DataQuality.CheckResult("not_null(precio)", true,
        "La columna 'precio' no contiene valores nulos.", Some(0L)),
      DataQuality.CheckResult("not_null(transporte)", false,
        "La columna 'transporte' contiene 1 valores nulos.", Some(1L))))
    assert(report.written.isEmpty && report.rowsOut === 7L)
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
    val perDir = filesPerDir(report.written.get)
    assert(perDir.keySet === Set("pais=GT", "pais=SV", "pais=HN"))
    assert(perDir.values.forall(_ == 1), perDir)
  }

  /** Parquet files per leaf directory under `path`, by directory name. */
  private def filesPerDir(path: String): Map[String, Int] =
    Files.walk(Path.of(path)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .groupBy(_.getParent.getFileName.toString).map { case (d, fs) => d -> fs.size }

  /** The number of tasks of each stage `f` ran that wrote output rows. */
  private def writeStageTasks(f: => Unit): Seq[Int] = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
    }
    GraftSqlTestShims.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      GraftSqlTestShims.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    stages.asScala.toSeq.filter(_.taskMetrics.outputMetrics.recordsWritten > 0).map(_.numTasks)
  }

  test("the write stage runs spark.sql.shuffle.partitions tasks under AQE") {
    // AQE would coalesce the small dedup shuffle to one task that writes
    // every file; the explicit partition count keeps one task per shuffle partition
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val prev = keys.map(spark.conf.get)
    try for (parts <- Seq(4, 7)) {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), parts.toString)
      val tasks = writeStageTasks {
        val report = EtlRunner.run(spark, ReferenceJob.config(wideInput().toString, freshOut()))
        assert(report.rowsOut === 180L)
        assert(filesPerDir(report.written.get) === Map("pais=GT" -> 1, "pais=SV" -> 1, "pais=HN" -> 1))
      }
      assert(tasks === Seq(parts), s"$parts shuffle partitions")
    } finally keys.zip(prev).foreach { case (k, v) => spark.conf.set(k, v) }
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
