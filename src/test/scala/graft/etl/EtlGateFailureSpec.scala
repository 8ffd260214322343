package graft.etl

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.SparkTestBase

/** End-to-end DQ-gate failure paths through [[EtlMain.runLogged]]: each
  * adversarial input must BLOCK the write and emit the reference's exact
  * error lines (data_process.py:278, 288, 307, 357-359). The gate logic
  * itself is unit-tested elsewhere; this exercises the full blocked-write
  * path — config → read → gates → (no) write → log stream. The `inline:`
  * cases repeat the input-gate paths over CSVs written by the test, with
  * the whole report and log stream asserted.
  */
class EtlGateFailureSpec extends SparkTestBase {

  private val rawDir = "/root/reference/data/raw"

  /** run and capture (report, log lines without timestamps) */
  private def run(conf: EtlConfig): (EtlRunner.EtlReport, Seq[String]) = {
    val (report, lines) = EtlProbes.logged(EtlMain.runLogged(spark, conf))
    (report.get, lines)
  }

  private def freshOut(): String =
    Files.createTempDirectory("graft_gate_out").toString + "/processed"

  test("low row-count blocks the write with the reference's error lines") {
    val out = freshOut()
    val conf = ReferenceJob.config(rawDir, out)
      .copy(quality = ReferenceJob.config(rawDir, out).quality.copy(minRows = 1000))
    val (report, lines) = run(conf)
    assert(report.written.isEmpty && report.outputGate.isEmpty)
    assert(lines.contains(
      "ERROR | data_quality_input | [DQ INPUT FALLIDA] Conteo bajo: 379 filas. Se esperaban al menos 1000"))
    assert(lines.contains(
      "ERROR | main | ERROR: Se encontró una falla en la Calidad de Datos de entrada"))
    assert(!lines.exists(_.contains("Escribiendo datos en")))
    assert(!Files.exists(Paths.get(out, "PROD")))
  }

  test("missing required column blocks the write with the reference's error lines") {
    val out = freshOut()
    val base = ReferenceJob.config(rawDir, out)
    val conf = base.copy(quality = base.quality.copy(
      requiredColumns = base.quality.requiredColumns :+ "no_existe"))
    val (report, lines) = run(conf)
    assert(report.written.isEmpty && report.outputGate.isEmpty)
    assert(lines.contains(
      "ERROR | data_quality_input | [DQ INPUT FALLIDA] Columnas faltantes: {'no_existe'}"))
    assert(lines.contains(
      "ERROR | main | ERROR: Se encontró una falla en la Calidad de Datos de entrada"))
    assert(!Files.exists(Paths.get(out, "PROD")))
  }

  // The same gate paths over inline CSVs, so they run without the
  // reference checkout. The input gate decides after the transform's scan
  // has run, so these also pin that a failing gate still wins over an
  // error in the transform, and that the run's log stream is unchanged.

  private def rows(n: Int): Seq[String] =
    (1 to n).map(i => s"GT,20250513,$i,100,ZPRE,M$i,10.0,1.0,ST")

  private def inline(dir: Path, out: String)(
      quality: QualityConf => QualityConf): EtlConfig = {
    val base = ReferenceJob.config(dir.toString, out)
    base.copy(quality = quality(base.quality))
  }

  private def gateLines(dir: Path, gate: String*): Seq[String] = Seq(
    "INFO | main | Pipeline de procesamiento de datos iniciado",
    "INFO | setup_environment | --- Sesion Spark iniciada en entorno: PROD ---",
    s"INFO | read_data | Datos cargados exitosamente desde: $dir",
    "INFO | data_quality_input | Ejecutando Comprobación de Calidad de Datos...") ++ gate

  private val inputFailure =
    "ERROR | main | ERROR: Se encontró una falla en la Calidad de Datos de entrada"

  private val columnsPresent = DataQuality.CheckResult("required_columns", true,
    "Todas las columnas requeridas están presentes")

  test("inline: low row-count blocks the write with the reference's error lines") {
    val dir = EtlProbes.csvDir(rows(3): _*)
    val out = freshOut()
    val (report, lines) = run(inline(dir, out)(identity))
    assert(report === EtlRunner.EtlReport(Seq(
      DataQuality.CheckResult("min_rows>=10", false,
        "Conteo bajo: 3 filas. Se esperaban al menos 10", Some(3L)),
      columnsPresent), Nil, None, 0L))
    assert(lines === gateLines(dir,
      "ERROR | data_quality_input | [DQ INPUT FALLIDA] Conteo bajo: 3 filas. Se esperaban al menos 10",
      "INFO | data_quality_input | [DQ INPUT APROBADA] Todas las columnas requeridas están presentes",
      inputFailure))
    assert(!Files.exists(Paths.get(out, "PROD")))
  }

  test("inline: missing required column blocks the write and still logs the exact row count") {
    val dir = EtlProbes.csvDir(rows(12): _*)
    val out = freshOut()
    val (report, lines) = run(inline(dir, out)(q =>
      q.copy(requiredColumns = q.requiredColumns :+ "no_existe")))
    assert(report === EtlRunner.EtlReport(Seq(
      DataQuality.CheckResult("min_rows>=10", true, "Conteo de filas: 12", Some(12L)),
      DataQuality.CheckResult("required_columns", false, "Columnas faltantes: {'no_existe'}")),
      Nil, None, 0L))
    assert(lines === gateLines(dir,
      "INFO | data_quality_input | [DQ INPUT APROBADA] Conteo de filas: 12",
      "ERROR | data_quality_input | [DQ INPUT FALLIDA] Columnas faltantes: {'no_existe'}",
      inputFailure))
    assert(!Files.exists(Paths.get(out, "PROD")))
  }

  test("inline: a failing row-count gate wins over an unparseable date") {
    val dir = EtlProbes.csvDir(rows(2) :+ "GT,garbage,9,100,ZPRE,M9,10.0,1.0,ST": _*)
    val out = freshOut()
    val (report, lines) = run(inline(dir, out)(identity))
    assert(report === EtlRunner.EtlReport(Seq(
      DataQuality.CheckResult("min_rows>=10", false,
        "Conteo bajo: 3 filas. Se esperaban al menos 10", Some(3L)),
      columnsPresent), Nil, None, 0L))
    assert(lines === gateLines(dir,
      "ERROR | data_quality_input | [DQ INPUT FALLIDA] Conteo bajo: 3 filas. Se esperaban al menos 10",
      "INFO | data_quality_input | [DQ INPUT APROBADA] Todas las columnas requeridas están presentes",
      inputFailure))
    assert(!Files.exists(Paths.get(out, "PROD")))
  }

  test("inline: a passing gate then an unparseable date logs both gate lines, then the fatal line") {
    val dir = EtlProbes.csvDir(rows(11) :+ "GT,garbage,99,100,ZPRE,M99,10.0,1.0,ST": _*)
    val out = freshOut()
    val (result, lines) = EtlProbes.logged(EtlMain.runLogged(spark, inline(dir, out)(identity)))
    assert(result.isFailure, result)
    assert(lines.init === gateLines(dir,
      "INFO | data_quality_input | [DQ INPUT APROBADA] Conteo de filas: 12",
      "INFO | data_quality_input | [DQ INPUT APROBADA] Todas las columnas requeridas están presentes"))
    assert(lines.last.startsWith("CRITICAL | main | ERROR FATAL en el pipeline: "), lines.last)
    assert(lines.last.contains("garbage"), lines.last)
    assert(!Files.exists(Paths.get(out, "PROD")))
  }

  /** The names in `dir`, sorted. */
  private def entries(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  /** Every file under `dir`, by relative path, with its bytes. */
  private def snapshot(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap

  test("inline: a failing input gate, a failing output gate and an unparseable date " +
       "leave an existing output byte-identical and no staging directory") {
    val out = Paths.get(freshOut())
    val (passed, _) = run(inline(EtlProbes.csvDir(rows(12): _*), out.toString)(identity))
    assert(passed.written.contains(s"$out/PROD"))
    assert(entries(out) === Seq("PROD"))
    val before = snapshot(out.resolve("PROD"))
    assert(before.keys.exists(_.endsWith(".parquet")))
    val failing: Seq[(String, EtlConfig, Try[EtlRunner.EtlReport] => Boolean)] = Seq(
      ("a failing input gate", inline(EtlProbes.csvDir(rows(3): _*), out.toString)(identity),
        r => r.get.inputGate.exists(!_.passed)),
      ("a failing output gate",
        inline(EtlProbes.csvDir(rows(11) :+ "GT,20250513,,100,Z05,M99,1.0,1.0,ST": _*),
          out.toString)(_.copy(notNullColumns = Seq("precio", "transporte"))),
        r => r.get.outputGate.exists(!_.passed)),
      ("an unparseable date",
        inline(EtlProbes.csvDir(rows(11) :+ "GT,garbage,99,100,ZPRE,M99,10.0,1.0,ST": _*),
          out.toString)(identity),
        _.isFailure))
    for ((cell, conf, outcome) <- failing) {
      val (result, _) = EtlProbes.logged(EtlMain.runLogged(spark, conf))
      assert(outcome(result), s"$cell: $result")
      assert(result.toOption.forall(_.written.isEmpty), cell)
      assert(entries(out) === Seq("PROD"), cell)
      assert(snapshot(out.resolve("PROD")) === before, cell)
    }
  }

  test("injected nulls in a gated column block the write post-transform") {
    // two surviving rows with a NULL transporte (integer, not covered by
    // the fill step), gated by notNull(transporte)
    val dir = Files.createTempDirectory("graft_gate_csv")
    Files.write(dir.resolve("nulls.csv"), Seq(
      "pais,fecha_proceso,transporte,ruta,tipo_entrega,material,precio,cantidad,unidad",
      "GT,20250513,,919885,ZPRE,AA004003,3195.54,100.0,CS",
      "GT,20250514,,919885,ZVE1,BA018426,529.99,20.0,CS",
      "GT,20250514,1,919885,ZVE1,BA018427,52.99,2.0,ST").asJava)
    val out = freshOut()
    val base = ReferenceJob.config(dir.toString, out)
    val conf = base.copy(quality = base.quality.copy(
      minRows = 1, notNullColumns = Seq("precio", "transporte")))
    val (report, lines) = run(conf)
    assert(report.written.isEmpty)
    assert(report.outputGate.exists(r => !r.passed && r.check == "not_null(transporte)"))
    assert(lines.contains(
      "ERROR | data_quality_output | [DQ OUTPUT FALLIDA]: La columna 'transporte' contiene 2 valores nulos."))
    assert(lines.contains(
      "ERROR | main | ERROR: Se encontró una falla en la Calidad de Datos de salida"))
    assert(!lines.exists(_.contains("Escritura exitosa.")))
    assert(!Files.exists(Paths.get(out, "PROD")))
  }
}
