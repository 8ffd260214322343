package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

/** Log-stream parity with the reference's committed run log
  * (/root/reference/logs/pipeline_execution.log, format
  * `%(asctime)s | %(levelname)s | %(funcName)s | %(message)s`,
  * data_process.py:23).
  *
  * Two gates: every committed line matches the 4-field shape our
  * [[PipeLog]] emits, and a replay of the PROD run over the reference's
  * own raw CSVs produces a (level, funcName, message) stream
  * byte-identical to the committed PROD block — python-runtime noise
  * (`_init_num_threads`, py4j `close`) excluded, filesystem paths
  * normalized since the test writes to a temp dir. Both read the
  * reference checkout; a third test pins the whole stream of a passing
  * run over inline CSVs, counts included, without it.
  */
class EtlLogParitySpec extends SparkTestBase {

  private val refLog = "/root/reference/logs/pipeline_execution.log"
  private val lineShape =
    """^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} \| (DEBUG|INFO|WARNING|ERROR|CRITICAL) \| \w+ \| .*$""".r

  private def refLines: Seq[String] =
    Files.readAllLines(Paths.get(refLog)).asScala.toSeq.filter(_.nonEmpty)

  /** timestamp-stripped `LEVEL | func | message`, paths normalized */
  private def canon(line: String): String = {
    val body = line.split(" \\| ", 2)(1) match {
      case b => b
    }
    body
      .replaceAll("(desde: ).*$", "$1<path>")
      .replaceAll("(Escribiendo datos en: ).*$", "$1<path>")
  }

  test("every committed reference log line matches the 4-field pipe shape") {
    val lines = refLines
    assert(lines.nonEmpty)
    val bad = lines.filterNot(l => lineShape.matches(l))
    assert(bad.isEmpty, s"shape mismatches:\n${bad.mkString("\n")}")
  }

  test("PROD replay emits the reference's exact log stream") {
    // The committed log holds one block per environment run; the PROD
    // block is everything before the second start banner.
    val banner = "Pipeline de procesamiento de datos iniciado"
    val all = refLines
    val second = all.indexWhere(_.contains(banner), all.indexWhere(_.contains(banner)) + 1)
    val pythonNoise = Set("_init_num_threads", "close")
    val expected = all.take(second)
      .filterNot(l => pythonNoise.contains(l.split(" \\| ")(2)))
      .dropRight(1) // "Sesion Spark detenida" is emitted by main() post-stop
      .map(canon)

    val out = Files.createTempDirectory("graft_logparity").toString
    val logFile = s"$out/pipeline.log"
    val conf = ReferenceJob.config("/root/reference/data/raw", s"$out/processed")
      .copy(logging = LoggingConf(Some(logFile), "INFO"))
    PipeLog.init(conf.logging)
    try EtlMain.runLogged(spark, conf)
    finally PipeLog.close()

    val ours = Files.readAllLines(Paths.get(logFile)).asScala.toSeq
      .filter(_.nonEmpty)
    ours.foreach(l => assert(lineShape.matches(l), s"our line off-shape: $l"))
    assert(ours.map(canon) === expected)
  }

  test("a passing run over inline CSVs logs the reference's whole stream, counts included") {
    // 11 rows; dropped: one exact duplicate, COBR, a date out of range and
    // a null tipo_entrega, so 7 rows come out
    val dir = EtlProbes.csvDir(
      "GT,20250513,1,100,ZPRE,M1,400.0,2.0,CS",
      "GT,20250513,1,100,ZPRE,M1,400.0,2.0,CS",
      "GT,20250513,2,100,Z04,M2,2.5,4.0,ST",
      "GT,20250513,3,100,COBR,M3,50.0,1.0,ST",
      "SV,20250325,4,200,zve1,M4,100.0,1.0,cs",
      "HN,20230101,5,300,ZPRE,M5,10.0,1.0,ST",
      "SV,20250325,6,200,Z05,,8.0,2.0,ST",
      "HN,20250314,7,300,ZVE1,M6,1.5,2.0,ST",
      "HN,20250314,8,300,,M7,1.0,1.0,ST",
      "GT,20250101,9,100,ZPRE,M8,5.0,1.0,ST",
      "SV,20250325,10,200,Z04,M9,3.0,1.0,ST")
    val out = Files.createTempDirectory("graft_logstream").toString + "/processed"
    val (report, lines) = EtlProbes.logged(
      EtlMain.runLogged(spark, ReferenceJob.config(dir.toString, out)))
    assert(report.get.written.contains(s"$out/PROD"))
    assert(lines === Seq(
      "INFO | main | Pipeline de procesamiento de datos iniciado",
      "INFO | setup_environment | --- Sesion Spark iniciada en entorno: PROD ---",
      s"INFO | read_data | Datos cargados exitosamente desde: $dir",
      "INFO | data_quality_input | Ejecutando Comprobación de Calidad de Datos...",
      "INFO | data_quality_input | [DQ INPUT APROBADA] Conteo de filas: 11",
      "INFO | data_quality_input | [DQ INPUT APROBADA] Todas las columnas requeridas están presentes",
      "INFO | transform_data | Eliminando registros duplicados...",
      "INFO | transform_data | Aplicando Filtros...",
      "INFO | date_filter | Filtro fecha >>> OK",
      "INFO | country_filter | Filtro pais >>> OK",
      "INFO | delivery_filter | Filtro tipo entrega >>> OK",
      "INFO | transform_data | Registros originales: 11 | Registros filtrados: 7",
      "INFO | derived_cols | Columnas derivadas de tipo entrega >>> OK",
      "INFO | fix_nulls | Rellenado valores nulos >>> OK",
      "INFO | treatment_units | Unidad, cantidad y precio ajustadas >>> OK",
      "INFO | rename_and_order_cols | Renombrado: 'precio' a 'precio_origen'",
      "INFO | rename_and_order_cols | Renombrado: 'cantidad' a 'cantidad_origen'",
      "INFO | rename_and_order_cols | Renombrado: 'unidad' a 'unidad_origen'",
      "INFO | rename_and_order_cols | Renombrado y ordenamiento de columnas >>> OK",
      "INFO | data_quality_output | [DQ OUTPUT APROBADA]: La columna 'precio' no contiene valores nulos.",
      "INFO | data_quality_output | [DQ OUTPUT APROBADA]: La columna 'material' no contiene valores nulos.",
      s"INFO | write_data | Escribiendo datos en: $out/PROD",
      "INFO | write_data | Escritura exitosa."))
  }
}
