package graft.etl

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** CSV-directory reader with explicit schema + basename lineage column
  * (reference read_data, /root/reference/data_process.py:48-89).
  *
  * Lineage uses input_file_name(), which yields a URL-encoded URI — the
  * reference's committed output contains `%20` for spaces, so parity
  * requires exactly this function (not `_metadata.file_name`). The
  * basename is the text after the last `/`: `substring_index` finds it in
  * one scan, where the equivalent `[^/]+$` regex retries from every
  * position of the URI.
  */
object Reader {
  def read(spark: SparkSession, conf: InputConf): DataFrame =
    spark.read.format(conf.format)
      .options(conf.options)
      .schema(SchemaBuilder.build(conf.fields))
      .load(conf.path)
      .withColumn(conf.lineageColumn,
        basename(input_file_name()))

  /** The text after the last `/` of `uri`; all of it when there is none. */
  def basename(uri: Column): Column = substring_index(uri, "/", -1)
}

/** Static-overwrite partitioned parquet sink under base/<ENV>
  * (reference write_data, /root/reference/data_process.py:315-330).
  */
object Writer {
  def outputPath(conf: OutputConf, environment: String): String =
    Paths.get(conf.basePath, environment).toString

  def write(df: DataFrame, conf: OutputConf, environment: String): String = {
    val path = outputPath(conf, environment)
    df.write.mode("overwrite").partitionBy(conf.partitionBy: _*).parquet(path)
    path
  }
}

/** Config-driven data-quality gates (reference :267-313). */
object DataQuality {
  final case class CheckResult(check: String, passed: Boolean, detail: String,
                               measured: Option[Long] = None)

  sealed trait Check { def run(df: DataFrame): CheckResult }

  /** V1 — minimum row count. `detail` carries the reference's exact log
    * message (data_process.py:278-281) so the logging site stays dumb.
    */
  final case class MinRows(min: Long) extends Check {
    def run(df: DataFrame): CheckResult = {
      val n = df.count()
      if (n >= min) CheckResult(s"min_rows>=$min", true, s"Conteo de filas: $n", Some(n))
      else CheckResult(s"min_rows>=$min", false,
        s"Conteo bajo: $n filas. Se esperaban al menos $min", Some(n))
    }
  }

  /** V2 — required columns; metadata-only, no Spark job. The failure
    * detail mirrors the reference's python-set repr of the missing
    * names (data_process.py:288).
    */
  final case class RequiredColumns(required: Seq[String]) extends Check {
    def run(df: DataFrame): CheckResult = {
      val missing = required.filterNot(df.columns.contains)
      if (missing.isEmpty)
        CheckResult("required_columns", true,
          "Todas las columnas requeridas están presentes")
      else
        CheckResult("required_columns", false,
          s"Columnas faltantes: ${missing.map(c => s"'$c'").mkString("{", ", ", "}")}")
    }
  }

  /** V3 — per-column not-null. Load-bearing parity quirk: the reference
    * checks PRE-RENAME names against the POST-RENAME frame and succeeds
    * via Catalyst's ResolveMissingReferences (a Filter atop a Project may
    * reference a dropped column) — see SURVEY.md §2.6. The literal
    * translation inherits that behavior; do not "fix" to output-schema
    * validation.
    */
  final case class NotNull(column: String) extends Check {
    def run(df: DataFrame): CheckResult = NotNull.result(column,
      df.filter(col(column).isNull).count())
  }

  object NotNull {
    private def result(column: String, n: Long): CheckResult =
      if (n == 0) CheckResult(s"not_null($column)", true,
        s"La columna '$column' no contiene valores nulos.", Some(n))
      else CheckResult(s"not_null($column)", false,
        s"La columna '$column' contiene $n valores nulos.", Some(n))

    /** Every column's check, in one job when none has a null: the rows
      * with a null in any column are counted once, and only a non-zero
      * count runs the per-column counts that the failure messages need.
      * Resolves names like [[NotNull.run]], pre-rename quirk included.
      */
    def runAll(df: DataFrame, columns: Seq[String]): Seq[CheckResult] =
      if (columns.isEmpty) Nil
      else if (df.filter(columns.map(c => col(c).isNull).reduce(_ || _)).count() == 0)
        columns.map(result(_, 0L))
      else columns.map(NotNull(_).run(df))
  }

  /** Run all checks; the gate passes only if every check passes. */
  def gate(df: DataFrame, checks: Seq[Check]): (Boolean, Seq[CheckResult]) = {
    val results = checks.map(_.run(df))
    (results.forall(_.passed), results)
  }
}

/** End-to-end pipeline: read → input gate → transform → output gate →
  * write (reference main, /root/reference/data_process.py:332-366).
  *
  * One deliberate deviation from the reference, flagged per SURVEY §7.1:
  * the transformed frame is persisted before the DQ/write action fan-out.
  * The reference recomputes the full upstream plan for every action (5×);
  * a single persist changes nothing semantically and removes the
  * recompute amplification that dominates its runtime.
  */
object EtlRunner {
  final case class EtlReport(
      inputGate: Seq[DataQuality.CheckResult],
      outputGate: Seq[DataQuality.CheckResult],
      written: Option[String],
      rowsOut: Long)

  def run(spark: SparkSession, conf: EtlConfig): EtlReport = {
    import DataQuality._
    val raw =
      try {
        val r = Reader.read(spark, conf.input)
        PipeLog.info("read_data",
          s"Datos cargados exitosamente desde: ${conf.input.path}")
        r
      } catch { case e: Throwable =>
        PipeLog.error("read_data",
          s"ERROR: No se pudo cargar datos: ${conf.input.path}. Deteniendo Spark. $e")
        throw e
      }

    PipeLog.info("data_quality_input", "Ejecutando Comprobación de Calidad de Datos...")
    val (inOk, inResults) = gate(raw, Seq(
      MinRows(conf.quality.minRows),
      RequiredColumns(conf.quality.requiredColumns)))
    inResults.foreach { r =>
      if (r.passed) PipeLog.info("data_quality_input", s"[DQ INPUT APROBADA] ${r.detail}")
      else PipeLog.error("data_quality_input", s"[DQ INPUT FALLIDA] ${r.detail}")
    }
    if (!inOk) return EtlReport(inResults, Nil, None, 0L)

    val transformed = Transforms(raw, conf).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rowsOut = transformed.count()
      // Reference-parity transform stage lines (data_process.py:98-263).
      // The plan is built lazily in one shot, so the messages are emitted
      // together here, in the reference's order, using counts the gates
      // already paid for: `Registros originales` is MinRows' count and
      // every post-filter stage is row-preserving, so `filtrados` equals
      // rowsOut — no extra scan for log parity.
      val rawCount = inResults.collectFirst {
        case CheckResult(_, _, _, Some(n)) => n }.getOrElse(raw.count())
      PipeLog.info("transform_data", "Eliminando registros duplicados...")
      PipeLog.info("transform_data", "Aplicando Filtros...")
      PipeLog.info("date_filter", "Filtro fecha >>> OK")
      PipeLog.info("country_filter", "Filtro pais >>> OK")
      PipeLog.info("delivery_filter", "Filtro tipo entrega >>> OK")
      PipeLog.info("transform_data",
        s"Registros originales: $rawCount | Registros filtrados: $rowsOut")
      PipeLog.info("derived_cols", "Columnas derivadas de tipo entrega >>> OK")
      PipeLog.info("fix_nulls", "Rellenado valores nulos >>> OK")
      PipeLog.info("treatment_units", "Unidad, cantidad y precio ajustadas >>> OK")
      conf.renames.foreach { case (from, to) =>
        PipeLog.info("rename_and_order_cols", s"Renombrado: '$from' a '$to'")
      }
      PipeLog.info("rename_and_order_cols", "Renombrado y ordenamiento de columnas >>> OK")

      val outResults = NotNull.runAll(transformed, conf.quality.notNullColumns)
      val outOk = outResults.forall(_.passed)
      outResults.foreach { r =>
        if (r.passed) PipeLog.info("data_quality_output", s"[DQ OUTPUT APROBADA]: ${r.detail}")
        else PipeLog.error("data_quality_output", s"[DQ OUTPUT FALLIDA]: ${r.detail}")
      }
      if (!outOk) EtlReport(inResults, outResults, None, rowsOut)
      else {
        val path = Writer.outputPath(conf.output, conf.run.environment)
        PipeLog.info("write_data", s"Escribiendo datos en: $path")
        try {
          Writer.write(transformed, conf.output, conf.run.environment)
          PipeLog.info("write_data", "Escritura exitosa.")
        } catch { case e: Throwable =>
          PipeLog.error("write_data", s"ERROR: No se pudo escribir el resultado: $e")
          throw e
        }
        EtlReport(inResults, outResults, Some(path), rowsOut)
      }
    } finally {
      transformed.unpersist()
      ()
    }
  }
}

/** CLI: run the pipeline from a YAML config path. Logging follows the
  * reference's file+console shape (`asctime | LEVEL | funcName | msg`,
  * /root/reference/data_process.py:11-33, 332-366) via [[PipeLog]].
  */
object EtlMain {
  /** The reference main's logged flow between session create and stop
    * (data_process.py:332-362): start banner, environment line, the run
    * itself, and the DQ-failure error lines — every funcName and message
    * byte-identical to the reference's committed log
    * (logs/pipeline_execution.log; EtlLogParitySpec diffs the streams).
    * Factored from [[main]] so tests can replay the stream without
    * owning the session lifecycle.
    */
  def runLogged(spark: SparkSession, conf: EtlConfig): EtlRunner.EtlReport = {
    PipeLog.info("main", "Pipeline de procesamiento de datos iniciado")
    PipeLog.info("setup_environment",
      s"--- Sesion Spark iniciada en entorno: ${conf.run.environment} ---")
    try {
      val report = EtlRunner.run(spark, conf)
      if (report.written.isEmpty) {
        if (report.outputGate.exists(!_.passed))
          PipeLog.error("main",
            "ERROR: Se encontró una falla en la Calidad de Datos de salida")
        else
          PipeLog.error("main",
            "ERROR: Se encontró una falla en la Calidad de Datos de entrada")
      }
      report
    } catch { case e: Throwable =>
      PipeLog.critical("main", s"ERROR FATAL en el pipeline: ${e.getMessage}")
      throw e
    }
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val configPath = args.headOption.getOrElse(
      sys.error("usage: EtlMain <config.yaml> [master]"))
    val conf = EtlConfig.load(configPath)
    PipeLog.init(conf.logging)
    val spark = SparkSession.builder()
      .master(args.lift(1).getOrElse("local[*]"))
      .appName(s"graft_etl_${conf.run.environment}")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    // A failure propagates out of main so the JVM exit code carries it,
    // like the reference's sys.exit(1) (data_process.py:360-362).
    try runLogged(spark, conf) finally {
      spark.stop()
      PipeLog.info("main", "Sesion Spark detenida")
      PipeLog.info("main",
        f"pipeline wall clock incl. session start/stop: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      PipeLog.close()
    }
  }
}
