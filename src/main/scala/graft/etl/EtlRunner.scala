package graft.etl

import java.nio.file.Paths

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Filter
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

  /** V1 — minimum row count. `detail` carries the reference's exact log
    * message (data_process.py:278-281) so the logging site stays dumb.
    */
  final case class MinRows(min: Long) {
    def run(df: DataFrame): CheckResult = of(df.count())

    /** The check's result for a row count taken elsewhere. */
    def of(n: Long): CheckResult =
      if (n >= min) CheckResult(s"min_rows>=$min", true, s"Conteo de filas: $n", Some(n))
      else CheckResult(s"min_rows>=$min", false,
        s"Conteo bajo: $n filas. Se esperaban al menos $min", Some(n))
  }

  /** V2 — required columns; metadata-only, no Spark job. The failure
    * detail mirrors the reference's python-set repr of the missing
    * names (data_process.py:288).
    */
  final case class RequiredColumns(required: Seq[String]) {
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
    *
    * Given the job's `renames`, a name `df` lacks is read as the renamed
    * column `df` carries: the same values the quirk reads, but resolved
    * on `df`'s own output, so a cached `df` answers the count from its
    * cache. Resolved below the rename projection, the filter's plan
    * would no longer match the cached one and the count would re-run
    * the whole transform. Names neither `df` nor `renames` resolve keep
    * the quirk. Results and messages carry the configured name.
    */
  final case class NotNull(column: String) {
    def run(df: DataFrame, renames: Map[String, String] = Map.empty): CheckResult =
      NotNull.result(column, df.filter(NotNull.read(df, column, renames).isNull).count())
  }

  object NotNull {
    private def result(column: String, n: Long): CheckResult =
      if (n == 0) CheckResult(s"not_null($column)", true,
        s"La columna '$column' no contiene valores nulos.", Some(n))
      else CheckResult(s"not_null($column)", false,
        s"La columna '$column' contiene $n valores nulos.", Some(n))

    /** The gated `column` as [[NotNull.run]] reads it from `df`. */
    private def read(df: DataFrame, column: String, renames: Map[String, String]): Column =
      col(renames.get(column)
        .filter(r => !df.columns.contains(column) && df.columns.contains(r))
        .getOrElse(column))

    /** Every column's check, in one job when none has a null: the rows
      * with a null in any column are counted once, and only a non-zero
      * count runs the per-column counts that the failure messages need.
      * No job at all when the analyzed filter reads only non-nullable
      * columns (a column filled upstream): the optimizer would fold it to
      * an empty relation. Resolves names like [[NotNull.run]].
      */
    def runAll(df: DataFrame, columns: Seq[String],
               renames: Map[String, String] = Map.empty): Seq[CheckResult] =
      if (columns.isEmpty) Nil
      else {
        val anyNull = df.filter(columns.map(read(df, _, renames).isNull).reduce(_ || _))
        val nullable = anyNull.queryExecution.analyzed
          .collectFirst { case f: Filter => f.condition.references.exists(_.nullable) }
          .getOrElse(true)
        if (!nullable || anyNull.count() == 0) columns.map(result(_, 0L))
        else columns.map(NotNull(_).run(df, renames))
      }
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
  *
  * The input is parsed once. One action (a `noop` write, which needs no
  * aggregation stage) fills the cache, and two observed metrics on it
  * count the raw rows (the `MinRows` gate) and the transformed rows
  * (`rowsOut`), so no other action re-reads the CSV or counts the cache.
  * The input gate therefore decides after that action, not before it.
  * Nothing visible changes: required columns are still checked first,
  * from the schema alone; the gate's lines are still logged before any
  * transform line; a failing gate still returns before anything is
  * written; and an error in the transform surfaces only after the gate,
  * then evaluated by its own count, has passed. Observing the raw frame
  * keeps every filter above the CSV scan, but the lineage column's
  * nondeterministic `input_file_name()` already did: no filter reaches
  * the reader either way.
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
    val minRows = MinRows(conf.quality.minRows)
    val columns = RequiredColumns(conf.quality.requiredColumns).run(raw)
    /** Logs and returns the input gate's results, the row count's first. */
    def inputGate(rows: CheckResult): Seq[CheckResult] = {
      val results = Seq(rows, columns)
      results.foreach { r =>
        if (r.passed) PipeLog.info("data_quality_input", s"[DQ INPUT APROBADA] ${r.detail}")
        else PipeLog.error("data_quality_input", s"[DQ INPUT FALLIDA] ${r.detail}")
      }
      results
    }
    def blocked(inResults: Seq[CheckResult]) = EtlReport(inResults, Nil, None, 0L)
    /** The outcome when building or filling the frame threw `e`: the
      * reference runs the gate before the transform, so the gate, by its
      * own count, decides first. If that count throws too, `e` carries it.
      */
    def gateBefore(e: Throwable): EtlReport = {
      val rows = try minRows.run(raw) catch { case NonFatal(again) =>
        e.addSuppressed(again)
        throw e
      }
      val inResults = inputGate(rows)
      if (inResults.forall(_.passed)) throw e
      blocked(inResults)
    }
    if (!columns.passed) return blocked(inputGate(minRows.run(raw)))

    val rowsIn = Observation()
    val rowsOut = Observation()
    val rows = count(lit(1)).as("rows")
    val transformed =
      try Transforms(raw.observe(rowsIn, rows), conf).observe(rowsOut, rows)
        .persist(StorageLevel.MEMORY_AND_DISK)
      catch { case NonFatal(e) => return gateBefore(e) }
    try {
      try transformed.write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => return gateBefore(e) }
      val rawCount = observed(rowsIn)
      val inResults = inputGate(minRows.of(rawCount))
      if (!inResults.forall(_.passed)) return blocked(inResults)

      val rowsOutCount = observed(rowsOut)
      // Reference-parity transform stage lines (data_process.py:98-263).
      // The plan is built lazily in one shot, so the messages are emitted
      // together here, in the reference's order, using the two observed
      // counts: every post-filter stage is row-preserving, so `filtrados`
      // equals rowsOut.
      PipeLog.info("transform_data", "Eliminando registros duplicados...")
      PipeLog.info("transform_data", "Aplicando Filtros...")
      PipeLog.info("date_filter", "Filtro fecha >>> OK")
      PipeLog.info("country_filter", "Filtro pais >>> OK")
      PipeLog.info("delivery_filter", "Filtro tipo entrega >>> OK")
      PipeLog.info("transform_data",
        s"Registros originales: $rawCount | Registros filtrados: $rowsOutCount")
      PipeLog.info("derived_cols", "Columnas derivadas de tipo entrega >>> OK")
      PipeLog.info("fix_nulls", "Rellenado valores nulos >>> OK")
      PipeLog.info("treatment_units", "Unidad, cantidad y precio ajustadas >>> OK")
      conf.renames.foreach { case (from, to) =>
        PipeLog.info("rename_and_order_cols", s"Renombrado: '$from' a '$to'")
      }
      PipeLog.info("rename_and_order_cols", "Renombrado y ordenamiento de columnas >>> OK")

      val outResults = NotNull.runAll(transformed, conf.quality.notNullColumns, conf.renames)
      val outOk = outResults.forall(_.passed)
      outResults.foreach { r =>
        if (r.passed) PipeLog.info("data_quality_output", s"[DQ OUTPUT APROBADA]: ${r.detail}")
        else PipeLog.error("data_quality_output", s"[DQ OUTPUT FALLIDA]: ${r.detail}")
      }
      if (!outOk) EtlReport(inResults, outResults, None, rowsOutCount)
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
        EtlReport(inResults, outResults, Some(path), rowsOutCount)
      }
    } finally {
      transformed.unpersist()
      ()
    }
  }

  /** The row count an observation took; its action has completed. */
  private def observed(o: Observation): Long = o.get("rows").asInstanceOf[Long]
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
