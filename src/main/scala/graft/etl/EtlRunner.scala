package graft.etl

import java.io.IOException
import java.nio.file.Paths
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

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

/** Partitioned parquet sink under base/<ENV> with the reference's
  * static-overwrite result (reference write_data, data_process.py:315-330).
  * A run writes a fresh staging directory beside base/<ENV>, and
  * [[publish]] then replaces base/<ENV> with it. The staging name starts
  * with `_`, so readers of the base directory skip it.
  */
object Writer {
  def outputPath(conf: OutputConf, environment: String): String =
    Paths.get(conf.basePath, environment).toString

  /** A directory beside `path` that no other run names. */
  def stagingPath(path: String): String = {
    val p = Paths.get(path)
    p.resolveSibling(s"_${p.getFileName}-${UUID.randomUUID()}").toString
  }

  def write(df: DataFrame, conf: OutputConf, path: String): Unit =
    df.write.partitionBy(conf.partitionBy: _*).parquet(path)

  /** Replaces `path` with `staging`: deletes `path`, then renames. */
  def publish(spark: SparkSession, staging: String, path: String): Unit = {
    val fs = fileSystem(spark, path)
    fs.delete(new Path(path), true)
    if (!fs.rename(new Path(staging), new Path(path)))
      throw new IOException(s"could not rename $staging to $path")
  }

  /** Deletes `staging`, if it is still there. */
  def discard(spark: SparkSession, staging: String): Unit =
    fileSystem(spark, staging).delete(new Path(staging), true)

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
}

/** Config-driven data-quality gates (reference :267-313). */
object DataQuality {
  final case class CheckResult(check: String, passed: Boolean, detail: String,
                               measured: Option[Long] = None)

  /** V1 — minimum row count. `detail` carries the reference's exact log
    * message (data_process.py:278-281) so the logging site stays dumb.
    */
  final case class MinRows(min: Long) {
    /** The check's result for the row count `n`. */
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
    * reference a dropped column) — see SURVEY.md §2.6. The gate inherits
    * that behavior; do not "fix" to output-schema validation.
    *
    * It reads the frame before the final rename-and-order projection,
    * where a pre-rename or dropped name is a plain column holding exactly
    * the values the quirk reads, and maps a post-rename name back through
    * the job's `renames`. Results and messages carry the configured name.
    */
  object NotNull {
    private def result(column: String, n: Long): CheckResult =
      if (n == 0) CheckResult(s"not_null($column)", true,
        s"La columna '$column' no contiene valores nulos.", Some(n))
      else CheckResult(s"not_null($column)", false,
        s"La columna '$column' contiene $n valores nulos.", Some(n))

    /** Every column's check, counted on whatever action runs the returned
      * frame: one observed `count_if(isnull)` per gated column that is
      * nullable in `df`, the frame before the rename-and-order projection.
      * A non-nullable column (one filled upstream) passes with no metric,
      * so when no column is nullable the frame is `df` itself. Ask for the
      * results once the action has completed; they come in `columns`'
      * order.
      */
    def observe(df: DataFrame, columns: Seq[String],
                renames: Map[String, String]): (DataFrame, () => Seq[CheckResult]) = {
      val source = renames.map(_.swap)
      val gated = columns.distinct.map(c => c -> col(source.getOrElse(c, c)))
      val nullable = df.select(gated.map(_._2): _*).schema.map(_.nullable)
      val metrics = gated.zip(nullable).collect { case ((c, v), true) => count_if(v.isNull).as(c) }
      val nulls = Observation()
      val observed = if (metrics.isEmpty) df else df.observe(nulls, metrics.head, metrics.tail: _*)
      (observed, () => {
        val counted = if (metrics.isEmpty) Map.empty[String, Any] else nulls.get
        columns.map(c => result(c, counted.getOrElse(c, 0L).asInstanceOf[Long]))
      })
    }
  }
}

/** End-to-end pipeline: read → input gate → transform → output gate →
  * write (reference main, /root/reference/data_process.py:332-366).
  *
  * One deliberate deviation from the reference, flagged per SURVEY §7.1:
  * the write is staged, and the gates publish it. The reference runs the
  * full upstream plan once for every gate and again for the write; here
  * one action, the partitioned parquet write into a staging directory
  * beside base/<ENV> ([[Writer.stagingPath]]), parses the input once and
  * carries every count the gates need as observed metrics: the raw rows
  * (the `MinRows` gate), the transformed rows (`rowsOut`) and each gated
  * column's nulls ([[DataQuality.NotNull.observe]]). Only when every gate
  * passes does [[Writer.publish]] replace base/<ENV> with the staging
  * directory; a failing gate or an error deletes it and leaves base/<ENV>
  * as it was.
  *
  * The gates therefore decide after that action, not before it. Nothing
  * visible changes: required columns are still checked first, from the
  * schema alone; the gates' lines are still logged in the reference's
  * order; a failing gate still writes nothing to base/<ENV>; and an error
  * in the transform surfaces only after the input gate, then evaluated by
  * its own count, has passed. An error of the write itself, being the
  * same action, surfaces the same way. Observing the raw frame keeps every
  * filter above the CSV scan, but the lineage column's nondeterministic
  * `input_file_name()` already did: no filter reaches the reader either
  * way.
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
    /** The outcome when building or writing the frame threw `e`: the
      * reference runs the gate before the transform, so the gate, by its
      * own count, decides first. If that count throws too, `e` carries it.
      */
    def gateBefore(e: Throwable): EtlReport = {
      val rows = try minRows.of(raw.count()) catch { case NonFatal(again) =>
        e.addSuppressed(again)
        throw e
      }
      val inResults = inputGate(rows)
      if (inResults.forall(_.passed)) throw e
      blocked(inResults)
    }
    if (!columns.passed) return blocked(inputGate(minRows.of(raw.count())))

    val rowsIn = Observation()
    val rowsOut = Observation()
    val rows = count(lit(1)).as("rows")
    val (transformed, outputGate) =
      try {
        val (chained, nulls) = NotNull.observe(Transforms.chain(raw.observe(rowsIn, rows), conf),
          conf.quality.notNullColumns, conf.renames)
        (Transforms.renameAndOrder(chained, conf.renames, conf.columnOrder).observe(rowsOut, rows),
          nulls)
      } catch { case NonFatal(e) => return gateBefore(e) }
    val path = Writer.outputPath(conf.output, conf.run.environment)
    val staging = Writer.stagingPath(path)
    try {
      try Writer.write(transformed, conf.output, staging)
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

      val outResults = outputGate()
      val outOk = outResults.forall(_.passed)
      outResults.foreach { r =>
        if (r.passed) PipeLog.info("data_quality_output", s"[DQ OUTPUT APROBADA]: ${r.detail}")
        else PipeLog.error("data_quality_output", s"[DQ OUTPUT FALLIDA]: ${r.detail}")
      }
      if (!outOk) EtlReport(inResults, outResults, None, rowsOutCount)
      else {
        PipeLog.info("write_data", s"Escribiendo datos en: $path")
        try {
          Writer.publish(spark, staging, path)
          PipeLog.info("write_data", "Escritura exitosa.")
        } catch { case e: Throwable =>
          PipeLog.error("write_data", s"ERROR: No se pudo escribir el resultado: $e")
          throw e
        }
        EtlReport(inResults, outResults, Some(path), rowsOutCount)
      }
    } finally Writer.discard(spark, staging)
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
