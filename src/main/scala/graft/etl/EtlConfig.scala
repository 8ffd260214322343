package graft.etl

import java.io.FileInputStream
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Config model for the delivery-ETL pipeline — the Scala analog of the
  * reference's YAML-driven job (semantics per /root/reference/config.yaml,
  * structure our own). Loading fails fast on missing keys, mirroring
  * OmegaConf's strictness (/root/reference/data_process.py:340).
  */
final case class FieldSpec(name: String, dtype: String, nullable: Boolean)

final case class InputConf(
    path: String,
    format: String,
    options: Map[String, String],
    fields: Seq[FieldSpec],
    lineageColumn: String)

final case class RunConf(
    environment: String,
    startDate: String,
    endDate: String,
    dateColumn: String,
    dateFormat: String,
    countryColumn: String,
    countryValue: String)

/** One derived 0/1 indicator: rows where upper(source) ∈ values.
  * Values are deduplicated at load (reference keeps `list(set(...))`,
  * /root/reference/data_process.py:124-126).
  */
final case class IndicatorConf(name: String, source: String, values: Seq[String])

final case class FillConf(
    textValue: String, textColumns: Seq[String],
    numericValue: Double, numericColumns: Seq[String])

final case class UnitConf(
    unitColumn: String, quantityColumn: String, priceColumn: String,
    fromUnit: String, factor: Double, standardUnit: String,
    outQuantity: String, outPrice: String, outUnit: String)

final case class QualityConf(
    minRows: Long, requiredColumns: Seq[String], notNullColumns: Seq[String])

/** Reference-shaped logging destination (config.yaml `logging:` section);
  * optional — absent section means console-only.
  */
final case class LoggingConf(logFile: Option[String], logLevel: String)

final case class OutputConf(
    basePath: String, partitionBy: Seq[String], totalColumn: String)

final case class EtlConfig(
    run: RunConf,
    input: InputConf,
    quality: QualityConf,
    indicators: Seq[IndicatorConf],
    fill: FillConf,
    units: UnitConf,
    renames: Map[String, String],
    columnOrder: Seq[String],
    output: OutputConf,
    logging: LoggingConf = LoggingConf(None, "INFO"))

object EtlConfig {

  /** Load from our YAML layout (see src/test/resources for an example). */
  def load(path: String): EtlConfig = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val root = Using.resource(new FileInputStream(path)) { in =>
      yaml.load[java.util.Map[String, Object]](in)
    }
    fromMap(root.asScala.toMap)
  }

  // a present-but-empty YAML key loads as null — treat it as missing so
  // the error names the key instead of NPE-ing downstream
  private def get(m: Map[String, Object], key: String): Object =
    m.get(key).filter(_ != null).getOrElse(fail(key))

  private def sec(m: Map[String, Object], key: String): Map[String, Object] =
    get(m, key).asInstanceOf[java.util.Map[String, Object]].asScala.toMap

  private def str(m: Map[String, Object], key: String): String =
    get(m, key).toString

  private def strs(m: Map[String, Object], key: String): Seq[String] =
    get(m, key).asInstanceOf[java.util.List[Object]].asScala.toSeq.map(_.toString)

  private def fail(key: String): Nothing =
    throw new IllegalArgumentException(s"missing config key: $key")

  def fromMap(m: Map[String, Object]): EtlConfig = {
    val run = sec(m, "run")
    val in = sec(m, "input")
    val q = sec(m, "quality")
    val fill = sec(m, "fill")
    val units = sec(m, "units")
    val out = sec(m, "output")
    val fields = get(in, "schema")
      .asInstanceOf[java.util.List[java.util.Map[String, Object]]]
      .asScala.toSeq.map { f =>
        val fm = f.asScala.toMap
        FieldSpec(str(fm, "name"), str(fm, "type"),
          fm.get("nullable").forall(_.toString.toBoolean))
      }
    val indicators = get(m, "indicators")
      .asInstanceOf[java.util.List[java.util.Map[String, Object]]]
      .asScala.toSeq.map { i =>
        val im = i.asScala.toMap
        IndicatorConf(str(im, "name"), str(im, "source"),
          strs(im, "values").distinct)
      }
    val renames = sec(m, "renames").map { case (k, v) => k -> v.toString }
    EtlConfig(
      run = RunConf(str(run, "environment"), str(run, "start_date"), str(run, "end_date"),
        str(run, "date_column"), str(run, "date_format"),
        str(run, "country_column"), str(run, "country_value")),
      input = InputConf(str(in, "path"), str(in, "format"),
        in.get("options").map(_.asInstanceOf[java.util.Map[String, Object]]
          .asScala.toMap.map { case (k, v) => k -> v.toString }).getOrElse(Map.empty),
        fields, str(in, "lineage_column")),
      quality = QualityConf(str(q, "min_rows").toLong,
        strs(q, "required_columns"), strs(q, "not_null_columns")),
      indicators = indicators,
      fill = FillConf(str(fill, "text_value"), strs(fill, "text_columns"),
        str(fill, "numeric_value").toDouble, strs(fill, "numeric_columns")),
      units = UnitConf(str(units, "unit_column"), str(units, "quantity_column"),
        str(units, "price_column"), str(units, "from_unit"),
        str(units, "factor").toDouble, str(units, "standard_unit"),
        str(units, "out_quantity"), str(units, "out_price"), str(units, "out_unit")),
      renames = renames,
      columnOrder = strs(m, "column_order"),
      output = OutputConf(str(out, "base_path"), strs(out, "partition_by"),
        str(out, "total_column")),
      logging = m.get("logging").filter(_ != null).map { _ =>
        val lg = sec(m, "logging")
        // present-but-empty keys load as null — treat like absent keys
        // (same convention as get() above) instead of NPE-ing on toString
        LoggingConf(lg.get("log_file").filter(_ != null).map(_.toString),
          lg.get("log_level").filter(_ != null)
            .map(_.toString.toUpperCase).getOrElse("INFO"))
      }.getOrElse(LoggingConf(None, "INFO")))
  }
}
