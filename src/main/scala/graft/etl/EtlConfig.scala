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

  private def invalid(key: String, problem: String): Nothing =
    throw new IllegalArgumentException(s"config key $key $problem")

  private def section(path: String, v: Object): Section = v match {
    case jm: java.util.Map[_, _] =>
      Section(path, jm.asScala.toMap.map { case (k, x) => k.toString -> x.asInstanceOf[Object] })
    case other => invalid(path, s"must be a mapping, got: $other")
  }

  /** One YAML mapping and its dotted path from the root, so that every
    * error names the full key. A present-but-empty key loads as null and
    * counts as missing; a value of the wrong shape, or a scalar that
    * does not parse, fails as an IllegalArgumentException naming the key
    * instead of a bare ClassCastException or NumberFormatException.
    */
  private final case class Section(path: String, m: Map[String, Object]) {
    private def key(k: String): String = if (path.isEmpty) k else s"$path.$k"
    def opt(k: String): Option[Object] = m.get(k).filter(_ != null)
    def get(k: String): Object =
      opt(k).getOrElse(throw new IllegalArgumentException(s"missing config key: ${key(k)}"))
    def str(k: String): String = get(k).toString
    def sec(k: String): Section = section(key(k), get(k))
    def optSec(k: String): Option[Section] = opt(k).map(section(key(k), _))
    def list(k: String): Seq[Object] = get(k) match {
      case l: java.util.List[_] => l.asScala.toSeq.map(_.asInstanceOf[Object])
      case other => invalid(key(k), s"must be a list, got: $other")
    }
    def strs(k: String): Seq[String] = list(k).map(_.toString)
    def secs(k: String): Seq[Section] =
      list(k).zipWithIndex.map { case (v, i) => section(s"${key(k)}[$i]", v) }
    def strMap: Map[String, String] = m.keys.map(k => k -> str(k)).toMap
    // toLong, toDouble and toBoolean all fail with an IllegalArgumentException
    def parsed[A](k: String, what: String)(parse: String => A): A = {
      val v = str(k)
      try parse(v) catch { case _: IllegalArgumentException => invalid(key(k), s"must be $what, got: $v") }
    }
  }

  def fromMap(m: Map[String, Object]): EtlConfig = {
    val root = Section("", m)
    val run = root.sec("run")
    val in = root.sec("input")
    val q = root.sec("quality")
    val fill = root.sec("fill")
    val units = root.sec("units")
    val out = root.sec("output")
    val fields = in.secs("schema").map { f =>
      FieldSpec(f.str("name"), f.str("type"),
        f.opt("nullable").forall(_ => f.parsed("nullable", "true or false")(_.toBoolean)))
    }
    val indicators = root.secs("indicators").map { i =>
      IndicatorConf(i.str("name"), i.str("source"), i.strs("values").distinct)
    }
    if (indicators.isEmpty) invalid("indicators", "must list at least one indicator family")
    EtlConfig(
      run = RunConf(run.str("environment"), run.str("start_date"), run.str("end_date"),
        run.str("date_column"), run.str("date_format"),
        run.str("country_column"), run.str("country_value")),
      input = InputConf(in.str("path"), in.str("format"),
        in.optSec("options").fold(Map.empty[String, String])(_.strMap),
        fields, in.str("lineage_column")),
      quality = QualityConf(q.parsed("min_rows", "a whole number")(_.toLong),
        q.strs("required_columns"), q.strs("not_null_columns")),
      indicators = indicators,
      fill = FillConf(fill.str("text_value"), fill.strs("text_columns"),
        fill.parsed("numeric_value", "a number")(_.toDouble), fill.strs("numeric_columns")),
      units = UnitConf(units.str("unit_column"), units.str("quantity_column"),
        units.str("price_column"), units.str("from_unit"),
        units.parsed("factor", "a number")(_.toDouble), units.str("standard_unit"),
        units.str("out_quantity"), units.str("out_price"), units.str("out_unit")),
      renames = root.sec("renames").strMap,
      columnOrder = root.strs("column_order"),
      output = OutputConf(out.str("base_path"), out.strs("partition_by"),
        out.str("total_column")),
      logging = root.optSec("logging").fold(LoggingConf(None, "INFO")) { lg =>
        LoggingConf(lg.opt("log_file").map(_.toString),
          lg.opt("log_level").map(_.toString.toUpperCase).getOrElse("INFO"))
      })
  }
}
