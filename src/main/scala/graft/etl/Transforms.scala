package graft.etl

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema construction from config (reference: config→StructType with a
  * 3-type map, error on unknown — /root/reference/data_process.py:56-73).
  */
object SchemaBuilder {
  private val typeMap: Map[String, DataType] = Map(
    "string" -> StringType,
    "double" -> DoubleType,
    "integer" -> IntegerType)

  def build(fields: Seq[FieldSpec]): StructType =
    StructType(fields.map { f =>
      val dt = typeMap.getOrElse(f.dtype,
        throw new IllegalArgumentException(s"unsupported field type: ${f.dtype}"))
      StructField(f.name, dt, f.nullable)
    })
}

/** The pipeline's transform steps, one pure function per reference stage
  * (/root/reference/data_process.py:235-265), composable with
  * DataFrame.transform. Semantic traps preserved deliberately:
  *
  *  - delivery filter is one pass that emits each row once per matching
  *    indicator family, NOT a disjunctive filter: bag-equal to the
  *    reference's unionByName of per-family branches (:128-136), so
  *    overlapping value sets duplicate rows (PropertiesSpec checks it
  *    against that union);
  *  - to_date under Spark 4 ANSI throws on unparseable input (the
  *    reference behavior on its own data; documented, not "fixed");
  *  - rename is a projection of aliases, order a final projection;
  *  - the dedup shuffle is keyed for the write: it hashes rows on the raw
  *    columns the output is partitioned by, which already clusters the
  *    all-column dedup, so each output partition is held by one task and
  *    the write makes one file per partition without a second exchange.
  */
object Transforms {

  /** A1 — all-column exact dedup (reference :242). With `keys` the one
    * shuffle hashes on those columns only: a hash partitioning on a subset
    * of the grouping columns satisfies the dedup aggregate, so no second
    * exchange is planned, and rows equal on `keys` share a task.
    */
  def dedup(df: DataFrame, keys: Seq[String] = Nil): DataFrame =
    if (keys.isEmpty) df.dropDuplicates()
    else df.repartition(keys.map(col): _*).dropDuplicates()

  /** The raw columns behind the output's partition columns: each
    * `partition_by` name mapped back through `renames`, kept if `df` has
    * it. Where a raw value fixes its partition value, as for the reference
    * config (the date parse is a pure function of the string), hashing on
    * these puts each output partition in one task; otherwise the rows are
    * the same, only spread over more files. Derived columns drop out.
    */
  def writeKeys(df: DataFrame, conf: EtlConfig): Seq[String] = {
    val back = conf.renames.map(_.swap)
    conf.output.partitionBy.map(p => back.getOrElse(p, p)).filter(df.columns.contains)
  }

  /** E2 — parse the date column in place (reference :244). */
  def parseDate(df: DataFrame, conf: RunConf): DataFrame =
    df.withColumn(conf.dateColumn, to_date(col(conf.dateColumn), conf.dateFormat))

  /** F1 — inclusive date-range filter (reference :98-101). */
  def dateFilter(df: DataFrame, conf: RunConf): DataFrame =
    df.filter(col(conf.dateColumn) >= lit(conf.startDate).cast(DateType) &&
              col(conf.dateColumn) <= lit(conf.endDate).cast(DateType))

  /** F2 — country equality filter with the TODOS sentinel (reference
    * :111-114); the sentinel check is driver-side config logic.
    */
  def countryFilter(df: DataFrame, conf: RunConf): DataFrame =
    if (conf.countryValue.equalsIgnoreCase("TODOS")) df
    else df.filter(col(conf.countryColumn) === lit(conf.countryValue))

  /** 1 where upper(source) is one of the family's values, else 0 (also
    * for a null source).
    */
  private def matches(i: IndicatorConf): Column =
    when(upper(col(i.source)).isin(i.values: _*), lit(1)).otherwise(lit(0))

  /** F3/U1 — per-indicator IN-list filter (reference :128-136), with the
    * bag semantics of the reference's union of one branch per family: a
    * row is kept once for every family it matches. One pass, because a
    * union would scan the source and shuffle for the upstream dedup once
    * per family: Catalyst pushes each branch's filter below the dedup
    * aggregate, so the branches share no subtree.
    */
  def deliveryFilter(df: DataFrame, indicators: Seq[IndicatorConf]): DataFrame = {
    require(indicators.nonEmpty, "deliveryFilter requires at least one indicator family")
    val hits = indicators.map(matches).reduce(_ + _)
    val copy = "__delivery_filter_copy"
    df.filter(hits > 0)
      .withColumn(copy, explode(array_repeat(lit(true), hits)))
      .drop(copy)
  }

  /** E4 — 0/1 indicator columns (reference :150-159), in one projection. */
  def indicatorCols(df: DataFrame, indicators: Seq[IndicatorConf]): DataFrame =
    df.withColumns(ListMap(indicators.map(i => i.name -> matches(i)): _*))

  /** E10/E11 — typed null fills (reference :163-180). */
  def fillNulls(df: DataFrame, conf: FillConf): DataFrame =
    df.na.fill(conf.textValue, conf.textColumns)
      .na.fill(conf.numericValue, conf.numericColumns)

  /** E5/E6/E7 — unit standardization (reference :182-210): quantity
    * scaled by `factor` for `fromUnit` rows, price re-derived per
    * standardized unit with HALF_UP 2-decimal rounding, constant target
    * unit for every row. One projection over the input, so the price
    * divides by the scaled quantity recomputed, not by `outQuantity`.
    */
  def standardizeUnits(df: DataFrame, u: UnitConf): DataFrame = {
    val isFrom = upper(col(u.unitColumn)) === lit(u.fromUnit)
    val qty = col(u.quantityColumn)
    val price = col(u.priceColumn)
    df.withColumns(ListMap(
      u.outQuantity -> when(isFrom, qty * u.factor).otherwise(qty),
      u.outPrice -> when(isFrom, round(price / (qty * u.factor), 2)).otherwise(price),
      u.outUnit -> lit(u.standardUnit)))
  }

  /** E8 — total from the ROUNDED standardized price (reference :259-262;
    * the rounding drift is intentional parity, see SURVEY.md E8).
    */
  def totalColumn(df: DataFrame, u: UnitConf, name: String): DataFrame =
    df.withColumn(name, col(u.outQuantity) * col(u.outPrice))

  /** P1/P2 — rename-by-projection then reorder projection (reference
    * :219-231).
    */
  def renameAndOrder(df: DataFrame, renames: Map[String, String],
                     order: Seq[String]): DataFrame = {
    val renamed = df.select(df.columns.map(c =>
      renames.get(c).map(col(c).as(_)).getOrElse(col(c))).toIndexedSeq: _*)
    renamed.select(order.map(col): _*)
  }

  /** The full chain in reference order (:240-263). */
  def apply(df: DataFrame, conf: EtlConfig): DataFrame = {
    val chained = df
      .transform(dedup(_, writeKeys(df, conf)))
      .transform(parseDate(_, conf.run))
      .transform(dateFilter(_, conf.run))
      .transform(countryFilter(_, conf.run))
      .transform(deliveryFilter(_, conf.indicators))
      .transform(indicatorCols(_, conf.indicators))
      .transform(fillNulls(_, conf.fill))
      .transform(standardizeUnits(_, conf.units))
      .transform(totalColumn(_, conf.units, conf.output.totalColumn))
    renameAndOrder(chained, conf.renames, conf.columnOrder)
  }
}
