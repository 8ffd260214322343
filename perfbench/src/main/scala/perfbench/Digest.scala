package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a query result: row count plus the exact
  * sum of one 64-bit hash per row. Doubles and floats are rounded by the
  * engine's `Exact.round6` rule before hashing, so the digest is stable
  * under the last-bit noise of parallel aggregation. */
final case class Digest(rows: Long, hash: String, cols: String)

object Digest {
  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields.toSeq
    val canonical = fields.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val rowHash =
      if (canonical.isEmpty) lit(0L) else xxhash64(canonical: _*)
    val r = df.select(rowHash.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    val h = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    Digest(r.getLong(0), h, fields.map(_.name).mkString(","))
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => graft.tables.Exact.round6(c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      // hash functions reject maps: hash the sorted entry list instead
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _: VariantType | NullType | _: CalendarIntervalType => c.cast(StringType)
    case _ => c
  }
}
