package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data LAYOUT keys: the Z-order (Morton) interleave,
  * the standard trick for making a single sort order serve range
  * predicates on SEVERAL columns at once (Morton 1966; the same
  * interleaving Delta Lake's OPTIMIZE ZORDER and ClickHouse's
  * mortonEncode expose). Rows whose z-values are close are close in
  * EVERY interleaved dimension, so min/max footer pruning on a
  * z-sorted parquet layout skips files for predicates on either
  * column; [[skippingReport]] measures how many.
  */
object Layout {
  /** The Morton interleave of two non-negative dimension values, low
    * `bits` of each: bit i of x lands at z-bit 2i, bit i of y at
    * 2i+1. Pure scan-side integer expression (shifts, masks, adds —
    * codegen'd, no shuffle, replayable in ANSI SQL by the oracle).
    * Callers quantize dimensions into [0, 2^bits) first — the
    * interleave is only meaningful on bounded non-negative ints.
    */
  def mortonInterleave(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits=$bits out of range [1,31]")
    val xm = pmod(x.cast("long"), lit(1L << bits))
    val ym = pmod(y.cast("long"), lit(1L << bits))
    (0 until bits).map { i =>
      (shiftright(xm, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(ym, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
  }

  /** Block-level min-max DATA-SKIPPING effectiveness report — what a
    * layout actually BUYS: rows are assigned to `nBins` equal-frequency
    * file bins in the layout's sort order (ntile over the total order —
    * deterministic, and the same equal-size assignment
    * `repartitionByRange` + a row-group split produces at write time),
    * each bin gets per-dimension min/max "footer stats", and each
    * predicate (a conjunction of closed ranges over the dimensions) is
    * tested against every bin the way a reader's pruning does: the bin
    * is SKIPPED iff some conjunct's range misses the bin's [min, max]
    * entirely. One report row per predicate: (layout, predicate,
    * n_bins, n_skipped, 2^-20-grid skip rate).
    *
    * This closes the x75/x108 loop — the layouts stop being "here is a
    * curve value" and become a measured pruning claim (linear layouts
    * skip ~nothing for the non-prefix dimension; space-filling curves
    * buy partial pruning on BOTH dimensions).
    *
    * Determinism: `orderCols` must end in a row-unique tie-break so the
    * ntile assignment is a total order both engines replay; mins/maxes
    * and counts are exact integers, the rate is the house grid.
    *
    * 100 TB: the per-bin stats are ONE partial-aggregatable groupBy
    * over (bin, dims) — the footer-stats pass a writer does for free;
    * the report aggregates over n_bins rows (file-count sized, never
    * corpus). The ntile window is the simulation stand-in for the
    * write path's range exchange: at cluster scale the bin id IS the
    * file id the layout writer already assigns, so the report runs as
    * a metadata-only query over footer stats.
    */
  def skippingReport(src: DataFrame, layout: String, orderCols: Seq[String],
                     nBins: Int, dims: Seq[String],
                     preds: Seq[(String, Seq[(String, Column, Column)])])
      : DataFrame = {
    require(nBins >= 2 && nBins <= 65536, s"nBins=$nBins out of range")
    require(dims.nonEmpty && preds.nonEmpty, "dims and preds required")
    val grid = 1048576L // 2^20
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(orderCols.map(col): _*)
    val aggs = dims.flatMap(n =>
      Seq(min(col(n)).as(s"min_$n"), max(col(n)).as(s"max_$n")))
    val stats = graft.Caches.persistOnce(
      src.withColumn("bin", ntile(nBins).over(w))
        .groupBy("bin").agg(aggs.head, aggs.tail: _*))
    preds.map { case (label, conjuncts) =>
      val skipped = conjuncts.map { case (n, lo, hi) =>
        (col(s"max_$n") < lo) || (col(s"min_$n") > hi)
      }.reduce(_ || _)
      stats.agg(count(lit(1)).as("n_bins"),
          sum(when(skipped, 1L).otherwise(0L)).as("n_skipped"))
        .select(lit(layout).as("layout"), lit(label).as("predicate"),
          col("n_bins"), col("n_skipped"))
    }.reduce(_ unionByName _)
      .withColumn("skip_rate_q",
        floor(col("n_skipped").cast("double") / col("n_bins").cast("double")
          * grid + lit(0.5)).cast("long"))
  }
}
