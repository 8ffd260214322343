package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.{Tables => T, Exact}

/** Queries exercising the reference's operator inventory (SURVEY.md §2)
  * over the driver test tables. Names map to §2 ids in COVERAGE.md.
  *
  * Each query is paired with DuckDB oracle SQL in [[Parity.oracle]]; both
  * sides order by a unique key and use only exact / bit-deterministic
  * arithmetic (see [[graft.tables.Exact]]).
  */
object Parity {
  type Q = (SparkSession, String) => DataFrame

  // F3/E1-style condition lists (reference: upper(col) isin config list,
  // /root/reference/data_process.py:128-133).
  private val urgentPrios = Seq("1-URGENT", "2-HIGH")

  val queries: Map[String, Q] = Map(
    // S1/P1/P2 — parquet scan + rename-by-projection + column reorder
    // (reference rename/reorder is one select of aliases,
    // /root/reference/data_process.py:219-231).
    "p01_scan_project" -> ((s, dir) =>
      T.lineitem(s, dir)
        .select(
          col("l_orderkey").as("okey"),
          col("l_linenumber").as("lnum"),
          col("l_quantity").as("qty"),
          col("l_returnflag").as("rflag"))
        .orderBy("okey", "lnum")),

    // F1/E3 — inclusive date-range filter with literal bounds
    // (/root/reference/data_process.py:98-101). Filter is on the raw
    // timestamp column so it pushes down to the parquet scan.
    "p02_filter_dates" -> ((s, dir) =>
      T.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") <= lit("1996-12-31").cast("timestamp"))
        .select(
          col("o_orderkey"),
          col("o_custkey"),
          col("o_orderdate").cast("date").as("odate"),
          col("o_totalprice"))
        .orderBy("o_orderkey")),

    // F2 — equality filter with the TODOS sentinel bypass
    // (/root/reference/data_process.py:111-114): driver-side config logic.
    "p03_filter_eq" -> ((s, dir) => {
      val segment = "BUILDING" // "TODOS" (any case) would bypass the filter
      val base = T.customer(s, dir)
      val filtered =
        if (segment.equalsIgnoreCase("TODOS")) base
        else base.filter(col("c_mktsegment") === lit(segment))
      filtered.select("c_custkey", "c_name", "c_mktsegment").orderBy("c_custkey")
    }),

    // F3/E1 — upper-cased IN-list filter (/root/reference/data_process.py:128-133)
    "p04_filter_in_upper" -> ((s, dir) =>
      T.orders(s, dir)
        .filter(upper(col("o_orderpriority")).isin(urgentPrios: _*))
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")),

    // U1 — unionByName of two disjoint filtered branches
    // (/root/reference/data_process.py:128-136). Disjoint condition sets,
    // so the union is a bag-semantics disjunction.
    "p05_union_disjoint" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
        .select(col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"),
                col("l_returnflag").as("rflag"))
      val a = li.filter(col("rflag") === "A")
      val r = li.filter(col("rflag") === "R")
      a.unionByName(r).orderBy("okey", "lnum")
    }),

    // A1 — exact deduplication (subset form of dropDuplicates,
    // /root/reference/data_process.py:242)
    "p06_dedup_exact" -> ((s, dir) =>
      T.lineitem(s, dir)
        .select(col("l_returnflag").as("rflag"), col("l_linestatus").as("lstatus"))
        .dropDuplicates()
        .orderBy("rflag", "lstatus")),

    // A2/V1 — row-count action as a 1-row frame
    "p07_count_rows" -> ((s, dir) =>
      T.lineitem(s, dir).agg(count(lit(1)).as("n_rows"))),

    // E4 — when/otherwise binary indicator columns
    // (/root/reference/data_process.py:150-159)
    "p08_indicator_cols" -> ((s, dir) =>
      T.orders(s, dir)
        .select(
          col("o_orderkey"),
          when(upper(col("o_orderpriority")).isin(urgentPrios: _*), lit(1))
            .otherwise(lit(0)).as("is_urgent"),
          when(col("o_orderstatus") === "F", lit(1)).otherwise(lit(0)).as("is_finished"))
        .orderBy("o_orderkey")),

    // E5/E6/E7/E8 — conditional unit standardization + rounded division +
    // constant column + product-of-rounded total
    // (/root/reference/data_process.py:197-210,259-262).
    "p09_unit_standardize" -> ((s, dir) =>
      unitStandardize(T.lineitem(s, dir))
        .select("l_orderkey", "l_linenumber", "qty_std", "price_std", "unit_std", "total_std")
        .orderBy("l_orderkey", "l_linenumber")),

    // E10/E11 — null handling: inject nulls with nullif, fill with coalesce
    // (na.fill analog, /root/reference/data_process.py:163-180)
    "p10_null_fill" -> ((s, dir) =>
      T.documents(s, dir)
        .select(
          col("doc_id"),
          coalesce(nullif(col("lang"), lit("de")), lit("NOT INFO")).as("lang_filled"))
        .orderBy("doc_id")),

    // E9/S3 — regexp_extract lineage-style column
    // (/root/reference/data_process.py:83)
    "p11_regexp_extract" -> ((s, dir) =>
      T.documents(s, dir)
        .select(
          col("doc_id"),
          regexp_extract(col("source"), "[0-9]+$", 0).as("src_num"))
        .orderBy("doc_id")),

    // E2 — to_date round-trip through the reference's yyyyMMdd format
    // (/root/reference/data_process.py:244)
    "p12_to_date" -> ((s, dir) =>
      T.orders(s, dir)
        .select(
          col("o_orderkey"),
          to_date(date_format(col("o_orderdate"), "yyyyMMdd"), "yyyyMMdd").as("odate"))
        .orderBy("o_orderkey")),

    // V3/F4 — not-null data-quality counts per column
    // (/root/reference/data_process.py:301-311)
    "p13_notnull_dq" -> ((s, dir) =>
      T.documents(s, dir).agg(
        sum(when(col("lang").isNull, 1).otherwise(0)).as("lang_nulls"),
        sum(when(col("source").isNull, 1).otherwise(0)).as("source_nulls"))),

    // S5 — bounded display slice (show(10) analog), deterministic via sort
    // Sort on ALL output columns: (okey, lnum) is the TPC-H key but the
    // GENERATED sf1 fixture duplicates it with differing quantities, so
    // a 2-column sort under LIMIT picks engine-dependent tie rows
    // (caught by the sf1 full-surface oracle sweep). The 3-column sort
    // is a total order on the projection — any remaining ties are
    // identical rows, so the bounded display is deterministic on any
    // fixture.
    "p14_limit" -> ((s, dir) =>
      T.lineitem(s, dir)
        .select(col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"),
                col("l_quantity").as("qty"))
        .orderBy("okey", "lnum", "qty")
        .limit(10)),

    // Full reference transform chain re-expressed over lineitem:
    // dedup → date parse/filter → disjoint IN-list union → indicators →
    // unit standardization → total → rename/reorder
    // (/root/reference/data_process.py:235-265). This is also SparkEntry.entry.
    "p15_pipeline_composite" -> ((s, dir) => pipelineComposite(s, dir))
  )

  /** The unit standardization of lineitem rows (E5–E8): the quantity of an
    * `F` line scaled by 20 and its price re-derived per unit with 2-decimal
    * rounding, a constant unit, and the total from the rounded price.
    */
  private def unitStandardize(df: DataFrame): DataFrame = {
    val isF = upper(col("l_linestatus")) === "F"
    df.withColumn("qty_std", when(isF, col("l_quantity") * 20).otherwise(col("l_quantity")))
      .withColumn("price_std",
        when(isF, Exact.round2(col("l_extendedprice") / col("qty_std")))
          .otherwise(col("l_extendedprice")))
      .withColumn("unit_std", lit("ST"))
      .withColumn("total_std", col("qty_std") * col("price_std"))
  }

  /** The flagship composite; mirrors transform_data's shape end-to-end. */
  def pipelineComposite(s: SparkSession, dir: String): DataFrame = {
    val deduped = T.lineitem(s, dir).dropDuplicates()
    val dated = deduped
      .withColumn("ship_date", col("l_shipdate").cast("date"))
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <= lit("1997-12-31").cast("timestamp"))
    val cond1 = Seq("A", "R")
    val cond2 = Seq("N")
    val unioned = dated.filter(upper(col("l_returnflag")).isin(cond1: _*))
      .unionByName(dated.filter(upper(col("l_returnflag")).isin(cond2: _*)))
    unioned
      .withColumn("is_returned", when(upper(col("l_returnflag")).isin(cond1: _*), lit(1)).otherwise(lit(0)))
      .transform(unitStandardize)
      .select(
        col("ship_date"),
        col("l_orderkey").as("okey"),
        col("l_linenumber").as("lnum"),
        col("l_returnflag").as("rflag"),
        col("is_returned"),
        col("l_quantity").as("qty_origin"),
        col("qty_std"), col("price_std"), col("unit_std"), col("total_std"))
      .orderBy("okey", "lnum")
  }

  val oracle: Map[String, String] = Map(
    "p01_scan_project" ->
      """SELECT l_orderkey AS okey, l_linenumber AS lnum, l_quantity AS qty,
         l_returnflag AS rflag FROM lineitem ORDER BY okey, lnum""",
    "p02_filter_dates" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS odate, o_totalprice
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <= TIMESTAMP '1996-12-31 00:00:00'
         ORDER BY o_orderkey""",
    "p03_filter_eq" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""",
    "p04_filter_in_upper" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
         WHERE upper(o_orderpriority) IN ('1-URGENT','2-HIGH') ORDER BY o_orderkey""",
    "p05_union_disjoint" ->
      """SELECT * FROM (
           SELECT l_orderkey AS okey, l_linenumber AS lnum, l_returnflag AS rflag
           FROM lineitem WHERE l_returnflag = 'A'
           UNION ALL
           SELECT l_orderkey AS okey, l_linenumber AS lnum, l_returnflag AS rflag
           FROM lineitem WHERE l_returnflag = 'R')
         ORDER BY okey, lnum""",
    "p06_dedup_exact" ->
      """SELECT DISTINCT l_returnflag AS rflag, l_linestatus AS lstatus
         FROM lineitem ORDER BY rflag, lstatus""",
    "p07_count_rows" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem",
    "p08_indicator_cols" ->
      """SELECT o_orderkey,
         CASE WHEN upper(o_orderpriority) IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END AS is_urgent,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_finished
         FROM orders ORDER BY o_orderkey""",
    "p09_unit_standardize" ->
      """WITH base AS (
           SELECT l_orderkey, l_linenumber, l_extendedprice, l_linestatus,
             CASE WHEN upper(l_linestatus) = 'F' THEN l_quantity * 20 ELSE l_quantity END AS qty_std
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, qty_std,
           CASE WHEN upper(l_linestatus) = 'F'
                THEN floor(l_extendedprice / qty_std * 100 + 0.5) / 100
                ELSE l_extendedprice END AS price_std,
           'ST' AS unit_std,
           qty_std * (CASE WHEN upper(l_linestatus) = 'F'
                THEN floor(l_extendedprice / qty_std * 100 + 0.5) / 100
                ELSE l_extendedprice END) AS total_std
         FROM base ORDER BY l_orderkey, l_linenumber""",
    "p10_null_fill" ->
      """SELECT doc_id, coalesce(nullif(lang, 'de'), 'NOT INFO') AS lang_filled
         FROM documents ORDER BY doc_id""",
    "p11_regexp_extract" ->
      """SELECT doc_id, regexp_extract(source, '[0-9]+$', 0) AS src_num
         FROM documents ORDER BY doc_id""",
    "p12_to_date" ->
      """SELECT o_orderkey,
         CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS odate
         FROM orders ORDER BY o_orderkey""",
    "p13_notnull_dq" ->
      """SELECT CAST(count(*) - count(lang) AS BIGINT) AS lang_nulls,
         CAST(count(*) - count(source) AS BIGINT) AS source_nulls FROM documents""",
    "p14_limit" ->
      """SELECT l_orderkey AS okey, l_linenumber AS lnum, l_quantity AS qty
         FROM lineitem ORDER BY okey, lnum, qty LIMIT 10""",
    "p15_pipeline_composite" ->
      """WITH dated AS (
           SELECT DISTINCT * FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate <= TIMESTAMP '1997-12-31 00:00:00'),
         unioned AS (
           SELECT * FROM dated WHERE upper(l_returnflag) IN ('A','R')
           UNION ALL
           SELECT * FROM dated WHERE upper(l_returnflag) IN ('N')),
         std AS (
           SELECT *,
             CASE WHEN upper(l_returnflag) IN ('A','R') THEN 1 ELSE 0 END AS is_returned,
             CASE WHEN upper(l_linestatus) = 'F' THEN l_quantity * 20 ELSE l_quantity END AS qty_std
           FROM unioned),
         priced AS (
           SELECT *,
             CASE WHEN upper(l_linestatus) = 'F'
                  THEN floor(l_extendedprice / qty_std * 100 + 0.5) / 100
                  ELSE l_extendedprice END AS price_std
           FROM std)
         SELECT CAST(l_shipdate AS DATE) AS ship_date,
           l_orderkey AS okey, l_linenumber AS lnum, l_returnflag AS rflag,
           is_returned, l_quantity AS qty_origin, qty_std, price_std,
           'ST' AS unit_std, qty_std * price_std AS total_std
         FROM priced ORDER BY okey, lnum"""
  )
}
