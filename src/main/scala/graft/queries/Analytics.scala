package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.{Tables => T, Exact}

/** Core analytics surface: aggregation, joins (broadcast / semi / anti /
  * outer), windows, rollup, distinct aggregates, top-k, set ops.
  *
  * Scale notes (100 TB thinking, verified via .explain on sf0.1):
  *  - dimension sides (nation, region, customer at small SF) are broadcast
  *    explicitly — no shuffle of the fact table for those joins;
  *  - aggregations are partial (map-side combine) by construction via
  *    groupBy().agg() — Catalyst plans HashAggregate(partial) → shuffle →
  *    HashAggregate(final);
  *  - global top-k is orderBy().limit(k) which Spark plans as
  *    TakeOrderedAndProject — per-partition top-k then a k-row merge on the
  *    driver, never a full sort.
  */
object Analytics {
  type Q = (SparkSession, String) => DataFrame

  /** Hard cap on distinct parts per order basket in a56: pair
    * generation is k²/2 per basket, so an unfenced mega-order (k=100 k)
    * would emit 5×10⁹ pairs inside a single task. 10 k distinct parts
    * (≤ 50 M pairs, one task-seconds of scan-side work) is far above
    * any real order while fencing the quadratic — the same scan-side
    * raise_error discipline as `Similarity.MaxCodebookEntries` and the
    * 1 M-edge connected-components guard.
    */
  private[graft] val MaxBasketSize = 10000

  /** a56's per-order basket table — (ok, sorted distinct parts array) —
    * with the [[MaxBasketSize]] fence applied scan-side: an oversized
    * basket raises at first action (order id + size in the message)
    * instead of silently emitting its k²/2 pairs. Factored out so the
    * fence is testable against a synthetic mega-order (BasketFenceSpec).
    */
  private[graft] def fencedBaskets(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey").as("ok"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts0"))
      .select(col("ok"),
        when(size(col("parts0")) <= lit(MaxBasketSize), col("parts0"))
          .otherwise(raise_error(concat(
            lit(s"a56 basket exceeds MaxBasketSize=$MaxBasketSize: order "),
            col("ok").cast("string"), lit(" has "),
            size(col("parts0")).cast("string"), lit(" distinct parts"))))
          .as("parts"))

  /** Session-memoized REPEAT co-order edge frame — (p1 < p2, n_ab ≥ 2)
    * over the fenced-basket table — shared by a60 (triangles) and a61
    * (degree profile). The pair aggregate is the expensive half of both
    * queries; before this memo each rebuilt it as a textually identical
    * subtree (converging only via canonical-plan cache matching — the
    * exact silent-split risk the r8 verdict flagged for x20/x84).
    * Object identity instead, the [[Extensions.bandedPairs]] pattern:
    * one build + persist per (session, dir) in the [[graft.Caches]]
    * memo, pinned in Round10PlanSpec.
    */
  private[graft] def repeatEdges(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, Seq(dir), "repeatEdges") {
      val baskets = graft.Caches.persistOnce(fencedBaskets(T.lineitem(s, dir)))
      graft.Caches.persistOnce(baskets
        .select(col("parts"), posexplode(col("parts")).as(Seq("i", "p1")))
        .select(col("p1"),
          explode(slice(col("parts"), col("i") + lit(2), size(col("parts"))))
            .as("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2))
    }

  val queries: Map[String, Q] = Map(
    // TPC-H Q1 pricing summary: partial-aggregatable group-by over the
    // largest table; sums routed through exact decimals.
    "a01_agg_pricing" -> ((s, dir) =>
      T.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag").as("rflag"), col("l_linestatus").as("lstatus"))
        .agg(
          Exact.dsum(col("l_quantity")).as("sum_qty"),
          Exact.dsum(col("l_extendedprice")).as("sum_base_price"),
          // exact sum rounded to CENTS before the double cast — the
          // sum_charge discipline below, made uniform in r11 (the
          // GuardrailsSpec money lint): a scale-4 total's integer form
          // would cross 2^53 around sf10 and double-round differently
          // in DuckDB; a cents total fits a double exactly at any SF
          sum(Exact.dec(col("l_extendedprice")) * (lit(1) - Exact.dec(col("l_discount"))))
            .cast("decimal(24,2)").cast("double").as("sum_disc_price"),
          // The naive (12,2)x(13,2)x(13,2) chain needs precision 39 —
          // one past Spark's DECIMAL cap, so Spark silently rounds the
          // product scale while DuckDB (which lands exactly at 38)
          // stays exact; invisible at the gate SFs, caught by the sf1
          // full-surface oracle sweep. Squeezing the first product to
          // (18,4) (values are ≤ 7 integer digits — lossless) keeps
          // the triple product at (23,6): exact in BOTH engines, so
          // the sum is order-free. The exact sum then rounds to CENTS
          // before the double cast: a scale-6 sf1 total is ~2.8e16 in
          // integer form — past 2^53, where DuckDB's int128→double→÷10⁶
          // cast double-rounds while Spark's BigDecimal single-rounds
          // (a 1-ulp mismatch); at scale 2 the integer form fits a
          // double exactly and both engines agree bit-for-bit.
          sum((Exact.dec(col("l_extendedprice"))
              * (lit(1) - Exact.dec(col("l_discount")))).cast("decimal(18,4)")
            * (lit(1) + Exact.dec(col("l_tax"))).cast("decimal(4,2)"))
            .cast("decimal(24,2)").cast("double").as("sum_charge"),
          (Exact.dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (Exact.dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("rflag", "lstatus")),

    // Broadcast hash join: fact orders ⋈ dim customer (dim broadcast ⇒ the
    // fact side never shuffles).
    "a02_join_broadcast" -> ((s, dir) =>
      T.orders(s, dir)
        .join(broadcast(T.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), Exact.dsum(col("o_totalprice")).as("total_value"))
        .orderBy("c_mktsegment")),

    // Multi-way star join (Q5-ish): lineitem ⋈ orders shuffles on orderkey;
    // customer/nation/region are broadcast dims.
    "a03_join_star" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
      val o = T.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(T.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          // cents before double — the a01 money discipline
          sum(Exact.dec(col("l_extendedprice")) * (lit(1) - Exact.dec(col("l_discount"))))
            .cast("decimal(24,2)").cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // Left-semi join (EXISTS): customers that placed at least one order.
    "a04_semi_join" -> ((s, dir) =>
      T.customer(s, dir)
        .join(T.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // Left-anti join (NOT EXISTS): customers with no orders.
    "a05_anti_join" -> ((s, dir) =>
      T.customer(s, dir)
        .join(T.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // Left-outer join with null-skipping count.
    "a06_outer_join" -> ((s, dir) =>
      T.part(s, dir)
        .join(T.lineitem(s, dir), col("l_partkey") === col("p_partkey"), "left_outer")
        .groupBy("p_partkey")
        .agg(count(col("l_orderkey")).as("n_lineitems"))
        .orderBy("p_partkey")),

    // Ranking window: top-3 orders by value per priority class.
    "a07_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rn")
    }),

    // Running-total window (exact decimal running sum → double).
    "a08_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.orders(s, dir)
        .withColumn("running_total", sum(Exact.dec(col("o_totalprice"))).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "running_total")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Rollup (grouping sets): subtotal + grand-total rows.
    "a09_rollup" -> ((s, dir) =>
      T.lineitem(s, dir)
        .rollup(col("l_returnflag").as("rflag"), col("l_linestatus").as("lstatus"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("rflag").asc_nulls_first, col("lstatus").asc_nulls_first)),

    // Distinct aggregate.
    "a10_distinct_agg" -> ((s, dir) =>
      T.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("rflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
             countDistinct(col("l_partkey")).as("n_parts"))
        .orderBy("rflag")),

    // Global top-k: planned as TakeOrderedAndProject (no full sort).
    "a11_topk" -> ((s, dir) =>
      T.orders(s, dir)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)),

    // Set intersection: nations present in both supplier and customer.
    "a12_intersect" -> ((s, dir) =>
      T.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
        .intersect(T.customer(s, dir).select(col("c_nationkey").as("nationkey")))
        .orderBy("nationkey")),

    // Set difference: nations with customers but no suppliers.
    "a13_except" -> ((s, dir) =>
      T.customer(s, dir).select(col("c_nationkey").as("nationkey"))
        .except(T.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")),

    // Scalar-function potpourri: string / date-part / math.
    "a14_scalar_funcs" -> ((s, dir) =>
      T.orders(s, dir)
        .select(
          col("o_orderkey"),
          upper(col("o_orderstatus")).as("status_u"),
          substring(col("o_orderpriority"), 1, 1).as("prio_code"),
          length(col("o_orderpriority")).as("prio_len"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("status_prio"),
          year(col("o_orderdate")).as("oyear"),
          month(col("o_orderdate")).as("omonth"),
          dayofmonth(col("o_orderdate")).as("oday"),
          floor(col("o_totalprice")).as("floor_price"))
        .orderBy("o_orderkey")),

    // Array-column basics over embeddings.
    "a15_array_funcs" -> ((s, dir) =>
      T.embeddings(s, dir)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).as("first_val"),
          col("label"))
        .orderBy("vec_id")),

    // JSON scalar extraction from a string column.
    "a16_json_extract" -> ((s, dir) =>
      T.events(s, dir)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy("event_id")),

    // Pivot (conditional aggregation with explicit value list).
    "a17_pivot" -> ((s, dir) =>
      T.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .orderBy("user_id")),

    // SQL string interface: the same text runs in spark.sql and DuckDB.
    "a18_sql_interface" -> ((s, dir) => {
      T.orders(s, dir).createOrReplaceTempView("orders")
      s.sql("""SELECT CAST(year(o_orderdate) AS INT) AS oyear,
                      CAST(count(*) AS BIGINT) AS n
               FROM orders GROUP BY 1 ORDER BY 1""")
    }),

    // Set-valued aggregation with a deterministic order. Serialized to a
    // "|"-joined string: the driver harness hash-compares via pandas sort,
    // which cannot sort raw array columns — a scalar column can be hashed
    // on both sides while still pinning the full sorted-set semantics.
    "a19_collect_set" -> ((s, dir) =>
      T.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("rflag"))
        .agg(array_join(sort_array(collect_set(col("l_linestatus"))), "|").as("statuses"))
        .orderBy("rflag")),

    // As-of (point-in-time) join: each event annotated with its user's
    // most recent purchase at-or-before the event. One key shuffle —
    // see graft.operators.AsOfJoin. Oracle: DuckDB's native ASOF JOIN.
    // The right side is pre-deduplicated to one row per (user, ts)
    // (arg-max by event_id) so equal-timestamp ties cannot make the
    // cross-engine compare depend on DuckDB's arbitrary tie choice.
    "a20_asof_join" -> ((s, dir) => {
      val ev = T.events(s, dir).select("event_id", "user_id", "ts", "event_type")
      val purchases = T.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("value"))
      graft.operators.AsOfJoin.asofBackward(
          ev, purchases, key = "user_id", leftTs = "ts", rightTs = "ts",
          payload = Map("ts" -> "last_purchase_ts", "value" -> "last_purchase_value"))
        .orderBy("event_id")
    }),

    // Exact percentiles (linear interpolation), rounded deterministically.
    "a21_percentile" -> ((s, dir) =>
      T.orders(s, dir)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(
          Exact.round6(percentile(col("o_totalprice"), lit(0.5))).as("median_price"),
          Exact.round6(percentile(col("o_totalprice"), lit(0.9))).as("p90_price"))
        .orderBy("status")),

    // Date spine: generated month series (sequence + explode) left-joined
    // to per-month order counts.
    "a22_date_spine" -> ((s, dir) => {
      val o = T.orders(s, dir)
      val bounds = o.agg(
        date_trunc("month", min(col("o_orderdate"))).as("mn"),
        date_trunc("month", max(col("o_orderdate"))).as("mx"))
      val spine = bounds.select(
        explode(sequence(col("mn"), col("mx"), expr("interval 1 month"))).as("month_start"))
      val counts = o.groupBy(date_trunc("month", col("o_orderdate")).as("month_start"))
        .agg(count(lit(1)).as("n_orders"))
      spine.join(counts, Seq("month_start"), "left")
        .select(col("month_start"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("month_start")
    }),

    // HyperLogLog approximate distinct — graft's deterministic HLL
    // (Sketches.hllDistinct: murmur3 bucketing + exact-integer register
    // sums), whose every step the DuckDB oracle replays bit-exactly.
    // The native approx_count_distinct (HLL++ with bias tables) is
    // cross-checked against this sketch in QueryBoundsSpec instead.
    "a23_approx_distinct" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
        .select(col("l_returnflag").as("rflag"), col("l_partkey"))
      val approx = graft.operators.Sketches.hllDistinct(
        li, Seq("rflag"), col("l_partkey"), "hll_parts")
      val exact = li.groupBy("rflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          graft.operators.Sketches.kmvDistinct(col("l_partkey")).as("kmv_parts"))
      approx.join(exact, "rflag")
        .select("rflag", "exact_parts", "hll_parts", "kmv_parts")
        .orderBy("rflag")
    }),

    // Custom typed Aggregator (exact integer-cents money stats).
    "a24_typed_agg" -> ((s, dir) => {
      val moneyStats = udaf(graft.functions.TypedAggregators.MoneyStatsAgg,
        org.apache.spark.sql.Encoders.scalaDouble)
      T.orders(s, dir)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(moneyStats(col("o_totalprice")).as("stats"))
        .select(col("status"), col("stats.n").as("n"),
          col("stats.min_cents"), col("stats.max_cents"), col("stats.sum_cents"))
        .orderBy("status")
    }),

    // Salted two-phase aggregation: identical result to a direct group-by
    // (the oracle), skew-proof shuffle profile (graft.operators.Skew).
    "a25_salted_agg" -> ((s, dir) =>
      graft.operators.Skew.saltedCountSum(
          T.lineitem(s, dir), Seq("l_returnflag"),
          Exact.dec(col("l_extendedprice")), "sum_price")
        .select(col("l_returnflag").as("rflag"), col("n"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("rflag")),

    // Correlated + IN subqueries through spark.sql — identical SQL text
    // runs in DuckDB as the oracle.
    "a26_subqueries" -> ((s, dir) => {
      T.orders(s, dir).createOrReplaceTempView("orders")
      T.customer(s, dir).createOrReplaceTempView("customer")
      s.sql(subqueriesSql)
    }),

    // Cube: all grouping-set combinations.
    "a27_cube" -> ((s, dir) =>
      T.lineitem(s, dir)
        .cube(col("l_returnflag").as("rflag"), col("l_linestatus").as("lstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("rflag").asc_nulls_first, col("lstatus").asc_nulls_first)),

    // Bag-semantics set operations (multiplicity-preserving).
    "a29_intersect_all" -> ((s, dir) =>
      T.lineitem(s, dir).select(col("l_suppkey").as("k"))
        .intersectAll(T.orders(s, dir).select(col("o_custkey").as("k")))
        .orderBy("k")),
    "a30_except_all" -> ((s, dir) =>
      T.supplier(s, dir).select(col("s_nationkey").as("k"))
        .exceptAll(T.nation(s, dir).select(col("n_nationkey").as("k")))
        .orderBy("k")),

    // String-function battery (cross-engine-identical subset).
    // Analytic window-function battery: first/last/nth/lead over a
    // totally-ordered per-customer frame (date, then key — deterministic
    // ties). last_value uses the full-partition frame explicitly: the
    // SQL-standard default frame stops at CURRENT ROW, which makes
    // last_value a no-op trap both engines share.
    "a42_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      T.orders(s, dir)
        .select(
          col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(wFull).as("first_price"),
          last(col("o_totalprice")).over(wFull).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(wFull).as("second_price"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"),
          row_number().over(w).as("seq"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Higher-order array functions (transform/filter/aggregate/exists/
    // zip_with) over per-order quantity vectors — the "functions, not
    // UDFs" surface: every lambda is codegen'd, all math exact integers.
    "a44_higher_order" -> ((s, dir) =>
      T.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_quantity").cast("int"))).as("q"))
        .select(
          col("l_orderkey"),
          size(col("q")).as("n"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          size(filter(col("q"), _ > 25)).as("n_big"),
          exists(col("q"), _ === 50).cast("int").as("has_50"),
          aggregate(zip_with(col("q"), reverse(col("q")), (a, b) => (a * b).cast("long")),
            lit(0L), (acc, x) => acc + x).as("rev_dot"),
          array_join(transform(col("q"), x => (x * 2).cast("string")), ",").as("doubled"))
        .orderBy("l_orderkey")),

    "a31_string_funcs" -> ((s, dir) =>
      T.customer(s, dir)
        .select(
          col("c_custkey"),
          lpad(col("c_mktsegment"), 12, "*").as("seg_lpad"),
          rpad(col("c_mktsegment"), 12, "*").as("seg_rpad"),
          trim(concat(lit("  "), col("c_mktsegment"), lit("  "))).as("seg_trim"),
          regexp_replace(col("c_name"), "0", "#").as("name_repl"),
          reverse(col("c_mktsegment")).as("seg_rev"),
          instr(col("c_name"), "00").as("name_pos"),
          translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_trans"),
          element_at(split(col("c_name"), "#"), 2).as("name_num"))
        .orderBy("c_custkey")),

    // Math-function battery (IEEE-exact subset: no libm transcendentals,
    // whose last-ulp results vary across implementations).
    "a32_math_funcs" -> ((s, dir) =>
      T.lineitem(s, dir)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          sqrt(col("l_quantity")).as("qty_sqrt"),
          signum(col("l_discount") - 0.05).as("disc_sign"),
          (col("l_quantity") * col("l_quantity")).as("qty_sq"),
          pmod(col("l_linenumber"), lit(3)).as("ln_mod"),
          greatest(col("l_tax"), col("l_discount")).as("tax_max"),
          least(col("l_tax"), col("l_discount")).as("tax_min"),
          ceil(col("l_extendedprice")).as("price_ceil"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Date-function battery (cross-engine-identical subset; dayofweek is
    // excluded — Spark is 1=Sunday, DuckDB 0=Sunday).
    "a33_date_funcs" -> ((s, dir) =>
      T.orders(s, dir)
        .select(
          col("o_orderkey"),
          col("o_orderdate").cast("date").as("odate"),
          last_day(col("o_orderdate")).as("month_end"),
          quarter(col("o_orderdate")).as("oquarter"),
          dayofyear(col("o_orderdate")).as("oday_of_year"),
          date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
          date_trunc("month", col("o_orderdate")).cast("date").as("omonth_start"))
        .orderBy("o_orderkey")),

    // RANGE window frame: per customer, orders whose order date falls in
    // the 30 days up to the current row's date — a frame defined by the
    // ORDER VALUE, not row position (ties share one frame, so the result
    // is deterministic even with equal dates).
    "a34_window_range" -> ((s, dir) => {
      val days = datediff(col("o_orderdate"), lit("1992-01-01").cast("timestamp"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(days)
        .rangeBetween(-30, Window.currentRow)
      T.orders(s, dir)
        .withColumn("n_recent", count(lit(1)).over(w))
        .withColumn("recent_value", sum(Exact.dec(col("o_totalprice"))).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "n_recent", "recent_value")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Distribution window functions: quartile, percent_rank, cume_dist
    // over a TOTALLY ordered key (cents, orderkey) so ranks are
    // deterministic across engines.
    "a35_ntile_rank" -> ((s, dir) => {
      val cents = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
      val w = Window.partitionBy(col("o_orderstatus")).orderBy(cents, col("o_orderkey"))
      T.orders(s, dir)
        .select(
          col("o_orderkey"), col("o_orderstatus").as("status"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cum_dist"))
        .orderBy("o_orderkey")
    }),

    // Explicit GROUPING SETS with grouping_id: the general form rollup
    // and cube (a09/a27) are shorthands for. SQL interface on both
    // sides; NULLS FIRST pinned in the ORDER BY (Spark's asc default)
    // per the rollup oracle's convention.
    "a36_grouping_sets" -> ((s, dir) => {
      T.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
      s.sql("""
        SELECT l_returnflag AS rflag, l_linestatus AS lstatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY gid, rflag NULLS FIRST, lstatus NULLS FIRST""")
    }),

    // Spark 4 VARIANT type: parse the JSON props column once into a
    // variant and extract typed paths (missing paths → NULL, not error).
    // Only extracted primitives are emitted — the variant binary itself
    // is not a cross-engine-comparable surface.
    "a37_variant" -> ((s, dir) => {
      T.events(s, dir).createOrReplaceTempView("events_var")
      s.sql("""
        SELECT event_id,
               CAST(variant_get(parse_json(props), '$.k', 'int') AS INT) AS k_val,
               variant_get(parse_json(props), '$.missing', 'string') AS missing_val
        FROM events_var ORDER BY event_id""")
    }),

    // ANSI-mode-safe try_* arithmetic: overflow/band errors become NULL
    // instead of failing the job — the semantics a robust pipeline wants
    // under ANSI SQL mode.
    "a38_try_funcs" -> ((s, dir) =>
      T.lineitem(s, dir)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          expr("try_divide(l_extendedprice, l_discount)").as("price_per_disc"),
          expr("try_divide(l_quantity, 0)").as("div_zero"),
          expr("try_cast(l_returnflag AS DOUBLE)").as("bad_cast"),
          expr("try_add(l_quantity, l_tax)").as("qty_tax"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Batch sessionization (gaps-and-islands): a session breaks after a
    // 30-minute silence; session ids are a running sum of break flags.
    // Two windows + one partial-aggregatable groupBy, all shuffle-keyed
    // on user_id — the batch twin of st03's streaming session window.
    "a39_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val prev = lag(col("ts"), 1).over(w)
      graft.tables.Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("new_sess",
          when(prev.isNull || col("ts") > prev + expr("INTERVAL 30 MINUTES"), 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy("user_id", "session_seq")
    }),

    // Statistical aggregates from EXACT moment sums: Spark's native
    // var_samp/corr use a streaming one-pass algorithm whose float
    // accumulation is order-dependent (not oracle-able); routing the
    // raw moments through decimals makes Σx, Σx², Σxy exact, and the
    // closed-form estimators are then a handful of IEEE double ops —
    // bit-identical in both engines. (Exactness of Σx² in double holds
    // to ~sf1 here; beyond that widen the decimal scale.) Native
    // aggregates are cross-checked in QueryBoundsSpec.
    "a40_stats_agg" -> ((s, dir) => {
      val q = Exact.dec(col("l_quantity"))
      val p = Exact.dec(col("l_extendedprice"))
      // decimal→double via an integer-valued DECIMAL(38,0): when the
      // scaled sum exceeds 2^53 (Σprice² does even at sf0.001), a
      // direct decimal cast is one correctly-rounded conversion on the
      // JVM but int128→double→÷10^scale (two roundings) in DuckDB —
      // observed 1-ulp divergence. Scaling to an exact integer first
      // makes both engines do a single correctly-rounded int→double
      // conversion, and the ÷scale is one mirrored IEEE op.
      def d0(c: Column, scale: Long): Column =
        (c * lit(scale)).cast("decimal(38,0)").cast("double") / lit(scale.toDouble)
      T.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("rflag"))
        .agg(
          count(lit(1)).as("n"),
          d0(sum(q), 100L).as("sx"),
          d0(sum(q * q), 10000L).as("sxx"),
          d0(sum(p), 100L).as("sy"),
          d0(sum(p * p), 10000L).as("syy"),
          d0(sum(q * p), 10000L).as("sxy"))
        .select(
          col("rflag"), col("n"),
          (col("sx") / col("n")).as("mean_qty"),
          ((col("n") * col("sxx") - col("sx") * col("sx"))
            / (col("n") * (col("n") - 1))).as("var_qty"),
          sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            / (col("n") * (col("n") - 1))).as("std_qty"),
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
            .as("corr_qty_price"))
        .orderBy("rflag")
    }),

    // Approximate quantiles via a fixed-grid histogram sketch: bucket
    // to a 100-unit grid, one partial-aggregatable (group, bucket)
    // count, then the smallest bucket whose cumulative count reaches
    // ceil(q·n) — by construction the bucket CONTAINING the discrete
    // percentile (QueryBoundsSpec pins equality with
    // floor(percentile_disc/100)). This is the percentile scale path:
    // state is O(groups·buckets) — the grid width bounds it regardless
    // of row count (a 1-unit grid degenerated to ~per-value buckets
    // here: 150k window rows, 1.7 s; 100-unit ≈ 5.5k) — and merges by
    // addition, where exact percentiles need a full sort and
    // approx_percentile's t-digest internals are not SQL-expressible.
    "a41_quantile_hist" -> ((s, dir) => {
      val counts = T.orders(s, dir)
        .groupBy(col("o_orderstatus").as("status"),
          floor(col("o_totalprice") / 100).as("bucket"))
        .agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy(col("status")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy(col("status"))
      val cum = counts
        .withColumn("cum", sum(col("c")).over(wc))
        .withColumn("n", sum(col("c")).over(wt))
      def qBucket(q: Double, name: String) =
        cum.filter(col("cum") >= ceil(col("n") * q))
          .groupBy("status").agg(min(col("bucket")).as(name))
      qBucket(0.5, "p50_bucket").join(qBucket(0.9, "p90_bucket"), "status")
        .orderBy("status")
    }),

    // Analytic lag window: days since the customer's previous order.
    "a28_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      T.orders(s, dir)
        .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
        .select(
          col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), col("prev_date")).as("days_since_prev"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Unpivot (wide→long melt): measures become (name, value) rows.
    // Narrow, shuffle-free reshape — stays inside whole-stage codegen.
    "a45_unpivot" -> ((s, dir) =>
      T.lineitem(s, dir)
        .filter(col("l_orderkey") < 200)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure")),

    // Map-typed columns: construction, lambda filter, value transform,
    // lookup. Scalar projections only — no shuffle.
    "a46_map_funcs" -> ((s, dir) =>
      T.orders(s, dir)
        .filter(col("o_orderkey") < 2000)
        .withColumn("m", map(
          lit("base"), col("o_totalprice"),
          lit("disc"), col("o_totalprice") * 0.9))
        .withColumn("kept", map_filter(col("m"), (_, v) => v > 100000))
        .withColumn("hundredths", transform_values(col("m"), (_, v) => v / 100))
        .select(
          col("o_orderkey"),
          array_join(sort_array(map_keys(col("kept"))), ",").as("kept_keys"),
          element_at(col("hundredths"), "base").as("base_h"),
          element_at(col("hundredths"), "disc").as("disc_h"),
          size(col("m")).as("m_size"))
        .orderBy("o_orderkey")),

    // Range (inequality) join against a tiny bucket dimension: the dim is
    // broadcast, so the fact side streams through BroadcastNestedLoopJoin
    // with no shuffle — the right plan when the small side is O(10) rows.
    "a47_range_join" -> ((s, dir) => {
      import s.implicits._
      val buckets = Seq(
        (1, 0.0, 50000.0), (2, 50000.0, 150000.0),
        (3, 150000.0, 300000.0), (4, 300000.0, 1000000000.0))
        .toDF("bucket_id", "lo", "hi")
      T.orders(s, dir)
        .join(broadcast(buckets),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("bucket_id")
        .agg(count(lit(1)).as("n_orders"), Exact.dsum(col("o_totalprice")).as("total"))
        .orderBy("bucket_id")
    }),

    // Positional explode (LATERAL VIEW posexplode): word + 0-based index.
    // Generator runs inside the scan stage; no shuffle.
    "a48_posexplode" -> ((s, dir) =>
      T.documents(s, dir)
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .filter(col("pos") < 5)
        .select(col("doc_id"), col("pos"), col("col").as("word"))
        .orderBy("doc_id", "pos")),

    // Conditional aggregation battery: count_if / bool_and / bool_or /
    // filtered sum — one partial-aggregatable groupBy.
    "a49_filter_agg" -> ((s, dir) =>
      T.orders(s, dir)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(
          count_if(col("o_totalprice") > 200000).as("n_big"),
          bool_and(col("o_totalprice") > 0).as("all_pos"),
          bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
          sum(when(col("o_orderpriority") === "1-URGENT", Exact.dec(col("o_totalprice"))))
            .cast("double").as("urgent_total"))
        .orderBy("status")),

    // Regexp battery: count / extract / replace-all / masking. Scan-side
    // projections, codegen'd. (Vowel patterns: the synthetic corpus has
    // no digits or punctuation, so digit regexes would match nothing.)
    "a50_regexp_battery" -> ((s, dir) =>
      T.documents(s, dir)
        .filter(col("doc_id") < 500)
        .select(
          col("doc_id"),
          regexp_count(col("text"), lit("[aeiou]+")).as("n_vowelruns"),
          regexp_extract(col("text"), "(^| )(s[a-z]+)", 2).as("first_sword"),
          length(regexp_replace(col("text"), "[aeiou]", "")).as("len_novowels"),
          substring(regexp_replace(col("text"), "[aeiou]", "#"), 1, 40).as("masked40"))
        .orderBy("doc_id")),

    // Outer generator: explode_outer keeps rows whose array is empty
    // (NULL element) — the LEFT-JOIN-shaped lateral view. The "wi"
    // prefix filter leaves most docs with an empty match list, so the
    // outer semantics are actually exercised.
    "a51_explode_outer" -> ((s, dir) =>
      T.documents(s, dir)
        .filter(col("doc_id") < 300)
        .withColumn("hits", filter(split(col("text"), " "), w => w.startsWith("wi")))
        .select(col("doc_id"), explode_outer(col("hits")).as("hit"))
        .orderBy("doc_id", "hit")),

    // IGNORE NULLS analytic windows: previous / most-recent non-null
    // value of a sparse column — the gap-filling (LOCF) primitive.
    "a52_window_ignore_nulls" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      T.orders(s, dir)
        .withColumn("f_price",
          when(col("o_orderstatus") === "F", col("o_totalprice")))
        .select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("f_price"), 1, null, ignoreNulls = true).over(w).as("prev_f_price"),
          last(col("f_price"), ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("latest_f_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Timestamp battery: epoch seconds, time parts, constructor,
    // second-truncation roundtrip. Scan-side projections.
    "a53_timestamp_funcs" -> ((s, dir) =>
      T.events(s, dir)
        .filter(col("event_id") < 2000)
        .select(
          col("event_id"),
          unix_timestamp(col("ts")).as("epoch_s"),
          hour(col("ts")).as("h"),
          minute(col("ts")).as("mi"),
          second(col("ts")).as("sec"),
          make_date(year(col("ts")), month(col("ts")), dayofmonth(col("ts"))).as("d"),
          timestamp_seconds(unix_timestamp(col("ts"))).as("ts_sec"))
        .orderBy("event_id")),

    // Array set-operation battery: union / intersect / except /
    // position / overlap. Results sorted + joined so bag order can't
    // leak into the compare.
    "a54_array_setops" -> ((s, dir) => {
      val ws = split(col("text"), " ")
      val w1 = slice(ws, 1, 8)
      val w2 = slice(ws, 5, 8)
      T.documents(s, dir)
        .filter(col("doc_id") < 500 && size(ws) >= 12)
        .select(
          col("doc_id"),
          array_join(array_sort(array_union(w1, w2)), "|").as("u"),
          array_join(array_sort(array_intersect(w1, w2)), "|").as("i"),
          array_join(array_sort(array_except(w1, w2)), "|").as("e"),
          array_position(w1, element_at(w2, 1)).as("pos1"),
          arrays_overlap(w1, w2).as("ovl"))
        .orderBy("doc_id")
    }),

    // Ordered conversion funnel over the event stream: per user, first
    // signup, first click strictly AFTER it, first purchase strictly
    // after that — the sequential product-analytics query. Three window
    // aggregates share ONE user_id exchange (same partitioning; each
    // step's window reads the previous step's materialized column);
    // per-user rows are bounded, the final rollup is a 1-row global
    // aggregate unpivoted to (step, event_type, users).
    "a55_funnel" -> ((s, dir) =>
      funnelTimes(T.events(s, dir), "signup", "click", "purchase")
        .agg(count(col("t1")).as("u1"), count(col("t2")).as("u2"),
          count(col("t3")).as("u3"))
        .selectExpr("stack(3, 1, 'signup', u1, 2, 'click', u2, " +
          "3, 'purchase', u3) AS (step, event_type, users)")
        .orderBy("step")),

    // Market-basket affinity over order baskets: part pairs co-ordered
    // in the same order with support ≥ 3 and their lift — the
    // recommendation/affinity query class. Pair generation is keyed on
    // the ORDER, so pair volume is ≤ k²/2 per order — linear in orders
    // for bounded baskets, never a part×part cartesian — and the bound
    // is ENFORCED scan-side ([[MaxBasketSize]]): a pathological
    // mega-order raises at first action instead of emitting k²/2 pairs
    // inside one task (the MaxCodebookEntries/1 M-edge-CC guard
    // discipline). Per-part supports are a parts-cardinality aggregate
    // joined on the part key (shuffled — parts is NOT a bounded
    // dimension; AQE may still elect broadcast when it measures small),
    // the order count a 1-row broadcast. lift = n_ab·N/(n_a·n_b):
    // exact integers in, one correctly rounded double division out —
    // engine-exact.
    "a56_basket_affinity" -> ((s, dir) => {
      // ONE corpus shuffle: baskets materialize per order (collect_set
      // dedups within the order), then pairs generate SCAN-SIDE from
      // the sorted array (posexplode × tail-slice explode — p1 < p2 by
      // construction) — no self-join, no distinct pass. A/B vs the
      // li⋈li formulation: flat at sf0.1 (2.7 s cold both ways — the
      // single-row-group local files make every variant scan-bound)
      // but two fewer corpus exchanges, which is what scales.
      val baskets = graft.Caches.persistOnce(
        fencedBaskets(T.lineitem(s, dir)))
      val nOrders = broadcast(baskets.agg(count(lit(1)).as("n_orders")))
      // persistOnce (r17): joined on both pair sides below, and the
      // canonical plan matches a62's support — one cache entry serves
      // both queries. Part-cardinality bounded.
      val support = graft.Caches.persistOnce(
        baskets.select(explode(col("parts")).as("pk"))
          .groupBy("pk").agg(count(lit(1)).as("n_p")))
      val pairs = baskets
        .select(col("parts"), posexplode(col("parts")).as(Seq("i", "p1")))
        .select(col("p1"),
          explode(slice(col("parts"), col("i") + lit(2), size(col("parts"))))
            .as("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      pairs
        .join(support.select(col("pk").as("p1"), col("n_p").as("n_a")), "p1")
        .join(support.select(col("pk").as("p2"), col("n_p").as("n_b")), "p2")
        .crossJoin(nOrders)
        .withColumn("lift",
          col("n_ab").cast("double") * col("n_orders") / (col("n_a") * col("n_b")))
        .select("p1", "p2", "n_ab", "n_a", "n_b", "lift")
        .orderBy("p1", "p2")
    }),

    // Cohort retention matrix: users grouped by first-activity week,
    // counted per week-offset of later activity — the product-
    // analytics retention triangle. Weeks align on Monday in both
    // engines (date_trunc 'week'); the offset is a day-difference of
    // week-truncated stamps divided by 7 — exact integers. One
    // (user, week) distinct shuffle, a per-user min, and a tiny
    // partial-agg rollup.
    // Rolling 7-day distinct active users per observed day — the DAU/
    // WAU product-analytics staple. Sliding DISTINCT windows don't
    // partial-aggregate (a window frame over per-day sets would
    // re-merge sets per row), so the scale form is CONTRIBUTION
    // explode: each distinct (user, day) contributes to the ≤7 report
    // days it falls in (a bounded 7× scan-side expansion — no window,
    // no per-day set state), then one countDistinct shuffle keyed on
    // the report day. Report days restricted to days present in the
    // data (semi join against the observed-day spine).
    "a58_rolling_active" -> ((s, dir) => {
      val ud = T.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .distinct()
      val days = ud.select(col("d").as("day")).distinct()
      val contrib = ud
        .select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("o"), col("d"))
        .select(col("user_id"), expr("date_add(d, o)").as("day"))
      contrib.join(days, Seq("day"), "left_semi")
        .groupBy("day")
        .agg(countDistinct(col("user_id")).as("active_7d"))
        .orderBy("day")
    }),

    // Last-touch marketing attribution: each purchase credits the
    // user's most recent preceding touch (click/view/signup — error
    // events never attribute) within a 7-day lookback; purchases with
    // no in-window touch land in the '(none)' bucket. ONE user_id
    // exchange feeds a single ordered window; ts carries microseconds
    // and event_id breaks exact ties (the st14 discipline), and the
    // two IGNORE NULLS last_values share one null pattern so they pick
    // the same touch row. Revenue routes through DECIMAL(12,2)
    // (Exact.dsum) for bit-identical cross-engine totals.
    // 100 TB: windows partition on user_id — no global sort; the
    // rollup is a channel-cardinality partial agg.
    "a59_last_touch" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val isTouch = col("event_type").isin("click", "view", "signup")
      T.events(s, dir)
        .withColumn("t_ts", last(when(isTouch, col("ts")), ignoreNulls = true).over(w))
        .withColumn("t_ty", last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("channel",
          when(col("t_ts").isNotNull &&
               col("t_ts") >= col("ts") - expr("INTERVAL 7 DAYS"), col("t_ty"))
            .otherwise(lit("(none)")))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          Exact.dsum(col("value")).as("revenue"))
        .orderBy("channel")
    }),

    // Triadic product bundles: per-part exact triangle counts over the
    // REPEAT co-order graph (parts linked when co-ordered in ≥ 2
    // orders — single co-occurrence is noise on basket data) — the
    // graph-analytics companion to a56's pairwise affinity (a triangle
    // = three parts that pairwise repeat-co-occur, the bundle signal
    // pair support can't see). Edges are the session-memoized
    // [[repeatEdges]] frame (one build + persist shared with a61;
    // sorted basket arrays ⇒ p1 < p2 scan-side, never a lineitem
    // self-join); the count runs the degree-oriented node-iterator
    // ([[graft.operators.Graph.triangleCounts]]) so wedge volume is
    // O(m^1.5)-bounded even under hub parts. The support-1
    // co-occurrence graph (1.2 M edges / 41 M wedges at sf0.1) is a
    // stress case, not a per-query workload.
    "a60_basket_triangles" -> ((s, dir) =>
      graft.operators.Graph.triangleCounts(repeatEdges(s, dir), "p1", "p2")
        .withColumnRenamed("v", "part")
        .orderBy("part")),

    // Degree-distribution profile of the repeat co-order graph — the
    // graph ANALYZE that decides whether a60's node-iterator needs
    // skew handling (x79's philosophy applied to graph degrees):
    // nodes per integer-log2 degree bucket with the bucket's exact
    // min/max degree. log2 via length(bin(d)) — the x79 no-libm
    // idiom; everything else is integer counts. Edges are the
    // session-memoized [[repeatEdges]] frame shared with a60, so this
    // costs a node-cardinality agg + a ≤64-bucket rollup over the
    // persisted edges, not a basket re-aggregation.
    "a61_degree_profile" -> ((s, dir) => {
      repeatEdges(s, dir).select(explode(array(col("p1"), col("p2"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .groupBy(length(bin(col("d"))).cast("int").as("log2_bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("d")).as("min_d"), max(col("d")).as("max_d"))
        .orderBy("log2_bucket")
    }),

    // Item-item similarity ("customers also bought"): per part, the
    // top-3 most similar parts by co-order JACCARD over the repeat
    // graph — n_ab / (n_a + n_b − n_ab), the set-overlap normalization
    // pair support and lift both miss (a hub part co-occurs with
    // everything; Jaccard discounts it by its own basket count). One
    // exact-operand IEEE division — integers in, one correctly-rounded
    // op out, bit-identical cross-engine with no grid needed. Edges are
    // the session-memoized [[repeatEdges]] frame (third consumer);
    // per-part top-3 is the row_number window the TopKPerKey rewrite
    // lowers to the bounded-heap exec — no full per-part sort.
    // 100 TB: two part-keyed equi-joins against the basket-count table
    // (a vocabulary-sized side — shuffled, never broadcast: the a56
    // lesson) + the top-k exchange on the part key.
    "a62_item_similarity" -> ((s, dir) => {
      // Per-part support off the SHARED cached baskets frame (r17):
      // exploding the per-order collect_set yields exactly the distinct
      // (order, part) pairs, so this equals the old
      // lineitem.distinct().groupBy(pk) — without a second corpus scan
      // + distinct exchange per run, and the subtree canonicalizes to
      // a56's support (one cache entry serves both).
      // persistOnce on the rollup too: the support joins BOTH sides of
      // the directed-edge frame, and AQE does not reuse the two arms'
      // identical exchanges (measured: both map sides ran per run).
      // Part-cardinality bounded — dimension-sized pinned bytes.
      // Inherited fence: fencedBaskets raise_error()s on any order with
      // more than MaxBasketSize distinct parts, so a62 fails on such
      // input although support itself needs no fence — the price of
      // sharing a56's cached baskets (repeatEdges reads the same
      // fenced frame).
      val sup = graft.Caches.persistOnce(
        graft.Caches.persistOnce(fencedBaskets(T.lineitem(s, dir)))
          .select(explode(col("parts")).as("pk"))
          .groupBy("pk").agg(count(lit(1)).as("n_p")))
      val e = repeatEdges(s, dir)
      val dir2 = e.select(col("p1").as("part"), col("p2").as("sim_part"), col("n_ab"))
        .union(e.select(col("p2").as("part"), col("p1").as("sim_part"), col("n_ab")))
      val w = Window.partitionBy("part")
        .orderBy(col("jaccard").desc, col("sim_part"))
      dir2
        .join(sup.select(col("pk").as("part"), col("n_p").as("n_a")), "part")
        .join(sup.select(col("pk").as("sim_part"), col("n_p").as("n_b")), "sim_part")
        .withColumn("jaccard", col("n_ab").cast("double") /
          (col("n_a") + col("n_b") - col("n_ab")).cast("double"))
        .withColumn("sim_rank", row_number().over(w))
        .filter(col("sim_rank") <= 3)
        .select("part", "sim_part", "n_ab", "n_a", "n_b", "jaccard", "sim_rank")
        .orderBy("part", "sim_rank")
    }),

    // Snapshot diff — the table-regression tool every data platform
    // ships ("what changed between yesterday's build and today's"):
    // two overlapping order snapshots full-outer-joined on the key,
    // rows classified added / removed / changed / unchanged, plus
    // per-column change counts for the both-present rows. The B
    // snapshot applies a deterministic +1.00 price update to open
    // orders so 'changed' is exercised (addition is exact in double
    // far below 2^53 — no libm, no rounding).
    // 100 TB: ONE key-keyed full outer join (snapshots co-partition on
    // the key; bucketed tables make it exchange-free); classification
    // and per-column flags are scan-side; counts partial-aggregate.
    "a64_snapshot_diff" -> ((s, dir) => {
      val o = T.orders(s, dir)
      def snap(from: String, to: String) = o
        .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
                col("o_orderdate") < lit(to).cast("timestamp"))
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"), col("o_orderpriority").as("prio"))
      val a = snap("1995-01-01", "1997-07-01")
      val b = snap("1996-01-01", "1998-07-01")
        .withColumn("price",
          when(col("status") === "O", col("price") + lit(1.0))
            .otherwise(col("price")))
      val j = a.select(col("k"), col("status").as("s_a"),
          col("price").as("p_a"), col("prio").as("r_a"))
        .join(b.select(col("k"), col("status").as("s_b"),
          col("price").as("p_b"), col("prio").as("r_b")), Seq("k"), "full_outer")
      // status/price/prio are non-null in the data, so side-absence is
      // one column's nullness
      val classified = j.withColumn("change_type",
        when(col("s_a").isNull, lit("added"))
          .when(col("s_b").isNull, lit("removed"))
          .when(col("s_a") =!= col("s_b") || col("p_a") =!= col("p_b") ||
                col("r_a") =!= col("r_b"), lit("changed"))
          .otherwise(lit("unchanged")))
      val summary = classified.groupBy("change_type")
        .agg(count(lit(1)).as("n"))
      val perCol = classified
        .filter(col("change_type") === "changed")
        .select(explode(array(
          when(col("s_a") =!= col("s_b"), lit("col:status")),
          when(col("p_a") =!= col("p_b"), lit("col:price")),
          when(col("r_a") =!= col("r_b"), lit("col:prio")))).as("change_type"))
        .filter(col("change_type").isNotNull)
        .groupBy("change_type").agg(count(lit(1)).as("n"))
      summary.unionByName(perCol).orderBy("change_type")
    }),

    // Bounded-round community view of the repeat co-order graph:
    // 3 rounds of synchronous min-label propagation
    // ([[graft.operators.Graph.minLabelPropagation]] — the
    // fully-distributed companion to the 1 M-edge-fenced driver
    // union-find), reported as the community-size histogram. Fixed
    // rounds keep the unrolled DuckDB replay finite (the pageRank/x91
    // discipline); labels after k rounds = per-node minimum id within
    // k hops, deterministic integer math throughout.
    "a63_part_communities" -> ((s, dir) =>
      graft.operators.Graph
        .minLabelPropagation(repeatEdges(s, dir), "p1", "p2", rounds = 3)
        .groupBy("lbl").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("community_size"))
        .agg(count(lit(1)).as("n_communities"))
        .orderBy("community_size")),

    "a57_retention_cohorts" -> ((s, dir) => {
      val weeks = graft.Caches.persistOnce(
        T.events(s, dir)
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .distinct())
      val cohort = weeks.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      weeks.join(cohort, "user_id")
        .withColumn("week_offset",
          (datediff(col("wk"), col("cohort_wk")) / lit(7)).cast("int"))
        .groupBy("cohort_wk", "week_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_wk", "week_offset")
    }),

    // SCD2 interval build — the lakehouse dimension-history op: collapse
    // a per-entity observation stream (customer's order priority over
    // order dates, tiebreak on the unique order key) into
    // slowly-changing-dimension rows with [valid_from, valid_to)
    // validity and an open-ended current row. Change detection is
    // lag-vs-current per entity, run ids are a running sum of change
    // flags, intervals close with lead over the run starts.
    // 100 TB: ONE hash exchange on the entity key — the change window,
    // the run aggregate (grouping on a superset of the partition key),
    // and the interval-closing window all reuse the same partitioning,
    // so Catalyst plans exactly one Exchange (Round10PlanSpec pins it).
    "a65_scd2_intervals" -> ((s, dir) => {
      val w = Window.partitionBy("ck").orderBy(col("ts"), col("seq"))
      val obs = T.orders(s, dir).select(
        col("o_custkey").as("ck"), col("o_orderdate").as("ts"),
        col("o_orderkey").as("seq"), col("o_orderpriority").as("attr"))
      val runs = obs
        .withColumn("chg",
          when(lag(col("attr"), 1).over(w).isNull ||
               lag(col("attr"), 1).over(w) =!= col("attr"), 1L)
            .otherwise(0L))
        .withColumn("version", sum(col("chg")).over(w))
      val iv = runs.groupBy(col("ck"), col("version"))
        .agg(min(col("attr")).as("attr"), min(col("ts")).as("valid_from"),
          count(lit(1)).as("n_obs"))
      val w2 = Window.partitionBy("ck").orderBy("version")
      iv.withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
        .withColumn("is_current", col("valid_to").isNull)
        .select("ck", "version", "attr", "valid_from", "valid_to",
          "n_obs", "is_current")
        .orderBy("ck", "version")
    }),

    // Event transition matrix (the product-analytics Markov/"sankey"
    // view): consecutive event-type pairs per user in (ts, event_id)
    // order, counted and normalized to per-source transition
    // probabilities. p is one IEEE division of two exact longs — the
    // a62 no-grid discipline.
    // 100 TB: one user_id exchange for the lead window, then the pair
    // domain collapses to |types|² rows — the probability window runs
    // over that compressed domain, never corpus rows.
    "a66_event_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tr = T.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      tr.withColumn("p",
          col("n") / sum(col("n")).over(Window.partitionBy("from_type")))
        .orderBy("from_type", "to_type")
    }),

    // Changelog compaction — the third leg of the lakehouse-maintenance
    // trio (a64 diffs two snapshots, a65 keeps history, THIS materializes
    // current state from a change stream with delete semantics): the
    // event stream read as a keyed changelog (user_id = key; 'error'
    // events are tombstones/deletes, everything else upserts), compacted
    // to one row per surviving key — last-writer-wins in (ts, event_id)
    // order, keys whose final op is a tombstone absent from the output.
    // This is Kafka log compaction / Debezium-to-table materialization /
    // the MERGE INTO apply step, as one relational pass.
    // 100 TB: ONE hash exchange on the key — the last-op window and the
    // per-key op count share the same partitioning (Round10bPlanSpec
    // pins the single Exchange); output is key-cardinality.
    "a67_changelog_compact" -> ((s, dir) => {
      val wDesc = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val wAll = Window.partitionBy("user_id")
      T.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
            .as("op"),
          col("value"))
        .withColumn("rn", row_number().over(wDesc))
        .withColumn("n_ops", count(lit(1)).over(wAll))
        .filter(col("rn") === 1 && col("op") === "U")
        .select(col("user_id"), col("value").as("last_value"),
          col("ts").as("last_ts"), col("n_ops"))
        .orderBy("user_id")
    }),

    // Attribution-model comparison (the report marketers actually read —
    // how much the attribution CHOICE swings each channel): per channel,
    // purchases + exact DECIMAL revenue under first-touch, last-touch,
    // and any-touch (participation) credit over the same 7-day lookback.
    // No fractional credit division anywhere — three count/sum reports,
    // bit-exact cross-engine (a59 generalized from one model to the
    // model-comparison matrix). Window membership is purely range-based
    // ([pts−7d, pts) on microsecond timestamps) so no ordering tiebreak
    // can affect WHICH touches qualify; first/last INSIDE the window
    // break exact-timestamp ties on event_id (the st14 discipline).
    // 100 TB: purchases and touches co-shuffle once on user_id (the
    // interval join), per-purchase windows ride one event_id exchange,
    // and the three reports are channel-cardinality partial aggs.
    // Expansion is touches-per-user-week — the natural product-analytics
    // bound (same shape as a58's bounded 7× explode).
    "a68_attribution_compare" -> ((s, dir) => {
      val ev = T.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"),
          col("event_id").as("pid"), col("value"))
      val touches = ev
        .filter(col("event_type").isin("click", "view", "signup"))
        .select(col("user_id"), col("ts").as("tts"),
          col("event_id").as("tid"), col("event_type").as("ch"))
      val pj = purchases.join(touches,
        purchases("user_id") === touches("user_id") &&
          col("tts") < col("pts") &&
          col("tts") >= col("pts") - expr("INTERVAL 7 DAYS"),
        "left")
        .select(col("pid"), col("value"), col("tts"), col("tid"), col("ch"))
      val wAsc = Window.partitionBy("pid").orderBy(col("tts").asc_nulls_last,
        col("tid").asc_nulls_last)
      val wDesc = Window.partitionBy("pid").orderBy(col("tts").desc_nulls_last,
        col("tid").desc_nulls_last)
      val ranked = pj
        .withColumn("rn_f", row_number().over(wAsc))
        .withColumn("rn_l", row_number().over(wDesc))
      def rep(flag: Column, nName: String, revName: String) = ranked
        .filter(flag)
        .groupBy(coalesce(col("ch"), lit("(none)")).as("channel"))
        .agg(count(lit(1)).as(nName), Exact.dsum(col("value")).as(revName))
      val firstRep = rep(col("rn_f") === 1, "n_first", "rev_first")
      val lastRep = rep(col("rn_l") === 1, "n_last", "rev_last")
      val touchedRep = ranked
        .select(col("pid"), col("value"),
          coalesce(col("ch"), lit("(none)")).as("channel"))
        .distinct()
        .groupBy("channel")
        .agg(count(lit(1)).as("n_touched"),
          Exact.dsum(col("value")).as("rev_touched"))
      firstRep
        .join(lastRep, Seq("channel"), "full_outer")
        .join(touchedRep, Seq("channel"), "full_outer")
        .select(col("channel"),
          coalesce(col("n_first"), lit(0L)).as("n_first"),
          coalesce(col("rev_first"), lit(0.0)).as("rev_first"),
          coalesce(col("n_last"), lit(0L)).as("n_last"),
          coalesce(col("rev_last"), lit(0.0)).as("rev_last"),
          coalesce(col("n_touched"), lit(0L)).as("n_touched"),
          coalesce(col("rev_touched"), lit(0.0)).as("rev_touched"))
        .orderBy("channel")
    }),

    // Bounded-round k-core peeling of the repeat co-order graph
    // ([[graft.operators.Graph.kCorePeel]]): per round, nodes with
    // degree < 3 drop with their incident edges; the per-round survivor
    // curve (n_nodes, n_edges) is the graph's core-structure profile —
    // the companion to a61's degree histogram (how DENSE the center is,
    // not just how skewed the tails are). Fourth consumer of the
    // session-memoized [[repeatEdges]] frame; fixed rounds keep the
    // unrolled DuckDB replay finite (the a63 discipline).
    "a69_kcore_peel" -> ((s, dir) =>
      graft.operators.Graph
        .kCorePeel(repeatEdges(s, dir), "p1", "p2", k = 3, rounds = 3)
        .orderBy("round")),

    // Rolling 7-day actives via KMV sketch union — a58's 100 TB
    // answer (the x78→x78b move applied to sliding DISTINCT): the
    // exact form ships one row per (user, day, offset) into the
    // countDistinct shuffle — 7× the distinct-activity volume — while
    // this reduces each day to a ≤k-long bottom-k sketch FIRST (one
    // partial-aggregatable (day, hash) distinct at daily volume), then
    // merges the ≤7 trailing sketches per report day: the merge
    // explode is CALENDAR-sized (days × 7 sketches of ≤k longs),
    // independent of user volume. Bottom-k is a semilattice — the
    // merge of daily bottom-ks IS the 7-day union's bottom-k — so the
    // oracle recomputes each window's sketch from scratch and matches
    // bit-for-bit. Exact below k=256 distinct actives; ≈6 % rsd above
    // (QueryBoundsSpec-class error, pinned in Round10cOpsSpec).
    "a70_rolling_active_kmv" -> ((s, dir) => {
      import graft.operators.Sketches
      val ud = T.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
      // daily feeds BOTH the day spine and the ×7 contribution explode,
      // which meet in the semi-join below — persist so the sketch build
      // (corpus distinct + per-day bottom-k) materializes once instead
      // of riding two plan branches (the a57 persistOnce discipline)
      val daily = graft.Caches.persistOnce(
        Sketches.kmvSketch(ud, Seq("d"), col("user_id")))
      val days = daily.select(col("d").as("day"))
      val contrib = daily
        .select(col("sketch"), explode(sequence(lit(0), lit(6))).as("o"),
          col("d"))
        .select(expr("date_add(d, o)").as("day"), col("sketch"))
      contrib.join(days, Seq("day"), "left_semi")
        .groupBy("day")
        .agg(Sketches.kmvMergeSketches(collect_list(col("sketch"))).as("sk"))
        .select(col("day"), Sketches.kmvEstimate(col("sk")).as("active_7d_kmv"))
        .orderBy("day")
    }),

    // Two-proportion experiment readout (the product-analytics A/B
    // test): users deterministically hash-split into two arms (murmur3
    // low bit — x24's split discipline: reproducible from the data,
    // join-stable), conversion = purchased within 1 day of the user's
    // FIRST event (any-purchase-ever saturates to rate 1.0 on long
    // event histories — zero pooled variance), and the z² statistic
    // `(p_a−p_b)² / (p̂(1−p̂)(1/n_a+1/n_b))` on the pooled rate. z²
    // ranks identically to |z| so the readout is sqrt-free (no libm);
    // every input is an exact long count and the divide/multiply tree
    // is one fixed IEEE shape the oracle repeats verbatim (the a66
    // forced-double discipline); a degenerate pooled rate (0 or 1)
    // reports z²=0 via a CASE guard instead of an ANSI
    // divide-by-zero.
    // 100 TB: ONE user_id exchange shared by the first-event window
    // and the per-user rollup (identical partitioning), then a 2-row
    // arm rollup collapsed to a single stats row — nothing else
    // shuffles, nothing is user-cardinality on the driver.
    "a71_ab_test" -> ((s, dir) => abTest(T.events(s, dir))),

    // Markov removal-effect attribution over the full event-type
    // domain: purchase absorbing, 6-step horizon. See
    // [[markovRemovalEffect]] for the model and determinism contract.
    "a72_markov_attribution" -> ((s, dir) =>
      markovRemovalEffect(T.events(s, dir), MarkovStates, "purchase",
        horizon = 6)),

    // Rolling z-score anomaly detection: each event scored against its
    // user's trailing-8 window, grid-exact cross-multiplied z² > 3²
    // test (no division, no sqrt, DECIMAL past 2⁶³). See
    // [[rollingAnomaly]].
    "a73_anomaly_zscore" -> ((s, dir) => rollingAnomaly(T.events(s, dir))),

    // Distribution-drift readout: per-type Pearson chi-square terms
    // between the two halves of the time range — exact integer
    // midpoint split, DECIMAL/HUGEINT contingency products, one IEEE
    // division. See [[distDrift]].
    "a74_dist_drift" -> ((s, dir) => distDrift(T.events(s, dir))),

    // Top user journeys: first-5-event path strings + per-path
    // conversion — the beyond-first-order companion to a66/a72. See
    // [[topPaths]].
    "a75_top_paths" -> ((s, dir) => topPaths(T.events(s, dir))),

    // Activity concentration: per-type Gini over per-user event counts
    // — rational rank formula, integer 2⁻²⁰-grid output, no libm. See
    // [[activityGini]].
    "a76_activity_gini" -> ((s, dir) => activityGini(T.events(s, dir))),

    // Inter-arrival time quantiles at sketch cost — the engagement-
    // cadence readout (how often does a user who clicks click again):
    // per (user, type), consecutive-event gaps from ONE lag window;
    // per type, the p50/p90/p99 gap from the x109 mergeable quantile
    // sketch instead of a full per-type value sort — the sketch
    // family's fourth application (x109 lengths, x113 fences, x114
    // drift, now durations). The gaps frame is persisted once for the
    // sketch and the exact count; integer microseconds end to end.
    // 100 TB: one (user, type) exchange for the lag window; the sketch
    // is the typed partial+final aggregate (≤ k triples per type per
    // map task on the wire — the round-12 kmvSketch shape).
    "a77_interarrival_quantiles" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val gaps = graft.Caches.persistOnce(T.events(s, dir)
        .select(col("event_type"), col("event_id"),
          (unix_micros(col("ts")) -
            lag(unix_micros(col("ts")), 1).over(w)).as("gap"))
        .filter(col("gap").isNotNull))
      val sk = graft.operators.Sketches.quantileSketch(gaps,
        Seq("event_type"), col("gap"), col("event_id"))
      val counts = gaps.groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"))
      import graft.operators.Sketches.{quantileEstimate, quantileSampleSize}
      sk.join(counts, "event_type")
        .select(col("event_type"), col("n_gaps"),
          quantileSampleSize(col("qsketch")).as("sample_n"),
          quantileEstimate(col("qsketch"), 50).as("p50_us"),
          quantileEstimate(col("qsketch"), 90).as("p90_us"),
          quantileEstimate(col("qsketch"), 99).as("p99_us"))
        .orderBy("event_type")
    }),

    // Funnel latency quantiles — a55 counts WHO converts; this prices
    // HOW LONG each hop takes (p50/p90 signup→click and
    // click→purchase), the stage-latency readout that decides where
    // the funnel leaks. Per-user stage times come from the shared
    // funnelTimes windows (persisted once — one user_id exchange);
    // the hop-duration distribution is the mergeable quantile
    // sketch's fifth application, never a per-stage value sort.
    // Integer microseconds end to end.
    "a78_funnel_latency_quantiles" -> ((s, dir) => {
      val ft = graft.Caches.persistOnce(
        funnelTimes(T.events(s, dir), "signup", "click", "purchase"))
      val d12 = ft.filter(col("t2").isNotNull)
        .select(lit("1_signup_to_click").as("stage"), col("user_id"),
          (unix_micros(col("t2")) - unix_micros(col("t1"))).as("gap"))
      val d23 = ft.filter(col("t3").isNotNull)
        .select(lit("2_click_to_purchase").as("stage"), col("user_id"),
          (unix_micros(col("t3")) - unix_micros(col("t2"))).as("gap"))
      val gaps = d12.unionByName(d23)
      val sk = graft.operators.Sketches.quantileSketch(gaps, Seq("stage"),
        col("gap"), col("user_id"))
      val counts = gaps.groupBy("stage").agg(count(lit(1)).as("n_conv"))
      import graft.operators.Sketches.{quantileEstimate, quantileSampleSize}
      sk.join(counts, "stage")
        .select(col("stage"), col("n_conv"),
          quantileSampleSize(col("qsketch")).as("sample_n"),
          quantileEstimate(col("qsketch"), 50).as("p50_us"),
          quantileEstimate(col("qsketch"), 90).as("p90_us"))
        .orderBy("stage")
    }),

    // RFM segmentation — the product-analytics customer-value grid:
    // per customer recency (days since last order), frequency (order
    // count), monetary (exact cents); tertile edges for all three
    // dimensions come from ONE bottom-k hash-rank sample (the
    // mergeable quantile sketch's sixth application — membership is
    // (h, custkey)-ranked, so the SAME sampled customers provide all
    // three edge sets and the oracle replays one rank), then one
    // broadcast of the 6 scalars onto the customer frame buckets every
    // customer into the 3×3×3 grid. Integer end to end (cents via the
    // MoneyStatsAgg floor(x·100+0.5) convention).
    // 100 TB: one custkey exchange builds the customer rollup (cached
    // for the sketch arms and the bucket pass); the sketch arms are
    // partial+final typed aggregates (≤ k triples each); the grid
    // rollup is a 27-cell aggregate.
    "a79_rfm_segments" -> ((s, dir) => {
      import graft.operators.Sketches
      val o = T.orders(s, dir)
      val bounds = o.agg(max(col("o_orderdate")).as("dmax"))
      val cust = graft.Caches.persistOnce(
        o.groupBy(col("o_custkey").as("ck"))
          .agg(max(col("o_orderdate")).as("last_d"),
            count(lit(1)).as("f"),
            sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("bigint"))
              .as("m"))
          .crossJoin(broadcast(bounds))
          .select(col("ck"),
            datediff(to_date(col("dmax")), to_date(col("last_d")))
              .cast("bigint").as("r_days"),
            col("f"), col("m")))
      def edges(v: String) = {
        val sk = Sketches.quantileSketch(
          cust.withColumn("g", lit(1)), Seq("g"), col(v), col("ck"))
        sk.select(
          Sketches.quantileEstimate(col("qsketch"), 33).as(s"${v}_e1"),
          Sketches.quantileEstimate(col("qsketch"), 67).as(s"${v}_e2"))
      }
      val e = broadcast(edges("r_days").crossJoin(edges("f"))
        .crossJoin(edges("m")))
      def bucket(v: String) =
        when(col(v) <= col(s"${v}_e1"), 0)
          .when(col(v) <= col(s"${v}_e2"), 1).otherwise(2).cast("int")
      cust.crossJoin(e)
        .select(bucket("r_days").as("r_b"), bucket("f").as("f_b"),
          bucket("m").as("m_b"), col("f"), col("m"))
        .groupBy("r_b", "f_b", "m_b")
        .agg(count(lit(1)).as("n_cust"), sum(col("f")).as("orders_total"),
          sum(col("m")).as("m_total_cents"))
        .orderBy("r_b", "f_b", "m_b")
    }),

    // CUSUM changepoint over the per-type daily count series — the
    // drift-WHEN companion to a74 (which asks IF the distribution
    // moved): the one-sided CUSUM S_t = max(0, S_{t-1} + (x_t − k))
    // with drift allowance k = the type's mean daily count, evaluated
    // in closed form S_t = P_t − min(0, min_{j≤t} P_j) over the prefix
    // sums P_t = Σ(n·x_i − T) (scaled by n = #days so k = T/n stays
    // integer — no division anywhere). Reported per type: the max
    // statistic, the day it peaks (the changepoint estimate; ties take
    // the earliest day), and how many days exceed the one-average-day
    // alarm threshold S_t > T·1 (scaled: > T). Deterministic integers
    // end to end.
    // 100 TB: the daily rollup is the partial-aggregatable reduction
    // to the (type × day) calendar domain; both windows and the final
    // rollup share ONE event_type exchange.
    "a80_changepoint" -> ((s, dir) =>
      cusumReadout(T.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("d"))
        .groupBy("event_type", "d").agg(count(lit(1)).as("x"))))
    ,

    // Cohort revenue-retention triangle (the LTV readout — a57 tracks
    // WHO comes back; this tracks the MONEY they bring): customers
    // cohorted by first-order month, revenue per (cohort, month
    // offset) in exact integer cents (the floor(x·100+0.5) money
    // convention), plus each cell's basis-point share of its cohort's
    // month-0 revenue (integer div — month 0 is nonempty by
    // construction).
    // 100 TB: ONE custkey exchange serves the cohort min and the
    // cohort join (same partitioning); the triangle rollup and the
    // month-0 self-join live on the calendar² domain.
    "a82_cohort_revenue" -> ((s, dir) =>
      cohortRevenueTriangle(T.orders(s, dir))),

    // Rolling (trailing-7-day) value quantiles at sketch cost — a70's
    // calendar-explode answer for sliding DISTINCT, now for sliding
    // QUANTILES (the mergeable sketch's seventh application): per day,
    // one bottom-k sketch of the 2^-20-grid-quantized event values;
    // per report day, the ≤7 trailing daily sketches merge — the
    // bottom-k semilattice makes the merge identical to a from-scratch
    // sketch over the whole window, which the oracle PROVES by
    // recomputing each window's bottom-k directly (the a70/x109 proof
    // shape). Exact below k=256 rows/window; O(1/√k) rank rsd above.
    // 100 TB: the corpus collapses to one sketch per day (typed
    // partial agg, ≤ k triples/day on the wire); the merge explode is
    // CALENDAR-sized — days × 7 sketches of ≤ k triples — independent
    // of event volume.
    "a81_rolling_quantiles" -> ((s, dir) => {
      import graft.operators.Sketches
      val ev = T.events(s, dir)
        .select(to_date(col("ts")).as("d"), col("event_id"),
          floor(col("value") * 1048576 + lit(0.5)).cast("bigint").as("vg"))
        .filter(col("vg").isNotNull)
      val daily = graft.Caches.persistOnce(
        Sketches.quantileSketch(ev, Seq("d"), col("vg"), col("event_id")))
      val days = daily.select(col("d").as("day"))
      val contrib = daily
        .select(col("qsketch"), explode(sequence(lit(0), lit(6))).as("o"),
          col("d"))
        .select(expr("date_add(d, o)").as("day"), col("qsketch"))
      contrib.join(days, Seq("day"), "left_semi")
        .groupBy("day")
        .agg(Sketches.quantileMergeSketches(
          collect_list(col("qsketch"))).as("sk"))
        .select(col("day"),
          Sketches.quantileSampleSize(col("sk")).as("sample_n"),
          Sketches.quantileEstimate(col("sk"), 50).as("p50_vg"),
          Sketches.quantileEstimate(col("sk"), 90).as("p90_vg"))
        .orderBy("day")
    }),

    // Gap-based sessionization (the web-analytics primitive every
    // funnel/attribution readout upstream assumes): a session is a
    // maximal run of a user's events with consecutive gaps ≤
    // SessionGapUs; per session-start day — sessions, bounces
    // (1-event sessions), events, total duration (exact µs integers),
    // and sessions containing a purchase. st28 is the SAME assignment
    // as live keyed state, sharing sessionDailyStats verbatim (the
    // a80/st27 lockstep discipline).
    // 100 TB: ONE user_id exchange serves both windows; the session
    // rollup's map-side partial agg collapses each user's events to
    // session rows before its exchange (rows are already user-local),
    // so the second shuffle carries O(sessions), the third O(days).
    "a83_sessionize" -> ((s, dir) =>
      sessionDailyStats(sessionAssign(T.events(s, dir)))),

    // Pareto frontier / skyline per brand (Börzsönyi et al. ICDE'01):
    // the parts no same-brand part dominates on (price ↓, size ↑) —
    // the multi-objective "best offers" cut that single-column top-k
    // can't express. Distinct-point semantics (duplicate (price, size)
    // points collapse first, with a count), cents-exact prices, and
    // the one-pass sweep: in (price asc, size desc) order a point is
    // ON the frontier iff its size strictly exceeds every earlier
    // size (running max) — every dominator sorts strictly earlier.
    // 100 TB: ONE brand exchange serves dedup, sweep window, and rank;
    // per-brand work is the O(n log n) sort the exchange already pays.
    "a84_pareto_frontier" -> ((s, dir) =>
      paretoFrontier(T.part(s, dir)
        .select(col("p_brand").as("brand"),
          floor(col("p_retailprice") * 100 + lit(0.5)).cast("bigint")
            .as("price_cents"),
          col("p_size").cast("int").as("size")))),

    // Day-of-week seasonality per event type: each dow's share of the
    // type's events and its seasonal index vs a flat week (both on the
    // 2^-20 grid, integer div — no libm), plus the type's peak dow —
    // the seasonal profile a dashboard deseasonalizes against.
    // 100 TB: one partial-aggregatable (type × dow) rollup (42 cells),
    // one type-level window over the 42-row frame.
    "a85_dow_seasonality" -> ((s, dir) => {
      val grid = 1048576L
      val cells = T.events(s, dir)
        .select(col("event_type"), dayofweek(col("ts")).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
      val wt = Window.partitionBy("event_type")
      cells
        .withColumn("n_total", sum(col("n")).over(wt))
        .withColumn("share_q",
          call_function("div", col("n") * grid, col("n_total")))
        .withColumn("index_q",
          call_function("div", col("n") * 7L * grid, col("n_total")))
        .withColumn("peak_dow",
          min(when(col("n") === max(col("n")).over(wt), col("dow")))
            .over(wt).cast("int"))
        .select(col("event_type"), col("dow").cast("int").as("dow"),
          col("n"), col("share_q"), col("index_q"), col("peak_dow"))
        .orderBy("event_type", "dow")
    }),

    // Per-type linear trend over the daily-count series — closed-form
    // OLS on integer sums (slope = (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²),
    // day index x = epoch day): the direction-and-rate readout next to
    // a80's WHEN (changepoint) and a74's IF (drift). Slope lands on
    // the 2^-20 grid via integer div of exact integer sums; n_days ≥ 2
    // per type on any real fixture makes the denominator positive
    // (n·Σx² > (Σx)² whenever two distinct x exist), and a
    // single-day type reads slope 0 via the explicit guard rather
    // than a divide-by-zero.
    // 100 TB: daily rollup partial-aggregates to the calendar domain;
    // the OLS sums are ONE aggregate per type over its days.
    "a86_daily_trend" -> ((s, dir) => {
      val grid = 1048576L
      val daily = T.events(s, dir)
        .select(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("bigint").as("x"))
        .groupBy("event_type", "x").agg(count(lit(1)).as("y"))
      daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum(col("y")).as("n_events"),
          sum(col("x")).as("sx"), sum(col("y") * col("x")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("den", col("n_days") * col("sxx") - col("sx") * col("sx"))
        .withColumn("slope_q",
          when(col("den") === 0, 0L).otherwise(call_function("div",
            (col("n_days") * col("sxy") - col("sx") * col("n_events")) * grid,
            col("den"))))
        .select(col("event_type"), col("n_days"), col("n_events"),
          col("slope_q"))
        .orderBy("event_type")
    }),

    // RFM segmentation per nation (the classic CRM cut): per customer
    // — recency (days from the corpus max order date), frequency
    // (order count), monetary (exact cents) — each scored 1–5 by
    // ntile WITHIN the customer's nation over a total order (metric,
    // custkey — deterministic under ties on both engines); the output
    // is the per-nation segment matrix with customer counts and exact
    // revenue. Score orientation: 5 = most recent / most frequent /
    // highest spend (the worst rows fill bucket 1 first).
    // 100 TB: the per-customer rollup partial-aggregates on custkey;
    // all three ntile windows share ONE nationkey exchange (same
    // partitioning, three sort specs — the a83 discipline), and the
    // per-nation sort is the work that exchange already pays; the
    // segment rollup rides the nationkey clustering (subset
    // partitioning), and the anchor date is a broadcast 1-row frame.
    // A global (unpartitioned) ntile would single-partition the
    // window at scale — the per-market cut is the scale-legal AND the
    // more actionable readout.
    "a87_rfm_segments" -> ((s, dir) =>
      rfmSegments(T.orders(s, dir), T.customer(s, dir)
        .select(col("c_custkey").as("ck"), col("c_nationkey").as("nk")))),

    // ABC / Pareto classification per brand (the supply-chain 80/15/5
    // cut): parts ranked by exact discounted revenue within their
    // brand; class A = the smallest prefix covering ≥ 80% of the brand
    // total (a part is A when the revenue BEFORE it is still under
    // 80%: (cum−rev)·5 < tot·4 — so the crossing part is A, and a
    // single-part brand is A, the x122 r50/r90 inclusive-crossing
    // convention; pure integer comparisons), B up to 95%
    // ((cum−rev)·20 < tot·19), C beyond. Revenue in e4 units
    // (ten-thousandths of a dollar): price×(1−discount) is exact at
    // scale 4, so ×10000 casts to BIGINT with zero truncation — no
    // float sum, no rounding rule to match. BIGINT headroom bound (the
    // a90 convention): the boundary products tot·19/cum·20 need
    // per-BRAND e4 revenue ≤ ~4.6e17 ($46 B/brand) — holds to ~sf1000;
    // beyond that the boundaries want DECIMAL(38,0) (non-ANSI Spark
    // would wrap silently while DuckDB promotes to HUGEINT).
    // 100 TB: the (brand, part) rollup partial-aggregates; the parts
    // dim broadcasts into the lineitem scan; rank, cumulative and
    // brand-total windows all ride ONE brand-keyed exchange (the a87
    // discipline) whose partitions are PART-count sized, and the class
    // rollup rides the same clustering. A global (brand-less) Pareto
    // would single-partition the window — the per-brand cut is the
    // scale-legal readout.
    "a88_abc_pareto" -> ((s, dir) =>
      abcParts(T.lineitem(s, dir),
        T.part(s, dir).select(col("p_partkey"), col("p_brand")))),

    // Customer segment migration per nation (the churn/upsell matrix):
    // revenue tercile WITHIN the customer's nation in the first half
    // of the corpus (orders before 1998-01-01) vs the second, counted
    // as an origin→destination matrix; customers absent from a period
    // (incl. never-ordered customers — the base is the customer dim)
    // take class 0. ntile(3) over the (cents, custkey) total order —
    // deterministic boundaries cross-engine (the a87 discipline); the
    // per-nation formulation is the scale-legal one (a global tercile
    // would single-partition the window at 100 TB).
    // 100 TB: two custkey-partial period rollups, two nk-window sorts,
    // ck-keyed joins against the dim, and the matrix rollup — nothing
    // corpus-quadratic, no cartesian.
    "a89_segment_migration" -> ((s, dir) =>
      segmentMigration(T.orders(s, dir), T.customer(s, dir)
        .select(col("c_custkey").as("ck"), col("c_nationkey").as("nk")))),

    // Order ↔ lineitem reconciliation (the warehouse audit every
    // finance pipeline runs): per priority class — order count, orders
    // whose header total EXACTLY equals the recomputed line total
    // (price×(1−disc)×(1+tax) summed), orders with no lines at all,
    // and the max/sum absolute discrepancy. ALL-INTEGER in e8 units
    // (hundred-millionths of a dollar): the line value is v4·(10000 +
    // t4) where v4 = price×(1−disc) in exact e4 (the a88 route) and
    // t4 = tax in exact e-4 — no division, no rounding rule anywhere;
    // the header side is cents·10^6. (At sf ≫ 1 the e8 sums want
    // DECIMAL; BIGINT holds to ~sf100.)
    // 100 TB: one orderkey-partial rollup on lineitem, one join on
    // the order key, one priority rollup — no window, no skew risk
    // (orderkey is the uniform key).
    "a90_order_reconciliation" -> ((s, dir) =>
      orderReconciliation(T.orders(s, dir), T.lineitem(s, dir))),

    // Supplier revenue concentration per nation (the CR1/CR4 market-
    // concentration readout a sourcing desk watches): active suppliers
    // ranked by exact discounted revenue (e4 units, the a88 route)
    // within their nation; top-1 and top-4 revenue beside the total,
    // plus CR4 in basis points via truncating integer division (the
    // x125 div discipline — no float share). BIGINT headroom (the a90
    // convention): top4_e4·10⁴ needs per-NATION e4 revenue ≤ ~9.2e14
    // ($92 B/nation) — holds to ~sf1000; beyond, the share wants
    // DECIMAL.
    // 100 TB: the per-supplier rollup partial-aggregates on suppkey;
    // supplier + nation dims broadcast; the rank window and the nation
    // rollup ride ONE nation-keyed exchange whose partitions are
    // SUPPLIER-count sized (the a87 discipline). A global rank would
    // single-partition — the per-nation cut is the scale-legal AND the
    // actionable readout.
    "a91_supplier_concentration" -> ((s, dir) =>
      supplierConcentration(T.lineitem(s, dir),
        T.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
        T.nation(s, dir).select(col("n_nationkey"), col("n_name")))),

    // Supply redundancy per brand (the single-source-risk histogram):
    // how many parts have k observed suppliers, k from the distinct
    // (part, supplier) pairs actually shipped; parts never shipped
    // report k = 0 (the base is the part dim — the a89 class-0
    // convention). Pure exact counts.
    // 100 TB: countDistinct plans the pair-dedup as a MAP-SIDE partial
    // (repeat shipments of a (part, supplier) pair collapse before the
    // wire) + a (pk, sk) exchange + the pk count exchange — both keyed
    // and skew-free (pair cardinality ≤ parts × suppliers-per-part);
    // the dim join is partkey-keyed and the (brand, k) rollup
    // partial-aggregates. Output is brands × max-k rows — nothing
    // corpus-sized.
    "a92_supplier_redundancy" -> ((s, dir) =>
      supplierRedundancy(T.lineitem(s, dir),
        T.part(s, dir).select(col("p_partkey"), col("p_brand")))),

    // Supplier-nation × customer-nation trade matrix (TPC-H Q7
    // generalized to the full import/export cross): exact e4 revenue
    // and line counts per directed nation pair, with the domestic flag
    // computed post-rollup. a03 reads the customer geography only;
    // this is the BILATERAL readout a trade desk actually plots.
    // 100 TB: ONE orderkey-keyed big-big join (lineitem ⋈ orders, the
    // standard co-partitioned shuffle); customer/supplier/nation dims
    // broadcast (the a03 house call); the matrix rollup
    // partial-aggregates to ≤ nations² rows. No window anywhere.
    "a93_trade_matrix" -> ((s, dir) =>
      tradeMatrix(T.lineitem(s, dir), T.orders(s, dir),
        T.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
        T.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
        T.nation(s, dir).select(col("n_nationkey"), col("n_name")))),

    // Repeat-purchase share per brand (the loyalty/merchandising
    // readout): a line is a REPEAT when the same (customer, part) pair
    // shipped before — row_number ≥ 2 over the (shipdate, orderkey,
    // linenumber) total order within the pair; per brand the line and
    // exact-e4 revenue split, repeat share in basis points via the
    // truncating div (the a91 route, same BIGINT headroom note).
    // 100 TB: the (custkey, partkey) window is FINE-grained (billions
    // of tiny partitions — never the a87 single-partition hazard); one
    // orderkey join + one (ck, pk) exchange + the broadcast-dim brand
    // rollup.
    "a94_repeat_purchase" -> ((s, dir) =>
      repeatPurchaseShare(T.lineitem(s, dir), T.orders(s, dir),
        T.part(s, dir).select(col("p_partkey"), col("p_brand")))),

    // Net trade position per nation (the balance readout a93's matrix
    // implies but a desk reads directly): CROSS-border flows only —
    // exports = revenue supplied TO foreign customers, imports =
    // revenue bought FROM foreign suppliers, balance = the exact e4
    // difference; a one-sided trader reports 0 on the other side.
    // Shares a93's joined frame by construction (one join tree, two
    // readouts — lockstep).
    // 100 TB: ONE pass — each cross-border line explodes into its two
    // flow rows scan-side and a single nation rollup carries all four
    // cells (two per-flow rollups would recompute the five-way join
    // per branch — 2× the dominant cost, measured and rejected); the
    // same single big-big orderkey join as a93; no window.
    "a95_trade_balance" -> ((s, dir) =>
      tradeBalance(T.lineitem(s, dir), T.orders(s, dir),
        T.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
        T.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
        T.nation(s, dir).select(col("n_nationkey"), col("n_name"))))
  )

  /** a90's all-integer reconciliation over orders-/lineitem-shaped
    * frames — extracted so the exact-match, discrepancy and
    * no-lines-order cells are unit-testable on crafted frames
    * (Round15OpsSpec). See the a90 entry for the scale notes.
    */
  private[graft] def orderReconciliation(orders: DataFrame,
                                         lineitem: DataFrame): DataFrame = {
    val line = lineitem
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sum((Exact.dec(col("l_extendedprice")) *
          (lit(1) - Exact.dec(col("l_discount"))) * 10000).cast("long") *
        (lit(10000L) +
          (Exact.dec(col("l_tax")) * 10000).cast("long")))
        .as("line_e8"))
    orders
      .select(col("o_orderkey").as("ok"), col("o_orderpriority"),
        (floor(col("o_totalprice") * 100 + lit(0.5)).cast("long") *
          1000000L).as("order_e8"))
      .join(line, Seq("ok"), "left")
      .withColumn("diff_e8",
        abs(coalesce(col("line_e8"), lit(0L)) - col("order_e8")))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("diff_e8") === 0, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("line_e8").isNull, 1L).otherwise(0L))
          .as("n_no_lines"),
        max(col("diff_e8")).as("max_diff_e8"),
        sum(col("diff_e8")).as("sum_diff_e8"))
      .orderBy("o_orderpriority")
  }

  /** a89's per-nation tercile migration matrix — extracted so the
    * class-0 (absent-period) convention, tercile tie handling and the
    * never-ordered-customer cell are unit-testable on crafted frames
    * (Round15OpsSpec). See the a89 entry for the scale notes.
    */
  private[graft] def segmentMigration(orders: DataFrame,
                                      cust: DataFrame,
                                      splitDate: String = "1998-01-01")
      : DataFrame = {
    val split = lit(splitDate).cast("date")
    def score(o: DataFrame): DataFrame =
      o.groupBy(col("o_custkey").as("ck"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("bigint"))
          .as("cents"))
        .join(cust, "ck")
        .withColumn("cls", ntile(3).over(
          Window.partitionBy("nk").orderBy(col("cents"), col("ck"))))
        .select(col("ck"), col("cls"))
    val c1 = score(orders.filter(col("o_orderdate") < split))
      .withColumnRenamed("cls", "c1")
    val c2 = score(orders.filter(col("o_orderdate") >= split))
      .withColumnRenamed("cls", "c2")
    cust.join(c1, Seq("ck"), "left").join(c2, Seq("ck"), "left")
      .select(col("nk"),
        coalesce(col("c1"), lit(0)).as("c1"),
        coalesce(col("c2"), lit(0)).as("c2"))
      .groupBy("nk", "c1", "c2")
      .agg(count(lit(1)).as("n_cust"))
      .orderBy("nk", "c1", "c2")
  }

  /** a91's per-nation supplier concentration over lineitem-/supplier-/
    * nation-shaped frames — extracted so the rank tiebreak, the CR
    * prefix sums and the truncating basis-point division are
    * unit-testable on crafted frames (Round16OpsSpec). See the a91
    * entry for the scale notes.
    */
  private[graft] def supplierConcentration(lineitem: DataFrame,
                                           supplier: DataFrame,
                                           nation: DataFrame): DataFrame = {
    val rev = lineitem
      .groupBy(col("l_suppkey").as("sk"))
      .agg(sum((Exact.dec(col("l_extendedprice")) *
        (lit(1) - Exact.dec(col("l_discount"))) * 10000).cast("long"))
        .as("rev_e4"))
    val w = Window.partitionBy("s_nationkey")
      .orderBy(col("rev_e4").desc, col("sk"))
    rev
      .join(broadcast(supplier), col("sk") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .withColumn("r", row_number().over(w))
      // group on the window's partition key too (1:1 with n_name):
      // hashpartitioning(s_nationkey) satisfies the clustering, so the
      // rollup rides the window exchange (the a87 subset discipline)
      .groupBy(col("s_nationkey"), col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("rev_e4")).as("tot_rev_e4"),
        sum(when(col("r") === 1, col("rev_e4")).otherwise(0L))
          .as("top1_rev_e4"),
        sum(when(col("r") <= 4, col("rev_e4")).otherwise(0L))
          .as("top4_rev_e4"))
      // greatest guard: an all-zero-revenue nation is impossible on
      // real money columns but keeps the division total-function
      .withColumn("cr4_bp", call_function("div",
        col("top4_rev_e4") * 10000, greatest(col("tot_rev_e4"), lit(1L))))
      .drop("s_nationkey")
      .orderBy("n_name")
  }

  /** a92's suppliers-per-part histogram over lineitem-/part-shaped
    * frames — extracted so the k = 0 never-shipped convention and the
    * distinct-pair counting are unit-testable on crafted frames
    * (Round16OpsSpec). See the a92 entry for the scale notes.
    */
  private[graft] def supplierRedundancy(lineitem: DataFrame,
                                        part: DataFrame): DataFrame = {
    // countDistinct: the pair-dedup runs as a map-side partial before
    // the (pk, sk) exchange — repeat shipments never hit the wire
    val k = lineitem
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .groupBy("pk").agg(countDistinct(col("sk")).as("ks"))
    part.select(col("p_partkey").as("pk"), col("p_brand"))
      .join(k, Seq("pk"), "left")
      .withColumn("n_suppliers", coalesce(col("ks"), lit(0L)))
      .groupBy(col("p_brand"), col("n_suppliers"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("p_brand", "n_suppliers")
  }

  /** a93's bilateral trade matrix over lineitem-/orders-/dim-shaped
    * frames — extracted so the directed-pair semantics and the
    * domestic flag are unit-testable on crafted frames
    * (Round16OpsSpec). See the a93 entry for the scale notes.
    */
  /** The a93/a95 shared joined frame: one row per line with
    * (supp_nation, cust_nation, rev) — factored so the matrix and the
    * balance read the SAME join tree (lockstep by construction).
    */
  private def tradeJoined(lineitem: DataFrame, orders: DataFrame,
                          customer: DataFrame, supplier: DataFrame,
                          nation: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_suppkey"),
      (Exact.dec(col("l_extendedprice")) *
        (lit(1) - Exact.dec(col("l_discount"))) * 10000).cast("long")
        .as("rev"))
    li.join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"),
        col("c_nationkey").as("cnk"))), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier.select(col("s_suppkey"),
        col("s_nationkey").as("snk"))), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("snk"),
        col("n_name").as("supp_nation"))), Seq("snk"))
      .join(broadcast(nation.select(col("n_nationkey").as("cnk"),
        col("n_name").as("cust_nation"))), Seq("cnk"))
  }

  private[graft] def tradeMatrix(lineitem: DataFrame, orders: DataFrame,
                                 customer: DataFrame, supplier: DataFrame,
                                 nation: DataFrame): DataFrame =
    tradeJoined(lineitem, orders, customer, supplier, nation)
      .groupBy("supp_nation", "cust_nation")
      .agg(sum(col("rev")).as("rev_e4"), count(lit(1)).as("n_items"))
      .withColumn("is_domestic", col("supp_nation") === col("cust_nation"))
      .orderBy("supp_nation", "cust_nation")

  /** a95's per-nation net trade position over the SAME joined frame as
    * a93 (domestic flows excluded on both sides by construction) —
    * extracted so the export/import split, the one-sided-trader zeros
    * and the balance sign are unit-testable on crafted frames
    * (Round16OpsSpec). See the a95 entry for the scale notes.
    */
  private[graft] def tradeBalance(lineitem: DataFrame, orders: DataFrame,
                                  customer: DataFrame, supplier: DataFrame,
                                  nation: DataFrame): DataFrame = {
    // ONE pass over the joined frame: each cross-border line explodes
    // into its two flow rows scan-side (export at the supplier nation,
    // import at the customer nation) and one nation rollup carries all
    // four cells — two separate flow rollups would recompute the
    // five-way join per branch (measured 2× the dominant cost). A
    // nation with one-sided trade naturally reports 0 on the other
    // side; a nation with no cross-border trade at all has no row
    // (the FULL-join-with-coalesce semantics, without the join).
    tradeJoined(lineitem, orders, customer, supplier, nation)
      .filter(col("supp_nation") =!= col("cust_nation"))
      .select(explode(array(
        struct(col("supp_nation").as("nation"), lit(1L).as("is_ex"),
          col("rev")),
        struct(col("cust_nation").as("nation"), lit(0L).as("is_ex"),
          col("rev")))).as("f"))
      .select(col("f.nation").as("nation"), col("f.is_ex").as("is_ex"),
        col("f.rev").as("rev"))
      .groupBy("nation")
      .agg(sum(when(col("is_ex") === 1, col("rev")).otherwise(0L))
          .as("export_e4"),
        sum(when(col("is_ex") === 0, col("rev")).otherwise(0L))
          .as("import_e4"),
        sum(col("is_ex")).as("n_export_lines"),
        sum(lit(1L) - col("is_ex")).as("n_import_lines"))
      .withColumn("balance_e4", col("export_e4") - col("import_e4"))
      .orderBy("nation")
  }

  /** a94's per-brand repeat-purchase split over lineitem-/orders-/part-
    * shaped frames — extracted so the first-vs-repeat boundary (the
    * second shipment of a pair is the first REPEAT) and the tiebreak
    * order are unit-testable on crafted frames (Round16OpsSpec). See
    * the a94 entry for the scale notes.
    */
  private[graft] def repeatPurchaseShare(lineitem: DataFrame,
                                         orders: DataFrame,
                                         part: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_partkey"),
      col("l_linenumber"), col("l_shipdate"),
      (Exact.dec(col("l_extendedprice")) *
        (lit(1) - Exact.dec(col("l_discount"))) * 10000).cast("long")
        .as("rev"))
    val w = Window.partitionBy("o_custkey", "l_partkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    li.join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("seq", row_number().over(w))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("seq") >= 2, 1L).otherwise(0L)).as("n_repeat_lines"),
        sum(col("rev")).as("rev_e4"),
        sum(when(col("seq") >= 2, col("rev")).otherwise(0L))
          .as("repeat_rev_e4"))
      .withColumn("repeat_bp", call_function("div",
        col("repeat_rev_e4") * 10000, greatest(col("rev_e4"), lit(1L))))
      .orderBy("p_brand")
  }

  /** a88's per-brand ABC classification over lineitem-/part-shaped
    * frames — extracted so the exact-boundary semantics (cum exactly
    * at 80% stays A; the crossing part starts B) are unit-testable on
    * crafted frames (Round15OpsSpec). See the a88 entry for the scale
    * notes.
    */
  private[graft] def abcParts(lineitem: DataFrame,
                              part: DataFrame): DataFrame = {
    val rev = lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(sum((Exact.dec(col("l_extendedprice")) *
        (lit(1) - Exact.dec(col("l_discount"))) * 10000).cast("long"))
        .as("rev_e4"))
    val wOrd = Window.partitionBy("p_brand")
      .orderBy(col("rev_e4").desc, col("p_partkey"))
    val wAll = Window.partitionBy("p_brand")
    rev
      .withColumn("cum", sum(col("rev_e4")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("rev_e4")).over(wAll))
      .withColumn("abc_class",
        when((col("cum") - col("rev_e4")) * 5 < col("tot") * 4, "A")
          .when((col("cum") - col("rev_e4")) * 20 < col("tot") * 19, "B")
          .otherwise("C"))
      .groupBy(col("p_brand"), col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev_e4")).as("class_rev_e4"))
      .orderBy("p_brand", "abc_class")
  }

  /** a87's RFM segment matrix over an orders-shaped frame and a
    * (ck, nk) customer dimension — extracted so the tie/short-nation
    * ntile semantics are unit-testable on crafted frames
    * (Round14OpsSpec). See the a87 entry for the scale notes.
    */
  private[graft] def rfmSegments(orders: DataFrame,
                                 cust: DataFrame): DataFrame = {
    val anchor = broadcast(orders.agg(max(col("o_orderdate")).as("maxd")))
    val per = orders.groupBy(col("o_custkey").as("ck"))
      .agg(max(col("o_orderdate")).as("lastd"),
        count(lit(1)).as("f"),
        sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("bigint"))
          .as("cents"))
    val wr = Window.partitionBy("nk")
      .orderBy(col("r_days").desc, col("ck"))
    val wf = Window.partitionBy("nk").orderBy(col("f"), col("ck"))
    val wm = Window.partitionBy("nk").orderBy(col("cents"), col("ck"))
    per.join(cust, "ck").crossJoin(anchor)
      .withColumn("r_days",
        datediff(col("maxd"), col("lastd")).cast("bigint"))
      .withColumn("r_score", ntile(5).over(wr))
      .withColumn("f_score", ntile(5).over(wf))
      .withColumn("m_score", ntile(5).over(wm))
      .groupBy("nk", "r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("sum_cents"))
      .orderBy("nk", "r_score", "f_score", "m_score")
  }

  /** Microseconds of inactivity that close a session (6 h — wide for
    * the synthetic fixture's sparse per-user streams; production web
    * analytics uses 30 min).
    */
  private[graft] val SessionGapUs = 21600000000L

  /** The a83 oracle, shared verbatim by st28 (stream ≡ batch): the gap
    * rule over the (ts, event_id) total order, session rollup, daily
    * rollup — all exact integers (epoch_us both engines).
    */
  private[graft] val SessionizeOracleSql: String =
    s"""WITH e AS (SELECT user_id, ts, event_id, epoch_us(ts) AS tu,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
         FROM events),
       f AS (SELECT *, CASE WHEN tu - lag(tu) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) <= $SessionGapUs
           THEN 0 ELSE 1 END AS ns FROM e),
       a AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM f),
       sess AS (SELECT user_id, sid, count(*) AS n_ev, min(ts) AS t0,
           CAST(min(tu) AS BIGINT) AS u0, CAST(max(tu) AS BIGINT) AS u1,
           max(is_p) AS has_p
         FROM a GROUP BY 1, 2)
       SELECT CAST(t0 AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounce,
         CAST(sum(n_ev) AS BIGINT) AS n_events,
         CAST(sum(u1 - u0) AS BIGINT) AS total_dur_us,
         CAST(sum(has_p) AS BIGINT) AS n_purchase_sessions
       FROM sess GROUP BY 1 ORDER BY 1"""

  /** Session assignment via windows — each event tagged with its
    * user-local session index (1-based). Total order within user is
    * (ts, event_id) so duplicate timestamps stay deterministic (the
    * st14 tie discipline).
    */
  private[graft] def sessionAssign(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("tu"),
        (col("event_type") === "purchase").cast("int").as("is_purchase"))
      .withColumn("ns",
        when(col("tu") - lag(col("tu"), 1).over(w) <= SessionGapUs, 0L)
          .otherwise(1L))
      .withColumn("sid", sum(col("ns")).over(run))
      .select("user_id", "sid", "ts", "tu", "is_purchase")
  }

  /** a84's skyline sweep over a (brand, price_cents, size) point frame —
    * extracted so dominance/tie semantics are unit-testable on crafted
    * cases (Round13OpsSpec). Distinct-point semantics: duplicate points
    * collapse first with a count; a point is ON the frontier iff its
    * size strictly exceeds every size at a strictly-lower-or-equal
    * price sorted earlier (every dominator sorts strictly earlier in
    * (price asc, size desc) order).
    */
  private[graft] def paretoFrontier(pts0: DataFrame): DataFrame = {
    val pts = pts0.groupBy("brand", "price_cents", "size")
      .agg(count(lit(1)).as("n_parts"))
    val ord = Window.partitionBy("brand")
      .orderBy(col("price_cents").asc, col("size").desc)
    val before = ord.rowsBetween(Window.unboundedPreceding, -1)
    pts
      .withColumn("max_size_before", max(col("size")).over(before))
      .filter(col("max_size_before").isNull ||
        col("size") > col("max_size_before"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("brand")
          .orderBy(col("price_cents").asc, col("size").desc)))
      .select(col("brand"), col("rk").cast("int").as("rk"),
        col("price_cents"), col("size"), col("n_parts"))
      .orderBy("brand", "rk")
  }

  /** The per-day session rollup shared by a83 (window assignment) and
    * st28 (keyed-state assignment): input is one row per event with
    * (user_id, sid, ts, tu, is_purchase).
    */
  private[graft] def sessionDailyStats(assigned: DataFrame): DataFrame =
    assigned
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_ev"), min(col("ts")).as("t0"),
        min(col("tu")).as("u0"), max(col("tu")).as("u1"),
        max(col("is_purchase")).as("has_p"))
      .groupBy(to_date(col("t0")).as("d"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_bounce"),
        sum(col("n_ev")).as("n_events"),
        sum(col("u1") - col("u0")).as("total_dur_us"),
        sum(col("has_p").cast("bigint")).as("n_purchase_sessions"))
      .orderBy("d")

  /** a82's cohort revenue-retention triangle over an orders-shaped frame
    * (o_custkey, o_orderdate, o_totalprice) — extracted so the month-0
    * divisor fence is unit-testable on a crafted zero-revenue cohort
    * (Round13OpsSpec), which the TPC-H-style fixture can never produce.
    * 100 TB: ONE custkey exchange serves the cohort min and the cohort
    * join (same partitioning); the triangle rollup and the month-0
    * self-join live on the calendar² domain.
    */
  private[graft] def cohortRevenueTriangle(orders: DataFrame): DataFrame = {
    val o = graft.Caches.persistOnce(orders
      .select(col("o_custkey").as("ck"),
        date_trunc("month", col("o_orderdate")).as("m"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("bigint")
          .as("cents")))
    val cohort = o.groupBy("ck").agg(min(col("m")).as("cohort_m"))
    val tri = graft.Caches.persistOnce(o.join(cohort, "ck")
      .withColumn("offset_m",
        months_between(col("m"), col("cohort_m")).cast("int"))
      .groupBy("cohort_m", "offset_m")
      .agg(countDistinct(col("ck")).as("n_cust"),
        sum(col("cents")).as("rev_cents")))
    val base0 = tri.filter(col("offset_m") === 0)
      .select(col("cohort_m"), col("rev_cents").as("rev0"))
    tri.join(base0, "cohort_m")
      .select(col("cohort_m"), col("offset_m"), col("n_cust"),
        col("rev_cents"),
        // month-0 revenue is > 0 on any TPC-H-style fixture
        // (o_totalprice strictly positive), but the divisor fence is
        // explicit (x117 discipline), not inherited from the
        // generator: a zero-revenue cohort reads bp vs 1 cent.
        call_function("div", col("rev_cents") * 10000L,
          greatest(col("rev0"), lit(1L))).as("rev_bp"))
      .orderBy("cohort_m", "offset_m")
  }

  /** The CUSUM changepoint readout over a (event_type, d, x) daily-count
    * frame — shared verbatim by a80 (batch rollup input) and st27 (live
    * keyed-state counters input), the st25/a73 lockstep discipline.
    * Both windows and the final rollup share ONE event_type exchange.
    */
  private[graft] def cusumReadout(daily: DataFrame): DataFrame = {
    val wp = Window.partitionBy("event_type")
    val wo = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n_days", count(lit(1)).over(wp))
      .withColumn("total", sum(col("x")).over(wp))
      .withColumn("p",
        sum(col("x") * col("n_days") - col("total")).over(wo))
      .withColumn("s",
        col("p") - least(min(col("p")).over(wo), lit(0L)))
      .withColumn("s_max", max(col("s")).over(wp))
      .groupBy("event_type")
      .agg(max(col("n_days")).as("n_days"),
        max(col("total")).as("total_events"),
        max(col("s")).as("s_max"),
        min(when(col("s") === col("s_max"), col("d")))
          .as("changepoint_day"),
        sum(when(col("s") > col("total"), 1L).otherwise(0L))
          .as("n_alarm_days"))
      .orderBy("event_type")
  }

  /** a72's state domain (the fixture's event types) — shared by the
    * query and the oracle generator so both engines fold the walk's
    * sums in the identical column order.
    */
  private[graft] val MarkovStates =
    Seq("click", "error", "purchase", "signup", "view")

  /** Data-driven (Markov chain) attribution — the removal effect
    * (Anderl et al. 2016's first-order model): how much of the overall
    * conversion probability disappears when a channel is deleted from
    * the journey graph. Completes the attribution trio: a59 applies a
    * RULE (last touch), a68 compares rules, THIS derives credit from
    * the observed transition structure itself.
    *
    * Model (documented choices, mirrored exactly by the oracle):
    * first-order chain over `states`, `conv` absorbing (no outgoing
    * edges), transition probabilities = observed consecutive-pair
    * shares in (ts, event_id) order (a66's counts), start distribution
    * = each user's FIRST event type. Conversion probability = mass
    * absorbed by `conv` within `horizon` synchronous steps. Channel
    * removal DELETES the state — mass that would flow into it dies (no
    * renormalization, the "lost traffic" variant). Removal effect =
    * (base − removed) / base.
    *
    * Determinism: the walk runs on the 2^-20 grid — every product
    * quantizes (`q(v_i·p_ij)`), sums fold left in `states` order, and
    * the per-round state is |states| doubles — so the DuckDB replay
    * (the same rounds unrolled as one-row CTEs with explicit per-state
    * columns, MATERIALIZED per the a69 discipline) is bit-identical.
    * No libm anywhere.
    *
    * 100 TB: the data-sized work is ONE user_id exchange (the lead
    * window and the first-event window share it); the collected
    * transition matrix is |states|² longs and the walk is
    * horizon·|states|² driver flops — both require-fenced.
    */
  private[graft] def markovRemovalEffect(ev: DataFrame, states: Seq[String],
                                         conv: String,
                                         horizon: Int = 6): DataFrame = {
    require(states.size >= 2 && states.size <= 16,
      s"states must be 2..16 (the walk collects a |states|^2 matrix " +
        s"driver-side), got ${states.size}")
    require(states.distinct.size == states.size, "states must be distinct")
    require(states.contains(conv), s"conv=$conv must be one of $states")
    require(horizon >= 1 && horizon <= 32,
      s"horizon must be in [1, 32] (bounded unrolled replay), got $horizon")
    val spark = ev.sparkSession
    import spark.implicits._
    val grid = 1048576.0
    def q(x: Double): Double = math.floor(x * grid + 0.5) / grid
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // persistOnce: the frame feeds two driver actions (transition
    // counts and first-event counts) — one scan instead of two
    val base = graft.Caches.persistOnce(
      ev.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
        .filter(col("event_type").isin(states: _*)))
    val trRows = base
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull && col("event_type") =!= conv)
      .groupBy(col("event_type").as("f"), col("to_type").as("t"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    val firstRows = base
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("event_type").as("f")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val nUsers = firstRows.values.sum
    require(nUsers > 0, "markovRemovalEffect needs at least one user")
    val outFrom = states.filterNot(_ == conv)
      .map(f => f -> states.map(t => trRows.getOrElse((f, t), 0L)).sum).toMap
    // p(f, t) and s(f) on the grid — one IEEE division of exact longs
    // each, then q (the a66/pca discipline)
    def p(f: String, t: String): Double = {
      val nf = outFrom.getOrElse(f, 0L)
      if (nf == 0L) 0.0 else q(trRows.getOrElse((f, t), 0L).toDouble / nf)
    }
    def s(f: String): Double = q(firstRows.getOrElse(f, 0L).toDouble / nUsers)
    val transient = states.filterNot(_ == conv)
    // synchronous walk; `removed` deletes a state: its start mass and
    // every inbound term vanish (terms fold left in `states` order)
    def walk(removed: Option[String]): Double = {
      def alive(x: String) = !removed.contains(x)
      var v = transient.map(f => if (alive(f)) s(f) else 0.0).toArray
      var cv = s(conv)
      for (_ <- 1 to horizon) {
        val terms = transient.zipWithIndex
        cv += terms.map { case (f, i) => q(v(i) * p(f, conv)) }.sum
        v = transient.map { t =>
          if (!alive(t)) 0.0
          else terms.map { case (f, i) => q(v(i) * p(f, t)) }.sum
        }.toArray
      }
      cv
    }
    val baseConv = walk(None)
    val out = transient.map { ch =>
      val rem = walk(Some(ch))
      val re = if (baseConv == 0.0) 0.0 else (baseConv - rem) / baseConv
      (ch, baseConv, rem, re)
    }.sortBy(_._1)
    out.toDF("channel", "base_conv", "removed_conv", "removal_effect")
  }

  /** a71's body, exposed for invariant tests (degenerate-rate guard,
    * split determinism) on synthetic event frames.
    */
  private[graft] def abTest(ev: DataFrame): DataFrame = {
    val wu = Window.partitionBy("user_id")
    val users = ev
      .withColumn("first_ts", min(col("ts")).over(wu))
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("ts") <= col("first_ts") + expr("INTERVAL 1 DAY"), 1L)
        .otherwise(0L)).as("conv"))
      .withColumn("arm",
        hash(col("user_id")).cast("bigint")
          .bitwiseAND(lit(4294967295L)).bitwiseAND(lit(1L)))
    val g = users.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val one = g.agg(
      max(when(col("arm") === 0L, col("n"))).as("n_a"),
      max(when(col("arm") === 0L, col("c"))).as("c_a"),
      max(when(col("arm") === 1L, col("n"))).as("n_b"),
      max(when(col("arm") === 1L, col("c"))).as("c_b"))
    val pa = col("c_a").cast("double") / col("n_a")
    val pb = col("c_b").cast("double") / col("n_b")
    val pp = (col("c_a") + col("c_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se2 = (pp * (lit(1.0) - pp)) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))
    one.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      pa.as("rate_a"), pb.as("rate_b"),
      when(se2 === lit(0.0), lit(0.0))
        .otherwise(((pa - pb) * (pa - pb)) / se2).as("z2"))
  }

  /** a73: rolling z-score anomaly detection per user — each event is
    * scored against the trailing window of its user's previous `win`
    * values (full windows only: a score needs all `win` predecessors).
    * Every step is exact integer/decimal arithmetic so the readout is
    * deterministic cross-engine: values land on the house 2⁻²⁰ grid
    * (`floor(v·2²⁰ + 0.5)` — the ·2²⁰ scale is a pure exponent shift,
    * so the only rounding is the identical IEEE add of 0.5), the
    * trailing sum/sum-of-squares are exact longs, and the flag is the
    * cross-multiplied z² > T² test with no division or sqrt anywhere:
    *
    *   z² = (x−μ)²/s² = (n·x − S)²·(n−1) / (n·(n·S2 − S²))
    *   flag ⇔ (n·x−S)²·(n−1) > T²·n·(n·S2−S²)
    *
    * computed in DECIMAL(38,0) (HUGEINT on the oracle side) because the
    * squared terms pass 2⁶³ at grid scale. A constant window (s²=0)
    * degenerates correctly: any deviation flags, zero deviation does
    * not — no epsilon, no guard. The one IEEE step in the output is the
    * per-type anomaly rate, a single division of exact longs.
    *
    * 100 TB: ONE user_id exchange feeds the ordered window (ts,
    * event_id — the st14 total-order tiebreak); the rollup to
    * event_type is partial-aggregatable. Nothing is user-cardinality
    * on the driver.
    */
  private[graft] def rollingAnomaly(ev: DataFrame, win: Int = 8,
                                    t: Int = 3): DataFrame = {
    require(win >= 2 && win <= 64, s"win=$win out of [2,64]")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-win, -1)
    val dec = "decimal(38,0)"
    // null values are excluded BEFORE the window (a null row would
    // otherwise count toward the frame width while contributing
    // nothing to the sums — silently corrupt statistics); the fixture
    // has none, but the operator should not depend on that
    val scored = ev
      .filter(col("value").isNotNull)
      .withColumn("vg", floor(col("value") * lit(1048576.0) + lit(0.5))
        .cast("long"))
      .withColumn("s1", sum(col("vg")).over(w))
      .withColumn("s2", sum(col("vg") * col("vg")).over(w))
      .withColumn("nw", count(lit(1)).over(w))
      .filter(col("nw") === win)
    val diff = (col("vg") * win - col("s1")).cast(dec)
    val num = diff * diff * lit(win - 1).cast(dec)
    val den = lit(t.toLong * t * win).cast(dec) *
      (col("s2").cast(dec) * lit(win).cast(dec) -
        col("s1").cast(dec) * col("s1").cast(dec))
    scored
      .withColumn("anom", when(num > den, 1L).otherwise(0L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"), sum(col("anom")).as("n_anom"))
      .withColumn("anom_rate",
        col("n_anom").cast("double") / col("n_scored"))
      .orderBy("event_type")
  }

  /** a74: distribution-drift readout (the train/serve skew monitor) —
    * Pearson chi-square contributions of each event type between the
    * first and second half of the observed time range. The split point
    * is the exact integer midpoint of the epoch-microsecond span; per
    * type, the contribution to X² for the 2×|types| contingency table
    * is
    *
    *   (n₁·N₂ − n₂·N₁)² / ((n₁+n₂)·N₁·N₂)
    *
    * — numerator and denominator are exact DECIMAL(38,0)/HUGEINT
    * products (the numerator squares past 2⁶³ at sf1), emitted through
    * one single-rounded cast each and ONE IEEE division, so both
    * engines produce identical doubles. Chi-square (not KL) because it
    * is rational in the counts — no libm anywhere (the house a66/a71
    * discipline). Per-type rows rather than the summed statistic: a
    * cross-engine sum of doubles would be addition-order-dependent,
    * and the per-type terms are the actionable readout anyway (WHICH
    * type drifted).
    *
    * 100 TB: the bounds pass and the count pass are both
    * partial-aggregatable scans; the per-type frame the windows run
    * over is |types|-sized. Nothing shuffles at event cardinality.
    */
  private[graft] def distDrift(ev: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val bounds = ev.agg(
      min(unix_micros(col("ts"))).as("us_min"),
      max(unix_micros(col("ts"))).as("us_max"))
    val tagged = ev.crossJoin(broadcast(bounds))
      .withColumn("early",
        when(unix_micros(col("ts")) <= call_function("div",
          col("us_min") + col("us_max"), lit(2L)), 1L).otherwise(0L))
    val byType = tagged.groupBy("event_type")
      .agg(sum(col("early")).as("n_early"),
        sum(lit(1L) - col("early")).as("n_late"))
    val wAll = Window.partitionBy()
    val withTot = byType
      .withColumn("tot_early", sum(col("n_early")).over(wAll))
      .withColumn("tot_late", sum(col("n_late")).over(wAll))
    val num = {
      val c = (col("n_early").cast(dec) * col("tot_late").cast(dec) -
        col("n_late").cast(dec) * col("tot_early").cast(dec))
      c * c
    }
    val den = (col("n_early") + col("n_late")).cast(dec) *
      col("tot_early").cast(dec) * col("tot_late").cast(dec)
    withTot
      .withColumn("chi2_term",
        when(den === lit(0L).cast(dec), lit(0.0))
          .otherwise(num.cast("double") / den.cast("double")))
      .select("event_type", "n_early", "n_late", "chi2_term")
      .orderBy("event_type")
  }

  /** a75: top user paths — the product-analytics "what journeys do
    * users take" readout that a66's first-order transition matrix
    * cannot answer (it forgets everything before the previous step).
    * Each user's first `k` events (by the (ts, event_id) total order)
    * become an ordered path string; paths are counted and each path
    * reports how many of its users EVER purchased — conversion by
    * journey prefix. Deterministic: the path is a pure function of the
    * total-ordered event sequence, and `array_sort` on (rank, type)
    * structs reassembles it identically on both engines.
    *
    * 100 TB: ONE user_id exchange for the rank window; the per-user
    * agg reuses that partitioning (no second shuffle), and the path
    * rollup is partial-aggregatable over a domain fenced at
    * |types|^k + … (≤ 3 905 paths for 5 types, k=5) — the output is
    * catalog-sized regardless of input volume. No collect, no limit.
    */
  private[graft] def topPaths(ev: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1 && k <= 8, s"k=$k out of [1,8]")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val perUser = ev
      .withColumn("rn", row_number().over(w))
      .groupBy("user_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("rn") <= k,
            struct(col("rn"), col("event_type").as("et"))))),
          s => s.getField("et")), ">").as("path"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
    perUser.groupBy("path")
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      .orderBy(col("n_users").desc, col("path"))
  }

  /** a76: per-type activity concentration (Gini coefficient over the
    * per-user event-count distribution — the "whale curve" readout:
    * 0 = every user equally active, →1 = all activity in one user).
    * The classic rank formula on ascending counts,
    *
    *   G = (2·Σᵢ i·cᵢ − (n+1)·Σc) / (n·Σc)
    *
    * is RATIONAL in the counts, so the whole statistic is exact
    * integer arithmetic on both engines (the a66/a71/a73 no-libm
    * discipline): ranks come from a total-ordered window ((count,
    * user_id) — deterministic under count ties), the two sums and the
    * products run in DECIMAL(38,0)/HUGEINT (n·Σc passes 2⁶³ at corpus
    * scale), and the emitted `gini_q` is the 2⁻²⁰-grid integer
    * `(num·2²⁰) div den` — no doubles anywhere in the output.
    *
    * 100 TB: one (type, user) partial-aggregatable exchange collapses
    * events to per-user counts; the rank window exchanges only that
    * user-cardinality frame on the type key; the final rollup is
    * |types| rows. Nothing is event-cardinality past the first agg.
    */
  private[graft] def activityGini(ev: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val perUser = ev.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy(col("c"), col("user_id"))
    val ranked = perUser.withColumn("i", row_number().over(w))
    val g = ranked.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum(col("c")).as("n_events"),
        sum(col("i").cast(dec) * col("c").cast(dec)).as("s_ic"))
    val num = (lit(2L).cast(dec) * col("s_ic") -
      (col("n_users") + 1L).cast(dec) * col("n_events").cast(dec))
    val den = col("n_users").cast(dec) * col("n_events").cast(dec)
    g.select(col("event_type"), col("n_users"), col("n_events"),
        call_function("div",
          (num * lit(1048576L).cast(dec)).cast(dec), den).cast("long")
          .as("gini_q"))
      .orderBy("event_type")
  }

  /** Per-user ordered funnel stage times over an event frame with
    * (user_id, event_type, ts): t1 = first `s1`, t2 = first `s2`
    * strictly AFTER t1, t3 = first `s3` strictly after t2 — null where
    * the stage was never reached in order. The three window aggregates
    * share ONE user_id exchange (identical partitioning; each step's
    * window reads the previous step's materialized column).
    */
  private[graft] def funnelTimes(ev: DataFrame, s1: String, s2: String,
                                 s3: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    ev.select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === s1, col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === s2 && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === s3 && col("ts") > col("t2"),
          col("ts"))).over(w))
      .groupBy("user_id")
      .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
  }

  /** Shared Spark/DuckDB SQL: orders that match their priority's maximum
    * price (correlated scalar subquery) for customers in a balance band
    * (IN subquery).
    */
  val subqueriesSql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice
       FROM orders o
       WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
                             WHERE o2.o_orderpriority = o.o_orderpriority)
          OR o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9990)
       ORDER BY o_orderkey"""

  /** a23's oracle: graft's deterministic HLL replayed in DuckDB —
    * staged murmur3 hashLong CTEs (shared [[Murmur3Sql]] arithmetic),
    * top-p-bit bucketing, `length(bin(w))` rank, exact-integer register
    * sums, and the single double division with the identical numerator
    * literal the Spark side uses ([[graft.operators.Sketches]]).
    */
  private val hllDistinctSql: String = {
    import graft.operators.Sketches
    val p = Sketches.HllP
    val m = 1L << p
    val rmax = 33 - p
    val pow = 1L << (32 - p)
    val c = Sketches.hllNumerator(p)
    val k = Sketches.KmvK
    val kmvNum = (k - 1).toLong * 4294967296L
    val (hashCtes, huCte) = Murmur3Sql.hashLongCtes("lp", Seq("rflag"), "hm")
    s"""WITH lp AS (SELECT l_returnflag AS rflag, l_partkey AS v FROM lineitem),
       $hashCtes
       br AS (SELECT rflag, hu // $pow AS bucket, hu % $pow AS w FROM $huCte),
       rk AS (SELECT rflag, bucket,
                CASE WHEN w = 0 THEN $rmax
                     ELSE $rmax - length(bin(CAST(w AS BIGINT))) END AS rank
              FROM br),
       regs AS (SELECT rflag, bucket, max(rank) AS mj FROM rk GROUP BY 1, 2),
       agg AS (SELECT rflag,
                CAST(sum(CAST(1 AS BIGINT) << ($rmax - mj))
                     + ($m - count(*)) * (CAST(1 AS BIGINT) << $rmax) AS BIGINT) AS s
               FROM regs GROUP BY 1),
       dh AS (SELECT DISTINCT rflag, hu FROM $huCte),
       rn AS (SELECT rflag, hu,
                row_number() OVER (PARTITION BY rflag ORDER BY hu) AS rn
              FROM dh),
       km AS (SELECT rflag, CAST(count(*) AS BIGINT) AS cnt,
                CAST(max(CASE WHEN rn = $k THEN hu END) AS BIGINT) AS kth
              FROM rn GROUP BY 1),
       ex AS (SELECT l_returnflag AS rflag,
                CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts
              FROM lineitem GROUP BY 1)
       SELECT a.rflag, ex.exact_parts,
         CAST(floor($c / s) AS BIGINT) AS hll_parts,
         CASE WHEN km.cnt < $k THEN km.cnt
              WHEN km.kth = 0 THEN CAST($k AS BIGINT)
              ELSE $kmvNum // km.kth END AS kmv_parts
       FROM agg a JOIN ex USING (rflag) JOIN km USING (rflag)
       ORDER BY rflag"""
  }

  /** a72's oracle: the same transition/start shares (grid-quantized
    * single divisions of exact longs), then the synchronous walk
    * unrolled — one ONE-ROW CTE per (chain, round) with explicit
    * per-state columns, every product q-quantized and every sum folded
    * in [[MarkovStates]] order, exactly the driver walk's float ops.
    * Round CTEs are MATERIALIZED (the a69 reachability discipline);
    * references to the v_ and conv names inside a round bind to the PREVIOUS CTE's
    * real columns (DuckDB prefers table columns over lateral aliases),
    * keeping the update synchronous like the driver's.
    */
  private lazy val markovAttributionSql: String = {
    val states = MarkovStates
    val conv = "purchase"
    val horizon = 6
    val transient = states.filterNot(_ == conv)
    def qs(x: String) = s"floor(($x) * 1048576 + 0.5) / 1048576"
    val inList = states.map(s => s"'$s'").mkString(", ")
    val pCols = transient.flatMap(f => states.map(t =>
      s"coalesce(max(CASE WHEN f = '$f' AND t = '$t' THEN p END), 0.0) " +
        s"AS p_${f}_$t")).mkString(",\n           ")
    val sCols = states.map(f =>
      s"coalesce(max(CASE WHEN f = '$f' THEN sh END), 0.0) AS s_$f")
      .mkString(",\n           ")
    def termSum(target: String): String =
      transient.map(f => qs(s"v_$f * p_${f}_$target")).mkString(" + ")
    def chain(tag: String, removed: Option[String]): String = {
      def alive(x: String) = !removed.contains(x)
      val r0cols = transient.map(t =>
        (if (alive(t)) s"s_$t" else "0.0") + s" AS v_$t").mkString(", ")
      val r0 = s"${tag}0 AS (SELECT $r0cols, s_$conv AS conv FROM sd)"
      val rounds = (1 to horizon).map { k =>
        val vCols = transient.map { t =>
          val e = if (alive(t)) s"(${termSum(t)})" else "0.0"
          s"$e AS v_$t"
        }.mkString(", ")
        s"$tag$k AS MATERIALIZED (SELECT $vCols, " +
          s"conv + (${termSum(conv)}) AS conv FROM $tag${k - 1}, pm)"
      }
      (r0 +: rounds).mkString(",\n       ")
    }
    val chains = (chain("base", None) +: transient.map(ch =>
      chain(s"rm_$ch", Some(ch)))).mkString(",\n       ")
    val arms = transient.map { ch =>
      s"""SELECT '$ch' AS channel, base$horizon.conv AS base_conv,
           rm_$ch$horizon.conv AS removed_conv,
           CASE WHEN base$horizon.conv = 0.0 THEN 0.0
                ELSE (base$horizon.conv - rm_$ch$horizon.conv)
                     / base$horizon.conv END AS removal_effect
         FROM base$horizon, rm_$ch$horizon"""
    }.mkString("\n       UNION ALL ")
    s"""WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events
           WHERE event_type IN ($inList)),
       tr AS (SELECT event_type AS f,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS t
         FROM ev),
       c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM tr
             WHERE t IS NOT NULL AND f <> '$conv' GROUP BY 1, 2),
       tot AS (SELECT f, CAST(sum(n) AS BIGINT) AS nf FROM c GROUP BY 1),
       pq AS (SELECT c.f, c.t, ${qs("CAST(c.n AS DOUBLE) / tot.nf")} AS p
              FROM c JOIN tot USING (f)),
       pm AS MATERIALIZED (SELECT $pCols FROM pq),
       fe AS (SELECT f FROM (SELECT event_type AS f,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS rn
             FROM ev) WHERE rn = 1),
       fc AS (SELECT f, CAST(count(*) AS BIGINT) AS n FROM fe GROUP BY 1),
       nu AS (SELECT CAST(sum(n) AS BIGINT) AS n_users FROM fc),
       sq AS (SELECT f, ${qs("CAST(n AS DOUBLE) / n_users")} AS sh
              FROM fc, nu),
       sd AS MATERIALIZED (SELECT $sCols FROM sq),
       $chains
       SELECT channel, base_conv, removed_conv, removal_effect FROM (
         $arms) ORDER BY channel"""
  }

  val oracle: Map[String, String] = Map(
    "a72_markov_attribution" -> markovAttributionSql,
    // a73: identical trailing window (ts, event_id total order), the
    // same 2⁻²⁰ grid quantization, and the cross-multiplied z²>9 test
    // in HUGEINT (Spark's DECIMAL(38,0)) — flag and rollup are pure
    // integers; the rate is the one IEEE division of exact longs.
    "a73_anomaly_zscore" ->
      """WITH g AS (SELECT event_type, user_id, ts, event_id,
             CAST(floor(value * 1048576.0 + 0.5) AS BIGINT) AS vg
           FROM events WHERE value IS NOT NULL),
         w AS (SELECT event_type, vg,
             sum(vg) OVER win AS s1,
             sum(vg * vg) OVER win AS s2,
             count(*) OVER win AS nw
           FROM g
           WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
         s AS (SELECT event_type,
             CASE WHEN CAST(vg * 8 - s1 AS HUGEINT)
                        * CAST(vg * 8 - s1 AS HUGEINT) * 7
                      > CAST(72 AS HUGEINT)
                        * (CAST(s2 AS HUGEINT) * 8
                           - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT))
                  THEN 1 ELSE 0 END AS anom
           FROM w WHERE nw = 8)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored,
           CAST(sum(anom) AS BIGINT) AS n_anom,
           CAST(sum(anom) AS DOUBLE) / count(*) AS anom_rate
         FROM s GROUP BY 1 ORDER BY 1""",
    // a74: same exact integer midpoint split (// == Spark's div on
    // non-negative micros), HUGEINT contingency products, one
    // single-rounded cast each side of ONE IEEE division.
    "a74_dist_drift" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS us_min,
             max(epoch_us(ts)) AS us_max FROM events),
         t AS (SELECT event_type,
             CASE WHEN epoch_us(ts) <= (us_min + us_max) // 2
               THEN 1 ELSE 0 END AS early
           FROM events, b),
         c AS (SELECT event_type, CAST(sum(early) AS BIGINT) AS n_early,
             CAST(sum(1 - early) AS BIGINT) AS n_late
           FROM t GROUP BY 1),
         w AS (SELECT *, CAST(sum(n_early) OVER () AS BIGINT) AS te,
             CAST(sum(n_late) OVER () AS BIGINT) AS tl
           FROM c)
         SELECT event_type, n_early, n_late,
           CASE WHEN CAST(n_early + n_late AS HUGEINT) * te * tl = 0
             THEN 0.0
             ELSE CAST((CAST(n_early AS HUGEINT) * tl
                        - CAST(n_late AS HUGEINT) * te)
                     * (CAST(n_early AS HUGEINT) * tl
                        - CAST(n_late AS HUGEINT) * te) AS DOUBLE)
               / CAST(CAST(n_early + n_late AS HUGEINT) * te * tl
                   AS DOUBLE) END AS chi2_term
         FROM w ORDER BY event_type""",
    // a77: identical lag window, then the x109 sketch replay (murmur3
    // CTEs on event_id, rank by (hu, event_id, gap)) + the integer
    // percentile cuts — the st24/x113 oracle shape over durations.
    "a77_interarrival_quantiles" -> {
      val k = graft.operators.Sketches.QsK
      val (ctes, hc) =
        Murmur3Sql.hashLongCtes("qt", Seq("event_type", "gap", "event_id"),
          "gh")
      s"""WITH g0 AS (SELECT event_type, event_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS gap
           FROM events),
         qt AS (SELECT event_type, gap, event_id, event_id AS v
                FROM g0 WHERE gap IS NOT NULL),
         $ctes
         r AS (SELECT event_type, gap,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY hu, event_id, gap) AS rk
               FROM $hc),
         s AS (SELECT event_type, list(gap ORDER BY gap) AS vs,
                 CAST(count(*) AS BIGINT) AS n
               FROM r WHERE rk <= $k GROUP BY 1),
         c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps
               FROM qt GROUP BY 1)
         SELECT s.event_type, c.n_gaps, s.n AS sample_n,
           vs[(n*50+99)//100] AS p50_us,
           vs[(n*90+99)//100] AS p90_us,
           vs[(n*99+99)//100] AS p99_us
         FROM s JOIN c USING (event_type) ORDER BY event_type"""
    },
    // a78: a55's u1/u2/u3 funnel chain re-emitting the stage TIMES,
    // then the x109 sketch replay per hop (murmur3 on user_id, rank
    // by (hu, user_id, gap)) + integer percentile cuts.
    "a78_funnel_latency_quantiles" -> {
      val k = graft.operators.Sketches.QsK
      val (ctes, hc) =
        Murmur3Sql.hashLongCtes("qt", Seq("stage", "gap", "user_id"), "fq")
      s"""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                     FROM events),
         u1 AS (SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'signup' GROUP BY 1),
         u2 AS (SELECT e.user_id, min(e.ts) AS t2
                FROM e JOIN u1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > u1.t1 GROUP BY 1),
         u3 AS (SELECT e.user_id, min(e.ts) AS t3
                FROM e JOIN u2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > u2.t2 GROUP BY 1),
         gaps AS (
           SELECT '1_signup_to_click' AS stage, u2.user_id,
             epoch_us(t2) - epoch_us(t1) AS gap
           FROM u2 JOIN u1 USING (user_id)
           UNION ALL
           SELECT '2_click_to_purchase', u3.user_id,
             epoch_us(t3) - epoch_us(t2)
           FROM u3 JOIN u2 USING (user_id)),
         qt AS (SELECT stage, gap, user_id, user_id AS v FROM gaps),
         $ctes
         r AS (SELECT stage, gap,
                 row_number() OVER (PARTITION BY stage
                   ORDER BY hu, user_id, gap) AS rk
               FROM $hc),
         s AS (SELECT stage, list(gap ORDER BY gap) AS vs,
                 CAST(count(*) AS BIGINT) AS n
               FROM r WHERE rk <= $k GROUP BY 1),
         c AS (SELECT stage, CAST(count(*) AS BIGINT) AS n_conv
               FROM gaps GROUP BY 1)
         SELECT s.stage, c.n_conv, s.n AS sample_n,
           vs[(n*50+99)//100] AS p50_us,
           vs[(n*90+99)//100] AS p90_us
         FROM s JOIN c USING (stage) ORDER BY stage"""
    },
    // a79: the customer RFM rollup (exact cents via floor(x·100+0.5)),
    // ONE murmur3 bottom-k rank on custkey (membership is (hu, ck) —
    // identical for all three dimensions, so one sample provides all
    // six tertile edges), integer percentile cuts, then the 3×3×3
    // bucket rollup.
    "a79_rfm_segments" -> {
      val k = graft.operators.Sketches.QsK
      val (ctes, hc) =
        Murmur3Sql.hashLongCtes("c1", Seq("ck", "r_days", "f", "m"), "rf")
      s"""WITH dmx AS (SELECT max(CAST(o_orderdate AS DATE)) AS dmax
             FROM orders),
         c0 AS (SELECT o_custkey AS ck,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS m,
             max(CAST(o_orderdate AS DATE)) AS last_d
           FROM orders GROUP BY 1),
         c1 AS (SELECT ck,
             CAST(date_diff('day', last_d, dmax) AS BIGINT) AS r_days,
             f, m, ck AS v FROM c0, dmx),
         $ctes
         r AS (SELECT ck, r_days, f, m,
                 row_number() OVER (ORDER BY hu, ck) AS rk FROM $hc),
         smp AS (SELECT list(r_days ORDER BY r_days) AS rv,
                   list(f ORDER BY f) AS fv,
                   list(m ORDER BY m) AS mv,
                   CAST(count(*) AS BIGINT) AS n
                 FROM r WHERE rk <= $k),
         e AS (SELECT rv[(n*33+99)//100] AS r_e1, rv[(n*67+99)//100] AS r_e2,
                 fv[(n*33+99)//100] AS f_e1, fv[(n*67+99)//100] AS f_e2,
                 mv[(n*33+99)//100] AS m_e1, mv[(n*67+99)//100] AS m_e2
               FROM smp),
         b AS (SELECT
             CASE WHEN c.r_days <= e.r_e1 THEN 0
                  WHEN c.r_days <= e.r_e2 THEN 1 ELSE 2 END AS r_b,
             CASE WHEN c.f <= e.f_e1 THEN 0
                  WHEN c.f <= e.f_e2 THEN 1 ELSE 2 END AS f_b,
             CASE WHEN c.m <= e.m_e1 THEN 0
                  WHEN c.m <= e.m_e2 THEN 1 ELSE 2 END AS m_b,
             c.f, c.m
           FROM c1 c, e)
         SELECT CAST(r_b AS INTEGER) AS r_b, CAST(f_b AS INTEGER) AS f_b,
           CAST(m_b AS INTEGER) AS m_b,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(f) AS BIGINT) AS orders_total,
           CAST(sum(m) AS BIGINT) AS m_total_cents
         FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""
    },
    // a82: the same cohort min / month offset / cents rollup and the
    // month-0 self-join — integer cents and integer bp both engines.
    "a82_cohort_revenue" ->
      """WITH o AS (SELECT o_custkey AS ck,
             date_trunc('month', o_orderdate) AS m,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
         c AS (SELECT ck, min(m) AS cohort_m FROM o GROUP BY 1),
         t AS (SELECT cohort_m,
             CAST(date_diff('month', cohort_m, m) AS INTEGER) AS offset_m,
             CAST(count(DISTINCT ck) AS BIGINT) AS n_cust,
             CAST(sum(cents) AS BIGINT) AS rev_cents
           FROM o JOIN c USING (ck) GROUP BY 1, 2),
         b AS (SELECT cohort_m, rev_cents AS rev0 FROM t WHERE offset_m = 0)
         SELECT t.cohort_m, t.offset_m, t.n_cust, t.rev_cents,
           CAST(t.rev_cents * 10000 // greatest(b.rev0, 1) AS BIGINT) AS rev_bp
         FROM t JOIN b USING (cohort_m) ORDER BY 1, 2""",

    // a81: each report day's trailing-7-day bottom-k recomputed
    // DIRECTLY (murmur3 on event_id, rank within the window) —
    // equality with Spark's merge-of-daily-sketches IS the bottom-k
    // semilattice, the a70/x109 proof shape for sliding windows.
    "a81_rolling_quantiles" -> {
      val k = graft.operators.Sketches.QsK
      val (ctes, hc) =
        Murmur3Sql.hashLongCtes("e0", Seq("d", "vg", "event_id"), "rq")
      s"""WITH e0 AS (SELECT CAST(ts AS DATE) AS d, event_id,
             CAST(floor(value * 1048576 + 0.5) AS BIGINT) AS vg,
             event_id AS v
           FROM events WHERE value IS NOT NULL),
         $ctes
         days AS (SELECT DISTINCT d AS day FROM e0),
         w AS (SELECT days.day, vg, event_id, hu
               FROM days JOIN $hc h
                 ON h.d BETWEEN days.day - 6 AND days.day),
         r AS (SELECT day, vg,
                 row_number() OVER (PARTITION BY day
                   ORDER BY hu, event_id, vg) AS rk
               FROM w),
         s AS (SELECT day, list(vg ORDER BY vg) AS vs,
                 CAST(count(*) AS BIGINT) AS n
               FROM r WHERE rk <= $k GROUP BY 1)
         SELECT day, n AS sample_n,
           vs[(n*50+99)//100] AS p50_vg,
           vs[(n*90+99)//100] AS p90_vg
         FROM s ORDER BY day"""
    },
    // a83: the identical gap rule over the identical (ts, event_id)
    // total order — lag → run flag → running sum = session id, then
    // the same two rollups. epoch_us ≡ Spark's unix_micros (µs-exact
    // integers; the fixture's TIMESTAMP(µs) physical type loses
    // nothing on either engine). Shared verbatim by st28.
    "a83_sessionize" -> SessionizeOracleSql,
    // a84: identical distinct-point sweep — running max of size over
    // the strictly-earlier prefix in (price asc, size desc) order.
    "a84_pareto_frontier" ->
      """WITH pts AS (SELECT p_brand AS brand,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
               AS price_cents,
             CAST(p_size AS INTEGER) AS size,
             CAST(count(*) AS BIGINT) AS n_parts
           FROM part GROUP BY 1, 2, 3),
         sw AS (SELECT *, max(size) OVER (PARTITION BY brand
             ORDER BY price_cents ASC, size DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS msb FROM pts),
         fr AS (SELECT * FROM sw WHERE msb IS NULL OR size > msb)
         SELECT brand, CAST(row_number() OVER (PARTITION BY brand
             ORDER BY price_cents ASC, size DESC) AS INTEGER) AS rk,
           price_cents, size, n_parts
         FROM fr ORDER BY brand, rk""",
    // a85: DuckDB dayofweek is 0=Sunday..6; Spark's is 1..7 → +1.
    "a85_dow_seasonality" ->
      """WITH cells AS (SELECT event_type,
             CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INTEGER) AS dow,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT *, sum(n) OVER (PARTITION BY event_type)
               AS n_total,
             max(n) OVER (PARTITION BY event_type) AS n_max
           FROM cells)
         SELECT event_type, dow, n,
           CAST(n * 1048576 // n_total AS BIGINT) AS share_q,
           CAST(n * 7 * 1048576 // n_total AS BIGINT) AS index_q,
           CAST(min(CASE WHEN n = n_max THEN dow END)
             OVER (PARTITION BY event_type) AS INTEGER) AS peak_dow
         FROM t ORDER BY event_type, dow""",
    // a86: the same integer OLS sums; DuckDB // was MEASURED to
    // truncate toward zero on negatives (-7 // 2 = -3), matching Spark
    // div — not floor division (negative-slope case pinned in
    // Round13OpsSpec).
    "a86_daily_trend" ->
      """WITH daily AS (SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(y) AS BIGINT) AS n_events,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y * x) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
           FROM daily GROUP BY 1)
         SELECT event_type, n_days, n_events,
           CAST(CASE WHEN n_days * sxx - sx * sx = 0 THEN 0
             ELSE (n_days * sxy - sx * n_events) * 1048576
               // (n_days * sxx - sx * sx) END AS BIGINT) AS slope_q
         FROM s ORDER BY event_type""",
    // a87: the same per-customer rollup, the same (metric, custkey)
    // total orders per nation — ntile is ANSI on both engines (first
    // buckets take the remainder), and the custkey tiebreak makes the
    // row order, hence every bucket boundary, deterministic. Exact
    // cents; datediff ≡ date_diff('day', lastd, maxd); ntile cast to
    // INTEGER to match Spark's int.
    "a87_rfm_segments" ->
      """WITH per AS (SELECT o_custkey AS ck, max(o_orderdate) AS lastd,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         a AS (SELECT max(o_orderdate) AS maxd FROM orders),
         s AS (SELECT c.c_nationkey AS nk, per.ck, per.f, per.cents,
             CAST(date_diff('day', per.lastd, a.maxd) AS BIGINT) AS r_days
           FROM per JOIN customer c ON per.ck = c.c_custkey, a),
         t AS (SELECT nk, ck, cents,
             CAST(ntile(5) OVER (PARTITION BY nk
               ORDER BY r_days DESC, ck) AS INTEGER) AS r_score,
             CAST(ntile(5) OVER (PARTITION BY nk
               ORDER BY f, ck) AS INTEGER) AS f_score,
             CAST(ntile(5) OVER (PARTITION BY nk
               ORDER BY cents, ck) AS INTEGER) AS m_score
           FROM s)
         SELECT nk, r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM t GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""",
    // a88: the same exact e4-unit revenue (DECIMAL product is scale-4,
    // ×10000 is integer-valued, the BIGINT cast never truncates), the
    // same (rev desc, partkey) total order and the same integer
    // prefix-coverage rules — (cum−rev)·5 < tot·4 / (cum−rev)·20 <
    // tot·19 (the crossing part is A). HUGEINT window sums compare
    // fine; only output columns cast back.
    "a88_abc_pareto" ->
      """WITH rev AS (SELECT p_brand, p_partkey,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000
               AS BIGINT)) AS BIGINT) AS rev_e4
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2),
         w AS (SELECT p_brand, rev_e4,
             sum(rev_e4) OVER (PARTITION BY p_brand
               ORDER BY rev_e4 DESC, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(rev_e4) OVER (PARTITION BY p_brand) AS tot
           FROM rev)
         SELECT p_brand,
           CASE WHEN (cum - rev_e4) * 5 < tot * 4 THEN 'A'
                WHEN (cum - rev_e4) * 20 < tot * 19 THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_e4) AS BIGINT) AS class_rev_e4
         FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    // a89: the same period split, the same exact-cents rollups and the
    // same (cents, ck) ntile total order per nation; absent periods
    // coalesce to class 0 off the customer-dim base; ntile cast to
    // INTEGER to match Spark's int.
    "a89_segment_migration" ->
      """WITH cust AS (SELECT c_custkey AS ck, c_nationkey AS nk
           FROM customer),
         s1 AS (SELECT o_custkey AS ck,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders WHERE o_orderdate < DATE '1998-01-01'
           GROUP BY 1),
         s2 AS (SELECT o_custkey AS ck,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders WHERE o_orderdate >= DATE '1998-01-01'
           GROUP BY 1),
         t1 AS (SELECT s1.ck,
             CAST(ntile(3) OVER (PARTITION BY nk
               ORDER BY cents, s1.ck) AS INTEGER) AS c1
           FROM s1 JOIN cust ON s1.ck = cust.ck),
         t2 AS (SELECT s2.ck,
             CAST(ntile(3) OVER (PARTITION BY nk
               ORDER BY cents, s2.ck) AS INTEGER) AS c2
           FROM s2 JOIN cust ON s2.ck = cust.ck)
         SELECT nk, coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2,
           CAST(count(*) AS BIGINT) AS n_cust
         FROM cust LEFT JOIN t1 ON cust.ck = t1.ck
                   LEFT JOIN t2 ON cust.ck = t2.ck
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    // a90: the identical all-integer e8 tree — v4 and t4 from exact
    // DECIMAL casts, line value v4·(10000+t4), header cents·10^6 —
    // and the same left-join/null accounting.
    "a90_order_reconciliation" ->
      """WITH line AS (SELECT l_orderkey AS ok,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000
                 AS BIGINT)
               * (10000 + CAST(CAST(l_tax AS DECIMAL(12,2)) * 10000
                 AS BIGINT))) AS BIGINT) AS line_e8
           FROM lineitem GROUP BY 1),
         o AS (SELECT o_orderkey AS ok, o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 1000000
               AS order_e8
           FROM orders),
         j AS (SELECT o.o_orderpriority, line.line_e8,
             abs(coalesce(line.line_e8, 0) - o.order_e8) AS diff_e8
           FROM o LEFT JOIN line ON o.ok = line.ok)
         SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN diff_e8 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(sum(CASE WHEN line_e8 IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_no_lines,
           CAST(max(diff_e8) AS BIGINT) AS max_diff_e8,
           CAST(sum(diff_e8) AS BIGINT) AS sum_diff_e8
         FROM j GROUP BY 1 ORDER BY 1""",
    // a91: per-line e4 cast before the sum (the a88/a90 exactness
    // route), the same (rev desc, suppkey) rank tiebreak, and the
    // identical truncating `//` basis-point division (positive
    // operands, so floor ≡ truncate).
    "a91_supplier_concentration" ->
      """WITH rev AS (SELECT l_suppkey AS sk,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000
                 AS BIGINT)) AS BIGINT) AS rev_e4
           FROM lineitem GROUP BY 1),
         j AS (SELECT n.n_name, rev.sk, rev.rev_e4,
             row_number() OVER (PARTITION BY s.s_nationkey
               ORDER BY rev.rev_e4 DESC, rev.sk) AS r
           FROM rev JOIN supplier s ON rev.sk = s.s_suppkey
             JOIN nation n ON s.s_nationkey = n.n_nationkey)
         SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(rev_e4) AS BIGINT) AS tot_rev_e4,
           CAST(sum(CASE WHEN r = 1 THEN rev_e4 ELSE 0 END) AS BIGINT)
             AS top1_rev_e4,
           CAST(sum(CASE WHEN r <= 4 THEN rev_e4 ELSE 0 END) AS BIGINT)
             AS top4_rev_e4,
           CAST(sum(CASE WHEN r <= 4 THEN rev_e4 ELSE 0 END) * 10000
             // greatest(sum(rev_e4), 1) AS BIGINT) AS cr4_bp
         FROM j GROUP BY 1 ORDER BY 1""",

    // a92: count(DISTINCT supplier) per part ≡ the Spark pair-distinct
    // + count; the LEFT JOIN from the part dim carries k = 0.
    "a92_supplier_redundancy" ->
      """WITH k AS (SELECT l_partkey AS pk,
             CAST(count(DISTINCT l_suppkey) AS BIGINT) AS ks
           FROM lineitem GROUP BY 1)
         SELECT p_brand, CAST(coalesce(k.ks, 0) AS BIGINT) AS n_suppliers,
           CAST(count(*) AS BIGINT) AS n_parts
         FROM part LEFT JOIN k ON p_partkey = k.pk
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // a93: per-line e4 cast before the sum (the a88/a90 route); the
    // domestic flag computed on the grouped pair in the outer select.
    "a93_trade_matrix" ->
      """WITH j AS (SELECT sn.n_name AS supp_nation,
             cn.n_name AS cust_nation,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000
               AS BIGINT) AS rev
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey)
         SELECT supp_nation, cust_nation,
           CAST(sum(rev) AS BIGINT) AS rev_e4,
           CAST(count(*) AS BIGINT) AS n_items,
           supp_nation = cust_nation AS is_domestic
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""",

    // a94: the same (shipdate, orderkey, linenumber) total order per
    // (customer, part) pair and the identical truncating `//` division
    // (positive operands — floor ≡ truncate).
    "a94_repeat_purchase" ->
      """WITH li AS (SELECT l_orderkey, l_partkey, l_linenumber,
             l_shipdate,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000
               AS BIGINT) AS rev
           FROM lineitem),
         s AS (SELECT li.*, o.o_custkey,
             row_number() OVER (PARTITION BY o.o_custkey, li.l_partkey
               ORDER BY li.l_shipdate, li.l_orderkey, li.l_linenumber)
               AS seq
           FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey)
         SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN seq >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat_lines,
           CAST(sum(rev) AS BIGINT) AS rev_e4,
           CAST(sum(CASE WHEN seq >= 2 THEN rev ELSE 0 END) AS BIGINT)
             AS repeat_rev_e4,
           CAST(sum(CASE WHEN seq >= 2 THEN rev ELSE 0 END) * 10000
             // greatest(sum(rev), 1) AS BIGINT) AS repeat_bp
         FROM s JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY 1""",

    // a95: the same five-join tree as a93, cross-border filter, the
    // UNION ALL dual of the Spark side's explode-to-flows, one rollup.
    "a95_trade_balance" ->
      """WITH j AS (SELECT sn.n_name AS supp_nation,
             cn.n_name AS cust_nation,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l_discount AS DECIMAL(12,2))) * 10000
               AS BIGINT) AS rev
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           WHERE sn.n_name <> cn.n_name),
         f AS (SELECT supp_nation AS nation, 1 AS is_ex, rev FROM j
           UNION ALL SELECT cust_nation, 0, rev FROM j)
         SELECT nation,
           CAST(sum(CASE WHEN is_ex = 1 THEN rev ELSE 0 END) AS BIGINT)
             AS export_e4,
           CAST(sum(CASE WHEN is_ex = 0 THEN rev ELSE 0 END) AS BIGINT)
             AS import_e4,
           CAST(sum(is_ex) AS BIGINT) AS n_export_lines,
           CAST(sum(1 - is_ex) AS BIGINT) AS n_import_lines,
           CAST(sum(CASE WHEN is_ex = 1 THEN rev ELSE 0 END)
             - sum(CASE WHEN is_ex = 0 THEN rev ELSE 0 END) AS BIGINT)
             AS balance_e4
         FROM f GROUP BY 1 ORDER BY 1""",

    // a80: the CUSUM closed form replayed — per-type totals via a CTE
    // join (same integers as the Spark windows), prefix sums, running
    // min, max statistic + earliest argmax day + alarm-day count.
    "a80_changepoint" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS total FROM daily GROUP BY 1),
         sc AS (SELECT event_type, d, x, n_days, total,
             sum(x * n_days - total) OVER (PARTITION BY event_type
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS p
           FROM daily JOIN tot USING (event_type)),
         s2 AS (SELECT *, p - least(min(p) OVER (PARTITION BY event_type
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               0) AS s
           FROM sc),
         s3 AS (SELECT *, max(s) OVER (PARTITION BY event_type) AS s_max
                FROM s2)
         SELECT event_type, max(n_days) AS n_days, max(total) AS total_events,
           CAST(max(s) AS BIGINT) AS s_max,
           min(CASE WHEN s = s_max THEN d END) AS changepoint_day,
           CAST(sum(CASE WHEN s > total THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarm_days
         FROM s3 GROUP BY 1 ORDER BY 1""",
    // a76: the same total-ordered rank window and the identical
    // rational Gini tree in HUGEINT; gini_q is the integer grid cut.
    "a76_activity_gini" ->
      """WITH pu AS (SELECT event_type, user_id,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         r AS (SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type
               ORDER BY c, user_id) AS i
           FROM pu),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(c) AS BIGINT) AS n_events,
             sum(CAST(i AS HUGEINT) * c) AS s_ic
           FROM r GROUP BY 1)
         SELECT event_type, n_users, n_events,
           CAST((2 * s_ic - CAST(n_users + 1 AS HUGEINT) * n_events)
                * 1048576
              // (CAST(n_users AS HUGEINT) * n_events) AS BIGINT)
             AS gini_q
         FROM g ORDER BY event_type""",
    // a75: the same rank window + ordered string_agg path assembly
    // (NULLs beyond rank k drop out of the aggregate on both engines).
    "a75_top_paths" ->
      """WITH r AS (SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events),
         u AS (SELECT user_id,
             string_agg(CASE WHEN rn <= 5 THEN event_type END,
               '>' ORDER BY rn) AS path,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
           FROM r GROUP BY 1)
         SELECT path, CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(conv) AS BIGINT) AS n_conv
         FROM u GROUP BY 1 ORDER BY n_users DESC, path""",
    "a01_agg_pricing" ->
      """SELECT l_returnflag AS rflag, l_linestatus AS lstatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DECIMAL(24,2)) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)) * CAST(1 + CAST(l_tax AS DECIMAL(12,2)) AS DECIMAL(4,2))), 2) AS DECIMAL(24,2)) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(count(*) AS BIGINT) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY rflag, lstatus ORDER BY rflag, lstatus""",
    "a02_join_broadcast" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_value
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "a03_join_star" ->
      """SELECT r_name, n_name,
           CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DECIMAL(24,2)) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "a04_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "a05_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "a06_outer_join" ->
      """SELECT p_partkey, CAST(count(l_orderkey) AS BIGINT) AS n_lineitems
         FROM part LEFT JOIN lineitem ON l_partkey = p_partkey
         GROUP BY p_partkey ORDER BY p_partkey""",
    "a07_window_rank" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_orderpriority, rn""",
    "a08_window_running" ->
      """SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "a09_rollup" ->
      """SELECT l_returnflag AS rflag, l_linestatus AS lstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY rflag ASC NULLS FIRST, lstatus ASC NULLS FIRST""",
    "a10_distinct_agg" ->
      """SELECT l_returnflag AS rflag,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
         FROM lineitem GROUP BY l_returnflag ORDER BY rflag""",
    "a11_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    "a12_intersect" ->
      """SELECT s_nationkey AS nationkey FROM supplier
         INTERSECT SELECT c_nationkey FROM customer ORDER BY nationkey""",
    "a13_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
         EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey""",
    "a14_scalar_funcs" ->
      """SELECT o_orderkey,
           upper(o_orderstatus) AS status_u,
           substr(o_orderpriority, 1, 1) AS prio_code,
           CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
           o_orderstatus || '-' || o_orderpriority AS status_prio,
           CAST(year(o_orderdate) AS INTEGER) AS oyear,
           CAST(month(o_orderdate) AS INTEGER) AS omonth,
           CAST(day(o_orderdate) AS INTEGER) AS oday,
           CAST(floor(o_totalprice) AS BIGINT) AS floor_price
         FROM orders ORDER BY o_orderkey""",
    "a15_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
           embedding[1] AS first_val, label
         FROM embeddings ORDER BY vec_id""",
    "a16_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
         FROM events ORDER BY event_id""",
    // NULLIF mirrors Spark's pivot semantics: a (user, type) combo with no
    // rows aggregates to NULL, not 0.
    "a17_pivot" ->
      """SELECT user_id,
           nullif(count(*) FILTER (WHERE event_type = 'click'), 0) AS click,
           nullif(count(*) FILTER (WHERE event_type = 'error'), 0) AS error,
           nullif(count(*) FILTER (WHERE event_type = 'purchase'), 0) AS purchase,
           nullif(count(*) FILTER (WHERE event_type = 'signup'), 0) AS signup,
           nullif(count(*) FILTER (WHERE event_type = 'view'), 0) AS view
         FROM events GROUP BY user_id ORDER BY user_id""",
    "a18_sql_interface" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS oyear,
              CAST(count(*) AS BIGINT) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",
    "a19_collect_set" ->
      """SELECT l_returnflag AS rflag,
              array_to_string(list_sort(list(DISTINCT l_linestatus)), '|') AS statuses
         FROM lineitem GROUP BY 1 ORDER BY rflag""",
    "a20_asof_join" ->
      """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, e.event_type,
           CAST(p.ts AS TIMESTAMP) AS last_purchase_ts,
           p.value AS last_purchase_value
         FROM events e
         ASOF LEFT JOIN (SELECT user_id, ts, arg_max(value, event_id) AS value
                         FROM events WHERE event_type = 'purchase'
                         GROUP BY user_id, ts) p
           ON e.user_id = p.user_id AND e.ts >= p.ts
         ORDER BY e.event_id""",
    "a21_percentile" ->
      """SELECT o_orderstatus AS status,
           floor(quantile_cont(o_totalprice, 0.5) * 1000000 + 0.5) / 1000000 AS median_price,
           floor(quantile_cont(o_totalprice, 0.9) * 1000000 + 0.5) / 1000000 AS p90_price
         FROM orders GROUP BY 1 ORDER BY status""",
    "a22_date_spine" ->
      """WITH spine AS (
           SELECT unnest(generate_series(
             date_trunc('month', (SELECT min(o_orderdate) FROM orders)),
             date_trunc('month', (SELECT max(o_orderdate) FROM orders)),
             INTERVAL 1 MONTH)) AS month_start),
         counts AS (
           SELECT date_trunc('month', o_orderdate) AS month_start,
             CAST(count(*) AS BIGINT) AS n_orders
           FROM orders GROUP BY 1)
         SELECT CAST(s.month_start AS TIMESTAMP) AS month_start,
           coalesce(c.n_orders, 0) AS n_orders
         FROM spine s LEFT JOIN counts c ON s.month_start = c.month_start
         ORDER BY month_start""",
    "a23_approx_distinct" -> hllDistinctSql,
    "a24_typed_agg" ->
      """SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS min_cents,
           CAST(max(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS max_cents,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM orders GROUP BY 1 ORDER BY status""",
    "a25_salted_agg" ->
      """SELECT l_returnflag AS rflag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY 1 ORDER BY rflag""",
    "a26_subqueries" -> subqueriesSql,
    "a34_window_range" ->
      """SELECT o_custkey, o_orderkey,
           CAST(count(*) OVER w AS BIGINT) AS n_recent,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS recent_value
         FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS INTEGER) AS days
           FROM orders)
         WINDOW w AS (PARTITION BY o_custkey ORDER BY days
                      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, o_orderkey""",
    "a35_ntile_rank" ->
      """SELECT o_orderkey, o_orderstatus AS status,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cum_dist
         FROM (
           SELECT o_orderkey, o_orderstatus,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders)
         WINDOW w AS (PARTITION BY o_orderstatus ORDER BY cents, o_orderkey)
         ORDER BY o_orderkey""",
    "a36_grouping_sets" ->
      """SELECT l_returnflag AS rflag, l_linestatus AS lstatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         ORDER BY gid, rflag NULLS FIRST, lstatus NULLS FIRST""",
    "a37_variant" ->
      """SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k_val,
           json_extract_string(props, '$.missing') AS missing_val
         FROM events ORDER BY event_id""",
    "a38_try_funcs" ->
      """SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(l_discount, 0) AS price_per_disc,
           CAST(NULL AS DOUBLE) AS div_zero,
           TRY_CAST(l_returnflag AS DOUBLE) AS bad_cast,
           l_quantity + l_tax AS qty_tax
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "a39_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         f AS (SELECT user_id, event_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_sess
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, ts,
                sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
               FROM f)
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
         FROM s GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq""",
    "a41_quantile_hist" ->
      """WITH counts AS (
           SELECT o_orderstatus AS status,
             CAST(floor(o_totalprice / 100) AS BIGINT) AS bucket,
             count(*) AS c
           FROM orders GROUP BY 1, 2),
         cum AS (
           SELECT status, bucket, c,
             sum(c) OVER (PARTITION BY status ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(c) OVER (PARTITION BY status) AS n
           FROM counts),
         p50 AS (SELECT status, min(bucket) AS p50_bucket FROM cum
                 WHERE cum >= ceil(n * 0.5) GROUP BY 1),
         p90 AS (SELECT status, min(bucket) AS p90_bucket FROM cum
                 WHERE cum >= ceil(n * 0.9) GROUP BY 1)
         SELECT status, p50_bucket, p90_bucket
         FROM p50 JOIN p90 USING (status) ORDER BY status""",
    "a40_stats_agg" ->
      """WITH m AS (
           SELECT l_returnflag AS rflag,
             CAST(count(*) AS BIGINT) AS n,
             -- scale each sum to an integer-valued DECIMAL(38,0) before
             -- the double cast: int→double is a single correctly-rounded
             -- conversion in both engines, while a fractional decimal
             -- cast double-rounds here (int128→double→÷10^scale) once
             -- the scaled value exceeds 2^53
             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS DECIMAL(38,0)) AS DOUBLE) / 100.0 AS sx,
             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) * 10000 AS DECIMAL(38,0)) AS DOUBLE) / 10000.0 AS sxx,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS DECIMAL(38,0)) AS DOUBLE) / 100.0 AS sy,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) * 10000 AS DECIMAL(38,0)) AS DOUBLE) / 10000.0 AS syy,
             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) * 10000 AS DECIMAL(38,0)) AS DOUBLE) / 10000.0 AS sxy
           FROM lineitem GROUP BY 1),
         -- every binary float op staged as its own column: a fused
         -- multiply-add inside one expression (FMA contraction) differs
         -- from the JVM's unfused rounding by 1 ulp — observed on
         -- corr's numerator at sf0.001
         p1 AS (SELECT rflag, n, sx,
                  n * sxy AS nxy, sx * sy AS xy,
                  n * sxx AS nxx, sx * sx AS xx,
                  n * syy AS nyy, sy * sy AS yy,
                  n * (n - 1) AS g
                FROM m),
         p2 AS (SELECT rflag, n, sx, g,
                  nxy - xy AS num, nxx - xx AS dx, nyy - yy AS dy
                FROM p1),
         p3 AS (SELECT rflag, n, sx, num, dx / g AS var_qty,
                  sqrt(dx) AS rx, sqrt(dy) AS ry
                FROM p2),
         p4 AS (SELECT rflag, n, sx, num, var_qty, rx * ry AS den FROM p3)
         SELECT rflag, n,
           sx / n AS mean_qty,
           var_qty,
           sqrt(var_qty) AS std_qty,
           num / den AS corr_qty_price
         FROM p4 ORDER BY rflag""",
    "a33_date_funcs" ->
      """SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS odate,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(quarter(o_orderdate) AS INTEGER) AS oquarter,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS oday_of_year,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS omonth_start
         FROM orders ORDER BY o_orderkey""",
    "a42_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER wf AS first_price,
           last_value(o_totalprice) OVER wf AS last_price,
           nth_value(o_totalprice, 2) OVER wf AS second_price,
           lead(o_orderkey, 1) OVER w AS next_key,
           CAST(row_number() OVER w AS INTEGER) AS seq
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_custkey, o_orderkey""",
    "a44_higher_order" ->
      """WITH q AS (
           SELECT l_orderkey, list_sort(list(CAST(l_quantity AS INTEGER))) AS q
           FROM lineitem GROUP BY l_orderkey)
         SELECT l_orderkey,
           CAST(len(q) AS INTEGER) AS n,
           CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT))) AS BIGINT) AS q_sum,
           CAST(len(list_filter(q, x -> x > 25)) AS INTEGER) AS n_big,
           CAST(CASE WHEN len(list_filter(q, x -> x = 50)) > 0
                THEN 1 ELSE 0 END AS INTEGER) AS has_50,
           CAST(list_sum(list_transform(range(1, len(q) + 1),
             i -> CAST(q[i] AS BIGINT) * q[len(q) - i + 1])) AS BIGINT) AS rev_dot,
           array_to_string(list_transform(q, x -> CAST(x * 2 AS VARCHAR)), ',') AS doubled
         FROM q ORDER BY l_orderkey""",
    "a31_string_funcs" ->
      """SELECT c_custkey,
           lpad(c_mktsegment, 12, '*') AS seg_lpad,
           rpad(c_mktsegment, 12, '*') AS seg_rpad,
           trim('  ' || c_mktsegment || '  ') AS seg_trim,
           regexp_replace(c_name, '0', '#', 'g') AS name_repl,
           reverse(c_mktsegment) AS seg_rev,
           CAST(strpos(c_name, '00') AS INTEGER) AS name_pos,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_trans,
           split_part(c_name, '#', 2) AS name_num
         FROM customer ORDER BY c_custkey""",
    "a32_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
           sqrt(l_quantity) AS qty_sqrt,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
           l_quantity * l_quantity AS qty_sq,
           CAST(mod(l_linenumber, 3) AS INTEGER) AS ln_mod,
           greatest(l_tax, l_discount) AS tax_max,
           least(l_tax, l_discount) AS tax_min,
           CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "a29_intersect_all" ->
      """SELECT * FROM (
           SELECT l_suppkey AS k FROM lineitem
           INTERSECT ALL
           SELECT o_custkey FROM orders)
         ORDER BY k""",
    "a30_except_all" ->
      """SELECT * FROM (
           SELECT s_nationkey AS k FROM supplier
           EXCEPT ALL
           SELECT n_nationkey FROM nation)
         ORDER BY k""",
    "a27_cube" ->
      """SELECT l_returnflag AS rflag, l_linestatus AS lstatus,
           CAST(count(*) AS BIGINT) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY rflag ASC NULLS FIRST, lstatus ASC NULLS FIRST""",
    "a28_window_lag" ->
      """SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
             CAST(lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS DATE),
             CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "a45_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, val FROM (
           UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
                    FROM lineitem WHERE l_orderkey < 200)
           ON l_quantity, l_discount, l_tax INTO NAME measure VALUE val)
         ORDER BY l_orderkey, l_linenumber, measure""",
    // Map semantics replayed as scalar conditionals: kept = filter(v >
    // 100000) over {base: price, disc: price*0.9}; keys sorted.
    "a46_map_funcs" ->
      """SELECT o_orderkey,
           CASE WHEN o_totalprice > 100000 AND o_totalprice * 0.9 > 100000 THEN 'base,disc'
                WHEN o_totalprice > 100000 THEN 'base'
                WHEN o_totalprice * 0.9 > 100000 THEN 'disc'
                ELSE '' END AS kept_keys,
           o_totalprice / 100 AS base_h,
           o_totalprice * 0.9 / 100 AS disc_h,
           CAST(2 AS INTEGER) AS m_size
         FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""",
    "a47_range_join" ->
      """SELECT b.bucket_id, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM orders o
         JOIN (VALUES (1, 0.0, 50000.0), (2, 50000.0, 150000.0),
                      (3, 150000.0, 300000.0), (4, 300000.0, 1000000000.0))
              AS b(bucket_id, lo, hi)
           ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
         GROUP BY b.bucket_id ORDER BY b.bucket_id""",
    "a48_posexplode" ->
      """SELECT doc_id, CAST(pos AS INTEGER) AS pos, word FROM (
           SELECT doc_id,
             unnest(range(0, len(ws))) AS pos,
             unnest(ws) AS word
           FROM (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents WHERE doc_id < 300))
         WHERE pos < 5 ORDER BY doc_id, pos""",
    "a49_filter_agg" ->
      """SELECT o_orderstatus AS status,
           CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_pos,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_total
         FROM orders GROUP BY 1 ORDER BY status""",
    "a50_regexp_battery" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[aeiou]+')) AS INTEGER) AS n_vowelruns,
           regexp_extract(text, '(^| )(s[a-z]+)', 2) AS first_sword,
           CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS INTEGER) AS len_novowels,
           substr(regexp_replace(text, '[aeiou]', '#', 'g'), 1, 40) AS masked40
         FROM documents WHERE doc_id < 500 ORDER BY doc_id""",
    // unnest of [NULL] emulates the outer generator for empty lists.
    "a51_explode_outer" ->
      """WITH r AS (SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w LIKE 'wi%') AS hits
           FROM documents WHERE doc_id < 300)
         SELECT doc_id,
           unnest(CASE WHEN len(hits) = 0 THEN [NULL] ELSE hits END) AS hit
         FROM r ORDER BY doc_id, hit""",
    "a52_window_ignore_nulls" ->
      """SELECT o_custkey, o_orderkey,
           lag(f_price, 1 IGNORE NULLS) OVER w AS prev_f_price,
           last_value(f_price IGNORE NULLS) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latest_f_price
         FROM (SELECT *, CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS f_price
               FROM orders)
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    // epoch() is fractional in DuckDB — floor to match Spark's
    // second-truncating unix_timestamp (event ts all carry micros).
    "a53_timestamp_funcs" ->
      """SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           CAST(date_part('hour', ts) AS INTEGER) AS h,
           CAST(date_part('minute', ts) AS INTEGER) AS mi,
           CAST(date_part('second', ts) AS INTEGER) AS sec,
           make_date(CAST(date_part('year', ts) AS INTEGER),
                     CAST(date_part('month', ts) AS INTEGER),
                     CAST(date_part('day', ts) AS INTEGER)) AS d,
           CAST(to_timestamp(floor(epoch(ts))) AS TIMESTAMP) AS ts_sec
         FROM events WHERE event_id < 2000 ORDER BY event_id""",
    "a54_array_setops" ->
      """WITH t AS (
           SELECT doc_id,
             string_split(text, ' ')[1:8] AS w1,
             string_split(text, ' ')[5:12] AS w2
           FROM documents
           WHERE doc_id < 500 AND len(string_split(text, ' ')) >= 12)
         SELECT doc_id,
           coalesce(array_to_string(list_sort(list_distinct(list_concat(w1, w2))), '|'), '') AS u,
           coalesce(array_to_string(list_sort(list_intersect(w1, w2)), '|'), '') AS i,
           coalesce(array_to_string(list_sort(list_distinct(
             list_filter(w1, x -> NOT list_contains(w2, x)))), '|'), '') AS e,
           CAST(coalesce(list_position(w1, w2[1]), 0) AS BIGINT) AS pos1,
           list_has_any(w1, w2) AS ovl
         FROM t ORDER BY doc_id""",
    "a55_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                    FROM events),
         u1 AS (SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'signup' GROUP BY 1),
         u2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN u1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > u1.t1 GROUP BY 1),
         u3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN u2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > u2.t2 GROUP BY 1),
         c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM u1) AS u1n,
                      (SELECT CAST(count(*) AS BIGINT) FROM u2) AS u2n,
                      (SELECT CAST(count(*) AS BIGINT) FROM u3) AS u3n)
         SELECT * FROM (
           SELECT CAST(1 AS INTEGER) AS step, 'signup' AS event_type, u1n AS users FROM c
           UNION ALL SELECT 2, 'click', u2n FROM c
           UNION ALL SELECT 3, 'purchase', u3n FROM c)
         ORDER BY step""",
    // a58: the same contribution-explode formulation — each distinct
    // (user, day) feeds report days d..d+6, restricted to observed days.
    "a58_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         ds AS (SELECT DISTINCT d AS day FROM ud),
         c AS (SELECT user_id, d + CAST(o.o AS INTEGER) AS day
               FROM ud, (SELECT unnest(range(0, 7)) AS o) o)
         SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS active_7d
         FROM c JOIN ds USING (day)
         GROUP BY 1 ORDER BY 1""",

    // a59: identical window — the same (ts, event_id) order, the same
    // 1-PRECEDING frame, the same shared null pattern for the two
    // IGNORE NULLS picks; revenue through DECIMAL(12,2).
    "a59_last_touch" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                      event_type, value FROM events),
         t AS (SELECT *,
             last_value(CASE WHEN event_type IN ('click','view','signup')
                             THEN ts END IGNORE NULLS) OVER w AS t_ts,
             last_value(CASE WHEN event_type IN ('click','view','signup')
                             THEN event_type END IGNORE NULLS) OVER w AS t_ty
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT CASE WHEN t_ts IS NOT NULL AND t_ts >= ts - INTERVAL 7 DAY
                     THEN t_ty ELSE '(none)' END AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
         FROM t WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY 1""",

    // a61: same repeat-edge CTE as a60, degree per node, len(bin())
    // log2 buckets (both engines' bin drops leading zeros).
    "a61_degree_profile" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         e AS (SELECT a.pk AS a, b.pk AS b
               FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         d AS (SELECT v, CAST(count(*) AS BIGINT) AS d
               FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
               GROUP BY 1)
         SELECT CAST(len(bin(d)) AS INTEGER) AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           min(d) AS min_d, max(d) AS max_d
         FROM d GROUP BY 1 ORDER BY 1""",

    // a60: same orientation rule ((degree, id) row-value compare), same
    // wedge + closing joins, same 3-corner credit.
    "a60_basket_triangles" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         e AS (SELECT a.pk AS a, b.pk AS b
               FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         d AS (SELECT v, CAST(count(*) AS BIGINT) AS d
               FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
               GROUP BY 1),
         o AS (SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
                      CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS w
               FROM e JOIN d da ON da.v = e.a JOIN d db ON db.v = e.b),
         wg AS (SELECT e1.u AS u, e1.w AS a, e2.w AS b
                FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.w < e2.w),
         t AS (SELECT u, a, b FROM wg JOIN e USING (a, b))
         SELECT v AS part, CAST(count(*) AS BIGINT) AS n_tri
         FROM (SELECT u AS v FROM t UNION ALL SELECT a FROM t
               UNION ALL SELECT b FROM t)
         GROUP BY 1 ORDER BY 1""",

    // a62: same repeat-edge CTE, directed both ways, Jaccard as the one
    // exact-operand division, rank/filter as the window the Spark side
    // lowers to TopKPerKey.
    "a62_item_similarity" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         e AS (SELECT a.pk AS a, b.pk AS b, CAST(count(*) AS BIGINT) AS n_ab
               FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         sup AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_p FROM li GROUP BY 1),
         d2 AS (SELECT a AS part, b AS sim_part, n_ab FROM e
                UNION ALL SELECT b, a, n_ab FROM e),
         j AS (SELECT d2.part, d2.sim_part, d2.n_ab,
                 sa.n_p AS n_a, sb.n_p AS n_b,
                 CAST(d2.n_ab AS DOUBLE)
                   / CAST(sa.n_p + sb.n_p - d2.n_ab AS DOUBLE) AS jaccard
               FROM d2 JOIN sup sa ON sa.pk = d2.part
                       JOIN sup sb ON sb.pk = d2.sim_part)
         SELECT part, sim_part, n_ab, n_a, n_b, jaccard,
           CAST(rk AS INTEGER) AS sim_rank
         FROM (SELECT *, row_number() OVER (PARTITION BY part
                 ORDER BY jaccard DESC, sim_part) AS rk FROM j)
         WHERE rk <= 3 ORDER BY part, sim_rank""",

    // a64: the same two snapshot windows, full outer join on the key,
    // identical classification; per-column rows unioned in.
    "a64_snapshot_diff" ->
      """WITH a AS (SELECT o_orderkey AS k, o_orderstatus AS s_a,
             o_totalprice AS p_a, o_orderpriority AS r_a
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1995-01-01'
             AND o_orderdate < TIMESTAMP '1997-07-01'),
         b AS (SELECT o_orderkey AS k, o_orderstatus AS s_b,
             CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS p_b,
             o_orderpriority AS r_b
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1998-07-01'),
         j AS (SELECT * FROM a FULL OUTER JOIN b USING (k)),
         c AS (SELECT *,
             CASE WHEN s_a IS NULL THEN 'added'
                  WHEN s_b IS NULL THEN 'removed'
                  WHEN s_a <> s_b OR p_a <> p_b OR r_a <> r_b THEN 'changed'
                  ELSE 'unchanged' END AS change_type
           FROM j),
         summary AS (SELECT change_type, CAST(count(*) AS BIGINT) AS n
                     FROM c GROUP BY 1),
         percol AS (SELECT change_type, CAST(count(*) AS BIGINT) AS n FROM (
             SELECT unnest(list_filter([
               CASE WHEN s_a <> s_b THEN 'col:status' END,
               CASE WHEN p_a <> p_b THEN 'col:price' END,
               CASE WHEN r_a <> r_b THEN 'col:prio' END],
               x -> x IS NOT NULL)) AS change_type
             FROM c WHERE change_type = 'changed')
           GROUP BY 1)
         SELECT * FROM summary UNION ALL SELECT * FROM percol
         ORDER BY change_type""",

    // a63: the 3 label-propagation rounds unrolled (the x91/pageRank
    // recipe) over the same repeat-edge CTE; pure integer min/least.
    "a63_part_communities" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         e AS (SELECT a.pk AS a, b.pk AS b
               FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS (SELECT a AS v, b AS u FROM e UNION SELECT b, a FROM e),
         l0 AS (SELECT DISTINCT v, v AS lbl FROM und),
         r1 AS (SELECT und.v, min(l0.lbl) AS nlbl
                FROM und JOIN l0 ON l0.v = und.u GROUP BY 1),
         l1 AS (SELECT l0.v, least(l0.lbl, coalesce(r1.nlbl, l0.lbl)) AS lbl
                FROM l0 LEFT JOIN r1 ON r1.v = l0.v),
         r2 AS (SELECT und.v, min(l1.lbl) AS nlbl
                FROM und JOIN l1 ON l1.v = und.u GROUP BY 1),
         l2 AS (SELECT l1.v, least(l1.lbl, coalesce(r2.nlbl, l1.lbl)) AS lbl
                FROM l1 LEFT JOIN r2 ON r2.v = l1.v),
         r3 AS (SELECT und.v, min(l2.lbl) AS nlbl
                FROM und JOIN l2 ON l2.v = und.u GROUP BY 1),
         l3 AS (SELECT l2.v, least(l2.lbl, coalesce(r3.nlbl, l2.lbl)) AS lbl
                FROM l2 LEFT JOIN r3 ON r3.v = l2.v),
         c AS (SELECT lbl, CAST(count(*) AS BIGINT) AS sz FROM l3 GROUP BY 1)
         SELECT sz AS community_size, CAST(count(*) AS BIGINT) AS n_communities
         FROM c GROUP BY 1 ORDER BY 1""",

    "a57_retention_cohorts" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         w AS (SELECT DISTINCT user_id,
                 CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM e),
         c AS (SELECT user_id, min(wk) AS cohort_wk FROM w GROUP BY 1)
         SELECT c.cohort_wk,
           CAST(datediff('day', CAST(c.cohort_wk AS DATE), CAST(w.wk AS DATE)) // 7
             AS INTEGER) AS week_offset,
           CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
         FROM w JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "a56_basket_affinity" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
         sup AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_p FROM li GROUP BY 1),
         pairs AS (SELECT a.pk AS p1, b.pk AS p2,
                     CAST(count(*) AS BIGINT) AS n_ab
                   FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                   GROUP BY 1, 2 HAVING count(*) >= 3)
         SELECT p1, p2, n_ab, sa.n_p AS n_a, sb.n_p AS n_b,
           CAST(n_ab AS DOUBLE) * n.n_orders / (sa.n_p * sb.n_p) AS lift
         FROM pairs JOIN sup sa ON sa.pk = p1 JOIN sup sb ON sb.pk = p2, n
         ORDER BY p1, p2""",

    // a65: identical lag-change / running-sum-run-id / lead-close
    // windows; IS DISTINCT FROM == the Spark isNull-or-different pair
    // (attr is non-null in the data).
    "a65_scd2_intervals" ->
      """WITH obs AS (SELECT o_custkey AS ck, o_orderdate AS ts,
             o_orderkey AS seq, o_orderpriority AS attr FROM orders),
         chg AS (SELECT ck, ts, seq, attr,
             CASE WHEN lag(attr) OVER (PARTITION BY ck ORDER BY ts, seq)
                    IS DISTINCT FROM attr THEN 1 ELSE 0 END AS c
           FROM obs),
         runs AS (SELECT ck, ts, attr,
             CAST(sum(c) OVER (PARTITION BY ck ORDER BY ts, seq)
               AS BIGINT) AS version
           FROM chg),
         iv AS (SELECT ck, version, min(attr) AS attr,
             min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_obs
           FROM runs GROUP BY ck, version),
         closed AS (SELECT ck, version, attr, valid_from,
             lead(valid_from) OVER (PARTITION BY ck ORDER BY version)
               AS valid_to, n_obs
           FROM iv)
         SELECT ck, version, attr, valid_from, valid_to, n_obs,
           (valid_to IS NULL) AS is_current
         FROM closed ORDER BY ck, version""",

    // a66: same lead window; the division is forced to double so both
    // engines run one IEEE divide of exact integers.
    "a66_event_transitions" ->
      """WITH tr AS (SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
           FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
         FROM c ORDER BY from_type, to_type""",

    // a67: same last-writer-wins window (row_number desc over ts,
    // event_id) + per-key count; tombstoned keys filtered identically.
    "a67_changelog_compact" ->
      """WITH cl AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             value
           FROM events),
         r AS (SELECT *,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
           FROM cl)
         SELECT user_id, value AS last_value, ts AS last_ts, n_ops
         FROM r WHERE rn = 1 AND op = 'U'
         ORDER BY user_id""",

    // a68: identical interval join + asc/desc row_numbers + three
    // channel reports full-outer-joined; revenue through DECIMAL(12,2)
    // like a59, zeros filled on both sides the same way.
    "a68_attribution_compare" ->
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                      event_type, value FROM events),
         p AS (SELECT user_id, ts AS pts, event_id AS pid, value
               FROM e WHERE event_type = 'purchase'),
         t AS (SELECT user_id, ts AS tts, event_id AS tid,
                 event_type AS ch
               FROM e WHERE event_type IN ('click','view','signup')),
         pj AS (SELECT p.pid, p.value, t.tts, t.tid, t.ch
                FROM p LEFT JOIN t
                  ON t.user_id = p.user_id
                 AND t.tts < p.pts
                 AND t.tts >= p.pts - INTERVAL 7 DAY),
         ranked AS (SELECT *,
             row_number() OVER (PARTITION BY pid
               ORDER BY tts ASC NULLS LAST, tid ASC NULLS LAST) AS rn_f,
             row_number() OVER (PARTITION BY pid
               ORDER BY tts DESC NULLS LAST, tid DESC NULLS LAST) AS rn_l
           FROM pj),
         fr AS (SELECT coalesce(ch, '(none)') AS channel,
                  CAST(count(*) AS BIGINT) AS n_first,
                  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                    AS rev_first
                FROM ranked WHERE rn_f = 1 GROUP BY 1),
         lr AS (SELECT coalesce(ch, '(none)') AS channel,
                  CAST(count(*) AS BIGINT) AS n_last,
                  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                    AS rev_last
                FROM ranked WHERE rn_l = 1 GROUP BY 1),
         tr AS (SELECT channel, CAST(count(*) AS BIGINT) AS n_touched,
                  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                    AS rev_touched
                FROM (SELECT DISTINCT pid, value,
                        coalesce(ch, '(none)') AS channel FROM ranked)
                GROUP BY 1)
         SELECT channel,
           coalesce(n_first, 0) AS n_first,
           coalesce(rev_first, 0.0) AS rev_first,
           coalesce(n_last, 0) AS n_last,
           coalesce(rev_last, 0.0) AS rev_last,
           coalesce(n_touched, 0) AS n_touched,
           coalesce(rev_touched, 0.0) AS rev_touched
         FROM fr
         FULL OUTER JOIN lr USING (channel)
         FULL OUTER JOIN tr USING (channel)
         ORDER BY channel""",

    // a69: the 3 peel rounds unrolled (the a63 recipe) over the same
    // repeat-edge CTE; node set = endpoints of surviving edges, pure
    // integer degrees and counts.
    "a69_kcore_peel" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         e0 AS MATERIALIZED (SELECT a.pk AS a, b.pk AS b
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2 HAVING count(*) >= 2),
         d1 AS (SELECT v, count(*) AS d FROM
                  (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
                GROUP BY 1),
         k1 AS MATERIALIZED (SELECT v FROM d1 WHERE d >= 3),
         e1 AS MATERIALIZED (SELECT a, b FROM e0
                WHERE a IN (SELECT v FROM k1) AND b IN (SELECT v FROM k1)),
         d2 AS (SELECT v, count(*) AS d FROM
                  (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1)
                GROUP BY 1),
         k2 AS MATERIALIZED (SELECT v FROM d2 WHERE d >= 3),
         e2 AS MATERIALIZED (SELECT a, b FROM e1
                WHERE a IN (SELECT v FROM k2) AND b IN (SELECT v FROM k2)),
         d3 AS (SELECT v, count(*) AS d FROM
                  (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2)
                GROUP BY 1),
         k3 AS MATERIALIZED (SELECT v FROM d3 WHERE d >= 3),
         e3 AS MATERIALIZED (SELECT a, b FROM e2
                WHERE a IN (SELECT v FROM k3) AND b IN (SELECT v FROM k3))
         SELECT * FROM (
           SELECT 0 AS round,
             (SELECT count(DISTINCT v) FROM
               (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)) AS n_nodes,
             (SELECT count(*) FROM e0) AS n_edges
           UNION ALL SELECT 1,
             (SELECT count(DISTINCT v) FROM
               (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1)),
             (SELECT count(*) FROM e1)
           UNION ALL SELECT 2,
             (SELECT count(DISTINCT v) FROM
               (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2)),
             (SELECT count(*) FROM e2)
           UNION ALL SELECT 3,
             (SELECT count(DISTINCT v) FROM
               (SELECT a AS v FROM e3 UNION ALL SELECT b FROM e3)),
             (SELECT count(*) FROM e3))
         ORDER BY round""",

    // a70: the window's sketch recomputed from scratch — murmur3 user
    // hashes (shared CTE arithmetic), trailing-7-day union, bottom-k
    // rank, the identical integer estimator. Equality with the Spark
    // side's merge-of-daily-sketches is the bottom-k semilattice.
    "a70_rolling_active_kmv" -> {
      val k = graft.operators.Sketches.KmvK
      val kmvNum = (k - 1).toLong * 4294967296L
      val (ctes, hc) = Murmur3Sql.hashLongCtes("ud", Seq("d"), "ah")
      s"""WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS v
                      FROM events),
         $ctes
         dh AS (SELECT DISTINCT d, hu FROM $hc),
         ds AS (SELECT DISTINCT d AS day FROM dh),
         c AS (SELECT DISTINCT d + CAST(o.o AS INTEGER) AS day, hu
               FROM dh, (SELECT unnest(range(0, 7)) AS o) o),
         u AS (SELECT day, hu FROM c JOIN ds USING (day)),
         rn AS (SELECT day, hu,
                  row_number() OVER (PARTITION BY day ORDER BY hu) AS rn
                FROM u),
         sk AS (SELECT day, CAST(count(*) AS BIGINT) AS cnt,
                  CAST(max(CASE WHEN rn = $k THEN hu END) AS BIGINT) AS kth
                FROM rn GROUP BY day)
         SELECT day, CASE WHEN cnt < $k THEN cnt
                          WHEN kth = 0 THEN CAST($k AS BIGINT)
                          ELSE $kmvNum // kth END AS active_7d_kmv
         FROM sk ORDER BY day"""
    },

    // a71: the same murmur3 low-bit arm split, exists-purchase bit,
    // and the z² divide/multiply tree written in the identical IEEE
    // shape (each subexpression parenthesized as on the Spark side).
    "a71_ab_test" -> {
      val (ctes, hc) = Murmur3Sql.hashLongCtes("uu", Seq("conv"), "bh")
      s"""WITH uc AS (SELECT user_id AS v,
               max(CASE WHEN event_type = 'purchase'
                         AND ts <= first_ts + INTERVAL 1 DAY
                        THEN 1 ELSE 0 END) AS conv
             FROM (SELECT *, min(ts) OVER (PARTITION BY user_id) AS first_ts
                   FROM events)
             GROUP BY 1),
         uu AS (SELECT conv, v FROM uc),
         $ctes
         arms AS (SELECT CAST(hu % 2 AS BIGINT) AS arm, conv FROM $hc),
         g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(conv) AS BIGINT) AS c
               FROM arms GROUP BY 1),
         one AS (SELECT
             max(CASE WHEN arm = 0 THEN n END) AS n_a,
             max(CASE WHEN arm = 0 THEN c END) AS c_a,
             max(CASE WHEN arm = 1 THEN n END) AS n_b,
             max(CASE WHEN arm = 1 THEN c END) AS c_b
           FROM g)
         SELECT n_a, c_a, n_b, c_b,
           CAST(c_a AS DOUBLE) / n_a AS rate_a,
           CAST(c_b AS DOUBLE) / n_b AS rate_b,
           CASE WHEN (((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                       * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)))
                      * (1.0 / n_a + 1.0 / n_b)) = 0.0 THEN 0.0
             ELSE ((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                 * (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b))
               / (((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                   * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)))
                  * (1.0 / n_a + 1.0 / n_b)) END AS z2
         FROM one"""
    }
  )
}
