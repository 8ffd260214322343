package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table-introspection operators — the ANALYZE-style passes a pipeline
  * runs BEFORE committing to a physical design at 100 TB: per-column
  * statistics (null fraction, exact NDV, typed min/max) and key-skew
  * diagnosis (the report that decides salting factors).
  */
object Profile {
  /** Exact column profiler: for each (name, typed expression) spec —
    * row count, null count, EXACT distinct count, and min/max rendered
    * to strings AFTER typed aggregation (so numeric/date ordering is
    * the typed one, never lexicographic; callers pass exactness-safe
    * expressions, e.g. a DECIMAL view of a money double, so the string
    * rendering is engine-stable).
    *
    * Plan shape (round 12 — the Expand measured out): ONE projection
    * of exactly the spec columns feeds (a) a single cheap
    * stats aggregate (count/nulls/min/max — no distinct anywhere, so
    * no Expand) and (b) one SINGLE-distinct aggregate per spec, which
    * Spark plans as an ordinary two-phase aggregate with NO row
    * multiplication. The former all-in-one form planned |specs|
    * count_distincts through Expand — a (|specs|+1)× row multiplication
    * before the partial agg that made the profiler the #2 bench
    * resident (3.6 s cold, CPU-bound in Expand). The 1-row arms
    * broadcast-join back together and unpivot driver-free via stack().
    *
    * 100 TB: parquet is columnar, so the |specs| NDV subtrees each
    * decode exactly ONE column — total bytes touched equal the one-pass
    * Expand form's, without multiplying rows; each NDV exchange carries
    * only that column's distinct values (map-side partial dedup). The
    * projection is cached on NARROW inputs and on COMPUTED inputs
    * (join/agg/generate/window/union upstream — the arms must not
    * re-execute those); only a many-split bare scan goes uncached: at
    * scale its arms are independent column-pruned re-scans and no
    * table-sized cache entry is pinned. For estimate-grade stats in one
    * true pass with O(k) state use [[profileApprox]].
    */
  def profile(df: DataFrame, specs: Seq[(String, Column)]): DataFrame = {
    require(specs.nonEmpty, "profile needs at least one column spec")
    require(specs.map(_._1).distinct.size == specs.size, "spec names must be unique")
    // Narrow-input spread (the duplicateSpans pattern): on a single-
    // row-group file every arm's partial agg would run in the scan's
    // one task; the spread fires only when the input is truly narrow
    // (≤ parallelism/4 partitions) and ships ONLY the spec columns.
    // At production scale the source is many-split and this is a no-op.
    val pruned = df.select(specs.map { case (n, c) => c.as(s"__c_$n") }: _*)
    val specCols = specs.map { case (n, _) => (n, col(s"__c_$n")) }
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // Cache the narrow-input branch (the repartitioned projection is
    // small by construction and the |specs|+1 arms would otherwise
    // re-pay the spread shuffle each) AND computed inputs (joins/aggs/
    // generates upstream — re-executing those per arm is a silent
    // multi-x cost, the round-13 ADVICE finding). Only a many-split
    // BARE SCAN goes uncached: there the arms are column-pruned
    // parquet re-scans that each decode ONE column — cheaper than
    // pinning a table-sized (spec-columns) cache entry per profiled
    // table until Caches.clearAll (the round-12 ADVICE finding).
    // No Distinct arm: ReplaceDistinctWithAggregate rewrites logical
    // Distinct to Aggregate before the optimized plan this matches on,
    // so the Aggregate case already covers it. Known limit (by
    // design): a pure Project/Filter input with expensive derived
    // expressions (e.g. regex-heavy columns) still classifies as
    // scan-shaped and re-executes per arm — caching it would pin a
    // table-sized entry for work the column-pruned re-scan usually
    // beats.
    val scanShaped = {
      import org.apache.spark.sql.catalyst.plans.logical._
      pruned.queryExecution.optimizedPlan.collectFirst {
        case p @ (_: Join | _: Aggregate | _: Generate | _: Window |
                  _: Union) => p
      }.isEmpty
    }
    val input =
      if (pruned.rdd.getNumPartitions * 4 <= parallelism)
        graft.Caches.persistOnce(pruned.repartition(parallelism))
      else if (!scanShaped) graft.Caches.persistOnce(pruned)
      else pruned
    val statAggs = specCols.flatMap { case (name, c) =>
      Seq(count(lit(1)).as(s"__n_$name"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nn_$name"),
        min(c).cast("string").as(s"__mn_$name"),
        max(c).cast("string").as(s"__mx_$name"))
    }
    var one = input.agg(statAggs.head, statAggs.tail: _*)
    specCols.foreach { case (name, c) =>
      // single-distinct aggregates plan Expand-free; the 1-row result
      // sits above an aggregate (size-blind to Catalyst) — pin the
      // broadcast
      one = one.crossJoin(broadcast(
        input.agg(count_distinct(c).as(s"__nd_$name"))))
    }
    val stacked = specs.map { case (name, _) =>
      s"'$name', __n_$name, __nn_$name, __nd_$name, __mn_$name, __mx_$name"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${specs.size}, $stacked) AS " +
        "(col_name, n_rows, n_null, n_distinct, min_s, max_s)")
  }

  /** Estimate-grade one-pass profiler — the 100 TB companion the
    * [[profile]] scaladoc promises: same (col_name, n_rows, n_null,
    * NDV, min/max) shape, but NDV comes from the deterministic KMV
    * bottom-k sketch ([[Sketches.kmvDistinct]] — a plain aggregate,
    * NOT a distinct aggregate), so the plan has NO Expand and NO row
    * multiplication: one HashAggregate pass at |specs|·k longs of
    * state total, regardless of table size. Exact below k distinct
    * values, ≈6 % rsd above (k = 256). No narrow-input spread either —
    * without the Expand there is nothing to parallelize beyond the
    * scan itself.
    *
    * Determinism: KMV ranks unsigned-32-bit murmur3 hashes, so the
    * DuckDB oracle replays the estimate bit-exactly via the staged
    * murmur3 CTEs (the a23 pattern). NULL rows are counted in n_null
    * and EXCLUDED from the NDV sketch by [[Sketches.kmvDistinct]]'s
    * null guard — `count(DISTINCT c)` semantics on both engines, so
    * nullable specs are safe (not just a scaladoc precondition).
    */
  def profileApprox(df: DataFrame, specs: Seq[(String, Column)],
                    k: Int = Sketches.KmvK): DataFrame = {
    require(specs.nonEmpty, "profileApprox needs at least one column spec")
    require(specs.map(_._1).distinct.size == specs.size, "spec names must be unique")
    val aggs = specs.flatMap { case (name, c) =>
      Seq(count(lit(1)).as(s"__n_$name"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nn_$name"),
        Sketches.kmvDistinct(c, k).as(s"__nd_$name"),
        min(c).cast("string").as(s"__mn_$name"),
        max(c).cast("string").as(s"__mx_$name"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = specs.map { case (name, _) =>
      s"'$name', __n_$name, __nn_$name, __nd_$name, __mn_$name, __mx_$name"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${specs.size}, $stacked) AS " +
        "(col_name, n_rows, n_null, n_distinct_kmv, min_s, max_s)")
  }

  /** Per-source exact-duplication profile — the corpus ANALYZE a
    * curation pipeline runs BEFORE choosing its dedup strategy (the
    * measured-dup-rate routing discipline in [[graft.operators.Dedup]],
    * promoted to a first-class report): per source, document count,
    * distinct content-hash count, duplicated-doc count, the largest
    * single duplicate cluster, and the 2^-20-grid dup rate.
    *
    * Contents dedupe on md5 of the raw text (the x10 cross-engine
    * fingerprint), so the shuffle carries (source, 32-hex-char hash) —
    * never document text. 100 TB: one partial-aggregatable
    * (source, hash) count, then a source-cardinality rollup; max
    * cluster is an ordinary max over the hash-count table.
    */
  def dupProfile(docs: DataFrame, textCol: String,
                 sourceCol: String): DataFrame = {
    val grid = 1048576L // 2^20
    docs
      .select(col(sourceCol).as("source"), md5(col(textCol)).as("h"))
      .groupBy("source", "h").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_cluster"))
      .withColumn("dup_docs", col("n_docs") - col("n_distinct"))
      .withColumn("dup_rate_q",
        floor(col("dup_docs").cast("double") / col("n_docs").cast("double")
          * grid + lit(0.5)).cast("long"))
      .select("source", "n_docs", "n_distinct", "dup_docs", "max_cluster",
        "dup_rate_q")
  }

  /** Key-skew diagnosis: per-key counts, each key's integer log2 bucket
    * (`length(bin(cnt))` — exact, no libm), its 2^-20-grid-quantized
    * share of the table, and the salting factor that would bound the
    * heaviest reducer at `targetPerKey` rows (`ceil(cnt/target)` in
    * integer arithmetic). Top `k` heaviest keys reported (TakeOrdered —
    * the key space never sorts globally).
    *
    * 100 TB: one partial-aggregatable count shuffle; everything after
    * operates on the key-count table. This report IS the decision
    * input for `Skew.saltedCountSum`'s factor.
    */
  def skewReport(df: DataFrame, key: Column, k: Int = 10,
                 targetPerKey: Long = 64): DataFrame = {
    require(targetPerKey >= 1, "targetPerKey must be >= 1")
    val grid = 1048576L // 2^20
    val counts = graft.Caches.persistOnce(
      df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt")))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    counts.crossJoin(broadcast(total))
      .withColumn("log2b", length(bin(col("cnt"))).cast("int"))
      .withColumn("share_q",
        floor(col("cnt").cast("double") / col("n_total").cast("double")
          * grid + lit(0.5)).cast("long"))
      .withColumn("salt_rec",
        expr(s"(cnt + ${targetPerKey - 1}) div $targetPerKey"))
      .orderBy(col("cnt").desc, col("key")).limit(k)
      .select("key", "cnt", "log2b", "share_q", "salt_rec")
  }
}
