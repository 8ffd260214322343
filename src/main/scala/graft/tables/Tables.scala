package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the driver test data (TESTDATA.md).
  *
  * Every query entry in [[graft.SparkEntry]] reads through here so the
  * scan shape (schema pruning, filter pushdown) is uniform. At cluster
  * scale these would be catalog tables; locally they are bare parquet
  * directories, which exercises the identical DataSource V2 scan path.
  */
object Tables {
  /** Session-scoped catalog of RESOLVED relations (r16 optimization),
    * kept in the [[graft.Caches]] memo.
    *
    * `spark.read.parquet` re-resolves the datasource on every call —
    * file listing + footer schema inference — measured at 0.10–0.17 s
    * per call on this host. Every query entry builds its
    * inputs through here, so an un-memoized load taxes each of the 276
    * bench queries ~0.1–0.4 s of pure metadata work per RUN (builds
    * happen inside the timed region). A catalog table resolves once per
    * session; this memo is exactly that analog: it caches the ANALYZED
    * RELATION (schema + file index) only — no data, no results, nothing
    * persisted across sessions. Every action still scans the parquet.
    *
    * Aliasing note (ADVICE r16): the memo returns the SAME Dataset
    * instance for repeated loads, so two loads of one table share
    * exprIds — a future query self-joining two loads with
    * `df1("c") === df2("c")` would hit failAmbiguousSelfJoin. Current
    * queries all disambiguate via `.as()`/renamed projections (the
    * house style); keep doing that, or `.toDF()` one side.
    *
    * Immutability assumption (ADVICE r16): the memo pins the resolved
    * FILE LISTING for the session. Driver test data is immutable by
    * contract; any code path that rewrites a table directory
    * mid-session must call [[invalidate]] once the rewrite is done, or
    * readers serve stale listings / missing-file errors. Sink paths stay
    * unmemoized for exactly this reason.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Caches.memo(spark, Seq(dir), ("table", name))(spark.read.parquet(s"$dir/$name.parquet"))

  /** Forget what the session knows of the tables under `dir`: call it
    * after rewriting a table directory mid-session (see the
    * immutability note above). Drops every [[graft.Caches]] memo entry
    * built from `dir` or a directory below it (relations and the query
    * memos alike), and refreshes Spark's cached plans that read there
    * (Spark refreshes them itself only when it wrote the files).
    * Matches whole path segments: invalidating `…/sf0.1` leaves
    * `…/sf0.15` memoized. Release API: no query or main calls it; it
    * stays for long-lived callers that rewrite tables mid-session, and
    * SourcesSpec pins it.
    */
  def invalidate(spark: SparkSession, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def qualified(p: String) = new Path(p).makeQualified(fs.getUri, fs.getWorkingDirectory)
    val root = qualified(dir)
    graft.Caches.drop(spark)(_.dirs.exists(d =>
      Iterator.iterate(qualified(d))(_.getParent).takeWhile(_ != null).contains(root)))
    spark.catalog.refreshByPath(dir)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "region")
  /** The events table's `ts` physical type has varied across driver
    * testdata generations: TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — read the raw nanos as long via the legacy conf
    * and rebuild a micros timestamp; driver data is micro-precision, so
    * the floor-division is lossless) vs TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (which Spark reads as TIMESTAMP_NTZ — cast
    * to the session-zone TimestampType; the session zone is pinned UTC
    * everywhere, so the cast is value-identity and downstream window /
    * unix_timestamp arithmetic matches the DuckDB oracle's naive
    * reading). Branch on the inferred schema so both generations load
    * to the same TimestampType column.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(spark, Seq(dir), ("table", "events#ts")) { eventsUnmemoized(spark, dir) }

  private def eventsUnmemoized(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // bypass the bare-table memo: the raw load must observe the conf
    // set above on first resolution in this session
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType =>
        raw
      case other =>
        // fail fast: a silent cast of an unexpected physical type (e.g.
        // string) would surface as null timestamps rows away from here
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other in $dir")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** Spread a narrow input across the cluster before CPU-heavy per-row
    * work (the [[graft.operators.Dedup.shingles]] pattern, shared):
    * single-file/single-row-group local fixtures scan as ONE task, so a
    * hash- or shingle-heavy stage runs serially on one core regardless
    * of cluster size. No-op for inputs already at least as wide as the
    * default parallelism — at scale the scan has thousands of splits and
    * this adds nothing. The `.rdd` probe reads the scan-task count,
    * which a files peek cannot see. It is cheap (milliseconds of
    * planning) only on a bare scan, which is what every caller
    * passes: on a frame with an exchange, `.rdd` plans the frame
    * adaptively and runs its upstream stages once for the probe, and
    * the repartitioned frame re-runs them in its own execution.
    */
  def spread(df: DataFrame): DataFrame = {
    // Streaming frames can't be probed (.rdd is a batch-only
    // conversion) and micro-batch sources already size their own
    // partitions — pass them through untouched so operators shared with
    // the streaming surface (e.g. cdcChunks) stay stream-legal.
    if (df.isStreaming) return df
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }
}

/** Cross-engine determinism helpers.
  *
  * The driver's correctness gate hash-compares our parquet output against
  * DuckDB running the oracle SQL on the same tables. Floating point must
  * therefore be bit-identical, not merely close:
  *
  *  - Aggregating doubles directly is order-dependent; we route money-like
  *    columns through DECIMAL(12,2) (exact) and cast the final result to
  *    double — both engines then produce the identical IEEE value.
  *  - `round()` implementations differ at representation boundaries
  *    (Java BigDecimal-of-shortest-string vs C-style); `floor(x*s+0.5)/s`
  *    is pure IEEE arithmetic and bit-identical in both engines.
  */
object Exact {
  /** Deterministic half-up rounding to 2 decimal places (see above).
    *
    * NOTE: `floor(x*s+0.5)/s` rounds halves toward +infinity. For the
    * non-negative money/quantity columns this equals HALF_UP (away from
    * zero). [[round6]] is also applied to cosine similarity (Similarity /
    * Dedup), which can be negative: there a half lands toward +infinity
    * rather than away from zero — still deterministic and matched by the
    * identical floor formula on the DuckDB oracle side, just not HALF_UP
    * in the BigDecimal sense. Use a sign-aware form if HALF_UP semantics
    * ever matter for negative inputs.
    */
  def round2(c: Column): Column = floor(c * 100 + lit(0.5)) / 100

  /** Deterministic half-up rounding to 6 decimal places (halves of
    * negative inputs round toward +infinity — see [[round2]]). */
  def round6(c: Column): Column = floor(c * 1000000 + lit(0.5)) / 1000000

  /** Exact decimal view of a 2-decimal money column stored as double. */
  def dec(c: Column): Column = c.cast("decimal(12,2)")

  /** Exact sum of a 2-decimal money column, returned as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")
}
