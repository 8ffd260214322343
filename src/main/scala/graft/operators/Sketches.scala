package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Deterministic sketch operators.
  *
  * [[hllDistinct]] is a HyperLogLog distinct-count estimate built
  * entirely from Spark's own codegen'd builtins (`hash`, bit ops,
  * `bin`, two-level partial aggregation) instead of
  * `approx_count_distinct`. Same asymptotics as the native HLL++
  * aggregate — one shuffle of (group, bucket) pairs, register state
  * m·(33-p) values per group — but every arithmetic step is
  * reproducible in ANSI SQL, so the DuckDB oracle can replay it
  * bit-exactly (the native HLL++'s dense-register encoding and bias
  * tables are not practically SQL-expressible). The estimate is the
  * classic Flajolet harmonic mean without HLL++'s small-range bias
  * correction; error is the standard 1.04/sqrt(m) rsd once n is a few
  * multiples of m (QueryBoundsSpec pins it against exact counts).
  *
  * 100 TB: the sketch is two partial-aggregatable groupBys — map-side
  * combine reduces each partition to at most m rows per group before
  * the shuffle, so the wire cost is O(groups·m), independent of row
  * count. At p=8 that is 256 longs per group.
  */
object Sketches {
  /** Default register-count exponent: m = 2^8 = 256 registers,
    * rsd ≈ 1.04/16 ≈ 6.5 %.
    */
  val HllP = 8

  /** Default KMV sketch size (rsd ≈ 1/sqrt(k-2) ≈ 6 %). */
  val KmvK = 256

  /** KMV (bottom-k) distinct-count estimate of `value` as an aggregate
    * column — [[graft.functions.TypedAggregators.KmvDistinctAgg]] over
    * the unsigned 32-bit murmur3 `hash(value)`. Exact below k distinct
    * values; pure integer estimator above, so it complements
    * [[hllDistinct]] where raw HLL is biased (n ≲ 3m) without HLL++'s
    * non-SQL-expressible correction tables.
    *
    * NULL inputs never enter the sketch: Spark's `hash(NULL)` returns
    * the seed (a valid 32-bit value), so hashing first would count all
    * NULL rows as one phantom distinct value — and DuckDB's murmur3
    * replay propagates NULL instead, a silent cross-engine NDV
    * divergence on nullable columns. NULLs map to the out-of-domain
    * sentinel -1, which [[KmvDistinctAgg.reduce]] skips, so both
    * engines exclude NULLs identically (SQL `count(DISTINCT c)`
    * semantics).
    */
  def kmvDistinct(value: Column, k: Int = KmvK): Column = {
    val agg = org.apache.spark.sql.functions.udaf(
      new graft.functions.TypedAggregators.KmvDistinctAgg(k),
      org.apache.spark.sql.Encoders.scalaLong)
    agg(when(value.isNotNull, GraftFunctions.unsignedHash(value))
      .otherwise(lit(-1L)))
  }

  /** MATERIALIZED bottom-k sketch per key group — the mergeable STATE
    * behind [[kmvDistinct]], exposed as a column so incremental rollups
    * can store it and fold new batches in without rescanning history
    * (see x101): one row per key with the sorted array of the k
    * smallest distinct unsigned-32-bit `hash(value)` values. Hashing is
    * Spark's codegen'd murmur3; the bottom-k fold is the typed
    * [[graft.functions.TypedAggregators.KmvSketchAgg]] heap, and the
    * DuckDB oracle replays it through the murmur3 CTEs + a global
    * distinct + rank ≤ k exactly like the [[kmvDistinct]] aggregate.
    *
    * NULLs use the same out-of-domain sentinel discipline as
    * [[kmvDistinct]] (filtered before the sketch — both engines
    * exclude them identically).
    *
    * 100 TB: the build is ONE partial+final typed aggregate
    * ([[graft.functions.TypedAggregators.KmvSketchAgg]], a k-long
    * sorted-insert heap): each map task reduces its rows to ≤ k longs
    * per key before the exchange, so the wire carries
    * O(partitions·groups·k) — never the corpus's (key, hash) rows the
    * former distinct + rank-window formulation shipped. The bottom-k
    * semilattice makes the result bit-identical to that formulation
    * (the DuckDB oracles still replay the global distinct + rank ≤ k).
    */
  def kmvSketch(df: DataFrame, keyCols: Seq[String], value: Column,
                k: Int = KmvK): DataFrame = {
    require(k >= 2, s"k=$k too small")
    val kc = keyCols.map(col)
    val h = when(value.isNotNull, GraftFunctions.unsignedHash(value))
      .otherwise(lit(-1L))
    val agg = udaf(new graft.functions.TypedAggregators.KmvSketchAgg(k),
      org.apache.spark.sql.Encoders.scalaLong)
    df.select(kc :+ h.as("h"): _*).filter(col("h") >= 0L)
      .groupBy(kc: _*).agg(agg(col("h")).as("sketch"))
  }

  /** Merge an array-of-sketches column (each from [[kmvSketch]] with
    * the same k) into one sketch: bottom-k of the distinct union. The
    * bottom-k set is a semilattice — `bottomK(bottomK(A) ∪ bottomK(B))
    * = bottomK(A ∪ B)` — so a merged sketch is INDISTINGUISHABLE from
    * one built over the concatenated inputs; x101's oracle exploits
    * exactly that by recomputing from scratch. Order-insensitive
    * (distinct + sort), so feeding it from collect_list is safe.
    */
  def kmvMergeSketches(sketches: Column, k: Int = KmvK): Column =
    slice(array_sort(array_distinct(flatten(sketches))), 1, k)

  /** The [[kmvDistinct]] estimator over a materialized sketch column:
    * exact size below k, else `(k-1)·2³² div h_k` — one integer
    * division, the same pure-integer estimate
    * [[graft.functions.TypedAggregators.KmvDistinctAgg]] finishes
    * with (no libm anywhere). `element_at` only evaluates in the
    * full-sketch branch, so ANSI out-of-bounds can never fire.
    */
  def kmvEstimate(sketch: Column, k: Int = KmvK): Column =
    when(size(sketch) < k, size(sketch).cast("long"))
      .when(element_at(sketch, k) === 0L, lit(k.toLong))
      .otherwise(call_function("div",
        lit((k - 1).toLong * 4294967296L), element_at(sketch, k)))

  /** Pairwise set-overlap ESTIMATES from per-key KMV sketches (Beyer et
    * al., SIGMOD'07): for every key pair, merge the two bottom-k
    * sketches (= the union's bottom-k, the [[kmvMergeSketches]]
    * semilattice), count merged members present in BOTH input sketches,
    * and scale — `jaccard ≈ n_common / |K|`,
    * `inter_est = n_common · union_est div |K|`. Exact whenever the
    * union is smaller than k (the merged sketch then IS the union).
    *
    * This is x84's overlap-matrix question at SKETCH cost: with S keys
    * the pairwise-exact answer joins the full per-key domains (S² ·
    * corpus-sized work); here the corpus is read ONCE into S sketches
    * of k longs and every pair costs O(k) — the x78→x78b pattern
    * applied to overlap. The pair join is S² rows of two k-long arrays
    * — bounded by the source-catalog size, a dimension, never the
    * corpus. All arithmetic is integer except the one exact-operand
    * IEEE division producing `jaccard`.
    */
  def kmvOverlapMatrix(df: DataFrame, keyCol: String, value: Column,
                       k: Int = KmvK): DataFrame = {
    val sk = kmvSketch(df, Seq(keyCol), value, k)
    val a = sk.select(col(keyCol).as("src_a"), col("sketch").as("sk_a"))
    val b = sk.select(col(keyCol).as("src_b"), col("sketch").as("sk_b"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("m", kmvMergeSketches(array(col("sk_a"), col("sk_b")), k))
      .withColumn("m_sz", size(col("m")).cast("long"))
      .withColumn("n_common",
        size(array_intersect(array_intersect(col("m"), col("sk_a")),
          col("sk_b"))).cast("long"))
      .withColumn("union_est", kmvEstimate(col("m"), k))
      .withColumn("jaccard", col("n_common") / col("m_sz"))
      .withColumn("inter_est",
        call_function("div", col("n_common") * col("union_est"), col("m_sz")))
      .select("src_a", "src_b", "m_sz", "n_common", "union_est",
        "jaccard", "inter_est")
  }

  /** Default quantile-sketch sample size (per-group sample rows). */
  val QsK = 256

  /** MERGEABLE quantile sketch per key group — the missing fourth leg
    * of the sketch family (Bloom/CMS/HLL/KMV all have mergeable state;
    * quantiles now do too): a bottom-k HASH-RANK row sample, the KMV
    * membership discipline applied to sampling rows instead of counting
    * distincts. Per key, keep the k rows whose unsigned 32-bit murmur3
    * `hash(id)` ranks smallest under the total order (h, id, v); each
    * kept element carries its VALUE, so exact quantiles over the sample
    * estimate the group's quantiles (Bernoulli-sample theory: rank
    * error O(1/√k) rsd — pinned against x93's exact quantiles in
    * QueryBoundsSpec). EXACT below k rows per group (the sample is the
    * whole group).
    *
    * Why hash-rank instead of a random sample: membership is a pure
    * function of the DATA — deterministic, cross-engine replayable
    * (the DuckDB oracle recomputes the same bottom-k via the murmur3
    * CTEs), and a SEMILATTICE: bottom-k by a global total order merges
    * associatively/commutatively/idempotently, so
    * [[quantileMergeSketches]] over shard/day sketches is INDISTINGUISHABLE
    * from the sketch built over the concatenated input — the
    * kmvSketch/kmvMergeSketches incremental-rollup story (x101),
    * now for quantiles.
    *
    * `id` must be row-unique within the group (doc_id, event_id — the
    * tripletMine dense-id discipline); ties on (h, id) fall back to v so
    * even a violated precondition stays deterministic. NULL values are
    * excluded before sampling (SQL aggregate semantics — both engines
    * drop them identically).
    *
    * 100 TB: the build is ONE partial+final typed aggregate
    * ([[graft.functions.TypedAggregators.QuantileSketchAgg]], a k-triple
    * sorted-insert heap): each map task reduces its rows to ≤ k
    * (h, sid, v) triples per key before the exchange, so the wire
    * carries O(partitions·groups·k) — never the corpus rows the former
    * rank-window formulation shuffled. The bottom-k multiset semilattice
    * makes the result bit-identical to that formulation (the DuckDB
    * oracles still replay the global rank ≤ k). NULL ids are excluded
    * alongside NULL values (both violate the row-unique-id contract;
    * exclusion keeps the primitive-long aggregate input total).
    *
    * COMPATIBILITY CUT LINE (round 12): the retired rank-window build
    * KEPT null-id rows (they sorted nulls-first into the sample); this
    * build drops them. Sketches persisted by a pre-round-12 binary over
    * data with null ids are therefore NOT bit-compatible with newly
    * built or merged ones — the bit-identical-merge guarantee holds
    * only under the row-unique-(non-null)-id contract above. History
    * folds over stored sketches (the x101 shape) built before the cut
    * must rebuild the historical side once.
    */
  def quantileSketch(df: DataFrame, keyCols: Seq[String], value: Column,
                     id: Column, k: Int = QsK): DataFrame = {
    require(k >= 2, s"k=$k too small")
    val kc = keyCols.map(col)
    val hu = GraftFunctions.unsignedHash(id)
    val base = df
      .select(kc ++ Seq(hu.as("h"), id.cast("bigint").as("sid"),
        value.cast("bigint").as("v")): _*)
      .filter(col("v").isNotNull && col("sid").isNotNull)
    val agg = udaf(new graft.functions.TypedAggregators.QuantileSketchAgg(k),
      org.apache.spark.sql.Encoders.product[
        graft.functions.TypedAggregators.QsEntry])
    base.groupBy(kc: _*)
      .agg(agg(col("h"), col("sid"), col("v")).as("qsketch"))
  }

  /** Merge an array-of-quantile-sketches column (each from
    * [[quantileSketch]] with the same k): bottom-k of the distinct
    * union under the same (h, sid, v) total order — the semilattice
    * merge (struct arrays sort lexicographically by field, the order
    * the sketches were ranked under). `array_distinct` makes the merge
    * idempotent when inputs overlap (re-merged state, x101's
    * history+batch fold).
    */
  def quantileMergeSketches(sketches: Column, k: Int = QsK): Column =
    slice(array_sort(array_distinct(flatten(sketches))), 1, k)

  /** The `pct`-th percentile (1..100, integer) from a materialized
    * quantile sketch: value at rank ⌈n·pct/100⌉ of the sample's sorted
    * values — the x93 lower-quantile cut, all integer arithmetic
    * (⌈a/b⌉ = (a + b − 1) div b, no libm), null on an empty sketch.
    */
  def quantileEstimate(sketch: Column, pct: Int): Column = {
    require(pct >= 1 && pct <= 100, s"pct must be in [1,100], got $pct")
    val vs = array_sort(transform(sketch, x => x.getField("v")))
    val n = size(sketch).cast("bigint")
    when(size(sketch) === 0, lit(null).cast("bigint"))
      .otherwise(element_at(vs,
        call_function("div", n * pct + lit(99L), lit(100L)).cast("int")))
  }

  /** Sample size and exact row count alongside the estimate — callers
    * report `n_rows` (exact, summed) and `sample_n` so the
    * exact-below-k property is observable in query output.
    */
  def quantileSampleSize(sketch: Column): Column = size(sketch).cast("long")

  /** alpha_m — the harmonic-mean bias constant from Flajolet et al. */
  def hllAlpha(p: Int): Double = {
    val m = (1L << p).toDouble
    0.7213 / (1 + 1.079 / m)
  }

  /** alpha·m²·2^(33-p): numerator of the scaled-integer estimate.
    * Registers are summed as exact integers S = Σ 2^(rmax-M_j) (rmax =
    * 33-p, empty registers contribute 2^rmax), so the only floating
    * step is one double division C/S — bit-identical across engines
    * given the identical decimal literal C (Double.toString round-trips).
    */
  def hllNumerator(p: Int): Double = {
    val m = (1L << p).toDouble
    hllAlpha(p) * m * m * math.pow(2.0, (33 - p).toDouble)
  }

  /** Count-min-sketch heavy hitters over the corpus token stream.
    *
    * The corpus folds into a d×w counter grid —
    * `counter[r][c] = Σ count(tokens hashing to c under row r)` — whose
    * state is d·w integers REGARDLESS of corpus size (the property that
    * makes it a sketch). r17 shape: ONE token rollup (the corpus's only
    * exchange, partial-aggregated) feeds the grid build — each DISTINCT
    * token hashed once, contributing its count, which sums to the same
    * cells as per-occurrence increments — and the candidate arm, which
    * reads `est(t) = min_r counter[r][pos_r(t)]` scan-side off the
    * 1-row broadcast grid map. The estimate is an
    * overestimate by construction (collisions only add), within εN
    * (ε = e/w) with probability 1-δ (δ = e^-d). Returned rows carry the
    * exact count alongside so the overestimate is observable; the
    * heavy-hitter cut `est·10⁴ ≥ N·minShareBp` is exact integer math.
    *
    * Row hashes are disjoint 48-bit hex slices of sha256(token) — same
    * replayable scheme as [[Bloom]]; no seed tables. `w` is sized small
    * (64) relative to this corpus's vocabulary so collisions — and the
    * min-over-rows recovery — actually occur in the output; production
    * sizing is w = ⌈e/ε⌉ for target error εN.
    */
  def cmsHeavyHitters(docs: DataFrame, textCol: String,
                      d: Int = 4, w: Int = 64,
                      minShareBp: Int = 100): DataFrame = {
    require(d >= 1 && d <= 5, s"d=$d rows need 12d hex chars; sha256 has 64")
    def pos(h: Column, r: Int): Column =
      conv(substring(h, 1 + 12 * r, 12), 16, 10).cast("long") % w
    // ONE per-token rollup feeds everything (r17): the grid cell
    // `counter[r][c] = Σ count(tokens hashing to c)` is identical whether
    // each OCCURRENCE contributes 1 or each DISTINCT token contributes
    // its count — so hash |vocab| tokens instead of |stream| occurrences
    // (sha256 was the dominant task CPU) and fold counts. The stream
    // total is the same rollup summed. Corpus crosses the wire once,
    // keyed on the token (partial-aggregated).
    // persistOnce: BOTH arms (grid build, candidate read) consume this
    // rollup — uncached, each re-tokenizes the corpus. Vocab-bounded
    // (distinct tokens), so the pinned bytes are sketch-small at scale.
    val tokCounts = graft.Caches.persistOnce(graft.tables.Tables
      .spread(docs) // single-split local files: spread the tokenize+hash
      .select(explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact")))
    // the grid as a 1-row broadcast map (d·w ≤ 320 entries): estimates
    // then read scan-side via element_at — no per-candidate join, no
    // (tok, exact) re-shuffle. Lookups always hit: a token's own count
    // is in every cell it hashes to.
    val gridRow = tokCounts
      .select(col("exact"), sha2(col("tok"), 256).as("hh"))
      .select(col("exact"), posexplode(array((0 until d).map(pos(col("hh"), _)): _*))
        .as(Seq("r", "pos")))
      .groupBy("r", "pos").agg(sum(col("exact")).as("c"))
      .agg(
        map_from_entries(collect_list(struct(col("r") * w + col("pos"), col("c"))))
          .as("grid"),
        sum(when(col("r") === 0, col("c"))).as("n_stream"))
    val h = sha2(col("tok"), 256)
    val ests = (0 until d).map(r => element_at(col("grid"), lit(r) * w + pos(h, r)))
    tokCounts
      .crossJoin(broadcast(gridRow))
      .withColumn("est", if (d == 1) ests.head else least(ests: _*))
      .filter(col("est") * 10000 >= col("n_stream") * minShareBp)
      .select(col("tok"), col("est"), col("exact"))
  }

  /** Count-min-sketch JOIN-SIZE estimate — the CMS inner-product
    * estimator (Cormode & Muthukrishnan, J. Algorithms 55(1) 2005 §4.2,
    * the AMS F₂ idea carried into CMS): for two relations joined on a
    * key, fold each side's key stream into its own d×w counter grid,
    * then `est_r = Σ_c A_r[c]·B_r[c]` per row and `est = min_r est_r`.
    * Collisions only ADD cross terms, so `est ≥ |A ⋈ B| =
    * Σ_k n_A(k)·n_B(k)` always, within `ε·N_A·N_B` (ε = e/w) with
    * probability 1−e^(−d). The exact join size is computed alongside so
    * the overestimate is observable (the x32 est-vs-exact discipline);
    * at production scale only the sketch arm runs — that is the point:
    * it prices a join WITHOUT executing it, from two single-pass
    * O(d·w)-state scans (the query-optimizer cardinality question asked
    * of 100 TB inputs).
    *
    * Both sides arrive in ONE frame tagged by `sideCol` (0 = build, 1 =
    * probe), so the grid pass is a single partial-aggregatable groupBy
    * over (side, r, pos) — bounded at 2·d·w rows regardless of input
    * size — and the exact arm is one conditional-count groupBy on the
    * key. Row hashes are disjoint 48-bit hex slices of
    * sha256(key-as-string) — the [[cmsHeavyHitters]]/Bloom replayable
    * scheme, no seed tables, so the DuckDB oracle rebuilds both grids
    * bit-exactly.
    *
    * 100 TB: the grid join is 2·d·w rows (broadcast), the inner product
    * d·w products summed per row — sketch-side cost is independent of
    * data volume past the two scans. The exact arm shuffles per-key
    * counts once on the join key (partial-aggregatable); it exists for
    * verification and is the piece a production run would drop.
    */
  /** The d CMS row positions of `key`: disjoint 48-bit hex slices of
    * sha256(key-as-string) mod w — the [[cmsHeavyHitters]]/Bloom
    * replayable scheme, shared by [[cmsJoinSize]] and the st26
    * streaming grid so batch and stream hash identically.
    */
  def cmsSlices(key: Column, d: Int, w: Int): Column = {
    require(d >= 1 && d <= 5, s"d=$d rows need 12d hex chars; sha256 has 64")
    require(w >= 2 && (w & (w - 1)) == 0 && w <= (1 << 20),
      s"w=$w must be a power of two <= 2^20")
    val hh = sha2(key.cast("string"), 256)
    array((0 until d).map { r =>
      conv(substring(hh, 1 + 12 * r, 12), 16, 10).cast("long") % w
    }: _*)
  }

  def cmsJoinSize(df: DataFrame, keyCol: String, sideCol: String,
                  d: Int = 4, w: Int = 256): DataFrame = {
    val grids = df
      .select(col(sideCol).cast("long").as("side"),
        posexplode(cmsSlices(col(keyCol), d, w)).as(Seq("r", "pos")))
      .groupBy("side", "r", "pos").agg(count(lit(1)).as("c"))
    val ga = grids.filter(col("side") === 0L).drop("side")
      .withColumnRenamed("c", "ca")
    val gb = grids.filter(col("side") === 1L).drop("side")
      .withColumnRenamed("c", "cb")
    // Inner product over the FULL d×w spine, not just co-populated
    // cells: an inner grid join drops any row r with no overlapping
    // cell, so disjoint-key inputs would yield NULL (or an overstated
    // min over the surviving rows) instead of the correct est = 0 —
    // and would diverge from the st26 keyed-state readout, which keeps
    // one-sided cells with a zero partner (r11 ADVICE). The spine is a
    // pure d·w-row range projection; absent cells contribute 0·0.
    // The grids are ≤ d·w rows each but sit above an aggregate, where
    // Catalyst's size estimate is blind — pin the broadcasts.
    val spine = df.sparkSession.range(0, d.toLong * w)
      .select(call_function("div", col("id"), lit(w.toLong))
        .cast("int").as("r"),
        pmod(col("id"), lit(w.toLong)).as("pos"))
    val est = spine.join(broadcast(ga), Seq("r", "pos"), "left")
      .join(broadcast(gb), Seq("r", "pos"), "left")
      .groupBy("r")
      .agg(sum(coalesce(col("ca"), lit(0L)) * coalesce(col("cb"), lit(0L)))
        .as("est_r"))
      .agg(min(col("est_r")).as("est"))
    val exact = df
      .groupBy(col(keyCol))
      .agg(sum(when(col(sideCol) === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col(sideCol) === 1, 1L).otherwise(0L)).as("nb"))
      .agg(sum(col("na") * col("nb")).as("exact"))
    est.crossJoin(exact)
      .select(lit(d).as("d"), lit(w).as("w"), col("est"), col("exact"),
        call_function("div", (col("est") - col("exact")) * 10000L,
          greatest(col("exact"), lit(1L))).as("err_bp"))
  }

  /** HLL distinct-count of `value` per `groupCols`, as `outCol` (long).
    *
    * Register index = top p bits of the unsigned 32-bit murmur3
    * `hash(value)`; rank = leading-zero count of the remaining 32-p
    * bits + 1 (via `length(bin(w))` — both engines' `bin` drops leading
    * zeros). All integer math until the final division.
    */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], value: Column,
                  outCol: String, p: Int = HllP): DataFrame = {
    require(p >= 4 && p <= 16, s"p=$p out of range")
    val (bucket, rank) = hllRegister(value, p)
    val gcols = groupCols.map(col)
    df.select(gcols :+ bucket.as("hll_bucket") :+ rank.as("hll_rank"): _*)
      .groupBy(gcols :+ col("hll_bucket"): _*)
      .agg(max(col("hll_rank")).as("mj"))
      .groupBy(gcols: _*)
      .agg(hllSum(p).as("hll_s"))
      .withColumn(outCol, floor(lit(hllNumerator(p)) / col("hll_s")).cast("long"))
      .drop("hll_s")
  }

  /** The HLL register `value` updates, as (register index, rank): the
    * top p bits of the unsigned 32-bit murmur3 hash, and the leading-zero
    * count of the remaining 32-p bits + 1.
    */
  private[graft] def hllRegister(value: Column, p: Int): (Column, Column) = {
    val rmax = 33 - p
    val u = GraftFunctions.unsignedHash(value)
    val w = u.bitwiseAND(lit((1L << (32 - p)) - 1))
    (shiftright(u, 32 - p), when(w === 0, lit(rmax)).otherwise(lit(rmax) - length(bin(w))))
  }

  /** The number of empty registers of a group of `mj` register maxima. */
  private[graft] def hllEmpty(p: Int): Column = lit(1L << p) - count(lit(1))

  /** The HLL estimate's denominator over a group of `mj` register maxima,
    * scaled by 2^(33-p) to stay integer: Σ 2^-mj over the registers, an
    * empty register counting 2^0.
    */
  private[graft] def hllSum(p: Int): Column = {
    val rmax = 33 - p
    sum(expr(s"shiftleft(CAST(1 AS BIGINT), $rmax - mj)")) + hllEmpty(p) * lit(1L << rmax)
  }
}
