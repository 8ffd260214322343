package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Deterministic hash-based sampling for training-data pipelines.
  *
  * `TABLESAMPLE`/`df.sample` draw from an RNG whose stream depends on
  * partitioning and task scheduling — re-running the pipeline (or
  * changing the partition count) changes the sample. Keying the
  * decision on `hash(id)` instead makes the sample a pure function of
  * the data: reproducible across runs, clusters, and engines,
  * join-stable (the same ids are in-sample everywhere), and
  * incremental (new rows don't reshuffle old decisions — the property
  * that makes hash-sampling the standard for train/eval splits).
  *
  * 100 TB: a scan-side codegen'd filter — no shuffle, no state; the
  * sample rate prunes every downstream operator proportionally.
  */
object Sampling {
  /** Unsigned-32 murmur3 bucket of `id` in [0, buckets). */
  def hashBucket(id: Column, buckets: Int = 100): Column =
    GraftFunctions.unsignedHash(id) % buckets

  /** Keep rows whose hash bucket falls below their stratum's rate:
    * per-stratum rates (e.g. oversample a rare language), `defaultPct`
    * elsewhere. `rates` is evaluated as a chained when/otherwise —
    * strata count is expected to be small. With no `rates` this is the
    * plain `defaultPct`% sample.
    */
  def stratifiedHashSample(df: DataFrame, id: Column, stratum: Column,
                           rates: Seq[(String, Int)], defaultPct: Int,
                           buckets: Int = 100): DataFrame = {
    val rate = rates.foldRight(lit(defaultPct): Column) {
      case ((value, pct), acc) => when(stratum === value, lit(pct)).otherwise(acc)
    }
    df.filter(hashBucket(id, buckets) < rate)
  }

  /** Deterministic mixture balancing: downsample every stratum to the
    * rarest stratum's size, so the output mixture is uniform over
    * `stratumCol` (the data-mixing step before training: no domain or
    * language dominates the batch stream). The per-stratum rate is
    * derived from the data (target / n_stratum) and applied as a pure
    * integer predicate on the hash bucket —
    * `bucket · n_stratum < target · buckets` — so acceptance stays
    * reproducible, join-stable, and monotone (a larger target keeps a
    * superset). `weight` (target / n_stratum, one IEEE division)
    * reports the realized rate for loss re-weighting instead of
    * dropping, if the caller prefers.
    *
    * 100 TB: the stratum-count aggregate is partial-aggregatable and
    * tiny (strata-sized); it is broadcast back onto the scan, so the
    * accept filter stays scan-side with no extra shuffle of the data.
    */
  def mixtureBalance(df: DataFrame, id: Column, stratumCol: String,
                     buckets: Int = 10000): DataFrame = {
    // The strata-sized counts table is persisted ([[graft.Caches]]
    // ownership policy) so the global min is a second aggregate over the
    // CACHED handful of rows, not a second scan of `df` — and not a
    // partitionless window, whose WindowExec warning would be
    // indistinguishable from a real single-partition scale bug.
    val counts = graft.Caches.persistOnce(
      df.groupBy(stratumCol).agg(count(lit(1)).as("n_stratum")))
    val rates = counts.crossJoin(
      broadcast(counts.agg(min(col("n_stratum")).as("target_n"))))
    df.join(broadcast(rates), stratumCol)
      .withColumn("samp_bucket", hashBucket(id, buckets).cast("long"))
      .filter(col("samp_bucket") * col("n_stratum") <
              col("target_n") * lit(buckets.toLong))
      .withColumn("weight", col("target_n").cast("double") / col("n_stratum"))
  }

  /** Deterministic negative sampling for contrastive training: each
    * item draws `k` pseudo-random partners by hashing (id·k + i) into
    * the id space — a pure function of the id, so the pairing is
    * reproducible across runs, partitionings, and engines (no RNG
    * stream). Self-draws are dropped; `true_negative` flags whether
    * the partner's label actually differs (callers filter or re-draw
    * on it).
    *
    * 100 TB: the corpus-count aggregate is one tiny broadcast; the
    * k-way expansion is scan-side metadata; the only real shuffle is
    * the partner equi-join, keyed on the hash-uniform neg_id — no
    * skew, no cartesian.
    */
  def negativeSamples(items: DataFrame, idCol: String, labelCol: String,
                      k: Int = 4): DataFrame = {
    val n = broadcast(items.agg(count(lit(1)).as("n")))
    val cand = items.select(col(idCol).as("vec_id"), col(labelCol).as("label"))
      .crossJoin(n)
      .select(col("vec_id"), col("label"), col("n"),
        explode(array((0 until k).map(lit(_)): _*)).as("i"))
      .withColumn("neg_id", GraftFunctions.unsignedHash(col("vec_id") * k + col("i")) % col("n"))
      .filter(col("neg_id") =!= col("vec_id"))
    cand
      .join(items.select(col(idCol).as("neg_id"), col(labelCol).as("neg_label")),
        Seq("neg_id"))
      .select(col("vec_id"), col("i"), col("neg_id"), col("label"), col("neg_label"))
      .withColumn("true_negative", col("label") =!= col("neg_label"))
  }

  /** Deterministic global corpus shuffle into fixed training shards —
    * the "shuffle the corpus before training" step done as a pure
    * function of the data instead of an RNG: `shard_id = murmur3(id) %
    * nShards`, `shard_pos` = rank of `murmur3(id)` within the shard
    * (ties → id). Re-running the pipeline, changing the input
    * partitioning, or running on another engine reproduces the exact
    * same permutation, and adding documents leaves every existing
    * (shard, position-order) relation intact except where new rows
    * interleave — properties an RNG shuffle cannot give.
    *
    * 100 TB: one shuffle keyed on shard_id; within-shard ordering is a
    * per-partition sort. Each shard materializes through one task BY
    * DESIGN — a shard is the unit one trainer reads sequentially, so
    * `nShards` is chosen (thousands) to make a shard a few GB, which
    * is exactly the parallelism the write needs. No global ordering
    * structure (zipWithIndex, single-partition window) anywhere.
    */
  /** Deterministic fixed-size per-stratum subset: at most `n` rows per
    * stratum, chosen by the murmur3-hash order of the id (the
    * [[shuffleShard]] ordering restricted to each stratum), ties → id.
    * The fixed-eval-subset builder: every language/source contributes a
    * reproducible pseudo-random ≤ n regardless of stratum skew, stable
    * across runs, partitionings, and engines — no RNG stream.
    * `take_rank` (1-based) is the within-stratum position, so callers
    * can later shrink the subset (rank ≤ m, m < n) without resampling.
    *
    * 100 TB: written as the standard rank-window + literal bound, which
    * [[graft.plans.TopKViaWindowRewrite]] swaps for the bounded-heap
    * TopKPerKeyExec — O(rows·log n) per partition with O(strata·n)
    * state instead of a full per-stratum sort; one shuffle on the
    * stratum key. A hot stratum costs its row count, not its sort.
    */
  def stratifiedTake(df: DataFrame, id: Column, stratumCol: String,
                     n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol)).orderBy(col("take_key"), id)
    df.withColumn("take_key",
        GraftFunctions.unsignedHash(id))
      .withColumn("take_rank", row_number().over(w))
      .filter(col("take_rank") <= n)
      .drop("take_key")
  }

  def shuffleShard(df: DataFrame, id: Column, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard_id"))
      .orderBy(col("shuffle_key"), id)
    df.withColumn("shuffle_key",
        GraftFunctions.unsignedHash(id))
      .withColumn("shard_id", (col("shuffle_key") % nShards).cast("int"))
      .withColumn("shard_pos", (row_number().over(w) - 1).cast("long"))
  }

  /** Temperature-weighted mixture sampling (the multilingual-corpus
    * balancing rule): stratum `i` is sampled toward share
    * `sqrt(n_i) / Σ sqrt(n_j)` of a target volume `Σn / 2` — α = 0.5
    * in the p_i^α family, the standard compromise that upsamples rare
    * strata without flattening the mixture (α = 1 is proportional =
    * no-op; α = 0 is uniform = [[mixtureBalance]]). α is FIXED at 0.5
    * because sqrt is an IEEE correctly-rounded primitive on both
    * engines while libm `pow` is not — arbitrary-α is expressible but
    * would demote the oracle to rows-only.
    *
    * Every float op is engine-exact: sqrt(n_i) is quantized to the
    * 2^-20 grid so the strata sum is order-independent; the keep rate
    * `((g_i/denom)·T)/n_i` is a fixed left-to-right chain of correctly
    * rounded ops on identical inputs; acceptance compares the murmur3
    * bucket against `floor(rate·buckets + 0.5)` — integers.
    *
    * Returns the input rows that survive, with `mix_thr` (the integer
    * acceptance threshold) and `mix_weight` (realized keep rate, for
    * loss re-weighting instead of dropping) attached.
    *
    * 100 TB: the per-stratum count is a tiny partial-aggregatable
    * rollup broadcast back onto the scan; acceptance is a scan-side
    * integer predicate — no shuffle of the data itself.
    */
  def temperatureMixture(df: DataFrame, id: Column, stratumCol: String,
                         buckets: Int = 10000): DataFrame =
    df.join(broadcast(temperatureMixtureRates(df, stratumCol, buckets)), stratumCol)
      .filter(hashBucket(id, buckets) < col("mix_thr"))
      .withColumn("mix_weight", col("mix_thr").cast("double") / buckets)
      .drop("n_stratum")

  /** DSIR-style importance resampling: keep each row with probability
    * equal to a per-row importance weight (clamped to [0,1]) — the
    * "resample raw data toward a target distribution" selection step
    * (Data Selection via Importance Resampling), with the acceptance
    * decision keyed on `hash(id)` instead of an RNG so the sample is a
    * pure function of the data. The weight is any deterministic
    * expression — a quality score, an n-gram likelihood ratio, a
    * classifier margin. `imp_thr` (the integer acceptance threshold,
    * `floor(w·buckets + 0.5)`) is attached for auditability.
    *
    * 100 TB: the weight and the acceptance predicate are both
    * scan-side per-row expressions — no shuffle, no state; downstream
    * operators see only the kept fraction.
    */
  def importanceResample(df: DataFrame, id: Column, weight: Column,
                         buckets: Int = 10000): DataFrame =
    df.withColumn("imp_thr",
        floor(least(greatest(weight, lit(0.0)), lit(1.0)) * buckets + lit(0.5))
          .cast("long"))
      .filter(hashBucket(id, buckets) < col("imp_thr"))

  /** Leakage-safe train/val/test split: the split decision hashes the
    * near-dup CLUSTER label (e.g. `canonical_id` from
    * [[graft.operators.Dedup.connectedComponentsKeepOne]]), not the
    * document — every member of a duplicate cluster lands in the same
    * split, so a near-copy of a training document can never appear in
    * the held-out set (the self-contamination that inflates eval
    * scores; cf. Dedup.decontaminate, which removes KNOWN eval text —
    * this prevents contamination between a corpus's own splits).
    * Deterministic: bucket = unsigned murmur3(label) % 100, train if
    * < trainPct, val if < trainPct+valPct, else test.
    *
    * 100 TB: the label arrives from the dedup pass the pipeline already
    * runs; the split itself is a scan-side codegen'd expression — no
    * shuffle, no state, re-runnable on any subset with identical
    * assignments.
    */
  def clusterSplit(labeled: DataFrame, clusterCol: String,
                   trainPct: Int = 80, valPct: Int = 10): DataFrame =
    labeled
      .withColumn("split_bucket", hashBucket(col(clusterCol), 100).cast("int"))
      .withColumn("split",
        when(col("split_bucket") < trainPct, lit("train"))
          .when(col("split_bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))

  /** The per-stratum mixing table behind [[temperatureMixture]]:
    * (stratum, n_stratum, mix_thr) — public so pipelines can inspect or
    * report the realized mixture without materializing the kept rows.
    */
  def temperatureMixtureRates(df: DataFrame, stratumCol: String,
                              buckets: Int = 10000): DataFrame = {
    val grid = 1048576 // 2^20
    // persisted strata-sized counts + broadcast single-row totals in
    // place of partitionless windows — same single computation of the
    // counts subtree, warning-free plan (see mixtureBalance)
    val counts = graft.Caches.persistOnce(
      df.groupBy(stratumCol).agg(count(lit(1)).as("n_stratum"))
        .withColumn("gq",
          floor(sqrt(col("n_stratum").cast("double")) * grid + lit(0.5)) / grid))
    val totals = counts.agg(sum(col("gq")).as("denom"),
      floor(sum(col("n_stratum")).cast("double") / 2).as("t_target"))
    counts.crossJoin(broadcast(totals))
      .withColumn("mix_thr",
        floor(least(col("gq") / col("denom") * col("t_target") / col("n_stratum"),
          lit(1.0)) * buckets + lit(0.5)).cast("long"))
      .select(col(stratumCol), col("n_stratum"), col("mix_thr"))
  }

  /** DSIR — Data Selection via hashed n-gram Importance Resampling
    * (Xie et al. 2023, arXiv:2302.03169). The paper estimates a target
    * and a raw feature distribution over HASHED n-gram buckets and
    * weights each raw document by its likelihood ratio; documents are
    * then resampled by weight. Here the features are word unigrams +
    * bigrams of the first `maxTokens` tokens, bucketed by the rolling
    * hash mod `buckets` (a power of two so the signed/unsigned mod
    * agree across engines), and the target distribution is estimated
    * from the rows matching `targetPred` (an in-domain subset — e.g. a
    * language or source — standing in for the paper's target corpus).
    *
    * Engine-exactness: the paper's per-bucket weight is a log-ratio;
    * `ln` is not correctly-rounded-guaranteed across engines, so the
    * weight here is the 2^-20-grid-quantized PLAIN likelihood ratio
    * with add-one smoothing, λ_b = ⌊grid·(t_b+1)(R+B) / ((r_b+1)(T+B))
    * + ½⌋, and a document's importance is the count-weighted SUM of
    * λ_b over its buckets (arithmetic- rather than geometric-mean
    * importance — monotone per feature, integer-exact end to end, the
    * same no-ln policy as x42/x60). `keep` marks docs whose mean ratio
    * exceeds 1 (imp_q > n_feat·grid): more target-like than neutral.
    *
    * 100 TB: the corpus is NEVER shuffled. Pass 1 (estimation) explodes
    * features and partial-aggregates straight onto the bucket key — the
    * exchange carries ≤ `buckets` rows per task, not per-doc counts.
    * The λ table (`buckets` rows, bounded by the [[MaxDsirBuckets]]
    * guard — the cbArray discipline) then collapses into ONE broadcast
    * map row, and pass 2 (scoring) is a codegen'd scan-side `aggregate`
    * over each doc's feature array with a map lookup per feature — zero
    * joins on the corpus, zero per-doc shuffle, the x74 shape with
    * data-learned weights. (A first cut kept per-(doc,bucket) counts
    * through a doc-keyed shuffle + broadcast join + per-doc agg; the
    * scan-side rewrite removed both corpus exchanges — A/B in PERF.md
    * round 8.)
    */
  def dsirImportance(docs: DataFrame, textCol: String, idCol: String,
                     targetPred: Column, buckets: Int = 512,
                     maxTokens: Int = 256): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets=$buckets must be a power of two: the oracle replays the " +
        "bucket as an unsigned-2^64 mod, which equals Spark's signed pmod " +
        "only when buckets divides 2^64")
    require(buckets <= MaxDsirBuckets,
      s"buckets=$buckets exceeds MaxDsirBuckets=$MaxDsirBuckets: the λ " +
        "table is collapsed into one broadcast map row and must stay " +
        "bucket-table-sized, never vocabulary-sized")
    GraftFunctions.register(docs.sparkSession)
    val grid = 1048576L // 2^20
    val ws = slice(split(lower(col(textCol)), "\\s+"), 1, maxTokens)
    val unigrams = col("ws")
    val bigrams = zip_with(
      slice(col("ws"), lit(1), size(col("ws")) - 1),
      slice(col("ws"), lit(2), size(col("ws")) - 1),
      (a, b) => concat(a, lit(" "), b))
    def bucketOf(c: Column) =
      pmod(GraftFunctions.rollingHash(c), lit(buckets.toLong))
    // persisted so the feature arrays materialize ONCE and both passes
    // (estimation explode, scan-side scoring) read the cache — without
    // it, InferFiltersFromGenerate re-derives the whole feats expression
    // inside the estimation pass's pre-explode filter
    val featDocs = graft.Caches.persistOnce(
      docs.select(col(idCol).as("doc_id"),
          when(targetPred, lit(1L)).otherwise(lit(0L)).as("is_target"),
          ws.as("ws"))
        .select(col("doc_id"), col("is_target"),
          concat(unigrams, bigrams).as("feats")))
    // pass 1 — distribution estimate: explode + partial agg directly on
    // the bucket key; the exchange is bucket-sized, not corpus-sized
    val dist = featDocs
      .select(col("is_target"), explode(col("feats")).as("feat"))
      .groupBy(bucketOf(col("feat")).as("b"))
      .agg(count(lit(1)).as("r_b"), sum(col("is_target")).as("t_b"))
    val totals = dist.agg(sum(col("r_b")).as("rr"), sum(col("t_b")).as("tt"))
    // λ per bucket, collapsed to ONE broadcast map row. Every bucket
    // seen at scoring exists in the map by construction: the same
    // corpus and the same deterministic hash produced pass 1.
    val lamRow = broadcast(dist.crossJoin(broadcast(totals))
      .withColumn("lambda_q",
        floor((col("t_b") + 1).cast("double") * (col("rr") + buckets).cast("double")
          / ((col("r_b") + 1).cast("double") * (col("tt") + buckets).cast("double"))
          * grid + lit(0.5)).cast("long"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("lambda_q"))))
        .as("lam")))
    // pass 2 — scoring: scan-side aggregate over the feature array,
    // one broadcast-map lookup per feature occurrence
    featDocs.crossJoin(lamRow)
      .select(col("doc_id"),
        size(col("feats")).cast("long").as("n_feat"),
        aggregate(col("feats"), lit(0L), (acc, f) =>
          acc + element_at(col("lam"), bucketOf(f))).as("imp_q"))
      .withColumn("keep",
        when(col("imp_q") > col("n_feat") * grid, lit(1)).otherwise(lit(0)))
      .select("doc_id", "n_feat", "imp_q", "keep")
  }

  /** Contrastive triplet mining: (anchor, positive, negative) training
    * rows from a mined near-dup PAIR set (the positives — e.g.
    * [[Dedup.embeddingCosinePairsBlocked]]'s output, the session
    * artifact x15/x22 already share) plus `negsPerAnchor` deterministic
    * hash-drawn negatives per pair — the in-batch-negatives shape
    * contrastive embedding training consumes, with the x46/x24 RNG-free
    * discipline: the negative draw is `murmur3(anchor·k + j) mod n`, a
    * pure function of the data, so the triplet set replays identically
    * across runs, partitionings, and engines. Draws that collide with
    * the anchor or its positive are DROPPED, not resampled (the
    * deterministic choice; at corpus scale the collision fraction is
    * ~2/n).
    *
    * 100 TB: the pair set is the bounded output of the banded/blocked
    * miner; negatives add a k-way scan-side explode and a broadcast
    * single-row count — no join against the corpus until the caller
    * fetches negative payloads (an id-keyed join it can defer to
    * training-shard assembly).
    */
  private[graft] val MaxMixSources = 65536

  /** Token-budget waterfilling mix: fill a global training-token budget
    * across sources, smallest-first — small sources contribute
    * everything, large sources are capped at a common integer level
    * (the max-min-fair "waterfilling" allocation). The budgeted
    * curation step a pipeline runs AFTER per-doc filtering: "give me
    * B tokens, as source-diverse as possible".
    *
    * Semantics (deterministic, engine-replayable): sources sorted
    * ascending by (total, source); the greedy prefix that fully fits
    * takes everything (source k fits when its total ≤ the integer
    * level `(B − taken) div (sources left)`); every remaining source
    * gets the SAME fixed level `(B − prefix total) div (rest count)` —
    * each such source's total strictly exceeds that level by
    * construction, and the sub-`rest` integer remainder stays
    * unallocated (≤ one token per source — noise at any real B). Doc
    * selection within a source is the murmur3-ordered prefix whose
    * cumulative token count stays within the allocation (hash order =
    * the x24/x65 reproducible-sample discipline; a doc straddling the
    * boundary is dropped, never split).
    *
    * 100 TB: the corpus streams once into (doc, tokens) — scan-side
    * token counts, no text shuffle; per-source totals are a
    * partial-agg over source cardinality; the allocation solve is
    * driver state BOUNDED by source count ([[MaxMixSources]]-fenced —
    * the codebook-guard discipline) and rejoins as a broadcast; the
    * per-source cumulative-sum window shuffles ids+counts only, never
    * text. A mega-source's window sort is the one per-key order
    * statistic — at extreme skew, shard it two-level (per-shard
    * subtotals, then shard offsets) like any distributed prefix sum.
    */
  def tokenBudgetMix(docs: DataFrame, textCol: String, idCol: String,
                     sourceCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val spark = docs.sparkSession
    // source is a LABEL in the output schema — cast up front so a
    // non-string source column (int shard id, date partition) feeds the
    // driver solve instead of a ClassCastException at getString.
    val toks = graft.Caches.persistOnce(docs.select(
      col(sourceCol).cast("string").as("source"), col(idCol).as("doc_id"),
      size(split(lower(col(textCol)), "\\s+")).cast("bigint").as("toks")))
    val totals = toks.groupBy("source").agg(sum("toks").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(totals.length <= MaxMixSources,
      s"tokenBudgetMix saw ${totals.length} sources; the driver-side " +
        s"waterfilling solve is fenced at MaxMixSources=$MaxMixSources")
    val sorted = totals.sortBy { case (s, t) => (t, s) }
    val n = sorted.length
    var taken = 0L
    var k = 0
    while (k < n &&
        sorted(k)._2 <= math.max(budget - taken, 0L) / (n - k)) {
      taken += sorted(k)._2
      k += 1
    }
    val level = if (k < n) math.max(budget - taken, 0L) / (n - k) else 0L
    val alloc = sorted.zipWithIndex.map { case ((s, t), i) =>
      (s, if (i < k) t else level)
    }
    import spark.implicits._
    val allocDf = alloc.toSeq.toDF("source", "alloc")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("hu"), col("doc_id"))
    toks.join(broadcast(allocDf), "source")
      .withColumn("hu", GraftFunctions.unsignedHash(col("doc_id")))
      .withColumn("cum", sum("toks").over(w))
      .withColumn("kept", (col("cum") <= col("alloc")).cast("int"))
      .groupBy("source")
      .agg(sum("toks").as("total_tokens"),
        max("alloc").as("alloc_tokens"),
        sum("kept").cast("bigint").as("kept_docs"),
        sum(when(col("kept") === 1, col("toks")).otherwise(lit(0L)))
          .as("kept_tokens"))
  }

  def tripletMine(pairs: DataFrame, items: DataFrame, idCol: String,
                  negsPerAnchor: Int = 2): DataFrame = {
    require(negsPerAnchor >= 1, "negsPerAnchor must be >= 1")
    // Negatives are drawn as hash % n over the id DOMAIN, which is only
    // a sample of `items` when ids are dense 0..n-1 — on a sparse id
    // space the modulus would silently fabricate ids with no vector
    // behind them. Fence it: one 1-row aggregate (the codebook-guard
    // discipline; sparse callers should rank ids first, e.g.
    // row_number() over (order by id) - 1).
    val s = items.agg(countDistinct(col(idCol)).as("n"),
      min(col(idCol)).cast("bigint").as("mn"),
      max(col(idCol)).cast("bigint").as("mx")).collect()(0)
    val n = s.getLong(0)
    require(n > 0, "tripletMine needs a non-empty items table")
    require(s.getLong(1) == 0L && s.getLong(2) == n - 1,
      s"tripletMine requires a dense 0..n-1 id space for hash-modulus " +
        s"negatives; saw n=$n ids spanning [${s.getLong(1)}, ${s.getLong(2)}] " +
        "— rank ids densely first (row_number() - 1)")
    pairs.select(col("d1").as("anchor"), col("d2").as("positive"), col("cosine"))
      .select(col("anchor"), col("positive"), col("cosine"),
        explode(array((0 until negsPerAnchor).map(lit(_)): _*)).as("j"))
      .withColumn("neg_id",
        GraftFunctions.unsignedHash(col("anchor") * negsPerAnchor + col("j")) % lit(n))
      .filter(col("neg_id") =!= col("anchor") && col("neg_id") =!= col("positive"))
      .select("anchor", "positive", "cosine", "j", "neg_id")
  }

  /** Hard cap on [[dsirImportance]]'s bucket count: the λ table becomes
    * one driver-built broadcast map row (the cbArray discipline —
    * bucket tables are 10^2–10^4 entries by design; a vocabulary-sized
    * "bucket count" would build a corpus-scale driver row).
    */
  private[operators] val MaxDsirBuckets = 65536
}
