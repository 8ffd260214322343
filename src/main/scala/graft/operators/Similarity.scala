package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.tables.Exact

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - bruteForceTopK: exact cosine top-k. The query side is broadcast, the
  *    candidate side streams through a fused codegen cosine loop, and the
  *    per-query top-k is a rank-window over (similarity, id). At cluster
  *    scale this is a map-side broadcast join + per-partition partial
  *    top-k — no candidate shuffle until the final k·|queries| rows.
  *  - srpTopK: scale path. Seeded ±1 random projections bucket every
  *    vector, so only bucket-colliding pairs are scored.
  */
object Similarity {

  /** Hard cap on codebook entries collapsed into ONE driver-broadcast
    * row by [[cbArray]]. Codebooks are cells/codewords-sized (≤
    * thousands) by design; a caller passing a corpus-sized "codebook"
    * would build a single giant row driver-side and broadcast it — the
    * same failure class the connected-components 1 M-edge guard fences.
    * The public `cells`/`ks` params are require-checked against this
    * bound; cbArray itself re-checks scan-side (raise_error) so a
    * future caller bypassing the require still fails fast, not OOM.
    */
  private[operators] val MaxCodebookEntries = 65536

  private[operators] def requireCodebookSized(n: Int, what: String): Unit =
    require(n <= MaxCodebookEntries,
      s"$what=$n exceeds MaxCodebookEntries=$MaxCodebookEntries: " +
        "the codebook is collapsed into one broadcast row and must stay " +
        "codebook-sized, never corpus-sized")

  /** A (cell, centroid) codebook collapsed to ONE row holding the
    * entries as an array — the broadcastable scan-side form of
    * nearest-cell election. Joining this single row (broadcast nested
    * loop of 1 row) and computing a per-row argmin over the array
    * replaces the former crossJoin-explode + rk=1-window form, which
    * shuffled cells× exploded corpus rows just to elect a per-row
    * minimum. Entry order in the array is irrelevant: the election is
    * a lexicographic array_min. Guarded at [[MaxCodebookEntries]]: an
    * oversized codebook raises at first action instead of building a
    * corpus-sized single row on the driver.
    */
  private[operators] def cbArray(codebook: DataFrame) =
    broadcast(codebook
      .agg(collect_list(struct(col("cell"), col("centroid"))).as("cb0"))
      .select(when(size(col("cb0")) <= MaxCodebookEntries, col("cb0"))
        .otherwise(raise_error(concat(
          lit(s"codebook exceeds MaxCodebookEntries=$MaxCodebookEntries: "),
          size(col("cb0")).cast("string"), lit(" entries"))))
        .as("cb")))

  /** Per-codebook-entry election key for `vec`: struct(-cosine, cell),
    * cosine floor-rounded to 1e-6 first. array_min of this ranking is
    * exactly the old window election (max cell_sim, ties to the
    * smallest cell id): minimal neg = maximal sim, and -0.0/0.0 order
    * under IEEE total order the same way the desc sort ordered them —
    * including nulls: cosineSim is null for a zero-norm vector or
    * centroid, the window's `desc` ordering put nulls LAST, and a null
    * struct field would sort FIRST under array_min, so the ranking key
    * coalesces null to +∞ (never elected ahead of any real cosine;
    * ties inside the null class still break on the smaller cell id).
    */
  private def cellRanking(vec: org.apache.spark.sql.Column) =
    transform(col("cb"), e =>
      struct(
        coalesce(
          -Exact.round6(GraftFunctions.cosineSim(vec, e.getField("centroid"))),
          lit(Double.MaxValue))
          .as("neg"),
        e.getField("cell").as("cell")))

  /** Exact cosine top-k: for each query vector, the k nearest candidates.
    * Similarity is rounded to 1e-6 (deterministically) before ranking so
    * results are reproducible across engines and run orders; ties break
    * on candidate id.
    */
  /** Embedding-table quality audit — the pre-index ANALYZE for vector
    * data: per vector, its dimension count, grid-quantized squared L2
    * norm, zero-vector flag, and exact min/max components. Catches the
    * failure modes that silently poison ANN indexes (zero vectors from
    * failed encodes, dimension drift across shards, exploding norms
    * before normalization, NaN/Inf components surfacing as extreme
    * min/max).
    *
    * 100 TB: a pure scan-side narrow pass — no shuffle, no join; every
    * metric folds inside the row. Arithmetic discipline: squares sum in
    * double (float→double casts are exact) and quantize on the 1e-6
    * grid (`Exact.round6`), the same no-libm lockstep the cosine
    * oracles use; min/max are comparisons only.
    */
  def embeddingAudit(embeddings: DataFrame, vecCol: String,
                     idCol: String): DataFrame = {
    val v = col(vecCol)
    val norm2 = aggregate(v, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    embeddings.select(
      col(idCol).as("vec_id"),
      size(v).as("n_dims"),
      Exact.round6(norm2).as("norm2_q"),
      (Exact.round6(norm2) === 0.0).as("is_zero"),
      array_min(v).cast("double").as("min_e"),
      array_max(v).cast("double").as("max_e"))
  }

  /** Embedding gram (uncentered second-moment) matrix — the one-pass
    * input to PCA / whitening / covariance estimation over the vector
    * store: `G[i,j] = Σ_rows q(v_i · v_j)` for the upper triangle
    * (i ≤ j), with each per-row product quantized on the 2^-20 grid
    * BEFORE summation so grid addends sum exactly in double and
    * aggregation order cannot matter (the pageRank determinism
    * discipline).
    *
    * 100 TB: the d²/2 per-row expansion happens scan-side and the
    * partial hash aggregate collapses it to ≤ d²/2 groups per task
    * before the exchange — wire cost is O(partitions · d²), the same
    * bound the classic per-partition outer-product accumulator gives,
    * with no custom code. One shuffle over d²/2 keys total.
    */
  def gramMatrix(emb: DataFrame, vecCol: String): DataFrame = {
    val grid = 1048576 // 2^20
    // d²/2 rows — persistOnce so x90 and the x91 power iteration share
    // one corpus pass per (session, source) by canonical plan
    graft.Caches.persistOnce(emb.select(col(vecCol).as("vv"),
        posexplode(transform(col(vecCol), x => x.cast("double")))
          .as(Seq("i", "xi")))
      .select(col("i"), col("xi"),
        posexplode(transform(col("vv"), x => x.cast("double")))
          .as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .select(col("i"), col("j"),
        (floor(col("xi") * col("xj") * grid + lit(0.5)) / grid).as("q"))
      .groupBy("i", "j").agg(sum(col("q")).as("g")))
  }

  private[graft] val MaxGramDim = 1024

  /** Top principal direction of the embedding store by power iteration
    * on the [[gramMatrix]] — the PCA/whitening direction an embedding
    * pipeline monitors (anisotropy, rogue dominant axes). The corpus
    * contributes ONLY through the gram matrix (one distributed pass);
    * the iteration itself runs on driver state bounded by d²/2 doubles
    * ([[MaxGramDim]]-fenced — the codebook-guard discipline), exactly
    * like the k-means codebook elections.
    *
    * Bit-determinism across engines (the x71 unrolled-replay recipe):
    * every matvec addend and every squared term quantizes on the 2^-20
    * grid BEFORE its sum (grid addends sum exactly → order-free), the
    * norm is one IEEE `sqrt` (correctly rounded, engine-identical),
    * and each component re-quantizes after the division. The oracle
    * replays the identical `iters` rounds as generated CTEs.
    */
  def pcaPowerIteration(emb: DataFrame, vecCol: String,
                        iters: Int = 3): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (y, lambda) = pcaPowerFit(emb, vecCol, iters)
    y.zipWithIndex.map { case (v, idx) => (idx, v, lambda) }.toSeq
      .toDF("i", "v", "lambda")
  }

  /** The fit alone, as driver state: (direction, Rayleigh quotient) —
    * the memoizable form [[removeTopComponent]] composes scan-side.
    */
  private[graft] def pcaPowerFit(emb: DataFrame, vecCol: String,
                                 iters: Int): (Array[Double], Double) = {
    require(iters >= 1, "iters must be >= 1")
    val grid = 1048576.0
    def q(x: Double): Double = math.floor(x * grid + 0.5) / grid
    val gRows = gramMatrix(emb, vecCol).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val d = gRows.keys.map(_._2).max + 1
    require(d <= MaxGramDim,
      s"pcaPowerIteration saw dim=$d; driver-side iteration is fenced " +
        s"at MaxGramDim=$MaxGramDim")
    // A ragged store (rows of mixed dimension) leaves (i,j) holes in the
    // gram upper triangle; fail with the diagnosis instead of an opaque
    // NoSuchElementException from gAt. embeddingAudit (x87) locates the
    // offending rows.
    require(gRows.size == d * (d + 1) / 2,
      s"gram matrix has ${gRows.size} of ${d * (d + 1) / 2} upper-triangle " +
        s"entries for dim=$d — embedding dimensions are inconsistent " +
        "(run embeddingAudit to locate ragged rows)")
    def gAt(i: Int, j: Int): Double =
      if (i <= j) gRows((i, j)) else gRows((j, i))
    var y = Array.fill(d)(1.0)
    for (_ <- 1 to iters) {
      val s = Array.tabulate(d) { i =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += q(gAt(i, j) * y(j)); j += 1 }
        acc
      }
      var n2 = 0.0
      s.foreach(x => n2 += q(x * x))
      require(n2 > 0.0, "power iteration collapsed to the zero vector")
      val nrm = math.sqrt(n2)
      y = s.map(x => q(x / nrm))
    }
    val gy = Array.tabulate(d) { i =>
      var acc = 0.0; var j = 0
      while (j < d) { acc += q(gAt(i, j) * y(j)); j += 1 }
      acc
    }
    var lambda = 0.0
    var i = 0
    while (i < d) { lambda += q(y(i) * gy(i)); i += 1 }
    (y, lambda)
  }

  /** "All-but-the-top" embedding post-processing (Mu & Viswanath,
    * ICLR'18): project out the dominant principal direction — the
    * anisotropy-removal step that measurably improves cosine retrieval
    * on real embedding stores. Per vector: the projection coefficient
    * `coef = Σ_c q(v_c·u_c)` and the residual energy
    * `resid_norm2 = Σ_c q((q(v_c − q(coef·u_c)))²)` after removal.
    *
    * 100 TB: the direction `u` comes from [[pcaPowerFit]] (one
    * distributed gram pass + fenced driver iteration) and ships as a
    * d-element LITERAL array, so the removal itself is a pure
    * scan-side `zip_with`/`aggregate` pass — zero shuffles, zero
    * joins. Quantization grid as everywhere (addends exact, order
    * free).
    */
  def removeTopComponent(emb: DataFrame, vecCol: String, idCol: String,
                         iters: Int = 3): DataFrame = {
    val (u, _) = pcaPowerFit(emb, vecCol, iters)
    val grid = 1048576
    def q(c: Column): Column = floor(c * grid + lit(0.5)) / grid
    val uLit = array(u.toIndexedSeq.map(lit(_)): _*)
    emb
      .withColumn("coef",
        aggregate(
          zip_with(col(vecCol), uLit, (x, w) => q(x.cast("double") * w)),
          lit(0.0), (a, b) => a + b))
      .withColumn("resid_norm2",
        aggregate(
          zip_with(col(vecCol), uLit,
            (x, w) => {
              val dch = q(x.cast("double") - q(col("coef") * w))
              q(dch * dch)
            }),
          lit(0.0), (a, b) => a + b))
      .select(col(idCol).as("vec_id"), col("coef"), col("resid_norm2"))
  }

  def bruteForceTopK(candidates: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    GraftFunctions.register(candidates.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cosine", Exact.round6(GraftFunctions.cosineSim(col("qv"), col("cv"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "cand_id", "cosine")
  }

  /** Margin-based top-1 candidate mining (the bitext/parallel-pair
    * mining score of Artetxe & Schwenk, forward-margin variant): for
    * each query vector, its best candidate by cosine plus
    * `margin = cos₁ / mean(top-km cosines)` — absolute cosine
    * thresholds are miscalibrated across query neighborhoods (a hubby
    * query has MANY high cosines), so mining ranks by the ratio to the
    * local neighborhood density instead.
    *
    * Determinism discipline: cosines quantize on the 2^-20 grid BEFORE
    * ranking and summation (grid values are dyadic ⇒ the ≤ km-addend
    * sum is exact and order-free — the gramMatrix rule), the mean is
    * `cos₁·n / Σ` with one double division, and the margin re-quantizes
    * on the same grid; ties break on cand_id. sqrt inside the cosine is
    * IEEE-exact, so both engines agree bit-for-bit.
    *
    * 100 TB: the query side is the bounded mining SEED SET (broadcast —
    * callers must fence it like x05's probe set); candidates stream
    * scan-side, so cost is linear in the candidate corpus. The
    * unbounded-both-sides variant is this scoring composed over
    * [[ivfTopKSampled]] candidates instead of the exact cross product.
    */
  def marginTop1(candidates: DataFrame, queries: DataFrame,
                 vecCol: String, idCol: String, km: Int = 4): DataFrame = {
    GraftFunctions.register(candidates.sparkSession)
    val grid = 1048576
    def q(c: Column): Column = floor(c * grid + lit(0.5)) / grid
    val qs = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(qs))
      .withColumn("cosine", q(GraftFunctions.cosineSim(col("qv"), col("cv"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") <= km)
      .groupBy("query_id")
      .agg(
        max(when(col("r") === 1, col("cand_id"))).as("cand_id"),
        max(col("cosine")).as("cos_top"),
        count(lit(1)).as("n_in"),
        sum(col("cosine")).as("sum_c"))
      .withColumn("margin", q(col("cos_top") * col("n_in") / col("sum_c")))
      .select("query_id", "cand_id", "cos_top", "margin")
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein,
    * SIGIR'98): greedily pick `k` results from each query's top-`pool`
    * relevance candidates, each pick maximizing
    * `0.5·rel(d) − 0.5·max_{s∈selected} sim(d, s)` — the diversity-
    * aware final stage a RAG stack runs AFTER retrieval (x77 fuses
    * rankings; MMR trades relevance against redundancy among the
    * survivors, which rank fusion cannot see).
    *
    * Everything past the candidate stage is bounded by `pool`: the
    * intra-pool similarity frame is `|queries|·pool²` rows and each of
    * the `k−1` unrolled greedy rounds is a join + 1-row-per-query rank
    * over those frames — corpus size never re-enters. The pool + sim
    * frames persist once (every round references both), rounds are
    * require-fenced, and selection ties break on cand_id (the house
    * window discipline). Relevance and pairwise sims share
    * [[bruteForceTopK]]'s round6-quantized cosine, so the DuckDB oracle
    * replays the greedy bit-exactly as MATERIALIZED round CTEs.
    *
    * 100 TB: the candidate stage is the scale decision — swap
    * [[bruteForceTopK]] for [[ivfTopKSampled]] when the corpus outgrows the
    * broadcast-query scan; the greedy's cost is unchanged either way.
    */
  /** The distributed stage of [[mmrRerank]]: each query's top-`pool`
    * relevance candidates with their vectors attached. The pool is
    * |queries|·pool rows — it broadcasts onto the vector scan (the
    * x104 label-side discipline) instead of shuffling the corpus-sized
    * vector frame on cand_id; plan pinned in Round10cPlanSpec.
    */
  private[graft] def mmrPool(candidates: DataFrame, queries: DataFrame,
                             vecCol: String, idCol: String,
                             pool: Int): DataFrame = {
    val vecs = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("v"))
    vecs
      .join(broadcast(bruteForceTopK(candidates, queries, vecCol, idCol,
        pool)), "cand_id")
      .select(col("query_id"), col("cand_id"), col("rank"), col("cosine"),
        col("v"))
  }

  def mmrRerank(candidates: DataFrame, queries: DataFrame, vecCol: String,
                idCol: String, pool: Int = 20, k: Int = 5): DataFrame = {
    require(pool >= 2, s"pool must be >= 2, got $pool")
    require(k >= 1 && k <= pool, s"k must be in [1, pool=$pool], got $k")
    val spark = candidates.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)
    // Bounded driver state: |queries|·pool (id, rel, vec) rows — the
    // k-means-codebook precedent, fenced BEFORE anything is collected
    // (the query side is the probe set and must be bounded anyway, the
    // x05 rule). A first formulation ran the greedy as unrolled
    // joins/windows in-plan; the frames past the candidate stage are
    // query-set-sized, so that bought ~12 scheduler-bound micro-jobs
    // for zero distribution benefit (measured 6.0 s at sf0.01 vs
    // 1 s-class here, same results bit-for-bit).
    val nq = queries.count()
    require(nq * pool <= MaxCodebookEntries,
      s"mmrRerank pool rows (queries·pool = ${nq}x$pool) exceeds " +
        s"MaxCodebookEntries=$MaxCodebookEntries: the pool is collected " +
        "for the driver-side greedy and must stay codebook-sized")
    val rows = mmrPool(candidates, queries, vecCol, idCol, pool).collect()
    // Driver cosine mirrors CosineSimilarity + Exact.round6 exactly:
    // float→double upcasts, index-order accumulation, sqrt·sqrt
    // denominator, floor(x·1e6+0.5)/1e6 — all IEEE-identical to the
    // in-plan expression and the oracle's list_transform replay.
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val c = dot / (math.sqrt(na) * math.sqrt(nb))
      math.floor(c * 1000000 + 0.5) / 1000000
    }
    case class Cand(id: Long, rank: Int, rel: Double, v: Array[Double])
    val byQuery = rows.map { r =>
      // Number, not Float: a double-typed embedding store must not
      // ClassCastException here (float→double widening is exact, the
      // same upcast the in-plan expression performs).
      (r.getLong(0), Cand(r.getLong(1), r.getInt(2), r.getDouble(3),
        r.getSeq[Number](4).iterator.map(_.doubleValue).toArray))
    }.groupBy(_._1).toSeq.sortBy(_._1)
    val out = byQuery.flatMap { case (qid, members) =>
      val cands = members.map(_._2).sortBy(_.rank)
      val first = cands.head
      var selected = Vector(first)
      var remaining = cands.tail.toVector
      val picks = scala.collection.mutable.ArrayBuffer(
        (qid, 1, first.id, first.rel))
      for (r <- 2 to math.min(k, cands.length)) {
        val scored = remaining.map { d =>
          val maxSim = selected.iterator.map(s => cos6(d.v, s.v)).max
          (d, 0.5 * d.rel - 0.5 * maxSim)
        }
        val (pick, mmr) = scored.minBy { case (d, m) => (-m, d.id) }
        picks += ((qid, r, pick.id, mmr))
        selected :+= pick
        remaining = remaining.filterNot(_.id == pick.id)
      }
      picks
    }
    out.toDF("query_id", "sel_rank", "cand_id", "mmr")
  }

  /** Seeded ±1 projection directions for [[srpTopK]]: sign (t,d) is bit
    * 0 of Murmur3_x86_32.hashInt(t·dim+d, seed) — reproducible from the
    * (tables, dim, seed) triple alone, so the operator and the DuckDB
    * oracle generator embed the SAME literals (never duplicated by hand).
    * Rademacher (±1) directions satisfy the same Johnson-Lindenstrauss
    * projection bounds as gaussian ones, and make every product exact
    * in double arithmetic.
    */
  def srpSigns(tables: Int, dim: Int, seed: Int): Array[Array[Float]] =
    Array.tabulate(tables, dim) { (t, d) =>
      if ((org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(t * dim + d, seed) & 1) == 0) 1f
      else -1f
    }

  /** Approximate top-k via deterministic scalar random projection:
    * bucket_t = floor(dot(v, s_t) / ‖v‖) for `tables` seeded ±1
    * directions; a pair is scored iff it collides in ANY table (the
    * same bucket-join-only semantics as MLlib's
    * BucketedRandomProjectionLSH at bucketLength 1 on normalized
    * vectors).
    *
    * Every arithmetic step is cross-engine exact: ±1 products of float
    * values are exact in double, both engines sum left-to-right, and
    * norm/division/floor are single IEEE ops — so the DuckDB oracle
    * replays bucketing bit-for-bit and the query is hash-checkable
    * (MLlib's gaussian directions come from library-internal RNG state,
    * which is why x06 was rows-only before this).
    *
    * 100 TB: each vector emits `tables` (table, bucket) keys — the join
    * is shuffle-keyed on those, candidates never self-join outside
    * shared buckets, and re-ranking touches only collision pairs.
    */
  def srpTopK(candidates: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, k: Int, dim: Int,
              tables: Int = 4, seed: Int = 42): DataFrame = {
    GraftFunctions.register(candidates.sparkSession)
    val signs = srpSigns(tables, dim, seed)
    def buckets(df: DataFrame, id: String): DataFrame = {
      val norm = sqrt(GraftFunctions.dotProduct(col(vecCol), col(vecCol)))
      val bucketCols = (0 until tables).map { t =>
        floor(GraftFunctions.dotProduct(col(vecCol), typedlit(signs(t))) / norm)
      }
      df.filter(norm > 0)
        .select(col(idCol).as(id),
          posexplode(array(bucketCols: _*)).as(Seq("tbl", "bucket")))
    }
    val cb = buckets(candidates, "cand_id")
    val qb = buckets(queries, "query_id")
    // broadcast the QUERY buckets: without the hint Catalyst broadcasts
    // cb — the corpus-sized candidate-bucket table (Generate's estimate
    // hides the ×tables fan-out). Query buckets are |queries|·tables
    // rows by contract, so pinning them as the build side streams the
    // candidate buckets with no shuffle at all.
    val pairIds = broadcast(qb).join(cb, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    pairIds.join(broadcast(q), "query_id").join(c, "cand_id")
      .withColumn("cosine",
        Exact.round6(GraftFunctions.cosineSim(col("qv"), col("cv"))))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "cand_id", "cosine")
  }

  /** Deterministic sampled-codebook cell assignment — the clustering
    * primitive [[ivfTopKSampled]] and [[semDedup]] share, exposed for
    * composites that need (cell, id) labels without the ANN probe
    * (x107's cluster topic terms): hash-min sample of `cells` vectors
    * as centers (one broadcast row via [[cbArray]]), rounded-cosine
    * argmax assignment scan-side, ties to the smaller cell id.
    * 100 TB: no shuffle at all — the codebook broadcasts, assignment
    * is a narrow map over the vector scan.
    */
  def sampledCellAssignments(candidates: DataFrame, vecCol: String,
                             idCol: String, cells: Int = 16): DataFrame = {
    requireCodebookSized(cells, "cells")
    GraftFunctions.register(candidates.sparkSession)
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"))
    nearestCell(c, sampledCodebook(c, cells), "cvec")
      .select(col("cell"), col("cand_id").as(idCol))
  }

  /** The `n` rows of `df` with the smallest (unsigned murmur3 hash of
    * `id`, `id`): the deterministic pseudo-random sample every codebook
    * here starts from, and that the DuckDB oracle replays.
    */
  private def hashMinSample(df: DataFrame, id: String, n: Int): DataFrame =
    df.withColumn("hu", GraftFunctions.unsignedHash(col(id)))
      .orderBy(col("hu"), col(id))
      .limit(n)

  /** The sampled codebook `(cell, centroid)` of the vectors `c`
    * (`cand_id`, `cvec`): its `cells` hash-min vectors, each the center
    * of the cell its id names.
    */
  private def sampledCodebook(c: DataFrame, cells: Int): DataFrame =
    hashMinSample(c, "cand_id", cells)
      .select(col("cand_id").as("cell"), col("cvec").as("centroid"))

  /** `df` with `cell`: the codebook cell nearest to its vector `vec`,
    * elected scan-side against the one broadcast codebook row.
    */
  private def nearestCell(df: DataFrame, codebook: DataFrame, vec: String): DataFrame =
    df.crossJoin(cbArray(codebook))
      .withColumn("cell", array_min(cellRanking(col(vec))).getField("cell"))

  /** The queries `q` (`qv` their vector) with one `pc` row per probed
    * cell: the `nProbe` codebook cells nearest to the query.
    */
  private def probeCells(q: DataFrame, codebook: DataFrame, nProbe: Int): DataFrame =
    q.crossJoin(cbArray(codebook))
      .withColumn("pc", explode(slice(array_sort(cellRanking(col("qv"))), 1, nProbe)))

  /** IVF with a deterministic sampled codebook: the `cells` candidate
    * vectors with the smallest (murmur3 hash of id, id) ARE the cell
    * centers — a uniform pseudo-random sample, no Lloyd iterations.
    * Each candidate joins its nearest center's cell, each query probes
    * its `nProbe` nearest cells and brute-forces within them.
    *
    * Versus a trained codebook ([[ivfTopKTrainedWith]]): every step — hash
    * sample, cosine argmax, probe ranking — is plain relational algebra,
    * so the DuckDB oracle replays the whole operator bit-exactly
    * (RecallSpec floors its recall). Cosines are floor-rounded to 1e-6
    * before every ranking so ordering is engine-independent; ties break
    * on cell/candidate id.
    *
    * 100 TB: the codebook is a driver-size sample (cells rows) collapsed
    * to ONE broadcast array row; assignment is scan-side (per-row argmin
    * over the array — ZERO shuffle of the corpus, where the former
    * rk=1-window form shuffled cells× exploded corpus rows); the probe
    * join touches nProbe/cells of the index.
    */
  def ivfTopKSampled(candidates: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, k: Int,
                     cells: Int = 16, nProbe: Int = 4): DataFrame = {
    requireCodebookSized(cells, "cells")
    GraftFunctions.register(candidates.sparkSession)
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"))
    val codebook = sampledCodebook(c, cells)
    val assigned = nearestCell(c, codebook, "cvec").select("cell", "cand_id", "cvec")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probes = probeCells(q, codebook, nProbe)
      .select(col("query_id"), col("qv"), col("pc.cell").as("cell"))
    probedTopK(probes.join(assigned, Seq("cell")), k)
  }

  /** Per query, the `k` probed candidates of `pairs` (`query_id`, `qv`,
    * `cand_id`, `cvec`) nearest by rounded cosine, ties to the smaller
    * candidate id: `(query_id, rank, cand_id, cosine)`.
    */
  private def probedTopK(pairs: DataFrame, k: Int): DataFrame = {
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    pairs
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        Exact.round6(GraftFunctions.cosineSim(col("qv"), col("cvec"))))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "cand_id", "cosine")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then drop
    * within-cluster near-duplicates above a cosine threshold. The
    * clustering is [[ivfTopKSampled]]'s deterministic sampled codebook
    * (hash-min sample = centers, rounded-cosine argmax assignment), so
    * the whole operator — sample, assign, pairwise, elect — is plain
    * relational algebra the DuckDB oracle replays bit-exactly (the
    * paper's k-means fit is not SQL-expressible; RecallSpec-style
    * parity with an MLlib-clustered variant is not needed since the
    * semantics here are exact given the clustering).
    *
    * Election rule (documented simplification of the paper's greedy
    * in-cluster pass): a vector is dropped iff some SMALLER-id vector
    * in its cell is within `threshold` cosine — `dup_of` is the
    * smallest such id. One-hop domination, not transitive closure:
    * b~a and c~b (a<b<c, c!~a) drops both b and c, matching the
    * paper's "remove all but one per duplicate neighborhood" intent
    * without an iterative CC (which [[graft.operators.Dedup]] offers
    * separately when cluster-transitive grouping is wanted).
    *
    * 100 TB: codebook is a broadcast-size sample; assignment is
    * scan-side (broadcast cross + per-row argmax, no shuffle of the
    * corpus); the only data-sized shuffle is the cell-keyed pair join,
    * O(Σ cell²) like the paper's per-cluster pass — `cells` scales with
    * corpus size to bound cell width, and a hot cell salts/caps the
    * same way DedupSkewSpec pins for shingle joins. The domination
    * aggregate is a partial-aggregatable min keyed on the dropped id.
    */
  def semanticDedup(emb: DataFrame, vecCol: String, idCol: String,
                    cells: Int = 16, threshold: Double = 0.7): DataFrame = {
    requireCodebookSized(cells, "cells")
    GraftFunctions.register(emb.sparkSession)
    val c = emb.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"))
    val assigned = nearestCell(c, sampledCodebook(c, cells), "cvec")
      .select(col("cell"), col("cand_id"), col("cvec"))
    // shuffle_hash: both pair-join sides are the corpus-sized assignment
    // (a scan-side projection whose size the planner tracks, but the
    // corpus is never broadcast-safe — pinned the same way as the
    // explode-broadcast trap).
    val dom = assigned.select(col("cell"), col("cand_id").as("d1"), col("cvec").as("v1"))
      .hint("shuffle_hash")
      .join(assigned.select(col("cell"), col("cand_id").as("d2"), col("cvec").as("v2")),
        Seq("cell"))
      .filter(col("d1") < col("d2"))
      .withColumn("cos", Exact.round6(GraftFunctions.cosineSim(col("v1"), col("v2"))))
      .filter(col("cos") >= threshold)
      .groupBy(col("d2")).agg(min(col("d1")).as("dup_of"))
    assigned
      .join(dom.hint("shuffle_hash"), assigned("cand_id") === dom("d2"), "left")
      .select(col("cand_id").as("vec_id"), col("cell"),
        col("dup_of"), col("dup_of").isNull.as("kept"))
  }

  /** Symmetric per-vector int8 scalar quantization (the FAISS SQ8
    * shape — the standard 4× memory compression for a 100 TB embedding
    * store before ANN): `code_i = round(v_i · 127 / max|v|)` ∈
    * [-127, 127], dequantized as `code_i · qscale` with
    * `qscale = max|v| / 127`. All-zero vectors quantize to zero codes
    * with qscale 0. Code rounding is the engine-portable
    * `floor(x + 0.5)` (round-half-up); the mul→div→add chain is staged
    * identically in the DuckDB oracle, so codes are bit-identical —
    * no FMA-contraction-prone `a·b − c·d` pattern appears. `qscale`
    * stays a raw division (one IEEE op, bit-deterministic): grid-
    * rounding it would destroy precision for small-magnitude vectors.
    *
    * 100 TB: pure scan-side element-wise expressions inside
    * WholeStageCodegen — no shuffle, no state; codes feed
    * [[ivfTopKSampled]]-style probing or exact re-ranking downstream.
    */
  def int8Quantize(emb: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val vd = transform(col(vecCol), x => x.cast("double"))
    // spread: the element-wise HOF passes are the whole cost, and the
    // single-split local embeddings file scans as one task
    graft.tables.Tables.spread(emb).select(col(idCol).as("vec_id"), vd.as("vd"))
      .withColumn("max_abs", array_max(transform(col("vd"), x => abs(x))))
      .select(col("vec_id"),
        // raw division, NOT round-6: a single IEEE op on identical
        // inputs is already bit-deterministic cross-engine, and grid-
        // rounding a small qscale (≪ 1e-6) would destroy its precision.
        (col("max_abs") / lit(127.0)).as("qscale"),
        when(col("max_abs") === 0.0d,
            transform(col("vd"), _ => lit(0)))
          .otherwise(transform(col("vd"),
            x => floor(x * lit(127.0) / col("max_abs") + lit(0.5)).cast("int")))
          .as("codes"))
  }

  /** [[int8Quantize]] in long format: one row per (vector, dimension)
    * with `(vec_id, qscale, pos, code)`. Same scan-side element-wise
    * math; the posexplode happens after quantization, so the plan is
    * still exchange-free (Generate inside the scan stage). This is the
    * cross-engine-comparable shape — array cells become scalar rows a
    * sort can order, which the wide `array<int>` codes column cannot.
    */
  def int8QuantizeLong(emb: DataFrame, vecCol: String, idCol: String): DataFrame =
    int8Quantize(emb, vecCol, idCol)
      .select(col("vec_id"), col("qscale"),
        posexplode(col("codes")).as(Seq("pos", "code")))
      .select(col("vec_id"), col("qscale"),
        col("pos").cast("long").as("pos"), col("code"))

  /** Per-label centroids in long format (label, dim, centroid value).
    * Mean is computed per (label, dimension) after posexplode — a single
    * partial-aggregatable shuffle keyed on (label, pos).
    *
    * Elements are quantized to a 2^-20 grid BEFORE summation: grid
    * addends of bounded magnitude sum exactly in double (≤ 26 mantissa
    * bits used), so the aggregate is independent of accumulation order —
    * a raw double sum is not, and would make the cross-engine
    * hash-compare flaky at rounding boundaries.
    */
  def labelCentroids(emb: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val grid = 1048576 // 2^20
    val q = floor(col("v").cast("double") * grid + lit(0.5)) / grid
    emb
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(Exact.round6(sum(q) / count(lit(1))).as("centroid_val"))
  }

  /** Final assignment against an already-fitted codebook (the
    * local `Seq` [[kMeansFitSeq]] returns): one row per vector,
    * `(vec_id, cell, cosine)`, each vector electing its nearest final
    * centroid scan-side (see [[kMeansFitSeq]]). One fit can label many
    * corpora, and session callers memoize the fit across queries (the
    * x67b/x70 merge-table pattern: the fit's per-round elections are
    * eager Spark actions plan caching cannot deduplicate; the k·dim
    * Seq can be shared).
    */
  def kMeansAssignWith(emb: DataFrame, vecCol: String, idCol: String,
                       cb: Seq[(Long, Seq[Double])]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)
    val c = graft.Caches.persistOnce(
      emb.select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("v")))
    c.crossJoin(cbArray(cb.toDF("cell", "centroid")))
      .withColumn("m", array_min(cellRanking(col("v"))))
      .select(col("vec_id"), col("m").getField("cell").as("cell"),
        when(col("m").getField("neg") === lit(Double.MaxValue),
            lit(null).cast("double"))
          .otherwise(-col("m").getField("neg")).as("cosine"))
  }

  /** Distributed Lloyd k-means over the embedding column — the real
    * iterative fit behind the sampled-codebook stand-ins ([[ivfTopKSampled]]
    * / [[semanticDedup]] use a hash-min sample precisely because a
    * k-means fit was "not SQL-expressible"; this operator makes it
    * expressible the same way PageRank and the BPE loop are: a
    * deterministic round unrolled k times, every round exact).
    *
    * Initialization: the [[ivfTopKSampled]] hash-min sample — the `k`
    * vectors with the smallest (murmur3(id), id) are the round-0
    * centroids, and their ids name the cells for the whole fit (cell
    * identity is stable across rounds). Per round: every vector joins
    * the ONE broadcast codebook row and elects its nearest centroid
    * scan-side (max rounded cosine, ties to the smaller cell —
    * [[cellRanking]], identical to the ANN election); new centroids are
    * the per-(cell, dimension) mean under [[labelCentroids]]'s exact
    * arithmetic (elements grid-quantized to 2^-20 BEFORE summation, so
    * the sum uses ≤ 26 mantissa bits and is accumulation-order-
    * independent; the mean is floor-rounded to 1e-6). Cells that lose
    * every member keep their previous centroid — deterministic, no
    * respawn heuristic. The fit returns the codebook after `iters`
    * updates as a local `Seq`, `(cell, centroid)` rows in cell order —
    * the memoizable form; [[kMeansAssignWith]] assigns a corpus against
    * it: one row per vector, `(vec_id, cell, cosine)` with cosine the
    * 1e-6-floored similarity to its final centroid (null for zero-norm
    * vectors, which rank last in every election — same null discipline
    * as the ANN family).
    *
    * Every step is relational and bit-deterministic, so the FULL fit —
    * sample, k elections, k mean updates — replays in the DuckDB oracle
    * as unrolled CTE rounds (the x55 PageRank pattern).
    *
    * 100 TB: per round, assignment is scan-side (broadcast 1-row
    * codebook, per-row argmin — ZERO corpus shuffle) and the update is
    * one partial-aggregatable shuffle of k·dim groups. The codebook
    * lives as driver state between rounds (k·dim doubles, bounded by
    * [[MaxCodebookEntries]] — the same "learned vocabulary on the
    * driver" shape as the BPE merge table), so each round's plan starts
    * from literals instead of a growing lineage chain.
    */
  def kMeansFitSeq(emb: DataFrame, vecCol: String, idCol: String,
                   k: Int, iters: Int): Seq[(Long, Seq[Double])] = {
    requireCodebookSized(k, "k")
    require(iters >= 1, "iters must be >= 1")
    GraftFunctions.register(emb.sparkSession)
    val spark = emb.sparkSession
    import spark.implicits._
    val grid = 1048576 // 2^20 — labelCentroids' exact-summation grid
    val c = graft.Caches.persistOnce(
      emb.select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("v")))
    // round-0 codebook: hash-min sample, collected (k rows) into the
    // driver-state representation the loop carries between rounds
    var cb: Seq[(Long, Seq[Double])] = hashMinSample(c, "vec_id", k)
      .select(col("vec_id").as("cell"), col("v").as("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    def cbDf: DataFrame = cb.toDF("cell", "centroid")
    var r = 0
    while (r < iters) {
      val q = floor(col("vv") * grid + lit(0.5)) / grid
      val updated: Map[Long, Seq[Double]] = c.crossJoin(cbArray(cbDf))
        .withColumn("m", array_min(cellRanking(col("v"))))
        .select(col("m").getField("cell").as("cell"),
          posexplode(col("v")).as(Seq("pos", "vv")))
        .groupBy("cell", "pos")
        .agg(Exact.round6(sum(q) / count(lit(1))).as("cv"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pc"))
        .select(col("cell"), transform(col("pc"), p => p.getField("cv")).as("centroid"))
        .collect()
        .map(row => (row.getLong(0), row.getSeq[Double](1)))
        .toMap
      cb = cb.map { case (cell, old) => (cell, updated.getOrElse(cell, old)) }
      r += 1
    }
    cb
  }

  /** IVF ANN over a TRAINED k-means codebook — the composition the
    * sampled-codebook family ([[ivfTopKSampled]]) stands in for when a
    * fit is unaffordable or unreplayable: now that the [[kMeansFitSeq]]
    * fit is itself exact and SQL-replayable, the full index — train, assign,
    * probe, re-rank — is oracle-checkable end to end (the round-7
    * note "k-means fit is not SQL-expressible" no longer holds for
    * THIS fit; it held for MLlib's RNG-seeded one).
    *
    * Mechanics after the fit are [[ivfTopKSampled]] verbatim: every
    * candidate elects its nearest learned centroid scan-side, each
    * query probes its `nProbe` nearest cells and brute-forces within
    * them (cosines 1e-6-floored, ties on cell/candidate id).
    *
    * 100 TB: the fit is `iters` corpus scans (each zero-shuffle
    * assignment + a k·dim-group update); the index build and probe
    * join are the ivfTopKSampled shapes — scan-side assignment, probe
    * join touching nProbe/cells of the index.
    *
    * The codebook `cb` is the fit as a local `Seq` ([[kMeansFitSeq]],
    * one row per cell): one fit serves both the x71 labeling and this
    * index, and session callers memoize it across queries.
    */
  def ivfTopKTrainedWith(candidates: DataFrame, queries: DataFrame,
                         vecCol: String, idCol: String, k: Int,
                         cb: Seq[(Long, Seq[Double])],
                         nProbe: Int = 2): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)
    val cbDf = cb.toDF("cell", "centroid")
    val c = graft.Caches.persistOnce(
      candidates.select(col(idCol).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("v")))
    val assigned = nearestCell(c, cbDf, "v")
      .select(col("cell"), col("vec_id").as("cand_id"), col("v").as("cvec"))
    val q = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("qv"))
    val probes = probeCells(q, cbDf, nProbe)
      .select(col("query_id"), col("qv"), col("pc.cell").as("cell"))
    // the probe list (|queries|·nProbe rows) is the build side: planned
    // over an unmaterialized cache of the corpus, `assigned` can look
    // smaller than it is and be broadcast instead
    probedTopK(broadcast(probes).join(assigned, Seq("cell")), k)
  }

  /** Product quantization: split each vector into `m` contiguous
    * subvectors and assign every subvector to its nearest codeword
    * (L2², ties → smaller code id) from a per-subspace codebook —
    * the memory-compression half of large-scale ANN (a 64-dim float
    * vector becomes m small code ids; distances are later approximated
    * from code-to-query lookup tables).
    *
    * The codebook is the hash-min deterministic sample used by
    * [[ivfTopKSampled]] (k-means fit is not SQL-expressible; sampled
    * codewords make the oracle replayable bit-for-bit). Subvectors are
    * cast to double BEFORE any arithmetic so both engines run identical
    * IEEE ops in index order; distances are floor-rounded to 1e-6
    * before the argmin so rankings can't straddle a final-ulp split.
    *
    * 100 TB: codebook is m·ks tiny rows broadcast everywhere; encoding
    * is one scan + per-row work (the explode is m× metadata, the join
    * broadcast) — no shuffle until the caller aggregates codes. Output
    * long format: (vec_id, sub, code, qerr).
    */
  def productQuantize(emb: DataFrame, vecCol: String, idCol: String,
                      m: Int = 4, ks: Int = 8): DataFrame = {
    requireCodebookSized(m * ks, "m*ks")
    val sub = subvectors(
      emb.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v")),
      "vec_id", "v", m, "sv")
      .select("vec_id", "sub", "sv")
    val cw = pqCodewords(emb, vecCol, idCol, m, ks)
    // per-subspace codewords collapsed to ONE array row per sub (m
    // rows total): the nearest-codeword election is then a scan-side
    // per-row argmin — zero shuffle, where the former rk=1 window
    // shuffled corpus×m×ks exploded rows on (vec_id, sub)
    val cws = broadcast(cw.groupBy("sub")
      .agg(collect_list(struct(col("code"), col("csv"))).as("cws")))
    sub.join(cws, Seq("sub"))
      .withColumn("sel", array_min(transform(col("cws"), w =>
        struct(Exact.round6(l2Sq(col("sv"), w.getField("csv"))).as("d2r"),
          w.getField("code").as("code")))))
      .select(col("vec_id"), col("sub"),
        col("sel.code").as("code"), col("sel.d2r").as("qerr"))
  }

  /** One row per (row of `df`, subspace): `key`, `sub`, and as `out` the
    * `sub`-th of `m` contiguous slices of the double array `v`.
    */
  private def subvectors(df: DataFrame, key: String, v: String, m: Int,
                         out: String): DataFrame =
    df.select(col(key), explode(array((0 until m).map(lit(_)): _*)).as("sub"), col(v))
      .withColumn("w", (size(col(v)) / m).cast("int"))
      .withColumn(out, slice(col(v), col("sub") * col("w") + 1, col("w")))

  /** The per-subspace PQ codewords `(sub, code, csv)`: the `ks` hash-min
    * vectors of `emb`, each cut into `m` subvectors and named by its id.
    * [[productQuantize]] encodes against them and [[ivfPqTopK]]'s lookup
    * table scores against them.
    */
  private def pqCodewords(emb: DataFrame, vecCol: String, idCol: String,
                          m: Int, ks: Int): DataFrame =
    subvectors(
      hashMinSample(emb, idCol, ks)
        .select(col(idCol).as("code"), col(vecCol).cast("array<double>").as("cv")),
      "code", "cv", m, "csv")
      .select("sub", "code", "csv")

  /** Squared L2 distance of two equal-length double arrays, summed left
    * to right from 0.0 (the subvector-to-codeword distance of
    * [[productQuantize]] and [[ivfPqTopK]]'s lookup table).
    */
  private def l2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** IVF + PQ: the composed billion-vector ANN shape — coarse inverted
    * cells prune the search space ([[ivfTopKSampled]]'s assignment and
    * probing) and product-quantized codes stand in for raw vectors at
    * scoring time ([[productQuantize]]'s per-subspace codes), so the
    * scoring join touches only ~nProbe/cells of the index and reads m
    * small code ids per candidate instead of the full float vector.
    *
    * Scoring is asymmetric-distance computation (ADC): each query
    * builds an m·ks lookup table of its exact subvector-to-codeword L2²
    * distances; a candidate's approximate distance is the sum of its m
    * codes' LUT entries. LUT entries are quantized to the 2^-20 binary
    * grid BEFORE the sum — grid addends of bounded magnitude sum
    * exactly in double, so the m-term total is independent of addend
    * order (and of engine), where a raw double sum is not. Ranking
    * ascends on (adc, cand_id); codebooks are the same hash-min
    * deterministic samples as the component operators, so the whole
    * pipeline replays bit-exactly in the DuckDB oracle.
    *
    * 100 TB: both codebooks are driver-size broadcasts; PQ encoding and
    * cell assignment are both scan-side (broadcast codebook array +
    * per-row argmin — ZERO shuffle of the corpus); the LUT is
    * |queries|·m·ks tiny rows, broadcast; the probe join reads
    * nProbe/cells of the encoded index; the per-(query, candidate) ADC
    * sum is partial-aggregatable.
    */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame,
                vecCol: String, idCol: String, k: Int,
                cells: Int = 16, nProbe: Int = 4,
                m: Int = 4, ks: Int = 8): DataFrame = {
    requireCodebookSized(cells, "cells")
    requireCodebookSized(m * ks, "m*ks")
    GraftFunctions.register(candidates.sparkSession)
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"))
    val codebook = sampledCodebook(c, cells)
    val assigned = nearestCell(c, codebook, "cvec").select("cell", "cand_id")
    val codes = productQuantize(candidates, vecCol, idCol, m, ks)
      .select(col("vec_id").as("cand_id"), col("sub"), col("code"))

    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probes = probeCells(q, codebook, nProbe)
      .select(col("query_id"), col("pc.cell").as("cell"))

    // ADC lookup table: exact subvector-to-codeword L2² on the 2^-20 grid,
    // against the codewords productQuantize encodes with
    val grid = 1048576 // 2^20
    val qsub = subvectors(
      q.select(col("query_id"), col("qv").cast("array<double>").as("dv")),
      "query_id", "dv", m, "qsv")
      .select("query_id", "sub", "qsv")
    val d2 = l2Sq(col("qsv"), col("csv"))
    val lut = qsub.join(broadcast(pqCodewords(candidates, vecCol, idCol, m, ks)), Seq("sub"))
      .withColumn("lutv", floor(d2 * grid + lit(0.5)) / grid)
      .select("query_id", "sub", "code", "lutv")

    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    probes.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(codes, Seq("cand_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "cand_id")
      .agg(sum(col("lutv")).as("adc"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "cand_id", "adc")
  }
}
