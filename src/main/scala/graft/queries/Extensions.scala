package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Bloom, Chunking, Dedup, Graph, Linkage, Multimodal, Packing, Profile, Retrieval, Sampling, Similarity, Sketches, TextAnalysis, Urls}
import graft.tables.{Exact, Tables => T}

/** LLM-training-data pipeline operators as driver queries: dedup family,
  * similarity search, text analysis, multimodal plumbing.
  *
  * Oracle coverage: every query has a DuckDB oracle — including the
  * custom hash fingerprints (simhash / rolling hash), whose 64-bit
  * wrapping arithmetic is replayed in hugeint SQL, the banded-minhash
  * dedup (whose verified output equals the exact all-pairs join on this
  * corpus; RecallSpec pins that equality), and the approximate ANN
  * queries, which run graft's deterministic variants (x06 seeded-sign
  * SRP-LSH, x17 sampled-codebook IVF) so the oracle can replay them
  * bit-exactly. RecallSpec quantifies every approximate path against
  * exact truth.
  */
object Extensions {
  type Q = (SparkSession, String) => DataFrame

  /** One deterministic URL per doc for the x35/x36 queries — pure
    * function of doc_id, mirrored by `urlInjectSql`.
    */
  private def withUrls(docs: DataFrame): DataFrame =
    docs.withColumn("url",
      concat(lit("https://sub"), pmod(col("doc_id"), lit(5)).cast("string"),
        lit(".domain"), pmod(col("doc_id"), lit(20)).cast("string"),
        lit(".com/path"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit("/page?q=w"), pmod(col("doc_id"), lit(3)).cast("string"),
        lit("&id="), col("doc_id").cast("string")))

  private val urlInjectSql: String =
    """'https://sub' || CAST(doc_id % 5 AS VARCHAR)
       || '.domain' || CAST(doc_id % 20 AS VARCHAR)
       || '.com/path' || CAST(doc_id % 7 AS VARCHAR)
       || '/page?q=w' || CAST(doc_id % 3 AS VARCHAR)
       || '&id=' || CAST(doc_id AS VARCHAR)"""

  /** Session-memoized near-dup cluster-label table — the banded-pairs →
    * connected-components chain (x14's parameters) that x14, x44, and
    * x59 all consume. [[graft.operators.Dedup.connectedComponentsKeepOne]]
    * runs eager actions (the edge count / driver collect), so canonical-
    * plan cache matching alone cannot deduplicate it across queries: the
    * chain must be built ONCE and the resulting frame shared. Same
    * lesson as x21's "mine pairs once", applied across queries. Kept in
    * the [[graft.Caches]] memo, which owns its lifecycle.
    */
  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, Seq(dir), "clusterLabels") {
      val docs = T.documents(s, dir)
      val pairs = bandedPairs(s, dir).select("d1", "d2")
      graft.Caches.persistOnce(
        Dedup.connectedComponentsKeepOne(docs, "doc_id", pairs))
    }

  /** Session-memoized corpus banded-jaccard pair frame — the ONE
    * parameter site for the (n=3, threshold=0.2, 16 hashes, 8 bands)
    * banding that x20 reports, x84 attributes to sources, and the
    * [[clusterLabels]] chain contracts. Previously x84 rode x20's
    * persisted subtrees only via canonical-plan matching of two
    * textually identical call sites — load-bearing for the bench but
    * unpinned: a parameter drift at either site would silently split
    * the cache and ~5× the x84 row (r8 verdict "what's wrong" item 4).
    * Memoizing the FRAME (persistOnce + the [[graft.Caches]] memo) makes
    * the sharing an identity, asserted in SharedSubtreeSpec.
    */
  private[graft] def bandedPairs(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, Seq(dir), "bandedPairs") {
      graft.Caches.persistOnce(
        Dedup.bandedJaccardMinhash(T.documents(s, dir), "text", "doc_id",
          n = 3, threshold = 0.2, numHashes = 16, bands = 8))
    }

  /** Session-memoized learned BPE merge table — the x67b induction loop
    * runs `steps` eager driver elections, so (like [[clusterLabels]])
    * plan-level caching cannot deduplicate a re-learn across queries:
    * x67b (report the table) and x70 (encode with it) share ONE learn
    * per (session, dir, steps). The value is `steps` driver-side rows,
    * no persisted frame.
    */
  private[graft] def bpeMerges(s: SparkSession, dir: String,
                               steps: Int): Seq[(Int, String, String, Long)] =
    graft.Caches.memo(s, Seq(dir), ("bpeMerges", steps)) {
      TextAnalysis.bpeMergeSeq(T.documents(s, dir), "text", steps)
    }

  /** Session-memoized k-means codebook (the [[bpeMerges]] pattern for
    * the embedding side): x71's labeling and x72's trained IVF index
    * run the SAME Lloyd fit — `iters` eager election/update actions no
    * plan cache can deduplicate — so the fitted `(cell, centroid)` Seq
    * (k·dim doubles of driver state) is learned once per
    * (session, dir, k, iters) and both queries consume it.
    */
  private[graft] def kmeansFit(s: SparkSession, dir: String,
                               k: Int, iters: Int): Seq[(Long, Seq[Double])] =
    graft.Caches.memo(s, Seq(dir), ("kmeansFit", k, iters)) {
      Similarity.kMeansFitSeq(T.embeddings(s, dir), "embedding", "vec_id", k, iters)
    }

  /** The end-to-end document pipeline behind x21: language filter →
    * quality gate → exact content dedup → banded near-dup keep-one →
    * per-doc token stats + fingerprint. Every stage is the scale-path
    * variant (hash dedup one shuffle; near-dup pairs via minhash
    * banding).
    *
    * `mineSurvivorsOnly` picks where near-dup pairs are mined:
    *  - false: over the FULL corpus, both ends then restricted to
    *    survivors. Jaccard (and per-pair band collision) depend only on
    *    the two documents, so the restriction is exact; the full-corpus
    *    plan is canonically identical to x14/x20's, letting CacheManager
    *    share one cached shingle table across queries in a session.
    *  - true: over the filtered survivors only — the shingle explode and
    *    band shuffle shrink by the kept fraction, the right trade at
    *    scale when the gates are aggressive and no sibling query shares
    *    the full-corpus shingles.
    * Both produce identical output (PipelineVariantsSpec).
    */
  private[graft] def pipelineDocs(s: SparkSession, dir: String,
                                  mineSurvivorsOnly: Boolean): DataFrame = {
    val docs = T.documents(s, dir)
    // langId/qualityScore are pure withColumn transforms — chain them
    // and filter in one codegen pass (no joins, one scan)
    // persisted: the regex-heavy langId+quality scan feeds BOTH the
    // content-hash rollup and the keep join below on different keys,
    // so no exchange reuse applies and the pass runs twice unpersisted.
    // Round-13 measurement: first-run cold improves ~1-3 s; min-of-reps
    // is unchanged (page cache absorbs the second scan) — kept for the
    // structural guarantee. Survivor slice at MEMORY_AND_DISK.
    val surviving = graft.Caches.persistOnce(TextAnalysis.qualityScore(
        TextAnalysis.langId(docs, "text"), "text")
      .filter(col("pred_lang") === "en" && col("quality_ok") === 1)
      .select("doc_id", "text"))
    val exactKeep = surviving
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // two downstream consumers (the canonical join and the final keep
    // join) would each recompute the filter+dedup chain without this
    // (measured 5.0 s → see PERF.md); CacheManager dedups by
    // canonical plan, MEMORY_AND_DISK evicts under pressure
    val deduped = graft.Caches.persistOnce(surviving.join(exactKeep, "doc_id"))
    val ids = deduped.select("doc_id")
    val pairs =
      if (mineSurvivorsOnly)
        // survivors are exact-deduped by construction — the dup
        // collapse would key and expand for zero dup groups (measured
        // +2.1 s at sf0.1); mine the direct banded path
        Dedup.bandedJaccardMinhash(deduped, "text", "doc_id",
            n = 3, threshold = 0.2, numHashes = 16, bands = 8,
            collapseExactDups = false)
          .select("d1", "d2")
      else
        Dedup.bandedJaccardMinhash(docs, "text", "doc_id",
            n = 3, threshold = 0.2, numHashes = 16, bands = 8)
          .select("d1", "d2")
          .join(ids.withColumnRenamed("doc_id", "d1"), "d1")
          .join(ids.withColumnRenamed("doc_id", "d2"), "d2")
          .select("d1", "d2") // using-joins front the key: restore the contract order
    val canonical = Dedup.connectedComponentsKeepOne(deduped, "doc_id", pairs)
      .filter(col("doc_id") === col("canonical_id"))
      .select("doc_id")
    val kept = deduped.join(canonical, "doc_id")
    TextAnalysis.fingerprints(TextAnalysis.tokenCounts(kept, "text"), "text")
      .select("doc_id", "ws_tokens", "fp_md5")
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup via content hash: one shuffle on a uniform digest.
    "x01_dedup_exact" -> ((s, dir) =>
      Dedup.exactByContent(T.documents(s, dir), "text", "doc_id")
        .orderBy("keep_id")),

    // Exact n-gram Jaccard near-dup pairs.
    "x02_dedup_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(T.documents(s, dir), "text", "doc_id", n = 3, threshold = 0.2)
        .orderBy("d1", "d2")),

    // MinHash+LSH candidates (native shingle→minhash→band→bucket-join
    // pipeline, seeded). Oracle: the murmur3 + permutation-min + band
    // arithmetic replayed in generated DuckDB SQL (Murmur3Sql).
    "x03_dedup_minhash" -> ((s, dir) =>
      // bands=8 (2 rows/band): keep probability 1-(1-j²)^8 — near-certain
      // at j ≥ 0.9. (A round-1 "bands=2 is 7× cheaper at identical
      // output" measurement was an artifact of the correlated affine
      // permutations — with independent seeded hashes, banding width
      // genuinely trades recall vs candidate volume.)
      Dedup.minhashNative(T.documents(s, dir), "text", "doc_id",
          numHashes = 16, bands = 8, minEstimate = 0.2)
        .orderBy("d1", "d2")),

    // SimHash fingerprints (custom Catalyst expression). Oracle: the
    // FNV-1a + majority-vote arithmetic replayed in DuckDB hugeint SQL.
    "x04_simhash" -> ((s, dir) =>
      Dedup.simhash(T.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")),

    // Composed scale path: MinHash banding → exact Jaccard verification
    // of candidates only. With r=2/L=8 banding the candidates contain
    // every pair at j ≥ 0.9 with near-certainty (RecallSpec pins recall
    // 1.0 on this corpus), so the output equals the all-pairs join and
    // the exact x02 oracle applies — at O(candidates) shuffle volume.
    // The pair frame is the session-memoized [[bandedPairs]] shared
    // with x84 and the x14/x44/x59 cluster chain — one build per
    // (session, dir), pinned in SharedSubtreeSpec.
    "x20_banded_jaccard" -> ((s, dir) =>
      bandedPairs(s, dir).orderBy("d1", "d2")),

    // One-permutation MinHash near-dup pairs — x03's estimator at 1/16th
    // the scan-side hash cost (ONE murmur3 per shingle, binned mins,
    // rotation densification; Li/Owen/Zhang 2012 + Shrivastava/Li 2014).
    // Band keys are the component values themselves (collision-free,
    // no array-hash to replay); the whole chain — single-seed string
    // murmur3, signed bin pmod, filtered bin mins, +distance
    // densification, component-equality banding — replays in DuckDB.
    "x86_oph_minhash" -> ((s, dir) =>
      Dedup.ophMinhash(T.documents(s, dir), "text", "doc_id")
        .orderBy("d1", "d2")),

    // Embedding-table quality audit — the pre-index ANALYZE for vector
    // data (zero vectors, dimension drift, norm blowups): pure
    // scan-side narrow pass, no shuffle; norms quantized on the 1e-6
    // grid so the fold replays in DuckDB.
    "x87_embedding_audit" -> ((s, dir) =>
      Similarity.embeddingAudit(T.embeddings(s, dir), "embedding", "vec_id")
        .orderBy("vec_id")),

    // Token-budget waterfilling mix: fill a 24k-token budget across
    // sources, smallest-first — max-min-fair source diversity under a
    // global budget. At sf0.01 both branches fire on real data (the
    // two smallest sources fit whole; the rest cap at the common
    // level); doc selection is the murmur3-ordered prefix.
    "x88_token_budget_mix" -> ((s, dir) =>
      Sampling.tokenBudgetMix(T.documents(s, dir), "text", "doc_id",
          "source", budget = 24000L)
        .orderBy("source")),

    // Embedding gram matrix (the PCA/whitening/covariance input over
    // the vector store): one scan, d²/2 upper-triangle keys, grid-
    // quantized per-row products so the sums replay bit-exactly.
    "x90_gram_matrix" -> ((s, dir) =>
      Similarity.gramMatrix(T.embeddings(s, dir), "embedding")
        .orderBy("i", "j")),

    // Top principal direction by power iteration on x90's gram matrix
    // (anisotropy / dominant-axis monitoring): corpus contributes only
    // through the shared persistOnce'd gram; the 3-round iteration is
    // MaxGramDim-fenced driver state, every addend grid-quantized so
    // the oracle replays the rounds bit-exactly.
    "x91_pca_power" -> ((s, dir) =>
      Similarity.pcaPowerIteration(T.embeddings(s, dir), "embedding",
          iters = 3)
        .orderBy("i")),

    // "All-but-the-top" (Mu & Viswanath ICLR'18): project out x91's
    // dominant direction — scan-side zip_with/aggregate with the
    // direction as a literal array (zero shuffles, zero joins); per
    // vector the projection coefficient and the post-removal residual
    // energy, both grid-quantized.
    "x92_remove_top_pc" -> ((s, dir) =>
      Similarity.removeTopComponent(T.embeddings(s, dir), "embedding",
          "vec_id", iters = 3)
        .orderBy("vec_id")),

    // Per-source EXACT length quantiles over the compressed value
    // domain (no global sort, no approx_percentile error) — see
    // TextAnalysis.lengthQuantiles; the quantile cut is integer
    // cross-multiplication, libm-free.
    "x93_length_quantiles" -> ((s, dir) =>
      TextAnalysis.lengthQuantiles(T.documents(s, dir), "text", "source")
        .orderBy("source")),

    // Corpus collocations: bigram lift (observed/expected over the
    // bigram contingency marginals — PMI's ranking without the log),
    // support-pruned before the vocabulary-keyed joins; top-25 via
    // TakeOrdered. See TextAnalysis.collocations.
    "x94_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(T.documents(s, dir), "text",
        minCount = 5L, k = 25)),

    // Per-source exact-duplication profile (the ANALYZE that routes
    // the dedup strategy): md5-keyed shuffle, never text; doc counts,
    // distinct contents, largest dup cluster, grid dup rate.
    "x95_dup_profile" -> ((s, dir) =>
      Profile.dupProfile(T.documents(s, dir), "text", "source")
        .orderBy("source")),

    // Content-defined chunking (FastCDC-family storage dedup): rolling-
    // hash boundaries via a scan-side HOF pass, chunk md5s, per-source
    // chunk-level dup report. Runs over the non-ASCII-extended corpus
    // (injectNonAscii) so the byte-window/char-end boundary path is
    // oracle-proven, not just unit-tested. See operators/Chunking.scala.
    "x96_cdc_chunks" -> ((s, dir) =>
      Chunking.cdcDupReport(injectNonAscii(T.documents(s, dir)),
          "text", "doc_id", "source")
        .orderBy("source")),

    // Winnowing copy detection (MOSS, SIGMOD'03): min-hash-per-window
    // fingerprint selection over the CDC rolling-hash stream, df-pruned
    // boilerplate, shared-fingerprint pair evidence; top-20 pairs.
    // Non-ASCII-extended input: fingerprints are byte-window VALUES
    // (never positions), so multilingual text needs no char remap here
    // — the oracle evaluates the same polynomial over hex bytes.
    "x97_winnowing" -> ((s, dir) =>
      Chunking.winnowingPairs(injectNonAscii(T.documents(s, dir)),
          "text", "doc_id")
        .orderBy(col("n_shared").desc, col("d1"), col("d2"))
        .limit(20)),

    // Per-source coverage of the global top-1000 frequency vocabulary —
    // the tokenizer-planning / domain-shift signal.
    "x98_vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(T.documents(s, dir), "text", "source",
          vocabSize = 1000)
        .orderBy("source")),

    // Candidate-quality report for the simhash banding pipeline (the
    // x89 recall discipline applied to near-dup): exact Jaccard over
    // candidates only, precision per hamming bucket.
    "x99_neardup_eval" -> ((s, dir) =>
      Dedup.simhashCandidatePrecision(T.documents(s, dir), "text", "doc_id",
          n = 3, thrNum = 1, thrDen = 5)
        .orderBy("hamming")),

    // Incremental chunk-level dedup against a history corpus (the
    // x27/x31 ingest pattern at CDC granularity): per new doc, chunks
    // and CHARACTERS already in the store — the dedup-store ingest
    // saving (lengths are char counts since the round-12 char-domain
    // switch).
    "x100_cdc_incremental" -> ((s, dir) => {
      val docs = injectNonAscii(T.documents(s, dir))
      Chunking.cdcIncremental(
          docs.filter(pmod(col("doc_id"), lit(5L)) === 0),
          docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0),
          "text", "doc_id")
        .orderBy("doc_id")
    }),

    // ANN recall report: x17's IVF probe measured against x05's exact
    // brute-force truth, per query — the index-quality gate a pipeline
    // runs before trusting an approximate index (the RecallSpec floor,
    // promoted to a first-class query). Both arms are the existing
    // oracle-exact operators; the report is a k-row-per-query join +
    // per-query count, so its cost is the arms', not the compare's.
    "x89_ann_recall" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
      val bf = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("cand_id"))
      val ivf = Similarity.ivfTopKSampled(emb, q, "embedding", "vec_id",
          k = 10, cells = 16, nProbe = 4)
        .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
      bf.join(ivf, Seq("query_id", "cand_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("int").as("n_hits"))
        .withColumn("recall_at_10", col("n_hits").cast("double") / 10)
        .orderBy("query_id")
    }),

    // Filtered (attribute-constrained) vector search — the pre- vs
    // post-filter decision every production vector store faces: truth =
    // exact top-10 over the label-filtered corpus (pre-filtering — the
    // index is built on the predicate's survivors); candidate arm = the
    // x17 IVF probe over the FULL index with a 4× over-fetch (40 raw),
    // label filter applied AFTER, re-ranked to 10 (post-filtering).
    // Per query: truth size, post-filter survivor count, hits, recall —
    // the report that prices how much recall a selective predicate
    // costs an unfiltered index (and hence when to flip to pre-filter /
    // partitioned indexes). Both arms are existing oracle-exact
    // machinery; n_flt counts the over-fetch's survivors, the
    // over-fetch-sizing signal.
    // 100 TB: the truth arm exists only because the gate needs exact
    // truth (x89's discipline); the production path is the IVF arm —
    // scan-side codebook argmax, probe join touches nProbe/cells of the
    // index, and the label filter is a scan-side predicate on the
    // probed cells.
    "x104_filtered_ann" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
      val truth = Similarity.bruteForceTopK(
          emb.filter(col("label") === 3), q, "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("cand_id"))
      val raw = Similarity.ivfTopKSampled(emb, q, "embedding", "vec_id",
        k = 40, cells = 16, nProbe = 4)
      val fltCand = raw.join(
          broadcast(emb.select(col("vec_id").as("cand_id"), col("label"))),
          "cand_id")
        .filter(col("label") === 3)
      val wPost = Window.partitionBy("query_id").orderBy("rank")
      val post = fltCand
        .withColumn("rk", row_number().over(wPost))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("cand_id"), lit(1).as("hit"))
      val nf = fltCand.groupBy("query_id")
        .agg(count(lit(1)).cast("int").as("n_flt"))
      truth.join(post, Seq("query_id", "cand_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).cast("int").as("n_truth"),
          sum(coalesce(col("hit"), lit(0))).cast("int").as("n_hits"))
        .join(nf, Seq("query_id"), "left")
        .select(col("query_id"), col("n_truth"),
          coalesce(col("n_flt"), lit(0)).as("n_flt"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_truth").cast("double"))
            .as("recall"))
        .orderBy("query_id")
    }),

    // Signed feature hashing (Weinberger et al. ICML'09) — the
    // vocabulary-free text featurizer + its collision audit. See
    // TextAnalysis.featureHash.
    "x105_feature_hash" -> ((s, dir) =>
      TextAnalysis.featureHash(T.documents(s, dir), "text", "doc_id",
          dim = 256)
        .orderBy("doc_id")),

    // Per-cluster distinctive terms (BERTopic's c-TF-IDF direction,
    // rational lift form): deterministic sampled-codebook clustering
    // of the doc embeddings (vec_id ≡ doc_id in the driver fixture),
    // then each cluster's top-5 over-represented terms — the topic
    // labels that make an unlabeled-corpus clustering legible. See
    // TextAnalysis.clusterTopTerms.
    "x107_cluster_terms" -> ((s, dir) => {
      val asg = Similarity.sampledCellAssignments(
          T.embeddings(s, dir), "embedding", "vec_id", cells = 16)
        .withColumnRenamed("vec_id", "doc_id")
      TextAnalysis.clusterTopTerms(T.documents(s, dir), asg, "text",
          "doc_id", k = 5, minCount = 5L)
        .orderBy("cell", "rk")
    }),

    // Maximal-marginal-relevance diversity re-rank (Carbonell &
    // Goldstein SIGIR'98) — the post-retrieval stage x77's rank
    // fusion can't express (redundancy among survivors). Greedy over
    // each query's bounded top-20 pool; see Similarity.mmrRerank.
    "x106_mmr_rerank" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 5),
          "embedding", "vec_id", pool = 20, k = 5)
        .orderBy("query_id", "sel_rank")
    }),

    // SimHash banded near-dup candidates with Hamming distances. Oracle:
    // fingerprints + 16-bit band self-join replayed in DuckDB SQL.
    "x19_simhash_candidates" -> ((s, dir) =>
      Dedup.simhashCandidates(T.documents(s, dir), "text", "doc_id")
        .select("d1", "d2", "hamming")
        .orderBy("d1", "d2")),

    // Brute-force cosine top-k ANN (codegen'd cosine expression).
    "x05_ann_bruteforce" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id", k = 10)
        .orderBy("query_id", "rank")
    }),

    // LSH-bucketed ANN — graft's deterministic seeded-sign projection
    // (bucket-join-only semantics), replayed bit-exactly by the oracle.
    "x06_ann_lsh" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      Similarity.srpTopK(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id",
          k = 10, dim = 64, tables = 6)
        .orderBy("query_id", "rank")
    }),

    // Sliding-window token chunking (bounded-context model prep):
    // narrow transforms + one explode, chunk decisions made per row at
    // scan time.
    "x23_chunk" -> ((s, dir) =>
      TextAnalysis.chunk(T.documents(s, dir), "text", chunkSize = 32, stride = 24)
        .select("doc_id", "chunk_id", "chunk_len", "chunk_text")
        .orderBy("doc_id", "chunk_id")),

    // Deterministic stratified hash sampling (train/eval splits that
    // are reproducible across runs/engines and join-stable): scan-side
    // filter on murmur3(doc_id) buckets, en oversampled 50% vs 10%.
    "x24_sample" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      graft.operators.Sampling.stratifiedHashSample(docs, col("doc_id"), col("lang"),
          rates = Seq("en" -> 50), defaultPct = 10)
        .select(col("doc_id"), col("lang"),
          graft.operators.Sampling.hashBucket(col("doc_id")).cast("long").as("samp_bucket"))
        .orderBy("doc_id")
    }),

    // Eval-set decontamination: corpus docs sharing any trigram with
    // the (stand-in) eval set doc_id < 20 — broadcast semi-join shape.
    // Overlap counts are per-document, so mining on the FULL corpus and
    // filtering the output is exact — and keeps the corpus shingle plan
    // canonically identical to x02/x14/x20/x21's, letting CacheManager
    // reuse their cached shingle table (the x21 composition lesson).
    "x25_decontaminate" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      Dedup.decontaminate(docs, docs.filter(col("doc_id") < 20), "text", "doc_id")
        .filter(col("doc_id") >= 20)
        .orderBy("doc_id")
    }),

    // Incremental dedup: the last-digit-8/9 docs are the "new batch",
    // the rest the historical corpus — batch survivors after in-batch
    // keep-one and a digest anti-join against history.
    "x27_incremental_dedup" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      Dedup.dedupAgainst(docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
          docs.filter(pmod(col("doc_id"), lit(10)) < 8), "text", "doc_id")
        .orderBy("doc_id")
    }),

    // Incremental NEAR-dup dedup: the x27 batch/history split, but at
    // minhash-estimate similarity — batch survivors after banded
    // batch×history candidates + one-hop in-batch domination. History
    // participates only via its signature index (never self-joined).
    "x66_near_dedup_against" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      // r16: batch/history signatures are SLICES of the session-shared
      // full-corpus signature frame (same canonical plan as x03/x20's —
      // CacheManager dedups), instead of two private per-slice
      // signature chains: per-doc signatures commute with the pmod row
      // filter, so results are identical while the regex/shingle/
      // signature pass runs once per corpus. Measured 1.51 → ~0.9 s
      // in-bench; at scale an ingest reuses the corpus signature index
      // rather than re-signing its slice of it.
      val sigs = graft.Caches.persistOnce(
        Dedup.minhashSignatures(docs, "text", "doc_id",
          n = 3, numHashes = 16, seed = 42L))
      Dedup.nearDedupAgainstSigs(docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
          "doc_id",
          sigs.filter(pmod(col("doc_id"), lit(10)) >= 8),
          sigs.filter(pmod(col("doc_id"), lit(10)) < 8),
          numHashes = 16, bands = 8, minEstimate = 0.2)
        .orderBy("doc_id")
    }),

    // First BPE merge step: corpus-wide adjacent-token-pair counts,
    // top-50 merge candidates — scan-side pair stream, one partial-
    // aggregatable shuffle, TakeOrdered top-k.
    "x67_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCandidates(T.documents(s, dir), "text", k = 50)),

    // Iterated BPE vocabulary induction (x67's loop): 4 greedy merge
    // rounds — per round one partial-agg pair-count shuffle, a 1-row
    // election, and a scan-side boundary-anchored literal replace. The
    // learned table is session-memoized (bpeMerges) so x70's encode
    // reuses this learn instead of re-running the loop.
    "x67b_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      bpeMerges(s, dir, steps = 4).toDF("step", "w1", "w2", "n_pairs")
        .orderBy("step")
    }),

    // Perceptual-hash (dHash) near-dup candidates over the multimodal
    // payload column: typed decode → 64-bit difference hash →
    // 16-bit-banded Hamming candidates (the x19 banding machinery over
    // an arbitrary fingerprint; never all-pairs).
    "x68_phash_dedup" -> ((s, dir) => {
      val fp = Multimodal.imageDHash(
        Multimodal.documentsAsMedia(s, T.documents(s, dir)))
      Dedup.fingerprintBandCandidates(fp, "doc_id", "dhash")
        .select("d1", "d2", "f1", "f2", "hamming")
        .orderBy("d1", "d2")
    }),

    // Cross-video duplicate-frame mining (x68's VIDEO half): sampled
    // byte-window "frames" → per-frame dHash → per-video distinct
    // fingerprints (smallest frame_idx kept, so dup-heavy videos add
    // candidates per distinct frame, not per repetition) → the x19/x68
    // Hamming banding across frame fingerprints, cross-video pairs
    // only — never all-pairs.
    "x69_frame_dedup" -> ((s, dir) => {
      val fr = Multimodal.frameDHash(
        Multimodal.documentsAsMedia(s, T.documents(s, dir)))
      val dd = fr.groupBy("doc_id", "dhash")
        .agg(min("frame_idx").as("frame_idx"))
      val keyed = dd.select(
        (col("doc_id") * lit(1048576L) + col("frame_idx")).as("fid"),
        col("dhash"))
      Dedup.fingerprintBandCandidates(keyed, "fid", "dhash")
        .select(
          expr("d1 div 1048576").as("v1"),
          pmod(col("d1"), lit(1048576L)).as("fr1"),
          expr("d2 div 1048576").as("v2"),
          pmod(col("d2"), lit(1048576L)).as("fr2"),
          col("hamming"))
        .filter(col("v1") =!= col("v2"))
        .orderBy("v1", "fr1", "v2", "fr2")
    }),

    // Tokenize with the learned BPE vocabulary: x67b's 4 merges (shared
    // via the session memo — learned ONCE per session), applied to the
    // corpus in ONE scan-side replace-chain pass — per-doc token counts,
    // merged-unit counts, and the encoded stream's md5 as the witness.
    "x70_bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncodeWith(T.documents(s, dir), "text", "doc_id",
          bpeMerges(s, dir, steps = 4).map(m => (m._2, m._3)))
        .orderBy("doc_id")),

    // Distributed Lloyd k-means over the embedding store (the iterative
    // fit the sampled-codebook ANN family deliberately avoids — here it
    // IS the operator): hash-min seeding, 2 exact unrolled rounds
    // (scan-side election, k·dim-group mean shuffle), final per-vector
    // assignment with its centroid cosine.
    "x71_kmeans" -> ((s, dir) =>
      Similarity.kMeansAssignWith(T.embeddings(s, dir), "embedding", "vec_id",
          kmeansFit(s, dir, k = 8, iters = 2))
        .orderBy("vec_id")),

    // IVF ANN over the TRAINED x71 codebook — fit, assign, probe,
    // re-rank, all oracle-replayed (the learned-codebook index the
    // sampled-codebook x17 stands in for when a fit is unreplayable).
    "x72_ann_ivf_trained" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      Similarity.ivfTopKTrainedWith(emb, emb.filter(col("vec_id") < 5),
          "embedding", "vec_id", k = 10,
          kmeansFit(s, dir, k = 8, iters = 2), nProbe = 2)
        .orderBy("query_id", "rank")
    }),

    // DSIR hashed-ngram importance weights (arXiv:2302.03169): target
    // distribution = the 'en' rows, raw = the corpus; per-doc importance
    // = count-weighted sum of grid-quantized per-bucket likelihood
    // ratios. The x56 proxy scores by a single surface ratio; this is
    // the paper's estimated-distribution form.
    "x73_dsir" -> ((s, dir) =>
      Sampling.dsirImportance(T.documents(s, dir), "text", "doc_id",
          targetPred = col("lang") === "en", buckets = 512, maxTokens = 256)
        .orderBy("doc_id")),

    // fastText-shape hashed linear quality classifier (arXiv:1607.01759
    // at dim=1, integer decision core): fixture weight table, zero
    // shuffle — the whole model applies inside the scan.
    "x74_linear_quality" -> ((s, dir) =>
      TextAnalysis.linearQuality(T.documents(s, dir), "text", "doc_id",
          buckets = 64)
        .orderBy("doc_id")),

    // Z-order (Morton) write-layout clustering on the events table:
    // (user_id, epoch-day) interleaved, the two-predicate pruning key.
    // The query emits the deterministic z-value + a fixed-width z-shard
    // (zval >> 24).
    "x75_zorder" -> ((s, dir) => {
      val ev = T.events(s, dir)
      ev.withColumn("epoch_day",
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")))
        .withColumn("zval", graft.operators.Layout.mortonInterleave(
          col("user_id"), col("epoch_day"), bits = 16))
        .withColumn("z_shard", shiftright(col("zval"), 24).cast("int"))
        .select("event_id", "zval", "z_shard")
        .orderBy("event_id")
    }),

    // Hilbert write-layout clustering — x75's companion with the
    // strictly-better-locality key (consecutive indices are adjacent
    // cells; Delta liquid clustering's move). Same (user_id,
    // epoch-day) domain and shard harness; the index is the codegen'd
    // HilbertIndex2D expression, replayed by the oracle as staged
    // per-level CTEs (HilbertSql). Locality vs Z-order measured in
    // Round10cOpsSpec (per-shard bounding boxes).
    "x108_hilbert" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val ev = T.events(s, dir)
      ev.withColumn("epoch_day",
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")))
        .withColumn("hval", graft.functions.GraftFunctions.hilbert2d(
          col("user_id").cast("long"), col("epoch_day").cast("long"),
          bits = 16))
        .withColumn("h_shard", shiftright(col("hval"), 24).cast("int"))
        .select("event_id", "hval", "h_shard")
        .orderBy("event_id")
    }),

    // Data-skipping effectiveness report (Layout.skippingReport): what
    // x75/x108's layouts actually BUY. Events quantize onto a 16×16
    // (user, day) grid; rows bin into 64 equal-frequency "files" under
    // three sort orders — linear (day, user), Z-order, Hilbert — each
    // bin gets min/max footer stats, and three predicates (a user
    // slice, a 3-day window, their conjunction) are tested the way a
    // reader's min/max pruning does. Linear prunes the prefix
    // dimension only; the curves buy pruning on BOTH — now a measured,
    // oracle-checked claim instead of a scaladoc assertion. The three
    // quantization scalars are one bounded driver action (the
    // triangleCounts measured-decision discipline); the oracle derives
    // them via the same scalar subqueries.
    "x110_skipping_report" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      import graft.operators.Layout
      val ev = T.events(s, dir).select(
        col("event_id"),
        col("user_id").cast("long").as("u"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
      val pr = ev.agg(max("u"), min("d"), max("d")).head()
      val uspan = pr.getLong(0) + 1
      val dmin = pr.getLong(1)
      val dspan = pr.getLong(2) - dmin + 1
      val q = ev
        .withColumn("qu", expr(s"(u * 16) div $uspan"))
        .withColumn("qd", expr(s"((d - $dmin) * 16) div $dspan"))
      val zq = q.withColumn("zval",
        Layout.mortonInterleave(col("qu"), col("qd"), 4))
      val hq = q.withColumn("hval", graft.functions.GraftFunctions
        .hilbert2d(col("qu"), col("qd"), 4))
      // the derived bound degenerates (selects nothing) below a span of
      // 8 — fail loudly instead (house fence discipline, r11 VERDICT nit)
      require(uspan >= 8,
        s"x110: user-id span $uspan < 8 makes p_user select nothing")
      val uhi = uspan / 8 - 1
      val preds = Seq(
        ("p_user", Seq(("u", lit(0L), lit(uhi)))),
        ("p_day", Seq(("d", lit(dmin + 10), lit(dmin + 12)))),
        ("p_both", Seq(("u", lit(0L), lit(uhi)),
          ("d", lit(dmin + 10), lit(dmin + 12)))))
      val dims = Seq("u", "d")
      Layout.skippingReport(q, "linear", Seq("d", "u", "event_id"),
          64, dims, preds)
        .unionByName(Layout.skippingReport(zq, "zorder",
          Seq("zval", "event_id"), 64, dims, preds))
        .unionByName(Layout.skippingReport(hq, "hilbert",
          Seq("hval", "event_id"), 64, dims, preds))
        .orderBy("layout", "predicate")
    }),

    // CMS join-size estimation (Sketches.cmsJoinSize — the AMS/CMS
    // inner-product estimator): price |early ⋈ late on user_id|
    // WITHOUT executing the join, from two d×w counter grids built in
    // one tagged scan. est ≥ exact always (collisions only add); both
    // arms ride ONE persisted compact (user, side) projection. The
    // query-optimizer cardinality question, answered at sketch cost.
    "x111_join_size_cms" -> ((s, dir) => {
      val ev = T.events(s, dir)
      val bounds = ev.agg(
        min(unix_micros(col("ts"))).as("us_min"),
        max(unix_micros(col("ts"))).as("us_max"))
      val tagged = graft.Caches.persistOnce(
        ev.crossJoin(broadcast(bounds))
          .select(col("user_id"),
            when(unix_micros(col("ts")) <= call_function("div",
              col("us_min") + col("us_max"), lit(2L)), 0L)
              .otherwise(1L).as("side")))
      Sketches.cmsJoinSize(tagged, "user_id", "side")
    }),

    // Bloom RUNTIME-FILTER join pruning (Bloom.joinPruneReport): the
    // lakehouse "ship the dimension's keys to the fact scan" move,
    // priced as a report — a selective orders slice (1-URGENT, one
    // month) builds a 2^14-bit replayable filter; lineitem's orderkey
    // DOMAIN probes it scan-side; exact verify over the bloom-positive
    // slice accounts the FP tail (no false negatives by construction).
    // At sf0.1 the filter is oversized (pruning ~100 %, FP ~0); at sf1
    // m/n ≈ 4 so the FP tail is genuinely exercised — the x31
    // undersized-filter philosophy applied across SFs.
    "x117_bloom_join_prune" -> ((s, dir) => {
      val sel = T.orders(s, dir).filter(
        col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-02-01").cast("timestamp"))
      graft.operators.Bloom.joinPruneReport(
        T.lineitem(s, dir), col("l_orderkey"), sel, col("o_orderkey"))
    }),

    // Corpus novelty curve — the data-scaling readout (how fast does
    // NEW content saturate as the corpus grows?): docs bucketed into
    // ingest deciles by doc_id (the fixture's arrival order), each
    // 3-gram shingle attributed to the decile that saw it FIRST;
    // per decile — its distinct shingles and the fraction first seen
    // there (2^-20 grid). The key on the wire is md5(shingle) (the
    // x10 32-hex fingerprint discipline — fixed width, never raw
    // text); md5 collisions are corpus-negligible and in any case
    // identical cross-engine.
    // 100 TB: one partial-aggregatable min per fingerprint + one
    // distinct (bucket, fingerprint) pass, both keyed on the hash;
    // the decile rollup is 10 rows.
    "x118_novelty_curve" -> ((s, dir) => {
      val grid = 1048576L
      val docs = T.documents(s, dir)
      val hi = broadcast(docs.agg(max(col("doc_id")).as("max_id")))
      val b = call_function("div", col("doc_id") * 10L,
        col("max_id") + 1L).cast("int").as("b")
      val pairs = graft.Caches.persistOnce(
        graft.operators.Dedup.shingles(docs, "text", "doc_id")
          .crossJoin(hi)
          .select(b, explode(col("shingles")).as("s"))
          .select(col("b"), md5(col("s")).as("f"))
          .distinct())
      val firstSeen = pairs.groupBy("f").agg(min(col("b")).as("fb"))
      val perBucket = pairs.join(firstSeen, "f")
        .groupBy("b")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("fb") === col("b"), 1L).otherwise(0L))
            .as("n_new_shingles"))
      val nd = docs.crossJoin(hi)
        .groupBy(b).agg(count(lit(1)).as("n_docs"))
      nd.join(perBucket, "b")
        .select(col("b"), col("n_docs"), col("n_shingles"),
          col("n_new_shingles"),
          call_function("div", col("n_new_shingles") * grid,
            col("n_shingles")).as("novelty_q"))
        .orderBy("b")
    }),

    // int8 scalar-quantization ANN recall — the 4×-memory-cut scale
    // path PQ (x89) sits beyond: per-dimension symmetric max-abs
    // scales, embeddings quantized to ⌊v·127/m + 0.5⌋ ∈ [−127, 127],
    // candidates ranked by the EXACT INTEGER dot against the float-dot
    // truth (both MIPS — the recommendation-retrieval objective), and
    // recall@k reported per query on the 2^-20 grid. All-zero
    // dimensions quantize to 0 via an explicit m > 0 guard, not a NaN.
    // 100 TB: the query side is the bounded seed set (broadcast, the
    // x05 shape); scales are ONE 64-row aggregate; the integer dot is
    // SIMD-width arithmetic on a 4×-smaller scan.
    "x119_int8_recall" -> ((s, dir) => {
      val k = 10
      val grid = 1048576L
      val emb = T.embeddings(s, dir)
      // per-dim max-abs, packed into one ordered array (64 values)
      val scales = broadcast(emb
        .select(posexplode(col("embedding")).as(Seq("p", "v")))
        .groupBy("p").agg(max(abs(col("v"))).as("m"))
        .agg(array_sort(collect_list(struct(col("p"), col("m"))))
          .as("pm"))
        .select(expr("transform(pm, x -> x.m)").as("ms")))
      def quant(vec: Column): Column =
        zip_with(vec, col("ms"), (v, m) =>
          when(m > lit(0f),
            floor(v.cast("double") * 127.0 / m.cast("double") + lit(0.5)))
            .otherwise(lit(0L)))
      val cand = emb.crossJoin(scales)
        .select(col("vec_id").as("cand_id"),
          col("embedding").as("cv"), quant(col("embedding")).as("cq"))
      val qs = broadcast(emb.filter(col("vec_id") < 5).crossJoin(scales)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("qv"), quant(col("embedding")).as("qq")))
      val scored = cand.join(qs, col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          Exact.round6(aggregate(zip_with(col("qv"), col("cv"),
            (a, b) => a.cast("double") * b), lit(0.0), _ + _))
            .as("fdot"),
          aggregate(zip_with(col("qq"), col("cq"), _ * _),
            lit(0L), _ + _).as("idot"))
      val we = Window.partitionBy("query_id")
        .orderBy(col("fdot").desc, col("cand_id"))
      val wi = Window.partitionBy("query_id")
        .orderBy(col("idot").desc, col("cand_id"))
      val ranked = scored
        .withColumn("re", row_number().over(we))
        .withColumn("ri", row_number().over(wi))
      // overlap = rows in BOTH top-ks; every query keeps its row (the
      // exact side always has k rows per query). Both ranks ride ONE
      // query_id exchange (same partitioning, two sort specs).
      ranked.filter(col("re") <= k)
        .groupBy("query_id")
        .agg(sum(when(col("ri") <= k, 1L).otherwise(0L)).as("n_overlap"))
        .select(col("query_id"), lit(k).cast("bigint").as("k"),
          col("n_overlap"),
          call_function("div", col("n_overlap") * grid, lit(k.toLong))
            .as("recall_q"))
        .orderBy("query_id")
    }),

    // PII scan + redaction audit — the privacy stage every release
    // pipeline runs: emails, 555-prefixed phone numbers and IPv4s
    // detected per doc, and the doc's length after every hit is
    // replaced with '<PII>'. The fixture corpus is PII-free, so hits
    // are INJECTED deterministically from doc_id on both engines (the
    // injectNonAscii/x112 discipline) — positives AND negatives are
    // exercised at every SF, and docs may carry 0–3 kinds at once.
    // 100 TB: pure scan-side regexes inside WholeStageCodegen — no
    // shuffle, no UDF; one row per doc (the orderBy is dump-only).
    "x120_pii_scan" -> ((s, dir) =>
      piiScan(injectPii(T.documents(s, dir))).orderBy("doc_id")),

    // Cross-document boilerplate (the C4/CCNet header-footer cut —
    // within-doc repetition is x26): a 3-gram is boilerplate when it
    // appears in ≥ 4 distinct docs; per doc — distinct 3-grams, how
    // many are boilerplate, and the boilerplate fraction on the 2^-20
    // grid. The wire carries md5(shingle) fingerprints (the x118
    // discipline — fixed width, never raw text).
    // 100 TB: one partial-aggregatable df count per fingerprint + one
    // fingerprint-keyed join back; both shuffles carry 32-hex keys.
    "x121_boilerplate_ngrams" -> ((s, dir) =>
      boilerplateNgrams(T.documents(s, dir))),

    // Vocabulary concentration per source — the integer-exact Zipf
    // readout (no float logs, the x79 length(bin) discipline): tokens
    // ranked by (count desc, token), r50/r90 = how many distinct
    // tokens cover 50% / 90% of the source's token MASS (cum*2 ≥
    // total, cum*10 ≥ 9·total — pure integer comparisons; BIGINT
    // headroom: cum·10 needs per-source token mass ≤ ~9.2e17, far
    // above a 100 TB corpus's ~2e13 tokens — the a90 convention of
    // stating the bound). A healthy
    // natural-language source has small r50 and a long tail; spam /
    // template / synthetic text shows up as an r90 collapse. top_cnt
    // beside total lets the reader form the head share exactly.
    // 100 TB: the (source, token) rollup partial-aggregates; the
    // ranked window sorts VOCAB-sized data per source (bounded by the
    // language's vocabulary, not the corpus), and rank, cumulative
    // mass, total and vocab all ride ONE source-keyed exchange (same
    // partitioning, two frame specs — the a87 discipline), with the
    // final rollup on the same key.
    "x122_vocab_concentration" -> ((s, dir) =>
      vocabConcentration(T.documents(s, dir))),

    // Token-distribution drift between two corpus slices (doc_id
    // parity = "crawl A vs crawl B") — the CATEGORICAL companion to
    // x114's numeric KS: per top-200 token (by combined count, token
    // tiebreak), the 2×2-margin chi-square contribution against the
    // expected split, top 20 movers. Counts are exact integers; the
    // contribution is computed in DOUBLE with the IDENTICAL operation
    // order on both engines (IEEE ops are deterministic given the same
    // tree) and lands on the 2^-20 grid, so ordering and values replay
    // bit-identically.
    // 100 TB: one token-keyed partial-aggregatable rollup; the top-200
    // vocab cut is a global TopK (TakeOrderedAndProject, never a full
    // sort); slice totals are a broadcast 1-row frame; the chi-square
    // arithmetic touches 200 rows.
    "x123_token_chisq" -> ((s, dir) =>
      tokenChisq(T.documents(s, dir))),

    // Dedup impact audit per source — the governance readout every
    // production dedup run ships with: how many docs each source
    // contributed, how many survived the x14-parameter keep-one chain,
    // and whether the removals were exact copies or near-dups. Rides
    // the session-memoized clusterLabels frame (ONE chain build per
    // session, shared with x14/x44/x59) plus one content-hash rollup.
    // Accounting is disjoint by construction: kept (canonical = self),
    // removed-exact (not kept AND a later copy of an identical text),
    // removed-near (the rest). A doc too short to shingle never pairs,
    // so an exact dup of a sub-n-gram doc stays kept — pinned in
    // Round15OpsSpec as the documented edge.
    // 100 TB: the hash rollup shuffles a uniform digest; the flag join
    // is doc_id-keyed; the rollup partial-aggregates on source.
    "x124_dedup_audit" -> ((s, dir) =>
      dedupAudit(T.documents(s, dir), clusterLabels(s, dir))),

    // Spearman rank correlation per source between document length and
    // distinct-vocabulary size — the "does longer mean richer"
    // corpus-health check, INTEGER-exact end to end: ranks are
    // row_number over the (metric, doc_id) total order (the
    // deterministic-tiebreak convention, NOT average ranks — pinned),
    // d² sums are exact longs, and ρ lands as (den − 6Σd²)·2^20 div
    // den (trunc toward zero both engines, the a86 discipline; den
    // fenced to 1 for a single-doc source, which reads ρ_q = 0 by
    // convention).
    // 100 TB: one scan computes both metrics codegen'd; both rank
    // windows AND the rollup ride ONE source exchange (the a87
    // discipline); nothing corpus-quadratic anywhere.
    "x125_spearman" -> ((s, dir) =>
      spearmanLengthVocab(T.documents(s, dir))),

    // Tokenizer economics per source — chars-per-token under the
    // corpus-learned BPE table (x67b/x70's merges, ONE learn per
    // session via the bpeMergeCache): the compression-ratio readout
    // that decides token budgets and flags domains the tokenizer
    // serves badly (low chars/token = expensive to train on). Exact
    // integer rollups; the ratio lands as chars·2^20 div tokens (the
    // a86 truncating division).
    // 100 TB: the encode is one scan-side fold over the broadcast
    // merge table (x70's shape); one source-keyed partial rollup.
    "x126_bpe_compression" -> ((s, dir) =>
      bpeCompression(T.documents(s, dir),
        bpeMerges(s, dir, steps = 4).map(m => (m._2, m._3)))),

    // MinHash estimator calibration — the dedup-quality audit at the
    // heart of every banded pipeline: over the REAL banded candidate
    // set (x03's parameters), how far does the lane-agreement estimate
    // (matching lanes / 16) sit from the exact shingle Jaccard? Pure
    // integer error buckets: bucket = |lanes·union − 16·inter| div
    // union ∈ [0, 16] (bucket b ⇔ error in [b/16, (b+1)/16)), with
    // over/under-estimate counts. A calibration collapse (mass in high
    // buckets) means the banding parameters are lying about the corpus.
    // 100 TB: candidates are banding-bounded (never all-pairs); the
    // signature and shingle-set tables are the session-cached frames
    // every dedup query shares; lane agreement is 16 codegen'd
    // comparisons, no HOF.
    "x127_minhash_calibration" -> ((s, dir) =>
      minhashCalibration(T.documents(s, dir))),

    // Code-vs-prose detection (the training-mix separation filter every
    // code-aware corpus runs): per source — docs flagged as code by
    // symbol density (structural chars > 2% of text: count·50 >
    // n_chars, pure integer comparison) plus the exact char sums the
    // threshold reads. The synthetic corpus carries no organic code,
    // so every (doc_id % 6 = 1) doc gets a deterministic code block
    // appended (a pure integer function of doc_id, replayed verbatim
    // by the oracle — the x120 injection discipline; positives AND
    // negatives at every SF).
    // 100 TB: pure scan-side regex counting inside WholeStageCodegen —
    // no HOF, no UDF; ONE source-keyed rollup exchange.
    "x128_code_detect" -> ((s, dir) =>
      codeDetect(injectStructured(T.documents(s, dir)))),

    // Numeric-junk density (the C4/Gopher numeric filter readout —
    // tables, serial dumps, sensor logs): per source — docs flagged
    // numeric-heavy by all-digit-token fraction (> 5%: count·20 >
    // n_tokens) plus digit-char and token sums. Injection: every
    // (doc_id % 9 = 4) doc gains a deterministic digit run; doc_id ≡
    // 13 (mod 18) carries BOTH injections (code symbols and digits
    // interact — the x120 0-3-kinds discipline).
    // 100 TB: scan-side split + filter over the token array (bounded
    // per row), ONE source-keyed rollup exchange.
    "x129_numeric_density" -> ((s, dir) =>
      numericDensity(injectStructured(T.documents(s, dir)))),

    // Token-weighted dedup savings per source (x124 counts DOCS; this
    // weights by TOKENS — the number a training-compute budget actually
    // reads, since a duplicated 10k-token doc wastes 100× a duplicated
    // 100-token doc): kept vs saved token mass under the x14-parameter
    // keep-one canon, savings in basis points via the truncating div.
    // 100 TB: rides the session-memoized clusterLabels frame (ONE
    // chain build shared with x14/x44/x59/x124 — InMemoryTableScan);
    // token counts are scan-side; one doc_id join + one source rollup.
    "x130_dedup_token_savings" -> ((s, dir) =>
      dedupTokenSavings(T.documents(s, dir), clusterLabels(s, dir))),

    // Language-ID confidence margin per source (the ambiguity audit
    // over x07's classifier — low-margin docs are where an n-gram
    // language filter silently misroutes): margin = best − second-best
    // stopword hits; und = no hits at all, ambiguous = margin ≤ 1 with
    // some hits. Pure integer comparisons; the hit arithmetic is
    // x07's, and the oracle shares its scored CTE verbatim (lockstep).
    // 100 TB: scan-side token-array filters (bounded per row), ONE
    // source-keyed rollup exchange, no join.
    "x131_langid_margin" -> ((s, dir) =>
      langMargin(T.documents(s, dir))),

    // Dedup survivorship bias (the governance cross-tab after x124/
    // x130: is the keep-one canon systematically discarding GOOD
    // documents?): per source, the kept/removed × quality-gate 2×2
    // cell counts, quality_ok being x08's exact composite (token-count
    // band + punct-ratio threshold — the single-division determinism
    // x08 already certifies). A removed_ok-heavy source means its
    // duplicates were quality content worth one retained copy — the
    // mix designer's signal to re-weight, not just drop.
    // 100 TB: quality flags are scan-side; rides the session-memoized
    // clusterLabels frame (InMemoryTableScan — the x130 route); one
    // doc_id join + one source rollup.
    "x132_dedup_quality_bias" -> ((s, dir) =>
      dedupQualityBias(T.documents(s, dir), clusterLabels(s, dir))),

    // SymSpell typo mining (TextAnalysis.typoPairs): edit-distance-1
    // typo→correction pairs via the deletion-neighborhood equi-join
    // over the VOCABULARY — never an all-pairs or corpus-sized string
    // join — verified with exact levenshtein and the 10× frequency
    // asymmetry. The corpus carries no organic typos (synthetic word
    // list), so every 7th doc first gets one deterministic 1-deletion
    // corruption of its first ≥5-letter token appended (a pure function
    // of text, replayed verbatim by the oracle — the x33 injection
    // discipline).
    "x112_typo_dedup" -> ((s, dir) => {
      val w0 = regexp_extract(col("text"), "[a-z]{5,}", 0)
      val injected = T.documents(s, dir).select(
        when(pmod(col("doc_id"), lit(7)) === 0 && length(w0) >= 5,
          concat(col("text"), lit(" "), w0.substr(lit(1), lit(2)),
            w0.substr(lit(4), length(w0) - 3)))
          .otherwise(col("text")).as("text"))
      TextAnalysis.typoPairs(injected, "text").orderBy("typo", "corr")
    }),

    // Robust outlier fences from the x109 quantile sketch: per source,
    // Tukey's q75 + 1.5·IQR upper fence in pure integer arithmetic
    // (3·IQR div 2), then one broadcast join flags the outliers — the
    // length-outlier curation filter priced at sketch cost (the corpus
    // is scanned once for the sketch, once for the flag; no per-group
    // sort of raw values anywhere).
    "x113_outlier_fences" -> ((s, dir) => {
      val d = T.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
      val sk = Sketches.quantileSketch(d, Seq("source"), col("n_chars"),
        col("doc_id"))
      val fences = sk.select(col("source"),
          Sketches.quantileEstimate(col("qsketch"), 25).as("q25"),
          Sketches.quantileEstimate(col("qsketch"), 75).as("q75"))
        .withColumn("fence_hi", col("q75") + call_function("div",
          (col("q75") - col("q25")) * 3L, lit(2L)))
      d.join(broadcast(fences), "source")
        .groupBy("source", "q25", "q75", "fence_hi")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_chars") > col("fence_hi"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("source")
    }),

    // Two-sample Kolmogorov–Smirnov drift at SKETCH cost: a74 asks the
    // drift question for a CATEGORICAL column; this answers it for a
    // CONTINUOUS one without shuffling raw values — per source, the
    // x109 bottom-k hash-rank sample vs the GLOBAL sample (merged from
    // the per-source sketches: membership order (h, id, v) is global,
    // so the merge IS the global bottom-k — the semilattice, third
    // use). D = sup|F̂_src − F̂_glob| evaluated at the ≤2k merged
    // support points as the RATIONAL max |r₁·n₂ − r₂·n₁| over
    // range-frame cumulative ranks — exact integers end to end,
    // ks_q = (num·2²⁰) div (n₁·n₂). Exact below k; O(1/√k) above.
    // 100 TB: the corpus is read once into catalog-sized sketches;
    // everything downstream is |sources|·k rows.
    "x114_ks_drift" -> ((s, dir) => {
      val d = T.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
      // persistOnce (r17): consumed three times below (global merge,
      // per-source points, source spine) — uncached, each rebuilt the
      // typed sketch aggregate over the corpus. |sources| rows pinned.
      val srcSk = graft.Caches.persistOnce(
        Sketches.quantileSketch(d, Seq("source"), col("n_chars"),
          col("doc_id")))
      val globSk = srcSk.agg(Sketches.quantileMergeSketches(
        collect_list(col("qsketch"))).as("gsk"))
      def vs(c: org.apache.spark.sql.Column) =
        transform(c, x => x.getField("v"))
      val srcPts = srcSk
        .select(col("source"), explode(vs(col("qsketch"))).as("v"))
        .withColumn("is_src", lit(1L)).withColumn("is_glob", lit(0L))
      val globPts = srcSk.select(col("source")).crossJoin(broadcast(globSk))
        .select(col("source"), explode(vs(col("gsk"))).as("v"))
        .withColumn("is_src", lit(0L)).withColumn("is_glob", lit(1L))
      val wc = Window.partitionBy("source").orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wp = Window.partitionBy("source")
      val scored = srcPts.unionByName(globPts)
        .withColumn("r1", sum(col("is_src")).over(wc))
        .withColumn("r2", sum(col("is_glob")).over(wc))
        .withColumn("n1", sum(col("is_src")).over(wp))
        .withColumn("n2", sum(col("is_glob")).over(wp))
      scored.groupBy("source")
        .agg(max(col("n1")).as("sample_src"),
          max(col("n2")).as("sample_glob"),
          max(abs(col("r1") * col("n2") - col("r2") * col("n1")))
            .as("ks_num"))
        .withColumn("ks_q", call_function("div",
          col("ks_num") * lit(1048576L),
          col("sample_src") * col("sample_glob")))
        .orderBy("source")
    }),

    // Near-dup CLUSTER profile + glue audit — what the x14 keep-one
    // election hides: the size histogram of the connected components
    // and, per size class, the WEAKEST verified edge inside any such
    // cluster (transitive closure gluing two barely-similar docs into
    // one component is the classic CC-dedup failure; a weakest edge
    // near the 0.2 threshold in a large cluster is the warning sign).
    // Rides the session-memoized clusterLabels + bandedPairs frames —
    // zero new corpus passes; the rollup is component-domain sized.
    "x115_cluster_profile" -> ((s, dir) => {
      val lbl = clusterLabels(s, dir)
      val pairs = bandedPairs(s, dir)
      val sizes = lbl.groupBy("canonical_id")
        .agg(count(lit(1)).as("n_docs"))
      val edges = pairs
        .join(lbl.select(col("doc_id").as("d1"), col("canonical_id")), "d1")
        .groupBy("canonical_id")
        .agg(count(lit(1)).as("n_edges"), min(col("jaccard")).as("weakest"))
      sizes.join(edges, Seq("canonical_id"), "left")
        .groupBy("n_docs")
        .agg(count(lit(1)).as("n_clusters"),
          sum(coalesce(col("n_edges"), lit(0L))).as("n_edges"),
          min(col("weakest")).as("weakest_jacc"))
        .orderBy("n_docs")
    }),

    // Dedup threshold sensitivity — the curation-tuning readout: how
    // many pairs and how many affected documents the near-dup join
    // yields at each candidate threshold 0.2..0.9, all from the ONE
    // memoized verified-pair frame (counts at t > 0.2 are exact subset
    // counts of the ≥0.2 verification, so no re-join is needed). The
    // table that decides where to set the keep-one knife before
    // running x14 at corpus scale.
    "x116_threshold_sensitivity" -> ((s, dir) => {
      import s.implicits._
      val pairs = bandedPairs(s, dir)
      val tdf = (2 to 9).map(_ * 1000).toDF("t_bp")
      val hits = pairs.crossJoin(broadcast(tdf))
        .filter(col("jaccard") >= col("t_bp").cast("double") / 10000.0)
      val np = hits.groupBy("t_bp").agg(count(lit(1)).as("n_pairs"))
      val nd = hits
        .select(col("t_bp"), explode(array(col("d1"), col("d2"))).as("doc"))
        .distinct()
        .groupBy("t_bp").agg(count(lit(1)).as("n_docs"))
      tdf.join(np, Seq("t_bp"), "left").join(nd, Seq("t_bp"), "left")
        .select(col("t_bp"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy("t_bp")
    }),

    // Mergeable quantile sketch (Sketches.quantileSketch — bottom-k
    // hash-rank row sampling, the KMV membership discipline applied to
    // quantiles): per-source doc-length percentiles estimated from
    // 4 SHARD sketches merged per source. The merge is a semilattice,
    // so the oracle replays the DIRECT bottom-k over the whole corpus
    // and the hash-match PROVES merged ≡ from-scratch cross-engine —
    // the x101 incremental-rollup story, now for quantiles. Exact
    // below k=256 rows/source; O(1/√k) rank rsd above (pinned vs
    // x93's exact quantiles in QueryBoundsSpec).
    "x109_quantile_sketch" -> ((s, dir) => {
      import graft.operators.Sketches
      val t = T.documents(s, dir)
        .select(col("source"), col("doc_id"),
          size(split(lower(col("text")), "\\s+")).cast("bigint").as("len"),
          pmod(col("doc_id"), lit(4)).as("shard"))
      val shardSk = Sketches.quantileSketch(t, Seq("source", "shard"),
        col("len"), col("doc_id"))
      val merged = shardSk.groupBy("source")
        .agg(Sketches.quantileMergeSketches(
          collect_list(col("qsketch"))).as("sk"))
      val counts = t.groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
      merged.join(counts, "source")
        .select(col("source"), col("n_docs"),
          Sketches.quantileSampleSize(col("sk")).as("sample_n"),
          Sketches.quantileEstimate(col("sk"), 25).as("p25_est"),
          Sketches.quantileEstimate(col("sk"), 50).as("p50_est"),
          Sketches.quantileEstimate(col("sk"), 90).as("p90_est"),
          Sketches.quantileEstimate(col("sk"), 99).as("p99_est"))
        .orderBy("source")
    }),

    // Stupid-backoff bigram LM corpus scoring (Brants et al. 2007):
    // top-1024/1024 pruned count tables, grid-quantized conditionals,
    // integer per-doc sum/mean — the trained-on-itself in-distribution
    // score that feeds x60-style bucketing.
    "x76_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(T.documents(s, dir), "text", "doc_id",
          topV = 1024, topU = 1024)
        .orderBy("doc_id")),

    // Contrastive triplet mining: the x15 near-dup pair set as positives
    // + 2 deterministic murmur3 negatives per pair (drawn mod corpus
    // size, collisions dropped not resampled) — the contrastive-
    // training data builder, RNG-free end to end.
    "x80_triplet_mine" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      val pairs = Dedup.embeddingCosinePairsBlocked(emb, "embedding",
        "vec_id", 0.4)
      Sampling.tripletMine(pairs, emb, "vec_id", negsPerAnchor = 2)
        .orderBy("anchor", "positive", "j")
    }),

    // Blocked fuzzy record linkage over the part catalog: rows collapse
    // to distinct entity strings FIRST (2 000 rows → 64 names at
    // sf0.01 — candidate volume tracks entities, not row duplication),
    // then a first-token-blocked self-join keeps Levenshtein ≤ 4 pairs
    // — integer edit distance, replayed verbatim by DuckDB.
    "x81_record_linkage" -> ((s, dir) =>
      Linkage.entityPairs(T.part(s, dir), "p_name", maxDist = 4)
        .orderBy("name1", "name2")),

    // Cluster-then-balance curation (diversity mixing over UNLABELED
    // data): every embedding is assigned to its x71 k-means cell (fit
    // shared via the session memo), then temperature-sampled (α=0.5)
    // across CELLS as strata — rare clusters upsampled toward
    // sqrt-share, dominant clusters capped. Reported as the per-cell
    // mixing table (integers only): the x54 shape with a LEARNED
    // stratum key.
    "x82_cluster_mixture" -> ((s, dir) => {
      val assigned = Similarity.kMeansAssignWith(T.embeddings(s, dir),
          "embedding", "vec_id", kmeansFit(s, dir, k = 8, iters = 2))
        .select(col("vec_id"), col("cell"))
      val kept = Sampling.temperatureMixture(assigned, col("vec_id"), "cell")
      Sampling.temperatureMixtureRates(assigned, "cell")
        .join(kept.groupBy("cell").agg(count(lit(1)).as("n_kept")),
          Seq("cell"), "left")
        .select(col("cell"), col("n_stratum").as("n_in"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("mix_thr"))
        .orderBy("cell")
    }),

    // Per-stratum score calibration: rank every doc WITHIN its language
    // by quality score (x08's stopword ratio) — the per-domain
    // percentile-threshold step of web curation (one global cutoff
    // over-prunes some languages and under-prunes others).
    // percent_rank = (rank−1)/(n−1): exact integers in, one correctly
    // rounded division out — engine-exact. 100 TB: one shuffle on the
    // stratum key + a per-stratum sort; the rank IS the deliverable —
    // when only a cutoff is needed, the quantile-sketch path (st07's
    // grid) avoids the sort entirely.
    "x83_score_calibrate" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(T.documents(s, dir), "text")
        .select(col("doc_id"), col("lang"), col("stopword_ratio"))
      val w = Window.partitionBy("lang")
        .orderBy(col("stopword_ratio").desc_nulls_last, col("doc_id"))
      scored
        .withColumn("rk", row_number().over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("keep",
          when(col("pct_rank") <= 0.5, lit(1)).otherwise(lit(0)))
        .select("lang", "doc_id", "rk", "pct_rank", "keep")
        .orderBy("lang", "rk")
    }),

    // Cross-source near-duplication matrix: which sources copy each
    // other (the overlap report read before mixing corpora). The pair
    // set IS x20's — the session-memoized [[bandedPairs]] frame (one
    // build + persist per (session, dir); identity pinned in
    // SharedSubtreeSpec, so a bench reorder or parameter drift cannot
    // silently rebuild it). Sources attach by two id-keyed joins and
    // pairs count per unordered source pair. Output is ≤ sources² rows.
    // Oracle note: equality vs the exact-jaccard pair CTEs leans on the
    // banding's measured recall 1.0 at tested scales (RecallSpec) —
    // the probabilistic-recall dependency is deliberate and shared
    // with x20 itself (ADVICE r8).
    "x84_source_overlap" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      val pairs = bandedPairs(s, dir).select("d1", "d2")
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
        .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
        .select(least(col("s1"), col("s2")).as("source_a"),
          greatest(col("s1"), col("s2")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }),

    // Per-doc n-gram novelty in ingestion order: fraction of a doc's
    // distinct trigrams first seen in THIS doc (min doc_id attribution)
    // — the "how much new text does each doc add" curriculum signal.
    // Rides the shared persisted shingle table; two gram-keyed
    // partial-agg exchanges, shuffle_hash-pinned.
    "x85_ngram_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(T.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")),

    // One-pass ANALYZE-style column profiler over lineitem: exact NDV
    // via Expand, typed min/max rendered to engine-stable strings
    // (DECIMAL views of the money doubles, DATE of the timestamp).
    "x78_profile" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
      graft.operators.Profile.profile(li, Seq(
        "l_orderkey" -> col("l_orderkey"),
        "l_quantity" -> col("l_quantity").cast("decimal(12,2)"),
        "l_extendedprice" -> col("l_extendedprice").cast("decimal(12,2)"),
        "l_returnflag" -> col("l_returnflag"),
        "l_shipdate" -> col("l_shipdate").cast("date")))
        .orderBy("col_name")
    }),

    // Estimate-grade ANALYZE over lineitem — x78's 100 TB companion:
    // NDV per column via the deterministic KMV bottom-k sketch (a
    // plain aggregate), so the plan is ONE HashAggregate pass with NO
    // Expand and no |specs|× row multiplication — the shape that makes
    // multi-column profiling affordable at scale. Specs are the
    // non-negative long keys whose murmur3 the DuckDB oracle replays
    // bit-exactly (the a23 staged-CTE arithmetic): exact below k=256
    // distinct values (l_linenumber, l_quantity), sketched above.
    "x78b_profile_kmv" -> ((s, dir) => {
      val li = T.lineitem(s, dir)
      graft.operators.Profile.profileApprox(li, Seq(
        "l_orderkey" -> col("l_orderkey"),
        "l_partkey" -> col("l_partkey"),
        "l_suppkey" -> col("l_suppkey"),
        "l_linenumber" -> col("l_linenumber").cast("bigint"),
        "l_quantity" -> col("l_quantity").cast("bigint")))
        .orderBy("col_name")
    }),

    // Key-skew diagnosis on the documents language key: per-key counts,
    // integer log2 buckets, quantized shares, and the salting factor
    // that bounds the heaviest reducer at 64 rows — the decision input
    // for Skew.saltedCountSum's factor.
    "x79_skew_report" -> ((s, dir) =>
      graft.operators.Profile.skewReport(T.documents(s, dir), col("lang"),
          k = 10, targetPerKey = 64)
        .orderBy(col("cnt").desc, col("key"))),

    // Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009):
    // the lexical arm (x52's BM25, top-50) fused with the semantic arm
    // (exact cosine to query vector 0, top-50) by grid-quantized
    // 1/(60+rank) sums — the RAG retrieval shape over this corpus
    // (vec_id ≡ doc_id in the driver fixture).
    "x77_hybrid_retrieval" -> ((s, dir) => {
      val lex = TextAnalysis.bm25(T.documents(s, dir), "text", "doc_id",
          terms = bm25Terms, k = 50)
        .select("doc_id", "rank")
      val emb = T.embeddings(s, dir)
      val sem = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === 0), "embedding", "vec_id", k = 50)
        .select(col("cand_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq("lex" -> lex, "sem" -> sem), "doc_id", k = 20)
        .select("rank", "doc_id", "rrf_q", "lex_rank", "sem_rank")
        .orderBy("rank")
    }),

    // Intra-document repetition (Gopher-style quality signal): most-
    // repeated-trigram share per document.
    "x26_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(T.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")),

    // Per-document distinctive terms: TF with linear inverse-df
    // weighting (the TF-IDF shape; score = tf/df is one IEEE division
    // of exact integers, so the oracle replays it bit-exactly), top-5
    // terms per doc via the TopKPerKey-loweable window.
    "x28_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdf(T.documents(s, dir), "text", "doc_id", k = 5)
        .orderBy("doc_id", "rank")),

    // Token-stream packing (concatenate-and-chunk): each doc's position
    // and context-window assignment in its language shard's token
    // stream — all exact integers from one running-sum window.
    "x29_pack_tokens" -> ((s, dir) =>
      Packing.packTokens(T.documents(s, dir), "text", "doc_id", "lang",
          capacity = 2048)
        .select("doc_id", "lang", "n_tok", "stream_pos", "bin",
                "bin_offset", "bins_spanned")
        .orderBy("doc_id")),

    // Mixture balancing: deterministic hash downsample of every
    // language to the rarest language's size — uniform training
    // mixture, integer accept predicate, data-derived rates.
    "x30_mixture_balance" -> ((s, dir) =>
      Sampling.mixtureBalance(T.documents(s, dir), col("doc_id"), "lang")
        .select("doc_id", "lang", "n_stratum", "target_n", "samp_bucket",
                "weight")
        .orderBy("doc_id")),

    // Bloom-prefiltered incremental dedup (x27's scale companion): the
    // historical side is compressed to a broadcast bit set, the batch
    // pays a scan-side membership test, and only bloom-positive digests
    // reach the exact verify join. mBits = 2^14 is deliberately small so
    // the false-positive → extra-verify path is exercised at sf0.1
    // (bloom_maybe = 1, is_dup = 0 rows), not just theorized.
    "x31_bloom_dedup" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      Bloom.dedupPrefiltered(docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
          docs.filter(pmod(col("doc_id"), lit(10)) < 8), "text", "doc_id")
        .orderBy("doc_id")
    }),

    // Count-min-sketch heavy hitters: d×w bounded counter grid off the
    // token stream, min-over-rows estimates for candidates, exact count
    // alongside (est ≥ exact by construction; QueryBoundsSpec pins the
    // εN bound). Threshold = 1 % of the stream, exact integer compare.
    "x32_heavy_hitters" -> ((s, dir) =>
      Sketches.cmsHeavyHitters(T.documents(s, dir), "text")
        .orderBy(col("est").desc, col("tok"))),

    // PII scrubbing. The corpus carries no organic PII, so the query
    // first injects one deterministic fake email/phone/IPv4 per doc
    // (pure functions of doc_id, replayed identically by the oracle) —
    // the regexes then have real matches to find and replace.
    "x33_pii_redact" -> ((s, dir) => {
      val injected = T.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or ("),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit(") 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" at 10."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit("."), pmod(col("doc_id"), lit(100)).cast("string"),
          lit("."), pmod(col("doc_id"), lit(50)).cast("string")).as("text"))
      TextAnalysis.redactPii(injected, "text", "doc_id")
        .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
          md5(col("redacted")).as("sig"))
        .orderBy("doc_id")
    }),

    // Cross-document boilerplate span removal: trigrams in ≥ max(2, 1 %)
    // of docs are boilerplate; covered token positions are dropped and
    // the survivors reassembled in order.
    "x34_boilerplate" -> ((s, dir) =>
      TextAnalysis.removeBoilerplate(T.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")),

    // URL component extraction (parse_url) over injected deterministic
    // URLs — the corpus has no organic URLs, so each doc gets one as a
    // pure function of doc_id, replayed identically by the oracle.
    "x35_url_parts" -> ((s, dir) =>
      Urls.urlParts(withUrls(T.documents(s, dir)), "url", "doc_id")
        .orderBy("doc_id")),

    // Per-registered-domain rollup (docs + token volume) — what C4-style
    // pipelines rank, cap, and blocklist by.
    "x36_domain_stats" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      Urls.domainStats(Urls.urlParts(withUrls(docs), "url", "doc_id"),
          docs, "text")
        .orderBy("reg_domain")
    }),

    // Stopword-heuristic language identification.
    "x07_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(T.documents(s, dir), "text")
        .select("doc_id", "lang", "en_hits", "de_hits", "es_hits", "fr_hits", "pred_lang")
        .orderBy("doc_id")),

    // Quality metrics + composite gate.
    "x08_text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(T.documents(s, dir), "text")
        .select("doc_id", "n_tokens", "mean_token_len", "punct_ratio",
                "stopword_ratio", "quality_ok")
        .orderBy("doc_id")),

    // Token counting: whitespace + BPE-ish regex.
    "x09_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(T.documents(s, dir), "text")
        .select("doc_id", "ws_tokens", "bpe_tokens")
        .orderBy("doc_id")),

    // Cross-engine-checkable md5 fingerprint of normalized text.
    "x10_fingerprint_md5" -> ((s, dir) =>
      TextAnalysis.fingerprints(T.documents(s, dir), "text")
        .select("doc_id", "fp_md5")
        .orderBy("doc_id")),

    // Native rolling-hash fingerprint (codegen'd). Oracle: the wrapping
    // 64-bit polynomial replayed in DuckDB hugeint SQL (ASCII corpus, so
    // codepoints == UTF-8 bytes).
    "x11_fingerprint_rolling" -> ((s, dir) =>
      TextAnalysis.fingerprints(T.documents(s, dir), "text")
        .select("doc_id", "fp_rolling")
        .orderBy("doc_id")),

    // Multimodal plumbing: binary payload → typed per-partition decode.
    "x12_multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.documentsAsMedia(s, T.documents(s, dir)))
        .toDF()
        .select("doc_id", "media_type", "byte_len", "n_frames", "sample_rate")
        .orderBy("doc_id")),

    // Per-label embedding centroids (long format).
    "x13_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(T.embeddings(s, dir), "embedding", "label")
        .orderBy("label", "pos")),

    // Embedding-cosine pairs at a sub-near-dup threshold: exact block-
    // pair equi-join (distributed-GEMM shape, no cartesian node — the
    // corpus cosine range tops out at 0.51, so LSH cannot prune with
    // full recall; see Dedup.embeddingCosinePairsBlocked).
    "x15_dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingCosinePairsBlocked(T.embeddings(s, dir), "embedding", "vec_id", 0.4)
        .orderBy("d1", "d2")),

    // IVF ANN with the deterministic sampled codebook — every step
    // (hash-min sample, cosine argmax assignment, probe ranking) is
    // relational, so the oracle replays it bit-exactly (RecallSpec
    // floors its recall against exact truth).
    "x17_ann_ivf" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      Similarity.ivfTopKSampled(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id",
          k = 10, cells = 16, nProbe = 4)
        .orderBy("query_id", "rank")
    }),

    // Multimodal frame sampling: one row per sampled payload window with
    // a deterministic checksum. Oracle: byte-window sums replayed in
    // DuckDB (image-row sampling is the imageio path, fixture-tested).
    "x18_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.documentsAsMedia(s, T.documents(s, dir)))
        .toDF()
        .orderBy("doc_id", "frame_idx")),

    // Corpus term statistics: document frequency of whitespace tokens
    // (explode → two-level aggregation), top-50 by df.
    "x16_token_freq" -> ((s, dir) => {
      val toks = T.documents(s, dir)
        .select(col("doc_id"), explode(array_distinct(
          split(lower(col("text")), "\\s+"))).as("token"))
      toks.groupBy("token")
        .agg(countDistinct(col("doc_id")).as("df"))
        .orderBy(col("df").desc, col("token"))
        .limit(50)
    }),

    // The END-TO-END training-data pipeline, composed from the operators
    // above: language filter → quality gate → exact content dedup →
    // banded near-dup keep-one → per-doc token stats + fingerprint.
    // Every stage is the scale-path variant (hash dedup one shuffle;
    // near-dup pairs via minhash banding), and the oracle replays the
    // whole chain in one recursive-CTE DuckDB statement.
    "x21_pipeline_docs" -> ((s, dir) => pipelineDocs(s, dir,
      // Survivor-side mining is the measured winner at every regime
      // (A/B, PERF.md §x21): standalone sf0.1 ~3.6 s vs ~6 s
      // full-corpus, in-session after x14/x20 warm the shared cache
      // ~2.85 s vs ~2.95 s (the cache-reuse argument for full-corpus
      // nets out to parity), and at the 10× sf1 fixture 4.0–7.3 s vs
      // ~13 s — the quality gate keeps ~9 % of docs, so mining survivors
      // shrinks the dominant shingle shuffle by ~11×, exactly the trade
      // that grows with scale. Both variants are exact
      // (PipelineVariantsSpec pins output equality).
      mineSurvivorsOnly = true)),

    // The embedding-side pipeline: exact cosine pair mining (block-pair
    // equi-join), connected-components keep-one, then per-label
    // centroids of the surviving vectors — dedup before aggregation so
    // near-identical vectors don't double-weight the centroid.
    "x22_pipeline_embeddings" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      val pairs = Dedup.embeddingCosinePairsBlocked(emb, "embedding", "vec_id", 0.4)
        .select("d1", "d2")
      val kept = Dedup.connectedComponentsKeepOne(emb, "vec_id", pairs)
        .filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id").as("vec_id"))
      Similarity.labelCentroids(emb.join(kept, "vec_id"), "embedding", "label")
        .orderBy("label", "pos")
    }),

    // Near-dup keep-one: connected components over Jaccard pairs, min id
    // elected canonical. Pairs come from the BANDED path (candidates →
    // exact verify), so the composed pipeline is scale-safe end to end;
    // RecallSpec pins banded pairs == all-pairs on this corpus, so the
    // recursive-CTE transitive-closure oracle still applies. The chain
    // is built once per session (clusterLabels) — x44/x59 share it.
    "x14_dedup_keepone" -> ((s, dir) =>
      clusterLabels(s, dir).orderBy("doc_id")),

    // Edit-distance fuzzy dedup: (prefix, length-band) blocking, then
    // levenshtein verify on the candidates only.
    "x37_fuzzy_dedup" -> ((s, dir) =>
      Dedup.fuzzyPairs(T.documents(s, dir), "text", "doc_id")
        .orderBy("d1", "d2")),

    // Passage-level exact dedup: global first-occurrence election per
    // 10-token passage, docs rebuilt from surviving passages.
    "x38_passage_dedup" -> ((s, dir) =>
      Dedup.passageDedup(T.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")),

    // Canonical normalization pass (scan-side, codegen'd).
    "x39_normalize" -> ((s, dir) =>
      TextAnalysis.normalize(T.documents(s, dir), "text")
        .select("doc_id", "norm_md5", "n_chars_norm", "norm_head")
        .orderBy("doc_id")),

    // Gopher-style composite quality filter with labelled reasons.
    "x40_gopher_quality" -> ((s, dir) =>
      TextAnalysis.gopherQuality(T.documents(s, dir), "text")
        .select("doc_id", "n_words", "mean_word_len", "top_share",
          "fail_reasons", "keep")
        .orderBy("doc_id")),

    // Survivorship: best doc per normalized-fingerprint cluster
    // (longest raw text wins, ties → smallest id).
    "x41_cluster_best" -> ((s, dir) =>
      Dedup.keepBestPerCluster(
          TextAnalysis.fingerprints(T.documents(s, dir), "text")
            .select(col("fp_md5"), col("doc_id"), col("n_chars")),
          "fp_md5", "doc_id", "n_chars")
        .orderBy("cluster")),

    // Corpus-familiarity score from a self-trained char-trigram model.
    "x42_trigram_model" -> ((s, dir) =>
      TextAnalysis.trigramFamiliarity(T.documents(s, dir), "text", "doc_id")
        .orderBy("doc_id")),

    // Product quantization: per-subspace nearest-codeword codes — the
    // ANN memory-compression step. Oracle: hash-min codebook + rounded
    // L2² argmin replayed in DuckDB.
    "x43_product_quantize" -> ((s, dir) =>
      Similarity.productQuantize(T.embeddings(s, dir), "embedding", "vec_id",
          m = 4, ks = 8)
        .orderBy("vec_id", "sub")),

    // Corpus duplication report: histogram of near-dup cluster sizes —
    // the number the pipeline owner actually reads ("how duplicated is
    // this crawl?"). Clusters from the shared session label table
    // (clusterLabels); two partial-aggregatable shuffles on top.
    "x44_cluster_sizes" -> ((s, dir) =>
      clusterLabels(s, dir)
        .groupBy("canonical_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")),

    // Dataset card: per (lang, quality-keep) doc/token/char volumes —
    // the rollup a dataset release documents. One partial-aggregatable
    // shuffle over scan-side quality metrics.
    "x47_dataset_card" -> ((s, dir) =>
      TextAnalysis.gopherQuality(T.documents(s, dir), "text")
        .groupBy(col("lang"), col("keep"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_words"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("lang", "keep")),

    // URL-keyed dedup: keep the first doc per normalized (host, path) —
    // the crawl-side dedup that runs BEFORE any text is fetched/compared.
    // min() election on the URL key: one partial-aggregatable shuffle.
    "x48_url_dedup" -> ((s, dir) =>
      Urls.urlParts(withUrls(T.documents(s, dir)), "url", "doc_id")
        .groupBy("host", "path")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy("host", "path")),

    // Doc-length histogram per source: power-of-two buckets via
    // length(bin(x)) — integer-exact in both engines where log2 is a
    // transcendental 1-ulp trap.
    "x49_length_histogram" -> ((s, dir) =>
      T.documents(s, dir)
        .groupBy(col("source"), length(bin(col("n_chars"))).as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy("source", "len_bucket")),

    // Deterministic negative sampling for contrastive training: k
    // hash-drawn partners per vector, self-draws dropped, label
    // mismatch flagged. Oracle: murmur3 hashLong replay.
    "x46_negative_samples" -> ((s, dir) =>
      Sampling.negativeSamples(T.embeddings(s, dir), "vec_id", "label", k = 4)
        .orderBy("vec_id", "i")),

    // Temporal event dedup: first event per (user, type, 5-minute
    // bucket) — the batch analog of watermarked streaming dedup.
    // min(struct) election: one partial-aggregatable shuffle, no
    // window over hot keys.
    "x45_event_dedup_window" -> ((s, dir) =>
      T.events(s, dir)
        .select(col("user_id"), col("event_type"),
          window(col("ts"), "5 minutes").getField("start").as("w_start"),
          col("ts"), col("event_id"))
        .groupBy("user_id", "event_type", "w_start")
        .agg(min(struct(col("ts"), col("event_id"))).as("f"))
        .select(col("user_id"), col("event_type"), col("w_start"),
          col("f.ts").as("ts"), col("f.event_id").as("event_id"))
        .orderBy("user_id", "event_type", "w_start")),

    // IVF + PQ composed ANN: coarse cells prune the search space, PQ
    // codes score via ADC lookup-table sums — the billion-vector index
    // shape. Oracle: both hash-min codebooks, assignment, probing,
    // encoding, LUT and the grid-exact ADC sum replayed in DuckDB.
    "x50_ann_ivfpq" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id",
          k = 10, cells = 16, nProbe = 4, m = 4, ks = 8)
        .orderBy("query_id", "rank")
    }),

    // Word-boundary containment dedup: doc quoted inside a longer doc.
    // The engine blocks on the head shingle; the oracle is the UNBLOCKED
    // all-pairs definition, so the gate also proves blocking recall.
    "x51_containment_dedup" -> ((s, dir) =>
      Dedup.containmentPairs(T.documents(s, dir), "text", "doc_id", n = 3)
        .orderBy("contained_id", "container_id")),

    // BM25 retrieval against a fixed query term set — the targeted-
    // selection scorer. Rational Robertson idf + grid-quantized term
    // contributions keep every float engine-independent.
    "x52_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(T.documents(s, dir), "text", "doc_id",
          terms = bm25Terms, k = 20)
        .orderBy("rank")),

    // Deterministic global corpus shuffle into training shards: shard =
    // murmur3 bucket, position = hash-rank within shard — a pure
    // function of the data (no RNG stream), so the permutation replays
    // bit-identically across runs, partitionings, and engines.
    "x53_shuffle_shard" -> ((s, dir) =>
      Sampling.shuffleShard(T.documents(s, dir), col("doc_id"), nShards = 8)
        .select("shard_id", "shard_pos", "doc_id")
        .orderBy("shard_id", "shard_pos")),

    // Deterministic fixed-size per-language subset (the eval-set
    // builder): ≤ 20 docs per lang in murmur3 order, ranked by the
    // custom TopKPerKeyExec via the transparent window rewrite.
    "x65_stratified_take" -> ((s, dir) =>
      Sampling.stratifiedTake(T.documents(s, dir), col("doc_id"), "lang", 20)
        .select("lang", "take_rank", "doc_id")
        .orderBy("lang", "take_rank")),

    // Temperature-weighted (α=0.5) mixture sampling per source: rare
    // strata upsampled toward sqrt-share of a half-corpus target.
    // Reported as the per-stratum mixing table (integers only).
    "x54_temperature_mix" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      val kept = Sampling.temperatureMixture(docs, col("doc_id"), "source")
      Sampling.temperatureMixtureRates(docs, "source")
        .join(kept.groupBy("source").agg(count(lit(1)).as("n_kept")),
          Seq("source"), "left")
        .select(col("source"), col("n_stratum").as("n_in"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("mix_thr"))
        .orderBy("source")
    }),

    // DSIR-style importance resampling: per-doc acceptance probability
    // = 2·stopword_ratio clamped to [0,1] (a target-likeness proxy);
    // the whole chain — ratio, clamp, threshold, murmur3 bucket — is
    // integer/IEEE-exact, so the oracle replays each doc's decision.
    "x56_importance_resample" -> ((s, dir) => {
      val scored = TextAnalysis.qualityScore(T.documents(s, dir), "text")
      Sampling.importanceResample(scored, col("doc_id"),
          col("stopword_ratio") * lit(2.0))
        .select("doc_id", "imp_thr")
        .orderBy("doc_id")
    }),

    // SemDeDup: sampled-codebook clustering + within-cell cosine
    // domination — every step relational, replayed by the oracle.
    "x57_semantic_dedup" -> ((s, dir) => {
      Similarity.semanticDedup(T.embeddings(s, dir), "embedding", "vec_id",
          cells = 16, threshold = 0.7)
        .orderBy("vec_id")
    }),

    // Exact duplicate-substring spans (the suffix-array dedup of
    // arXiv:2107.06499, re-expressed relationally): positioned 5-gram
    // occurrence counts → duplicated positions → maximal spans.
    "x58_duplicate_spans" -> ((s, dir) => {
      Dedup.duplicateSpans(T.documents(s, dir), "text", "doc_id",
          window = 5, minCount = 2)
        .orderBy("doc_id", "span_start")
    }),

    // The removal step over x58's spans (arXiv:2107.06499 §4): cut
    // every duplicated span, reassemble the kept tokens per doc.
    "x61_remove_spans" -> ((s, dir) => {
      Dedup.removeDuplicateSpans(T.documents(s, dir), "text", "doc_id",
          window = 5, minCount = 2)
        .orderBy("doc_id")
    }),

    // Doc-preserving next-fit-decreasing bin packing per hash shard
    // (arXiv:2107.02027): the no-split complement of x29. Sequential
    // greedy per shard (typed mapPartitions), recursive-CTE oracle.
    "x64_pack_bins" -> ((s, dir) =>
      Packing.packBinsNfd(T.documents(s, dir), "text", "doc_id",
          capacity = 256, nShards = 8)
        .orderBy("doc_id")),

    // FAISS-SQ8-style symmetric int8 quantization of the embedding
    // store — scan-side, bit-exact round-half-up codes. Long format
    // (vec_id, qscale, pos, code): scalar cells the oracle harness can
    // sort, where a raw array<int> column cannot be pandas-ordered.
    "x62_int8_quantize" -> ((s, dir) =>
      Similarity.int8QuantizeLong(T.embeddings(s, dir), "embedding", "vec_id")
        .orderBy("vec_id", "pos")),

    // Per-eval-example contamination report (GPT-3 appendix-C
    // direction): fraction of each eval doc's shingles found in the
    // training corpus. Same eval split convention as x25.
    "x63_eval_contamination" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      Dedup.evalContamination(docs.filter(col("doc_id") >= 20),
          docs.filter(col("doc_id") < 20), "text", "doc_id")
        .orderBy("eval_id")
    }),

    // CCNet-style perplexity head/middle/tail (arXiv:1911.00359):
    // per-language tertiles of the trigram-familiarity score via a
    // fixed-width histogram — no per-language corpus sort.
    "x60_perplexity_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(T.documents(s, dir), "text", "doc_id",
          bucketWidth = 16)
        .orderBy("doc_id")),

    // Leakage-safe train/val/test split: the split hashes the near-dup
    // CLUSTER label (x14's components), so duplicates never straddle
    // train and the held-out sets.
    "x59_cluster_split" -> ((s, dir) =>
      Sampling.clusterSplit(clusterLabels(s, dir), "canonical_id")
        .orderBy("doc_id")),

    // PageRank over the deterministic doc-derived domain link graph —
    // the crawl-frontier / domain-quality prior. 5 power iterations,
    // every round's arithmetic grid-exact, unrolled in the oracle.
    "x55_pagerank" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      val edges = docs.select(
        concat(lit("domain"), pmod(col("doc_id"), lit(20L)).cast("string")).as("src"),
        concat(lit("domain"),
          pmod(col("doc_id") * col("doc_id") + lit(7L), lit(20L)).cast("string")).as("dst"))
      Graph.pageRank(edges, "src", "dst", iterations = 5, damping = 0.85)
        .orderBy("node")
    }),

    // Incremental aggregate maintenance — the stored-rollup ingest op:
    // per-segment partial aggregate STATES (count, exact-decimal sum,
    // min/max, materialized KMV bottom-k sketch) built independently
    // for a "history" and a "delta" date slice, then MERGED — and the
    // oracle recomputes every column DIRECTLY from the full table,
    // proving merge(partial(A), partial(B)) == full(A ∪ B) for all
    // five state kinds (the bottom-k semilattice carries the NDV case;
    // decimal sums are exact hence associative).
    // 100 TB: this is why a stored rollup never rescans history — each
    // batch folds in at O(batch + groups·k). The collect_list the merge
    // folds holds ≤ segments (2) sketches of ≤ k longs per group.
    "x101_agg_state_merge" -> ((s, dir) => {
      import graft.tables.Exact
      val k = Sketches.KmvK
      val cut = lit("1996-07-01").cast("timestamp")
      val o = T.orders(s, dir).select(
        col("o_orderpriority").as("prio"), col("o_totalprice").as("price"),
        col("o_custkey").as("ck"), (col("o_orderdate") < cut).as("seg"))
      val stats = o.groupBy("seg", "prio").agg(
        count(lit(1)).as("n"), sum(Exact.dec(col("price"))).as("sum_p"),
        min(col("price")).as("min_p"), max(col("price")).as("max_p"))
      val sk = Sketches.kmvSketch(o, Seq("seg", "prio"), col("ck"), k)
      stats.join(sk, Seq("seg", "prio"))
        .groupBy("prio").agg(
          sum(col("n")).as("n_rows"),
          sum(col("sum_p")).cast("double").as("sum_price"),
          min(col("min_p")).as("min_price"),
          max(col("max_p")).as("max_price"),
          Sketches.kmvEstimate(
            Sketches.kmvMergeSketches(collect_list(col("sketch")), k), k)
            .as("ndv_cust"))
        .orderBy("prio")
    }),

    // Source-overlap matrix at SKETCH cost (the x78→x78b pattern
    // applied to x84's question): per-source KMV sketches of the
    // trigram-shingle domain, every pair scored from two k-long arrays
    // — corpus read ONCE, pair cost O(k) instead of a pairwise
    // corpus-domain join. Estimates are exact whenever a pair's union
    // is under k; SketchesSpec pins the estimator's error against
    // exact truth on synthetic sets.
    "x103_overlap_sketch" -> ((s, dir) =>
      Sketches.kmvOverlapMatrix(
          TextAnalysis.sourceShingleIds(T.documents(s, dir), "text", "source"),
          "source", col("cid"))
        .orderBy("src_a", "src_b")),

    // Margin-based bitext/pair mining over the vector store: a bounded
    // probe set (even ids < 200) scored against the odd-id candidate
    // pool, ranked by cosine-to-neighborhood-density ratio instead of
    // raw cosine (Artetxe & Schwenk's margin criterion — the standard
    // parallel-corpus mining score). Exact baseline here; the
    // unbounded-both-sides scale path composes the same scoring over
    // IVF candidates (Similarity.ivfTopKSampled).
    "x102_bitext_margin" -> ((s, dir) => {
      val emb = T.embeddings(s, dir)
      Similarity.marginTop1(
          emb.filter(pmod(col("vec_id"), lit(2L)) === 1L),
          emb.filter(pmod(col("vec_id"), lit(2L)) === 0L &&
            col("vec_id") < 200L),
          "embedding", "vec_id", km = 4)
        .orderBy("query_id")
    })
  )

  /** x52's query term set: mid-df corpus terms plus one rare term so
    * idf spread is exercised (df ≈ 394/385/382/391/25 at sf0.01).
    */
  private[graft] val bm25Terms = Seq("query", "join", "vector", "stream", "dup")

  /** The exact all-pairs n-gram Jaccard join in DuckDB SQL. Shared by
    * x02 (direct all-pairs) and x20 (banded candidates → exact verify):
    * the banded path's output is identical on this corpus (recall 1.0 at
    * j ≥ 0.9 with r=2/L=8 banding — RecallSpec), so one oracle serves
    * both.
    */
  private val exactJaccardSql =
    """WITH w AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws FROM documents),
       sh AS (
         SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         FROM w WHERE len(ws) >= 3),
       sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       SELECT d1, d2, CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) AS jaccard
       FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
       WHERE CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) >= 0.2
       ORDER BY d1, d2"""

  /** SimHash fingerprints as UNSIGNED hugeints in DuckDB: FNV-1a per
    * whitespace token (64-bit wrapping via mod 2^64), then a per-bit
    * majority vote — the exact arithmetic of
    * [[graft.functions.SimHash64]]. ASCII corpus ⇒ codepoints == UTF-8
    * bytes, so `unicode()` per char replays the byte loop.
    */
  private[graft] val simhashUnsignedSql =
    """toks AS (
         SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
         FROM documents),
       th AS (
         SELECT doc_id,
           list_reduce(
             list_prepend(CAST(14695981039346656037 AS HUGEINT),
               list_transform(range(1, length(tok)+1),
                 i -> CAST(unicode(tok[i]) AS HUGEINT))),
             (acc, c) -> (xor(acc, c) * 1099511628211)
               % CAST(18446744073709551616 AS HUGEINT)) AS h
         FROM toks),
       votes AS (
         SELECT doc_id, bb.b AS b,
           sum(CASE WHEN (h >> bb.b) % 2 = 1 THEN 1 ELSE -1 END) AS vote
         FROM th, (SELECT unnest(range(0, 64)) AS b) bb
         GROUP BY doc_id, bb.b),
       fpu AS (
         SELECT doc_id,
           sum(CASE WHEN vote > 0 THEN CAST(1 AS HUGEINT) << CAST(b AS INTEGER)
                    ELSE CAST(0 AS HUGEINT) END) AS hu
         FROM votes GROUP BY doc_id)"""

  /** The x68 dHash replayed over code points (the documents-as-media
    * payload is the text's bytes; driver data is ASCII, so byte k is
    * char k+1 — the same identity x18's checksum oracle relies on):
    * 72 cell sums over integer ranges, then 64 comparison bits under
    * exact cross-multiplied width normalization, packed into a HUGEINT
    * exactly like [[simhashUnsignedSql]]'s fingerprint build. The 64
    * CASE terms are generated here from the SAME (row, col) indexing
    * the Scala operator uses — never hand-duplicated.
    */
  /** The 64 dHash comparison bits over 72-cell sum/width lists named
    * `s`/`w`, packed into a HUGEINT — generated from the SAME (row, col)
    * indexing `Multimodal.packDHashBits` uses; shared by the x68
    * whole-payload and x69 per-frame fingerprint builds.
    */
  private def dhashBitTerms: String = {
    def cmp(b: Int): String = {
      val l = (b / 8) * 9 + (b % 8) + 1 // 1-based list index of cell (r,c)
      val r = l + 1
      s"(s[$r] * w[$l] > s[$l] * w[$r])"
    }
    (0 until 64).map(b =>
      s"CASE WHEN ${cmp(b)} THEN CAST(1 AS HUGEINT) << $b ELSE CAST(0 AS HUGEINT) END")
      .mkString("\n             + ")
  }

  private val dhashUnsignedSql: String = {
    val cells = 72
    val bitTerms = dhashBitTerms
    s"""g AS (
         SELECT doc_id,
           list_transform(range(0, $cells), k ->
             coalesce(list_sum(list_transform(
               range(CAST(k * length(text) // $cells + 1 AS INTEGER),
                     CAST((k+1) * length(text) // $cells + 1 AS INTEGER)),
               i -> unicode(text[i]))), 0)) AS s,
           list_transform(range(0, $cells), k ->
             (k+1) * length(text) // $cells - k * length(text) // $cells) AS w
         FROM documents),
       dfp AS (
         SELECT doc_id,
           ($bitTerms) AS hu
         FROM g)"""
  }

  /** x68: dHash fingerprints → 16-bit-banded Hamming candidates — the
    * x19 banding SQL verbatim over the dHash fingerprint table.
    */
  private def phashDedupSql: String =
    s"""WITH $dhashUnsignedSql,
       banded AS (
         SELECT doc_id, hu, bb.b AS band,
           (hu >> CAST(16 * bb.b AS INTEGER)) % 65536 AS key
         FROM dfp, (SELECT unnest(range(0, 4)) AS b) bb),
       cand AS (
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           a.hu AS h1, b.hu AS h2
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       SELECT d1, d2, ${signed64("h1")} AS f1, ${signed64("h2")} AS f2,
         CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
       FROM cand ORDER BY d1, d2"""

  /** x67b: the BPE merge loop unrolled to `steps` generated CTE rounds —
    * per round the x67 pair count over the current stream, a 1-row
    * election, and the SAME boundary-anchored literal replace the Scala
    * operator applies (chr(31) boundaries; each pattern anchor consumes
    * one of the boundary's two chars, so consecutive occurrences both
    * match and token-prefix false matches cannot).
    */
  private def bpeMergesSql(steps: Int): String = {
    val B = "chr(31)"
    val BB = s"($B || $B)"
    def pairCtes(k: Int): String =
      s"""c$k AS (
           SELECT iw[i] AS w1, iw[i+1] AS w2, count(*) AS n_pairs
           FROM (SELECT iw, unnest(range(1, len(iw))) AS i
                 FROM (SELECT ws[2:len(ws)-1] AS iw
                       FROM (SELECT string_split(stream, $BB) AS ws FROM s${k - 1})
                       WHERE len(ws) >= 4))
           GROUP BY 1, 2),
         w$k AS (
           SELECT CAST($k AS INTEGER) AS step, w1, w2, n_pairs
           FROM c$k ORDER BY n_pairs DESC, w1, w2 LIMIT 1)"""
    def applyCte(k: Int): String =
      s"""s$k AS (
           SELECT replace(s.stream,
             $B || w.w1 || $BB || w.w2 || $B,
             $B || w.w1 || ' ' || w.w2 || $B) AS stream
           FROM s${k - 1} s, w$k w)"""
    val ctes = (1 to steps).map { k =>
      if (k < steps) pairCtes(k) + ",\n         " + applyCte(k) else pairCtes(k)
    }.mkString(",\n         ")
    val sel = (1 to steps).map(k => s"SELECT * FROM w$k").mkString(" UNION ALL ")
    s"""WITH s0 AS (
         SELECT $BB || array_to_string(regexp_split_to_array(lower(text), '\\s+'), $BB) || $BB AS stream
         FROM documents),
         $ctes
       SELECT step, w1, w2, n_pairs FROM ($sel) ORDER BY step"""
  }

  /** x70: BPE encode replayed — the x67b learning rounds (same pair
    * counts and elections over the corpus-wide stream) but with doc_id
    * carried through every stream state and ALL `steps` merges applied
    * (the learner skips applying the last one; the encoder must not),
    * then per-doc token counts and the encoded stream's md5.
    */
  /** The x70 BPE learn+encode CTE chain (WITH-body text, no leading
    * WITH) ending at `s$steps(doc_id, stream)` — shared by the x70 and
    * x126 oracles so the merge-election and encoding arithmetic can
    * never drift between them.
    */
  private def bpeEncodeCtes(steps: Int): String = {
    val B = "chr(31)"
    val BB = s"($B || $B)"
    def pairCtes(k: Int): String =
      s"""c$k AS (
           SELECT iw[i] AS w1, iw[i+1] AS w2, count(*) AS n_pairs
           FROM (SELECT iw, unnest(range(1, len(iw))) AS i
                 FROM (SELECT ws[2:len(ws)-1] AS iw
                       FROM (SELECT string_split(stream, $BB) AS ws FROM s${k - 1})
                       WHERE len(ws) >= 4))
           GROUP BY 1, 2),
         w$k AS (
           SELECT w1, w2 FROM c$k ORDER BY n_pairs DESC, w1, w2 LIMIT 1)"""
    def applyCte(k: Int): String =
      s"""s$k AS (
           SELECT s.doc_id, replace(s.stream,
             $B || w.w1 || $BB || w.w2 || $B,
             $B || w.w1 || ' ' || w.w2 || $B) AS stream
           FROM s${k - 1} s, w$k w)"""
    val ctes = (1 to steps).map(k =>
      pairCtes(k) + ",\n         " + applyCte(k)).mkString(",\n         ")
    s"""s0 AS (
         SELECT doc_id,
           $BB || array_to_string(regexp_split_to_array(lower(text), '\\s+'), $BB) || $BB AS stream
         FROM documents),
         $ctes"""
  }

  private def bpeEncodeSql(steps: Int): String = {
    val B = "chr(31)"
    val BB = s"($B || $B)"
    s"""WITH ${bpeEncodeCtes(steps)}
       SELECT doc_id,
         CAST(len(ws) - 2 AS INTEGER) AS n_tokens,
         CAST(len(list_filter(ws[2:len(ws)-1], t -> contains(t, ' '))) AS INTEGER) AS n_merged,
         md5(stream) AS enc_md5
       FROM (SELECT doc_id, stream, string_split(stream, $BB) AS ws FROM s$steps)
       ORDER BY doc_id"""
  }

  /** x69: the per-frame dHash replayed — x18's byte-window frame
    * sampling (every 4th 256-byte window; char k+1 is byte k on the
    * ASCII driver data) feeding the x68 72-cell/64-bit fingerprint
    * build parameterized on the frame's offset and length, then the
    * per-video distinct-fingerprint collapse and the x68 banding with
    * packed (video, frame) ids, cross-video pairs only.
    */
  private lazy val frameDedupSql: String = {
    val bitTerms = dhashBitTerms
    s"""WITH frames AS (
         SELECT doc_id, text, i AS frame_idx, i * 256 AS frm,
           least(length(text), i * 256 + 256) - i * 256 AS flen
         FROM (SELECT doc_id, text,
                 unnest(range(0, greatest(length(text) // 256, 1), 4)) AS i
               FROM documents)),
       g AS (
         SELECT doc_id, frame_idx,
           list_transform(range(0, 72), k ->
             coalesce(list_sum(list_transform(
               range(CAST(frm + k * flen // 72 + 1 AS INTEGER),
                     CAST(frm + (k+1) * flen // 72 + 1 AS INTEGER)),
               i -> unicode(text[i]))), 0)) AS s,
           list_transform(range(0, 72), k ->
             (k+1) * flen // 72 - k * flen // 72) AS w
         FROM frames),
       dfp AS (
         SELECT doc_id, frame_idx,
           ($bitTerms) AS hu
         FROM g),
       dd AS (
         SELECT doc_id, hu, min(frame_idx) AS frame_idx
         FROM dfp GROUP BY doc_id, hu),
       fids AS (
         SELECT doc_id * 1048576 + frame_idx AS fid, hu FROM dd),
       banded AS (
         SELECT fid, hu, bb.b AS band,
           (hu >> CAST(16 * bb.b AS INTEGER)) % 65536 AS key
         FROM fids, (SELECT unnest(range(0, 4)) AS b) bb),
       cand AS (
         SELECT DISTINCT a.fid AS d1, b.fid AS d2, a.hu AS h1, b.hu AS h2
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.key = b.key AND a.fid < b.fid)
       SELECT d1 // 1048576 AS v1, d1 % 1048576 AS fr1,
         d2 // 1048576 AS v2, d2 % 1048576 AS fr2,
         CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
       FROM cand
       WHERE d1 // 1048576 <> d2 // 1048576
       ORDER BY v1, fr1, v2, fr2"""
  }

  /** x71: the Lloyd k-means fit unrolled — the x17 hash-min codebook
    * (centroids cast to DOUBLE element-wise, exactly like the
    * operator), then per round a rank-1 rounded-cosine assignment and
    * the x13 grid-exact mean update (2^-20-quantized elements summed,
    * mean floor-rounded to 1e-6, lists reassembled in position order;
    * cells with no members carry their previous centroid), ending with
    * the final assignment and its cosine.
    */
  /** The Lloyd-fit CTE chain shared by the x71 and x72 oracles:
    * hash-min seeding, `iters` rank-1-assignment + grid-exact-mean
    * rounds. Returns (cteBody, finalCbName); callers prepend `WITH `
    * and append their consumer of the final codebook.
    */
  private def kMeansCbCtes(k: Int, iters: Int): (String, String) = {
    val (hashCtes, huCte) = Murmur3Sql.hashLongCtes("cbs", Seq("cell", "centroid"), "kh")
    def asgCte(r: Int): String =
      s"""asg$r AS (SELECT vec_id, cell FROM (
           SELECT e.vec_id, cb.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY ${cosineRounded("e.embedding", "cb.centroid")} DESC, cb.cell) AS rk
           FROM embeddings e, cb$r cb)
         WHERE rk = 1)"""
    def updCtes(r: Int): String =
      s"""upd$r AS (
           SELECT cell, i AS pos,
             floor(sum(q) / count(*) * 1000000 + 0.5) / 1000000 AS cv
           FROM (
             SELECT a.cell,
               unnest(range(1, len(e.embedding)+1)) AS i,
               unnest(list_transform(range(1, len(e.embedding)+1),
                 j -> floor(CAST(e.embedding[j] AS DOUBLE) * 1048576 + 0.5) / 1048576)) AS q
             FROM asg$r a JOIN embeddings e USING (vec_id))
           GROUP BY cell, i),
         cb${r + 1} AS (
           SELECT cell, list(cv ORDER BY pos) AS centroid
           FROM upd$r GROUP BY cell
           UNION ALL
           SELECT cell, centroid FROM cb$r
           WHERE cell NOT IN (SELECT cell FROM upd$r))"""
    val rounds = (1 to iters).map(r =>
      asgCte(r) + ",\n       " + updCtes(r)).mkString(",\n       ")
    (s"""cbs AS (
         SELECT vec_id AS cell,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid,
           vec_id AS v
         FROM embeddings),
       $hashCtes
       cb1 AS (
         SELECT cell, centroid FROM (
           SELECT cell, centroid, row_number() OVER (ORDER BY hu, cell) AS rn
           FROM $huCte)
         WHERE rn <= $k),
       $rounds""",
      s"cb${iters + 1}")
  }

  private lazy val kMeansSql: String = {
    val (ctes, cbf) = kMeansCbCtes(k = 8, iters = 2)
    s"""WITH $ctes
       SELECT vec_id, cell, cosine FROM (
         SELECT e.vec_id, cb.cell,
           ${cosineRounded("e.embedding", "cb.centroid")} AS cosine,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ${cosineRounded("e.embedding", "cb.centroid")} DESC, cb.cell) AS rk
         FROM embeddings e, $cbf cb)
       WHERE rk = 1 ORDER BY vec_id"""
  }

  /** x72's oracle: IVF probing over the TRAINED codebook — the x71 fit
    * CTEs (cells=8, iters=2) feeding the x17 assignment/probe/re-rank
    * chain verbatim (nProbe=2, k=10, queries vec_id < 5).
    */
  private lazy val ivfTrainedSql: String = {
    val (ctes, cbf) = kMeansCbCtes(k = 8, iters = 2)
    s"""WITH $ctes,
       asgf AS (SELECT cell, cand_id, cvec FROM (
                SELECT cb.cell, e.vec_id AS cand_id, e.embedding AS cvec,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ${cosineRounded("e.embedding", "cb.centroid")} DESC, cb.cell) AS rk
                FROM embeddings e, $cbf cb)
              WHERE rk = 1),
       prb AS (SELECT query_id, qv, cell FROM (
                SELECT q.vec_id AS query_id, q.embedding AS qv, cb.cell,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY ${cosineRounded("q.embedding", "cb.centroid")} DESC, cb.cell) AS rk
                FROM embeddings q, $cbf cb WHERE q.vec_id < 5)
              WHERE rk <= 2),
       scored AS (SELECT p.query_id, a.cand_id,
                   ${cosineRounded("p.qv", "a.cvec")} AS cosine
                  FROM prb p JOIN asgf a USING (cell)
                  WHERE p.query_id <> a.cand_id)
       SELECT query_id, rank, cand_id, cosine FROM (
         SELECT query_id, cand_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank
         FROM scored)
       WHERE rank <= 10 ORDER BY query_id, rank"""
  }

  /** Deterministic non-ASCII extension of the documents table (the x33
    * injection discipline — a pure function of doc_id/text, replayed
    * verbatim by both engines): every 13th doc gains a multi-byte
    * suffix whose repeat length varies with doc_id, exercising the CDC
    * byte-window/char-end path (round-12 ASCII-fence lift) at every
    * gated SF. Shared by the x96/x97/x100/st20 queries and oracles.
    */
  private[queries] def injectNonAscii(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(13L)) === 0,
        concat(col("text"), lit(" ünïcodé"),
          expr("repeat('é', CAST(pmod(doc_id, 5) + 1 AS INT))")))
        .otherwise(col("text")))

  /** The SQL side of [[injectNonAscii]] — a CTE named `inj` over
    * `documents`. */
  private[queries] val cdcInjectCte: String =
    """inj AS (SELECT doc_id, source,
         CASE WHEN doc_id % 13 = 0
           THEN text || ' ünïcodé' || repeat('é', CAST(doc_id % 5 AS INTEGER) + 1)
           ELSE text END AS text
       FROM documents)"""

  /** PII detection patterns (x120) — RE2/Java-regex common subset (no
    * lookaround, ASCII word boundaries) so the SAME pattern text runs
    * in both engines, the x26 \b discipline.
    *
    * Deliberately over-matching, scan-grade detection: the IPv4
    * pattern accepts octets > 255 (999.999.999.999 matches) and the
    * phone pattern only catches the 555- exchange. A PII SCAN should
    * over-flag rather than under-flag — precision is the downstream
    * reviewer's job — and parity holds because the oracle replays the
    * SAME pattern text in DuckDB.
    */
  private[queries] val PiiEmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[queries] val PiiPhoneRe = "\\b555-[0-9]{4}\\b"
  private[queries] val PiiIpRe =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Deterministic PII injection for x120 (the corpus is PII-free):
    * docs gain an email (doc_id % 7 = 0), a 555 phone (% 11 = 0)
    * and/or an IPv4 (% 5 = 0), each a pure integer function of doc_id
    * replayed verbatim by [[piiInjectCte]] — the injectNonAscii
    * discipline.
    */
  private[queries] def injectPii(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(pmod(col("doc_id"), lit(7L)) === 0,
        concat(lit(" reach user"), col("doc_id").cast("string"),
          lit("@mail.example.org"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11L)) === 0,
        concat(lit(" call 555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5L)) === 0,
        concat(lit(" from 10."),
          pmod(col("doc_id"), lit(256L)).cast("string"), lit("."),
          pmod(col("doc_id") * 7L, lit(256L)).cast("string"), lit("."),
          pmod(col("doc_id"), lit(100L)).cast("string")))
        .otherwise(lit(""))))

  /** x120's detection + redaction over an (injected) documents frame —
    * extracted so the regex semantics (multi-hit docs, boundary
    * behavior, redacted lengths) are unit-testable on crafted texts
    * (Round14OpsSpec). Pure scan-side expressions; no shuffle.
    */
  private[graft] def piiScan(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(PiiEmailRe), lit(0)))
          .cast("bigint").as("n_email"),
        size(regexp_extract_all(col("text"), lit(PiiPhoneRe), lit(0)))
          .cast("bigint").as("n_phone"),
        size(regexp_extract_all(col("text"), lit(PiiIpRe), lit(0)))
          .cast("bigint").as("n_ip"),
        length(col("text")).cast("bigint").as("raw_len"),
        length(regexp_replace(regexp_replace(regexp_replace(col("text"),
            PiiEmailRe, "<PII>"), PiiPhoneRe, "<PII>"), PiiIpRe, "<PII>"))
          .cast("bigint").as("clean_len"))
      .withColumn("n_pii", col("n_email") + col("n_phone") + col("n_ip"))

  /** x121's cross-document boilerplate readout — extracted so the df
    * threshold boundary (df = minDf−1 vs minDf) is unit-testable on a
    * crafted corpus (Round14OpsSpec). md5 fingerprints on the wire.
    */
  private[graft] def boilerplateNgrams(docs: org.apache.spark.sql.DataFrame,
                                       minDf: Int = 4)
      : org.apache.spark.sql.DataFrame = {
    val grid = 1048576L
    val pairs = graft.Caches.persistOnce(
      Dedup.shingles(docs, "text", "doc_id")
        .select(col("doc_id"), explode(col("shingles")).as("s"))
        .select(col("doc_id"), md5(col("s")).as("f")))
    val dfreq = pairs.groupBy("f").agg(count(lit(1)).as("df"))
    pairs.join(dfreq, "f")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_q",
        call_function("div", col("n_boiler") * grid,
          greatest(col("n_shingles"), lit(1L))))
      .orderBy("doc_id")
  }

  /** x122's per-source vocabulary-concentration readout — extracted so
    * the inclusive-crossing coverage ranks (cum·2 ≥ total, cum·10 ≥
    * 9·total) and tie handling are unit-testable on crafted frames
    * (Round15OpsSpec). See the x122 entry for the scale notes.
    */
  private[graft] def vocabConcentration(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col("source"),
      explode(split(lower(col("text")), "\\s+")).as("token"))
    val cnts = tok.groupBy("source", "token")
      .agg(count(lit(1)).as("cnt"))
    val wOrd = Window.partitionBy("source")
      .orderBy(col("cnt").desc, col("token"))
    val wAll = Window.partitionBy("source")
    cnts
      .withColumn("r", row_number().over(wOrd))
      .withColumn("cum", sum(col("cnt")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total_tokens", sum(col("cnt")).over(wAll))
      .withColumn("vocab", count(lit(1)).over(wAll))
      .groupBy(col("source"), col("total_tokens"), col("vocab"))
      .agg(
        min(when(col("cum") * 2 >= col("total_tokens"), col("r")))
          .as("r50"),
        min(when(col("cum") * 10 >= col("total_tokens") * 9, col("r")))
          .as("r90"),
        max(when(col("r") === 1, col("cnt"))).as("top_cnt"))
      .orderBy("source")
  }

  /** x123's token-distribution chi-square drift between the doc_id
    * parity slices — extracted so the contribution arithmetic (fixed
    * double operation order, 2^-20 grid) is unit-testable on crafted
    * frames (Round15OpsSpec). See the x123 entry for the scale notes.
    */
  private[graft] def tokenChisq(docs: org.apache.spark.sql.DataFrame,
                                topV: Int = 200, topK: Int = 20)
      : org.apache.spark.sql.DataFrame = {
    val grid = 1048576L
    val tok = docs
      .select((col("doc_id") % 2 === 0).cast("int").as("ina"),
        explode(split(lower(col("text")), "\\s+")).as("token"))
    val cnts = tok.groupBy("token")
      .agg(sum(col("ina")).as("n_a"), sum(lit(1) - col("ina")).as("n_b"))
    // persistOnce: the contributions AND the slice totals both read the
    // topV-row cut — uncached, each consumer re-runs the corpus scan +
    // token rollup + TopK (measured as 2 hash exchanges in the plan);
    // the pinned entry is topV rows.
    val vocab = graft.Caches.persistOnce(cnts
      .orderBy((col("n_a") + col("n_b")).desc, col("token"))
      .limit(topV))
    val tot = vocab.agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
    val ea = col("t_a").cast("double") *
      (col("n_a") + col("n_b")).cast("double") /
      (col("t_a") + col("t_b")).cast("double")
    val eb = col("t_b").cast("double") *
      (col("n_a") + col("n_b")).cast("double") /
      (col("t_a") + col("t_b")).cast("double")
    val da = col("n_a").cast("double") - ea
    val db = col("n_b").cast("double") - eb
    // Degenerate-slice guard: if one parity slice has zero mass in the
    // topV cut (t_a or t_b = 0), e = 0 and d = 0 too, so the chi-square
    // convention is a 0 contribution — but 0/0 is NaN, and Spark's
    // floor(double)→long maps NaN to 0 while DuckDB keeps NaN, so
    // unguarded the engines would diverge in value AND sort order.
    // Mirrored in the x123 oracle's CASE (lockstep by construction).
    val termA = when(ea === 0d, 0d).otherwise(da * da / ea)
    val termB = when(eb === 0d, 0d).otherwise(db * db / eb)
    vocab.crossJoin(broadcast(tot))
      .withColumn("chisq_q",
        floor((termA + termB) * grid + lit(0.5)) / grid)
      .select(col("token"), col("n_a"), col("n_b"), col("chisq_q"))
      .orderBy(col("chisq_q").desc, col("token"))
      .limit(topK)
  }

  /** x124's per-source dedup accounting over a docs frame and a
    * (doc_id, canonical_id) component-label frame — extracted so the
    * disjoint kept/removed-exact/removed-near convention and the
    * short-doc exact-dup edge (an unshingleable copy stays kept) are
    * unit-testable on crafted frames (Round15OpsSpec). See the x124
    * entry for the scale notes.
    */
  private[graft] def dedupAudit(docs: org.apache.spark.sql.DataFrame,
                                canon: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hx = docs
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("first_id"))
    docs.select(col("doc_id"), col("source"),
        sha2(col("text"), 256).as("h"))
      .join(hx, "h")
      .join(canon, "doc_id")
      .select(col("source"),
        (col("doc_id") === col("canonical_id")).cast("long").as("kept"),
        (col("doc_id") > col("first_id")).cast("long").as("isx"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        sum(when(col("kept") === 0 && col("isx") === 1, 1L)
          .otherwise(0L)).as("n_removed_exact"),
        sum(when(col("kept") === 0 && col("isx") === 0, 1L)
          .otherwise(0L)).as("n_removed_near"))
      .orderBy("source")
  }

  /** x130's token-weighted dedup savings over a docs frame and a
    * (doc_id, canonical_id) component-label frame — extracted so the
    * kept/saved token split and the truncating basis-point division
    * are unit-testable on crafted frames (Round16OpsSpec). See the
    * x130 entry for the scale notes.
    */
  private[graft] def dedupTokenSavings(docs: org.apache.spark.sql.DataFrame,
                                       canon: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("source"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .join(canon, "doc_id")
      .select(col("source"), col("n_tokens"),
        (col("doc_id") === col("canonical_id")).cast("long").as("kept"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(when(col("kept") === 1, col("n_tokens")).otherwise(0L))
          .as("kept_tokens"),
        sum(when(col("kept") === 0, col("n_tokens")).otherwise(0L))
          .as("saved_tokens"))
      .withColumn("saved_bp", call_function("div",
        col("saved_tokens") * 10000, greatest(col("sum_tokens"), lit(1L))))
      .orderBy("source")

  /** x131's per-source language-margin rollup over x07's classifier —
    * extracted so the margin rule (best − second via the sorted hit
    * array), the und/ambiguous split and the strict ≤ 1 boundary are
    * unit-testable on crafted frames (Round16OpsSpec).
    */
  private[graft] def langMargin(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val scored = graft.operators.TextAnalysis.langId(docs, "text")
    val arr = sort_array(array(col("en_hits"), col("de_hits"),
      col("es_hits"), col("fr_hits")), asc = false)
    scored
      .withColumn("best", element_at(arr, 1))
      .withColumn("margin", (element_at(arr, 1) - element_at(arr, 2))
        .cast("long"))
      .withColumn("cls",
        when(col("best") === 0, lit("und"))
          .when(col("margin") <= 1, lit("ambiguous"))
          .otherwise(lit("confident")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cls") === "und", 1L).otherwise(0L)).as("n_und"),
        sum(when(col("cls") === "ambiguous", 1L).otherwise(0L))
          .as("n_ambiguous"),
        sum(when(col("cls") === "confident", 1L).otherwise(0L))
          .as("n_confident"),
        sum(col("margin")).as("sum_margin"))
      .orderBy("source")
  }

  /** x132's per-source survivorship cross-tab over a docs frame and a
    * (doc_id, canonical_id) component-label frame — extracted so the
    * 2×2 cell accounting (kept/removed × ok/low) is unit-testable on
    * crafted frames (Round16OpsSpec). Quality is x08's composite via
    * [[graft.operators.TextAnalysis.qualityScore]] — one flag
    * implementation on the Spark side, one CTE template on the oracle
    * side (lockstep by construction on both).
    */
  private[graft] def dedupQualityBias(docs: org.apache.spark.sql.DataFrame,
                                      canon: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.operators.TextAnalysis.qualityScore(docs, "text")
      .select(col("doc_id"), col("source"), col("quality_ok"))
      .join(canon, "doc_id")
      .select(col("source"), col("quality_ok"),
        (col("doc_id") === col("canonical_id")).cast("long").as("kept"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept") === 1 && col("quality_ok") === 1, 1L)
          .otherwise(0L)).as("kept_ok"),
        sum(when(col("kept") === 1 && col("quality_ok") === 0, 1L)
          .otherwise(0L)).as("kept_low"),
        sum(when(col("kept") === 0 && col("quality_ok") === 1, 1L)
          .otherwise(0L)).as("removed_ok"),
        sum(when(col("kept") === 0 && col("quality_ok") === 0, 1L)
          .otherwise(0L)).as("removed_low"))
      .orderBy("source")

  /** x125's per-source Spearman ρ between token count and distinct
    * token count — extracted so the row_number-tiebreak rank
    * convention, the single-doc den fence, and the exact integer ρ_q
    * are unit-testable on crafted frames (Round15OpsSpec). See the
    * x125 entry for the scale notes.
    */
  private[graft] def spearmanLengthVocab(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val grid = 1048576L
    val t = docs.select(col("doc_id"), col("source"),
        split(lower(col("text")), "\\s+").as("ws"))
      .select(col("doc_id"), col("source"),
        size(col("ws")).as("n_words"),
        size(array_distinct(col("ws"))).as("n_distinct"))
    val w1 = Window.partitionBy("source")
      .orderBy(col("n_words"), col("doc_id"))
    val w2 = Window.partitionBy("source")
      .orderBy(col("n_distinct"), col("doc_id"))
    t.withColumn("r1", row_number().over(w1))
      .withColumn("r2", row_number().over(w2))
      .withColumn("d", (col("r1") - col("r2")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("d") * col("d")).as("sum_d2"))
      .withColumn("den",
        col("n_docs") * (col("n_docs") * col("n_docs") - 1))
      .withColumn("rho_q", call_function("div",
        (col("den") - lit(6L) * col("sum_d2")) * grid,
        greatest(col("den"), lit(1L))))
      .select(col("source"), col("n_docs"), col("sum_d2"), col("rho_q"))
      .orderBy("source")
  }

  /** x126's per-source tokenizer-economics rollup under a given merge
    * table — extracted so the exact rollup and the truncating ratio
    * are unit-testable with a crafted merge list (Round15OpsSpec); the
    * x126 entry passes the session-memoized corpus-learned merges.
    */
  private[graft] def bpeCompression(docs: org.apache.spark.sql.DataFrame,
                                    merges: Seq[(String, String)])
      : org.apache.spark.sql.DataFrame = {
    val grid = 1048576L
    TextAnalysis.bpeEncodeWith(docs, "text", "doc_id", merges)
      .join(docs.select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        sum(col("n_merged").cast("long")).as("total_merged"))
      .withColumn("chars_per_token_q", call_function("div",
        col("total_chars") * grid, greatest(col("total_tokens"), lit(1L))))
      .orderBy("source")
  }

  /** x127's estimator-calibration histogram over the banded candidate
    * set — extracted so the identical-doc (bucket 0, neither over nor
    * under) and zero-overlap edge semantics are certifiable on crafted
    * frames (Round15OpsSpec). See the x127 entry for the scale notes.
    */
  private[graft] def minhashCalibration(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cand = Dedup.minhashBandPairs(docs, "text", "doc_id")
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id")
    val sets = Dedup.shingles(docs, "text", "doc_id")
    val lanes = (0 until 16).map(i =>
      when(element_at(col("s1"), i + 1) === element_at(col("s2"), i + 1),
        1L).otherwise(0L)).reduce(_ + _)
    cand
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("s1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("s2")), "d2")
      .join(sets.select(col("doc_id").as("d1"),
        col("shingles").as("sh1")), "d1")
      .join(sets.select(col("doc_id").as("d2"),
        col("shingles").as("sh2")), "d2")
      .select(lanes.as("lanes"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long")
          .as("inter"),
        (size(col("sh1")).cast("long") + size(col("sh2")).cast("long"))
          .as("szsum"))
      .withColumn("uni", col("szsum") - col("inter"))
      .withColumn("err_bucket", call_function("div",
        abs(col("lanes") * col("uni") - lit(16L) * col("inter")),
        col("uni")))
      .groupBy("err_bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("lanes") * col("uni") > lit(16L) * col("inter"), 1L)
          .otherwise(0L)).as("n_over"),
        sum(when(col("lanes") * col("uni") < lit(16L) * col("inter"), 1L)
          .otherwise(0L)).as("n_under"))
      .orderBy("err_bucket")
  }

  /** The SQL side of [[injectPii]] — a CTE named `pii` over
    * `documents`. */
  /** x128/x129's deterministic structure injection (the synthetic
    * corpus carries no organic code or digits — the injectPii
    * discipline): (doc_id % 6 = 1) docs gain a code block, (doc_id %
    * 9 = 4) docs a digit run; doc_id ≡ 13 (mod 18) carries both. Each
    * a pure integer function of doc_id, replayed verbatim by
    * [[structuredInjectCte]].
    */
  private[graft] def injectStructured(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(pmod(col("doc_id"), lit(6L)) === 1,
        concat(lit(" for (i = 0; i < "),
          pmod(col("doc_id"), lit(64L)).cast("string"),
          lit("; i++) { x[i] = x[i] + 1; }"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(9L)) === 4,
        concat(lit(" 12 345 "),
          pmod(col("doc_id"), lit(1000L)).cast("string"),
          lit(" 6789 0 42 7 88 901 23456"))).otherwise(lit(""))))

  /** [[injectStructured]] replayed as a DuckDB CTE named `inj`. */
  private[queries] val structuredInjectCte: String =
    """inj AS (SELECT doc_id, source, text
         || CASE WHEN doc_id % 6 = 1 THEN ' for (i = 0; i < '
              || CAST(doc_id % 64 AS VARCHAR)
              || '; i++) { x[i] = x[i] + 1; }'
            ELSE '' END
         || CASE WHEN doc_id % 9 = 4 THEN ' 12 345 '
              || CAST(doc_id % 1000 AS VARCHAR)
              || ' 6789 0 42 7 88 901 23456'
            ELSE '' END AS text
       FROM documents)"""

  /** Structural characters whose density flags a doc as code (x128). */
  private[graft] val CodeSymbolRe = "[{}();=\\[\\]<>]"

  /** x128's per-source code-detection rollup — extracted so the 2%
    * symbol-density boundary (count·50 > chars, strict) and the regex
    * char class are unit-testable on crafted frames (Round16OpsSpec).
    */
  private[graft] def codeDetect(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = col("text")
    docs.select(col("source"),
        length(t).cast("long").as("n_chars"),
        (length(t) - length(regexp_replace(t, CodeSymbolRe, "")))
          .cast("long").as("n_code_chars"))
      .withColumn("is_code",
        (col("n_code_chars") * 50 > col("n_chars")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_code")).as("n_code_docs"),
        sum(col("n_code_chars")).as("sum_code_chars"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")
  }

  /** x129's per-source numeric-density rollup — extracted so the 5%
    * all-digit-token boundary (count·20 > tokens, strict) and the
    * full-match token rule ("0;" is not numeric) are unit-testable on
    * crafted frames (Round16OpsSpec).
    */
  private[graft] def numericDensity(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ws = split(lower(col("text")), "\\s+")
    docs.select(col("source"),
        size(ws).cast("long").as("n_tokens"),
        size(filter(ws, w => w.rlike("^[0-9]+$"))).cast("long")
          .as("n_numeric_tokens"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("long").as("n_digit_chars"))
      .withColumn("is_numeric_heavy",
        (col("n_numeric_tokens") * 20 > col("n_tokens")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_numeric_heavy")).as("n_numeric_docs"),
        sum(col("n_numeric_tokens")).as("sum_numeric_tokens"),
        sum(col("n_digit_chars")).as("sum_digit_chars"),
        sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("source")
  }

  /** x08's quality metrics as a PREFIXABLE CTE template ending in
    * `<p>m(doc_id, n_tokens, mean_token_len, punct_ratio,
    * stopword_ratio)` — instantiated with "" by x08 and with "q" by
    * x132 (whose oracle also mounts the closure CTEs, which own the
    * bare `w` name). One template ⇒ the quality arithmetic cannot
    * drift between consumers.
    */
  private[queries] def qualityMetricCtes(p: String): String =
    s"""${p}w AS (
           SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents),
         ${p}m AS (
           SELECT doc_id,
             CAST(len(ws) AS INTEGER) AS n_tokens,
             CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(ws) AS mean_token_len,
             CASE WHEN length(text) = 0 THEN NULL
                  ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                       / length(text) END AS punct_ratio,
             CAST(len(list_filter(ws, t -> list_contains(['the','a','of','and','is','to','in'], t))) AS DOUBLE)
               / len(ws) AS stopword_ratio
           FROM ${p}w)"""

  /** x08/x132's quality gate over a [[qualityMetricCtes]] `<p>m` row. */
  private[queries] val qualityOkExpr: String =
    """CASE WHEN n_tokens BETWEEN 10 AND 100000 AND punct_ratio < 0.3
                THEN 1 ELSE 0 END"""

  /** x07's language scoring as a reusable CTE block ending in
    * `scored(doc_id, lang, source, en/de/es/fr_hits)` — shared
    * verbatim by x07 and x131 so the hit arithmetic cannot drift (the
    * neardupFlagCtes discipline).
    */
  private[queries] val langScoredCtes: String =
    """w AS (
           SELECT doc_id, lang, source,
             regexp_split_to_array(lower(text), '\s+') AS ws FROM documents),
         scored AS (
           SELECT doc_id, lang, source,
             CAST(len(list_filter(ws, t -> list_contains(['the','a','of','and','is','to','in'], t))) AS INTEGER) AS en_hits,
             CAST(len(list_filter(ws, t -> list_contains(['der','die','das','und','ist','ein'], t))) AS INTEGER) AS de_hits,
             CAST(len(list_filter(ws, t -> list_contains(['el','la','de','y','es','un'], t))) AS INTEGER) AS es_hits,
             CAST(len(list_filter(ws, t -> list_contains(['le','la','de','et','est','un'], t))) AS INTEGER) AS fr_hits
           FROM w)"""

  private[queries] val piiInjectCte: String =
    """pii AS (SELECT doc_id, source, text
         || CASE WHEN doc_id % 7 = 0 THEN ' reach user'
              || CAST(doc_id AS VARCHAR) || '@mail.example.org'
            ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' call 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' from 10.'
              || CAST(doc_id % 256 AS VARCHAR) || '.'
              || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'
              || CAST(doc_id % 100 AS VARCHAR)
            ELSE '' END AS text
       FROM documents)"""

  /** 31-powers list literal shared by the CDC oracle fragments. */
  private[queries] val cdcPowList: String =
    "[1, 31, 961, 29791, 923521, 28629151, 887503681, 27512614111]"

  /** CDC boundary CTE block over a CTE named `inj` with a `text`
    * column: `b0` carries inj's columns plus `bnds` — the CHARACTER
    * positions whose byte-window hash hits the mod-64 mask, the exact
    * dual of [[graft.functions.CdcCharHashes]] + the mask filter.
    * ASCII rows take the historical codepoint closed form (bytes =
    * codepoints); multi-byte rows locate char ends via the UTF-8
    * continuation mask over hex(encode(text)) and evaluate the same
    * polynomial on byte values — probe-verified equal to the Spark
    * expression on random multilingual strings. The inner CASE exists
    * because DuckDB's vectorized AND does not short-circuit (substr at
    * byte < 1 would throw on a bare conjunction).
    */
  private[queries] val cdcBoundaryCtes: String =
    s"""hb AS (SELECT *, hex(encode(text)) AS hx, strlen(text) AS nb
           FROM inj),
       ce AS (SELECT *, CASE WHEN nb = length(text)
                THEN CAST([] AS BIGINT[])
                ELSE list_filter(range(1, nb + 1), i ->
                  CASE WHEN i = nb THEN TRUE
                       ELSE NOT (CAST(concat('0x', substr(hx, 2*i + 1, 2))
                                 AS BIGINT) BETWEEN 128 AND 191) END)
                END AS cends
              FROM hb),
       b0 AS (SELECT *, CASE WHEN nb = length(text) THEN
                list_filter(range(8, length(text) + 1), p ->
                  list_sum(list_transform(range(0, 8), j ->
                    unicode(text[p - j]) * $cdcPowList[j + 1])) % 64 = 0)
              ELSE
                list_filter(range(1, len(cends) + 1), q ->
                  CASE WHEN cends[q] >= 8 THEN
                    list_sum(list_transform(range(0, 8), j ->
                      CAST(concat('0x', substr(hx, 2*(cends[q] - j) - 1, 2))
                        AS BIGINT) * $cdcPowList[j + 1])) % 64 = 0
                  ELSE FALSE END)
              END AS bnds FROM ce)"""

  /** Symmetric transitive-closure CTE block over a CTE named `pairs`
    * with (d1, d2) columns — the SQL analog of
    * [[Dedup.connectedComponentsKeepOne]]'s reachability, shared by the
    * x14/x21/x22 oracles so the closure semantics cannot drift between
    * them. Callers append it after their own CTEs (requires a WITH
    * RECURSIVE prelude).
    */
  private val closureCtes: String =
    """edges AS (
         SELECT d1 AS a, d2 AS b FROM pairs
         UNION SELECT d2, d1 FROM pairs),
       reach AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.a, eg.b FROM reach r JOIN edges eg ON r.b = eg.a)"""

  /** Banded-jaccard near-dup pairs as CTEs (`w`/`sh`/`sizes`/`pairs`) —
    * the x02 tokenization + threshold, shared by the x14 and x59
    * oracles (append [[closureCtes]] for component labels).
    */
  private val jaccardPairsCtes: String =
    """w AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws FROM documents),
       sh AS (
         SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         FROM w WHERE len(ws) >= 3),
       sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       pairs AS (
         SELECT d1, d2,
           CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) AS jacc
         FROM (
           SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) i
         JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
         WHERE CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) >= 0.2)"""

  /** Component label of `documents d`: reachable-minimum, self for
    * singletons — evaluated against [[closureCtes]]'s `reach`. */
  private val canonicalIdExpr: String =
    """coalesce(least((SELECT min(r.b) FROM reach r WHERE r.a = d.doc_id), d.doc_id),
                d.doc_id)"""

  /** Keep-one predicate: the row survives iff its id is its component's
    * minimum (reachable-minimum, self for singletons). */
  private def canonicalKeep(idExpr: String): String =
    s"""coalesce(least((SELECT min(r.b) FROM reach r WHERE r.a = $idExpr), $idExpr),
                $idExpr) = $idExpr"""

  /** Grid-quantized per-label centroid aggregation (the exact
    * arithmetic of [[Similarity.labelCentroids]]), parameterized on the
    * FROM clause — shared by the x13 and x22 oracles.
    */
  private def centroidSql(from: String): String =
    s"""SELECT label, CAST(pos AS INTEGER) AS pos,
         floor(sum(floor(v * 1048576 + 0.5) / 1048576) / count(*) * 1000000 + 0.5)
           / 1000000 AS centroid_val
       FROM (
         SELECT label, unnest(range(0, len(embedding))) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS v
         FROM $from)
       GROUP BY label, pos ORDER BY label, pos"""

  /** The floor-rounded cosine between two FLOAT[] columns in DuckDB —
    * the exact arithmetic of `Exact.round6(cosineSim(...))`, shared by
    * the x15 and x22 oracles.
    */
  private def cosineRounded(a: String, b: String): String =
    s"""floor(
         list_sum(list_transform(range(1, len($a)+1),
           i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, len($a)+1),
              i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(range(1, len($b)+1),
              i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))
         * 1000000 + 0.5) / 1000000"""

  /** x17's oracle: the sampled-codebook IVF replayed in DuckDB — the
    * staged murmur3 hashLong CTEs pick the same 16 hash-min codebook
    * vectors, then assignment (rank-1 rounded cosine per candidate),
    * probing (top-4 cells per query), and in-cell re-ranking mirror the
    * operator's windows exactly.
    */
  private lazy val ivfSampledSql: String = {
    val (hashCtes, huCte) = Murmur3Sql.hashLongCtes("cb0", Seq("cell", "centroid"), "ch")
    s"""WITH cb0 AS (SELECT vec_id AS cell, embedding AS centroid, vec_id AS v FROM embeddings),
       $hashCtes
       cb AS (SELECT cell, centroid FROM (
                SELECT cell, centroid, row_number() OVER (ORDER BY hu, cell) AS rn
                FROM $huCte)
              WHERE rn <= 16),
       asg AS (SELECT cell, cand_id, cvec FROM (
                SELECT cb.cell, c.vec_id AS cand_id, c.embedding AS cvec,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY ${cosineRounded("c.embedding", "cb.centroid")} DESC, cb.cell) AS rk
                FROM embeddings c, cb)
              WHERE rk = 1),
       prb AS (SELECT query_id, qv, cell FROM (
                SELECT q.vec_id AS query_id, q.embedding AS qv, cb.cell,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY ${cosineRounded("q.embedding", "cb.centroid")} DESC, cb.cell) AS rk
                FROM embeddings q, cb WHERE q.vec_id < 5)
              WHERE rk <= 4),
       scored AS (SELECT p.query_id, a.cand_id,
                   ${cosineRounded("p.qv", "a.cvec")} AS cosine
                  FROM prb p JOIN asg a USING (cell)
                  WHERE p.query_id <> a.cand_id)
       SELECT query_id, rank, cand_id, cosine FROM (
         SELECT query_id, cand_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank
         FROM scored)
       WHERE rank <= 10 ORDER BY query_id, rank"""
  }

  /** x57's oracle: SemDeDup replayed — x17's hash-min codebook and
    * rank-1 assignment CTEs, then the within-cell domination pass as a
    * self-join + min aggregate. The 0.7 threshold compares the same
    * 1e-6-floored cosine double in both engines, so the decision is
    * bit-identical.
    */
  private lazy val semDedupSql: String = {
    val (hashCtes, huCte) = Murmur3Sql.hashLongCtes("cb0", Seq("cell", "centroid"), "ch")
    s"""WITH cb0 AS (SELECT vec_id AS cell, embedding AS centroid, vec_id AS v FROM embeddings),
       $hashCtes
       cb AS (SELECT cell, centroid FROM (
                SELECT cell, centroid, row_number() OVER (ORDER BY hu, cell) AS rn
                FROM $huCte)
              WHERE rn <= 16),
       asg AS (SELECT cell, cand_id, cvec FROM (
                SELECT cb.cell, c.vec_id AS cand_id, c.embedding AS cvec,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY ${cosineRounded("c.embedding", "cb.centroid")} DESC, cb.cell) AS rk
                FROM embeddings c, cb)
              WHERE rk = 1),
       dom AS (SELECT b.cand_id AS d2, min(a.cand_id) AS dup_of
               FROM asg a JOIN asg b USING (cell)
               WHERE a.cand_id < b.cand_id
                 AND ${cosineRounded("a.cvec", "b.cvec")} >= 0.7
               GROUP BY b.cand_id)
       SELECT asg.cand_id AS vec_id, asg.cell, dom.dup_of,
              dom.dup_of IS NULL AS kept
       FROM asg LEFT JOIN dom ON asg.cand_id = dom.d2
       ORDER BY vec_id"""
  }

  /** Duplicate-substring span CTEs (`w`…`i`): positioned 5-grams (the
    * x02 tokenization: regexp_split_to_array on \s+ after lower),
    * occurrence count ≥ 2, then the gaps-and-islands merge as lag/sum
    * windows. All integer/string ops — bit-exact by construction.
    * Shared prelude of the x58 (span report) and x61 (removal) oracles.
    */
  private val dupSpanCtes =
    """w AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws
         FROM documents),
       gp AS (
         SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS pos
         FROM w WHERE len(ws) >= 5),
       g AS (
         SELECT doc_id, CAST(pos AS INTEGER) AS pos,
           ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2] || ' ' ||
             ws[pos+3] || ' ' || ws[pos+4] AS gram
         FROM gp),
       hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
       d AS (SELECT g.doc_id, g.pos FROM g JOIN hot USING (gram)),
       m AS (
         SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  IS NULL
                  OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       + 5
                THEN 1 ELSE 0 END AS brk
         FROM d),
       i AS (
         SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         FROM m)"""

  private val duplicateSpansSql =
    s"""WITH $dupSpanCtes
       SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
         CAST(max(pos) + 4 AS INTEGER) AS span_end,
         CAST(max(pos) + 4 - min(pos) + 1 AS INTEGER) AS span_tokens,
         count(*) AS n_dup_grams
       FROM i GROUP BY doc_id, island
       ORDER BY doc_id, span_start"""

  /** x61's oracle: span removal — the shared span CTEs, then token
    * anti-coverage (NOT EXISTS range probe) and the ordered string_agg
    * reassembly with the x38 md5-signature convention.
    */
  private val removeSpansSql =
    s"""WITH $dupSpanCtes,
       spans AS (
         SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
         FROM i GROUP BY doc_id, island),
       toks AS (
         SELECT doc_id, CAST(pos AS INTEGER) AS p, ws[pos] AS tok
         FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos
               FROM w)),
       kept AS (
         SELECT t.doc_id, t.p, t.tok FROM toks t
         WHERE NOT EXISTS (SELECT 1 FROM spans s
           WHERE s.doc_id = t.doc_id AND t.p >= s.s AND t.p <= s.e)),
       ka AS (
         SELECT doc_id, count(*) AS n_kept,
           string_agg(tok, ' ' ORDER BY p) AS clean_text
         FROM kept GROUP BY doc_id),
       tot AS (SELECT doc_id, len(ws) AS n_tokens FROM w)
       SELECT tot.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(n_tokens - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
         md5(coalesce(clean_text, '')) AS clean_sig
       FROM tot LEFT JOIN ka USING (doc_id)
       ORDER BY doc_id"""

  /** x60's oracle: CCNet bucketing replayed — x07's stopword langid,
    * x42's trigram counts, then the integer-exact bucket/cutoff/CASE
    * chain (BIGINT floor-division and 3·cum ≥ k·n comparisons only —
    * no doubles anywhere).
    */
  private val perplexityBucketsSql =
    """WITH w AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws FROM documents),
       lang AS (
         SELECT doc_id,
           CASE WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0 THEN 'und'
                WHEN en_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'en'
                WHEN de_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'de'
                WHEN es_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'es'
                ELSE 'fr' END AS pred_lang
         FROM (
           SELECT doc_id,
             len(list_filter(ws, t -> list_contains(['the','a','of','and','is','to','in'], t))) AS en_hits,
             len(list_filter(ws, t -> list_contains(['der','die','das','und','ist','ein'], t))) AS de_hits,
             len(list_filter(ws, t -> list_contains(['el','la','de','y','es','un'], t))) AS es_hits,
             len(list_filter(ws, t -> list_contains(['le','la','de','et','est','un'], t))) AS fr_hits
           FROM w)),
       d AS (SELECT doc_id, substr(lower(text), 1, 128) AS p FROM documents),
       t AS (SELECT doc_id,
               unnest(list_transform(range(1, length(p) - 1), i -> substr(p, i, 3))) AS tri
             FROM d WHERE length(p) >= 3),
       f AS (SELECT tri, count(*) AS freq FROM t GROUP BY tri),
       fam AS (SELECT doc_id, count(*) AS n_tri, sum(freq) AS sum_freq
               FROM t JOIN f USING (tri) GROUP BY doc_id),
       scored AS (
         SELECT fam.doc_id, lang.pred_lang,
           CAST(sum_freq // (n_tri * 16) AS BIGINT) AS fam_bucket
         FROM fam JOIN lang ON fam.doc_id = lang.doc_id),
       cum AS (
         SELECT pred_lang, fam_bucket, c,
           sum(c) OVER (PARTITION BY pred_lang ORDER BY fam_bucket) AS cum,
           sum(c) OVER (PARTITION BY pred_lang) AS n
         FROM (SELECT pred_lang, fam_bucket, count(*) AS c
               FROM scored GROUP BY pred_lang, fam_bucket)),
       cuts AS (
         SELECT pred_lang, t1, t2 FROM
           (SELECT pred_lang, min(fam_bucket) AS t1 FROM cum
            WHERE cum * 3 >= n GROUP BY pred_lang)
           JOIN
           (SELECT pred_lang, min(fam_bucket) AS t2 FROM cum
            WHERE cum * 3 >= n * 2 GROUP BY pred_lang)
           USING (pred_lang))
       SELECT s.doc_id, s.pred_lang, s.fam_bucket,
         CASE WHEN s.fam_bucket <= t1 THEN 'tail'
              WHEN s.fam_bucket <= t2 THEN 'middle'
              ELSE 'head' END AS ppl_bucket
       FROM scored s JOIN cuts USING (pred_lang)
       ORDER BY doc_id"""

  /** x64's oracle: per-shard next-fit-decreasing replayed — murmur3
    * shard CTEs, (len desc, id) row numbers, then the sequential greedy
    * as a recursive CTE advancing one rank per step in every shard in
    * parallel (depth = max docs/shard). Integer-only state.
    */
  private lazy val packBinsSql: String = {
    val (hashCtes, huCte) =
      Murmur3Sql.hashLongCtes("pb0", Seq("doc_id", "len"), "pbh")
    s"""WITH RECURSIVE pb0 AS (
         SELECT doc_id,
           len(regexp_split_to_array(lower(text), '\\s+')) AS len,
           doc_id AS v
         FROM documents),
       $hashCtes
       s AS (SELECT doc_id, len, CAST(hu % 8 AS INTEGER) AS shard_id
             FROM $huCte),
       ord AS (
         SELECT doc_id, len, shard_id,
           row_number() OVER (PARTITION BY shard_id
             ORDER BY len DESC, doc_id) AS rn
         FROM s),
       pack AS (
         SELECT doc_id, shard_id, len, rn,
           CAST(0 AS BIGINT) AS bin_id, len AS fill
         FROM ord WHERE rn = 1
         UNION ALL
         SELECT o.doc_id, o.shard_id, o.len, o.rn,
           CASE WHEN p.fill + o.len <= 256 THEN p.bin_id
                ELSE p.bin_id + 1 END,
           CASE WHEN p.fill + o.len <= 256 THEN p.fill + o.len
                ELSE o.len END
         FROM pack p JOIN ord o
           ON o.shard_id = p.shard_id AND o.rn = p.rn + 1)
       SELECT doc_id, shard_id, CAST(len AS BIGINT) AS len,
         bin_id, CAST(fill AS BIGINT) AS fill_after
       FROM pack ORDER BY doc_id"""
  }

  /** x62's oracle: int8 quantization replayed — float→double cast,
    * list_max of abs, then the identical mul→div→add→floor chain per
    * element, emitted long (one row per dimension) via lockstep
    * parallel unnests so the harness sorts scalar cells.
    */
  private val int8QuantizeSql =
    """WITH e AS (
         SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
         FROM embeddings),
       m AS (
         SELECT vec_id, vd,
           list_max(list_transform(vd, x -> abs(x))) AS max_abs
         FROM e),
       q AS (
         SELECT vec_id,
           max_abs / 127.0 AS qscale,
           CASE WHEN max_abs = 0
                THEN list_transform(vd, x -> 0)
                ELSE list_transform(vd,
                  x -> CAST(floor(x * 127.0 / max_abs + 0.5) AS INTEGER))
           END AS codes
         FROM m)
       SELECT vec_id, qscale,
         unnest(range(0, len(codes))) AS pos,
         unnest(codes) AS code
       FROM q ORDER BY vec_id, pos"""

  /** x63's oracle: the per-eval-example contamination report — distinct
    * eval shingles (x02 tokenization) left-joined against the distinct
    * corpus shingle set, integer hit counts, single exact division.
    */
  private val evalContaminationSql =
    """WITH w AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws
         FROM documents),
       esh AS (
         SELECT doc_id AS eval_id,
           unnest(list_distinct(list_transform(range(1, len(ws)-1),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         FROM w WHERE doc_id < 20 AND len(ws) >= 3),
       csh AS (
         SELECT DISTINCT s FROM (
           SELECT unnest(list_distinct(list_transform(range(1, len(ws)-1),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
           FROM w WHERE doc_id >= 20 AND len(ws) >= 3)),
       j AS (
         SELECT e.eval_id,
           CASE WHEN c.s IS NULL THEN 0 ELSE 1 END AS hit
         FROM esh e LEFT JOIN csh c ON e.s = c.s)
       SELECT eval_id, CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(hit) AS BIGINT) AS n_hit,
         CAST(sum(hit) AS DOUBLE) / count(*) AS contam_frac,
         sum(hit) = 0 AS clean
       FROM j GROUP BY eval_id ORDER BY eval_id"""

  /** x59's oracle: the x14 component labels (same pair + closure CTEs),
    * then the split decision replayed — staged murmur3 hashLong of the
    * canonical label, unsigned bucket % 100, 80/10/10 case.
    */
  private lazy val clusterSplitSql: String = {
    val (hashCtes, huCte) =
      Murmur3Sql.hashLongCtes("lab", Seq("doc_id", "canonical_id"), "csh")
    s"""WITH RECURSIVE $jaccardPairsCtes,
       $closureCtes,
       lab AS (
         SELECT d.doc_id, $canonicalIdExpr AS canonical_id,
           $canonicalIdExpr AS v
         FROM documents d),
       $hashCtes
       f AS (SELECT doc_id, canonical_id, hu FROM $huCte)
       SELECT doc_id, canonical_id,
         CAST(hu % 100 AS INTEGER) AS split_bucket,
         CASE WHEN hu % 100 < 80 THEN 'train'
              WHEN hu % 100 < 90 THEN 'val' ELSE 'test' END AS split
       FROM f ORDER BY doc_id"""
  }

  /** x43's oracle: product quantization replayed — the same murmur3
    * hash-min codebook sample as x17's, then per-subspace rounded-L2²
    * argmin over double-cast slices (identical IEEE ops in index order
    * on both engines).
    */
  private lazy val pqSql: String = {
    val (m, ks) = (4, 8)
    val w = 16 // 64-dim embeddings / 4 subspaces
    val (hashCtes, huCte) = Murmur3Sql.hashLongCtes("cw0", Seq("code", "cv"), "pq")
    val d2 =
      s"""floor(list_sum(list_transform(range(1, len(s.sv)+1),
           i -> (s.sv[i] - c.csv[i]) * (s.sv[i] - c.csv[i]))) * 1000000 + 0.5) / 1000000"""
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       subs AS (SELECT unnest(range(0, $m)) AS sub),
       sub AS (SELECT vec_id, subs.sub,
                 v[subs.sub * $w + 1 : subs.sub * $w + $w] AS sv
               FROM base, subs),
       cw0 AS (SELECT vec_id AS code, CAST(embedding AS DOUBLE[]) AS cv,
                 vec_id AS v FROM embeddings),
       $hashCtes
       cwk AS (SELECT code, cv FROM (
                SELECT code, cv, row_number() OVER (ORDER BY hu, code) AS rn
                FROM $huCte)
              WHERE rn <= $ks),
       cw AS (SELECT code, subs.sub,
                cv[subs.sub * $w + 1 : subs.sub * $w + $w] AS csv
              FROM cwk, subs),
       scored AS (SELECT s.vec_id, s.sub, c.code, $d2 AS d2r
                  FROM sub s JOIN cw c USING (sub)),
       best AS (SELECT vec_id, sub, code, d2r,
                 row_number() OVER (PARTITION BY vec_id, sub
                   ORDER BY d2r, code) AS rk
                FROM scored)
       SELECT vec_id, CAST(sub AS INTEGER) AS sub, code, d2r AS qerr
       FROM best WHERE rk = 1 ORDER BY vec_id, sub"""
  }

  /** x50's oracle: IVF+PQ replayed end to end — x17's coarse-codebook
    * CTEs (second murmur3 instantiation prefix to avoid collision),
    * x43's per-subspace encoding CTEs, then the query-side LUT on the
    * 2^-20 grid and the ADC group-sum (grid addends sum exactly, so
    * DuckDB's aggregation order cannot diverge from Spark's).
    */
  private lazy val ivfPqSql: String = {
    val (cells, nProbe, kk, m, ks, w) = (16, 4, 10, 4, 8, 16)
    val (ivfCtes, ivfHu) = Murmur3Sql.hashLongCtes("qcb0", Seq("cell", "centroid"), "qch")
    val (pqCtes, pqHu) = Murmur3Sql.hashLongCtes("qcw0", Seq("code", "cv"), "qph")
    val d2r =
      s"""floor(list_sum(list_transform(range(1, len(s.sv)+1),
           i -> (s.sv[i] - c.csv[i]) * (s.sv[i] - c.csv[i]))) * 1000000 + 0.5) / 1000000"""
    val lutd2 =
      s"""floor(list_sum(list_transform(range(1, len(q.qsv)+1),
           i -> (q.qsv[i] - c.csv[i]) * (q.qsv[i] - c.csv[i]))) * 1048576 + 0.5) / 1048576"""
    s"""WITH qcb0 AS (SELECT vec_id AS cell, embedding AS centroid, vec_id AS v FROM embeddings),
       $ivfCtes
       cb AS (SELECT cell, centroid FROM (
                SELECT cell, centroid, row_number() OVER (ORDER BY hu, cell) AS rn
                FROM $ivfHu)
              WHERE rn <= $cells),
       asg AS (SELECT cell, cand_id FROM (
                SELECT cb.cell, c.vec_id AS cand_id,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY ${cosineRounded("c.embedding", "cb.centroid")} DESC, cb.cell) AS rk
                FROM embeddings c, cb)
              WHERE rk = 1),
       prb AS (SELECT query_id, cell FROM (
                SELECT q.vec_id AS query_id, cb.cell,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY ${cosineRounded("q.embedding", "cb.centroid")} DESC, cb.cell) AS rk
                FROM embeddings q, cb WHERE q.vec_id < 5)
              WHERE rk <= $nProbe),
       base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       subs AS (SELECT unnest(range(0, $m)) AS sub),
       sub AS (SELECT vec_id, subs.sub,
                 v[subs.sub * $w + 1 : subs.sub * $w + $w] AS sv
               FROM base, subs),
       qcw0 AS (SELECT vec_id AS code, CAST(embedding AS DOUBLE[]) AS cv,
                  vec_id AS v FROM embeddings),
       $pqCtes
       cwk AS (SELECT code, cv FROM (
                SELECT code, cv, row_number() OVER (ORDER BY hu, code) AS rn
                FROM $pqHu)
              WHERE rn <= $ks),
       cw AS (SELECT code, subs.sub,
                cv[subs.sub * $w + 1 : subs.sub * $w + $w] AS csv
              FROM cwk, subs),
       pscored AS (SELECT s.vec_id, s.sub, c.code, $d2r AS d2r
                   FROM sub s JOIN cw c USING (sub)),
       codes AS (SELECT vec_id AS cand_id, sub, code FROM (
                  SELECT vec_id, sub, code,
                    row_number() OVER (PARTITION BY vec_id, sub
                      ORDER BY d2r, code) AS rk
                  FROM pscored)
                WHERE rk = 1),
       qsub AS (SELECT vec_id AS query_id, subs.sub,
                  v[subs.sub * $w + 1 : subs.sub * $w + $w] AS qsv
                FROM base, subs WHERE vec_id < 5),
       lut AS (SELECT q.query_id, c.sub, c.code, $lutd2 AS lutv
               FROM qsub q JOIN cw c USING (sub)),
       adcs AS (SELECT p.query_id, a.cand_id, sum(l.lutv) AS adc
                FROM prb p JOIN asg a USING (cell)
                JOIN codes kd ON kd.cand_id = a.cand_id
                JOIN lut l ON l.query_id = p.query_id
                  AND l.sub = kd.sub AND l.code = kd.code
                WHERE p.query_id <> a.cand_id
                GROUP BY 1, 2)
       SELECT query_id, rank, cand_id, adc FROM (
         SELECT query_id, cand_id, adc,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY adc, cand_id) AS INTEGER) AS rank
         FROM adcs)
       WHERE rank <= $kk ORDER BY query_id, rank"""
  }

  /** x51's oracle: the UNBLOCKED containment definition — every strict-
    * shorter pair whose boundary-padded normalized text matches — so
    * the gate proves the engine's head-shingle blocking loses no pair.
    */
  private val containmentSql: String =
    """WITH norm AS (
         SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
         FROM documents)
       SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         CAST(len(a.t) AS INTEGER) AS len_in,
         CAST(len(b.t) AS INTEGER) AS len_out
       FROM norm a JOIN norm b
         ON a.doc_id <> b.doc_id AND len(a.t) < len(b.t)
        AND position((' ' || a.t || ' ') IN (' ' || b.t || ' ')) > 0
       WHERE len(string_split(a.t, ' ')) >= 3
       ORDER BY contained_id, container_id"""

  /** x52's oracle: BM25 with the rational Robertson idf and 2^-20-grid
    * term contributions. k1, b and k1+1 are threaded from the SAME
    * Scala doubles via round-trip `Double.toString`, so both engines
    * evaluate identical IEEE constants in identical order.
    */
  private lazy val bm25Sql: String = {
    val (k1, b) = (1.2, 0.75)
    val terms = bm25Terms.map(t => s"'$t'").mkString(", ")
    val (k1s, bs, k1p1) = (k1.toString, b.toString, (k1 + 1).toString)
    s"""WITH base AS (
         SELECT doc_id,
           CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS dl,
           regexp_split_to_array(lower(text), '\\s+') AS ws
         FROM documents),
       stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM base),
       tf AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
              FROM (SELECT doc_id, dl, unnest(ws) AS token FROM base)
              WHERE token IN ($terms) GROUP BY 1, 2, 3),
       dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       contribs AS (
         SELECT t.doc_id,
           floor((s.n_docs - d.df + 0.5) / (d.df + 0.5) * t.tf * $k1p1
             / (t.tf + $k1s * (1.0 - $bs + $bs * t.dl / s.avgdl))
             * 1048576 + 0.5) / 1048576 AS contrib
         FROM tf t JOIN dfreq d USING (token), stats s),
       scored AS (SELECT doc_id, sum(contrib) AS score,
                    CAST(count(*) AS BIGINT) AS n_terms
                  FROM contribs GROUP BY doc_id)
       SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
         n_terms, score
       FROM scored ORDER BY score DESC, doc_id LIMIT 20"""
  }

  /** x53's oracle: the murmur3 shard bucket and the within-shard
    * (hash, id) rank replayed — the whole permutation is integer
    * arithmetic, so the gate proves bit-identical shuffle order.
    */
  private lazy val shuffleShardSql: String = {
    val (ctes, hu) = Murmur3Sql.hashLongCtes("ss0", Seq("doc_id"), "ssh")
    s"""WITH ss0 AS (SELECT doc_id, doc_id AS v FROM documents),
       $ctes
       sh AS (SELECT doc_id, hu FROM $hu)
       SELECT CAST(hu % 8 AS INTEGER) AS shard_id,
         CAST(row_number() OVER (PARTITION BY hu % 8 ORDER BY hu, doc_id) - 1
           AS BIGINT) AS shard_pos,
         doc_id
       FROM sh ORDER BY shard_id, shard_pos"""
  }

  /** x65's oracle: the x53 murmur3 hash order replayed per language —
    * rank within lang by (hu, doc_id), keep rank ≤ 20.
    */
  private lazy val stratifiedTakeSql: String = {
    val (ctes, hu) = Murmur3Sql.hashLongCtes("st0", Seq("doc_id", "lang"), "sth")
    s"""WITH st0 AS (SELECT doc_id, lang, doc_id AS v FROM documents),
       $ctes
       r AS (SELECT lang, doc_id,
               CAST(row_number() OVER (PARTITION BY lang ORDER BY hu, doc_id)
                 AS INTEGER) AS take_rank
             FROM $hu)
       SELECT lang, take_rank, doc_id FROM r
       WHERE take_rank <= 20 ORDER BY lang, take_rank"""
  }

  /** x54's oracle: per-source counts → grid-quantized sqrt shares →
    * the same ((gq/denom)·T)/n left-to-right IEEE chain → integer
    * threshold, then the murmur3 bucket acceptance replayed per doc.
    */
  private lazy val temperatureMixSql: String = {
    val (ctes, hu) = Murmur3Sql.hashLongCtes("tm0", Seq("doc_id", "source"), "tmh")
    s"""WITH tm0 AS (SELECT doc_id, source, doc_id AS v FROM documents),
       $ctes
       b AS (SELECT doc_id, source, hu % 10000 AS bucket FROM $hu),
       counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n_in
                  FROM documents GROUP BY 1),
       g AS (SELECT source, n_in,
               floor(sqrt(CAST(n_in AS DOUBLE)) * 1048576 + 0.5) / 1048576 AS gq
             FROM counts),
       tot AS (SELECT CAST(sum(n_in) AS BIGINT) AS total, sum(gq) AS denom
               FROM g),
       rates AS (SELECT source, n_in,
           CAST(floor(least(gq / denom * floor(CAST(total AS DOUBLE) / 2) / n_in,
             1.0) * 10000 + 0.5) AS BIGINT) AS mix_thr
         FROM g, tot),
       kept AS (SELECT b.source, CAST(count(*) AS BIGINT) AS n_kept
                FROM b JOIN rates USING (source)
                WHERE b.bucket < rates.mix_thr GROUP BY 1)
       SELECT r.source, r.n_in, coalesce(k.n_kept, 0) AS n_kept, r.mix_thr
       FROM rates r LEFT JOIN kept k USING (source)
       ORDER BY r.source"""
  }

  /** x56's oracle: stopword-ratio importance weight (x08's exact
    * integer-division arithmetic), clamp, integer threshold, murmur3
    * bucket acceptance — every per-doc decision replayed.
    */
  private lazy val importanceResampleSql: String = {
    val (ctes, hu) = Murmur3Sql.hashLongCtes("ir0", Seq("doc_id"), "irh")
    s"""WITH ir0 AS (SELECT doc_id, doc_id AS v FROM documents),
       $ctes
       b AS (SELECT doc_id, hu % 10000 AS bucket FROM $hu),
       w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws
             FROM documents),
       r AS (SELECT doc_id,
               CAST(len(list_filter(ws, t -> list_contains(
                 ['the','a','of','and','is','to','in'], t))) AS DOUBLE)
                 / len(ws) AS sr
             FROM w),
       t AS (SELECT doc_id,
               CAST(floor(least(greatest(sr * 2.0, 0.0), 1.0) * 10000 + 0.5)
                 AS BIGINT) AS imp_thr
             FROM r)
       SELECT t.doc_id, t.imp_thr
       FROM t JOIN b USING (doc_id)
       WHERE b.bucket < t.imp_thr
       ORDER BY t.doc_id"""
  }

  /** x55's oracle: the 5 power iterations unrolled as CTE pairs
    * (per-edge grid-quantized contributions → per-node sum → damped
    * grid-quantized rank update); d and 1−d are threaded from the SAME
    * Scala doubles via round-trip `Double.toString`.
    */
  private lazy val pageRankSql: String = {
    val damping = 0.85
    val (d, tele) = (damping.toString, (1.0 - damping).toString)
    val g = "1048576"
    val iters = 5
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
             sum(floor(r.rank / d.outdeg * $g + 0.5) / $g) AS s
           FROM e JOIN r${i - 1} r ON r.node = e.src
           JOIN deg d ON d.src = e.src
           GROUP BY 1),
         r$i AS (SELECT nodes.node,
             floor(($tele / nn.n + $d * coalesce(c$i.s, 0.0)) * $g + 0.5) / $g
               AS rank
           FROM nodes LEFT JOIN c$i ON c$i.node = nodes.node, nn)"""
    }.mkString(",\n")
    s"""WITH e AS (
         SELECT DISTINCT 'domain' || CAST(doc_id % 20 AS VARCHAR) AS src,
                'domain' || CAST((doc_id * doc_id + 7) % 20 AS VARCHAR) AS dst
         FROM documents
         WHERE doc_id % 20 <> (doc_id * doc_id + 7) % 20),
       nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
       r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
       $iterCtes
       SELECT node, rank FROM r$iters ORDER BY node"""
  }

  /** x46's oracle: the murmur3 draw hu(vec_id·4+i) mod n replayed, then
    * the same self-draw filter and partner join.
    */
  private lazy val negSampleSql: String = {
    val (ctes, hc) = Murmur3Sql.hashLongCtes("ngsrc", Seq("vec_id", "label", "i"), "ng")
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       ngsrc AS (SELECT vec_id, label, ii.i AS i, vec_id * 4 + ii.i AS v
                 FROM embeddings, (SELECT unnest(range(0, 4)) AS i) AS ii),
       $ctes
       cand AS (SELECT vec_id, label, i,
                  CAST(hu % (SELECT n FROM nn) AS BIGINT) AS neg_id
                FROM $hc)
       SELECT f.vec_id, CAST(f.i AS INTEGER) AS i, f.neg_id, f.label,
         e.label AS neg_label, f.label <> e.label AS true_negative
       FROM (SELECT * FROM cand WHERE neg_id <> vec_id) f
       JOIN embeddings e ON e.vec_id = f.neg_id
       ORDER BY f.vec_id, f.i"""
  }

  /** x06's oracle: the seeded-sign projection LSH replayed in DuckDB.
    * The ±1 direction literals come from the SAME
    * [[Similarity.srpSigns]] call as the operator; bucketing is
    * floor(dot/norm) — ±1 products of floats are exact in double and
    * both engines sum left-to-right, so buckets match bit-for-bit —
    * then bucket-collision pairs are exact-cosine re-ranked.
    */
  private lazy val srpLshSql: String = {
    val (tables, dim, seed) = (6, 64, 42)
    val signs = Similarity.srpSigns(tables, dim, seed)
    val sumsq =
      """list_sum(list_transform(range(1, len(embedding)+1),
           i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))"""
    def branch(t: Int): String = {
      val lits = signs(t).map(s => if (s > 0) "1.0" else "-1.0").mkString(", ")
      s"""SELECT vec_id, $t AS tbl,
            CAST(floor(list_sum(list_transform(range(1, len(embedding)+1),
              i -> CAST(embedding[i] AS DOUBLE) * ([$lits])[i])) / nm) AS BIGINT) AS bucket
          FROM nz"""
    }
    s"""WITH nrm AS (SELECT vec_id, embedding, sqrt($sumsq) AS nm FROM embeddings),
       nz AS (SELECT * FROM nrm WHERE nm > 0),
       cb AS (${(0 until tables).map(branch).mkString("\n UNION ALL ")}),
       pr AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
              FROM (SELECT * FROM cb WHERE vec_id < 5) q
              JOIN cb c ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id),
       scored AS (SELECT p.query_id, p.cand_id,
                   ${cosineRounded("qe.embedding", "ce.embedding")} AS cosine
                  FROM pr p JOIN embeddings qe ON qe.vec_id = p.query_id
                            JOIN embeddings ce ON ce.vec_id = p.cand_id)
       SELECT query_id, rank, cand_id, cosine FROM (
         SELECT query_id, cand_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank
         FROM scored)
       WHERE rank <= 10 ORDER BY query_id, rank"""
  }

  /** x24's oracle: the stratified hash sample replayed via the shared
    * staged murmur3 hashLong CTEs over doc_id.
    */
  private lazy val hashSampleSql: String = {
    val (ctes, hc) = Murmur3Sql.hashLongCtes("spsrc", Seq("doc_id", "lang"), "sp")
    s"""WITH spsrc AS (SELECT doc_id, lang, doc_id AS v FROM documents),
       $ctes
       b AS (SELECT doc_id, lang, CAST(hu % 100 AS BIGINT) AS samp_bucket FROM $hc)
       SELECT doc_id, lang, samp_bucket FROM b
       WHERE samp_bucket < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
       ORDER BY doc_id"""
  }

  /** Reinterpret an unsigned 64-bit hugeint as Spark's signed long. */
  private def signed64(col: String): String =
    s"""CAST(CASE WHEN $col >= CAST(9223372036854775808 AS HUGEINT)
              THEN $col - CAST(18446744073709551616 AS HUGEINT)
              ELSE $col END AS BIGINT)"""

  /** x03's oracle: the whole native-minhash pipeline in one DuckDB
    * statement — 16 seeded murmur3 string hashes per distinct trigram
    * shingle (seeds from the SAME [[Dedup.minhashSeeds]] call as the
    * operator; staged word/tail reduces + columnar fmix), per-seed
    * signature mins (signed-int semantics like Spark's hash()), band
    * buckets via threaded hashInt over 2-component signature slices,
    * bucket-collision pairs, and the equal-component similarity
    * estimate.
    */
  /** The x03 sig/band CTE chain (WITH-body text, no leading WITH):
    * trigram shingles → 16 seeded murmur3 string hashes → per-seed
    * signature mins → 8 band buckets. Ends at CTEs `sigs(doc_id, sig)`
    * and `banded(doc_id, sig, band, bucket)`; shared by the x03 and
    * x66 oracles so the replayed arithmetic can never drift between
    * them.
    */
  private lazy val minhashSigBandCtes: String = {
    import Murmur3Sql._
    val seeds = Dedup.minhashSeeds(numHashes = 16, seed = 42L)
    val seedList = seeds.mkString(", ")
    val sigMins = (0 until 16)
      .map(i => s"min(hv) FILTER (WHERE i = $i)")
      .mkString(",\n           ")
    val wordMix = mixH1("h", mixK1("w"))
    val byteMix = mixH1("h", mixK1("b"))
    val hl = hashInt("v", "h")
    s"""w AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents),
       sh AS (
         SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         FROM w WHERE len(ws) >= 3),
       shc AS (
         SELECT doc_id, length(s) AS sl,
           list_transform(range(1, length(s)+1), i -> CAST(unicode(s[i]) AS HUGEINT)) AS cps
         FROM sh),
       shw AS (
         SELECT doc_id, sl,
           list_transform(range(0, sl // 4),
             j -> cps[4*j+1] + cps[4*j+2]*256 + cps[4*j+3]*65536 + cps[4*j+4]*16777216) AS words,
           list_transform(range(sl // 4 * 4 + 1, sl + 1), i -> cps[i]) AS tail
         FROM shc),
       shx AS (
         SELECT doc_id, sl, words, tail, ss.i AS i,
           CAST(CASE WHEN ([$seedList])[ss.i + 1] < 0
                     THEN ([$seedList])[ss.i + 1] + 4294967296
                     ELSE ([$seedList])[ss.i + 1] END AS HUGEINT) AS h0
         FROM shw, (SELECT unnest(range(0, 16)) AS i) ss),
       shmw AS (
         SELECT doc_id, sl, tail, i,
           list_reduce(list_prepend(h0, words), (h, w) ->
             $wordMix) AS hw
         FROM shx),
       shm2 AS (
         SELECT doc_id, sl, i,
           list_reduce(list_prepend(hw, tail), (h, b) ->
             $byteMix) AS h
         FROM shmw),
       f1 AS (SELECT doc_id, i, xor(h, CAST(sl AS HUGEINT)) AS h FROM shm2),
       f2 AS (SELECT doc_id, i, xor(h, h // 65536) AS h FROM f1),
       f3 AS (SELECT doc_id, i, (h * 2246822507) % 4294967296 AS h FROM f2),
       f4 AS (SELECT doc_id, i, xor(h, h // 8192) AS h FROM f3),
       f5 AS (SELECT doc_id, i, (h * 3266489909) % 4294967296 AS h FROM f4),
       shh AS (
         SELECT doc_id, i,
           CAST(CASE WHEN xor(h, h // 65536) >= 2147483648
                     THEN xor(h, h // 65536) - 4294967296
                     ELSE xor(h, h // 65536) END AS BIGINT) AS hv
         FROM f5),
       sigs AS (
         SELECT doc_id, [$sigMins] AS sig
         FROM shh GROUP BY doc_id),
       banded AS (
         SELECT doc_id, sig, bb.b AS band,
           list_reduce(
             list_prepend(CAST(42 AS HUGEINT),
               list_transform(sig[bb.b*2+1 : bb.b*2+2],
                 x -> CAST(CASE WHEN x < 0 THEN x + 4294967296 ELSE x END AS HUGEINT))),
             (h, v) -> $hl) AS bucket
         FROM sigs, (SELECT unnest(range(0, 8)) AS b) bb)"""
  }

  /** x86's oracle: the OPH chain replayed end to end — ONE seed-42
    * string murmur3 per distinct shingle (the x03 byte-word staging,
    * without the 16-seed cross join), signed pmod binning, 16 filtered
    * bin mins, +distance rotation densification, and banding on the
    * component values (no array-hash — the band key IS the pair of
    * densified longs).
    */
  /** x89: both arms replayed — the x17 sampled-codebook IVF chain
    * (hash-min 16-cell codebook, rk=1 assignment, nProbe=4, in-cell
    * re-rank) and the x05 brute-force chain — then the per-query
    * top-10 overlap. n_hits/10 is one correctly-rounded double
    * division, identical in both engines.
    */
  private lazy val annRecallSql: String = {
    val (hashCtes, huCte) =
      Murmur3Sql.hashLongCtes("cb0", Seq("cell", "centroid"), "rh")
    s"""WITH cb0 AS (SELECT vec_id AS cell, embedding AS centroid, vec_id AS v FROM embeddings),
       $hashCtes
       cb AS (SELECT cell, centroid FROM (
                SELECT cell, centroid, row_number() OVER (ORDER BY hu, cell) AS rn
                FROM $huCte)
              WHERE rn <= 16),
       asg AS (SELECT cell, cand_id, cvec FROM (
                SELECT cb.cell, c.vec_id AS cand_id, c.embedding AS cvec,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY ${cosineRounded("c.embedding", "cb.centroid")} DESC, cb.cell) AS rk
                FROM embeddings c, cb)
              WHERE rk = 1),
       prb AS (SELECT query_id, qv, cell FROM (
                SELECT q.vec_id AS query_id, q.embedding AS qv, cb.cell,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY ${cosineRounded("q.embedding", "cb.centroid")} DESC, cb.cell) AS rk
                FROM embeddings q, cb WHERE q.vec_id < 5)
              WHERE rk <= 4),
       iscored AS (SELECT p.query_id, a.cand_id,
                    ${cosineRounded("p.qv", "a.cvec")} AS cosine
                   FROM prb p JOIN asg a USING (cell)
                   WHERE p.query_id <> a.cand_id),
       ivfk AS (SELECT query_id, cand_id FROM (
                 SELECT query_id, cand_id, row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
                 FROM iscored) WHERE rank <= 10),
       bscored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                    ${cosineRounded("q.embedding", "c.embedding")} AS cosine
                   FROM embeddings q, embeddings c
                   WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
       bfk AS (SELECT query_id, cand_id FROM (
                SELECT query_id, cand_id, row_number() OVER (
                  PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
                FROM bscored) WHERE rank <= 10)
       SELECT b.query_id, CAST(count(i.cand_id) AS INTEGER) AS n_hits,
         CAST(count(i.cand_id) AS DOUBLE) / 10 AS recall_at_10
       FROM bfk b LEFT JOIN ivfk i
         ON i.query_id = b.query_id AND i.cand_id = b.cand_id
       GROUP BY 1 ORDER BY 1"""
  }

  /** x104: both arms replayed — the truth arm is the x05 brute-force
    * chain restricted to the label's survivors (pre-filter), the
    * candidate arm the x17 IVF chain over the FULL index at rank ≤ 40,
    * label-joined, re-ranked by the preserved IVF rank (post-filter) —
    * then the per-query overlap, survivor count, and recall.
    */
  /** x107's oracle: the x17 sampled-codebook CTEs (hash-min centers,
    * rounded-cosine argmax assignment), doc↔cell join on vec_id ≡
    * doc_id, (cell, term) counts, and the rational lift with both
    * products cast to double BEFORE multiplying — the Spark tree
    * verbatim.
    */
  private lazy val clusterTermsSql: String = {
    val (hashCtes, huCte) =
      Murmur3Sql.hashLongCtes("cb0", Seq("cell", "centroid"), "th")
    s"""WITH cb0 AS (SELECT vec_id AS cell, embedding AS centroid, vec_id AS v
               FROM embeddings),
       $hashCtes
       cb AS (SELECT cell, centroid FROM (
                SELECT cell, centroid,
                  row_number() OVER (ORDER BY hu, cell) AS rn
                FROM $huCte)
              WHERE rn <= 16),
       asg AS (SELECT cell, doc_id FROM (
                SELECT cb.cell, c.vec_id AS doc_id,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY ${cosineRounded("c.embedding", "cb.centroid")}
                      DESC, cb.cell) AS rk
                FROM embeddings c, cb)
              WHERE rk = 1),
       toks AS (SELECT a.cell,
                  unnest(regexp_split_to_array(lower(d.text), '\\s+')) AS term
                FROM documents d JOIN asg a ON a.doc_id = d.doc_id),
       tc AS (SELECT cell, term, CAST(count(*) AS BIGINT) AS n_tc
              FROM toks GROUP BY 1, 2),
       ct AS (SELECT cell, CAST(sum(n_tc) AS BIGINT) AS tok_c
              FROM tc GROUP BY 1),
       tmt AS (SELECT term, CAST(sum(n_tc) AS BIGINT) AS cnt_t
               FROM tc GROUP BY 1),
       nt AS (SELECT CAST(sum(n_tc) AS BIGINT) AS n_total FROM tc),
       scored AS (SELECT tc.cell, tc.term, tc.n_tc,
           (CAST(tc.n_tc AS DOUBLE) * CAST(nt.n_total AS DOUBLE))
             / (CAST(ct.tok_c AS DOUBLE) * CAST(tmt.cnt_t AS DOUBLE)) AS lift
         FROM tc JOIN ct USING (cell) JOIN tmt USING (term), nt
         WHERE tc.n_tc >= 5)
       SELECT cell, rk, term, n_tc, lift FROM (
         SELECT cell, term, n_tc, lift,
           CAST(row_number() OVER (PARTITION BY cell
             ORDER BY lift DESC, term) AS INTEGER) AS rk
         FROM scored)
       WHERE rk <= 5 ORDER BY cell, rk"""
  }

  /** x106's oracle: the MMR greedy unrolled — bounded top-20 pool via
    * the x05 rounded-cosine rank, intra-pool pairwise sims, then one
    * CTE pair (max-sim → rank-1 pick) per selection round. Round CTEs
    * are MATERIALIZED (the a69 lesson: each selected set is referenced
    * by every later round, and DuckDB 1.0 inlines multi-referenced
    * CTEs combinatorially).
    */
  private lazy val mmrRerankSql: String = {
    val rounds = (2 to 5).map { r =>
      val ps = if (r == 2) "s1" else s"sel${r - 1}"
      val rs = s"r${r - 1}"
      s"""m$r AS (SELECT s.query_id, s.a_id AS cand_id, max(s.sim) AS max_sim
               FROM sims s JOIN $ps ON $ps.query_id = s.query_id
                                   AND $ps.sel_id = s.b_id
               GROUP BY 1, 2),
         p$r AS MATERIALIZED (
           SELECT query_id, cand_id AS sel_id, $r AS sel_rank, mmr FROM (
             SELECT query_id, cand_id, mmr,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY mmr DESC, cand_id) AS rn
             FROM (SELECT r.query_id, r.cand_id,
                     0.5 * r.rel - 0.5 * m.max_sim AS mmr
                   FROM $rs r JOIN m$r m ON m.query_id = r.query_id
                                        AND m.cand_id = r.cand_id))
           WHERE rn = 1),
         sel$r AS MATERIALIZED (
           SELECT * FROM $ps UNION ALL SELECT * FROM p$r),
         r$r AS (SELECT r.* FROM $rs r
                 WHERE NOT EXISTS (SELECT 1 FROM p$r
                   WHERE p$r.query_id = r.query_id
                     AND p$r.sel_id = r.cand_id))"""
    }.mkString(",\n         ")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
       pool AS MATERIALIZED (
         SELECT query_id, cand_id, cosine, rank FROM (
           SELECT query_id, cand_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, cand_id) AS rank
           FROM (SELECT query_id, cand_id,
                   ${cosineRounded("qv", "cv")} AS cosine
                 FROM q, c WHERE query_id <> cand_id))
         WHERE rank <= 20),
       pv AS MATERIALIZED (
         SELECT p.query_id, p.cand_id, p.cosine, p.rank, e.embedding AS v
         FROM pool p JOIN embeddings e ON e.vec_id = p.cand_id),
       sims AS MATERIALIZED (
         SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
           ${cosineRounded("a.v", "b.v")} AS sim
         FROM pv a JOIN pv b ON a.query_id = b.query_id
                            AND a.cand_id <> b.cand_id),
       s1 AS MATERIALIZED (
         SELECT query_id, cand_id AS sel_id, 1 AS sel_rank, cosine AS mmr
         FROM pool WHERE rank = 1),
       r1 AS (SELECT query_id, cand_id, cosine AS rel
              FROM pool WHERE rank > 1),
       $rounds
       SELECT query_id, sel_rank, sel_id AS cand_id, mmr FROM sel5
       ORDER BY query_id, sel_rank"""
  }

  private lazy val filteredAnnSql: String = {
    val (hashCtes, huCte) =
      Murmur3Sql.hashLongCtes("cb0", Seq("cell", "centroid"), "fh")
    s"""WITH cb0 AS (SELECT vec_id AS cell, embedding AS centroid, vec_id AS v FROM embeddings),
       $hashCtes
       cb AS (SELECT cell, centroid FROM (
                SELECT cell, centroid, row_number() OVER (ORDER BY hu, cell) AS rn
                FROM $huCte)
              WHERE rn <= 16),
       asg AS (SELECT cell, cand_id, cvec FROM (
                SELECT cb.cell, c.vec_id AS cand_id, c.embedding AS cvec,
                  row_number() OVER (PARTITION BY c.vec_id
                    ORDER BY ${cosineRounded("c.embedding", "cb.centroid")} DESC, cb.cell) AS rk
                FROM embeddings c, cb)
              WHERE rk = 1),
       prb AS (SELECT query_id, qv, cell FROM (
                SELECT q.vec_id AS query_id, q.embedding AS qv, cb.cell,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY ${cosineRounded("q.embedding", "cb.centroid")} DESC, cb.cell) AS rk
                FROM embeddings q, cb WHERE q.vec_id < 5)
              WHERE rk <= 4),
       iscored AS (SELECT p.query_id, a.cand_id,
                    ${cosineRounded("p.qv", "a.cvec")} AS cosine
                   FROM prb p JOIN asg a USING (cell)
                   WHERE p.query_id <> a.cand_id),
       ivfk AS (SELECT query_id, cand_id, rank FROM (
                 SELECT query_id, cand_id, row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
                 FROM iscored) WHERE rank <= 40),
       fltc AS (SELECT i.query_id, i.cand_id, i.rank
                FROM ivfk i JOIN embeddings l ON l.vec_id = i.cand_id
                WHERE l.label = 3),
       nf AS (SELECT query_id, CAST(count(*) AS INTEGER) AS n_flt
              FROM fltc GROUP BY 1),
       post AS (SELECT query_id, cand_id FROM (
                 SELECT query_id, cand_id, row_number() OVER (
                   PARTITION BY query_id ORDER BY rank) AS rk
                 FROM fltc) WHERE rk <= 10),
       bscored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                    ${cosineRounded("q.embedding", "c.embedding")} AS cosine
                   FROM embeddings q, embeddings c
                   WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
                     AND c.label = 3),
       bfk AS (SELECT query_id, cand_id FROM (
                SELECT query_id, cand_id, row_number() OVER (
                  PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
                FROM bscored) WHERE rank <= 10),
       agg AS (SELECT b.query_id, CAST(count(*) AS INTEGER) AS n_truth,
                 CAST(count(p.cand_id) AS INTEGER) AS n_hits
               FROM bfk b LEFT JOIN post p
                 ON p.query_id = b.query_id AND p.cand_id = b.cand_id
               GROUP BY 1)
       SELECT agg.query_id, n_truth, coalesce(nf.n_flt, 0) AS n_flt, n_hits,
         CAST(n_hits AS DOUBLE) / n_truth AS recall
       FROM agg LEFT JOIN nf ON nf.query_id = agg.query_id
       ORDER BY 1"""
  }

  /** x105: per-(doc, token) counts join the distinct-token VOCABULARY
    * hashed once through the x86 string-murmur3 staging (unsigned
    * 32-bit end state); bucket/sign/weights are nonnegative-integer
    * arithmetic identical to the Spark side's per-instance form.
    */
  private lazy val featureHashSql: String = {
    import Murmur3Sql._
    val wordMix = mixH1("h", mixK1("w"))
    val byteMix = mixH1("h", mixK1("b"))
    s"""WITH w AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents),
       tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
       tc AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS cnt
              FROM tok WHERE t <> '' GROUP BY 1, 2),
       dt AS (SELECT DISTINCT t AS s FROM tc),
       dc AS (SELECT s, length(s) AS sl,
                list_transform(range(1, length(s)+1),
                  i -> CAST(unicode(s[i]) AS HUGEINT)) AS cps
              FROM dt),
       dw AS (SELECT s, sl,
                list_transform(range(0, sl // 4),
                  j -> cps[4*j+1] + cps[4*j+2]*256 + cps[4*j+3]*65536 + cps[4*j+4]*16777216) AS words,
                list_transform(range(sl // 4 * 4 + 1, sl + 1), i -> cps[i]) AS tail
              FROM dc),
       dmw AS (SELECT s, sl, tail,
                list_reduce(list_prepend(CAST(42 AS HUGEINT), words), (h, w) ->
                  $wordMix) AS hw
               FROM dw),
       dm2 AS (SELECT s, sl,
                list_reduce(list_prepend(hw, tail), (h, b) ->
                  $byteMix) AS h
               FROM dmw),
       q1 AS (SELECT s, xor(h, CAST(sl AS HUGEINT)) AS h FROM dm2),
       q2 AS (SELECT s, xor(h, h // 65536) AS h FROM q1),
       q3 AS (SELECT s, (h * 2246822507) % 4294967296 AS h FROM q2),
       q4 AS (SELECT s, xor(h, h // 8192) AS h FROM q3),
       q5 AS (SELECT s, (h * 3266489909) % 4294967296 AS h FROM q4),
       dh AS (SELECT s, xor(h, h // 65536) AS hu FROM q5),
       hb AS (SELECT s AS t, CAST(hu % 256 AS INTEGER) AS bucket,
                CASE WHEN (hu // 256) % 2 = 0 THEN 1 ELSE -1 END AS sgn
              FROM dh),
       bw AS (SELECT doc_id, bucket, CAST(sum(sgn * cnt) AS BIGINT) AS wgt,
                CAST(sum(cnt) AS BIGINT) AS n
              FROM tc JOIN hb USING (t) GROUP BY 1, 2)
       SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tok,
         CAST(sum(CASE WHEN wgt <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
         CAST(sum(wgt * wgt) AS BIGINT) AS norm_sq
       FROM bw GROUP BY 1 ORDER BY 1"""
  }

  /** x91: the power iteration unrolled as generated CTE rounds (the
    * x71/x67b recipe) over the x90 gram CTE mirrored to the full
    * symmetric matrix — every matvec addend and squared term quantized
    * on the 2^-20 grid before its sum, one IEEE sqrt per round.
    */
  private def pcaQ(e: String) = s"floor(($e) * 1048576 + 0.5) / 1048576"

  /** The x91 CTE chain up to the converged direction `y<iters>` and
    * `lam` — shared by the x91 statement and x92's removal replay.
    * The index spines derive the dimension from the data
    * (`max(len(embedding))` — the x87 discipline) so the oracle tracks
    * the Spark side on any uniform-dim fixture instead of pinning 64.
    */
  private def pcaPowerCtes(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""s$t AS (SELECT gm.i AS i, sum(${pcaQ(s"gm.g * y${t - 1}.v")}) AS s
            FROM gm JOIN y${t - 1} ON y${t - 1}.i = gm.j GROUP BY 1),
         n$t AS (SELECT sqrt(sum(${pcaQ("s * s")})) AS nrm FROM s$t),
         y$t AS (SELECT i, ${pcaQ("s / nrm")} AS v FROM s$t, n$t)"""
    }.mkString(",\n")
    s"""p AS (
         SELECT CAST(i.i AS INTEGER) AS i, CAST(j.j AS INTEGER) AS j,
           floor(CAST(embedding[CAST(i.i AS INTEGER) + 1] AS DOUBLE)
               * CAST(embedding[CAST(j.j AS INTEGER) + 1] AS DOUBLE)
               * 1048576 + 0.5) / 1048576 AS q
         FROM embeddings,
           (SELECT unnest(range(0, (SELECT max(len(embedding))
                                    FROM embeddings))) AS i) i,
           (SELECT unnest(range(0, (SELECT max(len(embedding))
                                    FROM embeddings))) AS j) j
         WHERE j.j >= i.i),
       g AS (SELECT i, j, sum(q) AS g FROM p GROUP BY 1, 2),
       gm AS (SELECT i, j, g FROM g
              UNION ALL SELECT j, i, g FROM g WHERE i <> j),
       y0 AS (SELECT CAST(unnest(range(0, (SELECT max(len(embedding))
                                           FROM embeddings))) AS INTEGER) AS i,
                CAST(1.0 AS DOUBLE) AS v),
       $rounds,
       gy AS (SELECT gm.i AS i, sum(${pcaQ(s"gm.g * y$iters.v")}) AS s
              FROM gm JOIN y$iters ON y$iters.i = gm.j GROUP BY 1),
       lam AS (SELECT sum(${pcaQ("y.v * gy.s")}) AS lambda
               FROM y$iters y JOIN gy ON gy.i = y.i)"""
  }

  private lazy val pcaPowerSql: String =
    s"""WITH ${pcaPowerCtes(3)}
       SELECT y.i, y.v, lam.lambda FROM y3 y, lam ORDER BY y.i"""

  /** x92: the removal replayed against the SAME converged direction —
    * coefficient = grid-exact dot, residual energy = grid-exact sum of
    * squared quantized differences (identical staging to the Spark
    * zip_with/aggregate chain).
    */
  private lazy val removeTopPcSql: String =
    s"""WITH ${pcaPowerCtes(3)},
       cf AS (SELECT e.vec_id,
           sum(${pcaQ("CAST(e.embedding[y.i + 1] AS DOUBLE) * y.v")}) AS coef
         FROM embeddings e, y3 y GROUP BY 1),
       rs AS (SELECT e.vec_id,
           sum(${pcaQ("(" +
             pcaQ("CAST(e.embedding[y.i + 1] AS DOUBLE) - " +
               pcaQ("cf.coef * y.v")) + ") * (" +
             pcaQ("CAST(e.embedding[y.i + 1] AS DOUBLE) - " +
               pcaQ("cf.coef * y.v")) + ")")}) AS resid_norm2
         FROM embeddings e JOIN cf USING (vec_id), y3 y GROUP BY 1)
       SELECT cf.vec_id, cf.coef, rs.resid_norm2
       FROM cf JOIN rs USING (vec_id) ORDER BY cf.vec_id"""

  /** x88: the waterfilling solve replayed as window SQL — sources
    * ascending by (total, source); `fits` uses the same non-negative
    * integer division as the Scala loop (operands floored at 0, so
    * `//` truncation == floor in both engines), `all_fit` is the
    * prefix-AND that pins the greedy stop point, and the fixed level
    * divides by `greatest(rest, 1)` only to keep the dead branch from
    * tripping DuckDB's eager checker when every source fits. Doc
    * selection replays Spark's murmur3 hashLong via the staged CTEs.
    */
  private lazy val tokenBudgetMixSql: String = {
    val b = "24000"
    val (hashCtes, huCte) =
      Murmur3Sql.hashLongCtes("d0", Seq("source", "doc_id", "toks"), "xh")
    s"""WITH d0 AS (SELECT source, doc_id,
             CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS toks,
             doc_id AS v
           FROM documents),
       $hashCtes
       ps AS (SELECT source, sum(toks) AS total FROM d0 GROUP BY 1),
       lv AS (SELECT source, total,
           row_number() OVER (ORDER BY total, source) AS k,
           sum(total) OVER (ORDER BY total, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           count(*) OVER () AS n
         FROM ps),
       f AS (SELECT *, CASE WHEN total <=
             greatest($b - (cum - total), 0) // (n - k + 1)
             THEN 1 ELSE 0 END AS fits FROM lv),
       g AS (SELECT *, min(fits) OVER (ORDER BY total, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS all_fit
           FROM f),
       sv AS (SELECT coalesce(max(CASE WHEN all_fit = 1 THEN cum END), 0) AS sat_cum,
              coalesce(sum(all_fit), 0) AS sat_n, max(n) AS n FROM g),
       al AS (SELECT g.source, g.total,
           CASE WHEN g.all_fit = 1 THEN g.total
                ELSE greatest($b - sv.sat_cum, 0) //
                     greatest(sv.n - sv.sat_n, 1) END AS alloc
         FROM g, sv),
       r AS (SELECT h.source, h.toks, al.alloc,
           sum(h.toks) OVER (PARTITION BY h.source ORDER BY h.hu, h.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM $huCte h JOIN al USING (source))
       SELECT source, CAST(sum(toks) AS BIGINT) AS total_tokens,
         CAST(max(alloc) AS BIGINT) AS alloc_tokens,
         CAST(sum(CASE WHEN cum <= alloc THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
         CAST(sum(CASE WHEN cum <= alloc THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens
       FROM r GROUP BY 1 ORDER BY 1"""
  }

  private lazy val ophMinhashSql: String = {
    import Murmur3Sql._
    val wordMix = mixH1("h", mixK1("w"))
    val byteMix = mixH1("h", mixK1("b"))
    val binMins = (0 until 16)
      .map(i => s"min(hv) FILTER (WHERE bin = $i)")
      .mkString(",\n           ")
    // densified component i: first populated bin at circular distance j,
    // value + j (BIGINT arithmetic end to end)
    val dens = (0 until 16).map { i =>
      "coalesce(" + (0 until 16).map { j =>
        s"bm[${(i + j) % 16 + 1}] + $j"
      }.mkString(", ") + ")"
    }.mkString(",\n           ")
    s"""WITH w AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents),
       sh AS (
         SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         FROM w WHERE len(ws) >= 3),
       shc AS (
         SELECT doc_id, length(s) AS sl,
           list_transform(range(1, length(s)+1), i -> CAST(unicode(s[i]) AS HUGEINT)) AS cps
         FROM sh),
       shw AS (
         SELECT doc_id, sl,
           list_transform(range(0, sl // 4),
             j -> cps[4*j+1] + cps[4*j+2]*256 + cps[4*j+3]*65536 + cps[4*j+4]*16777216) AS words,
           list_transform(range(sl // 4 * 4 + 1, sl + 1), i -> cps[i]) AS tail
         FROM shc),
       shmw AS (
         SELECT doc_id, sl, tail,
           list_reduce(list_prepend(CAST(42 AS HUGEINT), words), (h, w) ->
             $wordMix) AS hw
         FROM shw),
       shm2 AS (
         SELECT doc_id, sl,
           list_reduce(list_prepend(hw, tail), (h, b) ->
             $byteMix) AS h
         FROM shmw),
       g1 AS (SELECT doc_id, xor(h, CAST(sl AS HUGEINT)) AS h FROM shm2),
       g2 AS (SELECT doc_id, xor(h, h // 65536) AS h FROM g1),
       g3 AS (SELECT doc_id, (h * 2246822507) % 4294967296 AS h FROM g2),
       g4 AS (SELECT doc_id, xor(h, h // 8192) AS h FROM g3),
       g5 AS (SELECT doc_id, (h * 3266489909) % 4294967296 AS h FROM g4),
       shh AS (
         SELECT doc_id,
           CAST(CASE WHEN xor(h, h // 65536) >= 2147483648
                     THEN xor(h, h // 65536) - 4294967296
                     ELSE xor(h, h // 65536) END AS BIGINT) AS hv
         FROM g5),
       bins AS (SELECT doc_id, hv, ((hv % 16) + 16) % 16 AS bin FROM shh),
       bm AS (SELECT doc_id, [$binMins] AS bm FROM bins GROUP BY doc_id),
       sigs AS (SELECT doc_id, [$dens] AS sig FROM bm),
       banded AS (
         SELECT doc_id, sig, bb.b AS band,
           sig[bb.b*2+1] AS c0, sig[bb.b*2+2] AS c1
         FROM sigs, (SELECT unnest(range(0, 8)) AS b) bb),
       cand AS (
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.c0 = b.c0 AND a.c1 = b.c1
             AND a.doc_id < b.doc_id)
       SELECT d1, d2,
         CAST(len(list_filter(range(1, 17), i -> s1.sig[i] = s2.sig[i])) AS DOUBLE) / 16 AS jaccard_est
       FROM cand JOIN sigs s1 ON s1.doc_id = d1 JOIN sigs s2 ON s2.doc_id = d2
       WHERE CAST(len(list_filter(range(1, 17), i -> s1.sig[i] = s2.sig[i])) AS DOUBLE) / 16 >= 0.2
       ORDER BY d1, d2"""
  }

  private lazy val minhashNativeSql: String =
    s"""WITH $minhashSigBandCtes,
       cand AS (
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       SELECT d1, d2,
         CAST(len(list_filter(range(1, 17), i -> s1.sig[i] = s2.sig[i])) AS DOUBLE) / 16 AS jaccard_est
       FROM cand JOIN sigs s1 ON s1.doc_id = d1 JOIN sigs s2 ON s2.doc_id = d2
       WHERE CAST(len(list_filter(range(1, 17), i -> s1.sig[i] = s2.sig[i])) AS DOUBLE) / 16 >= 0.2
       ORDER BY d1, d2"""

  /** x66's oracle: the shared sig/band chain split at the x27
    * batch/history boundary — banded batch×history hits plus one-hop
    * smaller-id in-batch domination, anti-joined from the full batch
    * id set (shingle-less docs survive by construction).
    */
  private lazy val nearDedupAgainstSql: String =
    s"""WITH $minhashSigBandCtes,
       bband AS (SELECT * FROM banded WHERE doc_id % 10 >= 8),
       hband AS (SELECT * FROM banded WHERE doc_id % 10 < 8),
       histhit AS (
         SELECT DISTINCT b.doc_id
         FROM bband b JOIN hband h
           ON b.band = h.band AND b.bucket = h.bucket
         WHERE CAST(len(list_filter(range(1, 17), i -> b.sig[i] = h.sig[i]))
           AS DOUBLE) / 16 >= 0.2),
       dom AS (
         SELECT DISTINCT b2.doc_id
         FROM bband b1 JOIN bband b2
           ON b1.band = b2.band AND b1.bucket = b2.bucket
             AND b1.doc_id < b2.doc_id
         WHERE CAST(len(list_filter(range(1, 17), i -> b1.sig[i] = b2.sig[i]))
           AS DOUBLE) / 16 >= 0.2)
       SELECT doc_id FROM documents
       WHERE doc_id % 10 >= 8
         AND doc_id NOT IN (SELECT doc_id FROM histhit)
         AND doc_id NOT IN (SELECT doc_id FROM dom)
       ORDER BY doc_id"""

  /** x30's oracle: the mixture-balance accept predicate replayed via
    * the shared staged murmur3 hashLong CTEs over doc_id, with the
    * per-language counts and the min target derived in SQL exactly as
    * the operator derives them from the data.
    */
  private lazy val mixtureBalanceSql: String = {
    val (ctes, hc) = Murmur3Sql.hashLongCtes("mbsrc", Seq("doc_id", "lang"), "mb")
    s"""WITH mbsrc AS (SELECT doc_id, lang, doc_id AS v FROM documents),
       $ctes
       hb AS (SELECT doc_id, lang, CAST(hu % 10000 AS BIGINT) AS samp_bucket FROM $hc),
       cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_stratum FROM documents GROUP BY lang),
       tgt AS (SELECT min(n_stratum) AS target_n FROM cnt)
       SELECT h.doc_id, h.lang, c.n_stratum, t.target_n, h.samp_bucket,
         CAST(t.target_n AS DOUBLE) / c.n_stratum AS weight
       FROM hb h JOIN cnt c USING (lang), tgt t
       WHERE h.samp_bucket * c.n_stratum < t.target_n * 10000
       ORDER BY h.doc_id"""
  }

  /** The x11 rolling hash (acc·1000003 + codepoint mod 2^64) replayed
    * over an arbitrary string SQL expression `e` — the shared feature-
    * hash of the x73/x74 oracles. Lambda variables are rh-prefixed so
    * the fragment nests inside callers' own lambdas without capture.
    */
  private def rollingHashSqlOf(e: String): String =
    s"""list_reduce(
          list_prepend(CAST(0 AS HUGEINT),
            list_transform(range(1, length($e)+1),
              rhci -> CAST(unicode(($e)[rhci]) AS HUGEINT))),
          (rhacc, rhc) -> (rhacc * 1000003 + rhc)
            % CAST(18446744073709551616 AS HUGEINT))"""

  /** x73's oracle: the DSIR chain replayed — unigram+bigram features of
    * the first 256 tokens, rolling-hash buckets mod 512 (2^64-divisor
    * equivalence with Spark's signed pmod), add-one-smoothed quantized
    * likelihood ratios, count-weighted per-doc sums.
    */
  private lazy val dsirSql: String = {
    val b = 512; val grid = 1048576L
    s"""WITH dbase AS (
         SELECT doc_id,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_target,
           (regexp_split_to_array(lower(text), '\\s+'))[1:256] AS ws
         FROM documents),
       feats AS (
         SELECT doc_id, is_target, unnest(ws) AS feat FROM dbase
         UNION ALL
         SELECT doc_id, is_target,
           unnest(list_transform(range(1, len(ws)),
             dbi -> ws[dbi] || ' ' || ws[dbi+1])) AS feat
         FROM dbase),
       fb AS (
         SELECT doc_id, is_target,
           CAST(${rollingHashSqlOf("feat")} % $b AS BIGINT) AS bkt,
           CAST(count(*) AS BIGINT) AS c
         FROM feats GROUP BY 1, 2, 3),
       dist AS (
         SELECT bkt, sum(c) AS r_b, sum(c * is_target) AS t_b
         FROM fb GROUP BY 1),
       tot AS (SELECT sum(r_b) AS rr, sum(t_b) AS tt FROM dist),
       lam AS (
         SELECT bkt,
           CAST(floor(CAST(t_b + 1 AS DOUBLE) * CAST(rr + $b AS DOUBLE)
             / (CAST(r_b + 1 AS DOUBLE) * CAST(tt + $b AS DOUBLE))
             * $grid + 0.5) AS BIGINT) AS lambda_q
         FROM dist, tot)
       SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feat,
         CAST(sum(c * lambda_q) AS BIGINT) AS imp_q,
         CASE WHEN sum(c * lambda_q) > sum(c) * $grid THEN 1 ELSE 0 END AS keep
       FROM fb JOIN lam USING (bkt)
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** x74's oracle: the hashed linear classifier replayed — the SAME
    * Scala fixture generator emits the weight list literal, each token
    * indexes it by rolling-hash mod 64.
    */
  private lazy val linearQualitySql: String = {
    val wlist = graft.operators.TextAnalysis.fixtureQualityWeights(64)
      .mkString("[", ", ", "]")
    s"""WITH lbase AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws
         FROM documents),
       sc AS (
         SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok,
           CAST(coalesce(list_sum(list_transform(ws, lqt ->
             ($wlist)[CAST(${rollingHashSqlOf("lqt")} % 64 AS INTEGER) + 1])), 0)
             AS BIGINT) AS lin_score
         FROM lbase)
       SELECT doc_id, n_tok, lin_score,
         CASE WHEN lin_score > 0 THEN 1 ELSE 0 END AS lin_label
       FROM sc ORDER BY doc_id"""
  }

  /** x75's oracle: the Morton interleave replayed bit by bit — the
    * same generated shift/mask/sum expression (integer-exact), with
    * epoch-day from the naive-UTC timestamp both engines share.
    */
  private lazy val zorderSql: String = {
    val bits = 16
    val x = "(user_id % 65536)"
    val y = "((CAST(ts AS DATE) - DATE '1970-01-01') % 65536)"
    val terms = (0 until bits).flatMap(i => Seq(
      s"((($x >> $i) & 1) * ${1L << (2 * i)})",
      s"((($y >> $i) & 1) * ${1L << (2 * i + 1)})"))
    s"""WITH z AS (
         SELECT event_id,
           CAST(${terms.mkString(" + ")} AS BIGINT) AS zval
         FROM events)
       SELECT event_id, zval, CAST(zval >> 24 AS INTEGER) AS z_shard
       FROM z ORDER BY event_id"""
  }

  /** x108's oracle: the Hilbert walk unrolled as staged per-level CTEs
    * ([[HilbertSql]], the Murmur3Sql pattern) over the same
    * (user_id, epoch-day) domain as x75.
    */
  private lazy val hilbertSql: String = {
    val (ctes, hc) = HilbertSql.curveCtes("hsrc", Seq("event_id"), "hl", 16)
    s"""WITH hsrc AS (SELECT event_id, CAST(user_id AS BIGINT) AS hx,
           CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS hy
         FROM events),
       $ctes
       hout AS (SELECT event_id, d AS hval,
           CAST(d >> 24 AS INTEGER) AS h_shard
         FROM $hc)
       SELECT event_id, hval, h_shard FROM hout ORDER BY event_id"""
  }

  /** x76's oracle: the stupid-backoff bigram LM replayed — identical
    * pruned top-1024 tables (count desc, term asc), identical staged
    * double arithmetic in the quantized conditionals and backoffs.
    */
  private lazy val bigramLmSql: String =
    s"""WITH gbase AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws
         FROM documents),
       uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
               FROM (SELECT unnest(ws) AS w FROM gbase) GROUP BY 1),
       ntok AS (SELECT sum(c1) AS n_tok_corpus FROM uni),
       pairs AS (
         SELECT doc_id, ws[bi] AS w1, ws[bi+1] AS w2
         FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS bi
               FROM gbase WHERE len(ws) >= 2)),
       bigr AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
                FROM pairs GROUP BY 1, 2),
       topv AS (SELECT w1, w2, c2 FROM bigr
                ORDER BY c2 DESC, w1, w2 LIMIT 1024),
       kb AS (SELECT t.w1, t.w2,
                CAST(floor(CAST(t.c2 AS DOUBLE) / CAST(u.c1 AS DOUBLE)
                  * 1048576 + 0.5) AS BIGINT) AS q_cond
              FROM topv t JOIN uni u ON u.w = t.w1),
       topu AS (SELECT w, c1 FROM uni ORDER BY c1 DESC, w LIMIT 1024),
       ku AS (SELECT w AS w2,
                CAST(floor(0.4 * CAST(c1 AS DOUBLE)
                  / CAST(n.n_tok_corpus AS DOUBLE) * 1048576 + 0.5)
                  AS BIGINT) AS q_back
              FROM topu, ntok n)
       SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bg,
         CAST(sum(coalesce(kb.q_cond, ku.q_back, 0)) AS BIGINT) AS sum_q,
         CAST(sum(coalesce(kb.q_cond, ku.q_back, 0)) // count(*) AS BIGINT) AS avg_q
       FROM pairs p
         LEFT JOIN kb ON kb.w1 = p.w1 AND kb.w2 = p.w2
         LEFT JOIN ku ON ku.w2 = p.w2
       GROUP BY p.doc_id ORDER BY p.doc_id"""

  /** x77's oracle: both arms replayed — the x52 BM25 chain at top-50,
    * the x05 rounded-cosine ranking for query vector 0 at top-50 — then
    * the RRF fusion: grid-quantized 1/(60+rank) per arm row, integer
    * sums, (rrf_q desc, doc_id) top-20.
    */
  private lazy val hybridRetrievalSql: String = {
    val (k1, b) = (1.2, 0.75)
    val terms = bm25Terms.map(t => s"'$t'").mkString(", ")
    val (k1s, bs, k1p1) = (k1.toString, b.toString, (k1 + 1).toString)
    s"""WITH hbase AS (
         SELECT doc_id,
           CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS dl,
           regexp_split_to_array(lower(text), '\\s+') AS ws
         FROM documents),
       hstats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM hbase),
       htf AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
              FROM (SELECT doc_id, dl, unnest(ws) AS token FROM hbase)
              WHERE token IN ($terms) GROUP BY 1, 2, 3),
       hdf AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM htf GROUP BY 1),
       hcontrib AS (
         SELECT t.doc_id,
           floor((s.n_docs - d.df + 0.5) / (d.df + 0.5) * t.tf * $k1p1
             / (t.tf + $k1s * (1.0 - $bs + $bs * t.dl / s.avgdl))
             * 1048576 + 0.5) / 1048576 AS contrib
         FROM htf t JOIN hdf d USING (token), hstats s),
       hscored AS (SELECT doc_id, sum(contrib) AS score FROM hcontrib GROUP BY doc_id),
       lex AS (SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
               FROM hscored ORDER BY score DESC, doc_id LIMIT 50),
       hq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       hsem0 AS (
         SELECT e.vec_id AS doc_id,
           ${cosineRounded("q.qv", "e.embedding")} AS cosine
         FROM embeddings e, hq q WHERE e.vec_id <> 0),
       sem AS (SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS rank
               FROM hsem0 ORDER BY cosine DESC, doc_id LIMIT 50),
       un AS (SELECT doc_id, rank, 'lex' AS arm FROM lex
              UNION ALL SELECT doc_id, rank, 'sem' AS arm FROM sem),
       fused AS (
         SELECT doc_id,
           CAST(sum(CAST(floor(1048576.0 / (rank + 60) + 0.5) AS BIGINT)) AS BIGINT) AS rrf_q,
           max(CASE WHEN arm = 'lex' THEN rank END) AS lex_rank,
           max(CASE WHEN arm = 'sem' THEN rank END) AS sem_rank
         FROM un GROUP BY doc_id)
       SELECT CAST(row_number() OVER (ORDER BY rrf_q DESC, doc_id) AS INTEGER) AS rank,
         doc_id, rrf_q, lex_rank, sem_rank
       FROM fused ORDER BY rrf_q DESC, doc_id LIMIT 20"""
  }

  /** x78's oracle: the same five per-column aggregate groups, unioned —
    * identical DECIMAL/DATE views before min/max so the string
    * rendering matches Spark's typed casts.
    */
  private lazy val profileSql: String = {
    def colBlock(name: String, e: String) =
      s"""SELECT '$name' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN $e IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(count(DISTINCT $e) AS BIGINT) AS n_distinct,
           CAST(min($e) AS VARCHAR) AS min_s,
           CAST(max($e) AS VARCHAR) AS max_s
         FROM lineitem"""
    Seq(
      colBlock("l_orderkey", "l_orderkey"),
      colBlock("l_quantity", "CAST(l_quantity AS DECIMAL(12,2))"),
      colBlock("l_extendedprice", "CAST(l_extendedprice AS DECIMAL(12,2))"),
      colBlock("l_returnflag", "l_returnflag"),
      colBlock("l_shipdate", "CAST(l_shipdate AS DATE)"))
      .mkString("", "\n UNION ALL\n", "\n ORDER BY col_name")
  }

  /** x78b's oracle: per spec column, the KMV bottom-k estimate replayed
    * exactly — staged murmur3 hashLong CTEs ([[Murmur3Sql]], the a23
    * machinery), DISTINCT hashes ranked ascending, the k-th smallest
    * hash inverted to (k−1)·2³² // kth (exact count below k) — unioned
    * with the plain count/null/min/max stats per column.
    */
  private lazy val profileKmvSql: String = {
    val k = graft.operators.Sketches.KmvK
    val kmvNum = (k - 1).toLong * 4294967296L
    val specs = Seq(
      ("l_orderkey", "l_orderkey", "pka"),
      ("l_partkey", "l_partkey", "pkb"),
      ("l_suppkey", "l_suppkey", "pkc"),
      ("l_linenumber", "CAST(l_linenumber AS BIGINT)", "pkd"),
      ("l_quantity", "CAST(l_quantity AS BIGINT)", "pke"))
    val pieces = specs.map { case (name, e, pfx) =>
      val (ctes, hc) = Murmur3Sql.hashLongCtes(s"${pfx}src", Seq.empty, pfx)
      val cteBlock =
        s"""${pfx}src AS (SELECT $e AS v FROM lineitem),
           $ctes
           ${pfx}dh AS (SELECT DISTINCT hu FROM $hc),
           ${pfx}rn AS (SELECT hu, row_number() OVER (ORDER BY hu) AS rn
                        FROM ${pfx}dh),
           ${pfx}km AS (SELECT CAST(count(*) AS BIGINT) AS cnt,
                          CAST(max(CASE WHEN rn = $k THEN hu END) AS BIGINT) AS kth
                        FROM ${pfx}rn),
           ${pfx}st AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                          CAST(sum(CASE WHEN $e IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                          CAST(min($e) AS VARCHAR) AS min_s,
                          CAST(max($e) AS VARCHAR) AS max_s
                        FROM lineitem)"""
      val select =
        s"""SELECT '$name' AS col_name, st.n_rows, st.n_null,
             CASE WHEN km.cnt < $k THEN km.cnt
                  WHEN km.kth = 0 THEN CAST($k AS BIGINT)
                  ELSE $kmvNum // km.kth END AS n_distinct_kmv,
             st.min_s, st.max_s
           FROM ${pfx}st st, ${pfx}km km"""
      (cteBlock, select)
    }
    s"WITH ${pieces.map(_._1).mkString(",\n")}\n" +
      pieces.map(_._2).mkString("", "\n UNION ALL\n", "\n ORDER BY col_name")
  }

  /** x101's oracle: every merged column recomputed DIRECTLY from the
    * full table (that equality is the query's whole claim) — counts,
    * decimal-exact sum, min/max straight off `orders`; the KMV NDV via
    * the murmur3 replay CTEs + rank-256 bottom-k, the [[profileKmvSql]]
    * recipe with the group key carried through.
    */
  private lazy val aggStateMergeSql: String = {
    val k = graft.operators.Sketches.KmvK
    val kmvNum = (k - 1).toLong * 4294967296L
    val (ctes, hc) = Murmur3Sql.hashLongCtes("hsrc", Seq("prio"), "kh")
    s"""WITH src AS (SELECT o_orderpriority AS prio, o_custkey AS v,
             o_totalprice AS price FROM orders),
       hsrc AS (SELECT DISTINCT prio, v FROM src WHERE v IS NOT NULL),
       $ctes
       dh AS (SELECT DISTINCT prio, hu FROM $hc),
       rn AS (SELECT prio, hu,
           row_number() OVER (PARTITION BY prio ORDER BY hu) AS rn
         FROM dh),
       sk AS (SELECT prio, CAST(count(*) AS BIGINT) AS cnt,
           CAST(max(CASE WHEN rn = $k THEN hu END) AS BIGINT) AS kth
         FROM rn GROUP BY prio),
       st AS (SELECT prio, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           min(price) AS min_price, max(price) AS max_price
         FROM src GROUP BY prio)
       SELECT st.prio, st.n_rows, st.sum_price, st.min_price, st.max_price,
         CASE WHEN sk.cnt < $k THEN sk.cnt
              WHEN sk.kth = 0 THEN CAST($k AS BIGINT)
              ELSE $kmvNum // sk.kth END AS ndv_cust
       FROM st JOIN sk USING (prio) ORDER BY st.prio"""
  }

  /** x103's oracle: the per-source bottom-k sketches rebuilt from
    * scratch (x26's shingle replay → sha-slice 60-bit ids → murmur3
    * CTEs → per-source rank ≤ k), then the pair merge as a windowed
    * rank over each pair's sketch union — bottom-k of two bottom-k
    * sets IS the union's bottom-k, so this equals the Spark merge
    * bit-for-bit.
    */
  private lazy val overlapSketchSql: String = {
    val k = graft.operators.Sketches.KmvK
    val kmvNum = (k - 1).toLong * 4294967296L
    val (ctes, hc) = Murmur3Sql.hashLongCtes("hsrc", Seq("source"), "kh")
    s"""WITH w AS (SELECT source,
             regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents),
       shd AS (SELECT source, unnest(list_transform(range(1, len(ws)-1),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
           FROM w WHERE len(ws) >= 3),
       hsrc AS (SELECT DISTINCT source,
             CAST(concat('0x', substr(sha256(s), 1, 15)) AS BIGINT) AS v
           FROM shd),
       $ctes
       dh AS (SELECT DISTINCT source, hu FROM $hc),
       rn AS (SELECT source, hu,
           row_number() OVER (PARTITION BY source ORDER BY hu) AS rn
         FROM dh),
       sk AS (SELECT source, hu FROM rn WHERE rn <= $k),
       srcs AS (SELECT DISTINCT source FROM sk),
       pr AS (SELECT a.source AS src_a, b.source AS src_b
           FROM srcs a JOIN srcs b ON a.source < b.source),
       mem AS (SELECT pr.src_a, pr.src_b, sk.hu,
           max(CASE WHEN sk.source = pr.src_a THEN 1 ELSE 0 END) AS in_a,
           max(CASE WHEN sk.source = pr.src_b THEN 1 ELSE 0 END) AS in_b
         FROM pr JOIN sk ON sk.source IN (pr.src_a, pr.src_b)
         GROUP BY 1, 2, 3),
       mr AS (SELECT *, row_number() OVER (PARTITION BY src_a, src_b
             ORDER BY hu) AS r
         FROM mem),
       m AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS m_sz,
           CAST(sum(in_a * in_b) AS BIGINT) AS n_common,
           CAST(max(CASE WHEN r = $k THEN hu END) AS BIGINT) AS kth
         FROM mr WHERE r <= $k GROUP BY 1, 2),
       e AS (SELECT src_a, src_b, m_sz, n_common,
           CASE WHEN m_sz < $k THEN m_sz
                WHEN kth = 0 THEN CAST($k AS BIGINT)
                ELSE $kmvNum // kth END AS union_est
         FROM m)
       SELECT src_a, src_b, m_sz, n_common, union_est,
         CAST(n_common AS DOUBLE) / m_sz AS jaccard,
         (n_common * union_est) // m_sz AS inter_est
       FROM e ORDER BY src_a, src_b"""
  }

  /** x79's oracle: key counts + integer log2 (`length(bin(cnt))`),
    * quantized share, ceil-division salting factor.
    */
  private lazy val skewReportSql: String =
    """WITH c AS (SELECT lang AS key, CAST(count(*) AS BIGINT) AS cnt
                  FROM documents GROUP BY 1),
       t AS (SELECT sum(cnt) AS n_total FROM c)
       SELECT key, cnt, CAST(length(bin(cnt)) AS INTEGER) AS log2b,
         CAST(floor(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)
           * 1048576 + 0.5) AS BIGINT) AS share_q,
         CAST((cnt + 63) // 64 AS BIGINT) AS salt_rec
       FROM c, t ORDER BY cnt DESC, key LIMIT 10"""

  /** x80's oracle: the x15 all-pairs cosine truth as positives, the x46
    * staged-murmur3 machinery for the negative draws, collision rows
    * dropped — the same lockstep arithmetic end to end.
    */
  private lazy val tripletMineSql: String = {
    val (ctes, hc) = Murmur3Sql.hashLongCtes("tmsrc",
      Seq("anchor", "positive", "cosine", "j"), "tm")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       pr AS (SELECT a.vec_id AS anchor, b.vec_id AS positive,
                ${cosineRounded("a.embedding", "b.embedding")} AS cosine
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE ${cosineRounded("a.embedding", "b.embedding")} >= 0.4),
       tmsrc AS (SELECT anchor, positive, cosine, jj.j AS j,
                 anchor * 2 + jj.j AS v
               FROM pr, (SELECT unnest(range(0, 2)) AS j) AS jj),
       $ctes
       cand AS (SELECT anchor, positive, cosine, CAST(j AS INTEGER) AS j,
                  CAST(hu % (SELECT n FROM nn) AS BIGINT) AS neg_id
                FROM $hc)
       SELECT anchor, positive, cosine, j, neg_id
       FROM cand WHERE neg_id <> anchor AND neg_id <> positive
       ORDER BY anchor, positive, j"""
  }

  /** x81's oracle: the identical collapse → block → Levenshtein chain;
    * edit distance is integer-valued in both engines.
    */
  private val recordLinkageSql: String =
    """WITH d AS (SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_rows,
                    split_part(p_name, ' ', 1) AS blk
               FROM part GROUP BY 1)
       SELECT a.name AS name1, b.name AS name2,
         CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist,
         a.n_rows AS n1, b.n_rows AS n2
       FROM d a JOIN d b ON a.blk = b.blk AND a.name < b.name
       WHERE levenshtein(a.name, b.name) <= 4
       ORDER BY name1, name2"""

  /** x82's oracle: the x71 fit CTEs feeding the x54 temperature-rate
    * arithmetic with the k-means cell as the stratum key; acceptance
    * replays the murmur3 bucket of vec_id.
    */
  // asgf/g/rates are MATERIALIZED (the a69 lesson): asgf embeds the
  // whole k-means fit chain and is reachable from the final join
  // through ~6 reference paths — DuckDB 1.0 inlines each one, and the
  // multiplied fit OOMed the sf1 replay (100 GB limit) until the
  // round-10 full-surface sweep caught it.
  private lazy val clusterMixtureSql: String = {
    val (ctes, cbf) = kMeansCbCtes(k = 8, iters = 2)
    val (hashCtes, hu) = Murmur3Sql.hashLongCtes("cm0", Seq("vec_id", "cell"), "cmh")
    s"""WITH $ctes,
       asgf AS MATERIALIZED (SELECT vec_id, cell FROM (
                SELECT e.vec_id, cb.cell,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY ${cosineRounded("e.embedding", "cb.centroid")} DESC, cb.cell) AS rk
                FROM embeddings e, $cbf cb)
              WHERE rk = 1),
       cm0 AS (SELECT vec_id, cell, vec_id AS v FROM asgf),
       $hashCtes
       b AS (SELECT vec_id, cell, hu % 10000 AS bucket FROM $hu),
       counts AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_in FROM asgf GROUP BY 1),
       g AS MATERIALIZED (SELECT cell, n_in,
               floor(sqrt(CAST(n_in AS DOUBLE)) * 1048576 + 0.5) / 1048576 AS gq
             FROM counts),
       tot AS (SELECT CAST(sum(n_in) AS BIGINT) AS total, sum(gq) AS denom FROM g),
       rates AS MATERIALIZED (SELECT cell, n_in,
           CAST(floor(least(gq / denom * floor(CAST(total AS DOUBLE) / 2) / n_in,
             1.0) * 10000 + 0.5) AS BIGINT) AS mix_thr
         FROM g, tot),
       kept AS (SELECT b.cell, CAST(count(*) AS BIGINT) AS n_kept
                FROM b JOIN rates USING (cell)
                WHERE b.bucket < rates.mix_thr GROUP BY 1)
       SELECT r.cell, r.n_in, coalesce(k.n_kept, 0) AS n_kept, r.mix_thr
       FROM rates r LEFT JOIN kept k USING (cell)
       ORDER BY r.cell"""
  }

  /** x83's oracle: x08's stopword-ratio arithmetic + the identical
    * rank/percent_rank window — (rank−1)/(n−1) is a division of exact
    * integers, identical in both engines.
    */
  private val scoreCalibrateSql: String =
    """WITH w AS (
         SELECT doc_id, lang, regexp_split_to_array(lower(text), '\s+') AS ws
         FROM documents),
       m AS (
         SELECT doc_id, lang,
           CAST(len(list_filter(ws, t -> list_contains(
             ['the','a','of','and','is','to','in'], t))) AS DOUBLE)
             / len(ws) AS score
         FROM w)
       SELECT lang, doc_id, CAST(row_number() OVER win AS INTEGER) AS rk,
         percent_rank() OVER win AS pct_rank,
         CASE WHEN percent_rank() OVER win <= 0.5 THEN 1 ELSE 0 END AS keep
       FROM m
       WINDOW win AS (PARTITION BY lang ORDER BY score DESC NULLS LAST, doc_id)
       ORDER BY lang, rk"""

  /** x84's oracle: the shared exact jaccard pair CTEs (x02/x14/x59's —
    * banded == exact is pinned in RecallSpec) joined back to sources,
    * counted per unordered source pair.
    */
  private lazy val sourceOverlapSql: String =
    s"""WITH $jaccardPairsCtes,
       lab AS (SELECT least(da.source, db.source) AS source_a,
                      greatest(da.source, db.source) AS source_b
               FROM pairs JOIN documents da ON da.doc_id = pairs.d1
                          JOIN documents db ON db.doc_id = pairs.d2)
       SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
       FROM lab GROUP BY 1, 2 ORDER BY 1, 2"""

  /** x85's oracle: the shared distinct-shingle derivation + min-doc_id
    * first-occurrence attribution; the novelty ratio is one division
    * of exact integers.
    */
  private val ngramNoveltySql: String =
    """WITH w AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws
         FROM documents),
       sh AS (
         SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         FROM w WHERE len(ws) >= 3),
       f AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1)
       SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
         CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS novelty
       FROM sh JOIN f USING (s)
       GROUP BY 1 ORDER BY 1"""

  val oracle: Map[String, String] = Map(
    "x85_ngram_novelty" -> ngramNoveltySql,
    "x83_score_calibrate" -> scoreCalibrateSql,
    "x84_source_overlap" -> sourceOverlapSql,
    "x81_record_linkage" -> recordLinkageSql,
    "x82_cluster_mixture" -> clusterMixtureSql,
    "x80_triplet_mine" -> tripletMineSql,
    "x78_profile" -> profileSql,
    "x78b_profile_kmv" -> profileKmvSql,
    "x79_skew_report" -> skewReportSql,
    "x77_hybrid_retrieval" -> hybridRetrievalSql,
    "x73_dsir" -> dsirSql,
    "x74_linear_quality" -> linearQualitySql,
    "x75_zorder" -> zorderSql,
    "x108_hilbert" -> hilbertSql,
    "x76_bigram_lm" -> bigramLmSql,
    // parse_url components replayed as anchored regexes — equivalent on
    // these single-host, single-query-param URLs.
    "x35_url_parts" ->
      s"""WITH u AS (SELECT doc_id, $urlInjectSql AS url FROM documents)
         SELECT doc_id,
           regexp_extract(url, 'https?://([^/]+)', 1) AS host,
           regexp_extract(url, 'https?://[^/]*?([^./]+\\.[^./]+)(/|$$)', 1) AS reg_domain,
           regexp_extract(url, 'https?://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '[?&]id=([^&]*)', 1) AS q_param
         FROM u ORDER BY doc_id""",
    "x36_domain_stats" ->
      s"""WITH u AS (SELECT doc_id, $urlInjectSql AS url,
             CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS INTEGER) AS n_tok
           FROM documents),
         p AS (SELECT doc_id,
             regexp_extract(url, 'https?://[^/]*?([^./]+\\.[^./]+)(/|$$)', 1) AS reg_domain,
             n_tok
           FROM u)
         SELECT reg_domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
         FROM p GROUP BY 1 ORDER BY reg_domain""",
    // Bloom membership replayed bit-for-bit: the k hash functions are
    // disjoint 48-bit hex slices of sha256, so '0x…'::BIGINT % m in
    // DuckDB equals conv(substr,16,10) % m in Spark.
    "x31_bloom_dedup" ->
      """WITH d AS (SELECT doc_id, sha256(text) AS h FROM documents),
         hist AS (SELECT DISTINCT h FROM d WHERE doc_id % 10 < 8),
         bits AS (SELECT DISTINCT
             CAST(concat('0x', substr(h, 1 + 12*r, 12)) AS BIGINT) % 16384 AS pos
           FROM hist, range(4) t(r)),
         b AS (SELECT min(doc_id) AS doc_id, h FROM d
               WHERE doc_id % 10 >= 8 GROUP BY h),
         bp AS (SELECT doc_id, h,
             CAST(concat('0x', substr(h, 1 + 12*r, 12)) AS BIGINT) % 16384 AS pos
           FROM b, range(4) t(r)),
         mb AS (SELECT doc_id, h,
             CAST(min(CASE WHEN pos IN (SELECT pos FROM bits) THEN 1 ELSE 0 END) AS INTEGER) AS bloom_maybe
           FROM bp GROUP BY 1, 2)
         SELECT doc_id, h, bloom_maybe,
           CAST(CASE WHEN bloom_maybe = 1 AND h IN (SELECT h FROM hist)
                THEN 1 ELSE 0 END AS INTEGER) AS is_dup
         FROM mb ORDER BY doc_id""",
    // The d×w counter grid, min-over-rows estimate, and 1 % cut — all
    // exact integer arithmetic on sha256 hex-slice positions.
    "x32_heavy_hitters" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
                    FROM documents),
         n AS (SELECT count(*) AS n_stream FROM t),
         rp AS (SELECT CAST(concat('0x', substr(sha256(tok), 1 + 12*r, 12)) AS BIGINT) % 64 AS pos, r
                FROM t, range(4) s(r)),
         counters AS (SELECT r, pos, count(*) AS c FROM rp GROUP BY 1, 2),
         exact AS (SELECT tok, count(*) AS exact FROM t GROUP BY tok),
         cand AS (SELECT tok, exact, r,
             CAST(concat('0x', substr(sha256(tok), 1 + 12*r, 12)) AS BIGINT) % 64 AS pos
           FROM exact, range(4) s(r)),
         est AS (SELECT tok, exact, min(c) AS est
                 FROM cand JOIN counters USING (r, pos) GROUP BY 1, 2)
         SELECT tok, CAST(est AS BIGINT) AS est, CAST(exact AS BIGINT) AS exact
         FROM est, n WHERE est * 10000 >= n_stream * 100
         ORDER BY est DESC, tok""",
    "x33_pii_redact" ->
      s"""WITH inj AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or ('
               || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ') 555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               || ' at 10.' || CAST(doc_id % 256 AS VARCHAR)
               || '.' || CAST(doc_id % 100 AS VARCHAR)
               || '.' || CAST(doc_id % 50 AS VARCHAR) AS text
           FROM documents),
         e AS (SELECT doc_id, text,
             regexp_replace(text, '${TextAnalysis.EmailRe}', '[EMAIL]', 'g') AS t1
           FROM inj),
         p AS (SELECT doc_id, text, t1,
             regexp_replace(t1, '${TextAnalysis.PhoneRe}', '[PHONE]', 'g') AS t2
           FROM e)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(t1, '${TextAnalysis.PhoneRe}')) AS INTEGER) AS n_phone,
           CAST(len(regexp_extract_all(t2, '${TextAnalysis.Ipv4Re}')) AS INTEGER) AS n_ip,
           md5(regexp_replace(t2, '${TextAnalysis.Ipv4Re}', '[IP]', 'g')) AS sig
         FROM p ORDER BY doc_id""",
    // Parallel unnests run in lockstep in DuckDB, pairing each shingle
    // with its 0-based start position.
    "x34_boilerplate" ->
      """WITH base AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws
                       FROM documents),
         nd AS (SELECT count(*) AS n_docs FROM base),
         occ AS (SELECT doc_id,
             unnest(range(1, len(ws) - 1)) - 1 AS pos,
             unnest(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
           FROM base WHERE len(ws) >= 3),
         hot AS (SELECT s FROM
             (SELECT s, count(DISTINCT doc_id) AS df FROM occ GROUP BY s), nd
           WHERE df >= greatest(2, (n_docs + 99) // 100)),
         cov AS (SELECT DISTINCT doc_id, pos + o AS p
                 FROM occ JOIN hot USING (s), (VALUES (0), (1), (2)) v(o)),
         tok AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) - 1 AS p,
                        unnest(ws) AS tok
                 FROM base),
         keep AS (SELECT t.doc_id, t.p, t.tok FROM tok t
                  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
                  WHERE c.p IS NULL),
         agg AS (SELECT doc_id, count(*) AS n_kept,
                        string_agg(tok, ' ' ORDER BY p) AS clean
                 FROM keep GROUP BY doc_id)
         SELECT b.doc_id, CAST(len(b.ws) AS INTEGER) AS n_tok,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           md5(coalesce(a.clean, '')) AS clean_sig
         FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id""",
    "x28_tfidf" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
                   FROM tf GROUP BY 1),
         scored AS (
           SELECT doc_id, token, tf, df, CAST(tf AS DOUBLE) / df AS score
           FROM tf JOIN dfreq USING (token))
         SELECT doc_id, rank, token, tf, df, score FROM (
           SELECT doc_id, token, tf, df, score,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, token) AS INTEGER) AS rank
           FROM scored)
         WHERE rank <= 5 ORDER BY doc_id, rank""",
    "x29_pack_tokens" ->
      """WITH t AS (
           SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_tok
           FROM documents),
         p AS (
           SELECT doc_id, lang, n_tok,
             CAST(coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS stream_pos
           FROM t)
         SELECT doc_id, lang, n_tok, stream_pos,
           CAST(stream_pos // 2048 AS BIGINT) AS bin,
           CAST(stream_pos % 2048 AS BIGINT) AS bin_offset,
           CAST((stream_pos + n_tok - 1) // 2048 - stream_pos // 2048 + 1 AS BIGINT) AS bins_spanned
         FROM p ORDER BY doc_id""",
    "x30_mixture_balance" -> mixtureBalanceSql,
    "x21_pipeline_docs" ->
      s"""WITH RECURSIVE w AS (
           SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents),
         lang AS (
           SELECT doc_id FROM (
             SELECT doc_id,
               CAST(len(list_filter(ws, t -> list_contains(['the','a','of','and','is','to','in'], t))) AS INTEGER) AS en_hits,
               CAST(len(list_filter(ws, t -> list_contains(['der','die','das','und','ist','ein'], t))) AS INTEGER) AS de_hits,
               CAST(len(list_filter(ws, t -> list_contains(['el','la','de','y','es','un'], t))) AS INTEGER) AS es_hits,
               CAST(len(list_filter(ws, t -> list_contains(['le','la','de','et','est','un'], t))) AS INTEGER) AS fr_hits
             FROM w)
           WHERE greatest(en_hits, de_hits, es_hits, fr_hits) > 0
             AND en_hits = greatest(en_hits, de_hits, es_hits, fr_hits)),
         good AS (
           SELECT doc_id FROM w
           WHERE len(ws) BETWEEN 10 AND 100000
             AND coalesce(CASE WHEN length(text) = 0 THEN NULL
                   ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                        / length(text) END < 0.3, FALSE)),
         surv AS (
           SELECT w.doc_id, w.text, w.ws FROM w
           JOIN lang ON lang.doc_id = w.doc_id
           JOIN good ON good.doc_id = w.doc_id),
         exk AS (SELECT min(doc_id) AS doc_id FROM surv GROUP BY sha256(text)),
         ded AS (SELECT surv.doc_id, surv.text, surv.ws FROM surv JOIN exk ON exk.doc_id = surv.doc_id),
         sh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
           FROM ded WHERE len(ws) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         pairs AS (
           SELECT d1, d2 FROM (
             SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) i
           JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
           WHERE CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) >= 0.2),
         $closureCtes
         SELECT d.doc_id,
           CAST(len(d.ws) AS INTEGER) AS ws_tokens,
           md5(regexp_replace(lower(d.text), '\\s+', ' ', 'g')) AS fp_md5
         FROM ded d
         WHERE ${canonicalKeep("d.doc_id")}
         ORDER BY d.doc_id""",
    "x03_dedup_minhash" -> minhashNativeSql,
    "x86_oph_minhash" -> ophMinhashSql,
    // x87: per-vector audit — list_sum of double squares on the same
    // 1e-6 floor grid the cosine oracles use; min/max are comparisons.
    "x87_embedding_audit" ->
      """SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS n_dims,
           floor(list_sum(list_transform(range(1, len(embedding)+1),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS norm2_q,
           floor(list_sum(list_transform(range(1, len(embedding)+1),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 = 0.0 AS is_zero,
           CAST(list_min(embedding) AS DOUBLE) AS min_e,
           CAST(list_max(embedding) AS DOUBLE) AS max_e
         FROM embeddings ORDER BY vec_id""",
    "x88_token_budget_mix" -> tokenBudgetMixSql,
    "x89_ann_recall" -> annRecallSql,
    "x104_filtered_ann" -> filteredAnnSql,
    "x105_feature_hash" -> featureHashSql,
    "x106_mmr_rerank" -> mmrRerankSql,
    "x107_cluster_terms" -> clusterTermsSql,
    "x91_pca_power" -> pcaPowerSql,
    "x92_remove_top_pc" -> removeTopPcSql,

    // x93: compressed-domain exact quantiles — cum·100 ≥ n·p integer
    // cross-multiplication, the Spark window replayed verbatim.
    "x93_length_quantiles" ->
      """WITH t AS (SELECT source,
             CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
               AS len FROM documents),
         c AS (SELECT source, len, count(*) AS c FROM t GROUP BY 1, 2),
         w AS (SELECT source, len, c,
                 sum(c) OVER (PARTITION BY source ORDER BY len) AS cum,
                 sum(c) OVER (PARTITION BY source) AS n FROM c)
         SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
           min(CASE WHEN cum*100 >= n*25 THEN len END) AS p25,
           min(CASE WHEN cum*100 >= n*50 THEN len END) AS p50,
           min(CASE WHEN cum*100 >= n*75 THEN len END) AS p75,
           min(CASE WHEN cum*100 >= n*90 THEN len END) AS p90,
           min(CASE WHEN cum*100 >= n*99 THEN len END) AS p99
         FROM w GROUP BY 1 ORDER BY 1""",

    // x110: the three layouts' bin assignments replayed — the same
    // 16×16 quantization (scalar subqueries for the spans), the same
    // Morton terms (bits=4), the Hilbert walk via the staged CTEs, and
    // ntile(64) over each total order; skip tests are the identical
    // min/max range-miss conditions.
    "x110_skipping_report" -> {
      val mt = (0 until 4).flatMap(i => Seq(
        s"(((qu >> $i) & 1) * ${1L << (2 * i)})",
        s"(((qd >> $i) & 1) * ${1L << (2 * i + 1)})")).mkString(" + ")
      val (hctes, hcte) =
        HilbertSql.curveCtes("hsq", Seq("event_id", "uu", "dy"), "xs", 4)
      val arms = for {
        (lname, scte) <- Seq(("linear", "sL"), ("zorder", "sZ"),
          ("hilbert", "sH"))
        (pname, cond) <- Seq(
          ("p_user", "(max_u < 0 OR min_u > uhi)"),
          ("p_day", "(max_d < dlo OR min_d > dhi)"),
          ("p_both",
            "((max_u < 0 OR min_u > uhi) OR (max_d < dlo OR min_d > dhi))"))
      } yield
        s"""SELECT '$lname' AS layout, '$pname' AS predicate,
             CAST(count(*) AS BIGINT) AS n_bins,
             CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT)
               AS n_skipped
           FROM $scte, pp"""
      s"""WITH ebase AS (SELECT event_id, CAST(user_id AS BIGINT) AS uu,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dy
           FROM events),
         prm AS (SELECT max(uu) + 1 AS uspan, min(dy) AS dmin,
                   max(dy) - min(dy) + 1 AS dspan FROM ebase),
         q AS (SELECT event_id, uu, dy,
                 (uu * 16) // uspan AS qu,
                 ((dy - dmin) * 16) // dspan AS qd
               FROM ebase, prm),
         zq AS (SELECT event_id, uu, dy, CAST($mt AS BIGINT) AS zval
                FROM q),
         hsq AS (SELECT event_id, uu, dy, qu AS hx, qd AS hy FROM q),
         $hctes
         hv AS (SELECT event_id, uu, dy, d AS hval FROM $hcte),
         binL AS (SELECT uu, dy,
             ntile(64) OVER (ORDER BY dy, uu, event_id) AS bin FROM q),
         binZ AS (SELECT uu, dy,
             ntile(64) OVER (ORDER BY zval, event_id) AS bin FROM zq),
         binH AS (SELECT uu, dy,
             ntile(64) OVER (ORDER BY hval, event_id) AS bin FROM hv),
         sL AS (SELECT bin, min(uu) AS min_u, max(uu) AS max_u,
                  min(dy) AS min_d, max(dy) AS max_d FROM binL GROUP BY 1),
         sZ AS (SELECT bin, min(uu) AS min_u, max(uu) AS max_u,
                  min(dy) AS min_d, max(dy) AS max_d FROM binZ GROUP BY 1),
         sH AS (SELECT bin, min(uu) AS min_u, max(uu) AS max_u,
                  min(dy) AS min_d, max(dy) AS max_d FROM binH GROUP BY 1),
         pp AS (SELECT (uspan // 8) - 1 AS uhi, dmin + 10 AS dlo,
                  dmin + 12 AS dhi FROM prm),
         rep AS (${arms.mkString("\n           UNION ALL\n           ")})
         SELECT layout, predicate, n_bins, n_skipped,
           CAST(floor(CAST(n_skipped AS DOUBLE) / CAST(n_bins AS DOUBLE)
             * 1048576 + 0.5) AS BIGINT) AS skip_rate_q
         FROM rep ORDER BY layout, predicate"""
    },

    // x109: the quantile sketch replayed as the DIRECT bottom-k over
    // the whole corpus (murmur3 CTEs on doc_id, rank by (hu, doc_id,
    // len)) — equality with the Spark side's merge-of-shard-sketches
    // IS the bottom-k semilattice, the a70/x101 proof shape applied to
    // quantiles. Percentile cut = ⌈n·pct/100⌉-th order statistic of
    // the sample, pure integer arithmetic.
    "x109_quantile_sketch" -> {
      val k = graft.operators.Sketches.QsK
      val (ctes, hc) =
        Murmur3Sql.hashLongCtes("qt", Seq("source", "len", "doc_id"), "qh")
      s"""WITH qt AS (SELECT source,
             CAST(len(regexp_split_to_array(lower(text), '\\s+'))
               AS BIGINT) AS len,
             doc_id, doc_id AS v FROM documents),
         $ctes
         r AS (SELECT source, len,
                 row_number() OVER (PARTITION BY source
                   ORDER BY hu, doc_id, len) AS rk
               FROM $hc),
         s AS (SELECT source, list(len ORDER BY len) AS vs,
                 CAST(count(*) AS BIGINT) AS n
               FROM r WHERE rk <= $k GROUP BY source),
         c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM qt GROUP BY 1)
         SELECT s.source, c.n_docs, s.n AS sample_n,
           vs[(n*25+99)//100] AS p25_est,
           vs[(n*50+99)//100] AS p50_est,
           vs[(n*90+99)//100] AS p90_est,
           vs[(n*99+99)//100] AS p99_est
         FROM s JOIN c USING (source) ORDER BY source"""
    },

    // x111: both counter grids rebuilt from the same sha256 48-bit hex
    // slices (the x32/Bloom replay scheme), inner product per row over
    // the FULL d×w spine (absent cells contribute 0 — disjoint sides
    // correctly read est = 0, mirroring the Spark spine join), min over
    // rows; the exact arm is the per-key conditional-count join size.
    // All integer.
    "x111_join_size_cms" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS us_min,
             max(epoch_us(ts)) AS us_max FROM events),
         t AS (SELECT user_id,
             CASE WHEN epoch_us(ts) <= (us_min + us_max) // 2
               THEN 0 ELSE 1 END AS side
           FROM events, b),
         rp AS (SELECT side, r,
             CAST(concat('0x', substr(sha256(CAST(user_id AS VARCHAR)),
               1 + 12*r, 12)) AS BIGINT) % 256 AS pos
           FROM t, range(4) s(r)),
         g AS (SELECT side, r, pos, CAST(count(*) AS BIGINT) AS c
               FROM rp GROUP BY 1, 2, 3),
         sp AS (SELECT CAST(x // 256 AS INTEGER) AS r, x % 256 AS pos
                FROM range(1024) spn(x)),
         ip AS (SELECT sp.r,
                  sum(coalesce(ga.c, 0) * coalesce(gb.c, 0)) AS est_r
                FROM sp
                LEFT JOIN (SELECT r, pos, c FROM g WHERE side = 0) ga
                  ON ga.r = sp.r AND ga.pos = sp.pos
                LEFT JOIN (SELECT r, pos, c FROM g WHERE side = 1) gb
                  ON gb.r = sp.r AND gb.pos = sp.pos
                GROUP BY 1),
         e AS (SELECT CAST(min(est_r) AS BIGINT) AS est FROM ip),
         k AS (SELECT user_id,
             sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS nb
           FROM t GROUP BY 1),
         x AS (SELECT CAST(sum(na * nb) AS BIGINT) AS exact FROM k)
         SELECT CAST(4 AS INTEGER) AS d, CAST(256 AS INTEGER) AS w,
           est, exact,
           CAST((est - exact) * 10000 // greatest(exact, 1) AS BIGINT)
             AS err_bp
         FROM e, x""",

    // x118: identical decile rule (integer // on doc_id·10), the x02
    // shingle CTE, md5 fingerprints, min-bucket first-seen, same
    // integer-grid novelty.
    "x118_novelty_curve" ->
      """WITH hi AS (SELECT max(doc_id) AS max_id FROM documents),
         w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+')
               AS ws FROM documents),
         sh AS (SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(ws)-1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
           FROM w WHERE len(ws) >= 3),
         pairs AS (SELECT DISTINCT
             CAST(doc_id * 10 // (max_id + 1) AS INTEGER) AS b,
             md5(s) AS f
           FROM sh, hi),
         fs AS (SELECT f, min(b) AS fb FROM pairs GROUP BY 1),
         pb AS (SELECT b, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN fb = b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new_shingles
           FROM pairs JOIN fs USING (f) GROUP BY 1),
         nd AS (SELECT CAST(doc_id * 10 // (max_id + 1) AS INTEGER) AS b,
             CAST(count(*) AS BIGINT) AS n_docs
           FROM documents, hi GROUP BY 1)
         SELECT b, n_docs, n_shingles, n_new_shingles,
           CAST(n_new_shingles * 1048576 // n_shingles AS BIGINT)
             AS novelty_q
         FROM nd JOIN pb USING (b) ORDER BY b""",

    // x119: per-dim max-abs scales (float max — order-free exact),
    // the same ⌊v·127/m + 0.5⌋ quantizer with the m > 0 guard, integer
    // dots, the x05 list_sum float dot at round6, both rank windows,
    // integer recall grid.
    "x119_int8_recall" ->
      """WITH d AS (SELECT unnest(range(1,
             (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
         pm AS (SELECT i, max(abs(embedding[i])) AS m
             FROM embeddings, d GROUP BY i),
         sc AS (SELECT list(m ORDER BY i) AS ms FROM pm),
         qc AS (SELECT vec_id, embedding,
             list_transform(range(1, len(embedding) + 1),
               i -> CASE WHEN ms[i] > 0 THEN
                   CAST(floor(CAST(embedding[i] AS DOUBLE) * 127.0
                     / CAST(ms[i] AS DOUBLE) + 0.5) AS BIGINT)
                 ELSE 0 END) AS q
           FROM embeddings, sc),
         scored AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             floor(list_sum(list_transform(range(1, len(a.embedding)+1),
                 i -> CAST(a.embedding[i] AS DOUBLE)
                   * CAST(b.embedding[i] AS DOUBLE)))
               * 1000000 + 0.5) / 1000000 AS fdot,
             CAST(list_sum(list_transform(range(1, len(a.q)+1),
               i -> a.q[i] * b.q[i])) AS BIGINT) AS idot
           FROM qc a JOIN qc b
             ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
         rk AS (SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY fdot DESC, cand_id) AS re,
             row_number() OVER (PARTITION BY query_id
               ORDER BY idot DESC, cand_id) AS ri
           FROM scored)
         SELECT query_id, CAST(10 AS BIGINT) AS k,
           CAST(sum(CASE WHEN ri <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlap,
           CAST(sum(CASE WHEN ri <= 10 THEN 1 ELSE 0 END) * 1048576 // 10
             AS BIGINT) AS recall_q
         FROM rk WHERE re <= 10 GROUP BY query_id ORDER BY query_id""",

    // x120: same injection CTE, same RE2/Java-common patterns, DuckDB
    // regexp_* with the 'g' flag where Spark replaces globally by
    // default; lengths are characters on both engines (ASCII corpus +
    // ASCII injection).
    "x120_pii_scan" ->
      s"""WITH $piiInjectCte,
         c AS (SELECT doc_id,
             CAST(len(regexp_extract_all(text, '$PiiEmailRe')) AS BIGINT)
               AS n_email,
             CAST(len(regexp_extract_all(text, '$PiiPhoneRe')) AS BIGINT)
               AS n_phone,
             CAST(len(regexp_extract_all(text, '$PiiIpRe')) AS BIGINT)
               AS n_ip,
             CAST(length(text) AS BIGINT) AS raw_len,
             CAST(length(regexp_replace(regexp_replace(regexp_replace(
                 text, '$PiiEmailRe', '<PII>', 'g'),
                 '$PiiPhoneRe', '<PII>', 'g'),
                 '$PiiIpRe', '<PII>', 'g')) AS BIGINT) AS clean_len
           FROM pii)
         SELECT doc_id, n_email, n_phone, n_ip, raw_len, clean_len,
           n_email + n_phone + n_ip AS n_pii
         FROM c ORDER BY doc_id""",

    // x121: the x118 shingle/md5 CTE shape; df over distinct
    // (doc, fingerprint) pairs, fraction on the 2^-20 grid.
    "x121_boilerplate_ngrams" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+')
               AS ws FROM documents),
         sh AS (SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(ws)-1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
           FROM w WHERE len(ws) >= 3),
         p AS (SELECT doc_id, md5(s) AS f FROM sh),
         dfreq AS (SELECT f, CAST(count(*) AS BIGINT) AS df
           FROM p GROUP BY 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN df >= 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           CAST(sum(CASE WHEN df >= 4 THEN 1 ELSE 0 END) * 1048576
             // greatest(count(*), 1) AS BIGINT) AS boiler_q
         FROM p JOIN dfreq USING (f) GROUP BY 1 ORDER BY 1""",

    // x122: the same integer coverage-rank rule — rank over
    // (count desc, token), cumulative mass on the same total order,
    // cum*2 ≥ total / cum*10 ≥ 9·total boundaries; sums cast back from
    // DuckDB's HUGEINT, row_number from BIGINT to Spark's INT.
    "x122_vocab_concentration" ->
      """WITH tok AS (SELECT source,
             unnest(regexp_split_to_array(lower(text), '\s+')) AS token
           FROM documents),
         c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS cnt
           FROM tok GROUP BY 1, 2),
         w AS (SELECT source, token, cnt,
             row_number() OVER (PARTITION BY source
               ORDER BY cnt DESC, token) AS r,
             sum(cnt) OVER (PARTITION BY source
               ORDER BY cnt DESC, token
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(cnt) OVER (PARTITION BY source) AS total,
             count(*) OVER (PARTITION BY source) AS vocab
           FROM c)
         SELECT source, CAST(total AS BIGINT) AS total_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           CAST(min(CASE WHEN cum * 2 >= total THEN r END) AS INTEGER)
             AS r50,
           CAST(min(CASE WHEN cum * 10 >= total * 9 THEN r END) AS INTEGER)
             AS r90,
           CAST(max(CASE WHEN r = 1 THEN cnt END) AS BIGINT) AS top_cnt
         FROM w GROUP BY source, total, vocab ORDER BY source""",

    // x123: the same counts, the same top-200 vocab cut, and the
    // chi-square contribution with the IDENTICAL double operation
    // order (t*(a+b)/N, then d²/e + d²/e) before the 2^-20 grid —
    // IEEE arithmetic is deterministic given the same expression tree,
    // so values AND the (chisq_q desc, token) order replay exactly.
    // The CASE-on-zero-expected mirrors tokenChisq's degenerate-slice
    // guard (t_a or t_b = 0 ⇒ contribution 0, never 0/0 NaN).
    "x123_token_chisq" ->
      """WITH tok AS (SELECT
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS ina,
             unnest(regexp_split_to_array(lower(text), '\s+')) AS token
           FROM documents),
         c AS (SELECT token, CAST(sum(ina) AS BIGINT) AS n_a,
             CAST(sum(1 - ina) AS BIGINT) AS n_b
           FROM tok GROUP BY 1),
         v AS (SELECT * FROM c
           ORDER BY n_a + n_b DESC, token LIMIT 200),
         t AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a,
             CAST(sum(n_b) AS BIGINT) AS t_b FROM v),
         x AS (SELECT token, n_a, n_b,
             CAST(t_a AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)
               / CAST(t_a + t_b AS DOUBLE) AS e_a,
             CAST(t_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)
               / CAST(t_a + t_b AS DOUBLE) AS e_b
           FROM v, t)
         SELECT token, n_a, n_b,
           floor(((CASE WHEN e_a = 0 THEN 0 ELSE
               (CAST(n_a AS DOUBLE) - e_a) * (CAST(n_a AS DOUBLE) - e_a)
               / e_a END)
             + (CASE WHEN e_b = 0 THEN 0 ELSE
               (CAST(n_b AS DOUBLE) - e_b) * (CAST(n_b AS DOUBLE) - e_b)
               / e_b END)) * 1048576 + 0.5) / 1048576 AS chisq_q
         FROM x ORDER BY chisq_q DESC, token LIMIT 20""",

    // x124: the x14 closure machinery (jaccardPairsCtes + closureCtes,
    // shared so the chain cannot drift) + a text-partition first-copy
    // window + the disjoint kept/exact/near rollup per source.
    "x124_dedup_audit" ->
      s"""WITH RECURSIVE $jaccardPairsCtes,
         $closureCtes,
         canon AS (
           SELECT d.doc_id, d.source,
             $canonicalIdExpr AS canonical_id
           FROM documents d),
         ex AS (SELECT doc_id,
             min(doc_id) OVER (PARTITION BY text) AS first_id
           FROM documents),
         f AS (SELECT c.source,
             CASE WHEN c.doc_id = c.canonical_id THEN 1 ELSE 0 END AS kept,
             CASE WHEN e.first_id < e.doc_id THEN 1 ELSE 0 END AS isx
           FROM canon c JOIN ex e ON c.doc_id = e.doc_id)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN kept = 0 AND isx = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_removed_exact,
           CAST(sum(CASE WHEN kept = 0 AND isx = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_removed_near
         FROM f GROUP BY source ORDER BY source""",

    // x125: the same row_number ranks over the same (metric, doc_id)
    // total orders, exact integer d² sums, and the identical
    // (den − 6Σd²)·2^20 // greatest(den, 1) truncating division.
    "x125_spearman" ->
      """WITH t AS (SELECT doc_id, source,
             CAST(len(regexp_split_to_array(lower(text), '\s+'))
               AS INTEGER) AS n_words,
             CAST(len(list_distinct(regexp_split_to_array(lower(text),
               '\s+'))) AS INTEGER) AS n_distinct
           FROM documents),
         r AS (SELECT source,
             row_number() OVER (PARTITION BY source
               ORDER BY n_words, doc_id) AS r1,
             row_number() OVER (PARTITION BY source
               ORDER BY n_distinct, doc_id) AS r2
           FROM t),
         g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2
           FROM r GROUP BY 1)
         SELECT source, n_docs, sum_d2,
           CAST((n_docs * (n_docs * n_docs - 1) - 6 * sum_d2) * 1048576
             // greatest(n_docs * (n_docs * n_docs - 1), 1) AS BIGINT)
             AS rho_q
         FROM g ORDER BY source""",

    // x126: the shared x70 learn+encode CTE chain (bpeEncodeCtes — the
    // merge election and replacement arithmetic can never drift), then
    // the per-source rollup and the same truncating ratio.
    "x126_bpe_compression" -> {
      val B = "chr(31)"
      val BB = s"($B || $B)"
      s"""WITH ${bpeEncodeCtes(4)},
         enc AS (
           SELECT doc_id,
             CAST(len(ws) - 2 AS BIGINT) AS n_tokens,
             CAST(len(list_filter(ws[2:len(ws)-1], t -> contains(t, ' ')))
               AS BIGINT) AS n_merged
           FROM (SELECT doc_id, string_split(stream, $BB) AS ws
                 FROM s4))
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_merged) AS BIGINT) AS total_merged,
           CAST(sum(n_chars) * 1048576
             // greatest(sum(n_tokens), 1) AS BIGINT) AS chars_per_token_q
         FROM enc JOIN documents USING (doc_id)
         GROUP BY source ORDER BY source"""
    },

    // x127: the x03 signature/banding machinery (minhashSigBandCtes —
    // shared with x03/x66 so the lane arithmetic cannot drift),
    // bucket-collision candidates, exact shingle intersections
    // LEFT-joined (a candidate pair can share zero shingles), and the
    // same integer bucket division.
    // x130: the x14 closure machinery (jaccardPairsCtes + closureCtes,
    // shared so the chain cannot drift — the x124 route) + scan-side
    // token counts + the kept/saved split and truncating division.
    "x130_dedup_token_savings" ->
      s"""WITH RECURSIVE $jaccardPairsCtes,
         $closureCtes,
         canon AS (
           SELECT d.doc_id, d.source,
             CAST(len(regexp_split_to_array(lower(d.text), '\\s+'))
               AS BIGINT) AS n_tokens,
             $canonicalIdExpr AS canonical_id
           FROM documents d)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(sum(CASE WHEN doc_id = canonical_id THEN n_tokens
             ELSE 0 END) AS BIGINT) AS kept_tokens,
           CAST(sum(CASE WHEN doc_id = canonical_id THEN 0
             ELSE n_tokens END) AS BIGINT) AS saved_tokens,
           CAST(sum(CASE WHEN doc_id = canonical_id THEN 0
             ELSE n_tokens END) * 10000
             // greatest(sum(n_tokens), 1) AS BIGINT) AS saved_bp
         FROM canon GROUP BY 1 ORDER BY 1""",

    // x132: the x14 closure machinery (x124/x130 lockstep) + the
    // shared quality template instantiated with the "q" prefix (the
    // closure CTEs own the bare `w` name) + the 2×2 rollup.
    "x132_dedup_quality_bias" ->
      s"""WITH RECURSIVE $jaccardPairsCtes,
         $closureCtes,
         canon AS (
           SELECT d.doc_id, d.source,
             $canonicalIdExpr AS canonical_id
           FROM documents d),
         ${qualityMetricCtes("q")},
         qf AS (SELECT doc_id, $qualityOkExpr AS quality_ok FROM qm)
         SELECT c.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN c.doc_id = c.canonical_id
             AND q.quality_ok = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_ok,
           CAST(sum(CASE WHEN c.doc_id = c.canonical_id
             AND q.quality_ok = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_low,
           CAST(sum(CASE WHEN c.doc_id <> c.canonical_id
             AND q.quality_ok = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS removed_ok,
           CAST(sum(CASE WHEN c.doc_id <> c.canonical_id
             AND q.quality_ok = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS removed_low
         FROM canon c JOIN qf q ON c.doc_id = q.doc_id
         GROUP BY 1 ORDER BY 1""",

    // x128: the shared injection CTE + the identical regex char class
    // and the strict ·50 integer boundary.
    "x128_code_detect" ->
      s"""WITH $structuredInjectCte,
         m AS (SELECT source,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(regexp_replace(text,
               '[{}();=\\[\\]<>]', '', 'g')) AS BIGINT) AS n_code_chars
           FROM inj)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_code_chars * 50 > n_chars THEN 1 ELSE 0
             END) AS BIGINT) AS n_code_docs,
           CAST(sum(n_code_chars) AS BIGINT) AS sum_code_chars,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM m GROUP BY 1 ORDER BY 1""",

    // x129: the shared injection CTE, full-match numeric tokens (the
    // "0;" negative), and the strict ·20 integer boundary.
    "x129_numeric_density" ->
      s"""WITH $structuredInjectCte,
         m AS (SELECT source,
             CAST(len(regexp_split_to_array(lower(text), '\\s+'))
               AS BIGINT) AS n_tokens,
             CAST(len(list_filter(
               regexp_split_to_array(lower(text), '\\s+'),
               w -> regexp_full_match(w, '[0-9]+'))) AS BIGINT)
               AS n_numeric_tokens,
             CAST(length(text) - length(regexp_replace(text, '[0-9]',
               '', 'g')) AS BIGINT) AS n_digit_chars
           FROM inj)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_numeric_tokens * 20 > n_tokens THEN 1
             ELSE 0 END) AS BIGINT) AS n_numeric_docs,
           CAST(sum(n_numeric_tokens) AS BIGINT) AS sum_numeric_tokens,
           CAST(sum(n_digit_chars) AS BIGINT) AS sum_digit_chars,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM m GROUP BY 1 ORDER BY 1""",

    "x127_minhash_calibration" ->
      s"""WITH $minhashSigBandCtes,
         cand AS (
           SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
           FROM banded b1 JOIN banded b2
             ON b1.band = b2.band AND b1.bucket = b2.bucket
              AND b1.doc_id < b2.doc_id),
         sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
           FROM sh GROUP BY 1),
         iv AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
             CAST(count(*) AS BIGINT) AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         calc AS (
           SELECT c.d1, c.d2,
             CAST(len(list_filter(range(1, 17),
               i -> g1.sig[i] = g2.sig[i])) AS BIGINT) AS lanes,
             coalesce(iv.n_inter, 0) AS inter,
             z1.sz + z2.sz - coalesce(iv.n_inter, 0) AS uni
           FROM cand c
           JOIN sigs g1 ON g1.doc_id = c.d1
           JOIN sigs g2 ON g2.doc_id = c.d2
           JOIN sizes z1 ON z1.doc_id = c.d1
           JOIN sizes z2 ON z2.doc_id = c.d2
           LEFT JOIN iv ON iv.d1 = c.d1 AND iv.d2 = c.d2)
         SELECT CAST(abs(lanes * uni - 16 * inter) // uni AS BIGINT)
             AS err_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN lanes * uni > 16 * inter THEN 1 ELSE 0 END)
             AS BIGINT) AS n_over,
           CAST(sum(CASE WHEN lanes * uni < 16 * inter THEN 1 ELSE 0 END)
             AS BIGINT) AS n_under
         FROM calc GROUP BY 1 ORDER BY 1""",

    // x117: the filter bits and probe positions rebuilt from the same
    // sha256 48-bit hex slices (the x31/Bloom replay scheme), key-domain
    // rollup, min-over-positions membership, exact verify, integer
    // basis-point rates.
    "x117_bloom_join_prune" ->
      """WITH so AS (SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS sk
             FROM orders
             WHERE o_orderpriority = '1-URGENT'
               AND o_orderdate >= TIMESTAMP '1996-01-01'
               AND o_orderdate < TIMESTAMP '1996-02-01'),
         bp AS (SELECT DISTINCT
               CAST(concat('0x', substr(sha256(sk), 1 + 12*i, 12))
                 AS BIGINT) % 16384 AS pos,
               1 AS present
             FROM so, range(4) t(i)),
         keys AS (SELECT CAST(l_orderkey AS VARCHAR) AS bk,
               CAST(count(*) AS BIGINT) AS n_rows
             FROM lineitem GROUP BY 1),
         pr AS (SELECT bk, n_rows,
               CAST(concat('0x', substr(sha256(bk), 1 + 12*i, 12))
                 AS BIGINT) % 16384 AS pos
             FROM keys, range(4) t(i)),
         kp AS (SELECT bk, n_rows,
               min(CASE WHEN present IS NOT NULL THEN 1 ELSE 0 END) AS maybe
             FROM pr LEFT JOIN bp USING (pos) GROUP BY 1, 2),
         km AS (SELECT kp.*,
               CASE WHEN so.sk IS NOT NULL AND maybe = 1 THEN 1 ELSE 0 END
                 AS matched
             FROM kp LEFT JOIN so ON so.sk = kp.bk)
         SELECT CAST(sum(n_rows) AS BIGINT) AS n_big_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(maybe) AS BIGINT) AS n_maybe_keys,
           CAST(sum(matched) AS BIGINT) AS n_match_keys,
           CAST(sum(maybe) - sum(matched) AS BIGINT) AS n_fp_keys,
           CAST(sum(CASE WHEN maybe = 0 THEN n_rows ELSE 0 END) AS BIGINT)
             AS pruned_rows,
           CAST(sum(CASE WHEN maybe = 0 THEN n_rows ELSE 0 END) * 10000
             // sum(n_rows) AS BIGINT) AS prune_bp,
           CAST((sum(maybe) - sum(matched)) * 10000
             // greatest(count(*) - sum(matched), 1) AS BIGINT) AS fp_bp
         FROM km""",

    // x112: identical injection (pure function of text/doc_id), the
    // same {self} ∪ 1-deletions variant domain over the vocabulary,
    // and the same levenshtein + frequency-asymmetry verify. The token
    // fence interpolates TextAnalysis.MaxTypoTokenLen (the QsK pattern)
    // so Spark and oracle cannot desynchronize under a constant change.
    "x112_typo_dedup" ->
      s"""WITH inj AS (SELECT CASE WHEN doc_id % 7 = 0
               AND len(regexp_extract(text, '[a-z]{5,}')) >= 5
             THEN text || ' '
               || substr(regexp_extract(text, '[a-z]{5,}'), 1, 2)
               || substr(regexp_extract(text, '[a-z]{5,}'), 4)
             ELSE text END AS text FROM documents),
         vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+'))
                   AS tok FROM inj)
           WHERE regexp_matches(tok,
             '^[a-z]{4,${graft.operators.TextAnalysis.MaxTypoTokenLen}}$$')
           GROUP BY 1),
         vars AS (SELECT tok, cnt,
             unnest(list_append(list_transform(range(1, len(tok) + 1),
               i -> substr(tok, 1, i - 1)
                 || substr(tok, i + 1, len(tok) - i)), tok)) AS v
           FROM vocab),
         cand AS (SELECT DISTINCT va.tok AS typo, va.cnt AS typo_cnt,
             vb.tok AS corr, vb.cnt AS corr_cnt
           FROM vars va JOIN vars vb USING (v)
           WHERE va.tok <> vb.tok)
         SELECT typo, typo_cnt, corr, corr_cnt FROM cand
         WHERE levenshtein(typo, corr) = 1
           AND corr_cnt >= typo_cnt * 10 AND corr_cnt >= 5
         ORDER BY typo, corr""",

    // x113: the x109 sketch replay (murmur3 CTEs on doc_id, rank by
    // (hu, doc_id, n_chars)) + the integer Tukey fence + the flag join.
    "x113_outlier_fences" -> {
      val k = graft.operators.Sketches.QsK
      val (ctes, hc) =
        Murmur3Sql.hashLongCtes("qt", Seq("source", "nc", "doc_id"), "fh")
      s"""WITH qt AS (SELECT source, n_chars AS nc, doc_id, doc_id AS v
             FROM documents),
         $ctes
         r AS (SELECT source, nc,
                 row_number() OVER (PARTITION BY source
                   ORDER BY hu, doc_id, nc) AS rk
               FROM $hc),
         s AS (SELECT source, list(nc ORDER BY nc) AS vs,
                 CAST(count(*) AS BIGINT) AS n
               FROM r WHERE rk <= $k GROUP BY source),
         f AS (SELECT source,
                 vs[(n*25+99)//100] AS q25, vs[(n*75+99)//100] AS q75
               FROM s),
         f2 AS (SELECT source, q25, q75,
                 q75 + (q75 - q25) * 3 // 2 AS fence_hi FROM f)
         SELECT d.source, q25, q75, fence_hi,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN d.n_chars > fence_hi THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers
         FROM documents d JOIN f2 ON d.source = f2.source
         GROUP BY 1, 2, 3, 4 ORDER BY 1"""
    },

    // x114: per-source sketch replay (the x109/x113 murmur3 CTEs) plus
    // the GLOBAL bottom-k via a second, unpartitioned rank over the
    // same hash order — equality with Spark's merge-of-source-sketches
    // IS the semilattice (an element of the global bottom-k is in its
    // source's bottom-k, so the merge recovers it). Identical
    // range-frame cumulative ranks and the rational KS max.
    "x114_ks_drift" -> {
      val k = graft.operators.Sketches.QsK
      val (ctes, hc) =
        Murmur3Sql.hashLongCtes("qt", Seq("source", "nc", "doc_id"), "kh")
      s"""WITH qt AS (SELECT source, n_chars AS nc, doc_id, doc_id AS v
             FROM documents),
         $ctes
         r AS (SELECT source, nc,
                 row_number() OVER (PARTITION BY source
                   ORDER BY hu, doc_id, nc) AS rk,
                 row_number() OVER (ORDER BY hu, doc_id, nc) AS grk
               FROM $hc),
         sp AS (SELECT source, nc AS vv, 1 AS is_src, 0 AS is_glob
                FROM r WHERE rk <= $k),
         gp AS (SELECT s.source, g.vv, 0 AS is_src, 1 AS is_glob
                FROM (SELECT DISTINCT source FROM qt) s,
                     (SELECT nc AS vv FROM r WHERE grk <= $k) g),
         u AS (SELECT * FROM sp UNION ALL SELECT * FROM gp),
         sc AS (SELECT source,
             sum(is_src) OVER (PARTITION BY source ORDER BY vv
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1,
             sum(is_glob) OVER (PARTITION BY source ORDER BY vv
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2,
             sum(is_src) OVER (PARTITION BY source) AS n1,
             sum(is_glob) OVER (PARTITION BY source) AS n2
           FROM u),
         g AS (SELECT source, CAST(max(n1) AS BIGINT) AS sample_src,
             CAST(max(n2) AS BIGINT) AS sample_glob,
             CAST(max(abs(r1 * n2 - r2 * n1)) AS BIGINT) AS ks_num
           FROM sc GROUP BY 1)
         SELECT source, sample_src, sample_glob, ks_num,
           CAST(ks_num * 1048576 // (sample_src * sample_glob) AS BIGINT)
             AS ks_q
         FROM g ORDER BY source"""
    },

    // x115: the x14 closure replayed (same shared pair + reach CTEs),
    // labels rolled up to the size histogram with the weakest verified
    // edge per size class — jacc values are the x02-proven doubles, so
    // min() over them is cross-engine deterministic. lbl MUST be
    // MATERIALIZED: it is referenced by both sz and e, and DuckDB 1.0
    // inlines multi-referenced CTEs — two copies of the closure-
    // correlated label subquery spilled past the disk at sf1 (the x82
    // multi-path-reachability lesson).
    "x115_cluster_profile" ->
      s"""WITH RECURSIVE $jaccardPairsCtes,
         $closureCtes,
         lbl AS MATERIALIZED (
           SELECT d.doc_id, $canonicalIdExpr AS canonical_id
           FROM documents d),
         sz AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS n_docs
                FROM lbl GROUP BY 1),
         e AS (SELECT l.canonical_id, CAST(count(*) AS BIGINT) AS n_edges,
                 min(p.jacc) AS weakest
               FROM pairs p JOIN lbl l ON l.doc_id = p.d1 GROUP BY 1),
         cl AS (SELECT s.n_docs, coalesce(e.n_edges, 0) AS n_edges,
                 e.weakest
                FROM sz s LEFT JOIN e USING (canonical_id))
         SELECT n_docs, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n_edges) AS BIGINT) AS n_edges,
           min(weakest) AS weakest_jacc
         FROM cl GROUP BY 1 ORDER BY n_docs""",

    // x116: the exact-pair CTE (same jacc doubles the x02 gate proves)
    // swept over the same integer threshold spine; left joins keep
    // empty thresholds at 0/0.
    "x116_threshold_sensitivity" ->
      s"""WITH $jaccardPairsCtes,
         th AS (SELECT CAST(unnest(range(2, 10)) * 1000 AS INTEGER)
                  AS t_bp),
         hits AS (SELECT t_bp, d1, d2
                  FROM pairs, th
                  WHERE jacc >= CAST(t_bp AS DOUBLE) / 10000.0),
         np AS (SELECT t_bp, CAST(count(*) AS BIGINT) AS n_pairs
                FROM hits GROUP BY 1),
         nd AS (SELECT t_bp, CAST(count(*) AS BIGINT) AS n_docs FROM (
                  SELECT DISTINCT t_bp, doc FROM (
                    SELECT t_bp, unnest([d1, d2]) AS doc FROM hits))
                GROUP BY 1)
         SELECT t.t_bp, CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs
         FROM th t LEFT JOIN np USING (t_bp) LEFT JOIN nd USING (t_bp)
         ORDER BY t_bp""",

    // x94: bigram lift over contingency marginals — the one
    // grid-quantized division; bigrams via per-row index unnest.
    "x94_collocations" ->
      """WITH d AS (SELECT regexp_split_to_array(lower(text), '\s+') AS ws
                    FROM documents),
         b AS (SELECT ws[x] AS w1, ws[x + 1] AS w2
               FROM (SELECT ws, unnest(range(1, len(ws))) AS x
                     FROM d WHERE len(ws) >= 2)),
         cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bi
                FROM b GROUP BY 1, 2 HAVING count(*) >= 5),
         ch AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_head
                FROM b GROUP BY 1),
         ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS c_tail
                FROM b GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_bi FROM b)
         SELECT w1, w2, c_bi, c_head, c_tail,
           floor(CAST(c_bi * n_bi AS DOUBLE)
               / CAST(c_head * c_tail AS DOUBLE) * 1048576 + 0.5)
             / 1048576 AS lift
         FROM cb JOIN ch USING (w1) JOIN ct USING (w2), n
         ORDER BY lift DESC, w1, w2 LIMIT 25""",

    // x95: md5-keyed exact-dup profile per source.
    "x95_dup_profile" ->
      """WITH h AS (SELECT source, md5(text) AS h, count(*) AS c
                    FROM documents GROUP BY 1, 2)
         SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(c) - count(*) AS BIGINT) AS dup_docs,
           CAST(max(c) AS BIGINT) AS max_cluster,
           CAST(floor(CAST(sum(c) - count(*) AS DOUBLE)
               / CAST(sum(c) AS DOUBLE) * 1048576 + 0.5) AS BIGINT)
             AS dup_rate_q
         FROM h GROUP BY 1 ORDER BY 1""",

    // x97: the winnowing selection replayed — the x96 BYTE-window
    // polynomial per BYTE position (fingerprints are hash values, never
    // positions, so no char-end admission here), per-window minima, df
    // prune, shared-fingerprint pair join. ASCII rows keep the cheap
    // codepoint form; injected multi-byte rows evaluate the same
    // polynomial over hex(encode(text)) byte values.
    "x97_winnowing" ->
      s"""WITH $cdcInjectCte,
         hb AS (SELECT doc_id, text, hex(encode(text)) AS hx,
                  strlen(text) AS nb FROM inj),
         kh AS (SELECT doc_id,
             CASE WHEN nb = length(text) THEN
               list_transform(range(8, length(text) + 1), p ->
                 list_sum(list_transform(range(0, 8), j ->
                   unicode(text[p - j]) * $cdcPowList[j + 1])))
             ELSE
               list_transform(range(8, nb + 1), p ->
                 list_sum(list_transform(range(0, 8), j ->
                   CAST(concat('0x', substr(hx, 2*(p - j) - 1, 2)) AS BIGINT)
                     * $cdcPowList[j + 1])))
             END AS kh
           FROM hb),
         fp AS (SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(kh) - 2),
               i -> list_min(kh[i:i+3])))) AS fp
           FROM kh WHERE len(kh) >= 4),
         dfc AS (SELECT fp, count(*) AS df FROM fp GROUP BY 1),
         kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN dfc USING (fp)
                  WHERE df <= 64),
         pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                     CAST(count(*) AS BIGINT) AS n_shared
                   FROM kept a JOIN kept b
                     ON a.fp = b.fp AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT d1, d2, n_shared FROM pairs
         ORDER BY n_shared DESC, d1, d2 LIMIT 20""",

    // x98: top-1000 frequency vocab (count desc, token asc), left join,
    // one grid division.
    "x98_vocab_coverage" ->
      """WITH t AS (SELECT source,
             unnest(regexp_split_to_array(lower(text), '\s+')) AS token
           FROM documents),
         v AS (SELECT token FROM (
                 SELECT token, count(*) AS cnt FROM t GROUP BY 1)
               ORDER BY cnt DESC, token LIMIT 1000),
         m AS (SELECT t.source, t.token,
                 CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END AS in_v
               FROM t LEFT JOIN v ON v.token = t.token)
         SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(in_v) AS BIGINT) AS n_in_vocab,
           CAST(floor(CAST(sum(in_v) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               * 1048576 + 0.5) AS BIGINT) AS coverage_q
         FROM m GROUP BY 1 ORDER BY 1""",

    // x100: the x96 chunk CTE (non-ASCII-extended, char-end boundary
    // dual) with per-chunk (len, md5) structs, split into history/batch
    // arms on doc_id % 5, probed via left join.
    "x100_cdc_incremental" ->
      s"""WITH $cdcInjectCte,
         $cdcBoundaryCtes,
         e AS (SELECT doc_id, text,
             list_sort(list_distinct(list_append(bnds, length(text)))) AS ends
           FROM b0),
         ch AS (SELECT doc_id,
             unnest(list_transform(range(1, len(ends) + 1), i ->
               {'clen': ends[i] - (CASE WHEN i = 1 THEN 0
                                        ELSE ends[i - 1] END),
                'h': md5(text[(CASE WHEN i = 1 THEN 0
                               ELSE ends[i - 1] END) + 1 : ends[i]])}),
               recursive := true)
           FROM e),
         hist AS (SELECT DISTINCT h FROM ch WHERE doc_id % 5 <> 0),
         bat AS (SELECT * FROM ch WHERE doc_id % 5 = 0)
         SELECT bat.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN hist.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new_chunks,
           CAST(sum(clen) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN hist.h IS NULL THEN clen ELSE 0 END) AS BIGINT)
             AS new_chars,
           CASE WHEN sum(clen) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(CAST(sum(CASE WHEN hist.h IS NOT NULL
                                          THEN clen ELSE 0 END) AS DOUBLE)
                    / CAST(sum(clen) AS DOUBLE) * 1048576 + 0.5) AS BIGINT)
           END AS reuse_rate_q
         FROM bat LEFT JOIN hist ON hist.h = bat.h
         GROUP BY 1 ORDER BY 1""",

    // x96: the CDC rolling-hash boundaries (8-BYTE window, base-31
    // polynomial, mod-64 mask, char-end admission) and chunk md5s
    // replayed with list HOFs over the non-ASCII-extended corpus, then
    // the same per-source dup rollup as x95.
    "x96_cdc_chunks" ->
      s"""WITH $cdcInjectCte,
         $cdcBoundaryCtes,
         e AS (SELECT source, text,
             list_sort(list_distinct(list_append(bnds, length(text)))) AS ends
           FROM b0),
         ch AS (SELECT source,
             unnest(list_transform(range(1, len(ends) + 1), i ->
               md5(text[(CASE WHEN i = 1 THEN 0 ELSE ends[i - 1] END) + 1
                        : ends[i]]))) AS h
           FROM e),
         g AS (SELECT source, h, count(*) AS c FROM ch GROUP BY 1, 2)
         SELECT source, CAST(sum(c) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(c) - count(*) AS BIGINT) AS dup_chunks,
           CAST(max(c) AS BIGINT) AS max_cluster,
           CAST(floor(CAST(sum(c) - count(*) AS DOUBLE)
               / CAST(sum(c) AS DOUBLE) * 1048576 + 0.5) AS BIGINT)
             AS dup_rate_q
         FROM g GROUP BY 1 ORDER BY 1""",
    // x90: same grid-quantized per-row products, exact grid-addend sums.
    "x90_gram_matrix" ->
      """WITH p AS (
           SELECT CAST(i.i AS INTEGER) AS i, CAST(j.j AS INTEGER) AS j,
             floor(CAST(embedding[CAST(i.i AS INTEGER) + 1] AS DOUBLE)
                 * CAST(embedding[CAST(j.j AS INTEGER) + 1] AS DOUBLE)
                 * 1048576 + 0.5) / 1048576 AS q
           FROM embeddings,
             (SELECT unnest(range(0, (SELECT max(len(embedding))
                                      FROM embeddings))) AS i) i,
             (SELECT unnest(range(0, (SELECT max(len(embedding))
                                      FROM embeddings))) AS j) j
           WHERE j.j >= i.i)
         SELECT i, j, sum(q) AS g FROM p GROUP BY 1, 2 ORDER BY 1, 2""",
    "x20_banded_jaccard" -> exactJaccardSql,
    "x22_pipeline_embeddings" ->
      s"""WITH RECURSIVE emb AS (SELECT vec_id, embedding, label FROM embeddings),
         pairs AS (
           SELECT a.vec_id AS d1, b.vec_id AS d2
           FROM emb a JOIN emb b ON a.vec_id < b.vec_id
           WHERE ${cosineRounded("a.embedding", "b.embedding")} >= 0.4),
         $closureCtes,
         kept AS (
           SELECT vec_id FROM emb
           WHERE ${canonicalKeep("emb.vec_id")})
         ${centroidSql("emb JOIN kept ON kept.vec_id = emb.vec_id")}""",
    "x04_simhash" ->
      s"""WITH $simhashUnsignedSql
         SELECT doc_id, ${signed64("hu")} AS simhash
         FROM fpu ORDER BY doc_id""",
    "x19_simhash_candidates" ->
      s"""WITH $simhashUnsignedSql,
         banded AS (
           SELECT doc_id, hu, bb.b AS band,
             (hu >> CAST(16 * bb.b AS INTEGER)) % 65536 AS key
           FROM fpu, (SELECT unnest(range(0, 4)) AS b) bb),
         cand AS (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             a.hu AS h1, b.hu AS h2
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
         FROM cand ORDER BY d1, d2""",

    // x99: the x19 candidate chain + the x02 exact-Jaccard chain,
    // joined per candidate pair; integer cross-multiplied TP test
    // (i·5 ≥ u·1 ⇔ jaccard ≥ 0.2), one grid division for precision.
    "x99_neardup_eval" ->
      s"""WITH $simhashUnsignedSql,
         banded AS (
           SELECT doc_id, hu, bb.b AS band,
             (hu >> CAST(16 * bb.b AS INTEGER)) % 65536 AS key
           FROM fpu, (SELECT unnest(range(0, 4)) AS b) bb),
         cand AS (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             a.hu AS h1, b.hu AS h2
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         chh AS (SELECT d1, d2,
             CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming FROM cand),
         w AS (SELECT doc_id,
             regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents),
         sh AS (SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(ws)-1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
           FROM w WHERE len(ws) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         inter AS (SELECT c.d1, c.d2, count(*) AS i
           FROM chh c JOIN sh a ON a.doc_id = c.d1
                      JOIN sh b ON b.doc_id = c.d2 AND b.s = a.s
           GROUP BY 1, 2),
         sc AS (SELECT chh.d1, chh.d2, chh.hamming,
             coalesce(i.i, 0) AS i,
             coalesce(s1.sz, 0) + coalesce(s2.sz, 0) - coalesce(i.i, 0) AS u
           FROM chh LEFT JOIN inter i USING (d1, d2)
             LEFT JOIN sizes s1 ON s1.doc_id = chh.d1
             LEFT JOIN sizes s2 ON s2.doc_id = chh.d2),
         tp AS (SELECT hamming,
             CASE WHEN u = 0 OR i * 5 >= u * 1 THEN 1 ELSE 0 END AS tp
           FROM sc)
         SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(tp) AS BIGINT) AS n_true,
           CAST(floor(CAST(sum(tp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               * 1048576 + 0.5) AS BIGINT) AS precision_q
         FROM tp GROUP BY 1 ORDER BY 1""",
    "x11_fingerprint_rolling" ->
      """SELECT doc_id,
           CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
                     THEN h - CAST(18446744073709551616 AS HUGEINT)
                     ELSE h END AS BIGINT) AS fp_rolling
         FROM (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS HUGEINT),
                 list_transform(range(1, length(text)+1),
                   i -> CAST(unicode(text[i]) AS HUGEINT))),
               (acc, c) -> (acc * 1000003 + c)
                 % CAST(18446744073709551616 AS HUGEINT)) AS h
           FROM documents)
         ORDER BY doc_id""",
    "x18_frame_sample" ->
      """WITH f AS (
           SELECT doc_id, text,
             unnest(range(0, greatest(1, octet_length(CAST(text AS BLOB)) // 256), 4)) AS frame_idx
           FROM documents)
         SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(frame_idx * 256 AS INTEGER) AS "offset",
           CAST(list_sum(list_transform(
             range(CAST(frame_idx * 256 + 1 AS INTEGER),
                   least(length(text), CAST(frame_idx * 256 + 256 AS INTEGER)) + 1),
             i -> unicode(text[i]))) AS BIGINT) AS checksum
         FROM f ORDER BY doc_id, frame_idx""",
    "x01_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups,
           sha256(text) AS content_hash
         FROM documents GROUP BY sha256(text) ORDER BY keep_id""",
    "x02_dedup_jaccard" -> exactJaccardSql,
    "x05_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
         scored AS (
           SELECT query_id, cand_id,
             floor(
               list_sum(list_transform(range(1, len(qv)+1),
                 i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, len(qv)+1),
                    i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, len(cv)+1),
                    i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))
               * 1000000 + 0.5) / 1000000 AS cosine
           FROM q, c WHERE query_id <> cand_id)
         SELECT query_id, rank, cand_id, cosine FROM (
           SELECT query_id, cand_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank
           FROM scored)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // x07: the scored CTE is [[langScoredCtes]], shared verbatim with
    // x131's margin audit so the hit arithmetic cannot drift.
    "x07_lang_id" ->
      s"""WITH $langScoredCtes
         SELECT doc_id, lang, en_hits, de_hits, es_hits, fr_hits,
           CASE WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0 THEN 'und'
                WHEN en_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'en'
                WHEN de_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'de'
                WHEN es_hits = greatest(en_hits, de_hits, es_hits, fr_hits) THEN 'es'
                ELSE 'fr' END AS pred_lang
         FROM scored ORDER BY doc_id""",

    // x131: x07's scored CTE VERBATIM + the sorted-hit-list margin and
    // the strict ≤ 1 ambiguity boundary (pure integers both engines).
    "x131_langid_margin" ->
      s"""WITH $langScoredCtes,
         m AS (SELECT source,
             (list_sort([en_hits, de_hits, es_hits, fr_hits],
               'DESC'))[1] AS best,
             CAST((list_sort([en_hits, de_hits, es_hits, fr_hits],
               'DESC'))[1]
               - (list_sort([en_hits, de_hits, es_hits, fr_hits],
               'DESC'))[2] AS BIGINT) AS margin
           FROM scored)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN best = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_und,
           CAST(sum(CASE WHEN best > 0 AND margin <= 1 THEN 1 ELSE 0
             END) AS BIGINT) AS n_ambiguous,
           CAST(sum(CASE WHEN best > 0 AND margin > 1 THEN 1 ELSE 0
             END) AS BIGINT) AS n_confident,
           CAST(sum(margin) AS BIGINT) AS sum_margin
         FROM m GROUP BY 1 ORDER BY 1""",
    // x08: the metric CTEs are the shared [[qualityMetricCtes]]
    // template (x132 lockstep — see its entry).
    "x08_text_quality" ->
      s"""WITH ${qualityMetricCtes("")}
         SELECT doc_id, n_tokens, mean_token_len, punct_ratio, stopword_ratio,
           $qualityOkExpr AS quality_ok
         FROM m ORDER BY doc_id""",
    "x09_token_counts" ->
      """SELECT doc_id,
           CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS bpe_tokens
         FROM documents ORDER BY doc_id""",
    "x10_fingerprint_md5" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp_md5
         FROM documents ORDER BY doc_id""",
    "x12_multimodal_features" ->
      """SELECT doc_id, 'text/plain' AS media_type,
           CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS byte_len,
           CAST(octet_length(CAST(text AS BLOB)) // 1024 + 1 AS INTEGER) AS n_frames,
           16000 AS sample_rate
         FROM documents ORDER BY doc_id""",
    "x13_label_centroids" -> centroidSql("embeddings"),
    "x16_token_freq" ->
      """SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM (
           SELECT doc_id, unnest(list_distinct(
             regexp_split_to_array(lower(text), '\s+'))) AS token
           FROM documents)
         GROUP BY token ORDER BY df DESC, token LIMIT 50""",
    "x06_ann_lsh" -> srpLshSql,
    "x17_ann_ivf" -> ivfSampledSql,
    "x43_product_quantize" -> pqSql,
    "x50_ann_ivfpq" -> ivfPqSql,
    "x51_containment_dedup" -> containmentSql,
    "x52_bm25" -> bm25Sql,
    "x53_shuffle_shard" -> shuffleShardSql,
    "x65_stratified_take" -> stratifiedTakeSql,
    "x54_temperature_mix" -> temperatureMixSql,
    "x55_pagerank" -> pageRankSql,
    "x56_importance_resample" -> importanceResampleSql,
    "x57_semantic_dedup" -> semDedupSql,
    "x58_duplicate_spans" -> duplicateSpansSql,
    "x61_remove_spans" -> removeSpansSql,
    "x62_int8_quantize" -> int8QuantizeSql,
    "x64_pack_bins" -> packBinsSql,
    "x63_eval_contamination" -> evalContaminationSql,
    "x59_cluster_split" -> clusterSplitSql,
    "x60_perplexity_buckets" -> perplexityBucketsSql,
    "x46_negative_samples" -> negSampleSql,
    // keep ⇔ every gopher rule passes (the complement of x40's reasons).
    "x47_dataset_card" ->
      """WITH s AS (
           SELECT doc_id, lang, n_chars,
             CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INTEGER) AS n_words,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
               / len(regexp_split_to_array(lower(text), '\s+')) AS mwl,
             CAST(list_max(list_transform(list_distinct(regexp_split_to_array(lower(text), '\s+')),
               w -> len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x = w)))) AS DOUBLE)
               / len(regexp_split_to_array(lower(text), '\s+')) AS ts
           FROM documents),
         k AS (SELECT lang, n_chars, n_words,
                (n_words BETWEEN 20 AND 80) AND mwl >= 4.3 AND mwl <= 4.7
                  AND ts <= 0.12 AS keep
               FROM s)
         SELECT lang, keep, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM k GROUP BY 1, 2 ORDER BY lang, keep""",
    // host/path replayed from the same deterministic construction that
    // injected the URLs (x35's anchored-regex replay covers parse_url).
    "x48_url_dedup" ->
      s"""WITH u AS (SELECT doc_id,
             'sub' || CAST(doc_id % 5 AS VARCHAR) || '.domain'
               || CAST(doc_id % 20 AS VARCHAR) || '.com' AS host,
             '/path' || CAST(doc_id % 7 AS VARCHAR) || '/page' AS path
           FROM documents)
         SELECT host, path, min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_dups
         FROM u GROUP BY 1, 2 ORDER BY host, path""",
    "x49_length_histogram" ->
      """SELECT source, CAST(length(bin(n_chars)) AS INTEGER) AS len_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY 1, 2 ORDER BY source, len_bucket""",
    // x14's closure machinery + two aggregations: component sizes, then
    // the size histogram.
    "x44_cluster_sizes" ->
      s"""WITH RECURSIVE w AS (
           SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
           FROM w WHERE len(ws) >= 3),
         sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         pairs AS (
           SELECT d1, d2 FROM (
             SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) i
           JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
           WHERE CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) >= 0.2),
         $closureCtes,
         canon AS (
           SELECT d.doc_id,
             coalesce(least((SELECT min(r.b) FROM reach r WHERE r.a = d.doc_id), d.doc_id),
                      d.doc_id) AS canonical_id
           FROM documents d),
         cs AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
                FROM canon GROUP BY 1)
         SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM cs GROUP BY 1 ORDER BY cluster_size""",
    "x45_event_dedup_window" ->
      """WITH b AS (
           SELECT user_id, event_type,
             CAST(time_bucket(INTERVAL 5 MINUTE, ts) AS TIMESTAMP) AS w_start,
             CAST(ts AS TIMESTAMP) AS ts, event_id,
             row_number() OVER (
               PARTITION BY user_id, event_type, time_bucket(INTERVAL 5 MINUTE, ts)
               ORDER BY ts, event_id) AS rn
           FROM events)
         SELECT user_id, event_type, w_start, ts, event_id
         FROM b WHERE rn = 1
         ORDER BY user_id, event_type, w_start""",
    "x23_chunk" ->
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
             FROM documents),
         st AS (SELECT doc_id, toks,
                  unnest(range(0, greatest(1, len(toks)), 24)) AS start FROM t)
         SELECT doc_id, CAST(start // 24 AS INTEGER) AS chunk_id,
           CAST(len(toks[start+1:start+32]) AS INTEGER) AS chunk_len,
           array_to_string(toks[start+1:start+32], ' ') AS chunk_text
         FROM st ORDER BY doc_id, chunk_id""",
    "x24_sample" -> hashSampleSql,
    "x25_decontaminate" ->
      s"""WITH w AS (
           SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
           FROM w WHERE len(ws) >= 3),
         ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20),
         sz AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS sz FROM sh
                WHERE doc_id >= 20 GROUP BY 1),
         ov AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
                FROM sh c JOIN ev USING (s) WHERE c.doc_id >= 20 GROUP BY 1)
         SELECT ov.doc_id, sz.sz, ov.n_overlap,
           ov.n_overlap / sz.sz AS contam_ratio
         FROM ov JOIN sz USING (doc_id)
         WHERE ov.n_overlap >= 1 ORDER BY ov.doc_id""",
    "x66_near_dedup_against" -> nearDedupAgainstSql,
    "x67b_bpe_merges" -> bpeMergesSql(4),
    "x68_phash_dedup" -> phashDedupSql,
    "x69_frame_dedup" -> frameDedupSql,
    "x70_bpe_encode" -> bpeEncodeSql(4),
    "x71_kmeans" -> kMeansSql,
    "x72_ann_ivf_trained" -> ivfTrainedSql,
    "x67_bpe_pairs" ->
      """WITH w AS (
           SELECT regexp_split_to_array(lower(text), '\s+') AS ws
           FROM documents),
         p AS (
           SELECT ws[i] AS w1, ws[i+1] AS w2
           FROM (SELECT ws, unnest(range(1, len(ws))) AS i
                 FROM w WHERE len(ws) >= 2))
         SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pairs
         FROM p GROUP BY 1, 2
         ORDER BY n_pairs DESC, w1, w2 LIMIT 50""",
    "x27_incremental_dedup" ->
      """WITH h AS (SELECT doc_id, sha256(text) AS h FROM documents),
         b AS (SELECT min(doc_id) AS doc_id, h FROM h
               WHERE doc_id % 10 >= 8 GROUP BY h),
         hist AS (SELECT DISTINCT h FROM h WHERE doc_id % 10 < 8)
         SELECT b.doc_id, b.h FROM b
         WHERE b.h NOT IN (SELECT h FROM hist)
         ORDER BY b.doc_id""",
    "x26_repetition" ->
      s"""WITH w AS (
           SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents),
         shd AS (
           SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
           FROM w WHERE len(ws) >= 3),
         pc AS (SELECT doc_id, s, count(*) AS c FROM shd GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
           CAST(max(c) AS BIGINT) AS max_rep,
           CAST(max(c) AS BIGINT) / CAST(sum(c) AS BIGINT) AS rep_ratio
         FROM pc GROUP BY doc_id ORDER BY doc_id""",
    "x15_dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings)
         SELECT a.vec_id AS d1, b.vec_id AS d2,
           ${cosineRounded("a.embedding", "b.embedding")} AS cosine
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE ${cosineRounded("a.embedding", "b.embedding")} >= 0.4
         ORDER BY d1, d2""",
    "x14_dedup_keepone" ->
      s"""WITH RECURSIVE $jaccardPairsCtes,
         $closureCtes
         SELECT d.doc_id, $canonicalIdExpr AS canonical_id
         FROM documents d ORDER BY d.doc_id""",
    // Blocking on prefix + |len diff| ≤ band is equivalent to the
    // engine's (prefix, length-bucket ±1) join: |len₁−len₂| ≤ band
    // implies bucket distance ≤ 1, so the same pairs meet.
    "x37_fuzzy_dedup" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
                    substr(text, 1, 24) AS pfx FROM documents)
         SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist
         FROM d a JOIN d b
           ON a.pfx = b.pfx AND a.doc_id < b.doc_id
          AND abs(a.len - b.len) <= 24
         WHERE levenshtein(a.text, b.text) <= 20
         ORDER BY d1, d2""",
    "x38_passage_dedup" ->
      """WITH t AS (
           SELECT doc_id, unnest(ws) AS tok, unnest(range(0, len(ws))) AS p
           FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws
                 FROM documents)),
         ps AS (SELECT doc_id, CAST(p // 10 AS INTEGER) AS pid,
                  string_agg(tok, ' ' ORDER BY p) AS passage
                FROM t GROUP BY 1, 2),
         r AS (SELECT doc_id, pid, passage,
                 row_number() OVER (PARTITION BY passage ORDER BY doc_id, pid) AS rn
               FROM ps),
         kept AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                    string_agg(passage, ' ' ORDER BY pid) AS dt
                  FROM r WHERE rn = 1 GROUP BY 1),
         np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pass FROM ps GROUP BY 1)
         SELECT np.doc_id, np.n_pass,
           CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
           md5(coalesce(kept.dt, '')) AS dedup_sig
         FROM np LEFT JOIN kept USING (doc_id)
         ORDER BY np.doc_id""",
    "x39_normalize" ->
      """SELECT doc_id,
           md5(n) AS norm_md5,
           CAST(length(n) AS INTEGER) AS n_chars_norm,
           substr(n, 1, 40) AS norm_head
         FROM (SELECT doc_id,
                 trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                      ' +', ' ', 'g')) AS n
               FROM documents)
         ORDER BY doc_id""",
    "x40_gopher_quality" ->
      """WITH m AS (
           SELECT doc_id, text,
             regexp_split_to_array(lower(text), '\s+') AS ws,
             CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INTEGER) AS n_words
           FROM documents),
         s AS (
           SELECT doc_id, n_words,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / n_words AS mean_word_len,
             CAST(list_max(list_transform(list_distinct(ws),
               w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE) / n_words AS top_share
           FROM m),
         rs AS (
           SELECT doc_id, n_words, mean_word_len, top_share,
             list_filter([
               CASE WHEN n_words < 20 THEN 'too_short' END,
               CASE WHEN n_words > 80 THEN 'too_long' END,
               CASE WHEN mean_word_len < 4.3 THEN 'short_words' END,
               CASE WHEN mean_word_len > 4.7 THEN 'long_words' END,
               CASE WHEN top_share > 0.12 THEN 'repetitive' END],
               x -> x IS NOT NULL) AS reasons
           FROM s)
         SELECT doc_id, n_words, mean_word_len, top_share,
           coalesce(array_to_string(reasons, '|'), '') AS fail_reasons,
           len(reasons) = 0 AS keep
         FROM rs ORDER BY doc_id""",
    "x41_cluster_best" ->
      """WITH f AS (
           SELECT doc_id, n_chars,
             md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
           FROM documents),
         r AS (
           SELECT doc_id, fp,
             row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY fp) AS cs
           FROM f)
         SELECT fp AS cluster, doc_id AS keep_id, CAST(cs AS BIGINT) AS cluster_size
         FROM r WHERE rn = 1 ORDER BY cluster""",
    "x42_trigram_model" ->
      """WITH d AS (SELECT doc_id, substr(lower(text), 1, 128) AS p FROM documents),
         t AS (SELECT doc_id,
                 unnest(list_transform(range(1, length(p) - 1), i -> substr(p, i, 3))) AS tri
               FROM d WHERE length(p) >= 3),
         f AS (SELECT tri, count(*) AS freq FROM t GROUP BY tri)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
           CAST(sum(freq) AS BIGINT) AS sum_freq,
           CAST(sum(freq) AS DOUBLE) / count(*) AS avg_tri_freq
         FROM t JOIN f USING (tri) GROUP BY doc_id ORDER BY doc_id""",

    "x101_agg_state_merge" -> aggStateMergeSql,

    "x103_overlap_sketch" -> overlapSketchSql,

    // x102: the x05 cosine recipe on the 2^-20 grid, probe × pool cross
    // product, rank ≤ 4 window, margin = cos₁·n / Σ re-quantized.
    "x102_bitext_margin" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 200),
         c AS (SELECT vec_id AS cand_id, embedding AS cv
           FROM embeddings WHERE vec_id % 2 = 1),
         scored AS (
           SELECT query_id, cand_id,
             floor(
               list_sum(list_transform(range(1, len(qv)+1),
                 i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, len(qv)+1),
                    i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, len(cv)+1),
                    i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))
               * 1048576 + 0.5) / 1048576 AS cosine
           FROM q, c),
         ranked AS (
           SELECT query_id, cand_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, cand_id) AS r
           FROM scored),
         top AS (
           SELECT query_id,
             max(CASE WHEN r = 1 THEN cand_id END) AS cand_id,
             max(cosine) AS cos_top,
             CAST(count(*) AS BIGINT) AS n_in,
             sum(cosine) AS sum_c
           FROM ranked WHERE r <= 4 GROUP BY query_id)
         SELECT query_id, cand_id, cos_top,
           floor(cos_top * n_in / sum_c * 1048576 + 0.5) / 1048576 AS margin
         FROM top ORDER BY query_id"""
  )
}
