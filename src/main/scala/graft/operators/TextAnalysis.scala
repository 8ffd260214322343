package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting.
  *
  * All pure narrow transforms over built-in (codegen'd) expressions —
  * they run inside the scan's WholeStageCodegen stage with no shuffle,
  * so they scale linearly with input bytes.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic.
    * Deliberately small and deterministic; real pipelines would load a
    * broadcast dictionary.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "y", "es", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un"))

  private def tokens(textCol: Column): Column = split(lower(textCol), "\\s+")

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  /** Stopword-hit language scores + argmax prediction (ties resolved in
    * fixed en > de > es > fr order; no hits → "und" = undetermined).
    */
  def langId(docs: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val scored = docs
      .withColumn("en_hits", hitCount(toks, stopwords("en")))
      .withColumn("de_hits", hitCount(toks, stopwords("de")))
      .withColumn("es_hits", hitCount(toks, stopwords("es")))
      .withColumn("fr_hits", hitCount(toks, stopwords("fr")))
    val best = greatest(col("en_hits"), col("de_hits"), col("es_hits"), col("fr_hits"))
    scored.withColumn("pred_lang",
      when(best === 0, lit("und"))
        .when(col("en_hits") === best, lit("en"))
        .when(col("de_hits") === best, lit("de"))
        .when(col("es_hits") === best, lit("es"))
        .otherwise(lit("fr")))
  }

  /** Quality metrics: token count, mean token length, punctuation ratio,
    * stopword ratio, plus a composite 0/1 quality gate. All ratios are
    * single divisions of exact integers (bit-deterministic).
    */
  def qualityScore(docs: DataFrame, textCol: String,
                   minTokens: Int = 10, maxTokens: Int = 100000): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val punct = "[.,!?;:]"
    docs
      .withColumn("n_chars_m", length(t))
      .withColumn("n_tokens", size(toks))
      .withColumn("mean_token_len",
        length(regexp_replace(t, "\\s+", "")).cast("double") / size(toks))
      .withColumn("punct_ratio",
        // empty text → null ratio, not an ANSI divide-by-zero
        when(length(t) === 0, lit(null).cast("double"))
          .otherwise((length(t) - length(regexp_replace(t, punct, ""))).cast("double") / length(t)))
      .withColumn("stopword_ratio",
        hitCount(toks, stopwords("en")).cast("double") / size(toks))
      .withColumn("quality_ok",
        when(col("n_tokens").between(minTokens, maxTokens) &&
             col("punct_ratio") < 0.3, lit(1)).otherwise(lit(0)))
  }

  /** Whitespace token count + a BPE-ish regex token count (words, digit
    * runs, and single punctuation marks as separate tokens).
    */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("ws_tokens", size(tokens(t)))
      .withColumn("bpe_tokens", size(regexp_extract_all(t, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))))
  }

  /** Adjacent-token-pair frequencies — the first merge step of BPE /
    * WordPiece vocabulary induction at corpus scale: every adjacent
    * (lowercased, whitespace) token pair counted corpus-wide, the top-k
    * merge candidates ranked by (count desc, pair asc). This one step
    * is the expensive primitive: full BPE loops it with the winning
    * pair merged, and every loop is the same partial-aggregatable
    * count over the updated token stream.
    *
    * 100 TB: the pair stream is scan-side (a zip of two shifted slices
    * — no join, no second scan); the count is ONE partial-aggregatable
    * shuffle keyed on the pair; top-k is TakeOrderedAndProject
    * (per-partition partial top-k, k rows to the driver). The pair
    * vocabulary is never globally sorted.
    */
  def bpePairCandidates(docs: DataFrame, textCol: String,
                        k: Int = 50): DataFrame =
    adjacentPairCounts(docs.select(tokens(col(textCol)).as("ws")))
      .orderBy(col("n_pairs").desc, col("w1"), col("w2"))
      .limit(k)

  /** Adjacent-pair counts `(w1, w2, n_pairs)` over the token arrays `ws`
    * of `tokenized`: the count every BPE round runs.
    */
  private def adjacentPairCounts(tokenized: DataFrame): DataFrame =
    tokenized
      .filter(size(col("ws")) >= 2)
      .select(explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pairs"))

  /** Iterated BPE merge induction over the whitespace token stream
    * (Sennrich et al. 2016, arXiv:1508.07909 — the loop whose single
    * step is [[bpePairCandidates]]): `steps` greedy rounds, each one
    * (a) counting adjacent token pairs corpus-wide, (b) electing the
    * most frequent pair (count desc, then pair asc), and (c) merging
    * every left-to-right non-overlapping occurrence of that pair into
    * one token before the next round. The result is the learned merge
    * TABLE — one entry per round, ending early if the stream runs out
    * of pairs.
    *
    * Representation: each doc's token stream is carried as ONE string
    * with a DOUBLED U+001F boundary between tokens (and at both ends).
    * Applying a merge is then a literal `replace` of
    * `⟨1F⟩w1⟨1F⟩⟨1F⟩w2⟨1F⟩` with `⟨1F⟩w1␣w2⟨1F⟩`: string replace
    * consumes matches left-to-right without overlap — exactly BPE's
    * greedy application order — and because each pattern anchor uses
    * only ONE of a boundary's two chars, consecutive occurrences
    * ("a b a b") both match while token-prefix false matches ("a"
    * against "ab") cannot. Merged tokens keep an interior space, so a
    * final token reads as the n-gram it covers. Every engine replays
    * the same splits and literal replaces, so the whole loop is
    * oracle-exact (texts containing U+001F would merge by those
    * boundaries — identically on both engines).
    *
    * Iteration mechanics are the PageRank/CC pattern: each round's
    * stream is persisted, the election is the round's one action (a
    * 1-row TakeOrdered to the driver), and round k's cache is released
    * once round k+1 materializes from it.
    *
    * 100 TB: per round — one scan of the cached stream, one
    * partial-aggregatable pair-count shuffle, 1 row to the driver, and
    * a scan-side literal replace. The merge table is `steps` rows of
    * driver state, like any learned vocabulary; nothing corpus-sized
    * ever sorts globally or collects.
    *
    * BOUND (stated, not hidden): the learn is ONE driver-action
    * election (`limit(1).collect()`) PER merge step — `steps`
    * sequential Spark jobs. Fine at demo/analysis vocabularies
    * (steps ≲ 100); a production 32 k-merge vocabulary would be 32 k
    * sequential jobs.
    *
    * Returns the table as a local `Seq`, (step, w1, w2, n_pairs) in
    * learned order: the form callers memoize and share across queries.
    * The loop's per-round elections are eager Spark actions, so
    * plan-level caching cannot deduplicate a re-learn; the tiny Seq can
    * (see Extensions.bpeMerges).
    */
  def bpeMergeSeq(docs: DataFrame, textCol: String,
                  steps: Int = 4): Seq[(Int, String, String, Long)] = {
    require(steps >= 1, "steps must be >= 1")
    val bb = "\u001f\u001f"
    def pairCounts(stream: DataFrame): DataFrame = {
      val arr = split(col("stream"), bb)
      // split boundaries leave a leading and trailing empty element;
      // the inner slice is the token list
      adjacentPairCounts(stream.select(slice(arr, lit(2), size(arr) - 2).as("ws")))
    }
    var cur = docs
      .select(concat(lit(bb), array_join(tokens(col(textCol)), bb), lit(bb))
        .as("stream"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var prev: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val top = pairCounts(cur)
        .orderBy(col("n_pairs").desc, col("w1"), col("w2"))
        .limit(1).collect()
      // the action above materialized cur from prev — prev is now free
      if (prev != null) prev.unpersist()
      prev = null
      if (top.isEmpty) exhausted = true
      else {
        val r = top(0)
        val (w1, w2, n) = (r.getString(0), r.getString(1), r.getLong(2))
        merges += ((step, w1, w2, n))
        if (step < steps) {
          val next = cur
            .select(replace(col("stream"),
              lit("\u001f" + w1 + bb + w2 + "\u001f"),
              lit("\u001f" + w1 + " " + w2 + "\u001f")).as("stream"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          prev = cur
          cur = next
        }
        step += 1
      }
    }
    if (prev != null) prev.unpersist()
    cur.unpersist()
    merges.toSeq
  }

  /** TOKENIZE with a learned BPE vocabulary — the application half of
    * [[bpeMergeSeq]]'s induction (learn once, encode every shard
    * forever): rebuild each document's doubled-boundary token stream
    * and apply the `merges` list IN LEARNED ORDER as the same
    * boundary-anchored literal replaces the induction used, so the
    * encoded stream is exactly the state the learner's corpus stream
    * would reach (BpeEncodeSpec pins that equality). Unlike the
    * learner's loop (which never applies the LAST elected merge — it
    * only needs the stream for the NEXT election), encoding applies
    * every merge it is given, the final one included. Returns one row
    * per document: post-merge token count, how many tokens are merged
    * units (they keep an interior space), and an md5 of the encoded
    * stream (the cross-engine witness that the whole chain — not just
    * the counts — matched).
    *
    * 100 TB: encoding is ONE scan-side pass — a chain of |merges|
    * literal `replace`s fused into the scan's codegen stage, zero
    * shuffle, zero joins; the merge table is driver state the size of
    * the learned vocabulary, broadcast inside the plan as literals
    * (exactly how a production tokenizer ships its merges file).
    */
  def bpeEncodeWith(docs: DataFrame, textCol: String, idCol: String,
                    merges: Seq[(String, String)]): DataFrame = {
    val bb = "\u001f\u001f"
    val stream0 = concat(lit(bb), array_join(tokens(col(textCol)), bb), lit(bb))
    val encoded = merges.foldLeft(stream0) { case (s, (w1, w2)) =>
      replace(s,
        lit("\u001f" + w1 + bb + w2 + "\u001f"),
        lit("\u001f" + w1 + " " + w2 + "\u001f"))
    }
    val arr = split(col("stream"), bb)
    val inner = slice(arr, lit(2), size(arr) - 2)
    docs.select(col(idCol).as("doc_id"), encoded.as("stream"))
      .select(col("doc_id"),
        size(inner).as("n_tokens"),
        size(filter(inner, t => t.contains(" "))).as("n_merged"),
        md5(col("stream")).as("enc_md5"))
  }

  /** Content fingerprints: an md5 of the normalized text (cross-engine
    * checkable) and the engine's native 64-bit rolling hash (codegen'd
    * Catalyst expression — see graft.functions.RollingHash).
    */
  def fingerprints(docs: DataFrame, textCol: String): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val normalized = regexp_replace(lower(col(textCol)), "\\s+", " ")
    docs
      .withColumn("fp_md5", md5(normalized))
      .withColumn("fp_rolling", GraftFunctions.rollingHash(normalized))
  }

  /** Per-document n-gram NOVELTY in id (ingestion) order: the fraction
    * of a document's distinct n-grams whose FIRST corpus occurrence
    * (minimum doc_id) is this document — the "how much genuinely new
    * text does each document add" curriculum/dedup signal (a doc whose
    * grams all appeared earlier is pure rehash; novelty 1.0 is fresh
    * content). Deterministic: ordering is the id, not arrival
    * randomness.
    *
    * 100 TB: rides [[Dedup.shingleFlat]]'s persisted distinct-shingle
    * table (the plan shape every shingle operator shares); the
    * first-occurrence table is one partial-aggregatable min keyed on
    * the gram, joined back on the same key — two gram-keyed exchanges,
    * nothing corpus-quadratic. shuffle_hash pinned: both sides are
    * explode-fed/estimate-blind, a broadcast guess either way would be
    * corpus-sized.
    */
  def ngramNovelty(docs: DataFrame, textCol: String, idCol: String,
                   n: Int = 3): DataFrame = {
    val sh = Dedup.shingleFlat(docs, textCol, idCol, n).select("doc_id", "s")
    val first = sh.groupBy("s").agg(min(col("doc_id")).as("first_doc"))
    sh.hint("shuffle_hash")
      .join(first.hint("shuffle_hash"), Seq("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_grams"))
  }

  /** Per-source shingle content ids — the feed for the sketch-cost
    * overlap matrix ([[Sketches.kmvOverlapMatrix]], x103): each word
    * n-gram maps to a 60-bit id (first 15 hex chars of its sha256 —
    * the Bloom/CMS hex-slice scheme, so the DuckDB oracle replays it
    * verbatim). Scan-side only; the sketch layer does the distinct.
    */
  def sourceShingleIds(docs: DataFrame, textCol: String, srcCol: String,
                       n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession) // shingle_array
    graft.tables.Tables.spread(docs) // sha256-per-shingle is the scan cost
      // tokens-first (r16, Dedup.shingleArrayOfTokens): split once per
      // doc; the chain + inferred filters reference the attribute
      .select(col(srcCol).as("source"),
        split(lower(col(textCol)), "\\s+").as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col("source"),
        Dedup.shingleArrayOfTokens(col("__ws"), n).as("__sh"))
      .select(col("source"), explode(col("__sh")).as("s"))
      .select(col("source"),
        conv(substring(sha2(col("s"), 256), 1, 15), 16, 10)
          .cast("long").as("cid"))
  }

  /** Intra-document repetition metrics (Gopher-style quality signal):
    * per document, the total n-gram count, the count of the most
    * repeated n-gram, and their ratio — repetitive boilerplate scores
    * high and gets filtered before training. Shares the zip_with
    * shingle builder with Dedup (duplicates preserved here); one
    * partial-aggregatable two-level groupBy keyed on doc_id.
    */
  def repetition(docs: DataFrame, textCol: String, idCol: String,
                 n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession) // shingle_array
    docs
      // tokens-first (r16, Dedup.shingleArrayOfTokens)
      .select(col(idCol).as("doc_id"),
        split(lower(col(textCol)), "\\s+").as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col("doc_id"),
        Dedup.shingleArrayOfTokens(col("__ws"), n).as("__sh"))
      .select(col("doc_id"), explode(col("__sh")).as("s"))
      .groupBy(col("doc_id"), col("s")).agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_ngrams"), max(col("c")).as("max_rep"))
      .withColumn("rep_ratio", col("max_rep") / col("n_ngrams"))
  }

  /** Per-document top-k distinctive terms by df-normalized term weight
    * — the TF-IDF shape with a linear inverse-document-frequency
    * (score = tf / df). The classic ln(N/df) idf is a monotone-
    * decreasing transform of df just like 1/df, but transcendental:
    * two engines' ln can differ in the last ulp and flip a ranking
    * tie, so the exposed operator uses the rational variant whose
    * every score is one IEEE division of two exact integers
    * (bit-deterministic across engines).
    *
    * 100 TB: one explode + two partial-aggregatable shuffles (term
    * frequency keyed on (doc, token); document frequency is a second
    * aggregation OF the tf output, so the corpus is scanned once),
    * one join on token (vocabulary-sized right side — broadcast when
    * it fits), and a per-doc top-k window that TopKPerKeyExec lowers
    * to a bounded heap.
    */
  def tfIdf(docs: DataFrame, textCol: String, idCol: String,
            k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("token"))
    // persistOnce (r17): BOTH consumers (the df rollup and the join's
    // left side) read this frame — uncached, each re-tokenized the
    // corpus, so every run paid two explode+count passes. Same
    // MEMORY_AND_DISK policy as the shingle table (Caches scaladoc).
    val tf = graft.Caches.persistOnce(
      toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token"))
    // shuffle_hash: df-per-token is vocabulary-sized — web-scale text
    // has billions of distinct tokens, so it must not be broadcast
    // (Catalyst's post-aggregate estimate says it fits). One extra
    // shuffle of tf keyed on token, hash map over the df side.
    tf.join(dfreq.hint("shuffle_hash"), "token")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "token", "tf", "df", "score")
  }

  /** Per-cluster distinctive terms (the BERTopic c-TF-IDF direction,
    * rational form): given a (cell, id) cluster assignment (e.g.
    * [[Similarity.sampledCellAssignments]] over the doc embeddings),
    * rank each cluster's terms by class-based lift
    * `(n_tc · N) / (tok_c · cnt_t)` — how over-represented the term is
    * in the cluster vs the corpus. Lift is PMI's ranking without the
    * log ([[tfIdf]]'s no-transcendental rationale: ln differs in the
    * last ulp across engines and flips ranking ties); both products
    * cast to double BEFORE multiplying, so nothing overflows at any
    * corpus size and both engines round identically. A `minCount`
    * floor drops one-off terms whose lift is all variance; ties break
    * on the term.
    *
    * 100 TB: the corpus is read once into the compressed (cell, term)
    * count domain (one partial-aggregatable exchange after the doc↔
    * cell co-shuffle); cluster totals, corpus term totals, and the
    * grand total are all rollups OF that persisted frame — no second
    * corpus scan. The term-total join is vocabulary-sized, so it
    * stays shuffle_hash (the [[tfIdf]] rule); the per-cluster top-k
    * lowers to the bounded-heap TopKPerKeyExec.
    */
  def clusterTopTerms(docs: DataFrame, assignments: DataFrame,
                      textCol: String, idCol: String, k: Int = 5,
                      minCount: Long = 5L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.join(assignments, idCol)
      .select(col("cell"), explode(tokens(col(textCol))).as("term"))
    val tc = graft.Caches.persistOnce(
      toks.groupBy("cell", "term").agg(count(lit(1)).as("n_tc")))
    val cellTot = tc.groupBy("cell").agg(sum(col("n_tc")).as("tok_c"))
    val termTot = tc.groupBy("term").agg(sum(col("n_tc")).as("cnt_t"))
    val nTotal = tc.agg(sum(col("n_tc")).as("n_total"))
    val w = Window.partitionBy("cell")
      .orderBy(col("lift").desc, col("term"))
    tc.filter(col("n_tc") >= minCount)
      .join(cellTot, "cell")
      .join(termTot.hint("shuffle_hash"), "term")
      .crossJoin(nTotal)
      .withColumn("lift",
        (col("n_tc").cast("double") * col("n_total").cast("double")) /
          (col("tok_c").cast("double") * col("cnt_t").cast("double")))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select("cell", "rk", "term", "n_tc", "lift")
  }

  /** BM25 document ranking against a fixed query term set — the
    * retrieval scorer a quality-mining / targeted-selection pipeline
    * runs over the corpus ("find the documents most about X"). Returns
    * the top-`k` docs as (doc_id, rank, n_terms, score); `n_terms` is
    * how many distinct query terms the doc hits.
    *
    * Determinism across engines (the same discipline as [[tfIdf]]):
    *  - idf uses the rational Robertson form (N − df + 0.5)/(df + 0.5)
    *    WITHOUT the textbook ln — a monotone-in-df transform whose
    *    every score is plain IEEE ±/÷ of exact integers, where two
    *    engines' ln can differ in the last ulp;
    *  - each term's contribution is quantized to the 2^-20 binary grid
    *    before the per-doc sum, so the sum is exact in double and
    *    independent of addend order;
    *  - parameter literals (k1, b, k1+1) are threaded into the oracle
    *    SQL via round-trip `Double.toString`, never re-typed decimals.
    *
    * 100 TB: dl is computed scan-side; the token explode is filtered to
    * the query terms AT THE SCAN (isin on a literal set), so only
    * matching tokens reach the one (doc, term) aggregation shuffle; df
    * and the corpus stats are tiny aggregates broadcast back; the final
    * top-k is a bounded rank window.
    */
  def bm25(docs: DataFrame, textCol: String, idCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
           k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val grid = 1048576 // 2^20
    val base = docs.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("ws"))
      .withColumn("dl", size(col("ws")).cast("long"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tok"))
      .withColumn("avgdl", col("total_tok").cast("double") / col("n_docs"))
      .select("n_docs", "avgdl")
    val tf = base.select(col("doc_id"), col("dl"), explode(col("ws")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val denom = col("tf") + lit(k1) * (lit(1.0) - lit(b) +
      lit(b) * col("dl") / col("avgdl"))
    val raw = idf * col("tf") * lit(k1 + 1) / denom
    val scored = tf.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", floor(raw * grid + lit(0.5)) / grid)
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("n_terms"))
    // global top-k as sort+limit (TakeOrderedAndProject: per-partition
    // partial top-k, k rows to the driver — never a one-partition
    // window over the scored set). Rank is assigned on the k survivors
    // WITHOUT a window: a partitionless window would emit the WindowExec
    // single-partition warning, indistinguishable in the logs from a
    // real scale bug. The k rows are forced into one sorted partition
    // (no exchange — limit already yields one) where the per-partition
    // monotonic id is 0..k-1 in row order.
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .coalesce(1)
      .sortWithinPartitions(col("score").desc, col("doc_id"))
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("int"))
      .select("doc_id", "rank", "n_terms", "score")
  }

  /** Fixed-size sliding-window chunking: token windows of `chunkSize`
    * starting every `stride` tokens (overlap = chunkSize - stride), the
    * standard shape for feeding bounded-context models. One row per
    * chunk: (doc_id cols ..., chunk_id, chunk_len, chunk_text).
    *
    * Narrow transforms + one explode — no shuffle; output volume is
    * input · chunkSize/stride, decided per row at scan time.
    */
  def chunk(docs: DataFrame, textCol: String,
            chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    val toks = tokens(col(textCol))
    docs
      .withColumn("toks", toks)
      .withColumn("start",
        explode(sequence(lit(0), greatest(lit(0), size(col("toks")) - 1), lit(stride))))
      .withColumn("chunk_id", (col("start") / stride).cast("int"))
      .withColumn("chunk_len", size(slice(col("toks"), col("start") + 1, lit(chunkSize))))
      .withColumn("chunk_text",
        array_join(slice(col("toks"), col("start") + 1, lit(chunkSize)), " "))
      .drop("toks", "start")
  }

  /** PII patterns shared by the scrubber and its oracle. Kept to the
    * regex subset Java and RE2 agree on (character classes, bounded
    * repetition, \b) so the same pattern text runs in both engines.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\(\\d{3}\\) \\d{3}-\\d{4}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrubbing: replace emails, NANP-style phone numbers, and
    * IPv4 addresses with typed placeholder tags, reporting per-type
    * match counts. Email runs first so its dotted domain can't be
    * half-eaten by the IP pattern.
    *
    * Narrow codegen'd regexp transforms — scan-side, no shuffle; at
    * 100 TB this is the same cost shape as any per-row filter pass.
    */
  def redactPii(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // counts are taken on the SAME text each replace pass sees, so they
    // equal the number of substitutions made: an IP-shaped local part
    // inside an email must count as email, not as email AND ip
    val afterEmail = regexp_replace(col(textCol), EmailRe, "[EMAIL]")
    val afterPhone = regexp_replace(afterEmail, PhoneRe, "[PHONE]")
    docs.select(
      col(idCol).as("doc_id"),
      regexp_count(col(textCol), lit(EmailRe)).as("n_email"),
      regexp_count(afterEmail, lit(PhoneRe)).as("n_phone"),
      regexp_count(afterPhone, lit(Ipv4Re)).as("n_ip"),
      regexp_replace(afterPhone, Ipv4Re, "[IP]").as("redacted"))
  }

  /** Cross-document boilerplate span removal (the C4/RefinedWeb
    * cleaning step): any n-gram occurring in ≥ max(2, 1 %) of documents
    * is boilerplate, and every token position it covers is dropped;
    * the surviving tokens are reassembled in order. Deduplicating
    * WITHIN a page keeps prose intact — only spans shared across many
    * pages (navigation, license blocks, templates) cross the df cut.
    *
    * One shingle explode (shared shape with [[Dedup]]'s), a df
    * aggregate keyed on the shingle, a broadcast-sized hot-shingle
    * set joined back to occurrences, and one per-doc reassembly
    * aggregation. The df table is vocabulary-sized, the hot set far
    * smaller (df cut), so at 100 TB the only data-sized shuffles are
    * the shingle aggregate and the per-doc regroup — both
    * partial-aggregatable.
    */
  def removeBoilerplate(docs: DataFrame, textCol: String, idCol: String,
                        n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession) // shingle_array
    val base = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws"))
    val nDocs = broadcast(base.agg(count(lit(1)).as("n_docs")))
    // (doc_id, pos, shingle) per occurrence, 0-based pos. Shingles come
    // from Dedup's zip_with builder — transform(sequence(...)) over the
    // aliased token array would re-split per element (PERF.md §1).
    // tokens-first (r16): the split and the gram array each materialize
    // once per doc in projections (Dedup.shingleArrayOfTokens).
    val occ = graft.tables.Tables.spread(docs)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col("doc_id"),
        Dedup.shingleArrayOfTokens(col("__ws"), n).as("__sh"))
      .select(col("doc_id"), posexplode(col("__sh")).as(Seq("pos", "s")))
    val hot = occ.select("s", "doc_id").distinct()
      .groupBy("s").agg(count(lit(1)).as("df"))
      .crossJoin(nDocs)
      .filter(col("df") >= greatest(lit(2), expr("(n_docs + 99) div 100")))
      .select("s")
    // positions covered by any hot-shingle occurrence
    val covered = occ.join(broadcast(hot), Seq("s"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
    val kept = base
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("p", "tok")))
      .join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    // shuffle_hash: `kept` carries each document's reassembled clean
    // text — corpus-sized, but Catalyst's post-collect_list estimate
    // says broadcastable. The doc_id-keyed shuffle join is the plan
    // that survives 100 TB (kept is already partitioned on doc_id).
    base.select(col("doc_id"), size(col("ws")).as("n_tok"))
      .join(kept.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_sig"))
  }

  /** Canonical text normalization: lowercase, strip every char outside
    * [a-z0-9 ], collapse whitespace runs, trim. Pure scan-side
    * projection (no shuffle) — the normalization pass that fronts
    * dedup/fingerprinting at scale, so it must stay codegen'd.
    */
  def normalize(docs: DataFrame, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "), " +", " "))
    docs
      .withColumn("norm_md5", md5(norm))
      .withColumn("n_chars_norm", length(norm))
      .withColumn("norm_head", substring(norm, 1, 40))
  }

  /** Gopher-style composite quality filter: word-count bounds, mean
    * word length bounds, and a repetition cap (most frequent token's
    * share), each failure labelled. Everything is a per-row expression
    * over the token array — no shuffle; the repetition mode is O(u·n)
    * in the token/unique counts, fine for documents, and at web-page
    * scale the same rule reads from [[repetition]]'s aggregated form
    * instead.
    */
  def gopherQuality(docs: DataFrame, textCol: String,
                    minWords: Int = 20, maxWords: Int = 80,
                    minMwl: Double = 4.3, maxMwl: Double = 4.7,
                    maxTopShare: Double = 0.12): DataFrame = {
    val ws = tokens(col(textCol))
    val nw = size(ws)
    val mwl = length(regexp_replace(col(textCol), "\\s", "")).cast("double") / nw
    // mode count via run-length over the SORTED array: O(n) per row
    // where the distinct×filter formulation is O(u·n). r17: the
    // aggregate() HOF fold was CodegenFallback (interpreted struct
    // churn per token); max_run_len is the same fold as a native
    // codegen'd expression (element-for-element parity pinned in
    // GraftFunctionsSpec). The value is identical, so oracles are
    // unaffected.
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val topShare = graft.functions.GraftFunctions
      .maxRunLen(array_sort(ws)).cast("double") / nw
    val reasons = filter(array(
      when(nw < minWords, lit("too_short")),
      when(nw > maxWords, lit("too_long")),
      when(mwl < minMwl, lit("short_words")),
      when(mwl > maxMwl, lit("long_words")),
      when(topShare > maxTopShare, lit("repetitive"))), x => x.isNotNull)
    docs
      .withColumn("n_words", nw)
      .withColumn("mean_word_len", mwl)
      .withColumn("top_share", topShare)
      .withColumn("fail_reasons", array_join(reasons, "|"))
      .withColumn("keep", size(reasons) === 0)
  }

  /** Corpus-familiarity scoring from a character-trigram frequency
    * model: the trigram table is built from the corpus itself in one
    * partial-aggregatable pass, then each document scores as the mean
    * corpus frequency of its trigrams — a deterministic, integer-exact
    * stand-in for LM perplexity filters (the classic mean-log variant
    * is one `ln` away; kept rational so the score is a single IEEE
    * division both engines compute identically, same rationale as
    * tfIdf).
    *
    * 100 TB: trigram explode → vocab-sized frequency table (≤ alphabet³
    * entries — always broadcastable) → broadcast join back → one
    * per-doc aggregation. Capping at `prefixChars` bounds per-row
    * explode width.
    *
    * Cache ownership ([[graft.Caches]] policy): the per-doc trigram
    * count table is persisted for the SESSION — it feeds both the
    * frequency aggregate and the per-doc score, and downstream queries
    * (x60) reuse it by canonical-plan matching. The library does not
    * unpersist it; long-lived callers release with `Caches.clearAll`.
    */
  def trigramFamiliarity(docs: DataFrame, textCol: String, idCol: String,
                         prefixChars: Int = 128): DataFrame = {
    // Per-doc trigram COUNTS first: one explode feeds both the corpus
    // frequency table (sum of counts) and the per-doc score (weighted
    // by counts) — the occurrence table is never materialized twice,
    // and the join carries distinct (doc, tri) rows, not occurrences.
    // char_grams (r17): the transform(sequence(...)) HOF was
    // CodegenFallback — interpreted lambda dispatch per gram broke
    // whole-stage codegen for the corpus scan stage
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val triCounts = graft.Caches.persistOnce(graft.tables.Tables.spread(docs)
      .withColumn("p", substring(lower(col(textCol)), 1, prefixChars))
      .filter(length(col("p")) >= 3)
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.GraftFunctions.charGrams(col("p"), 3)).as("tri"))
      .groupBy("doc_id", "tri").agg(count(lit(1)).as("c")))
    val freq = triCounts.groupBy("tri").agg(sum(col("c")).as("freq"))
    triCounts.join(broadcast(freq), Seq("tri"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tri"), sum(col("c") * col("freq")).as("sum_freq"))
      .withColumn("avg_tri_freq", col("sum_freq") / col("n_tri"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): per-language head/middle/tail tertiles of an
    * LM score. The paper scores with a KenLM 5-gram model and SORTS
    * each language shard by perplexity to cut thirds; here the score
    * is [[trigramFamiliarity]]'s corpus-trained char-trigram frequency
    * (higher = more familiar = lower perplexity = head) and the cut
    * points come from a fixed-width histogram of the integer-floored
    * score — the a41/st07 sketch-quantile shape — so NO per-language
    * sort of the corpus ever happens.
    *
    * Every decision is integer-exact: `fam_bucket = sum_freq div
    * (n_tri · bucketWidth)` (long floor-division, no doubles anywhere)
    * and tertile cut t_k = min bucket with 3·cum ≥ k·n. Docs classify
    * at bucket resolution — score ties within a bucket share a class,
    * the documented sketch semantics (CCNet's exact sort differs only
    * inside one bucket width).
    *
    * 100 TB: the familiarity/language join is corpus-keyed on doc_id —
    * shuffle_hash pinned, since the familiarity side is a post-
    * aggregate whose size estimate is blind (the explode-broadcast
    * trap, PERF.md round 6); the histogram is one partial-aggregatable
    * (lang, bucket) shuffle whose windows run over BUCKET counts, not
    * rows; the cutoff table is |langs|·2 ints, broadcast back for a
    * scan-side CASE. At web scale switch to log-spaced buckets
    * (`length(bin(x))` — still integer-exact) to bound the histogram;
    * linear buckets keep tertile resolution on the test corpus.
    */
  def perplexityBuckets(docs: DataFrame, textCol: String, idCol: String,
                        bucketWidth: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lang = langId(docs, textCol)
      .select(col(idCol).as("doc_id"), col("pred_lang"))
    val fam = trigramFamiliarity(docs, textCol, idCol)
      .select(col("doc_id"), col("n_tri"), col("sum_freq"))
    val scored = graft.Caches.persistOnce(
      fam.hint("shuffle_hash")
        .join(lang, Seq("doc_id"))
        .withColumn("fam_bucket",
          expr(s"sum_freq div (n_tri * $bucketWidth)")))
    val wc = Window.partitionBy(col("pred_lang")).orderBy(col("fam_bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col("pred_lang"))
    val cum = scored.groupBy("pred_lang", "fam_bucket")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(wt))
    def cutoff(k: Int, name: String) =
      cum.filter(col("cum") * 3 >= col("n") * k)
        .groupBy("pred_lang").agg(min(col("fam_bucket")).as(name))
    val cuts = cutoff(1, "t1").join(cutoff(2, "t2"), Seq("pred_lang"))
    scored.join(broadcast(cuts), Seq("pred_lang"))
      .withColumn("ppl_bucket",
        when(col("fam_bucket") <= col("t1"), lit("tail"))
          .when(col("fam_bucket") <= col("t2"), lit("middle"))
          .otherwise(lit("head")))
      .select("doc_id", "pred_lang", "fam_bucket", "ppl_bucket")
  }

  /** Deterministic FIXTURE weight table for [[linearQuality]] — a
    * Weyl-sequence LCG over the bucket index mapped into [-16, 16].
    * Stands in for a TRAINED model's weight vector: in production the
    * weights are driver state loaded from a model file (like the BPE
    * merge table x70 ships); the fixture keeps the operator and its
    * oracle self-contained, since the same Scala value generates both
    * the Spark literal array and the SQL literal list.
    */
  def fixtureQualityWeights(buckets: Int): Seq[Int] =
    Seq.tabulate(buckets)(b => (((b * 2654435761L + 104729L) % 33L) - 16L).toInt)

  /** fastText-style linear quality classifier over hashed unigram
    * features (Joulin et al. 2016, arXiv:1607.01759, the bag-of-hashed-
    * ngrams architecture at dim=1): each token hashes into one of
    * `buckets` weight cells (rolling hash mod a power of two — the
    * signed/unsigned-mod equivalence the oracle needs), the document
    * score is the integer SUM of its tokens' weights, and the label is
    * `score > 0`. This is the CCNet/RedPajama "model-based quality
    * filter" shape with the float softmax stripped to its integer
    * decision core — no logs, no exp, hash-exact across engines.
    *
    * 100 TB: ZERO shuffle and zero joins — the weight table rides into
    * every task as a literal array and the whole classifier is one
    * codegen'd scan-side `aggregate` over the token array; model
    * application is embarrassingly parallel, the ideal shape for a
    * corpus-wide quality sweep. (A dim>1 embedding classifier would
    * move the weight matrix to a broadcast and the dot products to
    * `zip_with` — same no-shuffle story.)
    */
  def linearQuality(docs: DataFrame, textCol: String, idCol: String,
                    buckets: Int = 64,
                    weights: Seq[Int] = null): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets=$buckets must be a power of two (oracle unsigned-mod equivalence)")
    val w = if (weights == null) fixtureQualityWeights(buckets) else weights
    require(w.length == buckets, s"weights.length=${w.length} != buckets=$buckets")
    GraftFunctions.register(docs.sparkSession)
    val warr = array(w.map(x => lit(x.toLong)): _*)
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws"))
      .withColumn("n_tok", size(col("ws")).cast("long"))
      .withColumn("lin_score",
        aggregate(col("ws"), lit(0L), (acc, tok) =>
          acc + element_at(warr,
            (pmod(GraftFunctions.rollingHash(tok), lit(buckets.toLong)) + 1).cast("int"))))
      .withColumn("lin_label",
        when(col("lin_score") > 0, lit(1)).otherwise(lit(0)))
      .select("doc_id", "n_tok", "lin_score", "lin_label")
  }

  /** Corpus bigram language model with stupid backoff scoring (Brants
    * et al. 2007, "Large Language Models in Machine Translation" — the
    * web-scale LM that replaces smoothing with a fixed backoff factor
    * because at corpus scale counts are all you can afford). Train:
    * corpus unigram and bigram counts, keep the top `topV` bigrams and
    * top `topU` unigrams (count desc, term asc — deterministic). Score:
    * each document bigram (a,b) contributes the 2^-20-grid-quantized
    * conditional q = ⌊grid·c(ab)/c(a)+½⌋ when (a,b) is in the kept
    * table, else the backoff ⌊grid·0.4·c(b)/N+½⌋ (0 when b is outside
    * the kept unigrams — the unseen-word floor). A document's score is
    * the integer sum and floor-mean of its bigram contributions —
    * higher = more in-distribution, the x60 bucketing's natural input.
    * No logs anywhere (the no-ln policy): the mean of quantized
    * conditionals replaces the paper's sum of log-probs, monotone per
    * bigram and integer-exact across engines.
    *
    * 100 TB: two partial-aggregatable n-gram count shuffles over the
    * corpus; the model is top-(U+V) rows — BOUNDED driver/broadcast
    * state via TakeOrdered (never a global sort of the vocabulary); the
    * c(ab)/c(a) join happens once at model build on the V-row side
    * (shuffle_hash — the vocab side's size estimate is blind); scoring
    * is two broadcast joins + one per-doc partial agg. Raising topV/U
    * grows only the broadcast model, exactly how production n-gram LMs
    * ship pruned tables.
    */
  def bigramLmScore(docs: DataFrame, textCol: String, idCol: String,
                    topV: Int = 1024, topU: Int = 1024,
                    backoff: Double = 0.4): DataFrame = {
    val grid = 1048576L // 2^20
    val base = graft.Caches.persistOnce(
      docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws")))
    val uni = graft.Caches.persistOnce(
      base.select(explode(col("ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1")))
    val nTok = uni.agg(sum(col("c1")).as("n_tok_corpus"))
    val bigr = base
      .filter(size(col("ws")) >= 2)
      .select(explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    // kept model tables: bounded top-k via sort+limit (TakeOrdered —
    // per-partition partial top-k, k rows to the driver side of the
    // exchange, never a global vocabulary sort)
    val keptBigrams = bigr
      .orderBy(col("c2").desc, col("w1"), col("w2")).limit(topV)
      .join(uni.withColumnRenamed("w", "w1").hint("shuffle_hash"), Seq("w1"))
      .withColumn("q_cond",
        floor(col("c2").cast("double") / col("c1").cast("double")
          * grid + lit(0.5)).cast("long"))
      .select("w1", "w2", "q_cond")
    val keptUnigrams = uni
      .orderBy(col("c1").desc, col("w")).limit(topU)
      .crossJoin(broadcast(nTok))
      .withColumn("q_back",
        floor(lit(backoff) * col("c1").cast("double")
          / col("n_tok_corpus").cast("double") * grid + lit(0.5)).cast("long"))
      .select(col("w").as("w2"), col("q_back"))
    base
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .join(broadcast(keptBigrams), Seq("w1", "w2"), "left")
      .join(broadcast(keptUnigrams), Seq("w2"), "left")
      .withColumn("q", coalesce(col("q_cond"), col("q_back"), lit(0L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bg"), sum(col("q")).as("sum_q"))
      .withColumn("avg_q", expr("sum_q div n_bg"))
      .select("doc_id", "n_bg", "sum_q", "avg_q")
  }

  /** Per-source EXACT length quantiles (p25/p50/p75/p90/p99 of the
    * whitespace token count) without a global sort: token counts live
    * on a small integer domain, so the order statistic runs over the
    * COMPRESSED domain — one partial-aggregatable (source, len) count,
    * then a window over the per-source distinct lengths (thousands of
    * rows, not corpus rows), then one rollup. The quantile cut is
    * integer cross-multiplication (`cum·100 ≥ n·p` ⟺ cum ≥ ⌈n·p/100⌉)
    * — exact, no libm, no interpolation (lower-bound "disc" quantile,
    * DuckDB-replayable).
    *
    * 100 TB: the corpus streams once into (source, len) partial
    * counts; everything after operates on |sources|·|distinct lens|
    * rows. This is the exact companion to approx_percentile — same
    * plan shape as the x41/st07 bucket quantiles but with no bucketing
    * error, valid whenever the value domain is bounded (lengths,
    * ratings, prices in cents).
    */
  def lengthQuantiles(docs: DataFrame, textCol: String,
                      sourceCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("len")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("source")
    def cut(p: Int): Column =
      min(when(col("cum") * 100 >= col("n") * p, col("len"))).as(s"p$p")
    docs
      .select(col(sourceCol).as("source"),
        size(split(lower(col(textCol)), "\\s+")).cast("bigint").as("len"))
      .groupBy("source", "len").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(wAll))
      .groupBy("source")
      .agg(max(col("n")).as("n_docs"), cut(25), cut(50), cut(75),
        cut(90), cut(99))
  }

  /** Per-source vocabulary coverage: the share of a source's token
    * INSTANCES covered by the global top-`vocabSize` frequency
    * vocabulary — the tokenizer-planning / domain-shift signal ("how
    * well does a fixed vocab serve each source"; a source with low
    * coverage is out-of-domain for the tokenizer trained on the mix).
    *
    * 100 TB: token counts are one partial-aggregatable groupBy; the
    * vocabulary is top-k via TakeOrdered (k rows on the driver — a
    * BOUNDED broadcast dimension by construction, unlike a full vocab:
    * the codebook-guard shape with k as the literal fence); the
    * coverage pass is one scan + broadcast semi-join + source rollup.
    * Coverage is one grid-quantized division.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, sourceCol: String,
                    vocabSize: Int = 1000): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val grid = 1048576L // 2^20
    val toks = graft.Caches.persistOnce(
      docs.select(col(sourceCol).as("source"),
        explode(split(lower(col(textCol)), "\\s+")).as("token")))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNotNull, 1L).otherwise(0L)).as("n_in_vocab"))
      .withColumn("coverage_q",
        floor(col("n_in_vocab").cast("double") / col("n_tokens").cast("double")
          * grid + lit(0.5)).cast("long"))
      .select("source", "n_tokens", "n_in_vocab", "coverage_q")
  }

  /** Corpus collocations: bigram LIFT (observed/expected co-occurrence
    * ratio) over whitespace tokens — the PMI-family association signal
    * without the log (a monotone transform, so the RANKING is PMI's;
    * ratios are one exact-operand IEEE division, replayable — the
    * a56/lift discipline applied to text).
    *
    * Over the bigram sample space: `lift(w1,w2) = c_bi · N /
    * (c_head(w1) · c_tail(w2))` with N the total bigram count and
    * c_head/c_tail the contingency-table marginals (bigrams starting
    * with w1 / ending with w2) — the exact observed/expected ratio.
    * Pairs below `minCount` are cut before the join (the classic
    * support prune — vocabulary² never materializes, only OBSERVED
    * bigrams, and of those only the ≥ minCount survivors join the
    * marginal tables). Top `k` by (lift, pair) via TakeOrdered.
    *
    * 100 TB: bigram generation is the x76 scan-side zip_with (no text
    * shuffle — pairs of tokens only); both count tables are
    * partial-aggregatable; the two unigram joins key on a
    * vocabulary-sized table (shuffled equi-joins — a vocabulary is NOT
    * a broadcastable dimension, the a56 lesson). Products stay in
    * LONG range for any corpus where c_bi·N < 2⁶³ (~10¹⁸; route
    * DECIMAL beyond).
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5L,
                   k: Int = 25): DataFrame = {
    val grid = 1048576
    def q(c: Column): Column = floor(c * grid + lit(0.5)) / grid
    val ws = split(lower(col(textCol)), "\\s+")
    val base = docs.select(ws.as("ws")).filter(size(col("ws")) >= 2)
    // the flat bigram table feeds FOUR consumers (pair counts, both
    // marginals, N) — persist it once instead of re-tokenizing 4×
    val bi = base.select(explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val biP = graft.Caches.persistOnce(bi)
    val cb = biP.groupBy("w1", "w2").agg(count(lit(1)).as("c_bi"))
      .filter(col("c_bi") >= minCount)
    val ch = biP.groupBy("w1").agg(count(lit(1)).as("c_head"))
    val ct = biP.groupBy("w2").agg(count(lit(1)).as("c_tail"))
    val n = biP.agg(count(lit(1)).as("n_bi"))
    cb.join(ch, "w1")
      .join(ct, "w2")
      .crossJoin(broadcast(n))
      .withColumn("lift",
        q((col("c_bi") * col("n_bi")).cast("double") /
          (col("c_head") * col("c_tail")).cast("double")))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
      .select("w1", "w2", "c_bi", "c_head", "c_tail", "lift")
  }

  /** Signed feature hashing (the hashing trick — Weinberger et al.,
    * ICML'09 "Feature Hashing for Large Scale Multitask Learning"):
    * each whitespace token hashes to one of `dim` buckets with a ±1
    * sign drawn from an independent hash bit, and a document's feature
    * vector is the per-bucket signed token-count sum. The signed sum is
    * what makes the trick's inner products unbiased under collisions —
    * colliding tokens CANCEL in expectation rather than inflate.
    * Returned per doc: token count, nnz (buckets with a nonzero signed
    * weight — collisions that fully cancel reduce it), and the exact
    * integer squared L2 norm of the hashed vector. This is the
    * vocabulary-free featurizer that turns raw text into fixed-width
    * vectors for the x74-style linear models — no dictionary build, no
    * vocabulary shuffle, any dim.
    *
    * Determinism: bucket = `uh mod dim` and sign = bit log2(dim) of the
    * UNSIGNED 32-bit murmur3 pattern (`hash()` & 0xFFFFFFFF — the IVF
    * codebook idiom), so every quantity is nonnegative-integer
    * arithmetic that DuckDB replays exactly via the x86 string-murmur3
    * CTE chain (over the distinct-token VOCABULARY there — same values,
    * vocabulary-sized hash work).
    *
    * 100 TB: hashing and bucketing are scan-side codegen'd expressions;
    * the only corpus-sized exchange keys on (doc_id, bucket) — already
    * partially aggregated map-side — and the per-doc rollup runs over
    * the ≤ dim-rows-per-doc compressed domain. No vocabulary table
    * exists at any point, which is the entire reason this featurizer
    * wins at corpus scale.
    */
  def featureHash(docs: DataFrame, textCol: String, idCol: String,
                  dim: Int = 256): DataFrame = {
    require(dim >= 2 && (dim & (dim - 1)) == 0 && dim <= (1 << 20),
      s"dim must be a power of two in [2, 2^20], got $dim")
    val signBit = Integer.numberOfTrailingZeros(dim)
    val inst = docs
      .select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), "\\s+")).as("t"))
      .filter(col("t") =!= "")
      .withColumn("uh", GraftFunctions.unsignedHash(col("t")))
      .withColumn("bucket", (col("uh") % dim).cast("int"))
      .withColumn("sgn",
        when(shiftright(col("uh"), signBit).bitwiseAND(lit(1L)) === 0, lit(1L))
          .otherwise(lit(-1L)))
    val bw = inst.groupBy("doc_id", "bucket")
      .agg(sum(col("sgn")).as("wgt"), count(lit(1)).as("n"))
    bw.groupBy("doc_id")
      .agg(sum(col("n")).as("n_tok"),
        sum(when(col("wgt") =!= 0L, lit(1L)).otherwise(lit(0L))).as("nnz"),
        sum(col("wgt") * col("wgt")).as("norm_sq"))
      .select("doc_id", "n_tok", "nnz", "norm_sq")
  }

  /** Token length cap for [[typoPairs]]' deletion-variant fanout: each
    * vocabulary entry emits at most `len+1` variant rows, so capping
    * length bounds the variant domain at (cap+1)·|vocab|.
    */
  val MaxTypoTokenLen = 20

  /** Typo→correction pair mining via the SymSpell deletion-neighborhood
    * join (Garbe 2012; the candidate trick behind Norvig-style spell
    * correction at corpus scale): two tokens are within Damerau-free
    * edit distance 1 only if they share a member of their
    * {self} ∪ {all 1-character deletions} variant sets — a deletion
    * covers `b = del(a)`, an insertion covers `a = del(b)`, and a
    * substitution shares the deletion at the edited position. So
    * candidates come from ONE equi-join on variant strings over the
    * VOCABULARY (never the corpus), and each candidate is verified with
    * an exact `levenshtein = 1` check (the shared-deletion filter also
    * admits some distance-2 transpositions — verification removes
    * them). A pair is reported as (typo → correction) when the
    * correction is ≥ `ratio`× more frequent and itself above
    * `minCorrCnt` — the frequency-asymmetry heuristic that separates
    * typos from legitimate rare words.
    *
    * Tokens are restricted to `^[a-z]{4,MaxTypoTokenLen}$`: ASCII-only
    * sidesteps byte-vs-char indexing across engines (the cdcChunks
    * lesson), ≥4 keeps edit-distance-1 from being noise on short words,
    * and the length cap fences the variant fanout.
    *
    * 100 TB: the corpus collapses to its token vocabulary FIRST (one
    * partial-aggregatable count groupBy — the x28/x86 vocabulary
    * assumption: |vocab| grows sublinearly in corpus size); everything
    * after is vocabulary-sized — the variant explode is ≤ (len+1) rows
    * per vocab entry, the candidate join is hash-partitioned on the
    * variant string, and verification runs on candidate pairs only.
    * No all-pairs stage anywhere (the Dedup banding discipline).
    */
  def typoPairs(docs: DataFrame, textCol: String, ratio: Long = 10L,
                minCorrCnt: Long = 5L): DataFrame = {
    // the variant self-join consumes the vocabulary from BOTH sides —
    // persist it so the corpus tokenize-count scan runs once, not twice
    val vocab = graft.Caches.persistOnce(docs
      .select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok").rlike(s"^[a-z]{4,$MaxTypoTokenLen}$$"))
      .groupBy("tok").agg(count(lit(1)).as("cnt")))
    val variants = vocab.select(col("tok"), col("cnt"),
      explode(concat(array(col("tok")),
        transform(sequence(lit(1), length(col("tok"))), i =>
          concat(col("tok").substr(lit(1), i - lit(1)),
            col("tok").substr(i + lit(1),
              length(col("tok")) - i))))).as("v"))
    val a = variants.select(col("tok").as("typo"), col("cnt").as("typo_cnt"),
      col("v"))
    val b = variants.select(col("tok").as("corr"), col("cnt").as("corr_cnt"),
      col("v"))
    a.join(b, Seq("v"))
      .filter(col("typo") =!= col("corr"))
      .select("typo", "typo_cnt", "corr", "corr_cnt").distinct()
      .filter(levenshtein(col("typo"), col("corr")) === 1 &&
        col("corr_cnt") >= col("typo_cnt") * ratio &&
        col("corr_cnt") >= minCorrCnt)
  }
}
