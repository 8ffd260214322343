package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.tables.{Tables => T}

/** Round-8 additions: DSIR hashed-ngram importance (x73), the hashed
  * linear quality classifier (x74), Z-order layout (x75), and the
  * stupid-backoff bigram LM (x76) — semantics on constructed corpora
  * plus the scale-shape plan pins.
  */
class Round8bOpsSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Reference rolling hash (x11's fold) — Long arithmetic wraps mod
    * 2^64, so floorMod against a power-of-two bucket count equals the
    * unsigned mod both engines use.
    */
  private def rollHash(s: String): Long =
    s.codePoints().toArray.foldLeft(0L)((acc, c) => acc * 1000003L + c)

  // ---------------------------------------------------------------- x73

  test("dsirImportance: target == corpus degenerates to ratio 1 — every " +
       "doc sits exactly at the neutral line, keep = 0") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta alpha"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = Sampling.dsirImportance(docs, "text", "doc_id",
      targetPred = lit(true), buckets = 64).orderBy("doc_id").collect()
    assert(out.length === 3)
    out.foreach { r =>
      val (nFeat, impQ, keep) = (r.getLong(1), r.getLong(2), r.getInt(3))
      assert(impQ === nFeat * 1048576L,
        s"t_b == r_b and T == R must give λ = grid exactly: $r")
      assert(keep === 0, s"neutral docs must not be kept: $r")
    }
    // feature count: unigrams + bigrams of the token stream
    assert(out.map(_.getLong(1)).toSeq === Seq(5L, 3L, 1L))
  }

  test("dsirImportance: docs made of target-exclusive vocabulary score " +
       "above neutral and are kept; off-target vocabulary is not") {
    // target docs use a disjoint vocabulary from the rest, so every
    // target-vocab bucket has t_b = r_b (ratio > 1 after smoothing
    // because (t+1)/(r+1) = 1 but (R+B)/(T+B) > 1 ... the global factor
    // exceeds 1 exactly when the target is a strict subset), while
    // off-target buckets have t_b = 0.
    val docs = (1L to 8L).map(i => (i, "tgt" + i % 2, i <= 4)) // 2 shared tokens per side
      .map { case (i, _, isT) =>
        val w = if (isT) "aa bb cc" else "zz yy xx"
        (i, w, if (isT) "en" else "de")
      }.toDF("doc_id", "text", "lang")
    val out = Sampling.dsirImportance(docs, "text", "doc_id",
        targetPred = col("lang") === "en", buckets = 64)
      .orderBy("doc_id").collect()
    val (kept, dropped) = out.partition(_.getInt(3) == 1)
    assert(kept.map(_.getLong(0)).toSet === (1L to 4L).toSet,
      s"target-vocab docs must be kept: ${out.mkString(", ")}")
    assert(dropped.map(_.getLong(0)).toSet === (5L to 8L).toSet)
    // and the kept docs' mean ratio strictly exceeds the dropped ones'
    val keptMean = kept.map(r => r.getLong(2).toDouble / r.getLong(1)).min
    val dropMean = dropped.map(r => r.getLong(2).toDouble / r.getLong(1)).max
    assert(keptMean > dropMean)
  }

  test("dsirImportance: buckets must be a power of two (oracle unsigned-" +
       "mod equivalence)") {
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Sampling.dsirImportance(docs, "text", "doc_id", lit(true), buckets = 100)
    }
    assert(e.getMessage.contains("power of two"))
  }

  test("dsirImportance plan: scoring is SCAN-SIDE — the λ map arrives as " +
       "a one-row broadcast, the corpus never shuffles or joins for scoring") {
    val plan = Sampling.dsirImportance(T.documents(spark, sf), "text",
        "doc_id", col("lang") === "en")
      .queryExecution.executedPlan.toString
    // the only join anywhere is the 1-row broadcast of the λ map (and
    // the totals row inside the estimation subtree)
    assert(plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"scoring must be a one-row broadcast map lookup, not a join:\n$plan")
    // no exchange is keyed on the document — the corpus never shuffles;
    // the only hash exchange is the bucket-keyed estimation aggregate
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"no per-doc shuffle allowed (scan-side scoring):\n$plan")
    // the feature arrays materialize once (persisted) and feed both the
    // estimation explode and the scoring aggregate from the cache
    assert(plan.contains("InMemoryTableScan"),
      s"feature arrays must persist across the two passes:\n$plan")
  }

  test("dsirImportance guard: a vocabulary-sized bucket count fails fast " +
       "(the λ map is one broadcast row — cbArray discipline)") {
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Sampling.dsirImportance(docs, "text", "doc_id", lit(true),
        buckets = 131072)
    }
    assert(e.getMessage.contains("MaxDsirBuckets"))
  }

  // ---------------------------------------------------------------- x74

  test("linearQuality: score equals the reference weight-table sum; label " +
       "thresholds at zero; empty-ish docs hit the empty-string bucket") {
    val w = TextAnalysis.fixtureQualityWeights(64)
    val docs = Seq((1L, "Alpha beta GAMMA"), (2L, ""), (3L, "zz"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.linearQuality(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    def expected(text: String): Long =
      text.toLowerCase.split("\\s+", -1)
        .map(t => w(java.lang.Math.floorMod(rollHash(t), 64L).toInt).toLong).sum
    assert(out.map(_.getLong(2)).toSeq ===
      Seq(expected("Alpha beta GAMMA"), expected(""), expected("zz")))
    out.foreach { r =>
      assert(r.getInt(3) === (if (r.getLong(2) > 0) 1 else 0))
    }
    // the weight fixture itself is bounded as documented
    assert(w.forall(x => x >= -16 && x <= 16) && w.length === 64)
  }

  test("linearQuality plan: ZERO exchanges — the whole classifier applies " +
       "inside the scan") {
    val plan = TextAnalysis.linearQuality(T.documents(spark, sf), "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"model application must be scan-side only:\n$plan")
  }

  // ---------------------------------------------------------------- x75

  test("mortonInterleave: bit-exact against a reference interleave, " +
       "including the 16-bit corners") {
    def ref(x: Long, y: Long): Long =
      (0 until 16).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 0L),
      (0L, 65535L), (65535L, 65535L), (12345L, 54321L), (65536L, 2L))
    val got = cases.toDF("x", "y")
      .withColumn("z", Layout.mortonInterleave(col("x"), col("y")))
      .orderBy("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (x, y) =>
      assert(got((x, y)) === ref(x & 65535L, y & 65535L),
        s"interleave($x, $y)")
    }
    // corner: full-width interleave is 2^32 - 1
    assert(got((65535L, 65535L)) === (1L << 32) - 1)
  }

  // ---------------------------------------------------------------- x80

  test("tripletMine: negatives are the murmur3 draw mod n; collisions " +
       "with anchor or positive DROP (never resample); per-pair fan-out") {
    val pairs = Seq((1L, 2L, 0.9), (3L, 4L, 0.5)).toDF("d1", "d2", "cosine")
    val items = (0L to 9L).toDF("vec_id")
    val out = Sampling.tripletMine(pairs, items, "vec_id", negsPerAnchor = 2)
      .orderBy("anchor", "j").collect()
    // replay the draw through Spark itself (same hash function, no
    // reimplementation drift): expected = hash(anchor*2+j) & 0xFFFFFFFF % 10
    val expected = Seq((1L, 0), (1L, 1), (3L, 0), (3L, 1)).toDF("anchor", "j")
      .withColumn("neg_id",
        hash(col("anchor") * 2 + col("j")).cast("bigint")
          .bitwiseAND(lit(4294967295L)) % 10)
      .orderBy("anchor", "j").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val got = out.map(r => (r.getLong(0), r.getInt(3), r.getLong(4)))
    // every emitted triplet matches its replayed draw, and the dropped
    // ones are exactly the anchor/positive collisions
    val expectedKept = expected.filter { case (a, j, n) =>
      val pos = if (a == 1L) 2L else 4L
      n != a && n != pos
    }
    assert(got.toSeq === expectedKept.toSeq)
  }

  test("tripletMine: sparse id space is fenced — hash % n would " +
       "fabricate negatives with no vector behind them (r9 verdict ask 5)") {
    val pairs = Seq((0L, 20L, 0.9)).toDF("d1", "d2", "cosine")
    val sparse = Seq(0L, 5L, 20L).toDF("vec_id") // 3 ids, max 20 ≠ n-1
    val ex = intercept[IllegalArgumentException] {
      Sampling.tripletMine(pairs, sparse, "vec_id")
    }
    assert(ex.getMessage.contains("dense 0..n-1"))
    // and the dense equivalent passes the fence
    val dense = (0L to 20L).toDF("vec_id")
    assert(Sampling.tripletMine(pairs, dense, "vec_id").count() > 0)
  }

  // ------------------------------------------------------------ x78/x79

  test("profile: nulls counted, NDV exact, min/max typed (9 < 10 numeric " +
       "— never lexicographic) and rendered post-aggregation") {
    val df = Seq[(java.lang.Long, String)](
      (9L, "b"), (10L, "a"), (10L, null), (null, "c"))
      .toDF("num", "txt")
    val out = Profile.profile(df, Seq(
        "num" -> col("num"), "txt" -> col("txt")))
      .orderBy("col_name").collect()
    val num = out(0); val txt = out(1)
    assert(num.getString(0) === "num" && num.getLong(1) === 4 &&
      num.getLong(2) === 1 && num.getLong(3) === 2)
    assert(num.getString(4) === "9" && num.getString(5) === "10",
      "numeric min/max must use typed ordering (9 < 10)")
    assert(txt.getLong(2) === 1 && txt.getLong(3) === 3 &&
      txt.getString(4) === "a" && txt.getString(5) === "c")
  }

  test("profile plan: NO Expand — each exact NDV is its own single-" +
       "distinct two-phase aggregate over the shared cached projection " +
       "(round 12: the 6x row multiplication measured out), and the " +
       "stats pass carries no distinct aggregate") {
    val li = T.lineitem(spark, sf)
    val plan = Profile.profile(li, Seq(
        "l_orderkey" -> col("l_orderkey"),
        "l_returnflag" -> col("l_returnflag")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"exact profile must not Expand (single-distinct subtrees):\n$plan")
    // every NDV subtree and the stats pass read the ONE cached pruned
    // projection, never the parquet file again
    val imr = "InMemoryTableScan".r.findAllIn(plan).size
    assert(imr >= 3, s"expected >=3 cache reads (stats + 2 NDVs):\n$plan")
  }

  test("skewReport: hand-checked counts, log2 buckets, shares, and the " +
       "ceil-division salting factor") {
    val df = (Seq.fill(130)("hot") ++ Seq.fill(64)("warm") ++ Seq("cold"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val out = Profile.skewReport(df, col("k"), k = 10, targetPerKey = 64)
      .collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(4))).toSeq ===
      Seq(("hot", 130L, 8, 3L),   // 130 → bin length 8, ceil(130/64) = 3
          ("warm", 64L, 7, 1L),   // exactly one target bucket
          ("cold", 1L, 1, 1L)))
    // shares sum to ~grid (195 rows total)
    val shareSum = out.map(_.getLong(3)).sum
    assert(math.abs(shareSum - 1048576L) <= 2)
  }

  // ---------------------------------------------------------------- x77

  test("rrfFuse: hand-checked fusion — shared docs sum both arms, " +
       "single-arm docs keep one contribution, ties break on id") {
    val grid = 1048576L
    def q(rank: Long): Long = math.floor(grid.toDouble / (rank + 60) + 0.5).toLong
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val sem = Seq((20L, 1), (40L, 2)).toDF("doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq("lex" -> lex, "sem" -> sem), "doc_id")
      .orderBy("rank").collect()
    val scores = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scores === Map(
      20L -> (q(2) + q(1)), 10L -> q(1), 40L -> q(2), 30L -> q(3)))
    // doc 20 (both arms) must outrank every single-arm doc
    assert(out.head.getLong(0) === 20L && out.head.getInt(4) === 1)
    // per-arm ranks carried; missing arm is null
    val d40 = out.find(_.getLong(0) === 40L).get
    assert(d40.isNullAt(2) && d40.getLong(3) === 2L) // lex_rank null, sem_rank 2
    // equal-score tie (10 lex#1 vs 40 sem#... not equal) — construct one:
    val a = Seq((5L, 1)).toDF("doc_id", "rank")
    val b = Seq((3L, 1)).toDF("doc_id", "rank")
    val tie = Retrieval.rrfFuse(Seq("a" -> a, "b" -> b), "doc_id")
      .orderBy("rank").collect()
    assert(tie.map(_.getLong(0)).toSeq === Seq(3L, 5L),
      "equal fused scores must order by id")
  }

  test("rrfFuse guards: empty arm list and duplicate arm names rejected") {
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq.empty, "doc_id")
    }
    val df = Seq((1L, 1)).toDF("doc_id", "rank")
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq("a" -> df, "a" -> df), "doc_id")
    }
  }

  // ------------------------------------------------------- x67b/x70 memo

  test("bpeMerges session memo: one learn per (session, dir, steps) — " +
       "the second call returns the SAME driver value; release drops it") {
    import graft.queries.Extensions
    graft.Caches.clearAll(spark)
    val a = Extensions.bpeMerges(spark, sf, steps = 2)
    val b = Extensions.bpeMerges(spark, sf, steps = 2)
    assert(a eq b, "second call must hit the memo, not re-learn")
    assert(a.length === 2 && a.map(_._1) === Seq(1, 2))
    // memoized value equals a fresh direct learn (sharing is transparent)
    val direct = TextAnalysis.bpeMergeSeq(
      T.documents(spark, sf), "text", steps = 2)
    assert(a === direct)
    graft.Caches.clearAll(spark)
    val c = Extensions.bpeMerges(spark, sf, steps = 2)
    assert(!(c eq a) && c === a, "release must force a re-learn to the same value")
    graft.Caches.clearAll(spark)
  }

  test("kmeansFit session memo: one Lloyd fit per (session, dir, k, iters); " +
       "assignment-with equals the self-fitting kMeans") {
    import graft.queries.Extensions
    graft.Caches.clearAll(spark)
    val a = Extensions.kmeansFit(spark, sf, k = 4, iters = 1)
    val b = Extensions.kmeansFit(spark, sf, k = 4, iters = 1)
    assert(a eq b, "second call must hit the memo, not re-fit")
    val emb = T.embeddings(spark, sf)
    val viaMemo = Similarity.kMeansAssignWith(emb, "embedding", "vec_id", a)
      .orderBy("vec_id").collect().toSeq
    val direct = Similarity.kMeansAssignWith(emb, "embedding", "vec_id",
        Similarity.kMeansFitSeq(emb, "embedding", "vec_id", k = 4, iters = 1))
      .orderBy("vec_id").collect().toSeq
    assert(viaMemo === direct)
    graft.Caches.clearAll(spark)
  }

  // ---------------------------------------------------------------- x76

  test("bigramLmScore: hand-checked conditionals on a tiny corpus (all " +
       "bigrams kept)") {
    val grid = 1048576L
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // uni: a=3 b=2 c=1, N=6; bigrams: (a,b)=2 (b,a)=1 (a,c)=1
    def q(c2: Long, c1: Long): Long =
      math.floor(c2.toDouble / c1.toDouble * grid + 0.5).toLong
    val out = TextAnalysis.bigramLmScore(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    val d1 = q(2, 3) + q(1, 2) + q(2, 3) // a b, b a, a b
    val d2 = q(1, 3)                     // a c
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 3L, d1), (2L, 1L, d2)))
    assert(out.map(_.getLong(3)).toSeq === Seq(d1 / 3, d2))
  }

  test("bigramLmScore: pruning forces the backoff path — dropped bigrams " +
       "fall to 0.4·c(b)/N, unseen-unigram bigrams to zero") {
    val grid = 1048576L
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // topV=1 keeps only (a,b); topU=1 keeps only unigram a
    val out = TextAnalysis.bigramLmScore(docs, "text", "doc_id",
        topV = 1, topU = 1).orderBy("doc_id").collect()
    def q(c2: Long, c1: Long): Long =
      math.floor(c2.toDouble / c1.toDouble * grid + 0.5).toLong
    def back(c1: Long): Long =
      math.floor(0.4 * c1.toDouble / 6.0 * grid + 0.5).toLong
    // d1: (a,b)→kept q(2,3); (b,a)→backoff on a = back(3); (a,b)→kept
    // d2: (a,c)→c outside topU → 0
    assert(out.map(_.getLong(2)).toSeq ===
      Seq(q(2, 3) * 2 + back(3), 0L))
  }

  test("bigramLmScore: docs with fewer than two tokens are absent (no " +
       "bigram evidence), not scored as zero") {
    val docs = Seq((1L, "solo"), (2L, "two tokens")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(2L))
  }

  test("bigramLmScore plan: pruned model tables reach scoring as " +
       "broadcasts; top-k via TakeOrdered, never a global vocabulary sort") {
    val plan = TextAnalysis.bigramLmScore(T.documents(spark, sf), "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"model tables must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"pruning must be TakeOrdered (bounded), not sort+limit stages:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"scoring must not sort-merge the corpus:\n$plan")
  }
}
