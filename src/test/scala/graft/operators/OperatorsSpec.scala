package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (2L, "the quick brown fox jumps over a lazy dog"),     // near dup
    (3L, "completely different text with other words here entirely"))
    .toDF("doc_id", "text")

  test("exact dedup keeps min id and counts duplicates") {
    val out = Dedup.exactByContent(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(out.length === 3)
    assert(out(0).getLong(0) === 0L && out(0).getLong(1) === 2L)
  }

  test("ngram jaccard: exact dups similarity 1.0; near dups high; unrelated absent") {
    val pairs = Dedup.ngramJaccard(docs, "text", "doc_id", n = 3, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("native minhash: exact dups estimate 1.0; unrelated docs below threshold") {
    val pairs = Dedup.minhashNative(docs, "text", "doc_id",
        numHashes = 16, bands = 4, minEstimate = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((1L, 3L)))
  }

  test("simhash candidates rank exact dup closer than near dup") {
    val cand = Dedup.simhashCandidates(docs, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(4))).toMap
    assert(cand((0L, 1L)) === 0)
  }

  test("connected components keep-one elects min id per group; singletons self-map") {
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    // components: {0,1,2} (chained), {3,4}; 5 isolated
    val pairs = Seq((1L, 2L), (0L, 1L), (3L, 4L)).toDF("d1", "d2")
    val expected = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 5L)
    // driver union-find path (default) and distributed label-propagation
    // path (forced with maxDriverEdges = 0) must agree.
    val viaDriver = Dedup.connectedComponentsKeepOne(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Dedup.connectedComponentsKeepOne(ids, "doc_id", pairs,
        maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver === expected)
    assert(viaLoop === expected)
  }

  test("distributed CC converges on a 50-hop chain in O(log d) rounds") {
    // Min-label propagation moves the min ONE hop per round, so this
    // chain needed ~50 rounds; large-star/small-star must finish within
    // 10 (also exercising the per-round localCheckpoint lineage
    // truncation). Mixed edge orientation on purpose.
    val n = 51L
    val ids = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1)
      .map(i => if (i % 2 == 0) (i, i + 1) else (i + 1, i))
      .toDF("d1", "d2")
    val viaStars = Dedup.connectedComponentsKeepOne(ids, "doc_id", pairs,
        maxIterations = 10, maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until n).forall(i => viaStars(i) == 0L))
    val viaDriver = Dedup.connectedComponentsKeepOne(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars === viaDriver)
  }

  test("distributed CC agrees with union-find on random graphs (seeded)") {
    // star contraction has subtler failure modes than a chain (merging
    // stars, order-dependent rewiring); random sparse graphs cover them
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 200
      val ids = (0L until n.toLong).toDF("doc_id")
      val pairs = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .toDF("d1", "d2")
      val viaStars = Dedup.connectedComponentsKeepOne(ids, "doc_id", pairs,
          maxIterations = 12, maxDriverEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaDriver = Dedup.connectedComponentsKeepOne(ids, "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStars === viaDriver, s"seed $seed disagreed")
    }
  }

  test("exact-dup collapse in fuzzyPairs equals the direct blocked join " +
       "(incl. 0-distance intra-group pairs and cross-group inheritance)") {
    // identical groups (incl. SHORT identical docs — unlike shingles,
    // edit distance pairs them: dist 0 always qualifies), plus a
    // near-identical cross pair within maxDist, plus far fillers
    val corpus = (Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the barn"),
      (1L, "the quick brown fox jumps over the lazy dog near the barn"),
      (2L, "the quick brown fox jumps over the lazy dog near the barn"),
      (3L, "the quick brown fox jumps over the lazy dog near the yard"),
      (4L, "short one"),
      (5L, "short one")) ++
      (6L until 25L).map(i => (i, s"filler document number $i with its own unique long tail ${i * 31}")))
      .toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val collapsed = canon(Dedup.fuzzyPairs(corpus, "text", "doc_id"))
    val direct = canon(Dedup.fuzzyPairs(corpus, "text", "doc_id",
      collapseExactDups = false))
    assert(collapsed === direct)
    // the 3-group contributes its 3 intra pairs at distance 0, and the
    // short identical pair (4,5) qualifies too
    assert(collapsed.count { case (_, _, d) => d == 0 } === 4)
    // cross-group near-dup (barn vs yard) inherited by every member
    assert(collapsed.count { case (a, b, d) => b == 3L && d > 0 } === 3)
  }

  test("exact-dup collapse in simhashCandidates equals the direct banded " +
       "self-join, fingerprints following their documents through reorientation") {
    val corpus = (Seq(
      (5L, "the quick brown fox jumps over the lazy dog near the barn"),
      (1L, "the quick brown fox jumps over the lazy dog near the barn"),
      (9L, "the quick brown fox jumps over the lazy dog near the barn"),
      (3L, "the quick brown fox jumps over the lazy dog near the yard"),
      (4L, "short one"),
      (8L, "short one")) ++
      (10L until 30L).map(i => (i, s"filler document number $i with its own unique long tail ${i * 31}")))
      .toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
        .sorted.toSeq
    val collapsed = canon(Dedup.simhashCandidates(corpus, "text", "doc_id"))
    val direct = canon(Dedup.simhashCandidates(corpus, "text", "doc_id",
      collapseExactDups = false))
    assert(collapsed === direct)
    // every identical pair present at hamming 0 (3-group → 3 pairs,
    // plus the short pair), fingerprints equal within a pair
    val zeros = collapsed.filter(_._5 == 0)
    assert(zeros.size >= 4)
    zeros.foreach { case (_, _, s1, s2, _) => assert(s1 === s2) }
  }

  test("exact-dup collapse in bandedJaccardMinhash equals the direct " +
       "banded path (incl. the shingle-less identical-doc predicate)") {
    val corpus = (Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over a lazy dog"),
      (6L, "short one"),
      (7L, "short one"),
      (8L, "")) ++ (9L until 30L).map(i => (i, s"filler doc $i with unique tail ${i * 7}")))
      .toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val collapsed = canon(Dedup.bandedJaccardMinhash(corpus, "text", "doc_id",
      n = 3, threshold = 0.2, numHashes = 16, bands = 8))
    val direct = canon(Dedup.bandedJaccardMinhash(corpus, "text", "doc_id",
      n = 3, threshold = 0.2, numHashes = 16, bands = 8,
      collapseExactDups = false))
    assert(collapsed === direct)
    assert(collapsed.count { case (_, _, j) => j == 1.0 } >= 3)
    assert(!collapsed.exists { case (a, b, _) => a == 6L && b == 7L })
  }

  test("exact-dup collapse in ngramJaccard equals the direct all-pairs join") {
    // dup-heavy adversarial corpus: 3-deep identical groups, a cross-group
    // near-dup, shingle-less short docs (incl. identical short docs — no
    // shingles means NO pair, even at jaccard "1")
    val corpus = (Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over a lazy dog"),
      (4L, "completely different words entirely here now"),
      (5L, "completely different words entirely here now"),
      (6L, "short one"),
      (7L, "short one"),
      (8L, "")) ++ (9L until 30L).map(i => (i, s"filler doc $i with unique tail ${i * 7}")))
      .toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val collapsed = canon(Dedup.ngramJaccard(corpus, "text", "doc_id", n = 3, threshold = 0.2))
    val direct = canon(Dedup.ngramJaccard(corpus, "text", "doc_id", n = 3, threshold = 0.2,
      collapseExactDups = false))
    assert(collapsed === direct)
    // sanity: the 3-group contributes its 3 intra pairs at exactly 1.0
    assert(collapsed.count { case (_, _, j) => j == 1.0 } >= 3)
    // shingle-less identical docs (6,7) must NOT pair
    assert(!collapsed.exists { case (a, b, _) => a == 6L && b == 7L })

    // and on real data: the sf0.001 documents corpus
    val docsReal = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val c2 = canon(Dedup.ngramJaccard(docsReal, "text", "doc_id", n = 3, threshold = 0.2))
    val d2 = canon(Dedup.ngramJaccard(docsReal, "text", "doc_id", n = 3, threshold = 0.2,
      collapseExactDups = false))
    assert(c2 === d2)
  }

  test("banded jaccard (simhash candidates → exact verify) finds dups exactly") {
    val pairs = Dedup.bandedJaccard(docs, "text", "doc_id",
        n = 3, threshold = 0.3, maxHamming = 32)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0) // exact dup survives banding, jaccard exact
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("brute-force topk returns k ranked neighbors with self excluded") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.05f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0), "embedding", "vec_id", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq === Seq((0L, 1, 3L), (0L, 2, 1L)))
  }

  test("lang id picks the language with most stopword hits") {
    val d = Seq((0L, "the cat of the house is here"), (1L, "der hund und die katze ist ein"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.langId(d, "text").select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(out(0L) === "en")
    assert(out(1L) === "de")
  }

  test("frame sampling stub is deterministic byte plumbing") {
    val media = Multimodal.documentsAsMedia(spark, docs)
    val frames = Multimodal.sampleFrames(media, frameBytes = 16, everyN = 2)
      .filter(_.doc_id == 0L).collect().sortBy(_.frame_idx)
    val payload = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    assert(frames.head.offset === 0)
    assert(frames.head.checksum === payload.take(16).map(_ & 0xff).sum.toLong)
  }

  test("multimodal stub decode: deterministic features from payload bytes") {
    val media = Multimodal.documentsAsMedia(spark, docs)
    val feats = Multimodal.extractFeatures(media).collect().map(f => f.doc_id -> f).toMap
    val text0 = "the quick brown fox jumps over the lazy dog"
    assert(feats(0L).byte_len === text0.getBytes("UTF-8").length)
    assert(feats(0L).n_frames === text0.length / 1024 + 1)
    assert(feats(0L).checksum === text0.getBytes("UTF-8").map(_ & 0xff).sum.toLong)
    assert(feats(0L).checksum === feats(1L).checksum)
  }
}
