package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.tables.{Tables => T}

/** Round-8 pins: the codebook-size guard, the null-cosine election
  * guard, the exact-duplication probe routing, and the single-Generate
  * batch-key plan in incremental near-dedup.
  */
class Round8OpsSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("cbArray guard: oversized cells parameter fails fast at require time") {
    val emb = T.embeddings(spark, sf)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKSampled(emb, emb.limit(1), "embedding", "vec_id",
        k = 5, cells = Similarity.MaxCodebookEntries + 1)
    }
    assert(e.getMessage.contains("MaxCodebookEntries"))
    intercept[IllegalArgumentException] {
      Similarity.semanticDedup(emb, "embedding", "vec_id",
        cells = Similarity.MaxCodebookEntries + 1)
    }
  }

  test("cbArray guard: an oversized codebook FRAME raises at first action, " +
       "never building a corpus-sized driver row") {
    // bypass the public require (future caller / internal misuse): hand
    // cbArray a frame larger than the bound via a synthetic range
    val big = spark.range(Similarity.MaxCodebookEntries + 10)
      .select(col("id").as("cell"), array(lit(0.1f)).as("centroid"))
    val e = intercept[Exception] {
      Similarity.cbArray(big).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("MaxCodebookEntries"),
      s"expected the scan-side raise_error, got: $e")
  }

  test("zero-norm codebook vectors rank LAST in cell election (null cosine " +
       "coalesced to +inf), so degenerate centroids are never elected") {
    // every vector is a center (cells = n); vec 0 is all-zeros, the rest
    // form two tight clusters. Under the old ranking a null cosine
    // sorted FIRST and vec 0's cell would swallow every election.
    val vecs =
      (0L, Array.fill(4)(0f)) +:
        (1L to 4L).map(i => (i, Array(1f, 0.01f * i, 0f, 0f))) :+
        (9L, Array(0f, 0f, 1f, 0.1f))
    val emb = vecs.toDF("vec_id", "embedding")
    // cells = n: every vector is a center. Query 1's probe ranking must
    // put real centers (cluster-mates at cos ≈ 0.999) AHEAD of the
    // zero-norm center; under the old null-first ordering the zero cell
    // would head EVERY probe list and its null-cosine member would
    // surface in the results.
    val got = Similarity.ivfTopKSampled(emb, emb.filter(col("vec_id") === 1),
        "embedding", "vec_id", k = 5, cells = 6, nProbe = 2)
      .collect().map(r => (r.getLong(2), r.get(3))).toList
    assert(got.nonEmpty, "probe set collapsed")
    assert(got.forall { case (cand, _) => Set(2L, 3L, 4L).contains(cand) },
      s"probed a degenerate cell: $got")
    assert(got.forall(_._2 != null), s"null cosine leaked into results: $got")
    // semanticDedup, same codebook: with the guard each vector elects
    // its OWN cell (cos 1.0 beats every other center; the zero vector
    // ties all-null and falls to the smallest cell id = its own 0), so
    // every cell is a singleton and nothing is dominated. Under the old
    // ordering all six vectors land in the zero cell and cluster-mates
    // get dropped.
    val dedup = Similarity.semanticDedup(emb, "embedding", "vec_id",
        cells = 6, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(dedup.length === vecs.size)
    assert(dedup.forall { case (vecId, cell, kept) => cell === vecId && kept },
      s"zero-norm centroid perturbed assignment/domination: ${dedup.toList}")
  }

  test("dupFraction probe: 0 on a dup-free corpus, exact rate once text " +
       "repeats; routing needs the threshold cleared, not just any dup") {
    val unique = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val dups = unique.unionByName(Seq((3L, "alpha beta gamma")).toDF("doc_id", "text"))
    assert(Dedup.dupFraction(unique, "text") === 0.0)
    assert(Dedup.dupFraction(dups, "text") === 1.0 / 3.0)
    assert(Dedup.collapseWorthwhile(dups, "text"),
      "33% duplication must clear the collapse threshold")
    // a shallow-dup corpus (1 dup in 100 rows = 1%) stays on the direct
    // path: below CollapseDupRateThreshold the keying/expansion is
    // fixed cost for ~no quadratic savings (the driver sf0.1 corpus is
    // 0.16% dup — the round-7 artifact paid the collapse there for
    // nothing)
    val shallow = ((1L to 99L).map(i => (i, s"unique text $i")) :+
      (100L, "unique text 1")).toDF("doc_id", "text")
    assert(Dedup.dupFraction(shallow, "text") === 0.01)
    assert(!Dedup.collapseWorthwhile(shallow, "text"))
  }

  test("dup-free corpora route x19/x37 to the DIRECT path (no collapse " +
       "keying), dup corpora to the collapsed one — outputs equal either way") {
    val docs = T.documents(spark, sf) // driver corpus: no exact dups
    val collapsed = Dedup.simhashCandidates(docs, "text", "doc_id")
    // the collapse's internal rep/member machinery projects "__text";
    // the direct plan never mentions it
    assert(!collapsed.queryExecution.analyzed.toString.contains("__text"),
      "dup-free corpus did not route to the direct simhash path")
    assert(!Dedup.fuzzyPairs(docs, "text", "doc_id")
        .queryExecution.analyzed.toString.contains("__text"),
      "dup-free corpus did not route to the direct fuzzy path")

    // adversarial dup corpus: probe routes to collapse, and the result
    // still equals the forced-direct join (the r7 equality, re-pinned
    // through the new routing)
    val base = (1L to 40L).map(i =>
      (i, s"doc $i body with shared words ${"pad " * (i % 5).toInt}"))
    val withDups = (base ++ base.take(12).map { case (i, t) => (i + 100L, t) })
      .toDF("doc_id", "text")
    val viaProbe = Dedup.simhashCandidates(withDups, "text", "doc_id")
    assert(viaProbe.queryExecution.analyzed.toString.contains("__text"),
      "dup corpus did not route to the collapsed path")
    val direct = Dedup.simhashCandidates(withDups, "text", "doc_id",
        collapseExactDups = false)
      .select("d1", "d2", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = viaProbe.select("d1", "d2", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === direct)
  }

  test("nearDedupAgainst: batch banded keys are persisted — ONE live Generate " +
       "(the history side) in the physical plan, not three") {
    val docs = T.documents(spark, sf)
    val (batch, hist) = (docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
      docs.filter(pmod(col("doc_id"), lit(10)) < 8))
    val out = Dedup.nearDedupAgainstSigs(batch, "doc_id",
      graft.Caches.persistOnce(Dedup.minhashSignatures(batch, "text", "doc_id")),
      graft.Caches.persistOnce(Dedup.minhashSignatures(hist, "text", "doc_id")),
      numHashes = 16, bands = 8, minEstimate = 0.2)
    // the batch side reads the persisted key table (InMemoryRelation
    // leaves — their cached build plan is not part of this query), so
    // the only LIVE Generate is the history side's band explode
    val plan = out.queryExecution.optimizedPlan
    val nGenerate = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.size
    assert(nGenerate === 1,
      s"expected exactly one live Generate (history keys), found $nGenerate:\n$plan")
    assert(out.count() >= 0) // the query still runs end-to-end
  }
}
