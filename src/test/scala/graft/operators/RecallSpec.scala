package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.tables.{Tables => T}

/** Ground-truth recall/precision harness for the approximate operators.
  *
  * The exact operators (ngramJaccard, bruteForceTopK,
  * embeddingCosinePairs) provide truth on the driver's seeded corpus;
  * each approximate operator's candidate/result set is measured against
  * it and a floor is pinned. This converts the rows-only driver checks
  * (x03/x06/x17) from "unverified" to "quantified", and pins the
  * equalities that let x14/x20 share the exact SQL oracle.
  */
class RecallSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = T.documents(spark, sf)
  private lazy val emb = T.embeddings(spark, sf)

  /** Exact all-pairs Jaccard truth at the x02/x14/x20 threshold. */
  private lazy val exactJaccard: Map[(Long, Long), Double] =
    Dedup.ngramJaccard(docs, "text", "doc_id", n = 3, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  /** Exact cosine top-10 truth for the x05/x06/x17 query set. */
  private lazy val exactTopK: Set[(Long, Long)] =
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet

  private def recallOf(got: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
    if (truth.isEmpty) 1.0 else truth.count(got.contains).toDouble / truth.size

  test("minhash-banded jaccard (r=2, L=8) EQUALS the exact all-pairs join " +
       "— recall 1.0 and precision 1.0, the x20/x14 oracle precondition") {
    val banded = Dedup.bandedJaccardMinhash(docs, "text", "doc_id",
        n = 3, threshold = 0.2, numHashes = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(banded === exactJaccard,
      s"banded != exact: missing=${exactJaccard.keySet -- banded.keySet} " +
        s"extra=${banded.keySet -- exactJaccard.keySet}")
  }

  test("minhash-banded jaccard EQUALS exact all-pairs at sf0.1 too — one scale " +
       "step ABOVE the correctness gate (where the correlated-permutation bug hid)") {
    val bigDocs = T.documents(spark, "/root/testdata/sf0.1")
    val banded = Dedup.bandedJaccardMinhash(bigDocs, "text", "doc_id",
        n = 3, threshold = 0.2, numHashes = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Dedup.ngramJaccard(bigDocs, "text", "doc_id", n = 3, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.size > 100, s"sf0.1 fixture shrank: ${exact.size} pairs")
    assert(banded === exact,
      s"banded != exact at sf0.1: missing=${exact.keySet -- banded.keySet} " +
        s"extra=${banded.keySet -- exact.keySet}")
  }

  test("simhash banding (4×16 bits) recall is quantified; verified output is a " +
       "subset of truth with exact jaccard values (precision 1.0)") {
    val cand = Dedup.simhashCandidates(docs, "text", "doc_id")
      .select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = recallOf(cand, exactJaccard.keySet)
    info(f"simhash 4x16 band recall vs exact pairs: $recall%.3f " +
      s"(${exactJaccard.keySet.count(cand.contains)}/${exactJaccard.size})")
    // deterministic corpus+seed: measured 0.893 (25/28); misses sit at
    // Hamming 5-8 where no 16-bit band is clean
    assert(recall >= 0.85, f"simhash banding recall degraded: $recall%.3f")

    val verified = Dedup.bandedJaccard(docs, "text", "doc_id",
        n = 3, threshold = 0.2, maxHamming = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    verified.foreach { case (pair, j) =>
      assert(exactJaccard.get(pair).contains(j),
        s"banded pair $pair has jaccard $j but truth says ${exactJaccard.get(pair)}")
    }
  }

  test("x03 minhash estimate query: recall vs exact pairs measured and floored") {
    val got = Dedup.minhashNative(docs, "text", "doc_id",
        numHashes = 16, bands = 8, minEstimate = 0.2)
      .select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = recallOf(got, exactJaccard.keySet)
    info(f"x03 minhash (16 hashes, 8 bands) recall: $recall%.3f")
    // measured 1.000 with independent seeded hashes (all true pairs sit
    // at j ≥ 0.9, where 2-row-band miss probability is ≤ (1-j²)^8)
    assert(recall >= 0.99, f"x03 recall degraded: $recall%.3f")
  }

  test("x06 seeded-sign SRP top-k: recall@10 measured per table count and floored") {
    val recalls = Seq(4, 6, 8).map { tables =>
      val got = Similarity.srpTopK(emb, emb.filter(col("vec_id") < 5),
          "embedding", "vec_id", k = 10, dim = 64, tables = tables)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = recallOf(got, exactTopK)
      info(f"x06 srp recall@10 ($tables tables): $recall%.3f")
      tables -> recall
    }.toMap
    // the deterministic variant behind the x06 query: bucket-join
    // semantics over seeded ±1 directions; more tables =
    // more collision chances = higher recall at proportional key cost
    assert(recalls(6) >= 0.8, f"x06 srp recall degraded: ${recalls(6)}%.3f")
    assert(recalls(8) >= recalls(4), "more tables must not lose recall")
  }

  test("x17 sampled-codebook IVF: recall@10 measured per nProbe and floored") {
    val recalls = Seq(4, 6, 8).map { nProbe =>
      val got = Similarity.ivfTopKSampled(emb, emb.filter(col("vec_id") < 5),
          "embedding", "vec_id", k = 10, cells = 16, nProbe = nProbe)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = recallOf(got, exactTopK)
      info(f"x17 sampled-codebook ivf recall@10 (nProbe $nProbe/16): $recall%.3f")
      nProbe -> recall
    }.toMap
    // measured 0.480 / 0.560 / 0.660 at nProbe 4/6/8: a sampled codebook
    // has more uneven Voronoi cells than a trained codebook, so
    // equal-nProbe coverage is lower and nProbe is the recall dial.
    // Floors pin regression, not quality (near-random corpus).
    assert(recalls(4) >= 0.45, f"x17 sampled recall degraded: ${recalls(4)}%.3f")
    assert(recalls(8) >= recalls(4), "probing more cells must not lose recall")
  }

  test("x50 IVF+PQ exactness in the limit: ks ≥ corpus size makes every " +
       "vector its own codeword, so ADC ranking EQUALS the exact sampled-IVF " +
       "result set") {
    // With ks = 500 (= |embeddings| at sf0.001) the hash-min sample is
    // the whole corpus, each subvector quantizes to itself (d2 = 0 at
    // code = own id), and ADC = exact L2² to the query. On unit-norm
    // vectors L2² = 2 − 2·cosine, so per-query result SETS must match
    // ivfTopKSampled's cosine ranking over the same probed cells — this
    // pins the LUT join wiring (sub/code matching, no dropped or
    // double-counted subspace) end to end, independent of PQ quality.
    val queries = emb.filter(col("vec_id") < 5)
    def resultSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val pq = resultSets(Similarity.ivfPqTopK(emb, queries,
      "embedding", "vec_id", k = 10, cells = 16, nProbe = 4, m = 4, ks = 500))
    val ivf = resultSets(Similarity.ivfTopKSampled(emb, queries,
      "embedding", "vec_id", k = 10, cells = 16, nProbe = 4))
    assert(pq === ivf,
      s"ks=n ADC ranking diverged from exact cosine ranking: pq=$pq ivf=$ivf")
  }

  test("x50 IVF+PQ at production params: results stay inside the probed " +
       "cells; recall@10 measured (regression floor only)") {
    val got = Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 10, cells = 16, nProbe = 4, m = 4, ks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // The cell-pruning stage is shared with ivfTopKSampled: everything
    // scored must come from the same probed cells.
    val ivfCands = Similarity.ivfTopKSampled(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 2000, cells = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got.subsetOf(ivfCands),
      s"ivf+pq returned a candidate outside its probed cells: ${got -- ivfCands}")
    val recall = recallOf(got, exactTopK)
    info(f"x50 ivf+pq recall@10 (nProbe 4/16, m=4, ks=8): $recall%.3f")
    // Measured 0.040: on a NEAR-RANDOM unit corpus, 8 sampled codewords
    // per 16-dim subspace capture ~no variance, so ADC re-ranking inside
    // the probed cells is noise — the expected behavior of PQ at this
    // compression on unstructured data (ks/m are the quality dials; the
    // ks=n limit test above proves the machinery). Floor pins only
    // "non-degenerate": results exist for every query and beat empty.
    assert(recall >= 0.0 && got.size === 50,
      f"x50 ivf+pq degenerated: recall $recall%.3f, ${got.size} rows")
  }

  test("x17/x50 planted near-dups: IVF and IVF+PQ recover cos≈0.999 planted " +
       "partners at production params — a QUALITY floor, unlike the " +
       "random-corpus regression floors above") {
    // The random-corpus recalls (0.48 / 0.04) say nothing about operator
    // quality: there, quantization error swamps signal by construction.
    // This is the regime ANN is FOR — plant near-identical pairs and
    // require the operators to find them (mirrors the LSH planted test
    // below, which achieves full recovery).
    import spark.implicits._
    val dim = 64
    val rnd = new scala.util.Random(11L)
    def randVec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val base = (0 until 200).map(i => (i.toLong, randVec()))
    val plants = (0 until 10).map { i =>
      val v = base(i)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      ((1000 + i).toLong, v)
    }
    val df = (base ++ plants).toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") >= 1000)
    def plantedRecall(df0: org.apache.spark.sql.DataFrame): Double = {
      val got = df0.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (0 until 10).count(i => got.contains(((1000 + i).toLong, i.toLong))) / 10.0
    }
    val ivf = plantedRecall(Similarity.ivfTopKSampled(df, queries,
      "embedding", "vec_id", k = 10, cells = 16, nProbe = 4))
    val pq = plantedRecall(Similarity.ivfPqTopK(df, queries,
      "embedding", "vec_id", k = 10, cells = 16, nProbe = 4, m = 4, ks = 8))
    info(f"planted recall@10 — ivf (sampled, nProbe 4/16): $ivf%.2f, ivf+pq (m=4, ks=8): $pq%.2f")
    // a planted partner sits in (or next to) its query's own cell, so
    // nProbe=4 coverage must find it; PQ's ADC ranks the near-identical
    // partner at/near the per-cell LUT minimum
    assert(ivf >= 0.9, f"ivf planted recall degraded: $ivf%.2f")
    assert(pq >= 0.8, f"ivf+pq planted recall degraded: $pq%.2f")
  }

  test("blocked embedding pairs EQUAL the n² baseline (exactness of the " +
       "block-pair rewrite) and plan has no cartesian node") {
    val blocked = Dedup.embeddingCosinePairsBlocked(emb, "embedding", "vec_id", 0.4)
    val base = Dedup.embeddingCosinePairs(emb, "embedding", "vec_id", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = blocked
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got === base)
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"blocked plan still has a cartesian:\n$plan")
  }

  test("fuzzy dedup blocking: recall vs the full n² levenshtein truth, and real pruning") {
    import spark.implicits._
    // full n² truth at the x37 parameters (500 docs → 125k pairs is
    // fine in a test; the operator exists precisely to avoid this)
    val d = docs.select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val t = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(b.length)
    }
    val truth = (for {
      i <- d.indices; j <- (i + 1) until d.length
      if math.abs(d(i)._2.length - d(j)._2.length) <= 24
      if lev(d(i)._2, d(j)._2) <= 20
    } yield if (d(i)._1 < d(j)._1) (d(i)._1, d(j)._1) else (d(j)._1, d(i)._1)).toSet
    val got = Dedup.fuzzyPairs(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1.0 by construction (every candidate is verified); the
    // prefix block can only MISS pairs whose edits touch the prefix —
    // quantify that recall instead of hoping
    assert(got.subsetOf(truth), s"false positives: ${got -- truth}")
    val recall = recallOf(got, truth)
    info(s"fuzzy blocking recall: $recall (${got.size}/${truth.size} pairs)")
    assert(recall >= 0.9, s"prefix blocking recall $recall below floor")
  }

  test("x86 OPH minhash: recall vs exact pairs measured and floored " +
       "(re-pinned separately — OPH variance exceeds the seeded family's)") {
    val got = Dedup.ophMinhash(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = recallOf(got, exactJaccard.keySet)
    info(s"OPH recall: $recall (${got.size} candidates, ${exactJaccard.size} true)")
    assert(recall >= 0.9, s"OPH banding recall $recall below floor")
    // densified components are donor+distance longs, so a same-bin
    // identical pair of docs still matches exactly on every component
    val sigs = Dedup.ophSignatures(docs, "text", "doc_id").collect()
    assert(sigs.forall(_.getSeq[Long](1).size == 16))
  }

  test("x86 OPH at sf0.1: recall floored one scale step above the gate") {
    val bigDocs = T.documents(spark, "/root/testdata/sf0.1")
    val exact = Dedup.ngramJaccard(bigDocs, "text", "doc_id", n = 3, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.ophMinhash(bigDocs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = recallOf(got, exact)
    info(s"OPH sf0.1 recall: $recall (${got.size} candidates, ${exact.size} true)")
    assert(recall >= 0.9, s"OPH banding recall $recall below floor at sf0.1")
  }
}
