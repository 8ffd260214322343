package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** Guard against the explode-broadcast trap: Catalyst estimates
  * `Generate` output at ~its input size, ignoring fan-out, so a
  * corpus-sized shingle/band table can be planned as the BUILD side of a
  * broadcast join — fine at test scale, an OOM at 100 TB, and invisible
  * to AQE (a static broadcast join has no shuffle for AQE to replan).
  *
  * This spec re-plans EVERY `SparkEntry.queries` entry (AQE off so the
  * static choice is visible), each from a released session
  * (`Caches.clearAll`: no memo or cached plan left by the query before,
  * as in a fresh session), and pins the EXACT number of
  * broadcast-of-explode sites per query; a query missing from both maps
  * below must have none. A site is allowed for one of two reasons:
  *  - `bounded`: the broadcast side is bounded by construction, not by
  *    the corpus — each entry carries its one-line reason;
  *  - `knownDefects`: the side IS corpus-sized; pinned so the count can
  *    only go down, each one an open fix (the operator should pin a
  *    shuffle join there, as x51/x57/x66 do).
  * A new hit (count above the pin) means a corpus-proportional relation
  * slid under autoBroadcastJoinThreshold — fix the operator; never raise
  * a count without a boundedness reason or a known-defect label.
  */
class ExplodeBroadcastGuardSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private val bounded = Map(
    "x06_ann_lsh" -> 1,            // query-side buckets: |queries|·tables rows
    "x25_decontaminate" -> 1,      // eval-set shingles: the eval corpus is small by contract
    "x31_bloom_dedup" -> 1,        // bloom bit positions: ≤ m = 16384 rows
    "x32_heavy_hitters" -> 1,      // CMS grid collapsed to one row (d·w = 256 cells)
    "x34_boilerplate" -> 1,        // df-cut hot shingles: ≤ 100·avg shingles/doc
    "x43_product_quantize" -> 1,   // PQ codebook slices: codebook-sized
    // PQ codebook slices, query LUT and the query-side probe list
    // (|queries|·nProbe rows)
    "x50_ann_ivfpq" -> 4,
    "x72_ann_ivf_trained" -> 1,    // query-side probe list: |queries|·nProbe rows
    "x52_bm25" -> 1,               // df rows for the fixed query-token list
    "x63_eval_contamination" -> 2, // eval shingle set and its hit set (≤ eval shingles)
    "x73_dsir" -> 1,               // one collected row of ≤ 512 hashed-bucket weights
    "x76_bigram_lm" -> 1,          // the top-1024 bigrams (TakeOrderedAndProject limit)
    "x77_hybrid_retrieval" -> 1,   // df rows for the fixed 5-token query list
    // CMS cells of each join side: (side, 4 rows, 256 columns)
    "x111_join_size_cms" -> 2,
    "x119_int8_recall" -> 1,       // one collected row of per-dimension max-abs (dim entries)
    // one degree row per part vertex (≤ |part|, a dimension) from a
    // fixed fan-out-2 explode, so the estimate is not fooled
    "a60_basket_triangles" -> 1)

  /** Corpus-sized broadcast builds, pinned until their operators are fixed. */
  private val knownDefects = Map(
    "a56_basket_affinity" -> 1,  // co-occurring part pairs: quadratic per-basket fan-out
    "st33_dedup_audit" -> 1,     // per-doc dup flags: one row per document
    "x02_dedup_jaccard" -> 1,    // exact-Jaccard shingle side: every (doc, shingle)
    "x100_cdc_incremental" -> 1, // distinct chunk hashes of the history corpus
    "x112_typo_dedup" -> 1,      // frequent vocabulary × its deletion variants
    // two exploded shingle sides and the per-doc shingle sizes
    "x99_neardup_eval" -> 3)

  private val expected = bounded ++ knownDefects

  private def broadcastExplodeSites(plan: SparkPlan): Int = {
    def hasGenerate(p: SparkPlan): Boolean =
      p.collectFirst { case g: GenerateExec => g }.isDefined
    var n = 0
    plan.foreach {
      case j: BroadcastHashJoinExec =>
        val build = j.buildSide match { case BuildLeft => j.left; case BuildRight => j.right }
        if (hasGenerate(build)) n += 1
      case j: BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match { case BuildLeft => j.left; case BuildRight => j.right }
        if (hasGenerate(build)) n += 1
      case _ =>
    }
    n
  }

  test("static plans broadcast an explode output only at the audited bounded sites") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val stale = expected.keySet -- graft.SparkEntry.queries.keySet
      assert(stale.isEmpty, s"pinned queries that no longer exist: $stale")
      val actual = graft.SparkEntry.queries.keys.toSeq.sorted.map { name =>
        val plan = graft.SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan
        graft.Caches.clearAll(spark)
        name -> broadcastExplodeSites(plan)
      }.toMap
      val diffs = actual.filter { case (k, v) => expected.getOrElse(k, 0) != v }
      assert(diffs.isEmpty,
        s"broadcast-of-explode sites moved (actual vs expected): " +
          diffs.toSeq.sorted.map { case (k, v) => s"$k: $v != ${expected.getOrElse(k, 0)}" }.mkString(", "))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
