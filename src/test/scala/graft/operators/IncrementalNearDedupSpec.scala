package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** x66 nearDedupAgainstSigs: batch-vs-history near-dup semantics. */
class IncrementalNearDedupSpec extends SparkTestBase {
  import spark.implicits._

  /** Batch survivors against `hist`, over persisted signatures of each. */
  private def nearDedupAgainst(batch: DataFrame, hist: DataFrame): DataFrame =
    Dedup.nearDedupAgainstSigs(batch, "doc_id",
      graft.Caches.persistOnce(Dedup.minhashSignatures(batch, "text", "doc_id")),
      graft.Caches.persistOnce(Dedup.minhashSignatures(hist, "text", "doc_id")),
      numHashes = 16, bands = 8, minEstimate = 0.2)

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the bright summer sun warms the quiet meadow near the river"

  test("history hits drop; in-batch one-hop domination keeps the min id; " +
       "disjoint and shingle-less batch docs survive") {
    val hist = Seq((1L, base)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                               // exact dup of history → dropped
      (11L, base + " extra tail words here"),    // near-dup of history → dropped
      (12L, "completely unrelated content about maritime navigation " +
            "charts and the careful plotting of coastal approaches at dusk"),
      (13L, "completely unrelated content about maritime navigation " +
            "charts and the careful plotting of coastal approaches at dusk"),
      // near-dup of 12 within batch → dominated by the smaller id
      (14L, "tiny doc"))                         // < 3 words: no shingles → survives
      .toDF("doc_id", "text")
    val kept = nearDedupAgainst(batch, hist)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(12L, 14L),
      s"expected {12 survivor, 14 shingle-less}, got $kept")
  }

  test("empty history is the in-batch one-hop dedup; empty batch is empty") {
    val batch = Seq((1L, base), (2L, base), (3L, "other words entirely " +
        "unrelated to anything above in this little corpus"))
      .toDF("doc_id", "text")
    val emptyHist = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val kept = nearDedupAgainst(batch, emptyHist)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
    val emptyBatch = nearDedupAgainst(emptyHist, batch)
    assert(emptyBatch.count() === 0)
  }

  test("history is never self-joined: no plan node joins two " +
       "history-derived banded sides") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = nearDedupAgainst(
        docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
        docs.filter(pmod(col("doc_id"), lit(10)) < 8))
      // Both candidate joins must have a batch-derived side: the batch
      // filter (doc_id % 10) >= 8 appears under every shuffle-hash join.
      val joins = q.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(joins.nonEmpty, "expected shuffle_hash candidate joins")
      joins.foreach { j =>
        val sides = Seq(j.left.toString, j.right.toString)
        assert(sides.exists(_.contains(">= 8")),
          s"join with no batch side (history self-join?):\n$j")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
