package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Pins for BPE encoding (x70) — applying a learned merge table to a
  * corpus ([[TextAnalysis.bpeEncodeWith]] over [[TextAnalysis.bpeMergeSeq]]):
  * the encoded stream equals the learner's own stream state, ALL merges
  * are applied (the learner never applies its last election), counts
  * and the md5 witness are exact, and the encode plan is one scan-side
  * pass with no shuffle.
  */
class BpeEncodeSpec extends SparkTestBase {
  import spark.implicits._

  private val B = "\u001f"
  private val BB = B + B

  /** Learn `steps` merges on `docs` and encode the same corpus with them. */
  private def bpeEncode(docs: DataFrame, steps: Int): DataFrame =
    TextAnalysis.bpeEncodeWith(docs, "text", "doc_id",
      TextAnalysis.bpeMergeSeq(docs, "text", steps).map(m => (m._2, m._3)))

  /** The learned merge table, one row per step. */
  private def bpeMergeSequence(docs: DataFrame, steps: Int): DataFrame =
    TextAnalysis.bpeMergeSeq(docs, "text", steps).toDF("step", "w1", "w2", "n_pairs")

  test("hand-checked corpus: merges apply in learned order, counts and " +
       "merged-unit tallies are exact") {
    // corpus: "a b" dominates (4 pairs), then "a b c" (merged-token pair)
    val docs = Seq(
      (1L, "a b c"),
      (2L, "a b c"),
      (3L, "a b x"),
      (4L, "a b")).toDF("doc_id", "text")
    // learned merges at steps=2: step1 = (a,b) n=4; step2 = ("a b", c) n=2
    val merges = bpeMergeSequence(docs, steps = 2)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(merges === Seq(("a", "b", 4L), ("a b", "c", 2L)))
    val got = bpeEncode(docs, steps = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // doc1/doc2: "a b c" → ["a b c"]: 1 token, 1 merged unit
    // doc3: "a b x" → ["a b", "x"]: 2 tokens, 1 merged
    // doc4: "a b" → ["a b"]: 1 token, 1 merged
    assert(got.map(g => (g._1, g._2, g._3)).toSeq ===
      Seq((1L, 1, 1), (2L, 1, 1), (3L, 2, 1), (4L, 1, 1)))
    // md5 witness: doc1 and doc2 encode identically, doc3 differs
    assert(got(0)._4 === got(1)._4)
    assert(got(0)._4 !== got(2)._4)
  }

  test("encode applies the LAST learned merge (which the learner's own " +
       "loop never applies to its stream)") {
    val docs = Seq((1L, "p q p q")).toDF("doc_id", "text")
    // steps=1: one merge (p,q) learned; without applying it the stream
    // would still be 4 tokens — encoded must be 2 merged tokens
    val got = bpeEncode(docs, steps = 1)
      .collect().map(r => (r.getInt(1), r.getInt(2))).head
    assert(got === ((2, 2)), s"last merge not applied: $got")
  }

  test("encoded stream state equals the learner's corpus stream replayed " +
       "through bpeEncodeWith with the same merge table") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran"),
      (3L, "a dog sat on the cat")).toDF("doc_id", "text")
    val learned = bpeMergeSequence(docs, steps = 3)
      .orderBy("step").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // manual replay of the doubled-boundary stream for doc 1
    def streamOf(text: String): String =
      BB + text.toLowerCase.split("\\s+").mkString(BB) + BB
    val replayed = learned.foldLeft(streamOf("the cat sat on the mat")) {
      case (s, (w1, w2)) =>
        s.replace(B + w1 + BB + w2 + B, B + w1 + " " + w2 + B)
    }
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(replayed.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = bpeEncode(docs, steps = 3)
      .filter(col("doc_id") === 1).collect().head
    assert(got.getString(3) === md, "encoded stream md5 != manual replay")
    val inner = replayed.split(BB).drop(1).dropRight(0)
    // counts from the replayed stream (split leaves leading/trailing "")
    val toks = replayed.split(BB, -1).slice(1, replayed.split(BB, -1).length - 1)
    assert(got.getInt(1) === toks.length)
    assert(got.getInt(2) === toks.count(_.contains(" ")))
    assert(inner.nonEmpty)
  }

  test("degenerate docs: empty text and single-token text encode without " +
       "merges; empty corpus learns an empty table") {
    val docs = Seq((1L, ""), (2L, "solo")).toDF("doc_id", "text")
    val got = bpeEncode(docs, steps = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // "" tokenizes to one empty token (split semantics), "solo" to one
    assert(got.toSeq === Seq((1L, 1, 0), (2L, 1, 0)))
    val none = TextAnalysis.bpeEncodeWith(docs, "text", "doc_id", Seq.empty)
      .orderBy("doc_id").collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(none.toSeq === Seq((1, 0), (1, 0)))
  }

  test("encode plan: one scan-side pass — no Exchange, no Join; the " +
       "replace chain stays inside WholeStageCodegen") {
    // a parquet-backed input: a local Seq would constant-fold into a
    // LocalTableScan and hide the plan under test
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val enc = TextAnalysis.bpeEncodeWith(docs, "text", "doc_id",
      Seq(("a", "b"), ("a b", "c")))
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encode must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"encode must not join:\n$plan")
    // the replace chain — the per-byte-expensive part — runs inside a
    // codegen stage ("*(n) Project [... replace(replace(..."); only the
    // final count projection falls back (higher-order `filter` is
    // CodegenFallback, one pass over the already-encoded stream)
    assert(plan.contains("*(1) Project") && plan.contains("replace(replace("),
      s"replace chain not codegen'd:\n$plan")
  }
}
