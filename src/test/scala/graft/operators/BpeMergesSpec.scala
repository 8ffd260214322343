package graft.operators

import graft.SparkTestBase

/** Hand-checked pins for the iterated BPE merge loop (x67b): greedy
  * left-to-right application, tie ordering, merged-token pairing, and
  * the token-boundary anchoring of the literal replace.
  */
class BpeMergesSpec extends SparkTestBase {
  import spark.implicits._

  private def merges(docs: Seq[(Long, String)], steps: Int): List[(Int, String, String, Long)] =
    TextAnalysis.bpeMergeSeq(docs.toDF("doc_id", "text"), "text", steps)
      .toDF("step", "w1", "w2", "n_pairs")
      .orderBy("step")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toList

  test("four hand-checked rounds: election, greedy overlap, merged-token pairs") {
    val docs = Seq(
      (1L, "a a a"),
      (2L, "a b a b x"),
      (3L, "c a b c a b"))
    // round 1: (a,b) appears 4x (2 in doc2, 2 in doc3) — wins over (a,a) 2x
    // round 2: after merging "a b", (a,a) [doc1] ties (c,"a b") [doc3] at
    //   2 — (a,a) wins on pair order. GREEDY OVERLAP: "a a a" must count
    //   (a,a) twice but merge only once.
    // round 3: doc1 is now ["a a","a"]; (c,"a b") wins at 2.
    // round 4: all pairs count 1 — ("a a","a") wins on order, proving
    //   merged tokens pair like any token.
    assert(merges(docs, 4) === List(
      (1, "a", "b", 4L),
      (2, "a", "a", 2L),
      (3, "c", "a b", 2L),
      (4, "a a", "a", 1L)))
  }

  test("boundary anchoring: merging (a,b) must not touch the token 'bc'") {
    val docs = Seq((1L, "a bc a b"))
    // round 1 pairs: (a,bc) 1, (bc,a) 1, (a,b) 1 — (a,b) wins on order;
    // the replace must merge ONLY the trailing "a b", never "a bc".
    // round 2 pairs over ["a","bc","a b"]: (a,bc) 1, (bc,"a b") 1 —
    // (a,bc) wins; a false prefix match in round 1 would have destroyed
    // this pair.
    assert(merges(docs, 2) === List(
      (1, "a", "b", 1L),
      (2, "a", "bc", 1L)))
  }

  test("consecutive occurrences both merge in one round (shared boundaries)") {
    val docs = Seq((1L, "a b a b a b"))
    // "a b" x3 back-to-back: one round must merge all three (the
    // doubled-boundary encoding lets adjacent matches share boundaries);
    // round 2 then pairs the merged tokens
    assert(merges(docs, 2) === List(
      (1, "a", "b", 3L),
      (2, "a b", "a b", 2L)))
  }

  test("stream exhaustion ends the loop early instead of erroring") {
    val docs = Seq((1L, "one two"), (2L, "solo"))
    // only one pair exists; after merging it no pairs remain
    assert(merges(docs, 5) === List((1, "one", "two", 1L)))
  }

  test("step 1 equals the x67 primitive's top pair on the raw corpus") {
    val docs = (1L to 30L).map(i => (i, s"w${i % 3} w${i % 5} w${i % 3} end"))
    val viaLoop = merges(docs, 1).head
    val top = TextAnalysis.bpePairCandidates(docs.toDF("doc_id", "text"), "text", k = 1)
      .collect().head
    assert((viaLoop._2, viaLoop._3, viaLoop._4) ===
      (top.getString(0), top.getString(1), top.getLong(2)))
  }
}
