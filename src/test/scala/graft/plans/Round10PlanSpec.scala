package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** Physical-plan pins for the round-10 query surface (the Round9PlanSpec
  * discipline): the shuffle/broadcast/lowering structure each scaladoc
  * claims, asserted on the real sf fixture.
  */
class Round10PlanSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("a62 item similarity: the per-part top-3 lowers to the " +
       "bounded-heap TopKPerKeyExec and no cartesian appears") {
    val s = planString(
      graft.queries.Analytics.queries("a62_item_similarity")(spark, sf))
    assert(s.contains("TopKPerKey"), s"rank window must lower:\n$s")
    assert(!s.contains("CartesianProduct"), s"cartesian in a62 plan:\n$s")
  }

  test("a62/a60/a61 ride ONE memoized repeat-edge frame (object identity " +
       "extended to the third consumer)") {
    graft.Caches.clearAll(spark)
    val e = graft.queries.Analytics.repeatEdges(spark, sf)
    // building a62 must not rebuild or re-persist another edge frame
    val e2 = graft.queries.Analytics.repeatEdges(spark, sf)
    assert(e eq e2)
    graft.queries.Analytics.queries("a62_item_similarity")(spark, sf).collect()
    assert(graft.queries.Analytics.repeatEdges(spark, sf) eq e)
  }

  test("x94 collocations: no exchange carries raw document text — the " +
       "bigram table shuffles token pairs only") {
    val s = planString(
      graft.queries.Extensions.queries("x94_collocations")(spark, sf))
    val exLines = s.split('\n').filter(_.contains("Exchange hashpartitioning"))
    assert(exLines.nonEmpty)
    exLines.foreach { l =>
      assert(!l.contains("text#"), s"text crossed an exchange: $l")
    }
  }

  test("x96 cdc chunks: chunking is scan-side — the only exchanges carry " +
       "(source, chunk hash) aggregates, never the document text") {
    val s = planString(
      graft.queries.Extensions.queries("x96_cdc_chunks")(spark, sf))
    val exLines = s.split('\n').filter(_.contains("Exchange"))
    exLines.foreach { l =>
      assert(!l.contains("text#") && !l.contains(" t#"),
        s"document text crossed an exchange: $l")
    }
    assert(!s.contains("CartesianProduct"))
    // the passthrough design means NO join back to the corpus
    assert(!s.contains("SortMergeJoin") && !s.contains("BroadcastHashJoin"),
      s"cdc report must not join back to the corpus:\n$s")
  }

  test("x93 length quantiles: one corpus aggregation then windows over " +
       "the compressed (source, len) domain — no row-level global sort") {
    val s = planString(
      graft.queries.Extensions.queries("x93_length_quantiles")(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(s).size
    // partial agg exchange on (source, len) + window exchange on source
    // + final source rollup — the windows never see corpus rows
    assert(s.contains("Window"), s"expected window operators:\n$s")
    assert(hashEx <= 3, s"expected <=3 hash exchanges:\n$s")
  }

  test("x97 winnowing: fingerprints shuffle as longs — no exchange " +
       "carries the document text") {
    val s = planString(
      graft.queries.Extensions.queries("x97_winnowing")(spark, sf))
    val exLines = s.split('\n').filter(_.contains("Exchange"))
    exLines.foreach { l =>
      assert(!l.contains("text#") && !l.contains(" t#"),
        s"text crossed an exchange: $l")
    }
    assert(!s.contains("CartesianProduct"))
  }

  test("x98 vocab coverage: the top-k vocabulary joins as a BROADCAST " +
       "(a bounded dimension by construction) — the corpus never " +
       "shuffles for the coverage pass") {
    val s = planString(
      graft.queries.Extensions.queries("x98_vocab_coverage")(spark, sf))
    assert(s.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$s")
    assert(s.contains("TakeOrdered"), s"vocab cut must be TakeOrdered:\n$s")
  }

  test("a64 snapshot diff: ONE full-outer join on the key (both arms " +
       "prune to the diffed columns), no cartesian") {
    val s = planString(
      graft.queries.Analytics.queries("a64_snapshot_diff")(spark, sf))
    val outerJoins = "FullOuter".r.findAllIn(s).size
    assert(outerJoins >= 1, s"expected a full outer join:\n$s")
    assert(!s.contains("CartesianProduct"))
    // the scan must prune to the key + 3 diffed columns + the date
    assert(s.contains("ReadSchema"), s)
    assert(!s.contains("o_custkey"), s"undiffed column crossed the scan:\n$s")
  }

  test("st19 window top-k runs on TransformWithState keyed by the window") {
    val ds = graft.streaming.EventStreams.statefulWindowTopk(
      graft.tables.Tables.events(spark, sf), k = 3)
    val s = planString(ds.toDF())
    assert(s.contains("TransformWithState"), s"expected tws operator:\n$s")
  }

  test("st20 cdc first-seen: the keyed state shuffle carries " +
       "(hash, doc, len) — document text never crosses an exchange") {
    val ds = graft.streaming.DocStreams.cdcFirstSeenProbes(
      graft.tables.Tables.documents(spark, sf), "text", "doc_id")
    val s = planString(ds.toDF())
    assert(s.contains("MapGroups") || s.contains("FlatMapGroupsWithState"),
      s"expected keyed state op:\n$s")
    val exLines = s.split('\n').filter(_.contains("Exchange hashpartitioning"))
    exLines.foreach { l =>
      assert(!l.contains("text#") && !l.contains(" t#"),
        s"text crossed the state shuffle: $l")
    }
  }

  test("a65 scd2: ONE hash exchange on the entity key — the change " +
       "window, the run aggregate, and the interval-closing window all " +
       "reuse the ck partitioning") {
    val s = planString(
      graft.queries.Analytics.queries("a65_scd2_intervals")(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashEx == 1, s"expected exactly 1 hash exchange:\n$s")
    assert(s.contains("Window"), s)
  }

  test("x101 agg-state merge: partial states collapse before every " +
       "exchange — no cartesian, no broadcast of the fact side, bounded " +
       "exchange count") {
    val s = planString(
      graft.queries.Extensions.queries("x101_agg_state_merge")(spark, sf))
    assert(!s.contains("CartesianProduct"))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(s).size
    // (seg,prio,hash) distinct + window repartition + stats agg + final
    // prio merge — the sketch collect only ever sees ≤ k ranked rows/key
    assert(hashEx <= 4, s"expected <=4 hash exchanges:\n$s")
    assert(s.contains("HashAggregate"), s)
  }

  test("x102 bitext margin: the bounded probe set broadcasts (nested-loop " +
       "against the streamed candidate pool) — the pool itself never " +
       "shuffles before scoring") {
    val s = planString(
      graft.queries.Extensions.queries("x102_bitext_margin")(spark, sf))
    assert(s.contains("BroadcastNestedLoopJoin"),
      s"probe side must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("a66 event transitions: one user_id exchange for the lead window, " +
       "then windows run over the compressed |types|² pair domain") {
    val s = planString(
      graft.queries.Analytics.queries("a66_event_transitions")(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(s).size
    // user_id window + (from,to) pair agg + from_type probability window
    assert(hashEx <= 3, s"expected <=3 hash exchanges:\n$s")
    assert(s.contains("Window"), s)
    assert(!s.contains("CartesianProduct"))
  }

  test("st21 scd run-close runs on TransformWithState keyed by the user") {
    val ds = graft.streaming.EventStreams.statefulScdRuns(
      graft.tables.Tables.events(spark, sf))
    val s = planString(ds.toDF())
    assert(s.contains("TransformWithState"), s"expected tws operator:\n$s")
  }

  test("x103 overlap sketch: the two sketch arms share ONE build " +
       "(ReusedExchange) and the bounded pair join broadcasts — pair " +
       "cost is O(k), never a corpus-domain join") {
    val df =
      graft.queries.Extensions.queries("x103_overlap_sketch")(spark, sf)
    df.collect() // AQE finalizes reuse decisions
    val s = planString(df)
    assert(s.contains("ReusedExchange"),
      s"sketch build must be shared between the join arms:\n$s")
    assert(s.contains("BroadcastNestedLoopJoin"),
      s"the S-row sketch pair join must broadcast:\n$s")
    assert(!s.contains("CartesianProduct"))
  }

  test("st05/st08 migrated operators run on TransformWithState (the r9 " +
       "verdict ask 4 — promise and code agree)") {
    val ev = graft.tables.Tables.events(spark, sf)
    val s5 = planString(graft.streaming.EventStreams.statefulUserStats(ev).toDF())
    val s8 = planString(graft.streaming.EventStreams.statefulSessionize(ev).toDF())
    assert(s5.contains("TransformWithState"), s5)
    assert(s8.contains("TransformWithState"), s8)
  }
}
