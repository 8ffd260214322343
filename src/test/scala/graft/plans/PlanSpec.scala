package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.tables.{Tables => T}

/** Plan-shape regression tests: the physical characteristics that make
  * these operators survive a 100× scale-up, asserted on the actual plans
  * so a refactor cannot silently regress them.
  */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("timestamp range filter pushes down to the parquet scan") {
    val df = T.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .select("o_orderkey")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("o_orderdate"),
      s"no pushed filter in scan:\n$scan")
    // column pruning: only the two referenced columns are read
    assert(scan.contains("ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp"),
      s"scan reads more than needed:\n$scan")
  }

  test("dimension join broadcasts; fact side does not shuffle for it") {
    val df = graft.queries.Analytics.queries("a02_join_broadcast")(spark, sf)
    assert(planString(df).contains("BroadcastHashJoin"))
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    val df = graft.queries.Analytics.queries("a11_topk")(spark, sf)
    assert(planString(df).contains("TakeOrderedAndProject"))
  }

  test("group-by aggregation is partial (map-side combine) before the shuffle") {
    val df = graft.queries.Analytics.queries("a01_agg_pricing")(spark, sf)
    val s = planString(df)
    assert(s.contains("partial_sum") || s.contains("partial_count"), s)
  }

  test("bucketed tables join co-located: no shuffle exchange in the plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_buckets")
    T.lineitem(spark, sf).write
      .option("path", s"$dir/li").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    T.orders(spark, sf).write
      .option("path", s"$dir/o").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val plan = planString(joined)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed join should not shuffle the fact side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("x15 wired query plans as block-pair equi-joins — no cartesian node") {
    val df = graft.queries.Extensions.queries("x15_dedup_embedding")(spark, sf)
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"x15 regressed to a cartesian plan:\n$plan")
  }

  test("x20 banded query never joins on raw shingle strings") {
    // the quadratic shape is a join keyed on the exploded shingle column;
    // the banded path must join only on (band,bucket) structs and doc ids.
    // Built directly (not via the query): the x20 query returns the
    // session-memoized bandedPairs frame, whose optimized plan is an
    // InMemoryRelation once persisted — the joins under audit live in
    // the chain that BUILDS it.
    val df = graft.operators.Dedup.bandedJaccardMinhash(
      T.documents(spark, sf), "text", "doc_id",
      n = 3, threshold = 0.2, numHashes = 16, bands = 8)
    // the ANALYZED plan: cache substitution (withCachedData) would
    // collapse the build chain to an InMemoryRelation whenever an
    // earlier suite already persisted the shared shingle/pair frames
    // (suite-order coupling); the authored joins are what's audited,
    // and the optimizer never introduces joins
    val joins = df.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.map(_.references.map(_.name).toSet).getOrElse(Set.empty)
    }
    assert(joins.nonEmpty)
    joins.foreach(refs =>
      assert(!refs.contains("s"), s"join keyed on raw shingle column: $refs"))
  }

  test("x23 chunking plan is shuffle-free (narrow transforms + explode only)") {
    val chunked = graft.operators.TextAnalysis.chunk(
      T.documents(spark, sf), "text", chunkSize = 32, stride = 24)
    val s = planString(chunked)
    assert(!s.contains("Exchange"), s"chunking introduced a shuffle:\n$s")
    assert(s.contains("Generate"), s"expected an explode Generate node:\n$s")
  }

  test("x24 hash sampling is a scan-stage filter — no shuffle, pruned columns") {
    val sampled = graft.operators.Sampling.stratifiedHashSample(
      T.documents(spark, sf).select("doc_id", "lang"), col("doc_id"), col("lang"),
      rates = Seq("en" -> 50), defaultPct = 10)
    val s = planString(sampled)
    assert(!s.contains("Exchange"), s"sampling introduced a shuffle:\n$s")
    val scan = sampled.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,lang:string"),
      s"scan reads more than needed:\n$scan")
  }

  test("a39 sessionize: both windows and the aggregation share ONE user_id shuffle") {
    val df = graft.queries.Analytics.queries("a39_sessionize")(spark, sf)
    val s = planString(df)
    // lag window, running-sum window, and groupBy all partition on
    // user_id — Spark must reuse a single hashpartitioning exchange
    // (plus one range exchange for the final presentation orderBy)
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(s).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 1,
      s"expected exactly one hash exchange:\n$s")
  }

  test("x28 tfidf: vocabulary join is a token-keyed shuffle (NOT broadcast); " +
       "rank filter lowers to WindowGroupLimit") {
    val df = graft.queries.Extensions.queries("x28_tfidf")(spark, sf)
    val s = planString(df)
    // df-per-token is vocabulary-sized (billions of distinct tokens at
    // web scale) — it must NOT be broadcast; the pinned plan hashes
    // both sides on token and builds over the df aggregate
    assert(s.contains("ShuffledHashJoin"), s"expected shuffled vocab join:\n$s")
    assert(!s.contains("BroadcastHashJoin"), s"vocab table must not broadcast:\n$s")
    // rank<=k over the window plans as a bounded per-key group limit,
    // not a full sort-rank-filter
    assert(s.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$s")
  }

  test("x29 pack: exactly one hash exchange (the shard key) feeds the window") {
    val df = graft.queries.Extensions.queries("x29_pack_tokens")(spark, sf)
    val s = planString(df)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashEx == 1, s"expected one hash exchange, got $hashEx:\n$s")
  }

  test("x30 mixture: rates broadcast back onto the scan; corpus never hash-shuffled") {
    val df = graft.queries.Extensions.queries("x30_mixture_balance")(spark, sf)
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast rates join:\n$s")
    // the only hash exchange is the strata-sized count aggregate; the
    // corpus itself reaches the accept filter shuffle-free. The counts
    // table is cached (persistOnce), and the plan STRING prints the
    // cached build — exchange included — once per InMemoryTableScan
    // reference, so count DISTINCT plan ids, which track execution.
    val hashEx = """Exchange hashpartitioning[^\n]*\[plan_id=(\d+)\]""".r
      .findAllMatchIn(s).map(_.group(1)).toSet.size
    assert(hashEx == 1, s"expected one hash exchange (stratum counts), got $hashEx:\n$s")
  }

  test("x31 bloom: membership test is a broadcast join; batch is never cartesian-joined") {
    val df = graft.queries.Extensions.queries("x31_bloom_dedup")(spark, sf)
    val s = planString(df)
    // the bit set and the verify both reach the batch as broadcasts
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast membership join:\n$s")
    assert(!s.contains("CartesianProduct"), s"cartesian in bloom plan:\n$s")
  }

  test("x32 count-min: the counter grid broadcasts to the estimate join") {
    val df = graft.queries.Extensions.queries("x32_heavy_hitters")(spark, sf)
    val s = planString(df)
    // r17 shape: the whole d×w grid is ONE broadcast row (a map column);
    // estimates read it scan-side via element_at, so the only join is
    // the 1-row broadcast cross join — the candidate side never
    // shuffles for the grid and never re-groups per (tok, exact)
    assert(s.contains("BroadcastNestedLoopJoin"),
      s"expected 1-row broadcast grid join:\n$s")
    assert(!s.contains("BroadcastHashJoin") && !s.contains("SortMergeJoin") &&
      !s.contains("ShuffledHashJoin"),
      s"estimate read must be scan-side off the broadcast grid map:\n$s")
  }

  test("x33 pii redaction is a single scan-stage projection — no shuffle, no join") {
    val df = graft.queries.Extensions.queries("x33_pii_redact")(spark, sf)
    val s = planString(df)
    assert(!s.contains("Exchange hashpartitioning"),
      s"pii scrub must not shuffle:\n$s")
    assert(!s.contains("Join"), s"pii scrub must not join:\n$s")
  }

  test("x34 boilerplate: hot-shingle set broadcasts back onto occurrences") {
    val df = graft.queries.Extensions.queries("x34_boilerplate")(spark, sf)
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast hot-set join:\n$s")
    assert(!s.contains("CartesianProduct"), s"cartesian in boilerplate plan:\n$s")
  }

  test("a45 unpivot lowers to Expand inside the scan stage — no extra shuffle") {
    val df = graft.queries.Analytics.queries("a45_unpivot")(spark, sf)
    val s = planString(df)
    assert(s.contains("Expand"), s"expected Expand for unpivot:\n$s")
    assert(!s.contains("Exchange hashpartitioning"),
      s"unpivot must not hash-shuffle:\n$s")
  }

  test("a47 range join: tiny bucket dim broadcasts (nested-loop), fact never shuffles") {
    val df = graft.queries.Analytics.queries("a47_range_join")(spark, sf)
    val s = planString(df)
    assert(s.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast nested-loop for the inequality join:\n$s")
    // the only hash exchange is the bucket_id aggregation (O(4) groups)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashEx == 1, s"expected one hash exchange, got $hashEx:\n$s")
  }

  test("a48 posexplode: generator runs scan-side — no shuffle before Generate") {
    val df = graft.queries.Analytics.queries("a48_posexplode")(spark, sf)
    val s = planString(df)
    assert(s.contains("Generate"), s"expected Generate:\n$s")
    assert(!s.contains("Exchange hashpartitioning"),
      s"posexplode must not hash-shuffle:\n$s")
  }

  test("x37 fuzzy dedup: candidates come from an equi-join on the block key, never cartesian") {
    val df = graft.queries.Extensions.queries("x37_fuzzy_dedup")(spark, sf)
    val s = planString(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"fuzzy dedup must block, not cross-join:\n$s")
  }

  test("x38 passage dedup: first-occurrence election is a partial aggregate, not a window") {
    val df = graft.queries.Extensions.queries("x38_passage_dedup")(spark, sf)
    val s = planString(df)
    // min(struct(doc,pid)) must aggregate map-side; a Window here would
    // sort every copy of a hot passage in one partition
    assert(!s.contains("Window"), s"election must not use a window:\n$s")
    assert("HashAggregate".r.findAllIn(s).nonEmpty)
  }

  test("x39 normalize is a single scan-stage projection — no shuffle, no join") {
    val df = graft.queries.Extensions.queries("x39_normalize")(spark, sf)
    val s = planString(df)
    assert(!s.contains("Exchange hashpartitioning"),
      s"normalize must not shuffle:\n$s")
    assert(!s.contains("Join"), s"normalize must not join:\n$s")
  }

  test("x40 gopher quality is a single scan-stage projection — no shuffle, no join") {
    val df = graft.queries.Extensions.queries("x40_gopher_quality")(spark, sf)
    val s = planString(df)
    assert(!s.contains("Exchange hashpartitioning"),
      s"quality filter must not shuffle:\n$s")
    assert(!s.contains("Join"), s"quality filter must not join:\n$s")
  }

  test("x41 survivorship: one partial-aggregatable shuffle, no window") {
    val df = graft.queries.Extensions.queries("x41_cluster_best")(spark, sf)
    val s = planString(df)
    assert(!s.contains("Window"), s"survivorship must not use a window:\n$s")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(s).size
    assert(hashEx == 1, s"expected one hash exchange, got $hashEx:\n$s")
  }

  test("x42 trigram model: vocabulary-sized frequency table broadcasts back") {
    val df = graft.queries.Extensions.queries("x42_trigram_model")(spark, sf)
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast freq join:\n$s")
  }

  test("x43 product quantize: codebook broadcasts; encoding never cartesian-joins") {
    val df = graft.queries.Extensions.queries("x43_product_quantize")(spark, sf)
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast codebook join:\n$s")
    assert(!s.contains("CartesianProduct"), s"cartesian in PQ plan:\n$s")
  }

  test("x45/x48 elections and x47/x49 rollups: one partial-aggregatable shuffle, no window, no join beyond plan needs") {
    for ((name, maxHashEx) <- Seq("x45_event_dedup_window" -> 1,
                                  "x48_url_dedup" -> 1, "x49_length_histogram" -> 1)) {
      val s = planString(graft.queries.Extensions.queries(name)(spark, sf))
      assert(!s.contains("Window"), s"$name must not use a window:\n$s")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(s).size
      assert(hashEx <= maxHashEx, s"$name: expected ≤$maxHashEx hash exchange, got $hashEx:\n$s")
    }
  }

  test("a53 timestamp battery is a single scan-stage projection") {
    val s = planString(graft.queries.Analytics.queries("a53_timestamp_funcs")(spark, sf))
    assert(!s.contains("Exchange hashpartitioning"), s"a53 must not shuffle:\n$s")
  }

  test("x46 negative sampling: count broadcasts, partner join is an equi-join") {
    val df = graft.queries.Extensions.queries("x46_negative_samples")(spark, sf)
    val s = planString(df)
    assert(!s.contains("CartesianProduct"), s"cartesian in negative-sampling plan:\n$s")
    // the corpus-count crossJoin must be a broadcast of one row, and the
    // partner join an equi-join on neg_id
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"expected broadcast count:\n$s")
  }
}
