package graft

import org.apache.spark.sql.functions._

/** Heavy-tail benchmark at ~sf1.0 on the multi-file [[Fixtures]] layout:
  * the scale-stress companion to [[Bench]] (which runs the full surface
  * on the driver's single-file sf0.1).
  *
  * `spark.sql.files.maxPartitionBytes` is lowered to 8m so the 16-file
  * tables split at the same files-per-task ratio a 128 MB-file cluster
  * layout would give 128 MB splits — the point is to MEASURE multi-task
  * scans (PERF.md §sf1), which the single-row-group sf0.1 files can't.
  *
  * Prints one JSON line: total + per-query cold (run 1) and min-of-2.
  */
object BenchSf1 {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(LocalSession.cpus,
      "spark.sql.files.maxPartitionBytes" -> "8m")

    val dir = Fixtures.ensureSf1(spark)
    // Cluster family runs x14 → x44 → x59: the shared session label
    // table (Extensions.clusterLabels) is built by x14's cold run, so
    // x14 cold measures the full banded-pairs + CC chain and x44/x59
    // measure the label-consumer cost — the sharing the design claims.
    val heavy = Seq(
      "x21_pipeline_docs", "x22_pipeline_embeddings", "x02_dedup_jaccard",
      "x20_banded_jaccard", "x25_decontaminate",
      "x14_dedup_keepone", "x44_cluster_sizes", "x59_cluster_split",
      "x57_semantic_dedup", "x66_near_dedup_against",
      "a03_join_star", "p15_pipeline_composite",
      "x50_ann_ivfpq", "x51_containment_dedup", "x52_bm25",
      "x58_duplicate_spans", "x60_perplexity_buckets", "x61_remove_spans",
      "x73_dsir", "x76_bigram_lm",
      // round-8/9 heavies: candidate-volume-sensitive shapes (x84 rides
      // the shared bandedPairs build, so its cold run prices the x20
      // chain here) + the Expand-free approx profiler A/B partner
      "x84_source_overlap", "x85_ngram_novelty", "a56_basket_affinity",
      "x78_profile", "x78b_profile_kmv",
      // round-10 heavies: the repeat-edge family rides one memoized
      // build (a62 cold prices it here, a60/a61/a63 the consumers), the
      // winnowing pair miner is the new candidate-volume-sensitive
      // shape (dup-heavy fixture ⇒ shared fingerprints), and the CDC
      // reports stress the codegen'd rolling-hash scan
      "a62_item_similarity", "a63_part_communities", "x97_winnowing",
      "x96_cdc_chunks", "x100_cdc_incremental", "x99_neardup_eval",
      // round-10 wave 3-5: the corpus-shingle sketch build (x103's cold
      // run prices the one shared scan; pairs are O(k)), the 1.2 M-row
      // SCD2 window build, and the sketch-merge rollup
      "x103_overlap_sketch", "a65_scd2_intervals", "x101_agg_state_merge")

    // warmup: touch every table once (JVM/codegen/classloading)
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").count()
    }
    graft.tables.Tables.events(spark, dir).count()

    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try { SparkEntry.queries(name)(spark, dir).count() }
      catch { case e: Throwable =>
        System.err.println(s"[bench-sf1] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    val runs0 = heavy.map { n =>
      val cold = timeOne(n)
      val warm = timeOne(n)
      (n, cold, warm)
    }

    // The distributed large-star/small-star path, FORCED
    // (maxDriverEdges = 0): at sf1 the near-dup edge set is still under
    // the driver union-find guard, so without forcing, the O(log d)
    // rounds the 100 TB design rests on would never be the path
    // measured here.
    def timeCcDistributed(): Double = {
      val t0 = System.nanoTime()
      val docs = graft.tables.Tables.documents(spark, dir)
      val pairs = graft.operators.Dedup.bandedJaccardMinhash(
          docs, "text", "doc_id",
          n = 3, threshold = 0.2, numHashes = 16, bands = 8)
        .select("d1", "d2")
      graft.operators.Dedup.connectedComponentsKeepOne(
          docs, "doc_id", pairs, maxDriverEdges = 0).count()
      (System.nanoTime() - t0) / 1e9
    }
    // Exact triangle counts over the DENSE support-1 co-order graph
    // (a60's bench form prunes to repeat co-orders; this is the
    // unpruned stress): the degree-oriented node-iterator under real
    // wedge volume. The full sf1 graph is 12 M edges / Σd² ≈ 3·10⁹
    // (measured: 116 s cold — a co-occurrence graph densifies
    // superlinearly in orders-per-part), so the stress runs on a
    // DETERMINISTIC 25 % order sample (murmur3(ok) bucket, the x24
    // discipline): part degrees drop 4×, wedge volume ~16×, leaving
    // tens of millions of wedges — real stress, bounded artifact.
    def timeTrianglesDense(): Double = {
      val t0 = System.nanoTime()
      val li = graft.tables.Tables.lineitem(spark, dir)
      val edges = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .filter(hash(col("l_orderkey")).cast("bigint")
          .bitwiseAND(lit(4294967295L)) % 4 === 0)
        .distinct()
      val pairs = edges.as("x").join(edges.as("y"), "ok")
        .filter(col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"))
      graft.operators.Graph.triangleCounts(pairs, "a", "b").count()
      (System.nanoTime() - t0) / 1e9
    }
    val runs = runs0 :+
      ("cc_starcontraction_forced", timeCcDistributed(), timeCcDistributed()) :+
      ("triangles_dense_forced", timeTrianglesDense(), timeTrianglesDense())
    def fmt(v: Double): String = "%.3f".format(v)
    def m(sel: ((String, Double, Double)) => Double): String =
      runs.map(r => "\"" + r._1 + "\":" + fmt(sel(r))).mkString("{", ",", "}")
    val total = runs.map(r => math.min(r._2, r._3)).filter(_ >= 0).sum
    println(s"""{"metric":"sf1_total","value":${fmt(total)},"unit":"sec","sf":"$dir","queries_cold":${m(_._2)},"queries_warm":${m(_._3)},"n_queries":${runs.size}}""")
    spark.stop()
  }
}
