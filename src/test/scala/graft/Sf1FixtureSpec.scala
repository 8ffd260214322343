package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}

/** Pins the sf1 fixture's measured scan fan-out: the whole point of the
  * multi-file layout is that scans stop being 1-task (the sf0.1
  * single-row-group artifact, PERF.md) — assert it, don't assume it.
  */
class Sf1FixtureSpec extends SparkTestBase {

  test("multi-file sf1 fixture scans fan out to >=8 tasks per table") {
    val dir = Fixtures.ensureSf1(spark)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    // an 8m split gives the 16 small files per table the files-per-task
    // ratio that 128 MB files under 128 MB splits give on a cluster
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    try {
      for (t <- Seq("documents", "embeddings", "lineitem")) {
        val parts = spark.read.parquet(s"$dir/$t.parquet").rdd.getNumPartitions
        assert(parts >= 8, s"$t fanned out to only $parts scan tasks")
      }
      val srcDocs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").count()
      assert(spark.read.parquet(s"$dir/documents.parquet").count() === srcDocs * 10)
      // FK consistency survives the key shift: every shifted member
      // column (l_orderkey, l_partkey, l_suppkey, o_custkey) still
      // resolves its owner row in the same copy
      val members = for {
        (table, keys) <- Fixtures.shifted.toSeq
        (c, fam) <- keys
        (owner, ownerCol) = Fixtures.families(fam)
        if owner != table
      } yield (table, c, owner, ownerCol)
      assert(members.map(_._2).sorted ===
        Seq("l_orderkey", "l_partkey", "l_suppkey", "o_custkey"))
      for ((table, c, owner, ownerCol) <- members) {
        val fk = spark.read.parquet(s"$dir/$table.parquet")
        val pk = spark.read.parquet(s"$dir/$owner.parquet")
        val dangling = fk.join(pk, fk(c) === pk(ownerCol), "left_anti").count()
        assert(dangling === 0L, s"$table.$c rows with no $owner.$ownerCol")
      }
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("every key column the sf1 fixture owns is unique, the keyless dims' included") {
    val dir = Fixtures.ensureSf1(spark)
    // user_id owns the userid family but is no row key (many events per
    // user); every other owner column keys its table
    val keys = Fixtures.families.values.filterNot(_._2 == "user_id").toSeq ++
      Seq("nation" -> "n_nationkey", "region" -> "r_regionkey")
    for ((table, c) <- keys.sorted) {
      val Row(rows: Long, distinct: Long) = spark.read.parquet(s"$dir/$table.parquet")
        .agg(count(lit(1)), countDistinct(col(c))).head()
      assert(rows === distinct, s"$table.$c")
    }
  }

  test("scale-sensitive plan choices hold at sf1 (broadcasts, scan fan-out in-query)") {
    val dir = Fixtures.ensureSf1(spark)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    try {
      // a03's dimension joins must STILL broadcast at 10x data — a
      // broadcast that silently flips to sort-merge is the classic
      // scale-up regression
      val a03 = SparkEntry.queries("a03_join_star")(spark, dir)
      assert(a03.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      // x25's eval side is a broadcast too (decontamination's whole
      // scale story: the corpus never shuffles for the semi join)
      val x25 = SparkEntry.queries("x25_decontaminate")(spark, dir)
      assert(x25.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      // the x21 pipeline's own scans fan out (not just a bare read):
      // every leaf in the executed plan plans >1 partition. AQE off for
      // this assertion only — AdaptiveSparkPlanExec is itself a leaf
      // node and hides the scans until execution.
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val leafParts =
        try {
          val x21 = queries.Extensions.pipelineDocs(spark, dir, mineSurvivorsOnly = true)
          x21.queryExecution.executedPlan.collectLeaves()
            .map(l => l.nodeName -> l.execute().getNumPartitions)
        } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      assert(leafParts.nonEmpty && leafParts.forall(_._2 > 1),
        s"x21 leaf scans planned $leafParts partitions")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }
}
