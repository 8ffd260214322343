package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The measured sf0.1 → sf1 scaling artifact (r15 verdict task 4): the
  * 100 TB story previously rested on plan pins (shuffle keys, state
  * bounds) plus sf0.1 wall times; this main turns "the plan is
  * scale-legal" into "the slope is measured" for the bench's most
  * expensive queries.
  *
  * Reads the current BENCH_DETAIL.json for the sf0.1 in-bench minima,
  * takes the top-N most expensive queries, runs each on the multi-file
  * ~sf1 [[Fixtures]] layout (10× rows, `maxPartitionBytes` 8m — the
  * BenchSf1 files-per-task rationale) as two back-to-back runs, and
  * writes BENCH_SF1.json with per-query sf0.1 / sf1 cold / sf1 warm /
  * slope. The data is 10×, so a LINEAR query should show slope ≤ ~10
  * on the warm run (fixed overheads amortize; shared session caches
  * are re-paid on the cold run — both reported so neither can hide).
  *
  * Quiet-gated like Bench so the committed artifact starts quiet.
  *
  * Usage: `runMain graft.BenchSf1Slope [detailPath] [out] [topN]`
  */
object BenchSf1Slope {
  def main(args: Array[String]): Unit = {
    val detailPath = args.lift(0).getOrElse("/root/repo/BENCH_DETAIL.json")
    val outPath = args.lift(1).getOrElse("/root/repo/BENCH_SF1.json")
    val topN = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = LocalSession.cpus

    val sf01: Map[String, Double] = {
      val q = new ObjectMapper().readTree(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(detailPath))).get("queries")
      require(q != null, s"$detailPath has no queries map")
      q.properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
    }
    val top = sf01.filter(_._2 > 0).toSeq.sortBy(-_._2).take(topN)
    System.err.println(s"[sf1-slope] top$topN: " +
      top.map(_._1).sorted.mkString(","))

    val spark = LocalSession(cpus, "spark.sql.files.maxPartitionBytes" -> "8m")
    val dir = Fixtures.ensureSf1(spark)

    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val quiet = sys.env.getOrElse("SPARK_GRAFT_LOAD_QUIET", "1.0").toDouble
    val maxWaitSec =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX_WAIT_SEC", "1200").toInt
    var waited = 0
    while (loadAvg() > quiet && waited < maxWaitSec) {
      System.err.println(
        f"[sf1-slope] load ${loadAvg()}%.2f > $quiet%.1f — waiting (${waited}s)")
      Thread.sleep(30000)
      waited += 30
    }
    val loadStart = loadAvg()

    // warmup: every table once (JVM/codegen/classloading)
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").count()
    }
    graft.tables.Tables.events(spark, dir).count()

    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try { SparkEntry.queries(name)(spark, dir).count() }
      catch { case e: Throwable =>
        System.err.println(s"[sf1-slope] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val rows = top.sortBy(_._1).map { case (name, s01) =>
      val cold = timeOne(name)
      val warm = timeOne(name)
      val best = if (cold < 0 || warm < 0) -1.0 else math.min(cold, warm)
      val slope = if (best <= 0) -1.0 else best / s01
      System.err.println(f"[sf1-slope] $name sf0.1=${s01}%.3f " +
        f"cold=$cold%.3f warm=$warm%.3f slope=$slope%.2f")
      s""""$name":{"sf01_min":${fmt(s01)},"sf1_cold":${fmt(cold)},"sf1_warm":${fmt(warm)},"sf1_min":${fmt(best)},"slope":${fmt(slope)}}"""
    }
    val loadEnd = loadAvg()
    val json =
      s"""{"sf1_dir":"$dir","cpus":$cpus,"top_n":$topN,"detail":"$detailPath","data_factor":10,"load_avg_start":${fmt(loadStart)},"load_avg_end":${fmt(loadEnd)},"load_wait_sec":$waited,"queries":{${rows.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
