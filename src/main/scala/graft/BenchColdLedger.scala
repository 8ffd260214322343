package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Cold-minima ledger (automated): the round-over-round attribution
  * artifact PERF.md used to assemble from hand-run per-query timings.
  *
  * Selection is mechanical so no mover can be forgotten: the bench
  * TOP-N residents of the current capture plus every query whose
  * in-bench min moved >20 % against the previous capture (above a small
  * absolute floor so 0.02→0.03 s jitter rows don't flood the ledger).
  * Each selected query runs `reps` CACHE-CLEARED reps (Caches.clearAll
  * before each — the cold regime, so ledger rows stay
  * comparable with the r11/r12 hand-run entries; note the bench
  * amortizes shared caches that these cold reps deliberately re-pay).
  *
  * Quiet-gated like Bench: the run waits (bounded) for ambient 1-min
  * load ≤ the quiet target before starting and stamps start/end load
  * so a polluted ledger self-reports instead of masquerading.
  *
  * Usage: `runMain graft.BenchColdLedger [curDetail] [prevDetail|-] [out]`
  *   curDetail  default /root/repo/BENCH_DETAIL.json
  *   prevDetail default "-" (skip mover detection; top-N only)
  *   out        default /root/repo/BENCH_COLD_LEDGER.json
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default: the machine's cores),
  *      SPARK_GRAFT_LEDGER_TOP (10),
  *      SPARK_GRAFT_LEDGER_REPS (3), the Bench quiet-gate knobs.
  */
object BenchColdLedger {
  private val MoveFrac = 0.20
  /** Ignore movers below this many seconds on BOTH sides: a 20 % move
    * inside the jitter floor is host noise, not attribution material.
    */
  private val MoveFloorSec = 0.15

  def main(args: Array[String]): Unit = {
    val curPath = args.lift(0).getOrElse("/root/repo/BENCH_DETAIL.json")
    val prevPath = args.lift(1).getOrElse("-")
    val outPath = args.lift(2).getOrElse("/root/repo/BENCH_COLD_LEDGER.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    val topN = sys.env.getOrElse("SPARK_GRAFT_LEDGER_TOP", "10").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_LEDGER_REPS", "3").toInt

    def rootOf(path: String) = new ObjectMapper().readTree(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    def queriesMap(root: com.fasterxml.jackson.databind.JsonNode,
                   path: String): Map[String, Double] = {
      val q = root.get("queries")
      require(q != null, s"$path has no \"queries\" map — pass " +
        "BENCH_DETAIL-shaped captures (the driver's BENCH_rNN.json " +
        "wrappers truncate the contract line inside \"tail\"; use " +
        "`git show <round-commit>:BENCH_DETAIL.json` for prev)")
      q.properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
    }
    val curRoot = rootOf(curPath)
    val cur = queriesMap(curRoot, curPath).filter(_._2 >= 0)
    val prev = if (prevPath == "-") Map.empty[String, Double]
      else queriesMap(rootOf(prevPath), prevPath).filter(_._2 >= 0)

    // Host-shift normalization (r15 verdict task 1): the capture's
    // control_shift field is the median cur/prev ratio over the FIXED
    // untouched control set (parity + a01–a55, computed in Bench).
    // Divide every per-query ratio by it before flagging movers, so a
    // uniform window shift (this host's same-day captures spread
    // 0.80–1.32× p10–p90) never floods the ledger with false movers.
    val controlShift: Double = {
      val n = curRoot.get("control_shift")
      if (n == null || n.isNull) 1.0 else n.asDouble(1.0)
    }
    System.err.println(f"[ledger] control_shift=$controlShift%.3f " +
      "(per-query ratios normalized by it before mover detection)")

    val top = cur.toSeq.sortBy(-_._2).take(topN).map(_._1)
    val movers = prev.keySet.intersect(cur.keySet).toSeq.filter { k =>
      val (a, b) = (prev(k), cur(k) / controlShift)
      (a.max(b) >= MoveFloorSec) && math.abs(b - a) > MoveFrac * a
    }
    val selected = (top ++ movers.filterNot(top.contains)).distinct.sorted
    System.err.println(s"[ledger] top$topN=${top.sorted.mkString(",")}")
    System.err.println(
      s"[ledger] movers(>20% after shift)=${movers.sorted.mkString(",")}")

    val spark = LocalSession(cpus)

    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val quiet = sys.env.getOrElse("SPARK_GRAFT_LOAD_QUIET", "1.0").toDouble
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX_WAIT_SEC", "1200").toInt
    var waited = 0
    while (loadAvg() > quiet && waited < maxWaitSec) {
      System.err.println(f"[ledger] load ${loadAvg()}%.2f > $quiet%.1f — waiting (${waited}s)")
      Thread.sleep(30000)
      waited += 30
    }
    val loadStart = loadAvg()

    // codegen/classloader warmup, same as Bench
    SparkEntry.entry(spark).count()

    // Locale.ROOT: a comma-decimal default locale would emit 0,123 and
    // break the JSON (ADVICE r13)
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val rows = selected.map { name =>
      val fn = SparkEntry.queries(name)
      val ts = (1 to reps).map { _ =>
        Caches.clearAll(spark)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val why = (if (top.contains(name)) Seq(s"top$topN") else Nil) ++
        (if (movers.contains(name)) Seq("mover") else Nil)
      System.err.println(
        s"[ledger] $name cold=" + ts.map(fmt).mkString("/") +
          s" inbench=${cur.get(name).map(fmt).getOrElse("-")}")
      name -> (ts, why)
    }
    val loadEnd = loadAvg()
    val body = rows.map { case (name, (ts, why)) =>
      val prevS = prev.get(name).map(fmt).getOrElse("null")
      s""""$name":{"cold_reps":[${ts.map(fmt).mkString(",")}],"cold_min":${fmt(ts.min)},"inbench_cur":${cur.get(name).map(fmt).getOrElse("null")},"inbench_prev":$prevS,"why":[${why.map("\"" + _ + "\"").mkString(",")}]}"""
    }.mkString(",")
    val json =
      s"""{"sf":"$sfDir","cpus":$cpus,"reps":$reps,"top_n":$topN,"move_frac":$MoveFrac,"move_floor_sec":$MoveFloorSec,"control_shift":${fmt(controlShift)},"cur_detail":"$curPath","prev_detail":"$prevPath","load_avg_start":${fmt(loadStart)},"load_avg_end":${fmt(loadEnd)},"load_wait_sec":$waited,"regime":"cache-cleared per rep (cold); bench rows amortize shared caches; mover ratios normalized by control_shift","queries":{$body}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
