package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Metric names and units; BENCHMARK.json lists the same. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "warm_pass_s" -> "s", "op_p50_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "cold_pass_s" -> "s", "tables.resolve_s" -> "s", "tables.memo_s" -> "s",
    "build_s" -> "s", "build_jobs" -> "count",
    "analyze_s" -> "s", "optimize_s" -> "s", "plan_s" -> "s",
    "plan.exchanges" -> "count", "plan.codegen_stages" -> "count",
    "plan.topk_nodes" -> "count", "plan.cache_scans" -> "count",
    "plan.interpreted_exprs" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.idle_core_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
    "cache.frames" -> "count", "cache.pinned_mb" -> "MB", "cache.materialize_s" -> "s",
    "etl.input_gate_s" -> "s", "etl.transform_s" -> "s", "etl.output_gate_s" -> "s",
    "etl.write_s" -> "s", "etl.files_written" -> "count", "etl.write_amp" -> "ratio",
    "etl.rows_per_s" -> "1/s",
    "self.pass_s" -> "s", "self.op_s" -> "s", "self.build_s" -> "s", "self.analyze_s" -> "s",
    "self.optimize_s" -> "s", "self.plan_s" -> "s", "self.execute_s" -> "s",
    "self.stage_s" -> "s",
    "latency.tail_pct" -> "%", "latency.tail_s" -> "s", "latency.samples" -> "count",
    "failed_ratio" -> "ratio", "trace.overhead_pct" -> "%")
}

/** One run of a workload: set-up `SetUps` times, a cold pass in the last
  * session, `WarmUp` unmeasured warm passes, then measured warm passes for
  * the given seconds, output checks, then a stamp line and one JSON result
  * line on stdout. */
object Bench {
  /** Set-ups per run. The first pays for JVM class loading and is only
    * stamped; `setup_s` is the median of the others. */
  val SetUps = 7
  /** Warm passes left to the JIT before the measured window starts. */
  val WarmUp = 2
  /** Measured warm passes a run makes at least, however short `--seconds`. */
  val MinMeasured = 3

  private val TableNames = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "documents", "embeddings")

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
          work: Path, bench: Path): Int = {
    if (!Workloads.Names.contains(workload)) {
      System.err.println(s"unknown workload $workload; one of ${Workloads.Names.mkString(", ")}")
      return 2
    }
    val nproc = Main.nproc
    val loadStart = Stamp.loadAvg()
    val ticksStart = Stamp.cpuTicks()
    val isEtl = workload == "etl_deliveries"
    val dataDir = QueryData.dataDir(work)

    // inputs are made before set-up and are not timed
    val etlIn = if (isEtl) {
      Dirs.deleteRecursively(work.resolve("etl"))
      val (files, rows) = Workloads.etlShape(nproc)
      Some(Workloads.etlInput(work.resolve("etl/run"), seed, bench.resolve("etl/deliveries.yaml"),
        files, rows))
    } else None
    if (!isEtl && !Files.exists(dataDir.resolve("_SF1_READY"))) {
      System.err.println(s"query tables missing under $dataDir: run `prep` first")
      return 2
    }
    val ops: Seq[Op] = etlIn match {
      case Some((conf, expected, _)) => Seq(new EtlOp(conf, expected))
      case None => Workloads.queries(workload).map(new QueryOp(_, dataDir.toString))
    }

    // seeded run order, drawn afresh for every pass
    val rnd = new scala.util.Random(seed)
    def order(): Seq[Op] = rnd.shuffle(ops)

    val (spark, setups) = BenchSession.setUp(nproc, work, times = SetUps)
    val trace = new Trace(System.currentTimeMillis(), System.nanoTime())
    val runner = new Runner(spark, trace)

    val (resolveS, memoS) =
      if (traced && !isEtl) {
        def touchAll(): Double = {
          val t0 = System.nanoTime()
          TableNames.foreach(graft.tables.Tables(spark, dataDir.toString, _))
          graft.tables.Tables.events(spark, dataDir.toString)
          (System.nanoTime() - t0) / 1e9
        }
        (touchAll(), touchAll())
      } else (0.0, 0.0)

    val cold = runner.runPass(0, order(), traced)
    val warm = mutable.ArrayBuffer.empty[Pass]
    var windowStart = System.nanoTime()
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    // traced runs interleave untraced and traced passes in ABBA blocks, so
    // the tracing overhead is measured within the run and a warming trend
    // cancels out of it
    def more: Boolean =
      if (traced) elapsed < seconds || warm.size < 8 || warm.size % 4 != 0
      else warm.size < WarmUp + MinMeasured || elapsed < seconds
    while (more) {
      if (!traced && warm.size == WarmUp) windowStart = System.nanoTime()
      warm += runner.runPass(warm.size + 1, order(), traced && Set(1, 2)(warm.size % 4))
    }
    runner.close()
    val storage = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    val lastEnd = trace.nowUs

    // output checks, outside the timed region: each query's result digest
    // against the committed value; a mismatch fails every execution of it
    val mismatch: Map[String, String] =
      if (isEtl) Map.empty
      else {
        val want = QueryData.loadExpected(bench)
        ops.collect { case q: QueryOp => q }.flatMap { q =>
          val got = try Right(Digest.of(q.build(spark))) catch { case e: Throwable => Left(e.toString) }
          got match {
            case Right(d) if want.get(q.name).contains(d) => None
            case other => Some(q.name -> s"digest $other != expected ${want.get(q.name)}")
          }
        }.toMap
      }
    def checked(p: Pass): Pass = p.copy(samples = p.samples.map(s =>
      if (s.ok && mismatch.contains(s.op)) s.copy(error = mismatch.get(s.op)) else s))
    val passes = (cold +: warm.toSeq).map(checked)
    val samples = passes.flatMap(_.samples)
    samples.filterNot(_.ok).groupBy(_.op).foreach { case (op, ss) =>
      System.err.println(s"[perfbench] FAILED $op x${ss.size}: ${ss.head.error.get}")
    }

    // The JIT is still compiling through the first warm passes, so an
    // untraced run's warm figures come from the passes of its measured
    // window. A traced run takes them from its untraced passes after the
    // first.
    val untracedWarm =
      if (traced) passes.drop(1).filterNot(_.traced).drop(1)
      else passes.drop(1 + WarmUp)
    val warmOk = untracedWarm.flatMap(_.samples).filter(_.ok).map(_.seconds)
    val warmPassS = Stats.median(untracedWarm.map(_.seconds))
    val metrics: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> Stats.median(setups.drop(1)),
        "warm_pass_s" -> warmPassS,
        "op_p50_s" -> (if (warmOk.isEmpty) 0.0 else Stats.median(warmOk)))
      else {
        val layers = new Layers(runner, nproc, passes, storage)
        val tail = Stats.tail(warmOk)
        val etl = etlIn.map { case (conf, expected, csvBytes) =>
          val out = java.nio.file.Paths.get(conf.output.basePath, conf.run.environment)
          val walk = Files.walk(out)
          val parquet = try walk.filter(_.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[Path])
            finally walk.close()
          Map("etl.files_written" -> parquet.length.toDouble,
            "etl.write_amp" -> parquet.map(Files.size).sum.toDouble / csvBytes,
            "etl.rows_per_s" -> expected.rowsIn / warmPassS)
        }.getOrElse(Map.empty)
        layers.metrics ++ etl ++ Map(
          "cold_pass_s" -> passes.head.seconds,
          "tables.resolve_s" -> resolveS, "tables.memo_s" -> memoS,
          "latency.tail_pct" -> tail.map(_._1).getOrElse(0.0),
          "latency.tail_s" -> tail.map(_._2).getOrElse(0.0),
          "latency.samples" -> warmOk.size.toDouble,
          "failed_ratio" -> samples.count(!_.ok).toDouble / samples.size,
          "trace.overhead_pct" -> {
            val (t, u) = passes.drop(1).partition(_.traced)
            (Stats.median(t.map(_.seconds)) / Stats.median(u.map(_.seconds)) - 1) * 100
          })
      }

    val names = if (traced) Metrics.PerLayer else Metrics.EndToEnd
    val stamp = Stamp(spark, nproc, loadStart, Stamp.loadAvg(), ticksStart) ++ Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "setups_s" -> setups, "cold_pass_s" -> passes.head.seconds,
      "passes_s" -> passes.map(_.seconds), "passes_cpu_s" -> passes.map(_.cpuS),
      "warm_passes" -> untracedWarm.size, "run_us" -> lastEnd,
      "op_cold_s" -> passes.head.samples.map(s => s.op -> s.seconds).toMap,
      "op_warm_median_s" -> untracedWarm.flatMap(_.samples).groupBy(_.op)
        .map { case (op, ss) => op -> Stats.median(ss.map(_.seconds)) })
    if (traced) {
      val dir = Files.createDirectories(work.resolve("trace"))
      val spans = trace.all.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs)))
      Files.write(dir.resolve(s"$workload-seed$seed.jsonl"), (spans.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    if (isEtl) Dirs.deleteRecursively(work.resolve("etl"))
    spark.stop()

    println(Json(Map("stamp" -> stamp)))
    println(Json(Map(
      "correct" -> samples.forall(_.ok),
      "attempted" -> samples.size,
      "failed" -> samples.count(!_.ok),
      "metrics" -> names.map { case (n, u) =>
        n -> Map("value" -> metrics.getOrElse(n, 0.0), "unit" -> u)
      }.toMap)))
    0
  }
}

/** Per-layer numbers of a traced run, per traced warm pass. */
final class Layers(runner: Runner, nproc: Int, passes: Seq[Pass],
                   storage: Seq[org.apache.spark.storage.RDDInfo]) {
  private val rec = runner.recorder
  private val traced = passes.drop(1).filter(_.traced)
  private val n = math.max(1, traced.size).toDouble
  private val tracedIdx = traced.map(_.index).toSet
  private val ops = runner.opTraces.filter(t => tracedIdx(t.sample.pass)).toSeq
  private def tag(t: OpTrace) = f"p${t.sample.pass}%03d/${t.sample.op}"

  private def phase(name: String): Double =
    ops.flatMap(_.writes).flatMap(_.tracker.phases.get(name)).map(_.durationMs / 1e3).sum / n

  def metrics: Map[String, Double] = {
    val build = ops.map(t => rec.exec(s"${tag(t)}/build")).foldLeft(ExecStats())(_ + _)
    val execs = ops.map(t => t -> rec.exec(s"${tag(t)}/exec"))
    val ex = execs.map(_._2).foldLeft(ExecStats())(_ + _)
    val idle = execs.map { case (t, s) =>
      nproc * (t.sample.endUs - t.sample.execUs) / 1e6 - s.taskRunS }.sum
    val plans = ops.flatMap(_.writes).map(qe => Plans.counts(qe.executedPlan))
      .foldLeft(PlanCounts.Zero)(_ + _)
    val self = selfTimes
    val etl = etlPhases
    val warmByOp = passes.drop(1).flatMap(_.samples).filter(_.ok).groupBy(_.op)
      .map { case (op, ss) => op -> Stats.median(ss.map(_.seconds)) }
    val materialize = passes.head.samples.filter(_.ok)
      .flatMap(s => warmByOp.get(s.op).map(s.seconds - _)).sum
    Map(
      // building a DataFrame analyzes it eagerly: that analysis counts in
      // analyze_s, not build_s
      "build_s" -> ops.map(t => (t.sample.execUs - t.sample.startUs) / 1e6 - t.buildAnalysisS)
        .sum / n,
      "build_jobs" -> build.jobs / n,
      "analyze_s" -> (phase("analysis") + ops.map(_.buildAnalysisS).sum / n),
      "optimize_s" -> phase("optimization"),
      "plan_s" -> phase("planning"),
      "plan.exchanges" -> plans.exchanges / n, "plan.codegen_stages" -> plans.codegenStages / n,
      "plan.topk_nodes" -> plans.topkNodes / n, "plan.cache_scans" -> plans.cacheScans / n,
      "plan.interpreted_exprs" -> plans.interpretedExprs / n,
      "exec.jobs" -> ex.jobs / n, "exec.stages" -> ex.stages / n, "exec.tasks" -> ex.tasks / n,
      "exec.idle_core_s" -> idle / n, "exec.task_cpu_s" -> ex.taskCpuS / n,
      "exec.gc_s" -> ex.gcS / n, "exec.shuffle_write_mb" -> ex.shuffleWriteMb / n,
      "exec.shuffle_read_mb" -> ex.shuffleReadMb / n, "exec.spill_mb" -> ex.spillMb / n,
      "cache.frames" -> storage.size.toDouble,
      "cache.pinned_mb" -> storage.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0),
      "cache.materialize_s" -> materialize) ++ self ++ etl
  }

  /** Self time per span layer over the traced warm passes. */
  private def selfTimes: Map[String, Double] = {
    val spans = runner.trace.all
    val byId = spans.map(s => s.id -> s).toMap
    def passOf(s: Span): Option[Int] =
      if (s.layer == "pass") Some(s.name.stripPrefix("pass ").toInt)
      else byId.get(s.parent).flatMap(passOf)
    val keep = spans.filter(s => passOf(s).exists(tracedIdx)).map(_.id).toSet
    val self = Trace.selfByLayer(spans, s => keep(s.id))
    // stages overlap one another: report the union they cover under each
    // execute span rather than the sum of their durations
    val stage = spans.filter(s => s.layer == "execute" && keep(s.id)).map { e =>
      Trace.union(spans.filter(_.parent == e.id).map(c => (c.startUs, c.endUs)))
    }.sum / 1e6
    Seq("pass", "op", "build", "analyze", "optimize", "plan", "execute").map { l =>
      s"self.$l" + "_s" -> self.getOrElse(l, 0.0) / n
    }.toMap + ("self.stage_s" -> stage / n)
  }

  /** ETL time per call site of the job, from the SQL executions it ran. */
  private def etlPhases: Map[String, Double] = {
    val execs = ops.filter(_.sample.op == "etl_deliveries")
      .flatMap(t => rec.sqlBetween(t.startEpochMs, t.endEpochMs))
    def site(x: SqlExec): String =
      if (x.callSite.contains("Writer$.write")) "etl.write_s"
      else if (x.callSite.contains("DataQuality$MinRows")) "etl.input_gate_s"
      else if (x.callSite.contains("DataQuality$NotNull")) "etl.output_gate_s"
      else if (x.callSite.contains("EtlRunner")) "etl.transform_s"
      else "etl.other_s"
    execs.groupBy(site).map { case (k, xs) => k -> xs.map(x => (x.endMs - x.startMs) / 1e3).sum / n }
  }
}
