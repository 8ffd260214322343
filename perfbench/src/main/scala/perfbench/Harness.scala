package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary
import org.apache.spark.sql.execution.QueryExecution

/** One timed execution of an operation. Times are microseconds since the
  * run started; `error` is set for an exception or an output mismatch. */
final case class Sample(pass: Int, op: String, startUs: Long, execUs: Long, endUs: Long,
                        error: Option[String]) {
  def seconds: Double = (endUs - startUs) / 1e6
  def ok: Boolean = error.isEmpty
}

/** The timed and traced results of one pass over a workload's operations.
  * Its time excludes the untimed output checks between operations. */
final case class Pass(index: Int, traced: Boolean, startUs: Long, endUs: Long,
                      checkUs: Long, cpuS: Double, samples: Seq[Sample]) {
  def seconds: Double = (endUs - startUs - checkUs) / 1e6
}

/** CPU time of this process, all threads. Unlike wall time it does not
  * grow when other guests on the host take the CPU away (steal time). */
object ProcessCpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds: Double = os.getProcessCpuTime / 1e9
}

/** Per-operation tracing detail kept for the per-layer report: the
  * analysis that building the DataFrame ran, and the executions of its
  * timed write. */
final case class OpTrace(sample: Sample, buildAnalysis: Option[PhaseSummary],
                         writes: Seq[QueryExecution], startEpochMs: Long, endEpochMs: Long) {
  /** Seconds the built DataFrame's own analysis took, inside the build. */
  def buildAnalysisS: Double = buildAnalysis.map(_.durationMs / 1e3).getOrElse(0.0)
}

/** Closed-loop runner: one client runs operations back to back. */
final class Runner(spark: SparkSession, val trace: Trace) {
  val recorder = new Recorder(spark)
  private var attached = false
  val opTraces = mutable.ArrayBuffer.empty[OpTrace]
  val rootSpan: Int = trace.add(-1, "run", "run", 0, 0)

  private def setTracing(on: Boolean): Unit = if (on != attached) {
    if (on) recorder.attach() else recorder.detach()
    attached = on
  }

  def runPass(index: Int, ops: Seq[Op], traced: Boolean): Pass = {
    setTracing(traced)
    val sc = spark.sparkContext
    val passStart = trace.nowUs
    var checkUs = 0L
    var checkCpu = 0.0
    val cpu0 = ProcessCpu.seconds
    val samples = ops.map { op =>
      val tag = f"p$index%03d/${op.name}"
      val startEpoch = System.currentTimeMillis()
      val start = trace.nowUs
      var exec = start
      var buildAnalysis: Option[PhaseSummary] = None
      val err: Option[String] =
        try {
          buildAnalysis = op.run(spark, {
            case "build" => if (traced) sc.setJobGroup(s"$tag/build", tag)
            case _ =>
              exec = trace.nowUs
              if (traced) sc.setJobGroup(s"$tag/exec", tag)
          })
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        finally sc.clearJobGroup()
      val end = trace.nowUs
      val endEpoch = System.currentTimeMillis()
      val c0 = ProcessCpu.seconds
      val checked = err.orElse(
        try op.check(spark) catch { case e: Throwable => Some(s"check: $e") })
      checkUs += trace.nowUs - end
      checkCpu += ProcessCpu.seconds - c0
      val s = Sample(index, op.name, start, exec, end, checked)
      if (traced) opTraces += OpTrace(s, buildAnalysis, Nil, startEpoch, endEpoch)
      s
    }
    val pass = Pass(index, traced, passStart, trace.nowUs, checkUs,
      ProcessCpu.seconds - cpu0 - checkCpu, samples)
    if (traced) spanPass(pass)
    pass
  }

  /** Spans of a traced pass: pass, operation, build (with the built
    * DataFrame's analysis under it), analyze / optimize / plan of each
    * write, execute, and the stages under build or execute. */
  private def spanPass(pass: Pass): Unit = {
    val passId = trace.add(rootSpan, "pass", s"pass ${pass.index}", pass.startUs, pass.endUs)
    val execs = recorder.takeExecutions()
    val mine = opTraces.filter(_.sample.pass == pass.index)
    mine.foreach { t =>
      val s = t.sample
      val tag = f"p${pass.index}%03d/${s.op}"
      val opId = trace.add(passId, "op", s.op, s.startUs, s.endUs)
      val writes = execs.map(_._2).filter { qe =>
        val starts = qe.tracker.phases.values.map(_.startTimeMs)
        starts.nonEmpty && starts.min >= t.startEpochMs - 1 && starts.min <= t.endEpochMs &&
          trace.fromEpochMs(starts.min) >= s.execUs - 1000
      }
      if (s.execUs > s.startUs) {
        val b = trace.add(opId, "build", "build", s.startUs, s.execUs)
        t.buildAnalysis.foreach(p =>
          trace.add(b, "analyze", "analyze", trace.fromEpochMs(p.startTimeMs),
            trace.fromEpochMs(p.endTimeMs)))
        recorder.stages(s"$tag/build").foreach(st =>
          trace.add(b, "stage", s"stage ${st.stageId}",
            trace.fromEpochMs(st.startMs), trace.fromEpochMs(st.endMs)))
      }
      var planEnd = s.execUs
      writes.foreach { qe =>
        Seq("analysis" -> "analyze", "optimization" -> "optimize", "planning" -> "plan")
          .foreach { case (phase, layer) =>
            qe.tracker.phases.get(phase).foreach { p =>
              trace.add(opId, layer, layer, trace.fromEpochMs(p.startTimeMs),
                trace.fromEpochMs(p.endTimeMs))
              planEnd = math.max(planEnd, trace.fromEpochMs(p.endTimeMs))
            }
          }
      }
      val execStart = if (writes.size == 1) math.min(planEnd, s.endUs) else s.execUs
      val e = trace.add(opId, "execute", "execute", execStart, s.endUs)
      recorder.stages(s"$tag/exec").foreach(st =>
        trace.add(e, "stage", s"stage ${st.stageId}",
          trace.fromEpochMs(st.startMs), trace.fromEpochMs(st.endMs)))
      opTraces(opTraces.indexOf(t)) = t.copy(writes = writes)
    }
  }

  def close(): Unit = setTracing(false)
}

/** Builds the benchmark's session: local[nproc], shuffle partitions =
  * nproc, the engine's planner extensions installed. */
object BenchSession {
  def build(nproc: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    spark
  }

  /** The first warm-up action: a small aggregation through the noop sink. */
  def warmUp(spark: SparkSession): Unit =
    QueryOp.writeNoop(spark.range(0, 100000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(id) AS s"))

  /** Set the session up `times` times, stopping all but the last; returns
    * the last session and each set-up's seconds. */
  def setUp(nproc: Int, work: Path, times: Int): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val secs = (1 to times).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = build(nproc, work)
      warmUp(spark)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, secs)
  }
}

/** Host and session facts stamped on every run. A run is flagged as
  * polluted, never dropped, when the host was busy before it started or
  * other guests took CPU from this one while it ran (steal time). */
object Stamp {
  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) jiffies of all CPUs from /proc/stat; zeros elsewhere. */
  def cpuTicks(): (Long, Long) = try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  } catch { case _: Exception => (0L, 0L) }

  def apply(spark: SparkSession, nproc: Int, loadStart: Double, loadEnd: Double,
            ticksStart: (Long, Long)): Map[String, Any] = {
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) =>
        (k.startsWith("spark.sql.") || k == "spark.master") && !k.endsWith(".dir") }
    val ticksEnd = cpuTicks()
    val total = ticksEnd._2 - ticksStart._2
    val steal = if (total > 0) (ticksEnd._1 - ticksStart._1).toDouble / total else 0.0
    Map(
      "nproc" -> nproc,
      "jvm_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "spark_conf" -> conf.toMap,
      "load_avg_start" -> loadStart,
      "load_avg_end" -> loadEnd,
      "cpu_steal_share" -> steal,
      // the run itself keeps up to nproc threads busy, so the load average
      // at its end says little; what the host carried before it does
      "polluted" -> (loadStart > nproc || steal > 0.05))
  }
}

/** Minimal JSON writer for the harness's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Dirs {
  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }
}
