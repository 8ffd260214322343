package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary

class RunnerSpec extends SparkSuite {
  private class Fixed(val name: String, body: SparkSession => Unit,
                      verdict: Option[String] = None) extends Op {
    def run(s: SparkSession, phase: String => Unit): Option[PhaseSummary] = {
      phase("exec"); body(s); None
    }
    override def check(s: SparkSession): Option[String] = verdict
  }

  private val ok = new Fixed("ok", s => QueryOp.writeNoop(s.range(100).toDF()))
  private val throws = new Fixed("throws", _ => throw new IllegalStateException("boom"))
  private val wrong = new Fixed("wrong", s => QueryOp.writeNoop(s.range(10).toDF()), Some("mismatch"))

  test("a throwing operation is counted as failed, not dropped") {
    val r = new Runner(spark, new Trace(System.currentTimeMillis(), System.nanoTime()))
    val pass = r.runPass(1, Seq(ok, throws, ok), traced = false)
    assert(pass.samples.map(_.op) == Seq("ok", "throws", "ok"))
    assert(pass.samples.map(_.ok) == Seq(true, false, true))
    assert(pass.samples(1).error.exists(_.contains("boom")))
  }

  test("an output mismatch is counted as failed") {
    val r = new Runner(spark, new Trace(System.currentTimeMillis(), System.nanoTime()))
    val pass = r.runPass(1, Seq(wrong, ok), traced = false)
    assert(pass.samples.map(_.error) == Seq(Some("mismatch"), None))
  }

  test("a traced pass attributes jobs to the operation and records its spans") {
    val r = new Runner(spark, new Trace(System.currentTimeMillis(), System.nanoTime()))
    r.runPass(1, Seq(ok, throws), traced = true)
    r.close()
    assert(r.recorder.exec("p001/ok/exec").jobs >= 1)
    assert(r.opTraces.map(_.sample.op) == Seq("ok", "throws"))
    val layers = r.trace.all.map(_.layer).toSet
    assert(Set("run", "pass", "op", "execute", "stage", "optimize", "plan").subsetOf(layers))
  }

  test("a traced pass measures the analysis that building the DataFrame runs") {
    // a wide projection, so that its analysis takes whole milliseconds
    val wide = new Op {
      val name = "wide"
      def run(s: SparkSession, phase: String => Unit): Option[PhaseSummary] = {
        phase("build")
        val df = s.range(1000).selectExpr((0 until 400).map(i => s"id * $i + 1 AS c$i"): _*)
        phase("exec")
        val analysis = df.queryExecution.tracker.phases.get("analysis")
        QueryOp.writeNoop(df)
        analysis
      }
    }
    val r = new Runner(spark, new Trace(System.currentTimeMillis(), System.nanoTime()))
    val passes = Seq(r.runPass(0, Seq(wide), traced = false), r.runPass(1, Seq(wide), traced = true))
    r.close()
    val spans = r.trace.all
    val build = spans.filter(_.layer == "build")
    assert(build.size == 1)
    val analyze = spans.filter(s => s.layer == "analyze" && s.parent == build.head.id)
    assert(analyze.size == 1)
    // the epoch-millisecond phase times map onto the run's clock to within
    // a millisecond
    assert(analyze.head.endUs <= build.head.endUs + 1000)
    val m = new Layers(r, 4, passes, Nil).metrics
    assert(m("analyze_s") > 0)
    assert(m("analyze_s") >= r.opTraces.head.buildAnalysisS)
    assert(m("build_s") >= 0)
  }
}
