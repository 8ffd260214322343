package perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Full-result timing guard: the timed action (a write to the noop sink)
  * must read the same scan columns as the query's own plan. A `count()`
  * would not: Catalyst prunes it to the columns the count needs. */
class FullResultSpec extends SparkSuite {
  private val dir = bench.resolve("data/sf0.01").toString

  private def executedBy(action: => Unit): QueryExecution = {
    var last: QueryExecution = null
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = last = qe
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      action
      org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    last
  }

  for (q <- Seq("x11_fingerprint_rolling", "a38_try_funcs")) {
    test(s"$q: the timed write reads the query's own scan columns; count() reads fewer") {
      val op = new QueryOp(q, dir)
      val own = Plans.scanColumns(op.build(spark).queryExecution.executedPlan)
      val timed = Plans.scanColumns(executedBy(QueryOp.writeNoop(op.build(spark))).executedPlan)
      val counted = Plans.scanColumns(executedBy(op.build(spark).count()).executedPlan)
      assert(own.nonEmpty)
      assert(timed == own)
      assert(counted.map(_._2.size).sum < own.map(_._2.size).sum)
    }
  }

  test("x11 under count() scans zero columns, so its rolling hash never runs") {
    val counted = Plans.scanColumns(
      executedBy(new QueryOp("x11_fingerprint_rolling", dir).build(spark).count()).executedPlan)
    assert(counted.forall(_._2.isEmpty))
  }
}
