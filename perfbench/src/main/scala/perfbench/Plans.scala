package perfbench

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Counts taken from an executed physical plan, across adaptive query
  * stages and subqueries. */
final case class PlanCounts(exchanges: Int, codegenStages: Int, topkNodes: Int,
                            cacheScans: Int, interpretedExprs: Int) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(exchanges + o.exchanges,
    codegenStages + o.codegenStages, topkNodes + o.topkNodes,
    cacheScans + o.cacheScans, interpretedExprs + o.interpretedExprs)
}

object PlanCounts { val Zero: PlanCounts = PlanCounts(0, 0, 0, 0, 0) }

object Plans extends AdaptiveSparkPlanHelper {
  def nodes(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) { case p => p }

  def counts(plan: SparkPlan): PlanCounts = {
    val ns = nodes(plan)
    PlanCounts(
      exchanges = ns.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      codegenStages = ns.count(_.isInstanceOf[WholeStageCodegenExec]),
      topkNodes = ns.count(_.isInstanceOf[graft.plans.TopKPerKeyExec]),
      cacheScans = ns.count(_.isInstanceOf[InMemoryTableScanExec]),
      interpretedExprs = ns.map(_.expressions.map(_.collect {
        case e: CodegenFallback => e
      }.size).sum).sum)
  }

  /** Every file scan's relation and the columns it reads, including scans
    * inside cached relations. Used to prove that the timed action reads
    * what the query's own result needs. */
  def scanColumns(plan: SparkPlan): Seq[(String, Seq[String])] =
    nodes(plan).flatMap {
      case s: FileSourceScanExec =>
        Seq(s.relation.location.rootPaths.mkString(",") -> s.requiredSchema.fieldNames.toSeq.sorted)
      case b: BatchScanExec =>
        Seq(b.table.name() -> b.output.map(_.name).sorted)
      case m: InMemoryTableScanExec => scanColumns(m.relation.cachedPlan)
      case _ => Nil
    }.sortBy(_.toString)
}
