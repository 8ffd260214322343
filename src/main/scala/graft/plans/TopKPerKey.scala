package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Per-key top-k as a first-class operator (LogicalPlan + rewrite Rule +
  * Strategy + SparkPlan), the whole-operator extension path.
  *
  * Spark plans `filter(row_number().over(key, order) <= k)` as a full
  * per-partition SORT of every key's rows followed by ranking and a
  * filter. For small k over heavy keys that sort is the dominant cost.
  * This operator keeps a bounded k-row heap per key instead —
  * O(rows·log k) and O(keys·k) memory — and emits the rank directly.
  *
  * The rewrite is transparent: users write the standard window+filter;
  * [[TopKViaWindowRewrite]] swaps in [[TopKPerKeyPlan]] when the window
  * computes exactly one row_number and the filter bounds it by a
  * literal no larger than 10000. Disable with spark.graft.topkRewrite=false.
  */
case class TopKPerKeyPlan(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan = copy(child = c)
}

object TopKViaWindowRewrite extends Rule[LogicalPlan] {

  /** Largest k rewritten: the exec holds up to k rows per key on heap. */
  private val MaxK = 10000

  private def boundOf(cond: Expression, rank: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, _)) if a.semanticEquals(rank) => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, _)) if a.semanticEquals(rank) => Some(v - 1)
    case GreaterThanOrEqual(Literal(v: Int, _), a: Attribute) if a.semanticEquals(rank) => Some(v)
    case GreaterThan(Literal(v: Int, _), a: Attribute) if a.semanticEquals(rank) => Some(v - 1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.graft.topkRewrite", "true").toBoolean) return plan
    plan.transformUp {
      // partitionSpec must be non-empty: with no keys the exec would run
      // per input partition and a GLOBAL row_number top-k would wrongly
      // return per-partition ranks. Global top-k already has an efficient
      // plan (TakeOrderedAndProject) and is left to Spark.
      case f @ Filter(cond,
          Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, spec), _)),
            partitionSpec, orderSpec, child, _))
          if spec.frameSpecification.isInstanceOf[SpecifiedWindowFrame] &&
            partitionSpec.nonEmpty && orderSpec.nonEmpty =>
        boundOf(cond, alias.toAttribute) match {
          case Some(k) if k > 0 && k <= MaxK =>
            TopKPerKeyPlan(partitionSpec, orderSpec, k, alias.toAttribute, child)
          case _ => f
        }
    }
  }
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, rankAttr, child) =>
      TopKPerKeyExec(keys, order, k, rankAttr, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap per-key top-k. Requires key-clustered input (the
  * planner inserts the exchange); inside each partition it streams rows
  * once, keeping the k best per key under `order`, then emits
  * (childRow, rank) with rank 1..k in sort order.
  *
  * Memory: O(distinct keys per partition × k) copied rows on heap — the
  * same order as the operator's OUTPUT per partition, but held at once
  * rather than streamed like Spark's spillable window sort. The rewrite
  * only fires for k <= 10000 and can be disabled entirely with
  * spark.graft.topkRewrite=false; extreme key-cardinality-per-partition
  * workloads should size partitions (AQE) or disable the rewrite.
  */
case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr

  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) super.requiredChildDistribution
    else ClusteredDistribution(keys) :: Nil

  /** Dropping rows never moves a key across partitions — advertise the
    * child's partitioning so a downstream aggregation or join keyed on
    * (a superset of) the same keys reuses the exchange the planner
    * already inserted below us. Without this, SparkPlan's
    * UnknownPartitioning default forced a REDUNDANT re-shuffle of the
    * bounded top-k output (caught by the x101 plan pin; also removes an
    * exchange under a62's groupBy-after-rank shape). Ordering is NOT
    * advertised: output is grouped per key in heap insertion order, not
    * key-sorted.
    */
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keys, childOutput)
      val rowOrdering: Ordering[InternalRow] = GenerateOrdering.generate(
        BindReferences.bindReferences(order, AttributeSeq(childOutput)))
      // max-heap on the ordering: head = worst of the current top-k
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(heap) =>
            if (heap.size < k) heap += row.copy()
            else if (rowOrdering.compare(row, heap.head) < 0) {
              heap.dequeue(); heap += row.copy()
            }
          case None =>
            val heap = mutable.PriorityQueue.empty[InternalRow](rowOrdering)
            heap += row.copy()
            heaps.put(key.copy(), heap)
        }
      }
      val outProj = UnsafeProjection.create(output, output)
      val rankRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      heaps.iterator.flatMap { case (_, heap) =>
        heap.dequeueAll.sorted(rowOrdering).iterator.zipWithIndex.map {
          case (row, i) =>
            rankRow.update(0, i + 1)
            outProj(joined(row, rankRow))
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)
}
