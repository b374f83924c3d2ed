package graft.plans

import java.util.{HashMap => JHashMap, PriorityQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Per-partition top-`k` of every `grouping` value under `order`: each
  * task keeps at most k rows per group — a superset of those rows' share
  * of the global per-group top-k — so the merge above it sees P x groups
  * x k rows instead of every input row. Rows are not moved, so the node
  * neither needs nor changes a distribution; over input hash-partitioned
  * on `grouping` it is the exact per-group top-k. */
case class PartialTopK(grouping: Seq[Expression], order: Seq[SortOrder], k: Int,
                       child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be > 0, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): PartialTopK =
    copy(child = newChild)
}

/** One bounded max-heap of k rows per group value and task. The ordering
  * is Spark's own generated one over `order` (the one
  * TakeOrderedAndProjectExec uses), so nulls, NaN, -0.0 and UTF8String
  * byte order compare exactly as in a sort or window. The child reuses its
  * row objects: a row is copied only when a heap keeps it. */
case class PartialTopKExec(grouping: Seq[Expression], order: Seq[SortOrder], k: Int,
                           child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val (grouping, order, k, input) = (this.grouping, this.order, this.k, child.output)
    child.execute().mapPartitions { rows =>
      val groupOf = UnsafeProjection.create(grouping, input)
      val toUnsafe = UnsafeProjection.create(input, input)
      val ord = new LazilyGeneratedOrdering(order, input)
      val heaps = new JHashMap[UnsafeRow, PriorityQueue[UnsafeRow]]()
      rows.foreach { row =>
        val group = groupOf(row)
        var heap = heaps.get(group)
        if (heap == null) {
          heap = new PriorityQueue[UnsafeRow](k, ord.reverse)
          heaps.put(group.copy(), heap)
        }
        if (heap.size < k) heap.add(toUnsafe(row).copy())
        else if (ord.compare(row, heap.peek) < 0) {
          heap.poll()
          heap.add(toUnsafe(row).copy())
        }
      }
      heaps.values.iterator.asScala.flatMap(_.iterator.asScala)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKExec =
    copy(child = newChild)
}

/** Plans [[PartialTopK]] and [[VectorTopK]]. [[graft.operators.TopK]]
  * installs it on the frame's session, so sessions built without
  * [[GraftExtensions]] (Verify, Bench, the tests) plan the nodes too. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartialTopK(grouping, order, k, child) =>
      PartialTopKExec(grouping, order, k, planLater(child)) :: Nil
    case VectorTopK(queries, metric, k, input, output, child) =>
      VectorTopKExec(queries, metric, k, input, output, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Idempotent: the strategy appears at most once in the session's
    * extra strategies. Holds no reference to the session. */
  def install(session: SparkSession): Unit = {
    val experimental = session.experimental
    experimental.synchronized {
      if (!experimental.extraStrategies.contains(this))
        experimental.extraStrategies = this +: experimental.extraStrategies
    }
  }
}
