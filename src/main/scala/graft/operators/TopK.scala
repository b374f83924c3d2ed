package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnBridge
import graft.plans.{PartialTopK, PartialTopKStrategy}

/** Per-group top-k — THE batch k-NN reduction shape (SURVEY.md §7.4).
  *
  * Each task first keeps its own top-k per group ([[PartialTopK]]: one
  * bounded heap per group, no sort, no exchange), so only P x groups x k
  * rows reach the merge. The merge is the same node again after one hash
  * exchange on the group key — exact there, since each group then sits in
  * one partition, and no query's candidates funnel through a single slot.
  * Results are identical to one window over the whole input: the true
  * per-group top-k is a subset of the union of per-task top-k. The output
  * is unordered; callers that need an order sort it. PlanSpec pins the
  * partial node below the group-key exchange and no window above it. */
object TopK {

  /** Keep the k smallest (orderCol, idCol) rows per `groupCol`, under a
    * window's ordering (ascending, nulls first). */
  def perGroup(df: DataFrame, groupCol: String, orderCol: String,
               idCol: String, k: Int): DataFrame = {
    val session = df.sparkSession
    PartialTopKStrategy.install(session)
    def partialTopK(in: DataFrame): DataFrame = {
      val plan = in.queryExecution.analyzed
      def attr(name: String) = plan.resolve(Seq(name), session.sessionState.conf.resolver)
        .getOrElse(throw new IllegalArgumentException(s"no column $name in ${plan.schema}"))
      ColumnBridge.dataFrame(session, PartialTopK(Seq(attr(groupCol)),
        Seq(SortOrder(attr(orderCol), Ascending), SortOrder(attr(idCol), Ascending)),
        k, plan))
    }
    partialTopK(partialTopK(df).repartition(col(groupCol)))
  }
}
