package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import graft.plans.{PartialTopK, PartialTopKStrategy}

/** Per-group top-k — THE batch k-NN reduction shape (SURVEY.md §7.4).
  *
  * Each task first keeps its own top-k per group ([[PartialTopK]]: one
  * bounded heap per group, no sort, no exchange), so only P x groups x k
  * rows reach the merge. The merge is one per-group window, hash-
  * partitioned on the group key — no query's candidates funnel through a
  * single slot. Results are identical to one window over the whole input:
  * the true per-group top-k is a subset of the union of per-task top-k.
  * PlanSpec pins the partial node below the group-key exchange. */
object TopK {

  /** Keep the k smallest (orderCol, idCol) rows per `groupCol`, ordered
    * as a window orders them (ascending, nulls first). */
  def perGroup(df: DataFrame, groupCol: String, orderCol: String,
               idCol: String, k: Int): DataFrame = {
    val session = df.sparkSession
    PartialTopKStrategy.install(session)
    val plan = df.queryExecution.analyzed
    def attr(name: String) = plan.resolve(Seq(name), session.sessionState.conf.resolver)
      .getOrElse(throw new IllegalArgumentException(s"no column $name in ${plan.schema}"))
    val partial = ColumnBridge.dataFrame(session, PartialTopK(Seq(attr(groupCol)),
      Seq(SortOrder(attr(orderCol), Ascending), SortOrder(attr(idCol), Ascending)),
      k, plan))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol), col(idCol))
    partial.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }
}
