// Lives under org.apache.spark.sql so it can reach the private[sql]
// Column <-> catalyst Expression converters — the sanctioned seam for
// third-party Catalyst expressions since the Spark 4 Column/Expression
// decoupling (the Column API no longer exposes `.expr`) — and the
// private[sql] DataFrame factory over a third-party logical plan.
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def dataFrame(session: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(session), plan)
}
