package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StringType}
import graft.plans.{PartialTopK, QueryProbes, TopKStrategy, VectorTopK}

/** Per-group top-k — THE batch k-NN reduction shape (SURVEY.md §7.4).
  *
  * Each task first keeps its own top-k per group (one bounded heap per
  * group, no sort, no exchange), so only P x groups x k rows reach the
  * merge: [[PartialTopK]] over scored rows ([[perGroup]]), or
  * [[VectorTopK]], which scores (row, query) pairs inside the heaps so no
  * pair is ever materialized ([[nearest]]). The merge is [[PartialTopK]]
  * after one hash exchange on the group key — exact there, since each
  * group then sits in one partition, and no query's candidates funnel
  * through a single slot. Results are identical to one window over the
  * whole input: the true per-group top-k is a subset of the union of
  * per-task top-k. The output is unordered; callers that need an order
  * sort it. PlanSpec pins the per-task node below the group-key exchange
  * and no window above it. */
object TopK {

  private def partialTopK(in: DataFrame, groupCol: String, orderCol: String,
                          idCol: String, k: Int): DataFrame = {
    val session = in.sparkSession
    val plan = in.queryExecution.analyzed
    def attr(name: String) = plan.resolve(Seq(name), session.sessionState.conf.resolver)
      .getOrElse(throw new IllegalArgumentException(s"no column $name in ${plan.schema}"))
    ColumnBridge.dataFrame(session, PartialTopK(Seq(attr(groupCol)),
      Seq(SortOrder(attr(orderCol), Ascending), SortOrder(attr(idCol), Ascending)),
      k, plan))
  }

  /** Merge per-task cuts: one hash exchange on `groupCol`, then the exact
    * per-group top-k. */
  private def merge(df: DataFrame, groupCol: String, orderCol: String,
                    idCol: String, k: Int): DataFrame =
    partialTopK(df.repartition(col(groupCol)), groupCol, orderCol, idCol, k)

  /** Keep the k smallest (orderCol, idCol) rows per `groupCol`, under a
    * window's ordering (ascending, nulls first). */
  def perGroup(df: DataFrame, groupCol: String, orderCol: String,
               idCol: String, k: Int): DataFrame = {
    TopKStrategy.install(df.sparkSession)
    merge(partialTopK(df, groupCol, orderCol, idCol, k), groupCol, orderCol, idCol, k)
  }

  /** The k nearest rows of `scan` to each query under `metric`: exactly
    * the per-query top-k (distance, id) of `round(distance(metric)(
    * embedding, qvec), 6) + 0.0` over the (row, query) pairs the probe
    * plan assigns. `scan` is (id: string or bigint, embedding:
    * array<float>) plus `bucket: long` when `queries` probes buckets. One
    * query is cut by one TakeOrderedAndProject, whose rows come back in
    * (distance, id) order; more are cut by [[merge]].
    * Output: (query_id, id, distance), unordered for more than one query. */
  def nearest(scan: DataFrame, queries: QueryProbes, metric: String,
              k: Int): DataFrame = {
    val session = scan.sparkSession
    TopKStrategy.install(session)
    val plan = scan.queryExecution.analyzed
    val idType = plan.output.headOption.map(_.dataType).filter(LongType == _)
      .getOrElse(StringType)
    val expected = Seq("id" -> idType, "embedding" -> ArrayType(FloatType)) ++
      (if (queries.probes.nonEmpty) Seq("bucket" -> LongType) else Nil)
    val got = plan.output.map(a => a.name -> a.dataType)
    require(got.map(_._1) == expected.map(_._1) && got.zip(expected).forall {
      case ((_, ArrayType(t, _)), (_, ArrayType(e, _))) => t == e
      case ((_, t), (_, e)) => t == e
    }, s"scan must be ${expected.map(_._1).mkString("(", ", ", ")")}, got $got")
    val output = Seq(AttributeReference("query_id", LongType, nullable = false)(),
      AttributeReference("id", idType, nullable = false)(),
      AttributeReference("distance", DoubleType, nullable = false)())
    val scored = ColumnBridge.dataFrame(session,
      VectorTopK(queries, metric, k, plan.output, output, plan))
    if (queries.ids.length == 1) scored.orderBy(col("distance"), col("id")).limit(k)
    else merge(scored, "query_id", "distance", "id", k)
  }
}
