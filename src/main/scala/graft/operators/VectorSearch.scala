package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import graft.functions.VectorExpressions
import graft.functions.VectorFunctions.distance
import graft.plans.QueryProbes

/** THE k-NN search body: a probe plan, a score, an optional exact
  * rescore, a top-k by (distance, id). The engine's batch funnel
  * (`VectorEngine.searchBatch`) and every operator search entry point
  * (LshIndex, IvfIndex, Quantization, BinaryQuantization,
  * ProductQuantization) are callers: each plans its probes, picks its
  * [[Scorer]] and aliases its columns to the contract of [[nearest]].
  *
  * The reference's two-phase semantics (vector_db/indexes.py:206-234)
  * are the caller's choice through the plan: a query with a probe list
  * scans only rows of those buckets; a query with none (a fallback)
  * scans every row. [[probedWithK]] is the shared `< k` rule that turns
  * probed queries whose buckets hold < k rows into fallbacks. */
object VectorSearch {

  /** How a row is scored: exactly, or approximately over stored codes
    * then exactly for the top-`rescore` survivors per query. Fixed by the
    * library's storage kind (engine) or by the entry point (operators). */
  sealed trait Scorer
  /** float32 distances inside per-task heaps ([[TopK.nearest]]). */
  case object Exact extends Scorer
  /** An approximate score over stored codes, then the exact rescore of
    * the top-`rescore` per query. */
  sealed trait Compact extends Scorer { def rescore: Int }
  /** SQ8 codes + per-row (qmin, qmax), scored by the decoded kernel. */
  final case class Sq8(rescore: Int) extends Compact
  /** 31-bit sign words in `codes`, scored by Hamming distance. */
  final case class Bq(rescore: Int) extends Compact
  /** PQ centroid ids in `codes` (cosine: the row norm in `qmin`), ADC. */
  final case class Pq(model: ProductQuantization.Model, rescore: Int) extends Compact
  /** Residual PQ codes in `codes` relative to the centroid of `bucket`. */
  final case class ResidualPq(model: ProductQuantization.Model,
                              centroids: Seq[IvfIndex.Centroid],
                              rescore: Int) extends Compact

  /** The k nearest rows of `rows` to each query of `queries` under
    * `metric`, scored by `scorer`. `rows` has `id` (string or bigint),
    * `embedding` (array<float>), `bucket` when the plan probes, and the
    * scorer's stored columns (`codes`, `qmin`, `qmax`). Distances are
    * `round(distance(metric)(embedding, qvec), 6) + 0.0` whatever the
    * scorer. Output: (query_id, id, distance), top-k per query,
    * unordered — except for one query, whose rows come back in
    * (distance, id) order (a TakeOrderedAndProject). */
  def nearest(rows: DataFrame, queries: QueryProbes, metric: String, k: Int,
              scorer: Scorer): DataFrame = scorer match {
    case Exact =>
      // one scan of the rows, or of the probed buckets when no query
      // falls back
      val scan = if (queries.fallback.isEmpty) inBuckets(rows, queries.probes.keys) else rows
      TopK.nearest(scan.select(Seq(col("id"), col("embedding")) ++
          (if (queries.probes.isEmpty) Nil else Seq(col("bucket"))): _*),
        queries, metric, k)
    case compact: Compact => compactSearch(rows, queries, metric, k, compact)
  }

  /** One query's top-k, the operator entry points' adapter: `buckets`
    * None scans every row of `rows`. Output: (idCol, distance) in
    * (distance, id) order. */
  def single(rows: DataFrame, idCol: String, query: Array[Float],
             buckets: Option[Seq[Long]], metric: String, k: Int,
             scorer: Scorer): DataFrame =
    nearest(rows, QueryProbes(Seq(0L -> query), buckets.map(0L -> _).toSeq),
      metric, k, scorer).select(col("id").as(idCol), col("distance"))

  /** The `< k` rule: the probed queries whose probe buckets hold >= k
    * rows of `rows`; every other query falls back to the full scan.
    * `hist` is the (bucket -> rows) histogram when the caller knows it;
    * otherwise ONE aggregate counts the probed buckets, its collect
    * bounded by their number. */
  def probedWithK(rows: DataFrame, probes: Seq[(Long, Seq[Long])], k: Int,
                  hist: Option[Map[Long, Long]] = None): Seq[(Long, Seq[Long])] = {
    val h = hist.getOrElse(
      if (probes.isEmpty) Map.empty[Long, Long]
      else inBuckets(rows, probes.flatMap(_._2)).groupBy("bucket").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    probes.filter(_._2.iterator.map(h.getOrElse(_, 0L)).sum >= k)
  }

  /** The stored bucket column restricted to a driver-known bucket set: a
    * filter pushed to the scan, so a stored table skips parquet row
    * groups. An InSet, not `isin`: its generated code references the set
    * instead of inlining each value, so searches with different probe sets
    * share one compiled class. */
  def inBuckets(df: DataFrame, buckets: Iterable[Long]): DataFrame =
    df.where(ColumnBridge.column(InSet(ColumnBridge.expression(col("bucket")),
      buckets.iterator.toSet[Any])))

  /** The compact leg: top-R per query on the stored codes over the
    * (query, row) candidate pairs, then ONE exact rescore of the O(Q x R)
    * survivors. */
  private def compactSearch(scoped: DataFrame, queryPlan: QueryProbes, metric: String,
                            k: Int, scorer: Compact): DataFrame = {
    val spark = scoped.sparkSession
    import spark.implicits._
    val queries = queryPlan.ids.toSeq.zip(queryPlan.vectors.map(_.toSeq))
    val probed: Seq[(Long, Seq[Long])] = queryPlan.probes.toSeq
      .flatMap { case (b, qs) => qs.map(_ -> b) }.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (q, bs) => queryPlan.ids(q) -> bs.map(_._2).sorted }
    val fallbackQs = queryPlan.fallback.toSeq.map(queryPlan.ids(_))
    val residualPq = scorer.isInstanceOf[ResidualPq]
    val qvecs = queries.toMap
    def local(rows: Seq[(Long, Seq[Float], Long)]): DataFrame =
      rows.toDF("query_id", "qvec", "qbucket")
        .withColumn("qvec", col("qvec").cast("array<float>"))
    val qDf = queries.toDF("query_id", "qvec")
      .withColumn("qvec", col("qvec").cast("array<float>"))
    // the approximate pass reads the compact columns and NEVER the float32
    // embedding bytes — those are read once, for the O(Q x R) rescore
    // survivors only
    val dataCols: Seq[Column] = scorer match {
      case Sq8(_) => Seq(col("codes"), col("qmin"), col("qmax"))
      case Bq(_) => Seq(col("codes"))
      case _ =>
        Seq(col("codes")) ++
          (if (residualPq) Seq(col("bucket")) else Nil) ++
          (if (metric == "cosine") Seq(col("qmin")) else Nil)
    }
    val pairCols = Seq(col("query_id"), col("id")) ++ dataCols :+ col("qvec")
    // (query, row) candidate pairs: the probed queries join the stored
    // bucket column through ONE local relation of (query_id, qvec,
    // qbucket) rows; the fallback queries cross the whole row set
    val pairs = Seq(
      if (probed.isEmpty) None
      else Some(inBuckets(scoped, probed.flatMap(_._2))
        .join(broadcast(local(probed.flatMap { case (qid, bs) =>
          bs.map(b => (qid, qvecs(qid), b)) })), col("bucket") === col("qbucket"))
        .select(pairCols: _*)),
      if (fallbackQs.isEmpty) None
      else Some(scoped.crossJoin(broadcast(
          if (probed.isEmpty) qDf else qDf.where(col("query_id").isin(fallbackQs: _*))))
        .select(pairCols: _*))
    ).flatten.reduce(_ unionByName _)
    // each compact storage kind supplies only its approximate score over
    // the candidate pairs
    val approx: DataFrame = scorer match {
      case Bq(_) =>
        // Hamming over the stored int words (the query's words re-packed
        // in-plan from qvec — a handful of 31-bit words, e.g. 3 at dim
        // 64; cheaper than another broadcast join)
        pairs.withColumn("approx", BinaryQuantization.hamming(
          col("codes"), BinaryQuantization.encodeWordsInt(col("qvec"), queryPlan.dim)))
      case Sq8(_) =>
        pairs.withColumn("approx", VectorExpressions.sq8DistanceBatch(
          col("codes"), col("qmin"), col("qmax"), col("qvec"), metric))
      case _ =>
        // ADC: each query's lookup table rides in as a broadcast column.
        // Residual (IVFPQ) tables are keyed by (query_id, cell) over each
        // query's probed cells, joined on the stored bucket cell:
        // O(nprobe · M · K) doubles per query (euclidean) or O(M · K +
        // nprobe) (dot/cosine — the LUT is cell-independent). Cosine
        // additionally divides by the stored qmin norm and the per-query
        // norm riding in the same broadcast frame.
        val model = scorer match {
          case Pq(m, _) => m
          case ResidualPq(m, _, _) => m
          case _ => throw new IllegalStateException(s"$scorer")
        }
        val terms = model.indices.map { m =>
          element_at(element_at(col("__lut"), m + 1),
            col("codes").getItem(m).cast("int") + lit(1))
        }
        val (withLut, lutSum) = scorer match {
          case ResidualPq(_, centroids, _) =>
            // LUTs only for the cell-pruned queries; a FALLBACK query
            // scans every cell and goes straight to the exact rescore —
            // per-cell LUTs for all C cells would be O(C·M·K) driver work
            val lutRows = probed.flatMap {
              case (qid, cells) =>
                val qn = ProductQuantization.normLocal(qvecs(qid))
                ProductQuantization.residualLutRows(model, centroids,
                  cells, qvecs(qid).toArray, metric)
                  .map { case (cell, const, luts) => (qid, cell, const, luts, qn) }
            }
            (pairs.join(broadcast(lutRows.toDF("query_id", "__cell", "__const",
                "__lut", "__qnorm")), Seq("query_id"))
              .where(col("bucket") === col("__cell")),
              terms.foldLeft(col("__const"))(_ + _))
          case _ =>
            val luts = queries.map { case (qid, q) =>
              (qid, ProductQuantization.adcLut(model, q.toArray, metric)
                .map(_.toSeq).toSeq, ProductQuantization.normLocal(q))
            }
            (pairs.join(broadcast(luts.toDF("query_id", "__lut", "__qnorm")),
                Seq("query_id")),
              terms.reduce(_ + _))
        }
        withLut.withColumn("approx", ProductQuantization.approxColumn(
          lutSum, metric,
          if (metric == "cosine") Some(col("qmin")) else None, col("__qnorm")))
    }
    def topN(df: DataFrame, score: String, n: Int): DataFrame =
      if (queries.size == 1) df.orderBy(col(score), col("id")).limit(n)
      else TopK.perGroup(df, "query_id", score, "id", n)
    val cut = topN(approx.select(col("query_id"), col("id"), col("approx")),
      "approx", math.max(k, scorer.rescore)).select(col("query_id"), col("id"))
    // a residual-pq fallback query has no LUT rows: EVERY candidate
    // survives to the exact rescore
    val survivors =
      if (!residualPq || fallbackQs.isEmpty) cut
      else cut.unionByName(pairs.where(col("query_id").isin(fallbackQs: _*))
        .select(col("query_id"), col("id")))
    // ONE exact-rescore join touching O(Q x R) embedding rows
    topN(scoped.select(col("id"), col("embedding"))
      .join(broadcast(survivors), Seq("id"))
      .join(broadcast(qDf), Seq("query_id"))
      .withColumn("distance",
        round(distance(metric)(col("embedding"), col("qvec")), 6) + lit(0.0d))
      .select(col("query_id"), col("id"), col("distance")), "distance", k)
  }
}
