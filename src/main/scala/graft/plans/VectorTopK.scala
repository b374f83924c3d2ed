package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, GenericInternalRow,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The driver constants of one k-NN scan: the queries (id, float32
  * vector, precomputed L2 norm, by ordinal) and the probe plan — the
  * `fallback` ordinals score every row, a row of stored bucket b also
  * scores `probes(b)`. A query is either fallback or probed, and a
  * probed query lists a bucket at most once, so no (row, query) pair is
  * scored twice. */
final class QueryProbes(val ids: Array[Long], val vectors: Array[Array[Float]],
                        val fallback: Array[Int], val probes: Map[Long, Array[Int]])
  extends Serializable {
  require(ids.length == vectors.length, "one id per query vector")
  val dim: Int = if (vectors.isEmpty) 0 else vectors(0).length
  require(vectors.forall(_.length == dim), "queries of one dimension")
  /** sqrt of the left-to-right double sum of squares, the cosine kernel's
    * own accumulation. */
  val norms: Array[Double] = vectors.map { q =>
    var s = 0.0d; var i = 0
    while (i < q.length) { s += q(i).toDouble * q(i).toDouble; i += 1 }
    math.sqrt(s)
  }
  override def toString: String =
    s"queries=${ids.length}, fallback=${fallback.length}, probed buckets=${probes.size}"
}

object QueryProbes {
  /** `queries` in ordinal order; `probed` lists each probed query's
    * buckets, every other query falls back. */
  def apply(queries: Seq[(Long, Array[Float])], probed: Seq[(Long, Seq[Long])]): QueryProbes = {
    val ordinal = queries.map(_._1).zipWithIndex.toMap
    val probedIds = probed.map(_._1).toSet
    new QueryProbes(queries.map(_._1).toArray, queries.map(_._2).toArray,
      queries.indices.filterNot(i => probedIds(queries(i)._1)).toArray,
      probed.flatMap { case (qid, bs) => bs.distinct.map(_ -> ordinal(qid)) }
        .groupBy(_._1).map { case (b, qs) => b -> qs.map(_._2).toArray })
  }
}

/** Batch k-NN scoring fused with the per-task top-k: over a scan of
  * `input` = (id: string, embedding: array<float>[, bucket: long]) it
  * scores each row against the queries the probe plan assigns to it and
  * keeps one bounded heap of k (distance, id) per query. Output is
  * (query_id, id, distance), at most queries x k rows per task — the same
  * rows [[PartialTopK]] keeps over the scored (query, row) pairs, without
  * ever materializing a pair. */
case class VectorTopK(queries: QueryProbes, metric: String, k: Int,
                      input: Seq[Attribute], output: Seq[Attribute],
                      child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be > 0, got $k")
  require(input.size == 2 || input.size == 3, s"input is (id, embedding[, bucket]), got $input")
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): VectorTopK =
    copy(child = newChild)
}

/** Per task and query, one bounded max-heap of k (distance, id) under
  * PartialTopKExec's order: distance ascending as Spark compares doubles
  * (NaN largest, -0.0 == 0.0), then id in UTF8String byte order.
  *
  * Distances are bit-identical to `round(distance(metric)(embedding,
  * qvec), 6) + 0.0`: the same float32-to-double left-to-right folds as
  * [[graft.functions.CosineDistanceExpr]] / `EuclideanDistanceExpr` /
  * `-DotProductExpr` (a cosine row's norm is folded once per row, not
  * once per pair — the folds are independent accumulators), rounded by
  * [[graft.operators.MmrRerank.round6Out]]. Rounding runs only when the
  * raw distance could enter the heap (raw <= k-th + 1e-6): round6 is
  * monotone and moves a value by less than 5e-7, so a skipped row rounds
  * strictly above the k-th and the skip is exact. */
case class VectorTopKExec(queries: QueryProbes, metric: String, k: Int,
                          input: Seq[Attribute], output: Seq[Attribute],
                          child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val (qs, metric, k) = (queries, this.metric, this.k)
    val ords = input.map(a => child.output.indexWhere(_.exprId == a.exprId))
    require(!ords.contains(-1), s"$input not in ${child.output}")
    val (idOrd, embOrd) = (ords(0), ords(1))
    val bucketOrd = if (ords.size > 2) ords(2) else -1
    child.execute().mapPartitions { rows =>
      val scorer = new VectorTopKExec.Scorer(qs, metric, k)
      rows.foreach { row =>
        if (!row.isNullAt(embOrd)) { // ingest never stores one
          val probed =
            if (bucketOrd < 0 || row.isNullAt(bucketOrd)) VectorTopKExec.NoQueries
            else qs.probes.getOrElse(row.getLong(bucketOrd), VectorTopKExec.NoQueries)
          if (qs.fallback.nonEmpty || probed.nonEmpty)
            scorer.score(row, idOrd, embOrd, probed)
        }
      }
      scorer.rows
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): VectorTopKExec =
    copy(child = newChild)
}

object VectorTopKExec {
  private val NoQueries = Array.empty[Int]

  private def compare(d1: Double, id1: UTF8String, d2: Double, id2: UTF8String): Int = {
    val c = SQLOrderingUtil.compareDoubles(d1, d2)
    if (c != 0) c else id1.compareTo(id2)
  }

  /** A max-heap of at most k (distance, id), root = the current k-th. */
  private final class Heap(k: Int) {
    val dist = new Array[Double](k)
    val ids = new Array[UTF8String](k)
    var size = 0

    private def above(i: Int, j: Int): Boolean = compare(dist(i), ids(i), dist(j), ids(j)) > 0
    private def swap(i: Int, j: Int): Unit = {
      val d = dist(i); dist(i) = dist(j); dist(j) = d
      val s = ids(i); ids(i) = ids(j); ids(j) = s
    }

    /** Whether a row at raw (unrounded) distance `raw` may enter. */
    def admits(raw: Double): Boolean = size < k || !(raw > dist(0) + 1e-6)

    /** `id` is a view into the input row: copied only when kept. */
    def offer(d: Double, id: UTF8String): Unit =
      if (size < k) {
        dist(size) = d; ids(size) = id.clone()
        var i = size; size += 1
        while (i > 0 && above(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
      } else if (compare(d, id, dist(0), ids(0)) < 0) {
        dist(0) = d; ids(0) = id.clone()
        var i = 0; var done = false
        while (!done) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < size && above(l, m)) m = l
          if (r < size && above(r, m)) m = r
          if (m == i) done = true else { swap(i, m); i = m }
        }
      }
  }

  /** One task's scoring state: a float buffer for the current row and a
    * lazily created heap per query ordinal. */
  private final class Scorer(qs: QueryProbes, metric: String, k: Int) {
    private val heaps = new Array[Heap](qs.ids.length)
    private val row = new Array[Float](qs.dim)
    private val (name, kind) = metric match {
      case "cosine" => ("cosine_distance", 0)
      case "euclidean" => ("euclidean_distance", 1)
      case "dot_product" => ("vec_dot", 2)
      case other => throw new IllegalArgumentException(s"unknown distance metric: $other")
    }

    def score(in: InternalRow, idOrd: Int, embOrd: Int, probed: Array[Int]): Unit = {
      val emb = in.getArray(embOrd)
      val n = emb.numElements()
      if (n != qs.dim)
        throw new IllegalArgumentException(
          s"$name: dimension mismatch ($n vs ${qs.dim})")
      var i = 0
      while (i < n) { row(i) = emb.getFloat(i); i += 1 }
      val rowNorm =
        if (kind != 0) 0.0d
        else {
          var s = 0.0d; var j = 0
          while (j < n) { s += row(j).toDouble * row(j).toDouble; j += 1 }
          math.sqrt(s)
        }
      var id: UTF8String = null
      def one(q: Int): Unit = {
        var heap = heaps(q)
        if (heap == null) { heap = new Heap(k); heaps(q) = heap }
        val raw = distance(q, rowNorm)
        if (heap.admits(raw)) {
          if (id == null) id = in.getUTF8String(idOrd)
          heap.offer(graft.operators.MmrRerank.round6Out(raw), id)
        }
      }
      var f = 0
      while (f < qs.fallback.length) { one(qs.fallback(f)); f += 1 }
      var p = 0
      while (p < probed.length) { one(probed(p)); p += 1 }
    }

    private def distance(q: Int, rowNorm: Double): Double = {
      val v = qs.vectors(q)
      val n = row.length
      var acc = 0.0d; var i = 0
      kind match {
        case 0 =>
          while (i < n) { acc += row(i).toDouble * v(i).toDouble; i += 1 }
          val qn = qs.norms(q)
          if (rowNorm == 0.0d || qn == 0.0d) Double.PositiveInfinity
          else 1.0d - acc / (rowNorm * qn)
        case 1 =>
          while (i < n) {
            val d = row(i).toDouble - v(i).toDouble
            acc += d * d; i += 1
          }
          math.sqrt(acc)
        case _ =>
          while (i < n) { acc += row(i).toDouble * v(i).toDouble; i += 1 }
          -acc
      }
    }

    /** Every heap's rows as (query_id, id, distance). */
    def rows: Iterator[InternalRow] = {
      val proj = UnsafeProjection.create(Array[DataType](LongType, StringType, DoubleType))
      val out = new GenericInternalRow(3)
      heaps.indices.iterator.filter(heaps(_) != null).flatMap { q =>
        val h = heaps(q)
        (0 until h.size).iterator.map { i =>
          out.setLong(0, qs.ids(q)); out.update(1, h.ids(i)); out.setDouble(2, h.dist(i))
          proj(out)
        }
      }
    }
  }
}
