package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{VectorExpressions, VectorFunctions}
import graft.operators.IvfIndex.Centroid

/** Product quantization (PQ) for embedding columns — the compression rung
  * past SQ8 on the ANN ladder (as published for FAISS's IndexPQ; Jégou,
  * Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011): the vector is cut into `numSub` contiguous subvectors and
  * each is replaced by the id of its nearest per-subspace centroid —
  * storage is `numSub` small ints per vector (vs dim x 4 bytes float32;
  * at dim=64, M=8 that is a 32x reduction, vs SQ8's 4x).
  *
  * Everything reuses the machinery the engine already trusts:
  *   - TRAIN: seeded k-means++ with local Lloyd refinement per subspace
  *     over ONE bounded content-hash-ordered sample (FAISS-style
  *     `max_points_per_centroid` practice — see `train`): one Spark job,
  *     O(min(n, 64k) x dim) driver data at any corpus size;
  *   - ENCODE: one `NearestCellExpr` per subspace over `slice(emb, ...)`
  *     (fused codegen argmin, O(1) plan nodes per subspace), combined
  *     into a stored `pq_codes` array — ingest-time, like the SQ8 codes
  *     and the LSH bucket column. Code assignment is ALWAYS the L2 argmin
  *     (minimum reconstruction error), whatever the search metric — the
  *     same metric-independent-codes contract as SQ8, and FAISS practice;
  *   - SEARCH: asymmetric distance computation (ADC) — the query is NOT
  *     quantized: a driver-side lookup table lut[m][c] (numSub x K
  *     doubles, one broadcast column per query) turns the approximate
  *     distance into `numSub` array lookups + adds per row, whole-stage
  *     codegen, scanning ONLY the codes column; the top-`rescore`
  *     survivors are rescored exactly against float32, top-k — the
  *     compact leg of [[VectorSearch.nearest]], shared with
  *     `Quantization.search`.
  *
  * METRICS. Squared L2 decomposes over concatenated subvectors, so
  * euclidean ADC is the textbook LUT of per-subspace squared distances
  * (the approximate value omits the final sqrt — monotonic, so the
  * candidate ORDER is identical and the plan is cheaper). Dot product
  * decomposes EXACTLY as well — dot(q,v) = Σ_m dot(q_m, v_m) — so a LUT
  * of NEGATED per-subspace dots serves the engine's dot_product distance
  * (-dot) directly. Cosine does not decompose on its own (the row norm
  * couples the subspaces), but 1 - dot/(|v||q|) follows from the dot LUT
  * plus ONE stored per-row norm (`encode(withNorm = true)` writes it at
  * ingest, like the codes): approx = 1 + Σ_m lut/( |v| |q| ), +Inf on a
  * zero norm — the same zero-norm contract as cosine_distance itself.
  * All LUT arithmetic is double, accumulated ascending (i then m), so a
  * SQL oracle reproduces every approximate value bit-for-bit and the
  * candidate SET — not just the final distances — is gated.
  *
  * MODEL INVARIANT: every codebook in a [[Model]] is id-sorted with cids
  * exactly 0..K-1. Every construction site enforces it — `train` returns
  * index-ordered ids, the engine's setPqCodebooks validates + sorts, the
  * persisted-model load sorts by cid — so the per-row / per-query paths
  * below index codebooks positionally instead of re-sorting per call.
  */
object ProductQuantization {

  /** model(m) = subspace m's K centroids, ID-SORTED with cids 0..K-1
    * (see the Model invariant above). */
  type Model = Seq[Seq[Centroid]]

  /** Metrics ADC can serve (cosine additionally needs the stored norm). */
  val SupportedMetrics: Set[String] = Set("euclidean", "dot_product", "cosine")

  /** Per-subspace codebook training: seeded k-means++ with local Lloyd
    * refinement over ONE bounded weighted sample of the table — the
    * published PQ training recipe (FAISS trains on
    * ~`max_points_per_centroid` = 256 points per centroid, not the full
    * corpus: codebook quality saturates at a few hundred samples per
    * cell while full-corpus sweeps only add cost). The sample is the
    * min(n_distinct, k x 256) distinct vectors of smallest seeded
    * content hash, each weighted by its exact duplicate count
    * (deterministic under any partitioning; skew-proof — see
    * KMeans.sampleWeighted), so the collect is bounded at ANY table
    * size and the whole train is ONE Spark job instead of `iters`
    * full-table aggregation sweeps per subspace. The numSub independent
    * fits run concurrently on the driver (each a pure function of the
    * shared sample and its own seed + m, so identical subvector
    * distributions still draw different inits); `iters` bounds local
    * Lloyd passes, which early-exit on convergence. A subspace with
    * fewer than k distinct subvectors trains fewer centroids (k-means++
    * exhausts the positive-weight mass), mirroring the old behavior.
    *
    * A k whose 256-per-centroid budget exceeds the local sample cap
    * (k > 512 at the default) does NOT silently under-sample: it falls
    * back to the distributed per-subspace sweeps (`IvfIndex.train` on
    * each slice — the same budget rule picks its distributed branch). */
  def train(df: DataFrame, emb: Column, dim: Int, numSub: Int, k: Int,
            iters: Int = 25, seed: Long = 42L,
            samplePerCentroid: Int = 256): Model = {
    require(numSub > 0 && dim % numSub == 0,
      s"dim $dim must divide into numSub $numSub subspaces")
    require(k > 0 && iters >= 0 && samplePerCentroid > 0,
      "need k > 0, iters >= 0, samplePerCentroid > 0")
    val dsub = dim / numSub
    val budget = k.toLong * samplePerCentroid
    if (budget > KMeans.MaxLocalSample)
      return (0 until numSub).map { m =>
        IvfIndex.train(df, slice(emb, m * dsub + 1, dsub), c = k,
          iters = iters, seed = seed + m,
          samplePerCentroid = samplePerCentroid)
      }
    val (sample, weights) = KMeans.sampleWeighted(df, emb, budget.toInt, seed)
    require(sample.nonEmpty, "cannot train on an empty table")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fits = (0 until numSub).map { m =>
      Future {
        val pts = sample.map(v =>
          java.util.Arrays.copyOfRange(v, m * dsub, (m + 1) * dsub))
        KMeans.fitCentroids(pts, weights, k, iters, seed + m)
      }
    }
    fits.map(Await.result(_, Duration.Inf))
  }

  /** The codes expression: element m = nearest centroid id of subvector
    * m (array<bigint>, one fused argmin kernel per subspace). */
  def codesColumn(emb: Column, model: Model): Column = {
    val dsub = model.head.head.vec.length
    array(model.zipWithIndex.map { case (cb, m) =>
      VectorExpressions.nearestCell(slice(emb, m * dsub + 1, dsub),
        cb.map(_.id).toArray, cb.map(_.vec).toArray)
    }: _*)
  }

  /** The stored row norm a cosine ADC divides by: |v| in double, the same
    * left-to-right accumulation as `VectorFunctions.l2Norm` (and as the
    * explicit `sqrt(v[1]*v[1] + ... )` chain a SQL oracle replays). */
  def normColumn(emb: Column): Column = VectorFunctions.l2Norm(emb)

  /** Stored-codes column under the conventional `pq_codes` name;
    * `withNorm` additionally stores the row's L2 norm as `pq_norm` (the
    * cosine ADC denominator — written at ingest like the codes, so the
    * approximate phase still reads compact columns only). */
  def encode(df: DataFrame, emb: Column, model: Model,
             withNorm: Boolean = false): DataFrame = {
    val coded = df.withColumn("pq_codes", codesColumn(emb, model))
    if (withNorm) coded.withColumn("pq_norm", normColumn(emb)) else coded
  }

  /** Driver-side twin of [[codesColumn]] for single-row adds — the same
    * per-subspace sqrt'd-distance argmin with strict < (smallest cid wins
    * ties) as the NearestCellExpr kernel, so a chunk added singly and one
    * ingested in bulk carry identical codes. */
  def encodeLocal(model: Model, v: Seq[Float]): Seq[Int] = {
    val dsub = model.head.head.vec.length
    model.zipWithIndex.map { case (cb, m) =>
      var best = Double.PositiveInfinity
      var bestId = 0L
      cb.foreach { c =>
        var acc = 0.0d
        var i = 0
        while (i < dsub) {
          val d = v(m * dsub + i).toDouble - c.vec(i).toDouble
          acc += d * d
          i += 1
        }
        val dist = math.sqrt(acc)
        if (dist < best) { best = dist; bestId = c.id }
      }
      bestId.toInt
    }
  }

  /** Driver-side twin of [[normColumn]] (same left-to-right double
    * accumulation) for single-row adds. */
  def normLocal(v: Seq[Float]): Double = {
    var acc = 0.0d
    var i = 0
    while (i < v.length) {
      val d = v(i).toDouble
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  /** ADC lookup table. Euclidean: lut(m)(c) = squared L2 distance of
    * query subvector m to centroid c. Dot_product / cosine: lut(m)(c) =
    * NEGATED dot of query subvector m with centroid c (their sum over m
    * is -dot(q, reconstruction) — the engine's dot_product distance of
    * the reconstruction; cosine divides it by the norms downstream).
    * Double accumulation ascending i — the exact arithmetic any SQL
    * oracle replays. */
  def adcLut(model: Model, query: Array[Float],
             metric: String = "euclidean"): Array[Array[Double]] = {
    require(SupportedMetrics(metric), s"unsupported PQ metric: $metric")
    val dsub = model.head.head.vec.length
    require(query.length == dsub * model.length,
      s"query dimension ${query.length} != ${dsub * model.length}")
    val squared = metric == "euclidean"
    model.zipWithIndex.map { case (cb, m) =>
      cb.map { c =>
        var acc = 0.0d
        var i = 0
        while (i < dsub) {
          val q = query(m * dsub + i).toDouble
          val cv = c.vec(i).toDouble
          if (squared) { val d = q - cv; acc += d * d }
          else acc += q * cv
          i += 1
        }
        if (squared) acc else -acc
      }.toArray
    }.toArray
  }

  /** The approximate-distance column over stored codes given per-subspace
    * LUT columns summed ascending m — the ONE home of the cosine
    * zero-norm contract ([[VectorSearch.nearest]]'s compact leg passes
    * the per-query norm as a broadcast column). For cosine, `norm` is the
    * stored row norm column and `qnorm` the query's — zero norms rank
    * +Inf, like cosine_distance. */
  def approxColumn(sumLut: Column, metric: String,
                   norm: Option[Column], qnorm: Column): Column =
    metric match {
      case "cosine" =>
        val n = norm.getOrElse(throw new IllegalArgumentException(
          "cosine ADC needs the stored row-norm column (encode withNorm = true)"))
        when(n === lit(0.0d) || qnorm === lit(0.0d),
          lit(Double.PositiveInfinity))
          .otherwise(lit(1.0d) + sumLut / (n * qnorm))
      case _ => sumLut
    }

  // ------------------------------------------------------------------
  // IVFPQ residual encoding (classic IVFADC — Jégou et al. TPAMI 2011
  // §IV; FAISS IndexIVFPQ): codes quantize `v - centroid(cell)` instead
  // of `v`, so the codebooks span only cell-local variance — at
  // identical M/K that recovers substantially more recall than raw
  // encoding. The residual is float32 (double subtraction rounded back,
  // `((v[i]-cv[i])::FLOAT)` in SQL) so the stored-codes argmin is
  // replayable bit-for-bit; the query-side residual stays pure double
  // (driver arithmetic, never stored).
  // ------------------------------------------------------------------

  /** `float32(v - centroid(cell))` — the vector the codebooks quantize
    * under residual encoding (fused codegen kernel, centroid table rides
    * as one reference object). */
  def residualColumn(emb: Column, cell: Column,
                     centroids: Seq[Centroid]): Column =
    VectorExpressions.cellResidual(emb, cell,
      centroids.map(_.id).toArray, centroids.map(_.vec).toArray)

  /** Residual codes: the same per-subspace NearestCellExpr argmin as the
    * raw path, over the residual column. */
  def residualCodesColumn(emb: Column, cell: Column,
                          centroids: Seq[Centroid], model: Model): Column =
    codesColumn(residualColumn(emb, cell, centroids), model)

  /** Ingest-time stored columns for the IVFPQ shape: `pq_codes` encodes
    * the cell residual; `withNorm` stores the RAW vector's norm (the
    * cosine denominator is |v|, not |residual|). */
  def encodeResidual(df: DataFrame, emb: Column, cell: Column,
                     centroids: Seq[Centroid], model: Model,
                     withNorm: Boolean = false): DataFrame = {
    val coded = df.withColumn("pq_codes",
      residualCodesColumn(emb, cell, centroids, model))
    if (withNorm) coded.withColumn("pq_norm", normColumn(emb)) else coded
  }

  /** Driver-side twin of [[residualColumn]] (same double-subtract +
    * float32 round) for single-row adds. */
  def residualLocal(centroids: Seq[Centroid], cell: Long,
                    v: Seq[Float]): Seq[Float] = {
    val c = centroids.find(_.id == cell).getOrElse(
      throw new IllegalArgumentException(s"unknown cell id $cell")).vec
    require(v.length == c.length,
      s"dimension mismatch (${v.length} vs ${c.length})")
    v.indices.map(i => (v(i).toDouble - c(i).toDouble).toFloat)
  }

  /** The per-cell ADC ingredients of a residual search: for euclidean
    * the LUT is built on the query residual `q - centroid(cell)` (pure
    * double) with a zero constant; for dot_product/cosine the negated-dot
    * LUT is CELL-INDEPENDENT (dot decomposes against the residual
    * codebook with q itself) and the per-cell constant is
    * `-dot(q, centroid)` — so approx = const + Σ_m lut[m][code], and
    * cosine divides by the stored RAW norm downstream. Per query this is
    * O(nprobe · M · K) doubles for euclidean and O(M · K + nprobe) for
    * dot/cosine — broadcastable at any realistic nprobe. */
  def residualLutRows(model: Model, centroids: Seq[Centroid],
                      cells: Seq[Long], query: Array[Float],
                      metric: String): Seq[(Long, Double, Seq[Seq[Double]])] = {
    require(SupportedMetrics(metric), s"unsupported PQ metric: $metric")
    val byId = centroids.map(c => c.id -> c).toMap
    if (metric == "euclidean")
      cells.map { cell =>
        val cv = byId(cell).vec
        // the query residual stays PURE DOUBLE (q[i] - cv[i], never
        // rounded to float32 — only STORED residuals round): the SQL
        // oracle's (qv[i] - ccv[i]) - cb[i] chain replays this exactly
        val dsub = model.head.head.vec.length
        val luts = model.zipWithIndex.map { case (cb, m) =>
          cb.map { c =>
            var acc = 0.0d; var i = 0
            while (i < dsub) {
              val d = (query(m * dsub + i).toDouble - cv(m * dsub + i).toDouble) -
                c.vec(i).toDouble
              acc += d * d; i += 1
            }
            acc
          }
        }
        (cell, 0.0d, luts.map(_.toSeq))
      }
    else {
      val lut = adcLut(model, query, metric).map(_.toSeq).toSeq
      cells.map { cell =>
        val cv = byId(cell).vec
        var acc = 0.0d; var i = 0
        while (i < cv.length) {
          acc += query(i).toDouble * cv(i).toDouble; i += 1
        }
        (cell, -acc, lut)
      }
    }
  }

  /** The contract columns of [[VectorSearch.nearest]]: id, embedding,
    * the stored codes, `extra`, and — cosine only — the stored row norm
    * as `qmin`. */
  private def pqRows(encoded: DataFrame, embCol: String, idCol: String,
                     codesCol: String, extra: Seq[Column], metric: String,
                     normCol: Option[String]): DataFrame =
    encoded.select(Seq(col(idCol).as("id"), col(embCol).as("embedding"),
        col(codesCol).as("codes")) ++ extra ++
      (if (metric == "cosine") Seq(col(normCol.getOrElse("pq_norm")).as("qmin")) else Nil): _*)

  /** Two-phase residual ADC search ([[VectorSearch.ResidualPq]]) over a
    * table with STORED residual `pq_codes` and a cell column: the per-cell
    * LUT frame joins the probed `cells` (which also prunes the scan),
    * approx = const + Σ_m lut[m][code] summed ascending m (left-
    * associated from the constant — the order a SQL oracle's
    * `c + ts[1] + ... + ts[M]` chain replays), exact rescore under
    * `metric`. Callers pass the PROBED cells (or every cell for an
    * exhaustive search); none falls back. Output: (idCol, distance) in
    * (distance, id) order. */
  def searchResidual(encoded: DataFrame, embCol: String, idCol: String,
                     model: Model, centroids: Seq[Centroid],
                     cells: Seq[Long], query: Array[Float], k: Int,
                     rescore: Int, metric: String = "euclidean",
                     codesCol: String = "pq_codes",
                     cellCol: String = "cell",
                     normCol: Option[String] = None): DataFrame = {
    require(k > 0 && rescore >= k, "need k > 0 and rescore >= k")
    require(cells.nonEmpty, "need at least one cell to probe")
    VectorSearch.single(
      pqRows(encoded, embCol, idCol, codesCol, Seq(col(cellCol).as("bucket")), metric, normCol),
      idCol, query, Some(cells), metric, k, VectorSearch.ResidualPq(model, centroids, rescore))
  }

  /** Two-phase ADC search ([[VectorSearch.Pq]]) over a table with STORED
    * `pq_codes`: phase 1 scans ONLY the compact columns (numSub lookups +
    * adds per row, codegen'd; at scale that is numSub bytes-ish per row
    * instead of dim x 4 — plus one stored double for cosine), phase 2
    * rescores the `rescore` survivors exactly under `metric` (rounded
    * like every other search path). Output: (idCol, distance) in
    * (distance, id) order. */
  def search(encoded: DataFrame, embCol: String, idCol: String,
             model: Model, query: Array[Float], k: Int,
             rescore: Int, metric: String = "euclidean",
             codesCol: String = "pq_codes",
             normCol: Option[String] = None): DataFrame = {
    require(k > 0 && rescore >= k, "need k > 0 and rescore >= k")
    require(SupportedMetrics(metric), s"unsupported PQ metric: $metric")
    VectorSearch.single(pqRows(encoded, embCol, idCol, codesCol, Nil, metric, normCol),
      idCol, query, None, metric, k, VectorSearch.Pq(model, rescore))
  }
}
