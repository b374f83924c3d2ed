package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Random-projection (LSH) index as DataFrame operations
  * (reference: vector_db/indexes.py:165-242 — RandomProjectionIndex).
  *
  * The "index" is not a separate structure: it is a derived `bucket` column
  * on the vector table, computed from a small seeded Gaussian projection
  * matrix that is broadcast as plan literals. At scale the table is
  * `repartition($"bucket")`-ed (or bucketed parquet) so a bucket probe is a
  * partition-pruned scan; here the probe is a bucket filter pushed to the
  * scan.
  *
  * [[probes]] is the one LSH probe planner; the searches below run its
  * plan through [[VectorSearch.nearest]] under the reference's two-phase
  * semantics (vector_db/indexes.py:206-234): scan only the probed
  * buckets; if they hold fewer than k rows, fall back to scanning the
  * full (allow-)set — never fewer results than flat search would give,
  * and exactly equal when the fallback triggers.
  */
object LshIndex {

  /** Hard ceiling on sign-bit projections: buckets pack into one LONG
    * (62 keeps every value non-negative under the portable `acc*2+bit`
    * fold — the same cap the simhash word packing uses). */
  val MaxProjections = 62

  /** The projection count that bounds EXPECTED bucket occupancy at
    * `targetOccupancy` rows for an `n`-row corpus under a near-uniform
    * sign-bit hash: the smallest P with n / 2^P <= target, clamped to
    * [minP, MaxProjections]. This is the sizing rule the maintenance
    * loop applies as the corpus grows (occupancy is what degrades a
    * fixed-matrix index: the adaptive probe's candidate target is O(k),
    * but its FIRST probed bucket alone already holds n / 2^P rows —
    * linear in n unless P grows with it). Pure driver math, shared by
    * the engine's reprojection policy and the bench's stress harness
    * so the two cannot diverge. */
  def projectionsFor(n: Long, targetOccupancy: Long, minP: Int = 1,
                     maxP: Int = MaxProjections): Int = {
    require(targetOccupancy >= 1, s"targetOccupancy must be >= 1")
    require(minP >= 1 && minP <= maxP, s"need 1 <= minP <= maxP")
    if (n <= 0) return minP
    var p = minP
    // smallest p with ceil(n / 2^p) <= target (integer-exact, no fp log2)
    while (p < maxP && ((n - 1) >> p) + 1 > targetOccupancy) p += 1
    p
  }

  /** Index configuration; `seed` makes the projection matrix deterministic
    * (reference: vector_db/indexes.py:172-187 — seeded RNG; bit-compat with
    * NumPy is NOT required, only determinism given the stored seed). */
  final case class Config(numProjections: Int, dim: Int, seed: Long) {
    val matrix: Array[Array[Double]] = projectionMatrix(numProjections, dim, seed)
  }

  /** Derive the bucket column (index build = one narrow projection, no
    * shuffle; reference: vector_db/indexes.py:189-204 maintains a dict). */
  def withBucket(df: DataFrame, emb: Column, cfg: Config): DataFrame =
    df.withColumn("bucket", lshBucket(emb, cfg.matrix))

  /** Probe modes of [[probes]]. */
  val ProbeSingle = "single"
  val ProbeMulti = "multiprobe"
  val ProbeAdaptive = "adaptive"

  /** THE LSH probe planner: one query's probe buckets under `mode`.
    *   - ProbeSingle: the query's own `bucket` (the reference's strict
    *     two-phase semantics, indexes.py:206-234);
    *   - ProbeMulti: that bucket and every Hamming-1 neighbor (P+1
    *     distinct values — a row matches at most one probe, so no
    *     candidate duplicates);
    *   - ProbeAdaptive: with the (bucket -> rows) histogram `hist`, the
    *     [[probePrefix]] of the query's `margins` holding >= `target`
    *     rows; with no histogram, Hamming-1. */
  def probes(mode: String, bucket: Long, numProjections: Int,
             hist: Option[Iterable[(Long, Long)]] = None,
             margins: Array[Double] = Array.emptyDoubleArray,
             target: Long = 0L): Seq[Long] = (mode, hist) match {
    case (ProbeAdaptive, Some(h)) => probePrefix(h.toSeq, bucket, margins, target)
    case (ProbeAdaptive | ProbeMulti, _) =>
      bucket +: (0 until numProjections).map(i => bucket ^ (1L << i))
    case _ => Seq(bucket)
  }

  /** One query's exact top-k over the `buckets` of `indexed` under the
    * `< k` rule ([[VectorSearch.probedWithK]], from `hist` when known).
    * Output: (idCol, distance) in (distance, id) order. */
  private def searchBuckets(indexed: DataFrame, embCol: String, idCol: String,
                            q: Array[Float], buckets: Seq[Long], metric: String,
                            k: Int, hist: Option[Map[Long, Long]]): DataFrame = {
    val rows = indexed.select(col(idCol).as("id"), col(embCol).as("embedding"), col("bucket"))
    VectorSearch.single(rows, idCol, q,
      VectorSearch.probedWithK(rows, Seq(0L -> buckets), k, hist).headOption.map(_._2),
      metric, k, VectorSearch.Exact)
  }

  /** The (qvec, qbucket) of a one-row query frame — a bounded collect
    * that fails unless the frame holds exactly one row. */
  private def queryRow(query: DataFrame): (Array[Float], Long) = {
    val rows = query.select(col("qvec"), col("qbucket")).limit(2).collect()
    require(rows.length == 1,
      s"the query frame must hold exactly one row, got ${if (rows.length > 1) "more" else "none"}")
    (rows(0).getSeq[Float](0).toArray, rows(0).getLong(1))
  }

  /** Two-phase bucketed k-NN (reference: vector_db/indexes.py:206-234).
    *
    * @param indexed vector table with a `bucket` column (any pre-filters —
    *                metadata/allow-set — already applied, so the fallback
    *                scans the allow-set, not all vectors, exactly as
    *                indexes.py:223-224 does)
    * @param query   one-row DataFrame with `qvec` and `qbucket`
    * @param embCol  name of the embedding column in `indexed`
    *
    * One aggregate counts the query's bucket, and the `< k` rule picks
    * the plan: the bucket probe or the full scan of the allow-set.
    * Driver-side two-phase is deliberate: a Catalyst rule cannot see row
    * counts (SURVEY.md §7.6).
    */
  def searchTwoPhase(indexed: DataFrame, query: DataFrame, embCol: String,
                     metric: String, k: Int, idCol: String = "vec_id"): DataFrame = {
    val (q, b) = queryRow(query)
    searchBuckets(indexed, embCol, idCol, q, probes(ProbeSingle, b, 0), metric, k, None)
  }

  /** MULTI-PROBE two-phase k-NN: candidates come from the query's bucket
    * AND every bucket at Hamming distance 1 (one flipped projection bit)
    * — the standard recall remedy for sign-bit LSH, at (P+1)x the probed
    * fraction. The probe set is P+1 CONCRETE bucket values (qbucket XOR
    * one-bit masks), so the scan stays partition-prunable exactly like
    * the single-bucket probe; each vector matches at most one probe (its
    * own bucket), so no candidate duplicates. Same `< k` full-scan
    * fallback. Measured at sf0.01: recall@10 0.19 (single) -> 0.50
    * (multi) at P=4 (LshSpec). */
  def searchMultiProbe(indexed: DataFrame, query: DataFrame, embCol: String,
                       metric: String, k: Int, numProjections: Int,
                       idCol: String = "vec_id"): DataFrame = {
    val (q, b) = queryRow(query)
    searchBuckets(indexed, embCol, idCol, q, probes(ProbeMulti, b, numProjections),
      metric, k, None)
  }

  /** Default adaptive candidate target, as a multiple of k: probing stops
    * once the probed buckets hold >= k * AdaptiveMultiplier candidates.
    * The target is O(k * multiplier) — INDEPENDENT of table size — so at
    * scale the probe reads a fixed ~1500-candidate slice however large the
    * table is; 150 is tuned on the driver's sf0.1 embeddings (near-random
    * synthetic vectors, the hardest case for sign-bit LSH) where it
    * measures recall@10 = 0.90 vs exact flat search (bench recall map;
    * multiplier sweep: 50 -> 0.57, 80 -> 0.71, 110 -> 0.81, 150 -> 0.90).
    * On a small table the selection simply degenerates to every bucket =
    * exact search. */
  val AdaptiveMultiplier = 150

  /** Ceiling on how many (bucket, count) rows an adaptive probe may pull
    * to the driver when it has NO maintained histogram (the filtered-
    * search path aggregates the allow-set's histogram — a scan the filter
    * evaluation pays anyway, but the COLLECT must stay bounded: lshBucket
    * permits up to 62 projections, and a broad filter on a high-P library
    * would otherwise ship O(occupied buckets) rows to the driver). Past
    * the cap the search falls back to fixed Hamming-1 multi-probe with
    * the `< k` exhaustive fallback — still correct, just not
    * query-directed. 4096 = every histogram at the default P=8 (<= 256
    * buckets) and up to P=12 collects in full; beyond that the driver
    * cost would start to matter. */
  val MaxAdaptiveHistBuckets = 4096

  /** The (bucket -> count) histogram of `indexed`, collected only if it
    * has at most `cap` distinct buckets; None past the cap (the collect
    * itself never ships more than cap + 1 rows). The saturating +1 keeps
    * cap = Int.MaxValue (valid per settings validation: any positive int)
    * from overflowing into a negative — hence rejected — limit. */
  def boundedHistogram(indexed: DataFrame, cap: Int): Option[Seq[(Long, Long)]] = {
    val lim = if (cap == Int.MaxValue) Int.MaxValue else cap + 1
    val rows = indexed.groupBy("bucket").count().limit(lim).collect()
    if (rows.length > cap) None
    else Some(rows.map(r => r.getLong(0) -> r.getLong(1)).toSeq)
  }

  /** The Hamming-<=1 probe set of a bucket expression: the bucket itself
    * plus every value at one flipped projection bit — THE multi-probe
    * contract of the paths that block on sign-bit buckets (batch and
    * incremental embedding near-dup); [[probes]] is its driver-side twin
    * for search, in the same order. */
  def hamming1Probes(bucket: Column, numProjections: Int): Column =
    array((lit(0L) +: (0 until numProjections).map(i => lit(1L << i)))
      .map(m => bucket.bitwiseXOR(m)): _*)

  /** Per-projection signed margins of a query vector: margin_i = P_i . q,
    * accumulated double left-to-right — the same fold the bucket kernel
    * uses, so `bucketOf(margins)` reproduces the stored bucket bit-for-bit
    * (and a SQL oracle reproduces the costs below bit-for-bit via
    * list_dot_product). */
  def margins(matrix: Array[Array[Double]], q: Seq[Float]): Array[Double] =
    matrix.map { row =>
      var acc = 0.0d; var j = 0
      while (j < row.length) { acc += row(j) * q(j).toDouble; j += 1 }
      acc
    }

  /** Sign-bit bucket from precomputed margins (bit i set iff margin_i >= 0). */
  def bucketOf(ms: Array[Double]): Long =
    ms.zipWithIndex.foldLeft(0L) { case (b, (m, i)) =>
      if (m >= 0.0d) b | (1L << i) else b
    }

  /** QUERY-DIRECTED adaptive probe selection (the multi-probe LSH idea of
    * Lv et al., VLDB'07, on sign-bit hashes): every bucket present in the
    * data is costed by the margin mass its flipped bits carry —
    * cost(b) = sum over i in bits(b XOR qbucket) of |margin_i| — and
    * buckets are probed in (cost, bucket) order until the ones taken so
    * far hold >= `target` candidates. A near-zero margin means the
    * query sits on that hyperplane, so flipping that bit is cheap and
    * its bucket is probed early. When the whole table holds < target
    * rows the selection degenerates to every bucket — the exhaustive
    * fallback of searchTwoPhase, subsumed.
    *
    * Takes the (bucket -> count) histogram, NOT the data: the histogram
    * is one tiny aggregate (<= 2^P rows) the caller collects — at scale
    * it is index metadata kept beside the projection matrix. */
  def probePrefix(hist: Seq[(Long, Long)], qbucket: Long,
                  ms: Array[Double], target: Long): Seq[Long] = {
    val costed = hist.map { case (b, n) =>
      val diff = b ^ qbucket
      var cost = 0.0d; var i = 0
      while (i < ms.length) {
        if ((diff & (1L << i)) != 0L) cost += math.abs(ms(i))
        i += 1
      }
      (cost, b, n)
    }.sortBy(t => (t._1, t._2))
    var cum = 0L
    val sel = Seq.newBuilder[Long]
    costed.foreach { case (_, b, n) =>
      if (cum < target) { sel += b; cum += n }
    }
    sel.result()
  }

  /** Adaptive multi-probe k-NN: probe the `probePrefix` buckets (a
    * bucket filter — partition-prunable at scale, like every other probe
    * here), exact distances, top-k. The query vector arrives driver-side
    * (the facade's search signature), so margins and the probe set are
    * driver math.
    *
    * @param hist the (bucket -> count) histogram of `indexed`, when the
    *             caller maintains it as index metadata (the engine does —
    *             VectorEngine.bucketHistogram); None recomputes it with a
    *             column-pruned aggregate whose driver collect is BOUNDED
    *             by `maxHistBuckets` — past the bound the search falls
    *             back to fixed Hamming-1 multi-probe (searchMultiProbe,
    *             with its `< k` exhaustive fallback) instead of shipping
    *             an unbounded histogram to the driver. With a maintained
    *             histogram this method runs ZERO Spark actions and the
    *             returned plan reads only the probed buckets. */
  def searchAdaptive(indexed: DataFrame, q: Seq[Float],
                     matrix: Array[Array[Double]], metric: String, k: Int,
                     multiplier: Int = AdaptiveMultiplier,
                     idCol: String = "vec_id",
                     embCol: String = "embedding",
                     hist: Option[Seq[(Long, Long)]] = None,
                     maxHistBuckets: Int = MaxAdaptiveHistBuckets): DataFrame = {
    val ms = margins(matrix, q)
    val h = hist.orElse(boundedHistogram(indexed, maxHistBuckets))
    searchBuckets(indexed, embCol, idCol, q.toArray,
      probes(ProbeAdaptive, bucketOf(ms), matrix.length, h, ms,
        math.max(k.toLong, k.toLong * multiplier)),
      metric, k, h.map(_.toMap))
  }
}
