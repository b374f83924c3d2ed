package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

/** IVF-style approximate nearest-neighbor search: vectors are assigned to
  * the cell of their nearest centroid; a query probes only the `nprobe`
  * nearest cells. The scale path beyond LSH for embedding search.
  *
  * 100 TB design (the round-2 inline-literal version is gone):
  *   - The `cell` column is computed ONCE at ingest (`withCell`) and
  *     STORED, exactly like the LSH `bucket` column — at scale the table
  *     is partitioned/bucketed by it, so a probe is a partition-pruned
  *     scan of ~nprobe/C of the data. Search never recomputes cells.
  *   - Cell assignment is ONE expression node (NearestCellExpr) carrying
  *     the centroid table as a reference object — O(1) plan size at any C,
  *     fused codegen loop; `least()` over C struct literals (O(C*dim)
  *     expression nodes) broke codegen past a few hundred centroids.
  *   - Centroids come from a k-means pass over the data (`train`):
  *     DataFrame iterations — assign cells (projection), per-cell
  *     element-wise means (ONE partial-agg'd groupBy of C groups) — with a
  *     deterministic seeded init. The collected model is index metadata
  *     (C x dim floats), same role as the LSH projection matrix.
  *
  * Search correctness never depends on centroid quality — the stored cell
  * is the ground truth of what each probe scans (and any SQL oracle can
  * replay assignment given the centroid table); centroid quality only
  * moves RECALL, which IvfSpec measures against flat search.
  */
object IvfIndex {

  final case class Centroid(id: Long, vec: Array[Float])

  /** Cell id = argmin over centroids of euclidean distance, ties broken by
    * centroid id — one codegen'd expression node regardless of C. */
  def cellColumn(v: Column, centroids: Seq[Centroid]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    val sorted = centroids.sortBy(_.id)
    VectorExpressions.nearestCell(v, sorted.map(_.id).toArray,
      sorted.map(_.vec).toArray)
  }

  /** Ingest-time stored cell column (mirror of LshIndex.withBucket). */
  def withCell(df: DataFrame, emb: Column, centroids: Seq[Centroid]): DataFrame =
    df.withColumn("cell", cellColumn(emb, centroids))

  /** Seeded k-means over an embedding column, in the regime the training
    * budget `c * samplePerCentroid` picks:
    *
    * SMALL C (budget within KMeans.MaxLocalSample — every coarse
    * quantizer in this repo): k-means++ + local Lloyd over ONE bounded
    * weighted sample of DISTINCT vectors in content-hash order (the
    * published FAISS `max_points_per_centroid` ~ 256 practice; centroid
    * quality saturates at a few hundred points per cell). One Spark job,
    * bounded driver data, fully deterministic under any partitioning,
    * skew-proof (duplicates weight the objective, never crowd out
    * distinct values).
    *
    * HUGE C (tens of thousands of cells, where a meaningful sample
    * exceeds the local budget): distributed Lloyd sweeps — per sweep ONE
    * scan (assignment is a projection; the update a groupBy(cell) of
    * `dim` partial-agg'd AVGs, C groups so the shuffle is C rows) then a
    * C x dim driver collect. Init is a hash-order sample of distinct
    * vectors; empty cells keep their previous centroid. Those means are
    * float64 partial aggregates whose low bits depend on reduction
    * order — fine for an INDEX: the stored cell column, not the
    * centroids, defines what a probe scans.
    *
    * `restarts` (best-of-N seeding) applies to the BOUNDED-SAMPLE branch
    * only — the distributed huge-C path runs one fit (N full-table Lloyd
    * sweeps would be N x the cluster cost for a seed question the
    * sample path answers for free) and WARNS if more were requested, so
    * the caller is never silently under-seeded. */
  def train(df: DataFrame, emb: Column, c: Int, iters: Int = 25,
            seed: Long = 42L, samplePerCentroid: Int = 256,
            restarts: Int = KMeans.DefaultRestarts): Seq[Centroid] = {
    require(c > 0 && iters >= 0 && samplePerCentroid > 0,
      "need c > 0, iters >= 0, samplePerCentroid > 0")
    require(restarts >= 1, "need restarts >= 1")
    // SMALL C (every coarse quantizer in this repo): k-means++ + local
    // Lloyd over ONE bounded weighted sample of DISTINCT vectors (see
    // KMeans.sampleWeighted — skew-proof, deterministic under any
    // partitioning; local passes early-exit on convergence, so the
    // generous default iters costs only what convergence needs). HUGE C
    // (budget past the local cap) falls through to the distributed
    // Lloyd sweeps below — there each pass is a full-table job, so
    // callers choose iters consciously.
    val budget = c.toLong * samplePerCentroid
    if (budget <= KMeans.MaxLocalSample) {
      val (sample, weights) = KMeans.sampleWeighted(df, emb, budget.toInt, seed)
      require(sample.nonEmpty, "cannot train on an empty table")
      // best-of-N seeding (KMeans.DefaultRestarts scaladoc): coarse
      // centroids are the one fit whose seed placement moves recall
      return KMeans.fitCentroids(sample, weights, c, iters, seed, restarts)
    }
    if (restarts > 1)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"IvfIndex.train: restarts=$restarts requested but c=$c exceeds the " +
          "bounded-sample budget — the distributed Lloyd path runs ONE fit " +
          "(best-of-N seeding applies to the local branch only)")
    val vecs = df.select(emb.cast("array<float>").as("emb"))
    val init = vecs.dropDuplicates("emb")
      .withColumn("h", xxhash64(lit(seed), col("emb")))
      .orderBy(col("h"))
      .limit(c)
      .select("emb").collect().map(_.getSeq[Float](0).toArray)
    require(init.nonEmpty, "cannot train on an empty table")
    val ids = init.indices.map(_.toLong).toArray
    val dim = init(0).length
    val cents = init.clone()
    for (_ <- 0 until iters) {
      val assigned = vecs.withColumn("cell",
        VectorExpressions.nearestCell(col("emb"), ids, cents))
      val aggs = (0 until dim).map(j => avg(col("emb").getItem(j)).as(s"m$j"))
      assigned.groupBy("cell").agg(aggs.head, aggs.tail: _*).collect()
        .foreach { r =>
          val cell = r.getLong(0).toInt
          cents(cell) = Array.tabulate(dim)(j => r.getDouble(j + 1).toFloat)
        }
    }
    ids.zip(cents).map { case (id, v) => Centroid(id, v) }.toSeq
  }

  /** Driver-side twin of the cell assignment for the query vector: the
    * same left-to-right double accumulation as the Column kernel. */
  def nearestCentroids(q: Array[Float], centroids: Seq[Centroid],
                       nprobe: Int): Seq[Long] = {
    def dist(c: Array[Float]): Double = {
      var acc = 0.0d; var i = 0
      while (i < c.length) {
        val d = q(i).toDouble - c(i).toDouble; acc += d * d; i += 1
      }
      math.sqrt(acc)
    }
    centroids.map(c => (dist(c.vec), c.id)).sorted.take(nprobe).map(_._2)
  }

  /** Probe-limited top-k over a table with a STORED `cell` column (from
    * `withCell` at ingest): the `nprobe` nearest cells — a bucket filter,
    * partition-prunable at scale — scored exactly by
    * [[VectorSearch.nearest]]; no `< k` fallback.
    * Output: (idCol, distance) in (distance, id) order. */
  def search(indexed: DataFrame, embCol: String, idCol: String,
             centroids: Seq[Centroid], query: Array[Float],
             nprobe: Int, metric: String, k: Int): DataFrame =
    VectorSearch.single(
      indexed.select(col(idCol).as("id"), col(embCol).as("embedding"), col("cell").as("bucket")),
      idCol, query, Some(nearestCentroids(query, centroids, nprobe)), metric, k,
      VectorSearch.Exact)
}
