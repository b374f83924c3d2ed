package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** The reference's core query surface — k-NN over an embedding column —
  * expressed as declarative DataFrame plans (SURVEY.md §2.2/§2.3/§2.4/§2.6).
  *
  * Test mapping onto the driver tables: `embeddings(vec_id, embedding, label)`
  * is the chunks-with-vectors fact table; `label` plays the metadata map
  * (typed equality pre-filter, reference vector_db/vector_store.py:250-265);
  * the query vector is itself a row of the table (vec_id = 0), so both the
  * Spark plan and the DuckDB oracle derive it declaratively — no driver-side
  * collect.
  *
  * Physical shape at scale: the one-row query side is broadcast, the fact
  * scan prunes to (vec_id, embedding[, label]), distance is a codegen'd
  * Column composition, and orderBy+limit plans TakeOrderedAndProject —
  * per-partition top-k then a k-row merge on the driver, no full shuffle.
  */
object VectorSearchQueries {

  /** Round to 6 places, then normalize IEEE signed zero: the self-match row
    * computes 1 - dot/(n*n) as a tiny negative double, and round() keeps the
    * sign bit (-0.0) — Spark and DuckDB disagree on it, and the driver's
    * oracle hashes the byte representation. -0.0 + 0.0 = +0.0 on both sides. */
  private[queries] def roundDist(d: org.apache.spark.sql.Column) =
    round(d, 6) + lit(0.0d)

  /** Deterministic total order: (rounded distance, id) — SURVEY.md §7.4(2). */
  private def knn(metric: String, k: Int, labelFilter: Option[Int]): QueryFn =
    (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      val base = labelFilter.fold(emb)(l => emb.where(col("label") === l))
      base.crossJoin(broadcast(q))
        .withColumn("distance",
          roundDist(distance(metric)(col("embedding"), col("qvec"))))
        .select(col("vec_id"), col("distance"))
        .orderBy(col("distance"), col("vec_id"))
        .limit(k)
    }

  private[queries] def dotSql(a: String, b: String) = s"list_dot_product($a, $b)"

  private[queries] def distSql(metric: String, v: String, q: String): String =
    metric match {
      case "cosine" =>
        s"case when sqrt(${dotSql(v, v)}) = 0 or sqrt(${dotSql(q, q)}) = 0 then 'infinity'::DOUBLE " +
          s"else 1 - ${dotSql(v, q)} / (sqrt(${dotSql(v, v)}) * sqrt(${dotSql(q, q)})) end"
      case "euclidean"   => s"list_distance($v, $q)"
      case "dot_product" => s"-${dotSql(v, q)}"
    }

  private def knnSql(metric: String, k: Int, where: String = ""): String =
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, round(${distSql(metric, "embedding::DOUBLE[]", "qv")}, 6) + 0 AS distance
       |FROM embeddings, q $where
       |ORDER BY distance, vec_id LIMIT $k""".stripMargin

  /** P2/J2: restrict search to an allow-set via LEFT SEMI JOIN
    * (reference: vector_db/indexes.py:73-80 allowed_ids). */
  private val knnAllowed: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val allowed = emb.where(col("vec_id") % 7 === 0).select("vec_id")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    emb.join(allowed, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .withColumn("distance",
        roundDist(cosineDistance(col("embedding"), col("qvec"))))
      .select(col("vec_id"), col("distance"))
      .orderBy(col("distance"), col("vec_id"))
      .limit(10)
  }

  /** J3 batch variant: many queries x all vectors, top-k per query
    * (reference has only 1-query search; this is the shape that scales —
    * BroadcastNestedLoopJoin with the small query side broadcast).
    *
    * Per-partition top-k: a single window over query_id would shuffle
    * all NxQ rows into only Q partitions — a skew killer when Q is small.
    * Each task keeps its own top-k per query_id (one bounded heap per
    * query, no sort), so the per-query merge after the query_id exchange
    * sees only tasks*k rows per query. Identical results: the true
    * per-query top-k is a subset of the union of per-task top-k. */
  private val knnBatch: QueryFn = (s, dir) => {
    val k = 5
    val emb = table(s, dir, "embeddings")
    val qs = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val scored = emb.crossJoin(broadcast(qs))
      .withColumn("distance",
        roundDist(cosineDistance(col("embedding"), col("qvec"))))
      .select(col("query_id"), col("vec_id"), col("distance"))
    graft.operators.TopK.perGroup(scored, "query_id", "distance", "vec_id", k)
      .orderBy(col("query_id"), col("distance"), col("vec_id"))
  }

  private val knnBatchSql: String =
    s"""WITH qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 4),
       |d AS (SELECT query_id, vec_id,
       |        round(${distSql("cosine", "embedding::DOUBLE[]", "qv")}, 6) + 0 AS distance
       |      FROM embeddings, qs),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rn FROM d)
       |SELECT query_id, vec_id, distance FROM r WHERE rn <= 5
       |ORDER BY query_id, distance, vec_id""".stripMargin

  /** MMR diversity re-ranking (operators/MmrRerank.scala): top-30 cosine
    * pool, greedy lambda=0.7 selection of 8. The oracle replays the whole
    * method — pool cut, rounded pair similarities, the sequential argmax
    * (a recursive CTE accumulating the selected list), tie-breaks, and
    * the final scores. mu is printed from the SAME IEEE subtraction the
    * operator computes (1 - 0.7 != 0.3 in binary). */
  private val MmrK = 8
  private val MmrPool = 30
  private val MmrLambda = 0.7

  private val mmrRerank: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    graft.operators.MmrRerank.rerank(emb, col("vec_id"), col("embedding"),
        query, k = MmrK, poolSize = MmrPool, lambda = MmrLambda)
      .select(col("rank"), col("id").as("vec_id"), col("relevance"), col("mmr"))
      .orderBy(col("rank"))
  }

  private val mmrRerankSql: String = {
    val lam = MmrLambda.toString
    val mu = graft.operators.MmrRerank.muSql(MmrLambda)
    val relDist = distSql("cosine", "embedding::DOUBLE[]", "qv")
    val pairDist = distSql("cosine", "a.v", "b.v")
    s"""WITH RECURSIVE q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       |pool AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |           CASE WHEN isinf(round($relDist, 6) + 0) THEN 0.0
       |                ELSE 1 - (round($relDist, 6) + 0) END AS rel
       |         FROM embeddings, q
       |         ORDER BY round($relDist, 6) + 0, vec_id LIMIT $MmrPool),
       |sims AS (SELECT a.vec_id AS a, b.vec_id AS b,
       |           CASE WHEN isinf(round($pairDist, 6) + 0) THEN 0.0
       |                ELSE 1 - (round($pairDist, 6) + 0) END AS sim
       |         FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
       |sel(rank, sel) AS (
       |  SELECT 1, [(SELECT vec_id FROM pool ORDER BY rel DESC, vec_id LIMIT 1)]
       |  UNION ALL
       |  SELECT rank + 1, list_append(sel, (
       |    SELECT p.vec_id FROM pool p WHERE NOT list_contains(sel, p.vec_id)
       |    ORDER BY $lam * p.rel - $mu * (SELECT max(s.sim) FROM sims s
       |               WHERE s.a = p.vec_id AND list_contains(sel, s.b)) DESC,
       |             p.vec_id
       |    LIMIT 1))
       |  FROM sel WHERE rank < $MmrK),
       |picks AS (SELECT unnest(sel) AS vec_id, generate_subscripts(sel, 1) AS rank
       |          FROM (SELECT sel FROM sel WHERE rank = $MmrK))
       |SELECT pk.rank::INT AS rank, pk.vec_id, round(p.rel, 6) + 0 AS relevance,
       |  round($lam * p.rel - $mu * coalesce((SELECT max(s.sim) FROM sims s
       |     WHERE s.a = pk.vec_id
       |       AND s.b IN (SELECT vec_id FROM picks p2 WHERE p2.rank < pk.rank)),
       |     0.0), 6) + 0 AS mmr
       |FROM picks pk JOIN pool p USING (vec_id)
       |ORDER BY rank""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("knn_mmr_rerank", mmrRerank, Some(mmrRerankSql)),
    Q("knn_flat_cosine", knn("cosine", 10, None),
      Some(knnSql("cosine", 10))),
    Q("knn_flat_euclidean", knn("euclidean", 10, None),
      Some(knnSql("euclidean", 10))),
    Q("knn_flat_dot", knn("dot_product", 10, None),
      Some(knnSql("dot_product", 10))),
    Q("knn_meta_filter", knn("cosine", 10, Some(3)),
      Some(knnSql("cosine", 10, "WHERE label = 3"))),
    Q("knn_allowed_ids", knnAllowed,
      Some(knnSql("cosine", 10, "WHERE vec_id % 7 = 0"))),
    Q("knn_batch_topk", knnBatch, Some(knnBatchSql)),
  )
}
