package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis.tokens

/** Parameterized lexical retrieval: BM25 scoring and reciprocal-rank
  * fusion, the lexical half of a hybrid-search stack. Promoted from the
  * bench-query shapes so a caller can score ANY (id, text) frame with
  * their own query terms — the gate queries (`text_bm25_topk`,
  * `search_hybrid_rrf`) are now thin wrappers over these.
  *
  * Scale shapes (unchanged from the gated originals):
  *   - bm25: explode -> filter(query terms) -> ONE (doc, term) groupBy —
  *     term-frequency rows exist only for query terms, so the shuffle is
  *     O(matches), never O(corpus vocabulary); document-frequency is a
  *     |terms|-row driver collect.
  *   - hybridRrf: each ranker contributes only its top-`candidates` via
  *     TakeOrderedAndProject (no global window over the corpus); ranks are
  *     assigned within those tiny sets and fusion is a candidates^2-bounded
  *     full-outer join.
  *
  * Cross-engine float determinism (the oracle hashes bytes): the only
  * transcendental (ln in idf) is rounded to 6dp driver-side; per-term
  * scores pivot to FIXED columns summed in term order, so float addition
  * order is deterministic; RRF is integer-rank arithmetic plus one rounded
  * division sum in fixed order.
  */
object Lexical {

  val DefaultK1 = 1.2
  val DefaultB = 0.75
  val DefaultRrfK = 60
  val DefaultCandidates = 50

  /** BM25 (Robertson/Spärck Jones, Lucene-style +1-inside-the-log idf)
    * score of every row of `df` against `terms`.
    *
    * @param df      corpus frame holding `idCol` and `textCol`
    * @param terms   query terms (matched against whitespace-split
    *                lowercased tokens — TextAnalysis.tokens)
    * @return (idCol, score) for EVERY document (docs matching no term
    *         score 0.0) — callers rank/limit on top
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           rawTerms: Seq[String],
           k1: Double = DefaultK1, b: Double = DefaultB): DataFrame = {
    // query terms pass through the SAME pinned case/NFC contract the
    // corpus was tokenized under (TextHash.canonLower): a caller's
    // "İstanbul" must match the indexed token "istanbul" — without this
    // the query side would silently use a different Unicode mapping
    // than the corpus side
    val terms = rawTerms.map(graft.functions.TextHash.canonLower)
    require(terms.nonEmpty, "need at least one BM25 query term")
    require(terms.distinct.size == terms.size,
      "duplicate BM25 query terms (after canonicalization)")
    val spark = df.sparkSession
    // lens is O(corpus) wide-as-two-columns and consumed twice (the stats
    // aggregate + the final join): RECOMPUTED, not materialized — a
    // localCheckpoint here would push corpus-sized blocks into executor
    // storage on every call for the price of one cheap tokenize pass
    val toks = df.select(col(idCol), tokens(col(textCol)).as("t"))
    val lens = toks.select(col(idCol), size(col("t")).as("len"))
    val stats = lens.agg(count(lit(1)), avg(col("len"))).head()
    val nDocs = stats.getLong(0).toDouble
    if (nDocs == 0.0) {
      import spark.implicits._
      return Seq.empty[(String, Double)].toDF(idCol, "score")
    }
    val avgLen = stats.getDouble(1)
    // tf is TINY (query-term rows only) and consumed twice (df collect +
    // the final plan) — materialize it once
    val tf = toks.select(col(idCol), explode(col("t")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfMap = tf.groupBy("term").agg(count(lit(1)).as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def idf(term: String): Double = {
      val dfT = dfMap.getOrElse(term, 0L).toDouble
      BigDecimal(math.log((nDocs - dfT + 0.5) / (dfT + 0.5) + 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf"))).as(s"tf$i")
    }
    val piv = tf.groupBy(col(idCol)).agg(tfAggs.head, tfAggs.tail: _*)
    val termScore = terms.zipWithIndex.map { case (t, i) =>
      coalesce(lit(idf(t)) * col(s"tf$i") /
        (col(s"tf$i") + lit(k1) * (lit(1.0) - lit(b)
          + lit(b) * col("len") / lit(avgLen))), lit(0.0d))
    }
    lens.join(piv, Seq(idCol), "left")
      .withColumn("score", round(termScore.reduceLeft(_ + _), 6) + lit(0.0d))
      .select(col(idCol), col("score"))
  }

  /** BATCH BM25: score every corpus row against EVERY query in ONE
    * corpus scan — the reranking-pipeline shape (thousands of queries
    * against one corpus must not mean thousands of tokenize passes).
    * The corpus statistics (doc count, average length) and the
    * document frequencies of the UNION of all query terms are computed
    * once and shared; per-query scores are then sibling columns of a
    * single projection, exploded to (query_id, id, score) rows.
    *
    * Per-query scores are IDENTICAL to [[bm25]]'s (same 6dp idf
    * rounding, same fixed-order term fold over the query's own terms) —
    * the batch is an execution strategy, not a semantic variant
    * (LexicalSpec pins the equality).
    *
    * Scale shape: one tokenize scan; tf rows exist only for union-term
    * matches (O(matches), never O(corpus vocabulary)); document
    * frequency is a |union terms|-row driver collect; the explode
    * multiplies the SCORED frame by Q — streaming through codegen into
    * the per-group top-k, never materialized.
    *
    * @param queries (query_id, terms) — ids unique, each term list
    *                non-empty and duplicate-free
    * @return (query_id, idCol, score) for every (query, document) pair
    */
  def bm25Batch(df: DataFrame, idCol: String, textCol: String,
                rawQueries: Seq[(Long, Seq[String])],
                k1: Double = DefaultK1, b: Double = DefaultB): DataFrame = {
    // same query-side canonicalization contract as [[bm25]]
    val queries = rawQueries.map { case (qid, ts) =>
      qid -> ts.map(graft.functions.TextHash.canonLower)
    }
    require(queries.nonEmpty, "need at least one BM25 query")
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate BM25 query ids")
    queries.foreach { case (qid, terms) =>
      require(terms.nonEmpty, s"query $qid needs at least one BM25 term")
      require(terms.distinct.size == terms.size,
        s"query $qid has duplicate BM25 terms (after canonicalization)")
    }
    val spark = df.sparkSession
    val allTerms = queries.flatMap(_._2).distinct
    val toks = df.select(col(idCol), tokens(col(textCol)).as("t"))
    val lens = toks.select(col(idCol), size(col("t")).as("len"))
    val stats = lens.agg(count(lit(1)), avg(col("len"))).head()
    val nDocs = stats.getLong(0).toDouble
    if (nDocs == 0.0) {
      import spark.implicits._
      return Seq.empty[(Long, String, Double)]
        .toDF("query_id", idCol, "score")
    }
    val avgLen = stats.getDouble(1)
    val tf = toks.select(col(idCol), explode(col("t")).as("term"))
      .where(col("term").isin(allTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfMap = tf.groupBy("term").agg(count(lit(1)).as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def idf(term: String): Double = {
      val dfT = dfMap.getOrElse(term, 0L).toDouble
      BigDecimal(math.log((nDocs - dfT + 0.5) / (dfT + 0.5) + 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // The per-(query, doc) scoring projection is WIDTH-bounded: one
    // pivot column per union term plus one struct per query, all in a
    // single generated class — thousands of queries in one projection
    // would trip Janino's 64KB-method/constant-pool limits and fall
    // back to slow interpreted evaluation. So the batch is scored in
    // groups of <= Bm25ProjectionBatch queries (each group pivoting
    // only ITS terms), unioned — while the expensive work above (the
    // corpus tokenize, the tf aggregation, the df collect) stays ONE
    // shared pass regardless of batch size.
    val frames = queries.grouped(Bm25ProjectionBatch).map { qchunk =>
      val chunkTerms = qchunk.flatMap(_._2).distinct
      val termIdx = chunkTerms.zipWithIndex.toMap
      val tfAggs = chunkTerms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, col("tf"))).as(s"tf$i")
      }
      val piv = tf.where(col("term").isin(chunkTerms: _*))
        .groupBy(col(idCol)).agg(tfAggs.head, tfAggs.tail: _*)
      def termScore(t: String): Column = {
        val i = termIdx(t)
        coalesce(lit(idf(t)) * col(s"tf$i") /
          (col(s"tf$i") + lit(k1) * (lit(1.0) - lit(b)
            + lit(b) * col("len") / lit(avgLen))), lit(0.0d))
      }
      val qStructs = qchunk.map { case (qid, terms) =>
        struct(lit(qid).as("query_id"),
          (round(terms.map(termScore).reduceLeft(_ + _), 6) + lit(0.0d))
            .as("score"))
      }
      lens.join(piv, Seq(idCol), "left")
        .select(col(idCol), explode(array(qStructs: _*)).as("__q"))
        .select(col("__q.query_id").as("query_id"), col(idCol),
          col("__q.score").as("score"))
    }
    frames.reduceLeft(_ unionAll _)
  }

  /** Queries per scoring projection in [[bm25Batch]] — sized so the
    * generated code (pivot columns + score structs) stays far inside
    * Janino's method/constant-pool limits. */
  val Bm25ProjectionBatch = 100

  /** Per-group twin of [[topRanks]]: top-`n` rows of each group via the
    * per-partition top-k ([[graft.operators.TopK.perGroup]] — no
    * single-reducer funnel), then 1-based ranks inside the surviving
    * n-row groups. */
  def topRanksBatch(scored: DataFrame, groupCol: String, idCol: String,
                    scoreCol: String, ascending: Boolean, n: Int,
                    rankName: String): DataFrame = {
    val ord = if (ascending) col(scoreCol) else negate(col(scoreCol))
    val limited = graft.operators.TopK.perGroup(
      scored.withColumn("__ord", ord), groupCol, "__ord", idCol, n)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__ord"), col(idCol))
    limited.withColumn(rankName, row_number().over(w))
      .select(col(groupCol), col(idCol), col(rankName))
  }

  /** Batch reciprocal-rank fusion: [[hybridRrf]] per group in one plan.
    * Each leg contributes its per-group top-`candidates`; fusion is a
    * (group, id) full-outer join bounded by Q x candidates rows; the
    * final top-`k` is again [[graft.operators.TopK.perGroup]]. Output:
    * (groupCol, idCol, rrf). */
  def hybridRrfBatch(lexScores: DataFrame, vecScores: DataFrame,
                     groupCol: String, idCol: String, k: Int,
                     candidates: Int = DefaultCandidates,
                     rrfK: Int = DefaultRrfK, lexScoreCol: String = "score",
                     vecScoreCol: String = "distance"): DataFrame = {
    require(k > 0 && candidates >= k, "need k > 0 and candidates >= k")
    val lr = topRanksBatch(lexScores, groupCol, idCol, lexScoreCol,
      ascending = false, candidates, "lrank")
    val vr = topRanksBatch(vecScores, groupCol, idCol, vecScoreCol,
      ascending = true, candidates, "vrank")
    val fused = lr.join(vr, Seq(groupCol, idCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("lrank")), lit(0.0d)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vrank")), lit(0.0d)), 6)
        + lit(0.0d))
    graft.operators.TopK.perGroup(
        fused.withColumn("__ord", negate(col("rrf"))), groupCol, "__ord",
        idCol, k)
      .select(col(groupCol), col(idCol), col("rrf"))
  }

  /** Rank the top-`n` rows of a scored frame: limit FIRST
    * (TakeOrderedAndProject — per-partition top-n, k-row driver merge),
    * so the rank window only ever sees n rows. Rank is 1-based
    * row_number over (score direction, idCol) — a total order. */
  def topRanks(scored: DataFrame, idCol: String, scoreCol: String,
               ascending: Boolean, n: Int, rankName: String): DataFrame = {
    val ord =
      if (ascending) Seq(col(scoreCol), col(idCol))
      else Seq(col(scoreCol).desc, col(idCol))
    scored.orderBy(ord: _*).limit(n)
      .withColumn(rankName, row_number().over(Window.orderBy(ord: _*)))
      .select(col(idCol), col(rankName))
  }

  /** Reciprocal-rank fusion of a lexical ranking (higher score = better)
    * and a vector ranking (lower distance = better):
    * rrf = 1/(rrfK + lex_rank) + 1/(rrfK + vec_rank), fixed add order.
    *
    * @param lexScores (idCol, scoreCol) frame, e.g. `bm25` output
    * @param vecScores (idCol, distanceCol) frame, e.g. a k-NN distance scan
    * @return top-`k` (idCol, rrf), rrf descending, ties by id
    */
  def hybridRrf(lexScores: DataFrame, vecScores: DataFrame, idCol: String,
                k: Int, candidates: Int = DefaultCandidates,
                rrfK: Int = DefaultRrfK, lexScoreCol: String = "score",
                vecScoreCol: String = "distance"): DataFrame = {
    require(k > 0 && candidates >= k, "need k > 0 and candidates >= k")
    val lr = topRanks(lexScores, idCol, lexScoreCol, ascending = false,
      candidates, "lrank")
    val vr = topRanks(vecScores, idCol, vecScoreCol, ascending = true,
      candidates, "vrank")
    lr.join(vr, Seq(idCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("lrank")), lit(0.0d)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vrank")), lit(0.0d)), 6)
        + lit(0.0d))
      .select(col(idCol), col("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }
}
