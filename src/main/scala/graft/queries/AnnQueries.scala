package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.IvfIndex

/** Approximate-nearest-neighbor search over the embeddings table: the
  * brute-force top-k (knn_flat_*) is the baseline; this adds the IVF
  * scale path — centroid cells + nprobe probing. The oracle reproduces
  * the same assignment (row_number over (distance, cid)) and probe
  * selection in SQL, so the approximation itself is checked, not just
  * the final arithmetic.
  */
object AnnQueries {

  /** FIXED-C centroid model from the committed fixture
    * (fixtures/ivf_centroids.parquet — 64 centroids trained ONCE by
    * `graft.tools.MakeFixtures` via IvfIndex.train): the gate's driver
    * data is O(C x dim) — 64 x 64 floats — at EVERY scale factor, and the
    * DuckDB oracle reads the same parquet bytes, so cell assignment and
    * probe selection replay bit-identically. (The previous `vec_id % 7`
    * sample collected n/7 of the table to the driver — an O(n)
    * scale-killer the fixture replaces. k-means `train` itself is
    * spec-checked via measured recall — IvfSpec.) */
  private[queries] val FixturesDir: String =
    sys.props.get("graft.fixtures.dir")
      .orElse(sys.env.get("GRAFT_FIXTURES_DIR"))
      .getOrElse(new java.io.File("fixtures").getAbsolutePath)
  private[queries] val FixturePath: String =
    s"$FixturesDir/ivf_centroids.parquet"
  private[queries] val FixtureSql =
    s"read_parquet('$FixturePath/*.parquet')"
  // Funnel parameters = the FACADE's defaults (VectorEngine), so every
  // operator family's oracle row gates exactly the configuration a
  // `search()` caller gets: plain-ivf/sq8 rows probe DefaultIvfNProbe
  // cells and rescore DefaultSq8Rescore; flat-pq rows rescore
  // DefaultPqRescore; residual-ivfpq rows probe DefaultIvfPqNProbe and
  // rescore DefaultIvfPqRescore.
  private val NProbe = graft.engine.VectorEngine.DefaultIvfNProbe
  private val PqNProbe = graft.engine.VectorEngine.DefaultIvfPqNProbe
  private val K = 10

  private[graft] def fixtureCentroids(s: org.apache.spark.sql.SparkSession): Seq[IvfIndex.Centroid] =
    s.read.parquet(FixturePath)
      .select("cid", "cv") // by NAME — robust to fixture column reordering
      .collect()
      .map(r => IvfIndex.Centroid(r.getLong(0), r.getSeq[Float](1).toArray))
      .toSeq.sortBy(_.id)

  private val ivfTopk: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val centroids = fixtureCentroids(s)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    // cell is STORED at ingest (withCell), search filters the stored column
    val indexed = IvfIndex.withCell(emb, col("embedding"), centroids)
    IvfIndex.search(indexed, "embedding", "vec_id", centroids, query,
      NProbe, "cosine", K)
  }

  private val ivfTopkSql: String = {
    val cos = VectorSearchQueries.distSql("cosine", "v", "qv")
    s"""WITH c AS (SELECT cid, cv::DOUBLE[] AS cv FROM $FixtureSql),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |a AS (SELECT e.vec_id, e.v, c.cid,
       |        row_number() OVER (PARTITION BY e.vec_id
       |                           ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
       |      FROM e, c),
       |cell AS (SELECT vec_id, v, cid FROM a WHERE rn = 1),
       |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       |probe AS (SELECT cid FROM c, q
       |          ORDER BY list_distance(qv, cv), cid LIMIT $NProbe)
       |SELECT vec_id, round($cos, 6) + 0 AS distance
       |FROM cell, q WHERE cid IN (SELECT cid FROM probe)
       |ORDER BY distance, vec_id LIMIT $K""".stripMargin
  }

  /** SQ8 quantized search: encode all embeddings to uint8 codes, approx
    * top-R on the codes ONLY, exact rescore top-k. The oracle replays the
    * whole thing — encoding, decode-based approximate distances, the R
    * candidate cut, and the exact rescore — so the quantization contract
    * itself is gated, not just the final distances. */
  private val Rescore = graft.engine.VectorEngine.DefaultSq8Rescore
  private val PqRescore = graft.engine.VectorEngine.DefaultPqRescore
  private val IvfPqRescore = graft.engine.VectorEngine.DefaultIvfPqRescore

  /** Binary (1-bit) quantization search — the cheapest compression
    * rung: packed sign-bit words (31 dims/INT, the storage kind's
    * packing), Hamming top-R over the words only, exact cosine rescore.
    * The oracle is an INDEPENDENT packing: it replays a 62-dims-per-BIGINT
    * MSB-first fold (list_reduce over a prepended 0 seed — the acc*2+bit
    * chain), whose per-word XOR bit_count sums to the same Hamming
    * distance (it counts the same differing sign bits at any word
    * width), then the (hamming, id) cut and the rescore. */
  private val bqTopk: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val encoded = emb.withColumn("codes", graft.operators.BinaryQuantization
      .encodeWordsInt(col("embedding"), query.length))
    graft.operators.BinaryQuantization.searchStored(encoded, "embedding", "vec_id",
      query, K, Rescore, metric = "cosine")
  }

  private val bqTopkSql: String = {
    val bpw = 62
    val dim = 64
    val nWords = (dim + bpw - 1) / bpw
    val exactCos = VectorSearchQueries.distSql("cosine", "e.v", "q.qv")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |enc AS (SELECT vec_id, v,
       |    list_transform(range(0, $nWords), w ->
       |      list_reduce(list_prepend(0::BIGINT,
       |        list_transform(range(0, $bpw), i ->
       |          CASE WHEN w * $bpw + i + 1 <= $dim
       |                AND v[(w * $bpw + i + 1)::INT] > 0
       |               THEN 1::BIGINT ELSE 0::BIGINT END)),
       |        (a, b) -> a * 2 + b)) AS bq
       |  FROM e),
       |qe AS (SELECT bq AS qbq FROM enc WHERE vec_id = 0),
       |ham AS (SELECT enc.vec_id,
       |    list_sum(list_transform(range(1, ${nWords + 1}), j ->
       |      bit_count(xor(enc.bq[j::INT], qe.qbq[j::INT]))))::BIGINT AS h
       |  FROM enc, qe),
       |r AS (SELECT vec_id FROM ham ORDER BY h, vec_id LIMIT $Rescore),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT e.vec_id, round($exactCos, 6) + 0 AS distance
       |FROM e, q WHERE e.vec_id IN (SELECT vec_id FROM r)
       |ORDER BY distance, vec_id LIMIT $K""".stripMargin
  }

  /** IVF × BQ — the composed funnel behind the storage="bq" library
    * kind under an ivf index (cell prune → Hamming cut over the stored
    * 31-bit int words only → exact cosine rescore), gated at the
    * operator level like ann_ivf_sq8_topk gates ivf × sq8. The oracle
    * replays cell assignment, probe selection, the INT packing fold,
    * the per-word XOR bit_count over the PRUNED set, the (hamming, id)
    * cut at the storage kind's default R, and the rescore. */
  private val BqRescore = graft.engine.VectorEngine.DefaultBqRescore

  private val ivfBqTopk: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val centroids = fixtureCentroids(s)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    // both index keys are ingest-time artifacts: the stored cell and
    // the packed sign words; search prunes cells, then scans words only
    val indexed = IvfIndex.withCell(emb, col("embedding"), centroids)
      .withColumn("codes", graft.operators.BinaryQuantization
        .encodeWordsInt(col("embedding"), query.length))
    val probed = IvfIndex.nearestCentroids(query, centroids, NProbe)
    graft.operators.BinaryQuantization.searchStored(
      indexed.where(col("cell").isin(probed: _*)),
      "embedding", "vec_id", query, K, BqRescore, metric = "cosine")
  }

  private val ivfBqTopkSql: String = {
    import graft.operators.BinaryQuantization.{encodeWordsIntSql, hammingSql}
    val dim = 64
    val exactCos = VectorSearchQueries.distSql("cosine", "p.v", "q.qv")
    def fold(v: String) = encodeWordsIntSql(v, dim)
    s"""WITH c AS (SELECT cid, cv::DOUBLE[] AS cv FROM $FixtureSql),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |a AS (SELECT e.vec_id, e.v, c.cid,
       |        row_number() OVER (PARTITION BY e.vec_id
       |                           ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
       |      FROM e, c),
       |cell AS (SELECT vec_id, v, cid FROM a WHERE rn = 1),
       |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       |probe AS (SELECT cid FROM c, q
       |          ORDER BY list_distance(qv, cv), cid LIMIT $NProbe),
       |p AS (SELECT vec_id, v, ${fold("v")} AS codes
       |      FROM cell WHERE cid IN (SELECT cid FROM probe)),
       |qe AS (SELECT ${fold("qv")} AS qc FROM q),
       |ham AS (SELECT p.vec_id,
       |    ${hammingSql("p.codes", "qe.qc", dim)} AS h
       |  FROM p, qe),
       |surv AS (SELECT vec_id FROM ham ORDER BY h, vec_id LIMIT $BqRescore)
       |SELECT p.vec_id, round($exactCos, 6) + 0 AS distance
       |FROM p, q WHERE p.vec_id IN (SELECT vec_id FROM surv)
       |ORDER BY distance, vec_id LIMIT $K""".stripMargin
  }

  private val sq8Topk: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val encoded = graft.operators.Quantization.encode(emb, col("embedding"))
    graft.operators.Quantization.search(encoded, "embedding", "vec_id",
      query, K, Rescore, metric = "euclidean")
  }

  private val sq8TopkSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |                  list_min(embedding::DOUBLE[]) AS mn,
       |                  list_max(embedding::DOUBLE[]) AS mx
       |           FROM embeddings),
       |c AS (SELECT vec_id, mn, mx,
       |        CASE WHEN mx = mn THEN list_transform(v, x -> 0)
       |             ELSE list_transform(v, x ->
       |               floor((x - mn) * 255.0 / (mx - mn) + 0.5)::INT) END AS codes
       |      FROM e),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |d AS (SELECT c.vec_id,
       |        list_distance(list_transform(codes, cc ->
       |          mn + (cc * (mx - mn)) / 255.0), qv) AS approx
       |      FROM c, q),
       |r AS (SELECT vec_id FROM d ORDER BY approx, vec_id LIMIT $Rescore)
       |SELECT e.vec_id, round(list_distance(e.v, q.qv), 6) + 0 AS distance
       |FROM e, q WHERE e.vec_id IN (SELECT vec_id FROM r)
       |ORDER BY distance, vec_id LIMIT $K""".stripMargin

  /** SQ8 under the COSINE metric — the reference's DEFAULT metric on the
    * compact-scan path: same codes (metric-independent), the approximate
    * phase scores cosine over the DECODED codes, the rescore is exact
    * cosine. The oracle replays the decode and both cosine formulas. */
  private val sq8Cosine: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val encoded = graft.operators.Quantization.encode(emb, col("embedding"))
    graft.operators.Quantization.search(encoded, "embedding", "vec_id",
      query, K, Rescore, metric = "cosine")
  }

  private val sq8CosineSql: String = {
    val approxCos = VectorSearchQueries.distSql("cosine", "dec", "qv")
    val exactCos = VectorSearchQueries.distSql("cosine", "e.v", "q.qv")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |                  list_min(embedding::DOUBLE[]) AS mn,
       |                  list_max(embedding::DOUBLE[]) AS mx
       |           FROM embeddings),
       |c AS (SELECT vec_id, mn, mx,
       |        CASE WHEN mx = mn THEN list_transform(v, x -> 0)
       |             ELSE list_transform(v, x ->
       |               floor((x - mn) * 255.0 / (mx - mn) + 0.5)::INT) END AS codes
       |      FROM e),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |dc AS (SELECT c.vec_id, list_transform(codes, cc ->
       |         mn + (cc * (mx - mn)) / 255.0) AS dec, qv
       |       FROM c, q),
       |d AS (SELECT vec_id, $approxCos AS approx FROM dc),
       |r AS (SELECT vec_id FROM d ORDER BY approx, vec_id LIMIT $Rescore)
       |SELECT e.vec_id, round($exactCos, 6) + 0 AS distance
       |FROM e, q WHERE e.vec_id IN (SELECT vec_id FROM r)
       |ORDER BY distance, vec_id LIMIT $K""".stripMargin
  }

  /** IVF x SQ8 COMPOSITION — the billion-vector search shape: the stored
    * cell column prunes the scan to nprobe/C of the rows, the uint8 codes
    * cut the scanned bytes of that remainder 4x, and only the R approx
    * survivors are rescored against full float32 vectors. Implemented by
    * literally composing the two operators (`withCell` + cell filter
    * feeding `Quantization.search`); the oracle replays cell assignment,
    * probe selection, encoding, the approx candidate cut, and the rescore
    * — every stage of the funnel is gated. */
  private val ivfSq8Topk: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val centroids = fixtureCentroids(s)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val indexed = graft.operators.Quantization.encode(
      IvfIndex.withCell(emb, col("embedding"), centroids), col("embedding"))
    val probed = IvfIndex.nearestCentroids(query, centroids, NProbe)
    graft.operators.Quantization.search(
      indexed.where(col("cell").isin(probed: _*)),
      "embedding", "vec_id", query, K, Rescore, metric = "euclidean")
  }

  private val ivfSq8TopkSql: String =
    s"""WITH c AS (SELECT cid, cv::DOUBLE[] AS cv FROM $FixtureSql),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |             list_min(embedding::DOUBLE[]) AS mn,
       |             list_max(embedding::DOUBLE[]) AS mx
       |      FROM embeddings),
       |a AS (SELECT e.vec_id, e.v, e.mn, e.mx, c.cid,
       |        row_number() OVER (PARTITION BY e.vec_id
       |                           ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
       |      FROM e, c),
       |cell AS (SELECT vec_id, v, mn, mx, cid FROM a WHERE rn = 1),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (SELECT cid FROM c, q
       |          ORDER BY list_distance(qv, cv), cid LIMIT $NProbe),
       |p AS (SELECT * FROM cell WHERE cid IN (SELECT cid FROM probe)),
       |enc AS (SELECT vec_id, v, mn, mx,
       |          CASE WHEN mx = mn THEN list_transform(v, x -> 0)
       |               ELSE list_transform(v, x ->
       |                 floor((x - mn) * 255.0 / (mx - mn) + 0.5)::INT) END AS codes
       |        FROM p),
       |d AS (SELECT enc.vec_id,
       |        list_distance(list_transform(codes, cc ->
       |          mn + (cc * (mx - mn)) / 255.0), qv) AS approx
       |      FROM enc, q),
       |r AS (SELECT vec_id FROM d ORDER BY approx, vec_id LIMIT $Rescore)
       |SELECT p.vec_id, round(list_distance(p.v, q.qv), 6) + 0 AS distance
       |FROM p, q WHERE p.vec_id IN (SELECT vec_id FROM r)
       |ORDER BY distance, vec_id LIMIT $K""".stripMargin

  /** PRODUCT QUANTIZATION (PQ) search — the compression rung past SQ8:
    * stored per-subspace codes (committed codebook fixture, trained once
    * by MakeFixtures like the IVF centroids), asymmetric-distance (ADC)
    * approximate top-R scanning ONLY the codes, exact euclidean rescore.
    * The oracle replays every stage — per-subspace argmin encoding, the
    * LUT arithmetic (explicit left-associated + chains so every double
    * adds in the same order as the Scala loop), the R candidate cut, and
    * the rescore — so the quantizer and the candidate SET are gated, not
    * just the final distances. */
  private val PqSub = graft.tools.MakeFixtures.PqSub
  private[queries] val PqFixturePath: String =
    s"$FixturesDir/pq_codebooks.parquet"
  private[queries] val PqFixtureSql =
    s"read_parquet('$PqFixturePath/*.parquet')"

  private[graft] def fixturePqModel(
      s: org.apache.spark.sql.SparkSession): graft.operators.ProductQuantization.Model = {
    val rows = s.read.parquet(PqFixturePath)
      .select("sub", "cid", "cv")
      .collect()
      .map(r => (r.getInt(0), IvfIndex.Centroid(r.getLong(1), r.getSeq[Float](2).toArray)))
    (0 until PqSub).map(m =>
      rows.filter(_._1 == m).map(_._2).sortBy(_.id).toSeq)
  }

  /** The fixture codebooks as setPqCodebooks rows. */
  private[queries] def fixturePqRows(
      s: org.apache.spark.sql.SparkSession): Seq[(Int, Long, Seq[Float])] =
    fixturePqModel(s).zipWithIndex.flatMap { case (cb, m) =>
      cb.map(c => (m, c.id, c.vec.toSeq))
    }

  /** RESIDUAL codebooks (trained by MakeFixtures on float32(v - cell
    * centroid) under the committed centroid model) — what the IVFPQ
    * gates install; classic IVFADC. */
  private[queries] val PqResidualFixturePath: String =
    s"$FixturesDir/pq_residual_codebooks.parquet"
  private[queries] val PqResidualFixtureSql =
    s"read_parquet('$PqResidualFixturePath/*.parquet')"

  private[graft] def fixturePqResidualModel(
      s: org.apache.spark.sql.SparkSession): graft.operators.ProductQuantization.Model = {
    val rows = s.read.parquet(PqResidualFixturePath)
      .select("sub", "cid", "cv")
      .collect()
      .map(r => (r.getInt(0), IvfIndex.Centroid(r.getLong(1), r.getSeq[Float](2).toArray)))
    (0 until PqSub).map(m =>
      rows.filter(_._1 == m).map(_._2).sortBy(_.id).toSeq)
  }

  private[queries] def fixturePqResidualRows(
      s: org.apache.spark.sql.SparkSession): Seq[(Int, Long, Seq[Float])] =
    fixturePqResidualModel(s).zipWithIndex.flatMap { case (cb, m) =>
      cb.map(c => (m, c.id, c.vec.toSeq))
    }

  private val pqTopk: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val model = fixturePqModel(s)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val encoded = graft.operators.ProductQuantization.encode(
      emb, col("embedding"), model)
    graft.operators.ProductQuantization.search(encoded, "embedding", "vec_id",
      model, query, K, PqRescore)
  }

  private val pqTopkSql: String = {
    val dsub = 64 / PqSub
    // left-associated + chains: the SQL parser and the Scala fold add in
    // the same ascending order, so the doubles agree bit-for-bit
    val termChain = (1 to dsub)
      .map(i => s"(qs[$i]-cv[$i])*(qs[$i]-cv[$i])").mkString(" + ")
    val approxChain = (1 to PqSub).map(m => s"ts[$m]").mkString(" + ")
    s"""WITH cb AS (SELECT sub, cid, cv::DOUBLE[] AS cv FROM $PqFixtureSql),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |${pqEncodeCtes(dsub)},
       |t AS (SELECT vec_id, sub, $termChain AS term FROM t0),
       |l AS (SELECT vec_id, list(term ORDER BY sub) AS ts FROM t GROUP BY vec_id),
       |d AS (SELECT vec_id, $approxChain AS approx FROM l),
       |r AS (SELECT vec_id FROM d ORDER BY approx, vec_id LIMIT $PqRescore)
       |SELECT e.vec_id, round(list_distance(e.v, q.qv), 6) + 0 AS distance
       |FROM e, q WHERE e.vec_id IN (SELECT vec_id FROM r)
       |ORDER BY distance, vec_id LIMIT $K""".stripMargin
  }

  /** PQ under DOT_PRODUCT — dot decomposes EXACTLY over subspaces
    * (dot(q,v) = sum_m dot(q_m, v_m)), so the ADC LUT holds negated
    * per-subspace dots and their sum IS the engine's dot_product distance
    * of the reconstruction. Same stored codes as euclidean (L2 argmin
    * encoding, metric-independent); the oracle replays the encode, the
    * negated-dot LUT terms, the R cut, and the exact rescore. */
  private val pqDot: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val model = fixturePqModel(s)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val encoded = graft.operators.ProductQuantization.encode(
      emb, col("embedding"), model)
    graft.operators.ProductQuantization.search(encoded, "embedding", "vec_id",
      model, query, K, PqRescore, metric = "dot_product")
  }

  private def pqEncodeCtes(dsub: Int): String =
    s"""a AS (SELECT e.vec_id, cb.sub, cb.cid, cb.cv,
       |        row_number() OVER (PARTITION BY e.vec_id, cb.sub
       |          ORDER BY list_distance(list_slice(e.v, cb.sub*$dsub+1, cb.sub*$dsub+$dsub), cb.cv), cb.cid) AS rn
       |      FROM e, cb),
       |sel AS (SELECT vec_id, sub, cv FROM a WHERE rn = 1),
       |t0 AS (SELECT sel.vec_id, sel.sub, sel.cv,
       |         list_slice(q.qv, sel.sub*$dsub+1, sel.sub*$dsub+$dsub) AS qs
       |       FROM sel, q)""".stripMargin

  private val pqDotSql: String = {
    val dsub = 64 / PqSub
    val approxChain = (1 to PqSub).map(m => s"ts[$m]").mkString(" + ")
    s"""WITH cb AS (SELECT sub, cid, cv::DOUBLE[] AS cv FROM $PqFixtureSql),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |${pqEncodeCtes(dsub)},
       |t AS (SELECT vec_id, sub, -(list_dot_product(qs, cv)) AS term FROM t0),
       |l AS (SELECT vec_id, list(term ORDER BY sub) AS ts FROM t GROUP BY vec_id),
       |d AS (SELECT vec_id, $approxChain AS approx FROM l),
       |r AS (SELECT vec_id FROM d ORDER BY approx, vec_id LIMIT $PqRescore)
       |SELECT e.vec_id, round(${VectorSearchQueries.distSql("dot_product", "e.v", "q.qv")}, 6) + 0 AS distance
       |FROM e, q WHERE e.vec_id IN (SELECT vec_id FROM r)
       |ORDER BY distance, vec_id LIMIT $K""".stripMargin
  }

  /** PQ under COSINE — the reference's DEFAULT metric on the 32x
    * compressed path: cosine does not decompose by itself (the row norm
    * couples subspaces), but 1 - dot/(|v||q|) follows from the dot LUT
    * plus ONE stored per-row norm, written at encode time like the codes
    * (`pq_norm`; the engine stores it in the shared qmin slot). The
    * approximate phase reads codes + one double per row — never the
    * float32 embedding; the oracle replays encode, LUT, the stored-norm
    * division (zero norms rank +Inf), the R cut, and the exact cosine
    * rescore. */
  private val pqCosine: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val model = fixturePqModel(s)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val encoded = graft.operators.ProductQuantization.encode(
      emb, col("embedding"), model, withNorm = true)
    graft.operators.ProductQuantization.search(encoded, "embedding", "vec_id",
      model, query, K, PqRescore, metric = "cosine")
  }

  private val pqCosineSql: String = {
    val dsub = 64 / PqSub
    val approxChain = (1 to PqSub).map(m => s"ts[$m]").mkString(" + ")
    s"""WITH cb AS (SELECT sub, cid, cv::DOUBLE[] AS cv FROM $PqFixtureSql),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn
       |      FROM e WHERE vec_id = 0),
       |${pqEncodeCtes(dsub)},
       |t AS (SELECT vec_id, sub, -(list_dot_product(qs, cv)) AS term FROM t0),
       |l AS (SELECT vec_id, list(term ORDER BY sub) AS ts FROM t GROUP BY vec_id),
       |n AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |d AS (SELECT l.vec_id,
       |        CASE WHEN n.nrm = 0 OR q.qn = 0 THEN 'infinity'::DOUBLE
       |             ELSE 1 + ($approxChain) / (n.nrm * q.qn) END AS approx
       |      FROM l, n, q WHERE l.vec_id = n.vec_id),
       |r AS (SELECT vec_id FROM d ORDER BY approx, vec_id LIMIT $PqRescore)
       |SELECT e.vec_id, round(${VectorSearchQueries.distSql("cosine", "e.v", "q.qv")}, 6) + 0 AS distance
       |FROM e, q WHERE e.vec_id IN (SELECT vec_id FROM r)
       |ORDER BY distance, vec_id LIMIT $K""".stripMargin
  }

  /** IVF x PQ COMPOSITION — the canonical billion-vector index (FAISS's
    * IVFPQ, RESIDUAL-encoded — classic IVFADC): the stored cell column
    * prunes the scan to nprobe/C of the rows, the PQ codes quantize the
    * float32 residual `v - centroid(cell)` (codebooks span only
    * cell-local variance — substantially more recall at identical M/K
    * than raw encoding), the ADC phase scans codes only with a per-cell
    * LUT built on the query residual, and only the R survivors are
    * rescored against full float32 vectors. The oracle replays cell
    * assignment, probe selection, the float32 residual, the per-subspace
    * encode, the per-cell residual LUT, the cut, and the rescore. */
  private val ivfPqTopk: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val centroids = fixtureCentroids(s)
    val model = fixturePqResidualModel(s)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val indexed = graft.operators.ProductQuantization.encodeResidual(
      IvfIndex.withCell(emb, col("embedding"), centroids),
      col("embedding"), col("cell"), centroids, model)
    val probed = IvfIndex.nearestCentroids(query, centroids, PqNProbe)
    graft.operators.ProductQuantization.searchResidual(
      indexed.where(col("cell").isin(probed: _*)),
      "embedding", "vec_id", model, centroids, probed, query, K, IvfPqRescore)
  }

  private val ivfPqTopkSql: String = {
    val dsub = 64 / PqSub
    val termChain = (1 to dsub)
      .map(i => s"(qs[$i]-cv[$i])*(qs[$i]-cv[$i])").mkString(" + ")
    val approxChain = (1 to PqSub).map(m => s"ts[$m]").mkString(" + ")
    s"""WITH c AS (SELECT cid, cv::DOUBLE[] AS cv FROM $FixtureSql),
       |cb AS (SELECT sub, cid, cv::DOUBLE[] AS cv FROM $PqResidualFixtureSql),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |ca AS (SELECT e.vec_id, e.v, c.cid,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
       |       FROM e, c),
       |cell AS (SELECT vec_id, v, cid FROM ca WHERE rn = 1),
       |probe AS (SELECT cid FROM c, q
       |          ORDER BY list_distance(qv, cv), cid LIMIT $PqNProbe),
       |p AS (SELECT vec_id, v, cid FROM cell
       |      WHERE cid IN (SELECT cid FROM probe)),
       |pr AS (SELECT p.vec_id, p.cid,
       |         list_transform(range(1, 65),
       |           i -> CAST(CAST(p.v[i] - c.cv[i] AS FLOAT) AS DOUBLE)) AS rv
       |       FROM p JOIN c ON p.cid = c.cid),
       |a AS (SELECT pr.vec_id, pr.cid AS pcid, cb.sub, cb.cv,
       |        row_number() OVER (PARTITION BY pr.vec_id, cb.sub
       |          ORDER BY list_distance(list_slice(pr.rv, cb.sub*$dsub+1, cb.sub*$dsub+$dsub), cb.cv), cb.cid) AS rn
       |      FROM pr, cb),
       |sel AS (SELECT vec_id, pcid, sub, cv FROM a WHERE rn = 1),
       |t0 AS (SELECT sel.vec_id, sel.sub, sel.cv,
       |         list_transform(range(sel.sub*$dsub+1, sel.sub*$dsub+$dsub+1),
       |           i -> q.qv[i] - c.cv[i]) AS qs
       |       FROM sel JOIN c ON sel.pcid = c.cid, q),
       |t AS (SELECT vec_id, sub, $termChain AS term FROM t0),
       |l AS (SELECT vec_id, list(term ORDER BY sub) AS ts FROM t GROUP BY vec_id),
       |d AS (SELECT vec_id, 0.0 + $approxChain AS approx FROM l),
       |r AS (SELECT vec_id FROM d ORDER BY approx, vec_id LIMIT $IvfPqRescore)
       |SELECT p.vec_id, round(list_distance(p.v, q.qv), 6) + 0 AS distance
       |FROM p, q WHERE p.vec_id IN (SELECT vec_id FROM r)
       |ORDER BY distance, vec_id LIMIT $K""".stripMargin
  }

  /** Residual IVFPQ under COSINE — the reference's default metric on the
    * canonical billion-vector index: for dot/cosine the residual ADC's
    * LUT is CELL-INDEPENDENT (dot decomposes against the residual
    * codebook with the raw query) and each cell contributes one constant
    * `-dot(q, centroid)`; cosine divides the (const + LUT) sum by the
    * stored RAW row norm and the query norm. The oracle replays the
    * float32 residual encode, the per-cell constant, the shared
    * negated-dot LUT, the norm division (+Inf on zero norms), the R cut,
    * and the exact cosine rescore. */
  private val ivfPqCosine: QueryFn = (s, dir) => {
    val emb = table(s, dir, "embeddings")
    val centroids = fixtureCentroids(s)
    val model = fixturePqResidualModel(s)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val indexed = graft.operators.ProductQuantization.encodeResidual(
      IvfIndex.withCell(emb, col("embedding"), centroids),
      col("embedding"), col("cell"), centroids, model, withNorm = true)
    val probed = IvfIndex.nearestCentroids(query, centroids, PqNProbe)
    graft.operators.ProductQuantization.searchResidual(
      indexed.where(col("cell").isin(probed: _*)),
      "embedding", "vec_id", model, centroids, probed, query, K, IvfPqRescore,
      metric = "cosine")
  }

  private val ivfPqCosineSql: String = {
    val dsub = 64 / PqSub
    val approxChain = (1 to PqSub).map(m => s"ts[$m]").mkString(" + ")
    s"""WITH c AS (SELECT cid, cv::DOUBLE[] AS cv FROM $FixtureSql),
       |cb AS (SELECT sub, cid, cv::DOUBLE[] AS cv FROM $PqResidualFixtureSql),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn
       |      FROM e WHERE vec_id = 0),
       |ca AS (SELECT e.vec_id, e.v, c.cid,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
       |       FROM e, c),
       |cell AS (SELECT vec_id, v, cid FROM ca WHERE rn = 1),
       |probe AS (SELECT cid FROM c, q
       |          ORDER BY list_distance(qv, cv), cid LIMIT $PqNProbe),
       |p AS (SELECT vec_id, v, cid FROM cell
       |      WHERE cid IN (SELECT cid FROM probe)),
       |pr AS (SELECT p.vec_id, p.cid,
       |         list_transform(range(1, 65),
       |           i -> CAST(CAST(p.v[i] - c.cv[i] AS FLOAT) AS DOUBLE)) AS rv
       |       FROM p JOIN c ON p.cid = c.cid),
       |a AS (SELECT pr.vec_id, pr.cid AS pcid, cb.sub, cb.cv,
       |        row_number() OVER (PARTITION BY pr.vec_id, cb.sub
       |          ORDER BY list_distance(list_slice(pr.rv, cb.sub*$dsub+1, cb.sub*$dsub+$dsub), cb.cv), cb.cid) AS rn
       |      FROM pr, cb),
       |sel AS (SELECT vec_id, pcid, sub, cv FROM a WHERE rn = 1),
       |t0 AS (SELECT sel.vec_id, sel.pcid, sel.sub, sel.cv,
       |         list_slice(q.qv, sel.sub*$dsub+1, sel.sub*$dsub+$dsub) AS qs
       |       FROM sel, q),
       |t AS (SELECT vec_id, pcid, sub, -(list_dot_product(qs, cv)) AS term FROM t0),
       |l AS (SELECT vec_id, pcid, list(term ORDER BY sub) AS ts
       |      FROM t GROUP BY vec_id, pcid),
       |cc AS (SELECT l.vec_id, -(list_dot_product(q.qv, c.cv)) AS cconst, l.ts
       |       FROM l JOIN c ON l.pcid = c.cid, q),
       |n AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |d AS (SELECT cc.vec_id,
       |        CASE WHEN n.nrm = 0 OR q.qn = 0 THEN 'infinity'::DOUBLE
       |             ELSE 1 + (cconst + $approxChain) / (n.nrm * q.qn) END AS approx
       |      FROM cc JOIN n ON cc.vec_id = n.vec_id, q),
       |r AS (SELECT vec_id FROM d ORDER BY approx, vec_id LIMIT $IvfPqRescore)
       |SELECT p.vec_id, round(${VectorSearchQueries.distSql("cosine", "p.v", "q.qv")}, 6) + 0 AS distance
       |FROM p, q WHERE p.vec_id IN (SELECT vec_id FROM r)
       |ORDER BY distance, vec_id LIMIT $K""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("ann_ivf_topk", ivfTopk, Some(ivfTopkSql)),
    Q("ann_ivf_pq_cosine", ivfPqCosine, Some(ivfPqCosineSql)),
    Q("ann_pq_topk", pqTopk, Some(pqTopkSql)),
    Q("ann_pq_dot", pqDot, Some(pqDotSql)),
    Q("ann_pq_cosine", pqCosine, Some(pqCosineSql)),
    Q("ann_ivf_pq_topk", ivfPqTopk, Some(ivfPqTopkSql)),
    Q("ann_sq8_topk", sq8Topk, Some(sq8TopkSql)),
    Q("ann_bq_topk", bqTopk, Some(bqTopkSql)),
    Q("ann_ivf_bq_topk", ivfBqTopk, Some(ivfBqTopkSql)),
    Q("ann_sq8_cosine", sq8Cosine, Some(sq8CosineSql)),
    Q("ann_ivf_sq8_topk", ivfSq8Topk, Some(ivfSq8TopkSql)),
  )
}
