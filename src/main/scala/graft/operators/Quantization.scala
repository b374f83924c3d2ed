package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization for embedding columns: each float32 vector is
  * stored as uint8 codes + a per-vector (min, max) pair — 4x smaller than
  * float32, the standard memory/scan-cost lever for billion-vector search
  * (as published for FAISS's SQ8 / ScaNN's quantized scoring).
  *
  * Encode per element: `code = floor((x - mn) * 255.0 / (mx - mn) + 0.5)`,
  * decode `mn + (code * (mx - mn)) / 255.0` — both written so an SQL
  * oracle reproduces every code and every approximate distance
  * bit-for-bit (floor(+0.5) instead of round() dodges engine-specific
  * rounding-mode differences; all arithmetic is double, left-to-right).
  *
  * Search ([[search]]) runs the shared compact leg of
  * [[VectorSearch.nearest]]: an approximate top-R over the COMPACT
  * columns only, the library METRIC scored over the decoded codes (codes
  * are metric-independent: the same stored representation serves
  * euclidean, cosine, and dot_product), then an exact rescore of the R
  * survivors with the same metric.
  */
object Quantization {

  /** Add (qmin, qmax, codes) columns quantizing `emb`. A constant vector
    * (max == min) encodes to all-zero codes and decodes to min exactly. */
  def encode(df: DataFrame, emb: Column): DataFrame = {
    val embD = emb.cast("array<double>")
    val mn = array_min(embD)
    val mx = array_max(embD)
    df.withColumn("qmin", mn)
      .withColumn("qmax", mx)
      .withColumn("codes",
        when(col("qmax") === col("qmin"), transform(embD, _ => lit(0)))
          .otherwise(transform(embD, x =>
            floor((x - col("qmin")) * lit(255.0) / (col("qmax") - col("qmin"))
              + lit(0.5)).cast("int"))))
  }

  /** Two-phase quantized search ([[VectorSearch.Sq8]]): approximate
    * `metric` top-`rescore` on the codes, exact `metric` top-`k` on the
    * survivors. Output: (idCol, distance) in (distance, id) order,
    * distance = round(exact, 6) + 0.0.
    *
    * `metric` has NO default on purpose: both phases score with it, so a
    * caller that forgot to thread the library metric through would
    * silently rank under the wrong metric — the signature makes that a
    * compile error instead. */
  def search(encoded: DataFrame, embCol: String, idCol: String,
             query: Array[Float], k: Int, rescore: Int,
             metric: String): DataFrame = {
    require(k > 0 && rescore >= k, "need k > 0 and rescore >= k")
    VectorSearch.single(encoded.select(col(idCol).as("id"), col(embCol).as("embedding"),
        col("codes"), col("qmin"), col("qmax")),
      idCol, query, None, metric, k, VectorSearch.Sq8(rescore))
  }
}
