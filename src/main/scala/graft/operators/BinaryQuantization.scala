package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binary (1-bit) quantization — the cheapest rung of the compression
  * ladder below SQ8/PQ (as published for FAISS's binary indexes and the
  * modern embedding-API "binary embeddings" offerings): each dimension
  * keeps only its SIGN, packed 31 dims per INT word, giving a 32x
  * smaller scan than float32 with Hamming distance as the approximate
  * score. Sign-bit Hamming approximates COSINE order (it is blind to
  * magnitude); [[searchStored]] runs the shared compact leg of
  * [[VectorSearch.nearest]] ([[VectorSearch.Bq]]).
  *
  * Every stage (MSB-first fold encode, per-word XOR bit_count, the
  * (hamming, id) cut, the exact rescore) is plain Column arithmetic a
  * SQL oracle replays bit-for-bit.
  */
object BinaryQuantization {

  /** Hamming distance between two packed-word arrays (long or int words). */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)

  // The packing: the engine's shared per-chunk `codes` column is
  // array<int> (it already carries SQ8 bytes and PQ centroid ids), so
  // signs pack at 31 bits per int word. The fold is `acc*2 + bit` (no
  // shift-by-column exists as a portable expression), and DuckDB INT
  // arithmetic is CHECKED — a 32-bit fold would overflow-throw in the
  // oracle while Java silently wraps; 31 bits keep every word positive
  // in both engines.
  val BitsPerIntWord = 31

  /** Int-word count for a `dim`-dimensional vector. */
  def intWordsFor(dim: Int): Int = (dim + BitsPerIntWord - 1) / BitsPerIntWord

  /** Packed sign-bit words of a `dim`-dimensional vector for the shared
    * `codes` column: word w holds dims [w*31, w*31+30], MSB-first fold
    * (`acc*2 + (x > 0)`); positions past `dim` contribute 0. element_at
    * is reached only under the bounds predicate of an OUTER when —
    * CaseWhen evaluates branch values conditionally in both eval and
    * codegen, so padding positions never evaluate an out-of-range
    * element_at (which would throw under spark.sql.ansi.enabled=true;
    * relying on And short-circuiting instead would make that behavior
    * silently load-bearing). */
  def encodeWordsInt(emb: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(intWordsFor(dim) - 1)), w =>
      aggregate(sequence(lit(0), lit(BitsPerIntWord - 1)), lit(0), (acc, i) => {
        val idx = w * BitsPerIntWord + i + 1   // 1-based element index
        acc * 2 + when(idx <= least(lit(dim), size(emb)),
            when(element_at(emb, idx) > 0f, 1).otherwise(0))
          .otherwise(0)
      }))

  /** Driver-local twin of [[encodeWordsInt]] — the single-row ingest
    * path packs without a Spark job; bit-identical to the column fold
    * (same MSB-first order, same strict `> 0` sign rule). */
  def encodeWordsIntLocal(v: Seq[Float]): Seq[Int] = {
    val dim = v.length
    (0 until intWordsFor(dim)).map { w =>
      var acc = 0
      var i = 0
      while (i < BitsPerIntWord) {
        val idx = w * BitsPerIntWord + i
        acc = acc * 2 + (if (idx < dim && v(idx) > 0f) 1 else 0)
        i += 1
      }
      acc
    }
  }

  /** DuckDB twin of [[encodeWordsInt]]: the 31-bit MSB-first packing
    * fold over a DOUBLE[] expression `v`, generated HERE so every
    * oracle that replays the packing shares one definition with the
    * Spark fold above (same index guard, same strict `> 0` sign rule).
    * The fragment is margin-stripped and safe to interpolate into a
    * caller's own stripMargin block. */
  def encodeWordsIntSql(v: String, dim: Int): String =
    s"""list_transform(range(0, ${intWordsFor(dim)}), w ->
       |      list_reduce(list_prepend(0::INT,
       |        list_transform(range(0, $BitsPerIntWord), i ->
       |          CASE WHEN w * $BitsPerIntWord + i + 1 <= $dim
       |                AND $v[(w * $BitsPerIntWord + i + 1)::INT] > 0
       |               THEN 1::INT ELSE 0::INT END)),
       |        (a, b) -> a * 2 + b))""".stripMargin

  /** DuckDB twin of [[hamming]] over two packed int-word arrays `a` and
    * `b` (per-word XOR + bit_count, summed as BIGINT). Paired with
    * [[encodeWordsIntSql]] the oracle replays the whole approx phase. */
  def hammingSql(a: String, b: String, dim: Int): String =
    s"""list_sum(list_transform(range(1, ${intWordsFor(dim) + 1}), j ->
       |      bit_count(xor($a[j::INT], $b[j::INT]))))::BIGINT""".stripMargin

  /** Two-phase binary search over a table whose packed sign words live
    * in the shared int-word `codes` column (the storage="bq" funnel):
    * Hamming top-`rescore` scanning ONLY the codes, exact `metric`
    * top-`k` rescore of the survivors. Output: (idCol, distance) in
    * (distance, id) order with the usual round(…, 6) contract. */
  def searchStored(encoded: DataFrame, embCol: String, idCol: String,
                   query: Array[Float], k: Int, rescore: Int,
                   metric: String, codesCol: String = "codes"): DataFrame = {
    require(k > 0 && rescore >= k, "need k > 0 and rescore >= k")
    val nWords = intWordsFor(query.length)
    // LOUD in-plan guard: a stored code packed for a different dimension
    // would zip_with-pad to NULL hammings, and ascending nulls-first
    // ordering would silently hand the rescore an arbitrary id-ordered
    // subset instead of failing
    val codes = when(size(col(codesCol)) =!= nWords,
      raise_error(concat(lit("codes word count "), size(col(codesCol)),
        lit(s" != query word count $nWords — codes were packed for a" +
          " different dimension"))))
      .otherwise(col(codesCol))
    VectorSearch.single(encoded.select(col(idCol).as("id"), col(embCol).as("embedding"),
        codes.as("codes")),
      idCol, query, None, metric, k, VectorSearch.Bq(rescore))
  }
}
