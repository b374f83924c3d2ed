package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Quantization

class QuantizationSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("encode: codes bounded to [0,255], extremes exact, constant vector all-zero") {
    val df = Seq(
      (1L, Seq(-1.0f, 0.0f, 0.5f, 1.0f)),
      (2L, Seq(3.0f, 3.0f, 3.0f, 3.0f)) // constant: mx == mn
    ).toDF("id", "v")
    val enc = Quantization.encode(df, col("v")).orderBy("id").collect()
    def codes(r: org.apache.spark.sql.Row): Seq[Int] =
      r.getSeq[Int](r.fieldIndex("codes")).toSeq
    val c1 = codes(enc(0))
    assert(c1.head == 0 && c1.last == 255) // min -> 0, max -> 255
    assert(c1.forall(c => c >= 0 && c <= 255))
    assert(codes(enc(1)) == Seq(0, 0, 0, 0))
    assert(enc(1).getAs[Double]("qmin") == 3.0d)
  }

  test("decode error bounded by half a quantization step per element") {
    val rng = new scala.util.Random(7)
    val df = (0L until 100L).map(i => (i, Seq.fill(32)(rng.nextFloat() * 4 - 2)))
      .toDF("id", "v")
    val worst = Quantization.encode(df, col("v"))
      .withColumn("err", aggregate(
        zip_with(col("v").cast("array<double>"),
          transform(col("codes"), cc =>
            col("qmin") + (cc.cast("double") * (col("qmax") - col("qmin"))) / lit(255.0)),
          (x, d) => abs(x - d)),
        lit(0.0d), (acc, x) => greatest(acc, x)))
      .agg(max(col("err") / ((col("qmax") - col("qmin")) / lit(255.0))))
      .head().getDouble(0)
    // worst per-element error, in units of one quantization step
    assert(worst <= 0.5 + 1e-9, s"worst error $worst steps > half a step")
  }

  // One recall gate per supported metric — euclidean, the reference's
  // default (cosine), AND dot_product — so a ranking-quality regression
  // in any kernel path is caught, not just the two a query happens to use.
  for (metric <- Seq("euclidean", "cosine", "dot_product"))
    test(s"sq8 search: recall@10 vs exact flat search at sf0.01 (R=50, $metric)") {
      val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      val encoded = Quantization.encode(emb, col("embedding")).localCheckpoint()
      val queries = emb.where(col("vec_id") < 20)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val recalls = queries.map { case (_, q) =>
        val qCol = array(q.toIndexedSeq.map(lit(_)): _*).cast("array<float>")
        val flat = emb
          .withColumn("distance", round(
            graft.functions.VectorFunctions.distance(metric)(col("embedding"), qCol),
            6) + lit(0.0d))
          .orderBy("distance", "vec_id").limit(10)
          .select("vec_id").as[Long].collect().toSet
        val sq8 = Quantization.search(encoded, "embedding", "vec_id", q,
          k = 10, rescore = 50, metric = metric)
          .select("vec_id").as[Long].collect().toSet
        (flat intersect sq8).size.toDouble / flat.size
      }
      val recall = recalls.sum / recalls.length
      info(f"SQ8 $metric recall@10 over ${queries.length} queries: $recall%.3f")
      // 8-bit codes + 5x rescore headroom: near-exact is the expectation
      assert(recall >= 0.95, f"$metric recall@10 $recall%.3f < 0.95")
    }

  test("binary quantization: word packing is the MSB-first 31-bit fold " +
    "(hand case), hamming is symmetric/zero-on-self") {
    import graft.operators.BinaryQuantization
    // dim 3: bits 1,0,1 then 28 zero slots -> 2^30 + 2^28
    val df = Seq((1L, Seq(1.0f, -1.0f, 2.0f))).toDF("id", "v")
    val words = df.select(BinaryQuantization.encodeWordsInt(col("v"), 3))
      .as[Seq[Int]].head()
    assert(words == Seq((1 << 30) + (1 << 28)))
    // zero counts as non-positive (x > 0 strictly)
    val z = Seq((1L, Seq(0.0f, 0.5f))).toDF("id", "v")
      .select(BinaryQuantization.encodeWordsInt(col("v"), 2)).as[Seq[Int]].head()
    assert(z == Seq(1 << 29))
    // hamming: zero on self, counts flipped signs
    val pair = Seq((Seq(1.0f, -1.0f, 1.0f, -1.0f), Seq(1.0f, 1.0f, -1.0f, -1.0f)))
      .toDF("a", "b")
      .select(BinaryQuantization.hamming(
        BinaryQuantization.encodeWordsInt(col("a"), 4),
        BinaryQuantization.encodeWordsInt(col("b"), 4)).as("h"),
        BinaryQuantization.hamming(
          BinaryQuantization.encodeWordsInt(col("a"), 4),
          BinaryQuantization.encodeWordsInt(col("a"), 4)).as("self"))
      .as[(Long, Long)].head()
    assert(pair == ((2L, 0L)))
    // dims past one word spill into the next (65 dims -> 3 words)
    val wide = Seq((1L, Seq.fill(65)(1.0f))).toDF("id", "v")
      .select(BinaryQuantization.encodeWordsInt(col("v"), 65)).as[Seq[Int]].head()
    assert(wide.length == 3)
    assert(wide(0) == Int.MaxValue && wide(1) == Int.MaxValue) // 31 set bits each
    assert(wide(2) == (7 << 28))   // dims 63,64,65 -> top 3 bits of word 2
    // a query packed for a DIFFERENT dimension fails LOUDLY (null-padded
    // hammings would otherwise silently rank an arbitrary subset)
    val enc128 = Seq((1L, Seq.fill(128)(1.0f))).toDF("id", "v")
      .withColumn("codes", BinaryQuantization.encodeWordsInt(col("v"), 128))
    val thrown = intercept[Exception] {
      BinaryQuantization.searchStored(enc128, "v", "id", Array.fill(64)(1.0f),
        k = 1, rescore = 1, metric = "cosine").collect()
    }
    assert(thrown.getMessage != null)
  }

  test("binary quantization search: recall@10 vs exact flat (cosine, " +
    "R=50) clears the 1-bit floor; full rescore is EXACT") {
    import graft.operators.BinaryQuantization
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val n = emb.count().toInt
    val encoded = emb.withColumn("codes",
        BinaryQuantization.encodeWordsInt(col("embedding"), 64))
      .localCheckpoint()
    val queries = emb.where(col("vec_id") < 20)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val recalls = queries.map { case (_, q) =>
      val qCol = array(q.toIndexedSeq.map(lit(_)): _*).cast("array<float>")
      val flat = emb
        .withColumn("distance", round(
          graft.functions.VectorFunctions.distance("cosine")(col("embedding"), qCol),
          6) + lit(0.0d))
        .orderBy("distance", "vec_id").limit(10)
        .select("vec_id").as[Long].collect().toSet
      val bq = BinaryQuantization.searchStored(encoded, "embedding", "vec_id", q,
        k = 10, rescore = 50, metric = "cosine")
        .select("vec_id").as[Long].collect().toSet
      (flat intersect bq).size.toDouble / flat.size
    }
    val recall = recalls.sum / recalls.length
    info(f"BQ cosine recall@10 over ${queries.length} queries: $recall%.3f")
    // 1 bit/dim is the lossiest representation in the engine: the gate
    // is a floor against breakage, not a quality claim (SQ8/PQ are the
    // quality rungs; BQ is the scan-cost rung)
    assert(recall >= 0.5, f"BQ recall@10 $recall%.3f < 0.5")
    // with rescore = n the approximate phase cannot lose anyone: exact
    val (_, q0) = queries.head
    val qCol = array(q0.toIndexedSeq.map(lit(_)): _*).cast("array<float>")
    val flat0 = emb.withColumn("distance", round(
        graft.functions.VectorFunctions.distance("cosine")(col("embedding"), qCol),
        6) + lit(0.0d))
      .orderBy("distance", "vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSeq
    val full = BinaryQuantization.searchStored(encoded, "embedding", "vec_id", q0,
      k = 10, rescore = n, metric = "cosine")
      .select("vec_id").as[Long].collect().toSeq
    assert(full == flat0)
  }

  test("search guards: k > 0, rescore >= k") {
    val df = Quantization.encode(Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "v"), col("v"))
    intercept[IllegalArgumentException] {
      Quantization.search(df, "v", "id", Array(1.0f, 2.0f), k = 0, rescore = 5, metric = "euclidean")
    }
    intercept[IllegalArgumentException] {
      Quantization.search(df, "v", "id", Array(1.0f, 2.0f), k = 10, rescore = 5, metric = "euclidean")
    }
  }
}
