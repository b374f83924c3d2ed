package perfbench

import graft.engine.VectorEngine
import graft.functions.{VectorExpressions, VectorFunctions}
import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Layer probes of the traced run: each calls one public kernel or operator
  * on a pinned frame of the workload's own generated inputs, inside a span
  * named after the layer, and reports what it measured. Probes run after
  * the timed loop, only when tracing. */
final class Probes(ctx: Ctx) {
  import ctx.spark
  import Probes._

  /** Run `body` `reps` times, each in its own span; median seconds. */
  private def timed[A](span: String, reps: Int = 3)(body: => A): (Double, A) = {
    var last: A = null.asInstanceOf[A]
    val secs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      last = ctx.tracer.span(span)(body)
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(secs) -> last
  }

  /** Distance, bucket and cell kernels over pinned (id, embedding) rows. */
  def vectorKernels(rowsDf: DataFrame, q: Array[Float]): Unit = {
    val pinned = rowsDf.select(col("id"), col("embedding")).localCheckpoint()
    val n = pinned.count().toDouble
    val dim = q.length
    val qv = array(q.toIndexedSeq.map(x => lit(x)): _*).cast("array<float>")
    def rate(name: String, df: DataFrame, c: org.apache.spark.sql.Column): Unit = {
      val (s, _) = timed(s"functions.$name")(df.agg(max(c)).collect())
      ctx.value(s"functions.$name.rows_per_s", "rows/s", n / s)
    }
    rate("cosine", pinned, VectorFunctions.cosineDistance(col("embedding"), qv))
    rate("euclidean", pinned, VectorFunctions.euclideanDistance(col("embedding"), qv))
    val encoded = Quantization.encode(pinned, col("embedding")).localCheckpoint()
    encoded.count()
    rate("sq8_distance", encoded,
      VectorExpressions.sq8Distance(col("codes"), col("qmin"), col("qmax"), q, "cosine"))
    rate("lsh_bucket", pinned, VectorFunctions.lshBucket(col("embedding"),
      VectorFunctions.projectionMatrix(VectorEngine.DefaultLshProjections, dim, 42L)))
    val cents = pinned.limit(Cells).collect().map(_.getSeq[Float](1).toArray)
    rate("nearest_cell", pinned, VectorExpressions.nearestCell(col("embedding"),
      cents.indices.map(_.toLong).toArray, cents))
  }

  /** Tokenizer and shingle/minhash kernels over pinned (id, text) rows. */
  def textKernels(docs: DataFrame): Unit = {
    val pinned = docs.select(col("id"), col("text")).localCheckpoint()
    val n = pinned.count().toDouble
    def rate(name: String, df: DataFrame, c: org.apache.spark.sql.Column): Unit = {
      val (s, _) = timed(s"functions.$name")(df.agg(sum(c)).collect())
      ctx.value(s"functions.$name.docs_per_s", "docs/s", n / s)
    }
    rate("tokens", pinned, size(TextAnalysis.tokens(col("text"))))
    rate("hashed_shingles", pinned, size(NearDup.hashedShingles(col("text"), 3)))
    val hashed = pinned.select(NearDup.hashedShingles(col("text"), 3).as("hsh"))
      .localCheckpoint()
    hashed.count()
    rate("minhash_signature", hashed,
      element_at(NearDup.minhashSignature(col("hsh"), 16), 1) % lit(1000L))
  }

  /** Search-side probes: kernels over the flat library's rows, text
    * kernels over a generated corpus, and the top-k and index operators on
    * the stored rows of each library (`scratch` holds the lsh one). */
  def search(eng: VectorEngine, scratch: VectorEngine, v: Gen.Vectors): Unit = {
    val rows = eng.chunksDf.where(col("library_id") === "flat")
    vectorKernels(rows, v.queries(0))
    textKernels(docsFrame(Gen.corpus(ctx.seed, 2000).docs))
    val k = SearchBench.K
    val qs = v.queries.take(5)

    val scored = rows.select(col("id"), col("embedding")).crossJoin(broadcast(
        spark.createDataFrame(v.queries.take(SearchBench.BatchQ).zipWithIndex
          .map { case (q, i) => (i.toLong, q) }.toSeq).toDF("qid", "qvec")))
      .select(col("qid"), col("id"),
        (round(VectorFunctions.cosineDistance(col("embedding"), col("qvec")), 6)
          + lit(0.0d)).as("distance"))
      .localCheckpoint()
    scored.count()
    val (topS, got) = timed("operators.topk_per_group")(
      TopK.perGroup(scored, "qid", "distance", "id", k).count())
    ctx.require("TopK.perGroup keeps k per query", got == k.toLong * SearchBench.BatchQ, s"$got")
    ctx.value("operators.topk_per_group.s", "s", topS)

    val cents = v.centers.indices.map(i => IvfIndex.Centroid(i.toLong, v.centers(i)))
    val ivf = eng.chunksDf.where(col("library_id") === "ivf")
      .select(col("id"), col("embedding"), col("bucket").as("cell")).localCheckpoint()
    ivf.count()
    val nprobe = VectorEngine.DefaultIvfNProbe
    val ivfS = qs.map { q =>
      timed("operators.ivf_search", 1)(
        IvfIndex.search(ivf, "embedding", "id", cents, q, nprobe, "cosine", k).collect())._1
    }
    ctx.value("operators.ivf_search.s", "s", Stats.median(ivfS))
    val scanned = qs.map { q =>
      ivf.where(col("cell").isin(IvfIndex.nearestCentroids(q, cents, nprobe): _*)).count()
    }
    ctx.value("operators.ivf_search.rows_per_result", "rows", scanned.sum.toDouble / (qs.length * k))

    val lsh = scratch.chunksDf.where(col("library_id") === "lsh")
      .select(col("id"), col("embedding"), col("bucket")).localCheckpoint()
    lsh.count()
    val matrix = scratch.lshProjectionMatrix("lsh")
    val hist = scratch.bucketHistogram("lsh").toSeq
    val lshS = qs.map { q =>
      timed("operators.lsh_search_adaptive", 1)(LshIndex.searchAdaptive(lsh, q.toSeq,
        matrix, "cosine", k, idCol = "id", hist = Some(hist)).collect())._1
    }
    ctx.value("operators.lsh_search_adaptive.s", "s", Stats.median(lshS))

    val sq8 = Quantization.encode(rows.select(col("id"), col("embedding")), col("embedding"))
      .localCheckpoint()
    sq8.count()
    val sq8S = qs.map { q =>
      timed("operators.sq8_search", 1)(Quantization.search(sq8, "embedding", "id", q, k,
        VectorEngine.defaultRescore(VectorEngine.StorageSq8), "cosine").collect())._1
    }
    ctx.value("operators.sq8_search.s", "s", Stats.median(sq8S))
  }

  /** Curation-side probes: text kernels over the corpus, vector kernels
    * over the ingested chunk embeddings, and the operators the chain does
    * not call directly. */
  def curate(docs: DataFrame, evalDf: DataFrame, chunks: DataFrame,
             expectedHits: Set[Long], edgesPerPass: Double): Unit = {
    textKernels(docs)
    val q = chunks.select(col("embedding")).head().getSeq[Float](0).toArray
    vectorKernels(chunks, q)
    val sigs = Dedup.exact(docs, col("text"), col("id")).select(col("id"),
        NearDup.minhashSignature(NearDup.hashedShingles(col("text"), 3), 16).as("sig"))
      .localCheckpoint()
    sigs.count()
    val (_, cand) = timed("operators.banded_candidates", 1)(
      NearDup.bandedCandidates(sigs, "id", "sig", 2).count())
    ctx.value("operators.banded_candidates.rows", "rows", cand.toDouble)
    ctx.value("operators.near_dup_edges.rows", "rows", edgesPerPass)
    ctx.value("operators.near_dup.confirm_ratio", "ratio", edgesPerPass / math.max(1L, cand))
    val (gs, _) = timed("operators.gopher_flags")(
      TextAnalysis.gopherQualityFlags(docs, col("id"), col("text")).agg(sum("passes")).head())
    ctx.value("operators.gopher_flags.s", "s", gs)
    val (cs, hits) = timed("operators.contamination")(
      TrainingData.contaminationHits(docs, col("id"), col("text"), evalDf, col("text"), 8)
        .select(col("id")).collect().map(_.getLong(0)).toSet)
    ctx.require("contamination finds every quoting document",
      expectedHits.subsetOf(hits), s"missed ${(expectedHits -- hits).take(5)}")
    ctx.value("operators.contamination.s", "s", cs)
  }

  private def docsFrame(docs: Array[(Long, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(docs.toSeq, ctx.cores))
      .toDF("id", "text")
}

object Probes {
  val Cells = 64

  /** Engine and operator spans whose Spark work the traced run reports. */
  val RuntimeSpans: Seq[String] = Seq(
    "engine.search", "engine.search_filtered", "engine.search_batch",
    "engine.add_chunks", "engine.train_ivf", "engine.open", "engine.save",
    "engine.save.incremental", "engine.curate_and_ingest",
    "engine.curate_and_ingest.incremental",
    "operators.topk_per_group", "operators.ivf_search",
    "operators.lsh_search_adaptive", "operators.sq8_search",
    "operators.exact_dedup", "operators.near_dup_edges",
    "operators.components_star", "operators.jaccard_pairs",
    "operators.bigram_logprobs", "operators.gopher_flags",
    "operators.contamination")

  /** Per-span figures of a traced run: median seconds per call, and per
    * call the shuffle written, the spill, the GC time, and the share of
    * the span's wall time × cores that tasks were running. */
  def spanMetrics(ctx: Ctx): Unit = {
    val t = ctx.tracer
    t.drain()
    val byName = t.spans.groupBy(_.name)
    for (name <- RuntimeSpans; spans <- byName.get(name)) {
      val calls = spans.length.toDouble
      val c = spans.map(s => t.inclusive(s.id)).reduce(_ + _)
      val wallMs = spans.map(_.seconds).sum * 1e3
      val med = Stats.median(spans.map(_.seconds).toSeq)
      if (name == "engine.add_chunks") ()
      else if (!ctx.metrics.contains(s"$name.s")) ctx.value(s"$name.s", "s", med)
      ctx.value(s"$name.shuffle_write_bytes", "B", c.shuffleWrite / calls)
      ctx.value(s"$name.spill_bytes", "B", c.spill / calls)
      ctx.value(s"$name.gc_s", "s", c.gcMs / 1e3 / calls)
      ctx.value(s"$name.busy_frac", "ratio", c.runMs / math.max(1e-9, wallMs * ctx.cores))
    }
    def perCall(name: String)(f: Tracer.Counts => Double): Option[Double] =
      byName.get(name).map(ss => ss.map(s => f(t.inclusive(s.id))).sum / ss.length)
    for ((name, what) <- Seq("engine.search" -> "jobs", "engine.search" -> "tasks",
         "engine.search_filtered" -> "jobs", "engine.search_batch" -> "jobs",
         "engine.curate_and_ingest" -> "jobs", "operators.components_star" -> "jobs");
         v <- perCall(name)(c => if (what == "jobs") c.jobs.toDouble else c.tasks.toDouble))
      ctx.value(s"$name.$what", "count", v)
    byName.get("engine.search_batch").foreach { ss =>
      ctx.value("engine.search_batch.task_skew", "ratio",
        Stats.median(ss.map(s => t.inclusive(s.id).skew).toSeq))
    }
  }
}
