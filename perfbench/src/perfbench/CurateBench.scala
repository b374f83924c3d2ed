package perfbench

import graft.engine.{GraftSettings, VectorEngine}
import graft.operators.{ConnectedComponents, Dedup, NearDup, TrainingData}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The write workload: curate a generated corpus and ingest what survives.
  *
  * One client thread runs the chain in a closed loop, one pass after the
  * other, each pass into a fresh engine and state directory:
  *  1. Dedup.exact;
  *  2. NearDup.nearDupEdges then ConnectedComponents.componentsStar,
  *     keeping the minimum-id document of each component;
  *  3. NearDup.jaccardPairs at threshold 0.8;
  *  4. TrainingData.bigramLogProbs over the survivors;
  *  5. curateAndIngest of the survivors into a random_projection library,
  *     with the benchmark's deterministic embed stage;
  *  6. the first full save, then open and chunkCount;
  *  7. two arriving batches (5 % of the corpus each, half of them near
  *     copies), each a curateAndIngest into the reopened engine followed
  *     by an incremental save.
  * No vector search runs. */
final class CurateBench(ctx: Ctx) {
  import ctx.spark
  import CurateBench._

  private var corpus: Gen.Corpus = _

  final case class Inputs(docs: DataFrame, eval: DataFrame, arrivals: Seq[DataFrame])

  final case class Pass(chainS: Double, ingestS: Double, ingested: Long,
                        saveS: Double, openS: Double, stateBytes: Long,
                        arrivingS: Seq[Double], edges: Long, recall: Double,
                        chunks: DataFrame)

  def run(): Unit = {
    // ------------------------------------------------------------ setup
    // setup_s runs from JVM start to the first pass: the session and the
    // generated inputs
    val inputs = generate()
    ctx.value("setup.session_s", "s", ctx.sessionReadyS, report = false)
    ctx.value("setup_s", "s", ctx.elapsedSinceJvmStart)
    ctx.sampleHeap()

    // ------------------------------------------------------- timed loop
    // no warm-up: the first pass runs cold, as a curation job submitted
    // to a fresh JVM does
    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    while (passes.isEmpty || System.nanoTime() < deadline) {
      passes += pass(inputs, s"${ctx.stateDir}-${passes.length}")
      ctx.sampleHeap()
    }

    // ---------------------------------------------------------- metrics
    val chain = passes.map(_.chainS).toSeq
    ctx.timing("chain_s", "s", chain, report = false)
    ctx.value("throughput_per_s", "docs/s", NDocs / Stats.median(chain))
    val arriving = passes.flatMap(_.arrivingS).toSeq
    ctx.timing("arriving_batch_ms", "ms", arriving.map(_ * 1e3), report = false)
    ctx.value("latency_p50_ms", "ms", Stats.median(arriving) * 1e3)
    ctx.value("recall", "ratio", Stats.median(passes.map(_.recall).toSeq))
    ctx.value("ingest_rows_per_s", "rows/s",
      Stats.median(passes.map(p => p.ingested / p.ingestS).toSeq), report = false)
    ctx.timing("save_s", "s", passes.map(_.saveS).toSeq, report = false)
    ctx.timing("open_s", "s", passes.map(_.openS).toSeq, report = false)
    ctx.value("state_bytes_per_chunk", "B",
      Stats.median(passes.map(p => p.stateBytes.toDouble / p.ingested).toSeq))
    ctx.value("live_heap_peak_mb", "MB", ctx.heapPeakMb)

    if (ctx.traced) {
      ctx.value("trace.latency_p50_ms", "ms", Stats.median(arriving) * 1e3)
      ctx.value("engine.save.bytes_written", "B",
        Stats.median(passes.map(_.stateBytes.toDouble).toSeq))
      // tracing overhead: the same warm operator call, alternately traced
      // and untraced
      val (on, off) = (0 until 6).map { i =>
        ctx.tracer.active = i % 2 == 0
        val t0 = System.nanoTime()
        ctx.tracer.span("trace.probe")(Dedup.exact(inputs.docs, col("text"), col("id")).count())
        (i % 2 == 0, (System.nanoTime() - t0) / 1e9)
      }.partition(_._1)
      ctx.tracer.active = true
      ctx.value("trace.overhead_frac", "ratio",
        Stats.median(on.map(_._2)) / Stats.median(off.map(_._2)) - 1.0)
      new Probes(ctx).curate(inputs.docs, inputs.eval, passes.last.chunks, expectedHits,
        Stats.median(passes.map(_.edges.toDouble).toSeq))
    }
  }

  /** The setup: generate the corpus, eval set and arriving batches and pin
    * them as frames. */
  private def generate(): Inputs = {
    corpus = Gen.corpus(ctx.seed, NDocs)
    ctx.inputs("corpus", corpus.params +
      ("distinct_texts" -> corpus.distinctTexts) + ("arriving_batches" -> NArriving) +
      ("arriving_docs" -> NDocs / 20))
    def frame(rows: Seq[(Long, String)]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores))
        .toDF("id", "text").localCheckpoint()
    val docs = frame(corpus.docs.toSeq)
    val eval = frame(corpus.eval.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    val arrivals = (0 until NArriving).map(b => frame(
      Gen.arriving(ctx.seed, b, corpus, NDocs / 20, firstId = NDocs + 100000L * (b + 1)).toSeq))
    Inputs(docs, eval, arrivals)
  }

  /** Documents that contain an eval passage: the quoting originals and
    * every copy of one. */
  private def expectedHits: Set[Long] =
    corpus.quoting ++ (corpus.exactPairs ++ corpus.nearPairs)
      .collect { case (copy, src) if corpus.quoting(src) => copy }

  private def pass(in: Inputs, dir: String): Pass = {
    val id = col("id"); val text = col("text")
    val t0 = System.nanoTime()
    val (deduped, nDeduped) = ctx.tracer.span("operators.exact_dedup") {
      val d = Dedup.exact(in.docs, text, id).localCheckpoint(); (d, d.count())
    }
    ctx.require("Dedup.exact keeps one document per distinct text",
      nDeduped == corpus.distinctTexts, s"kept $nDeduped of ${corpus.distinctTexts}")
    val (edges, nEdges) = ctx.tracer.span("operators.near_dup_edges") {
      val e = NearDup.nearDupEdges(deduped, id, text).localCheckpoint(); (e, e.count())
    }
    val losers = ctx.tracer.span("operators.components_star") {
      ConnectedComponents.componentsStar(edges, "id_a", "id_b")
        .where(col("node") =!= col("comp")).select(col("node").as("id")).localCheckpoint()
    }
    val survivors = deduped.join(losers, Seq("id"), "left_anti").localCheckpoint()
    val (nPairs, minJ) = ctx.tracer.span("operators.jaccard_pairs") {
      val r = NearDup.jaccardPairs(deduped, id, text, 3, 0.8)
        .agg(count(lit(1)), min(col("jaccard"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 1.0 else r.getDouble(1))
    }
    ctx.require("jaccardPairs at 0.8", nPairs > 0 && minJ >= 0.8,
      s"$nPairs pairs, min jaccard $minJ")
    val (nLm, maxLp) = ctx.tracer.span("operators.bigram_logprobs") {
      val r = TrainingData.bigramLogProbs(survivors, id, text)
        .agg(count(lit(1)), max(col("avg_logprob"))).head()
      (r.getLong(0), r.getDouble(1))
    }

    val eng = VectorEngine.create(spark, GraftSettings.Defaults.copy(stateDir = dir))
    eng.createLibrary("corpus", EmbDim, "cosine", VectorEngine.IndexKindLsh, id = Some("corpus"))
    eng.createDocument("corpus", "corpus", id = Some("corpus-doc"))
    val t1 = System.nanoTime()
    val report = ctx.tracer.span("engine.curate_and_ingest") {
      eng.curateAndIngest("corpus", "corpus-doc", survivors, id, text, embed,
        in.eval, text)
    }
    val t2 = System.nanoTime()
    val survivorIds = survivors.select(id).collect().map(_.getLong(0)).toSet
    ctx.require("bigramLogProbs scores every survivor",
      nLm == survivorIds.size && maxLp <= 0.0, s"$nLm rows, max $maxLp")
    ctx.require("curateAndIngest ingests and decontaminates",
      report.n_ingested > 0 && report.n_ingested <= report.n_after_decontamination &&
        report.n_after_decontamination <= report.n_after_dsir, report.toString)

    val t3 = System.nanoTime()
    ctx.tracer.span("engine.save")(eng.save(dir))
    val saveS = (System.nanoTime() - t3) / 1e9
    val stateBytes = ctx.bytesUnder(dir)
    val t4 = System.nanoTime()
    val (reopened, stored) = ctx.tracer.span("engine.open") {
      val e = VectorEngine.open(spark, dir); (e, e.chunkCount("corpus"))
    }
    val openS = (System.nanoTime() - t4) / 1e9
    ctx.require("chunkCount after open equals rows ingested",
      stored == report.n_ingested, s"$stored stored, ${report.n_ingested} ingested")

    var total = stored
    val arrivingS = in.arrivals.zipWithIndex.map { case (batch, b) =>
      val t5 = System.nanoTime()
      val r = ctx.tracer.span("engine.curate_and_ingest.incremental") {
        reopened.curateAndIngest("corpus", "corpus-doc", batch, id, text, embed,
          in.eval, text)
      }
      ctx.tracer.span("engine.save.incremental")(reopened.save())
      val s = (System.nanoTime() - t5) / 1e9
      total += r.n_ingested
      ctx.require(s"arriving batch $b lands",
        r.n_ingested > 0 && reopened.chunkCount("corpus") == total,
        s"${r.n_ingested} ingested, ${reopened.chunkCount("corpus")} stored, $total expected")
      s
    }

    // planted copies resolved: a (copy, source) pair of which at most
    // one document survived exact and near dedup
    val planted = corpus.exactPairs ++ corpus.nearPairs
    val resolved = planted.count { case (a, b) => !(survivorIds(a) && survivorIds(b)) }
    Pass((t2 - t0) / 1e9, (t2 - t1) / 1e9, report.n_ingested, saveS, openS, stateBytes,
      arrivingS, nEdges, resolved.toDouble / planted.length,
      reopened.chunksDf.select(col("id"), col("embedding")))
  }
}

object CurateBench {
  val NDocs = 400
  val NArriving = 2
  val EmbDim = 64

  /** Deterministic embed stage: signed feature hashing of the lowercased
    * whitespace tokens into EmbDim dimensions, so near copies embed close
    * and unrelated chunks nearly orthogonal. */
  private val embedUdf = udf { (text: String) =>
    val v = new Array[Float](EmbDim)
    text.toLowerCase.split("\\s+").foreach { w =>
      val h = scala.util.hashing.MurmurHash3.stringHash(w)
      v(Math.floorMod(h, EmbDim)) += (if ((h >>> 16 & 1) == 0) 1f else -1f)
    }
    if (v.forall(_ == 0f)) v(0) = 1f
    v
  }

  val embed: DataFrame => DataFrame =
    df => df.withColumn("embedding", embedUdf(col("text")))
}
