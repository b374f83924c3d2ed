package perfbench

import graft.engine.{GraftSettings, VectorEngine}
import graft.functions.MetadataFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, format_string, lit}
import org.apache.spark.sql.types._

/** The read workload: two cosine libraries over the same clustered
  * vectors, built, saved and reopened in setup.
  *
  *  - flat: every query scores every row, so the distance kernel and the
  *    batch top-k do the work, and results must equal the exact top-k;
  *  - ivf: the mixture's centers are installed as the coarse quantizer,
  *    and a probe reads the nprobe = 4 nearest of 64 cells, a few percent
  *    of the rows, so the search funnel and job launches dominate.
  *
  * The adaptive LSH probe and sq8 storage are measured by the traced
  * run's probes only: more libraries would not fit the run budget.
  *
  * The timed calls run one client thread in a closed loop against the
  * reopened engine, in whole cycles (at least four) over the libraries in
  * a fixed order: per library six single searches, one filtered search (a
  * typed metadata filter keeping 1/8 of the rows) and one 64-query batch
  * search, k = 10. */
final class SearchBench(ctx: Ctx) {
  import ctx.spark
  import SearchBench._

  private val libs: Seq[Lib] = Seq(
    Lib("flat", VectorEngine.IndexKindFlat, VectorEngine.StorageFloat32),
    Lib("ivf", VectorEngine.IndexKindIvf, VectorEngine.StorageFloat32))

  private var vectors: Gen.Vectors = _
  private val truthCache = scala.collection.mutable.Map[(Int, Int), Array[Int]]()

  /** Exact top-k of query `qi` (shard -1 = unfiltered). */
  private def truth(qi: Int, shard: Int): Array[Int] =
    truthCache.getOrElseUpdate((qi, shard),
      Truth.topK(vectors.rows, vectors.queries(qi), K,
        i => shard < 0 || vectors.shard(i) == shard))

  final case class Built(engine: VectorEngine, addS: Double, saveS: Double,
                         openS: Double, stateBytes: Long)

  /** Timings of the timed cycles, per library; traced runs alternate
    * traced and untraced cycles, and the overhead is the difference between
    * the two halves' single-search medians. */
  private val single, filtered, batch = libs.map(_ -> Vector.newBuilder[Double]).toMap
  private val tracedSingle, untracedSingle = Vector.newBuilder[Double]

  def run(): Unit = {
    // ------------------------------------------------------------ setup
    // one cold setup: setup_s runs from JVM start to the end of the
    // warm-up, so it includes the session, input generation, the build,
    // save, open and the warm-up calls
    val built = build(ctx.stateDir)
    val eng = built.engine
    val recall = recallAt10(eng)
    // the planner's and the kernels' code is still being compiled during
    // the first calls (an ivf batch ran 1.7 s in the first cycle and
    // 0.6 s in the eighth), so an untimed cycle of the same calls comes
    // first
    ctx.tracer.active = false
    for (c <- 0 until WarmCycles) cycle(eng, c, record = false)
    ctx.value("setup.session_s", "s", ctx.sessionReadyS, report = false)
    ctx.value("setup_s", "s", ctx.elapsedSinceJvmStart)
    ctx.sampleHeap()

    // ------------------------------------------------------- timed loop
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var c = 0
    while (c < MinCycles || System.nanoTime() < deadline) {
      ctx.tracer.active = c % 2 == 0
      cycle(eng, WarmCycles + c, record = true)
      c += 1
    }
    ctx.tracer.active = true
    ctx.sampleHeap()

    // ---------------------------------------------------------- metrics
    for (l <- libs) {
      ctx.timing(s"${l.name}.search_ms", "ms", single(l).result().map(_ * 1e3), report = false)
      ctx.timing(s"${l.name}.search_filtered_ms", "ms", filtered(l).result().map(_ * 1e3),
        report = false)
      ctx.timing(s"${l.name}.search_batch_s", "s", batch(l).result(), report = false)
    }
    ctx.timing("search_ms (all libraries)", "ms",
      libs.flatMap(single(_).result()).map(_ * 1e3), report = false)
    // latency: a fixed mix, the mean of the libraries' medians;
    // throughput: queries answered by all timed batches over their time
    val singleMix = libs.map(l => Stats.median(single(l).result())).sum / libs.length
    val batches = libs.flatMap(batch(_).result())
    ctx.value("latency_p50_ms", "ms", singleMix * 1e3)
    ctx.value("throughput_per_s", "1/s", BatchQ * batches.length / batches.sum)
    ctx.value("recall", "ratio", recall)
    // setup-phase figures of the one cold build
    val rows = N.toLong * libs.length
    val addRate = rows / built.addS
    ctx.value("ingest_rows_per_s", "rows/s", addRate, report = false)
    ctx.value("save_s", "s", built.saveS, report = false)
    ctx.value("open_s", "s", built.openS, report = false)
    ctx.value("state_bytes_per_chunk", "B", built.stateBytes.toDouble / rows)
    ctx.value("live_heap_peak_mb", "MB", ctx.heapPeakMb)

    if (ctx.traced) {
      val t = tracedSingle.result(); val u = untracedSingle.result()
      ctx.value("trace.latency_p50_ms", "ms", Stats.median(t) * 1e3)
      ctx.value("trace.overhead_frac", "ratio", Stats.median(t) / Stats.median(u) - 1.0)
      ctx.value("engine.add_chunks.rows_per_s", "rows/s", addRate)
      ctx.value("engine.save.bytes_written", "B", built.stateBytes.toDouble)
      new Probes(ctx).search(eng, scratchEngine(), vectors)
    }
  }

  /** One cycle over the libraries in a fixed order: per library six single
    * searches, one filtered search and one 64-query batch search. */
  private def cycle(eng: VectorEngine, c: Int, record: Boolean): Unit =
    for ((lib, l) <- libs.zipWithIndex) {
      val q0 = (c * libs.length + l) * (SinglesPerCycle + 1)
      for (i <- 0 until SinglesPerCycle) {
        val s = singleSearch(eng, lib, (q0 + i) % NQueries, -1)
        if (record) {
          single(lib) += s
          (if (ctx.tracer.active) tracedSingle else untracedSingle) += s
        }
      }
      val f = singleSearch(eng, lib, (q0 + SinglesPerCycle) % NQueries, c % Shards)
      if (record) filtered(lib) += f
      val b = batchSearch(eng, lib, (c % (NQueries / BatchQ)) * BatchQ)
      if (record) batch(lib) += b
    }

  /** A scratch engine over the same rows for the traced run's probes: an
    * ivf library whose 64-cell quantizer is trained here (span
    * engine.train_ivf; the timed libraries use the mixture's centers,
    * which keeps training out of setup) and a random_projection library
    * for the adaptive LSH probe. */
  private def scratchEngine(): VectorEngine = {
    val scratch = VectorEngine.create(spark)
    val base = baseFrame()
    for ((name, kind) <- Seq("train" -> VectorEngine.IndexKindIvf, "lsh" -> VectorEngine.IndexKindLsh)) {
      scratch.createLibrary(name, Dim, "cosine", kind, id = Some(name))
      scratch.createDocument(name, "doc", id = Some(s"$name-doc"))
      scratch.addChunksDf(name, libFrame(base, name).where(col("chunk_index") < ScratchRows))
    }
    ctx.tracer.span("engine.train_ivf")(
      scratch.trainIvfIndex("train", Clusters, iters = 5, seed = ctx.seed))
    scratch
  }

  /** The setup: generate the inputs, build every library, save it and
    * reopen it. */
  private def build(dir: String): Built = {
    vectors = Gen.vectors(ctx.seed, N, Dim, Clusters, NQueries, Spread, Shards)
    ctx.inputs("vectors", vectors.params)
    val eng = VectorEngine.create(spark, GraftSettings.Defaults.copy(stateDir = dir))
    val centroids = vectors.centers.indices.map(i => i.toLong -> vectors.centers(i).toSeq)
    val base = baseFrame()
    val addS = libs.map { lib =>
      eng.createLibrary(lib.name, Dim, "cosine", lib.kind, id = Some(lib.name),
        storage = lib.storage)
      eng.createDocument(lib.name, "doc", id = Some(s"${lib.name}-doc"))
      if (lib.kind == VectorEngine.IndexKindIvf) eng.setIvfCentroids(lib.name, centroids)
      val df = libFrame(base, lib.name)
      val t0 = System.nanoTime()
      val added = ctx.tracer.span("engine.add_chunks")(eng.addChunksDf(lib.name, df))
      val s = (System.nanoTime() - t0) / 1e9
      ctx.require(s"add_chunks ${lib.name}", added == N, s"added $added of $N")
      s
    }.sum
    val t1 = System.nanoTime()
    ctx.tracer.span("engine.save")(eng.save(dir))
    val saveS = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val reopened = ctx.tracer.span("engine.open") {
      val e = VectorEngine.open(spark, dir)
      libs.foreach(l => ctx.require(s"chunkCount ${l.name} after open",
        e.chunkCount(l.name) == N))
      e
    }
    val openS = (System.nanoTime() - t2) / 1e9
    Built(reopened, addS, saveS, openS, ctx.bytesUnder(dir))
  }

  /** The generated rows, pinned once: (i, text, embedding, metadata with
    * the typed shard key). */
  private def baseFrame(): DataFrame = {
    val v = vectors
    val rows = (0 until N).map { i =>
      Row(i, s"generated chunk $i", v.rows(i),
        Map("shard" -> MetadataFunctions.encodeValue(v.shard(i))))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores), BaseSchema)
      .localCheckpoint()
  }

  /** One library's ingest frame over the pinned rows. */
  private def libFrame(base: DataFrame, lib: String): DataFrame =
    base.select(format_string(s"$lib-c%07d", col("i")).as("id"),
      lit(s"$lib-doc").as("document_id"), col("text"), col("embedding"),
      col("metadata"), col("i").as("chunk_index"))

  /** Recall on a fixed query set, untimed: per library one 64-query batch
    * and one single search. Recall is the mean top-10 overlap with the exact
    * answer over the approximate libraries; the flat library must match it
    * exactly. */
  private def recallAt10(eng: VectorEngine): Double = {
    val perLib = libs.map { lib =>
      val fromBatch = runBatch(eng, lib, 0).toSeq.map { case (qi, ids) =>
        overlap(ids, truth(qi, -1))
      }
      fromBatch :+ overlap(runSingle(eng, lib, 0, -1), truth(0, -1))
    }
    ctx.require("recall_at_10 of the flat library", perLib.head.forall(_ == 1.0),
      s"got ${perLib.head.sum / perLib.head.length}")
    val approx = perLib.tail.flatten
    approx.sum / approx.length
  }

  private def overlap(ids: Seq[Int], exact: Array[Int]): Double =
    ids.toSet.intersect(exact.toSet).size.toDouble / K

  /** Timed single search (returns seconds); the output check runs after. */
  private def singleSearch(eng: VectorEngine, lib: Lib, qi: Int, shard: Int): Double = {
    val name = if (shard < 0) "engine.search" else "engine.search_filtered"
    val t0 = System.nanoTime()
    val res = ctx.tracer.span(name)(collectSingle(eng, lib, qi, shard))
    val s = (System.nanoTime() - t0) / 1e9
    checkSingle(lib, qi, shard, res)
    s
  }

  private def collectSingle(eng: VectorEngine, lib: Lib, qi: Int, shard: Int): Array[Row] = {
    val filters: Map[String, Any] = if (shard < 0) Map.empty else Map("shard" -> shard)
    eng.search(lib.name, vectors.queries(qi).toSeq, K, filters).collect()
  }

  private def runSingle(eng: VectorEngine, lib: Lib, qi: Int, shard: Int): Seq[Int] =
    checkSingle(lib, qi, shard, collectSingle(eng, lib, qi, shard))

  private def checkSingle(lib: Lib, qi: Int, shard: Int, res: Array[Row]): Seq[Int] = {
    val got = res.map(r => (r.getString(0), r.getDouble(1))).toSeq
    ctx.attempt(s"search ${lib.name} q$qi shard $shard")(got)(g =>
      checkRanked(lib, qi, shard, g))
    got.map(g => Truth.rowOf(g._1))
  }

  /** k rows, ascending (distance, chunk_id), each distance equal to the
    * benchmark's own, each row admitted by the filter; the flat library
    * must return exactly the brute-force top-k. */
  private def checkRanked(lib: Lib, qi: Int, shard: Int,
                          got: Seq[(String, Double)]): Option[String] = {
    val q = vectors.queries(qi)
    val ordered = got.zip(got.drop(1)).forall { case ((ia, da), (ib, db)) =>
      da < db || (da == db && ia < ib)
    }
    lazy val badDist = got.find { case (id, d) =>
      !id.startsWith(lib.name + "-") || Truth.distance(vectors.rows(Truth.rowOf(id)), q) != d
    }
    lazy val badShard = got.find { case (id, _) =>
      shard >= 0 && vectors.shard(Truth.rowOf(id)) != shard
    }
    if (got.length != K) Some(s"${got.length} rows, expected $K")
    else if (!ordered) Some("not in ascending (distance, chunk_id) order")
    else if (badDist.isDefined) Some(s"distance mismatch at ${badDist.get}")
    else if (badShard.isDefined) Some(s"row outside the filter: ${badShard.get}")
    else if (lib.kind == VectorEngine.IndexKindFlat &&
        !got.map(g => Truth.rowOf(g._1)).sameElements(truth(qi, shard)))
      Some("differs from the exact top-k")
    else None
  }

  private def batchSearch(eng: VectorEngine, lib: Lib, first: Int): Double = {
    val t0 = System.nanoTime()
    val res = ctx.tracer.span("engine.search_batch")(collectBatch(eng, lib, first))
    val s = (System.nanoTime() - t0) / 1e9
    checkBatch(lib, first, res)
    s
  }

  private def collectBatch(eng: VectorEngine, lib: Lib, first: Int): Array[Row] = {
    val qs = (first until first + BatchQ).map(qi => qi.toLong -> vectors.queries(qi).toSeq)
    eng.searchBatch(lib.name, qs, K).collect()
  }

  private def runBatch(eng: VectorEngine, lib: Lib, first: Int): Map[Int, Seq[Int]] =
    checkBatch(lib, first, collectBatch(eng, lib, first))

  /** Every query of the batch gets its own ranked top-k (checked like a
    * single search after sorting by (distance, chunk_id)). */
  private def checkBatch(lib: Lib, first: Int, res: Array[Row]): Map[Int, Seq[Int]] = {
    val byQ = res.groupBy(_.getLong(0).toInt).map { case (qi, rs) =>
      qi -> rs.map(r => (r.getString(1), r.getDouble(2))).toSeq.sortBy(x => (x._2, x._1))
    }
    ctx.attempt(s"searchBatch ${lib.name} from q$first")(byQ) { m =>
      if (m.keySet != (first until first + BatchQ).toSet) Some(s"answered ${m.size} of $BatchQ queries")
      else m.toSeq.sortBy(_._1).view.flatMap { case (qi, g) => checkRanked(lib, qi, -1, g) }.headOption
    }
    byQ.map { case (qi, g) => qi -> g.map(x => Truth.rowOf(x._1)) }
  }
}

object SearchBench {
  final case class Lib(name: String, kind: String, storage: String)
  val N = 16000
  val Dim = 128
  val Clusters = 64
  val Spread = 0.35
  /** Rows of the traced run's scratch libraries. */
  val ScratchRows = 4000
  /** At least four whole cycles per run, so each library's figures rest
    * on 24 single searches, four filtered searches and four batches. */
  val MinCycles = 4
  /** Untimed cycles before the timed ones. */
  val WarmCycles = 1
  /** In some JVMs the first two single searches of a library in a cycle
    * run ~1.5x slower than the rest; with six per cycle the median stays
    * clear of them. */
  val SinglesPerCycle = 6
  val K = 10
  val BatchQ = 64
  val NQueries = 256
  val Shards = 8

  val BaseSchema: StructType = StructType(Seq(
    StructField("i", IntegerType), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("metadata", MapType(StringType, StringType))))
}
