package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-Streaming ingest + windowed analytics over the events
  * stream (SURVEY.md §2.7 — additive: the reference has no streaming; its
  * closest analog is the atomic batch insert, services.py:144-162).
  *
  * The aggregation is written once and runs identically in batch and
  * micro-batch mode (Spark unifies the DataFrame API); the streaming
  * entry point adds a watermark so state for closed windows is dropped
  * instead of growing forever — the property that keeps this viable on an
  * unbounded 100 TB/day stream.
  */
object StreamingIngest {

  /** Hourly tumbling-window counts and value totals per event type.
    * Works on a batch OR streaming DataFrame of
    * (event_id, ts, user_id, event_type, value, props). */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (round(sum(col("value")), 2) + lit(0.0d)).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming variant: 2-hour watermark bounds state; late events beyond
    * it are dropped (the explicit late-data contract). */
  def windowedEventCountsStream(events: DataFrame): DataFrame =
    windowedEventCounts(events.withWatermark("ts", "2 hours"))

  /** Partition-pruned view of already-ingested event ids for the given
    * event dates — the ONLY part of the sink the upsert anti-join reads.
    * `includeNullDate` also reads the null-date partition (events with a
    * null ts land there; `isin` alone would never match it and a null-ts
    * redelivery would double-insert). */
  def sinkIdsForDates(spark: SparkSession, sinkDir: String,
                      dates: Seq[java.sql.Date],
                      includeNullDate: Boolean = false): DataFrame = {
    val dateMatch = col("event_date").isin(dates: _*)
    spark.read.parquet(sinkDir)
      .where(if (includeNullDate) dateMatch || col("event_date").isNull
             else dateMatch)
      .select("event_id")
  }

  /** Idempotent micro-batch upsert into a DATE-PARTITIONED Parquet sink:
    * within-batch dedup + anti-join against the sink on event_id, then ONE
    * append — re-delivered events (at-least-once sources) can never
    * double-insert.
    *
    * The anti-join read is bounded: a re-delivered event carries the SAME
    * ts as its original, so its earlier copy lives in the same
    * event_date partition — the sink scan prunes to the batch's own
    * distinct dates (a handful per micro-batch) instead of the whole
    * history. On an unbounded sink that turns a per-batch O(history) read
    * into O(batch-dates), which is what keeps this viable at
    * 100 TB/day. The same shape serves engine chunk ingest via
    * VectorEngine.addChunksDf. */
  def upsertBatch(batch: DataFrame, sinkDir: String): Unit = {
    val spark = batch.sparkSession
    val fresh = batch.dropDuplicates("event_id")
      .withColumn("event_date", to_date(col("ts")))
    val deduped =
      if (new java.io.File(sinkDir).exists()) {
        val rawDates = fresh.select(col("event_date")).distinct()
          .collect().map(_.getDate(0)).toSeq
        val dates = rawDates.filter(_ != null)
        fresh.join(
          sinkIdsForDates(spark, sinkDir, dates,
            includeNullDate = rawDates.exists(_ == null)),
          Seq("event_id"), "left_anti")
      } else fresh
    // cluster by the partition column before the partitioned write: one
    // file per (batch, date) instead of one per (task, date) — on an
    // unbounded sink the small-files count is what degrades every later
    // read, and a micro-batch rarely spans enough dates to need more
    // write parallelism than dates
    deduped.repartition(col("event_date"))
      .write.mode("append").partitionBy("event_date").parquet(sinkDir)
  }

  /** Watermarked STREAM-STREAM interval join: each purchase pairs with
    * the same user's clicks in the preceding `windowSeconds` — the
    * streaming twin of the batch as-of enrichment (operators.AsOfJoin).
    *
    * Both sides carry watermarks and the join predicate bounds the event
    * time range on BOTH ends, so Spark can expire buffered state for
    * either side once the watermark passes the interval: state is
    * O(events inside the window), not O(stream). Without the range
    * condition a stream-stream join must buffer one side forever. */
  def clickToPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                          windowSeconds: Long = 3600L): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowSeconds SECONDS") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Start the ingest stream: foreachBatch gives exactly-once-per-batch
    * semantics on top of the checkpointed source offsets. */
  def startIngest(stream: DataFrame, sinkDir: String,
                  checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => upsertBatch(batch, sinkDir) }
      .start()

  /** DEDUP-GATED micro-batch chunk ingest — the continuously-crawled-
    * corpus pipeline stage: each batch (addChunksDf's column contract —
    * id, document_id, text, embedding, metadata, chunk_index) is
    *   1. replay-deduped: within-batch on id, then anti-joined against
    *      the chunk ids the engine already holds (at-least-once sources
    *      redeliver EXACT rows — same ids);
    *   2. near-dup gated vs the CORPUS: `VectorEngine.nearDuplicates`
    *      (stored-bucket blocking, broadcast probe set — the corpus is
    *      scanned once per batch, never shuffled) drops every arriving
    *      chunk within cosine `threshold` of an existing one;
    *   3. near-dup gated WITHIN the batch, keep-first: two distinct
    *      crawls of the same page in one micro-batch would both pass the
    *      corpus gate (neither is in the corpus yet) — the intra-batch
    *      pass (NearDup.embeddingNearDupPairs under the SAME projection
    *      matrix, via VectorEngine.lshProjectionMatrix) drops any row
    *      near-duplicating a smaller-id row. It runs over the CORPUS
    *      GATE'S SURVIVORS, not the raw batch: a row whose only near
    *      neighbour was itself dropped by the corpus gate must still
    *      land — otherwise content within threshold of NOTHING in the
    *      corpus would silently vanish. (One-pass approximation, stated:
    *      within a surviving A < B < C chain where B near-dups A and C
    *      near-dups B only, C is dropped even though a sequential greedy
    *      pass would re-admit it once B went — the conservative side.)
    *   4. bulk-appended atomically (an empty remainder is a clean no-op).
    * Per-batch cost: O(batch) pinning + one corpus scan + an
    * O(batch x collisions) self-join — never O(corpus^2), never a corpus
    * shuffle. Returns the number of chunks actually ingested. */
  def ingestDedupGatedBatch(engine: graft.engine.VectorEngine,
                            libraryId: String, batch: DataFrame,
                            threshold: Double): Long =
    ingestDedupGatedBatchReport(engine, libraryId, batch, threshold)
      .n_ingested

  /** Per-batch accounting of the gated ingest: how many rows the
    * Bloom sketch cleared WITHOUT touching the corpus
    * (`n_bloom_definite_new`; -1 when the library has no filter — the
    * exact-join path), and how many rows actually landed. */
  final case class GatedIngestReport(n_bloom_definite_new: Long,
                                     n_ingested: Long)

  /** [[ingestDedupGatedBatch]] returning the per-batch
    * [[GatedIngestReport]]. When the target library maintains a Bloom
    * seen-id filter ([[graft.engine.VectorEngine.enableBloomGate]]),
    * the replay gate runs Bloom-fronted: definite-new rows (the vast
    * majority of a healthy crawl) skip the exact anti-join against the
    * library's chunk ids entirely — only the bloom-positive sliver
    * pays the confirm join. Result-identical to the exact path (the
    * filter has no false negatives); only the execution shape changes. */
  def ingestDedupGatedBatchReport(engine: graft.engine.VectorEngine,
                                  libraryId: String, batch: DataFrame,
                                  threshold: Double): GatedIngestReport = {
    // replay gate scoped to THE TARGET library's ids: a new row whose id
    // collides with a chunk in a DIFFERENT library is not a redelivery —
    // it must reach addChunksDf and fail its id-conflict guard loudly,
    // not vanish as a "replay"
    val pre = batch.dropDuplicates("id")
    val (replayGated, nBloomDefiniteNew) =
      engine.bloomReplayGate(libraryId, pre) match {
        case Some((definiteNew, confirmedNew, nDefNew)) =>
          (definiteNew.unionByName(confirmedNew), nDefNew)
        case None =>
          (pre.join(engine.chunksDf.where(col("library_id") === libraryId)
            .select(col("id")), Seq("id"), "left_anti"), -1L)
      }
    val replayFree = replayGated
      // pinned once (O(batch), distributed): consumed by the corpus gate
      // and the survivor set below
      .localCheckpoint()
    val corpusLosers = engine.nearDuplicates(libraryId, replayFree, threshold)
      .select(col("batch_id").as("id")).distinct()
    val corpusSurvivors = replayFree.join(corpusLosers, Seq("id"), "left_anti")
      // pinned: consumed by the self-join's two sides and the final ingest
      .localCheckpoint()
    val intraLosers = graft.operators.NearDup.embeddingNearDupPairs(
        corpusSurvivors, col("id"), col("embedding"),
        engine.lshProjectionMatrix(libraryId), threshold)
      .select(col("id_b").as("id")).distinct()
    // no third pin: addChunksDf pins its batch once, so this anti-join
    // runs once per call
    val fresh = corpusSurvivors.join(intraLosers, Seq("id"), "left_anti")
    GatedIngestReport(nBloomDefiniteNew, engine.addChunksDf(libraryId, fresh))
  }

  /** Start the dedup-gated chunk ingest as a stream (foreachBatch:
    * exactly-once per micro-batch on checkpointed offsets; the gates make
    * redelivery AND re-crawl both no-ops). */
  def startDedupGatedChunkIngest(engine: graft.engine.VectorEngine,
                                 libraryId: String, stream: DataFrame,
                                 threshold: Double,
                                 checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestDedupGatedBatch(engine, libraryId, batch, threshold); ()
      }
      .start()

  /** CURATION-GATED micro-batch ingest — [[ingestDedupGatedBatch]] with a
    * DECONTAMINATION gate in front: arriving chunks sharing any word
    * `n`-gram with the held-out benchmark set are dropped before the
    * dedup gates run (the streaming shape of the pre-training
    * decontamination pass — eval content must never enter the corpus,
    * including via a crawl that picked up a benchmark page).
    *
    * `benchGrams` is the PRECOMPUTED benchmark shingle set
    * ([[graft.operators.TrainingData.benchmarkShingles]], pinned by the
    * caller): the eval set is fixed for the life of the stream, so it is
    * shingled once, not once per micro-batch. Per-batch cost of the new
    * gate: one map-side broadcast join over the batch's shingles — the
    * corpus is untouched by it. */
  def ingestCurationGatedBatch(engine: graft.engine.VectorEngine,
                               libraryId: String, batch: DataFrame,
                               threshold: Double, benchGrams: DataFrame,
                               n: Int, qualityMin: Double = 0.0,
                               maxDupNgramFrac: Double = 1.0): Long = {
    // OPTIONAL quality + repetition gates (streaming parity with the
    // batch facade VectorEngine.curateAndIngest — ONE shared gate
    // implementation, so the two paths cannot drift); the defaults
    // compile to the EXACT pre-existing plan (no projection, no join)
    // so default callers pay nothing
    val gated = graft.operators.TrainingData.qualityRepetitionGate(
      batch, col("text"), qualityMin, maxDupNgramFrac)
    val contaminated = graft.operators.TrainingData.contaminationHitsAgainst(
        gated, col("id"), col("text"), benchGrams, n)
      .select(col("id"))
    val clean = gated.join(contaminated, Seq("id"), "left_anti")
    ingestDedupGatedBatch(engine, libraryId, clean, threshold)
  }

  /** DSIR-GATED micro-batch ingest — [[ingestDedupGatedBatch]] with a
    * target-distribution gate in front: arriving chunks whose DSIR
    * importance log-weight under a PRE-TRAINED bucket model falls below
    * `minLogweight` are dropped before the dedup gates run (the
    * streaming shape of importance-resampling data selection — only
    * "looks like the target" content enters the corpus as it arrives).
    *
    * `model` is the PRECOMPUTED (bucket, lam) frame
    * ([[graft.operators.ImportanceSampling.bucketModel]], pinned by the
    * caller): like the decontamination gate's benchmark shingles, the
    * selection model is fixed for the life of the stream — trained once
    * from a reference corpus and the target exemplars, never per batch.
    * Per-batch cost: one tokenize+hash pass over the batch plus a
    * broadcast model join — the corpus is untouched. */
  def ingestDsirGatedBatch(engine: graft.engine.VectorEngine,
                           libraryId: String, batch: DataFrame,
                           threshold: Double, model: DataFrame,
                           buckets: Int, minLogweight: Double): Long = {
    val keep = graft.operators.ImportanceSampling.scoreWithModel(
        batch, col("id"), col("text"), model, buckets)
      .where(col("logweight") >= minLogweight)
      .select(col("id"))
    ingestDedupGatedBatch(engine, libraryId, batch.join(keep, "id"), threshold)
  }

  /** CLASSIFIER-GATED micro-batch ingest — [[ingestDedupGatedBatch]]
    * with the trained two-class quality gate in front: arriving chunks
    * whose probability under a PRE-TRAINED
    * [[graft.operators.QualityClassifier]] model falls below `minProb`
    * are dropped before the dedup gates run (the streaming shape of the
    * GPT-3-recipe filter — only "looks like the curated corpus" content
    * enters as it arrives). `model` is the precomputed
    * (bucket, w, lprior) frame, fixed for the life of the stream like
    * the DSIR model and the benchmark shingles. Per-batch cost: one
    * tokenize+hash pass over the batch plus a broadcast model join —
    * the corpus is untouched. The SAME score-and-threshold gate
    * `VectorEngine.curateAndIngest(classifierModel=...)` applies, so
    * batch and streaming selection cannot drift. */
  def ingestClassifierGatedBatch(engine: graft.engine.VectorEngine,
                                 libraryId: String, batch: DataFrame,
                                 threshold: Double, model: DataFrame,
                                 buckets: Int, minProb: Double): Long = {
    val keep = graft.operators.QualityClassifier.score(
        batch, col("id"), col("text"), model, buckets)
      .where(col("prob") >= minProb)
      .select(col("id"))
    ingestDedupGatedBatch(engine, libraryId, batch.join(keep, "id"), threshold)
  }

  /** Start the classifier-gated chunk ingest as a stream. */
  def startClassifierGatedChunkIngest(engine: graft.engine.VectorEngine,
                                      libraryId: String, stream: DataFrame,
                                      threshold: Double, model: DataFrame,
                                      buckets: Int, minProb: Double,
                                      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestClassifierGatedBatch(engine, libraryId, batch, threshold,
          model, buckets, minProb); ()
      }
      .start()

  /** Start the DSIR-gated chunk ingest as a stream. */
  def startDsirGatedChunkIngest(engine: graft.engine.VectorEngine,
                                libraryId: String, stream: DataFrame,
                                threshold: Double, model: DataFrame,
                                buckets: Int, minLogweight: Double,
                                checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestDsirGatedBatch(engine, libraryId, batch, threshold, model,
          buckets, minLogweight); ()
      }
      .start()

  /** Start the curation-gated chunk ingest as a stream. */
  def startCurationGatedChunkIngest(engine: graft.engine.VectorEngine,
                                    libraryId: String, stream: DataFrame,
                                    threshold: Double, benchGrams: DataFrame,
                                    n: Int, checkpointDir: String,
                                    qualityMin: Double = 0.0,
                                    maxDupNgramFrac: Double = 1.0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestCurationGatedBatch(engine, libraryId, batch, threshold,
          benchGrams, n, qualityMin, maxDupNgramFrac); ()
      }
      .start()
}
