package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingIngest

class StreamingSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    (1L, ts("2026-01-01 10:05:00"), 1L, "click", 1.0, "{}"),
    (2L, ts("2026-01-01 10:45:00"), 2L, "click", 2.0, "{}"),
    (3L, ts("2026-01-01 11:05:00"), 1L, "view", 3.0, "{}"),
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("windowed aggregate: identical results in batch mode") {
    val got = StreamingIngest.windowedEventCounts(events)
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (ts("2026-01-01 10:00:00"), "click", 2L, 3.0),
      (ts("2026-01-01 11:00:00"), "view", 1L, 3.0)))
  }

  test("windowed aggregate over a MemoryStream micro-batch run") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = StreamingIngest.windowedEventCountsStream(streamDf)
      .writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    try {
      mem.addData((1L, ts("2026-01-01 10:05:00"), 1L, "click", 1.0, "{}"),
        (2L, ts("2026-01-01 10:45:00"), 2L, "click", 2.0, "{}"))
      q.processAllAvailable()
      val got = spark.table("win_agg").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == Seq((ts("2026-01-01 10:00:00"), "click", 2L, 3.0)))
    } finally q.stop()
  }

  test("upsertBatch is idempotent on event_id (at-least-once -> no dupes)") {
    val sink = graft.operators.Scratch.newDir("sink").toString + "/events"
    StreamingIngest.upsertBatch(events, sink)
    StreamingIngest.upsertBatch(events, sink) // redelivery
    val extra = Seq((4L, ts("2026-01-01 12:00:00"), 3L, "click", 4.0, "{}"),
      (4L, ts("2026-01-01 12:00:00"), 3L, "click", 4.0, "{}")) // in-batch dup
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    StreamingIngest.upsertBatch(extra, sink)
    val got = spark.read.parquet(sink)
    assert(got.count() == 4)
    assert(got.select("event_id").distinct().count() == 4)
  }

  test("stream-stream interval join: purchases pair with in-window clicks " +
    "across micro-batches; out-of-window clicks never match") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val q = StreamingIngest.clickToPurchaseJoin(
        clicks.toDF().toDF("event_id", "ts", "user_id"),
        purchases.toDF().toDF("event_id", "ts", "user_id"),
        windowSeconds = 1800L)
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      // batch 1: clicks only — buffered, nothing joins yet
      clicks.addData((1L, ts("2026-01-01 10:00:00"), 1L),
        (2L, ts("2026-01-01 10:20:00"), 1L),
        (3L, ts("2026-01-01 08:00:00"), 2L)) // will be out of window
      q.processAllAvailable()
      // batch 2: purchases arrive in a LATER micro-batch and still join
      purchases.addData((10L, ts("2026-01-01 10:30:00"), 1L),
        (11L, ts("2026-01-01 10:30:00"), 2L))
      q.processAllAvailable()
      val got = spark.table("ssj").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      // purchase 10 pairs with BOTH in-window clicks of user 1;
      // purchase 11 finds nothing (user 2's click is 2.5h old)
      assert(got == Set((10L, 1L), (10L, 2L)))
    } finally q.stop()
  }

  test("stateful sessionization: inline gap-close, cross-batch extension, " +
    "event-time-timeout drain") {
    import graft.streaming.StatefulSessionize
    import graft.streaming.StatefulSessionize.SessionEvent
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val src = mem.toDS().withWatermark("ts", "10 minutes")
      .as[SessionEvent]
    val q = StatefulSessionize.sessionizeStream(src)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def got() = spark.table("sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .toSet
    try {
      // batch 1: user 1 opens a session (2 events, 10 min apart)
      mem.addData(SessionEvent(1L, ts("2026-01-01 10:00:00"), 1L, 1.0),
        SessionEvent(2L, ts("2026-01-01 10:10:00"), 1L, 2.0))
      q.processAllAvailable()
      assert(got().isEmpty) // still open — nothing emitted
      // batch 2: user 1 extends the SAME session across the batch boundary
      // (25-min gap <= 30); user 2 opens one
      mem.addData(SessionEvent(3L, ts("2026-01-01 10:35:00"), 1L, 4.0),
        SessionEvent(4L, ts("2026-01-01 10:36:00"), 2L, 8.0))
      q.processAllAvailable()
      assert(got().isEmpty)
      // batch 3: user 1's event 2h later closes their session INLINE, and
      // the advanced watermark (12:30) passes user 2's horizon (11:06) —
      // their idle session drains via TIMEOUT in the follow-up trigger
      mem.addData(SessionEvent(5L, ts("2026-01-01 12:40:00"), 1L, 16.0))
      q.processAllAvailable()
      assert(got() == Set(
        (1L, ts("2026-01-01 10:00:00"), 3L, 7.0),
        (2L, ts("2026-01-01 10:36:00"), 1L, 8.0)))
      // batch 4: a far-future event advances the watermark past user 1's
      // open-session horizon (13:10) — it drains too
      mem.addData(SessionEvent(6L, ts("2026-01-01 23:00:00"), 3L, 0.5))
      q.processAllAvailable()
      assert(got() == Set(
        (1L, ts("2026-01-01 10:00:00"), 3L, 7.0),
        (1L, ts("2026-01-01 12:40:00"), 1L, 16.0),
        (2L, ts("2026-01-01 10:36:00"), 1L, 8.0)))
    } finally q.stop()
  }

  test("stateful sessionization batch fold == lag+cumsum window sessions") {
    import graft.streaming.StatefulSessionize
    import graft.streaming.StatefulSessionize.SessionEvent
    import org.apache.spark.sql.expressions.Window
    // out-of-order, multi-user, boundary gap exactly 30 min (stays open)
    val ev = Seq(
      SessionEvent(1L, ts("2026-01-01 10:00:00"), 1L, 1.0),
      SessionEvent(2L, ts("2026-01-01 10:30:00"), 1L, 2.0), // == gap: same session
      SessionEvent(3L, ts("2026-01-01 11:00:01"), 1L, 4.0), // > gap: new session
      SessionEvent(4L, ts("2026-01-01 09:00:00"), 2L, 8.0),
      SessionEvent(5L, ts("2026-01-01 09:10:00"), 2L, 16.0)
    )
    val typed = StatefulSessionize.sessionizeBatch(
        spark.createDataset(scala.util.Random.shuffle(ev)))
      .collect().map(s => (s.user_id, s.session_start, s.n_events, s.session_value))
      .sortBy(t => (t._1, t._2.getTime))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sql = spark.createDataset(ev).toDF()
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess", when(col("prev_us").isNull ||
        unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("seq", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("seq"))
      .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"),
        sum(col("value")).as("session_value"))
      .select("user_id", "session_start", "n_events", "session_value")
      .orderBy(col("user_id"), col("session_start"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    assert(typed.toSeq == sql.toSeq)
    assert(typed.length == 3)
  }

  test("upsert anti-join reads ONLY the batch's date partitions " +
    "(bounded re-read on an unbounded sink)") {
    val sink = graft.operators.Scratch.newDir("sink-pruned")
      .toString + "/events"
    def batch(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // three micro-batches over three distinct days
    StreamingIngest.upsertBatch(batch(Seq(
      (1L, ts("2026-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      (2L, ts("2026-01-01 11:00:00"), 1L, "view", 1.0, "{}"))), sink)
    StreamingIngest.upsertBatch(batch(Seq(
      (3L, ts("2026-01-02 10:00:00"), 2L, "click", 1.0, "{}"))), sink)
    StreamingIngest.upsertBatch(batch(Seq(
      (4L, ts("2026-01-03 10:00:00"), 3L, "click", 1.0, "{}"),
      (3L, ts("2026-01-02 10:00:00"), 2L, "click", 1.0, "{}"))), sink) // redelivered
    val got = spark.read.parquet(sink)
    assert(got.count() == 4) // redelivery of event 3 did not double-insert
    // the pruned read for a single-date batch touches only that partition:
    // count the files the executed scan ACTUALLY selected (inputFiles
    // reports the relation pre-pruning, so it cannot be used here)
    val pruned = StreamingIngest.sinkIdsForDates(spark, sink,
      Seq(java.sql.Date.valueOf("2026-01-02")))
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val scannedFiles = scan.metrics("numFiles").value
    val allFiles = spark.read.parquet(sink).inputFiles.length
    assert(scannedFiles >= 1 && scannedFiles < allFiles,
      s"scan read $scannedFiles of $allFiles files — not pruned")
    assert(scan.toString.contains("PartitionFilters"))
  }

  test("dedup-GATED chunk-stream ingest: corpus near-dups, intra-batch " +
    "near-dups and replays are all dropped; novel chunks land searchable") {
    import graft.engine._
    implicit val sqlCtx = spark.sqlContext
    val e = VectorEngine.create(spark)
    e.createLibrary("gated", dim = 4, id = Some("glib"),
      indexKind = "random_projection", lshProjections = 4, lshSeed = 7L)
    val doc = e.createDocument("glib", "gdoc")
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("corpus", Seq(1f, 0f, 0f, 0f), Map.empty, 0, Some("c0"))))
    val mem = MemoryStream[(String, String, String, Seq[Float], Int)]
    val streamDf = mem.toDF()
      .toDF("id", "document_id", "text", "embedding", "chunk_index")
      .withColumn("metadata", typedLit(Map.empty[String, String]))
    val ckpt = graft.operators.Scratch.newDir("gated-ckpt").toString
    val q = StreamingIngest.startDedupGatedChunkIngest(
      e, "glib", streamDf, threshold = 0.05, ckpt)
    try {
      // s0 near-dups the CORPUS (scaled copy of c0) -> corpus gate;
      // s1 is novel -> lands; s2 near-dups s1 IN THE SAME BATCH (neither
      // is in the corpus yet) -> intra-batch keep-first gate
      mem.addData(
        ("s0", doc.id, "t0", Seq(2f, 0f, 0f, 0f), 0),
        ("s1", doc.id, "t1", Seq(0f, 0f, 1f, 0f), 1),
        ("s2", doc.id, "t2", Seq(0f, 0f, 0.99f, 0.1f), 2))
      q.processAllAvailable()
      assert(e.chunkCount("glib") == 2) // c0 + s1
      // s1 redelivered (at-least-once) -> replay gate; s3 near-dups the
      // NOW-INGESTED s1 -> corpus gate sees last batch's survivor;
      // s4 is novel -> lands
      mem.addData(
        ("s1", doc.id, "t1", Seq(0f, 0f, 1f, 0f), 1),
        ("s3", doc.id, "t3", Seq(0f, 0f, 1f, 0.01f), 3),
        ("s4", doc.id, "t4", Seq(0f, 1f, 0f, 0f), 4))
      q.processAllAvailable()
    } finally q.stop()
    assert(e.chunkCount("glib") == 3) // c0 + s1 + s4
    assert(e.search("glib", Seq(0f, 0f, 1f, 0f), k = 1).collect()
      .map(_.getString(0)).toSeq == Seq("s1"))
    // the batch-mode body reports how many rows actually landed
    import spark.implicits._
    val direct = Seq(("s5", doc.id, "t5", Seq(0f, 1f, 0.01f, 0f), 5),
        ("s6", doc.id, "t6", Seq(0.5f, 0.5f, 0.5f, 0.5f), 6))
      .toDF("id", "document_id", "text", "embedding", "chunk_index")
      .withColumn("metadata", typedLit(Map.empty[String, String]))
    // s5 near-dups s4; s6 is novel
    assert(StreamingIngest.ingestDedupGatedBatch(e, "glib", direct, 0.05) == 1L)
    assert(e.chunkCount("glib") == 4)
  }

  test("BLOOM-fronted replay gate: definite-new rows skip the corpus " +
    "join (plan assertion — the definite_new branch is a pure filter " +
    "over the pinned batch), the branch union is row-identical to the " +
    "exact anti-join, n_bloom_definite_new is accounted, and the gated " +
    "ingest result matches the exact path") {
    import graft.engine._
    import spark.implicits._
    val e = VectorEngine.create(spark)
    e.createLibrary("bloomed", dim = 4, id = Some("blib"),
      indexKind = "random_projection", lshProjections = 4, lshSeed = 7L)
    val doc = e.createDocument("blib", "bdoc")
    def frame(rows: Seq[(String, Seq[Float], Int)]) =
      rows.map { case (id, emb, ix) => (id, doc.id, s"text $id", emb, ix) }
        .toDF("id", "document_id", "text", "embedding", "chunk_index")
        .withColumn("metadata", typedLit(Map.empty[String, String]))
    // batch 1: three corpus chunks, then opt into the gate
    assert(StreamingIngest.ingestDedupGatedBatch(e, "blib",
      frame(Seq(("a1", Seq(1f, 0f, 0f, 0f), 0), ("a2", Seq(0f, 1f, 0f, 0f), 1),
        ("a3", Seq(0f, 0f, 1f, 0f), 2))), threshold = 0.0) == 3L)
    e.enableBloomGateSized("blib", m = 1 << 16, k = 3) // well-sized: no fps
    // batch 2: two replays + two novel rows
    val batch2 = frame(Seq(("a1", Seq(1f, 0f, 0f, 0f), 0),
      ("a3", Seq(0f, 0f, 1f, 0f), 2), ("b1", Seq(0f, 0f, 0f, 1f), 3),
      ("b2", Seq(0.5f, 0.5f, 0f, 0f), 4)))
    val Some((definiteNew, confirmedNew, nDefNew)) =
      e.bloomReplayGate("blib", batch2)
    // PLAN: the definite-new branch never touches the corpus — no join,
    // no exchange, just a filter over the pinned batch
    val p = definiteNew.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"definite-new branch must be projection-only:\n$p")
    // at this sizing the filter has no false positives: both novel rows
    // are definite-new, both replays go to the confirm join and drop
    assert(nDefNew == 2L)
    assert(definiteNew.select("id").as[String].collect().sorted
      .toSeq == Seq("b1", "b2"))
    assert(confirmedNew.count() == 0L)
    // branch union == the exact replay anti-join, row for row
    val exact = batch2.join(
      e.chunksDf.where(col("library_id") === "blib").select(col("id")),
      Seq("id"), "left_anti")
    assert(definiteNew.unionByName(confirmedNew).select("id")
      .as[String].collect().sorted.toSeq ==
      exact.select("id").as[String].collect().sorted.toSeq)
    // the gated ingest lands exactly the novel rows and accounts the
    // sketch's contribution
    val report = StreamingIngest.ingestDedupGatedBatchReport(
      e, "blib", batch2, threshold = 0.0)
    assert(report.n_bloom_definite_new == 2L && report.n_ingested == 2L)
    assert(e.chunkCount("blib") == 5)
    // the ingest folded b1/b2 into the filter: a redelivery of batch 2
    // is now ALL bloom-positive and the confirm join drops everything
    val report2 = StreamingIngest.ingestDedupGatedBatchReport(
      e, "blib", batch2, threshold = 0.0)
    assert(report2.n_bloom_definite_new == 0L && report2.n_ingested == 0L)
    assert(e.chunkCount("blib") == 5)
    // persistence: the filter survives save/open beside the other index
    // models — the reopened engine still gates without re-enabling
    val state = graft.operators.Scratch.newDir("bloom-state").toString
    e.save(state)
    val re = VectorEngine.open(spark, state)
    val bs = re.bloomGateState("blib")
    assert(bs.isDefined && bs.get.m == (1 << 16) && bs.get.k == 3)
    assert(bs.get.words.toSeq == e.bloomGateState("blib").get.words.toSeq)
    val report3 = StreamingIngest.ingestDedupGatedBatchReport(
      re, "blib", batch2, threshold = 0.0)
    assert(report3.n_bloom_definite_new == 0L && report3.n_ingested == 0L)
    // default sizing: textbook m/k from the current count (floored at
    // the 1024-key minimum so a young library's filter has headroom),
    // word-aligned; the rebuilt filter still gates correctly
    e.enableBloomGate("blib", targetFp = 0.01)
    val auto = e.bloomGateState("blib").get
    assert(auto.m % 64 == 0 && auto.m >= 1024 && auto.k >= 1)
    val r4 = StreamingIngest.ingestDedupGatedBatchReport(
      e, "blib", batch2, threshold = 0.0)
    assert(r4.n_ingested == 0L, "rebuilt filter must still drop replays")
  }

  test("dedup gate: a row whose only near neighbour was itself dropped " +
    "by the corpus gate still lands (intra-batch pass sees survivors only)") {
    import graft.engine._
    import spark.implicits._
    val e = VectorEngine.create(spark)
    e.createLibrary("chain", dim = 4, id = Some("chlib"),
      indexKind = "random_projection", lshProjections = 4, lshSeed = 7L)
    val doc = e.createDocument("chlib", "chdoc")
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("c", Seq(1f, 0f, 0f, 0f), Map.empty, 0, Some("c0"))))
    // a1 at 15 deg from c0 (cos dist 0.034 <= 0.05) -> corpus gate drops;
    // a2 at 30 deg (0.134 from c0, 0.034 from a1) -> near NOTHING that
    // remains: must land, even though (a1, a2) is an intra-batch pair
    def ang(deg: Double) = Seq(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat, 0f, 0f)
    val batch = Seq(("a1", doc.id, "t1", ang(15), 1),
        ("a2", doc.id, "t2", ang(30), 2))
      .toDF("id", "document_id", "text", "embedding", "chunk_index")
      .withColumn("metadata", typedLit(Map.empty[String, String]))
    assert(StreamingIngest.ingestDedupGatedBatch(e, "chlib", batch, 0.05) == 1L)
    assert(e.chunkCount("chlib") == 2)
    assert(e.getChunk("a2").text == "t2")
    intercept[NotFoundError] { e.getChunk("a1") }
  }

  test("checkpoint recovery: the dedup-gated ingest restarts from a real " +
    "checkpoint exactly-once — committed batches never re-process, data " +
    "queued while down is picked up, and the crash window (sink ran, " +
    "offset commit lost) cannot double-insert") {
    import graft.engine._
    implicit val sqlCtx = spark.sqlContext
    val e = VectorEngine.create(spark)
    e.createLibrary("rec", dim = 4, id = Some("rlib"),
      indexKind = "random_projection", lshProjections = 4, lshSeed = 7L)
    val doc = e.createDocument("rlib", "rdoc")
    val mem = MemoryStream[(String, String, String, Seq[Float], Int)]
    val streamDf = mem.toDF()
      .toDF("id", "document_id", "text", "embedding", "chunk_index")
      .withColumn("metadata", typedLit(Map.empty[String, String]))
    val ckpt = graft.operators.Scratch.newDir("rec-ckpt").toString
    val q1 = StreamingIngest.startDedupGatedChunkIngest(
      e, "rlib", streamDf, threshold = 0.05, ckpt)
    try {
      mem.addData(("r0", doc.id, "t0", Seq(1f, 0f, 0f, 0f), 0),
        ("r1", doc.id, "t1", Seq(0f, 1f, 0f, 0f), 1))
      q1.processAllAvailable() // offsets for this batch are COMMITTED
      assert(e.chunkCount("rlib") == 2)
    } finally q1.stop() // the kill
    // While DOWN, rows arrive — and the crash window is simulated
    // faithfully: the foreachBatch SINK EFFECT for them already ran
    // (process died after the sink completed but before the offset
    // commit), so the restarted query WILL re-process exactly these rows
    val crashRows = Seq(
      ("r1", doc.id, "t1", Seq(0f, 1f, 0f, 0f), 1), // at-least-once replay
      ("r2", doc.id, "t2", Seq(0f, 0f, 1f, 0f), 2)) // novel
    val crashBatch = crashRows
      .toDF("id", "document_id", "text", "embedding", "chunk_index")
      .withColumn("metadata", typedLit(Map.empty[String, String]))
    assert(StreamingIngest.ingestDedupGatedBatch(
      e, "rlib", crashBatch, 0.05) == 1L) // only r2 lands
    assert(e.chunkCount("rlib") == 3)
    mem.addData(crashRows: _*) // the same rows sit in the source, uncommitted
    // restart against the SAME checkpoint: committed batch 0 is skipped,
    // the uncommitted rows re-process, and the replay gate makes the
    // re-delivery a no-op — the exactly-once contract, observed end to end
    val q2 = StreamingIngest.startDedupGatedChunkIngest(
      e, "rlib", streamDf, threshold = 0.05, ckpt)
    try {
      q2.processAllAvailable()
      assert(e.chunkCount("rlib") == 3, "restart double-inserted a row")
      // the recovered query keeps ingesting novel data
      mem.addData(("r3", doc.id, "t3", Seq(0f, 0f, 0f, 1f), 3))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(e.chunkCount("rlib") == 4)
    assert(e.getChunk("r2").text == "t2" && e.getChunk("r3").text == "t3")
    // the whole streamed corpus is searchable after recovery
    assert(e.search("rlib", Seq(0f, 0f, 1f, 0f), k = 1).collect()
      .map(_.getString(0)).toSeq == Seq("r2"))
  }

  test("chunk-stream ingest e2e through the facade: MemoryStream -> " +
    "foreachBatch -> addChunksDf, no dupes on replay, post-stream search") {
    import graft.engine._
    implicit val sqlCtx = spark.sqlContext
    val e = VectorEngine.create(spark)
    e.createLibrary("stream-lib", dim = 2, id = Some("slib"))
    val doc = e.createDocument("slib", "sdoc")
    val mem = MemoryStream[(String, String, String, Seq[Float], Int)]
    val streamDf = mem.toDF()
      .toDF("id", "document_id", "text", "embedding", "chunk_index")
    val ckpt = graft.operators.Scratch.newDir("chunk-ckpt").toString
    val q = streamDf.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // at-least-once source: drop within-batch duplicates and rows the
        // engine already holds (anti-join on chunk id), then ONE atomic
        // bulk append — an empty remainder is addChunksDf's clean no-op
        val fresh = batch.dropDuplicates("id")
          .join(e.chunksDf.select(col("id")), Seq("id"), "left_anti")
          .withColumn("metadata", typedLit(Map.empty[String, String]))
        e.addChunksDf("slib", fresh)
        ()
      }
      .start()
    try {
      mem.addData(("s0", doc.id, "t0", Seq(1f, 0f), 0),
        ("s1", doc.id, "t1", Seq(0f, 1f), 1))
      q.processAllAvailable()
      assert(e.chunkCount("slib") == 2)
      // replayed s1 (at-least-once redelivery) + genuinely new s2
      mem.addData(("s1", doc.id, "t1", Seq(0f, 1f), 1),
        ("s2", doc.id, "t2", Seq(0.9f, 0.1f), 2))
      q.processAllAvailable()
      // a pure-replay batch is a no-op end to end
      mem.addData(("s0", doc.id, "t0", Seq(1f, 0f), 0))
      q.processAllAvailable()
    } finally q.stop()
    assert(e.chunkCount("slib") == 3)
    assert(e.getChunk("s1").text == "t1")
    // post-stream search sees exactly the streamed corpus
    assert(e.search("slib", Seq(1f, 0f), k = 2).collect()
      .map(_.getString(0)).toSeq == Seq("s0", "s2"))
  }

  test("curation-GATED chunk-stream ingest: benchmark-contaminated chunks " +
    "are dropped before the dedup gates; clean novel chunks land; the " +
    "precomputed benchmark shingle set is reused across batches") {
    import graft.engine._
    import graft.operators.TrainingData
    implicit val sqlCtx = spark.sqlContext
    val e = VectorEngine.create(spark)
    e.createLibrary("cur", dim = 4, id = Some("clib"),
      indexKind = "random_projection", lshProjections = 4, lshSeed = 7L)
    val doc = e.createDocument("clib", "cdoc")
    // the held-out eval set, shingled ONCE for the life of the stream
    val benchGrams = TrainingData.benchmarkShingles(
      Seq("the secret benchmark question about spark").toDF("text"),
      col("text"), n = 3).localCheckpoint()
    val mem = MemoryStream[(String, String, String, Seq[Float], Int)]
    val streamDf = mem.toDF()
      .toDF("id", "document_id", "text", "embedding", "chunk_index")
      .withColumn("metadata", typedLit(Map.empty[String, String]))
    val ckpt = graft.operators.Scratch.newDir("cur-ckpt").toString
    val q = StreamingIngest.startCurationGatedChunkIngest(
      e, "clib", streamDf, threshold = 0.05, benchGrams, n = 3, ckpt)
    try {
      // c0 contains a benchmark trigram -> contamination gate drops it
      // even though it is embedding-novel; c1 is clean and lands
      mem.addData(
        ("c0", doc.id, "crawl page with the secret benchmark question inside",
          Seq(1f, 0f, 0f, 0f), 0),
        ("c1", doc.id, "perfectly clean organic content", Seq(0f, 1f, 0f, 0f), 1))
      q.processAllAvailable()
      assert(e.chunkCount("clib") == 1)
      assert(e.getChunk("c1").text == "perfectly clean organic content")
      // second batch: the gate still works (same precomputed set), and
      // the dedup gates still run AFTER it — c3 near-dups c1 and drops
      mem.addData(
        ("c2", doc.id, "another secret benchmark question copy",
          Seq(0f, 0f, 1f, 0f), 2),
        ("c3", doc.id, "near dup of c1", Seq(0f, 1f, 0.01f, 0f), 3),
        ("c4", doc.id, "clean and novel", Seq(0f, 0f, 0f, 1f), 4))
      q.processAllAvailable()
    } finally q.stop()
    assert(e.chunkCount("clib") == 2) // c1 + c4
    assert(e.getChunk("c4").text == "clean and novel")
  }

  test("DSIR-GATED chunk-stream ingest: off-target chunks are dropped by " +
    "the pre-trained importance model before the dedup gates; the model " +
    "is reused across batches; redelivery stays a no-op") {
    import graft.engine._
    import graft.operators.ImportanceSampling
    implicit val sqlCtx = spark.sqlContext
    val e = VectorEngine.create(spark)
    e.createLibrary("dsir", dim = 4, id = Some("dlib"),
      indexKind = "random_projection", lshProjections = 4, lshSeed = 7L)
    val doc = e.createDocument("dlib", "ddoc")
    // model trained ONCE for the life of the stream: the target exemplars
    // speak alpha/beta; the reference corpus also carries junk/spam mass
    val B = 16
    val raw = Seq((1L, "alpha beta gamma"), (2L, "junk spam junk spam"),
      (3L, "alpha beta beta"), (4L, "spam junk noise")).toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta alpha beta"), (11L, "beta alpha gamma"))
      .toDF("doc_id", "text")
    val model = ImportanceSampling.bucketModel(raw, target,
      col("doc_id"), col("text"), B).localCheckpoint()
    val mem = MemoryStream[(String, String, String, Seq[Float], Int)]
    val streamDf = mem.toDF()
      .toDF("id", "document_id", "text", "embedding", "chunk_index")
      .withColumn("metadata", typedLit(Map.empty[String, String]))
    val ckpt = graft.operators.Scratch.newDir("dsir-ckpt").toString
    val q = StreamingIngest.startDsirGatedChunkIngest(
      e, "dlib", streamDf, threshold = 0.05, model, B, minLogweight = 0.0, ckpt)
    try {
      mem.addData(
        // target-like: positive log-weight, lands
        ("d0", doc.id, "alpha beta alpha", Seq(1f, 0f, 0f, 0f), 0),
        // off-target: junk/spam buckets carry negative lam, drops
        ("d1", doc.id, "junk spam junk spam junk", Seq(0f, 1f, 0f, 0f), 1))
      q.processAllAvailable()
      assert(e.chunkCount("dlib") == 1)
      assert(e.getChunk("d0").text == "alpha beta alpha")
      // second batch: same model, still gating; redelivered d0 is a
      // replay no-op; the dedup gate still runs AFTER the DSIR gate
      mem.addData(
        ("d0", doc.id, "alpha beta alpha", Seq(1f, 0f, 0f, 0f), 0),
        ("d2", doc.id, "beta alpha beta", Seq(1f, 0.01f, 0f, 0f), 2), // near-dup of d0
        ("d3", doc.id, "gamma alpha beta", Seq(0f, 0f, 0f, 1f), 3))
      q.processAllAvailable()
    } finally q.stop()
    assert(e.chunkCount("dlib") == 2) // d0 + d3 (d1 off-target, d2 near-dup)
    assert(e.getChunk("d3").text == "gamma alpha beta")
  }

  test("curation-gated ingest with QUALITY gates on (streaming parity " +
    "with curateAndIngest): degenerate-repetition and all-stopword " +
    "chunks drop before decontamination and dedup") {
    import graft.engine._
    import graft.operators.TrainingData
    implicit val sqlCtx = spark.sqlContext
    val e = VectorEngine.create(spark)
    e.createLibrary("qcur", dim = 4, id = Some("qlib"),
      indexKind = "random_projection", lshProjections = 4, lshSeed = 7L)
    val doc = e.createDocument("qlib", "qdoc")
    val benchGrams = TrainingData.benchmarkShingles(
      Seq("held out eval text").toDF("text"), col("text"), n = 3)
      .localCheckpoint()
    val mem = MemoryStream[(String, String, String, Seq[Float], Int)]
    val streamDf = mem.toDF()
      .toDF("id", "document_id", "text", "embedding", "chunk_index")
      .withColumn("metadata", typedLit(Map.empty[String, String]))
    val ckpt = graft.operators.Scratch.newDir("qcur-ckpt").toString
    val q = StreamingIngest.startCurationGatedChunkIngest(
      e, "qlib", streamDf, threshold = 0.05, benchGrams, n = 3, ckpt,
      qualityMin = 0.5, maxDupNgramFrac = 0.5)
    try {
      mem.addData(
        // all-stopword: quality score 0.3*(4/7)+0.4*0+0.3*0.07 < 0.5
        ("q0", doc.id, "the of to and the of to", Seq(1f, 0f, 0f, 0f), 0),
        // degenerate repetition: dup bigram frac = 1 - 1/4 = 0.75 > 0.5
        ("q1", doc.id, "spam spam spam spam spam", Seq(0f, 1f, 0f, 0f), 1),
        // contaminated: shares the eval trigram (passes quality)
        ("q2", doc.id, "prefix held out eval text suffix", Seq(0f, 0f, 1f, 0f), 2),
        // clean, high quality
        ("q3", doc.id, "genuinely varied organic content here", Seq(0f, 0f, 0f, 1f), 3))
      q.processAllAvailable()
    } finally q.stop()
    assert(e.chunkCount("qlib") == 1)
    assert(e.getChunk("q3").text == "genuinely varied organic content here")
  }
}
