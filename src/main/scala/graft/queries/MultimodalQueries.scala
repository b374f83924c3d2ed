package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.streaming.StreamingIngest

/** Multimodal binary-column features and the streaming windowed aggregate,
  * both oracle-checked. The binary payload is the utf-8 text (the only
  * bytes in the test corpus) — the plumbing is identical for real
  * image/audio bytes.
  */
object MultimodalQueries {

  /** Binary feature extraction: byte length, sha256, stub-decoded
    * dimensions, frame count. */
  private val mmFeatures: QueryFn = (s, dir) =>
    Multimodal.features(
        table(s, dir, "documents").withColumn("content", col("text").cast("binary")),
        col("doc_id"), col("content"), lit("text"))
      .orderBy(col("id"))

  private val mmFeaturesSql: String =
    s"""SELECT doc_id AS id, 'text' AS modality,
       |  octet_length(text::BLOB)::BIGINT AS n_bytes,
       |  sha256(text) AS sha,
       |  ((('0x' || substr(sha256(text), 1, 2))::INT & 63) + 1)::INT AS width,
       |  ((('0x' || substr(sha256(text), 3, 2))::INT & 63) + 1)::INT AS height,
       |  ceil(octet_length(text::BLOB)::DOUBLE / ${Multimodal.FrameBytes})::BIGINT AS n_frames
       |FROM documents ORDER BY id""".stripMargin

  /** Frame-sampling arithmetic: per-document frame count and total sampled
    * bytes after slicing into ${Multimodal.FrameBytes}-byte frames. */
  private val mmFrames: QueryFn = (s, dir) =>
    Multimodal.sampleFrames(
        table(s, dir, "documents").withColumn("content", col("text").cast("binary")),
        col("doc_id"), col("content"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(length(col("frame"))).as("total_bytes"))
      .orderBy(col("id"))

  /** REAL header decode over the committed fixture assets
    * (fixtures/multimodal — BMP / PPM / WAV / opaque bytes written by
    * tools/make_multimodal.py): the Spark side parses the asset BYTES
    * with Multimodal.decode through the per-partition codec path, the
    * oracle reads the generator's manifest — ground truth computed by an
    * INDEPENDENT implementation (python struct + the stdlib wave
    * module), so a mis-parsed offset, a missed top-down BMP, a comment
    * inside a PPM header, or an opaque payload mistaken for a format
    * all hash-mismatch. */
  private val MultimodalFixDir = s"${AnnQueries.FixturesDir}/multimodal"

  private val mmDecodeHeaders: QueryFn = (s, _) => {
    import s.implicits._
    s.read.format("binaryFile").load(MultimodalFixDir)
      .select(element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .where(col("name") =!= "manifest.json")
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (name, bytes) =>
        val d = Multimodal.decode(bytes)
        (name, d.modality, d.width, d.height, d.nFrames)
      })
      .toDF("name", "modality", "width", "height", "n_frames")
      .orderBy("name")
  }

  private val mmDecodeHeadersSql: String =
    s"""SELECT name, modality, width::INT AS width, height::INT AS height,
       |  n_frames::BIGINT AS n_frames
       |FROM read_json('$MultimodalFixDir/manifest.json')
       |ORDER BY name""".stripMargin

  /** REAL raster decode over the same fixtures: true pixel dimensions
    * plus the canonical RGBA pixel checksum (sha256 over R,G,B,A bytes
    * row-major) from Multimodal.decodePixels — pure-Scala PPM/PNG/BMP
    * decoders first, JDK ImageIO fallback. The oracle reads the
    * manifest's pixel ground truth, computed by the python generator
    * from the SOURCE pixel arrays its encoders were fed — so a wrong
    * defilter, a missed bottom-up row flip, a palette misread, or a
    * decode that should have failed but "succeeded" (header-only JPEG,
    * strip-less TIFF — manifest nulls) all hash-mismatch. */
  private val mmDecodePixels: QueryFn = (s, _) => {
    import s.implicits._
    Multimodal.decodePixelPartitions(
        s.read.format("binaryFile").load(MultimodalFixDir)
          .select(element_at(split(col("path"), "/"), -1).as("name"),
            col("content"))
          .where(col("name") =!= "manifest.json")
          .as[(String, Array[Byte])])
      .toDF()
      .select(col("name"), col("pixel_width"), col("pixel_height"),
        col("pixel_sha"))
      .orderBy("name")
  }

  private val mmDecodePixelsSql: String =
    s"""SELECT name, pixel_width::INT AS pixel_width,
       |  pixel_height::INT AS pixel_height, pixel_sha
       |FROM read_json('$MultimodalFixDir/manifest.json')
       |ORDER BY name""".stripMargin

  /** STREAMING nearest-neighbor resize to 8×8 over the same assets —
    * the thumbnail/feature-prep stage of an image pipeline
    * (Multimodal.resizePixelPartitions: source rows play through the
    * shared decoder row-sink and are sampled straight into the
    * destination raster; the source is never materialized). The oracle
    * is the fixture generator's INDEPENDENT python twin — same
    * un-centered floor(dst·src/dstDim) rule over its ground-truth RGBA
    * arrays — so upsampling (3×5 → 8×8), downsampling (21×13 → 8×8),
    * and the 1×999 degenerate strip are all pinned byte-exactly.
    * Assets without a pure-decoder raster (ImageIO-only formats, audio,
    * video, junk) must stay null, like pixel_sha. */
  private val mmResize: QueryFn = (s, _) => {
    import s.implicits._
    Multimodal.resizePixelPartitions(
        s.read.format("binaryFile").load(MultimodalFixDir)
          .select(element_at(split(col("path"), "/"), -1).as("name"),
            col("content"))
          .where(col("name") =!= "manifest.json")
          .as[(String, Array[Byte])],
        dstW = 8, dstH = 8)
      .toDF()
      .select(col("name"), col("resize_width"), col("resize_height"),
        col("resize_sha"))
      .orderBy("name")
  }

  private val mmResizeSql: String =
    s"""SELECT name, resize_width::INT AS resize_width,
       |  resize_height::INT AS resize_height, resize_sha
       |FROM read_json('$MultimodalFixDir/manifest.json')
       |ORDER BY name""".stripMargin

  /** REAL audio-sample decode: WAV PCM payloads verify end-to-end
    * (sha256 over the raw PCM as the python `wave` writer emitted it),
    * and FLAC payloads decode LOSSLESSLY through the pure-JDK
    * [[graft.operators.FlacDecoder]] (full RFC 9639 frame decode —
    * constant/verbatim/fixed/LPC subframes, Rice partitions + escapes,
    * all four stereo modes — CRC-8/CRC-16/STREAMINFO-MD5 verified) to
    * the SAME canonical interleaved-LE PCM the python encoder hashed
    * from its source samples. Lossy payloads (Opus/Vorbis/MP4) and the
    * header-only FLAC stay null — a decode that "succeeded" on one
    * would hash-mismatch the manifest nulls. */
  private val mmDecodeSamples: QueryFn = (s, _) => {
    import s.implicits._
    s.read.format("binaryFile").load(MultimodalFixDir)
      .select(element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .where(col("name") =!= "manifest.json")
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (name, bytes) =>
        (name, Multimodal.decodeSamples(bytes).map(_.sha))
      })
      .toDF("name", "sample_sha")
      .orderBy("name")
  }

  private val mmDecodeSamplesSql: String =
    s"""SELECT name, sample_sha
       |FROM read_json('$MultimodalFixDir/manifest.json')
       |ORDER BY name""".stripMargin

  private val mmFramesSql: String =
    s"""SELECT doc_id AS id,
       |  ceil(octet_length(text::BLOB)::DOUBLE / ${Multimodal.FrameBytes})::BIGINT AS n_frames,
       |  octet_length(text::BLOB)::BIGINT AS total_bytes
       |FROM documents ORDER BY id""".stripMargin

  /** Hourly windowed event aggregate (batch twin of the streaming path —
    * identical code, SURVEY.md §2.7). The events parquet stores
    * timestamps whose physical type has varied across driver generations —
    * eventsTable normalizes either representation to TimestampType. */
  private val eventWindows: QueryFn = (s, dir) => {
    val ev = eventsTable(s, dir)
    StreamingIngest.windowedEventCounts(ev)
      .orderBy(col("window_start"), col("event_type"))
  }

  private val eventWindowsSql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |  count(*) AS n_events, round(sum(value), 2) + 0 AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Sessionization: reconstruct user sessions from the event stream with
    * a 30-minute inactivity gap — lag + cumulative-sum windows partitioned
    * by user (the shuffle key; scales with user cardinality). Gaps are
    * compared in integer MICROSECONDS on both sides (unix_micros /
    * epoch_us) — a seconds cast would round differently in DuckDB
    * (half-even) than Spark (truncation). */
  private val sessionize: QueryFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val GapUs = 1800L * 1000000L
    val ev = eventsTable(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > GapUs, 1).otherwise(0))
      .withColumn("session_seq", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        (round(sum(col("value")), 2) + lit(0.0d)).as("session_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  private val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, value,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev_us IS NULL
      |      OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |x AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM m)
      |SELECT user_id, session_seq::BIGINT AS session_seq,
      |  count(*) AS n_events, min(ts) AS session_start,
      |  round(sum(value), 2) + 0 AS session_value
      |FROM x GROUP BY user_id, x.session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** STATEFUL sessionization (flatMapGroupsWithState) run in batch mode:
    * the same typed fold that powers the streaming path, oracle-checked
    * against the SQL window formulation — proving the per-key state
    * machine and the lag+cumsum window compute the SAME sessions. */
  private val sessionizeStateful: QueryFn = (s, dir) => {
    import s.implicits._
    import graft.streaming.StatefulSessionize
    val ev = eventsTable(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[StatefulSessionize.SessionEvent]
    StatefulSessionize.sessionizeBatch(ev).toDF()
      .withColumn("session_value", round(col("session_value"), 2) + lit(0.0d))
      .orderBy(col("user_id"), col("session_start"))
  }

  private val sessionizeStatefulSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, value,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev_us IS NULL
      |      OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |x AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM m)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
      |  round(sum(value), 2) + 0 AS session_value
      |FROM x GROUP BY user_id, session_seq
      |ORDER BY user_id, session_start""".stripMargin

  /** The stream-stream interval join run in BATCH mode (identical code;
    * watermarks are no-ops on bounded input): every purchase paired with
    * the same user's clicks in the preceding 30 minutes. */
  private val intervalJoin: QueryFn = (s, dir) => {
    val ev = eventsTable(s, dir)
    graft.streaming.StreamingIngest.clickToPurchaseJoin(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"),
        windowSeconds = 1800L)
      .orderBy(col("purchase_id"), col("click_id"))
  }

  private val intervalJoinSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
      |  c.event_id AS click_id, c.ts AS click_ts
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL 1800 SECONDS AND c.ts <= p.ts
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |ORDER BY purchase_id, click_id""".stripMargin

  /** Stream enrichment: events joined to a broadcast dimension (the
    * foreachBatch-side pattern for attaching user/customer attributes to
    * a stream) — zero shuffle on the event side, one aggregate. */
  private val eventsEnriched: QueryFn = (s, dir) => {
    val ev = eventsTable(s, dir).select(col("user_id"), col("value"))
    val cust = table(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        (round(sum(col("value")), 2) + lit(0.0d)).as("total_value"))
      .orderBy(col("c_mktsegment"))
  }

  private val eventsEnrichedSql: String =
    """SELECT c_mktsegment, count(*) AS n_events,
      |  round(sum(value), 2) + 0 AS total_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** DEDUP-GATED streaming ingest under the oracle hash gate (the
    * StreamingIngest.upsertBatch contract, previously spec-only): a
    * date-partitioned sink primed with the already-ingested history,
    * then ONE redelivered micro-batch — an at-least-once source's worst
    * case: rows the sink already holds (every even id) AND intra-batch
    * duplicates (ids divisible by 10 arrive twice) — run through the
    * gates (within-batch dropDuplicates, date-pruned anti-join vs the
    * sink, one append), and the hourly windowed aggregation over what
    * the sink then holds. The oracle replays the gates set-theoretically
    * (DISTINCT → anti-join → union with the primed history) and the same
    * window aggregation, so a double-insert OR an over-drop flips the
    * hash. */
  // One sink per sf dir in [[Artifacts]]: the gate's content is
  // deterministic (same priming + same batch), so repeated invocations
  // reuse the first build instead of re-writing ~1.6x the events table.
  private val eventsDedupGated: QueryFn = (s, dir) => {
    val sink = Artifacts.memo(s, dir, "dedup-sink") { root =>
      val ev = eventsTable(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val path = root + "/events"
      StreamingIngest.upsertBatch(ev.where(col("event_id") % 3 =!= 0), path)
      val batch = ev.where(col("event_id") % 2 === 0)
        .unionAll(ev.where(col("event_id") % 10 === 0))
      StreamingIngest.upsertBatch(batch, path)
      path
    }
    StreamingIngest.windowedEventCounts(
        s.read.parquet(sink)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")))
      .orderBy(col("window_start"), col("event_type"))
  }

  private val eventsDedupGatedSql: String =
    """WITH sink0 AS (
      |  SELECT event_id, ts, event_type, value FROM events WHERE event_id % 3 <> 0),
      |batch AS (
      |  SELECT event_id, ts, event_type, value FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT event_id, ts, event_type, value FROM events WHERE event_id % 10 = 0),
      |bdedup AS (SELECT DISTINCT event_id, ts, event_type, value FROM batch),
      |survivors AS (SELECT b.* FROM bdedup b ANTI JOIN sink0 s USING (event_id)),
      |final AS (SELECT * FROM sink0 UNION ALL SELECT * FROM survivors)
      |SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |  count(*) AS n_events, round(sum(value), 2) + 0 AS total_value
      |FROM final GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  val all: Seq[Q] = Seq(
    Q("multimodal_features", mmFeatures, Some(mmFeaturesSql)),
    Q("multimodal_decode_headers", mmDecodeHeaders, Some(mmDecodeHeadersSql)),
    Q("multimodal_decode_pixels", mmDecodePixels, Some(mmDecodePixelsSql)),
    Q("multimodal_resize", mmResize, Some(mmResizeSql)),
    Q("multimodal_decode_samples", mmDecodeSamples, Some(mmDecodeSamplesSql)),
    Q("multimodal_frames", mmFrames, Some(mmFramesSql)),
    Q("streaming_window_agg", eventWindows, Some(eventWindowsSql)),
    Q("events_dedup_gated", eventsDedupGated, Some(eventsDedupGatedSql)),
    Q("events_sessionize", sessionize, Some(sessionizeSql)),
    Q("events_sessionize_stateful", sessionizeStateful, Some(sessionizeStatefulSql)),
    Q("events_interval_join", intervalJoin, Some(intervalJoinSql)),
    Q("events_enriched", eventsEnriched, Some(eventsEnrichedSql)),
  )
}
