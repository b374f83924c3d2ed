package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TrainingData

class TrainingDataSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // ---------------- contamination ----------------

  private val bench = Seq(
    (100L, "alpha beta gamma delta epsilon"),
    (101L, "one two three four five six"),
  ).toDF("id", "text")

  private val corpus = Seq(
    (1L, "prefix alpha beta gamma delta suffix"),       // shares 1 4-gram
    (2L, "one two three four five something else"),     // shares 2 4-grams
    (3L, "totally unrelated words appear in this doc"), // clean
    (4L, "alpha beta gamma delta epsilon"),             // exact bench text
  ).toDF("id", "text")

  test("contaminationHits counts distinct shared n-grams; clean docs absent") {
    val hits = TrainingData.contaminationHits(corpus, col("id"), col("text"),
        bench, col("text"), n = 4)
      .as[(Long, Long)].collect().toMap
    // doc 1: "alpha beta gamma delta"; doc 2: "one two three four",
    // "two three four five"; doc 4: both 4-grams of the 5-token bench doc
    assert(hits == Map(1L -> 1L, 2L -> 2L, 4L -> 2L))
  }

  test("contamination repeats in ONE doc count once (distinct shingles)") {
    val rep = Seq((9L, "alpha beta gamma delta and alpha beta gamma delta"))
      .toDF("id", "text")
    val hits = TrainingData.contaminationHits(rep, col("id"), col("text"),
        bench, col("text"), n = 4)
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(9L -> 1L))
  }

  test("contamination plan: benchmark side broadcast, corpus never " +
    "self-joined or repartitioned before the match") {
    val p = TrainingData.contaminationHits(corpus, col("id"), col("text"),
        bench, col("text"), n = 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"))
  }

  // ---------------- sequence packing ----------------

  private def referencePack(rows: Seq[(Long, Long)], budget: Long)
      : Map[Long, (Long, Long, Long, Long)] = {
    var off = 0L
    rows.sortBy(_._1).map { case (id, n) =>
      val first = off / budget
      val pos = off % budget
      val last = (off + math.max(n, 1L) - 1) / budget
      val r = id -> (off, first, pos, last)
      off += n
      r
    }.toMap
  }

  test("packAssignments matches a sequential concat-and-chunk reference, " +
    "including boundary-straddling and empty docs") {
    val rows = Seq(1L -> 10L, 2L -> 0L, 3L -> 25L, 4L -> 7L, 5L -> 64L,
      6L -> 1L, 7L -> 130L, 8L -> 3L)
    val got = TrainingData.packAssignments(rows.toDF("id", "n"),
        col("id"), col("n"), budget = 32L, shards = 3)
      .select("id", "offset", "seq_first", "seq_pos", "seq_last")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got == referencePack(rows, 32L))
  }

  test("packAssignments is shard-count invariant (boundaries never change " +
    "the offsets)") {
    val rows = (1L to 200L).map(i => i -> (i % 13))
    val df = rows.toDF("id", "n")
    val expected = referencePack(rows, 50L)
    for (shards <- Seq(1, 4, 64, 500)) {
      val got = TrainingData.packAssignments(df, col("id"), col("n"),
          budget = 50L, shards = shards)
        .select("id", "offset", "seq_first", "seq_pos", "seq_last")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
      assert(got == expected, s"shards=$shards")
    }
  }

  test("packAssignments plan: the corpus-sized window is PARTITIONED by " +
    "shard (the single-partition global window is the scale-killer this " +
    "operator exists to avoid)") {
    val df = (1L to 100L).map(i => i -> i).toDF("id", "n")
    val p = TrainingData.packAssignments(df, col("id"), col("n"),
        budget = 10L, shards = 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(shard"))
  }

  test("packAssignments rejects non-positive budget and shards") {
    val df = Seq(1L -> 1L).toDF("id", "n")
    intercept[IllegalArgumentException] {
      TrainingData.packAssignments(df, col("id"), col("n"), budget = 0L)
    }
    intercept[IllegalArgumentException] {
      TrainingData.packAssignments(df, col("id"), col("n"), budget = 1L,
        shards = 0)
    }
  }

  // ---------------- split assignment ----------------

  // ---------------- repeated-span removal ----------------

  test("removeCommonLines drops lines recurring across docs (trim-" +
    "insensitive identity), keeps order, and empties all-boilerplate " +
    "docs as husks") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "Cookie banner\nReal paragraph one\nAll rights reserved"),
      // same boilerplate lines with different INDENTATION — must match
      (2L, "  Cookie banner  \nUnique second doc text\nAll rights reserved"),
      (3L, "Cookie banner\nAll rights reserved"),     // fully boilerplate
      (4L, "One of a kind\nNothing shared here"),     // untouched
    ).toDF("id", "text")
    val got = TrainingData.removeCommonLines(docs, col("id"), col("text"),
        minDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((1L, 2L, "Real paragraph one")))
    assert(got(2L) == ((1L, 2L, "Unique second doc text")))
    assert(got(3L) == ((0L, 2L, "")))                 // husk, not dropped
    assert(got(4L) == ((2L, 0L, "One of a kind\nNothing shared here")))
    intercept[IllegalArgumentException] {
      TrainingData.removeCommonLines(docs, col("id"), col("text"),
        minDocFreq = 1)
    }
  }

  test("removeCommonLines review regressions: blank lines are exempt " +
    "from commonality; CRLF/tab-indented copies share one identity") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      // both docs have an empty line: it must NOT become "boilerplate"
      (1L, "intro\n\nbody one"),
      (2L, "other\n\nstuff two"),
      // the same footer with \r (CRLF source) and tab indentation —
      // all three must hash identically and vanish together
      (3L, "unique three\nAll rights reserved\r"),
      (4L, "unique four\n\tAll rights reserved"),
    ).toDF("id", "text")
    val got = TrainingData.removeCommonLines(docs, col("id"), col("text"),
        minDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((3L, 0L, "intro\n\nbody one")))   // blank kept
    assert(got(2L) == ((3L, 0L, "other\n\nstuff two")))
    assert(got(3L) == ((1L, 1L, "unique three")))        // \r copy removed
    assert(got(4L) == ((1L, 1L, "unique four")))         // tab copy removed
  }

  test("removeRepeatedSpans cuts corpus-common spans, reassembles " +
    "survivors in order, passes short docs, and empties fully-covered " +
    "ones instead of dropping them") {
    // "nav home about contact" is the chrome recurring in 3 docs
    val docs = Seq(
      (1L, "nav home about contact real content one here"),
      (2L, "other words nav home about contact more organic text"),
      (3L, "nav home about contact"),              // fully covered
      (4L, "totally organic document with words"), // untouched
      (5L, "tiny doc")).toDF("id", "text")         // shorter than n
    val got = TrainingData.removeRepeatedSpans(docs, col("id"), col("text"),
        n = 4, minDocFreq = 3)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 4L, "real content one here"),
      (2L, 5L, 4L, "other words more organic text"),
      (3L, 0L, 4L, ""),
      (4L, 5L, 0L, "totally organic document with words"),
      (5L, 2L, 0L, "tiny doc")))
  }

  test("removeRepeatedSpans: OVERLAPPING common grams cover the union " +
    "of their windows (no double-count, no gap)") {
    // "a b c d e" appears 3x, so BOTH 4-grams (a b c d) and (b c d e)
    // are common; tokens a..e are covered once each
    val docs = (1L to 3L).map(i => (i, s"w$i a b c d e z$i"))
      .toDF("id", "text")
    val got = TrainingData.removeRepeatedSpans(docs, col("id"), col("text"),
        n = 4, minDocFreq = 3)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    got.zipWithIndex.foreach { case ((id, kept, removed, clean), i) =>
      assert(kept == 2L && removed == 5L, got)
      assert(clean == s"w${i + 1} z${i + 1}")
      assert(id == i + 1L)
    }
  }

  test("removeRepeatedSpans plan: the common-gram set joins BROADCAST; " +
    "the corpus text is never self-joined") {
    val docs = (1L to 50L).map(i => (i, s"alpha beta gamma delta w$i"))
      .toDF("id", "text")
    val p = TrainingData.removeRepeatedSpans(docs, col("id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("removeRepeatedSpans validates arguments") {
    val df = Seq((1L, "a b")).toDF("id", "text")
    intercept[IllegalArgumentException] {
      TrainingData.removeRepeatedSpans(df, col("id"), col("text"), n = 0)
    }
    intercept[IllegalArgumentException] {
      TrainingData.removeRepeatedSpans(df, col("id"), col("text"),
        minDocFreq = 1)
    }
  }

  // ---------------- training-shard sink ----------------

  test("sequenceRows slices cover every sequence exactly to the budget " +
    "(except the last) and conserve every token") {
    val rows = (1L to 60L).map(i => (i, (i % 7) + 1)) // 60 docs, 1..7 toks
    val packed = TrainingData.packAssignments(rows.toDF("id", "n"),
      col("id"), col("n"), budget = 16L, shards = 4)
    val sl = TrainingData.sequenceRows(packed, budget = 16L)
      .as[(Long, Long, Long, Long, Long)].collect()
    val totalTokens = rows.map(_._2).sum
    assert(sl.map(_._4).sum == totalTokens) // slice_len conserves tokens
    val perSeq = sl.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val lastSeq = perSeq.keys.max
    perSeq.foreach { case (seq, tok) =>
      if (seq < lastSeq) assert(tok == 16L, s"seq $seq underfilled")
      else assert(tok > 0L && tok <= 16L)
    }
    // slice positions tile each sequence contiguously from 0
    sl.groupBy(_._1).foreach { case (_, slices) =>
      val sorted = slices.sortBy(_._5)
      assert(sorted.head._5 == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 + a._4 == b._5)
        case _ => ()
      }
    }
  }

  test("writeShards: every shard except the last holds exactly " +
    "seqsPerShard sequences, maxRecordsPerFile bounds file sizes, and " +
    "the manifest is deterministic across re-runs") {
    val rows = (1L to 80L).map(i => (i, (i % 5) + 2))
    val packed = TrainingData.packAssignments(rows.toDF("id", "n"),
      col("id"), col("n"), budget = 16L, shards = 4)
    val seqRows = TrainingData.sequenceRows(packed, budget = 16L)
    val dir = graft.operators.Scratch.newDir("shards").toString
    val m1 = TrainingData.writeShards(seqRows, s"$dir/a", seqsPerShard = 4,
      maxRecordsPerFile = 10).orderBy("shard")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val lastShard = m1.map(_._1).max
    m1.foreach { case (shard, nRows, nSeqs, _) =>
      if (shard < lastShard) assert(nSeqs == 4L, s"shard $shard")
      else assert(nSeqs >= 1L && nSeqs <= 4L)
      assert(nRows >= nSeqs) // every sequence has at least one slice
    }
    assert(m1.map(_._4).sum == rows.map(_._2).sum) // manifest conserves tokens
    // physical layout: partition dirs per shard, files under the cap
    val shardDirs = new java.io.File(s"$dir/a").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == m1.length)
    for (d <- shardDirs; f <- d.listFiles() if f.getName.endsWith(".parquet")) {
      val cnt = spark.read.parquet(f.getAbsolutePath).count()
      assert(cnt <= 10L, s"${f.getName} exceeds maxRecordsPerFile")
    }
    // the written bytes reproduce the manifest, and a second run of the
    // whole sink yields the identical manifest
    val m2 = TrainingData.writeShards(seqRows, s"$dir/b", seqsPerShard = 4,
      maxRecordsPerFile = 10).orderBy("shard")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(m1 == m2)
    val persisted = spark.read.parquet(s"$dir/a/_graft_manifest")
      .orderBy("shard").as[(Long, Long, Long, Long)].collect().toSeq
    assert(persisted == m1)
  }

  test("packedTokenSequences materializes the exact global token stream: " +
    "budget-full sequences, stream order, token conservation") {
    val docs = (1L to 30L).map(i =>
      (i, (0 until ((i % 4) + 1).toInt).map(j => s"w$i-$j")))
    val df = docs.toDF("id", "toks")
    val got = TrainingData.packedTokenSequences(df, col("id"), col("toks"),
        budget = 8L, shards = 4)
      .orderBy("seq").as[(Long, Long, Seq[String])].collect().toSeq
    val stream = docs.sortBy(_._1).flatMap(_._2)
    val expected = stream.zipWithIndex.groupBy(_._2 / 8).toSeq.sortBy(_._1)
      .map { case (s, toks) =>
        (s.toLong, toks.length.toLong, toks.map(_._1))
      }
    assert(got == expected)
    got.init.foreach { case (_, n, t) => assert(n == 8L && t.length == 8) }
    assert(got.map(_._3.size).sum == stream.length)
  }

  test("writeShards writes PAYLOAD shards too (one row per sequence, " +
    "seq-only sort key, tokenCol=n_tokens manifest)") {
    val docs = (1L to 40L).map(i => (i, Seq.tabulate(((i % 3) + 1).toInt)(
      j => s"t$i-$j")))
    val seqs = TrainingData.packedTokenSequences(docs.toDF("id", "toks"),
      col("id"), col("toks"), budget = 8L, shards = 2)
    val dir = graft.operators.Scratch.newDir("payload-shards")
      .toString
    val manifest = TrainingData.writeShards(seqs, dir, seqsPerShard = 3,
        tokenCol = "n_tokens")
      .orderBy("shard").as[(Long, Long, Long, Long)].collect().toSeq
    // one row per sequence: n_rows == n_seqs in every shard
    manifest.foreach { case (_, nRows, nSeqs, _) => assert(nRows == nSeqs) }
    assert(manifest.map(_._4).sum == docs.map(_._2.size).sum)
    // the written payload rows round-trip with their token arrays
    val back = spark.read.parquet(dir)
      .select("seq", "n_tokens", "tokens")
      .orderBy("seq").as[(Long, Long, Seq[String])].collect()
    assert(back.length == manifest.map(_._2).sum)
    back.foreach { case (_, n, t) => assert(n == t.size) }
  }

  test("writeShards validates arguments") {
    val packed = TrainingData.packAssignments(
      Seq((1L, 3L)).toDF("id", "n"), col("id"), col("n"), budget = 4L)
    val sr = TrainingData.sequenceRows(packed, budget = 4L)
    intercept[IllegalArgumentException] {
      TrainingData.writeShards(sr, "/tmp/x", seqsPerShard = 0)
    }
    intercept[IllegalArgumentException] {
      TrainingData.sequenceRows(packed, budget = 0L)
    }
  }

  test("assignSplit matches an independent md5 recomputation per id") {
    val ids = (0L until 50L).toDF("id")
    val got = ids.select(col("id"),
        TrainingData.assignSplit(col("id"), 90, 5).as("s"))
      .as[(Long, String)].collect().toMap
    def expected(id: Long): String = {
      val b = md5Bucket("split:", id, 100L)
      if (b < 90) "train" else if (b < 95) "val" else "test"
    }
    (0L until 50L).foreach(id => assert(got(id) == expected(id), s"id=$id"))
  }

  test("assignSplit fractions land near 90/5/5 and every label appears") {
    val counts = (0L until 2000L).toDF("id")
      .groupBy(TrainingData.assignSplit(col("id")).as("s")).count()
      .as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(math.abs(counts("train") - 1800L) < 100)
    assert(counts("val") > 40 && counts("test") > 40)
  }

  test("assignSplit validates percentages") {
    intercept[IllegalArgumentException] {
      TrainingData.assignSplit(col("id"), trainPct = 95, valPct = 5)
    }
  }

  // ---------------- mixture + weighted sampling ----------------

  private def md5Bucket(salt: String, id: Long, buckets: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest((salt + id.toString).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    java.lang.Long.parseLong(hex, 16) % buckets
  }

  test("mixtureSample matches an independent recomputation of cap, rates, " +
    "and the md5 keep rule; untargeted groups are dropped") {
    val rows = (0L until 300L).map(i =>
      (i, if (i % 10 < 6) "a" else if (i % 10 < 9) "b" else "c"))
    val df = rows.toDF("id", "g")
    val targets = Map("a" -> 0.5, "b" -> 0.5) // c untargeted
    val got = TrainingData.mixtureSample(df, col("id"), col("g"), targets)
      .select("id").as[Long].collect().toSet
    // independent reference: n_a=180, n_b=90 -> cap = min(360, 180) = 180
    val counts = rows.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val cap = targets.map { case (g, t) => counts(g) / t }.min
    val expected = rows.filter { case (id, g) =>
      targets.get(g).exists { t =>
        val rate = math.min(1.0, t * cap / counts(g))
        md5Bucket("mix:", id, 1000000L) < math.floor(rate * 1000000).toLong
      }
    }.map(_._1).toSet
    assert(got == expected)
    assert(!got.exists(id => rows(id.toInt)._2 == "c"))
    // group b is binding (rate 1.0): every b row survives
    assert(rows.filter(_._2 == "b").map(_._1).toSet.subsetOf(got))
  }

  test("temperatureMixture: alpha=1 keeps everything when shares are " +
    "exactly representable (1/4, 3/4 — non-dyadic shares may shave the " +
    "one top md5 bucket per the documented flooring hazard)") {
    val rows = (0L until 200L).map(i => (i, if (i % 4 == 0) "big" else "small"))
    val df = rows.toDF("id", "g")
    val got = TrainingData.temperatureMixture(df, col("id"), col("g"), alpha = 1.0)
      .count()
    assert(got == 200L)
  }

  test("temperatureMixture matches an independent recomputation; the " +
    "smallest group binds at rate 1.0 and the head is downsampled") {
    val rows = (0L until 300L).map(i =>
      (i, if (i % 10 < 6) "a" else if (i % 10 < 9) "b" else "c"))
    val df = rows.toDF("id", "g")
    val alpha = 0.5
    val counts = rows.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val tot = counts.values.sum
    val pa = counts.toSeq.sortBy(_._1).map { case (g, n) =>
      g -> (BigDecimal(math.pow(n / tot, alpha))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val z = pa.map(_._2).foldLeft(0.0d)(_ + _)
    val q = pa.map { case (g, p) => g -> p / z }.toMap
    val cap = q.map { case (g, qg) => counts(g) / qg }.min
    val expected = rows.filter { case (id, g) =>
      val rate = math.min(1.0, q(g) * cap / counts(g))
      md5Bucket("mixt:", id, 1000000L) < math.floor(rate * 1000000).toLong
    }.map(_._1).toSet
    val got = TrainingData.temperatureMixture(df, col("id"), col("g"), alpha)
      .select("id").as[Long].collect().toSet
    assert(got == expected)
    // the smallest group (c, 30 rows) is the binding one: all kept
    assert(rows.filter(_._2 == "c").map(_._1).toSet.subsetOf(got))
    // the head (a, 180 rows) is genuinely downsampled
    val keptA = got.count(id => rows(id.toInt)._2 == "a")
    assert(keptA < 180)
  }

  test("temperatureMixture: NULL-group rows are excluded from the model " +
    "up front — same delivered sample as if they never existed (counted " +
    "but undeliverable rows would distort q ∝ p^alpha and a large null " +
    "group could become the binding cap)") {
    val real = (0L until 120L).map(i => (i, if (i % 3 == 0) "a" else "b"))
    val withNulls = real ++ (200L until 500L).map(i => (i, null: String))
    val df = withNulls.toDF("id", "g")
    val clean = real.toDF("id", "g")
    val alpha = 0.5
    val got = TrainingData.temperatureMixture(df, col("id"), col("g"), alpha)
      .select("id").as[Long].collect().toSet
    val want = TrainingData.temperatureMixture(clean, col("id"), col("g"), alpha)
      .select("id").as[Long].collect().toSet
    assert(got == want)
    assert(got.forall(_ < 120L)) // no null-group row is ever delivered
  }

  test("removeDuplicatedSubstrings: a passage shared by exactly TWO docs " +
    "drops from both with exact boundaries; an intra-doc repeat drops " +
    "both copies; a below-minLen overlap survives; full dups empty out") {
    val shared = (0 until 8).map(i => s"s$i").mkString(" ")  // 8 tokens
    val span = (0 until 6).map(i => s"r$i").mkString(" ")    // 6 tokens
    val tiny = "t0 t1 t2"                                    // 3 < minLen
    val docs = Seq(
      (1L, s"u1a u1b u1c $shared u1d u1e"),
      (2L, s"u2a $shared u2b u2c u2d u2e u2f"),
      (3L, s"u3a u3b $span u3c u3d u3e $span u3f"),  // intra-doc pair
      (4L, s"u4a u4b u4c u4d $tiny u4e"),
      (5L, s"$tiny u5a u5b u5c u5d u5e"),
      (6L, "only unique words here at all"),
      (7L, "x0 x1 x2 x3 x4 x5 x6"),
      (8L, "x0 x1 x2 x3 x4 x5 x6")).toDF("id", "text")
    val got = TrainingData.removeDuplicatedSubstrings(docs, col("id"),
        col("text"), minLen = 5)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 8L, "u1a u1b u1c u1d u1e"),
      (2L, 6L, 8L, "u2a u2b u2c u2d u2e u2f"),
      (3L, 6L, 12L, "u3a u3b u3c u3d u3e u3f"),
      (4L, 8L, 0L, s"u4a u4b u4c u4d $tiny u4e"),
      (5L, 8L, 0L, s"$tiny u5a u5b u5c u5d u5e"),
      (6L, 6L, 0L, "only unique words here at all"),
      (7L, 0L, 7L, ""),
      (8L, 0L, 7L, "")))
  }

  test("removeDuplicatedSubstrings: coverage never bleeds past the " +
    "duplicated substring even when the passage abuts the doc edge, and " +
    "docs shorter than minLen always pass through") {
    val p = (0 until 5).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"$p a1 b1 c1"),       // passage at the very start
      (2L, s"a2 b2 c2 $p"),       // passage at the very end
      (3L, "short doc")).toDF("id", "text")
    val got = TrainingData.removeDuplicatedSubstrings(docs, col("id"),
        col("text"), minLen = 5)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 5L, "a1 b1 c1"),
      (2L, 3L, 5L, "a2 b2 c2"),
      (3L, 2L, 0L, "short doc")))
  }

  test("removeDuplicatedSubstrings plan: no self-join of the corpus, no " +
    "nested loop, coverage via a single partitioned window — and the " +
    "per-position frame never explodes duplicated starts x minLen") {
    val docs = (1L to 40L).map(i => (i, s"alpha beta gamma delta eps w$i"))
      .toDF("id", "text")
    val p = TrainingData.removeDuplicatedSubstrings(docs, col("id"),
        col("text"), minLen = 5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
    // the only explodes are the positional zip (it appears once per
    // branch reading occ: the dup count and the coverage side) — never
    // a covered-range sequence() explode, which would rewrite the
    // corpus' duplicated mass x minLen through a shuffle
    assert(!p.contains("explode(sequence"), p)
    assert(p.split("Generate ").length - 1 <= 2, p)
  }

  test("removeDuplicatedSubstrings validates minLen") {
    val df = Seq((1L, "a b")).toDF("id", "text")
    intercept[IllegalArgumentException] {
      TrainingData.removeDuplicatedSubstrings(df, col("id"), col("text"),
        minLen = 1)
    }
  }

  test("mixtureSample throws loudly when a targeted group has no corpus " +
    "rows (silently dropping the constraint would ship the wrong mixture)") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
    val e = intercept[Exception] {
      TrainingData.mixtureSample(df, col("id"), col("g"),
        Map("a" -> 0.5, "zz" -> 0.5)).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("no corpus rows"))
  }

  test("composed selection stages are pairwise independent (purpose " +
    "salts): a harsh mixture filter does not starve val/test splits") {
    // unsalted, survivors of bucket < t under one hash would ALL land in
    // 'train' under the same hash; purpose salts decorrelate the stages
    val ids = (0L until 5000L)
    val kept = ids.filter(id => md5Bucket("mix:", id, 1000000L) < 50000)
    val splits = kept.map(id => md5Bucket("split:", id, 100L))
    assert(kept.nonEmpty)
    assert(splits.exists(_ >= 95), "test split empty -> correlated hashes")
    assert(splits.exists(b => b >= 90 && b < 95),
      "val split empty -> correlated hashes")
  }

  test("weightedSample matches an independent top-k of ln(u)/w keys and " +
    "favors heavy rows") {
    val rows = (0L until 400L).map(i => (i, if (i < 200) 1L else 50L))
    val df = rows.toDF("id", "w")
    val got = TrainingData.weightedSample(df, col("id"), col("w"), k = 80)
      .select("id").as[Long].collect().toSet
    val expected = rows.map { case (id, w) =>
      val u = (md5Bucket("samp:", id, 1L << 30) + 1.0) / (1L << 30).toDouble
      (id, math.log(u) / w)
    }.sortBy { case (id, key) => (-key, id) }.take(80).map(_._1).toSet
    assert(got == expected)
    // 50x-weighted rows should dominate an 80-of-400 draw
    assert(got.count(_ >= 200L) > 60)
  }

  test("weightedSample with k >= n keeps everything") {
    val df = Seq(1L -> 5L, 2L -> 1L).toDF("id", "w")
    assert(TrainingData.weightedSample(df, col("id"), col("w"), k = 10)
      .count() == 2)
  }

  test("weightedSample throws loudly on a nonpositive weight (a silent " +
    "NaN key would always win a slot under Spark's NaN-greatest ordering)") {
    val df = Seq(1L -> 5L, 2L -> 0L).toDF("id", "w")
    val e = intercept[Exception] {
      TrainingData.weightedSample(df, col("id"), col("w"), k = 1).collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("non-numeric weight"))
  }

  test("weightedSample throws loudly on a NaN weight too — NaN passes " +
    "neither <= 0 nor isNull, the guard needs isnan explicitly") {
    val df = Seq(1L -> 5.0, 2L -> Double.NaN).toDF("id", "w")
    val e = intercept[Exception] {
      TrainingData.weightedSample(df, col("id"), col("w"), k = 1).collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("non-numeric weight"))
  }

  test("weightedSample throws loudly on a NON-NUMERIC string weight — the " +
    "cast yields null, which isNull on the RAW column would miss") {
    val df = Seq(1L -> "5.0", 2L -> "heavy").toDF("id", "w")
    val e = intercept[Exception] {
      TrainingData.weightedSample(df, col("id"), col("w"), k = 1).collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("non-numeric weight"))
  }

  // ---------------- boilerplate fraction ----------------

  test("boilerplateFraction flags corpus-common n-grams and scores " +
    "gram-less docs 0.0") {
    // "x y z" appears in 3 docs (clears minDocFreq=3); each doc's other
    // grams are unique to it
    val docs = Seq(
      (1L, "x y z only here alpha"),   // grams: 4, common: "x y z" = 1
      (2L, "x y z unrelated beta tail"),
      (3L, "prefix words x y z"),      // grams: 3, common: 1
      (4L, "nothing shared at all here"),
      (5L, "too short"),               // < 3 tokens -> no grams
    ).toDF("id", "text")
    val got = TrainingData.boilerplateFraction(docs, col("id"), col("text"),
        n = 3, minDocFreq = 3)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == ((4L, 0.25)))
    assert(got(2L) == ((4L, 0.25)))
    assert(got(3L) == ((3L, 0.333333)))
    assert(got(4L) == ((3L, 0.0)))
    assert(got(5L) == ((0L, 0.0)))
  }

  test("boilerplateFraction plan: the common set joins broadcast; the " +
    "corpus is never self-joined") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("id", "text")
    val p = TrainingData.boilerplateFraction(docs, col("id"), col("text"),
        n = 3, minDocFreq = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("boilerplateFraction validates minDocFreq") {
    val df = Seq(1L -> "a b c").toDF("id", "text")
    intercept[IllegalArgumentException] {
      TrainingData.boilerplateFraction(df, col("id"), col("text"),
        minDocFreq = 1)
    }
  }

  // ---------------- unigram-LM quality ----------------

  test("unigramLogProbs matches an independent Scala recomputation, " +
    "including the OOV floor under a vocab cap") {
    val docs = Seq(
      (1L, "a a b"),
      (2L, "b c c c"),
      (3L, "a z"), // z is rare -> OOV at cap 3
    ).toDF("id", "text")
    val got = TrainingData.unigramLogProbs(docs, col("id"), col("text"),
        vocabCap = 3)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // reference: counts a=3 b=2 c=3 z=1, total=9; vocab top-3 by
    // (count desc, term asc) = a, c, b; z -> floor ln(1/9)
    val toks = Map(1L -> Seq("a", "a", "b"), 2L -> Seq("b", "c", "c", "c"),
      3L -> Seq("a", "z"))
    val counts = toks.values.flatten.groupBy(identity).view
      .mapValues(_.size.toDouble).toMap
    val total = counts.values.sum
    val vocab = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(3).toMap
    def lp(t: String): Double =
      vocab.get(t).map(c => math.log(c / total))
        .getOrElse(math.log(1.0 / total))
    toks.foreach { case (id, ts) =>
      // same fold order as the operator: contributions sorted by term
      val s = ts.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (t, o) => o.size * lp(t) }.foldLeft(0.0)(_ + _)
      val expected = math.rint(s / ts.size * 1e6) / 1e6 + 0.0
      assert(got(id) == ((ts.size.toLong, expected)), s"id=$id")
    }
  }

  test("unigramLogProbs: a uniform doc of the top term scores highest") {
    val docs = Seq(
      (1L, "the the the the"),
      (2L, "the rare1 rare2 rare3"),
    ).toDF("id", "text")
    val got = TrainingData.unigramLogProbs(docs, col("id"), col("text"))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got(1L) > got(2L))
  }

  test("unigramLogProbs validates vocabCap") {
    val df = Seq(1L -> "a").toDF("id", "text")
    intercept[IllegalArgumentException] {
      TrainingData.unigramLogProbs(df, col("id"), col("text"), vocabCap = 0)
    }
  }

  // ---------------- repetition signals ----------------

  test("bigramLogProbs matches an independent Scala recomputation — " +
    "in-model bigrams, out-of-model backoff to the unigram term, OOV " +
    "floor, the first-token unigram-only position, and single-token docs") {
    val rows = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran"),
      (3L, "zebra"),                      // single token, OOV at cap 4
      (4L, "the cat sat on the mat"))     // exact dup of 1: same score
    val docs = rows.toDF("id", "text")
    val vocabCap = 4; val bigramCap = 3; val lambda = 0.7
    val mu = 1.0d - lambda
    // ---- independent model ----
    val tokd = rows.map { case (i, t) => i -> t.split(" ").toSeq }
    val termC = tokd.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val total = termC.values.sum
    val vocab = termC.toSeq.sortBy { case (t, c) => (-c, t) }.take(vocabCap)
      .map { case (t, c) => t -> c / total }.toMap
    val prs = tokd.flatMap { case (_, t) => t.sliding(2).filter(_.size == 2)
      .map(p => (p(0), p(1))) }
    val bgC = prs.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val ctxC = prs.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val bgModel = bgC.toSeq.sortBy { case ((p, c), n) => (-n, p, c) }
      .take(bigramCap)
      .map { case ((p, c), n) => (p, c) -> n / ctxC(p) }.toMap
    def pu(w: String) = vocab.getOrElse(w, 1.0d / total)
    val expected = tokd.map { case (i, t) =>
      val lp1 = math.log(pu(t.head))
      // the operator folds (prev, cur)-GROUPED contributions sorted by
      // key, then adds lp1 last — replay that exact order
      val grouped = t.sliding(2).filter(_.size == 2)
        .map(p => (p(0), p(1))).toSeq
        .groupBy(identity).view.mapValues(_.size.toDouble).toSeq
        .sortBy(_._1)
      val s = grouped.foldLeft(0.0d) { case (acc, ((p, c), cnt)) =>
        acc + cnt * math.log(lambda * bgModel.getOrElse((p, c), 0.0d) +
          mu * pu(c))
      }
      i -> BigDecimal((lp1 + s) / t.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = TrainingData.bigramLogProbs(docs, col("id"), col("text"),
        vocabCap = vocabCap, bigramCap = bigramCap, lambda = lambda)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (i, e) => assert(got(i) == e, s"doc $i") }
    assert(got(1L) == got(4L)) // identical text, identical score
    // at bigramCap 3 SOME observed bigram is out of model: the backoff
    // path is genuinely exercised (every bigram in-model would make the
    // cap meaningless)
    assert(bgC.size > bigramCap)
  }

  test("bigramLogProbs: corpus-typical bigram order scores above the " +
    "same unigrams scrambled (the signal the unigram rung cannot see)") {
    val base = (1L to 20L).map(i => (i, "alpha beta gamma delta"))
    val docs = (base ++ Seq((21L, "alpha beta gamma delta"),
      (22L, "delta beta alpha gamma"))).toDF("id", "text")
    val got = TrainingData.bigramLogProbs(docs, col("id"), col("text"),
        vocabCap = 10, bigramCap = 10, lambda = 0.7)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got(21L) > got(22L))
  }

  test("bigramLogProbs plan: both models attach by BROADCAST (never a " +
    "corpus shuffle on the model key); no cartesian product; the only " +
    "shuffle joins are keyed by the high-cardinality doc id (the final " +
    "per-doc attach — partitioned, linear, scale-correct)") {
    val docs = (1L to 30L).map(i => (i, s"a b c w$i")).toDF("id", "text")
    val p = TrainingData.bigramLogProbs(docs, col("id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // any sort-merge join must be on the doc id, not a model key
    val smjOnModelKey = "SortMergeJoin \\[(prev|cur|term)".r
    assert(smjOnModelKey.findFirstIn(p).isEmpty, p)
  }

  test("trainBigramLm / bigramScoreWithLm: the literal-model split is " +
    "value-identical to bigramLogProbs, the trained frames respect the " +
    "caps, scoring pins NOTHING, and a model scores a foreign frame " +
    "(the train-once/score-many shape the buckets operators rely on)") {
    val docs = (1L to 20L).map(i => (i, s"a b c a b w$i")).toDF("id", "text")
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val lm = TrainingData.trainBigramLm(docs, col("id"), col("text"),
      vocabCap = 5, bigramCap = 7)
    assert(lm.vocab.count() <= 5 && lm.bigrams.count() <= 7)
    assert(lm.total == 120.0) // 20 docs x 6 tokens, exact integer
    val viaLm = TrainingData.bigramScoreWithLm(docs, col("id"),
        col("text"), lm, lambda = 0.8)
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    val direct = TrainingData.bigramLogProbs(docs, col("id"), col("text"),
        vocabCap = 5, bigramCap = 7, lambda = 0.8)
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    assert(viaLm == direct)
    // train once, score a DIFFERENT frame (the streaming/threshold shape)
    val other = Seq((100L, "a b c"), (101L, "zz qq")).toDF("id", "text")
    val scored = TrainingData.bigramScoreWithLm(other, col("id"),
        col("text"), lm, lambda = 0.8)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(scored.keySet == Set(100L, 101L))
    assert(scored(100L) > scored(101L)) // corpus-typical beats OOV soup
    assert(sc.getPersistentRDDs.keySet == rddsBefore,
      "neither training nor scoring may leave block-store residue")
  }

  test("bigramLogProbs validates arguments") {
    val df = Seq((1L, "a b")).toDF("id", "text")
    intercept[IllegalArgumentException] {
      TrainingData.bigramLogProbs(df, col("id"), col("text"), lambda = 1.0)
    }
    intercept[IllegalArgumentException] {
      TrainingData.bigramLogProbs(df, col("id"), col("text"), vocabCap = 0)
    }
    intercept[IllegalArgumentException] {
      TrainingData.bigramLogProbs(df, col("id"), col("text"), bigramCap = 0)
    }
  }

  test("perplexityBuckets / perplexityBucketsByLang leave ZERO " +
    "block-store residue across construction and repeated " +
    "materializations (the r17 localCheckpoint pins are gone — the " +
    "driver bench measured them as the scale-killer)") {
    val docs = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) s"a b c a b w$i" else s"x y z x y v$i"))
      .toDF("id", "text")
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val g = TrainingData.perplexityBuckets(docs, col("id"), col("text"),
      vocabCap = 50, bigramCap = 100, lambda = 0.8, sampleCap = 10)
    assert(g.count() == 40 && g.count() == 40) // two materializations
    val l = TrainingData.perplexityBucketsByLang(docs, col("id"),
      col("text"), when(col("id") % 2 === 0, "en").otherwise("fr"),
      vocabCap = 50, bigramCap = 100, lambda = 0.8, sampleCapPerLang = 10)
    assert(l.count() == 40 && l.count() == 40)
    assert(sc.getPersistentRDDs.keySet == rddsBefore,
      "bucketing must not pin corpus frames in the block store")
  }

  test("perplexityBuckets: contiguous score-ordered terciles (every tail " +
    "score <= every middle score <= every head score), deterministic " +
    "across runs, all docs bucketed") {
    // 60 docs over three quality strata: corpus-typical phrases, mixed,
    // and unique-gibberish (lowest bigram score)
    val docs = ((1L to 20L).map(i => (i, "the quick brown fox jumps")) ++
      (21L to 40L).map(i => (i, s"the quick w$i fox jumps")) ++
      (41L to 60L).map(i => (i, s"z${i}a z${i}b z${i}c z${i}d z${i}e")))
      .toDF("id", "text")
    def run() = TrainingData.perplexityBuckets(docs, col("id"), col("text"),
        vocabCap = 100, bigramCap = 100, lambda = 0.7, sampleCap = 30)
      .select("id", "avg_logprob", "ppl_bucket")
      .as[(Long, Double, String)].collect().toSeq
    val got = run()
    assert(got.size == 60)
    assert(got.map(_._3).toSet == Set("head", "middle", "tail"))
    val byBucket = got.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket("tail").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("head").min)
    // the corpus-typical stratum lands at the top, gibberish at the bottom
    assert(got.filter(_._1 <= 20L).forall(_._3 == "head"), got.take(25))
    assert(got.filter(_._1 > 40L).forall(_._3 == "tail"))
    assert(run() == got) // deterministic: sample + thresholds are md5-pure
  }

  test("perplexityBuckets: an all-identical corpus degenerates to one " +
    "bucket deterministically (every score <= the single threshold)") {
    val docs = (1L to 9L).map(i => (i, "same text here")).toDF("id", "text")
    val got = TrainingData.perplexityBuckets(docs, col("id"), col("text"),
        vocabCap = 10, bigramCap = 10, lambda = 0.5, sampleCap = 5)
      .select("ppl_bucket").as[String].collect().toSeq
    assert(got.size == 9 && got.forall(_ == "tail"))
    intercept[IllegalArgumentException] {
      TrainingData.perplexityBuckets(docs, col("id"), col("text"),
        sampleCap = 0)
    }
  }

  test("removeCommonParagraphs: corpus-duplicated paragraphs drop, " +
    "unique survive in order, blank paragraphs are exempt, a 3-newline " +
    "separator normalizes to the canonical one, full-boilerplate docs " +
    "become empty husks") {
    val boiler = "subscribe to the newsletter"
    val docs = Seq(
      (1L, s"unique one alpha\n\n$boiler\n\nunique one beta"),
      (2L, s"$boiler\n\n\nunique two gamma"),   // \n\n\n separator
      (3L, "unique three delta\n\nunique three epsilon"),
      (4L, s"  $boiler \n\nunique four zeta"),  // trim-identical copy
      (5L, boiler),                             // every paragraph common
    ).toDF("id", "text")
    val got = TrainingData.removeCommonParagraphs(docs, col("id"),
        col("text"), minDocFreq = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == ((2L, 1L, "unique one alpha\n\nunique one beta")))
    assert(got(2L) == ((1L, 1L, "unique two gamma")))
    assert(got(3L) == ((2L, 0L, "unique three delta\n\nunique three epsilon")))
    assert(got(4L) == ((1L, 1L, "unique four zeta")))
    assert(got(5L) == ((0L, 1L, "")))
    intercept[IllegalArgumentException] {
      TrainingData.removeCommonParagraphs(docs, col("id"), col("text"),
        minDocFreq = 1)
    }
  }

  test("removeCommonParagraphs: a paragraph containing single newlines " +
    "is ONE unit (lines inside it are not dedup candidates), and a " +
    "whitespace-only paragraph never counts as common") {
    val docs = Seq(
      (1L, "line a\nline b\n\nline a\nline b"), // same 2-line para twice...
      (2L, "line a\nother"),                    // ...but doc 2 shares only a LINE
      (3L, "   \n\npayload"),              // blank para (NBSP+spaces)
      (4L, "\t\n\npayload two"),                // blank para again
    ).toDF("id", "text")
    val got = TrainingData.removeCommonParagraphs(docs, col("id"),
        col("text"), minDocFreq = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._4)).toMap
    // doc 1 repeats its paragraph WITHIN one doc: doc-frequency is 1,
    // nothing drops (corpus dedup counts distinct documents)
    assert(got(1L) == ((2L, "line a\nline b\n\nline a\nline b")))
    assert(got(2L) == ((1L, "line a\nother")))
    // the two blank paragraphs are trim-identical across docs 3 and 4
    // but exempt: both docs keep both paragraphs
    assert(got(3L) == ((2L, "   \n\npayload")))
    assert(got(4L) == ((2L, "\t\n\npayload two")))
  }

  test("c4Clean: each published rule trips exactly its document — " +
    "terminal-punctuation lines, the 3-word minimum, the javascript " +
    "line drop, the lorem/brace/blocklist page flags, the 5-sentence " +
    "floor on the CLEANED text, and the empty page") {
    val docs = Seq(
      (1L, "One good sentence sits here. Another follows directly!\n" +
        "Does a question count too? Yes it certainly does.\n" +
        "A fifth sentence closes the page."),
      (2L, "a line with no terminal punctuation\nShort stop.\n" +
        "Enable javascript to continue reading.\n" +
        "Only this surviving line has enough sentences? No."),
      (3L, "Lorem ipsum dolor sit. " +
        ("Filler sentence here. " * 5) + "\nBraces { appear } too."),
      (4L, "This page mentions nsfw somewhere. " +
        ("A very normal sentence. " * 5)),
      (5L, ""),
    ).toDF("id", "text")
    val got = TrainingData.c4Clean(docs, col("id"), col("text"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, String)]
      .collect().map(r => r._1 -> r).toMap
    // doc 1: 3 lines kept, 5 sentences, passes
    assert(got(1L)._3 == 3L && got(1L)._4 == 5L && got(1L)._8 == 1L, got(1L))
    // doc 2: no-punct line drops, 2-word "Short stop." drops (min 3
    // words), javascript line drops -> 1 of 4 lines kept, 2 sentences,
    // fails the sentence floor
    assert(got(2L)._2 == 4L && got(2L)._3 == 1L, got(2L))
    assert(got(2L)._4 == 2L && got(2L)._8 == 0L, got(2L))
    // doc 3: lorem + brace page flags (either alone fails)
    assert(got(3L)._5 == 1L && got(3L)._6 == 1L && got(3L)._8 == 0L, got(3L))
    // doc 4: blocklist token flag fails an otherwise-clean page
    assert(got(4L)._7 == 1L && got(4L)._8 == 0L, got(4L))
    assert(got(4L)._4 >= 5L, got(4L))
    // doc 5: empty page — one (empty) line, nothing kept, zero
    // sentences, definite fail, empty clean text (never null)
    assert(got(5L) == ((5L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, "")))
    intercept[IllegalArgumentException] {
      TrainingData.c4Clean(docs, col("id"), col("text"), minLineWords = 0)
    }
    intercept[IllegalArgumentException] {
      TrainingData.c4Clean(docs, col("id"), col("text"),
        blocklist = Seq.empty)
    }
  }

  test("gopherRepetitionStats: hand-computed duplicate line/paragraph " +
    "fractions (blank units exempt), top-gram char mass with the " +
    "longer-gram tie-break, and 5..10-gram coverage that never " +
    "double-counts overlapping duplicates") {
    val docs = Seq(
      // lines: a b a (3 non-blank, 2 distinct; blank line exempt);
      // paragraphs: [a\nb] [a] — 2 units, both distinct
      (1L, "linea\nlineb\n\n \nlinea"),
      // a 5-gram repeated twice back-to-back: tokens t1..t5 t1..t5 —
      // every 5-gram start in {0,5} duplicates? occurrences of
      // (t1..t5) = 2 -> dup; overlapping windows (t2..t5 t1 etc.)
      // occur once each -> coverage = ALL 10 tokens (starts 0 and 5
      // cover 0..4 and 5..9); chars = 20 of 20 -> frac 1.0
      (2L, "aa bb cc dd ee aa bb cc dd ee"),
      // no repetition at all — long enough that a single-occurrence
      // top gram stays under the char-mass thresholds
      (3L, (1 to 40).map(i => s"u$i").mkString(" ")),
      (4L, ""))
      .toDF("id", "text")
    val got = TrainingData.gopherRepetitionStats(docs, col("id"), col("text"))
    val byId = got.collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, name: String): Double =
      byId(id).getDouble(got.columns.indexOf(name))
    // doc 1: 3 non-blank lines, 2 distinct -> dup_line_frac 1/3;
    // chars: linea(5)x2 + lineb(5) = 15 occ, 10 distinct -> 5/15
    assert(f(1L, "dup_line_frac") == 0.333333, byId(1L))
    assert(f(1L, "dup_line_char_frac") == 0.333333, byId(1L))
    assert(f(1L, "dup_para_frac") == 0.0, byId(1L))
    // doc 2: the repeated 5-gram covers every token position
    assert(f(2L, "dup_5gram_char_frac") == 1.0, byId(2L))
    // no 6-gram repeats (the doc is exactly two 5-token halves)
    assert(f(2L, "dup_6gram_char_frac") == 0.0, byId(2L))
    // top bigram of doc 2: every adjacent pair occurs... ("aa bb") x2,
    // ("ee aa") x1 etc. -> max count 2, gram chars 4 -> 2*4/20 = 0.4
    assert(f(2L, "top_2gram_char_frac") == 0.4, byId(2L))
    // doc 2 trips the 5-gram threshold (1.0 > 0.15): fails
    assert(byId(2L).getLong(got.columns.indexOf("passes")) == 0L)
    // doc 3: nothing repeats -> all dup fractions 0, top bigram 1
    // occurrence: e.g. "u1 u2" chars 4 of 38 -> small; passes
    assert(f(3L, "dup_5gram_char_frac") == 0.0)
    assert(f(3L, "dup_line_frac") == 0.0)
    assert(byId(3L).getLong(got.columns.indexOf("passes")) == 1L)
    // doc 4: empty — zero char base, every fraction a definite 0.0,
    // passes (nothing to flag)
    assert(f(4L, "dup_10gram_char_frac") == 0.0)
    assert(f(4L, "top_4gram_char_frac") == 0.0)
    assert(byId(4L).getLong(got.columns.indexOf("passes")) == 1L)
  }

  test("gopherRepetitionStats: overlapping duplicated 5-grams count " +
    "covered tokens ONCE (a 6-token repeat yields two duplicated " +
    "5-gram starts whose windows overlap)") {
    // tokens: x1..x6 x1..x6 -> 5-gram starts 0,1 and 6,7 duplicated;
    // coverage = positions 0..5 and 6..11 = all 12; frac 1.0 (not >1)
    val docs = Seq((1L, "x1 x2 x3 x4 x5 x6 x1 x2 x3 x4 x5 x6"))
      .toDF("id", "text")
    val got = TrainingData.gopherRepetitionStats(docs, col("id"), col("text"))
      .select("dup_5gram_char_frac", "dup_6gram_char_frac")
      .as[(Double, Double)].head()
    assert(got._1 == 1.0, got)
    assert(got._2 == 1.0, got) // the full 6-gram also repeats
  }

  test("perplexityBucketsByLang: terciles are contiguous WITHIN each " +
    "language, deterministic across runs, and a language scoring " +
    "uniformly low still splits into its own head/middle/tail where " +
    "the global cut would call all of it tail") {
    // lang A: corpus-typical phrases plus i doc-unique tokens (scores
    // high, strictly decreasing in i); lang B: almost all doc-unique
    // tokens (scores uniformly FAR below every A doc, still varying) —
    // continuous within-language variance, so terciles are never
    // degenerate on ties
    def uniq(p: String, i: Long, k: Int) =
      (1 to k).map(j => s"$p${i}x$j").mkString(" ")
    val docs = ((1L to 24L).map(i =>
        (i, "the quick brown fox jumps " * 3 + uniq("a", i, i.toInt))) ++
      (25L to 48L).map(i => (i, "lb " + uniq("b", i, i.toInt - 4))))
      .toDF("id", "text")
    val lang = when(col("id") <= 24L, lit("A")).otherwise(lit("B"))
    def runLang() = TrainingData.perplexityBucketsByLang(docs, col("id"),
        col("text"), lang, vocabCap = 100, bigramCap = 100, lambda = 0.7,
        sampleCapPerLang = 20)
      .select("id", "lang", "avg_logprob", "ppl_bucket")
      .as[(Long, String, Double, String)].collect().toSeq
    val got = runLang()
    assert(got.size == 48)
    assert(got.map(_._2).toSet == Set("A", "B"))
    Seq("A", "B").foreach { l =>
      val in = got.filter(_._2 == l)
      assert(in.map(_._4).toSet == Set("head", "middle", "tail"), l)
      val byBucket = in.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      assert(byBucket("tail").max <= byBucket("middle").min, l)
      assert(byBucket("middle").max <= byBucket("head").min, l)
    }
    assert(runLang() == got) // md5-pure sample + thresholds
    // the GLOBAL cut on the same corpus can never call a B doc 'head'
    // (every B score sits below every A score, and the global t2 rank
    // lands inside A's range) — yet B has per-language heads above:
    // the disagreement perplexityBucketsByLang exists to fix
    val global = TrainingData.perplexityBuckets(docs, col("id"), col("text"),
        vocabCap = 100, bigramCap = 100, lambda = 0.7, sampleCap = 40)
      .select("id", "ppl_bucket").as[(Long, String)].collect().toMap
    assert((25L to 48L).forall(i => global(i) != "head"))
    val bHeads = got.filter(r => r._2 == "B" && r._4 == "head").map(_._1)
    assert(bHeads.nonEmpty && bHeads.forall(i => global(i) != "head"))
  }

  test("perplexityBucketsByLang: a NULL language key coalesces to 'und' " +
    "instead of silently vanishing through the inner joins (ADVICE r17)") {
    val docs = Seq(
      (1L, "a b a b c", "en"), (2L, "a b c a", "en"), (3L, "c a b", "en"),
      (4L, "x y z", null), (5L, "x z y x", null), (6L, "z y", null),
    ).toDF("id", "text", "l")
    val got = TrainingData.perplexityBucketsByLang(docs, col("id"),
        col("text"), col("l"), vocabCap = 20, bigramCap = 40,
        lambda = 0.8, sampleCapPerLang = 10)
      .select("id", "lang").as[(Long, String)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L),
      s"null-lang docs must not vanish: $got")
    assert(got(4L) == "und" && got(5L) == "und" && got(6L) == "und")
    assert(got(1L) == "en")
  }

  test("ccnet fixture: the three languages are predicted exactly, the " +
    "global cut shunts ALL fr docs into tail, and the per-language cut " +
    "splits every language into all three buckets (the Wenzek §4.3 " +
    "disagreement pipeline_ccnet_buckets_lang gates)") {
    val docs = spark.read.parquet("fixtures/ccnet_docs.parquet")
      .where(col("doc_id") < 90) // the husk/single-paragraph tail docs
    val t = col("text")
    val langEx = graft.operators.TextAnalysis
      .predictedLangScript(t, graft.operators.TextAnalysis.tokens(t))
    val perLang = TrainingData.perplexityBucketsByLang(docs, col("doc_id"),
        t, langEx, vocabCap = 150, bigramCap = 300, lambda = 0.8,
        sampleCapPerLang = 20)
      .select("id", "lang", "ppl_bucket")
      .as[(Long, String, String)].collect().toSeq
    assert(perLang.size == 90)
    val byLang = perLang.groupBy(_._2)
    assert(byLang.keySet == Set("en", "de", "fr"))
    assert(byLang.forall(_._2.size == 30))
    byLang.foreach { case (l, rows) =>
      assert(rows.map(_._3).toSet == Set("head", "middle", "tail"), l)
    }
    val global = TrainingData.perplexityBuckets(docs, col("doc_id"), t,
        vocabCap = 150, bigramCap = 300, lambda = 0.8, sampleCap = 60)
      .select("id", "ppl_bucket").as[(Long, String)].collect().toMap
    val frIds = perLang.filter(_._2 == "fr").map(_._1)
    assert(frIds.forall(i => global(i) == "tail"))
  }

  test("ccnetPipeline: dedup feeds scoring — a doc whose boilerplate " +
    "was its only corpus-typical mass scores LOWER after dedup, and " +
    "the empty husk survives end-to-end via the one-empty-token path") {
    val docs = spark.read.parquet("fixtures/ccnet_docs.parquet")
    val got = TrainingData.ccnetPipeline(docs, col("doc_id"), col("text"),
        minDocFreq = 2, vocabCap = 150, bigramCap = 300, lambda = 0.8,
        sampleCapPerLang = 20)
      .select("id", "n_kept", "n_removed", "n_tokens")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.size == 92)         // every doc survives, husk included
    assert(got(90L) == ((0L, 2L, 1L))) // all-boilerplate doc: 1 empty token
    assert(got(91L)._2 == 0L)      // single unique paragraph: untouched
    assert(got.values.map(_._2).sum > 0L) // the dedup genuinely fired
  }

  test("ccnetPipeline minLangConf: the CCNet language-SCORE keep rule " +
    "drops a doc the argmax keeps (keyword soup labels 'en' at zero " +
    "confidence) BEFORE bucketing; 0.0 keeps everything") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog sat too it is fine"),
      (2L, "data pipeline quality matters at scale every single day"),
      (3L, "the quick brown fox jumps over the lazy dog in the park"),
      (4L, "a bird of the north flies to the warm south in winter"),
    ).toDF("doc_id", "text")
    def run(conf: Double) = TrainingData.ccnetPipeline(docs, col("doc_id"),
        col("text"), minDocFreq = 2, vocabCap = 50, bigramCap = 100,
        lambda = 0.8, sampleCapPerLang = 10, minLangConf = conf)
      .select("id", "lang").as[(Long, String)].collect().toMap
    val all = run(0.0)
    assert(all.keySet == Set(1L, 2L, 3L, 4L))
    assert(all(2L) == "en") // the argmax alone KEEPS the keyword soup
    val gated = run(graft.operators.TextAnalysis.LangIdMinConfidence)
    assert(gated.keySet == Set(1L, 3L, 4L),
      s"zero-stopword doc 2 must drop at the confidence cut, got $gated")
    intercept[IllegalArgumentException] {
      run(1.5)
    }
  }

  test("tokenBudgetPlan: the epoch cap binds exactly when quota exceeds " +
    "maxEpochs x avail; untargeted groups drop; guards fire") {
    val docs = (
      (1 to 10).map(i => (s"a$i", "a", 10L)) ++   // a: 100 tokens avail
      Seq(("b1", "b", 10L)) ++                     // b: 10 tokens avail
      Seq(("c1", "c", 50L))                        // c: untargeted
    ).toDF("id", "grp", "ntok")
    val plan = TrainingData.tokenBudgetPlan(docs, col("grp"), col("ntok"),
        budget = 100L, targets = Map("a" -> 0.5, "b" -> 0.5), maxEpochs = 4.0)
      .as[(String, Long, Long, Double, Double, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(plan.keySet == Set("a", "b"), "untargeted group must drop")
    // a: quota 50 over 100 avail -> 0.5 epochs, alloc 50, no shortfall
    assert(plan("a") == (("a", 10L, 100L, 50.0, 0.5, 50L, 0.0)))
    // b: quota 50 over 10 avail wants 5 epochs -> capped at 4,
    // alloc 40, shortfall 10 (the trainer must re-weight or backfill)
    assert(plan("b") == (("b", 1L, 10L, 50.0, 4.0, 40L, 10.0)))
    intercept[IllegalArgumentException] {
      TrainingData.tokenBudgetPlan(docs, col("grp"), col("ntok"),
        budget = 0L, targets = Map("a" -> 1.0), maxEpochs = 4.0)
    }
    intercept[IllegalArgumentException] {
      TrainingData.tokenBudgetPlan(docs, col("grp"), col("ntok"),
        budget = 10L, targets = Map.empty, maxEpochs = 4.0)
    }
  }

  test("tokenBudgetSample: integer-epoch groups emit exactly full passes " +
    "with no fractional draw; fractional groups add the md5-selected " +
    "remainder epoch; replay is deterministic") {
    val docs = (
      (1 to 100).map(i => (s"a$i", "a", 10L)) ++   // a: 1000 avail
      (1 to 10).map(i => (s"b$i", "b", 10L))       // b: 100 avail
    ).toDF("id", "grp", "ntok")
    // budget 2000, a .75 / b .25: a wants 1500/1000 = 1.5 epochs;
    // b wants 500/100 = 5 -> capped at 2.0 exactly
    val plan = TrainingData.tokenBudgetPlan(docs, col("grp"), col("ntok"),
      budget = 2000L, targets = Map("a" -> 0.75, "b" -> 0.25),
      maxEpochs = 2.0)
    val out = TrainingData.tokenBudgetSample(docs, col("id"), col("grp"),
        plan)
      .as[(String, String, Int)].collect()
    val b = out.filter(_._2 == "b")
    assert(b.length == 20 && b.map(_._3).toSet == Set(0, 1),
      "capped group: every doc exactly twice, epochs 0 and 1")
    val a = out.filter(_._2 == "a")
    val aFull = a.count(_._3 == 0)
    val aExtra = a.count(_._3 == 1)
    assert(aFull == 100, "every doc gets the full pass")
    assert(aExtra > 25 && aExtra < 75,
      s"~50% of docs drawn for the fractional epoch, got $aExtra")
    assert(a.forall(_._3 <= 1))
    // pure function of (plan, id): a second evaluation is identical
    val again = TrainingData.tokenBudgetSample(docs, col("id"), col("grp"),
      plan).as[(String, String, Int)].collect()
    assert(out.sorted.toSeq == again.sorted.toSeq)
  }

  test("tokenBudgetPack: epoch-major concatenation (every epoch-0 offset " +
    "precedes every epoch-1 offset), offsets are the gapless prefix sum " +
    "of the scheduled instances, and sequenceRows slices cover each " +
    "instance exactly once") {
    val docs = (
      (0L to 9L).map(i => (i, "a", 7L)) ++        // a: 70 avail
      (10L to 14L).map(i => (i, "b", 4L))         // b: 20 avail
    ).toDF("id", "grp", "ntok")
    // a: 60/70 epochs (fractional), b: 40/20 -> capped at 2.0 exactly
    val plan = TrainingData.tokenBudgetPlan(docs, col("grp"), col("ntok"),
      budget = 100L, targets = Map("a" -> 0.6, "b" -> 0.4), maxEpochs = 2.0)
    val packed = TrainingData.tokenBudgetPack(docs, col("id"), col("grp"),
      col("ntok"), plan, budget = 16L, shards = 4)
    val rows = packed
      .select(col("id"), col("epoch"), col("n_tokens"), col("offset"))
      .as[(Long, Int, Long, Long)].collect().sortBy(_._4)
    // the packed stream matches the sample's schedule instance-for-instance
    val sched = TrainingData.tokenBudgetSample(docs, col("id"), col("grp"),
      plan).as[(Long, String, Int)].collect().map(r => (r._1, r._3)).sorted
    assert(rows.map(r => (r._1, r._2)).sorted.toSeq == sched.toSeq)
    // epoch-major: offsets sort by (epoch, id)
    assert(rows.map(r => (r._2, r._1)).toSeq ==
      rows.map(r => (r._2, r._1)).sortBy(identity).toSeq)
    // gapless prefix sum
    var expect = 0L
    rows.foreach { r => assert(r._4 == expect); expect += r._3 }
    // sequenceRows slices reassemble each instance exactly once
    val slices = TrainingData.sequenceRows(packed, budget = 16L)
      .select(col("id"), col("slice_len"))
      .as[(Long, Long)].collect()
    val perDoc = slices.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val epochsPerDoc = rows.groupBy(_._1).view.mapValues(_.length).toMap
    val ntok = ((0L to 9L).map(i => i -> 7L) ++
      (10L to 14L).map(i => i -> 4L)).toMap
    perDoc.foreach { case (id, tot) =>
      assert(tot == ntok(id) * epochsPerDoc(id),
        s"doc $id slice mass $tot != n_tokens * epochs")
    }
  }

  test("packWholeDocs: documents never split, fills never exceed the " +
    "budget except oversize-alone sequences, greedy break points match " +
    "a reference fold, bucket boundaries close the open sequence, and " +
    "global seq ids are contiguous from 0") {
    val budget = 10L
    // ids 0..9 in bucket 0 (bucketDocs = 8 puts 8 in bucket 0), sizes
    // chosen to force: exact fit, overflow break, oversize-alone, zero
    val sizes = Map(0L -> 4L, 1L -> 6L, 2L -> 3L, 3L -> 0L, 4L -> 12L,
      5L -> 5L, 6L -> 5L, 7L -> 1L, 8L -> 9L, 9L -> 2L)
    val df = sizes.toSeq.toDF("id", "n")
    val out = TrainingData.packWholeDocs(df, col("id"), col("n"),
        budget, bucketDocs = 8)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    // reference greedy fold, bucket 0 = ids 0..7, bucket 1 = ids 8..9
    // bucket 0: 4+6=10 fits seq0; 3,0 -> seq1 (fill 3); 12 oversize ->
    // seq2 alone; 5,5 -> seq3 (10); 1 -> seq4. n_seqs(b0)=5
    // bucket 1: 9,? 9+2>10 -> 9 seq5 (local 0), 2 seq6 (local 1)
    val expect = Map(
      0L -> ((0L, 0L, false)), 1L -> ((0L, 4L, false)),
      2L -> ((1L, 0L, false)), 3L -> ((1L, 3L, false)),
      4L -> ((2L, 0L, true)),
      5L -> ((3L, 0L, false)), 6L -> ((3L, 5L, false)),
      7L -> ((4L, 0L, false)),
      8L -> ((5L, 0L, false)), 9L -> ((6L, 0L, false)))
    assert(out == expect, s"got $out")
    // invariants on a bigger deterministic corpus: no fill exceeds the
    // budget except oversize-alone; seq ids contiguous; order respected
    val big = (0L until 500L).map(i => (i, (i * 7 + 3) % 23)).toDF("id", "n")
    val rows = TrainingData.packWholeDocs(big, col("id"), col("n"),
        budget = 16L, bucketDocs = 64)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    val bySeq = rows.groupBy(_._3)
    bySeq.foreach { case (seq, ds) =>
      val mass = ds.map(_._2).sum
      if (ds.exists(_._5)) assert(ds.length == 1, s"oversize shares seq $seq")
      else assert(mass <= 16L, s"seq $seq overfilled: $mass")
      // seq_pos is the running fill in id order
      var fill = 0L
      ds.sortBy(_._1).foreach { d =>
        assert(d._4 == fill, s"seq $seq pos drift at id ${d._1}"); fill += d._2
      }
    }
    val seqs = rows.map(_._3).distinct.sorted
    assert(seqs.head == 0L && seqs.last == seqs.length - 1L,
      "global seq ids must be contiguous from 0")
    // ids in ascending order never map to a smaller seq
    assert(rows.sliding(2).forall(p => p(0)._3 <= p(1)._3))
    // efficiency report on the handcrafted fixture: 10 docs, 7 seqs,
    // 1 oversize (12 tokens); padding over the 6 non-oversize seqs:
    // fills 10, 3, 10, 1, 9, 2 -> padded 60 - 35 = 25 -> 25/60
    val eff = TrainingData.packingEfficiency(
        TrainingData.packWholeDocs(df, col("id"), col("n"),
          budget, bucketDocs = 8), budget)
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(eff == ((10L, 7L, 1L, 47L, 25L,
      math.rint(25.0 / 60.0 * 1e6) / 1e6)), s"got $eff")
    // negative ids fail LOUDLY in-plan: Spark's trunc-DIV vs SQL's
    // floor-DIV would silently diverge the layout, and the range around
    // zero would double a bucket's in-memory bound
    val neg = Seq((-1L, 3L), (0L, 3L)).toDF("id", "n")
    val err = intercept[Exception] { // SparkRuntimeException via raise_error
      TrainingData.packWholeDocs(neg, col("id"), col("n"),
        budget, bucketDocs = 8).collect()
    }
    assert(err.getMessage.contains("negative id") ||
      Option(err.getCause).exists(_.getMessage.contains("negative id")))
    // wholeDocSequenceRows: one slice row per token-bearing doc —
    // never split (slice_start 0, slice_len = the full token count),
    // token-less docs dropped, writeShards' column contract satisfied
    val slices = TrainingData.wholeDocSequenceRows(
        TrainingData.packWholeDocs(df, col("id"), col("n"),
          budget, bucketDocs = 8))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(slices.length == df.where(col("n") > 0).count().toInt)
    assert(slices.forall(_._3 == 0L), "whole docs never split")
    assert(slices.map(_._4).sum ==
      df.agg(sum(col("n"))).head().getLong(0), "slice mass = token mass")
    // EMPTY layout: the documented zero counters, never a null row
    // (ADVICE r19 — sum over zero rows is null without the coalesce,
    // and the n_oversize guard in padding_frac never fires on null)
    val empty = TrainingData.packingEfficiency(
        TrainingData.packWholeDocs(
          Seq.empty[(Long, Long)].toDF("id", "n"),
          col("id"), col("n"), budget, bucketDocs = 8), budget)
      .as[(Long, Long, Long, Long, Long, Double)].head()
    assert(empty == ((0L, 0L, 0L, 0L, 0L, 0.0d)), s"got $empty")
  }

  test("leakage-safe split property: near-dup twins land in the SAME " +
    "split even when their per-id buckets differ; isolated docs reduce " +
    "to the plain per-id split") {
    // ids 2 and 4 have DIFFERENT plain splits (bucket 96 'test' vs 49
    // 'train'); give them identical text so they form one cluster.
    // id 12 ('val') stays isolated.
    val twin = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (2L, twin), (4L, twin),
      (12L, "completely unrelated text about spark catalyst planning"),
    ).toDF("doc_id", "text")
    val pairs = graft.operators.NearDup.nearDupEdges(docs, col("doc_id"),
      col("text"), n = 3, numHashes = 16, rowsPerBand = 2, threshold = 0.5)
    val comp = graft.operators.ConnectedComponents.components(
      pairs.select(col("id_a"), col("id_b")), "id_a", "id_b")
    val split = docs.select(col("doc_id"))
      .join(comp, docs("doc_id") === comp("node"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component"))
      .select(col("doc_id"), col("component"),
        TrainingData.assignSplit(col("component")).as("split"))
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(split(2L)._2 == 2L && split(4L)._2 == 2L,
      "twins must share the cluster's canonical component")
    assert(split(2L)._3 == split(4L)._3, "twins must share a split")
    assert(split(2L)._3 == "test", "cluster split keys on the component id")
    // the PER-ID split would have separated them: id 4 is 'train'
    val plain = docs.select(col("doc_id"),
        TrainingData.assignSplit(col("doc_id")).as("s"))
      .as[(Long, String)].collect().toMap
    assert(plain(4L) == "train" && plain(2L) == "test",
      "fixture must actually exercise the straddle")
    assert(split(12L)._3 == plain(12L), "isolated docs match the plain split")
  }

  test("repetitionStats: degenerate, clean, and too-short docs") {
    val docs = Seq(
      (1L, "a a a a"),          // bigrams: 3x "a a" -> top 1.0, dup 2/3
      (2L, "w x y z"),          // 3 distinct bigrams -> top 1/3, dup 0
      (3L, "single"),           // no bigrams -> absent
      (4L, "b c b c b c"),      // "b c" x3 + "c b" x2 -> top 0.6, dup 0.6
    ).toDF("id", "text")
    val got = TrainingData.repetitionStats(docs, col("id"), col("text"), n = 2)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == Set(1L, 2L, 4L))
    assert(got(1L) == (1.0, 0.666667))
    assert(got(2L) == (0.333333, 0.0))
    assert(got(4L) == (0.6, 0.6))
  }
}
