package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * emits ONE COMPACT machine-readable JSON line on stdout (< 500 chars, so a
  * bounded tail capture can never truncate it) — `{"metric":"total",
  * "value":N,"unit":"sec","n_queries":…,"n_errors":…,"recall_at_10":{…},
  * "sf":…}`. The FULL per-query timing map (and error messages) goes to
  * `BENCH.json`, which the harness collects as a file.
  *
  * A full warm-up pass runs first so the first timed query does not absorb
  * JVM/JIT/parquet-footer warm-up; then THREE timed passes run and each
  * query reports its MEDIAN, so single-run JVM noise (measured at ±50%
  * per-query across identical code) cannot masquerade as a regression.
  * Failures are RECORDED, not swallowed: a failed query contributes its
  * name->message to "errors" and is excluded from the timing map, so a
  * broken query can never masquerade as a fast one.
  */
object Bench {

  @volatile private var blackhole = 0L

  /** Host-speed calibration: a FIXED single-thread CPU workload (2^29
    * xorshift64 rounds folded into a rotate-accumulate), median of three
    * timed runs after one JIT warm-up. The number has nothing to do with
    * the engine — it measures the box. Reported as `calibration_sec` so
    * cross-round bench totals can be normalized mechanically: same-code
    * totals have measured 34.3→58.2 s across runs on this host purely
    * from co-tenancy (SURVEY §6), and a per-round hand-measured loop
    * (2.38→2.84 s on the same fixed workload) was what exonerated the
    * r10 deltas — this makes that measurement a standing field. */
  private def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      var i = 0
      while (i < (1 << 29)) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += java.lang.Long.rotateLeft(x, i & 63)
        i += 1
      }
      blackhole = acc
      (System.nanoTime() - t0) / 1e9
    }
    once() // JIT warm-up, untimed
    val runs = Seq(once(), once(), once()).sorted
    math.rint(runs(1) * 10000) / 10000
  }

  /** recall@10 of each approximate search path vs exact flat search on
    * the given embedding frame: LSH bucket probe and k-means IVF under
    * cosine, SQ8 rescored search under euclidean. 10 query vectors.
    * Runs once on the sf dir's (near-uniform) embeddings and once on the
    * CLUSTERED synthetic table — the uniform panel tracks round-over-
    * round drift on the committed data, the clustered one is the honest
    * telemetry for the shapes real embedding spaces have (bucketed
    * methods only help when there are buckets worth probing). */
  private def measureRecall(spark: SparkSession,
                            embedFrame: org.apache.spark.sql.DataFrame): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.{IvfIndex, LshIndex, Quantization}
    import graft.functions.VectorExpressions
    val emb = embedFrame
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val queries = emb.where(col("vec_id") < 10).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    if (queries.isEmpty) return Map.empty // never emit NaN into the JSON
    def qCol(q: Array[Float]) =
      array(q.toIndexedSeq.map(x => lit(x)): _*).cast("array<float>")
    def topIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    // baseline ranks by the SAME rounded distance the engine paths use,
    // so a 6dp tie broken by id cannot read as a (false) recall miss
    def flatScan(q: Array[Float], metric: String): Set[Long] = topIds(
      emb.withColumn("d", round(metric match {
          case "cosine" => VectorExpressions.cosineDistance(col("embedding"), qCol(q))
          case _ => VectorExpressions.euclideanDistance(col("embedding"), qCol(q))
        }, 6) + lit(0.0d))
        .orderBy(col("d"), col("vec_id")).limit(10))
    // exact baselines computed once per (query, metric)
    val flatCos = queries.map { case (id, q) => id -> flatScan(q, "cosine") }.toMap
    val flatEuc = queries.map { case (id, q) => id -> flatScan(q, "euclidean") }.toMap
    def avg(xs: Seq[Double]): Double = xs.sum / xs.length

    val lshCfg = LshIndex.Config(numProjections = 4, dim = 64, seed = 42L)
    val indexed = LshIndex.withBucket(emb, col("embedding"), lshCfg).localCheckpoint()
    def lshQdf(q: Array[Float]) = Seq(Tuple1(q.toSeq)).toDF("qvec")
      .select(col("qvec").cast("array<float>").as("qvec"))
      .withColumn("qbucket",
        graft.functions.VectorFunctions.lshBucket(col("qvec"), lshCfg.matrix))
    val lsh = avg(queries.map { case (id, q) =>
      val got = topIds(LshIndex.searchTwoPhase(indexed, lshQdf(q), "embedding", "cosine", 10))
      (flatCos(id) intersect got).size.toDouble / flatCos(id).size
    })
    val lshMp = avg(queries.map { case (id, q) =>
      val got = topIds(LshIndex.searchMultiProbe(indexed, lshQdf(q),
        "embedding", "cosine", 10, lshCfg.numProjections))
      (flatCos(id) intersect got).size.toDouble / flatCos(id).size
    })
    // the facade's DEFAULT search path: query-directed adaptive probing on
    // the engine's default 8-projection index
    val lshCfg8 = LshIndex.Config(numProjections = 8, dim = 64, seed = 42L)
    val indexed8 = LshIndex.withBucket(emb, col("embedding"), lshCfg8).localCheckpoint()
    // probe-width sweep around the tuned default: a regression in probe
    // selection shows up as a recall DROP AT FIXED multiplier, visible
    // per round instead of only at the single tuned point
    val lshAdSweep = Seq(80, LshIndex.AdaptiveMultiplier, 300).distinct.map { m =>
      m -> avg(queries.map { case (id, q) =>
        val got = topIds(LshIndex.searchAdaptive(indexed8, q.toIndexedSeq,
          lshCfg8.matrix, "cosine", 10, multiplier = m))
        (flatCos(id) intersect got).size.toDouble / flatCos(id).size
      })
    }.toMap
    val lshAd = lshAdSweep(LshIndex.AdaptiveMultiplier)

    val model = IvfIndex.train(emb, col("embedding"), c = 8)
    val cells = IvfIndex.withCell(emb, col("embedding"), model).localCheckpoint()
    // nprobe sweep, same rationale as the multiplier sweep: cell-quality
    // regressions show as a recall drop at FIXED probe width.
    // NARROW-probe points measure which local k-means optimum the seeded
    // trainer lands in, not code quality: the round-11 variant sweep at
    // sf0.1 moved np2 0.48 -> 0.60 by seed alone (42 vs 7) with np6
    // INVARIANT at 0.93, while iters 25 -> 100 and sample 256 -> 2048 per
    // centroid changed nothing (the fit converges early). That is the
    // whole story of the r9 -> r10 "np2 0.57 -> 0.48 regression": the
    // unified trainer reached a different, equally-converged optimum.
    // The default seed is kept so the lines stay comparable round over
    // round — read np2/np4 as optimum-placement telemetry, np6 (and the
    // ivfpq default line) as the quality gates.
    val ivfSweep = Seq(2, 4, 6).map { np =>
      np -> avg(queries.map { case (id, q) =>
        val got = topIds(IvfIndex.search(cells, "embedding", "vec_id", model, q,
          nprobe = np, "cosine", 10))
        (flatCos(id) intersect got).size.toDouble / flatCos(id).size
      })
    }.toMap

    val encoded = Quantization.encode(emb, col("embedding")).localCheckpoint()
    val sq8 = avg(queries.map { case (id, q) =>
      val got = topIds(Quantization.search(encoded, "embedding", "vec_id", q,
        k = 10, rescore = 50, metric = "euclidean"))
      (flatEuc(id) intersect got).size.toDouble / flatEuc(id).size
    })

    // binary quantization: the 1-bit scan-cost rung — tracked so its
    // (deliberately lossy) recall is telemetry, not a surprise. r50 is
    // the ladder point; r100 is the storage="bq" FACADE DEFAULT
    // (VectorEngine.DefaultBqRescore), so that line is the gate the
    // default is justified by.
    val bqEnc = emb.withColumn("codes", graft.operators.BinaryQuantization
      .encodeWordsInt(col("embedding"), 64)).localCheckpoint()
    def bqRecall(r: Int): Double = avg(queries.map { case (id, q) =>
      val got = topIds(graft.operators.BinaryQuantization.searchStored(
        bqEnc, "embedding", "vec_id", q, k = 10, rescore = r,
        metric = "cosine"))
      (flatCos(id) intersect got).size.toDouble / flatCos(id).size
    })
    val bq = bqRecall(50)
    val bq100 = bqRecall(graft.engine.VectorEngine.DefaultBqRescore)

    // PQ at 32x compression, trained here (seeded, same params as the
    // committed fixture) so the numbers track codebook quality at THIS
    // scale factor: K=256 (one byte per code — the default, published PQ
    // practice) next to the K=16 compression-extreme point
    def pqRecall(numSub: Int, k: Int, rescores: Seq[Int]): Seq[(Int, Double)] = {
      val pqModel = graft.operators.ProductQuantization.train(
        emb, col("embedding"), dim = 64, numSub = numSub, k = k)
      val pqEncoded = graft.operators.ProductQuantization.encode(
        emb, col("embedding"), pqModel).localCheckpoint()
      rescores.map { r =>
        r -> avg(queries.map { case (id, q) =>
          val got = topIds(graft.operators.ProductQuantization.search(
            pqEncoded, "embedding", "vec_id", pqModel, q, k = 10, rescore = r))
          (flatEuc(id) intersect got).size.toDouble / flatEuc(id).size
        })
      }
    }
    // residual IVFPQ (classic IVFADC) on the sweep's C=8 centroid model:
    // residual-trained codebooks, nprobe=6 cell prune, per-cell LUT ADC,
    // exact rescore at R=100 and R=150 — R=150 x np6 IS the engine's
    // residual-pq default (VectorEngine.DefaultIvfPqNProbe/Rescore, the
    // round-11 sweep: np6/r100 0.88, np6/r150 0.91, np8/r150 0.98), so
    // the default-config line is the one the gate watches; r100 keeps the
    // rescore-limited ladder point below it
    val ivfpq = {
      val resModel = graft.operators.ProductQuantization.train(
        cells, graft.operators.ProductQuantization.residualColumn(
          col("embedding"), col("cell"), model),
        dim = 64, numSub = 8, k = 256)
      val resEnc = graft.operators.ProductQuantization.encodeResidual(
        cells, col("embedding"), col("cell"), model, resModel).localCheckpoint()
      Seq(100, 150).map { r =>
        r -> avg(queries.map { case (id, q) =>
          val probed = IvfIndex.nearestCentroids(q, model, 6)
          val got = topIds(graft.operators.ProductQuantization.searchResidual(
            resEnc.where(col("cell").isin(probed: _*)),
            "embedding", "vec_id", resModel, model, probed, q,
            k = 10, rescore = r))
          (flatEuc(id) intersect got).size.toDouble / flatEuc(id).size
        })
      }.toMap
    }
    // 4dp is plenty for a 10-query recall average, and keeps the compact
    // stdout line (17 recall keys now, ~490 chars total) under its
    // 500-char budget — count characters before adding a key (main()
    // degrades loudly past 500, but the recall map then leaves the
    // stdout contract); ivf_c8_nprobe6 comes from the sweep.
    // The PQ ladder: K=16 compression-extreme (32x, ~0.55), the default
    // M=8 K=256 at R=50 AND R=100 (32x; at sf0.1 the R=50 point is
    // RESCORE-limited, not codebook-limited — R=100 recovers ~0.9, and
    // is the ENGINE's storage=pq default short-list depth,
    // VectorEngine.DefaultPqRescore, per the re-ranking literature's
    // R = 10·k), and M=16 K=256 (16x, ~0.98) for the compression/recall
    // tradeoff the caller tunes.
    val pq16 = pqRecall(8, 16, Seq(50)).toMap
    val pq256 = pqRecall(8, 256, Seq(50, 100)).toMap
    val pqWide = pqRecall(16, 256, Seq(50)).toMap
    (Map("lsh_bucket" -> lsh, "lsh_multiprobe" -> lshMp,
      "lsh_adaptive" -> lshAd, "sq8_r50" -> sq8, "bq_r50" -> bq,
      "bq_r100" -> bq100,
      "pq_m8k16_r50" -> pq16(50),
      "pq_m8k256_r50" -> pq256(50),
      "pq_m8k256_r100" -> pq256(100),
      "pq_m16k256_r50" -> pqWide(50),
      "ivfpq_res_np6_r100" -> ivfpq(100),
      "ivfpq_res_np6_r150" -> ivfpq(150)) ++
      lshAdSweep.map { case (m, r) => s"lsh_adaptive_m$m" -> r } ++
      ivfSweep.map { case (np, r) => s"ivf_c8_nprobe$np" -> r })
      .map { case (k, v) => k -> math.rint(v * 10000) / 10000 }
  }

  /** 10x SCALE-STRESS: the mechanical check that the scale story holds
    * beyond the largest committed testdata. The embeddings and documents
    * tables are inflated on the fly (seeded, deterministic) and the
    * default funnels + the dedup pipeline run at 1x and at `factor`x;
    * the section reports per-query times, the wall-time ratio, and
    * whether the executed plan stayed free of CartesianProduct /
    * BroadcastNestedLoopJoin at the inflated scale.
    *
    * Inflation semantics are chosen per pipeline:
    *   - embeddings: replica r of row v gets a FRESH deterministic
    *     pseudo-random vector (xxhash64-derived per element) — more
    *     volume of the same shape, so funnel scan scaling is measured,
    *     not duplicate collapse;
    *   - documents: replicas are EXACT COPIES under new ids — the
    *     duplicate-heavy corpus shape 100 TB dedup actually faces, which
    *     exercises the digest-collapse pre-step (pre-collapse, banding
    *     emitted m(m-1)/2 candidates per copy group and this section
    *     would blow up quadratically).
    *
    * Index models/encodings are built OUTSIDE the timed window (they are
    * ingest-time artifacts; the coarse model is sample-bounded and shared
    * by both scales so the ratio isolates the serving scan). near_linear
    * = every ratio <= factor * 1.5 — generous headroom for fixed job
    * overheads, strict enough that any quadratic term at 10x fails —
    * AND zero scaled-side task spill (r19 verdict task 2: the scaled
    * time is the MEDIAN of three runs and each entry reports its max
    * per-run spill bytes, so a spilling-but-lucky clock can no longer
    * land as green and the gate's verdict is reproducible across
    * full-suite runs). */
  private def measureStress(spark: SparkSession, sfDir: String,
                            factor: Int,
                            onlyTasks: Option[Set[String]] = None): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.DataFrame
    import graft.operators.{ConnectedComponents, IvfIndex, LshIndex, NearDup, Quantization}
    import graft.functions.VectorFunctions
    def jstr(s: String): String = "\"" + s + "\""
    // Drain the JVM before the tier: everything measured here follows a
    // 134-query pass (engines, broadcasts, checkpoints) and possibly a
    // previous tier, whose dead blocks are freed only when the
    // ContextCleaner sees their references collected — and a large heap
    // seldom full-GCs on its own, so without an explicit collection the
    // backlog inflates THIS tier's timings with other work's garbage
    // (measured: dsir_weights@100x read 328 s inside the full bench vs
    // 89 s in a fresh JVM — same code, same data). Two passes: the
    // first collection queues the cleaner work, the pause lets it
    // drain, the second collects what the cleaner itself released.
    System.gc(); Thread.sleep(3000); System.gc(); Thread.sleep(1000)

    // Artifacts are LAZY so a filtered run (the 100x doc-pipeline tier)
    // never pays for inflation it does not measure: inflating and
    // re-encoding the embeddings 100x would dominate the whole bench
    // while no selected task reads them.
    lazy val emb1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    lazy val dim = emb1.select(size(col("embedding"))).head().getInt(0)
    val reps = spark.range(factor.toLong).select(col("id").as("rep"))
    lazy val embN = emb1.crossJoin(reps)
      .select((col("vec_id") * factor + col("rep")).as("vec_id"),
        when(col("rep") === 0, col("embedding"))
          .otherwise(transform(sequence(lit(1), lit(dim)),
            i => (pmod(xxhash64(col("vec_id"), col("rep"), i), lit(2001L))
              .cast("double") / 1000.0 - 1.0).cast("float")))
          .as("embedding"))
      .localCheckpoint()
    lazy val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    lazy val docsN = docs1.crossJoin(reps)
      .select((col("doc_id") * factor + col("rep")).as("doc_id"), col("text"))
      .localCheckpoint()

    lazy val q = emb1.orderBy(col("vec_id")).select("embedding")
      .head().getSeq[Float](0).toArray
    lazy val nBase = emb1.count()
    // The MAINTAINED lsh serving shape (the deployment the engine's
    // reprojectLshIndexIfCrowded converges to, and SCALING.md's "or
    // bucketed parquet" story): projection count sized to the corpus by
    // the SHARED policy (LshIndex.projectionsFor — occupancy ~64 rows
    // per bucket), the table stored as bucket-partitioned parquet so a
    // probe is a partition-pruned scan, and the histogram maintained as
    // index metadata so searchAdaptive runs ZERO pre-probe actions.
    // All of it is ingest-time artifact work, built OUTSIDE the clock —
    // the timed window measures the serving scan, which stays O(probe
    // budget) instead of O(n) as the corpus grows. (A FIXED 8-projection
    // matrix over a checkpointed frame measured ratio ~10 at 10x here:
    // occupancy grows linearly and the probe scan re-couples to n.)
    def lshMaintained(emb: DataFrame, n: Long)
        : (DataFrame, Array[Array[Double]], Seq[(Long, Long)]) = {
      val p = LshIndex.projectionsFor(n, targetOccupancy = 64, minP = 8)
      val cfg = LshIndex.Config(p, dim, 42L)
      // under the JVM's scratch root: its shutdown hook removes the copy
      val outDir = graft.operators.Scratch.newDir("lsh-stress").toString
      // repartition on the partition column first: otherwise EVERY task
      // writes a sliver into every bucket dir and the probe pays
      // per-file open cost for thousands of near-empty files
      LshIndex.withBucket(emb, col("embedding"), cfg)
        .repartition(col("bucket"))
        .write.partitionBy("bucket").mode("overwrite").parquet(outDir)
      val serve = spark.read.parquet(outDir)
      val hist = serve.groupBy("bucket").count().collect()
        .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toSeq
      (serve, cfg.matrix, hist)
    }
    lazy val lshServe1 = lshMaintained(emb1, nBase)
    lazy val lshServeN = lshMaintained(embN, nBase * factor)
    // crawl-front-door inputs: synthetic (url, html) pages and
    // line-structured texts derived from the docs tables — replicas get
    // DISTINCT urls/content lines (doc_id is already replica-unique) so
    // url dedup and line removal measure scan/shuffle scaling, while
    // the nav/footer lines are corpus-common (what line removal cuts)
    def pagesOf(docs: DataFrame): DataFrame = docs.select(
      concat(lit("https://site"), pmod(col("doc_id"), lit(40L)),
        lit(".example.com/p/"), col("doc_id")).as("url"),
      concat(lit("<html><body><div class='nav'><p>HOME | ABOUT | " +
          "CONTACT</p></div><h1>Doc "), col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit("</p><p>&copy; 2026 Example &#8212; All rights " +
          "reserved</p></body></html>")).as("html"))
    def linedOf(docs: DataFrame): DataFrame = docs.select(
      col("doc_id"),
      concat(lit("HOME | ABOUT | CONTACT\nDoc "), col("doc_id"),
        lit("\n"), col("text"), lit("\nAll rights reserved")).as("text"))
    // BOILERPLATE-HEAVY containment shape (the posting-list skew
    // adversary VERDICT r18 asked to see measured): HALF the docs share
    // one hot ~40-token boilerplate block — its trigram posting lists
    // are corpus-sized and scale with the inflation — while every doc
    // also carries ~120 doc-UNIQUE tokens (derived from the doc_id, so
    // exact-copy inflation's fresh ids keep them frequency-1 at every
    // scale). Hot-block mass sits ~25% of each sharer's shingle set:
    // BELOW the 0.8 threshold, so true containment pairs are ~none and
    // the output cannot excuse quadratic time — yet rarest-first
    // prefixes must keep the hot shingles OUT of the prefix join for
    // the ratio to stay near-linear (a full-set or position-blind
    // prefix join would explode against the hot posting lists).
    def boilerplatedOf(docs: DataFrame): DataFrame = docs.select(
      col("doc_id"),
      concat(
        when(pmod(col("doc_id"), lit(2L)) === 0,
          lit("the site navigation header terms of service privacy " +
            "policy cookie notice subscribe to our newsletter all " +
            "rights reserved contact us about careers press kit " +
            "sitemap help center community guidelines advertise " +
            "here ")).otherwise(lit("")),
        concat_ws(" ", transform(sequence(lit(1), lit(120)),
          i => concat(lit("u"), col("doc_id"), lit("x"), i))))
        .as("text"))
    // ZIPFIAN crawl shape (real crawls are head-heavy, not uniform):
    // HALF the pages are re-crawls of ONE landing page — every even
    // doc_id normalizes to the same canonical URL (case + fragment
    // variants), and that page's registered domain holds half the
    // corpus — while the other half spreads over ~31 registered
    // domains with distinct URLs. url_dedup_skew pins the hot GROUP
    // KEY (map-side partial aggregation must absorb it); domain_stats
    // pins the hot DOMAIN (per-group state must stay constant-size —
    // the round-15 collect_list fold would have built a multi-GB
    // buffer for exactly this shape).
    def pagesSkewedOf(docs: DataFrame): DataFrame = docs.select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(2L)) === 0,
          concat(lit("https://Hot.example.com/landing#s"), col("doc_id")))
        .otherwise(concat(lit("https://site"), pmod(col("doc_id"), lit(97L)),
          lit(".dom"), pmod(col("doc_id"), lit(31L)), lit(".org/p/"),
          col("doc_id"))).as("url"),
      concat(lit("<html><body><div class='nav'><p>HOME | ABOUT | " +
          "CONTACT</p></div><h1>Doc "), col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit("</p></body></html>")).as("html"))
    // paragraph-structured texts: corpus-common nav/footer PARAGRAPHS
    // (what paragraph dedup cuts) around a per-doc heading and the doc
    // body; exact-copy inflation duplicates the body paragraphs across
    // replicas too — the worst-case join-back, like substring_dedup
    def paraOf(docs: DataFrame): DataFrame = docs.select(
      col("doc_id"),
      concat(lit("HOME | ABOUT | CONTACT\n\nDoc "), col("doc_id"),
        lit("\n\n"), col("text"), lit("\n\nAll rights reserved")).as("text"))
    // two-class quality model: an ingest-time artifact (bounded classes,
    // O(buckets) rows), trained once on the BASE corpus — what scales
    // is scoring, exactly like the IVF centroids / BPE merges above
    lazy val qcModel = graft.operators.QualityClassifier.trainModel(
      docs1.where(col("doc_id") % 7 =!= 0),
      docs1.where(col("doc_id") % 7 === 0),
      col("doc_id"), col("text")).localCheckpoint()
    // the label-free near-dup is an all-pairs similarity join under LSH
    // blocking — its cost is quadratic in PER-BUCKET occupancy, so the
    // blocking index is sized to the corpus exactly as a deployment
    // sizes it: ~log2(factor) more projections at the inflated scale
    // keeps occupancy (and so the candidate pair count per row) flat
    val nearP1 = 6
    val nearPN = nearP1 +
      math.ceil(math.log(factor.toDouble) / math.log(2.0)).toInt
    lazy val nearMatrix1 = VectorFunctions.projectionMatrix(nearP1, dim, 42L)
    lazy val nearMatrixN = VectorFunctions.projectionMatrix(nearPN, dim, 42L)
    lazy val ivfModel = IvfIndex.train(emb1, col("embedding"), c = 8)
    // BPE merges trained once on the base corpus (a tokenizer is an
    // ingest-time artifact; what scales is APPLICATION)
    lazy val bpeMerges = graft.operators.BpeTokenizer.trainMerges(docs1,
      col("text"))
    // Bloom filter over the BASE corpus's canonical URLs (ingest-time
    // artifact: ≤ m/64 literal longs, textbook-sized at 1% FP)
    lazy val (bloomM, bloomK) =
      graft.operators.BloomFilter.sizeFor(math.max(1L, nBase), 0.01)
    lazy val bloomSeen = pagesOf(docs1)
      .select(graft.operators.WebDomains.normalizeUrl(col("url")).as("key"))
      .distinct()
    lazy val bloomWords = graft.operators.BloomFilter.build(
      bloomSeen, col("key"), bloomM, bloomK)

    // per-scale ingest-time artifacts, built untimed
    def prepared(emb: DataFrame) = (
      IvfIndex.withCell(emb, col("embedding"), ivfModel).localCheckpoint(),
      Quantization.encode(emb, col("embedding")).localCheckpoint())
    lazy val prep1 = prepared(emb1)
    lazy val prepN = prepared(embN)

    // SemDeDup blocking model sized per scale (the IVF-maintenance story:
    // C grows with n so per-cell occupancy — and the in-cell pair work —
    // stays flat). Ingest-time artifacts, built untimed like the rest.
    lazy val semModel1 = IvfIndex.train(emb1, col("embedding"), c = 16)
    lazy val semModelN = IvfIndex.train(embN, col("embedding"), c = 16 * factor)

    case class Scale(
        lshServe: () => (DataFrame, Array[Array[Double]], Seq[(Long, Long)]),
        cells: () => DataFrame, enc: () => DataFrame, docs: () => DataFrame,
        nearMatrix: () => Array[Array[Double]],
        embRaw: () => DataFrame,
        semModel: () => Seq[IvfIndex.Centroid])
    val base = Scale(() => lshServe1, () => prep1._1, () => prep1._2,
      () => docs1, () => nearMatrix1, () => emb1, () => semModel1)
    val scaled = Scale(() => lshServeN, () => prepN._1, () => prepN._2,
      () => docsN, () => nearMatrixN, () => embN, () => semModelN)
    case class Stress(name: String, at: Scale => DataFrame,
                      flush: () => Unit = () => ())
    val tasks = Seq(
      // The five LM/CCNet/classifier tasks STILL run FIRST (r17 order),
      // though r18 removed the root cause the order scheduled around:
      // their operators no longer pin anything (eager bounded literal
      // models + stateless scoring — ImportanceSampling/TrainingData
      // scaladoc), so construction leaves zero block-store footprint.
      // Keeping the order means a regression resurfaces as a loud
      // ratio here rather than hiding behind fresh-JVM placement; in
      // r17 these tasks measured 3-6x inflated when placed after the
      // tier's long-lived lazy artifacts (ccnet_buckets 31.2 s at
      // position 20 vs ~6.5 s isolated — LIVE artifacts, GC could not
      // cure it). The remaining tasks are position-stable.
      // interpolated bigram-LM scoring: the heaviest LM aggregation
      // shape — term/bigram/context counts (cut to the capped broadcast
      // models), per-doc (id, prev, cur) counts, the ordered fold, plus
      // the eager literal-total tokenize scan, ALL inside the clock
      // (construction is timed). The aggregate consumes both outputs so
      // neither the fold nor n_tokens is pruned. Exact-copy inflation
      // keeps the model key space fixed — the corpus-side count
      // shuffles are what inflate, exactly the 100 TB shape.
      Stress("lm_bigram", s =>
        graft.operators.TrainingData.bigramLogProbs(s.docs(), col("doc_id"),
            col("text"))
          .select((col("avg_logprob") + col("n_tokens")).as("x"))
          .agg(sum(col("x")).as("total"))),
      // CCNet bucketing on top of the LM: the LM trains EAGERLY into
      // cap-bounded literal frames during construction (timed), plus
      // the sample-restricted threshold job; the timed foreach then
      // pays the stateless one-scan scoring plan + the scan-side CASE.
      // NOTHING is pinned (r18) — the r17 localCheckpoint whose
      // retained blocks blew the driver's 10x ratio to 32x is gone.
      Stress("ccnet_buckets", s =>
        graft.operators.TrainingData.perplexityBuckets(s.docs(), col("doc_id"),
            col("text"))
          .select((col("avg_logprob") + col("n_tokens") +
            length(col("ppl_bucket"))).as("x"))
          .agg(sum(col("x")).as("total"))),
      // PER-LANGUAGE bucketing under a ZIPFIAN language (half the corpus
      // is ONE language — English's real shape): the two-phase sample
      // cut must spread the hot language over every input partition
      // (phase 1) instead of funneling one reducer; cap 500 binds at
      // both scales
      Stress("ccnet_lang", s =>
        graft.operators.TrainingData.perplexityBucketsByLang(s.docs(),
            col("doc_id"), col("text"),
            when(pmod(col("doc_id"), lit(2L)) === 0, lit("en"))
              .otherwise(concat(lit("l"), pmod(col("doc_id"), lit(5L)))),
            sampleCapPerLang = 500)
          .select((col("avg_logprob") + col("n_tokens") +
            length(col("ppl_bucket")) + length(col("lang"))).as("x"))
          .agg(sum(col("x")).as("total"))),
      // paragraph-level corpus dedup: the line-removal shape over larger
      // units, with every body paragraph corpus-duplicated at the
      // inflated scale (worst-case join-back + empty-ish reassembly)
      Stress("paragraph_dedup", s =>
        graft.operators.TrainingData.removeCommonParagraphs(
            paraOf(s.docs()), col("doc_id"), col("text"), minDocFreq = 2)
          .select((length(col("clean_text")) + col("n_kept")).as("n"))
          .agg(sum(col("n")).as("total"))),
      // two-class classifier scoring with a FIXED pre-trained model:
      // one (id, bucket) count shuffle + a broadcast model join + the
      // ordered fold — the DSIR scoring shape on its own artifact
      Stress("classifier_score", s =>
        graft.operators.QualityClassifier.score(s.docs(), col("doc_id"),
            col("text"), qcModel)
          .select((col("llr") + col("prob") + col("n_feats")).as("x"))
          .agg(sum(col("x")).as("total"))),
      Stress("lsh_adaptive", s => {
        val (serve, m, hist) = s.lshServe()
        LshIndex.searchAdaptive(serve, q.toIndexedSeq, m, "cosine", 10,
          hist = Some(hist))
      }),
      Stress("ivf_search", s =>
        IvfIndex.search(s.cells(), "embedding", "vec_id", ivfModel, q, nprobe = 4,
          "cosine", 10)),
      Stress("sq8_search", s =>
        Quantization.search(s.enc(), "embedding", "vec_id", q, k = 10,
          rescore = 50, metric = "euclidean")),
      Stress("near_dup_text_edges", s =>
        NearDup.nearDupEdges(s.docs(), col("doc_id"), col("text"),
          n = 3, numHashes = 16, rowsPerBand = 2, threshold = 0.5)),
      Stress("dup_components", s =>
        ConnectedComponents.components(
          NearDup.nearDupEdges(s.docs(), col("doc_id"), col("text"),
            n = 3, numHashes = 16, rowsPerBand = 2, threshold = 0.5),
          "id_a", "id_b")),
      Stress("embedding_near_lsh", s =>
        NearDup.embeddingNearDupPairs(s.enc(), col("vec_id"), col("embedding"),
          s.nearMatrix(), threshold = 0.6)),
      // SemDeDup survivors: in-cell pair work is quadratic in PER-CELL
      // occupancy, so the cell model is sized to the corpus (C x factor)
      // exactly as the engine's IVF maintenance would size it — the
      // ratio measures the blocked-join scan, not occupancy blowup
      Stress("semantic_dedup", s =>
        graft.operators.SemanticDedup.survivors(s.embRaw(), col("vec_id"),
          col("embedding"), s.semModel(), threshold = 0.6)),
      // DSIR weights: the target exemplar set is FIXED (it does not grow
      // with the corpus, like the decontamination benchmark side); the
      // corpus side inflates through the eager model-training scan inside
      // construction (timed) plus the scoring pass' (id, bucket) count
      // shuffle and broadcast literal-model join. STATELESS since r18:
      // nothing is pinned or cached, so no release hook and no
      // cross-task block-store residue (the r15/r17 degradation class).
      Stress("dsir_weights", s =>
        graft.operators.ImportanceSampling.importanceWeights(s.docs(),
            docs1.where(col("doc_id") % 7 === 0), col("doc_id"), col("text"))
          // consume BOTH output columns: a bare count() lets the optimizer
          // prune the bucket-ordered fold straight out of the plan (the
          // defensive left join preserves row count), timing half the
          // operator — the same rule html_extract/domain_stats follow
          .select((col("logweight") + col("n_feats")).as("x"))
          .agg(sum(col("x")).as("total"))),
      // whole-document greedy packing: the per-bucket imperative fold
      // (parameter-bounded groups) + the O(buckets) numbering pass —
      // the aggregate consumes every output column so nothing is pruned
      Stress("pack_whole_docs", s =>
        graft.operators.TrainingData.packWholeDocs(s.docs(), col("doc_id"),
          size(graft.operators.TextAnalysis.tokens(col("text"))),
          budget = 64L)
          .select((col("seq") + col("seq_pos") + col("n_tokens") +
            col("oversize").cast("long")).as("x"))
          .agg(sum(col("x")).as("total"))),
      // the two-phase prefix sum: the stage that would be a
      // single-partition window naively — shards sized to the corpus
      Stress("pack_sequences", s =>
        graft.operators.TrainingData.packAssignments(s.docs(), col("doc_id"),
          size(graft.operators.TextAnalysis.tokens(col("text"))), budget = 64L,
          shards = 32)
          // consume the window outputs — a bare count() prunes the
          // prefix-sum windows (row count is input count) and times an
          // empty projection
          .select((col("offset") + col("seq_first") + col("seq_pos") +
            col("seq_last")).as("x"))
          .agg(sum(col("x")).as("total"))),
      // benchmark side FIXED (eval sets don't grow with the corpus);
      // the corpus side is the inflated scan
      Stress("decontaminate", s =>
        graft.operators.TrainingData.contaminationHits(s.docs(), col("doc_id"),
          col("text"), docs1, col("text"), n = 4)),
      // BPE application over the inflated corpus with a FIXED merge
      // list (the model is trained once, like the IVF centroids above):
      // the distinct-terms tokenize + term equi-join must scale with
      // the corpus scan, never with vocabulary^2. EXACT-copy inflation
      // leaves the distinct term set unchanged — the corpus-side
      // (doc, term) aggregation is what inflates.
      Stress("bpe_token_counts", s =>
        graft.operators.BpeTokenizer.tokenCounts(s.docs(), col("doc_id"),
          col("text"), bpeMerges)),
      // the sink's assignment plan: pack -> slice rows -> shard key +
      // range shuffle + local sort (everything the writer executes
      // except the parquet encode itself, which would measure the disk)
      Stress("shard_assignments", s => {
        val packed = graft.operators.TrainingData.packAssignments(s.docs(),
          col("doc_id"), size(graft.operators.TextAnalysis.tokens(col("text"))),
          budget = 64L, shards = 32)
        graft.operators.TrainingData.sequenceRows(packed, budget = 64L)
          .withColumn("shard", expr("seq DIV 8L"))
          .repartitionByRange(col("shard"))
          .sortWithinPartitions(col("shard"), col("seq"), col("id"))
      }),
      // --- crawl front door --------------------------------------------
      // HTML->text extraction: scan-shaped regex chain; the aggregate
      // consumes the extracted text so column pruning cannot skip the
      // work a bare count() would
      Stress("html_extract", s =>
        pagesOf(s.docs()).select(
            length(graft.operators.HtmlExtract.extract(col("html"))).as("n"))
          .agg(sum(col("n")).as("total_chars"))),
      // URL-exact dedup: normalization projection + ONE shuffle on the
      // canonical key (replica urls are distinct — this measures the
      // shuffle, not duplicate collapse, like the embedding inflation)
      Stress("url_dedup", s =>
        pagesOf(s.docs())
          .groupBy(graft.operators.WebDomains.normalizeUrl(col("url"))
            .as("norm_url"))
          .agg(count(lit(1)).as("n_copies"))),
      // URL-exact dedup under a ZIPFIAN key: half the corpus normalizes
      // to ONE canonical URL — the hot group key must be absorbed by
      // map-side partial aggregation (each task emits one partial row
      // for the hot key), never funneled raw into one reducer
      Stress("url_dedup_skew", s =>
        pagesSkewedOf(s.docs())
          .select(col("url"))
          .groupBy(graft.operators.WebDomains.normalizeUrl(col("url"))
            .as("norm_url"))
          .agg(count(lit(1)).as("n_copies"))),
      // per-domain quality panel under the same Zipfian shape: one
      // registered domain holds HALF the pages — constant-size
      // aggregation state per group (integer micro-sums, no per-page
      // collect_list) is what keeps the hot domain from becoming one
      // multi-GB aggregation buffer; the aggregate consumes every
      // output column so nothing is pruned
      Stress("domain_stats", s =>
        graft.operators.WebDomains.domainQualityStats(
            pagesSkewedOf(s.docs()), col("url"), col("html"))
          .select((col("n_pages") + col("n_unique_texts") +
            col("avg_tokens") + col("avg_quality")).as("x"))
          .agg(sum(col("x")).as("total"))),
      // line-level boilerplate removal: line-hash shuffle + anti-join
      // against the bounded common set + order-restoring reassembly —
      // the collect_list path VERDICT r14 asked to see measured; the
      // aggregate consumes clean_text so the reassembly is not pruned
      Stress("line_removal", s =>
        graft.operators.TrainingData.removeCommonLines(
            linedOf(s.docs()), col("doc_id"), col("text"), minDocFreq = 2)
          .select((length(col("clean_text")) + col("n_kept")).as("n"))
          .agg(sum(col("n")).as("total"))),
      // substring-level exact dedup (ExactSubstr): per-position window
      // md5s (the O(n x minLen) hash scan), ONE digest-count shuffle,
      // digest join-back, the per-doc coverage window, reassembly.
      // Exact-copy inflation makes EVERY window duplicated at scale —
      // the worst-case coverage mass (all docs empty out), so the
      // measured ratio covers the heaviest join-back the operator can
      // ever see, not a friendly sparse one
      Stress("substring_dedup", s =>
        graft.operators.TrainingData.removeDuplicatedSubstrings(
            linedOf(s.docs()), col("doc_id"), col("text"), minLen = 20)
          .select((length(col("clean_text")) + col("n_kept")).as("n"))
          .agg(sum(col("n")).as("total"))),
      // exact containment join under HOT POSTING LISTS (VERDICT r18
      // task 4): half the corpus shares one boilerplate trigram block
      // whose posting lists are corpus-sized, but the hot mass sits
      // below the threshold, so rarest-first prefixes must exclude it
      // from the prefix join — the measured ratio is the proof the
      // prefix filter, not luck, bounds the candidate set. The
      // aggregate consumes the containment column so the confirm
      // arithmetic is not pruned.
      Stress("containment_pairs", s =>
        NearDup.containmentPairs(boilerplatedOf(s.docs()),
            col("doc_id"), col("text"), n = 3, threshold = 0.8)
          .select((col("id_a") + col("id_b") + col("containment")).as("x"))
          .agg(sum(col("x")).as("total"), count(lit(1)).as("n_pairs"))),
      // exact Jaccard pair join under the SAME hot-posting-list
      // adversary (VERDICT r19 task 3: it shares containment's prefix
      // machinery and was the slowest bench row with no stress entry of
      // its own). Every doc's text is distinct here (the unique tokens
      // derive from the replica's fresh doc_id), so the digest-collapse
      // pre-step passes through and the measured cost is the candidate
      // machinery itself: the hot boilerplate block sits below the
      // threshold, true pairs are ~none, and the output cannot excuse
      // quadratic time — the narrow-row prefix window and the length
      // filter must keep the hot posting lists out of the probes.
      Stress("jaccard_pairs", s =>
        NearDup.jaccardPairs(boilerplatedOf(s.docs()),
            col("doc_id"), col("text"), n = 3, threshold = 0.8)
          .select((col("id_a") + col("id_b") + col("jaccard")).as("x"))
          .agg(sum(col("x")).as("total"), count(lit(1)).as("n_pairs"))),
      // Bloom seen-URL gate: the filter is an ingest-time artifact
      // (built untimed over the BASE corpus's canonical URLs, sized by
      // the textbook rule — like the IVF centroids / BPE merges, what
      // scales is APPLICATION); the timed plan is the full gate —
      // normalization + the literal-word membership projection over
      // every arriving page, plus the exact confirm join paid ONLY by
      // the bloom-positive sliver (replica URLs are distinct, so the
      // scaled side is almost all definite-new: the crawl-frontier
      // shape the sketch exists for). The aggregate consumes both
      // verdict columns so neither is pruned.
      Stress("bloom_gate", s => {
        val keyed = graft.operators.BloomFilter.gate(
          pagesOf(s.docs()),
          graft.operators.WebDomains.normalizeUrl(col("url")),
          bloomSeen, bloomWords, bloomM, bloomK)
        keyed.select((col("bloom_positive").cast("long") +
            col("is_seen").cast("long")).as("x"))
          .agg(sum(col("x")).as("total"))
      }))


    // by-name: construction is INSIDE the clock — iterative operators
    // (connected components) run their rounds eagerly while building.
    // The consumer is foreach, NOT count(): count() over a global
    // aggregate optimizes to a constant (an Aggregate with no grouping
    // emits exactly one row, so the optimizer deletes the child), which
    // silently zeroed every agg-consumer task through round 15 —
    // html_extract/line_removal read as flat ratios because NOTHING ran
    // inside the clock. foreach deserializes every column of every
    // output row: no count shortcut, no column pruning, and the
    // deserialization cost is uniform across both scales.
    // SPILL ACCOUNTING (r19 verdict task 2 — make the gate mechanical):
    // a SparkListener accumulates task-level memory+disk spill bytes;
    // each timed run records its delta. Spill turns "host noise vs real
    // superlinearity" into a measurement: the three rounds of gate flap
    // all shared one mechanism — a wide scaled side sitting AT the
    // spill threshold, green in a friendly JVM and 4-8x over the bound
    // under full-suite pressure — so a run that spills on the scaled
    // side now FAILS the tier even when its clock got lucky.
    val spillBytes = new java.util.concurrent.atomic.AtomicLong()
    val taskEnds = new java.util.concurrent.atomic.AtomicLong()
    val spillListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null)
          spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        taskEnds.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(spillListener)
    // Drain = poll the task-end COUNT until no new event lands in a
    // 100 ms window (5 s cap) — a fixed sleep is not a drain: under
    // full-suite load the bus backlog can exceed any fixed pause at
    // exactly the moment a spilling run needs attributing, and a
    // late-delivered TaskEnd would both escape its own bracket and
    // bleed into the next one. All tasks HAVE ended when the action
    // returns; this waits for their queued events to be processed.
    // drain_capped counts the times the 50-round cap was hit with the bus
    // still moving (ADVICE r20): a nonzero count means some TaskEnd events
    // may have bled across a timing bracket — surfaced in the tier JSON so
    // a spill attributed to the wrong bracket is at least visible.
    var drainCapped = 0
    def drainListenerBus(): Unit = {
      var prev = -1L
      var cur = taskEnds.get()
      var rounds = 0
      while (prev != cur && rounds < 50) {
        Thread.sleep(100); prev = cur; cur = taskEnds.get(); rounds += 1
      }
      if (prev != cur) drainCapped += 1
    }
    def timedRun(mk: => DataFrame): (Double, Boolean, Long) = {
      drainListenerBus()
      val s0 = spillBytes.get()
      val t0 = System.nanoTime()
      val df = mk
      df.foreach(_ => ())
      val t = (System.nanoTime() - t0) / 1e9
      drainListenerBus()
      val spill = spillBytes.get() - s0
      val p = df.queryExecution.executedPlan.toString
      (t, !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), spill)
    }
    // Median-of-3 with EARLY EXIT (r21 verdict task 1a — the budget fix
    // that keeps the r21 stability win): when the first two draws agree
    // within 15% the third is skipped and the reported clock is their
    // MEAN (an unbiased 2-draw median estimate; the two draws bound it
    // within the same 15% the tier's x1.5 headroom already absorbs).
    // Disagreeing draws still pay the tiebreaker run, so a noisy clock
    // keeps the full median-of-3 robustness. The spill/plan verdicts
    // aggregate over WHATEVER runs happened (max spill, all-plans-ok),
    // so skipping the third run can only make those gates stricter-or-
    // equal on the runs that did happen, never launder a spill.
    def medianRuns(mk: => DataFrame, flush: () => Unit)
        : (Double, Boolean, Long) = {
      val r1 = timedRun(mk); flush()
      val r2 = timedRun(mk); flush()
      val (a, b) = (r1._1, r2._1)
      if (math.abs(a - b) <= 0.15 * math.min(a, b))
        ((a + b) / 2.0, r1._2 && r2._2, math.max(r1._3, r2._3))
      else {
        val r3 = timedRun(mk); flush()
        val runs = Seq(r1, r2, r3)
        (runs.map(_._1).sorted.apply(1), runs.forall(_._2),
          runs.map(_._3).max)
      }
    }
    val selected = tasks.filter(t => onlyTasks.forall(_.contains(t.name)))
    var allLinear = true
    var allPlans = true
    // finally: a task that throws must not leak the listener onto the
    // SparkContext for the JVM's lifetime (the next tier would then
    // stack a second one and double-count)
    val parts = try selected.map { task =>
      // drain between TASKS, not only at tier entry: the tier-entry
      // collection (above) removed the 134-query backlog, but the tier
      // itself accumulates dead blocks too — per-scale checkpoints,
      // the operators' own internal localCheckpoints, broadcast vars —
      // and a late task then times OTHER tasks' garbage (measured:
      // ccnet_lang read 85.9 s as task 21 of 23 vs 8 s in a fresh JVM,
      // same code, same data — an 11x context artifact, the same class
      // as r16's dsir@100x 328-vs-89). One collection + a short drain
      // pause per task buys per-operator isolation; the pause is 300 ms
      // (was 1000 — r21 verdict task 1b trimmed it for budget: the GC
      // itself queues the cleaner work and the listener-bus drain at
      // the head of the first timedRun absorbs any remainder).
      val taskT0 = System.nanoTime()
      System.gc(); Thread.sleep(300)
      // untimed: pay codegen/JIT once, off the clock (same foreach
      // consumer as the clock so the warm path IS the timed path)
      task.at(base).foreach(_ => ())
      // flush after EVERY invocation, not just per task: a persisted
      // plan registers in the CacheManager by CANONICALIZED PLAN, so a
      // later invocation building the identical plan would silently
      // read the warm-up's cache and time a cache scan instead of the
      // operator (measured: dsir_weights' base collapsed 1.46s -> 0.08s
      // when the flush ran only at task end)
      task.flush()
      // MEDIAN base runs (r20 verdict task 4, r21 task 1a early exit):
      // the scaled side got medians in r19/r20 but t_base stayed one
      // draw, and it swung up to 3x between otherwise-identical records
      // (bloom_gate 2.93 ↔ 9.90 s), whipsawing ratios the bound then
      // had to absorb. Base-side spill is reported as telemetry (ADVICE
      // r20: a spilling base clock flatters the ratio silently).
      val (t1, _, spillBase) = medianRuns(task.at(base), task.flush)
      // untimed SCALED warm-up too: the per-scale ingest-time artifacts
      // (inflation, localCheckpoints, the lsh partitioned-parquet write)
      // are LAZY and materialize on first dereference — without this
      // pass the first scaled task absorbs the whole artifact build
      // into its clock and reads as a fake super-linearity (r14's
      // lsh_adaptive 10.36 had exactly this inside it). Per-task (not a
      // global touch) so a filtered tier still never pays for
      // artifacts its tasks don't read.
      task.at(scaled).foreach(_ => ())
      task.flush()
      // MEDIAN scaled runs (r19 verdict task 2, r21 task 1a early
      // exit): one lucky or one unlucky scaled clock can no longer
      // decide the tier — and the spill verdict takes the MAX across
      // the runs (a spill in ANY run is the mechanism, not noise; a
      // lucky no-spill run must not mask a spilling one)
      val (tN, okN, spillN) = medianRuns(task.at(scaled), task.flush)
      val ratio = if (t1 > 0) tN / t1 else Double.PositiveInfinity
      System.err.println(f"[bench-stress] ${factor}x ${task.name}: " +
        f"base=$t1%.2fs scaled=$tN%.2fs ratio=$ratio%.2f " +
        f"task_wall=${(System.nanoTime() - taskT0) / 1e9}%.1fs")
      // spill ~ 0: a <=64 MiB allowance absorbs listener-timing noise
      // and incidental sort-buffer handoffs; a genuine wide-row spill
      // is GBs (the r18/r19 breakers spilled the corpus)
      val spillOk = spillN <= (64L << 20)
      val linear = ratio <= factor * 1.5 && spillOk
      allLinear &&= linear; allPlans &&= okN
      f"${jstr(task.name)}:{" +
        f""""t_base":${math.rint(t1 * 10000) / 10000}%s,""" +
        f""""t_scaled":${math.rint(tN * 10000) / 10000}%s,""" +
        f""""ratio":${math.rint(ratio * 100) / 100}%s,""" +
        s""""spill_bytes":$spillN,"spill_base_bytes":$spillBase,""" +
        s""""spill_ok":$spillOk,""" +
        s""""plan_ok":$okN}"""
    } finally spark.sparkContext.removeSparkListener(spillListener)
    s"""{"factor":$factor,"near_linear_ok":$allLinear,"plans_ok":$allPlans,""" +
      s""""drain_capped":$drainCapped,""" +
      s""""queries":${parts.mkString("{", ",", "}")}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    // Wall-clock phase telemetry (r21 verdict task 1 — the 32-core run
    // died at the driver's budget with no record of WHERE the hour
    // went): each top-level phase stamps its seconds to stderr as it
    // ends and into the full BENCH.json record ("phases"), so a budget
    // overrun is attributable from the record instead of re-profiled.
    // Telemetry only — no clock or methodology changes.
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      val sec = math.rint((System.nanoTime() - t0) / 1e9 * 100) / 100
      phases(name) = sec
      System.err.println(s"[bench-phase] $name: $sec s")
      r
    }

    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // Warm-up: run everything once, outside the scored clock (ignore
    // failures here — they are captured in the timed pass below). Same
    // foreach consumer as the clock so the warm path IS the timed path.
    // Each first call is reported as the query's cold cost: it pays for
    // every artifact the query builds once per process (queries/Artifacts).
    val cold = scala.collection.mutable.LinkedHashMap[String, Double]()
    phase("warmup") {
      names.foreach { n =>
        val t0 = System.nanoTime()
        try SparkEntry.queries(n)(spark, sfDir).foreach(_ => ())
        catch { case _: Throwable => () }
        cold(n) = (System.nanoTime() - t0) / 1e9
      }
    }

    // Three timed passes; each query reports its MEDIAN run. A query that
    // fails in any pass is an error (first message wins) and is excluded
    // from the timing map.
    val runs = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    (1 to 3).foreach { pass =>
      phase(s"timed_pass_$pass") { names.foreach { n =>
        if (!errors.contains(n)) {
          val t0 = System.nanoTime()
          try {
            // foreach, NOT count(): the ONE consumer both clocks share
            // (r18, VERDICT r17 task 2). count() over a prunable plan
            // times hollowed work — it deletes the child of a global
            // aggregate and prunes computed columns out of
            // row-preserving joins; two consecutive rounds each
            // surfaced an under-timed query from the split consumers
            // (r16 dsir_weights 0.19 s, r17's honest-clock deltas).
            // foreach deserializes every column of every output row.
            SparkEntry.queries(n)(spark, sfDir).foreach(_ => ())
            runs(n) = ((System.nanoTime() - t0) / 1e9) :: runs.getOrElse(n, Nil)
          } catch {
            case e: Throwable =>
              errors(n) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
              runs.remove(n)
          }
        }
      } }
    }
    val timings = runs.map { case (n, ts) =>
      val s = ts.sorted; n -> s(s.length / 2)
    }
    val qs = timings.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = timings.values.sum
    val coldJson = cold.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    // Measured ANN recall@10 at THIS scale factor (the number the
    // reference claims ~95% for but never measures): each approximate
    // path vs exact flat search under its own metric, 10 queries.
    // Never fails the bench — reported best-effort.
    def recallJson(frame: => org.apache.spark.sql.DataFrame): String = try {
      val r = measureRecall(spark, frame)
      r.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    } catch { case e: Throwable => s"""{"error":${jstr(String.valueOf(e.getMessage))}}""" }
    val recall = phase("recall_uniform") {
      recallJson(spark.read.parquet(s"$sfDir/embeddings.parquet")) }
    // the CLUSTERED panel (full BENCH.json record only — the compact
    // stdout line keeps its 500-char budget): same row count as the sf
    // table, 32 Gaussian clusters in the same 64 dims, RecallSpec pins
    // the >= 0.9 defaults on this shape
    val recallClustered = phase("recall_clustered") { recallJson {
      val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
      graft.tools.SyntheticEmbeddings.clustered(spark, math.max(n, 500L),
        dim = 64, clusters = 32)
    } }
    // 10x scale-stress (skippable for quick local iterations with
    // SPARK_GRAFT_STRESS=0; measured after the timed passes so its burn
    // cannot perturb them). Best-effort like recall: a stress failure is
    // recorded, never fails the bench.
    // SPARK_GRAFT_STRESS_ONLY=a,b filters BOTH tiers to named tasks —
    // the per-task iteration knob (a full tier is ~10 min at sf0.1)
    val stressOnly = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val stress =
      if (sys.env.get("SPARK_GRAFT_STRESS").contains("0"))
        """{"skipped":true}"""
      else phase("stress_10x") {
        try measureStress(spark, sfDir,
          sys.env.getOrElse("SPARK_GRAFT_STRESS_FACTOR", "10").toInt,
          stressOnly)
        catch { case e: Throwable =>
          s"""{"error":${jstr(String.valueOf(e.getMessage))}}""" } }
    // 100x tier for the FLATTEST-MARGIN document-pipeline paths: a 10x
    // ratio can hide slow super-linearity (bpe_token_counts sat within
    // 1.6x of the near-linear bound at 10x), so the cheapest-at-base
    // paths re-measure at 100x — doc-side only (exact-copy inflation;
    // the lazy artifact plumbing never inflates the embeddings here).
    val stress100 =
      if (sys.env.get("SPARK_GRAFT_STRESS").contains("0"))
        """{"skipped":true}"""
      else phase("stress_100x") {
        try measureStress(spark, sfDir,
          sys.env.getOrElse("SPARK_GRAFT_STRESS_FACTOR_100", "100").toInt,
          // dsir_weights (r18): the path is now STATELESS — two linear
          // scans (eager literal-model train + the scoring pass), no
          // shared-pass cache, no release hook — so the retained-blocks
          // artifact that degraded later tasks in this shared JVM (r15:
          // pack_sequences' ratio tripled when dsir ran before it; r17:
          // the driver's run read dsir_weights@100x at 126x) has nothing
          // left to retain. Task order keeps dsir BEFORE pack_sequences —
          // the exact r15 failure order — so any regression resurfaces
          // as pack_sequences' ratio blowing up, not hide.
          Some(Set("pack_sequences", "decontaminate", "bpe_token_counts",
            "shard_assignments", "dsir_weights")
            .filter(n => stressOnly.forall(_.contains(n)))))
        catch { case e: Throwable =>
          s"""{"error":${jstr(String.valueOf(e.getMessage))}}""" } }
    // Host-speed yardstick, measured AFTER the timed passes (so its CPU
    // burn cannot perturb them; co-tenancy drift within one bench run is
    // what it exists to flag).
    val calibration = phase("calibration") { calibrate() }
    val phasesJson = phases
      .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    // Full record (per-query medians + error messages) → BENCH.json file.
    // `cpus` records the PRODUCING core count (r21 verdict task 2: the
    // driver benches at two core counts and clobbers the checkout with
    // whichever ran last; stress spans differ >2x across core counts,
    // so the SCALING.md quote machinery needs to know which record it
    // is looking at).
    // numeric when it is one (the driver exports 32 or 8); a non-numeric
    // master spec (e.g. "*") is quoted so the record stays valid JSON
    val cpusJson = scala.util.Try(cpus.trim.toInt.toString)
      .getOrElse(jstr(cpus))
    val full =
      s"""{"metric":"total","value":$total,"cold_total":${cold.values.sum},"unit":"sec","runs":3,"cpus":$cpusJson,"calibration_sec":$calibration,"phases":$phasesJson,"queries":$qs,"cold_sec":$coldJson,"errors":$es,"recall_at_10":$recall,"recall_at_10_clustered":$recallClustered,"stress":$stress,"stress_100":$stress100,"sf":${jstr(sfDir)}}"""
    Files.writeString(Paths.get("BENCH.json"), full + "\n")
    // Compact line (< 500 chars) as the FINAL stdout line: the driver's
    // tail capture is bounded, and a 3 KB line gets truncated from the
    // front — totals + recall only; the per-query map lives in BENCH.json.
    // `sf` is the basename (the full dir is in BENCH.json) and a line
    // that still overflows drops the recall map to a pointer — LOUDLY,
    // on stderr — rather than letting front-truncation corrupt the JSON.
    val sfShort = jstr(new java.io.File(sfDir).getName)
    def line(r: String) =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${timings.size},"n_errors":${errors.size},"runs":3,"calibration_sec":$calibration,"recall_at_10":$r,"sf":$sfShort}"""
    val compact = line(recall)
    if (compact.length < 500) println(compact)
    else {
      System.err.println(
        s"bench: compact line ${compact.length} chars >= 500; recall map moved to BENCH.json only")
      println(line(s"""{"in":"BENCH.json"}"""))
    }
    spark.stop()
  }
}
