package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ChunkInput, VectorEngine}

/** Physical-plan regression guards: the scale properties the engine is
  * designed around must be visible in the executed plan, so a future
  * refactor cannot silently reintroduce a scale-killer (round 1 shipped
  * one: a no-partition row_number window). Checked at sf0.001 — plan
  * SHAPE is scale-independent. */
class PlanSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("knn_flat_cosine: TakeOrderedAndProject over a broadcast query side " +
    "(per-partition top-k, k-row merge)") {
    val p = plan("knn_flat_cosine")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("window_pagination: offset-aware top-k, no window operator at all") {
    val p = plan("window_pagination")
    assert(p.contains("TakeOrderedAndProject") && p.contains("offset=100"))
    assert(!p.contains("Window ["))
  }

  test("knn_batch_topk: per-partition top-k (PartialTopK) below every " +
    "query_id exchange, windows partitioned (never global)") {
    val df = SparkEntry.queries("knn_batch_topk")(spark, dir)
    partialTopKBelowQueryExchanges(df)
    // a global window would shuffle everything to a single partition
    assert(!df.queryExecution.executedPlan.toString
      .contains("SinglePartition, ENSURE_REQUIREMENTS"))
    // the merge is PartialTopK again: no sort + window (or its inferred
    // WindowGroupLimit) re-cuts rows the heaps already cut to k
    val p = adaptiveFinal(df)
    val windowsAbove = p.collect {
      case w @ (_: org.apache.spark.sql.execution.window.WindowExec |
                _: org.apache.spark.sql.execution.window.WindowGroupLimitExec)
        if w.exists(_.isInstanceOf[graft.plans.PartialTopKExec]) => w.nodeName
    }
    assert(windowsAbove.isEmpty, p.toString)
  }

  test("agg_lineitem_pushdown: map-side partial aggregation and a pushed " +
    "scan filter") {
    val p = plan("agg_lineitem_pushdown")
    assert(p.contains("partial_sum"))
    assert(p.contains("l_shipdate") && p.contains("DataFilters"))
  }

  test("join_fk_chain_broadcast: both dimension sides broadcast") {
    val p = plan("join_fk_chain_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("text_chunk_overlap: chunking is a pure projection — no exchange " +
    "before the output sort (100 TB chunks for the cost of one scan)") {
    val p = plan("text_chunk_overlap")
    // exactly the one exchange the deterministic ORDER BY adds; the
    // chunk computation itself (tokenize -> window -> posexplode) must
    // not shuffle, aggregate, or join
    assert(p.split("Exchange").length - 1 == 1, p)
    assert(!p.contains("Join") && !p.contains("HashAggregate"))
    assert(p.contains("Generate explode") || p.contains("Generate posexplode"), p)
  }

  test("text_extract_html: extraction is a pure projection — the regex " +
    "stage chain never shuffles, joins, or aggregates") {
    val p = plan("text_extract_html")
    // exactly the one exchange the deterministic ORDER BY adds
    assert(p.split("Exchange").length - 1 == 1, p)
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
  }

  test("dedup_url_exact: URL-exact dedup is ONE partial-aggregated " +
    "shuffle on the normalized key (content-exact dedup's shape)") {
    val p = plan("dedup_url_exact")
    assert(!p.contains("Join"), p)
    // map-side partial + final aggregate
    assert(p.split("HashAggregate").length - 1 >= 2, p)
  }

  test("pipeline_domain_mixture: the corpus is scanned, never " +
    "repartitioned — rates arrive by broadcast") {
    val p = plan("pipeline_domain_mixture")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("pipeline_domain_stats: per-domain aggregation state is constant-" +
    "size — no collect_list on the page axis (a 10M-page domain must not " +
    "become one multi-GB aggregation buffer), map-side partials present") {
    val p = plan("pipeline_domain_stats")
    assert(!p.contains("collect_list"), p)
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("Join"), p)
  }

  test("pipeline_datasheet: no all-pairs anywhere — the dedup panel is " +
    "band-blocked and the contamination panel broadcast, like their " +
    "standalone operators") {
    val p = plan("pipeline_datasheet")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop joins are the three 1-row panel cross-joins
    // at the very top (1 x 1 x 1 rows — free); the heavy sides stay
    // hash-partitioned equi-joins
    assert(p.split("BroadcastNestedLoopJoin").length - 1 <= 2, p)
  }

  test("dedup_near_pairs: band join is a hash equi-join, not a nested loop") {
    val p = plan("dedup_near_pairs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("ConnectedComponents propagation round: hash equi-join on the " +
    "node id, never a nested loop — asserted on the ROUND frame itself, " +
    "because the loop localCheckpoints every round and the caller-facing " +
    "dedup_components plan shows only the final checkpointed scan (the " +
    "banded candidate join upstream is locked by the dedup_near_pairs " +
    "guard above: same operator, same params)") {
    import spark.implicits._
    val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("s", "d")
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("node", "comp")
    val p = graft.operators.ConnectedComponents.propagationRound(sym, labels)
      .queryExecution.executedPlan.toString
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup_components: the caller-facing executed plan (docs left-" +
    "joined to the final component labels — the round joins are behind " +
    "checkpoints) is equi-join only, never a nested loop") {
    val p = plan("dedup_components")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup_embedding_near_lsh: bucket-blocked self-join is a hash " +
    "equi-join on (bucket, salt), never all-pairs") {
    val p = plan("dedup_embedding_near_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup_semantic_pairs: cell-blocked self-join is a hash equi-join " +
    "on (cell, salt), never all-pairs (the centroid broadcast join lives " +
    "behind the reps localCheckpoint, so it is not in this plan string)") {
    val p = plan("dedup_semantic_pairs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup_semantic_survivors: same discipline through the domination " +
    "anti-join — equi-joins only") {
    val p = plan("dedup_semantic_survivors")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("pipeline_dsir_weights: scoring is a PROJECTION-ONLY scan — the " +
    "model folds in-row against a bounded literal array, so the " +
    "returned plan has no join, no exchange, no window (r19: the " +
    "former (id, bucket) count shuffle was the 100x stress-tier bound " +
    "breaker in the r18 driver record)") {
    val p = plan("pipeline_dsir_weights")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange") || p.contains("rangepartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("feature_buckets"), p) // the shared histogram kernel
  }

  test("pipeline_token_budget_shards: the epoch plan attaches by " +
    "BROADCAST, the prefix sum is the two-phase shape (local windows " +
    "partition by shard; the only unpartitioned window is the " +
    "O(shards) base roll-up), no cartesian / nested loop") {
    val p = plan("pipeline_token_budget_shards")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("pipeline_pack_whole_docs: the greedy fold runs per bounded id " +
    "bucket (typed group-map over the bucket key); the numbering side " +
    "carries NO forced broadcast (bucket count is corpus-dependent — " +
    "ADVICE r19), and no cartesian / corpus-wide unpartitioned window") {
    val p = plan("pipeline_pack_whole_docs")
    assert(p.contains("MapGroups"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val analyzed = SparkEntry.queries("pipeline_pack_whole_docs")(spark, dir)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      s"pack_whole_docs numbering carries a join-strategy hint:\n$analyzed")
  }

  test("dedup_jaccard_exact: candidates via hash equi-joins only — " +
    "never a nested loop or cartesian over the corpus") {
    val p = plan("dedup_jaccard_exact")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("no forced broadcast of a CORPUS-DERIVED set survives (r18 " +
    "verdict task 2): the common-gram joins of remove_spans and " +
    "boilerplate carry NO strategy hint — the cut set grows with the " +
    "corpus, so stats/AQE must stay free to pick a shuffle join") {
    for (name <- Seq("pipeline_remove_spans", "text_boilerplate")) {
      val analyzed = SparkEntry.queries(name)(spark, dir)
        .queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint"),
        s"$name carries a join-strategy hint:\n$analyzed")
    }
  }

  test("pipeline_ccnet_buckets_lang: the per-language sample cut is " +
    "TWO-PHASE — phase 1 windows partition by (input-partition, lang) " +
    "so a hot language spreads instead of funneling one reducer — and " +
    "the thresholds attach by BROADCAST equi-join, never a scalar " +
    "nested-loop attach") {
    val p = plan("pipeline_ccnet_buckets_lang")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the phase-1 spread key: a window exchange keyed by the
    // materialized partition id alongside lang
    assert(p.contains("hashpartitioning(__p"), p)
  }

  test("pipeline_ccnet_e2e: the composed dedup -> langid -> per-language " +
    "bucket plan stays free of scalar nested-loop attaches and " +
    "cartesian products end to end") {
    val p = plan("pipeline_ccnet_e2e")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("pipeline_remove_paragraphs: paragraph dedup is the line-removal " +
    "shape — hash-keyed aggregation + anti join, no cartesian, no " +
    "nested-loop attach") {
    val p = plan("pipeline_remove_paragraphs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("text_quality_classifier: scoring is a PROJECTION-ONLY scan — " +
    "the two-class model folds in-row against a bounded literal array " +
    "(the DSIR scoring shape exactly); no join, no shuffle on the " +
    "corpus") {
    val p = plan("text_quality_classifier")
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("feature_buckets"), p) // the shared histogram kernel
  }

  test("pipeline_mixture_temperature: the G-row rate table broadcasts; " +
    "the corpus keep-filter is a scan, not a shuffle") {
    val p = plan("pipeline_mixture_temperature")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("knn_mmr_rerank: the distributed pool cut is TakeOrderedAndProject " +
    "(per-partition heaps), never a global sort of the corpus") {
    // the plan of the POOL query inside the operator: replay it directly
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val pool = emb
      .select(col("vec_id"),
        (round(graft.functions.VectorFunctions.cosineDistance(col("embedding"),
          col("embedding")), 6) + lit(0.0d)).as("distance"))
      .orderBy(col("distance"), col("vec_id")).limit(30)
    val p = pool.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("dedup_incremental_embedding: the arriving probe set is BROADCAST " +
    "— the corpus side is never shuffled, never replicated, never crossed") {
    val p = plan("dedup_incremental_embedding")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("ann_ivf_topk: cell assignment is ONE expression node (reference-" +
    "object centroids), not per-centroid literal structs") {
    val p = plan("ann_ivf_topk")
    assert(p.contains("nearest_cell"))
    assert(!p.contains("least(")) // the round-2 O(C*dim)-node design
  }

  /** The exact rescore reads float32 rows through ONE broadcast hash join
    * on id against the approximate pass's survivor keys — unique per
    * query, so the join keeps exactly the R survivors (a semi-join in
    * effect; the (query_id, id) keys carry the query to its rescore). */
  private def rescoreJoinsSurvivors(p: String): Unit =
    assert("BroadcastHashJoin \\[id#".r.findAllIn(p).size == 1, p)

  test("sq8 search on a STORED-codes table: approx phase scans only the " +
    "compact columns; rescore is a broadcast semi-join touching R rows") {
    import org.apache.spark.sql.functions.col
    // materialize the encoded table — the ingest-time shape (the oracle
    // query encodes on the fly, which necessarily reads the embeddings;
    // at scale codes are stored like the LSH bucket / IVF cell columns)
    val tmp = graft.operators.Scratch.newDir("sq8").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    graft.operators.Quantization.encode(emb, col("embedding"))
      .select("vec_id", "embedding", "qmin", "qmax", "codes")
      .write.mode("overwrite").parquet(s"$tmp/encoded")
    val stored = spark.read.parquet(s"$tmp/encoded")
    val q = emb.where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val result = graft.operators.Quantization.search(
      stored, "embedding", "vec_id", q, k = 10, rescore = 50, metric = "euclidean")
    val p = result.queryExecution.executedPlan.toString
    assert(p.contains("sq8_euclidean"))
    assert(p.contains("TakeOrderedAndProject"))
    rescoreJoinsSurvivors(p)
    // phase 1's scan must NOT carry the float32 embedding column: the
    // whole point of SQ8 is scanning 1/4 the bytes. The embedding column
    // appears only in the rescore branch's scan.
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(l => l.contains("codes") && !l.contains("embedding")),
      s"no compact-only scan — phase 1 reads full vectors:\n${scans.mkString("\n")}")
    assert(result.count() == 10)
  }

  test("bq search on a STORED-words table: the Hamming phase scans only " +
    "the packed int words (1/32 the float32 bytes); rescore is a " +
    "broadcast semi-join touching R rows") {
    import org.apache.spark.sql.functions.col
    val tmp = graft.operators.Scratch.newDir("bqplan").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    emb.withColumn("codes", graft.operators.BinaryQuantization
        .encodeWordsInt(col("embedding"), 64))
      .select("vec_id", "embedding", "codes")
      .write.mode("overwrite").parquet(s"$tmp/encoded")
    val stored = spark.read.parquet(s"$tmp/encoded")
    val q = emb.where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val result = graft.operators.BinaryQuantization.searchStored(
      stored, "embedding", "vec_id", q, k = 10, rescore = 50,
      metric = "cosine")
    val p = result.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"))
    rescoreJoinsSurvivors(p)
    // phase 1's scan must NOT carry the float32 embedding column — the
    // embedding appears only in the rescore branch's scan
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(l => l.contains("codes") && !l.contains("embedding")),
      s"no words-only scan — the Hamming phase reads full vectors:\n${scans.mkString("\n")}")
    assert(result.count() == 10)
  }

  test("pq search on a STORED-codes table: the ADC phase scans only " +
    "pq_codes (numSub bytes-ish per row, not dim x 4); rescore is a " +
    "broadcast semi-join") {
    import org.apache.spark.sql.functions.col
    val tmp = graft.operators.Scratch.newDir("pq").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = graft.queries.AnnQueries.fixturePqModel(spark)
    graft.operators.ProductQuantization.encode(emb, col("embedding"), model)
      .select("vec_id", "embedding", "pq_codes")
      .write.mode("overwrite").parquet(s"$tmp/encoded")
    val stored = spark.read.parquet(s"$tmp/encoded")
    val q = emb.where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val result = graft.operators.ProductQuantization.search(
      stored, "embedding", "vec_id", model, q, k = 10, rescore = 50)
    val p = result.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"))
    rescoreJoinsSurvivors(p)
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(l => l.contains("pq_codes") && !l.contains("embedding")),
      s"no codes-only scan — the ADC phase reads full vectors:\n${scans.mkString("\n")}")
    assert(result.count() == 10)
  }

  test("residual IVFPQ search on a STORED-codes table: the ADC phase " +
    "scans only pq_codes + cell (never the embedding), the per-cell LUT " +
    "frame is a broadcast hash join, rescore is a broadcast semi-join") {
    import org.apache.spark.sql.functions.col
    val tmp = graft.operators.Scratch.newDir("ivfpq-plan").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = graft.queries.AnnQueries.fixtureCentroids(spark)
    val model = graft.queries.AnnQueries.fixturePqResidualModel(spark)
    graft.operators.ProductQuantization.encodeResidual(
        graft.operators.IvfIndex.withCell(emb, col("embedding"), cents),
        col("embedding"), col("cell"), cents, model)
      .select("vec_id", "embedding", "cell", "pq_codes")
      .write.mode("overwrite").parquet(s"$tmp/encoded")
    val stored = spark.read.parquet(s"$tmp/encoded")
    val q = emb.where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val probed = graft.operators.IvfIndex.nearestCentroids(q, cents, 3)
    val result = graft.operators.ProductQuantization.searchResidual(
      stored.where(col("cell").isin(probed: _*)),
      "embedding", "vec_id", model, cents, probed, q, k = 10, rescore = 50)
    val p = result.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"))
    rescoreJoinsSurvivors(p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    val scans = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.exists(l => l.contains("pq_codes") && l.contains("cell") &&
      !l.contains("embedding")),
      s"no codes+cell-only scan — the ADC phase reads full vectors:\n${scans.mkString("\n")}")
    assert(result.count() == 10)
  }

  test("events_interval_join: equi-join on the key with the time range as " +
    "a post-filter — never a nested loop over the pair space") {
    val p = plan("events_interval_join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("pipeline_decontaminate: the benchmark side broadcasts; the corpus " +
    "is never sort-merge- or nested-loop-joined") {
    val p = plan("pipeline_decontaminate")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop") &&
      !p.contains("CartesianProduct"))
  }

  test("pipeline_pack_sequences: the corpus-sized prefix-sum window is " +
    "partitioned by shard, never a single global window") {
    val p = plan("pipeline_pack_sequences")
    assert(p.contains("hashpartitioning(shard"))
  }

  test("pipeline_weighted_sample: global top-k runs as " +
    "TakeOrderedAndProject (per-partition heaps), not a full sort") {
    val p = plan("pipeline_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("pipeline_bpe_tokens: BPE application is equi-join only — the " +
    "corpus text is never shuffled, the term join never a nested loop") {
    val p = plan("pipeline_bpe_tokens")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // the only joins are hash equi-joins on the term / id keys
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // map-side partial aggregation on the high-cardinality keys
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("shard sink write plan: ONE range shuffle on the monotone shard " +
    "key, local sort, no join/aggregate in the write path") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val packed = graft.operators.TrainingData.packAssignments(
      (1L to 50L).map(i => (i, (i % 5) + 1)).toDF("id", "n"),
      col("id"), col("n"), budget = 16L, shards = 4)
    val seqRows = graft.operators.TrainingData.sequenceRows(packed, 16L)
      .localCheckpoint() // isolate the SINK plan from the packing plan
    val writePlan = seqRows
      .withColumn("shard", expr("seq DIV 4L"))
      .repartitionByRange(col("shard"))
      .sortWithinPartitions(col("shard"), col("seq"), col("id"))
      .queryExecution.executedPlan.toString
    assert(writePlan.contains("rangepartitioning(shard"), writePlan)
    assert(!writePlan.contains("Join") && !writePlan.contains("HashAggregate"),
      writePlan)
  }

  test("lifecycle_hybrid_batch: per-query top-k runs as per-partition " +
    "top-k (PartialTopK) below every query_id exchange — never a global " +
    "window or nested loop over Q x corpus") {
    val df = SparkEntry.queries("lifecycle_hybrid_batch")(spark, dir)
    partialTopKBelowQueryExchanges(df)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition, ENSURE_REQUIREMENTS"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the vector leg is the funnel's unordered rows: fusion re-partitions
    // them by query_id, so no ordered tail funnels them through one slot
    assert(!p.contains("TakeOrderedAndProject"), p)
  }

  test("pipeline_pack_payloads: payload assembly shuffles on the high-" +
    "cardinality seq key (and the packing shard key) — never a nested " +
    "loop, never a corpus-sized global window") {
    val p = plan("pipeline_pack_payloads")
    assert(p.contains("hashpartitioning(seq"), p)
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  /** A 4-d library with two chunks near each axis; `ivf` installs one
    * centroid per axis, so each query's nearest cell holds >= 2 rows. */
  private def axisEngine(indexKind: String): VectorEngine = {
    val e = VectorEngine.create(spark)
    e.createLibrary("axes", dim = 4, indexKind = indexKind, id = Some("axes"))
    val axes = (0 until 4).map(i => Seq.tabulate(4)(j => if (j == i) 1f else 0f))
    if (indexKind == VectorEngine.IndexKindIvf)
      e.setIvfCentroids("axes", axes.zipWithIndex.map { case (v, i) => i.toLong -> v })
    val d = e.createDocument("axes", "d")
    e.addChunksBatch(d.id, axes.zipWithIndex.flatMap { case (v, i) =>
      Seq(ChunkInput("x", v, id = Some(s"a$i")),
        ChunkInput("y", v.updated((i + 1) % 4, 0.1f), id = Some(s"b$i")))
    })
    e
  }

  private def physical(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }

  /** The plan as AQE's preparation rules leave it: the exchanges they
    * insert are present, the stages not yet run. */
  private def adaptiveFinal(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  /** Each task cuts its rows to k per query BEFORE any shuffle on the
    * query key: every exchange hashing on query_id has a per-task top-k
    * (PartialTopK over scored rows, or VectorTopK scoring inside its heaps)
    * below it, so the merge moves at most tasks x queries x k rows. */
  private def partialTopKBelowQueryExchanges(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = adaptiveFinal(df)
    val exchanges = p.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.startsWith("hashpartitioning(query_id") => e
    }
    assert(exchanges.nonEmpty, p.toString)
    exchanges.foreach(e => assert(e.child.exists {
      case _: graft.plans.PartialTopKExec | _: graft.plans.VectorTopKExec => true
      case _ => false
    }, p.toString))
  }

  test("one-query search: the top-k is ONE TakeOrderedAndProject over " +
    "VectorTopK, no shuffle on query_id; a two-query flat or ivf batch " +
    "scores in one VectorTopK below its query_id exchange, with no " +
    "broadcast, nested loop or range sort") {
    import graft.plans.VectorTopKExec
    val q = Seq(1f, 0.2f, 0f, 0f)
    val flat = axisEngine(VectorEngine.IndexKindFlat)
    val single = flat.search("axes", q, 2).queryExecution.executedPlan.toString
    assert("TakeOrderedAndProject".r.findAllIn(single).size == 1, single)
    assert("VectorTopK".r.findAllIn(single).size == 1, single)
    assert(!single.contains("WindowGroupLimit"), single)
    assert(!single.contains("PartialTopK"), single)
    assert(!single.contains("hashpartitioning(query_id"), single)
    Seq(flat, axisEngine(VectorEngine.IndexKindIvf)).foreach { e =>
      val df = e.searchBatch("axes", Seq(0L -> q, 1L -> Seq(0f, 1f, 0f, 0f)), 2)
      val p = adaptiveFinal(df)
      assert(p.collect { case v: VectorTopKExec => v }.size == 1, p.toString)
      partialTopKBelowQueryExchanges(df)
      val s = p.toString
      Seq("BroadcastNestedLoopJoin", "BroadcastExchange", "rangepartitioning")
        .foreach(node => assert(!s.contains(node), s"$node in\n$s"))
      assert(s.contains("TakeOrderedAndProject"), s)
      assert(df.collect().map(_.getString(1)).toSeq == Seq("b0", "a0", "a1", "b1"))
    }
  }

  test("TopK.perGroup plans and answers in a fresh session without " +
    "GraftExtensions; installing twice keeps one strategy; planning keeps " +
    "no reference to the session") {
    import org.apache.spark.sql.SparkSession
    import graft.plans.{PartialTopKExec, TopKStrategy}
    def planned(fresh: SparkSession) = {
      import fresh.implicits._
      assert(!fresh.experimental.extraStrategies.contains(TopKStrategy))
      val df = Seq((0L, 3.0, 1L), (0L, 1.0, 2L), (0L, 2.0, 3L), (1L, 5.0, 4L))
        .toDF("g", "d", "id")
      graft.operators.TopK.perGroup(df, "g", "d", "id", 2)
      val top = graft.operators.TopK.perGroup(df, "g", "d", "id", 2)
      assert(fresh.experimental.extraStrategies.count(_ eq TopKStrategy) == 1)
      assert(physical(top).exists(_.isInstanceOf[PartialTopKExec]))
      top
    }
    val fresh = spark.newSession()
    assert(planned(fresh).orderBy("g", "d").select("g", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 2L), (0L, 3L), (1L, 4L)))
    // Spark itself pins a session that has run a job, so this one only plans
    def plannedOnly() = {
      val s = spark.newSession()
      planned(s)
      new java.lang.ref.WeakReference(s)
    }
    val session = plannedOnly()
    var tries = 0
    while (session.get != null && tries < 20) { System.gc(); Thread.sleep(50); tries += 1 }
    assert(session.get == null, "a process-level structure keeps the session alive")
  }

  test("one-query ivf and lsh search: the probe plan rides in VectorTopK " +
    "over one chunk scan — no join, no broadcast; a reopened store's scan " +
    "carries the pushed bucket filter") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.plans.VectorTopKExec
    def probed(df: org.apache.spark.sql.DataFrame) = {
      val p = adaptiveFinal(df)
      assert(p.collect { case j: BaseJoinExec => j }.isEmpty, p.toString)
      assert(p.collect { case b: BroadcastExchangeExec => b }.isEmpty, p.toString)
      val nodes = p.collect { case v: VectorTopKExec => v }
      assert(nodes.size == 1, p.toString)
      assert(nodes.head.queries.probes.nonEmpty && nodes.head.queries.fallback.isEmpty,
        nodes.head.queries.toString)
    }
    val e = axisEngine(VectorEngine.IndexKindIvf)
    val df = e.search("axes", Seq(1f, 0.2f, 0f, 0f), 2, nprobeOpt = Some(1))
    probed(df)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("b0", "a0"))
    // the single-bucket and Hamming-1 LSH probes take the same path: on a
    // reopened store the chunk scan carries the pushed bucket filter
    val stateDir = graft.operators.Scratch.newDir("planspec-lsh").toString
    axisEngine(VectorEngine.IndexKindLsh).save(stateDir)
    val lsh = VectorEngine.open(spark, stateDir)
    Seq(VectorEngine.ProbeSingle, VectorEngine.ProbeMulti).foreach { mode =>
      val ldf = lsh.search("axes", Seq(1f, 0f, 0f, 0f), 1, probe = mode)
      probed(ldf)
      val pushed = physical(ldf).collect { case s: FileSourceScanExec => s }
        .map(_.metadata("PushedFilters"))
      assert(pushed.exists(_.contains("In(bucket")), s"$mode: $pushed")
      assert(ldf.collect().map(_.getString(0)).toSeq == Seq("a0"), mode)
    }
  }

  test("operator ivf and lsh searches: one VectorTopK under one " +
    "TakeOrderedAndProject — no join, broadcast or sort over the scored rows") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      BroadcastNestedLoopJoinExec}
    import graft.operators.{IvfIndex, LshIndex}
    import graft.plans.VectorTopKExec
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val cfg = LshIndex.Config(numProjections = 4, dim = 64, seed = 42L)
    val indexed = LshIndex.withBucket(emb, col("embedding"), cfg)
    val qdf = indexed.where(col("vec_id") === 0)
      .select(col("embedding").as("qvec"), col("bucket").as("qbucket"))
    val cents = graft.queries.AnnQueries.fixtureCentroids(spark)
    Map(
      "ivf" -> IvfIndex.search(IvfIndex.withCell(emb, col("embedding"), cents),
        "embedding", "vec_id", cents, q, 4, "cosine", 10),
      "two-phase" -> LshIndex.searchTwoPhase(indexed, qdf, "embedding", "cosine", 10),
      "multi-probe" -> LshIndex.searchMultiProbe(indexed, qdf, "embedding", "cosine",
        10, cfg.numProjections),
      "adaptive" -> LshIndex.searchAdaptive(indexed, q.toSeq, cfg.matrix, "cosine", 10,
        multiplier = 2)
    ).foreach { case (name, df) =>
      val p = adaptiveFinal(df)
      val tops = p.collect { case t: TakeOrderedAndProjectExec => t }
      assert(tops.size == 1, s"$name:\n$p")
      assert(tops.head.collect { case v: VectorTopKExec => v }.size == 1, s"$name:\n$p")
      assert(p.collect { case v: VectorTopKExec => v }.size == 1, s"$name:\n$p")
      val banned = p.collect {
        case n @ (_: BroadcastNestedLoopJoinExec | _: BroadcastHashJoinExec | _: SortExec) =>
          n.nodeName
      }
      assert(banned.isEmpty, s"$name: $banned in\n$p")
      assert(df.count() == 10, name)
    }
  }

  test("reopened engine scans partition-prune to the searched library") {
    val stateDir = graft.operators.Scratch.newDir("planspec").toString
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("a", dim = 2, id = Some("libA"))
    val lib2 = e.createLibrary("b", dim = 2, id = Some("libB"))
    val d = e.createDocument("libA", "d")
    val d2 = e.createDocument("libB", "d2")
    e.addChunk(d.id, ChunkInput("x", Seq(1f, 0f), id = Some("pa")))
    e.addChunk(d2.id, ChunkInput("y", Seq(0f, 1f), id = Some("pb")))
    e.save(stateDir)
    val e2 = VectorEngine.open(spark, stateDir)
    val p = e2.search("libA", Seq(1f, 0f), 1).queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("libA"))
  }
}
