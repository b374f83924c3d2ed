package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col, lit, round}
import graft.engine._
import graft.operators.{IvfIndex, LshIndex, ProductQuantization}

/** Engine CRUD + lifecycle semantics (mirrors the reference's
  * tests/test_vector_store.py, tests/test_services.py and
  * tests/test_disk_persistence.py layers). */
class EngineSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  private def freshWithData(kind: String = "flat"): (VectorEngine, String, String) = {
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("lib", dim = 4, indexKind = kind,
      lshProjections = 4, lshSeed = 123L)
    val doc = e.createDocument(lib.id, "doc")
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("a", vec(1, 0, 0, 0), Map("tag" -> 1), 0, Some("c0")),
      ChunkInput("b", vec(0.9, 0.1, 0, 0), Map("tag" -> 2), 1, Some("c1")),
      ChunkInput("c", vec(0, 1, 0, 0), Map("tag" -> 1), 2, Some("c2")),
      ChunkInput("d", vec(0, 0, 1, 0), Map("tag" -> "1"), 3, Some("c3"))))
    (e, lib.id, doc.id)
  }

  // Independent references for the batch-parity checks. `search` is a
  // one-query `searchBatch`, so comparing the two would compare the funnel
  // with itself: each check compares the funnel with the operator-level
  // single-query search (or a brute-force scan) over the library's own rows.
  private def libRows(e: VectorEngine, lib: String): DataFrame =
    e.chunksDf.where(col("library_id") === lib)

  private def qvecLit(q: Seq[Float]) =
    array(q.map(x => lit(x)): _*).cast("array<float>")

  private def ranked(df: DataFrame): Seq[(String, Double)] =
    df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq

  private def byQuery(batch: DataFrame): Map[Long, Seq[(String, Double)]] =
    batch.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap

  /** Exact top-k over every row of the library. */
  private def bruteForce(e: VectorEngine, lib: String, q: Seq[Float],
                         k: Int): Seq[(String, Double)] =
    ranked(libRows(e, lib)
      .select(col("id"), (round(graft.functions.VectorFunctions.distance(
        e.getLibrary(lib).distance_metric)(col("embedding"), qvecLit(q)), 6)
        + lit(0.0d)).as("distance"))
      .orderBy(col("distance"), col("id")).limit(k))

  /** LshIndex.searchAdaptive over the maintained histogram. */
  private def lshAdaptive(e: VectorEngine, lib: String, q: Seq[Float], k: Int,
                          multiplier: Int = LshIndex.AdaptiveMultiplier): Seq[(String, Double)] =
    ranked(LshIndex.searchAdaptive(libRows(e, lib), q, e.lshProjectionMatrix(lib),
      e.getLibrary(lib).distance_metric, k, multiplier, idCol = "id",
      hist = Some(e.bucketHistogram(lib).toSeq)))

  /** LshIndex.searchMultiProbe (Hamming-1 probe set, `< k` fallback). */
  private def lshMulti(e: VectorEngine, lib: String, q: Seq[Float],
                       k: Int): Seq[(String, Double)] = {
    val m = e.lshProjectionMatrix(lib)
    val query = spark.range(1).select(qvecLit(q).as("qvec"),
      graft.functions.VectorFunctions.lshBucket(qvecLit(q), m).as("qbucket"))
    ranked(LshIndex.searchMultiProbe(libRows(e, lib), query, "embedding",
      e.getLibrary(lib).distance_metric, k, m.length, idCol = "id"))
  }

  /** `body`'s result and the number of Spark jobs it launched. */
  private def jobsOf[T](group: String)(body: => T): (T, Int) = {
    spark.sparkContext.setJobGroup(group, "EngineSpec")
    val out = try body finally spark.sparkContext.clearJobGroup()
    // deterministic drain (bounded) — a fixed sleep flakes on loaded CI
    org.apache.spark.GraftTestListenerBus.drain(spark.sparkContext)
    (out, spark.sparkContext.statusTracker.getJobIdsForGroup(group).length)
  }

  private def pqModel(cb: Seq[(Int, Long, Seq[Float])]): ProductQuantization.Model =
    cb.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, cs) =>
      cs.sortBy(_._2).map { case (_, cid, v) => IvfIndex.Centroid(cid, v.toArray) }
    }

  test("create/get/list round-trip with derived counts") {
    val (e, lib, doc) = freshWithData()
    assert(e.getLibrary(lib).name == "lib")
    assert(e.documentCount(lib) == 1)
    assert(e.chunkCount(lib) == 4)
    assert(e.chunkCountByDocument(doc) == 4)
    val pg = e.listChunks(doc, skip = 0, limit = 2)
    assert(pg.total == 4 && pg.hasMore && pg.items.map(_.id) == Seq("c0", "c1"))
    val pg2 = e.listChunks(doc, skip = 2, limit = 2)
    assert(!pg2.hasMore && pg2.items.map(_.id) == Seq("c2", "c3"))
  }

  test("missing entities raise NotFoundError (404 semantics)") {
    val e = VectorEngine.create(spark)
    intercept[NotFoundError] { e.getLibrary("nope") }
    intercept[NotFoundError] { e.createDocument("nope", "d") }
    intercept[NotFoundError] { e.getChunk("nope") }
  }

  test("duplicate ids raise ConflictError (vector_store.py:154-155)") {
    val (e, _, doc) = freshWithData()
    intercept[ConflictError] {
      e.addChunk(doc, ChunkInput("x", vec(1, 0, 0, 0), id = Some("c0")))
    }
    e.createLibrary("y", 4, id = Some("lib-dup"))
    intercept[ConflictError] { e.createLibrary("z", 4, id = Some("lib-dup")) }
  }

  test("validation guards P5-P7 raise ValidationError") {
    val (e, _, doc) = freshWithData()
    intercept[ValidationError] { e.addChunk(doc, ChunkInput("", vec(1, 0, 0, 0))) }
    intercept[ValidationError] { e.addChunk(doc, ChunkInput("x" * 10001, vec(1, 0, 0, 0))) }
    intercept[ValidationError] { e.addChunk(doc, ChunkInput("x", vec(1, 0, 0))) } // wrong dim
    intercept[ValidationError] { e.addChunk(doc, ChunkInput("x", Seq.empty)) }
    intercept[ValidationError] { e.addChunk(doc, ChunkInput("x", vec(1, 0, 0, 0), chunkIndex = -1)) }
    intercept[ValidationError] { e.createLibrary("l2", dim = 0) }
    intercept[ValidationError] { e.createLibrary("l2", dim = 4, metric = "manhattan") }
    intercept[ValidationError] { e.createLibrary("", dim = 4) }
  }

  test("batch insert is atomic: one bad row means nothing is written " +
    "(services.py:156-157)") {
    val (e, lib, doc) = freshWithData()
    intercept[ValidationError] {
      e.addChunksBatch(doc, Seq(
        ChunkInput("ok", vec(1, 0, 0, 0)),
        ChunkInput("bad-dim", vec(1, 0))))
    }
    assert(e.chunkCount(lib) == 4) // unchanged
    intercept[ValidationError] {
      e.addChunksBatch(doc, (1 to 1001).map(i => ChunkInput(s"t$i", vec(1, 0, 0, 0))))
    }
  }

  test("dimension/index_kind immutable while library has chunks " +
    "(vector_store.py:59-65); mutable while empty, with index rebuild") {
    val (e, lib, _) = freshWithData()
    intercept[ConflictError] { e.patchLibrary(lib, dim = Some(8)) }
    intercept[ConflictError] { e.patchLibrary(lib, indexKind = Some("random_projection")) }
    // empty library: both changes allowed
    val lib2 = e.createLibrary("empty", dim = 4)
    assert(e.patchLibrary(lib2.id, dim = Some(8)).embedding_dimension == 8)
    assert(e.patchLibrary(lib2.id, indexKind = Some("random_projection"))
      .index_kind == "random_projection")
  }

  test("document library_id and chunk document_id are immutable " +
    "(vector_store.py:124-125,196-197)") {
    val (e, _, doc) = freshWithData()
    intercept[ConflictError] { e.patchDocument(doc, libraryId = Some("other")) }
    intercept[ConflictError] { e.patchChunk("c0", documentId = Some("other")) }
    // patching with the SAME parent id is a no-op, not a conflict
    e.patchChunk("c0", documentId = Some(doc), text = Some("a2"))
    assert(e.getChunk("c0").text == "a2")
  }

  test("cascade: delete document removes its chunks; delete library removes all") {
    val (e, lib, doc) = freshWithData()
    val doc2 = e.createDocument(lib, "doc2")
    e.addChunk(doc2.id, ChunkInput("e", vec(0, 0, 0, 1), id = Some("c4")))
    e.deleteDocument(doc)
    assert(e.chunkCount(lib) == 1)
    intercept[NotFoundError] { e.getChunk("c0") }
    e.deleteLibrary(lib)
    assert(e.librariesDf.count() == 0 && e.documentsDf.count() == 0 &&
      e.chunksDf.count() == 0)
  }

  test("search: ordering, k-cap, typed metadata filter, empty-filter " +
    "short-circuit (vector_store.py:230-259)") {
    val (e, lib, _) = freshWithData()
    val hits = e.search(lib, vec(1, 0, 0, 0), k = 2)
    val ids = hits.collect().map(_.getString(0)).toSeq
    assert(ids == Seq("c0", "c1")) // exact match first, then closest
    assert(e.search(lib, vec(1, 0, 0, 0), k = 100).count() == 4) // k > n
    // typed filter: int 1 matches c0 and c2 but NOT c3 (string "1")
    val filtered = e.search(lib, vec(1, 0, 0, 0), k = 10, Map("tag" -> 1))
      .collect().map(_.getString(0)).toSet
    assert(filtered == Set("c0", "c2"))
    // no-match filter short-circuits to empty
    assert(e.search(lib, vec(1, 0, 0, 0), k = 10, Map("tag" -> 99)).count() == 0)
  }

  test("search parameter guards raise SearchError (services.py:171-175)") {
    val (e, lib, _) = freshWithData()
    intercept[SearchError] { e.search(lib, vec(1, 0, 0, 0), k = 0) }
    intercept[SearchError] { e.search(lib, vec(1, 0), k = 5) }
  }

  test("searchMmr: lambda=1 equals plain search order; diversity demotes " +
    "the near-duplicate; filters compose; guards raise SearchError") {
    val (e, lib, _) = freshWithData()
    // lambda=1: pure relevance — same ids, same order as search
    val plain = e.search(lib, vec(1, 0, 0, 0), k = 3)
      .collect().map(_.getString(0)).toSeq
    val mmr1 = e.searchMmr(lib, vec(1, 0, 0, 0), k = 3, poolSize = 4,
        lambda = 1.0)
      .orderBy(org.apache.spark.sql.functions.col("rank"))
      .collect().map(_.getString(1)).toSeq
    assert(mmr1 == plain)
    // diversity-leaning lambda: c1 (near-dup of c0, sim ~0.99) is demoted
    // below the orthogonal candidates. (At exactly 0.5 the penalty TIES
    // c1's score with the orthogonals' 0.0 — c0 equals the query — and
    // the id tie-break keeps c1; 0.4 makes the demotion strict.)
    val div = e.searchMmr(lib, vec(1, 0, 0, 0), k = 3, poolSize = 4,
        lambda = 0.4)
      .orderBy(org.apache.spark.sql.functions.col("rank"))
      .collect().map(_.getString(1)).toSeq
    assert(div == Seq("c0", "c2", "c3"))
    // metadata filter composes through the pool cut
    val filtered = e.searchMmr(lib, vec(1, 0, 0, 0), k = 2, poolSize = 4,
        filters = Map("tag" -> 1))
      .collect().map(_.getString(1)).toSet
    assert(filtered == Set("c0", "c2"))
    // guards
    intercept[SearchError] { e.searchMmr(lib, vec(1, 0, 0, 0), k = 0) }
    intercept[SearchError] {
      e.searchMmr(lib, vec(1, 0, 0, 0), k = 5, poolSize = 3)
    }
    intercept[SearchError] {
      e.searchMmr(lib, vec(1, 0, 0, 0), k = 1, lambda = 1.5)
    }
    val e2 = VectorEngine.create(spark)
    val dotLib = e2.createLibrary("dot", dim = 4, metric = "dot_product")
    intercept[SearchError] { e2.searchMmr(dotLib.id, vec(1, 0, 0, 0), k = 1) }
  }

  test("chunk response excludes the embedding (P4, schemas.py:124-129)") {
    val (e, _, _) = freshWithData()
    assert(e.chunkResponse("c0").columns.toSeq ==
      Seq("id", "document_id", "text", "metadata", "chunk_index"))
  }

  test("LSH library: search results equal flat search on the same data " +
    "(two-phase fallback semantics at small n)") {
    val (ef, libF, _) = freshWithData("flat")
    val (el, libL, _) = freshWithData("random_projection")
    val q = vec(0.9, 0.05, 0, 0)
    val flat = ef.search(libF, q, 3).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val lsh = el.search(libL, q, 3).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(lsh == flat) // < k candidates per bucket at n=4 -> exhaustive fallback
  }

  test("persistence round-trip: save -> open gives identical search results " +
    "(test_disk_persistence.py:240-271)") {
    val dir = Files.tmp("graft-engine-flat")
    val (e, lib, doc) = freshWithData()
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    val q = vec(1, 0.2, 0, 0)
    val before = e.search(lib, q, 4).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val after = e2.search(lib, q, 4).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(before == after)
    assert(e2.getDocument(doc).name == "doc")
    assert(e2.chunkCount(lib) == 4)
  }

  test("persistence round-trip preserves the LSH matrix and buckets " +
    "(test_disk_persistence.py:88-129)") {
    val dir = Files.tmp("graft-engine-lsh")
    val (e, lib, _) = freshWithData("random_projection")
    val bucketsBefore = e.chunksDf.select("id", "bucket").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    val bucketsAfter = e2.chunksDf.select("id", "bucket").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bucketsBefore == bucketsAfter) // S5 rebuild is deterministic
    val q = vec(0.5, 0.5, 0, 0)
    assert(e.search(lib, q, 2).collect().toSeq.toString ==
      e2.search(lib, q, 2).collect().toSeq.toString)
  }

  test("index-kind flip on an empty library takes effect for later ingest") {
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("flip", dim = 4) // flat
    e.patchLibrary(lib.id, indexKind = Some("random_projection"))
    val doc = e.createDocument(lib.id, "d")
    e.addChunk(doc.id, ChunkInput("x", vec(1, 0, 0, 0), id = Some("fc0")))
    assert(e.getChunk("fc0").bucket.isDefined) // bucket derived post-flip
    assert(e.search(lib.id, vec(1, 0, 0, 0), 1).count() == 1)
  }

  test("patchChunk with a new embedding re-derives the bucket " +
    "(vector_store.py:199-205)") {
    val (e, _, _) = freshWithData("random_projection")
    val before = e.getChunk("c0").bucket.get
    // flip the vector to (roughly) the opposite direction
    e.patchChunk("c0", embedding = Some(vec(-1, 0, 0, 0)))
    val after = e.getChunk("c0").bucket.get
    // opposite vector flips every projection sign -> complement bucket
    assert(after == (~before & 0xfL))
  }

  test("bulk document ingest validates names and duplicate ids") {
    val (e, lib, _) = freshWithData()
    import spark.implicits._
    val docs2 = Seq(("d10", "ten", Map.empty[String, String]),
      ("d11", "eleven", Map.empty[String, String]))
      .toDF("id", "name", "metadata")
    assert(e.addDocumentsDf(lib, docs2) == 2)
    assert(e.documentCount(lib) == 3)
    intercept[ConflictError] { e.addDocumentsDf(lib, docs2) } // same ids again
    intercept[ValidationError] {
      e.addDocumentsDf(lib,
        Seq(("d12", "", Map.empty[String, String])).toDF("id", "name", "metadata"))
    }
  }

  test("bulk ingest rejects rows referencing unknown documents") {
    val (e, lib, doc) = freshWithData()
    import spark.implicits._
    val bad = Seq(("bx", "no-such-doc", "t", Seq(1f, 0f, 0f, 0f),
      Map.empty[String, String], 0))
      .toDF("id", "document_id", "text", "embedding", "metadata", "chunk_index")
    intercept[NotFoundError] { e.addChunksDf(lib, bad) }
    assert(e.chunkCount(lib) == 4) // nothing written
  }

  test("registerViews exposes entity tables to spark.sql (S1)") {
    val (e, lib, _) = freshWithData()
    e.registerViews("enginespec")
    val n = spark.sql(
      s"SELECT count(*) FROM enginespec_chunks WHERE library_id = '$lib'")
      .head().getLong(0)
    assert(n == 4)
    assert(spark.sql("SELECT name FROM enginespec_libraries").head().getString(0) == "lib")
  }

  test("empty engine round-trips (no chunks written yet)") {
    val dir = Files.tmp("graft-engine-empty")
    val e = VectorEngine.create(spark)
    e.createLibrary("only-lib", dim = 4, id = Some("empty-lib"))
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    assert(e2.getLibrary("empty-lib").name == "only-lib")
    assert(e2.chunkCount("empty-lib") == 0)
    assert(e2.search("empty-lib", vec(1, 0, 0, 0), 5).count() == 0)
  }

  test("open on a missing directory raises StorageError") {
    intercept[StorageError] { VectorEngine.open(spark, "/tmp/does-not-exist-graft") }
  }

  test("child mutations bump parent document AND library updated_at " +
    "(entities.py:93-99,148-166 counter methods call update_timestamp)") {
    val (e, lib, doc) = freshWithData()
    val libT0 = e.getLibrary(lib).updated_at
    val docT0 = e.getDocument(doc).updated_at
    e.addChunk(doc, ChunkInput("z", vec(0, 0, 1, 1), id = Some("c9")))
    val libT1 = e.getLibrary(lib).updated_at
    val docT1 = e.getDocument(doc).updated_at
    assert(docT1.after(docT0) && libT1.after(libT0))
    e.deleteChunk("c9")
    assert(e.getDocument(doc).updated_at.after(docT1))
    assert(e.getLibrary(lib).updated_at.after(libT1))
    // document create and cascade delete bump the library too
    val t2 = e.getLibrary(lib).updated_at
    val d2 = e.createDocument(lib, "d2")
    val t3 = e.getLibrary(lib).updated_at
    assert(t3.after(t2))
    e.deleteDocument(d2.id)
    assert(e.getLibrary(lib).updated_at.after(t3))
    // bulk ingest bumps every referenced parent
    import spark.implicits._
    val docT2 = e.getDocument(doc).updated_at
    val bulk = Seq(("b1", doc, "t", Seq(1f, 0f, 0f, 0f),
      Map.empty[String, String], 9))
      .toDF("id", "document_id", "text", "embedding", "metadata", "chunk_index")
    e.addChunksDf(lib, bulk)
    assert(e.getDocument(doc).updated_at.after(docT2))
  }

  test("plan lineage stays bounded across 500 single-row mutations " +
    "(localCheckpoint compaction)") {
    val (e, lib, _) = freshWithData()
    for (i <- 0 until 500) e.patchChunk("c0", text = Some(s"t$i"))
    def nodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case n => n }.size
    assert(nodes(e.chunksDf) < 150,
      s"chunks plan grew to ${nodes(e.chunksDf)} nodes")
    assert(nodes(e.documentsDf) < 150)
    assert(e.getChunk("c0").text == "t499")
    assert(e.chunkCount(lib) == 4)
  }

  test("bulk chunk ingest rejects duplicate ids (batch + existing) and " +
    "non-finite embeddings; empty batch is a no-op") {
    val (e, lib, doc) = freshWithData()
    import spark.implicits._
    def df(rows: Seq[(String, String, String, Seq[Float], Map[String, String], Int)]) =
      rows.toDF("id", "document_id", "text", "embedding", "metadata", "chunk_index")
    intercept[ConflictError] { // id exists in the chunks table
      e.addChunksDf(lib, df(Seq(("c0", doc, "t", Seq(1f, 0f, 0f, 0f), Map.empty, 0))))
    }
    intercept[ConflictError] { // duplicate within the batch
      e.addChunksDf(lib, df(Seq(
        ("n1", doc, "t", Seq(1f, 0f, 0f, 0f), Map.empty, 0),
        ("n1", doc, "t", Seq(0f, 1f, 0f, 0f), Map.empty, 1))))
    }
    intercept[ValidationError] { // NaN
      e.addChunksDf(lib, df(Seq(("n2", doc, "t", Seq(Float.NaN, 0f, 0f, 0f), Map.empty, 0))))
    }
    intercept[ValidationError] { // Infinity
      e.addChunksDf(lib, df(Seq(("n3", doc, "t",
        Seq(Float.PositiveInfinity, 0f, 0f, 0f), Map.empty, 0))))
    }
    assert(e.addChunksDf(lib, df(Seq.empty)) == 0) // empty no-op, no NPE
    assert(e.addDocumentsDf(lib,
      Seq.empty[(String, String, Map[String, String])]
        .toDF("id", "name", "metadata")) == 0)
    assert(e.chunkCount(lib) == 4) // nothing written by any of the above
  }

  test("patchLibrary index rebuild keeps the library's LSH configuration " +
    "(never silently reverts to defaults)") {
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("l", dim = 4, indexKind = "random_projection",
      lshProjections = 6, lshSeed = 99L)
    e.patchLibrary(lib.id, dim = Some(8)) // empty: dim flip rebuilds index
    val dir = Files.tmp("graft-lshcfg")
    e.save(dir)
    val version = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$dir/MANIFEST")).trim
    val m = spark.read.parquet(s"$dir/$version/matrices.parquet")
      .where(org.apache.spark.sql.functions.col("library_id") === lib.id).head()
    assert(m.getAs[Int]("num_projections") == 6)
    assert(m.getAs[Long]("seed") == 99L)
    assert(m.getAs[Int]("dim") == 8)
  }

  test("searchBatch equals per-query search for flat AND LSH libraries " +
    "(including the per-query fallback decision)") {
    for (kind <- Seq("flat", "random_projection")) {
      val (e, lib, _) = freshWithData(kind)
      val qs = Seq(0L -> vec(1, 0, 0, 0), 1L -> vec(0, 0.9, 0.1, 0))
      val batch = byQuery(e.searchBatch(lib, qs, k = 2))
      qs.foreach { case (qid, q) =>
        val ref = if (kind == "flat") bruteForce(e, lib, q, 2)
                  else lshAdaptive(e, lib, q, 2)
        assert(batch(qid) == ref, s"kind=$kind query=$qid")
        assert(ranked(e.search(lib, q, 2)) == ref, s"kind=$kind query=$qid")
      }
    }
    // guards + filter parity
    val (e, lib, _) = freshWithData()
    intercept[SearchError] { e.searchBatch(lib, Seq(0L -> vec(1, 0)), 2) }
    intercept[SearchError] { e.searchBatch(lib, Seq(0L -> vec(1, 0, 0, 0)), 0) }
    intercept[SearchError] { // duplicate query ids would share one top-k
      e.searchBatch(lib, Seq(0L -> vec(1, 0, 0, 0), 0L -> vec(0, 1, 0, 0)), 2)
    }
    assert(e.searchBatch(lib, Seq.empty, 3).count() == 0)
    val filtered = e.searchBatch(lib, Seq(0L -> vec(1, 0, 0, 0)), 10,
      Map("tag" -> 1)).collect().map(_.getString(1)).toSet
    assert(filtered == Set("c0", "c2"))
  }

  test("multi-probe facade search: superset recall of single-bucket, " +
    "exact distances, flat libraries unaffected") {
    val (e, lib, _) = freshWithData("random_projection")
    val q = vec(1, 0, 0, 0)
    // k=1 keeps both paths on the bucket probe (no fallback): the
    // multi-probe candidate set contains the single-bucket one, so its
    // top-1 distance can only be <= the single-bucket top-1 distance
    val single = e.search(lib, q, 1, probe = VectorEngine.ProbeSingle)
      .collect().map(_.getDouble(1)).head
    val multi = e.search(lib, q, 1, probe = VectorEngine.ProbeMulti)
      .collect().map(_.getDouble(1)).head
    assert(multi <= single)
    // with k >= corpus both paths fall back and agree exactly
    assert(e.search(lib, q, 10, probe = VectorEngine.ProbeMulti).collect().toSeq ==
      e.search(lib, q, 10).collect().toSeq)
    // flat library: flag is a no-op
    val (ef, libF, _) = freshWithData("flat")
    assert(ef.search(libF, q, 3, probe = VectorEngine.ProbeMulti).collect().toSeq ==
      ef.search(libF, q, 3).collect().toSeq)
    // batch parity: searchBatch(multiProbe) == operator-level searchMultiProbe
    val (eb, libB, _) = freshWithData("random_projection")
    val qs = Seq(0L -> vec(1, 0, 0, 0), 1L -> vec(0, 0.9, 0.1, 0))
    val batch = byQuery(eb.searchBatch(libB, qs, k = 2, probe = VectorEngine.ProbeMulti))
    qs.foreach { case (qid, qv) =>
      assert(batch(qid) == lshMulti(eb, libB, qv, 2), s"multiProbe batch query=$qid")
    }
  }

  test("searchBatch on a REOPENED engine matches per-query search " +
    "(file-backed parquet source)") {
    val dir = Files.tmp("graft-batch-reopen")
    val (e, lib, _) = freshWithData("random_projection")
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    val qs = Seq(0L -> vec(1, 0, 0, 0), 1L -> vec(0, 0.9, 0.1, 0))
    val batch = byQuery(e2.searchBatch(lib, qs, k = 2))
    qs.foreach { case (qid, q) =>
      assert(batch(qid) == lshAdaptive(e2, lib, q, 2), s"reopened query=$qid")
    }
  }

  test("incremental save rewrites only the touched library's partition") {
    val dir = Files.tmp("graft-incr")
    val e = VectorEngine.create(spark)
    val libA = e.createLibrary("a", dim = 4, id = Some("ilibA"))
    val libB = e.createLibrary("b", dim = 4, id = Some("ilibB"))
    val dA = e.createDocument(libA.id, "da")
    val dB = e.createDocument(libB.id, "db")
    e.addChunk(dA.id, ChunkInput("x", vec(1, 0, 0, 0), id = Some("ia0")))
    e.addChunk(dB.id, ChunkInput("y", vec(0, 1, 0, 0), id = Some("ib0")))
    e.save(dir)
    def partFiles(lib: String): Map[String, Long] = {
      val p = java.nio.file.Paths.get(s"$dir/chunks/library_id=$lib")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(p).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f).toMillis)
        .toMap
    }
    val a0 = partFiles(libA.id)
    e.addChunk(dB.id, ChunkInput("z", vec(0, 0, 1, 0), id = Some("ib1")))
    Thread.sleep(20) // ensure a rewrite would move mtime
    e.save(dir)
    // library A's partition is byte-untouched; B's was rewritten
    assert(partFiles(libA.id) == a0)
    val e2 = VectorEngine.open(spark, dir)
    assert(e2.chunkCount(libA.id) == 1 && e2.chunkCount(libB.id) == 2)
    // deleting a library removes its partition directory on the next save
    e2.deleteLibrary(libB.id)
    e2.save(dir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/chunks/library_id=${libB.id}")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/chunks/library_id=${libA.id}")))
    val e3 = VectorEngine.open(spark, dir)
    assert(e3.chunkCount(libA.id) == 1)
    intercept[NotFoundError] { e3.getLibrary(libB.id) }
  }

  test("engine stays fully usable AFTER saving into its own backing dir " +
    "(no stale references to replaced/deleted partition files)") {
    val dir = Files.tmp("graft-reuse")
    val e = VectorEngine.create(spark)
    val libA = e.createLibrary("a", dim = 4, id = Some("rlibA"))
    val libB = e.createLibrary("b", dim = 4, id = Some("rlibB"))
    val dA = e.createDocument(libA.id, "da")
    val dB = e.createDocument(libB.id, "db")
    e.addChunk(dA.id, ChunkInput("x", vec(1, 0, 0, 0), id = Some("ra0")))
    e.addChunk(dB.id, ChunkInput("y", vec(0, 1, 0, 0), id = Some("rb0")))
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    // mutate + incremental save, then KEEP USING the same engine: every
    // path below used to die with FILE_NOT_EXIST on the replaced files
    e2.addChunk(e2.listDocuments(libB.id).items.head.id,
      ChunkInput("z", vec(0, 0, 1, 0), id = Some("rb1")))
    e2.save(dir)
    assert(e2.getChunk("ra0").text == "x")
    assert(e2.chunkCount(libB.id) == 2)
    assert(e2.search(libB.id, vec(0, 0, 1, 0), 1).collect()
      .head.getString(0) == "rb1")
    // delete-only save (partition directory removed), engine still live
    e2.deleteLibrary(libA.id)
    e2.save(dir)
    assert(e2.chunkCount(libB.id) == 2)
    assert(e2.getChunk("rb1").text == "z")
    // a third save after further mutation composes
    e2.patchChunk("rb1", text = Some("z2"))
    e2.save(dir)
    val e3 = VectorEngine.open(spark, dir)
    assert(e3.getChunk("rb1").text == "z2")
    assert(e3.chunkCount(libB.id) == 2)
  }

  test("saving back to an EARLIER backing dir after a save elsewhere " +
    "still pins and re-roots (multi-directory save history)") {
    val dirA = Files.tmp("graft-multiA")
    val dirB = Files.tmp("graft-multiB")
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("m", dim = 4, id = Some("mlib"))
    val d = e.createDocument(lib.id, "md")
    e.addChunk(d.id, ChunkInput("x", vec(1, 0, 0, 0), id = Some("ma0")))
    e.save(dirA)
    val e2 = VectorEngine.open(spark, dirA) // chunks rooted on dirA
    e2.save(dirB)                           // fresh-dir save: stays rooted on dirA
    e2.addChunk(e2.listDocuments(lib.id).items.head.id,
      ChunkInput("y", vec(0, 1, 0, 0), id = Some("ma1")))
    e2.save(dirA)                           // back to the ORIGINAL backing dir
    assert(e2.chunkCount(lib.id) == 2)      // engine still live
    assert(e2.getChunk("ma0").text == "x")
    val re = VectorEngine.open(spark, dirA)
    assert(re.chunkCount(lib.id) == 2)
    assert(VectorEngine.open(spark, dirB).chunkCount(lib.id) == 1)
  }

  test("open fails loudly on a state dir without a chunks table") {
    val dir = Files.tmp("graft-nochunks")
    val e = VectorEngine.create(spark)
    e.createLibrary("a", dim = 2, id = Some("nl"))
    e.save(dir)
    // simulate an old-layout/corrupt dir: chunks table missing entirely
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).iterator().asScala.toSeq.foreach(rmrf)
      java.nio.file.Files.delete(p)
    }
    rmrf(java.nio.file.Paths.get(s"$dir/chunks"))
    intercept[StorageError] { VectorEngine.open(spark, dir) }
  }

  test("bulk chunk ingest validates in one action (job count)") {
    val (e, lib, doc) = freshWithData()
    import spark.implicits._
    val df = Seq(("jc1", doc, "t", Seq(1f, 0f, 0f, 0f),
      Map.empty[String, String], 0))
      .toDF("id", "document_id", "text", "embedding", "metadata", "chunk_index")
    spark.sparkContext.setJobGroup("bulk-ingest-jobs", "EngineSpec")
    try e.addChunksDf(lib, df)
    finally spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker
      .getJobIdsForGroup("bulk-ingest-jobs").length
    // getLibrary point-lookup + ONE validation aggregate. AQE materializes
    // each broadcast/stage as its own job, so the single action measures as
    // ~4 jobs; the round-2 shape ran THREE separate actions (validation
    // aggregate, orphan count, prepared.count) and landed near double this.
    assert(jobs <= 5, s"expected <= 5 jobs for bulk ingest, got $jobs")
  }

  /** n distributed 4-d chunk rows under `doc`, ids `<prefix><i>`. */
  private def rangeBatch(n: Int, doc: String, prefix: String,
                         text: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(n).select(
      concat(lit(prefix), col("id")).as("id"),
      lit(doc).as("document_id"),
      text.as("text"),
      array((1 to 4).map(j => sin(col("id") * j + 1).cast("float")): _*)
        .as("embedding"),
      typedLit(Map.empty[String, String]).as("metadata"),
      col("id").cast("int").as("chunk_index"))
  }

  test("bulk chunk ingest runs the caller's plan once: validation, the " +
    "stored rows, the parent refresh, counts and save read one pin") {
    for (kind <- Seq("flat", "random_projection")) {
      val (e, lib, doc) = freshWithData(kind)
      val runs = spark.sparkContext.longAccumulator(s"rows-$kind")
      val counted = org.apache.spark.sql.functions.udf { (i: Long) =>
        runs.add(1L); s"text $i"
      }
      val n = 40
      assert(e.addChunksDf(lib, rangeBatch(n, doc, "u", counted(col("id")))) == n)
      assert(e.getDocument(doc).id == doc)
      assert(e.chunkCount(lib) == 4 + n)
      e.save(Files.tmp(s"graft-pin-once-$kind"))
      assert(runs.value == n, s"kind=$kind: the caller's plan ran ${runs.value / n}x")
    }
  }

  test("a non-deterministic bulk batch stores exactly the rows it validated " +
    "and counted") {
    import org.apache.spark.sql.functions._
    val (e, lib, doc) = freshWithData()
    // rand() is fixed per plan; the UDF filter differs per execution
    val keep = udf(() => scala.util.Random.nextBoolean()).asNondeterministic()
    val batch = rangeBatch(200, doc, "r", lit("t"))
      .withColumn("embedding", array((1 to 4).map(_ => rand().cast("float")): _*))
      .where(keep())
    val total = e.addChunksDf(lib, batch)
    def stored = e.chunksDf.where(col("id").startsWith("r"))
      .orderBy("id").collect().toSeq
    val first = stored
    assert(first.length == total)
    assert(stored == first)
    assert(e.chunkCount(lib) == 4 + total)
  }

  test("after a bulk ingest, getDocument runs exactly one job: the " +
    "documents table carries no reference to the batch's plan") {
    val (e0, lib, doc) = freshWithData()
    val dir = Files.tmp("graft-getdoc-jobs")
    e0.save(dir)
    val e = VectorEngine.open(spark, dir)
    // a shuffling caller plan, like the dedup gates' anti-joins
    val batch = rangeBatch(30, doc, "g", lit("t"))
    val gated = batch.join(batch.select(col("id")).where(col("chunk_index") % 3 === 0),
      Seq("id"), "left_anti")
    e.addChunksDf(lib, gated)
    val (row, jobs) = jobsOf("getdoc-after-ingest")(e.getDocument(doc))
    assert(row.id == doc)
    assert(jobs == 1, s"expected 1 job for getDocument, got $jobs")
  }

  test("ivf library: explicit centroid model, stored cells, nprobe search " +
    "with < k fallback, batch parity, persistence round-trip, self-train") {
    val (e, lib, doc) = freshWithData("ivf")
    // un-trained ivf library searches exactly (flat)
    assert(e.search(lib, vec(1, 0, 0, 0), 2).collect()
      .map(_.getString(0)).toSeq == Seq("c0", "c1"))
    // model guards
    intercept[ValidationError] { e.setIvfCentroids(lib, Seq.empty) }
    intercept[ValidationError] { e.setIvfCentroids(lib, Seq(0L -> vec(1, 0))) }
    intercept[ValidationError] {
      e.setIvfCentroids(lib, Seq(0L -> vec(1, 0, 0, 0), 0L -> vec(0, 1, 0, 0)))
    }
    val flatLib = e.createLibrary("notivf", dim = 4)
    intercept[ValidationError] {
      e.setIvfCentroids(flatLib.id, Seq(0L -> vec(1, 0, 0, 0)))
    }
    // 2-cell model: c0,c1 land in cell 0; c2,c3 in cell 1
    e.setIvfCentroids(lib, Seq(0L -> vec(1, 0, 0, 0), 1L -> vec(0, 0.5, 0.5, 0)))
    // nprobe=1 scans only cell 0 (2 candidates >= k=2, no fallback)
    assert(e.search(lib, vec(1, 0, 0, 0), k = 2, nprobeOpt = Some(1)).collect()
      .map(_.getString(0)).toSeq == Seq("c0", "c1"))
    // k=3 > cell population -> exhaustive fallback, exact flat order
    assert(e.search(lib, vec(1, 0, 0, 0), k = 3, nprobeOpt = Some(1)).collect()
      .map(_.getString(0)).toSeq == Seq("c0", "c1", "c2"))
    // single-row add derives the cell via the driver twin
    e.addChunk(doc, ChunkInput("e", vec(0, 0.6, 0.4, 0), id = Some("c4")))
    assert(e.search(lib, vec(0, 0.6, 0.4, 0), k = 1, nprobeOpt = Some(1)).collect()
      .head.getString(0) == "c4")
    // batch parity with the operator-level IVF search at the same nprobe
    // (each query's nearest cell holds >= k rows: no fallback)
    val qs = Seq(0L -> vec(1, 0, 0, 0), 1L -> vec(0, 1, 0, 0))
    val batch = byQuery(e.searchBatch(lib, qs, k = 2, nprobeOpt = Some(1)))
    val cents = Seq(IvfIndex.Centroid(0L, Array(1f, 0f, 0f, 0f)),
      IvfIndex.Centroid(1L, Array(0f, 0.5f, 0.5f, 0f)))
    qs.foreach { case (qid, q) =>
      val one = ranked(IvfIndex.search(libRows(e, lib).withColumnRenamed("bucket", "cell"),
        "embedding", "id", cents, q.toArray, nprobe = 1, "cosine", k = 2))
      assert(batch(qid) == one, s"ivf batch query=$qid")
    }
    // save -> reopen: centroids.parquet persisted, cells re-derived, and
    // probe search on the reopened engine is identical
    val dir = Files.tmp("graft-ivf")
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    assert(e2.search(lib, vec(1, 0, 0, 0), 3, nprobeOpt = Some(1)).collect().toSeq ==
      e.search(lib, vec(1, 0, 0, 0), 3, nprobeOpt = Some(1)).collect().toSeq)
    // self-training installs a usable model (recall quality is IvfSpec's
    // job; here: the trained engine still answers searches)
    val model = e2.trainIvfIndex(lib, c = 2, iters = 2)
    assert(model.size == 2)
    assert(e2.search(lib, vec(1, 0, 0, 0), k = 5).count() == 5)
    intercept[ValidationError] { e2.trainIvfIndex(flatLib.id, c = 2) }
  }

  test("LSH bucket histogram is maintained index metadata: matches a " +
    "recompute across adds, bulk ingest, patches, deletes, cascades, reopen") {
    val (e, lib, doc) = freshWithData("random_projection")
    def recomputed(eng: VectorEngine): Map[Long, Long] =
      eng.chunksDf.where(org.apache.spark.sql.functions.col("library_id") === lib)
        .groupBy("bucket").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e.bucketHistogram(lib) == recomputed(e))
    import spark.implicits._
    e.addChunksDf(lib, Seq(("h1", doc, "t", Seq(0f, 0f, 1f, 1f),
      Map.empty[String, String], 5))
      .toDF("id", "document_id", "text", "embedding", "metadata", "chunk_index"))
    assert(e.bucketHistogram(lib) == recomputed(e))
    e.patchChunk("c0", embedding = Some(vec(-1, 0, 0, 0))) // bucket moves
    assert(e.bucketHistogram(lib) == recomputed(e))
    e.deleteChunk("c1")
    assert(e.bucketHistogram(lib) == recomputed(e))
    // cascade delete: buckets not driver-known -> stale -> rebuilt on read
    val d2 = e.createDocument(lib, "d2")
    e.addChunk(d2.id, ChunkInput("x", vec(0, 1, 1, 0), id = Some("h2")))
    e.deleteDocument(d2.id)
    assert(e.bucketHistogram(lib) == recomputed(e))
    // persistence: reopened engine reads histograms.parquet, same map
    val dir = Files.tmp("graft-hist")
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    assert(e2.bucketHistogram(lib) == e.bucketHistogram(lib))
    assert(e2.bucketHistogram(lib) == recomputed(e2))
    // a flat library has no histogram
    val (ef, libF, _) = freshWithData("flat")
    assert(ef.bucketHistogram(libF).isEmpty)
    ivfHistogramMaintained()
  }

  private def histOf(e: VectorEngine, lib: String): Map[Long, Long] =
    libRows(e, lib).where(col("bucket").isNotNull).groupBy("bucket").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val twoCells = Seq(0L -> vec(1, 0, 0, 0), 1L -> vec(0, 0.5, 0.5, 0))

  /** The IVF cell histogram is the same maintained index metadata: built
    * by setIvfCentroids, equal to a recompute across adds, bulk ingest,
    * patches, deletes, cascades and a reopen; dropped by a kind flip. */
  private def ivfHistogramMaintained(): Unit = {
    import spark.implicits._
    val (e, lib, doc) = freshWithData("ivf")
    assert(e.bucketHistogram(lib).isEmpty, "no histogram before a model")
    e.setIvfCentroids(lib, twoCells)
    assert(e.bucketHistogram(lib) == Map(0L -> 2L, 1L -> 2L))
    assert(e.bucketHistogram(lib) == histOf(e, lib))
    e.addChunksDf(lib, Seq(("h1", doc, "t", Seq(0f, 0f, 1f, 1f),
      Map.empty[String, String], 5))
      .toDF("id", "document_id", "text", "embedding", "metadata", "chunk_index"))
    assert(e.bucketHistogram(lib) == histOf(e, lib))
    e.patchChunk("c0", embedding = Some(vec(0, 1, 1, 0))) // cell 0 -> cell 1
    assert(e.bucketHistogram(lib) == Map(0L -> 1L, 1L -> 4L))
    assert(e.bucketHistogram(lib) == histOf(e, lib))
    e.deleteChunk("c1")
    assert(e.bucketHistogram(lib) == histOf(e, lib))
    val d2 = e.createDocument(lib, "d2")
    e.addChunk(d2.id, ChunkInput("x", vec(1, 0.1, 0, 0), id = Some("h2")))
    e.deleteDocument(d2.id)
    assert(e.bucketHistogram(lib) == histOf(e, lib))
    val dir = Files.tmp("graft-ivf-hist")
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    assert(e2.bucketHistogram(lib) == e.bucketHistogram(lib))
    assert(e2.bucketHistogram(lib) == histOf(e2, lib))
    // a kind flip on the (emptied) library drops the histogram, so a flat
    // bulk ingest (null buckets) leaves it empty
    Seq("c2", "c3", "h1", "c0").foreach(e2.deleteChunk)
    e2.patchLibrary(lib, indexKind = Some(VectorEngine.IndexKindFlat))
    e2.addChunksDf(lib, Seq(("f1", doc, "t", Seq(1f, 0f, 0f, 0f),
      Map.empty[String, String], 0))
      .toDF("id", "document_id", "text", "embedding", "metadata", "chunk_index"))
    assert(e2.bucketHistogram(lib).isEmpty)
    e2.deleteChunk("f1")
    e2.patchLibrary(lib, indexKind = Some(VectorEngine.IndexKindIvf))
    assert(e2.bucketHistogram(lib).isEmpty, "flip back: no model, no histogram")
  }

  test("a state dir saved without IVF histogram rows reopens with the ivf " +
    "histogram stale: it equals a recompute and searches are unchanged") {
    import spark.implicits._
    val (e, lib, doc) = freshWithData("ivf")
    e.setIvfCentroids(lib, twoCells)
    e.addChunksBatch(doc, Seq(
      ChunkInput("e", vec(0, 1, 0.2, 0), id = Some("c4")),
      ChunkInput("f", vec(0, 0.2, 1, 0), id = Some("c5"))))
    // an lsh library beside it keeps histograms.parquet non-empty
    val lsh = e.createLibrary("l", dim = 4, indexKind = VectorEngine.IndexKindLsh)
    val ld = e.createDocument(lsh.id, "ld")
    e.addChunk(ld.id, ChunkInput("l", vec(1, 0, 0, 0), id = Some("l0")))
    val dir = Files.tmp("graft-ivf-hist-compat")
    e.save(dir)
    // rewrite the histogram table the way a build that kept histograms for
    // lsh libraries only wrote it
    val version = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("v")).sorted.last
    val histPath = s"$dir/$version/histograms.parquet"
    val lshOnly = spark.read.parquet(histPath).where(col("library_id") =!= lib)
      .as[(String, Long, Long)].collect().toSeq
    assert(lshOnly.nonEmpty && lshOnly.forall(_._1 == lsh.id))
    lshOnly.toDF("library_id", "bucket", "n").write.mode("overwrite").parquet(histPath)
    val e2 = VectorEngine.open(spark, dir)
    assert(e2.bucketHistogram(lib) == histOf(e2, lib))
    assert(e2.bucketHistogram(lib) == e.bucketHistogram(lib))
    assert(e2.bucketHistogram(lsh.id) == e.bucketHistogram(lsh.id))
    // the probe result differs from an exhaustive scan, so a search that
    // fell back on an empty histogram would show here
    val q = vec(0.6, 0.5, 0.5, 0)
    val probed = ranked(e.search(lib, q, 2, nprobeOpt = Some(1)))
    assert(probed != bruteForce(e, lib, q, 2))
    assert(ranked(e2.search(lib, q, 2, nprobeOpt = Some(1))) == probed)
  }

  test("filtered probes count candidates in the ALLOW-SET: probed buckets " +
    "holding >= k rows but < k matching ones fall back to the allow-set scan") {
    def library(kind: String): (VectorEngine, String) = {
      val e = VectorEngine.create(spark)
      val lib = e.createLibrary(kind, dim = 4, indexKind = kind,
        lshProjections = 4, lshSeed = 123L)
      if (kind == VectorEngine.IndexKindIvf)
        e.setIvfCentroids(lib.id, Seq(0L -> vec(1, 0, 0, 0), 1L -> vec(-1, 0, 0, 0)))
      val d = e.createDocument(lib.id, "d")
      // three rows in the query's own bucket, only one of them tagged "a";
      // the other "a" rows sit in the opposite bucket
      e.addChunksBatch(d.id, Seq(
        ChunkInput("x", vec(1, 0, 0, 0), Map("tag" -> "a"), 0, Some("x1")),
        ChunkInput("x", vec(1, 0, 0, 0), Map("tag" -> "b"), 1, Some("x2")),
        ChunkInput("x", vec(1, 0, 0, 0), Map("tag" -> "b"), 2, Some("x3")),
        ChunkInput("y", vec(-1, 0, 0, 0), Map("tag" -> "a"), 3, Some("y1")),
        ChunkInput("y", vec(-1, 0, 0, 0), Map("tag" -> "a"), 4, Some("y2"))))
      (e, lib.id)
    }
    val q = vec(1, 0, 0, 0)
    val f = Map[String, Any]("tag" -> "a")
    // brute force over the allow-set {x1, y1, y2}
    def allowSet(e: VectorEngine): Seq[(String, Double)] =
      ranked(e.chunksDf.where(col("id").isin("x1", "y1", "y2"))
        .select(col("id"), (round(graft.functions.VectorFunctions.distance("cosine")(
          col("embedding"), qvecLit(q)), 6) + lit(0.0d)).as("distance"))
        .orderBy(col("distance"), col("id")).limit(2))
    val (ei, ivf) = library(VectorEngine.IndexKindIvf)
    assert(ei.bucketHistogram(ivf)(0L) == 3L)
    assert(allowSet(ei).map(_._1) == Seq("x1", "y1"))
    assert(ranked(ei.search(ivf, q, 2, f, nprobeOpt = Some(1))) == allowSet(ei))
    val (el, lsh) = library(VectorEngine.IndexKindLsh)
    val qBucket = el.chunksDf.where(col("id") === "x1").head().getAs[Long]("bucket")
    assert(el.bucketHistogram(lsh)(qBucket) == 3L)
    assert(ranked(el.search(lsh, q, 2, f, probe = VectorEngine.ProbeSingle)) == allowSet(el))
  }

  test("adaptive search on a clean histogram launches ZERO Spark jobs " +
    "(the default probe path never aggregates the chunks table)") {
    val (e, lib, _) = freshWithData("random_projection")
    e.bucketHistogram(lib) // clean by construction; read it once anyway
    val (ei, libI, _) = freshWithData("ivf")
    ei.setIvfCentroids(libI, twoCells) // rebuilds the cell histogram
    val q = vec(1, 0, 0, 0)
    // every index kind and probe mode plans its probe from the histogram
    val inputs: Seq[(String, Map[String, Any] => DataFrame)] = Seq(
      "adaptive" -> (f => e.search(lib, q, 2, f)),
      "multi" -> (f => e.search(lib, q, 2, f, probe = VectorEngine.ProbeMulti)),
      "single" -> (f => e.search(lib, q, 2, f, probe = VectorEngine.ProbeSingle)),
      "ivf" -> (f => ei.search(libI, q, 2, f, nprobeOpt = Some(1))))
    inputs.foreach { case (name, run) =>
      val (df, jobs) = jobsOf(s"lazy-$name")(run(Map.empty))
      assert(jobs == 0, s"$name search launched $jobs jobs before collect")
      assert(df.collect().map(_.getString(0)).toSeq == Seq("c0", "c1"), name)
      // a filtered search runs ONE allow-set aggregate before collect (the
      // adaptive probe's bounded histogram, or the probed buckets' counts);
      // AQE materializes its stages as separate jobs, which measure as 2
      val (fdf, fjobs) = jobsOf(s"lazy-filtered-$name")(run(Map("tag" -> 1)))
      assert(fjobs <= 2, s"filtered $name search launched $fjobs jobs before collect")
      assert(fdf.collect().map(_.getString(0)).toSeq == Seq("c0", "c2"), name)
    }
  }

  test("a 2-query flat and a 2-query ivf searchBatch collect in at most " +
    "2 jobs (the scoring stage, then the merge collected by " +
    "TakeOrderedAndProject), equal to brute force") {
    val (e, lib, _) = freshWithData()
    val (ei, libI, _) = freshWithData("ivf")
    ei.setIvfCentroids(libI, twoCells)
    val qs = Seq(0L -> vec(1, 0, 0, 0), 1L -> vec(0, 0.9, 0.1, 0))
    Seq("flat" -> (e, lib), "ivf" -> (ei, libI)).foreach { case (name, (eng, l)) =>
      val (got, jobs) = jobsOf(s"batch-$name")(byQuery(eng.searchBatch(l, qs, 2)))
      assert(jobs <= 2, s"$name batch launched $jobs jobs")
      qs.foreach { case (qid, q) =>
        assert(got(qid) == bruteForce(eng, l, q, 2), s"$name query=$qid")
      }
    }
  }

  test("facade exposes the adaptive probe budget: a larger multiplier " +
    "probes a superset; a saturating one equals flat search; guards") {
    val (e, lib, _) = freshWithData("random_projection")
    val q = vec(0.9, 0.05, 0, 0)
    val d1 = e.search(lib, q, 1, adaptiveMultiplier = 1).collect().head.getDouble(1)
    val d4 = e.search(lib, q, 1, adaptiveMultiplier = 4).collect().head.getDouble(1)
    assert(d4 <= d1) // superset probe can only improve the top-1
    val (ef, libF, _) = freshWithData("flat")
    assert(e.search(lib, q, 3, adaptiveMultiplier = 1000).collect().toSeq ==
      ef.search(libF, q, 3).collect().toSeq)
    intercept[SearchError] { e.search(lib, q, 1, adaptiveMultiplier = 0) }
    intercept[SearchError] { e.searchBatch(lib, Seq(0L -> q), 1, adaptiveMultiplier = -1) }
    // batch parity at a non-default budget
    val batch = e.searchBatch(lib, Seq(0L -> q), 2, adaptiveMultiplier = 2).collect()
      .map(r => (r.getString(1), r.getDouble(2))).toSeq
    assert(batch == lshAdaptive(e, lib, q, 2, multiplier = 2))
  }

  test("sq8 storage library: create/patch guards, codes derived at ingest " +
    "(single-row twin == bulk plan), two-phase search == flat search, " +
    "batch parity, patch recompute, persistence round-trip") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = VectorEngine.create(spark)
    // create-time invariants
    intercept[ValidationError] { e.createLibrary("s", 4, storage = "sq4") }
    intercept[ValidationError] {
      e.createLibrary("s", 4, metric = "euclidean",
        indexKind = VectorEngine.IndexKindLsh, storage = VectorEngine.StorageSq8)
    }
    val lib = e.createLibrary("s", dim = 4, metric = "euclidean",
      storage = VectorEngine.StorageSq8)
    // patches must preserve the sq8 invariants (metric changes are FINE:
    // codes encode the raw vector, independent of metric)
    intercept[ValidationError] {
      e.patchLibrary(lib.id, indexKind = Some(VectorEngine.IndexKindLsh))
    }
    val doc = e.createDocument(lib.id, "doc")
    // single-row adds derive codes via the driver twin...
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("a", vec(1, 0, 0, 0), Map.empty, 0, Some("c0")),
      ChunkInput("b", vec(0.9, 0.1, 0, 0), Map.empty, 1, Some("c1")),
      ChunkInput("c", vec(0, 1, 0, 0), Map.empty, 2, Some("c2"))))
    // ...bulk ingest derives them inside the plan: same embedding, same codes
    e.addChunksDf(lib.id,
      Seq(("c3", doc.id, "d", vec(1, 0, 0, 0), Map.empty[String, String], 3))
        .toDF("id", "document_id", "text", "embedding", "metadata", "chunk_index"))
    val byId = e.chunksDf.select("id", "qmin", "qmax", "codes").collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getSeq[Int](3).toSeq)).toMap
    assert(byId("c0") == byId("c3"), "single-row twin != bulk plan codes")
    assert(byId.values.forall(_._3.forall(c => c >= 0 && c <= 255)))
    // two-phase search == flat euclidean search (R saturates at this size)
    val ef = VectorEngine.create(spark)
    val libF = ef.createLibrary("f", dim = 4, metric = "euclidean")
    val docF = ef.createDocument(libF.id, "doc")
    ef.addChunksBatch(docF.id, Seq(
      ChunkInput("a", vec(1, 0, 0, 0), Map.empty, 0, Some("c0")),
      ChunkInput("b", vec(0.9, 0.1, 0, 0), Map.empty, 1, Some("c1")),
      ChunkInput("c", vec(0, 1, 0, 0), Map.empty, 2, Some("c2")),
      ChunkInput("d", vec(1, 0, 0, 0), Map.empty, 3, Some("c3"))))
    val q = vec(0.95, 0.05, 0, 0)
    assert(e.search(lib.id, q, 4).collect().toSeq ==
      ef.search(libF.id, q, 4).collect().toSeq)
    intercept[SearchError] { e.search(lib.id, q, 2, rescoreOpt = Some(0)) }
    // batch == the operator-level two-phase search per query
    val qs = Seq(0L -> q, 1L -> vec(0, 1, 0, 0))
    val batch = byQuery(e.searchBatch(lib.id, qs, k = 2))
    qs.foreach { case (qid, qv) =>
      val one = ranked(graft.operators.Quantization.search(libRows(e, lib.id),
        "embedding", "id", qv.toArray, 2, VectorEngine.DefaultSq8Rescore, "euclidean"))
      assert(batch(qid) == one, s"sq8 batch query=$qid")
    }
    // patching the embedding recomputes the codes
    e.patchChunk("c2", embedding = Some(vec(2, 0, 0, 0)))
    val patched = e.getChunk("c2")
    assert(patched.qmin.contains(0.0d) && patched.qmax.contains(2.0d))
    assert(patched.codes.map(_.toSeq).contains(Seq(255, 0, 0, 0)))
    // persistence: codes ride the chunks parquet; reopened search identical
    val dir = Files.tmp("graft-sq8")
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    assert(e2.getLibrary(lib.id).storage == VectorEngine.StorageSq8)
    assert(e2.search(lib.id, q, 4).collect().toSeq ==
      e.search(lib.id, q, 4).collect().toSeq)
    // a float32 library's all-null code columns round-trip through the
    // partitioned chunks parquet
    val (eOld, libOld, _) = freshWithData("flat")
    val dirOld = Files.tmp("graft-float32")
    eOld.save(dirOld)
    assert(VectorEngine.open(spark, dirOld)
      .search(libOld, vec(1, 0, 0, 0), 2).count() == 2)
  }

  test("bq storage library: create/patch guards (cosine-only, no lsh), " +
    "sign words derived at ingest (single-row twin == bulk plan), " +
    "two-phase search == flat search, batch parity, ivf funnel, " +
    "patch recompute, persistence round-trip") {
    import spark.implicits._
    val e = VectorEngine.create(spark)
    // create-time invariants: cosine only, flat/ivf only
    intercept[ValidationError] {
      e.createLibrary("b", 4, metric = "euclidean",
        storage = VectorEngine.StorageBq)
    }
    intercept[ValidationError] {
      e.createLibrary("b", 4, metric = "dot_product",
        storage = VectorEngine.StorageBq)
    }
    intercept[ValidationError] {
      e.createLibrary("b", 4, indexKind = VectorEngine.IndexKindLsh,
        storage = VectorEngine.StorageBq)
    }
    val lib = e.createLibrary("b", dim = 4, storage = VectorEngine.StorageBq)
    intercept[ValidationError] {
      e.patchLibrary(lib.id, indexKind = Some(VectorEngine.IndexKindLsh))
    }
    intercept[ValidationError] {
      e.patchLibrary(lib.id, metric = Some("euclidean"))
    }
    val doc = e.createDocument(lib.id, "doc")
    // single-row adds pack via the driver twin...
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("a", vec(1, 0, 0, 0), Map.empty, 0, Some("c0")),
      ChunkInput("b", vec(0.9, 0.1, 0, 0), Map.empty, 1, Some("c1")),
      ChunkInput("c", vec(-1, 1, 0, 0), Map.empty, 2, Some("c2"))))
    // ...bulk ingest packs inside the plan: same embedding, same words
    e.addChunksDf(lib.id,
      Seq(("c3", doc.id, "d", vec(1, 0, 0, 0), Map.empty[String, String], 3))
        .toDF("id", "document_id", "text", "embedding", "metadata", "chunk_index"))
    val byId = e.chunksDf.select("id", "codes").collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(byId("c0") == byId("c3"), "single-row twin != bulk plan words")
    // dim 4 packs one 31-bit word, MSB-first: bit for dim d at 2^(30-d)
    assert(byId("c0") == Seq(1 << 30))
    assert(byId("c2") == Seq(1 << 29))
    // two-phase search == flat cosine search (R saturates at this size)
    val ef = VectorEngine.create(spark)
    val libF = ef.createLibrary("f", dim = 4)
    val docF = ef.createDocument(libF.id, "doc")
    ef.addChunksBatch(docF.id, Seq(
      ChunkInput("a", vec(1, 0, 0, 0), Map.empty, 0, Some("c0")),
      ChunkInput("b", vec(0.9, 0.1, 0, 0), Map.empty, 1, Some("c1")),
      ChunkInput("c", vec(-1, 1, 0, 0), Map.empty, 2, Some("c2")),
      ChunkInput("d", vec(1, 0, 0, 0), Map.empty, 3, Some("c3"))))
    val q = vec(0.95, 0.05, 0, 0)
    assert(e.search(lib.id, q, 4).collect().toSeq ==
      ef.search(libF.id, q, 4).collect().toSeq)
    intercept[SearchError] { e.search(lib.id, q, 2, rescoreOpt = Some(0)) }
    // batch == the operator-level two-phase search per query
    val qs = Seq(0L -> q, 1L -> vec(-0.5, 1, 0, 0))
    val batch = byQuery(e.searchBatch(lib.id, qs, k = 2))
    qs.foreach { case (qid, qv) =>
      val one = ranked(graft.operators.BinaryQuantization.searchStored(
        libRows(e, lib.id), "embedding", "id", qv.toArray, 2,
        VectorEngine.DefaultBqRescore, "cosine"))
      assert(batch(qid) == one, s"bq batch query=$qid")
    }
    // patching the embedding recomputes the packed words
    e.patchChunk("c2", embedding = Some(vec(2, 0, 0, 0)))
    assert(e.getChunk("c2").codes.map(_.toSeq).contains(Seq(1 << 30)))
    // ivf x bq: the full funnel composes (cell prune -> Hamming cut ->
    // exact rescore), exact at this size through the < k fallback
    val ei = VectorEngine.create(spark)
    val libI = ei.createLibrary("i", dim = 4,
      indexKind = VectorEngine.IndexKindIvf, storage = VectorEngine.StorageBq)
    ei.setIvfCentroids(libI.id, Seq(0L -> vec(1, 0, 0, 0), 1L -> vec(0, 1, 0, 0)))
    val docI = ei.createDocument(libI.id, "doc")
    ei.addChunksBatch(docI.id, Seq(
      ChunkInput("a", vec(1, 0, 0, 0), Map.empty, 0, Some("c0")),
      ChunkInput("b", vec(0.9, 0.1, 0, 0), Map.empty, 1, Some("c1")),
      ChunkInput("c", vec(-1, 1, 0, 0), Map.empty, 2, Some("c2"))))
    assert(ei.search(libI.id, q, 3).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      ef.search(libF.id, q, 4).collect()
        .map(r => (r.getString(0), r.getDouble(1)))
        .filter(_._1 != "c3").toSeq)
    // persistence: packed words ride the chunks parquet; reopened
    // search identical and the storage kind survives
    val dir = Files.tmp("graft-bq")
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    assert(e2.getLibrary(lib.id).storage == VectorEngine.StorageBq)
    assert(e2.search(lib.id, q, 4).collect().toSeq ==
      e.search(lib.id, q, 4).collect().toSeq)
  }

  test("sq8 storage under the cosine (default) and dot_product metrics: " +
    "two-phase search == flat search, batch parity, metric patch allowed") {
    def populate(e: VectorEngine, lib: String): Unit = {
      val doc = e.createDocument(lib, "doc")
      e.addChunksBatch(doc.id, Seq(
        ChunkInput("a", vec(1, 0, 0, 0), Map.empty, 0, Some("c0")),
        ChunkInput("b", vec(0.9, 0.1, 0, 0), Map.empty, 1, Some("c1")),
        ChunkInput("c", vec(0, 1, 0, 0), Map.empty, 2, Some("c2")),
        ChunkInput("d", vec(0.5, 0.5, 0.5, 0.5), Map.empty, 3, Some("c3")),
        ChunkInput("e", vec(2, 0, 0, 0), Map.empty, 4, Some("c4"))))
    }
    val q = vec(0.95, 0.05, 0, 0)
    for (metric <- Seq("cosine", "dot_product")) {
      val e = VectorEngine.create(spark)
      // the reference's DEFAULT metric must accept the compact storage path
      val lib = e.createLibrary("s", dim = 4, metric = metric,
        storage = VectorEngine.StorageSq8)
      populate(e, lib.id)
      val ef = VectorEngine.create(spark)
      val libF = ef.createLibrary("f", dim = 4, metric = metric)
      populate(ef, libF.id)
      // R saturates at this size, so two-phase must equal the flat scan
      assert(e.search(lib.id, q, 5).collect().toSeq ==
        ef.search(libF.id, q, 5).collect().toSeq, s"metric=$metric")
      // batch == the operator-level two-phase search per query
      val qs = Seq(0L -> q, 1L -> vec(0, 1, 0, 0))
      val batch = byQuery(e.searchBatch(lib.id, qs, k = 3))
      qs.foreach { case (qid, qv) =>
        val one = ranked(graft.operators.Quantization.search(libRows(e, lib.id),
          "embedding", "id", qv.toArray, 3, VectorEngine.DefaultSq8Rescore, metric))
        assert(batch(qid) == one, s"sq8 batch metric=$metric query=$qid")
      }
      // a metric change on an sq8 library is allowed (codes are raw-vector)
      e.patchLibrary(lib.id, metric = Some("euclidean"))
      assert(e.search(lib.id, q, 1).collect().nonEmpty)
    }
  }

  test("no-arg save() after open(spark, dir) writes back to the OPENED " +
    "dir, not the global default state dir") {
    val (e, lib, doc) = freshWithData()
    val dir = graft.operators.Scratch.newDir("saveback").toString
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    val d2 = e2.listDocuments(lib).items.head.id
    e2.addChunksBatch(d2, Seq(
      ChunkInput("late", vec(0.5, 0.5, 0, 0), Map.empty, 9, Some("c9"))))
    e2.save() // must persist into `dir` — the directory the state came from
    val e3 = VectorEngine.open(spark, dir)
    assert(e3.chunkCount(lib) == 5)
    assert(e3.getChunk("c9").text == "late")
    assert(doc == d2)
  }

  test("pq storage library: create/patch guards, codebooks before ingest, " +
    "single == bulk codes, search after save/reopen, batch == single") {
    import spark.implicits._
    val e = VectorEngine.create(spark)
    // guards: flat/ivf-only, codebooks required pre-ingest (all three
    // metrics are supported since the dot/cosine ADC landed)
    intercept[ValidationError] {
      e.createLibrary("bad", dim = 4, metric = "euclidean",
        indexKind = "random_projection", storage = "pq")
    }
    val lib = e.createLibrary("pqlib", dim = 4, metric = "euclidean",
      storage = "pq", id = Some("pql"))
    val doc = e.createDocument("pql", "pqdoc")
    intercept[ValidationError] {
      e.addChunksBatch(doc.id, Seq(
        ChunkInput("x", vec(1, 0, 0, 0), Map.empty, 0, Some("px"))))
    }
    // 2 subspaces x 2 centroids over dim 4
    val cb = Seq(
      (0, 0L, Seq(1.0f, 0.0f)), (0, 1L, Seq(0.0f, 1.0f)),
      (1, 0L, Seq(1.0f, 0.0f)), (1, 1L, Seq(0.0f, 1.0f)))
    e.setPqCodebooks("pql", cb)
    // a metric change is fine for pq, like sq8: codes are the L2-argmin
    // encoding of the raw vector (metric-independent) and the stored qmin
    // norm serves the cosine denominator — flip it and flip it back
    e.patchLibrary("pql", metric = Some("cosine"))
    e.patchLibrary("pql", metric = Some("euclidean"))
    // one chunk singly, three in bulk — codes must agree path-to-path
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("a", vec(1, 0, 1, 0), Map.empty, 0, Some("p0"))))
    e.addChunksDf("pql", Seq(
      ("p1", doc.id, "b", Seq(0.9f, 0.1f, 0.9f, 0.1f),
        Map.empty[String, String], 1),
      ("p2", doc.id, "c", Seq(0f, 1f, 0f, 1f),
        Map.empty[String, String], 2),
      ("p3", doc.id, "d", Seq(0.1f, 0.9f, 0.2f, 0.8f),
        Map.empty[String, String], 3))
      .toDF("id", "document_id", "text", "embedding", "metadata", "chunk_index"))
    val codes = e.chunksDf.select($"id", $"codes")
      .as[(String, Seq[Int])].collect().toMap
    assert(codes("p0") == Seq(0, 0) && codes("p1") == Seq(0, 0))
    assert(codes("p2") == Seq(1, 1) && codes("p3") == Seq(1, 1))
    // save -> reopen -> search: codebooks persist as index metadata and
    // the funnel (ADC over stored codes + exact rescore) still ranks
    val state = graft.operators.Scratch.newDir("pq-life").toString
    e.save(state)
    val e2 = VectorEngine.open(spark, state)
    val got = e2.search("pql", Seq(1f, 0f, 1f, 0f), k = 2).collect()
      .map(_.getString(0)).toSeq
    assert(got == Seq("p0", "p1"))
    // batch search is bit-identical to the operator-level ADC search
    val qs = Seq(0L -> Seq(1f, 0f, 1f, 0f), 1L -> Seq(0f, 1f, 0f, 1f))
    val batch = byQuery(e2.searchBatch("pql", qs, k = 2))
    qs.foreach { case (qid, q) =>
      val one = ranked(ProductQuantization.search(libRows(e2, "pql"), "embedding",
        "id", pqModel(cb), q.toArray, 2, VectorEngine.DefaultPqRescore,
        metric = "euclidean", codesCol = "codes", normCol = Some("qmin")))
      assert(batch(qid) == one, s"pq batch query=$qid")
    }
  }

  test("pq storage under cosine and dot_product: stored qmin norm, " +
    "exact agreement with a float32 twin at saturating rescore, " +
    "batch == single, save/reopen keeps the norm") {
    import spark.implicits._
    Seq("cosine", "dot_product").foreach { metric =>
      val e = VectorEngine.create(spark)
      val cb = Seq(
        (0, 0L, Seq(1.0f, 0.0f)), (0, 1L, Seq(0.0f, 1.0f)),
        (1, 0L, Seq(1.0f, 0.0f)), (1, 1L, Seq(0.0f, 1.0f)))
      e.createLibrary("pqm", dim = 4, metric = metric,
        storage = "pq", id = Some("pqm"))
      e.setPqCodebooks("pqm", cb)
      // float32 twin library: same rows, flat storage, same metric
      e.createLibrary("flatm", dim = 4, metric = metric, id = Some("flatm"))
      val doc = e.createDocument("pqm", "d")
      val docF = e.createDocument("flatm", "df")
      val rows = Seq(
        ("m0", Seq(1f, 0f, 1f, 0f)), ("m1", Seq(0.9f, 0.1f, 0.9f, 0.1f)),
        ("m2", Seq(0f, 1f, 0f, 1f)), ("m3", Seq(0.1f, 0.9f, 0.2f, 0.8f)))
      e.addChunksBatch(doc.id, rows.map { case (id, v) =>
        ChunkInput(id, v, Map.empty, 0, Some(id)) })
      e.addChunksBatch(docF.id, rows.map { case (id, v) =>
        ChunkInput(id, v, Map.empty, 0, Some("f" + id)) })
      // the pq rows carry the stored L2 norm in qmin (cosine denominator)
      val norms = e.chunksDf.where($"library_id" === "pqm")
        .select($"id", $"qmin").as[(String, Option[Double])].collect().toMap
      rows.foreach { case (id, v) =>
        assert(norms(id).contains(
          graft.operators.ProductQuantization.normLocal(v)))
      }
      val state = graft.operators.Scratch.newDir(s"pq-$metric").toString
      e.save(state)
      val e2 = VectorEngine.open(spark, state)
      val q = Seq(1f, 0f, 0.9f, 0.1f)
      // at rescore >= n the funnel's exact phase sees every row: the pq
      // result must EQUAL the float32 twin's (ids modulo the f prefix)
      val pq = e2.search("pqm", q, k = 4, rescoreOpt = Some(10)).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val flat = e2.search("flatm", q, k = 4, rescoreOpt = Some(10)).collect()
        .map(r => (r.getString(0).stripPrefix("f"), r.getDouble(1))).toSeq
      assert(pq == flat, s"$metric pq != flat twin")
      // batch search is bit-identical to the operator-level ADC search
      val qs = Seq(0L -> q, 1L -> Seq(0f, 1f, 0f, 1f))
      val batch = byQuery(e2.searchBatch("pqm", qs, k = 3))
      qs.foreach { case (qid, qq) =>
        val one = ranked(ProductQuantization.search(libRows(e2, "pqm"), "embedding",
          "id", pqModel(cb), qq.toArray, 3, VectorEngine.DefaultPqRescore,
          metric = metric, codesCol = "codes", normCol = Some("qmin")))
        assert(batch(qid) == one, s"$metric batch != operator query=$qid")
      }
    }
  }

  test("ivf+pq residual codes: single == bulk == local twin, centroid " +
    "(re)install re-bases stored codes, reopened funnel search agrees") {
    import spark.implicits._
    val e = VectorEngine.create(spark)
    e.createLibrary("ivfpq", dim = 4, metric = "euclidean",
      indexKind = "ivf", storage = "pq", id = Some("ivfpq"))
    val cents = Seq(0L -> Seq(1.0f, 0.0f, 1.0f, 0.0f),
      1L -> Seq(0.0f, 1.0f, 0.0f, 1.0f))
    e.setIvfCentroids("ivfpq", cents)
    val cb = Seq(
      (0, 0L, Seq(0.1f, 0.0f)), (0, 1L, Seq(-0.1f, 0.1f)),
      (1, 0L, Seq(0.1f, 0.0f)), (1, 1L, Seq(-0.1f, 0.1f)))
    e.setPqCodebooks("ivfpq", cb)
    val doc = e.createDocument("ivfpq", "d")
    // one chunk singly, two in bulk
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("a", vec(0.9f, 0.1f, 1.1f, 0.0f), Map.empty, 0, Some("r0"))))
    e.addChunksDf("ivfpq", Seq(
      ("r1", doc.id, "b", Seq(1.1f, -0.1f, 0.9f, 0.1f),
        Map.empty[String, String], 1),
      ("r2", doc.id, "c", Seq(0.1f, 0.9f, -0.1f, 1.0f),
        Map.empty[String, String], 2))
      .toDF("id", "document_id", "text", "embedding", "metadata", "chunk_index"))
    // stored codes must equal the residual local twin for EVERY row,
    // whichever ingest path wrote it
    val csModel = cents.map { case (id, v) =>
      graft.operators.IvfIndex.Centroid(id, v.toArray) }
    def expectCodes(): Unit = {
      val rows = e.chunksDf.where($"library_id" === "ivfpq")
        .select($"id", $"embedding", $"bucket", $"codes")
        .as[(String, Seq[Float], Option[Long], Seq[Int])].collect()
      assert(rows.nonEmpty)
      val model = Seq(
        Seq(graft.operators.IvfIndex.Centroid(0L, Array(0.1f, 0.0f)),
          graft.operators.IvfIndex.Centroid(1L, Array(-0.1f, 0.1f))),
        Seq(graft.operators.IvfIndex.Centroid(0L, Array(0.1f, 0.0f)),
          graft.operators.IvfIndex.Centroid(1L, Array(-0.1f, 0.1f))))
      rows.foreach { case (_, v, bucket, codes) =>
        val resid = graft.operators.ProductQuantization.residualLocal(
          csModel, bucket.get, v)
        assert(codes ==
          graft.operators.ProductQuantization.encodeLocal(model, resid))
      }
    }
    expectCodes()
    // a centroid RE-install moves the cells -> every residual re-bases
    e.setIvfCentroids("ivfpq", Seq(0L -> Seq(1.0f, 0.0f, 0.9f, 0.1f),
      1L -> Seq(0.1f, 1.0f, 0.0f, 0.9f)))
    val rebased = e.chunksDf.where($"library_id" === "ivfpq")
      .select($"id", $"embedding", $"bucket", $"codes")
      .as[(String, Seq[Float], Option[Long], Seq[Int])].collect()
    val cs2 = Seq(
      graft.operators.IvfIndex.Centroid(0L, Array(1.0f, 0.0f, 0.9f, 0.1f)),
      graft.operators.IvfIndex.Centroid(1L, Array(0.1f, 1.0f, 0.0f, 0.9f)))
    val model2 = Seq(
      Seq(graft.operators.IvfIndex.Centroid(0L, Array(0.1f, 0.0f)),
        graft.operators.IvfIndex.Centroid(1L, Array(-0.1f, 0.1f))),
      Seq(graft.operators.IvfIndex.Centroid(0L, Array(0.1f, 0.0f)),
        graft.operators.IvfIndex.Centroid(1L, Array(-0.1f, 0.1f))))
    rebased.foreach { case (_, v, bucket, codes) =>
      val resid = graft.operators.ProductQuantization.residualLocal(
        cs2, bucket.get, v)
      assert(codes ==
        graft.operators.ProductQuantization.encodeLocal(model2, resid))
    }
    // save -> reopen -> funnel search; and batch == single
    val state = graft.operators.Scratch.newDir("ivfpq-resid").toString
    e.save(state)
    val e2 = VectorEngine.open(spark, state)
    val q = Seq(1f, 0f, 1f, 0f)
    val got = e2.search("ivfpq", q, k = 3).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val expected = e.search("ivfpq", q, k = 3).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == expected)
    // batch == the operator-level residual ADC search; the default nprobe
    // (6) covers both cells, so no query falls back
    val qs = Seq(0L -> q, 1L -> Seq(0f, 1f, 0f, 1f))
    val batch = byQuery(e2.searchBatch("ivfpq", qs, k = 2))
    qs.foreach { case (qid, qq) =>
      val one = ranked(ProductQuantization.searchResidual(libRows(e2, "ivfpq"),
        "embedding", "id", model2, cs2, cs2.map(_.id), qq.toArray, 2,
        VectorEngine.DefaultIvfPqRescore, metric = "euclidean", codesCol = "codes",
        cellCol = "bucket", normCol = Some("qmin")))
      assert(batch(qid) == one, s"ivfpq batch query=$qid")
    }
  }

  test("trainPqCodebooks on a residual (ivf+centroids) library trains on " +
    "RESIDUALS: codebooks live in the near-zero residual cloud even when " +
    "the raw vectors sit far from the origin") {
    val e = VectorEngine.create(spark)
    e.createLibrary("respq", dim = 4, metric = "euclidean",
      indexKind = "ivf", storage = "pq", id = Some("respq"))
    // two clusters far from the origin; centroids on the clusters
    e.setIvfCentroids("respq", Seq(
      0L -> Seq(5.0f, 5.0f, 5.0f, 5.0f), 1L -> Seq(-5.0f, -5.0f, -5.0f, -5.0f)))
    // bootstrap codebooks so ingest can derive codes (re-trained below)
    e.setPqCodebooks("respq", Seq(
      (0, 0L, Seq(0.0f, 0.0f)), (0, 1L, Seq(1.0f, 1.0f)),
      (1, 0L, Seq(0.0f, 0.0f)), (1, 1L, Seq(1.0f, 1.0f))))
    val doc = e.createDocument("respq", "d")
    val rng = new scala.util.Random(7L)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 5.0f else -5.0f
      ChunkInput(s"t$i", Seq.fill(4)(base + rng.nextFloat() * 0.5f - 0.25f),
        Map.empty, i, Some(s"rc$i"))
    }
    e.addChunksBatch(doc.id, rows)
    val trained = e.trainPqCodebooks("respq", numSub = 2, k = 2)
    // residual-trained centroids quantize v - centroid(cell), a cloud
    // within ~0.3 of the origin — raw-trained ones would sit near ±5
    trained.foreach { case (_, _, v) =>
      assert(v.forall(x => math.abs(x) < 1.0f),
        s"codebook entry $v is in raw-vector space, not residual space")
    }
  }

  test("pq storage lifecycle edges: text-only patch keeps codes, delete " +
    "drops codebooks, non-contiguous cids rejected, dim patch invalidates") {
    import spark.implicits._
    val e = VectorEngine.create(spark)
    val cb = Seq(
      (0, 0L, Seq(1.0f, 0.0f)), (0, 1L, Seq(0.0f, 1.0f)),
      (1, 0L, Seq(1.0f, 0.0f)), (1, 1L, Seq(0.0f, 1.0f)))
    val lib = e.createLibrary("pq2", dim = 4, metric = "euclidean",
      storage = "pq", id = Some("pq2"))
    // codes are positional LUT indexes: ids must be exactly 0..K-1
    intercept[ValidationError] {
      e.setPqCodebooks("pq2", Seq(
        (0, 10L, Seq(1.0f, 0.0f)), (0, 20L, Seq(0.0f, 1.0f)),
        (1, 10L, Seq(1.0f, 0.0f)), (1, 20L, Seq(0.0f, 1.0f))))
    }
    e.setPqCodebooks("pq2", cb)
    val doc = e.createDocument("pq2", "d")
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("a", vec(1, 0, 1, 0), Map.empty, 0, Some("q0"))))
    // a text-only patch must NOT wipe the stored codes to null
    e.patchChunk("q0", text = Some("renamed"))
    assert(e.getChunk("q0").codes.contains(Seq(0, 0)))
    // an embedding patch re-derives them
    e.patchChunk("q0", embedding = Some(vec(0, 1, 0, 1)))
    assert(e.getChunk("q0").codes.contains(Seq(1, 1)))
    // dim patch on the (now emptied) library drops the codebooks: the
    // next ingest must demand a re-install, not silently mis-encode
    e.deleteChunk("q0")
    e.patchLibrary("pq2", dim = Some(8))
    intercept[ValidationError] {
      e.addChunksBatch(doc.id, Seq(
        ChunkInput("b", vec(1, 0, 1, 0, 1, 0, 1, 0), Map.empty, 0, Some("q1"))))
    }
    // delete must drop the codebooks with the library — a recreated
    // library with the same id starts from "no codebooks installed"
    e.deleteLibrary("pq2")
    e.createLibrary("pq2b", dim = 4, metric = "euclidean",
      storage = "pq", id = Some("pq2"))
    val doc2 = e.createDocument("pq2", "d2")
    intercept[ValidationError] {
      e.addChunksBatch(doc2.id, Seq(
        ChunkInput("c", vec(1, 0, 1, 0), Map.empty, 0, Some("q2"))))
    }
    assert(lib.id == "pq2")
  }

  test("nearDuplicates: stored-bucket blocking gates an arriving batch " +
    "(copies found at 0.0, scaled copies too); kind/dim/threshold guards") {
    import spark.implicits._
    val (e, lib, _) = freshWithData("random_projection")
    val batch = Seq(
      ("b0", Seq(1.0f, 0.0f, 0.0f, 0.0f)),  // exact copy of c0
      ("b1", Seq(0.0f, 0.0f, 0.0f, 1.0f))   // orthogonal to every chunk
    ).toDF("id", "embedding")
    val got = e.nearDuplicates(lib, batch, threshold = 0.05)
      .select("batch_id", "chunk_id", "distance")
      .as[(String, String, Double)].collect()
    assert(got.exists(r => r._1 == "b0" && r._2 == "c0" && r._3 == 0.0d))
    assert(!got.exists(_._1 == "b1"), "orthogonal vector is not a near-dup")
    // cosine contract: a SCALED copy is the same content
    val scaled = Seq(("b2", Seq(2.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "embedding")
    val got2 = e.nearDuplicates(lib, scaled, threshold = 0.0)
      .select("batch_id", "chunk_id", "distance")
      .as[(String, String, Double)].collect()
    assert(got2.exists(r => r._1 == "b2" && r._2 == "c0" && r._3 == 0.0d))
    intercept[SearchError] { e.nearDuplicates(lib, batch, threshold = -0.1) }
    val (ef, libF, _) = freshWithData("flat")
    intercept[SearchError] { ef.nearDuplicates(libF, batch, threshold = 0.5) }
    intercept[ValidationError] {
      e.nearDuplicates(lib, Seq(("x", Seq(1.0f, 0.0f))).toDF("id", "embedding"),
        threshold = 0.5)
    }
  }

  test("bulk-ingest histogram derives from the MATERIALIZED batch: a " +
    "non-deterministic input df cannot desync it from the stored table") {
    import org.apache.spark.sql.functions._
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("nd", dim = 4,
      indexKind = VectorEngine.IndexKindLsh, lshProjections = 4, lshSeed = 123L)
    val doc = e.createDocument(lib.id, "d")
    // genuinely non-deterministic across EXECUTIONS (rand() re-seeds per
    // plan, not per action — a closure-backed UDF does not)
    val nd = udf(() => scala.util.Random.nextFloat() * 2f - 1f)
      .asNondeterministic()
    val df = spark.range(64).select(
      concat(lit("nd"), col("id")).as("id"),
      lit(doc.id).as("document_id"),
      lit("x").as("text"),
      array((0 until 4).map(_ => nd()): _*).as("embedding"),
      typedLit(Map.empty[String, String]).as("metadata"),
      col("id").cast("int").as("chunk_index"))
    e.addChunksDf(lib.id, df)
    val stored = e.chunksDf
      .where(col("library_id") === lib.id)
      .groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e.bucketHistogram(lib.id) == stored,
      "histogram desynced from the materialized chunks table")
  }

  test("index-kind flip on an empty pq library drops the installed " +
    "models: residual-trained codebooks must not raw-encode the next " +
    "ingest") {
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("pq", dim = 4, indexKind = "ivf",
      storage = VectorEngine.StoragePq)
    e.setIvfCentroids(lib.id, Seq(0L -> vec(1, 0, 0, 0), 1L -> vec(0, 1, 0, 0)))
    // residual codebooks (trained-for-ivf shape): 2 subspaces of dim 2
    e.setPqCodebooks(lib.id, Seq(
      (0, 0L, vec(0, 0)), (0, 1L, vec(0.1, 0.1)),
      (1, 0L, vec(0, 0)), (1, 1L, vec(0.1, 0.1))))
    val doc = e.createDocument(lib.id, "d")
    // flip to flat while empty: BOTH models are stale for the new kind
    e.patchLibrary(lib.id, indexKind = Some("flat"))
    val err = intercept[ValidationError] {
      e.addChunk(doc.id, ChunkInput("x", vec(1, 0, 0, 0)))
    }
    assert(err.getMessage.contains("install PQ codebooks"))
    // flipping back to ivf resurrects nothing either
    e.patchLibrary(lib.id, indexKind = Some("ivf"))
    intercept[ValidationError] {
      e.addChunk(doc.id, ChunkInput("x", vec(1, 0, 0, 0)))
    }
    // re-install → ingest works again
    e.setPqCodebooks(lib.id, Seq(
      (0, 0L, vec(0, 0)), (0, 1L, vec(1, 0)),
      (1, 0L, vec(0, 0)), (1, 1L, vec(1, 0))))
    assert(e.addChunk(doc.id, ChunkInput("x", vec(1, 0, 0, 0))).codes.nonEmpty)
  }

  test("trainPqCodebooks accepts iters = 0 (init-only fit, the operator " +
    "contract) and still rejects negatives") {
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("pq0", dim = 4, storage = VectorEngine.StoragePq)
    val doc = e.createDocument(lib.id, "d")
    // ingest needs codebooks first; install trivial ones
    e.setPqCodebooks(lib.id, Seq(
      (0, 0L, vec(0, 0)), (0, 1L, vec(1, 1)),
      (1, 0L, vec(0, 0)), (1, 1L, vec(1, 1))))
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("a", vec(1, 0, 0, 0), id = Some("p0")),
      ChunkInput("b", vec(0, 1, 1, 0), id = Some("p1")),
      ChunkInput("c", vec(0, 0, 1, 1), id = Some("p2"))))
    val rows = e.trainPqCodebooks(lib.id, numSub = 2, k = 2, iters = 0)
    assert(rows.nonEmpty)
    intercept[ValidationError] {
      e.trainPqCodebooks(lib.id, numSub = 2, k = 2, iters = -1)
    }
  }

  test("searchHybrid: the metadata filter composes with BOTH rankers and " +
    "a chunk winning both legs fuses to the top") {
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("hy", dim = 4)
    val doc = e.createDocument(lib.id, "doc")
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("apple pie recipe", vec(1, 0, 0, 0), Map("lang" -> "en"), 0, Some("h0")),
      // h1 matches the lexical term AND sits nearest the query vector —
      // the filter must exclude it from BOTH legs, not just the output
      ChunkInput("apple tart", vec(1, 0, 0, 0), Map("lang" -> "fr"), 1, Some("h1")),
      ChunkInput("banana bread", vec(0, 1, 0, 0), Map("lang" -> "en"), 2, Some("h2")),
      ChunkInput("car manual", vec(0, 0, 1, 0), Map("lang" -> "en"), 3, Some("h3"))))
    val got = e.searchHybrid(lib.id, Seq("apple"), vec(1, 0, 0, 0), k = 4,
        filters = Map("lang" -> "en"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(!got.map(_._1).contains("h1"))
    assert(got.head._1 == "h0", s"both-legs winner must fuse first: ${got.toSeq}")
    // full-outer fusion keeps single-leg hits: every allowed chunk surfaces
    assert(got.map(_._1).toSet == Set("h0", "h2", "h3"))
    // rrf of the double winner: 1/(60+1) + 1/(60+1), rounded
    assert(math.abs(got.head._2 - 2.0 / 61.0) < 1e-6)
    intercept[SearchError] { e.searchHybrid(lib.id, Seq.empty, vec(1, 0, 0, 0), 1) }
    intercept[SearchError] { e.searchHybrid(lib.id, Seq("a", "a"), vec(1, 0, 0, 0), 1) }
    intercept[SearchError] {
      e.searchHybrid(lib.id, Seq("a"), vec(1, 0, 0, 0), 5, candidates = 3)
    }
    intercept[SearchError] { e.searchHybrid(lib.id, Seq("a"), vec(1, 0, 0, 0), 0) }
    intercept[SearchError] {
      e.searchHybrid(lib.id, Seq("a"), vec(1, 0, 0, 0), 1, rrfK = 0)
    }
    // the vector leg dispatches the library's STORAGE funnel: a bq
    // library (two-phase Hamming + exact rescore, R saturating at this
    // size) fuses to the same ranking as the float32 library above
    val eb = VectorEngine.create(spark)
    val libB = eb.createLibrary("hyb", dim = 4, storage = VectorEngine.StorageBq)
    val docB = eb.createDocument(libB.id, "doc")
    eb.addChunksBatch(docB.id, Seq(
      ChunkInput("apple pie recipe", vec(1, 0, 0, 0), Map("lang" -> "en"), 0, Some("h0")),
      ChunkInput("apple tart", vec(1, 0, 0, 0), Map("lang" -> "fr"), 1, Some("h1")),
      ChunkInput("banana bread", vec(0, 1, 0, 0), Map("lang" -> "en"), 2, Some("h2")),
      ChunkInput("car manual", vec(0, 0, 1, 0), Map("lang" -> "en"), 3, Some("h3"))))
    val gotB = eb.searchHybrid(libB.id, Seq("apple"), vec(1, 0, 0, 0), k = 4,
        filters = Map("lang" -> "en"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(gotB.toSeq == got.toSeq, "hybrid over bq != hybrid over float32")
  }

  test("searchHybridBatch: per-query results equal single searchHybrid, " +
    "the filter composes with both legs of every query, and per-query " +
    "guards fire before any corpus work") {
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("hyb", dim = 4)
    val doc = e.createDocument(lib.id, "doc")
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("apple pie recipe", vec(1, 0, 0, 0), Map("lang" -> "en"), 0, Some("b0")),
      ChunkInput("apple tart", vec(1, 0, 0, 0), Map("lang" -> "fr"), 1, Some("b1")),
      ChunkInput("banana bread", vec(0, 1, 0, 0), Map("lang" -> "en"), 2, Some("b2")),
      ChunkInput("car manual", vec(0, 0, 1, 0), Map("lang" -> "en"), 3, Some("b3"))))
    val queries = Seq(
      (10L, Seq("apple"), vec(1, 0, 0, 0)),
      (20L, Seq("banana", "car"), vec(0, 1, 0, 0)))
    val got = e.searchHybridBatch(lib.id, queries, k = 4,
        filters = Map("lang" -> "en"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(!got.keySet.map(_._2).contains("b1")) // filtered from every query
    for ((qid, terms, q) <- queries) {
      val single = e.searchHybrid(lib.id, terms, q, k = 4,
          filters = Map("lang" -> "en"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got.filter(_._1._1 == qid).map { case ((_, id), v) => id -> v }
        == single, s"query $qid diverges from searchHybrid")
    }
    // guards: duplicate qids, per-query empty/duplicate terms, dim
    intercept[SearchError] {
      e.searchHybridBatch(lib.id,
        Seq((1L, Seq("a"), vec(1, 0, 0, 0)), (1L, Seq("b"), vec(1, 0, 0, 0))), 1)
    }
    intercept[SearchError] {
      e.searchHybridBatch(lib.id, Seq((1L, Seq.empty, vec(1, 0, 0, 0))), 1)
    }
    intercept[SearchError] {
      e.searchHybridBatch(lib.id, Seq((1L, Seq("a", "a"), vec(1, 0, 0, 0))), 1)
    }
    intercept[SearchError] {
      e.searchHybridBatch(lib.id, Seq((1L, Seq("a"), Seq(1f, 0f))), 1)
    }
    intercept[SearchError] {
      e.searchHybridBatch(lib.id, Seq((1L, Seq("a"), vec(1, 0, 0, 0))), 0)
    }
    // empty query list: empty result, correct schema, no job
    val empty = e.searchHybridBatch(lib.id, Seq.empty, 1)
    assert(empty.columns.toSeq == Seq("query_id", "chunk_id", "rrf"))
    assert(empty.count() == 0)
  }

  test("curateAndIngest with a DSIR model: the batch gate keeps exactly " +
    "what the streaming gate would (one shared scoreWithModel), reported " +
    "as n_after_dsir; None leaves the report's dsir count = quality count") {
    import org.apache.spark.sql.functions.{array, col, lit, pmod, xxhash64}
    import spark.implicits._
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("dcur", dim = 4,
      indexKind = VectorEngine.IndexKindLsh)
    val doc = e.createDocument(lib.id, "crawl")
    val B = 16
    // chunks of <= 4 tokens land whole (maxTokens=4): 1 chunk per doc
    val docs = Seq(
      (1L, "alpha beta alpha beta"),   // target-like -> kept
      (2L, "junk spam junk spam"),     // off-target -> DSIR-dropped
      (3L, "alpha gamma beta")).toDF("id", "text")
    val modelRaw = Seq((1L, "alpha beta gamma"), (2L, "junk spam junk"))
      .toDF("doc_id", "text")
    val modelTarget = Seq((10L, "alpha beta alpha gamma")).toDF("doc_id", "text")
    val model = graft.operators.ImportanceSampling.bucketModel(
      modelRaw, modelTarget, col("doc_id"), col("text"), B).localCheckpoint()
    val bench = Seq("held out eval fourgram").toDF("text")
    def embed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", array((1 to 4).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(2001L)).cast("double")
          / 1000.0 - 1.0).cast("float")): _*))
    val r = e.curateAndIngest(lib.id, doc.id, docs, col("id"), col("text"),
      embed, bench, col("text"), maxTokens = 4, overlap = 0, n = 4,
      threshold = 0.0, dsirModel = Some(model), dsirBuckets = B,
      dsirMinLogweight = 0.0)
    assert(r.n_chunks == 3L, r)
    assert(r.n_after_quality == 3L, r)
    assert(r.n_after_classifier == 3L, r) // no classifier model: pass-through
    assert(r.n_after_dsir == 2L, r) // the junk/spam chunk drops
    assert(r.n_ingested == 2L, r)
    val stored = e.chunksDf.where(col("library_id") === lib.id)
      .select("id").collect().map(_.getString(0)).toSet
    assert(stored == Set("1-c0", "3-c0"))
    // without a model the dsir stage is a pass-through in the report
    val e2 = VectorEngine.create(spark)
    val lib2 = e2.createLibrary("dcur2", dim = 4,
      indexKind = VectorEngine.IndexKindLsh)
    val doc2 = e2.createDocument(lib2.id, "crawl")
    val r2 = e2.curateAndIngest(lib2.id, doc2.id, docs, col("id"),
      col("text"), embed, bench, col("text"), maxTokens = 4, overlap = 0,
      n = 4, threshold = 0.0)
    assert(r2.n_after_classifier == r2.n_after_quality)
    assert(r2.n_after_dsir == r2.n_after_quality)
    assert(r2.n_ingested == 3L)
    intercept[ValidationError] {
      e2.curateAndIngest(lib2.id, doc2.id, docs, col("id"), col("text"),
        embed, bench, col("text"), dsirModel = Some(model), dsirBuckets = 0)
    }
  }

  test("curateAndIngest with a trained quality-classifier model: chunks " +
    "below classifierMinProb drop (reported as n_after_classifier), " +
    "the gate composes BEFORE the DSIR gate, and validations fire") {
    import org.apache.spark.sql.functions.{array, col, lit, pmod, xxhash64}
    import spark.implicits._
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("qcur", dim = 4,
      indexKind = VectorEngine.IndexKindLsh)
    val doc = e.createDocument(lib.id, "crawl")
    val B = 16
    val docs = Seq(
      (1L, "theorem proof lemma axiom"),  // reference-like -> kept
      (2L, "click buy free offer"),       // crawl-like -> dropped
      (3L, "theorem proof axiom lemma")).toDF("id", "text")
    val pos = Seq((10L, "theorem proof lemma axiom corollary"))
      .toDF("doc_id", "text")
    val neg = Seq((20L, "click buy free offer subscribe now"))
      .toDF("doc_id", "text")
    val model = graft.operators.QualityClassifier.trainModel(pos, neg,
      col("doc_id"), col("text"), B).localCheckpoint()
    val bench = Seq("held out eval fourgram").toDF("text")
    def embed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", array((1 to 4).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(2001L)).cast("double")
          / 1000.0 - 1.0).cast("float")): _*))
    val r = e.curateAndIngest(lib.id, doc.id, docs, col("id"), col("text"),
      embed, bench, col("text"), maxTokens = 4, overlap = 0, n = 4,
      threshold = 0.0, classifierModel = Some(model), classifierBuckets = B,
      classifierMinProb = 0.5)
    assert(r.n_chunks == 3L, r)
    assert(r.n_after_quality == 3L, r)
    assert(r.n_after_classifier == 2L, r) // the crawl-like chunk drops HERE
    assert(r.n_after_dsir == 2L, r) // no DSIR model: equals the classifier count
    assert(r.n_ingested == 2L, r)
    val stored = e.chunksDf.where(col("library_id") === lib.id)
      .select("id").collect().map(_.getString(0)).toSet
    assert(stored == Set("1-c0", "3-c0"))
    intercept[ValidationError] {
      e.curateAndIngest(lib.id, doc.id, docs, col("id"), col("text"),
        embed, bench, col("text"), classifierModel = Some(model),
        classifierBuckets = 0)
    }
    intercept[ValidationError] {
      e.curateAndIngest(lib.id, doc.id, docs, col("id"), col("text"),
        embed, bench, col("text"), classifierModel = Some(model),
        classifierBuckets = B, classifierMinProb = 1.5)
    }
  }

  test("DSIR gate batch ≡ streaming parity: curateAndIngest(dsirModel) " +
    "and ingestDsirGatedBatch deliver the IDENTICAL surviving chunk set " +
    "for the same chunks, model, buckets, and minLogweight") {
    import org.apache.spark.sql.functions.{array, col, concat, lit, pmod, typedLit, xxhash64}
    import spark.implicits._
    val B = 16
    val docs = Seq(
      (1L, "alpha beta alpha beta"),
      (2L, "junk spam junk spam"),
      (3L, "alpha gamma beta"),
      (4L, "noise junk gamma spam")).toDF("id", "text")
    val modelRaw = Seq((1L, "alpha beta gamma"), (2L, "junk spam noise"))
      .toDF("doc_id", "text")
    val modelTarget = Seq((10L, "alpha beta alpha gamma")).toDF("doc_id", "text")
    val model = graft.operators.ImportanceSampling.bucketModel(
      modelRaw, modelTarget, col("doc_id"), col("text"), B).localCheckpoint()
    def embed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", array((1 to 4).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(2001L)).cast("double")
          / 1000.0 - 1.0).cast("float")): _*))
    // batch facade path
    val e1 = VectorEngine.create(spark)
    val lib1 = e1.createLibrary("par1", dim = 4,
      indexKind = VectorEngine.IndexKindLsh)
    val doc1 = e1.createDocument(lib1.id, "crawl")
    e1.curateAndIngest(lib1.id, doc1.id, docs, col("id"), col("text"),
      embed, docs.where(lit(false)), col("text"), maxTokens = 4,
      overlap = 0, n = 4, threshold = 0.0, dsirModel = Some(model),
      dsirBuckets = B, dsirMinLogweight = 0.0)
    // streaming gate on the SAME chunk batch (maxTokens=4: 1 chunk/doc,
    // id <docId>-c0 — the facade's chunk derivation, replayed)
    val e2 = VectorEngine.create(spark)
    val lib2 = e2.createLibrary("par2", dim = 4,
      indexKind = VectorEngine.IndexKindLsh)
    val doc2 = e2.createDocument(lib2.id, "crawl")
    val batch = embed(docs.select(
        concat(col("id").cast("string"), lit("-c0")).as("id"),
        lit(doc2.id).as("document_id"), col("text"),
        lit(0).cast("int").as("chunk_index"))
      .withColumn("metadata", typedLit(Map.empty[String, String])))
    graft.streaming.StreamingIngest.ingestDsirGatedBatch(
      e2, lib2.id, batch, threshold = 0.0, model, B, minLogweight = 0.0)
    def survivors(e: VectorEngine, lib: String) =
      e.chunksDf.where(col("library_id") === lib)
        .select("id").as[String].collect().toSet
    val s1 = survivors(e1, lib1.id)
    val s2 = survivors(e2, lib2.id)
    assert(s1 == s2, s"batch=$s1 streaming=$s2")
    assert(s1.nonEmpty && s1.size < 4) // the gate genuinely cut something
  }

  test("classifier gate batch ≡ streaming parity: " +
    "curateAndIngest(classifierModel) and ingestClassifierGatedBatch " +
    "deliver the IDENTICAL surviving chunk set for the same chunks, " +
    "model, buckets, and minProb") {
    import org.apache.spark.sql.functions.{array, col, concat, lit, pmod, typedLit, xxhash64}
    import spark.implicits._
    val B = 16
    val docs = Seq(
      (1L, "theorem proof lemma axiom"),
      (2L, "click buy free offer"),
      (3L, "theorem axiom proof lemma"),
      (4L, "offer click theorem buy")).toDF("id", "text")
    val pos = Seq((10L, "theorem proof lemma axiom corollary"))
      .toDF("doc_id", "text")
    val neg = Seq((20L, "click buy free offer subscribe now"))
      .toDF("doc_id", "text")
    val model = graft.operators.QualityClassifier.trainModel(pos, neg,
      col("doc_id"), col("text"), B).localCheckpoint()
    def embed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", array((1 to 4).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(2001L)).cast("double")
          / 1000.0 - 1.0).cast("float")): _*))
    // batch facade path
    val e1 = VectorEngine.create(spark)
    val lib1 = e1.createLibrary("cpar1", dim = 4,
      indexKind = VectorEngine.IndexKindLsh)
    val doc1 = e1.createDocument(lib1.id, "crawl")
    e1.curateAndIngest(lib1.id, doc1.id, docs, col("id"), col("text"),
      embed, docs.where(lit(false)), col("text"), maxTokens = 4,
      overlap = 0, n = 4, threshold = 0.0, classifierModel = Some(model),
      classifierBuckets = B, classifierMinProb = 0.5)
    // streaming gate on the SAME chunk batch (maxTokens=4: 1 chunk/doc)
    val e2 = VectorEngine.create(spark)
    val lib2 = e2.createLibrary("cpar2", dim = 4,
      indexKind = VectorEngine.IndexKindLsh)
    val doc2 = e2.createDocument(lib2.id, "crawl")
    val batch = embed(docs.select(
        concat(col("id").cast("string"), lit("-c0")).as("id"),
        lit(doc2.id).as("document_id"), col("text"),
        lit(0).cast("int").as("chunk_index"))
      .withColumn("metadata", typedLit(Map.empty[String, String])))
    graft.streaming.StreamingIngest.ingestClassifierGatedBatch(
      e2, lib2.id, batch, threshold = 0.0, model, B, minProb = 0.5)
    def survivors(e: VectorEngine, lib: String) =
      e.chunksDf.where(col("library_id") === lib)
        .select("id").as[String].collect().toSet
    val s1 = survivors(e1, lib1.id)
    val s2 = survivors(e2, lib2.id)
    assert(s1 == s2, s"batch=$s1 streaming=$s2")
    assert(s1.nonEmpty && s1.size < 4) // the gate genuinely cut something
  }

  test("curateAndIngest: chunk -> quality -> repetition -> decontaminate " +
    "-> dedup-gated ingest composes end-to-end, reports per-stage " +
    "counts, and re-running the same batch is a no-op") {
    import org.apache.spark.sql.functions.{array, col, lit, pmod, xxhash64}
    import spark.implicits._
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("cur", dim = 4,
      indexKind = VectorEngine.IndexKindLsh)
    val doc = e.createDocument(lib.id, "crawl")
    val docs = Seq(
      // clean: two 4-token chunks at maxTokens=4/overlap=0
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      // degenerate repetition: bigram dup_ngram_frac = 1 - 1/3 = 0.67
      (2L, "spam spam spam spam"),
      // contaminated: chunk 0 IS the benchmark 4-gram (a gram spanning
      // a chunk boundary is invisible to chunk-level decontamination)
      (3L, "held out eval fourgram suffix pad pad pad"),
      // low quality: all stopwords (stopword ratio 1 kills the score)
      (4L, "the of to and")).toDF("id", "text")
    val bench = Seq("held out eval fourgram").toDF("text")
    def embed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", array((1 to 4).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(2001L)).cast("double")
          / 1000.0 - 1.0).cast("float")): _*))
    val r = e.curateAndIngest(lib.id, doc.id, docs, col("id"), col("text"),
      embed, bench, col("text"), maxTokens = 4, overlap = 0,
      qualityMin = 0.5, maxDupNgramFrac = 0.5, n = 4, threshold = 0.0)
    // doc1 -> 2 chunks, doc2 -> 1, doc3 -> 2, doc4 -> 1 = 6 chunked
    assert(r.n_chunks == 6L, r)
    // quality+repetition cut doc2's chunk (dup 0.67) and doc4's (score
    // 0.3*0.25 + 0.4*0 + 0.3*0.04 = 0.087)
    assert(r.n_after_quality == 4L, r)
    // decontamination cuts doc3's FIRST chunk (holds the eval 4-gram);
    // its second chunk has no 4-gram overlap
    assert(r.n_after_decontamination == 3L, r)
    assert(r.n_ingested == 3L, r)
    val stored = e.chunksDf.where(col("library_id") === lib.id)
      .select("id").collect().map(_.getString(0)).toSet
    assert(stored == Set("1-c0", "1-c1", "3-c1"))
    // replay: the same crawl batch again is a complete no-op
    val again = e.curateAndIngest(lib.id, doc.id, docs, col("id"),
      col("text"), embed, bench, col("text"), maxTokens = 4, overlap = 0,
      qualityMin = 0.5, maxDupNgramFrac = 0.5, n = 4, threshold = 0.0)
    assert(again.n_after_decontamination == 3L && again.n_ingested == 0L)
    // guards
    intercept[ValidationError] {
      e.curateAndIngest(lib.id, doc.id, docs, col("id"), col("text"),
        embed, bench, col("text"), n = 0)
    }
    intercept[ValidationError] {
      e.curateAndIngest(lib.id, doc.id, docs, col("id"), col("text"),
        df => df, bench, col("text")) // embed stage adds no embedding
    }
    val flatLib = e.createLibrary("flat-cur", dim = 4)
    val flatDoc = e.createDocument(flatLib.id, "d")
    intercept[ValidationError] { // needs a random_projection library
      e.curateAndIngest(flatLib.id, flatDoc.id, docs, col("id"),
        col("text"), embed, bench, col("text"))
    }
    intercept[ValidationError] { // document belongs to the other library
      e.curateAndIngest(lib.id, flatDoc.id, docs, col("id"), col("text"),
        embed, bench, col("text"))
    }
  }

  test("contaminatedChunks: facade decontamination audit over a managed " +
    "library — eval-overlapping chunks flagged with hit counts, clean " +
    "chunks absent, any index_kind, guards loud") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("audited", dim = 4)
    val doc = e.createDocument(lib.id, "doc")
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("page quoting the secret eval question verbatim",
        vec(1, 0, 0, 0), Map.empty, 0, Some("k0")),
      ChunkInput("entirely organic unrelated content here",
        vec(0, 1, 0, 0), Map.empty, 1, Some("k1"))))
    val bench = Seq("the secret eval question").toDF("text")
    val got = e.contaminatedChunks(lib.id, bench, col("text"), n = 3)
      .as[(String, Long)].collect().toMap
    // bench trigrams: "the secret eval", "secret eval question" — k0
    // contains both, k1 none
    assert(got == Map("k0" -> 2L))
    intercept[NotFoundError] {
      e.contaminatedChunks("nope", bench, col("text"), n = 3)
    }
    intercept[ValidationError] {
      e.contaminatedChunks(lib.id, bench, col("text"), n = 0)
    }
  }

  test("ivf maintenance: cell-skew health check trips on drifted ingest, " +
    "conditional retrain rebalances and restores search quality, " +
    "balanced libraries are left alone") {
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("drifty", dim = 4, indexKind = VectorEngine.IndexKindIvf)
    val doc = e.createDocument(lib.id, "doc")
    // model trained "yesterday": 4 centroids spread over the axes, but
    // the corpus that then arrives is concentrated near ONE axis — the
    // classic living-corpus drift (topic shift, new source)
    e.addChunksBatch(doc.id, (0 until 12).map { i =>
      val v = vec(1f, 0.01f * i, 0, 0)
      ChunkInput(s"t$i", v, Map.empty, i, Some(s"c$i"))
    })
    e.setIvfCentroids(lib.id, Seq(
      0L -> vec(1, 0, 0, 0), 1L -> vec(0, 1, 0, 0),
      2L -> vec(0, 0, 1, 0), 3L -> vec(0, 0, 0, 1)))
    // every chunk in cell 0: skew = 12 * 4 / 12 = 4
    assert(math.abs(e.ivfCellSkew(lib.id) - 4.0) < 1e-9)
    // bound not tripped at maxSkew=4 (skew must EXCEED), tripped at 3
    assert(!e.retrainIvfIndexIfSkewed(lib.id, c = 4, maxSkew = 4.0))
    assert(e.retrainIvfIndexIfSkewed(lib.id, c = 4, maxSkew = 3.0))
    // retrained on the actual corpus: occupancy rebalances
    val after = e.ivfCellSkew(lib.id)
    assert(after < 4.0, s"skew after retrain: $after")
    // search still exact for a known vector through the new cells
    assert(e.search(lib.id, vec(1f, 0.05f, 0, 0), k = 1).collect()
      .head.getString(0) == "c5")
    // second maintenance pass: bound no longer tripped
    assert(!e.retrainIvfIndexIfSkewed(lib.id, c = 4, maxSkew = 3.0))
    // guards
    intercept[ValidationError] { e.ivfCellSkew(e.createLibrary("f", dim = 4).id) }
    val untrained = e.createLibrary("u", dim = 4, indexKind = VectorEngine.IndexKindIvf)
    intercept[ValidationError] { e.ivfCellSkew(untrained.id) }
  }

  test("lsh maintenance: occupancy health check trips on a crowded bucket, " +
    "conditional re-projection widens the matrix from the stored seed, " +
    "search parity holds across the re-projection") {
    val e = VectorEngine.create(spark)
    // P=2 → at most 4 buckets: 64 rows guarantee a bucket with >= 16
    val lib = e.createLibrary("crowded", dim = 4,
      indexKind = VectorEngine.IndexKindLsh, lshProjections = 2, lshSeed = 7L)
    val doc = e.createDocument(lib.id, "doc")
    val rng = new scala.util.Random(3)
    val vecs = (0 until 64).map(_ => Seq.fill(4)(rng.nextFloat() * 2f - 1f))
    e.addChunksBatch(doc.id, vecs.zipWithIndex.map { case (v, i) =>
      ChunkInput(s"t$i", v, Map.empty, i, Some(f"c$i%02d"))
    })
    assert(e.lshMaxBucketRows(lib.id) >= 16L)
    val q = vecs.head
    // adaptive target (k * 150) >> 64 rows: the probe covers every
    // bucket, so this IS the exact answer — the parity baseline
    val before = e.search(lib.id, q, k = 5).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    // bound not tripped (max <= 64), tripped at 8
    assert(!e.reprojectLshIndexIfCrowded(lib.id, maxBucketRows = 64L))
    assert(e.lshProjectionMatrix(lib.id).length == 2)
    assert(e.reprojectLshIndexIfCrowded(lib.id, maxBucketRows = 8L))
    // policy: newP = max(curP+1, projectionsFor(64, 4)) = 4, matrix
    // re-derived from the STORED seed (deterministic)
    val m = e.lshProjectionMatrix(lib.id)
    assert(m.length == 4)
    assert(m.map(_.toSeq).toSeq ==
      graft.functions.VectorFunctions.projectionMatrix(4, 4, 7L)
        .map(_.toSeq).toSeq)
    // every stored bucket re-derived + histogram rebuilt: totals agree
    // and no bucket exceeds the P=2 ceiling it had before
    assert(e.bucketHistogram(lib.id).values.sum == 64L)
    // search parity: the exact answer is invariant under re-keying
    val after = e.search(lib.id, q, k = 5).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(after == before)
    // guards: wrong index kind, out-of-range projection counts
    val flat = e.createLibrary("flat", dim = 4)
    intercept[ValidationError] { e.setLshProjections(flat.id, 8) }
    intercept[ValidationError] { e.lshMaxBucketRows(flat.id) }
    intercept[ValidationError] { e.setLshProjections(lib.id, 0) }
    intercept[ValidationError] { e.setLshProjections(lib.id, 63) }
    // the kind-agnostic maintenance entry: flat libraries are always
    // healthy; an lsh library dispatches the occupancy check (the
    // P=4 index above re-trips at a bound of 1 and widens again)
    assert(!e.maintainIndexIfNeeded(flat.id))
    val pBefore = e.lshProjectionMatrix(lib.id).length
    assert(e.maintainIndexIfNeeded(lib.id, maxBucketRows = 1L))
    assert(e.lshProjectionMatrix(lib.id).length > pBefore)
    // an ivf library without a model is healthy by definition
    val ivfEmpty = e.createLibrary("iv", dim = 4,
      indexKind = VectorEngine.IndexKindIvf)
    assert(!e.maintainIndexIfNeeded(ivfEmpty.id))
  }

  test("crawlAndIngest: raw (url, html) pages through URL dedup, " +
    "extraction, line removal, and the full curation composition — " +
    "per-stage accounting, PAGE-PER-DOCUMENT mapping, per-page cascade " +
    "delete, boilerplate-only and contaminated pages drop") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("crawl", dim = 4,
      indexKind = VectorEngine.IndexKindLsh)
    def page(mid: String) =
      s"<p>NAV MENU</p><p>$mid</p><p>All rights reserved</p>"
    val pages = Seq(
      ("https://x.com/a", page("alpha unique content words here")),
      ("HTTPS://X.COM/a#frag",                      // canonical dup of /a
        page("alpha unique content words here")),
      ("https://x.com/b", page("beta different organic words")),
      ("https://x.com/c", page("the secret eval answer verbatim")),
      ("https://x.com/d", page("")
        .replace("<p></p>", "")),                   // boilerplate only
      ("https://x.com/e", page("gamma totally fresh text")),
    ).toDF("url", "html")
    val bench = Seq("the secret eval answer").toDF("text")
    val embed = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("embedding", array((1 to 4).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(2001L)).cast("double")
          / 1000.0 - 1.0).cast("float")): _*))
    val r = e.crawlAndIngest(lib.id, pages, col("url"), col("html"),
      embed, bench, col("text"), minLineDocFreq = 2, maxTokens = 16,
      n = 3, threshold = 0.0)
    assert(r.n_pages == 6L)
    assert(r.n_after_blocklist == 6L)      // no blocklist: pass-through
    assert(r.n_unique_urls == 5L)          // /a collapsed across case+fragment
    assert(r.n_after_line_removal == 4L)   // the boilerplate-only page husked
    assert(r.curation.n_chunks == 4L)
    assert(r.curation.n_after_decontamination == 3L)  // /c quoted the eval
    assert(r.curation.n_ingested == 3L)
    // no Bloom gate on the library yet: the report carries the
    // no-filter sentinel (VERDICT r19 task 7 — the batch facade
    // surfaces the Bloom split beside its other per-gate counts)
    assert(r.curation.n_bloom_definite_new == -1L)
    assert(e.chunkCount(lib.id) == 3L)
    // PAGE-PER-DOCUMENT: one document per page surviving line removal
    // (the husked /d gets none), named by the canonical URL, carrying
    // host/domain metadata; every chunk hangs under ITS page's document
    val docsByName = e.listDocuments(lib.id).items
      .map(d => d.name -> d).toMap
    assert(docsByName.keySet == Set("https://x.com/a", "https://x.com/b",
      "https://x.com/c", "https://x.com/e"))
    assert(docsByName.values.forall(_.metadata("host") == "s:x.com"))
    assert(docsByName.values.forall(_.metadata("domain") == "s:x.com"))
    val bDoc = docsByName("https://x.com/b")
    assert(e.chunkCountByDocument(bDoc.id) == 1L)
    // the contaminated page /c keeps its (empty) document — grouping is
    // crawl structure; its chunks were gated
    assert(e.chunkCountByDocument(docsByName("https://x.com/c").id) == 0L)
    // per-page cascade delete: only that page's chunks go
    e.deleteDocument(bDoc.id)
    assert(e.chunkCount(lib.id) == 2L)
    assert(e.listDocuments(lib.id).total == 3L)
    // re-crawling the same batch re-creates /b's document (it is absent
    // again) but the replay gate re-ingests only /b's chunk — now
    // Bloom-fronted: the filter (built from the 2 surviving chunk ids)
    // routes arrivals it has never seen around the exact anti-join, and
    // the report surfaces the split
    e.enableBloomGate(lib.id)
    val again = e.crawlAndIngest(lib.id, pages, col("url"),
      col("html"), embed, bench, col("text"), minLineDocFreq = 2,
      maxTokens = 16, n = 3, threshold = 0.0)
    assert(again.curation.n_ingested == 1L)
    assert(again.curation.n_bloom_definite_new >= 0L,
      "gate enabled: the crawl report must carry the Bloom split")
    assert(e.chunkCount(lib.id) == 3L)
    assert(e.listDocuments(lib.id).total == 4L)
    // a THIRD crawl is a full no-op: all documents present, all chunks
    // caught by the replay gate — and every arriving id is now IN the
    // filter (bulk ingest folds new ids in), so zero rows skip the
    // exact confirm
    val third = e.crawlAndIngest(lib.id, pages, col("url"),
      col("html"), embed, bench, col("text"), minLineDocFreq = 2,
      maxTokens = 16, n = 3, threshold = 0.0)
    assert(third.curation.n_ingested == 0L)
    assert(third.curation.n_bloom_definite_new == 0L,
      "all replayed ids are in the filter: nothing is definite-new")
    assert(e.chunkCount(lib.id) == 3L && e.listDocuments(lib.id).total == 4L)
    // the same URL set crawls into a SECOND library: document (and so
    // chunk) ids are salted with the library id, so nothing collides
    // with the first library's globally-unique ids
    val lib2 = e.createLibrary("crawl2", dim = 4,
      indexKind = VectorEngine.IndexKindLsh)
    val r2 = e.crawlAndIngest(lib2.id, pages, col("url"), col("html"),
      embed, bench, col("text"), minLineDocFreq = 2, maxTokens = 16,
      n = 3, threshold = 0.0)
    assert(r2.curation.n_ingested == 3L)
    assert(e.listDocuments(lib2.id).total == 4L)
    assert(e.chunkCount(lib2.id) == 3L)
    assert(e.chunkCount(lib.id) == 3L)   // first library untouched
  }

  test("crawlAndIngest with a URL blocklist: pages on a blocklisted " +
    "registered domain drop at the FRONT DOOR (before extraction and " +
    "dedup), case/port variants included, accounted as " +
    "n_after_blocklist; no document is created for a blocked page") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("blcrawl", dim = 4,
      indexKind = VectorEngine.IndexKindLsh)
    val pages = Seq(
      ("https://good.com/a", "<p>alpha organic content words here</p>"),
      ("https://spam.bad.com/x", "<p>beta words</p>"),   // host UNDER the domain
      ("HTTPS://BAD.COM:443/y", "<p>gamma words</p>"),   // case+port variant
      ("https://fine.org/b", "<p>delta fresh unique words</p>"),
    ).toDF("url", "html")
    val bl = Seq(Tuple1("bad.com")).toDF("domain")
    val embed = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("embedding", array((1 to 4).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(2001L)).cast("double")
          / 1000.0 - 1.0).cast("float")): _*))
    val r = e.crawlAndIngest(lib.id, pages, col("url"), col("html"),
      embed, Seq("unrelated eval").toDF("text"), col("text"),
      minLineDocFreq = 2, maxTokens = 16, n = 3, threshold = 0.0,
      urlBlocklist = Some(bl))
    assert(r.n_pages == 4L)
    assert(r.n_after_blocklist == 2L,
      s"both bad.com variants (subdomain host + case/port) must drop: $r")
    assert(r.n_unique_urls == 2L)
    assert(e.listDocuments(lib.id).items.map(_.name).toSet ==
      Set("https://good.com/a", "https://fine.org/b"))
  }

  test("crawlAndIngest: null or blank URLs fail fast with a validation " +
    "error BEFORE extraction, not late via the document-name guard or a " +
    "misleading duplicate-id conflict") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("crawl-bad", dim = 4,
      indexKind = VectorEngine.IndexKindLsh)
    val bench = Seq("never matches").toDF("text")
    val embed = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("embedding",
        array(lit(1f), lit(0f), lit(0f), lit(0f)))
    for (bad <- Seq(null: String, "", "   ")) {
      val pages = Seq(
        ("https://x.com/ok", "<p>fine organic words</p>"),
        (bad, "<p>orphan page</p>")).toDF("url", "html")
      val err = intercept[ValidationError] {
        e.crawlAndIngest(lib.id, pages, col("url"), col("html"),
          embed, bench, col("text"), minLineDocFreq = 2, maxTokens = 16,
          n = 3, threshold = 0.0)
      }
      assert(err.getMessage.contains("1 null or blank urls"))
    }
    assert(e.chunkCount(lib.id) == 0L)   // nothing partially ingested
  }

  test("corpusDatasheet: one-row release artifact over a library's chunks " +
    "— volume, dup structure, quality bins, PII and contamination totals") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("sheet", dim = 4)
    val doc = e.createDocument(lib.id, "doc")
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("the quick brown fox jumps over the lazy dog",
        vec(1, 0, 0, 0), Map.empty, 0, Some("d0")),
      ChunkInput("the quick brown fox jumps over the lazy dog",  // exact dup
        vec(1, 0, 0, 0), Map.empty, 1, Some("d1")),
      ChunkInput("contact me at alice@example.com for the secret eval answer",
        vec(0, 1, 0, 0), Map.empty, 2, Some("d2")),
      ChunkInput("entirely organic unrelated content here today",
        vec(0, 0, 1, 0), Map.empty, 3, Some("d3"))))
    val bench = Seq("the secret eval answer key").toDF("text")
    val row = e.corpusDatasheet(lib.id, bench, col("text")).collect()(0)
    assert(row.getAs[Long]("n_docs") == 4L)
    assert(row.getAs[Long]("n_unique_texts") == 3L)       // d0 == d1
    assert(row.getAs[Long]("pii_email") == 1L)            // d2
    assert(row.getAs[Long]("contaminated_docs") == 1L)    // d2 shares 4-grams
    assert(row.getAs[Long]("near_dup_pairs") >= 1L)       // (d0, d1)
    val langs = (graft.operators.TextAnalysis.ScriptRanges.map(_._1) ++
      graft.operators.TextAnalysis.LangProfiles.map(_._1))
      .map(c => row.getAs[Long](s"lang_$c")).sum
    assert(langs == 4L)                                   // every doc labeled
    assert(Seq("q_lo", "q_mid", "q_hi", "q_top")
      .map(c => row.getAs[Long](c)).sum == 4L)            // bins partition
    intercept[NotFoundError] {
      e.corpusDatasheet("nope", bench, col("text"))
    }
  }

  private object Files {
    def tmp(prefix: String): String =
      graft.operators.Scratch.newDir(prefix).toString
  }
}
