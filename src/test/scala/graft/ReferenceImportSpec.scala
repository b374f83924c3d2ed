package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._
import java.nio.file.{Files, Paths}

/** Reference-store import (VectorEngine.importReferenceStore) against the
  * committed `fixtures/refstore` — a store written by the REFERENCE'S OWN
  * DiskVectorStore (tools/make_refstore.py), so these assertions run on
  * byte-genuine reference output. The oracle rows (ImportQueries) gate the
  * search results against DuckDB; this spec covers the engine-state
  * surface: hydration counts, typed metadata mapping, sidecar adoption,
  * persistence round-trip, and the failure guards. */
class ReferenceImportSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val Store = "fixtures/refstore"

  private lazy val imported: VectorEngine = {
    val e = VectorEngine.create(spark)
    val s = e.importReferenceStore(Store)
    assert((s.libraries, s.documents, s.chunks, s.lshIndexes) == ((3L, 4L, 58L, 1)))
    e
  }
  private def libIdByName(e: VectorEngine, name: String): String =
    e.librariesDf.where(col("name") === name).select("id").head().getString(0)
  private lazy val flatLib = libIdByName(imported, "corpus-flat")
  private lazy val lshLib = libIdByName(imported, "corpus-lsh")
  private lazy val emptyLib = libIdByName(imported, "empty-lib")

  test("hydration: libraries, derived counts, empty library, metrics") {
    val e = imported
    assert(e.chunkCount(flatLib) == 30 && e.chunkCount(lshLib) == 28 &&
      e.chunkCount(emptyLib) == 0)
    assert(e.documentCount(flatLib) == 3 && e.documentCount(lshLib) == 1 &&
      e.documentCount(emptyLib) == 0)
    val empty = e.getLibrary(emptyLib)
    assert(empty.distance_metric == "dot_product" &&
      empty.index_kind == "flat" && empty.storage == "float32")
    // the reference store's zero-chunk document hydrates too
    val f3 = e.documentsDf.where(col("name") === "f3-empty").head()
    assert(e.chunkCountByDocument(f3.getAs[String]("id")) == 0)
    // timestamps come from the store, not import time
    assert(e.getLibrary(flatLib).created_at.toInstant.toString
      == "2024-01-01T00:00:00Z")
  }

  test("typed metadata mapping: string/int/float/bool keep their types") {
    val e = imported
    // library + document metadata
    assert(e.getLibrary(flatLib).metadata ==
      Map("team" -> "s:a", "version" -> "i:1"))
    val f1 = e.documentsDf.where(col("name") === "f1")
      .select("metadata").as[Map[String, String]].head()
    assert(f1 == Map("source" -> "s:web", "crawl" -> "i:3"))
    // the page-10 chunk carries all four types plus the int-vs-string trap
    val m = e.chunksDf
      .where(col("library_id") === flatLib && col("metadata")("page") === "i:10")
      .select("metadata").as[Map[String, String]].head()
    assert(m == Map("lang" -> "s:en", "page" -> "i:10", "score" -> "f:2.5",
      "good" -> "b:true", "page_str" -> "s:10"))
    // empty metadata hydrates as an empty map, not null
    val empties = e.chunksDf.where(size(map_keys(col("metadata"))) === 0).count()
    assert(empties > 0)
  }

  test("LSH sidecar adoption: matrix, buckets, histogram") {
    val e = imported
    val m = e.lshProjectionMatrix(lshLib)
    assert(m.length == 8 && m.forall(_.length == 64))
    // the stored bucket column (trusted from the sidecar) agrees with the
    // engine's own kernel over the adopted matrix on every fixture vector
    // — numpy's float32 hash and our double-accumulated twin pick the
    // same sign bits on this data
    val rows = e.chunksDf.where(col("library_id") === lshLib)
      .select("embedding", "bucket")
      .as[(Seq[Float], Long)].collect()
    assert(rows.length == 28)
    rows.foreach { case (v, stored) =>
      var b = 0L
      for (i <- m.indices) {
        var acc = 0.0d
        for (j <- m(i).indices) acc += m(i)(j) * v(j).toDouble
        if (acc >= 0.0d) b |= 1L << i
      }
      assert(b == stored, s"kernel bucket $b != adopted bucket $stored")
    }
    // adopted histogram == recompute from the chunks table
    val recomputed = e.chunksDf
      .where(col("library_id") === lshLib && col("bucket").isNotNull)
      .groupBy("bucket").count()
      .as[(Long, Long)].collect().toMap
    assert(e.bucketHistogram(lshLib) == recomputed)
  }

  test("persistence round-trip: save + reopen preserves search and index") {
    val e = imported
    val qv = e.chunksDf.where(col("library_id") === flatLib)
      .orderBy("chunk_index", "id").select("embedding").head().getSeq[Float](0)
    val before = e.search(flatLib, qv, k = 10).collect().toSeq
    val dir = graft.operators.Scratch.newDir("import-spec").toString
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    val after = e2.search(flatLib, qv, k = 10).collect().toSeq
    assert(before == after)
    assert(e2.lshProjectionMatrix(lshLib).flatten.toSeq ==
      e.lshProjectionMatrix(lshLib).flatten.toSeq)
    assert(e2.bucketHistogram(lshLib) == e.bucketHistogram(lshLib))
  }

  test("batch search on an imported store matches per-query search " +
    "under both index kinds") {
    val e = imported
    val qs = e.chunksDf.where(col("library_id") === flatLib)
      .orderBy("chunk_index", "id").limit(3)
      .select("embedding").collect().zipWithIndex
      .map { case (r, i) => i.toLong -> r.getSeq[Float](0) }.toSeq
    // `search` is a one-query searchBatch, so the per-query reference is
    // independent of the funnel: a brute-force scan of the flat library,
    // LshIndex.searchAdaptive over the lsh library's maintained histogram
    for (lib <- Seq(flatLib, lshLib)) {
      val batch = e.searchBatch(lib, qs, k = 4).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
      val rows = e.chunksDf.where(col("library_id") === lib)
      val metric = e.getLibrary(lib).distance_metric
      qs.foreach { case (qid, q) =>
        val ref =
          if (lib == flatLib)
            rows.select(col("id"), (round(graft.functions.VectorFunctions
                .distance(metric)(col("embedding"),
                  array(q.map(x => lit(x)): _*).cast("array<float>")), 6)
                + lit(0.0d)).as("distance"))
              .orderBy(col("distance"), col("id")).limit(4)
          else
            graft.operators.LshIndex.searchAdaptive(rows, q,
              e.lshProjectionMatrix(lib), metric, 4, idCol = "id",
              hist = Some(e.bucketHistogram(lib).toSeq))
        val one = ref.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        assert(batch(qid) == one, s"lib $lib query $qid")
      }
    }
  }

  test("imported engine keeps working: adds land in kernel buckets") {
    // fresh import (don't mutate the shared lazy engine)
    val e = VectorEngine.create(spark)
    e.importReferenceStore(Store)
    val lsh = libIdByName(e, "corpus-lsh")
    val doc = e.documentsDf.where(col("library_id") === lsh)
      .select("id").head().getString(0)
    val v = Seq.tabulate(64)(i => (math.sin(i + 1) * 0.3).toFloat)
    val row = e.addChunk(doc, ChunkInput("new chunk", v, Map("k" -> 1), 99))
    val m = e.lshProjectionMatrix(lsh)
    var b = 0L
    for (i <- m.indices) {
      var acc = 0.0d
      for (j <- m(i).indices) acc += m(i)(j) * v(j).toDouble
      if (acc >= 0.0d) b |= 1L << i
    }
    assert(row.bucket.contains(b))
    assert(e.bucketHistogram(lsh).getOrElse(b, 0L) >= 1L)
    assert(e.chunkCount(lsh) == 29)
  }

  test("export round-trip of a NATIVELY built engine: full state " +
    "survives engine -> reference format -> engine") {
    val e = VectorEngine.create(spark)
    val flat = e.createLibrary("xf", dim = 4, metric = "cosine",
      metadata = Map("team" -> "x", "n" -> 3))
    val lsh = e.createLibrary("xl", dim = 4, metric = "euclidean",
      indexKind = "random_projection", lshProjections = 4, lshSeed = 99L)
    val d1 = e.createDocument(flat.id, "d1", Map("src" -> "a"))
    val d2 = e.createDocument(lsh.id, "d2")
    e.addChunksBatch(d1.id, Seq(
      ChunkInput("alpha", Seq(1f, 0f, 0f, 0f), Map("page" -> 1, "ok" -> true), 0, Some("x0")),
      ChunkInput("beta", Seq(0.5f, 0.5f, 0f, 0f), Map("score" -> 0.25), 1, Some("x1"))))
    e.addChunksBatch(d2.id, Seq(
      ChunkInput("gamma", Seq(0f, 1f, 0f, 0f), Map("page_str" -> "1"), 0, Some("x2")),
      ChunkInput("delta", Seq(0f, 0f, 1f, 0.25f), Map.empty, 1, Some("x3"))))
    val out = graft.operators.Scratch.newDir("export-spec").toString
    e.exportReferenceStore(out)
    val e2 = VectorEngine.create(spark)
    val sum = e2.importReferenceStore(out)
    assert((sum.libraries, sum.documents, sum.chunks, sum.lshIndexes) ==
      ((2L, 2L, 4L, 1)))
    // full chunk-state equality (embeddings, typed metadata, buckets,
    // timestamps survive the JSON round-trip bit-exactly)
    def rows(x: VectorEngine) = x.chunksDf
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(rows(e2) == rows(e))
    def libRows(x: VectorEngine) = x.librariesDf
      .orderBy("id")
      .drop("description") // engine "" exports as reference null -> ""
      .collect().map(_.toSeq).toSeq
    assert(libRows(e2) == libRows(e))
    // adopted matrix == original seeded matrix, double-exact (the
    // projections sidecar is written <f8)
    assert(e2.lshProjectionMatrix(lsh.id).flatten.toSeq ==
      e.lshProjectionMatrix(lsh.id).flatten.toSeq)
    assert(e2.bucketHistogram(lsh.id) == e.bucketHistogram(lsh.id))
    // search parity on both libraries
    assert(e2.search(flat.id, Seq(1f, 0f, 0f, 0f), 2).collect().toSeq ==
      e.search(flat.id, Seq(1f, 0f, 0f, 0f), 2).collect().toSeq)
    assert(e2.search(lsh.id, Seq(0f, 1f, 0f, 0f), 2).collect().toSeq ==
      e.search(lsh.id, Seq(0f, 1f, 0f, 0f), 2).collect().toSeq)
  }

  test("randomized CRUD walk round-trips through the reference format: " +
    "whatever state a mutation sequence leaves, export -> import " +
    "reproduces it exactly") {
    for (seed <- Seq(11L, 23L)) {
      val rng = new scala.util.Random(seed)
      val e = VectorEngine.create(spark)
      val flat = e.createLibrary(s"wf$seed", dim = 4)
      val lsh = e.createLibrary(s"wl$seed", dim = 4,
        indexKind = "random_projection", lshProjections = 4, lshSeed = seed)
      val docs = Seq(
        e.createDocument(flat.id, "a"), e.createDocument(flat.id, "b"),
        e.createDocument(lsh.id, "c"))
      var n = 0
      val metas: Seq[Map[String, Any]] = Seq(
        Map.empty, Map("k" -> 1), Map("k" -> "1"), Map("f" -> 0.5),
        Map("b" -> true, "s" -> "x"))
      (1 to 25).foreach { _ =>
        val d = docs(rng.nextInt(docs.size))
        rng.nextInt(4) match {
          case 0 | 1 => // add
            n += 1
            e.addChunk(d.id, ChunkInput(s"t$n",
              Seq.fill(4)(rng.nextFloat() - 0.5f),
              metas(rng.nextInt(metas.size)), n, Some(s"w$seed-$n")))
          case 2 if n > 0 => // patch a random existing chunk (if alive)
            val id = s"w$seed-${1 + rng.nextInt(n)}"
            try e.patchChunk(id,
              embedding = Some(Seq.fill(4)(rng.nextFloat() - 0.5f)),
              metadata = Some(metas(rng.nextInt(metas.size))))
            catch { case _: NotFoundError => () }
          case _ if n > 0 => // delete (maybe already gone)
            val id = s"w$seed-${1 + rng.nextInt(n)}"
            try e.deleteChunk(id) catch { case _: NotFoundError => () }
          case _ => ()
        }
      }
      val out = graft.operators.Scratch.newDir(s"walk$seed").toString
      e.exportReferenceStore(out)
      val e2 = VectorEngine.create(spark)
      e2.importReferenceStore(out)
      def state(x: VectorEngine) = (
        x.chunksDf.orderBy("id").collect().map(_.toSeq).toSeq,
        x.documentsDf.orderBy("id").collect().map(_.toSeq).toSeq)
      assert(state(e2) == state(e), s"walk seed $seed diverged")
      assert(e2.bucketHistogram(lsh.id) == e.bucketHistogram(lsh.id))
    }
  }

  test("bulk round trip from real testdata (sf0.001, 500 chunks): " +
    "embeddings survive export -> import with search parity") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("bulk", dim = 64, id = Some("bulkLib"))
    e.addDocumentsDf(lib.id, emb
      .select(concat(lit("bd-"), col("label")).as("id")).distinct()
      .select(col("id"), col("id").as("name"),
        typedLit(Map.empty[String, String]).as("metadata")))
    e.addChunksDf(lib.id, emb.select(
      concat(lit("bc"), col("vec_id")).as("id"),
      concat(lit("bd-"), col("label")).as("document_id"),
      concat(lit("v "), col("vec_id")).as("text"),
      col("embedding"),
      map(lit("vid"),
        graft.functions.MetadataFunctions.encodeIntCol(col("vec_id")))
        .as("metadata"),
      col("vec_id").cast("int").as("chunk_index")))
    val n = e.chunkCount(lib.id)
    assert(n == 500, s"expected the sf0.001 embeddings table (500), got $n")
    val out = graft.operators.Scratch.newDir("bulk-export").toString
    val sum = e.exportReferenceStore(out)
    assert(sum.chunks == n)
    val e2 = VectorEngine.create(spark)
    val sum2 = e2.importReferenceStore(out)
    assert(sum2.chunks == n && sum2.documents == e.documentCount(lib.id))
    val qv = emb.where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)
    assert(e2.search(lib.id, qv, k = 10).collect().toSeq ==
      e.search(lib.id, qv, k = 10).collect().toSeq)
    // typed metadata survived at scale: spot-check one chunk
    assert(e2.getChunk("bc42").metadata == Map("vid" -> "i:42"))
  }

  test("export degrades engine-only concepts loudly but usably: an ivf " +
    "library round-trips as flat with its vectors intact") {
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("iv", dim = 4, indexKind = "ivf")
    e.setIvfCentroids(lib.id, Seq(0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 1f, 0f, 0f)))
    val d = e.createDocument(lib.id, "d")
    e.addChunk(d.id, ChunkInput("a", Seq(1f, 0f, 0f, 0f), id = Some("v0")))
    val out = graft.operators.Scratch.newDir("export-ivf").toString
    e.exportReferenceStore(out)
    val e2 = VectorEngine.create(spark)
    e2.importReferenceStore(out)
    val lib2 = e2.getLibrary(lib.id)
    assert(lib2.index_kind == "flat") // the reference has no ivf
    assert(e2.search(lib.id, Seq(1f, 0f, 0f, 0f), 1).collect()
      .head.getString(0) == "v0")
  }

  test("npy writer round-trips through the reader: f4 vectors widen " +
    "exactly, f8 projection matrices survive double-exact") {
    val p4 = graft.operators.Scratch.newDir("npy-w4").resolve("npy-w4.npy")
    val data = Seq(Array(1.5f, -2f, 3f), Array(0.25f, 0f, -0.125f))
    assert(ReferenceStore.writeNpy(p4, data.iterator, 3) == 2L)
    assert(ReferenceStore.readNpyMatrix(p4).map(_.toSeq).toSeq ==
      data.map(_.map(_.toDouble).toSeq))
    val p8 = graft.operators.Scratch.newDir("npy-w8").resolve("npy-w8.npy")
    // a double that does NOT fit float32 exactly must survive — this is
    // why the exported projection sidecar is written <f8
    val m = Seq(Array(0.1d, -1.0000000001d), Array(2.5d, 3.75d))
    ReferenceStore.writeNpyDoubles(p8, m)
    assert(ReferenceStore.readNpyMatrix(p8).map(_.toSeq).toSeq ==
      m.map(_.toSeq))
  }

  test("a metadata value the mapping rejects fails the WHOLE import and " +
    "leaves the engine empty — never partially hydrated") {
    // minimal store with one chunk whose metadata holds a JSON array —
    // a value the reference's Metadata type cannot contain
    val bad = graft.operators.Scratch.newDir("badstore")
    for (sub <- Seq("libraries", "documents", "chunks", "indexes"))
      Files.createDirectories(bad.resolve(sub))
    Files.writeString(bad.resolve("libraries/L1.json"),
      """{"id": "L1", "created_at": "2024-01-01T00:00:00Z",
        | "updated_at": "2024-01-01T00:00:00Z", "name": "l", "description": null,
        | "metadata": {}, "document_count": 1, "chunk_count": 1,
        | "embedding_dimension": 2, "distance_metric": "cosine",
        | "index_kind": "flat"}""".stripMargin)
    Files.writeString(bad.resolve("documents/D1.json"),
      """{"id": "D1", "created_at": "2024-01-01T00:00:00Z",
        | "updated_at": "2024-01-01T00:00:00Z", "library_id": "L1",
        | "name": "d", "metadata": {}, "chunk_count": 1}""".stripMargin)
    Files.writeString(bad.resolve("chunks/C1.json"),
      """{"id": "C1", "created_at": "2024-01-01T00:00:00Z",
        | "updated_at": "2024-01-01T00:00:00Z", "document_id": "D1",
        | "text": "t", "embedding": [1.0, 0.0],
        | "metadata": {"tags": ["a", "b"]}, "chunk_index": 0}""".stripMargin)
    val e = VectorEngine.create(spark)
    val err = intercept[Exception] { e.importReferenceStore(bad.toString) }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("unsupported metadata value type")),
      s"unexpected error: ${messages(err)}")
    // the failed import installed NOTHING: the engine is still empty and
    // a clean retry path (fix the store, import again) remains open
    assert(e.librariesDf.count() == 0 && e.documentsDf.count() == 0 &&
      e.chunksDf.count() == 0)
    // non-object metadata is named too (not the opaque variant-cast
    // error). A JSON NUMBER exercises the guard: Spark's StringType read
    // hands scalar fields back as their bare value, which parse_json
    // still parses ("123" -> BIGINT) — string scalars fail earlier with
    // the JSON source's own loud malformed-record error.
    Files.writeString(bad.resolve("chunks/C1.json"),
      """{"id": "C1", "created_at": "2024-01-01T00:00:00Z",
        | "updated_at": "2024-01-01T00:00:00Z", "document_id": "D1",
        | "text": "t", "embedding": [1.0, 0.0],
        | "metadata": 123, "chunk_index": 0}""".stripMargin)
    val err2 = intercept[Exception] { e.importReferenceStore(bad.toString) }
    assert(messages(err2).exists(_.contains("metadata is not a JSON object")),
      s"unexpected error: ${messages(err2)}")
    assert(e.chunksDf.count() == 0)
  }

  test("guards: non-empty engine, missing store, malformed npy") {
    val e = VectorEngine.create(spark)
    e.createLibrary("occupied", 4)
    intercept[ConflictError] { e.importReferenceStore(Store) }
    val e2 = VectorEngine.create(spark)
    intercept[StorageError] { e2.importReferenceStore("/tmp/nope-refstore") }
    intercept[StorageError] {
      ReferenceStore.readNpyMatrix(Paths.get(s"$Store/manifest.json"))
    }
  }

  test("import validates entity timestamps up front: a document or chunk " +
    "with a missing/unparseable created_at fails loudly AT IMPORT") {
    val bad = graft.operators.Scratch.newDir("badts")
    for (sub <- Seq("libraries", "documents", "chunks", "indexes"))
      Files.createDirectories(bad.resolve(sub))
    Files.writeString(bad.resolve("libraries/L1.json"),
      """{"id": "L1", "created_at": "2024-01-01T00:00:00Z",
        | "updated_at": "2024-01-01T00:00:00Z", "name": "l", "description": null,
        | "metadata": {}, "document_count": 1, "chunk_count": 1,
        | "embedding_dimension": 2, "distance_metric": "cosine",
        | "index_kind": "flat"}""".stripMargin)
    // document with NO created_at at all
    Files.writeString(bad.resolve("documents/D1.json"),
      """{"id": "D1",
        | "updated_at": "2024-01-01T00:00:00Z", "library_id": "L1",
        | "name": "d", "metadata": {}, "chunk_count": 1}""".stripMargin)
    Files.writeString(bad.resolve("chunks/C1.json"),
      """{"id": "C1", "created_at": "2024-01-01T00:00:00Z",
        | "updated_at": "2024-01-01T00:00:00Z", "document_id": "D1",
        | "text": "t", "embedding": [1.0, 0.0],
        | "metadata": {}, "chunk_index": 0}""".stripMargin)
    val e = VectorEngine.create(spark)
    val err = intercept[StorageError] { e.importReferenceStore(bad.toString) }
    assert(err.getMessage.contains("malformed document JSON"))
    assert(e.librariesDf.count() == 0)
    // fix the document, break the chunk with an unparseable updated_at
    Files.writeString(bad.resolve("documents/D1.json"),
      """{"id": "D1", "created_at": "2024-01-01T00:00:00Z",
        | "updated_at": "2024-01-01T00:00:00Z", "library_id": "L1",
        | "name": "d", "metadata": {}, "chunk_count": 1}""".stripMargin)
    Files.writeString(bad.resolve("chunks/C1.json"),
      """{"id": "C1", "created_at": "2024-01-01T00:00:00Z",
        | "updated_at": "not-a-timestamp", "document_id": "D1",
        | "text": "t", "embedding": [1.0, 0.0],
        | "metadata": {}, "chunk_index": 0}""".stripMargin)
    val err2 = intercept[StorageError] { e.importReferenceStore(bad.toString) }
    assert(err2.getMessage.contains("malformed chunk JSON"))
    assert(e.chunksDf.count() == 0)
  }

  test("a corrupt LSH sidecar listing one chunk in two buckets fails " +
    "with a SIDECAR error, not a misdirected duplicate-chunk-ids error") {
    val bad = graft.operators.Scratch.newDir("badsidecar")
    for (sub <- Seq("libraries", "documents", "chunks", "indexes"))
      Files.createDirectories(bad.resolve(sub))
    Files.writeString(bad.resolve("libraries/L1.json"),
      """{"id": "L1", "created_at": "2024-01-01T00:00:00Z",
        | "updated_at": "2024-01-01T00:00:00Z", "name": "l", "description": null,
        | "metadata": {}, "document_count": 1, "chunk_count": 1,
        | "embedding_dimension": 2, "distance_metric": "cosine",
        | "index_kind": "random_projection"}""".stripMargin)
    Files.writeString(bad.resolve("documents/D1.json"),
      """{"id": "D1", "created_at": "2024-01-01T00:00:00Z",
        | "updated_at": "2024-01-01T00:00:00Z", "library_id": "L1",
        | "name": "d", "metadata": {}, "chunk_count": 1}""".stripMargin)
    Files.writeString(bad.resolve("chunks/C1.json"),
      """{"id": "C1", "created_at": "2024-01-01T00:00:00Z",
        | "updated_at": "2024-01-01T00:00:00Z", "document_id": "D1",
        | "text": "t", "embedding": [1.0, 0.0],
        | "metadata": {}, "chunk_index": 0}""".stripMargin)
    // sidecar: C1 in bucket "0" AND bucket "1" — the corruption
    Files.writeString(bad.resolve("indexes/L1.json"),
      """{"library_id": "L1", "num_projections": 2, "dimension": 2,
        | "random_state": 42,
        | "buckets": {"0": ["C1"], "1": ["C1"]}}""".stripMargin)
    ReferenceStore.writeNpyDoubles(bad.resolve("indexes/L1.projections.npy"),
      Seq(Array(1.0, 0.0), Array(0.0, 1.0)))
    val e = VectorEngine.create(spark)
    val err = intercept[StorageError] { e.importReferenceStore(bad.toString) }
    assert(err.getMessage.contains("sidecar") &&
      err.getMessage.contains("multiple buckets"),
      s"repair must point at the sidecar: ${err.getMessage}")
    assert(e.librariesDf.count() == 0)
  }

  test("shared npy header builder: oversized header dict raises a named " +
    "StorageError (the loud overflow guard both writers share)") {
    val hb = ReferenceStore.npyHeader("<f4", 123L, 45)
    assert(hb.remaining() == 128)
    intercept[StorageError] {
      ReferenceStore.npyHeader("<f4" + "x" * 120, 1L, 1)
    }
  }

  test("npy reader: v1 little-endian f4 round-trip") {
    // header built by hand to the public numpy format spec
    val header = "{'descr': '<f4', 'fortran_order': False, 'shape': (2, 3), }"
    val pad = (64 - (10 + header.length + 1) % 64) % 64
    val full = header + (" " * pad) + "\n"
    val bb = java.nio.ByteBuffer
      .allocate(10 + full.length + 24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(0x93.toByte).put("NUMPY".getBytes("US-ASCII"))
      .put(1.toByte).put(0.toByte)
      .putShort(full.length.toShort)
      .put(full.getBytes("US-ASCII"))
    Seq(1.5f, -2.25f, 3f, 0f, 42f, -0.5f).foreach(bb.putFloat)
    val p = graft.operators.Scratch.newDir("npy-spec").resolve("npy-spec.npy")
    Files.write(p, bb.array())
    val m = ReferenceStore.readNpyMatrix(p)
    assert(m.map(_.toSeq).toSeq ==
      Seq(Seq(1.5f, -2.25f, 3f), Seq(0f, 42f, -0.5f)))
  }
}
