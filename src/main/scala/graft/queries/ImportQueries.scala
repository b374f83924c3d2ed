package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.engine._

/** Reference-store IMPORT under the oracle gate: the committed
  * `fixtures/refstore` was written by the REFERENCE'S OWN DiskVectorStore
  * (tools/make_refstore.py — byte-genuine reference output, not our idea
  * of the format), `VectorEngine.importReferenceStore` hydrates it, and
  * every row below searches the imported (and save/reopen-cycled) engine
  * while DuckDB recomputes the expected answer from the SAME JSON bytes.
  * A mis-mapped field, a type-erased metadata value, or a mis-adopted LSH
  * bucket hash-mismatches here.
  *
  * Layout provenance: reference disk_store.py:37-43 (directories),
  * :100-116 (entity JSON), indexes.py:262-287 (LSH sidecar + .npy).
  */
object ImportQueries {

  private[queries] val RefstoreDir: String = s"${AnnQueries.FixturesDir}/refstore"
  // The LSH library's sidecar file name is its uuid5 id — stable committed
  // fixture bytes (tools/make_refstore.py pins every id), safe to name in
  // the oracle SQL where a path must be a literal.
  private val LshLibId = "179f2fd8-7ad2-5559-baaf-2cf8b6711157"

  /** One import + save + reopen per process ([[Artifacts]]): every row's
    * deliverable is the REOPENED engine (import -> persist -> open ->
    * search), the same honest split as EngineQueries' lifecycle states. */
  private def imported(s: SparkSession): (VectorEngine, String, String) =
    Artifacts.memo(s, RefstoreDir, "import") { state =>
      val eng = VectorEngine.create(s)
      eng.importReferenceStore(RefstoreDir)
      eng.save(state)
      val eng2 = VectorEngine.open(s, state)
      def libId(name: String): String =
        eng2.librariesDf.where(col("name") === name).select("id")
          .head().getString(0)
      (eng2, libId("corpus-flat"), libId("corpus-lsh"))
    }

  /** The embedding of a named document's chunk_index-0 chunk, read back
    * from the imported engine itself (self-contained — no dependence on
    * the sf tables). */
  private def chunkVec(s: SparkSession, docName: String): Seq[Float] = {
    val (eng, _, _) = imported(s)
    val did = eng.documentsDf.where(col("name") === docName).select("id")
      .head().getString(0)
    eng.chunksDf
      .where(col("document_id") === did && col("chunk_index") === 0)
      .select("embedding").head().getSeq[Float](0)
  }

  /** Shared oracle prologue: the flat library's chunks (+ the f1/0 query
    * vector) straight from the store's JSON. */
  private def flatProlog: String =
    s"""WITH lib AS (SELECT id::VARCHAR AS lid
       |            FROM read_json('$RefstoreDir/libraries/*.json')
       |            WHERE name = 'corpus-flat'),
       |docs AS (SELECT id::VARCHAR AS did, name
       |         FROM read_json('$RefstoreDir/documents/*.json')
       |         WHERE library_id::VARCHAR IN (SELECT lid FROM lib)),
       |c AS (SELECT id::VARCHAR AS chunk_id, document_id::VARCHAR AS did,
       |             embedding::DOUBLE[] AS v, chunk_index, metadata
       |      FROM read_json('$RefstoreDir/chunks/*.json')
       |      WHERE document_id::VARCHAR IN (SELECT did FROM docs)),
       |q AS (SELECT c.v AS qv FROM c JOIN docs ON c.did = docs.did
       |      WHERE docs.name = 'f1' AND c.chunk_index = 0)""".stripMargin

  /** Import round-trip + flat cosine search (the library's stored
    * metric): the migration core — ids, embeddings, and the distance
    * pipeline all survive JSON -> engine -> parquet -> reopen. */
  private val importSearch: QueryFn = (s, _) => {
    val (eng, flat, _) = imported(s)
    eng.search(flat, chunkVec(s, "f1"), k = 10)
  }

  private val importSearchSql: String = {
    val cos = VectorSearchQueries.distSql("cosine", "v", "qv")
    s"""$flatProlog
       |SELECT chunk_id, round($cos, 6) + 0 AS distance
       |FROM c, q ORDER BY distance, chunk_id LIMIT 10""".stripMargin
  }

  /** Typed-metadata filtered search post-import (string + boolean
    * values): the reference's `{"lang": "en", "good": true}` must filter
    * exactly after the JSON -> typed-prefix mapping. */
  private val importFiltered: QueryFn = (s, _) => {
    val (eng, flat, _) = imported(s)
    eng.search(flat, chunkVec(s, "f1"), k = 5,
      filters = Map("lang" -> "en", "good" -> true))
  }

  private val importFilteredSql: String = {
    val cos = VectorSearchQueries.distSql("cosine", "v", "qv")
    s"""$flatProlog
       |SELECT chunk_id, round($cos, 6) + 0 AS distance
       |FROM c, q WHERE metadata.lang = 'en' AND metadata.good
       |ORDER BY distance, chunk_id LIMIT 5""".stripMargin
  }

  /** The int-vs-string TRAP through the importer (int + float values):
    * the fixture's page-10 chunk also carries `page_str: "10"` — an
    * importer that erased value types (everything to strings) would make
    * `page == 10` match nothing (i:10 vs s:10) and this row would
    * rows-mismatch. `score == 2.5` gates the float mapping the same
    * way. */
  private val importTypedTrap: QueryFn = (s, _) => {
    val (eng, flat, _) = imported(s)
    eng.search(flat, chunkVec(s, "f1"), k = 5,
      filters = Map("page" -> 10, "score" -> 2.5))
  }

  private val importTypedTrapSql: String = {
    val cos = VectorSearchQueries.distSql("cosine", "v", "qv")
    s"""$flatProlog
       |SELECT chunk_id, round($cos, 6) + 0 AS distance
       |FROM c, q WHERE metadata.page = 10 AND metadata.score = 2.5
       |ORDER BY distance, chunk_id LIMIT 5""".stripMargin
  }

  /** LSH bucket ADOPTION: the imported chunks table's stored bucket
    * column must be exactly the sidecar's bucket assignment (trusted on
    * import like `open` trusts the engine's own stored keys). The oracle
    * reads the sidecar's buckets map itself. */
  private val importLshBuckets: QueryFn = (s, _) => {
    val (eng, _, lsh) = imported(s)
    eng.chunksDf.where(col("library_id") === lsh)
      .select(col("id").as("chunk_id"), col("bucket"))
      .orderBy("chunk_id")
  }

  private val importLshBucketsSql: String =
    s"""SELECT vid AS chunk_id, CAST(b.key AS BIGINT) AS bucket
       |FROM (SELECT unnest(map_entries(buckets)) AS b
       |      FROM read_json('$RefstoreDir/indexes/$LshLibId.json',
       |                     columns={'buckets': 'MAP(VARCHAR, VARCHAR[])'})),
       |     unnest(b.value) AS u(vid)
       |ORDER BY chunk_id""".stripMargin

  /** Search on the imported LSH library under the reference's strict
    * single-bucket two-phase semantics (probe="single"): every sidecar
    * bucket holds one vector, so k=10 trips the `< k` exhaustive
    * fallback (indexes.py:222-224) over the imported rows — euclidean,
    * the library's stored metric. */
  private val importLshSearch: QueryFn = (s, _) => {
    val (eng, _, lsh) = imported(s)
    eng.search(lsh, chunkVec(s, "l1"), k = 10,
      probe = VectorEngine.ProbeSingle)
  }

  private val importLshSearchSql: String =
    s"""WITH lib AS (SELECT id::VARCHAR AS lid
       |            FROM read_json('$RefstoreDir/libraries/*.json')
       |            WHERE name = 'corpus-lsh'),
       |docs AS (SELECT id::VARCHAR AS did, name
       |         FROM read_json('$RefstoreDir/documents/*.json')
       |         WHERE library_id::VARCHAR IN (SELECT lid FROM lib)),
       |c AS (SELECT id::VARCHAR AS chunk_id, document_id::VARCHAR AS did,
       |             embedding::DOUBLE[] AS v, chunk_index
       |      FROM read_json('$RefstoreDir/chunks/*.json')
       |      WHERE document_id::VARCHAR IN (SELECT did FROM docs)),
       |q AS (SELECT c.v AS qv FROM c JOIN docs ON c.did = docs.did
       |      WHERE docs.name = 'l1' AND c.chunk_index = 0)
       |SELECT chunk_id, round(list_distance(v, qv), 6) + 0 AS distance
       |FROM c, q ORDER BY distance, chunk_id LIMIT 10""".stripMargin

  /** EXPORT round-trip (bidirectional migration): the fixture store is
    * imported, EXPORTED back to the reference's on-disk format
    * (exportReferenceStore — per-entity JSON, sidecars, .npy), and
    * re-imported into a fresh engine. Every row below queries the
    * re-imported engine while the oracle still reads the ORIGINAL
    * committed fixture bytes — any information the export path loses
    * (an embedding digit, a metadata type, a bucket assignment)
    * hash-mismatches. */
  private def roundTripped(s: SparkSession): (VectorEngine, String, String) =
    Artifacts.memo(s, RefstoreDir, "export") { out =>
      val first = VectorEngine.create(s)
      first.importReferenceStore(RefstoreDir)
      first.exportReferenceStore(out)
      val eng = VectorEngine.create(s)
      eng.importReferenceStore(out)
      def libId(name: String): String =
        eng.librariesDf.where(col("name") === name).select("id")
          .head().getString(0)
      (eng, libId("corpus-flat"), libId("corpus-lsh"))
    }

  private val exportRoundtrip: QueryFn = (s, _) => {
    val (eng, flat, _) = roundTripped(s)
    eng.search(flat, chunkVec(s, "f1"), k = 10)
  }

  private val exportTypedTrap: QueryFn = (s, _) => {
    val (eng, flat, _) = roundTripped(s)
    eng.search(flat, chunkVec(s, "f1"), k = 5,
      filters = Map("page" -> 10, "score" -> 2.5))
  }

  private val exportLshBuckets: QueryFn = (s, _) => {
    val (eng, _, lsh) = roundTripped(s)
    eng.chunksDf.where(col("library_id") === lsh)
      .select(col("id").as("chunk_id"), col("bucket"))
      .orderBy("chunk_id")
  }

  val all: Seq[Q] = Seq(
    Q("lifecycle_import_refstore", importSearch, Some(importSearchSql)),
    Q("lifecycle_import_filtered", importFiltered, Some(importFilteredSql)),
    Q("lifecycle_import_typed_trap", importTypedTrap, Some(importTypedTrapSql)),
    Q("lifecycle_import_lsh_buckets", importLshBuckets, Some(importLshBucketsSql)),
    Q("lifecycle_import_lsh_search", importLshSearch, Some(importLshSearchSql)),
    // export round-trip rows reuse the import oracles verbatim: the
    // re-imported engine must be indistinguishable from the original
    Q("lifecycle_export_roundtrip", exportRoundtrip, Some(importSearchSql)),
    Q("lifecycle_export_typed_trap", exportTypedTrap, Some(importTypedTrapSql)),
    Q("lifecycle_export_lsh_buckets", exportLshBuckets, Some(importLshBucketsSql)),
  )
}
