package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import graft.engine._

/** The at-rest layout contract: a save clusters each library partition by
  * the index key (sortWithinPartitions("library_id", "bucket")), so a
  * REOPENED engine's probe — an `isin` filter on the stored bucket column —
  * skips parquet row groups via footer min/max stats instead of scanning
  * the whole library partition. Asserted on the EXECUTED scan's
  * numOutputRows metric (inputFiles/explain strings report pre-pruning
  * state and cannot gate this). Small row groups are forced with
  * parquet.block.size so sf-test-sized data exhibits the 100 TB behavior.
  */
class PersistenceLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Collect FileSourceScanExec nodes through AQE/query-stage wrappers. */
  private def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      fileScans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(fileScans)
  }

  /** Deterministic synthetic chunk batch: n rows of dim-d float vectors. */
  private def synthBatch(n: Int, d: Int, docId: String, prefix: String) =
    spark.range(n).select(
      concat(lit(prefix), col("id")).as("id"),
      lit(docId).as("document_id"),
      lit("t").as("text"),
      array((0 until d).map(i => sin(col("id") * (i * 7 + 3)).cast("float")): _*)
        .as("embedding"),
      typedLit(Map.empty[String, String]).as("metadata"),
      col("id").cast("int").as("chunk_index"))

  /** Save with small parquet row groups so row-group pruning is observable
    * at test scale (one row group per file would hide it). */
  private def saveSmallRowGroups(e: VectorEngine, dir: String): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val old = Option(hc.get("parquet.block.size"))
    hc.setInt("parquet.block.size", 16 * 1024)
    try e.save(dir)
    finally old match {
      case Some(v) => hc.set("parquet.block.size", v)
      case None => hc.unset("parquet.block.size")
    }
  }

  test("reopened LSH adaptive probe skips row groups: the executed scan " +
    "reads a fraction of the library partition, filter pushed to parquet") {
    val n = 4000
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("clustered", dim = 8,
      indexKind = VectorEngine.IndexKindLsh, lshProjections = 8)
    val doc = e.createDocument(lib.id, "d")
    e.addChunksDf(lib.id, synthBatch(n, 8, doc.id, "c"))
    val dir = graft.operators.Scratch.newDir("layout-lsh").toString
    saveSmallRowGroups(e, dir)
    val e2 = VectorEngine.open(spark, dir)

    val q = (0 until 8).map(i => math.sin(17.0 * (i * 7 + 3)).toFloat)
    // tight probe budget -> few buckets -> few row groups under the
    // clustered layout (an unclustered one reads every row group: each
    // spans the full bucket range and min/max prunes nothing). The
    // single-bucket and Hamming-1 probes prune the same way.
    Seq(VectorEngine.ProbeAdaptive, VectorEngine.ProbeSingle, VectorEngine.ProbeMulti)
      .foreach { mode =>
        val res = e2.search(lib.id, q, k = 5, probe = mode, adaptiveMultiplier = 1)
        val rows = res.collect()
        assert(rows.length == 5, mode)
        // identical results to the pre-save engine (layout is invisible to
        // semantics)
        assert(rows.toSeq.toString == e.search(lib.id, q, k = 5, probe = mode,
          adaptiveMultiplier = 1).collect().toSeq.toString, mode)
        val scan = fileScans(res.queryExecution.executedPlan).head
        assert(scan.metadata("PushedFilters").contains("In(bucket"),
          s"$mode: bucket filter not pushed to parquet: ${scan.metadata("PushedFilters")}")
        val read = scan.metrics("numOutputRows").value
        assert(read > 0 && read < n / 2,
          s"$mode: probe scan read $read of $n rows — row groups not skipped")
      }
  }

  test("reopened IVF cell probe skips row groups the same way") {
    val n = 4000
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("clustered-ivf", dim = 8,
      indexKind = VectorEngine.IndexKindIvf)
    // 8 deterministic centroids spread over the sin-vector space
    e.setIvfCentroids(lib.id, (0 until 8).map { c =>
      c.toLong -> (0 until 8).map(i => math.sin((c * 911 + 1) * (i * 7 + 3)).toFloat)
    })
    val doc = e.createDocument(lib.id, "d")
    e.addChunksDf(lib.id, synthBatch(n, 8, doc.id, "v"))
    val dir = graft.operators.Scratch.newDir("layout-ivf").toString
    saveSmallRowGroups(e, dir)
    val e2 = VectorEngine.open(spark, dir)

    val q = (0 until 8).map(i => math.sin(911.0 * (i * 7 + 3)).toFloat)
    val res = e2.search(lib.id, q, k = 5, nprobeOpt = Some(1))
    assert(res.collect().length == 5)
    val scan = fileScans(res.queryExecution.executedPlan)
      .filter(_.metadata("PushedFilters").contains("bucket"))
    assert(scan.nonEmpty, "no scan with a pushed bucket filter in the probe plan")
    val read = scan.map(_.metrics("numOutputRows").value).min
    assert(read > 0 && read < n / 2,
      s"probe scan read $read of $n rows — row groups not skipped")
  }

  test("rebuildIndexKeys() reproduces the stored keys exactly (S5: load " +
    "trusts the stored column; the rebuild is the explicit healing path)") {
    val e = VectorEngine.create(spark)
    val lib = e.createLibrary("heal", dim = 8,
      indexKind = VectorEngine.IndexKindLsh, lshProjections = 8)
    val doc = e.createDocument(lib.id, "d")
    e.addChunksDf(lib.id, synthBatch(500, 8, doc.id, "h"))
    val dir = graft.operators.Scratch.newDir("layout-heal").toString
    e.save(dir)
    val e2 = VectorEngine.open(spark, dir)
    val stored = e2.chunksDf.select("id", "bucket").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    e2.rebuildIndexKeys()
    val rebuilt = e2.chunksDf.select("id", "bucket").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rebuilt == stored)
    // histogram still consistent after the rebuild marked it stale
    assert(e2.bucketHistogram(lib.id) ==
      e2.chunksDf.groupBy("bucket").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  /** Every entity table of `e`, each collected in id order with its
    * columns by name (a reopened chunks table puts its partition column
    * last), and the libraries' histograms. */
  private def state(e: VectorEngine, libs: Seq[String]) = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col): _*).orderBy("id").collect().toSeq
    (rows(e.librariesDf), rows(e.documentsDf), rows(e.chunksDf),
      libs.map(e.bucketHistogram))
  }

  /** A flat and an LSH library with rows, and no ivf, pq or Bloom model. */
  private def modelFreeEngine(): (VectorEngine, Seq[String]) = {
    val e = VectorEngine.create(spark)
    val libs = Seq(VectorEngine.IndexKindFlat, VectorEngine.IndexKindLsh).map { kind =>
      val lib = e.createLibrary(kind, dim = 8, indexKind = kind, lshProjections = 4)
      val doc = e.createDocument(lib.id, "d")
      e.addChunksDf(lib.id, synthBatch(50, 8, doc.id, kind))
      lib.id
    }
    (e, libs)
  }

  private def versionDir(dir: String): String =
    s"$dir/" + java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/MANIFEST")).trim

  test("save writes no parquet for an empty model table; the reopened " +
    "engine equals the saved one") {
    val (e, libs) = modelFreeEngine()
    val dir = graft.operators.Scratch.newDir("layout-optional").toString
    e.save(dir)
    val base = versionDir(dir)
    def written(table: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/$table.parquet"))
    Seq("centroids", "pq_codebooks", "blooms").foreach(t => assert(!written(t), t))
    Seq("libraries", "documents", "matrices", "histograms").foreach(t => assert(written(t), t))
    assert(state(VectorEngine.open(spark, dir), libs) == state(e, libs))
  }

  test("a state dir whose model tables exist but hold no rows still opens " +
    "and equals the saved engine") {
    import spark.implicits._
    val (e, libs) = modelFreeEngine()
    val dir = graft.operators.Scratch.newDir("layout-empty-models").toString
    e.save(dir)
    val base = versionDir(dir)
    // the layout earlier builds wrote: every model table present, empty
    def writeEmpty(ds: org.apache.spark.sql.Dataset[_], table: String): Unit =
      ds.write.mode("overwrite").parquet(s"$base/$table.parquet")
    writeEmpty(Seq.empty[VectorEngine.CentroidRow].toDS(), "centroids")
    writeEmpty(Seq.empty[VectorEngine.PqRow].toDS(), "pq_codebooks")
    writeEmpty(Seq.empty[VectorEngine.HistRow].toDS(), "histograms")
    writeEmpty(Seq.empty[VectorEngine.BloomRow].toDS(), "blooms")
    assert(state(VectorEngine.open(spark, dir), libs) == state(e, libs))
  }
}
