package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._
import graft.operators.LshIndex

/** GraftSettings — the env/.env/options configuration surface
  * (reference config.py:11-47) — and the bounded filtered-probe
  * histogram collect it configures. */
class SettingsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  private def writeEnvFile(lines: String*): java.nio.file.Path = {
    val p = graft.operators.Scratch.newDir("env").resolve("settings.env")
    java.nio.file.Files.writeString(p, lines.mkString("\n"))
    p
  }

  test("precedence: overrides > env > .env file > defaults (pydantic " +
    "BaseSettings order, config.py model_config)") {
    val file = writeEnvFile(
      "# comment",
      "",
      s"${GraftSettings.EnvStateDir} = '/from/file'",
      s"${GraftSettings.EnvAdaptiveMultiplier}=80",
      s"${GraftSettings.EnvDefaultProbe}=\"single\"")
    // file only
    val fromFile = GraftSettings.load(env = Map.empty, envFile = Some(file))
    assert(fromFile.stateDir == "/from/file")
    assert(fromFile.adaptiveMultiplier == 80)
    assert(fromFile.defaultProbe == VectorEngine.ProbeSingle)
    assert(fromFile.storageType == GraftSettings.StorageMemory) // default
    // env beats file
    val fromEnv = GraftSettings.load(
      env = Map(GraftSettings.EnvStateDir -> "/from/env"),
      envFile = Some(file))
    assert(fromEnv.stateDir == "/from/env")
    assert(fromEnv.adaptiveMultiplier == 80) // file still fills the rest
    // overrides beat env
    val fromOpts = GraftSettings.load(
      env = Map(GraftSettings.EnvStateDir -> "/from/env"),
      envFile = Some(file),
      overrides = Map(GraftSettings.EnvStateDir -> "/from/opts",
        GraftSettings.EnvMaxHistBuckets -> "7"))
    assert(fromOpts.stateDir == "/from/opts")
    assert(fromOpts.maxAdaptiveHistBuckets == 7)
    // nothing set anywhere -> defaults
    val d = GraftSettings.load(env = Map.empty, envFile = None)
    assert(d == GraftSettings.Defaults)
  }

  test("validation fails at load time: bad probe, bad int, bad storage, " +
    "bad level; python level aliases map") {
    def bad(k: String, v: String) = intercept[ValidationError] {
      GraftSettings.load(env = Map(k -> v), envFile = None)
    }
    bad(GraftSettings.EnvDefaultProbe, "quantum")
    bad(GraftSettings.EnvAdaptiveMultiplier, "many")
    bad(GraftSettings.EnvAdaptiveMultiplier, "0")
    bad(GraftSettings.EnvMaxHistBuckets, "-3")
    bad(GraftSettings.EnvStorageType, "tape")
    bad(GraftSettings.EnvLogLevel, "LOUD")
    val s = GraftSettings.load(
      env = Map(GraftSettings.EnvLogLevel -> "warning"), envFile = None)
    assert(s.logLevel.contains("WARN")) // WARNING (python) -> WARN (log4j)
  }

  test("a key SET to an empty value fails validation instead of silently " +
    "masking lower-precedence values with the default") {
    def bad(k: String) = intercept[ValidationError] {
      GraftSettings.load(env = Map(k -> ""), envFile = None)
    }
    bad(GraftSettings.EnvDefaultProbe)
    bad(GraftSettings.EnvStorageType)
    bad(GraftSettings.EnvAdaptiveMultiplier)
    bad(GraftSettings.EnvStateDir)
    bad(GraftSettings.EnvLogLevel)
  }

  test("boot(): disk storage creates fresh when the state dir is empty, " +
    "REOPENS it when it holds saved state; save() writes to the " +
    "configured dir (config.py storage_type/data_dir + ensure_data_dir)") {
    val dir = graft.operators.Scratch.newDir("boot").toString
    val opts = Map(
      GraftSettings.EnvStorageType -> GraftSettings.StorageDisk,
      GraftSettings.EnvStateDir -> dir)
    val e = VectorEngine.boot(spark, options = opts, env = Map.empty,
      envFile = None)
    assert(e.listLibraries().total == 0) // fresh: no MANIFEST yet
    val lib = e.createLibrary("booted", dim = 4)
    val doc = e.createDocument(lib.id, "d")
    e.addChunk(doc.id, ChunkInput("x", vec(1, 0, 0, 0), id = Some("b0")))
    e.save() // no-arg save -> settings.stateDir
    val e2 = VectorEngine.boot(spark, options = opts, env = Map.empty,
      envFile = None)
    assert(e2.getChunk("b0").text == "x") // reopened, not recreated
    assert(e2.chunkCount(lib.id) == 1)
    // memory storage (the default) always creates fresh
    val e3 = VectorEngine.boot(spark, env = Map.empty, envFile = None)
    assert(e3.listLibraries().total == 0)
  }

  test("engine honors the configured default probe mode: a " +
    "defaultProbe=multiprobe engine searches like an explicit " +
    "probe=multiprobe call") {
    val s = GraftSettings.Defaults.copy(defaultProbe = VectorEngine.ProbeMulti)
    val e = VectorEngine.create(spark, s)
    val lib = e.createLibrary("dp", dim = 4,
      indexKind = VectorEngine.IndexKindLsh, lshProjections = 4,
      lshSeed = 123L)
    val doc = e.createDocument(lib.id, "d")
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("a", vec(1, 0, 0, 0), id = Some("p0")),
      ChunkInput("b", vec(0.9, 0.1, 0, 0), id = Some("p1")),
      ChunkInput("c", vec(0, 1, 0, 0), id = Some("p2")),
      ChunkInput("d", vec(-1, 0, 0, 0), id = Some("p3"))))
    val q = vec(1, 0.1, 0, 0)
    val implicit_ = e.search(lib.id, q, 2).collect().toSeq
    val explicit_ = e.search(lib.id, q, 2,
      probe = VectorEngine.ProbeMulti).collect().toSeq
    assert(implicit_.toString == explicit_.toString)
  }

  test("FILTERED adaptive search past the histogram-collect bound falls " +
    "back to multi-probe (never an unbounded driver collect): single and " +
    "batch paths, operator path too") {
    // cap = 1: any allow-set spanning >= 2 buckets overflows the bound
    val s = GraftSettings.Defaults.copy(maxAdaptiveHistBuckets = 1)
    val e = VectorEngine.create(spark, s)
    val lib = e.createLibrary("cap", dim = 4,
      indexKind = VectorEngine.IndexKindLsh, lshProjections = 4,
      lshSeed = 123L)
    val doc = e.createDocument(lib.id, "d")
    e.addChunksBatch(doc.id, Seq(
      ChunkInput("a", vec(1, 0, 0, 0), Map("t" -> 1), 0, Some("f0")),
      ChunkInput("b", vec(0.9, 0.1, 0, 0), Map("t" -> 1), 1, Some("f1")),
      ChunkInput("c", vec(0, 1, 0, 0), Map("t" -> 1), 2, Some("f2")),
      ChunkInput("d", vec(-1, 0, 0, 0), Map("t" -> 1), 3, Some("f3")),
      ChunkInput("e", vec(0, -1, 0, 0), Map("t" -> 2), 4, Some("f4"))))
    val q = vec(1, 0.1, 0, 0)
    val filt: Map[String, Any] = Map("t" -> 1)
    val adaptive = e.search(lib.id, q, 3, filters = filt).collect().toSeq
    val multi = e.search(lib.id, q, 3, filters = filt,
      probe = VectorEngine.ProbeMulti).collect().toSeq
    assert(adaptive.toString == multi.toString)
    // UNfiltered search still uses the maintained histogram (no bound in
    // play): equal to a generous-cap engine's result
    val free = VectorEngine.create(spark, GraftSettings.Defaults)
    val lib2 = free.createLibrary("cap2", dim = 4,
      indexKind = VectorEngine.IndexKindLsh, lshProjections = 4,
      lshSeed = 123L)
    val doc2 = free.createDocument(lib2.id, "d")
    free.addChunksBatch(doc2.id, Seq(
      ChunkInput("a", vec(1, 0, 0, 0), Map("t" -> 1), 0, Some("f0")),
      ChunkInput("b", vec(0.9, 0.1, 0, 0), Map("t" -> 1), 1, Some("f1")),
      ChunkInput("c", vec(0, 1, 0, 0), Map("t" -> 1), 2, Some("f2")),
      ChunkInput("d", vec(-1, 0, 0, 0), Map("t" -> 1), 3, Some("f3")),
      ChunkInput("e", vec(0, -1, 0, 0), Map("t" -> 2), 4, Some("f4"))))
    assert(e.search(lib.id, q, 3).collect().toSeq.toString ==
      free.search(lib2.id, q, 3).collect().toSeq.toString)
    // batch parity under the bound, against the operator-level
    // multi-probe search over the allow-set (`search` is itself a
    // one-query searchBatch)
    val batch = e.searchBatch(lib.id, Seq(0L -> q), 3, filters = filt)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    val m = e.lshProjectionMatrix(lib.id)
    val qLit = array(q.map(x => lit(x)): _*).cast("array<float>")
    val allowSet = e.chunksDf.where(col("library_id") === lib.id)
      .where(graft.functions.MetadataFunctions.filterPredicate(col("metadata"), filt))
    val ref = LshIndex.searchMultiProbe(allowSet,
      spark.range(1).select(qLit.as("qvec"),
        graft.functions.VectorFunctions.lshBucket(qLit, m).as("qbucket")),
      "embedding", "cosine", 3, m.length, idCol = "id")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(batch == ref)
    // operator-level: searchAdaptive with an overflowing bound ==
    // searchMultiProbe
    val cfg = LshIndex.Config(numProjections = 4, dim = 4, seed = 123L)
    import spark.implicits._
    val data = Seq(
      ("v0", Seq(1f, 0f, 0f, 0f)), ("v1", Seq(0.9f, 0.1f, 0f, 0f)),
      ("v2", Seq(0f, 1f, 0f, 0f)), ("v3", Seq(-1f, 0f, 0f, 0f)),
      ("v4", Seq(0f, -1f, 0f, 0f))).toDF("vec_id", "embedding")
    val indexed = LshIndex.withBucket(data, col("embedding"), cfg)
    val qv = Seq(1f, 0.1f, 0f, 0f)
    val qdf = spark.range(1).select(
      typedLit(qv).cast("array<float>").as("qvec"))
      .withColumn("qbucket",
        graft.functions.VectorFunctions.lshBucket(col("qvec"), cfg.matrix))
    val viaBound = LshIndex.searchAdaptive(indexed, qv, cfg.matrix,
      "cosine", 3, maxHistBuckets = 1).collect().toSeq
    val viaMulti = LshIndex.searchMultiProbe(indexed, qdf, "embedding",
      "cosine", 3, cfg.numProjections).collect().toSeq
    assert(viaBound.toString == viaMulti.toString)
    assert(LshIndex.boundedHistogram(indexed, 1).isEmpty)
    assert(LshIndex.boundedHistogram(indexed, 4096).nonEmpty)
  }
}
