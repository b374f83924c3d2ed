package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.VectorEngine
import graft.queries.Artifacts

/** Lifecycle of the query harness's one artifact cache
  * (queries/Artifacts.memo): artifacts are session-bound, so entries
  * owned by a REPLACED session are unusable and must be evicted — their
  * directories deleted — instead of accumulating for the process
  * lifetime across all dirs. Keys are spec-local so the entries other
  * suites build are only evicted, never read. */
class EngineCacheSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def keys(dir: String*): Set[(String, String)] =
    Artifacts.live.keySet.filter(k => dir.contains(k._1))

  test("Artifacts.memo: same-session hits reuse the instance; a call from " +
    "a NEWER session evicts every stale entry across ALL dirs, not just " +
    "the one being rebuilt") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession): VectorEngine = {
      builds += 1; VectorEngine.create(s)
    }
    val a = Artifacts.memo(s1, "spec:dirA", "engine")(_ => build(s1))
    val a2 = Artifacts.memo(s1, "spec:dirA", "engine")(_ => build(s1))
    assert((a eq a2) && builds == 1, "same (session, dir, name) must hit")
    Artifacts.memo(s1, "spec:dirB", "engine")(_ => build(s1))
    assert(keys("spec:dirA", "spec:dirB") ==
      Set("spec:dirA" -> "engine", "spec:dirB" -> "engine") && builds == 2)
    // a NEWER session arrives: both of s1's entries (dirA AND dirB) are
    // stale — the build of dirA under s2 must drop them both
    val b = Artifacts.memo(s2, "spec:dirA", "engine")(_ => build(s2))
    assert(builds == 3 && (b ne a))
    assert(keys("spec:dirA", "spec:dirB") == Set("spec:dirA" -> "engine"),
      s"stale s1 entries must be evicted, got ${Artifacts.live.keySet}")
    assert(Artifacts.live("spec:dirA" -> "engine")._1 eq s2)
  }

  test("Artifacts.memo: eviction deletes the evicted entry's directory, " +
    "and after a second session's call no entry references the first") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val dir1 = Artifacts.memo(s1, "spec:dirC", "sink") { d =>
      Files.writeString(Paths.get(d, "part"), "x"); d
    }
    assert(Files.isDirectory(Paths.get(dir1)) &&
      Artifacts.live("spec:dirC" -> "sink")._2 == dir1)
    val dir2 = Artifacts.memo(s2, "spec:dirD", "sink")(d => d)
    assert(!Files.exists(Paths.get(dir1)),
      s"evicted entry's directory $dir1 must be deleted")
    assert(Files.isDirectory(Paths.get(dir2)))
    assert(Artifacts.live.values.forall(_._1 ne s1),
      "an entry still references the replaced session")
  }

  test("Artifacts.memo: a build that throws caches nothing and deletes " +
    "its directory; the next call builds again") {
    val s = spark.newSession()
    var seen: String = null
    intercept[IllegalStateException] {
      Artifacts.memo(s, "spec:dirE", "broken") { d =>
        seen = d
        Files.writeString(Paths.get(d, "partial"), "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(seen != null && !Files.exists(Paths.get(seen)),
      s"failed build's directory $seen must be deleted")
    assert(!Artifacts.live.contains("spec:dirE" -> "broken"))
    assert(Artifacts.memo(s, "spec:dirE", "broken")(_ => 7) == 7)
  }
}
