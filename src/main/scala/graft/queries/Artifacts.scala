package graft.queries

import org.apache.spark.sql.SparkSession
import graft.operators.Scratch

/** The query harness's one process-level cache: the artifacts a query
  * row builds once and then only reads — saved engine states, imported
  * and exported reference stores, curated and gated engines, trained BPE
  * merges, written shard and event sinks.
  *
  * Why cache: each of these is a deterministic function of the (immutable)
  * input dir, and its build is an ingest-time pipeline job, not the
  * serving path a row measures. The bench runs every row four times, so
  * building once per process keeps the warm passes on the read path; the
  * first call pays the build (Bench reports it as the row's `cold_sec`).
  * Correctness is unaffected: the oracle predicts the final contents
  * either way, and the builds themselves are exercised by the specs.
  *
  * Why the session is not in the key: an artifact is session-bound (an
  * engine holds its session; a frame over a sink reads through it), and a
  * `(session, ...)` key would strongly retain every stopped session and
  * its state for the life of the JVM. Entries are keyed by `(dir, name)`
  * and the owning session sits in the value instead:
  *  - a hit requires the SAME session;
  *  - a miss first evicts every entry owned by a different session,
  *    across all keys, and deletes that entry's directory;
  *  - a build that throws caches nothing and deletes its directory.
  * One lock covers lookups and builds, so a key is built at most once.
  *
  * Every entry's files live in a fresh directory under the JVM's one
  * scratch root ([[Scratch.newDir]]), whose shutdown hook removes
  * whatever eviction has not. */
object Artifacts {

  private final case class Entry(owner: SparkSession, dir: java.nio.file.Path,
                                 value: Any)

  private val entries = scala.collection.mutable.HashMap[(String, String), Entry]()

  /** The artifact `name` of input `dir` for session `s`, built on a miss
    * by `build`, which receives the entry's fresh, empty directory. */
  def memo[T](s: SparkSession, dir: String, name: String)(build: String => T): T =
    synchronized {
      entries.get((dir, name)) match {
        case Some(e) if e.owner eq s => e.value.asInstanceOf[T]
        case _ =>
          entries.filter { case (_, e) => e.owner ne s }.foreach { case (k, e) =>
            entries.remove(k)
            Scratch.deleteRecursively(e.dir)
          }
          val path = Scratch.newDir(name)
          val value =
            try build(path.toString)
            catch { case t: Throwable => Scratch.deleteRecursively(path); throw t }
          entries((dir, name)) = Entry(s, path, value)
          value
      }
    }

  /** Key -> (owning session, entry directory) of every live entry. */
  private[graft] def live: Map[(String, String), (SparkSession, String)] =
    synchronized {
      entries.map { case (k, e) => k -> (e.owner, e.dir.toString) }.toMap
    }
}
