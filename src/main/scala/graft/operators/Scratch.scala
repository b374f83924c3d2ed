package graft.operators

import org.apache.spark.sql.DataFrame

/** Stage-to-storage materialization for multi-phase pipelines — the
  * pattern a 100 TB deployment actually uses between phases (write the
  * phase output to durable columnar storage, let every downstream
  * consumer re-read a plain parquet scan), packaged for the local
  * engine with a DETERMINISTIC storage bound.
  *
  * Why not `localCheckpoint`: checkpoint blocks live in the executor
  * block store and are reclaimed only by the ContextCleaner after the
  * frame becomes unreachable — GC-timing-dependent, the round-17
  * scale-killer this repo measured (a long-lived JVM stacks dead
  * corpus-sized pins that degrade later work). Why not `persist` + a
  * release hook: a lazily-consumed output gives the operator no point
  * to fire the hook, and an unfired hook is a JVM-lifetime CacheManager
  * leak. A staged parquet copy instead (a) lives on DISK, outside the
  * block manager entirely, (b) is re-readable any number of times with
  * column pruning and predicate pushdown (consumers that need 3 of 4
  * columns scan 3), and (c) has an EXPLICIT bound: at most one live
  * copy per label — each call deletes the previous call's directory —
  * plus a JVM shutdown hook removing the whole root.
  *
  * Contract: the frame returned by [[stage]] reads the staged files, so
  * it stays valid until the NEXT [[stage]] call with the same label in
  * this JVM (the previous copy is deleted then). Pipelines call it once
  * per run and materialize their outputs before the next run — the
  * bench's warm-up/timed interleaving and every query-row shape satisfy
  * this trivially. Values round-trip exactly (parquet preserves the
  * schema and every IEEE bit), so hash gates cannot move.
  */
object Scratch {

  private val counter = new java.util.concurrent.atomic.AtomicLong()
  private val live = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private var rootDir: Option[java.nio.file.Path] = None

  /** The one recursive delete of the project. */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
    }
  }

  /** Scratch root for this JVM: a fresh `graft-scratch-*` directory under
    * java.io.tmpdir (the same disk Spark's own block/spill files use), so
    * concurrent JVMs never collide. Created on first use together with
    * the one shutdown hook that removes it with the JVM. */
  private def root: java.nio.file.Path = synchronized {
    rootDir.getOrElse {
      val p = java.nio.file.Files.createTempDirectory("graft-scratch-")
      java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try deleteRecursively(p) catch { case _: Exception => () }))
      rootDir = Some(p)
      p
    }
  }

  private def child(label: String): java.nio.file.Path = {
    require(label.matches("[A-Za-z0-9._-]+"), s"unsafe scratch label: $label")
    root.resolve(s"$label-${counter.incrementAndGet()}")
  }

  /** A fresh, empty directory under the scratch root. The caller may
    * delete it early; the shutdown hook removes whatever is left. */
  private[graft] def newDir(label: String): java.nio.file.Path =
    java.nio.file.Files.createDirectories(child(label))

  /** Materialize `df` ONCE to scratch parquet and return the read-back
    * frame. Eager (runs the write job now). The previous staging for
    * the same `label` BY THE SAME THREAD is deleted AFTER the new copy
    * lands, so the storage bound is one live copy per (label, thread) —
    * two transiently, during the write.
    *
    * Concurrency guard (r20 verdict task 7): the reclaim key includes
    * the CALLING THREAD's id, so two threads staging the same label
    * (parallel test suites, concurrent driver jobs over one session)
    * can never delete a directory the other thread's returned frame
    * still reads — the previous footgun was label-keyed reclaim, where
    * thread B's stage() silently unlinked the parquet under thread A's
    * live plan. Cross-thread copies are reclaimed by the shutdown hook
    * (bounded: one copy per label per thread that ever staged it). */
  def stage(df: DataFrame, label: String): DataFrame = {
    val dir = child(label).toString
    df.write.mode("overwrite").parquet(dir)
    val previous = live.put(s"$label@${Thread.currentThread().getId}", dir)
    if (previous != null)
      try deleteRecursively(java.nio.file.Paths.get(previous))
      catch { case _: Exception => () }
    df.sparkSession.read.parquet(dir)
  }
}
