package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Scratch

/** Stage-to-storage contract (operators/Scratch.scala): exact value
  * round-trip, the one-live-copy-per-label storage bound, and zero
  * block-store involvement (the whole point vs localCheckpoint). */
class ScratchSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("stage: exact round-trip (longs, doubles incl. IEEE edge values, " +
    "strings, nulls), re-readable many times, no block-store residue; " +
    "a second stage under the same label deletes the previous copy") {
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val df = Seq(
      (1L, 0.1 + 0.2, "a\nb"), (2L, -0.0d, null.asInstanceOf[String]),
      (3L, Double.MinPositiveValue, "")).toDF("id", "x", "s")
    val staged = Scratch.stage(df, "spec-label")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").collect().map(_.toSeq).toSeq
    val expect = rows(df)
    assert(rows(staged) == expect)
    assert(rows(staged) == expect) // second materialization: same files
    // the staged frame is a plain parquet scan: column pruning applies
    // (a narrow read must not deserialize the wide columns) and nothing
    // registered in the block store
    val pruned = staged.select("id").queryExecution.executedPlan.toString
    assert(pruned.contains("ReadSchema") && !pruned.contains("x:"), pruned)
    assert(sc.getPersistentRDDs.keySet == rddsBefore)
    // the files live under the JVM's scratch root
    val dir1 = staged.inputFiles.head
    assert(dir1.contains("graft-scratch-") && dir1.contains("spec-label-"))
    // restaging the label bounds storage to ONE live copy: the previous
    // directory is gone, the new frame reads the new one
    val staged2 = Scratch.stage(df.withColumn("x", col("x") + 1), "spec-label")
    val p1 = java.nio.file.Paths.get(
      new java.net.URI(dir1).getPath).getParent
    assert(!java.nio.file.Files.exists(p1),
      s"previous staging $p1 must be deleted on restage")
    assert(staged2.select(sum(col("x"))).head().getDouble(0) >
      df.select(sum(col("x"))).head().getDouble(0))
    // labels are validated (a path-traversal label must throw)
    intercept[IllegalArgumentException] {
      Scratch.stage(df, "../escape")
    }
  }

  test("stage: a CONCURRENT stage of the same label from another thread " +
    "never deletes the first thread's live copy (r20 verdict task 7: " +
    "reclaim is keyed per (label, thread), not per label)") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val mine = Scratch.stage(df, "concurrent-label")
    val myDir = java.nio.file.Paths.get(
      new java.net.URI(mine.inputFiles.head).getPath).getParent
    // another thread stages the same label — under the old label-keyed
    // reclaim this deleted myDir out from under the live `mine` frame
    var theirs: org.apache.spark.sql.DataFrame = null
    val t = new Thread(() => {
      theirs = Scratch.stage(df.withColumn("id", col("id") + 10),
        "concurrent-label")
    })
    t.start(); t.join()
    assert(java.nio.file.Files.exists(myDir),
      s"thread B's stage() deleted thread A's live staging $myDir")
    // both frames stay readable with their own values
    assert(mine.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L))
    assert(theirs.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(11L, 12L))
    // and same-thread restage still bounds storage (deletes the previous)
    Scratch.stage(df, "concurrent-label")
    assert(!java.nio.file.Files.exists(myDir),
      "same-thread restage must still reclaim the previous copy")
  }
}
