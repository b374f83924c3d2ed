package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spans around the benchmark's calls into the engine's layers, and the
  * Spark work each one caused.
  *
  * A span sets its own job group (`pb-<span id>`) for the calling thread
  * while it is open, so every job Spark starts inside it carries that id;
  * [[SpanListener]] adds up the jobs' tasks per group. Nested spans restore
  * the parent's group on close, so a job is counted on the span that was
  * active when it ran (self counts; [[Tracer.inclusive]] sums a subtree).
  * Spans are kept in memory and written out once, at the end of the run.
  * A disabled tracer runs the body and records nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  /** Cleared to run calls untraced inside a traced run (the overhead
    * measurement alternates the two). */
  var active = true
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  def span[A](name: String)(body: => A): A =
    if (!enabled || !active) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, System.nanoTime(), -1L)
      stack.push(id)
      sc.setJobGroup(group(id), name)
      try body
      finally {
        stack.pop()
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        System.err.println(f"[span] $name%s ${spans(id).seconds}%.3f s")
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), spans(p).name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def counts(id: Int): Counts = listener.byGroup.getOrElse(group(id), Counts())

  private lazy val children: Map[Int, Seq[Int]] =
    spans.filter(_.parent >= 0).groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.id).toSeq }

  /** Counts of a span and all its descendants. */
  def inclusive(id: Int): Counts =
    children.getOrElse(id, Nil).foldLeft(counts(id))((acc, c) => acc + inclusive(c))

  /** Span duration minus the part of it its children cover. */
  def selfNs(id: Int): Long = {
    val s = spans(id)
    val covered = children.getOrElse(id, Nil).map(spans(_))
      .map(c => (c.startNs, c.endNs)).sorted
      .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
        val from = math.max(a, hi)
        (acc + math.max(0L, b - from), math.max(hi, b))
      }._1
    (s.endNs - s.startNs) - covered
  }

  def toJson: String = {
    val rows = spans.map { s =>
      val c = counts(s.id)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s.id)},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"run_ms":${c.runMs},""" +
        s""""gc_ms":${c.gcMs},"shuffle_write_bytes":${c.shuffleWrite},""" +
        s""""shuffle_read_bytes":${c.shuffleRead},"spill_bytes":${c.spill},""" +
        s""""max_task_ms":${c.maxTaskMs}}"""
    }
    rows.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                        endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final case class Counts(jobs: Long = 0, tasks: Long = 0, runMs: Long = 0,
                          gcMs: Long = 0, shuffleWrite: Long = 0,
                          shuffleRead: Long = 0, spill: Long = 0,
                          taskMs: Vector[Long] = Vector.empty) {
    def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
      runMs + o.runMs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
      shuffleRead + o.shuffleRead, spill + o.spill, taskMs ++ o.taskMs)
    def maxTaskMs: Long = if (taskMs.isEmpty) 0L else taskMs.max
    /** Slowest task over the median task (1.0 = no skew). */
    def skew: Double =
      if (taskMs.isEmpty) 1.0
      else {
        val s = taskMs.sorted
        s.last.toDouble / math.max(1L, s(s.length / 2)).toDouble
      }
  }

  def group(id: Int): String = s"pb-$id"
}

/** Adds up jobs, tasks, executor run time, GC, shuffle and spill per job
  * group. Stages are mapped to the group of the job that submitted them. */
final class SpanListener extends SparkListener {
  import Tracer.Counts
  val byGroup = mutable.Map[String, Counts]()
  private val stageGroup = mutable.Map[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        e.stageIds.foreach(stageGroup(_) = g)
        byGroup(g) = byGroup.getOrElse(g, Counts()).copy(
          jobs = byGroup.getOrElse(g, Counts()).jobs + 1)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = byGroup.getOrElse(g, Counts())
      byGroup(g) = c + Counts(
        tasks = 1,
        runMs = m.executorRunTime,
        gcMs = m.jvmGCTime,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        taskMs = Vector(m.executorRunTime))
    }
  }
}
