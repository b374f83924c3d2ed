package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.JavaConverters._
import scala.collection.mutable

/** Entry point of one benchmark run: one workload, one seed, one JVM.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --run-dir <dir> --cores <n> --commit <sha> --trace-out <file>
  *
  * Prints a table (metric, unit, median, tail percentile, samples) and, as
  * the last stdout line, `PERFBENCH_RESULT {json}` with the metric values;
  * perfbench/run.py attaches the units declared in BENCHMARK.json. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(
      workload = args("workload"), seed = args("seed").toLong,
      seconds = args("seconds").toInt, traced = args("trace") == "1",
      runDir = args("run-dir"), cores = args("cores").toInt,
      commit = args.getOrElse("commit", "unknown"))
    val ok =
      try {
        ctx.workload match {
          case "search" => new SearchBench(ctx).run()
          case "curate_ingest" => new CurateBench(ctx).run()
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        if (ctx.traced) Probes.spanMetrics(ctx)
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: run failed: $e")
          e.printStackTrace()
          false
      }
    if (ok && ctx.traced) {
      val out = new java.io.File(args("trace-out"))
      java.nio.file.Files.write(out.toPath, ctx.tracer.toJson.getBytes("UTF-8"))
      println(s"# spans written to ${out.getName} (${ctx.tracer.spans.length} spans)")
    }
    val beforeStop = ctx.elapsedSinceJvmStart
    ctx.close()
    ctx.value("run.before_stop_s", "s", beforeStop, report = false)
    ctx.value("run.total_s", "s", ctx.elapsedSinceJvmStart, report = false)
    if (!ok) sys.exit(2)
    ctx.printResult()
    sys.exit(0)
  }
}

/** Everything one run shares: the session, the tracer, the checks and the
  * metrics it reports. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
                val traced: Boolean, val runDir: String, val cores: Int,
                val commit: String) {

  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.default.parallelism", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"$runDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val sessionReadyS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  val tracer = new Tracer(spark.sparkContext, traced)
  val stateDir: String = s"$runDir/state"

  // ---------------------------------------------------------------- checks
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer[String]()

  /** One checked operation: a call that throws or whose output check
    * fails counts as failed. Returns the body's value when it succeeded. */
  def attempt[A](what: String)(body: => A)(check: A => Option[String]): Option[A] = {
    attempted += 1
    val r = try Right(body) catch { case e: Exception => Left(s"$what threw $e") }
    r.flatMap(v => check(v).map(m => s"$what: $m").toLeft(v)) match {
      case Right(v) => Some(v)
      case Left(msg) =>
        failed += 1
        if (failures.length < 20) failures += msg
        System.err.println(s"perfbench: check failed: $msg")
        None
    }
  }

  def require(what: String, cond: Boolean, detail: => String = ""): Unit =
    attempt(what)(())(_ => if (cond) None else Some(s"failed $detail"))

  // --------------------------------------------------------------- metrics
  val metrics = mutable.LinkedHashMap[String, Double]()
  private val table = mutable.ArrayBuffer[String]()

  /** Report a timing: its median goes to `name`; the table also shows the
    * highest percentile with at least ten samples beyond it. */
  def timing(name: String, unit: String, samples: Seq[Double],
             report: Boolean = true): Double = {
    val med = Stats.median(samples)
    if (report) metrics(name) = med
    val tail = Stats.tail(samples).map { case (p, v) => f"p$p%d=$v%.4f" }.getOrElse("-")
    table += f"$name%-34s $unit%-8s median=$med%.4f $tail%-16s n=${samples.length}%d"
    med
  }

  def value(name: String, unit: String, v: Double, report: Boolean = true): Unit = {
    if (report) metrics(name) = v
    table += f"$name%-34s $unit%-8s value=$v%.6f"
  }

  // ------------------------------------------------------------ live heap
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private var heapPeak = 0L

  /** Old-generation bytes right after a full GC (what the run keeps live);
    * called between timed calls, never inside one. */
  def sampleHeap(): Unit = {
    // three times, so blocks the context cleaner drops after a GC are gone
    // before the reading
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(150) }
    val used = oldGen.map(_.getUsage.getUsed).getOrElse(
      Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory)
    heapPeak = math.max(heapPeak, used)
  }
  def heapPeakMb: Double = heapPeak / (1024.0 * 1024.0)

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: String): Long = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else f.length
    if (root.exists) walk(root) else 0L
  }

  def elapsedSinceJvmStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  def env: String = {
    val rt = Runtime.getRuntime
    s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,"trace":${if (traced) 1 else 0},""" +
      s""""nproc":$cores,"max_heap_mb":${rt.maxMemory / (1024 * 1024)},""" +
      s""""jdk":"${System.getProperty("java.version")}","spark":"${spark.version}",""" +
      s""""commit":"$commit"}"""
  }

  def inputs(kind: String, params: Map[String, Any]): Unit =
    println(s"# inputs $kind " + params.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString(" "))

  def close(): Unit = {
    try spark.stop() catch { case _: Throwable => () }
  }

  def printResult(): Unit = {
    println(s"# env $env")
    table.foreach(l => println(s"# $l"))
    failures.foreach(f => println(s"# FAILED $f"))
    val ms = metrics.map { case (k, v) => s""""$k":${Stats.num(v)}""" }.mkString(",")
    println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$ms}}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  /** The highest of p99/p95/p90/p75 with at least ten samples above it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75).find(p => xs.length * (100 - p) / 100 >= 10)
      .map(p => p -> percentile(xs, p))

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
