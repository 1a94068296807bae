package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One closed-loop unit of work: a pass or a request. */
final case class Op(rows: Long, ok: Boolean)

/** What a measured window produced. */
final class Window {
  var attempted = 0L
  var failed = 0L
  var rows = 0L
  var wallS = 0.0
  val latMs = mutable.ArrayBuffer.empty[Double]
  def throughput: Double = if (wallS > 0) rows / wallS else 0.0
  /** Input rows per second of the median operation, for loops whose
    * every operation handles the same input. */
  def medianThroughput(rowsPerOp: Long): Double = {
    val m = Stats.median(latMs.toSeq)
    if (m > 0) rowsPerOp * 1000.0 / m else 0.0
  }
}

/** A named workload. `build` makes the persisted artifacts (it runs
  * against an emptied warehouse on every set-up repeat), `warmup`
  * runs before the first timed operation, `op` is one closed-loop unit
  * of work and `check` compares the outputs with the workload's
  * reference after the window. */
trait Workload {
  def inputRows: Long
  def build(): Unit = ()
  /** Untimed operations before the first timed one: the passes keep
    * getting faster while the JIT compiles the query-planning code, so
    * each loop warms up for the number of operations after which they
    * level off. A count, not a time, so the warm-up share of `setup_s`
    * is the program's own time. */
  def warmupOps: Int
  def warmup(): Unit = runOps(warmupOps)
  def op(i: Int): Op
  def check(): Boolean
  /** Operations per unit of the request mix: a window ends on a whole unit. */
  def opGrain: Int = 1
  /** The closed loop: operations back to back until `seconds` pass. */
  def measure(seconds: Double, onOp: Int => Unit = _ => ()): Window = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    loop(i => i == 0 && seconds > 0 || System.nanoTime() < end || i % opGrain != 0, onOp)
  }
  /** Exactly `n` operations back to back. */
  def runOps(n: Int): Window = loop(_ < n, _ => ())
  private def loop(more: Int => Boolean, onOp: Int => Unit): Window = {
    val w = new Window
    val t0 = System.nanoTime()
    var i = 0
    while (more(i)) {
      onOp(i)
      val s = System.nanoTime()
      val r = try op(i) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] op $i failed: $e"); Op(0, ok = false)
      }
      w.attempted += 1
      if (r.ok) { w.rows += r.rows; w.latMs += (System.nanoTime() - s) / 1e6 }
      else w.failed += 1
      i += 1
    }
    w.wallS = (System.nanoTime() - t0) / 1e9
    w
  }
  /** Input rows per second of a window: of the median operation by
    * default; `search`, whose requests differ in size, overrides it. */
  def throughput(w: Window): Double = w.medianThroughput(inputRows)
  /** Recall of the reference answer (search: overlap with exact top-k). */
  def recall: Double = 1.0
  /** Run facts printed with the host-noise record (not metrics). */
  def notes: Map[String, Double] = Map.empty
  /** Workload-specific per-layer metrics, from the traced window. */
  def layerMetrics(ctx: Ctx, ops: Long): Map[String, Double] = Map.empty
}

/** Independent set-up steps run concurrently: set-up time is the time
  * until every artifact exists, as a deployment building independent
  * artifacts side by side would see it. */
object Concurrently {
  def apply(steps: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(steps.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(steps.map(s => Future(s()))), Duration.Inf)
    finally pool.shutdown()
  }
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val root: String, val dataDir: String,
    val seed: Long, val nproc: Int, val tracer: Tracer) {
  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def vmHwmMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ > 0).sum

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def duBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L)
    else f.length()

  def session(root: String, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/hadoop")
      .config("spark.sql.streaming.checkpointLocation", s"$root/checkpoints")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // keep one sink log file per batch, so sink files map to batches
      .config("spark.sql.streaming.fileSink.log.compactInterval", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val root = arg(args, "root")
    val tracePath = arg(args, "trace-out")
    val nproc = Runtime.getRuntime.availableProcessors()
    val load0 = loadavg()
    new java.io.File(root).mkdirs()

    val spark = session(root, nproc)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, root, s"$root/data", seed, nproc, tracer)

    val g0 = System.nanoTime()
    val wl: Workload = workload match {
      case "etl" => new Etl(ctx)
      case "curate" => new Curate(ctx)
      case "search" => new Search(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val generateS = (System.nanoTime() - g0) / 1e9

    // set-up: artifact builds repeated against an emptied warehouse,
    // median taken; then one warmup before the first timed operation
    val warehouse = new java.io.File(s"$root/warehouse")
    val builds = (1 to 3).map { _ =>
      deleteTree(warehouse)
      val t = System.nanoTime()
      tracer.span("artifacts", "build")(wl.build())
      (System.nanoTime() - t) / 1e9
    }
    val artifactBytes = duBytes(warehouse)
    val w0 = System.nanoTime()
    wl.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(builds) + warmupS

    val cpu0 = cpuNs(); val gc0 = gcMs(); val t0 = System.nanoTime()
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    var failed = 0L
    var samples = Seq.empty[Double]
    if (!trace) {
      val w = wl.measure(seconds)
      attempted = w.attempted; failed = w.failed
      samples = w.latMs.toSeq
      metrics("throughput_rows_per_s") = wl.throughput(w)
      metrics("latency_ms_p50") = Stats.quantile(samples, 0.5)
      metrics("latency_ms_p90") = Stats.quantile(samples, 0.9)
      metrics("recall_at_k") = wl.recall
      metrics("setup_s") = setupS
      metrics("peak_rss_mb") = vmHwmMb()
    } else {
      // the untraced half first, then the same loop with spans and
      // listeners on; their throughput ratio is the tracing overhead
      tracer.active = false
      // a workload without warm-up times its first operation cold; here
      // that would bias the untraced half, so run one untimed first
      if (wl.warmupOps == 0) wl.runOps(1)
      val plain = wl.measure(seconds / 2)
      tracer.start()
      val tcpu0 = cpuNs(); val tgc0 = gcMs(); val tt0 = System.nanoTime()
      val traced = wl.measure(seconds / 2, i => tracer.request = i.toLong)
      val twall = (System.nanoTime() - tt0) / 1e9
      val tcpuUtil = (cpuNs() - tcpu0) / 1e9 / (twall * nproc)
      tracer.settle()
      attempted = plain.attempted + traced.attempted
      failed = plain.failed + traced.failed
      val ops = math.max(1L, traced.attempted)
      metrics ++= Layers.of(ctx, wl, tracer, traced, ops, (gcMs() - tgc0) / 1e3)
      metrics("engine.cpu_util") = tcpuUtil
      metrics("trace.throughput_ratio") =
        if (wl.throughput(plain) > 0) wl.throughput(traced) / wl.throughput(plain) else 0.0
      metrics("artifacts.build_s") = Stats.median(builds)
      metrics("artifacts.bytes_written") = artifactBytes.toDouble
      metrics("loadgen.generate_s") = generateS
      metrics("failed_frac") = failed.toDouble / math.max(1L, attempted)
      metrics ++= graft.perfbench.KernelBench.run(spark, nproc)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuUtil = (cpuNs() - cpu0) / 1e9 / (wallS * nproc)
    val correct = try wl.check() catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] check failed: $e"); false
    }
    tracer.dump(tracePath)
    val load1 = loadavg()
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    println(s"""{"noise": {"nproc": $nproc, "loadavg_before": ${num(load0)}, """ +
      s""""loadavg_after": ${num(load1)}, "engine.cpu_util": ${num(cpuUtil)}, """ +
      s""""gc_s": ${num((gcMs() - gc0) / 1e3)}, "generate_s": ${num(generateS)}, """ +
      s""""session_s": ${num(sessionS)}, "build_s": [${builds.map(num).mkString(", ")}], """ +
      s""""warmup_s": ${num(warmupS)}, "input_rows": ${wl.inputRows}, """ +
      s""""latency_samples_ms": [${samples.map(num).mkString(", ")}], """ +
      s""""notes": {${wl.notes.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")}}}}""")
    val ms = metrics.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$ms}}""")
    System.out.flush()
    spark.stop()
  }
}
