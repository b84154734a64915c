package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One workload: a closed loop with a single client. */
trait Workload {
  /** The op kind whose latency is `op_ms_p50`. */
  def primary: String
  /** Build inputs and tables, then warm up. Counted in `setup_s`. */
  def setup(ctx: Ctx): Unit
  /** One step of the loop; the loop runs steps until time is up. */
  def step(ctx: Ctx): Unit
  /** Final checks, then the workload's metrics. */
  def finish(ctx: Ctx): Unit
}

/** State shared by the main loop and a workload. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: Path, val cpus: Int) {
  val tracer = new Tracer(spark.sparkContext, s"$seed")
  /** Streaming progress of the session: tick latency is
    * `durationMs("triggerExecution")`, traced or not.
    */
  val ticks = new TickListener
  spark.streams.addListener(ticks)
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  /** Latency samples in ms per op kind. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Metrics a user sees, by name: (value, unit). */
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics from traced steps. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var measuredS = 0.0
  /** Wall seconds of each named set-up phase. */
  val setupPhases = mutable.LinkedHashMap.empty[String, Double]

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupPhases(name) = (System.nanoTime() - t0) / 1e9
  }

  def tracing: Boolean = tracer.active

  /** Run one op, timed. A throw counts as a failed op. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(kind)(body)
      sample(kind, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        problems += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  /** A failed check fails the run and counts its op as failed. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; problems += what.take(400) }

  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  def ms(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)

  def metric(name: String, v: Double, unit: String): Unit = endToEnd(name) = v -> unit

  /** Median, p90 and sample count of an op kind as named metrics. */
  def latency(prefix: String, kind: String): Unit = {
    val xs = ms(kind)
    metric(s"${prefix}_p50", Stats.median(xs), "ms")
    metric(s"${prefix}_p90", Stats.pct(xs, 90), "ms")
    metric(s"${prefix}_n", xs.size.toDouble, "count")
  }
}

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --out FILE --cpus N`. Writes one JSON result object to `--out`.
  */
object Main {
  val workloads: Map[String, () => Workload] = Map(
    "pos_stream" -> (() => new PosStream),
    "cdc_merge" -> (() => new CdcMerge),
    "history_scan" -> (() => new HistoryScan),
    "query_panel" -> (() => new QueryPanel))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    val cpus = a.get("cpus").map(_.toInt).getOrElse(4)
    val w = workloads.getOrElse(name, sys.error(s"unknown workload $name"))()
    Files.createDirectories(work)
    val spark = session(work, cpus)
    val sessionS = sinceJvmStart()
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", work, cpus)
    val result =
      try run(ctx, w, sessionS)
      catch {
        case e: Throwable =>
          ctx.problems += s"run aborted: $e".take(400)
          ctx.failed = math.max(1, ctx.failed)
          ctx.attempted = math.max(1, ctx.attempted)
          Map.empty[String, Any]
      }
    val out = result ++ Map(
      "workload" -> name,
      "correct" -> ctx.problems.isEmpty,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "problems" -> ctx.problems.take(20),
      "end_to_end" -> ctx.endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> ctx.layers)
    Files.write(Paths.get(a("out")),
      Json(out + ("jvm_s_at_result" -> sinceJvmStart())).getBytes("UTF-8"))
    if (ctx.trace)
      Files.write(work.resolve(s"spans-$name-${ctx.seed}.json"),
        ctx.tracer.json.getBytes("UTF-8"))
    spark.stop()
    // exit explicitly, so no thread the session left running holds the JVM
    sys.exit(0)
  }

  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.QuietLogs()
    s
  }

  /** Spark runtime counts over every traced step. */
  private def sparkLayer(ctx: Ctx): Unit = {
    val w = ctx.tracer.totalWork
    val wallS = ctx.tracer.rootMs / 1000.0
    ctx.layers ++= Seq(
      "spark.jobs" -> w.jobs.toDouble, "spark.stages" -> w.stages.toDouble,
      "spark.tasks" -> w.tasks.toDouble, "spark.task_busy_s" -> w.taskMs / 1000.0,
      "spark.gc_s" -> w.gcMs / 1000.0,
      "spark.busy_frac" -> (if (wallS > 0) w.taskMs / 1000.0 / (wallS * ctx.cpus) else 0.0))
  }

  private def run(ctx: Ctx, w: Workload, sessionS: Double): Map[String, Any] = {
    w.setup(ctx)
    val setupS = sinceJvmStart()
    val host = new HostProbe
    val t0 = System.nanoTime()
    var i = 0
    if (ctx.trace) ctx.tracer.start()
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      ctx.tracer.span("step")(w.step(ctx))
      i += 1
    }
    if (ctx.trace) ctx.tracer.stop()
    ctx.measuredS = (System.nanoTime() - t0) / 1e9
    val ambient = host.ambientCpuFrac(ctx.measuredS)
    val f0 = System.nanoTime()
    w.finish(ctx)
    ctx.setupPhases("finish") = (System.nanoTime() - f0) / 1e9
    ctx.metric("setup_s", setupS, "s")
    ctx.metric("session_start_s", sessionS, "s")
    ctx.metric("peak_rss_mb", HostProbe.peakRssMb, "MB")
    ctx.metric("fail_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
    ctx.metric("op_ms_p50", Stats.median(ctx.ms(w.primary)), "ms")
    if (ctx.trace) sparkLayer(ctx)
    Map("steps" -> i, "measured_s" -> ctx.measuredS, "samples_ms" -> ctx.samples,
      "setup_phases" -> ctx.setupPhases, "host" -> Map(
      "ncpu" -> Runtime.getRuntime.availableProcessors,
      "local" -> s"local[${ctx.cpus}]",
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "ambient_cpu_frac" -> ambient),
      "self_ms" -> (if (ctx.trace) ctx.tracer.selfMs else Map.empty))
  }
}

/** Host telemetry with the formulas of `graft.Bench`: the CPU that other
  * processes burned while the loop ran, as a share of the machine.
  */
final class HostProbe {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  private def procCpuS: Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => -1.0
  }
  private val cpu0 = procCpuS
  private val busy0 = HostProbe.machineBusyS

  def ambientCpuFrac(wallS: Double): Double = {
    val cpu = procCpuS - cpu0
    val busy = HostProbe.machineBusyS - busy0
    if (cpu0 < 0 || busy0 < 0 || wallS <= 0) -1.0
    else math.max(0.0, busy - cpu) / (Runtime.getRuntime.availableProcessors * wallS)
  }
}

object HostProbe {
  /** Busy CPU seconds of the whole machine, from the first line of /proc/stat. */
  def machineBusyS: Double =
    try {
      val l = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum - f(3) - (if (f.length > 4) f(4) else 0L)) / 100.0
    } catch { case _: Exception => -1.0 }

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb: Double =
    try {
      val l = scala.io.Source.fromFile("/proc/self/status")
      try l.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
      finally l.close()
    } catch { case _: Exception => -1.0 }
}
