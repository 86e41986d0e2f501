package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs one workload of the paper's module chain from
  * outside the program and prints one JSON result line.
  *
  *   Main --workload bulk_sync|trickle_sync|azure_resync --seed N
  *        --seconds S --trace 0|1 --work DIR --trace-out FILE
  *        [--smoke] [--cores N]
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` runs the timed
  * region traced, between two untraced half-length passes, and prints the
  * per-layer metrics and the tracing overhead. */
final case class Cfg(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     work: Path, smoke: Boolean, cores: Int, traceOut: Path)

/** Session plus bookkeeping shared by a workload's phases. */
final class Ctx(val cfg: Cfg, val spark: SparkSession) {
  private var genNs = 0L
  def genS: Double = genNs / 1e9
  /** Input generation: timed separately and excluded from every metric. */
  def gen[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally genNs += System.nanoTime() - t0
  }
  /** Output-check bookkeeping of the timed region. */
  var attempted = 0L
  var failed = 0L
  /** Count `n` operations, `bad` of which failed a check. */
  def ops(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    val b = math.min(n, math.max(0L, bad))
    failed += b
    if (b > 0) System.err.println(s"CHECK FAILED: $what")
  }
}

/** One timed pass: per-step latencies and process totals. */
final case class Pass(steps: Seq[Double], wallS: Double,
                      cpuS: Double, gcS: Double, extra: Map[String, Double])

trait Workload {
  /** Start the program's long-running parts on the current session. */
  def startup(): Unit = ()
  /** Stop what [[startup]] started. */
  def shutdown(): Unit = ()
  /** Untimed steps that let JIT and caches settle before timing. */
  def warmup(): Unit
  /** Steps a full timed region takes at least. */
  def minSteps: Int = 1
  /** Run steps until `seconds` have passed and `minSteps` are done;
    * checks every step. */
  def measure(seconds: Double, minSteps: Int, tr: Tracer): Pass
  /** Run-end output checks. */
  def finish(): Unit = ()
  /** Remove the workload's files. */
  def cleanup(): Unit
}

object Main {
  val Workloads = Seq("bulk_sync", "trickle_sync", "azure_resync")

  def parse(args: Array[String]): Cfg = {
    val m = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def req(k: String): String = m.getOrElse(k, sys.error(s"missing $k"))
    val w = req("--workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Cfg(w, req("--seed").toLong, req("--seconds").toDouble, req("--trace") == "1",
      Paths.get(req("--work")).toAbsolutePath, args.contains("--smoke"),
      m.get("--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      Paths.get(m.getOrElse("--trace-out", "trace.jsonl")).toAbsolutePath)
  }

  def session(cfg: Cfg): SparkSession = graft.GraftSession.local(cfg.cores)

  def make(name: String, ctx: Ctx, dir: Path): Workload = name match {
    case "bulk_sync" => new BulkSync(ctx, dir)
    case "trickle_sync" => new TrickleSync(ctx, dir)
    case "azure_resync" => new AzureResync(ctx, dir)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(cfg.work)
    if (cfg.trace) System.setProperty("spark.hadoop.fs.file.impl", classOf[LayerFs].getName)
    val ctx = new Ctx(cfg, session(cfg))
    // set-up: JVM, session, the workload's start-up and its warm-up, up
    // to the first timed call; input generation is not part of it
    val w = make(cfg.workload, ctx, cfg.work.resolve(cfg.workload))
    w.startup()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - ctx.genS
    w.warmup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - ctx.genS
    System.err.println(f"perfbench: session and start-up ready at $sessionS%.2f s; " +
      f"first timed call at $setupS%.2f s")
    ctx.attempted = 0; ctx.failed = 0

    val off = new Tracer(false)
    val result =
      if (!cfg.trace) {
        val p = w.measure(cfg.seconds, w.minSteps, off)
        w.finish()
        endToEnd(setupS, p)
      } else {
        // untraced halves before and after the traced pass, so the
        // overhead estimate is not skewed by the JVM still warming up
        val before = w.measure(cfg.seconds / 2, 1, off)
        val tr = new Tracer(true)
        tr.attach(ctx.spark)
        val traced = w.measure(cfg.seconds, w.minSteps, tr)
        tr.detach(ctx.spark)
        val after = w.measure(cfg.seconds / 2, 1, off)
        val plain = before.copy(steps = before.steps ++ after.steps)
        w.finish()
        tr.writeJsonl(cfg.traceOut)
        Layers.report(tr, traced, plain, ctx)
      }
    w.shutdown()
    ctx.spark.stop()
    w.cleanup()
    val metrics = result.map { case (k, (v, u)) =>
      val vs = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $vs, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${ctx.failed == 0 && ctx.attempted > 0}, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$metrics}}""")
    System.out.flush()
    sys.exit(0)
  }

  def endToEnd(setupS: Double, p: Pass): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (setupS, "s"),
    "step_p50_s" -> (median(p.steps), "s"))
}
