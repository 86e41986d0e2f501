package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The per-layer metric set (printed by `--trace 1`) and its assembly
  * from the tracer. Every name is printed on every workload; a layer a
  * workload does not call reads 0. */
object Layers {
  val SpanLayers: Seq[String] = Seq("ListProducerJob", "TaskPipeline.executor", "FileQueue",
    "TaskPipeline.stats", "AzureDiffJob", "Verification", "MultipartEtag", "Dashboard")

  val Common: Seq[(String, String)] = Seq("wall_s" -> "s", "self_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "cpu_s" -> "s", "shuffle_mb" -> "MB", "fs_ops" -> "count",
    "driver_s" -> "s")

  val Extra: Seq[(String, String)] = Seq(
    "ListProducerJob.scan_mb_per_s" -> "MB/s",
    "ListProducerJob.queue_files" -> "count",
    "TaskPipeline.executor.batches" -> "count",
    "TaskPipeline.executor.empty_batches" -> "count",
    "TaskPipeline.executor.rows_per_s" -> "1/s",
    "TaskPipeline.executor.trigger_ms_p50" -> "ms",
    "TaskPipeline.executor.plan_ms_p50" -> "ms",
    "TaskPipeline.executor.commit_ms_p50" -> "ms",
    "TaskPipeline.executor.attempts_per_object" -> "ratio",
    "TaskPipeline.executor.dlq_objects" -> "count",
    "FileQueue.enqueue_ms_p50" -> "ms",
    "FileQueue.files_per_wave" -> "count",
    "TaskPipeline.stats.statsIncrement_s" -> "s",
    "TaskPipeline.stats.batches" -> "count",
    "TaskPipeline.stats.trigger_ms_p50" -> "ms",
    "TaskPipeline.stats.addbatch_ms_p50" -> "ms",
    "TaskPipeline.stats.fs_ops_per_batch" -> "count",
    "VersionedStore.epochs" -> "count",
    "VersionedStore.files" -> "count",
    "VersionedStore.disk_mb" -> "MB",
    "VersionedStore.disk_per_live_byte" -> "ratio",
    "AzureDiffJob.round_s_p50" -> "s",
    "AzureDiffJob.replay_s_p50" -> "s",
    "AzureDiffJob.round_max_s" -> "s",
    "AzureDiffJob.full_send_s" -> "s",
    "AzureDiffJob.enqueued_share" -> "ratio",
    "AzureDiffJob.ledger_files" -> "count",
    "AzureDiffJob.ledger_mb" -> "MB",
    "MultipartEtag.mb_per_s" -> "MB/s",
    "Dashboard.totalProgress_ms_p50" -> "ms",
    "Dashboard.tasksGraph_ms_p50" -> "ms",
    "Dashboard.request_ms_p50" -> "ms",
    "Dashboard.request_ms_p95" -> "ms",
    "Dashboard.jobs_per_request" -> "ratio",
    "Dashboard.requests" -> "count",
    "Dashboard.non200" -> "count",
    "Dashboard.client_lag_ms" -> "ms",
    "process.cpu_s" -> "s",
    "process.gc_s" -> "s",
    "process.unattributed_s" -> "s",
    "process.wave_max_s" -> "s",
    "process.failed_op_share" -> "ratio",
    "process.peak_rss_mb" -> "MB",
    "bench.gen_s" -> "s",
    "bench.trace_overhead_pct" -> "%")

  val all: Seq[(String, String)] =
    SpanLayers.flatMap(l => Common.map { case (m, u) => s"$l.$m" -> u }) ++ Extra

  /** Spans that belong to the timed region's critical path (the
    * dashboard client's requests run beside it). */
  private def onPath(s: Trace.Span): Boolean = s.run != "client"

  def report(tr: Tracer, traced: Pass, plain: Pass, ctx: Ctx): Seq[(String, (Double, String))] = {
    val spans = tr.spans.synchronized(tr.spans.toVector)
    val children = spans.groupBy(_.parent)
    val counters = tr.allCounters
    val jobs = tr.jobIntervals.synchronized(tr.jobIntervals.toVector)
    val progress = tr.progress.synchronized(tr.progress.toVector)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    SpanLayers.foreach { l =>
      // a layer's spans may overlap (a stream batch inside the call that
      // drains the stream), so wall and self time are unions
      val own = spans.filter(_.name == l)
      val ownIv = own.map(s => (s.startMs, s.endMs))
      val wall = Intervals.union(ownIv) / 1e3
      val kids = own.flatMap(s => children.getOrElse(s.id, Nil)).map(c => (c.startMs, c.endMs))
      val self = wall - Intervals.overlap(ownIv, kids) / 1e3
      val busy = Intervals.union(jobs.filter(_._1 == l).map(j => (j._2, j._3))) / 1e3
      val c = counters.get(l)
      m(s"$l.wall_s") = wall
      m(s"$l.self_s") = self
      m(s"$l.jobs") = c.map(_.jobs.get.toDouble).getOrElse(0.0)
      m(s"$l.tasks") = c.map(_.tasks.get.toDouble).getOrElse(0.0)
      m(s"$l.cpu_s") = c.map(_.cpuNs.get / 1e9).getOrElse(0.0)
      m(s"$l.shuffle_mb") = c.map(_.shuffleBytes.get / 1048576.0).getOrElse(0.0)
      m(s"$l.fs_ops") = c.map(_.fsOps.get.toDouble).getOrElse(0.0)
      m(s"$l.driver_s") = math.max(0.0, wall - busy)
    }

    def streamStats(l: String): Unit = {
      val ps = progress.filter(_._1 == l)
      def p50(k: String*): Double =
        if (ps.isEmpty) 0.0 else Main.median(ps.map(p => k.map(p._4.getOrElse(_, 0L)).sum.toDouble))
      m(s"$l.batches") = ps.size.toDouble
      m(s"$l.trigger_ms_p50") = p50("triggerExecution")
      if (l == "TaskPipeline.executor") {
        m(s"$l.empty_batches") = ps.count(_._3 == 0).toDouble
        val trig = ps.map(_._4.getOrElse("triggerExecution", 0L)).sum / 1e3
        m(s"$l.rows_per_s") = if (trig > 0) ps.map(_._3).sum / trig else 0.0
        m(s"$l.plan_ms_p50") = p50("queryPlanning")
        m(s"$l.commit_ms_p50") = p50("walCommit", "commitOffsets")
      } else {
        m(s"$l.addbatch_ms_p50") = p50("addBatch")
        m(s"$l.fs_ops_per_batch") =
          if (ps.isEmpty) 0.0 else m.getOrElse(s"$l.fs_ops", 0.0) / ps.size
      }
    }
    streamStats("TaskPipeline.executor")
    streamStats("TaskPipeline.stats")

    // the workload's own layer numbers (checks, store listings, client)
    traced.extra.foreach { case (k, v) => m(k) = v }

    val covered = Intervals.union(spans.filter(s => onPath(s) && !s.name.startsWith("bench.step"))
      .map(s => (s.startMs, s.endMs)))
    m("process.cpu_s") = traced.cpuS
    m("process.gc_s") = traced.gcS
    m("process.unattributed_s") = math.max(0.0, traced.wallS - covered / 1e3)
    m("process.failed_op_share") =
      if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted
    m("process.peak_rss_mb") = Main.peakRssMb()
    m("bench.gen_s") = ctx.genS
    m("bench.trace_overhead_pct") =
      (Main.median(traced.steps) / Main.median(plain.steps) - 1.0) * 100.0

    // a statistic without samples (no request, no batch) reads 0, as an
    // absent layer does
    all.map { case (k, u) => k -> (m.get(k).filterNot(_.isNaN).getOrElse(0.0), u) }
  }

  // ------------------------------------------------------------ listings

  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }

  /** Data files (no checksums, markers or hidden files). */
  def dataFiles(dir: Path): Seq[Path] = files(dir).filter { p =>
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def bytes(ps: Seq[Path]): Long = ps.map(Files.size).sum
}
