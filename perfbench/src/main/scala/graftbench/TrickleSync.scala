package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Duration
import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.connectors.{FileQueue, VersionedKeyedStore}
import graft.ops.TaskFanout
import graft.serve.DashboardServer
import graft.sinks.VersionedStore
import graft.streaming.TaskPipeline

/** trickle_sync: the executor stream and the stats stream run
  * continuously over one versioned stat store while waves of new objects
  * arrive. Closed loop, one wave in flight: a wave is packed, enqueued,
  * and complete once `/totalProgress` shows its cumulative success and
  * failed-attempt counts. Beside it one client polls the dashboard over
  * HTTP at a fixed rate (open loop), alternating `/totalProgress` and
  * `/tasksGraph`, each request timed from its due time. Per-object work
  * is negligible; stream triggers, commits and store upserts dominate. */
final class TrickleSync(ctx: Ctx, dir: Path) extends Workload {
  private val cfg = ctx.cfg
  private val waveObjects = if (cfg.smoke) 400 else 2000
  private val warmWaves = 1
  // a wave takes about 6 s, and the median of fewer than 3 spreads more
  // than the bound allows
  override val minSteps: Int = if (cfg.smoke) 1 else 3
  private val pollPerS = 2.0
  private val queue = dir.resolve("queue")
  private val log = dir.resolve("log")
  private val stat = dir.resolve("stat")
  private var exec: StreamingQuery = _
  private var stats: StreamingQuery = _
  private var server: DashboardServer = _
  private var port = 0
  private var wave = 0
  private var cum = Gen.Outcome.zero
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val json = new ObjectMapper()

  private val waveSchema = StructType(Seq(
    StructField("Bucket", StringType), StructField("Key", StringType),
    StructField("Size", LongType), StructField("ETag", StringType),
    StructField("dst_bucket", StringType)))

  /** Start both streams and the dashboard server, and wait until both
    * streams idle. */
  override def startup(): Unit = {
    val spark = ctx.spark
    Seq(queue, log).foreach(Files.createDirectories(_))
    // streams and server start outside any span: their threads must not
    // inherit a driver span's attribution
    exec = TaskPipeline.runExecutor(spark, queue.toString, log.toString,
      dir.resolve("dlq").toString, dir.resolve("ckpt-exec").toString, Gen.failWhen)
    stats = TaskPipeline.runStatsJob(spark, log.toString,
      VersionedKeyedStore(stat.toString), dir.resolve("ckpt-stats").toString)
    val sc = spark.sparkContext
    val vstat = DashboardServer.vstoreStat(spark, stat.toString)
    server = new DashboardServer(() => {
      sc.setLocalProperty(Trace.LayerKey, "Dashboard")
      // Module III writes stat rows without time_unit; Dashboard keeps
      // only time_unit = 1, so the provider adds it
      vstat().withColumn("time_unit", lit(1))
    }, totalObjects = 120L * waveObjects, totalSize = 120L * waveObjects * (1L << 31))
    port = server.start()
    Seq(exec, stats).foreach { q =>
      while (q.isActive && !q.status.message.startsWith("Waiting for data")) Thread.sleep(5)
    }
  }

  override def shutdown(): Unit = {
    if (server != null) server.stop()
    Seq(exec, stats).filter(_ != null).foreach(q => scala.util.Try(q.stop()))
    server = null; exec = null; stats = null
  }

  def warmup(): Unit = (0 until warmWaves).foreach(_ => step(new Tracer(false)))

  private def get(path: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(30)).GET().build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  private var enqueueMs = ArrayBuffer.empty[Double]

  /** One wave; returns its latency, or None if it never showed. */
  private def step(tr: Tracer): Option[Double] = {
    val spark = ctx.spark
    val run = s"wave$wave"
    val wv = ctx.gen(tr.span("bench.gen", run)(Gen.wave(dir.resolve("waves"), cfg.seed, wave, waveObjects)))
    wave += 1
    // ask the dashboard only after the store commits a new epoch
    var epoch = VersionedStore.currentEpoch(stat.toString)
    val t0 = System.nanoTime()
    tr.span("bench.step", run) {
      tr.span("FileQueue", run) {
        val objs = spark.read.schema(waveSchema).json(wv.file.toString)
        val msgs = TaskFanout.pack(objs, abs(hash(col("Key")).cast("bigint")), Seq(col("Key")),
          queues = 4, batchSize = 100)
        FileQueue(queue.toString, TaskPipeline.messageSchema).enqueue(msgs)
      }
      enqueueMs += (System.nanoTime() - t0) / 1e6
      cum = cum + wv.outcome
      // wait for the dashboard to show the cumulative counts
      val deadline = t0 + 90L * 1000000000L
      var shown = false
      while (!shown && System.nanoTime() < deadline) {
        val e = VersionedStore.currentEpoch(stat.toString)
        if (e != epoch) {
          epoch = e
          val a = tr.nowMs
          val (code, body) = get("/totalProgress")
          tr.record("Dashboard", run, tr.currentSpanId, a, tr.nowMs)
          if (code == 200) {
            val p = json.readTree(body)
            shown = p.path("total_success_num").asLong(-1) == cum.delivered &&
              p.path("total_failed_num").asLong(-1) == cum.failedAttempts
          }
        }
        if (!shown) Thread.sleep(25)
      }
      val lat = (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: $run took $lat%.2f s")
      if (shown) Some(lat) else None
    }
  }

  private final case class Req(path: String, dueMs: Double, sentMs: Double, doneMs: Double, code: Int)

  /** Open-loop dashboard client at a fixed rate. */
  private final class Poller(tr: Tracer) {
    private val done = new ConcurrentLinkedQueue[Req]()
    private val inflight = new ConcurrentLinkedQueue[CompletableFuture[_]]()
    @volatile private var stopping = false
    private val t0 = System.nanoTime()
    private def ms(ns: Long): Double = (ns - t0) / 1e6
    private val thread = new Thread(() => {
      var i = 0L
      val periodNs = (1e9 / pollPerS).toLong
      while (!stopping) {
        val due = t0 + i * periodNs
        val wait = due - System.nanoTime()
        if (wait > 0)
          try Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          catch { case _: InterruptedException => stopping = true }
        if (!stopping) {
          val path = if (i % 2 == 0) "/totalProgress" else "/tasksGraph"
          val sent = System.nanoTime()
          val traceStart = tr.nowMs - ms(sent) + ms(due)
          val f = http.sendAsync(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
              .timeout(Duration.ofSeconds(30)).GET().build(), HttpResponse.BodyHandlers.ofString())
            .handle[Unit] { (r, err) =>
              val end = System.nanoTime()
              done.add(Req(path, ms(due), ms(sent), ms(end), if (err != null) -1 else r.statusCode))
              tr.record("Dashboard", "client", -1, traceStart, traceStart + ms(end) - ms(due))
            }
          inflight.add(f)
          i += 1
        }
      }
    }, "dashboard-client")
    thread.setDaemon(true)
    thread.start()

    def stop(): Seq[Req] = {
      stopping = true
      thread.interrupt()
      thread.join(5000)
      inflight.asScala.foreach(f => scala.util.Try(f.get(35, java.util.concurrent.TimeUnit.SECONDS)))
      done.asScala.toVector
    }
  }

  def measure(seconds: Double, minSteps: Int, tr: Tracer): Pass = {
    val cpu0 = Main.processCpuS(); val gc0 = Main.gcS()
    tr.registerQuery(exec, "TaskPipeline.executor")
    tr.registerQuery(stats, "TaskPipeline.stats")
    val f0 = Layers.dataFiles(queue).size
    val w0 = wave
    enqueueMs = ArrayBuffer.empty
    // /totalProgress answers 500 until the store has its first epoch;
    // the warm-up waves have committed several by now
    val poller = new Poller(tr)
    val t0 = System.nanoTime()
    val steps = ArrayBuffer.empty[Double]
    var waves = 0
    while (waves < minSteps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val lat = try step(tr) catch { case t: Throwable => t.printStackTrace(); None }
      waves += 1
      ctx.ops(1, if (lat.isEmpty) 1 else 0, s"wave ${wave - 1} never showed on the dashboard")
      lat.foreach(steps += _)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val reqs = poller.stop()
    val non200 = reqs.count(_.code != 200)
    ctx.ops(reqs.size, non200, s"$non200 of ${reqs.size} dashboard requests not 200")
    def lat(rs: Seq[Req]): Seq[Double] = rs.map(r => r.doneMs - r.dueMs)
    val dashJobs = Option(tr.allCounters.get("Dashboard")).flatten.map(_.jobs.get.toDouble).getOrElse(0.0)
    val serverRequests = reqs.size + tr.spans.synchronized(tr.spans.count(s => s.name == "Dashboard" && s.run != "client"))
    val extra = Map(
      "FileQueue.enqueue_ms_p50" -> Main.median(enqueueMs.toSeq),
      "FileQueue.files_per_wave" -> (Layers.dataFiles(queue).size - f0).toDouble / (wave - w0),
      "Dashboard.totalProgress_ms_p50" -> Main.median(lat(reqs.filter(_.path == "/totalProgress"))),
      "Dashboard.tasksGraph_ms_p50" -> Main.median(lat(reqs.filter(_.path == "/tasksGraph"))),
      "Dashboard.request_ms_p50" -> Main.median(lat(reqs)),
      "Dashboard.request_ms_p95" -> Main.quantile(lat(reqs), 0.95),
      "Dashboard.jobs_per_request" -> (if (serverRequests > 0) dashJobs / serverRequests else 0.0),
      "Dashboard.requests" -> reqs.size.toDouble,
      "Dashboard.non200" -> non200.toDouble,
      "Dashboard.client_lag_ms" -> (if (reqs.isEmpty) 0.0 else reqs.map(r => r.sentMs - r.dueMs).max),
      "process.wave_max_s" -> (if (steps.isEmpty) 0.0 else steps.max)) ++
      Stores.listing(ctx.spark, stat)
    Pass(steps.toSeq, wallS,
      Main.processCpuS() - cpu0, Main.gcS() - gc0, extra)
  }

  override def finish(): Unit = {
    val spark = ctx.spark
    var bad = 0L
    def eq(what: String, got: Long, want: Long): Unit = if (got != want) {
      bad += math.max(1L, math.abs(got - want))
      System.err.println(s"trickle_sync check $what: got $got, want $want")
    }
    Checks.statStore(spark, stat.toString, cum, eq)
    val (code, body) = get("/totalProgress")
    eq("/totalProgress status", code.toLong, 200L)
    if (code == 200) {
      val p = json.readTree(body)
      eq("/totalProgress success", p.path("total_success_num").asLong(-1), cum.delivered)
      eq("/totalProgress failed", p.path("total_failed_num").asLong(-1), cum.failedAttempts)
    }
    Checks.logAndDlq(spark, log.toString, dir.resolve("dlq").toString, cum, eq)
    ctx.ops(cum.objects, bad, s"$bad objects with wrong outputs at run end")
  }

  def cleanup(): Unit = Stores.deleteTree(dir)
}
