package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Spans and per-layer counters, recorded from the benchmark's own code
  * around its calls into the program.
  *
  * A span has a name (the layer), start, end, parent and run id (the
  * chain, wave or round it belongs to); spans stay in memory and are
  * written out at exit. Spark work is attributed to a layer through
  * thread-local Spark properties: the calling span's id on driver
  * threads, the streaming query id on stream threads, and an explicit
  * layer tag on the dashboard server's threads. */
object Trace {
  val SpanKey = "graftbench.span"
  val LayerKey = "graftbench.layer"
  val QueryKey = "sql.streaming.queryId"

  final case class Span(id: Int, name: String, parent: Int, run: String,
                        startMs: Double, var endMs: Double) {
    def dur: Double = endMs - startMs
  }

  final class Counters {
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val fsOps = new java.util.concurrent.atomic.AtomicLong
  }

  @volatile private[graftbench] var active: Tracer = _
}

final class Tracer(val enabled: Boolean) {
  import Trace._

  private val t0Ns = System.nanoTime()
  private val t0Wall = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  def wallToMs(epochMs: Long): Double = (epochMs - t0Wall).toDouble

  private val ids = new AtomicInteger(0)
  val spans = ArrayBuffer.empty[Span]
  private val spanLayer = new ConcurrentHashMap[String, String]()
  private val queryLayer = new ConcurrentHashMap[String, String]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val jobLayer = new ConcurrentHashMap[Int, (String, Double)]()
  /** (layer, startMs, endMs) of every finished job. */
  val jobIntervals = ArrayBuffer.empty[(String, Double, Double)]
  /** Stream batches per layer: (layer, batchId, rows, durationMs map). */
  val progress = ArrayBuffer.empty[(String, Long, Long, Map[String, Long])]
  private val current = new ThreadLocal[Span]
  @volatile private var sc: SparkContext = _

  def countersOf(layer: String): Counters =
    counters.computeIfAbsent(layer, _ => new Counters)

  /** Attribute a stream's jobs to `layer` and collect its progress. */
  def registerQuery(q: StreamingQuery, layer: String): Unit = if (enabled) {
    queryLayer.put(q.id.toString, layer)
    queries.synchronized { queries += ((q, layer)) }
    ()
  }

  /** Run `body` as a span of `layer`; nested calls become children. */
  def span[T](layer: String, run: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val s = Span(ids.incrementAndGet(), layer,
        if (parent == null) -1 else parent.id, run, nowMs, Double.NaN)
      spanLayer.put(s.id.toString, layer)
      val prevProp = if (sc != null) sc.getLocalProperty(SpanKey) else null
      current.set(s)
      if (sc != null) sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        current.set(parent)
        if (sc != null) sc.setLocalProperty(SpanKey, prevProp)
        spans.synchronized { spans += s }
      }
    }

  /** A span observed rather than wrapped (a stream batch, an HTTP
    * request on a client thread). */
  def record(layer: String, run: String, parent: Int, startMs: Double, endMs: Double): Unit =
    if (enabled) {
      val s = Span(ids.incrementAndGet(), layer, parent, run, startMs, endMs)
      spans.synchronized { spans += s }
    }

  def currentSpanId: Int = Option(current.get()).map(_.id).getOrElse(-1)

  private def layerOf(props: java.util.Properties): String =
    if (props == null) "unattributed"
    else Option(props.getProperty(SpanKey)).flatMap(id => Option(spanLayer.get(id)))
      .orElse(Option(props.getProperty(QueryKey)).flatMap(q => Option(queryLayer.get(q))))
      .orElse(Option(props.getProperty(LayerKey)))
      .getOrElse("unattributed")

  /** Layer of the calling thread, for fs-op attribution. */
  private[graftbench] def threadLayer(): String = {
    val tc = TaskContext.get()
    def prop(k: String): String =
      if (tc != null) tc.getLocalProperty(k) else if (sc != null) sc.getLocalProperty(k) else null
    Option(prop(SpanKey)).flatMap(id => Option(spanLayer.get(id)))
      .orElse(Option(prop(QueryKey)).flatMap(q => Option(queryLayer.get(q))))
      .orElse(Option(prop(LayerKey)))
      .getOrElse("unattributed")
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val layer = layerOf(e.properties)
      countersOf(layer).jobs.incrementAndGet()
      e.stageIds.foreach(stageLayer.put(_, layer))
      jobLayer.put(e.jobId, (layer, wallToMs(e.time)))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobLayer.remove(e.jobId)).foreach { case (layer, start) =>
        jobIntervals.synchronized { jobIntervals += ((layer, start, wallToMs(e.time))) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countersOf(Option(stageLayer.get(e.stageId)).getOrElse("unattributed"))
      c.tasks.incrementAndGet()
      if (e.taskMetrics != null) {
        c.cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
        c.shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      ()
    }
  }

  private val queries = ArrayBuffer.empty[(StreamingQuery, String)]
  @volatile private var attachedMs = 0.0

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (enabled) {
      Trace.active = this
      attachedMs = nowMs
      sc.addSparkListener(listener)
    }
  }

  /** Stop listening; stream batches since [[attach]] become spans,
    * children of the step (chain, wave) they ran in. */
  def detach(spark: SparkSession): Unit = if (enabled) {
    // let queued listener events land before the numbers are read
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(listener)
    Trace.active = null
    val steps = spans.synchronized(spans.filter(_.name == "bench.step").toVector)
    queries.synchronized(queries.toVector).foreach { case (q, layer) =>
      q.recentProgress.foreach { p =>
        val start = wallToMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        if (start >= attachedMs) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          progress += ((layer, p.batchId, p.numInputRows, d))
          val step = steps.find(s => s.startMs <= start && start < s.endMs)
          record(layer, step.fold("stream")(_.run), step.fold(-1)(_.id),
            start, start + d.getOrElse("triggerExecution", 0L))
        }
      }
    }
  }

  def allCounters: Map[String, Counters] = counters.asScala.toMap

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.synchronized {
      spans.sortBy(_.startMs).foreach { s =>
        w.write(f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
        w.newLine()
      }
    } finally w.close()
  }
}

/** Interval arithmetic for self time, driver time and cover. */
object Intervals {
  /** Total length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    val sorted = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    sorted.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Length of the part of union(a) that union(b) also covers. */
  def overlap(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double =
    union(a) + union(b) - union(a ++ b)
}

/** The bench session's local filesystem: graft.BenchFs (which keeps its
  * global metadata-op count) plus a per-layer attribution of each op.
  * BenchFs's documented blind spot carries over: the store's local
  * marker fast path writes through java.nio and is not counted. */
class LayerFs extends graft.BenchFs {
  private val inList = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }
  private def tick(): Unit = {
    val t = Trace.active
    if (t != null) { t.countersOf(t.threadLayer()).fsOps.incrementAndGet(); () }
  }
  override def getFileStatus(p: Path): FileStatus = {
    if (!inList.get()) tick()
    super.getFileStatus(p)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    tick()
    inList.set(java.lang.Boolean.TRUE)
    try super.listStatus(p)
    finally inList.set(java.lang.Boolean.FALSE)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    tick(); super.open(p, bufferSize)
  }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    tick(); super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { tick(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { tick(); super.delete(p, recursive) }
  override def mkdirs(p: Path): Boolean = { tick(); super.mkdirs(p) }
}
