package graftbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import graft.connectors.VersionedKeyedStore
import graft.exec.ListProducerJob
import graft.functions.MultipartEtag
import graft.ops.{Dashboard, Verification}
import graft.serve.DashboardServer
import graft.sources.InventoryReader
import graft.streaming.TaskPipeline

/** bulk_sync: one S3 inventory through the whole chain, step by step —
  * list and fan out (Module 0), execute until drained (Module II),
  * aggregate the log into the stat store (Module III), verify source
  * against destination and recompute staged ETags (Module IV), query the
  * dashboard (Module V). Throughput-bound: a handful of large batches. */
final class BulkSync(ctx: Ctx, dir: Path) extends Workload {
  private val cfg = ctx.cfg
  private val objects = if (cfg.smoke) 20000 else 160000
  private val stagedMb = if (cfg.smoke) 8 else 32
  private var chainNo = 0
  private var last: Option[Path] = None

  def warmup(): Unit = {
    // warm-up: a small chain exercises every module once
    val b = ctx.gen(Gen.bulk(dir.resolve("warm-in"), cfg.seed + 7919, objects / 4, 8, 4, cfg.cores))
    chain(b, dir.resolve("warm-out"), new Tracer(false), "warm")
    deleteTree(dir.resolve("warm-in")); deleteTree(dir.resolve("warm-out"))
  }

  final case class Out(lp: ListProducerJob.Result, queueFiles: Int,
                       verdicts: Map[String, Long], etags: Map[String, String],
                       progress: org.apache.spark.sql.Row, layerS: Map[String, Double])

  private def chain(b: Gen.Bulk, d: Path, tr: Tracer, run: String): Out = {
    val spark = ctx.spark
    var layerS = Map.empty[String, Double]
    def timed[T](layer: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tr.span(layer, run)(body)
      finally layerS += layer -> (System.nanoTime() - t0) / 1e9
    }
    val lp = timed("ListProducerJob") {
      ListProducerJob.run(spark, b.manifest.toString, b.inventoryGlob, s"$d/job.json",
        s"$d/queue", Gen.DstBucket, queues = 4, batchSize = 100)
    }
    val queueFiles = Layers.dataFiles(d.resolve("queue")).size
    timed("TaskPipeline.executor") {
      val q = TaskPipeline.runExecutor(spark, s"$d/queue", s"$d/log", s"$d/dlq",
        s"$d/ckpt", Gen.failWhen)
      tr.registerQuery(q, "TaskPipeline.executor")
      try q.processAllAvailable() finally q.stop()
    }
    timed("TaskPipeline.stats") {
      TaskPipeline.statsIncrement(spark, s"$d/log", VersionedKeyedStore(s"$d/stat"))
    }
    val verdicts = timed("Verification") {
      // the executor log carries no mtime, so both sides leave it null
      def side(df: org.apache.spark.sql.DataFrame) = df.select(col("Key"),
        col("Size").as("size"), col("ETag").as("etag"), lit(null).cast("timestamp").as("mtime"))
      // cached, as ListProducerJob reads it: an uncached, column-pruned
      // scan does not flag short rows as corrupt (see perfbench/README.md)
      val raw = InventoryReader.readS3Inventory(spark, b.inventoryGlob, cache = true)
      try {
        val src = side(InventoryReader.goodRows(raw))
        val dst = side(spark.read.parquet(s"$d/log").filter(col("ok") === 1))
        Verification.summary(Verification(src, dst, "Key")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      } finally InventoryReader.unpersist(raw)
    }
    val etags = timed("MultipartEtag") {
      MultipartEtag.etagOfFiles(spark, b.stagedGlob, b.partSize).collect()
        .map(r => r.getString(0).split('/').last -> r.getString(1)).toMap
    }
    val progress = timed("Dashboard") {
      // Module III writes stat rows without time_unit; Dashboard keeps
      // only time_unit = 1, so the provider adds it
      val stat = DashboardServer.vstoreStat(spark, s"$d/stat")().withColumn("time_unit", lit(1))
      Dashboard.totalProgress(stat, b.outcome.objects, b.totalSize).collect().head
    }
    Out(lp, queueFiles, verdicts, etags, progress, layerS)
  }

  /** What the checks of one chain found: wrong items, and the log rows
    * and DLQ objects actually written. */
  final case class Checked(bad: Long, logRows: Long, dlqObjects: Long)

  /** Output checks of one chain. */
  private def check(b: Gen.Bulk, d: Path, o: Out): Checked = {
    val spark = ctx.spark
    val e = b.outcome
    var bad = 0L
    def eq(what: String, got: Long, want: Long): Unit = if (got != want) {
      bad += math.max(1L, math.abs(got - want))
      System.err.println(s"bulk_sync check $what: got $got, want $want")
    }
    val job = new ObjectMapper().readTree(Files.readString(d.resolve("job.json")))
    val stats = job.get("statistics")
    eq("job.json totalObjects", stats.get("totalObjects").asLong, e.objects)
    ListProducerJob.BucketNames.zip(b.hist).foreach { case ((n, _), want) =>
      eq(s"job.json $n", stats.get(n).asLong, want)
    }
    eq("corrupt rows", o.lp.corruptRows, b.corrupt)
    eq("producer totalObjects", o.lp.totalObjects, e.objects)

    val ld = Checks.logAndDlq(spark, s"$d/log", s"$d/dlq", e, eq)
    Checks.statStore(spark, s"$d/stat", e, eq)

    eq("verdict ok", o.verdicts.getOrElse("ok", 0L), e.delivered)
    eq("verdict missing_dest", o.verdicts.getOrElse("missing_dest", 0L), e.perm)
    eq("verdict other", o.verdicts.filter(v => v._1 != "ok" && v._1 != "missing_dest").values.sum, 0L)

    eq("etag rows", o.etags.size.toLong, b.blobEtags.size.toLong)
    val wrongEtags = b.blobEtags.count { case (name, want) =>
      o.etags.get(name).contains(want) == b.corruptedBlobs.contains(name)
    }
    eq("etags as expected (corrupted blobs differ)", wrongEtags.toLong, 0L)

    eq("dashboard success", o.progress.getAs[Long]("total_success_num"), e.delivered)
    eq("dashboard failed", o.progress.getAs[Long]("total_failed_num"), e.failedAttempts)
    Checked(bad, ld.logRows, ld.dlqObjects)
  }

  def measure(seconds: Double, minSteps: Int, tr: Tracer): Pass = {
    val cpu0 = Main.processCpuS(); val gc0 = Main.gcS()
    val t0 = System.nanoTime()
    val steps = scala.collection.mutable.ArrayBuffer.empty[Double]
    var objs = 0L
    var layerS = Map.empty[String, Double]
    var scanBytes = 0L; var stagedBytes = 0L; var queueFiles = 0
    var dlq = 0L; var logRows = 0L
    while (steps.size < minSteps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val run = s"chain$chainNo"
      val in = dir.resolve(s"in$chainNo")
      val b = ctx.gen(tr.span("bench.gen", run)(
        Gen.bulk(in, cfg.seed * 1000 + chainNo, objects, 8, stagedMb, cfg.cores)))
      val d = dir.resolve(s"out$chainNo")
      chainNo += 1
      val s0 = System.nanoTime()
      val o = try Some(tr.span("bench.step", run)(chain(b, d, tr, run)))
        catch { case t: Throwable => t.printStackTrace(); None }
      val stepS = (System.nanoTime() - s0) / 1e9
      System.err.println(f"perfbench: $run took $stepS%.2f s ${o.map(_.layerS).getOrElse(Map.empty)}")
      // the checks and clean-up are the benchmark's own work: a span of
      // their own keeps them out of process.unattributed_s
      val c = tr.span("bench.check", run) {
        val c = o.map(check(b, d, _)).getOrElse(Checked(b.outcome.objects, 0, 0))
        // inputs and outputs of a checked chain are no longer needed,
        // except the last stat store (listed at run end)
        deleteTree(in)
        last.foreach(deleteTree)
        last = Some(d)
        c
      }
      ctx.ops(b.outcome.objects, c.bad, s"$run: ${c.bad} objects with wrong outputs")
      steps += stepS
      objs += b.outcome.objects
      o.foreach { o =>
        o.layerS.foreach { case (k, v) => layerS += k -> (layerS.getOrElse(k, 0.0) + v) }
        queueFiles += o.queueFiles
      }
      scanBytes += b.csvBytes; stagedBytes += b.stagedBytes
      dlq += c.dlqObjects; logRows += c.logRows
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val n = steps.size.toDouble
    val extra = Map(
      "ListProducerJob.scan_mb_per_s" -> scanBytes / 1e6 / layerS.getOrElse("ListProducerJob", Double.NaN),
      "ListProducerJob.queue_files" -> queueFiles / n,
      "TaskPipeline.executor.attempts_per_object" -> logRows.toDouble / objs,
      "TaskPipeline.executor.dlq_objects" -> dlq / n,
      "TaskPipeline.stats.statsIncrement_s" -> layerS.getOrElse("TaskPipeline.stats", 0.0) / n,
      "MultipartEtag.mb_per_s" -> stagedBytes / 1e6 / layerS.getOrElse("MultipartEtag", Double.NaN),
      "Dashboard.requests" -> n)
    Pass(steps.toSeq, wallS, Main.processCpuS() - cpu0, Main.gcS() - gc0,
      extra ++ last.map(d => Stores.listing(ctx.spark, d.resolve("stat"))).getOrElse(Map.empty))
  }

  def cleanup(): Unit = deleteTree(dir)

  private def deleteTree(p: Path): Unit = Stores.deleteTree(p)
}

object Stores {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** The stat store's on-disk footprint at run end. */
  def listing(spark: org.apache.spark.sql.SparkSession, root: Path): Map[String, Double] = {
    val all = Layers.files(root)
    val live = graft.sinks.VersionedStore.read(spark, root.toString).inputFiles
      .map(f => Files.size(java.nio.file.Paths.get(new java.net.URI(f)))).sum
    val disk = Layers.bytes(all)
    Map(
      "VersionedStore.epochs" -> graft.sinks.VersionedStore.currentEpoch(root.toString).toDouble,
      "VersionedStore.files" -> all.size.toDouble,
      "VersionedStore.disk_mb" -> disk / 1048576.0,
      "VersionedStore.disk_per_live_byte" -> (if (live > 0) disk.toDouble / live else 0.0))
  }
}
