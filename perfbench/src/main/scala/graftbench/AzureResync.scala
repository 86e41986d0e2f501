package graftbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.exec.AzureDiffJob
import graft.sources.InventoryReader

/** azure_resync: a chain of Azure inventory snapshots. Closed loop, one
  * round per snapshot: read the previous and the new snapshot, diff them,
  * then run the event pipeline (ledger anti-join, event render, fan-out,
  * ledger append). The round is then replayed, as an at-least-once
  * producer restart would, and the replay must enqueue nothing. Skips the
  * executor, the stats stream and the dashboard: the control workload for
  * their optimisations. */
final class AzureResync(ctx: Ctx, dir: Path) extends Workload {
  private val cfg = ctx.cfg
  private val blobs = if (cfg.smoke) 5000 else 30000
  private val ledger = dir.resolve("ledger").toString
  private val queue = dir.resolve("queue").toString
  private var chain: Gen.AzureChain = _
  private var prev: Path = _
  private var round = 0
  private var expectedIds = 0L
  private var fullSendS = 0.0

  final case class Round(s: Double, replayS: Double, diffRows: Long, enqueued: Long)

  private def runRound(tr: Tracer): Round = {
    val spark = ctx.spark
    val run = s"round$round"
    val snap = ctx.gen(tr.span("bench.gen", run)(chain.next()))
    round += 1
    tr.span("bench.step", run) {
      val t0 = System.nanoTime()
      val (diff, r) = tr.span("AzureDiffJob", run) {
        val old = InventoryReader.readAzureInventory(spark, prev.toString)
        val curr = InventoryReader.readAzureInventory(spark, snap.path.toString)
        val diff = AzureDiffJob.diffSnapshots(old, curr, "benchacct")
        (diff, AzureDiffJob.runWithDiff(spark, diff, ledger, queue, queues = 4, batchSize = 10))
      }
      val t1 = System.nanoTime()
      val replay = tr.span("AzureDiffJob", run) {
        AzureDiffJob.runWithDiff(spark, diff, ledger, queue, queues = 4, batchSize = 10)
      }
      val t2 = System.nanoTime()
      prev = snap.path
      expectedIds += snap.expectedEnqueue
      var bad = 0L
      def eq(what: String, got: Long, want: Long): Unit = if (got != want) {
        bad += 1
        System.err.println(s"azure_resync $run check $what: got $got, want $want")
      }
      eq("diff rows", r.rows, snap.diffRows)
      eq("enqueued", r.enqueued, snap.expectedEnqueue)
      eq("bad lengths", r.badLength, 0)
      eq("replay rows", replay.rows, snap.diffRows)
      eq("replay enqueued", replay.enqueued, 0)
      ctx.ops(1, bad, s"$run: $bad wrong outputs")
      System.err.println(f"perfbench: $run took ${(t2 - t0) / 1e9}%.2f s (replay ${(t2 - t1) / 1e9}%.2f s)")
      Round((t2 - t0) / 1e9, (t2 - t1) / 1e9, r.rows, r.enqueued)
    }
  }

  // rounds take about 2.5 s and keep speeding up as the JVM warms, so
  // their median depends on how many ran: 5 rounds outlast 10 s, which
  // fixes the count
  override val minSteps: Int = if (cfg.smoke) 1 else 5

  def warmup(): Unit = {
    chain = ctx.gen(new Gen.AzureChain(dir.resolve("snapshots"), cfg.seed, blobs))
    prev = chain.empty
    // warm-up: the full send of the first snapshot, then three rounds.
    // Rounds speed up by a third over the first ten as the JIT compiles
    // hot paths; the slower the machine, the later that happens, so a
    // short warm-up amplifies machine noise
    val off = new Tracer(false)
    fullSendS = runRound(off).s
    (0 until 3).foreach(_ => runRound(off))
  }

  def measure(seconds: Double, minSteps: Int, tr: Tracer): Pass = {
    val cpu0 = Main.processCpuS(); val gc0 = Main.gcS()
    val t0 = System.nanoTime()
    val rounds = ArrayBuffer.empty[Round]
    while (rounds.size < minSteps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val r = try Some(runRound(tr)) catch {
        case t: Throwable => t.printStackTrace(); ctx.ops(1, 1, s"round ${round - 1} failed"); None
      }
      r.foreach(rounds += _)
      // one round's input snapshot is no longer needed once it is the "previous"
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val ledgerFiles = Layers.dataFiles(java.nio.file.Paths.get(ledger))
    val extra = Map(
      "AzureDiffJob.round_s_p50" -> Main.median(rounds.map(r => r.s - r.replayS).toSeq),
      "AzureDiffJob.replay_s_p50" -> Main.median(rounds.map(_.replayS).toSeq),
      "AzureDiffJob.round_max_s" -> rounds.map(_.s).max,
      "AzureDiffJob.full_send_s" -> fullSendS,
      "AzureDiffJob.enqueued_share" -> rounds.map(_.enqueued).sum.toDouble / rounds.map(_.diffRows).sum,
      "AzureDiffJob.ledger_files" -> ledgerFiles.size.toDouble,
      "AzureDiffJob.ledger_mb" -> Layers.bytes(ledgerFiles) / 1048576.0)
    Pass(rounds.map(_.s).toSeq, wallS, Main.processCpuS() - cpu0, Main.gcS() - gc0, extra)
  }

  override def finish(): Unit = {
    val l = ctx.spark.read.parquet(ledger).agg(count(lit(1)), countDistinct(col("msg_id"))).first()
    var bad = 0L
    if (l.getLong(0) != expectedIds || l.getLong(1) != expectedIds) {
      bad = math.max(1L, math.abs(l.getLong(1) - expectedIds))
      System.err.println(s"azure_resync ledger: ${l.getLong(0)} rows, ${l.getLong(1)} ids, want $expectedIds")
    }
    ctx.ops(1, bad, "ledger ids differ from the expected cumulative count")
  }

  def cleanup(): Unit = Stores.deleteTree(dir)
}
