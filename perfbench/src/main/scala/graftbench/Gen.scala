package graftbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** Seeded input generator. Writes every input with plain JVM I/O and
  * computes the expected outputs alongside; the program under test only
  * ever sees the written files.
  *
  * Failure injection is encoded in the object key, identically in all
  * workloads: about 2% of objects carry [[PermMark]] (fail every receive,
  * end in the dead-letter queue) and about 5% carry [[OnceMark]] (fail
  * only their first receive). */
object Gen {
  val PermMark = "~perm"
  val OnceMark = "~once"
  val PermShare = 0.02
  val OnceShare = 0.05
  /** The executor's copy-failure predicate: fail on the permanent mark,
    * and on the once-mark only at first receive. */
  def failWhen: Column = col("Key").contains(PermMark) ||
    (col("Key").contains(OnceMark) && col("receive_count") === 1)
  val SrcBucket = "src-bench"
  val DstBucket = "dst-bench"
  val Thresholds: Seq[Long] = graft.exec.ListProducerJob.BucketNames.map(_._2)

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1L)

  def hex(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach(x => sb.append(Character.forDigit((x >> 4) & 0xF, 16))
      .append(Character.forDigit(x & 0xF, 16)))
    sb.toString
  }

  def md5(b: Array[Byte]): Array[Byte] = MessageDigest.getInstance("MD5").digest(b)

  private def randHex(r: SplittableRandom, n: Int): String = {
    val b = new Array[Byte](n); r.nextBytes(b); hex(b)
  }

  /** Failure mark of one object, drawn from its own stream. */
  private def mark(r: SplittableRandom): String = {
    val u = r.nextDouble()
    if (u < PermShare) PermMark else if (u < PermShare + OnceShare) OnceMark else ""
  }

  /** Per-object outcome totals the executor, the stat store and the
    * dashboard must reproduce. */
  final case class Outcome(objects: Long, perm: Long, once: Long,
                           successSize: Long, failedSize: Long) {
    def delivered: Long = objects - perm
    def failedAttempts: Long = 3 * perm + once
    def +(o: Outcome): Outcome = Outcome(objects + o.objects, perm + o.perm,
      once + o.once, successSize + o.successSize, failedSize + o.failedSize)
  }
  object Outcome { val zero: Outcome = Outcome(0, 0, 0, 0, 0) }

  private def outcomeOf(key: String, size: Long): Outcome =
    if (key.contains(PermMark)) Outcome(1, 1, 0, 0, 3 * size)
    else if (key.contains(OnceMark)) Outcome(1, 0, 1, size, size)
    else Outcome(1, 0, 0, size, 0)

  // ------------------------------------------------------------ bulk_sync

  final case class Bulk(manifest: Path, inventoryGlob: String,
                        stagedGlob: String, partSize: Int,
                        outcome: Outcome, corrupt: Long, totalSize: Long,
                        hist: Seq[Long], // cumulative, one per Thresholds entry
                        blobEtags: Map[String, String], corruptedBlobs: Set[String],
                        stagedBytes: Long, csvBytes: Long)

  /** One S3 inventory of `objects` rows in `shards` gzip CSV shards plus
    * a manifest, a few corrupt lines, and a staged-bytes sample of about
    * `stagedMb` MB (one blob in eight corrupted after its ETag is taken). */
  def bulk(dir: Path, seed: Long, objects: Int, shards: Int, stagedMb: Int,
           threads: Int): Bulk = {
    val inv = Files.createDirectories(dir.resolve("inventory"))
    val pool = Executors.newFixedThreadPool(threads)
    final case class ShardOut(name: String, bytes: Long, md5: String,
                              outcome: Outcome, totalSize: Long, hist: Array[Long],
                              corrupt: Int, csvBytes: Long)
    try {
      val tasks = (0 until shards).map { s =>
        new Callable[ShardOut] {
          def call(): ShardOut = {
            val r = rng(seed, 1000L + s)
            val name = f"shard-$s%03d.csv.gz"
            val p = inv.resolve(name)
            val w = new BufferedWriter(new OutputStreamWriter(
              new GZIPOutputStream(new FileOutputStream(p.toFile), 1 << 16), UTF_8), 1 << 16)
            var out = Outcome.zero
            var total = 0L
            val hist = new Array[Long](Thresholds.size)
            val lo = objects.toLong * s / shards
            val hi = objects.toLong * (s + 1) / shards
            var csvBytes = 0L
            var i = lo
            while (i < hi) {
              val size = math.exp(r.nextDouble() * math.log(2e10)).toLong
              val key = s"data/s$s/o$i${mark(r)}.bin"
              val multipart = size > 8L * 1024 * 1024
              val etag = if (multipart) s"${randHex(r, 16)}-${(size >> 23) + 1}" else randHex(r, 16)
              val lm = f"2024-0${1 + r.nextInt(9)}-1${r.nextInt(10)}T1${r.nextInt(10)}:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d.000Z"
              val repl = if (r.nextInt(4) == 0) "COMPLETED" else ""
              val line = "\"" + SrcBucket + "\",\"" + key + "\",\"" + size + "\",\"" + lm +
                "\",\"" + etag + "\",\"STANDARD\",\"" + multipart + "\",\"" + repl + "\"\n"
              w.write(line)
              csvBytes += line.length
              out = out + outcomeOf(key, size)
              total += size
              var t = 0
              while (t < Thresholds.size) { if (size <= Thresholds(t)) hist(t) += 1; t += 1 }
              i += 1
            }
            // short rows: the reader quarantines them as corrupt
            val corrupt = if (s % 2 == 0) 1 else 0
            if (corrupt == 1) w.write("\"" + SrcBucket + "\",\"truncated-row\"\n")
            w.close()
            val bytes = Files.readAllBytes(p)
            ShardOut(name, bytes.length.toLong, hex(md5(bytes)), out, total, hist, corrupt, csvBytes)
          }
        }
      }
      val outs = pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      val files = outs.map(o =>
        s"""{"key": "inventory/${o.name}", "size": ${o.bytes}, "MD5checksum": "${o.md5}"}""")
      val manifest = dir.resolve("manifest.json")
      Files.writeString(manifest,
        s"""{
           |  "sourceBucket": "$SrcBucket",
           |  "destinationBucket": "$DstBucket",
           |  "version": "2016-11-30",
           |  "fileFormat": "CSV",
           |  "fileSchema": "Bucket, Key, Size, LastModifiedDate, ETag, StorageClass, IsMultipartUploaded, ReplicationStatus",
           |  "files": [
           |    ${files.mkString(",\n    ")}
           |  ]
           |}""".stripMargin)
      val (etags, corrupted, stagedBytes) = staged(dir.resolve("staged"), seed, stagedMb, PartSize)
      Bulk(manifest, s"$inv/*.csv.gz", s"${dir.resolve("staged")}/*.bin", PartSize,
        outs.map(_.outcome).reduce(_ + _), outs.map(_.corrupt.toLong).sum,
        outs.map(_.totalSize).sum,
        Thresholds.indices.map(t => outs.map(_.hist(t)).sum),
        etags, corrupted, stagedBytes, outs.map(_.csvBytes).sum)
    } finally pool.shutdown()
  }

  val PartSize: Int = 1 << 20

  /** Expected multipart ETag, as the reference computes it: the plain md5
    * for a one-part object, md5 of the concatenated part digests plus
    * "-N" otherwise. */
  def multipartEtag(b: Array[Byte], partSize: Int): String = {
    val n = math.max(1, (b.length + partSize - 1) / partSize)
    if (n == 1) hex(md5(b))
    else {
      val d = MessageDigest.getInstance("MD5")
      (0 until n).foreach { i =>
        val m = MessageDigest.getInstance("MD5")
        m.update(b, i * partSize, math.min(partSize, b.length - i * partSize))
        d.update(m.digest())
      }
      hex(d.digest()) + "-" + n
    }
  }

  private def staged(dir: Path, seed: Long, mb: Int, partSize: Int)
      : (Map[String, String], Set[String], Long) = {
    Files.createDirectories(dir)
    val r = rng(seed, 7L)
    var left = mb.toLong << 20
    var i = 0
    val etags = Map.newBuilder[String, String]
    val corrupted = Set.newBuilder[String]
    var total = 0L
    while (left > 0) {
      val n = math.min(left, (64L << 10) + r.nextLong(3L << 20)).toInt
      val b = new Array[Byte](n)
      r.nextBytes(b)
      val name = f"blob-$i%04d.bin"
      etags += name -> multipartEtag(b, partSize)
      if (i % 8 == 3) { val k = r.nextInt(n); b(k) = (b(k) ^ 0x5A).toByte; corrupted += name }
      Files.write(dir.resolve(name), b)
      total += n; left -= n; i += 1
    }
    (etags.result(), corrupted.result(), total)
  }

  // --------------------------------------------------------- trickle_sync

  final case class Wave(file: Path, outcome: Outcome)

  /** One wave of `n` new objects as JSON lines. The executor's event time
    * is `Size % 3600`, so every object of wave `w` gets event second
    * `30 * w + j` (j < 30): event time rises wave by wave and never falls
    * behind the stats stream's watermark. */
  def wave(dir: Path, seed: Long, w: Int, n: Int): Wave = {
    require(w < 120, "event seconds must stay inside one hour")
    Files.createDirectories(dir)
    val r = rng(seed, 100000L + w)
    val sb = new java.lang.StringBuilder(n * 140)
    var out = Outcome.zero
    (0 until n).foreach { j =>
      val size = (1L + r.nextInt(1 << 20)) * 3600L + 30L * w + r.nextInt(30)
      val key = s"wave$w/o$j${mark(r)}.bin"
      sb.append("{\"Bucket\":\"").append(SrcBucket).append("\",\"Key\":\"").append(key)
        .append("\",\"Size\":").append(size).append(",\"ETag\":\"").append(randHex(r, 16))
        .append("\",\"dst_bucket\":\"").append(DstBucket).append("\"}\n")
      out = out + outcomeOf(key, size)
    }
    val p = dir.resolve(f"wave-$w%03d.json")
    Files.writeString(p, sb)
    Wave(p, out)
  }

  // --------------------------------------------------------- azure_resync

  /** A chain of Azure inventory snapshots. Each step adds 0.5% new blobs,
    * deletes 0.5% and rewrites the ETag of 1%. Message ids are
    * md5(endpoint + name + eventType), so an update re-renders an id that
    * was already sent: the expected enqueue count of a round is
    * new + deleted. */
  final class AzureChain(dir: Path, seed: Long, blobs: Int) {
    Files.createDirectories(dir)
    private val r = rng(seed, 9L)
    private var nextId = 0L
    private var names = new Array[Long](0)
    private var etags = new Array[Long](0)
    private var sizes = new Array[Long](0)
    private var stamps = new Array[Int](0)
    private var step = -1

    final case class Snapshot(path: Path, added: Int, deleted: Int, updated: Int) {
      def diffRows: Int = added + deleted + updated
      def expectedEnqueue: Int = added + deleted
    }

    /** An empty snapshot (header only): the "before" of the full send. */
    val empty: Path = write("snap-empty.csv", 0)

    private def write(name: String, n: Int): Path = {
      val p = dir.resolve(name)
      val w = Files.newBufferedWriter(p, UTF_8)
      w.write("Name,Creation-Time,Last-Modified,Etag,Content-Length,Content-MD5,BlobType,AccessTier,ArchiveStatus\n")
      var i = 0
      while (i < n) {
        val id = names(i)
        w.write(s"c/b$id.dat,2023-01-01T00:00:00Z,2024-02-${10 + stamps(i) % 18}T0${stamps(i) % 10}:00:00Z," +
          s"0x8D${java.lang.Long.toHexString(etags(i)).toUpperCase},${sizes(i)},,BlockBlob,Hot,\n")
        i += 1
      }
      w.close()
      p
    }

    /** The next snapshot: the first is `blobs` fresh blobs, every later
      * one mutates its predecessor. */
    def next(): Snapshot = {
      step += 1
      val (added, deleted, updated) =
        if (step == 0) {
          names = Array.tabulate(blobs)(_.toLong); nextId = blobs
          etags = Array.fill(blobs)(r.nextLong() & Long.MaxValue)
          sizes = Array.fill(blobs)(1L + r.nextInt(1 << 24))
          stamps = Array.fill(blobs)(r.nextInt(1000))
          (blobs, 0, 0)
        } else {
          val n = names.length
          val nDel = n / 200
          val nNew = n / 200
          val nUpd = n / 100
          // partial Fisher-Yates: the first nDel + nUpd slots of a
          // shuffled index are the deleted and the updated blobs
          val idx = Array.range(0, n)
          (0 until nDel + nUpd).foreach { k =>
            val j = k + r.nextInt(n - k); val t = idx(k); idx(k) = idx(j); idx(j) = t
          }
          val del = new java.util.BitSet(n)
          (0 until nDel).foreach(k => del.set(idx(k)))
          (nDel until nDel + nUpd).foreach { k =>
            etags(idx(k)) = r.nextLong() & Long.MaxValue; stamps(idx(k)) += 1
          }
          val keep = (0 until n).filterNot(del.get)
          names = keep.map(names).toArray ++ Array.tabulate(nNew)(k => nextId + k)
          etags = keep.map(etags).toArray ++ Array.fill(nNew)(r.nextLong() & Long.MaxValue)
          sizes = keep.map(sizes).toArray ++ Array.fill(nNew)(1L + r.nextInt(1 << 24))
          stamps = keep.map(stamps).toArray ++ Array.fill(nNew)(r.nextInt(1000))
          nextId += nNew
          (nNew, nDel, nUpd)
        }
      Snapshot(write(f"snap-$step%03d.csv", names.length), added, deleted, updated)
    }
  }
}
