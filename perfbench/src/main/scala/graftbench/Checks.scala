package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.VersionedStore
import graft.streaming.TaskPipeline

/** Output checks shared by the workloads that run the executor. Each
  * comparison goes through `eq(what, got, want)`, which counts the
  * objects that differ. */
object Checks {
  type Eq = (String, Long, Long) => Unit

  /** What the executor's log and DLQ actually hold. */
  final case class LogDlq(logRows: Long, dlqObjects: Long)

  /** One ok log row per delivered key, 3 failed rows per DLQ key, and
    * every `~perm` object in the DLQ at its third receive. */
  def logAndDlq(spark: SparkSession, log: String, dlq: String, e: Gen.Outcome, eq: Eq): LogDlq = {
    val perm = col("ok") === 0 && col("Key").contains(Gen.PermMark)
    val l = spark.read.parquet(log).agg(
      sum(when(col("ok") === 1, 1L).otherwise(0L)),
      countDistinct(when(col("ok") === 1, col("Key"))),
      sum(when(col("ok") === 0, 1L).otherwise(0L)),
      sum(when(perm, 1L).otherwise(0L)),
      countDistinct(when(perm, col("Key")))).first()
    eq("ok log rows", l.getLong(0), e.delivered)
    eq("ok log keys", l.getLong(1), e.delivered)
    eq("failed log rows", l.getLong(2), e.failedAttempts)
    eq("failed rows of DLQ keys", l.getLong(3), 3 * e.perm)
    eq("DLQ keys in log", l.getLong(4), e.perm)
    val d = TaskPipeline.unpack(spark.read.schema(TaskPipeline.messageSchema).json(dlq))
      .agg(count(lit(1)), sum(when(col("receive_count") === 3, 1L).otherwise(0L))).first()
    eq("DLQ objects", d.getLong(0), e.perm)
    eq("DLQ objects at receive 3", Option(d.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L), e.perm)
    LogDlq(l.getLong(0) + l.getLong(2), d.getLong(0))
  }

  /** Stat-store success/failed counts and sizes. */
  def statStore(spark: SparkSession, stat: String, e: Gen.Outcome, eq: Eq): Unit = {
    val st = VersionedStore.read(spark, stat)
      .agg(sum("success_num"), sum("failed_num"), sum("success_size"), sum("failed_size")).first()
    eq("stat success_num", st.getLong(0), e.delivered)
    eq("stat failed_num", st.getLong(1), e.failedAttempts)
    eq("stat success_size", st.getLong(2), e.successSize)
    eq("stat failed_size", st.getLong(3), e.failedSize)
  }
}
