package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Kafka-shaped log-source semantics WITHOUT a broker: the
  * `rate-micro-batch` source is the engine's deterministic offset-
  * tracked log (each batch id maps to a fixed, replayable value range),
  * which makes it the right harness for certifying the offset contract
  * a FILE source cannot express — a batch's offsets are written to the
  * checkpoint's WAL *before* the batch executes, so a crash mid-batch
  * replays exactly the same value range on restart, never a gap and
  * never a duplicate. At 100 TB the norm is a log source (Kafka,
  * Kinesis, a CDC feed); this module is the broker-free proof of the
  * consumption pattern those sources rely on.
  *
  * [[drainUntil]] runs the source into per-batch parquet directories
  * and CRASHES (a planned, marked exception) before the sink write of
  * batch `crashAt` — the offsets WAL entry for that batch has already
  * landed, its commit marker has not. A later call with a higher
  * `crashAt` resumes from the same checkpoint: the engine re-executes
  * the crashed batch from its WAL offsets (the restart-safety moment),
  * then continues allocating fresh batches. Per-batch `overwrite` into
  * a batch-id-keyed directory makes the sink replay-idempotent — the
  * same discipline a real exactly-once sink (or MERGE target) applies.
  */
object RateLog {

  /** Marker for the deliberate crash — recognized (and swallowed) by
    * [[drainUntil]]'s awaitTermination, loud for anything else. */
  private val PlannedCrashMarker = "graft planned crash at batch"

  /** Drain `rate-micro-batch` into `dataDir/b<batchId>` parquet dirs,
    * crashing before batch `crashAt`'s sink write. Deterministic:
    * batch k always carries values [k*rowsPerBatch, (k+1)*rowsPerBatch)
    * regardless of crash/restart interleaving — which is what the st74
    * oracle certifies. */
  def drainUntil(s: SparkSession, dataDir: String, ckptDir: String,
                 rowsPerBatch: Int, crashAt: Long): Unit = {
    val writer = s.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch.toString)
      .option("numPartitions", "2")
      // pinned event-time base: timestamps are a pure function of the
      // batch id, so replays are byte-identical
      .option("startTimestamp", "0")
      .option("advanceMillisPerBatch", "1000")
      .load()
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (bid >= crashAt)
          throw new IllegalStateException(s"$PlannedCrashMarker $bid")
        batch.select(col("value"))
          .withColumn("batch_id", lit(bid))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$dataDir/b$bid")
      }
    try {
      // runs until the planned crash: the default trigger, not AvailableNow
      EventStream.drainAt(s, writer, ckptDir, trigger = Trigger.ProcessingTime(0L))
      throw new IllegalStateException(
        s"rate drain ended without reaching the crash batch $crashAt")
    } catch {
      case e: Throwable if messages(e).exists(_.contains(PlannedCrashMarker)) =>
        () // the planned stop — offsets WAL for `crashAt` is on disk
    }
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e =>
      Option(e.getMessage).toSeq ++ messages(e.getCause))

  /** The drained log as one frame: (batch_id, value) over every
    * committed per-batch directory. */
  def readLog(s: SparkSession, dataDir: String): DataFrame =
    s.read.parquet(s"$dataDir/b*")
}
