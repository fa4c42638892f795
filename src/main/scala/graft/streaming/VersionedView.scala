package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The versioned-directory exactly-once micro-batch recipe, in ONE
  * place (it grew three inline copies — Scd2Dim, st31, st38 — before
  * this extraction; the commit protocol must not be able to drift
  * between them).
  *
  * Layout: `root/v_<batchId>/` parquet dirs, a version visible only
  * once its `_SUCCESS` marker exists. Each micro-batch reads the
  * newest COMMITTED version STRICTLY BELOW its own batch id (the
  * caller's base state when none) and overwrites its own `v_<batchId>`
  * — so a crash replay re-reads the original input state and rewrites
  * the identical output, and a half-written version is invisible.
  * This is the CdcReplica recipe; Scd2Dim.run, st31's monoid sample
  * state, and st38's join view all drain through it. */
object VersionedView {

  /** `_SUCCESS`-committed version ids under `root`, ascending. */
  def versions(root: java.io.File): Seq[Long] =
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("v_") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getName.stripPrefix("v_").toLong).sorted.toSeq

  /** The newest committed state below `batchId`: the exactly-once read
    * side of the recipe (`base` when no prior version qualifies). */
  def stateBefore(spark: SparkSession, root: java.io.File, batchId: Long,
                  base: => DataFrame): DataFrame =
    versions(root).filter(_ < batchId).lastOption match {
      case Some(v) => spark.read.parquet(s"${root.getAbsolutePath}/v_$v")
      case None => base
    }

  /** Commit `state` as this batch's version (idempotent overwrite). */
  def commit(state: DataFrame, root: java.io.File, batchId: Long): Unit =
    state.write.mode("overwrite")
      .parquet(s"${root.getAbsolutePath}/v_$batchId")

  /** The newest committed state after a drain (`base` for an empty
    * input — zero batches committed nothing). */
  def latest(spark: SparkSession, root: java.io.File,
             base: => DataFrame): DataFrame =
    versions(root).lastOption match {
      case Some(v) => spark.read.parquet(s"${root.getAbsolutePath}/v_$v")
      case None => base
    }

  /** Drain `stream` with AvailableNow, maintaining a versioned state
    * under `rootDir`: per batch, `step(stateBefore, batch, batchId)` is
    * committed as the batch's version. Returns the final state.
    *
    * `parts` scopes the session's shuffle partitions around the drain
    * (restored on exit): every shuffle inside a `step` is a micro-query
    * over the versioned STATE — view rows, not the corpus — and the
    * version write emits one file per partition of the folded state, so
    * partitions beyond what the state needs multiply both per-batch
    * shuffle slots and the file count every later batch re-opens. Sized
    * by the [[graft.Confs.stateParts]] rule (state bytes / target
    * partition size, floored); every current caller's state is
    * key-bounded kilobytes, so the default floor fits — a deployment
    * with a corpus-sized view passes its own estimate. */
  def run(spark: SparkSession, stream: DataFrame, rootDir: String,
          ckptDir: String, base: => DataFrame,
          parts: Int = graft.Confs.stateParts(1L << 20))
         (step: (DataFrame, DataFrame, Long) => DataFrame): DataFrame =
    graft.Confs.withConfs(spark, Seq(
      "spark.sql.shuffle.partitions" -> parts.toString)) {
      val root = new java.io.File(rootDir); root.mkdirs()
      EventStream.drainAt(spark, stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val prev = stateBefore(batch.sparkSession, root, batchId, base)
          commit(step(prev, batch, batchId), root, batchId)
        }, ckptDir)
      latest(spark, root, base)
    }
}
