package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The CONSUMER half of the store's CDC contract, run the Spark way: a
  * downstream replica maintained from the
  * [[graft.sources.DedupStoreChanges]] streaming source by applying
  * each micro-batch's delete rows FIRST and its upsert rows second —
  * the store's documented algebra (deletes-first because a batch can
  * carry both a compaction-folded delete and a newer re-ingestion
  * upsert for the same text hash, and the upsert must win).
  *
  * The replica is itself versioned the way the store is: each batch
  * reads the newest COMMITTED replica version below its batch id and
  * writes version `b<batchId>` (Spark's `_SUCCESS` gates visibility),
  * so a crash-replay of a checkpointed batch re-reads the same input
  * and idempotently rewrites the same output — the foreachBatch
  * exactly-once recipe on plain parquet. After a commit, versions no
  * replay can need (everything below batchId − 1) are pruned, keeping
  * storage at ~2 replica copies; a real deployment would size batches
  * so a replica rewrite is acceptable, or swap the parquet rewrite for
  * a MERGE INTO where a table format provides one — the batch algebra
  * is identical.
  *
  * Rows carry `(thash, text, keep_id, n_copies)` — keyed by the same
  * xxhash64 the store's feed uses, so deletes (hash-only) and upserts
  * join without re-hashing. */
object CdcReplica {

  private def fsRoot(dir: String) = DedupStore.fsRoot(dir)

  private def committedVersions(base: String): Seq[(Long, Path)] = {
    val (fs, root) = fsRoot(base)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new Path(st.getPath, "_SUCCESS")))
      .flatMap(st => st.getPath.getName.stripPrefix("b").toLongOption
        .map(_ -> st.getPath))
  }

  /** Seed the replica with its pre-sync state (version `b-1`): rows of
    * (text, keep_id, n_copies); the hash key is derived here so seeds
    * can't drift from the feed's keying. */
  def seed(stale: DataFrame, base: String): Unit =
    stale.select(xxhash64(col("text")).as("thash"), col("text"),
        col("keep_id"), col("n_copies"))
      .write.mode("overwrite").parquet(s"$base/b-1")

  /** The newest committed replica state. */
  def read(spark: SparkSession, base: String): DataFrame =
    committedVersions(base).sortBy(_._1).lastOption match {
      case Some((_, dir)) => spark.read.parquet(dir.toString)
      case None => throw new IllegalStateException(
        s"CDC replica at $base has no committed version — seed() it " +
          "before draining the change feed into it")
    }

  /** Apply ONE change-feed micro-batch (rows with `op` ∈ upsert/delete,
    * `thash`, and the store columns) on top of the newest committed
    * version BELOW `batchId` — below, not newest, so a crash-replay of
    * batch N deterministically re-reads what the original attempt read
    * even if its own `bN` half-committed. Deletes apply to the STALE
    * side only, then keyed upserts replace re-emitted hashes. */
  def applyBatch(batch: DataFrame, base: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    val cur = committedVersions(base).filter(_._1 < batchId)
      .sortBy(_._1).lastOption match {
      case Some((_, dir)) => s.read.parquet(dir.toString)
      case None => throw new IllegalStateException(
        s"CDC replica at $base has no committed version below batch " +
          s"$batchId — seed() the replica before draining into it")
    }
    val ups = batch.filter(col("op") === "upsert")
      .select(col("thash"), col("text"), col("keep_id"), col("n_copies"))
    // delete lists are bounded (takedowns) — broadcast the anti-join
    val dels = batch.filter(col("op") === "delete").select(col("thash"))
    cur
      .join(broadcast(dels), Seq("thash"), "left_anti")
      .join(ups.select(col("thash")), Seq("thash"), "left_anti")
      .unionByName(ups)
      .write.mode("overwrite").parquet(s"$base/b$batchId")
    // prune history no replay can need: a replay of THIS batch reads
    // below batchId, a replay of the NEXT reads this one — everything
    // below batchId - 1 is dead
    val (fs, _) = fsRoot(base)
    committedVersions(base).filter(_._1 < batchId - 1)
      .foreach { case (_, dir) => fs.delete(dir, true): Unit }
  }

  /** Drain the store's change feed (from `cursor`) into the replica at
    * `base` (which must be [[seed]]ed) through the DSv2 source with an
    * AvailableNow trigger, and return the post-sync replica state.
    * Restartable: offsets checkpoint at `ckptDir`, so a later call with
    * the same checkpoint resumes from the consumed position. */
  def sync(spark: SparkSession, storeDir: String, cursor: String,
           base: String, ckptDir: String): DataFrame = {
    val changes = spark.readStream.format("graft.sources.DedupStoreChanges")
      .option("path", storeDir).option("since", cursor).load()
    EventStream.drainAt(spark, changes.writeStream
      .foreachBatch((batch: DataFrame, id: Long) =>
        applyBatch(batch, base, id)), ckptDir)
    read(spark, base)
  }
}
