package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.streaming.DedupStore

/** DataSource V2 READ path for the store's change feed — the consumer
  * half of the CDC story st16/st18 started with API calls, as a
  * Spark-native source:
  *
  * {{{
  *   spark.readStream.format("graft.sources.DedupStoreChanges")
  *     .option("path", storeDir).option("since", cursor).load()
  * }}}
  *
  * Emits `(op, thash, text, keep_id, n_copies)` rows:
  *  - `op = 'upsert'`: a CURRENT row of a bucket rewritten by a version
  *    ordered after the consumer's cursor — [[DedupStore.changedSince]]'s
  *    exact semantics, including the tombstone filter (suppressed texts
  *    never surface as upserts), with `thash = xxhash64(text)` so the
  *    consumer keys deletes and upserts identically;
  *  - `op = 'delete'`: a tombstoned hash (`text`/`keep_id`/`n_copies`
  *    NULL) from `_TOMBSTONES/t*` (live) and `d*` (compaction-folded,
  *    feed-only) files the cursor has not consumed. Applying deletes
  *    THEN upserts per batch reconstructs store state (st18/st22's
  *    algebra — deletes-first, because a batch can carry both a folded
  *    delete and a newer re-ingestion upsert for the same text, and the
  *    upsert must win); both are idempotent, absorbing bucket-granular
  *    and compaction-fold re-delivery.
  *
  * Offsets: `{version, tomb-file-index}` — version names are the store's
  * own commit points (`vN[.s]`, totally ordered), tombstone files are an
  * append-only indexed log whose index is MONOTONIC across compaction
  * (consolidation always lands at a fresh higher index, floored by the
  * store's `_NEXT` counter even when nothing survives, so the offset
  * never moves backwards and a checkpointed cursor is never stranded
  * above a reused index; re-emitted survivor hashes are idempotent
  * deletes). Micro-batch (start, end] plans one partition per
  * changed data file — the same manifest-pruned file set `changedSince`
  * reads, bytes ∝ rewritten buckets, never store size — plus one bounded
  * partition carrying the new tombstone hashes. Batch reads (`spark.read`)
  * deliver the full catch-up from `since` in one shot.
  *
  * The executor-side reader uses parquet-hadoop's example Group API
  * directly (the files are the store's own three-column parquet — no
  * schema inference needed), keeping the source dependency-free; the
  * tombstone prefilter set rides the reader factory as plain longs
  * (bounded takedown lists — the store's documented broadcast regime).
  */
class DedupStoreChanges extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DedupStoreChanges.CHANGE_SCHEMA

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new StoreChangesTable(
      Option(properties.get("path")).getOrElse(throw new IllegalArgumentException(
        "DedupStoreChanges requires .option(\"path\", <store root>)")),
      Option(properties.get("since")),
      Option(properties.get("sincetomb")).orElse(
        Option(properties.get("sinceTomb"))).map(_.toLong))
}

object DedupStoreChanges {
  val CHANGE_SCHEMA: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("thash", LongType, nullable = false),
    StructField("text", StringType),
    StructField("keep_id", LongType),
    StructField("n_copies", LongType)))

  /** Offset = the newest consumed store version (its `vN[.s]` name, or
    * "" before any) + the highest consumed `_TOMBSTONES/t<i>` index. */
  private[sources] case class ChangesOffset(version: String, tomb: Long)
      extends Offset {
    override def json(): String = s"$version|$tomb"
    def key: (Long, Int) =
      if (version.isEmpty) (-1L, -1)
      else DedupStore.parseKey(version).getOrElse(
        throw new IllegalArgumentException(s"bad store version '$version'"))
  }

  private[sources] def parseOffset(s: String): ChangesOffset = {
    val i = s.lastIndexOf('|')
    ChangesOffset(s.substring(0, i), s.substring(i + 1).toLong)
  }

  /** A tombstone-dir file's feed index — `t<i>` (live) and `d<i>`
    * (compaction-folded, feed-only) share one monotonic index space;
    * anything else (the `_NEXT` counter, dot-temp writes) is not a
    * feed file. One shared parser with the store's allocation floor —
    * see [[DedupStore.feedIdx]]. */
  private def feedIdx(name: String): Option[Long] = DedupStore.feedIdx(name)

  /** Highest committed tombstone-feed file index (both families), -1
    * when none. */
  private[sources] def tombMax(storeDir: String): Long = {
    val (fs, root) = DedupStore.fsRoot(storeDir)
    val d = new Path(root, "_TOMBSTONES")
    if (!fs.exists(d)) -1L
    else fs.listStatus(d).toSeq
      .filter(_.isFile)
      .flatMap(f => feedIdx(f.getPath.getName))
      .maxOption.getOrElse(-1L)
  }

  /** Delete-feed hashes in files with index in (fromExcl, toIncl] —
    * live `t*` lines are bare hashes, folded `d*` lines are
    * `hash\tfoldedAt`; the first tab-field is the hash either way. */
  private[sources] def tombHashes(storeDir: String, fromExcl: Long,
                                  toIncl: Long): Array[Long] = {
    val (fs, root) = DedupStore.fsRoot(storeDir)
    val d = new Path(root, "_TOMBSTONES")
    if (!fs.exists(d)) Array.empty
    else fs.listStatus(d).toSeq
      .filter(f => f.isFile && feedIdx(f.getPath.getName)
        .exists(i => i > fromExcl && i <= toIncl))
      .flatMap(f => DedupStore.readString(fs, f.getPath)
        .split("\n", -1).toSeq
        .flatMap(_.split("\t", 2).head.trim.toLongOption))
      .distinct.toArray
  }

  private def after(k: (Long, Int), s: (Long, Int)): Boolean =
    k._1 > s._1 || (k._1 == s._1 && k._2 > s._2)

  /** The data files of `endVersion` whose WRITING version (embedded in
    * the manifest path — `vN[.s]/bucket=…/part-…`) orders after
    * `sinceKey`: exactly [[DedupStore.changedSince]]'s pruned file set.
    *
    * When the pinned end version is GONE (the store advanced and
    * retention pruned its directory between the offset-WAL write and a
    * crash-replay of the batch), the batch must still deliver: planning
    * it empty would advance the offset past (start, end] and every
    * bucket last rewritten in that window would be excluded from all
    * later batches too — permanent silent upsert loss. The fallback
    * reads the LATEST committed manifest restricted to files written in
    * (since, end] — exactly the window's still-current buckets, live by
    * retention precisely because the latest manifest references them;
    * buckets rewritten again after `end` carry a higher writing version
    * and re-deliver in the next batch, so nothing is missed or
    * double-planned. A store with no committed version at all (deleted
    * or replaced out from under the checkpoint) throws instead of
    * silently planning nothing. */
  private[graft] def changedFilesBetween(storeDir: String,
                                           sinceKey: (Long, Int),
                                           endVersion: String): Seq[String] = {
    val (fs, root) = DedupStore.fsRoot(storeDir)
    val endKey = DedupStore.parseKey(new Path(endVersion).getName).getOrElse(
      throw new IllegalArgumentException(s"bad store version '$endVersion'"))
    val all = DedupStore.versions(fs, root)
    all.find(_._1 == endKey) match {
      case Some((_, vDir)) =>
        DedupStore.entriesOf(fs, root, vDir)
          .filter { case (_, f) =>
            DedupStore.parseKey(f.getParent.getParent.getName)
              .exists(after(_, sinceKey)) }
          .map(_._2.toString)
      case None =>
        val latest = all.sortBy(_._1).lastOption.getOrElse(
          throw new IllegalStateException(
            s"store $storeDir has no committed version but the " +
              s"checkpointed offset pins '$endVersion' — the store was " +
              "deleted or replaced out from under this consumer's " +
              "checkpoint; re-sync from a fresh cursor instead of " +
              "resuming this one"))
        DedupStore.entriesOf(fs, root, latest._2)
          .filter { case (_, f) =>
            DedupStore.parseKey(f.getParent.getParent.getName)
              .exists(k => after(k, sinceKey) && !after(k, endKey)) }
          .map(_._2.toString)
    }
  }
}

private[sources] class StoreChangesTable(storeDir: String,
                                         since: Option[String],
                                         sinceTomb: Option[Long])
    extends Table with SupportsRead {
  import DedupStoreChanges._

  override def name(): String = s"graft_store_changes($storeDir)"
  override def schema(): StructType = CHANGE_SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  /** The consumer's starting point: the `since` cursor (a name from
    * [[DedupStore.currentVersion]], bare or full path — like
    * changedSince) for upserts; `sinceTomb` (a tombstone file index
    * from a previous offset) for deletes. A bare version name carries
    * no tombstone position, so the default is -1 — EVERY committed
    * tombstone re-emits as a delete, which idempotent delete
    * application absorbs (the safe direction; skipping one would lose
    * an erasure). */
  private def startOffset: ChangesOffset =
    ChangesOffset(since.map(v => new Path(v).getName).getOrElse(""),
      sinceTomb.getOrElse(-1L))

  /** The store tip. The tombstone index is read BEFORE the version:
    * purge writes its tombstone first and commits the bucket rewrite
    * second, so reading version-then-tombs could capture the delete
    * WITHOUT the rewrite that removed the victim from the upsert axis —
    * under deletes-then-upserts a stale in-window upsert would then
    * re-add the victim with nothing left to remove it. Tombs-first can
    * only miss a tombstone the next batch delivers (transient,
    * self-healing in the safe direction). */
  private def endOffset: ChangesOffset = {
    val tombs = tombMax(storeDir)
    ChangesOffset(
      DedupStore.currentVersion(storeDir)
        .map(p => new Path(p).getName).getOrElse(""),
      tombs)
  }

  private def plan(start: ChangesOffset, end: ChangesOffset): Array[InputPartition] = {
    if (end.version.isEmpty) return Array.empty
    val files =
      if (end.version == start.version) Seq.empty
      else changedFilesBetween(storeDir, start.key, end.version)
    val deletes = tombHashes(storeDir, start.tomb, end.tomb)
    val parts = files.map(f => UpsertFilePartition(f): InputPartition) ++
      (if (deletes.nonEmpty) Seq(DeletePartition(deletes): InputPartition)
       else Seq.empty)
    parts.toArray
  }

  private def factory: PartitionReaderFactory = {
    // the LIVE tombstone set prefilters upsert rows (changedSince's
    // withoutTombstoned, pushed to the reader) — bounded, rides the
    // factory as plain longs. Live only, not the folded feed: a folded
    // victim is physically erased (nothing to suppress) and its text
    // re-ingested after the fold is a legitimately new document whose
    // upsert MUST flow.
    val suppress = DedupStore.loadTombstones(storeDir).toArray
    new ChangesReaderFactory(
      new SerializableConfiguration(
        graft.NioLocalFileSystem.conf(SparkSession.active)),
      suppress)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = CHANGE_SCHEMA

      override def toBatch: Batch = new Batch {
        // one-shot catch-up: everything from `since` to the current tip
        override def planInputPartitions(): Array[InputPartition] =
          plan(startOffset, endOffset)
        override def createReaderFactory(): PartitionReaderFactory = factory
      }

      override def toMicroBatchStream(ckpt: String): MicroBatchStream =
        new MicroBatchStream with SupportsTriggerAvailableNow {
          // an empty store tip before the cursor'd start would move
          // offsets backwards; clamp to the start
          private def tip: ChangesOffset = {
            val e = endOffset
            if (e.version.isEmpty) startOffset else e
          }
          // AvailableNow contract: pin the end at prepare time so the
          // drain stops at the tip it saw, even if writers keep landing
          private var pinned: Option[ChangesOffset] = None
          override def prepareForTriggerAvailableNow(): Unit =
            pinned = Some(tip)
          override def initialOffset(): Offset = startOffset
          override def latestOffset(): Offset = pinned.getOrElse(tip)
          // SupportsAdmissionControl variant (what the engine actually
          // calls): the feed has no rate knob — a batch is whatever the
          // store committed — so limits are acknowledged, not applied
          override def latestOffset(start: Offset,
                                    limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
            pinned.getOrElse(tip)
          override def deserializeOffset(json: String): Offset = parseOffset(json)
          override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
            plan(start.asInstanceOf[ChangesOffset], end.asInstanceOf[ChangesOffset])
          override def createReaderFactory(): PartitionReaderFactory = factory
          override def commit(end: Offset): Unit = ()
          override def stop(): Unit = ()
        }
    }
}

private[sources] case class UpsertFilePartition(file: String) extends InputPartition
private[sources] case class DeletePartition(hashes: Array[Long]) extends InputPartition

private[sources] class ChangesReaderFactory(
    conf: SerializableConfiguration, suppress: Array[Long])
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case UpsertFilePartition(file) =>
        new UpsertFileReader(file, conf.value, suppress.toSet)
      case DeletePartition(hashes) => new DeleteReader(hashes)
    }
}

/** Reads one store parquet file (text, keep_id, n_copies) with
  * parquet-hadoop's Group API and emits upsert rows, dropping
  * tombstone-suppressed texts. Runs on the executor — one file per
  * task, the store's own write granularity. */
private[sources] class UpsertFileReader(
    file: String, conf: org.apache.hadoop.conf.Configuration,
    suppress: Set[Long]) extends PartitionReader[InternalRow] {
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.GroupReadSupport

  private val reader: ParquetReader[org.apache.parquet.example.data.Group] =
    ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(conf).build()
  private var row: InternalRow = _

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null) {
      val text = g.getString("text", 0)
      val ut = UTF8String.fromString(text)
      // the engine's own xxhash64 (seed 42), so thash joins exactly
      // against tombstones()/purge hashing
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(ut, StringType, 42L)
      if (!suppress.contains(h)) {
        row = new GenericInternalRow(Array[Any](
          UTF8String.fromString("upsert"), h, ut,
          g.getLong("keep_id", 0), g.getLong("n_copies", 0)))
        return true
      }
      g = reader.read()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}

private[sources] class DeleteReader(hashes: Array[Long])
    extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < hashes.length }
  override def get(): InternalRow = new GenericInternalRow(
    Array[Any](UTF8String.fromString("delete"), hashes(i), null, null, null))
  override def close(): Unit = ()
}
