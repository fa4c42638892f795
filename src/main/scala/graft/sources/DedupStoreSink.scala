package graft.sources

import java.util

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.streaming.DedupStore

/** DataSource V2 WRITE path for the versioned dedup store — the
  * Spark-native sink replacing [[DedupStore.run]]'s `foreachBatch`
  * escape hatch: `df.writeStream.format("graft.sources.DedupStoreSink")
  * .option("path", storeDir)` drains a document stream into the store
  * with MERGE semantics, and `df.write` (batch, append mode) folds a
  * one-off delivery into the same version chain. Options: `path` (the
  * store root, required), `nBuckets` (layout granularity for a store
  * created by this write; an existing store's committed layout wins).
  *
  * How the merge maps onto the V2 write protocol:
  *
  *  - EXECUTORS (DataWriter): each task pre-aggregates its rows
  *    `text → (min doc_id, count)` in a bounded hash map (flushed to
  *    disk past [[DedupStoreSink.FlushEntries]] distinct texts, so task
  *    memory never scales with partition size — duplicate flush rows
  *    re-combine in the reduce) and stages ONLY the partials — the
  *    map-side combine of the store's merge aggregate, so the staged
  *    bytes are ∝ distinct texts per task, never raw input. Staged as
  *    base64 TSV under `<store>/_STAGING/` — content-opaque, newline-safe.
  *  - DRIVER (commit): reads exactly the committed tasks' partial files
  *    (speculative/aborted attempts are excluded because only
  *    [[StagedPartial]] messages name files), reduces them (min/sum),
  *    and runs the SAME bucket-pruned manifest merge as `foreachBatch`
  *    ([[DedupStore.mergeBatch]] with `preAggregated = true`) under the
  *    store's writer lock. A streaming epoch commits version
  *    `(epochId, 0)` — identical replay-skip + `_BATCHSTAT` fingerprint
  *    semantics as the foreachBatch drain, because epoch ids ARE the
  *    micro-batch ids under a checkpoint. A batch write commits the
  *    next free major instead (batch writes have no replay identity).
  *
  * The price vs `foreachBatch` is one staging write+read of the
  * per-task PARTIALS (not the raw batch); the merge job, manifest
  * commit, tombstone filter, and crash story are shared code. Writer
  * concurrency: each commit runs under the store `_LOCK`, and two
  * concurrent streaming drains also collide on version majors (both
  * start at epoch 0), where the `_BATCHSTAT` fingerprint check fails
  * loudly — the single-DRAIN contract of [[DedupStore]] carries over.
  */
class DedupStoreSink extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DedupStoreSink.DOC_SCHEMA

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DedupStoreTable(
      Option(properties.get("path")).getOrElse(throw new IllegalArgumentException(
        "DedupStoreSink requires .option(\"path\", <store root>)")),
      Option(properties.get("nbuckets")).orElse(
        Option(properties.get("nBuckets"))).map(_.toInt).getOrElse(16))
}

object DedupStoreSink {
  /** The accepted write schema: raw documents, exactly as
    * [[DedupStore.run]] consumes them. */
  val DOC_SCHEMA: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", LongType),
    org.apache.spark.sql.types.StructField("text", StringType)))

  /** Distinct-text cap per writer hash map before a flush to the staged
    * file: bounds task memory at ~tens of MB regardless of partition
    * size (a flushed text re-appearing later just emits another partial
    * row — min/sum re-combines them in the driver reduce). */
  val FlushEntries: Int = 100000
}

private[sources] class DedupStoreTable(storeDir: String, nBuckets: Int)
    extends Table with SupportsWrite {

  override def name(): String = s"graft_dedup_store($storeDir)"
  override def schema(): StructType = DedupStoreSink.DOC_SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val s = info.schema()
    val docIdx = s.fieldIndex("doc_id") // throws with the field list if absent
    val textIdx = s.fieldIndex("text")
    require(s(docIdx).dataType == LongType && s(textIdx).dataType == StringType,
      s"DedupStoreSink expects (doc_id LONG, text STRING), got ${s.simpleString}")
    new WriteBuilder {
      override def build(): Write = new DedupStoreWrite(
        storeDir, nBuckets, info.queryId(), docIdx, textIdx)
    }
  }
}

private[sources] class DedupStoreWrite(storeDir: String, nBuckets: Int,
                                       queryId: String, docIdx: Int, textIdx: Int)
    extends Write {

  private def stageRoot = s"$storeDir/_STAGING/$queryId"

  private def factory: PartialWriterFactory = {
    val conf = new SerializableConfiguration(
      graft.NioLocalFileSystem.conf(SparkSession.active))
    new PartialWriterFactory(stageRoot, conf, docIdx, textIdx)
  }

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      factory
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      // batch deliveries have no replay identity → always a fresh major
      DedupStoreCommit.commit(storeDir, nBuckets, stageRoot,
        DedupStore.nextMajor(storeDir), messages)
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      DedupStoreCommit.cleanStaging(storeDir, stageRoot)
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
      factory
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      DedupStoreCommit.commit(storeDir, nBuckets, stageRoot, epochId, messages)
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      DedupStoreCommit.cleanStaging(storeDir, s"$stageRoot/e$epochId")
  }
}

/** One committed task's staged partial file. Only paths carried by
  * these messages are read at commit — a crashed or speculative task
  * attempt's leftover file is never picked up. */
private[sources] case class StagedPartial(path: String, rows: Long)
    extends WriterCommitMessage

private[sources] object DedupStoreCommit {

  /** Driver-side epoch/batch commit: reduce the staged partials and run
    * the store's bucket-pruned manifest merge as version (batchId, 0),
    * under the writer lock. Cleans the epoch's staging dir afterwards —
    * also on the replay-skip path (vN already committed), where the
    * re-delivered partials are handed to the `_BATCHSTAT` fingerprint
    * check before being discarded. */
  def commit(storeDir: String, nBuckets: Int, stageRoot: String,
             batchId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val paths = messages.collect { case StagedPartial(p, n) if n > 0 => p }
    val (fs, root) = DedupStore.fsRoot(storeDir)
    try {
      if (paths.nonEmpty) {
        val partials = spark.read.text(paths: _*)
          .select(split(col("value"), "\t").as("f"))
          .select(
            unbase64(col("f").getItem(0)).cast("string").as("text"),
            col("f").getItem(1).cast("long").as("keep_id"),
            col("f").getItem(2).cast("long").as("n_copies"))
        DedupStore.withWriterLock(fs, root, s"dsv2-commit-b$batchId") {
          DedupStore.mergeBatch(partials, storeDir, nBuckets, batchId,
            preAggregated = true)
        }
      }
    } finally {
      // staged dirs: e<epochId> for streaming, e-1 for batch writers —
      // derive from the actual message paths (plus the epoch dir, which
      // covers an all-empty epoch whose writers staged nothing)
      val dirs = paths.map(p => new Path(p).getParent).distinct :+
        new Path(s"$stageRoot/e$batchId")
      dirs.foreach(d => if (fs.exists(d)) fs.delete(d, true): Unit)
    }
  }

  def cleanStaging(storeDir: String, dir: String): Unit = {
    val (fs, _) = DedupStore.fsRoot(storeDir)
    val p = new Path(dir)
    if (fs.exists(p)) fs.delete(p, true): Unit
  }
}

private[sources] class PartialWriterFactory(stageRoot: String,
                                            conf: SerializableConfiguration,
                                            docIdx: Int, textIdx: Int)
    extends DataWriterFactory with StreamingDataWriterFactory {

  // batch writes have no epoch id (the driver derives the version major
  // only at commit time), so batch writers stage under the e-1 pseudo-
  // epoch; commit() cleans staged dirs via the message paths' parents,
  // so the layout stays uniform without the factory knowing the major
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, -1L)

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new PartialWriter(s"$stageRoot/e$epochId/p$partitionId-t$taskId",
      conf, docIdx, textIdx)
}

/** Executor-side writer: bounded map-side combine of the store's merge
  * aggregate. All rows fold into `text → (min doc_id, count)`; the map
  * flushes to the staged file when it exceeds the entry cap, so memory
  * is bounded and the staged output is partial rows the driver reduce
  * re-combines (min/sum is associative — multiple partials per text are
  * fine). The file is created lazily on first flush/commit: an empty
  * task stages nothing. */
private[sources] class PartialWriter(filePath: String,
                                     conf: SerializableConfiguration,
                                     docIdx: Int, textIdx: Int)
    extends DataWriter[InternalRow] {

  private val agg = mutable.HashMap.empty[String, (Long, Long)]
  private var out: java.io.BufferedWriter = _
  private var staged = 0L

  private def ensureOut(): java.io.BufferedWriter = {
    if (out == null) {
      val p = new Path(filePath)
      val fs = p.getFileSystem(conf.value)
      out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        fs.create(p, true), java.nio.charset.StandardCharsets.UTF_8))
    }
    out
  }

  private def flush(): Unit = {
    if (agg.nonEmpty) {
      val w = ensureOut()
      val b64 = java.util.Base64.getEncoder
      agg.foreach { case (text, (keepId, n)) =>
        w.write(b64.encodeToString(
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        w.write('\t'); w.write(keepId.toString)
        w.write('\t'); w.write(n.toString); w.write('\n')
      }
      staged += agg.size
      agg.clear()
    }
  }

  override def write(row: InternalRow): Unit = {
    val text = row.getUTF8String(textIdx).toString
    val id = row.getLong(docIdx)
    agg.get(text) match {
      case Some((keepId, n)) => agg.update(text, (math.min(keepId, id), n + 1))
      case None              => agg.update(text, (id, 1L))
    }
    if (agg.size >= DedupStoreSink.FlushEntries) flush()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    if (out != null) out.close()
    StagedPartial(filePath, staged)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    val p = new Path(filePath)
    val fs = p.getFileSystem(conf.value)
    if (fs.exists(p)) fs.delete(p, false): Unit
  }

  override def close(): Unit = ()
}
