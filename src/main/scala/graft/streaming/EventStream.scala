package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

import graft.Tables

/** Structured Streaming surface over the `events` table (north-star; the
  * reference is batch-only — its incrementality is "re-run the DAG, pick
  * the newest folder", SURVEY.md §1 — so the idiomatic Spark upgrade is a
  * file-source stream with `Trigger.AvailableNow`).
  *
  * `events.ts` arrives in whichever physical encoding the fixture
  * generation used (INT64 TIMESTAMP(NANOS) or timestamp[us]); the
  * file's footer, read on the driver, picks the matching stream schema,
  * and `ts` is normalized to the engine's canonical epoch-MICROS long
  * plus a timestamp column `event_time` (see [[graft.Tables.tsMicros]]).
  */
object EventStream {

  /** Canonical events schema: `ts` = epoch micros, long. This is the
    * shape of every engine-STAGED events file (staging writes the
    * normalized frame); raw fixture dirs go through [[readEvents]]'s
    * footer read instead. */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over the events parquet. The glob (not a bare
    * file path) makes the source derive `basePath` = the directory, which
    * the file-stream source requires. A file-stream source must DECLARE
    * its schema, so the fixture's physical `ts` type is read from the
    * file's footer first ([[graft.Tables.fileSchema]], no Spark job), then
    * normalized. */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val physical =
      Tables.fileSchema(spark, s"$sfDir/events.parquet")("ts").dataType
    val physSchema = StructType(schema.map(f =>
      if (f.name == "ts") f.copy(dataType = physical) else f))
    spark.readStream
      .schema(physSchema)
      .parquet(s"$sfDir/events.*")
      .withColumn("ts", Tables.tsMicros(col("ts"), physical))
      .withColumn("event_time", Tables.eventTime(col("ts")))
  }

  /** Hourly tumbling-window counts per event type with a watermark —
    * the canonical windowed streaming aggregate. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("hour"), col("event_type"), col("n_events"))

  /** Sliding-window counts: 2-hour windows advancing hourly, so every
    * event lands in exactly two windows. Same bounded-state shape as
    * [[hourlyCounts]] — the watermark closes a window 1 h after its end,
    * and state is O(open windows × event types) regardless of volume.
    * The overlap factor (len/slide = 2) multiplies shuffle rows, which
    * is the real cost knob at 100 TB: Spark expands each event to its
    * window set BEFORE the partial aggregation, so partials still
    * combine map-side. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "2 hours", "1 hour").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n_events"))

  /** Blocklist decontamination on the stream (st11): drop events from
    * blocklisted users without joining the whole stream — the bloom
    * prefilter (a codegen'd literal in the scan, no state, no shuffle)
    * routes the definitely-clean majority straight through, and only
    * might-be-blocked candidates take the stream-static anti-join that
    * removes false positives. Bloom has no false negatives, so no
    * blocked user can slip through the short-circuit branch; the union
    * is exactly `events ANTI JOIN blocklist`. At 100 TB-a-day event
    * volume this is the difference between joining ~0.1% of the stream
    * and joining all of it. */
  def blocklistFiltered(events: DataFrame, blocklist: DataFrame,
                        keyCol: String): DataFrame = {
    val expected = math.max(blocklist.count(), 1L)
    val bloom = graft.ops.Sketches.buildBloom(blocklist, keyCol, expected)
    val mc = graft.ops.Sketches.mightContain(bloom, col(keyCol))
    val clean = events.filter(!mc)
    val maybe = events.filter(mc)
      .join(blocklist, Seq(keyCol), "left_anti")
    clean.unionByName(maybe)
  }

  /** Dead-letter routing split (st28): `(bad, good)` partitions of
    * `batch` under the validity predicate, TOTAL by construction — a
    * row where `rawBad` evaluates to SQL NULL (3VL: `value < 1.0` on a
    * NULL value) would vanish from BOTH `filter(p)` and `filter(!p)`,
    * the one way the "every row lands in exactly one sink" guarantee
    * silently breaks. Unparseable ≈ invalid, so null-predicate rows
    * route to the dead letter. */
  def routeByValidity(batch: DataFrame,
                      rawBad: Column): (DataFrame, DataFrame) = {
    val bad = coalesce(rawBad, lit(true))
    (batch.filter(bad), batch.filter(!bad))
  }

  /** A staged arrival fixture: the parquet files a stream stager wrote
    * under `dir`, and the `schema` they declare, read back from them once
    * when the fixture is staged (a file-stream source must declare its
    * schema; probing it per run would add a footer pass to the face). */
  final case class Arrivals(dir: String, schema: StructType) {

    /** The one reader for staged arrivals: a file-source stream over the
      * `files` glob under `dir`, `perTrigger` files per micro-batch. Two
      * files per trigger is the default every drain here runs at; a
      * face that pins a batch boundary to each file (a watermark pusher
      * that must land alone, an oracle that replays one batch per file)
      * passes 1 and says why beside the call. */
    def read(spark: SparkSession, perTrigger: Int = 2,
             files: String = "*.parquet"): DataFrame =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", perTrigger.toString)
        .parquet(s"$dir/$files")
  }

  object Arrivals {
    /** The fixture staged under `dir`, its schema read from the files. */
    def of(spark: SparkSession, dir: String): Arrivals =
      Arrivals(dir, spark.read.parquet(dir).schema)
  }

  /** A drain root's layout: the sink writes `<dir>/data`, the
    * checkpoint lives in `<dir>/ckpt`. */
  def dataDir(dir: String): String = s"$dir/data"
  def checkpointDir(dir: String): String = s"$dir/ckpt"

  /** Start `writer` with `Trigger.AvailableNow`, checkpointed under
    * `dir` (see [[checkpointDir]]), and block until it has drained
    * everything available.
    * Returns the terminated query, whose `recentProgress` still holds
    * the per-batch telemetry. See [[drainAt]] for the confs it runs
    * under. */
  def drain[T](spark: SparkSession, writer: DataStreamWriter[T],
               dir: String, noData: Boolean = true): StreamingQuery =
    drainAt(spark, writer, checkpointDir(dir), noData)

  /** Start `writer` under `trigger`, checkpointed at `ckpt`, and block
    * until it terminates: every streaming start here goes through this.
    * One-shot drain tuning, restored afterwards (a query copies the
    * session's confs when it starts, and keeps them):
    *  - `noData` keeps (default) or skips the trailing no-data
    *    micro-batches — see [[runToFiles]] for who needs which;
    *  - Spark's checksum files beside state files are off: each is one
    *    more file create and rename per state file on a per-run
    *    checkpoint;
    *  - [[graft.NioLocalFileSystem.Options]]: checkpoints and state
    *    stores (through `FileContext`), and the batch writes of a
    *    foreachBatch body, go through the local filesystem that starts
    *    no `chmod` or `readlink` process.
    * State partitions are NOT scoped here: a foreachBatch body runs
    * batch jobs that keep session parallelism, so [[runToFiles]] and
    * [[runToMemory]] scope them around their own stateful queries. */
  def drainAt[T](spark: SparkSession, writer: DataStreamWriter[T],
                 ckpt: String, noData: Boolean = true,
                 trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    graft.Confs.withConfs(spark, Seq(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noData.toString,
      noChecksums) ++ graft.NioLocalFileSystem.Options) {
      val q = writer.option("checkpointLocation", ckpt)
        .trigger(trigger)
        .start()
      q.awaitTermination()
      q
    }

  private val noChecksums = "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false"

  /** The state of the drain root `dir` through the `statestore` source,
    * with `options` on top of its checkpoint path. Reads under the
    * checksum setting [[drain]] wrote with: the source fixes its state
    * store conf when it loads, so a read with checksums on would look up
    * a sidecar for every state file and log a warning for each. */
  def readState(spark: SparkSession, dir: String,
                options: (String, String)*): DataFrame =
    graft.Confs.withConfs(spark, Seq(noChecksums)) {
      spark.read.format("statestore")
        .option("path", checkpointDir(dir))
        .options(options.toMap)
        .load()
    }

  private val memorySinks = new java.util.concurrent.atomic.AtomicLong

  /** Run a streaming aggregate to completion over the available data and
    * return the result (memory sink, complete mode, AvailableNow).
    *
    * The memory sink holds the (bounded-cardinality) aggregate on the
    * driver — right for the oracle-checked query surface, where Complete
    * mode must include still-open windows. The production drain at scale
    * is [[runToFiles]]: Append mode + watermark to a parquet sink, no
    * driver-held result.
    *
    * The checkpoint goes to a fresh [[graft.TempDirs]] root, not to
    * Spark's temporary one under `java.io.tmpdir`, which a failed drain
    * would leave behind.
    *
    * The sink gets a fresh name per call. Spark registers a memory sink
    * as a session temp view, which would pin its rows on the driver for
    * the session's life; the returned frame is resolved first and the
    * view dropped, so the rows live exactly as long as the frame does.
    * The trailing no-data batch is skipped (it changes nothing for
    * AvailableNow output here), and state partitions are sized to the
    * state ([[graft.Confs.stateParts]]): every memory-sink aggregate
    * here holds key-bounded kilobytes; a caller with bigger state passes
    * its own estimate. */
  def runToMemory(spark: SparkSession, streamed: DataFrame,
                  mode: OutputMode = OutputMode.Complete,
                  parts: Int = graft.Confs.stateParts(1L << 20)): DataFrame = {
    val name = s"graft_mem_${memorySinks.incrementAndGet()}"
    try {
      graft.Confs.withConfs(spark, Seq(
        "spark.sql.shuffle.partitions" -> parts.toString)) {
        drain(spark, streamed.writeStream.outputMode(mode).format("memory")
          .queryName(name), graft.TempDirs.create("graft_mem"), noData = false)
      }
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }

  /** Run `body` with the RocksDB state store provider — the 100 TB
    * streaming-state story: state lives off-heap/on-disk per executor
    * with changelog checkpointing to the checkpoint location, instead of
    * in executor heap (the default HDFSBackedStateStoreProvider holds
    * every key in memory — a ceiling the RocksDB provider removes for
    * high-cardinality keys like per-user sessions). Restores the
    * previous provider afterwards; queries STARTED inside keep their
    * provider for their lifetime (it is fixed at query start). */
  def withRocksDBState[T](spark: SparkSession)(body: => T): T =
    graft.Confs.withConfs(spark, Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // changelog checkpointing — the at-scale default: each commit
      // uploads the batch's CHANGES instead of a full SST snapshot
      // (snapshots consolidate asynchronously in the maintenance
      // thread), so per-batch commit cost tracks the delta, not the
      // accumulated state. Measured on the st54-shaped drain (one JVM,
      // interleaved A/B, min-of-3): 2.55 s → 2.34 s; the win grows
      // with state size. Restart/replay parity is spec-gated
      // (StreamingSpec), and the state reader faces (st59/st60/st65)
      // already ran under changelog explicitly.
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true"
    ))(body)

  /** Drain a watermarked streaming aggregate to a parquet file sink —
    * the cluster-scale path: Append mode emits each window exactly once
    * when the watermark passes it, results land in distributed files,
    * and nothing is held on the driver. Windows not yet past the final
    * watermark stay open and emit on the NEXT run from the same
    * checkpoint (exactly what a continuously-scheduled job wants);
    * one-shot consumers needing every window use [[runToMemory]].
    * The sink and checkpoint live under the drain root `dir`
    * ([[dataDir]], [[checkpointDir]]), by default a fresh [[graft.TempDirs]]
    * dir per call; a caller that reopens the root (a restart, a state
    * read) passes its own. Returns the sink read back as a DataFrame.
    *
    * `noData = true` (default) keeps trailing no-data micro-batches on,
    * which event-time operators need to commit the final watermark
    * (fire armed timers, close windows). A PROCESSING-time stateful
    * query with TTL must pass `noData = false`: every no-data batch
    * advances the TTL clock and schedules eviction work, so
    * AvailableNow never reaches its all-committed termination state
    * and the drain spins forever. */
  def runToFiles(spark: SparkSession, streamed: DataFrame,
                 dir: String = graft.TempDirs.create("graft_drain"),
                 noData: Boolean = true,
                 parts: Int = graft.Confs.stateParts(1L << 20)): DataFrame = {
    // State partitions sized to the STATE ([[graft.Confs.stateParts]]),
    // not the session's scan parallelism: per-partition store open/commit
    // is paid per micro-batch, and the Append sink writes one file per
    // state partition per emitting batch — both pure overhead beyond
    // what the state volume needs. Restored on exit; the RETURNED
    // read-back DataFrame is lazy, so downstream face logic still plans
    // at session parallelism. Callers with bigger state pass their own
    // estimate (the first-checkpoint sizing knob a deployment pins).
    graft.Confs.withConfs(spark, Seq(
      "spark.sql.shuffle.partitions" -> parts.toString)) {
      drain(spark, streamed.writeStream
        .outputMode(OutputMode.Append)
        .format("parquet")
        .option("path", dataDir(dir)), dir, noData)
      spark.read.parquet(dataDir(dir))
    }
  }

  // ---- sessionization ------------------------------------------------------

  /** Typed row over [[schema]]: `ts` is the canonical epoch-MICROS long
    * (what [[graft.Tables.load]] / [[readEvents]] produce). */
  case class Event(event_id: Long, ts: Long, user_id: Long,
                   event_type: String, value: Double, props: String)
  case class Session(user_id: Long, session_id: Int, session_start: Long,
                     session_end: Long, n_events: Long)

  /** The strict (ts, event_id) arrival guard of the per-user ordered
    * operators: `e` must sort after the user's last seen (lastTs, lastId);
    * lastTs = Long.MinValue means nothing has been seen yet. `op` names
    * the operator in the failure. */
  private def requireAfter(op: String, uid: Long, e: Event,
                           lastTs: Long, lastId: Long): Unit =
    if (lastTs != Long.MinValue &&
        (e.ts < lastTs || (e.ts == lastTs && e.event_id <= lastId)))
      throw new IllegalStateException(
        s"$op: out-of-order arrival for user $uid " +
          s"(got (ts, id) (${e.ts}, ${e.event_id}) after ($lastTs, $lastId))")

  val SessionGapMicros: Long = 30L * 60 * 1000 * 1000 // 30 min

  private def toSessions(userId: Long, evs: Iterator[Event]): Iterator[Session] = {
    val sorted = evs.toSeq.sortBy(e => (e.ts, e.event_id))
    if (sorted.isEmpty) Iterator.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      var sessId = 1
      var start = sorted.head.ts // canonical ts: already epoch µs
      var last = start
      var n = 0L
      for (e <- sorted) {
        val us = e.ts
        if (us - last > SessionGapMicros) {
          out += Session(userId, sessId, start, last, n)
          sessId += 1; start = us; n = 0
        }
        last = us; n += 1
      }
      out += Session(userId, sessId, start, last, n)
      out.iterator
    }
  }

  /** Batch sessionization over the typed Dataset API
    * (`KeyValueGroupedDataset.flatMapGroups`): split each user's events
    * into sessions at >30 min gaps. Deterministic (sorted by ts,
    * event_id); SQL-expressible as gaps-and-islands for the oracle. */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).flatMapGroups((uid, evs) => toSessions(uid, evs))
  }

  // ---- LOCF gap fill -------------------------------------------------------

  /** One per-user HOURLY aggregate row (staged upstream with the q83
    * expressions — count + DECIMAL-exact value sum — so the stateful
    * walk only CARRIES numbers, never re-derives them). */
  case class Hourly(user_id: Long, h: Long, n_ev: Long, sum_v: Double)

  /** One output hour: observed (`filled` = 0, locf_v = that hour's own
    * sum) or gap-filled (`filled` = 1, n_ev = 0, locf_v carried from
    * the last observed hour). */
  case class LocfRow(user_id: Long, hour_us: Long, n_ev: Long,
                     locf_v: Double, filled: Int)

  /** Last observed (hour, value) per user — two fields of state, the
    * whole LOCF memory. */
  case class LocfState(lastH: Long, lastV: Double)

  val HourMicros: Long = 3600L * 1000 * 1000

  /** Streaming LOCF gap fill (q83's batch semantics, maintained
    * incrementally): emit every hour from each user's first observed
    * hour to its latest, carrying the last observed hourly sum across
    * silent hours. State is (lastH, lastV) per user; each micro-batch
    * emits its observed hours plus the fills BETWEEN state and the new
    * observations — per-batch output cost ∝ hours touched, never a
    * re-scan. Requires per-user hour-ordered arrival (the staged
    * range-split fixture guarantees it; a production deployment gets
    * it from watermark-ordered upstream bucketing). No trailing fill:
    * a user's last observed hour IS its grid end (q83's per-user
    * min..max grid), so no sentinel batch is needed. */
  def locfStream(hourly: Dataset[Hourly]): Dataset[LocfRow] = {
    import hourly.sparkSession.implicits._
    hourly.groupByKey(_.user_id)
      .flatMapGroupsWithState[LocfState, LocfRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Hourly], state: GroupState[LocfState]) =>
          val sorted = rows.toSeq.sortBy(_.h)
          if (sorted.isEmpty) Iterator.empty
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[LocfRow]
            var cur = state.getOption
            for (r <- sorted) {
              // An hour at or before the carried state means the upstream
              // ordering contract broke: emitting would double-count the
              // hour or regress the carry. Fail LOUD (the st28 rule: rows
              // never vanish silently) — the caller's staging/bucketing
              // is what must be fixed.
              cur.foreach { st =>
                if (r.h <= st.lastH) throw new IllegalStateException(
                  s"locfStream: out-of-order hourly arrival for user $uid " +
                    s"(got hour ${r.h} after ${st.lastH}) — upstream must " +
                    "deliver per-user hours in order")
                var hh = st.lastH + 1
                while (hh < r.h) {
                  out += LocfRow(uid, hh * HourMicros, 0L, st.lastV, 1)
                  hh += 1
                }
              }
              out += LocfRow(uid, r.h * HourMicros, r.n_ev, r.sum_v, 0)
              cur = Some(LocfState(r.h, r.sum_v))
            }
            state.update(cur.get)
            out.iterator
          }
      }
  }

  // ---- temporal debounce ---------------------------------------------------

  /** One debounce verdict: kept = 1 iff this event is its (user, type)
    * key's first, or ≥ `gap` after its immediate predecessor (kept OR
    * dropped — debounce compares to the raw predecessor, q113's lag()
    * semantics, so a long burst stays suppressed until a quiet gap). */
  case class Debounced(user_id: Long, event_type: String, event_id: Long,
                       ts: Long, kept: Int)

  /** Streaming temporal debounce (q113's batch semantics maintained
    * incrementally): state is ONE long per (user, type) — the last
    * seen event time. Emits a verdict per event, so the drained output
    * is aggregation-ready batch-side (the st12 drain-then-rollup
    * shape). Requires per-key time-ordered arrival across batches
    * (same contract as [[locfStream]]); a regressed timestamp fails
    * loudly rather than mis-verdicting silently. */
  def debounceStream(events: Dataset[Event],
                     gapMicros: Long): Dataset[Debounced] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, Debounced](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), evs: Iterator[Event], state: GroupState[Long]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            var last = state.getOption.getOrElse(Long.MinValue)
            val out = sorted.map { e =>
              if (last != Long.MinValue && e.ts < last)
                throw new IllegalStateException(
                  s"debounceStream: out-of-order arrival for key $key " +
                    s"(got ts ${e.ts} after $last)")
              val keep = last == Long.MinValue || e.ts - last >= gapMicros
              last = e.ts
              Debounced(key._1, key._2, e.event_id, e.ts, if (keep) 1 else 0)
            }
            state.update(last)
            out.iterator
          }
      }
  }

  // ---- per-user activity-streak maintenance --------------------------------

  /** One per-(user, batch) streak snapshot: the running gaps-and-islands
    * aggregates after folding that batch's days. The LAST snapshot per
    * user (greatest `seq`) is the stream-end answer; earlier ones are
    * the live dashboard values. */
  case class StreakSnap(user_id: Long, seq: Long, last_day: Long,
                        cur_len: Long, best_len: Long, n_streaks: Long,
                        n_days: Long)

  /** Per-user streak state: snapshot counter + the open run. */
  case class StreakState(seq: Long, lastDay: Long, curLen: Long,
                         bestLen: Long, nStreaks: Long, nDays: Long)

  val DayMicros: Long = 86400000000L
  private val EpochTo1990Days = 7305L // datediff(DATE'1990-01-01', epoch)

  /** The pure per-user streak fold: one batch's sorted distinct days
    * against the open-run state. Associativity across any batch split
    * (with in-order arrival) is PropertySpec-proven — the invariant
    * that makes st40's incremental answer equal q135's batch one. */
  def foldStreakDays(init: StreakState, days: Seq[Long],
                     who: => String = "?"): StreakState = {
    var st = init
    days.foreach { d =>
      if (st.lastDay != Long.MinValue && d < st.lastDay)
        throw new IllegalStateException(
          s"streakStream: out-of-order day for user $who " +
            s"(got $d after ${st.lastDay})")
      if (d != st.lastDay) { // equal day: replayed, fold is a no-op
        val extend = st.lastDay != Long.MinValue && d == st.lastDay + 1
        val len = if (extend) st.curLen + 1 else 1L
        st = StreakState(st.seq, d, len, math.max(st.bestLen, len),
          st.nStreaks + (if (extend) 0 else 1), st.nDays + 1)
      }
    }
    st
  }

  /** Streaming gaps-and-islands (q135's batch semantics maintained
    * incrementally): per user, O(1) state — the open run's end + length
    * plus the best/count/total aggregates — folds each batch's distinct
    * days in order; a day adjacent to the open run extends it, any gap
    * opens a new island. Day-ordered arrival per user is the contract
    * (the range-tiled fixture guarantees it); a regressed day throws
    * loudly, a replayed equal day folds idempotently (skip). Day
    * indexes are integer days since 1990-01-01, matching q135 and its
    * DuckDB oracle exactly. */
  def streakStream(events: Dataset[Event]): Dataset[StreakSnap] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[StreakState, StreakSnap](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[StreakState]) =>
          val days = evs.map(e =>
            Math.floorDiv(e.ts, DayMicros) - EpochTo1990Days)
            .toSeq.distinct.sorted
          if (days.isEmpty) Iterator.empty
          else {
            val prev = state.getOption.getOrElse(
              StreakState(0L, Long.MinValue, 0L, 0L, 0L, 0L))
            val st = foldStreakDays(prev, days, uid.toString)
              .copy(seq = prev.seq + 1)
            state.update(st)
            Iterator.single(StreakSnap(uid, st.seq, st.lastDay, st.curLen,
              st.bestLen, st.nStreaks, st.nDays))
          }
      }
  }

  // ---- per-user sequence assignment ---------------------------------------

  /** One assigned id: `user_seq` is this user's 1-based arrival ordinal
    * — the per-entity version counter an ingest pipeline stamps on
    * every event (optimistic-concurrency versions, audit ordinals). */
  case class SeqAssigned(user_id: Long, user_seq: Long, event_id: Long)

  /** Per-user counter + last seen (ts, event_id) — the ordering guard
    * key, matching the in-batch `sortBy(e => (e.ts, e.event_id))` so
    * equal-ts events straddling a micro-batch boundary are guarded
    * too (a higher-id event arriving first would fold in a different
    * order than the batch oracle without tripping a ts-only guard). */
  case class SeqState(n: Long, lastTs: Long, lastId: Long)

  /** Streaming per-user sequence numbers (q99's stable-id idea at
    * INGEST time, parallel by construction): state is one counter per
    * user — no global coordination point, unlike a global auto-
    * increment — and each micro-batch extends its users' sequences
    * from state. Same ordered-arrival contract and loud guard as
    * [[locfStream]]/[[debounceStream]]: a regressed timestamp would
    * mis-number silently, so it throws instead. */
  def userSeqStream(events: Dataset[Event]): Dataset[SeqAssigned] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqState, SeqAssigned](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[SeqState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(
              SeqState(0L, Long.MinValue, Long.MinValue))
            val out = sorted.map { e =>
              requireAfter("userSeqStream", uid, e, st.lastTs, st.lastId)
              st = SeqState(st.n + 1, e.ts, e.event_id)
              SeqAssigned(uid, st.n, e.event_id)
            }
            state.update(st)
            out.iterator
          }
      }
  }

  // ---- staged funnel state machine -----------------------------------------

  /** One funnel stage reached: emitted AT INGEST TIME, the moment the
    * user's earliest qualifying event arrives. */
  case class StageHit(user_id: Long, stage: String, ts: Long)

  /** Per-user funnel anchors (Long.MinValue = stage not yet reached —
    * the same unset sentinel the lastTs guards use, so a legitimate
    * event AT timestamp 0 can still anchor a stage) + the
    * (ts, event_id) ordering-guard key.
    *
    * CHECKPOINT COMPATIBILITY: the unset sentinel changed from 0L to
    * Long.MinValue (round 12) WITHOUT state versioning — a query
    * resumed from a checkpoint written by the 0L encoding would read
    * t1 = 0 ("stage unset" then) as "view anchored at epoch 0" and
    * silently corrupt funnel output. Every drain in this repo starts
    * from a fresh per-run checkpoint dir, so no such checkpoint can
    * exist here; a deployment reusing checkpoints across library
    * versions must bump the checkpoint location (or query name) when
    * upgrading across the sentinel change. */
  case class FunnelState(t1: Long, t2: Long, t3: Long,
                         lastTs: Long, lastId: Long)

  /** Streaming staged funnel (q62's view → click → purchase conversion
    * maintained live): each user's state is three stage anchors — the
    * earliest view, the earliest click STRICTLY after it, the earliest
    * purchase strictly after that — updated by a constant-state machine
    * instead of q62's three batch joins. Under ordered arrival the
    * first qualifying event in (ts, event_id) order IS the earliest,
    * so the drained stage hits equal the batch funnel exactly (q62's
    * oracle certifies the drain). Each user emits each stage at most
    * once → per-stage counts are user counts. Same ordered-arrival
    * contract and loud (ts, event_id) guard as [[userSeqStream]]. */
  def funnelStream(events: Dataset[Event]): Dataset[StageHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[FunnelState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val UNSET = Long.MinValue
            var st = state.getOption.getOrElse(
              FunnelState(UNSET, UNSET, UNSET, Long.MinValue, Long.MinValue))
            val out = Seq.newBuilder[StageHit]
            sorted.foreach { e =>
              requireAfter("funnelStream", uid, e, st.lastTs, st.lastId)
              // strict > comparisons mirror q62's batch semantics bit
              // for bit; UNSET = Long.MinValue never collides with a
              // real timestamp (ts = 0 anchors normally)
              if (st.t1 == UNSET && e.event_type == "view") {
                st = st.copy(t1 = e.ts); out += StageHit(uid, "1_view", e.ts)
              } else if (st.t1 != UNSET && st.t2 == UNSET &&
                  e.event_type == "click" && e.ts > st.t1) {
                st = st.copy(t2 = e.ts); out += StageHit(uid, "2_click", e.ts)
              } else if (st.t2 != UNSET && st.t3 == UNSET &&
                  e.event_type == "purchase" && e.ts > st.t2) {
                st = st.copy(t3 = e.ts); out += StageHit(uid, "3_purchase", e.ts)
              }
              st = st.copy(lastTs = e.ts, lastId = e.event_id)
            }
            state.update(st)
            out.result().iterator
          }
      }
  }

  // ---- transformWithState: the Spark 4 arbitrary-state API ------------------

  /** One sequenced event: `seq_in_type` = 1-based arrival rank of the
    * event within its (user, event_type). */
  case class TypedSeq(user_id: Long, event_id: Long, event_type: String,
                      seq_in_type: Long)

  /** Per-user processor on the `transformWithState` API — the modern
    * face of the arbitrary-state tier (everything else here rides
    * flatMapGroupsWithState): state is DECLARED as named variables on
    * the processor handle — a MapState keyed by event type for the
    * per-type counters plus a ValueState for the (ts, event_id)
    * ordering guard — each its own column family in the RocksDB store.
    * That layout is the at-scale win over the monolithic case-class
    * blob: an update rewrites ONE (type → count) entry, not the whole
    * user's state, and TTL/timers attach per variable. Emits each
    * event's sequence number within its (user, type); the batch twin
    * is a plain row_number window (st51's oracle). Same ordered-arrival
    * contract and loud guard as [[userSeqStream]]. */
  class TypeSeqProcessor extends StatefulProcessor[Long, Event, TypedSeq] {
    import org.apache.spark.sql.Encoders
    @transient private var counts: MapState[String, Long] = _
    @transient private var guard: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      guard = getHandle.getValueState[(Long, Long)]("guard",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[TypedSeq] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
      val out = sorted.map { e =>
        val (lastTs, lastId) =
          if (guard.exists()) guard.get() else (Long.MinValue, Long.MinValue)
        requireAfter("typeSeqStream", uid, e, lastTs, lastId)
        val n = (if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L) + 1L
        counts.updateValue(e.event_type, n)
        guard.update((e.ts, e.event_id))
        TypedSeq(uid, e.event_id, e.event_type, n)
      }
      out.iterator
    }
  }

  /** Streaming per-(user, type) sequence numbers via
    * [[TypeSeqProcessor]]. Requires the RocksDB state store provider
    * (transformWithState stores each state variable in its own column
    * family) — run under [[withRocksDBState]]. */
  def typeSeqStream(events: Dataset[Event]): Dataset[TypedSeq] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeSeqProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** One per-event trailing-activity row: `n_recent` = this user's
    * events in the trailing `nDays` calendar days (current event
    * included), `n_state_days` = day-entries retained in state after
    * the event — the bounded-retention invariant, exported so the
    * oracle certifies the PRUNE, not just the count. */
  case class RecentActivity(event_id: Long, user_id: Long, n_recent: Long,
                            n_state_days: Long)

  /** Bounded-retention state face of transformWithState — the first
    * state variable in the repo with a REAL `TTLConfig` (everything
    * else rides `TTLConfig.NONE`): per user, a MapState of
    * (day → event count) limited to the trailing `nDays` event-time
    * window.
    *
    * Retention is enforced twice, deliberately at two different
    * layers:
    *
    *  - the EVENT-TIME prune (`removeKey` below the window's low edge
    *    on every update) IS the semantics — it is a pure function of
    *    the data, so the emitted `(n_recent, n_state_days)` are exact
    *    and oracle-checkable against a batch trailing-window query;
    *  - the PROCESSING-TIME TTL is the physical backstop the
    *    event-time prune cannot provide: a user who never returns
    *    never triggers another prune, so without TTL the key (and its
    *    last window of day entries) lives forever — at 100 TB-feed
    *    scale, state grows with the ever-seen key universe instead of
    *    the ACTIVE one. The store evicts entries `ttl` after their
    *    last update, reclaiming abandoned users.
    *
    * A processing-time TTL can never be the semantic cutoff in an
    * event-time system (wall-clock eviction is nondeterministic
    * against the data), which is why the deployment contract is
    * `ttl ≥` the feed's maximum silence-before-return horizon: under
    * it, TTL eviction only ever removes entries the event-time prune
    * would discard on the key's next appearance anyway, so output is
    * TTL-invariant. The spec demonstrates both regimes — a 100-day
    * feed whose state never exceeds `nDays` entries, and a
    * deliberately undersized TTL whose expiry visibly resets a
    * returning user (the contract violation, made loud). */
  class TtlRecentProcessor(nDays: Int, ttl: TTLConfig)
      extends StatefulProcessor[Long, Event, RecentActivity] {
    import org.apache.spark.sql.Encoders
    @transient private var dayCounts: MapState[Long, Long] = _
    @transient private var guard: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      dayCounts = getHandle.getMapState[Long, Long]("dayCounts",
        Encoders.scalaLong, Encoders.scalaLong, ttl)
      guard = getHandle.getValueState[(Long, Long)]("guard",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), ttl)
    }

    override def handleInputRows(uid: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[RecentActivity] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
      val out = sorted.map { e =>
        val (lastTs, lastId) =
          if (guard.exists()) guard.get() else (Long.MinValue, Long.MinValue)
        requireAfter("recentActivityStream", uid, e, lastTs, lastId)
        guard.update((e.ts, e.event_id))
        val day = e.ts / DayMicros
        val cutoff = day - nDays + 1
        dayCounts.updateValue(day,
          (if (dayCounts.containsKey(day)) dayCounts.getValue(day) else 0L) + 1L)
        // event-time prune: per-user keys are bounded by nDays, so this
        // walk is O(nDays), never O(history)
        dayCounts.keys().toSeq.filter(_ < cutoff).foreach(dayCounts.removeKey)
        var n = 0L; var nKeys = 0L
        dayCounts.values().foreach { v => n += v; nKeys += 1 }
        RecentActivity(e.event_id, uid, n, nKeys)
      }
      out.iterator
    }
  }

  /** Per-event trailing-`nDays` activity counts with TTL-bounded state
    * via [[TtlRecentProcessor]]. ProcessingTime mode (the TTL clock);
    * requires the RocksDB provider. */
  def recentActivityStream(events: Dataset[Event], nDays: Int,
                           ttl: TTLConfig): Dataset[RecentActivity] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TtlRecentProcessor(nDays, ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Per-event trailing-type context: `pattern` = the event types of
    * the last `k` events for the user (oldest first, `_` placeholders
    * while history is shorter than k), '>'-joined — the last-K context
    * row a Markov / next-event model trains on. */
  case class RecentPattern(event_id: Long, user_id: Long, pattern: String)

  /** ListState face of transformWithState (the one state-variable type
    * [[TtlRecentProcessor]]'s MapState and the session processors'
    * ValueState don't cover): per user, a bounded trailing buffer of
    * the last `k − 1` event types, appended on every event and trimmed
    * by rewrite (`put`) — the canonical ListState use, a recent-K
    * window whose ORDER matters (MapState has no order; a ValueState
    * of a concatenated string would re-encode the whole buffer per
    * read anyway, losing the store's per-element append).
    *
    * State per user is k − 1 short strings — bounded by construction,
    * independent of history length, which is what makes a last-K
    * context maintainable on a 100 TB feed where full per-user
    * histories are not. Output is a pure function of the user's
    * in-order event sequence (no timers, no watermark coupling), so
    * any arrival tiling that preserves per-user order drains the
    * identical row set — the property the st61 batch window-function
    * oracle certifies. Same ordered-arrival contract and loud
    * (ts, event_id) guard as [[TtlRecentProcessor]]. */
  class RecentTypesProcessor(k: Int)
      extends StatefulProcessor[Long, Event, RecentPattern] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.ListState
    @transient private var recent: ListState[String] = _
    @transient private var guard: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[String]("recent", Encoders.STRING,
        TTLConfig.NONE)
      guard = getHandle.getValueState[(Long, Long)]("guard",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[RecentPattern] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
      var buf = recent.get().toVector // ≤ k−1 entries, oldest first
      val out = sorted.map { e =>
        val (lastTs, lastId) =
          if (guard.exists()) guard.get() else (Long.MinValue, Long.MinValue)
        requireAfter("recentPatternStream", uid, e, lastTs, lastId)
        guard.update((e.ts, e.event_id))
        val ctx = (Vector.fill(k - 1 - buf.length)("_") ++ buf) :+ e.event_type
        buf = (buf :+ e.event_type).takeRight(k - 1)
        RecentPattern(e.event_id, uid, ctx.mkString(">"))
      }
      // one bounded rewrite per (user, batch): ≤ k−1 elements
      recent.put(buf.toArray)
      out.iterator
    }
  }

  /** Per-event last-`k`-types context rows via [[RecentTypesProcessor]].
    * TimeMode.None — no timers, no watermark; requires the RocksDB
    * provider like every transformWithState operator. */
  def recentPatternStream(events: Dataset[Event], k: Int): Dataset[RecentPattern] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecentTypesProcessor(k),
        TimeMode.None(), OutputMode.Append())
  }

  /** One closed idle session, keyed by (user_id, anchor_ts) — the
    * batch-boundary-invariant identity: a session is named by its
    * FIRST event's timestamp, so the flush that closes it (an
    * over-gap successor event OR the watermark-driven timer) cannot
    * change the row it emits. */
  case class GapSession(user_id: Long, anchor_ts: Long, n_events: Long,
                        last_ts: Long)

  /** Event-time TIMER face of the transformWithState API (the feature
    * [[TypeSeqProcessor]] doesn't touch), reformulated so its output
    * is a pure function of the DATA, not of micro-batch tiling: each
    * closed idle session `(user, anchor_ts, n_events, last_ts)` is
    * emitted EXACTLY ONCE, by whichever of the two closing triggers
    * observes it first —
    *
    *  - the EVENT path: a successor event with `ts − lastTs > gap`
    *    arrives in [[handleInputRows]]; the open session is emitted
    *    and the successor anchors a new one;
    *  - the TIMER path: the watermark passes the open session's
    *    deadline and [[StatefulProcessor.handleExpiredTimer]] — no
    *    input row — emits it and clears the state.
    *
    * Both paths emit the identical row, so re-tiling arrivals moves
    * WHICH trigger fires, never WHAT is emitted — which is what makes
    * the operator oracle-checkable against a batch gaps-and-islands
    * query (st54) instead of spec-only. Double emission is structurally
    * excluded: the framework may deliver an expired timer for a session
    * the same batch's input rows already closed, so the deadline is
    * part of the state and [[handleExpiredTimer]] drops any timer whose
    * expiry doesn't match the CURRENT open session's deadline (stale
    * timer for an already-rolled session; deadlines are strictly
    * increasing in lastTs, so a match is unambiguous).
    *
    * Timer arithmetic: the deadline is registered at
    * `(lastTs + gap) / 1000 + 1` ms — ONE division of the full
    * microsecond deadline, rounded UP past the boundary. Summing two
    * truncated divisions (`lastTs/1000 + gap/1000`) can land the timer
    * up to ~1 ms EARLY, flushing before an event in the gap's final
    * sub-millisecond arrives and splitting one session into two; a
    * late timer is harmless because the event path closes over-gap
    * sessions itself. Firing therefore implies
    * `watermark_us ≥ deadline_ms·1000 > lastTs + gap`, so under a
    * watermark-respecting feed every event that could still extend the
    * session has already arrived.
    *
    * State per user: three scalars + one armed timer. Disorder handling,
    * precisely: rows BELOW the watermark are dropped by the engine and
    * never reach the processor (the watermark contract every event-time
    * operator carries — a flushed session cannot be reopened, because no
    * row old enough to belong to it is ever delivered). A row that IS
    * delivered but lands out of order against the user's open session
    * (its `ts` below the in-state `last_ts` — an above-watermark
    * disorder the feed promised not to produce) does NOT anchor a fresh
    * session: [[gapSessionFold]] throws, loudly, because silently
    * re-anchoring would double-count the overlapped span. After a flush
    * clears the state, the next delivered row anchors a fresh session
    * regardless of its ts — by then the watermark guarantees it is
    * later than the flushed session's deadline. */
  /** The pure per-batch session step [[TimerSessionProcessor]] runs:
    * fold one batch of a user's in-order events over the open-session
    * state, returning the new open session and the sessions CLOSED by
    * over-gap successors. Extracted so batch-split invariance is
    * property-provable without the engine (PropertySpec): for any cut
    * of an in-order stream, concatenating the closed emissions and
    * flushing the final open session equals the direct
    * gaps-and-islands answer. */
  private[graft] def gapSessionFold(uid: Long,
      open: Option[(Long, Long, Long)], sorted: Seq[Event],
      gapUs: Long): (Option[(Long, Long, Long)], Vector[GapSession]) = {
    var st = open
    val out = Vector.newBuilder[GapSession]
    sorted.foreach { e =>
      st match {
        case Some((a, n, l)) =>
          if (e.ts < l)
            throw new IllegalStateException(
              s"timerSessionStream: out-of-order arrival for user $uid " +
                s"(got ts ${e.ts} after $l)")
          if (e.ts - l > gapUs) { // strict >, mirroring sessionize
            out += GapSession(uid, a, n, l)
            st = Some((e.ts, 1L, e.ts))
          } else st = Some((a, n + 1L, e.ts))
        case None => st = Some((e.ts, 1L, e.ts))
      }
    }
    (st, out.result())
  }

  /** The gap-session processor of [[timerSessionStream]] and
    * [[bootstrapSessionStream]]. The no-initial-state
    * `transformWithState` takes it as the `StatefulProcessor` it
    * extends, and `handleInitialState` never runs.
    *
    * With INITIAL STATE it is the batch→stream migration face of
    * transformWithState: a new streaming job does not start blind, it
    * BOOTSTRAPS each user's open session from a batch-computed snapshot
    * (`handleInitialState` seeds the state variable and arms the
    * session's timer before the first micro-batch). The handoff
    * invariant that makes this oracle-checkable (st63): cut the feed at
    * any T, compute sessions batch-side for events ≤ T, seed the LAST
    * (still-open) session per user as initial state, stream the rest —
    * batch-closed ∪ drained equals the full-corpus gaps-and-islands
    * answer exactly. At 100 TB this is how a stateful stream takes over
    * from a backfill without replaying history through the micro-batch
    * engine: the state arrives as a table, not as re-ingested events. A
    * bootstrapped session flushes by the same two paths as a
    * stream-born one. */
  class TimerSessionProcessor(gapUs: Long)
      extends StatefulProcessorWithInitialState[Long, Event, GapSession, (Long, Long, Long)] {
    import org.apache.spark.sql.Encoders
    // (anchor_ts, n_events, last_ts) of the open session
    @transient private var sess: ValueState[(Long, Long, Long)] = _

    private def deadlineMs(lastTs: Long): Long = (lastTs + gapUs) / 1000L + 1L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong), TTLConfig.NONE)

    override def handleInitialState(uid: Long, init: (Long, Long, Long),
                                    timerValues: TimerValues): Unit = {
      sess.update(init)
      // the bootstrapped session must be flushable with NO further
      // events for the user — arm its timer exactly as the event path
      // would have
      getHandle.registerTimer(deadlineMs(init._3))
    }

    override def handleInputRows(uid: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[GapSession] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
      if (sorted.isEmpty) Iterator.empty
      else {
        val open = if (sess.exists()) Some(sess.get()) else None
        val (st, out) = gapSessionFold(uid, open, sorted, gapUs)
        val (a, n, l) = st.get
        sess.update((a, n, l))
        // one live timer per user, at the open session's deadline
        getHandle.listTimers().foreach(t =>
          getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(deadlineMs(l))
        out.iterator
      }
    }

    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[GapSession] = {
      if (!sess.exists()) Iterator.empty
      else {
        val (a, n, l) = sess.get()
        if (expiredTimerInfo.getExpiryTimeInMs() != deadlineMs(l))
          Iterator.empty // stale timer: input rows already rolled the session
        else {
          sess.clear()
          Iterator.single(GapSession(uid, a, n, l))
        }
      }
    }
  }

  /** `events` grouped by user under a 0-delay watermark on `ts`, which
    * drives the gap-session timers. */
  private def byUserWatermarked(events: Dataset[Event]): KeyValueGroupedDataset[Long, Event] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withColumn("event_time", Tables.eventTime(col("ts")))
      .withWatermark("event_time", "0 seconds")
      .as[Event]
      .groupByKey(_.user_id)
  }

  /** Timer-flushed idle sessions seeded from a batch snapshot via
    * [[TimerSessionProcessor]]'s initial state. `initial` rows are
    * (user_id, anchor_ts, n_events, last_ts) — one open session per
    * user, as a batch backfill computed them. */
  def bootstrapSessionStream(events: Dataset[Event], gapUs: Long,
      initial: Dataset[(Long, Long, Long, Long)]): Dataset[GapSession] = {
    import events.sparkSession.implicits._
    val init = initial.groupByKey(_._1)
      .mapValues(t => (t._2, t._3, t._4))
    byUserWatermarked(events)
      .transformWithState(new TimerSessionProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append(), init)
  }

  /** Timer-flushed idle sessions via [[TimerSessionProcessor]]
    * (event-time mode: a 0-delay watermark on `ts` drives the timers).
    * Requires the RocksDB provider, like every transformWithState
    * operator. Sessions still open when the drain's final watermark
    * stops are held in state for the next run — a feed wanting every
    * session flushed appends a watermark-pushing sentinel past
    * `last_ts + gap` (the st54 fixture shape). */
  def timerSessionStream(events: Dataset[Event],
                         gapUs: Long): Dataset[GapSession] = {
    import events.sparkSession.implicits._
    byUserWatermarked(events)
      .transformWithState(new TimerSessionProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- CEP: sequence-pattern matching --------------------------------------

  /** One completed pattern instance: view → click (within w1) →
    * purchase (within w2 of the click). The 3-stage face kept for the
    * q147/st45 column contract; the generic operator emits
    * [[CepMatchN]]. */
  case class CepMatch(user_id: Long, view_id: Long, click_id: Long,
                      purchase_id: Long)

  /** One open partial chain: stages 0..`stage` matched, anchored at the
    * stage-`stage` event's timestamp; `ids` oldest-first. */
  case class CepChain(stage: Int, ts: Long, ids: List[Long])

  /** Per-user CEP state: open partial chains inside their match
    * horizons + the (ts, event_id) ordering-guard key. */
  case class CepState(chains: List[CepChain], lastTs: Long, lastId: Long)

  /** One completed n-stage pattern instance: `event_ids(i)` is the
    * stage-i event, oldest-first. */
  case class CepMatchN(user_id: Long, event_ids: List[Long])

  /** Streaming complex-event-processing (the Flink-CEP / SQL
    * MATCH_RECOGNIZE niche), with the PATTERN AS DATA: emit every
    * instance of `pattern(0) → pattern(1) within w1 → ... →
    * pattern(k-1) within w(k-1)` per user, in ONE ordered pass — where
    * the relational formulation is a k-way self-join of the event
    * table against itself (q147/q156, the batch twins and the
    * oracles), the state machine touches each event once and holds
    * only the partial chains still inside their match horizons (a
    * chain open at stage i lives while a stage-i+1 event can still
    * land within `pattern(i+1)._2` of its anchor — state is bounded by
    * event rate × horizon, never by stream length). All-matches
    * semantics (Flink's skip-to-next-row): a final-stage event closes
    * every qualifying open chain. Strict time inequalities mirror the
    * join predicates bit for bit: stage i+1 needs
    * `t_i < t ≤ t_i + w_{i+1}`. An event type may appear at several
    * stages; an event extends only chains that existed BEFORE it
    * (strict `<` keeps it from chaining off itself). Same
    * ordered-arrival contract and loud (ts, event_id) guard as
    * [[userSeqStream]]. */
  /** The pure per-batch CEP fold: state in, (state, matches) out.
    * Factored out of [[cepPatternStream]] so PropertySpec can prove
    * BATCH-SPLIT INVARIANCE directly — folding an ordered event
    * sequence through any sequence of prefix cuts emits exactly the
    * single-batch match set (the property that makes the streaming
    * drain equal the relational join), for ANY pattern length.
    * `pattern(0)._2` is ignored (the first stage anchors; it has no
    * predecessor window). */
  private[graft] def cepFold(uid: Long, st0: CepState, sorted: Seq[Event],
                             pattern: Seq[(String, Long)]): (CepState, Seq[CepMatchN]) = {
    require(pattern.length >= 2, "a CEP pattern needs at least two stages")
    val k = pattern.length
    var st = st0
    val out = Seq.newBuilder[CepMatchN]
    sorted.foreach { e =>
      requireAfter("cepStream", uid, e, st.lastTs, st.lastId)
      // horizon pruning: a chain open at stage i matters while a future
      // stage-i+1 event can still satisfy t <= anchor + w_{i+1}
      // (ts only grows, so a pruned chain can never revive)
      val alive = st.chains.filter(c => c.ts + pattern(c.stage + 1)._2 >= e.ts)
      val opened = List.newBuilder[CepChain]
      var i = 0
      while (i < k) {
        if (pattern(i)._1 == e.event_type) {
          if (i == 0) opened += CepChain(0, e.ts, List(e.event_id))
          else alive.foreach { c =>
            // t <= anchor + w_i held by the prune; strict lower bound
            if (c.stage == i - 1 && c.ts < e.ts) {
              if (i == k - 1) out += CepMatchN(uid, c.ids :+ e.event_id)
              else opened += CepChain(i, e.ts, c.ids :+ e.event_id)
            }
          }
        }
        i += 1
      }
      st = CepState(alive ++ opened.result(), e.ts, e.event_id)
    }
    (st, out.result())
  }

  /** The generic pattern-as-data streaming operator (see [[cepFold]]). */
  def cepPatternStream(events: Dataset[Event],
                       pattern: Seq[(String, Long)]): Dataset[CepMatchN] = {
    import events.sparkSession.implicits._
    val pat = pattern.toIndexedSeq // serializable, O(1) stage lookup
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[CepState, CepMatchN](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[CepState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val st0 = state.getOption.getOrElse(
              CepState(Nil, Long.MinValue, Long.MinValue))
            val (st, out) = cepFold(uid, st0, sorted, pat)
            state.update(st)
            out.iterator
          }
      }
  }

  /** The 3-stage view → click → purchase instance (st45's operator,
    * q147's oracle contract), expressed over the generic machine. */
  def cepStream(events: Dataset[Event], w1Us: Long, w2Us: Long): Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    cepPatternStream(events,
        Seq(("view", 0L), ("click", w1Us), ("purchase", w2Us)))
      .map(m => CepMatch(m.user_id, m.event_ids.head, m.event_ids(1),
        m.event_ids(2)))
  }

  // ---- rolling z-score anomaly scoring ------------------------------------

  /** One scored event: `scored` = 1 once the user's window held at
    * least 5 values, `anom` = 1 when the integer z-test flagged it. */
  case class ZVerdict(user_id: Long, event_id: Long, event_type: String,
                      scored: Int, anom: Int)

  /** Per-user state: the last <= 20 cent values (oldest first) + the
    * last seen (ts, event_id) ordering-guard key — the same pair the
    * in-batch sort (and the q122 batch oracle) orders by, so equal-ts
    * events split across micro-batches can't silently fold in a
    * different order than the batch semantics. */
  case class ZState(window: List[Long], lastTs: Long, lastId: Long)

  /** Streaming rolling z-score anomaly flags (q122's batch semantics
    * maintained incrementally): each event is scored against its
    * user's PRECEDING-only window of the last 20 cent values — with
    * v in cents, s = sum(prev), q = sum(prev²), n = count(prev),
    * |z| > 2  <=>  (n·v − s)² > 4·(n·q − s²), the same
    * division-free integer test q122 certifies against DuckDB, so
    * stream and batch agree bit for bit. State is one bounded 20-long
    * deque per user — thousands of concurrent users stay
    * embarrassingly parallel, and state size is constant per key
    * regardless of history length. Cents use the same HALF_UP
    * `BigDecimal.valueOf` rounding as Spark's `round(col * 100)`, so
    * the stream's arithmetic IS the batch expression's. Same
    * ordered-arrival contract and loud guard as [[debounceStream]]. */
  def zscoreStream(events: Dataset[Event]): Dataset[ZVerdict] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ZState, ZVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[ZState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(
              ZState(Nil, Long.MinValue, Long.MinValue))
            val out = sorted.map { e =>
              requireAfter("zscoreStream", uid, e, st.lastTs, st.lastId)
              val v = java.math.BigDecimal.valueOf(e.value * 100)
                .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
              val n = st.window.size.toLong
              val s = st.window.sum
              val q = st.window.iterator.map(x => x * x).sum
              val scored = n >= 5
              val dev = n * v - s
              val anom = scored && dev * dev > 4L * (n * q - s * s)
              st = ZState((st.window :+ v).takeRight(20), e.ts, e.event_id)
              ZVerdict(uid, e.event_id, e.event_type,
                if (scored) 1 else 0, if (anom) 1 else 0)
            }
            state.update(st)
            out.iterator
          }
      }
  }

  /** Streaming state: next session id to assign for this user + the
    * events of the still-open session. */
  case class SessionState(nextId: Int, open: List[Event])

  /** Streaming sessionization with explicit state
    * (`flatMapGroupsWithState`): carries the open session AND a running
    * session counter across micro-batches (so emitted session_ids stay
    * unique per user), emits closed sessions, times out idle state. The
    * within-batch split logic is shared with [[sessionize]].
    *
    * `timeout = false` disables the idle-state timeout — for one-shot
    * AvailableNow drains where sentinel flush events close open
    * sessions instead (st12): a pending processing-time timeout keeps
    * the one-shot query from settling (it would wait out the idle
    * window in WALL-CLOCK time), and firing it would emit the sentinel
    * sessions the drain relies on never emitting. Continuous
    * deployments keep the default: idle users flush after 30 min. */
  def sessionizeStream(events: Dataset[Event],
                       timeout: Boolean = true): Dataset[Session] = {
    import events.sparkSession.implicits._
    def renumber(base: Int, ss: Seq[Session]): Seq[Session] =
      ss.zipWithIndex.map { case (s, i) => s.copy(session_id = base + i) }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append,
        if (timeout) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
          val st = state.getOption.getOrElse(SessionState(1, Nil))
          if (state.hasTimedOut) {
            // flush the open session but KEEP the counter: removing state
            // here would restart session_ids at 1 for this user's next
            // events, duplicating already-emitted (user_id, session_id)
            // keys. The residual state is two fields per user.
            val flushed = renumber(st.nextId, toSessions(uid, st.open.iterator).toSeq)
            state.update(SessionState(st.nextId + flushed.size, Nil))
            flushed.iterator
          } else {
            val all = st.open ++ evs
            val sessions = toSessions(uid, all.iterator).toSeq
            if (sessions.isEmpty) Iterator.empty
            else {
              // keep the last (possibly still-open) session's events in state
              val lastStart = sessions.last.session_start
              val closed = renumber(st.nextId, sessions.init)
              state.update(SessionState(st.nextId + closed.size,
                all.filter(_.ts >= lastStart)))
              // setting a duration under NoTimeout throws — guard it
              if (timeout) state.setTimeoutDuration("30 minutes")
              closed.iterator
            }
          }
      }
  }
}
