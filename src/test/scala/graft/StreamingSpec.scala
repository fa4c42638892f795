package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, Session}

/** V1/V2 state shapes + processors for the state-schema-evolution spec:
  * top-level so their product encoders are stable across the restart. */
object SchemaEvolutionFixtures {
  import org.apache.spark.sql.{Encoders => E}
  import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

  case class CountV1(n: Long)
  /** V2 adds a nullable field — the one evolution Avro state encoding
    * admits without a default-value registry: absent in old rows,
    * decoded as None. */
  case class CountV2(n: Long, lastTs: Option[Long])

  class CountProcV1 extends StatefulProcessor[Long, Event, (Long, Long, Long)] {
    @transient private var st: ValueState[CountV1] = _
    override def init(o: OutputMode, t: TimeMode): Unit =
      st = getHandle.getValueState[CountV1]("cnt", E.product[CountV1],
        TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[(Long, Long, Long)] =
      rows.toSeq.sortBy(_.event_id).map { e =>
        val n = (if (st.exists()) st.get().n else 0L) + 1L
        st.update(CountV1(n))
        // output schema matches V2's (the sink outlives the upgrade);
        // V1 has no lastTs concept at all — emit the -2 placeholder
        (e.event_id, n, -2L)
      }.iterator
  }

  class CountProcV2 extends StatefulProcessor[Long, Event, (Long, Long, Long)] {
    @transient private var st: ValueState[CountV2] = _
    override def init(o: OutputMode, t: TimeMode): Unit =
      st = getHandle.getValueState[CountV2]("cnt", E.product[CountV2],
        TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[(Long, Long, Long)] =
      rows.toSeq.sortBy(_.event_id).map { e =>
        val prev = if (st.exists()) st.get() else CountV2(0L, None)
        val n = prev.n + 1L
        st.update(CountV2(n, Some(e.ts)))
        // emit the MIGRATED view of the pre-restart state: a V1 row
        // decodes with lastTs = None (surfaced as -1)
        (e.event_id, n, prev.lastTs.getOrElse(-1L))
      }.iterator
  }
}

/** Structured Streaming behavior: windowed agg ≡ batch equivalent, and
  * stateful sessionization carrying an open session across micro-batches. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streaming hourly counts equal the batch group-by") {
    val streamed = EventStream.runToMemory(spark,
      EventStream.hourlyCounts(EventStream.readEvents(spark, sf)))
    val batch = Tables.load(spark, sf, "events")
      .groupBy(date_trunc("hour", Tables.eventTime(col("ts"))).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("file-sink drain (Append + watermark) emits exactly the finalized windows") {
    val out = TempDirs.create("graft_fsink")
    val drained = EventStream.runToFiles(spark,
      EventStream.hourlyCounts(EventStream.readEvents(spark, sf)), out)
    // Append emits a window once the watermark (max event_time - 1h)
    // passes its end: expected = batch windows with end <= watermark
    val events = Tables.load(spark, sf, "events")
      .select(Tables.eventTime(col("ts")).as("event_time"))
    val maxTs = events.agg(max(col("event_time"))).collect()(0).getTimestamp(0)
    val batch = Tables.load(spark, sf, "events")
      .groupBy(date_trunc("hour", Tables.eventTime(col("ts"))).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("hour") + expr("INTERVAL 1 HOUR") <=
        lit(maxTs) - expr("INTERVAL 1 HOUR"))
    assert(drained.count() > 0, "watermark should finalize most windows")
    assert(drained.exceptAll(batch).isEmpty && batch.exceptAll(drained).isEmpty,
      "file sink must hold exactly the watermark-finalized windows")
  }

  test("RocksDB state store provider: same windowed results as the default store") {
    val default = EventStream.runToMemory(spark,
      EventStream.hourlyCounts(EventStream.readEvents(spark, sf)))
      .collect().toSet
    val rocks = EventStream.withRocksDBState(spark) {
      EventStream.runToMemory(spark,
        EventStream.hourlyCounts(EventStream.readEvents(spark, sf)))
        .collect().toSet
    }
    assert(rocks == default)
    assert(rocks.nonEmpty)
    // provider conf restored after the block (getOption surfaces the
    // built-in HDFSBacked default, so assert on the value, not on None)
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("HDFSBackedStateStoreProvider"))
  }

  test("RocksDB provider parity: typed GroupState and session_window emit identical sessions") {
    // the 100 TB state story for the session operators st12/st20 ship
    // on: per-user merging state under the RocksDB provider must emit
    // EXACTLY the sessions the default in-memory provider does — both
    // for flatMapGroupsWithState (custom typed state) and the built-in
    // session_window (engine-owned merging windows).
    import spark.implicits._
    def typedSessions(): Set[(Long, Int, Long, Long, Long)] = {
      val inDir = graft.queries.StreamMediaQueries.ensureSessionStream(spark, sf).dir
      val stream = spark.readStream.schema(EventStream.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$inDir/*.parquet")
        .as[EventStream.Event]
      val out = TempDirs.create("graft_rocksp")
      EventStream.runToFiles(spark,
          EventStream.sessionizeStream(stream, timeout = false).toDF(), out)
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Int]("session_id"), r.getAs[Long]("session_start"),
          r.getAs[Long]("session_end"), r.getAs[Long]("n_events"))).toSet
    }
    def windowSessions(): Set[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)] = {
      val out = TempDirs.create("graft_rockssw")
      val sess = EventStream.readEvents(spark, sf)
        .withWatermark("event_time", "1 hour")
        .groupBy(col("user_id"),
          session_window(col("event_time"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("s"),
          col("w.end").as("e"), col("n_events"))
      EventStream.runToFiles(spark, sess, out)
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("s"), r.getAs[java.sql.Timestamp]("e"),
          r.getAs[Long]("n_events"))).toSet
    }
    val typedDefault = typedSessions()
    val typedRocks = EventStream.withRocksDBState(spark)(typedSessions())
    assert(typedDefault.nonEmpty && typedRocks == typedDefault,
      "GroupState sessions must not depend on the state store provider")
    val swDefault = windowSessions()
    val swRocks = EventStream.withRocksDBState(spark)(windowSessions())
    assert(swDefault.nonEmpty && swRocks == swDefault,
      "session_window sessions must not depend on the state store provider")
  }

  test("foreachBatch dedup store: multi-batch merge equals batch dedup, versions commit") {
    val tmp = TempDirs.create("graft_store_spec")
    // 3 texts with duplicates spread across files so merges genuinely
    // combine counts across micro-batches
    val docs = Seq(
      (1L, "alpha"), (2L, "beta"), (3L, "alpha"),
      (4L, "gamma"), (5L, "beta"), (6L, "alpha")
    ).toDF("doc_id", "text")
    docs.repartition(3).write.mode("overwrite").parquet(s"$tmp/in")
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/in/part-*")
    val store = graft.streaming.DedupStore.run(
      spark, stream, s"$tmp/store", s"$tmp/ckpt")
    val got = store.collect()
      .map(r => (r.getAs[String]("text"), r.getAs[Long]("keep_id"),
        r.getAs[Long]("n_copies"))).toSet
    assert(got == Set(("alpha", 1L, 3L), ("beta", 2L, 2L), ("gamma", 4L, 1L)))
    // retention: commit-time pruning keeps the newest version and
    // exactly the older versions whose files its manifest still
    // references (carry-forward by reference) — never a replay-base
    // anchor (committed batches skip on replay) and never O(batches)
    // dead versions
    val versions = new java.io.File(s"$tmp/store").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .map(_.getName).toSet
    assert(versions.contains("v2"), s"read target must survive: $versions")
    val referenced = graft.streaming.DedupStore.manifestEntries(s"$tmp/store",
        s"$tmp/store/v2")
      .map(_._2.getParent.getParent.getName).toSet
    assert(versions == Set("v2") ++ referenced,
      s"unreferenced versions must be pruned: kept $versions, live $referenced")
    // ...and inside surviving versions, every remaining data file is
    // one the live manifest references (file-level retention)
    val liveFiles = graft.streaming.DedupStore.manifestEntries(s"$tmp/store",
        s"$tmp/store/v2")
      .map(e => new java.io.File(e._2.toUri.getPath).getCanonicalPath).toSet
    versions.foreach { v =>
      val dataFiles = Option(new java.io.File(s"$tmp/store/$v").listFiles())
        .getOrElse(Array.empty).filter(_.isDirectory)
        .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty))
        .filter(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
      dataFiles.foreach(f => assert(liveFiles.contains(f.getCanonicalPath),
        s"dead data file survived the sweep: $f"))
    }
  }

  test("dedup store rewrites only touched hash partitions; untouched carry forward") {
    val tmp = TempDirs.create("graft_store_part")
    // batch 0: 200 distinct texts (touches ~all 16 buckets); batch 1: a
    // single duplicate doc (touches exactly ONE bucket) — the incremental
    // shape where partitioned merge pays off
    val big = (0 until 200).map(i => (i.toLong, s"text body number $i"))
      .toDF("doc_id", "text")
    val soloText = "text body number 7" // dup → batch 1 genuinely merges
    big.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    Seq((1000L, soloText)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    // deterministic micro-batch order: FileStreamSource sorts by mtime
    val parts = new java.io.File(s"$tmp/in").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.length()).reverse
    assert(parts.length == 2)
    val now = System.currentTimeMillis()
    parts(0).setLastModified(now - 60000) // big file first
    parts(1).setLastModified(now)
    val stream = spark.readStream.schema(big.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/part-*")
    val store = graft.streaming.DedupStore.run(
      spark, stream, s"$tmp/store", s"$tmp/ckpt")
    val got = store.collect()
      .map(r => (r.getAs[String]("text"), r.getAs[Long]("keep_id"),
        r.getAs[Long]("n_copies"))).toSet
    assert(got.size == 200 && got(("text body number 7", 7L, 2L)))
    val soloBucket = spark.range(1)
      .select(pmod(xxhash64(lit(soloText)), lit(16L)).cast("int"))
      .head.getInt(0)
    val v0 = new java.io.File(s"$tmp/store/v0")
    val v1 = new java.io.File(s"$tmp/store/v1")
    assert(v0.isDirectory && v1.isDirectory)
    // v1 PHYSICALLY contains only the bucket it rewrote: carry-forward
    // is by manifest reference (zero bytes moved — the object-store-safe
    // contract; the round-6 hard links required a link-capable fs)
    val v1Buckets = v1.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(v1Buckets == Set(s"bucket=$soloBucket"),
      s"v1 must hold only the touched bucket, got $v1Buckets")
    val manifest = graft.streaming.DedupStore.manifestEntries(
      s"$tmp/store", v1.getAbsolutePath)
    val byBucket = manifest.groupBy(_._1)
    assert(byBucket.keySet.size >= 11, "batch 0 should populate most buckets")
    // untouched buckets resolve to v0's ORIGINAL files; the touched one
    // resolves into v1 and was genuinely rewritten
    byBucket.foreach { case (b, entries) =>
      val owners = entries.map(_._2.getParent.getParent.getName).toSet
      if (b == soloBucket) assert(owners == Set("v1"),
        s"touched bucket $b must be rewritten into v1, got $owners")
      else assert(owners == Set("v0"),
        s"untouched bucket $b must carry forward by reference, got $owners")
      entries.foreach(e => assert(
        new java.io.File(e._2.toUri.getPath).isFile,
        s"dangling manifest ref: ${e._2}"))
    }
  }

  test("dedup store adopts the committed bucket layout over a mismatched parameter") {
    val tmp = TempDirs.create("graft_store_layout")
    def stream() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/part-*")
    val first = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha")).toDF("doc_id", "text")
    first.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    graft.streaming.DedupStore.run(spark, stream(), s"$tmp/store", s"$tmp/ckpt",
      nBuckets = 16)
    // proper resumption: same input dir + same checkpoint, a new file
    // arrives — but the CALLER passes a different nBuckets. The
    // persisted _LAYOUT must win: re-hashing "alpha" into a different
    // bucket would duplicate its row across buckets and split n_copies.
    Seq((4L, "alpha"), (5L, "gamma")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val store = graft.streaming.DedupStore.run(spark, stream(), s"$tmp/store", s"$tmp/ckpt",
      nBuckets = 4)
    val got = store.collect()
      .map(r => (r.getAs[String]("text"), r.getAs[Long]("keep_id"),
        r.getAs[Long]("n_copies"))).toSet
    assert(got == Set(("alpha", 1L, 3L), ("beta", 2L, 1L), ("gamma", 5L, 1L)),
      s"layout mismatch corrupted the store: $got")
  }

  test("dedup store purge: victim buckets rewrite, tombstones survive replay and re-ingest") {
    val tmp = TempDirs.create("graft_store_purge")
    val docs = (0 until 50).map(i => (i.toLong, s"purge corpus text $i"))
      .toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/part-*")
    graft.streaming.DedupStore.run(spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    val victims = Seq("purge corpus text 7", "purge corpus text 13")
    val purged = graft.streaming.DedupStore.purge(spark, s"$tmp/store", victims)
    val texts = purged.collect().map(_.getAs[String]("text")).toSet
    assert(texts.size == 48 && victims.forall(!texts.contains(_)))
    // the consumer-side read sees the same post-purge state
    val reread = graft.streaming.DedupStore.read(spark, s"$tmp/store")
      .collect().map(_.getAs[String]("text")).toSet
    assert(reread == texts)
    // physical shape: the purge version holds ONLY the victims' buckets;
    // everything else is carried forward by reference into v0
    val vP = new java.io.File(s"$tmp/store/v0.1")
    assert(vP.isDirectory, "purge must commit v0.1 (no batch id consumed)")
    val victimBuckets = victims.map(t => spark.range(1)
      .select(pmod(xxhash64(lit(t)), lit(16L)).cast("int")).head.getInt(0)).toSet
    val rewritten = vP.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(rewritten == victimBuckets.map(b => s"bucket=$b"),
      s"purge rewrote $rewritten, victims live in $victimBuckets")
    // none of the surviving rows in rewritten buckets are victims, and
    // untouched buckets resolve into v0
    graft.streaming.DedupStore.manifestEntries(s"$tmp/store", vP.getAbsolutePath)
      .foreach { case (b, f) =>
        val owner = f.getParent.getParent.getName
        if (victimBuckets.contains(b)) assert(owner == "v0.1")
        else assert(owner == "v0", s"bucket $b should carry forward: $owner")
      }
    // PHYSICAL erasure is immediate: prune's file-level sweep removes
    // the superseded victim-bucket files in the same purge call, so NO
    // parquet file anywhere under the store still holds a victim text
    // (the GDPR requirement — logical filtering alone is not deletion)
    val allDataFiles = new java.io.File(s"$tmp/store").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .flatMap(v => Option(v.listFiles()).getOrElse(Array.empty))
      .filter(_.isDirectory)
      .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty))
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath)
    assert(allDataFiles.nonEmpty)
    val residual = spark.read.parquet(allDataFiles.toIndexedSeq: _*)
      .filter(col("text").isin(victims: _*)).count()
    assert(residual == 0L,
      s"$residual victim rows physically present after purge")
    // REPLAY under a fresh checkpoint (full source re-delivery): batch 0
    // is already committed, so the drain skips it and the purge version
    // stays the read target — deleted texts must not resurrect
    val replayed = graft.streaming.DedupStore.run(
      spark, stream(), s"$tmp/store", s"$tmp/ckpt_fresh")
    val replayedTexts = replayed.collect().map(_.getAs[String]("text")).toSet
    assert(replayedTexts == texts, "replay resurrected purged texts")
    // RE-INGESTION: a later batch carrying a purged text again (plus a
    // genuinely new text) — the tombstone suppresses the victim, the new
    // text lands
    Seq((999L, "purge corpus text 7"), (1000L, "brand new text"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val after = graft.streaming.DedupStore.run(
      spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    val afterTexts = after.collect().map(_.getAs[String]("text")).toSet
    assert(!afterTexts.contains("purge corpus text 7"),
      "tombstoned text re-ingested past the purge")
    assert(afterTexts.contains("brand new text"))
    assert(afterTexts.size == 49)
  }

  test("interleaved drains and purges: tombstones accumulate across purge generations") {
    // The long-lived shape: ingest, takedown, more ingest (including a
    // re-delivery of the purged text under a new id), another takedown.
    // Both purges' tombstones must stay in force — the second purge
    // must not displace the first's (the round-7 tombstone-collision
    // fix) — and versions must interleave as v0 -> v0.1 -> v1 -> v1.1.
    val tmp = TempDirs.create("graft_store_ilv")
    def stream() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/part-*")
    (0 until 100).map(i => (i.toLong, s"ilv text $i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    graft.streaming.DedupStore.run(spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    graft.streaming.DedupStore.purge(spark, s"$tmp/store", Seq("ilv text 5"))
    // second ingest: new texts, a re-delivery of the purged text under
    // a fresh id, and a duplicate of a surviving text
    ((100 until 150).map(i => (i.toLong, s"ilv text $i")) ++
      Seq((900L, "ilv text 5"), (901L, "ilv text 10")))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    graft.streaming.DedupStore.run(spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    val finalStore = graft.streaming.DedupStore.purge(
      spark, s"$tmp/store", Seq("ilv text 110"))
    val rows = finalStore.collect()
      .map(r => r.getAs[String]("text") -> r.getAs[Long]("n_copies")).toMap
    assert(rows.size == 148, s"expected 148 texts, got ${rows.size}")
    assert(!rows.contains("ilv text 5"), "first purge's tombstone lost")
    assert(!rows.contains("ilv text 110"), "second purge ineffective")
    assert(rows("ilv text 10") == 2L, "duplicate merge broken by purges")
    assert(graft.streaming.DedupStore.latest(s"$tmp/store")
      .exists(_.endsWith("v1.1")))
    // two committed live tombstone files, no overwrites (the dir also
    // holds the _NEXT index counter — not a tombstone)
    val tombs = new java.io.File(s"$tmp/store/_TOMBSTONES").listFiles()
      .filter(f => f.isFile && f.getName.matches("t\\d+")).map(_.getName).toSet
    assert(tombs == Set("t0", "t1"), s"tombstone files: $tombs")
  }

  test("auto-compaction bounds the tombstone log across a 10-purge lifetime") {
    // Nothing used to SCHEDULE compactTombstones; run() now triggers it
    // past AutoCompactTombstoneFiles. Ten purge→ingest→drain cycles —
    // each purge appends one _TOMBSTONES/t* file and physically erases
    // its victim (so the marker is dead by the next drain) — must leave
    // the log bounded, while every purged text stays gone.
    val tmp = TempDirs.create("graft_store_autoc")
    def stream() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/part-*")
    (0 until 60).map(i => (i.toLong, s"ac text $i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    graft.streaming.DedupStore.run(spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    // the live suppression log (t*) is what auto-compaction bounds; the
    // feed-only d* records folded hashes consolidate into (one file,
    // re-consolidated per compaction) and _NEXT are separate machinery
    def tombFiles() = Option(new java.io.File(s"$tmp/store/_TOMBSTONES").listFiles())
      .map(_.count(f => f.isFile && f.getName.matches("t\\d+"))).getOrElse(0)
    def feedFiles() = Option(new java.io.File(s"$tmp/store/_TOMBSTONES").listFiles())
      .map(_.count(f => f.isFile && f.getName.matches("d\\d+"))).getOrElse(0)
    for (k <- 0 until 10) {
      graft.streaming.DedupStore.purge(spark, s"$tmp/store", Seq(s"ac text $k"))
      Seq(((100 + k).toLong, s"ac text ${100 + k}")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
      val after = graft.streaming.DedupStore.run(
        spark, stream(), s"$tmp/store", s"$tmp/ckpt")
      assert(tombFiles() <= graft.streaming.DedupStore.AutoCompactTombstoneFiles + 1,
        s"cycle $k: tombstone log unbounded (${tombFiles()} files)")
      assert(feedFiles() <= 1,
        s"cycle $k: folded-delete feed must consolidate (${feedFiles()} d files)")
      val texts = after.collect().map(_.getAs[String]("text")).toSet
      (0 to k).foreach(v => assert(!texts.contains(s"ac text $v"),
        s"cycle $k: purged 'ac text $v' resurrected"))
      assert(texts.contains(s"ac text ${100 + k}"), s"cycle $k: ingest lost")
    }
    // compaction ended SUPPRESSION for the folded purges but not their
    // DELETE-FEED delivery: every one of the 10 erasures is still in
    // tombstones() (live + folded-within-retention), so a replica
    // consumer that never synced mid-lifetime still removes them all
    val victims = (0 until 10).map(k => s"ac text $k")
    val victimHashes = victims.toDF("t")
      .select(xxhash64(col("t"))).collect().map(_.getLong(0)).toSet
    val feed = graft.streaming.DedupStore.tombstones(spark, s"$tmp/store")
      .collect().map(_.getLong(0)).toSet
    assert(victimHashes.subsetOf(feed),
      s"folded deletes dropped from the feed: missing ${victimHashes -- feed}")
  }

  test("fresh-checkpoint re-drain after retention pruned early versions keeps the purged state") {
    // The hardest interleaving: multi-batch drain where later batches
    // touch every bucket (so retention deletes v0/v1 entirely), then a
    // purge, then a FULL re-delivery under a fresh checkpoint. Batches
    // 0/1 find no committed version (pruned) and REBUILD from nothing;
    // their commits' prunes must not delete files the still-standing
    // purge version references (liveness includes versions ordered
    // after the committing one), and batch 2 must skip because the
    // purge sub-version carries its major. The read target stays the
    // purged state throughout.
    val tmp = TempDirs.create("graft_store_redrain")
    def writeBatch(rows: Seq[(Long, String)], mtime: Long): Unit = {
      import spark.implicits._
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$tmp/in")
      val newest = new java.io.File(s"$tmp/in").listFiles()
        .filter(_.getName.startsWith("part-")).maxBy(_.lastModified())
      newest.setLastModified(mtime): Unit
    }
    val now = System.currentTimeMillis()
    writeBatch((0 until 100).map(i => (i.toLong, s"redrain text $i")), now - 60000)
    writeBatch((100 until 200).map(i => (i.toLong, s"redrain text $i")), now - 30000)
    // batch 2 re-delivers EVERY text, so it touches every occupied
    // bucket and retention fully supersedes (prunes) v0 and v1 — the
    // setup the re-drain scenario needs
    writeBatch((0 until 200).map(i => (1000L + i, s"redrain text $i")), now)
    def stream() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/part-*")
    graft.streaming.DedupStore.run(spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    // setup premise: batch 2 (all 200 texts re-delivered over 16
    // buckets) touched every bucket, so v0/v1 are superseded and pruned
    val before = new java.io.File(s"$tmp/store").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName).toSet
    assert(before == Set("v2"), s"retention should leave only v2: $before")
    val victims = Seq("redrain text 7", "redrain text 123")
    val purged = graft.streaming.DedupStore.purge(spark, s"$tmp/store", victims)
      .collect().map(_.getAs[String]("text")).toSet
    assert(purged.size == 198 && victims.forall(!purged.contains(_)))
    // full re-delivery, fresh checkpoint: batches 0/1 rebuild (their
    // versions are gone), batch 2 skips (major 2 exists via v2.1)
    val redrained = graft.streaming.DedupStore.run(
      spark, stream(), s"$tmp/store", s"$tmp/ckpt_fresh")
    val after = redrained.collect().map(_.getAs[String]("text")).toSet
    assert(after == purged,
      s"re-drain diverged: missing=${purged -- after} extra=${after -- purged}")
    // and the purge version is still the read target with intact refs
    assert(graft.streaming.DedupStore.latest(s"$tmp/store")
      .exists(_.endsWith("v2.1")))
    graft.streaming.DedupStore.manifestEntries(s"$tmp/store",
        s"$tmp/store/v2.1")
      .foreach(e => assert(new java.io.File(e._2.toUri.getPath).isFile,
        s"dangling manifest ref: ${e._2}"))
  }

  test("file-holder survivor keeps an accurate manifest; redrain through it succeeds") {
    // The partial-touch retention corner: an INTERMEDIATE major is fully
    // superseded (pruned) while an OLDER version survives only as a
    // file-holder — a live manifest still references one of its buckets,
    // but its other bucket was rewritten later and its file swept. The
    // survivor's own manifest must drop the swept entry (not dangle):
    // a fresh-checkpoint re-drain rebuilds the pruned major THROUGH the
    // survivor via baseFor, reading and inheriting its manifest — a
    // dangling entry crashes the rebuild on a nonexistent parquet path.
    val tmp = TempDirs.create("graft_store_fh")
    val cands = (0 until 40).map(i => s"fh text $i")
    val bucketOf = cands.map(t => t -> spark.range(1)
      .select(pmod(xxhash64(lit(t)), lit(16L)).cast("int")).head.getInt(0)).toMap
    val a = cands.head
    val b = cands.find(t => bucketOf(t) != bucketOf(a)).get
    def writeBatch(rows: Seq[(Long, String)], mtime: Long): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$tmp/in")
      val newest = new java.io.File(s"$tmp/in").listFiles()
        .filter(_.getName.startsWith("part-")).maxBy(_.lastModified())
      newest.setLastModified(mtime): Unit
    }
    val now = System.currentTimeMillis()
    writeBatch(Seq((1L, a), (2L, b)), now - 60000) // v0: both buckets
    writeBatch(Seq((3L, a)), now - 30000)          // v1: rewrites a's bucket
    writeBatch(Seq((4L, a)), now)                  // v2: rewrites it again
    def stream() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/part-*")
    val store = graft.streaming.DedupStore.run(
      spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    val got = store.collect()
      .map(r => (r.getAs[String]("text"), r.getAs[Long]("keep_id"),
        r.getAs[Long]("n_copies"))).toSet
    assert(got == Set((a, 1L, 3L), (b, 2L, 1L)))
    // premise: v1 fully superseded and pruned; v0 survives ONLY as the
    // file-holder for b's bucket (its a-bucket file was swept)
    val dirs = new java.io.File(s"$tmp/store").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName).toSet
    assert(dirs == Set("v0", "v2"), s"expected file-holder shape, got: $dirs")
    // the survivor's manifest holds exactly the live bucket, no
    // dangling entries
    val v0Entries = graft.streaming.DedupStore.manifestEntries(
      s"$tmp/store", s"$tmp/store/v0")
    assert(v0Entries.map(_._1).toSet == Set(bucketOf(b)),
      s"swept bucket must leave the survivor's manifest: $v0Entries")
    v0Entries.foreach(e => assert(new java.io.File(e._2.toUri.getPath).isFile,
      s"dangling manifest ref in file-holder: ${e._2}"))
    // fresh-checkpoint re-drain: batch 1 rebuilds with baseFor = v0 —
    // reads (and its commit inherits) the survivor's manifest
    val redrained = graft.streaming.DedupStore.run(
      spark, stream(), s"$tmp/store", s"$tmp/ckpt_fresh")
    val after = redrained.collect()
      .map(r => (r.getAs[String]("text"), r.getAs[Long]("keep_id"),
        r.getAs[Long]("n_copies"))).toSet
    assert(after == got, s"redrain through the file-holder diverged: $after")
    assert(graft.streaming.DedupStore.latest(s"$tmp/store")
      .exists(_.endsWith("v2")), "newest version must stay the read target")
  }

  test("replay skip verifies batch content: changed source under fresh checkpoint fails loudly") {
    // A fresh-checkpoint re-drain re-derives batch boundaries from the
    // live source listing. If the source changed since the original
    // drain, a committed major would silently swallow the changed
    // batch — the _BATCHSTAT fingerprint must catch it instead.
    val tmp = TempDirs.create("graft_store_stat")
    def writeBatch(rows: Seq[(Long, String)], mtime: Long): java.io.File = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(s"$tmp/in")
      val newest = new java.io.File(s"$tmp/in").listFiles()
        .filter(_.getName.startsWith("part-")).maxBy(_.lastModified())
      newest.setLastModified(mtime)
      newest
    }
    val now = System.currentTimeMillis()
    val fileA = writeBatch(Seq((1L, "rs one"), (2L, "rs two")), now - 60000)
    writeBatch(Seq((3L, "rs three")), now - 30000)
    def stream() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/part-*")
    val store = graft.streaming.DedupStore.run(
      spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    assert(store.count() == 3L)
    // unchanged source: the re-drain's skips verify cleanly end-to-end
    val same = graft.streaming.DedupStore.run(
      spark, stream(), s"$tmp/store", s"$tmp/ckpt_same")
    assert(same.count() == 3L)
    // now batch 0's content CHANGES: its file is replaced by one with
    // different rows (older mtime keeps it first in the batch order)
    assert(fileA.delete())
    // the sibling .crc (if any) must go too or the raw read stays stale
    new java.io.File(fileA.getParentFile, s".${fileA.getName}.crc").delete()
    writeBatch(Seq((10L, "rs changed")), now - 60000)
    val ex = intercept[Exception] {
      graft.streaming.DedupStore.run(
        spark, stream(), s"$tmp/store", s"$tmp/ckpt_fresh")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("replay-skip premise violated")),
      s"expected the changed-source diagnostic, got: ${messages(ex)}")
  }

  test("single-writer lock: a held lock refuses the writer loudly; a stale one is broken") {
    val tmp = TempDirs.create("graft_store_lock")
    val docs = Seq((1L, "lk alpha"), (2L, "lk beta")).toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/part-*")
    graft.streaming.DedupStore.run(spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    // the lock releases after a successful drain
    assert(!new java.io.File(s"$tmp/store/_LOCK").exists(),
      "lock must release after the drain")
    // a LIVE lock (fresh timestamp — another writer mid-operation):
    // purge and drain must refuse loudly, not interleave commits
    val lockFile = java.nio.file.Paths.get(s"$tmp/store/_LOCK")
    java.nio.file.Files.write(lockFile,
      s"${System.currentTimeMillis()}\tother-writer\tdrain\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val ex = intercept[IllegalStateException] {
      graft.streaming.DedupStore.purge(spark, s"$tmp/store", Seq("lk alpha"))
    }
    assert(ex.getMessage.contains("locked by another writer"),
      s"expected the lock refusal, got: ${ex.getMessage}")
    // nothing committed under refusal: store state unchanged
    assert(graft.streaming.DedupStore.read(spark, s"$tmp/store").count() == 2L)
    // a STALE lock (crashed holder): the next writer breaks it and runs
    java.nio.file.Files.write(lockFile,
      (s"${System.currentTimeMillis() - graft.streaming.DedupStore.LOCK_STALE_MS - 1000}" +
        "\tcrashed-writer\tpurge\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val purged = graft.streaming.DedupStore.purge(
      spark, s"$tmp/store", Seq("lk alpha"))
    assert(purged.collect().map(_.getAs[String]("text")).toSet == Set("lk beta"))
    assert(!new java.io.File(s"$tmp/store/_LOCK").exists(),
      "broken-then-acquired lock must release")
  }

  test("lock release never deletes blind: unreadable lock survives, vanished lock is a no-op") {
    val tmp = TempDirs.create("graft_lock_unread")
    val root = new org.apache.hadoop.fs.Path(tmp)
    val raw = root.getFileSystem(spark.sessionState.newHadoopConf())
    @volatile var failReads = false
    // injected transient read failure on the lock file only — the
    // HDFS/object-store shape where open() can fail while the file exists
    val fs = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def open(f: org.apache.hadoop.fs.Path,
                        bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
        if (failReads && f.getName == "_LOCK")
          throw new java.io.IOException("injected transient read failure")
        super.open(f, bufferSize)
      }
    }
    val lockPath = java.nio.file.Paths.get(tmp, "_LOCK")
    graft.streaming.DedupStore.withWriterLock(fs, root, "test") {
      // simulate: we sat wedged, a waiter broke our lock as stale, and a
      // successor re-acquired — then the release-time read fails
      java.nio.file.Files.write(lockPath,
        s"${System.currentTimeMillis()}\tsuccessor\tdrain\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      failReads = true
    }
    failReads = false
    val body = new String(java.nio.file.Files.readAllBytes(lockPath),
      java.nio.charset.StandardCharsets.UTF_8).trim
    assert(body.endsWith("successor\tdrain"),
      s"successor's live lock must survive an unreadable release read, got '$body'")
    java.nio.file.Files.delete(lockPath)
    // a VANISHED lock (FileNotFound at release) is the safe no-op branch
    graft.streaming.DedupStore.withWriterLock(fs, root, "test") {
      java.nio.file.Files.delete(lockPath)
    }
    assert(!lockPath.toFile.exists(), "no lock must be recreated by release")
  }

  test("tombstone compaction: erased victims fold away, in-flight tombstones survive") {
    val tmp = TempDirs.create("graft_store_tc")
    val docs = (0 until 50).map(i => (i.toLong, s"tc text $i")).toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/part-*")
    graft.streaming.DedupStore.run(spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    // a completed purge: victims physically erased, tombstones now inert
    graft.streaming.DedupStore.purge(spark, s"$tmp/store",
      Seq("tc text 7", "tc text 13"))
    // a CRASHED purge, simulated at its crash point: tombstone landed,
    // physical rewrite didn't — this tombstone is load-bearing (it is
    // the only thing hiding the victim) and must survive compaction
    val crashedVictim = "tc text 3"
    val crashedHash = spark.range(1)
      .select(xxhash64(lit(crashedVictim))).head.getLong(0)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/store/_TOMBSTONES/t1"),
      s"$crashedHash\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(!graft.streaming.DedupStore.read(spark, s"$tmp/store")
      .collect().map(_.getAs[String]("text")).contains(crashedVictim))
    val (kept, dropped) = graft.streaming.DedupStore.compactTombstones(
      spark, s"$tmp/store")
    assert((kept, dropped) == (1, 2),
      s"expected the crashed purge's hash kept and 2 folded, got ($kept, $dropped)")
    // live log consolidated; only the load-bearing hash remains
    assert(graft.streaming.DedupStore.loadTombstones(s"$tmp/store") ==
      Seq(crashedHash))
    val byKind = new java.io.File(s"$tmp/store/_TOMBSTONES").listFiles()
      .filter(_.isFile).map(_.getName)
      .groupBy(n => if (n.matches("t\\d+")) "t"
                    else if (n.matches("d\\d+")) "d" else "other")
    assert(byKind.getOrElse("t", Array.empty).length == 1,
      s"compaction must consolidate the live log: $byKind")
    // the two folded erasures moved to the feed-only d record — still
    // deliverable as deletes — at a HIGHER index than any old t file
    // (monotonic index space: a consumer's cursor is never stranded)
    assert(byKind.getOrElse("d", Array.empty).length == 1,
      s"folded hashes must land in one feed record: $byKind")
    val dIdx = byKind("d").head.drop(1).toLong
    val tIdx = byKind("t").head.drop(1).toLong
    assert(dIdx > 1 && tIdx > 1,
      s"consolidated indices must exceed the consumed t0/t1 ($tIdx, $dIdx)")
    val feedNow = graft.streaming.DedupStore.tombstones(spark, s"$tmp/store")
      .collect().map(_.getLong(0)).toSet
    assert(feedNow.size == 3, s"tombstones() must keep folded deletes: $feedNow")
    // the crashed victim stays hidden on every read path
    assert(!graft.streaming.DedupStore.read(spark, s"$tmp/store")
      .collect().map(_.getAs[String]("text")).contains(crashedVictim))
    // the documented contract: a compacted victim arriving AGAIN is a
    // legitimately new document — suppression ended with compaction
    Seq((900L, "tc text 7")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val after = graft.streaming.DedupStore.run(
      spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    val texts = after.collect().map(_.getAs[String]("text")).toSet
    assert(texts.contains("tc text 7"), "re-ingestion after compaction must land")
    assert(!texts.contains(crashedVictim), "load-bearing tombstone lost")
    assert(!texts.contains("tc text 13"), "un-reingested victim resurrected")
  }

  test("purgeWhere: predicate takedown equals text purge; corpus-scale match refused") {
    val tmp = TempDirs.create("graft_store_pw")
    val docs = (0 until 60).map(i => (i.toLong, s"pw text ${i % 30}"))
      .toDF("doc_id", "text") // 30 texts × 2 copies, keep_id = 0..29
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/part-*")
    graft.streaming.DedupStore.run(spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    val purged = graft.streaming.DedupStore.purgeWhere(
      spark, s"$tmp/store", col("keep_id") < 5)
    val rows = purged.collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSet
    assert(rows == (5 until 30).map(i => (i.toLong, 2L)).toSet,
      s"predicate purge must remove exactly keep_id < 5: $rows")
    // bounded-takedown guard: a predicate matching more rows than
    // maxVictims is a rewrite, not a takedown — refuse loudly
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.DedupStore.purgeWhere(
        spark, s"$tmp/store", col("keep_id") >= 0, maxVictims = 10)
    }
    assert(ex.getMessage.contains("maxVictims"))
  }

  test("corrupt _LAYOUT: recovered when nothing committed, loud when versions exist") {
    val tmp = TempDirs.create("graft_store_corrupt")
    val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in/part-*")
    // truncated marker, no committed versions (the crash-on-first-use
    // shape): the store must recover with the requested layout
    new java.io.File(s"$tmp/store").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/store/_LAYOUT"), Array.empty[Byte])
    val store = graft.streaming.DedupStore.run(
      spark, stream(), s"$tmp/store", s"$tmp/ckpt", nBuckets = 4)
    assert(store.count() == 2L)
    // corrupt marker WITH committed versions: recovery would re-hash the
    // store, so the run must fail with an actionable message instead
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/store/_LAYOUT"),
      "garbage".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Seq((3L, "gamma")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val ex = intercept[Exception] {
      graft.streaming.DedupStore.run(spark, stream(), s"$tmp/store", s"$tmp/ckpt")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("corrupt _LAYOUT")),
      s"expected the corrupt-marker diagnostic, got: ${messages(ex)}")
  }

  test("dedup store metadata speaks the Hadoop FileSystem API: scheme-qualified store URI") {
    // The store dir arrives as an explicit `file:` URI — the path shape
    // an HDFS/S3A deployment hands over (`hdfs://nn/...`, `s3a://b/...`).
    // Every metadata operation (layout, versions, manifest, tombstones,
    // prune) must resolve it through the scheme's FileSystem, not
    // java.io — a drain AND a purge end-to-end prove the whole surface.
    val local = TempDirs.create("graft_store_uri")
    val storeUri = s"file:$local/store"
    val docs = Seq((1L, "uri alpha"), (2L, "uri beta"), (3L, "uri alpha"))
      .toDF("doc_id", "text")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$local/in")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$local/in/part-*")
    val store = graft.streaming.DedupStore.run(
      spark, stream, storeUri, s"$local/ckpt")
    val got = store.collect()
      .map(r => (r.getAs[String]("text"), r.getAs[Long]("n_copies"))).toSet
    assert(got == Set(("uri alpha", 2L), ("uri beta", 1L)))
    val purged = graft.streaming.DedupStore.purge(spark, storeUri, Seq("uri beta"))
      .collect().map(_.getAs[String]("text")).toSet
    assert(purged == Set("uri alpha"))
    // latest resolves through the same scheme-qualified root
    assert(graft.streaming.DedupStore.latest(storeUri).exists(_.endsWith("v0.1")))
    assert(graft.streaming.DedupStore.loadTombstones(storeUri).size == 1)
  }

  test("dedup store run() with no committed batch returns the typed empty store") {
    val tmp = TempDirs.create("graft_store_empty")
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$tmp/in")
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/in/part-*")
    val store = graft.streaming.DedupStore.run(
      spark, stream, s"$tmp/store", s"$tmp/ckpt")
    // downstream select must resolve even with zero committed versions
    assert(store.select("keep_id", "n_copies").count() == 0L)
    assert(store.schema.fieldNames.toSeq == Seq("text", "keep_id", "n_copies"))
  }

  test("dedup store versions: _SUCCESS gates commits, replay base excludes own batch") {
    val tmp = TempDirs.create("graft_store_vers")
    def mkVersion(id: Long, committed: Boolean): Unit = {
      val d = new java.io.File(s"$tmp/v$id"); d.mkdirs()
      if (committed) new java.io.File(d, "_SUCCESS").createNewFile()
    }
    mkVersion(0, committed = true)
    mkVersion(1, committed = true)
    mkVersion(2, committed = false) // half-written: crashed before job commit
    val latest = graft.streaming.DedupStore.latest(tmp)
    assert(latest.exists(_.endsWith("v1")), s"uncommitted v2 must be invisible: $latest")
    // replay of batch 1 must merge from v0 (its original base), not from
    // v1 — which already contains batch 1 and would double-count
    val base = graft.streaming.DedupStore.baseFor(tmp, 1L)
    assert(base.exists(_.endsWith("v0")), s"replay base for batch 1: $base")
    assert(graft.streaming.DedupStore.baseFor(tmp, 0L).isEmpty)
  }

  test("batch sessionize: gaps > 30 min split sessions; invariants hold") {
    val h = 3600L * 1000 * 1000 // 1h in µs (canonical Event.ts unit)
    val evs = Seq(
      Event(1, 0L, 7L, "a", 0, ""), Event(2, 10L * 60 * 1000 * 1000, 7L, "a", 0, ""),
      Event(3, 2 * h, 7L, "a", 0, ""), // new session after gap
      Event(4, 0L, 8L, "b", 0, "")).toDS()
    val sessions = EventStream.sessionize(evs).collect().sortBy(s => (s.user_id, s.session_id))
    assert(sessions.map(s => (s.user_id, s.session_id, s.n_events)).toSeq ==
      Seq((7L, 1, 2L), (7L, 2, 1L), (8L, 1, 1L)))
    assert(sessions.head.session_start == 0L)
    assert(sessions.head.session_end == 10L * 60 * 1000 * 1000) // µs
  }

  test("streaming sessionize keeps the open session across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val sessions = EventStream.sessionizeStream(mem.toDS())
    // ProcessingTimeTimeout makes the engine fire timeout-check batches on
    // every trigger: ProcessingTime(0) would spin empty micro-batches
    // back-to-back (endless state commits), and processAllAvailable never
    // settles while timeouts are pending — so throttle the trigger and
    // poll the sink with a deadline instead.
    val q = sessions.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("t_sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
      .start()
    def awaitRows(n: Long, timeoutMs: Long = 120000): Unit = {
      val deadline = System.currentTimeMillis + timeoutMs
      while (spark.table("t_sessions").count() < n &&
        System.currentTimeMillis < deadline) Thread.sleep(200)
      assert(spark.table("t_sessions").count() >= n,
        s"timed out waiting for $n rows")
    }
    try {
      val m = 60L * 1000 * 1000 // 1 min in µs (canonical Event.ts unit)
      // batch 1: two events 5 min apart → still one open session, nothing emitted
      mem.addData(Event(1, 0L, 1L, "a", 0, ""), Event(2, 5 * m, 1L, "a", 0, ""))
      Thread.sleep(3000)
      assert(spark.table("t_sessions").count() == 0)
      // batch 2: an event 90 min later closes the first session (emitted),
      // opens a second one that stays in state
      mem.addData(Event(3, 95 * m, 1L, "a", 0, ""))
      awaitRows(1)
      val out = spark.table("t_sessions").as[Session].collect()
      assert(out.length == 1)
      assert(out.head.session_id == 1)
      assert(out.head.n_events == 2 && out.head.session_start == 0L)
      // batch 3: another long gap closes the SECOND session — its id must
      // continue from state (2), not restart at 1
      mem.addData(Event(4, 200 * m, 1L, "a", 0, ""))
      awaitRows(2)
      val out2 = spark.table("t_sessions").as[Session].collect().sortBy(_.session_id)
      assert(out2.length == 2)
      assert(out2.map(_.session_id).toSeq == Seq(1, 2))
      assert(out2(1).n_events == 1 && out2(1).session_start == 95 * m)
    } finally q.stop()
  }

  test("append drain (st04 shape): emitted windows == watermark-finalized windows, both ts encodings") {
    // The round-8 incident: collapsed timestamps degenerated the window
    // count and the Append-mode drain emitted 0 rows with no independent
    // signal. This pins the contract on a synthetic two-window stream:
    // hour-0 is past the final watermark (max event 2:30 − 1 h = 1:30 ≥
    // its 1:00 end) and MUST emit; hour-1 and hour-2 are still open and
    // MUST NOT. Run once per physical ts encoding (epoch-nanos long and
    // timestamp[us]) — both normalize through Tables.tsMicros and must
    // drain identically.
    import org.apache.spark.sql.functions._
    val us = 60L * 1000 * 1000 // 1 min in µs
    val h = 60 * us
    val rows = Seq( // (event_id, ts µs, user_id, event_type)
      (1L, 10 * us, 1L, "a"), (2L, 20 * us, 2L, "a"), // hour 0 → finalized
      (3L, h + 10 * us, 1L, "b"), // hour 1 → open
      (4L, 2 * h + 30 * us, 1L, "a")) // hour 2 → open, sets the watermark
    import spark.implicits._
    val base = rows.toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit(""))
    val asNanos = base.withColumn("ts", col("ts") * 1000)
    val asMicrosTs = base.withColumn("ts",
      timestamp_micros(col("ts")).cast(org.apache.spark.sql.types.TimestampNTZType))
    val drained = Seq("nanos" -> asNanos, "ts_ntz" -> asMicrosTs).map { case (tag, df) =>
      val tmp = TempDirs.create(s"graft_st04_$tag")
      df.coalesce(1).write.parquet(s"$tmp/events.parquet")
      val out = graft.streaming.EventStream.runToFiles(spark,
        graft.streaming.EventStream.hourlyCounts(
          graft.streaming.EventStream.readEvents(spark, tmp)), tmp)
      tag -> out.collect().map(r =>
        (r.getAs[java.sql.Timestamp]("hour").getTime, r.getAs[String]("event_type"),
          r.getAs[Long]("n_events"))).toSet
    }
    val expected = Set((0L, "a", 2L)) // hour-0 epoch start, the ONLY finalized window
    drained.foreach { case (tag, got) =>
      assert(got == expected, s"$tag: drained $got, expected $expected")
    }
  }

  test("sliding windows (st10): every event lands in exactly two aligned windows") {
    import org.apache.spark.sql.functions._
    val out = graft.streaming.EventStream.runToMemory(spark,
      graft.streaming.EventStream.slidingCounts(
        graft.streaming.EventStream.readEvents(spark, sf)))
    val total = out.agg(sum(col("n_events"))).head.getLong(0)
    val n = Tables.load(spark, sf, "events").count()
    assert(total == 2 * n, s"overlap-2 sliding windows must double-count: $total vs 2*$n")
    // every window start is hour-aligned (epoch-aligned slide)
    val misaligned = out.filter(
      col("win_start") =!= date_trunc("hour", col("win_start"))).count()
    assert(misaligned == 0L)
  }

  test("blocklist filter (st11): bloom short-circuit equals the plain anti-join") {
    import org.apache.spark.sql.functions._
    val events = Tables.load(spark, sf, "events")
      .withColumn("event_time", Tables.eventTime(col("ts")))
    val blocklist = events.select(col("user_id")).distinct()
      .filter(col("user_id") % 17 === 0)
    // batch path through the same helper: exact anti-join semantics
    val kept = graft.streaming.EventStream.blocklistFiltered(
      events, blocklist, "user_id")
    val plain = events.join(blocklist, Seq("user_id"), "left_anti")
    assert(kept.count() == plain.count())
    assert(kept.filter(col("user_id") % 17 === 0).count() == 0L,
      "a blocklisted user leaked through the bloom short-circuit")
    // the bloom probe is in the plan (the clean-majority branch)
    assert(kept.queryExecution.executedPlan.toString.contains("might_contain"))
    // EMPTY blocklist: an empty bloom (probes false) must pass every
    // event through — catalyst's empty aggregate returns NULL, which
    // unguarded would NULL-out both filter branches and drop the stream
    val none = blocklist.filter(col("user_id") < 0)
    val keptAll = graft.streaming.EventStream.blocklistFiltered(
      events, none, "user_id")
    assert(keptAll.count() == events.count(),
      "empty blocklist must keep every event")
  }

  test("st29 SCD2 stream: a restarted drain continues history from its checkpoint") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // wave 1 arrives, the job drains and stops; wave 2 lands later and
    // a RESTARTED job (same checkpoint) must continue the history —
    // the dimension must equal the single-run pinned drain
    val tmp = TempDirs.create("graft_st29spec")
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    val cust = Tables.load(spark, sf, "customer")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val sd = s"$tmp/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(sd)
      val part = new java.io.File(sd).listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(in, s"$name.parquet").toPath)
    }
    val updSchema = StructType(Seq(
      StructField("k", LongType), StructField("new_seg", StringType)))
    val base = cust.select(col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"), lit(0L).as("vf"),
      lit(null).cast("long").as("vt"))
    def drain(): org.apache.spark.sql.DataFrame = {
      val stream = spark.readStream.schema(updSchema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*.parquet")
      graft.streaming.Scd2Dim.run(spark, stream, base,
        s"$tmp/dim", s"$tmp/ckpt")
    }
    stage(cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("k"), lit("MACHINERY").as("new_seg")), "b0")
    val afterWave1 = drain().collect()
    assert(afterWave1.exists(r => !r.isNullAt(3)),
      "wave 1 must close at least one row")
    stage(cust.filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey").as("k"), lit("HOUSEHOLD").as("new_seg")), "b1")
    val resumed = drain()
      .select("k", "seg", "vf", "vt").orderBy("k", "vf").collect()
    val oneShot = SparkEntry.queries("st29_stream_scd2")(spark, sf).collect()
    assert(resumed.length == oneShot.length,
      s"${resumed.length} rows resumed vs ${oneShot.length} one-shot")
    assert(resumed.map(_.toString).sameElements(oneShot.map(_.toString)),
      "resumed history must equal the single-run drain")
  }

  test("st27 stream card: snapshot is batching-invariant and equals the batch rollup") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.ops.TextAnalysis
    // the algebraic-state claim: draining 1 file per micro-batch and
    // draining everything in one batch must produce the identical
    // snapshot, and both must equal the plain batch aggregation
    val inDir = graft.queries.StreamMediaQueries.ensureDocCardStream(spark, sf).dir
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    def drain(maxFiles: Option[Int]): Array[org.apache.spark.sql.Row] = {
      val rd = spark.readStream.schema(docSchema)
      val stream = maxFiles.fold(rd)(m =>
        rd.option("maxFilesPerTrigger", m.toString)).parquet(s"$inDir/part-*")
      val rollup = stream.select(col("source"),
          TextAnalysis.langId(col("text")).as("pred_lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
        .groupBy(col("source"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_tokens"))
      graft.streaming.EventStream.runToMemory(spark, rollup)
        .orderBy(col("source"), col("pred_lang")).collect()
    }
    val perFile = drain(Some(1))
    val oneShot = drain(None)
    assert(perFile.sameElements(oneShot),
      "rollup snapshot must not depend on arrival batching")
    val batch = Tables.load(spark, sf, "documents")
      .select(col("source"),
        TextAnalysis.langId(col("text")).as("pred_lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
      .groupBy(col("source"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_tokens"))
      .orderBy(col("source"), col("pred_lang")).collect()
    assert(perFile.sameElements(batch),
      "streaming snapshot must equal the batch rollup")
  }

  test("Scd2Dim.applyBatch: NULL segments route null-safely (no silent row loss)") {
    import spark.implicits._
    // Spark 3VL: `seg =!= new_seg` is SQL NULL when either side is
    // NULL, and a NULL predicate row vanishes from BOTH filter
    // branches — the state-maintenance hazard ADVICE r10 flagged.
    // Open rows: k=1 seg NULL, k=2 seg "B", k=3 seg NULL.
    // Updates:   k=1 -> "A" (change), k=2 -> NULL (change),
    //            k=3 -> NULL (no-op: null <=> null).
    val state = Seq(
      (1L, Option.empty[String], 0L, Option.empty[Long]),
      (2L, Option("B"), 0L, Option.empty[Long]),
      (3L, Option.empty[String], 0L, Option.empty[Long]))
      .toDF("k", "seg", "vf", "vt")
    val updates = Seq(
      (1L, Option("A")), (2L, Option.empty[String]),
      (3L, Option.empty[String]))
      .toDF("k", "new_seg")
    val out = graft.streaming.Scd2Dim.applyBatch(state, updates, batchId = 4L)
      .collect()
    // conservation: no open row may vanish — 3 keys in, each key's
    // history present, 2 closed + 3 open rows out
    assert(out.length == 5, s"expected 5 rows (2 closed + 3 open), got " +
      s"${out.length}: ${out.mkString("; ")}")
    val open = out.filter(_.isNullAt(3))
    assert(open.map(_.getLong(0)).sorted.sameElements(Array(1L, 2L, 3L)),
      "every live key must still have exactly one open row")
    val k1 = open.find(_.getLong(0) == 1L).get
    assert(k1.getString(1) == "A" && k1.getLong(2) == 5L,
      s"k=1 must reopen as A at vf=5, got $k1")
    assert(open.find(_.getLong(0) == 2L).get.isNullAt(1),
      "k=2 must reopen with the NULL segment (a real update to NULL)")
    val k3 = open.find(_.getLong(0) == 3L).get
    assert(k3.getLong(2) == 0L,
      s"k=3 NULL->NULL is a no-op; its open row must keep vf=0, got $k3")
  }

  test("Scd2Dim.applyBatch: conflicting same-key updates in one batch cannot fork history") {
    import spark.implicits._
    val state = Seq((7L, "A", 0L, Option.empty[Long])).toDF("k", "seg", "vf", "vt")
    val updates = Seq((7L, "X"), (7L, "Y")).toDF("k", "new_seg")
    val out = graft.streaming.Scd2Dim.applyBatch(state, updates, batchId = 1L)
      .collect()
    val open = out.filter(_.isNullAt(3))
    assert(open.length == 1,
      s"a batch with 2 updates for one key must open exactly 1 row, got " +
        s"${open.length}: ${out.mkString("; ")}")
    // deterministic reduction: max(new_seg) wins absent an order column
    assert(open.head.getString(1) == "Y")
    assert(out.count(_.getLong(0) == 7L) == 2, "one closed + one open row")
  }

  test("Scd2Dim.run: an empty update stream returns the base dimension") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val tmp = TempDirs.create("graft_scd2empty")
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    val base = Seq((1L, "A", 0L, Option.empty[Long])).toDF("k", "seg", "vf", "vt")
    val stream = spark.readStream.schema(StructType(Seq(
        StructField("k", LongType), StructField("new_seg", StringType))))
      .parquet(s"$in/*.parquet")
    val out = graft.streaming.Scd2Dim.run(spark, stream, base,
      s"$tmp/dim", s"$tmp/ckpt")
    assert(out.collect().map(_.getLong(0)).sameElements(Array(1L)),
      "zero drained batches must fall back to the base dimension, not throw")
  }

  test("Scd2Dim.enrichAsOf: each fact joins the dimension row valid AT its epoch") {
    import spark.implicits._
    // k=1 history: A over [0,2), B over [2,∞); k=2: C over [0,∞).
    val dim = Seq(
      (1L, "A", 0L, Option(2L)),
      (1L, "B", 2L, Option.empty[Long]),
      (2L, "C", 0L, Option.empty[Long]))
      .toDF("k", "seg", "vf", "vt")
    val facts = Seq((1L, 0L, 10.0), (1L, 1L, 20.0), (1L, 2L, 30.0),
      (1L, 5L, 40.0), (2L, 3L, 50.0), (9L, 0L, 60.0))
      .toDF("fk", "epoch", "v")
    val out = graft.streaming.Scd2Dim.enrichAsOf(facts, dim, "fk", "epoch")
      .select("fk", "epoch", "seg").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).sorted.toSeq
    assert(out == Seq((1L, 0L, "A"), (1L, 1L, "A"), (1L, 2L, "B"),
      (1L, 5L, "B"), (2L, 3L, "C"), (9L, 0L, null)),
      s"point-in-time lookup mismatch: $out")
    // exactly one dim row matches any epoch — the left join never
    // multiplies facts
    assert(out.length == 6, "row conservation: one output row per fact")
  }

  test("st31 priority sample: a restarted drain continues from its checkpoint to the batch answer") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // the monoid-state claim under a RESTART: drain wave 1, stop,
    // deliver wave 2, drain again on the SAME checkpoint — the final
    // top-20 must equal the one-shot batch sample over everything
    val tmp = TempDirs.create("graft_st31spec")
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val sd = s"$tmp/stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(sd)
      val part = new java.io.File(sd).listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(in, s"$name.parquet").toPath)
    }
    val root = new java.io.File(s"$tmp/state"); root.mkdirs()
    def versions(): Seq[Long] =
      Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith("v_") &&
          new java.io.File(f, "_SUCCESS").exists())
        .map(_.getName.stripPrefix("v_").toLong).sorted.toSeq
    def drain(): Unit = {
      val q = spark.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*.parquet")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val w = graft.ops.TextAnalysis.tokenCount(col("text")).cast("long")
          val u = graft.ops.TrainingPrep.hashBucket(col("doc_id"), 1000000) + 1L
          val scored = batch.select(col("doc_id"), w.as("n_tokens"),
            (w.cast("double") * 1000000.0 / u.cast("double")).as("priority"))
          val state = versions().filter(_ < batchId).lastOption match {
            case Some(v) => batch.sparkSession.read.parquet(s"$root/v_$v")
            case None => scored.limit(0)
          }
          state.unionByName(scored)
            .orderBy(col("priority").desc, col("doc_id")).limit(20)
            .write.mode("overwrite").parquet(s"$root/v_$batchId")
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    stage(docs.filter(col("doc_id") % 2 === 0), "w0")
    drain()
    val afterWave1 = spark.read.parquet(s"$root/v_${versions().last}")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    stage(docs.filter(col("doc_id") % 2 === 1), "w1")
    drain()
    val resumed = spark.read.parquet(s"$root/v_${versions().last}")
      .orderBy(col("priority").desc, col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val u = graft.ops.TrainingPrep.hashBucket(col("doc_id"), 1000000) + 1L
    val w = graft.ops.TextAnalysis.tokenCount(col("text")).cast("long")
    val batchTop = docs.select(col("doc_id"),
        (w.cast("double") * 1000000.0 / u.cast("double")).as("priority"))
      .orderBy(col("priority").desc, col("doc_id")).limit(20)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(resumed == batchTop,
      s"restart-continued sample diverged from the batch sample:\n" +
        s"  resumed: $resumed\n  batch:   $batchTop")
    // the restart genuinely continued (wave 2 committed new versions
    // beyond wave 1's)
    assert(versions().size >= 2,
      s"second drain committed no new version: ${versions()}")
    assert(afterWave1.forall(_ % 2 == 0),
      "wave-1 state must only contain wave-1 (even) docs")
  }

  test("routeByValidity (st28): null-predicate rows land in exactly one sink — the dead letter") {
    import spark.implicits._
    val batch = Seq(
      (1L, "view", Option(5.0)),   // good
      (2L, "error", Option(5.0)),  // bad: error type
      (3L, "view", Option(0.5)),   // bad: low value
      (4L, "view", Option.empty[Double]), // NULL value -> 3VL NULL predicate
      (5L, Option.empty[String].orNull, Option(5.0))) // NULL type -> same
      .toDF("event_id", "event_type", "value")
    val (bad, good) = graft.streaming.EventStream.routeByValidity(
      batch, col("event_type") === "error" || col("value") < 1.0)
    assert(bad.count() + good.count() == batch.count(),
      "the split must be total: every row in exactly one sink")
    assert(bad.select("event_id").as[Long].collect().sorted
      .sameElements(Array(2L, 3L, 4L, 5L)),
      "null-predicate rows must route to the dead letter (unparseable ≈ invalid)")
    assert(good.select("event_id").as[Long].collect().sameElements(Array(1L)))
  }

  test("streaming LOCF fills gaps across micro-batch boundaries from state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Hourly]
    val q = EventStream.locfStream(mem.toDS()).writeStream
      .outputMode(OutputMode.Append).format("memory").queryName("t_locf").start()
    try {
      mem.addData(EventStream.Hourly(1L, 10L, 2L, 5.0))
      q.processAllAvailable()
      // the gap hours 11 and 12 are only discoverable when hour 13
      // arrives IN THE NEXT BATCH — the fill must come from state
      mem.addData(EventStream.Hourly(1L, 13L, 1L, 7.0))
      q.processAllAvailable()
      val rows = spark.table("t_locf")
        .orderBy("hour_us")
        .select("hour_us", "n_ev", "locf_v", "filled")
        .collect()
        .map(r => (r.getLong(0) / EventStream.HourMicros, r.getLong(1),
          r.getDouble(2), r.getInt(3)))
      assert(rows.toSeq == Seq(
        (10L, 2L, 5.0, 0), (11L, 0L, 5.0, 1), (12L, 0L, 5.0, 1),
        (13L, 1L, 7.0, 0)),
        s"cross-batch LOCF wrong: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming streaks merge runs across batch boundaries, skip replayed days, reject regressions") {
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, day: Long) = EventStream.Event(
      id, (7305L + day) * 86400000000L + id, 3L, "view", 0.0, "")
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.streakStream(mem.toDS()).writeStream
      .outputMode(OutputMode.Append).format("memory").queryName("t_streak").start()
    try {
      // batch 1: days 10, 11 — one open run of 2
      mem.addData(ev(1, 10), ev(2, 11))
      q.processAllAvailable()
      // batch 2: day 11 REPLAYED (tile boundary can split a day), then
      // 12 extends the run FROM STATE to 3; 20 opens a second island
      mem.addData(ev(3, 11), ev(4, 12), ev(5, 20))
      q.processAllAvailable()
      val last = spark.table("t_streak").orderBy(col("seq").desc).limit(1)
        .select("best_len", "cur_len", "n_streaks", "n_days")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(last.toSeq == Seq((3L, 1L, 2L, 4L)),
        s"cross-batch streak state wrong: ${last.toSeq}")
      // batch 3: a regressed day must fail LOUDLY, not miscount
      mem.addData(ev(6, 15))
      val ex = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
      assert(chain(ex).exists(m => m != null && m.contains("out-of-order")),
        s"expected the out-of-order guard, got: ${chain(ex)}")
    } finally q.stop()
  }

  test("funnel anchors at timestamp 0: the unset sentinel is MinValue, not 0") {
    // the r12 advice seam: ts == 0 as "stage not reached" conflated a
    // legitimate epoch-0 event with unset — only a fixture comment
    // protected it; the sentinel is now Long.MinValue like every other
    // guard in the file, so an epoch-0 view must anchor stage 1
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.funnelStream(mem.toDS()).writeStream
      .outputMode(OutputMode.Append).format("memory")
      .queryName("t_funnel_ts0").start()
    try {
      mem.addData(
        EventStream.Event(1L, 0L, 9L, "view", 0.0, ""),
        EventStream.Event(2L, 10L, 9L, "click", 0.0, ""),
        EventStream.Event(3L, 20L, 9L, "purchase", 0.0, ""))
      q.processAllAvailable()
      val rows = spark.table("t_funnel_ts0").orderBy("ts")
        .select("stage", "ts")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toSeq == Seq(
        ("1_view", 0L), ("2_click", 10L), ("3_purchase", 20L)),
        s"epoch-0 view failed to anchor the funnel: ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming z-score scores across micro-batch boundaries from state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.zscoreStream(mem.toDS()).writeStream
      .outputMode(OutputMode.Append).format("memory").queryName("t_zscore").start()
    try {
      // batch 1: five identical values — all warm-up (n < 5 when scored)
      mem.addData((1L to 5L).map(i =>
        EventStream.Event(i, i * 1000L, 7L, "view", 1.0, "")))
      q.processAllAvailable()
      // batch 2: the window LIVES IN STATE — a 5.00 against five 1.00s
      // is a zero-variance deviation (anomalous); a sixth 1.00 against
      // the now-mixed window is well inside 2 sigma (not anomalous)
      mem.addData(
        EventStream.Event(6L, 6000L, 7L, "view", 5.0, ""),
        EventStream.Event(7L, 7000L, 7L, "view", 1.0, ""))
      q.processAllAvailable()
      val rows = spark.table("t_zscore").orderBy("event_id")
        .select("event_id", "scored", "anom")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      assert(rows.toSeq == Seq(
        (1L, 0, 0), (2L, 0, 0), (3L, 0, 0), (4L, 0, 0), (5L, 0, 0),
        (6L, 1, 1), (7L, 1, 0)),
        s"cross-batch z-score verdicts wrong: ${rows.toSeq}")
    } finally q.stop()
  }

  test("z-score and user-seq guards catch equal-ts id regressions across batches") {
    // The batch oracles order by (ts, event_id). A ts-only guard would
    // let an equal-ts event with a LOWER id arrive in a later batch and
    // fold in a different order than the batch semantics — silently.
    // Both stateful ops must trip on the full (ts, event_id) key.
    implicit val sqlCtx = spark.sqlContext
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    def run(name: String,
            f: org.apache.spark.sql.Dataset[EventStream.Event] =>
              org.apache.spark.sql.Dataset[_]): Unit = {
      val mem = MemoryStream[EventStream.Event]
      val q = f(mem.toDS()).writeStream
        .outputMode(OutputMode.Append).format("memory")
        .queryName(s"t_ordguard_$name").start()
      try {
        mem.addData(EventStream.Event(10L, 5000L, 7L, "view", 1.0, ""))
        q.processAllAvailable()
        // same ts, lower event_id, later batch: must throw, not reorder
        mem.addData(EventStream.Event(3L, 5000L, 7L, "view", 2.0, ""))
        val ex = intercept[Exception] { q.processAllAvailable() }
        assert(chain(ex).exists(m => m != null && m.contains("out-of-order")),
          s"$name: expected the (ts, id) guard, got: ${chain(ex)}")
      } finally q.stop()
    }
    run("zscore", EventStream.zscoreStream)
    run("userseq", EventStream.userSeqStream)
  }

  test("CEP chains span micro-batches; horizons prune expired state") {
    implicit val sqlCtx = spark.sqlContext
    val H = 3600000000L // 1 h in micros
    def ev(id: Long, tHours: Long, typ: String) =
      EventStream.Event(id, tHours * H, 9L, typ, 0.0, "")
    val mem = MemoryStream[EventStream.Event]
    // w1 = 2 h (view→click), w2 = 3 h (click→purchase)
    val q = EventStream.cepStream(mem.toDS(), 2L * H, 3L * H).writeStream
      .outputMode(OutputMode.Append).format("memory").queryName("t_cep").start()
    try {
      // batch 1: two views and a click chaining from BOTH (v1 within
      // 2 h, v2 within 2 h); the click's purchase hasn't arrived yet
      mem.addData(ev(1, 0, "view"), ev(2, 1, "view"), ev(3, 2, "click"))
      q.processAllAvailable()
      assert(spark.table("t_cep").count() == 0, "no purchase yet")
      // batch 2: a purchase at +4 h closes BOTH chains (4 <= 2 + 3);
      // v1 chained because 2 <= 0 + 2 held AT CLICK time
      mem.addData(ev(4, 4, "purchase"))
      q.processAllAvailable()
      val got = spark.table("t_cep")
        .select("view_id", "click_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 3L, 4L), (2L, 3L, 4L)), s"got $got")
      // batch 3: a purchase at +6 h is past the click's 3 h horizon —
      // the click was pruned, nothing new emits
      mem.addData(ev(5, 6, "purchase"))
      q.processAllAvailable()
      assert(spark.table("t_cep").count() == 2, "expired click must not match")
    } finally q.stop()
  }

  test("CEP: a restarted drain resumes open chains from the state store") {
    import spark.implicits._
    // wave 1 opens a view→click chain; the purchase arrives only AFTER
    // a stop + restart on the same checkpoint — the triple can only
    // emit if the pending click (and its chained views) was restored
    val H = 3600000000L
    val tmp = TempDirs.create("graft_ceprestart")
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    def stage(rows: Seq[(Long, Long, Long, String, Double, String)],
              name: String): Unit = {
      val sd = s"$tmp/stage_$name"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(sd)
      val part = new java.io.File(sd).listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(in, s"$name.parquet").toPath)
    }
    def drain(): org.apache.spark.sql.DataFrame = {
      val stream = spark.readStream.schema(graft.streaming.EventStream.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$in/*.parquet")
        .as[graft.streaming.EventStream.Event]
      graft.streaming.EventStream.runToFiles(spark,
        graft.streaming.EventStream.cepStream(stream, 2L * H, 3L * H).toDF(), tmp)
    }
    stage(Seq((1L, 0L * H, 7L, "view", 0.0, ""),
      (2L, 1L * H, 7L, "click", 0.0, "")), "w0")
    drain()
    stage(Seq((3L, 3L * H, 7L, "purchase", 0.0, "")), "w1")
    val rows = drain().select("view_id", "click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 2L, 3L)),
      s"restart must resume the open chain: $rows")
  }

  test("interval coverage: a restarted drain resumes the open island") {
    import spark.implicits._
    import graft.streaming.IntervalCoverage
    // wave 1 leaves one OPEN island spanning two overlapping intervals;
    // the sentinel lands after a restart — the summary merges across
    // the restart only if the open island was restored
    val tmp = TempDirs.create("graft_covrestart")
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    def stage(rows: Seq[(Long, Long, Long)], name: String): Unit = {
      val sd = s"$tmp/stage_$name"
      rows.toDF("sk", "lo", "hi")
        .coalesce(1).write.mode("overwrite").parquet(sd)
      val part = new java.io.File(sd).listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(in, s"$name.parquet").toPath)
    }
    def drain(): org.apache.spark.sql.DataFrame = {
      val stream = spark.readStream.schema("sk LONG, lo LONG, hi LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$in/*.parquet")
        .as[IntervalCoverage.Iv]
      graft.streaming.EventStream.runToFiles(spark,
        IntervalCoverage.coverageStream(stream).toDF(), tmp)
    }
    stage(Seq((1L, 10L, 20L), (1L, 15L, 25L)), "w0") // one open island 10..25
    drain()
    // wave 2: extend the island, then a disjoint one, then flush
    stage(Seq((1L, 24L, 30L), (1L, 40L, 41L),
      (1L, Long.MaxValue, Long.MaxValue)), "w1")
    val rows = drain()
      .select("s_suppkey", "covered_days", "n_islands", "max_span")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((1L, 23L, 2L, 21L)), // 10..30 (21) + 40..41 (2)
      s"restart must resume the open island: ${rows.toSeq}")
  }

  test("transformWithState: named per-type counters persist across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    graft.streaming.EventStream.withRocksDBState(spark) {
      val mem = MemoryStream[EventStream.Event]
      val q = EventStream.typeSeqStream(mem.toDS()).writeStream
        .outputMode(OutputMode.Append).format("memory")
        .queryName("t_tws").start()
      try {
        mem.addData(
          EventStream.Event(1L, 10L, 5L, "view", 0.0, ""),
          EventStream.Event(2L, 20L, 5L, "click", 0.0, ""),
          EventStream.Event(3L, 30L, 5L, "view", 0.0, ""))
        q.processAllAvailable()
        // batch 2: the MapState counters must resume, not restart
        mem.addData(
          EventStream.Event(4L, 40L, 5L, "view", 0.0, ""),
          EventStream.Event(5L, 50L, 5L, "click", 0.0, ""),
          EventStream.Event(6L, 60L, 9L, "view", 0.0, ""))
        q.processAllAvailable()
        val rows = spark.table("t_tws").orderBy("event_id")
          .select("user_id", "event_id", "event_type", "seq_in_type")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3)))
        assert(rows.toSeq == Seq(
          (5L, 1L, "view", 1L), (5L, 2L, "click", 1L), (5L, 3L, "view", 2L),
          (5L, 4L, "view", 3L), (5L, 5L, "click", 2L), (9L, 6L, "view", 1L)),
          s"cross-batch typed state wrong: ${rows.toSeq}")
        // the ordering guard is live on this API too
        mem.addData(EventStream.Event(7L, 15L, 5L, "view", 0.0, ""))
        val ex = intercept[Exception] { q.processAllAvailable() }
        def chain(t: Throwable): Seq[String] =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(_.getMessage).toSeq
        assert(chain(ex).exists(m => m != null && m.contains("out-of-order")),
          s"expected the out-of-order guard, got: ${chain(ex)}")
      } finally q.stop()
    }
  }

  test("transformWithState timers: the watermark, not an input row, flushes the idle session") {
    implicit val sqlCtx = spark.sqlContext
    graft.streaming.EventStream.withRocksDBState(spark) {
      val H = 3600L * 1000000L
      val mem = MemoryStream[EventStream.Event]
      val q = EventStream.timerSessionStream(mem.toDS(), H).writeStream
        .outputMode(OutputMode.Append).format("memory")
        .queryName("t_timer").start()
      try {
        // batch 1: user 5's session, timer armed past 1.5H + 1H = 2.5H
        mem.addData(
          EventStream.Event(1L, H, 5L, "view", 0.0, ""),
          EventStream.Event(2L, H + H / 2, 5L, "view", 0.0, ""))
        q.processAllAvailable()
        assert(spark.table("t_timer").count() == 0,
          "nothing may flush before the watermark reaches the timer")
        // batch 2 (user 9 at 10H): during it the watermark is still
        // batch 1's 1.5H — no flush yet; after it, watermark = 10H
        mem.addData(EventStream.Event(3L, 10L * H, 9L, "view", 0.0, ""))
        q.processAllAvailable()
        // batch 3: watermark 10H > 2.5H → user 5's timer fires and
        // handleExpiredTimer (no input row for user 5!) emits the flush
        mem.addData(EventStream.Event(4L, 11L * H, 9L, "view", 0.0, ""))
        q.processAllAvailable()
        val rows = spark.table("t_timer")
          .select("user_id", "anchor_ts", "n_events", "last_ts")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3)))
        assert(rows.toSeq == Seq((5L, H, 2L, H + H / 2)),
          s"timer flush wrong: ${rows.toSeq}")
      } finally q.stop()
    }
  }

  test("timer sessions: event path and timer path emit the identical row") {
    // Batch-boundary invariance, the st54 contract: the SAME logical
    // feed delivered in two different tilings — (a) the over-gap
    // successor in a LATER batch than the watermark pusher, so the
    // timer closes session 1; (b) successor and session 1 in ONE
    // batch, so the event path closes it — must drain the same rows.
    implicit val sqlCtx = spark.sqlContext
    val H = 3600L * 1000000L
    val evs = Seq(
      EventStream.Event(1L, H, 5L, "view", 0.0, ""),
      EventStream.Event(2L, 2L * H, 5L, "view", 0.0, ""),
      EventStream.Event(3L, 10L * H, 5L, "view", 0.0, ""))
    def drain(tiles: Seq[Seq[EventStream.Event]]): Seq[(Long, Long, Long, Long)] =
      graft.streaming.EventStream.withRocksDBState(spark) {
        val mem = MemoryStream[EventStream.Event]
        val name = s"t_inv_${System.nanoTime()}"
        val q = EventStream.timerSessionStream(mem.toDS(), H).writeStream
          .outputMode(OutputMode.Append).format("memory")
          .queryName(name).start()
        try {
          tiles.foreach { t => mem.addData(t: _*); q.processAllAvailable() }
          // two watermark-advancing sentinel batches: timers fire on the
          // NEXT batch after the watermark commit
          mem.addData(EventStream.Event(90L, 100L * H, -1L, "view", 0.0, ""))
          q.processAllAvailable()
          mem.addData(EventStream.Event(91L, 101L * H, -1L, "view", 0.0, ""))
          q.processAllAvailable()
          spark.table(name).filter(col("user_id") >= 0)
            .select("user_id", "anchor_ts", "n_events", "last_ts")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              r.getLong(3))).toSeq.sorted
        } finally q.stop()
      }
    val expected = Seq((5L, H, 2L, 2L * H), (5L, 10L * H, 1L, 10L * H))
    // (a) timer closes session 1: pushers drive the watermark past the
    //     3H deadline (but NOT past 10H — the successor must still be
    //     above the watermark when it arrives, the contract every
    //     event-time operator carries) before the successor's batch
    val a = drain(Seq(Seq(evs(0), evs(1)),
      Seq(EventStream.Event(80L, 4L * H, -1L, "view", 0.0, "")),
      Seq(EventStream.Event(81L, 5L * H, -1L, "view", 0.0, "")),
      Seq(evs(2))))
    // (b) event path closes session 1: all three in one batch
    val b = drain(Seq(evs))
    assert(a.filter(_._1 == 5L) == expected, s"timer-path drain wrong: $a")
    assert(b.filter(_._1 == 5L) == expected, s"event-path drain wrong: $b")
  }

  test("timer sessions: a restarted drain fires the timer armed before the restart") {
    import spark.implicits._
    graft.streaming.EventStream.withRocksDBState(spark) {
      val H = 3600L * 1000000L
      val tmp = TempDirs.create("graft_timerrestart")
      val in = new java.io.File(s"$tmp/in"); in.mkdirs()
      def stage(rows: Seq[(Long, Long, Long)], name: String): Unit = {
        val sd = s"$tmp/stage_$name"
        rows.map { case (id, ts, uid) => (id, ts, uid, "view", 0.0, "") }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(sd)
        val part = new java.io.File(sd).listFiles()
          .filter(_.getName.startsWith("part-")).head
        java.nio.file.Files.move(part.toPath,
          new java.io.File(in, s"$name.parquet").toPath)
      }
      def drain(): org.apache.spark.sql.DataFrame = {
        val stream = spark.readStream.schema(EventStream.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$in/*.parquet")
          .as[EventStream.Event]
        graft.streaming.EventStream.runToFiles(spark,
          EventStream.timerSessionStream(stream, H).toDF(), tmp)
      }
      // drain 1: user 5's session open, timer armed at 2H + gap; the
      // final watermark (2H) hasn't reached it — nothing emitted
      stage(Seq((1L, H, 5L), (2L, 2L * H, 5L)), "w0")
      assert(drain().count() == 0,
        "the open session must NOT flush before its deadline")
      // drain 2 (same checkpoint): only watermark pushers for user -1
      // arrive — user 5 has NO input row, so the flush can only come
      // from the timer RESTORED from the checkpoint
      stage(Seq((3L, 50L * H, -1L)), "w1")
      stage(Seq((4L, 51L * H, -1L)), "w2")
      val rows = drain().filter(col("user_id") >= 0)
        .select("user_id", "anchor_ts", "n_events", "last_ts")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      assert(rows.toSeq == Seq((5L, H, 2L, 2L * H)),
        s"restored timer must flush the pre-restart session: ${rows.toSeq}")
    }
  }

  test("transformWithState: a restarted drain resumes named state variables from the checkpoint") {
    import spark.implicits._
    graft.streaming.EventStream.withRocksDBState(spark) {
      val tmp = TempDirs.create("graft_twsrestart")
      val in = new java.io.File(s"$tmp/in"); in.mkdirs()
      def stage(rows: Seq[(Long, Long, Long, String)], name: String): Unit = {
        val sd = s"$tmp/stage_$name"
        rows.map { case (id, ts, uid, ty) => (id, ts, uid, ty, 0.0, "") }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(sd)
        val part = new java.io.File(sd).listFiles()
          .filter(_.getName.startsWith("part-")).head
        java.nio.file.Files.move(part.toPath,
          new java.io.File(in, s"$name.parquet").toPath)
      }
      def drain(): org.apache.spark.sql.DataFrame = {
        val stream = spark.readStream.schema(EventStream.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$in/*.parquet")
          .as[EventStream.Event]
        graft.streaming.EventStream.runToFiles(spark,
          EventStream.typeSeqStream(stream).toDF(), tmp)
      }
      stage(Seq((1L, 10L, 5L, "view"), (2L, 20L, 5L, "view")), "w0")
      drain()
      // the RESTARTED drain's first click can only get seq 1 and the
      // third view seq 3 if the per-type MapState counters were
      // restored from the checkpointed column families
      stage(Seq((3L, 30L, 5L, "view"), (4L, 40L, 5L, "click")), "w1")
      val rows = drain().orderBy("event_id")
        .select("event_id", "event_type", "seq_in_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.toSeq == Seq((1L, "view", 1L), (2L, "view", 2L),
        (3L, "view", 3L), (4L, "click", 1L)),
        s"restart must resume the named counters: ${rows.toSeq}")
    }
  }

  /** Shared arrival-fixture step for the restart/forensics specs:
    * stage one parquet event file into `in` under a stable name (write
    * via a scratch dir, then move the single part file — the
    * file-stream source sees exactly one new file per call). */
  private def stageEventFile(in: java.io.File, tmp: String, name: String,
      rows: Seq[(Long, Long, Long, String)]): Unit = {
    import spark.implicits._
    val sd = s"$tmp/stage_$name"
    rows.map { case (id, ts, uid, ty) => (id, ts, uid, ty, 0.0, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(sd)
    val part = new java.io.File(sd).listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(in, s"$name.parquet").toPath)
  }

  test("streaming observe: per-batch metrics ride the drain and sum to the corpus") {
    import spark.implicits._
    // the streaming face of ops/Observe: `observe` metrics piggyback
    // each micro-batch's own execution and surface in
    // StreamingQueryProgress.observedMetrics — per-batch rows-in /
    // value-sum telemetry with ZERO extra jobs, the ingest-monitoring
    // contract a 100 TB feed runs on (a second aggregation stream
    // would double the read). The invariant: per-batch metrics SUM to
    // the corpus totals, however arrivals are batched.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val seen = scala.collection.concurrent.TrieMap.empty[Long, (Long, Double)]
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        Option(e.progress.observedMetrics.get("ingest")).foreach { row =>
          seen.put(e.progress.batchId, (row.getLong(0), row.getDouble(1)))
        }
    }
    spark.streams.addListener(listener)
    val q = mem.toDS().toDF()
      .observe("ingest", count(lit(1)).as("rows_in"),
        sum(col("value")).as("value_sum"))
      .writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("t_observe_stream").start()
    try {
      mem.addData(EventStream.Event(1L, 1000L, 5L, "view", 2.0, ""),
        EventStream.Event(2L, 2000L, 5L, "view", 3.0, ""))
      q.processAllAvailable()
      mem.addData(EventStream.Event(3L, 3000L, 6L, "click", 5.0, ""))
      q.processAllAvailable()
      // the listener bus is asynchronous — bound the wait
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (seen.values.map(_._1).sum < 3L && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.values.map(_._1).sum == 3L &&
        seen.values.map(_._2).sum == 10.0,
        s"per-batch observed metrics must sum to the corpus: $seen")
      // and they arrived per batch, not as one lump
      assert(seen.size >= 2,
        s"metrics must surface on each micro-batch's progress: $seen")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("chained stateful operators: one query runs TWO stateful aggs and emits promptly") {
    import spark.implicits._
    // the st66 chain's structural contract: hourly window agg → daily
    // re-agg via window(window_time) is ONE streaming query with TWO
    // stateful operators in its progress (not a fused single agg), and
    // the second operator emits in the same processAllAvailable as the
    // watermark crossing — no per-operator extra-batch lag (the probe
    // result the query's fixture sizing relies on)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val H = 3600L * 1000000L
    val ev = mem.toDS().toDF("ts")
      .withColumn("event_time", timestamp_micros(col("ts")))
      .withWatermark("event_time", "1 hour")
    val hourly = ev.groupBy(window(col("event_time"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
    val daily = hourly
      .groupBy(window(window_time(col("w")), "1 day").as("dw"))
      .agg(sum(col("n")).as("n"), count(lit(1)).as("nh"))
      .select(col("dw.start").as("day"), col("n"), col("nh"))
    val q = daily.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("t_chain").start()
    try {
      mem.addData(1L * H, 2L * H) // day 0, two distinct hours
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.length == 2,
        s"expected two stateful operators, got ${
          q.lastProgress.stateOperators.map(_.operatorName).mkString(",")}")
      assert(spark.table("t_chain").isEmpty, "day 0 must still be open")
      // watermark 26h−1h = 25h ≥ day-0 end (24h): the chain flushes
      // within ONE drain — hourly emits, daily consumes AND emits
      mem.addData(26L * H)
      q.processAllAvailable()
      val rows = spark.table("t_chain").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq((2L, 2L)),
        s"day 0 must emit (n=2, nh=2) once watermark passes its end: $rows")
    } finally q.stop()
  }

  test("chained stateful operators: interval join feeds a window agg in one query") {
    import spark.implicits._
    // the st67 shape's structural contract: a time-interval
    // stream-stream join and a downstream tumbling aggregate are one
    // query with two stateful operators, and the aggregate finalizes
    // against the JOIN's derived output watermark — a window whose end
    // the raw source clock has passed but whose join-adjusted watermark
    // has not must stay open
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)] // (ts, side, user)
    val H = 3600L * 1000000L
    def side(name: String) = mem.toDS()
      .toDF("ts", "side", "user")
      .filter(col("side") === name)
      .select(col("user").as(s"${name}_user"),
        timestamp_micros(col("ts")).as(s"${name}_time"))
      .withWatermark(s"${name}_time", "1 hour")
    val joined = side("v").join(side("p"),
      col("v_user") === col("p_user") &&
        col("p_time") >= col("v_time") &&
        col("p_time") <= col("v_time") + expr("INTERVAL 1 HOUR"))
    val rolled = joined
      .groupBy(window(col("p_time"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour"), col("n"))
    val q = rolled.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("t_chain_ja").start()
    try {
      // one attributed pair in hour 1 (view 1.0H, purchase 1.5H)
      mem.addData((1L * H, "v", 5L), (3L * H / 2, "p", 5L))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.length == 2,
        s"expected join + agg stateful operators, got ${
          q.lastProgress.stateOperators.map(_.operatorName).mkString(",")}")
      assert(spark.table("t_chain_ja").isEmpty,
        "hour 1's window must stay open until the join-adjusted watermark passes")
      // raw clock to 6H on both sides: source watermark 5H, and even
      // after the engine subtracts the join's 1 h interval from the
      // state-format-dependent side, the agg watermark clears hour 1's
      // end (2H) with margin — the pair's window closes now
      mem.addData((6L * H, "v", -1L), (6L * H, "p", -2L))
      q.processAllAvailable()
      val rows = spark.table("t_chain_ja").collect()
        .map(r => r.getLong(1)).toSeq
      assert(rows == Seq(1L),
        s"the attributed pair must emit exactly once after the cascade: $rows")
    } finally q.stop()
  }

  test("transformWithState: the ListState buffer survives a drain restart") {
    import spark.implicits._
    // the named-variable restart contract extended to ListState: the
    // trailing-type buffer is a DISTINCT column family in the
    // checkpoint, so a restarted drain must emit patterns that reach
    // back across the restart boundary — event 3's context can only
    // contain w0's types if the list (and its order) was restored
    graft.streaming.EventStream.withRocksDBState(spark) {
      val tmp = TempDirs.create("graft_lsrestart")
      val in = new java.io.File(s"$tmp/in"); in.mkdirs()
      def stage(rows: Seq[(Long, Long, Long, String)], name: String): Unit =
        stageEventFile(in, tmp, name, rows)
      def drain(): org.apache.spark.sql.DataFrame = {
        val stream = spark.readStream.schema(EventStream.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$in/*.parquet")
          .as[EventStream.Event]
        graft.streaming.EventStream.runToFiles(spark,
          EventStream.recentPatternStream(stream, k = 3).toDF(), tmp)
      }
      stage(Seq((1L, 10L, 5L, "view"), (2L, 20L, 5L, "click")), "w0")
      drain()
      stage(Seq((3L, 30L, 5L, "buy")), "w1")
      val rows = drain().orderBy("event_id")
        .select("event_id", "pattern")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(rows.toSeq == Seq((1L, "_>_>view"), (2L, "_>view>click"),
        (3L, "view>click>buy")),
        s"restart must resume the ListState buffer in order: ${rows.toSeq}")
    }
  }

  test("state schema evolution: a restarted drain widens the state type under Avro encoding") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    // the operational story: a deployed stateful job adds a field to
    // its state class WITHOUT discarding the checkpoint. Avro state
    // encoding admits additive evolution (new nullable field, absent
    // in old rows → None); the default unsaferow encoding would refuse
    // the restart. V1 writes plain counts; V2 (same state variable
    // name, widened type) must read V1's rows — count continuity
    // proves the value survived, lastTs = -1 proves the new field
    // decoded as absent rather than garbage.
    graft.Confs.withConfs(spark, Seq(
      "spark.sql.streaming.stateStore.encodingFormat" -> "avro")) {
    graft.streaming.EventStream.withRocksDBState(spark) {
      val tmp = TempDirs.create("graft_evolve")
      val in = new java.io.File(s"$tmp/in"); in.mkdirs()
      def stage(rows: Seq[(Long, Long, Long)], name: String): Unit =
        stageEventFile(in, tmp, name,
          rows.map { case (id, ts, uid) => (id, ts, uid, "view") })
      def stream() = spark.readStream.schema(EventStream.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$in/*.parquet")
        .as[EventStream.Event]
      stage(Seq((1L, 100L, 5L), (2L, 200L, 5L)), "w0")
      graft.streaming.EventStream.runToFiles(spark,
        stream().groupByKey(_.user_id)
          .transformWithState(new SchemaEvolutionFixtures.CountProcV1,
            TimeMode.None(), OM.Append()).toDF("event_id", "n", "prev_ts"), tmp)
      stage(Seq((3L, 300L, 5L), (4L, 400L, 5L)), "w1")
      val rows = graft.streaming.EventStream.runToFiles(spark,
        stream().groupByKey(_.user_id)
          .transformWithState(new SchemaEvolutionFixtures.CountProcV2,
            TimeMode.None(), OM.Append()).toDF("event_id", "n", "prev_ts"), tmp)
        .orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // event 3: count continues at 3 (V1 state readable), the new
      // field reads as absent (-1), not garbage; event 4: V2 state
      // round-trips fully
      assert(rows.toSeq == Seq((1L, 1L, -2L), (2L, 2L, -2L),
        (3L, 3L, -1L), (4L, 4L, 300L)),
        s"evolved state must read V1 rows with the new field absent: ${rows.toSeq}")
    }
    }
  }

  test("statestore time travel: batchId reads the state as of an interior micro-batch") {
    import spark.implicits._
    // point-in-time state forensics — the batchId option reconstructs
    // the store as of an EARLIER committed batch, so an on-call
    // engineer can bisect WHEN a key's state went wrong without
    // replaying the query. Certified against the known per-batch
    // session growth: after batch b, user 5's open session has seen
    // exactly b+1 events; and the armed timer read at an interior
    // batch must sit at that batch's deadline, not the final one.
    graft.Confs.withConfs(spark, Seq(
      // snapshot-anchored reads below replay CHANGELOG files forward
      // from an uploaded snapshot — they exist only under changelog
      // checkpointing (without it every commit IS a full snapshot and
      // only the plain batchId path applies)
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true")) {
    graft.streaming.EventStream.withRocksDBState(spark) {
      val H = 3600L * 1000000L
      val tmp = TempDirs.create("graft_statett")
      val in = new java.io.File(s"$tmp/in"); in.mkdirs()
      def stage(rows: Seq[(Long, Long, Long)], name: String): Unit =
        stageEventFile(in, tmp, name,
          rows.map { case (id, ts, uid) => (id, ts, uid, "view") })
      // user 5's session grows by one event per batch, then the pusher
      // fires its timer (the state delete) in the last batch
      stage(Seq((1L, H, 5L)), "w0")
      stage(Seq((2L, 2L * H, 5L)), "w1")
      stage(Seq((3L, 3L * H, 5L)), "w2")
      stage(Seq((4L, 50L * H, -1L)), "w3")
      val stream = spark.readStream.schema(EventStream.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$in/*.parquet")
        .as[EventStream.Event]
      graft.streaming.EventStream.runToFiles(spark,
        EventStream.timerSessionStream(stream, H).toDF(), tmp)
      def stateAt(b: Int): Map[Long, Long] =
        spark.read.format("statestore")
          .option("path", s"$tmp/ckpt")
          .option("stateVarName", "sess")
          .option("batchId", b.toString)
          .load()
          .select(col("key.value").as("u"), col("value._2").as("n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      (0 to 2).foreach { b =>
        assert(stateAt(b).get(5L).contains(b + 1L),
          s"as of batch $b user 5's session must hold ${b + 1} events: ${stateAt(b)}")
      }
      // batch 3 ran with the start-of-batch watermark (data through
      // batch 2 = 3H, below user 5's 4H deadline), so its state still
      // holds the session; the timer fires in the trailing no-data
      // batch 4 once the watermark commits at 50H — the final state
      // holds only the pusher's own open session
      assert(stateAt(3).get(5L).contains(3L),
        s"as of batch 3 the timer has not fired yet: ${stateAt(3)}")
      assert(stateAt(4).get(5L).isEmpty && stateAt(4).contains(-1L),
        s"final state must hold only the pusher's session: ${stateAt(4)}")
      // interior armed-timer readback: after batch 1 the one live
      // timer sits at user 5's batch-1 deadline, (2H + gap)/1000 + 1
      val timers = spark.read.format("statestore")
        .option("path", s"$tmp/ckpt")
        .option("readRegisteredTimers", "true")
        .option("batchId", "1")
        .load()
        .select(col("key.value").as("u"),
          col("expiration_timestamp_ms").as("ms"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(timers == Seq((5L, (2L * H + H) / 1000L + 1L)),
        s"interior timer must sit at the batch-1 deadline: $timers")
      // snapshot-anchored reconstruction: snapshotStartBatchId +
      // snapshotPartitionId rebuild ONE partition's state from a
      // specific uploaded snapshot forward through the changelogs (the
      // deep-forensics path for a corrupted-lineage suspicion — pin
      // the anchor, replay the writes, see where the key diverges).
      // Batch 0's snapshot is the bootstrap upload, so it is always a
      // valid anchor; the reconstruction must agree with the plain
      // batchId read on user 5's partition.
      val part5 = spark.read.format("statestore")
        .option("path", s"$tmp/ckpt")
        .option("stateVarName", "sess")
        .option("batchId", "2")
        .load()
        .filter(col("key.value") === 5L)
        .select(col("partition_id")).head().getInt(0)
      val snap = spark.read.format("statestore")
        .option("path", s"$tmp/ckpt")
        .option("stateVarName", "sess")
        .option("batchId", "2")
        .option("snapshotStartBatchId", "0")
        .option("snapshotPartitionId", part5.toString)
        .load()
        .select(col("key.value").as("u"), col("value._2").as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(snap.get(5L).contains(3L),
        s"snapshot-anchored replay must rebuild user 5's batch-2 state: $snap")
    }
    }
  }

  test("TTL state: the event-time prune bounds state across a 100-day feed") {
    implicit val sqlCtx = spark.sqlContext
    // ProcessingTime mode + default trigger re-fires no-data batches
    // continuously to advance the TTL clock — processAllAvailable never
    // settles under it. TTL read-filtering doesn't need them (expiry is
    // checked against the batch timestamp on get), so switch them off
    // for the memory-sink drain, like runToMemory does.
    graft.Confs.withConfs(spark, Seq(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")) {
    graft.streaming.EventStream.withRocksDBState(spark) {
      val D = EventStream.DayMicros
      val mem = MemoryStream[EventStream.Event]
      val q = EventStream.recentActivityStream(mem.toDS(), nDays = 7,
          org.apache.spark.sql.streaming.TTLConfig(
            java.time.Duration.ofHours(24)))
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("t_ttl_bound").start()
      try {
        // one event per day for 100 days, delivered in 4 batches: the
        // MapState must never retain more than 7 day-entries no matter
        // how long the feed runs
        (0 until 100).grouped(25).foreach { days =>
          mem.addData(days.map(i =>
            EventStream.Event(i.toLong, i * D + 1000L, 5L, "view", 0.0, "")): _*)
          q.processAllAvailable()
        }
        val rows = spark.table("t_ttl_bound")
          .select("event_id", "n_recent", "n_state_days")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        assert(rows.length == 100)
        assert(rows.forall(_._3 <= 7),
          s"state must stay bounded at nDays entries: ${rows.filter(_._3 > 7).take(5).toSeq}")
        // one event per day → trailing-7-day count saturates at 7
        assert(rows.map(_._2).toSeq == (0 until 100).map(i => math.min(i + 1, 7).toLong),
          "trailing counts wrong")
      } finally q.stop()
    }
    }
  }

  test("TTL state: an undersized TTL visibly resets a silent-too-long user") {
    // the deployment contract made loud: ttl SHORTER than the user's
    // silence means the store reclaims the entries, and the returning
    // user restarts from zero — demonstrating the eviction is real,
    // not a config no-op
    implicit val sqlCtx = spark.sqlContext
    graft.Confs.withConfs(spark, Seq(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")) {
    graft.streaming.EventStream.withRocksDBState(spark) {
      val mem = MemoryStream[EventStream.Event]
      val q = EventStream.recentActivityStream(mem.toDS(), nDays = 7,
          org.apache.spark.sql.streaming.TTLConfig(
            java.time.Duration.ofSeconds(1)))
        .writeStream.outputMode(OutputMode.Append).format("memory")
        .queryName("t_ttl_reset").start()
      try {
        mem.addData(
          EventStream.Event(1L, 1000L, 5L, "view", 0.0, ""),
          EventStream.Event(2L, 2000L, 5L, "view", 0.0, ""))
        q.processAllAvailable()
        Thread.sleep(2500) // wall-clock past the 1 s TTL
        mem.addData(EventStream.Event(3L, 3000L, 5L, "view", 0.0, ""))
        q.processAllAvailable()
        val rows = spark.table("t_ttl_reset")
          .select("event_id", "n_recent")
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        assert(rows.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 1L)),
          s"expired entries must not count (event 3 restarts at 1): ${rows.toSeq}")
      } finally q.stop()
    }
    }
  }

  test("salted stream-static join: a hot key spreads across salt groups, semantics unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // pathological feed: 4000 rows, ALL on customer 7 — unsalted, every
    // row shuffles to ONE (custkey) reducer each micro-batch
    val hot = (0 until 4000).map(i => (7L, i.toLong))
    val dim = Seq((7L, 70L), (8L, 80L)).toDF("k", "v")
    val mem = MemoryStream[(Long, Long)]
    val q = graft.ops.ScaleJoins
      .saltedJoin(mem.toDF().toDF("k", "seq"), dim, "k", 8, col("seq"))
      .writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("t_salted").start()
    try {
      hot.grouped(1000).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      val got = spark.table("t_salted")
      // inner-join semantics identical to the unsalted join
      assert(got.count() == 4000, "every hot row must join exactly once")
      assert(got.select(countDistinct(col("seq"))).head().getLong(0) == 4000)
      assert(got.select("v").distinct().collect().map(_.getLong(0)).toSeq == Seq(70L))
    } finally q.stop()
    // the spread bound: the shuffle key is (k, __salt), so per-task
    // input under hash partitioning is the (k, salt) group size — the
    // hot key's 4000 rows must land in all 8 salt groups, none holding
    // more than 2x its fair share
    val spread = Seq.tabulate(4000)(i => (7L, i.toLong)).toDF("k", "seq")
      .withColumn("__salt", pmod(xxhash64(col("seq")), lit(8)).cast("int"))
      .groupBy(col("k"), col("__salt")).count()
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(spread.length == 8, s"hot key must reach all 8 salt groups: $spread")
    assert(spread.map(_._2).max <= 2L * 4000 / 8,
      s"no salt group may hold past 2x fair share: ${spread.toSeq}")
  }

  test("statestore reader: drained sink plus in-flight state reconstruct every session") {
    import spark.implicits._
    graft.streaming.EventStream.withRocksDBState(spark) {
      val H = 3600L * 1000000L
      val tmp = TempDirs.create("graft_stateread")
      val in = new java.io.File(s"$tmp/in"); in.mkdirs()
      Seq(
        (1L, H, 5L), (2L, 2L * H, 5L),      // user 5 session 1 (will close)
        (3L, 10L * H, 5L),                  // user 5 session 2 (stays open)
        (4L, 9L * H, 9L))                   // user 9 session 1 (stays open)
        .map { case (id, ts, uid) => (id, ts, uid, "view", 0.0, "") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$in/w0")
      val stream = spark.readStream.schema(EventStream.schema)
        .parquet(s"$in/w0/part-*")
        .as[EventStream.Event]
      val drained = graft.streaming.EventStream.runToFiles(spark,
        EventStream.timerSessionStream(stream, H).toDF(), tmp)
      // session 1 closed by the event path (gap 8H > 1H); sessions 2
      // and 9/1 still open — they must be IN THE STORE, readable
      // without replaying the stream
      val state = spark.read.format("statestore")
        .option("path", s"$tmp/ckpt")
        .option("stateVarName", "sess")
        .load()
      val open = state.select(
        col("key.value").as("user_id"),
        col("value._1").as("anchor_ts"),
        col("value._2").as("n_events"),
        col("value._3").as("last_ts"))
      val all = drained.select("user_id", "anchor_ts", "n_events", "last_ts")
        .unionByName(open)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq.sorted
      assert(all == Seq(
        (5L, H, 2L, 2L * H), (5L, 10L * H, 1L, 10L * H),
        (9L, 9L * H, 1L, 9L * H)),
        s"sink + state must reconstruct every session: $all")
      // the armed TIMERS are readable too — and every open session's
      // timer must sit exactly at its documented deadline,
      // (last_ts + gap)/1000 + 1 ms
      val timers = spark.read.format("statestore")
        .option("path", s"$tmp/ckpt")
        .option("readRegisteredTimers", "true")
        .load()
        .select(col("key.value").as("user_id"),
          col("expiration_timestamp_ms").as("timer_ms"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(timers == Seq(
        (5L, (10L * H + H) / 1000L + 1L), (9L, (9L * H + H) / 1000L + 1L)),
        s"armed timers must match the open sessions' deadlines: $timers")
      // the checkpoint's operator inventory is discoverable too — the
      // first thing an on-call engineer lists before probing state
      val meta = spark.read.format("state-metadata").load(s"$tmp/ckpt")
        .select("operatorName").collect().map(_.getString(0)).toSeq
      assert(meta.exists(_.toLowerCase.contains("transformwithstate")),
        s"state-metadata must name the stateful operator: $meta")
    }
  }

  test("statestore change feed: the changelog replays the session's life, fold equals snapshot") {
    import spark.implicits._
    // completes the state-reader surface (snapshot + timers + metadata
    // + CDC): with RocksDB changelog checkpointing on, the statestore
    // source replays per-batch state CHANGES — the audit trail of what
    // the operator did, readable without replaying the query. The
    // invariant: folding the changelog (last change per key wins;
    // delete clears) reproduces the final snapshot.
    graft.Confs.withConfs(spark, Seq(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true")) {
    graft.streaming.EventStream.withRocksDBState(spark) {
      val H = 3600L * 1000000L
      val tmp = TempDirs.create("graft_statecdc")
      val in = new java.io.File(s"$tmp/in"); in.mkdirs()
      def stage(rows: Seq[(Long, Long, Long)], name: String): Unit = {
        val sd = s"$tmp/stage_$name"
        rows.map { case (id, ts, uid) => (id, ts, uid, "view", 0.0, "") }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(sd)
        val part = new java.io.File(sd).listFiles()
          .filter(_.getName.startsWith("part-")).head
        java.nio.file.Files.move(part.toPath,
          new java.io.File(in, s"$name.parquet").toPath)
      }
      // one drain, 4 micro-batches: user 5's session grows (updates),
      // then the pushers fire its timer (flush -> state DELETE)
      stage(Seq((1L, H, 5L)), "w0")
      stage(Seq((2L, 2L * H, 5L)), "w1")
      stage(Seq((3L, 50L * H, -1L)), "w2")
      stage(Seq((4L, 51L * H, -1L)), "w3")
      val stream = spark.readStream.schema(EventStream.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$in/*.parquet")
        .as[EventStream.Event]
      graft.streaming.EventStream.runToFiles(spark,
        EventStream.timerSessionStream(stream, H).toDF(), tmp)
      val changes = spark.read.format("statestore")
        .option("path", s"$tmp/ckpt")
        .option("stateVarName", "sess")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", "0")
        .load()
        .select(col("batch_id"), col("change_type"),
          col("key.value").as("user_id"), col("value._2").as("n_events"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
        .toSeq.sortBy(t => (t._1, t._3))
      val u5 = changes.filter(_._3 == 5L)
      // growth then clear: n=1, n=2, then the timer's delete
      assert(u5.map(c => (c._2, c._4)).containsSlice(
        Seq(("update", 1L), ("update", 2L))) &&
        u5.last._2 == "delete",
        s"user 5's changelog must show growth then the timer's clear: $u5")
      // fold == snapshot: last change per key (delete removes) must
      // equal the snapshot read
      val folded = changes.groupBy(_._3).flatMap { case (uid, cs) =>
        val last = cs.maxBy(_._1)
        if (last._2 == "delete") None else Some(uid -> last._4)
      }.toMap
      val snap = spark.read.format("statestore")
        .option("path", s"$tmp/ckpt")
        .option("stateVarName", "sess")
        .load()
        .select(col("key.value").as("user_id"), col("value._2").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(folded == snap,
        s"changelog fold $folded must equal the snapshot $snap")
    }
    }
  }

  test("watermarked coverage: folds in-slack disorder exactly, throws past the slack") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.IntervalCoverage
    import graft.streaming.IntervalCoverage.Iv
    // happy path: arrival order (10,12), (8,9), (14,15) violates lo
    // order (the strict fold's guard would throw) but stays inside
    // slack 3; the drained summary must equal the ordered sweep
    val mem = MemoryStream[Iv]
    val q = IntervalCoverage.coverageStreamWatermarked(mem.toDS(), 3L)
      .writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("t_cov_wm").start()
    try {
      mem.addData(Iv(1L, 10L, 12L), Iv(1L, 8L, 9L))
      q.processAllAvailable()
      mem.addData(Iv(1L, 14L, 15L))
      q.processAllAvailable()
      mem.addData(Iv(1L, Long.MaxValue, Long.MaxValue))
      q.processAllAvailable()
      val rows = spark.table("t_cov_wm")
        .select("s_suppkey", "covered_days", "n_islands", "max_span")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      // islands: 8..9 (2) + 10..12 (3) + 14..15 (2)
      assert(rows.toSeq == Seq((1L, 7L, 3L, 3L)),
        s"bounded-disorder sweep wrong: ${rows.toSeq}")
    } finally q.stop()
    // guard path: disorder PAST the slack throws loudly instead of
    // silently merging islands
    val mem2 = MemoryStream[Iv]
    val q2 = IntervalCoverage.coverageStreamWatermarked(mem2.toDS(), 3L)
      .writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName("t_cov_wm2").start()
    try {
      mem2.addData(Iv(2L, 10L, 12L))
      q2.processAllAvailable()
      mem2.addData(Iv(2L, 20L, 22L)) // folds everything below 17
      q2.processAllAvailable()
      mem2.addData(Iv(2L, 9L, 30L)) // 9 < frontier 17: contract broken
      val ex = intercept[Exception] { q2.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).toSeq
      assert(chain(ex).exists(m => m != null && m.contains("slack horizon")),
        s"expected the slack-horizon guard, got: ${chain(ex)}")
    } finally q2.stop()
  }

  test("streaming z-score: a restarted drain resumes per-user windows from the state store") {
    import spark.implicits._
    // the memory-stream test proves cross-BATCH state; this proves
    // cross-RESTART state: drain wave 1 (exactly the 5 warm-up values),
    // stop, stage wave 2, drain again on the SAME checkpoint — wave 2's
    // first event can only score scored=1/anom=1 if the 5-value window
    // was restored from the state store, not recomputed
    val tmp = TempDirs.create("graft_zsrestart")
    val in = new java.io.File(s"$tmp/in"); in.mkdirs()
    def stage(rows: Seq[(Long, Long, Long, String, Double, String)],
              name: String): Unit = {
      val sd = s"$tmp/stage_$name"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(sd)
      val part = new java.io.File(sd).listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(in, s"$name.parquet").toPath)
    }
    def drain(): org.apache.spark.sql.DataFrame = {
      val stream = spark.readStream.schema(graft.streaming.EventStream.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$in/*.parquet")
        .as[graft.streaming.EventStream.Event]
      graft.streaming.EventStream.runToFiles(spark,
        graft.streaming.EventStream.zscoreStream(stream).toDF(), tmp)
    }
    stage((1L to 5L).map(i => (i, i * 1000L, 7L, "view", 1.0, "")), "w0")
    drain()
    stage(Seq((6L, 6000L, 7L, "view", 5.0, ""),
      (7L, 7000L, 7L, "view", 1.0, ""),
      (8L, 1000L, 9L, "view", 3.0, "")), "w1") // fresh key starts clean
    val rows = drain().orderBy("event_id")
      .select("event_id", "user_id", "scored", "anom")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(rows.toSeq == Seq(
      (1L, 7L, 0, 0), (2L, 7L, 0, 0), (3L, 7L, 0, 0), (4L, 7L, 0, 0),
      (5L, 7L, 0, 0),
      (6L, 7L, 1, 1), // scored against the RESTORED 5-value window
      (7L, 7L, 1, 0),
      (8L, 9L, 0, 0)), // new user after restart: warm-up, no stale state
      s"restart-continued z-score verdicts wrong: ${rows.toSeq}")
  }

  test("streaming LOCF fails loudly on out-of-order hourly arrival") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Hourly]
    val q = EventStream.locfStream(mem.toDS()).writeStream
      .outputMode(OutputMode.Append).format("memory").queryName("t_locf_ooo").start()
    try {
      mem.addData(EventStream.Hourly(1L, 10L, 1L, 5.0))
      q.processAllAvailable()
      mem.addData(EventStream.Hourly(1L, 9L, 1L, 4.0)) // regressed hour
      val ex = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: chain(t.getCause)
      assert(chain(ex).exists(m => m != null && m.contains("out-of-order")),
        s"expected the loud ordering diagnostic, got: ${chain(ex)}")
    } finally q.stop()
  }

  test("StreamingQueryListener lifecycle telemetry matches the drain (st64's ops complement)") {
    // st64 certifies IN-query observe() metrics; the listener is the
    // ops surface OUTSIDE the query — start/progress/termination events
    // a production deployment wires to its monitoring. Events aren't
    // row-hashable, so the contract lives here: one started + one
    // clean terminated event for the query id, and the per-batch
    // progress rows (deduped by batchId, same as st64's fold) must
    // account for exactly the corpus — 3 data batches at
    // maxFilesPerTrigger=1, numInputRows summing to the tile total.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val started = new java.util.concurrent.ConcurrentLinkedQueue[QueryStartedEvent]
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[QueryProgressEvent]
    val terminated = new java.util.concurrent.ConcurrentLinkedQueue[QueryTerminatedEvent]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e)
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.add(e)
    }
    spark.streams.addListener(listener)
    try {
      val inDir = graft.queries.StreamMediaQueries.ensureGateStream(spark, sf).dir
      val total = spark.read.parquet(inDir).count()
      val sch = spark.read.parquet(inDir).schema
      val out = graft.TempDirs.create("graft_listener")
      val q = graft.Confs.withConfs(spark, Seq(
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")) {
        val q = spark.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$inDir/part-*")
          .select(col("l_orderkey"), col("l_quantity"))
          .writeStream
          .outputMode(OutputMode.Append).format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q
      }
      // the listener bus is async — the query can finish before its
      // terminated event is delivered; poll, don't assume
      val deadline = System.currentTimeMillis + 30000
      while (!terminated.asScala.exists(_.id == q.id) &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(started.asScala.count(_.id == q.id) == 1,
        "exactly one started event for this query")
      val term = terminated.asScala.filter(_.id == q.id).toSeq
      assert(term.size == 1 && term.head.exception.isEmpty,
        s"exactly one clean termination, got $term")
      val perBatch = progress.asScala.filter(_.progress.id == q.id)
        .map(e => e.progress.batchId -> e.progress.numInputRows)
        .toMap // dedupe re-reported batches, last wins (the st64 fold)
      assert(perBatch.count(_._2 > 0) == 3,
        s"3 tiles at maxFilesPerTrigger=1 must report as 3 data batches: $perBatch")
      assert(perBatch.values.sum == total,
        s"listener rows ${perBatch.values.sum} != corpus $total")
    } finally spark.streams.removeListener(listener)
  }

  test("st72 union of streams: min-over-inputs watermark protects the lagging feed") {
    // the fixture is asymmetric on purpose — the backfill feed's clock
    // jumps to the global max in its first batch while the tiled feed
    // is two tiles behind. Under the default min policy every event is
    // accounted for; under policy=max the tiled feed's later tiles
    // land below the jumped watermark and are dropped as late — the
    // row loss this test pins is WHY min is the only correct policy.
    val (even, odd) =
      graft.queries.StreamMediaQueries.ensureUnionFeeds(spark, sf)
    def drained(policy: String): Long = {
      val out = graft.TempDirs.create(s"graft_st72spec_$policy")
      def feed(dir: String) = spark.readStream.schema(EventStream.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/*.parquet")
        .withColumn("event_time", Tables.eventTime(col("ts")))
        .withWatermark("event_time", "1 hour")
      val rolled = feed(even.dir).unionByName(feed(odd.dir))
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      graft.Confs.withConfs(spark, Seq(
        "spark.sql.streaming.multipleWatermarkPolicy" -> policy)) {
        EventStream.runToFiles(spark, rolled, out)
      }.filter(col("event_type") =!= "flush")
        .agg(coalesce(sum(col("n")), lit(0L))).collect()(0).getLong(0)
    }
    val total = Tables.load(spark, sf, "events").count()
    assert(drained("min") == total,
      "min policy must account for every event from both feeds")
    val underMax = drained("max")
    assert(underMax < total,
      s"max policy should drop the lagging feed's late tiles " +
        s"(got $underMax of $total) — if equal, the fixture lost its asymmetry")
  }

  test("rate-source restart replays the crashed batch from its WAL offsets") {
    val tmp = TempDirs.create("graft_ratelog")
    graft.streaming.RateLog.drainUntil(spark, s"$tmp/data", s"$tmp/ckpt",
      rowsPerBatch = 100, crashAt = 2)
    // the offset contract's crash anatomy: batch 2's offsets are
    // ALREADY in the WAL (written before the batch executed), its
    // commit marker and sink output are not
    val off2 = java.nio.file.Paths.get(s"$tmp/ckpt/offsets/2")
    assert(java.nio.file.Files.exists(off2),
      "offsets/2 must be WAL'd before the batch runs")
    assert(!new java.io.File(s"$tmp/ckpt/commits/2").exists(),
      "the crashed batch must not have committed")
    assert(!new java.io.File(s"$tmp/data/b2").exists(),
      "the crash fires before the sink write")
    val walBytes = java.nio.file.Files.readAllBytes(off2)
    // restart over the same checkpoint: batch 2 replays from exactly
    // that WAL entry, then fresh batches continue
    graft.streaming.RateLog.drainUntil(spark, s"$tmp/data", s"$tmp/ckpt",
      rowsPerBatch = 100, crashAt = 4)
    assert(java.util.Arrays.equals(walBytes,
        java.nio.file.Files.readAllBytes(off2)),
      "the restart must consume offsets/2 as written, not rewrite it")
    val b2 = spark.read.parquet(s"$tmp/data/b2").select("value")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(b2 == (200L until 300L),
      s"replayed batch must be its offset range [200,300): $b2")
    // the whole log: batches 0..3 committed, gapless, duplicate-free
    val all = graft.streaming.RateLog.readLog(spark, s"$tmp/data")
    assert(all.count() == 400 &&
      all.select("value").distinct().count() == 400)
    assert(new java.io.File(s"$tmp/ckpt/commits/3").exists(),
      "the resumed run must commit through batch 3")
  }
}
