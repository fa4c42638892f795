package graft

import org.apache.spark.sql.functions._

import graft.streaming.DedupStore

/** The store's consumer-side read surface: bucket-pruned point lookup,
  * the cursor-pruned change feed, and the erasure (tombstone) feed.
  * The load-bearing claims: lookups and change reads touch a strict
  * SUBSET of the store's files (∝ probed buckets / rewritten buckets,
  * never the store), the feed provably carries every changed text, and
  * purges propagate downstream through the same two feeds. */
class DedupStoreReadSpec extends SparkSpec {
  import spark.implicits._

  private val SinkFormat = "graft.sources.DedupStoreSink"

  /** A store built from two batch deliveries; returns (storeDir, the
    * cursor between them). Delivery 1: texts a0..a19 (ids 0..19, each
    * text twice via id+100). Delivery 2: one NEW text plus a duplicate
    * of a0 (so one delivery-1 text changes its count). */
  private def twoDeliveryStore(): (String, String) = {
    val tmp = TempDirs.create("graft_rdspec")
    val store = s"$tmp/store"
    val d1 = (0 until 20).flatMap(i =>
      Seq((i.toLong, s"rd text $i"), (i + 100L, s"rd text $i")))
      .toDF("doc_id", "text")
    d1.write.format(SinkFormat).option("path", store)
      .option("nBuckets", "8").mode("append").save()
    val cursor = DedupStore.currentVersion(store).get
    Seq((200L, "rd fresh"), (201L, "rd text 0"))
      .toDF("doc_id", "text")
      .write.format(SinkFormat).option("path", store).mode("append").save()
    (store, cursor)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    df.collect().map(r => (r.getAs[String]("text"),
      r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSet

  private def bucketOf(text: String, nBuckets: Int): Int =
    Seq(text).toDF("t")
      .select(pmod(xxhash64(col("t")), lit(nBuckets.toLong)).cast("int"))
      .head.getInt(0)

  test("lookup reads only the probed buckets and equals the filtered read") {
    val (store, _) = twoDeliveryStore()
    val probes = Seq("rd text 3", "rd text 7")
    val allFiles = DedupStore.manifestEntries(store,
      DedupStore.latest(store).get).map(_._2.toString).toSet
    val probed = DedupStore.lookupFiles(spark, store, probes).toSet
    assert(probed.nonEmpty && probed.subsetOf(allFiles) && probed != allFiles,
      s"lookup must read a strict file subset: $probed of ${allFiles.size}")
    assert(rows(DedupStore.lookup(spark, store, probes)) ==
      rows(DedupStore.read(spark, store)
        .filter(col("text").isin(probes: _*))))
    assert(rows(DedupStore.lookup(spark, store, probes)) ==
      Set(("rd text 3", 3L, 2L), ("rd text 7", 7L, 2L)))
  }

  test("lookup: absent texts and an empty probe list read as empty") {
    val (store, _) = twoDeliveryStore()
    assert(DedupStore.lookup(spark, store, Seq("rd nowhere")).isEmpty)
    assert(DedupStore.lookup(spark, store, Seq.empty).isEmpty)
    // an uncommitted store reads as empty too, not as a crash
    val empty = TempDirs.create("graft_rde")
    assert(DedupStore.lookup(spark, empty, Seq("x")).isEmpty)
  }

  test("changedSince excludes carried-forward buckets and carries every changed text") {
    val (store, cursor) = twoDeliveryStore()
    val allFiles = DedupStore.manifestEntries(store,
      DedupStore.latest(store).get).map(_._2.toString).toSet
    val changed = DedupStore.changedFiles(store, cursor).toSet
    assert(changed.nonEmpty && changed.subsetOf(allFiles) && changed != allFiles,
      s"delivery 2 touched ≤2 of 8 buckets, so the feed must read a " +
        s"strict subset: ${changed.size} of ${allFiles.size}")
    val feed = rows(DedupStore.changedSince(spark, store, cursor))
    // every changed text appears with its POST-merge values…
    assert(feed.contains(("rd fresh", 200L, 1L)))
    assert(feed.contains(("rd text 0", 0L, 3L)))
    // …the feed is a subset of the current state (upserts, not history)…
    assert(feed.subsetOf(rows(DedupStore.read(spark, store))))
    // …and only rewritten buckets' rows are in it
    val changedBuckets =
      Set(bucketOf("rd fresh", 8), bucketOf("rd text 0", 8))
    assert(feed.forall { case (t, _, _) => changedBuckets.contains(bucketOf(t, 8)) })
    // a consumer already at the head sees an empty feed
    val head = DedupStore.currentVersion(store).get
    assert(DedupStore.changedSince(spark, store, head).isEmpty)
  }

  test("snapshot export: immutable under store mutation, stamped, and re-export honors a purge") {
    val (store, _) = twoDeliveryStore()
    val tmp = TempDirs.create("graft_snap")
    val v1 = DedupStore.exportSnapshot(spark, store, s"$tmp/snap1")
    assert(DedupStore.snapshotSourceVersion(s"$tmp/snap1").contains(v1))
    assert(DedupStore.snapshotSourceVersion(store).isEmpty,
      "a store dir is not a snapshot")
    val snap1 = rows(spark.read.parquet(s"$tmp/snap1"))
    assert(snap1 == rows(DedupStore.read(spark, store)))
    // exports are immutable: refuse to overwrite an existing one
    intercept[IllegalArgumentException] {
      DedupStore.exportSnapshot(spark, store, s"$tmp/snap1")
    }
    // the live store mutates (a takedown purge); the PUBLISHED export
    // must not move under a reader — which is exactly why the scaladoc
    // declares exports outside the erasure boundary
    DedupStore.purge(spark, store, Seq("rd text 0"))
    assert(rows(spark.read.parquet(s"$tmp/snap1")) == snap1,
      "a published export changed under its readers")
    assert(rows(DedupStore.read(spark, store))
      .forall(_._1 != "rd text 0"), "purge missed the store")
    // the compliance half: a RE-export after the purge is clean, and
    // its stamp names the purge's newer version
    val v2 = DedupStore.exportSnapshot(spark, store, s"$tmp/snap2")
    val snap2 = rows(spark.read.parquet(s"$tmp/snap2"))
    assert(snap2.forall(_._1 != "rd text 0"),
      "re-export resurrected a purged text")
    assert(v2 != v1 &&
      DedupStore.snapshotSourceVersion(s"$tmp/snap2").contains(v2))
    assert(snap2 == rows(DedupStore.read(spark, store)))
  }

  test("a purge propagates downstream through the change + tombstone feeds") {
    val (store, _) = twoDeliveryStore()
    val cursor = DedupStore.currentVersion(store).get
    DedupStore.purge(spark, store, Seq("rd text 5"))
    val feed = rows(DedupStore.changedSince(spark, store, cursor))
    // the victim's bucket was rewritten: its surviving bucket-mates
    // re-emit (idempotent upserts), the victim itself never appears
    assert(!feed.exists(_._1 == "rd text 5"))
    val survivors = rows(DedupStore.read(spark, store))
      .filter { case (t, _, _) => bucketOf(t, 8) == bucketOf("rd text 5", 8) }
    assert(feed == survivors,
      "the feed after a purge must re-emit exactly the rewritten bucket")
    // the erasure feed names the victim by hash — never by content
    val victimHash = Seq("rd text 5").toDF("t")
      .select(xxhash64(col("t"))).head.getLong(0)
    val tombs = DedupStore.tombstones(spark, store)
      .collect().map(_.getLong(0)).toSet
    assert(tombs == Set(victimHash))
  }

  test("a re-purged text's second fold restarts its feed retention window") {
    // purge → fold → legitimate re-ingestion → purge AGAIN: the second
    // erasure is new; if consolidation kept the FIRST fold's timestamp,
    // the re-fold could age out inside the documented lag bound and a
    // compliant consumer would silently keep the re-purged text
    val (store, _) = twoDeliveryStore()
    import spark.implicits._
    DedupStore.purge(spark, store, Seq("rd text 4"))
    assert(DedupStore.compactTombstones(spark, store) == ((0, 1)))
    val (fs, root) = DedupStore.fsRoot(store)
    val ts1 = DedupStore.feedEntries(fs, root).toMap
      .values.head
    Thread.sleep(5)
    // suppression ended with the fold — the text legitimately returns…
    Seq((500L, "rd text 4")).toDF("doc_id", "text")
      .write.format(SinkFormat).option("path", store).mode("append").save()
    // …and is purged again; the new fold must carry a FRESH timestamp
    DedupStore.purge(spark, store, Seq("rd text 4"))
    assert(DedupStore.compactTombstones(spark, store) == ((0, 1)))
    val ts2 = DedupStore.feedEntries(fs, root).toMap.values.head
    assert(ts2 > ts1,
      s"re-fold must restart the retention clock ($ts1 -> $ts2)")
  }

  test("folded-delete feed honors its retention window") {
    // the documented lag bound: a folded erasure stays deliverable for
    // feedRetentionMs and then ages out — consumers lagging past the
    // window recover by full resync, not by an ever-growing feed
    val (store, _) = twoDeliveryStore()
    DedupStore.purge(spark, store, Seq("rd text 11"))
    val victimHash = Seq("rd text 11").toDF("t")
      .select(xxhash64(col("t"))).head.getLong(0)
    // fold (victim physically erased by the purge) — default retention
    // keeps the delete in the feed
    val (k1, f1) = DedupStore.compactTombstones(spark, store)
    assert((k1, f1) == (0, 1))
    assert(DedupStore.tombstones(spark, store)
      .collect().map(_.getLong(0)).toSet == Set(victimHash),
      "inside retention the folded delete must stay deliverable")
    // a later compaction past the window expires it
    val (k2, f2) = DedupStore.compactTombstones(spark, store,
      feedRetentionMs = -1L)
    assert((k2, f2) == (0, 0), "nothing live to fold on the second pass")
    assert(DedupStore.tombstones(spark, store).isEmpty,
      "past retention the feed must be empty")
  }

  test("a foreign parquet layout opens with one loud schema report, not a plan error") {
    // the Fixtures.guard discipline applied to the engine's own
    // artifacts: a committed-looking version whose data is not store
    // parquet (restored from the wrong backup, pointed at the wrong
    // path) must fail at open with observed-vs-expected, not as a
    // column-resolution error mid-plan
    import spark.implicits._
    val tmp = TempDirs.create("graft_rdforeign")
    val store = s"$tmp/store"
    Seq((1, "x")).toDF("a", "b").coalesce(1)
      .write.parquet(s"$store/v0/bucket=0")
    val part = new java.io.File(s"$store/v0/bucket=0").listFiles()
      .map(_.getName).find(_.endsWith(".parquet")).get
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$store/_LAYOUT"), "1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$store/v0/_MANIFEST"), s"0\tv0/bucket=0/$part\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$store/v0/_SUCCESS"), "")
    val e = intercept[IllegalStateException] {
      DedupStore.read(spark, store).collect()
    }
    assert(e.getMessage.contains("lacks column(s)") &&
      e.getMessage.contains("not a readable dedup store"), e.getMessage)
  }

  test("a cursor that is not a version name is refused loudly") {
    val (store, _) = twoDeliveryStore()
    val e = intercept[IllegalArgumentException] {
      DedupStore.changedFiles(store, "not-a-version")
    }
    assert(e.getMessage.contains("currentVersion"))
  }

  private val ChangesFormat = "graft.sources.DedupStoreChanges"

  test("DSv2 change source: batch read equals changedSince; deletes carry purge hashes") {
    val (store, cursor) = twoDeliveryStore()
    DedupStore.purge(spark, store, Seq("rd text 5"))
    val feed = spark.read.format(ChangesFormat)
      .option("path", store).option("since", cursor).load()
    val ups = feed.filter(col("op") === "upsert")
      .select(col("text"), col("keep_id"), col("n_copies"))
    assert(rows(ups) == rows(DedupStore.changedSince(spark, store, cursor)),
      "the DSv2 batch read must equal the changedSince API call exactly")
    // upsert thash matches the engine's xxhash64 keying
    val mism = feed.filter(col("op") === "upsert")
      .filter(col("thash") =!= xxhash64(col("text"))).count()
    assert(mism == 0L, "thash must be xxhash64(text)")
    // tombstones landed AFTER the cursor snapshot → they surface as
    // delete rows; the suppressed victim never surfaces as an upsert
    val dels = feed.filter(col("op") === "delete")
      .select(col("thash")).collect().map(_.getLong(0)).toSet
    val victimHash = Seq("rd text 5").toDF("t")
      .select(xxhash64(col("t"))).head.getLong(0)
    assert(dels.contains(victimHash), s"delete rows $dels miss the victim")
    assert(ups.filter(col("text") === "rd text 5").isEmpty,
      "a tombstoned text must not surface as an upsert")
  }

  test("DSv2 change source: streaming drain resumes from its checkpoint") {
    val (store, cursor) = twoDeliveryStore()
    val tmp = TempDirs.create("graft_cdcsrc")
    // drain 1: delivery-2 changes only
    val q1 = spark.readStream.format(ChangesFormat)
      .option("path", store).option("since", cursor).load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q1.awaitTermination()
    val got1 = rows(spark.read.parquet(s"$tmp/out")
      .filter(col("op") === "upsert")
      .select(col("text"), col("keep_id"), col("n_copies")))
    assert(got1 == rows(DedupStore.changedSince(spark, store, cursor)))
    // a THIRD delivery lands; resuming from the same checkpoint must
    // emit only ITS changes (cursor advanced by the offset log, not the
    // `since` option)
    Seq((300L, "rd third")).toDF("doc_id", "text")
      .write.format(SinkFormat).option("path", store).mode("append").save()
    val q2 = spark.readStream.format(ChangesFormat)
      .option("path", store).option("since", cursor).load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val got2 = rows(spark.read.parquet(s"$tmp/out")
      .filter(col("op") === "upsert")
      .select(col("text"), col("keep_id"), col("n_copies")))
    val delta = got2 -- got1
    assert(delta.exists(_._1 == "rd third"), s"resume missed the new delivery: $delta")
    // bucket-granular: the delta re-emits at most the third delivery's
    // rewritten bucket, never the whole store
    val third = delta.map(_._1)
    assert(third.forall(t => bucketOf(t, 8) == bucketOf("rd third", 8)),
      s"resume re-emitted untouched buckets: $third")
  }

  test("tombstone index stays monotonic across compaction; a checkpointed consumer misses no delete") {
    // The erasure-propagation regression: a consumer checkpoints its
    // tombstone cursor AFTER consuming purge A's t-file, compaction
    // then folds A (victim physically erased) — the old layout emptied
    // the directory, so purge B reused index t0 ≤ the cursor and B's
    // delete was skipped forever. Now compaction burns fresh indices
    // (folded hashes move to a d-file, the _NEXT floor never resets),
    // so B lands ABOVE every consumed index and the resumed drain
    // delivers it — plus A's folded delete re-delivered from the feed
    // (idempotent for a deletes-first consumer).
    val (store, cursor) = twoDeliveryStore()
    val tmp = TempDirs.create("graft_cdcmono")
    def drain(): Unit = {
      val q = spark.readStream.format(ChangesFormat)
        .option("path", store).option("since", cursor).load()
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    DedupStore.purge(spark, store, Seq("rd text 3"))
    drain() // consumer's checkpoint now carries purge A's tomb index
    val (kept, folded) = DedupStore.compactTombstones(spark, store)
    assert(kept == 0 && folded == 1,
      s"the erased victim's tombstone should fold: ($kept, $folded)")
    DedupStore.purge(spark, store, Seq("rd text 9"))
    // purge B's index must exceed every pre-compaction index
    val tNames = new java.io.File(s"$store/_TOMBSTONES").listFiles()
      .filter(_.isFile).map(_.getName).filter(_.matches("t\\d+"))
    assert(tNames.nonEmpty && tNames.forall(_.drop(1).toLong > 0),
      s"purge after compaction reused a consumed index: ${tNames.toSeq}")
    drain() // resume: must deliver purge B's delete
    val hashOf = (t: String) =>
      Seq(t).toDF("t").select(xxhash64(col("t"))).head.getLong(0)
    val dels = spark.read.parquet(s"$tmp/out")
      .filter(col("op") === "delete")
      .select(col("thash")).collect().map(_.getLong(0)).toSet
    assert(dels.contains(hashOf("rd text 9")),
      "the post-compaction purge's delete was skipped — index reuse")
    assert(dels.contains(hashOf("rd text 3")),
      "the folded purge's delete left the feed before retention")
  }

  test("CDC replica consumer: catch-up, purge propagation, and checkpoint-resumed sync") {
    // The full consumer loop over the DSv2 source: a replica seeded at
    // the delivery-one cursor catches up (sync 1), the store then takes
    // a purge AND a fresh delivery, and a SECOND sync from the same
    // checkpoint applies exactly the delta — the victim leaves the
    // replica through the delete axis, the new text arrives through the
    // upsert axis, and the replica equals the store's own read at every
    // step. This is the erasure-propagation path end to end.
    val (store, cursor) = twoDeliveryStore()
    val tmp = TempDirs.create("graft_cdcrep")
    import spark.implicits._
    // stale copy = delivery one's dedup state (texts 0..19, 2 copies)
    graft.streaming.CdcReplica.seed(
      (0 until 20).map(i => (s"rd text $i", i.toLong, 2L))
        .toDF("text", "keep_id", "n_copies"),
      s"$tmp/replica")
    def storeState() = rows(DedupStore.read(spark, store))
    def replicaState() =
      rows(graft.streaming.CdcReplica.read(spark, s"$tmp/replica")
        .select(col("text"), col("keep_id"), col("n_copies")))
    val r1 = rows(graft.streaming.CdcReplica.sync(spark, store, cursor,
      s"$tmp/replica", s"$tmp/ckpt")
      .select(col("text"), col("keep_id"), col("n_copies")))
    assert(r1 == storeState(), "sync 1 must reconstruct the store state")
    // store advances: a takedown and a new delivery
    DedupStore.purge(spark, store, Seq("rd text 5"))
    Seq((400L, "rd after")).toDF("doc_id", "text")
      .write.format(SinkFormat).option("path", store).mode("append").save()
    val r2 = rows(graft.streaming.CdcReplica.sync(spark, store, cursor,
      s"$tmp/replica", s"$tmp/ckpt")
      .select(col("text"), col("keep_id"), col("n_copies")))
    assert(r2 == storeState(),
      "resumed sync must apply exactly the purge + delivery delta")
    assert(!r2.exists(_._1 == "rd text 5"), "purge must propagate as a delete")
    assert(r2.exists(_._1 == "rd after"), "new delivery must arrive as upserts")
    assert(replicaState() == r2, "read() must see the committed sync")
    // replay idempotence: re-applying the LAST batch (as a crash between
    // foreachBatch and the offset commit would) leaves the same state
    val lastId = new java.io.File(s"$tmp/replica").listFiles()
      .map(_.getName).filter(_.matches("b-?\\d+"))
      .map(_.drop(1).toLong).max
    val replayInput = graft.streaming.CdcReplica.read(spark, s"$tmp/replica")
    // rebuild the batch the source would re-plan for (start=post-sync-1)
    // is engine-internal; the contract that matters is dir-level: apply
    // an EMPTY batch at a fresh id and state must carry forward
    graft.streaming.CdcReplica.applyBatch(
      replayInput.filter(lit(false))
        .select(lit("upsert").as("op"), col("thash"), col("text"),
          col("keep_id"), col("n_copies")),
      s"$tmp/replica", lastId + 1)
    assert(replicaState() == r2, "an empty batch must carry state forward")
  }

  test("crash-replay with a retention-pruned end version falls back to the live in-window files") {
    // The silent-empty-batch regression: a checkpointed micro-batch
    // pins END at a version whose directory retention later pruned
    // (every file it WROTE got superseded, but files written by an
    // INTERMEDIATE in-window version are still current). Planning the
    // replay empty would skip those buckets forever — later batches
    // filter writing-version > end. The fallback reads the latest
    // manifest restricted to writing-version in (since, end].
    val tmp = TempDirs.create("graft_cdcfall")
    val store = s"$tmp/store"
    val nB = 4
    // pick probe texts per bucket so each delivery targets known buckets
    val byBucket = (0 until 400).map(i => s"fb text $i")
      .groupBy(t => bucketOf(t, nB))
    def inBucket(b: Int, n: Int) = byBucket(b).take(n)
    // v0: all four buckets populated
    val d0 = (0 until nB).flatMap(b => inBucket(b, 3))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    d0.toDF("doc_id", "text").write.format(SinkFormat)
      .option("path", store).option("nBuckets", nB.toString)
      .mode("append").save()
    // v1: bucket 1 only (the in-window survivor the fallback must find)
    Seq((100L, inBucket(1, 4).last)).toDF("doc_id", "text")
      .write.format(SinkFormat).option("path", store).mode("append").save()
    // v2: bucket 2 only — the version a checkpoint will pin as END
    Seq((200L, inBucket(2, 4).last)).toDF("doc_id", "text")
      .write.format(SinkFormat).option("path", store).mode("append").save()
    val endName = new org.apache.hadoop.fs.Path(
      DedupStore.currentVersion(store).get).getName
    // v3: bucket 2 again — supersedes ALL of v2's own files, so
    // retention prunes the v2 directory while v1's file stays live
    Seq((300L, inBucket(2, 5).last)).toDF("doc_id", "text")
      .write.format(SinkFormat).option("path", store).mode("append").save()
    assert(!new java.io.File(s"$store/$endName").exists(),
      s"fixture broken: $endName should be retention-pruned")
    val sinceKey = DedupStore.parseKey("v0").get
    val planned = graft.sources.DedupStoreChanges.changedFilesBetween(
      store, sinceKey, endName)
    assert(planned.nonEmpty,
      "pruned end version must fall back, not plan an empty batch")
    // exactly the in-window still-current files: bucket 1's v1 write;
    // bucket 2's current file was written AFTER end (v3) and belongs to
    // the next batch
    val writers = planned.map(f =>
      new org.apache.hadoop.fs.Path(f).getParent.getParent.getName).toSet
    assert(writers == Set("v1"),
      s"fallback must plan exactly the in-window current files: $writers")
    val got = rows(spark.read.parquet(planned: _*)
      .select(col("text"), col("keep_id"), col("n_copies")))
    assert(got.exists(_._1 == inBucket(1, 4).last),
      s"the intermediate version's bucket was lost: $got")
    // a store with NO committed version refuses loudly instead of
    // planning nothing
    val gone = TempDirs.create("graft_cdcgone")
    val e = intercept[IllegalStateException] {
      graft.sources.DedupStoreChanges.changedFilesBetween(
        gone, sinceKey, "v2")
    }
    assert(e.getMessage.contains("no committed version"))
  }

  test("guardStore: a truncated/foreign store fails open-time with ONE report naming every deviation") {
    import java.nio.file.{Files, Paths}
    // 1) legal states stay silent: missing root; root with only an
    // uncommitted (crash-shaped) version dir
    DedupStore.guardStore("/tmp/graft_guard_does_not_exist")
    val crash = TempDirs.create("graft_guard_crash")
    Files.createDirectories(Paths.get(s"$crash/v0")) // no _SUCCESS
    DedupStore.guardStore(crash)
    assert(DedupStore.read(spark, crash).count() == 0L)

    // healthy store: reads stay silent (and cache the validation)
    val healthy = s"${TempDirs.create("graft_guard_ok")}/store"
    (0 until 10).map(i => (i.toLong, s"guard text $i")).toDF("doc_id", "text")
      .write.format(SinkFormat).option("path", healthy)
      .option("nBuckets", "4").mode("append").save()
    assert(DedupStore.read(spark, healthy).count() == 10L)

    // 2) a real store, truncated BEFORE its first read in this JVM
    // (guard validation is cached per (root, version) — see
    // guardedStores — so in-place corruption after a validated read is
    // outside the supported lifecycle, like guardIvfIndex): delete a
    // manifest-referenced data file AND plant a foreign committed dir —
    // both deviations must appear in the SAME report (not fail-fast)
    val tmp = TempDirs.create("graft_guard")
    val store = s"$tmp/store"
    (0 until 10).map(i => (i.toLong, s"guard text $i")).toDF("doc_id", "text")
      .write.format(SinkFormat).option("path", store)
      .option("nBuckets", "4").mode("append").save()
    val root = new java.io.File(store)
    val dataFile = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).find(f => f.getName.endsWith(".parquet") ||
        (f.getName.startsWith("part-") && !f.getName.startsWith("."))).get
    }
    assert(dataFile.delete())
    val foreign = new java.io.File(root, "not_a_version")
    foreign.mkdirs()
    Files.writeString(Paths.get(s"$foreign/_SUCCESS"), "")
    val e2 = intercept[IllegalStateException] {
      DedupStore.guardStore(store)
    }
    assert(e2.getMessage.contains("references missing"),
      s"missing data file not reported: ${e2.getMessage}")
    assert(e2.getMessage.contains("not_a_version"),
      s"foreign committed dir not reported: ${e2.getMessage}")
    // read() hits the same guard, not a parquet stack trace
    val e3 = intercept[IllegalStateException] {
      DedupStore.read(spark, store)
    }
    assert(e3.getMessage.contains("not a readable dedup store"))

    // 3) a non-empty directory that is no store at all
    val alien = TempDirs.create("graft_guard_alien")
    Files.writeString(Paths.get(s"$alien/random.txt"), "hello")
    val e4 = intercept[IllegalStateException] { DedupStore.guardStore(alien) }
    assert(e4.getMessage.contains("no v* version dirs"))
  }
}
