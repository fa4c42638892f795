package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Hardening contract of the SPJ source's write path: TSV-dangerous
  * labels round-trip, an ordering-contract violation is loud (never
  * silent truncation), and concurrent appends to one path serialize on
  * the manifest lock so neither commit's files are dropped. */
class KeyedPartitionSourceSpec extends SparkSpec {

  test("labels with tabs, newlines, and backslashes round-trip the TSV layout") {
    val nasty = Seq(
      "plain", "tab\tinside", "new\nline", "back\\slash",
      "cr\rreturn", "\\t literal-escape-lookalike", "trailing\\")
    // the codec itself is a bijection on these
    nasty.foreach { s =>
      assert(KeyedPartitionSource.unescapeLabel(KeyedPartitionSource.escapeLabel(s)) == s,
        s"escape/unescape must invert on ${s.replace("\n", "\\n")}")
      val esc = KeyedPartitionSource.escapeLabel(s)
      assert(!esc.contains('\t') && !esc.contains('\n') && !esc.contains('\r'),
        "escaped label must contain no raw TSV delimiters")
    }
    // and the full V2 write → read path preserves them byte-for-byte
    val tmp = graft.TempDirs.create("graft_keyed_esc")
    import spark.implicits._
    nasty.zipWithIndex.map { case (s, i) => (i.toLong % 3, i.toLong, s) }
      .toDF("key", "id", "label")
      .write.format("graft.sources.KeyedPartitionSource")
      .option("path", tmp).mode("append").save()
    val back = spark.read.format("graft.sources.KeyedPartitionSource")
      .option("path", tmp).load()
      .orderBy("id").select("label").as[String].collect().toSeq
    assert(back == nasty, s"labels corrupted in round-trip: $back")
  }

  test("a writer that sees keys out of order throws instead of truncating") {
    val tmp = graft.TempDirs.create("graft_keyed_ooo")
    val w = new KeyedWriterFactory(tmp).createWriter(0, 0L)
    def row(k: Long, id: Long, label: String) =
      org.apache.spark.sql.catalyst.InternalRow(
        k, id, org.apache.spark.unsafe.types.UTF8String.fromString(label))
    w.write(row(1L, 10L, "a"))
    w.write(row(1L, 11L, "b"))
    w.write(row(2L, 20L, "c"))
    val e = intercept[IllegalStateException] { w.write(row(1L, 12L, "revisit")) }
    assert(e.getMessage.contains("ordering contract violated"))
    w.abort(); w.close()
  }

  test("concurrent commits to one path both survive in the manifest") {
    val tmp = graft.TempDirs.create("graft_keyed_conc")
    import spark.implicits._
    def df(offset: Int) =
      (0 until 40).map(i => ((i % 4).toLong, (offset + i).toLong, s"r$offset-$i"))
        .toDF("key", "id", "label")
    // two appends racing on the same path: the lock file serializes the
    // manifest read-modify-write, so the union of both commits' files
    // is what the reader sees — before the lock, the loser's move
    // could silently erase the winner's committed files
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = Seq(0, 1000).map { off => Future {
      df(off).write.format("graft.sources.KeyedPartitionSource")
        .option("path", tmp).mode("append").save()
    }}
    Await.result(Future.sequence(writes), 120.seconds)
    val back = spark.read.format("graft.sources.KeyedPartitionSource")
      .option("path", tmp).load()
    assert(back.count() == 80,
      s"both concurrent commits must be visible: ${back.count()} rows")
    assert(back.agg(countDistinct(col("id"))).head().getLong(0) == 80)
    // the lock is an OS advisory lock, not file existence: the anchor
    // file persists (deleting it would reopen the orphaned-inode race),
    // but no process may still HOLD the lock after both commits
    val ch = java.nio.channels.FileChannel.open(
      new java.io.File(tmp, "_manifest.lock").toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val fl = ch.tryLock()
      assert(fl != null, "the commit lock must be released after commit")
      fl.release()
    } finally ch.close()
  }

  test("a commit waits out a FOREIGN process's lock instead of clobbering it") {
    // same-JVM contention surfaces as OverlappingFileLockException
    // (covered above); a lock held by ANOTHER process surfaces as
    // tryLock() == null — hold the anchor from a real second process
    // and prove the committer waits it out, then lands. The holder
    // must use fcntl record locks (python's lockf), the family
    // FileChannel locks map to on Linux — flock(1) takes BSD flock(2)
    // locks, which do NOT interact with fcntl and would hold nothing
    // against the JVM.
    // environmental dependency, not a product contract: skip (cancel)
    // where no python3-with-fcntl exists rather than failing the suite
    assume(
      try new ProcessBuilder("python3", "-c", "import fcntl")
        .start().waitFor() == 0
      catch { case _: java.io.IOException => false },
      "python3 with fcntl not available — foreign-process lock test skipped")
    val tmp = graft.TempDirs.create("graft_keyed_flock")
    import spark.implicits._
    val df = (0 until 20).map(i => ((i % 4).toLong, i.toLong, s"f$i"))
      .toDF("key", "id", "label")
    // seed the anchor so the foreign holder and the committer contend
    // on the same inode
    new java.io.File(tmp).mkdirs()
    val lockPath = s"$tmp/_manifest.lock"
    val markerPath = s"$tmp/_released.marker"
    assert(new java.io.File(lockPath).createNewFile())
    // ordering evidence instead of a wall-clock floor (loaded-box-proof):
    // the holder drops a marker file immediately BEFORE releasing the
    // lock (exit closes the fd), so a commit that actually waited must
    // observe the marker; a commit that clobbered the lock would land
    // while the marker does not yet exist.
    val holder = new ProcessBuilder("python3", "-c",
      s"""import fcntl, time
         |f = open("$lockPath", "w")
         |fcntl.lockf(f, fcntl.LOCK_EX)
         |time.sleep(6)
         |open("$markerPath", "w").close()
         |""".stripMargin).start()
    try {
      // give the holder a beat to actually acquire before committing
      Thread.sleep(500)
      df.write.format("graft.sources.KeyedPartitionSource")
        .option("path", tmp).mode("append").save()
      val back = spark.read.format("graft.sources.KeyedPartitionSource")
        .option("path", tmp).load()
      assert(back.count() == 20, "the commit must land after the wait")
      assert(new java.io.File(markerPath).isFile,
        "commit landed before the foreign holder released its lock — " +
          "the committer did not wait")
    } finally holder.destroy()
  }
}
