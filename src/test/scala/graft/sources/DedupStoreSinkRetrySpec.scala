package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The DSv2 write protocol's failure edges, driven at the writer/commit
  * layer directly (local[n] can't schedule a real speculative twin):
  * the invariants that make the sink exactly-once under task retries
  * and speculation are (a) driver commit reads ONLY files named by the
  * commit-message set — a losing attempt's complete, well-formed staged
  * file must not merge; (b) the post-commit clean sweeps the epoch dir,
  * so losers' leftovers don't accumulate across epochs; (c) abort()
  * removes an attempt's partial file once a mid-task flush created it.
  * Lives in package graft.sources to reach the private[sources] writer
  * machinery. */
class DedupStoreSinkRetrySpec extends graft.SparkSpec {

  private def row(id: Long, text: String): InternalRow =
    InternalRow(id, UTF8String.fromString(text))

  private def storeState(dir: String): Set[(String, Long, Long)] =
    graft.streaming.DedupStore.read(spark, dir).collect()
      .map(r => (r.getAs[String]("text"), r.getAs[Long]("keep_id"),
        r.getAs[Long]("n_copies"))).toSet

  private def factoryFor(stageRoot: String) = new PartialWriterFactory(
    stageRoot,
    new SerializableConfiguration(spark.sessionState.newHadoopConf()),
    docIdx = 0, textIdx = 1)

  test("a losing speculative attempt's staged file is not merged and is swept") {
    val tmp = graft.TempDirs.create("graft_retry")
    val store = s"$tmp/store"
    val stageRoot = s"$store/_STAGING/qspec"
    val factory = factoryFor(stageRoot)

    // attempt t5 of partition 0: completes its write and stages a full
    // file, but loses the commit-coordinator race — its message never
    // reaches the driver. Same rows as the winner (speculation = same
    // input split).
    val loser = factory.createWriter(0, 5L, 0L)
    loser.write(row(1L, "spec alpha")); loser.write(row(2L, "spec beta"))
    loser.commit() // message dropped — never handed to driver commit

    val winner = factory.createWriter(0, 7L, 0L)
    winner.write(row(1L, "spec alpha")); winner.write(row(2L, "spec beta"))
    val msg = winner.commit()

    DedupStoreCommit.commit(store, 4, stageRoot, 0L, Array(msg))

    // each text counted exactly ONCE — the loser's partial didn't fold in
    assert(storeState(store) == Set(
      ("spec alpha", 1L, 1L), ("spec beta", 2L, 1L)))
    // the epoch staging dir — including the loser's orphan — is swept
    assert(!new java.io.File(s"$stageRoot/e0").exists(),
      "commit must sweep the whole epoch staging dir, losers included")
  }

  test("a crashed attempt (no commit, no abort) leaves nothing merged on retry") {
    val tmp = graft.TempDirs.create("graft_retry2")
    val store = s"$tmp/store"
    val stageRoot = s"$store/_STAGING/qcrash"
    val factory = factoryFor(stageRoot)

    // attempt t3 dies mid-task: rows buffered below the flush cap, so no
    // file exists; even if one did, only message-named paths merge.
    val crashed = factory.createWriter(0, 3L, 1L)
    crashed.write(row(9L, "crash gamma"))
    // no commit(), no abort() — executor lost

    val retry = factory.createWriter(0, 4L, 1L)
    retry.write(row(9L, "crash gamma"))
    val msg = retry.commit()
    DedupStoreCommit.commit(store, 4, stageRoot, 1L, Array(msg))

    assert(storeState(store) == Set(("crash gamma", 9L, 1L)))
    assert(!new java.io.File(s"$stageRoot/e1").exists())
  }

  test("abort removes a mid-task-flushed partial file") {
    val tmp = graft.TempDirs.create("graft_retry3")
    val stageRoot = s"$tmp/store/_STAGING/qabort"
    val factory = factoryFor(stageRoot)

    val w = factory.createWriter(2, 11L, 0L)
    // exceed the flush cap so the staged file materializes mid-task
    var i = 0
    while (i <= DedupStoreSink.FlushEntries) {
      w.write(row(i.toLong, s"ab $i")); i += 1
    }
    val f = new java.io.File(s"$stageRoot/e0/p2-t11")
    assert(f.exists(), "flush past the cap must have created the partial")
    w.abort()
    assert(!f.exists(), "abort must delete the attempt's staged file")
  }
}
