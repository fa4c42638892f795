package graft

import org.apache.spark.sql.functions._

import graft.streaming.{EventStream, VersionedView}

/** The drain contract [[EventStream]] owns: state partitions are a
  * per-drain knob ([[Confs.stateParts]]), scoped for the drain's
  * lifetime and restored afterwards — and the knob must actually reach
  * the state store, not just the session conf; an arrival fixture
  * records the schema its files declare, and its reader's
  * files-per-trigger reaches the batch count; a staged fixture's
  * arrival order is the order [[Stager.arrive]] stamps; a drain root
  * holds its sink and checkpoint, and each default root is fresh; and a
  * memory drain leaves no session state and, failed, no checkpoint
  * outside its [[TempDirs]] root. */
class DrainSizingSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("stateParts sizes to state volume with a pipelining floor") {
    assert(Confs.stateParts(0L) == 8)
    assert(Confs.stateParts(1L << 20) == 8) // every fixture-scale caller
    assert(Confs.stateParts(8L * (256L << 20)) == 8) // exactly at floor
    assert(Confs.stateParts(9L * (256L << 20)) == 9) // sizes UP past it
    assert(Confs.stateParts(400L << 30) == 1600) // the scaladoc example
  }

  test("runToFiles scopes state partitions to `parts` and restores the session") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val out = TempDirs.create("graft_dsz")
    val drained = EventStream.runToFiles(spark,
      EventStream.hourlyCounts(EventStream.readEvents(spark, sf)),
      out, parts = 2)
    // the knob reached the STORE: one state dir per partition
    val stateParts = new java.io.File(s"$out/ckpt/state/0")
      .listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_.forall(_.isDigit))
    assert(stateParts.toSet == Set("0", "1"),
      s"expected 2 state partitions, found ${stateParts.mkString(",")}")
    // scoping is drain-local: session conf restored
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    // and content is partition-count-invariant: same windows as a
    // default-parts drain
    val out2 = TempDirs.create("graft_dsz2")
    val default = EventStream.runToFiles(spark,
      EventStream.hourlyCounts(EventStream.readEvents(spark, sf)), out2)
    assert(drained.exceptAll(default).isEmpty &&
      default.exceptAll(drained).isEmpty)
  }

  test("VersionedView.run folds and commits versions at `parts` partitions") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val root = TempDirs.create("graft_dszv")
    val docs = graft.queries.StreamMediaQueries.ensureDedupStreamInput(spark, sf)
    val stream = docs.read(spark)
    val base = spark.range(0)
      .select(col("id").as("doc_id"), col("id").as("n"))
    val state = VersionedView.run(spark, stream, s"$root/state",
        s"$root/ckpt", base, parts = 2) { (prev, batch, _) =>
      prev.unionByName(batch.select(col("doc_id"), lit(1L).as("n")))
        .groupBy(col("doc_id")).agg(sum(col("n")).as("n"))
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    // each committed version's fold ran at 2 partitions -> at most 2
    // data files per version dir
    val versions = new java.io.File(s"$root/state").listFiles()
      .filter(f => f.getName.startsWith("v_") &&
        new java.io.File(f, "_SUCCESS").exists())
    assert(versions.nonEmpty)
    versions.foreach { v =>
      val dataFiles = v.listFiles().count(_.getName.endsWith(".parquet"))
      assert(dataFiles <= 2,
        s"${v.getName} has $dataFiles parquet files, expected <= 2")
    }
    // and the final state equals the batch recompute
    val batchAll = spark.read.schema(docs.schema).parquet(s"${docs.dir}/part-*")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    assert(state.exceptAll(batchAll).isEmpty &&
      batchAll.exceptAll(state).isEmpty)
  }

  /** Micro-batches a finished drain committed: the checkpoint's commit log. */
  private def committedBatches(dir: String): Int =
    new java.io.File(s"${EventStream.checkpointDir(dir)}/commits").listFiles()
      .count(_.getName.forall(_.isDigit))

  // `readStaged` became `Arrivals.read`; the test keeps its established name
  test("readStaged's perTrigger sets the batch count; runToFiles owns the dir layout") {
    val staged = graft.queries.StreamMediaQueries.ensureDedupStreamInput(spark, sf)
    def drain(stream: org.apache.spark.sql.DataFrame): (String, Long) = {
      val dir = TempDirs.create("graft_dszr")
      (dir, EventStream.runToFiles(spark, stream, dir).count())
    }
    val (byDefault, nDefault) = drain(staged.read(spark))
    val (bySingle, nSingle) = drain(staged.read(spark, perTrigger = 1))
    // the fixture is 4 files: 2 per trigger by default, 1 when pinned
    assert(committedBatches(byDefault) == 2)
    assert(committedBatches(bySingle) == 4)
    val docs = Tables.load(spark, sf, "documents").count()
    assert(nDefault == docs && nSingle == docs)
    // the drain root holds exactly the sink and the checkpoint
    val root = new java.io.File(byDefault)
    assert(root.list().toSet == Set("data", "ckpt"))
    assert(new java.io.File(EventStream.dataDir(byDefault), "_spark_metadata")
      .isDirectory)
    assert(new java.io.File(EventStream.checkpointDir(byDefault), "offsets")
      .isDirectory)
  }

  test("Stager.arrive sets delivery order, whatever the file names") {
    import spark.implicits._
    val in = s"${TempDirs.create("graft_arrive")}/in"
    // file names and write order both run opposite to the arrival
    // order k = 0, 1, 2 that arrive stamps
    val written = Seq("a" -> 2L, "b" -> 1L, "c" -> 0L).map { case (name, k) =>
      Stager.oneFile(Seq(k).toDF("k"), in, name)
    }
    assert(new java.io.File(in).list().toSet == Set("a.parquet", "b.parquet", "c.parquet"))
    Stager.arrive(written.reverse)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]
    EventStream.drain(spark,
      EventStream.Arrivals.of(spark, in).read(spark, perTrigger = 1)
        .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          seen.add(id -> batch.as[Long].collect().toSeq): Unit
        }, TempDirs.create("graft_arrive_drain"))
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.sortBy(_._1) ==
      Seq(0L -> Seq(0L), 1L -> Seq(1L), 2L -> Seq(2L)))
  }

  test("runToFiles with no dir drains each call into a fresh root") {
    // a shared default root would resume the first drain's checkpoint:
    // the second drain would find every file already committed and read
    // back only the first drain's rows
    val docs = graft.queries.StreamMediaQueries.ensureDedupStreamInput(spark, sf)
    val all = Tables.load(spark, sf, "documents")
    val even = col("doc_id") % 2 === 0
    assert(EventStream.runToFiles(spark, docs.read(spark).filter(even)).count() ==
      all.filter(even).count())
    assert(EventStream.runToFiles(spark, docs.read(spark)).count() == all.count())
  }

  test("an Arrivals records the schema every one of its files declares") {
    val q = graft.queries.StreamMediaQueries
    // tiles and the sentinel pushers come from different writes
    val events = q.ensureTimerSessionStream(spark, sf)
    assert(events.schema == EventStream.schema)
    Seq(events, q.ensureDedupStreamInput(spark, sf)).foreach { a =>
      val files = new java.io.File(a.dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      files.foreach(f =>
        assert(spark.read.parquet(f.getPath).schema == a.schema, f.getName))
    }
  }

  test("runToMemory drops its sink's temp view; the frame stays readable") {
    def tempViews(): Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .map(_.name).toSet
    val before = tempViews()
    val snap = EventStream.runToMemory(spark,
      EventStream.hourlyCounts(EventStream.readEvents(spark, sf)))
    // Spark registers every memory sink as a temp view, which would pin
    // the sink's rows on the driver for the rest of the session
    assert(tempViews() == before)
    val first = snap.collect().toSeq
    assert(first.nonEmpty)
    assert(snap.collect().toSeq.sortBy(_.toString) == first.sortBy(_.toString))
    assert(first.map(_.getAs[Long]("n_events")).sum ==
      Tables.load(spark, sf, "events").count())
  }

  test("a failed runToMemory leaves no checkpoint under java.io.tmpdir") {
    // Spark's own temporary checkpoint (temporary-<uuid>) is deleted only
    // when its query stops cleanly
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def temporaries(): Set[String] =
      tmp.list().filter(_.startsWith("temporary-")).toSet
    val before = temporaries()
    val boom = udf { (n: Long) =>
      if (n >= 0) throw new IllegalStateException("boom") else n
    }
    intercept[Exception] {
      EventStream.runToMemory(spark, EventStream.readEvents(spark, sf)
        .select(boom(col("event_id")).as("x")).groupBy("x").count())
    }
    assert(temporaries() -- before == Set.empty[String])
  }
}
