package graft

import java.time.Instant

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.pipeline.{Gold, Ingest, Layers, SampleFetcher, Silver}

/** End-to-end medallion pipeline test: stubbed ingest → bronze CSV →
  * silver cleanse → gold counts, plus latest-run discovery, `_SUCCESS`
  * gating (an unmarked bronze run is refused, not skipped), the
  * ingestion completeness invariant (SURVEY.md §5), and the
  * bronze reader's contract: no job to build it, stray files skipped,
  * foreign headers refused, and the rows of the reference's glob read. */
class PipelineSpec extends SparkSpec {

  private lazy val root = TempDirs.create("graft_pipeline")
  private val t0 = Instant.parse("2026-08-12T10:00:00Z")
  private val t1 = Instant.parse("2026-08-12T11:00:00Z")

  test("bronze: ingest writes one CSV per page + completeness invariant") {
    val fetcher = new SampleFetcher(450)
    val runDir = Ingest.ingest(spark, fetcher, s"$root/bronze", t0, perPage = 200)
    val files = new java.io.File(runDir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 3) // ceil(450/200)
    // re-read with the silver reader: row count preserved
    val back = spark.read.option("header", true).csv(s"$runDir/*.csv")
    assert(back.count() == 450)
    assert(back.columns.toSeq == Ingest.header)
    // nulls round-trip as nulls through empty CSV fields
    assert(back.filter(col("address_2").isNull).count() == 450)
  }

  test("completeness invariant rejects a short run") {
    val fetcher = new SampleFetcher(450)
    val runDir = Ingest.ingest(spark, fetcher, s"$root/bronze_bad", t0, perPage = 200)
    new java.io.File(s"$runDir/brewery_data_3.csv").delete()
    intercept[IllegalArgumentException] {
      Ingest.assertComplete(spark, runDir, total = 450, perPage = 200)
    }
  }

  test("latest-run discovery picks newest folder with CSVs") {
    // older run t0 already exists; write a newer run t1
    Ingest.ingest(spark, new SampleFetcher(100), s"$root/bronze", t1, perPage = 200)
    val latest = Layers.latestBronzeRun(spark, s"$root/bronze").get
    assert(latest.getName == Layers.runFolderName(t1))
    // an empty newer folder is skipped
    val t2name = Layers.runFolderName(Instant.parse("2026-08-12T12:00:00Z"))
    new java.io.File(s"$root/bronze/$t2name").mkdirs()
    assert(Layers.latestBronzeRun(spark, s"$root/bronze").get.getName ==
      Layers.runFolderName(t1))
  }

  test("silver: cleanse + partitioned write") {
    val silverRun = Silver.run(spark, s"$root/bronze", s"$root/silver", t1)
    val silver = spark.read.parquet(silverRun)
    assert(silver.count() == 100) // row count preserved (t1 run had 100 rows)
    assert(silver.columns.sorted.toSeq == Silver.columns.sorted)
    // partition layout country=/state=
    val dirs = new java.io.File(silverRun).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("country=")))
    // cleanse post-conditions on partition values
    val vals = silver.select("city", "state", "country").distinct().collect()
    vals.foreach { r =>
      Seq(r.getString(0), r.getString(1), r.getString(2)).filter(_ != null).foreach { v =>
        assert(!v.exists(_.isUpper), s"uppercase survived: $v")
        assert(!v.contains(' '), s"space survived: $v")
        assert(!v.contains('�'), s"mojibake survived: $v")
        assert(!v.contains('_'), s"connector punct survived: $v")
      }
    }
    // specific goldens through the full pipeline
    assert(silver.filter(col("country") === "united-states").count() > 0)
    assert(silver.filter(col("city") === "sao-paulo").count() > 0)
    assert(silver.filter(col("city") === "munchen").count() > 0)
  }

  test("gold: _SUCCESS gating skips incomplete silver runs") {
    // fabricate a NEWER silver folder without _SUCCESS: must be skipped
    val fakeName = Layers.runFolderName(Instant.parse("2026-08-12T13:00:00Z"))
    val fake = new java.io.File(s"$root/silver/$fakeName")
    fake.mkdirs()
    val latest = Layers.latestSuccessfulRun(spark, s"$root/silver").get
    assert(latest.getName == Layers.runFolderName(t1))
  }

  test("gold: counts match a direct SQL GROUP BY on silver + view registered") {
    val goldRun = Gold.run(spark, s"$root/silver", s"$root/gold", t1)
    val gold = spark.read.parquet(goldRun)
    assert(gold.columns.sorted.toSeq ==
      Seq("brewery_count", "brewery_type", "country", "state"))
    val silverRun = Layers.latestSuccessfulRun(spark, s"$root/silver").get.toString
    val silver = spark.read.parquet(silverRun)
    // invariant: sum(brewery_count) == silver row count
    assert(gold.agg(sum("brewery_count")).head.getLong(0) == silver.count())
    // equals direct SQL GROUP BY
    silver.createOrReplaceTempView("silver_check")
    val direct = spark.sql(
      """SELECT brewery_type, country, state, COUNT(*) AS brewery_count
        |FROM silver_check GROUP BY 1, 2, 3""".stripMargin)
    assert(direct.exceptAll(gold.select("brewery_type", "country", "state", "brewery_count")).isEmpty)
    assert(gold.select("brewery_type", "country", "state", "brewery_count").exceptAll(direct).isEmpty)
    // global temp view is queryable
    assert(spark.table(s"global_temp.${Gold.ViewName}").count() == gold.count())
  }

  private val quiet: Ingest.ProgressListener = (_: Int, _: Int) => ()

  /** A driver-loop run of 50 bronze CSVs: more paths than Spark's
    * parallel-discovery threshold of 32, which a glob read lists with a
    * Spark job. */
  private lazy val wideRun = Ingest.ingest(spark, new SampleFetcher(10000),
    s"$root/bronze_wide", t0, progress = quiet)

  test("readBronze plans no Spark job, even over more files than the listing threshold") {
    assert(new java.io.File(wideRun).list().count(_.endsWith(".csv")) == 50)
    val sc = spark.sparkContext
    def inGroup[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id"))): Unit
    }
    sc.addSparkListener(listener)
    try {
      inGroup("build") {
        assert(Ingest.readBronze(spark, wideRun).schema == Ingest.schema)
      }
      // the listener bus delivers in order: once the marker job's start
      // arrives, so has the start of every job before it
      inGroup("marker")(sc.parallelize(Seq(1), 1).count())
      val seen = Iterator.continually(
          groups.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile { g => assert(g != null, "marker job never seen"); g != "marker" }
        .toSeq
      assert(seen.count(_ == "build") == 0,
        s"building the bronze frame ran ${seen.count(_ == "build")} Spark job(s)")
    } finally sc.removeSparkListener(listener)
  }

  test("silver skips stray files in the bronze run and refuses a foreign header") {
    val lake = TempDirs.create("graft_foreign")
    val runDir = Ingest.ingest(spark, new SampleFetcher(450), s"$lake/bronze", t0,
      progress = quiet)
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(runDir, name),
        lines.mkString("", "\r\n", "\r\n").getBytes("UTF-8")): Unit
    // CSV-shaped, so it would add a row if it were read
    write("notes.txt", Seq(Ingest.header.mkString(","), Ingest.header.mkString(",")))
    val silver = Silver.run(spark, s"$lake/bronze", s"$lake/silver", t0)
    assert(spark.read.parquet(silver).count() == 450)
    // same names, other order: a read by position would swap every column
    write("brewery_data_99.csv", Seq(Ingest.header.reverse.mkString(","),
      Ingest.header.reverse.mkString(",")))
    val e = intercept[Exception] {
      Silver.run(spark, s"$lake/bronze", s"$lake/silver", t1)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toSeq
    assert(messages.exists(_.contains("CSV header does not conform to the schema")),
      messages.mkString("\n"))
  }

  test("readBronze gives the silver rows of the reference's glob read") {
    val dist = Ingest.ingestDistributed(spark, new SampleFetcher(450),
      s"$root/bronze_dist_parity", t0, progress = quiet)
    Seq(wideRun -> 10000L, dist -> 450L).foreach { case (runDir, n) =>
      val ours = Silver.transform(Ingest.readBronze(spark, runDir))
      // the reference's read (`…bronze_to_silver.py:81-84`)
      val reference = Silver.transform(
        spark.read.option("header", true).csv(s"$runDir/*.csv"))
      assert(ours.count() == n)
      assert(ours.exceptAll(reference).isEmpty && reference.exceptAll(ours).isEmpty,
        runDir)
    }
  }

  test("an incomplete bronze run is never read: silver refuses it, naming the run") {
    val lake = TempDirs.create("graft_partial")
    // an older complete run must not stand in for the failed one
    Ingest.ingest(spark, new SampleFetcher(450), s"$lake/bronze", t0, progress = quiet)
    intercept[java.io.IOException] {
      Ingest.ingest(spark, new PipelineSpec.FailingFetcher(1000, failAt = 3),
        s"$lake/bronze", t1, progress = quiet)
    }
    val partial = new java.io.File(s"$lake/bronze/${Layers.runFolderName(t1)}")
    assert(partial.list().count(_.endsWith(".csv")) == 2) // 400 rows landed
    val refused = intercept[IllegalStateException] {
      Silver.run(spark, s"$lake/bronze", s"$lake/silver", t1)
    }
    assert(refused.getMessage.contains(partial.getName), refused.getMessage)
    assert(!new java.io.File(s"$lake/silver").exists())
    // a complete rerun in the same minute marks the run; a failed one
    // over it takes the mark away again
    Ingest.ingest(spark, new SampleFetcher(450), s"$lake/bronze", t1, progress = quiet)
    assert(Layers.latestBronzeRun(spark, s"$lake/bronze").map(_.getName)
      .contains(partial.getName))
    intercept[java.io.IOException] {
      Ingest.ingest(spark, new PipelineSpec.FailingFetcher(1000, failAt = 3),
        s"$lake/bronze", t1, progress = quiet)
    }
    intercept[IllegalStateException](Layers.latestBronzeRun(spark, s"$lake/bronze"))
    // distributed: the row-count check fails after Spark's job commit,
    // and the run it leaves carries no marker
    val dist = TempDirs.create("graft_partial_dist")
    intercept[IllegalArgumentException] {
      Ingest.ingestDistributed(spark, new PipelineSpec.FailingFetcher(450, failAt = 3, empty = true),
        s"$dist/bronze", t1, progress = quiet)
    }
    val run = new java.io.File(s"$dist/bronze/${Layers.runFolderName(t1)}")
    assert(run.list().exists(_.endsWith(".csv")))
    assert(!new java.io.File(run, Layers.Marker).exists())
    intercept[IllegalStateException] {
      Silver.run(spark, s"$dist/bronze", s"$dist/silver", t1)
    }
  }

  test("distributed ingest parity: same rows as driver-side ingest") {
    val fetcher = new SampleFetcher(450)
    val classicDir = Ingest.ingest(spark, fetcher, s"$root/bronze_classic", t0, perPage = 200)
    val distDir = Ingest.ingestDistributed(spark, fetcher, s"$root/bronze_dist", t0, perPage = 200)
    val dist = spark.read.option("header", true).csv(s"$distDir/*.csv")
    val classic = spark.read.option("header", true).csv(s"$classicDir/*.csv")
    assert(dist.count() == 450)
    assert(dist.exceptAll(classic).isEmpty && classic.exceptAll(dist).isEmpty)
  }

  test("distributed ingest drives the FULL chain: silver + gold over executor-fanned bronze") {
    // Main's --distributed path end to end (the 100 TB ingest shape must
    // not bit-rot behind the ingest-level parity check): bronze via
    // executor fan-out, then the same silver/gold stages the driver-loop
    // chain runs, landing on identical gold aggregates.
    val root2 = TempDirs.create("graft_dist_e2e")
    val t = Instant.parse("2026-08-12T15:00:00Z")
    Ingest.ingestDistributed(spark, new SampleFetcher(450), s"$root2/bronze", t)
    Silver.run(spark, s"$root2/bronze", s"$root2/silver", t)
    val goldRun = Gold.run(spark, s"$root2/silver", s"$root2/gold", t)
    val gold = spark.read.parquet(goldRun)
    // reference chain: same fetcher through the driver-loop ingest
    val rootC = TempDirs.create("graft_dist_ref")
    Ingest.ingest(spark, new SampleFetcher(450), s"$rootC/bronze", t)
    Silver.run(spark, s"$rootC/bronze", s"$rootC/silver", t)
    val refGold = spark.read.parquet(
      Gold.run(spark, s"$rootC/silver", s"$rootC/gold", t))
    assert(gold.agg(sum("brewery_count")).head.getLong(0) == 450L)
    // same aggregate content as the driver-loop pipeline's gold
    assert(gold.exceptAll(refGold).isEmpty && refGold.exceptAll(gold).isEmpty)
  }
}

object PipelineSpec {

  /** [[SampleFetcher]] rows, except that page `failAt` throws, or comes
    * back `empty`. */
  class FailingFetcher(nRows: Int, failAt: Int, empty: Boolean = false)
      extends SampleFetcher(nRows) {
    override def page(n: Int, perPage: Int): Seq[Map[String, String]] =
      if (n != failAt) super.page(n, perPage)
      else if (empty) Seq.empty
      else throw new java.io.IOException(s"page $n: connection reset")
  }
}
