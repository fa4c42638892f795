package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Ingest

/** DataSource V2 brewery source: schema, partition fan-out, row parity
  * with the driver-side ingest path. */
class DataSourceSpec extends SparkSpec {

  private def readApi(pagesPerPartition: Int) =
    spark.read.format("graft.sources.BreweryDataSource")
      .option("fetcherClass", "graft.pipeline.SampleFetcher")
      .option("perPage", "200")
      .option("pagesPerPartition", pagesPerPartition.toString)
      .load()

  test("reads the full dataset with the declared 16-string schema") {
    val df = readApi(1)
    assert(df.schema == Ingest.schema)
    assert(df.count() == 450)
    // one Spark partition per page (3 pages of 200 for 450 rows)
    assert(df.rdd.getNumPartitions == 3)
    assert(readApi(2).rdd.getNumPartitions == 2)
  }

  test("rows match the driver-side CSV ingest byte-for-byte") {
    val t0 = java.time.Instant.parse("2026-08-12T10:00:00Z")
    val dir = TempDirs.create("graft_dsv2")
    val runDir = Ingest.ingest(spark, new graft.pipeline.SampleFetcher(450), dir, t0, 200)
    val viaCsv = spark.read.option("header", true).csv(s"$runDir/*.csv")
    val viaApi = readApi(1)
    assert(viaApi.exceptAll(viaCsv).isEmpty && viaCsv.exceptAll(viaApi).isEmpty)
  }

  test("projection pushes into the v2 scan (pruned scan output)") {
    val df = readApi(1).select("id", "country").filter(col("country") === " United States")
    assert(df.count() > 0)
    assert(df.columns.toSeq == Seq("id", "country"))
    // the BatchScan itself (not a Project above it) carries only the
    // required columns — SupportsPushDownRequiredColumns took effect
    val scanOutput = df.queryExecution.executedPlan.collectLeaves().head.output.map(_.name)
    assert(scanOutput.sorted == Seq("country", "id"),
      s"scan not pruned: $scanOutput")
  }
}
