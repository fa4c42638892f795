package graft.pipeline

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** EP1 — paginated REST ingestion → bronze CSV.
  *
  * Reference: `/root/reference/dags/fetch_data_with_meta_from_api.py`
  *  - meta probe drives page count (`:18-23`), `per_page=200` (`:37`)
  *  - page loop `1..ceil(total/per_page)` (`:40`)
  *  - one header-bearing CSV per page in a run-stamped folder (`:47-76`)
  *  - completeness invariant: #files == ceil(total/per_page)
  *    (`README.md:84`)
  *
  * The fetcher is injected (no egress at test time — SURVEY.md §7.4.7).
  * Two execution modes:
  *  - [[ingest]]: driver-side loop, byte-parity with the reference (the
  *    realistic mode for a 10^4-row API).
  *  - [[ingestDistributed]]: the 100 TB-scale path — contiguous page
  *    slices fan out across executors, so ingestion bandwidth scales with
  *    the cluster instead of the driver NIC.
  * Both distributed paths (this one and `sources.BreweryDataSource`)
  * turn their page slices into rows through [[pageRows]].
  */
object Ingest {

  /** The one fixed schema in the system: 16 nullable strings
    * (`fetch_data_with_meta_from_api.py:53-70`; explicit StructType at
    * `spark_fetch.py:33-50`). */
  val header: Seq[String] = Seq(
    "id", "name", "brewery_type", "street", "address_1", "address_2",
    "address_3", "city", "state_province", "postal_code", "country",
    "longitude", "latitude", "phone", "website_url", "state")

  val schema: StructType =
    StructType(header.map(StructField(_, StringType, nullable = true)))

  val PerPage = 200

  /** Page-count math, exactly the reference's
    * `total // per_page + (total % per_page > 0)` (`fetch…:40`). */
  def pageCount(total: Int, perPage: Int = PerPage): Int =
    total / perPage + (if (total % perPage > 0) 1 else 0)

  /** A page source: `total()` mirrors the meta probe; `page(n)` one
    * GET. Implementations over HTTP use [[HttpFetcher]]; tests inject a
    * stub. Serializable so [[ingestDistributed]] can ship it to
    * executors. */
  trait Fetcher extends Serializable {
    def total(): Int
    def page(n: Int, perPage: Int): Seq[Map[String, String]]
  }

  /** Per-page progress callback — the analog of the reference's XCom
    * push `{'page': n, 'total': total}` per fetched page
    * (`fetch_data_with_meta_from_api.py:78-81`). Serializable: in
    * [[ingestDistributed]] it fires on executors (progress lands in
    * executor logs; the driver-side count arrives via a named
    * accumulator, visible in the Spark UI). */
  trait ProgressListener extends Serializable {
    def pageFetched(page: Int, total: Int): Unit
  }

  /** Default listener: one structured log line per page. */
  object LogProgress extends ProgressListener {
    override def pageFetched(page: Int, total: Int): Unit =
      // scalastyle:off println — operational progress, reference parity
      println(s"""[ingest] progress {"page":$page,"total":$total}""")
  }

  /** Minimal CSV quoting matching Python's `csv.writer` QUOTE_MINIMAL
    * (`fetch…:49,76`): quote only fields containing delimiter/quote/CR/LF,
    * escape `"` by doubling; None/null → empty field. */
  private[pipeline] def csvLine(fields: Seq[String]): String =
    fields.map { f =>
      val v = if (f == null) "" else f
      if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    }.mkString(",")

  /** The one fan-out core: the pages of `pages`, fetched in order, as
    * rows of their `fields` values (null where a record lacks one).
    * `fetched(n)` runs once page n has been fetched, before its rows are
    * consumed. Runs on executors in both distributed paths. */
  def pageRows(fetcher: Fetcher, pages: Iterator[Int], perPage: Int,
               fields: Seq[String] = header,
               fetched: Int => Unit = _ => ()): Iterator[Seq[String]] =
    pages.flatMap { n =>
      val records = fetcher.page(n, perPage)
      fetched(n)
      records.iterator.map(r => fields.map(k => r.getOrElse(k, null)))
    }

  /** Driver-side ingest (reference-parity). Returns the bronze run dir,
    * marked complete only once every page has landed. */
  def ingest(spark: SparkSession, fetcher: Fetcher, bronzeDir: String,
             runTs: Instant, perPage: Int = PerPage,
             progress: ProgressListener = LogProgress): String = {
    val total = fetcher.total()
    val pages = pageCount(total, perPage)
    val runDir = new Path(bronzeDir, Layers.runFolderName(runTs))
    val hfs = Layers.fs(spark, bronzeDir)
    hfs.mkdirs(runDir)
    // a rerun in the same minute stays unmarked until it completes
    hfs.delete(new Path(runDir, Layers.Marker), false)
    for (n <- 1 to pages) {
      val rows = fetcher.page(n, perPage)
      val out = hfs.create(new Path(runDir, s"brewery_data_$n.csv"), true)
      val w = new BufferedWriter(new OutputStreamWriter(out, StandardCharsets.UTF_8))
      try {
        w.write(csvLine(header)); w.write("\r\n") // python csv default line terminator
        rows.foreach { r =>
          w.write(csvLine(header.map(k => r.getOrElse(k, null)))); w.write("\r\n")
        }
      } finally w.close()
      progress.pageFetched(n, total) // XCom-parity: after the page lands
    }
    assertComplete(spark, runDir.toString, total, perPage)
    Layers.markComplete(spark, runDir.toString)
    runDir.toString
  }

  /** Distributed ingest: page fan-out over executors, single partitioned
    * CSV dataset out (still header-bearing, read by [[readBronze]] like
    * the driver loop's run). Each task fetches one contiguous slice of
    * pages, so no shuffle runs before the first fetch. Spark's own
    * `_SUCCESS` is off: the run is marked only after the row and page
    * checks pass. */
  def ingestDistributed(spark: SparkSession, fetcher: Fetcher,
                        bronzeDir: String, runTs: Instant,
                        perPage: Int = PerPage,
                        progress: ProgressListener = LogProgress): String = {
    val total = fetcher.total()
    val pages = pageCount(total, perPage)
    val runDir = new Path(bronzeDir, Layers.runFolderName(runTs)).toString
    val parallelism = math.min(pages, spark.sparkContext.defaultParallelism)
    val pagesFetched = spark.sparkContext.longAccumulator("ingest_pages_fetched")
    val rows: org.apache.spark.rdd.RDD[Row] = spark.sparkContext
      .parallelize(1 to pages, math.max(parallelism, 1))
      .mapPartitions { slice =>
        pageRows(fetcher, slice, perPage, fetched = { n =>
          pagesFetched.add(1)
          progress.pageFetched(n, total)
        }).map(Row.fromSeq)
      }
    spark.createDataFrame(rows, schema)
      .write.options(graft.NioLocalFileSystem.Options)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
      .option("header", true)
      // Spark's CSV writer trims whitespace by default; keep raw bytes so
      // dirty values like " United States" survive to bronze (the silver
      // layer is where cleansing happens — parity with python csv.writer)
      .option("ignoreLeadingWhiteSpace", false)
      .option("ignoreTrailingWhiteSpace", false)
      .mode("overwrite").csv(runDir)
    val written = readBronze(spark, runDir).count()
    require(written == total,
      s"ingestion completeness violated: wrote $written rows, expected $total")
    // >= not ==: accumulators in transformations may over-count under
    // task retry/speculation on a real cluster; the row-count check above
    // is the exact completeness gate
    require(pagesFetched.value >= pages,
      s"page-progress mismatch: fetched ${pagesFetched.value} of $pages pages")
    Layers.markComplete(spark, runDir)
    runDir
  }

  /** The one bronze reader: every `.csv` of the run dir `runDir` under
    * the fixed [[schema]]. Both ingest paths write that schema, so
    * nothing is inferred, and the driver lists the one root itself, so
    * building the frame starts no Spark job (a glob of more than
    * `parallelPartitionDiscovery.threshold` paths is listed by one).
    * Each file's header is checked against [[schema]]: a foreign header
    * fails the scan instead of being read by position. Files not named
    * `*.csv` are skipped. Run dirs are flat by construction, so a `.csv`
    * in a subdirectory would be read too. */
  def readBronze(spark: SparkSession, runDir: String): DataFrame =
    spark.read.schema(schema).option("header", true)
      .option("enforceSchema", false)
      .option("pathGlobFilter", "*.csv")
      .csv(runDir)

  /** Completeness invariant (`README.md:84`): one CSV per page. */
  def assertComplete(spark: SparkSession, runDir: String, total: Int,
                     perPage: Int = PerPage): Unit = {
    val hfs = Layers.fs(spark, runDir)
    val nFiles = hfs.listStatus(new Path(runDir))
      .count(f => f.isFile && f.getPath.getName.endsWith(".csv"))
    val expected = pageCount(total, perPage)
    require(nFiles == expected,
      s"ingestion completeness violated: $nFiles csv files, expected $expected " +
        s"(total=$total, per_page=$perPage)")
  }
}
