package graft.pipeline

import java.time.{Instant, ZoneId}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.NioLocalFileSystem

/** Medallion-layer path conventions and latest-run discovery.
  *
  * Reference:
  *  - run-stamped folder naming `brewery_data_{yyyy-MM-dd-HH-mm}` in
  *    America/Sao_Paulo local time
  *    (`/root/reference/dags/fetch_data_with_meta_from_api.py:15,29,34`)
  *  - latest-bronze discovery = newest `brewery_data*` folder containing
  *    `.csv` files (`…/data_transformations_bronze_to_silver.py:52-63`),
  *    here refused unless that run carries its `_SUCCESS` marker
  *  - latest-silver discovery = newest folder containing a `_SUCCESS`
  *    marker (`…/gold_data_aggregation.py:19-30`)
  *
  * Uses Hadoop `FileSystem` (not `java.io`) so the same code runs on local
  * FS, HDFS, or object stores on a real cluster. Discovery is driver-side
  * metadata work, never a DataFrame job (SURVEY.md §2.5 row 14).
  *
  * Every layer write carries [[graft.NioLocalFileSystem.Options]]: [[fs]]
  * resolves paths with them, and the Spark writes of silver, gold and
  * distributed ingest pass them with `.options`, which Spark merges into
  * the job's Hadoop conf (committer, file writers and `_SUCCESS` alike),
  * so no layer write forks a `chmod`.
  */
object Layers {

  /** Reference timezone (`fetch_data_with_meta_from_api.py:15`). Folder
    * naming is explicit-zone `java.time`, never session-TZ dependent. */
  val RunZone: ZoneId = ZoneId.of("America/Sao_Paulo")

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd-HH-mm")

  val RunPrefix = "brewery_data"

  /** The completeness marker: written last into a finished run. */
  val Marker = "_SUCCESS"

  def runFolderName(ts: Instant): String =
    s"${RunPrefix}_${fmt.format(ts.atZone(RunZone))}"

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(NioLocalFileSystem.conf(spark))

  /** Marks `runDir` complete with an empty [[Marker]]. */
  def markComplete(spark: SparkSession, runDir: String): Unit =
    fs(spark, runDir).create(new Path(runDir, Marker), true).close()

  /** Newest `brewery_data*` run folder under `layerDir` accepted by
    * `accept`; folder names sort chronologically so lexicographic
    * descending = newest first (reference `folders.sort(reverse=True)`). */
  private def latestRun(spark: SparkSession, layerDir: String)(
      accept: (FileSystem, Path) => Boolean): Option[Path] = {
    val hfs = fs(spark, layerDir)
    val base = new Path(layerDir)
    if (!hfs.exists(base)) return None
    hfs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(RunPrefix))
      .sortBy(_.getPath.getName)(Ordering[String].reverse)
      .collectFirst { case s if accept(hfs, s.getPath) => s.getPath }
  }

  /** Latest bronze run: newest folder containing at least one `.csv`
    * (`…bronze_to_silver.py:52-63`). Throws if that run has no
    * [[Marker]]: its ingest failed or is still writing, and an older run
    * is not a quiet substitute for it. */
  def latestBronzeRun(spark: SparkSession, bronzeDir: String): Option[Path] =
    latestRun(spark, bronzeDir) { (hfs, p) =>
      val names = hfs.listStatus(p).collect { case f if f.isFile => f.getPath.getName }
      val hasCsv = names.exists(_.endsWith(".csv"))
      if (hasCsv && !names.contains(Marker))
        throw new IllegalStateException(
          s"Bronze run $p has CSV files but no $Marker marker: it is incomplete.")
      hasCsv
    }

  /** Latest completed parquet run: newest folder with a `_SUCCESS` marker
    * (`gold_data_aggregation.py:26-30`) — write-completeness gating. */
  def latestSuccessfulRun(spark: SparkSession, layerDir: String): Option[Path] =
    latestRun(spark, layerDir) { (hfs, p) => hfs.exists(new Path(p, Marker)) }
}
