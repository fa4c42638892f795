package graft.pipeline

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextClean

/** EP2 — bronze CSV → cleansed, partitioned silver Parquet.
  *
  * Reference: `/root/reference/dags/data_transformations_bronze_to_silver.py`
  *  - glob CSV read, header, no inference (all-string) (`:81-84`); here
  *    [[Ingest.readBronze]], the same columns under the fixed schema
  *  - 8-column projection (`:88-90`)
  *  - slug normalize city/state/country (`:94-96`)
  *  - 7 literal mojibake fixups (`:99-105`)
  *  - `clean_text` on city/state/country (`:108-110`)
  *  - static-overwrite write partitioned by (country, state) (`:113`)
  *
  * The whole cleanse is one declarative projection: Catalyst's
  * `CollapseProject` folds the reference's 11 chained `withColumn`s into a
  * single codegen'd `Project` over the CSV scan; the partitioned write
  * needs no shuffle (per-task sort by partition cols only).
  */
object Silver {

  val columns: Seq[String] = Seq(
    "id", "name", "brewery_type", "city", "state", "country",
    "longitude", "latitude")

  /** The silver cleanse, column-for-column with the reference chain. */
  def transform(bronze: DataFrame): DataFrame =
    bronze
      .select(columns.map(col): _*)
      .withColumn("city", TextClean.slug(col("city")))
      .withColumn("state", TextClean.slug(col("state")))
      .withColumn("country", TextClean.slug(col("country")))
      .withColumn("state", TextClean.applyFixes(col("state"), TextClean.stateFixes))
      .withColumn("city", TextClean.applyFixes(col("city"), TextClean.cityFixes))
      .withColumn("name", TextClean.applyFixes(col("name"), TextClean.nameFixes))
      .withColumn("city", TextClean.cleanText(col("city")))
      .withColumn("state", TextClean.cleanText(col("state")))
      .withColumn("country", TextClean.cleanText(col("country")))

  /** Full EP2 run: latest bronze run → transform → silver run folder.
    * Returns the silver run dir written. The run is read through
    * [[Ingest.readBronze]]: one root under the fixed schema, where the
    * reference globs `*.csv` and takes the columns from the header.
    * Bronze run dirs are flat by construction, so a nested `.csv` would
    * be read as well; a file whose header differs from the schema fails
    * the run, and so does a newest run that was never marked complete
    * ([[Layers.latestBronzeRun]]). */
  def run(spark: SparkSession, bronzeDir: String, silverDir: String,
          runTs: Instant): String = {
    val bronzeRun = Layers.latestBronzeRun(spark, bronzeDir).getOrElse(
      throw new IllegalStateException(
        "No directory with CSV files found in the bronze directory."))
    val out = s"$silverDir/${Layers.runFolderName(runTs)}"
    transform(Ingest.readBronze(spark, bronzeRun.toString))
      .write.options(graft.NioLocalFileSystem.Options).mode("overwrite")
      .partitionBy("country", "state") // static overwrite, as the reference (SURVEY.md §4)
      .parquet(out)
    out
  }
}
