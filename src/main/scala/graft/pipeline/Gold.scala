package graft.pipeline

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EP3 — silver Parquet → grouped-count gold Parquet + global temp view.
  *
  * Reference: `/root/reference/dags/gold_data_aggregation.py`
  *  - `_SUCCESS`-gated latest-silver read (`:19-30,47`)
  *  - `groupBy(brewery_type, country, state).agg(count('*'))` (`:49-50`)
  *  - `createOrReplaceGlobalTempView("brewery_counts")` (`:52-53`)
  *  - catalog listing (`:55-59`)
  *  - write partitioned by country (`:62`)
  *
  * `count(lit(1))` preserves the reference's `count('*')` all-rows null
  * semantics (SURVEY.md §7.4.4). Catalyst plans the aggregate as partial
  * HashAggregate → hash-shuffle on the 3 group keys → final HashAggregate;
  * at 100 TB the group-key cardinality (type × country × state) stays tiny,
  * so the map-side partial aggregation collapses nearly all input before
  * the exchange.
  */
object Gold {

  val ViewName = "brewery_counts"

  /** The gold aggregation, as the reference writes it. */
  def aggregate(silver: DataFrame): DataFrame =
    silver.groupBy(col("brewery_type"), col("country"), col("state"))
      .agg(count(lit(1)).as("brewery_count"))

  /** Full EP3 run: latest successful silver → aggregate → register global
    * view → gold run folder. Returns the gold run dir written. */
  def run(spark: SparkSession, silverDir: String, goldDir: String,
          runTs: Instant): String = {
    val silverRun = Layers.latestSuccessfulRun(spark, silverDir).getOrElse(
      throw new IllegalStateException(
        "No directory with parquet SUCCESS file found in the Silver directory."))
    val out = s"$goldDir/${Layers.runFolderName(runTs)}"
    val counts = aggregate(spark.read.parquet(silverRun.toString))
    counts.createOrReplaceGlobalTempView(ViewName)
    // catalog RPC, as the reference logs (`gold_data_aggregation.py:55-59`)
    spark.catalog.listTables("global_temp")
    counts.write.options(graft.NioLocalFileSystem.Options).mode("overwrite")
      .partitionBy("country").parquet(out)
    out
  }
}
