package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  * One parquet file per table under `$dir/` — mirrors the reference's
  * schema-on-read parquet source (`/root/reference/dags/gold_data_aggregation.py:47`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The fixture table `name` under `dir`, in its canonical shape.
    *
    * The read carries the schema of [[fileSchema]], which comes from the
    * file's own footer, read on the driver. Without one, `read.parquet`
    * infers the schema with a one-task Spark job per load. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Fixture generations have shipped events.ts as INT64 TIMESTAMP(NANOS)
    // — which Spark's vectorized reader rejects unless read as a long —
    // and as timestamp[us]. Keep the legacy conf on so the nanos variant
    // stays readable, and canonicalize whatever arrives.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(fileSchema(spark, path)).parquet(path)
    name match {
      case "events" => normalizeEvents(df)
      // date columns that have shipped as timestamp[us]; if a future
      // regeneration flips them to TIMESTAMP(NANOS) (surfacing as long
      // under nanosAsLong), restore a timestamp rather than breaking
      // every date comparison — the same drift-absorption rule as
      // events.ts, leaving the current timestamp encodings untouched
      case "orders" => restoreTimestamp(df, "o_orderdate")
      case "lineitem" => restoreTimestamp(df, "l_shipdate")
      case _ => df
    }
  }

  /** The schema `spark.read.parquet(path)` infers, without its Spark
    * job. A single file's footer is read on the driver and converted by
    * Spark's own footer-to-schema conversion under the session's parquet
    * confs (`nanosAsLong` among them). A directory keeps Spark's
    * inference, which picks one of its files. */
  def fileSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val status = p.getFileSystem(conf).getFileStatus(p)
    if (!status.isFile) spark.read.parquet(path).schema
    else {
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(status, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(p, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  private def restoreTimestamp(df: DataFrame, colName: String): DataFrame =
    if (df.schema(colName).dataType == LongType)
      df.withColumn(colName,
        timestamp_micros(tsMicros(col(colName), LongType)))
    else df

  /** Canonical events shape: `ts` is epoch-MICROS LongType no matter
    * which physical encoding the fixture carries. Consumers (windows,
    * sessionization, range frames, as-of joins) are written against
    * this one shape; the encoding branch lives only here. */
  def normalizeEvents(df: DataFrame): DataFrame =
    df.withColumn("ts", tsMicros(col("ts"), df.schema("ts").dataType))

  /** `ts` under a given resolved type -> epoch micros (long).
    *
    *  - LongType: epoch NANOS (the nanosAsLong read of TIMESTAMP(NANOS)).
    *    Must be INTEGER division: `/` on longs is double division, and
    *    epoch-nanos (~1.7e18) exceeds 2^53, so the double path lands
    *    1 µs off for a fraction of rows.
    *  - TIMESTAMP_NTZ (timestamp[us], no tz — the current fixtures): the
    *    naive local value IS the stored micros under the engine's pinned
    *    UTC session clock, exactly how the DuckDB oracle reads the same
    *    column (`CAST(ts AS TIMESTAMP)`).
    *  - TIMESTAMP (tz-adjusted micros): already an instant. */
  def tsMicros(ts: Column, resolved: DataType): Column = resolved match {
    case LongType =>
      ColumnBridge.column(
        IntegralDivide(ColumnBridge.expression(ts), Literal(1000L)))
    case TimestampNTZType => unix_micros(ts.cast(TimestampType))
    case TimestampType => unix_micros(ts)
    case other => throw new IllegalArgumentException(
      s"events.ts: unsupported type $other (expected INT64 nanos-as-long, " +
        "timestamp, or timestamp_ntz)")
  }

  /** Canonical events.ts (epoch micros, long) -> timestamp.
    * DuckDB equivalent: `CAST(ts AS TIMESTAMP)`. */
  def eventTime(tsMicros: Column): Column = timestamp_micros(tsMicros)

  /** First row's first column as a Long, None when the frame is empty
    * or the value is NULL (e.g. an aggregate over zero rows). The
    * shared null-safe scalar extraction for derive-from-data sizing
    * (compaction targets, sketch capacities). */
  private[graft] def firstLongOption(df: DataFrame): Option[Long] =
    df.head(1).headOption.filterNot(_.isNullAt(0)).map(_.getLong(0))
}
