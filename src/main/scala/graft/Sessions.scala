package graft

import org.apache.spark.sql.SparkSession

/** The one local-session posture every main and the test suite run
  * under: `local[cpus]` with as many shuffle partitions, the UTC clock
  * (events.ts normalization in [[Tables.tsMicros]] reads the fixtures'
  * naive timestamps under the session clock, the same clock the DuckDB
  * oracle uses), no UI, and [[graft.functions.GraftExtensions]] — the
  * custom expressions plus the semantics-preserving optimizer rules,
  * installed as a cluster deployment would with
  * `spark.sql.extensions`. Callers add what is theirs (an app name, a
  * warehouse dir) before `getOrCreate()`. */
object Sessions {

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)

  /** [[builder]]'s session, with Spark's own logging cut to `logLevel`. */
  def start(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
