package graft.pipeline

import java.time.Instant

/** The sequential 3-stage driver replacing the reference's Airflow DAG
  * chain fetch → silver → gold (`TriggerDagRunOperator`, ALL_SUCCESS —
  * `/root/reference/dags/fetch_data_with_meta_from_api.py:102-108`,
  * `…bronze_to_silver.py:135-141`; SURVEY.md §2.8). Each stage returns the
  * path it wrote; failure = exception = chain stops, exactly the
  * ALL_SUCCESS trigger-rule semantics.
  *
  * Usage: `runMain graft.pipeline.Main <dataDir> [nRows] [--distributed]`
  * (offline [[SampleFetcher]]; swap an HTTP fetcher in production).
  * `--distributed` routes ingest through [[Ingest.ingestDistributed]] —
  * the executor page fan-out that the 100 TB deployment uses (the
  * default driver loop is reference-parity) — so the scale path stays
  * exercised end-to-end through silver and gold, not only in specs.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val distributed = args.contains("--distributed")
    val positional = args.filterNot(_.startsWith("--"))
    val dataDir = positional.headOption.getOrElse("/tmp/graft_medallion")
    val nRows = positional.lift(1).map(_.toInt).getOrElse(450)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Sessions.builder(cpus).appName("graft-medallion")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val now = Instant.now()
      val fetcher = new SampleFetcher(nRows)
      val bronze =
        if (distributed)
          Ingest.ingestDistributed(spark, fetcher, s"$dataDir/bronze", now)
        else Ingest.ingest(spark, fetcher, s"$dataDir/bronze", now)
      println(s"[bronze] $bronze${if (distributed) " (distributed)" else ""}")
      val silver = Silver.run(spark, s"$dataDir/bronze", s"$dataDir/silver", now)
      println(s"[silver] $silver")
      val gold = Gold.run(spark, s"$dataDir/silver", s"$dataDir/gold", now)
      println(s"[gold]   $gold")
      spark.table(s"global_temp.${Gold.ViewName}")
        .orderBy("brewery_count").show(5, truncate = false)
    } finally spark.stop()
  }
}
