package graft

/** Dev tool: time named queries k times in ONE JVM with Bench's exact
  * session configuration — the clean-box re-measure step the bench-drift
  * gate (scripts/bench_drift.py) prescribes before shipping or explaining
  * a per-query regression. Prints per-run wall times so warm-vs-cold and
  * run-to-run variance are visible (Bench's min-of-two hides both).
  * Usage: runMain graft.BenchOne <sfDir> <n1,n2,...> [k]; cores default
  * to Bench's 4, and SPARK_GRAFT_CPUS overrides them as it does Bench's.
  * Not part of the driver contract. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val k = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.start(cpus)
    try Bench.warmup(spark, sfDir) catch {
      case e: Throwable => System.err.println(s"[benchone] warmup failed: $e")
    }
    spark.catalog.clearCache()
    names.foreach { n =>
      val times = (1 to k).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[benchone] $n: ${times.map(t => f"$t%.2f").mkString(" ")} s")
    }
    spark.stop()
  }
}
