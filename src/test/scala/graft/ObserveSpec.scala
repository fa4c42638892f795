package graft

import org.apache.spark.sql.functions._

import graft.ops.Observe

/** `Observe` (Dataset.observe / CollectMetrics): the metrics are
  * correct AND free — they ride the one scan the real action pays. */
class ObserveSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("gate metrics piggyback a real write's single scan") {
    val docs = Tables.load(spark, sf, "documents")
    val gate = docs.filter(length(col("text")) > 0)
    val gateMetrics = Seq(
      count(lit(1)).as("n_rows"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
      max(col("n_chars")).as("max_chars"))
    val out = TempDirs.create("graft_obs")
    // the real pipeline action is a WRITE — its own QueryExecution, so
    // the metrics must come through the listener capture
    var observedPlan: org.apache.spark.sql.DataFrame = null
    val (_, metricsOpt) = Observe.runAndCollect(gate, "gate", gateMetrics) { observed =>
      observedPlan = observed
      observed.write.mode("overwrite").parquet(s"$out/data")
    }
    val m = metricsOpt.getOrElse(fail("no observed metrics captured from the write"))
    // ground truth from an independent aggregate
    val e = docs.filter(length(col("text")) > 0).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
      max(col("n_chars")).as("max_chars")).head()
    assert(m.getLong(0) == e.getLong(0) && m.getLong(1) == e.getLong(1) &&
      m.getLong(2) == e.getLong(2),
      s"observed $m != expected $e")
    // the free-ness claim: ONE scan in the executed plan — the metrics
    // did not add a second pass over the corpus
    val observed = observedPlan
    observed.collect()
    val plan = observed.queryExecution.executedPlan.toString
    val scans = "FileScan".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly one scan, got $scans:\n${plan.take(3000)}")
    assert(plan.contains("CollectMetrics"),
      s"metrics node missing from the plan:\n${plan.take(3000)}")
  }

  test("collect()-path metrics surface on the frame's own execution") {
    val df = Observe.withMetrics(
      Tables.load(spark, sf, "nation").select(col("n_nationkey")),
      "m", count(lit(1)).as("n"))
    assert(Observe.metrics(df, "nope").isEmpty, "unknown name must miss")
    df.collect() // runs through df.queryExecution itself
    assert(Observe.metrics(df, "m").exists(_.getLong(0) == 25L),
      s"own-execution metrics missing: ${Observe.metrics(df, "m")}")
  }

  test("concurrent actions observing the same name capture their OWN rows") {
    // Two threads, same user-facing name, disjoint frames: before the
    // per-call unique tag, whichever execution's bus event landed first
    // could satisfy BOTH listeners. Now each capture is pinned to its
    // own call, so the rows must differ exactly as the inputs do.
    val nation = Tables.load(spark, sf, "nation")
    val small = nation.filter(col("n_nationkey") < 5)   // 5 rows
    val big = nation                                    // 25 rows
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fSmall = Future(Observe.runAndCollect(small, "shared",
      Seq(count(lit(1)).as("n")))(_.count()))
    val fBig = Future(Observe.runAndCollect(big, "shared",
      Seq(count(lit(1)).as("n")))(_.count()))
    val (_, mSmall) = Await.result(fSmall, 60.seconds)
    val (_, mBig) = Await.result(fBig, 60.seconds)
    assert(mSmall.exists(_.getLong(0) == 5L),
      s"small capture crossed wires: $mSmall")
    assert(mBig.exists(_.getLong(0) == 25L),
      s"big capture crossed wires: $mBig")
  }
}
