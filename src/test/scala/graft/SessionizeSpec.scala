package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

/** Semantic pin for q72's batch sessionization: the 30-minute gap rule,
  * boundary inclusivity (a gap of EXACTLY 30 min does NOT split), and
  * the exact-long duration arithmetic, on a hand-built fixture where
  * the expected sessions are enumerable. The value-level gate vs DuckDB
  * is scripts/local_check.py; this spec pins the semantics a hash
  * mismatch would only report, not explain. */
class SessionizeSpec extends SparkSpec {

  test("q72: gap >30min splits, ==30min does not, singletons count") {
    import spark.implicits._
    val t0 = 1700000000000000L // epoch micros
    val min = 60L * 1000 * 1000
    def ts(us: Long) = new Timestamp(us / 1000)
    // user 1: [t0, t0+10m] then a 40-min gap -> second session [t0+50m]
    // user 2: one event -> one session, duration 0
    // user 3: events exactly 30 min apart -> ONE session (boundary is >)
    val rows = Seq(
      (1L, 10L, ts(t0)), (1L, 11L, ts(t0 + 10 * min)), (1L, 12L, ts(t0 + 50 * min)),
      (2L, 20L, ts(t0)),
      (3L, 30L, ts(t0)), (3L, 31L, ts(t0 + 30 * min)))
    val dir = TempDirs.create("q72fix")
    rows.toDF("user_id", "event_id", "ts")
      .select(col("event_id"), col("ts"), col("user_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q72_batch_sessionize")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_sessions"),
        r.getAs[Long]("n_events"), r.getAs[Double]("avg_sess_dur_s"),
        r.getAs[Double]("max_sess_dur_s")))
      .toList
    assert(out == List(
      (1L, 2L, 3L, 300.0, 600.0), // sessions: 600 s and 0 s
      (2L, 1L, 1L, 0.0, 0.0),
      (3L, 1L, 2L, 1800.0, 1800.0)), out.toString)
  }
}
