package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The startup schema guard: live fixtures conform; a deliberately
  * mis-typed parquet produces ONE diagnostic naming observed vs
  * expected; all three known events.ts encodings are absorbed. */
class FixturesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("live fixtures pass the guard") {
    Fixtures.guard(spark, sf) // must not throw
  }

  test("a re-typed column yields one loud observed-vs-expected diagnostic") {
    val tmp = TempDirs.create("graft_guard")
    // events with ts re-encoded as STRING (a drift the engine can't absorb)
    // and doc-less documents (missing column) — both must be in ONE message
    Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("string"))
      .limit(10).write.parquet(s"$tmp/events.parquet")
    spark.read.parquet(s"$sf/documents.parquet").drop("n_chars")
      .limit(10).write.parquet(s"$tmp/documents.parquet")
    for (t <- Tables.names if t != "events" && t != "documents")
      spark.read.parquet(s"$sf/$t.parquet").limit(10)
        .write.parquet(s"$tmp/$t.parquet")
    val ex = intercept[IllegalStateException](Fixtures.guard(spark, tmp))
    assert(ex.getMessage.contains("events.ts"), ex.getMessage)
    assert(ex.getMessage.contains("observed string"), ex.getMessage)
    assert(ex.getMessage.contains("documents.n_chars") &&
      ex.getMessage.contains("MISSING"), ex.getMessage)
  }

  test("check() accepts every events.ts encoding tsMicros canonicalizes") {
    val base = graft.streaming.EventStream.schema
    for (dt <- Seq(LongType, TimestampType, TimestampNTZType)) {
      val s = StructType(base.map(f =>
        if (f.name == "ts") f.copy(dataType = dt) else f))
      val exp = Fixtures.expected.toMap.apply("events")
      assert(Fixtures.check("events", s, exp).isEmpty, s"rejected $dt")
    }
  }

  test("orders date column survives a nanos re-encode (restoreTimestamp)") {
    val tmp = TempDirs.create("graft_nanodate")
    val orig = spark.read.parquet(s"$sf/orders.parquet").limit(20)
    orig.withColumn("o_orderdate",
        unix_micros(col("o_orderdate").cast(TimestampType)) * 1000)
      .write.parquet(s"$tmp/orders.parquet")
    val restored = Tables.load(spark, tmp, "orders")
    assert(restored.schema("o_orderdate").dataType == TimestampType)
    val want = orig.select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast(TimestampType)).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = restored.select(col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "restored timestamps drifted from the original instants")
  }

  test("tsMicros canonicalizes all three encodings to the same micros") {
    import spark.implicits._
    val micros = 1700000000000000L // some instant, µs
    val nanos = Seq(micros * 1000).toDF("ts")
    val tsTz = Seq(micros).toDF("us").select(timestamp_micros(col("us")).as("ts"))
    val tsNtz = tsTz.select(col("ts").cast(TimestampNTZType).as("ts"))
    for (df <- Seq(nanos, tsTz, tsNtz)) {
      val got = df.select(Tables.tsMicros(col("ts"), df.schema("ts").dataType))
        .head.getLong(0)
      assert(got == micros, s"${df.schema("ts").dataType}: $got != $micros")
    }
  }
}
