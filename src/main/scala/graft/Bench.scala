package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** JIT/classloading warmup so per-query timings measure the engine, not
    * first-touch compilation: exercises parquet scan, hash agg + shuffle,
    * broadcast join, sort, codegen'd expressions, generate/explode,
    * window functions, regex extraction, and the streaming micro-batch
    * engine on tiny slices. It also stages every registered [[Stager]]
    * for `sfDir`, so each face times its operator (the drain, the probe,
    * the pruned scan) and never the staging write of its fixture. */
  private[graft] def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
    li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity"))).count()
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
    val r = spark.read.parquet(s"$sfDir/region.parquet")
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .orderBy(col("n_name")).count()
    // generate + regex + window codepaths (first-touch costs seconds)
    li.select(explode(regexp_extract_all(lit("x1 y2 z3"), lit("[a-z0-9]+"), lit(0)))
      .as("t")).count()
    li.withColumn("rn",
        row_number().over(Window.partitionBy(col("l_returnflag")).orderBy(col("l_orderkey"))))
      .filter(col("rn") <= 2).count()
    // streaming engine (micro-batch planner, state store, memory sink)
    graft.streaming.EventStream.runToMemory(spark,
      graft.streaming.EventStream.hourlyCounts(
        graft.streaming.EventStream.readEvents(spark, sfDir)))
    // curation + custom-expression codegen on tiny slices: the composed
    // scoring/minhash/CC and SRP trees cost seconds at first touch
    // (measured: c01 cold 10.2 s vs 2.5 s warm at sf0.1) — warming them
    // here makes per-query numbers measure the engine, not the JIT
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(120)
    graft.ops.Curation.reportDF(spark, docs)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
    graft.ops.Similarity.ivfNearDupPairs(emb, 0.99, nCells = 4, nProbe = 2).count()
    // every write-once fixture: evaluating the inventory initializes
    // each family object, which registers its stagers
    SparkEntry.queries: Unit
    Stager.all.foreach(_(spark, sfDir))
    // cold engine paths the first block misses (measured: the first
    // RocksDB/transformWithState query of a run paid 2-4 s of provider
    // + codegen first-touch that its family never pays again): drive a
    // 5-user slice once through (a) transformWithState with event-time
    // TIMERS on the RocksDB provider, (b) the `statestore` reader over
    // that checkpoint, (c) a stream-stream interval join, and (d)
    // dropDuplicatesWithinWatermark + session_window — one tiny batch
    // each, so per-query timings measure the operator, not first-touch
    import graft.streaming.EventStream
    val ts = graft.queries.StreamMediaQueries.ensureTimerSessionStream(spark, sfDir)
    // one batch: every staged file in the first trigger
    def tiny = ts.read(spark, perTrigger = Int.MaxValue)
    EventStream.withRocksDBState(spark) {
      import spark.implicits._
      val wdir = graft.TempDirs.create("graft_warm_tws")
      EventStream.runToFiles(spark,
        EventStream.timerSessionStream(
          tiny.filter(col("user_id") < 5 || col("user_id") < 0).as[EventStream.Event],
          EventStream.SessionGapMicros).toDF(),
        wdir).count()
      EventStream.readState(spark, wdir, "stateVarName" -> "sess").count()
    }
    def wside(ty: String, p: String) = tiny
      .filter((col("event_type") === ty && col("user_id") < 5) || col("user_id") < 0)
      .select(col("user_id").as(s"${p}_user"),
        graft.Tables.eventTime(col("ts")).as(s"${p}_time"))
      .withWatermark(s"${p}_time", "2 hours")
    EventStream.runToFiles(spark,
      wside("view", "v").join(wside("purchase", "p"),
        col("v_user") === col("p_user") &&
          col("p_time") >= col("v_time") &&
          col("p_time") <= col("v_time") + expr("INTERVAL 1 HOUR"), "full_outer")
    ).count()
    EventStream.runToFiles(spark,
      tiny.filter(col("user_id") < 5)
        .withColumn("event_time", graft.Tables.eventTime(col("ts")))
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("user_id"),
          session_window(col("event_time"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n")).drop("w")
    ).count()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.start(cpus)
    // fixture drift check OUTSIDE the warmup swallow: one loud diagnostic
    // up front (the round-8 events.ts re-encode turned into 13 scattered
    // failures precisely because nothing said this first). Non-fatal —
    // timings for unaffected queries are still worth collecting.
    try Fixtures.guard(spark, sfDir)
    catch { case e: IllegalStateException => System.err.println(s"[bench] ${e.getMessage}") }
    // a broken warmup must stay NON-fatal (timings are still worth
    // collecting) but LOUD: swallowing it silently shifts staging +
    // first-touch costs back into whichever queries the shuffled order
    // runs first — exactly the round-18 phantom-regression class
    try warmup(spark, sfDir) catch {
      case e: Throwable =>
        System.err.println(s"[bench] warmup failed (continuing; first-touch " +
          s"costs may land in timed queries): $e")
    }
    // warmup (curation/SRP) may leave cached blocks behind on failure
    spark.catalog.clearCache()
    // RANDOMIZED execution order, seeded and recorded: a box-slow phase
    // used to smear a contiguous ALPHABETICAL block (round 17: q154-q164
    // all drifted together), which the drift gate could neither
    // de-correlate nor distinguish from a real neighborhood regression.
    // Shuffling per run turns a wall-clock phase into a random-name
    // subset, and the recorded per-query start offsets let the gate's
    // timeline trigger see the cluster for what it is. The seed lands in
    // the artifact so any single run remains exactly reproducible.
    // (Sorting first keeps the shuffle a pure function of the seed —
    // a Map's hash order shifts when entries are added.)
    // emitted as a JSON STRING: nanoTime commonly exceeds 2^53, and a
    // double-based JSON consumer (jq -e, JS tooling) would silently
    // round a bare number, breaking exact reproducibility from the
    // artifact (Python-side parsing reads either form losslessly)
    val orderSeed = System.nanoTime()
    val rng = new scala.util.Random(orderSeed)
    val benchT0 = System.nanoTime()
    val startedAt = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val results = rng.shuffle(SparkEntry.queries.toSeq.sortBy(_._1)).map { case (name, fn) =>
      startedAt(name) = (System.nanoTime() - benchT0) / 1000000000L
      def once(): Double = {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // Cached intermediates (minhash grams, banded signatures, IVF
        // assignments) are per-query working state: release them so later
        // queries never compete with dead blocks for executor memory —
        // the round-2 systemic regression (13 unrelated queries >2x).
        spark.catalog.clearCache()
        // a failed query reports -1, never a misleading fast wall-time
        if (ok) elapsed else -1.0
      }
      // min of two runs: the bench box has produced phantom per-query
      // outliers three rounds running (co-scheduled load, not the
      // engine); the min of two back-to-back runs is robust to a
      // transient stall while a single run is not. A failed first run
      // skips the retry — failures should stay loud, not be retried
      // into a timing.
      val first = once()
      name -> (if (first < 0) first
      else {
        // a failed RETRY must not discard the valid first measurement
        // (min(first, -1) would report the query as failed after it
        // succeeded): keep the first run's time; the retry failure is
        // already loud on stderr
        val second = once()
        if (second < 0) first else math.min(first, second)
      })
    }
    // 3-decimal times keep the one-line JSON short (a 75-query line with
    // 17-digit doubles overflows the driver's capture — round 2 lost the
    // tail). Locale.ROOT: the f-interpolator honors the JVM default
    // locale, and a comma decimal separator would corrupt the JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // per-query start offsets (whole seconds since bench start, in
    // EXECUTION order) feed the drift gate's timeline trigger: drifted
    // queries clustering in wall-clock time = a box phase, even when
    // their names are scattered. Deliberately integers — the gate's
    // tail-recovery regex for truncated driver artifacts only matches
    // decimal times, so these can never pollute a recovered query map.
    val started = startedAt.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // failures are listed explicitly (and carry -1 in `queries`) so a
    // crashing query can't read as a faster total
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // headline fields BEFORE the per-query map: if the driver's
    // capture truncates the line (round 2 lost the tail), the total,
    // failure list, and sf survive — only per-query detail is at risk
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","failed":$failed,"order_seed":"$orderSeed","queries":$qs,"started":$started}""")
    // …and AGAIN as a short trailer line: rounds 3-5 showed the driver's
    // capture keeps the TAIL, so the leading headline (and the first ~30
    // queries) vanished with it. A headline at both ends survives either
    // truncation direction; parsers that json.loads the last line get a
    // complete record here. "trailer":true disambiguates the two lines
    // for consumers that select by metric name instead of taking the
    // last line.
    println(s"""{"metric":"total","trailer":true,"value":${fmt(total)},"unit":"sec","sf":"$sfDir","failed":$failed,"n_queries":${results.size}}""")
    // …and the FULL line as a durable file artifact: the driver's
    // stdout capture has truncated per-query detail three rounds
    // running (r8's committed BENCH json carried only the tail), so the
    // complete record also lands on disk where a round-end commit picks
    // it up. Best-effort — a read-only checkout must not fail the bench.
    // Cwd-relative default so any checkout location gets the artifact
    // next to itself; SPARK_GRAFT_BENCH_OUT overrides.
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File("bench_last.json").getAbsolutePath)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact),
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","failed":$failed,"order_seed":"$orderSeed","queries":$qs,"started":$started}""" + "\n")
    catch { case _: Exception => () }
    spark.stop()
  }
}
