package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Stager, Tables}
import graft.ops.{Multimodal, Similarity}
import graft.streaming.EventStream
import graft.streaming.EventStream.Arrivals

/** Streaming + multimodal query surface. st01/st02 run the real
  * Structured Streaming / typed-Dataset engines and still have DuckDB
  * oracles (windowed counts ≡ date_trunc group-by; sessionization ≡
  * gaps-and-islands SQL). m* queries exercise the binary-column
  * plumbing; m01 is oracle-checked, feature outputs are seed-dependent
  * (ScalaTest-gated). */
object StreamMediaQueries {

  /** m04's object-store fixture: one payload file per media row for the
    * first [[MediaFileCount]] ids. Bounded deliberately: a file per
    * object is how media corpora ARRIVE, but Hadoop's per-file open
    * costs ~2-3 ms on local FS (measured), so an unbounded tiny-file
    * scan is the documented 100 TB anti-pattern — real pipelines ingest
    * a bounded manifest slice per task (or shard objects into
    * archives); the query demonstrates the source on exactly such a
    * slice. */
  val MediaFileCount = 500

  val ensureMediaFiles: Stager[String] = Stager("graft_m04") { (s, d, tmp) =>
    // driver-side writes (toLocalIterator): the fixture dir is a
    // DRIVER-local path, which executor-side foreachPartition would
    // only reach in local mode; the slice is bounded so streaming it
    // through the driver is small and cluster-correct
    Multimodal.fromDocuments(Tables.load(s, d, "documents")).toDF()
      .filter(col("media_id") < MediaFileCount)
      .select(col("media_id"), col("payload"))
      .toLocalIterator().forEachRemaining { r =>
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/${r.getLong(0)}.bin"),
          r.getAs[Array[Byte]](1))
      }
    tmp
  }

  /** st27's arrival fixture: (doc_id, text, source) staged as 4 files
    * — the document crawl as it lands. */
  val ensureDocCardStream: Stager[Arrivals] = Stager("graft_st27in") { (s, d, tmp) =>
    Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/in")
    Arrivals.of(s, s"$tmp/in")
  }

  /** st43's arrival fixture: the lineitem facts as 3 files (hash split
    * — the gate's metrics are algebraic sums, so arrival order is
    * immaterial). */
  val ensureGateStream: Stager[Arrivals] = Stager("graft_st43in") { (s, d, tmp) =>
    Tables.load(s, d, "lineitem")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/in")
    Arrivals.of(s, s"$tmp/in")
  }

  /** st52's staging: the customer dim as 3 unordered parquet tiles —
    * k-anonymity class sizes are algebraic counts, so no arrival
    * contract is needed (the [[ensureGateStream]] pattern). */
  val ensureCustomerStream: Stager[Arrivals] = Stager("graft_st52in") { (s, d, tmp) =>
    Tables.load(s, d, "customer")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/in")
    Arrivals.of(s, s"$tmp/in")
  }

  /** st53's staging: the orders fact (custkey + orderdate only) as 3
    * unordered tiles — bitmap OR is commutative, so arrival order is
    * irrelevant. */
  val ensureOrderFactStream: Stager[Arrivals] = Stager("graft_st53in") { (s, d, tmp) =>
    Tables.load(s, d, "orders")
      .select(col("o_custkey"), col("o_orderdate"))
      .repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/in")
    Arrivals.of(s, s"$tmp/in")
  }

  /** st54's arrival fixture: the events corpus as 3 ts-range tiles
    * (global-time-ordered arrival, the watermark contract: no event
    * arrives after the watermark passed it) plus TWO trailing
    * single-row watermark pushers for the sentinel user −1 at
    * maxTs + 24 h and + 48 h. Two, because an event-time timer armed
    * before batch k fires in the first batch whose START watermark
    * (= data through batch k−1) passes it: the first pusher commits the
    * +24 h watermark, the second gives the engine a batch to fire every
    * real user's final-session timer in — no reliance on trailing
    * no-data micro-batches. */
  val ensureTimerSessionStream: Stager[Arrivals] = Stager("graft_st54") { (s, d, tmp) =>
    val inDir = s"$tmp/in"
    val events = Tables.load(s, d, "events")
    val maxTs = events.agg(max(col("ts"))).head().getLong(0)
    events.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartitionByRange(3, col("ts"))
      .write.mode("overwrite").parquet(inDir)
    finishEventTiles(s, inDir, Stager.parts(inDir), maxTs)
    Arrivals.of(s, inDir)
  }

  /** Shared tail of the ts-range tiled event fixtures
    * ([[ensureTimerSessionStream]]/[[ensureBootstrapSessionStream]]):
    * append the TWO sentinel watermark pushers for user −1 at
    * maxTs + 24 h / + 48 h (two, because an event-time timer armed
    * before batch k fires in the first batch whose START watermark
    * passes it) and pin arrival order: `tiles` in the given order, then
    * the pushers. */
  private def finishEventTiles(s: SparkSession, inDir: String,
      tiles: Seq[java.io.File], maxTs: Long): Unit = {
    import s.implicits._
    def pusher(id: Long, ts: Long, name: String): java.io.File =
      Stager.oneFile(Seq((id, ts, -1L, "flush", 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"), inDir, name)
    val dayUs = 24L * 3600 * 1000 * 1000
    Stager.arrive(tiles ++ Seq(pusher(-1L, maxTs + dayUs, "z0_push"),
      pusher(-2L, maxTs + 2 * dayUs, "z1_push")))
  }

  /** st69's at-least-once fixture: the events corpus as 3 ts-range
    * tiles WITH deliberate duplicates — every event_id % 7 == 0 row
    * appears twice in its own tile (same-batch redelivery) and every
    * event_id % 4 == 0 row from the last 30 min of a tile is replayed
    * into the NEXT tile (cross-batch redelivery, the shape a network
    * retry produces). Both kinds arrive within the 1 h watermark delay
    * of their originals: the cross-tile copy's ts ≥ tileMax − 30 min >
    * batch-start watermark (tileMax − 1 h), so it is neither dropped
    * as late nor past the dedup key's state retention (ts + 1 h).
    * Plus st54's two sentinel pushers and the same arrival order. */
  val ensureDupEventStream: Stager[Arrivals] = Stager("graft_st69") { (s, d, tmp) =>
    val inDir = s"$tmp/in"
    val events = Tables.load(s, d, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val maxTs = events.agg(max(col("ts"))).head().getLong(0)
    // fixture staging only: the single-partition ntile is the tiler,
    // never the timed operator (one pass at build, cached per JVM)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("event_id"))
    val tiled = events.withColumn("tile", ntile(3).over(w)).cache()
    val tileMax = tiled.groupBy(col("tile")).agg(max(col("ts")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val halfHourUs = 30L * 60 * 1000 * 1000
    val tiles = (1 to 3).map { k =>
      val cur = tiled.filter(col("tile") === k).drop("tile")
      val dupSame = cur.filter(col("event_id") % 7 === 0)
      val dupCross =
        if (k == 1) cur.limit(0)
        else tiled.filter(col("tile") === (k - 1) &&
            col("ts") >= lit(tileMax(k - 1) - halfHourUs) &&
            col("event_id") % 4 === 0)
          .drop("tile")
      Stager.oneFile(cur.unionByName(dupSame).unionByName(dupCross), inDir, s"t$k")
    }
    tiled.unpersist()
    finishEventTiles(s, inDir, tiles, maxTs)
    Arrivals.of(s, inDir)
  }

  /** st72's two-feed fixture: the events corpus split by user parity
    * into TWO independent feeds with deliberately ASYMMETRIC tiling —
    * the even-user feed arrives as 3 ts-range tiles (a live drip), the
    * odd-user feed as ONE lump (a backfill). The asymmetry is the
    * point: the lump feed's clock jumps to the global max after its
    * first batch while the tiled feed is still two tiles behind, so
    * the union's min-over-inputs watermark is what PROTECTS the tiled
    * feed's later rows — under multipleWatermarkPolicy=max they would
    * arrive below the jumped watermark and be dropped as late
    * (StreamingSpec proves exactly that). Each feed carries its own
    * two sentinel pushers at the global maxTs: a feed whose clock
    * stops early would hold the min back forever. */
  val ensureUnionFeeds: Stager[(Arrivals, Arrivals)] = Stager("graft_st72") { (s, d, tmp) =>
    val events = Tables.load(s, d, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val maxTs = events.agg(max(col("ts"))).head().getLong(0)
    def feed(name: String, cond: org.apache.spark.sql.Column,
             nTiles: Int): Arrivals = {
      val inDir = s"$tmp/$name"
      events.filter(cond)
        .repartitionByRange(nTiles, col("ts"))
        .write.mode("overwrite").parquet(inDir)
      finishEventTiles(s, inDir, Stager.parts(inDir), maxTs)
      Arrivals.of(s, inDir)
    }
    (feed("even", col("user_id") % 2 === 0, 3),
      feed("odd", col("user_id") % 2 =!= 0, 1))
  }

  /** st63's handoff fixture, `(batchDir, stream)`: the events corpus
    * cut at the FIRST ts-range boundary — the earliest tile lands in
    * `batchDir` (the backfill's input), the later two tiles plus st54's
    * two watermark pushers are the stream the new job drains, in
    * [[ensureTimerSessionStream]]'s arrival order. */
  val ensureBootstrapSessionStream: Stager[(String, Arrivals)] = Stager("graft_st63") { (s, d, tmp) =>
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    val batchDir = new java.io.File(s"$tmp/batch"); batchDir.mkdirs()
    val stage = s"$tmp/stage"
    val events = Tables.load(s, d, "events")
    val maxTs = events.agg(max(col("ts"))).head().getLong(0)
    events.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartitionByRange(3, col("ts"))
      .write.mode("overwrite").parquet(stage)
    // range partition index == file order: part-00000 is the lowest
    // ts range — the batch half; the rest stream
    val parts = Stager.parts(stage)
    java.nio.file.Files.move(parts.head.toPath,
      new java.io.File(batchDir, "batch.parquet").toPath)
    val streamed = parts.tail.map { f =>
      val dst = new java.io.File(inDir, f.getName)
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst
    }
    finishEventTiles(s, inDir.getPath, streamed, maxTs)
    (batchDir.getPath, Arrivals.of(s, inDir.getPath))
  }

  /** m09's staging: (media_id, payload) parquet mixing all three decode
    * classes deterministically by id mod 3 — a REAL PNG (id-derived
    * dimensions, [[Multimodal.ImageCodec.pngBytes]]), the same PNG cut
    * at 24 bytes (signature intact, body gone — the truncated-transfer
    * case), and raw UTF-8 text bytes (the misrouted-row case). Bounded
    * to media_id < 500 (the m04 slice rule). */
  val ensureDecodeMixFiles: Stager[String] = Stager("graft_m09in") { (s, d, tmp) =>
    import s.implicits._
    Tables.load(s, d, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val payload = (id % 3) match {
          case 0L => Multimodal.ImageCodec.pngBytes(id)
          case 1L => Multimodal.ImageCodec.pngBytes(id).take(24)
          case _ => text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
        (id, payload)
      }
      .toDF("media_id", "payload")
      .write.mode("overwrite").parquet(s"$tmp/in")
    s"$tmp/in"
  }

  /** q141's distinct per-supplier intervals `(sk, lo, hi)`, cached, with
    * `arr` the arrival key st47/st50 tile by. */
  private def supplierIntervals(s: SparkSession, d: String,
      arr: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val day = datediff(to_date(col("l_shipdate")), lit("1990-01-01")).cast("long")
    Tables.load(s, d, "lineitem")
      .select(col("l_suppkey").as("sk"), day.as("lo"),
        (day + round(col("l_quantity")).cast("long")).as("hi"))
      .distinct()
      .withColumn("arr", arr(col("lo")))
      .cache()
  }

  /** Stages `iv` as 3 arrival-key-range waves plus a per-supplier
    * sentinel flush wave (lo = hi = Long.MaxValue), arriving in that
    * order. */
  private def stageIntervalWaves(s: SparkSession, iv: DataFrame, inDir: String): Arrivals = {
    val mm = iv.agg(min(col("arr")).as("mn"), max(col("arr")).as("mx")).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val span = math.max(mx - mn + 1, 1L)
    val waves = (0 to 2).map { t =>
      Stager.oneFile(iv.filter(((col("arr") - mn) * 3L / span).cast("long") === t)
        .select(col("sk"), col("lo"), col("hi")), inDir, s"b$t")
    }
    val sentinel = Stager.oneFile(iv.select(col("sk")).distinct()
      .select(col("sk"), lit(Long.MaxValue).as("lo"),
        lit(Long.MaxValue).as("hi")), inDir, "b3_flush")
    iv.unpersist()
    Stager.arrive(waves :+ sentinel)
    Arrivals.of(s, inDir)
  }

  /** st47's arrival fixture: q141's intervals as 3 lo-VALUE-range waves
    * plus the sentinel flush wave. Value-range tiling (not rank tiling)
    * means equal-lo rows can never straddle a batch boundary out of
    * order — the arrival contract the sweep-line fold needs. */
  val ensureIntervalStream: Stager[Arrivals] = Stager("graft_st47") { (s, d, tmp) =>
    stageIntervalWaves(s, supplierIntervals(s, d, lo => lo), s"$tmp/in")
  }

  /** st50's arrival fixture: the SAME intervals as st47, but tiled by a
    * JITTERED arrival key `lo + j, j = deterministic hash in
    * [0, slack)` — so delivery order genuinely violates (lo, hi) order
    * (the ordered fold's guard would throw on it) while staying inside
    * the watermark contract: if y is delivered no later than x then
    * `y.lo <= y.lo + j_y <= x.lo + j_x < x.lo + slack`, hence every
    * arrival satisfies `lo > maxLoSeen - slack`. Sentinel flush wave
    * last. */
  private[graft] val st50SlackDays = 3L

  val ensureIntervalStreamJittered: Stager[Arrivals] = Stager("graft_st50") { (s, d, tmp) =>
    val jitter = pmod(col("sk") * 1315423911L + col("lo") * 2654435761L +
      col("hi") * 97L, lit(st50SlackDays))
    stageIntervalWaves(s, supplierIntervals(s, d, lo => lo + jitter), s"$tmp/in")
  }

  /** st29's arrival fixture: two dimension-update batches against the
    * customer dim — (key, new segment) files delivered in order at one
    * file per trigger (batch 0: keys ≡0 mod 7 → MACHINERY; batch 1:
    * keys ≡0 mod 5 → HOUSEHOLD). SCD2 history DEPENDS on batch
    * boundaries by design (which batch closed a row is the recorded
    * fact), so the fixture pins them exactly like st12/st24's arrival
    * fixtures, and the oracle replays the same two waves in order. */
  val ensureDimUpdateStream: Stager[Arrivals] = Stager("graft_st29") { (s, d, tmp) =>
    val inDir = s"$tmp/in"
    val cust = Tables.load(s, d, "customer")
    Stager.arrive(Seq(
      Stager.oneFile(cust.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("k"), lit("MACHINERY").as("new_seg")), inDir, "b0"),
      Stager.oneFile(cust.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("k"), lit("HOUSEHOLD").as("new_seg")), inDir, "b1")))
    Arrivals.of(s, inDir)
  }

  /** st34's arrival fixture: the q83 hourly aggregate (user_id < 20,
    * DECIMAL-exact sums) as 3 HOUR-range-ordered files delivered in
    * hour order — each (user, hour) row exists once globally, so
    * hour-ordered files give every user in-order arrival with no
    * sentinel (a user's last hour is its grid end). */
  val ensureLocfStream: Stager[Arrivals] = Stager("graft_st34") { (s, d, tmp) =>
    val hourUs = EventStream.HourMicros
    val inDir = s"$tmp/in"
    Tables.load(s, d, "events")
      .filter(col("user_id") < 20)
      .groupBy(col("user_id"), expr(s"ts DIV $hourUs").as("h"))
      .agg(count(lit(1)).as("n_ev"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_v"))
      .repartitionByRange(3, col("h"))
      .write.mode("overwrite").parquet(inDir)
    Stager.arrive(Stager.parts(inDir))
    Arrivals.of(s, inDir)
  }

  /** st12's arrival fixture: the events corpus as 3 time-range-ordered
    * files plus a final per-user sentinel-flush file, delivered in that
    * order. */
  val ensureSessionStream: Stager[Arrivals] = Stager("graft_st12") { (s, d, tmp) =>
    val events = Tables.load(s, d, "events")
    val maxTs = events.agg(max(col("ts"))).head().getLong(0)
    val inDir = s"$tmp/in"
    events.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartitionByRange(3, col("ts"))
      .write.mode("overwrite").parquet(inDir)
    val ranged = Stager.parts(inDir)
    val sentinel = Stager.oneFile(events.select(col("user_id")).distinct()
      .select((-col("user_id") - 1).as("event_id"),
        lit(maxTs + 24L * 3600 * 1000 * 1000).as("ts"), // +24 h in µs
        col("user_id"), lit("flush").as("event_type"),
        lit(0.0).as("value"), lit("").as("props")), inDir, "flush")
    Stager.arrive(ranged :+ sentinel)
    Arrivals.of(s, inDir)
  }

  /** The ordered-session faces' input: [[ensureSessionStream]]'s
    * arrivals as typed events, sentinel flushes dropped. */
  private def sessionEvents(s: SparkSession, d: String): Dataset[EventStream.Event] = {
    import s.implicits._
    ensureSessionStream(s, d).read(s).as[EventStream.Event]
      .filter(_.event_type != "flush")
  }

  /** st24's arrival fixture: the events corpus as three deterministic
    * equal-width TIME-RANGE thirds arriving MIDDLE → NEWEST → OLDEST
    * (a backfill landing behind live traffic) plus a +24 h flush
    * sentinel, delivered in that order at one file per trigger.
    * The tile is one map-side integer
    * expression per row — `((ts − min) · 3) div span` — engine-portable
    * (the oracle replays the identical arithmetic) and free of the
    * single-partition sort an ntile-over-total-order split funnels the
    * corpus through; the only global work is one min/max aggregate.
    * (repartitionByRange is still out: its range boundaries come from
    * Spark-internal sampling the oracle cannot reproduce.) */
  val ensureLateAuditStream: Stager[Arrivals] = Stager("graft_st24") { (s, d, tmp) =>
    val inDir = s"$tmp/in"
    val events = Tables.load(s, d, "events")
    val mm = events.agg(min(col("ts")), max(col("ts"))).head()
    val minTs = mm.getLong(0); val maxTs = mm.getLong(1)
    val span = maxTs - minTs + 1
    val tiled = events
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("tile",
        expr(s"((ts - ${minTs}L) * 3) div ${span}L").cast("int") + 1)
    def tile(t: Int, name: String) =
      Stager.oneFile(tiled.filter(col("tile") === t).drop("tile"), inDir, name)
    Stager.arrive(Seq(tile(2, "b0_mid"), tile(3, "b1_new"), tile(1, "b2_old"),
      Stager.oneFile(s.range(1).select(
        lit(-1L).as("event_id"),
        lit(maxTs + 24L * 3600 * 1000 * 1000).as("ts"),
        lit(-1L).as("user_id"), lit("flush").as("event_type"),
        lit(0.0).as("value"), lit("").as("props")), inDir, "b3_flush")))
    Arrivals.of(s, inDir)
  }

  /** st39's supply-flow stream: lineitem pre-projected to
    * (pk, sk, qty, price_c) and staged as 3 waves split by
    * `l_orderkey % 3` (pure modulo — no sort of any kind), delivered
    * in wave order. */
  val ensureLineitemStream: Stager[Arrivals] = Stager("graft_st39") { (s, d, tmp) =>
    val inDir = s"$tmp/in"
    val li = Tables.load(s, d, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"),
        (col("l_orderkey") % 3).cast("int").as("tile"))
    Stager.arrive((0 to 2).map(t => Stager.oneFile(
      li.filter(col("tile") === t).select("pk", "sk", "qty", "price_c"), inDir, s"b$t")))
    Arrivals.of(s, inDir)
  }

  /** st38's arrival fixture: the orders table staged as THREE
    * deterministic order-date thirds (the same engine-portable integer
    * tile arithmetic as [[ensureLateAuditStream]] — no global sort),
    * each wave one parquet file, delivered in date order. Rows carry
    * (k, month) pre-derived so the drain joins and rolls up without
    * re-parsing dates; every run drains into its own versioned view. */
  val ensureOrderStream: Stager[Arrivals] = Stager("graft_st38") { (s, d, tmp) =>
    val inDir = s"$tmp/in"
    val o = Tables.load(s, d, "orders")
      .select(col("o_orderkey").as("k"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        datediff(col("o_orderdate"), lit("1990-01-01")).cast("long").as("dd"))
    val mm = o.agg(min(col("dd")), max(col("dd"))).head()
    val minD = mm.getLong(0); val span = mm.getLong(1) - minD + 1
    val tiled = o.withColumn("tile",
      expr(s"((dd - ${minD}L) * 3) div ${span}L").cast("int") + 1)
    Stager.arrive((1 to 3).map(t => Stager.oneFile(
      tiled.filter(col("tile") === t).select("k", "month"), inDir, s"b$t")))
    Arrivals.of(s, inDir)
  }

  /** st07/st13's arrival fixture: the documents corpus staged as 4
    * parquet files, streamed one per micro-batch so the store merges 4
    * genuine incremental deliveries. The drain never MUTATES its input
    * (only the per-run store does), and merge order is associative
    * (DedupStore's contract), so sharing the files across runs cannot
    * change results. */
  val ensureDedupStreamInput: Stager[Arrivals] = Stager("graft_st07in") { (s, d, tmp) =>
    Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/in")
    Arrivals.of(s, s"$tmp/in")
  }

  /** st15/st16's store fixture: the documents corpus delivered as TWO
    * DSv2 batch writes (even doc_ids, then odd) into a per-(JVM, sf)
    * store, returning `(storeDir, cursor)` where the cursor names the
    * version after delivery one — the sync point st16's change feed
    * reads from. Lookup and changedSince are pure reads (neither
    * mutates the store), so the queries time the bucket-/cursor-pruned
    * READS — the operation a serving or downstream-sync consumer
    * repeats at scale. */
  val ensureBatchStore: Stager[(String, String)] = Stager("graft_st15s") { (s, d, tmp) =>
    val store = s"$tmp/store"
    val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
    docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .write.format("graft.sources.DedupStoreSink")
      .option("path", store).option("nBuckets", "16")
      .mode("append").save()
    val cursor = graft.streaming.DedupStore.currentVersion(store).getOrElse(
      throw new IllegalStateException(s"batch write committed nothing at $store"))
    docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .write.format("graft.sources.DedupStoreSink")
      .option("path", store).mode("append").save()
    (store, cursor)
  }

  /** st17's staged query stream: the first 20 embedding vectors as 4
    * parquet files (drained two per trigger — two multi-query
    * micro-batches). Query traffic pre-exists in a serving deployment,
    * and the probe never mutates it — the timed operation is the
    * per-batch pruned probe of the (also pre-built) s08 index. */
  val ensureQueryStream: Stager[Arrivals] = Stager("graft_st17in") { (s, d, tmp) =>
    Tables.load(s, d, "embeddings").filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/in")
    Arrivals.of(s, s"$tmp/in")
  }

  /** st21's TRAINED base index (evens, s02's training regime): codebook
    * training is the amortized build operation — the thing st21 times
    * is streaming append + probe, so each run COPIES this immutable
    * base into its own temp dir (a fresh mutable index, appends stay
    * honest) instead of re-running Lloyd iterations inside the timed
    * body. */
  val ensureBaseIvfIndex: Stager[String] = Stager("graft_st21base") { (s, d, tmp) =>
    Similarity.buildIvfIndex(
      Tables.load(s, d, "embeddings").select("vec_id", "embedding")
        .filter(pmod(col("vec_id"), lit(2)) === 0),
      s"$tmp/index", nCells = 16, trainIters = 2)
    s"$tmp/index"
  }

  /** st21's arrival fixture: the ODD-vec_id embeddings staged as 4
    * parquet files, streamed two per micro-batch into a per-RUN fresh
    * index (the append is the timed operation, so the input is
    * immutable but the index is not shared). */
  val ensureOddVectorStream: Stager[Arrivals] = Stager("graft_st21in") { (s, d, tmp) =>
    Tables.load(s, d, "embeddings")
      .filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("vec_id"), col("embedding"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/in")
    Arrivals.of(s, s"$tmp/in")
  }

  /** st26's arrival fixture: d13's "new 20%" (LCG bucket ≥ 8) split
    * into 4 files drained as two micro-batches. */
  val ensureNewDocStream: Stager[Arrivals] = Stager("graft_st26in") { (s, d, tmp) =>
    Tables.load(s, d, "documents")
      .filter(graft.ops.TrainingPrep.hashBucket(col("doc_id"), 10) >= 8)
      .select(col("doc_id"), col("text"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/in")
    Arrivals.of(s, s"$tmp/in")
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- streaming: watermarked tumbling-window aggregate -----------------
    ("st01_stream_hourly",
      (s: SparkSession, d: String) => {
        val agg = EventStream.hourlyCounts(EventStream.readEvents(s, d))
        EventStream.runToMemory(s, agg)
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |  event_type, COUNT(*) AS n_events
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- streaming sliding-window aggregate (overlapping windows) ---------
    // window(2h, 1h): each event contributes to exactly the two hourly-
    // aligned 2-hour windows covering it — which is why the oracle is a
    // UNION ALL of two shifted tumbling grids. Complete-mode memory
    // drain so still-open trailing windows are included, like st01.
    ("st10_stream_sliding",
      (s: SparkSession, d: String) => {
        val agg = EventStream.slidingCounts(EventStream.readEvents(s, d))
        EventStream.runToMemory(s, agg)
          .orderBy(col("win_start"), col("event_type"))
      },
      Some("""WITH t AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             |             event_type FROM events),
             |w AS (SELECT h AS win_start, event_type FROM t
             |      UNION ALL
             |      SELECT h - INTERVAL 1 HOUR AS win_start, event_type FROM t)
             |SELECT win_start, event_type, COUNT(*) AS n_events
             |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- streaming blocklist decontamination (bloom + anti-join) ----------
    // The q53 pruning idiom applied to a STREAM: clean-majority events
    // bypass the stream-static anti-join via the bloom literal; only
    // might-contain candidates join. The oracle is the plain batch
    // anti-join semantics (blocklist = users ≡ 0 mod 17 seen in
    // events), certifying the bloom short-circuit drops nothing and
    // leaks nothing.
    ("st11_stream_blocklist",
      (s: SparkSession, d: String) => {
        val blocklist = Tables.load(s, d, "events")
          .select(col("user_id")).distinct()
          .filter(col("user_id") % 17 === 0)
        val kept = EventStream.blocklistFiltered(
          EventStream.readEvents(s, d), blocklist, "user_id")
        val agg = EventStream.hourlyCounts(kept)
        EventStream.runToMemory(s, agg)
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |  event_type, COUNT(*) AS n_events
             |FROM events WHERE user_id % 17 <> 0
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- streaming sketch state: per-hour heavy hitters -------------------
    // The mergeable Space-Saving sketch (q47's TypedImperativeAggregate)
    // as STREAMING aggregation state: each micro-batch folds into the
    // per-window serialized summary, so state per hour is O(capacity),
    // never O(distinct terms) — the bounded-state top-k idiom at 100 TB
    // event volume. Capacity 16 ≥ the 5 event types = exact regime,
    // which is what lets the oracle be the exact ranked counts. The
    // explode runs on the drained batch result; the stream carries only
    // (window, sketch).
    ("st08_stream_topk",
      (s: SparkSession, d: String) => {
        val agg = EventStream.readEvents(s, d)
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour").as("w"))
          .agg(graft.functions.SpaceSavingTopK.topK(col("event_type"), 3, 16).as("tk"))
          .select(col("w.start").as("hour"), col("tk"))
        EventStream.runToMemory(s, agg)
          .select(col("hour"), posexplode(col("tk")))
          .select(col("hour"), (col("pos") + 1).cast("int").as("rank"),
            col("col.term").as("event_type"), col("col.count").as("n_events"))
          .orderBy(col("hour"), col("rank"))
      },
      Some("""WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |  event_type, COUNT(*) AS n_events FROM events GROUP BY 1, 2)
             |SELECT hour, CAST(rank AS INT) AS rank, event_type, n_events FROM (
             |  SELECT hour, event_type, n_events,
             |    row_number() OVER (PARTITION BY hour ORDER BY n_events DESC, event_type) AS rank
             |  FROM h)
             |WHERE rank <= 3 ORDER BY hour, rank""".stripMargin)),

    // ---- streaming sketch state: per-hour quantiles -----------------------
    // KLL (q50's TypedImperativeAggregate) as streaming state — with
    // st08 this completes the mergeable-sketch trio's streaming story:
    // counts (st01), heavy hitters (st08), distributions (st09), each
    // O(sketch) state per window. Capacity 65,536 ≥ any hourly event
    // count here = exact regime, so the oracle is exact ranked
    // selection with the same integer basis-point rank as q50.
    ("st09_stream_quantiles",
      (s: SparkSession, d: String) => {
        val agg = EventStream.readEvents(s, d)
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour").as("w"))
          .agg(graft.functions.KllQuantiles.quantilesBp(
            col("value"), Seq(5000, 9000, 9900), 65536).as("qs"))
          .select(col("w.start").as("hour"), col("qs"))
        EventStream.runToMemory(s, agg)
          .select(col("hour"),
            element_at(col("qs"), 1).as("p50"),
            element_at(col("qs"), 2).as("p90"),
            element_at(col("qs"), 3).as("p99"))
          .orderBy(col("hour"))
      },
      Some("""WITH e AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |  value AS v FROM events),
             |r AS (SELECT hour, v,
             |    row_number() OVER (PARTITION BY hour ORDER BY v) AS rn,
             |    COUNT(*) OVER (PARTITION BY hour) AS n FROM e)
             |SELECT hour,
             |  MIN(CASE WHEN rn >= (n * 5000 + 9999) // 10000 THEN v END) AS p50,
             |  MIN(CASE WHEN rn >= (n * 9000 + 9999) // 10000 THEN v END) AS p90,
             |  MIN(CASE WHEN rn >= (n * 9900 + 9999) // 10000 THEN v END) AS p99
             |FROM r GROUP BY hour ORDER BY hour""".stripMargin)),

    // ---- streaming sketch state: per-hour distinct users ------------------
    // The CARDINALITY member of the streaming-sketch family (counts
    // st01, heavy hitters st08, quantiles st09): per-hour DISTINCT
    // user counts with the Datasketches HLL aggregate as streaming
    // state — O(sketch) per window where exact countDistinct state
    // grows with the user set, which is the whole point at
    // 100 TB-a-day event volume. Oracled via d06's exact-regime
    // discipline: lgConfigK 18 keeps the sketch in its
    // hash-deterministic sparse/coupon mode far past the fixture's
    // per-hour user cardinality, so the estimate IS the exact count
    // and DuckDB's plain COUNT(DISTINCT) is the oracle; production
    // cardinalities go dense with ~0.4% error (ScaleSpec's gated
    // regime).
    ("st32_stream_windowed_distinct",
      (s: SparkSession, d: String) => {
        val agg = EventStream.readEvents(s, d)
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour").as("w"))
          .agg(hll_sketch_estimate(
            hll_sketch_agg(col("user_id"), lit(18))).as("n_users"),
            count(lit(1)).as("n_events"))
          .select(col("w.start").as("hour"), col("n_users"), col("n_events"))
        EventStream.runToMemory(s, agg)
          .orderBy(col("hour"))
      },
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |  COUNT(DISTINCT user_id) AS n_users,
             |  COUNT(*) AS n_events
             |FROM events GROUP BY 1 ORDER BY hour""".stripMargin)),

    // ---- stream-static join: enrich the event stream with a dimension ----
    ("st03_stream_static_join",
      (s: SparkSession, d: String) => {
        val events = EventStream.readEvents(s, d)
        val customers = Tables.load(s, d, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        val joined = events.join(customers, "user_id")
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast("double").as("total_value"))
        EventStream.runToMemory(s, joined)
          .orderBy(col("segment"))
      },
      Some("""SELECT c_mktsegment AS segment, COUNT(*) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- stateful sessionization (typed Dataset API) ----------------------
    ("st02_sessionize",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val events = Tables.load(s, d, "events").as[EventStream.Event]
        EventStream.sessionize(events).toDF()
          .orderBy(col("user_id"), col("session_id"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events),
             |m AS (
             |  SELECT user_id, t,
             |    CASE WHEN lag(t) OVER w IS NULL
             |           OR t - lag(t) OVER w > INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |s AS (
             |  SELECT user_id, t,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t
             |                   ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM m)
             |SELECT user_id, CAST(session_id AS INT) AS session_id,
             |  epoch_us(min(t)) AS session_start, epoch_us(max(t)) AS session_end,
             |  COUNT(*) AS n_events
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)),

    // ---- STREAMING sessionization (flatMapGroupsWithState) ----------------
    // st02's semantics on the real stateful-streaming engine: the open
    // session AND a per-user session counter live in GroupState across
    // micro-batches. Input arrives as 3 time-range-ordered files (the
    // arrival model stateful sessionization assumes — per-user event
    // time monotone ACROSS batches; within a batch the state handler
    // sorts), two files per micro-batch, so sessions genuinely span batch
    // boundaries and ids continue from state. Open sessions at end of
    // input are closed by a final batch of per-user sentinel flush
    // events 24 h past the corpus (the punctuation idiom): a sentinel
    // forces every real session closed but its own session is never
    // emitted (nothing ever closes it), so the drained output is
    // EXACTLY the batch session set — st02's gaps-and-islands SQL is
    // the oracle, certifying the stateful path end to end. Row-per-
    // session stream → file sink drain (never driver memory).
    ("st12_stream_sessionize",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val stream = ensureSessionStream(s, d).read(s).as[EventStream.Event]
        // per-user GroupState is the highest-cardinality merging state
        // in the suite (one open session per active user): run on the
        // RocksDB provider — the 100 TB configuration, where state is
        // off-heap/on-disk per executor instead of an executor-heap
        // ceiling. Provider parity is spec-gated in StreamingSpec.
        EventStream.withRocksDBState(s) {
          EventStream.runToFiles(s,
              EventStream.sessionizeStream(stream, timeout = false).toDF())
        }.orderBy(col("user_id"), col("session_id"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events),
             |m AS (
             |  SELECT user_id, t,
             |    CASE WHEN lag(t) OVER w IS NULL
             |           OR t - lag(t) OVER w > INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |s AS (
             |  SELECT user_id, t,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t
             |                   ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM m)
             |SELECT user_id, CAST(session_id AS INT) AS session_id,
             |  epoch_us(min(t)) AS session_start, epoch_us(max(t)) AS session_end,
             |  COUNT(*) AS n_events
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)),

    // ---- watermark late-drop AUDIT: out-of-order backfill accounting ------
    // The data-loss ledger a 100 TB streaming pipeline needs: when a
    // backfill folder lands BEHIND live traffic, the watermark has
    // already passed its windows and the engine silently drops the rows
    // — this query makes the silent drop a first-class, oracle-checked
    // number. Arrival order (mtime-forced, one file per micro-batch):
    // the MIDDLE ntile of the corpus, then the NEWEST (watermark jumps
    // to corpus max − 1 h), then the OLDEST (now almost entirely late —
    // its windows are finalized, so the stateful agg drops the rows),
    // then a +24 h flush sentinel that finalizes every real window.
    // Emitted counts therefore EXCLUDE the dropped backfill, and the
    // '_late_dropped' audit row is total − Σemitted. The oracle
    // re-simulates the engine exactly: same ntile(3) batching, per-
    // batch watermark = running max of prior batches − 1 h, drop rule
    // window_end ≤ wm (st04's finalized-set predicate applied per
    // batch). Deterministic because ntile over (ts, event_id) is a
    // total order and file mtimes pin the batch sequence.
    ("st24_stream_late_audit",
      (s: SparkSession, d: String) => {
        val stream = ensureLateAuditStream(s, d).read(s, perTrigger = 1)
          .withColumn("event_time", Tables.eventTime(col("ts")))
        val drained = EventStream.runToFiles(s, EventStream.hourlyCounts(stream))
        val totalReal = Tables.load(s, d, "events").count()
        val emitted = drained
          .agg(coalesce(sum(col("n_events")), lit(0L))).head().getLong(0)
        drained.select(col("hour"), col("event_type"), col("n_events"))
          .unionAll(s.range(1).select(
            timestamp_micros(lit(0L)).as("hour"),
            lit("_late_dropped").as("event_type"),
            lit(totalReal - emitted).as("n_events")))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""WITH r AS (
             |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events),
             |mm AS (SELECT MIN(us) AS tmin,
             |         MAX(us) - MIN(us) + 1 AS span FROM r),
             |tl AS (SELECT t, event_type,
             |         ((us - tmin) * 3) // span + 1 AS tile
             |       FROM r CROSS JOIN mm),
             |b AS (SELECT t, event_type,
             |        CASE tile WHEN 2 THEN 0 WHEN 3 THEN 1 ELSE 2 END AS batch
             |      FROM tl),
             |m AS (SELECT batch, max(t) AS bmax FROM b GROUP BY 1),
             |w AS (SELECT batch,
             |        max(bmax) OVER (ORDER BY batch
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |          - INTERVAL 1 HOUR AS wm
             |      FROM m),
             |acc AS (SELECT b.t, b.event_type
             |        FROM b JOIN w USING (batch)
             |        WHERE w.wm IS NULL
             |           OR date_trunc('hour', b.t) + INTERVAL 1 HOUR > w.wm),
             |agg AS (SELECT date_trunc('hour', t) AS hour, event_type,
             |          COUNT(*) AS n_events
             |        FROM acc GROUP BY 1, 2)
             |SELECT hour, event_type, n_events FROM agg
             |UNION ALL
             |SELECT TIMESTAMP '1970-01-01 00:00:00', '_late_dropped',
             |  (SELECT COUNT(*) FROM events)
             |    - (SELECT CAST(COALESCE(SUM(n_events), 0) AS BIGINT) FROM agg)
             |ORDER BY hour, event_type""".stripMargin)),

    // ---- stream-stream join: view → purchase attribution within 1 hour ----
    // Watermarks on both sides + a time-range condition bound the join
    // state (old rows evict once the other side's watermark passes);
    // inner stream-stream joins emit in Append mode. With AvailableNow
    // over the finite fixture the emitted pairs equal the batch join,
    // which is the DuckDB oracle.
    ("st05_stream_stream_join",
      (s: SparkSession, d: String) => {
        val ev = EventStream.readEvents(s, d)
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"),
            col("event_time").as("view_time"))
          .withWatermark("view_time", "2 hours")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
            col("event_time").as("purchase_time"))
          .withWatermark("purchase_time", "2 hours")
        val joined = views.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_time") >= col("view_time") &&
            col("purchase_time") <= col("view_time") + expr("INTERVAL 1 HOUR"))
          .select(col("user_id"), col("view_id"), col("purchase_id"))
        EventStream.runToMemory(s, joined,
            org.apache.spark.sql.streaming.OutputMode.Append)
          .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
             |  FROM events)
             |SELECT c.user_id AS user_id, c.event_id AS view_id, p.event_id AS purchase_id
             |FROM e c JOIN e p
             |  ON c.user_id = p.user_id
             | AND c.event_type = 'view' AND p.event_type = 'purchase'
             | AND p.t >= c.t AND p.t <= c.t + INTERVAL 1 HOUR
             |ORDER BY c.user_id, view_id, purchase_id""".stripMargin)),

    // ---- streaming dedup: exactly-once events from an at-least-once feed --
    // The stream is unioned with itself (every event arrives twice — the
    // at-least-once delivery model), then deduped by event_id within the
    // watermark: state holds only ids newer than the watermark, so memory
    // is bounded by delivery skew, not stream length. The output is a
    // row-per-event STREAM, so it drains to a parquet file sink (never a
    // driver-held memory table — that contract is for bounded
    // aggregates). Oracle = the original single-copy events table;
    // assumes event_id is unique in the fixture (holds at every sf) —
    // a fixture with genuinely duplicated ids would make the dedup
    // collapse them while the oracle keeps both.
    // The dedup state (one key per in-watermark event id) is the
    // highest-cardinality state in the suite, so this query runs on the
    // RocksDB state store provider — the 100 TB configuration (state
    // off-heap/on-disk per executor, not an executor-heap ceiling) —
    // exercised in the shipped path, not only in StreamingSpec.
    ("st06_stream_dedup",
      (s: SparkSession, d: String) => {
        val ev = EventStream.readEvents(s, d)
        val atLeastOnce = ev.unionAll(ev)
        val deduped = atLeastOnce
          .withWatermark("event_time", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("event_type"), col("user_id"))
        EventStream.withRocksDBState(s) {
          EventStream.runToFiles(s, deduped)
        }.orderBy(col("event_id"))
      },
      Some("""SELECT event_id, event_type, user_id
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- foreachBatch: incremental dedup store (merge-on-arrival) ---------
    // The corpus arrives as 4 staged files (built once per JVM+sf —
    // [[ensureDedupStreamInput]]) streamed one per micro-batch, so the
    // store genuinely merges 4 incremental deliveries (not one big
    // batch). The merge is associative, so the
    // final store equals batch exact-dedup (d01) regardless of file
    // order — that equivalence is the oracle. Store versions are hash-
    // partitioned (pmod(xxhash64(text), 16)): a batch rewrites only the
    // buckets it touches and carries the rest forward BY MANIFEST
    // REFERENCE (zero bytes moved on any filesystem — object stores
    // included), so per-batch cost tracks the touched store fraction,
    // not O(store) — see DedupStore's scale note (StreamingSpec asserts
    // the carry-forward).
    // Honest fixture measurement: at sf0.1 each ~1/4-corpus batch
    // touches ALL 16 buckets, so pruning saves nothing here and the
    // partitioned path costs ~+1.2 s over the old monolithic rewrite
    // (touched-set job + per-bucket files); the crossover is the real
    // deployment shape — small batches against a large store, where
    // O(store) per batch is the scale-killer the layout removes.
    ("st07_dedup_store",
      (s: SparkSession, d: String) => {
        val tmp = graft.TempDirs.create("graft_st07")
        // one file per trigger: the store merges 4 genuine deliveries
        val docsStream = ensureDedupStreamInput(s, d).read(s, perTrigger = 1)
        graft.streaming.DedupStore.run(s, docsStream, s"$tmp/store", s"$tmp/ckpt")
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    // ---- snapshot export: pin a training dataset off the live store -------
    // The publish primitive reproducible training needs: freeze the
    // store's current deduplicated state as an immutable, version-
    // stamped parquet export (temp-dir + atomic rename; the source
    // version travels inside as _SOURCE_VERSION). The live store keeps
    // merging/purging/compacting; the training run's input never moves.
    // Deliberately an EXPORT, not old-version time travel — this
    // store's file-level retention patches superseded manifests, so
    // "read v_old" would silently present a partial snapshot
    // (exportSnapshot's scaladoc owns the argument and the compliance
    // boundary; the purge-vs-export drill is spec-pinned). Oracle: the
    // export equals batch exact-dedup of everything delivered.
    ("st25_store_snapshot",
      (s: SparkSession, d: String) => {
        val (store, _) = ensureBatchStore(s, d)
        val tmp = graft.TempDirs.create("graft_st25")
        val dest = s"$tmp/snapshot"
        val version = graft.streaming.DedupStore.exportSnapshot(s, store, dest)
        val stamped = graft.streaming.DedupStore.snapshotSourceVersion(dest)
        require(stamped.contains(version),
          s"export stamp $stamped disagrees with returned version $version")
        s.read.parquet(dest)
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    // ---- targeted delete INSIDE the dedup store (takedown + versioning) ---
    // q64's takedown semantics composed with st07's versioned store: the
    // corpus drains into the store, then a bounded takedown list of raw
    // texts is purged. DedupStore.purge rewrites ONLY the victims' hash
    // buckets into a new (major, sub) version — every other bucket
    // carries forward by manifest reference — and records tombstone
    // hashes so a checkpoint replay (which would re-merge victim texts
    // from source data) or a later re-ingestion cannot resurrect them;
    // StreamingSpec drives both resurrection paths. Cost ∝ victim
    // buckets, not store size. Oracle: the final store equals batch
    // exact-dedup (d01) over the corpus minus the victim texts.
    // The STORE is built in-query rather than warmed up because purge
    // MUTATES it (a shared pre-built store would make the second bench
    // run time a victims-already-gone no-op instead of a real
    // takedown) — but it is built by the CHEAPEST correct path: one
    // DSv2 batch write (st14's sink, one version), not the st07
    // 4-batch streaming drain. The drain-vs-batch-write build paths
    // commit the identical exact-dedup aggregate (st07/st14 each
    // certify theirs); purge semantics are version-count-independent
    // (it rewrites the newest version's victim buckets either way), so
    // this query's timed cost now tracks what it claims to face:
    // the takedown against a populated store, not a rebuild of st07.
    ("st13_store_purge",
      (s: SparkSession, d: String) => {
        val tmp = graft.TempDirs.create("graft_st13")
        val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
        docs.write.format("graft.sources.DedupStoreSink")
          .option("path", s"$tmp/store").option("nBuckets", "16")
          .mode("append").save()
        // the takedown list: raw text strings (how deletion requests
        // actually arrive), bounded — ~1/37 of distinct texts here
        val victims = docs.filter(col("doc_id") % 37 === 0)
          .select(col("text")).distinct().collect().map(_.getString(0)).toSeq
        graft.streaming.DedupStore.purge(s, s"$tmp/store", victims)
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""WITH v AS (SELECT DISTINCT text FROM documents WHERE doc_id % 37 = 0)
             |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents
             |WHERE text NOT IN (SELECT text FROM v)
             |GROUP BY text ORDER BY keep_id""".stripMargin)),

    // ---- DSv2 sink: the dedup store as a Spark-native streaming sink ------
    // st07's drain through `writeStream.format(...)` instead of the
    // foreachBatch escape hatch — the idiomatic endgame for the store:
    // executors stage map-side partials (text → (min doc_id, count),
    // bounded memory), the driver's per-epoch commit runs the SAME
    // bucket-pruned manifest merge under the writer lock
    // (DedupStoreSink's scaladoc owns the protocol mapping). Same
    // associative-merge oracle as st07: the drained store equals batch
    // exact-dedup over the corpus. The sink path costs one extra
    // staging write+read of per-task PARTIALS vs foreachBatch — ∝
    // distinct texts per task, not raw input — which is the price of
    // sink-level integration at identical merge semantics.
    ("st14_store_sink",
      (s: SparkSession, d: String) => {
        val tmp = graft.TempDirs.create("graft_st14")
        // one file per trigger, like st07: the sink commits 4 epochs
        val docsStream = ensureDedupStreamInput(s, d).read(s, perTrigger = 1)
        EventStream.drain(s, docsStream.writeStream
          .format("graft.sources.DedupStoreSink")
          .option("path", s"$tmp/store"), tmp)
        graft.streaming.DedupStore.read(s, s"$tmp/store")
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    // ---- store point lookup: bucket-pruned read ---------------------------
    // The serving-side read: store rows for a bounded probe list,
    // touching only the |hit buckets| files the probes hash into — at
    // any store size the scan is ∝ probes, not the store
    // (DedupStoreReadSpec asserts the strict file subset; the shared
    // two-delivery fixture is [[ensureBatchStore]]). Oracle: the full
    // corpus dedup aggregate restricted to the probed texts.
    ("st15_store_lookup",
      (s: SparkSession, d: String) => {
        val (store, _) = ensureBatchStore(s, d)
        // the probe list: texts of the first 20 doc ids — bounded,
        // deterministic, and how point traffic arrives (texts, not ids)
        val probes = Tables.load(s, d, "documents")
          .filter(col("doc_id") < 20).select(col("text"))
          .distinct().collect().map(_.getString(0)).toSeq
        graft.streaming.DedupStore.lookup(s, store, probes)
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""WITH agg AS (SELECT text, MIN(doc_id) AS keep_id,
             |  COUNT(*) AS n_copies FROM documents GROUP BY text)
             |SELECT keep_id, n_copies FROM agg
             |WHERE text IN (SELECT text FROM documents WHERE doc_id < 20)
             |ORDER BY keep_id""".stripMargin)),

    // ---- store change feed: cursor-pruned incremental sync ----------------
    // The downstream-sync read: every bucket rewritten after the
    // consumer's cursor (here: the version between the fixture's two
    // deliveries) re-emits its CURRENT rows as upserts; carried-forward
    // buckets cost zero bytes because manifest paths name the version
    // that wrote each file. The feed is bucket-granular, so the query
    // projects it onto the texts known to have changed (delivery two's)
    // — an EXACT projection, not a recall regime: a changed text's
    // bucket was by definition rewritten, so the feed provably contains
    // it with its post-merge values, which is what the oracle checks.
    ("st16_store_changes",
      (s: SparkSession, d: String) => {
        val (store, cursor) = ensureBatchStore(s, d)
        val odd = Tables.load(s, d, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("text")).distinct()
        graft.streaming.DedupStore.changedSince(s, store, cursor)
          .join(odd, Seq("text"), "left_semi")
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""WITH agg AS (SELECT text, MIN(doc_id) AS keep_id,
             |  COUNT(*) AS n_copies FROM documents GROUP BY text)
             |SELECT keep_id, n_copies FROM agg
             |WHERE text IN (SELECT text FROM documents WHERE doc_id % 2 = 1)
             |ORDER BY keep_id""".stripMargin)),

    // ---- streaming ANN serving: micro-batched probes of the s08 index -----
    // The online half of s08's serving story: query vectors ARRIVE as a
    // stream (2 micro-batches of 10), the IVF-int8 index is the static
    // side, and each batch runs the same partition-pruned probe —
    // per-batch probed-cell sets are computed from that batch's queries
    // only, so a batch's scan cost is ∝ its own nProbe footprint, not
    // the query history. foreachBatch is the right idiom (the probe
    // needs a per-batch bounded collect for the static prune; a
    // stream-static join could not express the cell pruning), with an
    // append file sink. Query ids are disjoint across batches, so the
    // drained union equals the one-shot batch probe over all 20
    // queries — which is what the oracle (s08's certified IVF CTE,
    // probe set vec_id < 20) checks.
    ("st17_stream_index_probe",
      (s: SparkSession, d: String) => {
        val idx = NorthStarQueries.ensureIvfIndex(s, d)
        val corpus = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
        val out = graft.TempDirs.create("graft_st17o")
        val qstream = ensureQueryStream(s, d).read(s)
        EventStream.drain(s, qstream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            Similarity.ivfIndexTopK(idx, corpus,
                batch.select(col("vec_id").as("query_id"),
                  col("embedding").as("q_embedding")),
                k = 5, nProbe = 4, rescore = 32)
              .write.mode("append").parquet(s"$out/res")
          }, out)
        s.read.parquet(s"$out/res")
          .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
             |a0 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c0.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c0.cv), 6) DESC, c0.cell_id) AS rn
             |        FROM e CROSS JOIN c0)
             |      WHERE rn = 1),
             |x1 AS (SELECT a0.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM a0 JOIN e USING (vec_id),
             |           unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m1 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x1 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c1 AS (SELECT c0.cell_id, coalesce(m1.mv, c0.cv) AS cv
             |       FROM c0 LEFT JOIN m1 USING (cell_id)),
             |a1 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c1.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c1.cv), 6) DESC, c1.cell_id) AS rn
             |        FROM e CROSS JOIN c1)
             |      WHERE rn = 1),
             |x2 AS (SELECT a1.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM a1 JOIN e USING (vec_id),
             |           unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m2 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x2 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c AS (SELECT c1.cell_id, coalesce(m2.mv, c1.cv) AS cv
             |      FROM c1 LEFT JOIN m2 USING (cell_id)),
             |a AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e CROSS JOIN c)
             |      WHERE rn = 1),
             |p AS (SELECT query_id, cell_id FROM (
             |        SELECT q.vec_id AS query_id, c.cell_id,
             |          row_number() OVER (PARTITION BY q.vec_id
             |            ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e q CROSS JOIN c WHERE q.vec_id < 20)
             |      WHERE rn <= 4)
             |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, n.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY p.query_id
             |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
             |  FROM p JOIN a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
             |  JOIN e q ON q.vec_id = p.query_id
             |  JOIN e n ON n.vec_id = a.vec_id)
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- store CDC consumer: replica sync from the change feed ------------
    // The downstream half of st16's contract, run end to end: a replica
    // synced at `cursor` (delivery one's dedup state, recomputed here
    // as the stale copy) catches up by applying tombstones() as deletes
    // against the STALE rows first (empty in this fixture; the join is
    // the contract, exercised with victims in DedupStoreReadSpec), then
    // changedSince(cursor) as KEYED UPSERTS — stale rows for re-emitted
    // keys drop via anti-join, current rows union in. Deletes-first and
    // scoped to the stale side is the store's documented consumer
    // algebra: the feed can re-deliver a compaction-folded delete for a
    // text the same sync legitimately re-upserts (purge → fold →
    // re-ingestion), and the newer upsert must win. Cost ∝ rewritten
    // buckets + replica, never the store's history — the zero-retention
    // CDC shape the store's eager file reclamation allows. The oracle is
    // batch exact-dedup over the FULL corpus (d01's aggregate): equality
    // proves the delete+upsert algebra reconstructs the store state
    // exactly.
    ("st18_store_replica_sync",
      (s: SparkSession, d: String) => {
        val (store, cursor) = ensureBatchStore(s, d)
        val replica = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .filter(pmod(col("doc_id"), lit(2)) === 0)
          .groupBy(col("text"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        val changes = graft.streaming.DedupStore.changedSince(s, store, cursor)
          .select(col("text"), col("keep_id"), col("n_copies"))
        val tomb = graft.streaming.DedupStore.tombstones(s, store)
        replica
          .join(tomb, xxhash64(col("text")) === col("text_hash"), "left_anti")
          .join(changes.select(col("text")), Seq("text"), "left_anti")
          .unionByName(changes)
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    // ---- store CDC as a Spark-native streaming SOURCE ---------------------
    // st16's change feed consumed the Spark way: `readStream.format
    // ("graft.sources.DedupStoreChanges")` with the store version as the
    // offset axis — each micro-batch plans exactly the manifest-pruned
    // changed-file set (bytes ∝ rewritten buckets) plus the new
    // tombstone hashes as delete rows, and AvailableNow drains to the
    // pinned tip. Same fixture, same projection, same oracle as st16:
    // equality certifies the DSv2 source delivers changedSince's exact
    // semantics (tombstone-suppressed upserts included) through the
    // streaming engine — offsets, checkpointing and all — not just
    // through the API call.
    ("st19_store_cdc_source",
      (s: SparkSession, d: String) => {
        val (store, cursor) = ensureBatchStore(s, d)
        val changes = s.readStream.format("graft.sources.DedupStoreChanges")
          .option("path", store).option("since", cursor).load()
        val odd = Tables.load(s, d, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("text")).distinct()
        EventStream.runToMemory(s, changes,
            org.apache.spark.sql.streaming.OutputMode.Append)
          .filter(col("op") === "upsert")
          .join(odd, Seq("text"), "left_semi")
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""WITH agg AS (SELECT text, MIN(doc_id) AS keep_id,
             |  COUNT(*) AS n_copies FROM documents GROUP BY text)
             |SELECT keep_id, n_copies FROM agg
             |WHERE text IN (SELECT text FROM documents WHERE doc_id % 2 = 1)
             |ORDER BY keep_id""".stripMargin)),

    // ---- CDC replica maintained THROUGH the streaming source --------------
    // st18's replica-sync algebra driven end to end by the DSv2 change
    // source instead of API calls: the stale replica (delivery one's
    // dedup state) is seeded, then [[graft.streaming.CdcReplica]]
    // drains the feed through checkpointed micro-batches, applying each
    // batch's deletes first and keyed upserts second into a versioned
    // parquet replica (`_SUCCESS`-gated, replay-idempotent — the
    // foreachBatch exactly-once recipe). Same store-equality oracle as
    // st18: the synced replica must equal batch exact-dedup over the
    // full corpus, proving the source + consumer pair reconstructs
    // store state through the streaming engine — offsets, checkpoint,
    // crash-replay contract and all. Purge/restart interleavings are
    // spec-covered in DedupStoreReadSpec (the shared fixture here has
    // an empty delete axis; the join is still in the per-batch plan).
    ("st22_store_replica_cdc",
      (s: SparkSession, d: String) => {
        val (store, cursor) = ensureBatchStore(s, d)
        val tmp = graft.TempDirs.create("graft_st22")
        graft.streaming.CdcReplica.seed(
          Tables.load(s, d, "documents")
            .select(col("doc_id"), col("text"))
            .filter(pmod(col("doc_id"), lit(2)) === 0)
            .groupBy(col("text"))
            .agg(min(col("doc_id")).as("keep_id"),
              count(lit(1)).as("n_copies")),
          s"$tmp/replica")
        graft.streaming.CdcReplica.sync(s, store, cursor,
            s"$tmp/replica", s"$tmp/ckpt")
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    // ---- OUTER stream-stream join: attribution with explicit misses -------
    // st05's view→purchase interval join, LEFT OUTER: a view with no
    // purchase inside its 1-hour window must still emit — with a NULL
    // purchase — but only once the watermark PROVES no future match can
    // arrive (state for a view expires when the watermark passes
    // view_time + 1 h, the condition's upper bound; matched pairs emit
    // immediately, exactly as the inner join). That proof obligation is
    // the whole operator: null emission is a watermark-certified
    // negative, not a timeout guess. State stays bounded by the same
    // interval arithmetic as st05. The oracle mirrors the emission rule
    // explicitly: batch left join, keep matches plus unmatched views
    // whose window closed before the final GLOBAL watermark — which
    // under the default multipleWatermarkPolicy=min is the LEAST of
    // the two sides' own maxima minus the 2 h delay (each withWatermark
    // node only sees its filtered branch, so the globally-latest event
    // of some third type moves neither) — st04's finalized-set
    // discipline applied to join state. File-sink drain: the closing
    // no-data batch is what flushes the last expirations.
    ("st23_outer_stream_join",
      (s: SparkSession, d: String) => {
        val ev = EventStream.readEvents(s, d)
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"),
            col("event_time").as("view_time"))
          .withWatermark("view_time", "2 hours")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
            col("event_time").as("purchase_time"))
          .withWatermark("purchase_time", "2 hours")
        val joined = views.join(purchases,
            col("user_id") === col("p_user") &&
              col("purchase_time") >= col("view_time") &&
              col("purchase_time") <= col("view_time") + expr("INTERVAL 1 HOUR"),
            "left_outer")
          .select(col("user_id"), col("view_id"), col("purchase_id"),
            col("view_time"))
        EventStream.runToFiles(s, joined)
          .select(col("user_id"), col("view_id"), col("purchase_id"))
          .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
             |  FROM events),
             |v AS (SELECT user_id, event_id AS view_id, t AS vt FROM e
             |      WHERE event_type = 'view'),
             |p AS (SELECT user_id AS p_user, event_id AS purchase_id, t AS pt
             |      FROM e WHERE event_type = 'purchase'),
             |wm AS (SELECT least((SELECT max(vt) FROM v), (SELECT max(pt) FROM p))
             |         - INTERVAL 2 HOUR AS w),
             |j AS (SELECT v.user_id, v.view_id, p.purchase_id, v.vt
             |      FROM v LEFT JOIN p ON v.user_id = p.p_user
             |        AND pt >= vt AND pt <= vt + INTERVAL 1 HOUR)
             |SELECT user_id, view_id, purchase_id FROM j, wm
             |WHERE purchase_id IS NOT NULL OR vt + INTERVAL 1 HOUR < wm.w
             |ORDER BY user_id, view_id, purchase_id NULLS FIRST""".stripMargin)),

    // ---- streaming ANN index maintenance (continuous ingestion) -----------
    // s11's growth path on the STREAMING engine: the index is built
    // from the corpus at build time (even vec_ids), later arrivals
    // stream in as 2 micro-batches, each appended to the live index via
    // foreachBatch + appendToIvfIndex (assign + int8-quantize against
    // the existing codebook, append to cell dirs — no retrain, no
    // rewrite, cost ∝ the batch). Per-vector assignment is independent
    // of batching, so the grown index — and therefore the probe — is
    // IDENTICAL whether arrivals come as one batch (s11) or many
    // (here): the oracle is the same trained-on-evens SQL k-means
    // derivation with its own probe range, certifying batch-boundary
    // invariance end to end. The TRAINED base index is staged once per
    // (JVM, sf) and COPIED into a fresh per-run dir: the appends stay
    // honest (each run mutates its own index; a shared fixture would
    // double-append on re-runs) while Lloyd training — s02's amortized
    // build cost — stays out of the timed body, so the query measures
    // what it claims: streaming append + probe.
    ("st21_stream_index_append",
      (s: SparkSession, d: String) => {
        val tmp = graft.TempDirs.create("graft_st21")
        val idx = s"$tmp/index"
        val emb = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
        val base = ensureBaseIvfIndex(s, d)
        val conf = s.sessionState.newHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(base),
          fs, new org.apache.hadoop.fs.Path(idx), false, conf)
        EventStream.drain(s, ensureOddVectorStream(s, d).read(s)
          .writeStream
          .foreachBatch((batch: DataFrame, _: Long) =>
            Similarity.appendToIvfIndex(idx, batch)), tmp)
        val queries = emb.filter(col("vec_id") >= 30 && col("vec_id") < 40)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        Similarity.ivfIndexTopK(idx, emb, queries, k = 5, nProbe = 4, rescore = 32)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |ev AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
             |c0 AS (SELECT vec_id AS cell_id, v AS cv FROM ev ORDER BY vec_id LIMIT 16),
             |a0 AS (SELECT vec_id, cell_id FROM (
             |        SELECT ev.vec_id, c0.cell_id,
             |          row_number() OVER (PARTITION BY ev.vec_id
             |            ORDER BY round(list_cosine_similarity(ev.v, c0.cv), 6) DESC, c0.cell_id) AS rn
             |        FROM ev CROSS JOIN c0)
             |      WHERE rn = 1),
             |x1 AS (SELECT a0.cell_id, u.i, ev.v[CAST(u.i AS INT)] AS xv
             |      FROM a0 JOIN ev USING (vec_id),
             |           unnest(range(1, len(ev.v) + 1)) AS u(i)),
             |m1 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x1 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c1 AS (SELECT c0.cell_id, coalesce(m1.mv, c0.cv) AS cv
             |       FROM c0 LEFT JOIN m1 USING (cell_id)),
             |a1 AS (SELECT vec_id, cell_id FROM (
             |        SELECT ev.vec_id, c1.cell_id,
             |          row_number() OVER (PARTITION BY ev.vec_id
             |            ORDER BY round(list_cosine_similarity(ev.v, c1.cv), 6) DESC, c1.cell_id) AS rn
             |        FROM ev CROSS JOIN c1)
             |      WHERE rn = 1),
             |x2 AS (SELECT a1.cell_id, u.i, ev.v[CAST(u.i AS INT)] AS xv
             |      FROM a1 JOIN ev USING (vec_id),
             |           unnest(range(1, len(ev.v) + 1)) AS u(i)),
             |m2 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x2 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c AS (SELECT c1.cell_id, coalesce(m2.mv, c1.cv) AS cv
             |      FROM c1 LEFT JOIN m2 USING (cell_id)),
             |a AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e CROSS JOIN c)
             |      WHERE rn = 1),
             |p AS (SELECT query_id, cell_id FROM (
             |        SELECT q.vec_id AS query_id, c.cell_id,
             |          row_number() OVER (PARTITION BY q.vec_id
             |            ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e q CROSS JOIN c WHERE q.vec_id >= 30 AND q.vec_id < 40)
             |      WHERE rn <= 4)
             |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, n.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY p.query_id
             |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
             |  FROM p JOIN a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
             |  JOIN e q ON q.vec_id = p.query_id
             |  JOIN e n ON n.vec_id = a.vec_id)
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- streaming incremental LSH dedup (continuous corpus ingestion) ----
    // d13's daily-crawl shape on the STREAMING engine, st21's playbook
    // for a different index: the band index over "yesterday" (LCG
    // bucket < 8) is staged once per (JVM, sf) and COPIED into a fresh
    // per-run dir (each run mutates its own index); the new 20% arrives
    // as 2 micro-batches, and each batch (a) emits its verified
    // near-dup pairs against index ∪ itself and (b) APPENDS its band
    // keys — so later batches pair against everything before them.
    // A pair is emitted exactly once, in the batch its later side
    // arrives (spec-proven for the 2-wave case; the argument is
    // per-pair, so it holds for any batching) — the union over batches
    // equals d13's one-shot output, certified by the SAME oracle:
    // batch-boundary invariance end to end. Per-batch cost tracks the
    // batch (keys joined against the index, verify join pulls only
    // candidate shingles); exactly-once pair emission rests on the
    // per-run checkpoint here — a long-lived deployment routes the
    // emission through the dedup store's idempotent-batch contract.
    ("st26_stream_lsh_dedup",
      (s: SparkSession, d: String) => {
        val tmp = graft.TempDirs.create("graft_st26")
        val idx = s"$tmp/bands"
        val base = NorthStarQueries.ensureBandIndex(s, d)
        val conf = s.sessionState.newHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(base),
          fs, new org.apache.hadoop.fs.Path(idx), false, conf)
        val docsAll = Tables.load(s, d, "documents")
        val out = s"$tmp/pairs"
        EventStream.drain(s, ensureNewDocStream(s, d).read(s)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            graft.ops.Dedup.incrementalMinhashNearDups(s, idx, docsAll, batch,
                "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5)
              .write.mode("append").parquet(out)
            graft.ops.Dedup.appendMinhashBandIndex(batch, "doc_id", "text",
              n = 3, k = 16, bands = 4, idx)
          }, tmp)
        s.read.parquet(out).orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |g AS (SELECT doc_id,
             |    list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
             |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM w),
             |g2 AS (SELECT doc_id, unnest(g) AS gram FROM g),
             |ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
             |       FROM g2 a JOIN g2 b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  round(CAST(i AS DOUBLE) / (la.l + lb.l - i), 6) AS jaccard
             |FROM ix JOIN (SELECT doc_id, len(g) AS l FROM g) la ON la.doc_id = id_a
             |        JOIN (SELECT doc_id, len(g) AS l FROM g) lb ON lb.doc_id = id_b
             |WHERE round(CAST(i AS DOUBLE) / (la.l + lb.l - i), 6) >= 0.5
             |  AND ((((id_a*48271)%2147483647+2147483647)%2147483647)%10 >= 8
             |    OR (((id_b*48271)%2147483647+2147483647)%2147483647)%10 >= 8)
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- native session windows (merging-window streaming state) ----------
    // st02/st12 sessionize with explicit typed state; this is the
    // BUILT-IN operator for the same job — `session_window(event_time,
    // gap)` merges windows as events arrive, the engine owns the state,
    // and the watermark closes a session once it passes last-event +
    // gap. Append-mode memory drain: only closed sessions emit, so the
    // oracle carries the same finalized-set predicate st04 pins for
    // tumbling windows. Spark's merge rule starts a NEW session when
    // the gap is >= 30 min (windows merge only on strict overlap), so
    // the oracle's island-break predicate is >=, not st02's > — and
    // session_end is last-event + gap by definition, both mirrored
    // exactly in SQL. State is O(open sessions), the operator the
    // engine picks when per-user custom logic isn't needed — the
    // idiomatic first choice at 100 TB.
    // Append-mode FILE drain (st04's path): closed sessions land in
    // distributed files once the watermark passes them; a memory drain
    // skips no-data batches, so the final watermark advance would never
    // flush and nothing would emit.
    ("st20_session_window",
      (s: SparkSession, d: String) => {
        val sess = EventStream.readEvents(s, d)
          .withWatermark("event_time", "1 hour")
          .groupBy(col("user_id"),
            session_window(col("event_time"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            col("w.start").as("session_start"),
            col("w.end").as("session_end"), col("n_events"))
        // session_window's merging state keys on (user, open window) —
        // per-user cardinality, the RocksDB provider's case at 100 TB
        // (see st12); parity spec-gated in StreamingSpec
        EventStream.withRocksDBState(s) {
          EventStream.runToFiles(s, sess)
        }.orderBy(col("user_id"), col("session_start"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events),
             |m AS (
             |  SELECT user_id, t,
             |    CASE WHEN lag(t) OVER w IS NULL
             |           OR t - lag(t) OVER w >= INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |s AS (
             |  SELECT user_id, t,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t
             |                   ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM m),
             |agg AS (
             |  SELECT user_id, min(t) AS session_start,
             |    max(t) + INTERVAL 30 MINUTE AS session_end,
             |    COUNT(*) AS n_events
             |  FROM s GROUP BY user_id, sid),
             |wm AS (SELECT max(t) - INTERVAL 1 HOUR AS w FROM e)
             |SELECT user_id, session_start, session_end, n_events
             |FROM agg, wm WHERE session_end <= wm.w
             |ORDER BY user_id, session_start""".stripMargin)),

    // ---- multimodal: binary columns + typed metadata ----------------------
    ("m01_media_stats",
      (s: SparkSession, d: String) => {
        val media = Multimodal.fromDocuments(Tables.load(s, d, "documents"))
        Multimodal.extractFeatures(media)
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("n_bytes").cast("long")).as("total_bytes"))
          .orderBy(col("kind"))
      },
      Some("""SELECT CASE CAST(doc_id % 3 AS INT)
             |         WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             |  COUNT(*) AS n_items,
             |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Output is scalar-only so the driver's pandas checker can sort/hash it;
    // the feature-vector values themselves are stub-codec-dependent and are
    // asserted in MultimodalSpec (shape, determinism, batch dataflow).
    ("m02_media_features",
      (s: SparkSession, d: String) => {
        val media = Multimodal.fromDocuments(Tables.load(s, d, "documents"))
        Multimodal.extractFeatures(media).toDF()
          .select(col("media_id"), col("kind"), col("n_bytes"),
            size(col("features")).as("n_features"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
             |  CASE CAST(doc_id % 3 AS INT)
             |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
             |  CAST(16 AS INT) AS n_features
             |FROM documents ORDER BY media_id""".stripMargin)),

    // Frame COUNTS are a pure function of the fixture (duration_ms =
    // 10·len(text), one frame per second, min 1), so the aggregate is
    // oracle-checkable even though per-frame features are stub-codec
    // values (those are asserted in MultimodalSpec).
    ("m03_frame_sample",
      (s: SparkSession, d: String) => {
        val media = Multimodal.fromDocuments(Tables.load(s, d, "documents"))
        Multimodal.sampleFrames(media, everyMs = 1000L).toDF()
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_frames"), max(col("ts_ms")).as("last_ts_ms"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(greatest(1, length(text) * 10 // 1000) AS BIGINT) AS n_frames,
             |  (CAST(greatest(1, length(text) * 10 // 1000) AS BIGINT) - 1) * 1000 AS last_ts_ms
             |FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id""".stripMargin)),

    // ---- binaryFile source: the real multimodal ingest path ---------------
    // Media corpora arrive as object-store FILES, not table rows: the
    // fixture payloads are materialized as one file each, ONCE per
    // session+sf (the object store pre-exists in a real pipeline, so
    // the query times the binaryFile INGEST, not the fixture build;
    // same write-once rule as q45's bucketed tables). Only path/length
    // are selected, so the source never reads payload BYTES (column
    // pruning on the content column) — at 100 TB the manifest scan is
    // metadata-only. The oracle certifies per-kind counts and byte
    // totals against the originating table.
    ("m04_binary_ingest",
      (s: SparkSession, d: String) => {
        val tmp = ensureMediaFiles(s, d)
        s.read.format("binaryFile").load(s"$tmp/*.bin")
          .select(regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
            .cast("long").as("media_id"), col("length"))
          .groupBy(Multimodal.kindOf(col("media_id")).as("kind"))
          .agg(count(lit(1)).as("n_files"), sum(col("length")).as("total_bytes"))
          .orderBy(col("kind"))
      },
      Some("""SELECT CASE CAST(doc_id % 3 AS INT)
             |         WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             |  COUNT(*) AS n_files,
             |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
             |FROM documents WHERE doc_id < 500 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- multimodal content-hash dedup ------------------------------------
    // The dedup × multimodal intersection: media corpora dedup by
    // PAYLOAD hash (sha-256 of the bytes), not by any decoded view —
    // byte-identical re-uploads are the dominant duplication mode in
    // crawled media. Unlike m04's metadata-only scan, this one MUST
    // read content bytes (that is the honest cost of content
    // addressing); the hash then stands in for the payload everywhere
    // downstream — the shuffle carries 32-byte digests, never media.
    // min_sha in the output certifies actual digest parity with the
    // oracle (DuckDB sha256 of the same UTF-8 bytes), not just counts.
    ("m05_media_dedup",
      (s: SparkSession, d: String) => {
        val tmp = ensureMediaFiles(s, d)
        s.read.format("binaryFile").load(s"$tmp/*.bin")
          .select(regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
            .cast("long").as("media_id"),
            sha2(col("content"), 256).as("sha"))
          .groupBy(Multimodal.kindOf(col("media_id")).as("kind"))
          .agg(count(lit(1)).as("n_files"),
            countDistinct(col("sha")).as("n_distinct"),
            min(col("sha")).as("min_sha"))
          .orderBy(col("kind"))
      },
      Some("""SELECT CASE CAST(doc_id % 3 AS INT)
             |         WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             |  COUNT(*) AS n_files,
             |  COUNT(DISTINCT sha256(text)) AS n_distinct,
             |  MIN(sha256(text)) AS min_sha
             |FROM documents WHERE doc_id < 500 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- multimodal: perceptual hash (content-SIMILAR, not -identical) ----
    // The dedup m05 can't do: re-encoded/lightly-edited media share no
    // byte hash but land within a few bits of perceptual average-hash.
    // Decodable images hash over REAL pixels (ImageCodec.phash, 8×8
    // grayscale cell means — spec-tested on generated PNGs); the
    // synthetic text-byte payloads deterministically take the byteAHash
    // fallback, the SAME construction over raw bytes, which is
    // SQL-expressible — so the full query stays oracle-checked while
    // the pixel path stays real. Pairing over these hashes reuses the
    // d04 pigeonhole banding.
    //
    // The oracle hashes OCTETS, exactly like byteAHash: to_hex(encode(
    // text)) and a strpos('123456789ABCDEF', …) hex-digit decode give
    // byte j's unsigned value (the 0-less digit string makes strpos
    // return the value directly, 0 for '0'), so non-ASCII text (real
    // zh fixtures) hashes identically on both sides — a per-CHARACTER
    // ascii() twin would silently diverge there. Empty payloads take
    // the LEFT-JOIN/coalesce path: 0 > 0 is false in every block,
    // matching byteAHash's all-zero hash.
    ("m06_media_phash",
      (s: SparkSession, d: String) => {
        import s.implicits._
        Multimodal.perceptualHashes(
            Multimodal.fromDocuments(Tables.load(s, d, "documents"))
              .filter(col("kind") === "image").as[Multimodal.Media])
          .toDF()
          .orderBy(col("media_id"))
      },
      Some("""WITH d AS (SELECT doc_id, to_hex(encode(text)) AS h,
             |             octet_length(encode(text)) AS n
             |           FROM documents WHERE doc_id % 3 = 0),
             |x AS (SELECT doc_id, ((j-1)*64)//n AS blk,
             |        strpos('123456789ABCDEF', substr(h, CAST(2*j-1 AS INT), 1)) * 16
             |        + strpos('123456789ABCDEF', substr(h, CAST(2*j AS INT), 1)) AS b
             |      FROM d, unnest(range(1, n+1)) AS u(j)),
             |g AS (SELECT doc_id, avg(CAST(b AS DOUBLE)) AS gmean FROM x GROUP BY 1),
             |bm AS (SELECT doc_id, blk, avg(CAST(b AS DOUBLE)) AS m FROM x GROUP BY 1, 2),
             |grid AS (SELECT d.doc_id, u.blk FROM d, unnest(range(0, 64)) AS u(blk)),
             |bits AS (SELECT grid.doc_id, grid.blk,
             |           CASE WHEN coalesce(bm.m, 0.0) > coalesce(g.gmean, 0.0)
             |                THEN '1' ELSE '0' END AS bit
             |         FROM grid
             |         LEFT JOIN bm ON bm.doc_id = grid.doc_id AND bm.blk = grid.blk
             |         LEFT JOIN g ON g.doc_id = grid.doc_id)
             |SELECT doc_id AS media_id, string_agg(bit, '' ORDER BY blk) AS phash
             |FROM bits GROUP BY doc_id ORDER BY media_id""".stripMargin)),

    // ---- multimodal shard packing (WebDataset-style training shards) ------
    // Training loaders stream media as size-bounded SHARDS, not files:
    // pack each kind's payloads, in deterministic media_id order, into
    // ~16 KiB shards (production: 0.1–1 GiB tar shards — the
    // WebDataset/tfrecord layout) and report each shard's manifest
    // row. Reuses q41's packedBin kernel with BYTES as the budget unit
    // and kind as the shard-parallel key: one partitioned window sum,
    // no driver loop, shard boundaries are pure integer arithmetic the
    // oracle replays. At 100 TB the kind key generalizes to
    // (kind, date, hash-prefix) so the cumulative sums parallelize
    // across thousands of groups — q41's documented scale rule.
    ("m07_shard_pack",
      (s: SparkSession, d: String) => {
        val media = Multimodal.fromDocuments(
          Tables.load(s, d, "documents")).toDF()
        media.select(col("kind"), col("media_id"),
            octet_length(col("payload")).cast("long").as("n_bytes"))
          .withColumn("shard_id", graft.ops.TrainingPrep.packedBin(
            col("n_bytes"), col("kind"), col("media_id"), budget = 16 * 1024))
          .groupBy(col("kind"), col("shard_id"))
          .agg(count(lit(1)).as("n_items"), sum(col("n_bytes")).as("total_bytes"),
            min(col("media_id")).as("first_id"), max(col("media_id")).as("last_id"))
          .orderBy(col("kind"), col("shard_id"))
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
             |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
             |         ELSE 'video' END AS kind,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
             |  FROM documents),
             |c AS (SELECT kind, media_id, n_bytes,
             |        SUM(n_bytes) OVER (PARTITION BY kind ORDER BY media_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          - n_bytes AS cum_before
             |      FROM m)
             |SELECT kind, CAST(cum_before // 16384 AS BIGINT) AS shard_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_items,
             |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
             |  MIN(media_id) AS first_id, MAX(media_id) AS last_id
             |FROM c GROUP BY kind, cum_before // 16384
             |ORDER BY kind, shard_id""".stripMargin)),

    // ---- multimodal shard integrity digest (read-back audit) --------------
    // The verification leg of m07's packing: per shard, the sha-256 of
    // the payloads CONCATENATED in manifest order — what a training
    // loader checks against the manifest before trusting a shard, and
    // what an archival job re-computes after transport. Composes m07's
    // bin assignment with m05's digest discipline; the order-sensitive
    // concat makes it stronger than m05's per-file digests (it catches
    // reordering and truncation inside a shard, not just payload
    // corruption). Scale shape: one shuffle keyed on (kind, shard) —
    // shards are size-bounded by construction, so each group's
    // collect_list is bounded by the shard budget, never corpus-scale;
    // the digest is 32 bytes per shard out.
    ("m08_shard_digest",
      (s: SparkSession, d: String) => {
        val media = Multimodal.fromDocuments(
          Tables.load(s, d, "documents")).toDF()
        media.select(col("kind"), col("media_id"), col("payload"),
            octet_length(col("payload")).cast("long").as("n_bytes"))
          .withColumn("shard_id", graft.ops.TrainingPrep.packedBin(
            col("n_bytes"), col("kind"), col("media_id"), budget = 16 * 1024))
          .groupBy(col("kind"), col("shard_id"))
          .agg(count(lit(1)).as("n_items"), sum(col("n_bytes")).as("total_bytes"),
            collect_list(struct(col("media_id"), col("payload"))).as("ps"))
          .select(col("kind"), col("shard_id"), col("n_items"), col("total_bytes"),
            sha2(expr("aggregate(sort_array(ps), CAST('' AS BINARY), " +
              "(acc, x) -> concat(acc, x.payload))"), 256).as("shard_sha"))
          .orderBy(col("kind"), col("shard_id"))
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
             |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
             |         ELSE 'video' END AS kind,
             |    text, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
             |  FROM documents),
             |c AS (SELECT kind, media_id, text, n_bytes,
             |        SUM(n_bytes) OVER (PARTITION BY kind ORDER BY media_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          - n_bytes AS cum_before
             |      FROM m)
             |SELECT kind, CAST(cum_before // 16384 AS BIGINT) AS shard_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_items,
             |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
             |  sha256(string_agg(text, '' ORDER BY media_id)) AS shard_sha
             |FROM c GROUP BY kind, cum_before // 16384
             |ORDER BY kind, shard_id""".stripMargin)),

    // ---- streaming SCD2 dimension maintenance -----------------------------
    // q81's history merge run THROUGH the streaming engine: two pinned
    // update waves (the [[ensureDimUpdateStream]] fixture — SCD2
    // history depends on batch boundaries BY DESIGN, which batch closed
    // a row is the recorded fact, so arrival is mtime-pinned like
    // st12/st24) drain into a versioned dimension via
    // [[graft.streaming.Scd2Dim]]: value-changed rows close at
    // batchId+1 and reopen there, same-value updates are no-ops, and
    // every batch reads the newest committed version below its own id —
    // crash-replay rewrites identically (CdcReplica's recipe). The
    // oracle replays the same two waves in order over the base dim.
    ("st29_stream_scd2",
      (s: SparkSession, d: String) => {
        val tmp = graft.TempDirs.create("graft_st29q")
        val base = Tables.load(s, d, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
            lit(0L).as("vf"), lit(null).cast("long").as("vt"))
        val stream = ensureDimUpdateStream(s, d).read(s, perTrigger = 1)
        graft.streaming.Scd2Dim.run(s, stream, base, s"$tmp/dim", s"$tmp/ckpt")
          .select(col("k").as("c_custkey"), col("seg").as("c_mktsegment"),
            col("vf").as("valid_from"), col("vt").as("valid_to"))
          .orderBy(col("c_custkey"), col("valid_from"))
      },
      Some("""WITH base AS (SELECT c_custkey AS k, c_mktsegment AS s FROM customer),
             |o1 AS (
             |  SELECT k, CASE WHEN k % 7 = 0 THEN 'MACHINERY' ELSE s END AS s,
             |    CASE WHEN k % 7 = 0 AND s <> 'MACHINERY' THEN 1 ELSE 0 END AS vf
             |  FROM base),
             |c1 AS (
             |  SELECT k, s, 0 AS vf, 1 AS vt FROM base
             |  WHERE k % 7 = 0 AND s <> 'MACHINERY'),
             |o2 AS (
             |  SELECT k, CASE WHEN k % 5 = 0 THEN 'HOUSEHOLD' ELSE s END AS s,
             |    CASE WHEN k % 5 = 0 AND s <> 'HOUSEHOLD' THEN 2 ELSE vf END AS vf
             |  FROM o1),
             |c2 AS (
             |  SELECT k, s, vf, 2 AS vt FROM o1
             |  WHERE k % 5 = 0 AND s <> 'HOUSEHOLD')
             |SELECT k AS c_custkey, s AS c_mktsegment,
             |  CAST(vf AS BIGINT) AS valid_from, CAST(vt AS BIGINT) AS valid_to
             |FROM (
             |  SELECT k, s, vf, NULL AS vt FROM o2
             |  UNION ALL SELECT k, s, vf, vt FROM c1
             |  UNION ALL SELECT k, s, vf, vt FROM c2)
             |ORDER BY c_custkey, valid_from""".stripMargin)),

    // ---- point-in-time (AS OF) enrichment against the SCD2 dimension ------
    // The lookup side of st29's contract: facts carry a version epoch
    // (o_orderkey mod 3 here — at 100 TB, the ingest batch id) and
    // each joins the dimension row valid AT that epoch
    // (vf <= epoch < vt, open rows valid forever) — how a warehouse
    // reports revenue under the segment a customer was in WHEN the
    // order landed, not the segment they hold today. The join
    // (Scd2Dim.enrichAsOf) is an equi-join on the key with the
    // validity window as residual predicate, dimension broadcast, so
    // the fact table never shuffles; output is (epoch, segment) cells.
    // Revenue is DECIMAL-exact, cast once.
    ("st33_temporal_enrich",
      (s: SparkSession, d: String) => {
        val tmp = graft.TempDirs.create("graft_st33q")
        val base = Tables.load(s, d, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
            lit(0L).as("vf"), lit(null).cast("long").as("vt"))
        val stream = ensureDimUpdateStream(s, d).read(s, perTrigger = 1)
        val dim = graft.streaming.Scd2Dim.run(s, stream, base,
          s"$tmp/dim", s"$tmp/ckpt")
        val facts = Tables.load(s, d, "orders")
          .select(col("o_custkey"), (col("o_orderkey") % 3).as("epoch"),
            col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("v"))
        graft.streaming.Scd2Dim.enrichAsOf(facts, dim, "o_custkey", "epoch",
            joinType = "inner")
          .groupBy(col("epoch"), col("seg"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("v")).cast("double").as("revenue"))
          .orderBy(col("epoch"), col("seg"))
      },
      Some("""WITH base AS (SELECT c_custkey AS k, c_mktsegment AS s FROM customer),
             |o1 AS (
             |  SELECT k, CASE WHEN k % 7 = 0 THEN 'MACHINERY' ELSE s END AS s,
             |    CASE WHEN k % 7 = 0 AND s <> 'MACHINERY' THEN 1 ELSE 0 END AS vf
             |  FROM base),
             |c1 AS (
             |  SELECT k, s, 0 AS vf, 1 AS vt FROM base
             |  WHERE k % 7 = 0 AND s <> 'MACHINERY'),
             |o2 AS (
             |  SELECT k, CASE WHEN k % 5 = 0 THEN 'HOUSEHOLD' ELSE s END AS s,
             |    CASE WHEN k % 5 = 0 AND s <> 'HOUSEHOLD' THEN 2 ELSE vf END AS vf
             |  FROM o1),
             |c2 AS (
             |  SELECT k, s, vf, 2 AS vt FROM o1
             |  WHERE k % 5 = 0 AND s <> 'HOUSEHOLD'),
             |dim AS (
             |  SELECT k, s, vf, NULL AS vt FROM o2
             |  UNION ALL SELECT k, s, vf, vt FROM c1
             |  UNION ALL SELECT k, s, vf, vt FROM c2),
             |f AS (SELECT o_custkey, o_orderkey % 3 AS epoch,
             |        CAST(o_totalprice AS DECIMAL(18,2)) AS v
             |      FROM orders)
             |SELECT CAST(epoch AS BIGINT) AS epoch, s AS seg,
             |  CAST(COUNT(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(v) AS DOUBLE) AS revenue
             |FROM f JOIN dim ON o_custkey = dim.k
             |  AND dim.vf <= epoch AND (dim.vt IS NULL OR epoch < dim.vt)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- streaming dead-letter routing (quarantine sink) ------------------
    // The ingestion-quality pattern q76 gates batches with, applied
    // row-level on a stream: every micro-batch splits into the main
    // sink and a quarantine (dead-letter) sink by a declared validity
    // rule — bad rows are never dropped silently and never poison the
    // main table, and BOTH sinks are written in the same foreachBatch
    // so a row lands in exactly one. Exactly-once via the
    // checkpoint + per-batch directory recipe: a replayed batch
    // OVERWRITES its own batch_N dir (idempotent), never appends a
    // duplicate. Routing is row-level, so the final sink contents are
    // arrival-batching-invariant — which is exactly what the batch
    // oracle certifies. The summary reports per-sink row counts and an
    // exact event_id checksum (one misrouted row breaks it).
    ("st28_stream_dead_letter",
      (s: SparkSession, d: String) => {
        val tmp = graft.TempDirs.create("graft_st28")
        val mainDir = s"$tmp/main"; val dlqDir = s"$tmp/dlq"
        EventStream.drain(s, EventStream.readEvents(s, d)
          .select(col("event_id"), col("event_type"), col("value"))
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // routeByValidity: total split — null-predicate rows (3VL)
            // route to the dead letter instead of vanishing from both
            val (bad, good) = graft.streaming.EventStream.routeByValidity(
              batch, col("event_type") === "error" || col("value") < 1.0)
            bad.write.mode("overwrite").parquet(s"$dlqDir/batch_$batchId")
            good.write.mode("overwrite").parquet(s"$mainDir/batch_$batchId")
          }, tmp)
        val main = s.read.parquet(s"$mainDir/batch_*")
          .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("id_checksum"))
          .select(lit("main").as("sink"), col("n_rows"), col("id_checksum"))
        val dlq = s.read.parquet(s"$dlqDir/batch_*")
          .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("id_checksum"))
          .select(lit("dlq").as("sink"), col("n_rows"), col("id_checksum"))
        dlq.unionAll(main).orderBy(col("sink"))
      },
      Some("""SELECT sink, n_rows, id_checksum FROM (
             |  SELECT 'dlq' AS sink, COUNT(*) AS n_rows,
             |    CAST(SUM(event_id) AS BIGINT) AS id_checksum
             |  FROM events
             |  WHERE COALESCE(event_type = 'error' OR value < 1.0, TRUE)
             |  UNION ALL
             |  SELECT 'main', COUNT(*),
             |    CAST(SUM(event_id) AS BIGINT)
             |  FROM events
             |  WHERE NOT COALESCE(event_type = 'error' OR value < 1.0, TRUE))
             |ORDER BY sink""".stripMargin)),

    // ---- streaming decontamination gate (q51 at ingest time) --------------
    // q51 decontaminates a corpus at rest; a production crawl gates at
    // INGEST so a contaminated doc never lands in the training table at
    // all. Per micro-batch: the arriving docs' 5-grams join the
    // broadcast eval gram set (the bounded external benchmark — q51's
    // fixture slice), hits route to quarantine, the rest to the main
    // table — st28's two-sink exactly-once recipe (per-batch overwrite
    // dirs). The decision is per-document against a FIXED eval set, so
    // sink contents are arrival-batching-invariant — which is exactly
    // what the batch oracle certifies. At 100 TB the per-batch cost is
    // one map-side broadcast join over the batch, never a corpus scan:
    // the gate's work tracks the crawl rate, not the corpus size.
    ("st30_stream_decontaminate",
      (s: SparkSession, d: String) => {
        import graft.ops.Dedup
        val tmp = graft.TempDirs.create("graft_st30")
        val mainDir = s"$tmp/main"; val qDir = s"$tmp/quarantine"
        // the benchmark gram set is derived ONCE per run (localCheckpoint
        // materializes it — eval sets are bounded) and broadcast into
        // every micro-batch's join: per-batch work is the batch's own
        // grams only, never a re-derivation of the eval side
        val evalGrams = Tables.load(s, d, "documents")
          .filter(col("doc_id") % 23 === 0)
          .select(explode(Dedup.wordNGrams(
            Dedup.words(col("text")), 5)).as("gram"))
          .distinct().localCheckpoint()
        EventStream.drain(s, ensureDedupStreamInput(s, d).read(s)
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val flagged = batch.select(col("doc_id"),
                explode(Dedup.wordNGrams(
                  Dedup.words(col("text")), 5)).as("gram"))
              .join(broadcast(evalGrams), "gram")
              .select(col("doc_id")).distinct()
            batch.join(flagged, Seq("doc_id"), "left_semi")
              .write.mode("overwrite").parquet(s"$qDir/batch_$batchId")
            batch.join(flagged, Seq("doc_id"), "left_anti")
              .write.mode("overwrite").parquet(s"$mainDir/batch_$batchId")
          }, tmp)
        val main = s.read.parquet(s"$mainDir/batch_*")
          .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
          .select(lit("main").as("sink"), col("n_docs"), col("id_checksum"))
        val quar = s.read.parquet(s"$qDir/batch_*")
          .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
          .select(lit("quarantine").as("sink"), col("n_docs"), col("id_checksum"))
        main.unionAll(quar).orderBy(col("sink"))
      },
      Some("""WITH g AS (
             |  SELECT doc_id,
             |    unnest(list_distinct(list_transform(
             |      range(1, greatest(len(w) - 3, 1)),
             |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS gram
             |  FROM (SELECT doc_id,
             |          string_split_regex(lower(text), '\s+') AS w FROM documents)),
             |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 23 = 0),
             |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN e USING (gram))
             |SELECT sink, n_docs, id_checksum FROM (
             |  SELECT 'main' AS sink, COUNT(*) AS n_docs,
             |    CAST(SUM(doc_id) AS BIGINT) AS id_checksum
             |  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bad)
             |  UNION ALL
             |  SELECT 'quarantine', COUNT(*),
             |    CAST(SUM(doc_id) AS BIGINT)
             |  FROM documents WHERE doc_id IN (SELECT doc_id FROM bad))
             |ORDER BY sink""".stripMargin)),

    // ---- streaming weighted sample maintenance (q89 kept current) ---------
    // q89's priority sample maintained AS THE CRAWL STREAMS IN: per
    // micro-batch, arriving docs are scored (the same Lehmer-hash
    // priority — deterministic per doc, so arrival order cannot change
    // any priority) and merged into a 20-row top-priority state; the
    // top-k operator is a MONOID (top20(top20(A) ∪ B) = top20(A ∪ B)),
    // so the final state equals the batch sample regardless of
    // batching — which is exactly what the q89-identical oracle
    // certifies. State is k rows — constant, never corpus-sized.
    // Exactly-once via the CdcReplica/Scd2 version recipe: each batch
    // reads the newest committed version strictly below its id and
    // overwrites its own v_<id> dir, so crash-replay rewrites an
    // identical version and a half-written one (no _SUCCESS) is
    // invisible.
    ("st31_stream_priority_sample",
      (s: SparkSession, d: String) => {
        import graft.ops.{TextAnalysis, TrainingPrep}
        val tmp = graft.TempDirs.create("graft_st31")
        val docs = ensureDedupStreamInput(s, d)
        def scoredOf(df: DataFrame): DataFrame = {
          val w = TextAnalysis.tokenCount(col("text")).cast("long")
          val u = TrainingPrep.hashBucket(col("doc_id"), 1000000) + 1L
          df.select(col("doc_id"), w.as("n_tokens"),
            (w.cast("double") * 1000000.0 / u.cast("double")).as("priority"))
        }
        val stream = docs.read(s)
        val emptyState = scoredOf(s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), docs.schema))
        val finalState = graft.streaming.VersionedView.run(
            s, stream, s"$tmp/state", s"$tmp/ckpt", emptyState) {
          (state, batch, _) =>
            state.unionByName(scoredOf(batch))
              .orderBy(col("priority").desc, col("doc_id")).limit(20)
        }
        import org.apache.spark.sql.expressions.Window
        finalState
          .withColumn("rank", row_number().over(
            Window.orderBy(col("priority").desc, col("doc_id"))).cast("int"))
          .select(col("rank"), col("doc_id"), col("n_tokens"))
          .orderBy(col("rank"))
      },
      Some("""WITH x AS (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
             |      AS n_tokens,
             |    (((doc_id * 48271) % 2147483647 + 2147483647) % 2147483647)
             |      % 1000000 + 1 AS u
             |  FROM documents),
             |p AS (SELECT doc_id, n_tokens,
             |        CAST(n_tokens AS DOUBLE) * 1000000.0 / CAST(u AS DOUBLE)
             |          AS priority
             |      FROM x)
             |SELECT CAST(rank AS INT) AS rank, doc_id, n_tokens FROM (
             |  SELECT doc_id, n_tokens,
             |    row_number() OVER (ORDER BY priority DESC, doc_id) AS rank
             |  FROM p)
             |WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    // ---- streaming dataset-card maintenance (incremental rollup) ----------
    // c04's datasheet kept CURRENT as the crawl streams in: per-doc
    // scoring (t03 lang-id, t01 tokens, t02 quality) happens in the
    // micro-batch projection — stateless, map-side — and the rollup is
    // a streaming aggregation whose state is |sources|×|langs| rows of
    // ALGEBRAIC accumulators (count, long sum, DECIMAL(18,6)-exact
    // quality sum): per-batch cost tracks the batch, state never grows
    // with the corpus, and the final snapshot equals the batch rollup
    // regardless of how arrival batched the docs. The mean is derived
    // from the exact sums at READ time (one IEEE divide) — never
    // averaged across batches, which would be order-dependent. The
    // dup/pct columns stay batch-only (c04): byte-exact dup counting
    // needs per-hash state ∝ corpus — that is the dedup STORE's job
    // (st07), not an aggregation's.
    ("st27_stream_card",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.types._
        import graft.ops.TextAnalysis
        val stream = ensureDocCardStream(s, d).read(s)
        val rollup = stream.select(col("source"),
            TextAnalysis.langId(col("text")).as("pred_lang"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"),
            TextAnalysis.qualityScore(col("text"))
              .cast(DecimalType(18, 6)).as("q"))
          .groupBy(col("source"), col("pred_lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("total_tokens"),
            sum(col("q")).as("q_sum"))
        EventStream.runToMemory(s, rollup)
          .select(col("source"), col("pred_lang"), col("n_docs"),
            col("total_tokens"),
            round(col("q_sum").cast("double") / col("n_docs"), 4)
              .as("mean_quality"))
          .orderBy(col("source"), col("pred_lang"))
      },
      Some("""WITH sc AS (
             |  SELECT source, text,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))) AS s_en,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['der','die','das','und','ist','ein','zu','den','von','mit'], t))) AS s_de,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['el','la','de','los','las','y','es','un','una','en'], t))) AS s_es,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['le','la','les','et','est','une','des','du','dans','pour'], t))) AS s_fr,
             |    regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS has_cjk,
             |    len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_toks,
             |    CAST(round(0.4 * least(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 100.0, 1.0)
             |      + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
             |      + 0.3 * least(CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |            t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))) AS DOUBLE)
             |          / len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5.0, 1.0),
             |      6) AS DECIMAL(18,6)) AS q
             |  FROM documents),
             |lx AS (
             |  SELECT source, n_toks, q,
             |    CASE WHEN has_cjk THEN 'zh'
             |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
             |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
             |         WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
             |         ELSE 'fr' END AS pred_lang
             |  FROM sc)
             |SELECT source, pred_lang,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
             |  round(CAST(SUM(q) AS DOUBLE) / COUNT(*), 4) AS mean_quality
             |FROM lx GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- streaming temporal debounce (q113 maintained incrementally) ------
    // st06 replays exact event_id dedup; this suppresses REPEATED
    // (user, type) firings within 5 minutes as they stream in — the
    // retry-storm/double-click gate at ingest, one long of state per
    // active key. Rides st12's time-range-ordered arrival fixture
    // (flush sentinels filtered out before the walk — debounce has no
    // open state to flush: every event's verdict is immediate). The
    // drained verdicts roll up batch-side; oracle is q113's SQL
    // verbatim — batch certifies streaming, the st02/st12 discipline.
    ("st35_stream_debounce",
      (s: SparkSession, d: String) => {
        val stream = sessionEvents(s, d)
        EventStream.runToFiles(s,
            EventStream.debounceStream(stream, 300L * 1000 * 1000).toDF())
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("kept")).cast("long").as("n_kept"),
            (count(lit(1)) - sum(col("kept"))).cast("long").as("n_debounced"))
          .orderBy(col("event_type"))
      },
      Some("""WITH x AS (
             |  SELECT event_type,
             |    CASE WHEN lag(ts) OVER (PARTITION BY user_id, event_type
             |           ORDER BY ts, event_id) IS NULL
             |      OR ts - lag(ts) OVER (PARTITION BY user_id, event_type
             |           ORDER BY ts, event_id) >= INTERVAL 5 MINUTE
             |    THEN 1 ELSE 0 END AS kept
             |  FROM events)
             |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(SUM(kept) AS BIGINT) AS n_kept,
             |  CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_debounced
             |FROM x GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ---- streaming per-user sequence assignment ---------------------------
    // q99 assigns stable global ids to data at REST (two-pass bucket
    // offsets); this stamps per-user ordinals as events ARRIVE — the
    // per-entity version counter (optimistic concurrency, audit
    // ordinals) that a global auto-increment would serialize through
    // one state key but per-user counters keep embarrassingly
    // parallel. Rides st12's ordered-arrival fixture (flush sentinels
    // filtered); output spot-checks every 7th ordinal per user
    // against the oracle's true row_number — one misnumbered event
    // anywhere shifts a sampled row and breaks the hash.
    ("st36_stream_user_seq",
      (s: SparkSession, d: String) => {
        val stream = sessionEvents(s, d)
        EventStream.runToFiles(s, EventStream.userSeqStream(stream).toDF())
          .filter(col("user_seq") % 7 === 0)
          .select(col("user_id"), col("user_seq"), col("event_id"))
          .orderBy(col("user_id"), col("user_seq"))
      },
      Some("""WITH r AS (SELECT user_id, event_id,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS user_seq
             |  FROM events)
             |SELECT user_id, CAST(user_seq AS BIGINT) AS user_seq, event_id
             |FROM r WHERE user_seq % 7 = 0
             |ORDER BY user_id, user_seq""".stripMargin)),

    // ---- streaming join-view maintenance (q123's IVM, one-sided live) -----
    // q123 refreshes the orders ⋈ lineitem monthly view by batch delta
    // algebra; this maintains the SAME view as order waves STREAM in —
    // the materialized-view-over-CDC shape. One-sided IVM: the arriving
    // batch is ΔO, lineitem is at rest, so ΔV = ΔO ⋈ L exactly (no
    // O₀⋈ΔL / ΔO⋈ΔL terms), and the refreshed view is the group-wise
    // sum-merge of the previous version with ΔV's rollup — per-batch
    // cost ∝ |Δ| · join-fanout + |view|, the old join never rescans.
    // Exactly-once is the CdcReplica recipe (read newest `_SUCCESS`
    // version strictly below the batch id, overwrite own) — a crash
    // replay rewrites the identical version. At 100 TB ΔO is the small
    // side: broadcast it against bucketed/DPP-pruned lineitem. Oracle
    // is q123's full-recompute SQL verbatim — batch certifies
    // streaming, and both certify the delta algebra.
    ("st38_stream_join_view",
      (s: SparkSession, d: String) => {
        val tmp = graft.TempDirs.create("graft_st38q")
        val li = Tables.load(s, d, "lineitem")
          .select(col("l_orderkey").as("k"),
            round(col("l_quantity")).cast("long").as("qty"))
        def rollup(joined: DataFrame): DataFrame = joined
          .groupBy(col("month"))
          .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
        val stream = ensureOrderStream(s, d).read(s)
        val emptyView = rollup(li.limit(0)
          .withColumn("month", lit("")))
        graft.streaming.VersionedView.run(
            s, stream, s"$tmp/view", s"$tmp/ckpt", emptyView) {
          (prev, batch, _) =>
            prev.unionByName(rollup(batch.join(li, "k")))
              .groupBy(col("month"))
              .agg(sum(col("n_rows")).as("n_rows"),
                sum(col("sum_qty")).as("sum_qty"))
        }.orderBy(col("month"))
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY 1 ORDER BY month""".stripMargin)),

    // ---- streaming rolling z-score anomalies (q122 maintained live) -------
    // q122 scores anomalies over data at rest; this scores each event
    // AS IT ARRIVES against its user's last-20 window carried in
    // state — the live-metrics alerting shape, where the verdict must
    // exist the moment the event lands, not at the next batch scan.
    // Rides st12's time-range-ordered arrival fixture (flush
    // sentinels filtered — scoring has no open state to flush). The
    // drained per-event verdicts roll up batch-side; oracle is q122's
    // SQL verbatim — batch certifies streaming, the st02/st12
    // discipline, and the division-free integer z-test makes the
    // agreement exact rather than tolerance-based.
    ("st37_stream_zscore",
      (s: SparkSession, d: String) => {
        val stream = sessionEvents(s, d)
        EventStream.runToFiles(s, EventStream.zscoreStream(stream).toDF())
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("scored")).cast("long").as("n_scored"),
            sum(col("anom")).cast("long").as("n_anomalies"))
          .orderBy(col("event_type"))
      },
      Some("""WITH v AS (SELECT user_id, ts, event_id, event_type,
             |    CAST(round(value*100) AS BIGINT) AS v FROM events),
             |sc AS (SELECT event_type, v,
             |    COUNT(*) OVER w AS n, SUM(v) OVER w AS sm,
             |    SUM(v*v) OVER w AS q
             |  FROM v
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
             |f AS (SELECT event_type,
             |    CASE WHEN n >= 5 AND (n*v - sm)*(n*v - sm) > 4*(n*q - sm*sm)
             |      THEN 1 ELSE 0 END AS anom,
             |    CASE WHEN n >= 5 THEN 1 ELSE 0 END AS scored
             |  FROM sc)
             |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(SUM(scored) AS BIGINT) AS n_scored,
             |  CAST(SUM(anom) AS BIGINT) AS n_anomalies
             |FROM f GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ---- streaming LOCF gap fill (q83 maintained incrementally) -----------
    // q83 recomputes the whole filled grid per run; the streaming twin
    // carries (lastH, lastV) per user and emits only the hours each
    // micro-batch touches — the sensor/metrics-pipeline shape where
    // the filled series must stay current without grid rescans. The
    // staged fixture pre-aggregates hourly rows WITH q83's exact
    // expressions (DECIMAL value sums) and range-splits them by hour
    // (no global sort — st24's lesson), so the stateful walk only
    // carries certified numbers in hour order. Oracle is q83's SQL
    // verbatim: batch certifies streaming, the st02/st12 discipline.
    ("st34_stream_gap_fill",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val stream = ensureLocfStream(s, d).read(s).as[EventStream.Hourly]
        EventStream.runToFiles(s, EventStream.locfStream(stream).toDF())
          .orderBy(col("user_id"), col("hour_us"))
      },
      Some("""WITH hourly AS (
             |  SELECT user_id, epoch_us(ts) // 3600000000 AS h,
             |    COUNT(*) AS n_ev,
             |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
             |  FROM events WHERE user_id < 20 GROUP BY 1, 2),
             |b AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1
             |      FROM hourly GROUP BY 1),
             |grid AS (SELECT user_id, u.h FROM b, unnest(range(h0, h1 + 1)) AS u(h))
             |SELECT g.user_id, g.h * 3600000000 AS hour_us,
             |  COALESCE(hourly.n_ev, 0) AS n_ev,
             |  last_value(hourly.sum_v IGNORE NULLS) OVER (
             |    PARTITION BY g.user_id ORDER BY g.h
             |    ROWS UNBOUNDED PRECEDING) AS locf_v,
             |  CAST(CASE WHEN hourly.n_ev IS NULL THEN 1 ELSE 0 END AS INT) AS filled
             |FROM grid g LEFT JOIN hourly
             |  ON g.user_id = hourly.user_id AND g.h = hourly.h
             |ORDER BY g.user_id, hour_us""".stripMargin)),

    // ---- streaming supply-value maintenance (q133 maintained live) --------
    // q133's Q11-family report kept current as supply flow streams in.
    // The versioned state is the per-(pk, sk) MONOID — (min cost_c,
    // sum qty) folds batch-by-batch; min and sum are both associative,
    // so replay order can't change it — and per-batch cost is
    // proportional to the keys the batch touches, not the corpus. The
    // nation rollup + 0.1% threshold run at READ time on the final
    // state: thresholds aren't incremental (a late batch can push a
    // part above or below the line), so they must never be folded into
    // the state — the st31/st38 lesson generalized. Oracle is q133's
    // SQL verbatim: batch certifies streaming.
    ("st39_stream_supply_value",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val tmp = graft.TempDirs.create("graft_st39q")
        def fold(df: DataFrame): DataFrame = df
          .groupBy(col("pk"), col("sk"))
          .agg(min(col("cost_c")).as("cost_c"), sum(col("avail")).as("avail"))
        val stream = ensureLineitemStream(s, d).read(s)
        val emptyState = fold(s.range(0).select(
          col("id").as("pk"), col("id").as("sk"),
          col("id").as("cost_c"), col("id").as("avail")))
        val state = graft.streaming.VersionedView.run(
            s, stream, s"$tmp/state", s"$tmp/ckpt", emptyState) {
          (prev, batch, _) =>
            fold(prev.unionByName(batch
              .select(col("pk"), col("sk"),
                col("price_c").as("cost_c"), col("qty").as("avail"))))
        }
        val sn = Tables.load(s, d, "supplier")
          .join(broadcast(Tables.load(s, d, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))
        state.join(broadcast(sn), col("sk") === col("s_suppkey"))
          .groupBy(col("n_name"), col("pk"))
          .agg(sum(col("cost_c") * col("avail")).as("value_c"))
          .withColumn("total_c",
            sum(col("value_c")).over(Window.partitionBy(col("n_name"))))
          .filter(col("value_c") * 10000L > col("total_c") * 10L)
          .select(col("n_name"), col("pk").as("p_partkey"), col("value_c"))
          .orderBy(col("n_name"), col("value_c").desc, col("p_partkey"))
      },
      Some("""WITH ps AS (
             |  SELECT l_partkey AS pk, l_suppkey AS sk,
             |    MIN(CAST(round(l_extendedprice*100) AS BIGINT)) AS cost_c,
             |    SUM(CAST(round(l_quantity) AS BIGINT)) AS avail
             |  FROM lineitem GROUP BY 1, 2),
             |v AS (
             |  SELECT n_name, pk,
             |    CAST(SUM(cost_c * avail) AS BIGINT) AS value_c
             |  FROM ps
             |  JOIN supplier ON sk = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  GROUP BY 1, 2)
             |SELECT n_name, pk AS p_partkey, value_c
             |FROM v
             |WHERE value_c * 10000 >
             |  (SELECT SUM(value_c) * 10 FROM v t WHERE t.n_name = v.n_name)
             |ORDER BY n_name, value_c DESC, p_partkey""".stripMargin)),

    // ---- streaming activity streaks (q135 maintained incrementally) -------
    // q135's gaps-and-islands rewrite re-sorts every user's full day
    // history per run; the streaming twin carries the OPEN RUN per user
    // (end day + length + best/count/total) and folds each batch's
    // days as they arrive — O(1) state per user, the live-dashboard
    // shape for engagement streaks. Every batch emits a per-user
    // snapshot (seq-stamped); the report takes each user's latest via
    // max_by, so intermediate snapshots double as the live values.
    // Arrival order comes from the ts-range-tiled session fixture
    // (mtime-pinned waves); a regressed day throws rather than
    // miscounting. Oracle is q135's SQL verbatim — batch certifies
    // streaming, the st02/st12 discipline.
    ("st40_stream_streaks",
      (s: SparkSession, d: String) => {
        val stream = sessionEvents(s, d)
        val snaps = EventStream.runToFiles(s, EventStream.streakStream(stream).toDF())
        snaps.groupBy(col("user_id"))
          .agg(max_by(struct(
              col("best_len").as("longest_streak"),
              col("n_streaks"),
              col("n_days").as("n_active_days")), col("seq")).as("f"))
          .select(col("user_id"), col("f.*"))
          .orderBy(col("user_id"))
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id,
             |    date_diff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS day_ix
             |  FROM events),
             |isl AS (
             |  SELECT user_id,
             |    day_ix - row_number() OVER (PARTITION BY user_id
             |                                ORDER BY day_ix) AS grp
             |  FROM days),
             |streaks AS (
             |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
             |  FROM isl GROUP BY 1, 2)
             |SELECT user_id,
             |  CAST(MAX(len) AS BIGINT) AS longest_streak,
             |  CAST(COUNT(*) AS BIGINT) AS n_streaks,
             |  CAST(SUM(len) AS BIGINT) AS n_active_days
             |FROM streaks GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ---- streaming price reconciliation (q138 maintained live) ------------
    // q138's binned range join, stream-static: arriving lineitem
    // prices probe the STANDING order-window index (the ±$1 intervals
    // exploded to their bins ONCE and cached — at 100 TB this is the
    // broadcast/bucketed reference side), each micro-batch joins only
    // its own points, and the per-priority match counts fold into the
    // versioned monoid state (counts and sums are additive, so replay
    // order can't change them). Per-batch cost ∝ batch × bin
    // selectivity — the arriving data never re-joins old batches.
    // Oracle is q138's SQL verbatim: batch certifies streaming.
    ("st41_stream_price_recon",
      (s: SparkSession, d: String) => {
        val tmp = graft.TempDirs.create("graft_st41q")
        val intervals = Tables.load(s, d, "orders")
          .select(col("o_orderpriority"),
            (round(col("o_totalprice") * 100).cast("long") - 100L).as("lo"),
            (round(col("o_totalprice") * 100).cast("long") + 100L).as("hi"))
          .withColumn("__bin", explode(sequence(
            floor(col("lo") / 1000L).cast("long"),
            floor(col("hi") / 1000L).cast("long"))))
          .cache()
        def fold(df: DataFrame): DataFrame = df
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("n_pairs")).as("n_pairs"),
            sum(col("sum_price_c")).as("sum_price_c"))
        val stream = ensureLineitemStream(s, d).read(s)
        val emptyState = s.range(0).select(
          col("id").cast("string").as("o_orderpriority"),
          col("id").as("n_pairs"), col("id").as("sum_price_c"))
        val res = graft.streaming.VersionedView.run(
            s, stream, s"$tmp/state", s"$tmp/ckpt", emptyState) {
          (prev, batch, _) =>
            val delta = batch
              .select(col("price_c").as("p"),
                floor(col("price_c") / 1000L).cast("long").as("__bin"))
              .join(intervals, Seq("__bin"))
              .filter(col("p") >= col("lo") && col("p") <= col("hi"))
              .groupBy(col("o_orderpriority"))
              .agg(count(lit(1)).as("n_pairs"), sum(col("p")).as("sum_price_c"))
            fold(prev.unionByName(delta))
        }
        intervals.unpersist()
        res.orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
             |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |  CAST(SUM(p) AS BIGINT) AS sum_price_c
             |FROM (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS p
             |      FROM lineitem) pts
             |JOIN (SELECT o_orderpriority,
             |        CAST(round(o_totalprice*100) AS BIGINT) - 100 AS lo,
             |        CAST(round(o_totalprice*100) AS BIGINT) + 100 AS hi
             |      FROM orders) itv
             |  ON pts.p >= itv.lo AND pts.p <= itv.hi
             |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // ---- streaming staged funnel (q62 maintained live) ----------------------
    // The conversion funnel AT INGEST TIME: per-user stage anchors live
    // in GroupState ([[EventStream.funnelStream]] — a constant-state
    // machine per user instead of q62's three batch joins), each stage
    // hit emits the moment its earliest qualifying event arrives, and
    // the drained per-stage user counts equal the batch funnel — q62's
    // DuckDB oracle certifies the stateful path end to end. Input is
    // the st12 arrival fixture (time-range-ordered files, so per-user
    // (ts, event_id) order holds across batches — the contract the
    // state machine's earliest-anchor logic needs, enforced by its
    // loud guard); sentinel flush events are filtered (the funnel
    // needs no punctuation — hits emit immediately). Row-per-hit
    // stream drains to a file sink; the per-stage rollup is a bounded
    // 3-row aggregate after the drain.
    ("st42_stream_funnel",
      (s: SparkSession, d: String) => {
        val stream = sessionEvents(s, d)
        EventStream.runToFiles(s, EventStream.funnelStream(stream).toDF())
          .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
          .orderBy(col("stage"))
      },
      Some("""WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
             |            WHERE event_type = 'view' GROUP BY 1),
             |t2 AS (SELECT e.user_id, MIN(e.ts) AS t2
             |       FROM events e JOIN t1 ON e.user_id = t1.user_id
             |       WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
             |t3 AS (SELECT e.user_id, MIN(e.ts) AS t3
             |       FROM events e JOIN t2 ON e.user_id = t2.user_id
             |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
             |SELECT stage, n_users FROM (
             |  SELECT '1_view' AS stage, COUNT(*) AS n_users FROM t1
             |  UNION ALL SELECT '2_click', COUNT(*) FROM t2
             |  UNION ALL SELECT '3_purchase', COUNT(*) FROM t3)
             |ORDER BY stage""".stripMargin)),

    // ---- streaming data-quality gate (q76 maintained live) ------------------
    // The expectations monitor a warehouse runs ON THE FEED instead of
    // after landing: the lineitem stream folds its constraint metrics
    // through one global streaming aggregate (algebraic sums — state is
    // a single row, batches fold exactly), the FK-orphan probe is a
    // stream-static left join against the broadcast orders key set, and
    // the report explodes from the final snapshot — q76's battery minus
    // pk_unique, which is NOT algebraic across batches (global
    // composite-key uniqueness needs the dedup-store machinery st06/
    // st07 own, not a fold). At 100 TB the state is still one row and
    // the per-batch cost is one scan + one broadcast join — the gate
    // rides the ingest, no second pass over landed data.
    ("st43_stream_quality_gate",
      (s: SparkSession, d: String) => {
        val stream = ensureGateStream(s, d).read(s)
        val okeys = Tables.load(s, d, "orders").select(col("o_orderkey"))
        val flagged = stream.join(broadcast(okeys),
          col("l_orderkey") === col("o_orderkey"), "left_outer")
        val agg = flagged.agg(
          count(lit(1)).as("n"),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("qty_oob"),
          sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("ship_null"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
            .otherwise(0L)).as("disc_oob"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("orphans"))
        EventStream.runToMemory(s, agg)
          .select(explode(array(
            struct(lit("disc_in_range").as("rule"),
              col("disc_oob").as("metric"), (col("disc_oob") === 0).as("passed")),
            struct(lit("fk_orders").as("rule"),
              col("orphans").as("metric"), (col("orphans") === 0).as("passed")),
            struct(lit("qty_in_range").as("rule"),
              col("qty_oob").as("metric"), (col("qty_oob") === 0).as("passed")),
            struct(lit("row_count").as("rule"),
              col("n").as("metric"), (col("n") > 0).as("passed")),
            struct(lit("shipdate_not_null").as("rule"),
              col("ship_null").as("metric"), (col("ship_null") === 0).as("passed"))
          )).as("c"))
          .select(col("c.rule").as("rule"),
            col("c.metric").as("metric"), col("c.passed").as("passed"))
          .orderBy(col("rule"))
      },
      Some("""WITH m AS (SELECT COUNT(*) AS n,
             |    CAST(COALESCE(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
             |                      THEN 1 ELSE 0 END), 0) AS BIGINT) AS qty_oob,
             |    CAST(COALESCE(SUM(CASE WHEN l_shipdate IS NULL
             |                      THEN 1 ELSE 0 END), 0) AS BIGINT) AS ship_null,
             |    CAST(COALESCE(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
             |                      THEN 1 ELSE 0 END), 0) AS BIGINT) AS disc_oob
             |  FROM lineitem),
             |o AS (SELECT COUNT(*) AS orphans FROM lineitem
             |      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             |SELECT rule, metric, passed FROM (
             |  SELECT 'disc_in_range' AS rule, disc_oob AS metric,
             |    disc_oob = 0 AS passed FROM m
             |  UNION ALL SELECT 'fk_orders', orphans, orphans = 0 FROM o
             |  UNION ALL SELECT 'qty_in_range', qty_oob, qty_oob = 0 FROM m
             |  UNION ALL SELECT 'row_count', n, n > 0 FROM m
             |  UNION ALL SELECT 'shipdate_not_null', ship_null, ship_null = 0 FROM m)
             |ORDER BY rule""".stripMargin)),

    // ---- streaming EXACT distinct via bitmap state ---------------------------
    // st32 keeps per-hour distincts with a SKETCH; this keeps the
    // per-event-type EXACT distinct-user count live with the q145
    // bitmap aggregate as STREAMING STATE — the state store holds one
    // serialized bitmap per event type (the st08/st09 custom-aggregate-
    // in-state pattern), each micro-batch ORs its arrivals in, and the
    // Complete-mode snapshot reads the cardinality with one popcount.
    // Exactness a sketch can't give, at a state size (maxBits/8 bytes
    // per key) a 100 TB feed amortizes trivially; dense-id domains
    // beyond 2^32 belong back with the sketches.
    ("st44_stream_bitmap_card",
      (s: SparkSession, d: String) => {
        import graft.functions.IdBitmap
        val agg = EventStream.readEvents(s, d)
          .groupBy(col("event_type"))
          .agg(IdBitmap.idBitmap(col("user_id"), 1L << 20).as("bm"))
        EventStream.runToMemory(s, agg)
          .select(col("event_type"),
            IdBitmap.bitmapCount(col("bm")).as("n_users"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ---- streaming CEP pattern matching --------------------------------------
    // q147's pattern detected AT INGEST: [[EventStream.cepStream]]'s
    // per-user state machine emits every completed view→click→purchase
    // chain the moment its purchase arrives, holding only events still
    // inside their match horizons (state ∝ rate × horizon, not stream
    // length). One shuffle total vs the batch join's three — and q147's
    // 3-way-join oracle certifies the emitted triple set is EXACTLY the
    // relational answer. Input is the st12 arrival fixture (per-user
    // (ts, event_id) order across batches — chains genuinely span
    // micro-batches); sentinels filtered (matches emit immediately,
    // no punctuation needed).
    ("st45_stream_cep",
      (s: SparkSession, d: String) => {
        val stream = sessionEvents(s, d)
        EventStream.runToFiles(s,
            EventStream.cepStream(stream,
              6L * 3600 * 1000000L, 12L * 3600 * 1000000L).toDF())
          .select(col("user_id"), col("view_id"), col("click_id"),
            col("purchase_id"))
          .orderBy(col("user_id"), col("view_id"), col("click_id"),
            col("purchase_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |    CAST(ts AS TIMESTAMP) AS t FROM events)
             |SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
             |  p.event_id AS purchase_id
             |FROM e v
             |JOIN e c ON c.user_id = v.user_id
             |  AND v.event_type = 'view' AND c.event_type = 'click'
             |  AND c.t > v.t AND c.t <= v.t + INTERVAL 6 HOUR
             |JOIN e p ON p.user_id = v.user_id AND p.event_type = 'purchase'
             |  AND p.t > c.t AND p.t <= c.t + INTERVAL 12 HOUR
             |ORDER BY 1, 2, 3, 4""".stripMargin)),

    // ---- streaming OLS sufficient statistics ---------------------------------
    // q149's regression maintained ON THE FEED: the exact integer
    // sufficient statistics (n, Σx, Σy, Σxy, Σx²) are algebraic sums,
    // so a per-group streaming aggregate folds them across micro-
    // batches with one state row per group — model fitting rides the
    // ingest, no second pass over landed data, and the slope falls out
    // of the Complete-mode snapshot by the same exact DECIMAL/`div`
    // arithmetic. Certified equal to the batch normal equations by
    // q149's oracle.
    ("st46_stream_ols",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.types.DecimalType
        val D = DecimalType(38, 0)
        val stream = ensureGateStream(s, d).read(s)
        val x = round(col("l_quantity")).cast("long")
        val y = round(col("l_extendedprice") * 100).cast("long")
        // sums accumulate in DECIMAL(38,0) like batch q149: a LONG Σxy
        // wraps silently (ANSI off) once a group's cross-product mass
        // passes 2⁶³ — on a stream that folds forever, it eventually will
        val agg = stream
          .select(col("l_returnflag"), x.as("x"), y.as("y"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(col("x").cast(D)).as("sx"),
            sum(col("y").cast(D)).as("sy"),
            sum(col("x").cast(D) * col("y").cast(D)).as("sxy"),
            sum(col("x").cast(D) * col("x").cast(D)).as("sx2"))
        val num = col("n").cast(D) * col("sxy") -
          col("sx") * col("sy")
        val den = col("n").cast(D) * col("sx2") -
          col("sx") * col("sx")
        EventStream.runToMemory(s, agg)
          .select(col("l_returnflag"), col("n"),
            col("sx").cast("long").as("sx"), col("sy").cast("long").as("sy"),
            col("sxy").cast("long").as("sxy"),
            col("sx2").cast("long").as("sx2"),
            call_function("div", num * lit(1000000L).cast(D), den)
              .cast("long").as("slope_micro"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH g AS (
             |  SELECT l_returnflag,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
             |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
             |         AS BIGINT) AS sy,
             |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)
             |           * CAST(round(l_extendedprice * 100) AS BIGINT))
             |         AS BIGINT) AS sxy,
             |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)
             |           * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sx2
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, n, sx, sy, sxy, sx2,
             |  CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
             |       * 1000000
             |       // (CAST(n AS HUGEINT) * sx2 - CAST(sx AS HUGEINT) * sx)
             |       AS BIGINT) AS slope_micro
             |FROM g ORDER BY l_returnflag""".stripMargin)),

    // ---- streaming interval coverage (q141 maintained live) ------------------
    // The sweep-line union length folded incrementally: batch q141
    // sorts the whole interval set per supplier; the streaming fold
    // ([[graft.streaming.IntervalCoverage]]) holds only the OPEN
    // island per key — constant state — because under lo-ordered
    // arrival a closed island can never reopen. Input is the
    // lo-value-tiled arrival fixture (equal-lo rows can't straddle a
    // batch boundary out of order); per-supplier summaries emit on the
    // sentinel flush wave (the st12 punctuation idiom). q141's oracle
    // certifies the drained summaries equal the batch sweep-line.
    ("st47_stream_coverage",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val stream = ensureIntervalStream(s, d).read(s)
          .as[graft.streaming.IntervalCoverage.Iv]
        EventStream.runToFiles(s,
            graft.streaming.IntervalCoverage.coverageStream(stream).toDF())
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH iv AS (
             |  SELECT DISTINCT l_suppkey AS sk,
             |    CAST(date_diff('day', DATE '1990-01-01',
             |         CAST(l_shipdate AS DATE)) AS BIGINT) AS lo,
             |    CAST(date_diff('day', DATE '1990-01-01',
             |         CAST(l_shipdate AS DATE))
             |      + CAST(round(l_quantity) AS BIGINT) AS BIGINT) AS hi
             |  FROM lineitem),
             |fl AS (
             |  SELECT sk, lo, hi,
             |    CASE WHEN MAX(hi) OVER pre IS NULL OR lo > MAX(hi) OVER pre
             |         THEN 1 ELSE 0 END AS flag
             |  FROM iv
             |  WINDOW pre AS (PARTITION BY sk ORDER BY lo, hi
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |gr AS (
             |  SELECT sk, lo, hi,
             |    SUM(flag) OVER (PARTITION BY sk ORDER BY lo, hi
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
             |  FROM fl),
             |isl AS (SELECT sk, grp, MAX(hi) - MIN(lo) + 1 AS covered
             |        FROM gr GROUP BY 1, 2)
             |SELECT sk AS s_suppkey,
             |  CAST(SUM(covered) AS BIGINT) AS covered_days,
             |  CAST(COUNT(*) AS BIGINT) AS n_islands,
             |  CAST(MAX(covered) AS BIGINT) AS max_span
             |FROM isl GROUP BY 1 ORDER BY s_suppkey""".stripMargin)),

    // ---- streaming score-band gains monitor (q154 maintained live) -----------
    // The eval table kept current on the feed: banding thresholds are
    // FIXED configuration (corpus score range, read once statically —
    // exactly how a deployed monitor pins its bands), per-band counts
    // fold as a 10-row streaming aggregate, and the gains sweep is a
    // bounded window over the Complete-mode snapshot. q154's oracle
    // certifies the live table equals the batch one at drain end.
    ("st48_stream_gains",
      (s: SparkSession, d: String) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val cents = round(col("value") * 100).cast("long")
        val mm = Tables.load(s, d, "events")
          .agg(min(cents).as("mn"),
            (max(cents) - min(cents) + 1L).as("span")).head()
        val (mn, span) = (mm.getLong(0), mm.getLong(1))
        val stream = sessionEvents(s, d).toDF()
        val agg = stream
          .select(least(lit(9L), call_function("div",
              (cents - mn) * 10L, lit(span))).as("band"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
        val snap = EventStream.runToMemory(s, agg)
        val totalPos = snap.agg(coalesce(sum(col("n_pos")), lit(0L)))
          .head().getLong(0)
        val wDesc = Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        snap
          .withColumn("cum_n", sum(col("n")).over(wDesc))
          .withColumn("cum_pos", sum(col("n_pos")).over(wDesc))
          .select(col("band"), col("n"), col("n_pos"), col("cum_n"),
            col("cum_pos"),
            call_function("div", col("cum_pos") * 10000L, lit(totalPos))
              .as("capture_bp"))
          .orderBy(col("band").desc)
      },
      Some("""WITH ev AS (
             |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
             |  FROM events),
             |mm AS (SELECT MIN(cents) AS mn,
             |         MAX(cents) - MIN(cents) + 1 AS span,
             |         CAST(SUM(pos) AS BIGINT) AS total_pos FROM ev),
             |b AS (SELECT LEAST(9, (cents - mn) * 10 // span) AS band,
             |        pos, total_pos
             |      FROM ev CROSS JOIN mm),
             |g AS (SELECT band, total_pos, CAST(COUNT(*) AS BIGINT) AS n,
             |        CAST(SUM(pos) AS BIGINT) AS n_pos
             |      FROM b GROUP BY 1, 2)
             |SELECT band, n, n_pos,
             |  CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
             |  CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
             |  CAST(SUM(n_pos) OVER w * 10000 // total_pos AS BIGINT)
             |    AS capture_bp
             |FROM g
             |WINDOW w AS (ORDER BY band DESC
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY band DESC""".stripMargin)),

    // ---- multimodal decode quarantine ---------------------------------------
    // The ingest-robustness face of m01-m03: payloads route through the
    // REAL image codec (javax.imageio), decodable ones report their
    // true pixel width (proof the decode ran — the oracle predicts it
    // from the fixture's id-derived dimensions), and failures quarantine
    // under a diagnosis: a PNG signature that will not decode is a
    // TRUNCATED transfer (alert the crawler), anything else was never
    // an image (misrouted row). The [[ensureDecodeMixFiles]] staging
    // mixes all three classes deterministically (id mod 3: whole PNG /
    // PNG cut at 24 bytes / raw text bytes). Per-partition decode, no
    // shuffle until the 3-row report rollup.
    ("m09_decode_quarantine",
      (s: SparkSession, d: String) => {
        val inDir = ensureDecodeMixFiles(s, d)
        Multimodal.decodeAudit(s.read.parquet(inDir)).toDF()
          .groupBy(col("reason"))
          .agg(count(lit(1)).as("n"),
            sum(col("width")).cast("long").as("sum_width"))
          .orderBy(col("reason"))
      },
      Some("""WITH ids AS (SELECT doc_id AS id FROM documents
             |             WHERE doc_id < 500)
             |SELECT reason, n, sum_width FROM (
             |  SELECT 'not_an_image' AS reason, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(0 AS BIGINT) AS sum_width FROM ids WHERE id % 3 = 2
             |  UNION ALL
             |  SELECT 'ok', CAST(COUNT(*) AS BIGINT),
             |    CAST(SUM(id % 16 + 8) AS BIGINT) FROM ids WHERE id % 3 = 0
             |  UNION ALL
             |  SELECT 'truncated_image', CAST(COUNT(*) AS BIGINT),
             |    CAST(0 AS BIGINT) FROM ids WHERE id % 3 = 1)
             |ORDER BY reason""".stripMargin)),

    // ---- streaming 4-stage CEP (pattern as data) -----------------------------
    // q156's acquisition chain detected AT INGEST through the generic
    // [[EventStream.cepPatternStream]] — the pattern (event-type
    // sequence + per-step windows) is an ARGUMENT, not code: the same
    // machine that runs st45's 3-stage instance runs this 4-stage one.
    // State stays horizon-bounded per stage (rate × window); q156's
    // 4-way-join oracle certifies the emitted quad set is exactly the
    // relational answer. Input is the st12 arrival fixture (per-user
    // (ts, event_id) order across batches — chains genuinely span
    // micro-batches); sentinels filtered (matches emit immediately).
    ("st49_stream_cep_quad",
      (s: SparkSession, d: String) => {
        val stream = sessionEvents(s, d)
        val pattern = Seq(
          ("signup", 0L),
          ("view", 168L * 3600 * 1000000L),
          ("click", 6L * 3600 * 1000000L),
          ("purchase", 12L * 3600 * 1000000L))
        EventStream.runToFiles(s,
            EventStream.cepPatternStream(stream, pattern).toDF())
          .select(col("user_id"),
            element_at(col("event_ids"), 1).as("signup_id"),
            element_at(col("event_ids"), 2).as("view_id"),
            element_at(col("event_ids"), 3).as("click_id"),
            element_at(col("event_ids"), 4).as("purchase_id"))
          .orderBy(col("user_id"), col("signup_id"), col("view_id"),
            col("click_id"), col("purchase_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |    CAST(ts AS TIMESTAMP) AS t FROM events)
             |SELECT s.user_id, s.event_id AS signup_id, v.event_id AS view_id,
             |  c.event_id AS click_id, p.event_id AS purchase_id
             |FROM e s
             |JOIN e v ON v.user_id = s.user_id
             |  AND s.event_type = 'signup' AND v.event_type = 'view'
             |  AND v.t > s.t AND v.t <= s.t + INTERVAL 168 HOUR
             |JOIN e c ON c.user_id = s.user_id AND c.event_type = 'click'
             |  AND c.t > v.t AND c.t <= v.t + INTERVAL 6 HOUR
             |JOIN e p ON p.user_id = s.user_id AND p.event_type = 'purchase'
             |  AND p.t > c.t AND p.t <= c.t + INTERVAL 12 HOUR
             |ORDER BY 1, 2, 3, 4, 5""".stripMargin)),

    // ---- streaming interval coverage under bounded DISORDER -------------------
    // st47's sweep-line, without st47's ordered-arrival privilege: the
    // r12 verdict called the lo-ordered staging "fine for the fixture,
    // brittle for a real feed". [[IntervalCoverage.coverageStreamWatermarked]]
    // tolerates lo-disorder up to a slack via a per-key reorder buffer —
    // only intervals below the watermark (maxLoSeen − slack) fold, so
    // the buffer holds one slack window per key, constant state — and
    // the arrival fixture here genuinely violates (lo, hi) order (the
    // jittered tiling would trip st47's guard) while staying inside the
    // contract. Disorder past the slack still throws loudly. q141's
    // oracle certifies the drained summaries.
    ("st50_stream_coverage_ooo",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val stream = ensureIntervalStreamJittered(s, d).read(s)
          .as[graft.streaming.IntervalCoverage.Iv]
        EventStream.runToFiles(s,
            graft.streaming.IntervalCoverage
              .coverageStreamWatermarked(stream, st50SlackDays).toDF())
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH iv AS (
             |  SELECT DISTINCT l_suppkey AS sk,
             |    CAST(date_diff('day', DATE '1990-01-01',
             |         CAST(l_shipdate AS DATE)) AS BIGINT) AS lo,
             |    CAST(date_diff('day', DATE '1990-01-01',
             |         CAST(l_shipdate AS DATE))
             |      + CAST(round(l_quantity) AS BIGINT) AS BIGINT) AS hi
             |  FROM lineitem),
             |fl AS (
             |  SELECT sk, lo, hi,
             |    CASE WHEN MAX(hi) OVER pre IS NULL OR lo > MAX(hi) OVER pre
             |         THEN 1 ELSE 0 END AS flag
             |  FROM iv
             |  WINDOW pre AS (PARTITION BY sk ORDER BY lo, hi
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |gr AS (
             |  SELECT sk, lo, hi,
             |    SUM(flag) OVER (PARTITION BY sk ORDER BY lo, hi
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
             |  FROM fl),
             |isl AS (SELECT sk, grp, MAX(hi) - MIN(lo) + 1 AS covered
             |        FROM gr GROUP BY 1, 2)
             |SELECT sk AS s_suppkey,
             |  CAST(SUM(covered) AS BIGINT) AS covered_days,
             |  CAST(COUNT(*) AS BIGINT) AS n_islands,
             |  CAST(MAX(covered) AS BIGINT) AS max_span
             |FROM isl GROUP BY 1 ORDER BY s_suppkey""".stripMargin)),

    // ---- transformWithState: named state variables, per-type sequencing -------
    // The Spark 4 arbitrary-state API ([[EventStream.TypeSeqProcessor]])
    // the flatMapGroupsWithState tier predates: per-user state declared
    // as NAMED VARIABLES (a MapState of per-event-type counters + a
    // ValueState ordering guard), each its own RocksDB column family —
    // an update touches one (type → count) entry, never a monolithic
    // state blob, which is the at-scale difference when users are hot.
    // Emits each event's 1-based rank within its (user, event_type) at
    // ingest; the batch twin — a plain row_number window — is the
    // oracle, so the multi-variable machine is hash-certified, not just
    // spec-gated. Input is the st12 arrival fixture; sentinels filtered.
    ("st51_typed_state_seq",
      (s: SparkSession, d: String) => {
        EventStream.withRocksDBState(s) {
          val stream = sessionEvents(s, d)
          EventStream.runToFiles(s,
              EventStream.typeSeqStream(stream).toDF())
            .orderBy(col("user_id"), col("event_id"))
        }
      },
      Some("""SELECT user_id, event_id, event_type,
             |  CAST(row_number() OVER (PARTITION BY user_id, event_type
             |                          ORDER BY ts, event_id) AS BIGINT)
             |    AS seq_in_type
             |FROM events ORDER BY user_id, event_id""".stripMargin)),

    // ---- streaming k-anonymity monitor -----------------------------------------
    // q161's privacy gate maintained ON THE FEED: equivalence-class
    // sizes under the quasi-identifier tuple are algebraic counts, so a
    // per-class streaming aggregate folds them across micro-batches
    // (class count bounded by the QI domain, not rows — constant
    // state), and the k-threshold sweep runs over the Complete-mode
    // snapshot exactly as the batch query runs it over the class frame.
    // A release gate that reads this table sees re-identification risk
    // the moment an ingest wave creates a small class — no second scan
    // of landed data. q161's oracle certifies the drained report.
    ("st52_stream_kanonymity",
      (s: SparkSession, d: String) => {
        val classes = ensureCustomerStream(s, d).read(s)
          .groupBy(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
          .agg(count(lit(1)).as("n"))
        EventStream.runToMemory(s, classes)
          .select(explode(array(lit(2L), lit(5L), lit(10L))).as("k"), col("n"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_classes"),
            sum(when(col("n") < col("k"), 1L).otherwise(0L)).as("n_risky"),
            sum(when(col("n") < col("k"), col("n")).otherwise(0L))
              .as("rows_at_risk"))
          .orderBy(col("k"))
      },
      Some("""WITH g AS (
             |  SELECT c_nationkey, c_mktsegment,
             |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM customer GROUP BY 1, 2, 3),
             |k AS (SELECT UNNEST([2, 5, 10]) AS k)
             |SELECT CAST(k.k AS BIGINT) AS k,
             |  CAST(COUNT(*) AS BIGINT) AS n_classes,
             |  CAST(SUM(CASE WHEN g.n < k.k THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_risky,
             |  CAST(SUM(CASE WHEN g.n < k.k THEN g.n ELSE 0 END) AS BIGINT)
             |    AS rows_at_risk
             |FROM g CROSS JOIN k GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- streaming exact distinct over a STRING key domain ---------------------
    // q157's two halves composed live: the PINNED dictionary is built
    // batch-side once (Densify's deployment contract — ids must be
    // stable against stored bitmaps), the order feed stream-static
    // joins through it (customer → dense_id, broadcast-size here;
    // key-equality shuffle at scale), and per-week `id_bitmap` state
    // folds across micro-batches — exact weekly distinct ordering
    // customers, by NAME, maintained at ingest with ≤ |customers|/8
    // bytes per week of state. The bitmap aggregate is commutative, so
    // the unordered 3-tile staging needs no arrival contract. q157's
    // per-week oracle certifies the snapshot.
    ("st53_stream_densified_bitmap",
      (s: SparkSession, d: String) => {
        import graft.functions.IdBitmap
        val cust = Tables.load(s, d, "customer")
          .select(col("c_custkey"), col("c_name"))
        val keyToDense = cust
          .join(graft.ops.Densify.dictionary(cust, "c_name"), "c_name")
          .select(col("c_custkey"), col("dense_id"))
        val weekly = ensureOrderFactStream(s, d).read(s)
          .select(call_function("div",
              datediff(to_date(col("o_orderdate")), lit("1990-01-01"))
                .cast("long"), lit(7L)).as("week_ix"),
            col("o_custkey"))
          .join(keyToDense, col("o_custkey") === col("c_custkey"))
          .groupBy(col("week_ix"))
          .agg(IdBitmap.idBitmap(col("dense_id"), 1L << 20).as("bm"))
        EventStream.runToMemory(s, weekly)
          .select(col("week_ix"), IdBitmap.bitmapCount(col("bm")).as("n_custs"))
          .orderBy(col("week_ix"))
      },
      Some("""WITH o AS (
             |  SELECT CAST(date_diff('day', DATE '1990-01-01',
             |      CAST(o_orderdate AS DATE)) // 7 AS BIGINT) AS week_ix,
             |    c_name
             |  FROM orders JOIN customer ON o_custkey = c_custkey)
             |SELECT week_ix, CAST(COUNT(DISTINCT c_name) AS BIGINT) AS n_custs
             |FROM o GROUP BY 1 ORDER BY week_ix""".stripMargin)),

    // ---- event-time TIMER sessions, hash-certified --------------------------
    // The engine-scheduled flush (transformWithState event-time timers,
    // [[EventStream.TimerSessionProcessor]]) made batch-boundary
    // INVARIANT and therefore oracle-checkable: a closed idle session
    // is keyed by (user, anchor_ts) and emitted exactly once, by the
    // over-gap successor event OR by the watermark passing its
    // deadline — identical row either way, so arrival tiling moves the
    // trigger, never the output. Both paths genuinely fire here:
    // within-tile successors close interior sessions on the event
    // path; every user's FINAL session has no successor and can only
    // flush through handleExpiredTimer when the sentinel pushers drive
    // the watermark past its deadline. The batch gaps-and-islands
    // oracle (st12's family) certifies the drained set. At scale this
    // is the sessionizer that needs NO sentinel punctuation per user —
    // one timer per open session, state = three scalars.
    ("st54_timer_sessions",
      (s: SparkSession, d: String) => {
        import s.implicits._
        EventStream.withRocksDBState(s) {
          val stream = ensureTimerSessionStream(s, d).read(s).as[EventStream.Event]
          EventStream.runToFiles(s,
              EventStream.timerSessionStream(stream,
                EventStream.SessionGapMicros).toDF())
            .filter(col("user_id") >= 0) // sentinel watermark pushers
            .orderBy(col("user_id"), col("anchor_ts"))
        }
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
             |  FROM events),
             |m AS (
             |  SELECT user_id, tu, event_id,
             |    CASE WHEN lag(tu) OVER w IS NULL
             |           OR tu - lag(tu) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
             |g AS (
             |  SELECT user_id, tu,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tu, event_id
             |      ROWS UNBOUNDED PRECEDING) AS grp
             |  FROM m)
             |SELECT user_id, CAST(MIN(tu) AS BIGINT) AS anchor_ts,
             |  CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(MAX(tu) AS BIGINT) AS last_ts
             |FROM g GROUP BY user_id, grp
             |ORDER BY user_id, anchor_ts""".stripMargin)),

    // ---- TTL-bounded trailing-window state ------------------------------------
    // The bounded-retention face of transformWithState
    // ([[EventStream.TtlRecentProcessor]]) — the repo's first REAL
    // TTLConfig (everything else is TTLConfig.NONE): per user, a
    // MapState of (day → count) holding only the trailing 7 event-time
    // days. The event-time prune is the semantics (exact, certified
    // here by a batch trailing-window self-join); the processing-time
    // TTL (24 h here — never inside the drain's wall clock, so output
    // is TTL-invariant by the operator's deployment contract) is the
    // physical backstop that reclaims users who never return. Emits
    // per event BOTH the trailing count and the retained-key count, so
    // the oracle certifies the prune itself, not just the sum. The
    // state bound is what changes at 100 TB: O(active users × 7)
    // entries instead of O(ever-seen users × full history).
    ("st55_ttl_recent_activity",
      (s: SparkSession, d: String) => {
        EventStream.withRocksDBState(s) {
          val stream = sessionEvents(s, d)
          EventStream.runToFiles(s,
              EventStream.recentActivityStream(stream, nDays = 7,
                org.apache.spark.sql.streaming.TTLConfig(
                  java.time.Duration.ofHours(24))).toDF(),
              noData = false) // ProcessingTime TTL: see runToFiles
            .orderBy(col("event_id"))
        }
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
             |  FROM events)
             |SELECT e1.event_id, e1.user_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_recent,
             |  CAST(COUNT(DISTINCT e2.tu // 86400000000) AS BIGINT)
             |    AS n_state_days
             |FROM e e1 JOIN e e2
             |  ON e1.user_id = e2.user_id
             | AND (e2.tu < e1.tu OR (e2.tu = e1.tu AND e2.event_id <= e1.event_id))
             | AND e2.tu // 86400000000 >= e1.tu // 86400000000 - 6
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // ---- streaming l-diversity monitor ------------------------------------------
    // q163's homogeneity-attack gate maintained ON THE FEED, the st52
    // pattern one level deeper: the streaming aggregate folds
    // per-(QI class, sensitive value) counts — still algebraic, still
    // bounded by |QI domain| × |sensitive domain|, NOT by rows — and
    // the Complete-mode snapshot collapses to per-class distinct
    // counts batch-side (each (class, segment) cell is one snapshot
    // row, so l_div is a plain count). A release gate reading this
    // table sees a sensitive-value-homogeneous class the moment an
    // ingest wave creates it. q163's oracle certifies the report.
    ("st56_stream_ldiversity",
      (s: SparkSession, d: String) => {
        val cells = ensureCustomerStream(s, d).read(s)
          .groupBy(col("c_nationkey"),
            floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
            col("c_mktsegment"))
          .agg(count(lit(1)).as("n"))
        EventStream.runToMemory(s, cells)
          .groupBy(col("c_nationkey"), col("bal_band"))
          .agg(count(lit(1)).as("l_div"), sum(col("n")).as("n"))
          .select(explode(array(lit(2L), lit(3L), lit(5L))).as("l"),
            col("l_div"), col("n"))
          .groupBy(col("l"))
          .agg(count(lit(1)).as("n_classes"),
            sum(when(col("l_div") < col("l"), 1L).otherwise(0L)).as("n_risky"),
            sum(when(col("l_div") < col("l"), col("n")).otherwise(0L))
              .as("rows_at_risk"))
          .orderBy(col("l"))
      },
      Some("""WITH g AS (
             |  SELECT c_nationkey,
             |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
             |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_div,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM customer GROUP BY 1, 2),
             |k AS (SELECT UNNEST([2, 3, 5]) AS l)
             |SELECT CAST(k.l AS BIGINT) AS l,
             |  CAST(COUNT(*) AS BIGINT) AS n_classes,
             |  CAST(SUM(CASE WHEN g.l_div < k.l THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_risky,
             |  CAST(SUM(CASE WHEN g.l_div < k.l THEN g.n ELSE 0 END) AS BIGINT)
             |    AS rows_at_risk
             |FROM g CROSS JOIN k GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- salted stream-static join (streaming skew guard) ----------------------
    // The batch tier has q44's salting and AQE skew splitting; neither
    // helps a STREAM: AQE re-plans at blocking shuffle boundaries,
    // which micro-batch joins don't expose, so one hot customer in the
    // order feed pins one task every batch, forever. This is st53's
    // densified weekly-distinct rollup with the stream-static join
    // routed through [[graft.ops.ScaleJoins.saltedJoin]]: the feed
    // side gets salt = hash(o_orderdate) % 8 (any well-distributed
    // fact column spreads a hot key, since its rows vary in date), the
    // dimension is replicated 8×, and the join key becomes
    // (custkey, salt) — a hot key's rows land on 8 tasks instead of 1.
    // Inner-join semantics are unchanged (q157's oracle certifies the
    // drained rollup); the hot-key spread bound is spec-gated in
    // StreamingSpec.
    ("st57_stream_salted_join",
      (s: SparkSession, d: String) => {
        import graft.functions.IdBitmap
        val cust = Tables.load(s, d, "customer")
          .select(col("c_custkey"), col("c_name"))
        val keyToDense = cust
          .join(graft.ops.Densify.dictionary(cust, "c_name"), "c_name")
          .select(col("c_custkey").as("o_custkey"), col("dense_id"))
        val stream = ensureOrderFactStream(s, d).read(s)
        val weekly = graft.ops.ScaleJoins
          .saltedJoin(stream, keyToDense, "o_custkey", 8, col("o_orderdate"))
          .select(call_function("div",
              datediff(to_date(col("o_orderdate")), lit("1990-01-01"))
                .cast("long"), lit(7L)).as("week_ix"),
            col("dense_id"))
          .groupBy(col("week_ix"))
          .agg(IdBitmap.idBitmap(col("dense_id"), 1L << 20).as("bm"))
        EventStream.runToMemory(s, weekly)
          .select(col("week_ix"), IdBitmap.bitmapCount(col("bm")).as("n_custs"))
          .orderBy(col("week_ix"))
      },
      Some("""WITH o AS (
             |  SELECT CAST(date_diff('day', DATE '1990-01-01',
             |      CAST(o_orderdate AS DATE)) // 7 AS BIGINT) AS week_ix,
             |    c_name
             |  FROM orders JOIN customer ON o_custkey = c_custkey)
             |SELECT week_ix, CAST(COUNT(DISTINCT c_name) AS BIGINT) AS n_custs
             |FROM o GROUP BY 1 ORDER BY week_ix""".stripMargin)),

    // ---- streaming VARIANT ingest -----------------------------------------------
    // q164's shredding tier where messy JSON actually lives: ON THE
    // FEED. Each micro-batch's lines shred through try_parse_json into
    // VARIANT, typed paths extract per batch, parse failures quarantine
    // as NULL variants, and the per-source aggregate folds across
    // batches (algebraic sums/counts — Complete mode, state bounded by
    // the source domain). This is the landing-zone shape at 100 TB:
    // schema never declared at the sink, quarantine counted at ingest,
    // path extraction deferred to the columnar variant binary. q164's
    // DuckDB-JSON oracle certifies the drained report.
    ("st58_stream_variant_ingest",
      (s: SparkSession, d: String) => {
        val base = concat(lit("{\"id\":"), col("doc_id"),
          lit(",\"meta\":{\"src\":\""), col("source"), lit("\""),
          when(col("doc_id") % 3 === 0,
            concat(lit(",\"score\":"), col("doc_id") % 97)).otherwise(lit("")),
          lit("},\"tags\":["), col("doc_id") % 5, lit(","),
          col("doc_id") % 7, lit("]}"))
        val shredded = ensureDocCardStream(s, d).read(s)
          .select(when(col("doc_id") % 13 === 0, substring(base, 1, 10))
            .otherwise(base).as("js"))
          .select(try_parse_json(col("js")).as("v"))
          .select(
            variant_get(col("v"), "$.meta.src", "string").as("src"),
            variant_get(col("v"), "$.id", "long").as("id"),
            try_variant_get(col("v"), "$.meta.score", "long").as("score"),
            variant_get(col("v"), "$.tags[1]", "long").as("tag1"),
            col("v").isNull.cast("long").as("bad"))
          .groupBy(col("src"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("bad")).as("n_quarantined"),
            sum(col("id")).as("id_sum"),
            count(col("score")).as("n_scored"),
            sum(col("score")).as("score_sum"),
            sum(col("tag1")).as("tag1_sum"))
        EventStream.runToMemory(s, shredded)
          .orderBy(col("src"))
      },
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    '{"id":' || CAST(doc_id AS VARCHAR) || ',"meta":{"src":"'
             |    || source || '"' ||
             |    CASE WHEN doc_id % 3 = 0
             |      THEN ',"score":' || CAST(doc_id % 97 AS VARCHAR)
             |      ELSE '' END ||
             |    '},"tags":[' || CAST(doc_id % 5 AS VARCHAR) || ',' ||
             |    CAST(doc_id % 7 AS VARCHAR) || ']}' AS j
             |  FROM documents),
             |lines AS (
             |  SELECT CASE WHEN doc_id % 13 = 0 THEN substring(j, 1, 10)
             |    ELSE j END AS js
             |  FROM raw),
             |p AS (
             |  SELECT
             |    CASE WHEN json_valid(js)
             |      THEN json_extract_string(js, '$.meta.src') END AS src,
             |    CASE WHEN json_valid(js)
             |      THEN CAST(json_extract(js, '$.id') AS BIGINT) END AS id,
             |    CASE WHEN json_valid(js)
             |      THEN TRY_CAST(json_extract(js, '$.meta.score') AS BIGINT)
             |      END AS score,
             |    CASE WHEN json_valid(js)
             |      THEN CAST(json_extract(js, '$.tags[1]') AS BIGINT)
             |      END AS tag1,
             |    CASE WHEN json_valid(js) THEN 0 ELSE 1 END AS bad
             |  FROM lines)
             |SELECT src, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(bad) AS BIGINT) AS n_quarantined,
             |  CAST(SUM(id) AS BIGINT) AS id_sum,
             |  CAST(COUNT(score) AS BIGINT) AS n_scored,
             |  CAST(SUM(score) AS BIGINT) AS score_sum,
             |  CAST(SUM(tag1) AS BIGINT) AS tag1_sum
             |FROM p GROUP BY 1 ORDER BY src""".stripMargin)),

    // ---- state store READER: sink + in-flight state = the whole truth ----------
    // The streaming-ops surface a 100 TB deployment debugs with: the
    // `statestore` data source reads a checkpoint's state DIRECTLY
    // (here the transformWithState variable `sess`, via stateVarName)
    // — no replay, no code path through the query. The certified
    // invariant is exactly the one an on-call engineer needs: the
    // drained sink (closed sessions) plus the store's open sessions
    // reconstruct the COMPLETE session set, so nothing is ever lost
    // between the two. Deliberately robust to scheduling: WHICH
    // sessions closed mid-drain depends on tile boundaries (timer vs
    // event path), but sink ∪ state is invariant — which is what makes
    // a hash oracle possible at all. Drains st54's tiles WITHOUT the
    // watermark pushers, so every user's final session is still open
    // in the store when it is read back.
    ("st59_statestore_read",
      (s: SparkSession, d: String) => {
        import s.implicits._
        EventStream.withRocksDBState(s) {
          val stream = ensureTimerSessionStream(s, d)
            .read(s, files = "part-*") // tiles only: pushers are z*_push
            .as[EventStream.Event]
          val out = graft.TempDirs.create("graft_st59o")
          val drained = EventStream.runToFiles(s,
            EventStream.timerSessionStream(stream,
              EventStream.SessionGapMicros).toDF(), out)
          val open = EventStream.readState(s, out, "stateVarName" -> "sess")
            .select(col("key.value").as("user_id"),
              col("value._1").as("anchor_ts"),
              col("value._2").as("n_events"),
              col("value._3").as("last_ts"))
          drained.select("user_id", "anchor_ts", "n_events", "last_ts")
            .unionByName(open)
            .orderBy(col("user_id"), col("anchor_ts"))
        }
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
             |  FROM events),
             |m AS (
             |  SELECT user_id, tu, event_id,
             |    CASE WHEN lag(tu) OVER w IS NULL
             |           OR tu - lag(tu) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
             |g AS (
             |  SELECT user_id, tu,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tu, event_id
             |      ROWS UNBOUNDED PRECEDING) AS grp
             |  FROM m)
             |SELECT user_id, CAST(MIN(tu) AS BIGINT) AS anchor_ts,
             |  CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(MAX(tu) AS BIGINT) AS last_ts
             |FROM g GROUP BY user_id, grp
             |ORDER BY user_id, anchor_ts""".stripMargin)),

    // ---- state changelog CDC read (the audit trail of the operator) -------------
    // st59 reads the state SNAPSHOT; this reads its HISTORY: with
    // RocksDB changelog checkpointing on, the statestore source's
    // readChangeFeed replays every per-batch state write (update /
    // delete) the operator ever made — the audit trail an on-call
    // engineer greps when a key's state looks wrong, WITHOUT replaying
    // the query. Individual change records are tiling-dependent (WHICH
    // batch grew a session depends on arrival), but their FOLD is not:
    // last change per key wins, delete clears — reconstructing exactly
    // the open-session set, and sink ∪ folded-changelog is the same
    // complete session set st59 certifies (the st54 gaps-and-islands
    // oracle). Drains the tiles WITHOUT watermark pushers so final
    // sessions live in the changelog's tail, and the fold must prove
    // both regimes: users whose last record is an update (still open)
    // and users with interior deletes (event-path flush + re-anchor).
    ("st60_state_changelog",
      (s: SparkSession, d: String) => {
        import s.implicits._
        // the changelog exists because withRocksDBState turns RocksDB
        // changelog checkpointing on
        EventStream.withRocksDBState(s) {
          val stream = ensureTimerSessionStream(s, d)
            .read(s, perTrigger = 1, files = "part-*") // tiles only
            .as[EventStream.Event]
          val out = graft.TempDirs.create("graft_st60o")
          val drained = EventStream.runToFiles(s,
            EventStream.timerSessionStream(stream,
              EventStream.SessionGapMicros).toDF(), out)
          val changes = EventStream.readState(s, out, "stateVarName" -> "sess",
              "readChangeFeed" -> "true", "changeStartBatchId" -> "0")
            .select(col("batch_id"), col("change_type"),
              col("key.value").as("user_id"),
              col("value._1").as("anchor_ts"),
              col("value._2").as("n_events"),
              col("value._3").as("last_ts"))
          // fold the changelog: the LAST write per user wins (the
          // processor writes sess at most once per batch — update at
          // the end of handleInputRows or delete in the timer path,
          // never both, so (user, batch) is unique); an open session
          // is a final 'update', a closed one ends in 'delete'
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("batch_id").desc)
          val open = changes
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1 && col("change_type") === "update")
            .select("user_id", "anchor_ts", "n_events", "last_ts")
          drained.select("user_id", "anchor_ts", "n_events", "last_ts")
            .unionByName(open)
            .orderBy(col("user_id"), col("anchor_ts"))
        }
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
             |  FROM events),
             |m AS (
             |  SELECT user_id, tu, event_id,
             |    CASE WHEN lag(tu) OVER w IS NULL
             |           OR tu - lag(tu) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
             |g AS (
             |  SELECT user_id, tu,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tu, event_id
             |      ROWS UNBOUNDED PRECEDING) AS grp
             |  FROM m)
             |SELECT user_id, CAST(MIN(tu) AS BIGINT) AS anchor_ts,
             |  CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(MAX(tu) AS BIGINT) AS last_ts
             |FROM g GROUP BY user_id, grp
             |ORDER BY user_id, anchor_ts""".stripMargin)),

    // ---- ListState: bounded trailing-K context buffer ---------------------------
    // The last transformWithState variable type
    // ([[EventStream.RecentTypesProcessor]]): per user, a ListState of
    // the previous k−1 event types — an ORDERED recent-K window, the
    // shape MapState (unordered) and ValueState (whole-value rewrite)
    // don't give. Emits per event the '>'-joined last-3-types context
    // (placeholder '_' while history is short) — the training rows of
    // a next-event/Markov model, maintained at ingest with k−1 short
    // strings of state per user regardless of history length. Output
    // is a pure function of per-user event order, so the ts-range
    // tiled drain is arrival-invariant; the batch lag-window oracle
    // certifies every row.
    ("st61_liststate_context",
      (s: SparkSession, d: String) => {
        import s.implicits._
        EventStream.withRocksDBState(s) {
          val stream = ensureTimerSessionStream(s, d)
            .read(s, files = "part-*") // tiles only: pushers are z*_push
            .as[EventStream.Event]
          EventStream.runToFiles(s,
              EventStream.recentPatternStream(stream, k = 3).toDF())
            .orderBy(col("event_id"))
        }
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
             |  FROM events)
             |SELECT event_id, user_id,
             |  COALESCE(lag(event_type, 2) OVER w, '_') || '>' ||
             |  COALESCE(lag(event_type, 1) OVER w, '_') || '>' ||
             |  event_type AS pattern
             |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
             |ORDER BY event_id""".stripMargin)),

    // ---- dynamic-gap session windows ---------------------------------------------
    // st20's built-in sessionizer with the gap AS AN EXPRESSION:
    // `session_window(ts, gapExpr)` lets each event carry its own idle
    // timeout (views go stale in 15 min, other engagement holds a
    // session 45) — the per-event-type tuning a fixed gap can't
    // express, still with engine-owned merging state and watermark
    // closure. Merge semantics generalize st20's: an event's window is
    // [t, t+gap(event)); windows merge on strict overlap, so a session
    // ends at max(t_i + gap_i) and a successor starting at-or-past
    // that end opens a new one — mirrored in the oracle by the running
    // max of per-event ends (gaps-and-islands, break on t ≥ max prev
    // end). Same append-mode file drain and finalized-set predicate
    // (session_end ≤ final watermark) as st20.
    ("st62_dynamic_gap_sessions",
      (s: SparkSession, d: String) => {
        val gap = when(col("event_type") === "view", lit("15 minutes"))
          .otherwise(lit("45 minutes"))
        val sess = EventStream.readEvents(s, d)
          .withWatermark("event_time", "1 hour")
          .groupBy(col("user_id"),
            session_window(col("event_time"), gap).as("w"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            col("w.start").as("session_start"),
            col("w.end").as("session_end"), col("n_events"))
        EventStream.withRocksDBState(s) {
          EventStream.runToFiles(s, sess)
        }.orderBy(col("user_id"), col("session_start"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t,
             |    CASE WHEN event_type = 'view' THEN INTERVAL 15 MINUTE
             |         ELSE INTERVAL 45 MINUTE END AS g
             |  FROM events),
             |r AS (
             |  SELECT user_id, event_id, t, g,
             |    max(t + g) OVER (PARTITION BY user_id ORDER BY t, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS prev_end
             |  FROM e),
             |m AS (
             |  SELECT user_id, event_id, t, g,
             |    CASE WHEN prev_end IS NULL OR t >= prev_end
             |      THEN 1 ELSE 0 END AS brk
             |  FROM r),
             |s AS (
             |  SELECT user_id, t, g,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM m),
             |agg AS (
             |  SELECT user_id, min(t) AS session_start,
             |    max(t + g) AS session_end, COUNT(*) AS n_events
             |  FROM s GROUP BY user_id, sid),
             |wm AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS w
             |       FROM events)
             |SELECT user_id, session_start, session_end, n_events
             |FROM agg, wm WHERE session_end <= wm.w
             |ORDER BY user_id, session_start""".stripMargin)),

    // ---- initial state: batch backfill hands off to the stream -------------------
    // The MIGRATION face of transformWithState
    // ([[EventStream.bootstrapSessionStream]]): a new stateful
    // streaming job takes over from a batch backfill WITHOUT replaying
    // history — the backfill's open sessions arrive as an
    // initial-state TABLE (handleInitialState seeds the state variable
    // and arms each session's timer), and the stream continues from
    // the cut. The certified handoff invariant: events ≤ cut are
    // sessionized batch-side (closed sessions emitted directly, the
    // last open session per user becomes initial state); events > cut
    // drain through the stream; batch-closed ∪ drained must equal the
    // full-corpus gaps-and-islands answer — sessions STRADDLING the
    // cut only survive if the seeded state is exact, and bootstrap-
    // only users (no post-cut events) only flush if handleInitialState
    // armed their timers. st54's oracle certifies the union.
    ("st63_initial_state_handoff",
      (s: SparkSession, d: String) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val (batchDir, arrivals) = ensureBootstrapSessionStream(s, d)
        val gapUs = EventStream.SessionGapMicros
        // the backfill: gaps-and-islands over the batch half
        val e = s.read.parquet(batchDir)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sess = e
          .withColumn("brk", when(lag(col("ts"), 1).over(w).isNull ||
            col("ts") - lag(col("ts"), 1).over(w) > gapUs, 1L).otherwise(0L))
          .withColumn("grp", sum(col("brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("grp"))
          .agg(min(col("ts")).as("anchor_ts"), count(lit(1)).as("n_events"),
            max(col("ts")).as("last_ts"))
        val ranked = sess.withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("anchor_ts").desc)))
        val closedBatch = ranked.filter(col("rn") > 1)
          .select("user_id", "anchor_ts", "n_events", "last_ts")
        val openAtCut = ranked.filter(col("rn") === 1)
          .select(col("user_id").as("_1"), col("anchor_ts").as("_2"),
            col("n_events").as("_3"), col("last_ts").as("_4"))
          .as[(Long, Long, Long, Long)]
        // the stream takes over from the cut, state seeded.
        // One file per trigger HERE: the two watermark pushers
        // must land in separate batches (a timer armed before batch k
        // fires in the first batch whose START watermark passes it),
        // and with only 2 data tiles a 2-files trigger would lump them.
        EventStream.withRocksDBState(s) {
          val stream = arrivals.read(s, perTrigger = 1).as[EventStream.Event]
          val drained = EventStream.runToFiles(s,
            EventStream.bootstrapSessionStream(stream, gapUs, openAtCut).toDF())
          drained.select("user_id", "anchor_ts", "n_events", "last_ts")
            .filter(col("user_id") >= 0) // sentinel watermark pushers
            .unionByName(closedBatch)
            .orderBy(col("user_id"), col("anchor_ts"))
        }
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
             |  FROM events),
             |m AS (
             |  SELECT user_id, tu, event_id,
             |    CASE WHEN lag(tu) OVER w IS NULL
             |           OR tu - lag(tu) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
             |g AS (
             |  SELECT user_id, tu,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tu, event_id
             |      ROWS UNBOUNDED PRECEDING) AS grp
             |  FROM m)
             |SELECT user_id, CAST(MIN(tu) AS BIGINT) AS anchor_ts,
             |  CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(MAX(tu) AS BIGINT) AS last_ts
             |FROM g GROUP BY user_id, grp
             |ORDER BY user_id, anchor_ts""".stripMargin)),

    // ---- streaming observed metrics (ingest telemetry with zero extra jobs) ------
    // The operational backbone of a 100 TB feed: `observe()` metrics
    // piggyback each micro-batch's OWN execution — no second
    // aggregation stream doubling the read — and surface per batch in
    // StreamingQueryProgress.observedMetrics. The drain itself is an
    // ordinary filtered file-to-file pipeline; the query output is the
    // FOLD of the per-batch telemetry rows (sums of sums, min of mins,
    // max of maxes — each metric algebraic, so the fold is
    // tiling-invariant), certified against the corpus aggregate
    // computed batch-side. n_batches pins the per-batch granularity:
    // the fixture is 3 tiles at one file per trigger, so telemetry must
    // have arrived as 3 per-batch rows, not one lump. recentProgress is
    // populated synchronously at each batch commit (no listener race);
    // the fold is a driver loop over ≤ n_batches tiny rows.
    ("st64_stream_observe",
      (s: SparkSession, d: String) => {
        val out = graft.TempDirs.create("graft_st64")
        val streamed = ensureGateStream(s, d) // lineitem as 3 tiles
          .read(s, perTrigger = 1)
          .observe("ingest",
            count(lit(1)).as("rows_in"),
            sum(col("l_quantity").cast("long")).as("qty_sum"),
            sum(round(col("l_extendedprice") * 100).cast("long")).as("cents_sum"),
            min(col("l_orderkey")).as("okey_min"),
            max(col("l_orderkey")).as("okey_max"))
          .filter(col("l_quantity") > 0) // the payload pipeline observe rides
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        val q = EventStream.drain(s, streamed.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .format("parquet")
          .option("path", EventStream.dataDir(out)), out, noData = false)
        val perBatch = q.recentProgress.toSeq
          .flatMap(p => Option(p.observedMetrics.get("ingest"))
            .map(r => p.batchId -> r))
          .toMap.values.toSeq // dedupe re-reported batches, last wins
        // min/max fold over batches that SAW rows (a zero-row batch
        // reports null min/max, which getAs[Long] would read as 0)
        val nonEmpty = perBatch.filter(_.getAs[Long]("rows_in") > 0)
        // name the contract violation instead of the opaque
        // UnsupportedOperationException .min would throw on empty
        require(nonEmpty.nonEmpty,
          s"no batch observed rows_in > 0 (${perBatch.size} batches) — " +
            "gate-stream fixture or observe() telemetry broken")
        import s.implicits._
        Seq((
          perBatch.map(_.getAs[Long]("rows_in")).sum,
          perBatch.map(_.getAs[Long]("qty_sum")).sum,
          perBatch.map(_.getAs[Long]("cents_sum")).sum,
          nonEmpty.map(_.getAs[Long]("okey_min")).min,
          nonEmpty.map(_.getAs[Long]("okey_max")).max,
          perBatch.size.toLong))
          .toDF("rows_in", "qty_sum", "cents_sum", "okey_min", "okey_max",
            "n_batches")
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS rows_in,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
             |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
             |    AS BIGINT) AS cents_sum,
             |  CAST(MIN(l_orderkey) AS BIGINT) AS okey_min,
             |  CAST(MAX(l_orderkey) AS BIGINT) AS okey_max,
             |  CAST(3 AS BIGINT) AS n_batches
             |FROM lineitem""".stripMargin)),

    // ---- state-reader snapshot time-travel (point-in-time forensics) -------------
    // st59 reads the LATEST state; this reconstructs it the hard way:
    // `snapshotStartBatchId = 0` anchors each partition at its batch-0
    // bootstrap snapshot and replays every RocksDB CHANGELOG forward to
    // the final committed batch — the deep-forensics path for a
    // corrupted-lineage suspicion (pin the anchor, replay the writes,
    // see where a key diverges). The certified invariant is st59's:
    // drained sink ∪ snapshot-reconstructed open sessions must be the
    // COMPLETE session set — if the changelog replay dropped or
    // reordered one write, the union's hash breaks. The snapshot read
    // is per-partition by API design (at 100 TB you reconstruct the one
    // suspect partition, not the store); the full union here is
    // shuffle-partition-count reads, a bounded config, not data. The
    // last committed batch id comes from the checkpoint's commits log —
    // the same source of truth the engine restarts from.
    ("st65_state_snapshot",
      (s: SparkSession, d: String) => {
        import s.implicits._
        // snapshot-anchored reads replay changelog files forward from an
        // uploaded snapshot — they exist only under the changelog
        // checkpointing withRocksDBState turns on
        EventStream.withRocksDBState(s) {
          val stream = ensureTimerSessionStream(s, d)
            .read(s, perTrigger = 1, files = "part-*") // tiles only: pushers are z*_push
            .as[EventStream.Event]
          val out = graft.TempDirs.create("graft_st65o")
          val drained = EventStream.runToFiles(s,
            EventStream.timerSessionStream(stream,
              EventStream.SessionGapMicros).toDF(), out)
          val ckpt = EventStream.checkpointDir(out)
          def numbered(dir: String): Seq[Long] =
            new java.io.File(dir).listFiles().map(_.getName)
              .filter(_.forall(_.isDigit)).map(_.toLong).toSeq
          val lastBatch = numbered(s"$ckpt/commits").max
          // one state dir per partition the drain actually ran with
          val open = numbered(s"$ckpt/state/0").sorted.map { p =>
            EventStream.readState(s, out, "stateVarName" -> "sess",
                "batchId" -> lastBatch.toString, "snapshotStartBatchId" -> "0",
                "snapshotPartitionId" -> p.toString)
              .select(col("key.value").as("user_id"),
                col("value._1").as("anchor_ts"),
                col("value._2").as("n_events"),
                col("value._3").as("last_ts"))
          }.reduce(_.unionByName(_))
          drained.select("user_id", "anchor_ts", "n_events", "last_ts")
            .unionByName(open)
            .orderBy(col("user_id"), col("anchor_ts"))
        }
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
             |  FROM events),
             |m AS (
             |  SELECT user_id, tu, event_id,
             |    CASE WHEN lag(tu) OVER w IS NULL
             |           OR tu - lag(tu) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
             |g AS (
             |  SELECT user_id, tu,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tu, event_id
             |      ROWS UNBOUNDED PRECEDING) AS grp
             |  FROM m)
             |SELECT user_id, CAST(MIN(tu) AS BIGINT) AS anchor_ts,
             |  CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(MAX(tu) AS BIGINT) AS last_ts
             |FROM g GROUP BY user_id, grp
             |ORDER BY user_id, anchor_ts""".stripMargin)),

    // ---- chained event-time stateful operators (watermark propagation) -----------
    // Every st01–st65 query carries exactly ONE stateful operator; this
    // CHAINS two in one streaming query — hourly tumbling pre-aggregate
    // feeding a daily re-aggregate via `window(window_time(w), '1
    // day')` — the multi-stateful surface where watermark-propagation
    // bugs live: op2's input rows only exist when op1's watermark
    // emitted them, and op2 must evict against the SAME batch-start
    // watermark, one batch later. The pre-agg is the 100 TB shape: the
    // daily rollup reads hour×type rows (bounded), never raw events
    // twice. Drains the ts-range tiles WITH both sentinel pushers
    // (watermark past every real day end, so all windows finalize —
    // append mode emits each exactly once). The sentinels flow
    // THROUGH the chain: a pre-watermark row filter would be pushed
    // BELOW the EventTimeWatermark node by the optimizer, the pushers
    // would never reach the watermark collector, and the clock would
    // stall at the real data's max ts, leaving the final day open
    // (found the hard way). Their 'flush' rows form their own
    // event_type groups, excluded from the SINK output batch-side.
    // n_hours (hours-with-events per day×type) is the genuinely
    // two-step output a single aggregate can't produce.
    ("st66_chained_stateful",
      (s: SparkSession, d: String) => {
        val ev = ensureTimerSessionStream(s, d).read(s) // tiles + watermark pushers
          .withColumn("event_time", Tables.eventTime(col("ts")))
          .withWatermark("event_time", "1 hour")
        val hourly = ev
          .groupBy(window(col("event_time"), "1 hour").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"))
        val daily = hourly
          .groupBy(window(window_time(col("w")), "1 day").as("dw"),
            col("event_type"))
          .agg(sum(col("n_events")).as("n_events"),
            count(lit(1)).as("n_hours"))
          .select(col("dw.start").as("day"), col("event_type"),
            col("n_events"), col("n_hours"))
        // default (HDFSBacked) state store, deliberately: window-agg
        // state is O(open windows × event types) — bounded by TIME, not
        // key cardinality — so executor heap is the right home at any
        // corpus size; RocksDB's per-partition open/commit tax (×2
        // operators ×batches) buys nothing here. RocksDB is for
        // per-user/per-id state (st54/st06), where keys scale with data.
        EventStream.runToFiles(s, daily)
          .filter(col("event_type") =!= "flush") // sentinel groups
          .orderBy(col("day"), col("event_type"))
      },
      Some("""WITH h AS (
             |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             |    event_type, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2)
             |SELECT date_trunc('day', hr) AS day, event_type,
             |  CAST(SUM(n) AS BIGINT) AS n_events,
             |  CAST(COUNT(*) AS BIGINT) AS n_hours
             |FROM h GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),

    // ---- stream-stream join CHAINED into a windowed aggregate --------------------
    // st66 chains agg→agg; this is the OTHER multi-stateful shape —
    // st05's time-interval attribution join (views × purchases within
    // 1 h) feeding an hourly rollup of attributed pairs, in one append
    // query. The hard part the chain exercises: the JOIN's output
    // watermark is the engine-derived min-over-inputs minus the join's
    // time range, and the downstream window agg must finalize against
    // THAT, not the raw source clock. Inner-join pairs emit as matches
    // arrive, but the rollup's windows only close when the propagated
    // watermark passes them — so the drain uses the pusher-equipped
    // tiles, and the sentinels pass BOTH side-filters (`user_id < 0`
    // escape hatch), because a side filter that excluded them would be
    // pushed below that side's watermark node and stall its clock (the
    // st66 lesson, doubled). Sentinel self-pairs carry a flag through
    // the aggregate and drop batch-side.
    ("st67_join_then_agg",
      (s: SparkSession, d: String) => {
        val events = ensureTimerSessionStream(s, d)
        def side(ty: String, tsName: String) =
          events.read(s) // tiles + watermark pushers
            .filter(col("event_type") === ty || col("user_id") < 0)
            .select(col("user_id").as(s"${tsName}_user"),
              col("event_id").as(s"${tsName}_id"),
              Tables.eventTime(col("ts")).as(s"${tsName}_time"))
            .withWatermark(s"${tsName}_time", "2 hours")
        val joined = side("view", "v").join(side("purchase", "p"),
          col("v_user") === col("p_user") &&
            col("p_time") >= col("v_time") &&
            col("p_time") <= col("v_time") + expr("INTERVAL 1 HOUR"))
        val rolled = joined
          .groupBy(window(col("p_time"), "1 hour").as("w"),
            (col("p_user") < 0).as("sentinel"))
          .agg(count(lit(1)).as("n_attr"))
          .select(col("w.start").as("hour"), col("sentinel"), col("n_attr"))
        // default state store (the st66 rationale): join state is
        // bounded by the 1 h interval × watermark delay — a sliding
        // TIME window of rows, not a per-key registry — and the window
        // agg's by open windows; neither scales with corpus keys.
        EventStream.runToFiles(s, rolled)
          .filter(!col("sentinel")) // sentinel self-pairs drop batch-side
          .select(col("hour"), col("n_attr"))
          .orderBy(col("hour"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
             |  FROM events)
             |SELECT date_trunc('hour', p.t) AS hour,
             |  CAST(COUNT(*) AS BIGINT) AS n_attr
             |FROM e c JOIN e p
             |  ON c.user_id = p.user_id
             | AND c.event_type = 'view' AND p.event_type = 'purchase'
             | AND p.t >= c.t AND p.t <= c.t + INTERVAL 1 HOUR
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- checkpoint restart (exactly-once across a query kill) -------------------
    // THE streaming guarantee a 100 TB feed buys: the job dies (or is
    // redeployed) mid-feed and a NEW query on the SAME checkpoint must
    // produce exactly the batch answer — no tile reprocessed (the file
    // source's log remembers committed files), no window double-emitted
    // (the parquet sink's _spark_metadata fences re-written batches),
    // and the window-aggregate STATE recovered, because windows left
    // open at the kill finalize only from restored state plus the new
    // tiles. The face drains tiles 1..2, lets the first query terminate,
    // stages the remaining tile + both watermark pushers "while down",
    // then starts a second, brand-new query on the same checkpoint +
    // sink and certifies the FINAL sink against the batch oracle — a
    // duplicate or gap anywhere across the kill breaks the hash. The
    // two phases share runToFiles' state-partition count: it is
    // fixed at the first checkpoint (the restart would fail loudly on a
    // mismatch, which is itself the deployment contract).
    ("st68_stream_restart",
      (s: SparkSession, d: String) => {
        val src = ensureTimerSessionStream(s, d)
        val srcDir = new java.io.File(src.dir)
        val out = graft.TempDirs.create("graft_st68")
        val inDir = new java.io.File(s"$out/in"); inDir.mkdirs()
        // source fixture order: 3 ts-range tiles (oldest mtime first),
        // then the two watermark pushers
        val feed = srcDir.listFiles().filter(_.getName.endsWith(".parquet"))
          .sortBy(f => (f.lastModified, f.getName)).toSeq
        def stage(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
          val dst = new java.io.File(inDir, f.getName)
          java.nio.file.Files.copy(f.toPath, dst.toPath)
          dst.setLastModified(f.lastModified) // keep the arrival contract
        }
        def drain(): DataFrame = EventStream.runToFiles(s,
          Arrivals(inDir.getAbsolutePath, src.schema).read(s, perTrigger = 1)
            .withColumn("event_time", Tables.eventTime(col("ts")))
            .withWatermark("event_time", "1 hour")
            .groupBy(window(col("event_time"), "1 hour").as("w"),
              col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("user_id")).as("user_sum"))
            .select(col("w.start").as("hour"), col("event_type"),
              col("n"), col("user_sum")), out)
        stage(feed.take(2)) // tiles 1..2 arrive
        drain()             // first query drains them, then "dies"
        stage(feed.drop(2)) // tile 3 + pushers arrive while down
        drain()             // NEW query, same checkpoint: resume
          .filter(col("event_type") =!= "flush") // sentinel groups
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |  event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(user_id) AS BIGINT) AS user_sum
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- streaming dedup CHAINED into a windowed aggregate -----------------------
    // The third multi-stateful shape beside st66 (agg→agg) and st67
    // (join→agg): `dropDuplicatesWithinWatermark` → tumbling window, in
    // one append query — the exactly-once INGEST pipeline (an
    // at-least-once feed redelivers; the dedup absorbs redelivery, the
    // rollup must count each event once). The watermark-propagation
    // surface it uniquely exercises: dedup EMITS rows immediately (no
    // event-time lag), but the downstream window still evicts against
    // the batch-start watermark flowing through the dedup node — and
    // late-arriving duplicate copies are exactly-once EITHER way (pre-
    // watermark copies hit live dedup state, post-watermark copies are
    // dropped as late), which is the operator's actual contract. The
    // fixture injects same-batch AND cross-batch redeliveries within
    // the delay (ensureDupEventStream); the oracle is the plain
    // distinct corpus, so one surviving duplicate breaks the hash. The
    // sentinels flow THROUGH both stateful ops (unique ids pass dedup;
    // their 'flush' windows drop batch-side) — the st66 lesson.
    ("st69_dedup_then_agg",
      (s: SparkSession, d: String) => {
        val rolled = ensureDupEventStream(s, d).read(s) // dup-bearing tiles + pushers
          .withColumn("event_time", Tables.eventTime(col("ts")))
          .withWatermark("event_time", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy(window(col("event_time"), "1 hour").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n_unique"), sum(col("user_id")).as("user_sum"))
          .select(col("w.start").as("hour"), col("event_type"),
            col("n_unique"), col("user_sum"))
        // default state store (the st66 rationale): dedup state is
        // O(events within the delay) — time-bounded — and window state
        // O(open windows × types).
        EventStream.runToFiles(s, rolled)
          .filter(col("event_type") =!= "flush") // sentinel groups
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |  event_type, CAST(COUNT(*) AS BIGINT) AS n_unique,
             |  CAST(SUM(user_id) AS BIGINT) AS user_sum
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- streaming file provenance (_metadata on a file SOURCE) ------------------
    // q183 certifies _metadata on a batch scan; this is the streaming
    // half — the hidden file columns ride the micro-batch file source,
    // so every ingested row carries WHICH feed file delivered it (the
    // first question asked when a 100 TB feed goes wrong: which arrival
    // was short/duplicated). The fixture is st69's dup-bearing tiles,
    // chosen because their contents are PURE KEY ARITHMETIC (ntile
    // thirds + mod-7 same-tile dups + mod-4 boundary replays), so the
    // oracle reconstructs each FILE's expected rows exactly — per-file
    // row counts, redelivered-row counts, and user sums all
    // hash-certified, not just totals. Stateless pass-through (no
    // watermark, no sentinel concerns): provenance projection costs no
    // state; the rollup is batch-side on the drained sink.
    ("st70_stream_file_provenance",
      (s: SparkSession, d: String) => {
        val tagged = ensureDupEventStream(s, d).read(s)
          .select(col("event_id"), col("user_id"),
            regexp_extract(col("_metadata.file_name"), "^(t\\d)", 1).as("tile"))
        EventStream.runToFiles(s, tagged)
          .filter(col("tile") =!= "") // pusher files (z*_push) drop out
          .groupBy(col("tile"))
          .agg(count(lit(1)).as("n_rows"),
            (count(lit(1)) - countDistinct(col("event_id"))).as("n_redelivered"),
            sum(col("user_id")).as("user_sum"))
          .orderBy(col("tile"))
      },
      Some("""WITH t AS (
             |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    ntile(3) OVER (ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
             |      AS tile
             |  FROM events),
             |m AS (SELECT tile, MAX(us) AS mx FROM t GROUP BY 1),
             |f AS (
             |  SELECT tile, event_id, user_id FROM t
             |  UNION ALL
             |  SELECT tile, event_id, user_id FROM t WHERE event_id % 7 = 0
             |  UNION ALL
             |  SELECT t.tile + 1, event_id, user_id
             |  FROM t JOIN m ON m.tile = t.tile
             |  WHERE t.tile < 3 AND t.us >= m.mx - 1800000000
             |    AND event_id % 4 = 0)
             |SELECT 't' || tile AS tile, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
             |    AS n_redelivered,
             |  CAST(SUM(user_id) AS BIGINT) AS user_sum
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- stream-stream LEFT SEMI join (existence, exactly-once emit) --------------
    // The third stream-stream join semantics beside st05 (inner, one
    // row per MATCH) and st23 (outer, null-padded at eviction): SEMI
    // emits each left row AT MOST ONCE — on its first match — and
    // never pads. That is its own state machine: a matched left row
    // leaves state immediately (an inner join would keep it to pair
    // with later purchases; semi must not re-emit), an unmatched one
    // waits out the full interval before silently evicting. The
    // question it answers is the conversion funnel's: WHICH views
    // converted within the hour — without the duplicate-per-purchase
    // rows an inner join would force downstream to dedup (at 100 TB,
    // semi is the join that keeps the output ∝ views, not ∝ pairs).
    // Sentinels pass both side-filters (st67's escape hatch) and
    // self-match (same ts satisfies the interval), dropping batch-side.
    ("st71_semi_stream_join",
      (s: SparkSession, d: String) => {
        val events = ensureTimerSessionStream(s, d)
        def side(ty: String, tsName: String) =
          events.read(s) // tiles + watermark pushers
            .filter(col("event_type") === ty || col("user_id") < 0)
            .select(col("user_id").as(s"${tsName}_user"),
              col("event_id").as(s"${tsName}_id"),
              Tables.eventTime(col("ts")).as(s"${tsName}_time"))
            .withWatermark(s"${tsName}_time", "2 hours")
        val converted = side("view", "v").join(side("purchase", "p"),
          col("v_user") === col("p_user") &&
            col("p_time") >= col("v_time") &&
            col("p_time") <= col("v_time") + expr("INTERVAL 1 HOUR"),
          "left_semi")
        EventStream.runToFiles(s, converted)
          .filter(col("v_user") >= 0) // sentinel self-matches drop
          .orderBy(col("v_id"))
      },
      Some("""SELECT v.user_id AS v_user, v.event_id AS v_id,
             |  CAST(v.ts AS TIMESTAMP) AS v_time
             |FROM events v
             |WHERE v.event_type = 'view' AND EXISTS (
             |  SELECT 1 FROM events p
             |  WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
             |    AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
             |    AND CAST(p.ts AS TIMESTAMP)
             |        <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR)
             |ORDER BY v_id""".stripMargin)),

    // ---- union of two watermarked streams into one aggregate ----------------------
    // The merging-feeds topology (two regions, two brokers, a backfill
    // beside a live feed — at 100 TB the norm, not the exception): each
    // source carries its OWN withWatermark, and the union's operator
    // watermark is the MIN over inputs (the default
    // multipleWatermarkPolicy, and the only CORRECT one). The fixture
    // makes the policy load-bearing, not incidental: the backfill feed
    // is one lump whose clock jumps to the global max in its first
    // batch while the tiled live feed is still two tiles behind —
    // under policy=max the live feed's later tiles would land below
    // the jumped watermark and be DROPPED as late (StreamingSpec
    // proves the row loss); under min they are protected and this
    // hash is exact. The operational consequence: EVERY feed needs its
    // clock pushed (each has its own sentinel pushers at the global
    // maxTs) — one stalled feed holds every window open, which is
    // backpressure by design, not a bug.
    ("st72_union_stream_agg",
      (s: SparkSession, d: String) => {
        val (even, odd) = ensureUnionFeeds(s, d)
        def feed(arrivals: Arrivals) = arrivals.read(s) // tiles + this feed's own pushers
          .withColumn("event_time", Tables.eventTime(col("ts")))
          .withWatermark("event_time", "1 hour")
        val rolled = feed(even).unionByName(feed(odd))
          .groupBy(window(col("event_time"), "1 hour").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("user_id")).as("user_sum"))
          .select(col("w.start").as("hour"), col("event_type"),
            col("n"), col("user_sum"))
        EventStream.runToFiles(s, rolled)
          .filter(col("event_type") =!= "flush") // both feeds' sentinels
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |  event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(user_id) AS BIGINT) AS user_sum
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- stream-stream FULL OUTER join (both-side certified misses) ---------------
    // Completes the stream-stream join family (st05 inner, st23 left-
    // outer, st71 semi, st75 right-outer): BOTH unmatched sides emit —
    // a view with no purchase in its hour AND a purchase no view
    // preceded (the direct-buy row an attribution pipeline must not
    // lose). Each side's null emission is a watermark-certified
    // negative with its OWN eviction bound derived from the interval
    // condition: a view closes when the watermark passes view_time + 1 h
    // (no future purchase can land in its window), a purchase when the
    // watermark passes purchase_time itself (any matching view's time
    // is ≤ it, so it has already arrived or is certifiably late). The
    // st54 fixture's sentinel pushers (user < 0, passing both side
    // filters and self-matching) drive both clocks past maxTs + 46 h,
    // so EVERY real row's verdict is final and the oracle is the plain
    // batch FULL OUTER join — no watermark-cutoff term at all. At
    // 100 TB the operator is the fact-to-fact reconciliation primitive:
    // state stays bounded by the interval, output ∝ matches + true
    // singletons, and neither side is ever collected or broadcast.
    ("st73_full_outer_stream_join",
      (s: SparkSession, d: String) => {
        val events = ensureTimerSessionStream(s, d)
        def side(ty: String, pfx: String) =
          events.read(s) // tiles + watermark pushers
            .filter(col("event_type") === ty || col("user_id") < 0)
            .select(col("user_id").as(s"${pfx}_user"),
              col("event_id").as(s"${pfx}_id"),
              Tables.eventTime(col("ts")).as(s"${pfx}_time"))
            .withWatermark(s"${pfx}_time", "2 hours")
        val joined = side("view", "v").join(side("purchase", "p"),
            col("v_user") === col("p_user") &&
              col("p_time") >= col("v_time") &&
              col("p_time") <= col("v_time") + expr("INTERVAL 1 HOUR"),
            "full_outer")
          .select(coalesce(col("v_user"), col("p_user")).as("user_id"),
            col("v_id"), col("p_id"))
        EventStream.runToFiles(s, joined)
          .filter(col("user_id") >= 0) // sentinel self-matches drop
          .orderBy(col("user_id"), col("v_id"), col("p_id"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
             |  FROM events),
             |v AS (SELECT user_id AS v_user, event_id AS v_id, t AS vt FROM e
             |      WHERE event_type = 'view'),
             |p AS (SELECT user_id AS p_user, event_id AS p_id, t AS pt
             |      FROM e WHERE event_type = 'purchase')
             |SELECT COALESCE(v_user, p_user) AS user_id, v_id, p_id
             |FROM v FULL JOIN p ON v_user = p_user
             |  AND pt >= vt AND pt <= vt + INTERVAL 1 HOUR
             |ORDER BY user_id, v_id NULLS FIRST, p_id NULLS FIRST""".stripMargin)),

    // ---- offset-tracked log source, crash-replay exactly-once ---------------------
    // The Kafka-shaped consumption contract WITHOUT a broker (at 100 TB
    // the feed is a log, not files): `rate-micro-batch` is the engine's
    // deterministic offset-tracked source — batch k is, by contract,
    // exactly values [k·R, (k+1)·R). The face runs the consumer TWICE
    // over one checkpoint with planned crashes: phase 1 dies before
    // batch 3's sink write (after its offsets hit the WAL), phase 2
    // resumes, REPLAYS batch 3 from those very offsets, continues
    // through batch 4, dies at 5. The result is certified against a
    // closed form — 5 batches, values 0..2499, each exactly once with
    // stable batch boundaries — which no file-source face can state:
    // it is the offset WAL, not the input's bytes, that defines what
    // batch 3 *is*. Sink idempotence comes from overwrite-into-
    // batch-keyed dirs (the MERGE-target discipline); StreamingSpec
    // additionally pins that the offsets/3 WAL entry survives the
    // restart byte-identical. q's oracle needs no corpus: the expected
    // log is range(0, 2500) bucketed by integer division.
    ("st74_rate_source_restart",
      (s: SparkSession, d: String) => {
        val tmp = graft.TempDirs.create("graft_st74")
        graft.streaming.RateLog.drainUntil(
          s, s"$tmp/data", s"$tmp/ckpt", rowsPerBatch = 500, crashAt = 3)
        graft.streaming.RateLog.drainUntil(
          s, s"$tmp/data", s"$tmp/ckpt", rowsPerBatch = 500, crashAt = 5)
        graft.streaming.RateLog.readLog(s, s"$tmp/data")
          .groupBy(col("batch_id"))
          .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"),
            max(col("value")).as("max_v"), sum(col("value")).as("sum_v"))
          .orderBy(col("batch_id"))
      },
      Some("""SELECT CAST(r.range // 500 AS BIGINT) AS batch_id,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(MIN(r.range) AS BIGINT) AS min_v,
             |  CAST(MAX(r.range) AS BIGINT) AS max_v,
             |  CAST(SUM(r.range) AS BIGINT) AS sum_v
             |FROM range(0, 2500) r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- stream-stream RIGHT OUTER join (orphan-right certified misses) -----------
    // st23's mirror: every purchase emits — paired when a view's hour
    // window captured it, null-padded once the watermark passes the
    // purchase's own time (the right side's eviction bound; see st73).
    // Operationally this is the "orphan fact" audit — facts arriving
    // with no qualifying antecedent — as a STREAM, where the left-outer
    // form would instead audit antecedents with no consequence. Same
    // fixture, same sentinel discipline; the oracle is the plain batch
    // RIGHT JOIN because the pushers finalize every verdict.
    ("st75_right_outer_stream_join",
      (s: SparkSession, d: String) => {
        val events = ensureTimerSessionStream(s, d)
        def side(ty: String, pfx: String) =
          events.read(s) // tiles + watermark pushers
            .filter(col("event_type") === ty || col("user_id") < 0)
            .select(col("user_id").as(s"${pfx}_user"),
              col("event_id").as(s"${pfx}_id"),
              Tables.eventTime(col("ts")).as(s"${pfx}_time"))
            .withWatermark(s"${pfx}_time", "2 hours")
        val joined = side("view", "v").join(side("purchase", "p"),
            col("v_user") === col("p_user") &&
              col("p_time") >= col("v_time") &&
              col("p_time") <= col("v_time") + expr("INTERVAL 1 HOUR"),
            "right_outer")
          .select(col("p_user").as("user_id"), col("v_id"), col("p_id"))
        EventStream.runToFiles(s, joined)
          .filter(col("user_id") >= 0) // sentinel self-matches drop
          .orderBy(col("user_id"), col("v_id"), col("p_id"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
             |  FROM events),
             |v AS (SELECT user_id AS v_user, event_id AS v_id, t AS vt FROM e
             |      WHERE event_type = 'view'),
             |p AS (SELECT user_id AS p_user, event_id AS p_id, t AS pt
             |      FROM e WHERE event_type = 'purchase')
             |SELECT p_user AS user_id, v_id, p_id
             |FROM v RIGHT JOIN p ON v_user = p_user
             |  AND pt >= vt AND pt <= vt + INTERVAL 1 HOUR
             |ORDER BY user_id, v_id NULLS FIRST, p_id NULLS FIRST""".stripMargin)),
  )
}
