package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Stager, Tables}
import graft.functions.Aggregators
import graft.ops.AsOfJoin

/** Advanced relational surface: cube, pivot, as-of join, range join,
  * typed-Aggregator UDAF, approximate distinct. Every query is
  * DuckDB-oracled — the HLL sketch (d06) included, via the exact
  * sparse-regime sizing its own comment explains. */
object AdvancedQueries {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** q165's two ingest waves: ordering customers per order, split at
    * the 1995 boundary. */
  private def densifyWaves(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val o = Tables.load(s, d, "orders")
      .join(Tables.load(s, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderdate"), col("c_name"))
    (o.filter(col("o_orderdate") < lit("1995-01-01")),
      o.filter(col("o_orderdate") >= lit("1995-01-01")))
  }

  /** q165's persisted-dictionary staging: the wave-1 dictionary pinned
    * at `dict_v1`, `Densify.append`'s v2 at `dict_v2`. The persisted
    * dictionary IS the deployment artifact the query demonstrates (ids
    * stable on disk across waves); rebuilding it per invocation would
    * both leak scratch dirs across bench iterations and re-time a
    * one-off layout job inside a repeated query. */
  private[graft] val ensureDensifyDicts: Stager[String] = Stager("graft_q165") { (s, d, tmp) =>
    val (w1, w2) = densifyWaves(s, d)
    graft.ops.Densify.dictionary(w1, "c_name")
      .write.mode("overwrite").parquet(s"$tmp/dict_v1")
    graft.ops.Densify.append(s.read.parquet(s"$tmp/dict_v1"), w2, "c_name")
      .write.mode("overwrite").parquet(s"$tmp/dict_v2")
    tmp
  }

  /** q171's landing-zone staging: the q164 fixture lines shredded
    * through `try_parse_json` and persisted as a parquet table with a
    * real VariantType column `(doc_id, v)` — parse exactly once, at
    * ingest. The landing table is the deployment artifact (at 100 TB
    * it is written by the ingest job and probed by every later query).
    * NULL variants (the every-13th truncated line) persist as NULL —
    * the quarantine survives storage. */
  private[graft] val ensureVariantLanding: Stager[String] = Stager("graft_q171") { (s, d, tmp) =>
    val base = concat(lit("{\"id\":"), col("doc_id"),
      lit(",\"meta\":{\"src\":\""), col("source"), lit("\""),
      when(col("doc_id") % 3 === 0,
        concat(lit(",\"score\":"), col("doc_id") % 97)).otherwise(lit("")),
      lit("},\"tags\":["), col("doc_id") % 5, lit(","),
      col("doc_id") % 7, lit("]}"))
    Tables.load(s, d, "documents")
      .select(col("doc_id"), col("source"))
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, substring(base, 1, 10))
          .otherwise(base).as("js"))
      .select(col("doc_id"), try_parse_json(col("js")).as("v"))
      .write.mode("overwrite").parquet(s"$tmp/landing")
    s"$tmp/landing"
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- staged funnel: ordered event-sequence conversion -----------------
    // The product-analytics sequence query: users reaching view →
    // click → purchase IN EVENT-TIME ORDER (each stage's anchor is the
    // earliest qualifying event strictly after the previous stage's).
    // Deterministic: stage anchors are mins, so no row-order
    // dependence. Scale shape: one filtered aggregate per stage plus
    // an equi-join on user_id — after the first shuffle every stage
    // join is co-partitioned on the same key, and each stage's frame
    // only shrinks (funnels are monotone), so cost is ~one scan plus
    // K small hash joins, never a per-user sort of full history.
    ("q62_funnel",
      (s: SparkSession, d: String) => {
        val ev = Tables.load(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val t1 = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val t2 = ev.filter(col("event_type") === "click").join(t1, "user_id")
          .filter(col("ts") > col("t1"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
        val t3 = ev.filter(col("event_type") === "purchase").join(t2, "user_id")
          .filter(col("ts") > col("t2"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
        t1.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
          .unionAll(t2.agg(count(lit(1)).as("n_users"))
            .select(lit("2_click").as("stage"), col("n_users")))
          .unionAll(t3.agg(count(lit(1)).as("n_users"))
            .select(lit("3_purchase").as("stage"), col("n_users")))
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

    // ---- time-RANGE window frame: rolling 1-hour per-user activity --------
    // The frame q26's ROWS variety can't express: RANGE BETWEEN a TIME
    // interval PRECEDING and CURRENT ROW — every event sees the count/
    // value-sum of its user's trailing hour, peers with equal ts
    // included on both engines by RANGE semantics (deterministic
    // without a unique sort key). Spark orders by the canonical
    // epoch-micros long with a numeric rangeBetween; DuckDB orders the
    // timestamp with INTERVAL 1 HOUR — identical inclusive [ts−1h, ts]
    // bounds. Decimal sum, cast to double at the end (the house float
    // rule). At scale this is one shuffle on user_id + a per-partition
    // sort — the same cost envelope as any windowed scan.
    ("q63_time_range_window",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
          .rangeBetween(-3600L * 1000 * 1000, Window.currentRow)
        Tables.load(s, d, "events")
          .select(col("user_id"), col("event_id"),
            count(lit(1)).over(w).as("n_1h"),
            sum(dec(col("value"))).over(w).cast("double").as("sum_1h"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id,
             |  COUNT(*) OVER w AS n_1h,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts
             |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, event_id""".stripMargin)),

    // ---- batch sessionization: gap-based session assignment ----------------
    // The BATCH twin of st02/st12's streaming sessionize: a new session
    // starts where the gap to the user's previous event exceeds 30
    // minutes (lag + running sum of boundary flags — the standard
    // sessionization idiom). Deterministic: ties order by (ts,
    // event_id). Scale shape: ONE shuffle on user_id total — the lag
    // window, the running sum, the per-session groupBy(user_id,
    // sess_id) AND the final per-user rollup all reuse the same hash
    // partitioning (HashPartitioning(user_id) satisfies every later
    // clustering whose keys contain user_id), so cost is one exchange
    // plus per-partition sorts regardless of corpus size. Durations
    // stay exact epoch-micros LONGS until the final divide, so the
    // double outputs are order-independent.
    ("q72_batch_sessionize",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val gapUs = 30L * 60 * 1000 * 1000
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val prev = lag(col("ts"), 1).over(w)
        val sess = Tables.load(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"))
          .withColumn("new_sess",
            when(prev.isNull || col("ts") - prev > gapUs, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        sess.groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n_ev"),
            (max(col("ts")) - min(col("ts"))).as("dur_us"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("n_ev")).as("n_events"),
            (sum(col("n_ev")).cast("double") / count(lit(1)))
              .as("avg_sess_events"),
            (sum(col("dur_us")).cast("double") / count(lit(1)) / lit(1e6))
              .as("avg_sess_dur_s"),
            (max(col("dur_us")).cast("double") / lit(1e6))
              .as("max_sess_dur_s"))
          .orderBy(col("user_id"))
      },
      Some("""WITH x AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |y AS (
             |  SELECT user_id, ts,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                        ROWS UNBOUNDED PRECEDING) AS sess_id
             |  FROM x),
             |s AS (
             |  SELECT user_id, sess_id, COUNT(*) AS n_ev,
             |    epoch_us(max(ts) - min(ts)) AS dur_us
             |  FROM y GROUP BY 1, 2)
             |SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n_ev) AS BIGINT) AS n_events,
             |  CAST(SUM(n_ev) AS DOUBLE)/COUNT(*) AS avg_sess_events,
             |  CAST(SUM(dur_us) AS DOUBLE)/COUNT(*)/1e6 AS avg_sess_dur_s,
             |  CAST(MAX(dur_us) AS DOUBLE)/1e6 AS max_sess_dur_s
             |FROM s GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ---- TPC-H Q3 shape: 3-way join + agg + top-k revenue -------------------
    ("q28_shipping_priority",
      (s: SparkSession, d: String) => {
        val c = Tables.load(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.load(s, d, "orders")
        val l = Tables.load(s, d, "lineitem")
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(sum(dec(col("l_extendedprice")) *
              (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY l_orderkey, o_orderdate
             |ORDER BY revenue DESC, l_orderkey
             |LIMIT 10""".stripMargin)),

    // ---- 6-way star join (TPC-H Q5 shape: local supplier volume) ----------
    // The join-order stress test: two selective dimensions (region
    // filter reaching nation, a year filter on orders) and a
    // two-column equi-join (l_suppkey AND the local-supplier
    // c_nationkey = s_nationkey condition). Catalyst broadcasts every
    // dimension (region/nation/customer/supplier at these
    // cardinalities) so the only shuffle is the final per-nation
    // aggregate — at 100 TB the fact-side scan order and dimension
    // broadcasts are exactly what AQE + CBO should preserve.
    ("q60_local_supplier_volume",
      (s: SparkSession, d: String) => {
        val c = Tables.load(s, d, "customer")
        val o = Tables.load(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1996)
        val l = Tables.load(s, d, "lineitem")
        val sup = Tables.load(s, d, "supplier")
        val n = Tables.load(s, d, "nation")
        val r = Tables.load(s, d, "region").filter(col("r_name") === "ASIA")
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(n, col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum(dec(col("l_extendedprice")) *
              (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
             |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // ---- 7-way join + windowed ratio (TPC-H Q8 shape: market share) -------
    // One step deeper than q60: the nation table joins TWICE (supplier
    // nation for the output, customer nation to reach the region
    // filter), and the answer is a RATIO of aggregates — each supplier
    // nation's share of the ASIA-customer PROMO-part market by order
    // year. Numerators are exact DECIMAL sums; the per-year denominator
    // is a window sum over them (no second scan, no self-join); the
    // share divides the two as doubles LAST, so both engines divide
    // identical operands and IEEE 754 makes the quotient bit-equal —
    // no rounding-rule dependence (Spark rounds HALF_UP, DuckDB
    // half-even; dividing unrounded avoids caring). Catalyst broadcasts
    // part/supplier/nation×2/customer/region; lineitem ⋈ orders is the
    // one genuine fact-fact shuffle — the plan you want at 100 TB.
    ("q69_market_share",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val p = Tables.load(s, d, "part")
          .filter(col("p_type") === "PROMO").select("p_partkey")
        val sup = Tables.load(s, d, "supplier").select("s_suppkey", "s_nationkey")
        val sn = Tables.load(s, d, "nation")
          .select(col("n_nationkey").as("s_nationkey"), col("n_name").as("supp_nation"))
        val c = Tables.load(s, d, "customer").select("c_custkey", "c_nationkey")
        val cn = Tables.load(s, d, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_regionkey"))
        val r = Tables.load(s, d, "region")
          .filter(col("r_name") === "ASIA").select("r_regionkey")
        val o = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("yr"))
        val l = Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        val vol = l.join(p, col("l_partkey") === col("p_partkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(sn, "s_nationkey")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(cn, "c_nationkey")
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .select(col("yr"), col("supp_nation"),
            (dec(col("l_extendedprice")) *
              (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))).as("v"))
        val w = Window.partitionBy(col("yr"))
        vol.groupBy(col("yr"), col("supp_nation"))
          .agg(sum(col("v")).as("num"))
          .select(col("yr"), col("supp_nation"),
            (col("num").cast("double") /
              sum(col("num")).over(w).cast("double")).as("mkt_share"))
          .orderBy(col("yr"), col("supp_nation"))
      },
      Some("""WITH vol AS (
             |  SELECT year(o_orderdate) AS yr, sn.n_name AS supp_nation,
             |    CAST(l_extendedprice AS DECIMAL(18,2))
             |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS v
             |  FROM lineitem
             |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation sn ON s_nationkey = sn.n_nationkey
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation cn ON c_nationkey = cn.n_nationkey
             |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'),
             |n AS (SELECT yr, supp_nation, SUM(v) AS num FROM vol GROUP BY 1, 2)
             |SELECT CAST(yr AS INT) AS yr, supp_nation,
             |  CAST(num AS DOUBLE) / CAST(SUM(num) OVER (PARTITION BY yr) AS DOUBLE)
             |    AS mkt_share
             |FROM n ORDER BY yr, supp_nation""".stripMargin)),

    // ---- grouped top-n via a BOUNDED aggregate (no window shuffle) --------
    // Top-5 customers by total spend per market segment, ranked by the
    // TopCells TypedImperativeAggregate instead of a window: row_number
    // over (partition by segment) ships EVERY (segment, customer) row
    // through the rank exchange and sorts each segment's full
    // membership; the aggregate's map-side partials keep only 5 entries
    // per segment, so the second exchange carries 5 rows per segment
    // per map task — the top-n-per-group shape that stays flat as
    // groups grow to 100 TB cardinalities. Ordering (spend desc,
    // custkey asc) matches the oracle's row_number tie-break exactly;
    // spend is exact DECIMAL summed then cast, so both sides rank the
    // same doubles.
    ("q70_grouped_topn",
      (s: SparkSession, d: String) => {
        val c = Tables.load(s, d, "customer").select("c_custkey", "c_mktsegment")
        val o = Tables.load(s, d, "orders").select("o_custkey", "o_totalprice")
        val spend = o.join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("c_custkey"))
          .agg(sum(dec(col("o_totalprice"))).as("spend"))
        spend.groupBy(col("c_mktsegment"))
          .agg(graft.functions.TopCells.topCells(
            col("spend").cast("double"), col("c_custkey"), 5).as("top"))
          .select(col("c_mktsegment"), posexplode(col("top")))
          .select(col("c_mktsegment"), col("col").as("c_custkey"),
            (col("pos") + 1).cast("int").as("rank"))
          .orderBy(col("c_mktsegment"), col("rank"))
      },
      Some("""WITH sp AS (
             |  SELECT c_mktsegment, c_custkey,
             |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2),
             |r AS (
             |  SELECT c_mktsegment, c_custkey,
             |    row_number() OVER (PARTITION BY c_mktsegment
             |      ORDER BY CAST(spend AS DOUBLE) DESC, c_custkey) AS rank
             |  FROM sp)
             |SELECT c_mktsegment, c_custkey, CAST(rank AS INT) AS rank
             |FROM r WHERE rank <= 5
             |ORDER BY c_mktsegment, rank""".stripMargin)),

    // ---- cube ---------------------------------------------------------------
    ("q21_cube",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
             |FROM lineitem
             |GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // ---- pivot --------------------------------------------------------------
    ("q22_pivot",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "events")
          .groupBy(col("user_id"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id,
             |  COUNT(*) FILTER (event_type = 'click') AS click,
             |  COUNT(*) FILTER (event_type = 'error') AS error,
             |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
             |  COUNT(*) FILTER (event_type = 'signup') AS signup,
             |  COUNT(*) FILTER (event_type = 'view') AS view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- as-of join (point-in-time lookup) ----------------------------------
    // Each event gets the user's most recent order at-or-before the event
    // time. Spark: union + window composition (ops/AsOfJoin); oracle:
    // DuckDB's native ASOF LEFT JOIN. Orders are pre-deduped to one row
    // per (custkey, orderdate) keeping max orderkey, so the match is
    // unambiguous in both engines.
    ("q23_asof_join",
      (s: SparkSession, d: String) => {
        val events = Tables.load(s, d, "events")
          .select(col("event_id"), col("user_id"),
            Tables.eventTime(col("ts")).as("event_time"))
        val orders = Tables.load(s, d, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max(col("o_orderkey")).as("o_orderkey"))
        AsOfJoin.asOf(events, orders,
            leftKey = "user_id", leftTime = "event_time",
            rightKey = "o_custkey", rightTime = "o_orderdate",
            valueCols = Seq("o_orderkey"))
          .select(col("event_id"), col("user_id"), col("o_orderkey").as("last_orderkey"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
             |o AS (
             |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
             |  FROM orders GROUP BY o_custkey, o_orderdate)
             |SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey
             |FROM e ASOF LEFT JOIN o
             |  ON e.user_id = o.o_custkey AND e.t >= o.o_orderdate
             |ORDER BY e.event_id""".stripMargin)),

    // ---- range (band) join --------------------------------------------------
    // Non-equi join of orders against a tiny price-band table: Catalyst
    // broadcasts the bands (BroadcastNestedLoopJoin) — the right plan when
    // one side is a handful of rows, at any corpus scale.
    ("q24_range_join",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val bands = Seq(
          ("low", 0d, 100000d),
          ("mid", 100000d, 300000d),
          ("high", 300000d, 1e18)).toDF("band", "lo", "hi")
        Tables.load(s, d, "orders")
          .join(broadcast(bands),
            col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy(col("band"))
      },
      Some("""SELECT band, COUNT(*) AS n_orders
             |FROM orders
             |JOIN (VALUES ('low', 0, 100000), ('mid', 100000, 300000),
             |             ('high', 300000, 1e18)) AS bands(band, lo, hi)
             |  ON o_totalprice >= lo AND o_totalprice < hi
             |GROUP BY band ORDER BY band""".stripMargin)),

    // ---- typed Aggregator UDAF ---------------------------------------------
    ("q25_udaf_weighted_avg",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(Aggregators.weightedAvg(col("l_quantity"), col("l_extendedprice"))
            .as("wavg_price"))
          .orderBy(col("l_returnflag"))
      },
      // trunc(): matches Scala's (qty).toLong truncation-toward-zero for
      // fractional quantities (CAST .. AS BIGINT would round)
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             |           * CAST(trunc(l_quantity) AS BIGINT)) AS DOUBLE)
             |    / (100.0 * SUM(CAST(trunc(l_quantity) AS BIGINT))) AS wavg_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- window-function variety: lag/lead/dense_rank/ntile ----------------
    ("q26_window_variety",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val wp = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderpriority"))
        Tables.load(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            lag(col("o_orderkey"), 1).over(w).as("prev_order"),
            lead(col("o_orderkey"), 1).over(w).as("next_order"),
            dense_rank().over(wp).as("pri_rank"),
            ntile(4).over(w).as("quartile"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  lag(o_orderkey) OVER w AS prev_order,
             |  lead(o_orderkey) OVER w AS next_order,
             |  CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS INT) AS pri_rank,
             |  CAST(ntile(4) OVER w AS INT) AS quartile
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---- string + null-handling scalar functions ---------------------------
    ("q27_string_nulls",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "orders")
          .select(col("o_orderkey"),
            concat(col("o_orderpriority"), lit("/"), col("o_orderstatus")).as("tag"),
            lpad(col("o_orderkey").cast("string"), 10, "0").as("padded"),
            coalesce(when(col("o_orderstatus") === "F", lit(null))
              .otherwise(col("o_orderstatus")), lit("FINAL")).as("status2"),
            regexp_extract(col("o_orderpriority"), "[0-9]+", 0).as("pri_num"),
            reverse(col("o_orderpriority")).as("pri_rev"),
            length(col("o_orderpriority")).as("pri_len"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey,
             |  o_orderpriority || '/' || o_orderstatus AS tag,
             |  lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS padded,
             |  coalesce(nullif(o_orderstatus, 'F'), 'FINAL') AS status2,
             |  regexp_extract(o_orderpriority, '[0-9]+') AS pri_num,
             |  reverse(o_orderpriority) AS pri_rev,
             |  length(o_orderpriority) AS pri_len
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- grouping sets + grouping_id ---------------------------------------
    ("q29_grouping_sets",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "lineitem").createOrReplaceTempView("lineitem_q29")
        s.sql("""SELECT l_returnflag, l_linestatus,
                |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
                |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
                |  COUNT(*) AS n
                |FROM lineitem_q29
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                |ORDER BY l_returnflag ASC NULLS FIRST,
                |         l_linestatus ASC NULLS FIRST, g_rf, g_ls""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
             |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
             |  COUNT(*) AS n
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY l_returnflag ASC NULLS FIRST,
             |         l_linestatus ASC NULLS FIRST, g_rf, g_ls""".stripMargin)),

    // ---- correlated scalar subquery (Catalyst decorrelation) ---------------
    ("q30_correlated_subquery",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "customer").createOrReplaceTempView("customer_q30")
        Tables.load(s, d, "orders").createOrReplaceTempView("orders_q30")
        s.sql("""SELECT c_custkey, c_name,
                |  (SELECT max(o_totalprice) FROM orders_q30
                |   WHERE o_custkey = c_custkey) AS max_order_price
                |FROM customer_q30
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name,
             |  (SELECT max(o_totalprice) FROM orders
             |   WHERE o_custkey = c_custkey) AS max_order_price
             |FROM customer
             |ORDER BY c_custkey""".stripMargin)),

    // ---- higher-order functions over array columns -------------------------
    // aggregate() folds left-to-right in both engines (DuckDB list_reduce
    // with a prepended seed), so the double sums are order-identical.
    ("q31_hof_vector_norm",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "embeddings")
          .select(col("vec_id"),
            size(col("embedding")).as("dim"),
            round(sqrt(aggregate(
              transform(col("embedding"), x => x.cast("double")),
              lit(0.0), (acc, x) => acc + x * x)), 6).as("l2_norm"),
            round(aggregate(
              transform(col("embedding"), x => x.cast("double")),
              lit(0.0), (acc, x) => acc + x) / size(col("embedding")), 6).as("mean_val"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id,
             |  len(embedding) AS dim,
             |  round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), CAST(embedding AS DOUBLE[])),
             |        (acc, x) -> acc + x * x)), 6) AS l2_norm,
             |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE), CAST(embedding AS DOUBLE[])),
             |        (acc, x) -> acc + x) / len(embedding), 6) AS mean_val
             |FROM embeddings
             |ORDER BY vec_id""".stripMargin)),

    // ---- exact percentiles (interpolated, same definition both engines) ----
    ("q32_percentiles",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_price"),
            round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
             |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- posexplode (generator/lateral view) -------------------------------
    ("q33_posexplode",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "embeddings")
          .filter(col("vec_id") < 50)
          .select(col("vec_id"),
            posexplode(slice(col("embedding"), 1, 3).cast("array<double>")))
          .select(col("vec_id"), col("pos").cast("int").as("pos"),
            round(col("col"), 6).as("val"))
          .orderBy(col("vec_id"), col("pos"))
      },
      Some("""SELECT vec_id, CAST(i - 1 AS INT) AS pos,
             |  round(CAST(embedding[i] AS DOUBLE), 6) AS val
             |FROM embeddings, generate_series(1, 3) AS t(i)
             |WHERE vec_id < 50
             |ORDER BY vec_id, pos""".stripMargin)),

    // ---- outer joins (null-preserving sides) -------------------------------
    ("q34_left_outer_join",
      (s: SparkSession, d: String) => {
        val c = Tables.load(s, d, "customer")
        val bigOrders = Tables.load(s, d, "orders")
          .filter(col("o_totalprice") > 450000)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_big"), max(col("o_totalprice")).as("max_big"))
        c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_outer")
          .select(col("c_custkey"), col("n_big"), col("max_big"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, n_big, max_big
             |FROM customer LEFT JOIN (
             |  SELECT o_custkey, COUNT(*) AS n_big, MAX(o_totalprice) AS max_big
             |  FROM orders WHERE o_totalprice > 450000 GROUP BY o_custkey
             |) ON c_custkey = o_custkey
             |ORDER BY c_custkey""".stripMargin)),

    ("q35_full_outer_join",
      (s: SparkSession, d: String) => {
        val cn = Tables.load(s, d, "customer")
          .groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n_cust"))
        val sn = Tables.load(s, d, "supplier")
          .filter(col("s_acctbal") > 5000)
          .groupBy(col("s_nationkey").as("nationkey2"))
          .agg(count(lit(1)).as("n_supp"))
        cn.join(sn, col("nationkey") === col("nationkey2"), "full_outer")
          .select(coalesce(col("nationkey"), col("nationkey2")).as("nationkey"),
            col("n_cust"), col("n_supp"))
          .orderBy(col("nationkey"))
      },
      Some("""SELECT coalesce(c.nationkey, s.nationkey2) AS nationkey, n_cust, n_supp
             |FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
             |      FROM customer GROUP BY 1) c
             |FULL JOIN (SELECT s_nationkey AS nationkey2, COUNT(*) AS n_supp
             |           FROM supplier WHERE s_acctbal > 5000 GROUP BY 1) s
             |  ON c.nationkey = s.nationkey2
             |ORDER BY nationkey""".stripMargin)),

    // ---- distinct union (set semantics, vs q12's UNION ALL) ----------------
    ("q36_union_distinct",
      (s: SparkSession, d: String) => {
        val c = Tables.load(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        val sup = Tables.load(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
        c.union(sup).distinct().orderBy(col("nationkey"))
      },
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |UNION
             |SELECT s_nationkey FROM supplier
             |ORDER BY nationkey""".stripMargin)),

    // ---- retention cohorts (week-bucketed self-referential analytics) ------
    ("q37_retention_cohort",
      (s: SparkSession, d: String) => {
        val uw = Tables.load(s, d, "events")
          .select(col("user_id"),
            date_trunc("week", Tables.eventTime(col("ts"))).cast("date").as("wk"))
          .distinct()
        val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
        uw.join(cohort, "user_id")
          .groupBy(col("cohort_wk"),
            (datediff(col("wk"), col("cohort_wk")) / 7).cast("int").as("weeks_since"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("cohort_wk"), col("weeks_since"))
      },
      Some("""WITH uw AS (
             |  SELECT DISTINCT user_id,
             |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
             |  FROM events),
             |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id)
             |SELECT cohort_wk,
             |  CAST(date_diff('day', cohort_wk, wk) / 7 AS INT) AS weeks_since,
             |  COUNT(*) AS n_users
             |FROM uw JOIN cohort USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- conditional / boolean aggregates ----------------------------------
    ("q38_conditional_agg",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count_if(col("l_quantity") > 25).as("n_bulk"),
            count_if(col("l_discount") === 0.0).as("n_no_discount"),
            bool_and(col("l_quantity") > 0).as("all_positive_qty"),
            bool_or(col("l_tax") > 0.07).as("any_high_tax"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  COUNT(*) FILTER (l_quantity > 25) AS n_bulk,
             |  COUNT(*) FILTER (l_discount = 0.0) AS n_no_discount,
             |  bool_and(l_quantity > 0) AS all_positive_qty,
             |  bool_or(l_tax > 0.07) AS any_high_tax
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- ordered string aggregation ----------------------------------------
    ("q39_string_agg",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "nation")
          .join(Tables.load(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name").as("region"))
          .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
            count(lit(1)).as("n_nations"))
          .orderBy(col("region"))
      },
      Some("""SELECT r_name AS region,
             |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
             |  COUNT(*) AS n_nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY region""".stripMargin)),

    // ---- global concurrency sweep (distributed prefix sum) ----------------
    // Max concurrent activity per hour: each event opens a 30-min
    // activity lease, ticks are (+1 at start, -1 at end), and the
    // concurrency at any tick is the GLOBAL running sum of deltas —
    // the classic sweep-line. A global running sum is the one window
    // shape a naive plan serializes (Window.orderBy with no partition
    // = every row through ONE task), so this runs the textbook
    // two-phase distributed prefix sum instead: per-hour-bucket
    // partial sums (map-side combinable, |buckets| rows), an exclusive
    // cumulative offset over that TINY frame (the only unpartitioned
    // window, bounded by hours-in-corpus, never by rows), broadcast
    // back, then a within-bucket running sum partitioned by bucket.
    // Every corpus-sized operation is partitioned; the serial step
    // touches |hours| rows. Tick order (t, delta, eid) puts -1 before
    // +1 at equal t — [start, end) lease semantics — and eid makes the
    // order total, so per-row concurrency is deterministic. All-long
    // arithmetic; the oracle runs the naive single-window form and
    // must land on identical peaks.
    ("q77_concurrency_sweep",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val leaseUs = 30L * 60 * 1000 * 1000
        val hourUs = 3600L * 1000 * 1000
        val ev = Tables.load(s, d, "events").select(col("ts"), col("event_id"))
        val ticks = ev.select(col("ts").as("t"), lit(1L).as("delta"),
            col("event_id").as("eid"))
          .unionAll(ev.select((col("ts") + leaseUs).as("t"),
            lit(-1L).as("delta"), col("event_id").as("eid")))
          .withColumn("bucket", expr(s"t DIV $hourUs"))
        val offsets = ticks.groupBy(col("bucket"))
          .agg(sum(col("delta")).as("bsum"))
          .withColumn("offset", coalesce(
            sum(col("bsum")).over(Window.orderBy(col("bucket"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("bucket"), col("offset"))
        val wIn = Window.partitionBy(col("bucket"))
          .orderBy(col("t"), col("delta"), col("eid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ticks.join(broadcast(offsets), "bucket")
          .withColumn("conc", col("offset") + sum(col("delta")).over(wIn))
          .groupBy(col("bucket"))
          .agg(max(col("conc")).as("peak"),
            sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"))
          .select((col("bucket") * hourUs).as("hour_us"), col("peak"),
            col("n_starts"))
          .orderBy(col("hour_us"))
      },
      Some("""WITH ticks AS (
             |  SELECT epoch_us(ts) AS t, 1 AS delta, event_id AS eid FROM events
             |  UNION ALL
             |  SELECT epoch_us(ts + INTERVAL 30 MINUTE), -1, event_id FROM events),
             |run AS (
             |  SELECT t, delta,
             |    SUM(delta) OVER (ORDER BY t, delta, eid
             |                     ROWS UNBOUNDED PRECEDING) AS conc
             |  FROM ticks)
             |SELECT (t // 3600000000) * 3600000000 AS hour_us,
             |  CAST(MAX(conc) AS BIGINT) AS peak,
             |  CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
             |FROM run GROUP BY 1 ORDER BY hour_us""".stripMargin)),

    // ---- robust outlier report (median + MAD, integer-exact compare) ------
    // Per-brand price anomalies by the robust z-score: a point is an
    // outlier when |x − median| > 3·1.4826·MAD (the normal-consistent
    // MAD scale). Exactness discipline: prices move to integer CENTS
    // first, so the exact medians (Spark `percentile`, DuckDB
    // quantile_cont — q32's certified pair) land on integers or exact
    // halves/quarters, the deviation |x − med| is an exactly-
    // representable double, and the single threshold multiply
    // 4.4478·mad is one IEEE product of identical operands on both
    // engines — the outlier COUNT cannot flap on a borderline row.
    // Two passes over the frame (med, then MAD of deviations), each a
    // per-brand aggregate behind one broadcast part join; the brand
    // medians broadcast back (25 rows). At 100 TB the exact per-group
    // percentile is the bounded-cardinality path (group values shuffle
    // to their brand); unbounded groups swap in q50's KLL sketch.
    ("q78_mad_outliers",
      (s: SparkSession, d: String) => {
        val p = Tables.load(s, d, "part").select(col("p_partkey"), col("p_brand"))
        val x = Tables.load(s, d, "lineitem")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
        val med = x.groupBy(col("p_brand"))
          .agg(expr("percentile(cents, 0.5)").as("med_c"))
        val dev = x.join(broadcast(med), "p_brand")
          .withColumn("adev", abs(col("cents") - col("med_c")))
        val mad = dev.groupBy(col("p_brand"))
          .agg(expr("percentile(adev, 0.5)").as("mad_c"))
        dev.join(broadcast(mad), "p_brand")
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
            round(max(col("med_c")) / 100.0, 4).as("median_price"),
            round(max(col("mad_c")) / 100.0, 4).as("mad_price"),
            sum(when(col("adev") > lit(3 * 1.4826) * col("mad_c"), 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy(col("p_brand"))
      },
      Some("""WITH x AS (
             |  SELECT p_brand,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
             |  FROM lineitem JOIN part ON l_partkey = p_partkey),
             |med AS (
             |  SELECT p_brand, quantile_cont(cents, 0.5) AS med_c
             |  FROM x GROUP BY 1),
             |dev AS (
             |  SELECT x.p_brand, abs(x.cents - med.med_c) AS adev
             |  FROM x JOIN med USING (p_brand)),
             |mad AS (
             |  SELECT p_brand, quantile_cont(adev, 0.5) AS mad_c
             |  FROM dev GROUP BY 1)
             |SELECT dev.p_brand, COUNT(*) AS n,
             |  round(MAX(med.med_c) / 100.0, 4) AS median_price,
             |  round(MAX(mad.mad_c) / 100.0, 4) AS mad_price,
             |  CAST(SUM(CASE WHEN dev.adev > 3 * 1.4826 * mad.mad_c
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM dev JOIN mad USING (p_brand) JOIN med USING (p_brand)
             |GROUP BY dev.p_brand ORDER BY dev.p_brand""".stripMargin)),

    // ---- table diff / reconciliation report -------------------------------
    // The anti-entropy primitive behind replica validation and
    // migration sign-off: classify every key across two table versions
    // as added / removed / changed / same and emit a bounded summary
    // with an exact integer key checksum per class (a single
    // misclassified row breaks the checksum, so the summary can't hide
    // offsetting errors). The second version is a deterministic
    // mutated twin derived IN-QUERY by both engines (t09's synthesis
    // discipline: the oracle certifies the diff, not the synthesis):
    // keys ≡0 (mod 97) dropped, prices bumped at ≡0 (mod 101), new
    // keys added at ≡0 (mod 103). Scale shape: ONE full-outer
    // equi-join on the key — co-partitioned for free when both sides
    // are bucketed (q45's layout) — then a 4-group combinable
    // aggregate; row-level differences never leave their partition.
    ("q79_table_diff",
      (s: SparkSession, d: String) => {
        val v1 = Tables.load(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
            col("o_orderstatus").as("st"), col("o_totalprice").as("p"))
        val v2 = v1.filter(col("k") % 97 =!= 0)
          .withColumn("p",
            when(col("k") % 101 === 0, col("p") + 1.0).otherwise(col("p")))
          .unionAll(v1.filter(col("k") % 103 === 0)
            .select((col("k") + 100000000L).as("k"), col("c"),
              lit("N").as("st"), col("p")))
        val a = v1.select(col("k").as("k1"), col("c").as("c1"),
          col("st").as("st1"), col("p").as("p1"))
        val b = v2.select(col("k").as("k2"), col("c").as("c2"),
          col("st").as("st2"), col("p").as("p2"))
        a.join(b, col("k1") === col("k2"), "full_outer")
          .select(when(col("k1").isNull, "added")
            .when(col("k2").isNull, "removed")
            .when(col("p1") =!= col("p2") || col("st1") =!= col("st2") ||
              col("c1") =!= col("c2"), "changed")
            .otherwise("same").as("change_type"),
            coalesce(col("k1"), col("k2")).as("k"))
          .groupBy(col("change_type"))
          .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("key_checksum"))
          .orderBy(col("change_type"))
      },
      Some("""WITH v1 AS (SELECT o_orderkey AS k, o_custkey AS c,
             |              o_orderstatus AS st, o_totalprice AS p FROM orders),
             |v2 AS (
             |  SELECT k, c, st,
             |    CASE WHEN k % 101 = 0 THEN p + 1.0 ELSE p END AS p
             |  FROM v1 WHERE k % 97 <> 0
             |  UNION ALL
             |  SELECT k + 100000000, c, 'N', p FROM v1 WHERE k % 103 = 0),
             |d AS (SELECT v1.k AS k1, v2.k AS k2,
             |        CASE WHEN v1.k IS NULL THEN 'added'
             |             WHEN v2.k IS NULL THEN 'removed'
             |             WHEN v1.p <> v2.p OR v1.st <> v2.st OR v1.c <> v2.c
             |               THEN 'changed'
             |             ELSE 'same' END AS change_type
             |      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
             |SELECT change_type, COUNT(*) AS n_rows,
             |  CAST(SUM(COALESCE(k1, k2)) AS BIGINT) AS key_checksum
             |FROM d GROUP BY 1 ORDER BY change_type""".stripMargin)),

    // ---- item co-occurrence + lift (market-basket analysis) ---------------
    // The collaborative-filtering/market-basket shape: which item pairs
    // are viewed by the same users more than independence predicts.
    // Items = the props.k payload of view events; the basket self-join
    // meets on user_id (ONE co-partitioned shuffle — both sides hash
    // the same key) and a<b halves the pair space; pair counts are a
    // combinable aggregate and the global top-20 is TakeOrdered. Lift
    // n_ab·N / (n_a·n_b) follows t14's discipline exactly: membership
    // and ranking are INTEGER (count desc, a, b), the item-count joins
    // happen AFTER the 20-row prune with the pairs as the broadcast
    // side (the item-frequency table is never broadcast), and the lift
    // operands cast to double before multiplying in identical
    // association order on both engines — the float is display-only.
    ("q86_item_cooccurrence",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.load(s, d, "events")
          .filter(col("event_type") === "view")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
          .filter(col("item").isNotNull).distinct()
        val tot = ev.agg(countDistinct(col("user_id")).as("n_users"))
        val ic = ev.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
        val top = ev.select(col("user_id"), col("item").as("a"))
          .join(ev.select(col("user_id"), col("item").as("b")), "user_id")
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
          .orderBy(col("n_ab").desc, col("a"), col("b")).limit(20)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("n_ab").desc, col("a"), col("b"))).cast("int"))
        val ia = ic.select(col("item").as("a"), col("n_item").as("n_a"))
        val ib = ic.select(col("item").as("b"), col("n_item").as("n_b"))
        broadcast(top).join(ia, "a").join(ib, "b")
          .crossJoin(broadcast(tot))
          .select(col("rank"), col("a"), col("b"), col("n_ab"),
            col("n_a"), col("n_b"),
            round((col("n_ab").cast("double") * col("n_users"))
              / (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
          .orderBy(col("rank"))
      },
      Some("""WITH ev AS (
             |  SELECT DISTINCT user_id,
             |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
             |  FROM events
             |  WHERE event_type = 'view'
             |    AND json_extract_string(props, '$.k') IS NOT NULL),
             |tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ev),
             |ic AS (SELECT item, COUNT(*) AS n_item FROM ev GROUP BY 1),
             |pc AS (SELECT x.item AS a, y.item AS b, COUNT(*) AS n_ab
             |       FROM ev x JOIN ev y
             |         ON x.user_id = y.user_id AND x.item < y.item
             |       GROUP BY 1, 2),
             |top AS (SELECT a, b, n_ab,
             |          row_number() OVER (ORDER BY n_ab DESC, a, b) AS rank
             |        FROM pc QUALIFY rank <= 20)
             |SELECT CAST(rank AS INT) AS rank, a, b, n_ab,
             |  ia.n_item AS n_a, ib.n_item AS n_b,
             |  round((CAST(n_ab AS DOUBLE) * n_users)
             |        / (CAST(ia.n_item AS DOUBLE) * ib.n_item), 6) AS lift
             |FROM top JOIN ic ia ON top.a = ia.item
             |JOIN ic ib ON top.b = ib.item CROSS JOIN tot
             |ORDER BY rank""".stripMargin)),

    // ---- latest-record-per-key squash (CDC compaction, no window sort) ----
    // The change-log squash every CDC consumer runs: keep each key's
    // newest record. The textbook row_number window sorts EVERY key's
    // full history; this runs it as ONE max_by aggregate — map-side
    // partials keep a single (ordering, payload) pair per key per
    // task, so the exchange carries one row per key per task and
    // nothing is ever sorted (the TopCells/q70 state-bounding argument
    // at n = 1, via the built-in). The ordering key is (ship ts,
    // linenumber, price, quantity) packed into a struct compare —
    // total over the emitted payload (the synthetic fixture DOES carry
    // duplicate (shipdate, linenumber) pairs inside an order, so a
    // two-column tie-break picks a nondeterministic survivor; any
    // residual tie now means byte-identical payloads). Payload rides
    // inside the max_by struct: one aggregate carries every column out.
    ("q84_latest_by_key",
      (s: SparkSession, d: String) => {
        val li = Tables.load(s, d, "lineitem")
        li.groupBy(col("l_orderkey"))
          .agg(max_by(
            struct(col("l_linenumber"), col("l_quantity"),
              col("l_extendedprice"), col("l_shipdate")),
            struct(col("l_shipdate"), col("l_linenumber"),
              col("l_extendedprice"), col("l_quantity"))).as("r"),
            count(lit(1)).as("n_versions"))
          .select(col("l_orderkey"),
            col("r.l_linenumber").as("l_linenumber"),
            col("r.l_quantity").as("l_quantity"),
            col("r.l_extendedprice").as("l_extendedprice"),
            col("n_versions"))
          .orderBy(col("l_orderkey"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             |  n_versions
             |FROM (
             |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             |    COUNT(*) OVER (PARTITION BY l_orderkey) AS n_versions,
             |    row_number() OVER (PARTITION BY l_orderkey
             |      ORDER BY l_shipdate DESC, l_linenumber DESC,
             |               l_extendedprice DESC, l_quantity DESC) AS rn
             |  FROM lineitem)
             |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin)),

    // ---- equi-depth histogram (CBO distribution profile) ------------------
    // q80 profiles min/max/NDV; selectivity estimation needs the SHAPE:
    // a k-bucket equi-depth histogram (ANALYZE ... FOR COLUMNS'
    // summary statistic) — bucket upper bounds at the k-quantiles plus
    // per-bucket row counts. Bounds come from the repo's own KLL
    // sketch (q50's discipline) in its EXACT regime (capacity 2^20 ≥
    // |lineitem| at every test sf → no compaction, exact LOWER
    // quantile by the integer target rank (n·bp + 9999) div 10000 —
    // the engine-portable arithmetic the oracle replays), NOT exact
    // `percentile`, whose per-value buffer is unbounded; at 100 TB the
    // same plan runs with a bounded capacity and carries the
    // compactor's rank error — exactly what a CBO histogram tolerates.
    // Counts assign each row to its bucket by comparing against the
    // BROADCAST 8-row bound table — one scan, one tiny join, one
    // combinable aggregate, never a global sort. Prices move to
    // integer cents (q78's rule) so cut values are exact integers and
    // bucket-edge membership cannot flap.
    ("q85_equi_depth_histogram",
      (s: SparkSession, d: String) => {
        val k = 8
        val cents = Tables.load(s, d, "lineitem")
          .select(round(col("l_extendedprice") * 100).cast("long").as("c"))
        val cuts = cents.agg(graft.functions.KllQuantiles.quantilesBp(
          col("c").cast("double"), (1 to k).map(_ * 10000 / k), 1 << 20).as("cuts"))
        val bounds = cuts.select(posexplode(col("cuts")))
          .select((col("pos") + 1).cast("int").as("bucket"),
            col("col").cast("long").as("ub"))
        val lbs = bounds.select(col("bucket"), col("ub"),
          lag(col("ub"), 1).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("bucket"))).as("lb"))
        cents.crossJoin(broadcast(lbs))
          .filter(col("c") <= col("ub") &&
            (col("lb").isNull || col("c") > col("lb")))
          .groupBy(col("bucket"), col("ub"))
          .agg(count(lit(1)).as("n_rows"))
          .select(col("bucket"), round(col("ub") / 100.0, 4).as("upper_bound"),
            col("n_rows"))
          .orderBy(col("bucket"))
      },
      Some("""WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
             |           FROM lineitem),
             |r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn,
             |        COUNT(*) OVER () AS n
             |      FROM c),
             |bk AS (SELECT CAST(u.i AS INT) AS bucket
             |       FROM unnest(range(1, 9)) AS u(i)),
             |cuts AS (
             |  SELECT bk.bucket, MIN(r.c) AS ub
             |  FROM bk JOIN r ON r.rn >= (r.n * bk.bucket * 1250 + 9999) // 10000
             |  GROUP BY 1),
             |b AS (SELECT bucket, ub,
             |        lag(ub) OVER (ORDER BY bucket) AS lb
             |      FROM cuts)
             |SELECT b.bucket, round(b.ub / 100.0, 4) AS upper_bound,
             |  COUNT(*) AS n_rows
             |FROM c JOIN b ON c.c <= b.ub AND (b.lb IS NULL OR c.c > b.lb)
             |GROUP BY 1, 2 ORDER BY bucket""".stripMargin)),

    // ---- time-series gap fill + LOCF interpolation ------------------------
    // The sensor/metrics-prep operator the window family lacks: densify
    // each user's hourly series over their own [first, last] observed
    // hour (sequence + explode — generated map-side, no driver loop),
    // mark synthesized hours, and carry the last observed hourly value
    // forward (LOCF via last(ignoreNulls) over the user's time order).
    // The first grid hour is always observed (the lower bound IS the
    // user's min), so LOCF never reads before the series starts. Value
    // sums follow q63's decimal discipline; the carried value is an
    // EXISTING exact value, never an average, so no float is derived.
    // Scale shape: the grid is |users|·span rows generated beside the
    // data, the fill join and the LOCF window both cluster on user_id,
    // and the per-user span bound (their own min/max) keeps a sparse
    // user from exploding into the global time range.
    ("q83_gap_fill",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val hourUs = 3600L * 1000 * 1000
        val hourly = Tables.load(s, d, "events")
          .filter(col("user_id") < 20)
          .groupBy(col("user_id"), expr(s"ts DIV $hourUs").as("h"))
          .agg(count(lit(1)).as("n_ev"),
            sum(dec(col("value"))).cast("double").as("sum_v"))
        val grid = hourly.groupBy(col("user_id"))
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("h"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("user_id", "h"), "left")
          .select(col("user_id"), (col("h") * hourUs).as("hour_us"),
            coalesce(col("n_ev"), lit(0L)).as("n_ev"),
            last(col("sum_v"), ignoreNulls = true).over(w).as("locf_v"),
            when(col("n_ev").isNull, 1).otherwise(0).cast("int").as("filled"))
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

    // ---- SCD type-2 merge (dimension history maintenance) -----------------
    // The warehouse MERGE that keeps history: reconcile the customer
    // dimension against an incoming version (q79's deterministic-twin
    // discipline — churned keys ≡0 mod 13, segment updates mod 7, new
    // customers mod 11) into slowly-changing-dimension rows: unchanged
    // rows stay open at their original validity, a VALUE-changed or
    // churned row is closed (valid_to = the new batch), and changed/
    // new keys open fresh rows. Change detection compares VALUES, not
    // the update feed — an update that rewrites the same segment is
    // correctly a no-op, so re-delivered feeds don't fork history.
    // Scale shape: one full-outer equi-join on the key (the same
    // co-partitionable shape as q79) and two projections unioned —
    // history rows are derived, never driver-materialized.
    ("q81_scd2_merge",
      (s: SparkSession, d: String) => {
        val v1 = Tables.load(s, d, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
        val v2 = v1.filter(col("k") % 13 =!= 0)
          .withColumn("seg",
            when(col("k") % 7 === 0, "MACHINERY").otherwise(col("seg")))
          .unionAll(v1.filter(col("k") % 11 === 0)
            .select((col("k") + 1000000L).as("k"), lit("BUILDING").as("seg")))
        val j = v1.select(col("k").as("k1"), col("seg").as("s1"))
          .join(v2.select(col("k").as("k2"), col("seg").as("s2")),
            col("k1") === col("k2"), "full_outer")
        val closed = j
          .filter(col("k1").isNotNull && (col("k2").isNull || col("s1") =!= col("s2")))
          .select(col("k1").as("c_custkey"), col("s1").as("c_mktsegment"),
            lit(1L).as("valid_from"), lit(2L).as("valid_to"))
        val open = j.filter(col("k2").isNotNull)
          .select(col("k2").as("c_custkey"), col("s2").as("c_mktsegment"),
            when(col("k1").isNull || col("s1") =!= col("s2"), 2L).otherwise(1L)
              .as("valid_from"),
            lit(null).cast("long").as("valid_to"))
        closed.unionAll(open).orderBy(col("c_custkey"), col("valid_from"))
      },
      Some("""WITH v1 AS (SELECT c_custkey AS k, c_mktsegment AS s FROM customer),
             |v2 AS (SELECT k, CASE WHEN k % 7 = 0 THEN 'MACHINERY' ELSE s END AS s
             |       FROM v1 WHERE k % 13 <> 0
             |       UNION ALL
             |       SELECT k + 1000000, 'BUILDING' FROM v1 WHERE k % 11 = 0),
             |j AS (SELECT v1.k AS k1, v1.s AS s1, v2.k AS k2, v2.s AS s2
             |      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
             |SELECT c_custkey, c_mktsegment, valid_from, valid_to FROM (
             |  SELECT k1 AS c_custkey, s1 AS c_mktsegment,
             |    CAST(1 AS BIGINT) AS valid_from, CAST(2 AS BIGINT) AS valid_to
             |  FROM j WHERE k1 IS NOT NULL AND (k2 IS NULL OR s1 <> s2)
             |  UNION ALL
             |  SELECT k2, s2,
             |    CAST(CASE WHEN k1 IS NULL OR s1 <> s2 THEN 2 ELSE 1 END AS BIGINT),
             |    CAST(NULL AS BIGINT)
             |  FROM j WHERE k2 IS NOT NULL)
             |ORDER BY c_custkey, valid_from""".stripMargin)),

    // ---- ANALYZE-style column statistics (one-pass profile) ---------------
    // The stats-collection operator behind every cost-based decision
    // (CBO row estimates, partition sizing, data profiling): count /
    // nulls / exact NDV / min / max for three measure columns in ONE
    // aggregation pass, unpivoted to a row per column. Spark plans the
    // multi-distinct via Expand (3× the input rows through the partial
    // aggregate — the documented cost of exactness); at 100 TB the
    // same report swaps exact NDV for q46's HLL sketch, which this
    // exact-regime twin certifies against. All counters are integers;
    // min/max are raw column values — nothing is derived in float.
    ("q80_column_stats",
      (s: SparkSession, d: String) => {
        val a = Tables.load(s, d, "lineitem").agg(
          count(lit(1)).as("n"),
          sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_q"),
          countDistinct(col("l_quantity")).as("ndv_q"),
          min(col("l_quantity")).as("min_q"), max(col("l_quantity")).as("max_q"),
          sum(when(col("l_extendedprice").isNull, 1L).otherwise(0L)).as("null_p"),
          countDistinct(col("l_extendedprice")).as("ndv_p"),
          min(col("l_extendedprice")).as("min_p"),
          max(col("l_extendedprice")).as("max_p"),
          sum(when(col("l_discount").isNull, 1L).otherwise(0L)).as("null_d"),
          countDistinct(col("l_discount")).as("ndv_d"),
          min(col("l_discount")).as("min_d"), max(col("l_discount")).as("max_d"))
        a.selectExpr(
          """stack(3,
             |'l_quantity', n, null_q, ndv_q, min_q, max_q,
             |'l_extendedprice', n, null_p, ndv_p, min_p, max_p,
             |'l_discount', n, null_d, ndv_d, min_d, max_d)
             |AS (column_name, n_rows, n_null, ndv, min_val, max_val)"""
            .stripMargin.replace("\n", " "))
          .orderBy(col("column_name"))
      },
      Some("""WITH a AS (
             |  SELECT COUNT(*) AS n,
             |    SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS null_q,
             |    COUNT(DISTINCT l_quantity) AS ndv_q,
             |    MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q,
             |    SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS null_p,
             |    COUNT(DISTINCT l_extendedprice) AS ndv_p,
             |    MIN(l_extendedprice) AS min_p, MAX(l_extendedprice) AS max_p,
             |    SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS null_d,
             |    COUNT(DISTINCT l_discount) AS ndv_d,
             |    MIN(l_discount) AS min_d, MAX(l_discount) AS max_d
             |  FROM lineitem)
             |SELECT column_name, CAST(n AS BIGINT) AS n_rows,
             |  CAST(n_null AS BIGINT) AS n_null, CAST(ndv AS BIGINT) AS ndv,
             |  min_val, max_val
             |FROM (
             |  SELECT 'l_quantity' AS column_name, n, null_q AS n_null,
             |    ndv_q AS ndv, min_q AS min_val, max_q AS max_val FROM a
             |  UNION ALL
             |  SELECT 'l_extendedprice', n, null_p, ndv_p, min_p, max_p FROM a
             |  UNION ALL
             |  SELECT 'l_discount', n, null_d, ndv_d, min_d, max_d FROM a)
             |ORDER BY column_name""".stripMargin)),

    // ---- approximate distinct (HLL sketch, exact-regime oracle) ------------
    // Side-by-side sketch-vs-exact distinct counts — the cardinality
    // twin of q46, oracled via the q47/q50/q56/q61 exact-regime
    // playbook. approx_count_distinct (HLL++, dense from ~2k values)
    // is hash-dependent at fixture cardinality, so the sketch here is
    // the Datasketches HLL sized at lgConfigK=18: its sparse/coupon
    // mode is EXACT (and hash-deterministic) while distinct counts stay
    // far below k, which holds for lineitem partkeys at every fixture
    // sf (measured: lgK=16 already drifts by 3 at sf0.01; 18 is exact
    // through sf0.1's ~20k) — ScaleSpec asserts the premise, so a
    // fixture whose cardinality grows into the dense regime fails the
    // spec loudly instead of flaking the oracle hash. Production
    // cardinalities (10⁸⁺) go dense with ~0.4% error — that regime is
    // error-gated in ScaleSpec's union-rollup test, same split as
    // every other sketch in the suite.
    ("d06_approx_distinct",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(hll_sketch_estimate(
              hll_sketch_agg(col("l_partkey"), lit(18))).as("approx_parts"),
            countDistinct(col("l_partkey")).as("exact_parts"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  COUNT(DISTINCT l_partkey) AS approx_parts,
             |  COUNT(DISTINCT l_partkey) AS exact_parts
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- sole-blocking supplier (TPC-H Q21 shape: EXISTS + NOT EXISTS) ----
    // The hardest TPC-H join pattern — two correlated quantifiers over
    // the fact table's self-relation — adapted to this schema's columns
    // (no commit/receipt dates): for finalized ('F') orders, a supplier
    // "blocks" an order when it shipped LATE (> 60 days after the order
    // date), at least one OTHER supplier contributed to the same order
    // (EXISTS), and NO other contributor was also late (NOT EXISTS) —
    // the sole culprit. Both quantifiers compile to the right join
    // types: EXISTS → left_semi, NOT EXISTS → left_anti, all keyed on
    // l_orderkey so the three passes co-partition on one exchange
    // family; the supplier name lookup broadcasts; top-10 via the
    // TakeOrdered + bounded-rank pattern (q86/t12). Counts are
    // integer-exact; (order, supplier) pairs are DISTINCT'd first so a
    // multi-line shipment can't double-count.
    ("q87_waiting_suppliers",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val li = Tables.load(s, d, "lineitem")
        val ord = Tables.load(s, d, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate"))
        val late = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .select(col("l_orderkey"), col("l_suppkey")).distinct()
        val contributors = li
          .select(col("l_orderkey").as("c_orderkey"),
            col("l_suppkey").as("c_suppkey")).distinct()
        val withOther = late.join(contributors,
          col("l_orderkey") === col("c_orderkey") &&
            col("l_suppkey") =!= col("c_suppkey"), "left_semi")
        val lateOther = late.select(col("l_orderkey").as("x_orderkey"),
          col("l_suppkey").as("x_suppkey"))
        val sole = withOther.join(lateOther,
          col("l_orderkey") === col("x_orderkey") &&
            col("l_suppkey") =!= col("x_suppkey"), "left_anti")
        sole.join(broadcast(Tables.load(s, d, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name")).limit(10)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("numwait").desc, col("s_name"))).cast("int"))
          .orderBy(col("rank"))
      },
      Some("""WITH f AS (SELECT o_orderkey, o_orderdate FROM orders
             |           WHERE o_orderstatus = 'F'),
             |late AS (SELECT DISTINCT l_orderkey, l_suppkey
             |         FROM lineitem JOIN f ON l_orderkey = o_orderkey
             |         WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
             |alls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
             |sole AS (SELECT late.l_orderkey, late.l_suppkey FROM late
             |         WHERE EXISTS (SELECT 1 FROM alls a
             |                       WHERE a.l_orderkey = late.l_orderkey
             |                         AND a.l_suppkey <> late.l_suppkey)
             |           AND NOT EXISTS (SELECT 1 FROM late l2
             |                       WHERE l2.l_orderkey = late.l_orderkey
             |                         AND l2.l_suppkey <> late.l_suppkey)),
             |agg AS (SELECT s_name, COUNT(*) AS numwait
             |        FROM sole JOIN supplier ON l_suppkey = s_suppkey
             |        GROUP BY 1)
             |SELECT s_name, numwait, CAST(rank AS INT) AS rank FROM (
             |  SELECT s_name, numwait,
             |    row_number() OVER (ORDER BY numwait DESC, s_name) AS rank
             |  FROM agg)
             |WHERE rank <= 10 ORDER BY rank""".stripMargin)),

    // ---- small-quantity revenue (TPC-H Q17 shape: correlated avg) ---------
    // The "fringe order" revenue probe: lineitems of one brand's parts
    // whose quantity is below 20% of that PART's average quantity —
    // Q17's correlated scalar subquery, planned Spark-style as a
    // per-part (sum, count) aggregate joined back to the brand's
    // lineitems (both sides pre-pruned by the BROADCAST part filter,
    // so the fact table is scanned once and only brand rows shuffle).
    // The 0.2·avg compare never materializes a float: quantities are
    // integral, so qty < sum/(5·cnt) cross-multiplies to
    // 5·qty·cnt < sum — the q76/t15 integer-gate discipline. Revenue
    // sums in DECIMAL(18,2) with ONE final IEEE divide by 7.0 (the
    // c04 rule), so the oracle reproduces the float bit-for-bit.
    ("q88_small_qty_revenue",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.types.DecimalType
        val parts = Tables.load(s, d, "part")
          .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))
        val brandLi = Tables.load(s, d, "lineitem")
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
            col("l_extendedprice"))
        val stats = brandLi.groupBy(col("l_partkey"))
          .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
        brandLi.join(stats, "l_partkey")
          .filter(col("qty") * 5L * col("cnt") < col("sum_qty"))
          .agg(count(lit(1)).as("n_small"),
            round(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
              .cast("double") / 7.0, 2).as("avg_yearly"))
      },
      Some("""WITH p AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
             |bl AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
             |         l_extendedprice
             |       FROM lineitem JOIN p ON l_partkey = p_partkey),
             |st AS (SELECT l_partkey, SUM(qty) AS sum_qty, COUNT(*) AS cnt
             |       FROM bl GROUP BY 1)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
             |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |        / 7.0, 2) AS avg_yearly
             |FROM bl JOIN st USING (l_partkey)
             |WHERE qty * 5 * cnt < sum_qty""".stripMargin)),

    // ---- deterministic weighted sample (priority sampling) ----------------
    // Token-weighted corpus subsampling — "sample k docs, long docs
    // proportionally more likely" — as PRIORITY SAMPLING (Duffield,
    // Lund & Thorup, JACM 2007): priority = w/u with u uniform in
    // (0, 1], take the top k priorities. u comes from the house Lehmer
    // hash ((bucket+1)/10⁶ — RNG-free, stable under corpus append,
    // engine-portable), so the sample is reproducible across runs AND
    // engines. Float discipline: w·10⁶ is an exact double (≪ 2^53),
    // the single IEEE divide by (bucket+1) is bit-identical in DuckDB,
    // ties break by doc_id. Scale shape: priority is one map-side
    // expression, selection is TakeOrderedAndProject — no shuffle
    // beyond the top-k tree aggregate, the q74/t12 discipline.
    ("q89_priority_sample",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = graft.ops.TextAnalysis.tokenCount(col("text")).cast("long")
        val u = graft.ops.TrainingPrep.hashBucket(col("doc_id"), 1000000) + 1L
        Tables.load(s, d, "documents")
          .select(col("doc_id"), w.as("n_tokens"),
            (w.cast("double") * 1000000.0 / u.cast("double")).as("priority"))
          .orderBy(col("priority").desc, col("doc_id")).limit(20)
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

    // ---- supply-concentration profile (Q20-family nested aggregates) ------
    // Single-source-risk audit: for every part, the TOP supplier's
    // share of that part's shipped quantity, reported as a percent
    // histogram across parts — the shape a procurement/risk dashboard
    // wants ("how many parts are >N% single-sourced?"). The
    // Q20-family nested-aggregate pattern: an inner per-(part,
    // supplier) rollup, a per-part total + max over it (both reuse the
    // l_partkey exchange — the second aggregate is a subset-key
    // regroup, no new shuffle of the fact table), and an integer share
    // (permille via `div`, so no float ever forms) bucketed to
    // percent-deciles. Output is ≤ 11 rows at any scale.
    ("q90_supply_concentration",
      (s: SparkSession, d: String) => {
        val li = Tables.load(s, d, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("qty"))
        val sq = li.groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("qty")).as("sq"))
        val top = sq.groupBy(col("l_partkey"))
          .agg(max(col("sq")).as("maxsq"), sum(col("sq")).as("tq"))
        top.select(expr("(maxsq * 1000) div tq").as("permille"))
          .select((expr("permille div 100") * 10).cast("int").as("pct_bucket"))
          .groupBy(col("pct_bucket"))
          .agg(count(lit(1)).as("n_parts"))
          .orderBy(col("pct_bucket"))
      },
      Some("""WITH li AS (SELECT l_partkey, l_suppkey,
             |         CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
             |sq AS (SELECT l_partkey, l_suppkey, SUM(qty) AS sq
             |       FROM li GROUP BY 1, 2),
             |top AS (SELECT l_partkey, MAX(sq) AS maxsq, SUM(sq) AS tq
             |        FROM sq GROUP BY 1)
             |SELECT CAST(((maxsq * 1000) // tq // 100) * 10 AS INT)
             |         AS pct_bucket,
             |  CAST(COUNT(*) AS BIGINT) AS n_parts
             |FROM top GROUP BY 1 ORDER BY pct_bucket""".stripMargin)),

    // ---- fuzzy dictionary lookup join (entity canonicalization) -----------
    // The entity-resolution primitive d11 (self-dedup) doesn't give
    // you: canonicalize NOISY incoming names against a reference
    // dictionary — probe names carrying a typo resolve to their best
    // dictionary entry by edit distance. Fixture: the distinct part
    // names ARE the dictionary, and each probe is a name with its 3rd
    // character dropped (a deterministic typo both engines replay).
    // Plan shape at scale: the dictionary is the BOUNDED side
    // (reference vocabularies are thousands of entries — broadcast);
    // the probe stream is blocked on a typo-stable prefix (first 2
    // chars) so each probe meets a handful of candidates, never the
    // dictionary; the thresholded `levenshtein(_, _, 2)` bails out of
    // the DP past the budget (d11's kernel); and best-match-per-probe
    // is a rank over the per-probe candidate handful, not a global
    // sort. Output is the canonical mapping with its evidence.
    ("q92_fuzzy_lookup_join",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val dict = Tables.load(s, d, "part")
          .select(col("p_name").as("name")).distinct()
        val probes = dict.select(col("name").as("orig"),
          concat(substring(col("name"), 1, 2), substring(col("name"), 4, 1000))
            .as("probe"))
        val cand = probes.join(broadcast(dict),
            substring(col("probe"), 1, 2) === substring(col("name"), 1, 2))
          .select(col("orig"), col("probe"), col("name"),
            levenshtein(col("probe"), col("name"), 2).as("dist"))
          .filter(col("dist") >= 0)
        cand.withColumn("rn", row_number().over(
            Window.partitionBy(col("orig"))
              .orderBy(col("dist"), col("name"))))
          .filter(col("rn") === 1)
          .select(col("orig"), col("probe"), col("name").as("matched_name"),
            col("dist").cast("int").as("edit_dist"))
          .orderBy(col("orig"))
      },
      Some("""WITH dict AS (SELECT DISTINCT p_name AS name FROM part),
             |probes AS (SELECT name AS orig,
             |             substr(name, 1, 2) || substr(name, 4) AS probe
             |           FROM dict),
             |cand AS (SELECT orig, probe, name,
             |           levenshtein(probe, name) AS dist
             |         FROM probes JOIN dict
             |           ON substr(probe, 1, 2) = substr(name, 1, 2)
             |         WHERE levenshtein(probe, name) <= 2),
             |best AS (SELECT orig, probe, name, dist,
             |           row_number() OVER (PARTITION BY orig
             |             ORDER BY dist, name) AS rn
             |         FROM cand)
             |SELECT orig, probe, name AS matched_name,
             |  CAST(dist AS INT) AS edit_dist
             |FROM best WHERE rn = 1 ORDER BY orig""".stripMargin)),

    // ---- categorical distribution drift (PSI between timeline halves) ----
    // The data-drift monitor every serving/training pipeline runs:
    // compare the event-type MIX between a reference period and the
    // current one via per-category population-stability terms,
    // psi = (p − q)·ln(p/q). The split point is pure integer
    // arithmetic on epoch-micros ((min+max) div 2 — no float
    // boundary to flap); counts are exact integers; p/q enters ln as
    // ONE divide of integer cross-products (n_ref·N_cur)/(N_ref·n_cur)
    // and each term rounds to 6 dp — the engine-parity float
    // discipline throughout. Scale shape: one scan + one
    // (type, period) aggregate whose output is |categories| rows; the
    // totals join is a broadcast of that same tiny frame.
    ("q93_category_drift",
      (s: SparkSession, d: String) => {
        val ev = Tables.load(s, d, "events")
        val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
        val mid = (mm.getLong(0) + mm.getLong(1)) / 2
        val counts = ev.select(col("event_type"),
            when(col("ts") <= mid, lit("ref")).otherwise(lit("cur")).as("period"))
          .groupBy(col("event_type"))
          .agg(sum(when(col("period") === "ref", 1L).otherwise(0L)).as("n_ref"),
            sum(when(col("period") === "cur", 1L).otherwise(0L)).as("n_cur"))
        val totals = counts.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
        counts.crossJoin(broadcast(totals))
          .filter(col("n_ref") > 0 && col("n_cur") > 0)
          .select(col("event_type"), col("n_ref"), col("n_cur"),
            round((col("n_ref").cast("double") / col("tr").cast("double") -
              col("n_cur").cast("double") / col("tc").cast("double")) *
              log((col("n_ref") * col("tc")).cast("double") /
                (col("tr") * col("n_cur")).cast("double")), 6).as("psi_term"))
          .orderBy(col("event_type"))
      },
      Some("""WITH mm AS (SELECT (MIN(epoch_us(CAST(ts AS TIMESTAMP)))
             |         + MAX(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
             |       FROM events),
             |c AS (SELECT event_type,
             |        SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <= mm.mid
             |            THEN 1 ELSE 0 END) AS n_ref,
             |        SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) > mm.mid
             |            THEN 1 ELSE 0 END) AS n_cur
             |      FROM events CROSS JOIN mm GROUP BY 1),
             |t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM c)
             |SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
             |  CAST(n_cur AS BIGINT) AS n_cur,
             |  round((CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE)
             |         - CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE))
             |    * ln(CAST(n_ref * tc AS DOUBLE)
             |          / CAST(tr * n_cur AS DOUBLE)), 6) AS psi_term
             |FROM c CROSS JOIN t
             |WHERE n_ref > 0 AND n_cur > 0
             |ORDER BY event_type""".stripMargin)),

    // ---- bilateral nation-pair trade volume (TPC-H Q7 shape) --------------
    // Revenue shipped from supplier-nation to customer-nation per
    // year, restricted to a 5-nation bloc with domestic trade
    // excluded — the classic two-role dimension query (nation joins
    // in TWICE, once per role). Distinct from q69 (Q8 market SHARE of
    // one nation within a region): this is the bilateral volume
    // MATRIX. Scale shape: the nation filter is applied to supplier/
    // customer BEFORE the fact joins (broadcast of the 25-row
    // filtered nation dim prunes both sides early — semi-join
    // reduction a CNF pushdown can't do across two roles); lineitem ⋈
    // orders is the single fact-fact shuffle; the group output is
    // ≤ pairs × years rows at any scale. Money is DECIMAL(18,2)-exact
    // and cast to double once at the end (q69's discipline).
    ("q94_nation_trade",
      (s: SparkSession, d: String) => {
        val bloc = Seq("NATION_0", "NATION_1", "NATION_2", "NATION_3", "NATION_4")
        def nats(role: String) = Tables.load(s, d, "nation")
          .filter(col("n_name").isin(bloc: _*))
          .select(col("n_nationkey").as(s"${role}_nk"), col("n_name").as(s"${role}_nation"))
        val sup = Tables.load(s, d, "supplier").select("s_suppkey", "s_nationkey")
          .join(broadcast(nats("supp")), col("s_nationkey") === col("supp_nk"))
          .select("s_suppkey", "supp_nation")
        val cust = Tables.load(s, d, "customer").select("c_custkey", "c_nationkey")
          .join(broadcast(nats("cust")), col("c_nationkey") === col("cust_nk"))
          .select("c_custkey", "cust_nation")
        val o = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("yr"))
          .join(cust, col("o_custkey") === col("c_custkey"))
        Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            (dec(col("l_extendedprice")) *
              (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))).as("v"))
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"), col("yr"))
          .agg(count(lit(1)).as("n_items"), sum(col("v")).cast("double").as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("yr"))
      },
      Some("""WITH bloc AS (
             |  SELECT n_nationkey, n_name FROM nation
             |  WHERE n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4'))
             |SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             |  CAST(year(o_orderdate) AS INT) AS yr,
             |  CAST(COUNT(*) AS BIGINT) AS n_items,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN bloc sn ON s_nationkey = sn.n_nationkey
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN bloc cn ON c_nationkey = cn.n_nationkey
             |WHERE sn.n_name <> cn.n_name
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ---- large-volume orders: HAVING on the fact, join-back (Q18) ---------
    // TPC-H Q18's shape — aggregate the fact table per order key,
    // keep the heavy tail (sum qty > 150), then join the few
    // survivors BACK to orders/customer for their descriptive rows.
    // The scale property is that the expensive side runs first and
    // the join-back carries only survivors (~2% of orders here);
    // the survivors frame re-keys on the SAME l_orderkey the
    // aggregate just shuffled on, and AQE converts the join-back to
    // broadcast when the tail is small. Top-100 is TakeOrdered
    // (sum_qty desc, o_orderkey tie-break — deterministic), never a
    // global window. Quantity sums in DECIMAL(18,2), cast once.
    ("q95_big_orders",
      (s: SparkSession, d: String) => {
        val qual = Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"))
          .groupBy(col("l_orderkey"))
          .agg(sum(dec(col("l_quantity"))).as("sq"))
          .filter(col("sq") > 150)
        Tables.load(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .join(qual, col("o_orderkey") === col("l_orderkey"))
          .join(Tables.load(s, d, "customer").select("c_custkey", "c_name"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
            col("sq").cast("double").as("sum_qty"))
          .orderBy(col("sum_qty").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""WITH qual AS (
             |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
             |  FROM lineitem GROUP BY 1 HAVING sq > 150)
             |SELECT c_name, o_orderkey, o_totalprice, CAST(sq AS DOUBLE) AS sum_qty
             |FROM qual JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY sum_qty DESC, o_orderkey LIMIT 100""".stripMargin)),

    // ---- disjunctive multi-branch predicate with hoisted bounds (Q19) -----
    // TPC-H Q19's OR-of-conjunct-blocks: three (brand, size-range,
    // qty-range) branches over lineitem ⋈ part. The full disjunction
    // references BOTH sides so no engine can push it through the join
    // as-is; the scale move is hoisting each column's weakest
    // precondition (qty ∈ [1,30] on lineitem; brand ∈ the 3-set and
    // size ∈ [1,15] on part) as explicit conjuncts — exactly what a
    // CNF-through-join rewrite derives — so the parquet scans get
    // real PushedFilters and the join input shrinks BEFORE the
    // residual OR runs. part is the broadcast side; output is one
    // row per branch (revenue per brand), DECIMAL-exact money.
    ("q96_disjunctive_scan",
      (s: SparkSession, d: String) => {
        val p = Tables.load(s, d, "part")
          .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
            col("p_size").between(1, 15))
          .select("p_partkey", "p_brand", "p_size")
        Tables.load(s, d, "lineitem")
          .filter(col("l_quantity").between(1, 30))
          .select(col("l_partkey"), col("l_quantity"),
            (dec(col("l_extendedprice")) *
              (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))).as("v"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
              col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
              col("l_quantity").between(20, 30)))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_items"), sum(col("v")).cast("double").as("revenue"))
          .orderBy(col("p_brand"))
      },
      Some("""SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_items,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
             |         AND l_quantity BETWEEN 1 AND 11)
             |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
             |         AND l_quantity BETWEEN 10 AND 20)
             |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
             |         AND l_quantity BETWEEN 20 AND 30)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- sketch-driven join-size estimation (AMS F2 / CMS inner product) --
    // What a cost-based planner wants BEFORE committing to a join
    // strategy: the self-join size of lineitem on l_partkey
    // (F2 = Σ f(k)², Alon-Matias-Szegedy '96) estimated from a 3×8192
    // count-min sketch's row-wise inner products with a min across
    // rows (Cormode-Muthukrishnan '05: est ≥ exact always, collisions
    // only ADD) — the sketch shuffles 3·8192 integer cells no matter
    // the key cardinality, vs the exact pass whose shuffle carries
    // every distinct key. The exact arm ships here as the eval
    // harness (s17's pattern); a planner would run only the sketch.
    // Hashes are seeded multiplicative mod-prime (p = 2^31−1) —
    // replayed verbatim by the oracle, so est/exact/err are all
    // integer-deterministic. Key domain must stay below ~2^32 for the
    // 64-bit a·k product; partition keys do.
    ("q97_join_size_estimate",
      (s: SparkSession, d: String) => {
        val P = 2147483647L
        val W = 8192L
        val seeds = Seq((0, 1103515245L, 12345L), (1, 69069L, 362437L),
          (2, 1664525L, 1013904223L))
        val keys = Tables.load(s, d, "lineitem").select(col("l_partkey").as("k"))
        val ip = keys.select(explode(array(seeds.map { case (i, a, b) =>
              struct(lit(i).as("row_i"),
                (((lit(a) * col("k") + lit(b)) % P) % W).as("bucket"))
            }: _*)).as("rb"))
          .select(col("rb.row_i").as("row_i"), col("rb.bucket").as("bucket"))
          .groupBy(col("row_i"), col("bucket"))
          .agg(count(lit(1)).as("f"))
          .groupBy(col("row_i"))
          .agg(sum(col("f") * col("f")).as("ip"))
        val est = ip.agg(min(col("ip")).as("est_f2"))
        val exact = keys.groupBy(col("k")).agg(count(lit(1)).as("f"))
          .agg(sum(col("f") * col("f")).as("exact_f2"))
        est.crossJoin(exact)
          .select(col("est_f2"), col("exact_f2"),
            expr("((est_f2 - exact_f2) * 10000) div exact_f2").as("err_bp"))
      },
      Some("""WITH k AS (SELECT l_partkey AS k FROM lineitem),
             |b AS (SELECT i.row_i,
             |    CASE i.row_i
             |      WHEN 0 THEN ((1103515245 * k + 12345) % 2147483647) % 8192
             |      WHEN 1 THEN ((69069 * k + 362437) % 2147483647) % 8192
             |      ELSE ((1664525 * k + 1013904223) % 2147483647) % 8192
             |    END AS bucket
             |  FROM k CROSS JOIN (VALUES (0), (1), (2)) AS i(row_i)),
             |f AS (SELECT row_i, bucket, COUNT(*) AS f FROM b GROUP BY 1, 2),
             |ip AS (SELECT row_i, CAST(SUM(f * f) AS BIGINT) AS ip FROM f GROUP BY 1),
             |e AS (SELECT MIN(ip) AS est_f2 FROM ip),
             |x AS (SELECT CAST(SUM(f * f) AS BIGINT) AS exact_f2
             |      FROM (SELECT COUNT(*) AS f FROM k GROUP BY k))
             |SELECT est_f2, exact_f2,
             |  CAST(((est_f2 - exact_f2) * 10000) // exact_f2 AS BIGINT) AS err_bp
             |FROM e CROSS JOIN x""".stripMargin)),

    // ---- product-line profit by supplier nation and year (TPC-H Q9) -------
    // Q9's star shape: lineitem at the center, part (name-filtered),
    // supplier, nation and orders around it, rolled up to
    // (nation, year) with a profit measure. The fixture has no
    // partsupp, so supply cost is a declared stand-in — one tenth of
    // retail, floored in integer cents (q78's cents rule:
    // round(×100) → BIGINT, so the cost sum is exact and both engines
    // floor the same integers). Revenue stays DECIMAL-exact (q69's
    // rule); profit is ONE double subtraction of two identically
    // derived doubles. Scale shape: the name filter prunes part
    // before broadcast; supplier/nation broadcast; lineitem ⋈ orders
    // is the only fact-fact shuffle; output is |nations|·|years|.
    ("q98_product_profit",
      (s: SparkSession, d: String) => {
        val p = Tables.load(s, d, "part")
          .filter(col("p_name").like("%bolt%"))
          .select(col("p_partkey"),
            round(col("p_retailprice") * 100).cast("long").as("retail_c"))
        val sup = Tables.load(s, d, "supplier").select("s_suppkey", "s_nationkey")
        val nat = Tables.load(s, d, "nation")
          .select(col("n_nationkey"), col("n_name").as("nation"))
        val o = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"))
        Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity").cast("long").as("qty"),
            (dec(col("l_extendedprice")) *
              (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))).as("v"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("nation"), col("yr"), col("v"),
            expr("(qty * retail_c) div 10").as("cost_c"))
          .groupBy(col("nation"), col("yr"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("v")).cast("double").as("revenue"),
            sum(col("cost_c")).as("cc"))
          .select(col("nation"), col("yr"), col("n_items"), col("revenue"),
            (col("cc").cast("double") / 100.0).as("cost"))
          .withColumn("profit", col("revenue") - col("cost"))
          .orderBy(col("nation"), col("yr"))
      },
      Some("""WITH l AS (
             |  SELECT n_name AS nation, year(o_orderdate) AS yr,
             |    CAST(l_extendedprice AS DECIMAL(18,2))
             |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS v,
             |    (CAST(l_quantity AS BIGINT)
             |      * CAST(round(p_retailprice * 100) AS BIGINT)) // 10 AS cost_c
             |  FROM lineitem
             |  JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  JOIN orders ON l_orderkey = o_orderkey),
             |g AS (SELECT nation, CAST(yr AS INT) AS yr,
             |        CAST(COUNT(*) AS BIGINT) AS n_items,
             |        CAST(SUM(v) AS DOUBLE) AS revenue,
             |        CAST(SUM(cost_c) AS BIGINT) AS cc
             |      FROM l GROUP BY 1, 2)
             |SELECT nation, yr, n_items, revenue,
             |  CAST(cc AS DOUBLE) / 100.0 AS cost,
             |  revenue - CAST(cc AS DOUBLE) / 100.0 AS profit
             |FROM g ORDER BY nation, yr""".stripMargin)),

    // ---- stable global sequence ids without a global sort ------------------
    // Distributed zipWithIndex, deterministically: exporting a corpus
    // with stable line numbers (training-shard offsets, audit ids)
    // must NOT funnel every row through one sorted partition. Two-pass
    // bucket-offset assignment instead: bucket on the leading key's
    // integer prefix (l_orderkey div 1024 — width chosen so |buckets|
    // stays ~1e5 at target scale), per-bucket counts roll into prefix
    // offsets through ONE window over the |buckets|-row frame (bounded
    // by construction, the t19 rule), and each bucket ranks its own
    // rows in parallel: seq = bucket offset + local rank. The order
    // key extends to the unique 4-tuple — a tie under the declared
    // sort would make ids layout-dependent. Output spot-checks every
    // 1000th id against the oracle's true global row_number.
    ("q99_global_sequence",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val l = Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"))
          .withColumn("b", expr("l_orderkey div 1024"))
        val offsets = l.groupBy(col("b")).agg(count(lit(1)).as("n"))
          .withColumn("off",
            sum(col("n")).over(Window.orderBy(col("b"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
              - col("n"))
        val wb = Window.partitionBy(col("b"))
          .orderBy(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"))
        l.join(broadcast(offsets.select("b", "off")), "b")
          .withColumn("seq", col("off") + row_number().over(wb) - 1)
          .filter(col("seq") % 1000 === 0)
          .select(col("seq"), col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"))
          .orderBy(col("seq"))
      },
      Some("""WITH r AS (
             |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             |    row_number() OVER (ORDER BY l_orderkey, l_linenumber,
             |      l_partkey, l_suppkey) - 1 AS seq
             |  FROM lineitem)
             |SELECT CAST(seq AS BIGINT) AS seq, l_orderkey,
             |  CAST(l_linenumber AS INT) AS l_linenumber, l_partkey, l_suppkey
             |FROM r WHERE seq % 1000 = 0 ORDER BY seq""".stripMargin)),

    // ---- returned-item revenue by customer (TPC-H Q10 shape) --------------
    // The lost-revenue report: which customers returned the most value
    // in a quarter. Shape Q3 lacks: a QUARTER window on orders plus a
    // fact-side flag filter (l_returnflag = 'R') that prunes lineitem
    // to ~1/3 before the join, a customer-grain aggregate carrying
    // descriptive columns, and a wide top-20. Scale: nation broadcasts;
    // orders is date-pruned before the customer join; the only
    // fact-fact shuffle is orders ⋈ lineitem on orderkey; the final
    // top-20 is TakeOrderedAndProject (no global sort). Revenue is
    // DECIMAL-exact with one final double cast (q69's rule); ties
    // broken on c_custkey.
    ("q100_returned_items",
      (s: SparkSession, d: String) => {
        val c = Tables.load(s, d, "customer")
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        val o = Tables.load(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val l = Tables.load(s, d, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            (dec(col("l_extendedprice")) *
              (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))).as("v"))
        val n = Tables.load(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"))
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(sum(col("v")).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
             |FROM customer
             |JOIN orders ON o_custkey = c_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1996-04-01'
             |  AND l_returnflag = 'R'
             |GROUP BY c_custkey, c_name, c_acctbal, n_name
             |ORDER BY revenue DESC, c_custkey
             |LIMIT 20""".stripMargin)),

    // ---- customer order-count distribution (TPC-H Q13 shape) --------------
    // The distribution-of-a-distribution: how many customers placed
    // exactly k qualifying orders, INCLUDING k = 0 — the zero bucket
    // only exists because the join is LEFT OUTER (an inner join
    // silently drops never-ordered customers; Q13's whole point).
    // o_orderpriority <> '1-URGENT' stands in for Q13's comment
    // filter (fixture has no o_comment). Scale: one shuffle on
    // custkey for the outer join + first-level count; the second
    // aggregate groups ~|distinct counts| rows — tiny. count(col)
    // counts non-null order keys only, so no-match rows land at 0 in
    // both engines.
    ("q101_cust_order_histogram",
      (s: SparkSession, d: String) => {
        val c = Tables.load(s, d, "customer").select("c_custkey")
        val o = Tables.load(s, d, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select("o_orderkey", "o_custkey")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
             |FROM (
             |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
             |  FROM customer
             |  LEFT OUTER JOIN orders ON c_custkey = o_custkey
             |    AND o_orderpriority <> '1-URGENT'
             |  GROUP BY c_custkey)
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // ---- Pareto frontier (2-D skyline: cheapest-per-size parts) -----------
    // The skyline operator: parts no other part dominates (≤ price AND
    // ≥ size, strict in one) — price/performance shortlists, catalog
    // curation. NOT the naive O(n²) dominance self-join: the sweep
    // formulation reduces it to (1) a per-price max-size aggregate,
    // (2) a prefix max over the DISTINCT-PRICE frame — bounded by the
    // value domain (cents grid), the q99 offsets-frame rule; an
    // unbounded price domain would swap in q99's bucket-offset prefix
    // machinery — and (3) one join back. A point survives iff it tops
    // its own price's sizes AND beats every cheaper price's best.
    // Oracle is the INDEPENDENT dominance formulation (NOT EXISTS), so
    // the hash match proves sweep ≡ dominance, not replay. Integer
    // cents (q78's rule) keep the compare exact; equal (price, size)
    // twins both survive in both formulations (no strict dominator).
    ("q102_pareto_frontier",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val pts = Tables.load(s, d, "part").select(col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long").as("price_c"),
          col("p_size"))
        val perPrice = pts.groupBy(col("price_c")).agg(max(col("p_size")).as("msz"))
        val swept = perPrice.withColumn("pmax",
          max(col("msz")).over(Window.orderBy(col("price_c"))
            .rowsBetween(Window.unboundedPreceding, -1)))
        pts.join(broadcast(swept), "price_c")
          .filter(col("p_size") === col("msz") &&
            (col("pmax").isNull || col("p_size") > col("pmax")))
          .select(col("p_partkey"), col("price_c"), col("p_size"))
          .orderBy(col("price_c"), col("p_partkey"))
      },
      Some("""SELECT p_partkey,
             |  CAST(round(p_retailprice*100) AS BIGINT) AS price_c,
             |  CAST(p_size AS INT) AS p_size
             |FROM part p
             |WHERE NOT EXISTS (SELECT 1 FROM part q
             |  WHERE round(q.p_retailprice*100) <= round(p.p_retailprice*100)
             |    AND q.p_size >= p.p_size
             |    AND (round(q.p_retailprice*100) < round(p.p_retailprice*100)
             |         OR q.p_size > p.p_size))
             |ORDER BY price_c, p_partkey""".stripMargin)),

    // ---- frequency-weighted exact percentiles -----------------------------
    // q32's missing axis: percentiles where each row carries a WEIGHT
    // (quantity-weighted price says "what does the median UNIT sell
    // at", not "the median line item") — the exact-regime tool for
    // weighted medians, fee schedules, token-weighted length stats.
    // Spark's exact `percentile(col, p, freq)` aggregates a
    // value→weight map (mergeable, map-side combinable; bounded here
    // by the cents value domain — beyond that regime q50's KLL is the
    // sketch path). The oracle CANNOT call a builtin (DuckDB has no
    // weighted percentile): it replays the expanded-multiset
    // definition — rank p·(Σw−1), floor/ceil lookups via cumulative
    // weights, linear interpolation — so the hash match certifies
    // Spark's interpolation semantics against the definition itself.
    // Integer cents in, one rounded double out (q78's rule).
    ("q103_weighted_percentile",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "lineitem").select(col("l_returnflag").as("flag"),
            round(col("l_extendedprice") * 100).cast("long").as("pc"),
            col("l_quantity").cast("long").as("q"))
          .groupBy(col("flag"))
          .agg(round(expr("percentile(pc, 0.5D, q)"), 6).as("wm50"),
            round(expr("percentile(pc, 0.9D, q)"), 6).as("wm90"),
            sum(col("q")).as("total_w"))
          .orderBy(col("flag"))
      },
      Some("""WITH l AS (SELECT l_returnflag AS flag,
             |    CAST(round(l_extendedprice*100) AS BIGINT) AS pc,
             |    CAST(l_quantity AS BIGINT) AS q FROM lineitem),
             |a AS (SELECT flag, pc, SUM(q) AS w FROM l GROUP BY 1, 2),
             |c AS (SELECT flag, pc, w,
             |    SUM(w) OVER (PARTITION BY flag ORDER BY pc) AS cum,
             |    SUM(w) OVER (PARTITION BY flag) AS tot FROM a),
             |pos AS (SELECT flag, tot, p,
             |    CAST(floor(p*(tot-1)) AS BIGINT) AS lo,
             |    CAST(ceiling(p*(tot-1)) AS BIGINT) AS hi, p*(tot-1) AS x
             |  FROM (SELECT DISTINCT flag, tot FROM c)
             |  CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)),
             |    (CAST(0.9 AS DOUBLE))) t(p)),
             |vlo AS (SELECT pos.flag, pos.p, MIN(c.pc) AS v FROM pos
             |        JOIN c ON c.flag = pos.flag AND c.cum > pos.lo GROUP BY 1, 2),
             |vhi AS (SELECT pos.flag, pos.p, MIN(c.pc) AS v FROM pos
             |        JOIN c ON c.flag = pos.flag AND c.cum > pos.hi GROUP BY 1, 2),
             |f AS (SELECT pos.flag, pos.p, pos.tot,
             |    round(vlo.v + (pos.x - pos.lo) * (vhi.v - vlo.v), 6) AS val
             |  FROM pos JOIN vlo ON vlo.flag = pos.flag AND vlo.p = pos.p
             |           JOIN vhi ON vhi.flag = pos.flag AND vhi.p = pos.p)
             |SELECT flag, MAX(CASE WHEN p = 0.5 THEN val END) AS wm50,
             |  MAX(CASE WHEN p = 0.9 THEN val END) AS wm90,
             |  CAST(MAX(tot) AS BIGINT) AS total_w
             |FROM f GROUP BY flag ORDER BY flag""".stripMargin)),

    // ---- position-based multi-touch attribution ---------------------------
    // st05/q62's missing economics: st05 attributes a purchase to ONE
    // view, q62 counts funnel stages; position-based (U-shaped)
    // attribution SPLITS each purchase's credit across every touch in
    // its 1-hour lookback — 40% first touch, 40% last, 20% shared by
    // the middles — the standard marketing-mix shape. All credit is
    // integer BASIS POINTS (10000 per purchase): middles get
    // 2000 div (k−2) each, the integer remainder goes to the earliest
    // middle, so every purchase's credit sums to exactly 10000 and no
    // float ever decides a row. Scale: the lookback join is an
    // equi-join on user + a 1-hour band (hour-bucketed at 100 TB,
    // q24's pattern); ranking windows partition per purchase —
    // unbounded-safe.
    ("q104_multitouch_attribution",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.load(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
        val touches = ev.filter(col("event_type").isin("view", "click"))
          .select(col("event_id").as("t_id"), col("user_id").as("t_user"),
            col("ts").as("t_ts"), col("event_type").as("touch_type"))
        val joined = purchases.join(touches,
          col("t_user") === col("p_user") &&
            col("t_ts") >= col("p_ts") - lit(3600L * 1000 * 1000) &&
            col("t_ts") < col("p_ts"))
        val ranked = joined
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("p_id")).orderBy(col("t_ts"), col("t_id"))))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("p_id"))))
        ranked
          .withColumn("pos",
            when(col("cnt") === 1, "solo")
              .when(col("rn") === 1, "first")
              .when(col("rn") === col("cnt"), "last")
              .otherwise("middle"))
          .withColumn("credit_bp",
            when(col("pos") === "solo", lit(10000L))
              .when(col("pos") === "first" || col("pos") === "last", lit(4000L))
              .otherwise(expr("2000 div (cnt - 2)") +
                when(col("rn") === 2, expr("2000 % (cnt - 2)")).otherwise(lit(0L))))
          .groupBy(col("touch_type"), col("pos"))
          .agg(count(lit(1)).as("n_touches"),
            sum(col("credit_bp")).as("credit_bp_total"))
          .orderBy(col("touch_type"), col("pos"))
      },
      Some("""WITH p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
             |  FROM events WHERE event_type = 'purchase'),
             |t AS (SELECT event_id AS t_id, user_id, ts, event_type
             |  FROM events WHERE event_type IN ('view', 'click')),
             |j AS (SELECT p_id, event_type AS touch_type,
             |    row_number() OVER (PARTITION BY p_id ORDER BY ts, t_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY p_id) AS cnt
             |  FROM p JOIN t ON user_id = p_user
             |    AND ts >= p_ts - INTERVAL 1 HOUR AND ts < p_ts),
             |c AS (SELECT touch_type,
             |    CASE WHEN cnt = 1 THEN 'solo' WHEN rn = 1 THEN 'first'
             |         WHEN rn = cnt THEN 'last' ELSE 'middle' END AS pos,
             |    CASE WHEN cnt = 1 THEN 10000
             |         WHEN rn = 1 OR rn = cnt THEN 4000
             |         ELSE 2000 // (cnt - 2)
             |           + CASE WHEN rn = 2 THEN 2000 % (cnt - 2) ELSE 0 END
             |    END AS credit_bp
             |  FROM j)
             |SELECT touch_type, pos, CAST(COUNT(*) AS BIGINT) AS n_touches,
             |  CAST(SUM(credit_bp) AS BIGINT) AS credit_bp_total
             |FROM c GROUP BY 1, 2 ORDER BY touch_type, pos""".stripMargin)),

    // ---- merkle-bucket anti-entropy diff ----------------------------------
    // q79 diffs two replicas ROW by row — correct, but at 100 TB the
    // replicas live in different clusters and shipping every row to
    // compare is the bottleneck. The anti-entropy shape (Dynamo-style
    // replica repair, m08's digest made actionable): (1) each side
    // computes one order-insensitive sha-256 digest per key bucket —
    // a KB-scale exchange; (2) only buckets whose digests disagree get
    // the row-level drill-down. v2 is a deterministic corruption of v1
    // (sparse deletes k%1024, sparse 1-cent flips k%1021), so most
    // buckets digest-match and the drill touches ~13% of them. The
    // oracle computes differing buckets from the ROW diff directly —
    // independent of any digest — so the hash match proves the
    // digest-pruned path finds exactly the truly-differing buckets.
    ("q105_merkle_diff",
      (s: SparkSession, d: String) => {
        val base = Tables.load(s, d, "orders").select(
          col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_orderstatus").as("st"),
          round(col("o_totalprice") * 100).cast("long").as("p"))
        val v2 = base.filter(col("k") % 1024 =!= 0)
          .withColumn("p",
            when(col("k") % 1021 === 0, col("p") + 1L).otherwise(col("p")))
        def digests(df: DataFrame) = df
          .withColumn("bucket", expr("k div 64"))
          .withColumn("s", concat_ws("|", col("k"), col("c"), col("st"), col("p")))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            sha2(expr("aggregate(sort_array(collect_list(s)), '', " +
              "(acc, x) -> concat(acc, x))"), 256).as("dg"))
        val b1 = digests(base)
          .select(col("bucket"), col("n").as("n_v1"), col("dg").as("dg1"))
        val b2 = digests(v2)
          .select(col("bucket"), col("n").as("n_v2"), col("dg").as("dg2"))
        val diffb = b1.join(b2, Seq("bucket"), "full_outer")
          .filter(!(col("dg1") <=> col("dg2")))
          .select(col("bucket"), coalesce(col("n_v1"), lit(0L)).as("n_v1"),
            coalesce(col("n_v2"), lit(0L)).as("n_v2"))
        val keys = diffb.select("bucket")
        val r1 = base.withColumn("bucket", expr("k div 64"))
          .join(broadcast(keys), Seq("bucket"), "left_semi")
          .select(col("bucket"), col("k"),
            concat_ws("|", col("c"), col("st"), col("p")).as("s1"))
        val r2 = v2.withColumn("bucket", expr("k div 64"))
          .join(broadcast(keys), Seq("bucket"), "left_semi")
          .select(col("k"), concat_ws("|", col("c"), col("st"), col("p")).as("s2"))
        r1.join(r2, Seq("k"), "left_outer")
          .groupBy(col("bucket"))
          .agg(sum(when(col("s2").isNull, 1L).otherwise(0L)).as("n_missing"),
            sum(when(col("s2").isNotNull && col("s1") =!= col("s2"), 1L)
              .otherwise(0L)).as("n_changed"))
          .join(diffb, "bucket")
          .select(col("bucket"), col("n_v1"), col("n_v2"),
            col("n_missing"), col("n_changed"))
          .orderBy(col("bucket"))
      },
      Some("""WITH v1 AS (SELECT o_orderkey AS k, o_custkey AS c,
             |    o_orderstatus AS st,
             |    CAST(round(o_totalprice*100) AS BIGINT) AS p FROM orders),
             |v2 AS (SELECT k, c, st,
             |    CASE WHEN k % 1021 = 0 THEN p + 1 ELSE p END AS p
             |  FROM v1 WHERE k % 1024 <> 0),
             |r AS (SELECT v1.k // 64 AS bucket, v1.k,
             |    v1.c || '|' || v1.st || '|' || v1.p AS s1,
             |    v2.c || '|' || v2.st || '|' || v2.p AS s2
             |  FROM v1 LEFT JOIN v2 ON v1.k = v2.k),
             |g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_v1,
             |    CAST(SUM(CASE WHEN s2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_v2,
             |    CAST(SUM(CASE WHEN s2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_missing,
             |    CAST(SUM(CASE WHEN s2 IS NOT NULL AND s1 <> s2 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_changed
             |  FROM r GROUP BY 1)
             |SELECT bucket, n_v1, n_v2, n_missing, n_changed FROM g
             |WHERE n_missing > 0 OR n_changed > 0 ORDER BY bucket""".stripMargin)),

    // ---- dormant high-balance customers (TPC-H Q22 shape) -----------------
    // The last expressible TPC-H family member (Q2/Q4/Q11/Q12/Q16/Q20
    // need partsupp/commitdate/shipmode columns the fixture lacks;
    // nation stands in for Q22's phone country code): customers whose
    // balance beats the positive-balance average but who placed NO
    // order since 1999 — the sales-opportunity report. Composes the
    // uncorrelated scalar aggregate (q30's family) with an anti join
    // (q06) under a date predicate. The above-average threshold is
    // INTEGER cross-multiplication (bal·n > Σbal, t15's rule) — no
    // float ever decides membership; balances stay integer cents end
    // to end. Scale: the threshold is one tiny broadcast row; the anti
    // join shuffles on custkey with the date filter pushed to the
    // orders scan; output is |nations| rows.
    ("q106_global_sales_opportunity",
      (s: SparkSession, d: String) => {
        val c = Tables.load(s, d, "customer").select(col("c_custkey"),
          col("c_nationkey"),
          round(col("c_acctbal") * 100).cast("long").as("bal_c"))
        val thr = c.filter(col("bal_c") > 0)
          .agg(sum(col("bal_c")).as("s"), count(lit(1)).as("n"))
        val recent = Tables.load(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
          .select("o_custkey")
        val nat = Tables.load(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"))
        c.crossJoin(broadcast(thr))
          .filter(col("bal_c") * col("n") > col("s"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("totacctbal_c"))
          .orderBy(col("n_name"))
      },
      Some("""WITH c AS (SELECT c_custkey, c_nationkey,
             |    CAST(round(c_acctbal*100) AS BIGINT) AS bal_c FROM customer),
             |t AS (SELECT CAST(SUM(bal_c) AS BIGINT) AS s,
             |    CAST(COUNT(*) AS BIGINT) AS n FROM c WHERE bal_c > 0),
             |sel AS (SELECT c.c_nationkey, c.bal_c FROM c, t
             |  WHERE c.bal_c * t.n > t.s
             |    AND NOT EXISTS (SELECT 1 FROM orders o
             |      WHERE o.o_custkey = c.c_custkey
             |        AND o.o_orderdate >= TIMESTAMP '1999-01-01'))
             |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
             |  CAST(SUM(bal_c) AS BIGINT) AS totacctbal_c
             |FROM sel JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY 1 ORDER BY n_name""".stripMargin)),

    // ---- supplier variety per part family (TPC-H Q16 shape) ---------------
    // How many DISTINCT suppliers can ship each (brand, size) family,
    // excluding flagged suppliers — Q16's supplier-diversity report
    // with lineitem standing in for the missing partsupp (a part's
    // suppliers = whoever has shipped it) and negative balance for the
    // complaints filter. The shape q46/d06 don't cover: EXACT
    // count(DISTINCT) grouped over a fact-dim join — Spark plans it as
    // the two-level expand/partial-distinct aggregate, so the shuffle
    // carries (brand, size, suppkey) triples, never raw lineitem rows.
    // Exclusion is an anti join against the tiny flagged-supplier
    // frame (broadcast).
    ("q107_supplier_variety",
      (s: SparkSession, d: String) => {
        val flagged = Tables.load(s, d, "supplier")
          .filter(col("s_acctbal") < 0).select("s_suppkey")
        val p = Tables.load(s, d, "part").select("p_partkey", "p_brand", "p_size")
        Tables.load(s, d, "lineitem").select("l_partkey", "l_suppkey")
          .join(flagged, col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_size"))
          .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
      },
      Some("""SELECT p_brand, CAST(p_size AS INT) AS p_size,
             |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
             |FROM lineitem
             |JOIN part ON l_partkey = p_partkey
             |WHERE NOT EXISTS (SELECT 1 FROM supplier
             |  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
             |GROUP BY 1, 2
             |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin)),

    // ---- event-type transition matrix (first-order Markov profile) --------
    // What follows what: counts and probabilities of consecutive
    // event-type pairs per user timeline — the behavioral fingerprint
    // that funnel (q62) and sessionization (q72) both flatten away. A
    // shifted self-comparison via lead() over (user, time) — one
    // shuffle on user_id; the |types|² transition frame is bounded by
    // construction, so the per-row probability denominators come from
    // a window over that tiny frame (the t19 rule). Probabilities are
    // integer basis points (n·10000 div row-total) — no float decides
    // anything.
    ("q108_event_transitions",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val m = Tables.load(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("from_type"))
          .withColumn("to_type", lead(col("from_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        m.withColumn("row_total",
            sum(col("n")).over(Window.partitionBy(col("from_type"))))
          .select(col("from_type"), col("to_type"), col("n"),
            expr("(n * 10000) div row_total").as("p_bp"))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH x AS (
             |  SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |m AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM x WHERE to_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             |  CAST((n * 10000) // SUM(n) OVER (PARTITION BY from_type)
             |    AS BIGINT) AS p_bp
             |FROM m ORDER BY from_type, to_type""".stripMargin)),

    // ---- revenue concentration: exact Gini + top-decile share -------------
    // The inequality profile of customer revenue (how concentrated is
    // the book of business), computed EXACTLY at any scale: Gini needs
    // every row's global VALUE RANK — the textbook computation is a
    // single-partition sort — so this reuses q99's distributed-rank
    // machinery (value-range buckets, per-bucket counts rolled into
    // prefix offsets through one bounded window, local rank per
    // bucket; bucket count is bounded by the VALUE DOMAIN, not the row
    // count). All accumulations are integer (Σ rank·cents and the
    // decile share fit comfortably in long at any plausible scale);
    // the closed-form G = 2Σi·xᵢ/(nΣx) − (n+1)/n is evaluated once in
    // double on identical exact inputs, round 6 (c05's discipline).
    ("q109_gini_concentration",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val rev = Tables.load(s, d, "orders")
          .select(col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("oc"))
          .groupBy(col("o_custkey")).agg(sum(col("oc")).as("rev_c"))
          .withColumn("bucket", expr("rev_c div 10000000"))
        val offs = rev.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
          .withColumn("off",
            sum(col("bn")).over(Window.orderBy(col("bucket"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
              - col("bn"))
        val ranked = rev.join(broadcast(offs.select("bucket", "off")), "bucket")
          .withColumn("rank", col("off") + row_number().over(
            Window.partitionBy(col("bucket"))
              .orderBy(col("rev_c"), col("o_custkey"))))
        val stats = ranked.agg(count(lit(1)).as("n"), sum(col("rev_c")).as("s"))
        ranked.crossJoin(broadcast(stats))
          .agg(max(col("n")).as("n"), max(col("s")).as("s"),
            sum(col("rank") * col("rev_c")).as("a"),
            sum(when(col("rank") > col("n") - expr("n div 10"), col("rev_c"))
              .otherwise(0L)).as("td"))
          .select(col("n").as("n_customers"), col("s").as("total_revenue_c"),
            round(lit(2.0) * col("a").cast("double")
                / (col("n") * col("s")).cast("double")
              - (col("n") + lit(1)).cast("double") / col("n").cast("double"), 6)
              .as("gini"),
            expr("(td * 10000) div s").as("top_decile_bp"))
      },
      Some("""WITH rev AS (SELECT o_custkey,
             |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             |      AS rev_c
             |  FROM orders GROUP BY 1),
             |r AS (SELECT rev_c,
             |    row_number() OVER (ORDER BY rev_c, o_custkey) AS rank FROM rev),
             |r2 AS (SELECT rev_c, rank, COUNT(*) OVER () AS n,
             |    SUM(rev_c) OVER () AS s FROM r),
             |f AS (SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(s) AS BIGINT) AS s,
             |    CAST(SUM(rank * rev_c) AS BIGINT) AS a,
             |    CAST(SUM(CASE WHEN rank > n - n // 10 THEN rev_c ELSE 0 END)
             |      AS BIGINT) AS td
             |  FROM r2)
             |SELECT n AS n_customers, s AS total_revenue_c,
             |  round(2.0 * CAST(a AS DOUBLE) / CAST(n * s AS DOUBLE)
             |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini,
             |  CAST((td * 10000) // s AS BIGINT) AS top_decile_bp
             |FROM f""".stripMargin)),

    // ---- join-key skew report ---------------------------------------------
    // The measurement that DECIDES between q44's salting, q45's
    // bucketing and q65's AQE skew handling: the per-key row
    // distribution of a prospective join key. One groupBy gives
    // per-key counts; the count-OF-counts frame (distinct multiplicity
    // values — bounded by the multiplicity domain, the t19 rule)
    // yields exact integer percentiles via cumulative coverage
    // (smallest multiplicity m with ⌈q·keys⌉ keys at or below m — no
    // interpolation, no float). The skew ratio max/p50 in basis
    // points is the one number a pipeline alerts on. Never shuffles
    // more than (key, count) pairs.
    ("q110_key_skew_report",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val counts = Tables.load(s, d, "lineitem")
          .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
        val cc = counts.groupBy(col("n")).agg(count(lit(1)).as("keys"))
        val cum = cc.withColumn("cum",
          sum(col("keys")).over(Window.orderBy(col("n"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = cc.agg(sum(col("keys")).as("total_keys"),
          sum(col("n") * col("keys")).as("total_rows"), max(col("n")).as("max_n"))
        cum.crossJoin(broadcast(tot))
          .agg(max(col("total_keys")).as("n_keys"),
            max(col("total_rows")).as("total_rows"),
            max(col("max_n")).as("max_per_key"),
            min(when(col("cum") >= expr("(total_keys * 50 + 99) div 100"),
              col("n"))).as("p50_per_key"),
            min(when(col("cum") >= expr("(total_keys * 99 + 99) div 100"),
              col("n"))).as("p99_per_key"))
          .select(col("n_keys"), col("total_rows"), col("max_per_key"),
            col("p50_per_key"), col("p99_per_key"),
            expr("(max_per_key * 10000) div p50_per_key").as("skew_ratio_bp"))
      },
      Some("""WITH c AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM lineitem GROUP BY 1),
             |cc AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS keys FROM c GROUP BY 1),
             |cum AS (SELECT n, keys,
             |    SUM(keys) OVER (ORDER BY n ROWS UNBOUNDED PRECEDING) AS cum,
             |    SUM(keys) OVER () AS total_keys,
             |    SUM(n * keys) OVER () AS total_rows,
             |    MAX(n) OVER () AS max_n
             |  FROM cc)
             |SELECT CAST(MAX(total_keys) AS BIGINT) AS n_keys,
             |  CAST(MAX(total_rows) AS BIGINT) AS total_rows,
             |  CAST(MAX(max_n) AS BIGINT) AS max_per_key,
             |  CAST(MIN(CASE WHEN cum >= (total_keys * 50 + 99) // 100
             |    THEN n END) AS BIGINT) AS p50_per_key,
             |  CAST(MIN(CASE WHEN cum >= (total_keys * 99 + 99) // 100
             |    THEN n END) AS BIGINT) AS p99_per_key,
             |  CAST((MAX(max_n) * 10000) // MIN(CASE WHEN
             |    cum >= (total_keys * 50 + 99) // 100 THEN n END) AS BIGINT)
             |    AS skew_ratio_bp
             |FROM cum""".stripMargin)),

    // ---- recursive CTE: running total with reset (budget batching) --------
    // Spark 4's ANSI recursive CTE, exercised on the computation class
    // that actually NEEDS it: a running accumulator that RESETS on a
    // condition (cut a new shipment batch when cumulative order value
    // would top $1M) — state at step k depends on the reset decision
    // at k−1, so no window frame expresses it (q08's running sums
    // can't reset; q72's gap sessions depend only on adjacent rows).
    // The recursion is per-customer linear (each level joins level-k
    // rows to the rn = k+1 orders — ALL customers advance in
    // parallel); depth = max orders per customer (24 at sf0.1, bound
    // asserted by the level-limit conf below at 1000 for scale
    // headroom). Everything is integer cents; the oracle runs the
    // IDENTICAL recursion in DuckDB (arg_max ↔ max_by), so the hash
    // certifies Spark's recursive-CTE fixpoint semantics themselves.
    ("q111_recursive_budget_batches",
      (s: SparkSession, d: String) => {
        s.conf.set("spark.sql.cteRecursionLevelLimit", "1000")
        // materialize the recursion's STATIC input once: the engine
        // inlines a non-recursive CTE into every fixpoint step, so the
        // orders scan + row_number window would otherwise re-run at
        // EVERY level (depth = max orders/customer, 24 at sf0.1 —
        // measured 12.2 s, ~70% of it re-derived `o`). A cached
        // per-query intermediate (released by the per-query cache
        // clear) turns each level's static side into a memory-local
        // probe; the recursion itself — the thing the face certifies —
        // is unchanged, and the oracle recursion still hash-matches.
        //
        // Per-LEVEL executions are micro-queries, and UnionLoopExec runs
        // TWO per level (a keyless repartition().count() to materialize
        // the step, then a collect() that converts it to the next
        // level's LocalRelation — both at session shuffle partitions),
        // so the fixpoint pays 24 × 2 plans + jobs of per-level
        // overhead. Scope the recursion like the streaming state sites
        // scope their stores: shuffle partitions sized to the LEVEL
        // frame (≤ |customers| rows of 4 longs — a deployment sizes
        // this to level bytes / target partition size, exactly the
        // Confs.stateParts rule), AQE off (per-level re-planning of
        // single-stage micro-queries is pure driver tax at any level
        // size that fits the LocalRelation conversion anyway), and no
        // sort-merge preference (SMJ re-SORTS the 150k-row static side
        // at every level; hash join probes it in place). Measured
        // (one JVM, min-of-4, sf0.1): 4.85 s → 3.25 s.
        //
        // The scoped confs are read at EXECUTION time (each fixpoint
        // level plans a fresh micro-query when the action runs), so the
        // recursion must EXECUTE inside the scope: materialize the tiny
        // final rollup (≤ max-batches-per-customer rows) into the same
        // per-query cache the static input uses — built in the timed
        // region, released by the bench's per-query clearCache(), never
        // persisted across runs.
        import org.apache.spark.sql.expressions.Window
        graft.Confs.withConfs(s, Seq(
          "spark.sql.shuffle.partitions" -> "4",
          "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.join.preferSortMergeJoin" -> "false")) {
          Tables.load(s, d, "orders")
            .select(col("o_custkey").as("cust"),
              round(col("o_totalprice") * 100).cast("long").as("p"),
              row_number().over(Window.partitionBy(col("o_custkey"))
                .orderBy(col("o_orderdate"), col("o_orderkey"))).as("rn"))
            .cache()
            .createOrReplaceTempView("q111_o")
          val out = s.sql("""WITH RECURSIVE o AS (
            |  SELECT cust, p, rn FROM q111_o),
            |walk(cust, rn, acc, batches) AS (
            |  SELECT cust, rn, p, CAST(1 AS BIGINT) FROM o WHERE rn = 1
            |  UNION ALL
            |  SELECT o.cust, o.rn,
            |    CASE WHEN w.acc + o.p > 100000000 THEN o.p
            |         ELSE w.acc + o.p END,
            |    w.batches + CASE WHEN w.acc + o.p > 100000000 THEN 1
            |                     ELSE 0 END
            |  FROM walk w JOIN o ON o.cust = w.cust AND o.rn = w.rn + 1),
            |f AS (SELECT cust, MAX(rn) AS n_orders,
            |        max_by(batches, rn) AS n_batches
            |      FROM walk GROUP BY cust)
            |SELECT n_batches, CAST(COUNT(*) AS BIGINT) AS n_customers,
            |  CAST(SUM(n_orders) AS BIGINT) AS n_orders
            |FROM f GROUP BY n_batches ORDER BY n_batches""".stripMargin)
            .cache()
          out.count() // force the fixpoint under the scoped confs
          out
        }
      },
      Some("""WITH RECURSIVE o AS (
             |  SELECT o_custkey AS cust,
             |    CAST(round(o_totalprice*100) AS BIGINT) AS p,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_orderdate, o_orderkey) AS rn
             |  FROM orders),
             |walk(cust, rn, acc, batches) AS (
             |  SELECT cust, rn, p, CAST(1 AS BIGINT) FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.cust, o.rn,
             |    CASE WHEN w.acc + o.p > 100000000 THEN o.p
             |         ELSE w.acc + o.p END,
             |    w.batches + CASE WHEN w.acc + o.p > 100000000 THEN 1
             |                     ELSE 0 END
             |  FROM walk w JOIN o ON o.cust = w.cust AND o.rn = w.rn + 1),
             |f AS (SELECT cust, MAX(rn) AS n_orders,
             |        arg_max(batches, rn) AS n_batches
             |      FROM walk GROUP BY cust)
             |SELECT n_batches, CAST(COUNT(*) AS BIGINT) AS n_customers,
             |  CAST(SUM(n_orders) AS BIGINT) AS n_orders
             |FROM f GROUP BY n_batches ORDER BY n_batches""".stripMargin)),

    // ---- exact rolling 24-hour distinct users -----------------------------
    // Sliding-window COUNT DISTINCT — the analytic windows can't do
    // (distinct isn't frame-mergeable) and sketches only approximate
    // (st32's HLL face). The exact scale path: each (user, hour)
    // presence covers the 24 window-ends it can influence — a BOUNDED
    // ×24 map-side fan-out — then one distinct + count per window-end;
    // no window function ever sees more than its own hour. The oracle
    // is the INDEPENDENT brute formulation (window-end × presence
    // range join, COUNT DISTINCT per end), so the hash certifies
    // expansion ≡ definition. Window-ends are restricted to hours
    // with activity (both sides), keeping output = |active hours|.
    ("q112_rolling_distinct_users",
      (s: SparkSession, d: String) => {
        val hourUs = 3600L * 1000 * 1000
        val p = Tables.load(s, d, "events")
          .select(col("user_id"), expr(s"ts DIV $hourUs").as("h")).distinct()
        val hours = p.select(col("h").as("hour_end")).distinct()
        val cov = p.select(col("user_id"),
            explode(sequence(col("h"), col("h") + 23)).as("hour_end"))
          .distinct()
        cov.join(hours, "hour_end")
          .groupBy(col("hour_end"))
          .agg(count_distinct(col("user_id")).as("n_users_24h"))
          .orderBy(col("hour_end"))
      },
      Some("""WITH p AS (SELECT DISTINCT user_id,
             |    epoch_us(ts) // 3600000000 AS h FROM events),
             |hours AS (SELECT DISTINCT h FROM p)
             |SELECT w.h AS hour_end,
             |  CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users_24h
             |FROM hours w JOIN p ON p.h BETWEEN w.h - 23 AND w.h
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- temporal event debounce ------------------------------------------
    // The hygiene dedup st06 (exact event_id replay) can't do: drop
    // REPEATED (user, type) firings within a 5-minute debounce window
    // — double-clicks, retry storms, sensor chatter. An event is kept
    // iff it's the first of its (user, type) or ≥ 5 min after its
    // predecessor; chained duplicates each compare to their immediate
    // predecessor (debounce, not throttle — a long burst collapses to
    // one event per quiet gap, same gaps-and-islands family as q72 but
    // keyed per (user, type) and emitting a keep/drop verdict, not
    // session ids). One lag() per (user, type) partition — unbounded-
    // safe; tie-break on event_id makes equal-ts chains deterministic.
    ("q113_event_debounce",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        Tables.load(s, d, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("kept",
            (col("prev_ts").isNull ||
              col("ts") - col("prev_ts") >= lit(300L * 1000 * 1000))
              .cast("int"))
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

    // ---- histogram join-size estimate (System R family) -------------------
    // q97 estimates join size with SKETCHES (AMS/CMS inner product);
    // this is the other classic estimator — equi-width key histograms
    // with the per-bucket containment formula n₁·n₂ / max(d₁, d₂)
    // (Selinger '79 lineage, what CBO statistics actually store) —
    // over genuinely filtered sides (urgent orders ⋈ returned items),
    // where estimation is nontrivial. Histograms are one aggregate per
    // side (key div 256 buckets, count + exact distinct); the estimate
    // is integer floor arithmetic end to end, the error in basis
    // points against the true (computed) join size. At 100 TB the
    // histograms are the cheap pre-pass; the true join runs here only
    // because the fixture can afford the ground truth.
    ("q115_histogram_join_estimate",
      (s: SparkSession, d: String) => {
        val o = Tables.load(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("k"))
        val l = Tables.load(s, d, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("k"))
        def hist(df: DataFrame) = df
          .groupBy(expr("k div 256").as("b"))
          .agg(count(lit(1)).as("n"), count_distinct(col("k")).as("dk"))
        val est = hist(o).select(col("b"), col("n").as("n1"), col("dk").as("d1"))
          .join(hist(l).select(col("b"), col("n").as("n2"), col("dk").as("d2")),
            "b")
          .select(expr("(n1 * n2) div greatest(d1, d2)").as("e"))
          .agg(sum(col("e")).as("est_size"))
        val truth = o.join(l, "k").agg(count(lit(1)).as("true_size"))
        est.crossJoin(truth)
          .select(col("true_size"), col("est_size"),
            expr("(abs(est_size - true_size) * 10000) div true_size")
              .as("err_bp"))
      },
      Some("""WITH o AS (SELECT o_orderkey AS k FROM orders
             |  WHERE o_orderpriority = '1-URGENT'),
             |l AS (SELECT l_orderkey AS k FROM lineitem
             |  WHERE l_returnflag = 'R'),
             |h1 AS (SELECT k // 256 AS b, CAST(COUNT(*) AS BIGINT) AS n1,
             |    CAST(COUNT(DISTINCT k) AS BIGINT) AS d1 FROM o GROUP BY 1),
             |h2 AS (SELECT k // 256 AS b, CAST(COUNT(*) AS BIGINT) AS n2,
             |    CAST(COUNT(DISTINCT k) AS BIGINT) AS d2 FROM l GROUP BY 1),
             |e AS (SELECT CAST(SUM((n1 * n2) // greatest(d1, d2)) AS BIGINT)
             |    AS est_size FROM h1 JOIN h2 USING (b)),
             |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_size
             |  FROM o JOIN l USING (k))
             |SELECT true_size, est_size,
             |  CAST((abs(est_size - true_size) * 10000) // true_size AS BIGINT)
             |    AS err_bp
             |FROM e, t""".stripMargin)),

    // ---- RFM customer segmentation ----------------------------------------
    // The classic recency/frequency/monetary quintile grid (direct-
    // marketing's workhorse): per-customer integer metrics (days since
    // last order vs the corpus max date, order count, lifetime cents),
    // quintile CUTPOINTS from one exact-percentile aggregate over the
    // customer frame (q32's interpolation — q103 certified the
    // expanded-multiset definition matches DuckDB's quantile_cont on
    // identical integer inputs), segments by comparing each integer
    // metric against the four broadcast cutpoints. No global rank, no
    // corpus-wide window — the cut table is 1 row, the segmentation is
    // map-side. Output is the ≤125-cell segment grid.
    ("q117_rfm_segmentation",
      (s: SparkSession, d: String) => {
        val o = Tables.load(s, d, "orders")
        val m = o.groupBy(col("o_custkey"))
          .agg(max(col("o_orderdate")).as("last_dt"),
            count(lit(1)).as("f"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("m"))
          .crossJoin(broadcast(o.agg(max(col("o_orderdate")).as("max_dt"))))
          .select(col("o_custkey"),
            datediff(col("max_dt"), col("last_dt")).cast("long").as("r"),
            col("f"), col("m"))
        val cuts = m.agg(
          expr("percentile(r, array(0.2D, 0.4D, 0.6D, 0.8D))").as("rc"),
          expr("percentile(f, array(0.2D, 0.4D, 0.6D, 0.8D))").as("fc"),
          expr("percentile(m, array(0.2D, 0.4D, 0.6D, 0.8D))").as("mc"))
        def seg(v: String, c: String) =
          (lit(1) + (col(v) > expr(s"$c[0]")).cast("int")
            + (col(v) > expr(s"$c[1]")).cast("int")
            + (col(v) > expr(s"$c[2]")).cast("int")
            + (col(v) > expr(s"$c[3]")).cast("int"))
        m.crossJoin(broadcast(cuts))
          .select(seg("r", "rc").as("r_seg"), seg("f", "fc").as("f_seg"),
            seg("m", "mc").as("m_seg"))
          .groupBy(col("r_seg"), col("f_seg"), col("m_seg"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(col("r_seg"), col("f_seg"), col("m_seg"))
      },
      Some("""WITH m AS (
             |  SELECT o_custkey,
             |    date_diff('day', MAX(o_orderdate),
             |      (SELECT MAX(o_orderdate) FROM orders)) AS r,
             |    CAST(COUNT(*) AS BIGINT) AS f,
             |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
             |      AS m
             |  FROM orders GROUP BY 1),
             |c AS (SELECT
             |    quantile_cont(r, [0.2, 0.4, 0.6, 0.8]) AS rc,
             |    quantile_cont(f, [0.2, 0.4, 0.6, 0.8]) AS fc,
             |    quantile_cont(m, [0.2, 0.4, 0.6, 0.8]) AS mc
             |  FROM m),
             |segs AS (SELECT
             |    1 + CAST(r > rc[1] AS INT) + CAST(r > rc[2] AS INT)
             |      + CAST(r > rc[3] AS INT) + CAST(r > rc[4] AS INT) AS r_seg,
             |    1 + CAST(f > fc[1] AS INT) + CAST(f > fc[2] AS INT)
             |      + CAST(f > fc[3] AS INT) + CAST(f > fc[4] AS INT) AS f_seg,
             |    1 + CAST(m > mc[1] AS INT) + CAST(m > mc[2] AS INT)
             |      + CAST(m > mc[3] AS INT) + CAST(m > mc[4] AS INT) AS m_seg
             |  FROM m, c)
             |SELECT r_seg, f_seg, m_seg, CAST(COUNT(*) AS BIGINT) AS n_customers
             |FROM segs GROUP BY 1, 2, 3 ORDER BY r_seg, f_seg, m_seg""".stripMargin)),

    // ---- LATERAL correlated top-N -----------------------------------------
    // The ANSI LATERAL surface (q111's sibling capability check):
    // per-customer top-2 orders expressed as a correlated LATERAL
    // subquery — the form analysts write when a window feels indirect.
    // Catalyst DECORRELATES it (DecorrelateInnerQuery): the executed
    // plan is a window rank over a join, not one subquery execution
    // per customer row — which is exactly what makes the construct
    // scale-safe to expose; a truly iterative evaluation would be a
    // 100 TB disaster. DuckDB runs the IDENTICAL LATERAL SQL, so the
    // hash certifies the decorrelation preserves semantics, ties
    // (price DESC, orderkey) included. Integer cents (q78's rule).
    ("q116_lateral_topn",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "customer").createOrReplaceTempView("q116_customer")
        Tables.load(s, d, "orders").createOrReplaceTempView("q116_orders")
        s.sql("""SELECT c.c_custkey, o.o_orderkey, o.tp
          |FROM q116_customer c,
          |LATERAL (SELECT o_orderkey,
          |           CAST(round(o_totalprice*100) AS BIGINT) AS tp
          |         FROM q116_orders
          |         WHERE o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
          |ORDER BY c.c_custkey, tp DESC, o.o_orderkey""".stripMargin)
      },
      Some("""SELECT c.c_custkey, o.o_orderkey, o.tp
             |FROM customer c,
             |LATERAL (SELECT o_orderkey,
             |           CAST(round(o_totalprice*100) AS BIGINT) AS tp
             |         FROM orders
             |         WHERE o_custkey = c.c_custkey
             |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
             |ORDER BY c.c_custkey, tp DESC, o.o_orderkey""".stripMargin)),

    // ---- forecast revenue change (TPC-H Q6 family) ------------------------
    // The canonical selective scan-aggregate: one year of shipments in
    // a discount band under a quantity cap, revenue = price x discount.
    // The whole query is ONE scan with every predicate pushed to the
    // parquet reader (shipdate range is min/max-prunable per row group,
    // quantity/discount are PushedFilters) and a partial-aggregated
    // single row out — the shape where 100 TB cost is pure I/O and the
    // scan is the only stage. Revenue in integer cent x percent units
    // (round(price*100) x round(disc*100)) so the sum is exact and
    // order-independent in both engines; the double comparisons
    // themselves are parity-safe (same parquet doubles, same IEEE
    // literals, identical compare in Spark and DuckDB).
    ("q118_forecast_revenue",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "lineitem")
          .filter(col("l_shipdate") >= "1996-01-01" &&
            col("l_shipdate") < "1997-01-01" &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24)
          .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
              round(col("l_discount") * 100).cast("long")).as("revenue_cp"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
             |         * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT)
             |    AS revenue_cp,
             |  CAST(COUNT(*) AS BIGINT) AS n_items
             |FROM lineitem
             |WHERE l_shipdate >= DATE '1996-01-01'
             |  AND l_shipdate < DATE '1997-01-01'
             |  AND l_discount >= 0.05 AND l_discount <= 0.07
             |  AND l_quantity < 24""".stripMargin)),

    // ---- promotion revenue share (TPC-H Q14 family) -----------------------
    // Share of shipment revenue attributable to PROMO parts in one
    // month: lineitem scans with the date range pushed down, part is
    // the BROADCAST dimension (the classic fact x small-dim shape —
    // no shuffle of the fact side at any scale), and the share is a
    // single conditional aggregate in basis points via integer floor
    // division — no floating ratio to drift between engines.
    ("q119_promo_revenue",
      (s: SparkSession, d: String) => {
        val l = Tables.load(s, d, "lineitem")
          .filter(col("l_shipdate") >= "1997-03-01" &&
            col("l_shipdate") < "1997-04-01")
        val p = Tables.load(s, d, "part").select(col("p_partkey"), col("p_type"))
        val rev = (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", rev).otherwise(0L))
              .as("promo_cp"),
            sum(rev).as("total_cp"))
          .select(col("promo_cp"), col("total_cp"),
            expr("(promo_cp * 10000) div total_cp").as("promo_share_bp"))
      },
      Some("""WITH j AS (
             |  SELECT p_type,
             |    CAST(round(l_extendedprice*100) AS BIGINT)
             |      * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE l_shipdate >= DATE '1997-03-01'
             |    AND l_shipdate < DATE '1997-04-01'),
             |a AS (SELECT
             |    CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
             |      AS BIGINT) AS promo_cp,
             |    CAST(SUM(rev) AS BIGINT) AS total_cp
             |  FROM j)
             |SELECT promo_cp, total_cp,
             |  (promo_cp * 10000) // total_cp AS promo_share_bp
             |FROM a""".stripMargin)),

    // ---- top supplier by quarter revenue (TPC-H Q15 family) ---------------
    // Revenue per supplier over one quarter, then the supplier(s)
    // achieving the MAX — Q15's view + max-subquery shape. The
    // per-supplier aggregate shuffles once on s_suppkey; the max is a
    // 1-row broadcast joined back (never a global rank window), so ties
    // surface as multiple rows exactly like the spec's view form.
    // Supplier names attach AFTER the aggregate, dimension broadcast.
    ("q120_top_supplier",
      (s: SparkSession, d: String) => {
        val rev = Tables.load(s, d, "lineitem")
          .filter(col("l_shipdate") >= "1996-01-01" &&
            col("l_shipdate") < "1996-04-01")
          .groupBy(col("l_suppkey"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("total_cp"))

        val top = rev.agg(max(col("total_cp")).as("mx"))
        val sup = Tables.load(s, d, "supplier")
          .select(col("s_suppkey"), col("s_name"))
        rev.join(broadcast(top), col("total_cp") === col("mx"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_cp"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey,
             |    CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
             |      * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
             |      AS total_cp
             |  FROM lineitem
             |  WHERE l_shipdate >= DATE '1996-01-01'
             |    AND l_shipdate < DATE '1996-04-01'
             |  GROUP BY 1)
             |SELECT s_suppkey, s_name, total_cp
             |FROM rev JOIN supplier ON l_suppkey = s_suppkey
             |WHERE total_cp = (SELECT MAX(total_cp) FROM rev)
             |ORDER BY s_suppkey""".stripMargin)),

    // ---- late-shipment priority audit (TPC-H Q4 family) -------------------
    // Orders per priority that shipped LATE — at least one line item
    // more than 60 days after the order date (the fixture schema has
    // no commitdate, so lateness is shipdate vs orderdate + 60; same
    // EXISTS shape as the spec query). The EXISTS is a LEFT SEMI join
    // on the order key: the lineitem side is pre-filtered by the date
    // predicate BEFORE the join (predicate pushed below the semi
    // join), the semi join short-circuits per key, and the final
    // aggregate is over the small orders slice — no fact-x-fact
    // retention of matched rows at any scale.
    ("q121_late_priority_audit",
      (s: SparkSession, d: String) => {
        val o = Tables.load(s, d, "orders")
          .filter(col("o_orderdate") >= "1996-01-01" &&
            col("o_orderdate") < "1996-07-01")
        val l = Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"))
        val late = o.join(l, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > date_add(col("o_orderdate"), 60), "left_semi")
        late.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_late_orders"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
             |  CAST(COUNT(*) AS BIGINT) AS n_late_orders
             |FROM orders o
             |WHERE o_orderdate >= DATE '1996-01-01'
             |  AND o_orderdate < DATE '1996-07-01'
             |  AND EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey
             |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
             |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // ---- rolling z-score anomaly flags ------------------------------------
    // Streaming-metrics anomaly detection in batch form: each event is
    // scored against the PRECEDING-only window of its user's last 20
    // values (no lookahead — the online-scoring semantics), flagged
    // when it sits more than 2 sigma from the window mean. All integer:
    // with v in cents, s = SUM(prev), q = SUM(prev^2), n = COUNT(prev),
    // |z| > 2  <=>  (n*v - s)^2 > 4*(n*q - s^2)  — the z-test cleared
    // of division and sqrt, so both engines compare exact BIGINTs (a
    // zero-variance window flags any deviation, 0 > 0 never). The
    // window is PARTITIONED by user (thousands of concurrent frames,
    // each a bounded 20-row state) — the scale-safe shape, in contrast
    // to the global-window trap t12 retired. Warm-up rows (n < 5)
    // score as not-anomalous. Output: per event_type counts.
    ("q122_rolling_zscore",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-20, -1)
        val scored = Tables.load(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("v"))
          .select(col("event_type"), col("v"),
            count(lit(1)).over(w).as("n"),
            sum(col("v")).over(w).as("sm"),
            sum(col("v") * col("v")).over(w).as("q"))
          .select(col("event_type"),
            (col("n") >= 5 &&
              (col("n") * col("v") - col("sm")) *
                (col("n") * col("v") - col("sm")) >
              lit(4L) * (col("n") * col("q") - col("sm") * col("sm")))
              .cast("long").as("anom"),
            (col("n") >= 5).cast("long").as("scored"))
        scored.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"), sum(col("scored")).as("n_scored"),
            sum(col("anom")).as("n_anomalies"))
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

    // ---- incremental join-view maintenance (Blakeley-style IVM) -----------
    // A materialized fact-fact join view (orders ⋈ lineitem, monthly
    // rollup) updated by DELTA ALGEBRA instead of recomputation: with
    // O = O₀ ∪ ΔO and L = L₀ ∪ ΔL, the view delta is
    // ΔV = ΔO⋈L₀ ∪ O₀⋈ΔL ∪ ΔO⋈ΔL (Blakeley et al., SIGMOD'86), and
    // the refreshed view is the MERGE of the materialized old rollup
    // with the rollup of ΔV — partial aggregates summed group-wise,
    // never a rescan of the old join. The old rollup is
    // localCheckpoint'd to stand in for the view at rest; at 100 TB
    // refresh cost is ∝ |Δ| · join-fanout + |view|, while the oracle
    // (and only the oracle) pays the full recompute — the hash match
    // IS the IVM correctness proof. Quantities in integer units.
    ("q123_incremental_join_view",
      (s: SparkSession, d: String) => {
        val o = Tables.load(s, d, "orders")
          .select(col("o_orderkey").as("k"),
            date_format(col("o_orderdate"), "yyyy-MM").as("month"),
            (col("o_orderdate") < "1998-01-01").as("is_old"))
        val l = Tables.load(s, d, "lineitem")
          .select(col("l_orderkey").as("k"),
            round(col("l_quantity")).cast("long").as("qty"),
            (col("l_shipdate") < "1998-01-01").as("is_old"))
        val oOld = o.filter(col("is_old")).drop("is_old")
        val oNew = o.filter(!col("is_old")).drop("is_old")
        val lOld = l.filter(col("is_old")).drop("is_old")
        val lNew = l.filter(!col("is_old")).drop("is_old")
        def roll(v: DataFrame) = v.groupBy(col("month"))
          .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
        // the view at rest: materialized once, never re-joined
        val viewOld = roll(oOld.join(lOld, "k")).localCheckpoint()
        val deltaV = oNew.join(lOld, "k")
          .unionByName(oOld.join(lNew, "k"))
          .unionByName(oNew.join(lNew, "k"))
        viewOld.unionByName(roll(deltaV))
          .groupBy(col("month"))
          .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_qty")).as("sum_qty"))
          .orderBy(col("month"))
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY 1 ORDER BY month""".stripMargin)),

    // ---- SCD2 point-in-time enrichment (AS OF lookup, outer face) ---------
    // The read side of the SCD2 contract q81 writes and st29 maintains:
    // attach to each fact the dimension attributes valid AT ITS EPOCH
    // (`vf <= epoch < vt`, open rows valid forever) via
    // [[graft.streaming.Scd2Dim.enrichAsOf]] — an EQUI-join on the
    // dimension key with the validity window as residual predicate,
    // dimension broadcast, so the fact side streams through unshuffled
    // at any scale. st33 exercises the INNER face off the streamed
    // dimension; this is the LEFT face over q81's exact two-version
    // batch derivation, aimed at the boundary st33 cannot see:
    // DELETED keys (closed at epoch 2 with no successor) must surface
    // as NULL segments for epoch-2 facts rather than dropping the
    // fact row — the hash certifies the window boundary semantics and
    // the outer-join retention together.
    ("q124_scd2_asof_enrich",
      (s: SparkSession, d: String) => {
        val v1 = Tables.load(s, d, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
        val v2 = v1.filter(col("k") % 13 =!= 0)
          .withColumn("seg",
            when(col("k") % 7 === 0, "MACHINERY").otherwise(col("seg")))
        val j = v1.select(col("k").as("k1"), col("seg").as("s1"))
          .join(v2.select(col("k").as("k2"), col("seg").as("s2")),
            col("k1") === col("k2"), "full_outer")
        val dim = j
          .filter(col("k1").isNotNull && (col("k2").isNull || col("s1") =!= col("s2")))
          .select(col("k1").as("k"), col("s1").as("seg"),
            lit(1L).as("vf"), lit(2L).as("vt"))
          .unionAll(j.filter(col("k2").isNotNull)
            .select(col("k2").as("k"), col("s2").as("seg"),
              when(col("k1").isNull || col("s1") =!= col("s2"), 2L).otherwise(1L)
                .as("vf"),
              lit(null).cast("long").as("vt")))
        val facts = Tables.load(s, d, "orders")
          .select(col("o_custkey").as("fk"),
            when(col("o_orderdate") < "1998-07-01", 1L).otherwise(2L)
              .as("epoch"))
        graft.streaming.Scd2Dim.enrichAsOf(facts, dim, "fk", "epoch")
          .groupBy(col("seg"), col("epoch"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy(col("seg"), col("epoch"))
      },
      Some("""WITH v1 AS (SELECT c_custkey AS k, c_mktsegment AS s FROM customer),
             |v2 AS (SELECT k, CASE WHEN k % 7 = 0 THEN 'MACHINERY' ELSE s END AS s
             |       FROM v1 WHERE k % 13 <> 0),
             |j AS (SELECT v1.k AS k1, v1.s AS s1, v2.k AS k2, v2.s AS s2
             |      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k),
             |dim AS (
             |  SELECT k1 AS k, s1 AS seg, CAST(1 AS BIGINT) AS vf,
             |    CAST(2 AS BIGINT) AS vt
             |  FROM j WHERE k1 IS NOT NULL AND (k2 IS NULL OR s1 <> s2)
             |  UNION ALL
             |  SELECT k2, s2,
             |    CAST(CASE WHEN k1 IS NULL OR s1 <> s2 THEN 2 ELSE 1 END AS BIGINT),
             |    CAST(NULL AS BIGINT)
             |  FROM j WHERE k2 IS NOT NULL),
             |f AS (SELECT o_custkey AS fk,
             |    CAST(CASE WHEN o_orderdate < DATE '1998-07-01' THEN 1 ELSE 2 END
             |      AS BIGINT) AS epoch
             |  FROM orders)
             |SELECT dim.seg, f.epoch, CAST(COUNT(*) AS BIGINT) AS n_orders
             |FROM f LEFT JOIN dim ON f.fk = dim.k AND dim.vf <= f.epoch
             |  AND (dim.vt IS NULL OR f.epoch < dim.vt)
             |GROUP BY 1, 2 ORDER BY seg, epoch""".stripMargin)),

    // ---- edit-distance join under the optimizer's length guard ------------
    // q92's fuzzy lookup written the way an analyst writes it — the
    // edit-distance threshold INLINE in the join condition,
    // `levenshtein(probe, name) <= 2`, no hand-tuned bailout — and
    // made scale-safe by the library's own optimizer rule instead of
    // query-author discipline: [[graft.plans.LevenshteinLengthGuard]]
    // (installed via GraftExtensions in Verify/Bench/test sessions)
    // conjoins the implied `abs(length(probe) − length(name)) <= 2`
    // guard ahead of the DP, so short-circuit evaluation rejects
    // length-mismatched candidates in O(1) before any O(k·n) edit
    // computation runs — the classic length-blocking optimization,
    // applied automatically (ScaleSpec asserts the guard in the
    // executed plan). The DuckDB oracle runs the UN-rewritten
    // predicate, so the hash match is the semantics-preservation
    // proof. Output: per probe, its candidate count within distance 2
    // and the best (minimum) distance.
    ("q125_guarded_edit_join",
      (s: SparkSession, d: String) => {
        val dict = Tables.load(s, d, "part")
          .select(col("p_name").as("name")).distinct()
        val probes = dict.select(col("name").as("orig"),
          concat(substring(col("name"), 1, 2), substring(col("name"), 4, 1000))
            .as("probe"))
        probes.join(broadcast(dict),
            substring(col("probe"), 1, 2) === substring(col("name"), 1, 2) &&
              levenshtein(col("probe"), col("name")) <= 2)
          .groupBy(col("orig"), col("probe"))
          .agg(count(lit(1)).as("n_within2"),
            min(levenshtein(col("probe"), col("name"))).cast("int")
              .as("best_dist"))
          .orderBy(col("orig"))
      },
      Some("""WITH dict AS (SELECT DISTINCT p_name AS name FROM part),
             |probes AS (SELECT name AS orig,
             |             substr(name, 1, 2) || substr(name, 4) AS probe
             |           FROM dict),
             |j AS (SELECT orig, probe, name,
             |        levenshtein(probe, name) AS dist
             |      FROM probes JOIN dict
             |        ON substr(probe, 1, 2) = substr(name, 1, 2)
             |      WHERE levenshtein(probe, name) <= 2)
             |SELECT orig, probe, CAST(COUNT(*) AS BIGINT) AS n_within2,
             |  CAST(MIN(dist) AS INT) AS best_dist
             |FROM j GROUP BY 1, 2 ORDER BY orig""".stripMargin)),

    // ---- full-text containment verify (directional, guard-assisted) -------
    // d09 finds pairs sharing an 8-gram; d12 scores gram-level
    // containment. This answers the STRICTER question those
    // approximate: which candidate pairs are FULL substring
    // containments (one document literally embedded in the other) —
    // the wrapper/quote relation a curation pipeline uses to keep the
    // container and drop the contained copy. Shape: candidates come
    // from d09's gram blocking (never doc × doc), texts join back by
    // id, and each directional `contains(container, contained)`
    // verify runs under [[graft.plans.SubstringLengthGuard]]'s
    // optimizer-injected `length(hay) >= length(needle)` reject —
    // O(1) per candidate before the O(n·m) substring scan, with no
    // author-side discipline (ScaleSpec asserts the guard in the
    // plan). The DuckDB oracle runs the UN-guarded predicate — the
    // hash match is the semantics-preservation proof, q125's rule.
    ("q126_containment_verify",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("text"))
        val pairs = graft.ops.Dedup.substringNearDupPairs(
          docs, "doc_id", "text", n = 8)
        val tx = pairs
          .join(docs.select(col("doc_id").as("id_a"), lower(col("text")).as("ta")),
            "id_a")
          .join(docs.select(col("doc_id").as("id_b"), lower(col("text")).as("tb")),
            "id_b")
        tx.filter(col("ta").contains(col("tb")))
          .select(col("id_a").as("container_id"), col("id_b").as("contained_id"))
          .unionAll(tx.filter(col("tb").contains(col("ta")))
            .select(col("id_b").as("container_id"), col("id_a").as("contained_id")))
          .orderBy(col("container_id"), col("contained_id"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
             |      FROM w, unnest(range(1, greatest(len(w)-6, 1))) AS u(i)),
             |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
             |tx AS (SELECT p.id_a, p.id_b,
             |         lower(a.text) AS ta, lower(b.text) AS tb
             |       FROM p JOIN documents a ON a.doc_id = p.id_a
             |              JOIN documents b ON b.doc_id = p.id_b)
             |SELECT container_id, contained_id FROM (
             |  SELECT id_a AS container_id, id_b AS contained_id
             |  FROM tx WHERE contains(ta, tb)
             |  UNION ALL
             |  SELECT id_b, id_a FROM tx WHERE contains(tb, ta))
             |ORDER BY container_id, contained_id""".stripMargin)),

    // ---- UNPIVOT / melt (wide metrics to long form) -----------------------
    // The inverse of q22's pivot and the standard hand-off shape for
    // metric stores and plotting layers: per-flag aggregates computed
    // WIDE (one scan, three measures), then melted to (flag, metric,
    // value) rows via `Dataset.unpivot` — Catalyst's Expand under the
    // hood, the same bounded ×3 row fan-out q80's stack() uses, never
    // a re-aggregation per metric. Integer cents keep every measure in
    // one BIGINT value column (unpivot requires a common type — the
    // practical reason metric tables standardize on integer units).
    // The oracle replays the melt as the portable 3-way UNION ALL.
    ("q127_unpivot",
      (s: SparkSession, d: String) => {
        val wide = Tables.load(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(sum(round(col("l_quantity")).cast("long")).as("qty"),
            sum(round(col("l_extendedprice") * 100).cast("long")).as("price_c"),
            count(lit(1)).as("n_items"))
        wide.unpivot(
            Array(col("l_returnflag")),
            Array(col("qty"), col("price_c"), col("n_items")),
            "metric", "value")
          .orderBy(col("l_returnflag"), col("metric"))
      },
      Some("""WITH a AS (
             |  SELECT l_returnflag,
             |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
             |    CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
             |      AS price_c,
             |    CAST(COUNT(*) AS BIGINT) AS n_items
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, metric, value FROM (
             |  SELECT l_returnflag, 'qty' AS metric, qty AS value FROM a
             |  UNION ALL
             |  SELECT l_returnflag, 'price_c', price_c FROM a
             |  UNION ALL
             |  SELECT l_returnflag, 'n_items', n_items FROM a)
             |ORDER BY l_returnflag, metric""".stripMargin)),

    // ---- priority split by line status (TPC-H Q12 family) -----------------
    // Q12's shape on the fixture schema (no l_shipmode column, so
    // l_linestatus plays the grouping role): one fact-fact equi-join,
    // both sides pre-projected to join key + needed column, the date
    // slice pushed to the lineitem scan, and the two-way priority
    // split as conditional aggregation — ONE pass, not two filtered
    // aggregates. At scale the join shuffles two narrow columns per
    // side; the partial aggregation collapses each map task to a
    // handful of (status, hi, lo) rows before the exchange.
    ("q128_priority_by_linestatus",
      (s: SparkSession, d: String) => {
        val hi = Seq("1-URGENT", "2-HIGH")
        val l = Tables.load(s, d, "lineitem")
          .filter(col("l_shipdate") >= "1995-01-01" &&
            col("l_shipdate") < "1996-01-01")
          .select(col("l_orderkey"), col("l_linestatus"))
        val o = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(
            sum(when(col("o_orderpriority").isin(hi: _*), 1L).otherwise(0L))
              .as("high_line_count"),
            sum(when(col("o_orderpriority").isin(hi: _*), 0L).otherwise(1L))
              .as("low_line_count"))
          .orderBy(col("l_linestatus"))
      },
      Some("""SELECT l_linestatus,
             |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate >= DATE '1995-01-01'
             |  AND l_shipdate < DATE '1996-01-01'
             |GROUP BY 1 ORDER BY l_linestatus""".stripMargin)),

    // ---- large-volume customers (TPC-H Q18 family) -------------------------
    // The classic HAVING-over-fact shape: aggregate lineitem per order
    // FIRST (map-side partials make this cheap), keep only orders past
    // the volume threshold — a tiny surviving set — then enrich via
    // joins that Spark can broadcast BECAUSE the reduction came first.
    // The anti-pattern Q18 punishes is joining fact-to-fact before
    // aggregating; this plan never holds more than (orderkey, qty)
    // per group. Integer quantities keep both engines exact.
    ("q129_large_volume_customers",
      (s: SparkSession, d: String) => {
        val big = Tables.load(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(round(col("l_quantity")).cast("long")).as("total_qty"))
          .filter(col("total_qty") > 150)
        val o = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
        val c = Tables.load(s, d, "customer")
          .select(col("c_custkey"), col("c_name"))
        big.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_date"), col("total_qty"))
          .orderBy(col("total_qty").desc, col("o_orderkey"))
      },
      Some("""WITH big AS (
             |  SELECT l_orderkey,
             |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
             |      AS total_qty
             |  FROM lineitem GROUP BY 1
             |  HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 150)
             |SELECT c_name, c_custkey, o_orderkey,
             |  strftime(o_orderdate, '%Y-%m-%d') AS o_date, total_qty
             |FROM big
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY total_qty DESC, o_orderkey""".stripMargin)),

    // ---- bracketed discount revenue (TPC-H Q19 family) ---------------------
    // Q19's disjunctive join: three (brand, size-range, qty-range)
    // brackets OR-ed together across the part/lineitem boundary. The
    // scale move is splitting the predicate by side: the part-only
    // disjunction (brand+size) prunes part to a bounded slice — made
    // explicit with broadcast() — while the per-bracket quantity
    // correlation stays in the join condition. A naive translation
    // that keeps the whole OR above the join forces a full fact
    // retention; this one scans lineitem once against a broadcast of
    // a few hundred parts. Cents arithmetic end-to-end.
    ("q130_bracket_revenue",
      (s: SparkSession, d: String) => {
        val brackets = Seq(
          ("Brand#12", 1, 5, 1L, 11L),
          ("Brand#23", 1, 10, 10L, 20L),
          ("Brand#34", 1, 15, 20L, 30L))
        val partSide = brackets.map { case (b, s0, s1, _, _) =>
          col("p_brand") === b && col("p_size").between(s0, s1) }
          .reduce(_ || _)
        val p = broadcast(Tables.load(s, d, "part")
          .filter(partSide).select(col("p_partkey"), col("p_brand"), col("p_size")))
        val li = Tables.load(s, d, "lineitem")
          .select(col("l_partkey"),
            round(col("l_quantity")).cast("long").as("qty"),
            round(col("l_extendedprice") * 100).cast("long").as("price_c"),
            round(col("l_discount") * 100).cast("long").as("disc"))
        val joinCond = brackets.map { case (b, s0, s1, q0, q1) =>
          col("p_brand") === b && col("p_size").between(s0, s1) &&
            col("qty").between(q0, q1) }.reduce(_ || _)
        li.join(p, col("l_partkey") === col("p_partkey") && joinCond)
          .agg(sum(col("price_c") * (lit(100L) - col("disc")))
            .as("revenue_cp"))
      },
      Some("""SELECT CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
             |    * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
             |    AS revenue_cp
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             |       AND round(l_quantity) BETWEEN 1 AND 11)
             |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
             |       AND round(l_quantity) BETWEEN 10 AND 20)
             |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
             |       AND round(l_quantity) BETWEEN 20 AND 30)""".stripMargin)),

    // ---- native as-of join (whole-operator plan) ---------------------------
    // q23's point-in-time lookup executed by the custom sort-merge
    // operator (AsOfJoinPlan -> AsOfJoinStrategy -> AsOfJoinExec,
    // injected by GraftExtensions) instead of the union-window
    // composition. Same DuckDB ASOF LEFT JOIN oracle as q23: one
    // oracle certifying both routes is the point — the exec's scaladoc
    // carries the cost argument (each side shuffled once at its own
    // width, O(1) merge state, output exactly |left| rows).
    ("q131_asof_native",
      (s: SparkSession, d: String) => {
        val events = Tables.load(s, d, "events")
          .select(col("event_id"), col("user_id"),
            Tables.eventTime(col("ts")).as("event_time"))
        val orders = Tables.load(s, d, "orders")
          // o_orderdate is TIMESTAMP_NTZ on disk; the native exec
          // requires matching side types (its accessors/orderings come
          // from the LEFT types), so align to the event TIMESTAMP —
          // value-preserving under the UTC session zone
          .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max(col("o_orderkey")).as("o_orderkey"))
        graft.ops.AsOfJoin.asOfNative(events, orders,
            leftKey = "user_id", leftTime = "event_time",
            rightKey = "o_custkey", rightTime = "o_orderdate",
            valueCols = Seq("o_orderkey"))
          .select(col("event_id"), col("user_id"),
            col("o_orderkey").as("last_orderkey"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
             |o AS (
             |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
             |  FROM orders GROUP BY o_custkey, o_orderdate)
             |SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey
             |FROM e ASOF LEFT JOIN o
             |  ON e.user_id = o.o_custkey AND e.t >= o.o_orderdate
             |ORDER BY e.event_id""".stripMargin)),

    // ---- min-cost supplier per part (TPC-H Q2 family) ----------------------
    // The fixture has no partsupp table, so the supply relation is
    // DERIVED from observed lineitems: per (part, supplier), cost =
    // the cheapest extended price ever quoted (integer cents — both
    // engines aggregate the same BIGINTs). Q2's correlated
    // `cost = (SELECT MIN(cost) ... WHERE pk = outer.pk)` becomes a
    // min-over-key window on the candidate set — ONE shuffle on
    // partkey, no per-row subquery re-evaluation, ties kept on both
    // sides. The supplier->nation->region dimension chain is
    // broadcast (bounded at any corpus scale); the p_size slice of
    // part is broadcast after its pushed filter.
    ("q132_min_cost_supplier",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val ps = Tables.load(s, d, "lineitem")
          .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .agg(min(round(col("l_extendedprice") * 100).cast("long"))
            .as("cost_c"))
        val eu = Tables.load(s, d, "supplier")
          .join(broadcast(Tables.load(s, d, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.load(s, d, "region")
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
        val parts = Tables.load(s, d, "part")
          .filter(col("p_size") === 15)
          .select(col("p_partkey"), col("p_name"))
        val cand = ps.join(broadcast(eu), col("sk") === col("s_suppkey"))
          .join(broadcast(parts), col("pk") === col("p_partkey"))
        cand.withColumn("mc",
            min(col("cost_c")).over(Window.partitionBy(col("pk"))))
          .filter(col("cost_c") === col("mc"))
          .select(col("p_partkey"), col("p_name"), col("s_name"),
            col("n_name"), col("cost_c"))
          .orderBy(col("p_partkey"), col("s_name"))
      },
      Some("""WITH ps AS (
             |  SELECT l_partkey AS pk, l_suppkey AS sk,
             |    CAST(MIN(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
             |      AS cost_c
             |  FROM lineitem GROUP BY 1, 2),
             |eu AS (
             |  SELECT s_suppkey, s_name, n_name
             |  FROM supplier
             |  JOIN nation ON s_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
             |cand AS (
             |  SELECT pk, p_name, s_name, n_name, cost_c
             |  FROM ps
             |  JOIN eu ON sk = s_suppkey
             |  JOIN part ON pk = p_partkey AND p_size = 15)
             |SELECT pk AS p_partkey, p_name, s_name, n_name, cost_c
             |FROM cand c
             |WHERE cost_c = (SELECT MIN(cost_c) FROM cand m WHERE m.pk = c.pk)
             |ORDER BY p_partkey, s_name""".stripMargin)),

    // ---- important supply stock by nation (TPC-H Q11 family) ---------------
    // Per (nation, part) supply value from the derived supply relation
    // (cost x observed quantity, integer cents), keeping only parts
    // whose value exceeds 0.1% of their nation's total — Q11's scalar
    // subquery per group, expressed as a nation-partitioned window sum
    // so the threshold never becomes a second aggregation pass or a
    // driver-side scalar. Fractions compare as exact integer cross
    // products (value * 10000 > total * 10), never doubles.
    ("q133_supply_value_by_nation",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val ps = Tables.load(s, d, "lineitem")
          .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("cost_c"),
            sum(round(col("l_quantity")).cast("long")).as("avail"))
        val sn = Tables.load(s, d, "supplier")
          .join(broadcast(Tables.load(s, d, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))
        val value = ps.join(broadcast(sn), col("sk") === col("s_suppkey"))
          .groupBy(col("n_name"), col("pk"))
          .agg(sum(col("cost_c") * col("avail")).as("value_c"))
        value.withColumn("total_c",
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

    // ---- overstocked suppliers (TPC-H Q20 family) ---------------------------
    // Suppliers holding more than 4x the whole market's 1995 shipments
    // of some 'small%' part — Q20's nested EXISTS chain. (The fixture's
    // derived stock is all-time flow, so the multiplier is what makes
    // the predicate selective: 57 of 100 suppliers qualify at sf0.01.)
    // Scale shape: both fact aggregates reduce lineitem FIRST (the
    // derived stock per (part, supplier); the 1995 shipped total per
    // part), the part-name slice is broadcast into both, and the
    // final supplier qualification is a LEFT SEMI join — no row
    // explosion anywhere, and the doubled-comparison stays integer
    // (avail * 2 > shipped).
    ("q134_overstocked_suppliers",
      (s: SparkSession, d: String) => {
        val parts = Tables.load(s, d, "part")
          .filter(col("p_name").startsWith("small"))
          .select(col("p_partkey"))
        val li = Tables.load(s, d, "lineitem")
        val stock = li.groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .agg(sum(round(col("l_quantity")).cast("long")).as("avail"))
          .join(broadcast(parts), col("pk") === col("p_partkey"))
        val shipped = li
          .filter(col("l_shipdate") >= "1995-01-01" &&
            col("l_shipdate") < "1996-01-01")
          .groupBy(col("l_partkey").as("spk"))
          .agg(sum(round(col("l_quantity")).cast("long")).as("shipped_qty"))
        val over = stock.join(shipped, col("pk") === col("spk"))
          .filter(col("avail") > col("shipped_qty") * 4L)
          .select(col("sk")).distinct()
        Tables.load(s, d, "supplier")
          .join(over, col("s_suppkey") === col("sk"), "left_semi")
          .select(col("s_suppkey"), col("s_name"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH stock AS (
             |  SELECT l_partkey AS pk, l_suppkey AS sk,
             |    SUM(CAST(round(l_quantity) AS BIGINT)) AS avail
             |  FROM lineitem
             |  WHERE l_partkey IN (SELECT p_partkey FROM part
             |                      WHERE p_name LIKE 'small%')
             |  GROUP BY 1, 2),
             |shipped AS (
             |  SELECT l_partkey AS spk,
             |    SUM(CAST(round(l_quantity) AS BIGINT)) AS shipped_qty
             |  FROM lineitem
             |  WHERE l_shipdate >= DATE '1995-01-01'
             |    AND l_shipdate < DATE '1996-01-01'
             |  GROUP BY 1)
             |SELECT s_suppkey, s_name FROM supplier
             |WHERE s_suppkey IN (
             |  SELECT sk FROM stock JOIN shipped ON pk = spk
             |  WHERE avail > shipped_qty * 4)
             |ORDER BY s_suppkey""".stripMargin)),

    // ---- activity streaks (gaps-and-islands) --------------------------------
    // Longest run of CONSECUTIVE active days per user — the canonical
    // gaps-and-islands rewrite: day_index − row_number() is constant
    // exactly within a consecutive run, so islands fall out of one
    // per-user window plus a group-by, with no self-join against the
    // calendar and no recursion. Day indexes are integers from a fixed
    // epoch (engine-portable — no date-interval arithmetic in the
    // group key). Both windows are user-partitioned: thousands of
    // small frames, never a global sort (the t12 rule).
    ("q135_activity_streaks",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val days = Tables.load(s, d, "events")
          .select(col("user_id"),
            datediff(to_date(Tables.eventTime(col("ts"))), lit("1990-01-01"))
              .cast("long").as("day_ix"))
          .distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("day_ix"))
        val streaks = days
          .withColumn("grp", col("day_ix") - row_number().over(w))
          .groupBy(col("user_id"), col("grp"))
          .agg(count(lit(1)).as("len"))
        streaks.groupBy(col("user_id"))
          .agg(max(col("len")).as("longest_streak"),
            count(lit(1)).as("n_streaks"),
            sum(col("len")).as("n_active_days"))
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

    // ---- GROUPING SETS with explicit grouping flags ------------------------
    // The arbitrary-combination face of multi-aggregation (q20 rollup
    // and q21's cube are its special cases): (flag, status), (flag),
    // (status), () in ONE pass — Catalyst's Expand fans each row into
    // the 4 sets and a single hash aggregate consumes them, so the
    // fact scans once however many sets the report wants. grouping()
    // flags disambiguate "NULL because super-aggregate" from a null
    // key — exported as plain ints so both engines hash identically.
    ("q136_grouping_sets",
      (s: SparkSession, d: String) => {
        val li = Tables.load(s, d, "lineitem")
        li.groupingSets(
            Seq(Seq(col("l_returnflag"), col("l_linestatus")),
              Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
            col("l_returnflag"), col("l_linestatus"))
          .agg(grouping(col("l_returnflag")).as("g_flag"),
            grouping(col("l_linestatus")).as("g_status"),
            count(lit(1)).as("n_items"),
            sum(round(col("l_quantity")).cast("long")).as("qty"))
          .orderBy(col("g_flag"), col("g_status"),
            col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
             |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
             |  CAST(COUNT(*) AS BIGINT) AS n_items,
             |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
             |  (l_returnflag), (l_linestatus), ())
             |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin)),

    // ---- large-large range join via binning --------------------------------
    // Price reconciliation with NO equi key: lineitem prices within
    // ±$1 of ANY order total — the join class Spark plans as
    // BroadcastNestedLoopJoin (one side small) or a cartesian (neither
    // is, the 100 TB case). q24's band join broadcasts because its
    // interval side is 3 rows; here BOTH sides are fact-sized, so
    // RangeJoin.pointInInterval quantizes the price axis into $10
    // bins, explodes each ±$1 interval to the 1–2 bins it covers, and
    // hash-joins on the bin id — candidates are co-bucketed pairs,
    // never all pairs. The window width is the scale contract: OUTPUT
    // grows with match selectivity, not |L|·|R| (365k pairs at sf0.1;
    // the first cut of this query used ±$500 and went quadratic —
    // 178M pairs, 46 s — exactly the blowup the narrow probe avoids).
    // ScaleSpec asserts no nested-loop operator anywhere in the plan.
    // The DuckDB oracle runs the raw inequality join (its IEJoin
    // handles it natively) — same pairs, different plan, certifying
    // the binning rewrite end to end.
    ("q138_price_range_join",
      (s: SparkSession, d: String) => {
        val points = Tables.load(s, d, "lineitem")
          .select(round(col("l_extendedprice") * 100).cast("long").as("p"))
        val intervals = Tables.load(s, d, "orders")
          .select(col("o_orderpriority"),
            (round(col("o_totalprice") * 100).cast("long") - 100L).as("lo"),
            (round(col("o_totalprice") * 100).cast("long") + 100L).as("hi"))
        graft.ops.RangeJoin.pointInInterval(points, "p",
            intervals, "lo", "hi", binWidth = 1000L)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("p")).as("sum_price_c"))
          .orderBy(col("o_orderpriority"))
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

    // ---- interval-overlap join via binning ----------------------------------
    // Fulfillment-window contention: urgent 1995 orders whose 8-day
    // windows overlap low-priority windows — interval×interval with no
    // equi key, the plan class that degenerates to a nested loop at
    // fact×fact scale. RangeJoin.intervalOverlap bins the day axis
    // (week-wide bins), explodes each window to its 2 covered bins,
    // and emits each overlapping pair exactly once via the
    // first-shared-bin arithmetic pick — no post-join distinct, no
    // cartesian (RangeJoinSpec proves once-semantics on adversarial
    // bounds; the DuckDB oracle runs the raw inequality join).
    ("q139_window_contention",
      (s: SparkSession, d: String) => {
        def windows(prio: String, pfx: String) =
          Tables.load(s, d, "orders")
            .filter(col("o_orderpriority") === prio &&
              col("o_orderdate") >= "1995-01-01" &&
              col("o_orderdate") < "1996-01-01")
            .select(col("o_orderkey").as(s"${pfx}_key"),
              date_format(col("o_orderdate"), "yyyy-MM").as(s"${pfx}_month"),
              datediff(to_date(col("o_orderdate")), lit("1990-01-01"))
                .cast("long").as(s"${pfx}_lo"))
            .withColumn(s"${pfx}_hi", col(s"${pfx}_lo") + 7L)
        graft.ops.RangeJoin.intervalOverlap(
            windows("1-URGENT", "u"), "u_lo", "u_hi",
            windows("5-LOW", "l"), "l_lo", "l_hi", binWidth = 7L)
          .groupBy(col("u_month"))
          .agg(count(lit(1)).as("n_contended_pairs"),
            countDistinct(col("u_key")).as("n_urgent_orders"))
          .orderBy(col("u_month"))
      },
      Some("""WITH w AS (
             |  SELECT o_orderkey, o_orderpriority,
             |    strftime(o_orderdate, '%Y-%m') AS month,
             |    date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
             |      AS lo
             |  FROM orders
             |  WHERE o_orderdate >= DATE '1995-01-01'
             |    AND o_orderdate < DATE '1996-01-01'),
             |u AS (SELECT o_orderkey AS u_key, month AS u_month,
             |        lo AS u_lo, lo + 7 AS u_hi
             |      FROM w WHERE o_orderpriority = '1-URGENT'),
             |l AS (SELECT lo AS l_lo, lo + 7 AS l_hi
             |      FROM w WHERE o_orderpriority = '5-LOW')
             |SELECT u_month,
             |  CAST(COUNT(*) AS BIGINT) AS n_contended_pairs,
             |  CAST(COUNT(DISTINCT u_key) AS BIGINT) AS n_urgent_orders
             |FROM u JOIN l ON u_lo <= l_hi AND l_lo <= u_hi
             |GROUP BY 1 ORDER BY u_month""".stripMargin)),

    // ---- forward as-of join (next-event lookup, native exec) --------------
    // q131's mirror: for each event, the user's NEXT order at-or-after
    // the event — the "time-to-next-conversion" primitive. Forward
    // direction through the same custom sort-merge exec (zero candidate
    // state: the right cursor's current row IS the answer), certified
    // by DuckDB's forward ASOF (`ON e.t <= o.o_orderdate`).
    ("q140_asof_forward",
      (s: SparkSession, d: String) => {
        val events = Tables.load(s, d, "events")
          .select(col("event_id"), col("user_id"),
            Tables.eventTime(col("ts")).as("event_time"))
        val orders = Tables.load(s, d, "orders")
          // NTZ→TIMESTAMP: same side-type alignment as q131
          .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(min(col("o_orderkey")).as("o_orderkey"))
        graft.ops.AsOfJoin.asOfNative(events, orders,
            leftKey = "user_id", leftTime = "event_time",
            rightKey = "o_custkey", rightTime = "o_orderdate",
            valueCols = Seq("o_orderkey"), forward = true)
          .select(col("event_id"), col("user_id"),
            col("o_orderkey").as("next_orderkey"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
             |o AS (
             |  SELECT o_custkey, o_orderdate, min(o_orderkey) AS o_orderkey
             |  FROM orders GROUP BY o_custkey, o_orderdate)
             |SELECT e.event_id, e.user_id, o.o_orderkey AS next_orderkey
             |FROM e ASOF LEFT JOIN o
             |  ON e.user_id = o.o_custkey AND e.t <= o.o_orderdate
             |ORDER BY e.event_id""".stripMargin)),

    // ---- interval coverage: sweep-line union length ------------------------
    // "How many DISTINCT days was each supplier actively shipping?" —
    // overlapping per-supplier activity intervals (ship day + a
    // quantity-proportional tail) merged into islands by the classic
    // sweep-line rewrite: within each key, ordered by (lo, hi), a row
    // opens a NEW island exactly when its lo clears the running max of
    // every earlier hi; islands then aggregate to union length without
    // expanding intervals into per-day rows (the naive explode would
    // multiply the fact table by mean interval width). Day indexes are
    // integers from a fixed epoch (engine-portable). Scale shape: one
    // shuffle on suppkey; both windows and both group-bys reuse that
    // partitioning — never a global sort, never a calendar join.
    ("q141_interval_coverage",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val day = datediff(to_date(col("l_shipdate")), lit("1990-01-01"))
          .cast("long")
        val iv = Tables.load(s, d, "lineitem")
          .select(col("l_suppkey").as("sk"), day.as("lo"),
            (day + round(col("l_quantity")).cast("long")).as("hi"))
          .distinct() // total (lo, hi) order per key => deterministic flags
        val w = Window.partitionBy(col("sk")).orderBy(col("lo"), col("hi"))
        val prevMax = max(col("hi")).over(
          w.rowsBetween(Window.unboundedPreceding, -1))
        val grp = iv
          .withColumn("flag",
            when(prevMax.isNull || col("lo") > prevMax, 1L).otherwise(0L))
          .withColumn("grp", sum(col("flag")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        grp.groupBy(col("sk"), col("grp"))
          .agg((max(col("hi")) - min(col("lo")) + 1L).as("covered"))
          .groupBy(col("sk").as("s_suppkey"))
          .agg(sum(col("covered")).as("covered_days"),
            count(lit(1)).as("n_islands"),
            max(col("covered")).as("max_span"))
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

    // ---- functional-dependency audit ---------------------------------------
    // Schema-profiling beyond q80's per-column stats: does A determine
    // B in the data (the FD a constraint or a normalization decision
    // would rely on)? For each candidate FD the audit reports how many
    // LHS values exist, how many map to >1 distinct RHS (violations),
    // and the worst fan-out. Each FD is one two-level aggregate —
    // distinct-per-group then a constant-size rollup, map-side partials
    // all the way; the unioned report is K tiny frames, never a join.
    ("q142_fd_violations",
      (s: SparkSession, d: String) => {
        def fd(df: DataFrame, name: String, lhs: String, rhs: String): DataFrame =
          df.groupBy(col(lhs)).agg(count_distinct(col(rhs)).as("k"))
            .agg(count(lit(1)).as("n_lhs"),
              sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_violating"),
              max(col("k")).as("max_fanout"))
            .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
              col("max_fanout"))
        val part = Tables.load(s, d, "part")
        fd(part, "part: p_brand -> p_type", "p_brand", "p_type")
          .unionAll(fd(part, "part: p_type -> p_brand", "p_type", "p_brand"))
          .unionAll(fd(Tables.load(s, d, "customer"),
            "customer: c_nationkey -> c_mktsegment", "c_nationkey", "c_mktsegment"))
          .unionAll(fd(Tables.load(s, d, "orders"),
            "orders: o_custkey -> o_orderpriority", "o_custkey", "o_orderpriority"))
          .unionAll(fd(Tables.load(s, d, "lineitem"),
            "lineitem: l_orderkey -> l_suppkey", "l_orderkey", "l_suppkey"))
          .orderBy(col("fd"))
      },
      Some("""SELECT fd, n_lhs, n_violating, max_fanout FROM (
             |  SELECT 'part: p_brand -> p_type' AS fd,
             |    CAST(COUNT(*) AS BIGINT) AS n_lhs,
             |    CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
             |    CAST(MAX(k) AS BIGINT) AS max_fanout
             |  FROM (SELECT p_brand, COUNT(DISTINCT p_type) AS k
             |        FROM part GROUP BY 1)
             |  UNION ALL
             |  SELECT 'part: p_type -> p_brand',
             |    CAST(COUNT(*) AS BIGINT),
             |    CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(MAX(k) AS BIGINT)
             |  FROM (SELECT p_type, COUNT(DISTINCT p_brand) AS k
             |        FROM part GROUP BY 1)
             |  UNION ALL
             |  SELECT 'customer: c_nationkey -> c_mktsegment',
             |    CAST(COUNT(*) AS BIGINT),
             |    CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(MAX(k) AS BIGINT)
             |  FROM (SELECT c_nationkey, COUNT(DISTINCT c_mktsegment) AS k
             |        FROM customer GROUP BY 1)
             |  UNION ALL
             |  SELECT 'orders: o_custkey -> o_orderpriority',
             |    CAST(COUNT(*) AS BIGINT),
             |    CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(MAX(k) AS BIGINT)
             |  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS k
             |        FROM orders GROUP BY 1)
             |  UNION ALL
             |  SELECT 'lineitem: l_orderkey -> l_suppkey',
             |    CAST(COUNT(*) AS BIGINT),
             |    CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(MAX(k) AS BIGINT)
             |  FROM (SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS k
             |        FROM lineitem GROUP BY 1))
             |ORDER BY fd""".stripMargin)),

    // ---- block-jackknife leave-one-out table -------------------------------
    // Distributed uncertainty estimation WITHOUT resampling the corpus:
    // hash rows into K deterministic blocks (one aggregate pass), and
    // each leave-one-block-out mean falls out of the block sums by
    // subtraction — the delete-d jackknife's entire input, computed
    // from K partials instead of K re-scans (the same trick makes it
    // free as a streaming side-output). All arithmetic is exact
    // integers: cents sums, and the LOO mean exported in tenth-cents
    // via integer floor-division (positive operands — engine-portable,
    // no float division order to disagree on).
    ("q143_jackknife_loo",
      (s: SparkSession, d: String) => {
        val cents = round(col("o_totalprice") * 100).cast("long")
        val blocks = Tables.load(s, d, "orders")
          .groupBy((col("o_orderkey") % 10).as("block"))
          .agg(count(lit(1)).as("n_b"), sum(cents).as("sum_cents_b"))
        val tot = blocks.agg(sum(col("n_b")).as("n_all"),
          sum(col("sum_cents_b")).as("s_all"))
        blocks.crossJoin(tot)
          .select(col("block"), col("n_b"), col("sum_cents_b"),
            call_function("div",
              (col("s_all") - col("sum_cents_b")) * 10000L,
              col("n_all") - col("n_b")).as("loo_mean_tc"))
          .orderBy(col("block"))
      },
      Some("""WITH b AS (
             |  SELECT o_orderkey % 10 AS block,
             |    CAST(COUNT(*) AS BIGINT) AS n_b,
             |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |      AS sum_cents_b
             |  FROM orders GROUP BY 1),
             |t AS (SELECT SUM(n_b) AS n_all, SUM(sum_cents_b) AS s_all FROM b)
             |SELECT block, n_b, sum_cents_b,
             |  CAST((s_all - sum_cents_b) * 10000 // (n_all - n_b) AS BIGINT)
             |    AS loo_mean_tc
             |FROM b CROSS JOIN t ORDER BY block""".stripMargin)),

    // ---- exact ROC AUC (rank-sum) ------------------------------------------
    // Model-eval primitive over a scored corpus: the exact Mann-Whitney
    // AUC of "does value predict a purchase", computed from per-SCORE
    // tie groups (average ranks), not per-row ranks — the window runs
    // over DISTINCT cent values, a DOMAIN-BOUNDED set (price grid, ≤
    // ~56k values at any corpus size) rather than the row count, which
    // is what makes the unpartitioned cumulative sum safe at 100 TB
    // (same bounded-domain argument as q85's cents histogram). All
    // integer: 2·ranksum keeps tie midpoints exact, AUC exported in
    // basis points by integer floor-division.
    ("q144_auc",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val g = Tables.load(s, d, "events")
          .select(round(col("value") * 100).cast("long").as("cents"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
          .groupBy(col("cents"))
          .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
        val w = Window.orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val t = g
          .withColumn("cum_lt", coalesce(sum(col("c")).over(w), lit(0L)))
          .agg(sum(col("p")).as("n_pos"),
            sum(col("c") - col("p")).as("n_neg"),
            sum(col("p") * (col("cum_lt") * 2L + col("c") + 1L)).as("sum2r"))
        t.select(col("n_pos"), col("n_neg"),
            (col("sum2r") - col("n_pos") * (col("n_pos") + 1L)).as("auc_num2"),
            (col("n_pos") * col("n_neg") * 2L).as("auc_den2"),
            call_function("div",
              (col("sum2r") - col("n_pos") * (col("n_pos") + 1L)) * 10000L,
              col("n_pos") * col("n_neg") * 2L).as("auc_bp"))
      },
      Some("""WITH g AS (
             |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             |    CAST(COUNT(*) AS BIGINT) AS c,
             |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |         AS BIGINT) AS p
             |  FROM events GROUP BY 1),
             |cum AS (
             |  SELECT p, c,
             |    COALESCE(SUM(c) OVER (ORDER BY cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS cum_lt
             |  FROM g),
             |t AS (
             |  SELECT SUM(p) AS n_pos, SUM(c - p) AS n_neg,
             |    SUM(p * (2 * cum_lt + c + 1)) AS sum2r
             |  FROM cum)
             |SELECT CAST(n_pos AS BIGINT) AS n_pos,
             |  CAST(n_neg AS BIGINT) AS n_neg,
             |  CAST(sum2r - n_pos * (n_pos + 1) AS BIGINT) AS auc_num2,
             |  CAST(n_pos * n_neg * 2 AS BIGINT) AS auc_den2,
             |  CAST((sum2r - n_pos * (n_pos + 1)) * 10000
             |       // (n_pos * n_neg * 2) AS BIGINT) AS auc_bp
             |FROM t""".stripMargin)),

    // ---- exact distinct rollup from stored bitmaps --------------------------
    // The pre-aggregated-bitmap pattern (Druid / ClickHouse groupBitmap):
    // build ONE exact user bitmap per (day, event_type) — the grain a
    // pipeline would persist — then answer the weekly exact distinct by
    // OR-merging the daily bitmaps, never re-touching the fact rows.
    // `sum_daily` (what naive re-summing of daily distincts would
    // claim) ships alongside the true merged count — their gap is the
    // cross-day repeat audience, the number the bitmap exists to get
    // right. Custom TypedImperativeAggregates ([[graft.functions.IdBitmap]]):
    // map-side partials shuffle canonical ≤ maxBits/8-byte arrays, and
    // merge is word-wise OR — order-independent, so the stored bitmap
    // bytes are stable under any partitioning.
    ("q145_bitmap_rollup",
      (s: SparkSession, d: String) => {
        import graft.functions.IdBitmap
        val day = datediff(to_date(Tables.eventTime(col("ts"))),
          lit("1990-01-01")).cast("long")
        val daily = Tables.load(s, d, "events")
          .select(day.as("day_ix"), col("event_type"), col("user_id"))
          .groupBy(col("day_ix"), col("event_type"))
          .agg(IdBitmap.idBitmap(col("user_id"), 1L << 20).as("bm"))
        daily
          .groupBy(call_function("div", col("day_ix"), lit(7L)).as("week_ix"),
            col("event_type"))
          .agg(IdBitmap.bitmapCount(IdBitmap.bitmapOr(col("bm"))).as("n_users"),
            sum(IdBitmap.bitmapCount(col("bm"))).as("sum_daily"))
          .orderBy(col("week_ix"), col("event_type"))
      },
      Some("""WITH d AS (
             |  SELECT CAST(date_diff('day', DATE '1990-01-01', CAST(ts AS DATE))
             |       AS BIGINT) AS day_ix, event_type, user_id
             |  FROM events),
             |daily AS (
             |  SELECT day_ix // 7 AS week_ix, day_ix, event_type,
             |    COUNT(DISTINCT user_id) AS nd
             |  FROM d GROUP BY 1, 2, 3),
             |weekly AS (
             |  SELECT week_ix, event_type, CAST(SUM(nd) AS BIGINT) AS sum_daily
             |  FROM daily GROUP BY 1, 2),
             |exact AS (
             |  SELECT day_ix // 7 AS week_ix, event_type,
             |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
             |  FROM d GROUP BY 1, 2)
             |SELECT e.week_ix, e.event_type, e.n_users, w.sum_daily
             |FROM exact e JOIN weekly w
             |  ON e.week_ix = w.week_ix AND e.event_type = w.event_type
             |ORDER BY e.week_ix, e.event_type""".stripMargin)),

    // ---- day-over-day retention from stored bitmaps -------------------------
    // The second classic bitmap-measure payoff (after q145's rollup):
    // EXACT next-day retention from per-day user bitmaps alone —
    // |active(d) ∩ active(d+1)| is one `bitmap_and_count` between two
    // stored byte arrays, where the raw-fact formulation is a distinct
    // self-join of the event table against its own next-day slice (a
    // shuffle quadratic in daily actives). Day count is bounded (one
    // bitmap row per day), so the consecutive-day pairing is a
    // broadcast-size self-join however large the fact table behind the
    // bitmaps is. Retention exported in integer basis points.
    ("q146_bitmap_retention",
      (s: SparkSession, d: String) => {
        import graft.functions.IdBitmap
        val day = datediff(to_date(Tables.eventTime(col("ts"))),
          lit("1990-01-01")).cast("long")
        val daily = Tables.load(s, d, "events")
          .select(day.as("day_ix"), col("user_id"))
          .groupBy(col("day_ix"))
          .agg(IdBitmap.idBitmap(col("user_id"), 1L << 20).as("bm"))
        val next = daily.select((col("day_ix") - 1L).as("day_ix"),
          col("bm").as("bm_next"))
        daily.join(next, "day_ix")
          .select(col("day_ix"),
            IdBitmap.bitmapCount(col("bm")).as("n_day"),
            IdBitmap.bitmapCount(col("bm_next")).as("n_next"),
            IdBitmap.bitmapAndCount(col("bm"), col("bm_next")).as("n_retained"))
          .select(col("day_ix"), col("n_day"), col("n_next"), col("n_retained"),
            call_function("div", col("n_retained") * 10000L, col("n_day"))
              .as("retention_bp"))
          .orderBy(col("day_ix"))
      },
      Some("""WITH d AS (
             |  SELECT DISTINCT CAST(date_diff('day', DATE '1990-01-01',
             |      CAST(ts AS DATE)) AS BIGINT) AS day_ix, user_id
             |  FROM events),
             |n AS (SELECT day_ix, CAST(COUNT(*) AS BIGINT) AS n_users
             |      FROM d GROUP BY 1),
             |r AS (SELECT a.day_ix, CAST(COUNT(*) AS BIGINT) AS n_retained
             |      FROM d a JOIN d b ON b.user_id = a.user_id
             |        AND b.day_ix = a.day_ix + 1
             |      GROUP BY 1)
             |SELECT n.day_ix, n.n_users AS n_day, n2.n_users AS n_next,
             |  COALESCE(r.n_retained, 0) AS n_retained,
             |  COALESCE(r.n_retained, 0) * 10000 // n.n_users AS retention_bp
             |FROM n JOIN n n2 ON n2.day_ix = n.day_ix + 1
             |LEFT JOIN r ON r.day_ix = n.day_ix
             |ORDER BY n.day_ix""".stripMargin)),

    // ---- CEP pattern matching, relational face -------------------------------
    // Every instance of `view → click (within 6 h) → purchase (within
    // 12 h of the click)` per user — the MATCH_RECOGNIZE / Flink-CEP
    // pattern as its relational twin: two equi-joins on user_id with
    // range residuals (shuffle-hash on the key, never a nested loop —
    // the time predicates are residual filters on co-partitioned
    // streams of one user's events). This is also st45's oracle: the
    // streaming state machine ([[graft.streaming.EventStream.cepStream]])
    // emits the SAME triple set in one ordered pass with horizon-bounded
    // state — the plan a 100 TB feed wants, since the join formulation
    // re-shuffles the full event table three times while the CEP pass
    // shuffles it once.
    ("q147_cep_triples",
      (s: SparkSession, d: String) => {
        val w1 = 6L * 3600 * 1000000L
        val w2 = 12L * 3600 * 1000000L
        val e = Tables.load(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("tv"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("event_id").as("click_id"),
            col("ts").as("tc"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
            col("ts").as("tp"))
        v.join(c, col("user_id") === col("cu") &&
            col("tc") > col("tv") && col("tc") <= col("tv") + w1)
          .join(p, col("user_id") === col("pu") &&
            col("tp") > col("tc") && col("tp") <= col("tc") + w2)
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

    // ---- pure-SQL surface through the injected registry ----------------------
    // The user path every other query skips: plain `spark.sql` text over
    // a temp view, resolving graft's CUSTOM aggregates through the
    // injected function registry (GraftExtensions — the
    // spark.sql.extensions deploy path) exactly as a SQL-first user
    // would call them: the q145 bitmap family builds per-day exact
    // bitmaps in a CTE and OR-merges them per event type. Certifies
    // that the extension functions are genuinely analyzer-resolvable
    // SQL citizens (two-phase aggregation included), not Column-API
    // conveniences.
    ("q148_sql_registry",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "events").createOrReplaceTempView("events_sql")
        s.sql("""
          WITH daily AS (
            SELECT CAST(datediff(to_date(timestamp_micros(ts)),
                     DATE '1990-01-01') AS BIGINT) AS day_ix,
                   event_type,
                   id_bitmap(user_id, 1048576) AS bm
            FROM events_sql GROUP BY 1, 2)
          SELECT event_type,
                 id_bitmap_count(id_bitmap_or(bm)) AS n_users,
                 COUNT(*) AS n_days
          FROM daily GROUP BY 1 ORDER BY 1""")
      },
      Some("""WITH d AS (
             |  SELECT CAST(date_diff('day', DATE '1990-01-01', CAST(ts AS DATE))
             |       AS BIGINT) AS day_ix, event_type, user_id
             |  FROM events)
             |SELECT event_type,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             |  CAST(COUNT(DISTINCT day_ix) AS BIGINT) AS n_days
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- exact OLS regression via normal equations ---------------------------
    // Distributed least squares the way a 100 TB engine should do it:
    // ONE aggregate pass collects the exact integer sufficient
    // statistics (n, Σx, Σy, Σxy, Σx²) per group — map-side partials,
    // constant state — and the slope falls out of the normal equations
    // on the reduced frame. All arithmetic exact: x = rounded quantity,
    // y = price cents, and the sums THEMSELVES accumulate in
    // DECIMAL(38,0) — not just the post-aggregation n·Σxy products —
    // because with ANSI off a LONG Σxy would wrap silently once a
    // group's cross-product mass passes 2⁶³ (DuckDB's SUM(BIGINT)
    // returns HUGEINT, so the engines would diverge exactly at corpus
    // scale, where the exactness claim matters). Slope exported in
    // integer micro-units via truncating integral division — Spark's
    // `div` and DuckDB's `//`/HUGEINT truncate identically, so no
    // float division order or rounding mode can drift.
    ("q149_ols_slope",
      (s: SparkSession, d: String) => {
        val D = DecimalType(38, 0)
        val x = round(col("l_quantity")).cast("long")
        val y = round(col("l_extendedprice") * 100).cast("long")
        val g = Tables.load(s, d, "lineitem")
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
        g.select(col("l_returnflag"), col("n"),
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

    // ---- BAG-semantics set operations ----------------------------------------
    // q10/q11/q36's set ops keep SET semantics; EXCEPT ALL / INTERSECT
    // ALL are different operators with different physical plans
    // (multiplicity-aware: Spark rewrites them to a count-tagged
    // aggregate + generate, never a distinct) and different answers —
    // a row occurring 5× on the left and 2× on the right survives
    // EXCEPT ALL 3 times and INTERSECT ALL twice. The fixture: returned
    // vs fulfilled order-priority bags from lineitem, where
    // multiplicities are the whole point (priorities repeat heavily).
    ("q150_bag_set_ops",
      (s: SparkSession, d: String) => {
        val li = Tables.load(s, d, "lineitem")
          .join(Tables.load(s, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
        val returned = li.filter(col("l_returnflag") === "R")
          .select(col("o_orderpriority").as("pri"))
        val fulfilled = li.filter(col("l_returnflag") === "N")
          .select(col("o_orderpriority").as("pri"))
        val exceptBag = returned.exceptAll(fulfilled)
          .groupBy(col("pri")).agg(count(lit(1)).as("n"))
          .select(lit("except_all").as("op"), col("pri"), col("n"))
        val intersectBag = returned.intersectAll(fulfilled)
          .groupBy(col("pri")).agg(count(lit(1)).as("n"))
          .select(lit("intersect_all").as("op"), col("pri"), col("n"))
        exceptBag.unionAll(intersectBag).orderBy(col("op"), col("pri"))
      },
      Some("""WITH li AS (
             |  SELECT l_returnflag, o_orderpriority AS pri
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |r AS (SELECT pri FROM li WHERE l_returnflag = 'R'),
             |f AS (SELECT pri FROM li WHERE l_returnflag = 'N'),
             |ex AS (SELECT pri FROM r EXCEPT ALL SELECT pri FROM f),
             |ia AS (SELECT pri FROM r INTERSECT ALL SELECT pri FROM f)
             |SELECT op, pri, n FROM (
             |  SELECT 'except_all' AS op, pri, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM ex GROUP BY 2
             |  UNION ALL
             |  SELECT 'intersect_all', pri, CAST(COUNT(*) AS BIGINT)
             |  FROM ia GROUP BY 2)
             |ORDER BY op, pri""".stripMargin)),

    // ---- time-weighted average (TWAP) ----------------------------------------
    // The temporal mean plain AVG gets wrong: each observed value is
    // weighted by HOW LONG it held (step-function integral / elapsed
    // span) — the finance TWAP / metrics-rollup primitive. One lead()
    // window per user gives segment durations; the integral is exact:
    // cents × micros products summed in DECIMAL(38,0) (a user-month of
    // micros overflows a long), divided once by the span with the
    // truncating integral `div` both engines share. Single-event users
    // have an empty span and are excluded rather than divided by zero.
    ("q151_twap",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val D = DecimalType(38, 0)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val seg = Tables.load(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            round(col("value") * 100).cast("long").as("c"))
          .withColumn("nxt", lead(col("ts"), 1).over(w))
        val a = seg.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            // widen BEFORE the multiply: the oracle's HUGEINT product
            // never wraps, so a LONG c × multi-year-micros gap that
            // silently wrapped (ANSI off) would diverge exactly where
            // the exact-integral claim matters
            sum(when(col("nxt").isNull, lit(0L).cast(D))
              .otherwise(col("c").cast(D) * (col("nxt") - col("ts")).cast(D)))
              .as("num"),
            (max(col("ts")) - min(col("ts"))).as("den"))
        a.filter(col("den") > 0)
          .select(col("user_id"), col("n_events"),
            call_function("div", col("num"), col("den").cast(D))
              .cast("long").as("twap_cents"))
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    CAST(round(value * 100) AS BIGINT) AS c
             |  FROM events),
             |w AS (SELECT user_id, c, us,
             |        lead(us) OVER (PARTITION BY user_id
             |                       ORDER BY us, event_id) AS nxt
             |      FROM e),
             |a AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             |        SUM(CASE WHEN nxt IS NULL THEN CAST(0 AS HUGEINT)
             |            ELSE CAST(c AS HUGEINT) * (nxt - us) END) AS num,
             |        MAX(us) - MIN(us) AS den
             |      FROM w GROUP BY 1)
             |SELECT user_id, n_events, CAST(num // den AS BIGINT) AS twap_cents
             |FROM a WHERE den > 0 ORDER BY user_id""".stripMargin)),

    // ---- audience overlap matrix from stored bitmaps --------------------------
    // The third bitmap-measure payoff: the full K×K audience-overlap
    // matrix (users doing BOTH event types) from K stored bitmaps and
    // one broadcast self-join of K rows — where the raw formulation is
    // a distinct self-join of the fact table PER CELL. Jaccard exported
    // in integer basis points off the exact counts (|A∩B| and
    // |A|+|B|−|A∩B|). K = |event types| is constant, so the join is
    // broadcast-trivial at any fact scale; the heavy lifting happened
    // once, in the bitmap build's map-side partials.
    ("q152_audience_overlap",
      (s: SparkSession, d: String) => {
        import graft.functions.IdBitmap
        val bm = Tables.load(s, d, "events")
          .groupBy(col("event_type"))
          .agg(IdBitmap.idBitmap(col("user_id"), 1L << 20).as("bm"))
        val a = bm.select(col("event_type").as("type_a"), col("bm").as("bma"))
        val b = bm.select(col("event_type").as("type_b"), col("bm").as("bmb"))
        a.join(broadcast(b), col("type_a") < col("type_b"))
          .select(col("type_a"), col("type_b"),
            IdBitmap.bitmapCount(col("bma")).as("n_a"),
            IdBitmap.bitmapCount(col("bmb")).as("n_b"),
            IdBitmap.bitmapAndCount(col("bma"), col("bmb")).as("n_both"))
          .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
            col("n_both"),
            call_function("div", col("n_both") * 10000L,
              col("n_a") + col("n_b") - col("n_both")).as("jaccard_bp"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some("""WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
             |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
             |      FROM u GROUP BY 1),
             |b AS (SELECT a.event_type AS type_a, c.event_type AS type_b,
             |        CAST(COUNT(*) AS BIGINT) AS n_both
             |      FROM u a JOIN u c ON a.user_id = c.user_id
             |        AND a.event_type < c.event_type
             |      GROUP BY 1, 2),
             |p AS (SELECT na.event_type AS type_a, nb.event_type AS type_b,
             |        na.n_users AS n_a, nb.n_users AS n_b
             |      FROM n na JOIN n nb ON na.event_type < nb.event_type)
             |SELECT p.type_a, p.type_b, p.n_a, p.n_b,
             |  COALESCE(b.n_both, 0) AS n_both,
             |  CAST(COALESCE(b.n_both, 0) * 10000
             |       // (p.n_a + p.n_b - COALESCE(b.n_both, 0)) AS BIGINT)
             |    AS jaccard_bp
             |FROM p LEFT JOIN b
             |  ON b.type_a = p.type_a AND b.type_b = p.type_b
             |ORDER BY p.type_a, p.type_b""".stripMargin)),

    // ---- typed Dataset API face -----------------------------------------------
    // The `Dataset[T]` surface every other batch query skips: a typed
    // pipeline through `as[...]` → `groupByKey` → `reduceGroups` —
    // compile-time-checked row shapes, with the associative reduce
    // still combining MAP-SIDE (Catalyst plans reduceGroups as a
    // ReduceAggregator, partial + final, not a groups shuffle of raw
    // rows — the plan is asserted in ScaleSpec). Integer cents/units
    // keep the typed path's answer bit-equal to the SQL twin.
    ("q153_typed_reduce",
      (s: SparkSession, d: String) => {
        import s.implicits._
        Tables.load(s, d, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_quantity")).cast("long"),
            round(col("l_extendedprice") * 100).cast("long"))
          .as[(String, Long, Long)]
          .groupByKey(_._1)
          .reduceGroups((a, b) => (a._1, a._2 + b._2, a._3 + b._3))
          .map { case (flag, (_, q, p)) => (flag, q, p) }
          .toDF("l_returnflag", "sum_qty", "sum_price_c")
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             |    AS sum_price_c
             |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // ---- score-band gains table (q144's AUC, operationalized) -----------------
    // The eval table a threshold decision actually reads: ten equal-
    // width SCORE bands (value-range bands, not population ntiles — no
    // global rank of the corpus), per band the event and purchase
    // counts, then the cumulative capture sweeping from the top band
    // down: "taking everything scored in the top k bands captures X bp
    // of all purchases". The cumulative window runs over exactly 10
    // rows; everything else is one aggregate pass. All integers, bands
    // and capture in truncating-div arithmetic both engines share.
    ("q154_score_band_gains",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.load(s, d, "events")
          .select(round(col("value") * 100).cast("long").as("cents"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
        val mm = ev.agg(min(col("cents")).as("mn"),
          (max(col("cents")) - min(col("cents")) + 1L).as("span"),
          sum(col("pos")).as("total_pos"))
        val banded = ev.crossJoin(mm)
          .select(least(lit(9L), call_function("div",
            (col("cents") - col("mn")) * 10L, col("span"))).as("band"),
            col("pos"), col("total_pos"))
          .groupBy(col("band"), col("total_pos"))
          .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
        val wDesc = Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        banded
          .withColumn("cum_n", sum(col("n")).over(wDesc))
          .withColumn("cum_pos", sum(col("n_pos")).over(wDesc))
          .select(col("band"), col("n"), col("n_pos"), col("cum_n"),
            col("cum_pos"),
            call_function("div", col("cum_pos") * 10000L, col("total_pos"))
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

    // ---- share-of-parent in one grouping-sets pass -----------------------------
    // Hierarchical percent-of-parent (each nation's revenue share
    // within its region, each region's within the world) WITHOUT
    // re-aggregating per level: ONE ROLLUP pass emits all three levels,
    // then each row joins its parent level's row — two broadcast-size
    // joins over the rollup output (|regions|+|nations|+1 rows),
    // however large the fact table. Shares in integer basis points of
    // exact cents sums; grouping() flags tell levels apart without
    // null-key ambiguity.
    ("q155_share_of_parent",
      (s: SparkSession, d: String) => {
        val cents = round(col("l_extendedprice") * 100).cast("long")
        val joined = Tables.load(s, d, "lineitem")
          .join(Tables.load(s, d, "supplier"),
            col("l_suppkey") === col("s_suppkey"))
          .join(Tables.load(s, d, "nation"),
            col("s_nationkey") === col("n_nationkey"))
          .join(Tables.load(s, d, "region"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"), col("n_name"), cents.as("c"))
        val levels = joined.rollup(col("r_name"), col("n_name"))
          .agg(sum(col("c")).as("rev_c"),
            grouping(col("r_name")).as("g_r"), grouping(col("n_name")).as("g_n"))
        val world = levels.filter(col("g_r") === 1)
          .select(col("rev_c").as("world_c"))
        val regions = levels.filter(col("g_r") === 0 && col("g_n") === 1)
          .select(col("r_name").as("pr"), col("rev_c").as("region_c"))
        levels.filter(col("g_n") === 0)
          .join(broadcast(regions), col("r_name") === col("pr"))
          .crossJoin(broadcast(world))
          .select(col("r_name"), col("n_name"), col("rev_c"),
            call_function("div", col("rev_c") * 10000L, col("region_c"))
              .as("share_of_region_bp"),
            call_function("div", col("region_c") * 10000L, col("world_c"))
              .as("region_share_of_world_bp"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""WITH f AS (
             |  SELECT r_name, n_name,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
             |  FROM lineitem
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey),
             |nat AS (SELECT r_name, n_name, CAST(SUM(c) AS BIGINT) AS rev_c
             |        FROM f GROUP BY 1, 2),
             |reg AS (SELECT r_name, CAST(SUM(c) AS BIGINT) AS region_c
             |        FROM f GROUP BY 1),
             |w AS (SELECT CAST(SUM(c) AS BIGINT) AS world_c FROM f)
             |SELECT nat.r_name, nat.n_name, nat.rev_c,
             |  CAST(nat.rev_c * 10000 // reg.region_c AS BIGINT)
             |    AS share_of_region_bp,
             |  CAST(reg.region_c * 10000 // w.world_c AS BIGINT)
             |    AS region_share_of_world_bp
             |FROM nat JOIN reg ON reg.r_name = nat.r_name CROSS JOIN w
             |ORDER BY nat.r_name, nat.n_name""".stripMargin)),

    // ---- 4-stage CEP pattern, relational face --------------------------------
    // q147 generalized: every instance of `signup → view (within 7 d) →
    // click (within 6 h) → purchase (within 12 h)` per user — the
    // acquisition-to-conversion chain — as its relational twin: three
    // equi-joins on user_id with range residuals (shuffle-hash on the
    // key, never a nested loop). This is also st49's oracle: the
    // streaming machine ([[graft.streaming.EventStream.cepPatternStream]],
    // the PATTERN-AS-DATA operator the r12 verdict asked for — q147's
    // hard-coded 3-stage chain is now just one instance) emits the SAME
    // quad set in one ordered pass with horizon-bounded state, where
    // the join formulation re-shuffles the full event table four times.
    ("q156_cep_quad",
      (s: SparkSession, d: String) => {
        val w0 = 168L * 3600 * 1000000L
        val w1 = 6L * 3600 * 1000000L
        val w2 = 12L * 3600 * 1000000L
        val e = Tables.load(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        val sg = e.filter(col("event_type") === "signup")
          .select(col("user_id"), col("event_id").as("signup_id"),
            col("ts").as("tsg"))
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id").as("vu"), col("event_id").as("view_id"),
            col("ts").as("tv"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("event_id").as("click_id"),
            col("ts").as("tc"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
            col("ts").as("tp"))
        sg.join(v, col("user_id") === col("vu") &&
            col("tv") > col("tsg") && col("tv") <= col("tsg") + w0)
          .join(c, col("user_id") === col("cu") &&
            col("tc") > col("tv") && col("tc") <= col("tv") + w1)
          .join(p, col("user_id") === col("pu") &&
            col("tp") > col("tc") && col("tp") <= col("tc") + w2)
          .select(col("user_id"), col("signup_id"), col("view_id"),
            col("click_id"), col("purchase_id"))
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

    // ---- bitmap tier over an ARBITRARY key domain (dictionary densify) -------
    // The r12 seam closed: `id_bitmap` enforces dense `0 <= id < maxBits`,
    // but a real pipeline's user keys are strings/UUIDs.
    // [[graft.ops.Densify]] rank-encodes the key universe once
    // (distributed range-sort + zipWithIndex — never a global window),
    // and the bitmap family then serves EXACT weekly distinct ordering
    // customers over c_name, a string key: per-week bitmaps shuffle
    // <= |customers|/8 bytes per group, and the all-time rollup
    // re-aggregates the STORED bitmaps (`id_bitmap_or`) instead of
    // re-scanning orders — the same two-grain payoff as q145, now on a
    // key domain the raw tier rejects. dense_id = ascending-key rank,
    // so DuckDB's plain COUNT(DISTINCT c_name) is the oracle.
    ("q157_densified_distinct",
      (s: SparkSession, d: String) => {
        import graft.functions.IdBitmap
        val day = datediff(to_date(col("o_orderdate")), lit("1990-01-01"))
          .cast("long")
        val o = Tables.load(s, d, "orders")
          .join(Tables.load(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(call_function("div", day, lit(7L)).as("week_ix"),
            col("c_name"))
        val weekly = graft.ops.Densify.densify(o, "c_name")
          .groupBy(col("week_ix"))
          .agg(IdBitmap.idBitmap(col("dense_id"), 1L << 20).as("bm"))
        val perWeek = weekly.select(col("week_ix"),
          IdBitmap.bitmapCount(col("bm")).as("n_custs"))
        val allTime = weekly.agg(IdBitmap.bitmapOr(col("bm")).as("bm"))
          .select(lit(-1L).as("week_ix"),
            IdBitmap.bitmapCount(col("bm")).as("n_custs"))
        perWeek.unionAll(allTime).orderBy(col("week_ix"))
      },
      Some("""WITH o AS (
             |  SELECT CAST(date_diff('day', DATE '1990-01-01',
             |      CAST(o_orderdate AS DATE)) // 7 AS BIGINT) AS week_ix,
             |    c_name
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |w AS (SELECT week_ix, CAST(COUNT(DISTINCT c_name) AS BIGINT)
             |        AS n_custs
             |      FROM o GROUP BY 1),
             |a AS (SELECT CAST(-1 AS BIGINT) AS week_ix,
             |        CAST(COUNT(DISTINCT c_name) AS BIGINT) AS n_custs
             |      FROM o)
             |SELECT week_ix, n_custs FROM w
             |UNION ALL SELECT week_ix, n_custs FROM a
             |ORDER BY week_ix""".stripMargin)),

    // ---- vocabulary drift as MAP-native algebra -------------------------------
    // The map higher-order-function face no other query exercises:
    // per-source term-frequency MAPS for two corpus halves
    // (map_from_entries over grouped counts — key sets are unique per
    // group, so map content is order-independent), diffed in one
    // map_zip_with pass (outer-join semantics over keys: a term absent
    // from one half coalesces to 0) and exploded back to rows. The
    // relational twin — two-sided conditional counts — is the DuckDB
    // oracle, certifying the map algebra IS the join. At scale the map
    // column is the point: per-shard vocab maps materialize once
    // (bounded by vocab, not corpus) and any drift question is
    // map-zip, never a re-scan.
    ("q159_vocab_drift_maps",
      (s: SparkSession, d: String) => {
        val cnt = Tables.load(s, d, "documents")
          .select(col("source"), (col("doc_id") % 2 === 0).as("old_half"),
            explode(graft.ops.TextAnalysis.tokens(lower(col("text"))))
              .as("term"))
          .groupBy(col("source"), col("old_half"), col("term"))
          .agg(count(lit(1)).as("n"))
        val maps = cnt.groupBy(col("source"))
          .agg(
            map_from_entries(collect_list(
              when(col("old_half"), struct(col("term"), col("n")))))
              .as("m_old"),
            map_from_entries(collect_list(
              when(!col("old_half"), struct(col("term"), col("n")))))
              .as("m_new"))
        maps.select(col("source"),
            explode(map_zip_with(col("m_old"), col("m_new"),
              (_, a, b) => struct(coalesce(a, lit(0L)).as("n_old"),
                coalesce(b, lit(0L)).as("n_new")))))
          .select(col("source"), col("key").as("term"),
            col("value.n_old").as("n_old"), col("value.n_new").as("n_new"),
            (col("value.n_new") - col("value.n_old")).as("delta"))
          .orderBy(col("source"), col("term"))
      },
      Some("""WITH toks AS (
             |  SELECT source, doc_id % 2 = 0 AS old_half, u.term AS term
             |  FROM documents,
             |       unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(term))
             |SELECT source, term,
             |  CAST(SUM(CASE WHEN old_half THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
             |  CAST(SUM(CASE WHEN old_half THEN 0 ELSE 1 END) AS BIGINT) AS n_new,
             |  CAST(SUM(CASE WHEN old_half THEN -1 ELSE 1 END) AS BIGINT) AS delta
             |FROM toks GROUP BY 1, 2
             |ORDER BY source, term""".stripMargin)),

    // ---- distribution position: percent_rank / cume_dist ----------------------
    // The two rank-normalizing window functions the suite's other
    // windows skip. Both are exact IEEE divisions of small integers —
    // (rank−1)/(n−1) and rows_le/n — computed identically by both
    // engines, so the doubles hash bit-equal with NO rounding step.
    // The (c_acctbal, c_custkey) order key is total, so ranks are
    // tie-free and deterministic; the probe filter (every 100th
    // customer) lands AFTER the window, so positions are against the
    // full segment population.
    ("q160_rank_position",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        Tables.load(s, d, "customer")
          .select(col("c_mktsegment"), col("c_custkey"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"))
          .filter(col("c_custkey") % 100 === 0)
          .orderBy(col("c_mktsegment"), col("c_custkey"))
      },
      Some("""SELECT c_mktsegment, c_custkey, pct_rank, cume FROM (
             |  SELECT c_mktsegment, c_custkey,
             |    percent_rank() OVER (PARTITION BY c_mktsegment
             |                         ORDER BY c_acctbal, c_custkey) AS pct_rank,
             |    cume_dist() OVER (PARTITION BY c_mktsegment
             |                      ORDER BY c_acctbal, c_custkey) AS cume
             |  FROM customer)
             |WHERE c_custkey % 100 = 0
             |ORDER BY c_mktsegment, c_custkey""".stripMargin)),

    // ---- k-anonymity audit ------------------------------------------------------
    // The privacy gate a dataset release runs: under the quasi-identifier
    // tuple (nation, market segment, account-balance band), how many
    // equivalence classes fall below k — each a re-identification risk —
    // and how many ROWS sit in them, for the k values policy quotes
    // (2/5/10)? Sweeney's k-anonymity measure as two aggregates: one
    // group-by for class sizes (map-side partials over the fact table;
    // the class count is bounded by the QI domain, not the row count),
    // then a constant-size sweep of the 3 thresholds over the class-size
    // frame. Balance bands floor(bal/1000) — floor, not truncation, so
    // negative balances band consistently cross-engine.
    ("q161_kanonymity",
      (s: SparkSession, d: String) => {
        val classes = Tables.load(s, d, "customer")
          .groupBy(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
          .agg(count(lit(1)).as("n"))
        classes
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

    // ---- declarative SQL functions + parameterized SQL -------------------------
    // The pure-SQL EXTENSIBILITY face (q148/q158 certify the injected
    // Scala registry; this certifies the DECLARATIVE one): a scalar SQL
    // UDF (`CREATE FUNCTION ... RETURN expr` — analyzer-inlined, so it
    // keeps whole-stage codegen, unlike a black-box Scala closure), a
    // SQL TABLE function serving the priority→urgency dimension as an
    // inline relation, and a named-PARAMETER query (`:cutoff` bound via
    // the spark.sql(args) API — the injection-safe path a SQL-first
    // deployment templates with). The dimension table function is
    // 5 rows — broadcast-trivial at any fact scale; the UDF inlines to
    // the same exact-cents arithmetic every other money query uses.
    ("q162_sql_function_face",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "orders").createOrReplaceTempView("orders_fn_sql")
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_cents(x DOUBLE)
                 RETURNS BIGINT RETURN CAST(round(x * 100) AS BIGINT)""")
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_pri_classes()
                 RETURNS TABLE(pri STRING, is_urgent BOOLEAN)
                 RETURN SELECT * FROM VALUES
                   ('1-URGENT', true), ('2-HIGH', true), ('3-MEDIUM', false),
                   ('4-NOT SPECIFIED', false), ('5-LOW', false)
                   AS t(pri, is_urgent)""")
        s.sql(
          """SELECT c.is_urgent,
            |  COUNT(*) AS n_orders,
            |  SUM(graft_cents(o.o_totalprice)) AS rev_c
            |FROM orders_fn_sql o
            |JOIN graft_pri_classes() c ON o.o_orderpriority = c.pri
            |WHERE o.o_orderdate >= :cutoff
            |GROUP BY 1 ORDER BY 1""".stripMargin,
          Map("cutoff" -> "1996-01-01"))
      },
      Some("""WITH c(pri, is_urgent) AS (VALUES
             |    ('1-URGENT', true), ('2-HIGH', true), ('3-MEDIUM', false),
             |    ('4-NOT SPECIFIED', false), ('5-LOW', false))
             |SELECT c.is_urgent, CAST(COUNT(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS rev_c
             |FROM orders o JOIN c ON o.o_orderpriority = c.pri
             |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- l-diversity audit ------------------------------------------------------
    // q161's k-anonymity answers "how many records share my
    // quasi-identifiers"; l-diversity answers the attack k-anonymity
    // misses — a class of 50 where everyone shares the SAME sensitive
    // value still discloses it (homogeneity attack, Machanavajjhala et
    // al. 2007). Per equivalence class under the QI tuple
    // (nation, balance band): the distinct count of the sensitive
    // attribute (market segment), swept over l ∈ {2, 3, 5} with the
    // q161 report shape. Same scale algebra too: one grouped
    // count-distinct bounded by |QI domain| × |sensitive domain|, then
    // a constant-size sweep — never a second corpus scan per l.
    ("q163_ldiversity",
      (s: SparkSession, d: String) => {
        val classes = Tables.load(s, d, "customer")
          .groupBy(col("c_nationkey"),
            floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
          .agg(countDistinct(col("c_mktsegment")).as("l_div"),
            count(lit(1)).as("n"))
        classes
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

    // ---- VARIANT semi-structured ingest -----------------------------------------
    // The Spark 4 VariantType tier q137's fixed-StructType ingest can't
    // express: `try_parse_json` shreds each JSON line into a VARIANT —
    // a binary encoding that preserves the FULL value tree (nested
    // objects, arrays, per-row optional keys) with no schema declared
    // at read — and `variant_get` extracts typed paths lazily
    // (`$.meta.src`, an array index `$.tags[1]`, and a key only SOME
    // rows carry, which a StructType would either reject or force
    // nullable-everything). Non-parseable lines yield a NULL variant
    // (try_), routed to the quarantine count in the same single pass.
    // The 100 TB shredding story: VARIANT moves schema resolution from
    // ingest (where a fixed schema re-lands the whole corpus on every
    // evolution) to query, while parquet stores the variant binary
    // columnar — extraction is a scan-local decode of just the probed
    // paths, no JSON re-parse per query and no full-row rehydration.
    // The line is CONCAT-built, q137's rule: both engines construct
    // byte-identical fixtures. Every 13th line is truncated (invalid),
    // every 3rd carries the optional meta.score key.
    ("q164_variant_ingest",
      (s: SparkSession, d: String) => {
        val base = concat(lit("{\"id\":"), col("doc_id"),
          lit(",\"meta\":{\"src\":\""), col("source"), lit("\""),
          when(col("doc_id") % 3 === 0,
            concat(lit(",\"score\":"), col("doc_id") % 97)).otherwise(lit("")),
          lit("},\"tags\":["), col("doc_id") % 5, lit(","),
          col("doc_id") % 7, lit("]}"))
        val lines = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"))
          .select(when(col("doc_id") % 13 === 0, substring(base, 1, 10))
            .otherwise(base).as("js"))
        lines.select(try_parse_json(col("js")).as("v"))
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

    // ---- persisted dictionary across ingest waves --------------------------------
    // The deployment shape [[graft.ops.Densify]]'s scaladoc contract
    // names, exercised end-to-end as a query: wave 1 builds the
    // dictionary and PERSISTS it to parquet (ids pinned on disk — the
    // surrogate-key discipline), its bitmap is built against v1; wave
    // 2 arrives, `Densify.append` assigns only the NOVEL keys ids past
    // v1's max and persists v2; wave 2's bitmap is built against v2.
    // The rollup ORs a v1-coded bitmap with a v2-coded one — which
    // only equals the true all-time distinct if append never reassigned
    // an existing id (re-densifying the world would scramble wave 1's
    // bit positions). The COUNT(DISTINCT) oracle certifies exactly
    // that invariant, per wave and merged. At scale this is the upgrade
    // path for stored bitmap rollups: each ingest wave appends to the
    // dictionary and ORs into history, no historical bitmap is ever
    // rebuilt.
    ("q165_densify_two_waves",
      (s: SparkSession, d: String) => {
        import graft.functions.IdBitmap
        val (w1, w2) = densifyWaves(s, d)
        val tmp = ensureDensifyDicts(s, d)
        val dict1 = s.read.parquet(s"$tmp/dict_v1")
        val bm1 = w1.join(dict1, "c_name")
          .agg(IdBitmap.idBitmap(col("dense_id"), 1L << 20).as("bm"))
        val dict2 = s.read.parquet(s"$tmp/dict_v2")
        val bm2 = w2.join(dict2, "c_name")
          .agg(IdBitmap.idBitmap(col("dense_id"), 1L << 20).as("bm"))
        bm1.select(lit("w1").as("wave"),
            IdBitmap.bitmapCount(col("bm")).as("n_custs"))
          .unionAll(bm2.select(lit("w2").as("wave"),
            IdBitmap.bitmapCount(col("bm")).as("n_custs")))
          .unionAll(bm1.unionAll(bm2)
            .agg(IdBitmap.bitmapOr(col("bm")).as("bm"))
            .select(lit("all").as("wave"),
              IdBitmap.bitmapCount(col("bm")).as("n_custs")))
          .orderBy(col("wave"))
      },
      Some("""WITH o AS (
             |  SELECT o_orderdate, c_name
             |  FROM orders JOIN customer ON o_custkey = c_custkey)
             |SELECT 'all' AS wave,
             |  CAST(COUNT(DISTINCT c_name) AS BIGINT) AS n_custs FROM o
             |UNION ALL
             |SELECT 'w1', CAST(COUNT(DISTINCT c_name) AS BIGINT) FROM o
             |WHERE o_orderdate < TIMESTAMP '1995-01-01'
             |UNION ALL
             |SELECT 'w2', CAST(COUNT(DISTINCT c_name) AS BIGINT) FROM o
             |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
             |ORDER BY wave""".stripMargin)),

    // ---- VARIANT type census -----------------------------------------------------
    // The schema-DISCOVERY face of the variant tier (q164 extracts
    // known paths; this asks what types a messy field actually
    // carries): `schema_of_variant` reports each row's value tree as a
    // DDL string, so a census over it is the profiling query a
    // landing-zone owner runs before committing an extraction schema.
    // The fixture alternates a numeric and a string `val` per row
    // parity (a heterogeneity a StructType ingest would destroy —
    // from_json forces one type and nulls the other half); every 13th
    // line truncates to invalid. The oracle replays the construction
    // rule: both engines agree on the label set because the fixture is
    // concat-built, and the numeric half's coerced sum proves
    // try_variant_get's cast discipline (string "s…" → null, never a
    // crash; numbers → values).
    ("q166_variant_type_census",
      (s: SparkSession, d: String) => {
        val base = concat(lit("{\"val\":"),
          when(col("doc_id") % 2 === 0, (col("doc_id") % 50).cast("string"))
            .otherwise(concat(lit("\"s"), col("doc_id") % 50, lit("\""))),
          lit("}"))
        Tables.load(s, d, "documents")
          .select(col("doc_id"))
          .select(when(col("doc_id") % 13 === 0, substring(base, 1, 6))
            .otherwise(base).as("js"))
          .select(try_parse_json(col("js")).as("v"))
          .select(
            when(col("v").isNull, lit("INVALID"))
              .otherwise(schema_of_variant(
                variant_get(col("v"), "$.val", "variant")))
              .as("val_type"),
            try_variant_get(col("v"), "$.val", "long").as("val_long"))
          .groupBy(col("val_type"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("val_long")).as("n_coerced"),
            sum(col("val_long")).as("val_sum"))
          .orderBy(col("val_type"))
      },
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    '{"val":' ||
             |    CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 50 AS VARCHAR)
             |      ELSE '"s' || CAST(doc_id % 50 AS VARCHAR) || '"' END ||
             |    '}' AS j
             |  FROM documents),
             |lines AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 13 = 0 THEN substring(j, 1, 6)
             |      ELSE j END AS js
             |  FROM raw),
             |p AS (
             |  SELECT
             |    CASE WHEN NOT json_valid(js) THEN 'INVALID'
             |      WHEN doc_id % 2 = 0 THEN 'BIGINT' ELSE 'STRING' END
             |      AS val_type,
             |    CASE WHEN json_valid(js) AND doc_id % 2 = 0
             |      THEN CAST(json_extract(js, '$.val') AS BIGINT) END
             |      AS val_long
             |  FROM lines)
             |SELECT val_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(COUNT(val_long) AS BIGINT) AS n_coerced,
             |  CAST(SUM(val_long) AS BIGINT) AS val_sum
             |FROM p GROUP BY 1 ORDER BY val_type""".stripMargin)),

    // ---- VARIANT array shred (variant_explode TVF) --------------------------------
    // The row-generating face of the variant tier (q164 extracts known
    // scalar paths; q166 censuses types): the `variant_explode` table
    // function shreds a variant ARRAY into (pos, key, value) rows via
    // LATERAL — the landing-zone move that turns nested collections
    // into relational rows WITHOUT declaring an array schema at read.
    // The per-position aggregate proves positions and element values
    // survive the shred exactly (each tag slot carries a distinct
    // modulus of doc_id, so a transposed or dropped element cannot
    // hash-match). Generators keep whole-stage codegen around them; at
    // scale the shred's output is bounded by Σ array lengths, and the
    // aggregate combines map-side like any other.
    ("q168_variant_explode",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .select(col("doc_id"),
            concat(lit("{\"tags\":["), col("doc_id") % 5, lit(","),
              col("doc_id") % 7, lit(","), col("doc_id") % 11, lit("]}"))
              .as("js"))
          .createOrReplaceTempView("vx_lines")
        s.sql("""SELECT CAST(t.pos AS BIGINT) AS pos,
                 |  CAST(COUNT(*) AS BIGINT) AS n,
                 |  CAST(SUM(CAST(t.value AS BIGINT)) AS BIGINT) AS val_sum
                 |FROM vx_lines,
                 |  LATERAL variant_explode(
                 |    variant_get(try_parse_json(js), '$.tags', 'variant')) AS t
                 |GROUP BY 1 ORDER BY pos""".stripMargin)
      },
      Some("""SELECT CAST(0 AS BIGINT) AS pos,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id % 5) AS BIGINT) AS val_sum FROM documents
             |UNION ALL
             |SELECT 1, CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(doc_id % 7) AS BIGINT) FROM documents
             |UNION ALL
             |SELECT 2, CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(doc_id % 11) AS BIGINT) FROM documents
             |ORDER BY pos""".stripMargin)),

    // ---- SQL pipe syntax ----------------------------------------------------------
    // Spark 4's |> pipe operators — the SQL dialect a data-flow-shaped
    // user writes top-down (FROM first, each stage a pipe) instead of
    // inside-out. The parser desugars each stage to the SAME logical
    // operators the classic form plans (WHERE → Filter, EXTEND →
    // Project-with-additions, AGGREGATE … GROUP BY → Aggregate), so
    // optimization and codegen are identical — certified here by
    // hash-matching the classic-syntax DuckDB twin on exact-cents
    // arithmetic. Zero engine surface of its own; the value is pinning
    // that the dialect parses and means the same thing.
    ("q169_sql_pipe_syntax",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "lineitem").createOrReplaceTempView("li_pipe")
        s.sql("""FROM li_pipe
                ||> WHERE l_quantity < 10
                ||> EXTEND CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
                ||> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
                |     CAST(SUM(cents) AS BIGINT) AS cents_sum
                |   GROUP BY l_returnflag
                ||> ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
             |    AS BIGINT) AS cents_sum
             |FROM lineitem WHERE l_quantity < 10
             |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // ---- collated grouping --------------------------------------------------------
    // Spark 4 collations as a TYPE property: `collate(x, 'UTF8_LCASE')`
    // makes case-insensitivity part of the column's comparison
    // semantics, so every downstream GROUP BY / join / DISTINCT honors
    // it with NO per-operator lower() wrapping — at scale that is one
    // normalization the optimizer knows about instead of N scattered
    // expression calls the user must remember (and the shuffle
    // partitioning is collation-aware, so equal-under-collation keys
    // co-locate). The fixture mixes upper/lower casings of the same
    // sources by row parity; the group count per collated key must
    // equal the lower()-twin — UTF8_LCASE's documented contract. The
    // emitted key is lower(min(raw)) so output is deterministic no
    // matter which casing represents the group.
    ("q170_collated_group",
      (s: SparkSession, d: String) => {
        val mixed = when(col("doc_id") % 2 === 0, upper(col("source")))
          .otherwise(lower(col("source")))
        Tables.load(s, d, "documents")
          .select(col("doc_id"), mixed.as("raw"))
          .groupBy(collate(col("raw"), "UTF8_LCASE").as("k"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
          .select(lower(col("k")).as("source_ci"), col("n"), col("id_sum"))
          .orderBy(col("source_ci"))
      },
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 2 = 0 THEN upper(source)
             |      ELSE lower(source) END AS raw
             |  FROM documents)
             |SELECT lower(raw) AS source_ci,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
             |FROM m GROUP BY 1 ORDER BY source_ci""".stripMargin)),

    // ---- persisted VARIANT landing zone -----------------------------------------
    // The STORAGE half of the shredding story q164 only promises: q164
    // parses and extracts in one plan, so every probe re-pays the JSON
    // parse. Here the landing table persists the VARIANT column itself
    // to parquet — parse ONCE at ingest (`ensureVariantLanding`, the
    // write-once deployment artifact), then every later query reads the
    // variant BINARY back and extracts typed paths with no re-parse:
    // the scan's ReadSchema shreds the probed paths into a typed struct
    // (`v:struct<…>`), so parquet reads just those subcolumns — the
    // part of VARIANT that actually pays at 100 TB, where the landing
    // zone is written once and probed thousands of times. NULL variants
    // (parse failures) persist too: quarantine stays queryable forever,
    // not just at ingest. Same aggregate and DuckDB-JSON oracle as
    // q164; ScaleSpec pins the read-back plan (one FileScan, zero
    // parse_json, shredded ReadSchema).
    ("q171_variant_persist",
      (s: SparkSession, d: String) => {
        val landing = ensureVariantLanding(s, d)
        s.read.parquet(landing)
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

    // ---- SQL scripting (procedural control flow) ----------------------------------
    // Spark 4's SQL scripting beside q169's pipe dialect: BEGIN…END
    // with DECLAREd variables and a FOR loop over a query — the
    // ordered FOLD (acc ← acc·31 + nᵧ over years ascending) that plain
    // SQL needs a window trick or recursion to express, written the
    // way a stored-procedure author writes it. The loop body runs on
    // the driver; each statement's heavy lifting (the grouped count
    // here) is still a distributed plan — scripting is orchestration
    // syntax, not a new execution engine, which is exactly why it
    // costs nothing at 100 TB. Base-31 positional fold over 7 year
    // counts stays < 2^53, so the DuckDB oracle can replay it in
    // CLOSED FORM (Σ nᵢ·31^(years below)) with exact doubles — the
    // hash match certifies the loop ran in order, once per year.
    // q65's materialization rule: the script executes under the
    // scripting conf, so the run happens inside the conf scope.
    ("q174_sql_scripting",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "orders").createOrReplaceTempView("orders_script")
        val out = graft.TempDirs.create("graft_script")
        graft.Confs.withConfs(s, Seq(
          "spark.sql.scripting.enabled" -> "true")) {
          s.sql("""BEGIN
                  |  DECLARE acc BIGINT DEFAULT 0;
                  |  DECLARE n_years INT DEFAULT 0;
                  |  FOR r AS SELECT CAST(year(o_orderdate) AS INT) AS y,
                  |      COUNT(*) AS n
                  |    FROM orders_script GROUP BY 1 ORDER BY 1 DO
                  |    SET acc = acc * 31 + r.n;
                  |    SET n_years = n_years + 1;
                  |  END FOR;
                  |  SELECT acc AS checksum, CAST(n_years AS BIGINT) AS n_years;
                  |END""".stripMargin)
            .write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out)
      },
      Some("""WITH y AS (
             |  SELECT CAST(year(o_orderdate) AS INT) AS y,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM orders GROUP BY 1),
             |o AS (
             |  SELECT n,
             |    ROW_NUMBER() OVER (ORDER BY y DESC) - 1 AS p
             |  FROM y)
             |SELECT CAST(SUM(n * CAST(pow(31, p) AS BIGINT)) AS BIGINT)
             |    AS checksum,
             |  CAST(COUNT(*) AS BIGINT) AS n_years
             |FROM o""".stripMargin)),

    // ---- EXECUTE IMMEDIATE (dynamic SQL + session variables) -----------------------
    // The metadata-driven-orchestration face beside q174's scripting:
    // statement TEXT composed at runtime, parameters bound through
    // USING (injection-safe — the value never concatenates into the
    // text), and a session VARIABLE carrying a scalar between
    // statements via INTO. The two-step shape is the canonical use: a
    // profiling statement computes a data-dependent threshold into a
    // variable, the driven statement filters by it — in an
    // orchestrated pipeline those are separate dynamically-generated
    // steps, not one query. Both statements plan as ordinary
    // distributed jobs; the dynamic layer is parse-time only. The avg
    // threshold is exact across engines (integer-valued quantities sum
    // exactly in doubles; one IEEE division each side).
    ("q178_execute_immediate",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "lineitem").createOrReplaceTempView("li_exec_imm")
        s.sql("DECLARE OR REPLACE VARIABLE graft_avg_qty DOUBLE")
        s.sql("""EXECUTE IMMEDIATE
                |  'SELECT avg(l_quantity) FROM li_exec_imm'
                |  INTO graft_avg_qty""".stripMargin)
        s.sql("""EXECUTE IMMEDIATE
                |  'SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_below,
                |     CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                |       AS BIGINT) AS cents_sum
                |   FROM li_exec_imm WHERE l_quantity < ?
                |   GROUP BY 1 ORDER BY 1'
                |  USING graft_avg_qty""".stripMargin)
      },
      Some("""WITH a AS (SELECT avg(l_quantity) AS m FROM lineitem)
             |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_below,
             |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
             |    AS BIGINT) AS cents_sum
             |FROM lineitem, a WHERE l_quantity < a.m
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- parameterized SQL (named + positional markers) --------------------------
    // The injection-safe templating face q178's EXECUTE IMMEDIATE…USING
    // only brushes: `spark.sql(text, args)` binds values to `:name` /
    // `?` PARAMETER MARKERS at parse time — the marker is a typed
    // literal node in the plan, never string splicing, so a hostile
    // value can't change the statement shape (the ScalaTest twin
    // proves a quote-laden string stays a literal). Every SQL-templated
    // pipeline runs on this API; at 100 TB it also keeps plan-cache
    // keys stable (one text, many bindings) where string-spliced SQL
    // would force a reparse per value. Both marker dialects run the
    // SAME statement with the SAME bindings and the union is
    // hash-certified against the constant-folded oracle — the named
    // and positional paths must agree with each other and with the
    // literal plan.
    ("q179_sql_params",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "lineitem").createOrReplaceTempView("li_params")
        def text(cut: String, maxq: String, st: String) =
          s"""SELECT l_returnflag AS flag,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
             |    AS BIGINT) AS cents
             |FROM li_params
             |WHERE year(l_shipdate) <= $cut AND l_quantity < $maxq
             |  AND l_linestatus = $st
             |GROUP BY 1""".stripMargin
        val named = s.sql(text(":cut", ":maxq", ":st"),
          Map("cut" -> 1997, "maxq" -> 25, "st" -> "F"))
        val positional = s.sql(text("?", "?", "?"),
          Array(1997, 25, "F"))
        named.withColumn("api", lit("named"))
          .unionByName(positional.withColumn("api", lit("positional")))
          .orderBy(col("api"), col("flag"))
      },
      Some("""WITH r AS (
             |  SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM lineitem
             |  WHERE year(l_shipdate) <= 1997 AND l_quantity < 25
             |    AND l_linestatus = 'F'
             |  GROUP BY 1)
             |SELECT flag, n, cents, 'named' AS api FROM r
             |UNION ALL
             |SELECT flag, n, cents, 'positional' AS api FROM r
             |ORDER BY api, flag""".stripMargin)),

    // ---- IDENTIFIER clause (injection-safe dynamic names) -------------------------
    // q179 binds VALUES through parameter markers; this binds NAMES —
    // the other half every metadata-driven pipeline needs (the rollup
    // config says WHICH table and WHICH column, not just which
    // constants). `IDENTIFIER(:t)` promotes a bound string to a SQL
    // identifier under identifier RULES: it must parse as a (qualified)
    // name, so a value like `orders WHERE 1=1` is an analysis error,
    // never a splice point (SqlParamsSpec pins that), while string-
    // concatenated SQL would happily execute it. One statement text,
    // any table × column: the plan under it is an ordinary distributed
    // aggregate, so the dynamic layer costs nothing at 100 TB.
    ("q181_identifier_clause",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "orders").createOrReplaceTempView("ord_ident")
        s.sql(
          """SELECT IDENTIFIER(:c) AS grp, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
            |    AS BIGINT) AS cents
            |FROM IDENTIFIER(:t)
            |GROUP BY IDENTIFIER(:c) ORDER BY grp""".stripMargin,
          Map("t" -> "ord_ident", "c" -> "o_orderpriority"))
      },
      Some("""SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
             |    AS BIGINT) AS cents
             |FROM orders GROUP BY 1 ORDER BY grp""".stripMargin)),

    // ---- transpose (metrics-long to report-wide) ----------------------------------
    // Spark 4's `Dataset.transpose(indexCol)` completes the reshape
    // family (pivot q26-family / unpivot q? melt / stack): the index
    // column's VALUES become column headers (sorted), the remaining
    // column NAMES become rows under `key` — the report orientation a
    // metrics dashboard wants, without hand-writing one CASE per
    // header. Same 100 TB rule as pivot: transpose ONLY a bounded
    // aggregate (here 5 priorities × 2 metrics) — the distributed work
    // is the upstream groupBy; the reshape is a driver-bounded pivot of
    // a tiny frame (transpose collects the index column to name the
    // output schema, so an unbounded index is the documented misuse).
    ("q182_transpose",
      (s: SparkSession, d: String) => {
        val agg = Tables.load(s, d, "orders")
          .groupBy(col("o_orderpriority").as("p"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        agg.transpose(col("p")).orderBy(col("key"))
      },
      Some("""WITH a AS (
             |  SELECT o_orderpriority AS p, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM orders GROUP BY 1)
             |SELECT 'cents' AS key,
             |  (SELECT cents FROM a WHERE p = '1-URGENT') AS "1-URGENT",
             |  (SELECT cents FROM a WHERE p = '2-HIGH') AS "2-HIGH",
             |  (SELECT cents FROM a WHERE p = '3-MEDIUM') AS "3-MEDIUM",
             |  (SELECT cents FROM a WHERE p = '4-NOT SPECIFIED')
             |    AS "4-NOT SPECIFIED",
             |  (SELECT cents FROM a WHERE p = '5-LOW') AS "5-LOW"
             |UNION ALL
             |SELECT 'n_orders' AS key,
             |  (SELECT n FROM a WHERE p = '1-URGENT'),
             |  (SELECT n FROM a WHERE p = '2-HIGH'),
             |  (SELECT n FROM a WHERE p = '3-MEDIUM'),
             |  (SELECT n FROM a WHERE p = '4-NOT SPECIFIED'),
             |  (SELECT n FROM a WHERE p = '5-LOW')
             |ORDER BY key""".stripMargin)),

    // ---- native approx_top_k (Spark 4.1 built-in frequency sketch) ---------------
    // The A/B face beside q47's custom SpaceSavingTopK: the same
    // heavy-hitters question answered by the engine's own mergeable
    // sketch. maxItemsTracked (64) ≥ the column's distinct count and
    // k = the full type set, so the sketch runs in its EXACT regime and
    // the DuckDB group-count oracle certifies it to the row — the same
    // capacity≥distinct contract q47/q50 pin for the custom aggs
    // (SketchAbSpec additionally pins that native and SpaceSavingTopK
    // agree item-for-item on this fixture). At 100 TB the sketch is the
    // point: partial_approx_top_k map-side buffers merge like any agg —
    // no shuffle of raw rows, state O(maxItemsTracked) per partition.
    ("q184_approx_topk",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "events")
          .agg(expr("approx_top_k(event_type, 5, 64)").as("tk"))
          .select(explode(col("tk")).as("e"))
          .select(col("e.item").as("event_type"), col("e.count").as("n"))
          .orderBy(col("n").desc, col("event_type"))
      },
      // LIMIT 5 mirrors the sketch's k: if the fixture ever grows past
      // 5 distinct event_type values, the oracle still returns exactly
      // the top-5 rather than reporting a spurious sketch mismatch.
      // The ORDER BY n DESC, event_type tiebreak is total on both
      // sides, so the truncation is deterministic — with one boundary
      // caveat: approx_top_k's pick among COUNT-TIED items at rank 5 is
      // unspecified and need not match the oracle's event_type
      // tiebreak. Today's 5-value fixture never truncates; a fixture
      // regeneration that pushes past 5 distinct types must guarantee
      // distinct counts at the rank-5 boundary (or this face must
      // collapse ties before comparing).
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
             |FROM events GROUP BY 1 ORDER BY n DESC, event_type
             |LIMIT 5""".stripMargin)),

    // ---- try_* error-safe functions (dirty-data silver idiom) --------------------
    // The modern Spark spelling of the reference's whole silver-layer
    // rationale (SURVEY §2.3: upstream data is dirty): `try_cast` /
    // `try_divide` / `try_to_number` return NULL on malformed input
    // instead of failing the job — per-ROW quarantine, composing with
    // q91/q137's per-record quarantine counters, where ANSI mode would
    // kill a 1000-executor job for one bad byte. Dirt is synthesized
    // deterministically from keys (mod-4 parse garbage, mod-3 zero
    // divisors, mod-5 corrupted digit groups) so the oracle reproduces
    // every NULL exactly; all sums land on integer-exact cents/tenths
    // (never raw IEEE doubles) so the hash is engine-stable.
    ("q185_try_functions",
      (s: SparkSession, d: String) => {
        val k = col("o_orderkey")
        val cents = round(col("o_totalprice") * 100).cast("long")
        val dirty = Tables.load(s, d, "orders").select(
          col("o_orderpriority").as("prio"), k.as("k"), cents.as("cents"),
          // 2 of 4 rows parse (a price, an integer), 2 are garbage
          when(k % 4 === 0, lit("N/A"))
            .when(k % 4 === 1, lit(""))
            .when(k % 4 === 2, col("o_totalprice").cast("string"))
            .otherwise(k.cast("string")).as("raw"),
          // always-6-digit value, comma-grouped to match '999,999';
          // every 5th corrupted in the digit block
          (lit(100000L) + pmod(cents, lit(900000L))).cast("string").as("s6"))
        dirty
          .select(col("prio"), col("k"), col("cents"),
            expr("try_cast(raw AS DOUBLE)").as("parsed"),
            expr("try_divide(cents, k % 3)").as("q"),
            expr("""try_to_number(
              CASE WHEN k % 5 = 0
                   THEN 'X' || substring(s6, 2, 2) || ',' || substring(s6, 4, 3)
                   ELSE substring(s6, 1, 3) || ',' || substring(s6, 4, 3) END,
              '999,999')""").as("ton"))
          .groupBy(col("prio"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("parsed").isNull.cast("long")).as("n_parse_null"),
            sum(round(col("parsed") * 100).cast("long")).as("parsed_cents_sum"),
            sum(col("q").isNull.cast("long")).as("n_div_null"),
            sum(round(col("q") * 10).cast("long")).as("div_tenths_sum"),
            sum(col("ton").isNull.cast("long")).as("n_ton_null"),
            sum(col("ton").cast("long")).as("ton_sum"))
          .orderBy(col("prio"))
      },
      Some("""WITH o AS (
             |  SELECT o_orderpriority AS prio, o_orderkey AS k,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |    o_totalprice AS tp
             |  FROM orders)
             |SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE WHEN k % 4 IN (0, 1) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_parse_null,
             |  CAST(SUM(CASE WHEN k % 4 = 2 THEN CAST(round(tp * 100) AS BIGINT)
             |                WHEN k % 4 = 3 THEN k * 100 END)
             |    AS BIGINT) AS parsed_cents_sum,
             |  CAST(SUM(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_div_null,
             |  CAST(SUM(CASE k % 3 WHEN 1 THEN cents * 10
             |                      WHEN 2 THEN cents * 5 END)
             |    AS BIGINT) AS div_tenths_sum,
             |  CAST(SUM(CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_ton_null,
             |  CAST(SUM(CASE WHEN k % 5 <> 0 THEN 100000 + (cents % 900000) END)
             |    AS BIGINT) AS ton_sum
             |FROM o GROUP BY 1 ORDER BY prio""".stripMargin)),

    // ---- listagg WITHIN GROUP (ANSI ordered string aggregate) ---------------------
    // The SQL:2016 spelling beside q39's functional string_agg face:
    // Spark 4's `listagg(expr, delim) WITHIN GROUP (ORDER BY ...)` pins
    // the output order IN the aggregate (here DESC, the opposite of
    // q39's sort, so the two faces can't accidentally certify the same
    // bytes). Ordered aggregation is a real shuffle contract — rows
    // must arrive grouped AND sorted per group — which is why the
    // result is deterministic where a bare collect_list isn't.
    ("q186_listagg",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "nation").createOrReplaceTempView("nat_la")
        Tables.load(s, d, "region").createOrReplaceTempView("reg_la")
        s.sql("""SELECT r_name AS region,
                |  listagg(n_name, ';') WITHIN GROUP (ORDER BY n_name DESC)
                |    AS nations_desc,
                |  CAST(COUNT(*) AS BIGINT) AS n_nations
                |FROM nat_la JOIN reg_la ON n_regionkey = r_regionkey
                |GROUP BY r_name ORDER BY region""".stripMargin)
      },
      Some("""SELECT r_name AS region,
             |  string_agg(n_name, ';' ORDER BY n_name DESC) AS nations_desc,
             |  CAST(COUNT(*) AS BIGINT) AS n_nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY region""".stripMargin)),

    // ---- SQL table function (declarative TVF, analyzer-inlined) ------------------
    // The table-valued half of the SQL-function family (q162 is the
    // scalar half): `CREATE FUNCTION ... RETURNS TABLE` packages a
    // parameterized subquery as a first-class relation — the reusable
    // "top-k per X" building block every metadata-driven report layer
    // wants, invoked per segment through a LATERAL correlation. Like
    // q162, the body INLINES at analysis (no black-box UDF node): the
    // plan under the call is an ordinary distributed filter+sort+limit,
    // so the abstraction costs nothing at 100 TB — unlike an imperative
    // UDTF, which would be an opaque row generator the optimizer can't
    // push into. Ties broken by c_custkey so the top-3 set is total.
    ("q187_sql_table_function",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "customer").createOrReplaceTempView("cust_tvf")
        // top-k via a rank predicate, not ORDER BY..LIMIT k: under a
        // LATERAL correlation the parameter reaches the body as an
        // outer reference, and LIMIT requires a foldable constant —
        // a predicate on row_number() carries the same semantics and
        // plans as the same partial top-k sort
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_top_cust(
                |    seg STRING, k INT)
                |RETURNS TABLE (ckey BIGINT, bal DOUBLE)
                |RETURN SELECT ckey, bal FROM (
                |    SELECT c_custkey AS ckey, c_acctbal AS bal,
                |      row_number() OVER (ORDER BY c_acctbal DESC, c_custkey)
                |        AS rn
                |    FROM cust_tvf WHERE c_mktsegment = seg)
                |  WHERE rn <= k""".stripMargin)
        s.sql("""SELECT v.seg, t.ckey, t.bal
                |FROM (SELECT DISTINCT c_mktsegment AS seg FROM cust_tvf) v,
                |  LATERAL graft_top_cust(v.seg, 3) t
                |ORDER BY v.seg, t.bal DESC, t.ckey""".stripMargin)
      },
      Some("""SELECT seg, ckey, bal FROM (
             |  SELECT c_mktsegment AS seg, c_custkey AS ckey,
             |    c_acctbal AS bal,
             |    row_number() OVER (PARTITION BY c_mktsegment
             |      ORDER BY c_acctbal DESC, c_custkey) AS rn
             |  FROM customer)
             |WHERE rn <= 3 ORDER BY seg, bal DESC, ckey""".stripMargin)),
  )
}
