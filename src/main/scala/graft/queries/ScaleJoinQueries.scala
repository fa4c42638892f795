package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Stager, Tables}
import graft.ops.ScaleJoins

/** The join-locality toolkit as oracle-checked queries: salting and
  * bucketing must be result-transparent (identical output to the plain
  * join — that is what the DuckDB oracles certify; the PLAN-level
  * properties, salt spreading and zero-Exchange bucketed joins, are
  * asserted in ScaleSpec). */
object ScaleJoinQueries {

  /** Per-JVM unique warehouse dir for the bucketed tables: a fixed path
    * would collide across JVMs (the in-memory catalog forgets the
    * managed table, its directory survives, and the next CREATE refuses
    * with LOCATION_ALREADY_EXISTS). Within a JVM, repeat runs reuse the
    * registered tables via overwrite mode. */
  private lazy val bucketDbLocation: String =
    graft.TempDirs.create("graft_buckets")

  /** The bucketed lineitem/orders tables for `d` — the
    * write-once/join-many idiom this file documents: at 100 TB the
    * bucketed fact tables are a materialized layout that MANY joins
    * reuse, so q45 times the co-located join, not the table build.
    * Returns the two table names. Memoized via tableExists (the sf dir
    * is encoded in the name so distinct SFs never alias); the write
    * itself stays covered by ScaleSpec. */
  val ensureBucketedTables = Stager.inCatalog("graft_buckets") { (s, d) =>
    s.sql("CREATE DATABASE IF NOT EXISTS graft_buckets " +
      s"LOCATION '$bucketDbLocation'")
    val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
    val liT = s"graft_buckets.lineitem_b_$sfx"
    val ordT = s"graft_buckets.orders_b_$sfx"
    if (!s.catalog.tableExists(liT)) {
      ScaleJoins.writeBucketed(
        Tables.load(s, d, "lineitem").select("l_orderkey", "l_quantity"),
        liT, "l_orderkey", 8)
    }
    if (!s.catalog.tableExists(ordT)) {
      ScaleJoins.writeBucketed(
        Tables.load(s, d, "orders").select("o_orderkey", "o_orderpriority"),
        ordT, "o_orderkey", 8)
    }
    (liT, ordT)
  }

  /** q175's analyzed catalog tables: orders/customer/nation registered
    * with `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS` —
    * rowCount + per-column NDV/min/max, the inputs the cost-based
    * optimizer reorders joins with. Stats collection is a
    * maintenance job at scale (run at ingest, amortized over every
    * later query), so it stays in the fixture, not the timed query. */
  private lazy val statsDbLocation: String =
    graft.TempDirs.create("graft_statsdb")

  val ensureStatsTables = Stager.inCatalog("graft_stats") { (s, d) =>
    s.sql("CREATE DATABASE IF NOT EXISTS graft_stats " +
      s"LOCATION '$statsDbLocation'")
    val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
    val names = Seq("orders", "customer", "nation")
      .map(t => t -> s"graft_stats.${t}_s_$sfx").toMap
    if (!s.catalog.tableExists(names("orders"))) {
      Tables.load(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").saveAsTable(names("orders"))
      Tables.load(s, d, "customer").select("c_custkey", "c_nationkey")
        .write.mode("overwrite").saveAsTable(names("customer"))
      Tables.load(s, d, "nation").select("n_nationkey", "n_regionkey", "n_name")
        .write.mode("overwrite").saveAsTable(names("nation"))
      names.values.foreach(t =>
        s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
    }
    (names("orders"), names("customer"), names("nation"))
  }

  /** q175's join body, shared with ScaleSpec's reorder assertion: the
    * 3-way star declared in the WORST order — the fact joins the full
    * customer dimension FIRST and the selective nation filter (5 of 25
    * nations) last, so a syntax-order planner drags every order row
    * through the first join only to discard 4/5 of them at the second.
    * With cbo.joinReorder + column stats the optimizer re-derives the
    * cheap order (shrink customer against the filtered nation, then
    * join the fact once) from cardinality estimates — at 100 TB that
    * is the difference between shuffling the fact against 100% or 20%
    * of the dimension, decided from table stats with zero user hints. */
  private[graft] def q175Join(s: SparkSession, d: String): DataFrame = {
    val (ordT, custT, natT) = ensureStatsTables(s, d)
    s.table(ordT)
      .join(s.table(custT), col("o_custkey") === col("c_custkey"))
      .join(s.table(natT).filter(col("n_regionkey") === 0),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents_sum"))
  }

  /** q65's join body, shared with ScaleSpec's skew-plan assertion: the
    * q44 fact⋈dim aggregate with no salting — skew handling is AQE's
    * job here. The fact side is round-robin repartitioned first because
    * AQE's skew split is a UNION OF MAP-OUTPUT RANGES: a reducer
    * partition fed by a single map task cannot be subdivided, and the
    * fixture's one-file scan produces exactly one map block per
    * reducer. On a cluster the fact side always has thousands of map
    * tasks — the repartition emulates that granularity at fixture
    * scale; it is demo scaffolding, not part of the operator. */
  private[graft] def q65Join(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem").select("l_partkey", "l_quantity")
      .repartition(16)
    val part = Tables.load(s, d, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    li.join(part, "l_partkey")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
  }

  /** q188's join body, shared with ScaleSpec's measured-skew assertion:
    * a DELIBERATELY skewed fact — every second lineitem collapses onto
    * key 0, so one reducer partition carries ~half the rows while the
    * other ~511 keys spread evenly — sort-merge-joined against a
    * 512-row dim. Unlike q65 (which floors the skew factor so
    * everything qualifies), this is the fixture the 4×-median
    * MEASUREMENT has to actually find. The post-join rollup re-keys to
    * k % 8, so the join's output partitioning feeds an exchange anyway
    * and the skew split adds no extra shuffle.
    *
    * The dim MATERIALIZES through parquet before the join — its
    * production shape (a dim is a table, not an inline aggregate), and
    * also what makes the skew rule applicable at all: OptimizeSkewedJoin
    * pattern-matches a sort-merge join whose children ARE the shuffle
    * stages, and an agg interposed between the dim's shuffle and the
    * join is a different stage shape the rule (correctly) leaves
    * alone. */
  private[graft] def q188Join(s: SparkSession, d: String): DataFrame = {
    // the payload columns (keys + exact cents) do double duty: they are
    // what a real fact row carries through the shuffle — a bare (key,
    // measure) pair compresses so well the hot partition's BYTES stop
    // being skewed even when its rows are — and every one lands in an
    // oracle-checkable integer sum, so nothing here is dead weight the
    // optimizer could prune below the exchange
    val fact = Tables.load(s, d, "lineitem").select(
      when(col("l_orderkey") % 2 === 0, lit(0L))
        .otherwise(pmod(col("l_orderkey"), lit(512))).as("k"),
      col("l_quantity").cast("long").as("q"),
      col("l_orderkey").as("okey"),
      col("l_partkey").as("pkey"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"))
      // 16 mappers, as q65: AQE splits a skewed REDUCE partition at
      // map-output-block granularity, so a single-file fixture scan
      // (one map task → one indivisible block) has nothing to split no
      // matter how skewed the bytes are. A real 100 TB fact arrives
      // with thousands of scan tasks; the repartition emulates that.
      .repartition(16)
    val dimDir = graft.TempDirs.create("graft_q188dim")
    Tables.load(s, d, "orders")
      .groupBy(pmod(col("o_orderkey"), lit(512)).as("k"))
      .agg(count(lit(1)).as("dim_n"))
      .coalesce(1).write.mode("overwrite").parquet(dimDir)
    val dim = s.read.parquet(dimDir)
    fact.join(dim, "k")
      .groupBy(pmod(col("k"), lit(8)).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("q")).as("qty"),
        sum(col("okey")).as("sum_okey"), sum(col("pkey")).as("sum_pkey"),
        sum(col("cents")).as("sum_cents"), sum(col("dim_n")).as("dim_hits"))
  }

  /** q172's join body, shared with ScaleSpec's bloom-plan assertion:
    * a selective dim (urgent 1996-Q1 orders) against the lineitem fact
    * on the JOIN key, not a partition column — the shape where dynamic
    * partition pruning cannot help (no l_orderkey directory layout
    * exists or could: the key is high-cardinality) and the runtime
    * bloom filter is the only scan-side prune available. Under
    * [[ScaleJoins.withBloomJoinDemo]] the optimizer builds a bloom
    * filter over the dim's o_orderkey at runtime and injects
    * `might_contain` into the fact side BELOW the shuffle, so the
    * ~95% of lineitem rows whose order doesn't qualify drop at the
    * scan instead of shuffling — at 100 TB that is the difference
    * between shuffling the whole fact table and ~5% of it. */
  private[graft] def q172Join(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    val ord = Tables.load(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
  }

  /** q173's key-partitioned layout: customer and supplier re-staged
    * into [[graft.sources.KeyedPartitionSource]]'s `k=<nationkey>`
    * directory format — the layout is the deployment artifact; the
    * query times the shuffle-free join, not the one-off re-layout. The
    * staging WRITE goes through the source's own DSv2 sink, whose
    * `RequiresDistributionAndOrdering` makes the engine plan the
    * clustering shuffle that produces the layout — the full SPJ
    * lifecycle is distributed, write and read (plan-pinned in
    * ScaleSpec). */
  private[graft] val ensureKeyedLayout: Stager[String] = Stager("graft_spj") { (s, d, tmp) =>
    def stage(table: String, key: String, id: String, label: String,
              sub: String): Unit = {
      new java.io.File(s"$tmp/$sub").mkdirs()
      Tables.load(s, d, table)
        .select(col(key).cast("long").as("key"),
          col(id).cast("long").as("id"), col(label).as("label"))
        .write.format("graft.sources.KeyedPartitionSource")
        .option("path", s"$tmp/$sub")
        .mode("append")
        .save()
    }
    stage("customer", "c_nationkey", "c_custkey", "c_mktsegment", "cust")
    stage("supplier", "s_nationkey", "s_suppkey", "s_name", "supp")
    tmp
  }

  /** q173's join body, shared with ScaleSpec's zero-Exchange
    * assertion: both sides read through the SPJ-reporting source, the
    * equi-join key IS the storage key, and the post-join aggregate
    * groups on it too — under [[ScaleJoins.withSpjDemo]] the whole
    * plan runs without a single Exchange. */
  private[graft] def q173Join(s: SparkSession, d: String): DataFrame = {
    val dir = ensureKeyedLayout(s, d)
    def readKeyed(sub: String) =
      s.read.format("graft.sources.KeyedPartitionSource")
        .option("path", s"$dir/$sub").load()
    val cust = readKeyed("cust")
    val supp = readKeyed("supp")
      .withColumnRenamed("id", "s_id").withColumnRenamed("label", "s_label")
    cust.join(supp, "key")
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("id") + col("s_id")).as("id_sum"))
  }

  /** q176's join body, shared with ScaleSpec's strategy assertion:
    * lineitem against the SHUFFLE_HASH-hinted orders key set — the
    * hint trades the sort of both sides for a build-side hash table
    * (the fact-side sort is the 100 TB cost). Run under disabled
    * broadcast so the strategy choice is the hint's, deterministically. */
  private[graft] def q176Join(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .join(Tables.load(s, d, "orders").select("o_orderkey")
        .hint("SHUFFLE_HASH"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"))

  /** q47's exact-regime capacity: the max per-source distinct-term
    * count, floor 64 — a property of the data alone, so it is keyed by
    * sf dir, not session. A stager, so the one-off distinct-count
    * pre-pass — oracle-enabling setup, not sketch work — never lands
    * inside a timed query body. An empty documents table degenerates
    * to the floor instead of throwing on `head()`. */
  private[graft] val q47CapacityFor: Stager[Int] = Stager("graft_q47") { (s, d, _) =>
    val maxVocab = Tables.firstLongOption(
      Tables.load(s, d, "documents")
        .select(col("source"),
          explode(graft.ops.TextAnalysis.tokens(lower(col("text")))).as("term"))
        .groupBy(col("source"))
        .agg(countDistinct(col("term")).as("v"))
        .agg(max(col("v")).as("m")))
      .getOrElse(64L)
    math.max(64L, maxVocab).toInt
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- salted fact⋈dim join (hot-key spreading) -------------------------
    ("q44_salted_join",
      (s: SparkSession, d: String) => {
        val li = Tables.load(s, d, "lineitem")
        val part = Tables.load(s, d, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand"))
        ScaleJoins.saltedJoin(li, part, "l_partkey",
            saltFactor = 8, saltSource = col("l_orderkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("p_brand"))
      },
      Some("""SELECT p_brand, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- AQE skew-join (runtime-measured skew splitting) ------------------
    // The engine-native counterpart of q44's manual salt: the SAME
    // fact⋈dim join runs as a sort-merge join under
    // spark.sql.adaptive.skewJoin — AQE measures real partition sizes
    // at the shuffle boundary and splits the hot ones into multiple
    // reader tasks at runtime (the final plan's SortMergeJoin carries
    // skew=true — asserted in ScaleSpec via the q63 Initial-Plan
    // parsing trick). Result-transparent by construction, so the oracle
    // is q44's plain-join SQL. The demo confs floor the skew thresholds
    // so fixture-scale partitions qualify (see
    // ScaleJoins.withSkewJoinDemo); the join materializes through a
    // parquet round-trip because AQE decisions happen at execution
    // time — the confs must be live when the job runs, not when the
    // frame is declared.
    ("q65_aqe_skew_join",
      (s: SparkSession, d: String) => {
        val out = graft.TempDirs.create("graft_aqeskew")
        ScaleJoins.withSkewJoinDemo(s) {
          q65Join(s, d).write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy(col("p_brand"))
      },
      Some("""SELECT p_brand, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- AQE skew-join under a MEASURED factor (deliberate hot key) -------
    // q65 proves the splitting machinery with floored thresholds
    // (factor 1.0 + force: every partition qualifies); this proves the
    // MEASUREMENT with a production-shaped factor: half of the fact
    // collapses onto one key, AQE's 4×-median rule must find exactly
    // that partition at the shuffle boundary and split it, leaving the
    // even keys alone — no salt-factor guesswork, no forced rewrite
    // (the selectivity and the split markers are pinned in ScaleSpec
    // via the final adaptive plan's partition specs). At 100 TB this
    // is the default posture for fact⋈dim joins on organically skewed
    // keys (the q44 salting path stays for the pathological cases AQE
    // can't reach: streaming and bucketed shapes). Result-transparent
    // by construction, so the oracle is the plain join; same
    // materialization rule as q65 — AQE decides at execution, so the
    // parquet round-trip keeps the confs live while the job runs.
    ("q188_aqe_measured_skew",
      (s: SparkSession, d: String) => {
        val out = graft.TempDirs.create("graft_aqemskew")
        ScaleJoins.withMeasuredSkewDemo(s) {
          q188Join(s, d).write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy(col("bucket"))
      },
      Some("""WITH f AS (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0
             |                       ELSE l_orderkey % 512 END AS k,
             |                  CAST(l_quantity AS BIGINT) AS q,
             |                  l_orderkey AS okey, l_partkey AS pkey,
             |                  CAST(round(l_extendedprice * 100) AS BIGINT)
             |                    AS cents
             |           FROM lineitem),
             |dm AS (SELECT o_orderkey % 512 AS k,
             |         CAST(COUNT(*) AS BIGINT) AS dim_n
             |       FROM orders GROUP BY 1)
             |SELECT CAST(f.k % 8 AS BIGINT) AS bucket,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(f.q) AS BIGINT) AS qty,
             |  CAST(SUM(f.okey) AS BIGINT) AS sum_okey,
             |  CAST(SUM(f.pkey) AS BIGINT) AS sum_pkey,
             |  CAST(SUM(f.cents) AS BIGINT) AS sum_cents,
             |  CAST(SUM(dm.dim_n) AS BIGINT) AS dim_hits
             |FROM f JOIN dm ON f.k = dm.k
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- runtime bloom-filter join (scan-side row pruning) ----------------
    // The third member of the runtime-pruning family: q82's DPP skips
    // PARTITIONS when the fact is laid out by the join key's proxy;
    // AQE skew-split (q65) re-plans the SHUFFLE; this prunes ROWS when
    // neither applies — the fact is joined on a high-cardinality key
    // no layout covers. InjectRuntimeFilter builds a bloom filter from
    // the selective dim side at runtime and pushes might_contain into
    // the fact scan's filter, below the shuffle ([[q172Join]] scaladoc
    // for the scale arithmetic). Result-transparent by construction —
    // bloom false positives only let extra rows reach the join, which
    // drops them — so the oracle is the plain join; the injected
    // might_contain + the fact-side prune are pinned in ScaleSpec.
    // Same q65 materialization rule: the filter is injected at
    // OPTIMIZATION time, so the confs must be live when the job runs,
    // hence the parquet round-trip inside the demo-conf scope.
    ("q172_bloom_join",
      (s: SparkSession, d: String) => {
        val out = graft.TempDirs.create("graft_bloomjoin")
        ScaleJoins.withBloomJoinDemo(s) {
          q172Join(s, d).write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1996-04-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- storage-partitioned join (connector-reported co-location) --------
    // q45 eliminates the join shuffle through the session catalog's
    // bucket handshake; this eliminates it through CONNECTOR METADATA:
    // [[graft.sources.KeyedPartitionSource]] reports
    // KeyGroupedPartitioning(identity(key)) from its k=<key> layout,
    // and under spark.sql.sources.v2.bucketing the planner accepts the
    // storage partitioning as the join's clustered distribution — the
    // fact⋈fact equi-join AND the post-join groupBy(key) plan with
    // ZERO Exchange (pinned in ScaleSpec). This is how Iceberg/Delta
    // hand Spark shuffle-free joins at 100 TB: no catalog table, no
    // bucket metadata — the source itself owns the layout contract.
    // The oracle replays the same join from the original tables; the
    // layout is re-staged through the source, so equality also
    // certifies the TSV round-trip. q65's materialization rule: SPJ is
    // a planner decision, so the confs must be live at execution.
    ("q173_spj_join",
      (s: SparkSession, d: String) => {
        val out = graft.TempDirs.create("graft_spjout")
        ScaleJoins.withSpjDemo(s) {
          q173Join(s, d).write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy(col("key"))
      },
      Some("""SELECT c_nationkey AS key, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |  CAST(SUM(c_custkey + s_suppkey) AS BIGINT) AS id_sum
             |FROM customer JOIN supplier ON c_nationkey = s_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- cost-based join reordering ----------------------------------------
    // The statistics tier: q97 ESTIMATES a join size with sketches;
    // this lets the optimizer ACT on estimates. The 3-way star is
    // declared in the worst order ([[q175Join]] scaladoc); with
    // ANALYZE-collected rowCounts + column stats and cbo.joinReorder
    // on, the optimizer re-derives the cheap order (filtered nation
    // shrinks customer BEFORE the fact join) from cardinalities alone.
    // Result-transparent — reordering inner joins cannot change rows —
    // so the oracle is the plain star; the reordered tree (customer ⋈
    // nation nested below the fact join) is pinned in ScaleSpec against
    // the no-CBO baseline. q65's materialization rule: reordering
    // happens at optimization, so the confs wrap the execution.
    ("q175_cbo_join_reorder",
      (s: SparkSession, d: String) => {
        val out = graft.TempDirs.create("graft_cbo")
        ScaleJoins.withCboDemo(s) {
          q175Join(s, d).write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy(col("n_name"))
      },
      Some("""SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS cents_sum
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE n_regionkey = 0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- join strategy hint (ShuffledHashJoin over SortMergeJoin) ----------
    // The strategy-control face: above the broadcast threshold Spark
    // defaults to sort-merge, paying a full sort of BOTH sides; when
    // one side is modest (fits a per-task hash map) the SHUFFLE_HASH
    // hint trades the fact-side sort for a build-side hash table — at
    // 100 TB, skipping the sort of the big side is the win, and the
    // hint is the deployment-grade control (a conf flip would change
    // every join in the job). Result-transparent (same rows, different
    // physical algorithm), so the oracle is the plain join; ScaleSpec
    // pins ShuffledHashJoin in the plan with the sort-merge gone.
    ("q176_shuffle_hash_hint",
      (s: SparkSession, d: String) => {
        val out = graft.TempDirs.create("graft_shj")
        graft.Confs.withConfs(s, Seq(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
          q176Join(s, d).write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_items,
             |  SUM(l_quantity) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- REBALANCE write (the small/skewed-files fix) -----------------------
    // The write-path partition-balance face: a plain write inherits
    // whatever partitioning the plan ends in — one giant file after a
    // skewed aggregate, ten thousand slivers after a wide shuffle; both
    // are the classic object-store pathologies at 100 TB. The
    // REBALANCE hint asks AQE to re-slice the final shuffle's output
    // into advisory-sized, even partitions (splitting big ones,
    // coalescing small ones) — right-sized files with NO manual
    // repartition(n) guesswork, since n derives from measured bytes.
    // The read-back aggregate must equal the source's (no row lost or
    // duplicated in the re-slice — that is what the oracle certifies);
    // the file-size evenness is pinned in ScaleSpec.
    ("q177_rebalance_write",
      (s: SparkSession, d: String) => {
        val out = graft.TempDirs.create("graft_rebal")
        graft.Confs.withConfs(s, Seq(
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2MB")) {
          Tables.load(s, d, "lineitem")
            .select("l_orderkey", "l_quantity", "l_returnflag")
            .hint("REBALANCE")
            .write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_items,
             |  SUM(l_quantity) AS sum_qty
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- bucketed co-located join (shuffle-free at scale) -----------------
    ("q45_bucketed_join",
      (s: SparkSession, d: String) => {
        val (liT, ordT) = ensureBucketedTables(s, d)
        s.table(liT)
          .join(s.table(ordT),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- mergeable sketch columns (pre-aggregation pattern) ---------------
    // The 100 TB idiom: per-shard Datasketches HLL sketches materialize
    // once, then ANY rollup is a cheap sketch union — no re-scan of raw
    // data. Per-source sparse-mode estimates are exact at this
    // cardinality, so the oracle is exact COUNT(DISTINCT) (verified at
    // sf0.01 and sf0.1). The union rollup leaves sparse mode and drifts
    // (~0.4% measured), so it is error-bound-gated in ScaleSpec rather
    // than oracle-hashed.
    ("q46_sketch_distinct",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .groupBy(col("source"))
          .agg(hll_sketch_agg(col("text")).as("sk"))
          .select(col("source"), hll_sketch_estimate(col("sk")).as("n_distinct"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, COUNT(DISTINCT text) AS n_distinct
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ---- custom mergeable sketch: Space-Saving heavy hitters --------------
    // The oracle (exact COUNT) is valid only in the sketch's EXACT
    // regime (capacity ≥ per-source vocabulary). Capacity is DERIVED
    // from the data (one distinct-count pre-pass, floor 64, memoized
    // per (session, sf) so repeat runs don't tokenize the corpus twice)
    // — the contract is self-checking: a fixture whose vocabulary grows
    // past 64 widens the sketch instead of silently entering the
    // merge-order-dependent approximate regime and flaking the hash
    // gate. The approximate capacity<vocab regime (bounded state at
    // 100 TB) is bounds-gated in ExpressionEdgeSpec.
    ("q47_heavy_hitters",
      (s: SparkSession, d: String) => {
        def terms = Tables.load(s, d, "documents")
          .select(col("source"),
            explode(graft.ops.TextAnalysis.tokens(lower(col("text")))).as("term"))
        val capacity = q47CapacityFor(s, d)
        terms
          .groupBy(col("source"))
          .agg(graft.functions.SpaceSavingTopK.topK(col("term"), 3, capacity).as("tk"))
          .select(col("source"), posexplode(col("tk")))
          .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
            col("col.term").as("term"), col("col.count").as("n"))
          .orderBy(col("source"), col("rank"))
      },
      Some("""WITH t AS (
             |  SELECT source, u.term AS term, COUNT(*) AS n
             |  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(term)
             |  GROUP BY 1, 2)
             |SELECT source, CAST(rank AS INT) AS rank, term, n FROM (
             |  SELECT source, term, n,
             |    row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rank
             |  FROM t)
             |WHERE rank <= 3 ORDER BY source, rank""".stripMargin)),

    // ---- custom mergeable sketch: KLL quantiles ---------------------------
    // The distribution member of the sketch trio (q46 cardinality, q47
    // frequency): per-source token-length quantiles from a mergeable
    // compactor sketch. capacity 65,536 ≥ any per-source group at test
    // scale → the EXACT regime (no compaction, lower quantile by
    // integer target rank (n·bp + 9999) div 10000 — the same arithmetic
    // the oracle SQL uses, so no IEEE-vs-decimal ceil() divergence).
    // The approximate capacity<n regime (bounded state at 100 TB) is
    // rank-error-gated in ExpressionEdgeSpec.
    ("q50_quantile_sketch",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .select(col("source"),
            graft.ops.TextAnalysis.tokenCount(col("text")).cast("double").as("v"))
          .groupBy(col("source"))
          .agg(graft.functions.KllQuantiles.quantilesBp(
            col("v"), Seq(5000, 9000, 9900), 65536).as("qs"))
          .select(col("source"),
            element_at(col("qs"), 1).as("p50"),
            element_at(col("qs"), 2).as("p90"),
            element_at(col("qs"), 3).as("p99"))
          .orderBy(col("source"))
      },
      Some("""WITH t AS (
             |  SELECT source,
             |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE) AS v
             |  FROM documents),
             |r AS (
             |  SELECT source, v,
             |    row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
             |    COUNT(*) OVER (PARTITION BY source) AS n
             |  FROM t)
             |SELECT source,
             |  MIN(CASE WHEN rn >= (n * 5000 + 9999) // 10000 THEN v END) AS p50,
             |  MIN(CASE WHEN rn >= (n * 9000 + 9999) // 10000 THEN v END) AS p90,
             |  MIN(CASE WHEN rn >= (n * 9900 + 9999) // 10000 THEN v END) AS p99
             |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // ---- count-min sketch point-frequency probes --------------------------
    // The fifth member of the mergeable sketch family (HLL cardinality
    // q46, Space-Saving top-k q47, KLL quantiles q50, bloom membership
    // q53): per-source CMS over terms via Spark's built-in
    // count_min_sketch aggregate, probed with the custom cms_estimate
    // expression (Spark ships the build side but no SQL-facing read).
    // Oracled via the q47/q50/q61 exact-regime playbook: the fixture's
    // per-source vocabulary (~31 distinct terms, every sf) against
    // width 2000 × depth 7 leaves some collision-free row for every
    // probe with near-certainty, making the min-over-rows estimate
    // EXACT — so DuckDB's plain exact counts (0 for the absent probe)
    // are the oracle. The premise is asserted per-probe in
    // ExpressionEdgeSpec (est == exact), so a corpus whose vocabulary
    // grows into the approximate regime fails the spec loudly instead
    // of silently flaking the oracle hash; the approximate regime's
    // one-sided error contract is gated in the same spec.
    ("q56_cms_pointfreq",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .select(col("source"),
            explode(graft.ops.TextAnalysis.tokens(lower(col("text")))).as("term"))
          .groupBy(col("source"))
          .agg(expr("count_min_sketch(term, 0.001d, 0.99d, 42)").as("sk"))
          .select(col("source"),
            explode(array(lit("data"), lit("spark"), lit("table"),
              lit("window"), lit("zzz_absent"))).as("term"),
            col("sk"))
          .select(col("source"), col("term"),
            graft.functions.CmsEstimate.cmsEstimate(col("sk"), col("term")).as("est"))
          .orderBy(col("source"), col("term"))
      },
      Some("""WITH t AS (
             |  SELECT source, u.term AS term, COUNT(*) AS n
             |  FROM documents,
             |       unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(term)
             |  GROUP BY 1, 2),
             |p AS (SELECT DISTINCT source, pr.term
             |      FROM documents
             |      CROSS JOIN (VALUES ('data'),('spark'),('table'),
             |                         ('window'),('zzz_absent')) pr(term))
             |SELECT p.source, p.term, CAST(coalesce(t.n, 0) AS BIGINT) AS est
             |FROM p LEFT JOIN t ON t.source = p.source AND t.term = p.term
             |ORDER BY p.source, p.term""".stripMargin)),

    // ---- KMV theta sketch: cross-shard distinct-set intersection ----------
    // The SET-OPERATION member of the mergeable sketch family — the
    // question HLL can't answer: how many distinct users do two event
    // types SHARE, from sketches built independently per type (at
    // 100 TB: per shard/day, materialized once, intersected without
    // ever re-joining raw events). Build = kmv_sketch aggregate (k
    // smallest distinct xxhash64 values, order-independent merge);
    // read = kmv_estimate / kmv_intersect custom expressions. k=16384
    // ≥ 10× the distinct-user count at bench scale, so the sketch is
    // never trimmed and both estimates are EXACT — which is what lets
    // this sketch query carry a full DuckDB COUNT(DISTINCT) oracle
    // (the q47/q50 exact-regime playbook); the approximate regime is
    // error-gated in ExpressionEdgeSpec.
    ("q61_sketch_intersect",
      (s: SparkSession, d: String) => {
        val sk = Tables.load(s, d, "events")
          .groupBy(col("event_type"))
          .agg(graft.functions.KmvSketch.kmvSketch(
            col("user_id").cast("string"), 16384).as("sk"))
        val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
        val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
        a.crossJoin(b).filter(col("type_a") < col("type_b"))
          .select(col("type_a"), col("type_b"),
            graft.functions.KmvSketch.kmvEstimate(col("sk_a")).as("n_a"),
            graft.functions.KmvSketch.kmvEstimate(col("sk_b")).as("n_b"),
            graft.functions.KmvSketch.kmvIntersect(
              col("sk_a"), col("sk_b")).as("n_common"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some("""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
             |c AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY 1),
             |p AS (SELECT t1.event_type AS type_a, t2.event_type AS type_b,
             |        COUNT(*) AS n_common
             |      FROM tu t1 JOIN tu t2
             |        ON t1.user_id = t2.user_id AND t1.event_type < t2.event_type
             |      GROUP BY 1, 2)
             |SELECT ca.event_type AS type_a, cb.event_type AS type_b,
             |  ca.n AS n_a, cb.n AS n_b,
             |  CAST(coalesce(p.n_common, 0) AS BIGINT) AS n_common
             |FROM c ca JOIN c cb ON ca.event_type < cb.event_type
             |LEFT JOIN p ON p.type_a = ca.event_type AND p.type_b = cb.event_type
             |ORDER BY type_a, type_b""".stripMargin)),

    // ---- bloom-filter join pruning (sketch-prefiltered verify join) -------
    // The 100 TB decontamination shape: the corpus's exploded 5-grams
    // are pruned by a bloom filter built over the eval set's grams
    // BEFORE any shuffle — only true overlaps (plus the ~3% fpp tail)
    // reach the exact verify semi-join. A bloom filter has no false
    // negatives, so prefilter→verify is result-identical to the plain
    // join; that equality is exactly what this oracle certifies (and
    // ScaleSpec asserts the might_contain prefilter is in the plan).
    ("q53_bloom_decontaminate",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        graft.ops.Sketches.bloomDecontaminatedIds(
            docs.filter(col("doc_id") % 23 =!= 0),
            docs.filter(col("doc_id") % 23 === 0),
            "doc_id", "text", n = 5)
          .orderBy(col("doc_id"))
      },
      Some("""WITH g AS (
             |  SELECT doc_id,
             |    unnest(list_distinct(list_transform(
             |      range(1, greatest(len(w) - 3, 1)),
             |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS gram
             |  FROM (SELECT doc_id,
             |          string_split_regex(lower(text), '\s+') AS w FROM documents)),
             |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 23 = 0)
             |SELECT DISTINCT g.doc_id
             |FROM g JOIN e USING (gram)
             |WHERE g.doc_id % 23 <> 0
             |ORDER BY doc_id""".stripMargin)),

    // ---- declarative data-quality gate (expectations report) --------------
    // The Deequ-shape contract check a warehouse runs before promoting
    // a table: a battery of declared constraints — non-empty, composite
    // key unique, value ranges, non-null, referential integrity —
    // evaluated as ONE aggregate pass over the fact table (every metric
    // is an algebraic sum/count with map-side partials) plus ONE
    // anti-join for the FK orphan count; the report is a constant-size
    // frame of (constraint, metric, passed). At 100 TB the cost is a
    // single scan + one join pruned to the FK columns — the gate never
    // materializes violating rows (a debugging query does that on
    // demand, filtered by the failing constraint's predicate).
    ("q76_quality_gate",
      (s: SparkSession, d: String) => {
        val li = Tables.load(s, d, "lineitem")
        val orders = Tables.load(s, d, "orders")
        val m = li.agg(
          count(lit(1)).as("n"),
          (count(lit(1)) -
            count_distinct(col("l_orderkey"), col("l_linenumber"))).as("dup"),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("qty_oob"),
          sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("ship_null"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
            .otherwise(0L)).as("disc_oob"))
        val orphans = li.select(col("l_orderkey"))
          .join(orders.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("orphans"))
        m.crossJoin(orphans)
          .select(explode(array(
            struct(lit("disc_in_range").as("rule"),
              col("disc_oob").as("metric"), (col("disc_oob") === 0).as("passed")),
            struct(lit("fk_orders").as("rule"),
              col("orphans").as("metric"), (col("orphans") === 0).as("passed")),
            struct(lit("pk_unique").as("rule"),
              col("dup").as("metric"), (col("dup") === 0).as("passed")),
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
             |    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS dup,
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
             |  UNION ALL SELECT 'pk_unique', dup, dup = 0 FROM m
             |  UNION ALL SELECT 'qty_in_range', qty_oob, qty_oob = 0 FROM m
             |  UNION ALL SELECT 'row_count', n, n > 0 FROM m
             |  UNION ALL SELECT 'shipdate_not_null', ship_null, ship_null = 0 FROM m)
             |ORDER BY rule""".stripMargin)),

    // ---- pure-SQL surface for the SKETCH tier ---------------------------------
    // q148's registry certification, extended to the mergeable-sketch
    // family the Column-API queries (q46/q47/q50/q56/q61) exercise:
    // plain `spark.sql` text resolving kmv_sketch/kmv_estimate,
    // kll_quantile, space_saving_topk and cms_estimate through the
    // injected function registry — the spark.sql.extensions deploy
    // path — including TWO-PHASE aggregation (every sketch build is a
    // partial+final ObjectHashAggregate under the GROUP BY). Oracled
    // by the family's exact-regime playbook: KMV k ≥ 10× the per-source
    // vocabulary, KLL capacity ≥ any per-source doc count, Space-Saving
    // capacity derived from the data (q47's memoized pre-pass,
    // interpolated as a literal — SQL functions take literal args),
    // CMS width 2000 × depth 7 over a ~31-term vocabulary, so DuckDB's
    // plain exact counts/quantiles certify every column.
    ("q158_sql_sketch_registry",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .createOrReplaceTempView("documents_sk_sql")
        val capacity = q47CapacityFor(s, d)
        s.sql(s"""
          WITH toks AS (
            SELECT source, tok
            FROM documents_sk_sql
            LATERAL VIEW explode(
              regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS tok),
          agg AS (
            SELECT source,
                   kmv_estimate(kmv_sketch(tok, 16384)) AS n_terms,
                   space_saving_topk(tok, 1, $capacity) AS tk,
                   count_min_sketch(tok, 0.001d, 0.99d, 42) AS cms
            FROM toks GROUP BY source),
          dv AS (
            SELECT source,
                   CAST(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))
                     AS DOUBLE) AS v
            FROM documents_sk_sql),
          kq AS (
            SELECT source,
                   element_at(kll_quantile(v, 5000, 65536), 1) AS p50_tokens
            FROM dv GROUP BY source)
          SELECT a.source, a.n_terms,
                 kq.p50_tokens,
                 element_at(a.tk, 1).term AS top_term,
                 element_at(a.tk, 1).count AS top_n,
                 cms_estimate(a.cms, 'data') AS n_data
          FROM agg a JOIN kq ON kq.source = a.source
          ORDER BY a.source""")
      },
      Some("""WITH toks AS (
             |  SELECT source, u.term AS term
             |  FROM documents,
             |       unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(term)),
             |nt AS (SELECT source, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
             |       FROM toks GROUP BY 1),
             |dv AS (SELECT source,
             |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
             |           AS DOUBLE) AS v
             |       FROM documents),
             |r AS (SELECT source, v,
             |        row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
             |        COUNT(*) OVER (PARTITION BY source) AS n
             |      FROM dv),
             |kq AS (SELECT source,
             |         MIN(CASE WHEN rn >= (n * 5000 + 9999) // 10000 THEN v END)
             |           AS p50_tokens
             |       FROM r GROUP BY 1),
             |tt AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n,
             |         row_number() OVER (PARTITION BY source
             |                            ORDER BY COUNT(*) DESC, term) AS rk
             |       FROM toks GROUP BY 1, 2),
             |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM toks WHERE term = 'data' GROUP BY 1)
             |SELECT nt.source, nt.n_terms, kq.p50_tokens,
             |  tt.term AS top_term, tt.n AS top_n,
             |  CAST(COALESCE(nd.n, 0) AS BIGINT) AS n_data
             |FROM nt
             |JOIN kq ON kq.source = nt.source
             |JOIN tt ON tt.source = nt.source AND tt.rk = 1
             |LEFT JOIN nd ON nd.source = nt.source
             |ORDER BY nt.source""".stripMargin)),
  )
}
