package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Bus
import org.apache.spark.sql.types._

import graft.pipeline.{Gold, Ingest, Layers, SampleFetcher, Silver}

/** The benchmark's JVM side. One process, one client thread, closed loop:
  * an op is issued only after the previous one completed. It sets the
  * session up, runs untimed warm passes, then timed passes until the
  * requested seconds are spent and the minimum count has run, and writes
  * every op's timing, result digest and (traced runs only) engine
  * counters and spans as one JSON file. `perfbench/run.py` turns that
  * file into metrics and checks the digests.
  *
  * Usage: Harness --out <file> --work <dir> --seed <n> --seconds <s>
  *   --min-passes <n> --trace <0|1> --t0-ms <epoch ms of process launch>
  *   (--faces <sfDir> <name,name,...> | --medallion <rows>)
  */
object Harness {

  /** One op of a pass. `run` is timed; `check` runs after the pass, untimed,
    * and returns facts the caller compares against expected values. */
  final case class Op(name: String, family: String,
                      run: () => Map[String, Any],
                      check: () => Map[String, Any] = () => Map.empty)

  def main(argv: Array[String]): Unit = {
    val opt = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }
      .toMap
    def arg(k: String) = opt.getOrElse(k, sys.error(s"missing $k"))
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val minPasses = arg("--min-passes").toInt
    val work = arg("--work")
    val launchMs = arg("--t0-ms").toDouble
    val clock = new Clock
    val mainMs = clock.epochMs()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = clock.epochMs()
    val tracer = if (arg("--trace") == "1") Some(new Tracer(spark, clock)) else None

    val passOps: Int => Seq[Op] =
      if (opt.contains("--faces")) {
        val i = argv.indexOf("--faces")
        facesPass(spark, argv(i + 1), argv(i + 2).split(",").toSeq, seed)
      } else {
        val i = argv.indexOf("--medallion")
        medallionPass(spark, argv(i + 1).toInt, seed, work)
      }

    var workloadSpan: Option[Int] = None
    def runPass(p: Int): Map[String, Any] = {
      val ops = passOps(p)
      val passSpan = tracer.map(_.open("pass", s"pass$p", workloadSpan))
      val cpu0 = os.getProcessCpuTime
      val t0 = clock.epochMs()
      val recs = ops.zipWithIndex.map { case (op, i) =>
        val opId = s"p$p.o$i"
        val span = tracer.map(_.open("op", op.name, passSpan, opId))
        val s0 = clock.epochMs()
        val res = try Right(op.run()) catch { case e: Throwable => Left(e) }
        val s1 = clock.epochMs()
        spark.catalog.clearCache()
        val counters = tracer.map(t => t.close(span.get, s1)).getOrElse(Map.empty)
        Map[String, Any]("name" -> op.name, "family" -> op.family, "id" -> opId,
          "t0_ms" -> s0, "t1_ms" -> s1, "s" -> (s1 - s0) / 1e3,
          "ok" -> res.isRight, "counters" -> counters) ++
          res.fold(e => Map("error" -> String.valueOf(e)), identity)
      }
      val t1 = clock.epochMs()
      val cpu1 = os.getProcessCpuTime
      passSpan.foreach(s => tracer.get.close(s, t1))
      val checked = ops.zip(recs).map { case (op, r) =>
        if (r("ok") == true)
          try r ++ op.check() catch { case e: Throwable => r ++ Map("ok" -> false, "error" -> String.valueOf(e)) }
        else r
      }
      val discover = tracer.map(_ => discoverSeconds(spark, work, p)).getOrElse(0.0)
      Map("pass" -> p, "t0_ms" -> t0, "s" -> (t1 - t0) / 1e3, "cpu_s" -> (cpu1 - cpu0) / 1e9,
        "ops" -> checked, "discover_s" -> discover)
    }

    val warmStart = clock.epochMs()
    // After one warm pass the first timed passes ran 13-35 % slower than
    // later ones; after two, the first is within about 10 %, which the
    // median over timed passes absorbs. Warm passes are numbered 0 and -1,
    // timed passes from 1.
    val warm = Seq(runPass(0), runPass(-1))
    val warmEnd = clock.epochMs()
    tracer.foreach(_.spans.clear())
    workloadSpan = tracer.map(_.open("workload", "workload", None))
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var firstOpMs = 0.0
    // another pass starts only while it is expected to end within the
    // requested seconds, judged by the pass before it
    def fits = clock.epochMs() + passes.last("s").asInstanceOf[Double] * 1e3 <=
      warmEnd + seconds * 1e3
    while (passes.size < minPasses || fits) {
      val p = runPass(passes.size + 1)
      if (passes.isEmpty) firstOpMs = p("t0_ms").asInstanceOf[Double]
      passes += p
    }
    workloadSpan.foreach(s => tracer.get.close(s, clock.epochMs()))
    // once, after the last pass: a leak grows with every pass, so the last
    // pass is where it is largest, and each measurement costs about 2 s
    val retained = retainedHeapMb(spark)

    val out = Map[String, Any](
      "spark_version" -> spark.version, "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup" -> Map("jvm_s" -> (mainMs - launchMs) / 1e3,
        "session_s" -> (sessionMs - mainMs) / 1e3,
        "warm_pass_s" -> (warmEnd - warmStart) / 1e3,
        "total_s" -> (firstOpMs - launchMs) / 1e3),
      "retained_heap_mb" -> retained, "warm" -> warm, "passes" -> passes.toSeq,
      "spans" -> tracer.map(_.spans.toSeq).getOrElse(Seq.empty))
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(arg("--out")), out)
  }

  /** Driver heap in use after garbage collection. Spark's ContextCleaner
    * frees broadcast and shuffle blocks only after a collection has cleared
    * their references, and lags it by up to a second on a busy box, so this
    * takes the least of five collections 250 ms apart; stopping at the
    * first collection that freed under 1 MB left a 16 MB difference between
    * equal runs. The state stores of finished streaming queries stay loaded
    * until Spark's maintenance task next runs (every 60 s), so they are
    * unloaded first, as that task would. */
  def retainedHeapMb(spark: SparkSession): Double = {
    Bus.drain(spark.sparkContext)
    Bus.unloadStateStores()
    val rt = Runtime.getRuntime
    (1 to 5).map { _ =>
      Thread.sleep(250); System.gc(); (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }

  /** A face op: build the face's frame, evaluate every output column and
    * reduce the result to (rows, order-independent content digest) in one
    * job, so the op pays for everything a consumer of the result pays. */
  def facesPass(spark: SparkSession, sfDir: String, names: Seq[String],
                seed: Long): Int => Seq[Op] = {
    val queries = graft.SparkEntry.queries
    val family = Seq(
      "TrainingPrepQueries" -> graft.queries.TrainingPrepQueries.all,
      "NorthStarQueries" -> graft.queries.NorthStarQueries.all,
      "StreamMediaQueries" -> graft.queries.StreamMediaQueries.all)
      .flatMap { case (obj, all) => all.map(_._1 -> obj) }.toMap
    names.foreach(n => require(queries.contains(n) && family.contains(n), s"unknown face $n"))
    p => new scala.util.Random(seed * 1000003L + p).shuffle(names).map { n =>
      Op(n, family(n), () => digest(queries(n)(spark, sfDir)))
    }
  }

  def digest(df: DataFrame): Map[String, Any] = {
    val cols = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        // -0.0 and 0.0 hash differently; rounding hides last-bit drift
        // from summation order, which the engine does not fix
        case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case VariantType => c.cast(StringType)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    Map("rows" -> row.getLong(0),
      "digest" -> Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  object Quiet extends Ingest.ProgressListener {
    override def pageFetched(page: Int, total: Int): Unit = ()
  }

  /** Bronze → silver → gold over the program's [[SampleFetcher]] rows, into
    * a fresh lake per pass. The run timestamp comes from the seed and the
    * pass, so minute-resolution run folders never collide. The ingest check
    * counts the rows that landed in bronze. */
  def medallionPass(spark: SparkSession, rows: Int, seed: Long,
                    work: String): Int => Seq[Op] = { p =>
    val lake = s"$work/lake$p"
    val ts = Instant.parse("2024-01-01T00:00:00Z").plusSeconds((seed.abs % 100000) * 3600 + p * 60)
    val fetcher = new SampleFetcher(rows)
    def layer(dir: String, ext: String): Map[String, Any] = {
      val fs = Layers.fs(spark, dir)
      val files = fs.listFiles(new Path(dir), true)
      var n = 0L; var bytes = 0L
      while (files.hasNext) {
        val f = files.next()
        if (f.getPath.getName.endsWith(ext)) { n += 1; bytes += f.getLen }
      }
      Map("files" -> n, "bytes" -> bytes)
    }
    Seq(
      Op("ingest", "Ingest", () => {
        Ingest.ingest(spark, fetcher, s"$lake/bronze", ts, progress = Quiet); Map.empty
      }, () => layer(s"$lake/bronze", ".csv") ++ Map("rows" ->
        spark.read.option("header", true).csv(s"$lake/bronze/*/*.csv").count())),
      Op("silver", "Silver", () => {
        Silver.run(spark, s"$lake/bronze", s"$lake/silver", ts); Map.empty
      }, () => layer(s"$lake/silver", ".parquet") ++
        Map("rows" -> spark.read.parquet(s"$lake/silver").count())),
      Op("gold", "Gold", () => {
        Gold.run(spark, s"$lake/silver", s"$lake/gold", ts); Map.empty
      }, () => {
        val gold = spark.read.parquet(s"$lake/gold")
        layer(s"$lake/gold", ".parquet") ++ digest(gold) ++
          Map("brewery_count_sum" -> gold.agg(sum("brewery_count")).head().getLong(0))
      }))
  }

  /** Seconds the medallion's latest-run discovery takes over pass `p`'s
    * lake (traced runs only; zero for workloads without a lake). */
  def discoverSeconds(spark: SparkSession, work: String, p: Int): Double = {
    val lake = s"$work/lake$p"
    if (!Files.exists(Paths.get(lake))) 0.0
    else {
      val t0 = System.nanoTime()
      Layers.latestBronzeRun(spark, s"$lake/bronze")
      Layers.latestSuccessfulRun(spark, s"$lake/silver")
      (System.nanoTime() - t0) / 1e9
    }
  }
}

/** Epoch milliseconds with nanosecond resolution, on the same scale as the
  * listener events' timestamps. */
final class Clock {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def epochMs(): Double = ms0 + (System.nanoTime() - ns0) / 1e6
}
