package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem}
import org.apache.hadoop.fs.{Options => HadoopOptions, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.pipeline.{Gold, Ingest}
import graft.pipeline.{SampleFetcher, Silver}
import graft.streaming.{DedupStore, EventStream}

/** [[NioLocalFileSystem]] and [[NioLocalFs]] against the stock local
  * filesystems: they set the modes, write the sidecars and report the
  * link status the stock classes do; every medallion layer, streaming
  * drain and dedup-store write goes through them, with `.crc` sidecars
  * and the default mode; and every other `file:` path keeps the stock
  * filesystem. */
class NioLocalFileSystemSpec extends SparkSpec {

  private def initialized[T <: RawLocalFileSystem](fs: T): T = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int]

  test("setPermission sets the mode the stock RawLocalFileSystem sets") {
    val dir = TempDirs.create("graft_nio_modes")
    val fss = Seq(initialized(new RawLocalFileSystem),
      initialized(new NioRawLocalFileSystem))
    // octal; the sticky 1777 takes the stock path
    Seq("644" -> false, "600" -> false, "755" -> false, "700" -> true, "1777" -> true)
      .foreach { case (octal, isDir) =>
        val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
        val Seq(stock, nio) = fss.map { fs =>
          val p = Paths.get(dir, s"${fs.getClass.getSimpleName}_$octal")
          if (isDir) Files.createDirectory(p) else Files.createFile(p)
          fs.setPermission(new Path(p.toString), perm)
          mode(p.toString)
        }
        assert(nio == stock, s"$octal: stock ${stock.toOctalString}, nio ${nio.toOctalString}")
        assert((nio & 0x3ff) == perm.toShort, s"$octal: set ${nio.toOctalString}")
      }
  }

  test("getFileLinkStatus returns what the stock RawLocalFileSystem returns") {
    val dir = TempDirs.create("graft_nio_links")
    val file = Files.write(Paths.get(dir, "file"), "x".getBytes)
    val sub = Files.createDirectory(Paths.get(dir, "dir"))
    val link = Files.createSymbolicLink(Paths.get(dir, "link"), file)
    val dangling = Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "gone"))
    val Seq(stock, nio) = Seq(initialized(new RawLocalFileSystem),
      initialized(new NioRawLocalFileSystem))
    def fields(s: FileStatus) = (s.getPath, s.isDirectory, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    Seq(file.toString, s"file:$file", sub.toString, link.toString, dangling.toString)
      .foreach { p =>
        val Seq(want, got) = Seq(stock, nio).map(fs => fields(fs.getFileLinkStatus(new Path(p))))
        assert(got == want, p)
      }
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    Seq(stock, nio).foreach { fs =>
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir, "missing")))
    }
  }

  /** Relative path → `unix:mode` of everything under `dir`. */
  private def tree(dir: String): Map[String, Int] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root)
        .map(p => root.relativize(p).toString -> mode(p.toString)).toMap
      finally walk.close()
  }

  test("FileContext through NioLocalFs sets the modes and sidecars the stock LocalFs sets") {
    val root = TempDirs.create("graft_nio_fc")
    val nioConf = new Configuration()
    NioLocalFileSystem.Options.foreach { case (k, v) => nioConf.set(k, v) }
    val Seq(stock, nio) = Seq("stock" -> new Configuration(), "nio" -> nioConf).map {
      case (name, conf) =>
        val fc = FileContext.getFileContext(URI.create("file:///"), conf)
        val dir = new Path(s"$root/$name")
        def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
        Seq("644", "600").foreach { octal =>
          val out = fc.create(new Path(dir, s"f$octal"), EnumSet.of(CreateFlag.CREATE),
            HadoopOptions.CreateOpts.perms(perm(octal)), HadoopOptions.CreateOpts.createParent())
          try out.write(octal.getBytes) finally out.close()
        }
        fc.mkdir(new Path(dir, "d700"), perm("700"), false)
        fc.rename(new Path(dir, "f600"), new Path(dir, "f644"), HadoopOptions.Rename.OVERWRITE)
        (fc.getDefaultFileSystem.getClass, tree(dir.toString))
    }
    assert(stock._1 == classOf[org.apache.hadoop.fs.local.LocalFs])
    assert(nio._1 == classOf[NioLocalFs])
    assert(nio._2 == stock._2)
    assert(nio._2.keySet == Set("f644", ".f644.crc", "d700"), nio._2)
    assert((nio._2("f644") & 0x1ff) == Integer.parseInt("600", 8))
    assert((nio._2("d700") & 0x1ff) == Integer.parseInt("700", 8))
  }

  test("a stateful drain's checkpoint tree matches the same start without the options") {
    import spark.implicits._
    val in = TempDirs.create("graft_nio_ckpt_in")
    (0 until 40).map(i => (i % 5, i.toLong)).toDF("k", "v")
      .repartition(2).write.mode("overwrite").parquet(in)
    val counts = spark.readStream.schema("k INT, v LONG").parquet(s"$in/*.parquet")
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
    def sink(name: String) = counts.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(name)
    val Seq(nio, stock) = Seq("nio", "stock").map(name => TempDirs.create(s"graft_nio_ckpt_$name"))
    try Confs.withConfs(spark, Seq("spark.sql.shuffle.partitions" -> "2")) {
      EventStream.drain(spark, sink("graft_nio_ckpt_nio"), nio, noData = false)
      // drain's other confs, without the filesystem options
      Confs.withConfs(spark, Seq(
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")) {
        sink("graft_nio_ckpt_stock").option("checkpointLocation", EventStream.checkpointDir(stock))
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
    } finally Seq("nio", "stock").foreach(n => spark.catalog.dropTempView(s"graft_nio_ckpt_$n"))
    val Seq(got, want) = Seq(nio, stock).map(d => tree(EventStream.checkpointDir(d)))
    assert(got == want)
    assert(got.keySet.exists(n => n.startsWith("state/") && n.endsWith(".delta")), got.keySet)
    assert(got.keySet.exists(n => n.startsWith("state/") && n.endsWith(".delta.crc")), got.keySet)
  }

  private def nioBytesWritten(): Long =
    FileSystem.getStatistics("file", classOf[NioRawLocalFileSystem]).getBytesWritten

  /** One ingest → silver → gold run: its lake, and the bytes each layer
    * wrote through [[NioRawLocalFileSystem]]. */
  private lazy val medallion: (String, Seq[(String, Long)]) = {
    val lake = TempDirs.create("graft_nio_lake")
    val t = Instant.parse("2026-08-12T10:00:00Z")
    (lake, Seq(
      "ingest" -> written(Ingest.ingest(spark, new SampleFetcher(450), s"$lake/bronze", t,
        progress = (_: Int, _: Int) => ())),
      "silver" -> written(Silver.run(spark, s"$lake/bronze", s"$lake/silver", t)),
      "gold" -> written(Gold.run(spark, s"$lake/silver", s"$lake/gold", t))))
  }

  test("every medallion data file has its .crc sidecar and the umask-applied default mode") {
    val (lake, _) = medallion
    val default = FsPermission.getFileDefault
      .applyUMask(FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)).toShort
    val walk = Files.walk(Paths.get(lake))
    val files = try walk.iterator.asScala.map(_.toFile)
        .filter(f => f.isFile && (f.getName.endsWith(".csv") || f.getName.startsWith("part-")))
        .toList
      finally walk.close()
    Seq("bronze" -> 3, "silver" -> 1, "gold" -> 1).foreach { case (layer, atLeast) =>
      assert(files.count(_.getPath.startsWith(s"$lake/$layer/")) >= atLeast, layer)
    }
    files.foreach { f =>
      assert(new File(f.getParentFile, s".${f.getName}.crc").isFile, s"no sidecar: $f")
      assert((mode(f.getPath) & 0x1ff) == default,
        s"$f: mode ${mode(f.getPath).toOctalString}, default ${default.toInt.toOctalString}")
    }
  }

  private def written(body: => Unit): Long = {
    val before = nioBytesWritten()
    body
    nioBytesWritten() - before
  }

  test("a stream-stream join drain runs on NioLocalFs; a store write and purge go through NioRawLocalFileSystem") {
    import spark.implicits._
    val in = TempDirs.create("graft_nio_join_in")
    (0 until 30).map(i => (i % 3, i * 600L * 1000000L, if (i % 2 == 0) "view" else "buy"))
      .toDF("user_id", "ts", "side").repartition(2).write.mode("overwrite").parquet(in)
    val events = spark.readStream.schema("user_id INT, ts LONG, side STRING")
      .parquet(s"$in/*.parquet")
    def side(name: String) = events.filter(col("side") === name)
      .select(col("user_id").as(s"${name}_user"), timestamp_micros(col("ts")).as(s"${name}_time"))
      .withWatermark(s"${name}_time", "1 hour")
    val joined = side("view").join(side("buy"),
      col("view_user") === col("buy_user") &&
        col("buy_time") >= col("view_time") &&
        col("buy_time") <= col("view_time") + expr("INTERVAL 1 HOUR"))
    // the checkpoint and state-store files go through FileContext, whose
    // delegate counts bytes under the `file:` scheme for every local
    // filesystem class alike; the query's own Hadoop conf names ours
    val q = try {
      val q = EventStream.drain(spark, joined.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("graft_nio_join"), TempDirs.create("graft_nio_join"))
      assert(spark.table("graft_nio_join").count() > 0)
      q
    } finally spark.catalog.dropTempView("graft_nio_join")
    assert(q.recentProgress.exists(_.stateOperators.nonEmpty))
    val conf = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      .sparkSession.sessionState.newHadoopConf()
    assert(FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
      .getClass == classOf[NioLocalFs])
    assert(FileSystem.getFileSystemClass("file", conf) == classOf[NioLocalFileSystem])
    NioLocalFileSystem.Options.keys.foreach(k => assert(spark.conf.getOption(k).isEmpty, k))

    val store = s"${TempDirs.create("graft_nio_store")}/store"
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c")).toDF("doc_id", "text")
    val storeBytes = written {
      docs.write.format("graft.sources.DedupStoreSink").option("path", store)
        .option("nBuckets", "2").mode("append").save()
      DedupStore.purge(spark, store, Seq("b")).collect(): Unit
    }
    assert(storeBytes > 0, "the store wrote no bytes through NioRawLocalFileSystem")
    assert(DedupStore.read(spark, store).select("text").as[String].collect().sorted.toSeq ==
      Seq("a", "c"))
  }

  test("each layer writes through NioLocalFileSystem; the cached file: filesystem stays stock") {
    val (lake, written) = medallion
    written.foreach { case (layer, bytes) =>
      assert(bytes > 0, s"$layer wrote no bytes through NioRawLocalFileSystem")
    }
    // the class the session's own conf names for `file:` (with Spark's
    // Hive jars on the classpath, Hive's ProxyLocalFileSystem)
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = FileSystem.getFileSystemClass("file", conf)
    assert(stock != classOf[NioLocalFileSystem])
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == stock)
    assert(new Path(lake).getFileSystem(conf).getClass == stock)
  }
}
