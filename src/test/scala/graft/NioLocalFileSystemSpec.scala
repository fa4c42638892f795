package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.pipeline.{Gold, Ingest, NioLocalFileSystem, NioRawLocalFileSystem}
import graft.pipeline.{SampleFetcher, Silver}

/** [[NioLocalFileSystem]] against the stock local filesystem: it sets
  * the modes the stock class sets; every medallion layer writes through
  * it, with `.crc` sidecars and the default mode; and every other
  * `file:` path keeps the stock filesystem. */
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

  private def nioBytesWritten(): Long =
    FileSystem.getStatistics("file", classOf[NioRawLocalFileSystem]).getBytesWritten

  /** One ingest → silver → gold run: its lake, and the bytes each layer
    * wrote through [[NioRawLocalFileSystem]]. */
  private lazy val medallion: (String, Seq[(String, Long)]) = {
    val lake = TempDirs.create("graft_nio_lake")
    val t = Instant.parse("2026-08-12T10:00:00Z")
    def written(body: => Unit): Long = {
      val before = nioBytesWritten()
      body
      nioBytesWritten() - before
    }
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
