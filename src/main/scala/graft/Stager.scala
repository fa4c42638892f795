package graft

import java.io.File
import java.nio.file.Files

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A write-once fixture: a face's input that pre-exists in a real
  * pipeline (an arrival stream, a persisted index, a materialized
  * layout), so building it is setup and the face times only the
  * operator over it — the drain, the probe or the pruned scan.
  *
  * The build runs at most once per (JVM, sf dir), with the contract of
  * `TrieMap.getOrElseUpdate`, in its own [[TempDirs]] directory, under
  * [[NioLocalFileSystem.Options]], so its writes start no `chmod`. Every
  * stager registers itself on construction, and `Bench.warmup` stages
  * [[Stager.all]], so no face's first timed run pays a staging write
  * its second run skips. */
final class Stager[T] private (val name: String, memo: Boolean,
                               build: (SparkSession, String) => T) {
  private val built = TrieMap.empty[String, T]
  Stager.registry.add(this)

  def apply(s: SparkSession, d: String): T =
    if (memo) built.getOrElseUpdate(d, run(s, d))
    else { val v = run(s, d); built.put(d, v); v }

  private def run(s: SparkSession, d: String): T =
    Confs.withConfs(s, NioLocalFileSystem.Options.toSeq)(build(s, d))

  /** True once this JVM has staged the fixture for sf dir `d`. */
  def staged(d: String): Boolean = built.contains(d)
}

object Stager {
  private val registry = new java.util.concurrent.ConcurrentLinkedQueue[Stager[_]]

  /** Every stager constructed so far, in construction order. A family
    * object's stagers exist once the object is initialized. */
  def all: Seq[Stager[_]] = registry.asScala.toSeq

  /** `build(s, d, tmp)` stages sf dir `d` under the fresh directory `tmp`. */
  def apply[T](prefix: String)(build: (SparkSession, String, String) => T): Stager[T] =
    new Stager[T](prefix, memo = true, (s, d) => build(s, d, TempDirs.create(prefix)))

  /** A stager whose memo is the session catalog: the build runs on every
    * call and skips the tables `tableExists` already finds. */
  def inCatalog[T](name: String)(build: (SparkSession, String) => T): Stager[T] =
    new Stager[T](name, memo = false, build)

  /** Writes `df` as exactly one parquet file `<inDir>/<name>.parquet`. */
  def oneFile(df: DataFrame, inDir: String, name: String): File = {
    val stage = new File(inDir, s"_stage_$name")
    df.coalesce(1).write.mode("overwrite").parquet(stage.getPath)
    val parts = stage.listFiles().filter(_.getName.startsWith("part-"))
    require(parts.length == 1, s"expected one staged file, got ${parts.toSeq}")
    val dst = new File(inDir, s"$name.parquet")
    Files.move(parts.head.toPath, dst.toPath)
    org.apache.hadoop.fs.FileUtil.fullyDelete(stage)
    dst
  }

  /** The parquet part files Spark wrote to `dir`, in name order (for a
    * range-partitioned write, partition order). */
  def parts(dir: String): Seq[File] =
    new File(dir).listFiles().filter(_.getName.startsWith("part-")).toSeq.sortBy(_.getName)

  /** Pins FileStreamSource delivery order to the order of `files`:
    * strictly increasing mtimes, 1 s apart, all in the past. */
  def arrive(files: Seq[File]): Unit = {
    val now = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(now - (files.size - i) * 1000L), s"cannot stamp $f")
    }
  }
}
