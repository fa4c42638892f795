package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, Lower, RegExpExtractAll, StringSplit}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.{Curation, Dedup, Similarity}
import graft.queries.TrainingPrepQueries
import graft.streaming.EventStream

/** Each input of a curation face is computed once: a document is
  * tokenized once (no tokenizer inside a higher-order-function lambda,
  * whose body Spark evaluates per element), `connectedComponents` reads
  * its pair set once in both regimes, the near-dup operators and
  * `Curation.curate` read each input row once and leave no cache behind,
  * and a fixture load runs no Spark job to learn a schema its file's
  * footer already holds. */
class ComputeOnceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Tokenizer expressions inside any lambda body of the optimized plan. */
  private def tokenizersInLambdas(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case l: LambdaFunction => l.function.collect {
        case e @ (_: StringSplit | _: Lower | _: RegExpExtractAll) => e.prettyName
      }
    }.flatten))

  /** t25's gram frame before its tokens became a column: the oracle the
    * new frame must match row for row. */
  private def gramsSplitPerGram(docs: DataFrame): DataFrame = {
    val w = split(lower(col("text")), "\\s+")
    docs.select(col("doc_id"),
        explode(transform(
          sequence(lit(1), greatest(size(w) - 2, lit(1)).cast("int")),
          i => concat_ws(" ", slice(w, i, lit(3))))).as("gram"))
      .distinct()
  }

  test("t25, t16 and c02's gram step keep every tokenizer out of lambda bodies") {
    // the walker sees the old t25 shape, so a clean result means something
    val docs = Tables.load(spark, sf, "documents")
    assert(tokenizersInLambdas(gramsSplitPerGram(docs)).toSet ==
      Set("split", "lower"))
    val frames = Seq(
      "t25" -> SparkEntry.queries("t25_gram_novelty")(spark, sf),
      "t16" -> SparkEntry.queries("t16_boilerplate_chunks")(spark, sf),
      "c02 grams" -> Dedup.substringNearDupPairs(docs, "doc_id", "text", n = 8))
    frames.foreach { case (name, df) =>
      assert(tokenizersInLambdas(df).isEmpty,
        s"$name tokenizes inside a lambda: ${tokenizersInLambdas(df)}")
    }
  }

  test("t25's gram frame equals the per-gram-split frame on short, long and null texts") {
    import spark.implicits._
    val long = (1 to 100).map(i => s"W${i % 37}").mkString(" ")
    val docs = Seq[(Long, String)](
      0L -> "", 1L -> "One", 2L -> "Two Words", 3L -> "three  Word\ttext",
      4L -> long, 5L -> null, 6L -> "   ", 7L -> " lead and trail ")
      .toDF("doc_id", "text")
    def rows(df: DataFrame): Seq[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val expected = rows(gramsSplitPerGram(docs))
    assert(rows(TrainingPrepQueries.noveltyGrams(docs)) == expected)
    // the corpus reaches every branch: short texts and the null keep one
    // gram each, the 100-word text its distinct trigrams
    assert(expected.filter(_._1 == 5L) == Seq(5L -> ""))
    assert(expected.count(_._1 == 4L) == 37)
  }

  test("connectedComponents reads its pair input once in both regimes") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 6L), (3L, 7L))
    val reads = spark.sparkContext.longAccumulator("cc_pair_reads")
    val counted = udf { (_: Long) => reads.add(1L); true }.asNondeterministic()
    val input = spark.sparkContext.parallelize(pairs, 2).toDF("id_a", "id_b")
      .filter(counted(col("id_a")))
    val expected = Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 1L), (4L, 4L),
      (5L, 4L), (6L, 6L))
    Seq(1000000L, 0L).foreach { threshold =>
      reads.reset()
      val labels = Dedup.connectedComponents(input, driverThreshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(labels == expected, s"driverThreshold $threshold")
      assert(reads.value == pairs.size.toLong,
        s"driverThreshold $threshold: ${reads.value} row reads of ${pairs.size} rows")
    }
  }

  test("near-dup operators and curate read each input row once and cache nothing") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val (nDocs, nVecs) = (docs.count(), emb.count())
    val reads = spark.sparkContext.longAccumulator("input_row_reads")
    val counted = udf { (_: Long) => reads.add(1L); true }.asNondeterministic()
    def read(df: DataFrame, c: String): DataFrame = df.filter(counted(xxhash64(col(c))))
    val (text, vecs) = (read(docs, "text"), read(emb, "embedding"))
    val ops = Seq[(String, Long, () => DataFrame)](
      ("minhashNearDups", nDocs,
        () => Dedup.minhashNearDups(text, "doc_id", "text", threshold = 0.5)),
      ("simhashNearDups", nDocs,
        () => Dedup.simhashNearDups(text, "doc_id", "text")),
      ("ivfNearDupPairs", nVecs,
        () => Similarity.ivfNearDupPairs(vecs, 0.45, nCells = 16, nProbe = 6)),
      ("srpNearDupPairs", nVecs,
        () => Similarity.srpNearDupPairs(vecs, 0.45)),
      ("semanticDedupKept", nVecs,
        () => Similarity.semanticDedupKept(vecs, threshold = 0.45, nCells = 8)),
      ("curate", nDocs, () => Curation.curate(text).frame))
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache() // whatever an earlier suite left
    ops.foreach { case (name, n, op) =>
      assert(cache.isEmpty, s"$name: a cache is registered before the call")
      reads.reset()
      op().count()
      assert(reads.value == n, s"$name: ${reads.value} row reads of $n input rows")
      assert(cache.isEmpty, s"$name: left a cache registered")
    }
  }

  test("fixture loads and readEvents build their frames without a Spark job") {
    val sc = spark.sparkContext
    def inGroup[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    val groups = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id"))): Unit
    }
    sc.addSparkListener(listener)
    try {
      inGroup("build") {
        Tables.names.foreach(n => Tables.load(spark, sf, n))
        assert(EventStream.readEvents(spark, sf).isStreaming)
      }
      // the listener bus delivers in order: once the marker job's start
      // arrives, so has the start of every job before it
      inGroup("marker")(sc.parallelize(Seq(1), 1).count())
      val seen = Iterator.continually(groups.poll(60, TimeUnit.SECONDS))
        .takeWhile { g => assert(g != null, "marker job never seen"); g != "marker" }
        .toSeq
      assert(seen.count(_ == "build") == 0,
        s"building the fixture frames ran ${seen.count(_ == "build")} Spark job(s)")
    } finally sc.removeSparkListener(listener)
  }

  test("the footer schema is the schema Spark infers, for every fixture table") {
    Tables.names.foreach { n =>
      val path = s"$sf/$n.parquet"
      val loaded = Tables.load(spark, sf, n) // sets the session's parquet confs
      val inferred = spark.read.parquet(path)
      assert(Tables.fileSchema(spark, path) == inferred.schema, n)
      val canonical = if (n == "events") Tables.normalizeEvents(inferred) else inferred
      assert(loaded.schema == canonical.schema, n)
    }
    assert(EventStream.readEvents(spark, sf).schema("ts").dataType == LongType)
  }
}
