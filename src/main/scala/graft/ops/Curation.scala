package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end LLM-corpus curation: the composed flow a training-data
  * pipeline runs at scale, built entirely from this library's operators.
  *
  *   score (quality, lang, tokens)
  *     → quality filter
  *     → exact dedup (hash-groupBy on text, keep lowest doc_id)
  *     → near-dup removal (MinHash+LSH verified pairs → transitive
  *       clusters via [[Dedup.connectedComponents]]; keep each cluster's
  *       minimum id)
  *     → write parquet partitioned by predicted language.
  *
  * Every stage is a shuffle-bounded DataFrame op (no driver-side loops,
  * no cartesian products), so the same code runs at 100 TB: the dedup
  * candidate space comes from LSH band equality joins and the writes are
  * partitioned for downstream pruning.
  */
object Curation {

  case class Report(stage: String, n_docs: Long)

  /** Curated frame (doc_id, text, pred_lang, quality, n_tokens) +
    * per-stage counts. */
  case class Curated(frame: DataFrame, report: Seq[Report])

  def curate(docs: DataFrame,
             minQuality: Double = 0.45,
             nGram: Int = 3,
             jaccardThreshold: Double = 0.5): Curated = {
    // Materialized BEFORE the quality filter: filtering on a computed
    // column makes Catalyst inline the scoring tree into the Filter
    // predicate, and the HOF-bearing predicate drops out of whole-stage
    // codegen — the giant expression then re-evaluates per row
    // interpreted (13x slower measured). The scores are also read twice
    // (the exact dedup and the input count), and this is the natural
    // pipeline boundary at cluster scale.
    val scored = docs.select(
      col("doc_id"), col("text"),
      TextAnalysis.langId(col("text")).as("pred_lang"),
      TextAnalysis.qualityScore(col("text")).as("quality"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .localCheckpoint(eager = false)

    val qualityKept = scored.filter(col("quality") >= minQuality)

    // exact dedup: one survivor (lowest id) per identical text.
    // Materialized: the frame feeds the near-dup shingles, the anti join
    // and a stage count — without it the dedup window re-executes per
    // consumer. (At cluster scale this is the materialized intermediate
    // table between pipeline stages.)
    val exactKept = qualityKept
      .withColumn("keep_id", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("text"))))
      .filter(col("doc_id") === col("keep_id"))
      .drop("keep_id")
      .localCheckpoint(eager = false)

    // near-dup removal: LSH-verified pairs → transitive clusters
    // (connected components), keep each cluster's minimum id; the
    // pairs are read once, by connectedComponents, which materializes
    // its own copy
    val pairs = Dedup.minhashNearDups(
      exactKept.select("doc_id", "text"), "doc_id", "text",
      n = nGram, threshold = jaccardThreshold)
    val losers = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    val nearKept = exactKept.join(losers, Seq("doc_id"), "left_anti")

    // One aggregation job over a stage-labeled union instead of four
    // separate count() jobs. By the time this runs, connectedComponents
    // (invoked above) has already materialized the pairs, and computing
    // them filled the exactKept and scored copies — so every union
    // branch reads a materialized frame.
    val stageOf = Seq(
      "input" -> scored, "quality_filtered" -> qualityKept,
      "exact_deduped" -> exactKept, "near_deduped" -> nearKept)
    val counted = stageOf.map { case (name, df) => df.select(lit(name).as("stage")) }
      .reduce(_.unionAll(_))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_docs"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val report = stageOf.map { case (name, _) =>
      Report(name, counted.getOrElse(name, 0L))
    }
    Curated(nearKept, report)
  }

  /** Curate and materialize partitioned by predicted language (partition
    * pruning for per-language downstream consumers). Returns the report. */
  def curateTo(docs: DataFrame, outDir: String): Seq[Report] = {
    val c = curate(docs)
    c.frame.write.mode("overwrite").partitionBy("pred_lang").parquet(outDir)
    c.report
  }

  /** The report as a DataFrame (queries()-friendly). */
  def reportDF(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    curate(docs).report.toDF().select(col("stage"), col("n_docs"))
  }
}
