package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, TextAnalysis, TrainingPrep}
import graft.streaming.EventStream

/** Training-data preparation query surface: deterministic splits,
  * token-budget packing, normalized dedup, chunking, and the file-sink
  * streaming drain. Every query has a DuckDB oracle (all operators are
  * pure column/window arithmetic or exact string ops).
  */
object TrainingPrepQueries {

  /** t25's gram set: distinct `(doc_id, gram)` word trigrams; a text of
    * fewer than three words is one gram, its words joined (`""` for a
    * null text). The tokens are a column below the explode, so each
    * document is lowercased and split once and the fused
    * [[Dedup.wordNGrams]] takes the trigrams. Splitting inside a
    * `transform` lambda would re-split the document once per trigram:
    * Spark evaluates a lambda body per element, with no
    * common-subexpression reuse. */
  private[graft] def noveltyGrams(docs: DataFrame): DataFrame = {
    val w = col("w")
    docs.select(col("doc_id"), Dedup.words(col("text")).as("w"))
      .select(col("doc_id"),
        explode(when(size(w) >= 3, Dedup.wordNGrams(w, 3))
          .otherwise(array(concat_ws(" ", w)))).as("gram"))
      .distinct()
  }

  /** t12's BM25 scorer, factored out so s10's hybrid fusion reuses the
    * identical scoring path: (doc_id, score) for every document
    * matching ≥ 1 query term. See t12's entry for the determinism and
    * shuffle-shape notes. */
  private[graft] def bm25Scores(s: SparkSession, d: String,
                                qTerms: Seq[String]): DataFrame = {
    val toks = Tables.load(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
    val dl = toks.select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      sum(col("dl")).as("sdl")).collect()(0)
    val (nDocs, avgdl) = (stats.getDouble(0), stats.getDouble(1) / stats.getDouble(0))
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfreq), "term").join(dl, "doc_id")
      .select(col("doc_id"),
        round(log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (lit(1.2) + lit(1.0))) /
          (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
            lit(0.75) * col("dl") / lit(avgdl))), 6).as("ts"))
      .groupBy(col("doc_id"))
      .agg(sum(col("ts").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double").as("score"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- per-language quality-quantile filter (CCNet's shape) -------------
    // CCNet (Wenzek et al. 2020) buckets a crawl by language and keeps
    // each language's best fraction by a quality score — a cutoff
    // RELATIVE to the language's own distribution, because absolute
    // thresholds starve low-resource languages. Here: t03's language id
    // + t02's model-free quality, per-language EXACT median as the
    // cutoff (4-dp rounded — q32's engine-robust double rule), keep
    // count = docs at/above their language's cutoff. The cutoff
    // aggregation is per-language (tiny key space, map-side partials)
    // and broadcasts back — two scans of the scored frame, no window
    // over the corpus. Oracle composes the certified t03 + t02 SQL
    // blocks with quantile_cont.
    ("q71_lang_quality_filter",
      (s: SparkSession, d: String) => {
        val scored = Tables.load(s, d, "documents").select(
          TextAnalysis.langId(col("text")).as("pred_lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        val cuts = scored.groupBy(col("pred_lang"))
          .agg(round(expr("percentile(quality, 0.5)"), 4).as("cutoff"))
        scored.join(broadcast(cuts), "pred_lang")
          .groupBy(col("pred_lang"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("quality") >= col("cutoff"), 1)).as("n_kept"),
            min(col("cutoff")).as("cutoff"))
          .orderBy(col("pred_lang"))
      },
      Some("""WITH scored AS (
             |  SELECT
             |    CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
             |         WHEN len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |             t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t)))
             |           = greatest(
             |             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |               t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))),
             |             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |               t -> list_contains(['der','die','das','und','ist','ein','zu','den','von','mit'], t))),
             |             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |               t -> list_contains(['el','la','de','los','las','y','es','un','una','en'], t))),
             |             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |               t -> list_contains(['le','la','les','et','est','une','des','du','dans','pour'], t)))) THEN 'en'
             |         WHEN len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |             t -> list_contains(['der','die','das','und','ist','ein','zu','den','von','mit'], t)))
             |           = greatest(
             |             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |               t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))),
             |             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |               t -> list_contains(['der','die','das','und','ist','ein','zu','den','von','mit'], t))),
             |             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |               t -> list_contains(['el','la','de','los','las','y','es','un','una','en'], t))),
             |             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |               t -> list_contains(['le','la','les','et','est','une','des','du','dans','pour'], t)))) THEN 'de'
             |         WHEN len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |             t -> list_contains(['el','la','de','los','las','y','es','un','una','en'], t)))
             |           = greatest(
             |             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |               t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))),
             |             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |               t -> list_contains(['der','die','das','und','ist','ein','zu','den','von','mit'], t))),
             |             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |               t -> list_contains(['el','la','de','los','las','y','es','un','una','en'], t))),
             |             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |               t -> list_contains(['le','la','les','et','est','une','des','du','dans','pour'], t)))) THEN 'es'
             |         ELSE 'fr' END AS pred_lang,
             |    round(0.4 * least(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 100.0, 1.0)
             |        + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
             |        + 0.3 * least(CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |              t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))) AS DOUBLE)
             |            / len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5.0, 1.0),
             |        6) AS quality
             |  FROM documents),
             |cuts AS (SELECT pred_lang, round(quantile_cont(quality, 0.5), 4) AS cutoff
             |         FROM scored GROUP BY 1)
             |SELECT s.pred_lang, COUNT(*) AS n_docs,
             |  COUNT(CASE WHEN s.quality >= c.cutoff THEN 1 END) AS n_kept,
             |  MIN(c.cutoff) AS cutoff
             |FROM scored s JOIN cuts c USING (pred_lang)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- deterministic train/val split (id-hash, RNG-free) ----------------
    ("q40_train_split",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .groupBy(col("source"), TrainingPrep.splitAssign(col("doc_id"), 90).as("split"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("source"), col("split"))
      },
      Some("""SELECT source,
             |  CASE WHEN (((doc_id * 48271) % 2147483647 + 2147483647) % 2147483647) % 100 < 90
             |       THEN 'train' ELSE 'val' END AS split,
             |  COUNT(*) AS n_docs
             |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- greedy concat-packing into 512-token bins per shard --------------
    // Shard = (source, doc_id range of 100k): the window's state and sort
    // stay bounded per shard and parallelism scales with the corpus, not
    // with the handful of distinct sources — the cost is at most one
    // underfull bin per 100k-doc range.
    ("q41_token_packing",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .select(col("source"), col("doc_id"),
            floor(col("doc_id") / 100000).cast("long").as("id_range"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
          .withColumn("bin",
            TrainingPrep.packedBin(col("n_tokens"),
              struct(col("source"), col("id_range")), col("doc_id"), 512))
          .groupBy(col("source"), col("id_range"), col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("bin_tokens"))
          .orderBy(col("source"), col("id_range"), col("bin"))
      },
      Some("""WITH t AS (
             |  SELECT source, doc_id, CAST(doc_id // 100000 AS BIGINT) AS id_range,
             |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |b AS (
             |  SELECT source, id_range, n_tokens,
             |    CAST(floor((SUM(n_tokens) OVER (PARTITION BY source, id_range ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) - n_tokens) / 512) AS BIGINT) AS bin
             |  FROM t)
             |SELECT source, id_range, bin, COUNT(*) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
             |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ---- balanced downsampling to a uniform language mixture --------------
    // The pretraining-mix primitive: the corpus is lang-skewed (en ~3×
    // fr), so over-represented languages downsample to the smallest
    // language's count via a deterministic id-hash threshold. The keep
    // decision is one integer compare per row (map-side; no per-group
    // rank window shuffling the corpus), a group at/under the cap keeps
    // everything, and the only shuffles are the two tiny count
    // aggregations. `cap` is one scalar pre-pass (the mix spec a real
    // pipeline would read from config).
    ("q48_balanced_sample",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        val langCounts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
        val cap = langCounts.agg(min(col("n_lang"))).head().getLong(0)
        // per-lang sizes reach each row via a BROADCAST join of the tiny
        // counts table — a lang-partitioned window would shuffle the
        // whole corpus into one task per language (parallelism collapse
        // at 100 TB); this way the keep decision stays map-side.
        // Null-safe equality: groupBy emits a NULL-lang group (and so
        // does the oracle's GROUP BY), so a plain inner join would drop
        // those rows
        docs.join(broadcast(langCounts.withColumnRenamed("lang", "cl")),
            col("lang") <=> col("cl"))
          .drop("cl")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_total"),
            count_if(TrainingPrep.balancedKeep(col("doc_id"), col("n_lang"), cap))
              .as("n_kept"))
          .orderBy(col("lang"))
      },
      Some("""WITH c AS (SELECT MIN(n) AS cap FROM
             |    (SELECT COUNT(*) AS n FROM documents GROUP BY lang)),
             |n AS (SELECT lang, doc_id,
             |    COUNT(*) OVER (PARTITION BY lang) AS n_lang FROM documents)
             |SELECT lang, COUNT(*) AS n_total,
             |  CAST(COUNT(*) FILTER (
             |    (((doc_id * 48271) % 2147483647 + 2147483647) % 2147483647) % 1000000
             |      * n_lang < (SELECT cap FROM c) * 1000000) AS BIGINT) AS n_kept
             |FROM n GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- stratified EXACT-k sample (bounded grouped top-k by hash) --------
    // The third sampling primitive beside q48 (rate-capped, approximate
    // stratum size, append-stable) and q73 (derived rates): EXACTLY k
    // docs per stratum, picked as the k smallest LCG hashes — a uniform
    // without-replacement draw, deterministic on both engines. Runs
    // through the bounded TopCells aggregate (q70's machinery): map-side
    // partials hold ≤ k entries per stratum, the exchange carries
    // ≤ k·|strata| rows — never a corpus-wide window sort, the property
    // that makes exact-k feasible at 100 TB. The trade vs q40/q48's
    // hash-threshold membership: exact stratum sizes, but a corpus
    // append can displace a previously-picked doc (k-th smallest hash
    // moves) — pipelines wanting both pin the sample via st25-style
    // snapshot exports.
    ("q74_stratified_sample",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        docs.select(col("source"), col("doc_id"),
            (-TrainingPrep.hashBucket(col("doc_id"), 1000000).cast("double"))
              .as("nscore"))
          .groupBy(col("source"))
          .agg(graft.functions.TopCells.topCells(
            col("nscore"), col("doc_id"), 10).as("pick"))
          .select(col("source"), posexplode(col("pick")))
          .select(col("source"), col("col").as("doc_id"),
            (col("pos") + 1).cast("int").as("rank"))
          .orderBy(col("source"), col("rank"))
      },
      Some("""WITH r AS (
             |  SELECT source, doc_id,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY (((doc_id * 48271) % 2147483647 + 2147483647)
             |                 % 2147483647) % 1000000, doc_id) AS rank
             |  FROM documents)
             |SELECT source, doc_id, CAST(rank AS INT) AS rank
             |FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin)),

    // ---- deterministic shuffle-and-shard (training-order assignment) ------
    // The last step before a training run reads the corpus: a GLOBAL
    // pseudo-random order, materialized as nShards shard files read
    // sequentially by data loaders. Order key = the shared LCG hash of
    // doc_id (seeded, engine-exact); shard = key mod nShards, so a
    // doc's (shard, position) is a pure function of its id — reshuffling
    // for a new epoch is just a different seed, never a data move of
    // the old layout. Scale shape: shard assignment is map-side; the
    // within-shard order is the sortWithinPartitions a sharded WRITE
    // pays anyway (repartition by shard + sort by key), expressed here
    // as a per-shard window because the fixture check wants positions.
    // nShards scales with corpus/target-file-size at 100 TB (here 8),
    // keeping each shard's sort bounded; the LCG spreads doc_ids
    // uniformly, so shards stay balanced without sampling ranges. The
    // per-shard POSITIONAL checksum Σ doc_id·pos pins the exact order
    // on both engines — a swap of any two docs changes it.
    ("q75_shuffle_shard",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val nShards = 8
        val keyed = Tables.load(s, d, "documents")
          .select(col("doc_id"),
            TrainingPrep.hashBucket(col("doc_id"), 1000000).as("k"))
          .withColumn("shard", pmod(col("k"), lit(nShards)).cast("int"))
        val w = Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
        keyed.withColumn("pos", row_number().over(w).cast("long"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id") * col("pos")).as("ord_checksum"),
            min_by(col("doc_id"), col("pos")).as("first_doc"),
            max_by(col("doc_id"), col("pos")).as("last_doc"))
          .orderBy(col("shard"))
      },
      Some("""WITH k AS (SELECT doc_id,
             |    (((doc_id*48271)%2147483647+2147483647)%2147483647)%1000000 AS k
             |  FROM documents),
             |p AS (SELECT doc_id, k, CAST(k%8 AS INT) AS shard,
             |    row_number() OVER (PARTITION BY k%8 ORDER BY k, doc_id) AS pos
             |  FROM k)
             |SELECT shard, COUNT(*) AS n_docs,
             |  CAST(SUM(doc_id*pos) AS BIGINT) AS ord_checksum,
             |  arg_min(doc_id,pos) AS first_doc, arg_max(doc_id,pos) AS last_doc
             |FROM p GROUP BY shard ORDER BY shard""".stripMargin)),

    // ---- temperature-based mixture sampling (derived rates) ---------------
    // The XLM-R/mT5 mixing rule (Conneau et al. 2020): sampling
    // probabilities p_l ∝ c_l^α (α = 0.3) flatten the language
    // distribution so high-resource languages stop drowning the rest —
    // unlike q49, the rates are DERIVED FROM THE CORPUS, not fixed
    // weights. Target budget: half the corpus. Per-language rate =
    // min(1, N·p_l / c_l), quantized to basis points (round-to-nearest
    // of rate·10⁴) so the keep decision is an exact INTEGER compare of
    // the shared LCG bucket — the pow/sum double arithmetic can drift
    // by ulps between engines, but a half-integer landing of rate·10⁴
    // would be astronomically unlucky, and everything downstream of
    // the rounding is engine-exact. Scale shape: the rate table is
    // |langs|-bounded (tiny partial-agg'd count + broadcast back, the
    // q71 pattern) and the keep decision is map-side — the corpus
    // never shuffles.
    ("q73_temperature_mix",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.load(s, d, "documents")
        val wAll = Window.partitionBy() // |langs| rows — bounded
        val rates = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
          .withColumn("w", pow(col("n_docs").cast("double"), lit(0.3)))
          .withColumn("thresh",
            round(least(lit(1.0),
              lit(0.5) * sum(col("n_docs")).over(wAll) *
                (col("w") / sum(col("w")).over(wAll)) / col("n_docs"))
              * 10000).cast("long"))
          .select(col("lang"), col("n_docs"), col("thresh"))
        val sampled = docs.join(broadcast(rates), "lang")
          .filter(TrainingPrep.hashBucket(col("doc_id"), 10000) < col("thresh"))
          .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        rates.join(sampled, Seq("lang"), "left")
          .select(col("lang"), col("n_docs"),
            (col("thresh") / lit(10000.0)).as("sample_rate"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
          .orderBy(col("lang"))
      },
      Some("""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
             |r AS (SELECT lang, n_docs,
             |        CAST(round(LEAST(1.0, 0.5 * SUM(n_docs) OVER () *
             |             (POW(CAST(n_docs AS DOUBLE), 0.3) /
             |              SUM(POW(CAST(n_docs AS DOUBLE), 0.3)) OVER ()) / n_docs)
             |           * 10000) AS BIGINT) AS thresh
             |      FROM c),
             |k AS (SELECT d.lang, COUNT(*) AS n_sampled
             |      FROM documents d JOIN r USING (lang)
             |      WHERE (((d.doc_id * 48271) % 2147483647 + 2147483647) % 2147483647) % 10000
             |            < r.thresh
             |      GROUP BY 1)
             |SELECT r.lang, r.n_docs, r.thresh / 10000.0 AS sample_rate,
             |  COALESCE(k.n_sampled, CAST(0 AS BIGINT)) AS n_sampled
             |FROM r LEFT JOIN k USING (lang) ORDER BY r.lang""".stripMargin)),

    // ---- fractional-epoch upsampling (data-mix weighting) -----------------
    // The complementary mix primitive: under-represented languages
    // repeat fractionally (2.5 epochs = every doc twice, a
    // deterministic hash-chosen half a third time) — integer
    // milli-epoch arithmetic, so the expansion is engine-exact. The
    // explode is the only row expansion; repeats are bounded by the mix
    // weights, so output scales linearly with input.
    ("q49_epoch_mix",
      (s: SparkSession, d: String) => {
        val weights = typedLit(Map("de" -> 2500L, "es" -> 2000L,
          "fr" -> 2000L, "zh" -> 1500L))
        Tables.load(s, d, "documents")
          .withColumn("rep", TrainingPrep.epochRepeat(
            coalesce(element_at(weights, col("lang")), lit(1000L)), col("doc_id")))
          .select(col("lang"), col("rep"),
            explode(when(col("rep") > 0, sequence(lit(1L), col("rep")))
              .otherwise(array().cast("array<long>"))).as("epoch"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs_out"),
            count_if(col("epoch") === 1).as("n_docs_in"))
          .orderBy(col("lang"))
      },
      Some("""WITH w AS (
             |  SELECT lang, doc_id,
             |    CASE lang WHEN 'de' THEN 2500 WHEN 'es' THEN 2000
             |              WHEN 'fr' THEN 2000 WHEN 'zh' THEN 1500
             |              ELSE 1000 END AS mw
             |  FROM documents),
             |r AS (
             |  SELECT lang, mw // 1000 +
             |    CASE WHEN (((doc_id * 48271) % 2147483647 + 2147483647) % 2147483647) % 1000
             |              < mw % 1000 THEN 1 ELSE 0 END AS rep
             |  FROM w)
             |SELECT lang, CAST(SUM(rep) AS BIGINT) AS n_docs_out,
             |  CAST(COUNT(*) FILTER (rep > 0) AS BIGINT) AS n_docs_in
             |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- benchmark decontamination (n-gram membership vs eval set) --------
    // The pre-training hygiene step: flag every training doc sharing a
    // word 5-gram with the (small, broadcast) eval set — here a
    // deterministic doc_id slice standing in for a benchmark. Explode +
    // broadcast join + per-doc distinct count: linear in corpus size,
    // no self-join. Flagged docs include the eval docs themselves plus
    // any overlapping training docs — what gets quarantined pre-training.
    ("q51_decontaminate",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        Dedup.contaminatedDocs(docs, docs.filter(col("doc_id") % 23 === 0),
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
             |SELECT g.doc_id,
             |  CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_shared
             |FROM g JOIN e USING (gram)
             |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),

    // ---- leakage-free (cluster-aware) train/val split ---------------------
    // q40 hashes the DOCUMENT id, which puts two near-duplicate docs on
    // opposite sides of the split ~2·p·(1-p) of the time — the classic
    // eval-contamination leak. The fix: hash the split UNIT instead —
    // a doc's near-dup cluster label (c02's connected components over
    // word-8-gram pairs) when it has one, the doc itself when it
    // doesn't — so an entire dup cluster lands on ONE side by
    // construction (TrainingPrepSpec asserts no pair crosses). Same
    // RNG-free Lehmer assignment as q40, so the choice is reproducible
    // across runs and engines; the oracle re-derives the clusters with
    // the c02 recursive-CTE closure and applies the identical hash.
    // At 100 TB the added cost over q40 is exactly the c02 clustering
    // (banded pair generation + hash-min convergence); the split
    // itself stays one map-side integer compare per row.
    ("q67_leakage_free_split",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        val clusters = Dedup.connectedComponents(
            Dedup.substringNearDupPairs(docs, "doc_id", "text", n = 8))
          .select(col("id").as("doc_id"), col("label").as("cluster"))
        docs.select(col("doc_id"))
          .join(clusters, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("unit"))
          .groupBy(TrainingPrep.splitAssign(col("unit"), 90).as("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("unit")).as("n_units"))
          .orderBy(col("split"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
             |      FROM w, unnest(range(1, greatest(len(w)-6, 1))) AS u(i)),
             |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
             |e AS (SELECT id_a AS src, id_b AS dst FROM p
             |      UNION ALL SELECT id_b, id_a FROM p),
             |nodes AS (SELECT DISTINCT src AS id FROM e),
             |reach AS (
             |  WITH RECURSIVE r(id, v) AS (
             |    SELECT id, id FROM nodes
             |    UNION
             |    SELECT r.id, e.dst FROM r JOIN e ON e.src = r.v)
             |  SELECT id, min(v) AS cluster FROM r GROUP BY id),
             |u AS (SELECT d.doc_id, coalesce(reach.cluster, d.doc_id) AS unit
             |      FROM documents d LEFT JOIN reach ON reach.id = d.doc_id)
             |SELECT CASE WHEN (((unit * 48271) % 2147483647 + 2147483647) % 2147483647) % 100 < 90
             |       THEN 'train' ELSE 'val' END AS split,
             |  COUNT(*) AS n_docs,
             |  CAST(COUNT(DISTINCT unit) AS BIGINT) AS n_units
             |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- BM25 lexical retrieval (Okapi k1=1.2, b=0.75) --------------------
    // The search primitive data curation keeps reaching for (find docs
    // matching a topic, rank exemplars, build eval slices): classic
    // BM25 over the house tokenizer. Corpus stats (N, Σdl) are one
    // scalar pre-pass (the q48 config-read pattern); tf arrives
    // map-side filtered to the query terms BEFORE the per-(doc, term)
    // aggregate, so the shuffle carries matching postings only — at
    // 100 TB that is |docs containing a query term|, not the corpus.
    // Float determinism: every input to the formula is an exact
    // integer in a double; per-term scores are 6-dp-rounded and summed
    // in DECIMAL(18,6) (the CoreQueries rule), so term order can't
    // leak; constants are written as the same double EXPRESSIONS on
    // both sides ((1.2 + 1), not 2.2 — parsing vs folding could differ
    // by an ulp). Top 10 by (score desc, doc_id).
    ("t12_bm25_search",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        // TakeOrderedAndProject (orderBy+limit), NOT a global row_number
        // window: an unpartitioned window sorts the whole scored corpus
        // through one task — the q86/t14 discipline. The rank window
        // runs over the 10 survivors only.
        bm25Scores(s, d, Seq("join", "vector", "scan"))
          .orderBy(col("score").desc, col("doc_id")).limit(10)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id"))).cast("int"))
          .orderBy(col("rank"))
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
             |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM tk),
             |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |         SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
             |tf AS (SELECT doc_id, u.term AS term, CAST(COUNT(*) AS DOUBLE) AS tf
             |       FROM tk, unnest(toks) AS u(term)
             |       WHERE u.term IN ('join', 'vector', 'scan') GROUP BY 1, 2),
             |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id,
             |         round(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
             |           (tf.tf * (1.2 + 1)) /
             |           (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)), 6) AS ts
             |       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
             |agg AS (SELECT doc_id,
             |          CAST(SUM(CAST(ts AS DECIMAL(18,6))) AS DOUBLE) AS score
             |        FROM sc GROUP BY 1)
             |SELECT doc_id, score, CAST(rank AS INT) AS rank FROM (
             |  SELECT doc_id, score,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM agg)
             |WHERE rank <= 10 ORDER BY rank""".stripMargin)),

    // ---- unigram-LM log-probability scoring (perplexity-style filter) -----
    // The CCNet-shaped quality signal without a shipped KenLM: train a
    // unigram LM on the corpus itself (p(w) = n_w / N over the house
    // tokenizer) and score each doc by its mean token log-probability —
    // low scores flag rare-token noise, high scores flag common-token
    // boilerplate; real pipelines band on this (the q48/q49 mixture
    // machinery composes downstream). Per-token log-probs round to 6 dp
    // and sum in DECIMAL(18,6), so token order can't leak; the corpus
    // total is one scalar pre-pass. Scale shape: the token→count join
    // keys on the term (the vocabulary — Catalyst picks broadcast vs
    // shuffle by its size) and everything else is map-side; the per-doc
    // aggregate carries (doc_id, 6-dp decimal) rows only.
    ("t13_unigram_logprob",
      (s: SparkSession, d: String) => {
        val toks = Tables.load(s, d, "documents")
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
        val total = toks.count().toDouble
        val vocab = toks.groupBy(col("term"))
          .agg(count(lit(1)).cast("double").as("n_w"))
        toks.join(vocab, "term")
          .select(col("doc_id"), round(log(col("n_w") / lit(total)), 6).as("lp"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            // exact integer micro-logprob total: each lp is a 6-dp value,
            // so the DECIMAL sum x 1e6 is an exact BIGINT on both engines
            // (a divided-then-rounded double avg hit a half-way rounding
            // boundary at sf0.1 - engines disagree on double halves)
            (sum(col("lp").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
              * 1000000).cast("long").as("sum_lp_micro"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, u.term AS term FROM documents,
             |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(term)),
             |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM t),
             |v AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS n_w FROM t GROUP BY 1),
             |lp AS (SELECT t.doc_id, round(ln(v.n_w / tot.n), 6) AS lp
             |       FROM t JOIN v USING (term) CROSS JOIN tot)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(CAST(lp AS DECIMAL(18,6))) * 1000000 AS BIGINT)
             |    AS sum_lp_micro
             |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- formatting-insensitive exact dedup on canonical text -------------
    ("d07_normalized_dedup",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .groupBy(TrainingPrep.normalized(col("text")).as("canon"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents
             |GROUP BY trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
             |ORDER BY keep_id""".stripMargin)),

    // ---- overlapping character chunks (size 200, stride 150) --------------
    ("t05_chunk_docs",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("text"),
            posexplode(TrainingPrep.chunkStarts(col("text"), 150)))
          .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
            col("text").substr(col("col") + 1, lit(200)).as("chunk"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some("""SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
             |  substr(text, CAST(u.i*150+1 AS INT), 200) AS chunk
             |FROM documents,
             |  unnest(range(0, CAST(ceil(length(text)/150.0) AS BIGINT))) AS u(i)
             |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- incremental dedup: delta batch vs existing corpus ----------------
    // The append-time workflow: only NEW docs (delta) are checked against
    // the existing base — a bipartite prefix-blocked join, never
    // base×base. At scale the base side is the materialized
    // shingle/signature table and the delta is a day's ingest.
    // maxBucket = 0 is the exact-oracle regime; production caps both
    // sides' prefix buckets (see Dedup.incrementalJaccardDups and the
    // DedupSimilaritySpec boilerplate-corpus test).
    ("d08_incremental_dedup",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        Dedup.incrementalJaccardDups(
            base = docs.filter(col("doc_id") < 400),
            delta = docs.filter(col("doc_id") >= 400),
            "doc_id", "text", n = 2, prefixLen = 50,
            threshold = 0.5, maxBucket = 0)
          .orderBy(col("delta_id"), col("base_id"))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, substr(text, 1, 50) AS pfx,
             |    list_distinct(list_transform(range(1, greatest(len(w), 2)),
             |                  i -> w[i] || ' ' || w[i+1])) AS g
             |  FROM (SELECT doc_id, text,
             |          string_split_regex(lower(text), '\s+') AS w FROM documents))
             |SELECT d.doc_id AS delta_id, b.doc_id AS base_id,
             |  round(CAST(len(list_intersect(d.g, b.g)) AS DOUBLE)
             |    / len(list_distinct(d.g || b.g)), 6) AS jaccard
             |FROM grams d JOIN grams b
             |  ON d.pfx = b.pfx AND d.doc_id >= 400 AND b.doc_id < 400
             |WHERE round(CAST(len(list_intersect(d.g, b.g)) AS DOUBLE)
             |    / len(list_distinct(d.g || b.g)), 6) >= 0.5
             |ORDER BY delta_id, base_id""".stripMargin)),

    // ---- Gopher-style repetition filter signal ----------------------------
    ("t06_repetition",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .select(col("doc_id"),
            round(TextAnalysis.repetitionRatio(col("text")), 6).as("rep_ratio"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  round(CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) = 0 THEN 0.0
             |    ELSE 1.0 - CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS DOUBLE)
             |         / len(regexp_extract_all(lower(text), '[a-z0-9]+')) END, 6) AS rep_ratio
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- per-source heavy hitters (top-5 terms) ---------------------------
    ("t07_top_terms",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val terms = Tables.load(s, d, "documents")
          .select(col("source"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
          .groupBy(col("source"), col("term"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("term"))
        terms.withColumn("rank", row_number().over(w).cast("int"))
          .filter(col("rank") <= 5)
          .orderBy(col("source"), col("rank"))
      },
      Some("""WITH t AS (
             |  SELECT source, u.term AS term, COUNT(*) AS n
             |  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(term)
             |  GROUP BY 1, 2)
             |SELECT source, term, n, CAST(rank AS INT) AS rank FROM (
             |  SELECT source, term, n,
             |    row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rank
             |  FROM t)
             |WHERE rank <= 5 ORDER BY source, rank""".stripMargin)),

    // ---- text analysis: TF-IDF keyword extraction -------------------------
    // Per-doc top-3 keywords. Ranking is INTEGER-exact — (tf desc,
    // df asc, term asc), i.e. most frequent locally, rarest globally —
    // so no float ever decides a row's presence; the tfidf double
    // (tf·ln(N/df), the classic score) is emitted round-6 for display.
    // ln is the one libm (not IEEE-exact) function in any oracle, so
    // the boundary margin is MEASURED, not assumed: across all three
    // sfs the closest tf·ln(N/df) sits 3.0e-4 (in 1e-6 rounding units)
    // from a round-6 boundary vs a ≤1.8e-9 worst-case 1-ulp
    // JVM-vs-glibc divergence — 5 orders of magnitude of headroom.
    // df is a
    // vocabulary-sized aggregate (broadcastable at corpus scale); N is
    // a broadcast 1-row frame, never a driver collect.
    ("t08_tfidf_keywords",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val tf = Tables.load(s, d, "documents")
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        // df derives from tf's aggregate (one row per (doc, term)), so
        // the corpus is exploded and shuffled ONCE — a second
        // explode+countDistinct pass over raw text would double the
        // heavy stage for the same answer
        val df = tf.groupBy(col("term"))
          .agg(count(lit(1)).as("df"))
        val nDocs = Tables.load(s, d, "documents")
          .agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df"), col("term"))
        tf.join(df, "term").crossJoin(broadcast(nDocs))
          .withColumn("rank", row_number().over(w).cast("int"))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
            round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
              .as("tfidf"))
          .orderBy(col("doc_id"), col("rank"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, u.term AS term
             |  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(term)),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents)
             |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df,
             |  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
             |FROM (
             |  SELECT t.doc_id, t.term, t.tf, f.df, n.n_docs,
             |    row_number() OVER (PARTITION BY t.doc_id
             |      ORDER BY t.tf DESC, f.df ASC, t.term) AS rank
             |  FROM tf t JOIN df f USING (term) CROSS JOIN n)
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // ---- PII redaction (regex scrub in the scan projection) ---------------
    // The synthetic corpus carries no natural PII, so the query derives
    // a deterministic PII-bearing text from doc_id (emails for ids
    // not ≡0 mod 3, phones mod 4, IPs mod 5) and both engines apply the
    // SAME derivation — the oracle then certifies the redaction chain
    // and the per-type counts, not the synthesis. All codegen'd
    // regexp_replace/extract_all: no UDF, no shuffle, scales as a pure
    // map over the corpus.
    ("t09_pii_redact",
      (s: SparkSession, d: String) => {
        val id = col("doc_id")
        val email = when(id % 3 =!= 0,
          concat(lit(" contact user"), id.cast("string"),
            lit("@example.com"))).otherwise("")
        val phone = when(id % 4 =!= 0,
          concat(lit(" call +1-555-"),
            lpad((id % 10000).cast("string"), 4, "0"))).otherwise("")
        val ip = when(id % 5 =!= 0,
          concat(lit(" from 10."), (id % 256).cast("string"), lit(".0."),
            ((id * 7) % 256).cast("string"))).otherwise("")
        val pii = concat(col("text"), email, phone, ip)
        Tables.load(s, d, "documents")
          .select(col("doc_id"),
            TextAnalysis.patternCount(pii, TextAnalysis.EmailPattern).as("n_emails"),
            TextAnalysis.patternCount(pii, TextAnalysis.PhonePattern).as("n_phones"),
            TextAnalysis.patternCount(pii, TextAnalysis.Ipv4Pattern).as("n_ips"),
            TextAnalysis.redactPii(pii).as("redacted"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    text ||
             |    CASE WHEN doc_id % 3 <> 0
             |      THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
             |    CASE WHEN doc_id % 4 <> 0
             |      THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |      ELSE '' END ||
             |    CASE WHEN doc_id % 5 <> 0
             |      THEN ' from 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256)
             |      ELSE '' END AS pii
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(pii,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
             |  CAST(len(regexp_extract_all(pii,
             |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
             |  CAST(len(regexp_extract_all(pii,
             |    '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS INT) AS n_ips,
             |  regexp_replace(regexp_replace(regexp_replace(pii,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS redacted
             |FROM p ORDER BY doc_id""".stripMargin)),

    // ---- word-entropy + type-token-ratio quality signals ------------------
    // Two information-theoretic quality filters over the word
    // distribution: Shannon entropy H = ln(n)/ln2 − Σc·ln(c)/(n·ln2)
    // (low-entropy docs are boilerplate/spam) and type-token ratio.
    // One explode + two-level aggregation — the per-(doc,word) partial
    // combines map-side, so the shuffle carries distinct words, not
    // occurrences. Identical expression shape in both engines; 6-dp
    // rounding absorbs summation-order ulps.
    ("t10_word_entropy",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .select(col("doc_id"), explode(Dedup.words(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("doc_id"), col("w"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"),
            sum(col("c").cast("double") * log(col("c").cast("double"))).as("slc"),
            count(lit(1)).as("nd"))
          .select(col("doc_id"), col("n"),
            round((log(col("n").cast("double")) - col("slc") / col("n")) /
              log(lit(2.0)), 6).as("entropy_bits"),
            round(col("nd").cast("double") / col("n"), 6).as("ttr"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id, u.w AS w
             |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
             |        FROM documents), unnest(ws) AS u(w)
             |  WHERE len(u.w) > 0),
             |c AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
             |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             |        SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS slc,
             |        COUNT(*) AS nd
             |      FROM c GROUP BY 1)
             |SELECT doc_id, n,
             |  round((ln(CAST(n AS DOUBLE)) - slc / n) / ln(2.0), 6) AS entropy_bits,
             |  round(CAST(nd AS DOUBLE) / n, 6) AS ttr
             |FROM a ORDER BY doc_id""".stripMargin)),

    // ---- duplicated-gram ratio (cross-doc boilerplate signal) -------------
    // Fraction of a document's distinct 8-grams that also occur in at
    // least one OTHER document — the memorization-risk / boilerplate
    // signal (d09 tells you WHICH pairs collide; t11 scores each doc by
    // HOW MUCH of it is shared). Gram doc-frequencies come from one
    // explode + count-distinct aggregate — vocabulary-sized, not
    // corpus-sized — then join back on gram. Only docs with ≥ 8 words
    // have grams; others drop (matches the oracle's join semantics).
    ("t11_dup_gram_ratio",
      (s: SparkSession, d: String) => {
        val grams = Tables.load(s, d, "documents")
          .select(col("doc_id"),
            explode(Dedup.wordNGrams(Dedup.words(col("text")), 8)).as("gram"))
        val dfreq = grams.groupBy(col("gram"))
          .agg(countDistinct(col("doc_id")).as("df"))
        grams.join(dfreq, "gram")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
          .select(col("doc_id"), col("n_grams"), col("n_shared"),
            round(col("n_shared").cast("double") / col("n_grams"), 6).as("dup_ratio"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
             |  FROM (SELECT doc_id,
             |          string_split_regex(lower(text), '\s+') AS w FROM documents),
             |       unnest(range(1, greatest(len(w)-6, 1))) AS u(i)),
             |f AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY 1)
             |SELECT g.doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_grams,
             |  CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             |  round(CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / COUNT(*), 6) AS dup_ratio
             |FROM g JOIN f USING (gram)
             |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),

    // ---- collocation mining (bigram PMI — vocabulary induction) -----------
    // The tokenizer/phrase-mining primitive: top adjacent word pairs
    // by corpus frequency, scored with pointwise mutual information
    // ln(P(ab) / (P(a)·P(b))). Ranking and row MEMBERSHIP are
    // INTEGER-exact — (pair count desc, a, b) — the float PMI is
    // display-only (t08's discipline: no float ever decides a row's
    // presence, and the t08-measured ln headroom argument carries
    // over). Scale shape: the bigram explode is map-side (transform
    // over the token array — no self-join on position), pair counts
    // are one map-side-combinable aggregate, and the global top-k is
    // TakeOrdered (bounded, never a full sort). The unigram joins
    // happen AFTER the top-k prune, so the broadcast side is the 20
    // surviving pairs — the vocabulary-sized unigram table is never
    // broadcast or collected. PMI operands cast to double BEFORE
    // multiplying (token-count products overflow int64 at corpus
    // scale), in identical association order on both engines.
    ("t14_collocations",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val toks = Tables.load(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("w"))
        val uni = toks.select(explode(col("w")).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("n_term"))
        val tot = toks.agg(
          sum(size(col("w"))).cast("long").as("n_uni"),
          sum(when(size(col("w")) >= 2, size(col("w")) - 1).otherwise(0))
            .cast("long").as("n_pairs"))
        val top = toks.filter(size(col("w")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(w)-1), i -> struct(w[i-1] AS a, w[i] AS b))"))
            .as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_pair"))
          .orderBy(col("n_pair").desc, col("a"), col("b")).limit(20)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("n_pair").desc, col("a"), col("b"))).cast("int"))
        val ua = uni.select(col("term").as("a"), col("n_term").as("n_a"))
        val ub = uni.select(col("term").as("b"), col("n_term").as("n_b"))
        broadcast(top).join(ua, "a").join(ub, "b")
          .crossJoin(broadcast(tot))
          .select(col("rank"), col("a"), col("b"), col("n_pair"),
            col("n_a"), col("n_b"),
            round(log((col("n_pair").cast("double") * col("n_uni") * col("n_uni"))
              / (col("n_pairs").cast("double") * col("n_a") * col("n_b"))), 6)
              .as("pmi"))
          .orderBy(col("rank"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
             |  FROM documents),
             |uni AS (SELECT u.term, COUNT(*) AS n_term
             |        FROM toks, unnest(w) AS u(term) GROUP BY 1),
             |tot AS (SELECT CAST(SUM(len(w)) AS BIGINT) AS n_uni,
             |          CAST(SUM(CASE WHEN len(w) >= 2 THEN len(w) - 1 ELSE 0 END)
             |            AS BIGINT) AS n_pairs
             |        FROM toks),
             |pr AS (SELECT w[CAST(u.i AS INT)] AS a, w[CAST(u.i AS INT) + 1] AS b
             |       FROM toks, unnest(range(1, len(w))) AS u(i)
             |       WHERE len(w) >= 2),
             |pc AS (SELECT a, b, COUNT(*) AS n_pair FROM pr GROUP BY 1, 2),
             |top AS (SELECT a, b, n_pair,
             |          row_number() OVER (ORDER BY n_pair DESC, a, b) AS rank
             |        FROM pc QUALIFY rank <= 20)
             |SELECT CAST(rank AS INT) AS rank, a, b, n_pair,
             |  ua.n_term AS n_a, ub.n_term AS n_b,
             |  round(ln((CAST(n_pair AS DOUBLE) * n_uni * n_uni)
             |        / (CAST(n_pairs AS DOUBLE) * ua.n_term * ub.n_term)), 6) AS pmi
             |FROM top JOIN uni ua ON top.a = ua.term
             |JOIN uni ub ON top.b = ub.term CROSS JOIN tot
             |ORDER BY rank""".stripMargin)),

    // ---- Gopher rule filter (integer-exact quality gates) -----------------
    // The Rae et al. 2021 (Gopher §A1.1) rule family as a per-rule
    // failure report plus the surviving-doc count: word-count range,
    // mean-word-length range, symbol-to-word ratio, alphabetic-word
    // fraction, stopword presence. EVERY threshold compare is
    // cross-multiplied into pure integer arithmetic (10·symbols <
    // words instead of symbols/words < 0.1), so no ratio is ever a
    // float and no rule can flap on a borderline doc — the q76/q78
    // discipline applied to the classic LLM-corpus filter. One scan
    // computes all rule counters in the same projection; the report is
    // a constant-size unpivot (6 rows). Failing docs never materialize
    // — at 100 TB the same predicates gate the write path directly.
    ("t15_gopher_rules",
      (s: SparkSession, d: String) => {
        val words = split(col("text"), "\\s+")
        val nWords = size(words).cast("long")
        val wordChars = aggregate(transform(words, w => length(w)),
          lit(0L), (acc, x) => acc + x)
        val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
        val nHash = (length(col("text")) -
          length(regexp_replace(col("text"), "#", ""))).cast("long")
        val nEllipsis = ((length(col("text")) -
          length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("long")
        val symbols = nHash + nEllipsis
        val stopHits = size(array_intersect(
          array_distinct(TextAnalysis.tokens(lower(col("text")))),
          array(TextAnalysis.StopEn.map(lit): _*))).cast("long")
        val f1 = nWords < 50L || nWords > 100000L
        val f2 = wordChars < nWords * 3L || wordChars > nWords * 10L
        val f3 = symbols * 10L >= nWords
        val f4 = alphaWords * 5L <= nWords * 4L
        val f5 = stopHits < 2L
        val a = Tables.load(s, d, "documents").agg(
          sum(when(f1, 1L).otherwise(0L)).as("n1"),
          sum(when(f2, 1L).otherwise(0L)).as("n2"),
          sum(when(f3, 1L).otherwise(0L)).as("n3"),
          sum(when(f4, 1L).otherwise(0L)).as("n4"),
          sum(when(f5, 1L).otherwise(0L)).as("n5"),
          sum(when(!f1 && !f2 && !f3 && !f4 && !f5, 1L).otherwise(0L)).as("nk"))
        a.selectExpr(
          """stack(6,
             |'1_word_count', n1, '2_mean_word_len', n2, '3_symbol_ratio', n3,
             |'4_alpha_fraction', n4, '5_stopwords', n5, 'all_pass', nk)
             |AS (rule, n_docs)""".stripMargin.replace("\n", " "))
          .orderBy(col("rule"))
      },
      Some("""WITH x AS (
             |  SELECT len(string_split_regex(text, '\s+')) AS w,
             |    list_sum(list_transform(string_split_regex(text, '\s+'),
             |      s -> length(s))) AS wc,
             |    len(list_filter(string_split_regex(text, '\s+'),
             |      s -> regexp_matches(s, '[A-Za-z]'))) AS aw,
             |    (length(text) - length(replace(text, '#', '')))
             |      + (length(text) - length(replace(text, '...', ''))) // 3 AS sy,
             |    len(list_intersect(
             |      list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')),
             |      ['the','a','of','and','to','in','is','it','that','on'])) AS sh
             |  FROM documents),
             |f AS (
             |  SELECT w < 50 OR w > 100000 AS f1,
             |    wc < w * 3 OR wc > w * 10 AS f2,
             |    sy * 10 >= w AS f3,
             |    aw * 5 <= w * 4 AS f4,
             |    sh < 2 AS f5
             |  FROM x),
             |a AS (
             |  SELECT CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |    CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             |    CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             |    CAST(SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
             |    CAST(SUM(CASE WHEN f5 THEN 1 ELSE 0 END) AS BIGINT) AS n5,
             |    CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND NOT f4
             |                  AND NOT f5 THEN 1 ELSE 0 END) AS BIGINT) AS nk
             |  FROM f)
             |SELECT rule, n_docs FROM (
             |  SELECT '1_word_count' AS rule, n1 AS n_docs FROM a
             |  UNION ALL SELECT '2_mean_word_len', n2 FROM a
             |  UNION ALL SELECT '3_symbol_ratio', n3 FROM a
             |  UNION ALL SELECT '4_alpha_fraction', n4 FROM a
             |  UNION ALL SELECT '5_stopwords', n5 FROM a
             |  UNION ALL SELECT 'all_pass', nk FROM a)
             |ORDER BY rule""".stripMargin)),

    // ---- bigram-LM log-probability scoring (order-2 perplexity filter) ----
    // t13's quality signal one model order up — the step toward the
    // CCNet 5-gram KenLM without shipping a model: an add-one-smoothed
    // bigram LM trained on the corpus itself, p(w₂|w₁) =
    // (c(w₁w₂)+1)/(c(w₁)+V), scoring each doc by its mean bigram
    // log-probability. Catches wrong-ORDER token salads t13's unigram
    // model scores as fluent (same tokens, shuffled). Float discipline
    // is t13's: per-bigram log-probs round to 6 dp and sum in
    // DECIMAL(18,6) so position order can't leak; V and nothing else
    // is a driver scalar (one distinct-count pre-pass, the q48 rule).
    // Scale shape: the bigram→count join keys on the bigram (the
    // order-2 vocabulary — Catalyst sizes broadcast vs shuffle), the
    // unigram join on the term, and the per-doc aggregate carries
    // (doc_id, 6-dp decimal) rows only.
    ("t17_bigram_logprob",
      (s: SparkSession, d: String) => {
        val toks = Tables.load(s, d, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokens(lower(col("text"))).as("toks"))
        val uni = toks.select(explode(col("toks")).as("term"))
          .groupBy(col("term"))
          .agg(count(lit(1)).cast("double").as("c1"))
        val vocab = uni.count().toDouble
        val bg = toks.filter(size(col("toks")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(toks) - 1), " +
              "i -> struct(concat(toks[i-1], ' ', toks[i]) AS bg, " +
              "toks[i-1] AS term))")).as("x"))
          .select(col("doc_id"), col("x.bg").as("bg"), col("x.term").as("term"))
        val cb = bg.groupBy(col("bg"))
          .agg(count(lit(1)).cast("double").as("c12"))
        bg.join(cb, "bg").join(uni, "term")
          .select(col("doc_id"),
            round(log((col("c12") + 1.0) / (col("c1") + vocab)), 6).as("lp"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            // exact integer micro-logprob total: each lp is a 6-dp value,
            // so the DECIMAL sum x 1e6 is an exact BIGINT on both engines
            // (a divided-then-rounded double avg hit a half-way rounding
            // boundary at sf0.1 - engines disagree on double halves)
            (sum(col("lp").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
              * 1000000).cast("long").as("sum_lp_micro"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
             |  FROM documents),
             |un AS (SELECT u.term AS term, CAST(COUNT(*) AS DOUBLE) AS c1
             |       FROM t, unnest(toks) AS u(term) GROUP BY 1),
             |vv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM un),
             |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg,
             |         toks[i] AS term
             |       FROM t, unnest(range(1, len(toks))) AS u(i)
             |       WHERE len(toks) >= 2),
             |cb AS (SELECT bg, CAST(COUNT(*) AS DOUBLE) AS c12
             |       FROM bg GROUP BY 1),
             |lp AS (SELECT bg.doc_id,
             |         round(ln((cb.c12 + 1.0) / (un.c1 + vv.v)), 6) AS lp
             |       FROM bg JOIN cb USING (bg) JOIN un USING (term)
             |       CROSS JOIN vv)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(CAST(lp AS DECIMAL(18,6))) * 1000000 AS BIGINT)
             |    AS sum_lp_micro
             |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- cross-document boilerplate chunk report (paragraph dedup) --------
    // The CCNet/RefinedWeb line-dedup step (Wenzek et al. 2020, Penedo
    // et al. 2023) at chunk granularity — the fixture has no newline
    // structure, so consecutive non-overlapping 10-word chunks stand in
    // for lines: a chunk recurring across ≥ 3 documents is
    // navigation/header boilerplate and every occurrence is flagged
    // (the order-free removal rule — no global first-occurrence sort).
    // Distinct from q51 (eval-set contamination) and d09 (doc-level dup
    // pairs): this finds INTRA-corpus repeated fragments inside
    // otherwise-distinct documents. Scale shape (Dedup
    // .boilerplateChunks): chunking is map-side transform over the
    // token array, the one shuffle is the chunk-df aggregate over
    // DISTINCT (chunk, doc) rows, and the df join back is chunk-keyed.
    // All counts integer-exact.
    ("t16_boilerplate_chunks",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        Dedup.boilerplateChunks(docs, "doc_id", "text", chunkWords = 10)
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_boiler_chunks"),
            countDistinct(when(col("df") >= 3, col("doc_id"))).as("n_docs_hit"))
          .orderBy(col("source"))
      },
      Some("""WITH w AS (SELECT doc_id, source,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |ch AS (SELECT doc_id, source,
             |         array_to_string(w[(i-1)*10+1 : (i-1)*10+10], ' ') AS chunk
             |       FROM w, unnest(range(1, len(w)//10 + 1)) AS u(i)),
             |df AS (SELECT chunk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
             |       FROM ch GROUP BY 1)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
             |  CAST(SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_boiler_chunks,
             |  CAST(COUNT(DISTINCT CASE WHEN df >= 3 THEN doc_id END) AS BIGINT)
             |    AS n_docs_hit
             |FROM ch JOIN df USING (chunk)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- streaming drain to a parquet file sink (Append + watermark) ------
    // The scale-path streaming story as an oracle-checked query: only
    // watermark-finalized windows land in the sink.
    ("st04_stream_file_drain",
      (s: SparkSession, d: String) => {
        EventStream.runToFiles(s,
            EventStream.hourlyCounts(EventStream.readEvents(s, d)))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""WITH e AS (
             |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |    event_type, CAST(ts AS TIMESTAMP) AS t
             |  FROM events),
             |wm AS (SELECT max(t) - INTERVAL 1 HOUR AS w FROM e)
             |SELECT hour, event_type, COUNT(*) AS n_events
             |FROM e, wm
             |GROUP BY hour, event_type, wm.w
             |HAVING hour + INTERVAL 1 HOUR <= wm.w
             |ORDER BY hour, event_type""".stripMargin)),

    // ---- vocabulary growth curve (Heaps'-law corpus diagnostic) -----------
    // Distinct-vocabulary size vs cumulative token count at ingest
    // checkpoints (doc_id div 50 buckets) — the corpus-health curve
    // that tells a pipeline whether new data still contributes new
    // vocabulary (Heaps' law: V ∝ N^β) or has gone stale/duplicated.
    // Distinct from t07 (top terms) and t10 (entropy): this measures
    // GROWTH across the ingest order, not a point distribution.
    // Scale shape: first-occurrence per term is a min-aggregate keyed
    // on the term (the shuffle carries the distinct vocabulary, not
    // the token stream); the cumulative window then runs over the
    // BOUNDED checkpoint frame (≤ max_doc/50 rows — not the corpus,
    // the t12 lesson), and the bucket id is pure integer arithmetic
    // on doc_id, so no global sort anywhere. All counts integer.
    ("t19_vocab_growth",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val words = Tables.load(s, d, "documents")
          .select(expr("doc_id div 50").as("b"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
        val toks = words.groupBy(col("b")).agg(count(lit(1)).as("n_tokens"))
        val novel = words.groupBy(col("term")).agg(min(col("b")).as("fb"))
          .groupBy(col("fb")).agg(count(lit(1)).as("n_new"))
        val w = Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        toks.join(novel, col("b") === col("fb"), "left")
          .select(col("b").as("bucket"), col("n_tokens"),
            coalesce(col("n_new"), lit(0L)).as("n_new"))
          .select(col("bucket"),
            sum(col("n_tokens")).over(w).as("cum_tokens"),
            sum(col("n_new")).over(w).as("vocab"),
            col("n_new"))
          .orderBy(col("bucket"))
      },
      Some("""WITH w AS (SELECT doc_id // 50 AS b, u.term AS term
             |  FROM documents,
             |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(term)),
             |tk AS (SELECT b, COUNT(*) AS n_tokens FROM w GROUP BY 1),
             |nv AS (SELECT fb, COUNT(*) AS n_new FROM
             |         (SELECT term, MIN(b) AS fb FROM w GROUP BY 1) GROUP BY 1)
             |SELECT CAST(b AS BIGINT) AS bucket,
             |  CAST(SUM(n_tokens) OVER (ORDER BY b
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS cum_tokens,
             |  CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY b
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS vocab,
             |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
             |FROM tk LEFT JOIN nv ON b = fb
             |ORDER BY bucket""".stripMargin)),

    // ---- context-length truncation-loss sweep -----------------------------
    // The report that picks max_seq_len: for each candidate context
    // length, how many tokens are LOST if every document is truncated
    // there, and how many documents are cut at all — parts-per-million
    // by integer cross-multiplication, no float. Complements q41
    // (which PACKS at one budget) and t05 (which chunks with overlap):
    // this is the cheap aggregate diagnostic run before either.
    // Scale shape: one scan computing the per-doc token count, a
    // 3-way explode of the candidate lengths (map-side), and one
    // combinable aggregate per length — output is |lengths| rows.
    ("t20_truncation_loss",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .select(TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
          .select(explode(array(lit(512L), lit(1024L), lit(2048L))).as("ctx"),
            col("n"))
          .groupBy(col("ctx"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n")).as("total_tokens"),
            sum(greatest(col("n") - col("ctx"), lit(0L))).as("lost_tokens"),
            sum(when(col("n") > col("ctx"), 1L).otherwise(0L)).as("n_truncated"))
          .select(col("ctx"), col("n_docs"), col("total_tokens"),
            col("lost_tokens"), col("n_truncated"),
            expr("(lost_tokens * 1000000) div total_tokens").as("lost_ppm"))
          .orderBy(col("ctx"))
      },
      Some("""WITH n AS (SELECT
             |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n
             |  FROM documents),
             |g AS (SELECT ctx, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |        CAST(SUM(n) AS BIGINT) AS total_tokens,
             |        CAST(SUM(greatest(n - ctx, 0)) AS BIGINT) AS lost_tokens,
             |        CAST(SUM(CASE WHEN n > ctx THEN 1 ELSE 0 END) AS BIGINT)
             |          AS n_truncated
             |      FROM n CROSS JOIN (VALUES (512), (1024), (2048)) AS c(ctx)
             |      GROUP BY 1)
             |SELECT CAST(ctx AS BIGINT) AS ctx, n_docs, total_tokens,
             |  lost_tokens, n_truncated,
             |  CAST((lost_tokens * 1000000) // total_tokens AS BIGINT) AS lost_ppm
             |FROM g ORDER BY ctx""".stripMargin)),

    // ---- Zipf rank-frequency fit (corpus naturalness diagnostic) ----------
    // t19's sibling: Heaps' law tracks vocabulary GROWTH, Zipf's law
    // tracks the rank-frequency SLOPE — natural text sits near −1;
    // machine-generated or template-heavy corpora flatten or steepen
    // it, so the fitted slope is a one-number corpus-health signal.
    // OLS over (log10 rank, log10 freq) of the top-100 terms: the
    // top-100 is a TakeOrdered (never a global sort), ranking happens
    // on the bounded 100-row survivor frame (t12's rule), and each
    // point rounds to 6 dp BEFORE entering DECIMAL(18,6) sums — exact,
    // order-independent accumulation (c05's discipline) feeding one
    // final double formula both engines evaluate on identical inputs.
    ("t21_zipf_slope",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val top = Tables.load(s, d, "documents")
          .select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term")).limit(100)
        val pts = top
          .withColumn("rank",
            row_number().over(Window.orderBy(col("n").desc, col("term"))))
          .select(
            round(log10(col("rank").cast("double")), 6)
              .cast(DecimalType(18, 6)).as("x"),
            round(log10(col("n").cast("double")), 6)
              .cast(DecimalType(18, 6)).as("y"))
        pts.agg(count(lit(1)).as("k"),
            sum(col("x")).cast("double").as("sx"),
            sum(col("y")).cast("double").as("sy"),
            sum(col("x") * col("y")).cast("double").as("sxy"),
            sum(col("x") * col("x")).cast("double").as("sxx"))
          .select(col("k").as("n_terms"),
            round((col("k").cast("double") * col("sxy") - col("sx") * col("sy")) /
              (col("k").cast("double") * col("sxx") - col("sx") * col("sx")), 6)
              .as("slope"),
            round((col("sy") * col("sxx") - col("sx") * col("sxy")) /
              (col("k").cast("double") * col("sxx") - col("sx") * col("sx")), 6)
              .as("intercept"))
      },
      Some("""WITH t AS (
             |  SELECT u.term AS term, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM documents,
             |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(term)
             |  GROUP BY 1),
             |top AS (SELECT term, n FROM t ORDER BY n DESC, term LIMIT 100),
             |r AS (SELECT n,
             |    row_number() OVER (ORDER BY n DESC, term) AS rank FROM top),
             |p AS (SELECT
             |    CAST(round(log10(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
             |    CAST(round(log10(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
             |  FROM r),
             |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             |    CAST(SUM(x*y) AS DOUBLE) AS sxy, CAST(SUM(x*x) AS DOUBLE) AS sxx
             |  FROM p)
             |SELECT k AS n_terms,
             |  round((CAST(k AS DOUBLE)*sxy - sx*sy)
             |        / (CAST(k AS DOUBLE)*sxx - sx*sx), 6) AS slope,
             |  round((sy*sxx - sx*sxy)
             |        / (CAST(k AS DOUBLE)*sxx - sx*sx), 6) AS intercept
             |FROM s""".stripMargin)),

    // ---- per-source Jensen–Shannon vocabulary divergence ------------------
    // The distributional drift monitor for TEXT (q93's PSI is its
    // numeric sibling): JSD in bits (Lin '91) between each source's
    // word distribution P and the rest-of-corpus distribution Q —
    // symmetric, bounded [0,1], zero iff identical. Everything derives
    // from ONE (source, word) count aggregate: per-word corpus totals
    // give Q by integer subtraction (ct − c over n_tot − n_s, never a
    // second scan), source totals broadcast, and the sum runs over the
    // source's own POSTINGS only — words absent from a source
    // contribute q·ln2 each, folded in closed form from 1 − Σq (the
    // `missing-mass` correction), so cost is ∝ corpus postings, never
    // |vocab| × |sources| dense. Terms are per-row deterministic
    // doubles; the 6-dp round absorbs sub-1e-12 summation-order noise
    // (t10's certified discipline).
    ("t22_source_js_divergence",
      (s: SparkSession, d: String) => {
        val w = Tables.load(s, d, "documents")
          .select(col("source"), explode(Dedup.words(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
        val wc = w.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        val tot = wc.groupBy(col("w")).agg(sum(col("c")).as("ct"))
        val ns = wc.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
        val nt = ns.agg(sum(col("n_s")).as("n_tot"))
        val m = (col("p") + col("q")) / 2
        val terms = wc.join(tot, "w")
          .join(broadcast(ns), "source")
          .crossJoin(broadcast(nt))
          .select(col("source"),
            (col("c").cast("double") / col("n_s")).as("p"),
            ((col("ct") - col("c")).cast("double") /
              (col("n_tot") - col("n_s"))).as("q"))
          .select(col("source"), col("q"),
            (lit(0.5) *
              (when(col("p") > 0, col("p") * log(col("p") / m)).otherwise(0.0) +
               when(col("q") > 0, col("q") * log(col("q") / m)).otherwise(0.0)))
              .as("term"))
        terms.groupBy(col("source"))
          .agg(sum(col("term")).as("st"), sum(col("q")).as("sq"))
          .join(broadcast(ns), "source")
          .select(col("source"), col("n_s").as("n_words"),
            round((col("st") +
              lit(0.5) * (lit(1.0) - col("sq")) * log(lit(2.0))) /
              log(lit(2.0)), 6).as("jsd_bits"))
          .orderBy(col("source"))
      },
      Some("""WITH w AS (SELECT source, u.w AS w
             |  FROM (SELECT source, string_split_regex(lower(text), '\s+') AS ws
             |        FROM documents), unnest(ws) AS u(w)
             |  WHERE len(u.w) > 0),
             |wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
             |       FROM w GROUP BY 1, 2),
             |tot AS (SELECT w, CAST(SUM(c) AS BIGINT) AS ct FROM wc GROUP BY 1),
             |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s
             |       FROM wc GROUP BY 1),
             |nt AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM ns),
             |t AS (SELECT wc.source,
             |        CAST(c AS DOUBLE) / n_s AS p,
             |        CAST(ct - c AS DOUBLE) / (n_tot - n_s) AS q
             |      FROM wc JOIN tot USING (w) JOIN ns USING (source), nt),
             |terms AS (SELECT source, q,
             |        0.5 * (CASE WHEN p > 0 THEN p * ln(p / ((p+q)/2)) ELSE 0 END
             |             + CASE WHEN q > 0 THEN q * ln(q / ((p+q)/2)) ELSE 0 END)
             |          AS term
             |      FROM t)
             |SELECT terms.source, ns.n_s AS n_words,
             |  round((SUM(term) + 0.5 * (1.0 - SUM(q)) * ln(2.0)) / ln(2.0), 6)
             |    AS jsd_bits
             |FROM terms JOIN ns ON terms.source = ns.source
             |GROUP BY 1, 2 ORDER BY terms.source""".stripMargin)),

    // ---- BPE first-merge statistics -----------------------------------------
    // The inner loop of byte-pair-encoding tokenizer training (Sennrich
    // et al. '16): count adjacent symbol-pair frequencies WITHIN words
    // across the corpus — the most frequent pair is the first merge
    // rule. One explode per word position (bounded by corpus character
    // count, the same envelope as t05's chunker), a hash count, and a
    // TakeOrdered top-20 — no window, no global sort; ties break on the
    // pair string so the report is deterministic. A full trainer
    // iterates this query with the merged symbol re-substituted;
    // the per-iteration cost profile is exactly this plan's.
    ("t23_bpe_pairs",
      (s: SparkSession, d: String) => {
        val words = Tables.load(s, d, "documents")
          .select(explode(split(lower(col("text")), "\\s+")).as("w"))
          .filter(length(col("w")) >= 2) // 1-char words hold no pair
        words
          .select(explode(transform(
            sequence(lit(1), (length(col("w")) - 1).cast("int")),
            i => col("w").substr(i, lit(2)))).as("pair"))
          .groupBy(col("pair"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(20)
      },
      Some("""WITH w AS (
             |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
             |  FROM documents),
             |w2 AS (SELECT w FROM w WHERE len(w) >= 2),
             |p AS (SELECT substring(w, CAST(i AS INT), 2) AS pair
             |      FROM w2, unnest(range(1, len(w))) AS u(i))
             |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
             |FROM p GROUP BY 1
             |ORDER BY n DESC, pair LIMIT 20""".stripMargin)),

    // ---- vocabulary coverage / OOV audit -------------------------------------
    // Tokenizer-budget question: if the vocabulary is the corpus's top
    // 1000 terms, what share of each source's TOKEN OCCURRENCES is
    // covered (the complement is the OOV rate a fixed-vocab model
    // pays)? Vocab selection is a TakeOrdered top-k with a full
    // (count, term) tie-break; the coverage probe joins the token
    // stream against the 1000-term vocab — a broadcast semi-join at
    // any corpus size (vocab is constant-size by construction).
    // Coverage exported in integer basis points via floor-division.
    ("t24_vocab_coverage",
      (s: SparkSession, d: String) => {
        val toks = Tables.load(s, d, "documents")
          .select(col("source"),
            explode(split(lower(col("text")), "\\s+")).as("term"))
          .filter(length(col("term")) > 0)
        val vocab = toks.groupBy(col("term"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term"))
          .limit(1000)
          .select(col("term"))
        toks
          .join(broadcast(vocab.withColumn("in_vocab", lit(1L))),
            Seq("term"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(coalesce(col("in_vocab"), lit(0L))).as("covered_tokens"))
          .select(col("source"), col("n_tokens"), col("covered_tokens"),
            call_function("div", col("covered_tokens") * 10000L,
              col("n_tokens")).as("coverage_bp"))
          .orderBy(col("source"))
      },
      Some("""WITH toks AS (
             |  SELECT source,
             |    unnest(string_split_regex(lower(text), '\s+')) AS term
             |  FROM documents),
             |t AS (SELECT * FROM toks WHERE len(term) > 0),
             |vocab AS (
             |  SELECT term FROM (
             |    SELECT term, COUNT(*) AS cnt FROM t GROUP BY 1
             |    ORDER BY cnt DESC, term LIMIT 1000)),
             |j AS (SELECT t.source,
             |        CASE WHEN v.term IS NULL THEN 0 ELSE 1 END AS in_vocab
             |      FROM t LEFT JOIN vocab v ON t.term = v.term)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |  CAST(SUM(in_vocab) AS BIGINT) AS covered_tokens,
             |  CAST(SUM(in_vocab) * 10000 // COUNT(*) AS BIGINT) AS coverage_bp
             |FROM j GROUP BY 1 ORDER BY source""".stripMargin)),

    // ---- n-gram novelty profile -----------------------------------------------
    // Corpus-order novelty: what share of each document's distinct
    // word trigrams was NEVER SEEN in any earlier document (first
    // occurrence attributed by min doc_id)? The declining tail of this
    // curve is the diminishing-returns signal data-mixing decisions
    // read (near-zero novelty = the corpus is re-treading itself; it
    // is also d09's containment criterion viewed longitudinally).
    // Plan: one gram explode ([[noveltyGrams]]: one tokenize per
    // document, grams bounded by corpus token count), then
    // min(doc_id) OVER (PARTITION BY gram) instead of the former
    // aggregate-then-join-back — the window attributes each gram's
    // first occurrence in the SAME pass, so the explode+distinct
    // subtree runs once, not twice (DataFrame self-joins duplicate the
    // subtree; there is no common-subexpression reuse), and one whole
    // Exchange+join disappears (guide §2.4: two operations keyed the
    // same way share one exchange). Novelty in integer basis points.
    ("t25_gram_novelty",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        noveltyGrams(Tables.load(s, d, "documents"))
          .withColumn("first_doc",
            min(col("doc_id")).over(Window.partitionBy(col("gram"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            call_function("div", col("n_novel") * 10000L, col("n_grams"))
              .as("novelty_bp"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
             |      FROM w, unnest(range(1, greatest(len(w) - 1, 2))) AS u(i)),
             |f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1)
             |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n_novel,
             |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             |       * 10000 // COUNT(*) AS BIGINT) AS novelty_bp
             |FROM g JOIN f ON f.gram = g.gram
             |GROUP BY 1 ORDER BY g.doc_id""".stripMargin)),

    // ---- scorer-agreement eval: Spearman rank correlation ---------------------
    // The eval a retrieval-scorer swap needs BEFORE it ships: how much
    // does the candidate ranking move when BM25 replaces raw term
    // frequency for the same query? Spearman's rho over the two
    // rankings of the query's candidate set, all-integer: both ranks
    // are tie-free row_numbers (6-dp score + doc_id key — t12's
    // certified determinism), so rho = 1 − 6Σd²/(n(n²−1)) is exact
    // rational, exported in basis points via the truncating div both
    // engines share. The two rank windows are global but run over ONE
    // query's posting set (docs matching ≥1 query term) — bounded by
    // the posting list, not the corpus, the q144 domain-bounded-window
    // argument; everything upstream is the t12 scoring pipeline.
    ("t26_scorer_agreement",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val terms = Seq("join", "vector", "scan")
        val a = bm25Scores(s, d, terms)
          .withColumn("ra", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        val b = Tables.load(s, d, "documents")
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
          .filter(col("term").isin(terms: _*))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("tfsum"))
          .withColumn("rb", row_number().over(
            Window.orderBy(col("tfsum").desc, col("doc_id"))).cast("long"))
        a.join(b, "doc_id")
          .select(((col("ra") - col("rb")) * (col("ra") - col("rb"))).as("d2"))
          .agg(count(lit(1)).as("n_docs"), sum(col("d2")).as("sum_d2"))
          .select(col("n_docs"), col("sum_d2"),
            when(col("n_docs") > 1,
              call_function("div",
                lit(10000L) * (col("n_docs") *
                  (col("n_docs") * col("n_docs") - 1L) - col("sum_d2") * 6L),
                col("n_docs") * (col("n_docs") * col("n_docs") - 1L)))
              .otherwise(lit(10000L)).as("spearman_bp"))
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
             |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM tk),
             |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |         SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
             |tf AS (SELECT doc_id, u.term AS term, CAST(COUNT(*) AS DOUBLE) AS tf
             |       FROM tk, unnest(toks) AS u(term)
             |       WHERE u.term IN ('join', 'vector', 'scan') GROUP BY 1, 2),
             |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id,
             |         round(ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
             |           (tf.tf * (1.2 + 1)) /
             |           (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)), 6) AS ts
             |       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
             |agg AS (SELECT doc_id,
             |          CAST(SUM(CAST(ts AS DECIMAL(18,6))) AS DOUBLE) AS score
             |        FROM sc GROUP BY 1),
             |ra AS (SELECT doc_id,
             |         CAST(row_number() OVER (ORDER BY score DESC, doc_id)
             |           AS BIGINT) AS ra
             |       FROM agg),
             |tfs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tfsum
             |        FROM tk, unnest(toks) AS u(term)
             |        WHERE u.term IN ('join', 'vector', 'scan') GROUP BY 1),
             |rb AS (SELECT doc_id,
             |         CAST(row_number() OVER (ORDER BY tfsum DESC, doc_id)
             |           AS BIGINT) AS rb
             |       FROM tfs),
             |j AS (SELECT (ra.ra - rb.rb) * (ra.ra - rb.rb) AS d2
             |      FROM ra JOIN rb USING (doc_id)),
             |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |        CAST(SUM(d2) AS BIGINT) AS sum_d2 FROM j)
             |SELECT n_docs, sum_d2,
             |  CASE WHEN n_docs > 1 THEN
             |    CAST(10000 * (n_docs * (n_docs * n_docs - 1) - 6 * sum_d2)
             |         // (n_docs * (n_docs * n_docs - 1)) AS BIGINT)
             |  ELSE 10000 END AS spearman_bp
             |FROM g""".stripMargin)),

    // ---- language-ID confusion matrix ------------------------------------------
    // t03 reports the predicted distribution; a classifier you'd TRUST
    // needs the confusion matrix against the labeled truth the fixture
    // carries: per (actual lang, predicted lang) the count and its
    // share of the actual language in basis points — the diagonal is
    // per-language recall, off-diagonal cells say WHICH confusions the
    // stopword heuristic makes (the routing errors a language-bucketed
    // curation pipeline like q71 inherits). Two aggregates over one
    // scored scan + a broadcast-size totals join; all integer.
    ("t27_langid_confusion",
      (s: SparkSession, d: String) => {
        val scored = Tables.load(s, d, "documents")
          .select(col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))
        val cm = scored.groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
        val tot = scored.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
        cm.join(tot, "lang")
          .select(col("lang"), col("pred_lang"), col("n"),
            call_function("div", col("n") * 10000L, col("n_lang"))
              .as("cell_bp"))
          .orderBy(col("lang"), col("pred_lang"))
      },
      Some("""WITH scored AS (
             |  SELECT lang,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))) AS s_en,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['der','die','das','und','ist','ein','zu','den','von','mit'], t))) AS s_de,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['el','la','de','los','las','y','es','un','una','en'], t))) AS s_es,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['le','la','les','et','est','une','des','du','dans','pour'], t))) AS s_fr,
             |    regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS has_cjk
             |  FROM documents),
             |p AS (SELECT lang,
             |    CASE WHEN has_cjk THEN 'zh'
             |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
             |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
             |         WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
             |         ELSE 'fr' END AS pred_lang
             |  FROM scored),
             |cm AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
             |       FROM p GROUP BY 1, 2),
             |tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang
             |        FROM p GROUP BY 1)
             |SELECT cm.lang, cm.pred_lang, cm.n,
             |  CAST(cm.n * 10000 // tot.n_lang AS BIGINT) AS cell_bp
             |FROM cm JOIN tot ON tot.lang = cm.lang
             |ORDER BY cm.lang, cm.pred_lang""".stripMargin)),
  )
}
