package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SimHash

/** Deduplication operators for large-scale corpus curation (builder
  * prompt north-star; beyond the reference's surface, which only needs
  * `dropDuplicates`). Every variant is shuffle-bounded: candidates come
  * from equality joins on hash buckets/bands — no cartesian product at
  * any scale.
  */
object Dedup {

  /** whitespace tokens, lowercased (matches DuckDB
    * `string_split_regex(lower(text), '\s+')` for oracles). */
  def words(text: Column): Column = split(lower(text), "\\s+")

  /** Drop rows whose (keyCols) bucket exceeds `maxBucket` members —
    * bounds band-join work at cap² per bucket, the guard against
    * degenerate dense buckets at corpus scale. `maxBucket <= 0`
    * disables. One window count keyed the same as the downstream
    * self-join, so the exchange is reused. Capping trades RECALL for
    * bounded work — use [[capBucketsWithDropped]] when the caller
    * should surface how much was discarded instead of silently
    * filtering. */
  def capBuckets(df: DataFrame, keyCols: Seq[String], maxBucket: Int): DataFrame =
    capBucketsWithDropped(df, keyCols, maxBucket)._1

  /** As [[capBuckets]], plus the DROPPED rows as a second frame so the
    * caller can count/log/quarantine them (e.g.
    * `log.warn(s"capped ${dropped.count()} rows")` or a side output of
    * over-dense keys to investigate). Both frames derive from one
    * window count over the same exchange; consuming only the kept side
    * costs the same as [[capBuckets]]. */
  def capBucketsWithDropped(df: DataFrame, keyCols: Seq[String],
                            maxBucket: Int): (DataFrame, DataFrame) =
    if (maxBucket <= 0) (df, df.limit(0))
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
      val counted = df.withColumn("_bucket_n", count(lit(1)).over(w))
      (counted.filter(col("_bucket_n") <= maxBucket).drop("_bucket_n"),
        counted.filter(col("_bucket_n") > maxBucket).drop("_bucket_n"))
    }

  /** As [[capBuckets]], with the drop ACCOUNTING riding the kept
    * frame's own execution via `Dataset.observe` instead of a second
    * job over the capped subtree: the metrics row `metricName` =
    * `(dropped_rows, dropped_buckets)` accumulates on the pre-filter
    * window-counted frame — per-partition partials in the task stream,
    * merged on the driver — so counting what was discarded costs ZERO
    * extra scans (the [[capBucketsWithDropped]] face re-evaluates the
    * windowed subtree whenever the caller counts the dropped frame).
    * `dropped_buckets` is exact: a bucket past the cap drops WHOLE
    * (the filter is on the bucket count), so Σ 1/bucket_n over dropped
    * rows telescopes to the bucket count; the double sum is rounded
    * back to long (error ≪ 0.5 for any count below 2⁵²). Metrics
    * cannot use `count(distinct)` — CollectMetrics forbids distinct
    * aggregates — which is why the telescoping-sum form is the
    * mechanism. Read the row post-action via
    * `qe.observedMetrics(metricName)` or [[Observe.runAndCollect]].
    *
    * Caveat (inherent to riding the main job): the metrics exist only
    * if the observed subtree EXECUTES. If the downstream result is
    * empty, AQE's empty-relation propagation can fold the whole plan
    * to `EmptyRelationExec`, erasing the CollectMetrics node and its
    * accumulators — `observedMetrics` then has no row under
    * `metricName` (absent, not zero). At production scale an
    * all-rows-capped-away result is itself the anomaly to alarm on;
    * callers needing accounting even for empty results use
    * [[capBucketsWithDropped]] and pay the second evaluation. */
  def capBucketsObserved(df: DataFrame, keyCols: Seq[String],
                         maxBucket: Int, metricName: String): DataFrame =
    if (maxBucket <= 0) df
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
      val counted = df.withColumn("_bucket_n", count(lit(1)).over(w))
      val dropped = col("_bucket_n") > maxBucket
      counted
        .observe(metricName,
          coalesce(sum(when(dropped, 1L).otherwise(0L)), lit(0L))
            .as("dropped_rows"),
          coalesce(round(sum(when(dropped, lit(1.0) / col("_bucket_n"))))
            .cast("long"), lit(0L)).as("dropped_buckets"))
        .filter(!dropped).drop("_bucket_n")
    }

  /** Distinct word n-grams as strings; empty array when fewer than n
    * words. Fused single-pass custom expression
    * ([[graft.functions.WordNGrams]]) — replaces a 4-node HOF chain on
    * the shingling hot path. */
  def wordNGrams(w: Column, n: Int): Column =
    graft.functions.WordNGrams.wordNGrams(w, n)

  /** Exact-substring duplicate pairs: documents sharing ANY exact word
    * n-gram (the suffix-array dedup criterion of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * re-expressed as distributed blocking — the gram IS the block key,
    * so candidate generation is one equality self-join, never a
    * cartesian). A 100 TB corpus has a near-unique gram space at n = 8:
    * bucket sizes track true duplication, and the one degenerate case —
    * boilerplate grams shared by thousands of documents — is bounded by
    * `maxBucket` (0 disables, for exact-oracle regimes; production sets
    * it and quarantines the dropped grams via
    * [[capBucketsWithDropped]]). The distinct() collapses multi-gram
    * overlaps so the pair shuffle carries unique pairs only. */
  def substringNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 8, maxBucket: Int = 0): DataFrame =
    substringNearDupPairsWeighted(docs, idCol, textCol, n, maxBucket)
      .select(col("id_a"), col("id_b"))

  /** As [[substringNearDupPairs]], plus the pair's evidence WEIGHT:
    * `(id_a, id_b, n_shared)` where n_shared = how many distinct word
    * n-grams the two documents share. This is the ONE capped gram path
    * both the clustering (c02/c03, via the unweighted projection) and
    * the cohesion audit (c18) consume — an audit that re-derived its
    * own gram join would silently diverge from the clustering the
    * moment production sets `maxBucket`, and would reopen the
    * degenerate-boilerplate-bucket blowup the cap exists to bound.
    * Same scale shape as the unweighted form: the count is the same
    * hash aggregate the distinct() was (pair-keyed, map-side partials);
    * no extra shuffle. */
  def substringNearDupPairsWeighted(docs: DataFrame, idCol: String,
                                    textCol: String, n: Int = 8,
                                    maxBucket: Int = 0): DataFrame = {
    val grams = capBuckets(
      docs.select(col(idCol).as("doc_id"),
        explode(wordNGrams(words(col(textCol)), n)).as("gram")),
      Seq("gram"), maxBucket)
    val a = grams.select(col("gram"), col("doc_id").as("id_a"))
    val b = grams.select(col("gram"), col("doc_id").as("id_b"))
    a.join(b, "gram").filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Cross-document boilerplate chunks (the paragraph-dedup step of
    * CCNet / RefinedWeb — Wenzek et al. 2020, Penedo et al. 2023,
    * applied at chunk granularity because the synthetic fixture has no
    * line structure): split every document into consecutive
    * NON-OVERLAPPING `chunkWords`-word chunks and return each chunk
    * occurrence tagged with its corpus-wide document frequency —
    * `(doc_id, chunk_idx, chunk, df)`. Chunks recurring across ≥ k
    * documents are navigation/header/footer boilerplate; callers
    * filter on `df` to strip them (removal is ALL occurrences — the
    * order-free rule that needs no global first-occurrence sort).
    *
    * Scale shape: chunking is one map-side `transform` over the token
    * array (no explode-then-window). The tokens are a column below the
    * explode, so each document is split once, not once per chunk (a
    * lambda body is evaluated per element). The only shuffle is the
    * chunk-frequency aggregate, which carries DISTINCT (chunk, doc)
    * rows; the df join back is chunk-keyed and reuses the same hash
    * partitioning. Partial trailing chunks (< chunkWords words) are
    * excluded so a short tail can't alias a full chunk. */
  def boilerplateChunks(docs: DataFrame, idCol: String, textCol: String,
                        chunkWords: Int = 10): DataFrame = {
    val w = col("w")
    // guard the empty case explicitly: sequence(1, 0) DESCENDS in Spark
    // ([1, 0]), it does not produce an empty array
    val nChunks = floor(size(w) / lit(chunkWords)).cast("int")
    val chunks = docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("w"))
      .select(col("doc_id"),
        posexplode(when(nChunks >= 1, transform(
            sequence(lit(1), nChunks),
            i => array_join(
              slice(w, (i - 1) * chunkWords + 1, lit(chunkWords)), " ")))
          .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("chunk_idx"),
        col("col").as("chunk"))
    val df = chunks.select(col("chunk"), col("doc_id")).distinct()
      .groupBy(col("chunk")).agg(count(lit(1)).as("df"))
    chunks.join(df, "chunk")
      .select(col("doc_id"), col("chunk_idx"), col("chunk"), col("df"))
  }

  /** Directional near-CONTAINMENT pairs: (id_a, id_b, containment)
    * where containment = |grams(a) ∩ grams(b)| / |grams(a)| ≥
    * `threshold` — doc a is (mostly) inside doc b. The asymmetric
    * sibling of Jaccard dedup: a short document wrapped in boilerplate
    * (header + quoted original + footer) scores LOW Jaccard against its
    * source (the union is inflated by the wrapper) but containment ≈ 1,
    * which is why quote/wrapper dups survive d02/d03-style filters.
    * Broder's (1997) containment measure, served by the same
    * inverted-index join as [[substringNearDupPairs]]: candidates meet
    * through gram equality (never a cartesian), shared-gram counts come
    * from the pair groupBy, and the denominator joins back from a
    * per-doc gram count — all linear in the posting lists. `maxDf`
    * drops grams appearing in more than that many docs (0 disables):
    * the boilerplate-gram guard that bounds posting-list length at
    * 100 TB, where a stop-gram's list would otherwise dominate the
    * pair shuffle. Both directions emit when both clear the threshold
    * (a ⊑ b and b ⊑ a for exact dups). */
  def containmentNearDups(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 5, threshold: Double = 0.9,
                          maxDf: Int = 0): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
        wordNGrams(words(col(textCol)), n).as("g"))
      .filter(size(col("g")) > 0)
    val posting = capBuckets(
      grams.select(col("doc_id"), explode(col("g")).as("gram")),
      Seq("gram"), maxDf)
    val shared = posting.select(col("gram"), col("doc_id").as("id_a"))
      .join(posting.select(col("gram"), col("doc_id").as("id_b")), "gram")
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
    shared
      .join(grams.select(col("doc_id").as("id_a"), size(col("g")).as("n_a")),
        "id_a")
      .select(col("id_a"), col("id_b"),
        round(col("shared").cast("double") / col("n_a"), 6).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Set Jaccard of two string arrays (distinct-element semantics, same
    * as DuckDB `list_intersect` / distinct-union cardinalities). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_distinct(concat(a, b)))

  /** (doc_id, pfx, g): the shared projection under the prefix-blocked
    * Jaccard family — block key = first `prefixLen` chars, payload =
    * distinct word n-grams. `maxBucket` caps the PREFIX buckets via
    * [[capBuckets]]: a boilerplate-heavy corpus ("Terms of Service…"
    * × 10⁷) concentrates one prefix, and without the cap the block
    * self-join goes quadratic on that bucket — the same degenerate case
    * every other blocked join here guards. 0 disables (the exact-oracle
    * regime, valid when measured prefix multiplicity is bounded — true
    * of this corpus); production sets a cap and quarantines the hot
    * prefixes via [[capBucketsWithDropped]]. */
  private def prefixGrams(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, prefixLen: Int, maxBucket: Int): DataFrame =
    capBuckets(
      docs.select(col(idCol).as("doc_id"),
        substring(col(textCol), 1, prefixLen).as("pfx"),
        wordNGrams(words(col(textCol)), n).as("g")),
      Seq("pfx"), maxBucket)

  /** All prefix-blocked candidate pairs with their word-n-gram Jaccard
    * (id_a < id_b; no threshold — the caller filters). Candidates come
    * from an equality self-join on the prefix block key, never a
    * cartesian; per-bucket work is bounded by `maxBucket`² when set. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 2, prefixLen: Int = 50,
                         maxBucket: Int = 0): DataFrame = {
    val grams = prefixGrams(docs, idCol, textCol, n, prefixLen, maxBucket)
    val a = grams.select(col("doc_id").as("id_a"), col("pfx"), col("g").as("g_a"))
    val b = grams.select(col("doc_id").as("id_b"), col("pfx"), col("g").as("g_b"))
    a.join(b, "pfx").filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("g_a"), col("g_b")).as("jaccard"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs on prefix-blocked
    * candidates — the fuzzy-dedup family member for SHORT edits that
    * n-gram Jaccard under-weights (a 1-char typo flips every n-gram it
    * touches; it flips exactly one unit of edit distance). Returns
    * (id_a, id_b, edit_dist) for blocked pairs with distance ≤
    * `maxDist`.
    *
    * Scale shape: candidates are the prefix equality join (capped via
    * `maxBucket`, as [[prefixJaccardPairs]]); each candidate then pays
    * an O(len·maxDist) THRESHOLDED Levenshtein — the 3-arg built-in
    * band-limits the DP to the diagonal and early-exits at
    * `maxDist + 1`, so cost per pair is linear in text length for
    * small distance budgets, not the O(len²) full matrix. That
    * per-candidate economy (like d05's int8 prefilter) is the lever
    * that keeps fuzzy dedup feasible once blocking has done its job. */
  def editDistanceNearDups(docs: DataFrame, idCol: String, textCol: String,
                           maxDist: Int, prefixLen: Int = 50,
                           maxBucket: Int = 0): DataFrame = {
    val blocked = capBuckets(
      docs.select(col(idCol).as("doc_id"),
        substring(col(textCol), 1, prefixLen).as("pfx"), col(textCol).as("t")),
      Seq("pfx"), maxBucket)
    val a = blocked.select(col("doc_id").as("id_a"), col("pfx"), col("t").as("t_a"))
    val b = blocked.select(col("doc_id").as("id_b"), col("pfx"), col("t").as("t_b"))
    a.join(b, "pfx").filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("t_a"), col("t_b"), maxDist).as("edit_dist"))
      // the thresholded form returns -1 past the budget — the filter IS
      // the ≤ maxDist cut
      .filter(col("edit_dist") >= 0)
  }

  /** Incremental (delta-vs-base) near-dup check: only NEW docs are
    * compared against the existing corpus — a BIPARTITE prefix-blocked
    * join, never base×base. At scale the base side is the materialized
    * prefix/gram table and the delta is a day's ingest; both sides'
    * prefix buckets are capped independently, so per-bucket work is
    * bounded by `maxBucket`² when set. Returns (delta_id, base_id,
    * jaccard round-6) for pairs with Jaccard ≥ `threshold`. */
  def incrementalJaccardDups(base: DataFrame, delta: DataFrame,
                             idCol: String, textCol: String,
                             n: Int = 2, prefixLen: Int = 50,
                             threshold: Double = 0.5,
                             maxBucket: Int = 0): DataFrame = {
    val b = prefixGrams(base, idCol, textCol, n, prefixLen, maxBucket)
      .select(col("doc_id").as("base_id"), col("pfx"), col("g").as("g_base"))
    val d = prefixGrams(delta, idCol, textCol, n, prefixLen, maxBucket)
      .select(col("doc_id").as("delta_id"), col("pfx"), col("g").as("g_delta"))
    d.join(b, "pfx")
      .select(col("delta_id"), col("base_id"),
        round(jaccard(col("g_delta"), col("g_base")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** k-permutation MinHash signature over a string-array column — the
    * fused custom expression (2 hashes/shingle + k min-updates; see
    * [[graft.functions.MinHashSig]]). Map-side only, no shuffle. */
  def minhashSignature(shingles: Column, k: Int): Column =
    graft.functions.MinHashSig.minhashSig(shingles, k)

  /** LSH banding: candidate pairs (id_a < id_b) whose MinHash signatures
    * collide in at least one of `bands` bands of `k/bands` rows.
    * The only shuffles are (a) the explode+groupless band join keyed on
    * (band, bandHash) and (b) the final distinct — both scale linearly
    * with corpus size for bounded bucket sizes (near-dup clusters). */
  def minhashCandidates(docs: DataFrame, idCol: String, shingleCol: String,
                        k: Int = 16, bands: Int = 4): DataFrame = {
    val r = k / bands
    require(bands * r == k, s"bands ($bands) must divide k ($k)")
    val sig = minhashSignature(col(shingleCol), k)
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), slice(sig, b * r + 1, r)).as("bkey"))
    }: _*)
    val banded = docs
      // drop empty shingle sets BEFORE banding: they all share the
      // sentinel signature and would collide in every band — on a corpus
      // with many sub-n-word docs that is an O(m^2) candidate blowup
      .filter(size(col(shingleCol)) > 0)
      .select(col(idCol), explode(bandStructs).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val a = banded.select(col(idCol).as("id_a"), col("band"), col("bkey"))
    val b = banded.select(col(idCol).as("id_b"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** MinHash+LSH near-dup pairs verified with exact shingle Jaccard ≥
    * `threshold`. `docs` must have (idCol: numeric, textCol: string).
    * The shingles are read three times (banding and both verification
    * joins), so they are materialized once (`localCheckpoint`, filled by
    * the first job that reads them). */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 16, bands: Int = 4,
                      threshold: Double = 0.7): DataFrame = {
    val grams = docs.select(
      col(idCol).as("gid"),
      wordNGrams(words(col(textCol)), n).as("grams")).localCheckpoint(eager = false)
    val cands = minhashCandidates(
      grams.withColumnRenamed("gid", "did").withColumnRenamed("grams", "g"),
      "did", "g", k, bands)
    cands
      .join(grams.select(col("gid").as("id_a"), col("grams").as("grams_a")), "id_a")
      .join(grams.select(col("gid").as("id_b"), col("grams").as("grams_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("grams_a"), col("grams_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Banded MinHash rows (id, band, bkey) straight from text — the
    * persistable form of [[minhashCandidates]]' blocking keys: bands ×
    * one row per non-empty doc, each key the xxhash64 of one signature
    * band. Deterministic per (text, n, k, bands), so index rows built
    * today and rows computed for tomorrow's batch collide iff the
    * signatures collide — the property incremental LSH rests on. */
  def minhashBandKeys(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    require(bands * r == k, s"bands ($bands) must divide k ($k)")
    val sig = minhashSignature(col("grams"), k)
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), slice(sig, b * r + 1, r)).as("bkey"))
    }: _*)
    docs.select(col(idCol).as("id"),
        wordNGrams(words(col(textCol)), n).as("grams"))
      .filter(size(col("grams")) > 0) // sentinel sigs collide everywhere
      .select(col("id"), explode(bandStructs).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Materialize the band index for a corpus snapshot: the state that
    * turns LSH dedup INCREMENTAL. Band-partitioned parquet of
    * [[minhashBandKeys]]; [[appendMinhashBandIndex]] folds a new
    * batch's keys in (pure file append — band rows are immutable facts
    * about a doc, so no rewrite, no merge). At 100 TB the index is
    * ~bands × corpus rows of 24 B — small next to the corpus — and the
    * append cost is ∝ the batch, never the index. */
  def buildMinhashBandIndex(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, k: Int, bands: Int, dir: String): Unit =
    minhashBandKeys(docs, idCol, textCol, n, k, bands)
      .write.mode("overwrite").partitionBy("band").parquet(dir)

  def appendMinhashBandIndex(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, k: Int, bands: Int, dir: String): Unit =
    minhashBandKeys(docs, idCol, textCol, n, k, bands)
      .write.mode("append").partitionBy("band").parquet(dir)

  /** Incremental MinHash-LSH near-dup detection: verified pairs that
    * TOUCH the new batch — new×index candidates through the persisted
    * band index plus new×new candidates from the batch alone, then the
    * same exact-Jaccard verify as [[minhashNearDups]]. The daily-crawl
    * shape: yesterday's corpus never re-pairs with itself (those pairs
    * were emitted when THEY were new), so per-batch work is
    * ∝ |batch| band rows joined against the index — with AQE the batch
    * side broadcasts below the threshold — and the verify join pulls
    * only candidate ids' shingles out of `corpusAll`. Recall equals the
    * from-scratch run restricted to new-touching pairs: a band
    * collision is a pairwise fact, indifferent to which side arrived
    * first (spec-asserted against the batch-split replay).
    *
    * `corpusAll` must contain BOTH old and new docs (shingle source for
    * verification); ids across batches must be distinct. */
  def incrementalMinhashNearDups(spark: SparkSession, indexDir: String,
                                 corpusAll: DataFrame, newDocs: DataFrame,
                                 idCol: String, textCol: String,
                                 n: Int = 3, k: Int = 16, bands: Int = 4,
                                 threshold: Double = 0.7): DataFrame = {
    val newKeys = minhashBandKeys(newDocs, idCol, textCol, n, k, bands)
    val idxKeys = spark.read.parquet(indexDir)
    val newB = newKeys.select(col("id").as("id_b"), col("band"), col("bkey"))
    val cross = idxKeys.select(col("id").as("id_a"), col("band"), col("bkey"))
      .join(newB, Seq("band", "bkey"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    val intra = newKeys.select(col("id").as("id_a"), col("band"), col("bkey"))
      .join(newB, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val cands = cross.union(intra).distinct()
    val grams = corpusAll.select(col(idCol).as("gid"),
      wordNGrams(words(col(textCol)), n).as("grams"))
    cands
      .join(grams.select(col("gid").as("id_a"), col("grams").as("grams_a")), "id_a")
      .join(grams.select(col("gid").as("id_b"), col("grams").as("grams_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("grams_a"), col("grams_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination: training docs sharing at least one word
    * n-gram with any eval-set document, with the count of distinct
    * shared n-grams as evidence. The standard pre-training hygiene step
    * (don't train on the benchmark) — distinct from pairwise dedup:
    * membership against a SMALL eval gram set, so the plan is an
    * explode + broadcast join + per-doc count, linear in corpus size
    * with no self-join at any scale. Both frames need (idCol, textCol). */
  def contaminatedDocs(docs: DataFrame, evalDocs: DataFrame,
                       idCol: String, textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol),
      explode(wordNGrams(words(col(textCol)), n)).as("gram"))
    val evalGrams = grams(evalDocs).select("gram").distinct()
    grams(docs).join(broadcast(evalGrams), "gram")
      .groupBy(col(idCol))
      .agg(count_distinct(col("gram")).as("n_shared"))
  }

  /** k-core of an undirected pair set ((id_a, id_b) rows, each edge
    * once) by `rounds` rounds of synchronous peeling: drop every node
    * whose degree within the surviving set is < k, re-count, repeat
    * (Matula & Beck '83; the distributed formulation is Montresor et
    * al., TPDS'13). Returns (doc_id, deg) for nodes surviving all
    * rounds, deg = degree inside the survivor set.
    *
    * Fixed-round, not run-to-fixpoint, so an exact SQL oracle can
    * replay the identical computation unrolled (c05's fixed-iteration
    * rule); callers pick `rounds` ≥ the peeling depth of their graph
    * (spec-asserted at fixture scale — one extra round is a no-op once
    * converged, so over-provisioning is safe, and each round costs one
    * aggregate + two semi joins on node id, never a cartesian).
    * Lineage is truncated per round (localCheckpoint) — 4 rounds of
    * join-on-join otherwise compounds the plan the way
    * [[connectedComponents]]' iterations would. */
  def kcore(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    var und = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    var i = 0
    while (i < rounds) {
      val keep = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("kid"))
      und = und
        .join(keep, col("src") === col("kid"), "left_semi")
        .join(keep, col("dst") === col("kid"), "left_semi")
        .localCheckpoint()
      i += 1
    }
    und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("doc_id"), col("deg"))
  }

  /** Cross-source duplication matrix: distinct word-n-gram Jaccard
    * between every pair of sources — the mixture-design diagnostic
    * ("how much of source B is already in source A") that doc-pair
    * dedup ([[containmentNearDups]]) never rolls up. Returns
    * (src_a, src_b, grams_a, grams_b, shared, jaccard) for source
    * pairs sharing ≥ 1 gram, jaccard rounded 6 dp from integer-exact
    * counts (one final double divide).
    *
    * Scale shape: grams dedup to (source, gram) FIRST (map-side via
    * the gram-set expression, then one distinct shuffle keyed by
    * gram), so the pair join fans out per gram only over the ≤
    * |sources| holders of that gram — never doc×doc. `maxDf` caps
    * ubiquitous grams' posting lists (boilerplate appears everywhere
    * and contributes equally to every cell; 0 = exact, the oracle
    * regime). Output is |sources|² cells at most — tiny at any corpus
    * scale. */
  def sourceOverlap(docs: DataFrame, srcCol: String, textCol: String,
                    n: Int = 5, maxDf: Int = 0): DataFrame = {
    val sg = docs
      .select(col(srcCol).as("source"),
        wordNGrams(words(col(textCol)), n).as("g"))
      .filter(size(col("g")) > 0)
      .select(col("source"), explode(col("g")).as("gram"))
      .distinct()
    val sz = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val posting = capBuckets(sg, Seq("gram"), maxDf)
    posting.select(col("gram"), col("source").as("src_a"))
      .join(posting.select(col("gram"), col("source").as("src_b")), "gram")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sz.select(col("source").as("src_a"), col("n").as("grams_a")), "src_a")
      .join(sz.select(col("source").as("src_b"), col("n").as("grams_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("grams_a"), col("grams_b"),
        col("shared"),
        round(col("shared").cast("double") /
          (col("grams_a") + col("grams_b") - col("shared")), 6).as("jaccard"))
  }

  /** Connected components over undirected near-dup pair edges
    * ((id_a, id_b) rows): every node ends labeled with the smallest id
    * in its component, so "keep the cluster minimum" dedup is exact
    * under transitivity (A~B, B~C ⇒ one survivor for {A,B,C} even if
    * A~C was never emitted as a pair).
    *
    * Two regimes. Below `driverThreshold` edges, a driver union-find
    * resolves the whole pair set in one collect — 1M edges ≈ 16 MB of
    * longs, well inside driver heap, and one job beats any iterative
    * plan. Above it, ALTERNATING LARGE-STAR/SMALL-STAR (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014 — the
    * public algorithm, re-expressed on DataFrames): each round rewires
    * every node toward its neighborhood minimum, provably converging to
    * per-component stars in O(log² n) rounds (a handful in practice,
    * INDEPENDENT of component diameter — plain min-label propagation
    * needs O(diameter) rounds, which a chain-shaped component turns
    * into thousands). Per-round work is groupBy-min + equality joins —
    * partial aggregation keeps hub nodes cheap and AQE splits the
    * skewed join a giant component's root attracts; the edge set only
    * shrinks as stars form. `localCheckpoint` truncates the growing
    * loop lineage each round (the iterative-algorithm idiom — GraphX
    * does the same).
    *
    * The loop is driver-side CONTROL flow only; exceeding `maxIter`
    * THROWS rather than returning silently-unconverged labels (a wrong
    * cluster assignment is a correctness bug downstream — q67's
    * leakage-free split hangs off these labels). Returns (id, label).
    *
    * The pair set is materialized once (`localCheckpoint`, filled by
    * the count that picks the regime): the driver collect, the first
    * edge set and the self-loop labels all read that copy, so the
    * pair-generating self-join behind it runs once, not once per
    * consumer. */
  def connectedComponents(input: DataFrame, maxIter: Int = 50,
                          driverThreshold: Long = 1000000L): DataFrame = {
    val pairs = input.select(col("id_a"), col("id_b")).localCheckpoint(eager = false)
    if (pairs.count() <= driverThreshold) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .collect().foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
      return parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "label")
    }

    // large-star: for each node u, hook every LARGER neighbor to the
    // minimum of u's closed neighborhood — long chains collapse toward
    // their minima from every node at once
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("a").as("u"), col("v"))
        .union(e.select(col("v").as("u"), col("a").as("v")))
      val mins = und.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      und.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("v"))
        .distinct()
    }
    // small-star: for each node u, hook u and its SMALLER neighbors to
    // the minimum among them — stars flatten to height one
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("a")).agg(min(col("v")).as("m"))
      val withMin = e.join(mins, "a")
      withMin.filter(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("v"))
        .union(withMin.select(col("a"), col("m").as("v")))
        .distinct()
    }

    // oriented larger→smaller, self-loops dropped (re-added as
    // singleton labels at the end for parity with the driver path)
    var e = pairs.select(
        greatest(col("id_a"), col("id_b")).cast("long").as("a"),
        least(col("id_a"), col("id_b")).cast("long").as("v"))
      .filter(col("a") =!= col("v")).distinct()
      .localCheckpoint()
    var n = e.count()
    var iter = 0
    var converged = n == 0L
    while (!converged) {
      if (iter >= maxIter)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter large-star/" +
            "small-star rounds — silently returning partial labels would " +
            "mis-cluster documents downstream; raise maxIter (convergence " +
            "is O(log² n) rounds, so this indicates a pathological input)")
      val next = smallStar(largeStar(e)).localCheckpoint()
      val nNext = next.count()
      // fixpoint = identical edge set: at star convergence both rewiring
      // steps re-emit their input, so |next| == |e| ∧ next ⊆ e ⇒ equal
      converged = nNext == n && next.except(e).isEmpty
      e = next
      n = nNext
      iter += 1
    }
    val edgeLabels = e.select(col("a").as("id"), col("v").as("label"))
      .union(e.select(col("v").as("id"), col("v").as("label")))
      .distinct()
    // self-loop-only nodes label themselves — but a node with BOTH a
    // self-loop and a real edge already carries its component label
    // above, and a second (id, id) row would split it across two
    // clusters; the anti-join keeps the union disjoint (driver-path
    // parity: union-find emits one row per node)
    val selfOnly = pairs.filter(col("id_a") === col("id_b"))
      .select(col("id_a").cast("long").as("id")).distinct()
      .join(edgeLabels.select(col("id")), Seq("id"), "left_anti")
      .withColumn("label", col("id"))
    edgeLabels.union(selfOnly)
  }

  /** SimHash fingerprints + banded near-dup pairs with Hamming distance ≤
    * `maxHamming`. Banding: the 64-bit fingerprint splits into `bands`
    * equal bit-bands; by pigeonhole any pair within Hamming distance
    * `bands - 1` collides on at least one band — an equality-join
    * candidate generation, no cartesian.
    *
    * Band-key cardinality is the scale lever: `bands = 4` gives 16-bit
    * keys (65,536 values per band, buckets ~n/2^16) and still guarantees
    * recall for Hamming ≤ 3; 8 narrow bands would shrink keys to 8 bits
    * (256 values) and degenerate the self-join to quadratic bucket work
    * at corpus scale. `maxBucket > 0` additionally caps bucket sizes via
    * [[capBuckets]] for degenerate fingerprint regions (e.g. boilerplate
    * shingle-free docs). Both self-join sides read the banded
    * fingerprints, so they are materialized once (`localCheckpoint`). */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      bands: Int = 4, maxHamming: Int = 3,
                      maxBucket: Int = 0): DataFrame =
    simhashPairs(docs, idCol, textCol, bands, maxHamming, maxBucket,
      SimHash.simhash)

  /** [[simhashNearDups]] with the ORACLE-EXPRESSIBLE md5 fingerprint
    * ([[graft.functions.SimHashMd5]]): identical banding, pigeonhole
    * recall, and output shape, but the per-token hash is the first 64
    * bits of MD5(token) — a built-in in DuckDB too, so the whole pair
    * set is SQL-recomputable and hash-checked (the d04 oracle). Use the
    * xxhash64 form for production throughput (one XXH64 pass per token
    * vs a full MD5). */
  def simhashNearDupsMd5(docs: DataFrame, idCol: String, textCol: String,
                         bands: Int = 4, maxHamming: Int = 3,
                         maxBucket: Int = 0): DataFrame =
    simhashPairs(docs, idCol, textCol, bands, maxHamming, maxBucket,
      SimHash.simhashMd5)

  private def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                           bands: Int, maxHamming: Int, maxBucket: Int,
                           fingerprint: Column => Column): DataFrame = {
    require(maxHamming < bands, "pigeonhole needs maxHamming < bands")
    val width = 64 / bands
    val fp = docs.select(col(idCol).as("sid"),
      fingerprint(words(col(textCol))).as("fp"))
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        // unsigned slice of `width` bits
        shiftrightunsigned(col("fp"), b * width)
          .bitwiseAND(lit((1L << width) - 1)).as("bits"))
    }: _*)
    val banded = capBuckets(
      fp.select(col("sid"), col("fp"), explode(bandStructs).as("bk"))
        .select(col("sid"), col("fp"), col("bk.band").as("band"), col("bk.bits").as("bits")),
      Seq("band", "bits"), maxBucket).localCheckpoint(eager = false)
    val a = banded.select(col("sid").as("id_a"), col("fp").as("fp_a"), col("band"), col("bits"))
    val b = banded.select(col("sid").as("id_b"), col("fp").as("fp_b"), col("band"), col("bits"))
    a.join(b, Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      // filter BEFORE distinct: the hamming cut drops most candidate
      // pairs, so the dedup shuffle only sees survivors
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
