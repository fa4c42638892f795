package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Stager, Tables}
import graft.ops.{Curation, Dedup, Similarity, TextAnalysis, TrainingPrep}

/** North-star operator inventory: dedup family, similarity search, text
  * analysis, JSON extraction, rollup (builder prompt; SURVEY.md §0/§7.2
  * step 5). Naming: d* dedup, s* similarity, t* text, q19+ extra
  * relational. Every deterministic pipeline carries a DuckDB oracle —
  * including MinHash d03 (deterministic-recall regime), the IVF
  * queries d05/s02 (the SQL re-runs the IVF algorithm itself), and
  * SimHash d04, whose shipped fingerprint is the md5 twin
  * ([[graft.functions.SimHashMd5]]) precisely so DuckDB can recompute
  * it; the xxhash64 production variant stays spec-gated
  * (pigeonhole-exactness + candidate volume in DedupSimilaritySpec).
  */
object NorthStarQueries {

  /** c15's plan, parameterized by the wedge fan-out bound. Wedges are
    * enumerated by joining the adjacency list to itself on the center
    * node z, so work is Σ_z deg(z)² — and co-purchase graphs are
    * power-law: one hub with 10⁵ neighbors contributes 10¹⁰ wedges at
    * scale before any limit sees a row. `maxCenterDegree > 0` bounds
    * every center's contribution at cap² via
    * [[Dedup.capBucketsObserved]] keyed on z (the same
    * loud-drop-accounting guard the gram dedup path uses: the dropped
    * hub count is surfaced through `observe`, never silently
    * filtered). `maxCenterDegree = 0` disables — the exact-oracle
    * regime the registered query runs (fixture graphs have no
    * degenerate hubs; the cap>0 regime is spec-gated in ScaleSpec /
    * DedupSimilaritySpec instead). Degree-1 centers can never form a
    * wedge, so they are filtered BEFORE the Adamic-Adar term — which
    * also keeps 1/ln(1) = ∞ out of both engines' arithmetic.
    *
    * Drop accounting (cap > 0): the dropped-hub counts ride the kept
    * branch's OWN execution as a [[Dedup.capBucketsObserved]] metrics
    * row named [[LinkPredCapMetric]] — `(dropped_rows,
    * dropped_buckets)` accumulate in the task stream of the main job,
    * so surfacing the recall trade costs zero extra jobs. Read them
    * post-action via `qe.observedMetrics` / [[graft.ops.Observe]];
    * callers needing the dropped ROWS themselves (quarantine, hub
    * audit) use [[linkPredictionWithDropped]], which re-evaluates the
    * capped subtree for the second frame when consumed. */
  private[graft] val LinkPredCapMetric = "c15_cap"

  private[graft] def linkPrediction(s: SparkSession, d: String,
                                    maxCenterDegree: Int): DataFrame = {
    val g = wedgeGraph(s, d)
    scoreWedges(g, Dedup.capBucketsObserved(
      g.centersAll, Seq("z"), maxCenterDegree, LinkPredCapMetric))
  }

  /** [[linkPrediction]] with the dropped-hub adjacency rows returned to
    * the caller (the capBucketsWithDropped discipline: capping trades
    * recall for bounded work, and the trade must be observable). */
  private[graft] def linkPredictionWithDropped(
      s: SparkSession, d: String,
      maxCenterDegree: Int): (DataFrame, DataFrame) = {
    val g = wedgeGraph(s, d)
    val (centers, droppedHubs) =
      Dedup.capBucketsWithDropped(g.centersAll, Seq("z"), maxCenterDegree)
    (scoreWedges(g, centers), droppedHubs)
  }

  /** The support-thresholded co-purchase edge set shared by c15 and
    * c17: distinct part pairs meeting in >= 2 orders, one row per
    * undirected edge (a < b). Built per ORDER — one exchange on
    * l_orderkey with a map-side partial collect_set, then the bounded
    * per-order pair fan-out (an order holds <= 7 distinct parts at any
    * SF, so the sorted-array double-explode is a tiny Generate, never
    * a skew risk) and the pair-count aggregate. Replaces the previous
    * distinct + self-join on l_orderkey, which paid the distinct's
    * two-column exchange PLUS two join exchanges and two sorts for the
    * same pairs (guide §2.4/§3.3: the self-join's only job was pairing
    * rows already co-grouped by the key) — measured min-of-5
    * interleaved at sf0.1: 1.33 s -> 1.05 s for the edge build alone,
    * identical output (probe-verified row equality, plus the c15/c17
    * oracle hashes). */
  private[graft] def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(posexplode(col("ps")).as(Seq("i", "pa")), col("ps"))
      .select(col("pa"),
        explode(slice(col("ps"), col("i") + lit(2),
          greatest(size(col("ps")) - col("i") - lit(1), lit(0)))).as("pb"))
      .groupBy(col("pa").as("a"), col("pb").as("b"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("a"), col("b"))

  /** c15's shared plan pieces: the support-filtered co-purchase edge
    * core, the symmetric adjacency, and the degree-filtered center
    * frame (one row per (center z, neighbor a) with the precomputed
    * Adamic-Adar term). */
  private case class WedgeGraph(e: DataFrame, adj: DataFrame,
                                centersAll: DataFrame)

  private def wedgeGraph(s: SparkSession, d: String): WedgeGraph = {
    val e = coPurchaseEdges(s, d)
      .localCheckpoint() // support-filtered core, consumed 3 ways
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val centersAll = adj.join(deg, "u")
      .filter(col("deg") >= 2) // a shared neighbor needs >= 2 neighbors
      .select(col("u").as("z"), col("v").as("a"),
        floor(lit(1000000.0) / log(col("deg"))).cast("long").as("aa_term"))
    WedgeGraph(e, adj, centersAll)
  }

  private def scoreWedges(g: WedgeGraph, centers: DataFrame): DataFrame = {
    val wedges = centers.join(
      g.adj.select(col("u").as("z"), col("v").as("c")), "z")
      .filter(col("a") < col("c"))
    val scored = wedges.groupBy(col("a"), col("c"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("aa_term")).as("aa_score_u"))
    val eAnti = g.e.select(col("a").as("ea"), col("b").as("eb"))
    scored.join(eAnti,
        col("a") === col("ea") && col("c") === col("eb"), "left_anti")
      .select(col("a").as("id_a"), col("c").as("id_b"),
        col("common_neighbors"), col("aa_score_u"))
      .orderBy(col("common_neighbors").desc, col("aa_score_u").desc,
        col("id_a"), col("id_b"))
      .limit(20)
  }

  /** s08's persisted IVF-int8 index over the embeddings table (the
    * index is the amortized serving layout; what a deployment repeats
    * is the PROBE, which is what s08 times). Same training regime as
    * s02 (nCells=16, trainIters=2), so both queries share the oracle's
    * certified codebook derivation. */
  val ensureIvfIndex: Stager[String] = Stager("graft_s08idx") { (s, d, tmp) =>
    Similarity.buildIvfIndex(
      Tables.load(s, d, "embeddings").select("vec_id", "embedding"),
      s"$tmp/index", nCells = 16, trainIters = 2)
    s"$tmp/index"
  }

  /** d13's persisted MinHash band index over the "yesterday" 80% of
    * documents (LCG bucket < 8): the index is the amortized state of
    * incremental LSH; what a pipeline repeats is the new-batch join
    * against it, which is what d13 times. */
  val ensureBandIndex: Stager[String] = Stager("graft_d13idx") { (s, d, tmp) =>
    Dedup.buildMinhashBandIndex(
      Tables.load(s, d, "documents").filter(
        graft.ops.TrainingPrep.hashBucket(col("doc_id"), 10) < 8),
      "doc_id", "text", n = 3, k = 16, bands = 4, s"$tmp/bands")
    s"$tmp/bands"
  }

  /** s11's grown index: built from the EVEN vec_ids (the corpus at
    * index-build time), then the odd half arrives as an incremental
    * [[Similarity.appendToIvfIndex]] batch against the same trained
    * codebook — the FAISS-add shape. The timed query is the probe of
    * the grown index, the operation a serving deployment repeats. */
  val ensureAppendedIndex: Stager[String] = Stager("graft_s11idx") { (s, d, tmp) =>
    val emb = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
      s"$tmp/index", nCells = 16, trainIters = 2)
    Similarity.appendToIvfIndex(s"$tmp/index",
      emb.filter(col("vec_id") % 2 === 1))
    s"$tmp/index"
  }

  /** The certified IVF oracle derivation (s02's SQL), factored as a CTE
    * prefix so s17's recall evaluation composes the IDENTICAL algorithm
    * text instead of a drifting copy: cleaned corpus `e`, seed
    * centroids c0, two Lloyd iterations (a0→x1→m1→c1→a1→x2→m2→c),
    * final assignment `a`, and the nProbe=4 probe set `p`. Any change
    * here changes BOTH oracles together — exactly the invariant the
    * recall eval needs (it must probe the same index s02 ships). */
  private val IvfOracleCtes =
    """WITH e AS (SELECT vec_id, v FROM
      |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
      |c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
      |a0 AS (SELECT vec_id, cell_id FROM (
      |        SELECT e.vec_id, c0.cell_id,
      |          row_number() OVER (PARTITION BY e.vec_id
      |            ORDER BY round(list_cosine_similarity(e.v, c0.cv), 6) DESC, c0.cell_id) AS rn
      |        FROM e CROSS JOIN c0)
      |      WHERE rn = 1),
      |x1 AS (SELECT a0.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
      |      FROM a0 JOIN e USING (vec_id),
      |           unnest(range(1, len(e.v) + 1)) AS u(i)),
      |m1 AS (SELECT cell_id,
      |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
      |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
      |            FROM x1 GROUP BY 1, 2)
      |      GROUP BY 1),
      |c1 AS (SELECT c0.cell_id, coalesce(m1.mv, c0.cv) AS cv
      |       FROM c0 LEFT JOIN m1 USING (cell_id)),
      |a1 AS (SELECT vec_id, cell_id FROM (
      |        SELECT e.vec_id, c1.cell_id,
      |          row_number() OVER (PARTITION BY e.vec_id
      |            ORDER BY round(list_cosine_similarity(e.v, c1.cv), 6) DESC, c1.cell_id) AS rn
      |        FROM e CROSS JOIN c1)
      |      WHERE rn = 1),
      |x2 AS (SELECT a1.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
      |      FROM a1 JOIN e USING (vec_id),
      |           unnest(range(1, len(e.v) + 1)) AS u(i)),
      |m2 AS (SELECT cell_id,
      |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
      |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
      |            FROM x2 GROUP BY 1, 2)
      |      GROUP BY 1),
      |c AS (SELECT c1.cell_id, coalesce(m2.mv, c1.cv) AS cv
      |      FROM c1 LEFT JOIN m2 USING (cell_id)),
      |a AS (SELECT vec_id, cell_id FROM (
      |        SELECT e.vec_id, c.cell_id,
      |          row_number() OVER (PARTITION BY e.vec_id
      |            ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cell_id) AS rn
      |        FROM e CROSS JOIN c)
      |      WHERE rn = 1),
      |p AS (SELECT query_id, cell_id FROM (
      |        SELECT q.vec_id AS query_id, c.cell_id,
      |          row_number() OVER (PARTITION BY q.vec_id
      |            ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC, c.cell_id) AS rn
      |        FROM e q CROSS JOIN c WHERE q.vec_id < 10)
      |      WHERE rn <= 4)""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- JSON extraction over events.props --------------------------------
    ("q19_json_extract",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "events")
          .groupBy(col("event_type"))
          .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
            count(lit(1)).as("n"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
             |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  COUNT(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- rollup (multi-level aggregate) -----------------------------------
    ("q20_rollup",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
             |FROM lineitem
             |GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // ---- dedup: exact (hash groupBy on content) ---------------------------
    ("d01_dedup_exact",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .groupBy(col("text"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    // ---- dedup: word-bigram Jaccard on prefix-blocked pairs ---------------
    // maxBucket = 0 is the exact-oracle regime (measured prefix
    // multiplicity on this corpus is bounded); production sets a cap —
    // Dedup.prefixJaccardPairs threads it to capBuckets, and
    // DedupSimilaritySpec ("prefix bucket cap") shows bounded candidate
    // volume on a synthetic boilerplate corpus.
    ("d02_ngram_jaccard",
      (s: SparkSession, d: String) => {
        Dedup.prefixJaccardPairs(Tables.load(s, d, "documents"),
            "doc_id", "text", n = 2, prefixLen = 50, maxBucket = 0)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, substr(text, 1, 50) AS pfx,
             |    list_distinct(list_transform(range(1, greatest(len(w), 2)),
             |                  i -> w[i] || ' ' || w[i+1])) AS g
             |  FROM (SELECT doc_id, text,
             |          string_split_regex(lower(text), '\s+') AS w FROM documents))
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             |    / len(list_distinct(a.g || b.g)) AS jaccard
             |FROM grams a JOIN grams b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- dedup: edit-distance (Levenshtein) near-dups ---------------------
    // The fuzzy-dedup family member n-gram Jaccard under-weights: short
    // edits. Same prefix blocking (and maxBucket guard) as d02; each
    // candidate pays a THRESHOLDED Levenshtein (diagonal-banded DP,
    // early exit past the budget — see Dedup.editDistanceNearDups).
    // Both engines implement standard Levenshtein, so the pair set AND
    // the distances hash-match exactly.
    ("d11_edit_distance_dedup",
      (s: SparkSession, d: String) => {
        Dedup.editDistanceNearDups(Tables.load(s, d, "documents"),
            "doc_id", "text", maxDist = 5, prefixLen = 50, maxBucket = 0)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH b AS (SELECT doc_id, substr(text, 1, 50) AS pfx, text
             |           FROM documents)
             |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
             |  CAST(levenshtein(a.text, c.text) AS INT) AS edit_dist
             |FROM b a JOIN b c ON a.pfx = c.pfx AND a.doc_id < c.doc_id
             |WHERE levenshtein(a.text, c.text) <= 5
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- dedup: directional n-gram CONTAINMENT ----------------------------
    // Broder's containment |A∩B|/|A| — the asymmetric dup the Jaccard
    // family structurally misses: a doc quoted inside a boilerplate
    // wrapper scores low Jaccard against its source (union inflated by
    // the wrapper) but containment ≈ 1. Inverted-index join on word
    // 5-grams (candidates meet through gram equality — never a
    // cartesian), shared counts from the pair groupBy, denominator
    // joined back per doc; maxDf (off here, the exact-oracle regime)
    // bounds boilerplate posting lists at scale. Integer-exact inputs
    // to one double divide, rounded 6 dp on both engines.
    ("d12_containment_dedup",
      (s: SparkSession, d: String) => {
        Dedup.containmentNearDups(Tables.load(s, d, "documents"),
            "doc_id", "text", n = 5, threshold = 0.9, maxDf = 0)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
             |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS g
             |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
             |        FROM documents)
             |  WHERE len(w) >= 5),
             |e AS (SELECT doc_id, unnest(g) AS gram FROM grams),
             |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
             |       FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id <> b.doc_id
             |       GROUP BY 1, 2)
             |SELECT sh.id_a, sh.id_b,
             |  round(CAST(shared AS DOUBLE) / len(g), 6) AS containment
             |FROM sh JOIN grams ON sh.id_a = grams.doc_id
             |WHERE round(CAST(shared AS DOUBLE) / len(g), 6) >= 0.9
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- dedup: INCREMENTAL MinHash-LSH against the persisted band index --
    // The daily-crawl shape: ~80% of the corpus is "yesterday" (LCG
    // bucket < 8), its band keys live in a band-partitioned parquet
    // index built once per (JVM, sf); the timed query is the NEW 20%
    // arriving as a batch — new×index candidates through the index,
    // new×new from the batch, exact-Jaccard verify, pairs touching the
    // batch only. Yesterday's docs never re-pair with each other.
    // Oracle = d03's certified exact-Jaccard pair set restricted to
    // new-touching pairs: a band collision is a pairwise fact
    // indifferent to arrival order, so incremental recall equals
    // from-scratch recall on exactly that restriction (the same
    // deterministic-recall regime d03's oracle rests on).
    ("d13_incremental_lsh",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        val newDocs = docs.filter(
          graft.ops.TrainingPrep.hashBucket(col("doc_id"), 10) >= 8)
        Dedup.incrementalMinhashNearDups(s, ensureBandIndex(s, d),
            docs, newDocs, "doc_id", "text",
            n = 3, k = 16, bands = 4, threshold = 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |g AS (SELECT doc_id,
             |    list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
             |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM w),
             |g2 AS (SELECT doc_id, unnest(g) AS gram FROM g),
             |ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
             |       FROM g2 a JOIN g2 b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  round(CAST(i AS DOUBLE) / (la.l + lb.l - i), 6) AS jaccard
             |FROM ix JOIN (SELECT doc_id, len(g) AS l FROM g) la ON la.doc_id = id_a
             |        JOIN (SELECT doc_id, len(g) AS l FROM g) lb ON lb.doc_id = id_b
             |WHERE round(CAST(i AS DOUBLE) / (la.l + lb.l - i), 6) >= 0.5
             |  AND ((((id_a*48271)%2147483647+2147483647)%2147483647)%10 >= 8
             |    OR (((id_b*48271)%2147483647+2147483647)%2147483647)%10 >= 8)
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- dedup: MinHash + LSH banding ------------------------------------
    // Oracled: the exact trigram-Jaccard ≥ 0.5 pair set, via shared-
    // gram COUNTS (|A∩B| from an inverted-index join, |A∪B| =
    // |A|+|B|−|A∩B|) — no list intersection, so the reference runs in
    // ~2 s even at sf0.1. Valid because the fixed-seed signatures are
    // DETERMINISTIC and their measured candidate recall on this corpus
    // is complete at every sf (the near-dup pairs sit at J ≥ 0.9 where
    // the 4-band collision probability is ≥ 0.986/pair; set equality
    // is spec-asserted at sf0.001, so any seed/param/data change that
    // re-enters the probabilistic regime fails loudly, not silently).
    ("d03_minhash_lsh",
      (s: SparkSession, d: String) => {
        Dedup.minhashNearDups(Tables.load(s, d, "documents"), "doc_id", "text",
            n = 3, k = 16, bands = 4, threshold = 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |g AS (SELECT doc_id,
             |    list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
             |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM w),
             |g2 AS (SELECT doc_id, unnest(g) AS gram FROM g),
             |ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
             |       FROM g2 a JOIN g2 b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  round(CAST(i AS DOUBLE) / (la.l + lb.l - i), 6) AS jaccard
             |FROM ix JOIN (SELECT doc_id, len(g) AS l FROM g) la ON la.doc_id = id_a
             |        JOIN (SELECT doc_id, len(g) AS l FROM g) lb ON lb.doc_id = id_b
             |WHERE round(CAST(i AS DOUBLE) / (la.l + lb.l - i), 6) >= 0.5
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- dedup: SimHash banded near-dups (custom Catalyst expression) -----
    // 4 bands × 16-bit keys: pigeonhole-guaranteed recall for hamming ≤ 3
    // with 65,536-value band keys (buckets ~n/2^16 at corpus scale).
    // Shipped with the md5 fingerprint twin (SimHashMd5): md5 is a
    // built-in in BOTH engines, so the oracle recomputes the fingerprints
    // bit by bit from substr(md5(token),1,16) hex digits and takes the
    // ALL-PAIRS hamming ≤ 3 set — valid because banding guarantees
    // recall at hamming < bands and the exact hamming filter gives
    // precision 1, so the banded output EQUALS all-pairs. maxBucket = 0
    // is the exact-oracle regime, valid here for the same measured
    // reason as d02/d09: this corpus has no degenerate fingerprint
    // region (65,536-value band keys spread it thin). A
    // boilerplate-heavy production corpus MUST pass a cap —
    // simhashNearDupsMd5 threads maxBucket to the same capBuckets
    // guard as every other blocked join, trading capped recall for
    // bounded bucket² work — or the hot (band,bits) bucket goes
    // quadratic. The xxhash64-seeded variant (one XXH64 pass per token
    // vs a full MD5) remains the production fast path, pigeonhole- and
    // volume-gated in DedupSimilaritySpec.
    ("d04_simhash_neardup",
      (s: SparkSession, d: String) => {
        Dedup.simhashNearDupsMd5(Tables.load(s, d, "documents"), "doc_id", "text",
            bands = 4, maxHamming = 3, maxBucket = 0)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |tok AS (SELECT doc_id, unnest(w) AS t FROM w),
             |hx AS (SELECT doc_id, substr(md5(t), 1, 16) AS h FROM tok),
             |bits AS (SELECT doc_id, CAST(u.j AS INT) AS j,
             |    CASE WHEN ((strpos('0123456789abcdef',
             |                  substr(h, 16 - CAST(u.j AS INT) // 4, 1)) - 1)
             |               // (1 << (CAST(u.j AS INT) % 4))) % 2 = 1
             |         THEN 1 ELSE -1 END AS vote
             |  FROM hx, unnest(range(0, 64)) AS u(j)),
             |fpb AS (SELECT doc_id, j,
             |    CASE WHEN SUM(vote) > 0 THEN 1 ELSE 0 END AS bit
             |  FROM bits GROUP BY 1, 2),
             |fp AS (SELECT doc_id,
             |    CAST(SUM(CASE WHEN j = 63 THEN -(1::HUGEINT << 63)
             |                  ELSE (1::HUGEINT << j) END * bit) AS BIGINT) AS fp
             |  FROM fpb GROUP BY 1)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
             |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.fp, b.fp)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- dedup: embedding near-dup off the PERSISTED IVF index -----------
    // Shipped path: s08's on-disk index supplies the codebook AND the
    // int8 codes — the sweep re-trains nothing and re-quantizes nothing
    // (the r8 advice item; ivfNearDupPairs remains the index-free
    // fallback, spec-gated). Candidates = each vector's nProbe nearest
    // trained cells joined against the index's cell-partitioned codes;
    // int8 prefilter BEFORE the distinct/verify shuffles; exact-cosine
    // verify — no cartesian at any scale. SRP-LSH banding is the wrong
    // scheme at this threshold (cos 0.45 sits on the corpus' similarity
    // noise floor; 16-bit bands would need ~1,600 bands for recall 0.8).
    // nProbe = 6 of 16 cells holds recall 1.0 on this corpus for the
    // index path too (DedupSimilaritySpec asserts set EQUALITY with the
    // brute baseline at sf0.001/0.01/0.1), which is what lets d05 keep
    // its full all-pairs DuckDB oracle: with recall 1 and exact-verify
    // precision 1, the output IS the brute pair set.
    ("d05_embedding_neardup",
      (s: SparkSession, d: String) => {
        Similarity.ivfIndexNearDupPairs(ensureIvfIndex(s, d),
            Tables.load(s, d, "embeddings"), threshold = 0.45, nProbe = 6)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- dedup: exact-substring pairs (Lee et al. 2022 criterion) ---------
    // The gram itself is the block key (equality self-join, no
    // cartesian); maxBucket = 0 because the measured max gram
    // doc-frequency on this corpus is 4 — the EXACT regime, which is
    // what the all-pairs oracle certifies. Production caps + quarantines
    // hot boilerplate grams via capBucketsWithDropped.
    ("d09_substring_dedup",
      (s: SparkSession, d: String) => {
        Dedup.substringNearDupPairs(Tables.load(s, d, "documents"),
            "doc_id", "text", n = 8)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
             |      FROM w, unnest(range(1, greatest(len(w)-6, 1))) AS u(i))
             |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- dedup: SemDeDup semantic dedup off the PERSISTED IVF index -------
    // The cluster assignment is READ from s08's on-disk index (vec_id →
    // cell_id, a two-column columnar scan — no re-train, no re-assign;
    // the r8 advice item), so d10's clusters are now the TRAINED
    // codebook's — the clustering a deployment actually materializes.
    // Still fully deterministic and SQL-expressible: the oracle derives
    // the same codebook with the s02/s06-certified SQL k-means block
    // (c0→a0→m1→c1→a1→m2→c), then runs the unchanged intra-cluster
    // dedup rule — hash-checked, not just recall-gated. The index-free
    // seed-centroid path (semanticDedupKept) stays spec-covered as the
    // no-index fallback.
    ("d10_semantic_dedup",
      (s: SparkSession, d: String) => {
        Similarity.semanticDedupKeptFromIndex(ensureIvfIndex(s, d),
            Tables.load(s, d, "embeddings"), threshold = 0.45)
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
             |a0 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c0.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c0.cv), 6) DESC, c0.cell_id) AS rn
             |        FROM e CROSS JOIN c0)
             |      WHERE rn = 1),
             |x1 AS (SELECT a0.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM a0 JOIN e USING (vec_id),
             |           unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m1 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x1 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c1 AS (SELECT c0.cell_id, coalesce(m1.mv, c0.cv) AS cv
             |       FROM c0 LEFT JOIN m1 USING (cell_id)),
             |a1 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c1.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c1.cv), 6) DESC, c1.cell_id) AS rn
             |        FROM e CROSS JOIN c1)
             |      WHERE rn = 1),
             |x2 AS (SELECT a1.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM a1 JOIN e USING (vec_id),
             |           unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m2 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x2 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c AS (SELECT c1.cell_id, coalesce(m2.mv, c1.cv) AS cv
             |      FROM c1 LEFT JOIN m2 USING (cell_id)),
             |a AS (SELECT vec_id, cell_id AS cluster FROM (
             |        SELECT e.vec_id, c.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e CROSS JOIN c)
             |      WHERE rn = 1),
             |p AS (SELECT DISTINCT y.vec_id
             |      FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
             |      JOIN e ex ON ex.vec_id = x.vec_id
             |      JOIN e ey ON ey.vec_id = y.vec_id
             |      WHERE round(list_cosine_similarity(ex.v, ey.v), 6) >= 0.45)
             |SELECT a.vec_id, a.cluster
             |FROM a LEFT JOIN p ON a.vec_id = p.vec_id
             |WHERE p.vec_id IS NULL
             |ORDER BY a.vec_id""".stripMargin)),

    // ---- similarity: brute-force cosine top-k -----------------------------
    ("s01_cosine_topk",
      (s: SparkSession, d: String) => {
        val emb = Tables.load(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        Similarity.bruteForceTopK(emb.select("vec_id", "embedding"), queries, k = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
             |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: fixed-radius range search ----------------------------
    ("s05_range_search",
      (s: SparkSession, d: String) => {
        val emb = Tables.load(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        Similarity.rangeSearch(emb.select("vec_id", "embedding"), queries,
            radius = 0.35)
          .orderBy(col("query_id"), col("neighbor_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |  round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
             |FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
             |WHERE round(list_cosine_similarity(q.v, c.v), 6) >= 0.35
             |ORDER BY query_id, neighbor_id""".stripMargin)),

    // ---- similarity: IVF-probed ANN (full DuckDB oracle) ------------------
    // TRAINED codebook (trainIters = 2): the shipped index is the one a
    // real deployment builds — two Lloyd iterations over the corpus
    // before assignment, the k-means path s06 certifies through its own
    // oracle. On the near-uniform synthetic fixture training BALANCES
    // cells and recall dips (measured in DedupSimilaritySpec "s02
    // centroid choice": trained vs seed recall both recorded there);
    // on real corpora — which cluster — training raises recall, and a
    // balanced codebook is also the 100 TB operational win (per-cell
    // candidate counts stay near corpus/nCells, so no hot-cell
    // partition blows past the target partition size). The spec keeps
    // both numbers measured so the trade stays visible.
    //
    // Oracled via the d10 playbook: the pipeline is deterministic end to
    // end (seed centroids = lowest-id vectors; each Lloyd step = 6-dp-
    // rounded argmax assignment with lowest-cell-id tie-break, then
    // per-dimension means rounded to 6 dp and stored as float — the
    // c0→a0→m1→c1→a1→m2→c2 block below, the same mechanical CTE
    // repetition s06's oracle certifies; probing and ranking unchanged),
    // so the SQL re-runs the IVF algorithm ITSELF — not a brute-force
    // stand-in, so ANN recall < 1 cannot break the match.
    // Spark's cleanVectors (NaN self-cosine) maps to
    // list_inner_product(v,v) > 0: DuckDB's list_cosine_similarity
    // returns -1, not NaN, on zero vectors, so an isnan() mirror would
    // silently diverge on degenerate rows.
    ("s02_ann_ivf",
      (s: SparkSession, d: String) => {
        val emb = Tables.load(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        Similarity.ivfTopK(emb.select("vec_id", "embedding"), queries,
            k = 5, nCells = 16, nProbe = 4, trainIters = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(IvfOracleCtes + "\n" +
        """SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
          |  SELECT p.query_id, a.vec_id AS neighbor_id,
          |    round(list_cosine_similarity(q.v, n.v), 6) AS cos_sim,
          |    row_number() OVER (PARTITION BY p.query_id
          |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
          |  FROM p JOIN a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
          |  JOIN e q ON q.vec_id = p.query_id
          |  JOIN e n ON n.vec_id = a.vec_id)
          |WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: ANN recall evaluation harness ------------------------
    // "Measure, don't guess" as a first-class operator: recall@5 of the
    // s02 IVF probe against the exact brute-force ranking, per query —
    // the number every ANN deployment must monitor before trusting an
    // index (the spec suite asserts recall bounds; THIS makes the
    // measurement itself an oracle-checked, schedulable query). Both
    // sides run over the identically cleaned corpus so recall deficits
    // are attributable to the probe, never to basis drift. Outputs are
    // INTEGER (matched count, basis points = matched·2000) — no float
    // can decide or perturb a row. Scale shape: brute side is one
    // broadcast-queries scan (s01's plan), IVF side probes nProbe/
    // nCells of the corpus (s02's plan), the compare joins two
    // (nQueries·k)-row frames — evaluation cost is dominated by the
    // brute scan, which is exactly why recall is measured on a query
    // SAMPLE (here: the 10 fixture queries) rather than the corpus.
    // Oracle composes the shared IvfOracleCtes (the certified s02
    // derivation) with the s01 brute-force block, so the evaluated
    // index is provably the one s02 ships.
    ("s17_recall_eval",
      (s: SparkSession, d: String) => {
        import graft.functions.CosineSimilarity.cosineSim
        val emb = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
        val clean = emb.filter(size(col("embedding")) > 0 &&
          !isnan(cosineSim(col("embedding"), col("embedding"))))
        val queries = clean.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        val exact = Similarity.bruteForceTopK(clean, queries, k = 5)
          .select(col("query_id"), col("neighbor_id"))
        val approx = Similarity.ivfTopK(emb, queries,
            k = 5, nCells = 16, nProbe = 4, trainIters = 2)
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
        exact.join(approx, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(col("hit")).as("n_matched"))
          .select(col("query_id"), lit(5).cast("int").as("k"),
            col("n_matched"), (col("n_matched") * 2000L).as("recall_bp"))
          .orderBy(col("query_id"))
      },
      Some(IvfOracleCtes + ",\n" +
        """brute AS (SELECT query_id, neighbor_id FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
          |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
          |  WHERE rank <= 5),
          |ivf AS (SELECT query_id, neighbor_id FROM (
          |  SELECT p.query_id, a.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY p.query_id
          |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
          |  FROM p JOIN a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
          |  JOIN e q ON q.vec_id = p.query_id
          |  JOIN e n ON n.vec_id = a.vec_id)
          |  WHERE rank <= 5)
          |SELECT b.query_id, CAST(5 AS INT) AS k,
          |  CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_matched,
          |  CAST(COUNT(i.neighbor_id) * 2000 AS BIGINT) AS recall_bp
          |FROM brute b LEFT JOIN ivf i
          |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
          |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin)),

    // ---- similarity: MRR of the IVF probe (rank-position eval) ------------
    // s17 counts WHAT the probe finds; serving quality also needs
    // WHERE — mean-reciprocal-rank-style position tracking of the true
    // nearest neighbor inside the approximate list (an exact hit at
    // rank 5 and at rank 1 are different products). Per query: the
    // brute-force top-1's position in the IVF top-5 (0 = missed) and
    // its reciprocal rank in exact integer micro-units (1e6 div rank —
    // the truncating div both engines share; no float MRR to drift).
    // Same cleaned-corpus discipline and cost shape as s17; the oracle
    // composes the certified IvfOracleCtes with the s01 brute block,
    // so the evaluated index is provably the one s02 ships.
    ("s26_mrr_eval",
      (s: SparkSession, d: String) => {
        import graft.functions.CosineSimilarity.cosineSim
        val emb = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
        val clean = emb.filter(size(col("embedding")) > 0 &&
          !isnan(cosineSim(col("embedding"), col("embedding"))))
        val queries = clean.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        val brute1 = Similarity.bruteForceTopK(clean, queries, k = 1)
          .select(col("query_id"), col("neighbor_id").as("true_top1"))
        val ivf = Similarity.ivfTopK(emb, queries,
            k = 5, nCells = 16, nProbe = 4, trainIters = 2)
          .select(col("query_id").as("iq"), col("neighbor_id"), col("rank"))
        brute1.join(ivf,
            col("query_id") === col("iq") &&
              col("true_top1") === col("neighbor_id"), "left")
          .select(col("query_id"), col("true_top1"),
            coalesce(col("rank"), lit(0)).cast("long").as("pos"),
            when(col("rank").isNotNull,
              call_function("div", lit(1000000L), col("rank").cast("long")))
              .otherwise(0L).as("rr_micro"))
          .orderBy(col("query_id"))
      },
      Some(IvfOracleCtes + ",\n" +
        """brute AS (SELECT query_id, neighbor_id AS true_top1 FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
          |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
          |  WHERE rank = 1),
          |ivf AS (SELECT query_id, neighbor_id, rank FROM (
          |  SELECT p.query_id, a.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY p.query_id
          |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
          |  FROM p JOIN a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
          |  JOIN e q ON q.vec_id = p.query_id
          |  JOIN e n ON n.vec_id = a.vec_id)
          |  WHERE rank <= 5)
          |SELECT b.query_id, b.true_top1,
          |  CAST(COALESCE(i.rank, 0) AS BIGINT) AS pos,
          |  CAST(CASE WHEN i.rank IS NOT NULL THEN 1000000 // i.rank
          |       ELSE 0 END AS BIGINT) AS rr_micro
          |FROM brute b LEFT JOIN ivf i
          |  ON i.query_id = b.query_id AND i.neighbor_id = b.true_top1
          |ORDER BY b.query_id""".stripMargin)),

    // ---- similarity: nDCG@5 of the IVF probe (graded position eval) --------
    // The third leg of the eval triad (s17 recall = found at all, s26
    // MRR = where the single best lands, THIS = how well the whole
    // ranked list orders the relevant set): binary-relevance nDCG@5
    // with the exact top-5 as the ideal. The 1/log₂(i+1) position
    // weights are FIXED k=5 constants, so they ship as precomputed
    // integer micro-unit literals (1000000, 630929, 500000, 430676,
    // 386852; IDCG = 2948457) — no runtime log/float on either engine,
    // the whole metric is integer arithmetic ending in one truncating
    // div. Oracle composes the same certified CTEs as s17/s26.
    ("s27_ndcg_eval",
      (s: SparkSession, d: String) => {
        import graft.functions.CosineSimilarity.cosineSim
        val emb = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
        val clean = emb.filter(size(col("embedding")) > 0 &&
          !isnan(cosineSim(col("embedding"), col("embedding"))))
        val queries = clean.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        val exact = Similarity.bruteForceTopK(clean, queries, k = 5)
          .select(col("query_id"), col("neighbor_id"))
        val ivf = Similarity.ivfTopK(emb, queries,
            k = 5, nCells = 16, nProbe = 4, trainIters = 2)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
        val wMicro = when(col("rank") === 1, 1000000L)
          .when(col("rank") === 2, 630929L)
          .when(col("rank") === 3, 500000L)
          .when(col("rank") === 4, 430676L)
          .when(col("rank") === 5, 386852L)
        exact.join(ivf, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(col("rank")).as("n_rel"),
            sum(coalesce(wMicro, lit(0L))).as("dcg_micro"))
          .select(col("query_id"), col("n_rel"), col("dcg_micro"),
            call_function("div", col("dcg_micro") * 10000L, lit(2948457L))
              .as("ndcg_bp"))
          .orderBy(col("query_id"))
      },
      Some(IvfOracleCtes + ",\n" +
        """brute AS (SELECT query_id, neighbor_id FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
          |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
          |  WHERE rank <= 5),
          |ivf AS (SELECT query_id, neighbor_id, rank FROM (
          |  SELECT p.query_id, a.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY p.query_id
          |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
          |  FROM p JOIN a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
          |  JOIN e q ON q.vec_id = p.query_id
          |  JOIN e n ON n.vec_id = a.vec_id)
          |  WHERE rank <= 5)
          |SELECT b.query_id,
          |  CAST(COUNT(i.rank) AS BIGINT) AS n_rel,
          |  CAST(COALESCE(SUM(CASE i.rank WHEN 1 THEN 1000000
          |    WHEN 2 THEN 630929 WHEN 3 THEN 500000 WHEN 4 THEN 430676
          |    WHEN 5 THEN 386852 END), 0) AS BIGINT) AS dcg_micro,
          |  CAST(COALESCE(SUM(CASE i.rank WHEN 1 THEN 1000000
          |    WHEN 2 THEN 630929 WHEN 3 THEN 500000 WHEN 4 THEN 430676
          |    WHEN 5 THEN 386852 END), 0) * 10000 // 2948457 AS BIGINT)
          |    AS ndcg_bp
          |FROM brute b LEFT JOIN ivf i
          |  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
          |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin)),

    // ---- similarity: recall CURVE across the probe-width sweep ------------
    // s17 measures recall at ONE operating point; tuning an ANN
    // deployment needs the CURVE — recall@5 as nProbe sweeps 1 → 2 →
    // 4 against the exact top-5 — the measurement that picks the
    // probe width for a latency budget. The sweep probes the
    // PERSISTED index (ensureIvfIndex — the identical deterministic
    // training regime the oracle CTEs replay), so no arm retrains
    // anything: three cell-pruned probes of one codebook, which is
    // exactly how a deployment tunes. The oracle parameterizes the
    // certified probe CTE by a 3-row sweep frame and replays all
    // three arms in one SQL query. Output is 3 rows: nProbe, total
    // matched@5 over the 10-query batch, recall in basis points
    // (integer cross-multiplication, no float).
    ("s21_recall_curve",
      (s: SparkSession, d: String) => {
        import graft.functions.CosineSimilarity.cosineSim
        val idx = ensureIvfIndex(s, d)
        val emb = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
        val clean = emb.filter(size(col("embedding")) > 0 &&
          !isnan(cosineSim(col("embedding"), col("embedding"))))
        val queries = clean.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        val exact = Similarity.bruteForceTopK(clean, queries, k = 5)
          .select(col("query_id"), col("neighbor_id"))
        Seq(1, 2, 4).map { np =>
          val approx = Similarity.ivfIndexTopK(idx, emb, queries,
              k = 5, nProbe = np, rescore = 32)
            .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
          exact.join(approx, Seq("query_id", "neighbor_id"), "left")
            .agg(count(col("hit")).as("n_matched"))
            .select(lit(np).cast("int").as("n_probe"), col("n_matched"),
              (col("n_matched") * 200L).as("recall_bp"))
        }.reduce(_.unionAll(_)).orderBy(col("n_probe"))
      },
      Some(IvfOracleCtes + ",\n" +
        """pr AS (SELECT q.vec_id AS query_id, c.cell_id,
          |         row_number() OVER (PARTITION BY q.vec_id
          |           ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC, c.cell_id) AS rn
          |       FROM e q CROSS JOIN c WHERE q.vec_id < 10),
          |sweep AS (SELECT 1 AS np UNION ALL SELECT 2 UNION ALL SELECT 4),
          |brute AS (SELECT query_id, neighbor_id FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
          |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
          |  WHERE rank <= 5),
          |ivf AS (SELECT np, query_id, neighbor_id FROM (
          |  SELECT s.np, pr.query_id, a.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY s.np, pr.query_id
          |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
          |  FROM sweep s JOIN pr ON pr.rn <= s.np
          |  JOIN a ON a.cell_id = pr.cell_id AND a.vec_id <> pr.query_id
          |  JOIN e q ON q.vec_id = pr.query_id
          |  JOIN e n ON n.vec_id = a.vec_id)
          |  WHERE rank <= 5)
          |SELECT CAST(s.np AS INT) AS n_probe,
          |  CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_matched,
          |  CAST(COUNT(i.neighbor_id) * 200 AS BIGINT) AS recall_bp
          |FROM sweep s CROSS JOIN brute b
          |LEFT JOIN ivf i ON i.np = s.np AND i.query_id = b.query_id
          |  AND i.neighbor_id = b.neighbor_id
          |GROUP BY s.np ORDER BY n_probe""".stripMargin)),

    // ---- similarity: kNN majority-vote classification ---------------------
    // The embedding-serving workload on top of top-k search: label the
    // 10 unlabeled queries by majority vote among their 5 nearest
    // LABELED neighbors (corpus = vec_id ≥ 10 — the train split;
    // queries never vote for each other). Every decision is
    // INTEGER-exact: neighbor membership comes from the certified
    // round-6 ranking (s01's rule), the vote is a count, and ties
    // break to the smallest label — no float decides a row. Scale
    // shape: the neighbor frame is (nQueries·k) rows, so the label
    // join broadcasts THE NEIGHBOR SIDE against the corpus labels and
    // the vote window is over ≤ k rows per query. The brute scan is
    // the s01 plan; at index scale the same vote composes over the
    // s08 probe instead.
    ("s18_knn_classify",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.load(s, d, "embeddings")
        val corpus = emb.filter(col("vec_id") >= 10).select("vec_id", "embedding")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        val nn = Similarity.bruteForceTopK(corpus, queries, k = 5)
          .select(col("query_id"), col("neighbor_id"))
        val labels = emb.select(col("vec_id").as("neighbor_id"), col("label"))
        val votes = labels.join(broadcast(nn), "neighbor_id")
          .groupBy(col("query_id"), col("label"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("n").desc, col("label"))
        votes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("label").cast("int").as("pred_label"),
            col("n").as("n_votes"))
          .orderBy(col("query_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
             |           FROM embeddings),
             |nn AS (SELECT query_id, label FROM (
             |  SELECT q.vec_id AS query_id, c.label,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
             |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10)
             |  WHERE rank <= 5),
             |v AS (SELECT query_id, label, COUNT(*) AS n FROM nn GROUP BY 1, 2)
             |SELECT query_id, CAST(label AS INT) AS pred_label,
             |  CAST(n AS BIGINT) AS n_votes FROM (
             |  SELECT query_id, label, n,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY n DESC, label) AS rn
             |  FROM v)
             |WHERE rn = 1 ORDER BY query_id""".stripMargin)),

    // ---- similarity: k-means (Lloyd) clustering as a query ----------------
    // The trainer in isolation (s02 now SHIPS this trained codebook in
    // its ANN path; this certifies the trainer through the oracle gate):
    // TWO Lloyd iterations from the seed centroids, then cluster sizes —
    // two, not one, so the oracle certifies convergence BEHAVIOR (means
    // of means, empty-cell carry across iterations), not just a single
    // refinement step. Oracle-able because every step is
    // engine-reproducible — seed centroids = lowest-id vectors, argmax
    // assignment on 6-dp-rounded cosine with cell-id tie-break,
    // per-dimension means ROUNDED to 6 dp before the float cast
    // (kmeansCentroids' rule: summation order can't leak), empty cells
    // carried via LEFT JOIN/coalesce. The SQL re-runs both iterations
    // itself (the a→x→m→c block repeated — mechanical CTE repetition)
    // with round(avg(v[i]), 6) per dimension and a CAST(... AS FLOAT)
    // round-trip matching Spark's float centroid storage.
    ("s06_kmeans_clusters",
      (s: SparkSession, d: String) => {
        import graft.functions.CosineSimilarity.cosineSim
        val emb = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
        val clean = emb.filter(size(col("embedding")) > 0 &&
          !isnan(cosineSim(col("embedding"), col("embedding"))))
        val cents = Similarity.kmeansCentroids(clean, nCells = 8, iters = 2)
        Similarity.ivfAssign(clean, cents)
          .groupBy(col("cell_id"))
          .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("min_member"))
          .select(col("cell_id").as("cluster"), col("n_members"), col("min_member"))
          .orderBy(col("cluster"))
      },
      Some("""WITH e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 8),
             |a0 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c0.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c0.cv), 6) DESC, c0.cell_id) AS rn
             |        FROM e CROSS JOIN c0)
             |      WHERE rn = 1),
             |x1 AS (SELECT a0.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM a0 JOIN e USING (vec_id),
             |           unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m1 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x1 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c1 AS (SELECT c0.cell_id, coalesce(m1.mv, c0.cv) AS cv
             |       FROM c0 LEFT JOIN m1 USING (cell_id)),
             |a1 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c1.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c1.cv), 6) DESC, c1.cell_id) AS rn
             |        FROM e CROSS JOIN c1)
             |      WHERE rn = 1),
             |x2 AS (SELECT a1.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM a1 JOIN e USING (vec_id),
             |           unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m2 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x2 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c2 AS (SELECT c1.cell_id, coalesce(m2.mv, c1.cv) AS cv
             |       FROM c1 LEFT JOIN m2 USING (cell_id)),
             |a2 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c2.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c2.cv), 6) DESC, c2.cell_id) AS rn
             |        FROM e CROSS JOIN c2)
             |      WHERE rn = 1)
             |SELECT cell_id AS cluster, COUNT(*) AS n_members,
             |  MIN(vec_id) AS min_member
             |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- similarity: int8-quantized scan + exact rescore ------------------
    // 4× smaller candidate vectors; rescore=32 ≫ k makes the output
    // equal brute force on this data (verified at every sf), so the
    // oracle is the same exact top-k SQL as s01.
    ("s03_quantized_topk",
      (s: SparkSession, d: String) => {
        val emb = Tables.load(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        Similarity.quantizedTopK(emb.select("vec_id", "embedding"), queries,
            k = 5, rescore = 32)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
             |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: product-quantized scan, bound-pruned EXACT top-k -----
    // The compression regime past int8: m=8 one-byte sub-codes + norm +
    // reconstruction-error floats per vector (~21× smaller than
    // float32 at D=64), scored by the asymmetric-distance kernel —
    // each query precomputes its sub-centroid dot-product table, a
    // candidate costs m table lookups, zero per-candidate float math.
    // The reconstruction error turns ADC into a Cauchy–Schwarz cosine
    // INTERVAL per candidate: anything whose upper bound falls under
    // the k-th best lower bound provably cannot rank, and only
    // survivors pay the exact rescore — so the result is exact AT ANY
    // CORPUS SIZE (not an empirical rescore-depth bet) and the oracle
    // is the same exact top-k SQL as s01/s03, on its own query range.
    ("s12_pq_topk",
      (s: SparkSession, d: String) => {
        val emb = Tables.load(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        Similarity.pqTopK(emb.select("vec_id", "embedding"), queries,
            k = 5, m = 8, ks = 16)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
             |  FROM e q JOIN e c ON q.vec_id >= 10 AND q.vec_id < 20
             |    AND c.vec_id <> q.vec_id)
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: exact MIPS top-k (norm-bound pruned) -----------------
    // Ranking by RAW INNER PRODUCT, not cosine — the recommender
    // retrieval semantics where popularity lives in the embedding norm.
    // Exact at any corpus size via the Cauchy–Schwarz norm bound: a
    // high-norm seed's k-th best dot is a certified lower bound τ, and
    // the full scan skips every row with ‖v‖·‖q‖ < τ (it provably
    // cannot rank). At 100 TB the persisted norm column + norm-sorted
    // files turn the same bound into parquet min/max FILE pruning. The
    // oracle is brute-force exact top-k by list_inner_product — safe
    // because the prune is a proof, not a recall bet.
    ("s13_mips_topk",
      (s: SparkSession, d: String) => {
        val emb = Tables.load(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") >= 20 && col("vec_id") < 30)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        Similarity.mipsTopK(emb.select("vec_id", "embedding"), queries,
            k = 5, seedN = 64)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0)
             |SELECT query_id, neighbor_id, ip, CAST(rank AS INT) AS rank FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    round(list_inner_product(q.v, c.v), 6) AS ip,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY round(list_inner_product(q.v, c.v), 6) DESC, c.vec_id) AS rank
             |  FROM e q JOIN e c ON q.vec_id >= 20 AND q.vec_id < 30
             |    AND c.vec_id <> q.vec_id)
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: IVF + PQ composed search (the FAISS IVFPQ shape) -----
    // The two scale levers stacked: IVF cell pruning bounds WHICH
    // vectors are touched (~nProbe/nCells of the corpus), the PQ index
    // bounds the BYTES per touched vector (m codes + 2 floats, ~21×
    // smaller than float32), and the Cauchy–Schwarz interval keeps the
    // composition EXACT among the probed cells — so the result equals
    // s02's plain IVF row for row and the oracle re-runs the IVF
    // algorithm itself (seed centroids, 6-dp argmax assignment, probe,
    // ranked tail — the untrained half of the s02 playbook).
    ("s14_ivfpq_topk",
      (s: SparkSession, d: String) => {
        val emb = Tables.load(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") >= 30 && col("vec_id") < 40)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        Similarity.ivfPqTopK(emb.select("vec_id", "embedding"), queries,
            k = 5, nCells = 16, nProbe = 4, m = 8, ks = 16)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |c AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
             |a AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e CROSS JOIN c)
             |      WHERE rn = 1),
             |p AS (SELECT query_id, cell_id FROM (
             |        SELECT q.vec_id AS query_id, c.cell_id,
             |          row_number() OVER (PARTITION BY q.vec_id
             |            ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e q CROSS JOIN c WHERE q.vec_id >= 30 AND q.vec_id < 40)
             |      WHERE rn <= 4)
             |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, n.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY p.query_id
             |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
             |  FROM p JOIN a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
             |  JOIN e q ON q.vec_id = p.query_id
             |  JOIN e n ON n.vec_id = a.vec_id)
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: MMR diversified top-k (serving-time re-rank) ---------
    // Maximal marginal relevance (Carbonell & Goldstein 1998) over the
    // top-32 cosine candidates of query vec 0: greedy
    // argmax 0.7·rel − 0.3·max-sim-to-picked, k = 8. The distributed
    // part is candidate generation (the s01 scan shape; the index probe
    // at scale); the greedy runs on the driver over nCand-BOUNDED
    // scores — see [[graft.ops.Similarity.mmrDiversify]]. The oracle
    // replays the same greedy as a recursive CTE carrying the picked
    // list, on identically 6-dp-rounded similarities.
    ("s15_mmr_diversify",
      (s: SparkSession, d: String) => {
        Similarity.mmrDiversify(
            Tables.load(s, d, "embeddings").select("vec_id", "embedding"),
            queryVecId = 0L, nCand = 32, k = 8, lambda = 0.7)
          .orderBy(col("rank"))
      },
      Some("""WITH RECURSIVE
             |e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |cand AS (
             |  SELECT c.vec_id, round(list_cosine_similarity(q.v, c.v), 6) AS rel, c.v
             |  FROM e c, (SELECT v FROM e WHERE vec_id = 0) q
             |  WHERE c.vec_id <> 0
             |  ORDER BY rel DESC, c.vec_id LIMIT 32),
             |pair AS (
             |  SELECT a.vec_id AS ia, b.vec_id AS ib,
             |    round(list_cosine_similarity(a.v, b.v), 6) AS s
             |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
             |sel(step, picked, last_score) AS (
             |  SELECT 1, [(SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 1)],
             |    (SELECT round(0.7*rel, 6) FROM cand ORDER BY rel DESC, vec_id LIMIT 1)
             |  UNION ALL
             |  SELECT step+1,
             |    list_append(picked, (
             |      SELECT c.vec_id FROM cand c
             |      WHERE NOT list_contains(picked, c.vec_id)
             |      ORDER BY round(0.7*c.rel - 0.3*(SELECT MAX(p.s) FROM pair p
             |        WHERE p.ia = c.vec_id AND list_contains(picked, p.ib)), 6) DESC,
             |        c.vec_id
             |      LIMIT 1)),
             |    (SELECT round(0.7*c.rel - 0.3*(SELECT MAX(p.s) FROM pair p
             |        WHERE p.ia = c.vec_id AND list_contains(picked, p.ib)), 6) AS m
             |     FROM cand c WHERE NOT list_contains(picked, c.vec_id)
             |     ORDER BY m DESC, c.vec_id LIMIT 1)
             |  FROM sel WHERE step < 8)
             |SELECT CAST(f.step AS INT) AS rank, f.picked[f.step] AS vec_id,
             |  f.last_score AS mmr_score
             |FROM sel f ORDER BY rank""".stripMargin)),

    // ---- similarity: filtered ANN (metadata predicate + vector search) ----
    // Top-5 by cosine among vectors with label < 3 only, served off the
    // UNFILTERED seed-centroid assignment — one index, any predicate,
    // filter applied to candidate rows before scoring (see
    // [[graft.ops.Similarity.ivfFilteredTopK]]). The oracle re-runs the
    // deterministic IVF (s14's untrained playbook) and applies the same
    // label cut before ranking.
    ("s16_filtered_ann",
      (s: SparkSession, d: String) => {
        val emb = Tables.load(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") >= 40 && col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        Similarity.ivfFilteredTopK(
            emb.select("vec_id", "embedding", "label"), queries,
            pred = col("label") < 3, k = 5, nCells = 16, nProbe = 4)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, label, v FROM
             |        (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             |         FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |c AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
             |a AS (SELECT vec_id, label, cell_id FROM (
             |        SELECT e.vec_id, e.label, c.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e CROSS JOIN c)
             |      WHERE rn = 1),
             |p AS (SELECT query_id, cell_id FROM (
             |        SELECT q.vec_id AS query_id, c.cell_id,
             |          row_number() OVER (PARTITION BY q.vec_id
             |            ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e q CROSS JOIN c WHERE q.vec_id >= 40 AND q.vec_id < 50)
             |      WHERE rn <= 4)
             |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, n.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY p.query_id
             |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
             |  FROM p JOIN a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
             |    AND a.label < 3
             |  JOIN e q ON q.vec_id = p.query_id
             |  JOIN e n ON n.vec_id = a.vec_id)
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: exact k-NN self-join (quantized scan) ----------------
    // Every vector is a query: the SemDeDup-style all-pairs primitive.
    // The int8 scan + rescore ≫ k equals brute force exactly (spec
    // re-asserts it for the self-join), so the full brute oracle holds.
    ("s04_knn_join",
      (s: SparkSession, d: String) => {
        Similarity.knnJoin(
            Tables.load(s, d, "embeddings").select("vec_id", "embedding"),
            k = 3, rescore = 32)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
             |  FROM e q JOIN e c ON c.vec_id <> q.vec_id)
             |WHERE rank <= 3
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: IVF k-NN JOIN (the unbounded-scale all-pairs path) ----
    // s04's exact kNN join broadcasts the query batch to the int8 scan —
    // right up to ~10⁶ queries, then the broadcast IS the ceiling (its
    // scaladoc owns this). This is the shape past that ceiling: every
    // vector is a query and arrives at its candidates through a
    // CELL-KEYED SHUFFLE JOIN (probes ⋈ assignments on cell_id — only
    // the nCells-row codebook broadcasts), so both sides partition
    // freely at any corpus size. Candidates travel as the QUANTIZED
    // int8 index (vec_id, cell_id, q8, q_scale — 4× fewer bytes than
    // float32 through the shuffle), and rescore = 32 ≫ k re-ranks the
    // shortlist at full precision, which equals the float path exactly
    // (DedupSimilaritySpec asserts it for this self-join, the s03/s04
    // rule). The trade is ANN recall (~0.87 measured for self-kNN on
    // this corpus at nProbe 4 — neighbors sit at the similarity noise
    // floor, which is WHY s04 ships exact for broadcastable batches);
    // the oracle is still full rows+hash because the SQL re-runs the
    // IVF algorithm itself (the s02 playbook: seed centroids, 6-dp
    // argmax, probe cells, ranked tail), so neither approximate recall
    // nor quantization can break the match.
    ("s07_ivf_knn_join",
      (s: SparkSession, d: String) => {
        val emb = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
        Similarity.ivfTopK(emb,
            emb.select(col("vec_id").as("query_id"),
              col("embedding").as("q_embedding")),
            k = 3, nCells = 16, nProbe = 4, quantized = true, rescore = 32)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |c AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
             |a AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e CROSS JOIN c)
             |      WHERE rn = 1),
             |p AS (SELECT query_id, cell_id FROM (
             |        SELECT q.vec_id AS query_id, c.cell_id,
             |          row_number() OVER (PARTITION BY q.vec_id
             |            ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e q CROSS JOIN c)
             |      WHERE rn <= 4)
             |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, n.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY p.query_id
             |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
             |  FROM p JOIN a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
             |  JOIN e q ON q.vec_id = p.query_id
             |  JOIN e n ON n.vec_id = a.vec_id)
             |WHERE rank <= 3
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: persisted-index probe (the serving path) -------------
    // s02 re-derives codebook and assignment inside the query — right
    // for one-shot analytics, wrong for serving, where the index is
    // built once and probed forever. s08 is that second regime:
    // [[graft.ops.Similarity.buildIvfIndex]] materializes the trained
    // IVF-int8 layout on disk (write-once fixture, like q45's bucketed
    // tables), and the timed query is ONLY the probe — codebook off
    // disk, candidate scan statically pruned to the probed cells'
    // partition directories (PartitionFilters, asserted in
    // DedupSimilaritySpec), int8 candidates rescored exactly. Same
    // training regime as s02 (nCells=16, trainIters=2) so the oracle
    // is s02's certified codebook CTE with the probe batch swapped to
    // vec_id ∈ [10, 20).
    ("s08_ann_index_probe",
      (s: SparkSession, d: String) => {
        val idx = ensureIvfIndex(s, d)
        val emb = Tables.load(s, d, "embeddings")
        val queries = emb
          .filter(col("vec_id") >= 10 && col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        Similarity.ivfIndexTopK(idx, emb.select("vec_id", "embedding"),
            queries, k = 5, nProbe = 4, rescore = 32)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
             |a0 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c0.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c0.cv), 6) DESC, c0.cell_id) AS rn
             |        FROM e CROSS JOIN c0)
             |      WHERE rn = 1),
             |x1 AS (SELECT a0.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM a0 JOIN e USING (vec_id),
             |           unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m1 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x1 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c1 AS (SELECT c0.cell_id, coalesce(m1.mv, c0.cv) AS cv
             |       FROM c0 LEFT JOIN m1 USING (cell_id)),
             |a1 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c1.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c1.cv), 6) DESC, c1.cell_id) AS rn
             |        FROM e CROSS JOIN c1)
             |      WHERE rn = 1),
             |x2 AS (SELECT a1.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM a1 JOIN e USING (vec_id),
             |           unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m2 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x2 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c AS (SELECT c1.cell_id, coalesce(m2.mv, c1.cv) AS cv
             |      FROM c1 LEFT JOIN m2 USING (cell_id)),
             |a AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e CROSS JOIN c)
             |      WHERE rn = 1),
             |p AS (SELECT query_id, cell_id FROM (
             |        SELECT q.vec_id AS query_id, c.cell_id,
             |          row_number() OVER (PARTITION BY q.vec_id
             |            ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e q CROSS JOIN c WHERE q.vec_id >= 10 AND q.vec_id < 20)
             |      WHERE rn <= 4)
             |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, n.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY p.query_id
             |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
             |  FROM p JOIN a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
             |  JOIN e q ON q.vec_id = p.query_id
             |  JOIN e n ON n.vec_id = a.vec_id)
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: index DELETE, then probe (takedown on the index) -----
    // The missing leg of index CRUD after s08 (build+probe) and s11
    // (append): a takedown list of vec_ids is REMOVED from the
    // persisted index by rewriting only the cell partitions that
    // contain victims (Similarity.deleteFromIvfIndex — q64's pruned
    // partition rewrite on the index layout; untouched cells keep
    // their files, spec-asserted), and the probe immediately stops
    // returning them. The codebook never retrains on delete — same
    // rebuild-cadence contract as append drift. Each run COPIES the
    // shared base index (st21's rule: mutation stays per-run, training
    // stays amortized). Oracle: s08's certified codebook CTE with
    // victims (vec_id ≡ 3 mod 10) excluded from the candidate
    // assignment — exactly the post-delete index content.
    ("s19_index_delete_probe",
      (s: SparkSession, d: String) => {
        val tmp = graft.TempDirs.create("graft_s19")
        val idx = s"$tmp/index"
        val base = ensureIvfIndex(s, d)
        val conf = s.sessionState.newHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(base),
          fs, new org.apache.hadoop.fs.Path(idx), false, conf)
        val emb = Tables.load(s, d, "embeddings")
        // bounded external takedown list (the q64/purge contract),
        // fixture-derived deterministically
        val victims = emb.filter(col("vec_id") % 10 === 3)
          .select(col("vec_id")).orderBy(col("vec_id")).limit(10000)
          .collect().map(_.getLong(0)).toSeq
        Similarity.deleteFromIvfIndex(idx, victims)
        val queries = emb
          .filter(col("vec_id") >= 40 && col("vec_id") < 50 &&
            col("vec_id") % 10 =!= 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        Similarity.ivfIndexTopK(idx, emb.select("vec_id", "embedding"),
            queries, k = 5, nProbe = 4, rescore = 32)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
             |a0 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c0.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c0.cv), 6) DESC, c0.cell_id) AS rn
             |        FROM e CROSS JOIN c0)
             |      WHERE rn = 1),
             |x1 AS (SELECT a0.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM a0 JOIN e USING (vec_id),
             |           unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m1 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x1 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c1 AS (SELECT c0.cell_id, coalesce(m1.mv, c0.cv) AS cv
             |       FROM c0 LEFT JOIN m1 USING (cell_id)),
             |a1 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c1.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c1.cv), 6) DESC, c1.cell_id) AS rn
             |        FROM e CROSS JOIN c1)
             |      WHERE rn = 1),
             |x2 AS (SELECT a1.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM a1 JOIN e USING (vec_id),
             |           unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m2 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x2 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c AS (SELECT c1.cell_id, coalesce(m2.mv, c1.cv) AS cv
             |      FROM c1 LEFT JOIN m2 USING (cell_id)),
             |a AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e CROSS JOIN c)
             |      WHERE rn = 1),
             |p AS (SELECT query_id, cell_id FROM (
             |        SELECT q.vec_id AS query_id, c.cell_id,
             |          row_number() OVER (PARTITION BY q.vec_id
             |            ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e q CROSS JOIN c
             |        WHERE q.vec_id >= 40 AND q.vec_id < 50 AND q.vec_id % 10 <> 3)
             |      WHERE rn <= 4)
             |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, n.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY p.query_id
             |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
             |  FROM p JOIN a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
             |               AND a.vec_id % 10 <> 3
             |  JOIN e q ON q.vec_id = p.query_id
             |  JOIN e n ON n.vec_id = a.vec_id)
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: INCREMENTAL index growth (append, then probe) --------
    // How IVF deployments actually grow (FAISS add): the index is
    // trained and built from the corpus AT BUILD TIME (the even
    // vec_ids here), later arrivals (the odd half) are assigned +
    // int8-quantized against the SAME codebook and their codes
    // APPENDED to the cell directories — no retrain, no rewrite of
    // existing files, cost ∝ the batch (the table-maintenance
    // discipline of q59/q68 applied to the ANN index). The probe sees
    // appended vectors immediately. Oracle: the s02-certified SQL
    // k-means block TRAINED ON THE EVEN SUBSET ONLY, with the final
    // assignment over ALL vectors — exactly the grown index's content
    // — so the query certifies end to end that append-time assignment
    // matches build-time assignment semantics.
    ("s11_index_append_probe",
      (s: SparkSession, d: String) => {
        val idx = ensureAppendedIndex(s, d)
        val emb = Tables.load(s, d, "embeddings")
        val queries = emb
          .filter(col("vec_id") >= 20 && col("vec_id") < 30)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
        Similarity.ivfIndexTopK(idx, emb.select("vec_id", "embedding"),
            queries, k = 5, nProbe = 4, rescore = 32)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |ev AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
             |c0 AS (SELECT vec_id AS cell_id, v AS cv FROM ev ORDER BY vec_id LIMIT 16),
             |a0 AS (SELECT vec_id, cell_id FROM (
             |        SELECT ev.vec_id, c0.cell_id,
             |          row_number() OVER (PARTITION BY ev.vec_id
             |            ORDER BY round(list_cosine_similarity(ev.v, c0.cv), 6) DESC, c0.cell_id) AS rn
             |        FROM ev CROSS JOIN c0)
             |      WHERE rn = 1),
             |x1 AS (SELECT a0.cell_id, u.i, ev.v[CAST(u.i AS INT)] AS xv
             |      FROM a0 JOIN ev USING (vec_id),
             |           unnest(range(1, len(ev.v) + 1)) AS u(i)),
             |m1 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x1 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c1 AS (SELECT c0.cell_id, coalesce(m1.mv, c0.cv) AS cv
             |       FROM c0 LEFT JOIN m1 USING (cell_id)),
             |a1 AS (SELECT vec_id, cell_id FROM (
             |        SELECT ev.vec_id, c1.cell_id,
             |          row_number() OVER (PARTITION BY ev.vec_id
             |            ORDER BY round(list_cosine_similarity(ev.v, c1.cv), 6) DESC, c1.cell_id) AS rn
             |        FROM ev CROSS JOIN c1)
             |      WHERE rn = 1),
             |x2 AS (SELECT a1.cell_id, u.i, ev.v[CAST(u.i AS INT)] AS xv
             |      FROM a1 JOIN ev USING (vec_id),
             |           unnest(range(1, len(ev.v) + 1)) AS u(i)),
             |m2 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x2 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c AS (SELECT c1.cell_id, coalesce(m2.mv, c1.cv) AS cv
             |      FROM c1 LEFT JOIN m2 USING (cell_id)),
             |a AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e CROSS JOIN c)
             |      WHERE rn = 1),
             |p AS (SELECT query_id, cell_id FROM (
             |        SELECT q.vec_id AS query_id, c.cell_id,
             |          row_number() OVER (PARTITION BY q.vec_id
             |            ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e q CROSS JOIN c WHERE q.vec_id >= 20 AND q.vec_id < 30)
             |      WHERE rn <= 4)
             |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    round(list_cosine_similarity(q.v, n.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY p.query_id
             |      ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC, a.vec_id) AS rank
             |  FROM p JOIN a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
             |  JOIN e q ON q.vec_id = p.query_id
             |  JOIN e n ON n.vec_id = a.vec_id)
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: per-label centroid outliers (embedding QC) -----------
    // The embedding-space quality filter beside d10's near-dup removal:
    // the 5 vectors per label farthest from their label's mean
    // embedding — curation candidates (mislabeled/noisy docs). Centroid
    // rule is s06's certified 6-dp mean; the oracle re-derives it with
    // the same unnest-avg CTE and ranks ascending cosine.
    ("s09_embedding_outliers",
      (s: SparkSession, d: String) => {
        Similarity.centroidOutliers(Tables.load(s, d, "embeddings"), k = 5)
          .orderBy(col("label"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, label, v FROM
             |        (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |x AS (SELECT label, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM e, unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m AS (SELECT label,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS cv
             |      FROM (SELECT label, i, round(avg(xv), 6) AS mx
             |            FROM x GROUP BY 1, 2)
             |      GROUP BY 1),
             |sc AS (SELECT e.label, e.vec_id,
             |        round(list_cosine_similarity(e.v, m.cv), 6) AS cos_sim
             |      FROM e JOIN m USING (label))
             |SELECT label, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (
             |  SELECT label, vec_id, cos_sim,
             |    row_number() OVER (PARTITION BY label
             |      ORDER BY cos_sim ASC, vec_id) AS rank
             |  FROM sc)
             |WHERE rank <= 5
             |ORDER BY label, rank""".stripMargin)),

    // ---- similarity: multi-vector MaxSim retrieval (late interaction) -----
    // The ColBERT-family scoring shape (Khattab & Zaharia, SIGIR'20):
    // a query is a SET of vectors and a document's score is the MAX
    // similarity over them — paraphrase coverage a single pooled
    // vector loses. Fixture: vec_ids 0–8 form three 3-vector queries
    // (query_id = vec_id div 3) against the rest of the corpus. Plan:
    // the query set is broadcast (bounded — real query batches are),
    // the corpus is scanned ONCE, per-(query, doc) max folds the
    // |query vectors| factor map-side before any shuffle, and the
    // per-query rank window partitions on query_id over the scored
    // frame (at index scale the candidates arrive cell-pruned via s08
    // first — the window's input is bounded either way). Per-vector
    // similarities round to 6 dp BEFORE the max, so reduction order
    // cannot leak a float difference.
    ("s20_maxsim_topk",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.CosineSimilarity.cosineSim
        val emb = Tables.load(s, d, "embeddings")
        val qv = emb.filter(col("vec_id") < 9)
          .select(expr("vec_id div 3").as("query_id"),
            col("embedding").as("q_emb"))
        val scored = emb.filter(col("vec_id") >= 9)
          .crossJoin(broadcast(qv))
          .select(col("query_id"), col("vec_id"),
            round(cosineSim(col("embedding"), col("q_emb")), 6).as("cs"))
          .filter(!isnan(col("cs")))
          .groupBy(col("query_id"), col("vec_id"))
          .agg(max(col("cs")).as("maxsim"))
        scored.withColumn("rank", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("maxsim").desc, col("vec_id"))).cast("int"))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            col("maxsim"), col("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |qv AS (SELECT vec_id // 3 AS query_id, v FROM e WHERE vec_id < 9),
             |sc AS (SELECT qv.query_id, e.vec_id,
             |         MAX(round(list_cosine_similarity(e.v, qv.v), 6)) AS maxsim
             |       FROM e CROSS JOIN qv WHERE e.vec_id >= 9
             |       GROUP BY 1, 2)
             |SELECT query_id, vec_id AS neighbor_id, maxsim,
             |  CAST(rank AS INT) AS rank FROM (
             |  SELECT query_id, vec_id, maxsim,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY maxsim DESC, vec_id) AS rank
             |  FROM sc)
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: hybrid retrieval (BM25 ⊕ cosine, RRF fusion) ---------
    // Lexical and vector retrieval answer different failure modes
    // (exact terms vs paraphrase), so production search fuses them.
    // s10 runs t12's BM25 scorer (same terms, same code path via
    // [[TrainingPrepQueries.bm25Scores]]) and a full cosine ranking
    // against an exemplar document's embedding (vec_id 0 — doc and
    // vector ids coincide in the fixture), then reciprocal-rank-fuses
    // with the standard k = 60: rrf = Σ 1/(60 + rank), absent side
    // contributes 0. Every arithmetic step is IEEE-exact (division +
    // addition of exact ranks — no libm), so the oracle recomputes the
    // identical fusion; ranks inherit each side's certified
    // determinism (6-dp rounding + id tie-breaks). At 100 TB each arm
    // keeps its own scale path (term-filtered postings; ANN via the
    // s08 index) and the fusion joins two (doc_id, rank) frames —
    // bytes ∝ candidates, never corpora.
    ("s10_hybrid_search",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.CosineSimilarity.cosineSim
        // Each arm is TRUNCATED to its top-K candidates (K = 100 ≫ 10)
        // via TakeOrderedAndProject BEFORE ranking — real RRF fuses
        // bounded candidate lists, never full-corpus ranks, and an
        // unpartitioned row_number over the whole corpus is a one-task
        // sort at 100 TB. The rank windows below run over ≤ K rows.
        // The oracle applies the identical truncation, and
        // HybridFusionSpec proves the fused top-10 equals the
        // full-rank fusion on the fixture (K covers every rank that
        // can reach the top 10).
        val K = 100
        val bm = TrainingPrepQueries.bm25Scores(s, d, Seq("join", "vector", "scan"))
          .orderBy(col("score").desc, col("doc_id")).limit(K)
          .withColumn("r_bm25",
            row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
          .select(col("doc_id"), col("r_bm25"))
        val emb = Tables.load(s, d, "embeddings")
        val qvec = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).collect()(0).getSeq[Float](0)
        val cos = emb.select(col("vec_id").as("doc_id"),
            round(cosineSim(col("embedding"), typedLit(qvec)), 6).as("cs"))
          .filter(!isnan(col("cs")))
          .orderBy(col("cs").desc, col("doc_id")).limit(K)
          .withColumn("r_cos",
            row_number().over(Window.orderBy(col("cs").desc, col("doc_id"))))
          .select(col("doc_id"), col("r_cos"))
        bm.join(cos, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            round(coalesce(lit(1.0) / (lit(60.0) + col("r_bm25")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60.0) + col("r_cos")), lit(0.0)), 6).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(10)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))).cast("int"))
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
             |bm AS (SELECT doc_id,
             |         row_number() OVER (ORDER BY score DESC, doc_id) AS r_bm25
             |       FROM (SELECT doc_id,
             |               CAST(SUM(CAST(ts AS DECIMAL(18,6))) AS DOUBLE) AS score
             |             FROM sc GROUP BY 1)
             |       QUALIFY r_bm25 <= 100),
             |e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |cr AS (SELECT doc_id,
             |         row_number() OVER (ORDER BY cs DESC, doc_id) AS r_cos
             |       FROM (SELECT e.vec_id AS doc_id,
             |               round(list_cosine_similarity(e.v, qv.v), 6) AS cs
             |             FROM e CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) qv)
             |       QUALIFY r_cos <= 100),
             |fused AS (SELECT COALESCE(bm.doc_id, cr.doc_id) AS doc_id,
             |            round(COALESCE(1.0 / (60.0 + bm.r_bm25), 0) +
             |                  COALESCE(1.0 / (60.0 + cr.r_cos), 0), 6) AS rrf
             |          FROM bm FULL OUTER JOIN cr ON bm.doc_id = cr.doc_id)
             |SELECT doc_id, rrf, CAST(rank AS INT) AS rank FROM (
             |  SELECT doc_id, rrf,
             |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank FROM fused)
             |WHERE rank <= 10 ORDER BY rank""".stripMargin)),

    // ---- text analysis: per-doc features ----------------------------------
    ("t01_token_stats",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("total_tokens"),
            sum(TextAnalysis.wsTokenCount(col("text")).cast("long")).as("total_ws_tokens"),
            sum(TextAnalysis.bpeTokenCount(col("text")).cast("long")).as("total_bpe_tokens"),
            sum(length(col("text")).cast("long")).as("total_chars"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT) AS total_tokens,
             |  CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_ws_tokens,
             |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpe_tokens,
             |  CAST(SUM(length(text)) AS BIGINT) AS total_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    ("t02_quality_score",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens,
             |  round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
             |        / length(text), 6) AS punct_ratio,
             |  round(0.4 * least(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 100.0, 1.0)
             |      + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
             |      + 0.3 * least(CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |            t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))) AS DOUBLE)
             |          / len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5.0, 1.0),
             |      6) AS quality
             |FROM documents ORDER BY doc_id""".stripMargin)),

    ("t03_lang_id",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .groupBy(TextAnalysis.langId(col("text")).as("pred_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("pred_lang"))
      },
      Some("""WITH scored AS (
             |  SELECT
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))) AS s_en,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['der','die','das','und','ist','ein','zu','den','von','mit'], t))) AS s_de,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['el','la','de','los','las','y','es','un','una','en'], t))) AS s_es,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['le','la','les','et','est','une','des','du','dans','pour'], t))) AS s_fr,
             |    regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS has_cjk
             |  FROM documents)
             |SELECT CASE WHEN has_cjk THEN 'zh'
             |            WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
             |            WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
             |            WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
             |            ELSE 'fr' END AS pred_lang,
             |  COUNT(*) AS n_docs
             |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- composed curation pipeline (MinHash stage → rows-only check) -----
    // Oracled end to end: the quality expression is t02's (round-6
    // parity), exact dedup is a text group-by, the near-dup pair set is
    // d03's deterministic-recall regime over the exact-deduped
    // survivors, and transitive clusters are a recursive CTE computing
    // min-reachable-id — i.e. DuckDB re-runs the whole curation
    // pipeline declaratively and must land on the same four counts.
    ("c01_curation_report",
      (s: SparkSession, d: String) => {
        Curation.reportDF(s, Tables.load(s, d, "documents"))
          .orderBy(col("n_docs").desc, col("stage"))
      },
      Some("""WITH q AS (SELECT doc_id, text FROM documents
             |  WHERE round(0.4 * least(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 100.0, 1.0)
             |      + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
             |      + 0.3 * least(CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |            t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))) AS DOUBLE)
             |          / len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5.0, 1.0),
             |      6) >= 0.45),
             |e AS (SELECT min(doc_id) AS doc_id, text FROM q GROUP BY text),
             |w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM e),
             |g AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w)-1, 1)),
             |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM w),
             |g2 AS (SELECT doc_id, unnest(g) AS gram FROM g),
             |ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
             |       FROM g2 a JOIN g2 b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2),
             |p AS (SELECT id_a, id_b
             |      FROM ix JOIN (SELECT doc_id, len(g) AS l FROM g) la ON la.doc_id = id_a
             |              JOIN (SELECT doc_id, len(g) AS l FROM g) lb ON lb.doc_id = id_b
             |      WHERE round(CAST(i AS DOUBLE) / (la.l + lb.l - i), 6) >= 0.5),
             |e2 AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
             |nodes AS (SELECT DISTINCT src AS id FROM e2),
             |reach AS (
             |  WITH RECURSIVE r(id, v) AS (
             |    SELECT id, id FROM nodes
             |    UNION
             |    SELECT r.id, e2.dst FROM r JOIN e2 ON e2.src = r.v)
             |  SELECT id, min(v) AS label FROM r GROUP BY id),
             |losers AS (SELECT id FROM reach WHERE id <> label)
             |SELECT stage, n_docs FROM (
             |  SELECT 'input' AS stage, (SELECT COUNT(*) FROM documents) AS n_docs
             |  UNION ALL SELECT 'quality_filtered', (SELECT COUNT(*) FROM q)
             |  UNION ALL SELECT 'exact_deduped', (SELECT COUNT(*) FROM e)
             |  UNION ALL SELECT 'near_deduped',
             |    (SELECT COUNT(*) FROM e) - (SELECT COUNT(*) FROM losers))
             |ORDER BY n_docs DESC, stage""".stripMargin)),

    // ---- per-document provenance ledger (curation auditability) -----------
    // Every doc in (or out of) the curated set can answer "why": the
    // c01 chain re-expressed as a PER-DOCUMENT decision record —
    // rejected_quality (failed the gate), absorbed_exact (byte-equal
    // to a lower-id survivor; ref = that survivor), absorbed_near
    // (near-dup cluster non-canonical; ref = the cluster canonical),
    // kept (ref = itself). The audit/debug/compliance artifact a
    // training-data pipeline publishes beside the dataset card (c04) —
    // and the input takedown/contestation workflows need ("which doc
    // absorbed mine?"). Same stages, parameters and certified SQL
    // blocks as c01 (quality ≥ 0.45 → exact min-id dedup → 3-gram
    // Jaccard ≥ 0.5 LSH-verified clusters), so the ledger provably
    // RECONCILES with the funnel counts; scale shape is c01's — the
    // per-doc joins add one broadcast-sized cluster map and an
    // exact-dup window keyed on text, nothing corpus-quadratic.
    ("c08_provenance_ledger",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.load(s, d, "documents")
        val scored = docs.select(col("doc_id"), col("text"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        val passed = scored.filter(col("quality") >= 0.45)
        val ek = passed.withColumn("keep_id",
          min(col("doc_id")).over(Window.partitionBy(col("text"))))
        val exactKept = ek.filter(col("doc_id") === col("keep_id"))
          .select("doc_id", "text")
        val pairs = Dedup.minhashNearDups(
          exactKept, "doc_id", "text", n = 3, threshold = 0.5)
        val cc = Dedup.connectedComponents(pairs)
          .select(col("id"), col("label"))
        docs.select(col("doc_id"))
          .join(ek.select(col("doc_id"), col("keep_id")), Seq("doc_id"), "left")
          .join(cc, col("doc_id") === col("id"), "left")
          .select(col("doc_id"),
            when(col("keep_id").isNull, "rejected_quality")
              .when(col("keep_id") =!= col("doc_id"), "absorbed_exact")
              .when(col("label").isNotNull && col("label") =!= col("doc_id"),
                "absorbed_near")
              .otherwise("kept").as("status"),
            when(col("keep_id").isNull, col("doc_id"))
              .when(col("keep_id") =!= col("doc_id"), col("keep_id"))
              .when(col("label").isNotNull, col("label"))
              .otherwise(col("doc_id")).as("ref_id"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH q AS (SELECT doc_id, text FROM documents
             |  WHERE round(0.4 * least(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 100.0, 1.0)
             |      + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
             |      + 0.3 * least(CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |            t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))) AS DOUBLE)
             |          / len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5.0, 1.0),
             |      6) >= 0.45),
             |ek AS (SELECT doc_id, text,
             |         MIN(doc_id) OVER (PARTITION BY text) AS keep_id FROM q),
             |e AS (SELECT doc_id, text FROM ek WHERE doc_id = keep_id),
             |w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM e),
             |g AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws)-1, 1)),
             |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g FROM w),
             |g2 AS (SELECT doc_id, unnest(g) AS gram FROM g),
             |ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
             |       FROM g2 a JOIN g2 b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2),
             |p AS (SELECT id_a, id_b
             |      FROM ix JOIN (SELECT doc_id, len(g) AS l FROM g) la ON la.doc_id = id_a
             |              JOIN (SELECT doc_id, len(g) AS l FROM g) lb ON lb.doc_id = id_b
             |      WHERE round(CAST(i AS DOUBLE) / (la.l + lb.l - i), 6) >= 0.5),
             |e2 AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
             |nodes AS (SELECT DISTINCT src AS id FROM e2),
             |reach AS (
             |  WITH RECURSIVE r(id, v) AS (
             |    SELECT id, id FROM nodes
             |    UNION
             |    SELECT r.id, e2.dst FROM r JOIN e2 ON e2.src = r.v)
             |  SELECT id, min(v) AS label FROM r GROUP BY id)
             |SELECT d.doc_id,
             |  CASE WHEN ek.keep_id IS NULL THEN 'rejected_quality'
             |       WHEN ek.keep_id <> d.doc_id THEN 'absorbed_exact'
             |       WHEN reach.label IS NOT NULL AND reach.label <> d.doc_id
             |         THEN 'absorbed_near'
             |       ELSE 'kept' END AS status,
             |  CASE WHEN ek.keep_id IS NULL THEN d.doc_id
             |       WHEN ek.keep_id <> d.doc_id THEN ek.keep_id
             |       WHEN reach.label IS NOT NULL THEN reach.label
             |       ELSE d.doc_id END AS ref_id
             |FROM documents d
             |LEFT JOIN ek ON ek.doc_id = d.doc_id
             |LEFT JOIN reach ON reach.id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- dup-cluster assignment (oracle-checked connected components) -----
    // The per-document cluster map a dedup pipeline actually consumes:
    // canonical id = min doc id reachable through the d09 exact-8-gram
    // pair graph. Deterministic (min-root union-find below the driver
    // threshold, large-star/small-star above — same fixpoint), so the
    // whole operator is hash-checked against a recursive-CTE transitive
    // closure in DuckDB, not just spec-gated; ScaleSpec forces the
    // distributed path on a worst-case graph and DedupSimilaritySpec
    // forces it on this exact query's pair set.
    ("c02_dup_clusters",
      (s: SparkSession, d: String) => {
        val pairs = Dedup.substringNearDupPairs(
          Tables.load(s, d, "documents"), "doc_id", "text", n = 8)
        Dedup.connectedComponents(pairs)
          .select(col("id").as("doc_id"), col("label").as("cluster"))
          .orderBy(col("doc_id"))
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
             |  SELECT id, min(v) AS cluster FROM r GROUP BY id)
             |SELECT id AS doc_id, cluster FROM reach ORDER BY doc_id""".stripMargin)),

    // ---- canonical survivor per dup cluster (keep-best dedup output) ------
    // What a dedup pipeline actually emits: one survivor per c02
    // cluster, chosen by highest quality score with doc-id tie-break
    // (max_by over a (q, -id) struct — one aggregation, no window
    // shuffle of the full membership). Quality is t02's 6-dp-rounded
    // score, so the argmax is engine-reproducible.
    ("c03_canonical_docs",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        val pairs = Dedup.substringNearDupPairs(docs, "doc_id", "text", n = 8)
        Dedup.connectedComponents(pairs)
          .select(col("id").as("doc_id"), col("label").as("cluster"))
          .join(docs.select(col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("q")), "doc_id")
          .groupBy(col("cluster"))
          .agg(max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("keep_id"),
            count(lit(1)).as("n_members"))
          .orderBy(col("cluster"))
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
             |  SELECT id AS doc_id, min(v) AS cluster FROM r GROUP BY id),
             |q AS (SELECT doc_id,
             |    round(0.4 * least(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 100.0, 1.0)
             |        + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
             |        + 0.3 * least(CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |              t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))) AS DOUBLE)
             |            / len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5.0, 1.0),
             |        6) AS q
             |  FROM documents)
             |SELECT cluster, keep_id, n_members FROM (
             |  SELECT reach.cluster, reach.doc_id AS keep_id,
             |    row_number() OVER (PARTITION BY reach.cluster
             |                       ORDER BY q.q DESC, reach.doc_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY reach.cluster) AS n_members
             |  FROM reach JOIN q ON q.doc_id = reach.doc_id)
             |WHERE rn = 1 ORDER BY cluster""".stripMargin)),

    ("t04_fingerprint",
      (s: SparkSession, d: String) => {
        Tables.load(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  list_reduce(
             |    list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range(1, length(text) + 1),
             |                     i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
             |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- language-ID evaluation (confusion matrix vs the labeled truth) ---
    // The classifier-eval harness for the TEXT side (s17/s21 are the
    // ANN side): t03's n-gram language detector scored against the
    // fixture's labeled `lang` column as a (true, predicted, count)
    // confusion matrix plus per-cell basis-point share of the true
    // class — how a pipeline decides whether the cheap heuristic is
    // good enough to gate on, and per (true, pred) cell WHERE it
    // fails. Integer counts; the share is integer cross-multiplied
    // basis points (n·10000 div class total) — no float. One scan +
    // one tiny aggregate; the per-class total joins back from a
    // regroup of the same frame.
    ("t18_langid_eval",
      (s: SparkSession, d: String) => {
        val cm = Tables.load(s, d, "documents")
          .groupBy(col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))
          .agg(count(lit(1)).as("n_docs"))
        val tot = cm.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_class"))
        cm.join(tot, "lang")
          .select(col("lang"), col("pred_lang"), col("n_docs"),
            expr("(n_docs * 10000) div n_class").as("share_bp"))
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
             |cm AS (
             |  SELECT lang,
             |    CASE WHEN has_cjk THEN 'zh'
             |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
             |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
             |         WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
             |         ELSE 'fr' END AS pred_lang,
             |    COUNT(*) AS n_docs
             |  FROM scored GROUP BY 1, 2),
             |tot AS (SELECT lang, SUM(n_docs) AS n_class FROM cm GROUP BY 1)
             |SELECT cm.lang, cm.pred_lang, CAST(cm.n_docs AS BIGINT) AS n_docs,
             |  CAST((cm.n_docs * 10000) // tot.n_class AS BIGINT) AS share_bp
             |FROM cm JOIN tot USING (lang)
             |ORDER BY lang, pred_lang""".stripMargin)),

    // ---- dataset card (datasheet rollup over certified signal blocks) -----
    // The "Datasheets for Datasets" (Gebru et al. 2021) summary a
    // training corpus publishes: per (source, predicted language) —
    // doc count, corpus share in integer BASIS POINTS (share math is
    // `DIV`, never a float), token totals, mean quality, and how many
    // docs are byte-exact duplicates of some other doc. Every signal
    // is a certified block reused verbatim: t03's language id, t01's
    // token count, t02's quality, d01's hash-group duplicate rule.
    // Mean quality follows the bm25/t12 float discipline — the round-6
    // per-doc quality is DECIMAL(18,6)-exact, so the SUM is exact and
    // the single final divide is one IEEE op on identical operands.
    // Scale shape: one scan computes all per-doc signals in the same
    // projection (no second pass per metric), the dup side groups by
    // md5(text) — d01's shuffle key: 16 bytes, not the document — and
    // the rollup key space is |sources|×|langs|, map-side combinable.
    ("c04_dataset_card",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        val scored = docs.select(col("source"),
          TextAnalysis.langId(col("text")).as("pred_lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"),
          TextAnalysis.qualityScore(col("text"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("q"),
          md5(col("text")).as("h"))
        val dups = docs.groupBy(md5(col("text")).as("h"))
          .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
          .select(col("h"), lit(1L).as("isdup"))
        val tot = docs.agg(count(lit(1)).as("total_docs"))
        scored.join(dups, Seq("h"), "left")
          .groupBy(col("source"), col("pred_lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("total_tokens"),
            round(sum(col("q")).cast("double") / count(lit(1)), 4)
              .as("mean_quality"),
            sum(coalesce(col("isdup"), lit(0L))).as("n_dup_docs"))
          .crossJoin(broadcast(tot))
          .select(col("source"), col("pred_lang"), col("n_docs"),
            expr("(n_docs * 10000) DIV total_docs").as("pct_bp"),
            col("total_tokens"), col("mean_quality"), col("n_dup_docs"))
          .orderBy(col("source"), col("pred_lang"))
      },
      Some("""WITH sc AS (
             |  SELECT source, text,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))) AS s_en,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['der','die','das','und','ist','ein','zu','den','von','mit'], t))) AS s_de,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['el','la','de','los','las','y','es','un','una','en'], t))) AS s_es,
             |    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      t -> list_contains(['le','la','les','et','est','une','des','du','dans','pour'], t))) AS s_fr,
             |    regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS has_cjk,
             |    len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_toks,
             |    CAST(round(0.4 * least(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 100.0, 1.0)
             |      + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
             |      + 0.3 * least(CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |            t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))) AS DOUBLE)
             |          / len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5.0, 1.0),
             |      6) AS DECIMAL(18,6)) AS q
             |  FROM documents),
             |lx AS (
             |  SELECT source, text, n_toks, q,
             |    CASE WHEN has_cjk THEN 'zh'
             |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
             |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
             |         WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
             |         ELSE 'fr' END AS pred_lang
             |  FROM sc),
             |dup AS (SELECT text FROM documents GROUP BY text HAVING COUNT(*) > 1),
             |tot AS (SELECT COUNT(*) AS total_docs FROM documents)
             |SELECT lx.source, lx.pred_lang,
             |  COUNT(*) AS n_docs,
             |  CAST((COUNT(*) * 10000) // MAX(tot.total_docs) AS BIGINT) AS pct_bp,
             |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
             |  round(CAST(SUM(q) AS DOUBLE) / COUNT(*), 4) AS mean_quality,
             |  CAST(SUM(CASE WHEN dup.text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
             |FROM lx LEFT JOIN dup ON lx.text = dup.text CROSS JOIN tot
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- PageRank centrality over the near-dup graph ----------------------
    // Iterative link analysis (Page et al. 1999) as a curation signal:
    // rank docs by centrality in d02's certified similarity graph —
    // the web-crawl curation move (authority-weight a source before
    // trusting its documents). THREE fixed power iterations at damping
    // 0.85 over the symmetrized pair graph. Float discipline is the
    // Lloyd-iteration playbook (s02/s06): every per-edge contribution
    // is rounded to 6 dp and summed as DECIMAL(18,6) — exact,
    // order-independent — and each new rank is ONE IEEE expression
    // (0.15/n + 0.85·sum) on identical operands, re-rounded to 6 dp,
    // so the oracle re-runs the algorithm itself iteration by
    // iteration. Scale shape: each iteration is one equi-join
    // (edges ⋈ ranks on src — both hash-partitioned on the same key
    // across iterations) plus one combinable groupBy(dst); |nodes|/
    // |edges| frames only, documents never shuffle. The 1M-edge-cap
    // driver fallback c02 needed does not arise: there is no
    // transitive closure here, just K bounded passes.
    ("c05_pagerank_centrality",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.types.DecimalType
        val pairs = Dedup.prefixJaccardPairs(Tables.load(s, d, "documents"),
            "doc_id", "text", n = 2, prefixLen = 50, maxBucket = 0)
          .filter(col("jaccard") >= 0.3)
          .select(col("id_a"), col("id_b"))
        // localCheckpoint (eager), not cache+unpersist: the returned
        // frame is lazy, so an unpersist before the runner collects it
        // would evict the blocks and recompute the expensive
        // prefixJaccardPairs lineage once per downstream reference
        // (nodes + e2 + 3 iteration joins). Checkpointed blocks survive
        // until the session drops them.
        val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
          .localCheckpoint()
        val nodes = edges.select(col("src").as("id")).distinct()
        val nN = nodes.count()
        val e2 = edges.join(
          edges.groupBy(col("src")).agg(count(lit(1)).as("odeg")), "src")
        var ranks = nodes.select(col("id"),
          round(lit(1.0) / nN, 6).as("rank"))
        (1 to 3).foreach { _ =>
          val inbound = e2.join(ranks, col("src") === col("id"))
            .select(col("dst"),
              round(col("rank") / col("odeg"), 6)
                .cast(DecimalType(18, 6)).as("c"))
            .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
          ranks = nodes.join(inbound, col("id") === col("dst"), "left")
            .select(col("id"),
              round(lit(0.15) / nN +
                lit(0.85) * coalesce(col("sc").cast("double"), lit(0.0)), 6)
                .as("rank"))
        }
        ranks.select(col("id").as("doc_id"), col("rank"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, substr(text, 1, 50) AS pfx,
             |    list_distinct(list_transform(range(1, greatest(len(w), 2)),
             |                  i -> w[i] || ' ' || w[i+1])) AS g
             |  FROM (SELECT doc_id, text,
             |          string_split_regex(lower(text), '\s+') AS w FROM documents)),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM grams a JOIN grams b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             |        / len(list_distinct(a.g || b.g)) >= 0.3),
             |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |      UNION ALL SELECT id_b, id_a FROM pairs),
             |nodes AS (SELECT DISTINCT src AS id FROM e),
             |nn AS (SELECT COUNT(*) AS n FROM nodes),
             |od AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY 1),
             |r0 AS (SELECT id, round(1.0 / nn.n, 6) AS rank
             |       FROM nodes CROSS JOIN nn),
             |r1 AS (SELECT nodes.id,
             |         round(0.15 / MAX(nn.n) + 0.85 * COALESCE(CAST(SUM(
             |           CAST(round(r.rank / od.odeg, 6) AS DECIMAL(18,6))
             |         ) AS DOUBLE), 0.0), 6) AS rank
             |       FROM nodes CROSS JOIN nn
             |       LEFT JOIN e ON e.dst = nodes.id
             |       LEFT JOIN od ON od.src = e.src
             |       LEFT JOIN r0 r ON r.id = e.src
             |       GROUP BY nodes.id),
             |r2 AS (SELECT nodes.id,
             |         round(0.15 / MAX(nn.n) + 0.85 * COALESCE(CAST(SUM(
             |           CAST(round(r.rank / od.odeg, 6) AS DECIMAL(18,6))
             |         ) AS DOUBLE), 0.0), 6) AS rank
             |       FROM nodes CROSS JOIN nn
             |       LEFT JOIN e ON e.dst = nodes.id
             |       LEFT JOIN od ON od.src = e.src
             |       LEFT JOIN r1 r ON r.id = e.src
             |       GROUP BY nodes.id),
             |r3 AS (SELECT nodes.id,
             |         round(0.15 / MAX(nn.n) + 0.85 * COALESCE(CAST(SUM(
             |           CAST(round(r.rank / od.odeg, 6) AS DECIMAL(18,6))
             |         ) AS DOUBLE), 0.0), 6) AS rank
             |       FROM nodes CROSS JOIN nn
             |       LEFT JOIN e ON e.dst = nodes.id
             |       LEFT JOIN od ON od.src = e.src
             |       LEFT JOIN r2 r ON r.id = e.src
             |       GROUP BY nodes.id)
             |SELECT id AS doc_id, rank FROM r3 ORDER BY doc_id""".stripMargin)),

    // ---- triangle count over the near-dup graph ---------------------------
    // The clustering-coefficient numerator: triangles in c05's
    // similarity graph separate tight duplicate CLIQUES (template
    // families — every pair similar) from star-shaped chains (one hub
    // loosely similar to many spokes), which CC alone cannot tell
    // apart — a curation signal for "remove the whole template family"
    // vs "keep the spokes". Plan is the canonical distributed
    // triangle join (each edge oriented LOW id → HIGH id once, so
    // every triangle a<b<c is counted exactly once): wedges from
    // e ⋈ e on the middle node, closed by a semi join back to the
    // edge set — three hash joins on node keys, never a cartesian. At
    // 100 TB-graph scale the orientation would flip to degree order
    // (low-degree source), the standard skew bound for the wedge join
    // (Suri & Vassilvitskii, WWW'11); id order is the fixture regime
    // and keeps the oracle in plain SQL.
    ("c07_triangle_count",
      (s: SparkSession, d: String) => {
        val pairs = Dedup.prefixJaccardPairs(Tables.load(s, d, "documents"),
            "doc_id", "text", n = 2, prefixLen = 50, maxBucket = 0)
          .filter(col("jaccard") >= 0.3)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint()
        val e = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
        val wedges = e.join(
          e.select(col("a").as("b"), col("b").as("c")), "b")
        val triangles = wedges.join(
          e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
        val nodes = pairs.select(col("id_a").as("id"))
          .unionAll(pairs.select(col("id_b").as("id"))).distinct()
        nodes.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(e.agg(count(lit(1)).as("n_edges")))
          .crossJoin(triangles.agg(count(lit(1)).as("n_triangles")))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, substr(text, 1, 50) AS pfx,
             |    list_distinct(list_transform(range(1, greatest(len(w), 2)),
             |                  i -> w[i] || ' ' || w[i+1])) AS g
             |  FROM (SELECT doc_id, text,
             |          string_split_regex(lower(text), '\s+') AS w FROM documents)),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM grams a JOIN grams b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             |        / len(list_distinct(a.g || b.g)) >= 0.3),
             |e AS (SELECT id_a AS a, id_b AS b FROM pairs),
             |tri AS (SELECT e1.a, e1.b, e2.b AS c
             |        FROM e e1 JOIN e e2 ON e2.a = e1.b
             |        WHERE EXISTS (SELECT 1 FROM e e3
             |                      WHERE e3.a = e1.a AND e3.b = e2.b))
             |SELECT
             |  (SELECT CAST(COUNT(DISTINCT id) AS BIGINT) FROM
             |    (SELECT a AS id FROM e UNION ALL SELECT b FROM e)) AS n_nodes,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles""".stripMargin)),

    // ---- split-leakage audit (the measurement that motivates q67) ---------
    // How contaminated is a NAIVE per-document train/val split? Count
    // near-duplicate pairs (d09's exact-substring criterion) whose two
    // members land on opposite sides of the q40-style hash split — each
    // such pair is a val document whose near-copy was trained on, i.e.
    // leaked evaluation signal. q67 fixes this by splitting on duplicate
    // CLUSTERS; c06 is the audit a pipeline runs to prove it needed to.
    // Integer-only output (pair counts); the split arithmetic is
    // TrainingPrep.splitAssign's certified Lehmer hash, replayed
    // verbatim by the oracle. Scale shape: pair generation is the
    // bounded d09 gram join, the split tag is one map-side expression
    // per pair side, and the audit aggregate is a single row.
    ("c06_split_leakage_audit",
      (s: SparkSession, d: String) => {
        val pairs = Dedup.substringNearDupPairs(
          Tables.load(s, d, "documents"), "doc_id", "text", n = 8)
        val sa = TrainingPrep.splitAssign(col("id_a"), 90)
        val sb = TrainingPrep.splitAssign(col("id_b"), 90)
        pairs.agg(
          count(lit(1)).as("n_pairs"),
          sum(when(sa =!= sb, 1L).otherwise(0L)).as("n_cross"),
          sum(when(sa === "val" && sb === "val", 1L).otherwise(0L))
            .as("n_val_only"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
             |      FROM w, unnest(range(1, greatest(len(w)-6, 1))) AS u(i)),
             |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
             |sp AS (SELECT
             |    CASE WHEN (((id_a * 48271) % 2147483647 + 2147483647)
             |               % 2147483647) % 100 < 90
             |      THEN 'train' ELSE 'val' END AS sa,
             |    CASE WHEN (((id_b * 48271) % 2147483647 + 2147483647)
             |               % 2147483647) % 100 < 90
             |      THEN 'train' ELSE 'val' END AS sb
             |  FROM p)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |  CAST(SUM(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_cross,
             |  CAST(SUM(CASE WHEN sa = 'val' AND sb = 'val' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_val_only
             |FROM sp""".stripMargin)),

    // ---- similarity: index health report (cell occupancy + load) ----------
    // The monitoring face of [[Similarity.indexCellSkew]] as a query:
    // per-cell occupancy of the PERSISTED index (empty trained cells
    // included — an index collapsed into 2 of 16 cells is skewed even
    // if those two are equal), each cell's corpus share in basis
    // points and its load vs the mean in permille — the report a
    // maintenance schedule reads before deciding rebuildIfSkewed. One
    // columnar scan of the cells partition projecting (cell_id,
    // vec_id) only — no float codes read; the codebook join is a
    // broadcast of nCells rows. All outputs integer (cross-multiplied
    // div). Oracle: s08's certified 2-iteration codebook CTEs down to
    // the final assignment, then the same occupancy arithmetic.
    ("s22_index_health",
      (s: SparkSession, d: String) => {
        val idx = ensureIvfIndex(s, d)
        val occ = s.read.parquet(s"$idx/codebook").select("cell_id")
          .join(s.read.parquet(s"$idx/cells").select("cell_id", "vec_id"),
            Seq("cell_id"), "left")
          .groupBy(col("cell_id"))
          .agg(sum(when(col("vec_id").isNotNull, 1L).otherwise(0L)).as("n_vecs"))
        val tot = occ.agg(sum(col("n_vecs")).as("n_total"),
          count(lit(1)).as("n_cells"))
        occ.crossJoin(broadcast(tot))
          .select(col("cell_id").cast("long").as("cell_id"), col("n_vecs"),
            expr("(n_vecs * 10000) div n_total").as("share_bp"),
            expr("(n_vecs * n_cells * 1000) div n_total").as("load_pm"))
          .orderBy(col("cell_id"))
      },
      Some("""WITH e AS (SELECT vec_id, v FROM
             |        (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |      WHERE len(v) > 0 AND list_inner_product(v, v) > 0),
             |c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
             |a0 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c0.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c0.cv), 6) DESC, c0.cell_id) AS rn
             |        FROM e CROSS JOIN c0)
             |      WHERE rn = 1),
             |x1 AS (SELECT a0.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM a0 JOIN e USING (vec_id),
             |           unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m1 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x1 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c1 AS (SELECT c0.cell_id, coalesce(m1.mv, c0.cv) AS cv
             |       FROM c0 LEFT JOIN m1 USING (cell_id)),
             |a1 AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c1.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c1.cv), 6) DESC, c1.cell_id) AS rn
             |        FROM e CROSS JOIN c1)
             |      WHERE rn = 1),
             |x2 AS (SELECT a1.cell_id, u.i, e.v[CAST(u.i AS INT)] AS xv
             |      FROM a1 JOIN e USING (vec_id),
             |           unnest(range(1, len(e.v) + 1)) AS u(i)),
             |m2 AS (SELECT cell_id,
             |        list(CAST(CAST(mx AS FLOAT) AS DOUBLE) ORDER BY i) AS mv
             |      FROM (SELECT cell_id, i, round(avg(xv), 6) AS mx
             |            FROM x2 GROUP BY 1, 2)
             |      GROUP BY 1),
             |c AS (SELECT c1.cell_id, coalesce(m2.mv, c1.cv) AS cv
             |      FROM c1 LEFT JOIN m2 USING (cell_id)),
             |a AS (SELECT vec_id, cell_id FROM (
             |        SELECT e.vec_id, c.cell_id,
             |          row_number() OVER (PARTITION BY e.vec_id
             |            ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC, c.cell_id) AS rn
             |        FROM e CROSS JOIN c)
             |      WHERE rn = 1),
             |occ AS (SELECT c.cell_id, COUNT(a.vec_id) AS n_vecs
             |        FROM c LEFT JOIN a USING (cell_id) GROUP BY 1),
             |t AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
             |        CAST(COUNT(*) AS BIGINT) AS n_cells FROM occ)
             |SELECT CAST(cell_id AS BIGINT) AS cell_id,
             |  CAST(n_vecs AS BIGINT) AS n_vecs,
             |  CAST((n_vecs * 10000) // n_total AS BIGINT) AS share_bp,
             |  CAST((n_vecs * n_cells * 1000) // n_total AS BIGINT) AS load_pm
             |FROM occ CROSS JOIN t ORDER BY cell_id""".stripMargin)),

    // ---- curation threshold sweep (the tuning curve that picks τ) ---------
    // c01 runs the funnel AT one quality threshold; this is the curve
    // a curator reads to CHOOSE it: per candidate τ, documents and
    // tokens surviving the quality gate, with the keep rate in integer
    // basis points — s21's parameter-sweep pattern applied to the
    // curation side. Scale shape: the score computes ONCE per doc in
    // one scan (the sweep is a 3-way map-side explode, not three
    // scoring passes) and each τ's row aggregates combinably; output
    // is |τ| rows. The τ comparison uses the same round-6 score and
    // plain >= both engines share (c01's discipline).
    ("c09_quality_sweep",
      (s: SparkSession, d: String) => {
        val scored = Tables.load(s, d, "documents").select(
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        scored.select(
            explode(array(lit(0.35), lit(0.45), lit(0.55))).as("tau"),
            col("q"), col("n"))
          .groupBy(col("tau"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("q") >= col("tau"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("q") >= col("tau"), col("n")).otherwise(0L))
              .as("tokens_kept"))
          .select(col("tau"), col("n_docs"), col("n_kept"), col("tokens_kept"),
            expr("(n_kept * 10000) div n_docs").as("kept_bp"))
          .orderBy(col("tau"))
      },
      Some("""WITH sc AS (SELECT
             |    round(0.4 * least(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) / 100.0, 1.0)
             |      + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text))
             |      + 0.3 * least(CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |            t -> list_contains(['the','a','of','and','to','in','is','it','that','on'], t))) AS DOUBLE)
             |          / len(regexp_extract_all(lower(text), '[a-z0-9]+')) * 5.0, 1.0),
             |      6) AS q,
             |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n
             |  FROM documents),
             |g AS (SELECT CAST(tau AS DOUBLE) AS tau,
             |        CAST(COUNT(*) AS BIGINT) AS n_docs,
             |        CAST(SUM(CASE WHEN q >= tau THEN 1 ELSE 0 END) AS BIGINT)
             |          AS n_kept,
             |        CAST(SUM(CASE WHEN q >= tau THEN n ELSE 0 END) AS BIGINT)
             |          AS tokens_kept
             |      FROM sc CROSS JOIN (VALUES (CAST(0.35 AS DOUBLE)),
             |        (CAST(0.45 AS DOUBLE)), (CAST(0.55 AS DOUBLE))) t(tau)
             |      GROUP BY 1)
             |SELECT tau, n_docs, n_kept, tokens_kept,
             |  CAST((n_kept * 10000) // n_docs AS BIGINT) AS kept_bp
             |FROM g ORDER BY tau""".stripMargin)),

    // ---- 2-core of the near-dup graph (peeling) ---------------------------
    // The third graph lens over c05/c07's similarity graph: PageRank
    // finds hubs, triangles find cliques, the 2-CORE separates
    // cyclically-connected duplicate families (template clusters that
    // survive peeling) from tree-shaped chains (pairwise accidents
    // that dissolve once their leaf is peeled) — the standard "is this
    // cluster structurally dense or just transitively glued" curation
    // signal. 4 peeling rounds, fixed both sides (the fixture
    // converges in 1 — spec-asserted headroom), each round one
    // degree aggregate + two semi joins on node id.
    ("c10_kcore",
      (s: SparkSession, d: String) => {
        val pairs = Dedup.prefixJaccardPairs(Tables.load(s, d, "documents"),
            "doc_id", "text", n = 2, prefixLen = 50, maxBucket = 0)
          .filter(col("jaccard") >= 0.3)
          .select(col("id_a"), col("id_b"))
        Dedup.kcore(pairs, k = 2, rounds = 4)
          .orderBy(col("doc_id"))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, substr(text, 1, 50) AS pfx,
             |    list_distinct(list_transform(range(1, greatest(len(w), 2)),
             |                  i -> w[i] || ' ' || w[i+1])) AS g
             |  FROM (SELECT doc_id, text,
             |          string_split_regex(lower(text), '\s+') AS w FROM documents)),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM grams a JOIN grams b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             |        / len(list_distinct(a.g || b.g)) >= 0.3),
             |e0 AS (SELECT id_a AS a, id_b AS b FROM pairs
             |       UNION ALL SELECT id_b, id_a FROM pairs),
             |k1 AS (SELECT a FROM e0 GROUP BY a HAVING COUNT(*) >= 2),
             |e1 AS (SELECT e.a, e.b FROM e0 e
             |       JOIN k1 x ON e.a = x.a JOIN k1 y ON e.b = y.a),
             |k2 AS (SELECT a FROM e1 GROUP BY a HAVING COUNT(*) >= 2),
             |e2 AS (SELECT e.a, e.b FROM e1 e
             |       JOIN k2 x ON e.a = x.a JOIN k2 y ON e.b = y.a),
             |k3 AS (SELECT a FROM e2 GROUP BY a HAVING COUNT(*) >= 2),
             |e3 AS (SELECT e.a, e.b FROM e2 e
             |       JOIN k3 x ON e.a = x.a JOIN k3 y ON e.b = y.a),
             |k4 AS (SELECT a FROM e3 GROUP BY a HAVING COUNT(*) >= 2),
             |e4 AS (SELECT e.a, e.b FROM e3 e
             |       JOIN k4 x ON e.a = x.a JOIN k4 y ON e.b = y.a)
             |SELECT a AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
             |FROM e4 GROUP BY a ORDER BY doc_id""".stripMargin)),

    // ---- cross-source duplication matrix ----------------------------------
    // Source-level 5-gram Jaccard between every pair of sources: the
    // mixture-design diagnostic that tells a data curator "source B is
    // 6% the same shingles as source A" BEFORE epoch weights (q49) or
    // temperature mixing (q73) multiply that overlap into effective
    // duplication. Doc-pair dedup (d02/d12) can't see this — it reports
    // pairs, not the source-grain rollup. Integer-exact counts, one
    // final rounded divide; plan never pairs docs, only (source, gram)
    // postings.
    ("c11_source_overlap",
      (s: SparkSession, d: String) => {
        Dedup.sourceOverlap(Tables.load(s, d, "documents"),
            "source", "text", n = 5, maxDf = 0)
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, source, list_distinct(list_transform(range(1, len(w) - 3),
             |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS g
             |  FROM (SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS w
             |        FROM documents)
             |  WHERE len(w) >= 5),
             |sg AS (SELECT DISTINCT source, unnest(g) AS gram FROM grams),
             |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sg GROUP BY 1),
             |sh AS (SELECT a.source AS src_a, b.source AS src_b,
             |         CAST(COUNT(*) AS BIGINT) AS shared
             |       FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
             |       GROUP BY 1, 2)
             |SELECT src_a, src_b, za.n AS grams_a, zb.n AS grams_b, shared,
             |  round(CAST(shared AS DOUBLE) / (za.n + zb.n - shared), 6) AS jaccard
             |FROM sh JOIN sz za ON za.source = src_a
             |        JOIN sz zb ON zb.source = src_b
             |ORDER BY src_a, src_b""".stripMargin)),

    // ---- similarity: hard-negative mining (contrastive training prep) -----
    // Per query, the 5 most-similar OTHER-label vectors — the
    // boundary cases a two-tower/contrastive loss learns from. The
    // label inequality is JOIN-dependent (each query bans its own
    // label), which s16's static-predicate filtered ANN cannot
    // express; it applies before ranking so every returned negative is
    // genuinely hard. s18's query/corpus split (vec_id < 10 queries,
    // rest corpus), s01's round-6 cosine and (score, id) ranking.
    ("s23_hard_negatives",
      (s: SparkSession, d: String) => {
        val emb = Tables.load(s, d, "embeddings")
        val corpus = emb.filter(col("vec_id") >= 10)
          .select("vec_id", "embedding", "label")
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("q_embedding"), col("label").as("q_label"))
        Similarity.hardNegatives(corpus, queries, k = 5)
          .select(col("query_id"), col("neighbor_id"), col("neg_label"),
            col("cos_sim"), col("rank").cast("int").as("rank"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
             |           FROM embeddings),
             |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    CAST(c.label AS INT) AS neg_label,
             |    round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
             |        c.vec_id) AS rank
             |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10
             |    AND c.label <> q.label)
             |SELECT query_id, neighbor_id, neg_label, cos_sim,
             |  CAST(rank AS INT) AS rank
             |FROM sc WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // ---- takedown blast radius through dup clusters -----------------------
    // q64 purges the LISTED documents; a real takedown must also purge
    // their near-copies, or the removed content survives verbatim
    // under other ids. Blast radius = the seed set EXPANDED through
    // c02's connected components (any cluster containing a victim is
    // purged whole; seeds outside the pair graph stay singletons),
    // rolled up per source — the report legal/curation reviews BEFORE
    // executing the q64-style delete. Integer counts only. Scale: the
    // victim set is contract-bounded (q64's external-list rule; the
    // fixture derives it as doc_id % 97 = 0), cluster labels come from
    // the same CC operator c02 certifies, and the expansion is two
    // joins on label — no new pairwise work anywhere.
    ("c12_takedown_blast_radius",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("source"))
        val victims = docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("vid"))
        val cc = Dedup.connectedComponents(Dedup.substringNearDupPairs(
          Tables.load(s, d, "documents"), "doc_id", "text", n = 8))
        val vclusters = cc.join(victims, col("id") === col("vid"))
          .select(col("label")).distinct()
        val mates = cc.join(broadcast(vclusters), "label")
          .select(col("id").as("doc_id"))
        val blast = victims.select(col("vid").as("doc_id"))
          .unionAll(mates).distinct()
        blast.join(docs, "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_blast"),
            sum(when(col("doc_id") % 97 === 0, 1L).otherwise(0L)).as("n_seed"))
          .orderBy(col("source"))
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
             |v AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
             |vc AS (SELECT DISTINCT reach.cluster FROM reach
             |       JOIN v ON reach.id = v.doc_id),
             |mates AS (SELECT id AS doc_id FROM reach
             |          JOIN vc ON reach.cluster = vc.cluster),
             |blast AS (SELECT doc_id FROM v UNION SELECT doc_id FROM mates)
             |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_blast,
             |  CAST(SUM(CASE WHEN d.doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_seed
             |FROM blast b JOIN documents d ON d.doc_id = b.doc_id
             |GROUP BY 1 ORDER BY d.source""".stripMargin)),

    // ---- dedup removal-bias report ----------------------------------------
    // What would cluster-canonical dedup DELETE, per source — the bias
    // audit run before shipping a dedup config (does it gut one source
    // while barely touching another?). c04 measures exact-dup
    // INCIDENCE (md5 twins); this measures near-dup REMOVAL under
    // c02's clusters with the id-canonical survivor rule (keep the
    // cluster-min id — c02's label IS that id, so removal is one
    // filter on the certified CC output; c03's quality-canonical rule
    // is the shipped alternative). Token loss uses t01's integer token
    // counts — all-integer output, removal rate in ppm. Scale: one CC
    // reuse + two source-grain aggregates; nothing pairwise added.
    ("c13_dedup_removal_bias",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents").select(col("doc_id"),
          col("source"), TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
        val cc = Dedup.connectedComponents(Dedup.substringNearDupPairs(
          Tables.load(s, d, "documents"), "doc_id", "text", n = 8))
        val removed = cc.filter(col("id") =!= col("label"))
          .select(col("id").as("doc_id"), lit(1L).as("rm"))
        docs.join(removed, Seq("doc_id"), "left_outer")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("toks_total"),
            sum(coalesce(col("rm"), lit(0L))).as("n_removed"),
            sum(when(col("rm").isNotNull, col("toks")).otherwise(0L))
              .as("toks_removed"))
          .select(col("source"), col("n_docs"), col("toks_total"),
            col("n_removed"), col("toks_removed"),
            expr("(n_removed * 1000000) div n_docs").as("removed_ppm"))
          .orderBy(col("source"))
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
             |rm AS (SELECT id AS doc_id FROM reach WHERE id <> cluster),
             |t AS (SELECT d.doc_id, d.source,
             |    CAST(len(regexp_extract_all(d.text, '[A-Za-z0-9]+')) AS BIGINT)
             |      AS toks,
             |    CASE WHEN rm.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rm
             |  FROM documents d LEFT JOIN rm ON rm.doc_id = d.doc_id)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(toks) AS BIGINT) AS toks_total,
             |  CAST(SUM(is_rm) AS BIGINT) AS n_removed,
             |  CAST(SUM(CASE WHEN is_rm = 1 THEN toks ELSE 0 END) AS BIGINT)
             |    AS toks_removed,
             |  CAST((SUM(is_rm) * 1000000) // COUNT(*) AS BIGINT) AS removed_ppm
             |FROM t GROUP BY 1 ORDER BY source""".stripMargin)),

    // ---- dedup: banding quality eval (recall + candidate precision) -------
    // s17 evaluates ANN recall; nothing evaluated the DEDUP blocking.
    // For the md5-SimHash scheme the whole eval is SQL-replayable
    // (d04's oracle already reconstructs the fingerprints bit by bit):
    // truth = all-pairs hamming ≤ 3, candidates = raw 16-bit band
    // collisions BEFORE the hamming verify. Recall is 10000 bp by
    // pigeonhole (4 bands, ≤ 3 flipped — the d04 premise, now
    // MEASURED through the oracle gate); candidate precision is the
    // real operating number: how much verify work the banding buys.
    // Counts are exact integers; ratios integer basis points.
    ("d14_banding_eval",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        val width = 16
        val fp = docs.select(col("doc_id").as("sid"),
          graft.functions.SimHash.simhashMd5(Dedup.words(col("text"))).as("fp"))
        val bandStructs = array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("fp"), b * width)
              .bitwiseAND(lit((1L << width) - 1)).as("bits"))
        }: _*)
        val banded = fp.select(col("sid"), explode(bandStructs).as("bk"))
          .select(col("sid"), col("bk.band").as("band"), col("bk.bits").as("bits"))
        val cand = banded.select(col("sid").as("id_a"), col("band"), col("bits"))
          .join(banded.select(col("sid").as("id_b"), col("band"), col("bits")),
            Seq("band", "bits"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
          .localCheckpoint()
        val truth = Dedup.simhashNearDupsMd5(docs, "doc_id", "text",
            bands = 4, maxHamming = 3, maxBucket = 0)
          .select("id_a", "id_b").localCheckpoint()
        val hit = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
        truth.agg(count(lit(1)).as("n_truth"))
          .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
          .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
          .select(col("n_truth"), col("n_candidates"), col("n_hit"),
            expr("(n_hit * 10000) div n_truth").as("recall_bp"),
            expr("(n_hit * 10000) div n_candidates").as("precision_bp"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |tok AS (SELECT doc_id, unnest(w) AS t FROM w),
             |hx AS (SELECT doc_id, substr(md5(t), 1, 16) AS h FROM tok),
             |bits AS (SELECT doc_id, CAST(u.j AS INT) AS j,
             |    CASE WHEN ((strpos('0123456789abcdef',
             |                  substr(h, 16 - CAST(u.j AS INT) // 4, 1)) - 1)
             |               // (1 << (CAST(u.j AS INT) % 4))) % 2 = 1
             |         THEN 1 ELSE -1 END AS vote
             |  FROM hx, unnest(range(0, 64)) AS u(j)),
             |fpb AS (SELECT doc_id, j,
             |    CASE WHEN SUM(vote) > 0 THEN 1 ELSE 0 END AS bit
             |  FROM bits GROUP BY 1, 2),
             |fp AS (SELECT doc_id,
             |    CAST(SUM(CASE WHEN j = 63 THEN -(1::HUGEINT << 63)
             |                  ELSE (1::HUGEINT << j) END * bit) AS BIGINT) AS fp
             |  FROM fpb GROUP BY 1),
             |ufp AS (SELECT doc_id,
             |    CASE WHEN fp < 0 THEN CAST(fp AS HUGEINT) + (1::HUGEINT << 64)
             |         ELSE CAST(fp AS HUGEINT) END AS u
             |  FROM fp),
             |banded AS (SELECT doc_id, CAST(u2.b AS INT) AS band,
             |    CAST((ufp.u >> (16 * CAST(u2.b AS INT))) & 65535 AS BIGINT)
             |      AS bits
             |  FROM ufp, unnest(range(0, 4)) AS u2(b)),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM banded a JOIN banded b
             |    ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id),
             |truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
             |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
             |hit AS (SELECT * FROM truth t WHERE EXISTS (SELECT 1 FROM cand c
             |  WHERE c.id_a = t.id_a AND c.id_b = t.id_b))
             |SELECT
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
             |  CAST(((SELECT COUNT(*) FROM hit) * 10000)
             |    // (SELECT COUNT(*) FROM truth) AS BIGINT) AS recall_bp,
             |  CAST(((SELECT COUNT(*) FROM hit) * 10000)
             |    // (SELECT COUNT(*) FROM cand) AS BIGINT) AS precision_bp""".stripMargin)),

    // ---- similarity: per-dimension embedding health -----------------------
    // The ingest QC s09's outlier lens can't see: a DEAD dimension
    // (all near zero) or a collapsed one (no spread) degrades every
    // downstream cosine equally, invisibly. Per-dimension component
    // stats via posexplode — the fan-out is ×dim (bounded by the
    // embedding width), the aggregate is per dim index, and the
    // per-row array order makes every arithmetic path deterministic.
    // Means accumulate as round-6 DECIMALs (c05's rule); min/max are
    // exact float pass-throughs; the near-zero count is an exact
    // threshold compare on stored values.
    ("s24_embedding_dim_stats",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.types.DecimalType
        Tables.load(s, d, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("dim"),
            round(col("x").cast("double"), 6)
              .cast(DecimalType(18, 6)).as("xr"),
            col("x").cast("double").as("xd"))
          .groupBy(col("dim"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("xr")).cast("double") / count(lit(1)), 6).as("mean"),
            min(col("xd")).as("min_x"), max(col("xd")).as("max_x"),
            sum(when(abs(col("xd")) < 0.001, 1L).otherwise(0L))
              .as("n_near_zero"))
          .orderBy(col("dim"))
      },
      Some("""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |c AS (
             |  SELECT CAST(u.i - 1 AS INT) AS dim, v[u.i] AS xd
             |  FROM e, unnest(range(1, len(v) + 1)) AS u(i))
             |SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             |  round(CAST(SUM(CAST(round(xd, 6) AS DECIMAL(18,6))) AS DOUBLE)
             |    / COUNT(*), 6) AS mean,
             |  MIN(xd) AS min_x, MAX(xd) AS max_x,
             |  CAST(SUM(CASE WHEN abs(xd) < 0.001 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_near_zero
             |FROM c GROUP BY 1 ORDER BY dim""".stripMargin)),

    // ---- bounded-hop BFS reach from a source slice ------------------------
    // Curation blast-radius companion to c12: how far does influence
    // propagate from ONE source's documents through the near-dup graph
    // (c07's certified edge derivation) in <= 3 hops? Per-hop counts
    // plus the unreached remainder (dist -1). Semantics: min-distance
    // (a node joins the frontier at its FIRST reachable hop, the
    // growing reached set subtracted by anti-join each round), so the
    // result is order-independent. Scale shape: each hop is one
    // equi-join frontier x edges plus a distinct and an anti-join —
    // all key-partitioned shuffles on doc_id, no global structure —
    // with localCheckpoint truncating the iterative lineage (the
    // connected-components discipline from Dedup.scala); hop count is
    // a CONSTANT, so plan depth is fixed regardless of corpus size.
    // Unbounded reachability is deliberately NOT this query — that is
    // c02's large-star/small-star connectedComponents.
    ("c14_bfs_reach",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        val pairs = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
            n = 2, prefixLen = 50, maxBucket = 0)
          .filter(col("jaccard") >= 0.3)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint()
        val e = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        var reached = docs.filter(col("source") === "src0")
          .select(col("doc_id").as("id"), lit(0).as("dist"))
          .localCheckpoint()
        var frontier = reached.select(col("id"))
        for (h <- 1 to 3) {
          val nxt = frontier.join(e, col("id") === col("src"))
            .select(col("dst").as("id")).distinct()
            .join(reached.select(col("id")), Seq("id"), "left_anti")
            .localCheckpoint()
          reached = reached.unionAll(
            nxt.select(col("id"), lit(h).as("dist"))).localCheckpoint()
          frontier = nxt
        }
        docs.select(col("doc_id").as("id"))
          .join(reached, Seq("id"), "left")
          .select(coalesce(col("dist"), lit(-1)).as("dist"))
          .groupBy(col("dist")).agg(count(lit(1)).as("n_docs"))
          .orderBy(col("dist"))
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, substr(text, 1, 50) AS pfx,
             |    list_distinct(list_transform(range(1, greatest(len(w), 2)),
             |                  i -> w[i] || ' ' || w[i+1])) AS g
             |  FROM (SELECT doc_id, text,
             |          string_split_regex(lower(text), '\s+') AS w FROM documents)),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM grams a JOIN grams b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             |        / len(list_distinct(a.g || b.g)) >= 0.3),
             |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |      UNION ALL SELECT id_b, id_a FROM pairs),
             |d0 AS (SELECT doc_id AS id FROM documents WHERE source = 'src0'),
             |d1 AS (SELECT DISTINCT e.dst AS id FROM e JOIN d0 ON e.src = d0.id
             |       WHERE e.dst NOT IN (SELECT id FROM d0)),
             |d2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN d1 ON e.src = d1.id
             |       WHERE e.dst NOT IN (SELECT id FROM d0 UNION ALL
             |                           SELECT id FROM d1)),
             |d3 AS (SELECT DISTINCT e.dst AS id FROM e JOIN d2 ON e.src = d2.id
             |       WHERE e.dst NOT IN (SELECT id FROM d0 UNION ALL
             |                           SELECT id FROM d1 UNION ALL
             |                           SELECT id FROM d2)),
             |r AS (SELECT id, 0 AS dist FROM d0
             |      UNION ALL SELECT id, 1 FROM d1
             |      UNION ALL SELECT id, 2 FROM d2
             |      UNION ALL SELECT id, 3 FROM d3)
             |SELECT CAST(coalesce(r.dist, -1) AS INT) AS dist,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM documents LEFT JOIN r ON documents.doc_id = r.id
             |GROUP BY 1 ORDER BY dist""".stripMargin)),

    // ---- int8 quantization error report -----------------------------------
    // The quality-loss accounting for the int8 ANN path: per-label mean
    // and max ABSOLUTE reconstruction error |x − q·scale| of the
    // [[Similarity.withQ8]] codes — the number an operator checks
    // before trusting the 4×-smaller scan (s03's speed is a trade; this
    // query prices it). The oracle replays the quantization arithmetic
    // ITSELF — float max-abs, double scale = maxabs/127, and the
    // kernel's exact floor(x+0.5)/ceil(x−0.5) half-away rounding (NOT
    // SQL round(), whose half-ulp tie behavior may differ) — so the
    // hash certifies the shipped codes bit for bit, not a float
    // approximation of them. Scale shape: one codegen'd quantize pass,
    // a posexplode whose partial aggregates fold map-side before the
    // per-vector exchange, and a |labels|-row report.
    ("s25_q8_reconstruction_error",
      (s: SparkSession, d: String) => {
        val qz = Similarity.withQ8(Tables.load(s, d, "embeddings"))
        val perVec = qz
          .select(col("vec_id"), col("label"), col("q_scale"),
            posexplode(arrays_zip(col("embedding"), col("q8")))
              .as(Seq("i", "z")))
          .select(col("vec_id"), col("label"),
            abs(col("z.embedding").cast("double") -
              col("z.q8").cast("double") * col("q_scale")).as("err"))
          .groupBy(col("vec_id"), col("label"))
          .agg((sum(col("err")) / count(lit(1))).as("me"),
            max(col("err")).as("mx"))
        perVec.groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            round(avg(col("me")), 6).as("mean_abs_err"),
            round(max(col("mx")), 6).as("max_abs_err"))
          .orderBy(col("label"))
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding AS vf,
             |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |m AS (SELECT vec_id, label, v,
             |    CAST(list_max(list_transform(vf, x -> abs(x))) AS DOUBLE) / 127
             |      AS sc
             |  FROM e),
             |t AS (SELECT vec_id, label, sc, v[CAST(u.i AS INT)] AS x
             |  FROM m, unnest(range(1, len(v) + 1)) AS u(i)),
             |r AS (SELECT vec_id, label,
             |    CASE WHEN sc > 0 THEN abs(x -
             |        (CASE WHEN x / sc >= 0 THEN floor(x / sc + 0.5)
             |              ELSE ceil(x / sc - 0.5) END) * sc)
             |      ELSE abs(x) END AS err
             |  FROM t),
             |pv AS (SELECT vec_id, label, SUM(err) / COUNT(*) AS me,
             |    MAX(err) AS mx
             |  FROM r GROUP BY 1, 2)
             |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             |  round(AVG(me), 6) AS mean_abs_err,
             |  round(MAX(mx), 6) AS max_abs_err
             |FROM pv GROUP BY 1 ORDER BY label""".stripMargin)),

    // ---- link prediction over the co-purchase graph -------------------------
    // "Which part pairs are NEVER co-ordered yet share many co-purchase
    // partners?" — common-neighbors + Adamic-Adar (Liben-Nowell &
    // Kleinberg '03), the item-recommendation primitive, over the
    // graph whose edges are part pairs co-occurring in >= 2 orders
    // (the support threshold keeps the graph at its dense core; the
    // dup graph c05/c07 use is transitively CLOSED by construction —
    // cliques have no links to predict). Plan: per-order pair
    // generation is basket-bounded (~|orders| x basket^2, linear in
    // the fact table — q86's envelope), then the same wedge join as
    // c07 (adjacency self-join on the center node, degree-bounded)
    // minus existing edges via one anti join. AA terms are INTEGER
    // surrogates — floor(1e6/ln(deg)) per shared neighbor, summed as
    // longs — so cross-engine float summation order can't perturb the
    // ranking; the full (cn, aa, a, c) key makes the top-20
    // deterministic. Registered at maxCenterDegree = 0 — the
    // exact-oracle regime; production bounds the power-law hub
    // fan-out (Σ_z deg(z)² wedges) via [[linkPrediction]]'s cap.
    ("c15_link_prediction",
      (s: SparkSession, d: String) => linkPrediction(s, d, 0),
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (
             |  SELECT x.l_partkey AS a, y.l_partkey AS b
             |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
             |    AND x.l_partkey < y.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
             |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
             |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
             |        FROM adj GROUP BY 1),
             |ctr AS (SELECT adj.u AS z, adj.v AS a,
             |          CAST(FLOOR(1000000.0 / ln(deg.deg)) AS BIGINT) AS aa_term
             |        FROM adj JOIN deg ON deg.u = adj.u
             |        WHERE deg.deg >= 2),
             |sc AS (SELECT ctr.a, n2.v AS c,
             |         CAST(COUNT(*) AS BIGINT) AS common_neighbors,
             |         CAST(SUM(aa_term) AS BIGINT) AS aa_score_u
             |       FROM ctr JOIN adj n2 ON n2.u = ctr.z
             |       WHERE ctr.a < n2.v GROUP BY 1, 2)
             |SELECT sc.a AS id_a, sc.c AS id_b, common_neighbors, aa_score_u
             |FROM sc LEFT JOIN e ON e.a = sc.a AND e.b = sc.c
             |WHERE e.a IS NULL
             |ORDER BY common_neighbors DESC, aa_score_u DESC, id_a, id_b
             |LIMIT 20""".stripMargin)),

    // ---- modularity of the SOURCE partition over the near-dup graph ---------
    // "Does duplication stay within sources?" — Newman modularity of
    // the source attribute as a partition of c02's dup graph: per
    // source, intra-edges e_c vs degree mass d_c; the per-source
    // contribution to Q·4m² is 4m·e_c − d_c², an EXACT integer (the
    // whole metric stays rational with denominator 4m² — no float
    // division to drift cross-engine). High contribution = that
    // source's duplication is internal (dedup within the source
    // suffices); low/negative = cross-source template reuse, the case
    // c11's overlap matrix counts and this one weighs. Plan: the d09
    // bounded gram join makes the edges, then two joins against the
    // (doc_id, source) projection and two constant-size aggregates.
    ("c16_source_modularity",
      (s: SparkSession, d: String) => {
        val docs = Tables.load(s, d, "documents")
        val pairs = Dedup.substringNearDupPairs(docs, "doc_id", "text", n = 8)
          .localCheckpoint()
        val src = docs.select(col("doc_id"), col("source"))
        val tagged = pairs
          .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
        val m = tagged.count()
        val intra = tagged.filter(col("sa") === col("sb"))
          .groupBy(col("sa").as("source")).agg(count(lit(1)).as("e_c"))
        val degMass = tagged
          .select(col("sa").as("source"))
          .unionAll(tagged.select(col("sb").as("source")))
          .groupBy(col("source")).agg(count(lit(1)).as("d_c"))
        degMass.join(intra, Seq("source"), "left")
          .select(col("source"),
            coalesce(col("e_c"), lit(0L)).as("n_intra"), col("d_c"),
            (lit(4L * m) * coalesce(col("e_c"), lit(0L)) -
              col("d_c") * col("d_c")).as("q_contrib_4m2"))
          .orderBy(col("source"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
             |      FROM w, unnest(range(1, greatest(len(w)-6, 1))) AS u(i)),
             |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
             |t AS (SELECT p.id_a, p.id_b, da.source AS sa, db.source AS sb
             |      FROM p JOIN documents da ON da.doc_id = p.id_a
             |             JOIN documents db ON db.doc_id = p.id_b),
             |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM t),
             |i AS (SELECT sa AS source, CAST(COUNT(*) AS BIGINT) AS e_c
             |      FROM t WHERE sa = sb GROUP BY 1),
             |dm AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS d_c FROM (
             |         SELECT sa AS source FROM t
             |         UNION ALL SELECT sb FROM t) GROUP BY 1)
             |SELECT dm.source, COALESCE(i.e_c, 0) AS n_intra, dm.d_c,
             |  4 * mm.m * COALESCE(i.e_c, 0) - dm.d_c * dm.d_c AS q_contrib_4m2
             |FROM dm CROSS JOIN mm LEFT JOIN i ON i.source = dm.source
             |ORDER BY dm.source""".stripMargin)),

    // ---- degree assortativity of the co-purchase graph ----------------------
    // Do high-degree parts co-purchase with other hubs (assortative,
    // r > 0) or with the long tail (disassortative, r < 0 — the
    // typical retail shape)? Newman's r is a Pearson correlation over
    // the directed-edge list of endpoint degrees; its numerator and
    // both variance terms are exact integers over degree sums, and
    // sign(r)·r² exported in basis points keeps the whole metric
    // rational (r itself needs a square root — the one step that
    // would reintroduce float drift). Same support-thresholded edge
    // set as c15; all sums fit DECIMAL(38,0)/HUGEINT.
    ("c17_degree_assortativity",
      (s: SparkSession, d: String) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = coPurchaseEdges(s, d)
        val adj = e.select(col("a").as("u"), col("b").as("v"))
          .unionAll(e.select(col("b").as("u"), col("a").as("v")))
          .localCheckpoint()
        val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
          .localCheckpoint() // consumed 3 ways below
        // The adjacency is SYMMETRIC (both directions present), so the
        // directed-edge degree moments collapse to degree-sequence
        // moments — no per-edge join needed (guide §2.4, remove the
        // shuffle outright): m2 = Σ deg (each node sources deg edges),
        // sx = sy = Σ deg² (node u appears as source deg(u) times,
        // contributing deg(u) each), sx2 = sy2 = Σ deg³. Only
        // sxy = Σ_(u,v) deg(u)·deg(v) needs edge-level attachment:
        // ONE edge-sized join (attach deg(u)), a per-node partial sum,
        // then a NODE-sized join — the previous shape paid a second
        // EDGE-sized join plus a six-term aggregate over the widened
        // pair frame. Exact integer equality with the old shape is
        // probe-verified row-for-row; the oracle recursion is untouched
        // and still hash-matches. Flat at fixture scale (the edge set
        // is 3.6k rows at sf0.1); the removed O(E) exchange is the
        // at-scale term.
        val moments = deg.agg(
          sum(col("deg")).as("m2"),
          sum(col("deg") * col("deg")).as("sx"),
          sum(col("deg") * col("deg") * col("deg")).as("sx2"))
        val nbr = adj.join(deg.select(col("u"), col("deg").as("du")), "u")
          .groupBy(col("v")).agg(sum(col("du")).as("sdu"))
        val sxyF = nbr
          .join(deg.select(col("u").as("v"), col("deg").as("dv")), "v")
          .agg(sum(col("dv") * col("sdu")).as("sxy"))
        val sums = moments.crossJoin(sxyF)
        val num = col("m2").cast(D) * col("sxy").cast(D) -
          col("sx").cast(D) * col("sx").cast(D)
        val vx = col("m2").cast(D) * col("sx2").cast(D) -
          col("sx").cast(D) * col("sx").cast(D)
        sums.select(col("m2"), col("sxy"), col("sx2"),
          num.cast("long").as("r_num"),
          call_function("div",
            signum(num).cast(D) * num * num * lit(10000L).cast(D),
            vx * vx).cast("long").as("signed_r2_bp"))
      },
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (
             |  SELECT x.l_partkey AS a, y.l_partkey AS b
             |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
             |    AND x.l_partkey < y.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
             |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
             |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
             |        FROM adj GROUP BY 1),
             |p AS (SELECT d1.deg AS du, d2.deg AS dv
             |      FROM adj JOIN deg d1 ON d1.u = adj.u
             |               JOIN deg d2 ON d2.u = adj.v),
             |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2,
             |        CAST(SUM(du) AS HUGEINT) AS sx,
             |        CAST(SUM(dv) AS HUGEINT) AS sy,
             |        CAST(SUM(du * dv) AS BIGINT) AS sxy,
             |        CAST(SUM(du * du) AS BIGINT) AS sx2,
             |        CAST(SUM(dv * dv) AS BIGINT) AS sy2
             |      FROM p)
             |SELECT m2, sxy, sx2,
             |  CAST(m2 * sxy - sx * sy AS BIGINT) AS r_num,
             |  CAST((CASE WHEN m2 * sxy - sx * sy < 0 THEN -1
             |        WHEN m2 * sxy - sx * sy > 0 THEN 1 ELSE 0 END)
             |       * (m2 * sxy - sx * sy) * (m2 * sxy - sx * sy) * 10000
             |       // ((m2 * sx2 - sx * sx) * (m2 * sy2 - sy * sy))
             |       AS BIGINT) AS signed_r2_bp
             |FROM s""".stripMargin)),

    // ---- dup-cluster cohesion audit -------------------------------------------
    // How TIGHT is each c02 cluster? Per cluster: members, linked
    // pairs, and the shared-distinct-8-gram mass per pair (the same
    // evidence d09's criterion linked them on) — a sparse, weakly-
    // linked cluster (mean shared grams barely above the 1-gram
    // threshold, n_pairs ≪ n·(n−1)/2) is a chaining artifact to review
    // before canonicalization removes n−1 documents; a dense one is a
    // true template family. Pair evidence and membership come from the
    // SAME capped gram path the cluster assignment uses
    // ([[Dedup.substringNearDupPairsWeighted]] — c02's pair set is its
    // unweighted projection at every maxBucket), so the audit can't
    // drift from the clustering. Mean in integer hundredths via
    // truncating div.
    ("c18_cluster_cohesion",
      (s: SparkSession, d: String) => {
        val shared = Dedup.substringNearDupPairsWeighted(
            Tables.load(s, d, "documents"), "doc_id", "text", n = 8)
          .localCheckpoint() // consumed by CC and by the cohesion rollup
        val cc = Dedup.connectedComponents(
          shared.select(col("id_a"), col("id_b")))
        val members = cc.groupBy(col("label").as("cluster"))
          .agg(count(lit(1)).as("n_members"))
        val cohesion = shared
          .join(cc.select(col("id").as("id_a"), col("label").as("cluster")),
            "id_a")
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("n_shared")).as("sum_shared"),
            max(col("n_shared")).as("max_shared"))
        members.join(cohesion, "cluster")
          .select(col("cluster"), col("n_members"), col("n_pairs"),
            col("sum_shared"), col("max_shared"),
            call_function("div", col("sum_shared") * 100L, col("n_pairs"))
              .as("mean_shared_x100"))
          .orderBy(col("cluster"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(lower(text), '\s+') AS w FROM documents),
             |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
             |      FROM w, unnest(range(1, greatest(len(w)-6, 1))) AS u(i)),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |        CAST(COUNT(*) AS BIGINT) AS n_shared
             |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |      GROUP BY 1, 2),
             |e AS (SELECT id_a AS src, id_b AS dst FROM p
             |      UNION ALL SELECT id_b, id_a FROM p),
             |nodes AS (SELECT DISTINCT src AS id FROM e),
             |reach AS (
             |  WITH RECURSIVE r(id, v) AS (
             |    SELECT id, id FROM nodes
             |    UNION
             |    SELECT r.id, e.dst FROM r JOIN e ON e.src = r.v)
             |  SELECT id, min(v) AS cluster FROM r GROUP BY id),
             |m AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members
             |      FROM reach GROUP BY 1),
             |coh AS (SELECT reach.cluster,
             |          CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |          CAST(SUM(p.n_shared) AS BIGINT) AS sum_shared,
             |          CAST(MAX(p.n_shared) AS BIGINT) AS max_shared
             |        FROM p JOIN reach ON reach.id = p.id_a GROUP BY 1)
             |SELECT m.cluster, m.n_members, coh.n_pairs, coh.sum_shared,
             |  coh.max_shared,
             |  CAST(coh.sum_shared * 100 // coh.n_pairs AS BIGINT)
             |    AS mean_shared_x100
             |FROM m JOIN coh ON coh.cluster = m.cluster
             |ORDER BY m.cluster""".stripMargin)),
  )
}
