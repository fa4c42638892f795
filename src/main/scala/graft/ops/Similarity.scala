package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSimilarity.cosineSim
import graft.functions.DotProduct.dotProduct

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), north-star extension.
  *
  * Two paths:
  *  - [[bruteForceTopK]] — the correctness baseline: broadcast the (small)
  *    query set against the corpus, score with the codegen'd
  *    [[graft.functions.CosineSimilarity]] expression, rank per query.
  *    Linear in |corpus|·|queries|; the right plan when queries are few.
  *  - [[ivfTopK]] — the scale path: IVF coarse quantization. Corpus
  *    vectors are assigned once to their nearest of `nCells` centroids
  *    (broadcast join, one map pass); a query probes only its `nProbe`
  *    closest cells, so the scored fraction is ~nProbe/nCells of the
  *    corpus. At 100 TB the assignment is a materialized, cell-partitioned
  *    table and probing is partition pruning.
  *
  * Ranking ties are broken by neighbor id on a 6-dp-rounded similarity, so
  * results are engine-reproducible (oracle-safe).
  */
object Similarity {

  /** Rank scored (query_id, neighbor_id, cos_sim) rows per query, keep
    * the top k. Degenerate (zero/empty) vectors score NaN, and Spark
    * sorts NaN as the LARGEST double — unguarded they would rank first
    * in every query's top-k, so the filter lives here, on every scoring
    * path's way out. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.filter(!isnan(col("cos_sim")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Full-precision re-rank of an int8-scored candidate frame
    * (query_id, neighbor_id, q_sim): keep a rescore-deep shortlist per
    * query by q_sim, re-score it against the float corpus, rank top k —
    * the shared tail of every quantized-scan search path.
    *
    * The candidate frame deliberately carries NO vectors: the
    * shortlist cut is a window (a full shuffle of every candidate
    * row), and shuffling (long, long, float) is ~20 bytes/row where
    * dragging q_embedding through would be ~13× that — measured 11.8 s
    * → 3 s on the n² self-join (s04) at sf0.1. Query vectors re-join
    * AFTER the cut, when only rescore·|queries| rows remain.
    *
    * Contract: callers pass NaN-free `q_sim` (clean degenerate vectors
    * BEFORE scoring, via [[cleanVectors]]/[[cleanQueries]]). A
    * `!isnan(q_sim)` filter here would inline the whole int8 kernel
    * into the Filter predicate (Catalyst pushes filters through
    * projections by substituting the alias) and re-evaluate it per
    * row — measured as the difference between 9.6 s and 3.4 s on the
    * s04 scan. [[rankTopK]]'s final NaN guard still backstops the
    * (shortlist-sized) full-precision side. */
  /** Product-quantized EXACT top-k (Jégou et al. 2011, used as a
    * pruning bound): the corpus stores as m one-byte sub-codes + a
    * norm + a reconstruction-error float per vector — ~21× smaller
    * than float32 at D=64/m=8 and ~5× smaller than even the int8 path,
    * the compression regime where a 100 TB embedding corpus's candidate
    * scan fits in memory. Scoring is ASYMMETRIC (ADC): each bounded
    * query precomputes its m·ks table of sub-centroid dot products
    * driver-side (queries are broadcast-bounded on every top-k path
    * here — the lookup()/codebook house pattern), and a candidate's
    * approximate dot is m table lookups in the codegen'd
    * [[graft.functions.PqAdc]] kernel — zero per-candidate float math.
    *
    * Unlike a fixed-depth rescore (whose recall is an empirical bet
    * that breaks as the corpus grows), the result is PROVABLY exact:
    * Cauchy–Schwarz bounds |dot(q,v) − adc| ≤ ‖q‖·err(v), giving each
    * candidate a cosine interval [lb, ub]; every candidate whose ub
    * falls below the k-th best lb cannot be in the top-k (if ub_v < τ,
    * then cos_v < τ ≤ cos of k other candidates). Only bound-survivors
    * pay the exact-cosine rescore, and a small fixed margin absorbs
    * the float→double rounding in the bound arithmetic. The brute
    * oracle therefore carries over AT ANY SCALE, not just where a
    * rescore depth happens to cover the approximation error.
    * Sub-codebooks are deterministic seeds (subvectors of the first
    * `ks` corpus vectors — the centroids() discipline per subspace);
    * trained sub-codebooks would only TIGHTEN err and prune more. */
  def pqTopK(corpus0: DataFrame, queries0: DataFrame, k: Int,
             m: Int = 8, ks: Int = 16): DataFrame = {
    val corpus = cleanVectors(corpus0)
    val queries = cleanQueries(queries0)
    rankTopK(
      pqSurvivors(corpus, queries, k, m, ks)
        .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding")),
          "neighbor_id")
        .join(broadcast(queries.select(col("query_id"), col("q_embedding"))),
          "query_id")
        .select(col("query_id"), col("neighbor_id"),
          round(cosineSim(col("embedding"), col("q_embedding")), 6).as("cos_sim")),
      k)
  }

  /** How many candidates the PQ bound admits to the exact rescore —
    * the pruning the "exact at any scale" claim is paid with; exposed
    * for the spec that proves the bound genuinely cuts. */
  private[graft] def pqSurvivorCount(corpus0: DataFrame, queries0: DataFrame,
                                     k: Int, m: Int, ks: Int): Long =
    pqSurvivors(cleanVectors(corpus0), cleanQueries(queries0), k, m, ks).count()

  /** Deterministic flat sub-codebook (subvectors of the first `ks`
    * corpus vectors, [subspace][centroid][dim] order) plus the
    * effective ks and subspace width — the shared PQ trainer for
    * [[pqTopK]] and [[ivfPqTopK]]. */
  private def pqCodebook(corpus: DataFrame, m: Int,
                         ks: Int): (Array[Float], Int, Int) = {
    val seeds = corpus.orderBy(col("vec_id")).limit(ks)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(seeds.nonEmpty, "PQ needs a non-empty corpus")
    val d = seeds.head.length
    require(d % m == 0,
      s"PQ: dim $d must divide into m=$m equal subspaces")
    val sub = d / m
    val ksEff = math.min(ks, seeds.length)
    val flat: Array[Float] = Array.tabulate(m * ksEff * sub) { x =>
      val j = x / (ksEff * sub); val c = (x / sub) % ksEff; val i = x % sub
      seeds(c)(j * sub + i)
    }
    (flat, ksEff, sub)
  }

  /** The stored PQ index: m code bytes + reconstruction error + the
    * norm the cosine needs (the one HOF here runs once per corpus row
    * at encode time — the hot O(corpus × queries) kernel downstream is
    * the codegen'd ADC). */
  private def pqEncoded(corpus: DataFrame, flat: Array[Float], m: Int,
                        ksEff: Int): DataFrame = {
    val cbLit = typedlit(flat.toSeq)
    corpus.select(col("vec_id"),
        graft.functions.PqCodes.pqEncode(col("embedding"), cbLit, m, ksEff)
          .as("pq"),
        expr("sqrt(aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x))")
          .as("vnorm"))
      .select(col("vec_id"), col("pq.codes").as("codes"),
        col("pq.err").as("err"), col("vnorm"))
  }

  /** Per-query ADC lookup tables (double precision — the bound's
    * correctness budget goes to the fixed margin, not table rounding).
    * Queries are broadcast-bounded on every top-k path here, so the
    * driver-side table build is the house codebook pattern. */
  private def pqLuts(queries: DataFrame, flat: Array[Float], m: Int,
                     ksEff: Int, sub: Int): DataFrame = {
    val spark = queries.sparkSession
    val lutRows = queries.select(col("query_id"), col("q_embedding"))
      .collect().map { r =>
        val q = r.getSeq[Float](1).map(_.toDouble).toArray
        val lut = Array.tabulate(m * ksEff) { x =>
          val j = x / ksEff; val c = x % ksEff
          var s = 0d; var i = 0
          while (i < sub) {
            s += q(j * sub + i) * flat((j * ksEff + c) * sub + i); i += 1
          }
          s
        }
        (r.getLong(0), lut.toSeq, math.sqrt(q.map(x => x * x).sum))
      }.toSeq
    import spark.implicits._
    lutRows.toDF("query_id", "lut", "qnorm")
  }

  /** τ per query = the k-th best LOWER bound; ub < τ − margin proves
    * exclusion from the top-k (margin absorbs bound-arithmetic
    * rounding plus the final ranking's 6-dp rounding ties). nth_value
    * in an unbounded frame reads τ in the SAME window pass that ranks
    * the bounds — one shuffle of the (ids, lb, ub) rows, and the ADC
    * scan runs once (a separate τ subquery would re-execute it).
    * Fewer than k candidates → τ null → keep all. */
  private def pqTauFilter(bounded: DataFrame, k: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id")).orderBy(col("lb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bounded
      .withColumn("tau", nth_value(col("lb"), k).over(wq))
      .filter(col("tau").isNull || col("ub") >= col("tau") - lit(1e-5))
      .select(col("query_id"), col("neighbor_id"))
  }

  /** The bound-surviving (query_id, neighbor_id) candidate set — see
    * [[pqTopK]] for the interval-pruning argument. */
  private def pqSurvivors(corpus: DataFrame, queries: DataFrame, k: Int,
                          m: Int, ks: Int): DataFrame = {
    val (flat, ksEff, sub) = pqCodebook(corpus, m, ks)
    val encoded = pqEncoded(corpus, flat, m, ksEff)
    val lutDf = pqLuts(queries, flat, m, ksEff, sub)
    val adcCol = graft.functions.PqCodes.pqAdc(col("codes"), col("lut"))
    val bounded = spread(encoded).crossJoin(broadcast(lutDf))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        ((adcCol - col("qnorm") * col("err")) /
          (col("vnorm") * col("qnorm"))).as("lb"),
        ((adcCol + col("qnorm") * col("err")) /
          (col("vnorm") * col("qnorm"))).as("ub"))
    pqTauFilter(bounded, k)
  }

  /** IVF + PQ composed search — the production FAISS IVFPQ shape: the
    * query probes its nProbe nearest cells (IVF pruning, ~nProbe/nCells
    * of the corpus touched) and the probed cells are scanned as the
    * COMPRESSED PQ index (m code bytes + 2 floats per vector — the
    * candidate bytes through the cell join are ~21× smaller than
    * float32 at D=64/m=8), scored by the codegen'd ADC kernel, interval-
    * pruned by the Cauchy–Schwarz bound, and only bound-survivors pay
    * the full-precision rescore. EXACT AMONG THE PROBED CELLS: output
    * equals [[ivfTopK]] (same cells, untrained seed codebook) row for
    * row, so the s02-style SQL oracle — which re-runs the IVF algorithm
    * itself — carries over unchanged. At 100 TB this is the layout that
    * makes the candidate scan memory-resident: cells partition the
    * corpus, the PQ index is the bytes that move, floats are touched
    * only for the shortlist. */
  def ivfPqTopK(corpus0: DataFrame, queries0: DataFrame, k: Int,
                nCells: Int = 16, nProbe: Int = 4,
                m: Int = 8, ks: Int = 16): DataFrame = {
    val corpus = cleanVectors(corpus0)
    val queries = cleanQueries(queries0)
    val cents = centroids(corpus, nCells)
    val assigned = ivfAssign(corpus, cents).select(col("vec_id"), col("cell_id"))
    val (flat, ksEff, sub) = pqCodebook(corpus, m, ks)
    val encoded = pqEncoded(corpus, flat, m, ksEff).join(assigned, "vec_id")
    val lutDf = pqLuts(queries, flat, m, ksEff, sub)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cell_id"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cell_id"),
        round(cosineSim(col("q_embedding"), col("centroid")), 6).as("sim"))
      .withColumn("rnk", row_number().over(wq))
      .filter(col("rnk") <= nProbe)
      .select(col("query_id"), col("cell_id"))
    val adcCol = graft.functions.PqCodes.pqAdc(col("codes"), col("lut"))
    val bounded = encoded.join(broadcast(probes), "cell_id")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lutDf), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        ((adcCol - col("qnorm") * col("err")) /
          (col("vnorm") * col("qnorm"))).as("lb"),
        ((adcCol + col("qnorm") * col("err")) /
          (col("vnorm") * col("qnorm"))).as("ub"))
    rankTopK(
      pqTauFilter(bounded, k)
        .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding")),
          "neighbor_id")
        .join(broadcast(queries.select(col("query_id"), col("q_embedding"))),
          "query_id")
        .select(col("query_id"), col("neighbor_id"),
          round(cosineSim(col("embedding"), col("q_embedding")), 6).as("cos_sim")),
      k)
  }

  private def rescoredTopK(approx: DataFrame, queries: DataFrame,
                           corpus: DataFrame, k: Int, rescore: Int): DataFrame = {
    // a shortlist shallower than k would silently return < k neighbors
    val depth = math.max(rescore, k)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("q_sim").desc, col("neighbor_id"))
    val shortlist = approx
      .select(col("query_id"), col("neighbor_id"), col("q_sim"))
      .withColumn("rnk", row_number().over(wq)).filter(col("rnk") <= depth)
      .select(col("query_id"), col("neighbor_id"))
    rankTopK(
      shortlist
        .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding")),
          "neighbor_id")
        .join(queries.select(col("query_id"), col("q_embedding")), "query_id")
        .select(col("query_id"), col("neighbor_id"),
          round(cosineSim(col("embedding"), col("q_embedding")), 6).as("cos_sim")),
      k)
  }

  /** Drops degenerate (empty or all-zero) embeddings — their cosine is
    * NaN to everything, so they can neither block nor score. Self-cosine
    * is 1 for any nonzero vector, NaN for zero vectors: one codegen'd
    * pass. */
  private def cleanVectors(corpus: DataFrame): DataFrame =
    corpus.filter(size(col("embedding")) > 0 &&
      !isnan(cosineSim(col("embedding"), col("embedding"))))

  /** [[cleanVectors]] for a (query_id, q_embedding)-shaped frame. */
  private def cleanQueries(queries: DataFrame): DataFrame =
    queries.filter(size(col("q_embedding")) > 0 &&
      !isnan(cosineSim(col("q_embedding"), col("q_embedding"))))

  /** Spread an under-partitioned scan side across the cluster. A
    * broadcast-nested-loop scan inherits the stream side's
    * partitioning, so a single-file corpus serializes the whole n·m
    * kernel evaluation on ONE task (measured: 8.4 s → 2.5 s on the s04
    * self-join at sf0.1). No-op when the input already has enough
    * partitions — at real scale the corpus arrives well-partitioned
    * and a repartition would add a pointless full shuffle.
    *
    * The partition probe (`df.rdd`) is only safe on exchange-free
    * plans: under AQE, materializing the RDD of a plan WITH an
    * exchange finalizes the adaptive plan, which EXECUTES its shuffle
    * stages eagerly — the caller's upstream pipeline would run twice.
    * A plan that already shuffles is also already spread (its exchange
    * landed it on the session's shuffle partitioning), so skip both
    * the probe and the repartition in that case. */
  private def spread(df: DataFrame): DataFrame = {
    val hasExchange = df.queryExecution.sparkPlan
      .find(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      .isDefined
    if (hasExchange) df
    else {
      val target = df.sparkSession.sessionState.conf.numShufflePartitions
      if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    }
  }

  /** corpus: (vec_id, embedding); queries: (query_id, q_embedding). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankTopK(
      spread(corpus).crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(cosineSim(col("embedding"), col("q_embedding")), 6).as("cos_sim")),
      k)

  /** Hard-negative mining (two-tower/contrastive training prep): per
    * query, the top-k most-similar corpus vectors whose LABEL differs
    * from the query's — the near-misses a contrastive loss learns the
    * most from (easy negatives are already far; hard ones sit at the
    * decision boundary). Same broadcast-queries scan shape as
    * [[bruteForceTopK]] with the label-inequality applied BEFORE
    * ranking (it's join-dependent — each query excludes a different
    * label — which static-predicate filtered ANN (s16) cannot
    * express). The IVF scale path composes unchanged: probe cells,
    * drop same-label candidates, rank the remainder. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankTopK(
      spread(corpus).crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id") &&
          col("label") =!= col("q_label"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("label").cast("int").as("neg_label"),
          round(cosineSim(col("embedding"), col("q_embedding")), 6).as("cos_sim")),
      k)

  /** Range query: all corpus vectors within cosine ≥ `radius` of each
    * query — the fixed-radius member of the search family (top-k
    * s01/s02/s03, all-pairs s04/d05). Same broadcast-queries shape as
    * [[bruteForceTopK]] minus the ranking window: output size is
    * data-dependent, so no per-query shuffle for rank is needed at
    * all — the filter runs inside the scan projection. The IVF scale
    * path applies unchanged (probe cells, then range-filter) when the
    * query count grows past broadcast size. */
  def rangeSearch(corpus: DataFrame, queries: DataFrame,
                  radius: Double): DataFrame =
    spread(cleanVectors(corpus)).crossJoin(broadcast(cleanQueries(queries)))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosineSim(col("embedding"), col("q_embedding")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= radius)

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    * greedily pick k results that balance relevance to the query
    * against redundancy with what's already picked —
    * argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s). The serving-time
    * diversifier every retrieval stack ends with: without it, a near-dup
    * cluster close to the query monopolizes the whole top-k.
    *
    * Split of labor at scale: candidate GENERATION is the distributed
    * part (brute-force scoring here; the IVF index probe once the
    * corpus outgrows a scan — either way the output is nCand rows,
    * fixed by the caller, independent of corpus size). The greedy
    * selection itself is inherently sequential (each pick changes the
    * next argmax) and runs on the driver over the nCand-bounded
    * candidate set — O(k·nCand) compares over nCand + nCand² collected
    * SCORES (never vectors), the same bounded-metadata class as the
    * IVF codebook collects. Pair similarities are computed by the same
    * codegen'd [[graft.functions.CosineSimilarity]] expression as the
    * relevance scores, so both carry the certified 6-dp round that
    * keeps the greedy's compares engine-reproducible; the combined
    * score re-rounds to 6 dp before compare, ties break on vec_id. */
  def mmrDiversify(corpus: DataFrame, queryVecId: Long, nCand: Int, k: Int,
                   lambda: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val emb = cleanVectors(corpus)
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"))
    val rel = spread(emb).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        round(cosineSim(col("embedding"), col("q_embedding")), 6).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(nCand)
    val cand = emb.join(broadcast(rel), "vec_id")
    val pairs = cand.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(broadcast(
        cand.select(col("vec_id").as("ib"), col("embedding").as("vb"))))
      .filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        round(cosineSim(col("va"), col("vb")), 6).as("s"))

    // Bounded driver state: nCand (id, rel) rows + nCand·(nCand−1) sims.
    val relRows: Seq[(Long, Double)] = rel.collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val sim: Map[(Long, Long), Double] = pairs.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    val picked = Seq.newBuilder[(Int, Long, Double)]
    var selected = Vector.empty[Long]
    var step = 1
    while (step <= k && selected.size < relRows.size) {
      var bestId = -1L
      var bestScore = Double.NegativeInfinity
      relRows.foreach { case (id, r) =>
        if (!selected.contains(id)) {
          val pen = if (selected.isEmpty) 0.0
                    else selected.map(s => sim((id, s))).max
          val score = round6(lambda * r - (1 - lambda) * pen)
          // relRows is id-ascending, so strict > keeps the smallest id on ties
          if (score > bestScore) { bestId = id; bestScore = score }
        }
      }
      picked += ((step, bestId, bestScore))
      selected :+= bestId
      step += 1
    }
    picked.result().toDF("rank", "vec_id", "mmr_score")
  }

  /** Maximum-inner-product search (MIPS) top-k, EXACT via the classic
    * norm bound (Cauchy–Schwarz: dot(q,v) ≤ ‖q‖·‖v‖ — the pruning rule
    * behind FEXIPRO/LEMP-style exact MIPS engines). Ranking is by raw
    * dot product, not cosine: recommender retrieval keeps popularity
    * signal in the embedding norm, so the cosine paths (s01/s02/s03)
    * answer the wrong question for it.
    *
    * Plan shape:
    *  1. One projection pass attaches ‖v‖ to each corpus row
    *     (codegen'd self-dot, no shuffle).
    *  2. A seed of the `seedN` largest-norm vectors (distributed
    *     TakeOrdered — no full sort) is scored exactly per query; its
    *     k-th best dot is a certified lower bound τ on the true k-th
    *     best, because the seed is a subset of the corpus.
    *  3. The full scan keeps only rows with ‖v‖·‖q‖ ≥ τ − margin: any
    *     pruned row has dot ≤ ‖v‖·‖q‖ < τ ≤ true k-th best, so it
    *     cannot be in the top-k. Survivors pay the exact dot + rank.
    *
    * Why high-norm seeding works: dot(q,v) ≤ ‖q‖‖v‖ means large-norm
    * vectors are the only ones that CAN score high, so scoring them
    * first yields a tight τ after seedN rows instead of a corpus pass.
    * At 100 TB the norm column is persisted and the corpus files
    * Z-ordered/sorted by norm: parquet min/max stats on ‖v‖ then prune
    * WHOLE FILES below min_q(τ_q/‖q‖) before any row is read — the
    * same stats-pruning contract q58 certifies for Z-order scans. The
    * margin (1e-4) absorbs the 6-dp rounding of the final ranking so a
    * boundary candidate the oracle would admit is never pruned.
    *
    * Zero/empty vectors are dropped on both sides ([[cleanVectors]]
    * semantics; the oracle mirrors with `list_inner_product(v,v) > 0`)
    * — a degenerate query has no meaningful MIPS answer and a
    * degenerate corpus row scores 0 against everything.
    */
  def mipsTopK(corpus0: DataFrame, queries0: DataFrame, k: Int,
               seedN: Int = 64): DataFrame = {
    val scored = mipsSurvivors(corpus0, queries0, k, seedN)
      .select(col("query_id"), col("neighbor_id"),
        round(col("ip_raw"), 6).as("ip"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("ip"), col("rank"))
  }

  /** Bound-surviving candidate rows (query_id, neighbor_id, ip_raw) —
    * exposed so the spec can prove the norm bound genuinely prunes. */
  private[graft] def mipsSurvivors(corpus0: DataFrame, queries0: DataFrame,
                                   k: Int, seedN: Int): DataFrame = {
    val corpus = cleanVectors(corpus0)
      .withColumn("nv", sqrt(dotProduct(col("embedding"), col("embedding"))))
    val queries = cleanQueries(queries0)
      .withColumn("nq", sqrt(dotProduct(col("q_embedding"), col("q_embedding"))))
    // Seed pass: largest-norm vectors, scored exactly. TakeOrdered keeps
    // this a top-seedN per partition + driver merge, never a full sort.
    val seed = corpus.orderBy(col("nv").desc, col("vec_id"))
      .limit(math.max(seedN, k + 1))
      .select(col("vec_id"), col("embedding"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("seed_ip").desc, col("vec_id"))
    val tau = broadcast(seed).crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dotProduct(col("embedding"), col("q_embedding")).as("seed_ip"))
      .withColumn("rnk", row_number().over(wq))
      .filter(col("rnk") === k)
      .select(col("query_id"), col("seed_ip").as("tau"))
    // margin: 6-dp final rounding means scores within 5e-7 of τ can tie
    // the oracle's k-th row; 1e-4 dominates that plus float slop.
    val bounded = queries.join(tau, Seq("query_id"), "left")
      .withColumn("cut",
        coalesce(col("tau") - lit(1e-4), lit(Double.NegativeInfinity)))
      .select(col("query_id"), col("q_embedding"), col("nq"), col("cut"))
    spread(corpus).crossJoin(broadcast(bounded))
      .filter(col("vec_id") =!= col("query_id") &&
        col("nv") * col("nq") >= col("cut"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotProduct(col("embedding"), col("q_embedding")).as("ip_raw"))
  }

  /** Deterministic seed centroids: the nCells lowest-id vectors. */
  def centroids(corpus: DataFrame, nCells: Int): DataFrame =
    corpus.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))

  /** k-means (Lloyd) refinement of the seed centroids, as DataFrame ops:
    * assign (broadcast argmax, as [[ivfAssign]]) → recompute means
    * (groupBy cell, per-dimension average via posexplode) → repeat.
    * Deterministic AND engine-reproducible: seeded from [[centroids]],
    * fixed iteration count, cosine assignment with id tie-breaks, and
    * per-dimension means ROUNDED to 6 dp before the float cast — the
    * same rule every similarity score here follows, so partial-
    * aggregation summation order (double addition is not associative)
    * can't leak into the trained codebook, and a SQL oracle computing
    * round(avg(x), 6) per dimension lands on the identical centroid
    * (s06). Empty cells keep their previous centroid. One
    * broadcast-join pass + one aggregation per iteration — linear in
    * corpus size, no cartesian. Returns a driver-localized frame
    * (centroids are broadcast-sized by construction): no cache is left
    * pinned, per the stateless-shipped-path house rule. */
  def kmeansCentroids(corpus: DataFrame, nCells: Int, iters: Int = 3): DataFrame = {
    var cents = centroids(corpus, nCells).cache()
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(corpus, cents)
      val means = assigned
        .select(col("cell_id"), posexplode(col("embedding").cast("array<double>")))
        .groupBy(col("cell_id"), col("pos"))
        .agg(round(avg(col("col")), 6).as("m"))
        .groupBy(col("cell_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell_id"),
          transform(col("pm"), e => e.getField("m").cast("float")).as("centroid"))
      val next = cents.select(col("cell_id"), col("centroid").as("prev"))
        .join(means, Seq("cell_id"), "left")
        .select(col("cell_id"), coalesce(col("centroid"), col("prev")).as("centroid"))
        .cache()
      next.count() // materialize before dropping the previous generation
      cents.unpersist()
      cents = next
    }
    // localize (nCells rows — the broadcast codebook) and release the
    // loop cache so shipped callers pin no session state
    val rows = cents.collect().toSeq
    val schema = cents.schema
    val spark = cents.sparkSession
    cents.unpersist()
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** Assign every corpus vector to its nearest centroid: broadcast join +
    * `max_by` argmax. The aggregation gets a map-side partial, so the
    * exchange carries one row per vector — not the nCells-fold expansion
    * a window-rank formulation would shuffle. Ties break to the lowest
    * cell_id (the negated id in the ordering struct). */
  def ivfAssign(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cell_id"),
        round(cosineSim(col("embedding"), col("centroid")), 6).as("sim"))
      .groupBy(col("vec_id"))
      .agg(
        first(col("embedding")).as("embedding"),
        max_by(col("cell_id"), struct(col("sim"), -col("cell_id"))).as("cell_id"))

  /** nCells boundary between the two multi-probe derivation strategies
    * in [[withProbeCells]]. Below it, per-row literal scoring wins (one
    * codegen'd expression tree, no extra shuffle); past it the literal
    * array outgrows codegen (Janino method limits, plan bloat) and the
    * driver collect stops being "metadata", so the broadcast-join plan
    * takes over. 256 × 128-dim floats ≈ 128 KB of literals — the upper
    * end of what a generated method should carry. */
  private[graft] val LiteralProbeMaxCells = 256

  /** The multi-probe cell map: `vecs` (must carry `vec_id` and
    * `embedding`; other columns pass through) exploded to one row per
    * (vector, probed cell), `cell_id` = the vector's `nProbe` nearest
    * centroids in `cents` (cell_id, centroid), ordered by rounded
    * cosine desc with lowest-id tie-break.
    *
    * Strategy switches on |cents| — the large-nCells scale path the
    * fixture's nCells = 16 never exercises but nCells ≈ √corpus
    * requires:
    *  - ≤ `literalMax`: centroids localize into ONE codegen'd
    *    sort_array(struct(-sim, cell)) literal tree — no join, no
    *    shuffle, the per-row argmax form.
    *  - > `literalMax`: centroids stay a BROADCAST frame; scoring is a
    *    broadcast nest-loop join and the top-nProbe cut is the bounded
    *    [[graft.functions.TopCells]] aggregate, whose map-side partials
    *    hold at most nProbe entries — the nCells-fold expansion dies in
    *    the same stage it is born, and the exchange carries one row per
    *    vector. The probe map then joins back to `vecs` by vec_id.
    * Both strategies use the same 6-dp rounding and tie-break, so they
    * produce IDENTICAL cell sets (spec-gated at nCells = 512). */
  private[graft] def withProbeCells(vecs: DataFrame, cents: DataFrame,
                                    nProbe: Int,
                                    literalMax: Int = LiteralProbeMaxCells,
                                    nCellsHint: Long = -1L): DataFrame = {
    val cbook = cents.select(col("cell_id").cast("long").as("cell_id"),
      col("centroid"))
    // callers that know nCells statically pass it — counting an
    // UNCACHED centroid derivation here would execute it once for the
    // strategy decision and again for the collect/broadcast
    val nCells = if (nCellsHint >= 0) nCellsHint else cbook.count()
    if (nCells <= literalMax) {
      val codebook = cbook.collect().map { r =>
        (r.getLong(0), r.getSeq[Float](1).toArray)
      }
      if (codebook.isEmpty) return vecs.withColumn("cell_id", lit(0L)).limit(0)
      val cellScores = array(codebook.map { case (cid, vec) =>
        struct((-round(cosineSim(col("embedding"), typedlit(vec)), 6)).as("nsim"),
          lit(cid).as("cell_id"))
      }.toIndexedSeq: _*)
      val topCells = transform(
        slice(sort_array(cellScores), 1, nProbe), e => e.getField("cell_id"))
      vecs.withColumn("cell_id", explode(topCells))
    } else {
      val probeMap = vecs.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cbook.select(col("cell_id").as("__pc_cell"),
          col("centroid").as("__pc_centroid"))))
        .select(col("vec_id"),
          round(cosineSim(col("embedding"), col("__pc_centroid")), 6).as("__pc_sim"),
          col("__pc_cell"))
        .groupBy(col("vec_id"))
        .agg(graft.functions.TopCells.topCells(
          col("__pc_sim"), col("__pc_cell"), nProbe).as("__pc_cells"))
        .select(col("vec_id"), explode(col("__pc_cells")).as("cell_id"))
      vecs.join(probeMap, "vec_id")
    }
  }

  /** IVF search: probe the query's nProbe nearest cells only.
    * `trainIters > 0` refines the seed centroids with k-means first.
    * `quantized = true` scores probed candidates with the fused int8
    * kernel ([[graft.functions.CosineSimQ8]]) and re-ranks a
    * `rescore`-deep shortlist at full precision — the IVF-int8 layout:
    * at 100 TB the probed cells are read as int8 (4× fewer bytes) and
    * only the shortlist touches float vectors. With rescore ≫ k the
    * output equals the float path exactly (spec-asserted).
    *
    * Scaling rule for `nCells`: it is the key space of the cell-keyed
    * candidate join, so it must GROW with the corpus — size it so one
    * cell's vectors fit a target partition (nCells ≈ corpus_vectors ×
    * bytes_per_candidate / target_partition_bytes; with the int8 index
    * a 128-dim candidate is ~140 B, so ~1M vectors per cell at 128 MB
    * partitions). Per-query probe work is then nProbe × corpus/nCells
    * regardless of corpus size. The fixture's nCells = 16 is fixture
    * granularity, not the rule. Hot cells (a skewed codebook) are a
    * join-skew problem, handled by AQE skew-join exactly as q65
    * demonstrates — not by this operator. */
  /** The nProbe nearest cells per query — the query side of every IVF
    * search: (query_id, q_embedding, cell_id) with one row per probed
    * cell. The centroid frame broadcasts; the rank window partitions by
    * query, so its state is nCells rows per query, never corpus-sized. */
  private def queryProbes(queries: DataFrame, cents: DataFrame,
                          nProbe: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cell_id"))
    queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("q_embedding"), col("cell_id"),
        round(cosineSim(col("q_embedding"), col("centroid")), 6).as("sim"))
      .withColumn("rnk", row_number().over(wq))
      .filter(col("rnk") <= nProbe)
      .select(col("query_id"), col("q_embedding"), col("cell_id"))
  }

  /** Filtered ANN: top-k by cosine among corpus vectors that satisfy a
    * METADATA predicate — "nearest docs with label ∈ L / licence =
    * permissive / date > cutoff", the serving-shape every production
    * vector store exposes alongside plain search.
    *
    * The assignment is built on the FULL corpus (one index serves every
    * predicate — rebuilding per filter is the anti-pattern), metadata
    * columns ride through it, and the predicate applies to the
    * candidate rows BEFORE scoring: at 100 TB the assignment is the
    * cell-partitioned index table carrying its metadata columns, so the
    * predicate is a plain pushed-down row filter on the probed cells'
    * scan — candidate bytes shrink by the filter's selectivity and no
    * similarity is computed for rows the filter rejects. (Post-filtering
    * RESULTS instead would pay full scoring and then starve k on
    * selective filters.) The known filtered-ANN recall caveat applies
    * as to any IVF engine: a highly selective predicate can empty the
    * probed cells; the mitigation is raising nProbe with selectivity,
    * which composes here as a parameter, not a redesign.
    *
    * `corpus0` carries (vec_id, embedding, + metadata columns the
    * predicate references); the assignment path keeps them (it is
    * [[withProbeCells]] at nProbe = 1, which tags rows rather than
    * re-projecting them — identical cell choice to [[ivfAssign]],
    * spec-certified). */
  def ivfFilteredTopK(corpus0: DataFrame, queries0: DataFrame, pred: Column,
                      k: Int, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val corpus = cleanVectors(corpus0)
    val queries = cleanQueries(queries0)
    val cents = centroids(corpus.select(col("vec_id"), col("embedding")), nCells)
    val assigned = withProbeCells(corpus, cents, nProbe = 1,
      nCellsHint = nCells.toLong)
    val candidates = assigned.filter(pred)
    rankTopK(
      queryProbes(queries, cents, nProbe).join(candidates, "cell_id")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(cosineSim(col("embedding"), col("q_embedding")), 6).as("cos_sim")),
      k)
  }

  def ivfTopK(corpus0: DataFrame, queries0: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, trainIters: Int = 0,
              quantized: Boolean = false, rescore: Int = 32): DataFrame = {
    // degenerate vectors out FIRST: they can't assign, probe, or score,
    // and downstream (rescoredTopK) relies on NaN-free q_sim
    val corpus = cleanVectors(corpus0)
    val queries = cleanQueries(queries0)
    // nCells rows: the broadcast() at each use site is the right
    // distribution mechanism, a storage-level cache adds nothing
    val cents =
      if (trainIters > 0) kmeansCentroids(corpus, nCells, trainIters)
      else centroids(corpus, nCells)
    val assigned = ivfAssign(corpus, cents)
    val probes = queryProbes(queries, cents, nProbe)
    if (!quantized) {
      // score only vectors in probed cells (NaN guard inside rankTopK)
      rankTopK(
        probes.join(assigned, "cell_id")
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            round(cosineSim(col("embedding"), col("q_embedding")), 6).as("cos_sim")),
        k)
    } else {
      // IVF-int8 layout: the probe join carries ONLY the quantized
      // columns (vec_id, cell_id, q8, q_scale — the materialized index
      // at 100 TB, 4× fewer candidate bytes than float32); float
      // vectors are touched only for the rescore-deep shortlist
      val assignedQ8 = withQ8(assigned)
        .select(col("vec_id"), col("cell_id"), col("q8"), col("q_scale"))
      rescoredTopK(
        probes.join(assignedQ8, "cell_id")
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            graft.functions.CosineSimQ8.cosineSimQ8(
              col("q_embedding"), col("q8"), col("q_scale")).as("q_sim")),
        queries, corpus, k, rescore)
    }
  }

  /** Adds symmetric int8 quantization columns (`q_scale`, `q8`) to a
    * frame with an `embedding` column: per-vector scale = max|x|/127,
    * q8[i] = round(x[i]/scale). Candidate storage shrinks 4× (int8 vs
    * float32) — at 100 TB that is the difference between an in-memory
    * and a spilling candidate scan. One fused codegen'd pass
    * ([[graft.functions.QuantizeQ8]]) — the HOF formulation this
    * replaces was `CodegenFallback` and de-codegen'd the whole
    * index-build projection, which runs once per corpus row. Zero
    * vectors quantize to all-zero bytes with scale 0. */
  def withQ8(df: DataFrame): DataFrame =
    df
      .withColumn("_qz", graft.functions.QuantizeQ8.quantizeQ8(col("embedding")))
      .withColumn("q_scale", col("_qz.q_scale"))
      .withColumn("q8", col("_qz.q8"))
      .drop("_qz")

  /** The quantized corpus projection: (vec_id, q_scale, q8). */
  def quantize(corpus: DataFrame): DataFrame =
    withQ8(corpus).select(col("vec_id"), col("q_scale"), col("q8"))

  /** Per-group centroid outliers — embedding-space quality filtering
    * (the SemDeDup-adjacent curation step: d10 removes near-DUPLICATES,
    * this surfaces near-NOISE): each labeled group's k members FARTHEST
    * from the group's mean embedding, by ascending 6-dp-rounded cosine
    * with vec_id tie-break. The centroid derivation is s06's certified
    * rule (per-dimension `round(avg, 6)` stored as float — summation
    * order can't leak), so the whole pipeline keeps a SQL oracle (s09).
    *
    * Scale shape: the mean aggregate combines map-side (posexplode
    * expands ×dims but partials fold before the exchange), the
    * centroid join broadcasts (|labels| rows), and the per-group rank
    * shuffles only (label, vec_id, cos_sim) rows ~20 B wide — never a
    * vector — with WindowGroupLimit cutting to k before the final
    * sort. Expects (vec_id, embedding, label); degenerate vectors are
    * dropped, not ranked (their cosine is NaN to everything). */
  def centroidOutliers(emb: DataFrame, k: Int): DataFrame = {
    val e = cleanVectors(emb)
    val cents = e
      .select(col("label"), posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col")), 6).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label"),
        transform(col("pm"), x => x.getField("m").cast("float")).as("centroid"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cos_sim").asc, col("vec_id"))
    e.join(broadcast(cents), "label")
      .select(col("label"), col("vec_id"),
        round(cosineSim(col("embedding"), col("centroid")), 6).as("cos_sim"))
      .filter(!isnan(col("cos_sim")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Materialize the IVF-int8 index on disk — the serving layout the
    * header sentence promises ("at 100 TB the assignment is a
    * materialized, cell-partitioned table and probing is partition
    * pruning"). Two parquet trees under `indexDir`:
    *
    *  - `codebook/` — the nCells trained centroids (tiny; every probe
    *    broadcasts it),
    *  - `cells/` — the corpus as (vec_id, q8, q_scale) PARTITIONED BY
    *    cell_id: a probe reads nProbe of nCells directories via static
    *    partition pruning, and each candidate row is the ~4×-compressed
    *    int8 code, never the float vector.
    *
    * Build cost is one trainer run ([[kmeansCentroids]]) + one
    * assign-quantize pass over the corpus — paid ONCE, amortized over
    * every subsequent probe batch, which is the point: [[ivfTopK]]
    * re-derives codebook and assignment inside every query, the right
    * shape for one-shot analytics but not for serving. Float vectors
    * deliberately stay OUT of the index: the rescore tail re-joins the
    * source corpus by id, so index bytes stay 4× down and the source
    * table remains the single float authority (no second copy to keep
    * consistent). Training determinism is s06's certified regime, so an
    * index-backed query keeps a full SQL oracle (s08). */
  /** Directories whose layout a [[guardIvfIndex]] call already
    * validated this JVM: the schema-resolution cost (directory listing
    * + footer reads per call — NOT free, each `spark.read` builds its
    * own FileIndex) is paid once per (JVM, dir), which matters on hot
    * maintenance loops like st21's per-micro-batch append+probe.
    * Appends and [[rebuildIfSkewed]] swaps preserve layout validity,
    * so a validated dir stays validated; a dir replaced with foreign
    * content mid-JVM is outside the supported lifecycle (the guard
    * still catches it in every OTHER JVM that opens it). */
  private val guardedIndexDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Observed-vs-expected guard for a [[buildIvfIndex]] layout, run at
    * open time by every index consumer: a half-written build (crash
    * between codebook and cells), a foreign directory, or a layout from
    * a different engine version fails HERE with one report naming every
    * deviation — not as a missing-column resolution error in the middle
    * of a probe plan. Validated once per (JVM, dir) — see
    * [[guardedIndexDirs]]. */
  private[graft] def guardIvfIndex(spark: SparkSession, indexDir: String): Unit = {
    // swap recovery always runs — it is one fs.exists when the dir is
    // healthy, and a crashed swap can strand a dir the cache already
    // validated; only the schema resolution is amortized
    recoverIvfSwap(indexDir)
    if (guardedIndexDirs.contains(indexDir)) return
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def schemaOf(dir: String): Option[org.apache.spark.sql.types.StructType] =
      try Some(spark.read.parquet(dir).schema)
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    def check(part: String, required: Seq[String]): Unit =
      schemaOf(s"$indexDir/$part") match {
        case None =>
          problems += s"$part/ is missing or holds no readable parquet"
        case Some(sch) =>
          val have = sch.fieldNames.map(_.toLowerCase).toSet
          val missing = required.filterNot(have.contains)
          if (missing.nonEmpty)
            problems += s"$part/ lacks column(s) ${missing.mkString(", ")} " +
              s"(observed: ${sch.fieldNames.mkString(", ")})"
      }
    check("codebook", Seq("cell_id", "centroid"))
    check("cells", Seq("cell_id", "vec_id", "q8", "q_scale"))
    if (problems.nonEmpty)
      throw new IllegalStateException(
        s"$indexDir is not a buildIvfIndex layout:\n  - " +
          problems.mkString("\n  - ") +
          "\n  half-written build, foreign directory, or layout drift — " +
          "rebuild the index before serving from it")
    guardedIndexDirs.add(indexDir): Unit
  }

  /** Cell-occupancy skew of a persisted index: max cell population over
    * the MEAN population across the codebook's nCells — the one-job
    * (`count by cell_id` columnar scan, no float reads) monitor
    * [[appendToIvfIndex]]'s codebook-drift note calls for. 1.0 is
    * perfectly balanced; appended mass the trainer never saw piles into
    * few cells and drives it up, degrading probe pruning (a probe of a
    * hot cell scans a corpus-sized fraction). Empty trained cells count
    * in the denominator deliberately: an index whose mass collapsed
    * into 2 of 64 cells IS skewed even if those two are equal. */
  def indexCellSkew(spark: SparkSession, indexDir: String): Double = {
    guardIvfIndex(spark, indexDir)
    val nCells = spark.read.parquet(s"$indexDir/codebook").count()
    val stat = spark.read.parquet(s"$indexDir/cells")
      .groupBy(col("cell_id")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")), sum(col("n"))).head()
    if (stat.isNullAt(1) || stat.getLong(1) == 0L || nCells == 0L) 1.0
    else stat.getLong(0).toDouble / (stat.getLong(1).toDouble / nCells)
  }

  /** The rebuild trigger the append path's drift trade defers to:
    * when [[indexCellSkew]] exceeds `maxSkew`, re-train on the CURRENT
    * corpus (the caller supplies floats — the index stores int8 codes)
    * and swap the layout in place via a staging build + directory
    * rename, so a crash mid-rebuild leaves either the old or the new
    * committed layout, never a torn one. Returns true iff a rebuild
    * ran. Single-writer maintenance op, like compaction/purge: run it
    * from the index's maintenance schedule, not concurrently with
    * appends. maxSkew ~4 tolerates organic imbalance (hash-partition
    * folklore: max/mean of a few is normal) while catching drift that
    * defeats probe pruning. */
  def rebuildIfSkewed(corpus: DataFrame, indexDir: String,
                      maxSkew: Double = 4.0,
                      nCells: Int = 16, trainIters: Int = 2): Boolean = {
    val spark = corpus.sparkSession
    val skew = indexCellSkew(spark, indexDir)
    val (fs, _) = graft.streaming.DedupStore.fsRoot(indexDir)
    val staging = s"$indexDir.rebuild"
    val stagingP = new org.apache.hadoop.fs.Path(staging)
    if (skew <= maxSkew) {
      // a crashed run from before its first rename may have left a
      // complete-but-STALE staging build (appends continued into the
      // live index since); reclaim it here so it can neither leak disk
      // nor ever be mistaken for a recoverable swap
      if (fs.exists(stagingP)) fs.delete(stagingP, true): Unit
      false
    } else {
      buildIvfIndex(corpus, staging, nCells, trainIters)
      val cur = new org.apache.hadoop.fs.Path(indexDir)
      val old = new org.apache.hadoop.fs.Path(s"$indexDir.old")
      if (fs.exists(old)) fs.delete(old, true): Unit
      // two renames can't be jointly atomic: a crash between them
      // leaves indexDir absent with BOTH neighbors present — the state
      // [[recoverIvfSwap]] repairs on the next open. Readers must not
      // race the swap: this is a stop-the-world maintenance op like
      // compaction/purge.
      if (!fs.rename(cur, old))
        throw new java.io.IOException(
          s"index swap failed at $indexDir: could not move the live " +
            s"layout aside — it is STILL INTACT at $indexDir and the " +
            s"rebuilt layout at $staging is unused; nothing to recover")
      if (!fs.rename(stagingP, cur))
        throw new java.io.IOException(
          s"index swap failed at $indexDir mid-way — recoverable: the " +
            s"previous layout is at $old, the rebuilt one at $staging; " +
            "the next open completes the swap")
      fs.delete(old, true): Unit
      true
    }
  }

  /** Complete a [[rebuildIfSkewed]] swap a crash left half-done. The
    * ONLY state the swap can crash into with the index dir ABSENT is
    * between its two renames — `.old` (just moved aside) and
    * `.rebuild` (fully built before any rename runs) both present —
    * and there the rebuilt layout is current, so promote it. `.old`
    * alone means the second rename ran and a later crash lost `cur`
    * out-of-band: roll back. `.rebuild` ALONE next to a missing dir is
    * NOT a swap crash (the first rename leaves `.old` behind) — it is
    * a stale leftover beside an index that was removed out-of-band,
    * and promoting it would silently resurrect a pre-append snapshot;
    * refuse loudly instead. Idempotent and called from every
    * consumer's open-time guard. */
  private def recoverIvfSwap(indexDir: String): Unit = {
    val (fs, _) = graft.streaming.DedupStore.fsRoot(indexDir)
    val cur = new org.apache.hadoop.fs.Path(indexDir)
    if (!fs.exists(cur)) {
      val staged = new org.apache.hadoop.fs.Path(s"$indexDir.rebuild")
      val old = new org.apache.hadoop.fs.Path(s"$indexDir.old")
      (fs.exists(staged), fs.exists(old)) match {
        case (true, true) =>
          if (!fs.rename(staged, cur))
            throw new java.io.IOException(
              s"could not promote $staged to $indexDir to finish a crashed swap")
          fs.delete(old, true): Unit
        case (false, true) =>
          if (!fs.rename(old, cur))
            throw new java.io.IOException(
              s"could not roll $old back to $indexDir after a crashed swap")
        case (true, false) =>
          throw new IllegalStateException(
            s"$indexDir is absent but a staging build exists at $staged " +
              "WITHOUT a .old sibling — that is not a crashed swap (the " +
              "swap moves the live layout to .old first); the index was " +
              "removed out-of-band and the staging build may predate " +
              "appends. Rebuild the index (or promote the staging dir " +
              "manually if it is known-current) instead of silently " +
              "serving a stale snapshot")
        case (false, false) => () // plain missing dir: the guard reports it
      }
    }
  }

  def buildIvfIndex(corpus0: DataFrame, indexDir: String,
                    nCells: Int = 16, trainIters: Int = 2): Unit = {
    val corpus = cleanVectors(corpus0)
    val cents =
      if (trainIters > 0) kmeansCentroids(corpus, nCells, trainIters)
      else centroids(corpus, nCells)
    // cell_id pinned to INT on both trees: partition-column type
    // inference reads the cells/ directory values back as int, so an
    // int codebook keeps the probe's isin prune and the candidate join
    // cast-free
    cents.select(col("cell_id").cast("int").as("cell_id"), col("centroid"))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebook")
    withQ8(ivfAssign(corpus, cents))
      .select(col("cell_id").cast("int").as("cell_id"),
        col("vec_id"), col("q8"), col("q_scale"))
      .write.mode("overwrite").partitionBy("cell_id")
      .parquet(s"$indexDir/cells")
  }

  /** Incremental index maintenance: assign + quantize NEW vectors
    * against a [[buildIvfIndex]] layout's EXISTING codebook and append
    * their int8 codes to the cell directories — no retrain, no rewrite
    * of existing codes, cost ∝ the batch. This is how IVF deployments
    * actually grow (FAISS `add`, Milvus insert): the codebook is a
    * trained artifact refreshed on rebuild cadence, while arrivals
    * stream in continuously. Probes see appended vectors immediately
    * (the cell scan just reads more files in the probed directories).
    * The trade is codebook drift: appended mass the trainer never saw
    * can unbalance cells over time — rebuild cadence owns that, and
    * cell-size monitoring is one `count by cell_id` over the layout. */
  def appendToIvfIndex(indexDir: String, newVectors0: DataFrame): Unit = {
    val spark = newVectors0.sparkSession
    guardIvfIndex(spark, indexDir)
    val newVectors = cleanVectors(newVectors0)
    val cents = spark.read.parquet(s"$indexDir/codebook")
      .select(col("cell_id").cast("long").as("cell_id"), col("centroid"))
    withQ8(ivfAssign(newVectors, cents))
      .select(col("cell_id").cast("int").as("cell_id"),
        col("vec_id"), col("q8"), col("q_scale"))
      .write.mode("append").partitionBy("cell_id")
      .parquet(s"$indexDir/cells")
  }

  /** Targeted delete from a [[buildIvfIndex]] layout — the missing leg
    * of index CRUD (build / append / DELETE / probe): remove `victimIds`
    * by rewriting ONLY the cell partitions that contain them (q64's
    * pruned-partition rewrite applied to the index layout); untouched
    * cells keep their files byte-for-byte, probes see the removal
    * immediately, and the codebook is untouched (deletion never
    * retrains — rebuild cadence owns codebook refresh, exactly as for
    * append drift). No tombstones: an index is DERIVED data whose
    * source of truth is the corpus table, so a deleted id cannot
    * "resurrect" except by an explicit re-append, which is a
    * legitimate re-add. `victimIds` is a bounded external list (the
    * [[graft.streaming.DedupStore.purge]] contract): takedowns are
    * thousands, not millions — corpus-scale removal is a rebuild. */
  def deleteFromIvfIndex(indexDir: String, victimIds: Seq[Long]): Unit = {
    val spark = SparkSession.active
    guardIvfIndex(spark, indexDir)
    require(victimIds.size <= 1000000,
      s"deleteFromIvfIndex takes a bounded takedown list (got " +
        s"${victimIds.size} ids, hard cap 1000000) — removing a " +
        "corpus-scale id set is a rebuild, not a delete")
    if (victimIds.isEmpty) return
    val victims = spark.createDataset(victimIds.distinct)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("vec_id")
    val cells = spark.read.parquet(s"$indexDir/cells")
    // discovery: victim buckets only — the broadcast semi-join touches
    // |victims| rows' cells, the collect is ≤ nCells ints
    val affected = cells.join(broadcast(victims), "vec_id")
      .select(col("cell_id")).distinct().collect().map(_.getInt(0)).toSeq
    if (affected.isEmpty) return
    val survivors = cells.filter(col("cell_id").isin(affected: _*))
      .join(broadcast(victims), Seq("vec_id"), "left_anti")
      .select(col("cell_id"), col("vec_id"), col("q8"), col("q_scale"))
    // collect surviving partitions BEFORE the rewrite (afterwards the
    // frame's file listing points at replaced files — q64's lesson),
    // then dynamic overwrite replaces only affected cell dirs and
    // fully-purged cells are deleted explicitly
    val survived = survivors.select(col("cell_id")).distinct()
      .collect().map(_.getInt(0)).toSet
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      survivors.write.mode("overwrite").partitionBy("cell_id")
        .parquet(s"$indexDir/cells")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val (fs, _) = graft.streaming.DedupStore.fsRoot(indexDir)
    (affected.toSet -- survived).foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$indexDir/cells/cell_id=$c"), true): Unit
    }
  }

  /** Probe a [[buildIvfIndex]] layout: identical semantics to
    * `ivfTopK(..., quantized = true)` with the SAME parameters the
    * index was built with, but the codebook and assignment come off
    * disk and the candidate scan reads ONLY the probed cells'
    * partition directories. The probed cell set is collected
    * driver-side (≤ |queries|·nProbe ids — queries are broadcast-
    * bounded on every top-k path here, so this is a bounded metadata
    * collect, the lookup()/codebook house pattern) and applied as an
    * `isin` filter on the partition column, so the pruning is STATIC —
    * visible as PartitionFilters in the scan, asserted in
    * DedupSimilaritySpec — rather than a runtime DPP gamble.
    * `corpus0` supplies the float vectors for the rescore tail
    * ([[rescoredTopK]]); with rescore ≫ k the result equals the float
    * path exactly (spec-asserted), which keeps the SQL oracle. */
  def ivfIndexTopK(indexDir: String, corpus0: DataFrame, queries0: DataFrame,
                   k: Int, nProbe: Int = 4, rescore: Int = 32): DataFrame = {
    val spark = corpus0.sparkSession
    guardIvfIndex(spark, indexDir)
    val corpus = cleanVectors(corpus0)
    val queries = cleanQueries(queries0)
    val cents = spark.read.parquet(s"$indexDir/codebook")
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cell_id"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("q_embedding"), col("cell_id"),
        round(cosineSim(col("q_embedding"), col("centroid")), 6).as("sim"))
      .withColumn("rnk", row_number().over(wq))
      .filter(col("rnk") <= nProbe)
      .select(col("query_id"), col("q_embedding"), col("cell_id"))
    val hitCells = probes.select(col("cell_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (hitCells.isEmpty) {
      return spark.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
          lit(0.0).as("cos_sim"), lit(0).as("rank"))
        .limit(0)
    }
    val cells = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell_id").isin(hitCells: _*))
    rescoredTopK(
      probes.join(cells, "cell_id")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.functions.CosineSimQ8.cosineSimQ8(
            col("q_embedding"), col("q8"), col("q_scale")).as("q_sim")),
      queries, corpus, k, rescore)
  }

  /** Near-dup pairs against a [[buildIvfIndex]] layout — the d05 shape
    * served off the PERSISTED index. The index supplies the two
    * expensive artifacts — the TRAINED codebook (no re-train) and the
    * per-vector int8 codes (no re-quantize); only the multi-probe
    * blocking map (each vector → its `nProbe` nearest cells, via
    * [[withProbeCells]] — literal codegen'd argmax at this fixture's
    * 16 cells, broadcast-join + bounded top-n past
    * [[LiteralProbeMaxCells]]) is derived in-query,
    * as any IVF sweep must, because a recall-holding pair rule needs
    * BOTH endpoints multi-probed: pair (a,b) is a candidate iff their
    * nProbe-cell sets intersect — the same symmetric rule as
    * [[ivfNearDupPairs]]. (The asymmetric alternative — join probes
    * against the index's single stored cell — tops out at recall 0.993
    * on this corpus even at nProbe 12, because noise-floor pairs exist
    * whose top-1 cells fall outside each other's probe lists.)
    * Candidates pay the fused int8 prefilter BEFORE the distinct, then
    * the exact-cosine verify; with recall 1 at the shipped operating
    * point (spec-gated at every driver-hashed sf) the output IS the
    * brute pair set and the all-pairs DuckDB oracle carries over
    * unchanged. */
  def ivfIndexNearDupPairs(indexDir: String, corpus0: DataFrame,
                           threshold: Double, nProbe: Int = 6,
                           prefilterMargin: Double = 0.02): DataFrame = {
    val spark = corpus0.sparkSession
    guardIvfIndex(spark, indexDir)
    val clean = cleanVectors(corpus0)
    val cents = spark.read.parquet(s"$indexDir/codebook")
    val probes = withProbeCells(
      clean.select(col("vec_id"), col("embedding")), cents, nProbe)
    // side B carries the INDEX's int8 code, joined by id (4× fewer bytes
    // than re-quantizing the float column; one hash join on vec_id)
    val codes = spark.read.parquet(s"$indexDir/cells")
      .select(col("vec_id"), col("q8"), col("q_scale"))
    val a = probes.select(col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("cell_id"))
    val b = probes.select(col("vec_id").as("id_b"), col("cell_id"))
      .join(codes.select(col("vec_id").as("id_b"),
        col("q8").as("q8_b"), col("q_scale").as("scale_b")), "id_b")
    val cands = a.join(b, "cell_id")
      .filter(col("id_a") < col("id_b"))
      // int8 prefilter in the join's output stage (the ivfNearDupPairs
      // rule): candidates die before the distinct/verify shuffles
      .filter(graft.functions.CosineSimQ8.cosineSimQ8(
        col("emb_a"), col("q8_b"), col("scale_b")) >= threshold - prefilterMargin)
      .select("id_a", "id_b").distinct()
    val embA = clean.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val embB = clean.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    cands.join(embA, "id_a").join(embB, "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosineSim(col("emb_a"), col("emb_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** SemDeDup served off the PERSISTED index: the cluster assignment is
    * READ from [[buildIvfIndex]]'s cell-partitioned layout (vec_id →
    * cell_id — a two-column columnar scan, no re-train, no re-assign),
    * floats re-join from the source corpus, and the intra-cluster
    * dedup kernel is [[semanticDedupKept]]'s unchanged. Clusters are
    * therefore the TRAINED codebook's — the clustering a deployment
    * actually materializes — and the oracle derives them with the s06/
    * s02-certified SQL k-means block. */
  def semanticDedupKeptFromIndex(indexDir: String, corpus0: DataFrame,
                                 threshold: Double): DataFrame = {
    val spark = corpus0.sparkSession
    guardIvfIndex(spark, indexDir)
    val corpus = cleanVectors(corpus0)
    val assigned = spark.read.parquet(s"$indexDir/cells")
      .select(col("vec_id"), col("cell_id").cast("long").as("cluster"))
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    val dropped = a.join(b, "cluster")
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosineSim(col("emb_a"), col("emb_b")), 6) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }

  /** Exact k-NN self-join: every vector gets its k nearest neighbors —
    * the all-pairs primitive under SemDeDup-style embedding curation
    * and cluster seeding. Ships the quantized-scan shape: the n² scan
    * reads int8 codes (4× fewer bytes than float32), and only a
    * rescore-deep shortlist per query touches float vectors; with
    * rescore ≫ k the result EQUALS brute force (the s03-verified
    * property, re-asserted for the self-join in its spec), which is
    * what lets the query keep a full DuckDB oracle.
    *
    * Scale note: the query side is the corpus itself, broadcast to the
    * scan — right up to ~10⁶ queries (a 64-dim float batch is 256 MB
    * at that point). Past that, batch the queries (iterate broadcast
    * slices) or accept approximate recall and block via [[ivfTopK]] —
    * shipped as s07_ivf_knn_join, whose candidates arrive through a
    * cell-keyed shuffle join with no query broadcast at all, and whose
    * oracle re-runs the IVF algorithm in SQL so recall < 1 can't break
    * it. On THIS data IVF self-kNN recall tops out at 0.87 even probing
    * 10/16 cells (neighbors sit at the similarity noise floor), which
    * is why the exact scan stays the default for broadcastable
    * batches. */
  def knnJoin(corpus: DataFrame, k: Int, rescore: Int = 32): DataFrame =
    quantizedTopK(corpus,
      corpus.select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding")),
      k, rescore)

  /** Quantized search with exact rescoring: score the int8 corpus with
    * the fused [[graft.functions.CosineSimQ8]] kernel, keep a
    * `rescore`-deep shortlist per query, then re-rank the shortlist
    * with full-precision cosine. With rescore ≫ k the output matches
    * brute-force exactly on realistic data (int8 ranking error is far
    * smaller than neighbor gaps) while the scan reads 4× fewer bytes. */
  def quantizedTopK(corpus0: DataFrame, queries0: DataFrame, k: Int,
                    rescore: Int = 32): DataFrame = {
    // degenerate vectors out FIRST — rescoredTopK needs NaN-free q_sim
    val corpus = cleanVectors(corpus0)
    val queries = cleanQueries(queries0)
    rescoredTopK(
      spread(quantize(corpus)).crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.functions.CosineSimQ8.cosineSimQ8(
            col("q_embedding"), col("q8"), col("q_scale")).as("q_sim")),
      queries, corpus, k, rescore)
  }

  /** Embedding near-dup pairs via IVF-cell blocking + int8 prefilter —
    * the shipped d05 path for LOW thresholds, where SRP-LSH banding
    * cannot hold recall (at cos 0.45 the per-hyperplane agreement
    * probability is 0.65, so a 16-bit band collides with p ≈ 0.001 and
    * the band count needed for recall 0.8 is ~1,600 — infeasible; see
    * [[srpNearDupPairs]] for the operating-point math).
    *
    * Pipeline, all equality joins (no cartesian at any scale):
    *  1. seed centroids ([[centroids]]) collected as the codebook — the
    *     standard IVF materialization (nCells · dim floats, broadcast
    *     -sized);
    *  2. every vector maps to its `nProbe` nearest cells, computed
    *     per-row against codebook literals (codegen'd [[cosineSim]],
    *     zero shuffle — no window, no crossJoin);
    *  3. self-join on cell_id generates candidates; each candidate is
    *     scored IMMEDIATELY with the fused int8 kernel
    *     ([[graft.functions.CosineSimQ8]]) and cut at
    *     `threshold − prefilterMargin` BEFORE the distinct — the
    *     survivors (not the candidates) pay the dedup shuffle and the
    *     full-precision verify joins. Measured int8 error on 64-dim data
    *     is ≤ 0.006, so the default 0.02 margin loses nothing;
    *  4. exact-cosine verify ≥ threshold on the surviving pairs.
    *
    * Honest scale note: a threshold at the corpus' similarity noise
    * floor (cos 0.45 on near-uniform data, background reaching 0.449)
    * makes ANY candidate generator scan a constant fraction of all
    * pairs to hold recall 0.8 — measured 72% for this blocking, and the
    * equivalent holds for LSH banding. The scale lever here is the cost
    * PER candidate: candidates are (id, id, 64-byte q8) rows scored in
    * one codegen'd stage and cut by ~10³ before any shuffle. For real
    * near-dup thresholds (cos ≥ 0.8) prefer [[srpNearDupPairs]], whose
    * 16-bit bands prune combinatorially. Recall is gated in
    * DedupSimilaritySpec against [[nearDupPairs]]; `maxBucket > 0` caps
    * degenerate cells (recall trade, logged nowhere better than the
    * count it changes — keep 0 unless cells skew).
    *
    * The cleaned corpus (read by the codebook, the assignment and both
    * verify joins) and the cell assignment (read by both self-join
    * sides) are each materialized once (`localCheckpoint`). */
  def ivfNearDupPairs(corpus: DataFrame, threshold: Double,
                      nCells: Int = 16, nProbe: Int = 4,
                      prefilterMargin: Double = 0.02,
                      maxBucket: Int = 0): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, s"need 1 <= nProbe ($nProbe) <= nCells ($nCells)")
    val clean = cleanVectors(corpus).localCheckpoint(eager = false)
    // codebook: deterministic seed centroids, kept as a frame —
    // withProbeCells decides whether to localize it into literals
    // (small nCells) or broadcast-join it (large nCells)
    val cents = centroids(clean, nCells)
    // one map-side pass: quantize + multi-probe cell assignment
    val assigned = Dedup.capBuckets(
      withProbeCells(withQ8(clean)
        .select(col("vec_id"), col("embedding"), col("q_scale"), col("q8")),
        cents, nProbe, nCellsHint = nCells.toLong),
      Seq("cell_id"), maxBucket).localCheckpoint(eager = false)
    val a = assigned.select(col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("cell_id"))
    val b = assigned.select(col("vec_id").as("id_b"),
      col("q8").as("q8_b"), col("q_scale").as("scale_b"), col("cell_id"))
    val cands = a.join(b, "cell_id")
      .filter(col("id_a") < col("id_b"))
      // int8 prefilter in the join's output stage: kills ~99.9% of
      // candidates before the distinct/verify shuffles see them
      .filter(graft.functions.CosineSimQ8.cosineSimQ8(
        col("emb_a"), col("q8_b"), col("scale_b")) >= threshold - prefilterMargin)
      .select("id_a", "id_b").distinct()
    val embA = clean.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val embB = clean.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    cands.join(embA, "id_a").join(embB, "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosineSim(col("emb_a"), col("emb_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** All-pairs cosine ≥ threshold — embedding near-dup detection, brute
    * variant. O(|corpus|²): the small-sf correctness baseline that the
    * recall spec measures [[srpNearDupPairs]] against — NOT the shipped
    * query path (d05 ships the LSH-banded form). */
  def nearDupPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = corpus.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosineSim(col("emb_a"), col("emb_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Embedding near-dup pairs via sign-random-projection LSH — the scale
    * path: candidates come from equality joins on signature bands, never
    * a cartesian product.
    *
    * Pipeline: [[graft.functions.SrpSig]] signature (`nWords` × 64 bits)
    * → explode into `nWords · (64/bandBits)` bands keyed by a
    * `bandBits`-bit slice → self-join on (band, key) with optional
    * bucket capping → distinct candidate pairs → exact-cosine verify ≥
    * `threshold`.
    *
    * Operating point: per-band collision probability for a pair at angle
    * θ is (1 − θ/π)^bandBits, so WIDER bands (16+ bits) suit real
    * near-dup thresholds (cos ≥ 0.85 → recall ≥ 0.99 with a few bands)
    * and give 2^bandBits-value band keys that keep bucket sizes ~n/2^16
    * at corpus scale; NARROW bands raise recall at low thresholds but
    * shrink the key space — at a low threshold the similarity graph
    * itself is dense and any candidate generator converges to the pair
    * count, which is an output property, not an algorithmic defect.
    * `maxBucket > 0` drops band buckets larger than the cap before the
    * self-join, bounding per-bucket work at cap² — the standard guard
    * against degenerate dense regions at 100 TB.
    *
    * Recall is probabilistic (gated in DedupSimilaritySpec against
    * [[nearDupPairs]]); output is deterministic for a fixed corpus and
    * parameterization. The input (read by the signatures and both verify
    * joins) and the capped bands (read by both self-join sides) are each
    * materialized once (`localCheckpoint`).
    *
    * Defaults (8 words × 4 bands = 32 bands of 16-bit keys) target real
    * near-dup thresholds: recall ≈ 0.999 at cos 0.95, 0.94 at 0.9, and
    * band buckets stay ~n/2^16 — no caller gets a degenerate (sub-2^16)
    * keyspace without asking for it. For thresholds at the similarity
    * noise floor use [[ivfNearDupPairs]] instead. */
  def srpNearDupPairs(corpus0: DataFrame, threshold: Double,
                      nWords: Int = 8, bandBits: Int = 16,
                      maxBucket: Int = 0): DataFrame = {
    require(bandBits >= 1 && bandBits <= 64, s"bandBits $bandBits out of range")
    val bandsPerWord = 64 / bandBits
    val bands = nWords * bandsPerWord
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val corpus = corpus0.select(col("vec_id"), col("embedding"))
      .localCheckpoint(eager = false)
    // Degenerate-vector guard (the blowup minhashCandidates filters for
    // empty shingle sets): empty or all-zero embeddings share one
    // signature and would collide in EVERY band.
    val clean = cleanVectors(corpus)
    val sig = clean.select(col("vec_id"),
      graft.functions.SrpSig.srpSig(col("embedding"), nWords).as("sig"))
    val bandStructs = array((0 until bands).map { b =>
      val word = b / bandsPerWord
      val shift = (b % bandsPerWord) * bandBits
      struct(lit(b).as("band"),
        shiftrightunsigned(element_at(col("sig"), word + 1), shift)
          .bitwiseAND(lit(mask)).as("key"))
    }: _*)
    val banded = sig.select(col("vec_id"), explode(bandStructs).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val capped = Dedup.capBuckets(banded, Seq("band", "key"), maxBucket)
      .localCheckpoint(eager = false)
    val a = capped.select(col("vec_id").as("id_a"), col("band"), col("key"))
    val b = capped.select(col("vec_id").as("id_b"), col("band"), col("key"))
    val cands = a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // verify joins are linear hash joins on vec_id (shuffle-bounded)
    val embA = corpus.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val embB = corpus.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    cands.join(embA, "id_a").join(embB, "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosineSim(col("emb_a"), col("emb_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * cluster the embedding space coarsely, then deduplicate ONLY within
    * clusters — pairwise cosine never crosses a cluster boundary, so
    * the quadratic kernel runs on n/k-sized blocks instead of the
    * corpus. Deterministic variant: seed centroids ([[centroids]]),
    * 6-dp-rounded assignment with id tie-breaks, and the keep rule
    * "drop a vector iff a SMALLER-id vector in its cluster is
    * ≥ threshold similar" — every choice reproducible in SQL, which is
    * what makes this (unlike most ANN dedup) fully DuckDB-oracle-able.
    *
    * Returns the KEPT vectors as (vec_id, cluster). At 100 TB: the
    * assignment is one broadcast-argmax map pass; the intra-cluster
    * self-join shuffles on cluster id, so work is Σ|cluster|² — bounded
    * by making nCells track corpus size (SemDeDup uses k ≈ √n·c), with
    * [[Dedup.capBuckets]] as the degenerate-cluster guard.
    *
    * The cleaned corpus (read by the centroids and the assignment) and
    * the assignment (read by both sides of the pair self-join and the
    * kept anti-join) are each materialized once (`localCheckpoint`). */
  def semanticDedupKept(corpus0: DataFrame, threshold: Double,
                        nCells: Int): DataFrame = {
    val corpus = cleanVectors(corpus0).localCheckpoint(eager = false)
    val assigned = ivfAssign(corpus, centroids(corpus, nCells))
      .select(col("vec_id"), col("embedding"), col("cell_id").as("cluster"))
      .localCheckpoint(eager = false)
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    val dropped = a.join(b, "cluster")
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosineSim(col("emb_a"), col("emb_b")), 6) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }
}
