package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** Accuracy invariants for the hash-seeded (non-oracle) operators:
  * MinHash-LSH and SimHash near-dup recall against exact-Jaccard ground
  * truth, IVF-ANN recall against brute force. sf0.001 documents contain
  * genuine near-duplicates (shared-prefix pairs with bigram Jaccard ≥ 0.9). */
class DedupSimilaritySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.load(spark, sf, "documents").cache()

  /** Exact ground truth: prefix-blocked pairs with word-bigram Jaccard ≥ 0.9. */
  private lazy val truthPairs: Set[(Long, Long)] = {
    val grams = docs.select(
      col("doc_id"),
      substring(col("text"), 1, 50).as("pfx"),
      array_distinct(Dedup.wordNGrams(Dedup.words(col("text")), 2)).as("g"))
    val a = grams.select(col("doc_id").as("id_a"), col("pfx"), col("g").as("g_a"))
    val b = grams.select(col("doc_id").as("id_b"), col("pfx"), col("g").as("g_b"))
    a.join(b, "pfx").filter(col("id_a") < col("id_b"))
      .filter(Dedup.jaccard(col("g_a"), col("g_b")) >= 0.9)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash LSH finds the high-Jaccard near-dup pairs (recall ≥ 0.8)") {
    assert(truthPairs.nonEmpty, "fixture should contain near-dups")
    val found = Dedup.minhashNearDups(docs, "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truthPairs.count(found).toDouble / truthPairs.size
    assert(recall >= 0.8, s"recall $recall, truth=${truthPairs.size}, found=${found.size}")
    // precision guard: verified-jaccard filter means no wild pairs
    assert(found.size <= truthPairs.size * 4)
  }

  test("minhash LSH (shipped d03): EQUALS the exact trigram-Jaccard pair set") {
    // the regime behind d03's DuckDB oracle: fixed-seed signatures are
    // deterministic, and on this corpus every J >= 0.5 pair collides in
    // at least one band (pairs sit at J >= 0.9 where the per-pair
    // 4-band collision bound is >= 0.986 — measured COMPLETE at every
    // sf). If a seed/param/data change re-enters the probabilistic
    // regime, this equality is what fails.
    val found = Dedup.minhashNearDups(docs, "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val grams = docs.select(col("doc_id"),
      array_distinct(Dedup.wordNGrams(Dedup.words(col("text")), 3)).as("g"))
    val a = grams.select(col("doc_id").as("id_a"), col("g").as("g_a"))
    val b = grams.select(col("doc_id").as("id_b"), col("g").as("g_b"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(round(Dedup.jaccard(col("g_a"), col("g_b")), 6) >= 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == exact,
      s"missing=${exact -- found} extra=${found -- exact}")
  }

  test("simhash 4×16-bit banding is EXACT for its hamming ≤ 3 contract") {
    // Pigeonhole: 3 differing bits cannot touch all 4 bands, so every
    // ham ≤ 3 pair collides on ≥ 1 band — candidate recall is guaranteed,
    // not probabilistic. Verify against brute-force hamming ground truth.
    val fp = docs.select(col("doc_id"),
      graft.functions.SimHash.simhash(Dedup.words(col("text"))).as("fp"))
    val fa = fp.select(col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val fb = fp.select(col("doc_id").as("id_b"), col("fp").as("fp_b"))
    val bruteTruth = fa.crossJoin(fb).filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("fp_a").bitwiseXOR(col("fp_b"))) <= 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.simhashNearDups(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, maxBucket = 1000)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == bruteTruth,
      s"banded=${found.size} brute=${bruteTruth.size} — must be identical")
    assert(bruteTruth.nonEmpty, "fixture should contain simhash near-dups")
  }

  test("simhash md5 twin: banded output equals brute-force hamming ≤ 3 (the d04 oracle premise)") {
    // The d04 DuckDB oracle computes the ALL-PAIRS hamming ≤ 3 set from
    // SQL-reconstructed md5 fingerprints; the shipped query is the
    // banded join. They are interchangeable only if banding recall is
    // exactly 1 (pigeonhole) and the hamming filter gives precision 1 —
    // assert that equivalence here so the oracle premise is locked in
    // the unit gate, not just at the driver's sf.
    val fp = docs.select(col("doc_id"),
      graft.functions.SimHash.simhashMd5(Dedup.words(col("text"))).as("fp"))
    val fa = fp.select(col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val fb = fp.select(col("doc_id").as("id_b"), col("fp").as("fp_b"))
    val bruteTruth = fa.crossJoin(fb).filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("fp_a").bitwiseXOR(col("fp_b"))) <= 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.simhashNearDupsMd5(docs, "doc_id", "text",
        bands = 4, maxHamming = 3, maxBucket = 0)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == bruteTruth,
      s"banded=${found.size} brute=${bruteTruth.size} — must be identical")
    // the two fingerprint families are genuinely different hashes of
    // the same scheme — identical token arrays must still agree with
    // themselves (sanity that the md5 path is deterministic)
    val twice = docs.limit(20).select(
      graft.functions.SimHash.simhashMd5(Dedup.words(col("text"))).as("a"),
      graft.functions.SimHash.simhashMd5(Dedup.words(col("text"))).as("b"))
    assert(twice.filter(col("a") =!= col("b")).count() == 0L)
  }

  test("simhash candidate volume stays ~linear on a clustered duplicate corpus") {
    import spark.implicits._
    // 300 docs in 100 clusters of 3 (one base + 2 light edits): candidate
    // pairs must scale with cluster structure (~3 per cluster), not n².
    val rng = new scala.util.Random(7)
    val corpus = (0 until 100).flatMap { c =>
      val base = (0 until 40).map(_ => s"w${rng.nextInt(5000)}").mkString(" ")
      (0 until 3).map { v =>
        val text = if (v == 0) base else base + s" tail$c$v"
        ((c * 3 + v).toLong, text)
      }
    }.toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(corpus, "doc_id", "text",
      bands = 4, maxHamming = 3, maxBucket = 1000).count()
    // 100 clusters × ≤3 intra-cluster pairs + a small cross-cluster tail;
    // n²/2 would be 44,850
    assert(pairs <= 600, s"candidate blowup: $pairs pairs for 300 docs")
    assert(pairs >= 100, s"clusters should produce pairs, got $pairs")
  }

  test("capBuckets drops oversized buckets and keeps small ones intact") {
    import spark.implicits._
    val banded = (0 until 20).map(i => (i.toLong, 0, if (i < 15) 1L else 2L))
      .toDF("id", "band", "key")
    val capped = Dedup.capBuckets(banded, Seq("band", "key"), maxBucket = 10)
    // key=1 bucket (15 members) dropped, key=2 bucket (5 members) kept
    assert(capped.count() == 5)
    assert(Dedup.capBuckets(banded, Seq("band", "key"), 0).count() == 20)
    // accounting variant surfaces exactly the discarded rows (ADVICE:
    // capping must be observable, not a silent recall loss)
    val (kept, dropped) = Dedup.capBucketsWithDropped(banded, Seq("band", "key"), 10)
    assert(kept.count() == 5 && dropped.count() == 15)
    val (all, none) = Dedup.capBucketsWithDropped(banded, Seq("band", "key"), 0)
    assert(all.count() == 20 && none.count() == 0)
  }

  test("prefix bucket cap bounds candidate volume on a boilerplate corpus") {
    import spark.implicits._
    // The d02/d08 degenerate case: boilerplate-heavy corpora ("Terms of
    // Service…" × many) concentrate one 50-char prefix, and the
    // uncapped block self-join goes quadratic on that bucket. 200
    // boilerplate docs + 50 unique-prefix near-dup pairs.
    val boiler = "terms of service please read these terms carefully before using"
    val corpus = (
      (0 until 200).map(i => (i.toLong, s"$boiler unique tail number $i")) ++
      (0 until 50).flatMap { p =>
        val pfx = s"distinct document prefix $p padded out to exceed fifty chars"
        Seq((1000L + 2 * p, s"$pfx shared body"), (1001L + 2 * p, s"$pfx shared body too"))
      }).toDF("doc_id", "text")
    // uncapped: the boilerplate bucket alone contributes 200·199/2 pairs
    val uncapped = Dedup.prefixJaccardPairs(corpus, "doc_id", "text",
      n = 2, prefixLen = 50, maxBucket = 0).count()
    assert(uncapped >= 19900L + 50, s"expected quadratic blowup, got $uncapped")
    // capped: the oversized boilerplate bucket drops, the 50 bounded
    // two-doc buckets survive intact — work is bounded at cap² per bucket
    val capped = Dedup.prefixJaccardPairs(corpus, "doc_id", "text",
      n = 2, prefixLen = 50, maxBucket = 10).count()
    assert(capped == 50L, s"capped candidate volume should be the 50 bounded pairs, got $capped")
    // bipartite (d08 shape): same guard on both sides of delta-vs-base
    val base = corpus.filter(col("doc_id") < 100 || col("doc_id") >= 1000)
    val delta = corpus.filter(col("doc_id") >= 100 && col("doc_id") < 1000)
    val cappedInc = Dedup.incrementalJaccardDups(base, delta, "doc_id", "text",
      n = 2, prefixLen = 50, threshold = 0.0, maxBucket = 10).count()
    assert(cappedInc == 0L, s"boilerplate bucket must be capped on both sides, got $cappedInc")
    val uncappedInc = Dedup.incrementalJaccardDups(base, delta, "doc_id", "text",
      n = 2, prefixLen = 50, threshold = 0.0, maxBucket = 0).count()
    assert(uncappedInc == 10000L, s"uncapped bipartite volume is 100·100, got $uncappedInc")
  }

  test("minhash candidates: no self pairs, id_a < id_b, deterministic") {
    val grams = docs.select(col("doc_id").as("did"),
      array_distinct(Dedup.wordNGrams(Dedup.words(col("text")), 3)).as("g"))
    val c1 = Dedup.minhashCandidates(grams, "did", "g").collect()
    val c2 = Dedup.minhashCandidates(grams, "did", "g").collect()
    assert(c1.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      c2.map(r => (r.getLong(0), r.getLong(1))).toSet)
    c1.foreach(r => assert(r.getLong(0) < r.getLong(1)))
  }

  test("IVF ANN recall ≥ 0.6 of brute-force top-5") {
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding").cache()
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(emb, queries, 5))
    val ivf = pairs(Similarity.ivfTopK(emb, queries, 5, nCells = 16, nProbe = 4))
    assert(brute.size == 50)
    assert(ivf.size == 50)
    val recall = brute.count(ivf).toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall $recall")
  }

  test("SRP-LSH near-dup: recall ≥ 0.8 of brute pairs, plan has no cartesian") {
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding").cache()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(Similarity.nearDupPairs(emb, 0.45))
    assert(brute.nonEmpty, "fixture should contain qualifying pairs")
    val lshDf = Similarity.srpNearDupPairs(emb, 0.45,
      nWords = 3, bandBits = 6, maxBucket = 1000)
    val lsh = pairSet(lshDf)
    // deterministic on fixed data (measured 0.857 at sf0.001); every LSH
    // pair is exact-verified, so precision is 1.0 by construction
    val recall = brute.count(lsh).toDouble / brute.size
    assert(recall >= 0.8, s"SRP recall $recall, truth=${brute.size}, found=${lsh.size}")
    assert(lsh.subsetOf(brute), "verify stage must make every emitted pair exact")
    val plan = lshDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be join-banded, not all-pairs")
  }

  test("IVF-blocked near-dup (shipped d05): EQUALS brute pairs, no cartesian") {
    // d05 carries a full all-pairs DuckDB oracle, which is only sound if
    // the blocked path finds EXACTLY the brute pair set (recall 1.0 at
    // the shipped nProbe = 6 operating point + exact-verify precision).
    // Assert set equality at EVERY sf the driver hashes (the oracle runs
    // at sf0.01; local_check also certifies sf0.001 and sf0.1).
    for (sfDir <- Seq(sf, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding").cache()
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = pairSet(Similarity.nearDupPairs(emb, 0.45))
      assert(brute.nonEmpty, s"$sfDir fixture should contain qualifying pairs")
      val ivfDf = Similarity.ivfNearDupPairs(emb, 0.45, nCells = 16, nProbe = 6)
      try {
        val ivf = pairSet(ivfDf)
        assert(ivf == brute,
          s"$sfDir: blocked=${ivf.size} brute=${brute.size} — d05's oracle needs equality")
        val plan = ivfDf.queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
          "candidate generation must be cell-blocked, not all-pairs")
      } finally { emb.unpersist(); () }
    }
  }

  test("index-probed near-dup (shipped d05): EQUALS brute pairs at every sf") {
    // d05 now sweeps the PERSISTED trained index (ivfIndexNearDupPairs)
    // but keeps its all-pairs oracle — sound only with recall 1.0 at the
    // shipped nProbe = 6 against the trained codebook. Same equality
    // gate as the in-query fallback above, at every sf the driver
    // hashes.
    for (sfDir <- Seq(sf, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding").cache()
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = pairSet(Similarity.nearDupPairs(emb, 0.45))
      val idx = graft.queries.NorthStarQueries.ensureIvfIndex(spark, sfDir)
      val probedDf = Similarity.ivfIndexNearDupPairs(idx, emb, 0.45, nProbe = 6)
      val probed = pairSet(probedDf)
      assert(probed == brute,
        s"$sfDir: index-probed=${probed.size} brute=${brute.size} — d05's oracle needs equality")
      val plan = probedDf.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        "candidate generation must be cell-blocked, not all-pairs")
      emb.unpersist()
    }
  }

  test("index-read SemDeDup (shipped d10) equals a driver-side recomputation") {
    // d10 reads its cluster assignment straight off the persisted index;
    // this pins the whole kernel (trained assignment + intra-cluster
    // drop rule) against an INDEPENDENT driver-side implementation at
    // sf0.001 (500 vectors — trivially exhaustive).
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val idx = graft.queries.NorthStarQueries.ensureIvfIndex(spark, sf)
    val got = Similarity.semanticDedupKeptFromIndex(idx, emb, 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // independent recompute: assignment from the index files, cosine in
    // plain Scala with the house 6-dp rounding
    val assign = spark.read.parquet(s"$idx/cells")
      .select("vec_id", "cell_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      BigDecimal(dot / math.sqrt(na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byCluster = assign.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted)
    val dropped = byCluster.values.flatMap { ids =>
      for (i <- ids.indices; j <- i + 1 until ids.size
           if cos(vecs(ids(i)), vecs(ids(j))) >= 0.45) yield ids(j)
    }.toSet
    val expected = assign.filter { case (id, _) => !dropped(id) }
    assert(got == expected,
      s"kept=${got.size} expected=${expected.size} — index-read SemDeDup drifted")
  }

  test("IVF index append (s11): assignment matches the codebook argmax; base files untouched") {
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val tmp = TempDirs.create("graft_appidx")
    val idx = s"$tmp/index"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0), idx,
      nCells = 16, trainIters = 2)
    def cellFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$idx/cells"))
        .filter(_.getName.startsWith("part-")).map(_.getAbsolutePath).toSet
    }
    val baseFiles = cellFiles()
    Similarity.appendToIvfIndex(idx, emb.filter(col("vec_id") % 2 === 1))
    // append-only: every base file survives byte-identical in place
    assert(baseFiles.subsetOf(cellFiles()), "append rewrote existing index files")
    assert(cellFiles().size > baseFiles.size, "append added no files")
    // the grown index's (vec_id -> cell) equals the codebook argmax over
    // the FULL corpus — append-time assignment can't drift from
    // build-time semantics
    val cents = spark.read.parquet(s"$idx/codebook")
      .select(col("cell_id").cast("long").as("cell_id"), col("centroid"))
    val want = Similarity.ivfAssign(emb, cents)
      .select(col("vec_id"), col("cell_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = spark.read.parquet(s"$idx/cells")
      .select(col("vec_id"), col("cell_id"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(got == want, s"grown index assignment drifted (${got.size} vs ${want.size})")
  }

  test("IVF-int8 scan (quantized ivfTopK) equals the float IVF path exactly") {
    // rescore ≫ k makes the int8 shortlist re-rank reproduce the float
    // path's output — the same contract quantizedTopK certifies vs
    // brute, here for the IVF-probed layout (4× fewer candidate bytes)
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding").cache()
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val float = rows(Similarity.ivfTopK(emb, queries, 5, nCells = 16, nProbe = 4))
    val q8 = rows(Similarity.ivfTopK(emb, queries, 5, nCells = 16, nProbe = 4,
      quantized = true, rescore = 32))
    assert(q8 == float, "IVF-int8 with rescore must equal the float IVF path")
    emb.unpersist()
  }

  test("persisted IVF index (shipped s08): probe equals in-query path, scan is partition-pruned") {
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding").cache()
    val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val idx = graft.queries.NorthStarQueries.ensureIvfIndex(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // the index-backed probe reproduces the in-query trained path
    // exactly — same codebook regime (trainIters = 2), int8 candidates,
    // rescore ≫ k
    val inQuery = rows(Similarity.ivfTopK(emb, queries, 5,
      nCells = 16, nProbe = 4, trainIters = 2, quantized = true, rescore = 32))
    val probed = rows(Similarity.ivfIndexTopK(idx, emb, queries, 5,
      nProbe = 4, rescore = 32))
    assert(probed == inQuery,
      "index probe must equal the in-query trained IVF path exactly")
    // the candidate scan reads a strict subset of the index's cell
    // directories (one query probes nProbe = 4 of 16 cells — the
    // unambiguous subset). AQE hides file scans inside query stages
    // (both AdaptiveSparkPlanExec and QueryStageExec are leaf nodes),
    // so the walk crosses those boundaries explicitly.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def cellScansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => cellScansOf(a.executedPlan)
      case s: QueryStageExec        => cellScansOf(s.plan)
      case f: FileSourceScanExec =>
        // match on the relation's real root paths, not toString — the
        // plan string truncates long locations, and the tracked
        // TempDirs root makes index paths long enough to cut "cells"
        if (f.relation.location.rootPaths.exists(_.toString.contains("cells")))
          Seq(f)
        else Seq.empty
      case other => other.children.flatMap(cellScansOf)
    }
    val oneQuery = queries.filter(col("query_id") === 10)
    val probeScan = Similarity.ivfIndexTopK(idx, emb, oneQuery, 5,
      nProbe = 4, rescore = 32)
    probeScan.collect()
    val cellScans = cellScansOf(probeScan.queryExecution.executedPlan)
    assert(cellScans.nonEmpty, "no cells/ scan found in the probe plan")
    val scan = cellScans.head
    assert(scan.toString.contains("PartitionFilters"),
      s"probe scan has no partition filters:\n$scan")
    val full = spark.read.parquet(s"$idx/cells")
    full.collect()
    val totalFiles = cellScansOf(full.queryExecution.executedPlan)
      .head.metrics("numFiles").value
    val probedFiles = scan.metrics("numFiles").value
    assert(probedFiles > 0 && probedFiles < totalFiles,
      s"probe read $probedFiles of $totalFiles index files — not pruned")
    emb.unpersist()
  }

  test("IVF k-NN self-join (shipped s07): int8 candidates equal the float path") {
    // s07 ships quantized = true — every vector is a query and the
    // cell-join candidates travel as the int8 index. rescore ≫ k must
    // make that output identical to the float-candidate branch at the
    // shipped parameters, or the flip would silently change results.
    val emb = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").cache()
    val queries = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("q_embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val float = rows(Similarity.ivfTopK(emb, queries, 3, nCells = 16, nProbe = 4))
    val q8 = rows(Similarity.ivfTopK(emb, queries, 3, nCells = 16, nProbe = 4,
      quantized = true, rescore = 32))
    assert(q8 == float,
      "s07's int8 self-join candidates must reproduce the float path exactly")
    emb.unpersist()
  }

  test("IVF-blocked near-dup on a clustered corpus: planted dups found, cells cappable") {
    import spark.implicits._
    // 100 clusters of 3 near-identical vectors on a 64-dim background:
    // the shape real near-dup corpora have (and the testdata lacks).
    // Cluster-mates must co-assign and verify; capping cells must
    // degrade recall gracefully, not error.
    val rng = new scala.util.Random(23)
    def vec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    def jitter(v: Array[Float]): Array[Float] =
      v.map(x => x + rng.nextGaussian().toFloat * 0.05f)
    val rows = (0 until 100).flatMap { c =>
      val base = vec()
      Seq((c * 3L, base), (c * 3L + 1, jitter(base)), (c * 3L + 2, jitter(base)))
    }
    val emb = rows.toDF("vec_id", "embedding")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(Similarity.nearDupPairs(emb, 0.9))
    assert(brute.size >= 250, s"planted clusters should qualify, got ${brute.size}")
    val ivf = pairSet(Similarity.ivfNearDupPairs(emb, 0.9, nCells = 16, nProbe = 4))
    val recall = brute.count(ivf).toDouble / brute.size
    assert(recall >= 0.95, s"clustered-corpus recall $recall")
    assert(ivf.subsetOf(brute), "verify stage keeps precision exact")
    // capped variant: still runs, still a subset; never errors on dense cells
    val capped = pairSet(Similarity.ivfNearDupPairs(emb, 0.9, nCells = 16,
      nProbe = 4, maxBucket = 30))
    assert(capped.subsetOf(brute))
  }

  test("IVF-blocked near-dup: zero and empty vectors are guarded, not assigned") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = (0 until 20).map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat))) ++
      (100 until 150).map(i => (i.toLong, Array.fill(16)(0f))) ++
      (200 until 205).map(i => (i.toLong, Array.empty[Float]))
    val emb = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.ivfNearDupPairs(emb, threshold = 0.0, nCells = 4, nProbe = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "guard dropped the real vectors too")
    assert(pairs.forall { case (a, b) => a < 100 && b < 100 }, pairs.take(5).toSeq.toString)
  }

  test("SRP-LSH near-dup: zero and empty vectors are guarded, not banded") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    // 20 real vectors + 50 zero vectors + 5 empty arrays: without the
    // guard the degenerate vectors share one signature in every band
    // (~1,250 junk candidate pairs); with it they never enter banding
    val rows = (0 until 20).map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat))) ++
      (100 until 150).map(i => (i.toLong, Array.fill(16)(0f))) ++
      (200 until 205).map(i => (i.toLong, Array.empty[Float]))
    val emb = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.srpNearDupPairs(emb, threshold = 0.0,
      nWords = 1, bandBits = 8, maxBucket = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    // the guard must not be vacuous: real vectors at threshold 0 still pair up
    assert(pairs.nonEmpty, "guard dropped the real vectors too")
    // no degenerate id may appear in any candidate-derived pair
    assert(pairs.forall { case (a, b) => a < 100 && b < 100 }, pairs.take(5).toSeq.toString)
  }

  test("SRP-LSH near-dup: recall ≥ 0.95 on planted high-cosine duplicates") {
    import spark.implicits._
    // The realistic operating point: near-dup corpora have planted
    // high-cos copies (cos ≥ 0.9), where 8-bit bands recall ≥ 0.95.
    val rng = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    def jitter(v: Array[Float]): Array[Float] = v.map(x => x + rng.nextGaussian().toFloat * 0.08f)
    val rows = (0 until 200).flatMap { i =>
      val base = vec()
      Seq((i * 2L, base), (i * 2L + 1, jitter(base)))
    }
    val emb = rows.toDF("vec_id", "embedding")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(Similarity.nearDupPairs(emb, 0.9))
    assert(brute.size >= 150, s"planted dups should qualify, got ${brute.size}")
    val lsh = pairSet(Similarity.srpNearDupPairs(emb, 0.9,
      nWords = 2, bandBits = 8, maxBucket = 1000))
    val recall = brute.count(lsh).toDouble / brute.size
    assert(recall >= 0.95, s"planted-dup recall $recall")
  }

  test("QuantizeQ8 fused expression equals the HOF formulation it replaced") {
    import spark.implicits._
    val rng = new scala.util.Random(37)
    val rows = (0 until 200).map(i => (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat))) ++
      Seq((900L, Array.fill(8)(0f)), (901L, Array.empty[Float]),
        (902L, Array(-1.5f, 0.75f, -0.25f))) // negative halves: HALF_UP parity
    val emb = rows.toDF("vec_id", "embedding")
    val hof = emb
      .withColumn("q_scale",
        aggregate(col("embedding"), lit(0f), (a, v) => greatest(a, abs(v))) / 127f)
      .withColumn("q8",
        when(col("q_scale") > 0,
          transform(col("embedding"), v => round(v / col("q_scale")).cast("byte")))
          .otherwise(transform(col("embedding"), _ => lit(0).cast("byte"))))
      .select("vec_id", "q_scale", "q8")
    val fused = Similarity.quantize(emb)
    assert(fused.exceptAll(hof).isEmpty && hof.exceptAll(fused).isEmpty,
      "fused quantization must be bit-identical to the HOF path")
  }

  test("int8 quantization: bounded error, rank must come from the quantized kernel") {
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding").cache()
    // round-trip error ≤ scale/2 per component
    val qz = Similarity.quantize(emb)
    val joined = qz.join(emb, "vec_id")
    val bad = joined.filter(
      exists(zip_with(col("embedding"), col("q8"),
          (v, q) => abs(v - q.cast("float") * col("q_scale")) > col("q_scale") * 0.5 + 1e-6f),
        x => x)).count()
    assert(bad == 0, s"$bad vectors exceed the q8 round-trip error bound")
    // quantized scan + exact rescore reproduces brute-force top-5 exactly
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = rows(Similarity.bruteForceTopK(emb, queries, 5))
    val quant = rows(Similarity.quantizedTopK(emb, queries, 5, rescore = 32))
    assert(quant == brute, "quantized+rescore must equal brute force on this data")
    emb.unpersist()
  }

  test("connectedComponents: transitive chains collapse to cluster minima") {
    import spark.implicits._
    // chain 1-2-3 (1~3 never emitted) + isolated pair 5-6
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    // driver union-find path (default threshold)
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == expected)
    // distributed large-star/small-star path (threshold 0 forces it)
    val labelsDist = Dedup.connectedComponents(pairs, driverThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelsDist == expected)
    // self-loops: a node with BOTH a self-pair and a real edge must
    // carry exactly ONE label row (its component's), a self-loop-only
    // node labels itself — identical rows through both paths
    val selfy = Seq((5L, 5L), (3L, 5L), (9L, 9L)).toDF("id_a", "id_b")
    val expSelf = Seq((3L, 3L), (5L, 3L), (9L, 9L))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(rowsOf(Dedup.connectedComponents(selfy)) == expSelf)
    assert(rowsOf(Dedup.connectedComponents(selfy, driverThreshold = 0)) == expSelf,
      "the star path must not emit a second label for a self-looped node")
    // empty edge set → empty labels, no infinite loop (both paths)
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(none).count() == 0)
    assert(Dedup.connectedComponents(none, driverThreshold = 0).count() == 0)
  }

  test("large-nCells probe map: broadcast-join strategy equals the literal path at nCells=512") {
    // the fixture's nCells=16 rides the codegen'd literal argmax; real
    // deployments size nCells ≈ √corpus (thousands), where that tree
    // outgrows codegen and the driver collect stops being metadata —
    // the broadcast-join + bounded TopCells aggregate takes over. Both
    // strategies are forced here on the SAME 512-centroid codebook and
    // must emit IDENTICAL (vector, cell) probe maps.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    def vec() = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val corpus = (0 until 2000).map(i => (i.toLong, vec().toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .cache()
    val cents = (0 until 512).map(i => (i.toLong, vec().toSeq))
      .toDF("cell_id", "embedding")
      .select(col("cell_id"), col("embedding").cast("array<float>").as("centroid"))
      .cache()
    def mapOf(literalMax: Int) = Similarity.withProbeCells(
        corpus, cents, nProbe = 4, literalMax = literalMax)
      .select(col("vec_id"), col("cell_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLiteral = mapOf(literalMax = 1024) // forces the codegen path at 512
    val viaBroadcast = mapOf(literalMax = 0)  // forces the join + TopCells path
    corpus.unpersist(); cents.unpersist()
    assert(viaLiteral.size == 2000 * 4, s"literal map incomplete: ${viaLiteral.size}")
    assert(viaBroadcast == viaLiteral,
      "the two probe-map strategies must be interchangeable")
    // ...and the aggregate's partials stay bounded: the plan must show a
    // partial_topcells before the exchange (map-side truncation), not a
    // window or collect_list over the expansion
    val plan = Similarity.withProbeCells(corpus, cents, 4, literalMax = 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topcells") || plan.toLowerCase.contains("topcells"),
      s"expected the bounded TopCells aggregate in the plan")
  }

  test("PQ top-k (shipped s12): bound-pruned exact search equals brute force and genuinely prunes") {
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
      .cache()
    val queries = emb.filter(col("vec_id") < 12)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSet
    val brute = rows(Similarity.bruteForceTopK(emb, queries, 5))
    val pq = rows(Similarity.pqTopK(emb, queries, 5, m = 8, ks = 16))
    assert(pq == brute,
      "the Cauchy–Schwarz bound must make PQ search exact, not approximate")
    // …and the bound must actually PRUNE (otherwise "exact" is just a
    // disguised brute force): the exact-rescore stage must touch fewer
    // candidates than corpus × queries. Measured through the survivor
    // count the bound admits.
    val nQ = queries.count()
    val nC = emb.count()
    val survivors = Similarity.pqSurvivorCount(emb, queries, 5, m = 8, ks = 16)
    assert(survivors < nQ * (nC - 1),
      s"the PQ bound admitted every candidate ($survivors of ${nQ * (nC - 1)})")
    emb.unpersist()
    // kernel units: encode picks the nearest sub-centroid with
    // low-index ties, err is the residual L2; ADC sums exactly the
    // coded table entries
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val cb = new GenericArrayData(Array[Float](0f, 0f, 1f, 1f)) // m=1,ks=2,sub=2
    val enc = graft.functions.PqCodes.encode(
      new GenericArrayData(Array[Float](0.9f, 0.8f)), cb, 1, 2, embIsFloat = true)
    val codes = enc.getArray(0)
    assert(codes.getByte(0) == 1, "nearest sub-centroid is (1,1)")
    assert(math.abs(enc.getDouble(1) -
      math.sqrt(0.1 * 0.1 + 0.2 * 0.2)) < 1e-6, "err = residual L2 norm")
    val tie = graft.functions.PqCodes.encode(
      new GenericArrayData(Array[Float](0.5f, 0.5f)), cb, 1, 2, embIsFloat = true)
    assert(tie.getArray(0).getByte(0) == 0,
      "equidistant ties break to the lowest index")
    val lut = new GenericArrayData(Array[Double](10d, 20d))
    assert(graft.functions.PqCodes.adc(codes, lut, lutIsFloat = false) == 20.0)
  }

  test("containment dedup (shipped d12): catches the wrapper dup Jaccard misses; maxDf bounds postings") {
    import spark.implicits._
    // doc 1 = original; doc 2 = the same text inside a big boilerplate
    // wrapper — the asymmetric dup: low Jaccard (union inflated), but
    // doc 1 is ~fully contained in doc 2
    val core = (1 to 30).map(i => s"core$i").mkString(" ")
    val header = (1 to 60).map(i => s"head$i").mkString(" ")
    val footer = (1 to 60).map(i => s"foot$i").mkString(" ")
    val docs = Seq(
      (1L, core),
      (2L, s"$header $core $footer"),
      (3L, (1 to 40).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentNearDups(docs, "doc_id", "text",
        n = 5, threshold = 0.9, maxDf = 0)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("containment")))
    // direction matters: 1 ⊑ 2 flagged, 2 ⊑ 1 is NOT (2's wrapper grams
    // have no match in 1), and 3 matches nothing
    assert(pairs.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 },
      s"wrapper dup missed: ${pairs.mkString(",")}")
    assert(!pairs.exists { case (a, b, _) => a == 2L && b == 1L },
      "containment must stay directional")
    assert(!pairs.exists { case (a, b, _) => a == 3L || b == 3L })
    // ...and the Jaccard family indeed misses it at its own threshold:
    // |grams(1)| = 26, |grams(2)| = 146 → J = 26/146 ≈ 0.18
    val j = Dedup.jaccard(
      graft.ops.Dedup.wordNGrams(Dedup.words(lit(core)), 5),
      graft.ops.Dedup.wordNGrams(Dedup.words(lit(s"$header $core $footer")), 5))
    val jv = docs.limit(1).select(j.as("j")).collect()(0).getDouble(0)
    assert(jv < 0.2, s"fixture not asymmetric enough: J=$jv")
    // maxDf guard: capping postings at 1 doc kills every cross-doc gram
    // (each shared gram appears in 2 docs), so nothing survives
    val capped = Dedup.containmentNearDups(docs, "doc_id", "text",
      n = 5, threshold = 0.9, maxDf = 1)
    assert(capped.count() == 0)
  }

  test("MIPS top-k (shipped s13): norm-bound exact search equals brute force and genuinely prunes") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.DotProduct.dotProduct
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
      .cache()
    val queries = emb.filter(col("vec_id") < 12)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    // brute-force ground truth: every pair, ranked by rounded raw dot
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id"))
    val brute = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .filter(dotProduct(col("embedding"), col("embedding")) > 0 &&
        dotProduct(col("q_embedding"), col("q_embedding")) > 0)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dotProduct(col("embedding"), col("q_embedding")), 6).as("ip"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSet
    val mips = Similarity.mipsTopK(emb, queries, k = 5, seedN = 64)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSet
    assert(mips == brute,
      "the Cauchy–Schwarz norm bound must make MIPS exact, not approximate")
    emb.unpersist()
    // ...and the bound must actually PRUNE where norms spread. The
    // fixture's random embeddings have CONCENTRATED norms (isotropic
    // gaussians — every ‖v‖‖q‖ clears a small-dot τ, so the bound
    // admits everything; exactness above still holds, which is the
    // contract). Real MIPS corpora are the opposite regime: recommender
    // item norms follow popularity power laws, and there the bound cuts
    // hard. Synthesize that regime and require a deep cut.
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 8
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val scaled = (0 until 400).map { i =>
      val s = 10.0f / (1 + i) // power-law norms: 10, 5, 3.3, ... 0.025
      (i.toLong, unit().map(_ * s).toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .cache()
    val sq = scaled.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id"))
    val bruteS = scaled.crossJoin(broadcast(sq))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dotProduct(col("embedding"), col("q_embedding")), 6).as("ip"))
      .withColumn("rank", row_number().over(wS)).filter(col("rank") <= 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSet
    val mipsS = Similarity.mipsTopK(scaled, sq, k = 5, seedN = 64)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSet
    assert(mipsS == bruteS, "exactness must hold in the pruning regime too")
    val full = 5L * 399
    val survivors = Similarity.mipsSurvivors(scaled, sq, k = 5, seedN = 64)
      .count()
    scaled.unpersist()
    assert(survivors < full / 2,
      s"power-law norms should prune most candidates ($survivors of $full admitted)")
  }

  test("IVFPQ (shipped s14): composed search equals plain IVF row for row") {
    // the composition contract: PQ scoring + interval prune inside the
    // probed cells must be invisible in the result — IVFPQ == IVF on
    // the same (untrained) codebook, cells and probes. If this drifts,
    // the s14 oracle (which re-runs plain IVF in SQL) breaks with it.
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
      .cache()
    val queries = emb.filter(col("vec_id") < 12)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos_sim"), r.getAs[Int]("rank"))).toSet
    val ivf = rows(Similarity.ivfTopK(emb, queries, k = 5,
      nCells = 16, nProbe = 4, trainIters = 0))
    val ivfpq = rows(Similarity.ivfPqTopK(emb, queries, k = 5,
      nCells = 16, nProbe = 4, m = 8, ks = 16))
    emb.unpersist()
    assert(ivfpq == ivf,
      "PQ bound-pruning inside probed cells must be exact, not approximate")
  }

  test("index skew monitor + rebuildIfSkewed: drifted appends detected, rebuild restores balance") {
    // the appendToIvfIndex drift trade, closed: an index trained BEFORE
    // the corpus grew a new mode takes the appended mass into few cells
    // (assignment can only choose among the old centroids); the skew
    // monitor flags it and rebuildIfSkewed swaps in a codebook trained
    // on the current corpus, under which the mass spreads again.
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val dim = 8
    def around(anchor: Array[Float], n: Int, base: Long): Seq[(Long, Seq[Float])] =
      (0 until n).map { i =>
        (base + i, anchor.map(a => a + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq)
      }
    def anchor(weights: (Int, Float)*): Array[Float] = {
      val v = Array.fill(dim)(0.0f); weights.foreach { case (i, w) => v(i) = w }; v
    }
    // ids 0..7 are one per region (they seed the rebuild's k-means):
    // 0,2,4,6 in the original cluster; 1,3,5,7 in the four new
    // sub-clusters that arrive later
    val orig = around(anchor(0 -> 1.0f), 1, 0) ++
      around(anchor(0 -> 1.0f), 1, 2) ++ around(anchor(0 -> 1.0f), 1, 4) ++
      around(anchor(0 -> 1.0f), 1, 6) ++ around(anchor(0 -> 1.0f), 22, 100)
    val subAnchors = Seq(
      anchor(1 -> 1.0f, 2 -> 0.5f), anchor(1 -> 1.0f, 2 -> -0.5f),
      anchor(1 -> 1.0f, 3 -> 0.5f), anchor(1 -> 1.0f, 3 -> -0.5f))
    val appended = subAnchors.zipWithIndex.flatMap { case (a, i) =>
      around(a, 1, 2 * i + 1) ++ around(a, 49, 1000 + 100L * i)
    }
    def df(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val tmp = TempDirs.create("graft_skew")
    val idx = s"$tmp/index"
    Similarity.buildIvfIndex(df(orig), idx, nCells = 8, trainIters = 2)
    val balanced = Similarity.indexCellSkew(spark, idx)
    Similarity.appendToIvfIndex(idx, df(appended))
    val drifted = Similarity.indexCellSkew(spark, idx)
    assert(drifted > 2.0 && drifted > balanced,
      s"appended new-mode mass must skew the cells (before $balanced, after $drifted)")
    val full = df(orig ++ appended)
    assert(Similarity.rebuildIfSkewed(full, idx, maxSkew = 2.0,
      nCells = 8, trainIters = 2), "rebuild must trigger past maxSkew")
    val rebuilt = Similarity.indexCellSkew(spark, idx)
    assert(rebuilt < drifted,
      s"rebuild must restore balance (drifted $drifted, rebuilt $rebuilt)")
    // the swapped-in index serves correctly: equals the in-query
    // trained IVF path on the same corpus and parameters
    val queries = full.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"))).toSet
    assert(rows(Similarity.ivfIndexTopK(idx, full, queries, k = 3,
        nProbe = 4, rescore = 16)) ==
      rows(Similarity.ivfTopK(full, queries, k = 3, nCells = 8, nProbe = 4,
        trainIters = 2, quantized = true, rescore = 16)),
      "probes must stay green on the rebuilt index")
    // a balanced index refuses to rebuild
    assert(!Similarity.rebuildIfSkewed(full, idx, maxSkew = 2.0,
      nCells = 8, trainIters = 2), "no rebuild below the threshold")
  }

  test("a crashed rebuild swap self-heals at the next open") {
    // the two renames in rebuildIfSkewed cannot be jointly atomic; a
    // crash between them leaves the index dir ABSENT with .old and
    // .rebuild both present — every consumer's open-time guard must
    // complete the swap (preferring the finished rebuild), not demand
    // rename surgery
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val corpus = (0 until 64).map(i =>
        (i.toLong, Array.fill(8)(rnd.nextFloat()).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val tmp = TempDirs.create("graft_swapcrash")
    val idx = s"$tmp/index"
    Similarity.buildIvfIndex(corpus, idx, nCells = 4, trainIters = 0)
    Similarity.buildIvfIndex(corpus, s"$idx.rebuild", nCells = 4, trainIters = 2)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(idx),
      new org.apache.hadoop.fs.Path(s"$idx.old"))) // the crash point
    // open through any consumer: recovery promotes .rebuild and cleans up
    assert(Similarity.indexCellSkew(spark, idx) >= 1.0)
    assert(new java.io.File(idx).isDirectory, "rebuilt layout promoted")
    assert(!new java.io.File(s"$idx.rebuild").exists() &&
      !new java.io.File(s"$idx.old").exists(), "swap leftovers cleaned")
    // rollback direction: crash with only .old present
    assert(fs.rename(new org.apache.hadoop.fs.Path(idx),
      new org.apache.hadoop.fs.Path(s"$idx.old")))
    assert(Similarity.indexCellSkew(spark, idx) >= 1.0)
    assert(new java.io.File(idx).isDirectory, "old layout rolled back")
  }

  test("index layout guard: half-written and foreign directories fail loudly at open") {
    val tmp = TempDirs.create("graft_guard")
    import spark.implicits._
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    // half-written: codebook landed, cells never did
    Similarity.buildIvfIndex(emb, s"$tmp/half", nCells = 4, trainIters = 0)
    org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$tmp/half/cells"), true)
    val e1 = intercept[IllegalStateException] {
      Similarity.ivfIndexTopK(s"$tmp/half", emb,
        emb.limit(2).select(col("vec_id").as("query_id"),
          col("embedding").as("q_embedding")), k = 2).collect()
    }
    assert(e1.getMessage.contains("cells/") &&
      e1.getMessage.contains("buildIvfIndex layout"), e1.getMessage)
    // foreign: a directory of unrelated parquet
    Seq((1, "x")).toDF("a", "b").write.parquet(s"$tmp/foreign/codebook")
    Seq((1, "x")).toDF("a", "b").write.parquet(s"$tmp/foreign/cells")
    val e2 = intercept[IllegalStateException] {
      Similarity.indexCellSkew(spark, s"$tmp/foreign")
    }
    assert(e2.getMessage.contains("codebook/ lacks") &&
      e2.getMessage.contains("cells/ lacks"), e2.getMessage)
  }

  test("index delete: victims vanish from probes, untouched cells keep their files") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 96).map(i =>
        (i.toLong, Array.fill(8)(rnd.nextFloat()).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val tmp = TempDirs.create("graft_idxdel")
    val idx = s"$tmp/index"
    Similarity.buildIvfIndex(corpus, idx, nCells = 8, trainIters = 2)
    def files(): Map[String, Set[String]] = {
      val cells = new java.io.File(s"$idx/cells")
      cells.listFiles().filter(_.getName.startsWith("cell_id=")).map { d =>
        d.getName -> d.listFiles().map(_.getName)
          .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSet
      }.toMap
    }
    val before = files()
    val assigned = spark.read.parquet(s"$idx/cells")
      .select(col("vec_id"), col("cell_id")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // victims: every vector in ONE chosen cell plus a couple elsewhere —
    // exercises both the fully-purged-cell path and the partial rewrite
    val fullCell = assigned.groupBy(_._2).minBy { case (c, m) => (m.size, c) }._1
    val victims = (assigned.filter(_._2 == fullCell).keys.toSeq ++
      assigned.filterNot(_._2 == fullCell).keys.toSeq.sorted.take(2)).distinct
    Similarity.deleteFromIvfIndex(idx, victims)
    val after = files()
    // 1) the fully-victim cell directory is GONE (no silent survival)
    assert(!after.contains(s"cell_id=$fullCell"),
      s"fully-purged cell cell_id=$fullCell must be deleted: ${after.keys}")
    // 2) untouched cells keep their files byte-for-byte (by name)
    val touched = victims.map(assigned).toSet
    before.foreach { case (cell, fs0) =>
      val c = cell.stripPrefix("cell_id=").toInt
      if (!touched.contains(c))
        assert(after(cell) == fs0, s"untouched $cell was rewritten")
    }
    // 3) the index no longer contains any victim
    val left = spark.read.parquet(s"$idx/cells")
      .select("vec_id").as[Long].collect().toSet
    assert(victims.forall(v => !left.contains(v)), "victim survived the delete")
    assert(left.size == 96 - victims.size, "a non-victim was lost")
    // 4) probes never return a victim
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val hits = Similarity.ivfIndexTopK(idx, corpus, queries,
        k = 5, nProbe = 4, rescore = 32)
      .select("neighbor_id").as[Long].collect().toSet
    assert(victims.forall(v => !hits.contains(v)),
      "a deleted vector came back from a probe")
    // 5) empty + unknown-id deletes are no-ops
    Similarity.deleteFromIvfIndex(idx, Seq.empty)
    Similarity.deleteFromIvfIndex(idx, Seq(99999L))
    assert(files() == after)
  }

  test("c02's cluster map is identical through the forced distributed CC path") {
    // the c02/c03 queries go through connectedComponents' default
    // threshold (driver union-find at fixture scale); the 100 TB claim
    // is that the distributed path yields the SAME clusters on the SAME
    // pair set — forced here with cap 0 on c02's exact pair generation
    val pairs = Dedup.substringNearDupPairs(
      Tables.load(spark, sf, "documents"), "doc_id", "text", n = 8).cache()
    val viaDriver = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStars = Dedup.connectedComponents(pairs, driverThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.unpersist()
    assert(viaDriver.nonEmpty, "fixture should contain near-dup docs")
    assert(viaStars == viaDriver,
      "c02 clusters must not depend on which CC regime computed them")
  }

  test("s02 centroid choice: seed-vs-k-means recall both measured, floors hold") {
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding").cache()
    val cents = Similarity.kmeansCentroids(emb, nCells = 16, iters = 2)
    val rows = cents.collect()
    assert(rows.length == 16)
    assert(rows.forall(_.getSeq[Float](1).length == 64)) // dim preserved
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("q_embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(emb, queries, 5))
    val seeded = pairs(Similarity.ivfTopK(emb, queries, 5, nCells = 16,
      nProbe = 4, trainIters = 0))
    val trained = pairs(Similarity.ivfTopK(emb, queries, 5, nCells = 16,
      nProbe = 4, trainIters = 2))
    val seedRecall = brute.count(seeded).toDouble / brute.size
    val trainedRecall = brute.count(trained).toDouble / brute.size
    // s02 SHIPS the trained codebook (trainIters = 2): a trained,
    // balanced codebook is the deployment index — on clustered real
    // corpora it raises recall, and balanced cells keep per-cell
    // candidate counts near corpus/nCells at 100 TB. The measured cost
    // on THIS near-uniform synthetic fixture: balancing spreads true
    // neighbors across more cells, so trained recall can dip below
    // seeds (~0.88 vs ~0.94 at sf0.01). Both numbers stay measured
    // here so the trade remains visible; the floor guards against the
    // trainer degenerating (e.g. centroid collapse would tank recall).
    info(f"s02 recall: seeds=$seedRecall%.3f kmeans-trained=$trainedRecall%.3f (shipped)")
    assert(trainedRecall >= 0.6, s"shipped s02 recall $trainedRecall below floor")
    assert(seedRecall >= 0.6, s"seed IVF recall $seedRecall below floor")
  }

  test("exact dedup keeps one row per distinct text") {
    val deduped = docs.dropDuplicates("text")
    assert(deduped.count() == docs.select("text").distinct().count())
  }

  test("substring dedup: shared word 8-gram pairs exactly, cap drops hot grams") {
    import spark.implicits._
    val eight = "one two three four five six seven eight"
    val fixture = Seq(
      (1L, s"prefix a $eight suffix p"),   // shares `eight` with 2
      (2L, s"prefix b $eight suffix q"),
      (3L, "totally different words with no overlapping gram at all here"),
      (4L, s"$eight")                      // exactly the gram: pairs with 1, 2
    ).toDF("doc_id", "text")
    val pairs = Dedup.substringNearDupPairs(fixture, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // maxBucket = 2: the `eight` gram's bucket holds 3 docs -> capped
    // away, killing 4's pairs; (1,2) survives via the 2-doc bucket of
    // "two three four five six seven eight suffix"
    val capped = Dedup.substringNearDupPairs(fixture, "doc_id", "text",
        n = 8, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
    // exact-oracle regime on the real corpus: no gram bucket exceeds the
    // measured max doc-frequency (4), so the shipped uncapped d09 is exact
    val maxDf = docs.select(col("doc_id"),
        explode(Dedup.wordNGrams(Dedup.words(col("text")), 8)).as("gram"))
      .groupBy("gram").agg(countDistinct("doc_id").as("n"))
      .agg(max("n")).head().getLong(0)
    assert(maxDf <= 4, s"gram doc-frequency grew to $maxDf — revisit d09 capping")
    // candidate generation is the gram equality self-join — never all-pairs
    val realDf = Dedup.substringNearDupPairs(docs, "doc_id", "text", n = 8)
    realDf.collect()
    val plan = realDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"substring dedup must block on the gram key:\n$plan")
  }

  test("boilerplate chunks: df counts documents, partial tails excluded, empty docs safe") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"nav$i").mkString(" ") // one exact chunk
    val corpus = Seq(
      (1L, s"$boiler unique one two three four five six seven eight nine"),
      (2L, s"$boiler different tail that is not a full chunk"),
      (3L, s"$boiler $boiler"), // boilerplate twice in ONE doc
      (4L, "totally fresh words with no shared fragment at all right here"),
      (5L, "short doc"), // < 10 words: zero chunks
      (6L, "")) // empty: zero chunks, must not explode sequence(1, 0)
      .toDF("doc_id", "text")
    val ch = Dedup.boilerplateChunks(corpus, "doc_id", "text", chunkWords = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // df counts DOCUMENTS (3), not occurrences (4)
    val b = ch.filter(_._3 == boiler)
    assert(b.length == 4 && b.forall(_._4 == 3L),
      s"boiler chunk must appear 4 times with df=3: ${b.mkString(",")}")
    // doc 3: two chunk instances, idx 1 and 2
    assert(ch.filter(_._1 == 3L).map(_._2).sorted.sameElements(Array(1, 2)))
    // partial tails never become chunks: doc 2 has exactly one chunk
    assert(ch.count(_._1 == 2L) == 1)
    // short/empty docs contribute nothing and nothing throws
    assert(!ch.exists(r => r._1 == 5L || r._1 == 6L))
    // a clean doc's chunks all have df = 1
    assert(ch.filter(_._1 == 4L).forall(_._4 == 1L))
  }

  test("kNN self-join (shipped s04): quantized scan equals brute force exactly") {
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val asQueries = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("q_embedding"))
    val got = Similarity.knnJoin(emb, k = 3, rescore = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val brute = Similarity.bruteForceTopK(emb, asQueries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == brute, "int8 scan + rescore>=k must reproduce brute exactly")
    // rescore below k must clamp, not truncate the result set
    val clamped = Similarity.knnJoin(emb, k = 3, rescore = 1)
    assert(clamped.groupBy("query_id").count().agg(min("count")).head().getLong(0) == 3L)
    // a corpus whose plan already shuffles takes spread()'s exchange-
    // guard path (no rdd probe, no extra repartition) — same result
    val shuffled = Similarity.knnJoin(emb.repartition(col("vec_id")), k = 3, rescore = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(shuffled == brute)
  }

  test("SemDeDup (shipped d10): keep rule holds and dedup is within-cluster only") {
    import graft.functions.CosineSimilarity.cosineSim
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val tau = 0.45
    val kept = Similarity.semanticDedupKept(emb, threshold = tau, nCells = 8).cache()
    try {
      val n = emb.count()
      val keptN = kept.count()
      assert(keptN > 0 && keptN <= n)
      // no kept pair within one cluster is >= tau similar (else the
      // larger id should have been dropped)
      val a = kept.join(emb, "vec_id")
        .select(col("cluster"), col("vec_id").as("id_a"), col("embedding").as("emb_a"))
      val b = kept.join(emb, "vec_id")
        .select(col("cluster"), col("vec_id").as("id_b"), col("embedding").as("emb_b"))
      val violations = a.join(b, "cluster")
        .filter(col("id_a") < col("id_b"))
        .filter(round(cosineSim(col("emb_a"), col("emb_b")), 6) >= tau)
        .count()
      assert(violations == 0L, s"$violations kept within-cluster near-dup pairs")
      // every cluster id is one of the 8 seed vec_ids
      val seeds = emb.orderBy(col("vec_id")).limit(8)
        .collect().map(_.getLong(0)).toSet
      val clusters = kept.select("cluster").distinct().collect().map(_.getLong(0)).toSet
      assert(clusters.subsetOf(seeds), s"non-seed cluster ids: ${clusters -- seeds}")
      // a second call, evaluated uncached, is result-identical
      val kept2 = Similarity.semanticDedupKept(emb, threshold = tau, nCells = 8)
      assert(kept2.exceptAll(kept).isEmpty && kept.exceptAll(kept2).isEmpty)
    } finally { kept.unpersist(); () }
  }

  test("incremental LSH equals from-scratch restricted to new-touching pairs") {
    import graft.ops.TrainingPrep
    // the arrival-order-indifference claim d13's oracle rests on: band
    // collisions are pairwise facts, so (index(old) ⋈ new) ∪ (new ⋈ new)
    // candidates — verified — must equal the from-scratch pair set
    // restricted to pairs touching the new batch
    val docs = Tables.load(spark, sf, "documents")
    val isNew = TrainingPrep.hashBucket(col("doc_id"), 10) >= 8
    val dir = TempDirs.create("graft_inclsh")
    Dedup.buildMinhashBandIndex(docs.filter(!isNew), "doc_id", "text",
      n = 3, k = 16, bands = 4, s"$dir/bands")
    val inc = Dedup.incrementalMinhashNearDups(spark, s"$dir/bands",
        docs, docs.filter(isNew), "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val newIds = docs.filter(isNew).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val full = Dedup.minhashNearDups(docs, "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullNewTouching = full.filter { case (a, b) => newIds(a) || newIds(b) }
    assert(inc == fullNewTouching,
      s"incremental ${inc.size} pairs vs restricted from-scratch " +
        s"${fullNewTouching.size}: diff ${(inc diff fullNewTouching) ++
          (fullNewTouching diff inc)}")
  }

  test("band-index append: a later wave pairs against everything before it") {
    import graft.ops.TrainingPrep
    // two-wave lifecycle: wave1 processed incrementally, its keys
    // APPENDED, then wave2 must see old ∪ wave1 as its index — the
    // union of the two incremental outputs equals the from-scratch
    // pair set minus old×old pairs
    val docs = Tables.load(spark, sf, "documents")
    val bucket = TrainingPrep.hashBucket(col("doc_id"), 10)
    val old = docs.filter(bucket < 6)
    val w1 = docs.filter(bucket >= 6 && bucket < 8)
    val w2 = docs.filter(bucket >= 8)
    val dir = TempDirs.create("graft_inclsh2")
    Dedup.buildMinhashBandIndex(old, "doc_id", "text", 3, 16, 4, s"$dir/b")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc1 = pairs(Dedup.incrementalMinhashNearDups(spark, s"$dir/b",
      docs, w1, "doc_id", "text", 3, 16, 4, 0.5))
    Dedup.appendMinhashBandIndex(w1, "doc_id", "text", 3, 16, 4, s"$dir/b")
    val inc2 = pairs(Dedup.incrementalMinhashNearDups(spark, s"$dir/b",
      docs, w2, "doc_id", "text", 3, 16, 4, 0.5))
    val oldIds = old.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = pairs(Dedup.minhashNearDups(docs, "doc_id", "text", 3, 16, 4, 0.5))
    val wanted = full.filterNot { case (a, b) => oldIds(a) && oldIds(b) }
    assert((inc1 ++ inc2) == wanted,
      s"waves ${inc1.size}+${inc2.size} vs expected ${wanted.size}")
    assert((inc1 intersect inc2).isEmpty,
      "a pair must be emitted by exactly one wave")
  }

  test("MMR (s15): rank 1 is the relevance top-1 and scores never increase") {
    // MMR's greedy invariants: the first pick ignores the (empty-set)
    // penalty so it must equal plain top-1; and because the penalty is
    // monotone in the picked set while rel is fixed, the winning score
    // can only fall step over step.
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val got = Similarity.mmrDiversify(emb, queryVecId = 0L, nCand = 32,
        k = 8, lambda = 0.7)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val top1 = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") === 0L)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding")),
        k = 1)
      .collect().head.getAs[Long]("neighbor_id")
    assert(got.head._2 == top1, "first MMR pick must be the relevance top-1")
    assert(got.map(_._3).sliding(2).forall(p => p(1) <= p(0)),
      s"MMR scores must be non-increasing: ${got.map(_._3).mkString(", ")}")
    assert(got.map(_._2).distinct.length == got.length, "picks must be distinct")
  }

  test("MMR (s15): a near-dup cluster next to the query cannot monopolize the picks") {
    import spark.implicits._
    // 4 clones of the query direction (rel = 1, pairwise sim = 1) + 4
    // mutually-distinct leaners (rel ≈ 0.62, pairwise sim ≈ 0.39):
    // plain top-4 is all clones. At λ=0.3 a second clone scores
    // 0.3·1 − 0.7·1 = −0.4 while an unpicked leaner stays ≥ −0.09
    // (0.3·0.62 − 0.7·0.39), so exactly ONE clone survives the re-rank.
    val base = Array.fill(8)(0f)
    def v(hot: Int, lean: Float): Array[Float] = {
      val a = base.clone(); a(hot) = 1f; a(0) = (if (hot == 0) 1f else lean); a
    }
    val rows = Seq(
      (0L, v(0, 1f)),               // the query itself
      (1L, v(0, 1f)), (2L, v(0, 1f)), (3L, v(0, 1f)), (4L, v(0, 1f)), // clones
      (5L, v(1, 0.8f)), (6L, v(2, 0.8f)), (7L, v(3, 0.8f)), (8L, v(4, 0.8f)))
      .toDF("vec_id", "embedding")
    val plain = Similarity.bruteForceTopK(rows,
        rows.filter(col("vec_id") === 0L)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding")),
        k = 4)
      .collect().map(_.getAs[Long]("neighbor_id"))
    assert(plain.forall(id => id >= 1L && id <= 4L),
      s"fixture broken: plain top-4 should be all clones, got ${plain.mkString(", ")}")
    val picked = Similarity.mmrDiversify(rows, queryVecId = 0L, nCand = 8,
        k = 4, lambda = 0.3)
      .orderBy(col("rank")).collect().map(_.getLong(1))
    val clonesPicked = picked.count(id => id >= 1L && id <= 4L)
    assert(clonesPicked == 1,
      s"expected exactly one clone in the diversified top-4, got $clonesPicked " +
        s"(picked ${picked.mkString(", ")})")
  }

  test("kcore: peels tails and isolated pairs, keeps the cycle, fixpoint-stable") {
    import spark.implicits._
    // triangle {1,2,3} (the 2-core) + tail 3-4-5 (peels leaf-first) +
    // isolated edge 6-7 (peels immediately)
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
      .toDF("id_a", "id_b")
    val core = Dedup.kcore(pairs, k = 2, rounds = 4)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(core.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)),
      s"2-core of triangle+tail+pair wrong: ${core.toSeq}")
    // rounds headroom: once converged, extra rounds are no-ops — the
    // over-provisioning safety c10's fixed-round oracle rests on
    val more = Dedup.kcore(pairs, k = 2, rounds = 8)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(more.toSeq == core.toSeq, "extra peeling rounds changed a fixpoint")
  }

  test("sourceOverlap: hand-computed gram sets give exact counts and jaccard") {
    import spark.implicits._
    // a: 6 tokens -> 2 distinct 5-grams; b: same first 5 tokens -> shares
    // exactly gram1; c: disjoint text -> no row with a or b
    val docs = Seq(
      (1L, "A", "w1 w2 w3 w4 w5 w6"),
      (2L, "B", "w1 w2 w3 w4 w5"),
      (3L, "C", "x1 x2 x3 x4 x5")).toDF("doc_id", "src", "text")
    val out = Dedup.sourceOverlap(docs, "src", "text", n = 5, maxDf = 0)
      .orderBy(col("src_a"), col("src_b")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // A has grams {w1..w5, w2..w6}, B has {w1..w5}: shared 1, union 2
    assert(out.toSeq == Seq(("A", "B", 2L, 1L, 1L, 0.5)),
      s"source overlap matrix wrong: ${out.toSeq}")
  }

  test("weighted pair evidence: ONE capped gram path serves clustering and audit at every cap") {
    import spark.implicits._
    val eight = "one two three four five six seven eight"
    val fixture = Seq(
      (1L, s"prefix a $eight suffix p"),
      (2L, s"prefix b $eight suffix q"),
      (3L, "totally different words with no overlapping gram at all here"),
      (4L, s"$eight")
    ).toDF("doc_id", "text")
    // the clustering's pair set (c02) must equal the audit's pair set
    // (c18) at EVERY maxBucket — the r12 verdict seam: an audit that
    // re-derived its own gram join diverged the moment production
    // capped, so both now project from substringNearDupPairsWeighted
    for (cap <- Seq(0, 2)) {
      val audit = Dedup.substringNearDupPairsWeighted(
          fixture, "doc_id", "text", n = 8, maxBucket = cap)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val clustering = Dedup.substringNearDupPairs(
          fixture, "doc_id", "text", n = 8, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(audit == clustering,
        s"cap=$cap: audit pair set $audit diverged from clustering $clustering")
    }
    // multiplicity is the shared-distinct-gram count: 1-2 share the
    // core 8-gram AND its +suffix successor; 4 shares only the core
    val weights = Dedup.substringNearDupPairsWeighted(
        fixture, "doc_id", "text", n = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(weights == Map((1L, 2L) -> 2L, (1L, 4L) -> 1L, (2L, 4L) -> 1L),
      s"n_shared wrong: $weights")
  }
}
