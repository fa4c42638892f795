package graft

import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup}

/** The composed curation pipeline: stage counts are monotone, the output
  * is free of exact and detected near duplicates, and the language-
  * partitioned write lands pruned directories. */
class CurationSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("curate: monotone stage counts, no remaining dups") {
    val docs = Tables.load(spark, sf, "documents")
    val c = Curation.curate(docs)
    val (curated, report) = (c.frame, c.report)
    val byStage = report.map(r => r.stage -> r.n_docs).toMap
    assert(byStage("input") == 500)
    assert(byStage("quality_filtered") <= byStage("input"))
    assert(byStage("exact_deduped") <= byStage("quality_filtered"))
    assert(byStage("near_deduped") <= byStage("exact_deduped"))
    assert(byStage("near_deduped") > 0)
    // near-dup stage actually removed something (fixture has near-dups)
    assert(byStage("near_deduped") < byStage("exact_deduped"))

    val out = curated.cache()
    assert(out.count() == byStage("near_deduped"))
    // no exact dups survive
    assert(out.select("text").distinct().count() == out.count())
    // no detected near-dup pair has both members surviving
    val pairs = Dedup.minhashNearDups(out.select("doc_id", "text"),
      "doc_id", "text", n = 3, threshold = 0.5)
    assert(pairs.count() == 0, "near-dup pair survived curation")
    out.unpersist()
  }

  test("curateTo: language-partitioned parquet layout") {
    val dir = TempDirs.create("graft_curated")
    val report = Curation.curateTo(Tables.load(spark, sf, "documents"), dir)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("pred_lang=")))
    val back = spark.read.parquet(dir)
    assert(back.count() == report.last.n_docs)
    // partition pruning works on the curated output
    val en = back.filter(col("pred_lang") === "en")
    assert(en.count() > 0)
  }

  test("c08 ledger reconciles with c01's funnel and its refs are well-formed") {
    val ledger = SparkEntry.queries("c08_provenance_ledger")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byStatus = ledger.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val funnel = SparkEntry.queries("c01_curation_report")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the ledger partitions the corpus, and each funnel stage's count
    // falls out of the status counts — the reconciliation claim
    assert(byStatus.values.sum == funnel("input"))
    assert(funnel("quality_filtered") ==
      funnel("input") - byStatus.getOrElse("rejected_quality", 0L))
    assert(funnel("exact_deduped") ==
      funnel("quality_filtered") - byStatus.getOrElse("absorbed_exact", 0L))
    assert(funnel("near_deduped") == byStatus.getOrElse("kept", 0L))
    // ref invariants: kept docs reference themselves; a near-absorbed
    // doc's canonical SURVIVED curation (status kept); an
    // exact-absorbed doc references its exact keeper (itself possibly
    // near-absorbed later — the chain, not the final survivor)
    val status = ledger.map(r => r._1 -> r._2).toMap
    ledger.foreach {
      case (id, "kept", ref) => assert(ref == id)
      case (id, "rejected_quality", ref) => assert(ref == id)
      case (_, "absorbed_near", ref) => assert(status(ref) == "kept",
        s"near-dup canonical $ref must itself be kept, was ${status(ref)}")
      case (id, "absorbed_exact", ref) =>
        assert(ref < id && status(ref) != "rejected_quality")
      case other => fail(s"unknown ledger status: $other")
    }
  }

  test("densify: ascending-key rank ids, deterministic, null-safe, never a global window") {
    import spark.implicits._
    val df = Seq("banana", "apple", "cherry", "banana", null, "apple")
      .toDF("k")
    // dictionary: dense_rank over ascending key order, 0-based, nulls out
    val dict = graft.ops.Densify.dictionary(df, "k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(dict == Map("apple" -> 0L, "banana" -> 1L, "cherry" -> 2L),
      s"dictionary ranks wrong: $dict")
    // densify joins every non-null row back; ids are the dictionary's
    val dense = graft.ops.Densify.densify(df, "k")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(dense.length == 5 && dense.forall { case (k, id) => dict(k) == id })
    // deterministic run-to-run (rank is independent of range boundaries)
    val again = graft.ops.Densify.dictionary(df, "k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(again == dict)
    // scale guard: the rank must NOT plan as a single-partition global
    // window (the zipWithIndex path has no Window node at all)
    val realDict = graft.ops.Densify.dictionary(
      Tables.load(spark, sf, "customer"), "c_name")
    val plan = realDict.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"densify fell back to a window rank:\n${plan.take(2000)}")
    // dense ids are exactly 0..n-1 (the id_bitmap contract)
    val n = realDict.count()
    val mm = realDict.agg(min(col("dense_id")), max(col("dense_id")),
      countDistinct(col("dense_id"))).head()
    assert(mm.getLong(0) == 0L && mm.getLong(1) == n - 1 &&
      mm.getLong(2) == n)
  }

  test("densify append: new keys rank after the existing max, old ids byte-untouched") {
    import spark.implicits._
    val wave1 = Seq("banana", "delta", "apple").toDF("k")
    val dict1 = graft.ops.Densify.dictionary(wave1, "k")
    val ids1 = dict1.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // wave 2 re-sees old keys and brings two new ones (one sorts BEFORE
    // the old keys — it must still get a HIGHER id, never a re-rank)
    val wave2 = Seq("apple", "aardvark", "cherry", null.asInstanceOf[String])
      .toDF("k")
    val dict2 = graft.ops.Densify.append(dict1, wave2, "k")
    val ids2 = dict2.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(ids1.forall { case (k, id) => ids2(k) == id },
      s"append re-ranked existing keys: $ids1 vs $ids2")
    assert(ids2 == ids1 ++ Map("aardvark" -> 3L, "cherry" -> 4L),
      s"append ids wrong: $ids2")
    // appending nothing new is the identity
    val dict3 = graft.ops.Densify.append(dict2, wave1, "k")
    assert(dict3.count() == 5)
    // ids stay dense 0..n-1 after the append (the id_bitmap contract)
    val mm = dict2.agg(min(col("dense_id")), max(col("dense_id")),
      countDistinct(col("dense_id"))).head()
    assert(mm.getLong(0) == 0L && mm.getLong(1) == 4L && mm.getLong(2) == 5L)
  }

  test("densify edges: empty and all-null frames yield empty dictionaries, append from empty starts at 0") {
    import spark.implicits._
    val empty = Seq.empty[String].toDF("k")
    assert(graft.ops.Densify.dictionary(empty, "k").count() == 0)
    assert(graft.ops.Densify.densify(empty, "k").count() == 0)
    val nulls = Seq(null.asInstanceOf[String], null.asInstanceOf[String])
      .toDF("k")
    assert(graft.ops.Densify.dictionary(nulls, "k").count() == 0)
    // appending into an EMPTY dictionary must start ids at 0 (the
    // coalesce(max+1, 0) base), not NPE on the missing max
    val grown = graft.ops.Densify.append(
      graft.ops.Densify.dictionary(empty, "k"),
      Seq("b", "a").toDF("k"), "k")
    val ids = grown.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(ids == Map("a" -> 0L, "b" -> 1L), s"append-from-empty wrong: $ids")
  }
}
