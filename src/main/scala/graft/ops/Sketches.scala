package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Bloom-filter join pruning — the sketch the reference never needs at
  * 10⁴ rows (its gold layer is one denormalized table,
  * `/root/reference/README.md:46`) but that a 100 TB decontamination
  * join lives or dies by: build a bloom filter over the SMALL side's
  * keys once, ship it to every scan task as a literal, and drop the
  * ~99% of big-side rows that cannot match BEFORE they reach the
  * shuffle. Catalyst does this internally for runtime row-level
  * filtering ([[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]);
  * here the same codegen'd expressions are exposed as an explicit,
  * user-directed operator for the cases the optimizer's heuristics
  * won't trigger (e.g. a gram-level contamination join where the
  * "join" is buried under an explode).
  *
  * No false negatives (a bloom filter never drops a real match), so
  * `prefilter → exact verify join` is result-identical to the plain
  * join — which is what the q53 DuckDB oracle certifies.
  */
object Sketches {

  /** Aggregate `key` into one serialized bloom filter (binary), sized
    * for `expectedItems` at the library's default ~3% fpp. Mergeable:
    * partial filters OR together, so the build is one map-side pass
    * over the small side plus a tiny reduce. */
  def bloomAgg(key: Column, expectedItems: Long): Column =
    ColumnBridge.column(
      new BloomFilterAggregate(ColumnBridge.expression(xxhash64(key)), expectedItems)
        .toAggregateExpression())

  /** Membership probe against a driver-collected filter. The bytes ride
    * into the plan as a literal (same distribution path as a broadcast
    * var, but visible to codegen — `might_contain` inlines into the
    * scan's WholeStageCodegen filter). */
  def mightContain(bloomBytes: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      ColumnBridge.expression(lit(bloomBytes)),
      ColumnBridge.expression(xxhash64(key))))

  /** Build-side of [[bloomPrune]]: collect `keys`' single-row bloom
    * aggregate to the driver. `keys` is the SMALL side (a benchmark
    * suite, a blocklist) — at 100 TB it is still ~10⁵–10⁷ keys, a
    * sub-MB filter. Zero keys yield a valid EMPTY filter (probes all
    * false), not the NULL catalyst's aggregate returns — a null bloom
    * literal would NULL-out every downstream predicate and silently
    * drop the whole probed side. */
  def buildBloom(keys: DataFrame, keyCol: String, expectedItems: Long): Array[Byte] = {
    val bytes = keys.agg(bloomAgg(col(keyCol), expectedItems).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bytes != null) bytes
    else {
      val empty = org.apache.spark.util.sketch.BloomFilter.create(1)
      val bos = new java.io.ByteArrayOutputStream()
      empty.writeTo(bos)
      bos.toByteArray
    }
  }

  /** `df` minus the rows whose `keyCol` cannot be in `keys`: the cheap,
    * codegen'd, no-shuffle prefilter. Survivors (matches + ~3% false
    * positives) still need the exact verify join — compose as
    * `bloomPrune(...).join(keys, Seq(keyCol), "left_semi")`. */
  def bloomPrune(df: DataFrame, keyCol: String, keys: DataFrame,
                 expectedItems: Long): DataFrame =
    df.filter(mightContain(buildBloom(keys, keyCol, expectedItems), col(keyCol)))

  /** Gram-level benchmark decontamination with bloom pruning (q53):
    * which corpus docs share an `n`-gram with the eval set? Same
    * contract as [[Dedup.contaminatedDocs]] reduced to the doc-id set,
    * but the corpus's exploded grams — the 100×-the-corpus intermediate
    * at 100 TB — are bloom-pruned before the verify join, so only
    * actual-overlap grams (plus the fpp tail) ever shuffle. */
  def bloomDecontaminatedIds(docs: DataFrame, evalDocs: DataFrame,
                             idCol: String, textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol),
      // WordNGrams emits distinct grams per doc already
      explode(Dedup.wordNGrams(Dedup.words(col(textCol)), n)).as("gram"))
    // materialized once, by the sizing count: the bloom build and the
    // verify join in the lazy result read the same copy, so the
    // eval-side pipeline runs once
    val benchGrams = grams(evalDocs).select("gram").distinct()
      .localCheckpoint(eager = false)
    // sizing pre-pass on the SMALL side only; floor keeps a degenerate
    // eval set from building a zero-capacity filter
    val expected = math.max(benchGrams.count(), 1L)
    bloomPrune(grams(docs), "gram", benchGrams, expected)
      .join(benchGrams, Seq("gram"), "left_semi")
      .select(col(idCol)).distinct()
  }
}
