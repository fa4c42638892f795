package graft

import java.util.concurrent.atomic.AtomicInteger

/** The fixture-stager contract: a build runs once per (JVM, sf dir) in
  * its own scratch dir, and `Bench.warmup` stages every registered
  * stager, so no face's timed run pays its fixture's staging write. */
class StagerSpec extends SparkSpec {
  import StagerSpec._

  private val sf = "/root/testdata/sf0.001"

  test("a second apply returns the staged value without rebuilding") {
    val first = counting(spark, "stagerspec_a")
    val n = builds.get
    assert(counting(spark, "stagerspec_a") eq first)
    assert(builds.get == n)
    assert(new java.io.File(first).isDirectory, "the build gets its own scratch dir")
    assert(counting.staged("stagerspec_a"))
  }

  test("distinct sf dirs build separately") {
    val n = builds.get
    val (x, y) = (counting(spark, "stagerspec_x"), counting(spark, "stagerspec_y"))
    assert(builds.get == n + 2)
    assert(x != y)
    assert(counting.staged("stagerspec_x") && counting.staged("stagerspec_y"))
    assert(!counting.staged("stagerspec_unbuilt"))
  }

  test("Bench.warmup stages every registered stager for its sf dir") {
    assume(new java.io.File(sf).isDirectory, s"fixture dir $sf absent")
    Bench.warmup(spark, sf)
    spark.catalog.clearCache()
    val names = Stager.all.map(_.name)
    assert(names.distinct.size == names.size, s"duplicate stager names: $names")
    val missing = FamilyStagers -- names
    assert(missing.isEmpty, s"stagers not registered: $missing")
    val unstaged = Stager.all.filterNot(_.staged(sf)).map(_.name)
    assert(unstaged.isEmpty, s"warmup left unstaged: $unstaged")
  }
}

object StagerSpec {
  val builds = new AtomicInteger

  /** Harmless when a later warmup runs it too: it only counts. */
  val counting: Stager[String] = Stager("graft_stagerspec") { (_, _, tmp) =>
    builds.incrementAndGet()
    tmp
  }

  /** The query families' stagers, by name. */
  val FamilyStagers: Set[String] = Set(
    // ScaleJoinQueries
    "graft_buckets", "graft_stats", "graft_spj", "graft_q47",
    // SourceFormatQueries
    "graft_zorder", "graft_q180", "graft_evolve", "graft_shippart",
    // NorthStarQueries
    "graft_s08idx", "graft_d13idx", "graft_s11idx",
    // AdvancedQueries
    "graft_q165", "graft_q171",
    // StreamMediaQueries
    "graft_m04", "graft_st27in", "graft_st43in", "graft_st52in",
    "graft_st53in", "graft_st54", "graft_st69", "graft_st72", "graft_st63",
    "graft_m09in", "graft_st47", "graft_st50", "graft_st29", "graft_st34",
    "graft_st12", "graft_st24", "graft_st39", "graft_st38", "graft_st07in",
    "graft_st15s", "graft_st17in", "graft_st21base", "graft_st21in",
    "graft_st26in")
}
