package graft

/** Dev tool: print the formatted physical plan of named queries.
  * Usage: runMain graft.Explain <sfDir> <name1,name2,...>
  * Not part of the driver contract — plan ASSERTIONS live in ScaleSpec
  * and the per-operator specs; this is for eyeballing scan pushdown,
  * exchange placement, and WholeStageCodegen spans while iterating. */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val spark = Sessions.start("4", logLevel = "ERROR")
    names.split(",").foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
