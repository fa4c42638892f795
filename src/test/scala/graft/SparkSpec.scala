package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one lazy SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  // one JVM-wide session for the whole test run (suites run in one fork)
  lazy val session: SparkSession = {
    val s = Sessions.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", TempDirs.create("graft_wh"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
