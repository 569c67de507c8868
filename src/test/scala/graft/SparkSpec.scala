package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites, built by the same factory
  * as the driver's Verify/Bench mains (UTC, ns-timestamps as long, graft
  * extensions, per-process warehouse), at small shuffle parallelism.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder().master("local[4]").name("graft-test")
      .shuffle(4).build()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}
