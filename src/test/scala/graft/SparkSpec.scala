package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    // the harness mains' session config, so tests run the plans
    // (tail-sort rewrite included) that Verify and Bench run
    val s = BenchEnv.session("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf = "/root/testdata/sf0.001"
}
