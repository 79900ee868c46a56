package graft

/** Single-query timing harness for plan iteration: runs one registered
  * query N times (default 3) on a fresh session and prints each pass —
  * isolates a query from the full Bench's shared-JVM codegen-cache
  * pressure so a plan change's effect is measurable on its own.
  * Usage: runMain graft.BenchOne <queryKey> [sfDir] [passes]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <queryKey> [sfDir] [passes]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = BenchEnv.session(BenchEnv.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
      fn(spark, sfDir).explain("formatted")
    (1 to passes).foreach { i =>
      var n = 0L
      val (dt, _) = BenchEnv.run(spark, "bench-one", name) { n = fn(spark, sfDir).count() }
      if (dt >= 0) println(f"[bench-one] $name pass $i: $dt%.3f s ($n rows)")
    }
    spark.stop()
  }
}
