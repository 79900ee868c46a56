package graft

import org.apache.spark.sql.functions.col

/** The harness runner's failure policy: a non-fatal query failure
  * reports -1.0, names its key and still frees the query's pins; a
  * fatal error aborts the run. */
class BenchEnvSpec extends SparkSpec {

  /** `body`'s result and everything it printed to System.err. */
  private def capturingStderr[A](body: => A): (A, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try { val a = body; (a, buf.toString("UTF-8")) }
    finally System.setErr(prev)
  }

  test("a failing query reports -1.0, names its key and frees its pin") {
    val before = graft.api.Graft.pinSnapshot(spark)
    val ((dt, freed), err) = capturingStderr {
      BenchEnv.run(spark, "spec", "pinned_then_throws") {
        val pinned = Tables.part(spark, sf).select(col("p_partkey")).localCheckpoint(false)
        assert(pinned.count() > 0)
        throw new RuntimeException("boom")
      }
    }
    assert(dt == -1.0)
    assert(err.contains("[spec] pinned_then_throws failed: boom"), err)
    assert(freed >= 1, "the failed query's pin must be freed")
    assert(graft.api.Graft.pinSnapshot(spark) == before)
  }

  test("a fatal error propagates instead of becoming a -1 entry") {
    intercept[LinkageError] {
      BenchEnv.run(spark, "spec", "fatal")(throw new LinkageError("corrupt JVM"))
    }
  }

  test("a succeeding query reports its time") {
    val (dt, _) = BenchEnv.run(spark, "spec", "ok")(spark.range(10).count(): Unit)
    assert(dt >= 0.0)
  }
}
