package perfbench

import graft.SparkEntry
import graft.api.Graft
import graft.apps.RagPipeline
import org.apache.spark.BusDrain
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's JVM side. It drives the engine only through its
  * public entry points and writes one JSON result file; `run.py`
  * launches it, checks the result and prints the benchmark line.
  *
  * Arguments are `key=value` pairs:
  *   mode      run | golden
  *   workload  queries_iterative | rag_poll
  *   seed      key order of each pass (queries_iterative)
  *   trace     0 | 1
  *   data      directory of the input tables
  *   work      working directory of this run (cwd of the JVM)
  *   keys      comma-separated keys of one pass (queries_iterative, mode=run)
  *   warm      warm passes after the cold one (queries_iterative, mode=run)
  *   golden    golden checksum file (queries_iterative, mode=run)
  *   only      comma-separated keys (mode=golden; default all)
  *   out       result file
  */
object Harness {
  private val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = cpuBean.getProcessCpuTime
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val tee = new MemoTee(System.err)
    System.setErr(tee)
    val spark = session(work)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val h = new Harness(spark, rec, tee, a("workload"), a("data"), work,
      a.getOrElse("seed", "1").toLong, a.getOrElse("trace", "0") == "1",
      a.get("keys").map(_.split(',').toSeq).getOrElse(Nil), a.getOrElse("warm", "1").toInt)
    val out = try a("mode") match {
      case "run" => h.run(a.get("golden"))
      case "golden" => h.golden(a.get("only").map(_.split(',').toSet))
    } finally spark.stop()
    Files.writeString(Paths.get(a("out")), out)
  }

  /** The session of the engine's own bench (`graft.BenchEnv`) on
    * `local[4]`, with every local directory inside the run's work dir. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.graft.tailSortSinglePartition", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Row count and an order-insensitive content hash. Doubles are
    * compared to 10 significant digits and floats to 7, so aggregation
    * order cannot flip the hash; array elements are sorted. */
  def checksum(df: DataFrame): (Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => canon(col(f.name), f.dataType))
    val h = pmod(xxhash64(cols.toIndexedSeq: _*), lit(1L << 31))
    val r = named.select(h.as("h")).agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType => format_string("%.9e", c)
    case FloatType => format_string("%.6e", c)
    case ArrayType(et, _) =>
      val elems = transform(c, x => canon(x, et))
      if (RowOrdering.isOrderable(canonType(et))) array_sort(elems) else elems
    case MapType(kt, vt, _) =>
      canon(map_entries(c), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case StructType(fs) =>
      when(c.isNotNull, struct(fs.toIndexedSeq.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def canonType(t: DataType): DataType = t match {
    case DoubleType | FloatType => StringType
    case ArrayType(et, n) => ArrayType(canonType(et), n)
    case MapType(kt, vt, _) => ArrayType(StructType(Seq(
      StructField("key", canonType(kt)), StructField("value", canonType(vt)))))
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = canonType(f.dataType))))
    case other => other
  }

  /** Every registry key of `queries_iterative`: the modules of its
    * iterative driver loops, less the excluded keys, plus the
    * pseudo-relevance-feedback loop, which the registry keeps in
    * `LexicalOps`. A run times a subset of these (the `keys` argument);
    * `mode=golden` runs them all. */
  def iterativeKeys: Seq[String] = {
    import graft.operators._
    (Seq(GraphOps.queries, GeoOps.queries, RetrievalOps.queries,
      graft.streaming.StreamingOps.queries).flatMap(_.keys) :+ "retrieval_prf_expansion")
      .filterNot(Excluded.keys).distinct.sorted
  }
}

/** Keys left out of `queries_iterative`. Each of these runs a streaming
  * query whose checkpoint the engine puts under `graft.BenchEnv.localDir`,
  * a fixed path outside the working tree, and a benchmark run may write
  * only inside its checkout. They can rejoin once that location follows
  * the session's local directory. */
object Excluded {
  val keys: Set[String] = Set(
    "streaming_dedup_watermark", "streaming_dim_join", "streaming_event_counts",
    "streaming_ivf_ingest", "streaming_late_arrival", "streaming_minhash_dedup",
    "streaming_session_window", "streaming_sliding_window", "streaming_ss_left_outer",
    "streaming_state_eviction", "streaming_state_rows", "streaming_stateful_milestones",
    "streaming_stream_stream_join", "streaming_topk_per_window", "streaming_watermark_lag",
    "streaming_windowed_counts")
}

/** stderr pass-through that also picks up the engine's memo-build
  * lines (`[memo-build] <label> <seconds> s`). */
final class MemoTee(under: java.io.PrintStream) extends java.io.PrintStream(under, true) {
  @volatile var builds = 0L
  @volatile var buildS = 0.0
  private val Line = """\[memo-build\] (\S+) ([0-9.]+) s""".r.unanchored
  override def println(x: String): Unit = {
    x match {
      case Line(_, s) => synchronized { builds += 1; buildS += s.toDouble }
      case _ =>
    }
    super.println(x)
  }
}

/** One timed operation: a query key run to its noop sink, or a
  * pipeline poll. Times in seconds. */
final case class Op(name: String, pass: Int, build: Double,
    plan: Double, exec: Double, cpu: Double, ok: Boolean, error: String = "",
    startMs: Long = 0, endMs: Long = 0,
    rows: Long = -1, hash: Long = 0, pinsCreated: Int = 0, pinsFreed: Int = 0,
    pinMb: Double = 0, memoBuilds: Long = 0, memoS: Double = 0,
    batches: Long = 0, batchS: Double = 0, check: String = "") {
  def wall: Double = build + plan + exec
  /** The op field of the job tags this operation's phases set. */
  def tag: String = s"$name#$pass"
}

final class Harness(spark: SparkSession, rec: Recorder, tee: MemoTee,
    workload: String, data: String, work: Path, seed: Long, trace: Boolean,
    passKeys: Seq[String], warmPasses: Int) {
  import Harness._
  private val sc = spark.sparkContext
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val probes = mutable.ArrayBuffer.empty[Double]
  private val streams = new StreamRecorder
  spark.streams.addListener(streams)
  private var readyMs = 0L
  private val marks = mutable.LinkedHashMap.empty[String, Long]
  marks("jvm_start") = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  marks("session") = System.currentTimeMillis()

  /** min-of-3 `a1_count_by_year` with count(): the host-drift probe of
    * the engine's bench, taken at the start, middle and end of a run. */
  private def probe(): Unit = {
    rec.phase(sc, "pb|probe|probe")
    val fn = SparkEntry.queries("a1_count_by_year")
    probes += (1 to 3).map { _ =>
      val t0 = System.nanoTime(); fn(spark, data).count(); secs(t0, System.nanoTime())
    }.min * 1000
  }

  /** Untimed warm-up: the first probe is the JVM's first query. */
  private def warmUp(): Unit = {
    probe()
    readyMs = System.currentTimeMillis()
    marks("ready") = readyMs
  }

  /** Storage held by persisted RDDs, in MB (traced runs only: it polls
    * every block manager). */
  private def storageMb(): Double =
    if (trace) sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6 else 0.0

  // ---- queries_iterative -------------------------------------------

  private def runQuery(key: String, pass: Int, expect: Option[(Long, Long)]): Op = {
    val fn = SparkEntry.queries(key)
    def phase(p: String): Unit = {
      if (trace) BusDrain(sc)
      rec.phase(sc, s"pb|$key#$pass|$p")
    }
    val pins0 = Graft.pinSnapshot(spark)
    val memo0 = (tee.builds, tee.buildS)
    val stream0 = (streams.batches, streams.batchMs)
    val t = Array.fill(4)(0L)
    val c0 = cpuNs()
    val t0ms = System.currentTimeMillis()
    t(0) = System.nanoTime()
    val res = try {
      phase("build")
      val df = fn(spark, data)
      t(1) = System.nanoTime()
      phase("plan")
      df.queryExecution.executedPlan
      t(2) = System.nanoTime()
      phase("exec")
      df.write.format("noop").mode("overwrite").save()
      if (trace) BusDrain(sc)
      t(3) = System.nanoTime()
      Right(df)
    } catch { case NonFatal(e) =>
      val now = System.nanoTime()
      (1 to 3).foreach(i => if (t(i) == 0L) t(i) = now)
      Left(Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString)
    }
    val cpu = cpuNs() - c0
    rec.phase(sc, s"pb|$key#$pass|check")
    val base = Op(key, pass, secs(t(0), t(1)), secs(t(1), t(2)), secs(t(2), t(3)),
      cpu / 1e9, ok = res.isRight, startMs = t0ms,
      pinsCreated = (Graft.pinSnapshot(spark) -- pins0).size, pinMb = storageMb(),
      memoBuilds = tee.builds - memo0._1, memoS = tee.buildS - memo0._2,
      batches = streams.batches - stream0._1,
      batchS = (streams.batchMs - stream0._2) / 1000.0)
    val op = res match {
      case Left(err) => base.copy(error = err)
      case Right(df) =>
        val checked = expect.map { _ =>
          try { val (n, hsh) = checksum(df); base.copy(rows = n, hash = hsh) }
          catch { case NonFatal(e) => base.copy(ok = false, error = s"check: ${e.getMessage}") }
        }.getOrElse(base)
        expect match {
          case Some((n, hsh)) if checked.ok && (checked.rows != n || checked.hash != hsh) =>
            checked.copy(check = s"rows/hash ${checked.rows}/${checked.hash} != golden $n/$hsh")
          case _ => checked
        }
    }
    rec.phase(sc, s"pb|$key#$pass|release")
    op.copy(pinsFreed = Graft.releaseQueryPins(spark, pins0))
  }

  /** One cold pass over the keys, checked against the golden file,
    * then the warm passes; the seed shuffles the order of each pass. */
  private def runQueries(golden: Map[String, (Long, Long)]): Unit = {
    val rnd = new scala.util.Random(seed)
    val passes = Seq.fill(1 + warmPasses)(rnd.shuffle(passKeys))
    passes.zipWithIndex.foreach { case (order, p) =>
      if (p == 1) probe()
      order.foreach { key =>
        ops += runQuery(key, p,
          expect = if (p == 0) Some(golden.getOrElse(key, (-1L, -1L))) else None)
      }
    }
  }

  // ---- rag_poll ------------------------------------------------------

  private val rag = work.resolve("rag")
  private val ragIn = rag.resolve("in")
  private val ragDocs = ragIn.resolve("documents.parquet")
  private val ragOut = rag.resolve("out")
  private var landedBytes = 0L
  private var landedDocs = 0L
  private val ragErrors = mutable.ArrayBuffer.empty[String]

  /** The staged batches `run.py` wrote: batch k lands before poll k;
    * the last poll lands nothing. */
  private def stagedBatches(): Seq[Path] = {
    val dir = work.resolve("staging")
    Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString).toSeq
  }

  private def land(batch: Path): Unit = {
    val tmp = ragDocs.resolve("_" + batch.getFileName)
    Files.copy(batch, tmp)
    Files.move(tmp, ragDocs.resolve(batch.getFileName), StandardCopyOption.ATOMIC_MOVE)
    landedBytes += Files.size(batch)
  }

  /** Poll `i`: the cold run (pass 0), a poll that lands a batch
    * (pass 1), or the final poll that lands nothing (pass 2). */
  private def poll(i: Int, batch: Option[Path]): Op = {
    val name = f"poll$i%02d"
    val pass = if (i == 0) 0 else if (batch.isDefined) 1 else 2
    val pins0 = Graft.pinSnapshot(spark)
    val memo0 = (tee.builds, tee.buildS)
    rec.phase(sc, s"pb|$name#$pass|pipeline")
    val c0 = cpuNs(); val t0 = System.nanoTime(); val t0ms = System.currentTimeMillis()
    val res = try {
      batch.foreach(land)
      RagPipeline.run(spark, ragIn.toString, ragOut.toString); None
    } catch { case NonFatal(e) => Some(String.valueOf(e.getMessage)) }
    if (trace) BusDrain(sc)
    val t1 = System.nanoTime(); val cpu = cpuNs() - c0
    rec.phase(sc, s"pb|$name#$pass|idle")
    Op(name, pass, 0, 0, secs(t0, t1), cpu / 1e9,
      ok = res.isEmpty, error = res.getOrElse(""), startMs = t0ms,
      endMs = System.currentTimeMillis(),
      pinsCreated = (Graft.pinSnapshot(spark) -- pins0).size, pinMb = storageMb(),
      memoBuilds = tee.builds - memo0._1, memoS = tee.buildS - memo0._2)
  }

  /** The three output checks of the poll series, run after it. */
  private def checkRag(): Unit = {
    rec.phase(sc, "pb|check|check")
    val docs = spark.read.parquet(ragDocs.toString).select(col("doc_id"))
    val state = spark.read.parquet(ragOut.resolve("state").toString).select(col("doc_id"))
    val dialogues = spark.read.parquet(ragOut.resolve("dialogues").toString)
    val nDocs = docs.count()
    landedDocs = nDocs
    if (state.count() != nDocs || state.except(docs).count() != 0 ||
        docs.except(state).count() != 0)
      ragErrors += "ingest state differs from the documents seen"
    val d = dialogues.agg(count(lit(1)), countDistinct(col("file_id"))).head()
    if (d.getLong(0) != nDocs || d.getLong(1) != nDocs)
      ragErrors += s"dialogues has ${d.getLong(0)} rows for ${d.getLong(1)} file ids, " +
        s"expected one per ingested document ($nDocs)"
    val rebuilt = rag.resolve("rebuilt")
    RagPipeline.run(spark, ragIn.toString, rebuilt.toString)
    Seq("index", "index_meta").foreach { t =>
      val got = checksum(spark.read.parquet(ragOut.resolve(t).toString))
      val want = checksum(spark.read.parquet(rebuilt.resolve(t).toString))
      if (got != want) ragErrors += s"$t after the polls != a from-scratch run ($got vs $want)"
    }
  }

  private def runRag(): Unit = {
    Files.createDirectories(ragDocs)
    val plan = stagedBatches().map(Some(_)) :+ None
    plan.zipWithIndex.foreach { case (b, i) =>
      if (i == 1) probe()
      ops += poll(i, b)
    }
    checkRag()
  }

  // ---- entry points ----------------------------------------------------

  def run(goldenFile: Option[String]): String = {
    warmUp()
    workload match {
      case "rag_poll" => runRag()
      case "queries_iterative" => runQueries(goldenFile.map(readGolden).getOrElse(Map.empty))
    }
    marks("timed_done") = System.currentTimeMillis()
    probe()
    BusDrain(sc)
    marks("end") = System.currentTimeMillis()
    Report.json(this)
  }

  /** Runs every key of the workload (or those in `only`) once and
    * records its checksum; also dumps each result as parquet next to
    * the engine's DuckDB oracle SQL, for `oracle_check.py`. */
  def golden(only: Option[Set[String]]): String = {
    warmUp()
    val dump = work.resolve("golden_out")
    val lines = iterativeKeys.filter(k => only.forall(_(k))).map { key =>
      val pins0 = Graft.pinSnapshot(spark)
      val df = SparkEntry.queries(key)(spark, data)
      df.write.format("noop").mode("overwrite").save()
      val (n, h) = checksum(df)
      df.write.mode("overwrite").parquet(dump.resolve(key).toString)
      Graft.releaseQueryPins(spark, pins0)
      val oracle = SparkEntry.oracleSql.get(key).map(Report.str).getOrElse("null")
      s"""${Report.str(key)}: {"rows": $n, "hash": $h, "oracle": $oracle}"""
    }
    lines.mkString("{\n", ",\n", "\n}\n")
  }

  private def readGolden(file: String): Map[String, (Long, Long)] = {
    val Entry = """"([^"]+)": \{"rows": (-?\d+), "hash": (-?\d+)""".r.unanchored
    Files.readAllLines(Paths.get(file)).toArray.map(_.toString).collect {
      case Entry(k, n, h) => k -> (n.toLong, h.toLong)
    }.toMap
  }

  // ---- accessors for the report ---------------------------------------
  def allOps: Seq[Op] = ops.toSeq
  def jobs: Seq[JobRec] = rec.snapshot()
  def probeMs: Seq[Double] = probes.toSeq
  def ready: Long = readyMs
  def setupMarks: Seq[(String, Long)] = marks.toSeq
  def errors: Seq[String] = ragErrors.toSeq
  def landedInputBytes: Long = landedBytes
  def ingestedDocs: Long = landedDocs
  def isTrace: Boolean = trace
  def workloadName: String = workload
  def pinsLiveEnd: Int = sc.getPersistentRDDs.size
}
