package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** One Spark job and what its tasks spent. `tag` is the
  * `pb|<op>|<phase>` label of the harness phase that launched
  * it; `site` is the call site and physical plan of its root SQL
  * execution (or the call site of its result stage when it ran outside
  * any SQL execution). */
final class JobRec(val id: Int, val tag: String, val site: String,
    val inSql: Boolean, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var written = 0L

  /** A parquet schema-inference job started by the engine's table
    * loaders: it runs outside any SQL execution, from graft.Tables. */
  def schemaInference: Boolean = !inSql && site.contains("graft.Tables$")
  def wallMs: Long = endMs - startMs
  def op: String = tag.split('|')(1)
  def phase: String = tag.split('|')(2)
}

/** Records every job, stage and task of the session's SparkContext.
  *
  * Jobs are credited to harness phases by SQL execution, not by call
  * site: under adaptive execution most jobs are submitted from a pool
  * thread whose call site reads `... at CompletableFuture.java`, but
  * every job carries `spark.sql.execution.root.id`, and the root
  * execution's description is the job description the harness set
  * when it started the phase. Jobs with neither (a streaming
  * micro-batch sets its own description) fall back to the phase that
  * was open when the job started. Read the records only after
  * [[org.apache.spark.BusDrain]]. */
final class Recorder extends SparkListener {
  import Recorder.Exec
  private val execs = mutable.HashMap.empty[Long, Exec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val byId = mutable.HashMap.empty[Int, JobRec]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]

  // (start ms, tag) of each harness phase, appended by the harness thread
  private val phases = new java.util.concurrent.ConcurrentSkipListMap[Long, String]()
  private var lastPhaseKey = 0L

  /** Open a phase; jobs launched from now on are credited to `tag`. */
  def phase(sc: org.apache.spark.SparkContext, tag: String): Unit = {
    sc.setJobDescription(tag)
    synchronized {
      val now = math.max(System.currentTimeMillis(), lastPhaseKey)
      lastPhaseKey = now
      phases.put(now, tag)
    }
  }

  private def phaseAt(ms: Long): String =
    Option(phases.floorEntry(ms)).map(_.getValue).getOrElse("pb|setup|setup")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = Exec(s.rootExecutionId.getOrElse(s.executionId),
        s.description, s.details + "\n" + s.physicalPlanDescription)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val exec = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
      .flatMap(id => execs.get(id.toLong)).map(x => execs.getOrElse(x.root, x))
    val tag = prop("spark.job.description").filter(_.startsWith("pb|"))
      .orElse(exec.map(_.desc).filter(_.startsWith("pb|")))
      .getOrElse(phaseAt(e.time))
    val site = exec.map(_.site).getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
    val j = new JobRec(e.jobId, tag, site, exec.isDefined, e.time)
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
        j.written += m.outputMetrics.bytesWritten
      }
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.toList)
}

object Recorder {
  private final case class Exec(root: Long, desc: String, site: String)
}

/** Micro-batches of the session's streaming queries. */
final class StreamRecorder extends StreamingQueryListener {
  @volatile var batches = 0L
  @volatile var batchMs = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    batches += 1
    batchMs += Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
  }
}
