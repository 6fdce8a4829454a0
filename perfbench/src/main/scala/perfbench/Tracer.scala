package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query spans for a traced pass, kept in memory and written once
  * at the end of the run (`spans.jsonl`, one JSON object a line).
  *
  * Span kinds, each tagged with its parent query span `"<pass>:<name>"`:
  *  - `query`: wall window (epoch ms), build and action ms, rows, GC
  *    (MXBean delta), `/proc/self/io` deltas, cached bytes, file ops;
  *  - `phase`: `queries.build` (inside the registry's `run`) and
  *    `queries.action` (inside `count()`);
  *  - `job`: one per Spark job, with its stage count and its tasks'
  *    metrics summed; the parent comes from the job's local properties,
  *    which Spark copies into threads the query starts (stream threads);
  *  - `qe`: the catalyst phases of one QueryExecution (`qe.tracker`);
  *  - `batch`: the `durationMs` terms of one streaming micro-batch.
  *
  * `qe` and `batch` events carry no query tag, so they are attributed
  * to the query that is running when they arrive; [[endQuery]] drains
  * the listener bus before the next query starts, which makes that
  * attribution exact. The drain is part of the traced pass's time.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[String]
  @volatile private var current: String = null
  private var attached = false
  private var queryStartMs = 0L
  private var gc0, wchar0, rchar0 = 0L
  private var fs0 = Seq.empty[Long]

  private def emit(s: String): Unit = spans.synchronized { spans += s }

  private final class JobAcc(val id: Int, val parent: String,
      val phase: String, val start: Long) {
    var stages, tasks, failedTasks, emptyTasks = 0L
    var taskMs, cpuNs, gcMs, delayMs, inBytes, inRows = 0L
    var shWrite, shRead, fetchWaitMs, spill, outBytes, outRows = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new ConcurrentHashMap[Int, JobAcc]()

  private def jobSpan(j: JobAcc, end: Long, ok: Boolean): String =
    s"""{"type":"job","parent":${Json.str(j.parent)},""" +
      s""""phase":${Json.str(j.phase)},"job":${j.id},"start":${j.start},""" +
      s""""end":$end,"ok":$ok,"stages":${j.stages},"tasks":${j.tasks},""" +
      s""""failed_tasks":${j.failedTasks},"empty_tasks":${j.emptyTasks},""" +
      s""""task_ms":${j.taskMs},"cpu_ms":${j.cpuNs / 1e6},""" +
      s""""task_gc_ms":${j.gcMs},"delay_ms":${j.delayMs},""" +
      s""""input_bytes":${j.inBytes},"input_rows":${j.inRows},""" +
      s""""shuffle_write_bytes":${j.shWrite},""" +
      s""""shuffle_read_bytes":${j.shRead},""" +
      s""""fetch_wait_ms":${j.fetchWaitMs},"spill_bytes":${j.spill},""" +
      s""""output_bytes":${j.outBytes},"output_rows":${j.outRows}}"""

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val acc = new JobAcc(e.jobId,
        props.map(_.getProperty(Tracer.QueryKey)).orNull,
        props.map(_.getProperty(Tracer.PhaseKey)).orNull, e.time)
      jobs.put(e.jobId, acc)
      e.stageIds.foreach(stageJob.put(_, acc))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks += 1
        if (e.reason != org.apache.spark.Success) j.failedTasks += 1
        val info = e.taskInfo
        Option(e.taskMetrics).foreach { m =>
          j.taskMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          val fetching =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
            else 0L
          j.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetching)
          j.inBytes += m.inputMetrics.bytesRead
          j.inRows += m.inputMetrics.recordsRead
          j.shWrite += m.shuffleWriteMetrics.bytesWritten
          val sr = m.shuffleReadMetrics
          j.shRead += sr.remoteBytesRead + sr.localBytesRead
          j.fetchWaitMs += sr.fetchWaitTime
          j.spill += m.diskBytesSpilled
          j.outBytes += m.outputMetrics.bytesWritten
          j.outRows += m.outputMetrics.recordsWritten
          if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0)
            j.emptyTasks += 1
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        emit(jobSpan(j, e.time, e.jobResult == JobSucceeded))
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      emit(s"""{"type":"qe","parent":${Json.str(current)},""" +
        s""""func":${Json.str(func)},"ok":$ok,"analysis_ms":${ms("analysis")},""" +
        s""""optimization_ms":${ms("optimization")},""" +
        s""""planning_ms":${ms("planning")}}""")
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution,
        e: Exception): Unit = record(func, qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      def ms(k: String) = d.get(k).map(_.longValue).getOrElse(0L)
      emit(s"""{"type":"batch","parent":${Json.str(current)},""" +
        s""""batch":${e.progress.batchId},"rows":${e.progress.numInputRows},""" +
        s""""trigger_ms":${ms("triggerExecution")},""" +
        s""""add_batch_ms":${ms("addBatch")},""" +
        s""""query_planning_ms":${ms("queryPlanning")},""" +
        s""""wal_commit_ms":${ms("walCommit")},""" +
        s""""commit_offsets_ms":${ms("commitOffsets")},""" +
        s""""state_commit_ms":${e.progress.stateOperators.map(_.commitTimeMs).sum}}""")
    }
  }

  def attach(): Unit = if (!attached) {
    // events of the untraced pass before must not reach the listeners
    org.apache.spark.PerfbenchBridge.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBridge.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    jobs.values.asScala.foreach(j => emit(jobSpan(j, -1L, ok = false)))
    jobs.clear()
    stageJob.clear()
    attached = false
  }

  private def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  def beginQuery(parent: String): Unit = {
    current = parent
    gc0 = gcMs()
    wchar0 = ProcStats.wchar()
    rchar0 = ProcStats.rchar()
    fs0 = CountingLocalFs.snapshot()
    queryStartMs = System.currentTimeMillis()
  }

  def endQuery(parent: String, name: String, pass: Int, buildMs: Double,
      actionMs: Double, rows: Long, error: String): Unit = {
    val endMs = System.currentTimeMillis()
    org.apache.spark.PerfbenchBridge.drain(sc)
    stageJob.clear()
    val cached = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val fs = CountingLocalFs.snapshot().zip(fs0).map { case (a, b) => a - b }
    val buildEnd = queryStartMs + math.round(buildMs)
    emit(s"""{"type":"query","id":${Json.str(parent)},"query":${Json.str(name)},""" +
      s""""pass":$pass,"start":$queryStartMs,"end":$endMs,""" +
      s""""build_ms":$buildMs,"action_ms":$actionMs,"rows":$rows,""" +
      s""""error":${Json.str(error)},"gc_ms":${gcMs() - gc0},""" +
      s""""wchar":${ProcStats.wchar() - wchar0},""" +
      s""""rchar":${ProcStats.rchar() - rchar0},"cached_bytes":$cached,""" +
      s""""files_created":${fs(0)},"renames":${fs(1)},"deletes":${fs(2)}}""")
    emit(s"""{"type":"phase","parent":${Json.str(parent)},""" +
      s""""name":"queries.build","start":$queryStartMs,"end":$buildEnd}""")
    emit(s"""{"type":"phase","parent":${Json.str(parent)},""" +
      s""""name":"queries.action","start":$buildEnd,"end":$endMs}""")
    current = null
  }

  def writeSpans(path: String): Unit = spans.synchronized {
    Files.writeString(Paths.get(path), spans.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Local properties naming the running query span and its phase. */
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"
}
