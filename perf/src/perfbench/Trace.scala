package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into an engine module, made by the benchmark. */
final case class Span(id: Long, name: String, startMs: Long, endMs: Long,
    parent: Long) {
  def ms: Long = endMs - startMs
}

/** One Spark job: its span (0 = none), SQL execution id (-1 = none),
  * the innermost `graft.` frames of its recorded call site, and its
  * stages. `endMs` is filled in when the job ends.
  */
final case class JobRec(jobId: Int, span: Long, execId: Long,
    graftFrames: Seq[String], stageIds: Seq[Int], startMs: Long) {
  @volatile var endMs: Long = startMs
}

/** Task metrics of one completed stage attempt. */
final case class StageRec(stageId: Int, tasks: Int, runMs: Long, cpuMs: Long,
    gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, inputBytes: Long, outputBytes: Long,
    recordsWritten: Long, maxTaskMs: Long, medianTaskMs: Long)

/** Counters summed over a set of jobs. */
final case class JobAgg(jobs: Int, stages: Int, tasks: Long, runMs: Long,
    cpuMs: Long, gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, inputBytes: Long, outputBytes: Long,
    recordsWritten: Long, busyMs: Long, taskSkew: Double)

/** Benchmark-side tracing: spans around the benchmark's calls into the
  * engine, plus a SparkListener and a QueryExecutionListener that record
  * every job, stage and query execution while installed.
  *
  * Each span tags the jobs it launches through a benchmark-owned Spark
  * local property ([[SpanKey]]); the engine's own job descriptions are
  * never read or written (VersionedTable sets them to `vt:*`). Spans and
  * events stay in memory; [[drain]] waits for the listener bus before the
  * numbers are read.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private var nextSpan = 1L
  private var openSpan = 0L

  private val jobBuf = mutable.LinkedHashMap[Int, JobRec]()
  private val stageBuf = mutable.ArrayBuffer[StageRec]()
  private val taskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val planMsByExec = mutable.HashMap[Long, Long]()
  // Catalyst time of the execution whose end event is being delivered
  private var pendingPlanMs: Option[Long] = None
  private val rddBlocks = mutable.HashMap[String, Long]()
  private var storageNow = 0L
  private var storagePeak = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val site = e.stageInfos.headOption.map(_.details).getOrElse("")
      val frames = site.split("\n").iterator.map(_.trim)
        .filter(_.startsWith("graft.")).toSeq
      val rec = JobRec(e.jobId, prop(SpanKey).map(_.toLong).getOrElse(0L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        frames, e.stageIds, e.time)
      Tracer.this.synchronized { jobBuf(e.jobId) = rec }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { jobBuf.get(e.jobId).foreach(_.endMs = e.time) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) Tracer.this.synchronized {
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
          e.taskInfo.duration
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      Tracer.this.synchronized {
        val ds = taskMs.getOrElse(si.stageId, mutable.ArrayBuffer[Long]()).sorted
        val maxT = if (ds.isEmpty) 0L else ds.last
        val medT = if (ds.isEmpty) 0L else ds(ds.size / 2)
        stageBuf += (if (m == null) StageRec(si.stageId, si.numTasks,
          0, 0, 0, 0, 0, 0, 0, 0, 0, maxT, medT)
        else StageRec(si.stageId, si.numTasks, m.executorRunTime,
          m.executorCpuTime / 1000000L, m.jvmGCTime,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.outputMetrics.recordsWritten, maxT, medT))
        taskMs.remove(si.stageId)
      }
    }
    // The session's QueryExecutionListener is called for an execution's
    // end event just before this listener sees the same event (listeners
    // of one queue run in registration order, one event at a time), so
    // the pending Catalyst time belongs to this execution id.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        pendingPlanMs.foreach(ms => planMsByExec(end.executionId) = ms)
        pendingPlanMs = None
      }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) Tracer.this.synchronized {
        val key = b.blockManagerId.executorId + "/" + b.blockId.name
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        storageNow += size - rddBlocks.getOrElse(key, 0L)
        if (size == 0L) rddBlocks.remove(key) else rddBlocks(key) = size
        storagePeak = math.max(storagePeak, storageNow)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      Tracer.this.synchronized { pendingPlanMs = Some(ms) }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait for every posted event, then stop listening. */
  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain.waitUntilEmpty(sc)

  /** Run `f` as a span named `name`; jobs it launches carry the span id. */
  def span[T](name: String)(f: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val prevProp = sc.getLocalProperty(SpanKey)
    val parent = openSpan
    openSpan = id
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      spanBuf += Span(id, name, t0, System.currentTimeMillis(), parent)
      openSpan = parent
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  def spans: Seq[Span] = spanBuf.toSeq
  def spansNamed(name: String): Seq[Span] = spanBuf.filter(_.name == name).toSeq
  def jobs: Seq[JobRec] = synchronized(jobBuf.values.toSeq)
  def storagePeakBytes: Long = synchronized(storagePeak)

  /** Spans plus all their descendants. */
  def withDescendants(roots: Seq[Span]): Set[Long] = {
    val ids = mutable.Set[Long]() ++ roots.map(_.id)
    var grew = true
    while (grew) {
      val more = spanBuf.filter(s => ids.contains(s.parent) && !ids.contains(s.id))
      more.foreach(ids += _.id)
      grew = more.nonEmpty
    }
    ids.toSet
  }

  def jobsInSpans(ids: Set[Long]): Seq[JobRec] = jobs.filter(j => ids.contains(j.span))

  def agg(js: Seq[JobRec]): JobAgg = synchronized {
    val stageIds = js.flatMap(_.stageIds).toSet
    val st = stageBuf.filter(s => stageIds.contains(s.stageId)).toSeq
    val skews = st.filter(s => s.tasks >= 2 && s.medianTaskMs > 0)
      .map(s => s.maxTaskMs.toDouble / s.medianTaskMs)
    JobAgg(js.size, st.size, st.map(_.tasks.toLong).sum, st.map(_.runMs).sum,
      st.map(_.cpuMs).sum, st.map(_.gcMs).sum, st.map(_.shuffleReadBytes).sum,
      st.map(_.shuffleWriteBytes).sum, st.map(_.spillBytes).sum,
      st.map(_.inputBytes).sum, st.map(_.outputBytes).sum,
      st.map(_.recordsWritten).sum,
      unionMs(js.map(j => (j.startMs, j.endMs))),
      if (skews.isEmpty) 1.0 else skews.sum / skews.size)
  }

  /** Catalyst analysis + optimization + planning time of the query
    * executions that launched these jobs.
    */
  def planMs(js: Seq[JobRec]): Long = synchronized {
    js.map(_.execId).filter(_ >= 0).distinct.map(planMsByExec.getOrElse(_, 0L)).sum
  }

  /** Wall time of `ss` not covered by any of their jobs: driver-side work. */
  def driverMs(ss: Seq[Span], js: Seq[JobRec]): Long =
    ss.map { s =>
      val inside = js.filter(j => j.endMs > s.startMs && j.startMs < s.endMs)
        .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      s.ms - unionMs(inside)
    }.sum

  def toJson(): Map[String, Any] = synchronized {
    Map(
      "spans" -> spanBuf.map(s => Map("id" -> s.id, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent)),
      "jobs" -> jobBuf.values.map(j => Map("job" -> j.jobId, "span" -> j.span,
        "exec" -> j.execId, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stageIds, "site" -> j.graftFrames.headOption.getOrElse(""))))
  }
}

object Tracer {
  /** Spark local property that tags a job with the benchmark span that
    * launched it.
    */
  val SpanKey = "perfbench.span"

  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The class of a call-site frame (`graft.pipeline.Bronze$.run(...)`
    * → `graft.pipeline.Bronze`).
    */
  def frameClass(frame: String): String = {
    val beforeParen = frame.takeWhile(_ != '(')
    val cls = beforeParen.substring(0, math.max(0, beforeParen.lastIndexOf('.')))
    cls.stripSuffix("$").replaceAll("\\$.*$", "")
  }
}
