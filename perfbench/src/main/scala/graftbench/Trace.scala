package graftbench

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of one span (an execution phase or a stream phase). */
final class Layers {
  var jobs, stages, tasks, sqlExecutions = 0L
  var planMs, runMs, gcMs, fetchWaitMs = 0L
  var cpuNs = 0L
  var scanBytes, scanRows, shuffleWrite, shuffleRead, spill = 0L
  var cachePut, outBytes, outRecords = 0L

  def +=(o: Layers): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    sqlExecutions += o.sqlExecutions; planMs += o.planMs; runMs += o.runMs
    gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs; cpuNs += o.cpuNs
    scanBytes += o.scanBytes; scanRows += o.scanRows
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; cachePut += o.cachePut
    outBytes += o.outBytes; outRecords += o.outRecords
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "sql_executions" -> sqlExecutions, "plan_s" -> planMs / 1e3,
    "exec_run_s" -> runMs / 1e3, "exec_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "shuffle_fetch_wait_s" -> fetchWaitMs / 1e3,
    "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "cache_put_bytes" -> cachePut,
    "output_bytes" -> outBytes, "output_records" -> outRecords)
}

/** The traced run's recorder. It registers a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener, keeps spans in
  * memory and writes them out at the end.
  *
  * The harness opens a span around each call and names it in the local
  * property [[Trace.SpanProp]], so every Spark job is parented to the span
  * whose thread submitted it. Events without that property (stream
  * micro-batches, SQL execution starts, block updates) go to the span that
  * is open on the harness thread; [[span]] drains the listener bus on entry
  * and exit, so no event lands in the next span. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val layers = mutable.LinkedHashMap.empty[String, Layers]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobSpans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  /** Micro-batch progress, each with the span open when it arrived. */
  val progress: mutable.ArrayBuffer[(String, StreamingQueryProgress)] =
    mutable.ArrayBuffer.empty
  @volatile private var current: String = "idle"

  private def of(span: String): Layers = layers.getOrElseUpdate(span, new Layers)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .getOrElse(current)
      of(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
      jobStart(e.jobId) = (span, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (span, t0) =>
        jobSpans += Map("id" -> s"$span/job${e.jobId}", "parent" -> span,
          "start_ms" -> t0, "end_ms" -> e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        of(stageSpan.getOrElse(e.stageInfo.stageId, current)).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val l = of(stageSpan.getOrElse(e.stageId, current))
      l.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        l.runMs += m.executorRunTime; l.cpuNs += m.executorCpuTime
        l.gcMs += m.jvmGCTime
        l.scanBytes += m.inputMetrics.bytesRead
        l.scanRows += m.inputMetrics.recordsRead
        l.outBytes += m.outputMetrics.bytesWritten
        l.outRecords += m.outputMetrics.recordsWritten
        l.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        l.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        l.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        l.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid) Trace.this.synchronized {
        of(current).cachePut += info.memSize + info.diskSize
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { of(current).sqlExecutions += 1 }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        of(current).planMs += qe.tracker.phases.collect {
          case (phase, s) if PlanPhases(phase) => s.durationMs
        }.sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { progress += ((current, e.progress)) }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Runs `body` as span `id` under `parent` and returns its result and
    * its duration in seconds. The listener-bus drains before and after
    * stay outside the measured duration. */
  def span[T](id: String, parent: String)(body: => T): (T, Double) = {
    BenchAccess.drainListeners(spark.sparkContext)
    current = id
    spark.sparkContext.setLocalProperty(SpanProp, id)
    val t0 = System.nanoTime()
    try {
      val r = body
      val dur = (System.nanoTime() - t0) / 1e9
      record(id, parent, dur)
      (r, dur)
    } finally {
      BenchAccess.drainListeners(spark.sparkContext)
      spark.sparkContext.setLocalProperty(SpanProp, null)
      current = "idle"
    }
  }

  /** Records a span measured by the caller (a root without own events). */
  def record(id: String, parent: String, durS: Double): Unit = synchronized {
    spans += Map("id" -> id, "parent" -> parent, "dur_s" -> durS)
  }

  /** Counters summed over every span whose name passes `keep`. */
  def sum(keep: String => Boolean): Layers = synchronized {
    val acc = new Layers
    layers.foreach { case (k, l) => if (keep(k)) acc += l }
    acc
  }

  def stop(): Unit = {
    BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Writes every span with its counters, and the micro-batch progress. */
  def write(path: String): Unit = synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        val id = s("id").toString
        w.println(Out.json(s ++ Map("kind" -> "span") ++
          layers.get(id).map(_.toMap).getOrElse(Map.empty)))
      }
      jobSpans.foreach(j => w.println(Out.json(j ++ Map("kind" -> "job"))))
      progress.foreach { case (span, p) => w.println(
        s"""{"kind":"micro_batch","parent":${Out.json(span)},"progress":${p.json}}""") }
    } finally w.close()
  }
}

object Trace {
  val SpanProp = "graftbench.span"
  val PlanPhases: Set[String] = Set("analysis", "optimization", "planning")

  /** Runs `body`, as span `id` under `parent` when tracing; returns its
    * result and its duration in seconds. */
  def timed[T](trace: Option[Trace], id: String, parent: String)(body: => T): (T, Double) =
    trace match {
      case Some(t) => t.span(id, parent)(body)
      case None =>
        val t0 = System.nanoTime()
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
    }
}
