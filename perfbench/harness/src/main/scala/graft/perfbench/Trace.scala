package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a timed interval at a layer boundary. Times are epoch
  * milliseconds; `parent` is 0 for a root or for a span whose parent is
  * found later by time containment (Spark jobs launched from a streaming
  * thread, memo-ledger entries). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double, attrs: Map[String, Any])

/** In-memory span recorder. Disabled, it records nothing and installs no
  * listener, so untraced runs pay only a local-property write per call. */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  // epoch-ms clock with sub-millisecond resolution
  private val base = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def now(): Double = base + System.nanoTime() / 1e6
  def nanosToEpochMs(n: Long): Double = base + n / 1e6

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Run `body` as span `kind:name` under `parent`; Spark jobs it
    * launches carry the span id and module as local properties. */
  def span[T](sc: SparkContext, parent: Long, kind: String, name: String,
      module: String)(body: Long => T): (T, Double) = {
    val id = nextId()
    val prevSpan = sc.getLocalProperty(Trace.SpanProp)
    val prevModule = sc.getLocalProperty(Trace.ModuleProp)
    sc.setLocalProperty(Trace.SpanProp, id.toString)
    sc.setLocalProperty(Trace.ModuleProp, module)
    val t0 = now()
    try {
      val out = body(id)
      val t1 = now()
      add(Span(id, parent, kind, name, t0, t1, Map("module" -> module)))
      (out, (t1 - t0) / 1e3)
    } catch {
      case e: Throwable =>
        add(Span(id, parent, kind, name, t0, now(),
          Map("module" -> module, "error" -> e.getClass.getName)))
        throw e
    } finally {
      sc.setLocalProperty(Trace.SpanProp, prevSpan)
      sc.setLocalProperty(Trace.ModuleProp, prevModule)
    }
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  val ModuleProp = "perfbench.module"
}

/** Job and stage spans, block writes and adaptive-plan exchange counts,
  * gathered from Spark's listener bus. Installed in traced runs only. */
final class JobListener(trace: Trace) extends SparkListener {
  import JobListener.JobRec
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val planInfo = new ConcurrentHashMap[Long, SparkPlanInfo]()
  private val blockBytes = new AtomicLong(0)

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k))).filter(_.nonEmpty)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val rec = JobRec(trace.nextId(),
      prop(e.properties, Trace.SpanProp).map(_.toLong).getOrElse(0L),
      prop(e.properties, Trace.ModuleProp).getOrElse(""), e.time.toDouble,
      prop(e.properties, "spark.sql.execution.id").map(_.toLong).getOrElse(-1L))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val r = jobs.remove(e.jobId)
    if (r != null)
      trace.add(Span(r.id, r.parent, "job", s"job-${e.jobId}", r.start,
        e.time.toDouble, Map("module" -> r.module, "sql_exec" -> r.sqlExec,
          "ok" -> (e.jobResult == JobSucceeded))))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val job = stageJob.get(si.stageId)
    val parent = Option(jobs.get(job)).map(_.id).getOrElse(0L)
    val m = si.taskMetrics
    val attrs: Map[String, Any] =
      if (m == null) Map("tasks" -> si.numTasks)
      else Map("tasks" -> si.numTasks, "run_ms" -> m.executorRunTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    trace.add(Span(trace.nextId(), parent, "stage", s"stage-${si.stageId}",
      si.submissionTime.getOrElse(0L).toDouble,
      si.completionTime.getOrElse(0L).toDouble, attrs))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blockBytes.addAndGet(b.memSize + b.diskSize)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => planInfo.put(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => planInfo.put(u.executionId, u.sparkPlanInfo)
    case _ => ()
  }

  def blockWriteBytes: Long = blockBytes.get()

  /** Exchange and ReusedExchange nodes in the latest plan of each SQL
    * execution (the final plan once adaptive execution has finished). */
  def exchangesByExecution: Map[Long, Int] = {
    def count(p: SparkPlanInfo): Int =
      (if (p.nodeName.endsWith("Exchange")) 1 else 0) + p.children.map(count).sum
    planInfo.asScala.map { case (id, p) => id -> count(p) }.toMap
  }
}

object JobListener {
  private final case class JobRec(id: Long, parent: Long, module: String,
      start: Double, sqlExec: Long)
}

/** Streaming progress of every query, kept as zero-length spans. */
final class ProgressListener(trace: Trace) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    trace.add(Span(trace.nextId(), 0L, "progress", Option(p.name).getOrElse(""),
      t, t + d.getOrElse("triggerExecution", 0L), Map(
        "batch" -> p.batchId, "input_rows" -> p.numInputRows,
        "planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)))
  }
}
