package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, the
  * time base of every span and of Spark's own event timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A timed interval recorded around one of the benchmark's own calls (or a
  * Spark job or stream trigger, as a child of the call it ran under). */
case class Span(id: Int, parent: Int, kind: String, name: String,
                start: Double, end: Double, pass: Int) {
  def ms: Double = end - start
}

case class JobRec(id: Int, start: Long, end: Long, stages: Int)
case class TaskRec(finish: Long, runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long,
                   shuffleWrite: Long, shuffleRead: Long, spill: Long, fetchWaitMs: Long,
                   inBytes: Long, inRows: Long, outBytes: Long)
case class PlanRec(start: Double, analysisMs: Double, optimizationMs: Double, planningMs: Double)
case class TriggerRec(start: Double, triggerMs: Double, addBatchMs: Double, planningMs: Double,
                      walMs: Double, stateRows: Long, stateCommitMs: Double, stateBytes: Long)

/** Traced-run recorder: spans around the benchmark's calls, plus public
  * Spark listeners (jobs, stages and tasks; query planning phases; stream
  * progress). Listeners are attached only while a traced pass runs, so the
  * untraced passes of the same run measure the tracing overhead. */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val plans = ArrayBuffer.empty[PlanRec]
  val triggers = ArrayBuffer.empty[TriggerRec]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, Int)]
  private var attached = false

  /** Runs `body` inside a span and returns the span's milliseconds. */
  def timed(kind: String, name: String, pass: Int)(body: => Any): Double = {
    val t0 = Clock.now()
    body
    val t1 = Clock.now()
    record(-1, kind, name, t0, t1, pass)
    t1 - t0
  }

  def record(parent: Int, kind: String, name: String, start: Double, end: Double, pass: Int): Int =
    spans.synchronized { spans += Span(spans.size, parent, kind, name, start, end, pass); spans.size - 1 }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStarts(e.jobId) = (e.time, e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t, n) => jobs.synchronized(jobs += JobRec(e.jobId, t, e.time, n)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.synchronized(tasks += TaskRec(e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.shuffleReadMetrics.fetchWaitTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val start = ph.get("analysis").map(_.startTimeMs.toDouble)
        .getOrElse(Clock.now() - durationNs / 1e6)
      plans.synchronized(plans += PlanRec(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val trigger = d.getOrElse("triggerExecution", 0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ops = p.stateOperators.toSeq
      triggers.synchronized(triggers += TriggerRec(start, trigger, d.getOrElse("addBatch", 0.0),
        d.getOrElse("queryPlanning", 0.0), d.getOrElse("walCommit", 0.0),
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum.toDouble,
        ops.map(_.memoryUsedBytes).sum))
    }
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
