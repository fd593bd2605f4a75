package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.telemetry.Spans

/** The benchmark's spans are the program's own telemetry spans
  * ([[graft.telemetry.Spans]]: name, parent, start, end, attributes,
  * kept in memory), switched by the program's `graft.telemetry.disable`
  * property.  A traced run switches them on for its traced iterations
  * and its isolated layer calls; every other iteration, and all of an
  * untraced run, runs with them off, so `span` only runs its body. */
object Trace {
  def enable(on: Boolean): Unit =
    sys.props("graft.telemetry.disable") = if (on) "0" else "1"

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    Spans.withSpan(name) {
      attrs.foreach { case (k, v) => Spans.setAttribute(k, v.toString) }
      body
    }

  /** The spans recorded so far, each tagged with the run id, as JSON. */
  def sidecar(runId: String): String = Spans.flush().map { s =>
    Json.obj(Seq("run_id" -> runId, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNanos, "end_ns" -> s.endNanos, "error" -> s.error,
      "attrs" -> s.attributes))
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Counters of the Spark runtime under every layer, summed over tasks
  * (peak execution memory is a max over tasks).  Read as deltas around
  * an iteration, after the listener bus has drained. */
final case class SparkCounters(jobs: Long, stages: Long, tasks: Long,
    executorCpuNs: Long, executorRunMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    inputBytes: Long, outputBytes: Long, peakExecMem: Long,
    schedulerWaitMs: Long, sqlExecutions: Long) {
  def -(o: SparkCounters): SparkCounters = SparkCounters(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, executorCpuNs - o.executorCpuNs,
    executorRunMs - o.executorRunMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes, outputBytes - o.outputBytes,
    peakExecMem, schedulerWaitMs - o.schedulerWaitMs,
    sqlExecutions - o.sqlExecutions)
}

final class CounterListener extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, cpuNs, runMs, gcMs, shW, shR, spill,
    in, out, waitMs, sqlExec = new AtomicLong()
  // peak execution memory of any task since the last `resetPeak`
  private val peak = new AtomicLong()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmit.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    stageSubmit.remove(e.stageInfo.stageId)
  }

  // scheduler wait: stage submission to the launch of its first task
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val sub = stageSubmit.remove(e.stageId)
    if (sub != null && sub != 0L)
      waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      in.addAndGet(m.inputMetrics.bytesRead)
      out.addAndGet(m.outputMetrics.bytesWritten)
      peak.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = sqlExec.incrementAndGet()
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = sqlExec.incrementAndGet()

  def resetPeak(): Unit = peak.set(0L)

  def snapshot(): SparkCounters = SparkCounters(jobs.get, stages.get,
    tasks.get, cpuNs.get, runMs.get, gcMs.get, shW.get, shR.get, spill.get,
    in.get, out.get, peak.get, waitMs.get, sqlExec.get)
}

/** Registers the counter listener before the first query (so branch
  * sessions cloned later inherit the QueryExecutionListener) and
  * reads deltas around a block after draining the listener bus. */
final class Counters(spark: SparkSession) {
  val listener = new CounterListener
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(listener)

  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

  def measure[T](resetPeak: Boolean = true)(body: => T): (T, SparkCounters) = {
    drain()
    if (resetPeak) listener.resetPeak()
    val before = listener.snapshot()
    val r = body
    drain()
    (r, listener.snapshot() - before)
  }
}
