package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer, timed on the client. `parent` is the
  * index of the enclosing span (-1 at the top); spans of one operation
  * share `op`.
  */
final case class Span(name: String, startMs: Long, endMs: Long, parent: Int, op: Int,
                      counts: Map[String, Double])

/** In-memory trace of the timed phase. Spans are recorded around each
  * public call the benchmark makes; Spark's own layers are counted by a
  * listener and attributed to the operation whose wall-clock window holds
  * the event (the client runs one operation at a time, so the windows never
  * overlap). Nothing is written until the run ends.
  */
final class Trace(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)] // per op: [start, end]
  private var op = -1

  def beginOp(): Int = synchronized {
    op += 1
    windows += ((System.currentTimeMillis(), Long.MaxValue))
    op
  }

  def endOp(): Unit = synchronized {
    windows(op) = (windows(op)._1, System.currentTimeMillis())
  }

  /** Time `body` as a span named `name` inside the current operation. */
  def span[T](name: String, counts: => Map[String, Double] = Map.empty)(body: => T): T = {
    val parent = if (open.isEmpty) -1 else open.top
    val idx = spans.length
    spans += Span(name, System.currentTimeMillis(), -1L, parent, op, Map.empty)
    open.push(idx)
    try body
    finally {
      open.pop()
      spans(idx) = spans(idx).copy(endMs = System.currentTimeMillis(), counts = counts)
    }
  }

  def opOf(timeMs: Long): Int = synchronized {
    // windows are sorted and disjoint: binary search on the start
    var lo = 0
    var hi = windows.length - 1
    var found = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (windows(mid)._1 <= timeMs) { found = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (found >= 0 && timeMs <= windows(found)._2) found else -1
  }

  def opWindows: Seq[(Long, Long)] = synchronized(windows.toSeq)

  // ------------------------------------------------------ Spark-side counts

  final class OpCounts {
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (submitted, completed)
    var stages, tasks = 0L
    var cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var inputRows, inputBytes, outputBytes = 0L
    var analysisMs, optimizationMs, planningMs = 0L
  }

  val counts = mutable.Map.empty[Int, OpCounts]
  private val jobStart = mutable.Map.empty[Int, Long]
  @volatile private var started, ended = 0L

  private def at(timeMs: Long): Option[OpCounts] = {
    val o = opOf(timeMs)
    if (o < 0) None else Some(counts.getOrElseUpdate(o, new OpCounts))
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      started += 1
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      ended += 1
      jobStart.remove(e.jobId).foreach(t0 => at(t0).foreach(_.jobs += ((t0, e.time))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      e.stageInfo.submissionTime.foreach(t => at(t).foreach(_.stages += 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      at(e.taskInfo.launchTime).foreach { c =>
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputRows += m.inputMetrics.recordsRead
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val ph = qe.tracker.phases
      ph.get("analysis").orElse(ph.values.headOption).foreach { first =>
        at(first.startTimeMs).foreach { c =>
          c.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
          c.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
          c.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait for the asynchronous listener bus to deliver every job's end. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stableSince = System.currentTimeMillis()
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        (started != ended || System.currentTimeMillis() - stableSince < 300)) {
      if (ended != last) { last = ended; stableSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Length of the union of the op's job intervals. */
  def busyMs(c: OpCounts): Long = {
    var total = 0L
    var from, to = -1L
    for ((s, e) <- c.jobs.sortBy(_._1)) {
      if (from < 0) { from = s; to = e }
      else if (s > to) { total += to - from; from = s; to = e }
      else to = math.max(to, e)
    }
    if (from >= 0) total += to - from
    total
  }

  /** Every span as one JSON object per line. */
  def spansJson: String = spans.iterator.map { s =>
    val cs = s.counts.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    s"""{"name": "${s.name}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
      s""""parent": ${s.parent}, "op": ${s.op}, "counts": {$cs}}"""
  }.mkString("\n")
}
