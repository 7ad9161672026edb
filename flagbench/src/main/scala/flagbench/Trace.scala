package flagbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the benchmark's listeners accumulate. The listeners are
  * registered by conf on the benchmark's own session ([[Harness.session]]), so
  * Spark instantiates them and they reach every clone session the
  * streaming replays create; they report through this one object. */
object Counters {
  /** Query-execution and streaming listeners record only while this is
    * set; the traced run clears it for its untraced comparison passes. */
  val tracing = new AtomicBoolean(false)

  val tasks, taskRunMs, taskCpuNs, gcMs, shuffleReadB, shuffleWriteB, spillB, peakExecB =
    new AtomicLong
  val actions, actionNs = new AtomicLong
  val batches, triggerMs, addBatchMs, commitMs, stateCommitMs = new AtomicLong

  private def all: Seq[AtomicLong] = Seq(tasks, taskRunMs, taskCpuNs, gcMs, shuffleReadB,
    shuffleWriteB, spillB, peakExecB, actions, actionNs, batches, triggerMs, addBatchMs,
    commitMs, stateCommitMs)

  def reset(): Unit = all.foreach(_.set(0L))
}

/** Task metrics for every task. Always registered: `shuffleWriteB` is an
  * end-to-end figure of ops_mix, the rest feed the traced run. */
class TaskListener extends SparkListener {
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      Counters.tasks.incrementAndGet()
      Counters.taskRunMs.addAndGet(m.executorRunTime)
      Counters.taskCpuNs.addAndGet(m.executorCpuTime)
      Counters.gcMs.addAndGet(m.jvmGCTime)
      Counters.shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      Counters.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      Counters.spillB.addAndGet(m.diskBytesSpilled)
      Counters.peakExecB.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }
}

/** SQL actions and their execution time (traced run only). */
class ActionListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Counters.tracing.get) {
      Counters.actions.incrementAndGet()
      Counters.actionNs.addAndGet(durationNs)
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch phases of every streaming query (traced run only). */
class BatchListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Counters.tracing.get) {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      Counters.batches.incrementAndGet()
      Counters.triggerMs.addAndGet(ms("triggerExecution"))
      Counters.addBatchMs.addAndGet(ms("addBatch"))
      Counters.commitMs.addAndGet(ms("walCommit") + ms("commitOffsets"))
      Counters.stateCommitMs.addAndGet(e.progress.stateOperators.map(_.commitTimeMs).sum)
    }
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    failed: Boolean = false) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's calls into each layer, kept in
  * memory and written out once at the end. */
final class Tracer(runId: String) {
  private val spans = scala.collection.mutable.ArrayBuffer[Span]()

  def all: Seq[Span] = spans.toSeq

  /** Time `body` as a span named `name` under `parent` (-1 = root). A
    * span whose body throws is kept, marked failed. */
  def span[T](name: String, parent: Int = -1)(body: Int => T): (T, Span) = {
    val id = spans.size
    val t0 = System.nanoTime()
    spans += Span(id, parent, name, t0, t0)
    try {
      val r = body(id)
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      (r, spans(id))
    } catch {
      case e: Throwable =>
        spans(id) = spans(id).copy(endNs = System.nanoTime(), failed = true)
        throw e
    }
  }

  /** Span duration minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def write(path: String): Unit = {
    val lines = spans.map(s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)},""" +
        s""""failed":${s.failed}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
