package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution statistics of one phase (an operation, or one prefix of it). */
final class PhaseStats {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var planMs = 0L
  val taskMsByStage = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
}

/** Attributes Spark's task and query events to the phase the harness is in.
  *
  * The harness runs one operation at a time. `enter` first waits for the
  * listener bus to deliver everything already queued, then switches the
  * current phase, so every event lands in the phase that produced it. */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var phase = "idle"
  private val stats = mutable.Map.empty[String, PhaseStats]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def enter(p: String): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    phase = p
  }

  def apply(p: String): PhaseStats = synchronized(stats.getOrElseUpdate(p, new PhaseStats))

  /** Stops recording: events after this land in no phase of this recorder. */
  def close(): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats.getOrElseUpdate(phase, new PhaseStats)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.bytesRead += m.inputMetrics.bytesRead
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskMsByStage.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      stats.getOrElseUpdate(phase, new PhaseStats).planMs +=
        qe.tracker.phases.values.map(_.durationMs).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** In-memory spans: name, start, end, parent and operation id. */
final class Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0
  var op: Int = -1

  def span[T](name: String)(f: => T): T = {
    val id = next; next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, parent, op, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def toJson: Seq[Map[String, Any]] = spans.sortBy(_.id).map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9)).toSeq
}
