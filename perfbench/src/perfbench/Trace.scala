package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed interval. Spans of one op share `op` and `pass`; `parent` is
  * the id of the span that caused this one (0 for none). Times are
  * epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
    pass: Int, startMs: Double, endMs: Double)

/** Local properties the harness sets before each call into the engine,
  * so that jobs and stages are attributed to the op and layer that
  * launched them.
  */
object Tags {
  val Pass = "perfbench.pass"
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"
  val Span = "perfbench.span"
}

/** Work counters of one (pass, op, phase). */
final class Counts {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var maxStageTasks = 0
  var tasksFailed = 0
  var busyMs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var peakExecMemB = 0L

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "max_stage_tasks" -> maxStageTasks, "tasks_failed" -> tasksFailed,
    "busy_ms" -> busyMs, "gc_ms" -> gcMs,
    "shuffle_read_b" -> shuffleReadB, "shuffle_write_b" -> shuffleWriteB,
    "spill_b" -> spillB, "peak_exec_mem_b" -> peakExecMemB)
}

/** Scheduler listener: counts jobs, stages and tasks per (pass, op,
  * phase) and records one span per job. Events arrive on the listener
  * bus thread; readers drain the bus first (see `ListenerDrain`).
  */
final class JobTrace extends SparkListener {
  type Key = (Int, String, String)
  val counts = mutable.LinkedHashMap.empty[Key, Counts]
  val jobSpans = mutable.ArrayBuffer.empty[Span]
  private val stageKey = mutable.Map.empty[Int, Key]
  private val jobStart = mutable.Map.empty[Int, (Key, Long, Double)]

  private def key(p: Properties): Option[Key] =
    Option(p).flatMap(p => Option(p.getProperty(Tags.Pass))).map(pass =>
      (pass.toInt, p.getProperty(Tags.Op, ""), p.getProperty(Tags.Phase, "")))

  private def at(k: Key): Counts = counts.getOrElseUpdate(k, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    key(e.properties).foreach { k =>
      at(k).jobs += 1
      val parent = Option(e.properties.getProperty(Tags.Span))
        .map(_.toLong).getOrElse(0L)
      jobStart(e.jobId) = (k, parent, e.time.toDouble)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case ((pass, op, _), parent, t0) =>
      jobSpans += Span(-e.jobId - 1L, parent, "job", op, pass, t0,
        e.time.toDouble)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      key(e.properties).foreach { k =>
        stageKey(e.stageInfo.stageId) = k
        val c = at(k)
        c.stages += 1
        c.maxStageTasks = c.maxStageTasks.max(e.stageInfo.numTasks)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val c = at(k)
      c.tasks += 1
      if (e.taskInfo.failed) c.tasksFailed += 1
      Option(e.taskMetrics).foreach { m =>
        c.busyMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.diskBytesSpilled
        c.peakExecMemB = c.peakExecMemB.max(m.peakExecutionMemory)
      }
    }
  }
}

/** Streaming counters: queries started, micro-batches, their duration
  * and input rows, and each query's start-to-terminate wall time.
  * Engine helpers run their streams on child sessions, and listeners
  * added to one session do not see another's queries, so the listener
  * is registered for every session through
  * `spark.sql.streaming.streamingQueryListeners` and feeds this one
  * object; it counts only while `on`.
  */
object StreamTrace {
  @volatile var on = false
  private var queries = 0
  private var batches = 0
  private var batchMs = 0L
  private var rows = 0L
  private var lifeMs = 0.0
  private val started = mutable.Map.empty[java.util.UUID, Long]

  def start(runId: java.util.UUID): Unit = synchronized {
    queries += 1
    started(runId) = System.nanoTime()
  }

  def batch(ms: Long, n: Long): Unit = synchronized {
    batches += 1
    batchMs += ms
    rows += n
  }

  def end(runId: java.util.UUID): Unit = synchronized {
    started.remove(runId).foreach(t0 =>
      lifeMs += (System.nanoTime() - t0) / 1e6)
  }

  def snapshot: Map[String, Double] = synchronized {
    Map("queries" -> queries.toDouble, "batches" -> batches.toDouble,
      "batch_ms" -> batchMs.toDouble, "rows" -> rows.toDouble,
      "life_ms" -> lifeMs)
  }
}

final class StreamTraceListener extends StreamingQueryListener {
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    if (StreamTrace.on) StreamTrace.start(e.runId)

  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (StreamTrace.on)
      StreamTrace.batch(e.progress.batchDuration, e.progress.numInputRows)

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    if (StreamTrace.on) StreamTrace.end(e.runId)
}
