package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task-level counters of the Spark jobs that ran under one job tag. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var inputBytes, inputRecords = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var outputBytes, outputRecords = 0L
  var peakExecMem = 0L
  /** Tasks that read input files / wrote output files. */
  var scanTasks, writeTasks = 0L

  private[perfbench] def add(ok: Boolean, m: TaskMetrics): Unit = {
    tasks += 1
    if (!ok) failedTasks += 1
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
      outputBytes += m.outputMetrics.bytesWritten
      outputRecords += m.outputMetrics.recordsWritten
      peakExecMem = peakExecMem.max(m.peakExecutionMemory)
      if (m.inputMetrics.bytesRead > 0) scanTasks += 1
      if (m.outputMetrics.bytesWritten > 0) writeTasks += 1
    }
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "cpu_s" -> cpuNs / 1e9,
    "run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords,
    "peak_exec_mem_bytes" -> peakExecMem, "scan_tasks" -> scanTasks,
    "write_tasks" -> writeTasks)
}

/** Attributes Spark listener events to job tags. Every job started while
  * the submitting thread holds a tag (`SparkContext.addJobTag`; threads a
  * call spawns inherit it) counts toward that tag, and so does every stage
  * and task of those jobs. A job under nested tags counts toward each. */
final class Recorder extends SparkListener {
  private val byTag = mutable.Map.empty[String, Counters]
  private val stageTags = mutable.Map.empty[Int, Seq[String]]

  private def of(tag: String) = byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).filter(_.startsWith(Recorder.Prefix))
    tags.foreach(of(_).jobs += 1)
    e.stageIds.foreach { s =>
      stageTags(s) = (stageTags.getOrElse(s, Nil) ++ tags).distinct
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageTags.get(e.stageInfo.stageId).foreach(_.foreach(of(_).stages += 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTags.get(e.stageId).foreach(_.foreach(
      of(_).add(e.taskInfo.successful, e.taskMetrics)))
  }

  /** The counters of `tag`, once every event posted so far is delivered. */
  def take(sc: SparkContext, tag: String): Counters = {
    Recorder.drain(sc)
    synchronized(byTag.remove(tag).getOrElse(new Counters))
  }
}

object Recorder {
  val Prefix = "perfbench."

  /** Block until the listener bus has delivered every posted event.
    * `SparkContext.listenerBus` is Spark-internal, so it is reached
    * reflectively. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** One timed call: name, start and end (seconds since the tracer's
  * origin), the enclosing span (-1 at a root), the root span's id as the
  * trace id, and the Spark counters of the jobs it ran. */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
    start: Double, end: Double, counters: Counters) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
    "parent" -> parent, "trace" -> trace, "start" -> start, "end" -> end,
    "counters" -> counters.toMap)
}

/** Times calls into the program's layers and keeps every span in memory;
  * [[Tracer.spans]] are written out when the benchmark ends. */
final class Tracer(spark: SparkSession, rec: Recorder) {
  private val sc = spark.sparkContext
  private val origin = System.nanoTime()
  private var nextId = 0
  private var open = List.empty[(Int, Int)] // (span id, trace id), innermost first
  val spans = mutable.ArrayBuffer.empty[Span]

  private def now = (System.nanoTime() - origin) / 1e9

  def apply[A](name: String)(body: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val (parent, trace) = open.headOption.fold((-1, id)) { case (p, t) => (p, t) }
    val tag = s"${Recorder.Prefix}$id"
    open = (id, trace) :: open
    sc.addJobTag(tag)
    val start = now
    val out = try body finally {
      sc.removeJobTag(tag)
      open = open.tail
    }
    val end = now
    val span = Span(id, name, parent, trace, start, end, rec.take(sc, tag))
    spans += span
    (out, span)
  }
}
