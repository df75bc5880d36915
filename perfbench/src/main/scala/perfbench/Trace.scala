package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Wall clock in epoch milliseconds with sub-millisecond resolution:
  * anchored once to currentTimeMillis (the clock Spark stamps job
  * events with), advanced by nanoTime. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def ms: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Spans around the benchmark's calls into the system, kept in memory
  * and written with the run record. Recording only happens while
  * `enabled`; a disabled tracer runs the body and nothing else. */
final class Tracer {
  import Tracer.Span

  var enabled = false
  var pass = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String, layer: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += Span(name, layer, open.headOption.getOrElse(-1), pass,
        Clock.ms, Double.NaN)
      open = id :: open
      try body
      finally {
        spans(id).t1 = Clock.ms
        open = open.tail
      }
    }

  /** The last span named `name` in pass `pass`. */
  def find(name: String, pass: Int): Option[Span] =
    spans.findLast(s => s.name == name && s.pass == pass)

  /** Records a finished span as a child of `parent`, in the parent's
    * layer and pass. */
  def add(parent: Span, name: String, t0: Double, t1: Double): Unit =
    spans += Span(name, parent.layer, spans.indexWhere(_ eq parent),
      parent.pass, t0, t1)

  def records: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
    "pass" -> s.pass, "t0" -> s.t0, "t1" -> s.t1))
}

object Tracer {
  final case class Span(name: String, layer: String, parent: Int,
      pass: Int, t0: Double, var t1: Double)
}

/** Per-job engine counters: job start/end from the job events, task
  * counters summed over the tasks of the job's stages. */
final class JobCounters extends SparkListener {
  final class Job(val id: Int, val t0: Double) {
    var t1 = Double.NaN
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inBytes = 0L
    var outBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.inBytes += m.inputMetrics.bytesRead
      j.outBytes += m.outputMetrics.bytesWritten
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
    }
  }

  def records: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map(
      "id" -> j.id, "t0" -> j.t0, "t1" -> Some(j.t1).filterNot(_.isNaN),
      "tasks" -> j.tasks,
      "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
      "in_bytes" -> j.inBytes, "out_bytes" -> j.outBytes,
      "shuffle_write_bytes" -> j.shuffleWriteBytes,
      "spill_bytes" -> j.spillBytes))
  }
}

/** The start and end of each SQL execution that writes parquet into a
  * `normalized/<table>` directory, keyed on that output path: the
  * execution's physical plan holds the write command, whose first
  * argument is the path. */
final class TableWrites extends SparkListener {
  import TableWrites._

  private val open = mutable.HashMap.empty[Long, (String, Double)]
  private val done = mutable.ArrayBuffer.empty[Write]

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        target(s.sparkPlanInfo).foreach { table =>
          open(s.executionId) = (table, s.time.toDouble)
        }
      case end: SparkListenerSQLExecutionEnd =>
        open.remove(end.executionId).foreach { case (table, t0) =>
          done += Write(table, t0, end.time.toDouble)
        }
      case _ => ()
    }
  }

  private def target(p: SparkPlanInfo): Option[String] =
    p.simpleString match {
      case Target(table) => Some(table)
      case _ => p.children.iterator.flatMap(target).nextOption()
    }

  /** The writes seen so far, forgetting them. */
  def drain(): Seq[Write] = synchronized {
    val out = done.toSeq
    done.clear()
    open.clear()
    out
  }
}

object TableWrites {
  final case class Write(table: String, t0: Double, t1: Double)
  private val Target =
    """(?s)Execute InsertIntoHadoopFsRelationCommand \S*/normalized/(\w+),.*""".r
}
