package graft.imdb

import org.apache.spark.SparkContext
import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Transfer progress reporting, the Spark-native analog of the
  * reference's 3-second row-count callback (common.py:188-197,
  * 257-263; logged as "  processed N rows", command.py:187-191).
  *
  * The reference counts rows inside its single-threaded read loop; in
  * a distributed scan no such loop exists, so progress is observed
  * from task metrics instead: a [[SparkListener]] accumulates
  * `inputMetrics.recordsRead` as tasks finish and fires the callback
  * at most once per `secondsBetween`, plus a final call when the
  * wrapped action completes — same cadence contract as the reference
  * (time-gated during the pass, one closing update). The listener is
  * registered only for the duration of the wrapped body and removed
  * in a finally, so concurrent queries on the session are unaffected.
  *
  * Counting discipline (what makes the total equal the file's rows):
  *  - records accumulate PER JOB and the reported total is the MAX
  *    across jobs. Under the wrapper the header-name inference job
  *    (spark.read.csv's take(1) — DictReader column mapping needs the
  *    header, so this job is structural) reads one record, the scan
  *    action reads the whole file, and any follow-up job over the
  *    cached result re-reads at most the same rows as cache input —
  *    so the max IS the file's row count, immune to both the 1-row
  *    header job (which a "first job wins" rule would latch onto and
  *    report 1 forever) and to double-counting cache re-reads;
  *  - only successfully completed tasks count — a failed or
  *    speculative attempt's rows are re-read by its retry.
  *
  * Documented delta vs the reference: it also reports the running
  * duplicate count, which its sequential dedup knows mid-pass.
  * Distributed first-wins dedup is a shuffle aggregate — the
  * duplicate count does not exist until the pass completes — so the
  * per-tick callback carries rows only and the duplicate summary is
  * logged once at the end ([[Pimdb.transfer]]), preserving the
  * reference's total output.
  *
  * Scale note: pure driver-side bookkeeping on task-end events (a
  * long add per task); nothing is collected from executors beyond the
  * metrics Spark already ships with task completion.
  */
final class TransferProgress(
    indicateProgress: Long => Unit,
    secondsBetween: Double = 3.0) extends SparkListener {

  @volatile private var lastTick = System.nanoTime()
  // stage → job, and a per-job record accumulator (see the counting
  // discipline above: the reported total is the max across jobs)
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val jobRows = new java.util.concurrent.ConcurrentHashMap[
    Int, java.util.concurrent.atomic.AtomicLong]
  // serializes callback delivery: listener-bus task-end events and the
  // closing update race, and the contract is strictly increasing
  // totals in call order (driver-side lock, trivial contention)
  private val lock = new Object
  private var reported = -1L

  def rowsRead: Long = {
    var mx = 0L
    jobRows.values.forEach(v => mx = math.max(mx, v.get()))
    mx
  }

  private[imdb] def fire(total: Long): Unit = lock.synchronized {
    if (total > reported) {
      reported = total
      indicateProgress(total)
    }
  }

  override def onJobStart(jobStart: SparkListenerJobStart): Unit =
    jobStart.stageInfos.foreach(si =>
      stageJob.put(si.stageId, jobStart.jobId))

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val metrics = taskEnd.taskMetrics
    val jobId = stageJob.get(taskEnd.stageId) // 0 if absent — guarded below
    val counted = taskEnd.reason == Success && metrics != null &&
      stageJob.containsKey(taskEnd.stageId)
    if (counted) {
      jobRows.computeIfAbsent(jobId,
          _ => new java.util.concurrent.atomic.AtomicLong(0L))
        .addAndGet(metrics.inputMetrics.recordsRead)
      val now = System.nanoTime()
      if ((now - lastTick) / 1e9 > secondsBetween) {
        lastTick = now
        fire(rowsRead)
      }
    }
  }
}

object TransferProgress {
  /** Run `body` with a progress listener attached; always fires one
    * final callback with the closing total (reference common.py:262-263
    * emits a last update after the loop).
    *
    * The listener bus is asynchronous: task-end events can still be
    * queued when `body` returns, so the closing total is read only
    * after the bus has delivered them (`GraftBusDrain`) — without that
    * the final callback could under-report or say 0.
    */
  def withProgress[T](
      sc: SparkContext,
      indicateProgress: Long => Unit,
      secondsBetween: Double = 3.0)(body: => T): T = {
    val listener = new TransferProgress(indicateProgress, secondsBetween)
    sc.addSparkListener(listener)
    try body
    finally {
      try org.apache.spark.GraftBusDrain(sc)
      finally sc.removeSparkListener(listener)
      listener.fire(listener.rowsRead)
    }
  }
}
