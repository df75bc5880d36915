package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Stage-level breakdown for registered gates: runs each named query
  * once (after one untimed warmup) and prints, per job and per stage,
  * wall time vs summed task time, task counts and shuffle volumes —
  * the local-mode stand-in for the Spark UI's stage page (the UI is
  * off in every graft session). Distinguishes scheduling/driver gaps
  * (query wall >> Σ stage wall), low parallelism (stage wall ≈ Σ task
  * time despite many cores) and shuffle weight (bytes). A measurement
  * tool like ABProbe — not part of the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.StageProbe name...
  */
object StageProbe {

  final case class StageRow(jobId: Int, stageId: Int, name: String,
      tasks: Int, wallMs: Long, taskMs: Long, shufReadB: Long,
      shufWriteB: Long, inputB: Long, deserMs: Long, gcMs: Long,
      fetchWaitMs: Long)

  /** One query's timed run: its wall, jobs (with their summed wall),
    * completed stages and the classes Janino compiled during it (0
    * after the warmup unless the generated-class cache thrashes). */
  final case class Report(name: String, wallSec: Double, jobs: Int,
      jobWallMs: Long, stages: Seq[StageRow], compiles: Long)

  def main(args: Array[String]): Unit =
    Harness.withSession(run(_, Harness.sfDir, args.toSeq))

  def run(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[Report] = {
    // two distinct failure messages (r21 advice): zero args used to
    // print a misleading empty "unknown query name(s):"
    require(names.nonEmpty,
      "usage: runMain graft.StageProbe <query name>... (none given)")
    Harness.requireKnown(names, SparkEntry.queries.keySet)
    names.map { name =>
      // untimed warmup (codegen, footers)
      Harness.noop(SparkEntry.queries(name)(spark, sfDir))
      Harness.quiesce(spark)
      val listener = new StageListener
      spark.sparkContext.addSparkListener(listener)
      val compiles0 = Harness.compiles
      val wallSec =
        try {
          val sec = Harness.timeNoop(SparkEntry.queries(name)(spark, sfDir))
          // every event of the timed run is delivered before the
          // listener is read
          org.apache.spark.GraftBusDrain(spark.sparkContext)
          sec
        } finally spark.sparkContext.removeSparkListener(listener)
      val r = listener.report(name, wallSec, Harness.compiles - compiles0)
      println(f"%n===== $name wall $wallSec%.2fs  jobs ${r.jobs}  " +
        f"jobWallSum ${r.jobWallMs / 1000.0}%.2fs  stages ${r.stages.size}  " +
        f"stageWallSum ${r.stages.map(_.wallMs).sum / 1000.0}%.2fs  " +
        f"taskTimeSum ${r.stages.map(_.taskMs).sum / 1000.0}%.2fs  " +
        s"compiles ${r.compiles}")
      r.stages.filter(s => s.wallMs >= 20 || s.taskMs >= 20).foreach { s =>
        println(f"  j${s.jobId}%-4d s${s.stageId}%-5d tasks ${s.tasks}%-4d " +
          f"wall ${s.wallMs / 1000.0}%6.2fs task ${s.taskMs / 1000.0}%6.2fs " +
          f"deser ${s.deserMs / 1000.0}%5.2fs gc ${s.gcMs / 1000.0}%5.2fs " +
          f"fw ${s.fetchWaitMs / 1000.0}%5.2fs " +
          f"in ${s.inputB / 1e6}%7.1fMB sr ${s.shufReadB / 1e6}%6.1fMB " +
          f"sw ${s.shufWriteB / 1e6}%6.1fMB  ${s.name}")
      }
      Harness.quiesce(spark)
      r
    }
  }

  private final class StageListener extends SparkListener {
    private val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    private val jobs =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    private val stageToJob =
      new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      jobs.put(js.jobId, (js.time, -1L))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(je.jobId, (_, v) => (v._1, je.time))
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      stages.add(StageRow(
        stageToJob.getOrDefault(si.stageId, -1), si.stageId,
        si.name.takeWhile(_ != '\n').take(70), si.numTasks,
        (for {s <- si.submissionTime; c <- si.completionTime} yield c - s)
          .getOrElse(-1L),
        m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.executorDeserializeTime, m.jvmGCTime,
        m.shuffleReadMetrics.fetchWaitTime))
    }

    def report(name: String, wallSec: Double, compiles: Long): Report =
      Report(name, wallSec, jobs.size,
        jobs.asScala.values.collect { case (s, e) if e > 0 => e - s }.sum,
        stages.asScala.toSeq.sortBy(_.stageId), compiles)
  }
}
