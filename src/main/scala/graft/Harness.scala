package graft

import java.nio.file.{Files, Path}
import java.nio.file.LinkOption.NOFOLLOW_LINKS

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The core of the harness mains (Bench, Verify, Explain, ABProbe,
  * StageProbe, BuildBench): each is a `run(spark, ...)` a spec can
  * drive on the test session plus a one-line `main` over
  * [[withSession]]. The listener-bus drain is
  * `org.apache.spark.GraftBusDrain`, in Spark's package.
  */
object Harness {

  /** Local cores for a harness session: SPARK_GRAFT_CPUS, else every
    * available core (the benchmark's choice). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The data the queries read: SPARK_GRAFT_SF_DIR, else sf0.1. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** A [[GraftSession.localBuilder]] session on [[cpus]] cores with
    * the harness log quieting applied. */
  def session(): SparkSession = {
    val spark = GraftSession.localBuilder(cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietLogs()
    spark
  }

  /** Runs `body` on a fresh [[session]] and stops the session after
    * it, also when `body` throws. */
  def withSession[T](body: SparkSession => T): T = {
    val spark = session()
    try body(spark) finally spark.stop()
  }

  /** Silences warnings a sweep prints once per run, which bury real
    * anomalies (genuine failures surface as exceptions): the audited
    * bounded windows; RDD.unpersist's "lineage has been truncated" for
    * each block [[quiesce]] drops; the stream gates' start-up lines;
    * q_stream_restart's per-state-file checksum and snapshot-load
    * lines (state-store logger names carry a provider-id suffix, so
    * the whole state package is set). */
  private def quietLogs(): Unit = {
    graft.operators.BoundedWindow.quietBoundedWarnings()
    val streaming = "org.apache.spark.sql.execution.streaming"
    (Seq("org.apache.spark.rdd",
      s"$streaming.checkpointing.ChecksumCheckpointFileManager",
      s"$streaming.state") ++
      Seq("ResolveWriteToStream", "MicroBatchExecution", "StreamExecution")
        .map(c => s"$streaming.runtime.$c"))
      .foreach(Configurator.setLevel(_, Level.ERROR))
  }

  /** Fails with the sorted list of names not in `known`: a typoed
    * name must fail loudly, not silently run nothing. */
  def requireKnown(names: Iterable[String], known: collection.Set[String]): Unit = {
    val unknown = names.toSet -- known
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
  }

  /** Runs `df` through the noop sink, which, unlike `count()`,
    * materializes every output row and column. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Seconds to build `df` and run it through the noop sink. */
  def timeNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    noop(df)
    (System.nanoTime() - t0) / 1e9
  }

  /** Isolates one run from the next: drops every persisted or pinned
    * RDD (blocking, so the GC below does not run while the blocks are
    * still referenced), stops straggling streams, then settles the
    * heap. A stream whose stop() throws must not lose the timings. */
  def quiesce(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    try spark.streams.active.foreach(_.stop())
    catch { case NonFatal(e) =>
      System.err.println(s"[harness] stream stop failed: ${e.getMessage}") }
    System.gc()
  }

  /** Classes Janino has compiled in this JVM so far: Spark's
    * generated-code compile counter, which a hit in the
    * generated-class cache does not move. Over a warm run the delta
    * is 0 or a few, unless the cache
    * ([[GraftSession.CodegenCacheEntries]]) is smaller than the run's
    * working set. */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Median of a non-empty sample (even count: mean of the middle pair). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Deletes `p` and everything under it, unlinking symlinks without
    * following them; a missing path is a no-op. */
  def rmTree(p: Path): Unit = if (Files.exists(p, NOFOLLOW_LINKS)) {
    if (Files.isDirectory(p, NOFOLLOW_LINKS)) listDir(p).foreach(rmTree)
    Files.delete(p)
  }

  /** Eager directory listing that closes the directory handle. */
  def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }
}
