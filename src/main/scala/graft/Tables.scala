package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-generated TPC-H-ish parquet tables (see
  * TESTDATA.md): region nation customer supplier part orders lineitem
  * events documents embeddings.
  *
  * All query entry points take a scale-factor directory so the same
  * code runs at sf0.001 (smoke), sf0.01 (correctness), sf0.1 (bench)
  * — and, unchanged, against a cluster-scale path: nothing here
  * assumes local files beyond the path string.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-session memo of the resolved input relations — a CATALOG
    * cache (logical plan + file listing + schema), NOT a data or
    * result cache: every action over a memoized frame still scans the
    * parquet from disk. Measured r21: each bare `spark.read.parquet`
    * call costs ~80–130 ms of driver work (DataSource resolution +
    * listing + footer schema inference), and gate bodies call
    * Tables() one-to-five times INSIDE the bench's timed region —
    * across 203 gates that was tens of seconds of pure re-resolution
    * of ten immutable fixture files. Production reads through a real
    * catalog (saveAsTable / Iceberg), which is exactly this memo's
    * role for the path-based fixtures. Keyed per session (a
    * DataFrame is bound to its SparkSession) via WeakHashMap so a
    * stopped session's entries can be collected; keyed per (dir,
    * name) so scale factors never mix. The fixtures are read-only —
    * a deployment mutating files under an open session would need to
    * refresh, same as any cached catalog listing.
    *
    * The VALUES are SoftReferences (r22, closing the r21 advice): a
    * strongly-held DataFrame value references its own SparkSession —
    * the classic value-refers-to-key WeakHashMap anti-pattern — which
    * would pin every stopped session (and its SessionState) for the
    * JVM lifetime and make the "collectible when stopped" claim
    * false. Behind a SoftReference the only strong chain to the
    * session is broken: under heap pressure the referent is
    * reclaimable and the weak key with it. A cleared referent just
    * re-resolves (~100 ms of metadata work — this is a cache, not
    * state), and soft refs survive ordinary GC (including the bench
    * harness's System.gc() between runs), so the memo keeps its
    * hit rate in practice. */
  private val frames = new java.util.WeakHashMap[
    SparkSession, java.util.concurrent.ConcurrentHashMap[
      String, java.lang.ref.SoftReference[DataFrame]]]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = frames.synchronized {
      var m = frames.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[
          String, java.lang.ref.SoftReference[DataFrame]]()
        frames.put(spark, m)
      }
      m
    }
    val path = s"$dir/$name.parquet"
    // compute-then-check instead of computeIfAbsent: a present entry
    // whose soft referent was cleared must be REPLACED, and doing the
    // ~100 ms re-resolve inside the CHM lock would serialize
    // concurrent first reads of different tables
    val cached = Option(perSession.get(path)).flatMap(r => Option(r.get))
    cached.getOrElse {
      val df = spark.read.parquet(path)
      perSession.put(path, new java.lang.ref.SoftReference(df))
      df
    }
  }

  /** Epoch-micros expression for an event `ts` column, covering every
    * encoding the driver's testdata has shipped so far:
    *
    *  - `LongType` — TIMESTAMP(NANOS) parquet read as a nanos Long
    *    under `spark.sql.legacy.parquet.nanosAsLong=true`;
    *  - `TimestampNTZType` — `timestamp[us]` parquet without a
    *    timezone, which Spark 4 reads as TIMESTAMP_NTZ. `unix_micros`
    *    only accepts TIMESTAMP_LTZ, so cast first: the sessions pin
    *    `spark.sql.session.timeZone=UTC`, making the cast interpret
    *    the naive value as UTC — exactly DuckDB's `epoch_us(ts)` on
    *    the same file;
    *  - `TimestampType` (LTZ) — `unix_micros` directly.
    *
    * Shared by [[events]] and `EventStreams.tsMicros` so batch and
    * streaming reads can never drift on the decoding rule again.
    */
  def tsUsColumn(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    dt match {
      case LongType => expr("ts DIV 1000")
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case _ => unix_micros(col("ts"))
    }
  }

  /** `events` with a normalized `ts_us` epoch-microseconds column.
    *
    * The driver's parquet has stored `ts` as TIMESTAMP(NANOS) (rounds
    * ≤9) and as timezone-less `timestamp[us]` (round 10+); DuckDB
    * reads either natively. Comparing/ordering on epoch micros
    * (`ts_us` here, `epoch_us(ts)` in oracle SQL) aligns both engines
    * across all encodings — see [[tsUsColumn]].
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val e = apply(spark, dir, "events")
    e.withColumn("ts_us", tsUsColumn(e.schema("ts").dataType))
  }
}
