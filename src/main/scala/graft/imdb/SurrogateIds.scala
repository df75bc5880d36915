package graft.imdb

import graft.operators.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Deterministic dense surrogate-id assignment: ids 1..N in sorted
  * natural-key order (reference: pimdb/database.py:631-634, 730-732 —
  * autoincrement over sorted inserts).
  *
  * The naive `row_number() OVER (ORDER BY key)` is a single-task
  * global window — fine for dictionary tables, fatal at 100 TB entity
  * tables (SURVEY §7.4.3). This implements the two-phase pattern with
  * no task ever seeing more than one partition of data, entirely in
  * the DataFrame API (no `.rdd`, which would fork a second
  * non-codegen physical plan just for an index):
  *
  *  1. range-sort and stamp `monotonically_increasing_id()` — by its
  *     contract the partition id sits in the upper bits and a
  *     CONTIGUOUS 0-based record number in the lower 33, so the stamp
  *     already encodes (partition, local offset) in one pass;
  *  2. pin the stamped frame ([[graft.operators.Materialize.pin]]) so
  *     the offset aggregate and the final projection read the SAME
  *     materialized rows — two executions of a range sort may sample
  *     different partition bounds, which would mismatch offsets; the
  *     caller owns the pin through the returned [[Assigned]];
  *  3. one tiny per-partition count aggregate (#partitions rows) →
  *     cumulative offsets on the driver → broadcast-joined back;
  *     id = offset(partition) + local + 1.
  *
  * Ids are derived from *sorted natural keys*, never physical row
  * order, so they are reproducible across runs and self-consistent
  * between tables built in different jobs (SURVEY §7.4.2).
  */
object SurrogateIds {

  /** monotonically_increasing_id packs the record-in-partition number
    * in the low 33 bits. */
  private val LocalMask = (1L << 33) - 1

  /** An assignment's result and the release of its stamped-frame
    * pin. `frame` reads the pinned rows (re-execution could re-sample
    * range-partition bounds and mismatch the collected offsets), so
    * the pin outlives the call: its owner calls `release` once `frame`
    * is fully consumed (written, collected, or re-pinned). Under the
    * default localCheckpoint strategy the ContextCleaner also sweeps
    * an unreleased pin with the frame; under clusterSafe persist it
    * stays cached until released. `release` frees exactly this call's
    * pin, and a second call is a no-op. */
  final case class Assigned(frame: DataFrame, release: () => Unit)

  private def assignAs(df: DataFrame, idCol: String, sortCols: Seq[Column],
      idType: DataType): Assigned = {
    // the internal stamp/offset columns would be silently REPLACED by
    // withColumn if the input already carries them, projecting internal
    // values into the caller's data — fail loudly instead
    val clash = df.columns.toSet.intersect(Set("_mid", "_pid", "_off"))
    require(clash.isEmpty,
      s"SurrogateIds: input columns collide with internals: $clash")
    val spark = df.sparkSession
    import spark.implicits._
    val stamped = Materialize.pin(
      df.orderBy(sortCols: _*).withColumn("_mid", monotonically_increasing_id()))
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    val release = () =>
      if (released.compareAndSet(false, true)) Materialize.unpin(stamped)
    val perPart =
      try stamped
        .groupBy(shiftright(col("_mid"), 33).as("_pid"))
        .agg(count(lit(1)).as("_cnt"))
        .collect() // #partitions rows — bounded driver state, like any offsets pass
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1)
      catch { case e: Throwable => release(); throw e }
    var cum = 0L
    val offsets = perPart.map { case (pid, cnt) =>
      val o = (pid, cum); cum += cnt; o
    }.toSeq.toDF("_pid", "_off")
    Assigned(stamped
      .join(broadcast(offsets), shiftright(col("_mid"), 33) === col("_pid"))
      .withColumn(idCol,
        (col("_off") + col("_mid").bitwiseAND(LocalMask) + 1).cast(idType))
      .select(col(idCol) +: df.columns.toIndexedSeq.map(col): _*), release)
  }

  /** Dense 1-based int ids over `sortCols` order; the caller owns the
    * returned pin ([[Assigned]]). */
  def assign(df: DataFrame, idCol: String, sortCols: Seq[Column]): Assigned =
    assignAs(df, idCol, sortCols, org.apache.spark.sql.types.IntegerType)

  /** Same two-phase assignment with 64-bit ids — for corpus-scale
    * orderings (beyond 2^31 rows the int variant would wrap
    * negative). The int variant stays for the IMDb tables, whose
    * reference schema is integer autoincrement. */
  def assignLong(df: DataFrame, idCol: String, sortCols: Seq[Column]): Assigned =
    assignAs(df, idCol, sortCols, org.apache.spark.sql.types.LongType)
}
