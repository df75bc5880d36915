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
  *     different partition bounds, which would mismatch offsets;
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

  /** The stamped-frame pins assign() creates, per session — the
    * RESULT frame reads the pinned rows (re-execution could re-sample
    * range-partition bounds and mismatch the collected offsets), so
    * the pin cannot be dropped inside assign. Under the default
    * localCheckpoint strategy the ContextCleaner sweeps it with the
    * frame; under clusterSafe persist the cache entry would leak per
    * call (nine per IMDb build) unless the OWNER of the assigned
    * outputs calls [[releasePins]] once they are fully consumed
    * (written, collected, or re-pinned) — Build.release does, and the
    * Lloyd seeding releases after collecting its seed constants.
    * Contract: call at a quiescent point; a release races only
    * against an assign whose output is still un-consumed. */
  private val stampedPins =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[(org.apache.spark.sql.SparkSession, DataFrame)]())

  /** The scope collector of the innermost [[withScopedPins]] active on
    * THIS thread (null outside any scope): assign() registers its pin
    * here in addition to the global ledger, so scope teardown releases
    * exactly the pins the scope itself created — a sibling assign()
    * racing on another thread of the same session is untouched (the
    * prior identity-set-diff over the global list could unpin it
    * mid-plan). */
  private val activeScope =
    new ThreadLocal[java.util.ArrayList[DataFrame]]()

  /** Release every stamped-frame pin assign() created in `spark`'s
    * session whose outputs the caller has fully consumed. Entries are
    * keyed by the session OBJECT (reference identity) — an
    * identityHashCode key is not unique by contract, and two colliding
    * sessions would release each other's pins. */
  def releasePins(spark: org.apache.spark.sql.SparkSession): Unit =
    stampedPins.synchronized {
      val it = stampedPins.iterator()
      while (it.hasNext) {
        val (sess, df) = it.next()
        if (sess eq spark) { Materialize.unpin(df); it.remove() }
      }
    }

  /** Run `body` and release ONLY the pins assign() creates inside it
    * on this thread — for callers that fully consume their assigned
    * outputs within the scope (collected to driver constants, written
    * out). Unlike [[releasePins]] this cannot touch a pin some OTHER
    * still-lazy computation depends on (e.g. one training's release
    * unpinning a sibling training's seed ranks mid-plan), including a
    * concurrent assign() on another thread of the same session: the
    * scope tracks its own creations via a thread-local collector, not
    * a diff over the global ledger. Release runs in a `finally` — a
    * throw mid-body frees the scoped pins rather than leaking exactly
    * what the ledger exists to free (the outputs are abandoned with
    * the scope, so nothing can still read them). Scopes nest: an inner
    * scope releases only its own pins.
    *
    * SAME-THREAD contract (the thread-local is the mechanism): only
    * assign() calls made on THIS thread inside `body` are scoped — an
    * assign() dispatched to another thread registers in the global
    * ledger alone and stays pinned until an explicit [[releasePins]].
    * [[Build.apply]] is such a caller: it runs its assign() calls on
    * the threads of a [[Concurrent.all]] pool, so its pins are freed by
    * `Build.release` -> [[releasePins]] (on success or a failed
    * derive), never by a scope around the build.
    * No session parameter, deliberately: release is scope-keyed, not
    * session-keyed, and a session argument here would suggest
    * otherwise. */
  def withScopedPins[T](body: => T): T = {
    val outer = activeScope.get()
    val mine = new java.util.ArrayList[DataFrame]()
    activeScope.set(mine)
    try body
    finally {
      activeScope.set(outer)
      val created = new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]()
      mine.forEach(df => created.put(df, java.lang.Boolean.TRUE))
      stampedPins.synchronized {
        val it = stampedPins.iterator()
        while (it.hasNext) {
          val (_, df) = it.next()
          if (created.containsKey(df)) { Materialize.unpin(df); it.remove() }
        }
      }
    }
  }

  private def assignAs(df: DataFrame, idCol: String, sortCols: Seq[Column],
      idType: DataType): DataFrame = {
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
    stampedPins.add((spark, stamped))
    val scope = activeScope.get()
    if (scope != null) scope.add(stamped)
    val perPart = stamped
      .groupBy(shiftright(col("_mid"), 33).as("_pid"))
      .agg(count(lit(1)).as("_cnt"))
      .collect() // #partitions rows — bounded driver state, like any offsets pass
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    var cum = 0L
    val offsets = perPart.map { case (pid, cnt) =>
      val o = (pid, cum); cum += cnt; o
    }.toSeq.toDF("_pid", "_off")
    stamped
      .join(broadcast(offsets), shiftright(col("_mid"), 33) === col("_pid"))
      .withColumn(idCol,
        (col("_off") + col("_mid").bitwiseAND(LocalMask) + 1).cast(idType))
      .select(col(idCol) +: df.columns.toIndexedSeq.map(col): _*)
  }

  /** Dense 1-based int ids over `sortCols` order. The stamped-frame
    * pin this creates registers with the innermost [[withScopedPins]]
    * scope ON THE CALLING THREAD only — an assign() dispatched to
    * another thread inside a scope is ledger-tracked but unscoped
    * (released by [[releasePins]], not scope teardown). */
  def assign(df: DataFrame, idCol: String, sortCols: Seq[Column]): DataFrame =
    assignAs(df, idCol, sortCols, org.apache.spark.sql.types.IntegerType)

  /** Same two-phase assignment with 64-bit ids — for corpus-scale
    * orderings (beyond 2^31 rows the int variant would wrap
    * negative). The int variant stays for the IMDb tables, whose
    * reference schema is integer autoincrement. */
  def assignLong(df: DataFrame, idCol: String, sortCols: Seq[Column]): DataFrame =
    assignAs(df, idCol, sortCols, org.apache.spark.sql.types.LongType)
}
