package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types._

/** Format-agnostic table IO: the engine's source/sink surface.
  *
  * The reference's sinks are batched SQL INSERTs and TSV (SURVEY §2.1
  * S5-S8); here every Spark batch format plus JDBC is first-class, so
  * "maintain a local SQL copy" (the reference's whole purpose) works
  * against any JDBC database — writes are partition-parallel with
  * the reference's default batch size.
  */
object Sources {

  /** reference: pimdb/bulk.py:13 — default rows per INSERT batch. */
  val DefaultJdbcBatchSize = 1024

  /** Spark's built-in Derby dialect maps StringType to CLOB, which
    * Derby refuses to compare against literals (so the SQL copy is
    * unusable for WHERE clauses) and which breaks setNull on VARCHAR
    * columns. This dialect maps strings to comparable VARCHARs —
    * the analog of the reference's String/Text column split
    * (database.py:36-37). Registered lazily, takes precedence over
    * the builtin. */
  private object DerbyVarcharDialect extends JdbcDialect {
    override def canHandle(url: String): Boolean =
      url.toLowerCase(java.util.Locale.ROOT).startsWith("jdbc:derby")
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case StringType => Option(JdbcType("VARCHAR(4000)", java.sql.Types.VARCHAR))
      case BooleanType => Option(JdbcType("BOOLEAN", java.sql.Types.BOOLEAN))
      case ShortType | ByteType =>
        Option(JdbcType("SMALLINT", java.sql.Types.SMALLINT))
      case _ => None
    }
  }
  private lazy val derbyDialectRegistered: Unit =
    JdbcDialects.registerDialect(DerbyVarcharDialect)

  private def ensureDialect(url: String): Unit =
    if (url.toLowerCase(java.util.Locale.ROOT).startsWith("jdbc:derby"))
      derbyDialectRegistered

  def read(
      spark: SparkSession, format: String, path: String,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format(format).options(options)
    schema.foreach(r.schema)
    r.load(path)
  }

  def write(
      df: DataFrame, format: String, path: String,
      options: Map[String, String] = Map.empty): Unit =
    df.write.format(format).options(options).mode(SaveMode.Overwrite).save(path)

  /** SQL-database sink (reference: BulkInsert, pimdb/bulk.py:22-72 —
    * but executed per-partition in parallel instead of one driver
    * loop). */
  def writeJdbc(
      df: DataFrame, url: String, table: String,
      batchSize: Int = DefaultJdbcBatchSize,
      options: Map[String, String] = Map.empty): Unit = {
    ensureDialect(url)
    df.write.options(options)
      .option("batchsize", batchSize.toString)
      .mode(SaveMode.Overwrite)
      .jdbc(url, table, new java.util.Properties())
  }

  def readJdbc(spark: SparkSession, url: String, table: String): DataFrame = {
    ensureDialect(url)
    spark.read.jdbc(url, table, new java.util.Properties())
  }

  /** Make a managed-table (re)write idempotent ACROSS JVMs: drop the
    * catalog entry if present, then remove a stale on-disk location a
    * PREVIOUS session may have left behind. With an ephemeral
    * session catalog (fresh driver, same warehouse dir — every
    * re-run of an index-build job), `SaveMode.Overwrite` alone fails
    * with LOCATION_ALREADY_EXISTS because the catalog has forgotten
    * the table while its files persist. A durable metastore makes the
    * DROP sufficient; the location sweep covers the catalog-lost
    * case. */
  def dropManaged(spark: SparkSession, tableName: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val path = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(tableName)))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Bucketed + sorted managed table: equi-joins and aggregations on
    * `bucketCols` against another table bucketed the same way run
    * WITHOUT a shuffle — the on-disk layout replaces the exchange.
    * This is the 100 TB answer to "co-locate the big joins"
    * (SURVEY §4: indexes → partitioning decisions). */
  def writeBucketed(
      df: DataFrame, tableName: String,
      bucketCols: Seq[String], numBuckets: Int): Unit = {
    dropManaged(df.sparkSession, tableName)
    df.write
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(tableName)
  }

  // ---------------------------------------------------------------
  // Versioned tables: `tableName` is a VIEW (the version POINTER)
  // over physical bucketed tables `tableName__v<N>`. A swap writes
  // the next version COMPLETELY, then repoints the view with ONE
  // atomic catalog operation (CREATE OR REPLACE VIEW), so a
  // concurrent reader resolving `spark.table(tableName)` always sees
  // the old version or the new one — never TABLE-NOT-FOUND, never
  // partial data. A version's catalog entry is only created after
  // its files are fully written (saveAsTable commits metadata last),
  // so a version that EXISTS is complete by construction; a crash
  // between write and repoint leaves the pointer at the previous
  // complete version (the caller simply re-derives — the orphan is
  // reclaimed at the next swap), which is also the cross-JVM
  // recovery story: a restarted process resolves the pointer and
  // finds must-not-reset state intact. The last `retain` versions
  // survive each swap, giving snapshot reads ([[readVersion]]) and
  // version diffs without a log-structured table format.
  // ---------------------------------------------------------------

  private def versionName(tableName: String, v: Int) = s"${tableName}__v$v"

  /** Normalize a caller's name for the VERSIONED-table surface: parse
    * through the session's identifier rules and LOWERCASE (the
    * catalog stores identifiers lowercased under the default
    * case-insensitive resolution, so a mixed-case caller would match
    * the catalog's `mytable__v1` against a `MyTable__v` prefix, see
    * NO versions, and blind every guard built on the version list —
    * the orphan refusal, the reclaim sweep, retention). Versioned
    * tables are current-database scoped: a foreign-database qualifier
    * is refused loudly rather than silently splitting the pointer
    * view and its version tables across catalogs and filesystem
    * paths (pointTo/creationMarker build single-part identifiers). */
  private def versionedBase(spark: SparkSession, tableName: String): String = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val cur = spark.catalog.currentDatabase
    ident.database.foreach(db => require(db.equalsIgnoreCase(cur),
      s"versioned table `$tableName` must live in the current " +
        s"database `$cur` — the pointer view and its version tables " +
        "are current-database scoped; USE the database first"))
    ident.table.toLowerCase(java.util.Locale.ROOT)
  }

  /** The no-pointer-but-complete-versions ambiguity guard shared by
    * every path that would CREATE over such orphans (append's lazy
    * create, swap on an absent table): a marker-proven single v1 is
    * our own crashed create (safe to reclaim — the at-least-once
    * caller re-delivers its batch); anything else may be a crashed
    * plain→versioned upgrade's SOLE surviving copy and must be
    * refused loudly for the operator to adopt or discard. */
  private def refuseUnadoptedOrphans(spark: SparkSession,
      tableName: String, caller: String): Unit = {
    val marker = creationMarker(spark, tableName)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphans = tableVersions(spark, tableName)
    val selfCrashed = orphans == Seq(1) && fs.exists(marker)
    require(orphans.isEmpty || selfCrashed,
      s"$caller: `$tableName` has no pointer view but " +
        s"complete version(s) ${orphans.mkString(",")} exist — " +
        "refusing to write over them. If this is a crashed " +
        "plain->versioned upgrade, recover its data with " +
        s"Sources.adoptVersion(spark, \"$tableName\", " +
        s"${orphans.lastOption.getOrElse(1)}); if it is an " +
        "abandoned first swap, discard it with " +
        s"Sources.dropVersioned(spark, \"$tableName\").")
  }

  /** Writer mutual exclusion, per table, within this driver JVM: the
    * mutators ([[appendBucketed]], [[swapBucketed]],
    * [[compactBucketed]]) serialize on a per-table monitor, so an
    * ingest trigger appending while a maintenance job compacts the
    * same table — the realistic overlap, since one driver owns a
    * table's maintenance — cannot interleave. Without this, a
    * compaction's read-rewrite-swap racing an append silently LOSES
    * the append (it lands in the superseded version), and two swaps
    * can each reclaim the other's in-flight version.
    *
    * The boundary is the JVM: mutating one versioned table from
    * SEPARATE drivers needs an external lock service, exactly as
    * HMS-backed Hive/Iceberg deployments require — the catalog here
    * offers atomic operations but no compare-and-swap to build
    * cross-process OCC on. [[commitSwap]]'s stale-pointer check
    * turns the likeliest cross-driver race (a foreign flip between
    * derivation and commit) into a loud abort instead of a silent
    * lost update; it is a detector, not a license. Readers need no
    * lock at any scope — that is the pointer view's whole job.
    * (Callers that can re-derive cheaply may catch
    * [[ConcurrentSwapException]] and retry from the new current
    * version; the default is to surface it, because two live writers
    * on one table is a deployment error worth hearing about.) */
  private val writerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withWriterLock[T](spark: SparkSession, tableName: String)(
      body: => T): T = {
    // normalize through the session's identifier parser before
    // keying the monitor: a caller passing "db.t" and another
    // passing "t" with currentDatabase=db mutate the SAME table and
    // must contend on the SAME lock — a raw string-concat key would
    // hand them different monitors and silently void the mutual
    // exclusion. Lowercased because the session catalog resolves
    // identifiers case-insensitively (spark.sql.caseSensitive=false
    // default), so "T" and "t" are one table too.
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val key = ident.database.getOrElse(spark.catalog.currentDatabase)
      .toLowerCase(java.util.Locale.ROOT) + "." +
      ident.table.toLowerCase(java.util.Locale.ROOT)
    // monitors are reentrant, so compactBucketed's inner swapBucketed
    // re-enters its own lock instead of deadlocking
    val lock = writerLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized(body)
  }

  /** The writer lock, exposed for multi-step read-modify-write
    * sequences AROUND a mutation that must be atomic against other
    * in-driver mutators — e.g. the stats triplet (catalog snapshot →
    * append → stats bump): run outside the lock, two appenders can
    * both snapshot the same baseline and the second bump silently
    * discards the first's increment, or a compaction's fresh ANALYZE
    * lands between a snapshot and its bump and is clobbered by the
    * stale colStats. Reentrant — the inner append/swap re-enters. */
  def withTableLock[T](spark: SparkSession, tableName: String)(
      body: => T): T = withWriterLock(spark, tableName)(body)

  /** A swap found the version pointer moved by another writer between
    * its derivation and its commit — the derivation read a superseded
    * base, so committing would silently discard the foreign update.
    * The live pointer is untouched; the swap's output stays behind as
    * an unflipped orphan for the established reclaim paths (the next
    * swap's sweep, or retention as the chain advances) — deleting it
    * here could destroy a same-numbered foreign commit's live files.
    * Re-derive from the current version and retry. */
  final class ConcurrentSwapException(msg: String)
    extends RuntimeException(msg)

  /** Filesystem flag marking an [[appendBucketed]] TABLE CREATION in
    * flight: written before the v1 write, removed after the pointer
    * flip. Its presence next to a complete pointerless __v1 proves
    * the orphan is append's OWN crashed create (whose batch the
    * at-least-once caller will re-deliver — safe to reclaim, restart
    * self-heals) and not a crashed plain→versioned upgrade's sole
    * surviving copy (which has no marker and must be refused). */
  private def creationMarker(spark: SparkSession,
      tableName: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(tableName))
        .toString + "._append_creating")
  // the version lives in the pointer view's own definition text (the
  // one thing repointing atomically replaces) — a separate
  // TBLPROPERTIES write would be a second, non-atomic catalog op
  private val ViewTargetVersion = "__v(\\d+)`\\s*$".r.unanchored

  /** All existing version numbers of `tableName`, ascending —
    * catalog-registered (hence complete) versions only. */
  def tableVersions(spark: SparkSession, tableName: String): Seq[Int] = {
    val base = versionedBase(spark, tableName)
    val db = spark.catalog.currentDatabase
    spark.sessionState.catalog.listTables(db, s"${base}__v*")
      .flatMap { id =>
        val n = id.table
        if (n.startsWith(s"${base}__v"))
          n.substring(base.length + 3).toIntOption
        else None
      }.sorted
  }

  /** The version the pointer view currently serves, if `tableName`
    * is a versioned table (absent or a plain table → None). */
  def currentVersion(spark: SparkSession, tableName: String): Option[Int] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.CatalogTableType
    val cat = spark.sessionState.catalog
    val id = TableIdentifier(versionedBase(spark, tableName))
    if (!cat.tableExists(id)) None
    else {
      val meta = cat.getTableMetadata(id)
      if (meta.tableType != CatalogTableType.VIEW) None
      else meta.viewText.flatMap {
        case ViewTargetVersion(v) => v.toIntOption
        case _ => None
      }
    }
  }

  /** The PHYSICAL table serving `tableName` right now: the pointed-to
    * version for a versioned table, the name itself for a plain
    * table. This is where appends land and where optimizer statistics
    * belong ([[graft.operators.Analytics]] resolves through it). */
  def physicalName(spark: SparkSession, tableName: String): String = {
    val base = versionedBase(spark, tableName)
    currentVersion(spark, base)
      .map(versionName(base, _)).getOrElse(base)
  }

  /** Read version `v` of a versioned table — the as-of read over the
    * versions [[swapBucketed]]/[[compactBucketed]] retain. */
  def readVersion(spark: SparkSession, tableName: String, v: Int): DataFrame =
    spark.table(versionName(versionedBase(spark, tableName), v))

  /** Point `tableName` at an EXISTING complete version — the manual
    * recovery action when a crash left complete versions with no
    * pointer (a plain→versioned upgrade that died between its DROP
    * TABLE and the flip). [[appendBucketed]] refuses to create over
    * such orphans precisely so the operator can run this instead of
    * losing the upgrade survivor. Refuses to clobber a live PLAIN
    * table (that is [[swapBucketed]]'s upgrade job, which preserves
    * its rows). */
  def adoptVersion(spark: SparkSession, rawName: String, v: Int): Unit = {
    val tableName = versionedBase(spark, rawName)
    // same writer lock as the swap/append/compact mutators: a manual
    // recovery repoint racing an in-flight swap's derive→commit gap
    // would be silently overwritten by the swap's flip — the exact
    // in-driver lost-update class the lock exists to close
    withWriterLock(spark, tableName) {
      require(spark.catalog.tableExists(versionName(tableName, v)),
        s"adoptVersion: version $v of `$tableName` does not exist")
      require(!spark.catalog.tableExists(tableName) ||
        currentVersion(spark, tableName).isDefined,
        s"adoptVersion: `$tableName` is a plain table — upgrade it with " +
          "swapBucketed instead of pointing over it")
      pointTo(spark, tableName, v)
    }
  }

  private def pointTo(spark: SparkSession, tableName: String, v: Int): Unit = {
    // repoint with ALTER VIEW AS — ONE alterTable of the view's
    // definition, atomic under the catalog lock. NOT "CREATE OR
    // REPLACE VIEW": Spark implements that replace as dropTable +
    // createTable, which re-opens exactly the not-found window this
    // pointer exists to close (the reader-atomicity hammer in
    // SourcesSpec catches the difference).
    val sel = s"SELECT * FROM `${versionName(tableName, v)}`"
    if (spark.catalog.tableExists(tableName))
      spark.sql(s"ALTER VIEW `$tableName` AS $sel")
    else spark.sql(s"CREATE VIEW `$tableName` AS $sel")
  }

  /** Drop a versioned table completely: pointer view, every retained
    * version, and (for pre-versioned callers) a plain table of the
    * same name. The teardown [[dropManaged]] is for plain tables. */
  def dropVersioned(spark: SparkSession, rawName: String): Unit = {
    val tableName = versionedBase(spark, rawName)
    if (currentVersion(spark, tableName).isDefined)
      spark.sql(s"DROP VIEW IF EXISTS `$tableName`")
    else dropManaged(spark, tableName)
    tableVersions(spark, tableName)
      .foreach(v => dropManaged(spark, versionName(tableName, v)))
    // sweep version locations the CATALOG no longer knows about — a
    // dead session against a persistent warehouse dir leaves files a
    // later create would trip over (the same catalog-lost case
    // dropManaged handles for one table, globbed over the version
    // naming scheme)
    val base = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(tableName)))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = base.getParent
    val prefix = base.getName + "__v"
    // match the EXACT version naming scheme (`<base>__v<digits>`),
    // not a bare prefix: a prefix sweep would also delete the files
    // of an unrelated table whose name happens to extend it (dropping
    // `foo` must not destroy `foo__video` or `foo__v2_bak`)
    def isVersionDir(n: String): Boolean =
      n.length > prefix.length && n.startsWith(prefix) &&
        n.substring(prefix.length).forall(_.isDigit)
    if (parent != null && fs.exists(parent))
      fs.listStatus(parent)
        .filter(st => isVersionDir(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
    // a committed-create crash can strand the in-flight marker behind
    // a live pointer; dropping the table is where it must die, or a
    // FUTURE table of the same name could mistake an upgrade survivor
    // for a self-crashed create
    fs.delete(creationMarker(spark, tableName), false)
  }

  /** APPEND `batch` into the bucketed table `tableName`, resolving
    * the version pointer: appends land in the CURRENT version of a
    * versioned table (so they are immediately reader-visible through
    * the pointer view), in the table itself for a legacy plain
    * table, and — when the table does not exist at all — in a
    * freshly-created first version WITH its pointer view, so
    * lazily-created indexes are versioned from birth and a later
    * [[compactBucketed]] never needs the plain→view upgrade window.
    * The bucket spec must match an existing table's; Spark rejects a
    * mismatched append, which is the failure mode you want for an
    * index whose layout IS the probing contract. The physical
    * relation's cached file listing is refreshed after the write, so
    * the next reader (this JVM's next trigger) sees the new files
    * without having to know the physical name.
    *
    * Returns the number of rows appended, observed ON the write
    * itself (`Dataset.observe` — a CollectMetrics node over the
    * write's own scan, NO second evaluation of the batch): the
    * caller's statistics maintenance
    * ([[graft.operators.Analytics.maintainStatsOnAppend]]) needs the
    * increment, and re-counting a derived batch would re-run its
    * whole pipeline. `observeCount = false` skips the metric and
    * returns -1 — for callers that will not use the count (a table
    * with no stats to maintain): Observation.get waits on the async
    * listener bus, a per-trigger latency a streaming ingest should
    * only pay when the count is actually consumed. */
  def appendBucketed(batch: DataFrame, rawName: String,
      bucketCols: Seq[String], numBuckets: Int,
      observeCount: Boolean = true): Long = {
    val tableName = versionedBase(batch.sparkSession, rawName)
    withWriterLock(batch.sparkSession, tableName) {
      appendBucketedLocked(batch, tableName, bucketCols, numBuckets,
        observeCount)
    }
  }

  private def appendBucketedLocked(batch: DataFrame, tableName: String,
      bucketCols: Seq[String], numBuckets: Int,
      observeCount: Boolean): Long = {
    val spark = batch.sparkSession
    val creating = !spark.catalog.tableExists(tableName)
    val marker = creationMarker(spark, tableName)
    val markerFs = marker.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val target =
      if (creating) {
        // a COMPLETE version without a pointer is ambiguous from
        // here: our own creating write that died before its pointer
        // flip left a discardable copy of a batch the at-least-once
        // caller re-delivers (the creation marker below proves this
        // case — reclaim and self-heal), but a legacy plain→versioned
        // upgrade that died between its DROP TABLE and the pointer
        // flip left the table's ONLY copy of must-not-reset data
        // (no marker). Silently dropping THAT would turn the
        // documented "briefly not-found" upgrade window into data
        // LOSS, so the SHARED guard fails loudly and lets the
        // operator decide: [[adoptVersion]] for the upgrade survivor,
        // [[dropVersioned]] for swap garbage to discard.
        refuseUnadoptedOrphans(spark, tableName, "appendBucketed")
        // mark the creation IN FLIGHT before any write, so a crash
        // anywhere below leaves evidence the next create may trust
        markerFs.create(marker, true).close()
        // reclaim a self-crashed create's v1 (the selfCrashed case
        // above) AND sweep a DEAD session's files at v1's location —
        // the catalog has forgotten those (fresh driver, persistent
        // warehouse dir) but saveAsTable's create would still hit
        // LOCATION_ALREADY_EXISTS; one dropManaged covers both
        dropManaged(spark, versionName(tableName, 1))
        versionName(tableName, 1)
      } else physicalName(spark, tableName)
    val obs = org.apache.spark.sql.Observation()
    val toWrite =
      if (observeCount)
        batch.observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
      else batch
    // align rows to the writer's bucket hash before the write — the
    // same repartition swapBucketed does, for the same reason: the
    // file writer emits one file per (task × bucket-present), so an
    // N-partition batch appends up to N×numBuckets fragments per
    // trigger instead of ≤ numBuckets, and every later probe/compact
    // pays the listing. The exchange is on the batch (the small side
    // of an ingest append) and lands each bucket's rows in exactly
    // one task. The trade is explicit: append WRITE parallelism
    // becomes numBuckets tasks (it was N input partitions), which is
    // the same dial swapBucketed documents — at cluster scale you
    // size numBuckets to the cluster, and the bucketed probe contract
    // wants that layout anyway; unaligned parallelism was buying
    // speed by fragmenting the very artifact the appends maintain.
    val aligned = toWrite.repartition(numBuckets,
      bucketCols.map(org.apache.spark.sql.functions.col): _*)
    try {
      aligned.write.mode("append").format("parquet")
        .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .saveAsTable(target)
    } catch {
      case e: Throwable if creating =>
        // an in-JVM FAILURE (disk full, analysis error), not a crash:
        // reclaim the partial v1 and the marker here, or the leaked
        // marker outlives this create and could later vouch for a
        // DIFFERENT orphan — a crashed plain→versioned upgrade's sole
        // surviving copy, which the self-heal would then silently
        // drop instead of raising the designed loud refusal. A real
        // crash skips this handler and the marker does its job.
        // the write error is the one to surface; a cleanup failure
        // rides along on it instead of replacing it
        try {
          dropManaged(spark, versionName(tableName, 1))
          markerFs.delete(marker, false)
        } catch { case scala.util.control.NonFatal(c) => e.addSuppressed(c) }
        throw e
    }
    if (creating) {
      pointTo(spark, tableName, 1)
      // the creation committed; a crash before this delete leaves a
      // stale marker behind a LIVE pointer, which no later decision
      // consults (creating=false) and dropVersioned removes
      markerFs.delete(marker, false)
    }
    spark.catalog.refreshTable(target)
    if (!observeCount) -1L
    else obs.get.getOrElse("rows",
      sys.error("append write completed without observed metrics")) match {
      case n: Long => n
      case other => sys.error(s"unexpected observed row count: $other")
    }
  }

  /** REPLACE `tableName` with `df`'s rows in the bucketed layout —
    * the read-modify-swap a per-trigger state table needs: `df` may
    * be DERIVED FROM the current contents (the next version is fully
    * materialized before anything is dropped, so the lineage reads
    * the current version's files intact), and the reader-visible cut
    * is the single [[pointTo]] catalog operation: old version or new,
    * never absent, never partial. Prior versions survive until
    * retention drops them (`retain` versions kept, ≥ 1), so
    * [[readVersion]] serves snapshot reads and version diffs.
    * Crash recovery is pointer-shaped (see the section comment):
    * unflipped orphan versions are reclaimed here before the next
    * version number is chosen, and a version's existence in the
    * catalog implies its write completed.
    * The repartition aligns rows to the writer's bucket hash
    * (pmod(murmur3(bucketCols), n) — same as `repartition`'s), so
    * the write runs as `numBuckets` PARALLEL tasks each producing
    * its bucket's one sorted file: state persistence scales with the
    * cluster instead of funnelling through a single task, and the
    * next trigger's read is a bucketed scan (per-key joins on
    * `bucketCols` need no exchange on the state side — the view adds
    * only a collapsed Project, so the physical scan still advertises
    * the bucket layout). This is the state-maintenance twin of
    * [[compactBucketed]], distinguished by rewriting CONTENT rather
    * than layout.
    * A LEGACY plain table occupying `tableName` is upgraded in
    * place: the new version is written, the plain table dropped, the
    * view created — the one transition with a (one-time) not-found
    * window; tables born through this API never have one. A crash
    * INSIDE that window leaves the state solely in the complete
    * unflipped version — recoverable, not lost: BOTH
    * [[appendBucketed]] and this method refuse to write over such
    * orphans, and [[adoptVersion]] flips the pointer to them. */
  def swapBucketed(df: DataFrame, rawName: String,
      bucketCols: Seq[String], numBuckets: Int, retain: Int = 2): Unit = {
    val tableName = versionedBase(df.sparkSession, rawName)
    withWriterLock(df.sparkSession, tableName) {
      swapBucketedLocked(df, tableName, bucketCols, numBuckets, retain)
    }
  }

  private def swapBucketedLocked(df: DataFrame, tableName: String,
      bucketCols: Seq[String], numBuckets: Int, retain: Int): Unit = {
    import org.apache.spark.sql.functions.col
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val spark = df.sparkSession
    val cur = currentVersion(spark, tableName)
    val legacyPlain = cur.isEmpty && spark.catalog.tableExists(tableName)
    // no pointer, no plain table, yet complete versions exist: this
    // may be a crashed plain->versioned upgrade whose sole surviving
    // copy is the unflipped version — the reclaim below would DESTROY
    // it and a re-derived df may even read from it. The shared guard
    // refuses loudly (adoptVersion recovers, dropVersioned discards),
    // exactly the contract the scaladoc promises; a marker-proven
    // self-crashed append create passes and is reclaimed as garbage.
    if (cur.isEmpty && !legacyPlain)
      refuseUnadoptedOrphans(spark, tableName, "swapBucketed")
    // reclaim versions NEWER than the pointer: complete-but-unflipped
    // leftovers of a swap that died before its pointTo — that swap
    // never happened (its derivation is re-run now), so its output is
    // garbage, and reclaiming it first keeps version numbers moving
    // through flipped states only
    val curV = cur.getOrElse(0)
    tableVersions(spark, tableName).filter(_ > curV)
      .foreach(v => dropManaged(spark, versionName(tableName, v)))
    val next = curV + 1
    writeBucketed(df.repartition(numBuckets, bucketCols.map(col): _*),
      versionName(tableName, next), bucketCols, numBuckets)
    commitSwap(spark, tableName, cur, next, dropLegacyPlain = legacyPlain)
    tableVersions(spark, tableName).filter(_ <= next - retain)
      .foreach(v => dropManaged(spark, versionName(tableName, v)))
  }

  /** The swap's commit point, with the cross-driver lost-update
    * DETECTOR: flip the pointer to `next` only if it still serves
    * `expected`, the version the swap derived from. Within one
    * driver [[withWriterLock]] makes the check vacuous; across
    * drivers (where no lock exists — see the writer-lock note) a
    * foreign flip between derivation and commit means this swap's
    * output embeds a superseded base, and committing it would
    * silently discard the foreign writer's update — so reclaim our
    * orphan and abort loudly instead. The check-then-flip pair is
    * not itself atomic (the catalog has no compare-and-swap), so
    * this narrows the cross-driver window rather than closing it:
    * the contract remains one mutating driver per table. */
  private[sources] def commitSwap(spark: SparkSession, tableName: String,
      expected: Option[Int], next: Int, dropLegacyPlain: Boolean): Unit = {
    val nowV = currentVersion(spark, tableName)
    if (nowV != expected) {
      // leave version `next` unflipped: if the foreign commit took
      // OUR number these are its live files (writeBucketed's
      // drop-then-overwrite clobbered ours), and if not, the orphan
      // is exactly the shape the next swap's sweep reclaims
      throw new ConcurrentSwapException(
        s"swap of `$tableName` derived from version " +
          s"${expected.fold("<none>")(_.toString)} but the pointer now " +
          s"serves ${nowV.fold("<none>")(_.toString)} — another writer " +
          "committed in between. The live pointer is untouched and " +
          "this swap's output was NOT flipped in; re-derive from the " +
          "current version and retry. Mutating one table from " +
          "separate drivers requires an external lock service.")
    }
    if (dropLegacyPlain) spark.sql(s"DROP TABLE `$tableName`")
    pointTo(spark, tableName, next)
  }

  /** Compact a bucketed managed table back to ONE sorted file per
    * bucket. Every foreachBatch append (`appendIvfIndex`,
    * `appendBandIndex`) lands up to one new file per bucket per
    * trigger; bucket pruning and exchange-freedom survive that, but
    * Spark only trusts the per-bucket SORT when a bucket holds a
    * single file, so a long-running ingest gradually forfeits the
    * sort half of the layout (and pays many small reads).
    *
    * The writer's bucket id is pmod(murmur3(bucketCols), n) — the
    * same hash `repartition(n, bucketCols)` uses — so repartitioning
    * by the bucket columns puts each bucket's rows in exactly one
    * task, which then writes exactly one sorted file. The input is
    * read as PLAIN parquet over the table's current files, not via
    * `spark.table`: the table scan ADVERTISES the bucket layout, so
    * the optimizer elides a repartition over it as redundant — while
    * auto-bucketed-scan (no operator needs the distribution here)
    * actually reads plain size-packed splits that MIX buckets; the
    * elided shuffle then never re-aligns them and every task writes a
    * file per bucket it happens to hold, tasks × buckets small files.
    * The plain read carries no partitioning claim, so the aligning
    * shuffle survives.
    *
    * The rewrite stages through the same versioned pointer flip as
    * [[swapBucketed]]: the compacted layout lands as the next
    * version, the view repoints atomically — a reader sees the old
    * layout or the new, never a half-written or absent table — and
    * the fragmented prior version stays readable as-of until
    * retention drops it. The maintenance companion every appended
    * stored artifact needs at 100 TB; run it off the serving path. */
  def compactBucketed(spark: SparkSession, rawName: String,
      bucketCols: Seq[String], numBuckets: Int, retain: Int = 2): Unit = {
    val tableName = versionedBase(spark, rawName)
    withWriterLock(spark, tableName) {
    // the file listing must sit under the same writer lock as the
    // inner swap (monitors are reentrant): listed-then-dropped files
    // from a concurrent swap's retention sweep would fail the rewrite
    val phys = spark.table(physicalName(spark, tableName))
    // read the current files as PLAIN parquet (see the doc above: the
    // bucketed-scan claim would elide the aligning repartition), then
    // swap the rewrite in as the next version
    swapBucketed(
      spark.read.schema(phys.schema).parquet(phys.inputFiles: _*),
      tableName, bucketCols, numBuckets, retain)
    }
  }
}
