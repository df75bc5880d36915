package graft.imdb

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade with the reference's verbs (reference:
  * pimdb/command.py:29-36): `transfer` dataset TSVs into typed
  * PascalCase views, `build` the 15 snake_case normalized views,
  * `query` arbitrary SQL against both layers — the reference's SQL
  * runs verbatim (modulo double-quoted identifiers, rewritten below).
  *
  * Views carry the exact reference names (`TitleBasics`…, `title`,
  * `character`…) so a pimdb user's queries port unchanged
  * (docs/datamodel.md:25-27, 93-95).
  */
final class Pimdb(val spark: SparkSession,
    onInfo: Option[String => Unit] = None) {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Pimdb])

  /** User-facing progress/summary line (the reference's module-logger
    * INFO output). Routed through `onInfo` when the embedding CLI
    * supplies one — Main pins the ROOT log level to WARN to keep
    * Spark's engine chatter down, which would otherwise also swallow
    * these lines and leave `transfer` mute (the reference prints them
    * at default verbosity); library users get plain slf4j. */
  private def info(msg: String): Unit =
    onInfo.fold(log.info(msg))(f => f(msg))

  private var datasetFrames: Map[ImdbDataset, DataFrame] = Map.empty
  private var datasetRows: Map[ImdbDataset, Long] = Map.empty
  private var normalized: Option[Build.Normalized] = None
  private var _transferDuplicateCounts: Map[String, Long] = Map.empty
  private var _buildWarnings: Seq[String] = Seq.empty

  /** Per-dataset duplicate rows dropped by the last [[transfer]]
    * (reference: common.py:224,255 duplicate_count). */
  def transferDuplicateCounts: Map[String, Long] = _transferDuplicateCounts

  /** Validation warnings from the last [[build]] (reference:
    * database.py:925-942). */
  def buildWarnings: Seq[String] = _buildWarnings

  /** Load datasets from a folder of <dataset>.tsv[.gz] files and
    * register PascalCase views (reference: command.py:179-195).
    * `--drop` semantics are implicit: views/paths are overwritten.
    * Logs the per-dataset duplicate count like the reference does
    * while streaming rows.
    *
    * Each dataset is ONE Spark action ([[TsvReader.readCounted]]):
    * with a `warehouse`, the parquet write, whose observed metrics
    * give the duplicate count, the strict checks and the row count
    * [[build]]'s validation reads; without, the fill of the cache the
    * view serves from.
    */
  def transfer(
      dataFolder: String,
      datasets: Seq[ImdbDataset] = ImdbDataset.all,
      warehouse: Option[String] = None): Map[ImdbDataset, DataFrame] = {
    val conf = spark.sessionState.newHadoopConf()
    val loaded = datasets.map { d =>
      val base = s"$dataFolder/${d.datasetName}.tsv"
      // through the folder's own FileSystem, so a URI folder
      // (file://…, hdfs://…) finds its .gz files too
      val gz = new org.apache.hadoop.fs.Path(s"$base.gz")
      val path = if (gz.getFileSystem(conf).exists(gz)) s"$base.gz" else base
      // Progress ticks every ~3 s from task input metrics while the
      // scan runs (reference: command.py:187-191 "processed N rows").
      val counted = TransferProgress.withProgress(
        spark.sparkContext,
        n => info(s"  ${d.datasetName}: processed $n rows")) {
        TsvReader.readCounted(spark, path, d,
          warehouse.map(w => s"$w/datasets/${d.tableName}"))
      }
      _transferDuplicateCounts += d.datasetName -> counted.duplicateCount
      datasetRows += d -> counted.rows
      if (counted.duplicateCount > 0)
        info(s"${d.datasetName}: ignored ${counted.duplicateCount} " +
          s"duplicate row(s) with key columns ${d.keyColumns.mkString(", ")}")
      counted.frame.createOrReplaceTempView(d.tableName)
      d -> counted.frame
    }.toMap
    datasetFrames ++= loaded
    loaded
  }

  /** Derive + register the 15 normalized tables (reference:
    * command.py:198-220). Requires the build-relevant datasets to be
    * transferred first. Row-count/has-data validation warnings
    * (reference: database.py:925-942) are logged and kept on
    * [[buildWarnings]].
    *
    * Derive ([[Build.apply]]) runs its independent steps concurrently;
    * with a `warehouse` the 15 table writes then run concurrently,
    * each observing its row count on the write itself. The checks of
    * [[Build.validate]] read row counts: the ones the writes and the
    * transfer observed, so with a warehouse validation runs no Spark
    * job; without one, the checked tables are counted
    * ([[Build.rowCounts]]).
    */
  def build(warehouse: Option[String] = None): Build.Normalized = {
    val missing = ImdbDataset.forNormalized.filterNot(datasetFrames.contains)
    require(missing.isEmpty,
      s"build requires transferred datasets: ${missing.map(_.datasetName).mkString(", ")}")
    // a REBUILD supersedes the previous build's hub cache — release
    // it, or repeated builds in one session stack MEMORY_AND_DISK
    // copies until executor eviction
    normalized.foreach(_.release())
    val derived = Build(datasetFrames)
    val (result, tableRows) = warehouse match {
      case Some(w) =>
        val written =
          try Concurrent.all(derived.tables.toSeq.map { case (n, df) =>
            () => n -> Build.writeCounted(df, s"$w/normalized/$n")
          })
          // parquet now backs every table: the hub cache only served
          // the writes above (and a failed write leaves nothing to serve)
          finally derived.release()
        (Build.Normalized(written.map { case (n, (df, _)) => n -> df }.toMap),
          written.map { case (n, (_, rows)) => n -> rows }.toMap)
      case None => (derived, Build.rowCounts(derived))
    }
    result.registerViews()
    normalized = Some(result)
    _buildWarnings = Build.validate(datasetRows, tableRows)
    _buildWarnings.foreach(log.warn)
    result
  }

  /** SQL passthrough (reference: command.py:223-237). Double-quoted
    * identifiers (ANSI style, used in the reference's examples, e.g.
    * "character") are rewritten to Spark backticks; single-quoted
    * string literals are untouched. */
  def query(sql: String): DataFrame = spark.sql(rewriteQuotedIdentifiers(sql))

  def queryToTsv(sql: String, out: java.io.Writer): Unit =
    TsvWriter.stream(query(sql), out)

  /** Rewrites only OUTSIDE single-quoted string literals (with ''
    * escaping), so a literal like '"tv"' passes through untouched. */
  private[imdb] def rewriteQuotedIdentifiers(sql: String): String = {
    def rewrite(span: String): String =
      Pimdb.QuotedIdentifier.replaceAllIn(span, m => "`" + m.group(1) + "`")
    val sb = new StringBuilder
    var last = 0
    for (m <- Pimdb.StringLiteral.findAllMatchIn(sql)) {
      sb.append(rewrite(sql.substring(last, m.start))).append(m.matched)
      last = m.end
    }
    sb.append(rewrite(sql.substring(last))).toString
  }

  /** The reference's core purpose — "maintain a local SQL copy of the
    * IMDb datasets" — against an actual SQL database: push every
    * transferred dataset table and (if built) every normalized table
    * through the JDBC sink (reference: transfer/build into
    * SQLite/Postgres, database.py:524-566). */
  def writeToJdbc(url: String,
      batchSize: Int = graft.sources.Sources.DefaultJdbcBatchSize): Unit = {
    datasetFrames.foreach { case (d, df) =>
      graft.sources.Sources.writeJdbc(df, url, d.tableName, batchSize)
    }
    normalized.foreach(_.tables.foreach { case (n, df) =>
      graft.sources.Sources.writeJdbc(df, url, n, batchSize)
    })
  }
}

object Pimdb {
  /** "name" or "name.part" — identifier-shaped double-quoted tokens. */
  private val QuotedIdentifier = """"([A-Za-z_][A-Za-z0-9_.]*)"""".r

  /** A single-quoted SQL string literal, '' as the escaped quote. */
  private val StringLiteral = """'(?:[^']|'')*'""".r

  def apply(spark: SparkSession): Pimdb = new Pimdb(spark)

  /** CLI constructor: progress/summary lines go to `sink` (Main's
    * stderr, gated on --log) instead of slf4j, which Main's WARN root
    * level would swallow. */
  def apply(spark: SparkSession, sink: String => Unit): Pimdb =
    new Pimdb(spark, Some(sink))
}
