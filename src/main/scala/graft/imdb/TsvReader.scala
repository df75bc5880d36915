package graft.imdb

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** IMDb TSV scan: tab-separated, header row, **quoting disabled**
  * (stray `"` is literal data), `\N` null sentinel, strict typing,
  * first-occurrence-wins dedup by dataset key (reference:
  * pimdb/common.py:183-265, pimdb/database.py:320-355).
  *
  * Design: the whole decode is column expressions (null-map → cast →
  * default), fully codegen'd — no per-row driver logic. Dedup
  * preserves *file order* via `monotonically_increasing_id()`:
  * partition ids follow file-split offsets, so the id is monotone in
  * file position even when an uncompressed TSV is read in parallel
  * splits (a .gz file is a single split anyway). At 100 TB the dedup
  * is one shuffle on the key columns, and a dataset is one Spark action
  * (see [[TsvReader.readCounted]]).
  */
object TsvReader {

  /** A [[readCounted]] result: the deduped frame, its row count, the
    * reference's `duplicate_count` transfer metric (common.py:224,255),
    * and a `release` handle that drops the frame's cache once the
    * caller is done with it (a no-op when the frame reads parquet). */
  final case class CountedRead(frame: DataFrame, rows: Long,
      duplicateCount: Long, release: () => Unit)

  /** Read + type + dedup one dataset file (plain .tsv or .tsv.gz) in
    * ONE Spark action, with the duplicate metric, the row count and
    * the strict checks observed on that action itself — the reference
    * counts duplicates inside the same streaming pass that dedups
    * (common.py:224-255), so the engine must not pay a second pass for
    * the metric.
    *
    *  - The header line is read on the driver ([[header]]) and the scan
    *    gets an all-string schema in header order, so `spark.read.csv`
    *    runs no header-inference job.
    *  - The per-key row count rides the same window partitioning as the
    *    first-wins row_number (one shuffle, one sort). One
    *    `Dataset.observe` over the deduped representatives, BEFORE the
    *    value filter, sums the beyond-first rows (like the reference,
    *    regardless of the filter, which only gates the OUTPUT rows),
    *    counts the rows the filter keeps, and sums the strict checks'
    *    malformed values (each gated on the filter).
    *  - The one action is the sink: with `out`, the parquet write (the
    *    returned frame reads that parquet back with the known schema,
    *    so no footer-inference job either); without, a `noop` write
    *    that fills a memory-and-disk cache the returned frame serves
    *    from, until `release()`.
    *  - A strict violation deletes the written directory (or drops the
    *    cache) before it raises.
    *
    * First occurrence wins BEFORE the value filter (common.py:238-255:
    * a key's first row claims the key even when the filter rejects it,
    * so a later filter-passing duplicate is still dropped).
    *
    * @param out    parquet directory the dataset is written to, or None
    *               to keep it cached
    * @param filter optional column → allowed-values map; rows must
    *               match every entry (reference: common.py:241-252)
    * @param strict raise on malformed booleans / unparsable numerics
    *               like the reference's PimdbError; when false they
    *               become null (then defaulted if non-nullable)
    */
  def readCounted(
      spark: SparkSession,
      path: String,
      dataset: ImdbDataset,
      out: Option[String],
      filter: Map[String, Set[String]] = Map.empty,
      strict: Boolean = true): CountedRead = {
    val byKey = Window.partitionBy(dataset.keyColumns.map(col): _*)
    val keep = passes(filter)
    val checks = if (strict) malformedCounts(dataset, keep) else Seq.empty
    val observation = Observation()
    val frame = rawWithSeq(spark, path, dataset)
      .withColumn("_rn", row_number().over(byKey.orderBy(col("_seq"))))
      .withColumn("_kn", count(lit(1)).over(byKey))
      .filter(col("_rn") === 1)
      // rows-beyond-first per key, summed over the PRE-filter kept
      // representatives (common.py:255 increments before the filter)
      .observe(observation,
        coalesce(sum(col("_kn") - 1), lit(0L)).as("duplicates"),
        count(when(keep, true)).as("rows") +: checks: _*)
      // the post-dedup half of the reference's row loop: the value-set
      // filter gates which kept rows are yielded (common.py:241-252),
      // then those are decoded
      .filter(keep)
      .select(dataset.schema.fields.map(decode).toSeq: _*)
    val (result, release) = out match {
      case Some(dir) =>
        frame.write.mode("overwrite").parquet(dir)
        (spark.read.schema(frame.schema).parquet(dir), () => ())
      case None =>
        val cached = frame.persist(StorageLevel.MEMORY_AND_DISK)
        try cached.write.format("noop").mode("overwrite").save()
        catch { case NonFatal(e) => cached.unpersist(); throw e }
        (cached, () => { cached.unpersist(); () })
    }
    val row = Await.result(observation.future, Duration.Inf)
    try raiseMalformed(dataset, row)
    catch { case e: IllegalArgumentException =>
      out.fold(release())(deleteDir(spark, _))
      throw e
    }
    CountedRead(result, row.getLong(1), row.getLong(0), release)
  }

  /** The header names of a dataset file, read on the driver from its
    * first line (through the codec of a compressed file). Empty for an
    * empty file. */
  private def header(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val file = new Path(path)
    val raw = file.getFileSystem(conf).open(file)
    val in = Option(new CompressionCodecFactory(conf).getCodec(file))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val lines = new BufferedReader(new InputStreamReader(in, UTF_8))
    try Option(lines.readLine()).toSeq
      .flatMap(_.stripSuffix("\r").split("\t", -1))
    finally lines.close()
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** The raw scan of [[readCounted]]: raw strings
    * with header-name mapping (like csv.DictReader — every declared
    * column must exist, extra file columns are ignored) plus the
    * `_seq` file-order tag the dedup window sorts on. */
  private def rawWithSeq(
      spark: SparkSession,
      path: String,
      dataset: ImdbDataset): DataFrame = {
    val names = header(spark, path)
    val missing = dataset.schema.fieldNames.filterNot(names.contains)
    require(missing.isEmpty,
      s"${dataset.datasetName}: TSV is missing key column(s) ${missing.mkString(", ")}")
    spark.read
      .schema(StructType(names.map(StructField(_, StringType))))
      .option("sep", "\t")
      .option("header", "true")
      .option("quote", "")          // QUOTE_NONE: stray quotes are data
      .option("nullValue", "\\N")   // the IMDb null sentinel
      .option("mode", "FAILFAST")
      .csv(path)
      .withColumn("_seq", monotonically_increasing_id())
  }

  /** The value-set filter as one predicate: the row matches every entry. */
  private def passes(filter: Map[String, Set[String]]): Column =
    filter.foldLeft(lit(true)) { case (p, (name, values)) =>
      p && col(name).isin(values.toSeq: _*)
    }

  /** Strict typing as aggregate columns over the raw strings, one per
    * typed column: the count of values that are malformed (booleans
    * must be literally "1"/"0", numerics must parse) on rows the value
    * filter (`keep`) keeps. A malformed value on a row the filter drops never
    * raises, exactly like the reference, which decodes at insert time
    * (common.py:241-252, database.py:345-351). Kept OUT of the
    * row-level decode: an in-row `raise_error` can be hoisted by
    * codegen subexpression elimination into pushed-down predicates and
    * fire spuriously.
    */
  private def malformedCounts(dataset: ImdbDataset,
      keep: Column): Seq[Column] =
    dataset.schema.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      val malformed = f.dataType match {
        case BooleanType => Some(!c.isin("0", "1"))
        // try_cast, NOT cast: Spark 4's default ANSI mode makes a
        // plain cast THROW on the malformed value, which would kill
        // this very aggregate before the counting when() ever ran —
        // the documented per-column counted error would be dead code
        case t @ (IntegerType | FloatType | DoubleType | LongType) =>
          Some(c.try_cast(t).isNull)
        case _ => None
      }
      malformed.map(m =>
        sum(when(keep && c.isNotNull && m, 1).otherwise(0)).as(f.name))
    }

  /** Raise like the reference's PimdbError on the first column whose
    * [[malformedCounts]] value is non-zero; `row` is [[readCounted]]'s
    * observed metrics, whose columns 0 and 1 are the duplicate and row
    * counts. */
  private def raiseMalformed(dataset: ImdbDataset, row: Row): Unit =
    (2 until row.length).foreach { i =>
      // sum() over zero rows is null: empty input (e.g. a header-only
      // TSV) is trivially valid
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0) throw new IllegalArgumentException(
        s"${dataset.datasetName}: ${row.schema.fieldNames(i)} has $bad " +
          "malformed value(s) (booleans must be 1/0, numerics must parse)")
    }

  /** One declared column: `\N`→null already applied by the reader;
    * booleans decode from "1"/"0"; non-nullable nulls are defaulted to
    * false/0/""/0.0 (reference warns and coerces, database.py:328-344).
    */
  private def decode(field: StructField): Column = {
    val raw = col(field.name)
    val cast = field.dataType match {
      case BooleanType =>
        when(raw === "1", true).when(raw === "0", false)
          .otherwise(lit(null).cast(BooleanType))
      case t @ (IntegerType | FloatType | DoubleType | LongType) =>
        // try_cast, NOT cast: under Spark 4's default ANSI mode a
        // plain cast throws on a malformed numeric, breaking the
        // strict=false contract ("they become null, then defaulted")
        // and failing the whole transfer on one bad row; strict=true
        // still raises — via the counted per-column error of
        // malformedCounts, as documented
        raw.try_cast(t)
      case _ => raw
    }
    val defaulted =
      if (field.nullable) cast
      else coalesce(cast, lit(ImdbTsv.defaultFor(field.dataType)).cast(field.dataType))
    defaulted.as(field.name)
  }
}

object ImdbTsv {
  /** Non-nullable `\N` coercion defaults (reference: database.py:328-344). */
  def defaultFor(t: DataType): Any = t match {
    case BooleanType => false
    case IntegerType | LongType => 0
    case FloatType | DoubleType => 0.0
    case _ => ""
  }
}

/** TSV sink for query results (reference: common.py:268-295 /
  * command.py:233-237). */
object TsvWriter {
  /** Distributed write (one TSV part per partition). */
  def write(df: DataFrame, path: String): Unit =
    df.write.option("sep", "\t").option("header", "true")
      .option("emptyValue", "").option("nullValue", "\\N")
      .mode("overwrite").csv(path)

  /** Driver-side stream to a java.io.Writer, for stdout `query` output:
    * streams partitions via toLocalIterator — never materializes the
    * full result on the driver. */
  def stream(df: DataFrame, out: java.io.Writer): Unit = {
    val cols = df.columns
    out.write(cols.mkString("\t") + "\n")
    df.toLocalIterator().forEachRemaining { r =>
      out.write((0 until cols.length)
        .map(i => if (r.isNullAt(i)) "\\N" else r.get(i).toString)
        .mkString("\t") + "\n")
    }
    out.flush()
  }
}
