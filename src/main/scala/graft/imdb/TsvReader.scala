package graft.imdb

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * is one shuffle on the key columns.
  */
object TsvReader {

  /** A [[readCounted]] result: the deduped frame, the reference's
    * `duplicate_count` transfer metric (common.py:224,255), and a
    * `release` handle that drops the cached single-scan data once the
    * caller has written the frame out. */
  final case class CountedRead(
      frame: DataFrame, duplicateCount: Long, release: () => Unit)

  /** Read + type + dedup one dataset file (plain .tsv or .tsv.gz),
    * plus the duplicate metric, in ONE file scan — the
    * reference counts duplicates inside the same streaming pass that
    * dedups (common.py:224-255), so the engine must not pay a second
    * full parse for the metric. The per-key row count rides the same
    * window partitioning as the first-wins row_number (one shuffle,
    * one sort) and — like the reference — counts every beyond-first
    * row regardless of the value filter, which only gates the OUTPUT
    * rows. The pre-filter representatives are cached memory-and-disk
    * and the count aggregate is what materializes the cache; the
    * returned frame serves every downstream action (warehouse write,
    * view registration) from that cache instead of re-parsing the
    * TSV. The strict checks' malformed-value counts ride the same
    * aggregate, each gated on the value filter, so the whole read is
    * one aggregate job. Call `release()` after the frame is persisted
    * elsewhere.
    *
    * First occurrence wins BEFORE the value filter (common.py:238-255:
    * a key's first row claims the key even when the filter rejects it,
    * so a later filter-passing duplicate is still dropped).
    *
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
      filter: Map[String, Set[String]] = Map.empty,
      strict: Boolean = true): CountedRead = {
    val byKey = Window.partitionBy(dataset.keyColumns.map(col): _*)
    val kept = rawWithSeq(spark, path, dataset)
      .withColumn("_rn", row_number().over(byKey.orderBy(col("_seq"))))
      .withColumn("_kn", count(lit(1)).over(byKey))
      .filter(col("_rn") === 1)
      .drop("_rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // rows-beyond-first per key, summed over the PRE-filter kept
    // representatives (common.py:255 increments before the filter),
    // plus the strict checks: this action performs the single file
    // scan and fills the cache
    val checks = if (strict) malformedCounts(dataset, filter) else Seq.empty
    val row = kept
      .agg(coalesce(sum(col("_kn") - 1), lit(0L)).as("dups"), checks: _*)
      .collect()(0)
    try raiseMalformed(dataset, row)
    catch { case e: IllegalArgumentException => kept.unpersist(); throw e }
    // the post-dedup half of the reference's row loop: the value-set
    // filter gates which kept rows are yielded (common.py:241-252),
    // then those are decoded
    CountedRead(
      kept.filter(passes(filter))
        .select(dataset.schema.fields.map(decode).toSeq: _*),
      row.getLong(0), () => { kept.unpersist(); () })
  }

  /** The raw scan of [[readCounted]]: raw strings
    * with header-name mapping (like csv.DictReader — every declared
    * column must exist, extra file columns are ignored) plus the
    * `_seq` file-order tag the dedup window sorts on. */
  private def rawWithSeq(
      spark: SparkSession,
      path: String,
      dataset: ImdbDataset): DataFrame = {
    val raw = spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("quote", "")          // QUOTE_NONE: stray quotes are data
      .option("nullValue", "\\N")   // the IMDb null sentinel
      .option("mode", "FAILFAST")
      .csv(path)

    val missing = dataset.schema.fieldNames.filterNot(raw.columns.contains)
    require(missing.isEmpty,
      s"${dataset.datasetName}: TSV is missing key column(s) ${missing.mkString(", ")}")

    raw.withColumn("_seq", monotonically_increasing_id())
  }

  /** The value-set filter as one predicate: the row matches every entry. */
  private def passes(filter: Map[String, Set[String]]): Column =
    filter.foldLeft(lit(true)) { case (p, (name, values)) =>
      p && col(name).isin(values.toSeq: _*)
    }

  /** Strict typing as aggregate columns over the raw strings, one per
    * typed column: the count of values that are malformed (booleans
    * must be literally "1"/"0", numerics must parse) on rows the value
    * filter keeps. A malformed value on a row the filter drops never
    * raises, exactly like the reference, which decodes at insert time
    * (common.py:241-252, database.py:345-351). Kept OUT of the
    * row-level decode: an in-row `raise_error` can be hoisted by
    * codegen subexpression elimination into pushed-down predicates and
    * fire spuriously.
    */
  private def malformedCounts(dataset: ImdbDataset,
      filter: Map[String, Set[String]]): Seq[Column] = {
    val keep = passes(filter)
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
  }

  /** Raise like the reference's PimdbError on the first column whose
    * [[malformedCounts]] value is non-zero; `row` is [[readCounted]]'s
    * aggregate, whose column 0 is the duplicate count. */
  private def raiseMalformed(dataset: ImdbDataset, row: Row): Unit =
    (1 until row.length).foreach { i =>
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
    * Shared with the streaming ingest path ([[StreamingTransfer]]).
    */
  private[imdb] def decode(field: StructField): Column = {
    val raw = col(field.name)
    val cast = field.dataType match {
      case BooleanType =>
        when(raw === "1", true).when(raw === "0", false)
          .otherwise(lit(null).cast(BooleanType))
      case t @ (IntegerType | FloatType | DoubleType | LongType) =>
        // try_cast, NOT cast: under Spark 4's default ANSI mode a
        // plain cast throws on a malformed numeric, breaking the
        // strict=false contract ("they become null, then defaulted")
        // and killing StreamingTransfer's continuous ingest on one
        // bad row; strict=true still raises — via the counted
        // per-column error of malformedCounts, as documented
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
