package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout: interleave the bits of two dimension
  * keys so that sorting by ONE value clusters the data in BOTH
  * dimensions at once. This is the storage-layout half of multi-dim
  * scan pruning at 100 TB: parquet keeps min/max stats per file and
  * row group, so a corpus laid out by z-value gives every file a
  * small bounding BOX over (dim_x, dim_y) — a query filtering either
  * dimension (or both) skips most files on footer stats alone,
  * where a linear sort clusters only its leading column and leaves
  * the second dimension's per-file span at ~100% of the domain
  * (measured in the layout spec). The z-value is plain integer
  * arithmetic — computed map-side, never shuffled except by the
  * one range-partitioning exchange any global layout needs.
  */
object ZOrder {

  /** Bits interleaved per dimension; 2·ZBits must fit a long. */
  val ZBits = 16

  /** Bits per dimension for the QUANTILE-BINNED layout writer: 2^QBits
    * rank bins per dimension — file-level locality needs far fewer
    * distinct bins than value-level interleaving, and 255 interior
    * edges keep the per-row binning a short codegen'd array scan. */
  val QBits = 8

  /** Morton-interleave the low `bits` bits of two non-negative long
    * columns: dim-x bits land at even positions, dim-y at odd. A flat
    * 2·bits-term integer expression — whole-stage-codegen folds it
    * into straight-line arithmetic, no UDF. */
  def zValueBits(zx: Column, zy: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftright(zx, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(zy, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  def zValue(zx: Column, zy: Column): Column = zValueBits(zx, zy, ZBits)

  /** The same interleave as a DuckDB SQL expression over `x`/`y`. */
  def zValueSql(x: String, y: String): String =
    (0 until ZBits).map { i =>
      s"(($x >> $i) & 1) * (CAST(1 AS BIGINT) << ${2 * i}) + " +
        s"(($y >> $i) & 1) * (CAST(1 AS BIGINT) << ${2 * i + 1})"
    }.mkString("", "\n         + ", "")

  /** Write `df` z-ordered on (zx, zy) into `nFiles` range-partitioned,
    * internally sorted parquet files: the one exchange a global
    * layout costs, paid at WRITE time so every later scan prunes on
    * file/row-group min-max stats in BOTH dimensions. The z column is
    * dropped from the output — it exists to order the writer, not to
    * be stored.
    *
    * Each dimension is mapped to its ≤2^[[QBits]]-bin RANK position
    * via `approxQuantile` edges (one sampled pass per Greenwald–Khanna
    * sketch, driver material = ≤2·255 doubles) before interleaving.
    * Interleaving raw values degenerates: whichever dimension has
    * more varying HIGH bits owns every significant z bit and the
    * "z-order" collapses to a linear sort on that dimension alone. A
    * min/max scale fixes that for uniform dimensions only — one
    * outlier stretches it and collapses a heavy-tailed dimension's
    * mass into its bottom bins — while rank bins spread the mass
    * evenly (ZOrderSpec's planted-outlier case). The per-row
    * binning is a codegen'd scan of the broadcast edge array (count
    * of edges ≤ value = bin index); duplicate edges from extreme ties
    * deduplicate into fewer, still-monotone bins. */
  def writeZOrderedQuantile(df: DataFrame, zx: Column, zy: Column,
      nFiles: Int, path: String): Unit = {
    val tagged = df
      .withColumn("__zx", zx.cast("double"))
      .withColumn("__zy", zy.cast("double"))
    val nBins = 1 << QBits
    val probs = (1 until nBins).map(_.toDouble / nBins).toArray
    val edges = tagged.stat.approxQuantile(
      Array("__zx", "__zy"), probs, 0.001)
    require(edges.forall(_.nonEmpty),
      "writeZOrderedQuantile: empty input — nothing to lay out at " + path)
    // Rank bin, RESCALED to the common QBits range: a low-cardinality
    // dimension yields few distinct edges, and its raw bin index
    // would only occupy the LOW interleave bits — handing every
    // significant z bit to the other dimension (the raw-value
    // degeneration above).
    def bin(c: Column, es: Array[Double]): Column = {
      val uniq = es.distinct.sorted
      val arr = array(uniq.map(lit(_)).toIndexedSeq: _*)
      (size(filter(arr, e => e <= c)).cast("long") *
        (nBins - 1) / uniq.length)
    }
    val binned = tagged
      .withColumn("__bx", bin(col("__zx"), edges(0)))
      .withColumn("__by", bin(col("__zy"), edges(1)))
    binned.withColumn("__z", zValueBits(col("__bx"), col("__by"), QBits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__zx", "__zy", "__bx", "__by")
      .write.mode("overwrite").parquet(path)
  }

  /** Bits per dimension for the HILBERT layout value: a 2^HBits ×
    * 2^HBits grid. Like [[QBits]] (and unlike value-level [[ZBits]]),
    * file-level locality needs bin counts, not value precision — and
    * the per-level rotation chain grows with the bit count, so the
    * binned resolution is also the cheap one. */
  val HBits = 8

  /** Hilbert-curve index of (x, y) on the 2^bits grid: the classic
    * per-level quadrant walk (Wikipedia's xy2d), each level reading
    * one bit of each dimension, accumulating the quadrant offset and
    * rotating/reflecting the frame. Unlike Morton interleave, EVERY
    * consecutive pair of Hilbert indices is grid-adjacent (unit-step
    * property, spec-walked exhaustively). Built as a chain of narrow
    * projections — one per level, each a few codegen'd CASEs — not one
    * nested expression (which would double per level). The quadrant id
    * avoids XOR for engine parity: (3·rx)⊕ry ≡ ry + rx·(3−2·ry) for
    * bits. Input columns must already be in [0, 2^bits). */
  def hilbertFrame(df: DataFrame, x: Column, y: Column, bits: Int)
      : DataFrame = {
    val n = 1L << bits
    var cur = df
      .withColumn("hx", x.cast("long")).withColumn("hy", y.cast("long"))
      .withColumn("__x", col("hx")).withColumn("__y", col("hy"))
      .withColumn("hval", lit(0L))
    for (i <- bits - 1 to 0 by -1) {
      val s = 1L << i
      val rx = shiftright(col("__x"), i).bitwiseAND(lit(1L))
      val ry = shiftright(col("__y"), i).bitwiseAND(lit(1L))
      val quad = ry + rx * (lit(3L) - lit(2L) * ry)
      val d2 = (col("hval") + lit(s * s) * quad).as("hval")
      val xr = when(ry === 1L, col("__x"))
        .when(rx === 1L, lit(n - 1) - col("__y"))
        .otherwise(col("__y")).as("__x")
      val yr = when(ry === 1L, col("__y"))
        .when(rx === 1L, lit(n - 1) - col("__x"))
        .otherwise(col("__x")).as("__y")
      cur = cur.select(
        (df.columns.map(col) :+ col("hx") :+ col("hy")
          :+ xr :+ yr :+ d2).toIndexedSeq: _*)
    }
    cur.drop("__x", "__y")
  }

  /** The same per-level walk as chained SQL CTEs (`h{bits}` down to
    * `h0`), carrying (hx, hy) for the output; `from` must yield
    * columns (event_id, hx, hy). */
  def hilbertChainSql(from: String, bits: Int): String = {
    val n = 1L << bits
    val levels = (bits - 1 to 0 by -1).map { i =>
      val s = 1L << i
      val rx = s"((x >> $i) & 1)"
      val ry = s"((y >> $i) & 1)"
      s"""h$i AS (
         |  SELECT event_id, hx, hy,
         |         CASE WHEN $ry = 1 THEN x
         |              WHEN $rx = 1 THEN ${n - 1} - y ELSE y END AS x,
         |         CASE WHEN $ry = 1 THEN y
         |              WHEN $rx = 1 THEN ${n - 1} - x ELSE x END AS y,
         |         d + ${s * s} * ($ry + $rx * (3 - 2 * $ry)) AS d
         |  FROM h${i + 1})""".stripMargin
    }.mkString(",\n")
    s"""h$bits AS (
       |  SELECT event_id, hx, hy, hx AS x, hy AS y, CAST(0 AS BIGINT) AS d
       |  FROM ($from)),
       |$levels""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // The z-value computation itself, oracle-checked bit for bit:
    // events keyed by (user_id, event-hour) — the locality pair an
    // event store queries by ("this user's events this week"). The
    // layout WRITER that consumes this value is spec-verified for
    // actual per-file bounding-box shrinkage (ZOrderSpec).
    QueryDef.sql(
      "q_zorder_value",
      s"""WITH k AS (
         |  SELECT event_id,
         |         user_id % ${1L << ZBits} AS zx,
         |         (epoch_us(ts) // 3600000000) % ${1L << ZBits} AS zy
         |  FROM events)
         |SELECT event_id, zx, zy,
         |       ${zValueSql("zx", "zy")}
         |       AS zval
         |FROM k""".stripMargin) {
      (s, dir) =>
        val k = Tables.events(s, dir).select(
          col("event_id"),
          (col("user_id") % (1L << ZBits)).as("zx"),
          (floor(col("ts_us") / 3600000000L).cast("long") % (1L << ZBits))
            .as("zy"))
        k.select(col("event_id"), col("zx"), col("zy"),
          zValue(col("zx"), col("zy")).as("zval"))
    },

    // The Hilbert index on the same (user, event-hour) locality pair,
    // oracle-checked level by level: the layout value whose
    // consecutive indices are always grid-adjacent — strictly tighter
    // per-file bounding boxes than Morton where the curve jumps
    // (ZOrderSpec walks the full grid for the unit-step property and
    // measures the box sizes head-to-head).
    QueryDef.sql(
      "q_hilbert_value",
      s"""WITH ${hilbertChainSql(
        s"""SELECT event_id,
           |       user_id % ${1L << HBits} AS hx,
           |       (epoch_us(ts) // 3600000000) % ${1L << HBits} AS hy
           |FROM events""".stripMargin, HBits)}
         |SELECT event_id, hx, hy, d AS hval FROM h0""".stripMargin) {
      (s, dir) =>
        val k = Tables.events(s, dir).select(
          col("event_id"),
          (col("user_id") % (1L << HBits)).as("ux"),
          (floor(col("ts_us") / 3600000000L).cast("long") % (1L << HBits))
            .as("uy"))
        hilbertFrame(k, col("ux"), col("uy"), HBits)
          .select(col("event_id"), col("hx"), col("hy"), col("hval"))
    },

    // The layout family's PAYOFF, end to end: write the events
    // z-ordered on (user_id, ts), build the file-level min/max
    // MANIFEST (the table-format data-skipping metadata —
    // sources/Manifest.scala), prune the FILE LIST against a box
    // query, and answer from the surviving files only. The oracle is
    // the plain full-table filter, so "pruning never changes
    // results" is hash-checked; pruning EFFECTIVENESS (files
    // actually dropped, thanks to the curve layout's tight per-file
    // boxes) is spec-measured where file counts are controlled. The
    // box is SF-independent: a fixed user band × the lower half of
    // the time span (the midpoint is a 2-scalar driver probe,
    // mirrored as a scalar subquery in the oracle).
    QueryDef.sql("q_manifest_skip", manifestSkipSql) { (s, dir) =>
      val (laid, _, mid) = manifestGateLayout(s, dir)
      // the manifest is consulted as a STORED table (built → stored
      // sorted on the leading stat → read back), so the box predicate
      // pushes into the manifest's own parquet scan — the path a
      // 10⁷-file table runs, where the manifest consult itself must
      // prune (spec-pinned PushedFilters in ZOrderSpec)
      val tmp = java.nio.file.Files.createTempDirectory("graft_mani_store")
      graft.streaming.EventStreams.deleteRecursivelyOnExit(tmp)
      graft.sources.Manifest.store(
        graft.sources.Manifest.build(laid, ManifestCols),
        s"$tmp/manifest", ManifestCols.head)
      manifestAnswer(s, laid, s.read.parquet(s"$tmp/manifest"), mid)
    },

    // HIVE-STYLE partition pruning — the third leg of the layout
    // family next to z-order/manifest skipping: events written
    // `partitionBy(day)` (the directory layout every date-partitioned
    // 100 TB event store uses), read back with a day-range predicate
    // that Spark satisfies from the DIRECTORY LISTING alone —
    // non-qualifying partitions are never opened, no manifest needed,
    // because the partition value lives in the path. The oracle is
    // the plain full-table filter over raw events (pruning must never
    // change answers — the manifest-gate convention); the pruning
    // EFFECTIVENESS (PartitionFilters present, partition count
    // actually halved) is spec-asserted where the plan is
    // inspectable (ZOrderSpec). The day band is SF-independent: the
    // span midpoint comes from a 2-scalar driver probe, mirrored as
    // the oracle's scalar subquery. Cents discipline as everywhere:
    // per-element integer cents summed as BIGINT, no float-order
    // divergence.
    QueryDef.sql("q_partition_prune", partitionPruneSql) { (s, dir) =>
      val (laid, midDay) = partitionedGateLayout(s, dir)
      laid.filter(col("day") <= midDay)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
    }
  )

  /** Microseconds per day — the partition granularity of
    * [[partitionedGateLayout]]. A `def`, NOT a val: `all` above
    * interpolates it into the oracle string during object init, and
    * a val declared below `all` would still be 0 there (the
    * Analytics.StatsCols convention) — exactly the bug the first
    * draft shipped: `// 0` in the oracle, division-by-zero NULLs,
    * an empty oracle result. */
  private[operators] def DayUs: Long = 86400000000L

  /** ONE oracle for q_partition_prune: the plain full-table day
    * filter + aggregate — the partitioned layout may only change the
    * FILES read, never the answer. */
  private[operators] def partitionPruneSql: String =
    s"""WITH b AS (SELECT (min(epoch_us(ts)) // $DayUs
       |                   + max(epoch_us(ts)) // $DayUs) // 2 AS mid_day
       |           FROM events)
       |SELECT epoch_us(ts) // $DayUs AS day,
       |       CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
       |         AS cents
       |FROM events, b
       |WHERE epoch_us(ts) // $DayUs <= b.mid_day
       |GROUP BY 1""".stripMargin

  /** The shared fixture: events staged ONCE per JVM as a
    * day-partitioned parquet directory (`partitionBy("day")` — one
    * directory per day of the span), plus the span's midpoint day.
    * The read-back supplies an EXPLICIT schema with `day BIGINT`:
    * partition-value inference would type the directory names as
    * INT and the gate would need a cast that both clutters the
    * pruning predicate and diverges from the oracle's BIGINT. */
  private[operators] def partitionedGateLayout(
      s: SparkSession, dir: String): (DataFrame, Long) = {
    val ev = Tables.events(s, dir)
      .select(col("value"), expr(s"ts_us DIV $DayUs").as("day"))
    val days = ev.agg(
      min(col("day")) + max(col("day"))).head()
    require(!days.isNullAt(0),
      "partition gate: empty events input — no span to partition")
    val path = graft.streaming.EventStreams.stagedDir(ev, "daypart") {
      d => ev.write.partitionBy("day").parquet(d)
    }
    (s.read.schema("value double, day bigint").parquet(path),
      days.getLong(0) / 2)
  }

  /** Columns the manifest gates track. */
  private[operators] val ManifestCols = Seq("user_id", "ts_us")

  /** ONE oracle for q_manifest_skip AND the streaming
    * q_stream_manifest: the plain full-table box filter — the
    * manifest (however built: one-shot or incrementally appended
    * per ingest trigger) must never change an answer, so both gates
    * share this string (the batch/stream convention). */
  private[operators] def manifestSkipSql: String =
    """WITH b AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
      |           FROM events)
      |SELECT event_id, user_id, epoch_us(ts) AS ts_us
      |FROM events, b
      |WHERE user_id BETWEEN 10 AND 50 AND epoch_us(ts) <= b.mid""".stripMargin

  /** The shared gate fixture: the events projection staged ONCE per
    * JVM as the 16-file z-ordered layout, plus the time-span
    * midpoint (a 2-scalar driver probe — mirrored as the oracle's
    * scalar subquery). Returns (laid frame, layout dir, midpoint) —
    * the dir so the streaming twin can file-stream the same layout. */
  private[operators] def manifestGateLayout(
      s: SparkSession, dir: String): (DataFrame, String, Long) = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val mm = ev.agg(min(col("ts_us")) + max(col("ts_us"))).head()
    require(!mm.isNullAt(0),
      "manifest gate: empty events input — no span to probe")
    // tag encodes the writer's nFiles: the stagedDir memo keys on
    // (tag, input) only
    val path = graft.streaming.EventStreams.stagedDir(ev, "zord16") {
      d => writeZOrderedQuantile(ev, col("user_id"), col("ts_us"), 16, d)
    }
    (s.read.schema(ev.schema).parquet(path), path, mm.getLong(0) / 2)
  }

  /** The shared gate answer: prune files through the manifest, then
    * apply the row-level box predicate. */
  private[operators] def manifestAnswer(s: SparkSession, laid: DataFrame,
      manifest: DataFrame, mid: Long): DataFrame =
    graft.sources.Manifest.prunedRead(s, laid.schema, manifest,
      Map("user_id" -> ((10L, 50L)), "ts_us" -> ((Long.MinValue, mid))))
      .filter(col("user_id").between(10, 50) && col("ts_us") <= mid)
      .select(col("event_id"), col("user_id"), col("ts_us"))
}
