package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The z-order layout must deliver what it exists for: per-file
  * min/max bounding boxes that are small in BOTH dimensions, where a
  * linear time-sorted layout leaves the second dimension's span at
  * ~the full domain. Parquet scan pruning reads exactly these
  * footer stats, so box area IS the fraction of data a
  * both-dimension filter has to touch.
  */
class ZOrderSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("z-value interleaves bits exactly (JVM reference) and is " +
    "monotone in each dimension's prefix") {
    def ref(x: Long, y: Long): Long =
      (0 until ZOrder.ZBits).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
    val rows = graft.SparkEntry.queries("q_zorder_value")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) == ref(r.getLong(1), r.getLong(2)),
        s"z mismatch for (${r.getLong(1)}, ${r.getLong(2)})")
    }
  }

  test("z-ordered files have small bounding boxes in BOTH dimensions; " +
    "a time-sorted layout does not") {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        floor(col("ts_us") / 3600000000L).cast("long").as("hour"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder")
    val nFiles = 16
    ZOrder.writeZOrderedQuantile(ev, col("user_id"), col("hour"),
      nFiles, s"$tmp/z")
    // the baseline every event store starts from: sorted by time only
    ev.repartitionByRange(nFiles, col("hour"))
      .sortWithinPartitions(col("hour"))
      .write.mode("overwrite").parquet(s"$tmp/t")

    // per-file normalized min-max span per dimension — exactly what
    // parquet footer pruning can exclude: a filter on dimension d
    // skips a file iff its value range misses the file's [min, max],
    // so mean span IS the expected fraction of files a point/range
    // filter on that dimension must read. (Box AREA is the wrong
    // metric: ANY layout that splits one dimension n ways reaches
    // ~1/n area — as thin slabs that prune only that one dimension.)
    def meanSpans(path: String): (Double, Double) = {
      val df = spark.read.parquet(path)
        .select(col("user_id"), col("hour"),
          input_file_name().as("f"))
      val dom = df.agg(
        (max("user_id") - min("user_id")).cast("double").as("du"),
        (max("hour") - min("hour")).cast("double").as("dh")).head()
      val (du, dh) = (dom.getDouble(0), dom.getDouble(1))
      val r = df.groupBy("f").agg(
        ((max("user_id") - min("user_id")) / du).as("su"),
        ((max("hour") - min("hour")) / dh).as("sh"))
        .agg(avg("su"), avg("sh")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    val (zUser, zHour) = meanSpans(s"$tmp/z")
    val (tUser, tHour) = meanSpans(s"$tmp/t")
    info(f"mean file span: z-order user=$zUser%.3f hour=$zHour%.3f; " +
      f"time-sort user=$tUser%.3f hour=$tHour%.3f")
    // the time-sorted baseline clusters time but leaves user-id
    // unclustered: a user filter reads every file
    assert(tUser > 0.9, f"baseline user span $tUser%.3f unexpectedly small")
    // z-order: BOTH dimensions' spans are fractional — filters on
    // either dimension prune files, the property the layout buys
    assert(zUser < 0.6, f"z-order user-dim span $zUser%.3f — no locality")
    assert(zHour < 0.6, f"z-order hour-dim span $zHour%.3f — no locality")
  }

  test("manifest data skipping: a box query over the z-ordered layout " +
    "DROPS files, drops only provably-disjoint files, and the pruned " +
    "read plus predicate equals the full scan exactly") {
    import graft.sources.Manifest
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_manifest")
    graft.streaming.EventStreams.deleteRecursivelyOnExit(tmp)
    val nFiles = 16
    ZOrder.writeZOrderedQuantile(ev, col("user_id"), col("ts_us"),
      nFiles, s"$tmp/z")
    val laid = spark.read.schema(ev.schema).parquet(s"$tmp/z")
    val manifest = Manifest.build(laid, Seq("user_id", "ts_us"))
    assert(manifest.count() == nFiles)
    // a corner box: low user band x lower half of the time span
    val mm = ev.agg(min(col("ts_us")) + max(col("ts_us"))).head()
    val mid = mm.getLong(0) / 2
    val ranges = Map("user_id" -> ((5L, 25L)), "ts_us" -> ((Long.MinValue, mid)))
    val pruned = Manifest.prunedRead(spark, laid.schema, manifest, ranges)
    val prunedFiles = pruned.inputFiles.length
    info(s"manifest pruning: $prunedFiles of $nFiles files read")
    assert(prunedFiles < nFiles,
      "the curve layout + manifest must drop at least one file")
    assert(prunedFiles > 0)
    // conservative pruning: every DROPPED file is provably disjoint
    val dropped = manifest.filter(
      !(col("max_user_id") >= 5L && col("min_user_id") <= 25L &&
        col("min_ts_us") <= mid))
      .collect()
    assert(dropped.length == nFiles - prunedFiles)
    // exactness: pruned + predicate == full scan + predicate
    def answer(d: org.apache.spark.sql.DataFrame) = d
      .filter(col("user_id").between(5, 25) && col("ts_us") <= mid)
      .collect().map(r => r.getLong(0)).toSet
    assert(answer(pruned) == answer(ev), "pruning changed the answer")
    assert(answer(ev).nonEmpty, "vacuous box — fixture broken")
  }

  test("manifest pruning head-to-head: the Morton layout reads fewer " +
    "files than an unordered layout for the same box") {
    import graft.sources.Manifest
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_mani_h2h")
    graft.streaming.EventStreams.deleteRecursivelyOnExit(tmp)
    val nFiles = 16
    ZOrder.writeZOrderedQuantile(ev, col("user_id"), col("ts_us"),
      nFiles, s"$tmp/m")
    // unordered baseline: hash-partitioned, no locality at all
    ev.repartition(nFiles).write.mode("overwrite").parquet(s"$tmp/u")
    val mm = ev.agg(min(col("ts_us")) + max(col("ts_us"))).head()
    val mid = mm.getLong(0) / 2
    val ranges = Map("user_id" -> ((5L, 25L)),
      "ts_us" -> ((Long.MinValue, mid)))
    def filesRead(path: String): Int = {
      val laid = spark.read.schema(ev.schema).parquet(path)
      Manifest.prunedRead(spark, laid.schema,
        Manifest.build(laid, Seq("user_id", "ts_us")), ranges)
        .inputFiles.length
    }
    val (m, u) = (filesRead(s"$tmp/m"), filesRead(s"$tmp/u"))
    info(s"files read for the box: morton=$m unordered=$u of $nFiles")
    // no locality = every file's box spans the domain = nothing prunes
    assert(u == nFiles, s"unordered baseline pruned $u — fixture broken")
    assert(m < nFiles, "the curve layout must prune")
  }

  test("manifest pruning keeps a file whose queried column is entirely " +
    "NULL (NULL min/max must read as 'unknown', not 'disjoint')") {
    import graft.sources.Manifest
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_mani_null")
    graft.streaming.EventStreams.deleteRecursivelyOnExit(tmp)
    // two files: one provably disjoint from the box, one where k is
    // all-NULL but whose id values a NON-null-rejecting reader still
    // wants
    Seq((1L, Option(5L)), (2L, Option(10L))).toDF("id", "k")
      .coalesce(1).write.parquet(s"$tmp/d/a")
    Seq((3L, Option.empty[Long]), (4L, Option.empty[Long])).toDF("id", "k")
      .coalesce(1).write.parquet(s"$tmp/d/b")
    val laid = spark.read.parquet(s"$tmp/d/a", s"$tmp/d/b")
    val manifest = Manifest.build(laid, Seq("k"))
    val pruned = Manifest.prunedRead(spark, laid.schema, manifest,
      Map("k" -> ((15L, 25L))))
    // the all-NULL file survives pruning (its envelope is UNKNOWN, so
    // conservative skipping may not drop it); the provably disjoint
    // [5,10] file goes
    assert(pruned.inputFiles.length == 1,
      s"expected only the disjoint file dropped, read " +
        s"${pruned.inputFiles.length} of 2")
    assert(pruned.select("id").as[Long].collect().toSet == Set(3L, 4L),
      "file with all-NULL stats was wrongly dropped")
  }

  test("the manifest consult itself prunes: the keep predicate pushes " +
    "into the STORED manifest's parquet scan (PushedFilters), and the " +
    "stored consult picks the same files as the in-memory one") {
    import graft.sources.Manifest
    import org.apache.spark.sql.execution.FileSourceScanExec
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_mani_push")
    graft.streaming.EventStreams.deleteRecursivelyOnExit(tmp)
    ZOrder.writeZOrderedQuantile(ev, col("user_id"), col("ts_us"),
      16, s"$tmp/z")
    val laid = spark.read.schema(ev.schema).parquet(s"$tmp/z")
    val manifest = Manifest.build(laid, Seq("user_id", "ts_us"))
    Manifest.store(manifest, s"$tmp/m", "user_id")
    val ranges = Map("user_id" -> ((10L, 50L)))
    val stored = spark.read.parquet(s"$tmp/m")
    // the keep predicate must reach the manifest scan as pushed
    // parquet filters — a coalesce/CASE guard would silently turn
    // the metadata consult into a full manifest scan at 10^7 files
    def subtree(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.children.flatMap(subtree)
    val scans = subtree(stored.filter(Manifest.keepExpr(ranges))
      .queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("max_user_id") && pushed.contains("min_user_id"),
      s"keep predicate did not push into the manifest scan: $pushed")
    // and the stored consult selects exactly the in-memory file set
    val inMem = Manifest.prunedRead(spark, laid.schema, manifest, ranges)
      .inputFiles.toSet
    val viaStore = Manifest.prunedRead(spark, laid.schema, stored, ranges)
      .inputFiles.toSet
    assert(viaStore == inMem, "stored manifest consult diverged")
  }

  test("incremental manifest maintenance: appendFiles extends the " +
    "stored manifest per batch, and an at-least-once RE-DELIVERED " +
    "batch cannot double-read its files") {
    import graft.sources.Manifest
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_mani_inc")
    graft.streaming.EventStreams.deleteRecursivelyOnExit(tmp)
    Seq((1L, 5L), (2L, 8L)).toDF("id", "k")
      .coalesce(1).write.parquet(s"$tmp/d/a")
    Seq((3L, 50L), (4L, 60L)).toDF("id", "k")
      .coalesce(1).write.parquet(s"$tmp/d/b")
    // ingest batch by batch: each appends only ITS files' stats
    Manifest.appendFiles(spark.read.parquet(s"$tmp/d/a"), Seq("k"),
      s"$tmp/m", "k")
    Manifest.appendFiles(spark.read.parquet(s"$tmp/d/b"), Seq("k"),
      s"$tmp/m", "k")
    // the at-least-once hazard: batch b re-delivered after a retry
    Manifest.appendFiles(spark.read.parquet(s"$tmp/d/b"), Seq("k"),
      s"$tmp/m", "k")
    val laid = spark.read.parquet(s"$tmp/d/a", s"$tmp/d/b")
    val stored = spark.read.parquet(s"$tmp/m")
    assert(stored.count() == 3, "re-delivery should duplicate the ROW")
    // the incremental manifest equals a one-shot build, file-for-file
    val oneShot = Manifest.build(laid, Seq("k"))
      .select("file").as[String].collect().toSet
    assert(stored.select("file").as[String].collect().toSet == oneShot,
      "incrementally-built manifest diverged from the one-shot build")
    // and the duplicate manifest row must NOT duplicate read rows
    val pruned = Manifest.prunedRead(spark, laid.schema, stored,
      Map("k" -> ((40L, 100L))))
    assert(pruned.select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L), "re-appended batch double-read its file")
    assert(pruned.inputFiles.length == 1,
      "the disjoint batch-a file must still prune")
  }

  test("manifest pruning head-to-head at 256 files: the Morton layout " +
    "keeps pruning when the file count scales 16x, the unordered " +
    "baseline still reads everything") {
    import graft.sources.Manifest
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_mani_256")
    graft.streaming.EventStreams.deleteRecursivelyOnExit(tmp)
    val nFiles = 256
    ZOrder.writeZOrderedQuantile(ev, col("user_id"), col("ts_us"),
      nFiles, s"$tmp/m")
    ev.repartition(nFiles).write.mode("overwrite").parquet(s"$tmp/u")
    val mm = ev.agg(min(col("ts_us")) + max(col("ts_us"))).head()
    val mid = mm.getLong(0) / 2
    val ranges = Map("user_id" -> ((5L, 25L)),
      "ts_us" -> ((Long.MinValue, mid)))
    def filesRead(path: String): Int = {
      val laid = spark.read.schema(ev.schema).parquet(path)
      Manifest.prunedRead(spark, laid.schema,
        Manifest.build(laid, Seq("user_id", "ts_us")), ranges)
        .inputFiles.length
    }
    val (m, u) = (filesRead(s"$tmp/m"), filesRead(s"$tmp/u"))
    info(s"files read at 256: morton=$m unordered=$u of $nFiles")
    // at ~23 rows/file a few hash-partitioned files can miss the box
    // by luck — the baseline claim is "no locality ⇒ no real pruning",
    // not an exact count
    assert(u >= (nFiles * 9) / 10,
      s"unordered baseline pruned to $u — fixture broken")
    // finer files = tighter boxes: the curve must prune a LARGER
    // fraction than at 16 files (where it reads ~60-75%); half the
    // layout is a conservative floor for this corpus's box
    assert(m <= nFiles / 2,
      s"the curve layout stopped pruning at 256 files (m=$m)")
  }

  test("quantile-binned z-order survives a heavy-tailed dimension: one " +
    "outlier stretches the min/max scale into a one-dimension sort, " +
    "quantile bins keep both dimensions prunable") {
    // the min/max failure mode, planted: the body of the dimension is
    // the uniform user_id domain, plus ONE far outlier. min/max
    // normalization would map the whole body to bin 0 (the outlier
    // owns the scale), collapsing the layout to an hour sort. Rank
    // bins are outlier-indifferent.
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        floor(col("ts_us") / 3600000000L).cast("long").as("hour"))
      .withColumn("skewed",
        when(col("event_id") === 1L, lit(1000000000L))
          .otherwise(col("user_id")))
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder_q")
    val nFiles = 16
    ZOrder.writeZOrderedQuantile(ev, col("skewed"), col("hour"),
      nFiles, s"$tmp/q")
    // probe workload: 20 rank-spread values from the BODY of the
    // distribution (what real point/range filters hit)
    val body = ev.filter(col("event_id") =!= 1L)
      .select(col("skewed")).distinct().orderBy(col("skewed"))
      .collect().map(_.getLong(0))
    val probes = (0 until 20).map(i => body(i * body.length / 20))
    // fraction of files a point filter must read = files whose
    // footer [min, max] contains the probe value
    def meanFilesTouched(path: String): Double = {
      val stats = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min(col("skewed")).as("lo"), max(col("skewed")).as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      probes.map(v => stats.count { case (lo, hi) => lo <= v && v <= hi })
        .sum.toDouble / (probes.length.toDouble * stats.length)
    }
    val q = meanFilesTouched(s"$tmp/q")
    info(f"mean files touched by a body-value point filter: " +
      f"quantile-binned=$q%.3f")
    assert(q < 0.6, f"quantile layout still reads $q%.3f of files — " +
      "rank binning lost its locality")
    // and the second dimension keeps locality under quantile binning
    val hourDom = ev.agg((max("hour") - min("hour")).cast("double")).head.getDouble(0)
    val hourSpan = spark.read.parquet(s"$tmp/q")
      .groupBy(input_file_name())
      .agg(((max("hour") - min("hour")) / hourDom).as("sh"))
      .agg(avg("sh")).head.getDouble(0)
    info(f"quantile layout mean hour-dim file span: $hourSpan%.3f")
    assert(hourSpan < 0.6, f"hour-dim span $hourSpan%.3f — no locality")
  }

  test("hilbert index: exhaustive grid walk is a bijection with " +
    "unit steps, and the gate query matches a JVM reference") {
    import spark.implicits._
    // the curve's defining property, checked on EVERY cell of a full
    // 16x16 grid: consecutive indices are grid-adjacent (Manhattan
    // distance exactly 1) — the locality guarantee Morton interleave
    // does not have (its worst jumps cross half the domain)
    val bits = 4
    val n = 1 << bits
    val grid = (for (x <- 0 until n; y <- 0 until n) yield (x, y))
      .toDF("gx", "gy")
    val walked = ZOrder.hilbertFrame(grid, col("gx"), col("gy"), bits)
      .select(col("hval"), col("hx"), col("hy"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(walked.map(_._1).toSeq == (0L until (n.toLong * n)),
      "hilbert index is not a bijection onto [0, n^2)")
    walked.sliding(2).foreach { case Array((_, x1, y1), (_, x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-unit step ($x1,$y1) -> ($x2,$y2)")
    }
    // gate query vs an independent JVM xy2d on the real corpus
    def ref(bits: Int, x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      val nn = 1L << bits
      var s = nn / 2
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = nn - 1 - x; y = nn - 1 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    val rows = graft.SparkEntry.queries("q_hilbert_value")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) == ref(ZOrder.HBits, r.getLong(1), r.getLong(2)),
        s"hilbert mismatch for (${r.getLong(1)}, ${r.getLong(2)})")
    }
  }

  test("hive partition pruning: the day-range predicate reaches " +
    "PartitionFilters and non-qualifying day directories are never " +
    "read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the q_partition_prune fixture: events laid out one directory
    // per day; the gate's whole point is that the filter is satisfied
    // from the LISTING, so the scan must (a) carry it as a partition
    // filter, not a data filter, and (b) read strictly fewer files
    // than the unfiltered scan — correctness of the answer itself is
    // the gate's oracle-hash job, effectiveness is this test's
    val sfDir = "/root/testdata/sf0.001"
    val (laid, midDay) = ZOrder.partitionedGateLayout(spark, sfDir)
    val filtered = laid.filter(col("day") <= midDay)
    // Dataset.inputFiles reports the relation's FULL listing (it
    // never applies pruning), so files-actually-read comes from the
    // scan's own numFiles metric after execution
    def executedScan(df: org.apache.spark.sql.DataFrame)
        : FileSourceScanExec = {
      val scan = df.queryExecution.executedPlan
        .collectWithSubqueries { case f: FileSourceScanExec => f }
      assert(scan.nonEmpty, "no file scan in the partitioned read")
      df.collect() // drive THIS plan so its metrics populate
      scan.head
    }
    val fScan = executedScan(filtered)
    val pf = fScan.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("day"),
      s"day predicate did not become a partition filter: $pf")
    // fScan's metrics are already populated by its executedScan call
    // above — re-invoking executedScan(filtered) would re-collect the
    // whole filtered query just to read a value fScan already holds
    val readFiles = fScan.metrics("numFiles").value
    val allFiles = executedScan(laid).metrics("numFiles").value
    assert(readFiles < allFiles,
      s"pruning read $readFiles of $allFiles files — nothing dropped")
    // the 30-day span's lower half ⇒ roughly half the directories
    // (inclusive midpoint; generous bound, the point is 'not all')
    assert(readFiles <= allFiles * 3 / 4,
      s"pruning too weak: $readFiles of $allFiles files survive a " +
        "half-span predicate")
  }
}
