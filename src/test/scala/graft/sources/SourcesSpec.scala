package graft.sources

import graft.SparkSpec
import graft.imdb.{ImdbDataset, Pimdb}
import org.apache.spark.sql.functions._

/** Source/sink surface: the JDBC round trip against embedded Derby
  * (the in-container SQL database) and bucketed tables eliminating
  * the join shuffle.
  */
class SourcesSpec extends SparkSpec {

  import spark.implicits._

  private val derbyUrl = "jdbc:derby:memory:graftdb;create=true"

  test("ETL to SQL DB: transfer+build land in Derby and read back intact") {
    val dataDir = getClass.getResource("/imdb").getPath
    val pimdb = Pimdb(spark)
    pimdb.transfer(dataDir, Seq(ImdbDataset.TitleRatings, ImdbDataset.TitleBasics))
    pimdb.writeToJdbc(derbyUrl)
    val back = Sources.readJdbc(spark, derbyUrl, "TitleRatings")
    assert(back.count() == 12)
    val row = back.filter($"tconst" === "tt2535470").collect()
    assert(row.length == 1)
    assert(row(0).getAs[Int]("numVotes") > 0)
    assert(Sources.readJdbc(spark, derbyUrl, "TitleBasics").count() == 75)
  }

  test("generic format round trip: json and orc") {
    val df = graft.Tables(spark, "/root/testdata/sf0.001", "nation")
    Seq("json", "orc").foreach { fmt =>
      val path = java.nio.file.Files.createTempDirectory(s"graft_$fmt").toString
      Sources.write(df, fmt, path)
      val back = Sources.read(spark, fmt, path,
        schema = if (fmt == "json") Some(df.schema) else None)
      assert(back.count() == 25, fmt)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val o = graft.Tables(spark, "/root/testdata/sf0.001", "orders")
    val l = graft.Tables(spark, "/root/testdata/sf0.001", "lineitem")
    Sources.writeBucketed(o.withColumnRenamed("o_orderkey", "k"),
      "b_orders", Seq("k"), 4)
    Sources.writeBucketed(l.withColumnRenamed("l_orderkey", "k"),
      "b_lineitem", Seq("k"), 4)
    val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "k")
      .groupBy("k").agg(count(lit(1)).as("n"))
    // disable broadcast so the join would otherwise be a shuffle SMJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("stored band index: incremental dedup joins the bucketed corpus side " +
    "with NO exchange, and matches the in-memory formulation") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val existing = docs.filter(col("doc_id") < DedupOps.IncrementalSplit)
    val batch = docs.filter(col("doc_id") >= DedupOps.IncrementalSplit)
    Sources.writeBucketed(DedupOps.minhashBands(existing), "band_index",
      Seq("band", "bucket"), 4)
    // force the shuffle-join path and a non-adaptive plan so the
    // exchange placement is inspectable deterministically
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val stored = DedupOps.incrementalCandidatePairsStored(
        spark, "band_index", batch)
      def subtree(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(subtree)
      val nodes = subtree(stored.queryExecution.executedPlan)
      def isIndexScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table == "band_index")
        case _ => false
      }
      // the stored scan exists and reads its buckets
      val scans = nodes.filter(isIndexScan)
      assert(scans.nonEmpty, "bucketed band_index scan missing from plan")
      scans.foreach(s => assert(
        s.asInstanceOf[FileSourceScanExec].metadata.contains("SelectedBucketsCount"),
        "band_index scan is not a bucketed read"))
      // ...and feeds its join with NO exchange on its branch: the
      // bucketed layout replaces the corpus-side shuffle. (The pair-
      // level distinct above the join shuffles O(candidates) (a, b)
      // rows — that one is expected and corpus-size-independent.)
      val joins = nodes.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if subtree(j.left).exists(isIndexScan) => j
      }
      assert(joins.nonEmpty, "stored-index SMJ missing from plan:\n" +
        stored.queryExecution.executedPlan)
      joins.foreach(j => assert(
        !subtree(j.left).exists(_.isInstanceOf[ShuffleExchangeExec]),
        "stored index side must not re-shuffle:\n" +
          stored.queryExecution.executedPlan))
      // and the stored-index path produces exactly the in-memory pairs
      val inMem = DedupOps.incrementalCandidatePairs(
        DedupOps.minhashBands(existing), batch)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaIndex = stored.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaIndex == inMem)
      assert(viaIndex.nonEmpty)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.sql("DROP TABLE IF EXISTS band_index")
    }
  }

  test("stored IVF index: annSearchStored reads the bucketed corpus with " +
    "NO exchange on the stored side and equals the in-memory ivfSearch") {
    import graft.operators.SimilarityOps
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val centroids = emb.filter(col("vec_id") < SimilarityOps.NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val probes = emb.filter(col("vec_id") < SimilarityOps.NumProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    SimilarityOps.writeIvfIndex(emb, centroids, "ivf_index", 4)
    val centConst = centroids.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val served = SimilarityOps.annSearchStored(probes,
        spark.table("ivf_index"), centConst,
        SimilarityOps.NumProbeCells, SimilarityOps.TopK)
      def subtree(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(subtree)
      val nodes = subtree(served.queryExecution.executedPlan)
      def isIndexScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table == "ivf_index")
        case _ => false
      }
      val scans = nodes.filter(isIndexScan)
      assert(scans.nonEmpty, "bucketed ivf_index scan missing from plan")
      scans.foreach(s => assert(
        s.asInstanceOf[FileSourceScanExec].metadata.contains("SelectedBucketsCount"),
        "ivf_index scan is not a bucketed read"))
      // the probe batch broadcasts; the stored corpus side streams
      // through the join straight off its buckets — no exchange below
      // the join on the index branch (the only shuffle in the whole
      // serve is the k-bounded top-k aggregation above it)
      val joins = nodes.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if subtree(j).exists(isIndexScan) => j
      }
      assert(joins.nonEmpty, "broadcast probe join over the index scan " +
        "missing:\n" + served.queryExecution.executedPlan)
      joins.foreach { j =>
        val indexSides = j.children.filter(c => subtree(c).exists(isIndexScan))
        assert(indexSides.nonEmpty)
        indexSides.foreach(c => assert(
          !subtree(c).exists(_.isInstanceOf[ShuffleExchangeExec]),
          "stored index side must not shuffle before the probe join:\n" +
            served.queryExecution.executedPlan))
      }
      val inMem = SimilarityOps.ivfSearch(emb, centroids, probes,
        SimilarityOps.NumProbeCells, SimilarityOps.TopK)
        .collect().map(_.toSeq).toSet
      val viaIndex = served.collect().map(_.toSeq).toSet
      assert(viaIndex == inMem)
      assert(viaIndex.nonEmpty)
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.sql("DROP TABLE IF EXISTS ivf_index")
    }
  }

  test("appended IVF index (the ingest→serve loop): appendIvfIndex keeps " +
    "the bucketed layout — the post-append serve reads the stored side " +
    "with NO exchange and the table equals the full-corpus assignment") {
    import graft.operators.SimilarityOps
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val centroids = emb.filter(col("vec_id") < SimilarityOps.NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val isIngest = col("vec_id") % SimilarityOps.IvfIngestMod ===
      SimilarityOps.IvfIngestMod - 1
    SimilarityOps.writeIvfIndex(emb.filter(!isIngest), centroids,
      "ivf_append_test", 8)
    try {
      val centConst = centroids.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      // two appends = two micro-batches of the ingest stream
      val slice = emb.filter(isIngest).select(col("vec_id"), col("embedding"))
      SimilarityOps.appendIvfIndex(
        slice.filter(col("vec_id") < 250), centConst, "ivf_append_test", 8)
      SimilarityOps.appendIvfIndex(
        slice.filter(col("vec_id") >= 250), centConst, "ivf_append_test", 8)
      // content: base + appends == the batch assignment of the FULL corpus
      val got = spark.table("ivf_append_test")
        .select(col("vec_id"), col("centroid_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = SimilarityOps.ivfAssign(emb, centroids)
        .select(col("vec_id"), col("centroid_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, "appended index diverged from batch assignment")
      // plan: the serve over the APPENDED table must still read the
      // stored side without an exchange — the bucketed layout, not a
      // shuffle, feeds the probe join
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val probes = emb.filter(col("vec_id") < SimilarityOps.NumProbes)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val served = SimilarityOps.annSearchStored(probes,
          spark.table("ivf_append_test"), centConst,
          SimilarityOps.NumProbeCells, SimilarityOps.TopK)
        def subtree(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(subtree)
        val nodes = subtree(served.queryExecution.executedPlan)
        def isIdxScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec =>
            f.tableIdentifier.exists(_.table == "ivf_append_test")
          case _ => false
        }
        assert(nodes.exists(isIdxScan), "stored index scan missing from plan")
        val joins = nodes.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if subtree(j).exists(isIdxScan) => j
        }
        assert(joins.nonEmpty, "broadcast probe join over the index missing:\n" +
          served.queryExecution.executedPlan)
        joins.foreach { j =>
          val idxSides = j.children.filter(c => subtree(c).exists(isIdxScan))
          assert(idxSides.nonEmpty)
          idxSides.foreach(c => assert(
            !subtree(c).exists(_.isInstanceOf[ShuffleExchangeExec]),
            "appended index side must not shuffle before the probe join:\n" +
              served.queryExecution.executedPlan))
        }
        // and the post-append serve equals the full-corpus in-memory search
        val inMem = SimilarityOps.ivfSearch(emb, centroids, probes,
          SimilarityOps.NumProbeCells, SimilarityOps.TopK)
          .collect().map(_.toSeq).toSet
        assert(served.collect().map(_.toSeq).toSet == inMem)
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
    } finally spark.sql("DROP TABLE IF EXISTS ivf_append_test")
  }

  test("compacted bucketed index: appends multiply files per bucket, " +
    "compactBucketed restores one sorted file per bucket with identical " +
    "content and an exchange-free bucketed probe") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val nBuckets = 4
    Sources.writeBucketed(
      DedupOps.minhashBands(docs.filter(col("doc_id") < 100)),
      "band_compact_test", Seq("band", "bucket"), nBuckets)
    try {
      // three streamed appends — each may land a file in every bucket
      Seq((100, 200), (200, 300), (300, 500)).foreach { case (lo, hi) =>
        DedupOps.appendBandIndex(
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
          "band_compact_test", nBuckets)
      }
      val before = spark.table("band_compact_test")
        .collect().map(_.toSeq).toSet
      val filesBefore = spark.table("band_compact_test").inputFiles.length
      assert(filesBefore > nBuckets,
        s"appends should fragment the table, saw $filesBefore files")
      Sources.compactBucketed(spark, "band_compact_test",
        Seq("band", "bucket"), nBuckets)
      // one file per bucket, identical rows
      val after = spark.table("band_compact_test")
      assert(after.inputFiles.length == nBuckets,
        s"expected $nBuckets files post-compaction, got ${after.inputFiles.length}")
      assert(after.collect().map(_.toSeq).toSet == before)
      // the probe still reads the compacted table bucketed, no exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val probe = DedupOps.incrementalCandidatePairsStored(
          spark, "band_compact_test",
          docs.filter(col("doc_id") >= 450))
        def subtree(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(subtree)
        val nodes = subtree(probe.queryExecution.executedPlan)
        // post-compaction the scan reads the current PHYSICAL version
        // behind the pointer view — match by prefix
        val scans = nodes.collect {
          case f: FileSourceScanExec
            if f.tableIdentifier.exists(
              _.table.startsWith("band_compact_test")) => f
        }
        assert(scans.nonEmpty, "compacted scan missing from plan")
        scans.foreach(s => assert(s.metadata.contains("SelectedBucketsCount"),
          "compacted table scan is not a bucketed read"))
        nodes.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        }.foreach { j =>
          j.children.filter(c => subtree(c).exists {
            case f: FileSourceScanExec =>
              f.tableIdentifier.exists(_.table.startsWith("band_compact_test"))
            case _ => false
          }).foreach(c => assert(
            !subtree(c).exists(_.isInstanceOf[ShuffleExchangeExec]),
            "compacted side must not shuffle before its join:\n" +
              probe.queryExecution.executedPlan))
        }
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.enabled")
      }
    } finally Sources.dropVersioned(spark, "band_compact_test")
  }

  test("appendBucketed aligns a many-partition batch to the bucket " +
    "hash: one append adds at most numBuckets files, never " +
    "partitions x buckets") {
    // the r17 guard for the spread() fix: once a foreachBatch batch
    // fans out to defaultParallelism partitions, an UNALIGNED append
    // would write one file per (task x bucket-present) — a 32-way
    // fragmentation of the stored index per trigger. The repartition
    // inside appendBucketedLocked pins fragmentation to the bucketed
    // contract whatever the batch's incoming partitioning.
    val nBuckets = 4
    val batch1 = spark.range(0, 2000).repartition(32)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
    Sources.dropVersioned(spark, "align_append_test")
    try {
      Sources.appendBucketed(batch1, "align_append_test", Seq("k"),
        nBuckets, observeCount = false)
      val after1 = spark.table("align_append_test").inputFiles.length
      assert(after1 <= nBuckets,
        s"creating append from a 32-partition batch left $after1 files " +
          s"(expected <= $nBuckets)")
      val batch2 = spark.range(2000, 4000).repartition(32)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      Sources.appendBucketed(batch2, "align_append_test", Seq("k"),
        nBuckets, observeCount = false)
      val after2 = spark.table("align_append_test").inputFiles.length
      assert(after2 - after1 <= nBuckets,
        s"append from a 32-partition batch added ${after2 - after1} " +
          s"files (expected <= $nBuckets)")
      // and the rows all arrived exactly once
      assert(spark.table("align_append_test").count() == 4000)
    } finally Sources.dropVersioned(spark, "align_append_test")
  }

  test("index lifecycle: fragmented appends -> compact -> append again; " +
    "probe results identical before/after compaction, 1 file/bucket " +
    "post-compact, post-compact appends stay probe-visible") {
    import graft.operators.DedupOps
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val nBuckets = 4
    val probe = docs.filter(col("doc_id") >= 450)
    def probePairs(): Set[(Long, Long)] =
      DedupOps.incrementalCandidatePairsStored(spark, "band_lc_test", probe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      // ingest as four fragmented appends (first one creates the table)
      Seq((0, 100), (100, 200), (200, 300), (300, 400)).foreach {
        case (lo, hi) => DedupOps.appendBandIndex(
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
          "band_lc_test", nBuckets)
      }
      assert(spark.table("band_lc_test").inputFiles.length > nBuckets,
        "appends should fragment the table")
      val before = probePairs()
      assert(before.nonEmpty)
      val fragBefore = spark.table("band_lc_test").inputFiles.toSet
      Sources.compactBucketed(spark, "band_lc_test",
        Seq("band", "bucket"), nBuckets)
      // one sorted file per bucket, and the SAME probe answers
      assert(spark.table("band_lc_test").inputFiles.length == nBuckets,
        "compaction must land exactly one file per bucket")
      assert(probePairs() == before,
        "compaction changed probe results")
      // lazily-created index is versioned from birth: the appends
      // built v1, compaction swapped in v2, and retention keeps the
      // fragmented v1 readable AS-OF until the next swap drops it
      assert(Sources.tableVersions(spark, "band_lc_test") == Seq(1, 2),
        "compaction must retain the prior version")
      assert(Sources.currentVersion(spark, "band_lc_test").contains(2))
      assert(Sources.readVersion(spark, "band_lc_test", 1)
        .inputFiles.toSet == fragBefore,
        "as-of read of the pre-compaction version must serve its " +
          "original fragmented files")
      // the maintenance pass refreshes optimizer stats of the
      // rewritten artifact (approx-NDV mode): the catalog the next
      // probe plans against carries the true row count — recorded on
      // the PHYSICAL version the pointer serves
      graft.operators.Analytics.analyzeTable(
        spark, "band_lc_test", exact = false)
      val st = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          Sources.physicalName(spark, "band_lc_test")))
        .stats.get
      assert(st.rowCount.contains(
        BigInt(spark.table("band_lc_test").count())),
        "post-compact ANALYZE must record the true row count")
      assert(st.colStats.contains("band"),
        "post-compact ANALYZE must record column statistics")
      // live appends continue AFTER a compaction and are probe-visible
      // (appendBucketed resolves the pointer and refreshes the
      // physical relation — no caller-side refresh needed)
      DedupOps.appendBandIndex(
        docs.filter(col("doc_id") >= 400 && col("doc_id") < 450),
        "band_lc_test", nBuckets)
      val after = probePairs()
      assert(before.subsetOf(after), "append lost prior candidates")
      val expected = DedupOps.incrementalCandidatePairs(
        DedupOps.minhashBands(docs.filter(col("doc_id") < 450)), probe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == expected,
        "post-compact append is not serving the full corpus")
    } finally Sources.dropVersioned(spark, "band_lc_test")
  }

  test("swapBucketed state table: the write is multi-task (one sorted " +
    "file per bucket, never one file), the read is bucketed, and a new " +
    "version derived FROM the old table swaps in atomically") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    val nBuckets = 4
    val v1 = (0L until 64L).map(i => (i % 8, i)).toDF("a", "b")
    try {
      Sources.swapBucketed(v1, "stars_state_test", Seq("a"), nBuckets)
      val t1 = spark.table("stars_state_test")
      // multi-task write: one file per NON-EMPTY bucket (murmur3 may
      // leave a bucket keyless), never a coalesce(1) single file
      assert(t1.inputFiles.length > 1 && t1.inputFiles.length <= nBuckets,
        s"state write must land up to $nBuckets parallel files, " +
          s"got ${t1.inputFiles.length}")
      // the state read advertises the bucket layout (non-adaptive
      // plan so the scan node is inspectable deterministically)
      def subtree(p: SparkPlan): Seq[SparkPlan] =
        p +: p.children.flatMap(subtree)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val scans =
        try subtree(t1.groupBy(col("a")).agg(count(lit(1)))
          .queryExecution.executedPlan).collect {
          case f: FileSourceScanExec
            if f.tableIdentifier.exists(
              _.table.startsWith("stars_state_test")) => f
        }
        finally spark.conf.unset("spark.sql.adaptive.enabled")
      assert(scans.nonEmpty &&
        scans.forall(_.metadata.contains("SelectedBucketsCount")),
        "state table scan is not a bucketed read")
      // read-modify-swap: next version DERIVED FROM the current table
      // (the incrementalStars per-trigger shape) — the next version
      // must materialize before the pointer flips off the old files
      val v1Rows = spark.table("stars_state_test")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val v2 = spark.table("stars_state_test")
        .select(col("a"), (col("b") + 1000L).as("b"))
        .union(Seq((99L, 1L)).toDF("a", "b"))
      Sources.swapBucketed(v2, "stars_state_test", Seq("a"), nBuckets)
      val after = spark.table("stars_state_test")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = (0L until 64L).map(i => (i % 8, i + 1000L)).toSet + ((99L, 1L))
      assert(after == expect, "swapped-in state diverged from the derivation")
      val files2 = spark.table("stars_state_test").inputFiles.length
      assert(files2 > 1 && files2 <= nBuckets)
      // versioned pointer: current is v2, and the PRIOR version stays
      // readable as-of (default retention keeps current + previous)
      assert(Sources.currentVersion(spark, "stars_state_test").contains(2))
      assert(Sources.tableVersions(spark, "stars_state_test") == Seq(1, 2))
      assert(Sources.readVersion(spark, "stars_state_test", 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == v1Rows,
        "as-of read of the prior version diverged")
      // a third swap drops v1 under retain=2: versions roll forward
      Sources.swapBucketed(
        spark.table("stars_state_test"), "stars_state_test",
        Seq("a"), nBuckets)
      assert(Sources.tableVersions(spark, "stars_state_test") == Seq(2, 3),
        "retention must keep exactly the last 2 versions")
    } finally Sources.dropVersioned(spark, "stars_state_test")
  }

  test("versioned swap is reader-atomic: concurrent readers hammering " +
    "the table across many swaps never see NOT-FOUND or partial data") {
    val nBuckets = 4
    def versionDf(v: Long) =
      (0L until 32L).map(i => (i % 8, v)).toDF("a", "b")
    Sources.swapBucketed(versionDf(0), "swap_hammer_test", Seq("a"), nBuckets)
    try {
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val readers = (1 to 3).map { _ =>
        new Thread(() => {
          while (!stop.get()) {
            try {
              // a full resolve-plan-read cycle per iteration — the
              // reader must land on SOME complete version every time
              val vs = spark.table("swap_hammer_test")
                .select(col("b")).distinct()
                .collect().map(_.getLong(0)).toSet
              assert(vs.size == 1,
                s"reader saw rows from ${vs.size} versions at once: $vs")
              seen.add(vs.head)
            } catch { case t: Throwable => failures.add(t); stop.set(true) }
          }
        })
      }
      readers.foreach(_.start())
      // retain all versions for the hammer's duration: retention
      // dropping a version a slow reader already resolved is the
      // (documented) vacuum-vs-long-reader tradeoff every versioned
      // format has, not the atomicity property under test
      (1L to 8L).foreach { v =>
        Sources.swapBucketed(versionDf(v), "swap_hammer_test",
          Seq("a"), nBuckets, retain = 16)
      }
      stop.set(true)
      readers.foreach(_.join(30000))
      assert(failures.isEmpty,
        s"concurrent reads failed during swaps: ${failures.peek()}")
      assert(!seen.isEmpty, "hammer made no successful reads — fixture broken")
    } finally Sources.dropVersioned(spark, "swap_hammer_test")
  }

  test("interrupted swap recovery: a complete-but-unflipped version is " +
    "invisible to readers and reclaimed by the next swap; the pointer " +
    "always serves the last COMMITTED fixed point across 'restarts'") {
    val nBuckets = 2
    val v1 = (0L until 16L).map(i => (i % 4, 1L)).toDF("a", "b")
    Sources.swapBucketed(v1, "swap_crash_test", Seq("a"), nBuckets)
    try {
      // simulate a swap that died AFTER materializing the next
      // version but BEFORE the pointer flip: the physical version
      // exists in the catalog, the view still serves v1
      Sources.writeBucketed(
        (0L until 16L).map(i => (i % 4, 999L)).toDF("a", "b")
          .repartition(nBuckets, col("a")),
        "swap_crash_test__v2", Seq("a"), nBuckets)
      // a reader (or a RESTARTED process — resolution is catalog
      // state, not JVM memory) still sees the committed v1, and the
      // table is NOT absent: must-not-reset state survives the crash
      assert(spark.catalog.tableExists("swap_crash_test"))
      assert(Sources.currentVersion(spark, "swap_crash_test").contains(1))
      assert(spark.table("swap_crash_test")
        .select(col("b")).distinct().collect().map(_.getLong(0)).toSet
        == Set(1L), "reader saw the uncommitted orphan version")
      // the next swap re-derives from the COMMITTED state and
      // reclaims the orphan — its garbage rows never surface
      Sources.swapBucketed(
        spark.table("swap_crash_test")
          .select(col("a"), (col("b") + 1L).as("b")),
        "swap_crash_test", Seq("a"), nBuckets)
      assert(Sources.currentVersion(spark, "swap_crash_test").contains(2))
      assert(spark.table("swap_crash_test")
        .select(col("b")).distinct().collect().map(_.getLong(0)).toSet
        == Set(2L), "post-recovery swap must derive from committed state")
    } finally Sources.dropVersioned(spark, "swap_crash_test")
  }

  test("a crashed plain->versioned upgrade is recoverable, not lost: " +
    "appendBucketed REFUSES to create over a complete pointerless " +
    "version, and adoptVersion flips the pointer to the survivor") {
    val nBuckets = 2
    val data = (0L until 8L).map(i => (i % 2, 7L)).toDF("a", "b")
    // simulate the crash window: the upgrade wrote __v1 completely
    // and dropped the plain table, but died before the pointer flip —
    // __v1 is now the ONLY copy of must-not-reset state
    Sources.writeBucketed(
      data.repartition(nBuckets, col("a")),
      "upgrade_crash_test__v1", Seq("a"), nBuckets)
    try {
      assert(!spark.catalog.tableExists("upgrade_crash_test"))
      // a blind re-create must fail LOUDLY (silently reclaiming the
      // orphan here would delete the upgrade survivor's data)
      val e = intercept[IllegalArgumentException] {
        Sources.appendBucketed(data, "upgrade_crash_test",
          Seq("a"), nBuckets)
      }
      assert(e.getMessage.contains("adoptVersion"),
        "the refusal must name the recovery action")
      assert(spark.catalog.tableExists("upgrade_crash_test__v1"),
        "the refused create must leave the survivor untouched")
      // the named recovery: flip the pointer to the survivor, then
      // appends continue against it
      Sources.adoptVersion(spark, "upgrade_crash_test", 1)
      assert(Sources.currentVersion(spark, "upgrade_crash_test")
        .contains(1))
      assert(spark.table("upgrade_crash_test").count() == 8L)
      Sources.appendBucketed(
        (0L until 4L).map(i => (i % 2, 8L)).toDF("a", "b"),
        "upgrade_crash_test", Seq("a"), nBuckets)
      assert(spark.table("upgrade_crash_test").count() == 12L,
        "appends must continue on the adopted version")
      // adoptVersion guards: refuses a missing version and refuses to
      // shadow a live plain table
      intercept[IllegalArgumentException] {
        Sources.adoptVersion(spark, "upgrade_crash_test", 99)
      }
      Sources.writeBucketed(data, "plain_adopt_test", Seq("a"), nBuckets)
      try {
        Sources.writeBucketed(data, "plain_adopt_test__v1",
          Seq("a"), nBuckets)
        intercept[IllegalArgumentException] {
          Sources.adoptVersion(spark, "plain_adopt_test", 1)
        }
      } finally {
        Sources.dropManaged(spark, "plain_adopt_test__v1")
        Sources.dropManaged(spark, "plain_adopt_test")
      }
    } finally Sources.dropVersioned(spark, "upgrade_crash_test")
  }

  test("swapBucketed ALSO refuses to write over a crashed upgrade's " +
    "pointerless survivor instead of reclaiming it as swap garbage") {
    val nBuckets = 2
    val data = (0L until 8L).map(i => (i % 2, 7L)).toDF("a", "b")
    // the same crash window as the append refusal: __v1 complete, no
    // plain table, no pointer, no creation marker — the swap's
    // newer-than-pointer reclaim (curV = 0) would have deleted the
    // sole surviving copy BEFORE the new write evaluated
    Sources.writeBucketed(
      data.repartition(nBuckets, col("a")),
      "swap_orphan_test__v1", Seq("a"), nBuckets)
    try {
      val e = intercept[IllegalArgumentException] {
        Sources.swapBucketed(data, "swap_orphan_test", Seq("a"), nBuckets)
      }
      assert(e.getMessage.contains("adoptVersion"),
        "the refusal must name the recovery action")
      assert(spark.catalog.tableExists("swap_orphan_test__v1") &&
        spark.table("swap_orphan_test__v1").count() == 8L,
        "the refused swap must leave the survivor untouched")
      // after adoption, swaps proceed normally on the recovered chain
      Sources.adoptVersion(spark, "swap_orphan_test", 1)
      Sources.swapBucketed(
        spark.table("swap_orphan_test")
          .select(col("a"), (col("b") + 1L).as("b")),
        "swap_orphan_test", Seq("a"), nBuckets)
      assert(Sources.currentVersion(spark, "swap_orphan_test").contains(2))
    } finally Sources.dropVersioned(spark, "swap_orphan_test")
  }

  test("versioned-table names resolve like the catalog: mixed case is " +
    "one table, and a foreign-database qualifier is refused loudly") {
    val nBuckets = 2
    val data = (0L until 4L).map(i => (i % 2, 1L)).toDF("a", "b")
    try {
      Sources.swapBucketed(data, "CaseTable", Seq("a"), nBuckets)
      // the catalog stores lowercase; every casing must see the chain
      // (a case-sensitive prefix match returned NOTHING here, blinding
      // the orphan/reclaim/retention guards built on the list)
      assert(Sources.tableVersions(spark, "CASETABLE") == Seq(1))
      assert(Sources.tableVersions(spark, "casetable") == Seq(1))
      assert(Sources.currentVersion(spark, "CaseTable").contains(1))
      // second swap through a DIFFERENT casing continues the SAME chain
      Sources.swapBucketed(data, "casetable", Seq("a"), nBuckets)
      assert(Sources.currentVersion(spark, "CASEtable").contains(2))
      // current-database qualifier is accepted; a foreign one refused
      val db = spark.catalog.currentDatabase
      assert(Sources.tableVersions(spark, s"$db.casetable") == Seq(1, 2))
      val e = intercept[IllegalArgumentException] {
        Sources.tableVersions(spark, "otherdb.casetable")
      }
      assert(e.getMessage.contains("current"), e.getMessage)
    } finally Sources.dropVersioned(spark, "casetable")
  }

  test("appendBucketed's OWN crashed create self-heals: the in-flight " +
    "marker + a complete pointerless __v1 is reclaimed (the batch is " +
    "re-delivered), recreated, and the marker cleaned up") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.TableIdentifier
    val nBuckets = 2
    val t = "selfheal_crash_test"
    // simulate append's create dying between saveAsTable(__v1) and
    // pointTo: marker present, complete version, no pointer
    val marker = new Path(spark.sessionState.catalog
      .defaultTablePath(TableIdentifier(t)).toString + "._append_creating")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, true).close()
    Sources.writeBucketed(
      (0L until 6L).map(i => (i % 2, 666L)).toDF("a", "b"),
      s"${t}__v1", Seq("a"), nBuckets)
    try {
      // the restart's first trigger re-delivers the batch; no refusal,
      // no operator — and the crashed write's rows never surface
      Sources.appendBucketed(
        (0L until 4L).map(i => (i % 2, 7L)).toDF("a", "b"),
        t, Seq("a"), nBuckets)
      assert(Sources.currentVersion(spark, t).contains(1))
      assert(spark.table(t).select(col("b")).distinct().collect()
        .map(_.getLong(0)).toSet == Set(7L),
        "the crashed create's rows must be reclaimed, not merged")
      assert(spark.table(t).count() == 4L)
      assert(!fs.exists(marker),
        "a committed create must clean up its in-flight marker")
      // and WITHOUT the marker the same state still refuses (the
      // upgrade-survivor protection is marker-gated, not removed)
    } finally Sources.dropVersioned(spark, t)
  }

  test("a FAILED creating write cleans up its in-flight marker: the " +
    "leaked marker must not later vouch for a crashed upgrade's " +
    "sole surviving copy") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.TableIdentifier
    val nBuckets = 2
    val t = "failed_create_test"
    val marker = new Path(spark.sessionState.catalog
      .defaultTablePath(TableIdentifier(t)).toString + "._append_creating")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val boom = org.apache.spark.sql.functions.udf(
      (_: Long) => { sys.error("injected write failure"): Long })
    try {
      // the creating write fails IN-JVM (not a crash): the handler
      // must reclaim the partial v1 and remove the marker
      intercept[Exception] {
        Sources.appendBucketed(
          (0L until 4L).toDF("a").select(col("a"), boom(col("a")).as("b")),
          t, Seq("a"), nBuckets)
      }
      assert(!fs.exists(marker),
        "a failed in-JVM create leaked its marker — a later crashed " +
          "plain->versioned upgrade's orphan would be silently dropped")
      assert(!spark.catalog.tableExists(s"${t}__v1"),
        "the failed create's partial version must be reclaimed")
      // the name is immediately reusable, cleanly
      Sources.appendBucketed(
        (0L until 4L).map(i => (i % 2, 9L)).toDF("a", "b"),
        t, Seq("a"), nBuckets)
      assert(Sources.currentVersion(spark, t).contains(1))
      assert(spark.table(t).count() == 4L)
      // and with no marker present, a fabricated complete pointerless
      // v1 (the crashed-upgrade shape) still gets the loud refusal
      Sources.dropVersioned(spark, t)
      Sources.writeBucketed(
        (0L until 6L).map(i => (i % 2, 1L)).toDF("a", "b"),
        s"${t}__v1", Seq("a"), nBuckets)
      val e = intercept[IllegalArgumentException] {
        Sources.appendBucketed(
          (0L until 4L).map(i => (i % 2, 2L)).toDF("a", "b"),
          t, Seq("a"), nBuckets)
      }
      assert(e.getMessage.contains("refusing to write over them"))
    } finally Sources.dropVersioned(spark, t)
  }

  test("a FAILED creating write whose cleanup ALSO fails surfaces the " +
    "write error, with the cleanup failure attached as suppressed") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.TableIdentifier
    val t = "failed_cleanup_test"
    val marker = new Path(spark.sessionState.catalog
      .defaultTablePath(TableIdentifier(t)).toString + "._append_creating")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the failing write turns the in-flight marker into a NON-EMPTY
    // directory before it throws, so the handler's non-recursive
    // marker delete fails too
    val markerFile = marker.toUri.getPath
    val boom = org.apache.spark.sql.functions.udf { (_: Long) =>
      val m = java.nio.file.Paths.get(markerFile)
      try {
        if (java.nio.file.Files.isRegularFile(m))
          java.nio.file.Files.delete(m)
        java.nio.file.Files.createDirectories(m)
        java.nio.file.Files.createFile(m.resolve("planted"))
      } catch { case _: java.nio.file.FileAlreadyExistsException => () }
      sys.error("injected write failure"): Long
    }
    try {
      val e = intercept[Exception] {
        Sources.appendBucketed(
          (0L until 4L).toDF("a").select(col("a"), boom(col("a")).as("b")),
          t, Seq("a"), 2)
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(chain.contains("injected write failure"),
        s"the write error must be the one thrown: $chain")
      assert(e.getSuppressed.exists(_.getMessage.contains("not empty")),
        s"cleanup failure not attached: ${e.getSuppressed.toSeq}")
    } finally {
      fs.delete(marker, true)
      Sources.dropVersioned(spark, t)
    }
  }

  test("dropVersioned's dead-file sweep matches the exact version " +
    "pattern: a prefix-colliding NEIGHBOR table's files survive") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val nBuckets = 2
    val data = (0L until 8L).map(i => (i % 2, 1L)).toDF("a", "b")
    Sources.swapBucketed(data, "sweep_scope_test", Seq("a"), nBuckets)
    // neighbors whose names EXTEND the version prefix but are not
    // versions of this table — a bare startsWith sweep would destroy
    // both; only exact __v<digits> dirs may be swept
    Sources.writeBucketed(data, "sweep_scope_test__video", Seq("a"), nBuckets)
    Sources.writeBucketed(data, "sweep_scope_test__v2_bak", Seq("a"), nBuckets)
    try {
      Sources.dropVersioned(spark, "sweep_scope_test")
      def locationOf(t: String) = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(TableIdentifier(t)))
      val fs = locationOf("sweep_scope_test")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(locationOf("sweep_scope_test__v1")),
        "the table's own version files must be swept")
      assert(fs.exists(locationOf("sweep_scope_test__video")) &&
        spark.table("sweep_scope_test__video").count() == 8L,
        "a prefix-colliding neighbor's files must survive the sweep")
      assert(fs.exists(locationOf("sweep_scope_test__v2_bak")) &&
        spark.table("sweep_scope_test__v2_bak").count() == 8L,
        "a near-miss (__v2_bak) neighbor's files must survive the sweep")
    } finally {
      Sources.dropManaged(spark, "sweep_scope_test__video")
      Sources.dropManaged(spark, "sweep_scope_test__v2_bak")
    }
  }

  test("model-based versioned-table check: random swap/append/compact/" +
    "crash-orphan sequences always serve exactly the model's content, " +
    "and the pointer survives every interleaving") {
    val nBuckets = 2
    val rng = new scala.util.Random(42)
    def frame(rows: Seq[(Long, Long)]) =
      if (rows.isEmpty) Seq((0L, 0L)).toDF("a", "b").limit(0)
      else rows.toDF("a", "b")
    def freshRows(): Seq[(Long, Long)] =
      Seq.fill(4 + rng.nextInt(8))((rng.nextInt(6).toLong, rng.nextLong(1000)))
    (1 to 3).foreach { run =>
      val t = s"swap_model_test_$run"
      // model state: the rows the live table must serve
      var model: Seq[(Long, Long)] = freshRows()
      Sources.swapBucketed(frame(model), t, Seq("a"), nBuckets)
      try {
        (1 to 12).foreach { step =>
          rng.nextInt(4) match {
            case 0 => // swap: full replacement, possibly derived
              model = freshRows()
              Sources.swapBucketed(frame(model), t, Seq("a"), nBuckets)
            case 1 => // append into the CURRENT version
              val extra = freshRows()
              model = model ++ extra
              Sources.appendBucketed(frame(extra), t, Seq("a"), nBuckets)
            case 2 => // compaction: layout maintenance, content-neutral
              Sources.compactBucketed(spark, t, Seq("a"), nBuckets)
            case 3 => // crash orphan: a completed-but-unflipped next
              // version must stay invisible until reclaimed
              val orphanV =
                Sources.currentVersion(spark, t).getOrElse(0) + 1
              Sources.writeBucketed(
                frame(freshRows()).repartition(nBuckets, col("a")),
                s"${t}__v$orphanV", Seq("a"), nBuckets)
          }
          val served = spark.table(t).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
          assert(served == model.sorted,
            s"run $run step $step: served content diverged from the model")
          assert(Sources.currentVersion(spark, t).isDefined,
            s"run $run step $step: pointer lost")
        }
      } finally Sources.dropVersioned(spark, t)
    }
  }

  test("version pointer resolves across sessions: a FRESH session " +
    "(new relation cache, shared catalog — the restart shape) sees the " +
    "committed version, reads as-of, and its swaps continue the chain") {
    val nBuckets = 2
    def df(v: Long) = (0L until 8L).map(i => (i % 2, v)).toDF("a", "b")
    Sources.swapBucketed(df(1), "swap_xsession_test", Seq("a"), nBuckets)
    Sources.swapBucketed(df(2), "swap_xsession_test", Seq("a"), nBuckets)
    try {
      // newSession: fresh SessionState (catalog wrapper, relation
      // cache, conf) over the SHARED external catalog — the same
      // relationship a restarted driver has to a persistent metastore
      val s2 = spark.newSession()
      assert(s2.catalog.tableExists("swap_xsession_test"),
        "restarted session must find the pointer — absence would make " +
          "a must-not-reset caller silently restart from empty")
      assert(Sources.currentVersion(s2, "swap_xsession_test").contains(2))
      assert(s2.table("swap_xsession_test")
        .select(col("b")).distinct().collect().map(_.getLong(0)).toSet
        == Set(2L))
      assert(Sources.readVersion(s2, "swap_xsession_test", 1)
        .select(col("b")).distinct().collect().map(_.getLong(0)).toSet
        == Set(1L), "as-of read must work from the fresh session")
      // and the fresh session's own swap continues the version chain
      Sources.swapBucketed(
        s2.table("swap_xsession_test")
          .select(col("a"), (col("b") + 1L).as("b")),
        "swap_xsession_test", Seq("a"), nBuckets)
      assert(Sources.currentVersion(spark, "swap_xsession_test").contains(3),
        "original session must see the fresh session's swap")
      assert(spark.table("swap_xsession_test")
        .select(col("b")).distinct().collect().map(_.getLong(0)).toSet
        == Set(3L))
    } finally Sources.dropVersioned(spark, "swap_xsession_test")
  }

  test("swapBucketed sweeps a dead session's stale files when the " +
    "catalog has forgotten the table (ephemeral-catalog re-run case)") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    // simulate: catalog knows nothing, but files sit at the FIRST
    // VERSION's managed location (where a fresh swap will write) —
    // the state a fresh driver inherits from a crashed predecessor
    // against a persistent warehouse dir
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        TableIdentifier("stars_stale_test__v1")))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    val stale = new org.apache.hadoop.fs.Path(loc, "stale.parquet")
    fs.create(stale).close()
    try {
      assert(!spark.catalog.tableExists("stars_stale_test"))
      Sources.swapBucketed((0L until 16L).map(i => (i % 4, i))
        .toDF("a", "b"), "stars_stale_test", Seq("a"), 2)
      // the swap must have vacated the stale location and serve
      // exactly the new rows
      assert(spark.table("stars_stale_test").count() == 16)
      assert(!fs.exists(stale), "dead session's file survived the swap")
    } finally Sources.dropVersioned(spark, "stars_stale_test")
  }

  test("concurrent writers serialize within the driver: appends racing " +
    "compactions on one versioned table lose no rows and raise no errors") {
    val nBuckets = 4
    val rowsEach = 8L
    // seed through the append path itself: creation + pointer flip
    Sources.appendBucketed(
      (0L until rowsEach).map(i => (i, -1L)).toDF("k", "batch"),
      "writer_race_test", Seq("k"), nBuckets)
    try {
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val nAppenders = 3
      val appendsEach = 2
      // without the per-table writer lock this interleaving loses
      // appends silently: a compaction lists the current version's
      // files, an append lands a new file in that same version, the
      // compaction's swap flips the pointer to a rewrite that never
      // saw the appended file — rows gone, no error raised
      val appenders = (0 until nAppenders).map { t =>
        new Thread(() => {
          try {
            (0 until appendsEach).foreach { b =>
              Sources.appendBucketed(
                (0L until rowsEach)
                  .map(i => (i, (t * appendsEach + b).toLong))
                  .toDF("k", "batch"),
                "writer_race_test", Seq("k"), nBuckets)
            }
          } catch { case x: Throwable => failures.add(x) }
        })
      }
      val compactor = new Thread(() => {
        try {
          (0 until 2).foreach { _ =>
            Sources.compactBucketed(
              spark, "writer_race_test", Seq("k"), nBuckets)
          }
        } catch { case x: Throwable => failures.add(x) }
      })
      (appenders :+ compactor).foreach(_.start())
      (appenders :+ compactor).foreach(_.join(180000))
      assert(failures.isEmpty,
        s"concurrent writers failed: ${failures.peek()}")
      // conservation: the seed batch plus every appended batch is
      // present COMPLETE — no batch lost to a compaction flip, none
      // duplicated by a retried write
      val perBatch = spark.table("writer_race_test")
        .groupBy(col("batch")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expectedBatches =
        (-1L until (nAppenders * appendsEach).toLong).toSet
      assert(perBatch.keySet == expectedBatches,
        s"batches lost or invented: ${perBatch.keySet} vs $expectedBatches")
      assert(perBatch.values.forall(_ == rowsEach),
        s"partial batch survived the race: $perBatch")
      // the chain stayed a consistent versioned table throughout
      assert(Sources.currentVersion(spark, "writer_race_test").isDefined)
    } finally Sources.dropVersioned(spark, "writer_race_test")
  }

  test("the writer lock normalizes identifiers: a database-qualified " +
    "name, a bare name under currentDatabase, and a case variant all " +
    "contend on ONE monitor") {
    // the mutual-exclusion guarantee is only as strong as the lock
    // KEY: before normalization, "default.t" and "t" (with
    // currentDatabase=default) hashed to different monitors and two
    // mutators of the same table ran concurrently — exactly the
    // lost-append interleaving the lock exists to prevent. Detect
    // overlap directly: every body marks itself inside a critical
    // section; any second entrant while one is inside is a distinct
    // monitor leaking through.
    // NOT vacuously passable: a body that never runs (lock-key
    // resolution throwing) or a deadlocked join both leave
    // overlap=false, so the test also requires all three bodies to
    // have ENTERED and all three threads to have TERMINATED, and
    // propagates any in-thread exception.
    val inside = new java.util.concurrent.atomic.AtomicBoolean(false)
    val overlap = new java.util.concurrent.atomic.AtomicBoolean(false)
    val entered = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val db = spark.catalog.currentDatabase
    val names = Seq(s"$db.lock_norm_t", "lock_norm_t", "LOCK_NORM_T")
    val threads = names.map { n =>
      new Thread(() =>
        try Sources.withTableLock(spark, n) {
          entered.incrementAndGet()
          if (!inside.compareAndSet(false, true)) overlap.set(true)
          Thread.sleep(100)
          inside.set(false)
        } catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(30000))
    assert(failures.isEmpty,
      s"a lock body threw: ${Option(failures.peek()).map(_.toString)}")
    assert(threads.forall(!_.isAlive),
      "a lock variant deadlocked — join timed out with the thread alive")
    assert(entered.get == names.length,
      s"only ${entered.get} of ${names.length} lock bodies ran")
    assert(!overlap.get,
      "qualified/bare/case-variant names of one table took distinct " +
        "writer locks — identifier normalization is broken")
  }

  test("schema evolution rides the version chain: a swap to a wider " +
    "schema serves the new column through the pointer, as-of reads " +
    "keep each version's own schema, and a narrowing swap never " +
    "rewrites history") {
    // the table-format question every long-lived ingest eventually
    // asks: columns get added (and dropped) across the table's life;
    // with versioned physical tables behind one pointer view the
    // answer should be structural — each version IS its own schema —
    // but nothing pinned it until now
    try {
      Sources.appendBucketed(
        Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
        "schema_evo_t", Seq("k"), 4)
      val widened = spark.table("schema_evo_t")
        .withColumn("score", col("k") * 10)
      Sources.swapBucketed(widened, "schema_evo_t", Seq("k"), 4)
      val now = spark.table("schema_evo_t")
      assert(now.columns.toSeq == Seq("k", "v", "score"),
        "pointer view does not serve the widened schema")
      assert(now.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        == Map(1L -> 10L, 2L -> 20L))
      // as-of: the PRE-evolution version still reads with ITS schema
      val v1 = Sources.readVersion(spark, "schema_evo_t", 1)
      assert(v1.columns.toSeq == Seq("k", "v"),
        "as-of read leaked the evolved schema into an old version")
      // narrowing: drop a column going forward; the retained wider
      // version is untouched (history is immutable, only the pointer
      // moves)
      Sources.swapBucketed(
        spark.table("schema_evo_t").drop("v"),
        "schema_evo_t", Seq("k"), 4)
      assert(spark.table("schema_evo_t").columns.toSeq == Seq("k", "score"))
      assert(Sources.readVersion(spark, "schema_evo_t", 2).columns.toSeq
        == Seq("k", "v", "score"),
        "narrowing swap rewrote the retained version's schema")
    } finally Sources.dropVersioned(spark, "schema_evo_t")
  }

  test("cross-driver lost-update detector: a swap whose base version " +
    "moved underneath it aborts loudly and never flips over the " +
    "foreign commit") {
    val nBuckets = 2
    def content(v: Long) = (0L until 8L).map(i => (i % 4, v)).toDF("a", "b")
    Sources.swapBucketed(content(1L), "stale_swap_test", Seq("a"), nBuckets)
    try {
      // replay the cross-driver interleaving through the commit seam:
      // writers A and B both derive from v1 and both materialize __v2
      // (writeBucketed's drop-then-overwrite means B's bytes stand) —
      // then B commits first
      Sources.writeBucketed(
        content(999L).repartition(nBuckets, col("a")),
        "stale_swap_test__v2", Seq("a"), nBuckets)
      Sources.commitSwap(spark, "stale_swap_test",
        expected = Some(1), next = 2, dropLegacyPlain = false)
      assert(Sources.currentVersion(spark, "stale_swap_test").contains(2))
      // A's commit must detect the moved pointer and abort — flipping
      // would be a no-op here (same number) but in general discards
      // B's update; the live pointer and B's files stay untouched
      val ex = intercept[Sources.ConcurrentSwapException] {
        Sources.commitSwap(spark, "stale_swap_test",
          expected = Some(1), next = 2, dropLegacyPlain = false)
      }
      assert(ex.getMessage.contains("another writer"))
      assert(Sources.currentVersion(spark, "stale_swap_test").contains(2))
      assert(spark.table("stale_swap_test")
        .select(col("b")).distinct().collect().map(_.getLong(0)).toSet
        == Set(999L), "the committed version's content must survive")
      // and a detector firing with a DIFFERENT number leaves the
      // orphan unreclaimed for the established sweep paths: versions
      // are never deleted on the abort path
      Sources.writeBucketed(
        content(7L).repartition(nBuckets, col("a")),
        "stale_swap_test__v3", Seq("a"), nBuckets)
      intercept[Sources.ConcurrentSwapException] {
        Sources.commitSwap(spark, "stale_swap_test",
          expected = Some(1), next = 3, dropLegacyPlain = false)
      }
      assert(Sources.tableVersions(spark, "stale_swap_test") == Seq(1, 2, 3),
        "abort must not delete any version")
      assert(Sources.currentVersion(spark, "stale_swap_test").contains(2))
      // the next legitimate swap re-derives from the live pointer and
      // its sweep reclaims the unflipped orphan
      Sources.swapBucketed(
        spark.table("stale_swap_test")
          .select(col("a"), (col("b") + 1L).as("b")),
        "stale_swap_test", Seq("a"), nBuckets)
      assert(Sources.currentVersion(spark, "stale_swap_test").contains(3))
      assert(spark.table("stale_swap_test")
        .select(col("b")).distinct().collect().map(_.getLong(0)).toSet
        == Set(1000L), "recovery swap must derive from the committed state")
    } finally Sources.dropVersioned(spark, "stale_swap_test")
  }
}
