package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantics of the dedup/similarity operators on seeded data where
  * ground truth is known — the paths the DuckDB oracle can't check
  * (LSH candidate generation, IVF probe search recall).
  */
class PipelineOpsSpec extends SparkSpec {

  import spark.implicits._

  /** Near-dup pair (0,1): one token changed out of 40; doc 2 unrelated. */
  private lazy val docs: DataFrame = {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok7", "changed")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    Seq((0L, base), (1L, nearDup), (2L, other)).toDF("doc_id", "text")
  }

  test("jaccard pairs find the near-dup and nothing else") {
    val pairs = DedupOps.jaccardPairs(docs, minInter = 2).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("a") == 0L && p.getAs[Long]("b") == 1L)
    // 38 shingles each, 3 shingles touch the changed token → 35 shared
    assert(p.getAs[Long]("inter") == 35L)
    assert(p.getAs[Double]("jaccard") > 0.8)
  }

  test("spread() fans out single-file scans but leaves parallel input untouched") {
    val parallelism = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    spark.range(100).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val one = spark.read.parquet(dir)
    assert(one.rdd.getNumPartitions == 1) // the trap spread() exists for
    assert(DedupOps.spread(one).rdd.getNumPartitions == parallelism)
    // derived in-memory input has no scan leaves: passes through AS-IS
    val many = spark.range(100).toDF("doc_id").repartition(parallelism * 2)
    assert(DedupOps.spread(many) eq many)
    // a scan whose byte math yields enough splits AND whose files
    // carry enough ROW GROUPS passes through with NO extra exchange
    // (the 100 TB case). The fixture forces many row groups via a
    // tiny parquet block size — a row group per handful of rows.
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    val multiRgDir =
      java.nio.file.Files.createTempDirectory("graft_spread_rg").toString
    spark.range(20000).toDF("doc_id")
      .withColumn("pad", org.apache.spark.sql.functions.lpad(
        col("doc_id").cast("string"), 200, "x"))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "4096")
      .option("parquet.page.size", "1024")
      .parquet(multiRgDir)
    try {
      spark.conf.set(key, "16")
      val wide = spark.read.parquet(multiRgDir)
      assert(DedupOps.spread(wide) eq wide)
      // ...but a SINGLE-row-group file is ONE reader task whatever
      // the byte math claims (a row group belongs to exactly one
      // split by its midpoint — the r21 openCost lesson): the
      // row-group cap overrides the byte estimate and the
      // repartition fires
      val oneRg = spark.read.parquet(dir)
      assert(DedupOps.spread(oneRg).rdd.getNumPartitions == parallelism,
        "single-row-group file must repartition even when byte math " +
          "claims enough splits")
    } finally spark.conf.set(key, prev)
    // the r17 LogicalRDD path: a 1-partition pinned frame — the shape
    // foreachBatch hands a trigger's slice in — fans out (the stream
    // dedup gates' 1.2-1.8 s/trigger single-core banding trap)...
    val pinnedOne = spark.range(100).toDF("doc_id").coalesce(1)
      .localCheckpoint()
    assert(pinnedOne.rdd.getNumPartitions == 1)
    assert(DedupOps.spread(pinnedOne).rdd.getNumPartitions == parallelism)
    // ...while an already-parallel LogicalRDD passes through AS-IS
    val pinnedMany = spark.range(100).toDF("doc_id")
      .repartition(parallelism * 2).localCheckpoint()
    assert(DedupOps.spread(pinnedMany) eq pinnedMany)
  }

  test("the row-group memo re-reads a footer once the file's " +
    "modification time moves, even at the same length") {
    import java.nio.file.{Files, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_rg_memo")
    val target = dir.resolve("data.parquet")
    // overwrite `target` in place with a file of `blockSize` row
    // groups, stamped with modification time `modified`
    def place(blockSize: String, modified: Long): Long = {
      val out = dir.resolve("w")
      spark.range(20000).toDF("doc_id")
        .withColumn("pad", org.apache.spark.sql.functions.lpad(
          col("doc_id").cast("string"), 200, "x"))
        .coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", blockSize)
        .parquet(out.toString)
      val part = graft.Harness.listDir(out)
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(modified))
      Files.size(target)
    }
    try {
      val len = place("4096", 1000000L)
      val many = DedupOps.parquetRowGroups(spark, target.toString, len, 1000000L).get
      assert(many > 1)
      place((128L << 20).toString, 2000000L)
      // the old key still hits the memo...
      assert(DedupOps.parquetRowGroups(spark, target.toString, len, 1000000L)
        .contains(many))
      // ...while the same (path, length) at the new modification time
      // reads the overwritten file's footer
      assert(DedupOps.parquetRowGroups(spark, target.toString, len, 2000000L)
        .contains(1L))
    } finally graft.Harness.rmTree(dir)
  }

  test("the row-group memo stays within its cap and still counts " +
    "correctly once filled past it") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_rg_cap")
    def file(name: String, blockSize: String): (String, Long) = {
      val out = dir.resolve(name)
      spark.range(20000).toDF("doc_id")
        .withColumn("pad", org.apache.spark.sql.functions.lpad(
          col("doc_id").cast("string"), 200, "x"))
        .coalesce(1).write.option("parquet.block.size", blockSize)
        .parquet(out.toString)
      val part = graft.Harness.listDir(out)
        .find(_.getFileName.toString.endsWith(".parquet")).get
      (part.toString, Files.size(part))
    }
    try {
      val (many, manyLen) = file("many", "4096")
      val (one, oneLen) = file("one", (128L << 20).toString)
      val manyGroups = DedupOps.parquetRowGroups(spark, many, manyLen, 1L).get
      assert(manyGroups > 1)
      // distinct modification times make distinct keys over one file
      (0 to DedupOps.RowGroupMemoCap + 10).foreach { m =>
        assert(DedupOps.parquetRowGroups(spark, one, oneLen, m.toLong)
          .contains(1L))
        assert(DedupOps.rowGroupCounts.size <= DedupOps.RowGroupMemoCap)
      }
      // the first key was emptied out with the rest, and reads again
      assert(DedupOps.parquetRowGroups(spark, many, manyLen, 1L)
        .contains(manyGroups))
      assert(DedupOps.parquetRowGroups(spark, one, oneLen, 0L).contains(1L))
    } finally graft.Harness.rmTree(dir)
  }

  test("spreadPairs spreads a near-duplicate hub key instead of " +
    "funnelling it to one partition") {
    import spark.implicits._
    // a hub: doc 1 pairs with 4000 others (one doc in most candidate
    // pairs — syndicated boilerplate), plus a background of ordinary
    // pairs. Keyed on `a` alone this funnels 4000 verify rows into
    // ONE partition (guide §2.5); the salted key must spread them.
    val hub = (2L to 4001L).map(b => (1L, b))
    val rest = (5000L to 5499L).map(i => (i, i + 10000L))
    val pairs = (hub ++ rest).toDF("a", "b")
    val spreadDf = DedupOps.spreadPairs(pairs)
    val sizes = spreadDf
      .groupBy(org.apache.spark.sql.functions.spark_partition_id())
      .count().collect().map(_.getLong(1))
    val hubShare = sizes.max.toDouble / (hub.size + rest.size)
    assert(hubShare < 0.5,
      s"hub key still funnels: max partition holds ${sizes.max} of " +
        s"${hub.size + rest.size} pairs")
    // deterministic partitioning (never rand-derived): same input,
    // same assignment — and no pair lost or duplicated
    assert(spreadDf.count() === pairs.count())
    assert(DedupOps.spreadPairs(pairs)
      .groupBy(org.apache.spark.sql.functions.spark_partition_id())
      .count().collect().map(_.getLong(1)).sorted.toSeq ===
      sizes.sorted.toSeq)
  }

  test("minhash LSH candidates find the near-dup pair, not the unrelated doc") {
    val cands = DedupOps.lshCandidatePairs(docs).collect()
    assert(cands.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
  }

  test("identical docs collide on every band; disjoint docs on none") {
    val dup = Seq((10L, "a b c d e f"), (11L, "a b c d e f"),
      (12L, "x y z w v u")).toDF("doc_id", "text")
    val bands = DedupOps.minhashBands(dup)
    val collisions = bands.groupBy("band", "bucket")
      .agg(collect_set("doc_id").as("ids"))
      .filter(size(col("ids")) > 1).collect()
    assert(collisions.length == DedupOps.NumBands)
    collisions.foreach(r =>
      assert(r.getAs[Seq[Long]]("ids").toSet == Set(10L, 11L)))
  }

  test("incremental candidates equal full-recompute candidates restricted to the new slice") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val split = 400L
    val existing = docs.filter($"doc_id" < split)
    val fresh = docs.filter($"doc_id" >= split)
    val incremental = DedupOps.incrementalCandidatePairs(
      DedupOps.minhashBands(existing), fresh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = DedupOps.lshCandidatePairs(docs)
      .filter($"b" >= split)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incremental == full)
    assert(incremental.nonEmpty)
  }

  test("dup clusters: transitive chain collapses to one component, min-id label") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val b = base.replace("tok5", "chg5")
    val c = b.replace("tok35", "chg35") // near b; 2 tokens from base
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val d = Seq((7L, base), (8L, b), (9L, c), (99L, other)).toDF("doc_id", "text")
    val m = MinLabelClusters.dupClusters(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 9 connects to 7 only THROUGH 8 — component labeling must be
    // transitive, and the singleton keeps itself
    assert(m == Map(7L -> 7L, 8L -> 7L, 9L -> 7L, 99L -> 99L), m.toString)
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    def hamming(a: Int, b: Int): Int = Integer.bitCount(a ^ b)
    val m = DedupOps.simhash16(docs).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hamming(m(0L), m(1L)) <= 4)
    assert(hamming(m(0L), m(2L)) > hamming(m(0L), m(1L)))
  }

  /** Clustered vectors: 4 clusters of 25 around orthogonal-ish seeded
    * directions, plus per-vector deterministic noise. */
  private lazy val vectors: DataFrame = {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 4; i <- 0 until 25) yield {
      val noise = Array.fill(dim)((rnd.nextGaussian() * 0.15).toFloat)
      val v = centers(c).zip(noise).map { case (a, b) => a + b }
      (c * 25L + i, v, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("brute-force top-k neighbors come from the query's own cluster") {
    val probes = vectors.filter($"vec_id".isin(0L, 25L, 50L, 75L))
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val topk = SimilarityOps.bruteForceTopK(vectors, probes, 5)
    val joined = topk.join(
      vectors.select($"vec_id".as("neighbor_id"), $"label".as("n_label")),
      "neighbor_id")
    joined.collect().foreach { r =>
      assert(r.getAs[Int]("n_label") == (r.getAs[Long]("query_id") / 25).toInt,
        s"neighbor from wrong cluster: $r")
    }
  }

  test("IVF search with nprobe=1 matches brute force on clustered data") {
    val centroids = vectors.filter($"vec_id" % 25 === 0)
      .select(($"vec_id" / 25).cast("long").as("centroid_id"),
        $"embedding".as("cv"))
    val probes = vectors.filter($"vec_id".isin(3L, 31L, 62L, 99L))
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val exact = SimilarityOps.bruteForceTopK(vectors, probes, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivf = SimilarityOps.ivfSearch(vectors, centroids, probes, nprobe = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // well-separated clusters ⇒ recall@3 = 1.0 even probing one cell
    assert(ivf == exact)
  }

  // the gate family serves TRAINED centroids; the seeded run here is
  // the recall FLOOR the trained-vs-seeded telemetry below compares to
  test("seed-centroid IVF search (nprobe=2/8) reports the recall floor " +
    "vs exact top-k") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val probes = emb.filter($"vec_id" < SimilarityOps.NumProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val centroids = emb.filter($"vec_id" < SimilarityOps.NumCentroids)
      .select($"vec_id".as("centroid_id"), $"embedding".as("cv"))
    def keys(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keys(SimilarityOps.bruteForceTopK(emb, probes, SimilarityOps.TopK))
    val ivf = keys(SimilarityOps.ivfSearch(emb, centroids, probes,
      SimilarityOps.NumProbeCells, SimilarityOps.TopK))
    val recall = (ivf intersect exact).size.toDouble / exact.size
    info(f"q_sim_ivf_search recall@${SimilarityOps.TopK} vs q_sim_cosine_topk = $recall%.2f " +
      f"(scanning ~${SimilarityOps.NumProbeCells * 100 / SimilarityOps.NumCentroids}%% of the corpus)")
    // isotropic random corpus + untrained seed centroids is the recall
    // floor; data is fixed so this is deterministic, not flaky
    assert(recall >= 0.2, f"recall $recall%.2f")
    assert(ivf.size == exact.size)
  }

  test("trained-centroid stored serve (q_ann_trained_serve) equals the " +
    "in-memory ivfSearch on the trained centroids; trained-vs-seeded " +
    "recall reported vs exact top-k") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables(spark, sf, "embeddings")
    val probes = emb.filter($"vec_id" < SimilarityOps.NumProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    try {
      val served = graft.SparkEntry.queries("q_ann_trained_serve")(spark, sf)
        .collect().map(_.toSeq).toSet
      val trained = SimilarityOps.ivfTrainQuantized(emb,
        SimilarityOps.NumCentroids, SimilarityOps.IvfTrainGateIters)
      val inMem = SimilarityOps.ivfSearch(emb, trained, probes,
        SimilarityOps.NumProbeCells, SimilarityOps.TopK)
        .collect().map(_.toSeq).toSet
      assert(served == inMem,
        "stored trained-centroid serve diverged from the in-memory search")
      assert(served.nonEmpty)
      // recall telemetry: the reason to train at all. Fixed data ⇒
      // deterministic, not flaky; isotropic noise keeps both low.
      def keys(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = keys(SimilarityOps.bruteForceTopK(emb, probes, SimilarityOps.TopK))
      val seeded = keys(SimilarityOps.ivfSearch(emb,
        emb.filter($"vec_id" < SimilarityOps.NumCentroids)
          .select($"vec_id".as("centroid_id"), $"embedding".as("cv")),
        probes, SimilarityOps.NumProbeCells, SimilarityOps.TopK))
      val trainedKeys = served.map(r =>
        (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      val rTrained = (trainedKeys intersect exact).size.toDouble / exact.size
      val rSeeded = (seeded intersect exact).size.toDouble / exact.size
      info(f"recall@${SimilarityOps.TopK}: trained=$rTrained%.2f " +
        f"seeded=$rSeeded%.2f (nprobe=${SimilarityOps.NumProbeCells}/${SimilarityOps.NumCentroids})")
      assert(rTrained >= 0.2, f"trained recall $rTrained%.2f")
    } finally spark.sql("DROP TABLE IF EXISTS graft_ivf_trained")
  }

  test("IVF assignment puts every vector in its own cluster's cell") {
    val centroids = vectors.filter($"vec_id" % 25 === 0)
      .select(($"vec_id" / 25).cast("long").as("centroid_id"),
        $"embedding".as("cv"))
    val assign = SimilarityOps.ivfAssign(vectors, centroids)
      .join(vectors.select($"vec_id", $"label"), "vec_id")
    val wrong = assign.filter($"centroid_id" =!= $"label".cast("long")).count()
    assert(wrong == 0)
  }

  test("custom CosineSimilarity expression is bit-identical to the " +
    "zip_with/aggregate composition (codegen and interpreted)") {
    import graft.functions.{CosineSimilarity, TextVec}
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val a = emb.select($"vec_id".as("a"), $"embedding".as("va"))
    val b = emb.select($"vec_id".as("b"), $"embedding".as("vb"))
    val pairs = a.join(b, $"a" =!= $"b").limit(2000)
    val both = pairs.select(
      CosineSimilarity(spark, $"va", $"vb").as("fast"),
      TextVec.cosine($"va", $"vb").as("slow"))
    assert(both.filter($"fast" =!= $"slow").count() == 0)
    // SQL surface too
    emb.createOrReplaceTempView("emb_cos_test")
    val viaSql = spark.sql(
      """SELECT graft_cosine_sim(x.embedding, y.embedding) AS c
        |FROM emb_cos_test x JOIN emb_cos_test y ON x.vec_id = 0 AND y.vec_id = 1""".stripMargin)
      .collect()(0).getDouble(0)
    assert(math.abs(viaSql) <= 1.0)
    // corrupt-embedding guards: a NULL ELEMENT inside either array
    // null-propagates (like the zip_with form) instead of reading an
    // undefined slot into the score; zero norms and length mismatch
    // too — exercised through BOTH the codegen'd projection and a
    // local-relation eval
    import graft.functions.CosineSimilarity
    val cases = Seq(
      (Array[java.lang.Float](1f, null, 2f, 1f), Array[java.lang.Float](1f, 2f, 3f, 1f)),
      (Array[java.lang.Float](1f, 2f, 3f, 1f), Array[java.lang.Float](1f, null, 2f, 1f)),
      (Array[java.lang.Float](0f, 0f, 0f, 0f), Array[java.lang.Float](1f, 2f, 3f, 1f)),
      (Array[java.lang.Float](1f, 2f, 3f), Array[java.lang.Float](1f, 2f, 3f, 1f)))
    val guarded = cases.toDF("ga", "gb")
      .select(CosineSimilarity(spark, $"ga".cast("array<float>"),
        $"gb".cast("array<float>")).as("c"))
      .collect()
    assert(guarded.forall(_.isNullAt(0)),
      s"corrupt inputs must yield NULL, got: ${guarded.mkString(",")}")
  }

  test("salted join equals plain join on skewed keys and spreads the hot key") {
    // 10k rows of one hot key + a sprinkle of others
    val big = spark.range(10000).select(lit("hot").as("k"), $"id".as("payload"))
      .union(spark.range(50).select(concat(lit("k"), $"id" % 7).as("k"), $"id"))
    val small = Seq(("hot", 1), ("k1", 2), ("k3", 3)).toDF("k", "v")
    val plain = big.join(small, "k")
    val salted = SkewJoin.saltedJoin(big, small, "k", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
    // the hot key really lands in multiple salt buckets
    val buckets = big.withColumn("_salt",
      pmod(monotonically_increasing_id(), lit(8L)).cast("int"))
      .filter($"k" === "hot").select("_salt").distinct().count()
    assert(buckets > 1)
  }

  test("reservoir sample: partition-invariant, size-capped, exact for small groups") {
    import graft.functions.ReservoirSample
    val data = (1 to 100).map(i => (s"g${i % 3}", s"v$i")).toDF("g", "v")
    def run(parts: Int) =
      data.repartition(parts).groupBy($"g")
        .agg(ReservoirSample(spark, $"v", 5).as("s"))
        .collect().map(r => r.getString(0) -> r.getAs[scala.collection.Seq[String]]("s").toList).toMap
    val a = run(1)
    val b = run(7)
    assert(a == b, "sample must not depend on partitioning")
    assert(a.values.forall(_.size == 5))
    assert(a.values.forall(_.forall(_.startsWith("v"))))
    // group smaller than k → the whole group, sorted
    val small = Seq(("g", "b"), ("g", "a")).toDF("g", "v")
      .groupBy($"g").agg(ReservoirSample(spark, $"v", 5).as("s"))
      .collect()(0).getAs[scala.collection.Seq[String]]("s").toList
    assert(small == List("a", "b"))
    // duplicate input values occupy ONE slot, not several: the sample
    // is of DISTINCT values ("occurrence counts don't change
    // selection") — without the set semantics a repeated value would
    // crowd genuinely distinct values out of the k-buffer
    val dups = (Seq.fill(50)("a") ++ Seq("b")).map(("g", _)).toDF("g", "v")
      .repartition(7)
      .groupBy($"g").agg(ReservoirSample(spark, $"v", 2).as("s"))
      .collect()(0).getAs[scala.collection.Seq[String]]("s").toList
    assert(dups == List("a", "b"),
      s"duplicates crowded out a distinct value: $dups")
  }

  test("native reservoir aggregate is VALUE-IDENTICAL to the udaf " +
    "Aggregator it replaces (deterministic sample, every group)") {
    import graft.functions.{ReservoirSample, ReservoirSampleUdaf}
    import org.apache.spark.sql.Encoders
    // same priority function + same set semantics ⇒ same membership,
    // not just the same guarantees — the determinism makes the strong
    // pin possible where the MG sketch needed a state-machine replay
    val viaUdaf = org.apache.spark.sql.functions.udaf(
      new ReservoirSampleUdaf(3, 7L), Encoders.STRING)
    val data = (1 to 200).map(i => (s"g${i % 5}", s"v${i % 60}"))
      .toDF("g", "v").repartition(6)
    val n = data.groupBy($"g")
      .agg(ReservoirSample(spark, $"v", 3, 7L).as("s"))
      .collect().map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[String]]("s").toList).toMap
    val u = data.groupBy($"g").agg(viaUdaf($"v").as("s"))
      .collect().map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[String]]("s").toList).toMap
    assert(n == u)
    assert(n.keySet.size == 5 && n.values.forall(_.size == 3))
  }

  test("bounded top-k aggregator matches window row_number exactly") {
    import graft.functions.TopK
    import org.apache.spark.sql.expressions.Window
    val orders = graft.Tables(spark, "/root/testdata/sf0.001", "orders")
    val viaAgg = TopK.perKey(orders, "o_custkey", "o_totalprice", "o_orderkey", 3)
      .select($"o_custkey", $"o_orderkey", $"rnk")
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val viaWindow = orders
      .select($"o_custkey", $"o_orderkey", row_number().over(w).as("rnk"))
      .filter($"rnk" <= 3)
    assert(viaAgg.count() == viaWindow.count())
    assert(viaAgg.exceptAll(viaWindow).count() == 0)
    assert(viaWindow.exceptAll(viaAgg).count() == 0)
  }

  test("top-k aggregator matches the window form on null and NaN " +
    "scores: NaN ranks first, nulls fill the tail only under k") {
    import graft.functions.TopK
    import org.apache.spark.sql.expressions.Window
    // g1: NaN must outrank every real score (Spark sorts NaN above
    //     all doubles in DESC) and k=3 cuts the null out entirely.
    // g2: 2 real scores + 2 nulls, k=3 → one null survives at rank 3,
    //     with the id-ASC tie-break choosing WHICH null.
    // g3: all-null scores → ranks are pure id order.
    // Spread across 7 partitions so partial-buffer merge paths run.
    val rows = Seq[(String, java.lang.Double, Long)](
      ("g1", 1.0, 10L), ("g1", Double.NaN, 11L), ("g1", 2.0, 12L),
      ("g1", null, 13L),
      ("g2", 0.5, 20L), ("g2", null, 23L), ("g2", 0.7, 21L),
      ("g2", null, 22L),
      ("g3", null, 31L), ("g3", null, 30L), ("g3", null, 32L))
      .toDF("g", "score", "id").repartition(7)
    val viaAgg = TopK.perKey(rows, "g", "score", "id", 3)
      .select($"g", $"id", $"score", $"rnk")
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id")
    val viaWindow = rows
      .select($"g", $"id", $"score", row_number().over(w).as("rnk"))
      .filter($"rnk" <= 3)
    assert(viaAgg.exceptAll(viaWindow).count() == 0 &&
      viaWindow.exceptAll(viaAgg).count() == 0, {
        val a = viaAgg.orderBy($"g", $"rnk").collect().mkString(", ")
        val b = viaWindow.orderBy($"g", $"rnk").collect().mkString(", ")
        s"agg: $a\nwin: $b"
      })
    // the g1 winner really is the NaN row, spelled out
    val g1 = viaAgg.filter($"g" === "g1" && $"rnk" === 1).collect()(0)
    assert(g1.getLong(1) == 11L && g1.getDouble(2).isNaN)
    // g2's rank-3 is the SMALLER null id
    val g2 = viaAgg.filter($"g" === "g2" && $"rnk" === 3).collect()(0)
    assert(g2.getLong(1) == 22L && g2.isNullAt(2))
  }

  test("binned range join equals the nested-loop theta join, without BNLJ") {
    val ranges = Seq((1L, 0.0, 10.0), (2L, 5.0, 7.0), (3L, 90.0, 120.0))
      .toDF("range_id", "lo", "hi")
    val points = (0 until 200).map(i => (i.toLong, i * 0.7)).toDF("point_id", "p")
    val naive = ranges.crossJoin(points)
      .filter($"p" >= $"lo" && $"p" <= $"hi")
      .select($"range_id", $"point_id")
    val binned = RangeJoin.binned(ranges, "lo", "hi", points, "p", binWidth = 8.0)
      .select($"range_id", $"point_id")
    assert(binned.count() == naive.count())
    assert(binned.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(binned).count() == 0)
    val plan = RangeJoin.binned(ranges, "lo", "hi", points, "p", 8.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("IVF training recovers the true cluster structure") {
    val trained = SimilarityOps.ivfTrainQuantized(vectors, k = 4, iters = 3)
    assert(trained.count() == 4)
    // after training, assignment must be exactly the label partition
    val assign = SimilarityOps.ivfAssign(vectors, trained)
      .join(vectors.select($"vec_id", $"label"), "vec_id")
    val purity = assign.groupBy($"centroid_id")
      .agg(count_distinct($"label").as("n_labels"), count(lit(1)).as("n"))
      .collect()
    assert(purity.length == 4)
    purity.foreach { r =>
      assert(r.getAs[Long]("n_labels") == 1L, s"mixed cell: $r")
      assert(r.getAs[Long]("n") == 25L)
    }
  }

  test("a Lloyd cell reduced to all-null-dimension members keeps its " +
    "previous centroid instead of unboxing the null mean to 0.0f") {
    // Planted 2-D corpus, k=2, iters=2. Seeds are rank-strided:
    // n=4, stride=2 -> v0 and v2 (centroid ids 0 and 2).
    //   iter 1: v0->c0 (cos 1), v1,v2->c2, v3 (null dim0 -> every
    //           cosine null -> lowest-id cell) -> c0.
    //           means: c0 = [avg(1)=1, avg(0,1)=0.5] (avg SKIPS the
    //           null), c2 = [1, 0.15].
    //   iter 2: v0 now prefers c2 ([1,0.15], cos .989) over the
    //           drifted c0 ([1,0.5], cos .894) -> cell 0 = {v3} ONLY
    //           -> its dim-0 mean is avg(null) = NULL. The guard must
    //           keep c0 at [1, 0.5]; the naive getSeq[Float] unbox
    //           would fabricate [0.0, 1.0] silently.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding",
        ArrayType(FloatType, containsNull = true), nullable = false)))
    val emb = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(0L, Seq[Any](1f, 0f)),
        Row(1L, Seq[Any](1f, 0.2f)),
        Row(2L, Seq[Any](1f, 0.1f)),
        Row(3L, Seq[Any](null, 1f)))), schema)
    val cents = SimilarityOps.ivfTrainQuantized(emb, k = 2, iters = 2)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[java.lang.Float](1)).toMap
    assert(cents.keySet == Set(0L, 2L))
    val c0 = cents(0L)
    assert(!c0.contains(null), s"null leaked into the kept centroid: $c0")
    assert(math.abs(c0(0) - 1f) < 1e-6 && math.abs(c0(1) - 0.5f) < 1e-6,
      s"cell 0 should have kept its iter-1 centroid [1, 0.5], got $c0")
    val c2 = cents(2L)
    // iter-2 mean of {v0,v1,v2}: [1, (0 + 0.2 + 0.1)/3]
    assert(math.abs(c2(0) - 1f) < 1e-6 && math.abs(c2(1) - 0.1f) < 1e-5,
      s"cell 2 drifted: $c2")
  }

  test("a null element in a CENTROID frame fails fast instead of " +
    "silently unboxing to a fabricated 0.0f coordinate") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("centroid_id", LongType, nullable = false),
      StructField("cv",
        ArrayType(FloatType, containsNull = true), nullable = false)))
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(0L, Seq[Any](1f, 0f)),
        Row(1L, Seq[Any](null, 1f)))), schema)
    val corpus = Seq((0L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    // ivfBalance is the public surface that collects a caller-supplied
    // centroid frame to driver constants (ivfAssign is the window-form
    // reference and never collects)
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.ivfBalance(corpus, bad).collect()
    }
    assert(e.getMessage.contains("null"), e.getMessage)
  }

  test("embedding near-dup blocks via LSH bands: finds the planted dup, no nested-loop join") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val dup = base.map(x => x * 1.01f) // same signs → same bucket in both bands
    val others = (2L until 40L).map(i => i -> Array.fill(16)(rnd.nextGaussian().toFloat))
    val emb = ((0L -> base) +: (1L -> dup) +: others).toDF("vec_id", "embedding")
    val top = SimilarityOps.cosineNearDupTopN(emb, 1)
    val plan = top.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val r = top.collect()(0)
    assert((r.getLong(0), r.getLong(1)) == (0L, 1L))
    assert(r.getDouble(2) > 0.999)
  }

  test("jaccard stop-shingle cap drops hot shingles but keeps true near-dups") {
    // 20 docs all share one boilerplate opener (a stop-shingle bucket
    // of 20 docs); only docs 0/1 share real content beyond it.
    val boiler = "the quick brown fox jumps"
    val content = (1 to 30).map(i => s"w$i").mkString(" ")
    val rows = Seq(0L -> s"$boiler $content", 1L -> s"$boiler ${content.replace("w7", "x")}") ++
      (2L until 20L).map(i => i -> (s"$boiler " + (1 to 30).map(j => s"u${i}_$j").mkString(" ")))
    val d = rows.toDF("doc_id", "text")
    val pairs = DedupOps.jaccardPairs(d, minInter = 2, maxDf = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)),
      pairs.mkString(", "))
    // uncapped: every boilerplate-sharing pair (190 of them) survives
    // the join; the cap keeps candidate generation sub-quadratic
    val uncapped = DedupOps.jaccardPairs(d, minInter = 2, maxDf = 1000).count()
    assert(uncapped > pairs.length)
  }

  test("approx_percentile stays within its rank-accuracy bound of the exact values") {
    val acc = 1000
    val li = graft.Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val rows = li.groupBy($"l_returnflag").agg(
      sort_array(collect_list($"l_extendedprice")).as("vals"),
      approx_percentile($"l_extendedprice", lit(0.5), lit(acc)).as("a50"),
      approx_percentile($"l_extendedprice", lit(0.99), lit(acc)).as("a99"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vals = r.getAs[scala.collection.Seq[Double]]("vals")
      val n = vals.size
      def assertWithinRankBound(v: Double, p: Double): Unit = {
        val target = math.floor(p * n).toInt
        // ±⌈n/accuracy⌉ ranks plus slack for the floor-vs-nearest rank
        // convention (the GK bound is on rank, not on the index formula)
        val eps = math.ceil(n.toDouble / acc).toInt + 3
        val lo = vals(math.max(0, target - eps))
        val hi = vals(math.min(n - 1, target + eps))
        assert(v >= lo && v <= hi,
          s"approx $v outside rank window [$lo, $hi] (p=$p, n=$n)")
      }
      assertWithinRankBound(r.getAs[Double]("a50"), 0.5)
      assertWithinRankBound(r.getAs[Double]("a99"), 0.99)
    }
  }

  test("approx_count_distinct stays within the HLL relative-error bound of exact") {
    // default rsd = 0.05; the data is fixed, so this is deterministic
    val li = graft.Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val rows = li.groupBy($"l_returnflag").agg(
      countDistinct($"l_partkey").as("exact"),
      approx_count_distinct($"l_partkey").as("approx")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact").toDouble
      val approx = r.getAs[Long]("approx").toDouble
      val rel = math.abs(approx - exact) / exact
      assert(rel <= 0.05 * 3, // 3 sigma of the default 5% rsd
        s"${r.getString(0)}: approx $approx vs exact $exact (rel $rel)")
    }
  }

  test("dup clusters agree with a reference union-find over the candidate pairs") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val pairs = DedupOps.lshCandidatePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = docs.select($"doc_id").collect().map(_.getLong(0))
      .map(id => id -> find(id)).toMap
    val got = MinLabelClusters.dupClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("star contraction and min-label propagation agree on a seeded " +
    "random graph — two algorithms, one fixed point, no fixture bias") {
    import spark.implicits._
    // deterministic pseudo-random edge soup: dense enough for big
    // components, sparse enough for many — shapes neither fixture
    // was hand-built around (paths, stars, forests are covered by
    // the targeted tests; this is the anything-goes case)
    val rnd = new scala.util.Random(0xC0FFEE)
    val edges = Seq.fill(120)((rnd.nextInt(80).toLong,
      rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .toDF("a", "b")
    // -1 forces the distributed rounds: THIS is the adversarial check
    // of the star operators themselves, so the local union-find finish
    // must not stand in for them
    val star = DedupOps.starComponents(edges, localFinishEdges = -1)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference union-find over the same edges
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.collect().map(r => (r.getLong(0), r.getLong(1))).foreach {
      case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = star.keySet.map(v => v -> find(v)).toMap
    assert(star == expect, "star contraction diverged from union-find")
    // idempotence: re-contracting the fixed point's own star edges
    // moves no label
    val again = DedupOps.starComponents(
      star.toSeq.filter(p => p._1 != p._2)
        .map { case (v, c) => (c, v) }.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again.forall { case (v, c) => star.getOrElse(v, v) == c },
      "re-contracting the fixed point moved labels")
  }

  test("star components collapse a long path — the high-diameter case") {
    // 0-1-2-...-40 as a single path: label propagation needs ~40 hops;
    // the alternating star algorithm must still land every node on 0.
    // Distributed rounds forced — the high-diameter behavior of the
    // star operators is exactly what's under test.
    val path = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = DedupOps.starComponents(path, localFinishEdges = -1)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (0L to 40L).map(_ -> 0L).toMap)
  }

  test("star components handle forests and agree on disjoint stars") {
    // two components with interleaved ids + an isolated edge
    val e = Seq((10L, 2L), (2L, 8L), (7L, 3L), (3L, 11L), (20L, 21L))
      .toDF("a", "b")
    val labels = DedupOps.starComponents(e, localFinishEdges = -1)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(2L -> 2L, 8L -> 2L, 10L -> 2L,
      3L -> 3L, 7L -> 3L, 11L -> 3L, 20L -> 20L, 21L -> 20L))
  }

  test("local union-find finish is value-identical to the forced " +
    "distributed star rounds, including the mid-loop handoff") {
    // random soup (arbitrary orientation, duplicates) + a long path +
    // self-loops: everything the two paths could disagree on —
    // orientation handling, dup edges, self-loop dropping, label = min
    val rnd = new scala.util.Random(0xBEEF)
    val soup = Seq.fill(150)((rnd.nextInt(60).toLong,
      rnd.nextInt(60).toLong)) ++
      (100L until 130L).map(i => (i, i + 1)) ++
      Seq((200L, 200L)) // self-loop: neither path may label node 200
    val e = soup.toDF("a", "b")
    def run(th: Long): Map[Long, Long] =
      DedupOps.starComponents(e, localFinishEdges = th).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run(DedupOps.LocalContractEdges) // finishes locally at entry
    val dist = run(-1) // never local
    assert(local == dist, "local finish diverged from distributed rounds")
    assert(!local.contains(200L), "self-loop-only node must get no label")
    // mid-loop handoff: a threshold the INITIAL edge set exceeds but a
    // contracted round falls under — the handoff happens inside the loop
    // (the entry check counts raw-orientation distinct pairs, so use
    // exactly that count minus one)
    val initialCount = e.select($"a", $"b").distinct().count()
    val mid = run(initialCount - 1)
    assert(mid == dist, "mid-loop local handoff diverged")
  }

  test("local union-find finish property: 30 random graphs against a " +
    "reference union-find (component = min id, self-loop-only nodes " +
    "unlabeled)") {
    val rnd = new scala.util.Random(0x10CA1)
    (1 to 30).foreach { i =>
      val n = 2 + rnd.nextInt(40)
      val edges = Seq.fill(1 + rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val got = DedupOps.starComponents(
        edges.toDF("a", "b"), DedupOps.LocalContractEdges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: union-find over non-self-loop edges, label = min
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(v => v -> find(v)).toMap
      assert(got == want, s"sample $i (n=$n, ${edges.length} edges): " +
        s"got $got, want $want")
    }
  }

  test("star clusters match propagation clusters on the gate corpus") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val prop = MinLabelClusters.dupClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = DedupOps.dupClustersStar(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop)
  }

  test("incremental stars: batch-by-batch contraction equals the batch " +
    "fixed point, including a cross-batch component merge") {
    // round 1: {1-2}, {10-11}; round 2: {20-21} and grow 2-3;
    // round 3: 3-10 MERGES the first two components — the hard case:
    // both existed as contracted stars before any edge linked them.
    val rounds = Seq(
      Seq((1L, 2L), (10L, 11L)),
      Seq((20L, 21L), (3L, 2L)), // reversed orientation on purpose
      Seq((3L, 10L)))
    var stars = Seq.empty[(Long, Long)].toDF("a", "b")
    val seen = scala.collection.mutable.Buffer.empty[(Long, Long)]
    rounds.foreach { es =>
      seen ++= es
      stars = DedupOps.incrementalStars(stars, es.toDF("a", "b"))
      // invariant after EVERY round: incremental state = batch
      // contraction over all edges seen so far
      val batch = DedupOps.starComponents(
        seen.toSeq.toDF("a", "b")
          .select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b")))
        .collect().map(r => (r.getLong(1), r.getLong(0)))
        .filter(p => p._1 != p._2).toSet // drop center self-labels
      val inc = stars.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(inc == batch, s"after edges $seen")
    }
    // final shape: {1,2,3,10,11} centered at 1, {20,21} centered at 20
    val fin = stars.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fin == Set((1L, 2L), (1L, 3L), (1L, 10L), (1L, 11L), (20L, 21L)))
  }

  test("verified clusters: a banded candidate failing the screened edit " +
    "confirm does not merge, while a true near-dup still does") {
    // doc 2 is doc 1 with its first paragraph rotated to the end:
    // nearly the same shingle SET (same bands), but Levenshtein pays
    // the full block move — the classic LSH false positive the edit
    // confirm exists to reject. Doc 3 is a genuine 1-char near-dup.
    def para(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val a = Seq("p", "q", "r", "s").map(para).mkString(" ")
    val rotated = (Seq("q", "r", "s").map(para) :+ para("p")).mkString(" ")
    val near = a.replaceFirst("p1 ", "pX ")
    val docs = Seq((1L, a), (2L, rotated), (3L, near))
      .toDF("doc_id", "text")
    // premise: banding really does surface both pairs as candidates
    val cand = DedupOps.lshCandidatePairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)), s"fixture lost its LSH collision: $cand")
    assert(cand.contains((1L, 3L)), s"fixture lost its LSH collision: $cand")
    // unverified star clustering chains all three into one cluster
    val unverified = DedupOps.dupClustersStar(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unverified == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // the screened confirm keeps the rotation out and the near-dup in
    val verified = DedupOps.dupClustersVerified(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(verified == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("repetition signals: known duplicate-n-gram ground truth") {
    import graft.functions.TextVec._
    val d = Seq(
      (1L, "a b a b a b"), // 2-grams: ab ba ab ba ab; 3-grams: aba bab aba bab
      (2L, "w x y z"),     // all n-grams distinct
      (3L, "solo")         // too short for any n-gram → pinned 0
    ).toDF("doc_id", "text")
    // drive sortedRunStats itself (n_distinct AND max_run), the exact
    // expression q_text_repetition ships — not a re-derived formula
    val g2 = shingles(tokens($"text"), 2)
    val st = sortedRunStats(array_sort(g2))
    val out = d.select($"doc_id",
      when(size(g2) === 0, 0.0)
        .otherwise((size(g2) - st.getField("n_distinct"))
          .cast("double") / size(g2))
        .as("dup2"),
      when(size(g2) === 0, 0.0)
        .otherwise(st.getField("max_run").cast("double") / size(g2))
        .as("top2"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // the run-length distinct count must agree with array_distinct
    val nd = d.select(st.getField("n_distinct").as("nd"),
      size(array_distinct(g2)).as("ad"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(nd.forall { case (a, b) => a == b }, nd.mkString(","))
    assert(out(1L) == (3.0 / 5, 3.0 / 5)) // 5 grams, 2 distinct, "a b"×3
    assert(out(2L) == (0.0, 1.0 / 3))     // 3 distinct grams, max mult 1
    assert(out(3L) == (0.0, 0.0))         // guard: no 2-grams at all
  }

  test("embedding clusters agree with union-find over the candidate pairs") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val pairs = SimilarityOps.embeddingCandidatePairs(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = e.select($"vec_id").collect().map(_.getLong(0))
      .map(id => id -> find(id)).toMap
    val got = graft.SparkEntry.queries("q_embed_dedup_clusters")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // the blocking actually groups something at this SF
    assert(expected.values.toSet.size < expected.size)
  }

  test("property: sortedRunStats matches distinct-count/max-multiplicity " +
    "ground truth over random arrays (200 seeded samples)") {
    import graft.functions.TextVec.sortedRunStats
    val rnd = new scala.util.Random(11)
    // small alphabet forces runs; include empty and single-element arrays
    val samples = (1 to 200).map { i =>
      i.toLong -> Array.fill(rnd.nextInt(50))(s"t${rnd.nextInt(8)}")
    }
    val df = samples.map { case (id, a) => (id, a.toSeq) }.toDF("id", "arr")
    val got = df.select($"id", sortedRunStats(array_sort($"arr")).as("st"))
      .select($"id", $"st.n_distinct", $"st.max_run")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    samples.foreach { case (id, a) =>
      val expected =
        if (a.isEmpty) (0, 0)
        else (a.distinct.length, a.groupBy(identity).values.map(_.length).max)
      assert(got(id) == expected, s"id=$id arr=${a.mkString(",")}")
    }
  }

  test("bloom prefilter: zero false negatives on planted duplicates, " +
    "and actually discriminates on the gate corpus") {
    // a bloom filter may pass a fresh doc (false positive) but must
    // NEVER drop a true duplicate
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma"),          // exact dup of doc 1
      (11L, "totally unrelated content"),
      (12L, "delta epsilon zeta"))        // exact dup of doc 2
      .toDF("doc_id", "text")
    val survivors = DedupOps.bloomPrefilter(corpus, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors.contains(10L) && survivors.contains(12L),
      s"true duplicates must survive the bloom, got $survivors")

    // on the gate corpus (no exact dups in the batch slice) the
    // filter must reject a meaningful share — a saturated bloom that
    // passes everything would be useless as a prefilter
    val gate = graft.SparkEntry.queries("q_dedup_bloom")(
      spark, "/root/testdata/sf0.001")
    val passed = gate.count()
    assert(passed > 0 && passed < 100,
      s"expected partial pass-through of the 100-doc batch, got $passed")
  }

  test("repeated-span profile: planted verbatim run is caught, unrelated " +
    "doc is clean, short doc emits no spans") {
    val shared = (1 to 10).map(i => s"run$i").mkString(" ") // 10-token run
    val input = Seq(
      (1L, s"alpha starts here $shared and ends"),
      (2L, s"$shared totally different tail of words"),
      (3L, (1 to 20).map(i => s"uniq$i").mkString(" ")),
      (4L, "too short for spans")) // 4 tokens < SpanTokens
      .toDF("doc_id", "text")
    val prof = DedupOps.repeatedSpanProfile(input).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!prof.contains(4L), "sub-span-length doc must emit nothing")
    assert(prof(1L)._2 > 0 && prof(2L)._2 > 0,
      s"docs sharing a 10-token verbatim run must flag: $prof")
    // the shared run yields exactly 3 distinct 8-token spans, present
    // in both docs
    assert(prof(1L)._2 == 3 && prof(2L)._2 == 3, prof.toString)
    assert(prof(3L)._2 == 0, "unrelated doc must be clean")
  }

  test("corpus vocabulary: contiguous ranks, non-increasing frequencies, " +
    "true top token") {
    val sfDir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q_text_vocab")(spark, sfDir)
      .orderBy(col("rank")).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Int]("rank")).toSeq == (1 to out.length))
    val freqs = out.map(_.getAs[Long]("freq"))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
    // rank 1 really is the corpus-wide argmax
    val trueMax = graft.Tables(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy(col("t")).count().agg(max(col("count"))).collect()(0).getLong(0)
    assert(freqs.head == trueMax)
  }

  test("exact dedup via md5 group-by keeps lowest doc_id") {
    val d = Seq((5L, "same text"), (3L, "same text"), (9L, "unique"))
      .toDF("doc_id", "text")
    val grouped = d.groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(grouped == Set((3L, 2L), (9L, 1L)))
  }

  test("wide simhash hamming pairs: exact duplicate at distance 0, " +
      "band blocking finds every pair the guarantee covers") {
    // identical docs: same signature ⇒ hamming 0, found via every band
    val dup = Seq((0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val pairs = DedupOps.simhashHammingPairs(dup).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      Set((0L, 1L, 0)))
    // pigeonhole guarantee on the gate corpus: EVERY pair of wide
    // signatures within MaxHamming appears in the operator's output
    // (brute-force over collected signatures — test-only oracle)
    val sfDocs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val sigs = DedupOps.simhashWide(sfDocs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= DedupOps.SimhashMaxHamming
    } yield (a, b)).toSet
    val got = DedupOps.simhashHammingPairs(sfDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("minhash estimated jaccard: exact dup estimates 1.0 and the " +
      "estimate brackets the true value on the gate corpus") {
    val dup = Seq((0L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (1L, (1 to 20).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val r = DedupOps.minhashEstimatedJaccard(dup).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Double]("est_jaccard") == 1.0)
    assert(r.head.getAs[Double]("jaccard") == 1.0)
    // on real candidates: n_agree ∈ [0, K], est = n_agree/K, and the
    // exact J of an LSH candidate is positive (they share a bucket ⇒
    // some overlap on these seeded sets is the norm, not guaranteed;
    // assert only the estimator's algebraic invariants)
    val rows = DedupOps.minhashEstimatedJaccard(
      graft.Tables(spark, "/root/testdata/sf0.001", "documents")).collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      val na = row.getAs[Int]("n_agree")
      assert(na >= 0 && na <= DedupOps.MinhashSeeds)
      assert(row.getAs[Double]("est_jaccard") ==
        math.round(na.toDouble / DedupOps.MinhashSeeds * 1e6) / 1e6)
      val j = row.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("bigram surprisal: repeated-template doc scores more predictable " +
      "than a one-off doc under the corpus LM") {
    // 9 copies of one template + 1 singleton: the template's bigrams
    // are 9× more frequent, so its mean NLL must be lower
    val template = (1 to 30).map(i => s"t${i % 5}").mkString(" ")
    val oneOff = (1 to 30).map(i => s"u$i").mkString(" ")
    val docs = ((0 until 9).map(i => (i.toLong, template)) :+ (9L, oneOff))
      .toDF("doc_id", "text")
    // the ordering property runs the PRODUCTION body (the same
    // function q_text_perplexity registers), so gate drift would
    // fail here too
    val scored = TextOps.bigramSurprisal(docs)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("mean_nll")).toMap
    assert(scored(0L) < scored(9L))
    // gate plumbing: every doc with >= 2 tokens is scored, values finite
    val gate = graft.SparkEntry.queries("q_text_perplexity")(
      spark, "/root/testdata/sf0.001").collect()
    assert(gate.nonEmpty)
    gate.foreach(r => assert(!r.getAs[Double]("mean_nll").isNaN &&
      r.getAs[Double]("mean_nll") > 0))
  }

  test("semdedup: pairwise work stays inside cells and finds the planted near-dup") {
    // seeds 0 (x-axis) and 1 (y-axis); 2,3 near-identical on x; 4,5 on y
    val e = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0.9f, 0.1001f, 0f, 0f)), // ≈ duplicate of 2
      (4L, Array(0.1f, 0.9f, 0.2f, 0f)),
      (5L, Array(0f, 0.8f, -0.3f, 0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.semdedupClosestPairs(e, 2).collect()
      .map(r => r.getAs[Long]("centroid_id") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("keep_id"),
          r.getAs[Long]("drop_id"), r.getAs[Double]("sim"))).toMap
    assert(out.keySet == Set(0L, 1L)) // one decision per occupied cell
    // cell 0 = {0, 2, 3}: the near-identical pair wins, lower id kept
    val (n0, k0, d0, s0) = out(0L)
    assert(n0 == 3 && k0 == 2L && d0 == 3L && s0 > 0.999)
    // cell 1 = {1, 4, 5}: (1,4) is the closest pair (cos ≈ 0.970)
    val (n1, k1, d1, s1) = out(1L)
    assert(n1 == 3 && k1 == 1L && d1 == 4L && s1 > 0.96 && s1 < 0.98)
  }

  test("semdedup hot-cell guard: a skewed cell sub-splits to bounded " +
    "blocks, the planted duplicate still wins, cold cells are untouched") {
    val dims = 64
    // seeds: 0 = all-positive, 1 = all-negative — maximally separated
    def const(v: Float) = Array.fill(dims)(v)
    // 50 near-identical all-positive vectors pile onto cell 0 (the
    // boilerplate-cluster shape); ids 20/21 are EXACT duplicates
    // modulus 101 > id span: no two distinct ids repeat a pattern, so
    // the ONLY exact-cosine-1.0 hot pair is the planted one
    def noisy(id: Long) = Array.tabulate(dims)(j =>
      1f + 0.01f * (((id * 31 + j) % 101).toFloat))
    // the duplicate uses an id-999 noise pattern: identical to each
    // other (cos exactly 1.0), parallel to NOTHING else in the cell —
    // in particular not to the all-ones seed vector
    val hot = (8L until 58L).map(id =>
      (id, if (id == 20L || id == 21L) noisy(999L) else noisy(id)))
    // two all-negative vectors give cell 1 a (cold) pair of its own:
    // 6 hugs the seed (clear closest pair), 7 tilts away
    val nearSeed1 = { val v = const(-1f); v(0) = -1.05f; v }
    val tilted = Array.tabulate(dims)(j => if (j < 32) -1f else -0.2f)
    val e = (Seq(
      (0L, const(1f)), (1L, const(-1f)),
      (6L, nearSeed1), (7L, tilted)) ++ hot)
      .toDF("vec_id", "embedding")
    val maxCell = 8

    // bounded per-task pair volume: every (cell, block) population is
    // within the cap, even though cell 0 holds 51 members
    val blocks = SimilarityOps.semdedupBlocks(e, 2, maxCell)
    val blockSizes = blocks.groupBy("centroid_id", "blk")
      .agg(count(lit(1)).as("n")).collect()
    assert(blockSizes.forall(_.getAs[Long]("n") <= maxCell),
      blockSizes.mkString(", "))
    assert(blockSizes.count(_.getLong(0) == 0L) >= 7) // hot cell split
    assert(blockSizes.count(_.getLong(0) == 1L) == 1) // cold cell: 1 block

    val out = SimilarityOps.semdedupClosestPairs(e, 2, maxCell).collect()
      .map(r => r.getAs[Long]("centroid_id") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("keep_id"),
          r.getAs[Long]("drop_id"), r.getAs[Double]("sim"))).toMap
    // the exact-duplicate pair is adjacent in vec_id order, so the
    // rank-chunked sub-split keeps it in one block and it still wins;
    // n_members reports the ORIGINAL cell population
    val (n0, k0, d0, s0) = out(0L)
    assert(n0 == 51 && k0 == 20L && d0 == 21L && s0 == 1.0)
    // cold cell: the paper's exact unsplit closest pair
    val (n1, k1, d1, s1) = out(1L)
    assert(n1 == 3 && k1 == 1L && d1 == 6L && s1 > 0.999 && s1 <= 1.0)

    // guard OFF (huge cap) agrees on the cold cell and finds the same
    // duplicate in the hot cell — the split changed cost, not the answer
    val unsplit = SimilarityOps.semdedupClosestPairs(e, 2, 100000).collect()
      .map(r => r.getAs[Long]("centroid_id") ->
        (r.getAs[Long]("keep_id"), r.getAs[Long]("drop_id"))).toMap
    assert(unsplit(0L) == ((20L, 21L)) && unsplit(1L) == ((1L, 6L)))
  }

  test("quality classifier margins match hand-computed feature values") {
    // doc 1: ttr 1/4, stop_ratio 4/4, atl 12/4 → margin 3.95 → kept
    // doc 2: ttr 3/3, stop_ratio 0, atl 36/3 → margin -0.8 → dropped
    val docs = Seq(
      (1L, "the the the the"),
      (2L, "aaaaaaaaaaaa bbbbbbbbbbbb cccccccccccc")
    ).toDF("doc_id", "text")
    val out = TextOps.qualityClassifier(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("margin_e6"), r.getAs[Boolean]("kept"))).toMap
    assert(out(1L) == (3950000L, true))
    assert(out(2L) == (-800000L, false))
  }

  test("two-phase approximate quality prune agrees with the exact " +
    "per-source rank cut except within the threshold margin band") {
    val sfDir = "/root/testdata/sf0.001"
    val corpus = graft.Tables(spark, sfDir, "documents")
    // the EXACT gate body: per-source rank window, keep rnk*2 <= n
    val exact = graft.SparkEntry.queries("q_quality_prune")(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("source"), r.getAs[Long]("margin_e6"),
        r.getAs[Boolean]("kept_top_half")))
    val approx = TextOps.qualityPruneApprox(corpus)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("source"), r.getAs[Long]("margin_e6"),
        r.getAs[Long]("thr_e6"), r.getAs[Boolean]("kept_top_half")))
    assert(exact.length == approx.length &&
      exact.map(_._1).toSet == approx.map(_._1).toSet,
      "both cuts must decide every document exactly once")
    // the exact cut's boundary margin per source: the WORST margin it
    // still keeps (floor(n/2)-th ranked value)
    val boundary = exact.filter(_._4).groupBy(_._2)
      .map { case (src, rows) => src -> rows.map(_._3).min }
      // a source so small the exact cut keeps nothing has its
      // boundary "above every margin"
      .withDefaultValue(Long.MaxValue)
    val exactKept = exact.map(t => t._1 -> t._4).toMap
    val disagreements = approx.filter(a => exactKept(a._1) != a._5)
    disagreements.foreach { case (id, src, m, t, _) =>
      val lo = math.min(t, boundary(src))
      val hi = math.max(t, boundary(src))
      assert(m >= lo && m <= hi,
        s"doc $id ($src): margin $m disagrees OUTSIDE the " +
          s"[threshold=$t, boundary=${boundary(src)}] band — the " +
          "approximation contract is rank error AT the cut, not " +
          "arbitrary misclassification")
    }
    // and the threshold is genuinely near the median: the cuts agree
    // on the overwhelming share of the corpus
    assert(disagreements.length <= math.max(1, exact.length / 20),
      s"${disagreements.length}/${exact.length} disagreements — the " +
        "approximate threshold is not tracking the per-source median")
    // plan shape: the approx path must carry NO window and no
    // row-level exchange beyond the sketch aggregate + broadcast join
    val plan = TextOps.qualityPruneApprox(corpus)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "approx prune must not rank — that is the exact path's funnel")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      "per-source thresholds must broadcast, not shuffle the corpus")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      "the margin/source pairing must ride the scan projection — a " +
        "docs⋈classifier self-join would shuffle the corpus row-level")
    val rowExchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(rowExchanges <= 1,
      s"approx prune carries $rowExchanges hash exchanges; only the " +
        "sources × sketch-partials aggregate exchange is allowed:\n" +
        plan)
  }

  test("approximate quality prune decides null-source documents: the " +
    "null group is its own partition, exactly like the exact cut's " +
    "PARTITION BY") {
    // a plain equi-join on source would silently DROP the null-source
    // row — the exact cut keeps nulls as their own window group, so
    // the approx path must decide them too (null-safe join key)
    val docs = Seq(
      (1L, Some("web"), "the quick brown fox jumps over the lazy dog"),
      (2L, Some("web"), "aaaa bbbb aaaa bbbb aaaa bbbb aaaa bbbb"),
      (3L, None, "a perfectly ordinary document with no source at all")
    ).toDF("doc_id", "source", "text")
    val out = TextOps.qualityPruneApprox(docs).collect()
    assert(out.length == 3, "every document must be decided exactly once")
    val nullRow = out.find(_.isNullAt(1)).getOrElse(
      fail("the null-source document vanished from the output"))
    // a 1-doc group's median is its own margin → kept by >=
    assert(nullRow.getAs[Boolean]("kept_top_half"),
      "a singleton null-source group must keep its own median")
  }

  test("paragraph dedup: first occurrence wins across and within docs, " +
    "exact-copy doc is fully dropped") {
    // chunks are ParaTokens-token aligned; build docs from 10-token units
    def unit(tag: String) = (1 to DedupOps.ParaTokens)
      .map(i => s"$tag$i").mkString(" ")
    val (a, b, c, d) = (unit("a"), unit("b"), unit("c"), unit("d"))
    val docs = Seq(
      (1L, s"$a $b"), // both kept (first occurrences)
      (2L, s"$a $c"), // chunk a duplicates doc 1 → dropped, c kept
      (3L, s"$a $b"), // exact copy of doc 1 → fully dropped
      (4L, s"$d $d")  // within-doc duplicate → second d dropped
    ).toDF("doc_id", "text")
    val out = DedupOps.paragraphDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_paras"),
        r.getAs[Long]("n_kept"), r.getAs[Double]("drop_ratio"),
        r.getAs[String]("kept_hash"))).toMap
    assert(out(1L)._1 == 2L && out(1L)._2 == 2L && out(1L)._3 == 0.0)
    assert(out(2L)._2 == 1L && out(2L)._3 == 0.5)
    assert(out(3L)._2 == 0L && out(3L)._3 == 1.0)
    // fully-dropped doc fingerprints the empty string
    assert(out(3L)._4 == "d41d8cd98f00b204e9800998ecf8427e")
    assert(out(4L)._2 == 1L)
    // the dedup election is partitioning-invariant
    val again = DedupOps.paragraphDedup(docs.repartition(7))
    assert(DedupOps.paragraphDedup(docs).exceptAll(again).isEmpty)
  }

  test("paragraph rewrite: surviving text matches the election, planted " +
    "duplicates vanish, empty-token docs survive the chunker guard") {
    def unit(tag: String) = (1 to DedupOps.ParaTokens)
      .map(i => s"$tag$i").mkString(" ")
    val (a, b, c, d) = (unit("a"), unit("b"), unit("c"), unit("d"))
    val docs = Seq(
      (1L, s"$a $b"), // first occurrences: kept verbatim
      (2L, s"$a $c"), // a dropped, c kept → text shrinks to c
      (3L, s"$a $b"), // exact copy → rewritten to empty string
      (4L, s"$d $d")  // within-doc dup → one d survives
    ).toDF("doc_id", "text")
    val out = DedupOps.paragraphRewrite(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_kept"), r.getAs[String]("kept_text"))).toMap
    assert(out(1L) == (2L, s"$a $b"))
    assert(out(2L) == (1L, c))
    assert(out(3L) == (0L, ""))
    assert(out(4L) == (1L, d))
    // partitioning-invariant like the decision record
    val again = DedupOps.paragraphRewrite(docs.repartition(7))
    assert(DedupOps.paragraphRewrite(docs).exceptAll(again).isEmpty)
    // rewrite agrees with paragraphDedup's kept counts on real data
    val corpus = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val viaDedup = DedupOps.paragraphDedup(corpus)
      .select(col("doc_id"), col("n_kept"))
    val viaRewrite = DedupOps.paragraphRewrite(corpus)
      .select(col("doc_id"), col("n_kept"))
    assert(viaDedup.exceptAll(viaRewrite).isEmpty)
    // ADVICE guard: a pre-tokenized EMPTY (or null) token array emits
    // NO chunks — sequence(0, floor((0-1)/n)) used to count backwards
    // to [0,-1] and emit garbage rows the oracle never produces
    val pretok = Seq(
      (1L, Seq.empty[String]),
      (2L, null: Seq[String]),
      (3L, Seq("x1", "x2"))).toDF("doc_id", "t")
    val hashed = DedupOps.paragraphHashesFromTokens(pretok).collect()
    assert(hashed.map(_.getLong(0)).toSet == Set(3L))
    assert(hashed.length == 1)
  }

  test("paragraph dedup invariant on the gate corpus: kept count equals " +
    "distinct paragraph count, chunk count matches token geometry") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val r = DedupOps.paragraphDedup(docs)
      .agg(sum(col("n_paras")), sum(col("n_kept"))).collect().head
    val (nParas, nKept) = (r.getLong(0), r.getLong(1))
    val hashes = DedupOps.paragraphHashes(docs)
    // first-wins keeps every distinct paragraph exactly once, corpus-wide
    assert(nKept == hashes.select("h").distinct().count())
    assert(nParas == hashes.count())
    // chunk geometry: ceil(tokens / ParaTokens) summed over the corpus
    val expectParas = docs
      .select(ceil(size(split(col("text"), " "))
        .cast("double") / DedupOps.ParaTokens).as("c"))
      .agg(sum(col("c"))).collect().head.getLong(0)
    assert(nParas == expectParas)
  }

  test("bm25: rare-term doc outranks common-term docs, length " +
    "normalization favors the shorter doc at equal tf, no-hit doc scores 0") {
    val filler = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"zebra cat $filler"), // rare term → top
      (2L, "cat cat mouse"),      // tf=2, short
      (3L, s"cat cat $filler"),   // tf=2, long → below doc 2
      (4L, "mouse mouse")         // no query terms → 0.0
    ).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, query = Seq("zebra", "cat"), k = 4)
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    val byId = out.map(r => r.getLong(0) ->
      (r.getAs[Long]("tf_zebra"), r.getAs[Long]("tf_cat"),
        r.getAs[Double]("bm25"))).toMap
    assert(byId(1L)._1 == 1L && byId(1L)._2 == 1L)
    assert(byId(2L) == (0L, 2L, byId(2L)._3) && byId(2L)._3 > byId(3L)._3)
    assert(byId(4L)._3 == 0.0)
    assert(out.forall(_.getAs[Double]("bm25") >= 0.0)) // Lucene idf ≥ 0
  }

  test("pq codes: seed vectors self-code at zero error, composed vector " +
    "picks each subspace's true centroid") {
    // 4 constant-valued 64-dim centroids; vec 10 takes subspace j's
    // slice from centroid (j+1) % 4, vec 11 sits nearest centroid 2
    def const(v: Double) = Array.fill(SimilarityOps.PqSubspaces *
      SimilarityOps.PqSubDim)(v.toFloat)
    val composed = (0 until SimilarityOps.PqSubspaces).flatMap(j =>
      Array.fill(SimilarityOps.PqSubDim)(((j + 1) % 4 + 1).toFloat)).toArray
    val emb = Seq(
      (0L, const(1.0)), (1L, const(2.0)), (2L, const(3.0)), (3L, const(4.0)),
      (10L, composed), (11L, const(3.2))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.pqCodes(emb).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4)), r.getAs[Double]("recon_err"))).toMap
    (0L to 3L).foreach { id =>
      assert(out(id)._1 == ((id.toInt, id.toInt, id.toInt, id.toInt)))
      assert(out(id)._2 == 0.0)
    }
    assert(out(10L)._1 == ((1, 2, 3, 0)) && out(10L)._2 == 0.0)
    assert(out(11L)._1 == ((2, 2, 2, 2)))
    // 16 dims × 0.2² per subspace, 4 subspaces → ~2.56 total (float
    // 3.2f is inexact, so allow the single-precision wobble)
    assert(math.abs(out(11L)._2 - 2.56) < 1e-3)
    val again = SimilarityOps.pqCodes(emb.repartition(5))
    assert(SimilarityOps.pqCodes(emb).exceptAll(again).isEmpty)
  }

  test("pq adc search: distances equal exact reconstruction distances, " +
    "coded vectors score as their reconstruction") {
    def const(v: Double) = Array.fill(SimilarityOps.PqSubspaces *
      SimilarityOps.PqSubDim)(v.toFloat)
    val composed = (0 until SimilarityOps.PqSubspaces).flatMap(j =>
      Array.fill(SimilarityOps.PqSubDim)(((j + 1) % 4 + 1).toFloat)).toArray
    val emb = Seq(
      (0L, const(1.0)), (1L, const(2.0)), (2L, const(3.0)), (3L, const(4.0)),
      (10L, composed), (11L, const(3.2))
    ).toDF("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val out = SimilarityOps.pqAdcTopK(emb, probes, k = 5).collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rnk"),
        r.getAs[Double]("adc_dist")))
    // ADC vs query const(1): dist to a reconstruction const(c) is
    // 64·(c−1)²; vec 11 scores as its CODE's reconstruction const(3)
    // — 256, tying vec 2 exactly (vec_id breaks the tie); composed =
    // 16·(1+4+9+0) = 224
    assert(out.toSeq == Seq(
      (1L, 1, 64.0), (10L, 2, 224.0), (2L, 3, 256.0),
      (11L, 4, 256.0), (3L, 5, 576.0)))
  }

  test("bm25 matches a pure-JVM reference implementation on the gate " +
    "corpus (df/tf/idf/length-normalization chain)") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val n = corpus.length.toDouble
    val sumDl = corpus.map(_._2.length.toLong).sum.toDouble
    val avgdl = sumDl / n
    def idf(df: Long): Double =
      math.log(1.0 + (n - df.toDouble + 0.5) / (df.toDouble + 0.5))
    val dfs = TextOps.Bm25Query.map(q =>
      q -> corpus.count(_._2.contains(q)).toLong).toMap
    val ref = corpus.map { case (id, toks) =>
      val dl = toks.length.toDouble
      val score = TextOps.Bm25Query.map { q =>
        val tf = toks.count(_ == q).toDouble
        idf(dfs(q)) * (tf * TextOps.Bm25K1Plus1) /
          (tf + TextOps.Bm25K1 *
            (TextOps.Bm25OneMinusB + TextOps.Bm25B * (dl / avgdl)))
      }.reduceLeft(_ + _)
      (id, BigDecimal(score)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, s) => (-s, id) }.take(TextOps.Bm25TopK)
    val got = TextOps.bm25TopK(docs).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("bm25"))).toSeq
    assert(got == ref.toSeq)
  }

  test("property: paragraph chunker matches a JVM reference over random " +
    "token lists (200 seeded samples)") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(17)
    // lengths straddle the chunk size, incl. exact multiples and 1
    val samples = (1 to 200).map { i =>
      i.toLong -> Array.fill(1 + rnd.nextInt(35))(s"w${rnd.nextInt(6)}")
    }
    val df = samples.map { case (id, a) => (id, a.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = DedupOps.paragraphHashes(df).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(r => (r.getInt(1), r.getString(2)))
      }
    samples.foreach { case (id, a) =>
      val expected = a.grouped(DedupOps.ParaTokens).zipWithIndex
        .map { case (chunk, i) => (i, md5hex(chunk.mkString(" "))) }.toSeq
      assert(got(id).toSeq == expected, s"id=$id n=${a.length}")
    }
  }

  test("adc shortlist contains the exact L2 neighbors (re-ranking " +
    "contract) and pq training reduces quantization error") {
    // PQ is deployed as shortlist-then-exact-re-rank: the coded scan
    // must surface the true neighbors in a small candidate set, not
    // rank them perfectly (top-3-exact recall of a 4-entry codebook
    // is noise-dominated by code ties — measured 0.33 here). Pin the
    // contract that matters: exact top-3 ⊂ ADC top-50.
    val sf = "/root/testdata/sf0.001"
    val e = graft.Tables(spark, sf, "embeddings")
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    val k = SimilarityOps.TopK
    val exact = (0L until SimilarityOps.NumProbes).map { q =>
      q -> vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (l2(vecs(q), v), id) }
        .sortBy(identity).take(k).map(_._2).toSet
    }.toMap
    val probes = e.filter(col("vec_id") < SimilarityOps.NumProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val shortlist = SimilarityOps.pqAdcTopK(e, probes, 50).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val hitRate = exact.map { case (q, ex) =>
      shortlist(q).intersect(ex).size.toDouble / k }.sum / exact.size
    info(f"exact-top$k-in-adc-top50 = $hitRate%.2f")
    assert(hitRate >= 0.7, f"shortlist hit rate $hitRate%.2f") // measured 0.80
    // and the k-means codebook must beat seeding on ITS objective —
    // total squared quantization error (measured 443 vs 706 = -37%)
    def qErr(a: org.apache.spark.sql.DataFrame): Double =
      a.agg(sum(col("dmin"))).head.getDouble(0)
    val seededErr = qErr(SimilarityOps.pqAssign(e))
    // pqTrainQuantized emits scalar (sub, cid, dim, v) rows: fold them
    // back into the (sub, cid, csub) codebook pqAssignWith reads
    val trainedCb = SimilarityOps.pqTrainQuantized(e, iters = 5)
      .groupBy(col("sub"), col("cid"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("v")))),
        x => x.getField("v")).as("csub"))
    val trainedErr = qErr(SimilarityOps.pqAssignWith(e, trainedCb))
    info(f"quantization error: seeded=$seededErr%.0f trained=$trainedErr%.0f")
    assert(trainedErr < seededErr * 0.8,
      f"training should cut quantization error: $trainedErr%.0f vs $seededErr%.0f")
  }

  test("ivfpq search: every neighbor comes from the query's probed " +
    "cells, distances rank monotonically") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val centroids = e.filter(col("vec_id") < SimilarityOps.NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val probes = e.filter(col("vec_id") < SimilarityOps.NumProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val out = SimilarityOps.ivfPqSearch(e, centroids, probes,
      SimilarityOps.NumProbeCells, SimilarityOps.TopK).cache()
    try {
      val rows = out.collect()
      assert(rows.length == SimilarityOps.NumProbes * SimilarityOps.TopK)
      // scan confinement: a neighbor must live in one of its query's
      // nprobe probed cells — the property that buys the ANN speedup
      val cells = SimilarityOps.ivfAssign(e, centroids)
        .select(col("vec_id"), col("centroid_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val probed = probes.crossJoin(broadcast(centroids))
        .select(col("query_id"), col("centroid_id"),
          graft.functions.CosineSimilarity(spark, col("qv"), col("cv"))
            .as("c"))
        .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1)))
            .take(SimilarityOps.NumProbeCells).map(_.getLong(1)).toSet
        }
      rows.foreach { r =>
        val (q, n) = (r.getLong(0), r.getLong(1))
        assert(probed(q).contains(cells(n)),
          s"neighbor $n of query $q is outside its probed cells")
      }
      // rank order is distance order
      rows.groupBy(_.getLong(0)).values.foreach { rs =>
        val byRnk = rs.sortBy(_.getInt(2)).map(_.getDouble(3))
        assert(byRnk.sameElements(byRnk.sorted))
      }
    } finally out.unpersist()
  }

  test("two-stage rerank: results come from the ADC shortlist and rank " +
    "by exact cosine; top-1 is exact whenever the shortlist covers it") {
    val sf = "/root/testdata/sf0.001"
    val e = graft.Tables(spark, sf, "embeddings")
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val probes = e.filter(col("vec_id") < SimilarityOps.NumProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val shortlist = SimilarityOps
      .pqAdcTopK(e, probes, SimilarityOps.RerankShortlist).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val rows = graft.SparkEntry.queries("q_sim_rerank")(spark, sf).collect()
    assert(rows.length == SimilarityOps.NumProbes * SimilarityOps.TopK)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      // membership: reranked neighbors are shortlist members only
      rs.foreach(r => assert(shortlist(q).contains(r.getLong(1))))
      // order: the reported ranking IS the exact-cosine ranking of the
      // shortlist, cross-checked against an independent driver-side
      // cosine (not the engine expression)
      val expected = shortlist(q).toSeq
        .map(id => (cos(vecs(q), vecs(id)), id))
        .sortBy { case (c, id) => (-c, id) }
        .take(SimilarityOps.TopK).map(_._2)
      assert(rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq == expected)
      // serving contract: exact top-1 in shortlist ⇒ rerank returns it
      val exactTop1 = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (cos(vecs(q), v), id) }
        .sortBy { case (c, id) => (-c, id) }.head._2
      if (shortlist(q).contains(exactTop1))
        assert(rs.minBy(_.getInt(2)).getLong(1) == exactTop1)
    }
  }

  test("embedding outliers: bottom-k of each cell by centroid cosine, " +
    "ranks contiguous, sims verified against driver-side cosine") {
    val sf = "/root/testdata/sf0.001"
    val e = graft.Tables(spark, sf, "embeddings")
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    // independent assignment: argmax cosine to seed centroids
    val cents = (0L until SimilarityOps.NumCentroids).map(c => c -> vecs(c))
    val assign = vecs.keys.map { id =>
      id -> cents.map { case (c, cv) => (-cos(cv, vecs(id)), c) }.min._2
    }.toMap
    val rows = graft.SparkEntry.queries("q_embed_outliers")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (cell, rs) =>
      val members = assign.filter(_._2 == cell).keys.toSeq
      assert(rs.length == math.min(SimilarityOps.OutlierK, members.size))
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length))
      // the reported vectors ARE the cell's farthest-from-centroid set
      val expected = members
        .map(id => (cos(vecs(cell), vecs(id)), id))
        .sortBy(identity).take(rs.length).map(_._2).toSet
      assert(rs.map(_.getLong(1)).toSet == expected)
    }
  }

  test("bpe pairs: frequency-weighted planted pair counts land exactly " +
    "via the production body") {
    import spark.implicits._
    // "ab"×3 (pair ab:3), "abc"×1 (ab:1, bc:1), "cd"×1 (cd:1), and a
    // 1-char word that must be excluded entirely
    val fixture = Seq((0L, "ab ab cd x"), (1L, "ab abc"))
      .toDF("doc_id", "text")
    // the PRODUCTION body (named method), not a copy of its expressions
    val pairs = TextOps.bpePairCounts(fixture)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pairs == Map("ab" -> 4L, "bc" -> 1L, "cd" -> 1L))
    // gate shape: ranks contiguous from 1, counts non-increasing
    val sf = "/root/testdata/sf0.001"
    val gate = graft.SparkEntry.queries("q_bpe_pairs")(spark, sf).collect()
    assert(gate.map(_.getInt(2)).toSeq == (1 to gate.length))
    assert(gate.map(_.getLong(1)).sliding(2).forall(s =>
      s.length < 2 || s(0) >= s(1)))
  }

  test("bpe train: planted corpus learns the hand-computed merge " +
    "sequence, including the left-to-right overlap fold and merged " +
    "symbols re-entering the statistics") {
    import spark.implicits._
    // "aaab"×2, "ab"×1:
    //   round 1: (a,a)=4 beats (a,b)=3 → "aaab" becomes "aa a b"
    //            (the 'a a a' run folds LEFT-TO-RIGHT: (aa)(a), not (a)(aa))
    //   round 2: (a,b)=3 beats (aa,a)=2 → "aa ab" / "ab"
    //   round 3: (aa,ab)=2 — a merge of two MERGED symbols
    val fixture = Seq((0L, "aaab ab aaab")).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(fixture, 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "a", "a", 4L), (2, "a", "b", 3L), (3, "aa", "ab", 2L)))
    // gate shape on the real corpus: rounds contiguous, counts
    // non-increasing (a later merge can never beat an earlier one)
    val gate = graft.SparkEntry.queries("q_bpe_train")(
      spark, "/root/testdata/sf0.001").collect()
    assert(gate.map(_.getInt(0)).toSeq == (1 to TextOps.BpeTrainRounds))
    assert(gate.map(_.getLong(3)).sliding(2).forall(s =>
      s.length < 2 || s(0) >= s(1)))
  }

  test("bpe encode: planted corpus tokenizes with the learned merges; " +
    "words below the training floor fall back to one token") {
    import spark.implicits._
    // merges learned on this corpus with 2 rounds: (a,a)=6 then
    // (a,b)=4, so "aaab" → "aa ab" (2 tokens), "ab" → "ab" (1 token),
    // and the 1-char "x" never enters the state → 1 token fallback
    val fixture = Seq((0L, "aaab ab aaab"), (1L, "x aaab"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeEncode(fixture, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((0L, 3L, 5L), (1L, 2L, 3L)))
    // gate shape on the real corpus: every word is at least one token
    val gate = graft.SparkEntry.queries("q_bpe_encode")(
      spark, "/root/testdata/sf0.001").collect()
    assert(gate.nonEmpty)
    assert(gate.forall(r => r.getLong(2) >= r.getLong(1)))
  }

  test("bpe merge folds BOTH delimiter-sharing adjacent occurrences " +
    "and keeps every merge on self-pair runs (exact Sennrich greedy)") {
    import spark.implicits._
    // the former delimited string replace missed the second ' a b '
    // in ' a b a b ' (shared middle space: 'abab' became 'ab a b')
    // and lost a merge on a self-pair run of 6 — these two planted
    // corpora pin the exact greedy fold
    val fixture = Seq((0L, "ab ab ab abab")).toDF("doc_id", "text")
    // round 1 merges (a,b) [count 5]; "abab" must become 'ab ab':
    // 4 words, 1+1+1+2 = 5 tokens
    val enc = TextOps.bpeEncode(fixture, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(enc.toSeq == Seq((0L, 4L, 5L)), enc.mkString(","))
    // self-pair run: round 1 merges (a,a) [count 6]; 'aaaaaa' must
    // become 'aa aa aa' (3 tokens; the delimited form yielded
    // 'aa a aa a' = 4): 2 words, 3 + 1 = 4 tokens
    val runs = Seq((0L, "aaaaaa aa")).toDF("doc_id", "text")
    val enc2 = TextOps.bpeEncode(runs, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(enc2.toSeq == Seq((0L, 2L, 4L)), enc2.mkString(","))
  }

  test("bpe train stops early, like learn_bpe, when no symbol pairs " +
    "remain instead of crashing on an empty election") {
    import spark.implicits._
    // one trainable word type: "ab" fully merges in round 1; rounds 2
    // and 3 have NO pairs left anywhere — the loop must return one
    // merge, not throw on an empty best-pair frame
    val fixture = Seq((0L, "ab ab x")).toDF("doc_id", "text")
    val got = TextOps.bpeTrain(fixture, 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, "a", "b", 2L)), got.mkString(","))
  }

  test("media dedup tiers: planted payloads separate exact dups, " +
    "perceptual (same decoded fingerprint) dups, and uniques") {
    import spark.implicits._
    // 0/1 byte-identical (exact tier); 2 different content but the
    // SAME decoded raster shape+checksum → perceptual collision;
    // 3 unique on both tiers
    val docs = Seq((0L, "aaaa"), (1L, "aaaa"), (2L, "bbbb"),
      (3L, "ccccc")).toDF("doc_id", "text")
    val decoded = Seq(
      (0L, 4, 3, 100L), (1L, 4, 3, 100L), (2L, 4, 3, 100L),
      (3L, 2, 2, 7L)).toDF("doc_id", "width", "height", "px_sum")
    val got = Multimodal.mediaDedup(docs, decoded).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("is_exact_dup"), r.getAs[Boolean]("is_near_dup"))))
      .toMap
    assert(got == Map(
      0L -> (false, false), // keeper of both elections
      1L -> (true, false),  // exact dup — near-dup flag reserved for exact survivors
      2L -> (false, true),  // content differs, decoded fingerprint collides
      3L -> (false, false)))
  }

  test("png round trip: real ImageIO decode of the generated corpus " +
    "returns the generative dims and pixel sums for every doc, and a " +
    "hand-decoded payload confirms the fixture encodes REAL pixels") {
    val got = Multimodal.decodeFeatures(spark, "/root/testdata/sf0.001")
      .collect().map(r =>
        r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(got.nonEmpty)
    got.foreach { case (id, (w, h, ps)) =>
      val ew = (id % Multimodal.PngW + 1).toInt
      val eh = (id % Multimodal.PngH + 1).toInt
      val eps = (for (y <- 0 until eh; x <- 0 until ew)
        yield (id * 7 + 3 * x + 5 * y) % 256).sum
      assert((w, h, ps) == ((ew, eh, eps)),
        s"doc $id decoded ($w,$h,$ps), expected ($ew,$eh,$eps)")
    }
    // independent codec check: decode one payload OUTSIDE the Spark
    // path and sample a specific pixel
    val payload = Multimodal.pngMedia(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") === 5L).collect().head.getAs[Array[Byte]](1)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    assert(img.getWidth == 6 && img.getHeight == 6)
    assert(img.getRaster.getSample(2, 3, 0) == ((5 * 7 + 3 * 2 + 5 * 3) % 256))
  }

  test("container-header parse: a hand-built PNG header round-trips " +
    "its dimension fields, and a corrupted magic is flagged — no stub " +
    "in this path") {
    import spark.implicits._
    // byte-exact fixture: the real PNG signature, width 800 / height
    // 600 as big-endian IHDR fields, 5 body bytes
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
    def be(v: Int): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val good = sig ++ be(800) ++ be(600) ++ "hello".getBytes("UTF-8")
    val corrupt = good.clone(); corrupt(0) = 0x00 // break the magic
    val got = Multimodal.parseHeader(
      Seq((1L, good), (2L, corrupt)).toDF("doc_id", "payload"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((true, 800L, 600L, 21L)),
      s"good header parsed as ${got(1L)}")
    assert(!got(2L)._1, "corrupted magic must not validate")
    // the dimension fields still decode positionally on the corrupt
    // row — a real pipeline quarantines on magic_ok, it doesn't crash
    assert(got(2L)._2 == 800L && got(2L)._3 == 600L)
    // and the gate fixture's encode -> parse is the identity corpus-wide
    val gate = Multimodal.parseHeader(
      Multimodal.mediaWithHeader(spark, "/root/testdata/sf0.001"))
      .collect()
    assert(gate.nonEmpty && gate.forall(_.getBoolean(1)))
    gate.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) % 1000 + 1 &&
        r.getLong(3) == r.getLong(0) % 777 + 1)
    }
  }

  test("wav round trip: real JDK sound-stack decode of the generated " +
    "corpus returns the generative rate and sample stats for every " +
    "doc; header parse validates RIFF magic and the little-endian " +
    "rate field; a corrupted magic is flagged") {
    import spark.implicits._
    val media = Multimodal.wavMedia(spark, "/root/testdata/sf0.001")
    val got = graft.SparkEntry.queries("q_audio_stats")(
        spark, "/root/testdata/sf0.001").collect().map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Int]("sample_rate"),
        r.getAs[Long]("n_samples"), r.getAs[Long]("duration_us"),
        r.getAs[Int]("peak_abs"), r.getAs[Long]("abs_sum")))).toMap
    assert(got.nonEmpty)
    got.foreach { case (id, (rate, n, dur, peak, absSum)) =>
      val erate = Multimodal.WavRates((id % 4).toInt)
      val en = (id % Multimodal.MaxWavSamples + 1).toInt
      val samples = (0 until en).map(i =>
        ((id * 31 + i * 17) % 65536 - 32768).toInt)
      assert(rate == erate && n == en,
        s"doc $id decoded (rate=$rate n=$n), expected ($erate, $en)")
      assert(dur == en.toLong * 1000000L / erate)
      assert(peak == samples.map(math.abs).max,
        s"doc $id decoded peak $peak != generative")
      assert(absSum == samples.map(s => math.abs(s).toLong).sum,
        s"doc $id decoded |sample| checksum drifted")
    }
    // header parse over the corpus: encode → parse is the identity
    val hdr = Multimodal.parseWavHeader(media).collect()
    assert(hdr.nonEmpty && hdr.forall(_.getBoolean(1)))
    hdr.foreach(r => assert(r.getInt(2) ==
      Multimodal.WavRates((r.getLong(0) % 4).toInt),
      s"doc ${r.getLong(0)} header rate ${r.getInt(2)} != generative"))
    // independent codec check OUTSIDE the Spark path: the fixture
    // writes REAL RIFF containers the JDK decodes standalone
    val payload = media.filter(col("doc_id") === 5L)
      .collect().head.getAs[Array[Byte]](1)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    assert(math.round(ais.getFormat.getSampleRate) ==
      Multimodal.WavRates(1)) // 5 % 4 = 1
    assert(ais.getFrameLength == 6L) // 5 % 480 + 1
    // a corrupted magic must not validate (quarantine, not crash)
    val corrupt = payload.clone(); corrupt(0) = 'X'.toByte
    val bad = Multimodal.parseWavHeader(
      Seq((9L, corrupt)).toDF("doc_id", "payload")).collect().head
    assert(!bad.getBoolean(1), "corrupted RIFF magic validated")
    // a NON-CANONICAL chunk layout (RIFF/WAVE intact but the fmt
    // chunk not at bytes 13-16 — e.g. a LIST chunk inserted first)
    // must also flag, because the fixed-offset rate field would
    // otherwise mis-parse silently
    val shifted = payload.clone()
    "LIST".getBytes("US-ASCII").zipWithIndex.foreach {
      case (c, i) => shifted(12 + i) = c }
    val nc = Multimodal.parseWavHeader(
      Seq((9L, shifted)).toDF("doc_id", "payload")).collect().head
    assert(!nc.getBoolean(1),
      "non-canonical chunk layout validated; hdr_rate would be garbage")
  }

  test("video frame decode: sampled frames' rasters read back the " +
    "generative pixels; non-sampled frames absent; a corrupt magic " +
    "is quarantined by the scan-speed qualify, not decoded") {
    import spark.implicits._
    val media = Multimodal.videoMedia(spark, "/root/testdata/sf0.001")
    val got = Multimodal.decodeVideoFrames(media).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getInt(3), r.getLong(4), r.getInt(5)))).toMap
    assert(got.nonEmpty)
    val ids = media.select(col("doc_id")).as[Long].collect()
    ids.foreach { id =>
      val n = (id % Multimodal.VidMaxFrames + 1).toInt
      val w = (id % 5 + 2).toInt
      val h = (id % 3 + 2).toInt
      val sampled = 1 to n by Multimodal.FrameSampleEvery
      // exactly the sampled frames, nothing else
      assert(got.keys.count(_._1 == id) == sampled.size)
      sampled.foreach { f =>
        val px = for (y <- 0 until h; x <- 0 until w)
          yield ((id * 7 + 11 * f + 3 * x + 5 * y) % 256).toInt
        assert(got((id, f)) == ((w, h, px.map(_.toLong).sum, px.max)),
          s"doc $id frame $f decoded ${got((id, f))}")
      }
    }
    // corrupt magic: filtered by the qualify, never reaches the codec
    val payload = media.filter(col("doc_id") === 7L)
      .collect().head.getAs[Array[Byte]](1)
    val corrupt = payload.clone(); corrupt(0) = 'X'.toByte
    assert(Multimodal.decodeVideoFrames(
      Seq((7L, corrupt)).toDF("doc_id", "payload")).collect().isEmpty)
    // a magic-valid but truncated container fails LOUDLY in decode
    val truncated = payload.take(payload.length - 1)
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeVideoFrames(
        Seq((7L, truncated)).toDF("doc_id", "payload")).collect()
    }
    assert(ex.getMessage != null)
    // the end-of-frames classifier: ONLY the exact
    // IndexOutOfBoundsException class (the JDK reader's checkIndex
    // signal) reads as "past the last frame"; the AIOOBE subclass the
    // LZW decoder raises on a corrupt-but-trailer-intact stream must
    // rethrow (flag loudly), never ship partial per-frame stats
    assert(Multimodal.isEndOfFrames(
      new IndexOutOfBoundsException("imageIndex out of bounds!")))
    assert(!Multimodal.isEndOfFrames(
      new ArrayIndexOutOfBoundsException(4096)))
  }

  test("pagerank on a planted path graph lands on hand-computed " +
    "fixed-point micro-values; gate mass and hub ordering hold") {
    import spark.implicits._
    // path A—B—C: S = 1e12, n = 3, r0 = S/3, base = (3S/3)/20 = S/20.
    // iter 1 (floor division throughout):
    //   leaves get r_B div 2 = 166666666666 → 50e9 + (17·that) div 20
    //   B gets r_A + r_C = 666666666666 → 50e9 + (17·that) div 20
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got1 = DedupOps.pagerankOnEdges(edges, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got1 == Map(
      1L -> 191666666666L, 2L -> 616666666666L, 3L -> 191666666666L))
    val got2 = DedupOps.pagerankOnEdges(edges, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got2 == Map(
      1L -> 312083333333L, 2L -> 375833333332L, 3L -> 312083333333L))
    // gate invariants on the real corpus: total mass stays ~1.0
    // (floor losses only shrink it), symmetric structure aside the
    // max-degree hub outranks the min-degree fringe
    val gate = graft.SparkEntry.queries("q_doc_pagerank")(
      spark, "/root/testdata/sf0.001").collect()
    assert(gate.nonEmpty)
    val total = gate.map(_.getLong(2)).sum
    assert(total <= DedupOps.PrScale && total > DedupOps.PrScale * 9 / 10,
      s"rank mass $total strayed from ${DedupOps.PrScale}")
  }

  test("pivot source×lang: cells partition the per-source totals and " +
    "langs cover the corpus") {
    val sf = "/root/testdata/sf0.001"
    val gate = graft.SparkEntry.queries("q_pivot_source_lang")(spark, sf)
      .collect()
    val docs = graft.Tables(spark, sf, "documents")
    val bySrc = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gate.map(_.getString(0)).toSet == bySrc.keySet)
    gate.foreach { r =>
      assert((1 to 5).map(r.getLong).sum == bySrc(r.getString(0)))
    }
  }

  test("length quartiles: discrete rank selection lands exactly on " +
    "planted odd and even groups") {
    import spark.implicits._
    def doc(s: String, n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val docs = (
      (1 to 5).map(n => (n.toLong, "odd", doc("a", n))) ++
      Seq(10, 20, 30, 40).zipWithIndex.map { case (n, i) =>
        (100L + i, "even", doc("b", n)) })
      .toDF("doc_id", "source", "text")
    // the PRODUCTION body (named method), not a copy of its expressions
    val m = graft.operators.Analytics.lengthQuartiles(docs)
      .collect()
      .map(x => x.getString(0) -> (x.getLong(2), x.getLong(3), x.getLong(4)))
      .toMap
    assert(m("odd") == ((2L, 3L, 4L)))   // n=5: ranks 2,3,4 of 1..5
    assert(m("even") == ((10L, 20L, 30L))) // n=4: ranks 1,2,3
    // gate shape: quartiles ordered, max >= p75
    val sf = "/root/testdata/sf0.001"
    val gate = graft.SparkEntry.queries("q_length_quartiles")(spark, sf)
      .collect()
    gate.foreach { g =>
      assert(g.getLong(2) <= g.getLong(3) && g.getLong(3) <= g.getLong(4) &&
        g.getLong(4) <= g.getLong(5))
    }
  }

  test("skew profile: planted counts land exactly and the top-key tie " +
    "breaks to the smallest key") {
    import spark.implicits._
    // keys 10 and 5 tie at 4 rows each, key 9 has 2 → top_key = 5
    val df = (Seq.fill(4)(10L) ++ Seq.fill(4)(5L) ++ Seq.fill(2)(9L))
      .toDF("user_id")
    val r = SkewJoin.skewProfile(df, "user_id").collect().head
    assert(r.getLong(0) == 10 && r.getLong(1) == 3 && r.getLong(2) == 4)
    assert(r.getLong(3) == 333) // floor(10*100/3)
    assert(r.getLong(4) == 120) // floor(4*3*100/10)
    assert(r.getLong(5) == 5L)
    // gate shape: skew_x100 >= 100 by definition (max >= mean)
    val sf = "/root/testdata/sf0.001"
    val g = graft.SparkEntry.queries("q_skew_profile")(spark, sf)
      .collect().head
    assert(g.getLong(4) >= 100)
    assert(g.getLong(2) * g.getLong(1) >= g.getLong(0))
  }

  test("cohort retention: planted cohorts land exactly, offset 0 is " +
    "always 100%, rates floor against the cohort size") {
    import spark.implicits._
    val day = EventAnalytics.DayUs
    // (user, day) activity; duplicate same-day events must not inflate
    val ev = Seq(
      (1L, 0L), (1L, 0L), (1L, 1L), (1L, 2L),
      (2L, 0L), (2L, 2L),
      (3L, 1L),
      (4L, 1L), (4L, 3L), (4L, 3L))
      .map { case (u, d) => (u, d * day + 123L) }
      .toDF("user_id", "ts_us")
    val out = EventAnalytics.cohortRetention(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(
      (0L, 0L) -> (2L, 10000L), (0L, 1L) -> (1L, 5000L),
      (0L, 2L) -> (2L, 10000L),
      (1L, 0L) -> (2L, 10000L), (1L, 2L) -> (1L, 5000L)))
    // gate shape: every cohort's offset-0 rate is exactly 10000 and
    // no offset ever exceeds the cohort size
    val sf = "/root/testdata/sf0.001"
    val gate = graft.SparkEntry.queries("q_cohort_retention")(spark, sf)
      .collect()
    assert(gate.nonEmpty)
    val size = gate.filter(_.getLong(1) == 0L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    gate.foreach { r =>
      if (r.getLong(1) == 0L) assert(r.getLong(3) == 10000L)
      assert(r.getLong(2) <= size(r.getLong(0)))
    }
  }

  test("ivf balance: planted skew lands in load_pct exactly, populations " +
    "total the corpus, sim envelope is ordered") {
    import spark.implicits._
    // centroids on the axes + one anti-diagonal that captures NOTHING;
    // 6 vectors hug x, 2 hug y → loads 225/75/0 at k=3
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(-1f, -1f))).toDF("centroid_id", "cv")
    val vecs = ((0 until 6).map(i => (10L + i, Array(1f, 0.01f * i))) ++
      (0 until 2).map(i => (20L + i, Array(0.01f * i, 1f))))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.ivfBalance(vecs, cents).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out(0L).getLong(1) == 6 && out(1L).getLong(1) == 2)
    assert(out(0L).getLong(2) == 225 && out(1L).getLong(2) == 75)
    // the starved cell appears as an explicit zero row, null envelope
    assert(out(2L).getLong(1) == 0 && out(2L).getLong(2) == 0)
    assert(out(2L).isNullAt(3) && out(2L).isNullAt(4))
    Seq(0L, 1L).foreach(c =>
      assert(out(c).getDouble(3) <= out(c).getDouble(4)))
    // gate shape: cell populations partition the whole corpus
    val sf = "/root/testdata/sf0.001"
    val gate = graft.SparkEntry.queries("q_ivf_balance")(spark, sf).collect()
    val n = graft.Tables(spark, sf, "embeddings").count()
    assert(gate.map(_.getLong(1)).sum == n)
    assert(gate.map(_.getLong(0)).distinct.length == gate.length)
  }

  test("keep-best canonicalization: exactly one survivor per cluster, " +
    "and it is the longest member") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q_dedup_keep_best")(spark, sf)
      .collect()
    val n = graft.Tables(spark, sf, "documents").count()
    assert(rows.length == n) // every doc labeled exactly once
    rows.groupBy(_.getLong(1)).foreach { case (_, members) =>
      val keepers = members.filter(_.getBoolean(3))
      assert(keepers.length == 1)
      val best = members
        .map(r => (-r.getLong(2), r.getLong(0))).min
      assert((-keepers.head.getLong(2), keepers.head.getLong(0)) == best)
    }
  }

  test("edit-distance confirm: distance matches an independent JVM " +
    "Levenshtein on the planted near-dup; identical docs score zero") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = d(0); d(0) = i
        for (j <- 1 to b.length) {
          val t = d(j)
          d(j) = math.min(math.min(d(j) + 1, d(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(b.length)
    }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val cand = DedupOps.lshCandidatePairs(docs)
    val confirmed = cand
      .join(docs.select(col("doc_id").as("a"), col("text").as("ta")), "a")
      .join(docs.select(col("doc_id").as("b"), col("text").as("tb")), "b")
      .select(col("a"), col("b"), levenshtein(col("ta"), col("tb"))
        .as("edit_dist"))
      .collect()
    assert(confirmed.nonEmpty)
    confirmed.foreach { r =>
      val expected = lev(texts(r.getLong(0)), texts(r.getLong(1)))
      assert(r.getInt(2) == expected)
      assert(expected > 0 && expected <= "changed".length)
    }
    // degenerate pair: identical strings have distance exactly 0
    assert(lev(texts(0L), texts(0L)) == 0)
    val self = docs.select(levenshtein(col("text"), col("text")).as("d"))
      .agg(max(col("d"))).head.getInt(0)
    assert(self == 0)
  }

  test("banded levenshtein: PER-ROW threshold column works, the boundary " +
    "distance survives, over-cap returns -1, and the banded screened " +
    "verify equals the unscreened formulation on the gate corpus") {
    import spark.implicits._
    import graft.functions.BandedLevenshtein
    // semantics, pinned per row: ("kitten","sitting") distance is 3
    val cases = Seq(
      ("kitten", "sitting", 3), // == cap: must come back exact
      ("kitten", "sitting", 2), // < cap: capped → -1
      ("kitten", "sitting", 9), // loose cap: exact
      ("abc", "abc", 0),        // identity at the tightest cap
      ("abc", "xyz", 1)         // all-different, capped
    ).toDF("l", "r", "tau")
    val got = cases.select(
      BandedLevenshtein(spark, col("l"), col("r"), col("tau")).as("d"),
      levenshtein(col("l"), col("r")).as("full"), col("tau"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    got.foreach { case (d, full, tau) =>
      if (full <= tau) assert(d == full, s"cap $tau lost exact distance $full")
      else assert(d == -1, s"cap $tau should return -1, got $d")
    }
    // the banded screened verify (editVerify's production shape) must
    // reproduce the unscreened filter exactly on real candidates
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val txt = docs.select(col("doc_id"), col("text"))
    val minSim = DedupOps.EditScreenMinSim
    val maxLen = greatest(length(col("ta")), length(col("tb"))).cast("double")
    val full = levenshtein(col("ta"), col("tb"))
    val fullSim = lit(1.0) - full.cast("double") / maxLen
    val reference = DedupOps.lshCandidatePairs(docs)
      .join(txt.select(col("doc_id").as("a"), col("text").as("ta")), "a")
      .join(txt.select(col("doc_id").as("b"), col("text").as("tb")), "b")
      .filter(fullSim >= minSim)
      .select(col("a"), col("b"), full.cast("int").as("edit_dist"),
        round(fullSim, 6).as("edit_sim"))
      .collect().map(_.toSeq).toSet
    val banded = DedupOps.editVerify(docs, minSim)
      .collect().map(_.toSeq).toSet
    assert(banded == reference)
    assert(banded.nonEmpty)
  }

  test("ingest decision: planted docs hit every verdict in precedence " +
    "order, and the bloom prefilter never misses an exact duplicate") {
    import spark.implicits._
    val pt = DedupOps.ParaTokens
    def para(tag: String) = (1 to pt).map(i => s"$tag$i").mkString(" ")
    val base = s"${para("a")} ${para("b")} ${para("c")}"
    // 4-paragraph doc for the near-dup tier: its edited copy touches
    // every paragraph (so the paragraph stage can't fire) with 1-char
    // substitutions at shingle-cheap positions (doc edges + paragraph
    // starts), keeping minhash banding intact and edit_sim >= 0.9
    val base4 = Seq("d", "e", "f", "g").map(para).mkString(" ")
    val near = base4
      .replaceFirst("d1 ", "dX ").replaceFirst("e1 ", "eX ")
      .replaceFirst("f1 ", "fX ").replaceFirst(s"g$pt", "gX")
    val corpus = Seq((1L, base), (2L, para("z")), (3L, base4))
      .toDF("doc_id", "text")
    val lowQ = (1 to 4 * pt).map(_ => "zzzzzzzzzz").mkString(" ")
    val good = (1 to pt).flatMap(i => Seq("the", s"w$i")).mkString(" ")
    val batch = Seq(
      (100L, base),                   // verbatim corpus copy
      (101L, s"${para("q")} ${para("b")}"), // shares one paragraph
      (102L, lowQ),                   // fresh but junk
      (103L, good),                   // fresh and clean
      (104L, near)                    // edited copy: every para touched
    ).toDF("doc_id", "text")
    val out = DedupOps.ingestDecide(corpus, batch).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(out(100L)._2 == "exact_dup")
    assert(out(101L)._2 == "paragraph_dup")
    assert(out(102L)._2 == "low_quality")
    assert(out(103L)._2 == "accept")
    assert(out(104L)._2 == "near_dup")
    // the bloom screen's zero-false-negative contract: an exact
    // duplicate can never be filtered out by the prefilter
    assert(out(100L)._1, "exact duplicate missed by the bloom prefilter")
    // precedence: an exact copy also shares paragraphs and would fail
    // no quality gate — the verdict must still be the FIRST stage
    assert(out.values.count(_._2 == "exact_dup") == 1)
  }

  test("count-min sketch: estimates match an independent JVM sketch " +
    "exactly and the one-sided error invariant holds") {
    val sf = "/root/testdata/sf0.001"
    val users = graft.Tables.events(spark, sf)
      .select("user_id").collect().map(_.getLong(0))
    // plain-Scala reference sketch with the same hash family
    val sk = Array.fill(EventAnalytics.CmDepth, EventAnalytics.CmWidth)(0L)
    users.foreach { u =>
      (0 until EventAnalytics.CmDepth).foreach { i =>
        val b = (((u * EventAnalytics.CmA(i) + EventAnalytics.CmB(i))
          % EventAnalytics.CmP) % EventAnalytics.CmWidth).toInt
        sk(i)(b) += 1
      }
    }
    val exact = users.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = graft.SparkEntry.queries("q_sketch_cm")(spark, sf).collect()
    assert(rows.length == exact.size)
    rows.foreach { r =>
      val u = r.getLong(0)
      val est = (0 until EventAnalytics.CmDepth).map { i =>
        sk(i)((((u * EventAnalytics.CmA(i) + EventAnalytics.CmB(i))
          % EventAnalytics.CmP) % EventAnalytics.CmWidth).toInt)
      }.min
      assert(r.getLong(1) == exact(u))
      assert(r.getLong(2) == est)
      assert(r.getLong(3) >= 0L) // cm_est >= exact, always
    }
  }

  test("label noise: a planted mislabeled vector is flagged by its " +
    "neighbors' majority and clean vectors are not") {
    import spark.implicits._
    // two tight clusters on orthogonal axes; 8-dim
    def vecA(eps: Float) = Array(1f, eps, 0f, 0f, 0f, 0f, 0f, 0f)
    def vecB(eps: Float) = Array(eps, 1f, 0f, 0f, 0f, 0f, 0f, 0f)
    val rows = Seq(
      (0L, vecA(0f), 0), (1L, vecB(0f), 1),
      (2L, vecA(0.01f), 0), (3L, vecA(0.02f), 0), (4L, vecA(0.03f), 0),
      (5L, vecB(0.01f), 1), (6L, vecB(0.02f), 1), (7L, vecB(0.03f), 1),
      // planted: sits in cluster A, labeled 1
      (10L, vecA(0.015f), 1))
    val e = rows.toDF("vec_id", "embedding", "label")
    val centroids = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val out = SimilarityOps.labelNoise(e, centroids, 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(3), r.getInt(5))).toMap
    // the planted vector: own label 1, neighbor majority 0, flagged
    assert(out(10L) == ((1, 0, 1)))
    // every clean member agrees with its cluster
    (Seq(0L, 2L, 3L, 4L).map(out) ++ Seq(1L, 5L, 6L, 7L).map(out)).foreach {
      case (own, maj, noisy) => assert(own == maj && noisy == 0)
    }
    // gate shape: report covers non-singleton cells, votes bounded by k
    val g = graft.SparkEntry.queries("q_label_noise")(
      spark, "/root/testdata/sf0.001").collect()
    assert(g.nonEmpty)
    assert(g.forall(r => r.getLong(4) >= 1 &&
      r.getLong(4) <= SimilarityOps.LabelNoiseK))
    assert(g.forall(r => (r.getInt(5) == 1) == (r.getInt(1) != r.getInt(3))))
  }

  test("label centroids: match an independent JVM mean per (label, dim) " +
    "and the member counts partition the corpus") {
    val sf = "/root/testdata/sf0.001"
    val vecs = graft.Tables(spark, sf, "embeddings")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val byLabel = vecs.groupBy(_._1)
    val rows = graft.SparkEntry.queries("q_label_centroids")(spark, sf).collect()
    val dim = vecs.head._2.length
    assert(rows.length == byLabel.size * dim)
    rows.foreach { r =>
      val (l, d) = (r.getInt(0), r.getInt(1))
      val members = byLabel(l)
      val mean = members.map(_._2(d).toDouble).sum / members.length
      assert(math.abs(r.getDouble(2) - mean) < 1e-6,
        s"centroid mismatch at ($l,$d)")
      assert(r.getLong(3) == members.length)
    }
    // member counts over any one dim partition the corpus exactly
    assert(rows.filter(_.getInt(1) == 0).map(_.getLong(3)).sum == vecs.length)
  }

  test("ivfpq rerank: final order is the exact cosine order of the ADC " +
    "shortlist, ranks contiguous, scores non-increasing") {
    val sf = "/root/testdata/sf0.001"
    val e = graft.Tables(spark, sf, "embeddings")
    val probes = e.filter(col("vec_id") < SimilarityOps.NumProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val centroids = e.filter(col("vec_id") < SimilarityOps.NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val shortlist = SimilarityOps.ivfPqSearch(e, centroids, probes,
      SimilarityOps.NumProbeCells, SimilarityOps.RerankShortlist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      a.indices.foreach { i =>
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val out = SimilarityOps.ivfPqRerank(e, centroids, probes,
      SimilarityOps.NumProbeCells, SimilarityOps.RerankShortlist,
      SimilarityOps.TopK).collect()
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      // contiguous final ranks 1..k
      assert(rows.map(_.getInt(2)).sorted.toSeq ==
        (1 to math.min(SimilarityOps.TopK, shortlist(q).size)))
      // the winners ARE the exact-cosine top of the shortlist
      val exactOrder = shortlist(q).toSeq
        .map(id => (id, cos(vecs(q), vecs(id))))
        .sortBy { case (id, c) => (-c, id) }
        .take(SimilarityOps.TopK).map(_._1)
      assert(rows.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq == exactOrder)
      // every reranked row came from the shortlist
      rows.foreach(r => assert(shortlist(q).contains(r.getLong(1))))
    }
  }

  test("label predict: confusion matrix matches a JVM replay of the " +
    "prototype classifier and the classes are separable") {
    val sf = "/root/testdata/sf0.001"
    val vecs = graft.Tables(spark, sf, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val dim = vecs.head._3.length
    // prototypes: 6-dp-quantized means cast to float, as the query pins
    val protos = vecs.groupBy(_._2).view.mapValues { m =>
      Array.tabulate(dim) { d =>
        val mean = m.map(_._3(d).toDouble).sum / m.length
        (BigDecimal(mean).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble).toFloat
      }
    }.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      a.indices.foreach { i =>
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = vecs.groupBy { case (_, l, v) =>
      val pred = protos.toSeq
        .map { case (pl, pv) => (pl, cos(pv, v)) }
        .minBy { case (pl, c) => (-c, pl) }._1
      (l, pred)
    }.view.mapValues(_.length.toLong).toMap
    val rows = graft.SparkEntry.queries("q_label_predict")(spark, sf).collect()
    val got = rows.map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == expect)
    rows.foreach(r =>
      assert((r.getInt(3) == 1) == (r.getInt(0) == r.getInt(1))))
    // the classifier must beat chance clearly (10 labels → 10%
    // random accuracy; the synthetic labels are only weakly clustered)
    val correct = rows.filter(_.getInt(3) == 1).map(_.getLong(2)).sum
    assert(correct > vecs.length * 0.2,
      s"prototype accuracy $correct/${vecs.length} not above chance")
  }

  test("events anomaly screen: flags match an independent JVM z-test " +
    "over exact hourly counts") {
    val sf = "/root/testdata/sf0.001"
    val hourly = graft.Tables.events(spark, sf)
      .select("event_type", "ts_us").collect()
      .map(r => (r.getString(0), r.getLong(1) / EventAnalytics.HourUs))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val byType = hourly.groupBy(_._1._1)
    val rows = graft.SparkEntry.queries("q_events_anomaly")(spark, sf).collect()
    assert(rows.length == hourly.size)
    rows.foreach { r =>
      val (t, hr, c) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(hourly((t, hr)) == c)
      val cs = byType(t).values.toSeq
      val (n, sumC, sumC2) =
        (cs.length.toLong, cs.sum, cs.map(x => x * x).sum)
      val dev = BigInt(c * n - sumC)
      assert(r.getLong(3) == (c * n - sumC))
      val expect =
        if (dev * dev > 9 * (BigInt(n) * sumC2 - BigInt(sumC) * sumC)) 1 else 0
      assert(r.getInt(4) == expect, s"flag mismatch for ($t,$hr)")
    }
    // the screen must actually discriminate at this scale: some hours
    // flagged, most not (a degenerate all-0/all-1 screen is useless)
    val flagged = rows.count(_.getInt(4) == 1)
    assert(flagged > 0 && flagged < rows.length)
  }

  test("matryoshka shortlist: flags reconcile with the exact full-dim " +
    "top-k and the prefix ranking retains most of it") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < SimilarityOps.NumProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val out = SimilarityOps.matryoshkaTopK(emb, probes,
      SimilarityOps.RerankShortlist, SimilarityOps.TopK).collect()
    // shortlist shape: exactly `shortlist` rows per query, ranks 1..n
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == SimilarityOps.NumProbes)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(2)).sorted.toSeq ==
        (1 to SimilarityOps.RerankShortlist))
    }
    // in_full_topk reconciles with the independently computed exact cut
    val full = SimilarityOps.bruteForceTopK(emb, probes, SimilarityOps.TopK)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(r.getBoolean(5) == full.contains(key),
        s"flag mismatch for $key")
    }
    // the shortlist IS the prefix ranking: replay the truncated
    // cosine and its (cos desc, vec_id) tie-break in plain JVM math
    // and demand the identical (neighbor, rnk) assignment. (A quality
    // bar on retention would be data-dependent — these synthetic
    // vectors are not MRL-trained, so the prefix carries no special
    // information; retention here measures geometry, not a bug.)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosPrefix(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < SimilarityOps.MrlDim) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    (0L until SimilarityOps.NumProbes).foreach { qid =>
      val expect = vecs.keys.filter(_ != qid).toSeq
        .map(v => (v, cosPrefix(vecs(qid), vecs(v))))
        .sortBy { case (v, c) => (-c, v) }
        .take(SimilarityOps.RerankShortlist)
        .zipWithIndex.map { case ((v, _), i) => (v, i + 1) }.toMap
      val got = out.filter(_.getLong(0) == qid)
        .map(r => r.getLong(1) -> r.getInt(2)).toMap
      assert(got == expect, s"prefix ranking mismatch for query $qid")
    }
  }

  test("boilerplate paragraphs: planted shared header surfaces with " +
    "exact df/source counts, below-threshold repeats do not") {
    import spark.implicits._
    val header = (1 to DedupOps.ParaTokens).map(i => s"h$i").mkString(" ")
    val pair = (1 to DedupOps.ParaTokens).map(i => s"p$i").mkString(" ")
    def body(tag: String) =
      (1 to DedupOps.ParaTokens).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (0L, s"$header ${body("a")}", "s1"),
      (1L, s"$header ${body("b")}", "s1"),
      (2L, s"$header ${body("c")}", "s2"),
      (3L, s"$pair ${body("d")}", "s2"), // pair appears in only 2 docs
      (4L, s"$pair ${body("e")}", "s2")
    ).toDF("doc_id", "text", "source")
    val out = DedupOps.boilerplateParagraphs(docs).collect()
    assert(out.length == 1, s"expected only the header: ${out.toSeq}")
    val r = out.head
    assert(r.getAs[Long]("n_occ") == 3L)
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_sources") == 2L)
    assert(r.getAs[Long]("example_doc") == 0L)
    val expectHash = java.security.MessageDigest.getInstance("MD5")
      .digest(header.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getAs[String]("h") == expectHash)
  }

  test("chunk contamination: a phase-shifted verbatim span of " +
    "window+stride-1 tokens is caught, a window-sized one off-grid is " +
    "not, clean docs are clean") {
    import spark.implicits._
    val (w, st) = (CurationOps.ChunkWindow, CurationOps.ChunkStride)
    val bTokens = (1 to 120).map(i => s"b$i")
    val bench = Seq((100L, bTokens.mkString(" "))).toDF("doc_id", "text")
    def filler(tag: String, n: Int) = (1 to n).map(i => s"$tag$i")
    // X: 95-token (= w + st - 1) span copied at MISALIGNED offset 17 —
    // pigeonhole guarantees a corpus-grid window inside the span
    val x = (filler("x", 17) ++ bTokens.slice(10, 105) ++
      filler("y", 20)).mkString(" ")
    // Y: exactly window-sized span at offset 17 — no grid window fits
    // inside it, so the screen (correctly, per contract) misses it
    val y = (filler("p", 17) ++ bTokens.slice(10, 74) ++
      filler("q", 40)).mkString(" ")
    val z = filler("z", 100).mkString(" ")
    val docs = Seq((0L, x), (1L, y), (2L, z)).toDF("doc_id", "text")
    val out = DedupOps.chunkContamination(docs, bench).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(0L -> true, 1L -> false, 2L -> false))

    // the benchmark-side report sees the SAME leak: bench doc 100 is
    // compromised, by exactly one corpus doc, with >= 1 hit window
    val rep = DedupOps.contaminationReport(docs, bench).collect()
    assert(rep.length == 1)
    val r100 = rep.head
    assert(r100.getLong(0) == 100L && r100.getBoolean(4))
    assert(r100.getLong(3) == 1L) // only doc X leaked it
    assert(r100.getLong(2) >= 1 && r100.getLong(2) < r100.getLong(1))
    // duality on real data: a leak exists corpus-side iff it exists
    // bench-side (same hash-set intersection read from both ends)
    val sf = "/root/testdata/sf0.001"
    val corpusSide = graft.SparkEntry.queries("q_chunk_contamination")(spark, sf)
      .collect().exists(_.getBoolean(3))
    val benchSide = graft.SparkEntry.queries("q_contamination_report")(spark, sf)
      .collect().exists(_.getBoolean(4))
    assert(corpusSide == benchSide)
  }

  test("hard negatives: never the query's own label, and the ranking " +
    "replays exactly in JVM arithmetic") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < SimilarityOps.NumProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val out = SimilarityOps.hardNegatives(emb, probes, SimilarityOps.TopK)
      .collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getInt(4) != r.getInt(5),
      s"negative shares the query label: $r"))

    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val byId = rows.map(t => t._1 -> t).toMap
    def cosF(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    (0L until SimilarityOps.NumProbes).foreach { qid =>
      val (_, qv, ql) = byId(qid)
      val expect = rows
        .filter(t => t._1 != qid && t._3 != ql)
        .map(t => (t._1, cosF(qv, t._2)))
        .sortBy { case (v, c) => (-c, v) }
        .take(SimilarityOps.TopK)
        .zipWithIndex.map { case ((v, _), i) => (v, i + 1) }.toMap
      val got = out.filter(_.getLong(0) == qid)
        .map(r => r.getLong(1) -> r.getInt(2)).toMap
      assert(got == expect, s"hard-negative ranking mismatch for query $qid")
    }
  }

  test("lsh recall curve: buckets reconcile with an independent JVM " +
    "pair inventory and exact duplicates are always found") {
    // doc_ids chosen INSIDE the deterministic md5(doc_id) recall
    // sample (leading hex of md5("6")/"19"/"21"/"23" is 1/1/3/3 <
    // '4'); doc 0 (md5 'c…') is OUTSIDE it — a third copy of `base`
    // that would add J=1.0 pairs if the sample predicate ever
    // stopped filtering, which the exact bucket counts would catch.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok7", "x") // J ≈ 0.85 → bucket 8
    val onehit = (1 to 37).map(i => s"z$i").mkString(" ") +
      " tok1 tok2 tok3" // shares exactly one shingle → bucket 0
    val d4 = Seq((6L, base), (19L, near), (21L, base), (23L, onehit),
      (0L, base))
      .toDF("doc_id", "text")

    val cand = DedupOps.lshCandidatePairs(d4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def shs(t: String): Set[String] =
      t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    // the JVM inventory covers the SAMPLED docs only — doc 0's pairs
    // must not appear in the curve
    val texts = Map(6L -> base, 19L -> near, 21L -> base, 23L -> onehit)
    val expected = (for {
      a <- texts.keys.toSeq; b <- texts.keys.toSeq if a < b
      ia = shs(texts(a)); ib = shs(texts(b))
      inter = (ia & ib).size if inter >= 1
    } yield {
      val j = inter.toDouble / (ia.size + ib.size - inter)
      (math.floor(j * 10).toInt, cand.contains((a, b)))
    }).toSeq
    val expByBucket = expected.groupBy(_._1).map { case (k, vs) =>
      k -> ((vs.size.toLong, vs.count(_._2).toLong)) }

    val got = DedupOps.lshRecallCurve(d4).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expByBucket)
    // the J = 1.0 bucket: identical docs have identical signatures,
    // so every band collides — recall there can never be < 1
    assert(got(10) == ((1L, 1L)))
  }

  test("edit verify screen: output identical to computing every " +
    "distance then filtering, and the screen path is exercised") {
    // (1,2): near-dup, qualifies. (1,3): base + a 25% suffix — banded
    // (the shared 120-token prefix dominates every minhash band) but
    // its length gap alone caps edit_sim below the threshold, so the
    // screen must skip its DP *and* that must not change the output.
    val base = (1 to 120).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok7 ", "zz ") // exact token only (not tok70…79)
    val long = base + " " + (1 to 30).map(i => s"extra$i").mkString(" ")
    val fix = Seq((1L, base), (2L, near), (3L, long)).toDF("doc_id", "text")
    val texts = Map(1L -> base, 2L -> near, 3L -> long)
    val tau = DedupOps.EditScreenMinSim

    val cand = DedupOps.lshCandidatePairs(fix).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 3L)),
      "fixture must band (base, long) so the screen has a pair to skip")
    assert(math.abs(base.length - long.length) > (1 - tau) * long.length,
      "fixture pair (1,3) must violate the length screen")

    def lev(a: String, b: String): Int = {
      val prev = Array.range(0, b.length + 1)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(cur, 0, prev, 0, b.length + 1)
      }
      prev(b.length)
    }
    val expected = cand.flatMap { case (a, b) =>
      val d = lev(texts(a), texts(b))
      val mx = math.max(texts(a).length, texts(b).length).toDouble
      val sim = 1.0 - d / mx
      if (sim >= tau)
        Some((a, b, d,
          BigDecimal(sim).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      else None
    }
    val got = DedupOps.editVerify(fix, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(got == expected)
    assert(got.exists(_._1 == 1L), "the qualifying near-dup must survive")
  }

  test("source overlap: merged source signature == element-wise min of " +
    "per-doc signatures, and exact jaccard matches planted overlap") {
    // sources A and B each hold 2 docs; A∩B share doc body `common`
    val common = (1 to 30).map(i => s"shared$i").mkString(" ")
    val onlyA = (1 to 30).map(i => s"aonly$i").mkString(" ")
    val onlyB = (1 to 30).map(i => s"bonly$i").mkString(" ")
    val docs = Seq(
      (0L, common, "A"), (1L, onlyA, "A"),
      (2L, common, "B"), (3L, onlyB, "B")
    ).toDF("doc_id", "text", "source")

    val out = DedupOps.sourceOverlap(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("source_a") == "A" &&
      r.getAs[String]("source_b") == "B")
    // 28 shingles per 30-token doc; shared set = common's 28, each
    // source's union = 56 distinct → J = 28 / (56 + 56 - 28)
    assert(r.getAs[Long]("inter") == 28L)
    assert(math.abs(r.getAs[Double]("jaccard") - 28.0 / 84.0) < 1e-6)
    val agree = r.getAs[Int]("n_agree")
    assert(agree >= 0 && agree <= DedupOps.MinhashSeeds)
    assert(r.getAs[Double]("est_jaccard") ==
      agree.toDouble / DedupOps.MinhashSeeds)

    // THE property that makes per-source sketches maintainable at
    // scale: the union signature equals the element-wise min of the
    // per-doc signatures (min is associative/commutative), so shard
    // partials merge without re-scanning text. Compute per-doc sigs
    // independently and fold them per source.
    val perDoc = DedupOps.minhashSignatures(DedupOps.shingleSets(
      docs.select("doc_id", "text")))
      .join(docs.select("doc_id", "source"), "doc_id")
    val merged = perDoc.groupBy(col("source"))
      .agg(min(col("mh0")).as("mh0"),
        (1 until DedupOps.MinhashSeeds).map(j =>
          min(col(s"mh$j")).as(s"mh$j")): _*)
      .collect().map(r0 => r0.getString(0) ->
        (0 until DedupOps.MinhashSeeds).map(j =>
          r0.getAs[String](s"mh$j"))).toMap
    val sh = docs.select(col("source"),
      explode(array_distinct(graft.functions.TextVec.shingles(
        split(col("text"), " "), 3))).as("sh")).distinct()
    val direct = sh
      .select(col("source"), sha2(col("sh").cast("binary"), 256).as("h"))
      .groupBy(col("source"))
      .agg(min(substring(col("h"), 1, 8)).as("mh0"),
        (1 until DedupOps.MinhashSeeds).map(j =>
          min(substring(col("h"), j * 8 + 1, 8)).as(s"mh$j")): _*)
      .collect().map(r0 => r0.getString(0) ->
        (0 until DedupOps.MinhashSeeds).map(j =>
          r0.getAs[String](s"mh$j"))).toMap
    assert(merged == direct)
  }

  // shared by the kNN-graph and bitext replays: bitwise-identical to
  // CosineSimilarity's sequential fold
  private def cosF(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** JVM nearest-centroid cell assignment matching cellMembers. */
  private def jvmCells(rows: Array[(Long, Array[Float])])
      : Map[Long, Long] = {
    val cents = rows.filter(_._1 < SimilarityOps.NumCentroids)
    rows.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cid, cosF(cv, v)) }
        .sortBy { case (cid, c) => (-c, cid) }.head._1
    }.toMap
  }

  test("mutual-kNN graph: the edge set replays exactly in JVM " +
    "arithmetic — cell-confined, reciprocal, one row per edge") {
    val sf = "/root/testdata/sf0.001"
    val embDf = graft.Tables(spark, sf, "embeddings")
    val out = SimilarityOps.knnGraph(embDf,
      embDf.filter(col("vec_id") < SimilarityOps.NumCentroids)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv")),
      SimilarityOps.KnnGraphK).collect()
    assert(out.nonEmpty)

    val rows = embDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val byId = rows.toMap
    val cell = jvmCells(rows)
    val byCell = rows.groupBy(t => cell(t._1))
    val topk: Map[Long, Seq[Long]] = rows.map { case (id, v) =>
      id -> byCell(cell(id)).filter(_._1 != id)
        .map { case (nid, nv) => (nid, cosF(v, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }
        .take(SimilarityOps.KnnGraphK).map(_._1).toSeq
    }.toMap
    val expect = (for {
      (a, nbrs) <- topk.toSeq; b <- nbrs
      if a < b && topk(b).contains(a)
    } yield (a, b)).toSet
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, "mutual edge set mismatch vs JVM replay")
    out.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(cell(a) == cell(b) && r.getLong(3) == cell(a),
        s"edge ($a,$b) not confined to its JVM cell")
      assert(r.getDouble(2) == round6(cosF(byId(a), byId(b))),
        s"edge ($a,$b) sim diverges from the JVM cosine")
    }
  }

  test("bitext mining: margins, best-match election and mutual flags " +
    "replay exactly in JVM arithmetic") {
    val sf = "/root/testdata/sf0.001"
    val embDf = graft.Tables(spark, sf, "embeddings")
    val k = SimilarityOps.BitextMineK
    val out = SimilarityOps.bitextMine(embDf,
      embDf.filter(col("vec_id") < SimilarityOps.NumCentroids)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv")),
      k).collect()
    assert(out.nonEmpty)

    val rows = embDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cell = jvmCells(rows)
    val pairs = for {
      (a, av) <- rows.toSeq if a % 2 == 0
      (b, bv) <- rows.toSeq if b % 2 == 1 && cell(a) == cell(b)
    } yield (a, b, cosF(av, bv))
    // neighborhood means fold in (cos, id)-ASCENDING order — the
    // sort_array/list(ORDER BY) order both engines use
    def nbrMean(sel: ((Long, Long, Double)) => Long,
        other: ((Long, Long, Double)) => Long): Map[Long, Double] =
      pairs.groupBy(sel).map { case (id, ps) =>
        val top = ps.sortBy(p => (-p._3, other(p))).take(k)
        val sorted = top.sortBy(p => (p._3, other(p)))
        id -> sorted.foldLeft(0.0)(_ + _._3) / top.length
      }
    val fm = nbrMean(_._1, _._2)
    val bm = nbrMean(_._2, _._1)
    val margins = pairs.flatMap { case (a, b, c) =>
      val denom = fm(a) + bm(b)
      if (denom > 0) Some((a, b, c, c / (denom / 2))) else None
    }
    val bestA = margins.groupBy(_._1).map { case (a, ms) =>
      a -> ms.minBy(m => (-m._4, m._2))
    }
    val bestB = margins.groupBy(_._2).map { case (b, ms) =>
      b -> ms.minBy(m => (-m._4, m._1))
    }
    val expect = bestA.map { case (a, (_, b, c, mg)) =>
      a -> (b, round6(c), round6(mg), bestB(b)._1 == a)
    }
    val got = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(got == expect, "bitext mining mismatch vs JVM replay")
    // the margin rule demotes at least some raw-cosine favorites:
    // mining is not just argmax cosine (otherwise the denominator is
    // dead weight) — sanity that the normalization does something on
    // real data, while every margin stays positive-finite
    assert(got.values.forall(v => v._3 > 0 && !v._3.isInfinite))
  }

  test("volume trend: the OLS slope fraction replays exactly in JVM " +
    "integer arithmetic, including a negative (declining) slope") {
    val sf = "/root/testdata/sf0.001"
    val dayUs = 24L * 3600 * 1000 * 1000
    val got = graft.SparkEntry.queries("q_volume_trend")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5))).toMap
    assert(got.nonEmpty)
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("ts_us")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expect = ev.groupBy(_._1).map { case (tpe, rows) =>
      val byDay = rows.groupBy(_._2 / dayUs).map { case (d, v) =>
        (d, v.length.toLong)
      }.toSeq
      val minDay = byDay.map(_._1).min
      val xs = byDay.map { case (d, c) => (d - minDay, c) }
      val n = xs.length.toLong
      val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
      val sxy = xs.map(t => t._1 * t._2).sum
      val sxx = xs.map(t => t._1 * t._1).sum
      val num = n * sxy - sx * sy
      val den = n * sxx - sx * sx
      // Scala Long division truncates toward zero — the same rule as
      // Spark DIV and DuckDB // (both verified truncating)
      tpe -> (n, num, den, if (den != 0) 100 * num / den else 0L, num > 0)
    }
    assert(got == expect, "trend fractions diverge from the JVM OLS")
    assert(got.values.exists(!_._5) && got.values.exists(_._5),
      "fixture lacks both rising and declining types — test weakened")
  }

  test("misra-gries: guarantees hold for every partitioning and merge " +
    "tree of an adversarial stream, and the trim paths really run") {
    import graft.functions.{FrequentItems, FrequentItemsAggregator}
    val k = 4
    val agg = new FrequentItemsAggregator(k)
    // planted heavies (35% + 15%) over a long tail of singletons —
    // tail cardinality >> k forces the decrement path, and merging
    // partials with disjoint tails forces the merge-trim path
    val rng = new scala.util.Random(7)
    val stream = rng.shuffle(
      Seq.fill(70)("hot") ++ Seq.fill(30)("warm") ++
        (0 until 100).map(i => s"tail$i"))
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    (0 until 20).foreach { trial =>
      val r = new scala.util.Random(trial)
      // random chop into 1..8 partitions, each reduced in 1..5 chunks,
      // then merged left or right at random — an arbitrary merge tree
      val parts = stream.grouped(1 + r.nextInt(25)).toSeq
      val bufs = parts.map { p =>
        p.grouped(1 + r.nextInt(5)).foldLeft(agg.zero)(agg.reduce)
      }
      val merged = bufs.reduce { (a, b) =>
        if (r.nextBoolean()) agg.merge(a, b) else agg.merge(b, a)
      }
      assert(merged.n == n)
      assert(merged.items.size <= k)
      truth.foreach { case (item, c) =>
        val est = merged.items.getOrElse(item, 0L)
        assert(est <= c && c - est <= n / (k + 1),
          s"trial $trial: $item est=$est true=$c")
        if (c * (k + 1) > n)
          assert(merged.items.contains(item),
            s"trial $trial: heavy hitter $item lost")
      }
    }
    // exact when the key space fits: no decrement can ever fire
    val small = Seq.fill(5)("a") ++ Seq.fill(3)("b")
    val exact = agg.reduce(agg.zero, small)
    assert(exact.items == Map("a" -> 5L, "b" -> 3L) && exact.n == 8)
  }

  test("sketch freq gate: flags all true, heavies exist (not vacuous), " +
    "and the sketch is genuinely smaller than the trigram vocabulary") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q_sketch_freq")(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getBoolean(2)), "sketch_n_ok")
    assert(rows.forall(_.getBoolean(4)), "all_heavy_found")
    assert(rows.forall(_.getBoolean(5)), "under_bound_ok")
    assert(rows.map(_.getLong(3)).sum > 0, "no heavy hitters anywhere — " +
      "the membership audit is vacuous; re-tune FreqK to the corpus")
    // the sketch must compress: distinct trigrams per source must
    // exceed k, else MG is just an exact map and the test is weak
    val vocab = graft.Tables(spark, sf, "documents")
      .select(col("source"),
        explode(EventAnalytics.trigrams(spark, col("text"))).as("g"))
      .groupBy(col("source"))
      .agg(countDistinct(col("g")).as("v")).collect()
    assert(vocab.forall(_.getLong(1) > EventAnalytics.FreqK),
      "trigram vocab no longer exceeds FreqK — sketch runs exact")
  }

  test("k-center selection: the greedy farthest-first choice replays " +
    "exactly in JVM arithmetic and the coverage radius is monotone") {
    val sf = "/root/testdata/sf0.001"
    val e = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    var centers = Vector(0L)
    var expect = Vector.empty[(Int, Long)]
    (1 until SimilarityOps.KCenterK).foreach { r =>
      val (far, _) = e.toSeq.filterNot(kv => centers.contains(kv._1))
        .map { case (v, ev) =>
          (v, centers.map(c => cos(e(c), ev)).max)
        }.minBy { case (v, m) => (m, v) }
      centers = centers :+ far
      expect = expect :+ ((r, far))
    }
    val got = SimilarityOps.kCenterSelect(
      graft.Tables(spark, sf, "embeddings"), SimilarityOps.KCenterK)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    assert(got.toVector == ((0, 0L) +: expect),
      "greedy selection diverges from the JVM replay")
    val sims = SimilarityOps.kCenterSelect(
      graft.Tables(spark, sf, "embeddings"), SimilarityOps.KCenterK)
      .collect().filter(!_.isNullAt(2)).sortBy(_.getInt(0)).map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a <= b },
      "coverage radius must shrink (max_sim non-decreasing) round by round")
  }

  test("k-center incremental fold: each round joins a ONE-row broadcast " +
    "center with no aggregate, and the running max equals the " +
    "all-centers max") {
    val sf = "/root/testdata/sf0.001"
    val e = graft.Tables(spark, sf, "embeddings")
    val cv = e.filter(col("vec_id") === 3L).select(col("embedding").as("cv"))
    assert(cv.count() == 1, "the round's center side must be ONE row")
    val best0 = e.filter(col("vec_id") =!= 0L && col("vec_id") =!= 3L)
      .select(col("vec_id"), col("embedding"),
        lit(Double.NegativeInfinity).as("maxsim"))
    val up = SimilarityOps.kCenterUpdate(
      SimilarityOps.kCenterUpdate(best0,
        e.filter(col("vec_id") === 0L).select(col("embedding").as("cv"))),
      cv)
    val plan = up.queryExecution.executedPlan.toString
    // the O(k²·n) trap re-aggregated max(cos) over ALL centers every
    // round; the fold must stay aggregate-free map-side arithmetic
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"incremental coverage fold must not aggregate:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"center fold must be a broadcast join of the 1-row side:\n$plan")
    // running fold == max over the center set, value for value
    val viaFold = up.collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val emb = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    viaFold.foreach { case (v, m) =>
      val exact = Seq(0L, 3L).map(c => cos(emb(c), emb(v))).max
      assert(m == exact, s"vec $v: fold $m != all-centers max $exact")
    }
  }

  test("label propagation: planted chain spreads round by round, " +
    "assigned labels freeze, and equal votes break by label order") {
    // path 0-1-2-3 from seed 0 ("a"): round r labels vertex r.
    // vertex 6 sees seeds 5 ("b") and 10 ("c") with one vote each →
    // tie-break takes "b". vertex 7 hangs off 6 → gets "b" in round
    // 2 (frozen 6 keeps "b" regardless of later neighbors).
    // true labels are set to the EXPECTED spread so is_correct
    // doubles as the assertion on label_pred values.
    val e = Seq(
      (0L, "a"), (1L, "a"), (2L, "a"), (3L, "a"),
      (5L, "b"), (10L, "c"), (6L, "b"), (7L, "b"),
      (11L, "x") // isolated: must end 'none' with NULL prediction
    ).toDF("vec_id", "label")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L),
      (5L, 6L), (6L, 10L), (6L, 7L)).toDF("a", "b")
    val got = SimilarityOps.labelPropagate(e, edges, 3).collect()
      .map(r => r.getLong(0) ->
        (Option(r.getString(1)), r.getString(2), r.getBoolean(3))).toMap
    assert(got(0L) == (Some("a"), "seed", true))
    assert(got(1L) == (Some("a"), "round1", true))
    assert(got(2L) == (Some("a"), "round2", true))
    assert(got(3L) == (Some("a"), "round3", true))
    assert(got(6L) == (Some("b"), "round1", true),
      "tie between b and c must break to the smaller label")
    assert(got(7L) == (Some("b"), "round2", true))
    assert(got(11L) == (None, "none", false))
  }

  test("winnowing boundaries: texts shorter than one gram or one " +
    "window yield empty fingerprints, not errors or descending seqs") {
    import graft.operators.TextOps._
    val got = winnowFingerprints(Seq(
      (1L, ""), (2L, "abc"),            // shorter than one 5-gram
      (3L, "abcdefg"),                  // 3 grams, under one window
      (4L, "abcdefgh")                  // exactly one window
    ).toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3)))
      .toMap
    assert(got(1L) == (0, 0, 0) && got(2L) == (0, 0, 0))
    assert(got(3L) == (3, 0, 0),
      "3 grams < window size must select nothing")
    assert(got(4L) == (4, 1, 1),
      "the t = k+w-1 = 8-char minimum must yield exactly one pick")
  }

  test("native winnow_select expression == the interpreted HOF " +
    "composition it replaced, on boundary lengths, multi-byte unicode " +
    "and the real corpus") {
    import graft.operators.TextOps._
    // the ORIGINAL four-deep HOF formulation, kept inline as the
    // independent reference (the production path now runs the fused
    // graft.functions.WinnowSelect expression)
    def hofSel(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val nGrams = length(col("text")) - (WinnowK - 1)
      val encs = when(nGrams >= 1,
        transform(sequence(lit(1), nGrams), i =>
          shiftleft(conv(substring(md5(col("text").substr(i, lit(WinnowK))
            .cast("binary")), 1, 6), 16, 10).cast("long"), WinnowPosBits) +
            (lit(WinnowPosMax) - i)))
        .otherwise(array().cast("array<bigint>"))
      val nWin = greatest(size(col("encs")) - (WinnowW - 1), lit(0))
      df.select(col("doc_id"), encs.as("encs"))
        .select(col("doc_id"),
          when(nWin >= 1,
            array_distinct(transform(sequence(lit(1), nWin), p =>
              array_min(slice(col("encs"), p, lit(WinnowW))))))
            .otherwise(array().cast("array<bigint>")).as("sel"))
    }
    def selsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val edge = Seq("", "abc", "abcdefg", "abcdefgh",
      "héllo wörld ünïcode grams €€€ test", // multi-byte: char≠byte offsets
      "aaaaaaaaaaaaaaaaaaa", "x" * 300,
      null)                               // null text: HOF guard fell
                                          // through to [], winnowSelCol's
                                          // coalesce must match it
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    assert(selsOf(edge.select(col("doc_id"),
        winnowSelCol(spark, col("text")).as("sel"))) == selsOf(hofSel(edge)),
      "native expression diverges from the HOF reference on edge texts")
    val corpus = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    assert(selsOf(corpus.select(col("doc_id"),
        winnowSelCol(spark, col("text")).as("sel"))) ==
      selsOf(hofSel(corpus)),
      "native expression diverges from the HOF reference on the corpus")
  }

  test("native minhash_sig expression == the interpreted HOF " +
    "composition it replaced, on empty/short/unicode shingle sets " +
    "and the real corpus") {
    import graft.operators.DedupOps.MinhashSeeds
    import graft.functions.TextVec.{shingles, tokens}
    def hofSig(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      df.select(col("doc_id"),
        transform(col("shs"), s => sha2(s.cast("binary"), 256)).as("hs"))
        .select(
          col("doc_id") +:
            (0 until MinhashSeeds).map(j =>
              array_min(transform(col("hs"), h => substring(h, j * 8 + 1, 8)))
                .as(s"mh$j")): _*)
    def nativeSig(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      df.select(col("doc_id"),
        graft.functions.MinhashSignature(spark, col("shs"), MinhashSeeds)
          .as("msig"))
        .select(
          col("doc_id") +:
            (0 until MinhashSeeds).map(j =>
              element_at(col("msig"), j + 1).as(s"mh$j")): _*)
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().map(r => r.getLong(0) ->
        (1 to MinhashSeeds).map(i =>
          if (r.isNullAt(i)) null else r.getString(i))).toMap
    val edge = Seq(
      (0L, "a b"),                       // under one shingle -> all-null
      (1L, "a b c"),                     // exactly one shingle
      (2L, "héllo wörld ünïcode a b c"), // multi-byte shingles
      (3L, "x y z " * 40)                // repeated shingles
    ).toDF("doc_id", "text")
      .select(col("doc_id"),
        array_distinct(shingles(tokens(col("text")), 3)).as("shs"))
    assert(rows(nativeSig(edge)) == rows(hofSig(edge)),
      "native minhash signature diverges from the HOF reference (edges)")
    val corpus = graft.operators.DedupOps.shingleSets(
      graft.Tables(spark, "/root/testdata/sf0.001", "documents")
        .select(col("doc_id"), col("text")))
    assert(rows(nativeSig(corpus)) == rows(hofSig(corpus)),
      "native minhash signature diverges from the HOF reference (corpus)")
  }

  test("native char_ngrams expression == the interpreted substr HOF " +
    "it replaced, on empty/short/unicode/null strings and the real " +
    "corpus — including the null-folds-to-empty contract") {
    import spark.implicits._
    // the composition EventAnalytics.trigrams evaluated before r17
    // (including the when-guard, whose NULL condition on null text
    // falls through to the empty-array branch — the contract the
    // native expression must keep so the typed MG aggregator never
    // sees a null Seq)
    def hofNgrams(text: org.apache.spark.sql.Column, n: Int) =
      when(length(text) >= n,
        transform(sequence(lit(1), length(text) - (n - 1)),
          i => text.substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val edge = Seq(
      (0L, ""),                      // empty -> empty array
      (1L, "ab"),                    // below n -> empty array
      (2L, "abc"),                   // exactly one gram
      (3L, "héllo wörld ünïcode"),   // multi-byte chars (substr is
                                     // char-based; a byte-based walk
                                     // would split the é)
      (4L, "aaaaa"),                 // overlapping repeats
      (5L, null.asInstanceOf[String]) // null -> EMPTY, not null
    ).toDF("doc_id", "text")
    for (n <- Seq(2, 3)) {
      val native = rows(edge.select(col("doc_id"),
        graft.functions.CharNgrams(spark, col("text"), n).as("g")))
      val hof = rows(edge.select(col("doc_id"),
        hofNgrams(col("text"), n).as("g")))
      assert(native == hof,
        s"native char_ngrams(n=$n) diverges from the HOF reference (edges)")
      assert(native(5L) == Seq.empty,
        "null text must fold to an empty array (the when-guard contract)")
    }
    val corpus = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    assert(
      rows(corpus.select(col("doc_id"),
        graft.functions.CharNgrams(spark, col("text"), 3).as("g"))) ==
        rows(corpus.select(col("doc_id"),
          hofNgrams(col("text"), 3).as("g"))),
      "native char_ngrams diverges from the HOF reference (corpus)")
  }

  test("native word_ngrams expression == the interpreted HOF it " +
    "replaced, on empty/short/null-array/null-element token arrays " +
    "and the real corpus") {
    import spark.implicits._
    // the composition TextVec.shingles evaluated before r17
    def hofShingles(toks: org.apache.spark.sql.Column, n: Int) =
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n), i =>
          concat_ws(" ",
            (0 until n).map(k => element_at(toks, i + lit(k + 1))): _*)))
        .otherwise(array().cast("array<string>"))
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val edge = Seq(
      (0L, Seq.empty[String]),          // empty -> empty
      (1L, Seq("a", "b")),              // below n=3 -> empty
      (2L, Seq("a", "b", "c")),         // exactly one shingle
      (3L, Seq("a", null, "c", "d")),   // null ELEMENT: concat_ws skips
      (4L, Seq("x", "y", "z", "x", "y")),
      (5L, null.asInstanceOf[Seq[String]]) // null array -> EMPTY
    ).toDF("doc_id", "toks")
    for (n <- Seq(2, 3)) {
      val native = rows(edge.select(col("doc_id"),
        graft.functions.WordNgrams(spark, col("toks"), n).as("g")))
      val hof = rows(edge.select(col("doc_id"),
        hofShingles(col("toks"), n).as("g")))
      assert(native == hof,
        s"native word_ngrams(n=$n) diverges from the HOF reference (edges)")
      assert(native(5L) == Seq.empty,
        "null token array must fold to an empty array (the when-guard " +
          "contract the downstream distinct/explode consumers rely on)")
    }
    import graft.functions.TextVec.tokens
    val corpus = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    assert(
      rows(corpus.select(col("doc_id"),
        graft.functions.WordNgrams(spark, col("toks"), 3).as("g"))) ==
        rows(corpus.select(col("doc_id"),
          hofShingles(col("toks"), 3).as("g"))),
      "native word_ngrams diverges from the HOF reference (corpus)")
  }

  test("native nearest_centroid expression == the interpreted HOF " +
    "cell ranking it replaced (cosine, comparator, null semantics) " +
    "on edge vectors and the real corpus") {
    import spark.implicits._
    import graft.functions.{CosineSimilarity, NearestCentroid}
    // the transform|>array_sort|>slice(1) composition the corpus
    // assignment passes evaluated before r18 (nearestCellsConst n=1)
    def hofNearest(centroids: Seq[(Long, Array[Float])],
        vec: org.apache.spark.sql.Column) = {
      val centArr = array(centroids.map { case (id, v) =>
        struct(lit(id).as("centroid_id"),
          array(v.map(lit(_)): _*).as("cv"))
      }: _*)
      val scored = transform(centArr, c => struct(
        CosineSimilarity(spark, vec, c.getField("cv")).as("ccos"),
        c.getField("centroid_id").as("centroid_id")))
      val cc = (c: org.apache.spark.sql.Column) =>
        coalesce(c.getField("ccos"), lit(Double.NegativeInfinity))
      val cmp = (l: org.apache.spark.sql.Column,
          r: org.apache.spark.sql.Column) =>
        when(cc(l) > cc(r), lit(-1)).when(cc(l) < cc(r), lit(1))
          .when(l.getField("centroid_id") < r.getField("centroid_id"),
            lit(-1))
          .when(l.getField("centroid_id") > r.getField("centroid_id"),
            lit(1))
          .otherwise(lit(0))
      element_at(array_sort(scored, cmp), 1)
    }
    val cents = Seq(
      7L -> Array(1f, 0f, 0f),
      3L -> Array(1f, 0f, 0f),   // exact duplicate of 7 -> tie, 3 wins
      9L -> Array(0f, 1f, 0f))
    val edge = Seq(
      (0L, Seq(2f, 0f, 0f)),               // ties cells 7 and 3 -> 3
      (1L, Seq(0f, 5f, 0f)),               // clear cell 9
      (2L, Seq(0f, 0f, 0f)),               // zero norm: all null -> min id
      (3L, Seq(1f, 1f)),                   // length mismatch: all null
      (4L, null.asInstanceOf[Seq[Float]])  // null vector: all null
    ).toDF("vec_id", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        val s = r.getStruct(1)
        (r.getLong(0),
          if (s.isNullAt(0)) null else s.getDouble(0), s.getLong(1))
      }.toSet
    val native = rows(edge.select(col("vec_id"),
      NearestCentroid(spark, col("v").cast("array<float>"), cents).as("c")))
    val hof = rows(edge.select(col("vec_id"),
      hofNearest(cents, col("v").cast("array<float>")).as("c")))
    assert(native == hof,
      s"native nearest_centroid diverges on edges:\n$native\nvs\n$hof")
    // all-null scores (zero norm, mismatch, null vec) land in the
    // LOWEST id with a null score — the oracle's NULLS LAST rank
    assert(native.collect { case (id, null, cid) => id -> cid }.toMap ==
      Map(2L -> 3L, 3L -> 3L, 4L -> 3L))
    // real corpus, gate centroid count
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val corpusCents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val nat = rows(emb.select(col("vec_id"),
      NearestCentroid(spark, col("embedding"), corpusCents).as("c")))
    val ref = rows(emb.select(col("vec_id"),
      hofNearest(corpusCents, col("embedding")).as("c")))
    assert(nat.nonEmpty && nat == ref,
      "native nearest_centroid diverges from the HOF reference (corpus)")
  }

  test("winnow pairs: the planted near-dup is a candidate, the " +
    "unrelated doc is not, and the gate finds real corpus pairs") {
    // docs fixture: 0/1 share 39 of 40 tokens (long common spans on
    // both sides of the edit), 2 is unrelated
    val pairs = graft.operators.TextOps.winnowPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((0L, 1L)),
      "planted near-dup not surfaced by winnow fingerprints")
    assert(pairs.keySet == Set((0L, 1L)),
      s"unrelated docs paired: ${pairs.keySet}")
    assert(pairs((0L, 1L)) >= graft.operators.TextOps.WinnowPairMin)
    val gate = graft.SparkEntry.queries("q_dedup_winnow")(
      spark, "/root/testdata/sf0.001").collect()
    assert(gate.nonEmpty, "no winnow candidates on the corpus — vacuous")
  }

  test("binary quantization: sign words and hamming shortlist replay " +
    "exactly in JVM bit arithmetic; rerank is exact-cosine over it") {
    val sf = "/root/testdata/sf0.001"
    val e = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def pack(v: Array[Float], w: Int): Long =
      (0 until 32).map(j => if (v(w * 32 + j) > 0f) 1L << j else 0L).sum
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val got = SimilarityOps.binaryQuantRerank(
      graft.Tables(spark, sf, "embeddings"),
      graft.Tables(spark, sf, "embeddings")
        .filter(col("vec_id") < SimilarityOps.NumProbes)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      SimilarityOps.RerankShortlist, SimilarityOps.TopK).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (q, rows) =>
      val (q0, q1) = (pack(e(q), 0), pack(e(q), 1))
      // the shortlist the JVM derives from pure bit arithmetic
      val sl = e.toSeq.filter(_._1 != q).map { case (v, ev) =>
        (v, ham(pack(ev, 0), q0) + ham(pack(ev, 1), q1))
      }.sortBy { case (v, h) => (h, v) }
        .take(SimilarityOps.RerankShortlist).toMap
      rows.foreach { case (_, nbr, _, bqRnk, h) =>
        assert(sl.get(nbr).contains(h),
          s"query $q: neighbor $nbr ham=$h not in the JVM shortlist")
        assert(bqRnk <= SimilarityOps.RerankShortlist)
      }
      // rerank contract: emitted final ranks are contiguous from 1
      assert(rows.map(_._3).sorted.toSeq ==
        (1 to SimilarityOps.TopK).toSeq)
    }
  }

  test("winnowing: JVM replay is exact, a shared >= t substring " +
    "guarantees a shared fingerprint, unrelated docs share none") {
    import graft.operators.TextOps._
    val shared = "the quick brown fox jumps over the lazy dog"
    val a = s"alpha preamble text $shared and a tail"
    val b = s"completely different opening $shared closing words"
    val c = "nothing in common with either of the others at all zzz"
    val got = winnowFingerprints(
      Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def winnow(text: String): Set[Long] = {
      val encs = (1 to text.length - (WinnowK - 1)).map { i =>
        (java.lang.Long.parseLong(
          md5hex(text.substring(i - 1, i - 1 + WinnowK)).take(6), 16)
          << WinnowPosBits) + (WinnowPosMax - i)
      }
      (1 to encs.length - (WinnowW - 1))
        .map(p => encs.slice(p - 1, p - 1 + WinnowW).min).toSet
    }
    Seq(1L -> a, 2L -> b, 3L -> c).foreach { case (id, t) =>
      val sel = winnow(t)
      val nGrams = t.length - (WinnowK - 1)
      assert(got(id) == (nGrams, nGrams - (WinnowW - 1), sel.size,
        sel.toSeq.map(_ >> WinnowPosBits).sum),
        s"doc $id diverges from the JVM winnow replay")
    }
    // the SIGMOD'03 guarantee: a shared substring of >= k+w-1 chars
    // always yields at least one shared fingerprint HASH (positions
    // differ, so compare the decoded hash sets)
    def hashes(t: String): Set[Long] = winnow(t).map(_ >> WinnowPosBits)
    assert((hashes(a) & hashes(b)).nonEmpty, "guarantee violated")
    assert((hashes(a) & hashes(c)).isEmpty &&
      (hashes(b) & hashes(c)).isEmpty, "unrelated docs collide")
  }

  test("rrf fusion: overlapping docs sum both reciprocal ranks and " +
    "outrank single-list docs; one-list docs score on that list alone") {
    // doc 10 is rank 2 lexically AND rank 3 densely; doc 20 lex-only
    // rank 1; doc 30 dense-only rank 1; doc 40 dense rank 2
    val lex = Seq((20L, 1), (10L, 2)).toDF("doc_id", "lrnk")
    val dense = Seq((30L, 1), (40L, 2), (10L, 3)).toDF("doc_id", "drnk")
    val got = SimilarityOps.rrfFuse(lex, dense).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getInt(4))).toMap
    def t(r: Int): Long = 1000000000L / (60 + r)
    assert(got(10L) == (t(2) + t(3), 1),
      "overlap doc must sum both lists and take rank 1")
    assert(got(20L) == (t(1), 2) && got(30L) == (t(1), 3),
      "single-list docs score on their one rank; doc_id breaks the tie")
    assert(got(40L) == (t(2), 4))
  }

  test("drift screen: planted mix shift is flagged, stationary types " +
    "are not, and the gate replays exactly in JVM arithmetic") {
    // planted fixture: 'surge' jumps 60 → 240 while 'fade' falls
    // 240 → 60 (half totals stay equal, so the stationary types'
    // SHARES are exactly unchanged — this is a composition test: an
    // unbalanced surge shifts every other type's share too, and a
    // big enough sample rightly flags those; verified before
    // balancing). The 3σ two-proportion test must flag exactly the
    // two movers.
    val rows =
      (0 until 300).map(i => ("steady", i.toLong)) ++
        (0 until 300).map(i => ("steady", 1000L + i)) ++
        (0 until 3000).map(i => ("bulk", i.toLong % 1000)) ++
        (0 until 3000).map(i => ("bulk", 1000L + i % 1000)) ++
        (0 until 60).map(i => ("surge", i.toLong)) ++
        (0 until 240).map(i => ("surge", 1000L + i)) ++
        (0 until 240).map(i => ("fade", i.toLong)) ++
        (0 until 60).map(i => ("fade", 1000L + i))
    val planted = EventAnalytics.driftTwoProp(
      rows.toDF("event_type", "ts_us")).collect()
      .map(r => r.getString(0) -> r.getInt(4)).toMap
    assert(planted == Map("steady" -> 0, "bulk" -> 0,
      "surge" -> 1, "fade" -> 1))
    // gate replay at sf0.001: dev from exact JVM integers (BigInt,
    // cast to double exactly as the gate's decimal->double), the z²
    // comparison in DOUBLE with the gate's factor-cast multiply tree
    val sf = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("q_drift_2prop")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toMap
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("ts_us")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val mm = ev.map(_._2).min + ev.map(_._2).max
    val c = ev.groupBy(_._1).view.mapValues { rs =>
      (rs.count(_._2 * 2 < mm).toLong, rs.count(_._2 * 2 >= mm).toLong)
    }.toMap
    val (rt, lt) = (c.values.map(_._1).sum, c.values.map(_._2).sum)
    val expect = c.map { case (tpe, (r, l)) =>
      val dev = (BigInt(r) * lt - BigInt(l) * rt).toDouble
      val drift = if (dev * dev * (rt + lt).toDouble >
        9.0 * rt.toDouble * lt.toDouble * (r + l).toDouble *
          (rt + lt - r - l).toDouble) 1 else 0
      tpe -> (r, l, dev, drift)
    }
    assert(got == expect, "drift columns diverge from the JVM replay")
  }

  test("nn-descent: the graph bootstraps from random to high recall " +
    "vs brute-force kNN, and the lift comes from the rounds") {
    val sf = "/root/testdata/sf0.001"
    val e = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val k = SimilarityOps.NNDescentK
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val bf = e.map { case (v, ev) =>
      v -> e.filter(_._1 != v)
        .map { case (u, eu) => (u, cos(ev, eu)) }
        .sortBy { case (u, c) => (-c, u) }.take(k).map(_._1).toSet
    }.toMap
    def recall(g: Map[Long, Set[Long]]): Double =
      g.map { case (v, nbrs) => nbrs.intersect(bf(v)).size.toDouble / k }
        .sum / g.size
    def graph(rounds: Int): Map[Long, Set[Long]] =
      SimilarityOps.nnDescent(
        graft.Tables(spark, sf, "embeddings"), k, rounds)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rInit = recall(graph(0))
    val rFull = recall(graph(SimilarityOps.NNDescentRounds))
    assert(rInit < 0.1, s"init recall $rInit — 'random' init isn't")
    assert(rFull > 0.85, s"converged recall $rFull below 0.85")
  }

  test("ams f2 sketch: estimate and exact moment replay exactly in JVM " +
    "integer arithmetic, and the sketch is accurate on this corpus") {
    val sf = "/root/testdata/sf0.001"
    val P = EventAnalytics.CmP
    val got = graft.SparkEntry.queries("q_sketch_ams")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expect = ev.groupBy(_._1).map { case (tpe, rows) =>
      val cnt = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val f2 = cnt.values.map(c => c * c).sum
      val estX = (0 until EventAnalytics.AmsD).map { i =>
        val z = cnt.map { case (u, c) =>
          val v = (u * EventAnalytics.AmsA(i) + EventAnalytics.AmsB(i)) % P
          (if ((v * v % P) % 2 == 0) c else -c)
        }.sum
        z * z
      }.sum
      val w2x = estX * 2 >= f2 * EventAnalytics.AmsD &&
        estX <= f2 * 2 * EventAnalytics.AmsD
      tpe -> (f2, estX, estX / EventAnalytics.AmsD, w2x)
    }
    assert(got == expect, "AMS estimate diverges from the JVM replay")
    assert(got.values.forall(_._4),
      "AMS drifted outside 2x of exact F2 — hash family degraded")
  }

  test("hll sketch distinct: the partial-union path is deterministic " +
    "and both it and the single pass sit within 5% of exact") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables(spark, sf, "documents")
    val h = md5(col("text").cast("binary"))
    // partial aggregation path: two disjoint halves, sketched apart,
    // merged. NOT asserted register-equal to the single pass:
    // DataSketches' union gadget runs HLL_8 and the HLL_4 target can
    // settle a hair differently across the sparse→dense transition
    // (measured: 499 vs 501 on this corpus) — the composability
    // contract is determinism + bounded error, which IS pinned.
    def merged(): Long = docs.withColumn("half", col("doc_id") % 2)
      .groupBy(col("half")).agg(hll_sketch_agg(h).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .head().getLong(0)
    val m1 = merged()
    assert(m1 == merged(), "partial-union estimate is nondeterministic")
    val single = docs.agg(hll_sketch_estimate(hll_sketch_agg(h)).as("est"))
      .head().getLong(0)
    val exact = docs.agg(countDistinct(h).as("n")).head().getLong(0)
    assert(math.abs(m1 - exact) * 20 <= exact,
      s"union estimate $m1 drifted >5% from exact $exact")
    assert(math.abs(single - exact) * 20 <= exact,
      s"single-pass estimate $single drifted >5% from exact $exact")
    // and the gate flag holds on every source
    val out = graft.SparkEntry.queries("q_sketch_hll")(spark, sf).collect()
    assert(out.nonEmpty && out.forall(_.getBoolean(2)))
  }

  test("ivf recall curve: every depth's result set equals an " +
    "independent ivfSearch run, recall is monotone in nprobe, and " +
    "full probe depth recovers brute force exactly") {
    val sf = "/root/testdata/sf0.001"
    val e = graft.Tables(spark, sf, "embeddings")
    val cents = e.filter(col("vec_id") < SimilarityOps.NumCentroids)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val probes = e.filter(col("vec_id") < SimilarityOps.NumProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val curve = SimilarityOps.ivfRecallCurve(e, cents,
      SimilarityOps.TopK, SimilarityOps.NumCentroids)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(curve.keySet == (1 to SimilarityOps.NumCentroids).toSet)
    // recall monotone in probe depth, exact at full depth
    (1 until SimilarityOps.NumCentroids).foreach(np =>
      assert(curve(np)._3 <= curve(np + 1)._3,
        s"recall fell from nprobe=$np to ${np + 1}"))
    assert(curve(SimilarityOps.NumCentroids)._3 == 100L,
      "full probe depth must recover brute force")
    // each depth's returned/hit counts replay from an INDEPENDENT
    // ivfSearch + bruteForceTopK composition
    val bf = SimilarityOps.bruteForceTopK(e, probes, SimilarityOps.TopK)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(1, 3, SimilarityOps.NumCentroids).foreach { np =>
      val got = SimilarityOps.ivfSearch(e, cents, probes, np,
        SimilarityOps.TopK)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(curve(np)._1 == got.size.toLong,
        s"n_returned diverges from ivfSearch at nprobe=$np")
      assert(curve(np)._2 == got.count(bf).toLong,
        s"n_hits diverges from ivfSearch∩bruteForce at nprobe=$np")
    }
  }

  test("timeseries fill: each series is dense over its span with " +
    "observed endpoints, and every filled hour replays the linear " +
    "interpolation of its observed neighbors exactly") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q_timeseries_fill")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))
    assert(out.nonEmpty)
    assert(out.exists(_._4), "no gap was filled — the test is vacuous")
    out.groupBy(_._1).foreach { case (tpe, rows) =>
      val sorted = rows.sortBy(_._2)
      // dense grid, observed endpoints (the span is defined by data)
      assert(sorted.map(_._2).toSeq ==
        (sorted.head._2 to sorted.last._2).toSeq, s"$tpe grid has holes")
      assert(!sorted.head._4 && !sorted.last._4,
        s"$tpe span endpoint was interpolated")
      val observed = sorted.filter(!_._4).map(t => (t._2, t._3))
      sorted.filter(_._4).foreach { case (_, hr, v, _) =>
        val (ph, pv) = observed.filter(_._1 < hr).maxBy(_._1)
        val (nh, nv) = observed.filter(_._1 > hr).minBy(_._1)
        // observed values are exact integer CENTS over 100; recover
        // the cents and replay the gate's all-integer 1e-4-unit
        // interpolation op for op: cross-form numerator × 100, one
        // truncating integer division, ONE final double /10000
        val pc = math.round(pv * 100)
        val nc = math.round(nv * 100)
        val e4 = (pc * (nh - hr) + nc * (hr - ph)) * 100 / (nh - ph)
        val expect = e4.toDouble / 10000.0
        assert(v == expect,
          s"$tpe hour $hr: interpolated $v, JVM replay $expect")
      }
    }
  }

  test("timeseries fill's integer division truncates toward zero on " +
    "negative numerators — the engine-parity precondition for " +
    "negative-cent series") {
    // the gate's interpolation uses Spark `DIV`; the oracle uses
    // DuckDB `//`. Both truncate toward zero (DuckDB `-7 // 2` = −3,
    // verified against the oracle engine — its `//` is NOT Python
    // floor division), so negative event values interpolate
    // identically too. This pins the Spark half: if a Spark upgrade
    // ever switched DIV to floor semantics, the gate would drift by
    // one 1e-4 unit exactly on negative numerators, and this test
    // turns that silent hash flake into a named failure.
    val rows = spark.sql(
      "SELECT -7 DIV 2, 7 DIV 2, -7 DIV -2, CAST(NULL AS BIGINT) DIV 2")
      .collect().head
    assert(rows.getLong(0) == -3L, "Spark DIV no longer truncates " +
      "toward zero — the timeseries-fill oracle parity contract broke")
    assert(rows.getLong(1) == 3L && rows.getLong(2) == 3L)
    assert(rows.isNullAt(3), "NULL DIV must stay NULL")
  }
}
