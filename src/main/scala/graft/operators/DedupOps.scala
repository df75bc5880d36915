package graft.operators

import graft.operators.Materialize.PinOps
import graft.{QueryDef, Tables}
import graft.functions.TextVec._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, over the
  * `documents` table: exact (hash group-by), n-gram Jaccard near-dup,
  * MinHash + LSH banding (full and incremental), duplicate-cluster
  * formation (connected components), and SimHash. Embedding-cosine
  * near-dup lives with the other vector ops in [[SimilarityOps]].
  *
  * Scale design:
  *  - exact dedup shuffles only (hash, doc_id) pairs, never the text;
  *  - Jaccard pairs go through an inverted shingle index (explode →
  *    shuffle on shingle → pair-count), the standard scalable shape —
  *    plus a frequency cap on the shingle join key so a stop-shingle
  *    can't produce a quadratic bucket (classic skew guard at 100 TB);
  *  - MinHash signatures are per-doc map-side work; the LSH band
  *    bucket is the shuffle key, collapsing candidate generation to
  *    an equi-join.
  *
  * All hashing is md5-based so every step is reproducible in the
  * DuckDB oracle — no engine-private hash functions in the data path.
  */
object DedupOps {

  /** Number of MinHash seeds and LSH band width (2 seeds/band). */
  val MinhashSeeds = 8
  val BandWidth = 2
  val NumBands: Int = MinhashSeeds / BandWidth

  /** Stop-shingle guard: shingles present in more than this many
    * documents are dropped before the inverted-index self-join — a
    * boilerplate phrase shared by d documents alone produces d²/2
    * join rows, and one hot shingle pins one reducer at 100 TB.
    * Pairs are scored on the surviving (rare) shingle sets. */
  val MaxShingleDf = 12

  /** Gate split for the incremental-dedup scenario: doc_id >= this is
    * the "newly ingested" slice (append-only ids). */
  val IncrementalSplit = 400

  /** Deterministic hash-sample for the LSH recall telemetry
    * ([[lshRecallCurve]]): keep documents whose md5(doc_id) leads
    * with a hex digit below this — 4/16 = 25% of docs, ~6% of the
    * exact-pair denominator join. The S-curve is a property of the
    * ESTIMATOR (band geometry × Jaccard), not of corpus volume, so
    * production measures it on a sample; the gate does the same,
    * with a sample predicate both engines replay bit-for-bit. */
  val LshRecallSampleHexMax = "4"

  /** Minimum normalized edit similarity for the SCREENED verify stage
    * (q_dedup_edit_screened) — pairs whose length gap alone caps
    * edit_sim below this never reach the Levenshtein DP. Declared
    * BEFORE `all` (oracle interpolation at object init). */
  val EditScreenMinSim = 0.9

  /** Paragraphs appearing in at least this many DISTINCT documents
    * are reported as boilerplate candidates. Declared BEFORE `all`
    * (oracle interpolation happens at object init). */
  val MinBoilerplateDf = 3

  /** Gate benchmark slice for chunk-level decontamination: doc_id
    * divisible by this plays the held-out eval set. Chosen so the
    * synthetic corpus has hits at every scale factor. Declared
    * BEFORE `all` (oracle interpolation). */
  val ChunkBenchMod = 7

  /** Small single-file inputs arrive as ONE scan partition; per-doc
    * hashing is CPU-bound, so fan it out to the full core count.
    * Guarded: input that already has enough splits (the normal case
    * at real scale) passes through untouched — no gratuitous full
    * shuffle of the corpus before map-only hashing.
    *
    * The split estimate comes from the plan alone — never `.rdd`,
    * which would force physical materialization of the read plan
    * behind AQE's back just to read a partition count. It mirrors
    * Spark's own `FilePartition.maxSplitBytes` bin-packing: each
    * file pays `filesOpenCostInBytes`, and the split size is
    * min(maxPartitionBytes, max(openCost, total/parallelism)) — so
    * many SMALL files estimate as the few packed partitions Spark
    * will actually build, not as `#files` (the old estimate's trap).
    * Unsplittable compressed files (.gz/.zst/...) are ONE partition
    * each regardless of size, so they cap the estimate at the file
    * count.
    *
    * Derived in-memory input is two cases. Plans whose leaves are
    * all LogicalRDD — a foreachBatch micro-batch frame, a pinned
    * localCheckpoint — carry their partition count ON the wrapped
    * RDD (already materialized; reading it forces nothing), and the
    * same single-task trap applies: a one-file trigger slice arrives
    * in foreachBatch as a ONE-partition LogicalRDD, and unspread the
    * whole CPU-bound shingle+minhash pass runs on one core while 31
    * idle (measured: 1.2–1.8 s/trigger vs ~0.3 spread, the dominant
    * term of q_stream_dedup_clusters' r16 floor). Other leaf shapes
    * (Range, LocalRelation) pass through as before — no partition
    * evidence without forcing the plan, and those are driver-side
    * fixtures, not ingest paths. */
  /** Footer probes beyond this many files are skipped: with that many
    * files the listing itself proves scan capacity, and a driver
    * should not serially open hundreds of footers to decide a
    * heuristic (guide §5 — the driver does no data work). */
  private[operators] val FooterProbeMaxFiles = 64

  /** Row-group count of one parquet file, memoized by (path, length,
    * modification time) — the same footer the scan reads once for
    * schema/stats, so a repeat spread() over the same fixture costs
    * nothing, while a file overwritten in place (even at the same
    * length) is re-read. None when the footer cannot be read (not
    * parquet after all, permissions): the caller falls back to byte
    * math for that file. */
  private val rowGroupCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Long]()
  private[operators] def parquetRowGroups(
      spark: org.apache.spark.sql.SparkSession,
      path: String, len: Long, modified: Long): Option[Long] =
    try Some(rowGroupCounts.computeIfAbsent((path, len, modified), { _ =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.size.toLong finally r.close()
    }))
    catch { case scala.util.control.NonFatal(_) => None }

  private[operators] def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism
    val inputFiles = df.inputFiles
    val files = inputFiles.length
    if (files == 0) {
      val leaves = df.queryExecution.analyzed.collectLeaves()
      val rddLeaves = leaves.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l
      }
      val known = rddLeaves.length == leaves.length && leaves.nonEmpty
      if (known && rddLeaves.map(_.rdd.getNumPartitions).sum <
          math.max(2, parallelism / 2))
        df.repartition(parallelism)
      else df
    }
    else {
      val conf = spark.sessionState.conf
      val maxPartBytes = conf.filesMaxPartitionBytes
      val openCost = conf.filesOpenCostInBytes
      val unsplittable = Seq(".gz", ".zst", ".bz2", ".lz4", ".snappy")
      def splittable(name: String): Boolean =
        !unsplittable.exists(name.toLowerCase.endsWith)
      // per-file lengths from the scan's ALREADY-CACHED listing (no
      // extra namenode RPCs) — the estimate must be per file: one
      // stray .gz in a many-small-files listing contributes ONE
      // partition, it does not flip the whole corpus to #files (which
      // overestimated and skipped the repartition this guard exists
      // to trigger)
      val perFile: Seq[(String, Long, Long)] = df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation
      }.collect {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          h.location.listFiles(Nil, Nil).flatMap(pd =>
            pd.files.map(f =>
              (f.getPath.toString, f.getLen, f.getModificationTime)))
      }.flatten
      val estSplits =
        if (perFile.nonEmpty) {
          // Spark sizes splits from the WHOLE listing's padded bytes
          // (FilePartition.maxSplitBytes), then bin-packs; compressed
          // files are one task each regardless of size
          val totalPadded = perFile.map { case (_, len, _) =>
            BigInt(len) + openCost }.sum.min(BigInt(Long.MaxValue)).toLong
          val maxSplit = math.min(maxPartBytes,
            math.max(openCost, totalPadded / math.max(1, parallelism)))
          val (comp, spl) = perFile.partition(f => !splittable(f._1))
          val splPadded = spl.map { case (_, len, _) => BigInt(len) + openCost }
            .sum.min(BigInt(Long.MaxValue)).toLong
          // packed-bin floor, not ceil — packing fills bins to
          // maxSplit, so the fractional bin folds into the last one;
          // erring low just repartitions near the threshold
          val byBytes = comp.length.toLong +
            (if (spl.isEmpty) 0L
             else math.max(1L, splPadded / math.max(1L, maxSplit)))
          // ROW-GROUP CAP (r22, the r21 openCost revert's lesson made
          // executable): a parquet row group is assigned to exactly
          // ONE split by its midpoint, so a file contributes at most
          // its row-group count of NON-EMPTY scan tasks whatever the
          // byte math says — a 1 GB single-row-group file is 1 reader
          // task even at maxPartitionBytes=16. Byte splits of such a
          // file read nothing, and trusting them here silently skips
          // the repartition exactly where the one-reader-task reality
          // needs it. Footers are consulted ONLY in the doubtful case
          // (byte estimate says "enough splits"), only for parquet
          // files, only up to FooterProbeMaxFiles (beyond that the
          // file count alone is real capacity), and each footer read
          // is memoized by (path, length, modification time) — reading
          // a footer is the same bounded metadata I/O the scan itself
          // already did.
          if (byBytes < math.max(2, parallelism / 2)) byBytes
          else {
            val (parq, other) = spl.partition(
              _._1.toLowerCase.endsWith(".parquet"))
            if (parq.isEmpty || spl.length > FooterProbeMaxFiles) byBytes
            else {
              val otherPadded = other.map { case (_, len, _) =>
                BigInt(len) + openCost }.sum.min(BigInt(Long.MaxValue)).toLong
              val capacity = comp.length.toLong +
                (if (other.isEmpty) 0L
                 else math.max(1L, otherPadded / math.max(1L, maxSplit))) +
                parq.map { case (p, len, modified) =>
                  parquetRowGroups(spark, p, len, modified).getOrElse(
                    // unreadable footer: fall back to this file's
                    // byte-math contribution rather than failing the
                    // estimate (the scan will surface a real error)
                    math.max(1L, (len + openCost) / math.max(1L, maxSplit)))
                }.sum
              math.min(byBytes, capacity)
            }
          }
        } else {
          // non-v1 scan: only aggregate plan stats are available, so
          // fall back to the corpus-global shape
          val bytes = df.queryExecution.analyzed.stats.sizeInBytes
          val padded =
            (bytes + BigInt(openCost) * files).min(BigInt(Long.MaxValue)).toLong
          val maxSplit = math.min(maxPartBytes,
            math.max(openCost, padded / math.max(1, parallelism)))
          if (inputFiles.forall(splittable))
            math.max(1L, padded / math.max(1L, maxSplit))
          else files.toLong
        }
      if (estSplits < math.max(2, parallelism / 2)) df.repartition(parallelism)
      else df
    }
  }

  /** Shingled (doc_id, shingle) pairs, distinct per doc. Input needs
    * (doc_id, text). */
  def shingled(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"), explode(array_distinct(
      shingles(tokens(col("text")), 3))).as("sh"))

  /** (doc_id, shs): each document's DISTINCT word-3-gram shingle set
    * as one array — the set both the signatures and exact Jaccard
    * verification derive from. Pure map work. */
  def shingleSets(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"),
      array_distinct(shingles(tokens(col("text")), 3)).as("shs"))

  /** (doc_id, mh0..mh7) MinHash signatures from [[shingleSets]] rows.
    *
    * Per-document map work only — ZERO shuffle. Each shingle is
    * hashed exactly ONCE (sha-256); the K=8 minhash functions are
    * the digest's 8 disjoint 4-byte slices — independent uniform
    * 32-bit hashes at 1/K of the hashing cost of K independent
    * passes — folded straight into the K running minima by the
    * native [[graft.functions.MinhashSignature]] expression (spec-
    * pinned equal to the interpreted HOF composition it replaced). */
  def minhashSignatures(shSets: DataFrame): DataFrame = {
    // the NATIVE fused signature (one sha-256 per shingle folded
    // straight into the K slot minima — graft.functions
    // .MinhashSignature) replaces the interpreted transform(sha2) +
    // K × array_min(transform(substring)) walks; the pin still
    // matters because projection collapse would re-evaluate the
    // signature expression once per element_at slot below
    val msig = shSets.select(col("doc_id"),
      graft.functions.MinhashSignature(
        shSets.sparkSession, col("shs"), MinhashSeeds).as("msig"))
      .pinned
    msig.select(
      col("doc_id") +:
        (0 until MinhashSeeds).map(j =>
          element_at(col("msig"), j + 1).as(s"mh$j")): _*)
  }

  /** (doc_id, band, bucket) rows from a [[minhashSignatures]] frame:
    * band `b` hashes signature slots (2b, 2b+1) into one bucket key. */
  def bandsOf(sig: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))).as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** (doc_id, band, bucket): LSH band buckets over MinHash signatures.
    * Docs sharing (band, bucket) are near-dup candidates. The only
    * shuffle in the whole LSH pipeline is the (band, bucket)
    * candidate join downstream. */
  def minhashBands(docs: DataFrame): DataFrame =
    bandsOf(minhashSignatures(shingleSets(docs)))

  /** Candidate pairs (a < b) from the equi-join of a band frame with
    * itself: one shuffle on the bucket key, quadratic only within a
    * bucket. */
  def candidatePairsFromBands(bands: DataFrame): DataFrame =
    minhashBandPairs(bands).distinct()

  /** [[candidatePairsFromBands]] WITHOUT the trailing distinct — for
    * callers that dedup downstream anyway (the incremental cluster
    * stream feeds these straight into [[incrementalStars]]' own
    * canonicalize+distinct, saving one shuffle per trigger). */
  def minhashBandPairs(bands: DataFrame): DataFrame =
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))

  /** Candidate near-dup pairs (a < b) from the LSH equi-join on
    * (band, bucket) — the scalable candidate generator. */
  def lshCandidatePairs(docs: DataFrame): DataFrame =
    candidatePairsFromBands(minhashBands(docs).pinned)

  /** Spread a COMPUTE-DENSE candidate-pair frame across the session's
    * cores before a per-pair verify stage (Levenshtein DP, exact
    * set-Jaccard): a deduped pair list is a few hundred KB on the
    * wire, so AQE's byte-targeted coalescing folds its exchange to ONE
    * post-shuffle partition — and the O(len·τ)/O(|set|) per-pair work
    * downstream then runs single-threaded while the other cores idle
    * (StageProbe r21: q_dedup_edit's verify stage 0.77 s on 1 task,
    * q_lsh_recall's exact-J stage 1.53 s on 1 task). Bytes are the
    * wrong cost proxy for these frames; hash-repartitioning on the
    * pair's own key columns (deterministic — no round-robin, so no
    * retry-duplication hazard) pins a partition count AQE leaves
    * alone. One extra exchange of a tiny deduped list buys the verify
    * stage full parallelism; at cluster scale pair lists exceed the
    * coalescing target and the explicit spread is a no-op by volume.
    * Apply ONLY where the per-pair stage measures heavy (the exact-J
    * audit) — on screened or small pair sets the extra exchange
    * measured as a net loss (see the screenedEditPairs note).
    *
    * Keyed on (`a`, pmod(hash(b), [[SpreadPairsSalt]])), deliberately:
    * the natural (a, b) key is exactly the upstream distinct's
    * partitioning, so the optimizer folds the repartition into that
    * ENSURE_REQUIREMENTS exchange and AQE coalesces it right back to
    * one partition (observed in the first r21 cut's explain — the
    * "spread" was a no-op); a different expression set survives as
    * REPARTITION_BY_NUM. The r21 cut keyed on hash(a) alone, which a
    * near-duplicate HUB defeats at scale — one document appearing in
    * a large fraction of candidate pairs funnels the verify stage to
    * one partition (guide §2.5 skew). The salt term is DERIVED from
    * `b` (deterministic — never rand(), whose re-drawn values under a
    * fetch-failure retry duplicate or lose rows, SPARK-38388), so a
    * hub key a still spreads across SpreadPairsSalt partitions while
    * the partitioning stays reproducible. Downstream the verify-stage
    * set joins broadcast (the sets frame is the small side), so no
    * consumer needed hash(a) clustering — re-verified in the r22
    * q_lsh_recall plan. */
  private[operators] val SpreadPairsSalt = 16
  private[operators] def spreadPairs(pairs: DataFrame): DataFrame =
    pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism,
      col("a"), pmod(hash(col("b")), lit(SpreadPairsSalt)))

  /** Signature-agreement Jaccard estimation with exact verification:
    * for each LSH candidate pair, the MinHash estimate Ĵ = (matching
    * signature slots)/K next to the true J over the full shingle
    * sets. At 100 TB the estimate is the decision value — O(K) per
    * pair from the already-stored signatures, no shingle-set access —
    * and exact J is computed only where the pipeline audits the
    * estimator (as here) or near the accept threshold. Shingle-set
    * arrays ship only for candidate pairs (O(candidates), not
    * O(corpus)); everything joins by doc id. */
  def minhashEstimatedJaccard(docs: DataFrame): DataFrame = {
    val sets = shingleSets(docs).pinned // signature input + 2 joins
    val sig = minhashSignatures(sets).pinned // banded + 2 joins
    val cand = candidatePairsFromBands(bandsOf(sig))
    val agree = (0 until MinhashSeeds)
      .map(j => when(col(s"sa.mh$j") === col(s"sb.mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    val inter = size(array_intersect(col("shs_a"), col("shs_b")))
    cand
      .join(sig.as("sa"), col("a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"), agree.as("n_agree"))
      .join(sets.select(col("doc_id").as("a"), col("shs").as("shs_a")), "a")
      .join(sets.select(col("doc_id").as("b"), col("shs").as("shs_b")), "b")
      .select(col("a"), col("b"), col("n_agree"),
        round(col("n_agree").cast("double") / MinhashSeeds, 6)
          .as("est_jaccard"),
        round(inter.cast("double") /
          (size(col("shs_a")) + size(col("shs_b")) - inter), 6).as("jaccard"))
  }

  /** Exact pairwise word-3-gram Jaccard for pairs sharing >= minInter
    * shingles, via an inverted shingle index. Shingles with document
    * frequency > maxDf are dropped first ([[MaxShingleDf]]): the hot
    * set is tiny, so the drop is a broadcast anti-join, and Jaccard is
    * then computed consistently over the pruned shingle sets. */
  def jaccardPairs(docs: DataFrame, minInter: Int,
      maxDf: Int = MaxShingleDf): DataFrame = {
    // materialized once: both sides of the self-join and the size agg
    // would otherwise re-tokenize and re-shingle every document
    val shAll = shingled(docs).pinned
    val hot = shAll.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("sh"))
    val sh = shAll.join(broadcast(hot), Seq("sh"), "left_anti")
      .pinned
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("x")
      .join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") >= minInter)
    pairs
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"), col("inter"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
  }

  /** Incremental near-dup candidates: dedup a NEW batch of documents
    * against an already-indexed corpus without touching the corpus
    * text. `existingBands` is the stored (doc_id, band, bucket) index
    * (the output of [[minhashBands]], persisted by the pipeline);
    * only the new batch is shingled and hashed, and the single
    * equi-join is sized by the new batch, not the corpus — the shape
    * that keeps daily ingest dedup O(batch) at a 100 TB corpus.
    *
    * Pair orientation assumes append-only ids (new doc_ids sort after
    * existing ones), so every emitted pair is (older, newer) with
    * a < b; new-vs-new pairs are included.
    */
  def incrementalCandidatePairs(
      existingBands: DataFrame, newDocs: DataFrame): DataFrame = {
    val nb = minhashBands(newDocs).pinned
    existingBands.union(nb).as("x")
      .join(nb.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Persist a corpus band index BUCKETED on the LSH join key
    * ([[graft.sources.Sources.writeBucketed]] on (band, bucket)), so
    * every recurring ingest-dedup probe reads the stored side with NO
    * exchange: the on-disk layout replaces the corpus-side shuffle a
    * plain parquet dump would pay on every batch. At 100 TB the
    * index is the only corpus-scale artifact the daily job touches,
    * and it never re-shuffles. */
  def writeBandIndex(
      docs: DataFrame, tableName: String, numBuckets: Int): Unit =
    graft.sources.Sources.writeBucketed(
      minhashBands(docs), tableName, Seq("band", "bucket"), numBuckets)

  /** [[incrementalCandidatePairs]] against a STORED [[writeBandIndex]]
    * table: old-vs-new probes the bucketed table — exchange-free on
    * the stored side, proven by `SourcesSpec` — and new-vs-new pairs
    * come from the batch alone, so no shape unions the (bucketed)
    * corpus with unbucketed batch rows and forfeits the layout.
    * Output is identical to the in-memory formulation under the same
    * append-only id assumption. */
  def incrementalCandidatePairsStored(
      spark: SparkSession, tableName: String, newDocs: DataFrame): DataFrame = {
    val nb = minhashBands(newDocs).pinned
    val oldNew = spark.table(tableName).as("x")
      .join(nb.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // disjoint by construction: an old-new pair's `a` is an existing
    // id, a new-new pair's `a` is a batch id
    oldNew.union(candidatePairsFromBands(nb))
  }

  /** Bloom bit-array size for [[bloomPrefilter]] (positions per hash
    * function); two disjoint md5 slices act as the k=2 hash
    * functions. 2^10 keeps the fill factor ≈0.5 on the gate corpus so
    * the filter visibly discriminates; a production run sizes m from
    * the corpus cardinality (m ≈ 10·n for ~1% FP at k=2). */
  val BloomBits = 1024

  /** Position of one bloom hash: a 6-hex-char md5 slice mod m — the
    * same md5-slice trick as the minhash seeds, so the DuckDB oracle
    * replays it with `CAST('0x'||substr(h,..) AS BIGINT)`. */
  private def bloomPos(h: Column, off: Int): Column =
    conv(substring(h, off, 6), 16, 10).cast("long") % BloomBits

  /** Bloom-filter membership prefilter for incremental EXACT dedup:
    * the cheap front gate before [[incrementalCandidatePairs]]-style
    * verification. The corpus's content-hash bloom positions are
    * collected once — bounded by m, constant-size regardless of
    * corpus size — and shipped to every task as an InSet literal, so
    * the new batch is screened MAP-SIDE with zero shuffle and zero
    * corpus access: a batch doc whose k positions are all set is a
    * *possible* duplicate (false positives by design, rate ≈ fill^k)
    * and proceeds to exact verification; everything else is provably
    * fresh and skips the corpus join entirely. At a 100 TB corpus the
    * bloom build is one map+distinct over stored content hashes (or
    * maintained incrementally), and the daily-ingest screen never
    * touches the corpus again.
    *
    * Returns the surviving candidates as (doc_id, p0, p1).
    */
  def bloomPrefilter(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val ch = corpus.select(md5(col("text").cast("binary")).as("h"))
    // ≤ BloomBits distinct values: a driver-safe, broadcastable scalar
    val positions = ch
      .select(explode(array(bloomPos(col("h"), 1), bloomPos(col("h"), 9))).as("p"))
      .distinct().collect().map(_.getLong(0)).toSeq
    batch
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .select(col("doc_id"),
        bloomPos(col("h"), 1).as("p0"), bloomPos(col("h"), 9).as("p1"))
      // isInCollection over >10 literals compiles to InSet: O(1) hash
      // probe per row inside codegen, not a linear array scan
      .filter(col("p0").isInCollection(positions) &&
        col("p1").isInCollection(positions))
  }

  /** Exact repeated-substring detection, the span length and the
    * cross-doc frequency that makes a span "duplicated" (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * ACL'22 — their suffix-array exact-substring dedup, re-expressed
    * as fixed-length span hashing so it distributes: a doc pair
    * sharing any >= SpanTokens verbatim run shares at least one
    * span, so coverage is equivalent for spans of that length). */
  val SpanTokens = 8
  val MinSpanDf = 2

  /** Per-document duplicated-substring profile: how much of each doc
    * is made of SpanTokens-token runs that appear VERBATIM in at
    * least MinSpanDf documents. The shape is one explode (a span per
    * token position — linear in corpus tokens), a groupBy on the span
    * hash, a join back, and a doc-level aggregate: every shuffle is
    * keyed by span hash or doc_id, nothing is quadratic, and the span
    * text itself never shuffles (md5 only). The practical scalable
    * stand-in for suffix arrays, which need global sorted adjacency
    * Spark can't maintain incrementally. */
  def repeatedSpanProfile(docs: DataFrame): DataFrame = {
    val sp = spread(docs)
      .select(col("doc_id"), explode(array_distinct(
        shingles(tokens(col("text")), SpanTokens))).as("sub"))
      .select(col("doc_id"), md5(col("sub")).as("h"))
      .pinned // span set reused: df count + join-back
    val rep = sp.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= MinSpanDf)
      .select(col("h"), lit(1).as("is_rep"))
    sp.join(rep, Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        count(col("is_rep")).as("n_repeated"),
        round(count(col("is_rep")).cast("double") / count(lit(1)), 6)
          .as("dup_span_frac"))
  }

  /** Paragraph length for [[paragraphDedup]]: consecutive
    * non-overlapping ParaTokens-token chunks stand in for the
    * newline-delimited paragraphs of a real corpus (the gate corpus
    * is single-line; a production run swaps the chunker for
    * `split(text, "\n")` and nothing else changes). */
  val ParaTokens = 10

  /** Paragraph-level exact dedup with removal — the CCNet/Dolma
    * corpus-preparation step (CCNet §3.1 "paragraph-level
    * deduplication"; Dolma's exact paragraph dedup): every paragraph
    * occurrence after the FIRST (ordered by (doc_id, position)) is
    * dropped corpus-wide, and each document is reduced to its
    * surviving paragraphs.
    *
    * Scale design: the paragraph hash is computed INSIDE the per-row
    * transform, so only (doc_id, idx, md5) triples — ~50 bytes per
    * paragraph — ever leave the row; the text itself never shuffles.
    * First-occurrence election is one window over the hash (the
    * dedup shuffle), and reconstruction is a doc_id-keyed aggregate
    * of the kept hashes. The emitted `kept_hash` fingerprints the
    * deduped document (md5 of the kept paragraph hashes in document
    * order) without ever moving paragraph text; [[paragraphRewrite]]
    * is the production rewrite that emits the surviving text itself.
    *
    * Output: (doc_id, n_paras, n_kept, drop_ratio, kept_hash).
    */
  /** Oracle-CTE replica of [[paragraphHashes]], exposing
    * `c2(doc_id, idx, h)` — shared by the paragraph-dedup and the
    * streaming ingest-screen oracles so the SQL definition of a
    * "paragraph" cannot fork from a retune applied to only one. */
  def paragraphCtesSql: String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |ch AS (SELECT doc_id,
       |         unnest(list_transform(range(CAST(ceil(len(t) / $ParaTokens.0) AS BIGINT)),
       |                i -> {'idx': i, 'p': array_to_string(
       |                        t[i*$ParaTokens+1 : i*$ParaTokens+$ParaTokens], ' ')})) AS s
       |       FROM t),
       |c2 AS (SELECT doc_id, CAST(s['idx'] AS INTEGER) AS idx,
       |              md5(s['p']) AS h, s['p'] AS p FROM ch)""".stripMargin

  /** (doc_id, idx, h): every doc's aligned [[ParaTokens]]-token
    * paragraph hashes, in document order. The md5 is computed INSIDE
    * the per-row transform, so paragraph text never leaves the row.
    * Pure column expressions (no repartitioning), so it also applies
    * verbatim to a STREAMING DataFrame — the ingest screen uses it. */
  def paragraphHashes(docs: DataFrame): DataFrame =
    paragraphHashesFromTokens(
      docs.select(col("doc_id"), tokens(col("text")).as("t")))

  /** [[paragraphHashes]] over PRE-TOKENIZED input (doc_id, t:
    * array&lt;string&gt;) — the entry point for callers that already
    * hold token arrays (a streaming source, a tokenizer stage). */
  def paragraphHashesFromTokens(tok: DataFrame): DataFrame =
    tok
      .select(col("doc_id"),
        // empty/null token arrays yield NO chunks: unguarded,
        // sequence(0, floor((0-1)/n)) counts DOWN to [0,-1] and emits
        // garbage rows the oracle's range(ceil(len/n)) never produces
        // (split() can't return empty, but pre-tokenized input can)
        posexplode(when(size(col("t")) >= 1, transform(
          sequence(lit(0),
            floor((size(col("t")) - lit(1)) / lit(ParaTokens)).cast("int")),
          i => md5(concat_ws(" ",
            slice(col("t"), i * ParaTokens + 1, lit(ParaTokens))).cast("binary")))))
          .as(Seq("idx", "h")))

  /** Persist the corpus's DISTINCT paragraph-hash index BUCKETED on
    * the hash — the [[writeBandIndex]] pattern at paragraph
    * granularity. The streaming ingest screen (and any recurring
    * batch screen) probes this table instead of recomputing the
    * corpus index per run: at 100 TB the index is built once (or
    * maintained incrementally by appending each accepted batch's new
    * hashes) and the probe join reads the stored side with no
    * exchange — the bucketed layout IS the shuffle. */
  def writeParagraphIndex(
      docs: DataFrame, tableName: String, numBuckets: Int): Unit =
    graft.sources.Sources.writeBucketed(
      paragraphHashes(spread(docs)).select(col("h")).distinct(),
      tableName, Seq("h"), numBuckets)

  def paragraphDedup(docs: DataFrame): DataFrame = {
    val chunks = paragraphHashes(spread(docs))
    val firstWins = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"), col("idx"))
    val kept = sum(when(col("keep"), 1L).otherwise(0L))
    chunks
      .withColumn("keep", row_number().over(firstWins) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        kept.as("n_kept"),
        round(lit(1.0) - kept.cast("double") / count(lit(1)).cast("double"), 6)
          .as("drop_ratio"),
        // kept-paragraph fingerprint: hashes in document order; the
        // when-without-otherwise nulls are skipped by collect_list,
        // and a fully-dropped doc hashes the empty string
        md5(concat_ws("", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("idx"), col("h"))))),
          x => x.getField("h"))).cast("binary")).as("kept_hash"))
  }

  /** The production half of [[paragraphDedup]]: REWRITE each document
    * to its surviving paragraphs (CCNet §3.1 / Dolma both emit the
    * pruned corpus, not just decisions).
    *
    * Scale design: the dedup shuffle stays text-free — the
    * first-occurrence window still sees only (doc_id, idx, md5)
    * triples, and the keep decisions then collapse to ONE small row
    * per document (the sorted kept-idx array, a few ints). Joining
    * that decision row back to the documents is a doc_id equi-join —
    * with the corpus stored bucketed on doc_id the text side needs no
    * exchange (AQE broadcasts the decision side below its threshold
    * anyway) — and each document rebuilds its surviving text LOCALLY
    * by re-slicing its own token array at the kept offsets. Document
    * text never enters any shuffle at any stage.
    *
    * Output: (doc_id, n_kept, kept_text); a fully-deduplicated
    * document keeps an empty string.
    */
  def paragraphRewrite(docs: DataFrame): DataFrame = {
    import Materialize.PinOps
    val firstWins = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"), col("idx"))
    // ONE spread + tokenize pass pinned for both consumers — the
    // hash/decision side and the text rebuild each derive from it
    // (unpinned, the corpus was spread AND re-tokenized twice; the
    // jaccardPairs shared-shingle-frame discipline)
    val tok = spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("t")).pinned
    val decisions = paragraphHashesFromTokens(tok)
      .withColumn("keep", row_number().over(firstWins) === 1)
      .groupBy(col("doc_id"))
      // when-without-otherwise nulls are skipped by collect_list, so
      // a fully-dropped doc aggregates to an EMPTY kept-idx array
      .agg(sort_array(collect_list(when(col("keep"), col("idx"))))
        .as("kept_idx"))
    tok
      .join(decisions, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(size(col("kept_idx")), lit(0)).cast("bigint").as("n_kept"),
        concat_ws(" ", transform(
          coalesce(col("kept_idx"), array().cast("array<int>")),
          i => concat_ws(" ",
            slice(col("t"), i * ParaTokens + 1, lit(ParaTokens)))))
          .as("kept_text"))
  }

  /** Benchmark decontamination: flag corpus documents sharing at
    * least `minShared` word-3-gram shingles with any document of an
    * evaluation set — the "did the training data leak the benchmark"
    * check every LLM pipeline runs before training.
    *
    * The benchmark is small by nature, so its shingle index is
    * BROADCAST and the corpus streams map-side through the join —
    * zero shuffle of the corpus text at 100 TB; the only aggregation
    * is over matching (doc, bench) pairs.
    *
    * Inputs: docs (doc_id, text), benchmark (bench_id, text).
    */
  def contaminationPairs(
      docs: DataFrame, benchmark: DataFrame, minShared: Int): DataFrame = {
    val dsh = shingled(docs)
    val bsh = shingled(
      benchmark.select(col("bench_id").as("doc_id"), col("text")))
      .select(col("doc_id").as("bench_id"), col("sh"))
    dsh.join(broadcast(bsh), "sh")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the high-diameter-safe algorithm and THE duplicate
    * clustering in this engine: each round contracts whole
    * neighborhoods onto their local minimum instead of moving labels
    * one edge, so convergence takes O(log²) rounds in the component
    * DIAMETER-independent sense (the paper's bound) versus the
    * O(diameter) hops per-edge label propagation pays. On a 100 TB
    * corpus where a boilerplate chain strings thousands of near-dup
    * docs into a long path, a propagation loop pays one driver
    * round-trip per 2 hops; this pays ~4 rounds total. (The
    * O(diameter) min-label loop lives in the TEST SUITE only —
    * `MinLabelClusters` — as an independent cross-check
    * implementation, never on a production path.)
    *
    * Each half-round is two shuffles on doc_id (a groupBy for the
    * neighborhood min + an equi-join to re-emit edges) and edges are
    * checkpointed per round to keep lineage flat. The fixed point is
    * a star per component centered at the component minimum —
    * oracle-checked against TWO independent recursive-CTE
    * formulations ([[clusterClosureSql]] and [[clusterClosureSql2]]).
    */
  def dupClustersStar(docs: DataFrame): DataFrame =
    labelAllDocs(docs, starComponents(lshCandidatePairs(docs)))

  /** [[dupClustersStar]] with the composition-default SCREENED edit
    * confirm between blocking and clustering: components form only
    * over candidate pairs whose normalized edit similarity passes
    * [[EditScreenMinSim]] ([[screenedEditPairs]]), so a banding
    * false positive — two docs sharing a bucket by minhash luck or
    * boilerplate shingles — can no longer chain unrelated documents
    * into one cluster. This is the production near-dup clustering
    * shape: block (LSH) → confirm (screened edit) → cluster (star
    * contraction); the DP runs only on candidates, and within those
    * only on length-compatible pairs. */
  def dupClustersVerified(docs: DataFrame): DataFrame =
    labelAllDocs(docs,
      starComponents(
        editVerify(docs, EditScreenMinSim).select(col("a"), col("b"))))

  /** Maintain star-contracted components INCREMENTALLY across ingest
    * batches: `prevStars` is the previous fixed point as (a =
    * component-min, b = member) edges — one row per clustered member,
    * O(clustered nodes), NOT the O(all historical candidate pairs)
    * edge log — and `newEdges` is this batch's candidate pairs (any
    * orientation; canonicalized here). Only the AFFECTED subgraph is
    * re-contracted: each new-edge endpoint is mapped to its existing
    * component label (itself if unclustered), the touched components'
    * star edges are peeled off by label, and [[starComponents]] runs
    * over touched-stars ∪ new-edges alone; untouched components pass
    * through verbatim. Correct because components are disjoint and
    * every new edge lands entirely inside the touched set — an
    * untouched component cannot merge with anything. Per-trigger cost
    * is O(affected subgraph), corpus-size-independent: the 100 TB
    * shape for keeping dedup clusters current as a corpus grows.
    * Result invariant: equals starComponents over the union of ALL
    * edges ever seen (spec-pinned, including cross-batch merges). */
  def incrementalStars(prevStars: DataFrame, newEdges: DataFrame): DataFrame = {
    // bootstrap fast path: a STATICALLY-empty prev (first trigger of a
    // fresh index — the gate passes `within.filter(lit(false))`, which
    // the optimizer folds to an empty LocalRelation) has no components
    // to touch, so the endpoint/touched/untouched machinery would run
    // three real jobs (an eager pin among them) joining against
    // nothing. Detection is plan-shape only — no job; a prev whose
    // emptiness is a runtime fact (an empty TABLE) keeps the general
    // path, costing only the cheap empty-side joins.
    val prevStaticallyEmpty = prevStars.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }
    if (prevStaticallyEmpty) {
      val canon = newEdges
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b"))
      return starComponents(canon)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("cluster_id").as("a"), col("doc_id").as("b"))
    }
    val edges = newEdges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .pinned // feeds the endpoint set AND the contraction
    // (no distinct here: starComponents distincts its input, and the
    // endpoint explode below is distinct-ed — one less shuffle per
    // maintenance round)
    val ends = edges
      .select(explode(array(col("a"), col("b"))).as("e")).distinct()
    val touchedLabels = ends
      .join(prevStars.select(col("b").as("e"), col("a").as("lbl")),
        Seq("e"), "left_outer")
      .select(coalesce(col("lbl"), col("e")).as("a")).distinct()
      .pinned // both the semi and anti side below
    val touched = prevStars.join(touchedLabels, Seq("a"), "left_semi")
    val untouched = prevStars.join(touchedLabels, Seq("a"), "left_anti")
    // back to EDGE form: drop the centers' self-labels ((c, c) rows —
    // starComponents emits them for labeling) so the state stays a
    // clean self-loop-free edge set the next round can contract again
    starComponents(touched.union(edges))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("cluster_id").as("a"), col("doc_id").as("b"))
      .union(untouched)
  }

  /** APPEND one ingest batch's minhash bands into a stored
    * [[writeBandIndex]] table, keeping the (band, bucket) bucketed
    * layout — the foreachBatch body that lets every later trigger
    * probe the index exchange-free. Resolution, lazy creation (the
    * first append creates version 1 plus the pointer view) and the
    * layout-mismatch failure mode are
    * [[graft.sources.Sources.appendBucketed]]'s. */
  def appendBandIndex(
      batch: DataFrame, tableName: String, numBuckets: Int): Unit =
    appendBands(minhashBands(batch), tableName, numBuckets)

  /** [[appendBandIndex]] for a caller that ALREADY banded the batch
    * (the incremental cluster trigger pins the bands for its probe —
    * re-shingling the batch just to append would pay the whole
    * minhash pass twice per trigger). */
  def appendBands(
      bands: DataFrame, tableName: String, numBuckets: Int): Unit =
    // snapshot → append → stats bump, atomically vs other mutators
    Analytics.appendBucketedWithStats(
      bands, tableName, Seq("band", "bucket"), numBuckets)

  /** Left-joins component labels back onto the full corpus: docs
    * incident to no (surviving) candidate edge are their own
    * singleton cluster. */
  private[operators] def labelAllDocs(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("doc_id", "d2"),
        col("doc_id") === col("d2"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))

  /** Edge sets at or below this bound finish on the driver instead of
    * paying more distributed rounds: each large/small-star round
    * SHRINKS the edge set toward one star edge per clustered member,
    * so the contraction TAIL is always tiny relative to the corpus —
    * yet a tail round still costs two shuffles plus a pin and a count
    * of pure scheduler time. Below the bound, one collect (≤ 2^16
    * edges × 16 B = 1 MiB on the driver) plus an in-memory union-find
    * replaces every remaining round — the local-finish treatment
    * GraphX/GraphFrames connected components apply for the same
    * reason. At 100 TB the early rounds stay distributed (the
    * candidate edge set is corpus-sized); only the already-contracted
    * tail ever crosses this bound, and the driver memory it costs is
    * fixed by the constant, not the corpus. */
  val LocalContractEdges: Long = 1L << 16

  /** Driver-side union-find over a bounded, collected edge set.
    * Unions always link the LARGER root under the smaller, so every
    * root is its component's minimum by construction and the labels
    * are value-identical to the distributed star fixed point.
    * Self-loops are skipped without registering their node — matching
    * the distributed rounds, which drop them (a self-loop-only node
    * gets no label from either path). */
  private def localComponents(
      spark: SparkSession, edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression: point the walked chain at the root
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    parent.keys.toSeq.map(v => (v, find(v))).toDF("doc_id", "cluster_id")
  }

  /** The large-star/small-star iteration itself: undirected edges
    * (a, b) in, (doc_id, cluster_id = component minimum) out, for
    * every node incident to an edge. Exposed separately so the
    * high-diameter behavior is testable on synthetic graphs the LSH
    * candidate generator would never produce (long paths). Specs pass
    * `localFinishEdges = -1` to force the distributed rounds on
    * graphs that would otherwise finish locally. */
  def starComponents(pairs: DataFrame,
      localFinishEdges: Long = LocalContractEdges): DataFrame = {
    // canonical undirected edges, a < b; self-loops never enter
    var edges = pairs.select(col("a"), col("b")).distinct().pinnedIter
    // the local finish handles bigint ids — every production caller;
    // anything else keeps the distributed rounds authoritative
    val localOk = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // ONE bounded collect decides local-finish AND delivers the edges
    // when it applies — the former count-then-collect pair paid two
    // job floors for the same answer (a visible per-trigger cost in
    // the incremental maintenance path, where the touched subgraph is
    // tiny by design). limit(bound+1) over the PINNED blocks reads at
    // most bound+1 rows whatever the edge set's true size, so the
    // probe stays cheap in the distributed case too; an oversized
    // result hands back None and the full count runs as before.
    def tryLocal(e: DataFrame): Option[Array[(Long, Long)]] =
      if (!localOk) None
      else {
        // clamp BEFORE the +1: localFinishEdges near Long.MaxValue
        // would overflow negative and hand limit() a bad argument
        val probe = e.limit(
          math.min(localFinishEdges, Int.MaxValue - 1L).toInt + 1).collect()
        if (probe.length <= localFinishEdges)
          Some(probe.map(r => (r.getLong(0), r.getLong(1))))
        else None
      }
    def localFinish(e: DataFrame, rows: Array[(Long, Long)]): DataFrame = {
      Materialize.unpin(e)
      localComponents(pairs.sparkSession, rows)
    }
    tryLocal(edges) match {
      case Some(rows) => return localFinish(edges, rows)
      case None => ()
    }
    var prevCount = edges.count()

    // One star half-round, exactly Kiveris et al.'s operators.
    // Large-star keys every edge by BOTH endpoints (each node sees
    // its full neighborhood) and rewires strictly larger neighbors
    // to m(u) = min(Γ(u) ∪ {u}). Small-star keys each edge ONLY by
    // its larger endpoint, so u sees Γ⁻(u) = {v ∈ Γ(u): v < u} and
    // rewires every small-side neighbor AND u itself to
    // m(u) = min(Γ⁻(u) ∪ {u}) = min(Γ⁻(u)) — per the paper, which
    // also makes the small-star mins aggregate shuffle |E| rows
    // instead of the symmetric 2|E|.
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val rewired =
        if (large) {
          val adj = e.select(col("a").as("u"), col("b").as("v"))
            .union(e.select(col("b").as("u"), col("a").as("v")))
          val mins = adj.groupBy(col("u")).agg(min(col("v")).as("mv"))
            .select(col("u"), least(col("mv"), col("u")).as("m"))
          adj.join(mins, "u").filter(col("v") > col("u"))
            .select(col("v"), col("m"))
        } else {
          // edges are canonical a < b: larger endpoint is b
          val smaller = e.select(col("b").as("u"), col("a").as("v"))
          val mins = smaller.groupBy(col("u")).agg(min(col("v")).as("m"))
          val side = smaller.join(mins, "u").select(col("v"), col("m"))
          val self = mins.select(col("u").as("v"), col("m"))
          side.union(self)
        }
      rewired.filter(col("v") =!= col("m"))
        .select(least(col("v"), col("m")).as("a"),
          greatest(col("v"), col("m")).as("b"))
        .distinct()
    }

    // Converged when a full (large, small) round leaves the edge set
    // unchanged — checked exactly: equal counts + empty difference.
    // Rounds are O(log² n) worst case, ~2-3 in practice. A round pays
    // one pin job plus one count job reading the pinned blocks (no
    // re-derivation — lineage is truncated), and the except job only
    // when the counts tie; fusing the count INTO the pin as an
    // observe() metric was tried and reverted (see the
    // Materialize.scala NOTE), so the separate count stands.
    // The paper's termination proof covers these operators directly;
    // the round cap stays as a belt so any defect surfaces as a loud
    // failure instead of looping the driver forever.
    val maxRounds = 64
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds <= maxRounds,
        s"starComponents: no fixed point after $maxRounds large/small-star " +
          "rounds — cap is a belt; the paper bounds rounds at O(log² n)")
      val stepped = star(star(edges, large = true), large = false)
        .pinnedIter
      tryLocal(stepped) match {
        case Some(rows) =>
          Materialize.unpin(edges)
          return localFinish(stepped, rows)
        case None => ()
      }
      val steppedCount = stepped.count()
      converged = steppedCount == prevCount && stepped.except(edges).isEmpty
      prevCount = steppedCount
      Materialize.unpin(edges) // the except above already ran; stepped is materialized
      edges = stepped
    }

    // Fixed point is a star per component: every edge is
    // (component_min, member); centers label themselves. The min()
    // is belt-and-braces — a star-fixed edge set gives one edge per
    // member — and keeps the output key-unique by construction.
    edges.select(col("b").as("doc_id"), col("a").as("cluster_id"))
      .union(edges.select(col("a").as("doc_id"), col("a").as("cluster_id")))
      .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
  }

  /** Wide-simhash geometry: 60 bits (15 md5 nibbles × 4 bits — stays
    * clear of the BIGINT sign bit on both engines), blocked into 4
    * bands of 15 bits for Hamming-neighbor candidate generation. By
    * pigeonhole, any pair within Hamming distance ≤ SimhashBands - 1
    * agrees on at least one full band, so the band equi-join finds
    * every pair at distance ≤ [[SimhashMaxHamming]] — the Manku et
    * al. WWW'07 block-permutation scheme with the permutations
    * replaced by disjoint bands. */
  val SimhashWideBits = 60
  val SimhashBandBits = 15
  val SimhashNumBands: Int = SimhashWideBits / SimhashBandBits
  val SimhashMaxHamming: Int = SimhashNumBands - 1

  private def simhashVote(h: Column, b: Int): Column =
    when(substring(h, b + 1, 1) >= "8", 1).otherwise(-1)

  /** (doc_id, simhash): 16-bit signature from per-token md5 bit votes. */
  def simhash16(docs: DataFrame): DataFrame = {
    val toks = spread(docs)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val votes = toks.groupBy(col("doc_id"))
      .agg(
        sum(simhashVote(col("h"), 0)).as("v0"),
        (1 until 16).map(b => sum(simhashVote(col("h"), b)).as(s"v$b")): _*)
    val sh = (0 until 16)
      .map(b => when(col(s"v$b") > 0, lit(1 << b)).otherwise(lit(0)))
      .reduce(_ + _)
    votes.select(col("doc_id"), sh.cast("int").as("simhash"))
  }

  /** Vote direction for bit `b` of the wide simhash: bit (b mod 4) of
    * md5 nibble (b div 4), so the 60 hash functions are independent
    * uniform bits of ONE md5 per token — the same one-hash-many-
    * slices economy as the minhash seeds, replayable in SQL. */
  private def simhashWideVote(h: Column, b: Int): Column = {
    val nib = conv(substring(h, b / 4 + 1, 1), 16, 10).cast("int")
    when(shiftright(nib, b % 4).bitwiseAND(lit(1)) === 1, 1).otherwise(-1)
  }

  /** (doc_id, simhash): [[SimhashWideBits]]-bit signature as a LONG.
    * One md5 per token, 60 vote sums in a single aggregate pass
    * (map-side partial aggregation — per-doc state is 60 longs), bit
    * assembly on the aggregated row. Everything before the groupBy is
    * per-token map work; only (doc_id, votes) shuffles. */
  def simhashWide(docs: DataFrame): DataFrame =
    simhashWideFromHashed(spread(docs)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok")))
      .select(col("doc_id"), col("h")))

  /** [[simhashWide]] from already-hashed (doc_id, h = md5(token))
    * rows — factored so the generator-ensemble's shared fingerprint
    * pass hashes each token exactly once across families. */
  def simhashWideFromHashed(tokHashed: DataFrame): DataFrame = {
    val votes = tokHashed.groupBy(col("doc_id"))
      .agg(sum(simhashWideVote(col("h"), 0)).as("v0"),
        (1 until SimhashWideBits)
          .map(b => sum(simhashWideVote(col("h"), b)).as(s"v$b")): _*)
    val sh = (0 until SimhashWideBits)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col("doc_id"), sh.as("simhash"))
  }

  /** Hamming-neighbor pairs (a < b, distance ≤ [[SimhashMaxHamming]])
    * via band blocking over [[simhashWide]] signatures: each signature
    * explodes into [[SimhashNumBands]] (band, bval) keys, candidates
    * come from ONE equi-join on those keys, and the exact Hamming
    * distance (`bit_count(xor)`) is verified only on candidates. No
    * all-pairs comparison anywhere; candidate volume is governed by
    * the band width (15 bits ⇒ 2^15 buckets per band), the knob a
    * 100 TB run widens to keep buckets small. */
  def simhashHammingPairs(docs: DataFrame): DataFrame =
    simhashHammingPairsFromSig(simhashWide(docs).pinned)

  /** The band-blocked Hamming join over an already-pinned
    * (doc_id, simhash) frame (banded + probed twice) — factored for
    * the generator-ensemble's shared fingerprint pass. */
  def simhashHammingPairsFromSig(sh: DataFrame): DataFrame = {
    val bandCols = (0 until SimhashNumBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * SimhashBandBits)
          .bitwiseAND(lit((1L << SimhashBandBits) - 1)).as("bval"))
    }
    val bands = sh
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bval").as("bval"))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("a"), col("simhash").as("sh_a")), "a")
      .join(sh.select(col("doc_id").as("b"), col("simhash").as("sh_b")), "b")
      .select(col("a"), col("b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= SimhashMaxHamming)
  }

  /** The candidate-generator ENSEMBLE (q_dedup_ensemble body) off
    * ONE shared fingerprint pass: a single projection over the
    * corpus tokenizes once and computes all three families' hashes —
    * sha-256'd shingles (minhash input), md5'd tokens (wide-simhash
    * input) and encoded 5-gram picks (winnow input) — materialized
    * as ONE pinned frame the three band joins then read. Before the
    * factoring each generator re-read the corpus pin and re-ran its
    * own tokenize+hash subtree from raw text (three eager pin jobs,
    * two redundant tokenizations); now the corpus text is touched
    * exactly once, which is also the plan a 100 TB run stores: one
    * fingerprint artifact, three cheap index derivations. Family
    * values are bit-identical to the standalone generators (the
    * factored FromHashed / FromSig / FromFp bodies are the SAME
    * expressions), so the ensemble still shares their oracles. */
  def ensemblePairs(docs: DataFrame): DataFrame = {
    import graft.operators.TextOps
    val toks = tokens(col("text"))
    val base = spread(docs)
      .select(col("doc_id"),
        graft.functions.MinhashSignature(docs.sparkSession,
          array_distinct(shingles(toks, 3)), MinhashSeeds).as("msig"),
        transform(toks, t => md5(t)).as("th"),
        TextOps.winnowSelCol(docs.sparkSession, col("text")).as("sel"))
      .pinned
    // minhash leg: slot picks over the fused native signature
    val sig = base.select(
      col("doc_id") +:
        (0 until MinhashSeeds).map(j =>
          element_at(col("msig"), j + 1).as(s"mh$j")): _*)
    val mh = candidatePairsFromBands(bandsOf(sig).pinned)
    // wide-simhash leg: vote aggregation over the pre-hashed tokens
    val sh2 = simhashHammingPairsFromSig(
      simhashWideFromHashed(
        base.select(col("doc_id"), explode(col("th")).as("h"))).pinned)
      .select(col("a"), col("b"))
    // winnow leg: df-capped inverted index over the pre-selected picks
    val wn = TextOps.winnowPairsFromFp(
      base.select(col("doc_id"),
        explode(array_distinct(transform(col("sel"),
          x => shiftright(x, TextOps.WinnowPosBits)))).as("fp"))
        .pinned)
      .select(col("a"), col("b"))
    def tag(df: DataFrame, m: Boolean, h: Boolean, w: Boolean) =
      df.select(col("a"), col("b"), lit(m).as("mh"),
        lit(h).as("sh2"), lit(w).as("wn"))
    tag(mh, m = true, h = false, w = false)
      .union(tag(sh2, m = false, h = true, w = false))
      .union(tag(wn, m = false, h = false, w = true))
      .groupBy(col("a"), col("b"))
      .agg(bool_or(col("mh")).as("by_minhash"),
        bool_or(col("sh2")).as("by_simhash"),
        bool_or(col("wn")).as("by_winnow"))
      .withColumn("n_generators",
        (col("by_minhash").cast("int") + col("by_simhash").cast("int") +
          col("by_winnow").cast("int")).cast("int"))
  }

  /** Shared oracle closure: candidate pairs → undirected edges →
    * recursive transitive reach → min reachable id per doc. BOTH
    * cluster queries (propagation and star) append this to
    * [[candidateCtes]], making "same oracle" structural rather than a
    * copy-paste invariant. */
  private def closureCtes: String =
    """edges AS (SELECT a AS src, b AS dst FROM cand
      |          UNION ALL SELECT b, a FROM cand),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
      |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id
      |        FROM reach GROUP BY src)""".stripMargin

  private def closureSql: String =
    s"""$closureCtes
       |SELECT doc_id, cluster_id FROM lab""".stripMargin

  /** The full candidate→component derivation as CTEs ending in
    * `lab(doc_id, cluster_id)` — for oracles that COMPOSE on the
    * cluster labels (the leakage-safe split keys its assignment on
    * the cluster id). Built from the same candidate and closure
    * pieces as [[clusterClosureSql]], so the label definition cannot
    * fork between the clustering gates and their compositions. */
  def clusterLabelCtes: String =
    s"""$candidateCtes,
       |$closureCtes""".stripMargin

  /** Shared oracle CTEs: minhash signatures → LSH bands → candidate
    * pairs, the exact SQL replica of [[minhashBands]] +
    * [[lshCandidatePairs]]. */
  private def candidateCtes: String = candidateCtesFrom("documents")

  /** ONE oracle for q_dedup_incremental AND the streaming
    * q_stream_index_lifecycle: the full candidate set restricted to
    * pairs whose newer side is in the new slice — identical by
    * construction to "incremental == full-recompute restricted to
    * the increment", however the stored index was built (one-shot
    * write, fragmented appends, or appends + compaction). Sharing
    * the string makes that lifecycle-independence structural. */
  def incrementalCandSql: String =
    s"""WITH $candidateCtes
       |SELECT a, b FROM cand WHERE b >= $IncrementalSplit""".stripMargin

  /** ONE oracle for q_dedup_clusters_star AND the streaming
    * q_stream_dedup_clusters: connected components over the full
    * corpus's candidate graph. Both implementations (batch
    * contraction, incremental contraction) must land on the
    * identical fixed point, so they share this string — batch/stream
    * agreement is structural, not a copy-paste invariant. */
  def clusterClosureSql: String =
    s"""WITH RECURSIVE $candidateCtes,
       |$closureSql""".stripMargin

  /** A SECOND, independently-derived oracle formulation of the same
    * components for q_dedup_clusters: instead of seeding reachability
    * from every document ([[closureSql]]'s reach(doc, doc) base
    * case), this closes the EDGE set transitively (conn = everything
    * reachable from an edge endpoint) and attaches singletons through
    * a LEFT JOIN + least() against the corpus. Two formulations, one
    * Spark implementation: a bug in either SQL derivation or in the
    * contraction breaks one of the two gates. */
  def clusterClosureSql2: String =
    s"""WITH RECURSIVE $candidateCtes,
       |edges AS (SELECT a AS src, b AS dst FROM cand
       |          UNION ALL SELECT b, a FROM cand),
       |conn(a, b) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT c.a, e.dst FROM conn c JOIN edges e ON e.src = c.b)
       |SELECT d.doc_id,
       |       least(d.doc_id, coalesce(min(c.b), d.doc_id)) AS cluster_id
       |FROM documents d LEFT JOIN conn c ON c.a = d.doc_id
       |GROUP BY d.doc_id""".stripMargin

  /** The [[LshRecallSampleHexMax]] hash-sample as a DataFrame filter:
    * md5 of the decimal doc_id string, leading hex digit below the
    * cap. [[recallSampleSql]] is the bit-for-bit DuckDB replica (both
    * engines md5 the UTF-8 bytes of the same decimal rendering). */
  private def recallSample(docs: DataFrame): DataFrame =
    docs.filter(
      substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
        < LshRecallSampleHexMax)

  /** DuckDB replica of [[recallSample]], as a CTE body. */
  private def recallSampleSql: String =
    s"""SELECT doc_id, text FROM documents
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '$LshRecallSampleHexMax'""".stripMargin

  /** q_doc_pagerank iteration count and fixed-point scale: ranks are
    * BIGINT micro-units (1e12 = rank 1.0) so every engine computes
    * bit-identical values — integer floor division replaces the
    * float mass-splitting that would make cross-engine sums
    * order-dependent. Damping 0.85 is the integer pair (17, 20). */
  val PrIters = 4
  val PrScale = 1000000000000L

  /** PageRank over the UNDIRECTED LSH candidate graph — centrality
    * inside near-duplicate neighborhoods: a document that many
    * near-dup chains pass through (template hubs, syndicated
    * boilerplate centers) ranks high, which is the curation signal
    * for "this cluster has a canonical center" vs "loose chain".
    * Nodes are docs incident to >= 1 candidate edge (so every node
    * has degree >= 1 — no dangling-mass machinery), teleport is
    * (1-d)/n to graph nodes, and each iteration is the classic
    * sparse matrix-vector product: one equi-join of the adjacency
    * against the rank/degree state + one groupBy on the receiver —
    * the candidate SUBGRAPH only, never the corpus. All arithmetic
    * is fixed-point BIGINT ([[PrScale]] micro-units, floor division
    * `div` / DuckDB `//`), so the oracle's unrolled-CTE replay is
    * bit-identical by construction (the ivfTrainQuantized pattern,
    * taken to integers). Rank state is pinnedIter per round. */
  def docPagerank(docs: DataFrame, iters: Int): DataFrame =
    pagerankOnEdges(lshCandidatePairs(docs), iters)

  /** The iteration core of [[docPagerank]] over an explicit (a, b)
    * undirected edge set — named so the spec can drive a planted
    * graph through hand-computed fixed-point values. */
  def pagerankOnEdges(edges: DataFrame, iters: Int): DataFrame = {
    val adj = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
      .pinned // feeds degree, the node count, and every iteration
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg")).pinned
    val n = deg.count() // one driver scalar — the graph node count
    require(n > 0, "docPagerank: no candidate edges — empty graph")
    val base = (3L * PrScale / n) / 20L // (1-d)/n in micro-units
    var rank = deg.select(col("u"), lit(PrScale / n).as("r")).pinnedIter
    for (_ <- 1 to iters) {
      val stepped = adj.join(rank, "u").join(deg, "u")
        .select(col("v"), expr("r div deg").as("c"))
        .groupBy(col("v"))
        .agg(sum(col("c")).as("s"))
        .select(col("v").as("u"),
          (lit(base) + expr("17 * s div 20")).as("r"))
        .pinnedIter
      Materialize.unpin(rank)
      rank = stepped
    }
    rank.join(deg, "u")
      .select(col("u").as("doc_id"), col("deg"), col("r").as("pr_micro"))
  }

  /** Oracle for q_doc_pagerank: the shared candidate CTEs, then all
    * [[PrIters]] iterations unrolled as chained MATERIALIZED CTEs
    * with the same fixed-point integer arithmetic (`//` = `div`). */
  def docPagerankSql(iters: Int): String = {
    val baseSql =
      s"((3 * $PrScale // (SELECT n FROM nn)) // 20)"
    val rounds = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT adj.v AS u,
         |         $baseSql + (17 * CAST(sum(pr.r // deg.deg) AS BIGINT)) // 20 AS r
         |  FROM adj JOIN r${k - 1} pr ON adj.u = pr.u
         |           JOIN deg ON adj.u = deg.u
         |  GROUP BY adj.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $candidateCtes,
       |adj AS (SELECT a AS u, b AS v FROM cand
       |        UNION ALL SELECT b AS u, a AS v FROM cand),
       |deg AS MATERIALIZED (
       |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY u),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |r0 AS MATERIALIZED (
       |  SELECT u, $PrScale // (SELECT n FROM nn) AS r FROM deg),
       |$rounds
       |SELECT r$iters.u AS doc_id, deg.deg, r$iters.r AS pr_micro
       |FROM r$iters JOIN deg ON r$iters.u = deg.u""".stripMargin
  }

  /** [[candidateCtes]] over an arbitrary (doc_id, text) source CTE —
    * lets the recall-telemetry oracle run the identical replica on
    * its deterministic document sample. */
  /** Wide-SimHash banded Hamming pairs as CTEs ending in
    * `swcand(a, b, hamming)` (<= SimhashMaxHamming applied) — ONE
    * SQL body shared by the q_dedup_simhash_pairs oracle and the
    * generator-ensemble oracle. CTE names are sw-prefixed so they
    * compose with [[candidateCtes]] in one WITH. */
  private def simhashPairCtes: String = {
    val votes = (0 until SimhashWideBits).map(b =>
      s"sum(CASE WHEN (CAST('0x' || substr(md5(tok), ${b / 4 + 1}, 1) AS INTEGER) >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n               ")
    val bits = (0 until SimhashWideBits).map(b =>
      s"CASE WHEN v$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    val bands = (0 until SimhashNumBands).map(b =>
      s"SELECT doc_id, $b AS band, (simhash >> ${b * SimhashBandBits}) & ${(1L << SimhashBandBits) - 1} AS bval FROM swsh")
      .mkString("\n           UNION ALL ")
    s"""swsh AS (
       |  SELECT doc_id, CAST($bits AS BIGINT) AS simhash
       |  FROM (SELECT doc_id,
       |               $votes
       |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |              FROM documents)
       |        GROUP BY doc_id)),
       |swbands AS (
       |           $bands),
       |swcand AS (
       |  SELECT a, b, hamming FROM (
       |    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
       |    FROM swbands x JOIN swbands y
       |      ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id
       |    JOIN swsh sa ON sa.doc_id = x.doc_id
       |    JOIN swsh sb ON sb.doc_id = y.doc_id)
       |  WHERE hamming <= $SimhashMaxHamming)""".stripMargin
  }

  private def candidateCtesFrom(src: String): String = {
    val mh = (0 until MinhashSeeds).map(j =>
      s"list_min(list_transform(sh, x -> substr(sha256(x), ${j * 8 + 1}, 8))) AS mh$j")
      .mkString(",\n         ")
    val bands = (0 until NumBands).map(b =>
      s"SELECT doc_id, $b AS band, md5(mh${2 * b} || mh${2 * b + 1}) AS bucket FROM sig")
      .mkString("\n           UNION ALL ")
    s"""sets AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(len(toks) - 2),
       |           i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $src)),
       |sig AS (
       |  SELECT doc_id,
       |         $mh
       |  FROM sets),
       |bands AS (
       |           $bands),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id)""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // Exact dedup: hash-groupBy on content digest; keeps the lowest
    // doc_id per group (deterministic survivor, unlike dropDuplicates).
    QueryDef.sql(
      "q_dedup_exact",
      """SELECT md5(text) AS content_hash,
        |       CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "documents")
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },

    // Corpus dedup-rate telemetry: the one-row summary a pipeline run
    // logs (total docs, unique contents, duplicate count and rate).
    // Exact distinct via Spark's two-phase partial aggregation over
    // the content hash — only (hash) pairs shuffle, never text; the
    // approximate twin for quick estimates is q_approx_distinct.
    QueryDef.sql(
      "q_dedup_stats",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
        |       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs,
        |       round(CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
        |             / count(*), 6) AS dup_rate
        |FROM documents""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("n_unique"))
          .select(col("n_docs"), col("n_unique"),
            (col("n_docs") - col("n_unique")).as("n_dup_docs"),
            round((col("n_docs") - col("n_unique")).cast("double")
              / col("n_docs"), 6).as("dup_rate"))
    },

    // N-gram Jaccard near-dup: word-3-gram shingles, stop-shingle cap
    // (df > MaxShingleDf dropped), inverted-index pair generation,
    // J = |A∩B| / |A∪B| over pruned sets for pairs sharing ≥2 shingles.
    QueryDef.sql(
      "q_dedup_ngram_jaccard",
      s"""WITH sh0 AS (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(range(len(toks) - 2),
         |                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         |sh AS (
         |  SELECT doc_id, sh FROM sh0
         |  WHERE sh NOT IN (SELECT sh FROM sh0
         |                   GROUP BY sh HAVING count(*) > $MaxShingleDf)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
         |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT a, b, CAST(inter AS BIGINT) AS inter,
         |       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = a
         |JOIN sizes sb ON sb.doc_id = b""".stripMargin) {
      (s, dir) => jaccardPairs(Tables(s, dir, "documents"), minInter = 2)
    },

    // MinHash + LSH banding: 8 md5-seeded minhashes per doc, banded
    // 2-wide into 4 bucket keys. Docs sharing a bucket are near-dup
    // candidates via a plain equi-join on (band, bucket) — that join
    // is exercised in the test suite (synthetic near-dups); here the
    // oracle checks every signature and bucket value bit-for-bit.
    QueryDef.sql(
      "q_dedup_minhash_bands", {
        val mh = (0 until MinhashSeeds).map(j =>
          s"list_min(list_transform(sh, x -> substr(sha256(x), ${j * 8 + 1}, 8))) AS mh$j")
          .mkString(",\n         ")
        val bands = (0 until MinhashSeeds / BandWidth).map(b =>
          s"SELECT doc_id, $b AS band, md5(mh${2 * b} || mh${2 * b + 1}) AS bucket FROM sig")
          .mkString("\n           UNION ALL ")
        s"""WITH sig AS (
           |  SELECT doc_id,
           |         $mh
           |  FROM (SELECT doc_id,
           |               list_distinct(list_transform(range(len(toks) - 2),
           |                 i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
           |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)))
           |$bands""".stripMargin
      }) {
      (s, dir) => minhashBands(Tables(s, dir, "documents"))
    },

    // LSH candidate pairs: the equi-join on (band, bucket) that turns
    // the signatures into near-dup candidates — the scalable candidate
    // generator itself, checked value-for-value (the oracle rebuilds
    // signatures, bands and the self-join verbatim).
    QueryDef.sql(
      "q_dedup_lsh_pairs",
      s"""WITH $candidateCtes
         |SELECT a, b FROM cand""".stripMargin) {
      (s, dir) => lshCandidatePairs(Tables(s, dir, "documents"))
    },

    // Incremental dedup: candidates for the "new" slice (doc_id >=
    // IncrementalSplit) against the full corpus, computed from a
    // prebuilt band index for the existing slice — only new docs are
    // hashed. The oracle is simply the full candidate set restricted
    // to pairs whose newer side is in the new slice: identical by
    // construction, which is the point (incremental == full-recompute
    // restricted to the increment).
    QueryDef.sql("q_dedup_incremental", incrementalCandSql) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        val existing = docs.filter(col("doc_id") < IncrementalSplit)
        val fresh = docs.filter(col("doc_id") >= IncrementalSplit)
        incrementalCandidatePairs(minhashBands(existing), fresh)
    },

    // Bloom prefilter for incremental exact dedup: batch docs whose
    // k=2 content-hash bloom positions are all set in the corpus's
    // bloom — the map-side possible-duplicate screen. The oracle
    // rebuilds the identical position set and membership test, so the
    // approximate (false-positive-bearing) output hash-matches.
    QueryDef.sql(
      "q_dedup_bloom",
      s"""WITH ch AS (SELECT doc_id, md5(text) AS h FROM documents),
         |pos AS (SELECT doc_id,
         |               CAST('0x' || substr(h, 1, 6) AS BIGINT) % $BloomBits AS p0,
         |               CAST('0x' || substr(h, 9, 6) AS BIGINT) % $BloomBits AS p1
         |        FROM ch),
         |bloom AS (SELECT DISTINCT p FROM (
         |  SELECT p0 AS p FROM pos WHERE doc_id < $IncrementalSplit
         |  UNION ALL
         |  SELECT p1 AS p FROM pos WHERE doc_id < $IncrementalSplit) u)
         |SELECT doc_id, p0, p1 FROM pos
         |WHERE doc_id >= $IncrementalSplit
         |  AND p0 IN (SELECT p FROM bloom)
         |  AND p1 IN (SELECT p FROM bloom)""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        bloomPrefilter(
          docs.filter(col("doc_id") < IncrementalSplit),
          docs.filter(col("doc_id") >= IncrementalSplit))
    },

    // Exact repeated-substring profile: the verbatim-span counterpart
    // to the probabilistic near-dup detectors. The oracle rebuilds
    // the identical span hashing and df threshold.
    QueryDef.sql(
      "q_dedup_substring",
      s"""WITH sp AS (
         |  SELECT DISTINCT doc_id, md5(sub) AS h FROM (
         |    SELECT doc_id, unnest(list_transform(range(len(toks) - ${SpanTokens - 1}),
         |      i -> array_to_string(toks[i+1:i+$SpanTokens], ' '))) AS sub
         |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)) u),
         |rep AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= $MinSpanDf)
         |SELECT s.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_spans,
         |       CAST(count(r.h) AS BIGINT) AS n_repeated,
         |       round(CAST(count(r.h) AS DOUBLE) / count(*), 6) AS dup_span_frac
         |FROM sp s LEFT JOIN rep r ON s.h = r.h
         |GROUP BY 1""".stripMargin) {
      (s, dir) => repeatedSpanProfile(Tables(s, dir, "documents"))
    },

    // Decontamination: corpus docs sharing >= 2 shingles with the
    // stand-in benchmark slice (every 50th doc); self-pairs excluded.
    // The oracle rebuilds both shingle sets and the overlap count.
    QueryDef.sql(
      "q_dedup_contamination",
      """WITH dsh AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(len(toks) - 2),
        |                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |bsh AS (SELECT doc_id AS bench_id, sh FROM dsh WHERE doc_id % 50 = 0)
        |SELECT d.doc_id, b.bench_id, count(*) AS shared_shingles
        |FROM dsh d JOIN bsh b ON d.sh = b.sh AND d.doc_id <> b.bench_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        val benchmark = docs.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("bench_id"), col("text"))
        contaminationPairs(docs, benchmark, minShared = 2)
          .filter(col("doc_id") =!= col("bench_id"))
    },

    // Duplicate clusters: connected components over the candidate
    // graph, labeled by min reachable doc_id, computed by alternating
    // large-star/small-star contraction — the O(log²)-round,
    // diameter-independent algorithm for 100 TB graphs, checked here
    // against the SECOND independent oracle derivation
    // (edge-closure + singleton LEFT JOIN). The formerly gated
    // O(diameter) min-label propagation now lives test-side only
    // (MinLabelClusters cross-checks the same fixed point).
    QueryDef.sql(
      "q_dedup_clusters", clusterClosureSql2) {
      (s, dir) => dupClustersStar(Tables(s, dir, "documents"))
    },

    // Same components against the FIRST oracle formulation
    // (reach-from-every-node transitive closure) — also shared
    // verbatim by the incremental streaming twin, so batch, stream
    // and both SQL derivations must all agree on one fixed point.
    QueryDef.sql(
      "q_dedup_clusters_star", clusterClosureSql) {
      (s, dir) => dupClustersStar(Tables(s, dir, "documents"))
    },

    // PageRank centrality inside the near-dup candidate graph: which
    // documents are the HUBS of duplicate neighborhoods (template
    // centers, syndicated-boilerplate sources) vs loose chain ends —
    // the ranking a curation pass consults when electing canonical
    // representatives. Fixed-point BIGINT arithmetic end to end
    // (micro-unit ranks, floor division), so the unrolled-CTE oracle
    // is bit-identical with no float sum-order hazard. Per iteration:
    // one equi-join + one groupBy on the candidate SUBGRAPH.
    QueryDef.sql("q_doc_pagerank", docPagerankSql(PrIters)) {
      (s, dir) => docPagerank(Tables(s, dir, "documents"), PrIters)
    },

    // SimHash: 16-bit signature from per-token md5 bit votes (hex
    // digit >= '8' ⇔ high bit set), weighted by token multiplicity.
    QueryDef.sql(
      "q_dedup_simhash", {
        val votes = (0 until 16).map(b =>
          s"sum(CASE WHEN substr(md5(tok), ${b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v$b")
          .mkString(",\n         ")
        val bits = (0 until 16).map(b =>
          s"CASE WHEN v$b > 0 THEN ${1 << b} ELSE 0 END").mkString(" + ")
        s"""SELECT doc_id, CAST($bits AS INTEGER) AS simhash
           |FROM (SELECT doc_id,
           |         $votes
           |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           |            FROM documents)
           |      GROUP BY doc_id)""".stripMargin
      }) {
      (s, dir) => simhash16(Tables(s, dir, "documents"))
    },

    // Wide (60-bit) SimHash Hamming-neighbor pairs: band blocking →
    // equi-join candidates → exact bit_count(xor) ≤ 3 verification.
    // The oracle replays the nibble-bit votes, the band split and the
    // Hamming filter, so the approximate blocking hash-matches.
    QueryDef.sql(
      "q_dedup_simhash_pairs",
      s"""WITH $simhashPairCtes
         |SELECT a, b, hamming FROM swcand""".stripMargin) {
      (s, dir) => simhashHammingPairs(Tables(s, dir, "documents"))
    },

    // Candidate-generator ENSEMBLE with provenance: the union of the
    // three token-level blockers — MinHash bands, wide-SimHash bands,
    // winnowing fingerprints — one row per candidate pair with a flag
    // per generator and the agreement count. The dedup-ops
    // observability view: which blocker finds what (each has
    // different blind spots — MinHash sees set overlap, SimHash sees
    // weighted-token drift, winnowing sees contiguous spans), and
    // n_generators is the precision dial a pipeline thresholds
    // instead of re-verifying everything. The three candidate CTEs
    // are the SAME shared SQL bodies as their own gates, so the
    // ensemble can never disagree with its members. Cost: the three
    // generators' own index shuffles + one (a, b) groupBy of the
    // candidate union — still Σ bucket², never n².
    QueryDef.sql(
      "q_dedup_ensemble",
      s"""WITH $candidateCtes,
         |$simhashPairCtes,
         |${graft.operators.TextOps.winnowPairCtes},
         |u AS (
         |  SELECT a, b, TRUE AS mh, FALSE AS sh2, FALSE AS wn FROM cand
         |  UNION ALL SELECT a, b, FALSE, TRUE, FALSE FROM swcand
         |  UNION ALL SELECT a, b, FALSE, FALSE, TRUE FROM wpairs)
         |SELECT a, b,
         |       bool_or(mh) AS by_minhash, bool_or(sh2) AS by_simhash,
         |       bool_or(wn) AS by_winnow,
         |       CAST(CAST(bool_or(mh) AS INTEGER)
         |            + CAST(bool_or(sh2) AS INTEGER)
         |            + CAST(bool_or(wn) AS INTEGER) AS INTEGER)
         |         AS n_generators
         |FROM u GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      ensemblePairs(Tables(s, dir, "documents"))
    },

    // MinHash-estimated Jaccard next to the exact value for every LSH
    // candidate pair — the estimator-audit query; at scale the O(K)
    // estimate from stored signatures IS the dedup decision value.
    QueryDef.sql(
      "q_dedup_minhash_est", {
        val agree = (0 until MinhashSeeds)
          .map(j => s"CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH $candidateCtes,
           |inter AS (
           |  SELECT a, b, len(list_intersect(ta.sh, tb.sh)) AS ix,
           |         len(ta.sh) AS na, len(tb.sh) AS nb
           |  FROM cand JOIN sets ta ON ta.doc_id = a
           |            JOIN sets tb ON tb.doc_id = b)
           |SELECT i.a, i.b, CAST($agree AS INTEGER) AS n_agree,
           |       round(CAST($agree AS DOUBLE) / $MinhashSeeds, 6) AS est_jaccard,
           |       round(CAST(ix AS DOUBLE) / (na + nb - ix), 6) AS jaccard
           |FROM inter i JOIN sig sa ON sa.doc_id = i.a
           |             JOIN sig sb ON sb.doc_id = i.b""".stripMargin
      }) {
      (s, dir) => minhashEstimatedJaccard(Tables(s, dir, "documents"))
    },

    // Paragraph-level exact dedup with removal (CCNet/Dolma shape):
    // corpus-wide first-occurrence election over aligned
    // ParaTokens-token chunk hashes, then per-doc reconstruction as
    // kept-count + ordered kept-hash fingerprint. Only md5 triples
    // shuffle; see paragraphDedup's scaladoc for the 100 TB story.
    QueryDef.sql(
      "q_dedup_paragraphs",
      s"""WITH $paragraphCtesSql,
         |d AS (SELECT doc_id, idx, h,
         |        row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) = 1 AS keep
         |      FROM c2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
         |       CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
         |       round(1.0 - count(*) FILTER (WHERE keep) / CAST(count(*) AS DOUBLE), 6) AS drop_ratio,
         |       md5(coalesce(string_agg(h, '' ORDER BY idx) FILTER (WHERE keep), '')) AS kept_hash
         |FROM d GROUP BY doc_id""".stripMargin) {
      (s, dir) => paragraphDedup(Tables(s, dir, "documents"))
    },

    // Paragraph-dedup DOCUMENT REWRITE: the corpus a production run
    // actually emits — each document reduced to its surviving
    // paragraph text. The oracle rebuilds the identical first-wins
    // election and reassembles kept paragraphs in document order.
    QueryDef.sql(
      "q_dedup_rewrite",
      s"""WITH $paragraphCtesSql,
         |d AS (SELECT doc_id, idx, p,
         |        row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) = 1 AS keep
         |      FROM c2)
         |SELECT doc_id,
         |       CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
         |       coalesce(string_agg(p, ' ' ORDER BY idx) FILTER (WHERE keep), '') AS kept_text
         |FROM d GROUP BY doc_id""".stripMargin) {
      (s, dir) => paragraphRewrite(Tables(s, dir, "documents"))
    },

    // Edit-distance confirmation of LSH candidates: exact Levenshtein
    // distance + normalized similarity for each banded candidate pair
    // — the character-level verify stage a fuzzy-dedup pipeline runs
    // AFTER blocking (shingle features miss transpositions and
    // near-miss typos that edit distance catches). Cost is
    // O(candidates · len²), bounded by the banding, never corpus-
    // quadratic; texts ship only for candidate pairs, joined by id.
    // At 100 TB a length pre-screen (|len_a − len_b| > τ·max ⇒
    // dist/max > τ) drops hopeless pairs before the quadratic DP —
    // map-side arithmetic on already-joined lengths.
    QueryDef.sql(
      "q_dedup_edit",
      s"""WITH $candidateCtes
         |SELECT a, b,
         |       CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist,
         |       round(1.0 - levenshtein(da.text, db.text)
         |             / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE),
         |             6) AS edit_sim
         |FROM cand JOIN documents da ON da.doc_id = a
         |          JOIN documents db ON db.doc_id = b""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        val txt = docs.select(col("doc_id"), col("text"))
        val dist = levenshtein(col("ta"), col("tb"))
        lshCandidatePairs(docs)
          .join(txt.select(col("doc_id").as("a"), col("text").as("ta")), "a")
          .join(txt.select(col("doc_id").as("b"), col("text").as("tb")), "b")
          .select(col("a"), col("b"),
            dist.as("edit_dist"),
            round(lit(1.0) - dist.cast("double") /
              greatest(length(col("ta")), length(col("tb"))).cast("double"), 6)
              .as("edit_sim"))
    },

    // The SCREENED edit verify — the production shape of q_dedup_edit:
    // only pairs at edit_sim >= EditScreenMinSim survive, and Spark
    // skips the O(len²) DP entirely for pairs whose length gap alone
    // disqualifies them (levenshtein >= |Δlen| ⇒ edit_sim <= 1 −
    // |Δlen|/max). The oracle computes EVERY distance and filters
    // post-hoc, so a screen that ever dropped a qualifying pair would
    // hash-mismatch — the soundness proof is the gate itself.
    QueryDef.sql(
      "q_dedup_edit_screened",
      s"""WITH $candidateCtes
         |SELECT a, b,
         |       CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist,
         |       round(1.0 - levenshtein(da.text, db.text)
         |             / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE),
         |             6) AS edit_sim
         |FROM cand JOIN documents da ON da.doc_id = a
         |          JOIN documents db ON db.doc_id = b
         |WHERE 1.0 - levenshtein(da.text, db.text)
         |      / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE)
         |      >= $EditScreenMinSim""".stripMargin) {
      (s, dir) => editVerify(Tables(s, dir, "documents"), EditScreenMinSim)
    },

    // Cluster canonicalization: which document SURVIVES each duplicate
    // cluster — the keep decision a dedup pass actually applies.
    // Components come from the same star contraction as
    // q_dedup_clusters_star; the representative is the longest
    // document (n_chars, doc_id tie-break), the standard "keep the
    // most complete copy" production heuristic. Only (doc_id,
    // cluster_id, n_chars) rows move; the keep election is one
    // bounded window per cluster.
    QueryDef.sql(
      "q_dedup_keep_best",
      // composes on the SHARED clusterLabelCtes (the leakage-safe
      // split's pattern) — a closure retune cannot leave an inline
      // copy of the label definition behind here
      s"""WITH RECURSIVE $clusterLabelCtes
         |SELECT d.doc_id, l.cluster_id, d.n_chars,
         |       row_number() OVER (PARTITION BY l.cluster_id
         |                          ORDER BY d.n_chars DESC, d.doc_id) = 1 AS keep
         |FROM documents d JOIN lab l ON l.doc_id = d.doc_id""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        // the labeling IS dupClustersStar — one composition, so a
        // tie-break or rename fix there cannot leave this behind
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        dupClustersStar(docs)
          .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
          .withColumn("keep", row_number().over(w) === 1)
    },

    // q_dedup_keep_best with the composition-default verify stage in
    // between: candidates must pass the SCREENED edit confirm
    // (edit_sim >= EditScreenMinSim via screenedEditPairs) before
    // they become cluster edges, so a banding false positive cannot
    // chain unrelated docs into one cluster and drop a good document.
    // The oracle computes EVERY candidate's Levenshtein and filters
    // post-hoc — a screen that dropped a qualifying edge would move
    // docs across clusters and hash-mismatch. Same shuffle shape as
    // q_dedup_keep_best plus the O(candidates) confirm join; the DP
    // runs map-side on length-compatible candidate pairs only.
    QueryDef.sql(
      "q_dedup_keep_best_verified",
      s"""WITH RECURSIVE $candidateCtes,
         |vcand AS (
         |  SELECT a, b
         |  FROM cand JOIN documents da ON da.doc_id = a
         |            JOIN documents db ON db.doc_id = b
         |  WHERE 1.0 - levenshtein(da.text, db.text)
         |        / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE)
         |        >= $EditScreenMinSim),
         |edges AS (SELECT a AS src, b AS dst FROM vcand
         |          UNION ALL SELECT b, a FROM vcand),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id
         |        FROM reach GROUP BY src)
         |SELECT d.doc_id, l.cluster_id, d.n_chars,
         |       row_number() OVER (PARTITION BY l.cluster_id
         |                          ORDER BY d.n_chars DESC, d.doc_id) = 1 AS keep
         |FROM documents d JOIN lab l ON l.doc_id = d.doc_id""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        dupClustersVerified(docs)
          .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
          .withColumn("keep", row_number().over(w) === 1)
    },

    // The INGEST DECISION a production pipeline runs on every new
    // batch against the standing corpus — the stages this repo ships
    // separately, composed in their production order with one verdict
    // per new document: exact duplicate of a corpus doc > shares a
    // verbatim paragraph with the corpus > screened-edit-confirmed
    // near duplicate of a corpus doc > fails the quality classifier >
    // accept. `bloom_hit` records the map-side bloom prefilter next
    // to the exact outcome (its zero-false-negative contract: every
    // exact_dup doc MUST be a bloom hit — spec-pinned).
    //
    // Scale design: every stage is a semi-join on a HASH keyed by
    // doc_id/h — text never shuffles except for confirmed near-dup
    // CANDIDATES (O(candidates), bounded by the banding); the corpus
    // sides (content-hash set, paragraph index, band index) are the
    // stored artifacts writeBandIndex/writeParagraphIndex maintain,
    // probed per batch, and the bloom position set is a constant-size
    // broadcast literal; the near-dup tier is the batch bands probing
    // the corpus band index then the SCREENED edit confirm
    // (screenedEditPairs — the length gap skips the O(len²) DP
    // map-side); the quality stage is per-row map work. Flag assembly
    // is left-semi results outer-joined back on doc_id — one
    // co-partitioned key end to end.
    QueryDef.sql(
      "q_ingest_decide",
      s"""WITH $paragraphCtesSql,
         |$candidateCtes,
         |near AS (
         |  SELECT DISTINCT b AS doc_id
         |  FROM cand JOIN documents da ON da.doc_id = a
         |            JOIN documents db ON db.doc_id = b
         |  WHERE a < $IncrementalSplit AND b >= $IncrementalSplit
         |    AND 1.0 - levenshtein(da.text, db.text)
         |        / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE)
         |        >= $EditScreenMinSim),
         |dh AS (SELECT doc_id, md5(text) AS h FROM documents),
         |bloom AS (SELECT DISTINCT p FROM (
         |  SELECT CAST('0x' || substr(h, 1, 6) AS BIGINT) % $BloomBits AS p
         |  FROM dh WHERE doc_id < $IncrementalSplit
         |  UNION ALL
         |  SELECT CAST('0x' || substr(h, 9, 6) AS BIGINT) % $BloomBits
         |  FROM dh WHERE doc_id < $IncrementalSplit) u),
         |bh AS (SELECT doc_id,
         |         CAST('0x' || substr(h, 1, 6) AS BIGINT) % $BloomBits
         |           IN (SELECT p FROM bloom)
         |         AND CAST('0x' || substr(h, 9, 6) AS BIGINT) % $BloomBits
         |           IN (SELECT p FROM bloom) AS bloom_hit
         |       FROM dh WHERE doc_id >= $IncrementalSplit),
         |corpus_h AS (SELECT DISTINCT h FROM dh WHERE doc_id < $IncrementalSplit),
         |exact AS (SELECT DISTINCT doc_id FROM dh
         |          WHERE doc_id >= $IncrementalSplit
         |            AND h IN (SELECT h FROM corpus_h)),
         |corp_p AS (SELECT DISTINCT h FROM c2 WHERE doc_id < $IncrementalSplit),
         |para AS (SELECT DISTINCT doc_id FROM c2
         |         WHERE doc_id >= $IncrementalSplit
         |           AND h IN (SELECT h FROM corp_p)),
         |${TextOps.clfKeptCte}
         |SELECT bh.doc_id, bh.bloom_hit,
         |       CASE WHEN bh.doc_id IN (SELECT doc_id FROM exact) THEN 'exact_dup'
         |            WHEN bh.doc_id IN (SELECT doc_id FROM para) THEN 'paragraph_dup'
         |            WHEN bh.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
         |            WHEN NOT clf.kept THEN 'low_quality'
         |            ELSE 'accept' END AS verdict
         |FROM bh JOIN clf ON clf.doc_id = bh.doc_id""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        ingestDecide(
          docs.filter(col("doc_id") < IncrementalSplit),
          docs.filter(col("doc_id") >= IncrementalSplit))
    },

    // Cross-source overlap matrix — the data-card companion that
    // answers "which corpora duplicate each other, and how much"
    // before a mixing run (q_mix_sources weights assume sources are
    // distinct populations; this measures where that assumption
    // breaks). One row per source pair sharing >= 1 shingle: the
    // MinHash-union estimate next to the exact shingle-set Jaccard.
    //
    // Scale design: a source's signature slot is the min of one hash
    // slice over the UNION of its docs' shingle sets — min is
    // associative, so it partial-aggregates map-side and only
    // |sources| x K signature cells shuffle, never shingles; at
    // 100 TB the estimate IS the decision value (the exact companion
    // here audits it, and its inverted-index expansion is bounded by
    // |sources|² per shingle, not doc-count² — no stop-shingle cap
    // needed at source granularity).
    QueryDef.sql(
      "q_source_overlap", {
        val mh = (0 until MinhashSeeds).map(j =>
          s"min(substr(sha256(sh), ${j * 8 + 1}, 8)) AS mh$j")
          .mkString(",\n         ")
        val agree = (0 until MinhashSeeds)
          .map(j => s"CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH srcsh AS (
           |  SELECT DISTINCT source,
           |         unnest(list_transform(range(len(toks) - 2),
           |           i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
           |  FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)),
           |sig AS (
           |  SELECT source,
           |         $mh
           |  FROM srcsh GROUP BY source),
           |sizes AS (SELECT source, count(*) AS n FROM srcsh GROUP BY source),
           |pairs AS (
           |  SELECT x.source AS source_a, y.source AS source_b,
           |         count(*) AS inter
           |  FROM srcsh x JOIN srcsh y
           |    ON x.sh = y.sh AND x.source < y.source
           |  GROUP BY 1, 2)
           |SELECT source_a, source_b, CAST(inter AS BIGINT) AS inter,
           |       CAST($agree AS INTEGER) AS n_agree,
           |       round(CAST($agree AS DOUBLE) / $MinhashSeeds, 6) AS est_jaccard,
           |       round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) AS jaccard
           |FROM pairs
           |JOIN sig sa ON sa.source = source_a
           |JOIN sig sb ON sb.source = source_b
           |JOIN sizes za ON za.source = source_a
           |JOIN sizes zb ON zb.source = source_b""".stripMargin
      }) {
      (s, dir) => sourceOverlap(Tables(s, dir, "documents"))
    },

    // Boilerplate survey: paragraphs shared by >= MinBoilerplateDf
    // distinct docs, with occurrence/doc/source counts — the report
    // that drives corpus-wide paragraph stripping. Shares the
    // paragraph CTEs with the dedup/ingest-screen oracles.
    QueryDef.sql(
      "q_boilerplate",
      s"""WITH $paragraphCtesSql
         |SELECT h, CAST(count(*) AS BIGINT) AS n_occ,
         |       CAST(count(DISTINCT c2.doc_id) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
         |       CAST(min(c2.doc_id) AS BIGINT) AS example_doc
         |FROM c2 JOIN documents d ON d.doc_id = c2.doc_id
         |GROUP BY h HAVING count(DISTINCT c2.doc_id) >= $MinBoilerplateDf""".stripMargin) {
      (s, dir) => boilerplateParagraphs(Tables(s, dir, "documents"))
    },

    // Chunk-level decontamination: verbatim 64-token-window screen,
    // alignment-free — corpus side strided windows (shared chunk
    // CTEs), benchmark side STRIDE-1 windows, so phase-shifted
    // copies still collide (see chunkContamination's pigeonhole
    // contract).
    QueryDef.sql(
      "q_chunk_contamination",
      s"""WITH ${CurationOps.chunkCtesSql},
         |bench AS (
         |  SELECT DISTINCT md5(array_to_string(
         |           toks[i + 1 : i + ${CurationOps.ChunkWindow}], ' ')) AS chunk_hash
         |  FROM (SELECT toks,
         |               CASE WHEN len(toks) <= ${CurationOps.ChunkWindow} THEN 1
         |                    ELSE len(toks) - ${CurationOps.ChunkWindow} + 1 END AS nc
         |        FROM tch WHERE doc_id % $ChunkBenchMod = 0) b,
         |       unnest(range(nc)) AS u(i))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(count(*) FILTER (WHERE chunk_hash IN
         |              (SELECT chunk_hash FROM bench)) AS BIGINT) AS n_hit,
         |       count(*) FILTER (WHERE chunk_hash IN
         |              (SELECT chunk_hash FROM bench)) >= 1 AS contaminated
         |FROM chunks WHERE doc_id % $ChunkBenchMod <> 0
         |GROUP BY doc_id""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        chunkContamination(
          docs.filter(col("doc_id") % ChunkBenchMod =!= 0),
          docs.filter(col("doc_id") % ChunkBenchMod === 0))
    },

    // The benchmark-side contamination report: per eval item, how
    // many of its stride-1 windows appear verbatim in the corpus
    // window grid and from how many corpus docs — which benchmark
    // rows are burned. Same window geometry as the corpus-side
    // screen, so the two verdicts share one definition of "leak".
    QueryDef.sql(
      "q_contamination_report",
      s"""WITH ${CurationOps.chunkCtesSql},
         |bw AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS widx,
         |         md5(array_to_string(
         |           toks[i + 1 : i + ${CurationOps.ChunkWindow}], ' ')) AS wh
         |  FROM (SELECT doc_id, toks,
         |               CASE WHEN len(toks) <= ${CurationOps.ChunkWindow} THEN 1
         |                    ELSE len(toks) - ${CurationOps.ChunkWindow} + 1 END AS nc
         |        FROM tch WHERE doc_id % $ChunkBenchMod = 0) b,
         |       unnest(range(nc)) AS u(i)),
         |cw AS (SELECT DISTINCT doc_id AS corpus_doc, chunk_hash AS ch
         |       FROM chunks WHERE doc_id % $ChunkBenchMod <> 0)
         |SELECT b.doc_id,
         |       CAST(count(DISTINCT b.widx) AS BIGINT) AS n_windows,
         |       CAST(count(DISTINCT CASE WHEN cw.ch IS NOT NULL
         |                                THEN b.widx END) AS BIGINT) AS n_hit,
         |       CAST(count(DISTINCT cw.corpus_doc) AS BIGINT) AS n_corpus_docs,
         |       count(DISTINCT CASE WHEN cw.ch IS NOT NULL
         |                           THEN b.widx END) >= 1 AS compromised
         |FROM bw b LEFT JOIN cw ON cw.ch = b.wh
         |GROUP BY b.doc_id""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        contaminationReport(
          docs.filter(col("doc_id") % ChunkBenchMod =!= 0),
          docs.filter(col("doc_id") % ChunkBenchMod === 0))
    },

    // Measured LSH S-curve: per exact-Jaccard 0.1-bucket, how many
    // >=1-rare-shingle pairs exist and how many the banded candidate
    // generator found — the recall telemetry that tunes band
    // geometry. Runs on the deterministic md5(doc_id) 25% sample in
    // BOTH engines (the curve measures the estimator, not the
    // corpus); shares the signature/band/candidate CTEs with every
    // other minhash oracle, so the replay is structural.
    QueryDef.sql(
      "q_lsh_recall",
      s"""WITH docs_sample AS (
         |  $recallSampleSql),
         |${candidateCtesFrom("docs_sample")},
         |sh0 AS (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(range(len(toks) - 2),
         |                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM docs_sample)),
         |shc AS (
         |  SELECT doc_id, sh FROM sh0
         |  WHERE sh NOT IN (SELECT sh FROM sh0
         |                   GROUP BY sh HAVING count(*) > $MaxShingleDf)),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM shc x JOIN shc y ON x.sh = y.sh AND x.doc_id < y.doc_id),
         |jx AS (
         |  SELECT p.a, p.b,
         |         len(list_intersect(ta.sh, tb.sh)) /
         |           CAST(len(ta.sh) + len(tb.sh)
         |                - len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) AS j,
         |         EXISTS (SELECT 1 FROM cand c
         |                 WHERE c.a = p.a AND c.b = p.b) AS lsh_found
         |  FROM pairs p JOIN sets ta ON ta.doc_id = p.a
         |               JOIN sets tb ON tb.doc_id = p.b)
         |SELECT CAST(floor(j * 10) AS INTEGER) AS j_bucket,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(count(*) FILTER (WHERE lsh_found) AS BIGINT) AS n_found,
         |       round(count(*) FILTER (WHERE lsh_found)
         |             / CAST(count(*) AS DOUBLE), 6) AS recall
         |FROM jx GROUP BY 1""".stripMargin) {
      (s, dir) => lshRecallCurve(Tables(s, dir, "documents"))
    }
  )

  /** Boilerplate-paragraph detector (the survey step before CCNet-
    * style removal): paragraphs repeated across >= [[MinBoilerplateDf]]
    * distinct documents, with occurrence count, document frequency,
    * source spread and the earliest example document. Headers,
    * footers, cookie banners and license blurbs surface here — the
    * curation decision is then "strip the paragraph corpus-wide",
    * which [[paragraphDedup]]/[[paragraphRewrite]] executes.
    *
    * Scale: only (h, doc_id, source) triples shuffle (the hash is
    * computed in the per-row transform); the two distinct-counts are
    * one expand over the same shuffle key; output is the hot set —
    * tiny by definition. */
  def boilerplateParagraphs(docs: DataFrame,
      minDf: Int = MinBoilerplateDf): DataFrame =
    // spread() like every other paragraph-hash entry point: a
    // single-file corpus otherwise runs the whole md5 explode in one
    // scan task
    paragraphHashes(spread(docs).select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("example_doc"))
      .filter(col("n_docs") >= minDf)

  /** Chunk-level benchmark decontamination, ALIGNMENT-FREE: the
    * corpus side uses stride-[[CurationOps.ChunkStride]] windows
    * (cheap — ~len/stride hashes per doc), the benchmark side
    * stride-1 windows (affordable — benchmarks are tiny), so a
    * corpus-grid window falling anywhere inside a copied span always
    * finds its verbatim twin in the benchmark hash set whatever the
    * phase difference. Pigeonhole contract (spec-pinned): ANY
    * verbatim shared span of >= window + stride - 1 tokens is
    * caught; grid-vs-grid screens (both sides strided) miss
    * phase-shifted copies entirely. Per screened doc: total windows,
    * benchmark-matching windows, contaminated verdict. Complements
    * the shingle-overlap screen (fuzzy) and the paragraph screen
    * (verbatim, aligned).
    *
    * Scale: both sides reduce to (doc_id, chunk_hash) rows map-side;
    * the benchmark's distinct hash set is small and broadcasts (AQE
    * picks that plan here); the corpus side is one aggregate on
    * doc_id. Text never shuffles. */
  def chunkContamination(docs: DataFrame, bench: DataFrame): DataFrame = {
    val benchHashes = CurationOps.slidingChunks(bench, stride = 1)
      .select(col("chunk_hash").as("bh")).distinct()
    CurationOps.slidingChunks(docs)
      .join(benchHashes, col("chunk_hash") === col("bh"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), count(col("bh")).as("n_hit"))
      .select(col("doc_id"), col("n_chunks"), col("n_hit"),
        (col("n_hit") >= 1).as("contaminated"))
  }

  /** The benchmark-side view of [[chunkContamination]]: for every
    * EVAL item, how much of it leaked into the training corpus and
    * from how many distinct corpus documents — the report an eval
    * owner reads to decide which benchmark rows are burned (the
    * corpus-side query decides which TRAINING docs to drop; both
    * decisions come from the same window geometry, pigeonhole
    * contract and all). Stride-1 windows on the benchmark side,
    * strided windows on the corpus side — identical hash spaces, so
    * the two reports can never disagree about a leak.
    *
    * Per benchmark doc: total windows, windows found verbatim in the
    * corpus grid, distinct corpus docs touched, compromised verdict.
    *
    * Scale: only (doc_id, chunk_hash) pairs ever move. The corpus
    * side is the big one here, so unlike the corpus-side screen the
    * join shuffles corpus hash pairs — at 100 TB the corpus windows
    * are the stored bucketed artifact (the writeBandIndex pattern),
    * making this a bench-sized probe of an on-disk index, the same
    * shape as dedupAgainstIndex. A bench window hitting many corpus
    * docs fans out, which is why the aggregate counts DISTINCT
    * window indexes, not joined rows. */
  def contaminationReport(docs: DataFrame, bench: DataFrame): DataFrame = {
    val corpusW = CurationOps.slidingChunks(docs)
      .select(col("doc_id").as("corpus_doc"), col("chunk_hash").as("ch"))
      .distinct()
    CurationOps.slidingChunks(bench, stride = 1)
      .join(corpusW, col("chunk_hash") === col("ch"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("chunk_idx")).as("n_windows"),
        countDistinct(when(col("ch").isNotNull, col("chunk_idx")))
          .as("n_hit"),
        countDistinct(col("corpus_doc")).as("n_corpus_docs"))
      .select(col("doc_id"), col("n_windows"), col("n_hit"),
        col("n_corpus_docs"), (col("n_hit") >= 1).as("compromised"))
  }

  /** Edit-distance verify with the length pre-screen: a candidate
    * pair whose length gap alone caps its similarity below `minSim`
    * never reaches the O(len²) Levenshtein DP — the lower bound
    * levenshtein(a,b) >= |len(a) − len(b)| gives
    * edit_sim <= 1 − |Δlen|/max, so `|Δlen| > (1−minSim)·max` is a
    * sound skip. The screen is map-side arithmetic on already-joined
    * lengths (the filter precedes the levenshtein projection, so
    * Spark never evaluates the DP for screened rows), and the final
    * filter uses the same UNROUNDED expression DuckDB evaluates —
    * identical IEEE arithmetic on identical integers, so the two
    * engines agree pair-for-pair.
    *
    * At 100 TB this is the difference between `candidates · len²`
    * and `qualifying-candidates · len²` DP cells: boilerplate-heavy
    * corpora produce many banded pairs of wildly different lengths
    * (a page vs its stub), all skipped for the cost of two `length`
    * calls. */
  def editVerify(docs: DataFrame, minSim: Double): DataFrame = {
    val txt = docs.select(col("doc_id"), col("text"))
    screenedEditPairs(lshCandidatePairs(docs), txt, txt, minSim)
  }

  /** The screened edit confirm over ARBITRARY candidate pairs — the
    * composition-default verify stage ([[editVerify]] is this over
    * [[lshCandidatePairs]]; [[ingestDecide]]'s near-dup tier and
    * q_dedup_keep_best_verified run it over cross-batch / cluster
    * candidates). `pairs` carries (a, b); texts join by id from
    * `left`/`right` so text ships only for candidate pairs.
    *
    * TWO cost cuts, same results as the unscreened verify:
    *  - the length pre-screen drops pairs whose length gap alone caps
    *    edit_sim below `minSim` before any DP runs (map-side
    *    arithmetic on already-joined lengths);
    *  - the DP itself is BANDED ([[graft.functions.BandedLevenshtein]]
    *    — Spark's thresholded Levenshtein, O(len·τ) cells instead of
    *    O(len²)) with the per-pair cap τ = floor((1−minSim)·max)+1.
    *    The +1 absorbs IEEE rounding of (1−minSim)·max, so a
    *    qualifying distance is never truncated; an over-admitted
    *    dist = τ pair is dropped by the exact `sim >= minSim` filter
    *    — the SAME unrounded expression the DuckDB oracle evaluates,
    *    so the two engines agree pair-for-pair, and a capped (-1)
    *    pair is provably non-qualifying (dist > τ ⇒ sim < minSim
    *    with margin 1/max, orders above double rounding error). */
  def screenedEditPairs(pairs: DataFrame, left: DataFrame,
      right: DataFrame, minSim: Double): DataFrame = {
    val lenA = length(col("ta")).cast("double")
    val lenB = length(col("tb")).cast("double")
    val maxLen = greatest(lenA, lenB)
    val tau = (floor((lit(1.0) - minSim) * maxLen) + 1).cast("int")
    val dist = graft.functions.BandedLevenshtein(
      pairs.sparkSession, col("ta"), col("tb"), tau)
    val sim = lit(1.0) - dist.cast("double") / maxLen
    // NOT spread here (r21 measured): the length screen already drops
    // most pairs before any DP, so the per-pair stage is light — an
    // explicit spread regressed the two composition gates that feed
    // screened pairs onward (q_dedup_keep_best_verified 1.18→1.62,
    // q_ingest_decide 1.14→1.52) while q_dedup_edit_screened itself
    // only moved within noise. spreadPairs stays for UNSCREENED
    // per-pair verify stages (the lshRecallCurve exact-J pass).
    pairs
      .join(left.select(col("doc_id").as("a"), col("text").as("ta")), "a")
      .join(right.select(col("doc_id").as("b"), col("text").as("tb")), "b")
      .filter(abs(lenA - lenB) <= (lit(1.0) - minSim) * maxLen)
      .filter(dist >= 0 && sim >= minSim)
      .select(col("a"), col("b"), dist.cast("int").as("edit_dist"),
        round(sim, 6).as("edit_sim"))
  }

  /** Measured LSH S-curve: for every pair sharing >= 1 rare shingle,
    * exact full-set Jaccard bucketed to 0.1, and whether the
    * banded-MinHash candidate generator surfaced the pair — per
    * bucket: n_pairs, n_found, recall. The tuning telemetry for band
    * geometry (more bands → higher recall at low J → more verify
    * work); the DuckDB oracle replays signatures, banding, the
    * df cap and the bucket arithmetic bit-for-bit.
    *
    * Scale: the whole computation runs on the deterministic
    * [[LshRecallSampleHexMax]] hash-sample of the corpus — the curve
    * is a property of the ESTIMATOR (band geometry × Jaccard), not of
    * data volume, so the exact-pair denominator (the one
    * quadratic-ish piece of the dedup surface) is bounded by the
    * sample, not the corpus. Within the sample the denominator join
    * is still the capped inverted index (the q_dedup_ngram_jaccard
    * guard), candidates the single (band, bucket) equi-join; exact J
    * ships shingle-set arrays only for qualifying pairs. */
  def lshRecallCurve(allDocs: DataFrame): DataFrame = {
    val docs = recallSample(allDocs)
    val sets = shingleSets(docs).pinned // signatures + 2 exact-J joins
    val cand = candidatePairsFromBands(bandsOf(minhashSignatures(sets)))
      .withColumn("lsh_found", lit(true))
    val shAll = shingled(docs).pinned
    val hot = shAll.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf).select(col("sh"))
    val sh = shAll.join(broadcast(hot), Seq("sh"), "left_anti")
    val pairs = spreadPairs(sh.as("x")
      .join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct())
    val inter = size(array_intersect(col("shs_a"), col("shs_b")))
    val j = inter.cast("double") /
      (size(col("shs_a")) + size(col("shs_b")) - inter)
    pairs
      .join(sets.select(col("doc_id").as("a"), col("shs").as("shs_a")), "a")
      .join(sets.select(col("doc_id").as("b"), col("shs").as("shs_b")), "b")
      .select(col("a"), col("b"), j.as("j"))
      .join(cand, Seq("a", "b"), "left_outer")
      .groupBy(floor(col("j") * 10).cast("int").as("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        count(col("lsh_found")).as("n_found"))
      .select(col("j_bucket"), col("n_pairs"), col("n_found"),
        round(col("n_found").cast("double") / col("n_pairs"), 6).as("recall"))
  }

  /** Pairwise source-overlap matrix via merged MinHash (see the
    * q_source_overlap gate comment for the scale shape). The
    * signature of a source is the element-wise min over its documents'
    * signatures — the associativity [[DedupOpsSpec]] pins, because it
    * is what lets a pipeline maintain per-source sketches by merging
    * per-shard partials instead of re-scanning the corpus. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sh = spread(docs)
      .select(col("source"),
        explode(array_distinct(shingles(tokens(col("text")), 3))).as("sh"))
      .distinct()
      .pinned // feeds the signature agg, the sizes agg and both join sides
    val sig = sh
      .select(col("source"), sha2(col("sh").cast("binary"), 256).as("h"))
      .groupBy(col("source"))
      .agg(min(substring(col("h"), 1, 8)).as("mh0"),
        (1 until MinhashSeeds).map(j =>
          min(substring(col("h"), j * 8 + 1, 8)).as(s"mh$j")): _*)
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("x")
      .join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    val agree = (0 until MinhashSeeds)
      .map(j => when(col(s"sa.mh$j") === col(s"sb.mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(sig.as("sa"), col("source_a") === col("sa.source"))
      .join(sig.as("sb"), col("source_b") === col("sb.source"))
      .join(sizes.select(col("source").as("source_a"), col("n").as("na")),
        "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n").as("nb")),
        "source_b")
      .select(col("source_a"), col("source_b"),
        col("inter").cast("long").as("inter"),
        agree.cast("int").as("n_agree"),
        round(agree.cast("double") / MinhashSeeds, 6).as("est_jaccard"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
  }

  /** The q_ingest_decide body, named so the gate registration and the
    * planted-fixture spec drive the same composition: one
    * (doc_id, bloom_hit, verdict) row per batch document, verdict ∈
    * {exact_dup, paragraph_dup, low_quality, accept} in production
    * precedence order. See the gate comment for the scale shape. */
  def ingestDecide(corpus: DataFrame, batch: DataFrame): DataFrame = {
    def flag(ids: DataFrame, name: String): DataFrame =
      ids.distinct().withColumn(name, lit(true))
    val bloomIds = bloomPrefilter(corpus, batch).select(col("doc_id"))
    val corpusH = corpus
      .select(md5(col("text").cast("binary")).as("ch")).distinct()
    val exactIds = batch
      .select(col("doc_id"), md5(col("text").cast("binary")).as("ch"))
      .join(corpusH, Seq("ch"), "left_semi").select(col("doc_id"))
    val corpusP = paragraphHashes(corpus).select(col("h")).distinct()
    val paraIds = paragraphHashes(batch)
      .join(corpusP, Seq("h"), "left_semi").select(col("doc_id"))
    // Near-dup tier: batch bands probe the corpus band index on
    // (band, bucket) — in production the corpus side IS the stored
    // writeBandIndex layout, so the probe is exchange-free — and the
    // cross candidates go through the SCREENED edit confirm
    // ([[screenedEditPairs]]): length-gap-disqualified pairs never
    // reach the O(len²) DP. A batch doc confirmed >= EditScreenMinSim
    // against any corpus doc is a near duplicate.
    val crossCand = minhashBands(corpus)
      .select(col("band"), col("bucket"), col("doc_id").as("a"))
      .join(minhashBands(batch)
        .select(col("band"), col("bucket"), col("doc_id").as("b")),
        Seq("band", "bucket"))
      .select(col("a"), col("b")).distinct()
    val nearIds = screenedEditPairs(crossCand, corpus, batch, EditScreenMinSim)
      .select(col("b").as("doc_id"))
    val clf = TextOps.qualityClassifier(batch)
      .select(col("doc_id"), col("kept"))
    batch.select(col("doc_id"))
      .join(flag(bloomIds, "bh"), Seq("doc_id"), "left_outer")
      .join(flag(exactIds, "ex"), Seq("doc_id"), "left_outer")
      .join(flag(paraIds, "pa"), Seq("doc_id"), "left_outer")
      .join(flag(nearIds, "nd"), Seq("doc_id"), "left_outer")
      .join(clf, Seq("doc_id"))
      .select(col("doc_id"),
        coalesce(col("bh"), lit(false)).as("bloom_hit"),
        when(coalesce(col("ex"), lit(false)), "exact_dup")
          .when(coalesce(col("pa"), lit(false)), "paragraph_dup")
          .when(coalesce(col("nd"), lit(false)), "near_dup")
          .when(!col("kept"), "low_quality")
          .otherwise("accept").as("verdict"))
  }
}
