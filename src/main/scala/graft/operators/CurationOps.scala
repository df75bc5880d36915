package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextVec._
import graft.operators.Materialize.PinOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs after
  * dedup/quality-signal extraction: reproducible dataset splits,
  * stratified downsampling, PII redaction, and the composite
  * keep/drop quality verdict (Gopher-style filter rules).
  *
  * Scale design: every operator here is a per-row column expression —
  * ZERO shuffle, embarrassingly parallel at 100 TB. Sampling is
  * hash-determined (not `rand()`): the same document always lands in
  * the same split/sample regardless of cluster size, partitioning, or
  * re-runs — the property training pipelines need for reproducible
  * train/val/test membership and for resumable incremental builds.
  * The md5-prefix buckets are engine-agnostic (lowercase-hex string
  * compare), so every split is replayed verbatim by the DuckDB oracle.
  */
object CurationOps {

  /** Split thresholds over the 256 two-hex-char md5 buckets:
    * train < 0xcc (204/256 ≈ 79.7%), val < 0xe6 (next 26/256 ≈
    * 10.2%), test = rest (≈ 10.2%). */
  val TrainUpper = "cc"
  val ValUpper = "e6"

  /** Reproducible ~10% sample: bucket < 0x1a (26/256). */
  val SampleUpper = "1a"

  /** Stratified rates: downsample the dominant language to 12.5%
    * (< 0x20 = 32/256), keep 50% of the rest (< 0x80 = 128/256). */
  val EnRateUpper = "20"
  val RestRateUpper = "80"

  /** Corpus-mixing keep rates by source-index class (index % 4 →
    * 75% / 50% / 25% / 12.5%), as 4-hex-char md5 bucket uppers
    * (65536 buckets ⇒ 1/65536 rate granularity). */
  val MixRateUppers = Seq("c000", "8000", "4000", "2000")

  /** Conservative PII patterns, identical in Java regex and RE2:
    * character classes + bounded repetition only, no lookaround. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** Gopher-style filter thresholds (SURVEY-mandated quality rules;
    * values picked to exercise both keep and drop on the gate data). */
  val MinTokens = 30
  val MaxTokens = 5000
  val MinAvgTokenLen = 3.8
  val MaxAvgTokenLen = 5.2
  val MinStopRatio = 0.02
  val MaxTopTokenRatio = 0.2

  /** The md5-of-id hash every sampling op derives from — ONE place
    * for the VARCHAR-cast hashing convention the oracle replays as
    * `md5(CAST(id AS VARCHAR))`. */
  def idHash(id: Column): Column = md5(id.cast("string").cast("binary"))

  /** Hex-prefix md5 bucket of a document id: 2 chars = 256 buckets
    * (split/sample thresholds), 4 chars = 65536 (temperature
    * thresholds). Uniform, deterministic, engine-portable. */
  def bucket(id: Column, chars: Int = 2): Column =
    substring(idHash(id), 1, chars)

  /** Sequence-packing geometry: context-window length in tokens and
    * the number of independent packing shards (at scale, the writer
    * parallelism). */
  val PackContext = 2048
  val PackShards = 8

  /** Sliding-window chunking geometry: window length and stride in
    * tokens (overlap = window - stride). Sized so the synthetic
    * documents (tens to hundreds of tokens) produce multi-chunk
    * outputs at every scale factor. */
  val ChunkWindow = 64
  val ChunkStride = 32

  /** DSIR importance-weighting geometry (Xie et al., NeurIPS 2023):
    * n-gram features hashed into this many buckets — the importance
    * model's size is O(buckets) REGARDLESS of corpus vocabulary, the
    * property that makes DSIR run at 100 TB. Buckets are the first
    * two md5 hex chars, so the oracle replays the hashing verbatim. */
  val DsirBuckets = 256

  /** The gate's stand-in target distribution: the corpus' `en` slice
    * plays the high-quality reference corpus (in production: the
    * Wikipedia/books sample the mixture is steered toward). */
  val DsirTargetLang = "en"

  /** Weighted-sample size and the uniform-draw denominator: the
    * 6-hex-char md5 prefix spans [0, 16^6), so (hex + 1) / (16^6 + 1)
    * is a deterministic uniform draw in (0, 1] — never 0, so ln() is
    * always finite. */
  val WeightedSampleK = 50
  val HexDraw6Denom: Double = 16777217.0

  /** Per-source document cap (C4/RefinedWeb-style per-domain cap):
    * at most this many docs survive per source. */
  val SourceCap = 20

  /** Snapshot-delta geometry: the "old" crawl is doc_id < 30, the
    * "new" crawl doc_id >= 10 (overlap 10–29), and every 7th
    * overlapping doc is deterministically edited in the new snapshot
    * — bounds chosen inside the smallest fixture (50 docs) so all
    * four delta states occur at EVERY scale factor. */
  val DeltaOldUpper = 30
  val DeltaNewLower = 10
  val DeltaChangeMod = 7

  /** The corpus-snapshot delta oracle, shared by `q_corpus_delta`
    * (diff of two derived frames) and `q_version_diff` (diff of two
    * RETAINED VERSIONS of a swap-maintained table) — one string, so
    * "the version history replays the snapshot diff" is structural.
    * A `def` (the oracle-def convention: `all` reads it during object
    * init). */
  private[operators] def corpusDeltaSql: String =
    s"""WITH old AS (SELECT doc_id, md5(text) AS h_old FROM documents
       |             WHERE doc_id < $DeltaOldUpper),
       |neu AS (SELECT doc_id,
       |          md5(CASE WHEN doc_id % $DeltaChangeMod = 0
       |                   THEN text || ' v2' ELSE text END) AS h_new
       |        FROM documents WHERE doc_id >= $DeltaNewLower)
       |SELECT coalesce(old.doc_id, neu.doc_id) AS doc_id, h_old, h_new,
       |       CASE WHEN h_old IS NULL THEN 'added'
       |            WHEN h_new IS NULL THEN 'removed'
       |            WHEN h_old = h_new THEN 'unchanged'
       |            ELSE 'changed' END AS status
       |FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id""".stripMargin

  /** The "old" crawl snapshot: (doc_id, h_old) content hashes. */
  private[operators] def oldSnapshot(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.filter(col("doc_id") < DeltaOldUpper)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h_old"))

  /** The "new" crawl snapshot: (doc_id, h_new), every DeltaChangeMod-th
    * doc deterministically edited. */
  private[operators] def newSnapshot(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.filter(col("doc_id") >= DeltaNewLower)
      .select(col("doc_id"),
        md5(when(col("doc_id") % DeltaChangeMod === 0,
          concat(col("text"), lit(" v2")))
          .otherwise(col("text")).cast("binary")).as("h_new"))

  /** ONE full-outer join keyed on doc_id, hashes only (text never
    * shuffles); when both sides are bucketed on doc_id (the
    * q_version_diff path) the join is exchange-free at any scale. */
  private[operators] def snapshotDiff(
      old: org.apache.spark.sql.DataFrame,
      neu: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("h_old"), col("h_new"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "unchanged")
          .otherwise("changed").as("status"))

  /** Token-budget planning: the training run's total token budget
    * (gate-sized; production passes its own) and the per-source
    * mixture weights by source-index class (index % 4) — the same
    * class scheme as [[MixRateUppers]], as plain integers so every
    * derived quantity stays in exact arithmetic. */
  val TokenBudget = 1000000L
  val BudgetWeights = Seq(1L, 2L, 3L, 4L)

  /** C4 cleaning rules (`q_clean_c4`), scaled to the synthetic
    * vocabulary: chunk geometry shared with paragraph dedup, C4's
    * literal ≥3-words line rule, 'the'/'a' as the function-word
    * (looks-like-prose) test, the corpus's one rare token as the
    * bad-words list, and ≥3 surviving chunks for page retention
    * (C4 uses ≥5 sentences). */
  val C4ChunkSql: Int = DedupOps.ParaTokens
  val C4MinChunkTokens = 3
  val C4FunctionWords = Seq("the", "a")
  val C4BadWord = "dup"
  val C4MinKeptChunks = 3

  /** C4-style clean + rewrite — see the `q_clean_c4` QueryDef. */
  def cleanC4(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = tokens(col("text"))
    val n = DedupOps.ParaTokens
    // shingles-style non-empty guard: an empty token array must yield
    // ZERO chunks, not sequence(0,-1)'s backwards garbage
    val chunks = when(size(t) >= 1, transform(
      sequence(lit(0), floor((size(t) - lit(1)) / lit(n)).cast("int")),
      i => slice(t, i * n + 1, lit(n))))
      .otherwise(array().cast("array<array<string>>"))
    val keepRule: Column => Column = ch =>
      size(ch) >= C4MinChunkTokens &&
        (array_contains(ch, C4FunctionWords(0)) ||
          array_contains(ch, C4FunctionWords(1))) &&
        !array_contains(ch, C4BadWord)
    docs
      .select(col("doc_id"), chunks.as("chunks"))
      .select(col("doc_id"), col("chunks"),
        filter(col("chunks"), keepRule).as("kept"))
      .select(col("doc_id"),
        size(col("chunks")).as("n_chunks"),
        size(col("kept")).as("n_kept"),
        (size(col("kept")) >= C4MinKeptChunks).cast("int").as("doc_keep"),
        concat_ws(" ",
          transform(col("kept"), ch => concat_ws(" ", ch))).as("kept_text"))
  }

  val all: Seq[QueryDef] = Seq(

    // The per-source data card a curation run publishes: volume,
    // length, language spread, exact-duplicate rate and token mass
    // per source — the summary table a dataset release ships and an
    // ingest dashboard watches. One groupBy on source; the exact
    // distinct-hash count is per-source bounded here and becomes the
    // two-phase distinct of q_dedup_stats at corpus scale. All
    // outputs are integer aggregates or single exact-input divisions
    // rounded once.
    QueryDef.sql(
      "q_corpus_card",
      """SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
        |       round(1.0 - count(DISTINCT md5(text)) / CAST(count(*) AS DOUBLE), 6)
        |         AS dup_ratio,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY source""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "documents")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
              .as("mean_chars"),
            countDistinct(col("lang")).as("n_langs"),
            countDistinct(md5(col("text").cast("binary"))).as("n_unique"),
            round(lit(1.0) -
              countDistinct(md5(col("text").cast("binary"))) /
                count(lit(1)).cast("double"), 6).as("dup_ratio"),
            sum(size(tokens(col("text")))).as("total_tokens"))
    },

    // Deterministic train/val/test assignment + a reproducible 10%
    // sample flag. Pure map work: membership is a function of doc_id
    // alone, so ingesting the corpus again (or on a different cluster
    // layout) reproduces the exact same splits.
    QueryDef.sql(
      "q_sample_split",
      s"""SELECT doc_id, lang,
         |       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
         |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$TrainUpper' THEN 'train'
         |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$ValUpper' THEN 'val'
         |            ELSE 'test' END AS split,
         |       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$SampleUpper' AS in_sample_10pct
         |FROM documents""".stripMargin) {
      (s, dir) =>
        val b = bucket(col("doc_id"))
        Tables(s, dir, "documents").select(
          col("doc_id"), col("lang"), b.as("bucket"),
          when(b < TrainUpper, "train")
            .when(b < ValUpper, "val")
            .otherwise("test").as("split"),
          (b < SampleUpper).as("in_sample_10pct"))
    },

    // LEAKAGE-SAFE train/val/test split: q_sample_split's hash
    // assignment keyed on the near-dup CLUSTER id instead of the doc
    // id, so a cluster of near-duplicates can never straddle splits —
    // the classic evaluation-contamination bug (a test doc whose
    // near-copy sits in train) structurally cannot happen: every
    // member inherits its cluster's split. Composition: the star
    // contraction supplies (doc_id, cluster_id); the split is then
    // the same pure md5-bucket map work as q_sample_split, and
    // singletons (cluster_id = own id) degrade to exactly the
    // per-doc split. Oracle = the shared closure CTEs + the same
    // CASE, so the label definition and the assignment rule both
    // come from one place.
    QueryDef.sql(
      "q_split_leakage_safe",
      s"""WITH RECURSIVE ${DedupOps.clusterLabelCtes}
         |SELECT doc_id, cluster_id,
         |       CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2)
         |                 < '$TrainUpper' THEN 'train'
         |            WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2)
         |                 < '$ValUpper' THEN 'val'
         |            ELSE 'test' END AS split
         |FROM lab""".stripMargin) { (s, dir) =>
      val b = bucket(col("cluster_id"))
      DedupOps.dupClustersStar(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("cluster_id"),
          when(b < TrainUpper, "train")
            .when(b < ValUpper, "val")
            .otherwise("test").as("split"))
    },

    // Stratified downsampling: per-language keep rates through the
    // same hash buckets — the standard move for rebalancing a corpus
    // dominated by one language without losing reproducibility.
    QueryDef.sql(
      "q_sample_stratified",
      s"""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
         |      CASE WHEN lang = 'en' THEN '$EnRateUpper' ELSE '$RestRateUpper' END""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "documents")
          .filter(bucket(col("doc_id")) <
            when(col("lang") === "en", EnRateUpper).otherwise(RestRateUpper))
          .select(col("doc_id"), col("lang"))
    },

    // Source-weighted corpus mixing: the per-source up/down-sampling
    // step of training-mixture assembly (each source kept at its
    // mixture rate), through the same deterministic md5 buckets as
    // the splits — re-ingesting the corpus reproduces the exact
    // mixture, and every doc's decision is pure map work keyed on
    // (doc_id, source) alone. Rates come from the source index class
    // (index % 4) so the rule is a literal CASE, not a joined table;
    // a production run swaps in a broadcast weights dimension.
    QueryDef.sql(
      "q_mix_sources",
      s"""SELECT doc_id, source,
         |       substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket,
         |       substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
         |         CASE CAST(substr(source, 4) AS INTEGER) % 4
         |              WHEN 0 THEN '${MixRateUppers(0)}'
         |              WHEN 1 THEN '${MixRateUppers(1)}'
         |              WHEN 2 THEN '${MixRateUppers(2)}'
         |              ELSE '${MixRateUppers(3)}' END AS in_mix
         |FROM documents""".stripMargin) {
      (s, dir) => sourceMix(Tables(s, dir, "documents"))
    },

    // PII redaction: email/phone detection counts + placeholder
    // substitution. The gate corpus is synthetic word salad with no
    // PII, so the text is AUGMENTED with a deterministic doc_id-derived
    // email + phone on both engines — the regexes then fire on every
    // row and the redacted output is hash-checked end to end.
    QueryDef.sql(
      "q_text_pii",
      s"""WITH aug AS (
         |  SELECT doc_id,
         |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |         '@mail.example.com or call +1-555-0' ||
         |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS t
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(t, '$EmailRe')) AS INTEGER) AS n_emails,
         |       CAST(len(regexp_extract_all(t, '$PhoneRe')) AS INTEGER) AS n_phones,
         |       regexp_replace(regexp_replace(t,
         |         '$EmailRe', '<EMAIL>', 'g'),
         |         '$PhoneRe', '<PHONE>', 'g') AS redacted
         |FROM aug""".stripMargin) {
      (s, dir) =>
        val aug = concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"),
          lit("@mail.example.com or call +1-555-0"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now"))
        Tables(s, dir, "documents")
          .select(col("doc_id"), aug.as("t"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("t"), lit(EmailRe), lit(0)))
              .as("n_emails"),
            size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0)))
              .as("n_phones"),
            regexp_replace(regexp_replace(col("t"),
              lit(EmailRe), lit("<EMAIL>")),
              lit(PhoneRe), lit("<PHONE>")).as("redacted"))
    },

    // Composite quality filter: token-count bounds, mean token length,
    // stopword density, and top-token repetition combined into one
    // keep/drop verdict per document (the per-signal queries live in
    // TextOps; this is the decision a pipeline actually applies).
    // Threshold comparisons run on UNROUNDED doubles from exact
    // integer inputs, so both engines decide identically; the reported
    // ratios are rounded for the hash compare.
    QueryDef.sql(
      "q_doc_filter",
      s"""WITH s AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |         len(toks) AS n,
         |         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS atl,
         |         CAST(len(list_filter(toks, t -> list_contains(${TextOps.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")}, t))) AS DOUBLE) / len(toks) AS sr,
         |         CAST(list_max(list_transform(list_distinct(toks), u ->
         |           len(list_filter(toks, x -> x = u)))) AS DOUBLE) / len(toks) AS ttr
         |  FROM s)
         |SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
         |       round(atl, 6) AS avg_token_len,
         |       round(sr, 6) AS stop_ratio,
         |       round(ttr, 6) AS top_token_ratio,
         |       (n >= $MinTokens AND n <= $MaxTokens
         |        AND atl >= $MinAvgTokenLen AND atl <= $MaxAvgTokenLen
         |        AND sr >= $MinStopRatio AND ttr <= $MaxTopTokenRatio) AS keep
         |FROM m""".stripMargin) {
      (s, dir) =>
        val m = Tables(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            size(col("toks")).as("n"),
            (aggregate(transform(col("toks"), t => length(t)),
              lit(0), (a, x) => a + x).cast("double") / size(col("toks")))
              .as("atl"),
            (hits(col("toks"), TextOps.Stopwords).cast("double") /
              size(col("toks"))).as("sr"),
            // linear repetition signal: run-length over the sorted
            // tokens, not a per-distinct-token refilter
            (maxRunSorted(array_sort(col("toks"))).cast("double") /
              size(col("toks"))).as("ttr"))
        m.select(col("doc_id"),
          col("n").as("n_tokens"),
          round(col("atl"), 6).as("avg_token_len"),
          round(col("sr"), 6).as("stop_ratio"),
          round(col("ttr"), 6).as("top_token_ratio"),
          (col("n") >= MinTokens && col("n") <= MaxTokens &&
            col("atl") >= MinAvgTokenLen && col("atl") <= MaxAvgTokenLen &&
            col("sr") >= MinStopRatio && col("ttr") <= MaxTopTokenRatio)
            .as("keep"))
    },

    // The composed end-to-end curation decision: token-count quality
    // gate → exact-dedup survivor election among the keepers → split
    // assignment for the survivors. One aggregation shuffle on the
    // content hash; everything else is per-row map work, so the
    // composition scales exactly like its parts. Dedup runs AFTER the
    // quality gate (order matters: a low-quality copy must not shadow
    // a clean one as survivor, and hashing only keepers shrinks the
    // shuffle).
    QueryDef.sql(
      "q_curation_pipeline",
      s"""WITH keepers AS (
         |  SELECT doc_id, md5(text) AS content_hash
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) BETWEEN $MinTokens AND $MaxTokens),
         |survivors AS (
         |  SELECT content_hash, min(doc_id) AS doc_id,
         |         count(*) AS n_copies
         |  FROM keepers GROUP BY content_hash)
         |SELECT doc_id, content_hash, CAST(n_copies AS BIGINT) AS n_copies,
         |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$TrainUpper' THEN 'train'
         |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$ValUpper' THEN 'val'
         |            ELSE 'test' END AS split
         |FROM survivors""".stripMargin) {
      (s, dir) =>
        val keepers = Tables(s, dir, "documents")
          .filter(size(tokens(col("text"))).between(MinTokens, MaxTokens))
          .select(col("doc_id"), md5(col("text")).as("content_hash"))
        val survivors = keepers.groupBy(col("content_hash"))
          .agg(min(col("doc_id")).as("doc_id"),
            count(lit(1)).as("n_copies"))
        val b = bucket(col("doc_id"))
        survivors.select(col("doc_id"), col("content_hash"), col("n_copies"),
          when(b < TrainUpper, "train")
            .when(b < ValUpper, "val")
            .otherwise("test").as("split"))
    },

    // Temperature-based mixture rebalancing (the multilingual-corpus
    // move from mBERT/XLM-R): per-language keep rate ∝ sqrt of the
    // inverse frequency (temperature α = 0.5), anchored so the rarest
    // language keeps ~everything. The per-language counts are one
    // tiny aggregate broadcast back over the corpus; membership stays
    // hash-deterministic. All the floating-point on the decision path
    // is IEEE-correctly-rounded (divide, sqrt, multiply, floor), so
    // both engines compute bit-identical thresholds — no rounding
    // fudge needed. The integer threshold becomes a 4-hex-char string
    // so the bucket compare stays in the same md5-prefix space as the
    // other sampling ops.
    QueryDef.sql(
      "q_sample_temperature",
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
         |t AS (SELECT lang,
         |             least(65535, CAST(floor(65536 * sqrt(
         |               (SELECT min(cnt) FROM c) / CAST(cnt AS DOUBLE))) AS BIGINT)) AS thr
         |      FROM c)
         |SELECT d.doc_id, d.lang, t.thr
         |FROM documents d JOIN t USING (lang)
         |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < lpad(lower(hex(t.thr)), 4, '0')""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        val cnts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        val thr = cnts
          .crossJoin(broadcast(cnts.agg(min(col("cnt")).as("min_cnt"))))
          .select(col("lang"),
            least(lit(65535L),
              floor(lit(65536) * sqrt(col("min_cnt") / col("cnt").cast("double")))
                .cast("long")).as("thr"))
        docs.join(broadcast(thr), "lang")
          .filter(bucket(col("doc_id"), 4) < lpad(lower(hex(col("thr"))), 4, "0"))
          .select(col("doc_id"), col("lang"), col("thr"))
    },

    // Greedy sequence packing ("concat and chunk"): documents are
    // concatenated in deterministic order within a shard and cut into
    // fixed-size context windows; each doc learns which window its
    // first token lands in (seq_id) and where (seq_offset). One
    // shuffle on the shard key + a running-sum window — at 100 TB the
    // shard count is the writer parallelism and each shard's window
    // is an independent sorted scan. All integer arithmetic, so the
    // oracle matches exactly.
    QueryDef.sql(
      "q_pack_sequences",
      s"""WITH t AS (SELECT doc_id, doc_id % $PackShards AS shard,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens,
         |             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM t)
         |SELECT doc_id, shard, n_tokens,
         |       (cum - n_tokens) // $PackContext AS seq_id,
         |       (cum - n_tokens) % $PackContext AS seq_offset
         |FROM c""".stripMargin) {
      (s, dir) =>
        val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % PackShards).as("shard"),
            size(tokens(col("text"))).cast("long").as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .select(col("doc_id"), col("shard"), col("n_tokens"),
            floor((col("cum") - col("n_tokens")) / PackContext).cast("long")
              .as("seq_id"),
            ((col("cum") - col("n_tokens")) % PackContext).as("seq_offset"))
    },

    // Deterministic global shuffle: every training run wants the
    // corpus in a reproducible pseudorandom order. Position = rank of
    // the doc's md5 — a pure function of the id, so the permutation
    // is stable across runs, clusters, and partitionings. Assigned
    // with the two-phase zipWithIndex pattern (range-sort on the
    // hash, per-partition counts, broadcast offsets), NOT a global
    // row_number window, so no task ever holds more than one
    // partition (the same machinery as the IMDb surrogate ids).
    QueryDef.sql(
      "q_shuffle_global",
      """SELECT doc_id,
        |       CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |            AS BIGINT) AS pos
        |FROM documents""".stripMargin) {
      (s, dir) =>
        // 64-bit positions: the int variant would wrap past 2^31 docs.
        // The returned frame reads the pin, so the gate keeps it: the
        // ContextCleaner sweeps a localCheckpoint pin with the frame
        graft.imdb.SurrogateIds.assignLong(
          Tables(s, dir, "documents")
            .select(idHash(col("doc_id")).as("h"), col("doc_id")),
          "pos", Seq(col("h"), col("doc_id")))
          .frame.select(col("doc_id"), col("pos"))
    },

    // DSIR importance weighting (Xie et al. NeurIPS'23): per-doc mean
    // log ratio of target-vs-raw hashed-n-gram bucket distributions,
    // add-one smoothed; selection flag on the rounded score. The
    // importance model is an O(256)-row broadcast regardless of
    // corpus size — see dsirWeights' scaladoc for the 100 TB story.
    QueryDef.sql(
      "q_select_dsir",
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
         |ng AS (SELECT doc_id, lang,
         |         unnest(list_concat(t, list_transform(range(len(t) - 1),
         |                i -> t[i+1] || ' ' || t[i+2]))) AS ng
         |       FROM t),
         |bk AS (SELECT doc_id, lang, substr(md5(ng), 1, 2) AS b FROM ng),
         |raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM bk GROUP BY b),
         |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM bk
         |        WHERE lang = '$DsirTargetLang' GROUP BY b),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nr,
         |               CAST(count(*) FILTER (WHERE lang = '$DsirTargetLang') AS BIGINT) AS nt
         |        FROM bk),
         |lr AS (SELECT b, ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) * CAST(nr + $DsirBuckets AS DOUBLE)
         |                    / (CAST(cr + 1 AS DOUBLE) * CAST(nt + $DsirBuckets AS DOUBLE))) AS lr
         |       FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
         |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         |              round(avg(lr), 6) AS dsir_logratio
         |       FROM bk JOIN lr USING (b) GROUP BY doc_id)
         |SELECT doc_id, n_ngrams, dsir_logratio,
         |       dsir_logratio > 0.0 AS selected
         |FROM sc""".stripMargin) {
      (s, dir) => dsirWeights(DedupOps.spread(Tables(s, dir, "documents")))
    },

    // Deterministic weighted sampling without replacement (Efraimidis
    // & Spirakis exponential race): inclusion probability ∝ n_chars,
    // reproducible from the id hash alone. Zero shuffle; the k-cut is
    // TakeOrderedAndProject — see weightedSample's scaladoc.
    QueryDef.sql(
      "q_sample_weighted",
      s"""WITH k AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         |             -ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) AS DOUBLE) + 1.0)
         |                 / $HexDraw6Denom) / CAST(n_chars AS DOUBLE) AS key
         |           FROM documents),
         |top AS (SELECT doc_id, w, key FROM k
         |        ORDER BY key, doc_id LIMIT $WeightedSampleK)
         |SELECT doc_id, w, round(key, 6) AS draw_key FROM top""".stripMargin) {
      (s, dir) => weightedSample(Tables(s, dir, "documents"))
    },

    // Per-source frequency cap in deterministic hash order — the
    // C4/RefinedWeb per-domain cap, elected by the bounded TopK
    // aggregator (cap-sized digests shuffle, never whole domains).
    QueryDef.sql(
      "q_source_cap",
      s"""WITH p AS (SELECT doc_id, source,
         |             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) AS prio
         |           FROM documents)
         |SELECT source, doc_id, prio, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT source, doc_id, prio,
         |             row_number() OVER (PARTITION BY source
         |                                ORDER BY prio, doc_id) AS rnk
         |      FROM p)
         |WHERE rnk <= $SourceCap""".stripMargin) {
      (s, dir) => sourceCap(Tables(s, dir, "documents"))
    },

    // Corpus snapshot delta: content-hash diff of two crawl
    // snapshots (added / removed / changed / unchanged) — the
    // incremental-refresh bookkeeping every recurring ingest runs.
    // ONE full-outer join keyed on doc_id, hashes only (text never
    // shuffles); at 100 TB both snapshots co-bucket on doc_id and
    // the join is exchange-free. Also the gate's full-outer-join
    // coverage.
    QueryDef.sql("q_corpus_delta", corpusDeltaSql) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        snapshotDiff(oldSnapshot(docs), newSnapshot(docs))
    },

    // The SAME snapshot diff, but the snapshots are consecutive
    // VERSIONS of one swap-maintained table: the "old" corpus hash
    // state is swapped in, the refreshed state swapped over it, and
    // the diff reads current vs previous through the retained-version
    // as-of API ([[graft.sources.Sources.readVersion]]) — the
    // incremental-refresh bookkeeping run directly off the state
    // machinery's history instead of two ad-hoc frames. Oracle = the
    // SAME string as q_corpus_delta, so "diffing retained versions ==
    // diffing the snapshots they were written from" is structural.
    // Both versions are bucketed on doc_id by the swap, so the
    // full-outer join is exchange-free at any scale (spec-pinned).
    QueryDef.sql("q_version_diff", corpusDeltaSql) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        graft.sources.Sources.dropVersioned(s, "graft_snap")
        graft.sources.Sources.swapBucketed(
          oldSnapshot(docs).withColumnRenamed("h_old", "h"),
          "graft_snap", Seq("doc_id"), 8)
        graft.sources.Sources.swapBucketed(
          newSnapshot(docs).withColumnRenamed("h_new", "h"),
          "graft_snap", Seq("doc_id"), 8)
        val cur = graft.sources.Sources.currentVersion(s, "graft_snap")
          .getOrElse(sys.error("graft_snap is not versioned after swaps"))
        snapshotDiff(
          graft.sources.Sources.readVersion(s, "graft_snap", cur - 1)
            .withColumnRenamed("h", "h_old"),
          graft.sources.Sources.readVersion(s, "graft_snap", cur)
            .withColumnRenamed("h", "h_new"))
    },

    // Sliding-window context chunking: cut each document into
    // ChunkWindow-token windows advancing by ChunkStride (overlap =
    // window - stride), the standard long-document prep for a model
    // whose context is shorter than the document — every token lands
    // in at least one window, boundary tokens in two. Emits
    // (doc_id, chunk_idx, n_tokens, chunk_hash): the hash, not the
    // text, so downstream chunk-level dedup/contamination joins stay
    // in hash space. Pure per-document map work — the explode carries
    // ceil(len/stride)-ish rows per doc and NOTHING shuffles; all
    // arithmetic is integer so the oracle matches exactly.
    QueryDef.sql(
      "q_chunk_sliding",
      s"""WITH $chunkCtesSql
         |SELECT doc_id, chunk_idx, n_tokens, chunk_hash FROM chunks""".stripMargin) {
      (s, dir) => slidingChunks(Tables(s, dir, "documents"))
    },

    // Token-budget mixture planning: the LLaMA-style table that turns
    // "weights per source + a token budget" into per-source target
    // tokens and repeat factors (epochs_x100 > 100 = the source is
    // repeated / oversampled; < 100 = downsampled). One source-keyed
    // aggregate over the corpus + a one-row weight-total broadcast —
    // the plan itself is dimension-table-sized at any corpus scale.
    QueryDef.sql(
      "q_token_budget",
      s"""WITH $budgetCtesSql
         |SELECT source, n_docs, n_tokens, weight, target_tokens,
         |       epochs_x100, target_tokens > n_tokens AS oversampled
         |FROM plan""".stripMargin) {
      (s, dir) => tokenBudgetPlan(Tables(s, dir, "documents"), TokenBudget)
    },

    // Epoch expansion: MATERIALIZE the token-budget plan — every doc
    // repeated floor(epochs) times plus one deterministic fractional
    // copy (4-hex md5 bucket against the fractional rate), so the
    // emitted copy mass hits each source's target within one doc.
    // The oversample/undersample step a training run actually
    // executes, reproducible under any partitioning: the copy count
    // is a pure function of (doc_id, plan). Only (doc_id, source,
    // copy_idx) rows are emitted — the text stays in the corpus,
    // fetched by the final pack/shuffle join.
    QueryDef.sql(
      "q_epoch_expand",
      s"""WITH $budgetCtesSql,
         |d AS (SELECT doc_id, dd.source, epochs_x100,
         |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
         |             AS BIGINT) AS b4
         |      FROM documents dd JOIN plan
         |        ON dd.source IS NOT DISTINCT FROM plan.source),
         |c AS (SELECT doc_id, source,
         |        epochs_x100 // 100 +
         |        CASE WHEN b4 * 100 < (epochs_x100 % 100) * 65536
         |             THEN 1 ELSE 0 END AS n_copies
         |      FROM d)
         |SELECT doc_id, source, CAST(i AS BIGINT) AS copy_idx,
         |       CAST(n_copies AS BIGINT) AS n_copies
         |FROM c, unnest(range(n_copies)) AS u(i)
         |WHERE n_copies >= 1""".stripMargin) {
      (s, dir) => epochExpand(Tables(s, dir, "documents"), TokenBudget)
    },

    // C4-style rule cleaning WITH document rewrite (Raffel et al.
    // JMLR'20 §2.2, the en.clean recipe): per-"line" keep rules, then
    // each page rebuilt from its surviving lines, pages with too few
    // survivors dropped outright. The gate corpus is single-line
    // ASCII, so the rules ride the same ParaTokens-chunk geometry as
    // paragraph dedup (DedupOps.ParaTokens; a production run swaps in
    // split-on-newline and real rule constants, nothing else
    // changes): C4's "≥3 words" keeps its literal form on chunks,
    // "ends in terminal punctuation" becomes "contains a function
    // word" (the looks-like-prose test this vocabulary can express),
    // the bad-words list is the rare token 'dup', and "≥5 sentences
    // per page" becomes ≥C4MinKeptChunks surviving chunks. Scale:
    // every rule and the rewrite are per-row higher-order-function
    // expressions — ZERO shuffle, embarrassingly parallel at 100 TB,
    // and the kept text never leaves its row.
    QueryDef.sql(
      "q_clean_c4",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |c AS (SELECT doc_id,
         |        list_transform(range(CAST(ceil(len(t) / $C4ChunkSql.0) AS BIGINT)),
         |          i -> t[i*$C4ChunkSql+1 : i*$C4ChunkSql+$C4ChunkSql]) AS chunks
         |      FROM t),
         |k AS (SELECT doc_id, chunks,
         |        list_filter(chunks, ch -> len(ch) >= $C4MinChunkTokens
         |          AND (list_contains(ch, '${C4FunctionWords(0)}')
         |               OR list_contains(ch, '${C4FunctionWords(1)}'))
         |          AND NOT list_contains(ch, '$C4BadWord')) AS kept
         |      FROM c)
         |SELECT doc_id,
         |       CAST(len(chunks) AS INTEGER) AS n_chunks,
         |       CAST(len(kept) AS INTEGER) AS n_kept,
         |       CAST(CASE WHEN len(kept) >= $C4MinKeptChunks
         |            THEN 1 ELSE 0 END AS INTEGER) AS doc_keep,
         |       coalesce(array_to_string(list_transform(kept,
         |         ch -> array_to_string(ch, ' ')), ' '), '') AS kept_text
         |FROM k""".stripMargin) {
      (s, dir) => cleanC4(Tables(s, dir, "documents"))
    }
  )

  /** Oracle-CTE replica of [[slidingChunks]], exposing
    * `chunks(doc_id, chunk_idx, n_tokens, chunk_hash)` — shared by
    * the chunking and chunk-decontamination oracles so the SQL
    * definition of a "window" cannot fork between them. Defined as a
    * method (not a val interpolated into `all`) so cross-object
    * users ([[DedupOps]]) see it regardless of init order. */
  def chunkCtesSql: String =
    s"""tch AS (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents),
       |cch AS (SELECT doc_id, toks, len(toks) AS n,
       |             CASE WHEN len(toks) <= $ChunkWindow THEN 1
       |                  ELSE CAST(floor((len(toks) - $ChunkWindow + $ChunkStride - 1)
       |                       / CAST($ChunkStride AS DOUBLE)) AS INTEGER) + 1 END AS nc
       |      FROM tch),
       |chunks AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       |         CAST(least($ChunkWindow, n - i * $ChunkStride) AS INTEGER) AS n_tokens,
       |         md5(array_to_string(toks[i * $ChunkStride + 1 : i * $ChunkStride + $ChunkWindow], ' ')) AS chunk_hash
       |  FROM cch, unnest(range(nc)) AS u(i))""".stripMargin

  /** Oracle-CTE replica of [[tokenBudgetPlan]], exposing
    * `plan(source, n_docs, n_tokens, weight, target_tokens,
    * epochs_x100)` — shared by the plan and epoch-expansion oracles
    * so the SQL definition of a source's share cannot fork. */
  def budgetCtesSql: String = {
    val target = s"CAST(floor($TokenBudget * weight * 1.0 / w_total) AS BIGINT)"
    s"""per AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |         CAST(CASE CAST(substr(source, 4) AS INTEGER) % 4
       |              WHEN 0 THEN ${BudgetWeights(0)}
       |              WHEN 1 THEN ${BudgetWeights(1)}
       |              WHEN 2 THEN ${BudgetWeights(2)}
       |              ELSE ${BudgetWeights(3)} END AS BIGINT) AS weight
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS w_total FROM per),
       |plan AS (
       |  SELECT source, n_docs, n_tokens, weight, $target AS target_tokens,
       |         CAST(floor($target * 100.0 / n_tokens) AS BIGINT) AS epochs_x100
       |  FROM per CROSS JOIN tot)""".stripMargin
  }

  /** Materialize [[tokenBudgetPlan]]: each doc emitted
    * floor(epochs_x100/100) times, plus one more copy iff its 4-hex
    * md5 bucket falls under the fractional rate (b·100 <
    * frac·65536 — exact integers, engine-portable), so each source's
    * emitted token mass hits its target to within bucket granularity
    * and the copy count is a pure function of (doc_id, plan):
    * re-running on any partitioning reproduces the same multiset.
    *
    * Scale: the plan is a |sources|-row broadcast; expansion is
    * map-side explode of (doc_id, source) pairs — the text column is
    * NOT carried (the final pack/shuffle fetches it by doc_id), so
    * an 8× oversampled source repeats 16-byte rows, not documents.
    *
    * The explicit n_copies >= 1 filter BEFORE the sequence matters:
    * Spark's sequence(0, -1) counts backwards (see
    * [[DedupOps.paragraphHashesFromTokens]]'s guard note). */
  def epochExpand(docs: org.apache.spark.sql.DataFrame,
      budget: Long): org.apache.spark.sql.DataFrame = {
    val plan = tokenBudgetPlan(docs, budget)
      .select(col("source").as("plan_source"), col("epochs_x100"))
    val b4 = conv(substring(idHash(col("doc_id")), 1, 4), 16, 10)
      .cast("long")
    // null-safe join key: tokenBudgetPlan's groupBy allocates a
    // null-source group its budget weight, so a plain equi-join here
    // would DROP those documents and silently under-deliver the
    // total budget (the qualityPruneApprox lesson; oracle matches
    // via IS NOT DISTINCT FROM)
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(plan), col("source") <=> col("plan_source"))
      .withColumn("n_copies",
        expr("epochs_x100 div 100") +
          when(b4 * 100 < (col("epochs_x100") % 100) * 65536, 1L)
            .otherwise(0L))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_idx"),
        col("n_copies"))
  }

  /** Token-budget mixture planning: given per-source mixture weights
    * (here derived from the source-index class; production joins a
    * broadcast weights dimension) and a total token budget, emit the
    * per-source plan — available mass, the budget share
    * floor(budget·w/Σw), and the repeat factor epochs_x100 =
    * floor(target·100/available). epochs_x100 over 100 means the
    * source must repeat (oversample) to hit its share, the signal a
    * mixture designer reads before committing to weights that
    * over-epoch a small source.
    *
    * Scale: one groupBy(source) over the corpus (map-side combined
    * token sums), a |sources|-row aggregate for Σw, broadcast back.
    * All plan arithmetic is exact: integer operands far below 2^53,
    * one IEEE division, floor — bit-identical on both engines. */
  def tokenBudgetPlan(docs: org.apache.spark.sql.DataFrame,
      budget: Long): org.apache.spark.sql.DataFrame = {
    val cls = substring(col("source"), 4, 8).cast("int") % 4
    val weight = when(cls === 0, BudgetWeights(0))
      .when(cls === 1, BudgetWeights(1))
      .when(cls === 2, BudgetWeights(2))
      .otherwise(BudgetWeights(3))
    val per = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .withColumn("weight", weight)
    val tot = per.agg(sum(col("weight")).as("w_total"))
    val target = floor(lit(budget) * col("weight") / col("w_total"))
      .cast("bigint")
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        target.as("target_tokens"),
        floor(target * 100 / col("n_tokens")).cast("bigint").as("epochs_x100"),
        (target > col("n_tokens")).as("oversampled"))
  }

  /** The q_mix_sources body, named so the gate registration and the
    * golden-bucket spec drive the same production expressions:
    * (doc_id, source, bucket, in_mix) per input (doc_id, source)
    * row, keep rates per [[MixRateUppers]] source-index class. */
  def sourceMix(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val b = bucket(col("doc_id"), 4)
    val idx = substring(col("source"), 4, 8).cast("int") % 4
    docs.select(
      col("doc_id"), col("source"), b.as("bucket"),
      (b < when(idx === 0, MixRateUppers(0))
        .when(idx === 1, MixRateUppers(1))
        .when(idx === 2, MixRateUppers(2))
        .otherwise(MixRateUppers(3))).as("in_mix"))
  }

  /** DSIR data selection (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): score every
    * document by the mean log importance ratio of its hashed n-gram
    * features under a target distribution vs the raw-corpus
    * distribution, both add-one smoothed over [[DsirBuckets]]
    * buckets. Features are unigrams + bigrams (the paper's choice);
    * a doc's weight is avg over its n-gram INSTANCES of
    * ln(p_target(bucket) / p_raw(bucket)).
    *
    * Scale design: the two distributions are bucket-count aggregates
    * (one shuffle keyed by a 2-hex-char bucket — at most 256 groups),
    * and the finished importance model is an O(256)-row BROADCAST no
    * matter how large the corpus or its vocabulary is; per-doc
    * scoring is then a map-side broadcast-hash join + one doc_id
    * aggregate. Nothing quadratic, no vocabulary-sized state on any
    * single task. The log ratio is ln over doubles whose FACTORS are
    * exactly-represented counts (< 2^53) cast before the multiply —
    * the integer product would overflow BIGINT at ~3e9 n-gram
    * instances (a few GB of text); one IEEE multiply/divide of exact
    * doubles is the identical value in both engines. The
    * per-doc avg() reassociates across engines, but per-doc groups
    * are ~100 n-grams, keeping the error orders of magnitude under
    * the 6-decimal rounding (same argument as q_text_perplexity).
    * `selected` is derived from the ROUNDED score, so flag parity is
    * implied by score parity.
    *
    * Output: (doc_id, n_ngrams, dsir_logratio, selected).
    */
  def dsirWeights(docs: org.apache.spark.sql.DataFrame,
      targetLang: String = DsirTargetLang): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"), tokens(col("text")).as("t"))
    val bk = base
      .select(col("doc_id"), col("lang"),
        explode(concat(col("t"), shingles(col("t"), 2))).as("ng"))
      .select(col("doc_id"), col("lang"),
        substring(md5(col("ng").cast("binary")), 1, 2).as("b"))
      .pinned // feeds the raw counts, target counts, totals AND probe
    val isTgt = col("lang") === targetLang
    // ONE corpus pass builds both distributions: raw count and target
    // count per bucket in the same aggregate (a conditional sum is
    // the left join the two-pass formulation needed); the totals then
    // derive from the ≤256-row bucket table, not the corpus
    val bc = bk.groupBy(col("b")).agg(count(lit(1)).as("cr"),
      sum(when(isTgt, 1L).otherwise(0L)).as("ct"))
    val tot = bc.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val smooth = lit(DsirBuckets.toLong)
    // each factor casts to double BEFORE the multiply: the factors are
    // corpus-scale counts (< 2^53, exactly representable), but their
    // 64-bit INTEGER product overflows at ~3e9 n-gram instances each —
    // a few GB of text, silent garbage (or an ANSI throw) far below
    // the target scale. One IEEE multiply of exact doubles is the
    // identical value in both engines.
    val lr = bc.crossJoin(broadcast(tot))
      .select(col("b"),
        log((col("ct") + 1L).cast("double") * (col("nr") + smooth).cast("double")
          / ((col("cr") + 1L).cast("double") * (col("nt") + smooth).cast("double"))).as("lr"))
    bk.join(broadcast(lr), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        round(avg(col("lr")), 6).as("dsir_logratio"))
      .withColumn("selected", col("dsir_logratio") > 0.0)
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis
    * & Spirakis 2006, exponential-race form): each doc draws a
    * reproducible uniform u from its id hash and races with key
    * −ln(u)/w; the k smallest keys win, which selects docs with
    * inclusion probability proportional to weight — the resampling
    * step importance-weighted selection (DSIR) and
    * quality-proportional subcorpus draws need, made replayable.
    *
    * Scale design: the race key is pure per-row hash math (zero
    * shuffle, zero state), and the k-cut is orderBy+limit →
    * TakeOrderedAndProject — a per-partition k-heap plus a k-row
    * driver merge, NEVER a global sort; rerunning on any cluster
    * layout reproduces the exact sample. The k-boundary is cut on
    * the UNROUNDED key (doc_id tie-break): the division and negation
    * are exact IEEE ops on both engines; ln() may differ by ≤1 ulp
    * between them, which flips the cut only if two DISTINCT docs'
    * keys land within ~2^-52 relative of each other exactly at rank
    * k — the same negligible residual every rounded output column in
    * this repo carries at its rounding boundaries. Cutting on the
    * ROUNDED key instead would trade that for a much larger real
    * defect: 6-decimal ties at the boundary break the method's scale
    * invariance (observed in testing). Scale invariance
    * (spec-pinned): multiplying every weight by a constant rescales
    * all keys by 1/c and leaves the selected set unchanged.
    *
    * Output: the k winners as (doc_id, w, draw_key).
    */
  def weightedSample(docs: org.apache.spark.sql.DataFrame,
      k: Int = WeightedSampleK): org.apache.spark.sql.DataFrame = {
    val u = (conv(substring(idHash(col("doc_id")), 1, 6), 16, 10)
      .cast("long").cast("double") + lit(1.0)) / lit(HexDraw6Denom)
    // the k-cut runs on the UNROUNDED key (bit-identical in both
    // engines — same IEEE op sequence): cutting on the rounded key
    // would break the scale-invariance at the boundary whenever two
    // keys straddle a rounding step. Rounding happens on output only.
    docs.select(col("doc_id"), col("n_chars").cast("long").as("w"),
      (-log(u) / col("n_chars").cast("double")).as("key"))
      .orderBy(col("key"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("w"), round(col("key"), 6).as("draw_key"))
  }

  /** Per-source frequency cap (the C4/RefinedWeb "per-domain cap"
    * that stops one boilerplate-heavy domain from dominating the
    * mixture): keep at most [[SourceCap]] docs per source, elected in
    * deterministic id-hash order so re-ingestion reproduces the
    * exact survivor set.
    *
    * Scale design: runs on the bounded [[graft.functions.TopK]]
    * aggregator, NOT a window — each map task retains at most cap
    * (priority, id) pairs per source, so the shuffle carries
    * cap-per-(task, source) digests instead of every row of every
    * hot domain, and no task ever sorts a whole domain's rows. The
    * hash priority is 24 bits (exact in double), negated because the
    * aggregator ranks DESC.
    *
    * Output: (source, doc_id, prio, rnk) for the survivors.
    */
  def sourceCap(docs: org.apache.spark.sql.DataFrame,
      cap: Int = SourceCap): org.apache.spark.sql.DataFrame = {
    val prio = conv(substring(idHash(col("doc_id")), 1, 6), 16, 10)
      .cast("long")
    graft.functions.TopK.perKey(
      docs.select(col("source"), col("doc_id"),
        (-prio.cast("double")).as("nprio")),
      "source", "nprio", "doc_id", cap)
      .select(col("source"), col("doc_id"),
        (-col("nprio")).cast("long").as("prio"), col("rnk"))
  }

  /** The q_chunk_sliding body (see the gate comment for the scale
    * shape): one (doc_id, chunk_idx, n_tokens, chunk_hash) row per
    * window of [[ChunkWindow]] tokens advancing by [[ChunkStride]].
    * A document of n <= window tokens is exactly one chunk; otherwise
    * ceil((n - window) / stride) + 1 chunks, so the LAST window always
    * reaches the final token and no window starts past the end.
    * Integer arithmetic throughout ([[PipelineOpsSpec]] pins the
    * coverage/overlap invariants on a planted 150-token doc). */
  def slidingChunks(docs: org.apache.spark.sql.DataFrame,
      window: Int = ChunkWindow,
      stride: Int = ChunkStride): org.apache.spark.sql.DataFrame = {
    val toks = split(col("text"), " ")
    val nChunks = when(col("n") <= window, lit(1))
      .otherwise(floor((col("n") - window + stride - 1).cast("double") / stride)
        .cast("int") + 1)
    docs
      .select(col("doc_id"), toks.as("t"), size(toks).as("n"))
      .select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(window), col("n") - col("chunk_idx") * stride)
          .cast("int").as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("t"), col("chunk_idx") * stride + 1, lit(window)))
          .cast("binary")).as("chunk_hash"))
  }
}
