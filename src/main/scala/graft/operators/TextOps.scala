package graft.operators

import graft.operators.Materialize.PinOps
import graft.{QueryDef, Tables}
import graft.functions.TextVec._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token statistics, quality scoring, language identification, and
  * document fingerprinting over the `documents` table.
  *
  * All of these are embarrassingly parallel per-document column
  * expressions — no shuffle at all, so they scale linearly with input
  * splits at 100 TB.
  */
object TextOps {

  /** Stopword vocabulary shared between the Spark and oracle sides. */
  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  /** lang -> marker words for the n-gram/stopword language heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a"),
    "es" -> Seq("el", "la", "los", "de"),
    "de" -> Seq("der", "und", "die", "das"),
    "fr" -> Seq("le", "et", "les", "des"))

  private def sqlList(vs: Seq[String]): String =
    vs.map(v => s"'$v'").mkString("[", ", ", "]")

  /** Fixed q_quality_clf weights — the stand-in for an exported
    * quality model's coefficients (ttr, stop_ratio, avg_token_len,
    * bias); chosen so the gate corpus exercises both keep and drop. */
  val ClfTtrW = 2.0
  val ClfStopW = 4.0
  val ClfAtlW = -0.25
  val ClfBias = 0.2

  /** q_bpe_pairs top-slice size (the pair table itself is
    * alphabet²-bounded; the report shows the merge frontier). */
  val BpeTopPairs = 30

  /** q_bpe_train merge rounds — enough for multi-symbol merges to
    * compose (merged symbols re-enter the pair statistics), small
    * enough that the unrolled-CTE oracle stays readable. Declared
    * BEFORE `all` (oracle interpolation at object init). */
  val BpeTrainRounds = 6


  /** BM25 parameters (Robertson/Spärck Jones defaults) and the fixed
    * gate query: one rare, highly-discriminative term plus two
    * mid-frequency ones, so idf does real work on the gate corpus. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Query: Seq[String] = Seq("dup", "vector", "stream")
  val Bm25TopK = 15

  /** Spark/oracle-shared derived BM25 constants, named so both sides
    * interpolate the SAME double (Scala's toString round-trips, so
    * the SQL literal parses back to the identical binary64). Declared
    * BEFORE `all`: its oracle string is built during object init. */
  val Bm25K1Plus1: Double = Bm25K1 + 1.0
  val Bm25OneMinusB: Double = 1.0 - Bm25B

  val all: Seq[QueryDef] = Seq(

    // Token counting: whitespace tokens plus a BPE-ish alnum-run
    // tokenizer (regex split), both engine-agnostic.
    QueryDef.sql(
      "q_text_tokens",
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |       CAST(len(list_filter(string_split_regex(text, '[^a-z0-9]+'),
        |                            t -> length(t) > 0)) AS INTEGER) AS n_alnum_tokens,
        |       CAST(length(text) AS INTEGER) AS n_chars_computed
        |FROM documents""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "documents").select(
          col("doc_id"),
          size(tokens(col("text"))).as("n_tokens"),
          size(filter(split(col("text"), "[^a-z0-9]+"), t => length(t) > 0))
            .as("n_alnum_tokens"),
          length(col("text")).as("n_chars_computed"))
    },

    // Quality scoring: lexical-diversity + stopword-density features.
    // Integer counts divide to doubles identically on both engines;
    // ratios rounded to 6 to absorb nothing — the division itself is
    // a single exact-input fp op.
    QueryDef.sql(
      "q_text_quality",
      s"""SELECT doc_id,
         |       CAST(len(toks) AS INTEGER) AS n_tokens,
         |       CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique,
         |       CAST(sh AS INTEGER) AS stop_hits,
         |       round(CAST(sh AS DOUBLE) / len(toks), 6) AS stop_ratio,
         |       round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
         |       round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
         |             / len(toks), 6) AS avg_token_len
         |FROM (SELECT doc_id, string_split(text, ' ') AS toks,
         |             len(list_filter(string_split(text, ' '),
         |                             t -> list_contains(${sqlList(Stopwords)}, t))) AS sh
         |      FROM documents)""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(
            col("doc_id"),
            size(col("toks")).as("n_tokens"),
            size(array_distinct(col("toks"))).as("n_unique"),
            hits(col("toks"), Stopwords).as("stop_hits"),
            aggregate(transform(col("toks"), t => length(t)),
              lit(0), (acc, x) => acc + x).as("len_sum"))
          .select(
            col("doc_id"), col("n_tokens"), col("n_unique"), col("stop_hits"),
            round(col("stop_hits").cast("double") / col("n_tokens"), 6)
              .as("stop_ratio"),
            round(col("n_unique").cast("double") / col("n_tokens"), 6).as("ttr"),
            round(col("len_sum").cast("double") / col("n_tokens"), 6)
              .as("avg_token_len"))
    },

    // Linear quality-classifier inference: a fixed-weight margin over
    // the q_text_quality features — the shape of applying an exported
    // fastText/logreg quality model at ingest (weights are a
    // broadcast-free literal here; a real model's coefficient vector
    // ships the same way). Zero shuffle, pure per-document map work.
    // Parity: the margin is one left-associated chain of IEEE double
    // ops (exact-input divisions, then w·f products and sums) written
    // in the SAME order on both engines, so the raw margin — and with
    // it the keep decision — is bit-identical. The REPORTED margin is
    // micro-units via floor(margin·1e6), NOT round(…, 6): the two
    // engines' round() implementations disagree on exact-.5 decimal
    // boundaries (BigDecimal HALF_UP over the exact binary expansion
    // vs multiply-and-round), observed on this very query; floor over
    // the same IEEE product is deterministic on both.
    QueryDef.sql(
      "q_quality_clf",
      s"""WITH f AS (
         |  SELECT doc_id,
         |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
         |         CAST(len(list_filter(toks, t -> list_contains(${sqlList(Stopwords)}, t))) AS DOUBLE)
         |           / len(toks) AS stop_ratio,
         |         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
         |           / len(toks) AS atl
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
         |SELECT doc_id,
         |       CAST(floor(($ClfTtrW * ttr + $ClfStopW * stop_ratio + $ClfAtlW * atl + $ClfBias) * 1000000.0) AS BIGINT) AS margin_e6,
         |       $ClfTtrW * ttr + $ClfStopW * stop_ratio + $ClfAtlW * atl + $ClfBias > 0 AS kept
         |FROM f""".stripMargin) {
      (s, dir) => qualityClassifier(Tables(s, dir, "documents"))
    },

    // WINNOWING fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD'03 —
    // the MOSS document-fingerprinting standard): hash every char
    // 5-gram, slide a window of 4 hashes, keep each window's minimum
    // (rightmost on ties — the paper's robustness rule), dedupe. The
    // guarantee: any shared substring of ≥ k+w-1 = 8 chars yields a
    // shared fingerprint, while storage is ~2/(w+1) of the grams —
    // the position-robust near-dup signature next to the fixed-stride
    // q_text_fingerprint. Cross-engine trick: (hash, pos) pairs are
    // encoded as (h << 32) | (2^32-1 − pos), so ONE plain min
    // implements "min hash, rightmost position on ties" — no fold,
    // identical integer arithmetic on both engines. Everything is
    // per-row higher-order functions: ZERO shuffle, text never
    // leaves its row. (24-bit hash + 32-bit position = 56 bits: no
    // overflow for any document under 2^32 grams, past every
    // engine's single-value limit.)
    QueryDef.sql(
      "q_text_winnow",
      s"""WITH $winnowSelCtes
         |SELECT doc_id, n_grams, n_windows,
         |       CAST(len(sel) AS INTEGER) AS n_fp,
         |       CAST(coalesce(list_sum(list_transform(sel,
         |              x -> x >> $WinnowPosBits)), 0) AS BIGINT) AS fp_sum
         |FROM s""".stripMargin) { (s, dir) =>
      winnowFingerprints(Tables(s, dir, "documents"))
    },

    // Winnowing fingerprints AS the dedup candidate generator — the
    // MOSS composition: pairs sharing >= 20 non-hub fingerprint
    // hashes (df <= 50; the tiny gate vocabulary mass-produces hub
    // 5-grams, the stop-shingle problem) are the long-shared-span
    // near-dups (measured: genuine pairs share 40-64 survivors,
    // noise shares 1-2 — clean separation). Scale = the shingle/band
    // index shape: explode → df-capped inverted index → one fp
    // equi-join, pair volume Σ df², never n². A fourth independent
    // candidate generator next to MinHash bands, SimHash and the
    // inverted shingle index — each with different blind spots.
    QueryDef.sql(
      "q_dedup_winnow",
      s"""WITH $winnowPairCtes
         |SELECT a, b, n_shared FROM wpairs""".stripMargin) {
      (s, dir) => winnowPairs(Tables(s, dir, "documents"))
    },

    // Per-source quality-PERCENTILE pruning (the FineWeb/DCLM release
    // recipe): rank every document within its source by classifier
    // margin and keep the top half — a per-source cut, so one noisy
    // source cannot crowd out the others' budget the way a global
    // margin threshold would. Composes the exported-model margins of
    // q_quality_clf (same expressions via qualityClassifier, same
    // floor(·1e6) integerization, so both engines rank identical
    // keys). One source shuffle; the rank and the per-source count
    // are windows over that one partitioning.
    QueryDef.sql(
      "q_quality_prune",
      s"""WITH $clfMarginCte,
         |j AS (SELECT d.doc_id, d.source, m.margin_e6
         |      FROM documents d JOIN clfm m ON d.doc_id = m.doc_id),
         |r AS (SELECT doc_id, source, margin_e6,
         |             CAST(row_number() OVER (PARTITION BY source
         |                    ORDER BY margin_e6 DESC, doc_id)
         |                  AS INTEGER) AS rnk,
         |             CAST(count(*) OVER (PARTITION BY source)
         |                  AS BIGINT) AS n_docs
         |      FROM j)
         |SELECT doc_id, source, margin_e6, rnk,
         |       rnk * 2 <= n_docs AS kept_top_half
         |FROM r""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val bySrc =
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      // one map-side projection carries (source, margin) together —
      // the former docs⋈classifier self-join on doc_id shuffled the
      // corpus row-level just to reattach the source column
      qualityClassifierCarrying(docs, "source")
        .select(col("doc_id"), col("source"), col("margin_e6"))
        .withColumn("rnk", row_number().over(
          bySrc.orderBy(col("margin_e6").desc, col("doc_id"))).cast("int"))
        .withColumn("n_docs", count(lit(1)).over(bySrc))
        .select(col("doc_id"), col("source"), col("margin_e6"), col("rnk"),
          (col("rnk") * 2 <= col("n_docs")).as("kept_top_half"))
    },

    // The APPROXIMATE prune's agreement contract as a gate (the
    // q_approx_distinct pattern: the sketch value is engine-private,
    // so the HASHED output carries exact, reproducible columns plus a
    // flag computed FROM the approximation that must be TRUE —
    // DuckDB replays the exact side and asserts the literal, so a
    // sketch threshold drifting outside its rank-error band fails
    // the gate hash every round instead of living only in one spec).
    // Per row: kept_exact from the same rank window as
    // q_quality_prune, and agree_or_in_band = the two cuts agree OR
    // the margin lies in the closed band between the approximate
    // threshold and the exact cut's boundary margin (the worst
    // margin it still keeps; a keep-nothing source's boundary sits
    // above every margin). The exact window here is the VALIDATOR'S
    // cost, not the production path — qualityPruneApprox alone is
    // the 100 TB pipeline entry.
    QueryDef.sql(
      "q_quality_prune_approx",
      s"""WITH $clfMarginCte,
         |j AS (SELECT d.doc_id, d.source, m.margin_e6
         |      FROM documents d JOIN clfm m ON d.doc_id = m.doc_id),
         |r AS (SELECT doc_id, source, margin_e6,
         |             CAST(row_number() OVER (PARTITION BY source
         |                    ORDER BY margin_e6 DESC, doc_id)
         |                  AS INTEGER) AS rnk,
         |             CAST(count(*) OVER (PARTITION BY source)
         |                  AS BIGINT) AS n_docs
         |      FROM j)
         |SELECT doc_id, source, margin_e6,
         |       rnk * 2 <= n_docs AS kept_exact,
         |       TRUE AS agree_or_in_band
         |FROM r""".stripMargin) { (s, dir) =>
      val bySrc =
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      qualityPruneApprox(Tables(s, dir, "documents"))
        .withColumn("rnk", row_number().over(
          bySrc.orderBy(col("margin_e6").desc, col("doc_id"))).cast("int"))
        .withColumn("n_docs", count(lit(1)).over(bySrc))
        .withColumn("kept_exact", col("rnk") * 2 <= col("n_docs"))
        .withColumn("boundary_e6", coalesce(
          min(when(col("kept_exact"), col("margin_e6"))).over(bySrc),
          lit(Long.MaxValue)))
        .select(col("doc_id"), col("source"), col("margin_e6"),
          col("kept_exact"),
          (col("kept_top_half") === col("kept_exact") ||
            (col("margin_e6") >= least(col("thr_e6"), col("boundary_e6")) &&
              col("margin_e6") <= greatest(col("thr_e6"), col("boundary_e6"))))
            .as("agree_or_in_band"))
    },

    // Language identification: stopword-marker voting with a fixed
    // priority tie-break (en > es > de > fr).
    QueryDef.sql(
      "q_text_langid",
      s"""SELECT doc_id, lang AS actual_lang,
         |       CAST(h_en AS INTEGER) AS h_en, CAST(h_es AS INTEGER) AS h_es,
         |       CAST(h_de AS INTEGER) AS h_de, CAST(h_fr AS INTEGER) AS h_fr,
         |       CASE WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
         |            WHEN h_es >= h_de AND h_es >= h_fr THEN 'es'
         |            WHEN h_de >= h_fr THEN 'de'
         |            ELSE 'fr' END AS predicted_lang
         |FROM (SELECT doc_id, lang,
         |             ${LangMarkers.map { case (l, ws) =>
                          s"len(list_filter(string_split(text, ' '), t -> list_contains(${sqlList(ws)}, t))) AS h_$l"
                        }.mkString(",\n             ")}
         |      FROM documents)""".stripMargin) {
      (s, dir) =>
        val base = Tables(s, dir, "documents").select(
          Seq(col("doc_id"), col("lang").as("actual_lang")) ++
            LangMarkers.map { case (l, ws) =>
              hits(tokens(col("text")), ws).as(s"h_$l")
            }: _*)
        base.withColumn("predicted_lang",
          when(col("h_en") >= col("h_es") && col("h_en") >= col("h_de") &&
            col("h_en") >= col("h_fr"), "en")
            .when(col("h_es") >= col("h_de") && col("h_es") >= col("h_fr"), "es")
            .when(col("h_de") >= col("h_fr"), "de")
            .otherwise("fr"))
    },

    // Text normalization for ingest: lowercase, strip non-alnum,
    // collapse whitespace — identical simple-class regexes on both
    // engines (DuckDB needs the 'g' flag; Spark replaces all by
    // default).
    QueryDef.sql(
      "q_text_normalize",
      """SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(lower(text),
        |            '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS cleaned,
        |       CAST(len(string_split(trim(regexp_replace(regexp_replace(lower(text),
        |            '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')), ' ')) AS INTEGER) AS n_clean_tokens
        |FROM documents""".stripMargin) {
      (s, dir) =>
        val cleaned = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "  +", " "))
        Tables(s, dir, "documents").select(
          col("doc_id"), cleaned.as("cleaned"),
          size(split(cleaned, " ")).as("n_clean_tokens"))
    },

    // Repetition / information-density quality signals (Gopher-style
    // filter rules): character-distribution Shannon entropy and the
    // top-token frequency ratio. Zero shuffle — per-document
    // higher-order-function expressions; the distinct-char list is
    // SORTED on both engines so the entropy sum accumulates in the
    // same order (bit-identical before rounding).
    QueryDef.sql(
      "q_text_entropy",
      """WITH base AS (
        |  SELECT doc_id,
        |         list_sort(list_distinct(string_split_regex(text, ''))) AS cs,
        |         string_split_regex(text, '') AS chars,
        |         string_split(text, ' ') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |       round(-list_sum(list_transform(cs, c ->
        |         (CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE) / len(chars))
        |         * ln(CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE) / len(chars)))), 6)
        |         AS char_entropy,
        |       round(CAST(list_max(list_transform(list_distinct(toks), t ->
        |         len(list_filter(toks, x -> x = t)))) AS DOUBLE) / len(toks), 6)
        |         AS top_token_ratio
        |FROM base""".stripMargin) {
      (s, dir) =>
        // LINEAR per-document counting: sort each array once, then one
        // run-length pass (aggregate with (prev, run, …) state). The
        // oracle's form — and this query's previous Spark form —
        // re-filters the whole array per DISTINCT element, which is
        // O(distinct × len): quadratic on a long diverse document, the
        // kind that detonates on a 10 MB doc at 100 TB. Run lengths
        // over the sorted array are the same counts in the same sorted
        // order, so every entropy term is the identical double added
        // in the identical sequence — the hash still matches.
        //
        // Entropy state: (prev char, current run, accumulated sum); a
        // run's term is added when the NEXT distinct char arrives, and
        // the final run's in the finish lambda — ascending char order,
        // exactly like the oracle's sorted distinct-char loop.
        def entropySum(sorted: Column, len: Column): Column = {
          def term(run: Column) = {
            val p = run.cast("double") / len
            p * log(p)
          }
          def closedRun(st: Column) =
            when(st.getField("run") > 0, term(st.getField("run")))
              .otherwise(lit(0.0))
          aggregate(
            sorted,
            struct(lit(null).cast("string").as("prev"),
              lit(0).as("run"), lit(0.0).as("acc")),
            (st, x) => {
              val same = st.getField("prev") <=> x
              struct(
                x.as("prev"),
                when(same, st.getField("run") + 1).otherwise(lit(1)).as("run"),
                when(same, st.getField("acc"))
                  .otherwise(st.getField("acc") + closedRun(st)).as("acc"))
            },
            st => st.getField("acc") + closedRun(st))
        }
        // per-doc sort+scan is CPU-bound: fan a single-split scan out
        // to all cores (no-op when the scan already splits)
        DedupOps.spread(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            array_sort(split(col("text"), "")).as("chars"),
            array_sort(tokens(col("text"))).as("toks"))
          .select(
            col("doc_id"),
            round(-entropySum(col("chars"), size(col("chars"))), 6)
              .as("char_entropy"),
            round(maxRunSorted(col("toks")).cast("double") / size(col("toks")), 6)
              .as("top_token_ratio"))
    },

    // TF-IDF top terms: the classic salient-term extractor. Two
    // shuffles ((doc,term) counts, then term document-frequency) plus
    // one broadcast of the scalar corpus size; ranking is per-doc.
    // Ties in the score only occur for equal (tf, df) pairs — where
    // both engines compute the identical double — and break on term,
    // so the ordering is engine-independent.
    QueryDef.sql(
      "q_text_tfidf",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
        |       round(score, 6) AS tfidf, CAST(rnk AS INTEGER) AS rnk
        |FROM (SELECT doc_id, term, tf,
        |             tf * ln(CAST(n AS DOUBLE) / df) AS score,
        |             row_number() OVER (PARTITION BY doc_id
        |                                ORDER BY tf * ln(CAST(n AS DOUBLE) / df) DESC,
        |                                         term) AS rnk
        |      FROM tf JOIN df USING (term) CROSS JOIN n)
        |WHERE rnk <= 3""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          explode(tokens(col("text"))).as("term"))
        // materialized once: df is derived FROM tf, and without this
        // the plan re-explodes every document's tokens for each branch
        val tf = toks.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
          .pinned
        val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        val scored = tf.join(dfreq, "term")
          .crossJoin(broadcast(n))
          .withColumn("score",
            col("tf") * log(col("n").cast("double") / col("df")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("term"), col("tf"),
            round(col("score"), 6).as("tfidf"), col("rnk"))
    },

    // Document fingerprinting: whole-document content hash over
    // normalized text plus a prefix fingerprint over the leading
    // 5 tokens (a cheap rolling-hash anchor for container-level dedup).
    QueryDef.sql(
      "q_text_fingerprint",
      """SELECT doc_id,
        |       md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS content_hash,
        |       md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS prefix_hash
        |FROM documents""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "documents").select(
          col("doc_id"),
          md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("content_hash"),
          md5(concat_ws(" ", slice(tokens(col("text")), 1, 5))).as("prefix_hash"))
    },

    // Gopher-style repetition signals: duplicate word-n-gram fraction
    // (share of n-gram occurrences that repeat an earlier one) and
    // top-n-gram fraction (share taken by the single most frequent
    // n-gram), for n = 2 and 3. All four ratios come from
    // size/array_distinct/max-multiplicity over the shingle arrays —
    // linear per document (the max multiplicity is one sorted
    // run-length pass, not a per-distinct refilter), zero shuffle.
    // Docs shorter than n tokens have no n-grams: ratio pinned to 0
    // on both engines rather than dividing by zero.
    QueryDef.sql(
      "q_text_repetition", {
        def g(n: Int): String = {
          val terms = (1 to n).map(k => s"toks[i+$k]").mkString(" || ' ' || ")
          s"CASE WHEN len(toks) >= $n THEN list_transform(range(len(toks) - ${n - 1}), i -> $terms) ELSE [] END"
        }
        def ratios(n: Int): String =
          s"""round(CASE WHEN len(g$n) = 0 THEN 0.0
             |            ELSE CAST(len(g$n) - len(list_distinct(g$n)) AS DOUBLE) / len(g$n) END, 6) AS dup_${n}gram_frac,
             |       round(CASE WHEN len(g$n) = 0 THEN 0.0
             |            ELSE CAST(list_max(list_transform(list_distinct(g$n), u ->
             |                   len(list_filter(g$n, x -> x = u)))) AS DOUBLE) / len(g$n) END, 6) AS top_${n}gram_frac""".stripMargin
        s"""SELECT doc_id,
           |       ${ratios(2)},
           |       ${ratios(3)}
           |FROM (SELECT doc_id, ${g(2)} AS g2, ${g(3)} AS g3
           |      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))""".stripMargin
      }) {
      (s, dir) =>
        // one sort + ONE run-length aggregate per n yields both the
        // distinct count and the max multiplicity; sizes and stats are
        // projected to attributes first so the ratio arithmetic below
        // references cheap columns, not re-derived array expressions
        val staged = DedupOps.spread(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            shingles(tokens(col("text")), 2).as("g2"),
            shingles(tokens(col("text")), 3).as("g3"))
          .select(col("doc_id"),
            size(col("g2")).as("sz2"),
            sortedRunStats(array_sort(col("g2"))).as("st2"),
            size(col("g3")).as("sz3"),
            sortedRunStats(array_sort(col("g3"))).as("st3"))
        def ratios(n: Int): Seq[Column] = {
          val (sz, st) = (col(s"sz$n"), col(s"st$n"))
          Seq(
            round(when(sz === 0, 0.0)
              .otherwise((sz - st.getField("n_distinct"))
                .cast("double") / sz), 6).as(s"dup_${n}gram_frac"),
            round(when(sz === 0, 0.0)
              .otherwise(st.getField("max_run").cast("double") / sz), 6)
              .as(s"top_${n}gram_frac"))
        }
        staged.select(col("doc_id") +: (ratios(2) ++ ratios(3)): _*)
    },

    // Corpus vocabulary: top tokens by global frequency with a dense
    // rank — the seed statistic for tokenizer/vocab training. The
    // classic word-count shape: explode + partial (map-side) agg +
    // one shuffle on token; the final rank/limit runs over only the
    // top slice (TakeOrderedAndProject, never a global sort of the
    // vocabulary). Ties are broken by token text so the rank is
    // deterministic on both engines.
    QueryDef.sql(
      "q_text_vocab",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1)
        |SELECT token, freq,
        |       CAST(row_number() OVER (ORDER BY freq DESC, token) AS INTEGER) AS rank
        |FROM c ORDER BY freq DESC, token LIMIT 100""".stripMargin) {
      (s, dir) =>
        val top = Tables(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("token"))
          .limit(100)
        // the global window runs over <= 100 rows post-limit — a
        // constant-size single partition, not a corpus-wide sort
        top.withColumn("rank",
          row_number().over(
            BoundedWindow.orderBy(col("freq").desc, col("token"))))
    },

    // BPE merge statistics: the adjacent-symbol-pair counts that
    // drive byte-pair-encoding tokenizer training (Sennrich et al.
    // ACL'16) — each word's char-level pairs weighted by the word's
    // corpus frequency, top pairs ranked. One BPE training iteration
    // = pick the top pair, merge, recount; THIS query is the
    // recount, the step that touches corpus-scale data (the merge
    // itself edits a vocab-sized symbol table on the driver).
    // Scale: the word-count shuffle is q_text_vocab's (map-side
    // combined); pair expansion then runs over the DISTINCT-WORD
    // table (vocabulary-sized, not corpus-sized — the trick that
    // makes BPE training feasible at 100 TB), and the pair table is
    // alphabet²-bounded before its top-slice cut.
    QueryDef.sql(
      "q_bpe_pairs",
      s"""WITH wds AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wcnt FROM wds
         |       WHERE len(w) >= 2 GROUP BY w),
         |p AS (SELECT substr(w, CAST(i + 1 AS INTEGER), 2) AS pair, wcnt
         |      FROM wc, unnest(range(len(w) - 1)) AS u(i)),
         |agg AS (SELECT pair, CAST(sum(wcnt) AS BIGINT) AS pair_count
         |        FROM p GROUP BY pair)
         |SELECT pair, pair_count,
         |       CAST(row_number() OVER (ORDER BY pair_count DESC, pair)
         |            AS INTEGER) AS rank
         |FROM agg ORDER BY pair_count DESC, pair LIMIT $BpeTopPairs""".stripMargin) {
      (s, dir) => bpePairs(Tables(s, dir, "documents"))
    },

    // BPE merge TRAINING, the full iterative loop (Sennrich et al.
    // ACL'16 learn_bpe): start from character symbol sequences over
    // the distinct-word table, then N rounds of count adjacent symbol
    // pairs (weighted by word frequency) → pick the max (count desc,
    // pair asc tie-break) → merge every left-to-right occurrence.
    // Output is the merge table itself — the tokenizer artifact a
    // training pipeline ships. q_bpe_pairs is this loop's recount
    // step in isolation; here merged symbols re-enter the statistics
    // so later rounds pick multi-char merges.
    //
    // Scale: the loop never touches the corpus after the one word
    // count — every round is a vocab-sized pair aggregate (map-side
    // combined, alphabet²+merges-bounded output), a LIMIT 1, and a
    // map-side string rewrite; the driver holds only the N merge
    // rows. At real merge counts (30k) a production run batches
    // non-conflicting merges per round or moves the vocab table
    // driver-side when it fits — the distributed shape is the same.
    // The oracle unrolls all N rounds as chained CTEs (the pqTrain
    // pattern), re-deriving each round's best pair with scalar
    // subqueries — bit-identical tie-breaks, merges and counts.
    QueryDef.sql("q_bpe_train", bpeTrainSql(BpeTrainRounds)) {
      (s, dir) => bpeTrain(Tables(s, dir, "documents"), BpeTrainRounds)
    },

    // BPE ENCODE — apply the trained tokenizer to the whole corpus:
    // per document, word count and total BPE token count under the
    // learned merge table. Training touches the vocab; ENCODING
    // touches all 100 TB, so its shape is the one that matters at
    // scale: a map-side explode joined against the broadcast
    // vocabulary state (Heaps-law sublinear), no corpus shuffle on
    // the skew-heavy word key. Oracle = the same unrolled merge
    // chain, then a LEFT join of every document word against the
    // final symbol state.
    QueryDef.sql("q_bpe_encode", bpeEncodeSql(BpeTrainRounds)) {
      (s, dir) => bpeEncode(Tables(s, dir, "documents"), BpeTrainRounds)
    },

    // Corpus-informed rarity scoring: each document's tokens scored
    // by their GLOBAL corpus frequency (mean + rarest) — the exact-
    // arithmetic cousin of CCNet-style LM quality filtering: word
    // salad full of common tokens scores high, rare-token documents
    // low. Two shuffles on token (frequency aggregate + probe join,
    // same key so the exchange is reusable) and one on doc_id; the
    // mean is an exact long sum divided once, so both engines emit
    // bit-identical doubles.
    QueryDef.sql(
      "q_text_rarity",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |f AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       round(CAST(sum(freq) AS DOUBLE) / count(*), 6) AS mean_token_freq,
        |       min(freq) AS min_token_freq
        |FROM tok JOIN f USING (token) GROUP BY doc_id""".stripMargin) {
      (s, dir) =>
        // checkpointed once: the frequency aggregate and the probe side
        // would otherwise each re-read and re-explode the corpus
        val tok = DedupOps.spread(Tables(s, dir, "documents"))
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .pinned
        val freq = tok.groupBy(col("token")).agg(count(lit(1)).as("freq"))
        tok.join(freq, "token")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            round(sum(col("freq")).cast("double") / count(lit(1)), 6)
              .as("mean_token_freq"),
            min(col("freq")).as("min_token_freq"))
    },

    // Corpus-trained bigram LM surprisal (CCNet-style perplexity
    // filtering, with the external KenLM replaced by an in-corpus
    // add-one-smoothed bigram model): each document scored by the
    // mean negative log P(w2 | w1) of its bigram positions, where
    // P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V). Formulaic word salad
    // scores low (predictable), rare-construction documents high.
    // Shape: the model "training" is one groupBy per n-gram order
    // over the exploded corpus, scoring is two keyed joins (bigram +
    // history token) and a doc_id aggregate — no driver-side model,
    // no broadcast of the (vocabulary²-sized, potentially huge at
    // 100 TB) bigram table; only the 1-row vocab size broadcasts.
    // Parity: ln() differs by ≤1 ulp between engines, and Spark's
    // avg() also reassociates the per-doc sum across partitions while
    // DuckDB sums in row order — but per-doc bigram groups are tiny
    // (≤ a few hundred terms of magnitude ~1e1), so the reassociation
    // error is ~1e-13, orders of magnitude under the 5e-7 granularity
    // the round(…, 6) quantizes to; both effects are absorbed (see
    // q_text_tfidf for the same argument).
    QueryDef.sql(
      "q_text_perplexity",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
        |         i -> t[i+1] || ' ' || t[i+2])) AS bg FROM toks),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
        |       FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |vc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uc),
        |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY bg)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(avg(-ln(CAST(cb + 1 AS DOUBLE) / (cu + v))), 6) AS mean_nll
        |FROM bg JOIN bc USING (bg)
        |JOIN uc ON uc.w = string_split(bg, ' ')[1]
        |CROSS JOIN vc
        |GROUP BY doc_id""".stripMargin) {
      (s, dir) => bigramSurprisal(DedupOps.spread(Tables(s, dir, "documents")))
    },

    // BM25 lexical retrieval: top-k documents for a fixed
    // bag-of-words query. One broadcast stats row + map-side
    // term-frequency scoring + TakeOrderedAndProject — zero shuffle
    // of the corpus. Oracle is generated from the same constants
    // (bm25OracleSql) so formula and SQL cannot drift.
    QueryDef.sql("q_sim_bm25", bm25OracleSql) {
      (s, dir) => bm25TopK(DedupOps.spread(Tables(s, dir, "documents")))
    }
  )

  /** Winnowing geometry (Schleimer et al. SIGMOD'03): char
    * [[WinnowK]]-grams, windows of [[WinnowW]] hashes, guarantee
    * threshold t = k+w-1 = 8 shared chars. Packing (hash, pos) as
    * (h << 32) | (2^32-1-pos) makes plain min pick
    * min-hash-rightmost-pos; decode is a bit shift — pure integer
    * semantics on both engines. The 24-bit hash (6 hex chars) plus
    * 32 position bits occupies bits 0..55 of the BIGINT, so the
    * packing cannot overflow for any document under 2^32 grams —
    * past every engine's single-value size limit, so no runtime
    * guard is needed (a 20-bit field would have gone NEGATIVE at a
    * mere 1M grams, silently corrupting the min ordering). */
  // final val literals: `all` interpolates them during object init,
  // where a plain val would still be 0 (the FreqK lesson)
  final val WinnowK = 5
  final val WinnowW = 4
  final val WinnowPosBits = 32
  final val WinnowPosMax = 4294967295L // (1L << WinnowPosBits) - 1
  // winnow dedup-candidate thresholds: df cap 50 drops the
  // hub fingerprints this corpus's tiny vocabulary mass-produces,
  // min 20 shared keeps exactly the long-shared-span pairs (measured:
  // genuine near-dups share 40-64 survivors, noise shares 1-2)
  final val WinnowPairCap = 50
  final val WinnowPairMin = 20

  /** The winnow selection as CTEs ending in
    * `s(doc_id, n_grams, n_windows, sel)` — ONE SQL body shared by
    * the q_text_winnow oracle and the q_dedup_winnow candidate
    * oracle, so the fingerprint definition cannot fork. */
  def winnowSelCtes: String =
    s"""e AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(1, length(text) - ${WinnowK - 1}),
       |           i -> (CAST('0x' || substr(md5(substr(text, i, $WinnowK)), 1, 6)
       |                      AS BIGINT) << $WinnowPosBits) + ($WinnowPosMax - i)) AS encs
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, CAST(len(encs) AS INTEGER) AS n_grams,
       |         CAST(greatest(len(encs) - ${WinnowW - 1}, 0) AS INTEGER)
       |           AS n_windows,
       |         list_distinct(list_transform(
       |           generate_series(1, len(encs) - ${WinnowW - 1}),
       |           p -> list_min(list_slice(encs, p, p + ${WinnowW - 1}))))
       |           AS sel
       |  FROM e)""".stripMargin

  /** The winnow candidate pairs as CTEs ending in
    * `wpairs(a, b, n_shared)` — shared by the q_dedup_winnow oracle
    * and the generator-ensemble oracle. CTE names are w-prefixed to
    * compose with the minhash/simhash CTEs in one WITH. */
  def winnowPairCtes: String =
    s"""$winnowSelCtes,
       |wf AS (SELECT DISTINCT doc_id,
       |              unnest(list_transform(sel,
       |                x -> x >> $WinnowPosBits)) AS fp
       |       FROM s),
       |wd AS (SELECT fp FROM wf GROUP BY fp
       |       HAVING count(*) BETWEEN 2 AND $WinnowPairCap),
       |wp AS (SELECT x.doc_id AS a, y.doc_id AS b
       |       FROM wf x JOIN wd USING (fp) JOIN wf y USING (fp)
       |       WHERE x.doc_id < y.doc_id),
       |wpairs AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_shared
       |           FROM wp GROUP BY 1, 2
       |           HAVING count(*) >= $WinnowPairMin)""".stripMargin

  /** The q_text_winnow body over a (doc_id, text) frame — named so
    * the planted-shared-substring spec drives the same expressions. */
  def winnowFingerprints(docs: DataFrame): DataFrame =
    // spread() before the winnow pass (r21, measured): an md5 per
    // character 5-gram is the heaviest per-row map work in the text
    // family, and a one-file corpus pins it to the scan's 2–3 splits
    // — q_text_winnow 0.48→0.27 s spread. Applied HERE, not inside
    // winnowSel: the pair-generator path (winnowPairs) pins and
    // self-joins the exploded selection, and spreading ITS input
    // measured as a net loss (q_dedup_winnow 1.04→1.25–1.32 — the
    // 32-partition pin + fp join overhead exceeds the HOF win there).
    winnowSel(DedupOps.spread(docs))
      .select(col("doc_id"), col("n_grams"), col("n_windows"),
        size(col("sel")).as("n_fp"),
        aggregate(col("sel"), lit(0L),
          (a, x) => a + shiftright(x, WinnowPosBits)).as("fp_sum"))

  /** The winnow selection of a text column — the NATIVE
    * [[graft.functions.WinnowSelect]] expression: one fused pass
    * (char offsets → one reused md5 per gram → window minima →
    * first-occurrence distinct) instead of the four-deep interpreted
    * HOF composition it replaces. The spec pins it value-equal to
    * that HOF composition (kept inline there as the independent
    * reference) and the DuckDB oracle CTEs remain the cross-engine
    * formulation. The coalesce pins the HOF formulation's NULL-text
    * behavior exactly: its when(...).otherwise(empty) fell through to
    * an empty array on a null predicate, where the null-propagating
    * native expression alone would return null — without it the
    * "drop-in for the HOF column anywhere" claim would be false on
    * null-text rows. */
  def winnowSelCol(s: org.apache.spark.sql.SparkSession,
      text: Column): Column =
    coalesce(
      graft.functions.WinnowSelect(s, text, WinnowK, WinnowW, WinnowPosBits),
      array().cast("array<bigint>"))

  /** The winnow selection per document — (doc_id, n_grams,
    * n_windows, sel) with sel the distinct encoded picks; ONE body
    * shared by the stats gate and the dedup candidate generator.
    * n_grams/n_windows are pure length arithmetic (clamped at 0 for
    * texts shorter than a gram/window, matching the expression's
    * empty-array guards). NULL-text parity, pinned empirically
    * against DuckDB: n_grams null-propagates (the oracle's len(encs)
    * is NULL there, while Spark's bare greatest() would SKIP the
    * null operand and emit 0); n_windows stays the bare greatest —
    * BOTH engines' greatest ignores nulls, so both emit 0. The same
    * divergence class winnowSelCol's coalesce closes for `sel`. */
  def winnowSel(docs: DataFrame): DataFrame = {
    val nGrams = greatest(length(col("text")) - (WinnowK - 1), lit(0))
    docs.select(col("doc_id"),
      when(col("text").isNotNull, nGrams).cast("int").as("n_grams"),
      greatest(nGrams - (WinnowW - 1), lit(0)).cast("int").as("n_windows"),
      winnowSelCol(docs.sparkSession, col("text")).as("sel"))
  }

  /** Winnowing fingerprint dedup-candidate generation (the MOSS use
    * of the fingerprints): documents sharing ≥ [[WinnowPairMin]]
    * fingerprint HASHES after dropping hub fingerprints (document
    * frequency > [[WinnowPairCap]] — this corpus's 30-word vocabulary
    * makes common 5-grams near-universal, the stop-shingle problem).
    * Same scale shape as the shingle/band indexes: one explode to
    * (doc, fp), a df-capped inverted index, one equi-join on fp —
    * pair volume Σ df² over surviving fingerprints, never n². */
  def winnowPairs(docs: DataFrame): DataFrame =
    // pinned: the winnow HOF subtree (an md5 per gram) is referenced
    // by the df filter AND both sides of the pair self-join — without
    // the pin it re-evaluates up to 4x (measured 10.8 s -> ~4 s at
    // sf0.1)
    winnowPairsFromFp(winnowSel(docs)
      .select(col("doc_id"),
        explode(array_distinct(transform(col("sel"),
          x => shiftright(x, WinnowPosBits)))).as("fp"))
      .pinned)

  /** The df-capped inverted-index pair join over an already-pinned
    * (doc_id, fp) frame — factored so the generator-ensemble's
    * shared fingerprint pass can feed it without re-winnowing. */
  def winnowPairsFromFp(fp: DataFrame): DataFrame = {
    val keep = fp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= WinnowPairCap)
      .select(col("fp"))
    val indexed = fp.join(keep, "fp")
    indexed.as("x").join(indexed.as("y"),
      col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowPairMin)
  }

  /** The classifier margin as CTEs ending in `clfm(doc_id,
    * margin_e6)` — the exact feature expressions and left-associated
    * weight chain of the q_quality_clf oracle with the same
    * floor(·1e6) integerization, shared by the percentile-prune
    * oracle so the margin arithmetic cannot fork. */
  def clfMarginCte: String =
    s"""clff AS (
       |  SELECT doc_id,
       |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
       |         CAST(len(list_filter(toks, t -> list_contains(${sqlList(Stopwords)}, t))) AS DOUBLE)
       |           / len(toks) AS stop_ratio,
       |         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
       |           / len(toks) AS atl
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
       |clfm AS (
       |  SELECT doc_id,
       |         CAST(floor(($ClfTtrW * ttr + $ClfStopW * stop_ratio
       |                      + $ClfAtlW * atl + $ClfBias) * 1000000.0)
       |              AS BIGINT) AS margin_e6
       |  FROM clff)""".stripMargin

  /** DuckDB replica of [[qualityClassifier]]'s keep decision as a
    * `clf` CTE (doc_id, kept) — the margin chain is written in the
    * SAME left-associated IEEE order as the Spark expressions, so
    * the decision is bit-identical (see q_quality_clf's notes).
    * Shared by the classifier gate's composition consumers (the
    * ingest decision pipeline) so the exported-model arithmetic
    * cannot fork. */
  def clfKeptCte: String =
    s"""clf AS (
       |  SELECT doc_id,
       |         $ClfTtrW * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
       |       + $ClfStopW * (CAST(len(list_filter(toks, t -> list_contains(${sqlList(Stopwords)}, t))) AS DOUBLE) / len(toks))
       |       + $ClfAtlW * (CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks))
       |       + $ClfBias > 0 AS kept
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))""".stripMargin

  /** The q_quality_clf body, named so the gate registration and the
    * hand-computed-margin spec drive the same production expressions:
    * (doc_id, margin_e6, kept) per input (doc_id, text) row. */
  def qualityClassifier(docs: DataFrame): DataFrame =
    qualityClassifierCarrying(docs)

  /** [[qualityClassifier]] with pass-through columns: margins are
    * per-row MAP-SIDE expressions, so a consumer that needs (margin,
    * source) — the per-source prune cuts — must NOT reconstruct the
    * pairing with a docs⋈classifier self-join on doc_id (a
    * corpus-wide row shuffle that re-scans the text); it carries the
    * columns through the one projection instead. */
  def qualityClassifierCarrying(docs: DataFrame,
      carry: String*): DataFrame = {
    val carried = carry.map(col)
    val f = docs
      .select(col("doc_id") +: carried :+ tokens(col("text")).as("toks"): _*)
      .select(col("doc_id") +: carried :+
        (size(array_distinct(col("toks"))).cast("double")
          / size(col("toks")) as "ttr") :+
        (hits(col("toks"), Stopwords).cast("double")
          / size(col("toks")) as "stop_ratio") :+
        (aggregate(transform(col("toks"), t => length(t)),
          lit(0), (acc, x) => acc + x).cast("double")
          / size(col("toks")) as "atl"): _*)
    val margin = lit(ClfTtrW) * col("ttr") + lit(ClfStopW) * col("stop_ratio") +
      lit(ClfAtlW) * col("atl") + lit(ClfBias)
    f.select(col("doc_id") +: carried :+
      floor(margin * 1000000.0).as("margin_e6") :+
      ((margin > 0).as("kept")): _*)
  }

  /** Two-phase APPROXIMATE per-source quality prune — the 100 TB
    * alternative to q_quality_prune's exact per-source rank cut
    * (SCALE.md's documented dial, now a real code path). The exact
    * cut ranks every document inside its source with a window, which
    * funnels each source through ONE reducer — right at gate scale,
    * wrong at 100 TB where a single source can be most of the
    * corpus. Here:
    *
    *  - phase 1 reduces the corpus to one approximate median margin
    *    per source: `percentile_approx` is a map-side-combinable
    *    sketch aggregate, so the only exchange is sources ×
    *    sketch-partials — no row-level shuffle at all;
    *  - phase 2 keeps rows by a margin >= threshold comparison
    *    against the BROADCAST per-source thresholds — a map-side
    *    filter, no rank, no per-source funnel.
    *
    * The keep set differs from the exact top-half cut only for rows
    * whose margin lies within the sketch's rank error of the
    * threshold — including boundary TIES, which the exact cut breaks
    * by doc_id while a pure threshold keeps wholesale. The spec pins
    * exactly that contract: every disagreement's margin falls inside
    * the closed band between the approximate threshold and the exact
    * cut's boundary margin. `accuracy` is percentile_approx's
    * inverse-rank-error knob (error ≈ 1/accuracy · n per source). */
  def qualityPruneApprox(docs: DataFrame, accuracy: Int = 10000): DataFrame = {
    // (doc_id, source, margin) in ONE map-side projection — NOT a
    // docs⋈classifier join on doc_id, which would shuffle the whole
    // corpus row-level just to reconstruct a pairing the scan already
    // had — and PINNED, because both phases below consume it: unpinned,
    // phase 1's sketch AND phase 2's filter each re-ran the classifier
    // features (tokenize + distinct + stopword hits + length fold)
    // from raw text, and that double feature pass made the "100 TB
    // path" measurably SLOWER than the exact rank cut it replaces
    // (30× corpus: 7.1 s vs 3.4 s; pinned: see SCALE.md r16). The
    // pinned frame is three thin columns (~26 B/row vs the corpus's
    // kilobyte texts), spill-safe under clusterSafe's MEMORY_AND_DISK
    // — the standard two-phase shape: materialize the statistic
    // input once, sketch it, filter it.
    import graft.operators.Materialize.PinOps
    val margins = qualityClassifierCarrying(docs, "source")
      .select(col("doc_id"), col("source"), col("margin_e6"))
      .pinned
    val thresholds = margins.groupBy(col("source"))
      .agg(percentile_approx(col("margin_e6"), lit(0.5), lit(accuracy))
        .as("thr_e6"))
      .withColumnRenamed("source", "thr_source")
    // null-safe join key: the exact cut's PARTITION BY keeps
    // null-source rows as their own group, and groupBy above emits a
    // null-source threshold row — a plain equi-join would silently
    // DROP every null-source document instead of deciding it
    margins.join(broadcast(thresholds),
        col("source") <=> col("thr_source"))
      .select(col("doc_id"), col("source"), col("margin_e6"), col("thr_e6"),
        (col("margin_e6") >= col("thr_e6")).as("kept_top_half"))
  }

  /** The q_text_perplexity body, named so the gate registration and
    * the seeded-ordering spec drive the SAME production expressions:
    * (doc_id, n_bigrams, mean_nll) per input (doc_id, text) row,
    * where mean_nll is the rounded mean −ln P(w2|w1) under the
    * in-corpus add-one-smoothed bigram model. */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    // checkpointed once: the bigram-count aggregate and the probe
    // side would otherwise each re-explode the corpus
    val base = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val bg = base
      .select(col("doc_id"), explode(shingles(col("t"), 2)).as("bg"))
      .pinned
    val uc = base.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
      .pinned // vocab-size agg + history-probe join
    val vc = uc.agg(count(lit(1)).as("v"))
    val bc = bg.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    bg.join(bc, "bg")
      .withColumn("w", split(col("bg"), " ").getItem(0))
      .join(uc, "w")
      .crossJoin(broadcast(vc))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log((col("cb") + 1).cast("double")
          / (col("cu") + col("v")))), 6).as("mean_nll"))
  }

  /** BM25 top-k retrieval over a fixed bag-of-words query — the
    * lexical-retrieval side of RAG and retrieval-based data
    * selection (Robertson's BM25 in Lucene's always-positive idf
    * form: idf = ln(1 + (N − df + 0.5)/(df + 0.5))).
    *
    * Scale design: corpus statistics (N, Σdl, one df per query term)
    * are ONE aggregate row broadcast to every task; per-document
    * term frequencies come from `filter()` over the doc's own token
    * array — map-side, no inverted index, no shuffle of text; the
    * top-k cut is orderBy+limit → TakeOrderedAndProject (per-
    * partition heap + k-row driver merge, never a global sort).
    * Every arithmetic step mirrors the oracle SQL's association
    * order, so the IEEE doubles agree bit-for-bit before rounding;
    * the k-boundary is cut on the ROUNDED score with doc_id
    * tie-break, identically on both engines.
    */
  def bm25TopK(docs: DataFrame, query: Seq[String] = Bm25Query,
      k: Int = Bm25TopK): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    val dfCols = query.zipWithIndex.map { case (q, i) =>
      sum(when(array_contains(col("t"), q), 1L).otherwise(0L)).as(s"df$i")
    }
    val stats = base.agg(count(lit(1)).as("n"),
      sum(size(col("t")).cast("long")).as("sum_dl") +: dfCols: _*)
    val dl = size(col("t")).cast("long")
    val avgdl = col("sum_dl").cast("double") / col("n").cast("double")
    def termScore(tf: Column, dfc: Column): Column = {
      val idf = log(lit(1.0) +
        (col("n").cast("double") - dfc.cast("double") + lit(0.5))
          / (dfc.cast("double") + lit(0.5)))
      idf * (tf.cast("double") * lit(Bm25K1Plus1)) /
        (tf.cast("double") + lit(Bm25K1) *
          (lit(Bm25OneMinusB) + lit(Bm25B) * (dl.cast("double") / avgdl)))
    }
    def tf(q: String): Column = size(filter(col("t"), x => x === q)).cast("long")
    val total = query.zipWithIndex
      .map { case (q, i) => termScore(tf(q), col(s"df$i")) }
      .reduceLeft(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id") +: query.map(q => tf(q).as(s"tf_$q"))
        :+ round(total, 6).as("bm25"): _*)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** The q_sim_bm25 oracle, generated from the same constants and
    * query terms as [[bm25TopK]] so the two can't drift. */
  def bm25OracleSql: String = {
    val (ctes, tfAliases, scores) = bm25SqlPieces
    s"""$ctes
       |SELECT doc_id, $tfAliases,
       |       round($scores, 6) AS bm25
       |FROM sc ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""".stripMargin
  }

  /** (CTE preamble `t, st, sc`, tf-alias list, score expression) —
    * the BM25 SQL pieces shared by the gate oracle and the RRF
    * hybrid-fusion oracle so the scoring SQL cannot fork. */
  private def bm25SqlPieces: (String, String, String) = {
    val dfs = Bm25Query.zipWithIndex.map { case (q, i) =>
      s"CAST(count(*) FILTER (WHERE list_contains(t, '$q')) AS BIGINT) AS df$i"
    }.mkString(",\n              ")
    val tfs = Bm25Query.zipWithIndex.map { case (q, i) =>
      s"CAST(len(list_filter(t, x -> x = '$q')) AS BIGINT) AS tf$i"
    }.mkString(",\n              ")
    val dfNames = Bm25Query.indices.map(i => s"df$i").mkString(", ")
    val scores = Bm25Query.indices.map { i =>
      s"(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))" +
        s" * (CAST(tf$i AS DOUBLE) * $Bm25K1Plus1)" +
        s" / (CAST(tf$i AS DOUBLE) + $Bm25K1 * ($Bm25OneMinusB + $Bm25B *" +
        s" (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE))))))"
    }.mkString("\n  + ")
    val tfAliases = Bm25Query.zipWithIndex
      .map { case (q, i) => s"tf$i AS tf_$q" }.mkString(", ")
    val ctes =
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |              CAST(sum(len(t)) AS BIGINT) AS sum_dl,
         |              $dfs
         |       FROM t),
         |sc AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
         |              $tfs,
         |              n, sum_dl, $dfNames
         |       FROM t CROSS JOIN st)""".stripMargin
    (ctes, tfAliases, scores)
  }

  /** The BM25 ranked list as CTEs ending in `lex(doc_id, bm25, lrnk)`
    * with lrnk ≤ [[Bm25TopK]] — the lexical half of the RRF oracle;
    * rank on the ROUNDED score with doc_id tie-break, exactly as
    * [[bm25TopK]] orders its limit. */
  def bm25LexCtes: String = {
    val (ctes, _, scores) = bm25SqlPieces
    s"""$ctes,
       |lexall AS (SELECT doc_id, round($scores, 6) AS bm25 FROM sc),
       |lex AS (SELECT doc_id, bm25, lrnk FROM (
       |          SELECT doc_id, bm25,
       |                 CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
       |                      AS INTEGER) AS lrnk
       |          FROM lexall)
       |        WHERE lrnk <= $Bm25TopK)""".stripMargin
  }

  /** The q_bpe_pairs body, named so the gate registration and the
    * planted-golden spec drive the SAME production expressions (the
    * q_mix_sources convention): word counts → frequency-weighted
    * char-pair counts over the distinct-word table → top slice. */
  def bpePairs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val top = bpePairCounts(docs)
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(BpeTopPairs)
    // constant-size single partition post-limit, as in q_text_vocab
    top.withColumn("rank",
      row_number().over(
        BoundedWindow.orderBy(col("pair_count").desc, col("pair"))))
  }

  /** The un-cut (pair, pair_count) table of [[bpePairs]] — the part
    * the planted-fixture spec pins value-for-value. */
  def bpePairCounts(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
      .select(col("wcnt"), explode(expr(
        "transform(sequence(0, length(w) - 2), i -> substring(w, i + 1, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wcnt")).as("pair_count"))

  /** The shared BPE merge loop: `rounds` iterations over the
    * distinct-word table, returning the learned merge list AND the
    * final per-word symbol state `(w, syms, wcnt)` — still pinned;
    * the caller owns the unpin (train discards it, encode derives
    * from it). Words are space-joined symbol strings; the merge
    * rewrite is an EXACT Sennrich left-to-right greedy fold over the
    * symbol array ('a a a' + (a,a) → 'aa a', 'a b a b' + (a,b) →
    * 'ab ab'), identical in both engines and spec-pinned on planted
    * adjacency runs. Training stops early when no pairs remain, like
    * learn_bpe. Word state is pinnedIter per round (loop-carried
    * lineage must stay flat). */
  private def bpeLoop(docs: org.apache.spark.sql.DataFrame, rounds: Int)
      : (Seq[(Int, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    var words = docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
      .select(col("w"),
        concat_ws(" ",
          transform(sequence(lit(0), length(col("w")) - 1),
            i => col("w").substr(i + 1, lit(1)))).as("syms"),
        col("wcnt"))
      .pinnedIter
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val sy = split(col("syms"), " ")
      // fully-merged single-symbol words carry no pairs; the filter
      // also keeps `sequence` off its backwards-count trap
      val bestOpt = words
        .filter(size(sy) >= 2)
        .select(col("wcnt"),
          explode(transform(sequence(lit(0), size(sy) - 2),
            i => struct(element_at(sy, i + 1).as("a"),
              element_at(sy, i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wcnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("a"), col("b"))
        .limit(1).collect().headOption
      bestOpt match {
        case None =>
          // no symbol pairs remain (every trainable word fully
          // merged): stop with fewer merges, like learn_bpe — the
          // oracle chain agrees structurally (an empty bK CTE emits
          // no merge row and its NULL-pattern fold rewrites nothing)
          return (merges.result(), words)
        case Some(best) =>
          val (a, b, cnt) =
            (best.getString(0), best.getString(1), best.getLong(2))
          merges += ((r, a, b, cnt))
          // exact Sennrich left-to-right greedy merge over the symbol
          // string: b glues onto the accumulator exactly when its
          // trailing token is a. The r17 delimited string replace
          // silently SKIPPED an occurrence sharing its leading
          // delimiter with the previous match ('a b a b' merged to
          // 'ab a b', and a self-pair run of 6 lost a merge entirely)
          // — the r18 fix ran an `aggregate` HOF fold, exact but
          // interpreted and O(m²) in accumulator copies; round 19
          // moves the SAME greedy pass into the native codegen'd
          // BpeMergeStep (one linear StringBuilder walk per word per
          // round — quiet-box A/B: ≡ the fold at gate scale, the win
          // is the interpreted-HOF removal on a corpus-scale vocab;
          // the r18 2.16 s reading was ambient, see SCALE.md r19).
          // The DuckDB oracle keeps the equivalent list_reduce fold —
          // cross-engine agreement is the exactness proof, and
          // BpeMergeStepSpec pins native ≡ fold on planted adjacency
          // runs, randomized strings, and the DataFrame codegen path.
          val stepped = words.select(col("w"),
            graft.functions.BpeMergeStep(words.sparkSession,
              col("syms"), lit(a), lit(b)).as("syms"),
            col("wcnt")).pinnedIter
          Materialize.unpin(words)
          words = stepped
      }
    }
    (merges.result(), words)
  }

  /** The q_bpe_train body: the merge table itself, one
    * (merge_round, sym_a, sym_b, pair_count) row per learned merge —
    * the tokenizer artifact a training pipeline ships. */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, rounds: Int)
      : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, words) = bpeLoop(docs, rounds)
    Materialize.unpin(words)
    merges.toDF("merge_round", "sym_a", "sym_b", "pair_count")
  }

  /** The q_bpe_encode body: APPLY the trained tokenizer — run the
    * merge loop, then tokenize every document with the final
    * word→symbols state: per document, the word count and the total
    * BPE token count (words below the 2-char training floor encode
    * as one token each). This is the half of the tokenizer story a
    * data pipeline actually runs at scale (the merge table is learned
    * once; the ENCODE touches all 100 TB), and its shape is one
    * corpus-sized map-side explode joined against the
    * VOCABULARY-sized symbol state.
    *
    * The vocab side is broadcast: distinct word types grow
    * sublinearly in corpus size (Heaps' law), and the alternative —
    * shuffling the exploded corpus on the word key — puts "the" and
    * every other stopword on one reducer; broadcasting the vocabulary
    * is both the smaller exchange and the skew-proof one. The final
    * word state stays pinned (the result derives from it — the
    * Materialize unpin contract). */
  def bpeEncode(docs: org.apache.spark.sql.DataFrame, rounds: Int)
      : org.apache.spark.sql.DataFrame = {
    val (_, words) = bpeLoop(docs, rounds)
    val vocab = words.select(col("w"),
      size(split(col("syms"), " ")).as("ntok"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(broadcast(vocab), Seq("w"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("ntok"), lit(1)).cast("long")).as("n_tokens"))
  }

  /** Oracle for q_bpe_train: all `rounds` merge iterations unrolled
    * as chained CTEs (the pqTrain pattern). Each round re-derives
    * pair counts from the previous word state, elects the best pair
    * with the same (count DESC, a, b) order, and applies the same
    * greedy symbol fold — tie-breaks, merge rewrites and counts are
    * bit-identical across engines by construction. Every w/b CTE is
    * MATERIALIZED: each is referenced more than once (wK feeds both
    * p(K+1) and w(K+1); bK feeds wK's three scalar subqueries and the
    * final row), so the default inline-on-reference would re-derive
    * the whole word pipeline per reference — exponential in rounds. */
  def bpeTrainSql(rounds: Int): String = {
    val rows = (1 to rounds).map(k =>
      s"SELECT CAST($k AS INTEGER) AS merge_round, a AS sym_a, b AS sym_b, pair_count FROM b$k")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeChainSql(rounds)}
       |$rows""".stripMargin
  }

  /** The shared w0 → (p1,b1,w1) → … → (pN,bN,wN) CTE chain both BPE
    * oracles build on: wK is the word symbol state after merge K
    * (carrying the original word `w` so the encode oracle can join on
    * it), bK the round's elected merge. */
  private def bpeChainSql(rounds: Int): String = {
    val blocks = (1 to rounds).map { k =>
      s"""p$k AS (
         |  SELECT sy[CAST(i + 1 AS INTEGER)] AS a,
         |         sy[CAST(i + 2 AS INTEGER)] AS b, wcnt
         |  FROM (SELECT string_split(syms, ' ') AS sy, wcnt FROM w${k - 1}),
         |       unnest(range(len(sy) - 1)) AS u(i)),
         |b$k AS MATERIALIZED (
         |  SELECT a, b, CAST(sum(wcnt) AS BIGINT) AS pair_count
         |  FROM p$k GROUP BY a, b
         |  ORDER BY pair_count DESC, a, b LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT w, list_reduce(string_split(syms, ' '),
         |           (acc, t) -> CASE WHEN t = mb.b AND (acc = mb.a
         |                             OR ends_with(acc, ' ' || mb.a))
         |                       THEN acc || mb.b
         |                       ELSE acc || ' ' || t END) AS syms,
         |         wcnt
         |  FROM w${k - 1} LEFT JOIN b$k mb ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT w, array_to_string(list_transform(range(length(w)),
       |           i -> substr(w, CAST(i + 1 AS INTEGER), 1)), ' ') AS syms,
       |         wcnt
       |  FROM (SELECT w, CAST(count(*) AS BIGINT) AS wcnt
       |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |        WHERE len(w) >= 2 GROUP BY w)),
       |$blocks""".stripMargin
  }

  /** Oracle for q_bpe_encode: the same unrolled merge chain, then
    * every document's words LEFT-joined against the final word state
    * wN — a word absent from the state (below the 2-char training
    * floor) encodes as one token — and summed per document. */
  def bpeEncodeSql(rounds: Int): String =
    s"""WITH ${bpeChainSql(rounds)},
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents),
       |enc AS (SELECT t.doc_id,
       |               CASE WHEN s.syms IS NULL THEN 1
       |                    ELSE len(string_split(s.syms, ' ')) END AS ntok
       |        FROM tok t LEFT JOIN w$rounds s ON t.w = s.w)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(ntok) AS BIGINT) AS n_tokens
       |FROM enc GROUP BY doc_id""".stripMargin
}
