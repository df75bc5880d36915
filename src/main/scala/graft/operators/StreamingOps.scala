package graft.operators

import graft.{QueryDef, Tables}
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{drainToMemory, filePerTrigger,
  runAvailableNow}
import org.apache.spark.sql.functions._

/** Streaming operators exposed to the correctness gate. The windowed
  * aggregation runs as a REAL Structured Streaming query (file source
  * → memory sink, Trigger.AvailableNow) and is oracle-checked against
  * the equivalent batch SQL — proving batch/stream agreement, not just
  * that a stream ran. Sessionization's batch twin is oracle-checked
  * here; the stateful streaming twin is pinned to it in the test suite.
  */
object StreamingOps {

  /** One day / the late-data gate's watermark delay, in µs. The delay
    * is 72 h over the events table's ~30-day span: long enough that a
    * delayed cohort's recent rows still land, short enough that most
    * of a full-history replay is refused — both visible in the gate's
    * emitted window counts. */
  private[graft] val DayUs = EventAnalytics.DayUs
  private[graft] val LateDelayUs = 72L * 3600000000L

  /** The q_stream_late_data replay, returning (emitted table, the
    * engine's summed numRowsDroppedByWatermark). The gate discards
    * the metric; the attestation spec asserts it against the oracle
    * rule's prediction — so the gate's drops are engine-attested, not
    * inferred from missing window counts, and no process-global
    * telemetry is needed. NOTE the metric counts rows reaching the
    * stateful operator — post map-side combine, one partial row per
    * (scan partition, window) — so for single-partition slices it is
    * the number of DISTINCT dropped windows, not dropped input rows. */
  private[graft] def runLateData(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, Long) = withStreamPartitions(s, 8) {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
    // bounded 1-row scalar (the q_stream_drift midpoint pattern):
    // the cohort split constant both engines share
    val maxTs = ev.agg(max(col("ts_us"))).head().getLong(0)
    val delayed = col("user_id") % 5 === 3 ||
      col("ts_us") > maxTs - DayUs
    val inDir = EventStreams.customSlicedDir("late", Seq(
      ev.filter(!delayed), // on-time: advances the watermark
      ev.filter(delayed && col("event_id") % 2 === 0), // wave 1
      ev.filter(delayed && col("event_id") % 2 === 1), // wave 2
      ev.filter(lit(false)))) // flush: final eviction trigger
    val q = runAvailableNow(filePerTrigger(s, ev.schema, inDir)
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", "72 hours")
      .groupBy(window(col("event_time"), "1 day"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("n_events"), col("cents"))
      .writeStream.format("memory").queryName("graft_stream_late")
      .outputMode("append"))
    val drops = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsDroppedByWatermark).sum
    (s.table("graft_stream_late"), drops)
  }

  /** Stateful streaming sizing: the number of state-store instances is
    * fixed at the FIRST micro-batch to `spark.sql.shuffle.partitions`,
    * and a stream-stream join keeps four stores per partition. Unlike
    * a batch shuffle, that cost is per-batch machinery, so state
    * partitions should track key cardinality / throughput, not CPU
    * count (spark docs: sql-streaming state store sizing). The events
    * stream keys on user_id — small cardinality — so cap the stream's
    * state partitions and restore the session conf afterwards. At
    * production scale this is the knob you RAISE per sink throughput.
    */
  private def withStreamPartitions[T](
      s: org.apache.spark.sql.SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, math.min(n, prev.toInt).toString)
    try body finally s.conf.set(key, prev)
  }

  /** Pin the RocksDB state-store provider for `body` and restore the
    * prior setting after — transformWithState requires it, and the
    * one set/try/restore discipline lives here so the TWS gates
    * cannot drift apart on the restore logic. */
  private def withRocksDbProvider[T](
      s: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** One q_stream_topk leaderboard maintenance round: merge a
    * trigger's UPDATED cumulative counts into the prior k-row board
    * and re-take the top k. `max(cnt)` resolves a user present on
    * both sides to its NEW cumulative count (counts are monotone).
    * Exactness argument (spec-driven on a planted drop/re-enter
    * sequence): a user absent from a trigger's updates has an
    * unchanged count while every kept competitor only grows, so a
    * user cut from the board can only return through a later update
    * row — and then it IS in the candidate set. The election is
    * orderBy+limit (TakeOrderedAndProject); the collect is k rows. */
  def topkBoardMerge(prior: Seq[(Long, Long)],
      updates: org.apache.spark.sql.DataFrame, k: Int): Array[(Long, Long)] = {
    val s = updates.sparkSession
    import s.implicits._
    updates.select(col("user_id"), col("cnt"))
      .union(prior.toDF("user_id", "cnt"))
      .groupBy(col("user_id")).agg(max(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("user_id"))
      .limit(k).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef.sql(
      "q_stream_window",
      """SELECT epoch_us(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))) AS window_start_us,
        |       event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) {
      (s, dir) => withStreamPartitions(s, 8) {
        val schema = Tables(s, dir, "events").schema
        val stream = s.readStream.schema(schema)
          .parquet(EventStreams.streamableDir(s"$dir/events.parquet"))
        drainToMemory(
          EventStreams.windowedAgg(stream),
          "graft_stream_window", "complete")
      }
    },

    // WATERMARK LATE-DATA ACCOUNTING — the semantics every production
    // event pipeline actually runs on: an on-time stream advances the
    // watermark, a delayed cohort arrives afterwards in two waves,
    // and the engine must (a) still fold the first wave into open
    // windows, (b) DROP the second wave's rows whose windows already
    // closed, and (c) emit exactly the closed windows. The replay is
    // deterministic because Spark's boundary rules are pinned (by the
    // planted-fixture spec, and empirically this round): the late
    // filter at batch N uses the PREVIOUS batch's watermark — so wave
    // 1 (batch 1, filter wm −∞) is never dropped while wave 2
    // (batch 2, filter wm = max(on-time)−delay) loses every row whose
    // window end ≤ that value — and both the filter and the eviction
    // predicate are non-strict (end ≤ wm), which is what makes them a
    // consistent pair (a kept late row can never target an emitted
    // window). The delayed cohort CONTAINS the newest day by
    // construction, so the final watermark sits a day past the
    // on-time watermark and the wave-1 merges are visible in emitted
    // windows, not just held state. Spark tracks event-time watermarks
    // at MILLISECOND precision (the event-time stats truncate µs), so
    // the oracle truncates each max to whole ms before subtracting the
    // delay — otherwise a day-aligned window end falling in the sub-ms
    // gap would flip emit/hold between the two engines.
    // Oracle: the same rules in SQL —
    // kept = on-time ∪ wave1 ∪ (wave2 where window_end > wm_ontime),
    // emitted = windows with end ≤ max(all)−delay. Integer-cents
    // measure, no float sum-order hazard.
    QueryDef.sql(
      "q_stream_late_data",
      s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
         |            FROM events),
         |mx AS (SELECT max(ts_us) AS m FROM ev),
         |coh AS (SELECT *,
         |          (user_id % 5 = 3 OR
         |           ts_us > (SELECT m FROM mx) - $DayUs) AS delayed
         |        FROM ev),
         |wma AS (SELECT (max(ts_us) // 1000) * 1000 - $LateDelayUs AS w
         |        FROM coh WHERE NOT delayed),
         |fin AS (SELECT (m // 1000) * 1000 - $LateDelayUs AS w FROM mx),
         |kept AS (
         |  SELECT ts_us, value FROM coh
         |  WHERE NOT delayed
         |     OR event_id % 2 = 0
         |     OR (ts_us // $DayUs + 1) * $DayUs > (SELECT w FROM wma)),
         |agg AS (
         |  SELECT (ts_us // $DayUs) * $DayUs AS window_start_us,
         |         CAST(count(*) AS BIGINT) AS n_events,
         |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
         |              AS BIGINT) AS cents
         |  FROM kept GROUP BY 1)
         |SELECT window_start_us, n_events, cents FROM agg
         |WHERE window_start_us + $DayUs <= (SELECT w FROM fin)""".stripMargin) {
      (s, dir) => runLateData(s, dir)._1
    },

    // Stream-stream interval join run as a REAL streaming query; for
    // finite one-shot input the inner join's eager emission makes the
    // result identical to the batch join — which is the oracle.
    QueryDef.sql(
      "q_stream_join",
      """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
        |FROM events p JOIN events v
        |  ON v.user_id = p.user_id
        | AND p.event_type = 'purchase' AND v.event_type = 'view'
        | AND epoch_us(v.ts) <= epoch_us(p.ts)
        | AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000""".stripMargin) {
      (s, dir) => withStreamPartitions(s, 8) {
        val schema = Tables(s, dir, "events").schema
        def stream = s.readStream.schema(schema)
          .parquet(EventStreams.streamableDir(s"$dir/events.parquet"))
        drainToMemory(
          EventStreams.purchasesJoinViews(stream),
          "graft_stream_join", "append")
      }
    },

    // Streaming ingest dedup as a REAL streaming run: watermarked
    // dropDuplicatesWithinWatermark, emitted keys checked against the
    // batch DISTINCT (the whole point of exactly-once ingest dedup).
    // Finite one-shot input lands in a single micro-batch, so no key
    // can expire mid-run and the stream output IS the exact distinct.
    QueryDef.sql(
      "q_stream_dedup",
      "SELECT DISTINCT user_id, event_type FROM events") {
      (s, dir) => withStreamPartitions(s, 8) {
        val schema = Tables(s, dir, "events").schema
        val stream = s.readStream.schema(schema)
          .parquet(EventStreams.streamableDir(s"$dir/events.parquet"))
        drainToMemory(
          EventStreams.dedupKeysStream(stream),
          "graft_stream_dedup", "append")
      }
    },

    // Stream-static dimension enrichment as a REAL streaming run: the
    // stateless broadcast-lookup shape (no state store, dimension
    // probed map-side per micro-batch). Oracle = the batch equi-join.
    QueryDef.sql(
      "q_stream_enrich",
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, e.event_type
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin) {
      (s, dir) => withStreamPartitions(s, 8) {
        val schema = Tables(s, dir, "events").schema
        val stream = s.readStream.schema(schema)
          .parquet(EventStreams.streamableDir(s"$dir/events.parquet"))
        drainToMemory(
          EventStreams.enrichWithDim(stream, Tables(s, dir, "customer")),
          "graft_stream_enrich", "append")
      }
    },

    // Streaming corpus ingest screen at paragraph granularity, as a
    // REAL streaming run: the "newly ingested" doc stream explodes
    // into paragraph hashes MAP-SIDE (DedupOps.paragraphHashes — pure
    // column expressions, no repartition), stream-static LEFT SEMI
    // joins the STORED bucketed corpus paragraph index
    // (DedupOps.writeParagraphIndex), and each doc sharing ANY
    // verbatim paragraph with the corpus is quarantined once.
    // Stateless screen (the only state is the emit-once dedup on
    // doc_id). The index build here is the one-off (or incrementally
    // maintained) corpus pass a production pipeline amortizes across
    // every ingest batch; per-batch work is the batch-sized probe
    // alone, and the stored side's bucketed layout replaces its
    // exchange (spec-proven like the band index). Oracle = the batch
    // semi-join.
    QueryDef.sql(
      "q_stream_ingest_screen",
      s"""WITH ${DedupOps.paragraphCtesSql},
         |c AS (SELECT DISTINCT h FROM c2 WHERE doc_id < ${DedupOps.IncrementalSplit})
         |SELECT DISTINCT doc_id FROM c2
         |WHERE doc_id >= ${DedupOps.IncrementalSplit} AND h IN (SELECT h FROM c)""".stripMargin) {
      (s, dir) => withStreamPartitions(s, 8) {
        DedupOps.writeParagraphIndex(
          Tables(s, dir, "documents")
            .filter(col("doc_id") < DedupOps.IncrementalSplit),
          "graft_para_index", 8)
        val corpusIdx = s.table("graft_para_index")
        val schema = Tables(s, dir, "documents").schema
        val stream = s.readStream.schema(schema)
          .parquet(EventStreams.streamableDir(s"$dir/documents.parquet"))
          .filter(col("doc_id") >= DedupOps.IncrementalSplit)
        drainToMemory(
          DedupOps.paragraphHashes(stream)
            .join(corpusIdx, Seq("h"), "left_semi")
            .select(col("doc_id"))
            .dropDuplicates("doc_id"),
          "graft_stream_screen", "append")
      }
    },

    // Streaming Count-Min sketch maintenance as a REAL multi-batch
    // run: the event stream is split into several files consumed one
    // per micro-batch (maxFilesPerTrigger=1), and the complete-mode
    // stateful aggregation folds each batch into the SAME d×w counter
    // table the batch job builds — the sketch's counter merges are
    // associative+commutative, so the streamed fixed point equals the
    // batch sketch over the union of batches (which is the oracle).
    // Unlike q_stream_dedup, whose state grows with keys inside the
    // watermark, this state is BOUNDED BY SKETCH GEOMETRY (d·w cells,
    // 192 here) whatever the key cardinality — the screen you can
    // afford to keep on an unbounded ingest firehose.
    QueryDef.sql(
      "q_stream_cm",
      s"""WITH ${EventAnalytics.cmBucketsCte}
         |SELECT CAST(i AS INTEGER) AS i, bucket,
         |       CAST(count(*) AS BIGINT) AS c
         |FROM b GROUP BY 1, 2""".stripMargin) {
      (s, dir) => withStreamPartitions(s, 8) {
        val ev = Tables.events(s, dir).select(col("user_id"))
        // 2 slices (the q_stream_stats argument): complete-mode
        // bucket COUNTS are order-insensitive over the same multiset,
        // so the maintained-sketch property needs >1 trigger, not 4
        val inDir = EventStreams.stagedParquet(ev, 2)
        val stream = filePerTrigger(s, ev.schema, inDir)
        drainToMemory(
          stream
            .select(posexplode(EventAnalytics.cmBuckets(col("user_id")))
              .as(Seq("i", "bucket")))
            .groupBy(col("i"), col("bucket"))
            .agg(count(lit(1)).as("c")),
          "graft_stream_cm", "complete")
      }
    },

    // CONTINUOUS top-k (leaderboard) over the event stream: per-user
    // counts as a stateful update-mode aggregation, with the k-row
    // leaderboard maintained in foreachBatch by merging each
    // trigger's UPDATED counts into the prior board and re-taking the
    // top k — O(k) external state however large the corpus. This
    // merge is EXACT for monotone counts (spec-argued + oracle-
    // checked): a user absent from a trigger's updates has an
    // unchanged count while every kept competitor only grows, so
    // dropping below the k-row cut is irrevocable and the final board
    // equals the batch top-k. Per trigger the candidate set is
    // (update rows + k), the election is TakeOrderedAndProject, and
    // the only driver material is the k-row board — the shape of a
    // trending/heavy-hitter serve at firehose scale (q_stream_cm is
    // its approximate sketch-bounded cousin).
    QueryDef.sql(
      "q_stream_topk",
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        |           FROM events GROUP BY user_id),
        |r AS (SELECT user_id, cnt,
        |             CAST(row_number() OVER (ORDER BY cnt DESC, user_id)
        |                  AS INTEGER) AS rnk
        |      FROM c)
        |SELECT user_id, cnt, rnk FROM r WHERE rnk <= 10""".stripMargin) {
      (s, dir) => withStreamPartitions(s, 8) {
        val k = 10
        val ev = Tables.events(s, dir).select(col("user_id"))
        // 3 slices, not 4 — and not 2: the board-merge exactness
        // claim is about merging into a PREVIOUSLY-MERGED board, so
        // the gate keeps two real merge steps (triggers 2 and 3)
        val inDir = EventStreams.stagedParquet(ev, 3)
        val stream = filePerTrigger(s, ev.schema, inDir)
        var board = Array.empty[(Long, Long)]
        runAvailableNow(stream
          .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
          .writeStream.outputMode("update")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            board = topkBoardMerge(board.toSeq, batch, k)
          })
        import s.implicits._
        board.toSeq.toDF("user_id", "cnt")
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("user_id"))))
      }
    },

    // The SAME ordered funnel as q_funnel, run as a REAL stateful
    // streaming query: per-user state is the three stage timestamps
    // (O(1) per key — the user-journey state machine), events arrive
    // in event-time order across micro-batches via the time-sliced
    // file layout, in-batch ties fold stage-first (a view sharing the
    // signup's timestamp qualifies), and the trailing punctuation
    // flushes every user's final stage row. The gate then reduces the
    // per-user stream output to the same four funnel counts the batch
    // three-pass aggregation produces — ONE shared oracle string, so
    // batch/stream agreement is structural (the sessionization
    // pattern).
    QueryDef.sql("q_stream_funnel", EventAnalytics.funnelSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        import s.implicits._
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("event_id"),
            col("event_type"))
        // 2 slices (3 triggers), the funnel_tws trim applied to the
        // fMGWS twin: journeys still straddle the slice boundary and
        // the punctuation trigger, output hash-invariant to slicing.
        // sf0.1 best-of-5 2.22 s at probe 0.45 (≈2.0 normalized) vs
        // the r17 record's 2.39 at 0.41.
        val inDir = EventStreams.timeSlicedDir(ev, nSlices = 2, gapUs = 1L)
        val stream = filePerTrigger(s, ev.schema, inDir)
        drainToMemory(
          EventStreams.funnelStream(stream.as[EventStreams.FunnelEvent]),
          "graft_stream_funnel", "append")
          .agg(count(lit(1)).as("n_users"),
            count(col("s1")).as("n_signup"),
            count(col("s2")).as("n_view_after_signup"),
            count(col("s3")).as("n_purchase_after_view"))
      }
    },

    // The funnel state machine on transformWithState — the second
    // stateful operator ported to Spark 4's arbitrary-state API
    // (q_stream_sessionize_tws is the first), under the RocksDB
    // provider the API requires, sharing funnelSql with the batch
    // aggregation AND the fMGWS stream: a three-way agreement that
    // the state-API migration changes no output for the one-shot-
    // journey shape either.
    QueryDef.sql("q_stream_funnel_tws", EventAnalytics.funnelSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        import s.implicits._
        withRocksDbProvider(s) {
          val ev = Tables.events(s, dir)
            .select(col("user_id"), col("ts_us"), col("event_id"),
              col("event_type"))
          // 2 slices (3 triggers with punctuation), not the fMGWS
          // twin's 4: the RocksDB provider pays a state-store
          // commit/snapshot per trigger, so the per-trigger floor
          // dominates this gate's cost — and slicing is output-
          // invariant (timeSlicedDir keeps event-time order at any
          // nSlices; the oracle hash is unchanged). Cross-batch
          // state carry stays exercised: journeys still straddle the
          // slice boundary and the punctuation trigger.
          val inDir = EventStreams.timeSlicedDir(ev, nSlices = 2, gapUs = 1L)
          val stream = filePerTrigger(s, ev.schema, inDir)
          drainToMemory(
            EventStreams.funnelStreamTws(
              stream.as[EventStreams.FunnelEvent]),
            "graft_stream_funnel_tws", "append")
            .agg(count(lit(1)).as("n_users"),
              count(col("s1")).as("n_signup"),
              count(col("s2")).as("n_view_after_signup"),
              count(col("s3")).as("n_purchase_after_view"))
            // the memory sink outlives the conf restore: pin the rows
            .localCheckpoint()
        }
      }
    },

    // Streaming IVF index INGEST — the write half of the serving
    // story (q_stream_ann is the read half): newly arriving vectors
    // stream in, each is assigned its nearest centroid cell by pure
    // map-side arithmetic over the broadcast TRAINED-centroid
    // constants (stateless — no state store at all), ready to append
    // into the writeIvfIndex bucketed layout per trigger. Oracle =
    // the unrolled-Lloyd training + assignment CTE restricted to the
    // ingest slice — the same codebook the serve gates probe; the
    // spec additionally pins stream == ivfAssign on the same slice.
    QueryDef.sql("q_stream_ivf_ingest", SimilarityOps.ivfIngestSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val emb = Tables(s, dir, "embeddings")
        val centConst = SimilarityOps.gateCodebookConst(s, dir)
        val stream = s.readStream.schema(emb.schema)
          .parquet(EventStreams.streamableDir(s"$dir/embeddings.parquet"))
          .filter(col("vec_id") % SimilarityOps.IvfIngestMod
            === SimilarityOps.IvfIngestMod - 1)
          .select(col("vec_id"), col("embedding").as("qv"))
        drainToMemory(
          SimilarityOps.streamIvfIngest(stream, centConst),
          "graft_stream_ivf_ingest", "append")
      }
    },

    // Streaming ANN serving against the STORED bucketed IVF index —
    // the serving twin of q_stream_ingest_screen: the query-vector
    // stream probes SimilarityOps.writeIvfIndex's centroid-bucketed
    // corpus, with probe-cell selection done map-side over the
    // centroid constants (no window, so it plans in a micro-batch)
    // and the probe batch broadcast into the index join (no exchange
    // on the stored side — spec-proven). The sink is the PRODUCTION
    // serve contract: foreachBatch answers each trigger's queries as
    // one batch computation against the stored index and emits that
    // trigger's top-k — memory is bounded by the trigger's query
    // batch (plus k rows per in-flight query in the bounded TopK
    // aggregator), never by query history, unlike a complete-mode
    // memory sink that would hold every past answer forever. Each
    // query appears in exactly one trigger, so the per-trigger
    // answers union to the batch result. Oracle = the SAME SQL as
    // q_sim_ivf_search — the trained-codebook serve family — so "the
    // stream serves exactly what the batch search computes" is
    // structural.
    QueryDef.sql("q_stream_ann", SimilarityOps.ivfTrainedServeSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val emb = Tables(s, dir, "embeddings")
        val centroids = SimilarityOps.gateCodebook(s, dir)
        SimilarityOps.writeIvfIndex(emb, centroids, "graft_ivf_index", 8)
        val centConst = SimilarityOps.gateCodebookConst(s, dir)
        val outDir = java.nio.file.Files.createTempDirectory("graft_ann_out")
        EventStreams.deleteRecursivelyOnExit(outDir)
        val stream = s.readStream.schema(emb.schema)
          .parquet(EventStreams.streamableDir(s"$dir/embeddings.parquet"))
          .filter(col("vec_id") < SimilarityOps.NumProbes)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        runAvailableNow(stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            SimilarityOps.annSearchStored(batch,
              s.table("graft_ivf_index"), centConst,
              SimilarityOps.NumProbeCells, SimilarityOps.TopK)
              .write.mode("append").parquet(s"$outDir/answers")
          })
        s.read.parquet(s"$outDir/answers")
      }
    },

    // The ingest→serve loop CLOSED (read-your-writes): the stored
    // bucketed IVF index is built WITHOUT the "newly arriving"
    // vec_id % IvfIngestMod slice, the ingest stream assigns each new
    // vector its cell map-side (q_stream_ivf_ingest's arithmetic) and
    // foreachBatch-APPENDS it into the index's bucketed layout per
    // trigger, and a probe batch is then served against the UPDATED
    // table through the same annSearchStored path. Oracle = the same
    // ivfTrainedServeSql over the full embeddings table — which IS
    // the union of base corpus + ingest slice — so the gate proves
    // the appended rows are really served, not just assigned. The
    // trained codebook comes from the FULL corpus (geometry is
    // trained ahead of serving; the ingest slice arriving later does
    // not retrain it mid-stream). The appended table's reads stay
    // exchange-free on the stored side (SourcesSpec pins this
    // post-append).
    QueryDef.sql("q_stream_ann_after_ingest",
      SimilarityOps.ivfTrainedServeSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val emb = Tables(s, dir, "embeddings")
        val centroids = SimilarityOps.gateCodebook(s, dir)
        val isIngest = col("vec_id") % SimilarityOps.IvfIngestMod ===
          SimilarityOps.IvfIngestMod - 1
        SimilarityOps.writeIvfIndex(emb.filter(!isIngest), centroids,
          "graft_ivf_live", 8)
        val centConst = SimilarityOps.gateCodebookConst(s, dir)
        // multi-trigger ingest: several files, one append per trigger
        val slice = emb.filter(isIngest).select(col("vec_id"), col("embedding"))
        val inDir = EventStreams.stagedParquet(slice, 4)
        val stream = filePerTrigger(s, slice.schema, inDir)
        runAvailableNow(stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            SimilarityOps.appendIvfIndex(batch, centConst, "graft_ivf_live", 8)
          })
        // serve against the UPDATED index — the appended vectors must
        // be reachable candidates or the hashes cannot match
        val probes = emb.filter(col("vec_id") < SimilarityOps.NumProbes)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        SimilarityOps.annSearchStored(probes, s.table("graft_ivf_live"),
          centConst, SimilarityOps.NumProbeCells, SimilarityOps.TopK)
      }
    },

    // INCREMENTAL duplicate clustering — the streaming twin of
    // q_dedup_clusters_star, maintained batch by batch the way a
    // growing corpus's dedup state actually is: the corpus streams in
    // as ingest slices; each trigger (a) computes the batch's minhash
    // bands map-side, (b) probes the STORED band index for
    // cross-batch candidates (exchange-free on the stored side — the
    // appendBandIndex layout) plus within-batch candidates, (c) folds
    // the new edges into the star-contracted component state via
    // DedupOps.incrementalStars — re-contracting ONLY the affected
    // components, O(affected subgraph) per trigger — and (d) appends
    // the batch's bands into the index for later triggers. The final
    // labels must equal the batch contraction over the full corpus:
    // oracle = the SAME recursive-CTE string as q_dedup_clusters_star
    // (shared via clusterClosureSql), so "incremental == batch" is
    // structural. Batch slicing is arbitrary (repartition), which is
    // the point: components of an edge union are order-independent,
    // and the spec additionally pins a planted cross-batch merge.
    //
    // Wall time is per-trigger MACHINERY, not data volume. The r17
    // in-situ decomposition (tmark probes inside foreachBatch, sf0.1,
    // 3 triggers of ~1.7k docs) overturned the r16 attribution: the
    // dominant term was NOT the bucketed-insert planning (the append
    // measures 0.25-0.45 s in place, machinery included) but the
    // BANDING — foreachBatch hands the trigger's rows as a
    // one-partition LogicalRDD (one staged file → one scan split), so
    // the CPU-bound shingle+minhash pass ran on ONE core: 1.2-1.8 s
    // per trigger against ~0.3 s once DedupOps.spread learned to read
    // partition counts off LogicalRDD leaves and fan the batch out.
    // Three more r17 trims: starComponents decides its local finish
    // with one bounded collect instead of count-then-collect (one job
    // floor per contraction), incrementalStars takes a bootstrap fast
    // path when prev is statically empty (trigger 1 skipped three
    // jobs joining against nothing), and appendBucketed aligns the
    // batch to the bucket hash (≤ 1 file per bucket per append, so
    // the spread batch can't fragment the index 32-way). Same-box
    // best-of-3: 7.93 → 5.98 s; oracle hash unchanged; 3 triggers
    // stay (the multi-append listing-refresh property needs them).
    // All remaining cost amortizes at real ingest volumes — per-row
    // cost falls with batch size while candidate generation stays an
    // equi-join probe on the stored layout (measured: the trimmed
    // ingest gates grow 1.3-2.0x at 10x rows, SCALE.md r16).
    QueryDef.sql("q_stream_dedup_clusters", DedupOps.clusterClosureSql) {
      (s, dir) => withStreamPartitions(s, 4) {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        // the index is created lazily by the FIRST append
        // (appendBucketed creates version 1 plus the pointer view
        // when absent) — cheaper than bootstrapping an empty bucketed
        // table; the drops keep re-runs in one session from probing a
        // previous run's rows
        graft.sources.Sources.dropVersioned(s, "graft_band_live")
        graft.sources.Sources.dropVersioned(s, "graft_stars_live")
        // 3 ingest slices, not 4 (r16 trigger-floor trim): each
        // trigger pays the full append machinery (~1.0 s bucketed
        // insert planning + swap + state write), so dropping one
        // trigger removes ~a quarter of the gate's floor while
        // keeping the property 2 slices would lose — trigger 3's
        // probe reads an index holding the UNION of TWO prior
        // appends (multi-file listing refresh across appends), not
        // just one. Component labels are slicing-invariant (edge
        // unions are order-independent), oracle hash unchanged.
        val inDir = EventStreams.stagedParquet(docs, 3)
        // per-trigger component state: a BUCKETED managed table keyed
        // on the star root, replaced per trigger through
        // swapBucketed's version-pointer flip — the new fixed point
        // is derived FROM the old version and lands as numBuckets
        // parallel sorted files, so state persistence scales with the
        // cluster (a coalesce(1) file here would single-task billions
        // of clustered rows at 100 TB) and a reader always resolves a
        // complete fixed point through the pointer view
        val stream = filePerTrigger(s, docs.schema, inDir)
        // "state table absent" is only legitimate before the FIRST
        // swap: after that it means a failed swap was somehow
        // swallowed, and restarting the components from empty would
        // be a silent wrong answer — fail the trigger loudly instead
        var stateSwapped = false
        runAvailableNow(stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            import Materialize.PinOps
            require(!stateSwapped || s.catalog.tableExists("graft_stars_live"),
              "component state table vanished after a successful swap")
            val nbp = DedupOps.minhashBands(batch).pinned
            // probe BEFORE append: cross-batch candidates against all
            // PRIOR batches; within-batch pairs computed separately.
            // Orientation is free (incrementalStars canonicalizes) —
            // ingest slices carry no id-order guarantee. The explicit
            // refresh drops the session's cached file listing for the
            // table: this trigger must see every PRIOR trigger's
            // append, not the listing cached at first read. No
            // distinct on the probe: incrementalStars canonicalizes
            // AND dedups the union — one shuffle instead of three.
            val within = DedupOps.minhashBandPairs(nbp)
            // the explicit refresh must run on THIS session: appends
            // ran inside foreachBatch, whose batch session is a CLONE
            // with its own relation cache — appendBucketed's own
            // refresh invalidates the clone's listing, not the outer
            // session's, and a stale listing here silently loses
            // cross-batch candidates. Resolve through the pointer so
            // the refresh hits the physical relation actually scanned.
            val newEdges =
              if (s.catalog.tableExists("graft_band_live")) {
                s.catalog.refreshTable(
                  graft.sources.Sources.physicalName(s, "graft_band_live"))
                s.table("graft_band_live").as("x")
                  .join(nbp.as("y"),
                    col("x.band") === col("y.band") &&
                      col("x.bucket") === col("y.bucket") &&
                      col("x.doc_id") =!= col("y.doc_id"))
                  .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
                  .union(within)
              } else within // first trigger: nothing stored yet
            val prev =
              if (s.catalog.tableExists("graft_stars_live"))
                s.table("graft_stars_live")
              else within.filter(lit(false))
            graft.sources.Sources.swapBucketed(
              DedupOps.incrementalStars(prev, newEdges),
              "graft_stars_live", Seq("a"), 8)
            stateSwapped = true
            // append the PINNED bands — the probe already computed
            // them; re-banding the raw batch would run the whole
            // shingle+hash pass a second time per trigger
            DedupOps.appendBands(nbp, "graft_band_live", 8)
          })
        val finalStars =
          if (s.catalog.tableExists("graft_stars_live"))
            s.table("graft_stars_live")
          else s.range(0).select(col("id").as("a"), col("id").as("b"))
        DedupOps.labelAllDocs(docs,
          finalStars.select(col("b").as("doc_id"), col("a").as("cluster_id")))
      }
    },

    // The FULL stored-index lifecycle in one gate: ingest →
    // fragmented appends → compaction → exchange-free probe. The
    // existing-corpus slice streams in as 4 ingest batches, each
    // foreachBatch-appending its minhash bands into the bucketed
    // band index (every append lands up to one new file per bucket —
    // exactly how a long-running ingest fragments a stored
    // artifact); Sources.compactBucketed then rewrites the table to
    // one sorted file per bucket through the shadow-table swap, and
    // the "new" slice probes the COMPACTED index through the same
    // incrementalCandidatePairsStored path the daily dedup job runs.
    // Oracle = the SAME string as q_dedup_incremental, so "the
    // candidate set does not depend on how the index was built —
    // one-shot, fragmented, or compacted" is structural. The spec
    // additionally pins 1 file/bucket post-compact, identical probe
    // results before/after compaction, and appends continuing AFTER
    // a compaction staying probe-visible.
    QueryDef.sql("q_stream_index_lifecycle", DedupOps.incrementalCandSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val existing = docs.filter(col("doc_id") < DedupOps.IncrementalSplit)
        graft.sources.Sources.dropVersioned(s, "graft_band_lc")
        // 2 ingest slices, not 4: each trigger is a full versioned
        // append (write + pointer flip + stats bump), so the
        // per-trigger floor is most of this gate's cost. Two appends
        // still leave the table FRAGMENTED (2 files/bucket) so the
        // compaction step keeps something real to do, and the
        // candidate oracle is build-shape-invariant by construction.
        val inDir = EventStreams.stagedParquet(existing, 2)
        val stream = filePerTrigger(s, existing.schema, inDir)
        runAvailableNow(stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            DedupOps.appendBandIndex(batch, "graft_band_lc", 8)
          })
        // the maintenance pass a long-running ingest schedules off
        // the serving path: back to one sorted file per bucket, then
        // refresh the optimizer statistics of the rewritten artifact
        // (approx-NDV mode — the 100 TB maintenance path) so the
        // catalog the next probe plans against is current
        graft.sources.Sources.compactBucketed(
          s, "graft_band_lc", Seq("band", "bucket"), 8)
        Analytics.analyzeTable(s, "graft_band_lc", exact = false)
        DedupOps.incrementalCandidatePairsStored(s, "graft_band_lc",
          docs.filter(col("doc_id") >= DedupOps.IncrementalSplit))
      }
    },

    // STREAMING manifest maintenance — the append-only half of
    // q_manifest_skip's data-skipping story: the z-ordered layout's
    // files arrive as ingest triggers (4 files per trigger), and
    // each trigger appends ONLY ITS OWN files' min/max rows into the
    // standing manifest — per-trigger work is the new files' stats,
    // never a rescan of history, which is how table formats keep
    // skipping metadata current under continuous ingest. The final
    // pruned read answers through the incrementally-built manifest;
    // oracle = the SAME plain box-filter string as q_manifest_skip,
    // so "incrementally-maintained manifest == one-shot manifest ==
    // no manifest at all" is structural.
    QueryDef.sql("q_stream_manifest", ZOrder.manifestSkipSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val (laid, laidDir, mid) = ZOrder.manifestGateLayout(s, dir)
        val tmp = java.nio.file.Files.createTempDirectory("graft_stream_mani")
        EventStreams.deleteRecursivelyOnExit(tmp)
        val maniDir = s"$tmp/manifest" // per-run OUTPUT state, not staging
        val stream = s.readStream.schema(laid.schema)
          .option("maxFilesPerTrigger", "4")
          .parquet(laidDir)
        runAvailableNow(stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            graft.sources.Manifest.appendFiles(batch, ZOrder.ManifestCols,
              maniDir, ZOrder.ManifestCols.head)
          })
        ZOrder.manifestAnswer(s, laid, s.read.parquet(maniDir), mid)
      }
    },

    // STREAMING per-source admission cap — the online enforcement of
    // q_source_cap's per-domain quota: documents arrive in append-id
    // order across micro-batches (orderedSlicedDir staging), each
    // source admits its first SourceCap docs and drops the rest, with
    // ONE integer of state per source. Oracle = the batch first-K
    // election in the same id order, so "the stream admits exactly
    // what a batch pass over the same order would" is hash-checked.
    // (q_source_cap's hash-priority election is the re-runnable batch
    // variant; this is the arrival-order decision a live ingest
    // makes.) The spec additionally pins a cap boundary falling
    // INSIDE a later micro-batch.
    QueryDef.sql(
      "q_stream_source_cap",
      s"""SELECT source, doc_id, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT source, doc_id,
         |        row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
         |      FROM documents)
         |WHERE rnk <= ${CurationOps.SourceCap}""".stripMargin) {
      (s, dir) => withStreamPartitions(s, 8) {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
          .select(col("source"), col("doc_id"))
        val inDir = EventStreams.orderedSlicedDir(docs, "doc_id", 4)
        val stream = filePerTrigger(s, docs.schema, inDir)
        drainToMemory(
          EventStreams.sourceCapStream(
            stream.as[EventStreams.CapDoc], CurationOps.SourceCap),
          "graft_stream_cap", "append")
          .select(col("source"), col("doc_id"), col("rnk").cast("int").as("rnk"))
      }
    },

    QueryDef.sql("q_sessionize", sessionizeSql) {
      (s, dir) =>
        EventStreams.sessionizeBatch(Tables.events(s, dir))
    },

    // The SAME sessionization as a REAL stateful streaming run:
    // flatMapGroupsWithState over an ordered multi-batch file stream
    // (time-sliced files, maxFilesPerTrigger=1), with a trailing
    // punctuation file flushing each user's open session — so the
    // stream's append-mode output is the COMPLETE session set and the
    // batch window-SQL oracle hash-checks it row for row. Batch and
    // stream share one oracle string, making "batch/stream agreement"
    // structural. State per key is one O(1) session record in the
    // state store — the shape that survives unbounded keys; the
    // punctuation marker is the explicit log-rotation boundary a
    // production ingest emits to flush sessions at file close.
    QueryDef.sql("q_stream_sessionize", sessionizeSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        import s.implicits._
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("event_id"))
        // 2 slices (3 triggers): unlike the tws twin (whose A/B
        // showed RocksDB row traffic dominates, so it keeps 4), the
        // fMGWS store pays a real per-trigger floor here — sessions
        // still span the slice boundary, hash unchanged. sf0.1
        // best-of-5 2.17 s at probe 0.45 (≈2.0 normalized) vs the
        // r17 record's 2.43 at 0.41.
        val inDir = EventStreams.timeSlicedDir(
          ev, nSlices = 2, gapUs = EventStreams.SessionGapUs)
        val stream = filePerTrigger(s, ev.schema, inDir)
        drainToMemory(
          EventStreams.sessionizeStream(stream.as[EventStreams.SessionEvent]),
          "graft_stream_sess", "append")
          .select(col("user_id"), col("session_id"), col("start_us"),
            col("end_us"), col("n_events"))
      }
    },

    // CHECKPOINT-RESTART recovery as an ORACLE-CHECKED gate — the
    // crash/redeploy boundary every production stream crosses,
    // promoted from spec-only coverage (EventStreamsSpec pins the
    // planted-data variant) to a contract the DuckDB oracle re-proves
    // every round: run the sessionizer over the EARLY slice only,
    // let the query terminate (AvailableNow — the graceful half of a
    // redeploy), then start a SECOND query against the same
    // checkpoint + fault-tolerant FILE sink after the late slices
    // "arrive", and hand the driver the combined sink contents.
    // Sharing sessionizeSql makes THREE properties structural at
    // once: offset recovery (re-reading slice 0 would duplicate its
    // sessions → extra rows → hash mismatch), state recovery (open
    // sessions at the boundary must close with their phase-2 events
    // or start_us/n_events diverge), and sink exactly-once (the file
    // sink's metadata log must not re-commit phase 1's files).
    // Per-invocation scratch dirs keep bench iterations independent;
    // the memoized staged dir is never mutated (its read-only
    // contract) — arrival is simulated by COPYING slices in, mtimes
    // preserved so the source's oldest-first pickup keeps slice
    // order. At 100 TB this is the property that makes the ingest
    // restartable at all: state and offsets resume from the store,
    // never from a corpus rescan.
    QueryDef.sql("q_stream_restart", sessionizeSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("event_id"))
        val (phase1Rows, all) = EventStreams.restartPhases(
          s, ev, EventStreams.sessionizeStream) { sink =>
          val n = sink.count()
          // phase 1: only the early slice existed; closed sessions
          // landed in the sink, open ones stayed in the state store
          require(n > 0,
            "restart gate: phase 1 emitted nothing — the boundary fell " +
              "before any closed session and the recovery would be vacuous")
          n
        }
        require(all.count() > phase1Rows,
          "restart gate: phase 2 emitted nothing — no state or offsets " +
            "were carried across the restart")
        all.select(col("user_id"), col("session_id"), col("start_us"),
          col("end_us"), col("n_events"))
      }
    },

    // The SAME sessionizer on Spark 4's transformWithState — the
    // arbitrary-state API that supersedes flatMapGroupsWithState
    // (named typed ValueState + explicit event-time timers with a
    // one-live-timer-per-key discipline, see
    // EventStreams.SessionTwsProcessor). THREE implementations now
    // share sessionizeSql: the batch window SQL, the fMGWS stream,
    // and this TWS stream — the migration proof that moving state
    // code to the new API changes no output row. transformWithState
    // requires the RocksDB state store, so the gate pins the provider
    // for the run (and restores it), doubling as the RocksDB path's
    // gate-level exercise.
    QueryDef.sql("q_stream_sessionize_tws", sessionizeSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        import s.implicits._
        withRocksDbProvider(s) {
          val ev = Tables.events(s, dir)
            .select(col("user_id"), col("ts_us"), col("event_id"))
          // stays at 4 slices DELIBERATELY: an A/B at nSlices=2
          // measured no win (3.43 vs 3.45 best-of-N — this gate's
          // cost is per-session RocksDB row traffic, which slicing
          // does not change, unlike funnel_tws's one-row-per-user
          // state where the per-trigger commit floor dominated), so
          // the richer 4-slice cross-batch session shape is free.
          val inDir = EventStreams.timeSlicedDir(
            ev, nSlices = 4, gapUs = EventStreams.SessionGapUs)
          val stream = filePerTrigger(s, ev.schema, inDir)
          drainToMemory(
            EventStreams.sessionizeStreamTws(
              stream.as[EventStreams.SessionEvent]),
            "graft_stream_sess_tws", "append")
            .select(col("user_id"), col("session_id"), col("start_us"),
              col("end_us"), col("n_events"))
            // the memory sink outlives the conf restore below: pin
            // the rows so downstream reads don't re-plan the stream
            .localCheckpoint()
        }
      }
    },

    // STREAMING CDC apply — the q_merge_upsert statement run as a
    // real change-log stream: the change batch arrives as ordered
    // micro-batches and a foreachBatch fold applies each one to the
    // STORED provenance snapshot (read current → mergeApplyCdc →
    // write next version), the per-trigger loop a warehouse's
    // continuous-refresh pipeline runs. The final snapshot's ledger
    // is gated against the SAME oracle string as the single-shot
    // batch merge, so "N incremental applies == one batch merge" is
    // structural (each key changes once — the compacted-change-log
    // contract). At 100 TB the snapshot is the bucketed stored table
    // and each apply shuffles only its micro-batch.
    QueryDef.sql("q_stream_merge", WarehouseOps.mergeSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val docs = Tables(s, dir, "documents")
        val tmp = java.nio.file.Files.createTempDirectory("graft_stream_merge")
        EventStreams.deleteRecursivelyOnExit(tmp)
        val v0 = s"$tmp/snap/0"
        docs.select(col("doc_id"), lit("keep").as("op"),
          col("text").as("payload"))
          .write.mode("overwrite").parquet(v0)
        // the version CHAIN derives from the batch id, not a driver
        // var: batch N always reads snap/N and overwrites snap/N+1,
        // so an at-least-once RE-DELIVERY of batch N re-reads the
        // intact prior snapshot and idempotently rewrites the same
        // next version (a mutable read-path var would have advanced
        // past it and read-overwrite the SAME directory), and a
        // checkpointed restart resumes mid-chain because the paths
        // are a pure function of the ids the source replays
        var lastApplied = 0L // final-read bookmark only, never a read path
        val changes = WarehouseOps.gateChanges(docs)
        val inDir = EventStreams.orderedSlicedDir(changes, "doc_id", 3)
        val stream = filePerTrigger(s, changes.schema, inDir)
        runAvailableNow(stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            WarehouseOps.mergeApplyCdc(
                s.read.parquet(s"$tmp/snap/$id"), batch)
              .write.mode("overwrite").parquet(s"$tmp/snap/${id + 1}")
            lastApplied = math.max(lastApplied, id + 1)
          })
        s.read.parquet(s"$tmp/snap/$lastApplied")
          .select(col("doc_id"), col("op"),
            md5(col("payload").cast("binary")).as("content_hash"),
            length(col("payload")).cast("long").as("n_chars"))
      }
    },

    // The SAME SCD2 derivation as q_scd2_history, run as a REAL
    // stateful stream: per-user state is the one OPEN attribute
    // version (O(1) per key), closed versions emit the moment the
    // attribute changes, and the trailing punctuation flushes each
    // user's open version with is_current=true — so the append-mode
    // output is the complete type-2 history and the batch window
    // oracle hash-checks it row for row (ONE shared oracle string —
    // the sessionize/funnel pattern). The EventTimeTimeout path
    // flushes users who go quiet without punctuation (spec-pinned).
    QueryDef.sql("q_stream_scd2", WarehouseOps.scd2Sql) {
      (s, dir) => withStreamPartitions(s, 8) {
        import s.implicits._
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("event_id"),
            col("event_type"))
        // 2 slices (3 triggers): version chains still straddle the
        // slice boundary (valid_to closes in a later trigger than the
        // open), output hash-invariant to slicing. sf0.1 best-of-5
        // 2.31 s at probe 0.45 (≈2.1 normalized) vs the r17 record's
        // 2.32 at 0.41 — the smallest of the three trims.
        val inDir = EventStreams.timeSlicedDir(ev, nSlices = 2, gapUs = 1L)
        val stream = filePerTrigger(s, ev.schema, inDir)
        drainToMemory(
          EventStreams.scd2Stream(stream.as[EventStreams.Scd2Event]),
          "graft_stream_scd2", "append")
          .select(col("user_id"), col("attr"), col("version"),
            col("valid_from_us"), col("valid_to_us"), col("is_current"))
      }
    },

    // Spark's NATIVE session_window aggregation as a REAL streaming
    // run — the declarative twin of the hand-written stateful
    // sessionizers: the SAME expression as the batch q_session_window
    // (one shared body + oracle string), under watermark + append
    // mode. Sessions emit when the watermark passes their end, so the
    // punctuation must move the CLOCK: it is stamped a 10 s margin
    // past hi+gap and flows INTO the aggregation (a pre-agg filter on
    // event_id would be pushed below the EventTimeWatermark node by
    // the optimizer and the watermark would never advance — found the
    // hard way). Each user's punctuation forms its own session
    // strictly AFTER every real one (its ts is ≥ gap past any real
    // event), which the watermark never passes — never emitted, and
    // dropped post-hoc by the start <= hi cut as belt-and-braces. The
    // second flush trigger gives the state store the batch AFTER the
    // watermark update in which to evict the final real sessions.
    QueryDef.sql("q_stream_session_window", EventAnalytics.sessionWindowSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("event_id"))
        val hi = ev.agg(max(col("ts_us"))).head().getLong(0)
        // 2 data slices (the r16 trigger-floor trim, applied r18):
        // cross-batch session state still exercises — sessions span
        // the slice boundary — and the output is hash-invariant to
        // slicing (the oracle is the batch aggregation). flushSlices
        // stays 2: append-mode eviction needs the batch AFTER the
        // watermark update. 6 → 4 triggers; sf0.1 best-of-5 2.53 s
        // vs the r17 record's 3.33 (hash re-verified at sf0.01).
        val inDir = EventStreams.timeSlicedDir(ev, nSlices = 2,
          gapUs = EventStreams.SessionGapUs + 10000000L, flushSlices = 2)
        val stream = filePerTrigger(s, ev.schema, inDir)
        drainToMemory(
          EventAnalytics.sessionWindowAggOnTime(
            stream
              .withColumn("event_time", timestamp_micros(col("ts_us")))
              .withWatermark("event_time", "0 seconds")),
          "graft_stream_sw", "append")
          .filter(col("session_start_us") <= hi)
      }
    },

    // STREAMING HLL maintenance — the sketch-state cousin of
    // q_stream_cm for DISTINCT counting: documents arrive as ordered
    // micro-batches and each source's HLL sketch is maintained as
    // complete-mode aggregation state (the TypedImperativeAggregate
    // merges batch partials into the standing register set — the
    // associative-merge property IS the state-update rule, so state
    // per source is one lgK-bounded sketch whatever the document
    // volume). The audit joins the final streamed estimates against
    // the batch exact counts — ONE oracle string shared with
    // q_sketch_hll, so "the stream's sketch meets the same accuracy
    // contract as the batch sketch" is structural.
    QueryDef.sql("q_stream_hll", EventAnalytics.hllAuditSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val docs = Tables(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("text"))
        // 2 slices: HLL register state is a per-register max over
        // item hashes — order-insensitive, any slicing of the same
        // multiset lands the same sketch (the q_stream_stats trim)
        val inDir = EventStreams.orderedSlicedDir(docs, "doc_id", 2)
        val est = drainToMemory(
          filePerTrigger(s, docs.schema, inDir).groupBy(col("source"))
            .agg(hll_sketch_agg(md5(col("text").cast("binary"))).as("sk"))
            .select(col("source"), hll_sketch_estimate(col("sk")).as("est")),
          "graft_stream_hll", "complete")
        EventAnalytics.hllAudit(est, Tables(s, dir, "documents"))
      }
    },

    // STREAMING Misra–Gries maintenance — the heavy-hitter cousin of
    // q_stream_hll: each source's k-counter summary is complete-mode
    // aggregation state, batch partials folding in through the
    // aggregator's MERGE path (the Mergeable Summaries rule IS the
    // state update, so micro-batching is just another merge tree and
    // the guarantees survive by the same theorem). The audit body and
    // oracle are SHARED with q_sketch_freq, so "the stream's summary
    // meets the same guarantees as the batch summary" is structural.
    QueryDef.sql("q_stream_freq", EventAnalytics.freqAuditSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val docs = Tables(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("text"))
        // stays at 3 slices DELIBERATELY: an A/B at 2 measured no
        // win (5.34 vs 5.53 — this gate's cost is the trigram MG
        // sketch scan plus the audit's exact-side recount, both
        // data-volume work that slicing does not change), so the
        // extra merge-path trigger is free.
        val inDir = EventStreams.orderedSlicedDir(docs, "doc_id", 3)
        val stream = filePerTrigger(s, docs.schema, inDir)
        // stateless repartition BEFORE the stateful aggregate: each
        // trigger's slice is ONE file → one scan task, and the
        // trigram explode + MG partial fold run in the partial-agg
        // stage right above the scan — unspread, the gate's dominant
        // CPU ran on one core per trigger (the foreachBatch gates get
        // this from spread(); a direct streaming plan needs the
        // explicit exchange). Raw rows shuffled are the slice's docs
        // (~KBs); state partitioning (the stateful exchange) is
        // unchanged, so the MG merge tree and its guarantees are too.
        val mg = drainToMemory(
          stream.repartition(s.sparkContext.defaultParallelism)
            .groupBy(col("source"))
            .agg(graft.functions.FrequentItems
              .sketch(s, EventAnalytics.trigrams(s, col("text")),
                  EventAnalytics.FreqK).as("mg")),
          "graft_stream_freq", "complete")
        EventAnalytics.freqAudit(mg, Tables(s, dir, "documents"))
      }
    },

    // STREAMING AMS maintenance — the F2/self-join-size statistic
    // kept live off the firehose: the 64 sign-sums are plain
    // associative SUM aggregation state (types × 64 bigints, the
    // cheapest state in this file), so the stream maintains exactly
    // the batch sketch with no per-key state at all. Audit body and
    // oracle SHARED with q_sketch_ams — and since the estimate is
    // deterministic, stream == batch is value-for-value, not
    // flag-level. This is the optimizer-statistics feed: join-size
    // estimates that are always current without rescanning history.
    QueryDef.sql("q_stream_ams", EventAnalytics.amsAuditSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val ev = Tables.events(s, dir)
          .select(col("event_type"), col("user_id"))
        // 2 slices, not 4: the sign-sum state is types × 64 bigints
        // (the cheapest in this file), so the gate's cost is almost
        // pure per-trigger floor; complete-mode SUM aggregation is
        // slicing-invariant, hash unchanged. Still multi-batch —
        // the stream-maintains-the-sketch property needs >1 trigger,
        // not 4.
        val inDir = EventStreams.stagedParquet(ev, 2)
        val zs = EventAnalytics.amsZSums
        val sums = drainToMemory(
          filePerTrigger(s, ev.schema, inDir).groupBy(col("event_type"))
            .agg(zs.head, zs.tail: _*),
          "graft_stream_ams", "complete")
        EventAnalytics.amsAudit(sums, Tables.events(s, dir))
      }
    },

    // STREAMING drift monitor — the two-proportion composition screen
    // kept live: per-(type, half) counts are plain streaming
    // aggregation state (the half split against the broadcastable
    // reference midpoint is map-side arithmetic per row), and the
    // exact-integer flag arithmetic runs over the types-row standing
    // counts after every trigger. Flag body AND oracle SHARED with
    // q_drift_2prop, so stream-maintained == batch is structural. In
    // production the midpoint constant generalizes to "reference
    // window vs current window" with the reference counts loaded as
    // a static side.
    QueryDef.sql("q_stream_drift", EventAnalytics.driftSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val ev = Tables.events(s, dir)
          .select(col("event_type"), col("ts_us"))
        val mm = ev.agg(min(col("ts_us")) + max(col("ts_us")))
          .head().getLong(0) // bounded 1-row scalar: the split constant
        // 2 slices: complete-mode half-counts are order-insensitive
        // sums — the q_stream_stats trim argument
        val inDir = EventStreams.stagedParquet(ev, 2)
        EventAnalytics.driftFlags(drainToMemory(
          EventAnalytics.driftHalfCounts(
            filePerTrigger(s, ev.schema, inDir), lit(mm)),
          "graft_stream_drift", "complete"))
      }
    },

    // STREAMING ANALYZE — live optimizer statistics: the q_table_stats
    // columns maintained as one global streaming aggregation
    // (count / non-null / min / max are associative; exact NDV is
    // not, so the stream keeps a DataSketches HLL per column — the
    // q_sketch_hll discipline). The stats a cost-based optimizer
    // reads are always current without rescanning history; the audit
    // computes the exact NDV batch-side and hashes the 5% contract
    // flag next to the value-exact columns.
    QueryDef.sql("q_stream_stats", streamStatsSql) {
      (s, dir) => withStreamPartitions(s, 8) {
        val o = Tables(s, dir, "orders")
        // 2 slices, not 4: the state is ONE global row of
        // count/min/max/HLL registers — order-insensitive (HLL
        // register state is a per-register max over item hashes, so
        // any slicing of the same multiset lands the same sketch)
        // and the audit's exact columns are batch-side. The
        // stream-maintains-stats property needs >1 trigger, not 4.
        val inDir = EventStreams.stagedParquet(o, 2)
        val aggs = Analytics.StatsCols.flatMap { case (c, t) =>
          val v = Analytics.statsVal(c, t)
          Seq(count(v).as(s"nn_$c"),
            min(v).cast("string").as(s"min_$c"),
            max(v).cast("string").as(s"max_$c"),
            hll_sketch_agg(v.cast("string")).as(s"sk_$c"))
        }
        val a = drainToMemory(
          filePerTrigger(s, o.schema, inDir).groupBy()
            .agg(count(lit(1)).as("n"), aggs: _*),
          "graft_stream_stats", "complete")
        val exact = o.agg(count(lit(1)).as("xn"),
          Analytics.StatsCols.map { case (c, t) =>
            countDistinct(Analytics.statsVal(c, t)).as(s"xndv_$c")
          }: _*)
        a.crossJoin(broadcast(exact))
          .select(explode(array(Analytics.StatsCols.map { case (c, _) =>
            struct(lit(c).as("col_name"), col("n").as("n_rows"),
              col(s"nn_$c").as("n_notnull"),
              col(s"xndv_$c").as("ndv_exact"),
              col(s"min_$c").as("min_val"), col(s"max_$c").as("max_val"),
              (abs(hll_sketch_estimate(col(s"sk_$c")) - col(s"xndv_$c")) * 20
                <= col(s"xndv_$c")).as("ndv_within_5pct"))
          }: _*)).as("r")).select(col("r.*"))
      }
    }
  )

  /** Oracle for q_stream_stats: the exact per-column statistics plus
    * the TRUE 5%-NDV-contract flag (the q_sketch_hll audit
    * discipline) — generated from the SAME column list as
    * q_table_stats so the two stats surfaces cannot fork. */
  private def streamStatsSql: String = {
    val aggs = Analytics.StatsCols.map { case (c, t) =>
      val v = if (t == "dec") s"CAST($c AS DECIMAL(12,2))" else c
      s"""CAST(count($v) AS BIGINT) AS nn_$c,
         |  CAST(count(DISTINCT $v) AS BIGINT) AS ndv_$c,
         |  CAST(min($v) AS VARCHAR) AS min_$c,
         |  CAST(max($v) AS VARCHAR) AS max_$c""".stripMargin
    }.mkString(",\n  ")
    val rows = Analytics.StatsCols.map { case (c, _) =>
      s"""SELECT '$c' AS col_name, n AS n_rows, nn_$c AS n_notnull,
         |       ndv_$c AS ndv_exact, min_$c AS min_val, max_$c AS max_val,
         |       TRUE AS ndv_within_5pct
         |FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  $aggs
       |FROM orders)
       |$rows""".stripMargin
  }

  /** One oracle for q_sessionize AND q_stream_sessionize: the
    * windowed batch formulation both implementations must reproduce. */
  private def sessionizeSql: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
       |flagged AS (
       |  SELECT user_id, us, event_id,
       |         CASE WHEN lag(us) OVER w IS NULL
       |                OR us - lag(us) OVER w > ${EventStreams.SessionGapUs}
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |sess AS (
       |  SELECT user_id, us,
       |         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |              AS INTEGER) AS session_id
       |  FROM flagged)
       |SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us,
       |       count(*) AS n_events
       |FROM sess GROUP BY 1, 2""".stripMargin
}
