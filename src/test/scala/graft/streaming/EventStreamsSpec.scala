package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming semantics: the stateful flatMapGroupsWithState
  * sessionizer must agree with the declarative batch sessionizer, and
  * the windowed agg must behave identically on batch and stream input.
  */
class EventStreamsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Shared epoch base for the planted watermark fixtures (minutes
    * offset from a ~2020 instant, far from any epoch edge case). */
  private def ts(min: Int) =
    new java.sql.Timestamp(3600L * 1000 * 24 * 365 * 50 + min * 60000L)

  /** The engine's own standing-state row count after the last batch —
    * what the eviction-bound attestations assert on. */
  private def stateRowsOf(
      q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators).map(_.numRowsTotal).sum

  test("stream sessionization agrees with batch sessionization on closed sessions") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val events = graft.Tables.events(spark, dir)
      .select($"user_id", $"ts_us", $"event_id")
      .as[EventStreams.SessionEvent]
      .collect().toSeq

    val input = MemoryStream[EventStreams.SessionEvent]
    input.addData(events)
    val got = EventStreams.drainToMemory(
        EventStreams.sessionizeStream(input.toDS()), "sess_test", "append")
      .select($"user_id", $"session_id", $"start_us", $"end_us", $"n_events")

    val batch = EventStreams.sessionizeBatch(graft.Tables(spark, dir, "events"))

    // Append-mode stream emits sessions closed by a gap OR flushed by
    // the event-time timeout (watermark = global max ts after the one
    // data batch, so every trailing session at least SessionGapUs
    // quieter than the stream's end flushes in the no-data batch).
    // Batch minus stream = exactly each user's LAST session IF it is
    // within the gap of the stream's end (not yet timeout-able).
    val gotRows = got.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val batchRows = batch.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(gotRows.subsetOf(batchRows), "stream emitted a session batch doesn't have")
    val missing = batchRows -- gotRows
    val maxTs = events.map(_.ts_us).max
    val lastPerUser = batchRows.groupBy(_._1).map { case (_, ss) => ss.maxBy(_._2) }.toSet
    // only last sessions may be unemitted, and only when the watermark
    // has not yet passed their gap (end_us too close to the stream end;
    // the /1000s mirror the ms resolution of the timeout clock)
    assert(missing.subsetOf(lastPerUser), "a non-final session went unemitted")
    missing.foreach { case (u, sid, _, endUs, _) =>
      assert(endUs / 1000 + EventStreams.SessionGapUs / 1000 + 1 > maxTs / 1000,
        s"user $u session $sid was timeout-eligible but not emitted")
    }
    // and every timeout-eligible trailing session WAS emitted
    val eligible = lastPerUser.filter { case (_, _, _, endUs, _) =>
      endUs / 1000 + EventStreams.SessionGapUs / 1000 + 1 <= maxTs / 1000 }
    assert(eligible.subsetOf(gotRows),
      "the event-time timeout failed to flush a quiet user's session")
    assert(eligible.nonEmpty, "fixture has no timeout-eligible session — test is vacuous")
  }

  test("transformWithState sessionizer == flatMapGroupsWithState " +
    "sessionizer on the corpus, timers included, under RocksDB") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = graft.Tables.events(spark, dir)
      .select($"user_id", $"ts_us", $"event_id")
      .as[EventStreams.SessionEvent]
      .collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
    // two event-time-ordered batches: state carries sessions across
    // the trigger boundary, and the closing no-data batch fires the
    // event-time timers for every quiet trailing session
    val (b1, b2) = events.splitAt(events.size / 2)
    def run(name: String,
        f: org.apache.spark.sql.Dataset[EventStreams.SessionEvent] =>
          org.apache.spark.sql.Dataset[EventStreams.SessionOut]) = {
      val input = MemoryStream[EventStreams.SessionEvent]
      input.addData(b1); input.addData(b2)
      EventStreams.drainToMemory(f(input.toDS()),
        name, "append").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
    }
    val fmgws = run("tws_ref_fmgws", EventStreams.sessionizeStream)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
      val tws = run("tws_under_test", EventStreams.sessionizeStreamTws)
      assert(tws.nonEmpty && tws == fmgws,
        "transformWithState diverged from flatMapGroupsWithState")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("punctuation markers flush open sessions: stream output equals " +
    "batch exactly, and state is cleared") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val events = graft.Tables.events(spark, dir)
      .select($"user_id", $"ts_us", $"event_id")
      .as[EventStreams.SessionEvent]
      .collect().toSeq
    val maxTs = events.map(_.ts_us).max
    val flush = events.map(_.user_id).distinct.map(u =>
      EventStreams.SessionEvent(u, maxTs + EventStreams.SessionGapUs + 1, -1L))

    val input = MemoryStream[EventStreams.SessionEvent]
    input.addData(events)
    input.addData(flush) // second micro-batch: end-of-stream punctuation
    val got = EventStreams.drainToMemory(
        EventStreams.sessionizeStream(input.toDS()), "sess_punct", "append")
      .select($"user_id", $"session_id", $"start_us", $"end_us", $"n_events")
    val batch = EventStreams.sessionizeBatch(graft.Tables(spark, dir, "events"))

    val gotRows = got.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val batchRows = batch.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(gotRows == batchRows,
      "punctuated stream must emit the complete batch session set")
  }

  test("windowed agg on a one-shot stream equals the batch computation") {
    val batchDf = EventStreams.windowedAgg(graft.Tables(spark, dir, "events"))
    val schema = graft.Tables(spark, dir, "events").schema
    val stream = spark.readStream.schema(schema)
      .parquet(EventStreams.streamableDir(s"$dir/events.parquet"))
    val streamed = EventStreams.drainToMemory(
      EventStreams.windowedAgg(stream), "win_test", "complete")
    assert(streamed.count() == batchDf.count())
    assert(streamed.exceptAll(batchDf).count() == 0)
    assert(batchDf.exceptAll(streamed).count() == 0)
  }

  test("late events beyond the watermark are dropped from append-mode windows") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("event_time", "event_type", "value")
      .withWatermark("event_time", "10 minutes")
      .groupBy(window($"event_time", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
    val q = df.writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    input.addData((ts(0), "a", 1.0), (ts(5), "a", 1.0))
    q.processAllAvailable()
    input.addData((ts(200), "a", 1.0)) // advances watermark past hour 0
    q.processAllAvailable()
    input.addData((ts(1), "a", 99.0)) // late beyond watermark → dropped
    q.processAllAvailable()
    input.addData((ts(400), "a", 1.0)) // close hour-3 window
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late_test").collect()
    // hour-0 window emitted with cnt=2 (the late row did NOT bump it to 3)
    val hour0 = rows.filter(_.getAs[org.apache.spark.sql.Row]("window")
      .getAs[java.sql.Timestamp]("start").getTime == ts(0).getTime)
    assert(hour0.length == 1 && hour0.head.getAs[Long]("cnt") == 2L)
  }

  test("stream dedup suppresses duplicates arriving in a LATER micro-batch " +
    "within the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "user_id", "event_type")
    val q = EventStreams.dedupKeysStream(df)
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    // batch 1: an in-batch duplicate and two distinct keys
    input.addData((ts(0), 1L, "view"), (ts(1), 1L, "view"), (ts(0), 2L, "click"))
    q.processAllAvailable()
    // batch 2: cross-batch duplicate (must stay suppressed — the state
    // store remembers the key across batches) + one genuinely new key
    input.addData((ts(5), 1L, "view"), (ts(5), 3L, "view"))
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup_test").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(keys.length == keys.distinct.length, s"duplicate emission: ${keys.mkString(",")}")
    assert(keys.toSet == Set((1L, "view"), (2L, "click"), (3L, "view")))
  }

  test("stream dedup state is watermark-BOUNDED: keys older than the " +
    "watermark are EVICTED from the state store, engine-attested") {
    // the 100 TB claim behind dropDuplicatesWithinWatermark: state is
    // per-key only WITHIN the 2 h delay, so standing state tracks the
    // (arrival rate × delay) product, not the stream's lifetime key
    // count — without eviction the dedup store grows unboundedly and
    // the operator would not survive a long-running deployment.
    // Attested by the engine's own numRowsTotal, not inferred.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "user_id", "event_type")
    val q = EventStreams.dedupKeysStream(df)
      .writeStream.format("memory").queryName("dedup_evict_test")
      .outputMode("append").start()
    def stateRows = stateRowsOf(q)
    // batch 1: three distinct keys at t0 -> three state rows
    input.addData((ts(0), 1L, "view"), (ts(0), 2L, "view"),
      (ts(0), 3L, "view"))
    q.processAllAvailable()
    assert(stateRows == 3L, s"expected 3 state rows, got $stateRows")
    // batch 2 jumps 10 h ahead — far past every t0 key's 2 h
    // expiration; batch 3 lets the (one-batch-lagged) watermark act
    input.addData((ts(600), 4L, "view"))
    q.processAllAvailable()
    input.addData((ts(601), 4L, "view")) // duplicate: no new key
    q.processAllAvailable()
    q.stop()
    val finalState = stateRows
    assert(finalState == 1L,
      s"t0 keys were not evicted: $finalState state rows remain " +
        "(watermark-bounded state is the operator's scale contract)")
    // and the dedup OUTPUT is untouched by eviction: each key once
    val keys = spark.table("dedup_evict_test").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(keys.length == keys.distinct.length &&
      keys.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("stream-stream interval join state is watermark-BOUNDED: rows " +
    "outside the join range fall out of all four stores, engine-attested") {
    // the interval join's scale contract: each side buffers only the
    // watermark-delay + join-interval band, so standing state tracks
    // (arrival rate x (delay + interval)), not stream lifetime. The
    // 10 min watermark + 1 h view-lookback band means a 10 h jump
    // must evict everything behind it.
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String, Long)]
    val df = input.toDF().toDF("ts", "user_id", "event_type", "event_id")
    val q = EventStreams.purchasesJoinViews(df)
      .writeStream.format("memory").queryName("join_evict_test")
      .outputMode("append").start()
    def stateRows = stateRowsOf(q)
    // batch 1: a matching view->purchase pair at t0 — joins eagerly,
    // both rows buffered
    input.addData((ts(0), 1L, "view", 10L), (ts(5), 1L, "purchase", 11L))
    q.processAllAvailable()
    val buffered = stateRows
    assert(buffered >= 2L, s"expected both t0 rows buffered, got $buffered")
    // batch 2 jumps 10 h — both sides' watermarks advance (one input
    // stream feeds both) far past t0 + interval + delay
    input.addData((ts(600), 2L, "view", 20L), (ts(600), 2L, "purchase", 21L))
    q.processAllAvailable()
    // batch 3 lets the one-batch-lagged watermark evict
    input.addData((ts(1200), 3L, "view", 30L))
    q.processAllAvailable()
    q.stop()
    val finalState = stateRows
    // survivors: the two t+10h rows and the t+20h view — every t0
    // row must be gone (purchase behind the watermark, view behind
    // watermark - 1 h lookback)
    assert(finalState == 3L,
      s"t0 rows were not evicted: $finalState state rows remain")
    val pairs = spark.table("join_evict_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 11L, 10L), (2L, 21L, 20L)),
      s"join output drifted: $pairs")
  }

  test("stream-static enrichment equals the batch join and keeps ZERO " +
    "streaming state") {
    val schema = graft.Tables(spark, dir, "events").schema
    val stream = spark.readStream.schema(schema)
      .parquet(EventStreams.streamableDir(s"$dir/events.parquet"))
    val q = EventStreams.runAvailableNow(
      EventStreams.enrichWithDim(stream, graft.Tables(spark, dir, "customer"))
        .writeStream.format("memory").queryName("enrich_test")
        .outputMode("append"))
    // stateless: the dimension lookup must not allocate state stores
    val state = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
    assert(state.isEmpty, s"expected no state operators, got $state")
    val batch = EventStreams.enrichWithDim(
      graft.Tables(spark, dir, "events"),
      graft.Tables(spark, dir, "customer"))
    assert(spark.table("enrich_test").exceptAll(batch).isEmpty)
    assert(batch.exceptAll(spark.table("enrich_test")).isEmpty)
    assert(spark.table("enrich_test").count() > 0)
  }

  test("streaming funnel: tie-break and ordering semantics match the " +
    "batch min-aggregation on planted journeys, across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // u1: all three stages share one timestamp — every >= holds with
    //     equality, so the full progression must count (stage-first
    //     tie fold). u2: both views precede the signup in EVENT time —
    //     neither may qualify retroactively. u3: purchase strictly
    //     between signup and the qualifying view — reached s2, not s3.
    val ev = Seq(
      EventStreams.FunnelEvent(1L, 100L, 10L, "signup"),
      EventStreams.FunnelEvent(1L, 100L, 11L, "view"),
      EventStreams.FunnelEvent(1L, 100L, 12L, "purchase"),
      EventStreams.FunnelEvent(2L, 50L, 20L, "view"),
      EventStreams.FunnelEvent(2L, 90L, 21L, "view"),
      EventStreams.FunnelEvent(2L, 100L, 22L, "signup"),
      EventStreams.FunnelEvent(3L, 100L, 30L, "signup"),
      EventStreams.FunnelEvent(3L, 120L, 31L, "purchase"),
      EventStreams.FunnelEvent(3L, 150L, 32L, "view"))
    val punct = Seq(1L, 2L, 3L).map(u =>
      EventStreams.FunnelEvent(u, 1000L, -1L, null))

    val input = MemoryStream[EventStreams.FunnelEvent]
    // event-time-ordered batches, punctuation last — timeSlicedDir's
    // delivery contract
    input.addData(ev.filter(_.ts_us <= 100L))
    input.addData(ev.filter(_.ts_us > 100L))
    input.addData(punct)
    val got = EventStreams.drainToMemory(
        EventStreams.funnelStream(input.toDS()), "funnel_tie_test", "append")
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))))
      .toMap
    assert(got(1L) == ((Some(100L), Some(100L), Some(100L))))
    assert(got(2L) == ((Some(100L), None, None)))
    assert(got(3L) == ((Some(100L), Some(150L), None)))

    // and the batch three-pass aggregation lands on the same stages
    val batch = graft.operators.EventAnalytics.funnelStages(
      ev.toDF("user_id", "ts_us", "event_id", "event_type"))
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))))
      .toMap
    assert(got == batch)
  }

  test("a stage-less journey still emits its all-None row on " +
    "punctuation, in BOTH funnel APIs") {
    // batch funnelStages emits one row per user with events — an
    // all-None row for a user whose events qualify no stage; the
    // stream twins must do the same, not conflate "no qualified
    // stage" with "no state". (The lastUs sentinel is Long.MinValue,
    // not 0L: a 0L sentinel would conflate an epoch-0 stage-less
    // journey with `empty` — unreachable today only because Spark's
    // INITIAL watermark of 0 ms drops a ts<=0 row at the gate, an
    // invariant of Spark's, not of this fold. Probed empirically:
    // the epoch-0 row never reaches the operator.)
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def run(tag: String,
        f: org.apache.spark.sql.Dataset[EventStreams.FunnelEvent] =>
          org.apache.spark.sql.Dataset[EventStreams.FunnelOut])
        : Map[Long, Any] = {
      val input = MemoryStream[EventStreams.FunnelEvent]
      // u7's only event: a stage-less view (no prior signup)
      input.addData(Seq(EventStreams.FunnelEvent(7L, 1000L, 70L, "view")))
      input.addData(Seq(EventStreams.FunnelEvent(7L, 2000L, -1L, null)))
      EventStreams.drainToMemory(f(input.toDS()),
        tag, "append").collect()
        .map(r => r.getLong(0) ->
          ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))).toMap
    }
    val viaFmgws = run("funnel_epoch0_fmgws",
      ds => EventStreams.funnelStream(ds))
    // transformWithState requires the RocksDB provider (set/restore)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    val viaTws = try {
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
      run("funnel_epoch0_tws", ds => EventStreams.funnelStreamTws(ds))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val want = Map(7L -> ((None, None, None)))
    assert(viaFmgws == want, s"fMGWS dropped the epoch-0 user: $viaFmgws")
    assert(viaTws == want, s"TWS dropped the epoch-0 user: $viaTws")
  }

  test("funnel event-time timeout flushes a user with NO punctuation once " +
    "the watermark passes their quiet horizon; active users stay in state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // u1 reaches s2 then goes silent — no punctuation row ever arrives
    // for them; u2's later events advance the watermark past u1's
    // quiet horizon, which must flush u1's journey-so-far exactly once
    val input = MemoryStream[EventStreams.FunnelEvent]
    input.addData(
      EventStreams.FunnelEvent(1L, 1000000L, 1L, "signup"),
      EventStreams.FunnelEvent(1L, 2000000L, 2L, "view"),
      EventStreams.FunnelEvent(2L, 1000000L, 3L, "view"))
    input.addData(EventStreams.FunnelEvent(2L, 20000000L, 4L, "view"))
    val rows = EventStreams.drainToMemory(
        EventStreams.funnelStream(input.toDS(), quietUs = 5000000L),
        "funnel_timeout_test", "append")
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))))
    assert(rows.count(_._1 == 1L) == 1,
      s"quiet user must flush exactly once, got: ${rows.mkString(",")}")
    assert(rows.toMap.apply(1L) == ((Some(1000000L), Some(2000000L), None)))
    // u2's last event is within the quiet horizon of the final
    // watermark: still in state, not emitted
    assert(!rows.exists(_._1 == 2L),
      "active user flushed before their quiet horizon passed")
  }

  test("funnel punctuation arriving AFTER a timeout flush emits nothing " +
    "— no fabricated all-None journey row (timeout and punctuation " +
    "compose, the sessionize discipline)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[EventStreams.FunnelEvent]
    // batch 1: u1 signs up; batch 2: u2 advances the watermark far
    // past u1's quiet horizon (timeout flushes u1's journey); batch 3:
    // u1's punctuation finally arrives — it must find no state and
    // emit NOTHING, and must not re-arm a timer that fabricates a row
    input.addData(EventStreams.FunnelEvent(1L, 1000000L, 1L, "signup"))
    input.addData(EventStreams.FunnelEvent(2L, 20000000L, 2L, "view"))
    input.addData(EventStreams.FunnelEvent(1L, 30000000L, -1L, "punct"),
      EventStreams.FunnelEvent(2L, 60000000L, 3L, "view"))
    val u1 = EventStreams.drainToMemory(
        EventStreams.funnelStream(input.toDS(), quietUs = 5000000L),
        "funnel_punct_after_timeout", "append")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)))).filter(_._1 == 1L)
    assert(u1.length == 1,
      s"expected exactly the timeout flush for u1, got: ${u1.mkString(",")}")
    assert(u1.head == ((1L, Some(1000000L), None, None)),
      "the one u1 row must be the real journey, not an all-None fabrication")
  }

  test("streaming funnel gate (q_stream_funnel) equals the batch funnel " +
    "counts") {
    val stream = graft.SparkEntry.queries("q_stream_funnel")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.SparkEntry.queries("q_funnel")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(stream.nonEmpty && stream == batch)
  }

  test("streaming IVF ingest (q_stream_ivf_ingest) assigns cells " +
    "exactly as the batch ivfAssign on the same slice") {
    import graft.operators.SimilarityOps
    val sf = "/root/testdata/sf0.001"
    val ingested = graft.SparkEntry.queries("q_stream_ivf_ingest")(spark, sf)
      .collect().map(_.toSeq).toSet
    val emb = graft.Tables(spark, sf, "embeddings")
    // a FRESH training run, not the gate's cached codebook — the
    // equality below then also pins that the cache is the training
    val centroids = SimilarityOps.ivfTrainQuantized(emb,
      SimilarityOps.NumCentroids, SimilarityOps.IvfTrainGateIters)
    val batch = SimilarityOps.ivfAssign(
      emb.filter(col("vec_id") % SimilarityOps.IvfIngestMod
        === SimilarityOps.IvfIngestMod - 1), centroids)
      .collect().map(_.toSeq).toSet
    assert(ingested == batch)
    assert(ingested.nonEmpty)
  }

  test("streaming ANN serve (q_stream_ann) equals the batch IVF search " +
    "over the same stored index") {
    import graft.operators.SimilarityOps
    val sf = "/root/testdata/sf0.001"
    val served = graft.SparkEntry.queries("q_stream_ann")(spark, sf)
      .collect().map(_.toSeq).toSet
    val emb = graft.Tables(spark, sf, "embeddings")
    val centroids = SimilarityOps.ivfTrainQuantized(emb,
      SimilarityOps.NumCentroids, SimilarityOps.IvfTrainGateIters)
    val probes = emb.filter(col("vec_id") < SimilarityOps.NumProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batch = SimilarityOps.ivfSearch(emb, centroids, probes,
      SimilarityOps.NumProbeCells, SimilarityOps.TopK)
      .collect().map(_.toSeq).toSet
    assert(served == batch)
    assert(served.nonEmpty)
  }

  test("ingest→serve loop (q_stream_ann_after_ingest): the streamed " +
    "appends are READ BACK by the serve — equals the batch IVF search " +
    "over base corpus + ingest slice") {
    import graft.operators.SimilarityOps
    val sf = "/root/testdata/sf0.001"
    val served = graft.SparkEntry.queries("q_stream_ann_after_ingest")(spark, sf)
      .collect().map(_.toSeq).toSet
    val emb = graft.Tables(spark, sf, "embeddings")
    val centroids = SimilarityOps.ivfTrainQuantized(emb,
      SimilarityOps.NumCentroids, SimilarityOps.IvfTrainGateIters)
    val probes = emb.filter(col("vec_id") < SimilarityOps.NumProbes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batch = SimilarityOps.ivfSearch(emb, centroids, probes,
      SimilarityOps.NumProbeCells, SimilarityOps.TopK)
      .collect().map(_.toSeq).toSet
    assert(served == batch)
    assert(served.nonEmpty)
    // read-your-writes is non-vacuous: at least one served neighbor is
    // an INGESTED vector (checked against the fixed testdata), so the
    // equality above cannot hold unless the appends were really read
    val fromIngest = served.count(r => r(1).asInstanceOf[Long] %
      SimilarityOps.IvfIngestMod == SimilarityOps.IvfIngestMod - 1)
    assert(fromIngest > 0, "no served neighbor came from the ingest slice")
  }

  test("streaming source cap: the cap boundary falls inside a later " +
    "micro-batch and the admitted set equals the batch first-K election") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cap = 3
    // source A: 5 docs split 2+3 across batches (cap hits mid-batch-2);
    // source B: 2 docs (under cap); arrival = ascending doc_id
    val b1 = Seq(EventStreams.CapDoc("A", 1L), EventStreams.CapDoc("A", 2L),
      EventStreams.CapDoc("B", 10L))
    val b2 = Seq(EventStreams.CapDoc("A", 3L), EventStreams.CapDoc("A", 4L),
      EventStreams.CapDoc("A", 5L), EventStreams.CapDoc("B", 11L))
    val input = MemoryStream[EventStreams.CapDoc]
    val q = EventStreams.sourceCapStream(input.toDS(), cap)
      .writeStream.format("memory").queryName("cap_test")
      .outputMode("append").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val got = spark.table("cap_test").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set(
      ("A", 1L, 1), ("A", 2L, 2), ("A", 3L, 3), // 3 admitted: 2 + 1 more
      ("B", 10L, 1), ("B", 11L, 2))) // B never reaches the cap
    // gate equality on the real corpus: stream == batch first-K
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.SparkEntry.queries("q_stream_source_cap")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val batch = graft.Tables(spark, sf, "documents")
      .select(col("source"), col("doc_id"),
        row_number().over(w).as("rnk"))
      .filter(col("rnk") <= graft.operators.CurationOps.SourceCap)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("incremental dedup clustering (q_stream_dedup_clusters): the " +
    "batch-by-batch star state equals the batch contraction over the " +
    "full corpus") {
    import graft.operators.DedupOps
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.SparkEntry.queries("q_stream_dedup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = graft.Tables(spark, sf, "documents")
    val batch = DedupOps.dupClustersStar(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    // non-vacuous: the corpus really has multi-doc clusters, so the
    // equality exercised cross-batch candidate discovery
    assert(streamed.groupBy(_._2).exists(_._2.size > 1))
  }

  test("streaming ingest screen quarantines exactly the docs sharing a " +
    "corpus paragraph, probing the STORED bucketed index") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def unit(tag: String) = (1 to graft.operators.DedupOps.ParaTokens)
      .map(i => s"$tag$i").mkString(" ")
    val (a, b, c) = (unit("a"), unit("b"), unit("c"))
    graft.operators.DedupOps.writeParagraphIndex(
      Seq((1L, s"$a $b")).toDF("doc_id", "text"), "para_index_test", 4)
    try {
      val corpusIdx = spark.table("para_index_test")
      val input = MemoryStream[(Long, String)]
      input.addData(
        (10L, s"$c $a"), // shares corpus paragraph a → quarantined
        (11L, s"$c $c"), // unrelated → clean
        (12L, s"$b $b")) // shares corpus paragraph b → quarantined
      val screen = graft.operators.DedupOps.paragraphHashes(
          input.toDF.toDF("doc_id", "text"))
        .join(corpusIdx, Seq("h"), "left_semi")
        .select(col("doc_id"))
        .dropDuplicates("doc_id")
      // the static side IS the stored table, not a recomputed index
      assert(screen.queryExecution.analyzed.collectLeaves().exists(
        _.toString.contains("para_index_test")),
        screen.queryExecution.analyzed)
      val out = EventStreams.drainToMemory(screen,
        "screen_test", "append").collect().map(_.getLong(0)).toSet
      assert(out == Set(10L, 12L))
      // the probe join's STORED side needs no exchange: its bucketed
      // layout replaces the shuffle (batch twin of the same join — the
      // micro-batch planner reuses the batch physical strategies)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val batchTwin = graft.operators.DedupOps.paragraphHashes(
            Seq((10L, s"$c $a")).toDF("doc_id", "text"))
          .join(spark.table("para_index_test"), Seq("h"), "left_semi")
        def subtree(p: SparkPlan): Seq[SparkPlan] =
          p +: p.children.flatMap(subtree)
        val nodes = subtree(batchTwin.queryExecution.executedPlan)
        def isIdxScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec =>
            f.tableIdentifier.exists(_.table == "para_index_test")
          case _ => false
        }
        assert(nodes.exists(isIdxScan), "stored index scan missing")
        val joins = nodes.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if subtree(j.right).exists(isIdxScan) => j
        }
        assert(joins.nonEmpty, "stored-index semi join missing:\n" +
          batchTwin.queryExecution.executedPlan)
        joins.foreach(j => assert(
          !subtree(j.right).exists(_.isInstanceOf[ShuffleExchangeExec]),
          "stored index side must not re-shuffle:\n" +
            batchTwin.queryExecution.executedPlan))
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.enabled")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS para_index_test")
    }
  }

  test("streaming count-min sketch merges counters across micro-batches " +
    "with state bounded by sketch geometry, equal to the batch sketch") {
    import graft.operators.EventAnalytics
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val input = MemoryStream[Long]
    def sketchOf(ds: org.apache.spark.sql.DataFrame) = ds
      .select(posexplode(EventAnalytics.cmBuckets(col("user_id")))
        .as(Seq("i", "bucket")))
      .groupBy(col("i"), col("bucket")).agg(count(lit(1)).as("c"))
    val q = sketchOf(input.toDF.toDF("user_id"))
      .writeStream.format("memory").queryName("cm_test")
      .outputMode("complete").start()
    // two batches with overlapping keys: the counter merge must fold
    // batch 2 INTO batch 1's counters, not restart them
    input.addData(1L, 2L, 2L, 3L)
    q.processAllAvailable()
    input.addData(2L, 3L, 3L, 99L)
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a real multi-batch run, got $batches")
    // state is the d×w counter table, NOT per-key rows
    val stateRows = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators).map(_.numRowsTotal).sum
    assert(stateRows <= EventAnalytics.CmDepth * EventAnalytics.CmWidth,
      s"state rows $stateRows exceed sketch geometry")
    q.stop()
    val got = spark.table("cm_test")
    val batchTwin = sketchOf(
      Seq(1L, 2L, 2L, 3L, 2L, 3L, 3L, 99L).toDF("user_id"))
    assert(got.exceptAll(batchTwin).isEmpty && batchTwin.exceptAll(got).isEmpty)
    // and the reference invariant: every counter ≥ any member key's
    // true count (one-sided error of the min-estimate)
    val total = got.agg(sum(col("c"))).head.getLong(0)
    assert(total == 8L * EventAnalytics.CmDepth) // each row of d counts all n
  }

  test("topk leaderboard merge: a user cut from the k-row board " +
    "re-enters only through an update, and the final board is the " +
    "batch top-k of a planted drop/re-enter sequence") {
    import spark.implicits._
    def upd(rows: (Long, Long)*) = rows.toDF("user_id", "cnt")
    val k = 2
    // trigger 1: A=5 B=4 C=3 → C is cut at the k-row boundary
    val b1 = graft.operators.StreamingOps.topkBoardMerge(Nil, upd(1L -> 5L, 2L -> 4L, 3L -> 3L), k)
    assert(b1.toSeq == Seq(1L -> 5L, 2L -> 4L))
    // trigger 2: only C updates (cumulative 6) — re-enters via the
    // update row, displacing B whose count is unchanged
    val b2 = graft.operators.StreamingOps.topkBoardMerge(b1.toSeq, upd(3L -> 6L), k)
    assert(b2.toSeq == Seq(3L -> 6L, 1L -> 5L))
    // trigger 3: B grows past everyone; A (no update, on the board)
    // keeps its count through the merge
    val b3 = graft.operators.StreamingOps.topkBoardMerge(b2.toSeq, upd(2L -> 7L), k)
    assert(b3.toSeq == Seq(2L -> 7L, 3L -> 6L))
    // the final board IS the batch top-k of the cumulative counts
    // (A=5, B=7, C=6), including the irrevocable-drop property: A
    // fell off at trigger 3 and nothing can bring it back unupdated

    // gate equivalence on the real corpus: stream == batch election
    val sf = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("q_stream_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(_._3)
    val want = graft.Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("user_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(t => (t._1, t._2)).toSeq == want.toSeq)
    assert(got.map(_._3).toSeq == (1 to got.length))
  }

  test("streaming SCD2: planted run-collapse, same-ts tie and change " +
    "journeys match the batch history across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // u1: A A B A — three versions, the middle change crossing a
    // micro-batch boundary. u2: a same-ts tie (event_id order decides
    // which attr opens version 1). u3: constant attr — one version.
    val ev = Seq(
      EventStreams.Scd2Event(1L, 10L, 1L, "A"),
      EventStreams.Scd2Event(1L, 20L, 2L, "A"),
      EventStreams.Scd2Event(1L, 130L, 3L, "B"),
      EventStreams.Scd2Event(1L, 140L, 4L, "A"),
      EventStreams.Scd2Event(2L, 10L, 6L, "B"),
      EventStreams.Scd2Event(2L, 10L, 5L, "A"),
      EventStreams.Scd2Event(3L, 50L, 7L, "C"),
      EventStreams.Scd2Event(3L, 160L, 8L, "C"))
    val punct = Seq(1L, 2L, 3L).map(u =>
      EventStreams.Scd2Event(u, 1000L, -1L, null))
    val input = MemoryStream[EventStreams.Scd2Event]
    input.addData(ev.filter(_.ts_us <= 100L))
    input.addData(ev.filter(_.ts_us > 100L))
    input.addData(punct)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5))
    val got = EventStreams.drainToMemory(EventStreams.scd2Stream(input.toDS()),
      "scd2_tie_test", "append").collect().map(key).toSet
    assert(got == Set(
      (1L, "A", 1L, 10L, 130L, false),
      (1L, "B", 2L, 130L, 140L, false),
      (1L, "A", 3L, 140L, -1L, true),
      (2L, "A", 1L, 10L, 10L, false),
      (2L, "B", 2L, 10L, -1L, true),
      (3L, "C", 1L, 50L, -1L, true)))
    // and the batch derivation lands on the same history
    val batch = graft.operators.WarehouseOps.scd2History(
      ev.toDF(), // case-class field names ride along
      "user_id", "event_type", "ts_us", "event_id")
      .select(col("user_id"), col("attr"), col("version"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"))
      .collect().map(key).toSet
    assert(got == batch)
  }

  test("SCD2 event-time timeout flushes a quiet user's open version " +
    "once; active users stay in state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // u1 goes silent with an open version and never gets punctuation;
    // u2's later events advance the watermark past u1's quiet horizon
    val input = MemoryStream[EventStreams.Scd2Event]
    input.addData(
      EventStreams.Scd2Event(1L, 1000000L, 1L, "A"),
      EventStreams.Scd2Event(1L, 2000000L, 2L, "B"),
      EventStreams.Scd2Event(2L, 1000000L, 3L, "A"))
    input.addData(EventStreams.Scd2Event(2L, 20000000L, 4L, "A"))
    val rows = EventStreams.drainToMemory(
        EventStreams.scd2Stream(input.toDS(), quietUs = 5000000L),
        "scd2_timeout_test", "append")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getBoolean(5)))
    // u1: the A->B change closed version 1 normally; the timeout then
    // flushed the open B version exactly once as current
    assert(rows.count(t => t._1 == 1L && t._2 == "B" && t._4) == 1,
      s"quiet user's open version must flush exactly once: ${rows.mkString(",")}")
    assert(rows.contains((1L, "A", 1L, false)))
    // u2's last event is inside the quiet horizon: still in state
    assert(!rows.exists(_._1 == 2L),
      "active user flushed before their quiet horizon passed")
  }

  test("streaming SCD2 gate (q_stream_scd2) equals the batch history " +
    "(q_scd2_history) row for row") {
    def rows(name: String) =
      graft.SparkEntry.queries(name)(spark, dir).collect()
        .map(_.toSeq).toSet
    val stream = rows("q_stream_scd2")
    assert(stream.nonEmpty && stream == rows("q_scd2_history"))
  }

  test("streaming CDC merge gate (q_stream_merge) equals the one-shot " +
    "batch merge (q_merge_upsert), provenance included") {
    def rows(name: String) =
      graft.SparkEntry.queries(name)(spark, dir).collect()
        .map(_.toSeq).toSet
    val stream = rows("q_stream_merge")
    assert(stream.nonEmpty && stream == rows("q_merge_upsert"))
  }

  test("transformWithState funnel == flatMapGroupsWithState funnel " +
    "on the corpus, quiet-horizon timers included, under RocksDB") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = graft.Tables.events(spark, dir)
      .select($"user_id", $"ts_us", $"event_id", $"event_type")
      .as[EventStreams.FunnelEvent]
      .collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
    val (b1, b2) = events.splitAt(events.size / 2)
    // a small quiet horizon so the closing no-data batch fires the
    // event-time flush for every user (no punctuation needed)
    val quiet = 60L * 1000000L
    def run(name: String,
        f: org.apache.spark.sql.Dataset[EventStreams.FunnelEvent] =>
          org.apache.spark.sql.Dataset[EventStreams.FunnelOut]) = {
      val input = MemoryStream[EventStreams.FunnelEvent]
      input.addData(b1); input.addData(b2)
      EventStreams.drainToMemory(f(input.toDS()),
        name, "append").collect()
        .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
          Option(r.get(3)))).toSet
    }
    val fmgws = run("ftws_ref",
      EventStreams.funnelStream(_, quietUs = quiet))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
      val tws = run("ftws_test",
        EventStreams.funnelStreamTws(_, quietUs = quiet))
      assert(tws.nonEmpty && tws == fmgws,
        "transformWithState funnel diverged from flatMapGroupsWithState")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a custom-UDAF streaming aggregation (Misra-Gries buffers as " +
    "state) runs unchanged under RocksDB: guarantees hold and match " +
    "the default provider") {
    // the sketch streams keep a CUSTOM Aggregator buffer (a case
    // class with a Map field) as streaming-aggregation state — a
    // different state-store codepath than fMGWS/TWS records, so the
    // provider-equivalence proof must cover it too
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    def run(name: String): Map[String, (Long, Boolean)] = {
      val input = MemoryStream[(String, Seq[String])]
      // two batches so the standing sketch really merges partials:
      // "hot" is heavy in both, the tail differs per batch
      input.addData(("s", Seq.fill(30)("hot") ++ (0 to 9).map("a" + _)))
      input.addData(("s", Seq.fill(20)("hot") ++ (0 to 9).map("b" + _)))
      EventStreams.drainToMemory(input.toDS().toDF("source", "toks")
          .groupBy(col("source"))
          .agg(graft.functions.FrequentItems.sketch(col("toks"), 4).as("mg")),
        name, "complete").collect().map { r =>
        val mg = r.getStruct(1)
        val items = mg.getMap[String, Long](1)
        (r.getString(0), (mg.getLong(0), items.contains("hot")))
      }.toMap
    }
    val hdfs = run("mg_rocks_ref")
    try {
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
      val rocks = run("mg_rocks_test")
      // n is exact and the planted heavy hitter (71% > n/(k+1)=14%)
      // must be present under BOTH providers
      assert(rocks == hdfs && rocks("s") == (70L, true),
        s"RocksDB sketch state diverged: $rocks vs $hdfs")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stateful streams run unchanged under the RocksDB state store " +
    "— the provider a production cluster deploys — with output equal " +
    "to the default provider") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    def run(name: String): Set[(Long, Int, Long, Long, Long)] = {
      val input = MemoryStream[EventStreams.SessionEvent]
      input.addData(
        EventStreams.SessionEvent(1L, 1000000L, 1L),
        EventStreams.SessionEvent(1L, 2000000L, 2L),
        EventStreams.SessionEvent(2L, 1000000L, 3L))
      // second batch: u1 beyond the gap (new session), then punctuation
      input.addData(
        EventStreams.SessionEvent(1L,
          2000000L + EventStreams.SessionGapUs + 1L, 4L))
      input.addData(
        EventStreams.SessionEvent(1L, 9000000000L, -1L),
        EventStreams.SessionEvent(2L, 9000000000L, -1L))
      EventStreams.drainToMemory(EventStreams.sessionizeStream(input.toDS()),
        name, "append").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
    }
    val hdfs = run("rocksdb_ref_default")
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val rocks = run("rocksdb_under_test")
      assert(rocks.nonEmpty && rocks == hdfs,
        "RocksDB-backed run diverged from the default state store")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("sessionize stream RESUMES from its checkpoint: stop after the " +
    "early slices, restart against the same checkpoint, and the two " +
    "runs' combined output equals the batch sessionization exactly") {
    import spark.implicits._
    // planted so a session is GUARANTEED to straddle the restart:
    // u1's 25-min steps span both slices (one 4-event session); u2
    // closes one session inside slice 0 (phase 1 emits something),
    // leaves one open across the boundary, and opens a last one late.
    // base is a realistic epoch — event times at epoch 0 collide with
    // the initial watermark value and are dropped as late
    val m = 60L * 1000 * 1000 // one minute in micros
    val base = 1700000000000000L
    val ev = Seq(
      (1L, base, 1L), (1L, base + 25 * m, 2L), (1L, base + 50 * m, 3L),
      (1L, base + 75 * m, 4L),
      (2L, base, 5L), (2L, base + 33 * m, 6L), (2L, base + 90 * m, 7L))
      .toDF("user_id", "ts_us", "event_id")
    val inDir = EventStreams.timeSlicedDir(
      ev, nSlices = 2, gapUs = EventStreams.SessionGapUs)
    val boundary = base + 45 * m // (hi - lo) / 2 puts the slice cut here
    val cp = java.nio.file.Files.createTempDirectory("graft_cp").toString
    // hold back the later slices to simulate a crash/redeploy boundary
    val in = new java.io.File(inDir)
    val hold = java.nio.file.Files.createTempDirectory("graft_hold")
    val files = in.listFiles().sortBy(_.getName)
    val (early, late) = files.splitAt(1)
    assert(early.nonEmpty && late.nonEmpty)
    val moved = late.map { f =>
      val t = f.toPath.getFileName
      val mtime = java.nio.file.Files.getLastModifiedTime(f.toPath)
      java.nio.file.Files.move(f.toPath, hold.resolve(t))
      (t, mtime)
    }
    // memory sink cannot recover from a checkpoint — use the
    // fault-tolerant FILE sink, exactly as a production redeploy would
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_cp_out").toString
    def phase(): Unit = EventStreams.runAvailableNow(
      EventStreams.sessionizeStream(
        EventStreams.filePerTrigger(spark, ev.schema, inDir)
          .as[EventStreams.SessionEvent])
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", cp)
        .outputMode("append"))
    def read(): Array[(Long, Int, Long, Long, Long)] =
      spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
    phase()
    val out1 = read()
    assert(out1.nonEmpty, "phase 1 emitted nothing — boundary too early")
    // "redeploy": the held-back slices arrive, SAME checkpoint — the
    // state store must restore open sessions across the restart
    moved.foreach { case (t, mtime) =>
      val dest = in.toPath.resolve(t)
      java.nio.file.Files.move(hold.resolve(t), dest)
      java.nio.file.Files.setLastModifiedTime(dest, mtime)
    }
    phase()
    val all = read()
    val out2 = {
      val seen = out1.toSet
      all.filterNot(seen)
    }
    assert(all.length == all.distinct.length &&
      all.length == out1.length + out2.length,
      "a session was emitted by BOTH runs — exactly-once broken")
    val combined = all.toSet
    // batch truth on the planted events: u1 one 4-event session,
    // u2 three single-event sessions (33 min and 57 min gaps split)
    assert(combined == Set(
      (1L, 1, base, base + 75 * m, 4L),
      (2L, 1, base, base, 1L),
      (2L, 2, base + 33 * m, base + 33 * m, 1L),
      (2L, 3, base + 90 * m, base + 90 * m, 1L)),
      "restart-combined stream output diverged from batch sessionization")
    // the restart actually mattered: phase 2 emitted sessions whose
    // span STARTS before the boundary (state restored, not rebuilt)
    assert(out2.exists(_._3 < boundary),
      "no session straddled the restart — the recovery was vacuous")
  }

  test("streaming HLL gate (q_stream_hll): deterministic across runs " +
    "and every source meets the 5% audit — same contract as the " +
    "batch sketch gate") {
    def run() = graft.SparkEntry.queries("q_stream_hll")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    val first = run()
    assert(first.nonEmpty && first.forall(_._3))
    assert(first == run(), "stream-maintained sketch is nondeterministic")
    assert(first == graft.SparkEntry.queries("q_sketch_hll")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .toSet, "stream audit diverged from the batch sketch audit")
  }

  test("TWS sessionizer RESUMES from its RocksDB checkpoint: the " +
    "transformWithState sibling of the fMGWS restart proof — value " +
    "state AND armed event-time timers must survive the redeploy") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // same planted shape as the fMGWS restart test: u1's 25-min
      // steps straddle the slice cut inside one session, u2 closes a
      // session early, leaves one open across the boundary
      val m = 60L * 1000 * 1000
      val base = 1700000000000000L
      val ev = Seq(
        (1L, base, 1L), (1L, base + 25 * m, 2L), (1L, base + 50 * m, 3L),
        (1L, base + 75 * m, 4L),
        (2L, base, 5L), (2L, base + 33 * m, 6L), (2L, base + 90 * m, 7L))
        .toDF("user_id", "ts_us", "event_id")
      def tuples(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
      val (out1, allDf) = EventStreams.restartPhases(
        spark, ev, EventStreams.sessionizeStreamTws)(tuples)
      val all = tuples(allDf)
      assert(all.length == all.distinct.length &&
        all.length > out1.length,
        "TWS restart re-emitted or lost sessions across the checkpoint")
      assert(all.toSet == Set(
        (1L, 1, base, base + 75 * m, 4L),
        (2L, 1, base, base, 1L),
        (2L, 2, base + 33 * m, base + 33 * m, 1L),
        (2L, 3, base + 90 * m, base + 90 * m, 1L)),
        "TWS restart-combined output diverged from batch sessionization")
      val boundary = base + 45 * m
      assert(all.toSet.diff(out1.toSet).exists(_._3 < boundary),
        "no session straddled the TWS restart — the recovery was vacuous")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("restart gate (q_stream_restart): deterministic across runs and " +
    "equal to the single-run sessionize gate row for row — the " +
    "checkpoint boundary must be output-invisible") {
    def rows(name: String) =
      graft.SparkEntry.queries(name)(spark, dir).collect()
        .map(_.toSeq).toSet
    val first = rows("q_stream_restart")
    assert(first.nonEmpty)
    assert(first == rows("q_stream_restart"),
      "restart gate is nondeterministic across invocations")
    assert(first == rows("q_stream_sessionize"),
      "restarted two-phase run diverged from the uninterrupted stream")
  }

  test("native session_window streaming gate (q_stream_session_window) " +
    "equals the batch gate (q_session_window) row for row") {
    def rows(name: String) =
      graft.SparkEntry.queries(name)(spark, dir).collect()
        .map(_.toSeq).toSet
    val stream = rows("q_stream_session_window")
    assert(stream.nonEmpty && stream == rows("q_session_window"))
  }

  test("watermark late-data boundaries (q_stream_late_data's rules): the " +
    "late filter uses the PREVIOUS batch's watermark, eviction the " +
    "current one, and both predicates are non-strict (end <= wm)") {
    import spark.implicits._
    // Planted boundary fixture (1-day windows, 72 h delay):
    //   slice 1 (on-time) max ts = d20 exactly -> wm after batch 0 =
    //   d17 EXACTLY (a day boundary, so every <-vs-<= choice shows).
    val day = 86400000000L
    val hour = 3600000000L
    val s1 = Seq((0L, 10 * day + hour), (0L, 16 * day + hour),
      (0L, 17 * day + hour), (0L, 20 * day))
    // slice 2 arrives at batch 1: filter wm is batch 0's (-inf), so
    // NOTHING here may drop — not the d10 row (window long past the
    // d17 watermark in effect) and not the d17-end boundary rows.
    val s2 = Seq((1L, 16 * day + 2 * hour), (1L, 17 * day - 1L),
      (1L, 17 * day + 2 * hour), (1L, 10 * day + 2 * hour))
    // slice 3 arrives at batch 2: filter wm is batch 1's = d17, so
    // BOTH rows must drop — d11-end (clearly late) and d17-end
    // (boundary: end == wm, non-strict filter). If the filter were
    // strict, the d17-end row would re-open the already-emitted
    // [d16,d17) window and append a duplicate.
    val s3 = Seq((1L, 10 * day + 3 * hour), (1L, 16 * day + 3 * hour))
    // stage through the PRODUCTION slicer, not a hand-rolled copy of
    // its recipe — the point of the fixture is that the spec rides
    // the same ordered-trigger delivery mechanism the gate uses
    val in = graft.streaming.EventStreams.customSlicedDir("late_spec",
      Seq(s1, s2, s3).map(_.toDF("user_id", "ts_us")))
    val stream = EventStreams.filePerTrigger(spark,
      org.apache.spark.sql.types.StructType.fromDDL("user_id LONG, ts_us LONG"),
      in)
    val got = EventStreams.drainToMemory(stream
        .withColumn("event_time", timestamp_micros(col("ts_us")))
        .withWatermark("event_time", "72 hours")
        .groupBy(window(col("event_time"), "1 day"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("window.start")).as("ws"), col("n")),
      "late_bounds", "append").collect()
      .map(r => (r.getLong(0) / day, r.getLong(1))).toMap
    // [d10,d11): on-time row + slice-2 late merge (NOT dropped), the
    // slice-3 row dropped -> 2. Emitted because end d11 <= final wm.
    // [d16,d17): 1 on-time + 2 slice-2 boundary rows kept, slice-3
    // boundary row dropped -> 3. end d17 == final wm d17: non-strict
    // EVICTION emits it.
    // [d17,d18) and [d20,d21): end > final wm d17 -> held, never
    // emitted (the delta a longer stream would flush later).
    assert(got == Map(10L -> 2L, 16L -> 3L),
      s"boundary semantics drifted: $got")
  }

  test("q_stream_late_data's engine-counted watermark drops equal the " +
    "oracle rule's predicted count (numRowsDroppedByWatermark)") {
    import graft.operators.StreamingOps
    // the gate's own body, with the stream's summed
    // numRowsDroppedByWatermark returned alongside the table
    val (out, engineDrops) = StreamingOps.runLateData(spark, dir)
    assert(out.count() > 0)
    // The metric counts rows REACHING the stateful operator, i.e.
    // post-map-side-combine PARTIAL rows, not raw input rows: wave 2's
    // late input rows collapse to one partial row per (partition,
    // window), and each slice file is a single scan partition at this
    // scale, so the engine's count is the number of DISTINCT dropped
    // windows. The drop predicate uses the LAGGED watermark — the
    // value set by the on-time batch (wave 1's advance only takes
    // effect a batch later), non-strict on window end — which is
    // exactly the gate's oracle rule. Probed empirically this round:
    // 78 late input rows in 24 distinct windows -> engine counts 24,
    // and the window whose end sits between the lagged and current
    // watermark is kept, not counted.
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val maxTs = ev.agg(max(col("ts_us"))).head().getLong(0)
    val delayed = col("user_id") % 5 === 3 ||
      col("ts_us") > maxTs - StreamingOps.DayUs
    // ms-truncate the max before subtracting the delay (Spark tracks
    // watermarks at ms precision), and compute the window start in
    // pure LONG arithmetic (ts - ts % day) — Spark's `/` on longs is
    // double division, which would turn "window end <= wm" into
    // "ts + 1 day <= wm" and undercount a dropped window whose rows
    // all sit past the wm-day offset
    val onMaxUs = ev.filter(!delayed).agg(max(col("ts_us")))
      .head().getLong(0)
    val wmOnTime = (onMaxUs / 1000L) * 1000L - StreamingOps.LateDelayUs
    val wstart = col("ts_us") - col("ts_us") % StreamingOps.DayUs
    val droppedRows = ev.filter(delayed && col("event_id") % 2 === 1)
      .filter(wstart + StreamingOps.DayUs <= wmOnTime)
    val predicted = droppedRows.select(wstart.as("w")).distinct().count()
    val droppedRowCount = droppedRows.count()
    assert(predicted > 0,
      "fixture degenerated: the delayed replay drops nothing at " + dir)
    // hard bounds that hold whatever the scan layout: at least one
    // counted partial row per dropped window, at most one per dropped
    // input row
    assert(engineDrops >= predicted && engineDrops <= droppedRowCount,
      s"engine counted $engineDrops watermark drops outside " +
        s"[$predicted, $droppedRowCount] — the drop semantics forked")
    // and exactly the distinct-window count while each slice stages
    // as ONE file scanned as ONE partition (tiny files, far below
    // maxPartitionBytes); if this line alone starts failing with
    // engineDrops a small multiple of predicted, the wave-2 slice
    // began splitting into several scan partitions — loosen to the
    // bounds above, the semantics have not forked
    assert(engineDrops == predicted,
      s"engine counted $engineDrops watermark-dropped state rows, the " +
        s"oracle rule predicts $predicted distinct dropped windows")
  }

  test("runAvailableNow drains a staged input one file per trigger and " +
    "returns the terminated query") {
    val df = spark.range(0, 300).toDF("id")
    val inDir = EventStreams.stagedParquet(df, 3)
    val files = new java.io.File(inDir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 3, s"fixture staged $files files, not 3")
    val q = EventStreams.runAvailableNow(
      EventStreams.filePerTrigger(spark, df.schema, inDir)
        .writeStream.format("memory").queryName("runner_slices")
        .outputMode("append"))
    assert(!q.isActive && q.exception.isEmpty)
    val rows = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(rows.length == 3,
      s"expected one non-empty trigger per staged file: ${rows.mkString(",")}")
    assert(rows.sum == 300L)
    assert(spark.table("runner_slices").count() == 300L)
  }

  test("a failing foreachBatch body surfaces from runAvailableNow as a " +
    "StreamingQueryException carrying the original cause, and no " +
    "stream stays active") {
    val df = spark.range(0, 10).toDF("id")
    val inDir = EventStreams.stagedParquet(df, 1)
    val boom = new IllegalStateException("planted trigger failure")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.runAvailableNow(
        EventStreams.filePerTrigger(spark, df.schema, inDir).writeStream
          .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
            (throw boom): Unit
          })
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.exists(_ eq boom),
      s"original cause lost: ${causes.map(_.getClass.getName).mkString(" <- ")}")
    assert(spark.streams.active.isEmpty)
  }

  test("no file in src/main starts or awaits a stream outside " +
    "EventStreams.runAvailableNow") {
    // one hook point for per-trigger phases and trigger levers: any
    // new AvailableNow start/await copy elsewhere fails here. A
    // thread pool's timed await (Concurrent) is not a stream.
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} is not a directory")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val streamCall =
      """Trigger\.AvailableNow|(?<!pool)\.awaitTermination\(""".r
    val hits = for {
      f <- files(root) if f.getName != "EventStreams.scala"
      (line, i) <- java.nio.file.Files.readString(f.toPath).split("\n")
        .zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
      if streamCall.findFirstIn(code.split("//").head).nonEmpty
    } yield s"${f.getPath}:${i + 1}: $code"
    assert(files(root).exists(_.getName == "EventStreams.scala"))
    assert(hits.isEmpty,
      "stream start/await outside the runner:\n" + hits.mkString("\n"))
  }
}
