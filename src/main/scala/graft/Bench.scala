package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR, writes per-query wall-clock seconds to a JSON
  * FILE (SPARK_GRAFT_BENCH_OUT, default ./BENCH_QUERIES.json) and
  * prints TWO JSON lines: the full record (per-query `queries` map
  * included — the r21 verdict's ask, so the driver's PERF comparator
  * can read per-query minima off stdout) followed by ONE compact
  * summary line — total only — as the LAST stdout line. The order
  * matters: the registry outgrew the harness's bounded 2000-char
  * log tail twice (r6: full precision, r8: 103 keys even shortened),
  * so the LAST line must stay O(1) regardless of registry size and
  * the unbounded record prints above it.
  *
  * Each query runs through the noop sink ([[Harness.noop]]), so the
  * timing covers every output row and column.
  *
  * Timing is the MINIMUM of SPARK_GRAFT_BENCH_ITERS runs (default 3),
  * with extra SPARK_GRAFT_BENCH_HEAVY_ITERS runs (default 2 more,
  * best-of-5) granted to queries whose best-of-3 either exceeds
  * [[Bench.HeavyThresholdSec]] OR regressed more than
  * [[Bench.RegressionFactor]]× against the previous round's recorded
  * value (read from the existing BENCH_QUERIES.json before it is
  * overwritten) — the r11 lesson: the absolute threshold protected
  * exactly the wrong queries, letting three sub-3 s queries report
  * 4–6× box-noise regressions on untouched code. On a time-shared
  * box, contention noise is strictly ADDITIVE — a run is never faster
  * than the work — so the minimum is the best estimator of the
  * query's true cost; the r9/r10 whipsaw (same code, 1.07 s vs 40.3 s
  * on one query) showed the median of 3 still passes through whole
  * noisy windows. The first run's plan-compile + codegen overhead is
  * absorbed the same way. The per-query file records BOTH min
  * (`queries`, the headline — comparable from r11 on) and median
  * (`queries_median` — comparable with pre-r11 rounds, and the
  * steady-state view that keeps recurring costs like GC pressure
  * visible). ANY failed run — base or extra — marks the query failed:
  * a timing whose extra iterations crashed is not evidence.
  *
  * CONTENTION GUARD (r16): min-of-N is defenseless when the box is
  * busy for the WHOLE measurement window — r15 recorded three queries
  * at 3–19× their reproducible cost and the record read as truth. A
  * fixed deterministic CPU probe (range→xxhash64→sum) is timed
  * best-of-3 after warmup as the baseline, then re-timed every
  * [[ProbeEvery]] queries; a probe above [[ContentionFactor]]× the
  * baseline marks every query since the last clean probe as
  * contended. Contended queries are RE-MEASURED at sweep end inside a
  * probe bracket: a clean bracket replaces the contaminated evidence
  * (overall min kept — contention is additive — median from the
  * clean run), a dirty one leaves the query in the record's
  * `contended` list. The NEXT sweep's regression rule drops
  * prev-flagged entries instead of anchoring to phantom minima.
  */
object Bench {

  /** Best-of-3 above this many seconds triggers the extra
    * heavy-query iterations: cheap queries can't amortize 5 runs,
    * expensive ones are exactly where box noise distorts rankings. */
  val HeavyThresholdSec = 5.0

  /** Best-of-3 above this multiple of the query's previous-round
    * recorded value also triggers the extra iterations — small fast
    * queries sit below the absolute threshold, but a 3× jump on one
    * is exactly the box-noise signature worth re-measuring. */
  val RegressionFactor = 3.0

  /** Calibration probe drift above this multiple of the sweep-start
    * baseline marks every query since the last clean probe as
    * contended. The r15 lesson: min-of-N with quiesce is defenseless
    * against contention SUSTAINED across all N runs — three queries
    * recorded 3–19× their reproducible cost and the record read as
    * truth. The probe is fixed deterministic CPU work, so its cost
    * moves only when the box does. */
  val ContentionFactor = 2.0

  /** Queries per probe interval. Smaller = finer attribution of a
    * contended window, at ~probe-cost × registry/N overhead. */
  val ProbeEvery = 8

  /** Rows of `range → xxhash64 → bit_xor` per probe PER CORE — sized
    * so one probe is a few hundred ms whatever the --master
    * parallelism: long enough to sample steal, short enough that ~25
    * probes add seconds, not minutes. A fixed total (the first cut:
    * 2e9 rows, right at local[32]) would cost 4–8× as much on the
    * default 4-cpu config and turn the guard into minutes of pure
    * probe overhead. Per-core scaling keeps within-sweep
    * comparability (all a sweep's probes run the same row count) —
    * cross-sweep probe baselines were never comparable across
    * different core counts anyway, which is why the baseline is
    * recorded in the record's calibration field. */
  val ProbeRowsPerCore = 62500000L

  /** How many probe-bracketed re-measurement attempts a contended
    * query gets at sweep end before its record ships flagged. One
    * attempt (the r16 design) was defenseless against a contention
    * window that outlasts the whole recovery pass — the r18 driver
    * sweep shipped 9 still-flagged queries, the first non-empty
    * `contended` list since the guard landed. A second bracket after
    * [[RecoverySettleMs]] of idle recovers any spike shorter than the
    * settle window; a box that is STILL dirty then is dirty for the
    * record's reader too, which is exactly what the flag says. */
  val RecoveryAttempts = 2

  /** Idle pause before each RETRY bracket (not the first attempt —
    * the sweep just ended, no point waiting before trying once): long
    * enough for a co-tenant burst to drain, short enough that
    * `attempts × settle × |contended|` stays seconds. */
  val RecoverySettleMs = 3000L

  /** Per-query verdict of [[recoverOne]]. */
  private[graft] sealed trait RecoveryOutcome
  private[graft] object RecoveryOutcome {
    /** A clean bracket replaced the contaminated evidence: publish
      * `timings`' median and `overallMin` (min across first pass and
      * every rerun — contention is additive, the minimum only
      * improves). */
    final case class Recovered(timings: Seq[Double], overallMin: Double)
      extends RecoveryOutcome
    /** Every bracket stayed dirty: publish `overallMin` but keep the
      * query flagged (median untrusted; the next sweep's regression
      * rule drops it as a reference). */
    final case class StillDirty(overallMin: Double) extends RecoveryOutcome
    /** A rerun crashed — the any-failed-run rule applies to
      * re-measurement too: the query publishes failed (-1), whatever
      * the brackets said. */
    case object Crashed extends RecoveryOutcome
  }

  /** Up to `attempts` probe-bracketed re-measurements of ONE contended
    * query. Each attempt brackets `measure()` between two `probe()`
    * samples; `clean` is the drift verdict on a sample. The first
    * clean bracket wins; later attempts wait `settle()` first so a
    * short co-tenant burst can drain. Every probe sample is returned
    * for the record's environment trace — omitting retry brackets
    * would let worst_probe_sec read clean next to a non-empty
    * contended list. Spec-pinned in BenchSpec (planted dirty-then-
    * clean brackets, crash-on-retry, never-clean). */
  private[graft] def recoverOne(
      firstPassMin: Double,
      attempts: Int,
      measure: () => Seq[Double],
      probe: () => Double,
      clean: Double => Boolean,
      settle: () => Unit): (RecoveryOutcome, Seq[Double]) = {
    val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
    var best = firstPassMin
    var a = 0
    while (a < attempts) {
      if (a > 0) settle()
      val before = probe()
      val rerun = measure()
      val after = probe()
      samples += before += after
      if (rerun.isEmpty) return (RecoveryOutcome.Crashed, samples.toSeq)
      best = math.min(best, rerun.min)
      if (clean(before) && clean(after))
        return (RecoveryOutcome.Recovered(rerun, best), samples.toSeq)
      a += 1
    }
    (RecoveryOutcome.StillDirty(best), samples.toSeq)
  }

  /** The family partition of the gate surface, for the record's
    * subtotals: STREAM gates run Structured Streaming queries whose
    * cost is trigger/IO/timer floors, and they normalize differently
    * under the CPU probe than batch gates — the r19 measured split
    * was stream median 1.21× vs non-stream 0.93× between two clean
    * sweeps of IDENTICAL code. One normalized total mixes the two
    * regimes, so every round-over-round comparison needed a SCALE.md
    * paragraph; the record now ships both subtotals so the
    * adjudication is mechanical. Keyed off the naming convention the
    * stream gates own (q_stream_*), spec-pinned in BenchSpec. */
  private[graft] def isStream(name: String): Boolean =
    name.startsWith("q_stream_")

  /** (streamSec, nonStreamSec, nStream, nNonStream) over
    * successfully-timed queries; failed entries (−1) count in
    * NEITHER family — they are absent from the total too. */
  private[graft] def familyTotals(
      results: Seq[(String, Double)]): (Double, Double, Int, Int) = {
    val ok = results.filter(_._2 >= 0)
    val (s, ns) = ok.partition(r => isStream(r._1))
    (s.map(_._2).sum, ns.map(_._2).sum, s.size, ns.size)
  }

  /** Parse a previous BENCH_QUERIES.json record into the per-query
    * minima the regression re-run rule compares against. Entries the
    * previous sweep itself flagged contended carry inflated minima;
    * treating one as the regression reference would let a REAL
    * slowdown hide under the phantom number, so flagged names are
    * DROPPED (disabling the rule for that query instead of anchoring
    * it to a lie). Malformed text throws — the caller distinguishes a
    * MISSING file (expected: first round, renamed output → silently
    * no record) from an existing file that fails to parse (format
    * drift → loud stderr warning, rule disabled for the sweep), never
    * a crash. Spec-pinned in BenchSpec. */
  private[graft] def parsePrevMinima(txt: String): Map[String, Double] = {
    val body = txt.substring(txt.indexOf("\"queries\":{") + 11)
    val inner = body.substring(0, body.indexOf('}'))
    val all = inner.split(',').iterator.flatMap { kv =>
      kv.split(':') match {
        case Array(k, v) =>
          try Some(k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble)
          catch { case _: NumberFormatException => None }
        case _ => None
      }
    }.toMap
    val flagged: Set[String] =
      if (!txt.contains("\"contended\":[")) Set.empty
      else {
        val cb = txt.substring(txt.indexOf("\"contended\":[") + 13)
        cb.substring(0, cb.indexOf(']')).split(',').iterator
          .map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSet
      }
    all -- flagged
  }

  /** Parse a previous record's `calibration.baseline_sec` — the probe
    * cost of the box that produced those minima. None when the record
    * predates the contention guard (≤ r15) or is malformed: the
    * regression rule then compares raw minima, exactly the pre-r17
    * behavior. */
  private[graft] def parsePrevBaseline(txt: String): Option[Double] = {
    val key = "\"baseline_sec\":"
    val i = txt.indexOf(key)
    if (i < 0) None
    else {
      val rest = txt.substring(i + key.length)
      val end = rest.indexWhere(c => c == ',' || c == '}')
      if (end < 0) None
      else
        try Some(rest.substring(0, end).trim.toDouble)
        catch { case _: NumberFormatException => None }
    }
  }

  /** Probe-normalized regression reference: the previous round's
    * minimum, re-expressed in THIS box's seconds. Both records carry
    * the same fixed deterministic CPU probe's best-of-3 cost, so
    * `prevMin × curBaseline / prevBaseline` is what the same query
    * cost would read here if only the box changed — a 1.3×-slower
    * driver box stops masquerading as 200 queries "regressed" (each
    * burning `heavyExtra` re-runs), while a genuine 3× slowdown on an
    * unchanged box still trips the rule. Falls back to the raw
    * previous minimum when either baseline is missing or non-positive
    * (pre-guard records). */
  private[graft] def regressionReference(prevMin: Double,
      prevBaseline: Option[Double], curBaseline: Double): Double =
    prevBaseline match {
      case Some(pb) if pb > 0 && curBaseline > 0 =>
        prevMin * (curBaseline / pb)
      case _ => prevMin
    }

  def main(args: Array[String]): Unit =
    Harness.withSession(run(_, Harness.sfDir, args.toSeq))

  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    // optional args = subset of query names to time (local iteration);
    // the driver passes none and gets the full registry. A typoed
    // name must fail loudly — an all-typo subset would otherwise
    // print a well-formed near-zero total that reads like a result.
    Harness.requireKnown(args, SparkEntry.queries.keySet)
    val cpus = spark.sparkContext.defaultParallelism
    val iters = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt)
    val heavyExtra = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAVY_ITERS", "2").toInt)
    // warm up JVM/JIT, codegen and parquet footers once, untimed
    Tables.names.foreach(n =>
      try Harness.noop(Tables(spark, sfDir, n).limit(1))
      catch { case NonFatal(_) => () })

    // previous round's per-query minima (the file this run will
    // overwrite) — the reference for the regression re-run rule. A
    // missing/unparsable file just disables the rule (first round,
    // renamed output). Flat {"name":sec,...} parse; values may be -1.
    // subset runs (args nonEmpty) write to a SIDECAR file: a local
    // one-query iteration must not clobber the canonical full-round
    // record with a partial map — which would both misrepresent the
    // round and disable the regression re-run rule for every other
    // query on the next full sweep (the Verify subset-subdir rule)
    val basePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_QUERIES.json")
    val outPath = if (args.isEmpty) basePath else s"$basePath.subset"
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", basePath)
    // a MISSING file is the expected first-round/renamed-output case
    // and silently disables the rule; a file that EXISTS but fails to
    // parse is format drift and must warn loudly — otherwise a future
    // record-shape change would silently disable regression detection
    // for every sweep after it (the catch-all-Throwable trap)
    val prevTxt: Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(prevPath)), "UTF-8"))
      catch { case _: java.io.IOException => None }
    val prev: Map[String, Double] = prevTxt match {
      case None => Map.empty
      case Some(txt) =>
        try parsePrevMinima(txt)
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] previous record $prevPath exists " +
            s"but failed to parse (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}) — regression re-run rule DISABLED this sweep")
          Map.empty
        }
    }
    val prevBaseline: Option[Double] = prevTxt.flatMap(parsePrevBaseline)

    val wanted = args.toSet
    val selected =
      if (wanted.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => wanted(k) }

    // fixed deterministic CPU probe: its cost moves only when the box
    // does, so drift vs the sweep-start baseline IS the contention
    // signal. collect() of one aggregated row — no state left behind.
    def probe(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: summing 2e9 hashes overflows BIGINT under
      // Spark 4's default ANSI mode; xor folds for free
      spark.range(0L, ProbeRowsPerCore * cpus, 1L, cpus)
        .selectExpr("bit_xor(xxhash64(id)) AS h").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // best-of-3 baseline AFTER warmup, same minimum-estimator logic
    // as the queries themselves (contention is additive)
    val calibration = (1 to 3).map(_ => probe()).min
    // guard-the-guard: the 2× drift check anchors on THIS baseline —
    // if the box was already contended during calibration the guard
    // silently disarms for the whole sweep and the record reads
    // calibration-clean. The previous record's baseline is the same
    // deterministic probe on the last box that swept; a large ratio
    // is either a genuinely slower box (legitimate — the normalized
    // regression rule absorbs it) or a dirty calibration window, and
    // the reader must be told which question to ask. The flag ships
    // in the record (`calibration.suspect_vs_prev`).
    val calibrationSuspect = prevBaseline.exists(pb =>
      pb > 0 && calibration > pb * ContentionFactor)
    if (calibrationSuspect)
      System.err.println(f"[bench] calibration ${calibration}%.2fs is >" +
        f"${ContentionFactor}%.1f× the previous record's baseline " +
        f"${prevBaseline.get}%.2fs — either a slower box or a contended " +
        "calibration window; contention guard thresholds may be inflated")

    def measure(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Seq[Double] = {
      // stderr marker BEFORE each timed run: Spark's own WARNs (large
      // task binaries, codegen fallbacks…) land between consecutive
      // markers, so a warning wall in a full-sweep log attributes to a
      // query mechanically instead of by timestamp archaeology (the
      // r18 task-binary crescendo took a round to attribute for want
      // of exactly this line)
      def run(n: Int): Seq[Double] = (1 to n).flatMap { _ =>
        System.err.println(s"[bench] begin $name")
        val sec =
          try Some(Harness.timeNoop(fn(spark, sfDir)))
          catch { case NonFatal(e) =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
          }
        Harness.quiesce(spark)
        sec
      }
      val base = run(iters)
      if (base.length < iters) Seq.empty // a failed base run fails the query
      else {
        val b = base.min
        // heavy or regressed query: noise moves rankings most here —
        // buy more evidence and keep the minimum (contention is
        // additive). "Regressed" = best-of-N above RegressionFactor×
        // the previous round's recorded minimum for this query,
        // PROBE-NORMALIZED to this box's speed (regressionReference):
        // the r16 records showed a 1.08× median driver/builder box
        // delta with 2× tails — raw-minima comparison would bill that
        // environment as code regressions and burn heavyExtra runs on
        // dozens of untouched queries.
        val regressed = prev.get(name).exists(p => p > 0 &&
          b > regressionReference(p, prevBaseline, calibration) * RegressionFactor)
        if ((b > HeavyThresholdSec || regressed) && heavyExtra > 0) {
          val extra = run(heavyExtra)
          // the any-failed-run rule covers EXTRA iterations too: a
          // query whose re-measurement crashed has no honest timing
          if (extra.length < heavyExtra) Seq.empty else base ++ extra
        } else base
      }
    }

    val ordered = selected.toSeq.sortBy(_._1)
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    // names measured since the last CLEAN probe — a drifted probe
    // taints exactly this window, nothing before it
    val sinceProbe = scala.collection.mutable.ArrayBuffer.empty[String]
    val contended = scala.collection.mutable.LinkedHashSet.empty[String]
    // every probe sample, in sweep order — the record's environment
    // TRACE: sustained sub-threshold drift (a box running 1.2–1.4×
    // slow for the whole sweep) never trips the 2× guard by design,
    // but it is plainly visible in this series, so a reader comparing
    // two rounds' records can normalize instead of guessing
    val probeTrace = scala.collection.mutable.ArrayBuffer[Double](calibration)
    var worstProbe = calibration
    ordered.zipWithIndex.foreach { case ((name, fn), i) =>
      timings(name) = measure(name, fn)
      sinceProbe += name
      if (sinceProbe.size >= ProbeEvery || i == ordered.length - 1) {
        val p = probe()
        probeTrace += p
        worstProbe = math.max(worstProbe, p)
        if (p > calibration * ContentionFactor) {
          System.err.println(f"[bench] probe drift ${p}%.2fs vs baseline " +
            f"$calibration%.2fs — marking ${sinceProbe.length} queries contended")
          contended ++= sinceProbe.filter(timings(_).nonEmpty)
        }
        sinceProbe.clear()
      }
    }

    // end-of-sweep re-measurement of the contended window: bracketed
    // by probes so the verdict is evidence, not hope. A clean re-run
    // REPLACES the contaminated evidence (min may only improve —
    // contention is additive — so keep the overall min; the median
    // comes from the clean run alone, a contaminated median is junk).
    // A still-dirty re-run leaves the query in the record's
    // `contended` list: the number is published but flagged, and the
    // next round's regression rule skips flagged minima upstream.
    // A rerun that CRASHES fails the query outright — the any-failed-
    // run rule applies to re-measurement too (a query that throws on
    // repeat execution has no honest timing, whatever the bracket
    // said); its first-pass timings are discarded, not flag-published.
    // Bracket probes join the trace: they are environment samples
    // like any other, and omitting them would let worst_probe_sec
    // read clean next to a non-empty contended list.
    val stillContended = scala.collection.mutable.LinkedHashSet.empty[String]
    val minOverride = scala.collection.mutable.Map.empty[String, Double]
    // a rerun that CRASHES is neither recovered nor still-contended:
    // its query publishes as failed (-1), and the calibration field's
    // n_recovered must not count it as a clean re-measurement
    var rerunCrashed = 0
    contended.foreach { name =>
      val (outcome, samples) = recoverOne(
        firstPassMin = timings(name).min,
        attempts = RecoveryAttempts,
        measure = () => measure(name, selected(name)),
        probe = () => probe(),
        clean = p => p <= calibration * ContentionFactor,
        settle = () => { System.gc(); Thread.sleep(RecoverySettleMs) })
      probeTrace ++= samples
      samples.foreach(p => worstProbe = math.max(worstProbe, p))
      outcome match {
        case RecoveryOutcome.Crashed =>
          timings(name) = Seq.empty; rerunCrashed += 1
        case RecoveryOutcome.Recovered(rerun, overallMin) =>
          minOverride(name) = overallMin
          timings(name) = rerun
        case RecoveryOutcome.StillDirty(overallMin) =>
          // still dirty after every bracket: the query STAYS flagged
          // (median untrusted, the next sweep's regression rule drops
          // it), but contention is additive, so the min across first
          // pass and reruns is strictly better evidence than the
          // first pass alone — publish it rather than discarding it
          minOverride(name) = overallMin
          stillContended += name
      }
    }

    val results = timings.toSeq.map { case (name, all) =>
      val med = if (all.isEmpty) -1.0 else Harness.median(all)
      val mn =
        if (all.isEmpty) -1.0
        else minOverride.getOrElse(name, all.min)
      (name, mn, med)
    }
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else {
        val s = String.format(java.util.Locale.ROOT, "%.2f", v)
        val t = s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
        if (t.isEmpty) "0" else t
      }
    // full per-query record → file (unbounded; the log tail is not).
    // Env-derived strings (sf label, out path) go through the shared
    // JSON escaper — a quote or backslash in a path would otherwise
    // corrupt the record the driver json.loads
    val qs = results.map { case (k, v, _) =>
      QueryDef.jsonString(k) + ":" + fmt(v)
    }.mkString("{", ",", "}")
    val qsMed = results.map { case (k, _, m) =>
      QueryDef.jsonString(k) + ":" + fmt(m)
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val nFailed = results.count(_._2 < 0)
    val (streamSec, nonStreamSec, nStream, nNonStream) =
      familyTotals(results.map { case (n, v, _) => (n, v) })
    val sfLabel = QueryDef.jsonString(new java.io.File(sfDir).getName)
    // contention evidence travels WITH the record: `contended` lists
    // queries whose re-measurement window was still dirty (their
    // numbers are published but untrusted — next sweep's regression
    // rule drops them as references), `calibration` pins the probe
    // baseline and the worst drift seen so a reader can judge the
    // whole sweep's environment at a glance.
    val contJson = stillContended.toSeq.sorted
      .map(QueryDef.jsonString).mkString("[", ",", "]")
    val calJson = s"""{"baseline_sec":${fmt(calibration)},""" +
      prevBaseline.map(pb => s""""prev_baseline_sec":${fmt(pb)},""" +
        s""""suspect_vs_prev":$calibrationSuspect,""").getOrElse("") +
      s""""worst_probe_sec":${fmt(worstProbe)},""" +
      s""""factor":${fmt(ContentionFactor)},""" +
      s""""n_marked":${contended.size},"n_recovered":${
        contended.size - stillContended.size - rerunCrashed},""" +
      s""""probes":${probeTrace.map(fmt).mkString("[", ",", "]")}}"""
    // family subtotals: the stream gates' cost is trigger/IO floors
    // and swings with co-tenancy independently of the CPU probe, so
    // the record partitions the total — a reader adjudicates the
    // stream tail against the stream subtotal, mechanically
    val famJson = s"""{"stream_sec":${fmt(streamSec)},""" +
      s""""non_stream_sec":${fmt(nonStreamSec)},""" +
      s""""n_stream":$nStream,"n_non_stream":$nNonStream}"""
    val fileJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"queries_median":$qsMed,"families":$famJson,"contended":$contJson,"calibration":$calJson,"sf":$sfLabel}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fileJson + "\n").getBytes("UTF-8"))
    // the FULL record (per-query minima included) also goes to stdout,
    // as the r21 verdict asked: the driver's PERF comparator needs the
    // per-query map machine-readably on stdout, and the contract line
    // has always been specified with a `queries` field. It prints
    // FIRST, never last: the harness stores (and r8 demonstrably
    // parsed) only a bounded ~2000-char stdout TAIL, and a 203-entry
    // map is ~6 KB — as the LAST line it would overflow the tail and
    // the round's record would parse to null (the r8 failure). A
    // full-stdout reader finds this line by its `queries` key; a
    // tail reader still gets the compact line below, whole.
    println(fileJson)
    // compact summary LAST so the bounded tail always captures it whole
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.length},"n_failed":$nFailed,"n_contended":${stillContended.size},"stream_sec":${fmt(streamSec)},"non_stream_sec":${fmt(nonStreamSec)},"queries_file":${QueryDef.jsonString(outPath)},"sf":$sfLabel}""")
  }
}
