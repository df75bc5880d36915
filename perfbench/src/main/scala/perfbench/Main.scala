package perfbench

import java.io.Writer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.imdb.{ImdbDataset, Pimdb}

/** Runs one workload of the benchmark in this process and writes the
  * raw run record (set-up time, passes, ops, spans, job counters) as
  * JSON; `run.py` turns the record into metrics and checks it.
  *
  * Arguments (all `--key value`): workload (etl | serve), seconds,
  * trace (0|1), work, out, corpus, and for etl: warmup_corpus; for
  * serve: mix, warehouse, data.
  *
  * A run sets up once: a session on all available cores, the
  * workload's preparation and an untimed warm-up. The set-up time runs
  * from process start to the end of the warm-up, just before the first
  * timed op. Then it runs passes until `seconds` have passed, and at
  * least the workload's `minPasses`. Before each pass it times the fixed CPU probe of `graft.Bench`,
  * and after each pass it records the heap left after a full GC. With
  * trace 1, every second pass is traced, and the run ends on an
  * untraced pass (at least three passes): spans around each call, and
  * the job counters of a listener that is attached only then.
  */
object Main {

  final case class Op(name: String, ms: Double, ok: Boolean,
      error: String = null, extra: Map[String, Any] = Map.empty)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload: Workload = o("workload") match {
      case "etl" => new Etl(o)
      case "serve" => new Serve(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val cpus = Runtime.getRuntime.availableProcessors
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"

    val processStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = graft.GraftSession.localBuilder(cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.ms - processStart) / 1000
    workload.setUp(spark)
    val setupS = (Clock.ms - processStart) / 1000
    System.err.println(f"[perfbench] set-up ${setupS}%.3fs, of which " +
      f"JVM and session start ${sessionS}%.3fs")
    probe(spark, cpus) // the first probe is cold: keep it out of the trace

    val tracer = new Tracer
    val counters = new JobCounters
    val writes = new TableWrites
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val windowStart = Clock.ms
    // traced runs alternate untraced and traced passes, so that each
    // traced pass has an untraced one on both sides
    while (passes.length < workload.minPasses ||
        Clock.ms - windowStart < seconds * 1000 ||
        (trace && (passes.length < 3 || passes.length % 2 == 0))) {
      val n = passes.length
      val traced = trace && n % 2 == 1
      val probeS = probe(spark, cpus)
      if (traced) {
        spark.sparkContext.addSparkListener(counters)
        spark.sparkContext.addSparkListener(writes)
      }
      tracer.enabled = traced
      tracer.pass = n
      val t0 = Clock.ms
      val ops = tracer.span("pass", "pass")(workload.pass(spark, tracer, n))
      val wallS = (Clock.ms - t0) / 1000
      tracer.enabled = false
      if (traced) {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(counters)
        spark.sparkContext.removeSparkListener(writes)
        workload.traced(tracer, n, writes.drain())
      }
      // twice: Spark's ContextCleaner frees broadcast and shuffle blocks
      // only after a GC has found them unreachable
      System.gc()
      Thread.sleep(300)
      System.gc()
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory - rt.freeMemory) / 1e6
      passes += Map(
        "traced" -> traced, "wall_s" -> wallS, "probe_s" -> probeS,
        "heap_mb" -> heapMb,
        "ops" -> ops.map(op => Map("name" -> op.name, "ms" -> op.ms,
          "ok" -> op.ok, "error" -> Option(op.error)) ++ op.extra),
        "check" -> workload.afterPass(spark, n))
      System.err.println(f"[perfbench] pass $n wall ${wallS}%.3fs " +
        f"probe ${probeS}%.3fs heap ${heapMb}%.0fMB traced $traced")
    }
    val record = Map(
      "workload" -> o("workload"), "cpus" -> cpus, "setup_s" -> setupS,
      "passes" -> passes, "spans" -> tracer.records,
      "jobs" -> counters.records) ++ workload.summary
    Files.write(Paths.get(o("out")), new ObjectMapper()
      .registerModule(DefaultScalaModule).writeValueAsBytes(record))
    spark.stop()
  }

  /** `graft.Bench`'s fixed CPU probe: range → xxhash64 → bit_xor over
    * Bench.ProbeRowsPerCore rows per core. Its cost moves only when
    * the machine does. */
  def probe(spark: SparkSession, cpus: Int): Double = {
    val t0 = Clock.ms
    spark.range(0L, graft.Bench.ProbeRowsPerCore * cpus, 1L, cpus)
      .selectExpr("bit_xor(xxhash64(id)) AS h").collect()
    (Clock.ms - t0) / 1000
  }

  /** Time `body` as one op; a throw makes a failed op. */
  def timed(name: String)(body: => Map[String, Any]): Op = {
    val t0 = Clock.ms
    try {
      val extra = body
      Op(name, Clock.ms - t0, ok = true, extra = extra)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        Op(name, Clock.ms - t0, ok = false, error = e.toString)
    }
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toList.foreach(rmTree) finally s.close()
    }
    Files.delete(p)
  }
}

abstract class Workload {
  def minPasses: Int = 1
  /** Once, on the run's session, before the first timed op: everything
    * the passes need and an untimed warm-up. */
  def setUp(spark: SparkSession): Unit
  def pass(spark: SparkSession, tracer: Tracer, n: Int): Seq[Main.Op]
  /** After traced pass `n`, with the pass's parquet writes into a
    * `normalized/<table>` directory, from the SQL execution events. */
  def traced(tracer: Tracer, n: Int, writes: Seq[TableWrites.Write]): Unit = ()
  /** Untimed facts about pass `n`'s output, for run.py's checks. */
  def afterPass(spark: SparkSession, n: Int): Map[String, Any] = Map.empty
  def summary: Map[String, Any] = Map.empty
}

/** `Pimdb.transfer` of the seven datasets, then `Pimdb.build`, into a
  * fresh warehouse. The warm-up does the same on a small corpus, so
  * that class loading, JIT compilation and Spark's code generation
  * fall into the set-up and a pass measures warm transfer and build. */
final class Etl(o: Map[String, String]) extends Workload {
  private val work = Paths.get(o("work"))
  private var last: Option[(Pimdb, Path)] = None

  private def key(d: ImdbDataset) = d.datasetName.replace('.', '_')

  def setUp(spark: SparkSession): Unit = {
    val wh = work.resolve("warehouse_warmup")
    etl(spark, new Tracer, o("warmup_corpus"), wh)
    Main.rmTree(wh)
  }

  def pass(spark: SparkSession, tracer: Tracer, n: Int): Seq[Main.Op] = {
    val wh = work.resolve(s"warehouse_$n")
    val (p, ops) = etl(spark, tracer, o("corpus"), wh)
    last = Some((p, wh))
    ops
  }

  private def etl(spark: SparkSession, tracer: Tracer, corpus: String,
      wh: Path): (Pimdb, Seq[Main.Op]) = {
    Main.rmTree(wh)
    val p = Pimdb(spark)
    // one call per dataset: `Pimdb.transfer` maps datasets one by one
    // either way, and this times each of them
    val transfers = tracer.span("transfer", "transfer") {
      ImdbDataset.all.map { d =>
        Main.timed(s"transfer.${key(d)}") {
          tracer.span(s"transfer.${key(d)}", "transfer") {
            p.transfer(corpus, Seq(d), Some(wh.toString))
          }
          Map.empty
        }
      }
    }
    val build = Main.timed("build") {
      tracer.span("build", "build")(p.build(Some(wh.toString)))
      Map.empty
    }
    (p, transfers :+ build)
  }

  /** Splits the traced build span at its table writes: `build.derive`
    * from its start to the first write, one span per write (a write
    * includes the hub tables it is the first to materialize), and
    * `build.validate` from the last write to its end. */
  override def traced(tracer: Tracer, n: Int,
      writes: Seq[TableWrites.Write]): Unit =
    tracer.find("build", n).foreach { build =>
      val inside = writes.filter(w => w.t0 >= build.t0 && w.t1 <= build.t1)
        .groupBy(_.table).map { case (t, ws) =>
          TableWrites.Write(t, ws.map(_.t0).min, ws.map(_.t1).max) }
        .toSeq.sortBy(_.t0)
      if (inside.nonEmpty) {
        tracer.add(build, "build.derive", build.t0, inside.head.t0)
        inside.foreach(w => tracer.add(build, s"build.${w.table}", w.t0, w.t1))
        tracer.add(build, "build.validate", inside.map(_.t1).max, build.t1)
      }
    }

  override def afterPass(spark: SparkSession, n: Int): Map[String, Any] =
    last.map { case (p, wh) =>
      val s = Files.list(wh.resolve("normalized"))
      val tables = try s.iterator().asScala.toList.map { t =>
        t.getFileName.toString -> spark.read.parquet(t.toString).count()
      }.toMap finally s.close()
      val facts = Map(
        "duplicates" -> p.transferDuplicateCounts,
        "tables" -> tables, "warnings" -> p.buildWarnings)
      Main.rmTree(wh)
      last = None
      facts
    }.getOrElse(Map.empty)
}

/** The read side, in one closed loop: the six IMDb query kinds through
  * `Pimdb.queryToTsv` against a served warehouse, and the frozen gate
  * list through the noop sink on the gate fixture tables. A pass is
  * one round of the seed's mix: every query kind and every gate once,
  * in a seeded order, with seeded query parameters.
  *
  * The served warehouse comes from a fixed corpus and is transferred
  * and built by the first run that finds it missing; later runs read
  * its parquet. */
final class Serve(o: Map[String, String]) extends Workload {
  private val served = Paths.get(o("warehouse"))
  private val data = o("data")

  /** A query (`sql` set) or a gate (`module` set) of the mix. */
  private final case class Entry(kind: String, sql: String, keep: Boolean,
      module: String)
  private val mix: IndexedSeq[Entry] = {
    val root = new ObjectMapper()
      .readTree(Paths.get(o("mix")).toFile)
    root.elements().asScala.map(n => Entry(n.get("kind").asText,
      n.path("sql").asText(null), n.path("keep_lines").asBoolean(false),
      n.path("module").asText(null))).toIndexedSeq
  }
  private val queries = graft.SparkEntry.queries
  private val oracle = graft.SparkEntry.oracleSql
  private val gates = mix.filter(_.sql == null).map(_.kind).distinct
  /** Ops per pass: every query kind and every gate once. */
  private val perPass = mix.map(_.kind).distinct.size

  /** A pass is 2-3 s of ops, each of 0.1-0.6 s, and an op's
    * latency moves by a third from pass to pass on a shared machine.
    * Five passes give each op kind five samples for its median
    * (run.py), and since pass times still fall as the JIT compiles the
    * query path, every run measures the same five passes, not however
    * many fit. */
  override val minPasses = 5
  require(gates.forall(queries.contains),
    s"unknown gate(s): ${gates.filterNot(queries.contains).mkString(", ")}")
  private val rows = mutable.LinkedHashMap.empty[String, Long]
  private var pimdb: Pimdb = _
  private var cursor = 0

  /** `graft.Bench`'s family split: stream gates are named q_stream_*. */
  private def family(g: String) =
    if (g.startsWith("q_stream_")) "gates.stream" else "gates.batch"

  /** Registers the served warehouse's views (building it first if it
    * is missing), then warms up with three passes. The first run of each
    * gate that has an oracle also counts its rows, for run.py's DuckDB
    * check. */
  def setUp(spark: SparkSession): Unit = {
    val marker = served.resolve("BUILT")
    if (!Files.exists(marker)) {
      val p = Pimdb(spark)
      p.transfer(o("corpus"), ImdbDataset.all, Some(served.toString))
      p.build(Some(served.toString))
      Files.write(marker, Array.emptyByteArray)
    }
    val s = Files.list(served.resolve("normalized"))
    val tables = try s.iterator().asScala.toList finally s.close()
    tables.foreach(t => spark.read.parquet(t.toString)
      .createOrReplaceTempView(t.getFileName.toString))
    ImdbDataset.all.foreach(d => spark.read
      .parquet(served.resolve("datasets").resolve(d.tableName).toString)
      .createOrReplaceTempView(d.tableName))
    pimdb = Pimdb(spark)
    graft.operators.BoundedWindow.quietBoundedWarnings()
    (1 to 3).foreach(_ => pass(spark, new Tracer, -1))
  }

  private def query(i: Int, tracer: Tracer): Main.Op = {
    val e = mix(i)
    val out = new DigestWriter(e.keep)
    Main.timed(e.kind) {
      tracer.span(s"query.${e.kind}", "query")(pimdb.queryToTsv(e.sql, out))
      Map("mix" -> i, "lines" -> out.lines, "digest" -> out.digestHex) ++
        (if (e.keep) Map("kept" -> out.kept.toSeq) else Map.empty)
    }
  }

  private def gate(spark: SparkSession, e: Entry, tracer: Tracer): Main.Op = {
    val (g, m) = (e.kind, e.module)
    Main.timed(g) {
      tracer.span(s"${family(g)}.$m.$g", family(g)) {
        val df = queries(g)(spark, data)
        if (oracle.contains(g) && !rows.contains(g)) {
          rows(g) = -1L // stays if the gate throws
          val obs = Observation(s"rows_$g")
          df.observe(obs, count(lit(1)).as("n")).write.format("noop")
            .mode("overwrite").save()
          rows(g) = obs.get("n").asInstanceOf[Long]
        } else df.write.format("noop").mode("overwrite").save()
      }
      Map("family" -> family(g), "module" -> m)
    }
  }

  /** Between ops, untimed: drop cached blocks and stop straggling
    * streams, so one op's leftovers are not billed to the next. The
    * heap is settled once per pass, not per op: a full GC per op cost
    * more than a quarter of a pass's wall time. */
  private def quiesce(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    try spark.streams.active.foreach(_.stop())
    catch { case NonFatal(_) => () }
  }

  def pass(spark: SparkSession, tracer: Tracer, n: Int): Seq[Main.Op] =
    (0 until perPass).map { _ =>
      val i = cursor
      cursor = (cursor + 1) % mix.length
      val op =
        if (mix(i).sql != null) query(i, tracer)
        else gate(spark, mix(i), tracer)
      quiesce(spark)
      op
    }

  override def summary: Map[String, Any] = Map(
    "oracle" -> rows.map { case (g, n) => g -> Map("rows" -> n,
      "sql" -> oracle(g)) })
}

/** A `java.io.Writer` that keeps no output but an order-independent
  * digest of its lines: the count, and the sum (mod 2^64) of each
  * line's 64-bit FNV-1a hash over its UTF-8 bytes. With `keep`, it
  * also keeps the lines. */
final class DigestWriter(keep: Boolean) extends Writer {
  private val line = new java.lang.StringBuilder
  var lines = 0L
  var sum = 0L
  val kept = mutable.ArrayBuffer.empty[String]

  def write(buf: Array[Char], off: Int, len: Int): Unit = {
    var i = off
    while (i < off + len) {
      val c = buf(i)
      if (c == '\n') endLine() else line.append(c)
      i += 1
    }
  }

  private def endLine(): Unit = {
    val s = line.toString
    var h = 0xcbf29ce484222325L
    for (b <- s.getBytes(UTF_8)) { h ^= (b & 0xff); h *= 0x100000001b3L }
    sum += h
    lines += 1
    if (keep) kept += s
    line.setLength(0)
  }

  def digestHex: String = java.lang.Long.toUnsignedString(sum, 16)
  def flush(): Unit = ()
  def close(): Unit = ()
}
