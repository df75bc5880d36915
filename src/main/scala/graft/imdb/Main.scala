package graft.imdb

import org.apache.spark.sql.SparkSession

/** CLI with the reference's verbs AND flag surface (reference:
  * pimdb/command.py:38-140, tested in tests/test_command.py):
  *
  * {{{
  *   pimdbspark [--version] [--help] [--log LEVEL] COMMAND [options]
  *
  *   download <targetFolder> [names...|all|normalized]
  *            [--force] [--url BASE] [--dataset-folder DIR]
  *   transfer <dataFolder> [names...|all|normalized]
  *            [--bulk N] [--database URL] [--drop] [--warehouse DIR]
  *            [--dataset-folder DIR]
  *   build    <dataFolder> [--bulk N] [--database URL] [--drop]
  *            [--warehouse DIR]
  *   query    <dataFolder> <sql | @file.sql> [--file]
  * }}}
  *
  * `--log LEVEL` is the reference's ROOT-parser logging control
  * (command.py:92-100; choices debug, info, sql, warning, default
  * info) and, like any argparse root option, is rejected after the
  * COMMAND token. It gates the CLI's own driver-side messages the way
  * the reference's module logger does, and when EXPLICITLY passed it
  * also sets the Spark engine log level (debug/sql → DEBUG — "sql"
  * means "show me the engine's statements", the sqlalchemy-echo
  * analog; info → INFO; warning → WARN). When absent the engine stays
  * at WARN rather than the reference's info default: Spark's INFO is
  * an internal-scheduling firehose, not the reference logger's quiet
  * per-command progress lines.
  *
  * `--dataset-folder`/`-f` is the reference's folder OPTION
  * (command.py:61-67, on download and transfer; default: current
  * folder) — with it, reference command lines run verbatim and every
  * positional is a NAME. The bare-positional folder form stays
  * supported, and a first positional that is a known dataset name (or
  * all/normalized) means the folder defaulted to `.` exactly like the
  * reference. On `query`, `-f` is short for `--file`
  * (command.py:135), not the folder option — argparse scopes short
  * flags per sub-parser and so does this.
  *
  * Exit codes match the reference's argparse behavior: 0 for
  * `--help`/`--version` and successful commands, 2 for usage errors
  * (missing command, `--bulk` < 1, `all`/`normalized` mixed with
  * other names, unknown flags/names), 1 for runtime failures
  * (command.py:248-288 `exit_code_for`).
  *
  * `download` (reference command.py:153-162, common.py:155-180) is a
  * driver-side fetch with the Last-Modified conditional-download
  * cache; `--url BASE` points it at a mirror — `http(s)://`,
  * `file://`, or a plain folder — so zero-egress environments still
  * exercise the full cache path. It never starts Spark.
  * `--drop` is accepted and a no-op: Spark writes are overwrite-mode,
  * so "drop before load" is implicit. `--database` pushes the result
  * through the JDBC sink with `--bulk` rows per batch (the
  * reference's core "SQL copy" purpose).
  */
object Main {

  val Version = "0.2.0"
  private val Commands = Seq("build", "download", "query", "transfer")

  /** Per-command flag surface, argparse-subparser style (reference:
    * command.py:38-140 defines each flag only on the sub-parser that
    * uses it; an out-of-place flag is a usage error, exit 2 —
    * tests/test_command.py exercises this via SystemExit). */
  private val CommandFlags: Map[String, Set[String]] = {
    val loadFlags = Set(
      "--bulk", "-b", "--database", "-d", "--warehouse", "-w", "--drop", "-D")
    // -f is per-sub-parser like argparse: folder on download/transfer
    // (command.py:61-67), short --file on query (command.py:135)
    Map("transfer" -> (loadFlags + "--dataset-folder" + "-f"),
      "build" -> loadFlags,
      "query" -> Set("--file", "-f"),
      "download" -> Set("--force", "-F", "--url", "-u", "--dataset-folder", "-f"))
  }

  /** Reference log levels (command.py:19-20) in severity order; `sql`
    * maps to debug severity (command.py:271: everything, plus the
    * engine's statements). */
  private val LogLevels = Seq("debug", "sql", "info", "warning")
  private def sparkLevelOf(l: String): String = l match {
    case "debug" | "sql" => "DEBUG"
    case "info" => "INFO"
    case _ => "WARN"
  }

  /** The CLI's session settings on `b`: the engine tuning every graft
    * session shares, so transfer and build run under the settings
    * BuildBench measures; SPARK_MASTER is the deployment's choice
    * (local[*] by default). */
  private[imdb] def configure(b: SparkSession.Builder): SparkSession.Builder =
    graft.GraftSession.shared(b
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("pimdbspark")
      .config("spark.sql.shuffle.partitions", graft.Harness.cpus.toString))

  def main(args: Array[String]): Unit = {
    var spark: Option[SparkSession] = None
    def session: SparkSession = {
      val s = configure(SparkSession.builder()).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      spark = Some(s)
      s
    }
    // compute the code, stop the session, THEN exit: System.exit does
    // not unwind, so `try sys.exit(...) finally stop()` never stops
    val code =
      try exitCodeFor(args.toSeq, session)
      finally spark.foreach(_.stop())
    sys.exit(code)
  }

  /** Parsed command line; usage errors carry exit code 2 like
    * argparse's `parser.error`. */
  private final case class Cli(
      command: String,
      dataFolder: String,
      positionals: Seq[String],
      bulkSize: Int,
      database: Option[String],
      warehouse: Option[String],
      drop: Boolean,
      file: Boolean,
      force: Boolean,
      url: Option[String],
      logLevel: Option[String]) extends Parsed

  private final case class UsageError(message: String) extends Exception(message)

  /** Reference-parity exit codes without exiting the JVM — the analog
    * of command.py's `exit_code_for`, so specs can assert codes
    * directly. The session is by-name: `--help`/`--version`/usage
    * errors never start Spark. */
  def exitCodeFor(args: Seq[String], session: => SparkSession): Int =
    try {
      parse(args) match {
        case HelpRequested => usage(); 0
        case VersionRequested => println(s"pimdbspark $Version"); 0
        case cli: Cli => run(cli, session); 0
      }
    } catch {
      case UsageError(m) =>
        System.err.println(s"error: $m"); usage(); 2
      case scala.util.control.NonFatal(e) =>
        // reference: PimdbError/OSError → log + exit code 1
        System.err.println("cannot perform command '" +
          args.headOption.getOrElse("") + s"': ${e.getMessage}")
        1
    }

  /** Parse outcome: `--help`/`--version` short-circuit (exit 0, never
    * start Spark), everything else parses to a [[Cli]] or raises
    * [[UsageError]] (exit 2). */
  private sealed trait Parsed
  private case object HelpRequested extends Parsed
  private case object VersionRequested extends Parsed

  private def parse(args: Seq[String]): Parsed = {
    var command: Option[String] = None
    var positionals = Vector.empty[String]
    var bulk = graft.sources.Sources.DefaultJdbcBatchSize
    var database: Option[String] = None
    var warehouse: Option[String] = None
    var drop = false
    var file = false
    var force = false
    var url: Option[String] = None
    var logLevel: Option[String] = None
    var datasetFolder: Option[String] = None

    var i = 0
    // argparse-style value slots: the next token is the flag's value
    // only if it isn't itself flag-shaped ("expected one argument"),
    // so `--database --help` is a usage error, not a help request
    def valueOf(flag: String): String = {
      i += 1
      if (i >= args.length || args(i).startsWith("-"))
        throw UsageError(s"argument $flag: expected one argument")
      args(i)
    }
    // one handler table drives the dispatch; the per-command
    // allow-list (CommandFlags) only gates WHICH of these a command
    // accepts, so a flag present in one but not the other degrades to
    // a UsageError (exit 2) instead of a MatchError crash path
    def setBulk(): Unit = {
      val v = valueOf("--bulk")
      bulk = try v.toInt
        catch { case _: NumberFormatException =>
          throw UsageError(s"--bulk is '$v' but must be an integer") }
    }
    def handlers(command: Option[String]): Map[String, () => Unit] = Map(
      "--bulk" -> setBulk _, "-b" -> setBulk _,
      "--database" -> (() => database = Some(valueOf("--database"))),
      "-d" -> (() => database = Some(valueOf("--database"))),
      "--warehouse" -> (() => warehouse = Some(valueOf("--warehouse"))),
      "-w" -> (() => warehouse = Some(valueOf("--warehouse"))),
      "--drop" -> (() => drop = true), "-D" -> (() => drop = true),
      "--file" -> (() => file = true),
      "--force" -> (() => force = true), "-F" -> (() => force = true),
      "--url" -> (() => url = Some(valueOf("--url"))),
      "-u" -> (() => url = Some(valueOf("--url"))),
      "--dataset-folder" ->
        (() => datasetFolder = Some(valueOf("--dataset-folder"))),
      // -f resolves per sub-parser (CommandFlags already gated it)
      "-f" -> (() =>
        if (command.contains("query")) file = true
        else datasetFolder = Some(valueOf("--dataset-folder"))))

    while (i < args.length) {
      args(i) match {
        // every argparse (sub-)parser answers -h/--help; --version and
        // --log are defined on the ROOT parser only, so after a
        // command they fall through to the unknown-flag error like the
        // reference
        case "--help" | "-h" => return HelpRequested
        case "--version" if command.isEmpty => return VersionRequested
        case "--log" if command.isEmpty =>
          val v = valueOf("--log")
          if (!LogLevels.contains(v)) throw UsageError(
            s"argument --log: invalid choice: '$v' " +
              s"(choose from ${LogLevels.map("'" + _ + "'").mkString(", ")})")
          logLevel = Some(v)
        case f if f.startsWith("-") =>
          command match {
            case None => throw UsageError(
              s"unrecognized argument before COMMAND: $f")
            case Some(c) if !CommandFlags(c).contains(f) =>
              throw UsageError(s"unrecognized argument for $c: $f")
            case _ => ()
          }
          handlers(command).getOrElse(f,
            throw UsageError(s"unrecognized argument: $f")).apply()
        case v if command.isEmpty =>
          if (!Commands.contains(v)) throw UsageError(
            s"COMMAND must be specified; possible commands are: ${Commands.mkString(", ")}")
          command = Some(v)
        case v => positionals :+= v
      }
      i += 1
    }
    val cmd = command.getOrElse(throw UsageError(
      s"COMMAND must be specified; possible commands are: ${Commands.mkString(", ")}"))
    if (bulk < 1) throw UsageError(s"--bulk is $bulk but must be at least 1")
    // folder resolution, reference-compatible: --dataset-folder wins
    // and leaves every positional a NAME; a first positional that IS a
    // name means the folder defaulted to the current dir (the
    // reference's default=""); otherwise the repo's original
    // folder-first positional form applies
    val knownNames = Set("all", "normalized") ++
      ImdbDataset.all.map(_.datasetName)
    val (dataFolder, rest) = datasetFolder match {
      case Some(f) => (f, positionals)
      case None => positionals.headOption match {
        case Some(p) if Set("download", "transfer").contains(cmd) &&
          knownNames(p) => (".", positionals)
        case Some(p) => (p, positionals.tail)
        case None => throw UsageError(s"$cmd requires a <dataFolder>")
      }
    }
    Cli(cmd, dataFolder, rest, bulk, database, warehouse, drop,
      file, force, url, logLevel)
  }

  /** NAME semantics from the reference (command.py:165-177): `all` or
    * `normalized` must be the only name; plain names are deduplicated
    * and sorted. */
  private def checkedDatasets(names: Seq[String]): Seq[ImdbDataset] =
    if (names.isEmpty) ImdbDataset.all
    else if (names.contains("all") || names.contains("normalized")) {
      if (names.length >= 2) throw UsageError(
        """if NAME "all" is specified, it must be the only NAME""")
      if (names.head == "all") ImdbDataset.all else ImdbDataset.forNormalized
    } else {
      names.distinct.sorted.map { n =>
        ImdbDataset.all.find(_.datasetName == n).getOrElse(
          throw UsageError(s"unknown dataset name: $n"))
      }
    }

  private def run(cli: Cli, session: => SparkSession): Unit = {
    // driver-side message gate — the reference module logger's role
    // (command.py:271-272: level applies before the command runs)
    val infoVisible =
      LogLevels.indexOf(cli.logLevel.getOrElse("info")) <= LogLevels.indexOf("info")
    // download is pure driver-side I/O (reference parity): no Spark
    if (cli.command == "download") {
      checkedDatasets(cli.positionals).foreach { ds =>
        val fresh = Download.downloadDataset(ds, cli.dataFolder,
          onlyIfNewer = !cli.force,
          baseUrl = cli.url.getOrElse(Download.DatasetBaseUrl))
        if (infoVisible) System.err.println(
          if (fresh) s"downloaded ${ds.fileName}"
          else s"${ds.fileName} is up to date")
      }
      return
    }
    val spark = session
    // explicit --log reaches the engine too; the default stays at the
    // session's own level (WARN from main()) — see the class scaladoc
    cli.logLevel.foreach(l => spark.sparkContext.setLogLevel(sparkLevelOf(l)))
    // progress/duplicate-summary lines print to stderr under the SAME
    // --log info gate as download's messages: the session's WARN root
    // level silences slf4j INFO, which would otherwise leave transfer
    // and build mute at default verbosity (the reference prints them)
    val pimdb =
      if (infoVisible) Pimdb(spark, (m: String) => System.err.println(m))
      else Pimdb(spark)
    cli.command match {
      case "transfer" =>
        pimdb.transfer(cli.dataFolder, checkedDatasets(cli.positionals),
          cli.warehouse)
        cli.database.foreach(url => pimdb.writeToJdbc(url, cli.bulkSize))
      case "build" =>
        // argparse parity: build takes NO dataset names — a stray
        // positional (e.g. `build /data all`) is a usage error (2),
        // not a silently ignored token before a multi-minute job
        if (cli.positionals.nonEmpty)
          throw UsageError(
            s"build takes no dataset arguments, got: ${cli.positionals.mkString(" ")}")
        pimdb.transfer(cli.dataFolder, ImdbDataset.all, cli.warehouse)
        pimdb.build(cli.warehouse)
        cli.database.foreach(url => pimdb.writeToJdbc(url, cli.bulkSize))
      case "query" =>
        val sqlArg = cli.positionals.headOption.getOrElse(
          throw UsageError("query requires an SQL argument"))
        if (cli.positionals.length > 1)
          throw UsageError("query takes exactly one SQL argument, got: " +
            cli.positionals.mkString(" "))
        val sql =
          if (cli.file || sqlArg.startsWith("@")) {
            val p = if (sqlArg.startsWith("@")) sqlArg.drop(1) else sqlArg
            new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(p)), "UTF-8")
          } else sqlArg
        pimdb.transfer(cli.dataFolder, ImdbDataset.all, None)
        pimdb.build(None)
        val out = new java.io.PrintWriter(System.out)
        pimdb.queryToTsv(sql, out)
    }
  }

  private def usage(): Unit = System.err.println(
    s"""usage: pimdbspark [--version] [--help] [--log {${LogLevels.mkString(",")}}] COMMAND [options]
       |
       |commands:
       |  download [<targetFolder> | --dataset-folder DIR] [NAME...|all|normalized]
       |           [--force] [--url BASE]
       |  transfer [<dataFolder> | --dataset-folder DIR] [NAME...|all|normalized]
       |           [--bulk N] [--database URL] [--drop] [--warehouse DIR]
       |  build    <dataFolder> [--bulk N] [--database URL] [--drop]
       |           [--warehouse DIR]
       |  query    <dataFolder> <sql | @file.sql> [--file | -f]""".stripMargin)
}
