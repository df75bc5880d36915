package graft.imdb

import graft.Harness
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Timed end-to-end run of the reference's OWN workload — `transfer
  * all` + `build` — at a data size where the wall clock means
  * something (~1 GB of TSV, vs the 65 KB spec fixtures), so the
  * "orders of magnitude vs the reference's 11 h single-threaded
  * SQLite transfer" claim (BASELINE.md: `pimdb transfer all` ≈ 11 h;
  * reference README.md:47) carries a number of record the way every
  * other claim in SCALE.md does.
  *
  * The pipeline timed is the production one, unchanged: the same
  * [[Pimdb.transfer]] (TSV scan → typed+deduped → parquet warehouse
  * tables) and [[Pimdb.build]] (the 15 normalized tables, written to
  * the warehouse, then validated) the BuildSpec golden tests drive —
  * only the input is synthetic. The generator writes the seven
  * dataset TSVs with the real files' shape: key spaces that
  * cross-reference (principals/akas/episodes/ratings/crew all point
  * at existing tconst/nconst ranges, knownFor/directors/writers are
  * comma lists, characters is a JSON array), IMDb-like row ratios
  * (≈6 principals and ≈3 akas per title), and the reference's TSV
  * dialect (tab-separated, header, `\N` nulls, 0/1 booleans, no
  * quoting).
  *
  * Prints ONE JSON line:
  * {{{
  * {"metric":"imdb_transfer_build","transfer_sec":..,"build_sec":..,
  *  "total_sec":..,"transfer_compiles":..,"build_compiles":..,
  *  "tsv_mb":..,"gen_sec":..,"rows":{..},
  *  "normalized_tables":15,"cpus":..}
  * }}}
  * and mirrors it to `SPARK_GRAFT_BUILD_OUT` (default
  * BUILD_BENCH.json). Knobs: `SPARK_GRAFT_BUILD_TITLES` scales the
  * corpus (default 1,400,000 titles ≈ 1 GB of TSV),
  * `SPARK_GRAFT_BUILD_DIR` holds the generated set and is REUSED if
  * the marker file matches (generation is not what's being
  * measured), `SPARK_GRAFT_CPUS` as everywhere else. */
object BuildBench {

  private def writeTsv(df: DataFrame, header: Seq[String],
      outFile: java.nio.file.Path): Unit = {
    // parallel part-file write, then a driver-side stream concat
    // with the header line — transfer reads ONE <dataset>.tsv file,
    // and a coalesce(1) write would funnel the whole generation
    // pipeline through a single task
    val tmp = outFile.resolveSibling(outFile.getFileName.toString + "_parts")
    df.write.mode("overwrite")
      .option("sep", "\t").option("header", "false")
      .option("nullValue", "\\N")
      .option("emptyValue", "")
      // the reference dialect has NO quoting (a quote is literal
      // data); the generated values contain no tabs/newlines
      .option("quote", "")
      .csv(tmp.toString)
    val out = java.nio.file.Files.newOutputStream(outFile)
    try {
      out.write((header.mkString("\t") + "\n").getBytes("UTF-8"))
      Harness.listDir(tmp)
        .filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
        .foreach(p => java.nio.file.Files.copy(p, out))
    } finally out.close()
    // remove the part directory; the single .tsv is the artifact
    Harness.rmTree(tmp)
  }

  /** Generate the seven-dataset TSV folder for `titles` titles (and
    * an equal number of names). Deterministic: spark.range + pure
    * column arithmetic, no driver-side rows. */
  def generate(spark: SparkSession, dir: java.nio.file.Path,
      titles: Long): Map[String, Long] = {
    // episode generation takes pmod(id, titles/10): below 10 titles
    // the modulus is zero — fail with the knob's name, not a
    // DIVIDE_BY_ZERO from inside a generation job
    require(titles >= 10,
      s"BuildBench.generate: titles must be >= 10 (got $titles) — " +
        "the episode parent pool is the last tenth of the tconst space")
    val names = titles
    val tt = (c: org.apache.spark.sql.Column) => format_string("tt%09d", c)
    val nm = (c: org.apache.spark.sql.Column) => format_string("nm%09d", c)
    val titleTypes = array(Seq("movie", "short", "tvSeries", "tvEpisode",
      "video", "tvMovie").map(lit): _*)
    val genresArr = array(Seq("Action", "Comedy", "Drama", "Horror",
      "Documentary", "Romance", "Thriller").map(lit): _*)
    val regions = array(Seq("US", "DE", "FR", "JP", "GB", "IN").map(lit): _*)
    val langs = array(Seq("en", "de", "fr", "ja", "en", "hi").map(lit): _*)
    val cats = array(Seq("actor", "actress", "director", "writer",
      "producer", "cinematographer").map(lit): _*)

    val basics = spark.range(titles).select(
      tt(col("id")).as("tconst"),
      element_at(titleTypes, pmod(col("id"), lit(6)).cast("int") + 1)
        .as("titleType"),
      format_string("Primary Title %d of the synthetic corpus", col("id"))
        .as("primaryTitle"),
      format_string("Original Title %d", col("id")).as("originalTitle"),
      pmod(col("id"), lit(50)).equalTo(0).cast("int").cast("string")
        .as("isAdult"),
      (lit(1900) + pmod(col("id"), lit(120))).cast("string").as("startYear"),
      when(pmod(col("id"), lit(7)) === 0,
        (lit(1960) + pmod(col("id"), lit(60))).cast("string")).as("endYear"),
      when(pmod(col("id"), lit(11)) =!= 0,
        (lit(40) + pmod(col("id"), lit(140))).cast("string"))
        .as("runtimeMinutes"),
      when(pmod(col("id"), lit(13)) =!= 0, concat_ws(",",
        element_at(genresArr, pmod(col("id"), lit(7)).cast("int") + 1),
        element_at(genresArr, pmod(col("id") * 3, lit(7)).cast("int") + 1)))
        .as("genres"))
    writeTsv(basics, ImdbDataset.TitleBasics.schema.fieldNames,
      dir.resolve("title.basics.tsv"))

    val nameRows = spark.range(names).select(
      nm(col("id")).as("nconst"),
      format_string("Synthetic Person %d", col("id")).as("primaryName"),
      (lit(1900) + pmod(col("id"), lit(100))).cast("string").as("birthYear"),
      when(pmod(col("id"), lit(5)) === 0,
        (lit(1970) + pmod(col("id"), lit(50))).cast("string")).as("deathYear"),
      when(pmod(col("id"), lit(17)) =!= 0, concat_ws(",",
        element_at(cats, pmod(col("id"), lit(6)).cast("int") + 1),
        element_at(cats, pmod(col("id") * 5, lit(6)).cast("int") + 1)))
        .as("primaryProfession"),
      when(pmod(col("id"), lit(3)) =!= 0, concat_ws(",",
        tt(pmod(col("id"), lit(titles))),
        tt(pmod(col("id") * 7 + 1, lit(titles))))).as("knownForTitles"))
    writeTsv(nameRows, ImdbDataset.NameBasics.schema.fieldNames,
      dir.resolve("name.basics.tsv"))

    val akasPerTitle = 3L
    val akas = spark.range(titles * akasPerTitle).select(
      tt(floor(col("id") / akasPerTitle).cast("long")).as("titleId"),
      (pmod(col("id"), lit(akasPerTitle)) + 1).cast("string").as("ordering"),
      format_string("Aka Title %d", col("id")).as("title"),
      element_at(regions, pmod(col("id"), lit(6)).cast("int") + 1)
        .as("region"),
      element_at(langs, pmod(col("id"), lit(6)).cast("int") + 1)
        .as("language"),
      when(pmod(col("id"), lit(4)) === 0, lit("imdbDisplay")).as("types"),
      when(pmod(col("id"), lit(9)) === 0, lit("literal title"))
        .as("attributes"),
      when(pmod(col("id"), lit(akasPerTitle)) === 0, lit("1"))
        .otherwise(lit("0")).as("isOriginalTitle"))
    writeTsv(akas, ImdbDataset.TitleAkas.schema.fieldNames,
      dir.resolve("title.akas.tsv"))

    val crew = spark.range(titles).select(
      tt(col("id")).as("tconst"),
      when(pmod(col("id"), lit(19)) =!= 0, concat_ws(",",
        nm(pmod(col("id"), lit(names))),
        nm(pmod(col("id") * 11 + 3, lit(names))))).as("directors"),
      when(pmod(col("id"), lit(23)) =!= 0,
        nm(pmod(col("id") * 13 + 5, lit(names)))).as("writers"))
    writeTsv(crew, ImdbDataset.TitleCrew.schema.fieldNames,
      dir.resolve("title.crew.tsv"))

    // episodes are themselves titles: the first 30% of the tconst
    // space, each pointing at a parent in the last 10%
    val episodes = spark.range(titles * 3 / 10).select(
      tt(col("id")).as("tconst"),
      tt(lit(titles * 9 / 10) + pmod(col("id"), lit(titles / 10)))
        .as("parentTconst"),
      (pmod(col("id"), lit(12)) + 1).cast("string").as("seasonNumber"),
      (pmod(col("id"), lit(24)) + 1).cast("string").as("episodeNumber"))
    writeTsv(episodes, ImdbDataset.TitleEpisode.schema.fieldNames,
      dir.resolve("title.episode.tsv"))

    val principalsPerTitle = 6L
    val principals = spark.range(titles * principalsPerTitle).select(
      tt(floor(col("id") / principalsPerTitle).cast("long")).as("tconst"),
      (pmod(col("id"), lit(principalsPerTitle)) + 1).cast("string")
        .as("ordering"),
      // distinct nconst within a title (consecutive ids), arbitrary
      // collisions across titles — (nconst, tconst) stays dup-free,
      // matching the real files' dedup-key uniqueness
      nm(pmod(col("id"), lit(names))).as("nconst"),
      element_at(cats, pmod(col("id"), lit(6)).cast("int") + 1)
        .as("category"),
      when(pmod(col("id"), lit(6)) === 2, lit("principal job"))
        .as("job"),
      when(pmod(col("id"), lit(3)) =!= 0,
        format_string("[\"Character %d\"]", pmod(col("id"), lit(1000))))
        .as("characters"))
    writeTsv(principals, ImdbDataset.TitlePrincipals.schema.fieldNames,
      dir.resolve("title.principals.tsv"))

    // every other title is rated
    val ratings = spark.range(titles / 2).select(
      tt(col("id") * 2).as("tconst"),
      format_string("%d.%d", pmod(col("id"), lit(9)) + 1,
        pmod(col("id"), lit(10))).as("averageRating"),
      (lit(5) + pmod(col("id") * 37, lit(100000))).cast("string")
        .as("numVotes"))
    writeTsv(ratings, ImdbDataset.TitleRatings.schema.fieldNames,
      dir.resolve("title.ratings.tsv"))

    Map(
      "title.basics" -> titles,
      "name.basics" -> names,
      "title.akas" -> titles * akasPerTitle,
      "title.crew" -> titles,
      "title.episode" -> titles * 3 / 10,
      "title.principals" -> titles * principalsPerTitle,
      "title.ratings" -> titles / 2)
  }

  def main(args: Array[String]): Unit = Harness.withSession(run)

  /** The measured run on `spark` — a [[graft.Harness.session]] in
    * main, so the pipeline runs under the engine's actual session
    * defaults (bloom injection off, object-agg threshold, UTC, and
    * SPARK_GRAFT_CONF overrides for attribution A/Bs). */
  def run(spark: SparkSession): Unit = {
    val titles = sys.env.getOrElse("SPARK_GRAFT_BUILD_TITLES",
      "1400000").toLong
    val dir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BUILD_DIR", "/tmp/graft_build_bench"))
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BUILD_OUT",
      "BUILD_BENCH.json")

    def secs(t0: Long) = math.round((System.nanoTime() - t0) / 1e7) / 100.0

    // generate (or reuse) the TSV set — generation is tooling, not
    // the measured pipeline, but its wall time is reported honestly.
    // The marker is per-SCALE and all sibling-scale markers are
    // removed on (re)generation: the TSVs in `dir` are whatever was
    // generated LAST, so a stale marker from an earlier scale must
    // not let a later run at that scale reuse a differently-sized
    // corpus and report a fabricated tsv_mb/rows pairing.
    val marker = dir.resolve(s"GENERATED_$titles")
    var genSec = 0.0
    val rows: Map[String, Long] =
      if (java.nio.file.Files.exists(marker)) {
        val txt = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
        txt.split('\n').filter(_.nonEmpty).map { l =>
          val Array(k, v) = l.split('='); k -> v.toLong
        }.toMap
      } else {
        java.nio.file.Files.createDirectories(dir)
        Harness.listDir(dir)
          .filter(_.getFileName.toString.startsWith("GENERATED_"))
          .foreach(java.nio.file.Files.delete)
        val t0 = System.nanoTime()
        val r = generate(spark, dir, titles)
        genSec = secs(t0)
        java.nio.file.Files.write(marker,
          r.map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes("UTF-8"))
        r
      }
    val tsvMb = Harness.listDir(dir)
      .filter(_.getFileName.toString.endsWith(".tsv"))
      .map(java.nio.file.Files.size).sum / 1e6

    val wh = java.nio.file.Files.createTempDirectory("graft_build_wh")
    val p = Pimdb(spark)
    val (c1, t1) = (Harness.compiles, System.nanoTime())
    p.transfer(dir.toString, warehouse = Some(wh.toString))
    val transferSec = secs(t1)
    val (c2, t2) = (Harness.compiles, System.nanoTime())
    val normalized = p.build(warehouse = Some(wh.toString))
    val buildSec = secs(t2)
    val c3 = Harness.compiles
    require(p.buildWarnings.isEmpty,
      s"build validation warnings: ${p.buildWarnings.mkString("; ")}")

    // stamp the code identity the numbers were measured on — the r19
    // verdict's re-anchor ask ("the 100x headline is measured on r16
    // binaries") needed archaeology to even ask; "unknown" outside a
    // git checkout rather than a crash
    val commit =
      try {
        val pr = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
          .redirectErrorStream(true).start()
        val out = new String(pr.getInputStream.readAllBytes, "UTF-8").trim
        if (pr.waitFor() == 0 && out.nonEmpty && !out.contains(' ')) out
        else "unknown"
      } catch { case _: Exception => "unknown" }

    val json =
      s"""{"metric":"imdb_transfer_build","titles":$titles,""" +
        s""""commit":"$commit",""" +
        s""""transfer_sec":$transferSec,""" +
        // round the sum like secs() rounds its addends — the raw
        // Double sum prints FP noise (372.34+118.7 = 491.03999…)
        s""""build_sec":$buildSec,"total_sec":${
          math.round((transferSec + buildSec) * 100) / 100.0},""" +
        // generated classes compiled in each half: a thrashing
        // generated-class cache shows as a count, not only as seconds
        s""""transfer_compiles":${c2 - c1},"build_compiles":${c3 - c2},""" +
        s""""tsv_mb":${math.round(tsvMb)},"gen_sec":$genSec,""" +
        s""""rows":{${rows.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString(",")}},""" +
        s""""normalized_tables":${normalized.tables.size},""" +
        // the require above already aborted on any warning, so a
        // written line is by construction validation-clean — the
        // field makes that legible to a reader of the artifact
        s""""validation_clean":true,"cpus":${spark.sparkContext.defaultParallelism}}"""
    println(json)
    // ONE row per scale, accumulated: the artifact holds the 1 GB
    // working-scale row AND the full-IMDb-volume row side by side
    // (JSONL). A re-run at an existing scale replaces that scale's
    // row; rows from before the `titles` field predate the format
    // and are dropped on first contact.
    val path = java.nio.file.Paths.get(outPath)
    val prior =
      if (java.nio.file.Files.exists(path))
        new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
          .split('\n').toSeq.filter(_.nonEmpty)
          .filter(l => l.contains("\"titles\":") &&
            !l.contains(s""""titles":$titles,"""))
      else Seq.empty
    java.nio.file.Files.write(path,
      (prior :+ json).mkString("", "\n", "\n").getBytes("UTF-8"))
    // the warehouse is measurement scratch (up to ~3 GB of parquet at
    // full-IMDb volume) — without this, every run leaked its own copy
    // to the temp filesystem. The generated TSV corpus in `dir` stays:
    // it is the reusable, marker-validated INPUT.
    Harness.rmTree(wh)
  }

}
