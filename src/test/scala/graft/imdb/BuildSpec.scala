package graft.imdb

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end transfer + build over the reference's fixture TSVs with
  * golden counts computed independently (DuckDB/python replica of the
  * reference semantics — see scripts/ and SURVEY §5), plus the docs
  * example queries run verbatim through the SQL passthrough.
  */
class BuildSpec extends SparkSpec {

  private lazy val dataDir = getClass.getResource("/imdb").getPath
  /** The fixture is transferred and built into a parquet warehouse,
    * the production path: every view reads the written parquet back. */
  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_build_wh").toString
  private def transferAndBuild(p: Pimdb): Unit = {
    p.transfer(dataDir, warehouse = Some(warehouse))
    p.build(Some(warehouse))
  }
  private lazy val pimdb = {
    val p = Pimdb(spark)
    transferAndBuild(p)
    p
  }
  private lazy val tables = pimdb.query("SELECT 1") // force init
  private def t(name: String) = spark.table(name)

  /** A copy of the fixture folder, for a test to plant rows in. */
  private def fixtureCopy(): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_badfix")
    java.nio.file.Files.list(java.nio.file.Paths.get(dataDir)).forEach { p =>
      java.nio.file.Files.copy(p, dir.resolve(p.getFileName.toString))
    }
    dir
  }

  /** The table's view, read back with the schema its frame was written
    * with, has exactly the schema parquet inference gives. */
  private def assertReadsAsInferred(table: String, dir: String): Unit =
    assert(t(table).schema ==
      spark.read.parquet(s"$warehouse/$dir/$table").schema, table)

  test("transfer progress: ticks carry monotone row totals and a final " +
    "closing update (reference command.py:187-191)") {
    val ticks = scala.collection.mutable.ArrayBuffer.empty[Long]
    // secondsBetween = 0: every task end ticks, so the fixture scan
    // exercises the cadence path without waiting 3 s
    val df = TransferProgress.withProgress(
      spark.sparkContext, n => ticks.synchronized { ticks += n },
      secondsBetween = 0.0) {
      val r = TsvReader.readCounted(spark, s"$dataDir/name.basics.tsv",
        ImdbDataset.NameBasics, None)
      try r.frame.count() finally r.release()
    }
    assert(df == 219L)
    assert(ticks.nonEmpty)
    assert(ticks.zip(ticks.tail).forall { case (a, b) => a <= b },
      s"totals must be monotone: $ticks")
    // the final callback reports everything the scan read — the whole
    // FILE, not the rows of whichever job ran first under the wrapper
    // (the "first job wins" latch regression: it reported 1 row for any
    // file while a 1-row header-inference job ran first)
    val fileRows = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dataDir/name.basics.tsv"))
      .count(_ == '\n'.toByte) - 1 // byte count: fixture has non-UTF8-default bytes
    assert(ticks.last >= fileRows,
      s"final tick ${ticks.last} < file rows $fileRows — progress " +
        "latched onto the wrong job")
  }

  test("transfer progress counts only the wrapped body's jobs: a job " +
    "another thread runs meanwhile over more rows leaves the closing " +
    "total at the file's rows") {
    val bigger = java.nio.file.Files.createTempFile("graft_bigger", ".txt")
    java.nio.file.Files.write(bigger,
      (1 to 5000).map(_.toString).mkString("\n").getBytes("UTF-8"))
    // started BEFORE the wrapper, so it does not inherit the body's tag
    val release = new java.util.concurrent.CountDownLatch(1)
    val other = new java.util.concurrent.atomic.AtomicLong(-1L)
    val thread = new Thread(() => {
      release.await()
      other.set(spark.read.text(bigger.toString).count())
    })
    thread.start()
    val ticks = scala.collection.mutable.ArrayBuffer.empty[Long]
    val rows = try TransferProgress.withProgress(
      spark.sparkContext, n => ticks.synchronized { ticks += n },
      secondsBetween = 0.0) {
      release.countDown()
      val r = TsvReader.readCounted(spark, s"$dataDir/name.basics.tsv",
        ImdbDataset.NameBasics, None)
      r.release()
      // the other thread's job runs while the listener is attached
      thread.join()
      r.rows
    } finally thread.join()
    assert(other.get == 5000L)
    assert(rows == 219L)
    val fileRows = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dataDir/name.basics.tsv"))
      .count(_ == '\n'.toByte) - 1
    assert(ticks.last == fileRows, ticks.toString)
  }

  test("one dataset's transfer into a warehouse runs at most 2 Spark jobs " +
    "and leaves nothing cached") {
    val wh = java.nio.file.Files.createTempDirectory("graft_one_action")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.catalog.clearCache()
    val p = Pimdb(spark)
    spark.sparkContext.addSparkListener(listener)
    try p.transfer(dataDir, Seq(ImdbDataset.TitleBasics), Some(wh.toString))
    finally {
      org.apache.spark.GraftBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get >= 1 && jobs.get <= 2, s"${jobs.get} jobs")
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(p.transferDuplicateCounts == Map("title.basics" -> 0L))
    assert(spark.read.parquet(s"$wh/datasets/TitleBasics").count() == 75L)
    graft.Harness.rmTree(wh)
    // restore the shared fixture's TitleBasics view
    pimdb.transfer(dataDir, Seq(ImdbDataset.TitleBasics), Some(warehouse))
  }

  test("transfer: all 7 dataset tables with golden counts") {
    pimdb // init
    val expected = Map(
      "TitleBasics" -> 75L, "NameBasics" -> 219L, "TitleAkas" -> 240L,
      "TitleCrew" -> 75L, "TitleEpisode" -> 43L, "TitlePrincipals" -> 572L,
      "TitleRatings" -> 12L)
    expected.foreach { case (n, c) => assert(t(n).count() == c, n) }
    expected.keys.foreach(assertReadsAsInferred(_, "datasets"))
  }

  test("build: all 15 normalized tables with golden counts") {
    pimdb
    val expected = Map(
      "title_alias_type" -> 8L, "title_type" -> 6L, "genre" -> 15L,
      "profession" -> 10L, "name" -> 219L, "title" -> 75L,
      "title_alias" -> 240L, "title_alias_to_title_alias_type" -> 35L,
      "episode" -> 42L, "participation" -> 572L, "character" -> 120L,
      "temp_characters_to_character" -> 123L,
      "participation_to_character" -> 266L,
      "name_to_known_for_title" -> 122L, "title_to_genre" -> 91L)
    expected.foreach { case (n, c) => assert(t(n).count() == c, n) }
    expected.keys.foreach(assertReadsAsInferred(_, "normalized"))
  }

  test("surrogate ids are dense 1..N in sorted natural-key order") {
    pimdb
    val genres = t("genre").orderBy("id").collect()
    assert(genres.map(_.getInt(0)).toSeq == (1 to genres.length))
    assert(genres.map(_.getString(1)).toSeq == genres.map(_.getString(1)).toSeq.sorted)
    val names = t("name").orderBy("id").select("nconst").collect().map(_.getString(0))
    assert(names.toSeq == names.toSeq.sorted)
  }

  test("surrogate ids refuse input whose columns collide with internals") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("k", "_mid")
    val e = intercept[IllegalArgumentException] {
      graft.imdb.SurrogateIds.assign(df, "id", Seq(col("k")))
    }
    assert(e.getMessage.contains("_mid"))
  }

  test("title: left-outer ratings coalesce to 0 (reference database.py:907-917)") {
    pimdb
    val unrated = t("title").filter(col("rating_count") === 0).count()
    // only 12 of 75 titles are rated in the fixture
    assert(unrated == 75L - 12L)
    assert(t("title").filter(col("average_rating").isNull).count() == 0)
  }

  test("ordered relation tables: (from_id, ordering) unique (SURVEY W2)") {
    pimdb
    Seq(
      ("title_alias", Seq("title_id", "ordering")),
      ("participation", Seq("title_id", "ordering")),
      ("title_to_genre", Seq("title_id", "ordering")),
      ("name_to_known_for_title", Seq("name_id", "ordering"))).foreach {
      case (table, keys) =>
        val dups = t(table).groupBy(keys.map(col): _*)
          .count().filter(col("count") > 1).count()
        assert(dups == 0, s"$table has duplicate ${keys.mkString(",")}")
    }
  }

  test("genres_for_wyrmwood example query returns ordered genres") {
    pimdb
    val rows = pimdb.query(
      """select title.tconst, title.primary_title, genre.name as genre_name
        |from title
        |join title_to_genre on title_to_genre.title_id = title.id
        |join genre on genre.id = title_to_genre.genre_id
        |where title.tconst = 'tt2535470'
        |order by title.tconst, title_to_genre.ordering""".stripMargin).collect()
    assert(rows.map(_.getAs[String]("genre_name")).toSeq ==
      Seq("Action", "Comedy", "Horror"))
    assert(rows.head.getAs[String]("primary_title") == "Wyrmwood: Road of the Dead")
  }

  test("james-bond example query runs verbatim incl. quoted \"character\"") {
    pimdb
    val df = pimdb.query(
      """select title.primary_title as "Title", title.start_year as "Year",
        |       name.primary_name as "Actor", "character".name as "Character"
        |from "character"
        |join participation_to_character on
        |  participation_to_character.character_id = "character".id
        |join participation on
        |  participation.id = participation_to_character.participation_id
        |join name on name.id = participation.name_id
        |join title on title.id = participation.title_id
        |join title_type on title_type.id = title.title_type_id
        |where "character".name = 'James Bond' and title_type.name = 'movie'
        |order by title.start_year, name.primary_name, title.primary_title""".stripMargin)
    // fixture is built around a different seed person: query must run, 0 rows
    assert(df.count() == 0)
  }

  test("dataset-table example query (titles_directed_by_alan_smithee)") {
    pimdb
    val df = pimdb.query(
      """select TitleBasics.primaryTitle, TitleBasics.startYear
        |from TitleBasics
        |join TitlePrincipals on TitlePrincipals.tconst = TitleBasics.tconst
        |join NameBasics on NameBasics.nconst = TitlePrincipals.nconst
        |where NameBasics.primaryName = 'Alan Smithee'
        |  and TitlePrincipals.category = 'director'""".stripMargin)
    assert(df.count() == 0) // Smithee is present but directs nothing in-fixture
  }

  test("known-for example query (titles_alan_smithee_is_known_for) incl. consumption order") {
    pimdb
    // docs/examples/titles_alan_smithee_is_known_for.sql, verbatim
    val smithee = pimdb.query(
      """select
        |    title.primary_title,
        |    title.start_year
        |from
        |    name_to_known_for_title
        |    join name on
        |        name.id = name_to_known_for_title.name_id
        |    join title on
        |        title.id = name_to_known_for_title.title_id
        |where
        |    name.primary_name = 'Alan Smithee'""".stripMargin)
    // Smithee is in-fixture but none of his knownForTitles are: the
    // build's inner join to title drops danglers, so the verbatim
    // example is empty on the fixture
    assert(smithee.count() == 0)
    // same shape on a person whose known-for titles ARE all in-fixture,
    // ordered by the known-for consumption order — the `ordering`
    // column the reference derives from the comma-list position
    // (database.py known_for_titles split); exact rows, exact order
    val rows = pimdb.query(
      """select title.primary_title, title.start_year
        |from name_to_known_for_title
        |join name on name.id = name_to_known_for_title.name_id
        |join title on title.id = name_to_known_for_title.title_id
        |where name.primary_name = 'Tristan Roache-Turner'
        |order by name_to_known_for_title.ordering""".stripMargin).collect()
    assert(rows.map(r => (r.getAs[String]("primary_title"),
      Option(r.getAs[Any]("start_year")))).toSeq == Seq(
      ("Wyrmwood: Chronicles of the Dead - Teaser", Some(2017)),
      ("Wyrmwood TV", None),
      ("Wyrmwood: Road of the Dead", Some(2014))))
  }

  test("participation joins are consistent: every participation row " +
    "references existing name/title/profession ids") {
    pimdb
    val p = t("participation")
    assert(p.join(t("name"), p("name_id") === t("name")("id"), "left_anti").count() == 0)
    assert(p.join(t("title"), p("title_id") === t("title")("id"), "left_anti").count() == 0)
  }

  test("title_crew is transferred but unused by build (SURVEY E2)") {
    pimdb
    assert(t("TitleCrew").count() == 75)
  }

  test("healthy build passes validation: no warnings, zero transfer duplicates " +
    "(reference database.py:925-942, common.py:224)") {
    pimdb
    assert(pimdb.buildWarnings.isEmpty, pimdb.buildWarnings.mkString("; "))
    assert(pimdb.transferDuplicateCounts.size == 7)
    assert(pimdb.transferDuplicateCounts.values.forall(_ == 0L),
      pimdb.transferDuplicateCounts.toString)
  }

  test("transfer counts key-duplicates like the reference's duplicate_count, " +
    "in the same single scan that dedups") {
    val counted = TsvReader.readCounted(spark,
      getClass.getResource("/imdb/name.basics.duplicate.tsv").getPath,
      ImdbDataset.NameBasics, None)
    try {
      assert(counted.duplicateCount == 1L)
      // the deduped frame from the same pass keeps the first occurrence
      assert(counted.frame.count() ==
        counted.frame.select("nconst").distinct().count())
      assert(!counted.frame.columns.exists(_.startsWith("_")))
    } finally counted.release()
  }

  test("validate warns on row-count deviation and on empty target tables") {
    import spark.implicits._
    val tb = Seq("tt1").toDF("tconst")
    val tp = Seq(("tt1", 1), ("tt1", 2)).toDF("tconst", "ordering")
    val normalized = Build.Normalized(Map(
      "title" -> tb,               // 1 row, matches TitleBasics
      "participation" -> tb.limit(0), // 0 vs 2 source rows → deviation
      "title_alias_type" -> tb, "title_type" -> tb,
      "genre" -> tb.limit(0),      // empty key table → has-data warning
      "profession" -> tb, "title_alias" -> tb,
      "participation_to_character" -> tb))
    val wh = java.nio.file.Files.createTempDirectory("graft_validate_wh")
    // the warnings from count() over the frames, and from the counts
    // warehouse writes observe
    def both(datasets: Map[ImdbDataset, org.apache.spark.sql.DataFrame],
        built: Build.Normalized): Seq[Seq[String]] = {
      def observed(df: org.apache.spark.sql.DataFrame): Long =
        Build.writeCounted(df, s"$wh/${java.util.UUID.randomUUID}")._2
      Seq(
        Build.validate(datasets.map { case (d, df) => d -> df.count() },
          Build.rowCounts(built)),
        Build.validate(datasets.map { case (d, df) => d -> observed(df) },
          built.tables.map { case (n, df) => n -> observed(df) }))
    }
    val warnings = both(
      Map(ImdbDataset.TitleBasics -> tb, ImdbDataset.TitlePrincipals -> tp),
      normalized)
    // the warnings keep the fixed order of the checks
    warnings.foreach(w => assert(w == Seq(
      "target table \"participation\" has 0 rows but should have 2 same " +
        "as source table \"TitlePrincipals\"",
      "target table \"genre\" should contain rows but is empty"),
      w.mkString("; ")))
    val titleShort = both(
      Map(ImdbDataset.TitleBasics -> tp, ImdbDataset.TitlePrincipals -> tp),
      normalized.copy(tables = normalized.tables ++ Map(
        "title_alias_type" -> tb.limit(0),
        "participation_to_character" -> tb.limit(0))))
    titleShort.foreach(w => assert(w == Seq(
      "target table \"title\" has 1 rows but should have 2 same as " +
        "source table \"TitleBasics\"",
      "target table \"participation\" has 0 rows but should have 2 same " +
        "as source table \"TitlePrincipals\"",
      "target table \"title_alias_type\" should contain rows but is empty",
      "target table \"genre\" should contain rows but is empty",
      "target table \"participation_to_character\" should contain rows " +
        "but is empty"),
      w.mkString("; ")))
    graft.Harness.rmTree(wh)
  }

  test("a build that throws mid-derive releases the hub cache and pins it " +
    "made and leaves no step thread (reference database.py:715-729)") {
    val dir = fixtureCopy()
    // unparsable characters JSON: the reference raises on it
    java.nio.file.Files.writeString(dir.resolve("title.principals.tsv"),
      "tt10070612\t99\tnm0000647\tactor\t\\N\t[\"Bond\n",
      java.nio.file.StandardOpenOption.APPEND)
    val reads = ImdbDataset.forNormalized.map(d =>
      TsvReader.readCounted(spark, s"$dir/${d.datasetName}.tsv", d, None))
    val datasets = ImdbDataset.forNormalized.zip(reads.map(_.frame)).toMap
    // cluster-safe pins are persisted, so a leaked pin shows as a
    // cache entry just like a leaked hub table
    spark.conf.set(graft.operators.Materialize.ClusterSafeKey, "true")
    try {
      spark.catalog.clearCache()
      val e = intercept[IllegalArgumentException](Build(datasets))
      assert(e.getMessage ==
        "cannot JSON parse TitlePrincipals.characters: [\"Bond")
      assert(spark.sharedState.cacheManager.isEmpty,
        "a failed build left hub tables or pins cached")
      def stepThreads = Thread.getAllStackTraces.keySet.toArray
        .map(_.asInstanceOf[Thread])
        .filter(t => t.isAlive && t.getName.startsWith(Concurrent.ThreadPrefix))
      val deadline = System.nanoTime() + 10e9.toLong
      while (stepThreads.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(stepThreads.isEmpty, stepThreads.map(_.getName).mkString(", "))
    } finally {
      spark.conf.unset(graft.operators.Materialize.ClusterSafeKey)
      reads.foreach(_.release())
    }
  }

  test("Build(datasets).release() frees the build's pins and hubs but " +
    "leaves a sibling SurrogateIds.assign pin made beforehand") {
    import spark.implicits._
    val reads = ImdbDataset.forNormalized.map(d =>
      TsvReader.readCounted(spark, s"$dataDir/${d.datasetName}.tsv", d, None))
    val datasets = ImdbDataset.forNormalized.zip(reads.map(_.frame)).toMap
    def pinnedIds(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    // cluster-safe pins are persisted RDDs, so a pin shows up in the
    // context's persistent set until it is released
    spark.conf.set(graft.operators.Materialize.ClusterSafeKey, "true")
    try {
      val before = pinnedIds()
      val sibling = SurrogateIds.assign(
        (1 to 40).map(i => s"sib$i").toDF("name"), "id", Seq(col("name")))
      val built = Build(datasets)
      // reading every table fills the hub caches
      built.tables.values.foreach(_.count())
      assert((pinnedIds() -- before).size > 1)
      built.release()
      assert((pinnedIds() -- before).size == 1,
        "the build's release freed a pin it did not make, or kept one it did")
      assert(sibling.frame.count() == 40)
      sibling.release()
      assert((pinnedIds() -- before).isEmpty)
    } finally {
      spark.conf.unset(graft.operators.Materialize.ClusterSafeKey)
      reads.foreach(_.release())
    }
  }

  test("a principal referencing an unknown name surfaces a row-count warning " +
    "end-to-end (silent inner-join row loss, database.py:703)") {
    val dir = fixtureCopy()
    // append a principals row whose nconst exists nowhere in NameBasics:
    // the participation build inner-joins to name and silently drops it
    java.nio.file.Files.writeString(dir.resolve("title.principals.tsv"),
      "tt10070612\t99\tnm9999999\tactor\t\\N\t\\N\n",
      java.nio.file.StandardOpenOption.APPEND)
    val p = Pimdb(spark)
    p.transfer(dir.toString)
    try {
      p.build()
      assert(p.buildWarnings.exists(w =>
        w.contains("\"participation\" has 572 rows but should have 573")),
        p.buildWarnings.mkString("; "))
    } finally {
      // restore the pristine fixture views for other lazily-ordered tests
      transferAndBuild(pimdb)
    }
  }

  test("double-quoted identifiers inside string literals are untouched") {
    val p = Pimdb(spark)
    assert(p.rewriteQuotedIdentifiers(
      """select "character".name from "character" where t = '"tv"'""") ==
      """select `character`.name from `character` where t = '"tv"'""")
    // '' escape inside a literal keeps the span literal
    assert(p.rewriteQuotedIdentifiers("""where t = 'it''s a "quoted" word'""") ==
      """where t = 'it''s a "quoted" word'""")
    assert(p.rewriteQuotedIdentifiers("""select "a" from x where y = 'b' and "c" = 'd'""") ==
      """select `a` from x where y = 'b' and `c` = 'd'""")
  }
}
