package graft.imdb

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** S2/S4 scan semantics: \N nulls, no quoting, strict bool decode,
  * non-nullable defaulting, first-occurrence-wins dedup
  * (reference: pimdb/common.py:183-265, pimdb/database.py:320-355). */
class TsvReaderSpec extends SparkSpec {

  private def fixture(name: String): String =
    getClass.getResource(s"/imdb/$name").getPath

  /** `f` over [[TsvReader.readCounted]]'s cached frame, released after. */
  private def withRead[T](path: String, dataset: ImdbDataset,
      filter: Map[String, Set[String]] = Map.empty,
      strict: Boolean = true)(f: DataFrame => T): T = {
    val r = TsvReader.readCounted(spark, path, dataset, None, filter, strict)
    try f(r.frame) finally r.release()
  }

  private def tempTsv(lines: String*): String = {
    val f = Files.createTempFile("graft", ".tsv")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("reads and types name.basics fixture") {
    withRead(fixture("name.basics.tsv"), ImdbDataset.NameBasics) { df =>
      assert(df.count() == 219)
      assert(df.schema("birthYear").dataType.typeName == "integer")
      val smithee = df.filter(df("nconst") === "nm0000647").collect()
      assert(smithee.length == 1)
      assert(smithee(0).getAs[String]("primaryName") == "Alan Smithee")
      assert(smithee(0).isNullAt(smithee(0).fieldIndex("birthYear")))
    }
  }

  test("duplicate keys: first occurrence wins") {
    val path = tempTsv(
      "nconst\tprimaryName\tbirthYear\tdeathYear\tprimaryProfession\tknownForTitles",
      "nm1\tFirst Row\t1970\t\\N\tactor\t\\N",
      "nm1\tSecond Row\t1980\t\\N\twriter\t\\N",
      "nm2\tOther\t\\N\t\\N\t\\N\t\\N")
    val (n, kept) = withRead(path, ImdbDataset.NameBasics)(df =>
      (df.count(), df.filter(df("nconst") === "nm1").collect()(0)))
    assert(n == 2)
    assert(kept.getAs[String]("primaryName") == "First Row")
    assert(kept.getAs[Int]("birthYear") == 1970)
  }

  test("reference duplicate fixture collapses to one row") {
    assert(withRead(fixture("name.basics.duplicate.tsv"),
      ImdbDataset.NameBasics)(_.count()) == 1)
  }

  test("nullable boolean keeps \\N as null; 0/1 decode") {
    val vals = withRead(fixture("title.akas.tsv"), ImdbDataset.TitleAkas)(
      _.select("isOriginalTitle").distinct().collect())
      .map(r => if (r.isNullAt(0)) "null" else r.getBoolean(0).toString).toSet
    assert(vals.contains("false") || vals.contains("true"))
  }

  test("non-nullable column defaults \\N to type default") {
    val path = tempTsv(
      "tconst\taverageRating\tnumVotes",
      "tt1\t\\N\t\\N")
    val r = withRead(path, ImdbDataset.TitleRatings)(_.collect()(0))
    assert(r.getAs[Float]("averageRating") == 0.0f)
    assert(r.getAs[Int]("numVotes") == 0)
  }

  test("strict mode rejects malformed booleans") {
    val path = tempTsv(
      "tconst\ttitleType\tprimaryTitle\toriginalTitle\tisAdult\tstartYear\tendYear\truntimeMinutes\tgenres",
      "tt1\tmovie\tA\tA\tmaybe\t2000\t\\N\t90\tDrama")
    val ex = intercept[Exception] {
      withRead(path, ImdbDataset.TitleBasics)(_.collect())
    }
    assert(ex.getMessage != null)
  }

  test("strict mode rejects malformed NUMERICS with the counted " +
    "per-column error (not a raw ANSI cast crash), and strict=false " +
    "nulls-then-defaults them") {
    val path = tempTsv(
      "tconst\taverageRating\tnumVotes",
      "tt1\tnot_a_number\t7",
      "tt2\t5.5\talso_bad")
    // strict: the DOCUMENTED IllegalArgumentException with the count —
    // under ANSI mode a plain cast would throw SparkNumberFormatException
    // from inside the validation aggregate itself
    val ex = intercept[IllegalArgumentException] {
      withRead(path, ImdbDataset.TitleRatings)(_.collect())
    }
    assert(ex.getMessage.contains("malformed value(s)"),
      s"expected the counted validation error, got: ${ex.getMessage}")
    // lenient: malformed values become null, then the non-nullable
    // default — the contract ANSI cast silently broke
    val df = withRead(path, ImdbDataset.TitleRatings,
      strict = false)(_.collect()).map(r =>
      r.getString(0) -> ((r.getAs[Float](1), r.getAs[Int](2)))).toMap
    assert(df("tt1") == ((0.0f, 7)))
    assert(df("tt2") == ((5.5f, 0)))
  }

  test("value-set filter keeps only matching rows") {
    withRead(fixture("title.basics.tsv"), ImdbDataset.TitleBasics,
        filter = Map("titleType" -> Set("movie"))) { df =>
      assert(df.count() > 0)
      assert(df.select("titleType").distinct().collect().map(_.getString(0)).toSeq == Seq("movie"))
    }
  }

  test("dedup precedes the value filter: a key claimed by a filtered-out " +
    "first row drops its later filter-passing duplicate (common.py:238-252)") {
    val path = tempTsv(
      "nconst\tprimaryName\tbirthYear\tdeathYear\tprimaryProfession\tknownForTitles",
      "nm1\tFirst Row\t1970\t\\N\tactor\t\\N",   // claims nm1, fails filter
      "nm1\tSecond Row\t1980\t\\N\twriter\t\\N", // would pass, but is a dup
      "nm2\tOther\t\\N\t\\N\twriter\t\\N")
    val kept = withRead(path, ImdbDataset.NameBasics,
      filter = Map("primaryProfession" -> Set("writer")))(_.collect())
    assert(kept.map(_.getAs[String]("nconst")).toSeq == Seq("nm2"))
  }

  test("readCounted's duplicate metric is pre-filter like the reference " +
    "(common.py:255 counts before the filter check)") {
    val path = tempTsv(
      "nconst\tprimaryName\tbirthYear\tdeathYear\tprimaryProfession\tknownForTitles",
      "nm1\tFirst Row\t1970\t\\N\tactor\t\\N",
      "nm1\tSecond Row\t1980\t\\N\tactor\t\\N",
      "nm2\tOther\t\\N\t\\N\twriter\t\\N")
    val counted = TsvReader.readCounted(spark, path, ImdbDataset.NameBasics,
      None, filter = Map("primaryProfession" -> Set("no_such_profession")))
    try {
      assert(counted.duplicateCount == 1L) // counted though nothing is yielded
      assert(counted.frame.count() == 0L)
    } finally counted.release()

    // the strict checks ride the same observation, gated on the filter: a
    // malformed value on a row the filter rejects never raises, one on
    // a row the filter keeps raises the per-column error
    val malformed = tempTsv(
      "nconst\tprimaryName\tbirthYear\tdeathYear\tprimaryProfession\tknownForTitles",
      "nm1\tFirst Row\t19x0\t\\N\tactor\t\\N",
      "nm1\tSecond Row\t1980\t\\N\tactor\t\\N",
      "nm2\tOther\t\\N\t\\N\twriter\t\\N")
    val rejected = TsvReader.readCounted(spark, malformed,
      ImdbDataset.NameBasics, None,
      filter = Map("primaryProfession" -> Set("writer")))
    try {
      assert(rejected.duplicateCount == 1L)
      assert(rejected.frame.collect().map(_.getAs[String]("nconst")).toSeq ==
        Seq("nm2"))
    } finally rejected.release()
    val ex = intercept[IllegalArgumentException] {
      TsvReader.readCounted(spark, malformed, ImdbDataset.NameBasics,
        None, filter = Map("primaryProfession" -> Set("actor")))
    }
    assert(ex.getMessage ==
      "name.basics: birthYear has 1 malformed value(s) " +
        "(booleans must be 1/0, numerics must parse)", ex.getMessage)
  }

  test("with a warehouse, a strict violation raises the per-column error " +
    "and leaves no parquet at the output directory") {
    val malformed = tempTsv(
      "tconst\taverageRating\tnumVotes",
      "tt1\t5.5\t7",
      "tt2\t6.0\tseven")
    val out = Files.createTempDirectory("graft_strict_wh").resolve("TitleRatings")
    val ex = intercept[IllegalArgumentException] {
      TsvReader.readCounted(spark, malformed, ImdbDataset.TitleRatings,
        Some(out.toString))
    }
    assert(ex.getMessage ==
      "title.ratings: numVotes has 1 malformed value(s) " +
        "(booleans must be 1/0, numerics must parse)", ex.getMessage)
    assert(!Files.exists(out), s"$out was left behind")
    // the same file without the bad row is written and read back
    val good = tempTsv("tconst\taverageRating\tnumVotes", "tt1\t5.5\t7")
    val r = TsvReader.readCounted(spark, good, ImdbDataset.TitleRatings,
      Some(out.toString))
    assert((r.rows, r.duplicateCount) == ((1L, 0L)))
    assert(r.frame.collect().map(_.getString(0)).toSeq == Seq("tt1"))
    assert(spark.read.parquet(out.toString).count() == 1L)
  }

  test("a header-only TSV reads as 0 rows and 0 duplicates, cached or " +
    "written") {
    val path = tempTsv("tconst\taverageRating\tnumVotes")
    val cached = TsvReader.readCounted(spark, path, ImdbDataset.TitleRatings, None)
    try {
      assert((cached.rows, cached.duplicateCount) == ((0L, 0L)))
      assert(cached.frame.count() == 0L)
    } finally cached.release()
    val out = Files.createTempDirectory("graft_empty_wh").resolve("TitleRatings")
    val written = TsvReader.readCounted(spark, path, ImdbDataset.TitleRatings,
      Some(out.toString))
    assert((written.rows, written.duplicateCount) == ((0L, 0L)))
    assert(written.frame.count() == 0L)
    assert(written.frame.columns.toSeq ==
      Seq("tconst", "averageRating", "numVotes"))
  }

  test("a .tsv.gz file's header is read through its codec: columns map by " +
    "name, extra columns are ignored, a missing one is named") {
    def gz(lines: String*): String = {
      val f = Files.createTempFile("graft", ".tsv.gz")
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
      try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
      f.toString
    }
    // header columns in a different order than the schema, plus an
    // extra one: mapping is by header name, like csv.DictReader
    val path = gz(
      "numVotes\textra\ttconst\taverageRating",
      "7\tx\ttt1\t5.5",
      "9\ty\ttt1\t6.5",
      "3\tz\ttt2\t\\N")
    val r = TsvReader.readCounted(spark, path, ImdbDataset.TitleRatings, None)
    try {
      assert((r.rows, r.duplicateCount) == ((2L, 1L)))
      assert(r.frame.orderBy("tconst").collect().map(row =>
        (row.getString(0), row.getFloat(1), row.getInt(2))).toSeq ==
        Seq(("tt1", 5.5f, 7), ("tt2", 0.0f, 3)))
    } finally r.release()
    val ex = intercept[IllegalArgumentException] {
      TsvReader.readCounted(spark, gz("tconst\tnumVotes", "tt1\t7"),
        ImdbDataset.TitleRatings, None)
    }
    assert(ex.getMessage ==
      "requirement failed: title.ratings: TSV is missing key column(s) " +
        "averageRating", ex.getMessage)
  }

  test("transfer from a URI folder holding only .tsv.gz files finds " +
    "them and reads them through their codec") {
    val dir = Files.createTempDirectory("graft_gz_transfer")
    val datasets = Seq(ImdbDataset.TitleRatings, ImdbDataset.TitleBasics)
    datasets.foreach { d =>
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(
        dir.resolve(s"${d.datasetName}.tsv.gz")))
      try out.write(Files.readAllBytes(
        java.nio.file.Paths.get(fixture(s"${d.datasetName}.tsv"))))
      finally out.close()
    }
    val folder = dir.toUri.toString.stripSuffix("/")
    assert(folder.startsWith("file:/"), folder)
    val wh = Files.createTempDirectory("graft_gz_warehouse")
    try {
      val frames = Pimdb(spark).transfer(folder, datasets, Some(wh.toString))
      datasets.foreach { d =>
        val plain = withRead(fixture(s"${d.datasetName}.tsv"), d)(_.count())
        assert(plain > 0 && frames(d).count() == plain, d.datasetName)
      }
    } finally datasets.foreach(d => spark.catalog.dropTempView(d.tableName))
  }

  test("property: typed decode matches a reference model over random rows " +
    "(500 seeded samples)") {
    // model of reference semantics (database.py:320-355): \N → null,
    // non-nullable null → default, ints parse, strings pass through
    val rnd = new scala.util.Random(7)
    def randBasicsRow(i: Int): (String, Option[Int], Option[Int]) = {
      val year1 = if (rnd.nextBoolean()) Some(1900 + rnd.nextInt(120)) else None
      val year2 = if (rnd.nextBoolean()) Some(1900 + rnd.nextInt(120)) else None
      (f"nm$i%07d", year1, year2)
    }
    val rows = (1 to 500).map(randBasicsRow)
    val tsv = ("nconst\tprimaryName\tbirthYear\tdeathYear\tprimaryProfession\tknownForTitles" +:
      rows.map { case (id, b, d) =>
        s"$id\tName $id\t${b.map(_.toString).getOrElse("\\N")}\t${d.map(_.toString).getOrElse("\\N")}\t\\N\t\\N"
      }).mkString("\n")
    val f = Files.createTempFile("graft_prop", ".tsv")
    Files.write(f, tsv.getBytes("UTF-8"))
    val got = withRead(f.toString, ImdbDataset.NameBasics)(_.collect())
      .map { r =>
        (r.getAs[String]("nconst"),
          if (r.isNullAt(r.fieldIndex("birthYear"))) None
          else Some(r.getAs[Int]("birthYear")),
          if (r.isNullAt(r.fieldIndex("deathYear"))) None
          else Some(r.getAs[Int]("deathYear")))
      }.toSet
    assert(got == rows.toSet)
  }

  test("strict validation handles empty input: a filter matching no rows " +
    "passes instead of NPE-ing on the null aggregate") {
    assert(withRead(fixture("title.basics.tsv"), ImdbDataset.TitleBasics,
      filter = Map("titleType" -> Set("no_such_type")))(_.count()) == 0)
  }

  test("quoting is disabled: stray quotes are data") {
    val path = tempTsv(
      "tconst\tdirectors\twriters",
      "tt1\tnm1,nm2\tsaid \"so\"")
    val r = withRead(path, ImdbDataset.TitleCrew)(_.collect()(0))
    assert(r.getAs[String]("writers") == "said \"so\"")
  }
}
