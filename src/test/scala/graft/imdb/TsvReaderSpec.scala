package graft.imdb

import graft.SparkSpec
import java.nio.file.Files

/** S2/S4 scan semantics: \N nulls, no quoting, strict bool decode,
  * non-nullable defaulting, first-occurrence-wins dedup
  * (reference: pimdb/common.py:183-265, pimdb/database.py:320-355). */
class TsvReaderSpec extends SparkSpec {

  private def fixture(name: String): String =
    getClass.getResource(s"/imdb/$name").getPath

  private def tempTsv(lines: String*): String = {
    val f = Files.createTempFile("graft", ".tsv")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("reads and types name.basics fixture") {
    val df = TsvReader.read(spark, fixture("name.basics.tsv"), ImdbDataset.NameBasics)
    assert(df.count() == 219)
    assert(df.schema("birthYear").dataType.typeName == "integer")
    val smithee = df.filter(df("nconst") === "nm0000647").collect()
    assert(smithee.length == 1)
    assert(smithee(0).getAs[String]("primaryName") == "Alan Smithee")
    assert(smithee(0).isNullAt(smithee(0).fieldIndex("birthYear")))
  }

  test("duplicate keys: first occurrence wins") {
    val path = tempTsv(
      "nconst\tprimaryName\tbirthYear\tdeathYear\tprimaryProfession\tknownForTitles",
      "nm1\tFirst Row\t1970\t\\N\tactor\t\\N",
      "nm1\tSecond Row\t1980\t\\N\twriter\t\\N",
      "nm2\tOther\t\\N\t\\N\t\\N\t\\N")
    val df = TsvReader.read(spark, path, ImdbDataset.NameBasics)
    assert(df.count() == 2)
    val kept = df.filter(df("nconst") === "nm1").collect()(0)
    assert(kept.getAs[String]("primaryName") == "First Row")
    assert(kept.getAs[Int]("birthYear") == 1970)
  }

  test("reference duplicate fixture collapses to one row") {
    val df = TsvReader.read(spark, fixture("name.basics.duplicate.tsv"),
      ImdbDataset.NameBasics)
    assert(df.count() == 1)
  }

  test("nullable boolean keeps \\N as null; 0/1 decode") {
    val df = TsvReader.read(spark, fixture("title.akas.tsv"), ImdbDataset.TitleAkas)
    val vals = df.select("isOriginalTitle").distinct().collect()
      .map(r => if (r.isNullAt(0)) "null" else r.getBoolean(0).toString).toSet
    assert(vals.contains("false") || vals.contains("true"))
  }

  test("non-nullable column defaults \\N to type default") {
    val path = tempTsv(
      "tconst\taverageRating\tnumVotes",
      "tt1\t\\N\t\\N")
    val df = TsvReader.read(spark, path, ImdbDataset.TitleRatings)
    val r = df.collect()(0)
    assert(r.getAs[Float]("averageRating") == 0.0f)
    assert(r.getAs[Int]("numVotes") == 0)
  }

  test("strict mode rejects malformed booleans") {
    val path = tempTsv(
      "tconst\ttitleType\tprimaryTitle\toriginalTitle\tisAdult\tstartYear\tendYear\truntimeMinutes\tgenres",
      "tt1\tmovie\tA\tA\tmaybe\t2000\t\\N\t90\tDrama")
    val ex = intercept[Exception] {
      TsvReader.read(spark, path, ImdbDataset.TitleBasics).collect()
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
      TsvReader.read(spark, path, ImdbDataset.TitleRatings).collect()
    }
    assert(ex.getMessage.contains("malformed value(s)"),
      s"expected the counted validation error, got: ${ex.getMessage}")
    // lenient: malformed values become null, then the non-nullable
    // default — the contract ANSI cast silently broke
    val df = TsvReader.read(spark, path, ImdbDataset.TitleRatings,
      strict = false).collect().map(r =>
      r.getString(0) -> ((r.getAs[Float](1), r.getAs[Int](2)))).toMap
    assert(df("tt1") == ((0.0f, 7)))
    assert(df("tt2") == ((5.5f, 0)))
  }

  test("value-set filter keeps only matching rows") {
    val df = TsvReader.read(spark, fixture("title.basics.tsv"),
      ImdbDataset.TitleBasics, filter = Map("titleType" -> Set("movie")))
    assert(df.count() > 0)
    assert(df.select("titleType").distinct().collect().map(_.getString(0)).toSeq == Seq("movie"))
  }

  test("dedup precedes the value filter: a key claimed by a filtered-out " +
    "first row drops its later filter-passing duplicate (common.py:238-252)") {
    val path = tempTsv(
      "nconst\tprimaryName\tbirthYear\tdeathYear\tprimaryProfession\tknownForTitles",
      "nm1\tFirst Row\t1970\t\\N\tactor\t\\N",   // claims nm1, fails filter
      "nm1\tSecond Row\t1980\t\\N\twriter\t\\N", // would pass, but is a dup
      "nm2\tOther\t\\N\t\\N\twriter\t\\N")
    val df = TsvReader.read(spark, path, ImdbDataset.NameBasics,
      filter = Map("primaryProfession" -> Set("writer")))
    assert(df.collect().map(_.getAs[String]("nconst")).toSeq == Seq("nm2"))
  }

  test("readCounted's duplicate metric is pre-filter like the reference " +
    "(common.py:255 counts before the filter check)") {
    val path = tempTsv(
      "nconst\tprimaryName\tbirthYear\tdeathYear\tprimaryProfession\tknownForTitles",
      "nm1\tFirst Row\t1970\t\\N\tactor\t\\N",
      "nm1\tSecond Row\t1980\t\\N\tactor\t\\N",
      "nm2\tOther\t\\N\t\\N\twriter\t\\N")
    val counted = TsvReader.readCounted(spark, path, ImdbDataset.NameBasics,
      filter = Map("primaryProfession" -> Set("no_such_profession")))
    try {
      assert(counted.duplicateCount == 1L) // counted though nothing is yielded
      assert(counted.frame.count() == 0L)
    } finally counted.release()

    // the strict checks ride the same aggregate, gated on the filter: a
    // malformed value on a row the filter rejects never raises, one on
    // a row the filter keeps raises the per-column error
    val malformed = tempTsv(
      "nconst\tprimaryName\tbirthYear\tdeathYear\tprimaryProfession\tknownForTitles",
      "nm1\tFirst Row\t19x0\t\\N\tactor\t\\N",
      "nm1\tSecond Row\t1980\t\\N\tactor\t\\N",
      "nm2\tOther\t\\N\t\\N\twriter\t\\N")
    val rejected = TsvReader.readCounted(spark, malformed,
      ImdbDataset.NameBasics, filter = Map("primaryProfession" -> Set("writer")))
    try {
      assert(rejected.duplicateCount == 1L)
      assert(rejected.frame.collect().map(_.getAs[String]("nconst")).toSeq ==
        Seq("nm2"))
    } finally rejected.release()
    val ex = intercept[IllegalArgumentException] {
      TsvReader.readCounted(spark, malformed, ImdbDataset.NameBasics,
        filter = Map("primaryProfession" -> Set("actor")))
    }
    assert(ex.getMessage ==
      "name.basics: birthYear has 1 malformed value(s) " +
        "(booleans must be 1/0, numerics must parse)", ex.getMessage)
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
    val got = TsvReader.read(spark, f.toString, ImdbDataset.NameBasics)
      .collect().map { r =>
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
    val df = TsvReader.read(spark, fixture("title.basics.tsv"),
      ImdbDataset.TitleBasics, filter = Map("titleType" -> Set("no_such_type")))
    assert(df.count() == 0)
  }

  test("quoting is disabled: stray quotes are data") {
    val path = tempTsv(
      "tconst\tdirectors\twriters",
      "tt1\tnm1,nm2\tsaid \"so\"")
    val r = TsvReader.read(spark, path, ImdbDataset.TitleCrew).collect()(0)
    assert(r.getAs[String]("writers") == "said \"so\"")
  }
}
