package graft.imdb

import org.apache.spark.sql.types._

/** The seven IMDb dataset tables: declared (not inferred) schemas,
  * dedup keys, and naming — the Spark analog of the reference's
  * dataset-table metadata (reference: pimdb/database.py:85-163,
  * pimdb/common.py:98-106).
  */
sealed abstract class ImdbDataset(val datasetName: String) {
  /** PascalCase SQL table/view name, e.g. "title.basics" → "TitleBasics"
    * (reference: pimdb/common.py:298-312 camelized_dot_name). */
  val tableName: String = ImdbDataset.camelizedDotName(datasetName)
  /** File name inside a dataset folder, e.g. title.basics.tsv.gz. */
  def fileName: String = s"$datasetName.tsv.gz"
  def schema: StructType
  /** First-occurrence-wins dedup key for the TSV scan (reference:
    * pimdb/common.py:98-106 — note TitlePrincipals dedups on
    * (nconst, tconst), distinct from its (tconst, ordering) PK). */
  def keyColumns: Seq[String]
}

object ImdbDataset {

  def camelizedDotName(name: String): String =
    name.split('.').map(_.capitalize).mkString

  private def f(name: String, t: DataType, nullable: Boolean = true) =
    StructField(name, t, nullable)

  case object TitleBasics extends ImdbDataset("title.basics") {
    val schema: StructType = StructType(Seq(
      f("tconst", StringType, nullable = false),
      f("titleType", StringType, nullable = false),
      f("primaryTitle", StringType),
      f("originalTitle", StringType),
      f("isAdult", BooleanType, nullable = false),
      f("startYear", IntegerType),
      f("endYear", IntegerType),
      f("runtimeMinutes", IntegerType),
      f("genres", StringType)))
    val keyColumns: Seq[String] = Seq("tconst")
  }

  case object NameBasics extends ImdbDataset("name.basics") {
    val schema: StructType = StructType(Seq(
      f("nconst", StringType, nullable = false),
      f("primaryName", StringType, nullable = false),
      f("birthYear", IntegerType),
      f("deathYear", IntegerType),
      f("primaryProfession", StringType),
      f("knownForTitles", StringType)))
    val keyColumns: Seq[String] = Seq("nconst")
  }

  case object TitleAkas extends ImdbDataset("title.akas") {
    val schema: StructType = StructType(Seq(
      f("titleId", StringType, nullable = false),
      f("ordering", IntegerType, nullable = false),
      f("title", StringType),
      f("region", StringType),
      f("language", StringType),
      f("types", StringType),
      f("attributes", StringType),
      // genuinely nullable (reference: database.py:123-124)
      f("isOriginalTitle", BooleanType)))
    val keyColumns: Seq[String] = Seq("titleId", "ordering")
  }

  case object TitleCrew extends ImdbDataset("title.crew") {
    val schema: StructType = StructType(Seq(
      f("tconst", StringType, nullable = false),
      f("directors", StringType),
      f("writers", StringType)))
    val keyColumns: Seq[String] = Seq("tconst")
  }

  case object TitleEpisode extends ImdbDataset("title.episode") {
    val schema: StructType = StructType(Seq(
      f("tconst", StringType, nullable = false),
      f("parentTconst", StringType, nullable = false),
      f("seasonNumber", IntegerType),
      f("episodeNumber", IntegerType)))
    val keyColumns: Seq[String] = Seq("tconst")
  }

  case object TitlePrincipals extends ImdbDataset("title.principals") {
    val schema: StructType = StructType(Seq(
      f("tconst", StringType, nullable = false),
      f("ordering", IntegerType, nullable = false),
      f("nconst", StringType, nullable = false),
      f("category", StringType, nullable = false),
      f("job", StringType),
      f("characters", StringType)))
    val keyColumns: Seq[String] = Seq("nconst", "tconst")
  }

  case object TitleRatings extends ImdbDataset("title.ratings") {
    val schema: StructType = StructType(Seq(
      f("tconst", StringType, nullable = false),
      f("averageRating", FloatType, nullable = false),
      f("numVotes", IntegerType, nullable = false)))
    val keyColumns: Seq[String] = Seq("tconst")
  }

  // lazy: the ImdbDataset constructor calls camelizedDotName on this
  // companion, so touching any case object BEFORE `all` would start
  // companion init mid-way through that object's own init and an
  // eager Seq would capture its still-null reference — a first-touch
  // order hazard for any caller. Deferring the Seq until first use
  // breaks the cycle for every access order.
  lazy val all: Seq[ImdbDataset] = Seq(
    TitleBasics, NameBasics, TitleAkas, TitleCrew,
    TitleEpisode, TitlePrincipals, TitleRatings)

  /** Datasets the `build` step consumes — title.crew is loaded but
    * intentionally unused by build (reference: common.py:96, which has
    * a name-vs-value comparison bug; we implement the intent, SURVEY
    * §2.6 E2). */
  lazy val forNormalized: Seq[ImdbDataset] = all.filterNot(_ == TitleCrew)
}
