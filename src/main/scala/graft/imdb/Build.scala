package graft.imdb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** The `build` step: derive the 15 normalized tables from the 7
  * dataset tables (reference: pimdb/command.py:198-220,
  * pimdb/database.py:568-1112) — every step a single declarative
  * DataFrame expression. Where the reference streams rows through the
  * driver (explode/JSON steps), here the whole transform stays on
  * executors; where it hand-rolls lookup dicts, we broadcast-join.
  *
  * Scale notes:
  *  - key tables (genre/profession/title_type/title_alias_type) are
  *    tiny → always broadcast;
  *  - surrogate ids come from [[SurrogateIds.assign]] (two-phase, no
  *    global single-task window);
  *  - `character` can reach millions of rows (docs/datamodel.md:176-177)
  *    — same two-phase assignment, no broadcast;
  *  - the reference's repeated join-backs (e.g. participation →
  *    principals to recover `characters`) are flattened by carrying
  *    the column through the first join — provably equivalent because
  *    participation rows are built 1:1 from principals rows
  *    (database.py:765-811), and one fewer big shuffle each;
  *  - the steps that run Spark jobs eagerly (surrogate ids, the
  *    bad-JSON probe, [[validate]]'s checks) run concurrently where no
  *    data dependency orders them, so the driver submits their jobs
  *    together rather than one after another; Spark's task slots still
  *    cap the concurrent tasks.
  */
object Build {

  import ImdbDataset._

  final case class Normalized(tables: Map[String, DataFrame],
      release: () => Unit = () => ()) {
    def apply(name: String): DataFrame = tables(name)
    def registerViews(spark: SparkSession): Unit =
      tables.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    // release(): drop the hub-table cache backing these frames — call
    // once the tables are persisted elsewhere (warehouse parquet) or
    // superseded by a rebuild; the TsvReader.CountedRead.release
    // discipline, without which repeated builds in one session stack
    // MEMORY_AND_DISK copies until executor eviction
  }

  /** Post-build sanity checks, mirroring the reference's warnings —
    * a silent inner-join row loss is exactly what these catch:
    *  - row-count deviation: `title` vs TitleBasics
    *    (database.py:923-935) and `participation` vs TitlePrincipals
    *    (database.py:703);
    *  - has-data: the key tables (database.py:635), `title_alias`
    *    (database.py:1063) and `participation_to_character`
    *    (database.py:811).
    * Counts run over the persisted hub tables (or the written
    * parquet), so this costs a few scans, not a rebuild. The eight
    * checks run concurrently ([[Concurrent.all]]). Returns the warning
    * lines in the fixed order above (empty = healthy build); callers
    * log them.
    */
  def validate(datasets: Map[ImdbDataset, DataFrame],
      normalized: Normalized): Seq[String] = {
    def checkTableCount(source: DataFrame, sourceName: String,
        targetName: String): () => Option[String] = () => {
      val target = normalized(targetName).count()
      val expected = source.count()
      Option.when(target != expected)(
        s"""target table "$targetName" has $target rows but should have """ +
          s"""$expected same as source table "$sourceName"""")
    }
    def checkTableHasData(targetName: String): () => Option[String] = () =>
      Option.when(normalized(targetName).isEmpty)(
        s"""target table "$targetName" should contain rows but is empty""")

    // the checks run concurrently; the warnings keep this fixed order
    Concurrent.all(Seq(
      checkTableCount(datasets(TitleBasics), "TitleBasics", "title"),
      checkTableCount(datasets(TitlePrincipals), "TitlePrincipals", "participation")) ++
      Seq("title_alias_type", "title_type", "genre", "profession",
        "title_alias", "participation_to_character").map(checkTableHasData)
    ).flatten
  }

  /** Derives the 15 normalized tables. The hub tables (name/title/
    * alias/participation/characters) that up to six downstream builds
    * consume are persisted — otherwise every consumer re-sorts and
    * re-assigns surrogate ids from scratch; `release` drops them.
    *
    * The eager steps (every [[SurrogateIds.assign]] and the bad-JSON
    * probe run Spark jobs) run concurrently ([[Concurrent.all]]); the
    * returned tables are lazy. A derive that throws releases the hub
    * cache and pins it made before rethrowing.
    */
  def apply(datasets: Map[ImdbDataset, DataFrame]): Normalized = {
    val spark = datasets.head._2.sparkSession
    import spark.implicits._

    val hubs = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    def hub(df: DataFrame): DataFrame = {
      hubs.add(df)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    def release(): Unit = {
      hubs.forEach(df => { df.unpersist(); () })
      // the stamped-frame pins behind every SurrogateIds.assign in
      // this build, made on the step threads
      SurrogateIds.releasePins(spark)
    }

    val titleBasics = datasets(TitleBasics)
    val nameBasics = datasets(NameBasics)
    val titleAkas = datasets(TitleAkas)
    val titleEpisode = datasets(TitleEpisode)
    val titlePrincipals = datasets(TitlePrincipals)
    val titleRatings = datasets(TitleRatings)

    def keyTable(values: DataFrame): DataFrame =
      SurrogateIds.assign(values.toDF("name"), "id", Seq(col("name")))

    // The eager steps are lazy vals, forced together below. A step
    // that reads another step's table waits for it (a local lazy val
    // initializes under its own lock), so the key tables, name and
    // the characters step start at once, title_type -> title runs as
    // one chain, and title_alias and participation start once title,
    // name and profession are ready. A step whose input threw runs
    // that input again and throws the same way.

    // -- key tables (reference: database.py:593-667) ----------------
    lazy val titleAliasType = keyTable(AliasTypes.Vocabulary.toDF())
    lazy val titleType = keyTable(titleBasics.select($"titleType").distinct())
    lazy val genre = keyTable(
      titleBasics.filter($"genres".isNotNull)
        .select(explode(split($"genres", ",")).as("name")).distinct())
    lazy val profession = keyTable(titlePrincipals.select($"category").distinct())

    // -- name (reference: database.py:817-842) ----------------------
    lazy val name = hub(SurrogateIds.assign(
      nameBasics.select(
        $"nconst", $"primaryName".as("primary_name"),
        $"birthYear".as("birth_year"), $"deathYear".as("death_year"),
        $"primaryProfession".as("primary_professions")),
      "id", Seq(col("nconst"))))

    // -- title: J3 inner ⋈ broadcast(title_type), LEFT OUTER ratings
    //    with coalesce-to-0 (reference: database.py:876-923) ---------
    lazy val title = hub(SurrogateIds.assign(
      titleBasics
        .join(broadcast(titleType.select($"id".as("title_type_id"), $"name")),
          $"name" === $"titleType")
        .join(titleRatings.select($"tconst".as("r_tconst"),
          $"averageRating", $"numVotes"),
          $"tconst" === $"r_tconst", "left_outer")
        .select(
          $"tconst", $"title_type_id",
          $"primaryTitle".as("primary_title"),
          $"originalTitle".as("original_title"),
          $"isAdult".as("is_adult"),
          $"startYear".as("start_year"), $"endYear".as("end_year"),
          $"runtimeMinutes".as("runtime_minutes"),
          coalesce($"averageRating", lit(0.0f)).as("average_rating"),
          coalesce($"numVotes", lit(0)).as("rating_count")),
      "id", Seq(col("tconst"))))

    // -- title_alias (J5, reference: database.py:1031-1063); `types`
    //    carried internally for the alias-type explode below ---------
    lazy val aliasWithTypes = hub(SurrogateIds.assign(
      title.select($"id".as("title_id"), $"tconst")
        .join(titleAkas, $"titleId" === $"tconst")
        .select(
          $"title_id", $"ordering", $"title",
          $"region".as("region_code"),      // NOT lowercased (database.py:1053-1054)
          $"language".as("language_code"),
          $"isOriginalTitle".as("is_original_title"),
          $"types"),
      "id", Seq(col("title_id"), col("ordering"))))

    // -- participation (J1, reference: database.py:669-703);
    //    `characters` carried internally for the character bridge ----
    lazy val participationWithChars = hub(SurrogateIds.assign(
      titlePrincipals
        .join(name.select($"id".as("name_id"), $"nconst".as("n_nconst")),
          $"n_nconst" === $"nconst")
        .join(title.select($"id".as("title_id"), $"tconst".as("t_tconst")),
          $"t_tconst" === $"tconst")
        .join(broadcast(profession
          .select($"id".as("profession_id"), $"name".as("prof_name"))),
          $"prof_name" === $"category")
        .select($"title_id", $"ordering", $"name_id", $"profession_id",
          $"job", $"characters"),
      "id", Seq(col("title_id"), col("ordering"))))

    // -- character (reference: database.py:705-763): parse each
    //    DISTINCT characters-JSON once; ids over sorted distinct
    //    character names --------------------------------------------
    val charsParsed = hub(titlePrincipals
      .filter($"characters".isNotNull).select($"characters").distinct()
      .withColumn("names", from_json($"characters", ArrayType(StringType))))
    lazy val character = {
      // reference raises on unparsable/non-list JSON (database.py:715-729);
      // checked eagerly here — an in-row raise_error can fire spuriously
      // when hoisted into pushed-down predicates by codegen CSE.
      val badJson = charsParsed.filter($"names".isNull).select($"characters")
        .limit(1).collect()
      if (badJson.nonEmpty) throw new IllegalArgumentException(
        s"cannot JSON parse TitlePrincipals.characters: ${badJson(0).getString(0)}")
      SurrogateIds.assign(
        charsParsed.select(explode($"names").as("name")).distinct(),
        "id", Seq(col("name")))
    }

    try Concurrent.all(Seq(() => titleAliasType, () => genre,
      () => profession, () => name, () => title, () => aliasWithTypes,
      () => participationWithChars, () => character))
    catch { case e: Throwable => release(); throw e }

    // -- the remaining tables: lazy frames over the steps above ------
    val titleAlias = aliasWithTypes.select(
      $"id", $"title_id", $"ordering", $"title",
      $"region_code", $"language_code", $"is_original_title")

    // -- title_alias_to_title_alias_type (J6+F5, reference:
    //    database.py:1065-1112): decode each *distinct* types string
    //    once (the reference's lru_cache, structurally), then
    //    broadcast-join the tiny decode map back ---------------------
    val distinctTypes = aliasWithTypes
      .filter($"types".isNotNull).select($"types").distinct()
      .withColumn("decoded", AliasTypes.decodeCol($"types"))
    val titleAliasToType = aliasWithTypes
      .filter($"types".isNotNull)
      .select($"id".as("title_alias_id"), $"types")
      .join(broadcast(distinctTypes), "types")
      .select($"title_alias_id",
        posexplode($"decoded").as(Seq("pos", "type_name")))
      .join(broadcast(titleAliasType
        .select($"id".as("title_alias_type_id"), $"name")),
        $"name" === $"type_name")
      .select($"title_alias_id", ($"pos" + 1).cast("int").as("ordering"),
        $"title_alias_type_id")

    // -- episode: self-join on title twice (J4, reference:
    //    database.py:944-980) ---------------------------------------
    val episode = titleEpisode
      .join(title.select($"id".as("title_id"), $"tconst".as("t_tconst")),
        $"t_tconst" === $"tconst")
      .join(title.select($"id".as("parent_title_id"), $"tconst".as("p_tconst")),
        $"p_tconst" === $"parentTconst")
      .select($"title_id", $"parent_title_id",
        $"seasonNumber".as("season"), $"episodeNumber".as("episode"))

    val participation = participationWithChars
      .select($"id", $"title_id", $"ordering", $"name_id",
        $"profession_id", $"job")

    // -- temp bridge characters-JSON -> character (reference:
    //    database.py:705-763) ----------------------------------------
    val tempCharsToChar = charsParsed
      .select($"characters", posexplode($"names").as(Seq("pos", "char_name")))
      .join(character.select($"id".as("character_id"), $"name"),
        $"name" === $"char_name")
      .select($"characters", ($"pos" + 1).cast("int").as("ordering"),
        $"character_id")

    // -- participation_to_character (J2, reference: database.py:765-811)
    val participationToCharacter = participationWithChars
      .filter($"characters".isNotNull)
      .select($"id".as("participation_id"), $"characters")
      .join(tempCharsToChar, "characters")
      .select($"participation_id", $"ordering", $"character_id")
      .distinct()

    // -- name_to_known_for_title (J7+J8, reference: database.py:844-874):
    //    explode the comma list, inner-join to title (silently dropping
    //    unknown tconsts), renumber ordering over surviving titles ----
    val n2k = nameBasics
      .filter($"knownForTitles".isNotNull)
      .join(name.select($"id".as("name_id"), $"nconst".as("n_nconst")),
        $"n_nconst" === $"nconst")
      .select($"name_id",
        posexplode(split($"knownForTitles", ",")).as(Seq("pos", "kf_tconst")))
      .join(title.select($"id".as("title_id"), $"tconst"),
        $"tconst" === $"kf_tconst")
    val nameToKnownForTitle = n2k
      .withColumn("ordering", row_number().over(
        Window.partitionBy($"name_id").orderBy($"pos")))
      .select($"name_id", $"ordering", $"title_id")

    // -- title_to_genre (F1+J8, reference: database.py:982-1001) ----
    val titleToGenre = titleBasics
      .filter($"genres".isNotNull)
      .join(title.select($"id".as("title_id"), $"tconst".as("t_tconst")),
        $"t_tconst" === $"tconst")
      .select($"title_id",
        posexplode(split($"genres", ",")).as(Seq("pos", "genre_name")))
      .join(broadcast(genre.select($"id".as("genre_id"), $"name")),
        $"name" === $"genre_name")
      .select($"title_id", ($"pos" + 1).cast("int").as("ordering"), $"genre_id")

    Normalized(Map(
      "title_alias_type" -> titleAliasType,
      "title_type" -> titleType,
      "genre" -> genre,
      "profession" -> profession,
      "name" -> name,
      "title" -> title,
      "title_alias" -> titleAlias,
      "title_alias_to_title_alias_type" -> titleAliasToType,
      "episode" -> episode,
      "participation" -> participation,
      "character" -> character,
      "temp_characters_to_character" -> tempCharsToChar,
      "participation_to_character" -> participationToCharacter,
      "name_to_known_for_title" -> nameToKnownForTitle,
      "title_to_genre" -> titleToGenre),
      release = () => release())
  }
}
