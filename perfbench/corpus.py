"""Seeded synthetic IMDb corpus for the `etl` and `query` workloads.

Row content follows `graft.imdb.BuildBench.generate`: the same ratios
(6 principals, 3 akas, 1 crew row per title, 0.3 episodes per title,
a rating for every other title, as many names as titles), the same
value formulas, and the reference TSV dialect (tab separated, a
header line, `\\N` for null, 0/1 booleans, no quoting).

The seed adds two things:
  * the row order of every file is a seeded shuffle, and
  * about 1% of the rows of every dataset are planted duplicates of a
    key, placed at a seeded position, so the first-wins dedup and the
    duplicate count of the transfer step do real work.

A duplicate keeps every column that a normalized table or a query
parameter depends on and changes one free-text column, so which copy
wins does not change any predicted row count.

`generate()` also predicts the row count of each of the 15 normalized
tables and draws the query mix of the `query` workload.
"""
import json
import os
import random

TITLE_TYPES = ["movie", "short", "tvSeries", "tvEpisode", "video", "tvMovie"]
GENRES = ["Action", "Comedy", "Drama", "Horror", "Documentary", "Romance",
          "Thriller"]
REGIONS = ["US", "DE", "FR", "JP", "GB", "IN"]
LANGS = ["en", "de", "fr", "ja", "en", "hi"]
CATEGORIES = ["actor", "actress", "director", "writer", "producer",
              "cinematographer"]
# graft.imdb.AliasTypes.Vocabulary, in order
ALIAS_TYPES = ["alternative", "dvd", "festival", "tv", "video", "working",
               "original", "imdbDisplay"]

NULL = "\\N"
DUPLICATE_SHARE = 0.01

HEADERS = {
    "title.basics": ["tconst", "titleType", "primaryTitle", "originalTitle",
                     "isAdult", "startYear", "endYear", "runtimeMinutes",
                     "genres"],
    "name.basics": ["nconst", "primaryName", "birthYear", "deathYear",
                    "primaryProfession", "knownForTitles"],
    "title.akas": ["titleId", "ordering", "title", "region", "language",
                   "types", "attributes", "isOriginalTitle"],
    "title.crew": ["tconst", "directors", "writers"],
    "title.episode": ["tconst", "parentTconst", "seasonNumber",
                      "episodeNumber"],
    "title.principals": ["tconst", "ordering", "nconst", "category", "job",
                         "characters"],
    "title.ratings": ["tconst", "averageRating", "numVotes"],
}

# key columns of each dataset (graft.imdb.ImdbDataset.keyColumns) and
# the free-text column a planted duplicate changes (None: exact copy)
KEYS = {
    "title.basics": (["tconst"], "originalTitle"),
    "name.basics": (["nconst"], "birthYear"),
    "title.akas": (["titleId", "ordering"], "title"),
    "title.crew": (["tconst"], None),
    "title.episode": (["tconst"], None),
    "title.principals": (["nconst", "tconst"], "job"),
    "title.ratings": (["tconst"], "numVotes"),
}


def tt(i):
    return "tt%09d" % i


def nm(i):
    return "nm%09d" % i


def _rows(titles):
    """The duplicate-free rows of every dataset, as lists of strings."""
    names = titles
    out = {}
    out["title.basics"] = [[
        tt(i), TITLE_TYPES[i % 6],
        "Primary Title %d of the synthetic corpus" % i,
        "Original Title %d" % i,
        "1" if i % 50 == 0 else "0",
        str(1900 + i % 120),
        str(1960 + i % 60) if i % 7 == 0 else NULL,
        str(40 + i % 140) if i % 11 != 0 else NULL,
        (GENRES[i % 7] + "," + GENRES[(i * 3) % 7]) if i % 13 != 0 else NULL,
    ] for i in range(titles)]
    out["name.basics"] = [[
        nm(i), "Synthetic Person %d" % i,
        str(1900 + i % 100),
        str(1970 + i % 50) if i % 5 == 0 else NULL,
        (CATEGORIES[i % 6] + "," + CATEGORIES[(i * 5) % 6])
        if i % 17 != 0 else NULL,
        (tt(i % titles) + "," + tt((i * 7 + 1) % titles))
        if i % 3 != 0 else NULL,
    ] for i in range(names)]
    out["title.akas"] = [[
        tt(i // 3), str(i % 3 + 1), "Aka Title %d" % i,
        REGIONS[i % 6], LANGS[i % 6],
        "imdbDisplay" if i % 4 == 0 else NULL,
        "literal title" if i % 9 == 0 else NULL,
        "1" if i % 3 == 0 else "0",
    ] for i in range(titles * 3)]
    out["title.crew"] = [[
        tt(i),
        (nm(i % names) + "," + nm((i * 11 + 3) % names))
        if i % 19 != 0 else NULL,
        nm((i * 13 + 5) % names) if i % 23 != 0 else NULL,
    ] for i in range(titles)]
    out["title.episode"] = [[
        tt(i), tt(titles * 9 // 10 + i % (titles // 10)),
        str(i % 12 + 1), str(i % 24 + 1),
    ] for i in range(titles * 3 // 10)]
    out["title.principals"] = [[
        tt(i // 6), str(i % 6 + 1), nm(i % names), CATEGORIES[i % 6],
        "principal job" if i % 6 == 2 else NULL,
        '["Character %d"]' % (i % 1000) if i % 3 != 0 else NULL,
    ] for i in range(titles * 6)]
    out["title.ratings"] = [[
        tt(i * 2), "%d.%d" % (i % 9 + 1, i % 10), str(5 + (i * 37) % 100000),
    ] for i in range(titles // 2)]
    return out


def _duplicate(dataset, row, rng):
    keys, free = KEYS[dataset]
    dup = list(row)
    if free is not None:
        i = HEADERS[dataset].index(free)
        if dataset in ("name.basics", "title.ratings"):
            dup[i] = str(int(dup[i]) + 1 + rng.randrange(5))
        else:
            dup[i] = "duplicate %d" % rng.randrange(10 ** 6)
    return dup


def _alias_type_count(types):
    """Number of vocabulary tokens `AliasTypes.decode` yields."""
    rest, n = types, 0
    for token in ALIAS_TYPES:
        if token in rest:
            n += 1
            rest = rest.replace(token, "")
    return n


def predict_tables(rows):
    """Row count of each normalized table, from the duplicate-free rows
    (the planted duplicates share every column these counts read)."""
    basics = rows["title.basics"]
    tconsts = {r[0] for r in basics}
    nconsts = {r[0] for r in rows["name.basics"]}
    principals = [r for r in rows["title.principals"]
                  if r[0] in tconsts and r[2] in nconsts]
    genres = [r[8].split(",") for r in basics if r[8] != NULL]
    akas = [r for r in rows["title.akas"] if r[0] in tconsts]
    chars = [json.loads(r[5]) for r in principals if r[5] != NULL]
    distinct_json = {r[5] for r in rows["title.principals"] if r[5] != NULL}
    known_for = [r[5].split(",") for r in rows["name.basics"] if r[5] != NULL]
    return {
        "title_alias_type": len(ALIAS_TYPES),
        "title_type": len({r[1] for r in basics}),
        "genre": len({g for gs in genres for g in gs}),
        "profession": len({r[3] for r in rows["title.principals"]}),
        "name": len(nconsts),
        "title": len(tconsts),
        "title_alias": len(akas),
        "title_alias_to_title_alias_type": sum(
            _alias_type_count(r[5]) for r in akas if r[5] != NULL),
        "episode": sum(1 for r in rows["title.episode"]
                       if r[0] in tconsts and r[1] in tconsts),
        "participation": len(principals),
        "character": len({c for cs in chars for c in cs}),
        "temp_characters_to_character": sum(
            len(json.loads(j)) for j in distinct_json),
        "participation_to_character": sum(len(cs) for cs in chars),
        "name_to_known_for_title": sum(
            sum(1 for t in ts if t in tconsts) for ts in known_for),
        "title_to_genre": sum(len(gs) for gs in genres),
    }


QUERY_KINDS = ["genres", "character", "directed_by", "known_for", "smoke",
               "export"]


def _sql(kind, param):
    if kind == "genres":
        return ("select title.tconst, title.primary_title, "
                "genre.name as genre_name\n"
                "from title\n"
                "join title_to_genre on title_to_genre.title_id = title.id\n"
                "join genre on genre.id = title_to_genre.genre_id\n"
                "where title.tconst = '%s'\n"
                "order by title.tconst, title_to_genre.ordering" % param)
    if kind == "character":
        return ('select title.primary_title as "Title", '
                'title.start_year as "Year",\n'
                '       name.primary_name as "Actor", '
                '"character".name as "Character"\n'
                'from "character"\n'
                'join participation_to_character on\n'
                '  participation_to_character.character_id = "character".id\n'
                'join participation on\n'
                '  participation.id = '
                'participation_to_character.participation_id\n'
                'join name on name.id = participation.name_id\n'
                'join title on title.id = participation.title_id\n'
                'join title_type on title_type.id = title.title_type_id\n'
                "where \"character\".name = '%s' and title_type.name = 'movie'\n"
                "order by title.start_year, name.primary_name, "
                "title.primary_title" % param)
    if kind == "directed_by":
        return ("select TitleBasics.primaryTitle, TitleBasics.startYear\n"
                "from TitleBasics\n"
                "join TitlePrincipals on "
                "TitlePrincipals.tconst = TitleBasics.tconst\n"
                "join NameBasics on NameBasics.nconst = TitlePrincipals.nconst\n"
                "where NameBasics.primaryName = '%s'\n"
                "  and TitlePrincipals.category = 'director'" % param)
    if kind == "known_for":
        return ("select\n    title.primary_title,\n    title.start_year\n"
                "from\n    name_to_known_for_title\n"
                "    join name on\n"
                "        name.id = name_to_known_for_title.name_id\n"
                "    join title on\n"
                "        title.id = name_to_known_for_title.title_id\n"
                "where\n    name.primary_name = '%s'" % param)
    if kind == "smoke":
        return "select * from TitleBasics limit 10"
    if kind == "export":
        return "select * from title_alias"
    raise ValueError(kind)


def query_mix(seed, titles, rounds):
    """`rounds` rounds of the six query kinds, each round in a seeded
    order, with seeded parameters that have matching rows."""
    rng = random.Random("query-%d-%d" % (seed, titles))
    with_genres = [i for i in range(titles) if i % 13 != 0]
    movie_chars = sorted({i % 1000 for i in range(titles * 6)
                          if i % 3 != 0 and (i // 6) % 6 == 0})
    directors = sorted({i % titles for i in range(titles * 6) if i % 6 == 2})
    known = [i for i in range(titles) if i % 3 != 0]
    params = {
        "genres": lambda: tt(rng.choice(with_genres)),
        "character": lambda: "Character %d" % rng.choice(movie_chars),
        "directed_by": lambda: "Synthetic Person %d" % rng.choice(directors),
        "known_for": lambda: "Synthetic Person %d" % rng.choice(known),
        "smoke": lambda: None,
        "export": lambda: None,
    }
    mix = []
    for _ in range(rounds):
        kinds = list(QUERY_KINDS)
        rng.shuffle(kinds)
        mix.extend({"kind": k, "sql": _sql(k, params[k]())} for k in kinds)
    return mix


def write_corpus(out_dir, seed, titles):
    """Write the seven dataset TSVs into `out_dir`; return the manifest
    (planted duplicates per dataset, predicted normalized row counts,
    input bytes)."""
    rows = _rows(titles)
    os.makedirs(out_dir, exist_ok=True)
    duplicates, size = {}, 0
    for dataset in HEADERS:
        rng = random.Random("%s-%d-%d" % (dataset, seed, titles))
        base = rows[dataset]
        picked = rng.sample(range(len(base)),
                            max(1, int(len(base) * DUPLICATE_SHARE)))
        body = base + [_duplicate(dataset, base[i], rng) for i in picked]
        rng.shuffle(body)
        duplicates[dataset] = len(picked)
        text = "\t".join(HEADERS[dataset]) + "\n" + "".join(
            "\t".join(r) + "\n" for r in body)
        data = text.encode("utf-8")
        size += len(data)
        with open(os.path.join(out_dir, dataset + ".tsv"), "wb") as f:
            f.write(data)
    return {"seed": seed, "titles": titles, "tsv_bytes": size,
            "duplicates": duplicates, "tables": predict_tables(rows)}


def corpus(cache_dir, seed, titles):
    """The corpus for (seed, titles), generated once and cached on disk.
    Returns (directory, manifest)."""
    out_dir = os.path.join(cache_dir, "s%d_t%d" % (seed, titles))
    marker = os.path.join(out_dir, "manifest.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return out_dir, json.load(f)
    manifest = write_corpus(out_dir, seed, titles)
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, marker)
    return out_dir, manifest
