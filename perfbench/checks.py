"""Output checks of the benchmark. Each returns (attempted, failed,
messages) for the ops of one run record."""
import glob
import os
import re

NULL = "\\N"
FNV_OFFSET = 0xcbf29ce484222325
FNV_PRIME = 0x100000001b3
MASK = (1 << 64) - 1

DATASET_TABLES = {
    "title.basics": "TitleBasics", "name.basics": "NameBasics",
    "title.akas": "TitleAkas", "title.crew": "TitleCrew",
    "title.episode": "TitleEpisode", "title.principals": "TitlePrincipals",
    "title.ratings": "TitleRatings",
}
GATE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


def fnv1a(line):
    h = FNV_OFFSET
    for b in line.encode("utf-8"):
        h = ((h ^ b) * FNV_PRIME) & MASK
    return h


def digest(lines):
    """The order-independent digest perfbench.DigestWriter computes:
    hex of the sum (mod 2^64) of each line's FNV-1a hash."""
    return format(sum(fnv1a(l) for l in lines) & MASK, "x")


def tsv_value(v):
    """A value as `graft.imdb.TsvWriter.stream` prints it."""
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def tsv_lines(cursor_description, rows):
    header = "\t".join(d[0] for d in cursor_description)
    return [header] + ["\t".join(tsv_value(v) for v in r) for r in rows]


def check_etl(record, manifest):
    attempted = failed = 0
    messages = []
    for n, p in enumerate(record["passes"]):
        ops = {o["name"]: o for o in p["ops"]}
        check = p["check"]
        for dataset, planted in manifest["duplicates"].items():
            attempted += 1
            key = dataset.replace(".", "_")
            got = check.get("duplicates", {}).get(dataset)
            if not ops.get("transfer." + key, {}).get("ok") or got != planted:
                failed += 1
                messages.append("pass %d: %s duplicates %s, planted %d"
                                % (n, dataset, got, planted))
        warned = set()
        for w in check.get("warnings", []):
            warned.update(re.findall(r'target table "(\w+)"', w))
            messages.append("pass %d: build warning: %s" % (n, w))
        build_ok = ops.get("build", {}).get("ok", False)
        for table, expected in manifest["tables"].items():
            attempted += 1
            got = check.get("tables", {}).get(table)
            if not build_ok or got != expected or table in warned:
                failed += 1
                messages.append("pass %d: table %s has %s rows, expected %d"
                                % (n, table, got, expected))
    return attempted, failed, messages


class Warehouse:
    """DuckDB over the parquet of a `Pimdb` warehouse, with the same
    view names `Pimdb` registers."""

    def __init__(self, warehouse):
        import duckdb
        self.con = duckdb.connect()
        for table in DATASET_TABLES.values():
            self._view(table, os.path.join(warehouse, "datasets", table))
        for path in sorted(glob.glob(os.path.join(warehouse, "normalized",
                                                  "*"))):
            self._view(os.path.basename(path), path)
        self.cache = {}

    def _view(self, name, path):
        self.con.execute('create view "%s" as select * from read_parquet(%s)'
                         % (name, "'" + os.path.join(path, "*.parquet") + "'"))

    def lines(self, sql):
        if sql not in self.cache:
            cur = self.con.execute(sql)
            self.cache[sql] = tsv_lines(cur.description, cur.fetchall())
        return self.cache[sql]


def check_serve(record, mix, warehouse, data_dir):
    """Every op must succeed. A query must match DuckDB over the same
    warehouse: the exact digest, or for a `limit` without an order
    (`subset_sql` in the mix), the right number of lines, each a row of
    the unlimited query. Every oracle gate's row count (counted in the
    warm-up) must match DuckDB's on the same fixture tables."""
    db = Warehouse(warehouse)
    attempted = failed = 0
    messages = []
    for p in record["passes"]:
        for op in p["ops"]:
            attempted += 1
            ok = op["ok"]
            instance = mix[op["mix"]] if "mix" in op else None
            if ok and instance is not None and "subset_sql" in instance:
                full = db.lines(instance["subset_sql"])
                rows = set(full[1:])
                kept = op.get("kept", [])
                ok = (len(kept) == min(instance["limit"], len(full) - 1) + 1
                      and kept[:1] == full[:1]
                      and all(line in rows for line in kept[1:]))
            elif ok and instance is not None:
                expected = db.lines(instance["sql"])
                ok = (op["lines"] == len(expected)
                      and op["digest"] == digest(expected))
            if not ok:
                failed += 1
                messages.append("%s (mix %s) failed or does not match "
                                "DuckDB: %s" % (op["name"], op.get("mix"),
                                                op.get("error")))
    oracle = record.get("oracle", {})
    if oracle:
        import duckdb
        con = duckdb.connect()
        for t in GATE_TABLES:
            con.execute("create view %s as select * from read_parquet('%s')"
                        % (t, os.path.join(data_dir, t + ".parquet")))
    for gate, o in sorted(oracle.items()):
        attempted += 1
        try:
            expected = len(con.execute(o["sql"]).fetchall())
        except Exception as e:  # an oracle DuckDB cannot run fails
            expected = "error: %s" % e
        if o["rows"] != expected:
            failed += 1
            messages.append("gate %s: %s rows, DuckDB %s"
                            % (gate, o["rows"], expected))
    return attempted, failed, messages
