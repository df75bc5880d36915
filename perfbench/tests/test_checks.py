import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402


def write(dir_, table, columns):
    os.makedirs(dir_)
    pq.write_table(pa.table(columns), os.path.join(dir_, "part-0.parquet"))


class ServeCheck(unittest.TestCase):
    sql = "select tconst, start_year from title where is_adult = false"

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        wh = self.tmp.name
        write(os.path.join(wh, "normalized", "title"), "title", {
            "tconst": ["tt1", "tt2", "tt3"],
            "start_year": [1999, None, 2001],
            "is_adult": [False, False, True]})
        for t in checks.DATASET_TABLES.values():
            write(os.path.join(wh, "datasets", t), t, {"x": [1]})
        self.wh = wh

    def tearDown(self):
        self.tmp.cleanup()

    def record(self, lines):
        return {"passes": [{"ops": [{
            "name": "q", "ok": True, "mix": 0, "lines": len(lines),
            "digest": checks.digest(lines)}]}]}

    def test_the_spark_output_format_matches(self):
        # graft.imdb.TsvWriter.stream: header, \N for null, any row order
        lines = ["tconst\tstart_year", "tt2\t\\N", "tt1\t1999"]
        self.assertEqual(checks.check_serve(
            self.record(lines), [{"sql": self.sql}], self.wh, None), (1, 0, []))

    def test_a_planted_wrong_result_fails(self):
        wrong = ["tconst\tstart_year", "tt2\t\\N", "tt1\t2000"]
        attempted, failed, messages = checks.check_serve(
            self.record(wrong), [{"sql": self.sql}], self.wh, None)
        self.assertEqual((attempted, failed), (1, 1))
        self.assertEqual(len(messages), 1)

    def test_a_missing_row_fails(self):
        short = ["tconst\tstart_year", "tt1\t1999"]
        self.assertEqual(checks.check_serve(
            self.record(short), [{"sql": self.sql}], self.wh, None)[1], 1)

    def test_limit_without_order_checks_membership(self):
        mix = [{"sql": "select tconst from title limit 2", "limit": 2,
                "subset_sql": "select tconst from title"}]
        good = {"passes": [{"ops": [{"name": "q", "ok": True, "mix": 0,
                                     "kept": ["tconst", "tt3", "tt1"]}]}]}
        bad = {"passes": [{"ops": [{"name": "q", "ok": True, "mix": 0,
                                    "kept": ["tconst", "tt3", "tt9"]}]}]}
        self.assertEqual(checks.check_serve(good, mix, self.wh, None)[1], 0)
        self.assertEqual(checks.check_serve(bad, mix, self.wh, None)[1], 1)

    def test_digest_is_fnv1a_sum(self):
        self.assertEqual(checks.fnv1a(""), checks.FNV_OFFSET)
        self.assertEqual(checks.fnv1a("a"), 0xaf63dc4c8601ec8c)
        self.assertEqual(checks.digest(["a", "b"]), checks.digest(["b", "a"]))


class EtlCheck(unittest.TestCase):
    manifest = {"duplicates": {"title.basics": 2},
                "tables": {"title": 10, "genre": 3}}

    def record(self, dups, tables, warnings=()):
        return {"passes": [{
            "ops": [{"name": "transfer.title_basics", "ok": True},
                    {"name": "build", "ok": True}],
            "check": {"duplicates": dups, "tables": tables,
                      "warnings": list(warnings)}}]}

    def test_clean_pass(self):
        self.assertEqual(checks.check_etl(self.record(
            {"title.basics": 2}, {"title": 10, "genre": 3}),
            self.manifest)[:2], (3, 0))

    def test_wrong_counts_and_warnings_fail(self):
        self.assertEqual(checks.check_etl(self.record(
            {"title.basics": 1}, {"title": 9, "genre": 3}),
            self.manifest)[:2], (3, 2))
        self.assertEqual(checks.check_etl(self.record(
            {"title.basics": 2}, {"title": 10, "genre": 3},
            ['target table "genre" should contain rows but is empty']),
            self.manifest)[:2], (3, 1))


if __name__ == "__main__":
    unittest.main()
