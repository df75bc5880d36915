import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


class Corpus(unittest.TestCase):
    titles = 200

    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            ma = corpus.write_corpus(a, 7, self.titles)
            mb = corpus.write_corpus(b, 7, self.titles)
            self.assertEqual(ma, mb)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 7)
            match, mismatch, errors = filecmp.cmpfiles(a, b, names,
                                                       shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_another_seed_reorders_rows(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            corpus.write_corpus(a, 1, self.titles)
            corpus.write_corpus(b, 2, self.titles)
            fa = read(os.path.join(a, "title.basics.tsv"))
            fb = read(os.path.join(b, "title.basics.tsv"))
            self.assertEqual(fa[0], fb[0])
            self.assertNotEqual(fa, fb)

    def test_planted_duplicates_share_a_key(self):
        with tempfile.TemporaryDirectory() as d:
            m = corpus.write_corpus(d, 3, self.titles)
            for dataset, (keys, _) in corpus.KEYS.items():
                lines = read(os.path.join(d, dataset + ".tsv"))
                header = lines[0].split("\t")
                self.assertEqual(header, corpus.HEADERS[dataset])
                idx = [header.index(k) for k in keys]
                seen = [tuple(l.split("\t")[i] for i in idx)
                        for l in lines[1:]]
                self.assertEqual(len(seen) - len(set(seen)),
                                 m["duplicates"][dataset], dataset)
                self.assertGreater(m["duplicates"][dataset], 0)

    def test_predictions_follow_the_ratios(self):
        t = corpus.predict_tables(corpus._rows(self.titles))
        self.assertEqual(t["title"], self.titles)
        self.assertEqual(t["name"], self.titles)
        self.assertEqual(t["participation"], 6 * self.titles)
        self.assertEqual(t["title_alias"], 3 * self.titles)
        self.assertEqual(t["episode"], 3 * self.titles // 10)
        self.assertEqual(t["title_alias_type"], 8)
        self.assertEqual(len(t), 15)

    def test_query_mix_is_seeded_round_robin(self):
        a = corpus.query_mix(5, self.titles, rounds=3)
        self.assertEqual(a, corpus.query_mix(5, self.titles, rounds=3))
        self.assertNotEqual(a, corpus.query_mix(6, self.titles, rounds=3))
        for r in range(3):
            kinds = sorted(q["kind"] for q in a[6 * r:6 * r + 6])
            self.assertEqual(kinds, sorted(corpus.QUERY_KINDS))


if __name__ == "__main__":
    unittest.main()
