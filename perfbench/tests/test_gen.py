"""The generator's contract: the seed alone fixes the inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402


def _tables(seed):
    d = tempfile.mkdtemp()
    gen.star_schema(d, seed, 0.001)
    gen.change_log(d, seed, 2000, 50, 0.6, (0.2, 0.6, 0.2))
    gen.corpus(d, seed, 200, 40, replicas=2, dup_share=0.05)
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


class Generator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.a, cls.b, cls.c = _tables(7), _tables(7), _tables(8)

    def test_same_seed_same_tables(self):
        self.assertEqual(list(self.a), list(self.b))
        for name in self.a:
            self.assertTrue(self.a[name].equals(self.b[name]), name)

    def test_other_seed_other_data(self):
        for name in ("events.parquet", "lineitem.parquet", "documents.parquet"):
            self.assertFalse(self.a[name].equals(self.c[name]), name)

    def test_change_log_domains(self):
        ev = self.a["events.parquet"].sort_by("event_id").to_pydict()
        self.assertEqual(ev["event_id"], list(range(2000)))
        self.assertEqual(ev["ts"], sorted(ev["ts"]))
        self.assertEqual(len(set(ev["ts"])), 2000)
        self.assertTrue(set(ev["event_type"]) <=
                        {"signup", "click", "view", "purchase", "error"})
        self.assertTrue(0 <= min(ev["user_id"]) and max(ev["user_id"]) < 50)
        days = {t.date() for t in ev["ts"]}
        self.assertEqual(min(days).isoformat(), "2024-01-01")
        self.assertLessEqual(max(days).isoformat(), "2024-01-30")

    def test_corpus_replicas_are_salted_and_dups_planted(self):
        docs = self.a["documents.parquet"].to_pydict()
        self.assertEqual(len(docs["doc_id"]), 200)
        by_id = dict(zip(docs["doc_id"], docs["text"]))
        for i in range(100):
            first, second = by_id[i].split(" "), by_id[100 + i].split(" ")
            self.assertEqual(len(first), len(second))
            self.assertNotEqual(first[0], second[0])   # distinct salts
        self.assertTrue(any(t.endswith("dup") for t in docs["text"]))
        self.assertTrue(all(t.replace(" ", "").isalpha() for t in docs["text"]))
        self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])


if __name__ == "__main__":
    unittest.main()
