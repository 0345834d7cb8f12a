"""The analytic corpus generator gives identical tables for a seed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import corpus


def generate(seed):
    return dict(corpus.tables(sf=0.002, seed=seed))


class CorpusSpec(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = generate(42), generate(42)
        self.assertEqual(list(a), list(corpus.TABLES))
        for name in corpus.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a, b = generate(42), generate(43)
        self.assertFalse(a["lineitem"].equals(b["lineitem"]))
        self.assertFalse(a["documents"].equals(b["documents"]))

    def test_events_are_a_time_series(self):
        ts = generate(42)["events"].column("ts").to_pylist()
        self.assertTrue(all(x < y for x, y in zip(ts, ts[1:])))

    def test_documents_plant_exact_and_near_copies(self):
        (_, docs), = corpus.tables(sf=0.1, only=["documents"])
        texts = docs.column("text").to_pylist()
        self.assertEqual(texts[7], texts[0])
        self.assertEqual(texts[632], texts[625])
        self.assertEqual(texts[3], texts[0].rsplit(" ", 1)[0] + " dup")


if __name__ == "__main__":
    unittest.main()
