"""Tests of the benchmark's own logic (no JVM needed).

Run from the repository root:  python3 perfbench/test_bench.py
"""
import copy
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402

# Module sizes of the operator registry when the benchmark was written.
MODULE_SIZES = {"AnalyticsOps": 69, "CurationOps": 40, "SimilarityOps": 36,
                "GovernanceOps": 35, "ScaleOps": 34, "TextOps": 32,
                "CoreQueries": 30, "DedupOps": 16, "TemporalOps": 11,
                "MultimodalOps": 4, "TimeWindowOps": 4, "ParseOps": 3}
REGISTRY = [{"name": f"{m}_{i}", "module": m, "oracle": None}
            for m, n in MODULE_SIZES.items() for i in range(n)]


def digest(path):
    h = hashlib.sha256()
    for f in sorted(os.listdir(path)):
        with open(os.path.join(path, f), "rb") as fh:
            h.update(f.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def make(self, fn, seed, *args):
        d = tempfile.mkdtemp(dir=self.tmp)
        fn(d, seed, *args)
        return digest(d)

    def setUp(self):
        self.tmpdir = tempfile.TemporaryDirectory()
        self.tmp = self.tmpdir.name

    def tearDown(self):
        self.tmpdir.cleanup()

    def test_kaggle_same_seed_same_bytes(self):
        self.assertEqual(self.make(gen.kaggle, 5, 120, 5), self.make(gen.kaggle, 5, 120, 5))

    def test_kaggle_other_seed_other_bytes(self):
        self.assertNotEqual(self.make(gen.kaggle, 5, 120, 5), self.make(gen.kaggle, 6, 120, 5))

    def test_tables_same_seed_same_bytes(self):
        self.assertEqual(self.make(gen.tables, 5, 0.001), self.make(gen.tables, 5, 0.001))

    def test_tables_other_seed_other_bytes(self):
        self.assertNotEqual(self.make(gen.tables, 5, 0.001), self.make(gen.tables, 6, 0.001))

    def test_kaggle_layout(self):
        gen.kaggle(self.tmp, 1, 50, 3)
        for f, cols in [("movies_metadata.csv", gen.MOVIES_COLUMNS),
                        ("credits.csv", ["cast", "crew", "id"]),
                        ("keywords.csv", ["id", "keywords"]),
                        ("ratings.csv", ["userId", "movieId", "rating", "timestamp"])]:
            with open(os.path.join(self.tmp, f), encoding="utf-8") as fh:
                self.assertEqual(fh.readline().strip().split(","), cols)
        self.assertEqual(len(gen.MOVIES_COLUMNS), 24)


class SamplerTest(unittest.TestCase):
    def test_deterministic(self):
        self.assertEqual(run.stratified_sample(REGISTRY, 3, 120),
                         run.stratified_sample(REGISTRY, 3, 120))
        self.assertNotEqual(run.stratified_sample(REGISTRY, 3, 120),
                            run.stratified_sample(REGISTRY, 4, 120))

    def test_size_and_coverage(self):
        sample = run.stratified_sample(REGISTRY, run.SAMPLE_SEED, run.SAMPLE_SIZE)
        self.assertGreaterEqual(len(sample), 100)
        self.assertEqual(len(set(sample)), len(sample))
        module = {q["name"]: q["module"] for q in REGISTRY}
        self.assertEqual({module[n] for n in sample}, set(MODULE_SIZES))

    def test_proportional(self):
        sample = run.stratified_sample(REGISTRY, 1, 120)
        module = {q["name"]: q["module"] for q in REGISTRY}
        total = sum(MODULE_SIZES.values())
        for m, n in MODULE_SIZES.items():
            got = sum(1 for q in sample if module[q] == m)
            self.assertLessEqual(abs(got - 120 * n / total), 1.0, m)


class PercentileTest(unittest.TestCase):
    def test_ten_beyond(self):
        self.assertIsNone(run.tail_percentile(10))
        self.assertIsNone(run.tail_percentile(19))
        self.assertEqual(run.tail_percentile(20), 50)
        self.assertEqual(run.tail_percentile(40), 75)
        self.assertEqual(run.tail_percentile(99), 75)
        self.assertEqual(run.tail_percentile(100), 90)
        self.assertEqual(run.tail_percentile(200), 95)
        self.assertEqual(run.tail_percentile(1000), 99)

    def test_quantile(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(run.quantile(xs, 0.5), 50.5)
        self.assertAlmostEqual(run.quantile(xs, 0.9), 90.1)
        self.assertEqual(sum(1 for x in xs if x > run.quantile(xs, 0.9)), 10)
        self.assertEqual(run.quantile([3.0], 0.9), 3.0)


class ImportCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmpdir = tempfile.TemporaryDirectory()
        self.expected = gen.kaggle(self.tmpdir.name, 2, 200, 4)
        self.op = {"counts": dict(self.expected["counts"]),
                   "fk_orphans": {"movies_genres.genre_id": 0},
                   "ratings": dict(self.expected["ratings"])}

    def tearDown(self):
        self.tmpdir.cleanup()

    def test_matching_load_passes(self):
        self.assertEqual(run.check_import(self.op, self.expected), [])

    def test_tampered_expected_count_fails(self):
        tampered = copy.deepcopy(self.expected)
        tampered["counts"]["actors"] += 1
        bad = run.check_import(self.op, tampered)
        self.assertEqual(len(bad), 1)
        self.assertIn("actors", bad[0])

    def test_orphans_and_ratings_fail(self):
        self.op["fk_orphans"]["directors.director_id"] = 2
        mid = next(m for m, v in self.expected["ratings"].items() if v is not None)
        self.op["ratings"][mid] += 0.5
        bad = run.check_import(self.op, self.expected)
        self.assertEqual(len(bad), 2)

    def test_positional_binding_diagnosis(self):
        notes = run.positional_binding(self.tmpdir.name, {
            "ratings.csv": ["movieId", "rating"], "keywords.csv": ["id", "keywords"]})
        self.assertEqual(len(notes), 1)
        self.assertIn("'movieId' reads 'userId'", notes[0])

    def test_expectations_cover_every_table(self):
        self.assertEqual(sorted(self.expected["counts"]), sorted(gen.TABLES))
        self.assertTrue(all(v > 0 for v in self.expected["counts"].values()))


if __name__ == "__main__":
    unittest.main()
