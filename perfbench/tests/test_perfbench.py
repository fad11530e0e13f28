"""Self-tests of the benchmark's own code (no JVM, no Spark).

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


# The name and unit grammar BENCHMARK.json must follow.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


SCRATCH = os.path.join(os.path.dirname(BENCH), ".bench_build", "tests")


def scratch_dir():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=SCRATCH)


def tree_digest(path):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_grammar(self):
        for ok in ["setup_s", "exec.cpu_ms", "ops.TextOps.warm_s", "9-a"]:
            self.assertTrue(valid_name(ok), ok)
        for bad in ["", "_x", ".x", "a b", "a/b", "x" * 65]:
            self.assertFalse(valid_name(bad), bad)
        for ok in ["ms", "s", "1/s", "count", "%", "MB"]:
            self.assertTrue(valid_unit(ok), ok)
        for bad in ["", "m s", "x" * 17]:
            self.assertFalse(valid_unit(bad), bad)

    def test_spec_names(self):
        metrics = self.spec["end_to_end"] + self.spec["per_layer"]
        names = [m["name"] for m in metrics] + \
            [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertTrue(valid_name(m["name"]), m["name"])
            self.assertTrue(valid_unit(m["unit"]), m["unit"])
            self.assertIn(m["better"], ("lower", "higher"))
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


class Percentiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_highest_supported_percentile(self):
        self.assertIsNone(stats.highest_percentile(10))
        self.assertEqual(stats.highest_percentile(11), 9)
        self.assertEqual(stats.highest_percentile(20), 50)
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(1000), 99)

    def test_describe_counts(self):
        d = stats.describe(list(range(1, 101)))
        self.assertEqual((d["n"], d["p"], d["p_value"]), (100, 90, 90))
        self.assertEqual(sum(1 for v in range(1, 101) if v > d["p_value"]),
                         10)
        small = stats.describe([5.0, 1.0, 3.0])
        self.assertEqual((small["n"], small["median"], small["p"]),
                         (3, 3.0, None))

    def test_quartiles_match_statistics_quantiles(self):
        import statistics
        v = [1.0, 2.0, 4.0, 8.0, 16.0, 3.0]
        self.assertEqual(list(stats.quartiles(v)),
                         statistics.quantiles(v, n=4))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b}

    def test_children_overlap_and_clip(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 30),
                 self.span(2, 0, 20, 50), self.span(3, 0, 90, 120),
                 self.span(4, 1, 12, 14)]
        s = stats.self_times(spans)
        self.assertAlmostEqual(s[0], 100 - 40 - 10)
        self.assertAlmostEqual(s[1], 20 - 2)
        self.assertAlmostEqual(s[4], 2)

    def test_leaf_is_its_duration(self):
        self.assertEqual(stats.self_times([self.span(7, -1, 5, 9)]), {7: 4})


class Generators(unittest.TestCase):
    def corpus(self, seed):
        with scratch_dir() as d:
            rows = gen.xetra_corpus(d, seed, dt.date(2024, 1, 1), 3, 20, 0.1)
            return tree_digest(d), rows

    def test_xetra_same_seed_same_bytes(self):
        a, rows = self.corpus(5)
        self.assertEqual(a, self.corpus(5)[0])
        self.assertNotEqual(a, self.corpus(6)[0])
        self.assertEqual(sorted(rows), ["2024-01-01", "2024-01-02",
                                        "2024-01-03"])

    def test_xetra_layout_and_prices(self):
        with scratch_dir() as d:
            gen.xetra_corpus(d, 1, dt.date(2024, 1, 1), 1, 30, 0.2)
            files = sorted(os.listdir(os.path.join(d, "2024-01-01")))
            self.assertEqual(files[0], "2024-01-01_BINS_XETR08.csv")
            self.assertEqual(len(files), 13)
            with open(os.path.join(d, "2024-01-01", files[0])) as f:
                lines = f.read().splitlines()
            self.assertEqual(lines[0].split(","), gen.XETRA_COLUMNS)
            for line in lines[1:]:
                f = line.split(",")
                for price in f[4:8]:
                    self.assertRegex(price, r"^\d+\.\d\d$")
                self.assertLessEqual(float(f[6]), min(float(f[4]),
                                                      float(f[5])))

    def test_mix_tables_are_the_engine_test_tables(self):
        rows = {f[:-len(".parquet")]: pq.ParquetFile(
                    os.path.join(run.MIX_DATA, f)).metadata.num_rows
                for f in os.listdir(run.MIX_DATA)}
        self.assertEqual(rows, {
            "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
            "part": 2000, "orders": 15000, "lineitem": 60000,
            "events": 10000, "documents": 500, "embeddings": 500})


class Rounding(unittest.TestCase):
    def test_bround_is_half_even_on_the_decimal_form(self):
        self.assertEqual(checks.bround2(2.675), 2.68)
        self.assertEqual(checks.bround2(0.125), 0.12)
        self.assertEqual(checks.bround2(-1.005), -1.0)
        self.assertEqual(repr(checks.bround2(-0.00499)), "0.0")
        self.assertEqual(repr(checks.bround2(-0.0)), "0.0")
        self.assertIsNone(checks.bround2(None))


class Verdicts(unittest.TestCase):
    def seeds(self, values):
        return dict(enumerate(values))

    def test_improved(self):
        r = compare.verdict(self.seeds([10, 10.2, 9.9, 10.1, 10] * 2),
                            self.seeds([8, 8.1, 7.9, 8.2, 8] * 2),
                            "lower", 0.1)
        self.assertEqual(r["verdict"], "improved")
        self.assertEqual((r["wins"], r["pairs"]), (10, 10))

    def test_unchanged(self):
        r = compare.verdict(self.seeds([10, 10.2, 9.9, 10.1, 10] * 2),
                            self.seeds([10.1, 10, 10.2, 9.9, 10.05] * 2),
                            "lower", 0.1)
        self.assertEqual(r["verdict"], "unchanged")

    def test_regressed(self):
        r = compare.verdict(self.seeds([10, 10.2, 9.9, 10.1, 10] * 2),
                            self.seeds([12, 12.1, 11.9, 12.2, 12] * 2),
                            "lower", 0.1)
        self.assertEqual(r["verdict"], "regressed")

    def test_unresolved_when_spread_exceeds_bound(self):
        r = compare.verdict(self.seeds([10, 14, 7, 12, 9] * 2),
                            self.seeds([11, 15, 8, 13, 10] * 2),
                            "lower", 0.1)
        self.assertEqual(r["verdict"], "unresolved")

    def test_wide_spread_but_every_run_better_is_not_unresolved(self):
        r = compare.verdict(self.seeds([20, 28, 21, 26, 22]),
                            self.seeds([10, 14, 11, 13, 12]),
                            "lower", 0.1)
        self.assertEqual(r["verdict"], "improved")
        r = compare.verdict(self.seeds([20, 28, 21, 26, 22]),
                            self.seeds([19, 19.5, 18, 19.9, 19.2]),
                            "lower", 0.1)
        self.assertEqual(r["verdict"], "unchanged")

    def test_higher_is_better_and_per_layer(self):
        r = compare.verdict(self.seeds([100, 101, 99] * 4),
                            self.seeds([130, 131, 129] * 4), "higher", 0.1)
        self.assertEqual(r["verdict"], "improved")
        r = compare.verdict(self.seeds([5, 5, 5] * 4),
                            self.seeds([7, 7, 7] * 4), "lower")
        self.assertEqual(r["verdict"], "regressed")

    def test_timed_out_runs_are_a_regression_not_a_crash(self):
        spec = {"end_to_end": [{"name": "setup_s", "unit": "s",
                                "better": "lower", "bound": 0.25}],
                "per_layer": []}

        def runs(path, timeouts):
            with open(path, "w") as f:
                for seed in range(1, 5):
                    r = {"workload": "w", "seed": seed, "trace": 0}
                    if seed in timeouts:
                        r["timeout"] = True
                    else:
                        r["result"] = {"metrics": {"setup_s": {
                            "value": 10.0 + seed / 10, "unit": "s"}}}
                    f.write(json.dumps(r) + "\n")
            return path

        with scratch_dir() as d:
            parent = runs(os.path.join(d, "p.jsonl"), ())
            change = runs(os.path.join(d, "c.jsonl"), (2,))
            rows = {name: r for _, name, _, r in
                    compare.diff(parent, change, spec)}
            self.assertEqual(rows["timeouts"]["verdict"], "regressed")
            self.assertEqual(rows["setup_s"]["verdict"], "unchanged")
            rows = {name: r for _, name, _, r in
                    compare.diff(change, change, spec)}
            self.assertEqual(rows["timeouts"]["verdict"], "unresolved")
            self.assertNotIn("timeouts", {
                name for _, name, _, _ in compare.diff(parent, parent, spec)})


if __name__ == "__main__":
    unittest.main()
