#!/usr/bin/env python3
"""Self-test of the benchmark's own logic.

    python3 perfbench/selftest.py          # metric arithmetic and digests
    python3 perfbench/selftest.py --jvm    # also: Scala digest == Python digest,
                                           # injected failures reach failed_ratio

Run from the root of a checkout; `--jvm` builds like run.py does.
"""
import datetime
import decimal
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import compare  # noqa: E402
import digest  # noqa: E402
import metrics  # noqa: E402


def op(kind, ok=True, ms=1.0, phase="measure", name="x"):
    return {"kind": kind, "name": name, "phase": phase, "pass": 1, "ms": ms, "ok": ok,
            "err": "" if ok else "boom"}


class Percentiles(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(range(1, 100), 0.9))  # 9 beyond rank 90
        self.assertEqual(metrics.percentile(range(1, 101), 0.9), 90)  # 10 beyond
        self.assertEqual(metrics.percentile(range(1, 21), 0.5), 10)
        self.assertIsNone(metrics.percentile(range(1, 20), 0.5))
        self.assertIsNone(metrics.percentile([], 0.5))

    def test_order_free(self):
        self.assertEqual(metrics.percentile(list(reversed(range(200))), 0.9), 179)


class HarrellDavis(unittest.TestCase):
    def test_beta_cdf(self):
        self.assertAlmostEqual(metrics.beta_cdf(0.3, 1, 1), 0.3)
        self.assertAlmostEqual(metrics.beta_cdf(0.6, 3, 1), 0.6 ** 3)
        self.assertAlmostEqual(metrics.beta_cdf(0.5, 14.5, 14.5), 0.5)
        self.assertAlmostEqual(metrics.beta_cdf(0.2, 2, 3), 1 - 0.8 ** 4 - 4 * 0.2 * 0.8 ** 3)

    def test_estimates(self):
        self.assertAlmostEqual(metrics.hd_quantile(range(1, 102), 0.5), 51)  # symmetric
        self.assertAlmostEqual(metrics.hd_quantile([10, 20], 0.5), 15)
        self.assertEqual(metrics.hd_quantile([7], 0.5), 7)
        self.assertIsNone(metrics.hd_quantile([], 0.5))
        self.assertTrue(80 < metrics.hd_quantile(range(1, 101), 0.9) < 95)

    def test_steadier_than_nearest_rank(self):
        # one cold explore pass (sorted op latencies, ms) with independent
        # 20% noise on every op: the estimate spreads less than the median
        import random
        import statistics
        shape = [24, 28, 28, 28, 31, 31, 33, 35, 38, 42, 59, 188, 192, 205, 288, 294, 295,
                 345, 392, 662, 713, 735, 879, 1169, 1428, 1490, 2129, 5307]
        rng = random.Random(1)
        runs = [[x * rng.lognormvariate(0, 0.2) for x in shape] for _ in range(400)]

        def spread(est):
            q1, med, q3 = statistics.quantiles([est(r) for r in runs], n=4)
            return (q3 - q1) / med
        self.assertLess(spread(lambda r: metrics.hd_quantile(r, 0.5)),
                        0.75 * spread(metrics.median))


class StageIntervals(unittest.TestCase):
    def test_union(self):
        # overlapping, nested and disjoint stages: [0,4] u [6,7] = 5 ms
        self.assertAlmostEqual(metrics.union_s([(0, 3), (1, 4), (2, 2.5), (6, 7)], 0, 10), 0.005)

    def test_clipped_to_window(self):
        self.assertAlmostEqual(metrics.union_s([(-5, 2), (8, 20)], 0, 10), 0.004)
        self.assertEqual(metrics.union_s([(11, 12)], 0, 10), 0.0)

    def test_gap_between_stages(self):
        res = {"passes": [{"phase": "traced", "s": 1.0}, {"phase": "base", "s": 1.0}],
               "layers": {}, "provenance": {"nproc": 4},
               "ledger": {"window_ms": [1000, 3000], "stages": [[1000, 1500, 1], [1200, 1800, 4],
                                                                [2500, 2600, 2]],
                          "counters": {"jobs": 2, "tasks": 7, "task_failures": 0,
                                       "task_ms": 1600, "cpu_ns": 0, "gc_ms": 0,
                                       "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                                       "spill_bytes": 0, "output_bytes": 0}}}
        got = metrics.per_layer(res, {"params": {}})
        self.assertAlmostEqual(got["spark.stage_busy_s"][0], 0.9)
        self.assertAlmostEqual(got["spark.driver_gap_s"][0], 1.1)
        self.assertEqual(got["spark.single_task_stages"][0], 1)
        self.assertAlmostEqual(got["spark.core_busy_ratio"][0], 1.6 / (2.0 * 4))


class Digests(unittest.TestCase):
    def test_values(self):
        self.assertEqual(digest.value(None), "\\N")
        self.assertEqual(digest.value(True), "true")
        self.assertEqual(digest.value(100), "100")
        self.assertEqual(digest.value(100.0), "100")
        self.assertEqual(digest.value(decimal.Decimal("2.50")), "2.5")
        self.assertEqual(digest.value(-0.0), "0")
        self.assertEqual(digest.value(0.1), "0.1000000000000000055511151231257827021181583404541015625")
        self.assertEqual(digest.value(0.03125), "0.03125")
        self.assertEqual(digest.value(float("nan")), "nan")
        self.assertEqual(digest.value(datetime.datetime(2024, 1, 2, 3, 4, 5, 6)),
                         "2024-01-02 03:04:05.000006")
        self.assertEqual(digest.value(datetime.date(2024, 1, 2)), "2024-01-02")
        self.assertEqual(digest.value([1, None, "a"]), "[1,\\N,a]")
        self.assertEqual(digest.value({"a": 1, "b": [2.5]}), "{1,[2.5]}")
        self.assertEqual(digest.value(b"\x00\xff"), "00ff")

    def test_order_insensitive_and_column_named(self):
        a = digest.rows(["x", "y"], [(1, "a"), (2, "b")])
        self.assertEqual(a, digest.rows(["x", "y"], [(2, "b"), (1, "a")]))
        self.assertEqual(a, digest.rows(["y", "x"], [("a", 1), ("b", 2)]))
        self.assertNotEqual(a, digest.rows(["x", "z"], [(1, "a"), (2, "b")]))
        self.assertNotEqual(a, digest.rows(["x", "y"], [(1, "a"), (2, "b"), (2, "b")]))
        self.assertEqual(digest.rows(["x"], []), "0:0000000000000000")


class Accounting(unittest.TestCase):
    def test_failures_counted_and_kept_out_of_latency(self):
        ops = [op("query", ms=10), op("query", ms=20), op("inject", ok=False, ms=0.1),
               op("query", ok=False, ms=99), op("check", ms=500), op("query", phase="warmup"),
               op("query", phase="warmup", ok=False)]
        attempted, failed, lat = metrics.accounting(ops, {"warmup", "measure"})
        self.assertEqual((attempted, failed), (7, 3))
        self.assertEqual(sorted(lat), [10, 20])
        res = {"ops": ops, "setup_s": [1.0, 2.0, 3.0], "extras": {},
               "passes": [{"phase": "measure", "s": 0.5}]}
        m = metrics.end_to_end("batch_ops", res, {"params": {}})
        self.assertAlmostEqual(m["failed_ratio"][0], 3 / 7)
        self.assertAlmostEqual(m["op_p50_ms"][0], 15)
        self.assertEqual(m["setup_s"][0], 2.0)
        self.assertNotIn("op_p90_ms", m)


class Agreement(unittest.TestCase):
    @staticmethod
    def s(median, spread=0.05):
        return {"median": median, "spread": spread}

    def test_shift_counts_in_both_directions(self):
        self.assertTrue(compare.agreement(self.s(100), self.s(110), 0.25)[1])
        self.assertFalse(compare.agreement(self.s(100), self.s(130), 0.25)[1])  # slower
        shift, ok = compare.agreement(self.s(100), self.s(50), 0.25)  # 50% faster
        self.assertAlmostEqual(shift, -0.5)
        self.assertFalse(ok)

    def test_every_spread_counts(self):
        self.assertFalse(compare.agreement(self.s(100, 0.3), self.s(100), 0.25)[1])
        self.assertFalse(compare.agreement(self.s(100), self.s(100, 0.3), 0.25)[1])


class CheckedAfterRun(unittest.TestCase):
    """The DuckDB checks of explore's area loads and edits, on three
    fixture rows: points pl1 (0, 0, a cafe) and pl2 (1, 1, a shop), and
    a square bl1 of half-width 0.125 around (0.1, 0)."""

    def setUp(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.tmp = tempfile.TemporaryDirectory()
        box = pa.struct([(k, pa.float64()) for k in ("xmin", "xmax", "ymin", "ymax")])
        name = pa.struct([("primary", pa.string())])
        tables = {
            "places/place": {
                "id": ["pl1", "pl2"], "names": [{"primary": "Place 1"}, {"primary": "Place 2"}],
                "categories": pa.array([{"primary": "cafe"}, {"primary": "shop"}], name),
                "brand": pa.array([{"names": {"primary": "BrandX"}}] * 2,
                                  pa.struct([("names", name)])),
                "bbox": [(0, 0, 0, 0), (1, 1, 1, 1)]},
            "buildings/building": {
                "id": ["bl1"], "names": [{"primary": "Building 1"}], "subtype": ["residential"],
                "class": ["building"], "bbox": [(-0.025, 0.225, -0.125, 0.125)]}}
        self.dirs = {}
        for theme, cols in tables.items():
            cols["bbox"] = pa.array([dict(zip(("xmin", "xmax", "ymin", "ymax"), b))
                                     for b in cols["bbox"]], box)
            d = Path(self.tmp.name) / theme.replace("/", "_")
            d.mkdir()
            pq.write_table(pa.table(cols), d / "part-0.parquet")
            self.dirs[theme] = str(d)

    def tearDown(self):
        self.tmp.cleanup()

    def edit(self, combine, want, bbox=None, search="", got=None):
        full = [-4.0, -2.0, 4.0, 2.0]
        return {"kind": "edit", "primary": "places/place", "other": "buildings/building",
                "combine": combine, "bbox": bbox, "search": search,
                "areas": {t: {"dir": d, "bbox": full} for t, d in self.dirs.items()},
                "got": got or digest.rows(["id", "_source"], [
                    (i, "places/place" if i.startswith("pl") else "buildings/building")
                    for i in want])}

    def test_pipeline_rules(self):
        import run

        cases = [self.edit(None, ["pl1", "pl2"]),
                 self.edit("union", ["pl1", "pl2", "bl1"]),
                 self.edit("intersect", ["pl1", "bl1"]),
                 self.edit("exclude", ["pl2"]),
                 self.edit(None, ["pl2"], bbox=[0.5, 1.5, 0.5, 1.5]),
                 self.edit("union", ["pl1"], search="Cafe!"),
                 self.edit("union", ["pl1", "bl1"], search="1"),
                 # a search filters the sources, not the table intersect tests against
                 self.edit("intersect", ["pl1"], search="cafe"),
                 self.edit("exclude", ["pl1", "pl2"]),  # wrong: pl1 lies in bl1
                 {"kind": "load", "theme": "places/place", "limit": 10, "got": 1,
                  "window": {"dir": self.dirs["places/place"], "bbox": [-0.5, -0.5, 0.5, 0.5]}},
                 {"kind": "load", "theme": "places/place", "limit": 10, "got": 2,
                  "window": {"dir": self.dirs["places/place"], "bbox": [-0.5, -0.5, 0.5, 0.5]}},
                 {"kind": "load", "theme": "places/place", "limit": 10, "got": 2,
                  "window": {"dir": self.dirs["places/place"], "bbox": None}}]
        res = {"ops": [op("edit") for _ in cases],
               "deferred": [dict(c, op=i) for i, c in enumerate(cases)]}
        run.check_deferred(res)
        self.assertEqual([o["ok"] for o in res["ops"]],
                         [True] * 8 + [False, True, False, False])


def jvm_checks():
    """Scala and Python digests agree on one parquet file of awkward
    values, and an injected throwing op and an injected wrong-digest op
    both reach `failed`."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    import run

    jars, classes, _ = run.build()
    with tempfile.TemporaryDirectory(dir=run.ROOT) as tmp:
        path = os.path.join(tmp, "values.parquet")
        pq.write_table(pa.table({
            "i": pa.array([1, None, -7, 2 ** 60], pa.int64()),
            "f": pa.array([0.1, -0.0, 1e300, 0.03125], pa.float64()),
            "g": pa.array([0.1, 1.5, None, -2.0], pa.float32()),
            "d": pa.array([decimal.Decimal("2.50"), None, decimal.Decimal("-0.01"),
                           decimal.Decimal("1000")], pa.decimal128(10, 2)),
            "s": ["a", "é\u0001", None, ""],
            "t": pa.array([datetime.datetime(2024, 1, 1, 0, 0, 0, 1), None,
                           datetime.datetime(1999, 12, 31, 23, 59, 59),
                           datetime.datetime(2000, 2, 29)], pa.timestamp("us")),
            "dt": pa.array([datetime.date(2024, 1, 1), None, datetime.date(1970, 1, 1),
                            datetime.date(2000, 2, 29)], pa.date32()),
            "l": pa.array([[1.5, 2.0], [], None, [None]], pa.list_(pa.float32())),
            "st": pa.array([{"a": 1, "b": "x"}, None, {"a": None, "b": "y"}, {"a": 2, "b": ""}],
                           pa.struct([("a", pa.int32()), ("b", pa.string())])),
            "b": pa.array([True, False, None, True]),
        }), path)
        scala = subprocess.run(run.java_cmd(jars, classes) + ["--digest-file", path],
                               capture_output=True, text=True, check=True).stdout.strip().splitlines()[-1]
        python = digest.query(duckdb.connect(), f"SELECT * FROM read_parquet('{path}')")
        assert scala == python, f"Scala digest {scala} != Python digest {python}"
        print(f"digest parity ok: {scala}")

    env = dict(os.environ, PERFBENCH_INJECT="1")
    out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "batch_ops",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         capture_output=True, text=True, env=env, check=True).stdout
    lines = out.strip().splitlines()
    last, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    assert not last["correct"] and last["failed"] >= 2, last
    kinds = " ".join(report["failures"])
    assert "inject throw" in kinds and "inject wrong_digest" in kinds, report["failures"]
    assert report["metrics"]["failed_ratio"]["value"] > 0
    print(f"injected failures counted: {last['failed']} of {last['attempted']}")


if __name__ == "__main__":
    want_jvm = "--jvm" in sys.argv
    argv = [a for a in sys.argv if a != "--jvm"]
    result = unittest.main(argv=argv, exit=False).result
    if not result.wasSuccessful():
        sys.exit(1)
    if want_jvm:
        jvm_checks()
