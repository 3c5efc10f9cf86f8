"""Tests of the benchmark's own arithmetic and metric contract.

    python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SPEC = run.spec()


def span(i, parent, name, t0, t1, timed=True):
    return {"id": i, "parent": parent, "name": name, "req": -1, "timed": timed,
            "t0": t0, "t1": t1, "e0": t0 // 1000000, "e1": t1 // 1000000}


def fake_run():
    """A traced run of two calls under one phase."""
    ms = 1000000
    spans = [
        span(0, -1, "setup", 0, 10 * ms, timed=False),
        span(1, -1, "timed", 100 * ms, 1100 * ms),
        span(2, 1, "serve", 100 * ms, 1000 * ms),
        span(3, 2, "serve.ivf", 200 * ms, 500 * ms),
        span(4, 2, "serve.bm25", 500 * ms, 900 * ms),
    ]
    spans[3]["planning_ms"], spans[3]["exchanges"], spans[3]["joins"] = 5.0, 2, 1
    return {
        "setup_s": [3.0, 1.0, 2.0],
        "timed": {"timed_s": 1.0, "store_bytes": 4096, "graft_store_bytes": 1024},
        "ops": [{"timed": True, "kind": "read", "name": "serve.ivf", "ms": 300.0, "ok": True},
                {"timed": True, "kind": "read", "name": "serve.bm25", "ms": 400.0, "ok": True},
                {"timed": True, "kind": "batch", "name": "stores.ivf", "ms": 100.0, "ok": True}],
        "spans": spans,
        "jobs": [{"id": 0, "span": 3, "e0": 250, "e1": 350},
                 {"id": 1, "span": 4, "e0": 300, "e1": 600}],
        "counters": {"3": {"stages": 2, "tasks": 8, "shuffle_read_bytes": 10},
                     "4": {"stages": 1, "tasks": 4}},
        "gauges": {"peak_rss_mb": 900.5, "ann_recall_at_3": 0.9},
        "checks": [], "oracles": [],
    }


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(39), 50)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(99), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_reported_tail_has_ten_samples_beyond(self):
        for n in range(20, 3000, 37):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100, 10)

    def test_interpolated_percentile(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(metrics.percentile([7], 90), 7.0)
        self.assertEqual(metrics.percentile(list(range(101)), 90), 90.0)


class Names(unittest.TestCase):
    def test_every_metric_name_and_unit_is_valid_and_unique(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
        names += [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)
        for k in ("end_to_end", "per_layer"):
            for m in SPEC[k]:
                self.assertRegex(m["unit"], metrics.UNIT_RE)
                self.assertIn(m["better"], ("lower", "higher"))

    def test_name_regex_rejects_bad_names(self):
        for bad in ("", ".x", "-x", "a b", "a/b", "x" * 65, "é"):
            self.assertIsNone(metrics.NAME_RE.match(bad), bad)

    def test_workloads_match_the_driver(self):
        self.assertEqual(sorted(w["name"] for w in SPEC["workloads"]), sorted(run.WORKLOADS))


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        s = metrics.self_times(fake_run()["spans"])
        ms = 1000000
        self.assertEqual(s[1], 100 * ms)   # timed: 1000 ms minus serve's 900
        self.assertEqual(s[2], 200 * ms)   # serve: 900 minus 300 + 400
        self.assertEqual(s[3], 300 * ms)
        self.assertEqual(s[4], 400 * ms)

    def test_self_times_of_a_tree_sum_to_its_root(self):
        spans = fake_run()["spans"]
        s = metrics.self_times(spans)
        inside = metrics.subtree(spans, 1)
        self.assertEqual(sum(s[i] for i in inside), spans[1]["t1"] - spans[1]["t0"])

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.union_length([(0, 5), (3, 8), (10, 12)], 0, 20), 10)
        self.assertEqual(metrics.union_length([(0, 5), (3, 8)], 4, 6), 2)
        self.assertEqual(metrics.union_length([], 0, 5), 0)

    def test_no_job_share(self):
        r = fake_run()
        timed = r["spans"][1]
        # jobs cover 250..600 ms of the 100..1100 ms span
        self.assertAlmostEqual(metrics.no_job_share(timed, r["jobs"]), 0.65)


class PrintedMetrics(unittest.TestCase):
    def test_untraced_run_prints_every_end_to_end_metric(self):
        got = metrics.end_to_end(fake_run())
        self.assertEqual(sorted(got), sorted(m["name"] for m in SPEC["end_to_end"]))
        self.assertEqual(got["setup_s"], 2.0)
        self.assertEqual(got["read_p50_ms"], 350.0)
        self.assertAlmostEqual(got["read_rps"], 2 / 0.7)
        self.assertEqual(got["batch_s"], 0.1)
        for v in got.values():
            self.assertGreater(v, 0)

    def test_traced_run_prints_every_per_layer_metric(self):
        got = metrics.per_layer(fake_run())
        self.assertEqual(sorted(got), sorted(m["name"] for m in SPEC["per_layer"]))
        self.assertEqual(got["serve.ivf.p50_ms"], 300.0)
        self.assertEqual(got["serve.ivf.jobs"], 1.0)
        self.assertEqual(got["sched.jobs"], 2.0)
        self.assertEqual(got["sched.tasks"], 12.0)
        self.assertEqual(got["plan.exchanges"], 2.0)
        self.assertAlmostEqual(got["trace.self_sum_s"], got["trace.timed_s"])
        self.assertAlmostEqual(got["trace.harness_self_s"], 0.3)

    def test_result_line_shape(self):
        units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        vals = metrics.end_to_end(fake_run())
        line = json.dumps({"correct": True, "attempted": 3, "failed": 0,
                           "metrics": {k: {"value": vals[k], "unit": units[k]} for k in units}})
        back = json.loads(line)
        self.assertEqual(set(back), {"correct", "attempted", "failed", "metrics"})


class Inputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        import tempfile
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            rows = [gen.generate(os.path.join(d, str(i)), seed, "curate")
                    for i, seed in enumerate((5, 5, 6))]
            self.assertEqual(rows[0], rows[1])
            for t in rows[0]:
                a, b, c = (pq.read_table(os.path.join(d, str(i), f"{t}.parquet")) for i in range(3))
                self.assertTrue(a.equals(b), t)
                self.assertFalse(a.equals(c), t)
            docs = pq.read_table(os.path.join(d, "0", "documents.parquet")).to_pandas()
            self.assertEqual(docs.text.str.endswith(" dup").sum(), 10 * (200 // 20))


class OracleCompare(unittest.TestCase):
    def test_frames_equal_ignores_row_and_column_order(self):
        import pandas as pd
        a = pd.DataFrame({"id": [1, 2], "s": [0.1, 0.2]})
        b = pd.DataFrame({"s": [0.2, 0.1 + 1e-12], "id": [2, 1]})
        self.assertTrue(run.frames_equal(a, b)[0])
        self.assertFalse(run.frames_equal(a, b.assign(s=[0.2, 0.3]))[0])
        self.assertFalse(run.frames_equal(a, b.iloc[:1])[0])


if __name__ == "__main__":
    unittest.main()
