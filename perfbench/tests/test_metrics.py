"""Unit tests of the benchmark's own arithmetic and metric definitions.
Run: python3 -m unittest discover -s perfbench/tests (or run.py --self-test)."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        p, v = metrics.tail_percentile(xs)
        self.assertEqual(p, 90.0)  # 10 beyond p90; only 5 beyond p95
        self.assertEqual(v, 90)

    def test_larger_sample_reaches_higher_rung(self):
        p, _ = metrics.tail_percentile(list(range(1000)))
        self.assertEqual(p, 99.0)
        p, _ = metrics.tail_percentile(list(range(10000)))
        self.assertEqual(p, 99.9)

    def test_too_few_samples_gives_median_only(self):
        self.assertIsNone(metrics.tail_percentile(list(range(39))))  # 9.75 beyond p75
        self.assertEqual(metrics.tail_percentile(list(range(40)))[0], 75.0)


class SelfTime(unittest.TestCase):
    def test_union_clipped_to_parent(self):
        parent = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 5.0}, {"start": 8.0, "end": 12.0}]
        self.assertAlmostEqual(metrics.self_time(parent, kids), 10.0 - (4.0 + 2.0))

    def test_no_children(self):
        self.assertAlmostEqual(metrics.self_time({"start": 2.0, "end": 4.5}, []), 2.5)

    def test_children_outside_do_not_count(self):
        parent = {"start": 5.0, "end": 6.0}
        self.assertAlmostEqual(metrics.self_time(parent, [{"start": 0.0, "end": 5.0}]), 1.0)

    def test_events_attach_to_innermost_span(self):
        spans = [{"id": 1, "kind": "loop", "start": 0.0, "end": 10.0},
                 {"id": 2, "kind": "op", "start": 2.0, "end": 4.0}]
        evs = [{"start": 3.0, "end": 3.5}, {"start": 6.0, "end": 7.0}, {"start": 11.0, "end": 12.0}]
        self.assertEqual(metrics.parents(spans, evs), [2, 1, 0])


def _raw(workload):
    """A small synthetic traced record: two measured ops, jobs and writes."""
    spans = [
        {"id": 1, "parent": 0, "name": "loop", "kind": "loop", "start": 0.0, "end": 20.0, "attrs": {}, "tags": {}},
        {"id": 2, "parent": 1, "name": "op-1", "kind": "op", "start": 0.0, "end": 10.0,
         "attrs": {"winners": 5.0}, "tags": {}},
        {"id": 3, "parent": 1, "name": "op-2", "kind": "op", "start": 10.0, "end": 20.0,
         "attrs": {"winners": 5.0}, "tags": {}},
    ]
    job = {"site": "", "tasks": 4, "cpu_s": 4.0, "run_s": 4.0, "gc_s": 0.1, "shuffle_write_b": 1e6,
           "shuffle_read_b": 1e6, "spill_b": 0, "input_records": 100, "input_b": 10}
    jobs = [dict(job, id=1, start=1.0, end=3.0), dict(job, id=2, start=2.0, end=6.0),
            dict(job, id=3, start=11.0, end=19.0)]
    sql = [{"id": 1, "start": 4.0, "end": 5.0, "desc": "", "path": "file:/w/snap_00001/x",
            "files_written": 2, "bytes_written": 3e6, "files_read": 0, "bytes_read": 0}]
    return {"workload": workload, "cores": 4, "spans": spans, "jobs": jobs, "sql": sql, "layers": {},
            "handler_s": 0.01, "info": {"rows_per_op": 1000, "setup_s": 3.0, "snapshot_bytes": 5e6,
                                        "vm_hwm_kb": 2048},
            "ops": [{"name": "op-1", "start": 0.0, "end": 10.0, "count": 40, "measured": True, "cpu_s": 20.0,
                     "ok": True},
                    {"name": "op-2", "start": 10.0, "end": 20.0, "count": 60, "measured": True, "cpu_s": 30.0,
                     "ok": True}],
            "checks": [], "seed": 1}


class Derivation(unittest.TestCase):
    def test_end_to_end(self):
        m = metrics.end_to_end(_raw("crawl-small"))
        self.assertAlmostEqual(m["urls_per_s"], 100 / 20.0)
        self.assertAlmostEqual(m["iter_p50_s"], 10.0)
        self.assertAlmostEqual(m["snapshot_mb"], 5.0)
        self.assertAlmostEqual(m["cpu_s_per_iter"], 25.0)
        s = metrics.end_to_end(_raw("frontier-schedule"))
        self.assertAlmostEqual(s["urls_per_s"], 1000 / 10.0)

    def test_iteration_splits_into_jobs_and_gap(self):
        m, notes = metrics.per_layer(_raw("crawl-small"), untraced_urls_per_s=5.5)
        for split in notes["iteration_split"]:
            self.assertAlmostEqual(split["job_s"] + split["driver_gap_s"], split["wall_s"])
        self.assertAlmostEqual(m["spark.driver_gap_s"], ((10 - 5) + (10 - 8)) / 2)
        self.assertAlmostEqual(m["spark.jobs_per_iter"], 1.5)
        self.assertAlmostEqual(m["commit.writes_per_iter"], 0.5)
        self.assertAlmostEqual(m["commit.mb_per_iter"], 1.5)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1 - 5.0 / 5.5)

    def test_every_layer_metric_reported_for_every_workload(self):
        m, _ = metrics.per_layer(_raw("frontier-schedule"))
        self.assertEqual(set(m), set(metrics.LAYER_UNITS))
        m, _ = metrics.per_layer(_raw("crawl-small"))
        self.assertEqual(set(m), set(metrics.LAYER_UNITS) | set(metrics.CRAWL_LAYER_UNITS))

    def test_outcome_counts_failed_checks(self):
        raw = _raw("crawl-small")
        self.assertEqual(metrics.outcome(raw, {})[:3], (True, 2, 0))
        raw["checks"] = [{"name": "x", "ok": False, "detail": "bad"}]
        self.assertEqual(metrics.outcome(raw, {})[:3], (False, 2, 1))
        raw = _raw("crawl-small")
        raw["info"]["digest"] = "abc"
        self.assertFalse(metrics.outcome(raw, {"crawl-small": {"seed": 1, "digest": "def"}})[0])
        self.assertTrue(metrics.outcome(raw, {"crawl-small": {"seed": 2, "digest": "def"}})[0])


class Names(unittest.TestCase):
    def test_metric_names_and_units_are_valid(self):
        for name, unit in (metrics.E2E_UNITS | metrics.LAYER_UNITS | metrics.CRAWL_LAYER_UNITS).items():
            self.assertRegex(name, metrics.NAME_RE)
            self.assertRegex(unit, metrics.UNIT_RE)

    @unittest.skipUnless(os.path.exists(BENCHMARK_JSON), "BENCHMARK.json not present")
    def test_benchmark_json_matches_what_is_printed(self):
        with open(BENCHMARK_JSON) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.LAYER_UNITS)
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


if __name__ == "__main__":
    unittest.main()
