#!/usr/bin/env python3
"""Tests of the runner's metric computation on a small made-up result.

Run from the repository root: python3 -m unittest perfbench/test_run.py
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def op(name, wall):
    return {"name": name, "wall_s": wall, "error": None,
            "construct_s": wall / 4, "plan_s": 0.01, "exec_s": wall / 2}


def result(names):
    passes = []
    # The cold pass, one warm-up pass, then measured passes.
    for p, traced in enumerate([True, False, True, False, True, False]):
        passes.append({
            "pass": p, "traced": traced, "sample": p >= 2,
            "wall_s": 9.0 if p == 1 else 2.0 + p / 10,
            "ops": [op(n, 0.5 + i / 10) for i, n in enumerate(names)],
            "storage_b": 1_000_000 * p, "persisted_rdds": p,
            "stream": {"queries": 1, "batches": 2, "batch_ms": 300,
                       "rows": 40, "life_ms": 500} if traced else {}})
    counts = [{"pass": p, "op": n, "phase": ph, "jobs": 2, "stages": 3,
               "tasks": 8, "max_stage_tasks": 4, "tasks_failed": 0,
               "busy_ms": 400, "gc_ms": 5, "shuffle_read_b": 10**6,
               "shuffle_write_b": 2 * 10**6, "spill_b": 0,
               "peak_exec_mem_b": 10**7}
              for p in (0, 2, 4) for n in names
              for ph in ("construct", "exec")]
    return {"setup_s": [5.0, 0.7, 0.8], "session_start_s": [3.0, 0.1, 0.1],
            "passes": passes, "lineage_build_s": {"dd_stream_store": 9.0},
            "lineage_warm_builds": 0, "storage_b": 4_000_000,
            "persisted_rdds": 3, "tables": {"read_s": 0.4, "read_jobs": 10},
            "counts": counts,
            "retained": {"heap_retained_b": 9 * 10**7, "disk_retained_b": 0}}


class MetricsTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_end_to_end_metrics_are_all_computed(self):
        values, samples = run.end_to_end(result(["a", "b", "c"]))
        for m in self.spec["end_to_end"]:
            self.assertGreater(values[m["name"]], 0, m["name"])
        self.assertEqual(samples, {"warm_passes": 2, "query_samples": 6})
        self.assertAlmostEqual(values["warm_s"], 2.4)

    def test_declared_per_layer_metrics_exist_for_some_op_set(self):
        ops = [m["name"].split(".")[1] for m in self.spec["per_layer"]
               if m["name"].startswith("q.")]
        spans = [{"id": 1, "parent": 0, "name": "op", "op": "a", "pass": 2,
                  "start_ms": 0.0, "end_ms": 100.0},
                 {"id": -1, "parent": 1, "name": "job", "op": "a", "pass": 2,
                  "start_ms": 20.0, "end_ms": 50.0},
                 {"id": -2, "parent": 1, "name": "job", "op": "a", "pass": 2,
                  "start_ms": 40.0, "end_ms": 70.0}]
        values = run.per_layer(result(sorted(set(ops))), spans, cores=4)
        declared = {m["name"] for m in self.spec["per_layer"]}
        keys = {k for k in values if not k.startswith("lineage.build_s.")}
        self.assertEqual(keys - declared, set())
        self.assertEqual({k for k in declared
                          if not k.startswith("lineage.build_s.")} - keys,
                         set())
        # Overlapping children are covered once: 100 - (70 - 20).
        self.assertEqual(run.self_times(spans, {2}),
                         {(2, "op"): 50.0, (2, "job"): 60.0})
        self.assertAlmostEqual(values["mr.general_shuffle_mb"], 4.0)
        self.assertAlmostEqual(values["lineage.cached_mb_per_pass"], 1.0)
        self.assertAlmostEqual(values["lineage.rdds_per_pass"], 1.0)


if __name__ == "__main__":
    unittest.main()
