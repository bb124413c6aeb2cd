"""Tests of the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        # 100 samples: rank 90, ten beyond -> reported
        self.assertEqual(stats.supported_percentile(range(1, 101), 90), 90)
        # 99 samples: rank 90, nine beyond -> withheld
        self.assertIsNone(stats.supported_percentile(range(1, 100), 90))

    def test_nearest_rank(self):
        self.assertEqual(stats.nearest_rank([5, 1, 3, 2, 4], 50), (3, 2))
        self.assertEqual(stats.nearest_rank([7], 99), (7, 0))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)

    def test_self_time_subtracts_clipped_children(self):
        # children overlap each other and stick out of the parent
        self.assertEqual(stats.self_time((0, 10), [(-2, 3), (2, 4), (9, 12)]), 5)

    def test_layers_partition_the_op(self):
        op = (0.0, 10.0)
        parts = stats.layer_self_times(op, [
            ("build_jobs", [(1, 4)]),
            ("stages", [(3, 6), (8, 11)]),
        ])
        self.assertEqual(parts, {"build_jobs": 3, "stages": 4, None: 3})
        self.assertAlmostEqual(sum(parts.values()), op[1] - op[0])


class Sampling(unittest.TestCase):
    POOL = {f"q{i:03d}": (i * 37 % 101) / 50.0 for i in range(200)}

    def test_same_seed_same_sample(self):
        a = stats.stratified_sample(self.POOL, 20, 7)
        self.assertEqual(a, stats.stratified_sample(dict(reversed(self.POOL.items())), 20, 7))
        self.assertNotEqual(a, stats.stratified_sample(self.POOL, 20, 8))

    def test_one_per_stratum(self):
        names = sorted(self.POOL, key=lambda n: (self.POOL[n], n))
        picked = stats.stratified_sample(self.POOL, 20, 3)
        self.assertEqual(len(set(picked)), 20)
        for j, name in enumerate(picked):
            self.assertIn(name, names[10 * j:10 * (j + 1)])

    def test_seeded_order_is_a_stable_permutation(self):
        names = ["a", "b", "c", "d", "e"]
        self.assertEqual(stats.seeded_order(names, 1), stats.seeded_order(names, 1))
        self.assertEqual(sorted(stats.seeded_order(names, 1)), names)


class HostFields(unittest.TestCase):
    def test_steal_share(self):
        a = [100, 0, 50, 800, 0, 0, 0, 50]
        b = [200, 0, 100, 1600, 0, 0, 0, 100]
        self.assertAlmostEqual(stats.steal_share(a, b), 50 / 1000)
        self.assertEqual(stats.steal_share([], b), 0.0)


class LayerAccounting(unittest.TestCase):
    """report.per_layer on a hand-built traced pass of one query."""

    RECORDS = [
        {"kind": "op", "id": "2:q", "name": "q", "pass": 2, "phase": "traced",
         "start_ms": 1000, "end_ms": 2000, "build_s": 0.4, "exec_s": 0.6, "wall_s": 1.0,
         "ok": True, "result": {"rows": 1}},
        # construction: a schema-inference job, then an eager cut
        {"kind": "job", "job": 1, "op": "2:q", "phase": "build", "async": "",
         "callsite": "parquet at Tables.scala:27",
         "user_frame": "graft.Tables$.load(Tables.scala:27)", "start_ms": 1050, "stages": [1]},
        {"kind": "job_end", "job": 1, "end_ms": 1150, "ok": True},
        {"kind": "job", "job": 2, "op": "2:q", "phase": "build", "async": "",
         "callsite": "localCheckpoint at Curation.scala:617",
         "user_frame": "graft.pipeline.Curation$.topKPerGroup(Curation.scala:617)",
         "start_ms": 1200, "stages": [2]},
        {"kind": "job_end", "job": 2, "end_ms": 1300, "ok": True},
        # the counted action: planning, then one job with one stage
        {"kind": "plan", "func": "count", "phases": {
            "analysis": {"start_ms": 1400, "end_ms": 1410},
            "optimization": {"start_ms": 1410, "end_ms": 1450},
            "planning": {"start_ms": 1450, "end_ms": 1460}}},
        {"kind": "job", "job": 3, "op": "2:q", "phase": "exec", "async": "",
         "callsite": "count at Main.scala:1", "user_frame": "", "start_ms": 1500, "stages": [3]},
        {"kind": "stage", "stage": 3, "attempt": 0, "job": 3, "tasks": 4, "failed": False,
         "start_ms": 1550, "end_ms": 1900, "task_run_ms": 1200, "task_cpu_ns": 10**9,
         "task_gc_ms": 5, "task_delay_ms": 20, "shuffle_read_bytes": 2 * 10**6,
         "shuffle_write_bytes": 0, "spill_bytes": 0, "records_read": 600},
        {"kind": "job_end", "job": 3, "end_ms": 1950, "ok": True},
        {"kind": "pass", "pass": 1, "traced": False, "wall_s": 0.9, "gc_s": 0.0},
        {"kind": "pass", "pass": 2, "traced": True, "wall_s": 1.0, "gc_s": 0.01},
        {"kind": "pass", "pass": 3, "traced": False, "wall_s": 0.9, "gc_s": 0.0},
    ] + [{"kind": "probe", "at": at, "probe_s": 0.2, "loadavg": 1.0, "cpu_jiffies": []}
         for at in ("start", "mid", "end")]

    def test_self_times_partition_the_op(self):
        import report
        m, extra = report.per_layer(self.RECORDS, cpus=4)
        v = {k: val for k, (val, _) in m.items()}
        self.assertAlmostEqual(v["self.Tables_s"], 0.1)
        self.assertAlmostEqual(v["self.pipeline_s"], 0.1)
        self.assertAlmostEqual(v["self.catalyst_s"], 0.06)
        self.assertAlmostEqual(v["self.executor_s"], 0.35)
        self.assertAlmostEqual(v["self.scheduler_s"], 0.1)
        self.assertAlmostEqual(v["self.queries_s"], 0.29)
        self.assertAlmostEqual(v["trace.unaccounted_s"], 0.0)
        self.assertAlmostEqual(v["trace.overhead_s"], 0.1)
        self.assertEqual((v["queries.build_jobs"], v["Tables.load_jobs"],
                          v["pipeline.cut_jobs"], v["scheduler.jobs"]), (2, 1, 1, 3))
        self.assertAlmostEqual(v["scheduler.core_util"], 1.2 / 4)
        self.assertEqual(extra["construction_jobs_by_kind_and_file"],
                         {"Tables:Tables.scala": 1, "cut:Curation.scala": 1})


if __name__ == "__main__":
    unittest.main()
