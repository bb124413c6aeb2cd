"""Tests of scripts/diff_traces.py's arithmetic over synthetic records.

Run from the repository root: python3 -m unittest discover -s scripts/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import diff_traces  # noqa: E402


def trace(ops):
    """Records of a traced run: `ops` maps an op name to a list of jobs per
    traced pass, each job a list of (tasks, stage ms) stages. Each op builds
    for 100 ms; its jobs start 50 ms later, one after another, each stage
    back to back; a job ends 10 ms after its last stage, and the next job
    (or the op's 30 ms tail) starts 10 ms after that."""
    recs = [{"kind": "probe", "at": at, "probe_s": 0.1, "loadavg": 1.0,
             "cpu_jiffies": [0] * 8, "gc_s": 0.0} for at in ("start", "end")]
    recs += [{"kind": "pass", "pass": 1, "traced": False, "wall_s": 1.0, "gc_s": 0.0, "cpu_s": 1.0}]
    t, job, stage = 0, 0, 0
    n_pass = len(next(iter(ops.values())))
    for p in range(2, 2 + n_pass):
        recs.append({"kind": "pass", "pass": p, "traced": True, "wall_s": 1.0,
                     "gc_s": 0.0, "cpu_s": 1.0})
        for name, per_pass in ops.items():
            op_id = f"{p}:{name}"
            op = {"kind": "op", "id": op_id, "name": name, "pass": p, "phase": "traced",
                  "start_ms": t, "build_s": 0.1, "cpu_s": 1.0, "ok": True, "result": {}}
            recs.append(op)
            at = t + 150
            for stages in per_pass[p - 2]:
                ids = list(range(stage, stage + len(stages)))
                recs.append({"kind": "job", "job": job, "op": op_id, "phase": "exec", "async": "",
                             "callsite": "count at X.scala:1", "user_frame": "", "start_ms": at,
                             "stages": ids})
                for sid, (tasks, ms) in zip(ids, stages):
                    recs.append({"kind": "stage", "stage": sid, "attempt": 0, "job": job,
                                 "tasks": tasks, "failed": False, "start_ms": at,
                                 "end_ms": at + ms, "task_run_ms": ms * tasks, "task_cpu_ns": 0,
                                 "task_gc_ms": 0, "task_delay_ms": 0, "shuffle_read_bytes": 0,
                                 "shuffle_write_bytes": 0, "spill_bytes": 0, "records_read": 0})
                    at += ms
                recs.append({"kind": "job_end", "job": job, "end_ms": at + 10, "ok": True})
                at += 20
                job += 1
                stage += len(stages)
            op["end_ms"] = at + 30
            op["wall_s"] = (op["end_ms"] - t) / 1000.0
            op["exec_s"] = op["wall_s"] - 0.1
            t = op["end_ms"]
    return recs


class Counts(unittest.TestCase):
    def test_counts_are_per_traced_pass_and_per_op(self):
        m = diff_traces.op_metrics(trace({
            "a": [[[(4, 100), (1, 50)], [(1, 10)]]] * 2,   # 2 jobs, 3 stages, 6 tasks
            "b": [[[(2, 100)]]] * 2}))                      # 1 job, 1 stage, 2 tasks
        self.assertEqual([m["a"][c] for c in diff_traces.COUNTS], [2, 3, 6])
        self.assertEqual([m["b"][c] for c in diff_traces.COUNTS], [1, 1, 2])
        self.assertEqual([m[diff_traces.TOTAL][c] for c in diff_traces.COUNTS], [3, 4, 8])

    def test_self_times_split_the_op_wall(self):
        m = diff_traces.op_metrics(trace({"a": [[[(1, 300)]]]}))["a"]
        self.assertAlmostEqual(m["trace.op_wall_s"], 0.5)
        self.assertAlmostEqual(m["self.executor_s"], 0.3)
        self.assertAlmostEqual(m["self.scheduler_s"], 0.01)
        # build, the gap before the job, the gap after it and the tail
        self.assertAlmostEqual(m["self.queries_s"], 0.1 + 0.05 + 0.01 + 0.03)


class Diff(unittest.TestCase):
    def test_layer_moved_most_keeps_its_sign(self):
        before = diff_traces.op_metrics(trace({"a": [[[(1, 400)], [(1, 100)]]]}))
        after = diff_traces.op_metrics(trace({"a": [[[(1, 100)]]]}))
        row = diff_traces.diff(before, after)[0]
        self.assertEqual(row["op"], "a")
        self.assertEqual(row["scheduler.jobs"], (2, 1))
        self.assertEqual(row["scheduler.stages"], (2, 1))
        layer, delta = row["moved"]
        self.assertEqual(layer, "executor")
        self.assertAlmostEqual(delta, -0.4)

    def test_an_op_on_one_side_only_shows_none(self):
        before = diff_traces.op_metrics(trace({"a": [[[(1, 10)]]], "b": [[[(1, 10)]]]}))
        after = diff_traces.op_metrics(trace({"a": [[[(1, 10)]]]}))
        rows = {r["op"]: r for r in diff_traces.diff(before, after)}
        self.assertEqual(rows["b"]["scheduler.jobs"], (1, None))
        self.assertEqual(list(rows)[-1], diff_traces.TOTAL)
        self.assertIn("1 -> -", diff_traces.render(diff_traces.diff(before, after)))


if __name__ == "__main__":
    unittest.main()
