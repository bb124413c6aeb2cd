#!/usr/bin/env python3
"""Per-op diff of two traced benchmark runs: job, stage and task counts, and
the layer whose self time moved the most.

Usage: python3 scripts/diff_traces.py BEFORE.records.jsonl AFTER.records.jsonl

Each file is the records of a `perfbench/run.py --trace 1` run (for example
perfbench/.work/last/<workload>.trace1.records.jsonl, copied aside between
runs), best of the same workload and seed. For every traced op the script
prints its jobs, stages and tasks per traced pass on each side, its wall
time, and the layer (queries, Tables, pipeline, catalyst, scheduler,
executor, ...) whose self time changed the most, with the change. The last
row is the whole traced pass. The split is perfbench's own (report.py's
per_layer, run on one op's records at a time); the script writes nothing.
"""
import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import report  # noqa: E402

COUNTS = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks"]
TOTAL = "(all ops)"


def op_names(records):
    """The names of the traced ops, in their first traced order."""
    names = []
    for r in records:
        if r["kind"] == "op" and r["phase"] == "traced" and r["name"] not in names:
            names.append(r["name"])
    return names


def only_op(records, name):
    """The records with every op other than `name` left out; its jobs and
    stages are then the only ones per_layer counts."""
    return [r for r in records if r["kind"] != "op" or r["name"] == name]


def op_metrics(records):
    """{op name: per-pass metric dict}, plus TOTAL for the whole pass."""
    def flat(recs):
        return {k: v for k, (v, _) in report.per_layer(recs, 1)[0].items()}
    out = {n: flat(only_op(records, n)) for n in op_names(records)}
    out[TOTAL] = flat(records)
    return out


def moved_most(before, after):
    """(layer, after - before) of the self-time layer that changed the most;
    a layer missing on one side counts as 0 there."""
    deltas = [(layer, after.get(f"self.{layer}_s", 0.0) - before.get(f"self.{layer}_s", 0.0))
              for layer in report.SELF_LAYERS]
    return max(deltas, key=lambda d: abs(d[1]))


def diff(before, after):
    """One row per op in either run (ops of one run only show '-' on the
    other side): name, each count as (before, after), wall (before, after)
    and the layer that moved most."""
    names = list(before) + [n for n in after if n not in before]
    names = [n for n in names if n != TOTAL] + [TOTAL]
    rows = []
    for n in names:
        b, a = before.get(n, {}), after.get(n, {})
        rows.append({
            "op": n,
            **{c: (b.get(c), a.get(c)) for c in COUNTS},
            "wall_s": (b.get("trace.op_wall_s"), a.get("trace.op_wall_s")),
            "moved": moved_most(b, a),
        })
    return rows


def _pair(p, fmt):
    return " -> ".join("-" if v is None else fmt.format(v) for v in p)


def render(rows):
    header = ["op", "jobs", "stages", "tasks", "wall s", "layer moved most"]
    body = [[r["op"]] + [_pair(r[c], "{:.0f}") for c in COUNTS]
            + [_pair(r["wall_s"], "{:.3f}"), f"{r['moved'][0]} {r['moved'][1]:+.3f} s"]
            for r in rows]
    widths = [max(len(x[i]) for x in [header] + body) for i in range(len(header))]
    return "\n".join("  ".join(c.ljust(w) for c, w in zip(line, widths)).rstrip()
                     for line in [header] + body)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    sides = []
    for path in (args.before, args.after):
        if not os.path.exists(path):
            sys.exit(f"diff_traces: no records at {path}")
        recs = report.load(path)
        if not op_names(recs):
            sys.exit(f"diff_traces: no traced ops in {path}; is it a --trace 1 run?")
        sides.append(op_metrics(recs))
    print(render(diff(*sides)))


if __name__ == "__main__":
    main()
