#!/usr/bin/env python3
"""Per-op breakdown of a traced benchmark run: its Spark jobs and stages.

Usage: python3 scripts/trace_stages.py [workload] [--records PATH] [--pass N]

Reads perfbench/.work/last/<workload>.trace1.records.jsonl (the records of
the last `perfbench/run.py --trace 1` run of that workload; the workload
defaults to ingest_roundtrip) and prints one table per traced op:

  jobs    job id, phase (build or exec), async kind (aqe_map, broadcast or
          blank), call site and wall ms
  stages  stage id, its job, tasks, wall ms, summed task run ms, records
          read, shuffle bytes read and written

followed by the op's totals. `--pass N` keeps one traced pass (default:
all of them). The script only reads; it writes nothing under perfbench/.
"""
import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def table(header, rows):
    """Text columns left-aligned, numbers right-aligned."""
    widths = [max(len(str(r[i])) for r in [header] + rows) for i in range(len(header))]
    text = [any(isinstance(r[i], str) for r in rows) for i in range(len(header))]
    fmt = "  ".join(f"{{:{'<' if t else '>'}{w}}}" for t, w in zip(text, widths))
    print("  " + fmt.format(*header))
    for r in rows:
        print("  " + fmt.format(*r))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload", nargs="?", default="ingest_roundtrip")
    ap.add_argument("--records", help="a records.jsonl file to read instead")
    ap.add_argument("--pass", dest="pass_", type=int, help="keep only this traced pass")
    args = ap.parse_args()
    path = args.records or os.path.join(
        ROOT, "perfbench", ".work", "last", f"{args.workload}.trace1.records.jsonl")
    if not os.path.exists(path):
        sys.exit(f"trace_stages: no records at {path}; run "
                 f"`python3 perfbench/run.py --workload {args.workload} --trace 1` first")
    recs = load(path)

    ops = [r for r in recs if r.get("kind") == "op" and r.get("phase") == "traced"
           and (args.pass_ is None or r["pass"] == args.pass_)]
    if not ops:
        sys.exit(f"trace_stages: no traced ops in {path}")
    ends = {r["job"]: r["end_ms"] for r in recs if r.get("kind") == "job_end"}
    jobs_by_op = {}
    for j in (r for r in recs if r.get("kind") == "job"):
        jobs_by_op.setdefault(j["op"], []).append(j)
    stages_by_job = {}
    for s in (r for r in recs if r.get("kind") == "stage"):
        stages_by_job.setdefault(s["job"], []).append(s)

    for op in ops:
        jobs = sorted(jobs_by_op.get(op["id"], []), key=lambda j: j["job"])
        stages = sorted((s for j in jobs for s in stages_by_job.get(j["job"], [])),
                        key=lambda s: s["stage"])
        print(f"{op['id']}  wall {op['wall_s'] * 1000:.0f} ms  "
              f"build {op['build_s'] * 1000:.0f} ms  exec {op['exec_s'] * 1000:.0f} ms")
        table(["job", "phase", "async", "call site", "ms"],
              [[j["job"], j["phase"] or "", j["async"] or "", j["callsite"],
                ends.get(j["job"], j["start_ms"]) - j["start_ms"]] for j in jobs])
        rows = [[s["stage"], s["job"], s["tasks"], s["end_ms"] - s["start_ms"],
                 s["task_run_ms"], s["records_read"], s["shuffle_read_bytes"],
                 s["shuffle_write_bytes"]] for s in stages]
        table(["stage", "job", "tasks", "wall ms", "task ms", "records read",
               "shuffle r B", "shuffle w B"], rows)
        print(f"  total: {len(jobs)} jobs, {len(stages)} stages, "
              f"{sum(s['tasks'] for s in stages)} tasks, "
              f"{sum(s['task_run_ms'] for s in stages)} task ms, "
              f"{sum(s['records_read'] for s in stages)} records read\n")


if __name__ == "__main__":
    main()
