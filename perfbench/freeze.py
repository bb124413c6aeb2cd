#!/usr/bin/env python3
"""Freeze the registry workloads' expected results into expected.json.

Run from the root of a graft checkout whose results are known good:

    python3 perfbench/freeze.py

It runs every query registry_short can pick (the canaries and the short
pool) twice, in two JVMs, over the generated registry
tables, and records each query's row count and result hash, plus the wall
time of a warm `.count()`. A query whose hash differs between the two runs
keeps its row count only; a query that fails is left out, and the workload
never picks it.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import run  # noqa: E402


def main():
    classpath = run.build(os.getcwd())
    names = sorted(set(run.CANARIES) | set(run.load_json("short_pool.json")["queries"]))
    plan = {"workload": "registry_freeze", "trace": False,
            "data_dir": run.registry_dir(), "queries": names}
    first, _ = run.run_harness(classpath, dict(plan, seconds=0.001), None)
    second, _ = run.run_harness(classpath, dict(plan, seconds=0.0), None)
    checks = [{o["name"]: o for o in recs if o["kind"] == "op" and o["phase"] == "check"}
              for recs in (first, second)]
    timed = {o["name"]: o for o in first if o["kind"] == "op" and o["phase"] == "timed"}
    out, failed, unstable = {}, {}, []
    for n in names:
        a, b = checks[0][n], checks[1][n]
        if not (a["ok"] and b["ok"] and timed[n]["ok"]):
            failed[n] = a.get("error") or b.get("error") or timed[n].get("error")
            continue
        if a["result"]["rows"] != b["result"]["rows"]:
            failed[n] = "row count differs between runs"
            continue
        entry = {"rows": a["result"]["rows"], "timed_s": round(timed[n]["wall_s"], 4)}
        if a["result"]["hash"] == b["result"]["hash"]:
            entry["hash"] = a["result"]["hash"]
        else:
            unstable.append(n)
        out[n] = entry
    with open(os.path.join(run.HERE, "expected.json"), "w", encoding="utf-8") as f:
        json.dump({"data": f"generated registry tables, sf {datagen.REGISTRY_SF}, "
                           f"generator version {datagen.REGISTRY_VERSION}",
                   "left_out": failed, "rows_only": unstable, "queries": out},
                  f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out)} frozen, {len(unstable)} rows only, {len(failed)} left out")


if __name__ == "__main__":
    main()
