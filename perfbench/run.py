#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON line of metrics.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload registry_short --seed 1 --seconds 10 --trace 0

Workloads (see README.md in this directory for why each exists):
  registry_short    the five ROADMAP canaries plus a seeded, cost-stratified
                    sample of the short pool (registry queries under 2 s)
  ingest_roundtrip  meza's pipeline over a seeded messy CSV: read, detect
                    types, cast, dedup + aggregate, write NDJSON, write CSV

The first run in a checkout builds graft and the harness with sbt and writes
the registry tables; later runs reuse both while the sources are unchanged.
Everything the benchmark writes goes to perfbench/.work.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced pass. The line before
it carries the workload-specific report (queries/s or rows/s, write
amplification, p90 where supported, contention fields). The full records of
the last run of each workload and mode are kept in perfbench/.work/last/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("registry_short", "ingest_roundtrip")
# ROADMAP's fixed canaries: the cut-tax callers (q117, q152, q100), the
# topKPerGroup cut (q67) and the flagship aggregate (q01)
CANARIES = ["q01_pricing_summary", "q67_top_per_group", "q100_assoc_rules",
            "q117_diversified_topk", "q152_item_cosine"]
# The sample is drawn once, with a fixed seed, so that every run times the
# same queries and the workload seed only sets their order: in a fresh JVM a
# query's cost after one warm-up pass strays far from its frozen cost, so a
# sample redrawn per seed moved queries/s by up to 50% between seeds.
SHORT_SAMPLE = 5
SAMPLE_SEED = 0
INGEST_ROWS = 500_000
# seconds one run may take before it is abandoned
TIME_LIMIT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# A fixed heap under the parallel collector: with G1 growing the heap on its
# own schedule, the peak RSS of the same workload varied by 18% between runs.
JAVA_HEAP = "3g"
JAVA_GC = "-XX:+UseParallelGC"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    """Spark task slots: one fewer than the CPUs this process may use, so the
    driver, JIT and GC threads have a CPU of their own. With every CPU given
    to tasks, the short queries ran slower, and slower still when the host
    stole CPU time, because a stage waits for its last task."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def load_json(name):
    with open(os.path.join(HERE, name), encoding="utf-8") as f:
        return json.load(f)


# ------------------------------------------------------------------- build

def _build_inputs(root):
    files = []
    for top in (os.path.join(root, "src", "main"), HARNESS):
        for d, subdirs, names in os.walk(top):
            # skip build output; of sbt's project dirs keep only the harness's own
            subdirs[:] = sorted(s for s in subdirs if s != "target"
                                and (s != "project" or d == HARNESS))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties"))]
    return sorted(files)


def spark_jars(root):
    """The Spark jars directory the main build compiles against (its
    `unmanagedBase`), so that the harness builds against the same Spark."""
    with open(os.path.join(root, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no Spark jars directory (unmanagedBase)")
    return m.group(1)


def build(root):
    """Compile graft and the harness with sbt unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    h = hashlib.sha256()
    for path in _build_inputs(root):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp):
        with open(stamp, encoding="utf-8") as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Dgraftbench.spark.jars={spark_jars(root)}", "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850)
    out = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not out:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    classpath = out[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w", encoding="utf-8") as f:
        f.write(f"{digest}\n{classpath}\n")
    return classpath


# -------------------------------------------------------------------- data

def registry_dir():
    """The registry tables, generated once per generator version."""
    d = os.path.join(WORK, f"registry-sf{datagen.REGISTRY_SF}-v{datagen.REGISTRY_VERSION}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.registry_tables(tmp)
        os.replace(tmp, d)
    return d


def plan_for(workload, seed):
    """The harness plan for one run, and the truth its results must match."""
    if workload == "registry_short":
        pool = load_json("short_pool.json")["queries"]
        sample = stats.stratified_sample(
            {n: q["timed_s"] for n, q in pool.items() if n not in CANARIES},
            SHORT_SAMPLE, SAMPLE_SEED)
        queries = stats.seeded_order(CANARIES + sample, seed)
    else:
        d = os.path.join(WORK, "ingest")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        csv = os.path.join(d, "input.csv")
        return {"csv": csv}, datagen.ingest_csv(csv, seed, INGEST_ROWS)
    return ({"data_dir": registry_dir(), "queries": queries},
            load_json("expected.json")["queries"])


def run_harness(classpath, plan, deadline):
    """Run the harness JVM on `plan`; returns (records, launch time in ms)."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    plan_path = os.path.join(run_dir, "plan.json")
    out_path = os.path.join(run_dir, "records.jsonl")
    with open(plan_path, "w", encoding="utf-8") as f:
        json.dump(dict(plan, work_dir=run_dir, cpus=cpus()), f)
    cmd = (["java"] + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{JAVA_HEAP}", f"-Xmx{JAVA_HEAP}", JAVA_GC, f"-Djava.io.tmpdir={run_dir}/tmp",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "graftbench.Main", plan_path, out_path])
    launch_ms = time.time() * 1000.0
    with open(os.path.join(run_dir, "harness.log"), "w", encoding="utf-8") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=None if deadline is None else max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the harness did not finish in time")
    if code != 0 or not os.path.exists(out_path):
        with open(os.path.join(run_dir, "harness.log"), encoding="utf-8") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the harness exited with code {code}")
    return report.load(out_path), launch_ms


# -------------------------------------------------------------------- main

def main():
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    classpath = build(root)
    # the first run of a checkout may spend its time budget on the build
    deadline = max(started, time.time() - 10) + TIME_LIMIT_S
    plan, truth = plan_for(args.workload, args.seed)
    plan.update(workload=args.workload, seconds=args.seconds, trace=bool(args.trace))
    records, launch_ms = run_harness(classpath, plan, deadline)

    ops = report.of_kind(records, "op")
    check = report.check_ingest if args.workload == "ingest_roundtrip" else report.check_registry
    problems = {}
    for op in ops:
        why = check(op, truth)
        if why is not None:
            problems[op["id"]] = why
    if args.trace:
        metrics, extra = report.per_layer(records, cpus())
    else:
        kw = {}
        if args.workload == "ingest_roundtrip":
            kw = {"input_rows": truth["rows"], "input_bytes": truth["bytes"]}
        metrics, extra = report.end_to_end(records, launch_ms, args.workload, **kw)
    extra.update(fail_share=len(problems) / len(ops), problems=problems,
                 queries=plan.get("queries"))

    last = os.path.join(WORK, "last")
    os.makedirs(last, exist_ok=True)
    shutil.copy(os.path.join(WORK, "run", "records.jsonl"),
                os.path.join(last, f"{args.workload}.trace{args.trace}.records.jsonl"))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "report": extra}))
    print(json.dumps({
        "correct": not problems,
        "attempted": len(ops),
        "failed": len(problems),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
