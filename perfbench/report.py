"""Turns the harness's records into the benchmark's metrics and checks.

The harness (harness/src/main/scala/graftbench) writes one JSON record per
line: the session start, each op with its build/exec split and result, each
pass, the contention probes, and, in a traced run, each Spark job, stage and
planned query. Everything here is a pure function of those records.
"""
import json
import statistics

import stats

# ingest step -> the layer it calls into (and the metric of its wall time)
INGEST_LAYERS = {
    "read": ("sources", "sources.read_s"),
    "detect": ("types", "types.detect_s"),
    "cast": ("functions", "functions.cast_s"),
    "dedup_agg": ("operators", "operators.dedup_agg_s"),
    "write_ndjson": ("sources", "sources.write_ndjson_s"),
    "write_csv": ("sources", "sources.write_csv_s"),
}
SELF_LAYERS = ["queries", "Tables", "pipeline", "catalyst", "scheduler", "executor",
               "sources", "types", "functions", "operators"]
# eager actions a query's construction may run, by the method Spark names
# in the job's call site
CUT_METHODS = {"localCheckpoint", "checkpoint"}

# per-layer metrics of a traced run: name -> unit; every value is per pass
# over the workload's ops
LAYER_METRICS = {
    "queries.build_s": "s", "queries.exec_s": "s", "queries.build_jobs": "count",
    "Tables.load_jobs": "count", "Tables.load_s": "s",
    "pipeline.cut_jobs": "count", "pipeline.collect_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "scheduler.jobs": "count", "scheduler.async_jobs": "count",
    "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.stage_wall_s": "s", "scheduler.task_delay_s": "s", "scheduler.core_util": "ratio",
    "executor.task_run_s": "s", "executor.task_cpu_s": "s",
    "executor.shuffle_read_mb": "MB", "executor.shuffle_write_mb": "MB",
    "executor.spill_mb": "MB", "executor.records_read": "count",
    "sources.read_s": "s", "types.detect_s": "s", "functions.cast_s": "s",
    "operators.dedup_agg_s": "s", "sources.write_ndjson_s": "s", "sources.write_csv_s": "s",
    "sources.bytes_written": "bytes",
    "jvm.gc_s": "s", "host.probe_s": "s", "host.loadavg": "load", "host.steal_share": "ratio",
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
    "trace.op_wall_s": "s", "trace.unaccounted_s": "s", "trace.overhead_s": "s",
}


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def of_kind(records, kind):
    return [r for r in records if r["kind"] == kind]


# ------------------------------------------------------------------ checks

def check_registry(op, expected):
    """None if the op's result matches the frozen expectation, else why not."""
    if not op["ok"]:
        return op["error"]
    want = expected.get(op["name"])
    if want is None:
        return "no expected result"
    got = op["result"]
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if "hash" in got and got["hash"] != want["hash"]:
        return f"hash {got['hash']} != {want['hash']}"
    return None


def check_ingest(op, truth):
    """None if the ingest step's result matches the generator's truth."""
    if not op["ok"]:
        return op["error"]
    got, name = op.get("result"), op["name"]
    if name == "read":
        if got["columns"] != list(truth["types"]):
            return f"columns {got['columns']}"
        if "rows" in got and got["rows"] != truth["rows"]:
            return f"rows {got['rows']} != {truth['rows']}"
    elif name == "detect" and got != truth["types"]:
        return f"types {got} != {truth['types']}"
    elif name == "cast" and got and got["rows"] != truth["rows"]:
        return f"rows {got['rows']} != {truth['rows']}"
    elif name == "dedup_agg":
        if got != truth["categories"]:
            return "per-category counts or sums differ"
        if sum(c["n"] for c in got.values()) != truth["distinct_ids"]:
            return "distinct ids differ"
    elif name.startswith("write_") and got["bytes"] <= 0:
        return "nothing written"
    return None


# -------------------------------------------------------------- end to end

def end_to_end(records, launch_ms, workload, input_rows=None, input_bytes=None):
    """(metrics, report) of an untraced run.

    metrics are the BENCHMARK.json end-to-end metrics, defined on every
    workload; report adds the workload-specific views and the contention
    fields that explain a slow run.
    """
    timed = [o for o in of_kind(records, "op") if o["phase"] == "timed"]
    passes = [p for p in of_kind(records, "pass") if not p["traced"]]
    wall = sum(p["wall_s"] for p in passes)
    ops_per_pass = len(timed) / len(passes)
    times = [o["wall_s"] for o in timed]
    timed_start = of_kind(records, "timed_start")[0]["at_ms"]
    end = of_kind(records, "end")[0]
    metrics = {
        "setup_s": ((timed_start - launch_ms) / 1000.0, "s"),
        "ops_per_s": (statistics.median(ops_per_pass / p["wall_s"] for p in passes), "1/s"),
        "op_p50_s": (statistics.median(times), "s"),
        "rss_peak_mb": (end["rss_peak_kb"] / 1024.0, "MB"),
    }
    p90 = stats.supported_percentile(times, 90)
    report = {
        "ops_timed": len(timed), "passes": len(passes), "measured_s": wall,
        "op_s": {o["id"]: round(o["wall_s"], 4) for o in timed},
        "cpu_s_per_op": statistics.median(p["cpu_s"] / ops_per_pass for p in passes),
        "op_p90_s": p90,
        "op_p90_note": None if p90 is not None else
        f"withheld: {len(times)} samples leave fewer than 10 beyond p90",
        "contention": contention(records),
    }
    if workload.startswith("registry"):
        report["queries_per_s"] = metrics["ops_per_s"][0]
    else:
        writes = [o for o in timed if o["name"].startswith("write_")]
        report["rows_per_s"] = statistics.median(input_rows / p["wall_s"] for p in passes)
        report["write_amp"] = (sum(o["result"]["bytes"] for o in writes)
                               / (input_bytes * len(passes)))
    return metrics, report


def contention(records):
    """Compute probe, loadavg and CPU steal at start, middle and end: a run
    whose probe and steal rise with its op times was contended, not slow."""
    probes = {p["at"]: p for p in of_kind(records, "probe")}
    out = {at: {"probe_s": p["probe_s"], "loadavg": p["loadavg"]}
           for at, p in probes.items()}
    if "start" in probes and "end" in probes:
        out["steal_share"] = stats.steal_share(probes["start"]["cpu_jiffies"],
                                               probes["end"]["cpu_jiffies"])
    return out


# ---------------------------------------------------------------- per layer

def _method(callsite):
    return callsite.split(" at ", 1)[0] if " at " in callsite else ""


def _source_file(job):
    frame = job["user_frame"]
    if "(" in frame:
        return frame.rsplit("(", 1)[1].split(":")[0]
    return job["callsite"].rsplit(" at ", 1)[-1].split(":")[0]


def is_async(job):
    """Submitted by Spark on the op's behalf from another thread: an AQE
    map-stage job, or a broadcast/subquery run through the SQL thread pool."""
    return bool(job["async"]) or "withThreadLocalCaptured" in job["callsite"]


def _intervals(jobs):
    return [(j["start_ms"], j["end_ms"]) for j in jobs]


def per_layer(records, cpus):
    """Per-layer metrics of a traced run, per traced pass, plus the
    breakdown of construction jobs by source file."""
    ops = [o for o in of_kind(records, "op") if o["phase"] == "traced"]
    n_pass = len({o["pass"] for o in ops})
    ids = {o["id"] for o in ops}
    ends = {j["job"]: j["end_ms"] for j in of_kind(records, "job_end")}
    jobs = [dict(j, end_ms=ends.get(j["job"], j["start_ms"]))
            for j in of_kind(records, "job") if j["op"] in ids]
    job_ids = {j["job"] for j in jobs}
    stages = [s for s in of_kind(records, "stage") if s["job"] in job_ids]
    plans = of_kind(records, "plan")
    by_op = {i: [] for i in ids}
    for j in jobs:
        by_op[j["op"]].append(j)
    stages_by_job = {}
    for s in stages:
        stages_by_job.setdefault(s["job"], []).append(s)

    m = dict.fromkeys(LAYER_METRICS, 0.0)
    files = {}
    for op in ops:
        start = op["start_ms"]
        end = op["end_ms"]
        build_end = start + op["build_s"] * 1000.0
        build_iv, exec_iv = (start, build_end), (build_end, end)
        op_jobs = by_op[op["id"]]
        build_jobs = [j for j in op_jobs if j["phase"] == "build"]
        exec_jobs = [j for j in op_jobs if j["phase"] != "build"]
        tables = [j for j in build_jobs if j["user_frame"].startswith("graft.Tables")]
        for j in build_jobs:
            kind = ("async" if is_async(j) else "Tables" if j in tables
                    else "cut" if _method(j["callsite"]) in CUT_METHODS else "collect")
            key = f"{kind}:{_source_file(j)}"
            files[key] = files.get(key, 0) + 1
            if kind == "cut":
                m["pipeline.cut_jobs"] += 1
            elif kind == "collect":
                m["pipeline.collect_jobs"] += 1
        m["queries.build_jobs"] += len(build_jobs)
        m["Tables.load_jobs"] += len(tables)
        m["Tables.load_s"] += stats.union_length(
            [stats.clip(i, build_iv) for i in _intervals(tables)]) / 1000.0
        m["scheduler.async_jobs"] += sum(1 for j in op_jobs if is_async(j))

        stage_iv = [(s["start_ms"], s["end_ms"]) for j in exec_jobs
                    for s in stages_by_job.get(j["job"], [])]
        # the planning of the op's own actions: phases that start in its
        # execution window
        phases = [p for plan in plans for p in plan["phases"].items()
                  if exec_iv[0] <= p[1]["start_ms"] < exec_iv[1]]
        for name, ph in phases:
            key = f"catalyst.{name}_s"
            if key in m:
                m[key] += (ph["end_ms"] - ph["start_ms"]) / 1000.0
        phase_iv = [(p["start_ms"], p["end_ms"]) for _, p in phases]
        own = INGEST_LAYERS.get(op["name"], ("queries", None))[0]
        if op["name"] in INGEST_LAYERS:
            m[INGEST_LAYERS[op["name"]][1]] += op["wall_s"]
            if op["name"].startswith("write_"):
                m["sources.bytes_written"] += op["result"]["bytes"]
        else:
            m["queries.build_s"] += op["build_s"]
            m["queries.exec_s"] += op["exec_s"]
        parts = stats.layer_self_times(build_iv, [
            ("Tables", _intervals(tables)),
            ("pipeline", _intervals([j for j in build_jobs if j not in tables]))])
        parts[own] = parts.pop(None)
        exec_parts = stats.layer_self_times(exec_iv, [
            ("catalyst", phase_iv), ("executor", stage_iv), ("scheduler", _intervals(exec_jobs))])
        exec_parts[own] = exec_parts.pop(None)
        for layer, secs in list(parts.items()) + list(exec_parts.items()):
            m[f"self.{layer}_s"] += secs / 1000.0
        m["trace.op_wall_s"] += op["wall_s"]

    m["scheduler.jobs"] = float(len(jobs))
    for s in stages:
        m["scheduler.stages"] += 1
        m["scheduler.tasks"] += s["tasks"]
        m["scheduler.stage_wall_s"] += (s["end_ms"] - s["start_ms"]) / 1000.0
        m["scheduler.task_delay_s"] += s["task_delay_ms"] / 1000.0
        m["executor.task_run_s"] += s["task_run_ms"] / 1000.0
        m["executor.task_cpu_s"] += s["task_cpu_ns"] / 1e9
        m["executor.shuffle_read_mb"] += s["shuffle_read_bytes"] / 1e6
        m["executor.shuffle_write_mb"] += s["shuffle_write_bytes"] / 1e6
        m["executor.spill_mb"] += s["spill_bytes"] / 1e6
        m["executor.records_read"] += s["records_read"]
    passes = of_kind(records, "pass")
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    m["jvm.gc_s"] = sum(p["gc_s"] for p in traced)
    self_sum = sum(m[f"self.{layer}_s"] for layer in SELF_LAYERS)
    m["trace.unaccounted_s"] = m["trace.op_wall_s"] - self_sum
    for k in m:
        m[k] /= max(n_pass, 1)
    if m["trace.op_wall_s"] > 0:
        m["scheduler.core_util"] = m["executor.task_run_s"] / (cpus * m["trace.op_wall_s"])
    m["trace.overhead_s"] = (statistics.mean(p["wall_s"] for p in traced)
                             - statistics.mean(p["wall_s"] for p in untraced))
    cont = contention(records)
    m["host.probe_s"] = statistics.median(
        v["probe_s"] for k, v in cont.items() if k in ("start", "mid", "end"))
    m["host.loadavg"] = max(v["loadavg"] for k, v in cont.items() if k in ("start", "mid", "end"))
    m["host.steal_share"] = cont.get("steal_share", 0.0)
    metrics = {k: (v, LAYER_METRICS[k]) for k, v in m.items()}
    return metrics, {"construction_jobs_by_kind_and_file": dict(sorted(files.items())),
                     "traced_passes": n_pass}
