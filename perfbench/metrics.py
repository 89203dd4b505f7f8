"""Metrics of one run, computed from the file the JVM wrote: `run.json`
gives the end-to-end metrics, `trace.json` the per-layer ones.

Jobs, stages and task metrics arrive tagged `pass|query|phase`, phase
being `build` (jobs run while the registry function builds the frame:
fits, probes, fread) or `exec` (running the built query to its result).
"""
import statistics
from collections import defaultdict

from workloads import MODULES, QUERY_MODULES

HUGE_METHOD_BYTES = 8000  # HotSpot does not JIT-compile larger methods

END_TO_END_UNITS = {
    "setup_s": "s", "first_pass_cpu_s": "s", "first_task_cpu_s": "s",
    "shuffle_mb": "MB", "scan_mb": "MB", "stages": "count",
}

KERNELS = ["plans.BpeishCount", "plans.ChunksFixed", "plans.RepetitionStats",
           "plans.MinHashSignature", "plans.JaccardSim", "Dedup.ngramJaccard"]

PER_LAYER_UNITS = {
    "first_pass_s": "s", "warm_pass_s": "s", "warm_pass_cpu_s": "s",
    "warm_task_cpu_s": "s",
    "first.driver_cpu_ms": "ms", "first.jvm.jit_ms": "ms",
    "first.jvm.gc_ms": "ms",
    "Queries.build_ms": "ms", "first.Queries.build_ms": "ms",
    "first.SessionMemo.build_jobs": "count", "SessionMemo.build_jobs": "count",
    "SessionMemo.cached_mb": "MB", "jvm.retained_heap_mb": "MB",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.idle_ms": "ms", "exec.busy_cores": "cores",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "first.exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.spill_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms",
    "Tables.scan_bytes": "bytes", "Tables.scan_rows": "rows",
    "result.rows": "rows", "Tables.rows_per_result_row": "ratio",
    "codegen.stages": "count", "codegen.max_method_bytes": "bytes",
    "codegen.huge_method_stages": "count",
    "first.codegen.compiles": "count", "codegen.compiles": "count",
    **{f"{k}.ns_per_row": "ns/row" for k in KERNELS},
    **{f"{m}.{x}": u for m in MODULES for x, u in
       [("build_ms", "ms"), ("exec_ms", "ms"), ("task_cpu_ms", "ms"),
        ("shuffle_bytes", "bytes")]},
}

UNITS = {**END_TO_END_UNITS, **PER_LAYER_UNITS}


def totals(run, pass_name, phase=None, queries=None):
    """Task-metric totals over the tags of one pass."""
    tot = defaultdict(int)
    for tag, agg in run["tags"].items():
        p, _, rest = tag.partition("|")
        q, _, ph = rest.partition("|")
        if p != pass_name or (phase and ph != phase):
            continue
        if queries is not None and q not in queries:
            continue
        for k, v in agg.items():
            tot[k] += v
    return tot


def warm_passes(run):
    return [p for p in run["passes"] if p["pass"].startswith("warm")]


def per_query_min(run, passes, value):
    """Sum over the queries of each query's least `value(pass, q)` across
    `passes`. Host steal, neighbours and a JIT still compiling only ever
    add time, so the least is the estimate they move least."""
    by_q = {}
    for p in passes:
        for q in p["queries"]:
            by_q.setdefault(q["name"], []).append(value(p, q))
    return sum(min(v) for v in by_q.values())


def unstolen(p, cpu_s):
    """`cpu_s` of pass `p` less the share of the VM's CPU the host stole
    during the pass. The guest's CPU clocks run on while the host has a
    vCPU descheduled, so a thread's CPU time grows with steal just as its
    wall time does; what is left is the time the program really ran."""
    steal, total = p["steal_jiffies"], p["cpu_jiffies"]
    if steal < 0 or total <= 0:
        return cpu_s
    return cpu_s * (1 - steal / total)


def end_to_end(run):
    first, warm = run["passes"][0], warm_passes(run)
    ft = totals(run, first["pass"])
    wt = [totals(run, p["pass"]) for p in warm]
    med = statistics.median
    return {
        "setup_s": run["setup_s"],
        "first_pass_cpu_s": unstolen(first, first["process_cpu_s"]),
        "first_task_cpu_s": unstolen(first, ft["cpu_ns"] / 1e9),
        "shuffle_mb": med(t["shuffle_write_bytes"] / 1e6 for t in wt),
        "scan_mb": med(t["scan_bytes"] / 1e6 for t in wt),
        "stages": med(t["stages"] for t in wt),
    }


def _idle_ms(run, pass_name, q):
    """Time inside the query's execution when none of its tasks ran."""
    lo, hi = q.get("exec_start_ms"), q.get("exec_end_ms")
    if lo is None:
        return 0.0
    spans = sorted((max(s, lo), min(e, hi)) for s, e in
                   run["task_intervals"].get(f"{pass_name}|{q['name']}|exec", []))
    busy, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return float(hi - lo - busy)


def per_layer(run):
    """Per-layer metrics of the last warm pass (`first.*`: the first pass)."""
    first, last = run["passes"][0], run["passes"][-1]
    name = last["pass"]
    qs = [q for q in last["queries"] if "error" not in q]

    def s(key, queries=qs):
        return float(sum(q.get(key, 0) for q in queries))

    every, ex, bd = totals(run, name), totals(run, name, "exec"), totals(run, name, "build")
    fe, fb = totals(run, first["pass"], "exec"), totals(run, first["pass"], "build")
    exec_ms = s("exec_ms")
    rows = s("rows")
    sizes = [b for per_q in run["codegen"].values() for b in per_q]
    warm = warm_passes(run)
    m = {
        "first_pass_s": first["wall_s"],
        "warm_pass_s": per_query_min(run, warm, lambda p, q: q["wall_ms"] / 1e3),
        "warm_pass_cpu_s": min(unstolen(p, p["process_cpu_s"]) for p in warm),
        "first.driver_cpu_ms": first["driver_cpu_s"] * 1e3,
        "first.jvm.jit_ms": first["jit_ms"],
        "first.jvm.gc_ms": first["gc_ms"],
        "warm_task_cpu_s": per_query_min(
            run, warm,
            lambda p, q: unstolen(
                p, totals(run, p["pass"], queries={q["name"]})["cpu_ns"] / 1e9)),
        "Queries.build_ms": s("build_ms"),
        "first.Queries.build_ms": s("build_ms", first["queries"]),
        "first.SessionMemo.build_jobs": fb["jobs"],
        "SessionMemo.build_jobs": bd["jobs"],
        "SessionMemo.cached_mb": last["cached_bytes"] / 1e6,
        "jvm.retained_heap_mb": run["retained_heap_mb"],
        "catalyst.analysis_ms": s("analysis_ms"),
        "catalyst.optimization_ms": s("optimization_ms"),
        "catalyst.planning_ms": s("planning_ms"),
        "exec.ms": exec_ms,
        "exec.jobs": ex["jobs"],
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "exec.idle_ms": sum(_idle_ms(run, name, q) for q in qs),
        "exec.busy_cores": ex["run_ms"] / exec_ms if exec_ms else 0.0,
        "exec.task_run_ms": ex["run_ms"],
        "exec.task_cpu_ms": ex["cpu_ns"] / 1e6,
        "first.exec.task_cpu_ms": fe["cpu_ns"] / 1e6,
        "exec.gc_ms": ex["gc_ms"],
        "exec.spill_bytes": ex["spill_bytes"],
        "shuffle.write_bytes": every["shuffle_write_bytes"],
        "shuffle.read_bytes": every["shuffle_read_bytes"],
        "shuffle.fetch_wait_ms": every["fetch_wait_ms"],
        "Tables.scan_bytes": every["scan_bytes"],
        "Tables.scan_rows": every["scan_rows"],
        "result.rows": rows,
        "Tables.rows_per_result_row": every["scan_rows"] / rows if rows else 0.0,
        "codegen.stages": len(sizes),
        "codegen.max_method_bytes": max(sizes, default=0),
        "codegen.huge_method_stages": sum(b > HUGE_METHOD_BYTES for b in sizes),
        "first.codegen.compiles": first["codegen_compiles"],
        "codegen.compiles": last["codegen_compiles"],
    }
    for k in KERNELS:
        m[f"{k}.ns_per_row"] = run["kernels"][k]
    for mod in MODULES:
        mq = [q for q in qs if mod in QUERY_MODULES.get(q["name"], ())]
        t = totals(run, name, queries={q["name"] for q in mq})
        m[f"{mod}.build_ms"] = s("build_ms", mq)
        m[f"{mod}.exec_ms"] = s("exec_ms", mq)
        m[f"{mod}.task_cpu_ms"] = t["cpu_ns"] / 1e6
        m[f"{mod}.shuffle_bytes"] = t["shuffle_write_bytes"]
    assert set(m) == set(PER_LAYER_UNITS), set(m) ^ set(PER_LAYER_UNITS)
    return m
