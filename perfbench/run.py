#!/usr/bin/env python3
"""Run one benchmark workload end to end and print its metrics.

    python3 perfbench/run.py --workload relational --seed 42 --seconds 6 --trace 0

Builds the program and the harness when a source is newer than the last
build, prepares the seed's input tables, runs one JVM (session start-up,
a first pass and warm passes over the workload's registry queries),
checks every query's full result against DuckDB and prints, as the last
line of standard output, one JSON object with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics untraced, per-layer metrics
with `--trace 1`).

    python3 perfbench/run.py --rebuild-oracle-cache

recomputes the DuckDB side of the check for every workload.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import check  # noqa: E402
import metrics  # noqa: E402
from workloads import DEFAULT_SEED, TESTDATA, WORKLOADS  # noqa: E402

BUILD_DIR = os.path.join(HERE, ".build")
CACHE_DIR = os.path.join(HERE, ".cache")
ORACLE_CACHE = os.path.join(CACHE_DIR, "oracle")
OUT_DIR = os.path.join(HERE, "out")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")

HEAP = "3g"
# --seconds buys one warm pass per SECONDS_PER_WARM_PASS (at least 2). The
# count must not depend on how fast the program runs: warm metrics take
# each query's least time over the passes, and more passes would lower it.
SECONDS_PER_WARM_PASS = 3
RUN_DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return files


def ensure_built():
    """Compile with sbt when a source is newer than the last build; return
    the runtime classpath sbt exported then."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {ROOT}/src/main/scala")
    newest = max(os.path.getmtime(f) for f in _sources())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        with open(CLASSPATH) as f:
            return f.read().strip()
    log("building (sources newer than the last build)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]))
    started = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if l.startswith("/")][-1].strip()
    log(f"built in {time.time() - started:.1f} s")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH + ".tmp", "w") as f:
        f.write(cp)
    os.replace(CLASSPATH + ".tmp", CLASSPATH)
    return cp


def java_cmd(cp, args, out):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
             f"-Djava.io.tmpdir={tmp}", "-Dderby.system.home=" + tmp,
             "-cp", cp, "perfbench.Main"] + args)


def oracle_sql(cp, queries):
    out = os.path.join(OUT_DIR, f"oracles-{os.getpid()}")
    os.makedirs(out, exist_ok=True)
    try:
        subprocess.run(java_cmd(cp, ["--queries", ",".join(queries), "--out", out,
                                     "--oracles-only", "1"], out),
                       check=True, stdin=subprocess.DEVNULL, timeout=120,
                       stdout=subprocess.DEVNULL)
        with open(os.path.join(out, "oracles.json")) as f:
            return json.load(f)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def fill_oracle_cache(cp):
    """DuckDB side of the check for every workload on the default seed's
    tables (any other seed permutes the same files, so it shares them)."""
    names = [q for w in WORKLOADS.values() for q in w["queries"]]
    sqls = oracle_sql(cp, names)
    for w in WORKLOADS.values():
        cache = check.OracleCache(ORACLE_CACHE, data_dir(w["sf"], DEFAULT_SEED))
        for q in w["queries"]:
            if sqls.get(q) is None:
                fail(f"{q} has no oracle SQL")
            t = time.time()
            cache.get(sqls[q])
            log(f"oracle {q}: {time.time() - t:.1f} s")


# ---------------------------------------------------------------- inputs

def _splitmix64(x):
    import numpy as np
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def data_dir(sf, seed):
    """The seed's input tables: the test data as it is for the default
    seed, otherwise a cached copy of it with every table's rows in an
    order drawn from the seed, written with the same parquet writer and
    layout (one snappy row group) as the originals."""
    src = os.path.join(TESTDATA, sf)
    if not os.path.isdir(src):
        fail(f"test data not found: {src}")
    if seed == DEFAULT_SEED:
        return src
    dst = os.path.join(CACHE_DIR, "data", f"{sf}-seed{seed}")
    if os.path.exists(os.path.join(dst, "source.json")):
        return dst
    import numpy as np
    import pyarrow.parquet as pq
    tmp = dst + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ids = {}
    for t in check.TABLES:
        path = os.path.join(src, f"{t}.parquet")
        ids[t] = check.file_sha256(path)
        table = pq.read_table(path)
        n = table.num_rows
        keys = _splitmix64(np.arange(n, dtype=np.uint64)
                           ^ _splitmix64(np.full(n, seed % 2**64, dtype=np.uint64)))
        pq.write_table(table.take(np.argsort(keys, kind="stable")),
                       os.path.join(tmp, f"{t}.parquet"),
                       compression="snappy", row_group_size=max(n, 1))
    with open(os.path.join(tmp, "source.json"), "w") as f:
        json.dump(ids, f)
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp, dst)
    return dst


# ---------------------------------------------------------------- run

def run_jvm(cp, workload, data, seconds, trace, out):
    w = WORKLOADS[workload]
    args = ["--sf-dir", data, "--tables", ",".join(w["tables"]),
            "--queries", ",".join(w["queries"]),
            "--out", out,
            "--warm-passes", str(max(2, round(seconds / SECONDS_PER_WARM_PASS))),
            "--trace", str(trace)]
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        # set-up is timed from here, the moment the JVM is started
        cmd = java_cmd(cp, ["--t0-ms", str(int(time.time() * 1000))] + args, out)
        p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=logf, stderr=logf)
        try:
            rc = p.wait(timeout=RUN_DEADLINE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM exceeded {RUN_DEADLINE_S} s; see {out}/jvm.log")
    if rc != 0:
        fail(f"JVM exited with {rc}; see {out}/jvm.log")
    with open(os.path.join(out, "trace.json" if trace else "run.json")) as f:
        return json.load(f)


def check_results(run, data, out):
    """Names of the queries that threw, returned a result that differs from
    the oracle's, or counted another number of rows in a warm pass."""
    cache = check.OracleCache(ORACLE_CACHE, data)
    con = check.connect(data)
    failed = {}
    for p in run["passes"]:
        for q in p["queries"]:
            if "error" in q:
                failed.setdefault(q["name"], f"{p['pass']}: {q['error']}")
    for name in run["queries"]:
        if name in failed:
            continue
        sql = run["oracles"].get(name)
        if sql is None:
            failed[name] = "no oracle SQL"
            continue
        try:
            oracle = cache.get(sql)
            spark = check.result_digest(con, os.path.join(out, "results", name))
        except duckdb.Error as e:  # oracle error, or result files missing
            failed[name] = f"check could not run: {e}"
            continue
        diff = check.compare(oracle, spark)
        if diff is None:
            counts = {p["pass"]: q["rows"] for p in run["passes"]
                      for q in p["queries"] if q["name"] == name and "rows" in q}
            wrong = {k: v for k, v in counts.items() if v != oracle["rows"]}
            if wrong:
                diff = f"warm rows {wrong} != oracle rows {oracle['rows']}"
        if diff is not None:
            failed[name] = diff
    for name, why in failed.items():
        log(f"FAILED {name}: {why}")
    return failed


def rebuild_oracle_cache():
    cp = ensure_built()
    shutil.rmtree(ORACLE_CACHE, ignore_errors=True)
    fill_oracle_cache(cp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rebuild-oracle-cache", action="store_true")
    a = ap.parse_args()
    if a.rebuild_oracle_cache:
        rebuild_oracle_cache()
        return
    if a.workload is None:
        ap.error("--workload is required")
    cp = ensure_built()
    if not os.path.isdir(ORACLE_CACHE):
        fill_oracle_cache(cp)
    w = WORKLOADS[a.workload]
    data = data_dir(w["sf"], a.seed)
    out = os.path.join(OUT_DIR, f"{a.workload}-seed{a.seed}-trace{a.trace}-"
                                f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    os.makedirs(out)
    try:
        run = run_jvm(cp, a.workload, data, a.seconds, a.trace, out)
        failed = check_results(run, data, out)
    finally:
        for d in ("results", "spark-local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    values = (metrics.per_layer(run) if a.trace
              else metrics.end_to_end(run))
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump({"failed": failed, "metrics": values}, f, indent=1)
    units = metrics.UNITS
    # `correct` speaks of the queries that did not fail; a wrong result is
    # one of the `failed`
    print(json.dumps({
        "correct": True,
        "attempted": len(run["queries"]),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
