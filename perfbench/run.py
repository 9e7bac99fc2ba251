#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (sbt, once per source
state), generates the seeded inputs, runs the workload in one JVM, checks
every answer against DuckDB, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (and a
per-layer table before the JSON line).  See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import ops as opgen  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
CORES = min(4, os.cpu_count() or 1)
RUN_TIMEOUT_S = 170

# Scale factor of the generated tables.
SF = 0.01
# endpoint_mixed: reads per read template and updates per pass.
READS_PER_TEMPLATE = 1
UPDATES_PER_PASS = 5
SETUP_REPEATS = 3

# analytics_batch: a fixed cross-section of SparkEntry.queries, every entry
# with a DuckDB oracle: each suite, and the layers the queries run through
# (search, gas, sparql paths, rules, pipeline operators, functions).
ANALYTICS_QUERIES = [
    "join_star_agg", "events_sessionize", "fts_bm25", "text_token_stats", "ann_topk",
    "graph_bfs", "rdf_path_plus", "owl_transitive_locatedin",
]
# Run again at the end of each pass with the driver-local bounds at 0, so
# the distributed superstep, closure and OWL loops are measured too (one
# query per family: gas, paths, rules).
FORCED_QUERIES = ["graph_bfs", "rdf_path_plus", "owl_transitive_locatedin"]
ENDPOINT_TABLES = ["customer", "nation", "region", "orders"]

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
             "read_p50_ms": "ms", "read_p95_ms": "ms", "ops_per_s": "1/s",
             "space_amp": "ratio", "heap_live_mb": "MB"}
READ_FORMS = {"select", "ask", "describe", "construct", "estcard"}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BenchError("engine sources (src/main/scala) not found")
    own = sorted(glob.glob(os.path.join(HARNESS, "src", "**", "*.scala"), recursive=True))
    return engine + own + [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
                           os.path.join(HARNESS, "project", "build.properties")]


def build():
    """Compile engine + harness with sbt unless this source state is built;
    return the runtime classpath."""
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(HARNESS, "target", "perfbench-classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st["sources"] == digest:
            return st["classpath"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
        + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}"
    log("building engine and harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=850)
    classes = os.path.join(HARNESS, "target", "scala-2.13", "classes")
    cp = [l for l in r.stdout.splitlines() if l.startswith(classes)]
    if r.returncode != 0 or not cp:
        sys.stderr.write(r.stdout[-4000:])
        raise BenchError("sbt build failed")
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def run_harness(cp, spec, run_dir, deadline):
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Harness", spec_path]
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError("harness timed out")
    if p.returncode != 0 or not os.path.exists(spec["out"]):
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"harness exited with {p.returncode}")
    with open(spec["out"]) as f:
        return json.load(f)


# -------------------------------------------------------------- metrics

def pct(values, q):
    """Percentile with linear interpolation between closest ranks."""
    v = sorted(values)
    if not v:
        raise BenchError("no successful samples")
    k = (len(v) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def source_bytes(data_dir, tables):
    return sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) for t in tables)


def endpoint_metrics(res, ops, oracle, data_dir):
    """End-to-end metrics, attempted and failed counts of an endpoint run."""
    recs = res["ops"]
    oks = [check.answer_ok(oracle, ops[r["i"]], r["status"], r["body"]) for r in recs]
    warm_passes = range(1, res["passes"])
    reads = [r["ms"] for r, ok in zip(recs, oks)
             if ok and r["pass"] >= 1 and ops[r["i"]]["form"] in READ_FORMS]
    ok_warm = sum(1 for r, ok in zip(recs, oks) if ok and r["pass"] >= 1)
    warm_s = [res[f"pass_{p}_s"] for p in warm_passes]
    m = {"setup_s": res["session_s"] + statistics.median(res["setup_cycles_s"]),
         "cold_pass_s": res["pass_0_s"],
         "pass_s": statistics.median(warm_s),
         "read_p50_ms": pct(reads, 50), "read_p95_ms": pct(reads, 95),
         "ops_per_s": ok_warm / sum(warm_s),
         "space_amp": res["catalog_bytes"] / source_bytes(data_dir, ENDPOINT_TABLES),
         "heap_live_mb": res["heap_live_mb"]}
    return m, len(recs), len(recs) - sum(oks)


def batch_metrics(res, oracle, data_dir, inject_wrong=None):
    """End-to-end metrics, attempted and failed counts of a batch run.
    `inject_wrong` names a query whose expected row count is falsified."""
    expected = {n: oracle.row_count(sql) for n, sql in res["oracle_sql"].items()}
    if inject_wrong:
        expected[inject_wrong] += 1
    recs = res["queries"]
    oks = [q["error"] is None and q["rows"] == expected.get(q["name"]) for q in recs]
    warm = [(q, ok) for q, ok in zip(recs, oks) if not q["op"].startswith("0:")]
    reads = [q["ms"] for q, ok in warm if ok]
    warm_s = [res[f"pass_{p}_s"] for p in range(1, res["passes"])]
    failed_steps = [s for s in res["load_steps"] if s["error"] is not None]
    for s in failed_steps:
        log(f"load step {s['name']} FAILED: {s['error']}")
    m = {"setup_s": res["session_s"] + res["load_s"],
         "cold_pass_s": res["pass_0_s"],
         "pass_s": statistics.median(warm_s),
         "read_p50_ms": pct(reads, 50), "read_p95_ms": pct(reads, 95),
         "ops_per_s": len(reads) / sum(warm_s),
         "space_amp": res["catalog_bytes"] / source_bytes(data_dir, check.TABLES),
         "heap_live_mb": res["heap_live_mb"]}
    attempted = len(recs) + len(res["load_steps"])
    failed = len(recs) - sum(oks) + len(failed_steps)
    return m, attempted, failed


# ---------------------------------------------------------------- main

def workload_spec(workload, data_dir, seconds, trace, seed, inject):
    spec = {"cores": CORES, "data": data_dir, "seconds": seconds, "trace": trace}
    ops = None
    if workload == "endpoint_mixed":
        ops = opgen.endpoint_ops(data_dir, seed, READS_PER_TEMPLATE, UPDATES_PER_PASS)
        if inject:
            ops = inject_endpoint(ops)
        spec.update(kind="endpoint", setup_repeats=SETUP_REPEATS,
                    ops=[{"form": o["form"], "text": o["text"]} for o in ops])
    else:
        queries = ANALYTICS_QUERIES + (["perfbench_no_such_query"] if inject else [])
        spec.update(kind="batch", queries=queries, forced=FORCED_QUERIES)
    return spec, ops


def inject_endpoint(ops):
    """One operation the server must reject, and one whose expected answer
    is deliberately wrong (the first point lookup, checked against another
    customer's row); both must count as failed."""
    c = ops[0]["check"]["c"]
    wrong = dict(ops[0], check=dict(ops[0]["check"], c=c - 1 if c else c + 1))
    bad = {"form": "select", "text": "SELECT WHERE {", "check": {"t": "update"}}
    return [ops[0], bad, wrong] + ops[1:]


WORKLOADS = ["endpoint_mixed", "analytics_batch"]


def run(workload, seed, seconds, trace, inject=False):
    t_start = time.time()
    deadline = t_start + RUN_TIMEOUT_S
    cp = build()
    if time.time() - t_start > 30:  # a fresh build: give the run its full time
        deadline = time.time() + RUN_TIMEOUT_S
    data_dir = gen.write_tables(os.path.join(WORK, "data", f"sf{SF}-seed{seed}"), SF, seed)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        spec, ops = workload_spec(workload, data_dir, seconds, trace, seed, inject)
        spec["out"] = os.path.join(run_dir, "out.json")
        res = run_harness(cp, spec, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    oracle = check.Oracle(data_dir)
    if ops is not None:
        m, attempted, failed = endpoint_metrics(res, ops, oracle, data_dir)
    else:
        m, attempted, failed = batch_metrics(
            res, oracle, data_dir, inject_wrong=spec["queries"][0] if inject else None)
    correct = failed == 0
    if trace:
        lm, ok_checks = layers.metrics(res, ops, m, attempted, failed)
        correct = correct and ok_checks
        print(layers.report(workload, res, lm))
        trace_path = os.path.join(WORK, f"trace-{workload}-seed{seed}.jsonl")
        with open(trace_path, "w") as f:
            for s in res.get("spans", []):
                f.write(json.dumps(s) + "\n")
        log(f"spans written to {os.path.relpath(trace_path, ROOT)}")
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in lm.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in m.items()}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", type=int, choices=[0, 1], default=0,
                    help="add one failing and one wrongly-checked operation (self-test)")
    a = ap.parse_args(argv)
    try:
        result = run(a.workload, a.seed, a.seconds, a.trace, bool(a.inject))
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
