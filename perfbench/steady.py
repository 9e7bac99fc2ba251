#!/usr/bin/env python3
"""Run one workload N times, one seed each, and print how steady it is.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 1]
                                [--trace 0|1]

For every metric: the median, the first and third quartiles (as
``statistics.quantiles(values, n=4)`` gives them), and the spread
(Q3 - Q1) / median, beside the metric's bound from BENCHMARK.json.  With
``--trace 1`` it also makes one traced run and prints the tracing overhead:
the traced run's pass time and read p50 against the untraced medians.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise SystemExit(f"run with seed {seed} exited with {r.returncode}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"run with seed {seed} was not correct: {res}")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for i in range(a.runs):
        res = one_run(a.workload, a.first_seed + i, bench["run_seconds"], 0)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {a.first_seed + i}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"\n{a.workload}: {a.runs} runs")
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}{'ok':>5}")
    steady = True
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        spread = (q3 - q1) / med
        ok = k == "setup_s" or spread <= bounds[k]
        steady &= ok
        print(f"{k:<16}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}{bounds[k]:>7.2f}"
              f"{'yes' if ok else 'NO':>5}")
    if a.trace:
        res = one_run(a.workload, a.first_seed, bench["run_seconds"], 1)["metrics"]
        for k, e2e in (("trace.pass_s", "pass_s"), ("trace.read_p50_ms", "read_p50_ms")):
            med = statistics.median(values[e2e])
            print(f"tracing overhead on {e2e}: traced {res[k]['value']:.4g} vs untraced "
                  f"median {med:.4g} ({(res[k]['value'] - med) / med:+.1%})")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
