#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/test_bench.py            # all, about three minutes
    python3 perfbench/test_bench.py -k Fast    # no JVM, seconds

Fast: seeded inputs are reproducible, and failures are counted and kept
out of the latencies.  Jvm: every generated query and update parses in the
engine, and a run with one injected failing operation and one injected
wrong answer reports both as failed.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import ops as opgen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(run.WORK, "test")


def data(seed):
    return gen.write_tables(os.path.join(SCRATCH, f"data-{seed}"), 0.001, seed)


def digest(d):
    h = hashlib.sha256()
    for t in check.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def op_list(seed):
    return opgen.endpoint_ops(data(seed), seed, run.READS_PER_TEMPLATE, run.UPDATES_PER_PASS)


class Fast(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a = digest(data(5))
        shutil.rmtree(os.path.join(SCRATCH, "data-5"))
        self.assertEqual(a, digest(data(5)))
        self.assertNotEqual(a, digest(data(6)))
        self.assertEqual(json.dumps(op_list(5)).encode(), json.dumps(op_list(5)).encode())

    def test_other_seed_other_constants(self):
        a, b = op_list(5), op_list(6)
        self.assertEqual([o["form"] for o in a], [o["form"] for o in b])
        self.assertNotEqual([o["text"] for o in a], [o["text"] for o in b])

    def test_every_insert_is_checked(self):
        ops = op_list(5)
        ups = [i for i, o in enumerate(ops) if o["form"] in ("update", "post", "delete")]
        self.assertEqual(len(ups), run.UPDATES_PER_PASS)
        for i in ups:
            if ops[i]["check"]["delta"] > 0 or "INSERT" in ops[i]["text"]:
                self.assertEqual(ops[i + 1]["form"], "ask")
        self.assertEqual(ops[-1]["form"], "estcard")

    def test_failures_counted_and_not_timed(self):
        d = data(5)
        oracle = check.Oracle(d)
        sql = "SELECT c_custkey FROM customer"
        n = oracle.row_count(sql)
        queries = [{"op": f"{p}:q{i}", "name": f"q{i}", "ms": 100.0 + i, "rows": n, "error": None}
                   for p in (0, 1) for i in range(20)]
        queries[25] = dict(queries[25], error="boom", rows=-1, ms=1e9)    # throws
        queries[26] = dict(queries[26], rows=n + 1, ms=1e9)               # wrong answer
        res = {"queries": queries, "oracle_sql": {f"q{i}": sql for i in range(20)},
               "load_steps": [], "passes": 2, "pass_0_s": 2.0, "pass_1_s": 2.0,
               "session_s": 1.0, "load_s": 1.0, "catalog_bytes": 1, "heap_live_mb": 1.0}
        m, attempted, failed = run.batch_metrics(res, oracle, d)
        self.assertEqual((attempted, failed), (40, 2))
        self.assertLess(m["read_p95_ms"], 200)
        self.assertAlmostEqual(m["ops_per_s"], 18 / 2.0)


class Jvm(unittest.TestCase):
    def test_generated_operations_parse(self):
        cp = run.build()
        for seed in (1, 2, 3):
            rd = os.path.join(SCRATCH, f"validate-{seed}")
            os.makedirs(rd, exist_ok=True)
            ops = op_list(seed)
            spec = {"kind": "validate", "cores": 1, "trace": 0, "out": os.path.join(rd, "out.json"),
                    "ops": [{"form": o["form"], "text": o["text"]} for o in ops]}
            res = run.run_harness(cp, spec, rd, time.time() + 170)
            bad = [(o["text"], e) for o, e in zip(ops, res["errors"]) if e is not None]
            self.assertEqual(bad, [])

    def test_injected_failure_and_wrong_answer_are_counted(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            "endpoint_mixed", "--seed", "3", "--seconds", "1", "--trace", "0",
                            "--inject", "1"], stdout=subprocess.PIPE, text=True, check=True)
        res = json.loads(r.stdout.strip().splitlines()[-1])
        # a cold and a warm pass, each with the two injected operations
        self.assertEqual(res["failed"], 4)
        self.assertFalse(res["correct"])
        self.assertEqual(set(res["metrics"]), set(run.E2E_UNITS))


if __name__ == "__main__":
    unittest.main()
