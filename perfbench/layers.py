"""Per-layer metrics and the per-layer report of a traced run.

The harness records one span per call into an engine layer (name, start,
end, parent, operation id) with the Spark jobs, stages and tasks that ran
under it.  Every workload reports every per-layer metric; a layer the
workload does not exercise reports 0.

Aggregation: ``server.*`` and ``sparql.*`` are medians per operation over
the warm passes; ``catalyst.*`` are medians per read (endpoint) or totals
per warm pass (batch); ``exec.*``, suite and family metrics are totals per
warm pass; ``codegen.*`` are totals over the cold pass; ``load.*`` are
medians over the set-up cycles.
"""
import statistics
import sys
from collections import defaultdict

LOAD_STEPS = ["quads", "ftsIndex", "owlTransitive"]  # as in harness Batch.loadSteps
SUITES = ["relational", "pipeline", "rdf", "analytics", "temporal"]
FAMILIES = {"gas": ("graph_", "graphx_", "pipeline_ccnet"),
            "paths": ("rdf_path_",), "rules": ("owl_", "rdfs_")}
EXEC = ["jobs", "stages", "tasks", "task_busy_ms", "sched_delay_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks"]


def _unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name in ("gas.s", "rules.s", "paths.s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name == "failed_ratio":
        return "ratio"
    return "count"


NAMES = (["server.overhead_ms", "server.commit_ms", "server.update_p50_ms",
          "server.update_p95_ms", "sparql.parse_ms", "sparql.build_ms",
          "sparql.build_jobs", "sparql.update_ms", "sparql.results_ms",
          "sparql.results_bytes", "rdf.store_plan_nodes", "rdf.commits",
          "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
          "codegen.compile_ms", "codegen.compiles"]
         + [f"exec.{k}" for k in EXEC]
         + [f"load.{s}_{k}" for s in LOAD_STEPS for k in ("s", "jobs")]
         + ["load.artifact_bytes"]
         + [f"{s}.{k}" for s in SUITES for k in ("build_s", "build_jobs", "action_s", "action_jobs")]
         + [f"{f}.{k}" for f in FAMILIES for k in ("s", "jobs")]
         + [f"forced.{f}_jobs" for f in FAMILIES]
         + ["failed_ratio", "trace.pass_s", "trace.read_p50_ms"])
UNITS = {n: _unit(n) for n in NAMES}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Spans:
    def __init__(self, records):
        self.all = records
        self.by_id = {s["id"]: s for s in records}
        self.kids = defaultdict(list)
        for s in records:
            self.kids[s["parent"]].append(s)

    def ms(self, s):
        return s["end_ms"] - s["start_ms"]

    def incl(self, s, key):
        return s[key] + sum(self.incl(k, key) for k in self.kids[s["id"]])

    def self_ms(self, s):
        return self.ms(s) - sum(self.ms(k) for k in self.kids[s["id"]])

    def pass_of(self, s):
        while s is not None:
            if ":" in s["op"]:
                return s["op"].split(":", 1)[0]
            s = self.by_id.get(s["parent"])
        return None

    def named(self, name, passes=None):
        return [s for s in self.all if s["name"] == name
                and (passes is None or self.pass_of(s) in passes)]


def _family(query):
    return next((f for f, pre in FAMILIES.items() if query.startswith(pre)), None)


def metrics(res, ops, e2e, attempted, failed):
    """Return ({per-layer metric: value}, checks passed)."""
    sp = Spans(res.get("spans", []))
    m = dict.fromkeys(NAMES, 0.0)
    ok = True
    numeric = sorted({p for s in sp.all if (p := sp.pass_of(s)) and p.isdigit()}, key=int)
    warm = set(numeric[1:])
    n_warm = max(1, len(warm))
    primary = "server.request" if ops is not None else "query"

    for s in sp.named(primary, warm):
        for k in EXEC:
            m[f"exec.{k}"] += sp.incl(s, k) / n_warm
    for s in sp.named(primary, {"0"}):
        m["codegen.compile_ms"] += s["compile_ms"]
        m["codegen.compiles"] += s["compiles"]

    if ops is not None:
        form = lambda s: ops[int(s["op"].split(":")[1])]["form"]  # noqa: E731
        req = {s["op"]: s for s in sp.named("server.request", warm)}
        inproc = {s["op"]: s for s in sp.named("inprocess", warm)}
        reads = [o for o, s in req.items() if form(s) in ("select", "ask", "describe", "construct")]
        if reads:
            m["server.overhead_ms"] = (_median([sp.ms(req[o]) for o in reads])
                                       - _median([sp.ms(inproc[o]) for o in reads if o in inproc]))
        upd_ms = [sp.ms(s) for s in req.values() if form(s) in ("update", "post", "delete")]
        if upd_ms:
            m["server.update_p50_ms"] = _median(upd_ms)
            m["server.update_p95_ms"] = sorted(upd_ms)[int(0.95 * (len(upd_ms) - 1))]
        upd = {s["op"]: s for s in sp.named("sparql.update", warm)}
        m["server.commit_ms"] = _median([sp.ms(req[o]) - sp.ms(upd[o]) for o in upd if o in req])
        m["sparql.update_ms"] = _median([sp.ms(s) for s in upd.values()])
        m["sparql.parse_ms"] = _median([sp.ms(s) for s in sp.named("sparql.parse", warm)])
        builds = sp.named("sparql.build", warm)
        m["sparql.build_ms"] = _median([sp.ms(s) for s in builds])
        m["sparql.build_jobs"] = statistics.mean([sp.incl(s, "jobs") for s in builds]) if builds else 0.0
        results = sp.named("sparql.results", warm)
        m["sparql.results_ms"] = _median([sp.ms(s) - sp.incl(s, "job_ms") for s in results])
        m["sparql.results_bytes"] = _median([s["results_bytes"] for s in inproc.values()
                                             if "results_bytes" in s])
        for k in ("analysis", "optimization", "planning"):
            m[f"catalyst.{k}_ms"] = _median([s[f"{k}_ms"] for s in results if f"{k}_ms" in s])
        m["rdf.store_plan_nodes"] = res["store_plan_nodes"]
        m["rdf.commits"] = res["commits"]
        steps = sp.named("load.quads")
        m["load.quads_s"] = _median([sp.ms(s) / 1e3 for s in steps])
        m["load.quads_jobs"] = _median([sp.incl(s, "jobs") for s in steps])
        m["load.artifact_bytes"] = res["catalog_bytes"]
    else:
        for step in LOAD_STEPS:
            ss = sp.named(f"load.{step}")
            m[f"load.{step}_s"] = _median([sp.ms(s) / 1e3 for s in ss])
            m[f"load.{step}_jobs"] = _median([sp.incl(s, "jobs") for s in ss])
        m["load.artifact_bytes"] = res["catalog_bytes_setup"]
        jobs = defaultdict(float)  # (forced?, query) -> jobs over the warm passes
        for s in sp.named("query", warm):
            name = s["op"].split(":", 1)[1]
            forced = name.startswith("forced/")
            name = name.removeprefix("forced/")
            jobs[forced, name] += sp.incl(s, "jobs")
            fam = _family(name)
            if forced:
                m[f"forced.{fam}_jobs"] += sp.incl(s, "jobs") / n_warm
                continue
            suite = res["suites"].get(name, "unknown")
            for k in sp.kids[s["id"]]:
                part = k["name"].split(".", 1)[1]  # build | action
                m[f"{suite}.{part}_s"] += sp.ms(k) / 1e3 / n_warm
                m[f"{suite}.{part}_jobs"] += sp.incl(k, "jobs") / n_warm
                if part == "action":
                    for ph in ("analysis", "optimization", "planning"):
                        m[f"catalyst.{ph}_ms"] += k.get(f"{ph}_ms", 0) / n_warm
            if fam:
                m[f"{fam}.s"] += sp.ms(s) / 1e3 / n_warm
                m[f"{fam}.jobs"] += sp.incl(s, "jobs") / n_warm
        # The forced run of a query must launch more jobs than its default
        # run: otherwise the bounds no longer select the distributed loops.
        for (forced, name), n in jobs.items():
            if forced and n <= jobs[False, name]:
                print(f"[perfbench] forced {name} ran {n:.0f} jobs, not more than "
                      f"the default path's {jobs[False, name]:.0f}", file=sys.stderr)
                ok = False
    m["failed_ratio"] = failed / attempted
    # the endpoint's in-process replays are not part of the traced pass
    m["trace.pass_s"] = e2e["pass_s"] - sum(
        sp.ms(s) for s in sp.named("inprocess", warm)) / 1e3 / n_warm
    m["trace.read_p50_ms"] = e2e["read_p50_ms"]
    return m, ok


def report(workload, res, m):
    """The per-layer table: span totals with self time, then the metrics."""
    sp = Spans(res.get("spans", []))
    agg = defaultdict(lambda: [0, 0.0, 0.0, 0.0, 0.0])
    for s in sp.all:
        a = agg[s["name"]]
        a[0] += 1
        a[1] += sp.ms(s)
        a[2] += sp.self_ms(s)
        a[3] += s["jobs"]
        a[4] += s["compile_ms"]
    lines = [f"== {workload}: spans (all passes) ==",
             f"{'span':<28}{'count':>7}{'total ms':>12}{'self ms':>12}{'own jobs':>10}{'compile ms':>12}"]
    for name, (n, tot, slf, jobs, comp) in sorted(agg.items(), key=lambda kv: -kv[1][1]):
        lines.append(f"{name:<28}{n:>7}{tot:>12.1f}{slf:>12.1f}{jobs:>10.0f}{comp:>12.1f}")
    if "queries" in res:
        lines += ["", "== batch passes: construction / final action / Catalyst / compile ==",
                  f"{'pass':<8}{'build s':>9}{'build jobs':>12}{'action s':>10}{'action jobs':>13}"
                  f"{'catalyst ms':>13}{'compile s':>11}"]
        for p in sorted({sp.pass_of(s) for s in sp.named("query")}, key=lambda x: (not x.isdigit(), x)):
            qs = sp.named("query", {p})
            parts = [k for s in qs for k in sp.kids[s["id"]]]
            b = [k for k in parts if k["name"].endswith(".build")]
            a = [k for k in parts if k["name"].endswith(".action")]
            cat = sum(k.get(f"{ph}_ms", 0) for k in a for ph in ("analysis", "optimization", "planning"))
            lines.append(f"{p:<8}{sum(sp.ms(k) for k in b) / 1e3:>9.2f}"
                         f"{sum(sp.incl(k, 'jobs') for k in b):>12.0f}"
                         f"{sum(sp.ms(k) for k in a) / 1e3:>10.2f}"
                         f"{sum(sp.incl(k, 'jobs') for k in a):>13.0f}{cat:>13.0f}"
                         f"{sum(s['compile_ms'] for s in qs) / 1e3:>11.2f}")
    lines += ["", "== per-layer metrics =="]
    lines += [f"{k:<32}{v:>16.3f} {UNITS[k]}" for k, v in m.items()]
    return "\n".join(lines)
