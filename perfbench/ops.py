"""Seeded SPARQL operation lists for the endpoint workloads.

Each operation is a dict with the text the engine receives (``form`` and
``text``) and a ``check`` entry that says, in terms of the source tables,
what the answer must be; check.py turns that into the expected answer
with DuckDB.  Constants are drawn from the generated tables.

Updates only touch fresh subjects (``http://g/u<n>``) and predicates that
no read template uses, so template reads keep the base-data answers while
every commit still deepens the served store's plan.
"""
import numpy as np
import pyarrow.parquet as pq

G = "http://g/"
READ_TEMPLATES = ["point", "star", "optional", "range", "group", "path",
                  "topk", "ask", "describe"]
UPDATE_KINDS = ["insert_data", "post_nt", "delete_data", "delete_insert",
                "delete_path"]


def _keys(data_dir):
    cust = pq.read_table(f"{data_dir}/customer.parquet",
                         columns=["c_custkey", "c_nationkey"]).to_pydict()
    return cust["c_custkey"], cust["c_nationkey"]


def read_op(kind, rng, custkeys, nationkeys):
    """One read of template `kind` with constants drawn from `rng`."""
    i = int(rng.integers(0, len(custkeys)))
    c, n = custkeys[i], nationkeys[i]
    seg = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"][int(rng.integers(0, 5))]
    region = int(rng.integers(0, 5))
    if kind == "point":
        return {"form": "select", "text": f"SELECT ?p ?o WHERE {{ <{G}c{c}> ?p ?o }}",
                "check": {"t": kind, "c": c}}
    if kind == "star":
        rname = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"][region]
        return {"form": "select", "text":
                f'SELECT ?cname ?nname WHERE {{ ?c <{G}segment> "{seg}" . '
                f'?c <{G}locatedIn> ?n . ?n <{G}locatedIn> ?r . ?r <{G}name> "{rname}" . '
                f'?c <{G}name> ?cname . ?n <{G}name> ?nname }}',
                "check": {"t": kind, "seg": seg, "region": rname}}
    if kind == "optional":
        price = int(rng.integers(470_000, 495_000))
        return {"form": "select", "text":
                f"SELECT ?name ?o WHERE {{ ?c <{G}locatedIn> <{G}n{n}> . ?c <{G}name> ?name . "
                f"OPTIONAL {{ ?o <{G}by> ?c . ?o <{G}price> ?p . FILTER(?p > {price}) }} }}",
                "check": {"t": kind, "n": n, "price": price}}
    if kind == "range":
        lo = int(rng.integers(-999, 9900))
        return {"form": "select", "text":
                f"SELECT ?c ?b WHERE {{ ?c <{G}acctbal> ?b . FILTER(?b >= {lo} && ?b < {lo + 50}) }}",
                "check": {"t": kind, "lo": lo, "hi": lo + 50}}
    if kind == "group":
        return {"form": "select", "text":
                f'SELECT ?n (COUNT(?c) AS ?cnt) WHERE {{ ?c <{G}segment> "{seg}" . '
                f"?c <{G}locatedIn> ?n }} GROUP BY ?n",
                "check": {"t": kind, "seg": seg}}
    if kind == "path":
        return {"form": "select", "text":
                f"SELECT ?s WHERE {{ ?s <{G}locatedIn>+ <{G}r{region}> }}",
                "check": {"t": kind, "r": region}}
    if kind == "topk":
        return {"form": "select", "text":
                f"SELECT ?c ?b WHERE {{ ?c <{G}locatedIn> <{G}n{n}> . ?c <{G}acctbal> ?b }} "
                f"ORDER BY DESC(?b) ?c LIMIT 5",
                "check": {"t": kind, "n": n}}
    if kind == "ask":
        other = int(rng.integers(0, 25)) if rng.random() < 0.5 else n
        return {"form": "ask", "text": f"ASK {{ <{G}c{c}> <{G}locatedIn> <{G}n{other}> }}",
                "check": {"t": kind, "value": other == n}}
    if kind == "describe":
        return {"form": "describe", "text": f"DESCRIBE <{G}c{c}>",
                "check": {"t": kind, "c": c}}
    raise ValueError(kind)


def _ask(triple, value):
    s, p, o = triple
    return {"form": "ask", "text": f"ASK {{ {s} {p} {o} }}",
            "check": {"t": "ask", "value": value}}


def endpoint_ops(data_dir, seed, reads_per_template, n_updates):
    """The operation list of one pass, ending in ESTCARD.

    The read templates repeat `reads_per_template` times in a fixed order,
    so every seed runs the same shapes at the same commit depths and only
    the constants change.  `n_updates` updates
    are spread evenly through the reads, in the fixed kind order of
    UPDATE_KINDS; each that inserts is followed by an ASK for what it
    inserted (read-your-writes), and the final ESTCARD checks the net
    effect of all of them.  Updates insert, delete and rewrite triples of
    fresh subjects; a model of the live fresh triples gives each check's
    answer and the final ESTCARD delta.
    """
    rng = np.random.default_rng(seed)
    custkeys, nationkeys = _keys(data_dir)
    kinds = READ_TEMPLATES * reads_per_template
    # update k follows read round((k + 1) * reads / updates): evenly spread
    after = {round((k + 1) * len(kinds) / n_updates) - 1 for k in range(n_updates)}
    ops = []
    live = {}  # fresh subject -> set of (p, o) triples as N-Triples terms
    next_id = 0
    updates = 0
    for j, read in enumerate(kinds):
        ops.append(read_op(read, rng, custkeys, nationkeys))
        if j not in after:
            continue
        kind = UPDATE_KINDS[updates % len(UPDATE_KINDS)]
        updates += 1
        tagged = sorted(s for s, t in live.items() if any(p == f"<{G}tag>" for p, _ in t))
        if kind in ("insert_data", "post_nt"):
            s = f"<{G}u{seed}x{next_id}>"
            triples = [(f"<{G}tag>", f'"t{next_id}"'), (f"<{G}note>", f'"n{next_id}"')]
            next_id += 1
            live[s] = set(triples)
            body = " . ".join(f"{s} {p} {o}" for p, o in triples)
            if kind == "insert_data":
                ops.append({"form": "update", "text": f"INSERT DATA {{ {body} }}",
                            "check": {"t": "update", "delta": 2}})
            else:
                ops.append({"form": "post", "text": "\n".join(f"{s} {p} {o} ." for p, o in triples),
                            "check": {"t": "modified", "value": 2, "delta": 2}})
            ops.append(_ask((s, *triples[0]), True))
        elif kind == "delete_data":
            s = tagged[int(rng.integers(0, len(tagged)))]
            p, o = next((p, o) for p, o in sorted(live[s]) if p == f"<{G}tag>")
            live[s].discard((p, o))
            ops.append({"form": "update", "text": f"DELETE DATA {{ {s} {p} {o} }}",
                        "check": {"t": "update", "delta": -1}})
        elif kind == "delete_insert":
            s = tagged[int(rng.integers(0, len(tagged)))]
            p, o = next((p, o) for p, o in sorted(live[s]) if p == f"<{G}tag>")
            live[s].discard((p, o))
            live[s].add((f"<{G}label>", o))
            ops.append({"form": "update", "text":
                        f"DELETE {{ {s} <{G}tag> ?t }} INSERT {{ {s} <{G}label> ?t }} "
                        f"WHERE {{ {s} <{G}tag> ?t }}",
                        "check": {"t": "update", "delta": 0}})
            ops.append(_ask((s, f"<{G}label>", o), True))
        else:
            subjects = sorted(live)
            s = subjects[int(rng.integers(0, len(subjects)))]
            n = len(live.pop(s))
            ops.append({"form": "delete", "text": s,
                        "check": {"t": "modified", "value": n, "delta": -n}})
    delta = sum(len(t) for t in live.values())
    ops.append({"form": "estcard", "text": "", "check": {"t": "estcard", "delta": delta}})
    return ops
