"""Expected answers from DuckDB over the source parquet, and answer checks.

Nothing here goes through the engine: the expected answer of every
endpoint operation is computed from the source tables with plain SQL, and
each batch query's row count comes from the engine's own DuckDB oracle SQL
(``SparkEntry.oracleSql``) run here.  All of it runs after the timed run.
"""
import json
import re
from decimal import Decimal

import duckdb

G = "http://g/"
XSD_DECIMAL = "http://www.w3.org/2001/XMLSchema#decimal"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_decimal(d):
    """The engine's lexical form of a decimal(18,2) value: no trailing zeros."""
    s = f"{Decimal(d):.2f}"
    s = re.sub(r"(\.\d*?)0+$", r"\1", s)
    return re.sub(r"\.$", "", s)


class Oracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._cache = {}

    def rows(self, sql, params=()):
        return self.con.execute(sql, list(params)).fetchall()

    def base_quads(self):
        return self.rows(
            "SELECT (SELECT count(c_name) + count(c_mktsegment) + count(c_acctbal) + "
            "count(c_nationkey) FROM customer) + (SELECT count(n_name) + "
            "count(n_regionkey) FROM nation) + (SELECT count(r_name) FROM region) + "
            "(SELECT count(o_custkey) + count(o_totalprice) FROM orders)")[0][0]

    def row_count(self, sql):
        return self.rows(f"SELECT count(*) FROM ({sql})")[0][0]

    def expected(self, check):
        """The expected answer for an endpoint operation's check entry."""
        key = json.dumps(check, sort_keys=True)
        if key not in self._cache:
            self._cache[key] = self._expected(check)
        return self._cache[key]

    def _expected(self, ck):
        t = ck["t"]
        money = "CAST({} AS DECIMAL(18,2))"
        if t == "point":
            (name, seg, bal, nk), = self.rows(
                f"SELECT c_name, c_mktsegment, {money.format('c_acctbal')}, c_nationkey "
                "FROM customer WHERE c_custkey = ?", [ck["c"]])
            return sorted([(G + "name", name), (G + "segment", seg),
                           (G + "acctbal", canon_decimal(bal)), (G + "locatedIn", f"{G}n{nk}")])
        if t == "star":
            return sorted(self.rows(
                "SELECT c_name, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey "
                "JOIN region ON n_regionkey = r_regionkey WHERE c_mktsegment = ? AND r_name = ?",
                [ck["seg"], ck["region"]]))
        if t == "optional":
            rows = self.rows(
                f"SELECT c_name, o_orderkey FROM customer LEFT JOIN orders ON o_custkey = c_custkey "
                f"AND {money.format('o_totalprice')} > ? WHERE c_nationkey = ?",
                [ck["price"], ck["n"]])
            return sorted(((n, None if o is None else f"{G}o{o}") for n, o in rows),
                          key=lambda r: (r[0], r[1] or ""))
        if t == "range":
            rows = self.rows(
                f"SELECT c_custkey, {money.format('c_acctbal')} AS b FROM customer "
                "WHERE b >= ? AND b < ?", [ck["lo"], ck["hi"]])
            return sorted((f"{G}c{k}", canon_decimal(b)) for k, b in rows)
        if t == "group":
            rows = self.rows("SELECT c_nationkey, count(*) FROM customer WHERE c_mktsegment = ? "
                             "GROUP BY 1", [ck["seg"]])
            return sorted((f"{G}n{k}", str(n)) for k, n in rows)
        if t == "path":
            nations = [k for k, in self.rows(
                "SELECT n_nationkey FROM nation WHERE n_regionkey = ?", [ck["r"]])]
            custs = [k for k, in self.rows(
                "SELECT c_custkey FROM customer JOIN nation ON c_nationkey = n_nationkey "
                "WHERE n_regionkey = ?", [ck["r"]])]
            return sorted([(f"{G}n{k}",) for k in nations] + [(f"{G}c{k}",) for k in custs])
        if t == "topk":
            rows = self.rows(
                f"SELECT c_custkey, {money.format('c_acctbal')} AS b FROM customer "
                "WHERE c_nationkey = ? ORDER BY b DESC, 'http://g/c' || c_custkey LIMIT 5",
                [ck["n"]])
            return [(f"{G}c{k}", canon_decimal(b)) for k, b in rows]
        if t == "describe":
            c = ck["c"]
            (name, seg, bal, nk), = self.rows(
                f"SELECT c_name, c_mktsegment, {money.format('c_acctbal')}, c_nationkey "
                "FROM customer WHERE c_custkey = ?", [c])
            s = f"<{G}c{c}>"
            lines = {f'{s} <{G}name> "{name}" .', f'{s} <{G}segment> "{seg}" .',
                     f'{s} <{G}acctbal> "{canon_decimal(bal)}"^^<{XSD_DECIMAL}> .',
                     f"{s} <{G}locatedIn> <{G}n{nk}> ."}
            lines |= {f"<{G}o{o}> <{G}by> {s} ." for o, in self.rows(
                "SELECT o_orderkey FROM orders WHERE o_custkey = ?", [c])}
            return sorted(lines)
        if t == "estcard":
            return self.base_quads() + ck["delta"]
        return ck.get("value")


def _bindings(body):
    doc = json.loads(body)
    names = doc["head"]["vars"]
    return [tuple(b.get(v, {}).get("value") for v in names)
            for b in doc["results"]["bindings"]]


def answer_ok(oracle, op, status, body):
    """True when an endpoint operation succeeded with the expected answer."""
    if not 200 <= status < 300:
        return False
    ck = op["check"]
    want = oracle.expected(ck)
    t = ck["t"]
    try:
        if t == "update":
            return True
        if t == "modified":
            m = re.search(r'modified="(\d+)"', body)
            return m is not None and int(m.group(1)) == want
        if t == "ask":
            return json.loads(body)["boolean"] is want
        if t == "estcard":
            return json.loads(body)["rangeCount"] == want
        if t == "describe":
            return sorted(set(l for l in body.split("\n") if l)) == want
        got = _bindings(body)
        if t == "topk":
            return got == want
        if t == "optional":
            return sorted(got, key=lambda r: (r[0], r[1] or "")) == want
        return sorted(got) == want
    except (ValueError, KeyError, TypeError):
        return False
