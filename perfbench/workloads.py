"""The seeded request mix of ``api_serve``, its expected answers (computed
by DuckDB over the same generated tables, never by the engine under test),
and the reply decoding and comparison the load generator uses.

A request is a JSON-able dict:

    {"id": int, "proto": "http" | "pg" | "flight", "kind": str,
     "method": "GET" | "POST", "path": str, "body": str, "accept": str,
     "sql": str, "expect": {...}}

``expect`` is ``{"rows": [[...], ...], "columns": [...]}`` for a result set,
``{"text": str}`` for a KV value, ``{"fields": [...]}`` for a schema read,
or ``{}`` for a write (checked at the end of the run instead).
"""

from __future__ import annotations

import csv
import io
import json
import math
from urllib.parse import quote

import numpy as np

ACCEPT = {
    "json": "application/json",
    "arrow": "application/vnd.apache.arrow.stream",
    "csv": "application/csv",
}

# Reads touch only orders with o_orderkey below half the table; the writer
# updates and deletes above it and inserts new keys past the end, so every
# read has one right answer while each commit still invalidates the view.
# {k} is a key drawn per request; {lo} bounds keys to the read-only half.
POINT_SQL = (
    "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM orders "
    "WHERE o_orderkey BETWEEN {lo} AND {lo} + 40 GROUP BY o_orderstatus ORDER BY o_orderstatus",
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
    "avg(l_discount) AS disc FROM lineitem WHERE l_orderkey BETWEEN {k} AND {k} + 200 "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "SELECT n.n_name, count(*) AS n FROM customer c JOIN nation n "
    "ON c.c_nationkey = n.n_nationkey WHERE c.c_custkey BETWEEN {k} AND {k} + 300 "
    "GROUP BY n.n_name ORDER BY n.n_name",
    "SELECT p.p_type, count(*) AS n, sum(l.l_extendedprice) AS rev FROM lineitem l "
    "JOIN part p ON l.l_partkey = p.p_partkey WHERE l.l_orderkey BETWEEN {k} AND {k} + 100 "
    "GROUP BY p.p_type ORDER BY p.p_type",
    "SELECT r.r_name, count(*) AS n, sum(s.s_acctbal) AS bal FROM supplier s "
    "JOIN nation n ON s.s_nationkey = n.n_nationkey JOIN region r "
    "ON n.n_regionkey = r.r_regionkey WHERE s.s_suppkey BETWEEN {k} AND {k} + 50 "
    "GROUP BY r.r_name ORDER BY r.r_name",
    "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer "
    "WHERE c_custkey BETWEEN {k} AND {k} + 9 ORDER BY c_custkey",
)
POINT_SQL_TABLE = ("orders", "orders", "customer", "orders", "supplier", "customer")
FINAL_SQL = "SELECT count(*) AS n, sum(o_totalprice) AS total FROM orders"


def _key(rng: np.random.Generator, n: int, span: int = 300) -> int:
    return int(rng.integers(0, max(n - span, 1)))


def _rest(rng: np.random.Generator, sizes: dict[str, int], pick: int) -> tuple[str, str]:
    """One REST filter/sort/page request and the equivalent SQL."""
    if pick == 0:
        k = _key(rng, sizes["orders"] // 2)
        params = [("filter[o_orderkey]gte", str(k)), ("filter[o_orderkey]lt", str(k + 50)),
                  ("columns", "o_orderkey,o_orderstatus,o_totalprice,o_orderpriority"),
                  ("sort", "-o_totalprice,o_orderkey"), ("limit", "10")]
        sql = ("SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders "
               f"WHERE o_orderkey >= {k} AND o_orderkey < {k + 50} "
               "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")
        table = "orders"
    elif pick == 1:
        n, bal = int(rng.integers(0, 25)), float(rng.integers(5000, 9000))
        params = [("filter[c_nationkey]", str(n)), ("filter[c_acctbal]gt", f"{bal:.1f}"),
                  ("columns", "c_custkey,c_name,c_acctbal"), ("sort", "-c_acctbal,c_custkey"),
                  ("limit", "10"), ("page", "2")]
        sql = ("SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_nationkey = "
               f"{n} AND c_acctbal > {bal:.1f} ORDER BY c_acctbal DESC, c_custkey "
               "LIMIT 10 OFFSET 10")
        table = "customer"
    elif pick == 2:
        k = _key(rng, sizes["orders"], 1)
        params = [("filter[l_orderkey]", str(k)),
                  ("columns", "l_orderkey,l_partkey,l_quantity,l_extendedprice")]
        sql = ("SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM lineitem "
               f"WHERE l_orderkey = {k}")
        table = "lineitem"
    elif pick == 3:
        b, s = int(rng.integers(1, 26)), int(rng.integers(1, 10))
        params = [("filter[p_brand]", f"'Brand#{b}'"), ("filter[p_size]lte", str(s)),
                  ("columns", "p_partkey,p_name,p_retailprice"), ("sort", "p_partkey"),
                  ("limit", "15")]
        sql = ("SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_brand = "
               f"'Brand#{b}' AND p_size <= {s} ORDER BY p_partkey LIMIT 15")
        table = "part"
    else:
        n = int(rng.integers(0, 25))
        params = [("filter[s_nationkey]", str(n)), ("columns", "s_suppkey,s_name,s_acctbal"),
                  ("sort", "s_suppkey"), ("limit", "10")]
        sql = ("SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_nationkey = "
               f"{n} ORDER BY s_suppkey LIMIT 10")
        table = "supplier"
    query = "&".join(f"{quote(k, safe='[]')}={quote(v, safe=',')}" for k, v in params)
    return f"/api/tables/{table}?{query}", sql


def _graphql(rng: np.random.Generator, sizes: dict[str, int], pick: int) -> tuple[str, str]:
    if pick == 0:
        n, bal = int(rng.integers(0, 25)), int(rng.integers(6000, 9500))
        gql = (f'{{ customer(filter: {{c_nationkey: {n}, c_acctbal: {{gt: {bal}}}}}, '
               'sort: [{field: "c_custkey"}], limit: 10) { c_custkey c_name c_acctbal } }')
        sql = ("SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_nationkey = "
               f"{n} AND c_acctbal > {bal} ORDER BY c_custkey LIMIT 10")
    elif pick == 1:
        k = _key(rng, sizes["orders"] // 2)
        gql = (f'{{ orders(filter: {{o_orderkey: {{gteq: {k}, lt: {k + 40}}}}}, '
               'sort: [{field: "o_orderkey", order: "desc"}], limit: 5) '
               '{ o_orderkey o_totalprice o_orderstatus } }')
        sql = ("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey >= "
               f"{k} AND o_orderkey < {k + 40} ORDER BY o_orderkey DESC LIMIT 5")
    else:
        s = int(rng.integers(1, 6))
        gql = (f'{{ part(filter: {{p_size: {{lteq: {s}}}, p_type: "PROMO"}}, '
               'sort: [{field: "p_partkey"}], limit: 10) { p_partkey p_brand p_retailprice } }')
        sql = ("SELECT p_partkey, p_brand, p_retailprice FROM part WHERE p_size <= "
               f"{s} AND p_type = 'PROMO' ORDER BY p_partkey LIMIT 10")
    return gql, sql


def _point_sql(rng: np.random.Generator, sizes: dict[str, int], i: int) -> str:
    return POINT_SQL[i].format(k=_key(rng, sizes[POINT_SQL_TABLE[i]]),
                               lo=_key(rng, sizes["orders"] // 2))


# The kind, template and format of each request follow fixed cycles, so
# every window of a run, and every seed, sends the same mix; the seed only
# picks keys and values.
HTTP_KINDS = ("rest", "sql", "graphql", "rest", "kv", "sql", "rest", "graphql", "schema", "sql")
HTTP_FORMATS = ("json", "arrow", "json", "csv", "json", "json", "arrow")


def _write(rng: np.random.Generator, n_orders: int, i: int) -> dict:
    """The i-th statement of the writer: UPDATE, INSERT and DELETE in turn,
    on narrow key ranges of orders (inserted keys start past the end)."""
    kind = ("update", "insert", "delete")[i % 3]
    k = n_orders // 2 + _key(rng, n_orders - n_orders // 2, 30)
    if kind == "update":
        sql = (f"UPDATE orders SET o_totalprice = o_totalprice + {int(rng.integers(1, 100))}"
               f".5 WHERE o_orderkey BETWEEN {k} AND {k + 20}")
    elif kind == "delete":
        sql = f"DELETE FROM orders WHERE o_orderkey BETWEEN {k} AND {k + 5}"
    else:
        rows = [
            f"({n_orders + 3 * i + j}, {int(rng.integers(0, 1000))}, 'O', "
            f"{int(rng.integers(1000, 50000))}.25, TIMESTAMP '1999-01-01 00:00:00', '3-MEDIUM')"
            for j in range(3)
        ]
        sql = "INSERT INTO orders VALUES " + ", ".join(rows)
    return {"proto": "http", "kind": kind, "method": "POST", "path": "/api/sql",
            "body": sql, "sql": sql, "accept": ACCEPT["json"], "write": True}


def _http_read(rng: np.random.Generator, sizes: dict[str, int], i: int) -> dict:
    kind = HTTP_KINDS[i % len(HTTP_KINDS)]
    r = {"proto": "http", "kind": kind, "accept": ACCEPT[HTTP_FORMATS[i % len(HTTP_FORMATS)]]}
    if kind == "rest":
        r["method"] = "GET"
        r["path"], r["sql"] = _rest(rng, sizes, (i // len(HTTP_KINDS)) % 5)
    elif kind == "sql":
        r["method"], r["path"] = "POST", "/api/sql"
        r["body"] = r["sql"] = _point_sql(rng, sizes, i % len(POINT_SQL))
    elif kind == "graphql":
        r["method"], r["path"] = "POST", "/api/graphql"
        r["body"], r["sql"] = _graphql(rng, sizes, i % 3)
    elif kind == "kv":
        key = _key(rng, sizes["customer"], 1)
        r["method"], r["path"], r["accept"] = "GET", f"/api/kv/customer_kv/{key}", "*/*"
        r["sql"] = f"SELECT c_name FROM customer WHERE c_custkey = {key}"
    else:
        table = ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem")[(i // len(HTTP_KINDS)) % 7]
        r["method"], r["path"], r["accept"] = "GET", f"/api/schema/{table}", "*/*"
        r["table"] = table
    return r


# every 4th request of the first HTTP client is a DML statement, from its
# first request on, so the first of each kind runs cold during warm-up
WRITE_EVERY = 4


def serve_mix(seed: int, sizes: dict[str, int], per_client: int) -> list[list[dict]]:
    """api_serve, one request list per client: two HTTP clients (REST, SQL,
    GraphQL, KV and schema reads; the first also sends the DML), a pg-wire
    client and a FlightSQL client."""
    rng = np.random.default_rng([seed, 1])
    clients = []
    writes = 0
    for c, proto in enumerate(("http", "http", "pg", "flight")):
        reqs = []
        for i in range(per_client):
            if proto != "http":
                reqs.append({"proto": proto, "kind": "sql",
                             "sql": _point_sql(rng, sizes, (i + 2 * c) % len(POINT_SQL))})
            elif c == 0 and i % WRITE_EVERY == 0:
                reqs.append(_write(rng, sizes["orders"], writes))
                writes += 1
            else:
                reqs.append(_http_read(rng, sizes, i + 5 * c))
        clients.append(reqs)
    return clients


def attach_expected(clients: list[list[dict]], conn, columns: dict[str, list[str]]) -> None:
    """Fill ``id`` and ``expect`` of every request from DuckDB (``conn``
    has one view per table); writes get no expectation."""
    rid = 0
    for reqs in clients:
        for r in reqs:
            r["id"] = rid
            rid += 1
            if r.get("write"):
                r["expect"] = {}
            elif r["kind"] == "schema":
                r["expect"] = {"fields": columns[r["table"]]}
            elif r["kind"] == "kv":
                row = conn.execute(r["sql"]).fetchone()
                r["expect"] = {"text": "" if row is None else str(row[0])}
            else:
                rel = conn.sql(r["sql"])
                r["expect"] = {"columns": list(rel.columns),
                               "rows": [list(row) for row in rel.fetchall()]}


# -- decoding and comparison ---------------------------------------------------


def decode_http(body: bytes, accept: str) -> list[dict]:
    if accept == ACCEPT["arrow"]:
        import pyarrow as pa

        return pa.ipc.open_stream(body).read_all().to_pylist()
    if accept == ACCEPT["csv"]:
        return [
            {k: _csv_value(v) for k, v in row.items()}
            for row in csv.DictReader(io.StringIO(body.decode()))
        ]
    return json.loads(body)


def _csv_value(v: str) -> object:
    for cast in (int, float):
        try:
            return cast(v)
        except ValueError:
            pass
    return v


def same(a: object, b: object) -> bool:
    """Equal, numbers to within float rounding of the engines' sums."""
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _sort_key(row: list) -> tuple:
    return tuple(round(v, 4) if isinstance(v, float) else v for v in row)


def rows_match(got: list[dict], expect: dict) -> str | None:
    """None when ``got`` (a list of row dicts) equals the expected result
    set in any row order, else a short reason."""
    cols = expect["columns"]
    want = expect["rows"]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    try:
        lowered = [{k.lower(): v for k, v in row.items()} for row in got]
        rows = [[row[c.lower()] for c in cols] for row in lowered]
    except KeyError as exc:
        return f"missing column {exc}"
    for a, b in zip(sorted(rows, key=_sort_key), sorted(want, key=_sort_key)):
        if len(a) != len(b) or not all(same(x, y) for x, y in zip(a, b)):
            return f"row {a} != expected {b}"
    return None
