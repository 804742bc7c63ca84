"""Seeded synthetic inputs: the TPC-H-shaped star schema plus the
``events``/``documents``/``embeddings`` tables the registry queries read,
with the same column names, types and value ranges as the engine's
reference test data, and a Delta copy of ``orders`` for write traffic.

The same ``(seed, scale)`` always produces byte-identical parquet files.
Row counts follow TPC-H: ``orders`` = 1.5M x scale, ``lineitem`` = 4x that.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
ALL_TABLES = TPCH_TABLES + ("events", "documents", "embeddings")

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PART_ADJ = np.array(["large", "hot", "blue", "old", "cold", "green", "small", "red"])
PART_NOUN = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "spring"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
WORDS = np.array(
    "a the spark line column order small sort fast value scan hash slow group "
    "batch agg filter query key window row part table stream merge data big "
    "join customer vector".split()
)

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: np.ndarray, n: int) -> pa.Array:
    return pa.array(values[rng.integers(0, len(values), n)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def make_tables(seed: int, scale: float, names=ALL_TABLES) -> dict[str, pa.Table]:
    """The tables in ``names``; each table draws from its own random stream,
    so a table is the same whichever others are made with it."""
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 5)
    n_part = max(int(200_000 * scale), 20)
    n_ord = max(int(1_500_000 * scale), 100)
    n_line = 4 * n_ord
    i32 = pa.int32()

    def region(rng):
        return pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })

    def nation(rng):
        return pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        })

    def customer(rng):
        return pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        })

    def supplier(rng):
        return pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        })

    def part(rng):
        pk = np.arange(n_part, dtype=np.int64)
        adj = PART_ADJ[rng.integers(0, len(PART_ADJ), n_part)]
        noun = PART_NOUN[rng.integers(0, len(PART_NOUN), n_part)]
        return pa.table({
            "p_partkey": pk,
            "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        })

    def orders(rng):
        return pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, np.array(["F", "O", "P"]), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        })

    def lineitem(rng):
        qty = rng.integers(1, 51, n_line).astype(np.float64)
        return pa.table({
            "l_orderkey": np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, np.array(["A", "N", "R"]), n_line),
            "l_linestatus": _pick(rng, np.array(["F", "O"]), n_line),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_line) * _DAY_US),
        })

    def events(rng):
        n = max(int(1_000_000 * scale), 100)
        return pa.table({
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n))),
            "user_id": rng.integers(0, 1500, n).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(60.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        })

    def documents(rng):
        n = max(int(50_000 * scale), 50)
        texts: list[str] = []
        for i in range(n):
            if i >= 10 and rng.random() < 0.02:  # exact duplicate of an earlier doc
                texts.append(texts[int(rng.integers(0, i))])
            elif i >= 10 and rng.random() < 0.05:  # near duplicate: one word swapped
                words = texts[int(rng.integers(0, i))].split()
                words[int(rng.integers(0, len(words)))] = str(WORDS[rng.integers(0, len(WORDS))])
                texts.append(" ".join(words))
            else:
                texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), int(rng.integers(15, 90)))]))
        return pa.table({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        })

    def embeddings(rng):
        n = max(int(20_000 * scale), 20)
        emb = rng.normal(0.0, 0.12, (n, 64)).astype(np.float32)
        return pa.table({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n), i32),
        })

    builders = {"region": region, "nation": nation, "customer": customer,
                "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem,
                "events": events, "documents": documents, "embeddings": embeddings}
    return {
        name: builders[name](np.random.default_rng([seed, ALL_TABLES.index(name)]))
        for name in names
    }


ROW_GROUP_ROWS = 65_536  # lets key-range filters skip row groups


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=ROW_GROUP_ROWS)


_SPARK_TYPES = {
    pa.int32(): "integer",
    pa.int64(): "long",
    pa.float64(): "double",
    pa.string(): "string",
    pa.timestamp("us", tz="UTC"): "timestamp",
}


def _stats(part: pa.Table) -> str:
    """Delta per-file statistics, as every Delta writer (and this engine's)
    records them: row count, and min/max/null count of the plain columns."""
    plain = [n for n in part.column_names if not pa.types.is_timestamp(part.schema.field(n).type)]
    mm = {n: pc.min_max(part[n]).as_py() for n in plain}
    return json.dumps({
        "numRecords": part.num_rows,
        "minValues": {n: v["min"] for n, v in mm.items()},
        "maxValues": {n: v["max"] for n, v in mm.items()},
        "nullCount": {n: part[n].null_count for n in plain},
    }, separators=(",", ":"))


def write_delta_copy(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as version 0 of a Delta table split into ``files``
    parquet files by row range, so a DML statement on a narrow key range
    rewrites one file. Naive timestamps are stored as UTC instants, the
    type Delta's protocol 1/2 tables declare."""
    cols = {}
    for f in table.schema:
        col = table[f.name]
        if pa.types.is_timestamp(f.type):
            col = col.cast(pa.timestamp("us", tz="UTC"))
        cols[f.name] = col
    table = pa.table(cols)
    os.makedirs(os.path.join(path, "_delta_log"), exist_ok=True)
    schema = {
        "type": "struct",
        "fields": [
            {"name": f.name, "type": _SPARK_TYPES[f.type], "nullable": True, "metadata": {}}
            for f in table.schema
        ],
    }
    actions = [
        {"commitInfo": {"timestamp": 0, "operation": "WRITE",
                        "operationParameters": {"mode": "OVERWRITE"}}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": str(uuid.UUID(int=0)), "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema), "partitionColumns": [],
                      "configuration": {}, "createdTime": 0}},
    ]
    step = -(-table.num_rows // files)
    for i in range(files):
        name = f"part-{i:05d}.parquet"
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, name), row_group_size=ROW_GROUP_ROWS)
        actions.append({"add": {"path": name, "partitionValues": {},
                                "size": os.path.getsize(os.path.join(path, name)),
                                "modificationTime": 0, "dataChange": True,
                                "stats": _stats(part)}})
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
