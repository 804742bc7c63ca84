"""End-to-end DuckDB-oracle gates for the table surface: every
source format (loaded back through ``roapi_spark.sources.load_table``),
every response encoder, the KV lookup, the Delta writer's row-level DML,
time travel, checkpoints and Z-order skipping, the Delta SQL surface
(maintenance, RESTORE, time travel, CDF) and the streaming CDC feed.

Each gate materializes a deterministic slice of a TPC-H table through
the path under test and aggregates it; the oracle computes the same
aggregate from the raw parquet, so a loader, encoder or writer that
drops rows, mangles types or mis-decodes a value hash-mismatches.
"""

from __future__ import annotations

import json
import os
import sqlite3
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roapi_spark.plans.registry import register


# ==== source formats, encoders, KV, Delta SQL and CDF =======================
# Each source-format query materializes a deterministic slice of
# ``orders`` INTO the format under test — through this repo's own
# encoders where they exist (avro_lite container writer, hand-rolled
# OOXML for xlsx, stdlib sqlite) — then loads it back through
# ``roapi_spark.sources.load_table`` (the exact path the server's table
# registration uses, reference: columnq/src/table/mod.rs dispatch) and
# aggregates.
#
# The artifact is a build-once directory holding all format files; the
# build collects the 1/10 orders slice to the driver (1.5k rows at
# sf0.01) — a bounded fixture write, not a data-path pattern.


_COLS = ["o_orderkey", "o_custkey", "o_orderstatus"]

_SRC_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           MIN(o_orderstatus) AS min_status,
           MAX(o_orderstatus) AS max_status
    FROM orders WHERE o_orderkey % 10 = 0
"""


def _rows(spark: SparkSession, sf_dir: str) -> list[tuple[int, int, str]]:
    df = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .filter("o_orderkey % 10 = 0")
        .select(*_COLS)
        .orderBy("o_orderkey")
    )
    return [(r[0], r[1], r[2]) for r in df.collect()]


def _col_letters(ci: int) -> str:
    out = ""
    ci += 1
    while ci:
        ci, rem = divmod(ci - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _write_xlsx(path: str, rows: list[list]) -> None:
    """Minimal OOXML workbook (ECMA-376: workbook + one sheet + shared
    strings) — numbers as inline <v>, strings via the shared table."""
    shared: list[str] = []

    def cell(ref: str, v) -> str:
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        if v not in shared:
            shared.append(v)
        return f'<c r="{ref}" t="s"><v>{shared.index(v)}</v></c>'

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    body = "".join(
        f'<row r="{ri + 1}">'
        + "".join(cell(f"{_col_letters(ci)}{ri + 1}", v) for ci, v in enumerate(row))
        + "</row>"
        for ri, row in enumerate(rows)
    )
    sst = "".join(f"<si><t>{s}</t></si>" for s in shared)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook {ns} {rns}><sheets>'
            f'<sheet name="orders" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
            'relationships"><Relationship Id="rId1" Type="http://schemas.'
            "openxmlformats.org/officeDocument/2006/relationships/worksheet\" "
            'Target="worksheets/sheet1.xml"/></Relationships>',
        )
        zf.writestr("xl/sharedStrings.xml", f"<sst {ns}>{sst}</sst>")
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f"<worksheet {ns}><sheetData>{body}</sheetData></worksheet>",
        )


def _formats_dir(spark: SparkSession, sf_dir: str) -> str:
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sources.avro_lite import write_container

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "srcfmt-v1")
    names = (
        "orders.csv", "orders.tsv", "orders.ndjson", "orders.json",
        "orders.arrow", "orders.arrows", "orders.avro", "orders_orc",
        "orders.db", "orders.xlsx",
    )

    def ready(d: str) -> bool:
        return all(os.path.exists(os.path.join(d, n)) for n in names)

    def build(tmp: str) -> None:
        import pyarrow as pa
        import pyarrow.ipc as ipc

        os.makedirs(tmp, exist_ok=True)
        rows = _rows(spark, sf_dir)

        with open(os.path.join(tmp, "orders.csv"), "w") as f:
            f.write(",".join(_COLS) + "\n")
            for k, c, s in rows:
                f.write(f"{k},{c},{s}\n")

        with open(os.path.join(tmp, "orders.tsv"), "w") as f:
            f.write("\t".join(_COLS) + "\n")
            for k, c, s_ in rows:
                f.write(f"{k}\t{c}\t{s_}\n")

        with open(os.path.join(tmp, "orders.ndjson"), "w") as f:
            for k, c, s in rows:
                f.write(json.dumps(dict(zip(_COLS, (k, c, s)))) + "\n")

        # nested document + RFC-6901 pointer (json.rs:57-80 parity shape)
        with open(os.path.join(tmp, "orders.json"), "w") as f:
            json.dump(
                {"meta": {"table": "orders"},
                 "data": {"rows": [dict(zip(_COLS, r)) for r in rows]}},
                f,
            )

        tbl = pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
                "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
            }
        )
        with ipc.new_file(os.path.join(tmp, "orders.arrow"), tbl.schema) as w:
            w.write_table(tbl)
        with ipc.new_stream(os.path.join(tmp, "orders.arrows"), tbl.schema) as w:
            w.write_table(tbl)

        schema = {
            "type": "record",
            "name": "orders",
            "fields": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_custkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
            ],
        }
        with open(os.path.join(tmp, "orders.avro"), "wb") as f:
            f.write(
                write_container(
                    schema,
                    [dict(zip(_COLS, r)) for r in rows],
                    codec="deflate",
                )
            )

        (
            spark.createDataFrame(rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string")
            .coalesce(1)
            .write.mode("overwrite")
            .orc(os.path.join(tmp, "orders_orc"))
        )

        conn = sqlite3.connect(os.path.join(tmp, "orders.db"))
        conn.execute(
            "CREATE TABLE orders (o_orderkey INTEGER, o_custkey INTEGER, "
            "o_orderstatus TEXT)"
        )
        conn.executemany("INSERT INTO orders VALUES (?,?,?)", rows)
        conn.commit()
        conn.close()

        _write_xlsx(
            os.path.join(tmp, "orders.xlsx"),
            [list(_COLS)] + [list(r) for r in rows],
        )

    return build_once(out, ready, build)


def _agg(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).cast("bigint").alias("sum_key"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_cust"),
        F.min("o_orderstatus").alias("min_status"),
        F.max("o_orderstatus").alias("max_status"),
    )


def _load(spark: SparkSession, path: str, fmt: str, option: dict | None = None):
    from roapi_spark.config import TableSource
    from roapi_spark.sources import load_table

    return load_table(
        spark,
        TableSource(name="_fmt", uri=path, format=fmt, option=option or {}),
    )


def _gate(name: str, fmt: str, filename: str, option: dict | None = None,
          doc_extra: str = ""):
    @register(
        name,
        oracle=_SRC_ORACLE,
        doc=f"Source-format gate for the {fmt} loader: a deterministic "
        f"orders slice is materialized as {filename} and read back "
        f"through sources.load_table (the server's registration path), "
        f"then aggregated; the oracle computes the same aggregate from "
        f"the raw parquet, so dropped rows / type mangling / schema "
        f"mis-inference hash-mismatch. {doc_extra}Plan: fixture-sized "
        f"scan + global agg — the gate exercises decode correctness, "
        f"not scale (the scale path for bulk data is parquet/delta).",
        tags=("source", fmt),
    )
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = _formats_dir(spark, sf_dir)
        df = _load(spark, os.path.join(d, filename), fmt, option)
        return _agg(
            df.select(
                F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
                F.col("o_custkey").cast("bigint").alias("o_custkey"),
                F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
            )
        )

    q.__name__ = name
    return q


q_src_csv = _gate("q_src_csv", "csv", "orders.csv",
                  option={"has_header": True},
                  doc_extra="Schema inference over headered CSV. ")
q_src_ndjson = _gate("q_src_ndjson", "ndjson", "orders.ndjson")
q_src_json_pointer = _gate(
    "q_src_json_pointer", "json", "orders.json",
    option={"pointer": "/data/rows"},
    doc_extra="RFC-6901 pointer walk into a nested document. ")
q_src_arrow_file = _gate("q_src_arrow_file", "arrow", "orders.arrow")
q_src_arrow_stream = _gate("q_src_arrow_stream", "arrows", "orders.arrows")
q_src_avro = _gate(
    "q_src_avro", "avro", "orders.avro",
    doc_extra="Write side uses this repo's own avro_lite container "
    "encoder (deflate codec), so the gate pins encoder+decoder. ")
q_src_orc = _gate("q_src_orc", "orc", "orders_orc")
q_src_sqlite = _gate(
    "q_src_sqlite", "sqlite", "orders.db",
    option={"table": "orders"},
    doc_extra="stdlib sqlite3 database file through the database "
    "loader (S10). ")
q_src_xlsx = _gate(
    "q_src_xlsx", "xlsx", "orders.xlsx",
    doc_extra="Hand-rolled ECMA-376 workbook (shared strings + numeric "
    "cells) through the pure-Python xlsx decoder (S8). ")


q_src_tsv = _gate("q_src_tsv", "tsv", "orders.tsv",
                  option={"has_header": True},
                  doc_extra="Tab-delimiter variant of the CSV loader. ")


@register(
    "q_src_hive_partitioned",
    oracle=_SRC_ORACLE,
    doc="Hive-partition discovery gate (S13): the orders slice is "
    "written as o_orderstatus=<v>/ directories; the parquet loader must "
    "reconstruct the partition column from the directory names (the "
    "data files do not carry it) and the values must round-trip "
    "exactly. Aggregates include the partition column, so a dropped or "
    "mis-decoded partition value hash-mismatches. Plan: partition-"
    "discovering FileScan + global agg.",
    tags=("source", "parquet"),
)
def q_src_hive_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "srchive-v1")

    def build(tmp: str) -> None:
        (
            spark.read.parquet(src)
            .filter("o_orderkey % 10 = 0")
            .select(*_COLS)
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(tmp)
        )

    d = build_once(out, parquet_ready, build)
    return _agg(
        _load(spark, d, "parquet").select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.col("o_custkey").cast("bigint").alias("o_custkey"),
            F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
        )
    )


@register(
    "q_src_http",
    oracle=_SRC_ORACLE,
    doc="HTTP IO-backend gate (S12): the csv fixture is served from an "
    "ephemeral localhost http.server and registered with an http:// "
    "uri — sources.http.fetch_to_local must download it, sniff/keep "
    "the csv format, and hand it to the csv loader. No external "
    "network: the server binds 127.0.0.1 for the duration of the "
    "load only. Plan: identical to q_src_csv after the fetch.",
    tags=("source", "http"),
)
def q_src_http(spark: SparkSession, sf_dir: str) -> DataFrame:
    import http.server
    import socketserver
    import threading

    d = _formats_dir(spark, sf_dir)

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=d, **kw)

        def log_message(self, *a):  # noqa: D102 — quiet
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), Handler) as srv:
        port = srv.server_address[1]
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        try:
            df = _load(
                spark,
                f"http://127.0.0.1:{port}/orders.csv",
                "csv",
                {"has_header": True},
            )
            out = _agg(
                df.select(
                    F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
                    F.col("o_custkey").cast("bigint").alias("o_custkey"),
                    F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
                )
            )
            # materialize before the server dies: the fetch is eager
            # (fetch_to_local downloads at registration), but keep the
            # window explicit
            out.count()
            return out
        finally:
            srv.shutdown()
            t.join(timeout=5)


@register(
    "q_src_hudi",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
                         THEN o_custkey + 1000000 ELSE o_custkey END)
                AS BIGINT) AS sum_cust,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
    FROM orders WHERE o_orderkey % 10 = 0
    """,
    doc="Hudi CoW timeline gate: a hand-built .hoodie table (public "
    "Hudi layout — hoodie.properties, completed commit instants, "
    "hive-partitioned base files named fileId_writeToken_instant) with "
    "three instants: initial write per status partition, a "
    "copy-on-write UPDATE rewriting the 'O' partition's file group "
    "(custkey shifted by 1e6 — the oracle replicates the shift), and a "
    "replacecommit re-clustering another partition. The loader must "
    "serve ONLY each file group's latest base file, honor the "
    "replacecommit tombstone, reconstruct the partition column from "
    "the path, and ignore the planted inflight instant. Plan: "
    "fixture-sized FileScan + global agg.",
    tags=("source", "hudi"),
)
def q_src_hudi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "srchudi-v1")

    def ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, ".hoodie", "003.replacecommit"))

    def build(tmp: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        meta = os.path.join(tmp, ".hoodie")
        os.makedirs(meta)
        with open(os.path.join(meta, "hoodie.properties"), "w") as f:
            f.write("hoodie.table.name=orders\nhoodie.table.type=COPY_ON_WRITE\n")
        rows = _rows(spark, sf_dir)
        by_status: dict[str, list] = {}
        for k, c, s in rows:
            by_status.setdefault(s, []).append((k, c))

        def base_file(status: str, file_id: str, instant: str, recs, shift=0):
            part = f"o_orderstatus={status}"
            os.makedirs(os.path.join(tmp, part), exist_ok=True)
            name = f"{file_id}_0-1-0_{instant}.parquet"
            pq.write_table(
                pa.table(
                    {
                        "o_orderkey": pa.array([r[0] for r in recs], pa.int64()),
                        "o_custkey": pa.array(
                            [r[1] + shift for r in recs], pa.int64()
                        ),
                    }
                ),
                os.path.join(tmp, part, name),
            )
            return f"{part}/{name}"

        def commit(instant: str, stats: dict, replaced=None, kind="commit"):
            body = {"partitionToWriteStats": stats}
            if replaced:
                body["partitionToReplaceFileIds"] = replaced
            with open(os.path.join(meta, f"{instant}.{kind}"), "w") as f:
                json.dump(body, f)

        statuses = sorted(by_status)
        stats1 = {
            f"o_orderstatus={s}": [
                {"fileId": f"fg{i}", "path": base_file(s, f"fg{i}", "001", by_status[s])}
            ]
            for i, s in enumerate(statuses)
        }
        commit("001", stats1)
        # 002: CoW update — rewrite the 'O' partition's file group with
        # custkey shifted (same fileId, newer instant wins)
        io = statuses.index("O")
        commit(
            "002",
            {"o_orderstatus=O": [
                {"fileId": f"fg{io}",
                 "path": base_file("O", f"fg{io}", "002", by_status["O"], shift=1_000_000)}
            ]},
        )
        # 003: replacecommit re-clusters the first partition into a new
        # file group (same data, new fileId; old one tombstoned)
        s0 = statuses[0] if statuses[0] != "O" else statuses[1]
        i0 = statuses.index(s0)
        commit(
            "003",
            {f"o_orderstatus={s0}": [
                {"fileId": "fgR", "path": base_file(s0, "fgR", "003", by_status[s0])}
            ]},
            replaced={f"o_orderstatus={s0}": [f"fg{i0}"]},
            kind="replacecommit",
        )
        # incomplete instants must stay invisible
        open(os.path.join(meta, "004.commit.requested"), "w").close()
        open(os.path.join(meta, "004.inflight"), "w").close()

    d = build_once(out, ready, build)
    df = _load(spark, d, "hudi")
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).cast("bigint").alias("sum_key"),
        F.sum(F.col("o_custkey").cast("bigint")).cast("bigint").alias("sum_cust"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_status"),
    )


@register(
    "q_src_iceberg",
    oracle="""
    WITH slice AS (
      SELECT o_orderkey, o_custkey, o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 0
    ), a AS (
      SELECT * FROM slice WHERE o_orderkey % 20 = 0
        AND o_orderkey > (SELECT MIN(o_orderkey) FROM slice
                          WHERE o_orderkey % 20 = 0)
    ), b AS (
      SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, o_orderstatus
      FROM slice WHERE o_orderkey % 20 = 10
    ), state AS (SELECT * FROM a UNION ALL SELECT * FROM b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
    FROM state
    """,
    doc="Iceberg v2 metadata gate: a hand-built table (version-hint -> "
    "metadata.json -> manifest list -> manifests, all avro via this "
    "repo's own avro_lite encoder) with two snapshots — snapshot 2 "
    "removes one data file (status=2), adds its custkey-shifted "
    "replacement, and attaches a positional delete dropping the first "
    "row of the surviving file. The reader must serve the CURRENT "
    "snapshot only, apply the pos-delete by (file, ordinal), and skip "
    "the removed file; the oracle reconstructs that exact state "
    "relationally. Plan: fixture-sized FileScan + anti-join for the "
    "pos-delete + global agg.",
    tags=("source", "iceberg"),
)
def q_src_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sources.avro_lite import write_container

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "srciceberg-v1")

    def ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "metadata", "version-hint.text"))

    def build(tmp: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        data = os.path.join(tmp, "data")
        meta = os.path.join(tmp, "metadata")
        os.makedirs(data)
        os.makedirs(meta)
        rows = _rows(spark, sf_dir)
        f1_rows = [r for r in rows if r[0] % 20 == 0]
        f2_rows = [r for r in rows if r[0] % 20 == 10]

        def wpq(name: str, recs, shift: int = 0) -> str:
            p = os.path.join(data, name)
            pq.write_table(
                pa.table(
                    {
                        "o_orderkey": pa.array([r[0] for r in recs], pa.int64()),
                        "o_custkey": pa.array(
                            [r[1] + shift for r in recs], pa.int64()
                        ),
                        "o_orderstatus": pa.array(
                            [r[2] for r in recs], pa.string()
                        ),
                    }
                ),
                p,
            )
            return p

        f1 = wpq("f1.parquet", f1_rows)
        f2 = wpq("f2.parquet", f2_rows)
        f3 = wpq("f3.parquet", f2_rows, shift=1_000_000)
        pd = os.path.join(data, "pd1.parquet")
        pq.write_table(
            pa.table({"file_path": [f1], "pos": pa.array([0], pa.int64())}),
            pd,
        )

        mf_list_schema = {
            "type": "record",
            "name": "manifest_file",
            "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "manifest_length", "type": "long"},
                {"name": "content", "type": "int"},
                {"name": "added_snapshot_id", "type": "long"},
            ],
        }
        mf_schema = {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": ["null", "long"]},
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "r2",
                        "fields": [
                            {"name": "content", "type": "int"},
                            {"name": "file_path", "type": "string"},
                            {"name": "file_format", "type": "string"},
                            {"name": "record_count", "type": "long"},
                            {"name": "file_size_in_bytes", "type": "long"},
                            {"name": "equality_ids",
                             "type": ["null", {"type": "array", "items": "int"}]},
                        ],
                    },
                },
            ],
        }

        def entry(path: str, status: int = 1, content: int = 0, n: int = 1):
            return {
                "status": status,
                "snapshot_id": None,
                "data_file": {
                    "content": content,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "record_count": n,
                    "file_size_in_bytes": 1,
                    "equality_ids": None,
                },
            }

        def wavro(name: str, schema: dict, recs: list) -> str:
            p = os.path.join(meta, name)
            with open(p, "wb") as f:
                f.write(write_container(schema, recs))
            return p

        m1 = wavro("m1.avro", mf_schema,
                   [entry(f1, n=len(f1_rows)), entry(f2, n=len(f2_rows))])
        ml1 = wavro("ml1.avro", mf_list_schema, [
            {"manifest_path": m1, "manifest_length": 1, "content": 0,
             "added_snapshot_id": 100}])
        m2 = wavro("m2.avro", mf_schema, [
            entry(f1, status=0, n=len(f1_rows)),
            entry(f2, status=2, n=len(f2_rows)),
            entry(f3, n=len(f2_rows)),
        ])
        md2 = wavro("md2.avro", mf_schema, [entry(pd, content=1)])
        ml2 = wavro("ml2.avro", mf_list_schema, [
            {"manifest_path": m2, "manifest_length": 1, "content": 0,
             "added_snapshot_id": 200},
            {"manifest_path": md2, "manifest_length": 1, "content": 1,
             "added_snapshot_id": 200}])
        with open(os.path.join(meta, "v2.metadata.json"), "w") as f:
            json.dump(
                {
                    "format-version": 2,
                    "table-uuid": "srciceberg",
                    "location": tmp,
                    "current-snapshot-id": 200,
                    "snapshots": [
                        {"snapshot-id": 100, "timestamp-ms": 1_000,
                         "manifest-list": ml1},
                        {"snapshot-id": 200, "timestamp-ms": 2_000,
                         "manifest-list": ml2},
                    ],
                },
                f,
            )
        with open(os.path.join(meta, "version-hint.text"), "w") as f:
            f.write("2")

    d = build_once(out, ready, build)
    df = _load(spark, d, "iceberg")
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("o_orderkey").cast("bigint")).cast("bigint").alias("sum_key"),
        F.sum(F.col("o_custkey").cast("bigint")).cast("bigint").alias("sum_cust"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_status"),
    )


@register(
    "q_src_postgres",
    oracle=_SRC_ORACLE,
    doc="postgres:// source gate, loopback: the csv fixture is served "
    "by this repo's OWN pg-wire server (server/postgres.py) and read "
    "back through the pure-Python wire-v3 client fallback "
    "(sources/pgwire.py — the stand-in for ConnectorX when JDBC jars "
    "are absent, columnq/src/table/database.rs:37-73), typed decode "
    "included. One oracle row gates server encode + client decode + "
    "loader registration together. No external network: the server "
    "binds 127.0.0.1 for the duration of the load.",
    tags=("source", "postgres"),
)
def q_src_postgres(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config
    from roapi_spark.server.postgres import PostgresServer

    d = _formats_dir(spark, sf_dir)
    cat = Catalog(spark)
    cat.load_table(
        parse_table_config(
            {"name": "orders", "uri": os.path.join(d, "orders.csv"),
             "option": {"format": "csv"}}
        )
    )
    server = PostgresServer(cat)
    server.start()
    try:
        df = _load(
            spark,
            f"postgres://gate@127.0.0.1:{server.port}/postgres",
            "postgres",
            {"table": "orders"},
        )
        out = _agg(
            df.select(
                F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
                F.col("o_custkey").cast("bigint").alias("o_custkey"),
                F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
            )
        )
        out.count()  # materialize while the server is up (wire read is eager)
        return out
    finally:
        server.stop()


# --- response-encoder gates (E-rows): encode -> re-ingest -> oracle ---------

def _enc_gate(name: str, fmt: str, reload_fmt: str, suffix: str,
              reload_option: dict | None = None):
    @register(
        name,
        oracle=_SRC_ORACLE,
        doc=f"Response-encoder gate for the {fmt} encoder (E-rows): the "
        f"orders slice is encoded through encoders.encode_batches_iter "
        f"(the SAME streaming path the HTTP content-negotiation layer "
        f"uses — chunked, memory-bounded), the bytes are written to a "
        f"file, re-ingested through the {reload_fmt} loader, and "
        f"aggregated against the shared parquet oracle. A lossy or "
        f"misframed encoding (wrong quoting, truncated stream, schema "
        f"drift) hash-mismatches. Plan: fixture-sized encode/decode + "
        f"global agg.",
        tags=("encoder", fmt),
    )
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from roapi_spark.encoders import encode_batches_iter
        from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

        out_dir = snapshot_cache_dir(
            os.path.join(sf_dir, "orders.parquet"), "encgate-v1"
        )
        fname = f"orders{suffix}"

        def ready(d: str) -> bool:
            return os.path.exists(os.path.join(d, fname))

        def build(tmp: str) -> None:
            os.makedirs(tmp, exist_ok=True)
            src = (
                spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
                .filter("o_orderkey % 10 = 0")
                .select(*_COLS)
            )
            with open(os.path.join(tmp, fname), "wb") as f:
                # small chunks force the multi-chunk framing paths
                for chunk in encode_batches_iter(src, fmt, chunk_rows=257):
                    f.write(chunk)

        d = build_once(out_dir, ready, build)
        df = _load(spark, os.path.join(d, fname), reload_fmt, reload_option)
        return _agg(
            df.select(
                F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
                F.col("o_custkey").cast("bigint").alias("o_custkey"),
                F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
            )
        )

    q.__name__ = name
    return q


q_enc_csv = _enc_gate("q_enc_csv", "csv", "csv", ".csv",
                      {"has_header": True})
q_enc_arrows = _enc_gate("q_enc_arrows", "arrows", "arrows", ".arrows")


def _enc_single_gate(name: str, fmt: str, reload_fmt: str, suffix: str,
                     reload_option: dict | None = None):
    @register(
        name,
        oracle=_SRC_ORACLE,
        doc=f"Response-encoder gate for the single-shot {fmt} encoder "
        f"(encoders.encode_dataframe — the exact function the HTTP "
        f"content-negotiation layer and the CLI -o path call): encode "
        f"the orders slice, re-ingest through the {reload_fmt} loader, "
        f"aggregate against the shared parquet oracle. Plan: "
        f"fixture-sized encode/decode + global agg.",
        tags=("encoder", fmt),
    )
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from roapi_spark.encoders import encode_dataframe
        from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

        out_dir = snapshot_cache_dir(
            os.path.join(sf_dir, "orders.parquet"), "encgate-v1"
        )
        fname = f"orders_single{suffix}"

        def ready(d: str) -> bool:
            return os.path.exists(os.path.join(d, fname))

        def build(tmp: str) -> None:
            os.makedirs(tmp, exist_ok=True)
            src = (
                spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
                .filter("o_orderkey % 10 = 0")
                .select(*_COLS)
            )
            with open(os.path.join(tmp, fname), "wb") as f:
                f.write(encode_dataframe(src, fmt))

        d = build_once(out_dir, ready, build)
        df = _load(spark, os.path.join(d, fname), reload_fmt, reload_option)
        return _agg(
            df.select(
                F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
                F.col("o_custkey").cast("bigint").alias("o_custkey"),
                F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
            )
        )

    q.__name__ = name
    return q


q_enc_json = _enc_single_gate("q_enc_json", "json", "json", ".json")
q_enc_arrow_file = _enc_single_gate("q_enc_arrow_file", "arrow", "arrow", ".arrow")
q_enc_parquet = _enc_single_gate("q_enc_parquet", "parquet", "parquet", ".parquet")


@register(
    "q_kv_lookup",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS k, o_orderstatus AS v
    FROM orders
    WHERE o_orderkey IN (10, 20, 30, 40, 50)
    ORDER BY o_orderkey
    """,
    doc="Key-value store gate (M4, columnq.rs:275-331 parity): the csv "
    "fixture is registered through catalog.load_kv (key/value columns "
    "materialized to a driver dict — the reference's HashMap contract, "
    "Utf8-stringified) and five deterministic keys are looked up via "
    "kv_get, the same call the /api/kv/{name}/{key} route makes. The "
    "oracle selects the same pairs relationally, so a mis-keyed or "
    "value-mangling materialization hash-mismatches. Plan: driver-side "
    "dict build from one fixture scan + a 5-row local DataFrame.",
    tags=("kv", "api"),
)
def q_kv_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_kv_config

    d = _formats_dir(spark, sf_dir)
    cat = Catalog(spark)
    cat.load_kv(
        parse_kv_config(
            {
                "name": "status_by_key",
                "uri": os.path.join(d, "orders.csv"),
                "option": {"format": "csv"},
                "key": "o_orderkey",
                "value": "o_orderstatus",
            }
        )
    )
    keys = ["10", "20", "30", "40", "50"]
    rows = [(k, cat.kv_get("status_by_key", k)) for k in keys]
    return spark.createDataFrame(rows, "k string, v string")


def _sql_gate_table(
    spark: SparkSession, sf_dir: str, gate: str, cdf: bool = False
) -> str:
    """Fresh per-run delta table for a SQL gate, copied from a pristine
    v0 fixture built ONCE per testdata content and disk-cached (the
    same build_once pattern the source gates use). The copy keeps the
    'rebuilt fresh each run so every statement actually executes'
    property while dropping the per-run Spark read+write job the SQL
    gates used to repeat — the dominant fixed cost of the bench's
    gate family. ``cdf=True`` selects the change-data-feed-enabled
    variant of the fixture (separate cache tag, same slice)."""
    import shutil
    import tempfile

    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sinks.delta import write_delta

    src = os.path.join(sf_dir, "orders.parquet")
    tag = "sqlcdcfix-v1" if cdf else "sqlgatefix-v1"
    fixture = snapshot_cache_dir(src, tag)

    def ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_delta_log", f"{0:020d}.json"))

    def build(tmp: str) -> None:
        base = (
            spark.read.parquet(src)
            .filter("o_orderkey % 10 = 0")
            .select("o_orderkey", "o_custkey", "o_totalprice")
        )
        write_delta(
            base.repartition(4),
            tmp,
            mode="overwrite",
            configuration=(
                {"delta.enableChangeDataFeed": "true"} if cdf else None
            ),
        )  # v0

    build_once(fixture, ready, build)
    # session-scoped copy: two sessions gating concurrently (driver +
    # local check) must not race on one table path
    dst = os.path.join(
        tempfile.gettempdir(),
        f"roapi_spark_{gate}-{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(fixture, dst)
    return dst


@register(
    "q_sql_maintenance",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_orderkey % 10 = 0 AND o_custkey % 7 <> 0
    """,
    doc="SQL table-maintenance gate (round 10): a delta table built "
    "from the 1/10 orders slice is driven ENTIRELY through the SQL "
    "surface of a read-write catalog — DELETE FROM ... WHERE "
    "(copy-on-write rewrite), OPTIMIZE ... ZORDER BY (Morton "
    "re-clustering via the compaction sink), VACUUM ... RETAIN 168 "
    "HOURS (time-based retention, must reclaim nothing on a "
    "seconds-old table), then VACUUM ... RETAIN 1 VERSIONS (physical "
    "reclaim of the files only dead versions reference) — and the "
    "surviving rows are aggregated through the "
    "same catalog's SELECT path. The oracle applies the identical "
    "slice+delete predicate to the raw orders table, so a DELETE that "
    "dropped wrong rows, an OPTIMIZE that lost/duplicated rows, or a "
    "VACUUM that reclaimed a LIVE file all hash-mismatch (the last as "
    "a loud missing-file read error). sum_cents is exact-integer. "
    "Plan: fixture-sized (1.5k rows at sf0.01) — this gates the SQL "
    "routing + maintenance correctness, not volume; the table is "
    "rebuilt fresh each run so every statement actually executes.",
    tags=("sql", "delta", "gate"),
)
def q_sql_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config

    path = _sql_gate_table(spark, sf_dir, "sqlmaint")
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config(
            {"name": "maint_t", "uri": path, "option": {"format": "delta"}}
        )
    )
    d = cat.query_sql("DELETE FROM maint_t WHERE o_custkey % 7 = 0").collect()[0]
    o = cat.query_sql(
        "OPTIMIZE maint_t ZORDER BY (o_custkey, o_totalprice)"
    ).collect()[0]
    # time-based retention first (delta-spark grammar): every commit is
    # seconds old, so a 168h window must reclaim nothing
    vh = cat.query_sql("VACUUM maint_t RETAIN 168 HOURS").collect()[0]
    v = cat.query_sql("VACUUM maint_t RETAIN 1 VERSIONS").collect()[0]
    if (d.version, o.version) != (1, 2) or vh.files_deleted != 0 or v.files_deleted < 1:
        raise RuntimeError(
            f"maintenance route misbehaved: delete v{d.version}, "
            f"optimize v{o.version}, vacuum reclaimed "
            f"{vh.files_deleted}/{v.files_deleted}"
        )
    return cat.query_sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " AS sum_cents, "
        "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key "
        "FROM maint_t"
    )


@register(
    "q_sql_restore",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
    doc="SQL RESTORE gate (round 10): a delta table built from the 1/10 "
    "orders slice loses half its rows to DELETE (v1), then RESTORE "
    "TABLE ... TO VERSION AS OF 0 re-activates the original file set "
    "in one metadata-only commit (v2) — the oracle is the aggregate of "
    "the UNTOUCHED slice, so a restore that loses rows, resurrects the "
    "wrong snapshot, or leaves the delete's rewrite active "
    "hash-mismatches. DESCRIBE HISTORY order and the restored row "
    "count are asserted in-line. Plan: fixture-sized (1.5k rows at "
    "sf0.01); rebuilt fresh each run so every statement executes.",
    tags=("sql", "delta", "gate"),
)
def q_sql_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config

    path = _sql_gate_table(spark, sf_dir, "sqlrestore")
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config(
            {"name": "restore_t", "uri": path, "option": {"format": "delta"}}
        )
    )
    d = cat.query_sql("DELETE FROM restore_t WHERE o_custkey % 2 = 0").collect()[0]
    r = cat.query_sql("RESTORE TABLE restore_t TO VERSION AS OF 0").collect()[0]
    hist = [
        row.operation
        for row in cat.query_sql("DESCRIBE HISTORY restore_t").collect()
    ]
    if (d.version, r.version) != (1, 2) or hist != ["RESTORE", "DELETE", "WRITE"]:
        raise RuntimeError(
            f"restore route misbehaved: delete v{d.version}, "
            f"restore v{r.version}, history {hist}"
        )
    return cat.query_sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " AS sum_cents, "
        "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key "
        "FROM restore_t"
    )


@register(
    "q_sql_time_travel",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
    doc="SELECT-level time travel gate (round 11): after a DELETE "
    "halves the delta table (v1), the query text itself selects the "
    "untouched v0 — `SELECT ... FROM tt_t VERSION AS OF 0` — through a "
    "READ-ONLY catalog (time travel is a read; the rewrite pins a "
    "snapshot view over the v0 file set, catalog._rewrite_time_travel)."
    " The oracle is the aggregate of the untouched slice, so a rewrite "
    "that serves the current version, the wrong version, or leaks the "
    "DELETE's rewrite into the pinned snapshot hash-mismatches. The "
    "current-version row count is asserted in-line to prove the DELETE "
    "actually landed before the travel. delta-spark grammar parity: "
    "spark.sql('... VERSION AS OF 0') on a delta v2 table. Plan: "
    "fixture-sized; one log replay + pruned FileScan over v0's files.",
    tags=("sql", "delta", "gate"),
)
def q_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config

    path = _sql_gate_table(spark, sf_dir, "sqltt")
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config(
            {"name": "tt_t", "uri": path, "option": {"format": "delta"}}
        )
    )
    full = cat.query_sql("SELECT COUNT(*) AS n FROM tt_t").collect()[0].n
    d = cat.query_sql("DELETE FROM tt_t WHERE o_custkey % 2 = 0").collect()[0]
    cur = cat.query_sql("SELECT COUNT(*) AS n FROM tt_t").collect()[0].n
    if d.version != 1 or not 0 < cur < full:
        raise RuntimeError(
            f"time-travel gate setup misbehaved: delete v{d.version}, "
            f"rows {full} -> {cur}"
        )
    ro = Catalog(spark, read_only=True)
    ro.sources = cat.sources
    return ro.query_sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " AS sum_cents, "
        "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key "
        "FROM tt_t VERSION AS OF 0"
    )


@register(
    "q_sql_cdf",
    oracle="""
    WITH s AS (
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT * FROM (
      SELECT 'delete' AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM s
      UNION ALL
      SELECT 'insert' AS change_type,
             CAST(COUNT(*) + SUM(CASE WHEN o_custkey % 2 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rows,
             CAST(SUM(o_orderkey)
                  + SUM(CASE WHEN o_custkey % 2 <> 0 THEN o_orderkey ELSE 0 END)
                  AS BIGINT) AS sum_key
      FROM s
    ) ORDER BY change_type
    """,
    doc="Change Data Feed SQL gate (round 11): `SELECT ... FROM "
    "table_changes('cdf_t', 0)` — delta-spark's CDF TVF, rewritten by "
    "the catalog to a view over the pure-Python CDF reader "
    "(sources/delta.table_changes). The fixture takes one DELETE "
    "(o_custkey % 2 = 0), so the full change stream is: v0's blind "
    "write -> one insert per slice row; v1's copy-on-write DELETE -> "
    "one delete per row of every touched file and one re-insert per "
    "survivor. Each fixture file holds ~375 rows at sf0.01 with a ~1/2 "
    "match rate, so every file is touched (miss odds 2^-375) and the "
    "counts are layout-independent: deletes = N, inserts = N + "
    "survivors. The oracle computes both aggregates from the raw "
    "slice; a CDF reader that drops a commit, mislabels a change type, "
    "or double-serves a rewrite hash-mismatches. Runs through a "
    "READ-ONLY catalog (CDF is a read). Plan: fixture-sized log replay "
    "+ per-commit file reads.",
    tags=("sql", "delta", "gate"),
)
def q_sql_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config

    path = _sql_gate_table(spark, sf_dir, "sqlcdf")
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config(
            {"name": "cdf_t", "uri": path, "option": {"format": "delta"}}
        )
    )
    d = cat.query_sql("DELETE FROM cdf_t WHERE o_custkey % 2 = 0").collect()[0]
    if d.version != 1:
        raise RuntimeError(f"cdf gate setup misbehaved: delete v{d.version}")
    ro = Catalog(spark, read_only=True)
    ro.sources = cat.sources
    return ro.query_sql(
        "SELECT _change_type AS change_type, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(o_orderkey) AS BIGINT) AS sum_key "
        "FROM table_changes('cdf_t', 0) "
        "GROUP BY _change_type ORDER BY change_type"
    )


@register(
    "q_sql_cdf_ts",
    oracle="""
    WITH s AS (
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT * FROM (
      SELECT 'delete' AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM s
      UNION ALL
      SELECT 'insert' AS change_type,
             CAST(SUM(CASE WHEN o_custkey % 2 <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_custkey % 2 <> 0 THEN o_orderkey ELSE 0 END)
                  AS BIGINT) AS sum_key
      FROM s
    ) ORDER BY change_type
    """,
    doc="CDF TVF timestamp-bound gate (round 12): `table_changes('t', "
    "'<ts>', '<ts>')` with ISO timestamps instead of versions — "
    "delta-spark semantics: the start timestamp resolves to the FIRST "
    "commit at-or-after it, the end to the LAST at-or-before, against "
    "commit-file mtimes (the same source timestamp time travel uses). "
    "The fixture takes TWO deletes (v1: o_custkey%2, v2: o_custkey%3) "
    "and the gate reads a window whose midpoint timestamps must "
    "resolve to exactly [v1, v1] — v0's blind insert and v2's second "
    "delete both excluded, so an off-by-one in either bound direction "
    "hash-mismatches against the v1-only closed form. The gate also "
    "asserts delta-spark's out-of-range behavior first: a start "
    "timestamp after the newest commit and an end timestamp before "
    "the oldest must raise, never serve an empty feed. Plan: "
    "fixture-sized log replay + per-commit file reads; timestamp "
    "resolution is one mtime scan of the (KB-scale) commit list.",
    tags=("sql", "delta", "gate"),
)
def q_sql_cdf_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config
    from roapi_spark.sources.delta import (
        LoadError,
        _log_versions,
        table_changes,
    )

    path = _sql_gate_table(spark, sf_dir, "sqlcdfts")
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config(
            {"name": "cdfts_t", "uri": path, "option": {"format": "delta"}}
        )
    )
    d1 = cat.query_sql("DELETE FROM cdfts_t WHERE o_custkey % 2 = 0")
    d2 = cat.query_sql("DELETE FROM cdfts_t WHERE o_custkey % 3 = 0")
    versions = (d1.collect()[0].version, d2.collect()[0].version)
    if versions != (1, 2):
        raise RuntimeError(f"cdf_ts gate setup misbehaved: {versions}")
    mts = [
        os.path.getmtime(p)
        for _, p in _log_versions(os.path.join(path, "_delta_log"))
    ]
    if not (mts[0] < mts[1] < mts[2]):
        raise RuntimeError(f"commit mtimes not strictly ordered: {mts}")

    def iso(t: float) -> str:
        return (
            datetime.fromtimestamp(t, tz=timezone.utc)
            .replace(tzinfo=None)
            .isoformat()
        )

    # out-of-range bounds must fail like delta-spark, not serve empties
    for bad_start, bad_end in (
        (iso(mts[2] + 3600), None),
        (0, iso(mts[0] - 3600)),
    ):
        try:
            table_changes(spark, path, bad_start, bad_end)
        except LoadError:
            pass
        else:
            raise RuntimeError(
                f"out-of-range CDF bound ({bad_start!r}, {bad_end!r}) "
                "did not error"
            )

    start_ts, end_ts = iso((mts[0] + mts[1]) / 2), iso((mts[1] + mts[2]) / 2)
    ro = Catalog(spark, read_only=True)
    ro.sources = cat.sources
    return ro.query_sql(
        "SELECT _change_type AS change_type, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(o_orderkey) AS BIGINT) AS sum_key "
        f"FROM table_changes('cdfts_t', '{start_ts}', '{end_ts}') "
        "GROUP BY _change_type ORDER BY change_type"
    )


@register(
    "q_sql_cdc_images",
    oracle="""
    WITH m AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey % 10 = 0 AND o_custkey % 3 = 0
    )
    SELECT * FROM (
      SELECT 'update_postimage' AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(FLOOR(o_totalprice * 2 * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS sum_cents,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM m
      UNION ALL
      SELECT 'update_preimage' AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS sum_cents,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM m
    ) ORDER BY change_type
    """,
    doc="CDC write-path gate (round 11): the fixture is rebuilt as a "
    "CDF-ENABLED delta table (delta.enableChangeDataFeed=true, "
    "minWriterVersion 4), one SQL UPDATE doubles o_totalprice for the "
    "o_custkey%3 slice, and the gate aggregates the _change_data rows "
    "the DML sink WROTE — update_preimage must carry the original "
    "prices, update_postimage the doubled ones, over exactly the "
    "matched keys. Unlike derivation gates this is layout-independent "
    "(images are the matched rows themselves, never whole-file churn), "
    "so a cdc writer that stages the wrong rows, swaps image labels, "
    "applies SET exprs to the preimage, or loses rows in the atomic "
    "publish hash-mismatches against the raw-slice oracle. sum_cents "
    "is exact-integer on both sides. Plan: fixture-sized; one "
    "copy-on-write UPDATE + one cdc parquet write + a pruned read of "
    "_change_data via the table_changes TVF.",
    tags=("sql", "delta", "gate"),
)
def q_sql_cdc_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config

    path = _sql_gate_table(spark, sf_dir, "sqlcdc", cdf=True)
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config(
            {"name": "cdc_t", "uri": path, "option": {"format": "delta"}}
        )
    )
    u = cat.query_sql(
        "UPDATE cdc_t SET o_totalprice = o_totalprice * 2 "
        "WHERE o_custkey % 3 = 0"
    ).collect()[0]
    if u.version != 1:
        raise RuntimeError(f"cdc gate setup misbehaved: update v{u.version}")
    return cat.query_sql(
        "SELECT _change_type AS change_type, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " AS sum_cents, "
        "CAST(SUM(o_orderkey) AS BIGINT) AS sum_key "
        "FROM table_changes('cdc_t', 1, 1) "
        "GROUP BY _change_type ORDER BY change_type"
    )


@register(
    "stream_cdc_feed",
    oracle="""
    WITH s AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey % 10 = 0
    )
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS commit_version, 'insert' AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS sum_cents,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM s
      UNION ALL
      SELECT CAST(1 AS BIGINT), 'update_preimage',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT),
             CAST(SUM(o_orderkey) AS BIGINT)
      FROM s WHERE o_custkey % 3 = 0
      UNION ALL
      SELECT CAST(1 AS BIGINT), 'update_postimage',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CAST(FLOOR(o_totalprice * 2 * 100 + 0.5) AS BIGINT))
                  AS BIGINT),
             CAST(SUM(o_orderkey) AS BIGINT)
      FROM s WHERE o_custkey % 3 = 0
    ) ORDER BY commit_version, change_type
    """,
    doc="Streaming CDF gate (round 11): the change stream of a "
    "CDF-enabled delta table is consumed through an actual Structured "
    "Streaming query (streaming/cdf.py: file source over the log = "
    "exactly-once version cursor, batch CDF reader per version) — v0's "
    "blind-write inserts and v1's UPDATE pre/post images arrive as "
    "separate per-version deliveries, aggregated per (version, "
    "change_type) and compared against the raw-slice oracle. A stream "
    "that drops a version, double-delivers, mixes versions, or serves "
    "derived churn instead of cdc images hash-mismatches. Plan: "
    "fixture-sized; the stream reads KB of log text + one cdc file — "
    "input volume is the COMMIT RATE, the property that holds at "
    "100 TB. First registry entry driving the streaming subsystem "
    "under the external oracle.",
    tags=("streaming", "delta"),
)
def stream_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.sinks.delta import update_delta
    from roapi_spark.streaming.cdf import stream_table_changes

    path = _sql_gate_table(spark, sf_dir, "streamcdc", cdf=True)
    update_delta(
        spark, path, "o_custkey % 3 = 0", {"o_totalprice": "o_totalprice * 2"}
    )  # v1 with cdc images
    collected: list[tuple] = []

    def process(version: int, changes: DataFrame) -> None:
        rows = (
            changes.groupBy("_change_type")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                .cast("bigint")
                .alias("sum_cents"),
                F.sum("o_orderkey").cast("bigint").alias("sum_key"),
            )
            .collect()
        )
        for r in rows:
            collected.append(
                (version, r._change_type, r.n_rows, r.sum_cents, r.sum_key)
            )

    # fresh checkpoint per run: it lives inside the per-run table copy,
    # so the stream always starts from version 0
    q = stream_table_changes(
        spark, path, process, os.path.join(path, "_stream_ckpt"),
        query_name="stream_cdc_feed",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.createDataFrame(
        sorted(collected),
        "commit_version bigint, change_type string, n_rows bigint, "
        "sum_cents bigint, sum_key bigint",
    )


# ==== Delta writer: MERGE, time travel, checkpoints, Z-order ================


# --- Delta MERGE end-to-end gate -------------------------------------------

_MERGE_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]


def _merged_orders_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once Delta artifact: a base table from ``orders`` plus ONE
    MERGE commit exercising all three clauses (update, delete, insert)
    through the copy-on-write writer. The registered query reads the
    post-merge table back through the pure-Python delta source, so the
    oracle row checks writer DML + log commit + reader replay end to
    end."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sinks.delta import merge_delta, write_delta

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "deltamerge-v1")

    def ready(d: str) -> bool:
        return os.path.isfile(
            os.path.join(d, "_delta_log", f"{1:020d}.json")
        )

    def build(tmp: str) -> None:
        orders = spark.read.parquet(src)
        base = orders.filter("o_orderkey % 4 = 0").select(_MERGE_COLS)
        write_delta(base, tmp, mode="overwrite")
        source = (
            orders.filter("o_orderkey % 8 = 0 OR o_orderkey % 4 = 1")
            .select(_MERGE_COLS)
            .withColumn("o_orderstatus", F.lit("N"))
        )
        merge_delta(
            spark,
            tmp,
            source,
            on=["o_orderkey"],
            when_matched_update={
                "o_totalprice": "s.o_totalprice * 2",
                "o_orderstatus": "'U'",
            },
            when_matched_delete="t.o_orderkey % 16 = 0",
            when_not_matched_insert=True,
        )

    return build_once(out, ready, build)


@register(
    "q_delta_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 4 = 0
    ), src AS (
      SELECT o_orderkey, o_custkey, o_totalprice, 'N' AS o_orderstatus
      FROM orders WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1
    ), merged AS (
      SELECT b.o_orderkey, b.o_custkey,
             CASE WHEN s.o_orderkey IS NOT NULL
                  THEN b.o_totalprice * 2 ELSE b.o_totalprice
             END AS o_totalprice,
             CASE WHEN s.o_orderkey IS NOT NULL
                  THEN 'U' ELSE b.o_orderstatus
             END AS o_orderstatus
      FROM base b LEFT JOIN src s USING (o_orderkey)
      WHERE NOT (s.o_orderkey IS NOT NULL AND b.o_orderkey % 16 = 0)
      UNION ALL
      SELECT s.* FROM src s ANTI JOIN base b USING (o_orderkey)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="End-to-end gate for Delta row-level DML: a MERGE with matched-"
    "update (price doubled, status 'U'), matched-delete (every 16th "
    "key), and not-matched-insert (status 'N') committed copy-on-write "
    "by sinks/delta.merge_delta, then read back through the pure-Python "
    "log replay and aggregated by status. The oracle replicates the "
    "MERGE relationally, so a wrong rewrite (lost rows, double-applied "
    "updates, resurrected deletes) hash-mismatches. Plan: serve path is "
    "one FileScan of the build-once artifact + a 3-group agg; the merge "
    "itself rewrites only files containing matched keys (provenance "
    "semi-join), the scale-correct copy-on-write shape.",
    tags=("sql", "delta"),
)
def q_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources.delta import to_dataframe

    path = _merged_orders_table(spark, sf_dir)
    ts = TableSource(name="_merged", uri=path, format="delta", option={})
    return (
        to_dataframe(spark, ts)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_delta_time_travel",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 4 = 0
    ), src AS (
      SELECT o_orderkey, o_custkey, o_totalprice, 'N' AS o_orderstatus
      FROM orders WHERE o_orderkey % 8 = 0 OR o_orderkey % 4 = 1
    ), merged AS (
      SELECT b.o_orderkey,
             CASE WHEN s.o_orderkey IS NOT NULL
                  THEN b.o_totalprice * 2 ELSE b.o_totalprice
             END AS o_totalprice
      FROM base b LEFT JOIN src s USING (o_orderkey)
      WHERE NOT (s.o_orderkey IS NOT NULL AND b.o_orderkey % 16 = 0)
      UNION ALL
      SELECT s.o_orderkey, s.o_totalprice
      FROM src s ANTI JOIN base b USING (o_orderkey)
    ),
    v0 AS (SELECT CAST(0 AS BIGINT) AS version,
                  CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                       AS BIGINT) AS sum_cents
           FROM base),
    v1 AS (SELECT CAST(1 AS BIGINT) AS version,
                  CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                       AS BIGINT) AS sum_cents
           FROM merged)
    SELECT * FROM v0 UNION ALL SELECT * FROM v1 ORDER BY version
    """,
    doc="Time travel under the driver gate: the post-MERGE Delta "
    "artifact is read BOTH at version=0 (the pre-merge base) and at "
    "HEAD through the pure-Python log replay, and each snapshot is "
    "summarized (row count + exact-integer cent sum). The oracle "
    "reconstructs both states relationally from orders, so a replay "
    "that leaks post-merge files into the v0 snapshot (or vice versa) "
    "hash-mismatches. Plan: two FileScans over disjoint snapshot file "
    "lists + two global aggs + a 2-row union — snapshot resolution is "
    "driver-side log replay, bounded by log size, never a data scan.",
    tags=("sql", "delta"),
)
def q_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources.delta import to_dataframe

    path = _merged_orders_table(spark, sf_dir)

    def snap(version: int | None, tag: int) -> DataFrame:
        opt = {} if version is None else {"version": str(version)}
        ts = TableSource(name=f"_tt{tag}", uri=path, format="delta", option=opt)
        return (
            to_dataframe(spark, ts)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("sum_cents"),
            )
            .select(
                F.lit(tag).cast("bigint").alias("version"),
                "n_rows",
                "sum_cents",
            )
        )
    return snap(0, 0).unionAll(snap(None, 1)).orderBy("version")


def _checkpointed_orders_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once Delta artifact exercising checkpoint-seeded replay:
    base slice (v0), append (v1), classic parquet checkpoint at v1,
    then a post-checkpoint append (v2). Readers must seed from the
    checkpoint (columnar harvest, sources/delta._checkpoint_file_state)
    and replay only v2's json on top."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sinks.delta import write_checkpoint, write_delta

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "deltackpt-v1")

    def ready(d: str) -> bool:
        return os.path.isfile(
            os.path.join(d, "_delta_log", "_last_checkpoint")
        ) and os.path.isfile(os.path.join(d, "_delta_log", f"{2:020d}.json"))

    def build(tmp: str) -> None:
        orders = spark.read.parquet(src).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        write_delta(orders.filter("o_orderkey % 3 = 0"), tmp, mode="overwrite")
        write_delta(orders.filter("o_orderkey % 3 = 1"), tmp, mode="append")
        write_checkpoint(tmp)
        write_delta(orders.filter("o_orderkey % 3 = 2"), tmp, mode="append")

    return build_once(out, ready, build)


@register(
    "q_delta_checkpoint_read",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    """,
    doc="Checkpoint-seeded replay under the driver gate: the artifact "
    "has a classic parquet checkpoint at v1 (written by "
    "sinks/delta.write_checkpoint) plus a post-checkpoint json commit; "
    "the reader seeds its active set from the checkpoint via the "
    "columnar struct-field harvest and replays only v2 on top. The "
    "oracle is the full orders table (the three slices partition it), "
    "so a checkpoint that drops/duplicates adds, or a replay that "
    "re-applies pre-checkpoint commits, hash-mismatches. Plan: one "
    "FileScan over the snapshot file list + global agg; checkpoint "
    "parsing is driver-side and columnar (0.23 s at 100k adds, "
    "docs/SCALE.md round-9).",
    tags=("sql", "delta"),
)
def q_delta_checkpoint_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.config import TableSource
    from roapi_spark.sources.delta import to_dataframe

    path = _checkpointed_orders_table(spark, sf_dir)
    ts = TableSource(name="_ckpt", uri=path, format="delta", option={})
    return to_dataframe(spark, ts).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_cust"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        ).cast("bigint").alias("sum_cents"),
    )


def _zordered_orders_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once Delta artifact: orders written UNCLUSTERED across 8
    hash-partitioned files, then OPTIMIZE ZORDER BY (o_custkey,
    o_totalprice) — the two-dimensional clustering whose per-file
    min/max stats make selective predicates on either column prune
    files (measured 16x file-skip in tools/zorder_audit.py)."""
    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir
    from roapi_spark.sinks.delta import compact, write_delta

    src = os.path.join(sf_dir, "orders.parquet")
    out = snapshot_cache_dir(src, "deltazorder-v1")

    def ready(d: str) -> bool:
        return os.path.isfile(
            os.path.join(d, "_delta_log", f"{1:020d}.json")
        )

    def build(tmp: str) -> None:
        orders = spark.read.parquet(src).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        write_delta(orders.repartition(8), tmp, mode="overwrite")
        compact(spark, tmp, target_partitions=8,
                zorder_by=["o_custkey", "o_totalprice"])

    return build_once(out, ready, build)


_ZORDER_CK = (100, 400)
_ZORDER_TP = (50_000.0, 150_000.0)


@register(
    "q_delta_zorder",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_custkey BETWEEN {_ZORDER_CK[0]} AND {_ZORDER_CK[1]}
      AND o_totalprice BETWEEN {_ZORDER_TP[0]} AND {_ZORDER_TP[1]}
    """,
    doc="End-to-end gate for OPTIMIZE ZORDER + stats-based file "
    "skipping: orders is written unclustered, Morton-clustered by "
    "(o_custkey, o_totalprice) via sinks/delta.compact, and the serve "
    "path resolves the file list through "
    "sources/delta.snapshot_adds_pruned — ONLY files whose add.stats "
    "min/max overlap the two-column range predicate are handed to the "
    "parquet scan. The oracle runs the same predicate over the raw "
    "orders table, so a skip of a file that held matching rows (stats "
    "written wrong, pruning too eager) hash-mismatches, and sum_cents "
    "is exact-integer so the check is engine-independent. Plan: one "
    "FileScan over the pruned candidates + global agg; at 100 TB the "
    "pruning shrinks the FILE LIST before any footer is opened — "
    "measured 4/64 files, 5.4/90 MB on an independent-uniform 2M-row "
    "table (tools/zorder_audit.py, docs/SCALE.md round-9).",
    tags=("sql", "delta"),
)
def q_delta_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.sources.delta import snapshot_adds_pruned

    path = _zordered_orders_table(spark, sf_dir)
    cand, _skipped, _cb, _tb = snapshot_adds_pruned(
        path,
        {"o_custkey": _ZORDER_CK, "o_totalprice": _ZORDER_TP},
    )
    return (
        spark.read.parquet(*sorted(cand))
        .filter(
            (F.col("o_custkey").between(*_ZORDER_CK))
            & (F.col("o_totalprice").between(*_ZORDER_TP))
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            ).cast("bigint").alias("sum_cents"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )
