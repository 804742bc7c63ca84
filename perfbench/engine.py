"""The system under test, in its own process: a benchmark-owned launcher
that builds ``Catalog`` + ``ApiServer`` / ``PostgresServer`` /
``SparkFlightServer`` (mode ``serve``) or runs registry builders through
the noop sink (mode ``pipeline``).

Usage: python3 perfbench/engine.py CONFIG.json

It prints ``PERFBENCH {json}`` lines on stdout: one when it is ready, then
one reply per command it reads from stdin (one JSON object per line).
"""

from __future__ import annotations

import json
import sys
import time

T_START = time.perf_counter()

PREFIX = "PERFBENCH "


def reply(obj: dict) -> None:
    sys.stdout.write(PREFIX + json.dumps(obj) + "\n")
    sys.stdout.flush()


class Serve:
    """The catalog behind the HTTP, pg-wire and Flight frontends."""

    def __init__(self, cfg: dict, spark) -> None:
        from roapi_spark.catalog import Catalog
        from roapi_spark.config import KeyValueSource, TableSource
        from roapi_spark.server import ApiServer
        from roapi_spark.server.flight import SparkFlightServer
        from roapi_spark.server.postgres import PostgresServer

        self.spark = spark
        t0 = time.perf_counter()
        self.catalog = Catalog(spark, read_only=cfg["read_only"])
        self.loads = {}
        for name, uri, fmt in cfg["tables"]:
            t = time.perf_counter()
            self.catalog.load_table(TableSource(name=name, uri=uri, format=fmt))
            self.loads[name] = time.perf_counter() - t
        if cfg.get("kv"):
            t = time.perf_counter()
            self.catalog.load_kv(KeyValueSource(**cfg["kv"]))
            self.loads[cfg["kv"]["name"]] = time.perf_counter() - t
        self.catalog_s = time.perf_counter() - t0
        self.api = ApiServer(self.catalog)
        _, self.http_port = self.api.start("127.0.0.1", 0)
        self.pg = PostgresServer(self.catalog, "127.0.0.1", 0)
        self.pg.start()
        self.flight = SparkFlightServer(self.catalog, "grpc://127.0.0.1:0")
        self.tracer = None

    def ready(self) -> dict:
        return {"http": self.http_port, "pg": self.pg.port, "flight": self.flight.port,
                "catalog_s": self.catalog_s, "loads": self.loads}

    def command(self, cmd: dict) -> dict:
        if cmd["cmd"] == "trace_on":
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install_serving()
            return {}
        if cmd["cmd"] == "trace_dump":
            self.tracer.uninstall()
            counts = self.tracer.job_counts()
            self.tracer.dump(cmd["path"])
            return counts
        raise ValueError(f"unknown command {cmd}")

    def close(self) -> None:
        self.api.stop()
        self.pg.stop()
        self.flight.shutdown()


class Pipeline:
    """Registry query builders, run in this process with no frontend."""

    def __init__(self, cfg: dict, spark) -> None:
        from roapi_spark.plans.registry import load_all

        self.spark = spark
        self.sf_dir = cfg["sf_dir"]
        self.queries = cfg["queries"]
        specs = load_all()
        self.specs = {q: specs[q] for q in self.queries}
        self.tracer = None

    def ready(self) -> dict:
        return {}

    def command(self, cmd: dict) -> dict:
        if cmd["cmd"] == "check":
            return self.check()
        if cmd["cmd"] == "passes":
            return self.passes(cmd["count"])
        if cmd["cmd"] == "trace_on":
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install_streaming()
            return {}
        if cmd["cmd"] == "trace_dump":
            self.tracer.uninstall()
            counts = self.tracer.job_counts()
            self.tracer.dump(cmd["path"])
            return {**counts, "stream_batches": self.tracer.stream_batches}
        raise ValueError(f"unknown command {cmd}")

    def check(self) -> dict:
        """Untimed warm-up pass: every query against its registry oracle."""
        from roapi_spark.testing.oracle import compare, duckdb_conn

        conn = duckdb_conn(self.sf_dir)
        out = {}
        for q, spec in self.specs.items():
            t = time.perf_counter()
            try:
                r = compare(q, spec.builder(self.spark, self.sf_dir), conn, spec.oracle)
                out[q] = {"ok": r.ok, "detail": r.detail}
            except Exception as exc:  # noqa: BLE001 — reported as a failed check
                out[q] = {"ok": False, "detail": f"{type(exc).__name__}: {exc}"[:500]}
            out[q]["s"] = time.perf_counter() - t
        conn.close()
        return {"checks": out}

    def run_query(self, q: str) -> dict:
        """Build one query and run it through the noop sink; in a traced
        run, also count the Python operators and exchanges of its plan."""
        rec = {"q": q}
        t0 = time.perf_counter()
        df = self.specs[q].builder(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        rec["build_s"] = t1 - t0
        if self.tracer is not None:
            from tracing import plan_operators

            t = time.perf_counter()
            rec["python_operators"], rec["exchanges"] = plan_operators(
                df._jdf.queryExecution().executedPlan().toString())
            rec["plan_s"] = time.perf_counter() - t
            t1 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        rec["exec_s"] = time.perf_counter() - t1
        rec["s"] = time.perf_counter() - t0
        return rec

    def passes(self, count: int) -> dict:
        records, passes = [], []
        t0 = time.perf_counter()
        for _ in range(count):
            p0 = time.perf_counter()
            for q in self.queries:
                if self.tracer is not None:
                    with self.tracer.op("pipeline.query", q=q):
                        records.append(self.run_query(q))
                else:
                    records.append(self.run_query(q))
            passes.append(time.perf_counter() - p0)
        return {"records": records, "passes": passes, "elapsed": time.perf_counter() - t0}

    def close(self) -> None:
        pass


def main() -> int:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    from roapi_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    spark_s = time.perf_counter() - t
    system = (Serve if cfg["mode"] == "serve" else Pipeline)(cfg, spark)
    reply({"ready": True, "spark_start_s": spark_s,
           "process_s": time.perf_counter() - T_START, **system.ready()})
    try:
        for line in sys.stdin:
            cmd = json.loads(line)
            if cmd["cmd"] == "stop":
                break
            reply(system.command(cmd))
    finally:
        system.close()
        spark.stop()
    reply({"stopped": True})
    return 0


if __name__ == "__main__":
    sys.exit(main())
