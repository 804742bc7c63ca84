"""Outside-in tracing for the traced run: wrappers installed from the
benchmark's own files around the public entry points of each engine layer.

Each wrapper is patched at the name its caller looks up (``catalog.py``
imports the REST/GraphQL planners by name, ``server/http.py`` imports
``encode_dataframe`` by name, the Delta DML functions are imported at call
time from ``roapi_spark.sinks.delta``). Spans stay in memory as
``(id, name, start, end, parent, op, attrs)`` and are written out once,
when the traced window ends. The engine imports this module only for a
traced run.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

PYTHON_OPERATORS = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow", "AggregateInPandas", "WindowInPandas",
    "FlatMapGroupsInPandasWithState", "PythonMapInArrow", "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF",
)


def plan_operators(plan_text: str) -> tuple[int, int]:
    """(python operators, exchanges) in a physical plan's tree string."""
    py = ex = 0
    for line in plan_text.splitlines():
        node = line.lstrip(" :+-*()0123456789").split(" ", 1)[0].split("(", 1)[0]
        if node in PYTHON_OPERATORS:
            py += 1
        elif node.endswith("Exchange") and node != "ReusedExchange":
            ex += 1
    return py, ex


class Tracer:
    """Spans, job groups and streaming progress of one traced window, and
    the patches that record them (undone by ``uninstall``)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[tuple] = []
        self.groups: list[str] = []
        self.stream_batches: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._listener = None

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append((sid, name, start, end, parent,
                               getattr(self._local, "op", None), attrs))

    @contextmanager
    def op(self, name: str, **attrs):
        """A top-level operation: a new op id shared by its spans, and a
        Spark job group so its jobs, stages and tasks can be counted."""
        if getattr(self._local, "op", None) is not None:  # nested entry point
            with self.span(name, **attrs) as a:
                yield a
            return
        self._local.op = op_id = f"perfbench-op-{next(self._ids)}"
        self.spark.sparkContext.setJobGroup(op_id, name, False)
        self.groups.append(op_id)
        try:
            with self.span(name, **attrs) as a:
                yield a
        finally:
            self._local.op = None

    # -- patching ----------------------------------------------------------

    def _patch(self, owner: object, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def force_plan(self, df) -> None:
        with self.span("session.plan"):
            df._jdf.queryExecution().executedPlan()

    def install_serving(self) -> None:
        """Wrap every layer a request passes through on the way in and out."""
        import roapi_spark.catalog as catalog
        import roapi_spark.server.http as http
        import roapi_spark.sinks.delta as delta
        from pyspark.sql.classic.dataframe import DataFrame
        from roapi_spark.server import flight, postgres

        tr = self

        def entry(name):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.op(name):
                        return orig(*a, **kw)
                return wrapper
            return make

        self._patch(http.ApiServer, "handle", entry("server.http.handle"))
        self._patch(postgres._Handler, "_simple_query", entry("server.pg.query"))
        self._patch(flight.SparkFlightServer, "get_flight_info", entry("server.flight.info"))

        def planned(name):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.span(name):
                        df = orig(*a, **kw)
                    tr.force_plan(df)
                    return df
                return wrapper
            return make

        self._patch(catalog.Catalog, "query_sql", planned("catalog.query_sql"))
        self._patch(catalog, "rest_query_to_df", planned("query.rest.plan"))
        self._patch(catalog, "graphql_to_df", planned("query.graphql.plan"))

        def encode(orig):
            def wrapper(df, fmt):
                with tr.span("encoders.encode", fmt=fmt) as attrs:
                    out = orig(df, fmt)
                    attrs["bytes"] = len(out)
                return out
            return wrapper

        self._patch(http, "encode_dataframe", encode)

        def plain(name):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.span(name):
                        return orig(*a, **kw)
                return wrapper
            return make

        self._patch(DataFrame, "toArrow", plain("session.collect"))
        self._patch(DataFrame, "collect", plain("session.collect"))
        self._patch(catalog.Catalog, "load_table", plain("catalog.rebind"))

        def dml(kind, path_arg):
            def make(orig):
                def wrapper(*a, **kw):
                    path = a[path_arg]
                    before = _log_versions(path)
                    with tr.span(f"sinks.delta.{kind}") as attrs:
                        out = orig(*a, **kw)
                    attrs["commits"] = _log_versions(path) - before
                    return out
                return wrapper
            return make

        self._patch(delta, "update_delta", dml("update", 1))
        self._patch(delta, "delete_delta", dml("delete", 1))
        self._patch(delta, "write_delta", dml("insert", 1))

    def install_streaming(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.stream_batches

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                batches.append({
                    "ms": float((p.durationMs or {}).get("triggerExecution", 0)),
                    "rows_updated": sum(o.numRowsUpdated for o in ops),
                    "rows_total": sum(o.numRowsTotal for o in ops),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    # -- output ------------------------------------------------------------

    def job_counts(self) -> dict[str, float]:
        """Jobs, stages, tasks and failed tasks per traced operation, read
        from the status tracker once the traced window is over."""
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = failed = 0
        for gid in self.groups:
            for jid in st.getJobIdsForGroup(gid):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    s = st.getStageInfo(sid)
                    if s is not None:
                        stages += 1
                        tasks += s.numTasks
                        failed += s.numFailedTasks
        n = max(len(self.groups), 1)
        return {"session.jobs_per_op": jobs / n, "session.stages_per_op": stages / n,
                "session.tasks_per_op": tasks / n, "session.failed_tasks": failed,
                "ops": len(self.groups)}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, name, start, end, parent, op, attrs in self.spans:
                fh.write(json.dumps({"id": sid, "name": name, "start": start, "end": end,
                                     "parent": parent, "op": op, "attrs": attrs}) + "\n")


def _log_versions(table_path: str) -> int:
    return sum(f.endswith(".json") for f in os.listdir(os.path.join(table_path, "_delta_log")))


def median(xs: list[float]) -> float:
    """The median; 0 for an empty sample (a layer that did not run)."""
    return statistics.median(xs) if xs else 0.0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its direct children cover."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in out:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def serving_metrics(spans: list[dict]) -> dict[str, float]:
    """Per-layer medians (ms) and counts from one traced serving window."""
    writes = {s["op"] for s in spans if s["name"].startswith("sinks.delta.")}
    by: dict[str, list[dict]] = {}
    reads: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
        if s["op"] not in writes:
            reads.setdefault(s["name"], []).append(s)
    own = self_times(spans)

    def p50_ms(name: str, among: dict[str, list[dict]] = by) -> float:
        return 1000 * median([s["end"] - s["start"] for s in among.get(name, [])])

    m = {  # the read path is timed on read operations only
        "server.http.handle_ms": p50_ms("server.http.handle", reads),
        "query.rest.plan_ms": p50_ms("query.rest.plan"),
        "query.graphql.plan_ms": p50_ms("query.graphql.plan"),
        "catalog.query_sql_ms": p50_ms("catalog.query_sql", reads),
        "catalog.rebinds": float(len(by.get("catalog.rebind", []))),
        "catalog.rebind_ms": p50_ms("catalog.rebind"),
        "session.plan_ms": p50_ms("session.plan", reads),
        "session.collect_ms": p50_ms("session.collect", reads),
    }
    enc = by.get("encoders.encode", [])
    for fmt, label in (("json", "json"), ("arrows", "arrow"), ("csv", "csv")):
        m[f"encoders.encode_ms.{label}"] = 1000 * median(
            [own[s["id"]] for s in enc if s["attrs"].get("fmt") == fmt])
    out_bytes = sum(s["attrs"].get("bytes", 0) for s in enc)
    enc_s = sum(own[s["id"]] for s in enc)
    m["encoders.bytes_out"] = float(out_bytes)
    m["encoders.mb_per_s"] = out_bytes / 1e6 / enc_s if enc_s > 0 else 0.0
    dml = [s for s in spans if s["name"].startswith("sinks.delta.")]
    for kind in ("update", "insert", "delete"):
        m[f"sinks.delta.dml_ms.{kind}"] = p50_ms(f"sinks.delta.{kind}")
    m["sinks.delta.commits_per_statement"] = (
        sum(s["attrs"].get("commits", 0) for s in dml) / len(dml) if dml else 0.0)
    return m
