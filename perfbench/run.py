"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run makes its inputs from the seed in
a private directory under ``.perfbench/`` (removed afterwards), starts the
engine in its own process (``engine.py``), drives it closed-loop from a
separate load-generator process (``loadgen.py``) or, for
``pipeline_batch``, has it run passes over registry queries, checks every
answer, and prints ``note``/``metric`` lines followed by one JSON line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones. With ``--trace 1`` a window of S seconds
runs with the layer wrappers of ``tracing.py`` installed and gives the
per-layer metrics; untraced windows of S/4 before and after it give the
tracing overhead. README.md beside this file maps metrics to layers.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from tracing import median  # noqa: E402

PREFIX = "PERFBENCH "
RUN_LIMIT_S = 140  # leaves time for teardown within the 180 s a run may take
API_SCALE = 0.1
PIPELINE_SCALE = 0.01
PIPELINE_QUERIES = (
    "dedup_simhash", "text_quality_gopher", "multimodal_image_stats",
    "stream_url_frontier", "q9_product_type_profit",
)
KV = {"name": "customer_kv", "key": "c_custkey", "value": "c_name", "format": "parquet"}
# a bounded driver heap keeps peak RSS repeatable and the host's memory
# free; the engine's own default is 8g
DRIVER_MEM = "2g"
# Throughput keeps rising for ~45 s after set-up (JIT, code generation for
# new plans). The warm-up is a fixed amount of work rather than of time, so
# every run, on a fast or a slow host, starts its window equally warm.
WARMUP_READS = 40
# pipeline_batch measures whole passes, one per PASS_S of --seconds: a
# count, not a deadline, so a slow host cannot trade a warm pass for none
PASS_S = 8

# name -> (unit, which direction is better); BENCHMARK.json lists the same
END_TO_END = {
    "setup_s": ("s", "lower"), "peak_rss_mb": ("MB", "lower"), "ops_per_s": ("1/s", "higher"),
    "latency_p50_ms": ("ms", "lower"), "latency_p90_ms": ("ms", "lower"),
}
PER_LAYER = {
    "server.http.handle_ms": ("ms", "lower"), "server.http.wire_ms": ("ms", "lower"),
    "server.pg.latency_ms": ("ms", "lower"), "server.flight.latency_ms": ("ms", "lower"),
    "query.rest.plan_ms": ("ms", "lower"), "query.graphql.plan_ms": ("ms", "lower"),
    "catalog.query_sql_ms": ("ms", "lower"), "catalog.rebinds": ("count", "lower"),
    "catalog.rebind_ms": ("ms", "lower"),
    "session.plan_ms": ("ms", "lower"), "session.collect_ms": ("ms", "lower"),
    "session.jobs_per_op": ("count", "lower"), "session.stages_per_op": ("count", "lower"),
    "session.tasks_per_op": ("count", "lower"), "session.failed_tasks": ("count", "lower"),
    "session.exec_s": ("s", "lower"), "session.python_operators": ("count", "lower"),
    "session.exchanges": ("count", "lower"),
    "encoders.encode_ms.json": ("ms", "lower"), "encoders.encode_ms.arrow": ("ms", "lower"),
    "encoders.encode_ms.csv": ("ms", "lower"), "encoders.bytes_out": ("bytes", "lower"),
    "encoders.mb_per_s": ("MB/s", "higher"),
    **{f"sources.load_s.{t}": ("s", "lower") for t in (*datagen.TPCH_TABLES, KV["name"])},
    "sinks.delta.dml_ms.update": ("ms", "lower"), "sinks.delta.dml_ms.insert": ("ms", "lower"),
    "sinks.delta.dml_ms.delete": ("ms", "lower"),
    "sinks.delta.commits_per_statement": ("count", "lower"),
    "sinks.delta.write_p50_ms": ("ms", "lower"), "sinks.delta.writes_per_s": ("1/s", "higher"),
    "plans.build_s": ("s", "lower"),
    **{f"plans.build_s.{q}": ("s", "lower") for q in PIPELINE_QUERIES},
    **{f"session.exec_s.{q}": ("s", "lower") for q in PIPELINE_QUERIES},
    **{f"session.python_operators.{q}": ("count", "lower") for q in PIPELINE_QUERIES},
    "streaming.batches": ("count", "lower"), "streaming.batch_ms": ("ms", "lower"),
    "streaming.state_rows_updated": ("count", "lower"),
    "streaming.state_rows_total": ("count", "lower"),
    "setup.spark_start_s": ("s", "lower"), "setup.catalog_s": ("s", "lower"),
    "trace.overhead_p50_ms": ("ms", "lower"), "trace.overhead_ops_per_s": ("1/s", "lower"),
}


class RunError(RuntimeError):
    pass


def p90(xs: list[float]) -> float:
    """Nearest-rank 90th percentile; 0 for an empty sample."""
    s = sorted(xs)
    return s[max(0, -(-9 * len(s) // 10) - 1)] if s else 0.0


# -- processes -------------------------------------------------------------------


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 3 and 6 of stat: state and session id; zombies hold nothing
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


class Proc:
    """A child process in its own session, spoken to in JSON lines."""

    def __init__(self, name: str, argv: list[str], cwd: str, env: dict, log: str) -> None:
        self.name = name
        self.log = log
        self._log_fh = open(log, "wb")
        self.p = subprocess.Popen(
            argv, cwd=cwd, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log_fh, text=True, start_new_session=True,
        )

    def read(self) -> dict:
        while True:
            line = self.p.stdout.readline()
            if not line:
                raise RunError(f"{self.name} exited early; last log lines:\n{self.tail()}")
            if line.startswith(PREFIX):
                return json.loads(line[len(PREFIX):])

    def ask(self, cmd: dict) -> dict:
        self.p.stdin.write(json.dumps(cmd) + "\n")
        self.p.stdin.flush()
        return self.read()

    def tail(self, n: int = 15) -> str:
        self._log_fh.flush()
        with open(self.log, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])

    def peak_rss_mb(self) -> float:
        """Sum of the peak resident sets of every process in the session:
        the Python driver, the JVM and any Python workers."""
        total = 0
        for pid in _session_pids(self.p.pid):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    total += sum(int(line.split()[1]) for line in fh
                                 if line.startswith("VmHWM:"))
            except OSError:
                pass
        return total / 1024

    def stop(self, cmd: dict, timeout: float = 20) -> None:
        """Ask the process to exit, then make sure its whole session is gone."""
        try:
            if self.p.poll() is None:
                self.p.stdin.write(json.dumps(cmd) + "\n")
                self.p.stdin.close()
                self.p.wait(timeout)
        except (OSError, subprocess.TimeoutExpired, ValueError):
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if self.p.poll() is not None and not _session_pids(self.p.pid):
                break
            try:
                os.killpg(self.p.pid, sig)
            except ProcessLookupError:
                pass
            deadline = time.monotonic() + 10
            while time.monotonic() < deadline:
                if self.p.poll() is not None and not _session_pids(self.p.pid):
                    break
                time.sleep(0.1)
        self.p.wait()
        self._log_fh.close()


# -- one run ---------------------------------------------------------------------


class Run:
    """A run's private directory, environment, child processes and tallies."""

    def __init__(self, root: str, args: argparse.Namespace) -> None:
        self.t0 = time.perf_counter()
        self.root = root
        self.args = args
        self.dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("data", "cache", "local", "work", "tmp"):
            os.makedirs(os.path.join(self.dir, sub))
        self.data = os.path.join(self.dir, "data")
        tmp = os.path.join(self.dir, "tmp")
        self.ncpu = len(os.sched_getaffinity(0))
        self.env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(self.ncpu),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_GRAFT_CACHE_DIR=os.path.join(self.dir, "cache"),
            SPARK_LOCAL_DIRS=os.path.join(self.dir, "local"),
            # Python workers import roapi_spark from the checkout
            PYTHONPATH=os.pathsep.join(
                [root, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
            # temporary files of Python, the JVM and Spark stay in the run dir
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        self.procs: list[Proc] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.notes: dict[str, object] = {}

    def spawn(self, name: str, script: str, config: object) -> Proc:
        path = os.path.join(self.dir, f"{name}.json")
        with open(path, "w") as fh:
            json.dump(config, fh)
        proc = Proc(name, [sys.executable, os.path.join(HERE, script), path],
                    os.path.join(self.dir, "work"), self.env,
                    os.path.join(self.dir, f"{name}.log"))
        self.procs.append(proc)
        return proc

    def start_engine(self, cfg: dict) -> tuple[Proc, dict, float]:
        """Start the engine; returns it, its ready message and set-up time."""
        self.notes["inputs_s"] = round(time.perf_counter() - self.t0, 2)
        t0 = time.perf_counter()
        engine = self.spawn("engine", "engine.py", cfg)
        ready = engine.read()
        return engine, ready, time.perf_counter() - t0

    def fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)

    def spans_path(self) -> str:
        return os.path.join(self.root, ".perfbench",
                            f"spans-{self.args.workload}-{self.args.seed}.jsonl")

    def close(self) -> None:
        t0 = time.perf_counter()
        for proc in reversed(self.procs):
            proc.stop({"cmd": "stop", "quit": True})
        shutil.rmtree(self.dir, ignore_errors=True)
        print(f"perfbench: teardown {time.perf_counter() - t0:.1f} s", file=sys.stderr)


# -- api_serve -------------------------------------------------------------------


def reads(phase: dict) -> tuple[float, list[float]]:
    """(successful reads per second, their latencies in ms) in a window."""
    lat = [1000 * r["latency"] for r in phase["records"]
           if r["ok"] and r["in_window"] and not r["write"]]
    return len(lat) / phase["seconds"], lat


def api_serve(run: Run) -> dict[str, float]:
    import duckdb

    args = run.args
    tables = datagen.make_tables(args.seed, args.scale or API_SCALE, datagen.TPCH_TABLES)
    datagen.write_tables({k: t for k, t in tables.items() if k != "orders"}, run.data)
    delta = os.path.join(run.data, "orders_delta")
    datagen.write_delta_copy(tables["orders"], delta, files=8)
    conn = duckdb.connect()
    for name, t in tables.items():
        conn.register(name, t)
    mix = workloads.serve_mix(args.seed, {k: t.num_rows for k, t in tables.items()},
                              per_client=50)[: run.ncpu]
    workloads.attach_expected(mix, conn, {k: t.column_names for k, t in tables.items()})

    sources = [[n, os.path.join(run.data, f"{n}.parquet"), "parquet"]
               for n in tables if n != "orders"] + [["orders", delta, "delta"]]
    kv = dict(KV, uri=os.path.join(run.data, "customer.parquet"))
    engine, ready, setup_s = run.start_engine(
        {"mode": "serve", "tables": sources, "kv": kv, "read_only": False})
    gen = run.spawn("loadgen", "loadgen.py", {"clients": mix})
    ports = {k: ready[k] for k in ("http", "pg", "flight")}
    first = {"ports": ports, "warmup_reads": WARMUP_READS}
    if args.trace:
        # untraced, traced, untraced: the load is still warming up, and
        # the order keeps that trend out of the overhead estimate
        phases = {"untraced": gen.ask({**first, "seconds": args.seconds / 4})}
        engine.ask({"cmd": "trace_on"})
        phases["traced"] = gen.ask({"ports": ports, "seconds": args.seconds})
        counts = engine.ask({"cmd": "trace_dump", "path": run.spans_path()})
        phases["untraced2"] = gen.ask({"ports": ports, "seconds": args.seconds / 4})
        window = phases["traced"]
    else:
        phases = {"measure": gen.ask({**first, "seconds": args.seconds})}
        window = phases["measure"]
    gen.stop({"quit": True})
    for phase in phases.values():
        run.attempted += len(phase["records"])
        run.failed += sum(not r["ok"] for r in phase["records"])
        run.failures += phase["errors"]

    # replay the acknowledged DML in DuckDB (one client writes, so in
    # order) and compare the table the server ends with
    replay = duckdb.connect()
    replay.register("orders_src", tables["orders"])
    replay.execute("CREATE TABLE orders AS SELECT * FROM orders_src")
    by_id = {r["id"]: r for r in mix[0]}
    acked = [by_id[r["id"]]["sql"] for phase in phases.values()
             for r in phase["records"] if r["write"] and r["ok"]]
    for sql in acked:
        replay.execute(sql)
    want = replay.execute(workloads.FINAL_SQL).fetchone()
    h = http.client.HTTPConnection("127.0.0.1", ready["http"], timeout=120)
    h.request("POST", "/api/sql", body=workloads.FINAL_SQL.encode(),
              headers={"Accept": "application/json"})
    got = json.loads(h.getresponse().read())[0]
    h.close()
    run.attempted += 1
    if got["n"] != want[0] or not workloads.same(got["total"], want[1]):
        run.fail(f"final orders {got} != DuckDB replay {want}")

    writes = [1000 * r["latency"] for r in window["records"] if r["write"] and r["ok"]]
    ops, lat = reads(window)
    by_kind: dict[str, list[float]] = {}
    for r in window["records"]:
        if r["ok"] and r["in_window"]:
            by_kind.setdefault(f'{r["proto"]}.{r["kind"]}', []).append(1000 * r["latency"])
    run.notes.update({
        "peak_rss_mb": engine.peak_rss_mb(),
        "warmup_reads": WARMUP_READS,
        "warmup_s": round(phases.get("measure", phases.get("untraced"))["warmup_s"], 2),
        "reads_in_window": len(lat),
        "write_p50_ms": round(median(writes), 1),
        "writes_per_s": round(len(writes) / window["seconds"], 3),
        "writes_acked": len(acked),
        "window_p50_ms_by_kind": {k: (len(v), round(median(v))) for k, v in sorted(by_kind.items())},
    })
    if not args.trace:
        return {"setup_s": setup_s, "peak_rss_mb": run.notes["peak_rss_mb"],
                "ops_per_s": ops, "latency_p50_ms": median(lat), "latency_p90_ms": p90(lat)}

    with open(run.spans_path()) as fh:
        spans = [json.loads(line) for line in fh]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(tracing.serving_metrics(spans))
    m.update({k: v for k, v in counts.items() if k in PER_LAYER})

    def client_p50(proto: str) -> float:
        return 1000 * median([r["latency"] for r in window["records"]
                              if r["ok"] and r["proto"] == proto and not r["write"]])

    m["server.http.wire_ms"] = client_p50("http") - m["server.http.handle_ms"]
    m["server.pg.latency_ms"] = client_p50("pg")
    m["server.flight.latency_ms"] = client_p50("flight")
    m["sinks.delta.write_p50_ms"] = median(writes)
    m["sinks.delta.writes_per_s"] = len(writes) / window["seconds"]
    m["setup.spark_start_s"] = ready["spark_start_s"]
    m["setup.catalog_s"] = ready["catalog_s"]
    for name, s in ready["loads"].items():
        m[f"sources.load_s.{name}"] = s
    ops_a, lat_a = reads(phases["untraced"])
    ops_a2, lat_a2 = reads(phases["untraced2"])
    m["trace.overhead_p50_ms"] = median(lat) - median(lat_a + lat_a2)
    m["trace.overhead_ops_per_s"] = (ops_a + ops_a2) / 2 - ops
    return m


# -- pipeline_batch --------------------------------------------------------------


def pipeline_batch(run: Run) -> dict[str, float]:
    args = run.args
    datagen.write_tables(datagen.make_tables(args.seed, args.scale or PIPELINE_SCALE), run.data)
    engine, ready, setup_s = run.start_engine(
        {"mode": "pipeline", "sf_dir": run.data, "queries": list(PIPELINE_QUERIES)})
    checks = engine.ask({"cmd": "check"})["checks"]
    run.attempted += len(checks)
    for q, c in checks.items():
        if not c["ok"]:
            run.fail(f"{q}: {c['detail']}")
    run.notes["warmup_s"] = round(sum(c["s"] for c in checks.values()), 2)
    run.notes["warmup_by_query_s"] = {q: round(c["s"], 2) for q, c in checks.items()}
    def passes(seconds: float) -> dict:
        return engine.ask({"cmd": "passes", "count": max(1, round(seconds / PASS_S))})

    if args.trace:  # untraced, traced, untraced, as for api_serve
        untraced = passes(args.seconds / 4)
        engine.ask({"cmd": "trace_on"})
        window = passes(args.seconds)
        counts = engine.ask({"cmd": "trace_dump", "path": run.spans_path()})
        untraced2 = passes(args.seconds / 4)
    else:
        window = passes(args.seconds)
    run.notes["peak_rss_mb"] = engine.peak_rss_mb()
    run.notes["passes_s"] = [round(p, 3) for p in window["passes"]]
    run.notes["pass_s"] = round(median(window["passes"]), 3)
    recs = window["records"]
    run.attempted += len(recs)
    # A pass is what a user waits for. Per-query times are too few, and too
    # unlike each other, for a steady percentile.
    passes_ms = [1000 * p for p in window["passes"]]
    if not args.trace:
        return {"setup_s": setup_s, "peak_rss_mb": run.notes["peak_rss_mb"],
                "ops_per_s": len(recs) / window["elapsed"],
                "latency_p50_ms": median(passes_ms), "latency_p90_ms": p90(passes_ms)}

    n_pass = len(window["passes"])

    def per_pass(key: str, q: str | None = None) -> float:
        return sum(r[key] for r in recs if q is None or r["q"] == q) / n_pass

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({k: v for k, v in counts.items() if k in PER_LAYER})
    m["plans.build_s"] = per_pass("build_s")
    m["session.exec_s"] = per_pass("exec_s")
    m["session.plan_ms"] = 1000 * median([r["plan_s"] for r in recs])
    m["session.python_operators"] = per_pass("python_operators")
    m["session.exchanges"] = per_pass("exchanges")
    for q in PIPELINE_QUERIES:
        m[f"plans.build_s.{q}"] = per_pass("build_s", q)
        m[f"session.exec_s.{q}"] = per_pass("exec_s", q)
        m[f"session.python_operators.{q}"] = per_pass("python_operators", q)
    batches = counts["stream_batches"]
    m["streaming.batches"] = len(batches) / n_pass
    m["streaming.batch_ms"] = median([b["ms"] for b in batches])
    m["streaming.state_rows_updated"] = sum(b["rows_updated"] for b in batches) / n_pass
    m["streaming.state_rows_total"] = max([b["rows_total"] for b in batches], default=0)
    m["setup.spark_start_s"] = ready["spark_start_s"]
    plain = [untraced, untraced2]
    m["trace.overhead_p50_ms"] = median(passes_ms) - median(
        [1000 * p for u in plain for p in u["passes"]])
    m["trace.overhead_ops_per_s"] = (
        sum(len(u["records"]) for u in plain) / sum(u["elapsed"] for u in plain)
        - len(recs) / window["elapsed"])
    return m


WORKLOADS = {"api_serve": api_serve, "pipeline_batch": pipeline_batch}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="data scale factor (default: 0.1 serving, 0.01 pipeline)")
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "roapi_spark", "catalog.py")):
        print("perfbench: run from the root of a roapi_spark checkout", file=sys.stderr)
        return 2

    def timeout(signum, frame):
        raise RunError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, timeout)
    signal.alarm(RUN_LIMIT_S)
    t0 = time.perf_counter()
    run = Run(root, args)
    try:
        metrics = WORKLOADS[args.workload](run)
    except RunError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        run.close()
    units = PER_LAYER if args.trace else END_TO_END
    for note, value in sorted(run.notes.items()):
        print(f"note {args.workload} {note} = {value}")
    print(f"note {args.workload} error_rate = {run.failed / max(run.attempted, 1)}"
          f" ({run.failed}/{run.attempted})")
    print(f"note {args.workload} run_wall_s = {time.perf_counter() - t0:.1f}")
    for err in run.failures[:10]:
        print(f"FAIL {args.workload}: {err}")
    for name, (unit, _) in units.items():
        print(f"metric {args.workload} {name} = {metrics[name]:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0 and not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, (u, _) in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
