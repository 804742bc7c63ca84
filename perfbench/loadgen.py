"""Closed-loop load generator, in a process of its own: one thread per
client, each sending its next request only after the previous reply.
Every reply is checked against the request's expected answer.

Usage: python3 perfbench/loadgen.py REQUESTS.json

REQUESTS.json holds ``{"clients": [[request, ...], ...]}``. Commands
arrive on stdin, one JSON object per line:

    {"ports": {...}, "warmup_reads": n, "seconds": s}
        one phase: a warm-up of n completed reads, then a measured window
    {"quit": true}

and each phase's records are printed as one ``PERFBENCH {json}`` line.
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time

import workloads

PREFIX = "PERFBENCH "
MAX_ERRORS = 5


class Client:
    def __init__(self, requests: list[dict], ports: dict) -> None:
        self.requests = requests
        self.ports = ports
        self.proto = requests[0]["proto"]
        self.next = 0
        self.conn = None

    def connect(self) -> None:
        if self.proto == "http":
            self.conn = http.client.HTTPConnection("127.0.0.1", self.ports["http"], timeout=120)
        elif self.proto == "pg":
            from roapi_spark.sources.pgwire import PgWireClient

            self.conn = PgWireClient("127.0.0.1", self.ports["pg"], timeout=120)
        else:
            import pyarrow.flight as flight

            self.conn = flight.FlightClient(f"grpc://127.0.0.1:{self.ports['flight']}")

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None

    def send(self, r: dict) -> str | None:
        """Send one request; None when the reply is correct, else why not."""
        expect = r["expect"]
        if self.proto == "http":
            headers = {"Accept": r["accept"]}
            body = r.get("body", "").encode() or None
            try:
                self.conn.request(r["method"], r["path"], body=body, headers=headers)
                resp = self.conn.getresponse()
                data = resp.read()
            except (OSError, http.client.HTTPException) as exc:
                self.conn.close()
                return f"{type(exc).__name__}: {exc}"
            if resp.status != 200:
                return f"HTTP {resp.status}: {data[:200]!r}"
            if not expect:
                return None
            if "text" in expect:
                got = data.decode()
                return None if got == expect["text"] else f"kv {got!r} != {expect['text']!r}"
            if "fields" in expect:
                names = [f["name"] for f in json.loads(data)["fields"]]
                return None if names == expect["fields"] else f"schema {names}"
            return workloads.rows_match(workloads.decode_http(data, r["accept"]), expect)
        if self.proto == "pg":
            res = self.conn.query(r["sql"])
            rows = [dict(zip(res.columns, row)) for row in res.rows]
        else:
            import pyarrow.flight as flight

            from roapi_spark.server import flightsql_proto as fsp

            desc = flight.FlightDescriptor.for_command(fsp.command_statement_query(r["sql"]))
            info = self.conn.get_flight_info(desc)
            rows = self.conn.do_get(info.endpoints[0].ticket).read_all().to_pylist()
        return workloads.rows_match(rows, expect) if expect else None

    def run(self, phase: "Phase", out: list) -> None:
        """Closed loop until the phase's stop time; appends one record per
        request, including the one in flight when the phase stops."""
        while time.perf_counter() < phase.stop_at:
            r = self.requests[self.next % len(self.requests)]
            self.next += 1
            t0 = time.perf_counter()
            try:
                if self.conn is None:
                    self.connect()
                err = self.send(r)
            except Exception as exc:  # noqa: BLE001 — a failed request, counted
                err = f"{type(exc).__name__}: {exc}"[:300]
                self.close()  # reconnect on the next request
            out.append((r["id"], r["proto"], r["kind"], bool(r.get("write")), t0,
                        time.perf_counter(), err))


class Phase:
    """One stretch of closed-loop load: a warm-up that lasts until
    ``warmup_reads`` reads have completed, then a measured window of
    ``seconds``. The clients keep running across the boundary, which is
    drawn by completion time; after the window each client finishes the
    request it has in flight."""

    def __init__(self, clients: list[Client], cmd: dict) -> None:
        self.clients = clients
        self.warmup_reads = cmd.get("warmup_reads", 0)
        self.seconds = cmd["seconds"]
        self.stop_at = float("inf")

    def run(self) -> dict:
        outs: list[list] = [[] for _ in self.clients]
        threads = [threading.Thread(target=c.run, args=(self, o))
                   for c, o in zip(self.clients, outs)]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        while self.warmup_reads and sum(
            not write and err is None for out in outs for *_, write, _, _, err in list(out)
        ) < self.warmup_reads:
            time.sleep(0.05)
        start = time.perf_counter()
        self.stop_at = start + self.seconds
        for t in threads:
            t.join()
        records = [
            {"id": rid, "proto": proto, "kind": kind, "write": write, "start": s - start,
             "latency": e - s, "ok": err is None, "in_window": start < e <= self.stop_at}
            for out in outs for rid, proto, kind, write, s, e, err in out
        ]
        errors = [err for out in outs for *_, err in out if err is not None]
        return {"seconds": self.seconds, "warmup_s": start - t0, "records": records,
                "errors": errors[:MAX_ERRORS]}


def main() -> int:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    clients = None
    try:
        for line in sys.stdin:
            cmd = json.loads(line)
            if cmd.get("quit"):
                break
            if clients is None:
                clients = [Client(reqs, cmd["ports"]) for reqs in spec["clients"]]
            res = Phase(clients, cmd).run()
            sys.stdout.write(PREFIX + json.dumps(res) + "\n")
            sys.stdout.flush()
    finally:
        for c in clients or ():
            c.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
