"""The ``arrow_io`` workload: the Flight SQL endpoint runs in its own
process, started the way a user deploys it (the CLI with
``--flightsql-port``, tables registered by ``CREATE EXTERNAL TABLE`` on its
stdin), and closed-loop client threads in this process (``CLIENTS``) run a
seeded mix.

Clients run rounds, starting each together; a round is the statements below
in a seeded order, the same for every client.  Exports time
``GetFlightInfo`` through the last ``DoGet`` batch; writes are ``DoPut``
``CommandStatementUpdate`` calls that overwrite a lineitem projection into
the client's own parquet table under the run's work directory.
"""

from __future__ import annotations

import os
import queue
import random
import re
import signal
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.flight as flight

from spans import Tracer, exec_metrics, job_wall_s, peak_rss_mb, read_event_log, span_ms

EXPORTS = {
    "large": "SELECT * FROM lineitem",
    "medium": "SELECT * FROM orders",
}
WRITE_COLS = ("l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice, "
              "l_discount, l_shipdate")
KINDS = ["large", "medium", "write"]
TABLES = ["lineitem", "orders"]
# One client: with two, both exporting lineitem at once, the endpoint's
# driver JVM (default 1 GiB heap) ran out of heap in one run in five with
# this warm-up (see README.md).  Two is the mix to go back to once DoGet
# bounds its driver memory.
CLIENTS = 1


def _fingerprint(con, relation: str) -> tuple:
    """Row count and order-insensitive content hash of ``relation``."""
    return con.sql(f"SELECT count(*), sum(hash(t)) FROM ({relation}) t").fetchone()


def _naive(table: pa.Table) -> pa.Table:
    """Drop the UTC zone from timestamp columns so they hash like the
    parquet source's zone-less timestamps."""
    for i, field in enumerate(table.schema):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            table = table.set_column(
                i, field.name, table.column(i).cast(pa.timestamp(field.type.unit))
            )
    return table


class FlightMix:
    def __init__(self, root: str, work: str, data_dir: str, seed: int,
                 tracer: Tracer):
        self.root = root
        self.work = work
        self.data_dir = data_dir
        self.seed = seed
        self.tracer = tracer
        self.first: dict[str, pa.Table] = {}
        self.sinks = [os.path.join(work, "sink", f"c{c}") for c in range(CLIENTS)]
        self._lines: queue.Queue = queue.Queue()

    # -- the endpoint process ----------------------------------------------

    def start(self, master: str, shuffle_partitions: int) -> None:
        from datafusion_ballista_python_spark.flightsql import execute_update

        self.log_path = os.path.join(self.work, "endpoint.log")
        with self.tracer.span("session.start"), open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, "-u", "-m", "datafusion_ballista_python_spark.cli",
                 "--master", master, "--shuffle-partitions", str(shuffle_partitions),
                 "--flightsql-port", "0"],
                cwd=self.root, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                stderr=log, text=True, bufsize=1, start_new_session=True,
            )
            threading.Thread(target=self._pump, daemon=True).start()
            port = int(self._await(r"FlightSQL endpoint: grpc://[\d.]+:(\d+)", 120).group(1))
        self.location = f"grpc://127.0.0.1:{port}"
        with self.tracer.span("context.register"):
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                self.proc.stdin.write(
                    f"CREATE EXTERNAL TABLE {t} STORED AS PARQUET LOCATION '{path}';\n"
                )
                self.proc.stdin.flush()
                self._await(r"OK$", 120)
            client = flight.FlightClient(self.location)
            for c, sink in enumerate(self.sinks):
                execute_update(client, (
                    f"CREATE TABLE sink_c{c} USING parquet LOCATION '{sink}' "
                    f"AS SELECT {WRITE_COLS} FROM lineitem WHERE false"
                ))
            client.close()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line.rstrip("\n"))
        self._lines.put(None)

    def _await(self, pattern: str, timeout: float) -> re.Match:
        deadline = time.monotonic() + timeout
        while True:
            try:
                line = self._lines.get(timeout=max(0.0, deadline - time.monotonic()))
            except queue.Empty:
                line = None
            if line is None:
                raise RuntimeError(f"endpoint never printed {pattern!r}; "
                                   f"see its log: {self._log_tail()}")
            m = re.search(pattern, line)
            if m:
                return m

    def _log_tail(self) -> str:
        with open(self.log_path, errors="replace") as fh:
            return fh.read()[-2000:]

    def peak_rss_mb(self) -> float:
        """VmHWM of the endpoint's Python process, which hosts the Spark
        driver and where every result lands before it is streamed."""
        return peak_rss_mb(self.proc.pid)

    def stop(self) -> None:
        """Quit the REPL (closing its stdin) and wait for the endpoint; kill
        its process group if it does not exit."""
        if not hasattr(self, "proc"):
            return
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait(timeout=30)

    # -- the closed loop ---------------------------------------------------

    def _export(self, client, c: int, kind: str, op_id: str, tracer: Tracer) -> dict:
        from datafusion_ballista_python_spark.flightsql import statement_query_descriptor

        sql = EXPORTS[kind]
        t0 = time.perf_counter()
        with tracer.span("op", op=op_id, stmt=kind):
            with tracer.span("flightsql.get_flight_info"):
                info = client.get_flight_info(statement_query_descriptor(sql))
            t1 = time.perf_counter()
            with tracer.span("flightsql.do_get") as sp:
                reader = client.do_get(info.endpoints[0].ticket)
                batches, first = [], None
                while True:
                    try:
                        chunk = reader.read_chunk()
                    except StopIteration:
                        break
                    if first is None:
                        first = time.perf_counter()
                    batches.append(chunk.data)
                sp["batches"] = len(batches)
        t2 = time.perf_counter()
        table = pa.Table.from_batches(batches, schema=reader.schema)
        self.first.setdefault(kind, table)
        return {"stmt": kind, "client": c, "lat": t2 - t0, "gfi_s": t1 - t0,
                "get_s": t2 - t1, "first_s": (first or t2) - t1,
                "batches": len(batches), "rows": table.num_rows,
                "bytes": table.nbytes}

    def _write(self, client, c: int, op_id: str, tracer: Tracer) -> dict:
        from datafusion_ballista_python_spark.flightsql import execute_update

        sql = f"INSERT OVERWRITE TABLE sink_c{c} SELECT {WRITE_COLS} FROM lineitem"
        t0 = time.perf_counter()
        with tracer.span("op", op=op_id, stmt="write"):
            with tracer.span("flightsql.do_put"):
                execute_update(client, sql)
        lat = time.perf_counter() - t0
        return {"stmt": "write", "client": c, "lat": lat, "put_s": lat,
                "rows": 0, "bytes": 0, "batches": 0}

    def _client(self, c: int, phase: str, schedule: list, traced: bool,
                barrier: threading.Barrier) -> list[dict]:
        tracer = self.tracer if traced else Tracer(False)
        client = flight.FlightClient(self.location)
        ops: list[dict] = []
        try:
            round_no = 0
            while True:
                barrier.wait(timeout=300)  # the action appends the next round, or None
                order = schedule[round_no]
                if order is None:
                    break
                for kind in order:
                    op_id = f"{phase}:c{c}:r{round_no}:{kind}"
                    t0 = time.perf_counter()
                    try:
                        rec = (self._write(client, c, op_id, tracer) if kind == "write"
                               else self._export(client, c, kind, op_id, tracer))
                        rec["ok"] = True
                    except Exception as e:  # reported as a failed op, never dropped
                        rec = {"stmt": kind, "client": c, "ok": False, "rows": 0,
                               "bytes": 0, "batches": 0,
                               "lat": time.perf_counter() - t0,
                               "error": f"{type(e).__name__}: {str(e)[:300]}"}
                    rec.update(phase=phase, round=round_no, t0=t0,
                               t1=time.perf_counter())
                    ops.append(rec)
                round_no += 1
        except BaseException:
            barrier.abort()  # release the other client instead of leaving it waiting
            raise
        finally:
            client.close()
        return ops

    def run(self, phase: str, seconds: float, traced: bool = False) -> tuple[list[dict], float]:
        """Clients run rounds, starting each together, until ``seconds``
        have passed (at least one round).  A round is a seeded order of the
        statements, the same for every client, so each statement overlaps
        its twins on the other clients whatever the order.
        Returns the ops and the rate-equivalent window: all ops over the
        summed per-client rates."""
        rng = random.Random(f"{self.seed}:{phase}")
        schedule: list = []
        t_start = time.perf_counter()

        def next_round() -> None:
            if schedule and time.perf_counter() - t_start >= seconds:
                schedule.append(None)
            else:
                schedule.append(rng.sample(KINDS, len(KINDS)))

        barrier = threading.Barrier(CLIENTS, action=next_round)
        with ThreadPoolExecutor(CLIENTS) as pool:
            futs = [pool.submit(self._client, c, phase, schedule, traced, barrier)
                    for c in range(CLIENTS)]
            per_client = [f.result() for f in futs]
        rate = sum(len(ops) / (ops[-1]["t1"] - ops[0]["t0"]) for ops in per_client)
        ops = [op for ops in per_client for op in ops]
        return ops, len(ops) / rate

    # -- output checks (outside the timed region) ---------------------------

    def check(self, ops: list[dict]) -> dict[str, str]:
        """Each export's result and each client's written table against
        DuckDB over the input parquet; marks every op of a statement
        that mismatches as failed."""
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.data_dir, t + '.parquet')}')")
        verdicts: dict[str, str] = {}
        for kind, sql in EXPORTS.items():
            want = _fingerprint(con, sql)
            got_table = self.first.get(kind)
            if got_table is None:
                verdicts[kind] = "no successful run"
                continue
            con.register("got", _naive(got_table))
            got = _fingerprint(con, "SELECT * FROM got")
            con.unregister("got")
            rows_ok = all(o["rows"] == want[0] for o in ops if o["stmt"] == kind and o["ok"])
            verdicts[kind] = ("ok" if got == want and rows_ok
                              else f"fingerprint {got} != oracle {want}")
        want = _fingerprint(con, f"SELECT {WRITE_COLS} FROM lineitem")
        for c, sink in enumerate(self.sinks):
            got = _fingerprint(con, f"SELECT * FROM read_parquet('{sink}/*.parquet')")
            verdicts[f"write:c{c}"] = ("ok" if got == want
                                       else f"fingerprint {got} != oracle {want}")
        con.close()
        for o in ops:
            key = f"write:c{o['client']}" if o["stmt"] == "write" else o["stmt"]
            if o["ok"] and verdicts.get(key) != "ok":
                o.update(ok=False, error=f"check: {verdicts.get(key)}")
        return verdicts

    def sink_files(self) -> tuple[int, int]:
        files = [os.path.join(s, f) for s in self.sinks for f in os.listdir(s)
                 if f.endswith(".parquet")]
        return len(files), sum(os.path.getsize(f) for f in files)


def _passes(ops: list[dict]) -> float:
    """Passes in ``ops``: a pass is one round of each client."""
    return len({(o["client"], o["round"]) for o in ops}) / CLIENTS


def layer_metrics(tracer: Tracer, log_dir: str, traced: list[dict],
                  untraced: list[dict], sink: tuple[int, int]) -> dict:
    """Per-layer metrics per pass of the ``traced`` rounds, and the
    self-time split that accounts for the clients' time; ``untraced`` are
    the measured rounds of the same run."""
    rounds = _passes(traced)
    exports = [o for o in traced if o["stmt"] != "write" and o["ok"]]
    writes = [o for o in traced if o["stmt"] == "write" and o["ok"]]
    spans = [s for s in tracer.spans if s["name"] in ("flightsql.do_get", "flightsql.do_put")]
    t_lo = min(span_ms(s)[0] for s in spans)
    t_hi = max(span_ms(s)[1] for s in spans)

    jobs, stages = read_event_log(log_dir)
    jobs = [j for j in jobs if j.get("submit_ms") and t_lo <= j["submit_ms"] <= t_hi]
    # a job belongs to the latest-started open span of its kind: DoGet
    # streams through toLocalIterator, every other job is a DoPut's write
    per_span: dict[int, list] = {}
    for j in jobs:
        name = ("flightsql.do_get" if j["callsite"].startswith("toLocalIterator")
                else "flightsql.do_put")
        open_spans = [s for s in spans if s["name"] == name
                      and span_ms(s)[0] <= j["submit_ms"] <= span_ms(s)[1]]
        if open_spans:
            per_span.setdefault(max(open_spans, key=lambda s: s["wall0"])["id"], []).append(j)
    by_id = {s["id"]: s for s in spans}
    exec_of = {"flightsql.do_get": 0.0, "flightsql.do_put": 0.0}
    for sid, js in per_span.items():
        exec_of[by_id[sid]["name"]] += job_wall_s(js)

    def per_pass(values) -> float:
        return sum(values) / rounds

    gfi = per_pass(o["gfi_s"] for o in exports)
    do_get = per_pass(o["get_s"] for o in exports)
    do_put = per_pass(o["put_s"] for o in writes)
    pass_s = per_pass(o["lat"] for o in traced)
    exec_get, exec_put = exec_of["flightsql.do_get"] / rounds, exec_of["flightsql.do_put"] / rounds
    untraced_pass_s = sum(o["lat"] for o in untraced) / _passes(untraced)
    put_lat = [o["put_s"] for o in untraced if o["stmt"] == "write" and o["ok"]]
    m = exec_metrics(jobs, stages, rounds)
    m.update({
        "dataframe.transfer_s": do_get - exec_get,
        "dataframe.result_rows": per_pass(o["rows"] for o in exports),
        "dataframe.result_mb": per_pass(o["bytes"] for o in exports) / (1 << 20),
        "flightsql.get_flight_info_s": gfi,
        "flightsql.first_batch_s": per_pass(o["first_s"] for o in exports),
        "flightsql.do_get_s": do_get,
        "flightsql.batches": per_pass(o["batches"] for o in exports),
        "flightsql.bytes_mb": per_pass(o["bytes"] for o in exports) / (1 << 20),
        "flightsql.do_put_s": do_put,
        "sink.files": float(sink[0]),
        "sink.bytes_mb": sink[1] / (1 << 20),
        "sink.write_p50_s": statistics.median(put_lat) if put_lat else 0.0,
        "self.exec_s": exec_get + exec_put,
        "self.dataframe_s": do_get - exec_get,
        "self.flightsql_s": gfi + do_put - exec_put,
        "trace.pass_s": pass_s,
        "trace.untraced_pass_s": untraced_pass_s,
        "trace.overhead_s": pass_s - untraced_pass_s,
        "trace.unattributed_s": pass_s - gfi - do_get - do_put,
    })
    return m
