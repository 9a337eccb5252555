#!/usr/bin/env python3
"""Full-result benchmark of the engine, end to end and split by layer.

Run from the root of the repository (the engine is imported from the
working directory, and Python workers find it there too):

    python3 perfbench/run.py --workload llm_operators --seed 1 --seconds 10 --trace 0

Workloads (see ``BENCHMARK.json`` and ``perfbench/README.md``):

- ``llm_operators``: 10 oracle-checked LLM-pipeline corpus operators through
  ``DataFrame.collect()``, one closed-loop client, seeded order per pass;
- ``arrow_io``: the Flight SQL endpoint in its own process, a closed-loop
  client running exports of two result sizes and writes.

The input tables are the repo's test tables, copied into ``perfbench/data``
and read in place; ``--seed`` orders the statements and the clients' mixes.
A work directory under ``.perfbench/`` in the working directory takes the
Spark warehouse, local dirs, event logs and write targets, and is removed at
the end; the run record (and with ``--trace 1`` the spans) stays in
``.perfbench/out/``.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it is the full run record.  The exit code is 1 when any op
failed or any output differs from the DuckDB oracle.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.getcwd()
OUT_DIR = os.path.join(ROOT, ".perfbench")
sys.path.insert(1, ROOT)

# Scale of the inputs.  The corpus operators are bound by per-job scheduling
# at any scale below sf0.1 (a warm pass takes the same time at sf0.001 and
# sf0.01 on 4 cores), so they run at sf0.01 to keep a run within the time the
# benchmark may take; arrow_io runs at sf0.1, where lineitem is the
# 600k-row, ~47 MB export the transfer path is judged on.
SF = {"llm_operators": 0.01, "arrow_io": 0.1}
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SHUFFLE_PARTITIONS = 16  # the BallistaContext and CLI default
CALIB_MIB = 512


def _parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["llm_operators", "arrow_io"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


# -- hermetic process set-up -------------------------------------------------


def _hermetic_env(work: str, trace: bool) -> str:
    """Point every file Spark, the JVM and Python workers write at ``work``;
    return the event-log directory."""
    tmp, events = os.path.join(work, "tmp"), os.path.join(work, "events")
    os.makedirs(tmp)
    os.makedirs(events)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
        })
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_SUBMIT_OPTS=f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {java_opts}".strip(),
        PYSPARK_SUBMIT_ARGS=" ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell",
    )
    tempfile.tempdir = tmp
    return events


def _become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM's Python workers, the endpoint's
    JVM) so the run can wait for every process it started."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            kids.append(int(pid))
    return kids


def _reap_all(grace_s: float = 30.0) -> None:
    """Wait for every descendant to exit; terminate, then kill, the ones
    still alive after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _stop_gateway() -> None:
    """Close the in-process Spark driver's JVM and wait for it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# -- provenance ----------------------------------------------------------------


def _cpu_times() -> list[int]:
    """The host CPU counters of /proc/stat (user ... steal), in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _provenance(args, master: str) -> dict:
    import pyarrow
    import pyspark

    rev = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True,
                                 timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for top in ("datafusion_ballista_python_spark", "ballista", "perfbench"):
        for dirpath, _dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    path = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return {
        "git_rev": rev,
        "source_sha256": h.hexdigest(),
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "sf": SF[args.workload],
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


# -- metrics -------------------------------------------------------------------


def _statement_stats(ops: list[dict]) -> dict:
    by: dict[str, list[float]] = {}
    for o in ops:
        if o["ok"]:
            by.setdefault(o["stmt"], []).append(o["lat"])
    return {k: {"n": len(v), "median_s": statistics.median(v),
                "min_s": min(v), "max_s": max(v)} for k, v in sorted(by.items())}


def _end_to_end(ops: list[dict], window_s: float, setup_s: float,
                rss_mb: float, stmts: dict) -> dict:
    ok = [o for o in ops if o["ok"]]
    exports = [o for o in ok if o["stmt"] != "write"]
    medians = [s["median_s"] for s in stmts.values()]
    geomean = math.exp(sum(map(math.log, medians)) / len(medians)) if medians else 0.0
    export_s = sum(o["lat"] for o in exports)
    return {
        "setup_s": setup_s,
        "throughput_qpm": 60.0 * len(ok) / window_s,
        "query_geomean_s": geomean,
        "export_mb_per_s": (sum(o["bytes"] for o in exports) / (1 << 20) / export_s
                            if export_s else 0.0),
        "driver_peak_rss_mb": rss_mb,
    }


UNITS = {
    "setup_s": "s", "throughput_qpm": "ops/min", "query_geomean_s": "s",
    "export_mb_per_s": "MB/s", "driver_peak_rss_mb": "MB", "error_rate": "ratio",
    "write_p50_s": "s",
}


# Every per-layer metric, in BENCHMARK.json's order; a layer a workload does
# not pass through reports 0 (e.g. flightsql.* on the corpus workloads).
PER_LAYER = (
    "session.start_s session.warmup_s context.register_s "
    "operators.build_s operators.build_jobs operators.build_share catalyst.plan_ms "
    "exec.jobs exec.stages exec.tasks exec.failed_tasks exec.noop_s "
    "exec.executor_run_s exec.executor_cpu_s exec.gc_s exec.scan_mb "
    "exec.shuffle_write_mb exec.shuffle_read_mb exec.spill_mb exec.task_skew "
    "udf.python_in_mb udf.python_out_mb "
    "dataframe.transfer_s dataframe.result_rows dataframe.result_mb "
    "flightsql.get_flight_info_s flightsql.first_batch_s flightsql.do_get_s "
    "flightsql.batches flightsql.bytes_mb flightsql.do_put_s "
    "sink.files sink.bytes_mb sink.write_p50_s "
    "self.operators_s self.catalyst_s self.exec_s self.dataframe_s self.flightsql_s "
    "trace.pass_s trace.untraced_pass_s trace.overhead_s trace.unattributed_s"
).split()


def _layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share") or name.endswith("_skew"):
        return "ratio"
    return "count"


# -- workloads -----------------------------------------------------------------


def _run_corpus(args, work: str, events: str, data_dir: str, tracer, master: str,
                origin: float) -> dict:
    from corpus_mix import LLM_OPERATORS, LLM_TABLES, CorpusMix, layer_metrics
    from spans import peak_rss_mb

    mix = CorpusMix(LLM_OPERATORS, data_dir, LLM_TABLES, args.seed, tracer,
                    os.path.join(OUT_DIR, "cache"))
    out: dict = {}
    try:
        mix.start(master, SHUFFLE_PARTITIONS)
        with tracer.span("session.warmup"):
            out["warmup_errors"] = mix.warm(len(os.sched_getaffinity(0)))
        setup_s = time.perf_counter() - origin
        # the closed loop's window is the ops' summed latency, without the
        # housekeeping between them
        t = time.perf_counter()
        ops = mix.run_for(args.seconds)
        out.update(ops=ops, window_s=sum(o["lat"] for o in ops), setup_s=setup_s,
                   rss_mb=peak_rss_mb(), measure_s=time.perf_counter() - t)
        if args.trace:
            out["ops_traced"] = mix.run_pass(ops[-1]["pass"] + 1, traced=True)
        t = time.perf_counter()
        out["checks"] = mix.check()
        out["check_s"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        mix.stop()
        _stop_gateway()
        out["stop_s"] = time.perf_counter() - t
    failed = {k for k, v in out["checks"].items() if v != "ok"}
    for o in ops + out.get("ops_traced", []):
        if o["ok"] and o["stmt"] in failed:
            o.update(ok=False, error=f"check: {out['checks'][o['stmt']]}")
    if args.trace:
        untraced = [o for o in ops if o["pass"] == 0]
        out["layers"] = layer_metrics(tracer, events, out["ops_traced"], untraced)
    return out


def _run_flight(args, work: str, events: str, data_dir: str, tracer, master: str,
                origin: float) -> dict:
    from flight_mix import FlightMix, layer_metrics

    mix = FlightMix(ROOT, work, data_dir, args.seed, tracer)
    try:
        mix.start(master, SHUFFLE_PARTITIONS)
        with tracer.span("session.warmup"):
            # three rounds per client: after one, the next two rounds still
            # ran 10-40% slower than later ones
            for p in range(3):
                mix.run(f"w{p}", 0.0)
        setup_s = time.perf_counter() - origin
        t = time.perf_counter()
        ops, window = mix.run("m", args.seconds)
        out = {"ops": ops, "window_s": window, "setup_s": setup_s,
               "measure_s": time.perf_counter() - t}
        if args.trace:
            out["ops_traced"], _ = mix.run("t", 0.0, traced=True)
        out["rss_mb"] = mix.peak_rss_mb()
    finally:
        mix.stop()
        _reap_all()  # the endpoint's JVM finishes its event log as it exits
    out["checks"] = mix.check(ops + out.get("ops_traced", []))
    sink = mix.sink_files()
    writes = [o["lat"] for o in ops if o["stmt"] == "write" and o["ok"]]
    out["write_p50_s"] = statistics.median(writes) if writes else None
    if args.trace:
        out["layers"] = layer_metrics(tracer, events, out["ops_traced"], ops, sink)
    return out


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "datafusion_ballista_python_spark")):
        print("perfbench: run from the repository root (no engine package here)",
              file=sys.stderr)
        return 2
    from spans import Tracer

    _become_subreaper()
    os.makedirs(OUT_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=OUT_DIR)
    tracer = Tracer(bool(args.trace))
    master = f"local[{len(os.sched_getaffinity(0))}]"
    cpu0 = _cpu_times()
    try:
        events = _hermetic_env(work, bool(args.trace))
        data_dir = os.path.join(DATA_DIR, f"sf{SF[args.workload]}")
        t = time.perf_counter()
        import bench

        # bench.calibrate() as host context, on an eighth of its work (0.4-1 s
        # on 4 cores) so that every run can afford it before and after
        bench.CALIB_WORK_MIB = CALIB_MIB
        calib = [bench.calibrate()]
        # set-up time runs from process start, less the host calibration
        origin = T0 + time.perf_counter() - t
        run = _run_flight if args.workload == "arrow_io" else _run_corpus
        out = run(args, work, events, data_dir, tracer, master, origin)
        calib.append(bench.calibrate())
    finally:
        _reap_all()
        shutil.rmtree(work, ignore_errors=True)
    cpu1 = _cpu_times()

    if args.trace:
        out["layers"].update({
            "session.start_s": tracer.total("session.start"),
            "session.warmup_s": tracer.total("session.warmup"),
            "context.register_s": tracer.total("context.register"),
        })
    ops = out["ops"]
    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)
    stmts = _statement_stats(ops)
    e2e = _end_to_end(ops, out["window_s"], out["setup_s"], out["rss_mb"], stmts)
    correct = failed == 0 and all(v == "ok" for v in out["checks"].values())
    record = {
        "workload": args.workload,
        "provenance": {**_provenance(args, master), "calibrate_s": calib,
                       "calibrate_mib": CALIB_MIB,
                       # CPU time taken by other guests on a shared host
                       "cpu_steal_pct": 100.0 * (cpu1[7] - cpu0[7])
                       / max(1, sum(cpu1) - sum(cpu0))},
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {**e2e, "error_rate": failed / attempted,
                       **({"write_p50_s": out["write_p50_s"]}
                          if "write_p50_s" in out else {})},
        "units": UNITS,
        "statements": stmts,
        # measured ops in order: statement, pass (arrow_io: client and
        # round), latency in seconds
        "ops": [[o["stmt"], *((o["client"], o["round"]) if "round" in o else (o["pass"],)),
                 round(o["lat"], 4)] for o in ops],
        "checks": out["checks"],
        "errors": sorted({o["error"] for o in ops if not o["ok"]}),
        "warmup_errors": out.get("warmup_errors"),
        "measure_s": out.get("measure_s"),
        "check_s": out.get("check_s"),
        "stop_s": out.get("stop_s"),
        "run_s": time.perf_counter() - T0,
        "layers": out.get("layers"),
    }
    name = f"{args.workload}-seed{args.seed}{'-trace' if args.trace else ''}.json"
    tracer.write(os.path.join(OUT_DIR, "out", name), record)
    if args.trace:
        unknown = set(out["layers"]) - set(PER_LAYER)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {unknown}")
        metrics = {k: {"value": out["layers"].get(k, 0.0), "unit": _layer_unit(k)}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps(record, default=str), flush=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
