"""Spans recorded around calls into the engine's layers, the Spark
event-log summary they are joined with, and peak process memory.

A span is ``{"id", "name", "parent", "op", "start", "end", "wall0"}``:
``start``/``end`` are ``time.perf_counter`` seconds, ``wall0`` the epoch
second at ``start`` (the clock Spark stamps event-log jobs with), ``parent``
the id of the enclosing span on the same thread and ``op`` the id shared by
every span of one operation.  Spans stay in memory and are written out once,
when the run ends.

Jobs are attributed to spans by submission time, which is exact for the
single-client corpus workloads; the Flight SQL workload, whose jobs run in
another process under two concurrent clients, attributes them by call site
instead (see ``flight_mix``).
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from tools.profile_stages import parse_event_log


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "op": op if op is not None else (stack[-1]["op"] if stack else None),
            "wall0": time.time(),
            **attrs,
        }
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    def total(self, name: str, where=lambda s: True) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and where(s))

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = sorted(self.spans, key=lambda s: s["start"])
        with open(path, "w") as fh:
            json.dump({**extra, "spans": spans}, fh, indent=1, default=str)
            fh.write("\n")


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of process ``pid``, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Return ``(jobs, stages)`` from the event log under ``log_dir``.

    Per-stage aggregates (run time, shuffle, spill, scan bytes, task
    duration skew) come from ``tools.profile_stages.parse_event_log``; this
    pass adds what that parser does not keep: job submission/completion
    times and call site, executor CPU and GC time, failed tasks, and the
    bytes sent to and returned from Python workers."""
    parsed = parse_event_log(log_dir)
    stages = parsed["stages"]
    jobs: dict[int, dict] = {}
    extra: dict[int, dict] = {}
    for dirpath, _dirs, files in os.walk(log_dir):
        for fn in files:
            if not fn.startswith("events"):
                continue
            with open(os.path.join(dirpath, fn), errors="replace") as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except ValueError:
                        continue
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = {
                            "id": ev["Job ID"],
                            "submit_ms": ev.get("Submission Time"),
                            "stage_ids": ev.get("Stage IDs", []),
                            "callsite": (ev.get("Properties") or {}).get(
                                "callSite.short", ""
                            ),
                        }
                    elif kind == "SparkListenerJobEnd":
                        job = jobs.setdefault(ev["Job ID"], {"id": ev["Job ID"]})
                        job["end_ms"] = ev.get("Completion Time")
                    elif kind == "SparkListenerTaskEnd":
                        st = extra.setdefault(
                            ev["Stage ID"],
                            {"cpu_ns": 0, "gc_ms": 0, "failed_tasks": 0,
                             "py_in": 0, "py_out": 0},
                        )
                        tm = ev.get("Task Metrics") or {}
                        st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                        st["gc_ms"] += tm.get("JVM GC Time", 0)
                        reason = (ev.get("Task End Reason") or {}).get("Reason")
                        st["failed_tasks"] += reason != "Success"
                        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                            if acc.get("Name") == "data sent to Python workers":
                                st["py_in"] += int(acc.get("Update") or 0)
                            elif acc.get("Name") == "data returned from Python workers":
                                st["py_out"] += int(acc.get("Update") or 0)
    for sid, st in extra.items():
        stages.setdefault(sid, {}).update(st)
    return sorted(jobs.values(), key=lambda j: j["id"]), stages


def job_wall_s(jobs: list[dict]) -> float:
    """Seconds during which at least one of ``jobs`` ran (the union of
    their submission-to-completion intervals)."""
    total, reach = 0.0, None
    for lo, hi in sorted((j["submit_ms"], j.get("end_ms", j["submit_ms"]))
                         for j in jobs if j.get("submit_ms") is not None):
        if reach is None or lo > reach:
            total += hi - lo
            reach = hi
        elif hi > reach:
            total += hi - reach
            reach = hi
    return total / 1e3


def span_ms(span: dict) -> tuple[float, float]:
    """A span's open interval in epoch milliseconds, the event log's clock."""
    return span["wall0"] * 1e3, (span["wall0"] + span["end"] - span["start"]) * 1e3


def jobs_within(jobs: list[dict], spans: list[dict]) -> list[dict]:
    """Jobs submitted while one of ``spans`` was open."""
    windows = [span_ms(s) for s in spans]
    return [j for j in jobs if j.get("submit_ms") is not None
            and any(lo <= j["submit_ms"] <= hi for lo, hi in windows)]


def exec_metrics(jobs: list[dict], stages: dict[int, dict], per: float) -> dict:
    """The ``exec.*`` and ``udf.*`` per-layer metrics over ``jobs``, each
    divided by ``per`` (the number of passes the jobs cover)."""
    sids = {sid for j in jobs for sid in j.get("stage_ids", [])}
    sts = [stages[s] for s in sids if s in stages and "exec_run_ms" in stages[s]]

    def tot(key: str, scale: float) -> float:
        return sum(st.get(key) or 0 for st in sts) / scale / per

    skews = [st["task_dur_max_med"][2] for st in sts
             if (st.get("n_tasks") or 0) >= 2 and st["task_dur_max_med"][2]]
    mb = 1 << 20
    return {
        "exec.jobs": len(jobs) / per,
        "exec.stages": len(sts) / per,
        "exec.tasks": tot("n_tasks", 1),
        "exec.failed_tasks": tot("failed_tasks", 1),
        "exec.executor_run_s": tot("exec_run_ms", 1e3),
        "exec.executor_cpu_s": tot("cpu_ns", 1e9),
        "exec.gc_s": tot("gc_ms", 1e3),
        "exec.scan_mb": tot("input_bytes", mb),
        "exec.shuffle_write_mb": tot("sw_bytes", mb),
        "exec.shuffle_read_mb": tot("sr_bytes", mb),
        "exec.spill_mb": tot("spill_bytes", mb),
        "exec.task_skew": max(skews, default=1.0),
        "udf.python_in_mb": tot("py_in", mb),
        "udf.python_out_mb": tot("py_out", mb),
    }
