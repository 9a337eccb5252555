#!/usr/bin/env python
"""Per-query profile from the Spark event log (headless host — no UI).

Usage:
    python tools/profile_stages.py [<query> ...] [--sf DIR] [--out F]

With no query names it profiles every ``bench.HEADLINE`` entry.  Each
entry is warmed once at sf0.001, then built and run once at ``--sf``
(default sf0.1) in the bench's session (``session.build_session``) with
the noop sink (guide §1.4: computes every column, unlike count()).  Every
job the entry starts, its build's jobs included, carries the job
description ``profile:<query>``.  Per query the report (``--out``) holds:

- ``build_sec`` and ``wall_sec``: the DataFrame build, and the noop-sink run;
- ``codegen_compiles``: codegen classes compiled during the build and the
  run (Spark's ``CodegenMetrics``; 0 when every plan shape was cached);
- ``jobs``: each job's id, stage ids and ``wall_ms`` (JobStart to JobEnd);
- ``stages``: per stage wall, task count, executor run time, shuffle
  read/write bytes+records, spill, and the max/median task skew ratio of
  the stage's shuffle-read records (guide §2.5: max/median above ~5-10x =
  skew);
- ``plan``: the formatted physical plan.

The event-log parser is importable (``parse_event_log``) so the skew
straggler check and ``perfbench`` reuse it.
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_event_log(log_dir: str) -> dict:
    """Parse every event-log file under ``log_dir``.

    Returns {"stages": {stage_id: {...}}, "jobs": {job_id: {"description",
    "stage_ids", "submit_ms", "end_ms", "wall_ms"}}} with per-stage
    aggregates from TaskEnd metrics."""
    stages: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    job_ends: dict[int, int] = {}  # kept apart: rolled files come unordered
    paths = []
    for dirpath, _dirnames, filenames in os.walk(log_dir):
        for fn in filenames:
            # Spark 4 rolling v2 layout: eventlog_v2_<app>/events_N_<app>;
            # only the events_* files carry the JSON stream (the session
            # must set spark.eventLog.compress=false, see below)
            if fn.startswith("events"):
                paths.append(os.path.join(dirpath, fn))
    for path in paths:
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except Exception:
                    continue
                if not isinstance(ev, dict):
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "description": (ev.get("Properties") or {}).get(
                            "spark.job.description"
                        ),
                        "stage_ids": ev.get("Stage IDs", []),
                        "submit_ms": ev.get("Submission Time"),
                    }
                elif kind == "SparkListenerJobEnd":
                    job_ends[ev["Job ID"]] = ev.get("Completion Time")
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], {"tasks": []})
                    st["name"] = si.get("Stage Name", "").split(" at ")[0]
                    sub, comp = si.get("Submission Time"), si.get("Completion Time")
                    st["wall_ms"] = (comp - sub) if sub and comp else None
                    st["n_tasks"] = si.get("Number of Tasks")
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], {"tasks": []})
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    st["tasks"].append(
                        {
                            "run_ms": tm.get("Executor Run Time", 0),
                            "dur_ms": (
                                ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                            ),
                            "sr_bytes": (
                                (sr.get("Remote Bytes Read") or 0)
                                + (sr.get("Local Bytes Read") or 0)
                            ),
                            "sr_records": sr.get("Total Records Read", 0),
                            "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                            "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                            "sw_records": sw.get("Shuffle Records Written", 0),
                            "spill_bytes": tm.get("Disk Bytes Spilled", 0),
                            "input_bytes": (tm.get("Input Metrics") or {}).get(
                                "Bytes Read", 0
                            ),
                        }
                    )
    for jid, job in jobs.items():
        sub, end = job["submit_ms"], job_ends.get(jid)
        job["end_ms"] = end
        job["wall_ms"] = (end - sub) if sub and end else None
    # aggregate per stage
    for sid, st in stages.items():
        ts = st.pop("tasks")
        if not ts:
            continue

        def tot(k):
            return sum(t[k] for t in ts)

        def max_med(k):
            vals = sorted(t[k] for t in ts)
            med = vals[len(vals) // 2]
            return (vals[-1], med, round(vals[-1] / med, 2) if med else None)

        st.update(
            {
                "exec_run_ms": tot("run_ms"),
                "fetch_wait_ms": tot("fetch_wait_ms"),
                "sr_bytes": tot("sr_bytes"),
                "sr_records": tot("sr_records"),
                "sw_bytes": tot("sw_bytes"),
                "sw_records": tot("sw_records"),
                "spill_bytes": tot("spill_bytes"),
                "input_bytes": tot("input_bytes"),
                "task_dur_max_med": max_med("dur_ms"),
                "sr_rec_max_med": max_med("sr_records"),
            }
        )
    return {"stages": stages, "jobs": jobs}


def build_profiling_session(app: str, log_dir: str):
    """The bench's local session, writing an uncompressed event log to
    ``log_dir`` (``parse_event_log`` reads the plain JSON stream)."""
    from datafusion_ballista_python_spark.session import build_session

    return build_session(
        app_name=app,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        },
    )


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.1"
    out = None
    for i, a in enumerate(sys.argv):
        if a == "--sf":
            sf_dir = sys.argv[i + 1]
            args = [x for x in args if x != sf_dir]
        if a == "--out":
            out = sys.argv[i + 1]
            args = [x for x in args if x != out]

    import bench
    from datafusion_ballista_python_spark.corpus import load_all
    from datafusion_ballista_python_spark.metrics import codegen_compilations
    from datafusion_ballista_python_spark.plans import explain_formatted

    registry = load_all()
    names = args or [n for n in bench.HEADLINE if n in registry]
    unknown = sorted(set(names) - set(registry))
    if unknown:
        sys.exit(f"profile_stages: unknown corpus entries {unknown}")

    log_dir = tempfile.mkdtemp(prefix="spark-events-")
    spark = build_profiling_session("profile_stages", log_dir)
    sc = spark.sparkContext
    for name in names:  # JIT warm at the smallest SF
        try:
            registry[name].fn(spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass

    timed: dict[str, tuple[float, float, int, str]] = {}
    for name in names:
        spark.catalog.clearCache()
        sc.setJobDescription(f"profile:{name}")
        c0 = codegen_compilations(spark)
        t0 = time.perf_counter()
        df = registry[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        n_compiled = codegen_compilations(spark) - c0
        sc.setJobDescription(None)
        timed[name] = (
            round(t1 - t0, 3), round(t2 - t1, 3), n_compiled, explain_formatted(df)
        )
    spark.stop()

    parsed = parse_event_log(log_dir)
    report = {"sf_dir": sf_dir, "queries": {}}
    for name in names:
        build_sec, wall_sec, n_compiled, plan = timed[name]
        jobs = [
            {"id": jid, "wall_ms": j.get("wall_ms"), "stage_ids": j["stage_ids"]}
            for jid, j in sorted(parsed["jobs"].items())
            if j.get("description") == f"profile:{name}"
        ]
        q_stages = {
            sid: parsed["stages"][sid]
            for j in jobs
            for sid in j["stage_ids"]
            if "exec_run_ms" in parsed["stages"].get(sid, {})
        }
        report["queries"][name] = {
            "build_sec": build_sec,
            "wall_sec": wall_sec,
            "codegen_compiles": n_compiled,
            "jobs": jobs,
            "stages": q_stages,
            "plan": plan,
        }
        print(
            f"== {name}: build {build_sec:.3f}s, wall {wall_sec:.3f}s,"
            f" {n_compiled} codegen compiles, {len(jobs)} jobs,"
            f" {len(q_stages)} stages"
        )
        for j in jobs:
            print(f"   job {j['id']}: {j['wall_ms']}ms stages={j['stage_ids']}")
        for sid in sorted(q_stages):
            st = q_stages[sid]
            print(
                f"   stage {sid} {st.get('name','?'):>22}"
                f" wall={st.get('wall_ms')}ms tasks={st.get('n_tasks')}"
                f" run={st['exec_run_ms']}ms fetchwait={st['fetch_wait_ms']}ms"
                f" srMB={st['sr_bytes']/1e6:.1f} swMB={st['sw_bytes']/1e6:.1f}"
                f" srRec={st['sr_records']} spillMB={st['spill_bytes']/1e6:.1f}"
                f" skew(dur)={st['task_dur_max_med'][2]}"
                f" skew(srRec)={st['sr_rec_max_med'][2]}"
            )
    if out:
        with open(out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
