"""The ``llm_operators`` workload: one closed-loop client in this process
runs a fixed list of corpus entries through ``DataFrame.collect()``, each
pass in a seeded shuffled order.

An operation's latency runs from the corpus function call (the driver-side
DataFrame build, which for iterative operators already starts Spark jobs) to
the last Arrow batch in the caller's hands.  Each distinct entry's result is
checked against the corpus's DuckDB oracle after the timed passes.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

import pyarrow as pa

from spans import Tracer, exec_metrics, job_wall_s, jobs_within, read_event_log

LLM_OPERATORS = (
    "dedup_minhash_lsh dedup_survivor_selection graph_pagerank "
    "dedup_exact_jaccard_join text_bigram_perplexity dedup_semantic "
    "embed_covariance train_bpe_merges ann_ivf_topk text_tfidf_topk"
).split()
# The tables those operators read, registered on the context during set-up.
LLM_TABLES = ["documents", "embeddings"]


class _Collected:
    """The collected Arrow result in the shape ``oracle_harness.compare``
    reads (``toPandas``), so checking never re-executes the query."""

    def __init__(self, table: pa.Table):
        self.table = table

    def toPandas(self):
        return self.table.to_pandas()


class CorpusMix:
    def __init__(self, names: list[str], data_dir: str, tables: list[str],
                 seed: int, tracer: Tracer, cache_dir: str):
        self.names = names
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.tables = tables
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.first: dict[str, pa.Table] = {}

    # -- set-up ------------------------------------------------------------

    def start(self, master: str, shuffle_partitions: int) -> None:
        from ballista import BallistaContext

        with self.tracer.span("session.start"):
            self.ctx = BallistaContext(master=master, shuffle_partitions=shuffle_partitions)
        self.spark = self.ctx.spark
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("context.register"):
            for t in self.tables:
                self.ctx.register_parquet(t, os.path.join(self.data_dir, f"{t}.parquet"))
        from datafusion_ballista_python_spark.corpus import load_all

        registry = load_all()
        self.specs = {n: registry[n] for n in self.names}

    # -- the closed loop ---------------------------------------------------

    def _op(self, name: str, pass_no: int, traced: bool = False) -> dict:
        from datafusion_ballista_python_spark.dataframe import DataFrame

        op_id = f"p{pass_no}:{name}"
        rec = {"stmt": name, "pass": pass_no, "ok": True, "rows": 0, "bytes": 0}
        if pass_no >= 0:
            self._reset()
        tracer = self.tracer if traced else Tracer(False)
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=op_id, stmt=name):
                with tracer.span("operators.build"):
                    df = self.specs[name].fn(self.spark, self.data_dir)
                with tracer.span("dataframe.collect") as sp:
                    batches = DataFrame(df).collect()
                    if traced:
                        sp.update(_tracker_phases(df))
            rec["lat"] = time.perf_counter() - t0
            if traced:  # the final plan once more, without result transfer
                with tracer.span("exec.noop", op=op_id):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # reported as a failed op, never dropped
            rec.update(ok=False, lat=time.perf_counter() - t0,
                       error=f"{type(e).__name__}: {str(e)[:300]}")
            return rec
        table = pa.Table.from_batches(batches)
        rec["rows"], rec["bytes"] = table.num_rows, table.nbytes
        if pass_no < 0:
            return rec  # warm-up: not checked
        if name not in self.first:
            self.first[name] = table
        elif table.num_rows != self.first[name].num_rows:
            rec.update(ok=False, error="row count differs from the checked result")
        return rec

    def _reset(self) -> None:
        """Start a timed op from the same state as every other: no frames
        persisted by earlier operators, and no garbage left for a collection
        inside the op (this took the pass-to-pass spread from ~20% to under
        10% on 4 cores)."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def warm(self, threads: int) -> dict[str, str]:
        """Run every entry once, ``threads`` at a time, then wait for the JIT
        to go quiet: the JIT, whole-stage codegen and Python workers warm up
        in about half the time of a sequential pass.  Returns the errors of
        entries that failed (they fail again, and are counted, when timed)."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(threads) as pool:
            recs = list(pool.map(lambda n: self._op(n, -1), self.names))
        self.spark.catalog.clearCache()
        self._settle_jit()
        return {r["stmt"]: r["error"] for r in recs if not r["ok"]}

    def _settle_jit(self, quiet_ms: float = 20.0, max_s: float = 5.0) -> None:
        """Wait until the driver JVM's JIT compilers go quiet (less than
        ``quiet_ms`` of compilation in half a second), at most ``max_s``."""
        bean = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getCompilationMXBean()
        deadline = time.monotonic() + max_s
        last = bean.getTotalCompilationTime()
        while time.monotonic() < deadline:
            time.sleep(0.5)
            now = bean.getTotalCompilationTime()
            if now - last < quiet_ms:
                return
            last = now

    def _order(self) -> list[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def run_pass(self, pass_no: int, traced: bool = False) -> list[dict]:
        return [self._op(n, pass_no, traced) for n in self._order()]

    def run_for(self, seconds: float) -> list[dict]:
        """Whole passes until ``seconds`` of op time have passed, at least
        one: every entry runs equally often, so no seed weights an entry
        more than another."""
        ops: list[dict] = []
        while not ops or sum(o["lat"] for o in ops) < seconds:
            ops += self.run_pass(ops[-1]["pass"] + 1 if ops else 0)
        return ops

    # -- output checks (outside the timed region) ---------------------------

    def check(self) -> dict[str, str]:
        from tests.oracle_harness import compare, duckdb_con

        con = duckdb_con(self.data_dir)
        verdicts = {}
        for name in self.names:
            if name not in self.first:
                verdicts[name] = "no successful run"
                continue
            ok, msg = compare(_Collected(self.first[name]), self._expected(con, name))
            verdicts[name] = "ok" if ok else msg
        con.close()
        return verdicts

    def _expected(self, con, name: str):
        """The oracle's result for ``name``, cached under ``cache_dir`` by a
        digest of the DuckDB version, the oracle SQL and every input file.
        Without it the oracles take 13-15 s of every run on 4 cores (9 s of
        it ``dedup_exact_jaccard_join``), which the sweep's time budget
        cannot spare; a run in a fresh checkout computes and stores them."""
        import duckdb
        import pandas as pd

        h = hashlib.sha256(f"{duckdb.__version__}\0{self.specs[name].oracle}".encode())
        for fn in sorted(os.listdir(self.data_dir)):
            with open(os.path.join(self.data_dir, fn), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
        path = os.path.join(self.cache_dir, f"{name}-{h.hexdigest()[:32]}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)  # written by this method, below
        expected = con.sql(self.specs[name].oracle).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        expected.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return expected

    def stop(self) -> None:
        if hasattr(self, "spark"):
            self.spark.stop()


def _tracker_phases(df) -> dict:
    """Catalyst phase durations (ms) of the collected plan, from its
    ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[f"{kv._1()}_ms"] = float(kv._2().durationMs())
    return out


def layer_metrics(tracer: Tracer, log_dir: str, traced: list[dict],
                  untraced: list[dict]) -> dict:
    """Per-layer metrics of the ``traced`` pass's ops, and the self-time
    split that accounts for its time; ``untraced`` is a pass of the same
    process run without spans."""
    tag = f"p{traced[0]['pass']}:"
    in_pass = [s for s in tracer.spans if (s.get("op") or "").startswith(tag)]
    builds = [s for s in in_pass if s["name"] == "operators.build"]
    collects = [s for s in in_pass if s["name"] == "dataframe.collect"]
    noop_s = sum(s["end"] - s["start"] for s in in_pass if s["name"] == "exec.noop")
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
    pass_s = sum(r["lat"] for r in traced)
    untraced_pass_s = sum(r["lat"] for r in untraced)
    build_s, collect_s = dur(builds), dur(collects)
    analysis_s = sum(s.get("analysis_ms", 0.0) for s in collects) / 1e3
    opt_plan_s = sum(s.get("optimization_ms", 0.0) + s.get("planning_ms", 0.0)
                     for s in collects) / 1e3

    jobs, stages = read_event_log(log_dir)
    build_jobs = jobs_within(jobs, builds)
    collect_jobs = jobs_within(jobs, collects)
    build_exec_s, collect_exec_s = job_wall_s(build_jobs), job_wall_s(collect_jobs)
    m = exec_metrics(build_jobs + collect_jobs, stages, 1.0)
    m.update({
        "operators.build_s": build_s,
        "operators.build_jobs": float(len(build_jobs)),
        "operators.build_share": build_s / pass_s if pass_s else 0.0,
        "catalyst.plan_ms": (analysis_s + opt_plan_s) * 1e3,
        "exec.noop_s": noop_s,
        "dataframe.transfer_s": collect_s - noop_s,
        "dataframe.result_rows": float(sum(r["rows"] for r in traced)),
        "dataframe.result_mb": sum(r["bytes"] for r in traced) / (1 << 20),
        "self.operators_s": build_s - build_exec_s - analysis_s,
        "self.catalyst_s": analysis_s + opt_plan_s,
        "self.exec_s": build_exec_s + collect_exec_s,
        "self.dataframe_s": collect_s - collect_exec_s - opt_plan_s,
        "trace.pass_s": pass_s,
        "trace.untraced_pass_s": untraced_pass_s,
        "trace.overhead_s": pass_s - untraced_pass_s,
        "trace.unattributed_s": pass_s - build_s - collect_s,
    })
    return m
