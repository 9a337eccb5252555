#!/usr/bin/env python
"""Multi-JVM smoke: run a representative headline subset under
``local-cluster[2,4,4096]`` — two REAL executor JVMs, not local-mode
threads (r7 verdict item #6).

What this flushes that local[*] cannot:

- localCheckpoint block placement: blocks live on executor block managers,
  so every iterative operator (connected components, pagerank, kcore) must
  fetch checkpoint blocks ACROSS processes;
- Python worker <-> executor plumbing for pandas_udf / mapInPandas
  (semantic dedup, multimodal codecs) in separate JVMs;
- driver-side file reads (plans.metadata_count reads parquet footers on
  the driver) vs executor-side scans;
- broadcast variables (LSH band tables, centroid matrices) shipped over
  the wire instead of shared memory.

Usage: python tools/local_cluster_smoke.py [sf_dir]
Prints one JSON line: {"mode": "local-cluster[2,4,4096]", "results":
{name: {"rows": n, "sec": t}}, "ok": bool}.  Exit 0 iff every query ran.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# one per execution-model family, biased toward the local-mode-assumption
# suspects named in the verdict
SMOKE = [
    "q1_pricing_summary",        # scan + partial agg + sort
    "q5_region_revenue",         # multi-join
    "join_semi",                 # join strategies under AQE
    "window_rank",               # window exchange
    "dedup_minhash_lsh",         # broadcast band tables + wide agg
    "dedup_semantic",            # pandas_udf matmul in remote Python workers
    "mm_frame_sample",           # mapInPandas codec path
    "graph_pagerank_directed",   # iterative: per-round checkpoint blocks
    "graph_kcore",               # iterative: semi-join peel + checkpoints
    "stream_dedup_keys",         # streaming sink path
    "train_dsir_weights",        # r8: hashed-bigram LLR, broadcast ratio table
    "text_perplexity_buckets",   # r8: corpus LM + per-language NTILE window
    "embed_covariance",          # r8b: dim^2 pair explode + (i,j) shuffle
    "dedup_fuzzy_levenshtein",   # r8b: two-ended block join + bounded DP verify
    "dq_bootstrap_mean_ci",      # r8b: replicate explode + order-stat window
    "events_attribution",        # r8c: user-key range window, struct argmin
    "graph_adamic_adar",         # r8c: wedge self-join off a localCheckpoint
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from datafusion_ballista_python_spark.corpus import load_all
    from datafusion_ballista_python_spark.session import build_session

    spark = build_session(
        shuffle_partitions=8,
        master="local-cluster[2,4,4096]",
        app_name="local-cluster-smoke",
        extra_conf={
            "spark.driver.memory": "2g",
            # executors are separate JVMs: they must find the same Python
            "spark.executorEnv.PYSPARK_PYTHON": sys.executable,
        },
    )
    registry = load_all()

    results: dict[str, dict] = {}
    ok = True
    for name in SMOKE:
        spec = registry.get(name)
        if spec is None:
            results[name] = {"rows": None, "sec": None, "skipped": "unregistered"}
            continue
        t0 = time.perf_counter()
        try:
            n = spec.fn(spark, sf_dir).count()
            results[name] = {"rows": n, "sec": round(time.perf_counter() - t0, 2)}
        except Exception as e:
            ok = False
            results[name] = {"error": f"{type(e).__name__}: {e}"[:300]}

    # reliable-checkpoint mode under REAL executors: per-round snapshots go
    # to the DFS checkpoint dir instead of executor block managers — the
    # executor-loss-resilient path (operators/_ckpt.py), exercised here in
    # the only multi-JVM environment this sandbox has
    try:
        import tempfile

        from datafusion_ballista_python_spark.operators import graph

        ckdir = tempfile.mkdtemp(prefix="smoke_ckpt_")
        spark.sparkContext.setCheckpointDir(ckdir)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 10)],
            ["doc_a", "doc_b"],
        )
        t0 = time.perf_counter()
        n = graph.kcore(pairs, k=2, checkpoint="reliable").count()
        results["kcore_reliable_ckpt"] = {
            "rows": n, "sec": round(time.perf_counter() - t0, 2),
        }
        if n != 6:
            ok = False
    except Exception as e:
        ok = False
        results["kcore_reliable_ckpt"] = {"error": f"{type(e).__name__}: {e}"[:300]}

    # pca_project's Gram path: mapInPandas partial Gram matrices computed
    # in REMOTE executor Python workers (package import via addPyFile),
    # eigh on the driver, projection broadcast back as literals
    try:
        from datafusion_ballista_python_spark.operators import similarity

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        t0 = time.perf_counter()
        n = similarity.pca_project(emb, k=2).count()
        results["pca_project_gram"] = {
            "rows": n, "sec": round(time.perf_counter() - t0, 2),
        }
        if n != emb.count():
            ok = False
    except Exception as e:
        ok = False
        results["pca_project_gram"] = {"error": f"{type(e).__name__}: {e}"[:300]}

    # metadata-only COUNT(*) (SURVEY §4): the driver-side footer read and
    # the distributed variant must agree with a real scan under multi-JVM
    try:
        from datafusion_ballista_python_spark import plans

        path = os.path.join(sf_dir, "orders.parquet")
        scan_n = spark.read.parquet(path).count()
        meta_n = plans.metadata_count(path)
        dist_n = plans.metadata_count_distributed(spark, path)
        results["metadata_count"] = {
            "scan": scan_n, "driver_footers": meta_n, "distributed": dist_n,
        }
        if not (scan_n == meta_n == dist_n):
            ok = False
    except Exception as e:
        ok = False
        results["metadata_count"] = {"error": f"{type(e).__name__}: {e}"[:300]}
    # prove we really ran multi-executor — probed AFTER the workload (a
    # probe at session start races executor registration and undercounts)
    execs = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
    print(
        json.dumps(
            {
                "mode": "local-cluster[2,4,4096]",
                "block_managers": execs,  # driver + 2 executors => 3
                "multi_executor": execs >= 3,
                "results": results,
                "ok": ok and execs >= 3,
            }
        )
    )
    spark.stop()
    return 0 if (ok and execs >= 3) else 1


if __name__ == "__main__":
    raise SystemExit(main())
