#!/usr/bin/env python
"""Measured-decade scaling probe (VERDICT r7 task #8): run the ten most
expensive corpus operators at sf0.1 and at the 10x replica set built by
tools/make_scale_data.py, and report the wall ratio per operator.

A plan that holds at 100 TB should scale ~linearly in input here (ratio
~<= 12x for 10x data, allowing constant driver/stage latency to amortize
and mildly superlinear shuffle costs); anything far above that is a
scale bug the plan reads missed.

Usage: python tools/scale_probe.py [small_dir] [big_dir]
Prints one JSON line {"ops": {name: {"small_sec": s, "big_sec": b,
"ratio": r}}, ...}; also appended by hand to SCALE.md as the measured
table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OPS = [
    "dedup_minhash_lsh",
    "dedup_exact_jaccard_join",
    "dedup_containment_join",
    "dedup_survivor_selection",
    "graph_pagerank",
    "graph_pagerank_directed",
    "graph_kcore",
    "graph_triangle_count",
    "embed_mmr_topk",
    "train_bpe_merges",
    # r8-continuation additions: the two new shuffle/join-heavy operators
    "dedup_fuzzy_levenshtein",
    "embed_covariance",
    # r8 third-session additions: wedge-join link prediction + the
    # user-key range-window attribution
    "graph_adamic_adar",
    "events_attribution",
    # r9 (VERDICT r8 task #6): the remaining unprobed bench heavies
    "train_dsir_weights",
    "retrieval_rrf_hybrid",
    "eval_ndcg_retrieval",
    "eval_rank_correlation",
    "text_perplexity_buckets",
]


def main() -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big = sys.argv[2] if len(sys.argv) > 2 else os.path.join(here, ".scaledata", "sf1")
    # probe a subset without re-timing already-recorded ops (the r8
    # artifacts stay the record for theirs): comma-separated names
    only = os.environ.get("SPARK_GRAFT_PROBE_OPS")
    if only:
        wanted = {o for o in (s.strip() for s in only.split(",")) if o}
        unknown = sorted(wanted - set(OPS))
        if unknown:
            # a typo must not produce an empty probe that exits 0 and
            # reads as a refreshed scaling record
            raise SystemExit(
                f"ERROR: unknown probe op(s) {unknown}; known: {OPS}"
            )
        ops = [o for o in OPS if o in wanted]
    else:
        ops = OPS

    from datafusion_ballista_python_spark.corpus import load_all
    from datafusion_ballista_python_spark.session import build_session

    spark = build_session(shuffle_partitions=32, app_name="scale-probe")
    registry = load_all()

    # JIT warmup at the smallest SF so codegen compilation is excluded
    for name in ops:
        try:
            registry[name].fn(spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass

    def best_of(name: str, sf_dir: str, repeats: int = 2) -> float:
        best = None
        for _ in range(repeats):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            registry[name].fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return round(best, 2)

    out: dict[str, dict] = {}
    for name in ops:
        try:
            s = best_of(name, small)
            b = best_of(name, big)
            out[name] = {
                "small_sec": s,
                "big_sec": b,
                "ratio": round(b / s, 1) if s > 0 else None,
            }
            print(f"# {name}: {s}s -> {b}s ({out[name]['ratio']}x)", file=sys.stderr)
        except Exception as e:
            out[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
            print(f"# {name}: FAILED {e}", file=sys.stderr)
    print(json.dumps({"small": small, "big": big, "ops": out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
