"""Round-8 curation operators: NDCG@k, temperature mixture weights,
DSIR importance weights, CCNet perplexity buckets."""

import math

import pytest
from pyspark.sql import functions as F

from datafusion_ballista_python_spark.operators import (
    quality,
    sampling,
    text,
    training,
)


# -- ndcg_at_k --------------------------------------------------------------


def _dcg(rels):
    return sum((2 ** r - 1) * round(1 / math.log2(i + 2), 6)
               for i, r in enumerate(rels))


def test_ndcg_perfect_ranking_is_one(spark):
    rows = [(0, i, 10.0 - i, 3 - min(i, 3)) for i in range(6)]
    df = spark.createDataFrame(rows, ["qid", "doc_id", "score", "rel"])
    out = quality.ndcg_at_k(df, k=10).collect()[0]
    # score order == rel order -> DCG == IDCG
    assert out["ndcg"] == 1.0
    assert out["dcg"] == pytest.approx(_dcg([3, 2, 1, 0, 0, 0]), abs=1e-9)


def test_ndcg_worst_ranking_below_one_and_hand_value(spark):
    # relevance inverted vs score: rel 0,1,2 ranked first
    rows = [(0, 1, 3.0, 0), (0, 2, 2.0, 1), (0, 3, 1.0, 3)]
    df = spark.createDataFrame(rows, ["qid", "doc_id", "score", "rel"])
    out = quality.ndcg_at_k(df, k=10).collect()[0]
    dcg = _dcg([0, 1, 3])
    idcg = _dcg([3, 1, 0])
    assert out["dcg"] == pytest.approx(dcg, abs=1e-9)
    assert out["idcg"] == pytest.approx(idcg, abs=1e-9)
    assert out["ndcg"] == pytest.approx(round(dcg / idcg, 6), abs=1e-9)
    assert out["ndcg"] < 1.0


def test_ndcg_k_truncates_and_null_on_zero_idcg(spark):
    # only rank > k carries relevance -> dcg 0; all-zero rel -> idcg 0 -> NULL
    rows = [(0, i, 10.0 - i, 0) for i in range(5)]
    df = spark.createDataFrame(rows, ["qid", "doc_id", "score", "rel"])
    out = quality.ndcg_at_k(df, k=3).collect()[0]
    assert out["idcg"] == 0.0 and out["ndcg"] is None
    # k=1 sees only the top doc
    rows = [(0, 1, 2.0, 0), (0, 2, 1.0, 3)]
    df = spark.createDataFrame(rows, ["qid", "doc_id", "score", "rel"])
    out = quality.ndcg_at_k(df, k=1).collect()[0]
    assert out["dcg"] == 0.0 and out["idcg"] > 0 and out["ndcg"] == 0.0


def test_ndcg_multi_query_and_validation(spark):
    rows = [(q, d, float(-d), 1) for q in (0, 1) for d in range(3)]
    df = spark.createDataFrame(rows, ["qid", "doc_id", "score", "rel"])
    got = {r["qid"]: r["ndcg"] for r in quality.ndcg_at_k(df, k=2).collect()}
    assert got == {0: 1.0, 1: 1.0}
    with pytest.raises(ValueError, match="k must be"):
        quality.ndcg_at_k(df, k=0)


# -- temperature_weights ----------------------------------------------------


def test_temperature_alpha_one_keeps_empirical_mix(spark):
    rows = [("a",)] * 8 + [("b",)] * 2
    df = spark.createDataFrame(rows, ["src"])
    out = {r["src"]: r for r in
           sampling.temperature_weights(df, "src", alpha=1.0).collect()}
    assert out["a"]["weight"] == pytest.approx(0.8, abs=1e-6)
    assert out["b"]["weight"] == pytest.approx(0.2, abs=1e-6)
    assert out["a"]["boost"] == pytest.approx(1.0, abs=1e-5)


def test_temperature_boosts_tail(spark):
    rows = [("head",)] * 90 + [("tail",)] * 10
    df = spark.createDataFrame(rows, ["src"])
    out = {r["src"]: r for r in
           sampling.temperature_weights(df, "src", alpha=0.5).collect()}
    assert out["tail"]["boost"] > 1.0 > out["head"]["boost"]
    total = sum(r["weight"] for r in out.values())
    assert total == pytest.approx(1.0, abs=1e-5)
    with pytest.raises(ValueError, match="alpha"):
        sampling.temperature_weights(df, "src", alpha=0.0)


# -- dsir_weights -----------------------------------------------------------


def test_dsir_scores_target_like_docs_higher(spark):
    rows = (
        [(i, "the quick brown fox jumps over lazy dogs", "tgt") for i in range(5)]
        + [(10 + i, "zzz qqq xxx vvv kkk www jjj yyy", "raw") for i in range(5)]
        # a held-out doc that LOOKS like the target but is not labeled tgt
        + [(100, "the quick brown fox jumps again", "raw")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "grp"])
    out = {r["doc_id"]: r["log_weight"] for r in
           training.dsir_weights(df, F.col("grp") == "tgt", buckets=64).collect()}
    # target-distribution text scores above anti-target text
    assert out[0] > out[10]
    assert out[100] > out[10]  # generalizes by content, not by label


def test_dsir_validation(spark):
    df = spark.createDataFrame([(1, "a b c", "x")], ["doc_id", "text", "grp"])
    from datafusion_ballista_python_spark.errors import BallistaError

    with pytest.raises(BallistaError, match="target"):
        training.dsir_weights(df, F.col("grp") == "nope")
    with pytest.raises(ValueError, match="buckets"):
        training.dsir_weights(df, F.col("grp") == "x", buckets=1)


# -- perplexity_buckets -----------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_perplexity_buckets_balanced_and_ordered(docs):
    out = text.perplexity_buckets(docs, n_buckets=3)
    rows = out.collect()
    assert rows, "no documents bucketed"
    per = {}
    for r in rows:
        per.setdefault((r["lang"], r["bucket"]), []).append(r["bits_per_token"])
    langs = {l for l, _ in per}
    for lang in langs:
        sizes = [len(per.get((lang, b), [])) for b in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1  # NTILE balance
        if all(sizes):
            assert max(per[(lang, 1)]) <= min(per[(lang, 3)])  # ordered tiers
    tiers = {r["bucket"]: r["tier"] for r in rows}
    assert tiers == {1: "head", 2: "middle", 3: "tail"}


def test_perplexity_buckets_validation(docs):
    with pytest.raises(ValueError, match="n_buckets"):
        text.perplexity_buckets(docs, n_buckets=1)


# -- map_at_k ---------------------------------------------------------------


def test_map_perfect_and_hand_value(spark):
    # relevant docs ranked 1 and 3 of 4, R=2: AP = (1/1 + 2/3)/2
    rows = [(0, 1, 4.0, 1), (0, 2, 3.0, 0), (0, 3, 2.0, 2), (0, 4, 1.0, 0)]
    df = spark.createDataFrame(rows, ["qid", "doc_id", "score", "rel"])
    out = quality.map_at_k(df, k=10).collect()[0]
    assert out["n_rel"] == 2
    assert out["ap"] == pytest.approx((1.0 + round(2 / 3, 6)) / 2, abs=1e-6)
    # perfect ranking -> AP 1
    rows = [(0, 1, 2.0, 1), (0, 2, 1.0, 0)]
    df = spark.createDataFrame(rows, ["qid", "doc_id", "score", "rel"])
    assert quality.map_at_k(df, k=10).collect()[0]["ap"] == 1.0


def test_map_no_relevant_is_null_and_k_cap(spark):
    rows = [(0, i, 10.0 - i, 0) for i in range(4)]
    df = spark.createDataFrame(rows, ["qid", "doc_id", "score", "rel"])
    out = quality.map_at_k(df, k=2).collect()[0]
    assert out["n_rel"] == 0 and out["ap"] is None
    # relevant only beyond k -> ap 0 (min(R,k) normalizer, R=1, k=1)
    rows = [(0, 1, 2.0, 0), (0, 2, 1.0, 1)]
    df = spark.createDataFrame(rows, ["qid", "doc_id", "score", "rel"])
    out = quality.map_at_k(df, k=1).collect()[0]
    assert out["ap"] == 0.0
    with pytest.raises(ValueError, match="k must be"):
        quality.map_at_k(df, k=0)


# -- k_anonymity ------------------------------------------------------------


def test_k_anonymity_flags_small_classes_only(spark):
    rows = [("us", "a")] * 5 + [("us", "b")] * 2 + [("de", "a")]
    df = spark.createDataFrame(rows, ["country", "segment"])
    viol = {(r["country"], r["segment"]): (r["class_size"], r["deficit"])
            for r in quality.k_anonymity(df, ["country", "segment"], k=3).collect()}
    assert viol == {("us", "b"): (2, 1), ("de", "a"): (1, 2)}
    # k=2: only the singleton violates; empty when k covers everything
    assert quality.k_anonymity(df, ["country", "segment"], k=2).count() == 1
    with pytest.raises(ValueError, match="k must be"):
        quality.k_anonymity(df, ["country"], k=1)
    with pytest.raises(ValueError, match="quasi_identifiers"):
        quality.k_anonymity(df, [], k=3)


def test_k_anonymity_groups_nulls(spark):
    rows = [(None, "a"), (None, "a"), ("us", "a")]
    df = spark.createDataFrame(rows, ["country", "segment"])
    out = {(r["country"], r["segment"]): r["class_size"]
           for r in quality.k_anonymity(df, ["country", "segment"], k=3).collect()}
    assert out == {(None, "a"): 2, ("us", "a"): 1}


# -- token_js_divergence ------------------------------------------------------


def test_js_divergence_identical_corpora_is_zero(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")], ["doc_id", "text"]
    )
    out = text.token_js_divergence(df, df, top_k=None).collect()
    assert out and all(r["js_contrib"] == 0.0 for r in out)


def test_js_divergence_disjoint_support_and_ranking(spark):
    a = spark.createDataFrame([(1, "xx xx yy")], ["doc_id", "text"])
    b = spark.createDataFrame([(2, "zz zz zz")], ["doc_id", "text"])
    rows = {r["term"]: r for r in text.token_js_divergence(a, b, top_k=None).collect()}
    # disjoint terms: each side contributes (p/2)*log2(2) = p/2 bits
    assert rows["zz"]["js_contrib"] == pytest.approx(0.5, abs=1e-6)
    assert rows["xx"]["js_contrib"] == pytest.approx(round(2 / 3, 6) / 2, abs=1e-6)
    assert rows["yy"]["js_contrib"] == pytest.approx(round(1 / 3, 6) / 2, abs=1e-6)
    # total JSD of fully disjoint corpora = 1 bit
    total = sum(r["js_contrib"] for r in rows.values())
    assert total == pytest.approx(1.0, abs=1e-5)
    top1 = text.token_js_divergence(a, b, top_k=1).collect()
    assert top1[0]["term"] == "zz"
    with pytest.raises(ValueError, match="top_k"):
        text.token_js_divergence(a, b, top_k=0)


# -- snapshot_diff ------------------------------------------------------------


def test_snapshot_diff_all_statuses(spark):
    from datafusion_ballista_python_spark.sources.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "v", "w"]
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40)], ["k", "v", "w"]
    )
    got = {r["k"]: r["status"] for r in snapshot_diff(old, new, "k").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    # compare_cols restriction: ignoring v makes key 2 unchanged
    got_w = {r["k"]: r["status"]
             for r in snapshot_diff(old, new, "k", ["w"]).collect()}
    assert got_w[2] == "unchanged"
    with pytest.raises(ValueError, match="compare"):
        snapshot_diff(old.select("k"), new.select("k"), "k")


def test_snapshot_diff_null_safe(spark):
    from datafusion_ballista_python_spark.sources.merge import snapshot_diff

    old = spark.createDataFrame([(1, None), (2, "x")], "k int, v string")
    new = spark.createDataFrame([(1, None), (2, None)], "k int, v string")
    got = {r["k"]: r["status"] for r in snapshot_diff(old, new, "k").collect()}
    assert got == {1: "unchanged", 2: "changed"}


# -- concentration_report -----------------------------------------------------


def test_concentration_uniform_is_zero_gini(spark):
    rows = [(f"s{i % 4}",) for i in range(40)]  # 4 groups x 10
    df = spark.createDataFrame(rows, ["src"])
    out = quality.concentration_report(df, "src").collect()[0]
    assert out["n_groups"] == 4 and out["total"] == 40
    assert out["gini"] == pytest.approx(0.0, abs=1e-9)
    assert out["top_share"] == pytest.approx(0.25, abs=1e-9)


def test_concentration_skew_and_weighted(spark):
    # hand value: masses 1, 1, 8 -> sorted ranks (1,1),(2,1),(3,8):
    # G = 2*(1+2+24)/(3*10) - 4/3 = 54/30 - 40/30 = 14/30
    df = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 8)], ["src", "w"]
    )
    out = quality.concentration_report(df, "src", weight="w").collect()[0]
    assert out["gini"] == pytest.approx(round(14 / 30, 6), abs=1e-9)
    assert out["top_share"] == pytest.approx(0.8, abs=1e-9)
    # unweighted on the same frame: 3 singleton groups -> flat
    flat = quality.concentration_report(df, "src").collect()[0]
    assert flat["gini"] == pytest.approx(0.0, abs=1e-9)
