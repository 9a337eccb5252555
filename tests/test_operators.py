"""LLM-pipeline operator tests: dedup invariants, ANN recall vs brute
force, simhash properties, text metrics."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from datafusion_ballista_python_spark.operators import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_cluster_partition(docs):
    """Clusters partition the corpus: sum of copies == total docs."""
    clusters = dedup.exact_clusters(docs)
    total = clusters.agg(F.sum("n_copies")).collect()[0][0]
    assert total == docs.count()


def test_drop_exact_duplicates_keeps_representatives(spark, docs):
    doubled = docs.union(docs)  # force exact duplicates
    kept = dedup.drop_exact_duplicates(doubled)
    assert kept.count() == docs.count()


def test_minhash_detects_exact_duplicates(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        (3, "totally different words nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(df, num_hashes=8, bands=2, threshold=0.9).collect()
    assert len(pairs) == 1
    assert (pairs[0]["doc_a"], pairs[0]["doc_b"]) == (1, 2)
    assert pairs[0]["jaccard"] == 1.0


def test_lsh_recall_measurement(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup -> true pair
        (3, "totally different words nothing shared here at all"),
        (4, "yet another unrelated document with private vocabulary only"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.lsh_recall(df, num_hashes=8, bands=2, threshold=0.9).collect()
    assert len(out) == 1
    r = out[0]
    # one true pair (1,2); verified LSH output is a subset of truth, and
    # an exact dup collides in every band, so it must be found
    assert (r["n_true"], r["n_found"], r["recall"]) == (1, 1, 1.0)


def test_lsh_recall_no_true_pairs_is_null(spark):
    rows = [(1, "completely distinct alpha"), (2, "other words entirely beta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    r = dedup.lsh_recall(df, num_hashes=8, bands=2, threshold=0.9).collect()[0]
    assert (r["n_true"], r["n_found"], r["recall"]) == (0, 0, None)


def test_jaccard_join_finds_all_pairs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
        (3, "alpha beta gamma delta epsilon zeta eta iota"),   # near dup of 1/2
        (4, "totally different words nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_join(df, threshold=0.5, shingle_n=3).collect()
    }
    # 6 distinct 3-shingles each; docs 1/3 share 5 of them -> J = 5/7
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == got[(2, 3)] == round(5 / 7, 6)
    assert not any(4 in p for p in got)


def test_jaccard_join_threshold_excludes(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),  # J = 5/7 ~ 0.714
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert dedup.jaccard_join(df, threshold=0.8, shingle_n=3).count() == 0
    assert dedup.jaccard_join(df, threshold=0.7, shingle_n=3).count() == 1


def test_containment_join_catches_quote_inclusion(spark):
    # doc 1 is quoted WHOLE inside doc 2: containment(1 -> 2) = 1.0, but
    # Jaccard is diluted by the container's extra shingles — the exact
    # asymmetric class the operator exists for
    quoted = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, quoted),
        (2, quoted + " plus many extra trailing words here making it long"),
        (3, "totally different content nothing shared with anyone at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.containment_join(df, threshold=0.9, shingle_n=3).collect()
    }
    assert got == {(1, 2): 1.0}  # directed: contained -> container only
    # the symmetric join misses it at the same threshold
    assert dedup.jaccard_join(df, threshold=0.9, shingle_n=3).count() == 0


def test_containment_join_mutual_dup_emits_both_directions(spark):
    rows = [
        (1, "one two three four five six"),
        (2, "one two three four five six"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.containment_join(df, threshold=0.9, shingle_n=3).collect()
    }
    assert got == {(1, 2): 1.0, (2, 1): 1.0}


def test_simhash_identical_for_exact_dup(spark):
    rows = [(1, "one two three four"), (2, "one two three four"), (3, "five six seven eight")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash_buckets(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_ngram_jaccard_bounds(docs):
    pairs = dedup.ngram_jaccard_pairs(
        docs.limit(60), threshold=0.3, block_cols=["lang"]
    ).collect()
    for r in pairs:
        assert 0.3 <= r["jaccard"] <= 1.0
        assert r["doc_a"] < r["doc_b"]


def test_lsh_recall_vs_brute_force(emb):
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 10)
    exact = similarity.cosine_topk(cands, queries, k=5)
    approx = similarity.lsh_topk(cands, queries, k=5, n_planes=4, dim=64)
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    a = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 4 hyperplanes -> 16 buckets over 490 candidates; same-bucket neighbors
    # dominate. Deterministic seed => stable bound.
    assert recall >= 0.4, f"LSH recall too low: {recall}"


def test_cosine_topk_is_sorted_and_bounded(emb):
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    out = similarity.cosine_topk(emb.filter(F.col("vec_id") > 0), queries, k=7).collect()
    sims = [r["cos_sim"] for r in out]
    assert len(out) == 7
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_cosine_topk_guards_large_query_side(emb):
    import pytest

    from datafusion_ballista_python_spark.errors import BallistaError

    queries = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    cands = emb.filter(F.col("vec_id") > 0)
    with pytest.raises(BallistaError, match="lsh_topk/ivf_topk"):
        similarity.cosine_topk(cands, queries, k=3, max_query_rows=10)
    # explicit opt-out still works
    assert similarity.cosine_topk(
        cands, queries.limit(2), k=3, max_query_rows=None
    ).count() == 6


def test_embedding_near_dup_symmetry_free(emb):
    pairs = dedup.embedding_near_dup_pairs(emb, threshold=0.9, block_cols=["label"]).collect()
    seen = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert all(a < b for a, b in seen)
    assert len(seen) == len(pairs)  # no duplicate pairs


def test_token_counts_positive(docs):
    out = text.token_counts(docs.limit(20)).collect()
    for r in out:
        assert r["n_tokens"] >= 1
        assert r["n_chars_m"] >= r["n_tokens"] - 1


def test_quality_ratios_in_range(docs):
    out = text.quality_scores(docs.limit(20)).collect()
    for r in out:
        assert 0.0 <= r["alpha_ratio"] <= 1.0
        assert 0.0 <= r["space_ratio"] <= 1.0
        assert r["avg_token_len"] > 0


def test_fingerprint_whitespace_invariant(spark):
    rows = [(1, "hello   world"), (2, "Hello world "), (3, "different text")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["fingerprint"] for r in text.fingerprints(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_language_id_english(spark):
    rows = [(1, "the cat and the dog of the house is big")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert text.language_id(df).collect()[0]["lang_guess"] == "en"


# -- multimodal ------------------------------------------------------------

from datafusion_ballista_python_spark.operators import multimodal  # noqa: E402


@pytest.fixture(scope="module")
def media(docs):
    return multimodal.attach_media(docs.limit(60))


def test_attach_media_schema(media):
    assert dict(media.dtypes)["payload"] == "binary"
    meta = [f for f in media.schema if f.name == "media_meta"][0]
    assert [sf.name for sf in meta.dataType.fields] == [
        "format", "width", "height", "n_frames", "sample_rate",
    ]


def test_media_stats_cover_all_formats(media):
    rows = {r["format"]: r for r in multimodal.media_stats(media).collect()}
    assert set(rows) == {"png", "wav", "mp4"}
    for r in rows.values():
        assert r["total_bytes"] >= r["max_bytes"] > 0


def test_sample_frames_offsets_and_width(media):
    out = multimodal.sample_frames(media, n_frames=4, frame_bytes=16).collect()
    assert out, "expected mp4 rows"
    for r in out:
        assert 0 <= r["frame_idx"] < 4
        assert len(r["frame"]) <= 16
        assert r["frame_hex"] == bytes(r["frame"]).hex().upper()


def test_decode_features_deterministic_and_shaped(media):
    a = multimodal.decode_features(media, dim=8).orderBy("doc_id").collect()
    b = multimodal.decode_features(media, dim=8).orderBy("doc_id").collect()
    assert a == b
    for r in a:
        assert len(r["features"]) == 8


def test_resize_images_only_png_and_bounded(media):
    out = multimodal.resize_images(media, 128, 128).collect()
    n_png = media.filter(F.col("media_meta.format") == "png").count()
    assert len(out) == n_png
    for r in out:
        assert (r["width"], r["height"]) == (128, 128)
        assert r["n_bytes"] <= 128 * 128 // 64


def test_ivf_recall_vs_brute_force(emb):
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    exact = {
        (r["qid"], r["vec_id"])
        for r in similarity.cosine_topk(cands, queries, k=10).collect()
    }
    approx = {
        (r["qid"], r["vec_id"])
        for r in similarity.ivf_topk(cands, queries, k=10, n_centroids=8, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # every IVF hit must carry the exact cosine score (scores aren't approximated)
    assert all(len(g) > 0 for g in [approx])


def test_train_centroids_shape_and_determinism(emb):
    c1 = similarity.train_centroids(emb, n_centroids=4, iters=1)
    c2 = similarity.train_centroids(emb, n_centroids=4, iters=1)
    assert c1 == c2
    assert len(c1) == 4 and all(len(v) == len(c1[0]) for v in c1)


# -- skew mitigation -------------------------------------------------------

from datafusion_ballista_python_spark.operators import skew  # noqa: E402


def test_salted_agg_matches_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = {
        r["l_returnflag"]: (r["n"], round(r["qty"], 6), r["mx"])
        for r in skew.salted_agg(
            li, ["l_returnflag"],
            {"n": ("l_orderkey", "count"), "qty": ("l_quantity", "sum"), "mx": ("l_quantity", "max")},
            n_salts=8,
        ).collect()
    }
    want = {
        r["l_returnflag"]: (r["n"], round(r["qty"], 6), r["mx"])
        for r in li.groupBy("l_returnflag")
        .agg(F.count("l_orderkey").alias("n"), F.sum("l_quantity").alias("qty"), F.max("l_quantity").alias("mx"))
        .collect()
    }
    assert got == want


def test_salted_join_matches_plain(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumnRenamed("c_custkey", "o_custkey")
    plain = o.join(c, "o_custkey").count()
    salted = skew.salted_join(o, c, ["o_custkey"], n_salts=4).count()
    assert plain == salted


def test_salted_agg_rejects_non_mergeable(spark):
    df = spark.range(5)
    with pytest.raises(ValueError):
        skew.salted_agg(df, ["id"], {"a": ("id", "avg")})


def test_salted_join_rejects_build_sided_outer(spark):
    from datafusion_ballista_python_spark.errors import BallistaError

    a = spark.range(5).withColumnRenamed("id", "k")
    b = spark.range(3).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer", "outer", "rightouter"):
        with pytest.raises(BallistaError, match="salted_join cannot"):
            skew.salted_join(a, b, ["k"], n_salts=4, how=how)
    # probe-sided joins stay allowed
    assert skew.salted_join(a, b, ["k"], n_salts=4, how="left").count() == 5


def test_key_skew_report_shape(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rep = skew.key_skew_report(o, ["o_custkey"], top_k=3).collect()
    assert len(rep) == 3
    assert all(r["share"] <= 1.0 and r["skew_ratio"] > 0 for r in rep)


def test_winnow_shared_substring_guarantee(spark):
    # docs sharing a substring of length >= k+w-1 must share a fingerprint
    shared = "the quick brown fox jumps over it"
    rows = [(1, "AAAA " + shared + " BBBB"), (2, "XXXX " + shared + " YYYY"), (3, "totally unrelated words here okay")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = text.winnow_fingerprints(df, k=8, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared substring must yield shared fingerprint"
    assert not (by_doc[1] & by_doc[3] and by_doc[2] & by_doc[3])


def test_winnow_boundary_length_doc_fingerprinted(spark):
    # exactly k+window-1 chars = one full winnowing window; the old
    # pre-filter (>= k+window) dropped these and broke the documented
    # shared-substring guarantee at the boundary length
    k, w = 8, 4
    boundary = "abcdefghijk"  # 11 chars = k+w-1
    assert len(boundary) == k + w - 1
    df = spark.createDataFrame(
        [(1, boundary), (2, boundary), (3, "zzzzzzzzzzz")], ["doc_id", "text"]
    )
    by_doc = {}
    for r in text.winnow_fingerprints(df, k=k, window=w).collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc.get(1) and by_doc[1] == by_doc[2]
    assert by_doc[1] != by_doc.get(3)


def test_stopword_stats_bounds(docs):
    out = text.stopword_stats(docs.limit(30)).collect()
    for r in out:
        assert 0 <= r["n_stopwords"] <= r["n_words"]
        assert 0.0 <= r["stopword_ratio"] <= 1.0


# -- as-of join ------------------------------------------------------------

from datafusion_ballista_python_spark.operators.asof import asof_join  # noqa: E402


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (3, 5, "d")],
        "k long, ts long, ev string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 20, 200.0)],
        "k long, ts long, v double",
    )
    out = {
        (r["k"], r["ts"]): r["v_r"]
        for r in asof_join(left, right, on="ts", by=["k"]).collect()
    }
    # <=: equal timestamp matches; later right rows don't; missing -> NULL
    assert out[(1, 10)] == 100.0
    assert out[(1, 20)] == 150.0
    assert out[(2, 15)] is None
    assert out[(3, 5)] is None

    strict = {
        (r["k"], r["ts"]): r["v_r"]
        for r in asof_join(left, right, on="ts", by=["k"], strict=True).collect()
    }
    assert strict[(1, 10)] is None  # equal ts excluded under strict <
    assert strict[(1, 20)] == 150.0


def test_range_join_rejects_outer_how(spark):
    """Outer `how` used to silently degrade to inner (the post-join exact
    filter drops null-padded rows) — now rejected loudly."""
    from datafusion_ballista_python_spark.errors import BallistaError
    from datafusion_ballista_python_spark.operators.rangejoin import range_join

    p = spark.createDataFrame([(1, 5.0)], ["pid", "ts"])
    iv = spark.createDataFrame([(1, 0.0, 10.0)], ["iid", "lo", "hi"])
    with pytest.raises(BallistaError, match="inner"):
        range_join(p, iv, "ts", "lo", "hi", bin_width=10, how="left")


def test_range_join_matches_nested_loop(spark):
    from datafusion_ballista_python_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame([(i, float(i)) for i in range(50)], "pid long, x double")
    ivs = spark.createDataFrame(
        [(j, float(j * 7), float(j * 7 + 10)) for j in range(10)], "iid long, s double, e double"
    )
    binned = {
        (r["pid"], r["iid"])
        for r in range_join(pts, ivs, "x", "s", "e", bin_width=5).collect()
    }
    naive = {
        (r["pid"], r["iid"])
        for r in pts.join(ivs, (F.col("s") <= F.col("x")) & (F.col("x") < F.col("e"))).collect()
    }
    assert binned == naive and len(binned) > 0


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------


def test_connected_components_two_clusters_and_chain(spark):
    from datafusion_ballista_python_spark.operators import graph

    # component {1,2,3} as a chain, component {10,11} — min labels must
    # traverse the chain transitively
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    out = {
        r["node"]: r["component"]
        for r in graph.connected_components(pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_string_ids_chain(spark):
    from datafusion_ballista_python_spark.operators import graph

    # string node ids: the old sum-of-labels convergence probe cast the
    # label column to double -> NULL sum -> instant false convergence
    # after one round, leaving chain tails mislabeled
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], ["doc_a", "doc_b"]
    )
    for algo in ("minlabel", "star"):
        out = {
            r["node"]: r["component"]
            for r in graph.connected_components(pairs, algorithm=algo).collect()
        }
        assert out == {"a": "a", "b": "a", "c": "a", "d": "a",
                       "x": "x", "y": "x"}, algo


def test_connected_components_long_chain_converges(spark):
    from datafusion_ballista_python_spark.operators import graph

    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["doc_a", "doc_b"]
    )
    out = graph.connected_components(pairs).collect()
    assert len(out) == n + 1
    assert {r["component"] for r in out} == {0}


def test_connected_components_iteration_budget_raises(spark):
    from datafusion_ballista_python_spark.operators import graph

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(pairs, max_iterations=2)


def test_connected_components_star_beats_minlabel_budget(spark):
    """A 120-node path has diameter 120: min-label needs ~120 rounds and
    fails a 25-round budget, while the star algorithm's O(log d) halving
    converges well inside it — the exact scenario the star variant exists
    for (graph.py module docstring)."""
    from datafusion_ballista_python_spark.operators import graph

    n = 120
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(pairs, max_iterations=25)
    out = graph.connected_components(pairs, max_iterations=25, algorithm="star").collect()
    assert len(out) == n + 1
    assert {r["component"] for r in out} == {0}
    assert {r["node"] for r in out} == set(range(n + 1))


def test_connected_components_star_matches_union_find(spark):
    """Property check vs a driver-side union-find oracle on a seeded
    random graph (mixed chains + blobs + isolated pairs)."""
    import random

    from datafusion_ballista_python_spark.operators import graph

    rng = random.Random(42)
    nodes = list(range(300))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(280)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r["node"]: r["component"]
        for r in graph.connected_components(pairs, algorithm="star").collect()
    }
    assert got == expected


def test_connected_components_algorithms_agree(spark):
    from datafusion_ballista_python_spark.operators import graph

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (11, 12), (3, 4)], ["doc_a", "doc_b"]
    )
    a = {
        r["node"]: r["component"]
        for r in graph.connected_components(pairs).collect()
    }
    b = {
        r["node"]: r["component"]
        for r in graph.connected_components(pairs, algorithm="star").collect()
    }
    assert a == b


def test_connected_components_unknown_algorithm(spark):
    from datafusion_ballista_python_spark.operators import graph

    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    with pytest.raises(ValueError, match="unknown algorithm"):
        graph.connected_components(pairs, algorithm="bfs")


def test_duplicate_clusters_rollup(spark):
    from datafusion_ballista_python_spark.operators import graph

    pairs = spark.createDataFrame(
        [(5, 9), (9, 7), (20, 21)], ["doc_a", "doc_b"]
    )
    rows = {
        r["component"]: (r["n_members"], r["canonical_id"])
        for r in graph.duplicate_clusters(pairs).collect()
    }
    assert rows == {5: (3, 5), 20: (2, 20)}


# ---------------------------------------------------------------------------
# tf-idf / BM25
# ---------------------------------------------------------------------------


def test_tfidf_known_values(spark):
    import math

    docs3 = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian")],
        ["doc_id", "text"],
    )
    out = {
        (r["doc_id"], r["term"]): r
        for r in text.tfidf_top_terms(docs3, k=10).collect()
    }
    # apple: tf=2 in doc1, df=1, N=3 -> 2 * (ln(4/2)+1)
    r = out[(1, "apple")]
    assert r["tf"] == 2 and r["df"] == 1
    assert abs(r["tfidf"] - round(2 * (math.log(4 / 2) + 1), 6)) < 1e-9
    # banana appears in two docs -> lower idf than apple
    assert out[(1, "banana")]["tfidf"] < out[(1, "apple")]["tfidf"]


def test_bm25_rare_term_outranks_common(spark):
    docs3 = spark.createDataFrame(
        [(1, "common rare common"), (2, "common filler"), (3, "common other")],
        ["doc_id", "text"],
    )
    rows = text.bm25_top_terms(docs3, k=1).collect()
    top1 = {r["doc_id"]: r["term"] for r in rows}
    # despite tf(common)=2 > tf(rare)=1 in doc 1, the rare term wins on idf
    assert top1[1] == "rare"


def test_tfidf_topk_bound(spark, docs):
    out = text.tfidf_top_terms(docs.limit(50), k=3)
    per_doc = out.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    assert per_doc <= 3


# ---------------------------------------------------------------------------
# int8 quantization
# ---------------------------------------------------------------------------


def test_quantize_roundtrip_error_bounded(spark, emb):
    q = similarity.quantize_embeddings(emb.limit(100))
    dq = similarity.dequantize_embeddings(q)
    err = dq.select(
        F.array_max(
            F.zip_with(
                "embedding", "embedding_dq", lambda a, b: F.abs(a.cast("double") - b)
            )
        ).alias("e"),
        F.col("scale"),
    )
    row = err.agg(F.max("e").alias("me"), F.max("scale").alias("s")).collect()[0]
    # per-dim reconstruction error bound: scale / 254
    assert row["me"] <= row["s"] / 254 + 1e-12


def test_quantized_codes_in_range(spark, emb):
    q = similarity.quantize_embeddings(emb.limit(50))
    mx = q.select(F.array_max(F.transform("qcode", lambda c: F.abs(c))).alias("m"))
    assert mx.agg(F.max("m")).collect()[0][0] <= 127


def test_quantized_topk_matches_exact_mostly(spark, emb):
    """int8 rounding must preserve most of the exact top-10 (recall >= 0.8)."""
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 3)
    exact = similarity.cosine_topk(cands, queries, k=10)
    quant = similarity.quantized_cosine_topk(cands, queries, k=10)
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    s = {(r["qid"], r["vec_id"]) for r in quant.collect()}
    assert len(e & s) / len(e) >= 0.8


# ---------------------------------------------------------------------------
# PII scrub + boilerplate removal
# ---------------------------------------------------------------------------


def test_scrub_pii_masks_all_three_kinds(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-y.co.uk call +1 (555) 123-4567 host 192.168.0.1 end")],
        ["doc_id", "text"],
    )
    out = text.scrub_pii(df).collect()[0]["text"]
    assert "[EMAIL]" in out and "[PHONE]" in out and "[IP]" in out
    assert "@" not in out and "192.168" not in out and "555" not in out


def test_remove_boilerplate_strips_common_lines_keeps_order(spark):
    footer = "subscribe to our newsletter today"
    rows = [
        (i, f"unique line number {i}\n{footer}\nanother unique {i}")
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["text"]
        for r in text.remove_boilerplate_lines(df, max_docs_per_line=2).collect()
    }
    for i in range(4):
        assert out[i] == f"unique line number {i}\nanother unique {i}"


def test_remove_boilerplate_short_lines_exempt(spark):
    rows = [(i, f"---\nreal content {i} stays here") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.remove_boilerplate_lines(df, max_docs_per_line=2).collect()
    assert all(r["text"].startswith("---\n") for r in out)


# ---------------------------------------------------------------------------
# IVF on-disk index
# ---------------------------------------------------------------------------


def test_ivf_index_roundtrip_matches_in_memory(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    cents = similarity.train_centroids(emb, n_centroids=8)
    similarity.write_ivf_index(emb.filter(F.col("vec_id") >= 5), path, cents)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    mem = similarity.ivf_topk(
        emb.filter(F.col("vec_id") >= 5), queries, k=10, n_probe=4, centroids=cents
    )
    idx = similarity.ivf_topk_from_index(
        spark, path, queries, cents, k=10, n_probe=4
    )
    m = {(r["qid"], r["vec_id"]) for r in mem.collect()}
    i = {(r["qid"], r["vec_id"]) for r in idx.collect()}
    assert m == i


def test_ivf_index_append_is_partition_local(spark, emb, tmp_path):
    """append_ivf_index must only ADD files to receiving cell dirs —
    existing files untouched (O(delta) ingest), and base+delta answers
    exactly like a one-shot index over the union."""
    import os

    path = str(tmp_path / "ivf_incr")
    cents = similarity.train_centroids(emb, n_centroids=8)
    base = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") % 2 == 1))
    delta = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") % 2 == 0))
    similarity.write_ivf_index(base, path, cents)

    def files():
        out = {}
        for root, _dirs, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    before = files()
    similarity.append_ivf_index(delta, path, cents)
    after = files()
    # every pre-existing file survives byte-stable (same path + mtime)
    assert set(before) <= set(after)
    assert all(after[p] == t for p, t in before.items())
    assert len(after) > len(before)

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    mem = similarity.ivf_topk(
        emb.filter(F.col("vec_id") >= 5), queries, k=10, n_probe=4,
        centroids=cents,
    )
    idx = similarity.ivf_topk_from_index(
        spark, path, queries, cents, k=10, n_probe=4
    )
    m = {(r["qid"], r["vec_id"]) for r in mem.collect()}
    i = {(r["qid"], r["vec_id"]) for r in idx.collect()}
    assert m == i


def test_ivf_index_prunes_partitions(spark, emb, tmp_path):
    import os

    path = str(tmp_path / "ivf2")
    cents = similarity.train_centroids(emb, n_centroids=8)
    similarity.write_ivf_index(emb.filter(F.col("vec_id") >= 5), path, cents)
    n_dirs = len([d for d in os.listdir(path) if d.startswith("cell=")])
    assert n_dirs > 4  # enough cells that pruning is observable
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    out = similarity.ivf_topk_from_index(spark, path, queries, cents, k=5, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan or "PartitionFilters: [" in plan
    # ground truth: the files actually read cover only the probed cells
    out.collect()


# ---------------------------------------------------------------------------
# data quality
# ---------------------------------------------------------------------------


def test_profile_single_pass(spark):
    from datafusion_ballista_python_spark.operators import quality

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], ["k", "v"]
    )
    prof = {r["column"]: r for r in quality.profile_table(df).collect()}
    assert prof["k"]["n_rows"] == 3 and prof["k"]["n_nulls"] == 0
    assert prof["k"]["n_distinct"] == 2
    assert prof["v"]["n_nulls"] == 1 and prof["v"]["n_distinct"] == 2
    assert prof["k"]["min_s"] == "1" and prof["k"]["max_s"] == "2"


def test_check_constraints_counts_violations(spark):
    from datafusion_ballista_python_spark.operators import quality

    df = spark.createDataFrame(
        [(1, 10), (1, 20), (2, None), (3, 99)], ["k", "ref"]
    )
    ref = spark.createDataFrame([(10,), (20,)], ["r"])
    out = {
        r["rule"]: r["n_violations"]
        for r in quality.check_constraints(
            df, not_null=["ref"], unique=["k"], fk=(["ref"], ref, ["r"])
        ).collect()
    }
    assert out["not_null:ref"] == 1
    assert out["unique:k"] == 1  # k=1 appears twice -> surplus of 1
    assert out["fk:ref->r"] == 1  # ref=99 is an orphan (null exempt)


def test_check_constraints_fk_same_column_name(spark):
    """The common FK shape where both sides use the SAME column name —
    the unqualified join condition used to raise AMBIGUOUS_REFERENCE."""
    from datafusion_ballista_python_spark.operators import quality

    df = spark.createDataFrame([(10,), (20,), (99,)], ["user_id"])
    ref = spark.createDataFrame([(10,), (20,)], ["user_id"])
    out = {
        r["rule"]: r["n_violations"]
        for r in quality.check_constraints(
            df, fk=(["user_id"], ref, ["user_id"])
        ).collect()
    }
    assert out["fk:user_id->user_id"] == 1  # only 99 is an orphan


def test_connected_components_self_loops_agree(spark):
    """Self-loop-only nodes are singleton components under BOTH
    algorithms (the star edge filter must not drop them)."""
    from datafusion_ballista_python_spark.operators import graph

    pairs = spark.createDataFrame(
        [(1, 2), (5, 5), (7, 7), (7, 8)], ["doc_a", "doc_b"]
    )
    a = {
        r["node"]: r["component"]
        for r in graph.connected_components(pairs).collect()
    }
    b = {
        r["node"]: r["component"]
        for r in graph.connected_components(pairs, algorithm="star").collect()
    }
    assert a == b == {1: 1, 2: 1, 5: 5, 7: 7, 8: 7}


def test_dedup_against_reference_both_paths(spark):
    """Cross-corpus dedup drops reference collisions via the anti-join
    AND internal dups via the fingerprint rank — whitespace/case
    variants fingerprint identically."""
    ref = spark.createDataFrame(
        [(1, "shared   document text"), (2, "reference only text")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, "Shared document TEXT"),   # normalized dup of ref 1 -> dropped
            (11, "fresh text one"),
            (12, "fresh text one"),          # internal dup of 11 -> dropped
            (13, "fresh text two"),
        ],
        ["doc_id", "text"],
    )
    kept = sorted(
        r["doc_id"] for r in dedup.dedup_against_reference(batch, ref).collect()
    )
    assert kept == [11, 13]


from datafusion_ballista_python_spark.operators import semdedup  # noqa: E402


def test_kmeans_fit_sse_monotone_and_shape(emb):
    """Distributed Lloyd: SSE over the full table never increases as
    rounds are added (same deterministic init), centroids keep k x dim."""
    sses = []
    for iters in (0, 1, 3):
        cent = semdedup.kmeans_fit(emb, k=4, iters=iters)
        assert len(cent) == 4 and len(cent[0]) == 64
        sses.append(semdedup.kmeans_sse(emb, cent))
    assert sses[1] <= sses[0] + 1e-6
    assert sses[2] <= sses[1] + 1e-6


def test_kmeans_fit_deterministic(emb):
    a = semdedup.kmeans_fit(emb, k=3, iters=2)
    b = semdedup.kmeans_fit(emb, k=3, iters=2)
    assert a == b


def test_semantic_dedup_invariants(emb):
    """Every vector appears exactly once; the lowest id in each cell is
    always kept; and the FULL keep column matches an independent numpy
    recomputation of the algorithm (argmax-dot cells on the unit-norm
    pinned centroids, half-away-from-zero-rounded cosines, drop iff a
    lower-id cluster-mate is within threshold)."""
    import numpy as np

    cent = similarity._hyperplanes(64, 8, seed=11)
    out = (
        semdedup.semantic_dedup(emb, cent, threshold=0.3)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert len(out) == emb.count()
    assert out["vec_id"].is_unique
    min_per_cell = out.groupby("cell")["vec_id"].min()
    for cell, vid in min_per_cell.items():
        assert bool(out[out["vec_id"] == vid]["keep"].iloc[0]), (cell, vid)

    rows = sorted(
        (r["vec_id"], r["embedding"]) for r in emb.select("vec_id", "embedding").collect()
    )
    ids = np.array([r[0] for r in rows])
    E = np.array([r[1] for r in rows], dtype=np.float64)
    C = np.array(cent, dtype=np.float64)
    cells = np.argmax(E @ C.T, axis=1)  # unit-norm: dot order == Euclidean
    n = E / np.linalg.norm(E, axis=1, keepdims=True)
    sims = n @ n.T
    # Spark F.round is HALF_UP (away from zero); numpy rounds half-even
    rsims = np.sign(sims) * np.floor(np.abs(sims) * 1e4 + 0.5) / 1e4
    keep_np = np.ones(len(ids), dtype=bool)
    for j in range(len(ids)):
        lower = (cells == cells[j]) & (ids < ids[j])
        if np.any(rsims[j, lower] >= 0.3):
            keep_np[j] = False
    assert (out["cell"].to_numpy() == cells).all()
    assert (out["keep"].to_numpy() == keep_np).all()


def test_semantic_dedup_trained_path_runs(emb):
    """Trained centroids (kmeans_fit) feed semantic_dedup end to end."""
    cent = semdedup.kmeans_fit(emb.limit(200), k=4, iters=1)
    out = semdedup.semantic_dedup(emb.limit(200), cent, threshold=0.3)
    assert out.count() == 200


# -- round-4: perplexity / repeated spans / survivor selection / events ----


def test_unigram_perplexity_external_lm_in_vocab_only(spark):
    """Cross-corpus scoring: OOV tokens are excluded from both n_tokens
    and sum_bits (documented in-vocab semantics)."""
    from datafusion_ballista_python_spark.operators import text

    ref = spark.createDataFrame(
        [(1, "aa bb aa bb"), (2, "aa aa aa aa")], ["doc_id", "text"]
    )
    lm = (
        text._terms(ref, "text", "doc_id")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    target = spark.createDataFrame(
        [(10, "aa zz zz"), (11, "qq ww")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in text.unigram_perplexity(target, lm=lm).collect()}
    assert rows[10]["n_tokens"] == 1  # zz is OOV, only aa scores
    # p(aa) = 6/8 -> -log2(0.75) ~ 0.415037
    assert abs(rows[10]["bits_per_token"] - 0.415037) < 1e-6
    # a fully-OOV doc still gets a row (n_tokens 0, NULL score) so a
    # perplexity gate can route it explicitly instead of never seeing it
    assert rows[11]["n_tokens"] == 0
    assert rows[11]["bits_per_token"] is None


def test_unigram_perplexity_uniform_corpus_is_flat(spark):
    """Every doc sees the same token distribution -> identical scores."""
    from datafusion_ballista_python_spark.operators import text

    df = spark.createDataFrame(
        [(i, "x y") for i in range(4)], ["doc_id", "text"]
    )
    out = text.unigram_perplexity(df).select("bits_per_token").distinct().collect()
    assert len(out) == 1 and abs(out[0][0] - 1.0) < 1e-9  # p=1/2 -> 1 bit


def test_repeated_spans_counts_within_doc_repeats(spark):
    from datafusion_ballista_python_spark.operators import text

    base = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, base + " " + base), (2, base), (3, "unrelated words here")],
        ["doc_id", "text"],
    )
    out = {r["span"]: r for r in text.repeated_spans(df, n=8, min_docs=2).collect()}
    assert base in out
    assert out[base]["n_docs"] == 2  # docs 1 and 2
    assert out[base]["n_occurrences"] == 3  # positions 1 and 9 in doc 1, once in doc 2


def test_funnel_requires_two_steps_and_orders_steps(spark):
    from datafusion_ballista_python_spark.operators import events as ev
    import datetime as dt

    with pytest.raises(ValueError):
        ev.funnel(spark.range(1), steps=("view",))

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: click BEFORE view -> click must not count; later click does
        (1, t0, "click"),
        (1, t0 + dt.timedelta(hours=1), "view"),
        (1, t0 + dt.timedelta(hours=2), "click"),
        # user 2: view only
        (2, t0, "view"),
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {r["user_id"]: r for r in ev.funnel(events, steps=("view", "click")).collect()}
    assert out[1]["steps_completed"] == 2
    assert out[1]["t_2"] == t0 + dt.timedelta(hours=2)
    assert out[2]["steps_completed"] == 1 and out[2]["t_2"] is None


def test_cohort_retention_rejects_bad_period(spark):
    from datafusion_ballista_python_spark.operators import events as ev

    with pytest.raises(ValueError):
        ev.cohort_retention(spark.range(1), period="month")


def test_survivor_selection_keeps_best_and_singletons(spark):
    from datafusion_ballista_python_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 200), (9, 50)], ["doc_id", "n_chars"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["doc_a", "doc_b"])
    out = {r["doc_id"]: r for r in dedup.survivor_selection(docs, pairs).collect()}
    assert out[2]["keep"] and not out[1]["keep"] and not out[3]["keep"]
    assert out[9]["keep"] and out[9]["component"] == 9  # singleton survives


def test_frequent_items_exact_when_capacity_suffices(spark):
    from datafusion_ballista_python_spark.operators.sketch import frequent_items

    df = spark.createDataFrame(
        [(x,) for x in ["a"] * 5 + ["b"] * 3 + ["c"] * 2], ["v"]
    ).repartition(4)
    rows = frequent_items(df, "v", capacity=10).collect()
    assert [(r["item"], r["est_min"], r["est_max"]) for r in rows] == [
        ("a", 5, 5), ("b", 3, 3), ("c", 2, 2)
    ]


def test_frequent_items_mg_bounds_under_pressure(spark):
    """capacity << distinct: every heavy hitter present, bounds bracket
    the true counts, error within the Misra-Gries guarantee."""
    import random

    from datafusion_ballista_python_spark.operators.sketch import frequent_items

    rng = random.Random(7)
    heavy = [f"h{i}" for i in range(5)]
    data = [(h,) for h in heavy for _ in range(300)]            # 1500 heavy rows
    data += [(f"t{rng.randrange(2000)}",) for _ in range(3000)]  # long tail
    rng.shuffle(data)
    n = len(data)
    truth = {}
    for (v,) in data:
        truth[v] = truth.get(v, 0) + 1

    cap = 50
    df = spark.createDataFrame(data, ["v"]).repartition(8)
    out = {r["item"]: (r["est_min"], r["est_max"])
           for r in frequent_items(df, "v", capacity=cap).collect()}

    for h in heavy:  # true count 300 > n/(cap+1) ~ 88 -> guaranteed present
        assert h in out, f"heavy hitter {h} missing"
    for item, (lo, hi) in out.items():
        assert lo <= truth[item] <= hi, (item, lo, truth[item], hi)


def test_frequent_items_rejects_bad_capacity(spark):
    from datafusion_ballista_python_spark.operators.sketch import frequent_items

    with pytest.raises(ValueError):
        frequent_items(spark.range(1), "id", capacity=0)


def test_pagerank_conserves_mass_and_ranks_hubs(spark):
    from datafusion_ballista_python_spark.operators.graph import pagerank

    # star: 1 connected to 2,3,4 (hub), plus isolated pair 8-9
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (8, 9)], ["doc_a", "doc_b"]
    )
    rows = {r["node"]: r["pr"] for r in pagerank(pairs, iterations=5).collect()}
    assert set(rows) == {1, 2, 3, 4, 8, 9}
    # undirected graph, no dangling nodes: total mass ~1 (rounding only)
    assert abs(sum(rows.values()) - 1.0) < 1e-6
    # the hub out-ranks its leaves; the symmetric pair ties
    assert rows[1] > rows[2] == rows[3] == rows[4]
    assert rows[8] == rows[9]


def test_pagerank_directed_dangling_mass(spark):
    from datafusion_ballista_python_spark.operators.graph import pagerank_directed

    # chain 1 -> 2 -> 3 where 3 is a dangling sink; without mass
    # redistribution the total leaks toward (1-d) * n/n each iteration
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    rows = {
        r["node"]: r["pr"] for r in pagerank_directed(edges, iterations=8).collect()
    }
    assert set(rows) == {1, 2, 3}
    # dangling mass redistributed -> ranks stay a probability distribution
    assert abs(sum(rows.values()) - 1.0) < 1e-6
    # downstream accumulates rank: sink > middle > source
    assert rows[3] > rows[2] > rows[1]


def test_pagerank_directed_without_dangling_matches_distribution(spark):
    from datafusion_ballista_python_spark.operators.graph import pagerank_directed

    # 2-cycle: no dangling nodes, symmetric -> equal ranks summing to 1
    edges = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    rows = {
        r["node"]: r["pr"] for r in pagerank_directed(edges, iterations=4).collect()
    }
    assert abs(sum(rows.values()) - 1.0) < 1e-6
    assert rows[1] == rows[2]


def test_psi_drift_detects_planted_shift(spark):
    from datafusion_ballista_python_spark.operators.quality import psi_drift

    ref = spark.range(0, 1000).select((F.col("id") % 100).cast("double").alias("v"))
    same = spark.range(0, 1000).select((F.col("id") % 100).cast("double").alias("v"))
    shifted = spark.range(0, 1000).select(
        ((F.col("id") % 100) * 0.3 + 70).cast("double").alias("v")
    )
    stable = psi_drift(ref, same, "v", n_bins=10).collect()
    drifted = psi_drift(ref, shifted, "v", n_bins=10).collect()
    assert len(stable) == 10 and len(drifted) == 10
    assert stable[0]["psi_total"] < 0.01  # identical distributions
    assert drifted[0]["psi_total"] > 0.25  # mass moved to the top bins
    with pytest.raises(ValueError):
        psi_drift(ref, same, "v", n_bins=1)
    const = spark.range(0, 50).select(F.lit(5.0).alias("v"))
    with pytest.raises(ValueError, match="constant"):
        psi_drift(const, same, "v")  # degenerate range fails loudly


def test_auc_roc_perfect_reversed_and_ties(spark):
    from datafusion_ballista_python_spark.operators.quality import auc_roc

    perfect = spark.createDataFrame(
        [(0.9, True), (0.8, True), (0.2, False), (0.1, False)], ["s", "y"]
    )
    assert auc_roc(perfect, "s", "y").collect()[0]["auc"] == 1.0
    reversed_ = spark.createDataFrame(
        [(0.1, True), (0.2, True), (0.8, False), (0.9, False)], ["s", "y"]
    )
    assert auc_roc(reversed_, "s", "y").collect()[0]["auc"] == 0.0
    ties = spark.createDataFrame(
        [(0.5, True), (0.5, True), (0.5, False), (0.5, False)], ["s", "y"]
    )
    row = auc_roc(ties, "s", "y").collect()[0]
    assert row["auc"] == 0.5 and row["n_pos"] == 2 and row["n_neg"] == 2


def test_auc_roc_tie_correction_exact(spark):
    # pos scores {0.5, 0.9}, neg {0.1, 0.5}: pairs = 4; pos>neg: (0.9,0.1),
    # (0.9,0.5), (0.5,0.1) = 3; tie (0.5,0.5) = 0.5 -> AUC = 3.5/4
    from datafusion_ballista_python_spark.operators.quality import auc_roc

    df = spark.createDataFrame(
        [(0.5, True), (0.9, True), (0.1, False), (0.5, False)], ["s", "y"]
    )
    assert auc_roc(df, "s", "y").collect()[0]["auc"] == 0.875


def test_linear_score_validates_and_scores(spark):
    import math

    import pytest

    from datafusion_ballista_python_spark.operators.quality import linear_score

    df = spark.createDataFrame([(1.0,), (2.0,)], ["x"])
    with pytest.raises(ValueError, match="mismatch"):
        linear_score(df, {"x": F.col("x")}, {"y": 1.0})
    out = linear_score(df, {"x": F.col("x")}, {"x": 2.0}, intercept=-3.0).collect()
    for r in out:
        z = -3.0 + 2.0 * r["x"]
        assert abs(r["score"] - 1.0 / (1.0 + math.exp(-z))) < 1e-6


def test_sessionize_gap_boundaries(spark):
    import datetime as dt

    from datafusion_ballista_python_spark.operators.events import sessionize

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=30)),       # exactly gap: same session
        (1, t0 + dt.timedelta(minutes=61)),       # 31 min after: new session
        (1, t0 + dt.timedelta(minutes=61)),       # equal ts: same session
        (2, t0),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {
        (r["user_id"], r["session_idx"]): r
        for r in sessionize(ev, gap="30 minutes").collect()
    }
    assert set(out) == {(1, 0), (1, 1), (2, 0)}
    assert out[(1, 0)]["n_events"] == 2
    assert out[(1, 0)]["duration_us"] == 30 * 60 * 1_000_000
    assert out[(1, 1)]["n_events"] == 2
    assert out[(1, 1)]["duration_us"] == 0
    assert out[(2, 0)]["n_events"] == 1


def test_scd2_history_runs_and_intervals(spark):
    import datetime as dt

    from datafusion_ballista_python_spark.operators.events import scd2_history

    d = lambda n: dt.datetime(2024, 1, n)
    rows = [  # key, attr, ts, tiebreak
        (1, "A", d(1), 10),
        (1, "A", d(2), 11),  # same value: collapses into the first run
        (1, "B", d(3), 12),
        (1, "A", d(5), 13),  # back to A: a NEW run, not merged with run 1
        (2, "X", d(1), 14),
    ]
    df = spark.createDataFrame(rows, ["k", "a", "ts", "tb"])
    out = scd2_history(df, "k", "a", "ts", "tb").orderBy("k", "valid_from").collect()
    k1 = [r for r in out if r["k"] == 1]
    assert [(r["a"], r["valid_from"].day, r["valid_to"].day if r["valid_to"] else None)
            for r in k1] == [("A", 1, 3), ("B", 3, 5), ("A", 5, None)]
    assert [r["is_current"] for r in k1] == [False, False, True]
    k2 = [r for r in out if r["k"] == 2]
    assert len(k2) == 1 and k2[0]["is_current"]


def test_domain_quota_caps_and_validates(spark):
    import pytest

    from datafusion_ballista_python_spark.operators.sampling import domain_quota

    rows = [(i, "big" if i < 20 else "small", 100 - i) for i in range(25)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    out = domain_quota(df, "source", quota=3)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 3, "small": 3}
    # best-first: the big domain keeps its 3 largest n_chars
    kept = sorted(r["doc_id"] for r in out.where("source = 'big'").collect())
    assert kept == [0, 1, 2]
    with pytest.raises(ValueError):
        domain_quota(df, "source", quota=0)


def test_novel_prefiltered_equals_plain_anti_join(spark):
    from datafusion_ballista_python_spark.operators.dedup import (
        novel_against_reference_prefiltered,
    )

    ref = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(50)], ["doc_id", "text"]
    )
    cand = spark.createDataFrame(
        [(100 + i, f"text-{i}") for i in range(40, 60)]  # 10 dups, 10 novel
        + [(200, "entirely new")],
        ["doc_id", "text"],
    )
    got = sorted(
        r["doc_id"]
        for r in novel_against_reference_prefiltered(
            cand, ref, prefix_chars=1
        ).collect()
    )
    plain = sorted(
        r["doc_id"]
        for r in cand.withColumn("f", F.md5("text"))
        .join(ref.select(F.md5("text").alias("f")), "f", "left_anti")
        .collect()
    )
    assert got == plain == [150 + i for i in range(10)] + [200]


def test_embed_contamination_flags_planted_dup(spark):
    from datafusion_ballista_python_spark.operators.training import (
        embed_contamination,
    )

    ev = spark.createDataFrame([([1.0, 0.0, 0.0],)], ["ee"])
    cand = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.9, 0.1, 0.0])],
        ["vec_id", "embedding"],
    )
    out = {r["vec_id"]: r for r in embed_contamination(cand, ev, 0.95).collect()}
    assert out[1]["contaminated"] and out[1]["max_eval_sim"] == 1.0
    assert not out[2]["contaminated"] and out[2]["max_eval_sim"] == 0.0
    # cos([0.9,0.1,0], e1) = 0.9/sqrt(0.82) ~= 0.9939 -> above threshold
    assert out[3]["contaminated"] and abs(out[3]["max_eval_sim"] - 0.9939) < 1e-4


def test_count_min_upper_bound_and_exact_regime(spark):
    from datafusion_ballista_python_spark.operators.sketch import (
        count_min_build,
        count_min_query,
    )

    rows = [(f"k{i % 7}",) for i in range(70)]
    df = spark.createDataFrame(rows, ["k"])
    truth = {r["k"]: r["n"] for r in
             df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    # narrow sketch: one-sided bound est >= true for every key
    narrow = count_min_query(count_min_build(df, "k", 2, 4), df, "k", 2, 4)
    for r in narrow.collect():
        assert r["est"] >= truth[r["k"]]
    # wide sketch: no collisions possible to matter -> exact
    wide = count_min_query(count_min_build(df, "k", 4, 1024), df, "k", 4, 1024)
    for r in wide.collect():
        assert r["est"] == truth[r["k"]]
    import pytest

    with pytest.raises(ValueError):
        count_min_build(df, "k", depth=0)


def test_bigram_pmi_finds_planted_collocation(spark):
    from datafusion_ballista_python_spark.operators.text import bigram_pmi

    # "san francisco" always adjacent; filler words vary
    rows = [(i, f"san francisco w{i % 13} w{(i * 7) % 13} common") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bigram_pmi(df, min_count=5, top_k=5).collect()
    assert out, "expected at least one bigram"
    top = out[0]
    assert top["bigram"] == "san francisco"
    assert top["n_ab"] == 40
    # PMI of a deterministic pair exceeds that of incidental pairs
    assert all(top["pmi"] >= r["pmi"] for r in out)


def test_curriculum_buckets_boundaries(spark):
    import pytest

    from datafusion_ballista_python_spark.operators.training import (
        curriculum_buckets,
    )

    df = spark.createDataFrame([(i, i) for i in range(1, 101)], ["doc_id", "m"])
    out = {r["doc_id"]: r["bucket"] for r in
           curriculum_buckets(df, "m", (0.25, 0.5, 0.75)).collect()}
    # exact quartiles of 1..100: 25.75, 50.5, 75.25
    assert out[25] == 0 and out[26] == 1
    assert out[50] == 1 and out[51] == 2
    assert out[75] == 2 and out[76] == 3
    counts = [sum(1 for b in out.values() if b == i) for i in range(4)]
    assert sum(counts) == 100 and min(counts) >= 20
    with pytest.raises(ValueError):
        curriculum_buckets(df, "m", (0.0, 0.5))


def test_zscore_outliers_flags_planted_spike(spark):
    from datafusion_ballista_python_spark.operators.quality import zscore_outliers

    rows = [(i, 100.0 + (i % 10)) for i in range(100)] + [(999, 100000.0)]
    df = spark.createDataFrame(rows, ["id", "v"])
    out = {r["id"]: r for r in zscore_outliers(df, "v", 3.0).collect()}
    assert out[999]["is_outlier"]
    flagged = [i for i, r in out.items() if r["is_outlier"]]
    assert flagged == [999]
    # null value passes through unflagged
    df2 = spark.createDataFrame([(1, 1.0), (2, 2.0), (3, None)], ["id", "v"])
    row = {r["id"]: r for r in zscore_outliers(df2, "v").collect()}[3]
    assert row["z_score"] is None and not row["is_outlier"]


def test_zscore_std_degenerate_guard_branches():
    """The guard's decision helper directly, since the rounded-zero
    regime needs knife-edge quantization noise (positive numerator under
    2.5e-13 * (n-1)) that only arises probabilistically at multi-million
    n: non-positive numerators reject, tiny-positive-rounding-to-zero
    numerators reject (the regime the old var_num <= 0 guard silently
    passed through to all-NULL output), healthy variance passes."""
    from datafusion_ballista_python_spark.operators.quality import (
        _zscore_std_degenerate,
    )

    assert _zscore_std_degenerate(None, 50)
    assert _zscore_std_degenerate(0.0, 50)
    assert _zscore_std_degenerate(-5e-11, 50)        # quantized-constant
    # std = sqrt(1e-7/4.9e6) ~ 1.4e-7 < 0.5e-6 -> ROUND(.,6) gives 0.0
    assert _zscore_std_degenerate(1e-7, 5_000_001)
    # just above Spark's half-up boundary: std ~ 0.6e-6 rounds to 1e-6
    assert not _zscore_std_degenerate((0.6e-6) ** 2 * 49, 50)
    assert not _zscore_std_degenerate(1.0, 50)       # healthy variance


def test_auc_invariant_under_monotone_transform(spark):
    """AUC is a rank statistic: any strictly increasing transform of the
    score must leave it unchanged (catches accidental value-dependence)."""
    from datafusion_ballista_python_spark.operators.quality import auc_roc

    rows = [(float(i % 17) / 7.0, i % 3 == 0) for i in range(60)]
    df = spark.createDataFrame(rows, ["s", "y"])
    base = auc_roc(df, "s", "y").collect()[0]["auc"]
    for xform in (F.col("s") * 2 + 1, F.exp("s"), F.pow(F.col("s") + 1, 3)):
        got = auc_roc(df.withColumn("s", xform), "s", "y").collect()[0]["auc"]
        assert got == base, f"AUC changed under monotone transform: {got} != {base}"


def test_scd2_asof_consumption_drops_zero_length_runs(spark):
    """The SCD2 -> as-of consumption pattern: a run superseded the same
    day (zero-length interval) must never win a point-in-time lookup."""
    import datetime as dt

    from datafusion_ballista_python_spark.operators.asof import asof_join
    from datafusion_ballista_python_spark.operators.events import scd2_history

    d = dt.datetime(2024, 1, 5)
    changes = spark.createDataFrame(
        [(1, "early", dt.datetime(2024, 1, 1), 1),
         (1, "noon", d, 2),      # superseded same day
         (1, "final", d, 3)],
        ["k", "a", "ts", "tb"],
    )
    dim = scd2_history(changes, "k", "a", "ts", "tb")
    live = dim.where(F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from")))
    assert {r["a"] for r in live.collect()} == {"early", "final"}
    facts = spark.createDataFrame([(1, d + dt.timedelta(days=1))], ["k", "ts"])
    got = asof_join(
        facts,
        live.select("k", F.col("a").alias("attr"), F.col("valid_from").alias("ts")),
        on="ts", by=("k",), right_cols=("attr",),
    ).collect()
    assert got[0]["attr_r"] == "final"


def test_triangle_count_known_graph(spark):
    from datafusion_ballista_python_spark.operators.graph import triangle_count

    # K4 on 1-4 (4 triangles, each node in 3) + pendant 5 + disjoint edge 6-7
    pairs = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pairs += [(4, 5), (6, 7)]
    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    out = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0, 7: 0}


def test_triangle_count_ignores_orientation_and_dups(spark):
    from datafusion_ballista_python_spark.operators.graph import triangle_count

    # same triangle given in mixed orientations with duplicates + self-loop
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1), (2, 2)], ["doc_a", "doc_b"]
    )
    out = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_bigram_perplexity_ranks_scrambled_transitions(spark):
    from datafusion_ballista_python_spark.operators.text import bigram_perplexity

    base = "the quick brown fox jumps over the lazy dog"
    rows = [(i, base) for i in range(10)]
    rows.append((100, "dog the over fox quick lazy jumps brown the"))  # scrambled
    rows.append((200, "single"))  # < 2 tokens -> no bigrams
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in bigram_perplexity(df).collect()}
    assert out[200]["n_bigrams"] == 0 and out[200]["bits_per_bigram"] is None
    # repeated natural text has cheap transitions; the scramble pays more
    assert out[100]["bits_per_bigram"] > out[0]["bits_per_bigram"]
    assert out[0]["n_bigrams"] == 8


def test_salted_topk_equals_plain_window(spark):
    from pyspark.sql import Window

    from datafusion_ballista_python_spark.operators.skew import (
        salted_topk_per_group,
    )

    # whale group 'big' with 500 rows, small groups with < k rows
    rows = [(i, "big", (i * 37) % 1000) for i in range(500)]
    rows += [(1000 + i, f"s{i}", i) for i in range(5)]
    df = spark.createDataFrame(rows, ["id", "g", "score"])
    order = [F.col("score").desc(), F.col("id").asc()]
    got = {
        (r["g"], r["group_rank"]): r["id"]
        for r in salted_topk_per_group(df, "g", 7, order, salt_from="id").collect()
    }
    w = Window.partitionBy("g").orderBy(*order)
    want = {
        (r["g"], r["rn"]): r["id"]
        for r in df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 7)
        .collect()
    }
    assert got == want
    import pytest

    with pytest.raises(ValueError):
        salted_topk_per_group(df, "g", 0, order, salt_from="id")


def test_char_entropy_extremes(spark):
    from datafusion_ballista_python_spark.operators.text import char_entropy

    rows = [
        (1, "aaaaaaaaaa"),                    # single symbol -> 0 bits
        (2, "abababababab"),                  # two equiprobable -> 1 bit
        (3, "!!! ??? ..."),                   # no alphanumerics -> NULL
        (4, "abcdefghij" * 3),                # 10 equiprobable -> log2(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert out[1]["entropy_bits"] == 0.0
    assert out[2]["entropy_bits"] == 1.0
    assert out[3]["n_chars_an"] == 0 and out[3]["entropy_bits"] is None
    import math

    assert abs(out[4]["entropy_bits"] - math.log2(10)) < 1e-4


def test_scd2_history_null_attribute_runs(spark):
    """A recorded change TO NULL is its own run; the row after it starts a
    new run against NULL correctly (null-safe change detection)."""
    import datetime as dt

    from datafusion_ballista_python_spark.operators.events import scd2_history

    d = lambda n: dt.datetime(2024, 1, n)
    rows = [(1, "A", d(1), 1), (1, None, d(2), 2), (1, "A", d(3), 3)]
    df = spark.createDataFrame(rows, ["k", "a", "ts", "tb"])
    out = scd2_history(df, "k", "a", "ts", "tb").orderBy("valid_from").collect()
    assert [(r["a"], r["valid_from"].day) for r in out] == [
        ("A", 1), (None, 2), ("A", 3),
    ]
    # the NULL interval is bounded by the next change
    assert out[1]["valid_to"].day == 3 and not out[1]["is_current"]


def test_zscore_outliers_rejects_constant_and_tiny(spark):
    import pytest

    from datafusion_ballista_python_spark.operators.quality import zscore_outliers

    const = spark.createDataFrame([(i, 5.0) for i in range(10)], ["id", "v"])
    with pytest.raises(ValueError, match="constant"):
        zscore_outliers(const, "v").collect()
    single = spark.createDataFrame([(1, 2.0)], ["id", "v"])
    with pytest.raises(ValueError, match=">= 2"):
        zscore_outliers(single, "v").collect()


def test_decode_image_corrupt_headers_fall_back(spark):
    import struct

    from datafusion_ballista_python_spark.operators import imagecodec as ic

    # negative-dimension BMP header must yield None, not an exception
    bad_bmp = (
        b"BM" + struct.pack("<IHHI", 100, 0, 0, 54)
        + struct.pack("<IiiHHI", 40, -4, 4, 1, 24, 0) + b"\x00" * 40
    )
    assert ic.decode_image(bad_bmp) is None
    # zero-area PNG must be rejected at decode, not crash downstream
    zero_png = ic.encode_png(ic.Image(0, 0, 1, bytearray()))
    assert ic.decode_image(zero_png) is None


def test_audio_features_null_sample_rate_fallback(spark):
    from pyspark.sql.types import (
        BinaryType, LongType, StringType, StructField, StructType,
    )

    from datafusion_ballista_python_spark.operators import multimodal

    schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), False),
        StructField("media_meta", StructType([
            StructField("format", StringType(), False),
            StructField("sample_rate", LongType(), True),
        ]), False),
    ])
    media = spark.createDataFrame(
        [(1, b"not riff at all", {"format": "wav", "sample_rate": None})], schema
    )
    row = multimodal.audio_features(media).collect()[0]
    assert row["sample_rate"] == 0 and row["n_samples"] == 15


def test_merge_escape_matches_spark_writer(spark, tmp_path):
    """'}' is NOT escaped by Spark's writer; cleanup must agree (uses the
    JVM's own escapePathName)."""
    import os

    from datafusion_ballista_python_spark.sources.merge import (
        _escape_partition_value,
    )

    base = spark.createDataFrame(
        [(1, "a", "x}y"), (2, "b", "x:y")], ["doc_id", "text", "shard"]
    )
    path = str(tmp_path / "brace_parts")
    base.write.partitionBy("shard").parquet(path)
    dirs = set(os.listdir(path))
    for v in ("x}y", "x:y"):
        assert f"shard={_escape_partition_value(v, spark)}" in dirs


def test_feature_hashing_deterministic_sparse(spark):
    import pytest

    from datafusion_ballista_python_spark.operators.training import feature_hashing

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "alpha beta alpha"), (3, "")],
        ["doc_id", "text"],
    )
    out = feature_hashing(df, dim=16).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["bucket"]] = r["value"]
    # identical text -> identical vector; empty text -> no rows
    assert by_doc[1] == by_doc[2]
    assert 3 not in by_doc
    # signed counts: |alpha| appears twice, so its cell is +-2, beta +-1
    assert sorted(abs(v) for v in by_doc[1].values()) in ([1, 2], [1],)  # collision may merge
    for r in out:
        assert 0 <= r["bucket"] < 16 and r["value"] != 0
    with pytest.raises(ValueError):
        feature_hashing(df, dim=0)


def test_winsorize_clamps_at_exact_quantiles(spark):
    import pytest

    from datafusion_ballista_python_spark.operators.quality import winsorize

    df = spark.createDataFrame([(i, float(i)) for i in range(1, 101)], ["id", "v"])
    out = {r["id"]: r["v_winsorized"] for r in winsorize(df, "v", 0.05, 0.95).collect()}
    lo, hi = out[1], out[100]
    # exact p5/p95 of 1..100: 5.95 and 95.05
    assert lo == 5.95 and hi == 95.05
    assert out[50] == 50.0  # interior untouched
    assert min(out.values()) == lo and max(out.values()) == hi
    with pytest.raises(ValueError):
        winsorize(df, "v", 0.9, 0.1)


def test_winsorize_null_passes_through_null(spark):
    """NULL must stay NULL — Spark's least/greatest SKIP NULLs, so the
    unguarded clamp would impute the LOWER quantile for missing values
    (advisor finding r5)."""
    from datafusion_ballista_python_spark.operators.quality import winsorize

    rows = [(i, float(i * 10)) for i in range(1, 11)] + [(99, None)]
    df = spark.createDataFrame(rows, "id: long, v: double")
    out = {r["id"]: r["v_winsorized"] for r in winsorize(df, "v", 0.1, 0.9).collect()}
    assert out[99] is None, f"NULL was imputed to {out[99]}"
    assert out[5] == 50.0  # interior rows unaffected by the guard


def test_auc_roc_excludes_null_scores_and_labels(spark):
    """NULL scores form a NULLS-FIRST group in Spark's window (counted as
    the LOWEST score) and NULLS LAST in DuckDB — both wrong and divergent.
    Both NULL labels and NULL scores are excluded (advisor finding r5)."""
    from datafusion_ballista_python_spark.operators.quality import auc_roc

    clean = [(0.9, True), (0.8, True), (0.2, False), (0.1, False)]
    noisy = clean + [(None, False), (None, True), (0.5, None)]
    df = spark.createDataFrame(noisy, "s: double, y: boolean")
    row = auc_roc(df, "s", "y").collect()[0]
    assert row["auc"] == 1.0 and row["n_pos"] == 2 and row["n_neg"] == 2


def test_curriculum_buckets_null_measure_gets_null_bucket(spark):
    """NULL <= q is NULL, so every WHEN falls through — the unguarded CASE
    landed NULL-difficulty rows in the TOP bucket (advisor finding r5).
    Missing difficulty is unknown, not maximal: bucket must be NULL."""
    from datafusion_ballista_python_spark.operators.training import (
        curriculum_buckets,
    )

    rows = [(i, float(i)) for i in range(1, 101)] + [(999, None)]
    df = spark.createDataFrame(rows, "doc_id: long, m: double")
    out = {r["doc_id"]: r["bucket"] for r in
           curriculum_buckets(df, "m", (0.25, 0.5, 0.75)).collect()}
    assert out[999] is None
    assert out[100] == 3  # the genuine top bucket still assigned


def test_minhash_against_reference_finds_planted_and_respects_sides(spark):
    from datafusion_ballista_python_spark.operators.dedup import (
        minhash_lsh_pairs_against,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ref = spark.createDataFrame(
        [(1, base), (2, "totally different reference words here entirely now")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(100, base),                        # exact copy of ref 1
         (101, base + " lambda"),            # near-dup of ref 1
         (102, "unrelated new content nothing shared with anything else"),
         (103, base)],                       # another copy — batch-internal
        ["doc_id", "text"],
    )
    out = {(r["doc_id"], r["ref_id"]): r["jaccard"]
           for r in minhash_lsh_pairs_against(batch, ref, threshold=0.5).collect()}
    assert out[(100, 1)] == 1.0
    assert (101, 1) in out and out[(101, 1)] < 1.0
    # novel docs produce no rows; batch-internal pairs are NOT emitted
    # (this operator is strictly cross-corpus)
    assert all(ref_id in (1, 2) for _, ref_id in out)
    assert not any(d == 102 for d, _ in out)


def test_shingles_short_docs_agree_with_oracle_slice_form(spark):
    """Docs with < shingle_n words yield ONE partial shingle on BOTH
    engines: Spark's slice+array_join clamps, and the oracle CTEs now use
    DuckDB's clamped list slice (the old '||' form NULLed short docs out
    of the signature pipeline entirely — a latent divergence)."""
    import duckdb

    from datafusion_ballista_python_spark.operators.dedup import with_shingles

    rows = [(1, "hello world"), (2, "one"), (3, "three word doc")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: sorted(r["grams"])
        for r in with_shingles(df, "text", 3, "grams").collect()
    }
    con = duckdb.connect()
    con.sql("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    ora = {
        k: sorted(v)
        for k, v in con.sql("""
            SELECT doc_id,
                   LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(w)-2,1)),
                       i -> ARRAY_TO_STRING(w[i+1:i+3], ' '))) AS sh
            FROM (SELECT doc_id,
                         REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+') AS w
                  FROM d)
        """).fetchall()
    }
    assert got == ora
    assert got[1] == ["hello world"] and got[2] == ["one"]


def test_calibration_bins_perfect_and_clamped(spark):
    import pytest

    from datafusion_ballista_python_spark.operators.quality import calibration_bins

    rows = [(0.05, False)] * 9 + [(0.05, True)]        # bin 0: 10% positive
    rows += [(0.95, True)] * 9 + [(0.95, False)]       # bin 9: 90% positive
    rows += [(1.0, True)]                               # score 1.0 clamps to bin 9
    df = spark.createDataFrame(rows, ["s", "y"])
    out = {r["bin"]: r for r in calibration_bins(df, "s", "y", 10).collect()}
    assert set(out) == {0, 9}
    assert out[0]["n"] == 10 and out[0]["frac_pos"] == 0.1
    assert out[9]["n"] == 11  # includes the clamped 1.0 row
    assert abs(out[9]["mean_score"] - (0.95 * 10 + 1.0) / 11) < 1e-6
    with pytest.raises(ValueError):
        calibration_bins(df, "s", "y", 1)


def test_ks_statistic_extremes(spark):
    from datafusion_ballista_python_spark.operators.quality import ks_statistic

    a = spark.createDataFrame([(float(i),) for i in range(100)], ["v"])
    same = spark.createDataFrame([(float(i),) for i in range(100)], ["v"])
    assert ks_statistic(a, same, "v").collect()[0]["ks_d"] == 0.0
    disjoint = spark.createDataFrame([(float(i + 1000),) for i in range(50)], ["v"])
    r = ks_statistic(a, disjoint, "v").collect()[0]
    assert r["ks_d"] == 1.0 and r["n_ref"] == 100 and r["n_cur"] == 50
    # half-shifted: D = 0.5 exactly (integer-ratio arithmetic)
    shifted = spark.createDataFrame([(float(i + 50),) for i in range(100)], ["v"])
    assert ks_statistic(a, shifted, "v").collect()[0]["ks_d"] == 0.5


def test_brier_score_known_values(spark):
    from datafusion_ballista_python_spark.operators.quality import brier_score

    perfect = spark.createDataFrame([(1.0, True), (0.0, False)], ["s", "y"])
    assert brier_score(perfect, "s", "y").collect()[0]["brier"] == 0.0
    worst = spark.createDataFrame([(0.0, True), (1.0, False)], ["s", "y"])
    assert brier_score(worst, "s", "y").collect()[0]["brier"] == 1.0
    half = spark.createDataFrame([(0.5, True), (0.5, False)], ["s", "y"])
    assert brier_score(half, "s", "y").collect()[0]["brier"] == 0.25


def test_benford_digits_known_distribution(spark):
    from datafusion_ballista_python_spark.operators.quality import benford_digits

    # 9 values with first digits 1,1,1,2,2,3,9,9,9; NULL and 0.5 excluded
    vals = [1.2, 15.0, 199.9, 2.0, 25.5, 3.7, 9.0, 90.1, 900.0, None, 0.5]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = {r["digit"]: r for r in benford_digits(df, "v").collect()}
    assert sorted(rows) == list(range(1, 10))  # all 9 digits present
    assert [rows[d]["n"] for d in range(1, 10)] == [3, 2, 1, 0, 0, 0, 0, 0, 3]
    assert rows[1]["share"] == round(3 / 9, 6)
    assert rows[4]["n"] == 0 and rows[4]["share"] == 0.0
    # expected shares are the Benford literals and sum to ~1
    assert rows[1]["expected_share"] == 0.301029995664
    assert abs(sum(rows[d]["expected_share"] for d in range(1, 10)) - 1) < 1e-9
    # chi2_total equals the decimal-exact sum of the rounded terms
    want_total = round(sum(rows[d]["chi2_term"] for d in range(1, 10)), 6)
    assert all(round(rows[d]["chi2_total"], 6) == want_total for d in rows)
    # a missing digit still contributes its full expected mass to chi2
    assert rows[4]["chi2_term"] == round(9 * 0.096910013008, 6)


def test_triangle_count_degree_orientation_bounds_hub_fanout(spark):
    """Skewed star graph: a hub (lowest ID — the worst case for a plain
    low->high id orientation) connected to n leaves, plus leaf-leaf
    chords.  With (degree, id) orientation every star edge must point AT
    the hub (its out-degree is ~0), so wedge fan-out at the whale is
    bounded — while id-orientation would give the hub C(n,2) wedges."""
    from datafusion_ballista_python_spark.operators.graph import (
        _oriented_edges,
        triangle_count,
    )

    n = 40
    hub = 0
    edges = [(hub, i) for i in range(1, n + 1)]  # star, hub has MIN id
    chords = [(1, 2), (3, 4), (5, 6)]            # 3 triangles through hub
    df = spark.createDataFrame(edges + chords, ["doc_a", "doc_b"])

    und = (
        df.select(
            F.least("doc_a", "doc_b").alias("u"),
            F.greatest("doc_a", "doc_b").alias("v"),
        ).where(F.col("u") != F.col("v")).distinct()
    )
    out_deg = {
        r["src"]: r["c"]
        for r in _oriented_edges(und)
        .groupBy("src").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    # the whale is a SINK — zero out-edges, zero wedges
    assert out_deg.get(hub, 0) == 0, f"hub out-degree {out_deg.get(hub)}"
    assert max(out_deg.values()) <= 2  # leaves: 1 chord + 1 star edge
    # low->high id orientation of the same edge list: every star edge
    # leaves the hub — the pathology the degree rank fixes
    id_out = {}
    for u, v in {(min(a, b), max(a, b)) for a, b in edges + chords if a != b}:
        id_out[u] = id_out.get(u, 0) + 1
    assert id_out[hub] == n

    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got[hub] == 3
    for a, b in chords:
        assert got[a] == 1 and got[b] == 1


def test_pq_codebooks_shape_and_determinism(emb):
    books = similarity.train_pq_codebooks(emb, n_sub=8, n_codes=4, iters=1)
    books2 = similarity.train_pq_codebooks(emb, n_sub=8, n_codes=4, iters=1)
    assert books == books2
    assert len(books) == 8
    for b in books:
        assert len(b) == 4 and all(len(v) == 8 for v in b)
    import pytest

    with pytest.raises(ValueError, match="divisible"):
        similarity.train_pq_codebooks(emb, n_sub=7)


def test_pq_encode_codes_in_range_and_exact_on_codewords(spark):
    """A vector that IS a codebook entry must encode to exactly that code
    (zero quantization error -> ADC cosine 1.0)."""
    books = [similarity._hyperplanes(4, 8, seed=50 + s) for s in range(2)]
    # vector = concat(book0[3], book1[5]) — a pure codeword
    vec = books[0][3] + books[1][5]
    df = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
    out = similarity.pq_encode(df, books).collect()[0]
    assert out["pq_code"] == [3, 5]
    q = spark.createDataFrame([(0, vec)], ["qid", "qe"])
    scored = (
        q.crossJoin(similarity.pq_encode(df, books))
        .select(
            similarity._adc_score_udf(books)(F.col("qe"), F.col("pq_code")).alias("s")
        )
        .collect()
    )
    assert abs(scored[0]["s"] - 1.0) < 1e-12


def test_ivfpq_recall_vs_brute_force_trained(emb):
    """TRAINED codebooks (the non-pinned path), with and without the
    refine stage.  Pure-ADC ranking is noisy on these near-random
    synthetic embeddings (PQ's worst case) — the refine stage
    (rerank=50 exact re-score of the PQ shortlist) must recover recall
    to near the IVF ceiling for the same probes."""
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    exact = {
        (r["qid"], r["vec_id"])
        for r in similarity.cosine_topk(cands, queries, k=10).collect()
    }

    def recall_of(**kw):
        got = {
            (r["qid"], r["vec_id"])
            for r in similarity.ivfpq_topk(
                cands, queries, k=10, n_centroids=8, n_probe=4, **kw
            ).collect()
        }
        return len(exact & got) / len(exact)

    raw = recall_of()
    refined = recall_of(rerank=50)
    assert raw >= 0.2, f"pure-ADC recall collapsed: {raw}"
    assert refined >= 0.45, f"refined IVF-PQ recall too low: {refined}"
    assert refined >= raw, (raw, refined)


def test_maximal_repeated_spans_merges_long_duplicate(spark):
    """A 20-token verbatim block shared by two docs must surface as ONE
    maximal 20-token interval per doc (not 13 separate 8-grams), with
    correct position and reconstructed text; unique text stays silent."""
    from datafusion_ballista_python_spark.operators.text import (
        maximal_repeated_spans,
    )

    block = " ".join(f"w{i}" for i in range(20))
    rows = [
        (1, "unique alpha preamble here today " + block + " tail one"),
        (2, block + " totally different ending text"),
        (3, "no shared material in this document at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r["doc_id"], r["start_pos"]): r
           for r in maximal_repeated_spans(df, n=8, min_count=2).collect()}
    assert len(out) == 2, out
    r1 = out[(1, 5)]   # block starts after the 5-token preamble
    r2 = out[(2, 0)]
    assert r1["n_tokens"] == 20 and r2["n_tokens"] == 20
    assert r1["span_text"] == block and r2["span_text"] == block


def test_maximal_repeated_spans_counts_within_doc_repeats(spark):
    """The SAME doc repeating a block twice is memorization signal: both
    occurrences must be reported (min_count counts total occurrences,
    not distinct docs)."""
    import pytest

    from datafusion_ballista_python_spark.operators.text import (
        maximal_repeated_spans,
    )

    block = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, block + " middle filler words go here now " + block)],
        ["doc_id", "text"],
    )
    out = sorted(
        (r["start_pos"], r["n_tokens"])
        for r in maximal_repeated_spans(df, n=8, min_count=2).collect()
    )
    assert out == [(0, 10), (16, 10)]
    with pytest.raises(ValueError):
        maximal_repeated_spans(df, n=1)


def test_remove_repeated_spans_keeps_first_occurrence_only(spark):
    """The shared block survives in the lowest-(doc_id, start_pos)
    occurrence and is cut from the other; untouched docs pass through;
    a doc that is ENTIRELY duplicate text comes back empty."""
    from datafusion_ballista_python_spark.operators.text import (
        remove_repeated_spans,
    )

    block = " ".join(f"w{i}" for i in range(12))
    rows = [
        (1, "intro words go here five " + block),
        (2, block + " extra trailing material kept"),
        (3, block),                              # pure duplicate
        (4, "completely unrelated text with no shared spans at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in remove_repeated_spans(df, n=8).collect()}
    assert out[1]["text_dedup"] == "intro words go here five " + block
    assert out[2]["text_dedup"] == "extra trailing material kept"
    assert out[3]["text_dedup"] == "" and out[3]["n_tokens_kept"] == 0
    assert out[4]["n_tokens_kept"] == 9
    assert out[1]["n_tokens_kept"] == 17 and out[2]["n_tokens_kept"] == 4


def test_ivfpq_rerank_validates(emb):
    import pytest

    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 2)
    with pytest.raises(ValueError, match="rerank"):
        similarity.ivfpq_topk(cands, queries, k=10, rerank=5)


def test_kcore_peels_pendants_and_chains(spark):
    from datafusion_ballista_python_spark.operators import graph

    # triangle 1-2-3 with pendant 4 hanging off 3, plus isolated pair 5-6:
    # the 2-core is exactly the triangle (pendant peel exposes nothing new)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)], ["doc_a", "doc_b"]
    )
    got = {(r["node"], r["core_degree"])
           for r in graph.kcore(pairs, k=2).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}
    # k=3 peels everything (no node has 3 in-core neighbours)
    assert graph.kcore(pairs, k=3).count() == 0
    # chain 10-11-12-13 has no 2-core: cascading peel must empty it
    chain = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13)], ["doc_a", "doc_b"]
    )
    assert graph.kcore(chain, k=2).count() == 0


def test_kcore_rejects_bad_k_and_nonconvergence_guard(spark):
    import pytest

    from datafusion_ballista_python_spark.errors import BallistaError
    from datafusion_ballista_python_spark.operators import graph

    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    with pytest.raises(ValueError):
        graph.kcore(pairs, k=0)
    # a long chain needs one peel round per link: max_rounds=1 cannot
    # reach fixpoint and must raise instead of returning a wrong core
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["doc_a", "doc_b"]
    )
    with pytest.raises(BallistaError):
        graph.kcore(chain, k=2, max_rounds=1)


def test_asof_join_directions(spark):
    from datafusion_ballista_python_spark.operators.asof import asof_join

    l = spark.createDataFrame([(1, 10, "a"), (1, 20, "b"), (1, 30, "c")],
                              ["k", "ts", "lv"])
    r = spark.createDataFrame([(1, 15, "x"), (1, 25, "y")], ["k", "ts", "rv"])

    def run(**kw):
        return sorted((row["ts"], row["rv_r"]) for row in
                      asof_join(l, r, on="ts", by=["k"], **kw).collect())

    assert run(direction="backward") == [(10, None), (20, "x"), (30, "y")]
    assert run(direction="forward") == [(10, "x"), (20, "y"), (30, None)]
    # 20 is equidistant from 15 and 25: nearest tie prefers backward
    assert run(direction="nearest") == [(10, "x"), (20, "x"), (30, "y")]
    import pytest
    with pytest.raises(ValueError):
        run(direction="sideways")


def test_asof_join_nearest_strict_excludes_equal_both_sides(spark):
    from datafusion_ballista_python_spark.operators.asof import asof_join

    l = spark.createDataFrame([(1, 15, "t")], ["k", "ts", "lv"])
    r = spark.createDataFrame([(1, 15, "x"), (1, 25, "y")], ["k", "ts", "rv"])
    inclusive = asof_join(l, r, on="ts", by=["k"], direction="nearest").collect()
    strict = asof_join(l, r, on="ts", by=["k"], direction="nearest",
                       strict=True).collect()
    assert inclusive[0]["rv_r"] == "x"   # equal-time match allowed
    assert strict[0]["rv_r"] == "y"      # equal-time excluded -> forward 25


def test_asof_join_matched_row_null_semantics(spark):
    """The carried value is the MATCHED row's value — a NULL field on the
    nearest/latest matching row must surface as NULL, not be replaced by
    an older non-null value (per-column ignoreNulls would); right rows
    with NULL ts never match; left rows with NULL ts match nothing; a
    string on-column is rejected for nearest only."""
    import pytest

    from datafusion_ballista_python_spark.operators.asof import asof_join

    l = spark.createDataFrame([(1, 20)], ["k", "ts"])
    r = spark.createDataFrame(
        [(1, 5, "x"), (1, 19, None), (1, 30, "f")], ["k", "ts", "rv"]
    )
    for d, want in (("backward", None), ("nearest", None), ("forward", "f")):
        got = asof_join(l, r, on="ts", by=["k"], direction=d).collect()[0]["rv_r"]
        assert got == want, (d, got)

    ghost = spark.createDataFrame([(1, None, "ghost")], "k long, ts long, rv string")
    for d in ("backward", "forward", "nearest"):
        assert asof_join(l, ghost, on="ts", by=["k"],
                         direction=d).collect()[0]["rv_r"] is None, d

    lnull = spark.createDataFrame([(1, None)], "k long, ts long")
    for d in ("backward", "forward", "nearest"):
        assert asof_join(lnull, r, on="ts", by=["k"],
                         direction=d).collect()[0]["rv_r"] is None, d

    ls = spark.createDataFrame([(1, "b")], ["k", "ts"])
    rs = spark.createDataFrame([(1, "a", "v")], ["k", "ts", "rv"])
    assert asof_join(ls, rs, on="ts", by=["k"]).collect()[0]["rv_r"] == "v"
    with pytest.raises(ValueError):
        asof_join(ls, rs, on="ts", by=["k"], direction="nearest")


def test_asof_join_tolerance_matches_pandas(spark):
    """tolerance (pandas merge_asof contract): matches farther than the
    bound degrade to NULL, left rows are never dropped — checked against
    pandas merge_asof itself on numeric `on`, plus the interval form on
    timestamps."""
    import pandas as pd

    from datafusion_ballista_python_spark.operators.asof import asof_join

    lp = pd.DataFrame({"k": [1, 1, 1, 2], "ts": [10, 25, 40, 10]})
    rp = pd.DataFrame({"k": [1, 1, 2], "ts": [8, 20, 1], "rv": [1.0, 2.0, 3.0]})
    for direction in ("backward", "forward", "nearest"):
        want = pd.merge_asof(
            lp.sort_values("ts"), rp.sort_values("ts"),
            on="ts", by="k", direction=direction, tolerance=5,
        ).sort_values(["k", "ts"])
        got = (
            asof_join(
                spark.createDataFrame(lp), spark.createDataFrame(rp),
                on="ts", by=["k"], direction=direction, tolerance=5,
            )
            .orderBy("k", "ts")
            .toPandas()
        )
        norm = lambda s: [None if pd.isna(v) else v for v in s]  # noqa: E731
        assert norm(got["rv_r"]) == norm(want["rv"]), direction
        assert len(got) == len(lp)  # left rows never dropped

    # interval tolerance on a timestamp on-column
    from pyspark.sql import functions as SF

    lt = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00")], "k long, ts string"
    ).withColumn("ts", SF.to_timestamp("ts"))
    rt = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "old"), (1, "2024-01-01 23:30:00", "new")],
        "k long, ts string, rv string",
    ).withColumn("ts", SF.to_timestamp("ts"))
    within = asof_join(
        lt, rt, on="ts", by=["k"], tolerance=SF.expr("INTERVAL 1 HOUR")
    ).collect()[0]["rv_r"]
    beyond = asof_join(
        lt, rt, on="ts", by=["k"], tolerance=SF.expr("INTERVAL 10 MINUTES")
    ).collect()[0]["rv_r"]
    assert within == "new" and beyond is None


def test_frequency_order_prunes_boilerplate_candidates(spark):
    """The AllPairs frequency ordering is the documented skew cure for a
    corpus-wide boilerplate shingle — pin that as a DETERMINISTIC
    candidate-count fact, not a timing: on a corpus where every doc ends
    with the same boilerplate tail, lex prefixes keep boilerplate
    shingles (hot join keys -> quadratic candidate blowup) while
    rarest-first prefixes push them out of every doc that has anything
    rarer.  Results must be identical under both orders."""
    from pyspark.sql import functions as F

    from datafusion_ballista_python_spark.operators import dedup
    from datafusion_ballista_python_spark.operators.dedup import (
        _ordered_grams,
        with_shingles,
    )

    boiler = "all rights reserved contact us terms of service apply here"
    rows = [
        (i, f"unique{i} document number{i} words{i} body{i} text{i} " + boiler)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = 0.8

    def n_candidates(order):
        base = with_shingles(df, "text", 3, "grams").select("doc_id", "grams")
        sh = _ordered_grams(base, "doc_id", order)
        plen = (
            F.size("grams")
            - F.ceil(F.lit(t) * F.size("grams")).cast("int")
            + F.lit(1)
        )
        pref = sh.select(
            "doc_id", F.explode(F.slice("grams", F.lit(1), plen)).alias("tok")
        )
        return (
            pref.select(F.col("doc_id").alias("a"), "tok")
            .join(pref.select(F.col("doc_id").alias("b"), "tok"), "tok")
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
            .count()
        )

    n_lex, n_freq = n_candidates("lex"), n_candidates("frequency")
    # lex keeps shared-boilerplate shingles in prefixes -> near-all-pairs;
    # frequency must prune the hot keys entirely (docs share ONLY boilerplate)
    assert n_lex > 100, n_lex        # the blowup actually happens under lex
    assert n_freq == 0, n_freq       # rarest-first kills every hot-key pair
    # and the ordering never changes the RESULT set
    lex_pairs = set(map(tuple, dedup.jaccard_join(df, t, 3, order="lex")
                        .select("doc_a", "doc_b").collect()))
    freq_pairs = set(map(tuple, dedup.jaccard_join(df, t, 3, order="frequency")
                         .select("doc_a", "doc_b").collect()))
    assert lex_pairs == freq_pairs


def test_mmr_topk_diversifies_duplicate_cluster(spark):
    """The defining MMR property: when the relevance head is a cluster of
    near-identical vectors, plain top-k returns the whole cluster while
    MMR keeps ONE representative and spends later picks on diverse
    results.  lam=1.0 must degenerate to pure relevance order."""
    from datafusion_ballista_python_spark.operators.similarity import (
        cosine_topk,
        mmr_topk,
    )

    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0])], ["qid", "qe"])
    cands = spark.createDataFrame(
        [
            # three near-duplicates hugging the query direction
            (1, [1.0, 0.01, 0.0]),
            (2, [1.0, 0.012, 0.0]),
            (3, [1.0, 0.011, 0.0]),
            # genuinely different directions, lower relevance
            (4, [0.7, 0.7, 0.0]),
            (5, [0.7, 0.0, 0.7]),
        ],
        ["vec_id", "embedding"],
    )
    plain = [
        r["vec_id"] for r in cosine_topk(cands, q, k=3).orderBy(
            F.desc("cos_sim"), "vec_id").collect()
    ]
    assert set(plain) == {1, 2, 3}  # the cluster monopolizes plain top-k

    picks = mmr_topk(cands, q, k=3, pool=5, lam=0.3).orderBy("rank").collect()
    ids = [r["vec_id"] for r in picks]
    assert ids[0] == 1  # most relevant first (tie-break on id)
    assert len(set(ids) & {1, 2, 3}) == 1, ids  # ONE cluster representative
    assert set(ids[1:]) == {4, 5}, ids  # diversity picks

    # lam=1.0: similarity term vanishes -> pure relevance order
    pure = mmr_topk(cands, q, k=3, pool=5, lam=1.0).orderBy("rank").collect()
    assert [r["vec_id"] for r in pure] == plain
    # rel column carries the pool relevance; rank is 1..k
    assert [r["rank"] for r in picks] == [1, 2, 3]


def test_mmr_topk_validates(spark):
    import pytest

    from ballista import BallistaError
    from datafusion_ballista_python_spark.operators.similarity import mmr_topk

    q = spark.createDataFrame([(0, [1.0, 0.0])], ["qid", "qe"])
    c = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(BallistaError):
        mmr_topk(c, q, k=5, pool=3)
    with pytest.raises(BallistaError):
        mmr_topk(c, q, lam=0.0)
    with pytest.raises(BallistaError):
        mmr_topk(c, q, lam=1.5)


def test_positional_filter_prunes_late_prefix_candidates(spark):
    """The PPJoin positional filter is the documented cut for candidates
    that share only LATE prefix tokens — pin it as a DETERMINISTIC
    candidate-count fact (the vacuity rule: a filter that never fires is
    a dead arm): docs sharing one token at the last prefix slot bound
    the overlap at min(na-pa, nb-pb) = 6 < t/(1+t)*(na+nb) = 7.33, so
    every such candidate dies in the join; exact duplicates (every
    position shared) survive."""
    import math

    from datafusion_ballista_python_spark.operators import dedup
    from datafusion_ballista_python_spark.operators.dedup import (
        _ordered_grams,
        with_shingles,
    )

    t = 0.5
    # shingle_n=1 -> shingles ARE the words, so the sorted-set layout is
    # exact: 5 unique early tokens, the shared 'mm' at prefix slot 6 (the
    # last one: plen = 11 - 6 + 1 = 6), 5 unique late tokens
    rows = [
        (
            i,
            f"a{i} b{i} c{i} d{i} e{i} mm x{i}1 x{i}2 x{i}3 x{i}4 x{i}5",
        )
        for i in range(20)
    ]
    # plus one exact-duplicate pair that must SURVIVE the filter
    rows += [(100, "dup1 dup2 dup3 dup4 dup5"), (101, "dup1 dup2 dup3 dup4 dup5")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # prefix + length filters alone, in plain Python over the same rows:
    # pairs sharing a token in both lex-sorted prefixes, sizes within t
    grams = {i: sorted(set(text.split())) for i, text in rows}
    prefix = {
        i: set(g[: len(g) - math.ceil(t * len(g)) + 1]) for i, g in grams.items()
    }
    n_prefix = sum(
        1
        for a in grams
        for b in grams
        if a < b
        and prefix[a] & prefix[b]
        and t * len(grams[a]) <= len(grams[b])
        and t * len(grams[b]) <= len(grams[a])
    )
    assert n_prefix == 190 + 1, n_prefix  # all 'mm' pairs + the dup pair

    # the SHIPPED candidate pipeline (the same jaccard_candidates call
    # jaccard_join makes), so this pins the operator's pruning, not a
    # white-box replica of it
    base = with_shingles(df, "text", 1, "grams").select("doc_id", "grams")
    sh = _ordered_grams(base, "doc_id", "lex")
    n_on = dedup.jaccard_candidates(sh, t, id_col="doc_id").count()
    assert n_on == 1, n_on  # positional kills every 'mm'-only pair
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_join(df, t, shingle_n=1).collect()
    }
    assert got == {(100, 101): 1.0}, got


def test_overlap_prefilter_is_exact_superset(spark):
    """The hashed-overlap prefilter (verify-stage fast path of
    jaccard_join/containment_join) must keep EVERY candidate pair whose
    exact shared-shingle overlap meets the requirement, and only prune
    pairs provably below it — on word shingles its decisions must equal
    the exact string-overlap decisions (xxhash64 is injective in practice;
    the in-operator __hok guard covers the pathological collision case)."""
    from pyspark.sql import functions as F

    from datafusion_ballista_python_spark.operators.dedup import (
        _ordered_grams,
        _overlap_prefilter,
        with_shingles,
    )

    rows = [
        (0, "w1 w2 w3 w4"),          # 4 tokens
        (1, "w1 w2 w3 zz"),          # overlap 3 with doc 0
        (2, "w1 aa bb cc"),          # overlap 1 with doc 0
        (3, "w1 w2 w3 w4"),          # duplicate of doc 0 (overlap 4)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    base = with_shingles(df, "text", 1, "grams").select("doc_id", "grams")
    sh = _ordered_grams(base, "doc_id", "lex").localCheckpoint()
    cands = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2)], ["doc_a", "doc_b"]
    )
    # requirement |A∩B| >= 3 (e.g. containment t=0.75 on 4-gram docs)
    kept = {
        (r["doc_a"], r["doc_b"])
        for r in _overlap_prefilter(
            cands, sh, "doc_id", F.lit(0.75) * F.col("__na").cast("double")
        ).collect()
    }
    # exact overlaps: (0,1)=3 keep, (0,2)=1 drop, (0,3)=4 keep, (1,2)=1 drop
    assert kept == {(0, 1), (0, 3)}, kept
