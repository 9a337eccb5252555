"""Property-based semantic-parity tests (hypothesis): random inputs through
the engine's expression algebra vs DuckDB evaluating the same SQL — hunts
the NULL/overflow/rounding deltas SURVEY §7 lists as known-hard.

One shared SparkSession + one DuckDB connection; each property materializes
a small literal table on both sides.
"""

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ints = st.integers(min_value=-(2**31), max_value=2**31 - 1)
small_text = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x7F),
    min_size=0,
    max_size=12,
)


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


@settings(**SETTINGS)
@given(a=ints, b=ints)
def test_arithmetic_matches_duckdb(spark, duck, a, b):
    row = spark.createDataFrame([(a, b)], "a long, b long").select(
        (F.col("a") + F.col("b")).alias("s"),
        (F.col("a") * F.col("b")).alias("p"),
        F.when(F.lit(b != 0), F.col("a") % F.col("b")).alias("m"),
    ).collect()[0]
    ds, dp, dm = duck.sql(
        f"SELECT CAST({a} AS BIGINT)+{b}, CAST({a} AS BIGINT)*{b},"
        f" CASE WHEN {b} != 0 THEN CAST({a} AS BIGINT) % {b} END"
    ).fetchall()[0]
    assert (row["s"], row["p"], row["m"]) == (ds, dp, dm)


@settings(**SETTINGS)
@given(a=ints, b=ints.filter(lambda x: x != 0))
def test_truncating_div_matches_reference_semantics(spark, a, b):
    from ballista import BallistaContext, col  # engine API

    df = spark.createDataFrame([(a, b)], "a long, b long")
    from datafusion_ballista_python_spark.dataframe import DataFrame as BDF

    out = BDF(df).select(col("a").div(col("b")).alias("d")).df.collect()[0]["d"]
    assert out == int(a / b)  # python int() truncates toward zero


@settings(**SETTINGS)
@given(s=small_text, t=small_text)
def test_string_functions_match_duckdb(spark, duck, s, t):
    row = spark.createDataFrame([(s, t)], "s string, t string").select(
        F.upper("s").alias("u"),
        F.length("s").alias("l"),
        F.concat_ws("", "s", "t").alias("c"),
        F.reverse("s").alias("r"),
        F.substring("s", 2, 3).alias("sub"),
    ).collect()[0]
    du, dl, dc, dr, dsub = duck.execute(
        "SELECT UPPER(?), LENGTH(?), CONCAT(?, ?), REVERSE(?), SUBSTRING(?, 2, 3)",
        [s, s, s, t, s, s],
    ).fetchall()[0]
    assert (row["u"], row["l"], row["c"], row["r"], row["sub"]) == (du, dl, dc, dr, dsub)


@settings(**SETTINGS)
@given(vals=st.lists(st.one_of(st.none(), small_text), min_size=1, max_size=4))
def test_concat_ignores_nulls_like_reference(spark, vals):
    """Reference concat ignores NULL args (src/functions.rs:72-79); our
    functions.concat must too (Spark's native concat nulls the result)."""
    import datafusion_ballista_python_spark.functions as bf
    from datafusion_ballista_python_spark.dataframe import DataFrame as BDF

    schema = ", ".join(f"c{i} string" for i in range(len(vals)))
    df = spark.createDataFrame([tuple(vals)], schema)
    out = (
        BDF(df)
        .select(bf.concat(*[bf.col(f"c{i}") for i in range(len(vals))]).alias("c"))
        .df.collect()[0]["c"]
    )
    assert out == "".join(v for v in vals if v is not None)


@settings(**SETTINGS)
@given(xs=st.lists(ints, min_size=1, max_size=6))
def test_aggregate_sum_min_max_match_python(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "x long")
    r = df.agg(
        F.sum("x").alias("s"), F.min("x").alias("mn"), F.max("x").alias("mx")
    ).collect()[0]
    assert (r["s"], r["mn"], r["mx"]) == (sum(xs), min(xs), max(xs))


epoch_secs = st.integers(min_value=0, max_value=2_000_000_000)


@settings(**SETTINGS)
@given(e=epoch_secs)
def test_datetime_functions_match_duckdb(spark, duck, e):
    row = spark.createDataFrame([(e,)], "e long").select(
        F.date_trunc("hour", F.timestamp_seconds("e").cast("timestamp_ntz")).alias("h"),
        F.year(F.timestamp_seconds("e")).alias("y"),
        F.dayofmonth(F.timestamp_seconds("e")).alias("d"),
        F.from_unixtime("e", "yyyy-MM-dd HH:mm:ss").alias("s"),
    ).collect()[0]
    dh, dy, dd, ds = duck.sql(
        f"SELECT DATE_TRUNC('hour', TO_TIMESTAMP({e})::TIMESTAMP),"
        f" YEAR(TO_TIMESTAMP({e})), DAY(TO_TIMESTAMP({e})),"
        f" STRFTIME(TO_TIMESTAMP({e})::TIMESTAMP, '%Y-%m-%d %H:%M:%S')"
    ).fetchall()[0]
    assert (row["h"], row["y"], row["d"], row["s"]) == (dh, dy, dd, ds)


@settings(**SETTINGS)
@given(xs=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=5),
       probe=st.integers(min_value=-1000, max_value=1000))
def test_in_list_matches_python(spark, xs, probe):
    from ballista import col
    import datafusion_ballista_python_spark.functions as bf
    from datafusion_ballista_python_spark.dataframe import DataFrame as BDF

    df = spark.createDataFrame([(probe,)], "x long")
    got = BDF(df).select(
        bf.in_list(col("x"), [bf.lit(v) for v in xs], negated=False).alias("i"),
        bf.in_list(col("x"), [bf.lit(v) for v in xs], negated=True).alias("n"),
    ).df.collect()[0]
    assert got["i"] == (probe in xs)
    assert got["n"] == (probe not in xs)


# ---------------------------------------------------------------------------
# connected components vs reference union-find
# ---------------------------------------------------------------------------


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from datafusion_ballista_python_spark.operators import graph

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], ["doc_a", "doc_b"]
    )
    got = {
        r["node"]: r["component"]
        for r in graph.connected_components(pairs).collect()
    }

    # reference: classic union-find with min-id relabel
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


# -- round-4 operators vs brute-force Python references ---------------------

_ev = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),       # user
        st.integers(min_value=0, max_value=50),      # ts offset (seconds)
        st.sampled_from(["view", "click", "buy"]),   # step
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_ev)
def test_funnel_matches_bruteforce(spark, rows):
    """funnel() == per-user brute-force sequential scan for any event set."""
    import datetime as dt

    from datafusion_ballista_python_spark.operators import events as ev

    t0 = dt.datetime(2024, 1, 1)
    data = [(u, t0 + dt.timedelta(seconds=s), typ) for u, s, typ in rows]
    df = spark.createDataFrame(data, ["user_id", "ts", "event_type"])
    steps = ("view", "click", "buy")
    got = {
        r["user_id"]: (r["t_1"], r["t_2"], r["t_3"], r["steps_completed"])
        for r in ev.funnel(df, steps=steps).collect()
    }

    # brute force: earliest time of each step at-or-after the previous step
    expect = {}
    for u in {u for u, _, _ in rows}:
        mine = sorted((t, typ) for uu, s, typ in rows
                      if uu == u for t in [t0 + dt.timedelta(seconds=s)])
        ts = []
        floor = None
        for step in steps:
            cand = [t for t, typ in mine if typ == step
                    and (floor is None or t >= floor)]
            if floor is None and step != steps[0]:
                cand = []
            hit = min(cand) if cand else None
            ts.append(hit)
            if hit is None:
                ts.extend([None] * (len(steps) - len(ts)))
                break
            floor = hit
        if ts[0] is not None:
            done = sum(1 for t in ts if t is not None)
            expect[u] = (ts[0], ts[1], ts[2], done)
    assert got == expect


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=st.lists(
        st.tuples(st.integers(1, 8), st.integers(1, 8)).filter(lambda p: p[0] != p[1]),
        max_size=10,
    ),
    scores=st.lists(st.integers(0, 100), min_size=8, max_size=8),
)
def test_survivor_selection_matches_union_find(spark, pairs, scores):
    """survivor_selection == union-find + per-component argmax."""
    from datafusion_ballista_python_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, scores[i - 1]) for i in range(1, 9)], ["doc_id", "n_chars"]
    )
    pdf = spark.createDataFrame(
        [(a, b) for a, b in pairs] or [(None, None)],
        "doc_a long, doc_b long",
    ).dropna()
    out = {r["doc_id"]: (r["component"], r["keep"])
           for r in dedup.survivor_selection(docs, pdf).collect()}

    parent = {i: i for i in range(1, 9)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for i in range(1, 9):
        comp.setdefault(find(i), []).append(i)
    expect = {}
    for members in comp.values():
        label = min(members)  # component id = min reachable node
        best = max(members, key=lambda i: (scores[i - 1], -i))
        for i in members:
            expect[i] = (label if len(members) > 1 else i, i == best)
    assert out == expect


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=300),
    capacity=st.integers(min_value=1, max_value=12),
)
def test_frequent_items_bounds_always_hold(spark, data, capacity):
    """Misra-Gries invariants on arbitrary data/capacity: est_min <= true
    <= est_max for every reported item, and every item with true count
    > n/(capacity+1) is present."""
    from collections import Counter

    from datafusion_ballista_python_spark.operators.sketch import frequent_items

    truth = Counter(str(x) for x in data)
    df = spark.createDataFrame([(str(x),) for x in data], ["v"]).repartition(3)
    out = {r["item"]: (r["est_min"], r["est_max"])
           for r in frequent_items(df, "v", capacity=capacity).collect()}
    n = len(data)
    for item, (lo, hi) in out.items():
        assert lo <= truth[item] <= hi, (item, lo, truth[item], hi)
    for item, c in truth.items():
        if c > n / (capacity + 1):
            assert item in out, f"guaranteed hitter {item} (count {c}) missing"


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    keys=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=40),
)
def test_count_min_one_sided_bound(spark, keys):
    """CMS estimate >= true count for EVERY key, any multiset, any sketch
    geometry — the defining Count-Min guarantee."""
    from collections import Counter

    from datafusion_ballista_python_spark.operators.sketch import (
        count_min_build,
        count_min_query,
    )

    df = spark.createDataFrame([(str(k),) for k in keys], ["k"])
    truth = Counter(str(k) for k in keys)
    est = count_min_query(count_min_build(df, "k", 2, 8), df, "k", 2, 8)
    for r in est.collect():
        assert r["est"] >= truth[r["k"]], (r, truth)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),     # group
            st.integers(min_value=-100, max_value=100),  # score
        ),
        min_size=1,
        max_size=60,
    ),
)
def test_salted_topk_matches_plain_window(spark, rows):
    """Two-phase salted top-k == single-window top-k on arbitrary data
    (unique ids appended so the order is total)."""
    from pyspark.sql import Window

    from datafusion_ballista_python_spark.operators.skew import (
        salted_topk_per_group,
    )

    data = [(i, g, s) for i, (g, s) in enumerate(rows)]
    df = spark.createDataFrame(data, ["id", "g", "s"])
    order = [F.col("s").desc(), F.col("id").asc()]
    got = {
        (r["g"], r["group_rank"], r["id"])
        for r in salted_topk_per_group(df, "g", 3, order, salt_from="id",
                                       n_salts=4).collect()
    }
    w = Window.partitionBy("g").orderBy(*order)
    want = {
        (r["g"], r["rn"], r["id"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3).collect()
    }
    assert got == {(g, int(rn), i) for g, rn, i in want}


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
        min_size=1,
        max_size=4,
    ),
)
def test_maximal_repeated_spans_matches_bruteforce(spark, docs):
    """k-gram-anchored maximal spans == a direct Python transcription of
    the spec (hot anchors by corpus-wide occurrence count, consecutive
    runs merged per doc) on arbitrary tiny corpora — guards the
    gaps-and-islands window and the tokenize-once refactor."""
    from collections import Counter

    from datafusion_ballista_python_spark.operators.text import (
        maximal_repeated_spans,
    )

    n, min_count = 2, 2
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    cnt = Counter()
    grams = {}
    for did, toks in enumerate(docs):
        g = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        grams[did] = g
        cnt.update(g)
    want = set()
    for did, toks in enumerate(docs):
        hot = [i for i, s in enumerate(grams[did]) if cnt[s] >= min_count]
        runs = []
        for p in hot:
            if runs and p == runs[-1][1] + 1:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        for a, b in runs:
            want.add((did, a, b - a + n, " ".join(toks[a : b + n])))

    got = {
        (r["doc_id"], r["start_pos"], r["n_tokens"], r["span_text"])
        for r in maximal_repeated_spans(df, n=n, min_count=min_count).collect()
    }
    assert got == want


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
        min_size=1,
        max_size=4,
    ),
)
def test_remove_repeated_spans_matches_bruteforce(spark, docs):
    """Keep-first exact-substring removal == the Python reference: derive
    maximal spans, keep the lowest (doc_id, start_pos) occurrence of each
    identical span text, cut every other occurrence's token positions,
    reassemble in order.  Every input doc must come back."""
    from collections import Counter, defaultdict

    from datafusion_ballista_python_spark.operators.text import (
        remove_repeated_spans,
    )

    n, min_count = 2, 2
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    cnt = Counter()
    grams = {}
    for did, toks in enumerate(docs):
        g = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        grams[did] = g
        cnt.update(g)
    by_text = defaultdict(list)
    for did, toks in enumerate(docs):
        hot = [i for i, s in enumerate(grams[did]) if cnt[s] >= min_count]
        runs = []
        for p in hot:
            if runs and p == runs[-1][1] + 1:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        for a, b in runs:
            by_text[" ".join(toks[a : b + n])].append((did, a, b - a + n))
    cut = defaultdict(set)
    for occ in by_text.values():
        occ.sort()
        for did, sp, nt in occ[1:]:
            cut[did].update(range(sp, sp + nt))
    want = {}
    for did, toks in enumerate(docs):
        kept = [t for i, t in enumerate(toks) if i not in cut[did]]
        want[did] = (" ".join(kept), len(kept))

    got = {
        r["doc_id"]: (r["text_dedup"], r["n_tokens_kept"])
        for r in remove_repeated_spans(df, n=n, min_count=min_count).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    cvecs=st.lists(
        st.lists(st.integers(min_value=-3, max_value=3), min_size=8, max_size=8)
        .filter(lambda v: any(v)),
        min_size=4,
        max_size=8,
    ),
    qvecs=st.lists(
        st.lists(st.integers(min_value=-3, max_value=3), min_size=8, max_size=8)
        .filter(lambda v: any(v)),
        min_size=1,
        max_size=3,
    ),
)
def test_ivfpq_full_rerank_is_exact_topk(spark, cvecs, qvecs):
    """IVF-PQ with every cell probed and the whole corpus reranked must
    return EXACTLY brute-force cosine top-k: PQ noise decides only who
    makes the shortlist, and a full shortlist leaves nothing for it to
    decide.  Replicates the engine's float semantics (left-to-right dot
    fold, HALF_UP round at 4 digits on the shortest-repr decimal)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from datafusion_ballista_python_spark.operators.similarity import (
        ivfpq_topk,
    )

    k = 3
    cands = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(cvecs)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(qvecs)],
        "qid long, qe array<double>",
    )
    got = {
        (r["qid"], r["vec_id"], r["cos_sim"])
        for r in ivfpq_topk(
            cands, queries, k=k, n_centroids=2, n_probe=2, n_sub=4,
            n_codes=4, iters=1, rerank=max(k, len(cvecs)),
        ).collect()
    }

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def rnd(v):  # Spark Round(double, 4): HALF_UP on shortest-repr decimal
        return float(Decimal(str(v)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    want = set()
    for qi, q in enumerate(qvecs):
        qn = math.sqrt(fold_dot(q, q))
        sims = [
            (rnd(fold_dot(q, c) / (qn * math.sqrt(fold_dot(c, c)))), ci)
            for ci, c in enumerate(cvecs)
        ]
        sims.sort(key=lambda t: (-t[0], t[1]))
        want |= {(qi, ci, s) for s, ci in sims[:k]}
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]),
                 min_size=1, max_size=8),
        min_size=2,
        max_size=6,
    ),
)
def test_lsh_recall_truth_matches_bruteforce(spark, docs):
    """lsh_recall's ground-truth count == a direct Python transcription of
    the shingle-Jaccard spec on arbitrary tiny corpora, and the measured
    side obeys the subset contract (n_found <= n_true, recall is the plain
    ratio, NULL on an empty truth set) — guards the all-pairs truth join,
    its length-filter pruning, and the one-row aggregate."""
    import re

    from datafusion_ballista_python_spark.operators.dedup import lsh_recall

    n, threshold = 3, 0.8
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def shingles(text):
        w = re.split(r"\s+", text.strip().lower())
        return {" ".join(w[i : i + n]) for i in range(max(len(w) - n, 0) + 1)}

    sh = {i: shingles(t) for i, t in rows}
    want_true = 0
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            inter = len(sh[i] & sh[j])
            union = len(sh[i]) + len(sh[j]) - inter
            if union and inter / union >= threshold:
                want_true += 1

    truth_pairs = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            inter = len(sh[i] & sh[j])
            union = len(sh[i]) + len(sh[j]) - inter
            if union and inter / union >= threshold:
                truth_pairs.add((i, j))

    r = lsh_recall(df, num_hashes=8, bands=4, shingle_n=n,
                   threshold=threshold).collect()[0]
    assert r["n_true"] == want_true == len(truth_pairs)
    # REAL subset check (the one-row aggregate's left join would silently
    # drop non-truth LSH pairs, so asserting n_found <= n_true alone is
    # vacuous): the verified LSH output itself must be within truth
    from datafusion_ballista_python_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    found_pairs = {
        (p["doc_a"], p["doc_b"])
        for p in minhash_lsh_pairs(
            df, num_hashes=8, bands=4, shingle_n=n, threshold=threshold
        ).collect()
    }
    assert found_pairs <= truth_pairs
    assert r["n_found"] == len(found_pairs)
    if want_true == 0:
        assert r["recall"] is None
    else:
        assert r["recall"] == round(r["n_found"] / want_true, 6)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]),
                 min_size=1, max_size=8),
        min_size=2,
        max_size=6,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
    order=st.sampled_from(["lex", "frequency"]),
)
def test_jaccard_join_matches_bruteforce(spark, docs, threshold, order):
    """Prefix-filtered exact join == brute-force all-pairs shingle Jaccard
    on arbitrary tiny corpora and thresholds — guards the prefix-length
    arithmetic (|g| - ceil(t|g|) + 1) and the candidate-superset lemma
    (COMPLETENESS is the failure mode a threshold/ordering bug causes;
    soundness is enforced by the shared exact-verify stage) — under BOTH
    global orders, since the ordering must never change the result."""
    import re

    from datafusion_ballista_python_spark.operators.dedup import jaccard_join

    n = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def shingles(text):
        w = re.split(r"\s+", text.strip().lower())
        return {" ".join(w[i : i + n]) for i in range(max(len(w) - n, 0) + 1)}

    sh = {i: shingles(t) for i, t in rows}
    want = {}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            inter = len(sh[i] & sh[j])
            union = len(sh[i]) + len(sh[j]) - inter
            if union and inter / union >= threshold:
                want[(i, j)] = round(inter / union, 6)

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_join(df, threshold=threshold, shingle_n=n,
                              order=order).collect()
    }
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]),
                 min_size=1, max_size=8),
        min_size=2,
        max_size=6,
    ),
    threshold=st.sampled_from([0.5, 0.8, 0.9]),
    order=st.sampled_from(["lex", "frequency"]),
)
def test_containment_join_matches_bruteforce(spark, docs, threshold, order):
    """One-sided prefix-filtered containment join == brute-force directed
    all-pairs |A∩B|/|A| on arbitrary tiny corpora — COMPLETENESS guards
    the asymmetric prefix-length lemma (only the contained side may be
    prefix-truncated; a bug that truncated the container side would drop
    pairs silently since the verify stage enforces soundness only) —
    under BOTH global orders, which must never change the result."""
    import re

    from datafusion_ballista_python_spark.operators.dedup import containment_join

    n = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def shingles(text):
        w = re.split(r"\s+", text.strip().lower())
        return {" ".join(w[i : i + n]) for i in range(max(len(w) - n, 0) + 1)}

    sh = {i: shingles(t) for i, t in rows}
    want = {}
    for i in range(len(rows)):
        for j in range(len(rows)):
            if i == j:
                continue
            cont = len(sh[i] & sh[j]) / len(sh[i])
            if cont >= threshold:
                want[(i, j)] = round(cont, 6)

    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in containment_join(
            df, threshold=threshold, shingle_n=n, order=order
        ).collect()
    }
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.floats(min_value=0.01, max_value=1e12, allow_nan=False,
                      allow_infinity=False),
        ),
        min_size=1,
        max_size=20,
    ).filter(lambda xs: any(v is not None and v >= 1 for v in xs))
)
def test_benford_digits_matches_bruteforce(spark, vals):
    """benford_digits == Python brute force (string-of-floor first digit,
    NULL/sub-1 exclusion, all-9-digit frame, literal expected shares) on
    arbitrary positive doubles — guards the exact-digit-extraction claim
    across magnitudes including decade boundaries."""
    import math

    from datafusion_ballista_python_spark.operators.quality import benford_digits

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = {r["digit"]: r for r in benford_digits(df, "v").collect()}

    kept = [v for v in vals if v is not None and v >= 1]
    want_n = {d: 0 for d in range(1, 10)}
    for v in kept:
        want_n[int(str(int(math.floor(v)))[0])] += 1
    n_total = len(kept)

    assert sorted(rows) == list(range(1, 10))
    for d in range(1, 10):
        assert rows[d]["n"] == want_n[d], (d, vals)
        assert rows[d]["share"] == round(want_n[d] / n_total, 6)
        p = round(math.log10(1 + 1 / d), 12)
        assert rows[d]["expected_share"] == p
        dev = want_n[d] - n_total * p
        assert rows[d]["chi2_term"] == round(dev * dev / (n_total * p), 6)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=18,
    ),
    k=st.sampled_from([2, 3]),
)
def test_kcore_matches_bruteforce(spark, edges, k):
    """Distributed peel == reference sequential peel on arbitrary small
    graphs — k-core is the unique fixpoint, so any correct peel schedule
    must land on the identical (node, in-core degree) set."""
    from datafusion_ballista_python_spark.operators import graph

    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {(r["node"], r["core_degree"])
           for r in graph.kcore(pairs, k=k).collect()}

    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    while True:
        weak = [n for n, nb in adj.items() if len(nb) < k]
        if not weak:
            break
        for n in weak:
            for m in adj.pop(n):
                adj[m].discard(n)
    want = {(n, len(nb)) for n, nb in adj.items()}
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    lts=st.lists(st.integers(0, 40), min_size=1, max_size=8, unique=True),
    rts=st.lists(st.integers(0, 40), min_size=1, max_size=8, unique=True),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    strict=st.booleans(),
)
def test_asof_join_matches_bruteforce(spark, lts, rts, direction, strict):
    """Union+window as-of == per-row brute-force match under every
    direction/strict combination (nearest ties -> backward).  Right rows
    carry their own ts so the assertion pins WHICH row matched, and every
    third right value is NULL to pin matched-row semantics (the NULL must
    surface, not an older non-null)."""
    from datafusion_ballista_python_spark.operators.asof import asof_join

    def val(t):
        return None if t % 3 == 0 else f"v{t}"

    l = spark.createDataFrame([(1, t) for t in lts], ["k", "ts"])
    r = spark.createDataFrame(
        [(1, t, val(t), t) for t in rts], "k long, ts long, rv string, rts long"
    )
    got = {row["ts"]: (row["rts_r"], row["rv_r"])
           for row in asof_join(l, r, on="ts", by=["k"],
                                right_cols=["rv", "rts"],
                                direction=direction, strict=strict).collect()}

    def pick(t):
        back = [s for s in rts if (s < t if strict else s <= t)]
        fwd = [s for s in rts if (s > t if strict else s >= t)]
        b = max(back) if back else None
        f = min(fwd) if fwd else None
        if direction == "backward":
            m = b
        elif direction == "forward":
            m = f
        else:
            if b is None:
                m = f
            elif f is None:
                m = b
            else:
                m = f if (f - t) < (t - b) else b
        return (None, None) if m is None else (m, val(m))

    assert got == {t: pick(t) for t in lts}
