import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Test tiers (r10 verdict task #4): the full suite is the closing gate but
# costs 30+ minutes wall behind one serialized Spark session; `-m smoke`
# gives local iteration a <5-minute certification slice — the harness /
# meta-test layer (no Spark or trivial Spark), imports, doc goldens, and
# one oracle-parity entry per operator family.  Markers are assigned at
# collection so test files don't each carry tier boilerplate.
# ---------------------------------------------------------------------------

_SMOKE_MODULES = {
    "test_imports",
    "test_doc_goldens",
    "test_bench_headline",
    "test_rotation",
    "test_harness_strictness",
    "test_knife_edge",
    "test_cluster_guards",
    "test_session_factory",
    "test_operator_options",
}

# one oracle entry per family (relational agg, join, window, dedup-exact,
# dedup-LSH, ANN, text, sampling, training, quality, events, as-of,
# streaming, scalar fns, UDAF, multimodal, physical round-trip)
_SMOKE_ORACLE_ENTRIES = {
    "q1_pricing_summary",
    "q5_region_revenue",
    "window_rank",
    "dedup_exact",
    "dedup_minhash_lsh",
    "embed_cosine_topk",
    "text_quality",
    "sample_hash_fraction",
    "train_pack_sequences",
    "dq_profile_orders",
    "events_funnel",
    "asof_join_events",
    "stream_window_counts",
    "fn_math",
    "udaf_geomean",
    "mm_media_stats",
    "skew_salted_agg",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        if mod in _SMOKE_MODULES:
            item.add_marker(pytest.mark.smoke)
        elif mod == "test_oracle_corpus":
            params = getattr(item, "callspec", None)
            name = params.params.get("name") if params is not None else None
            if name in _SMOKE_ORACLE_ENTRIES:
                item.add_marker(pytest.mark.smoke)


@pytest.fixture(scope="session")
def spark():
    from datafusion_ballista_python_spark.session import build_session

    return build_session(shuffle_partitions=8, master="local[8]", app_name="tests")


@pytest.fixture(scope="session")
def ctx(spark):
    from datafusion_ballista_python_spark import BallistaContext

    return BallistaContext(spark=spark)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
