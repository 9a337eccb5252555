"""One path per operator: each function below had a mode parameter whose
second arm no corpus entry, bench workload, example or tool selected.
The arm every caller ran is now the only one, so the parameter is gone;
passing it must fail at the call site instead of silently picking a
path nothing certifies.  Spark-free: signatures only.
"""

from __future__ import annotations

import inspect

import pytest

from datafusion_ballista_python_spark import endpoint, streaming
from datafusion_ballista_python_spark.operators import dedup, graph, text

RETIRED = [
    (dedup.jaccard_candidates, "positional"),
    (dedup.jaccard_join, "positional"),
    (dedup.containment_join, "positional"),
    (graph.triangle_count, "orientation"),
    (graph._oriented_edges, "orientation"),
    (text.perplexity_buckets, "cutoffs"),
    (dedup.survivor_selection, "algorithm"),
    (dedup.minhash_signatures, "num_partitions"),
    (dedup._minhash_wide, "num_partitions"),
    (streaming.enrich_with_dimension, "broadcast_dim"),
    (endpoint.start_sql_endpoint, "single_session"),
]


@pytest.mark.parametrize(
    "fn,param", RETIRED, ids=[f"{fn.__name__}-{p}" for fn, p in RETIRED]
)
def test_retired_option_is_gone(fn, param):
    assert param not in inspect.signature(fn).parameters
