"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force exact top-k: candidates never leave
  their partitions; per-partition top-k (window) then a tiny final merge.
  The exact baseline every ANN variant is measured against.
- :func:`lsh_topk` — random-hyperplane LSH: probe only candidates sharing
  a hash bucket with the query.  Sub-linear candidate sets at the cost of
  recall; the 100 TB path.

Vector math uses Catalyst higher-order functions (``aggregate``/
``zip_with``) — JVM-side, no Python UDF in the hot path.
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _matrix(series: pd.Series, dtype=np.float64) -> np.ndarray:
    """Stack a pandas Series of array<float> values into a 2-D matrix."""
    if len(series) == 0:
        return np.zeros((0, 1), dtype=dtype)
    return np.array(series.tolist(), dtype=dtype)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _with_norm(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Project the vector L2 norm as a column.  Pairwise scorers join on
    pre-normed sides so each row's norm is computed once, not once per
    pair (the inline cosine_sim form folds the whole vector three times
    per candidate pair)."""
    return df.withColumn(out_col, norm(F.col(vec_col)))


MAX_BRUTE_FORCE_QUERIES = 10_000


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "qid",
    query_vec: str = "qe",
    round_digits: int | None = 4,
    max_query_rows: int | None = MAX_BRUTE_FORCE_QUERIES,
    pair_filter: "Column | None" = None,
    query_extra_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Exact cosine top-k per query vector (brute force).

    The query side is tiny -> Catalyst broadcasts it; each candidate
    partition scores + window-ranks locally, so only ~k rows per query per
    partition reach the final exchange.  ``pair_filter`` (a boolean
    Column over query+candidate columns) excludes pairs BEFORE ranking —
    the hook :func:`hard_negatives` builds on; ``query_extra_cols`` are
    projected through from the query side.

    Scale guard: cost is O(|candidates| x |queries|) — the labeled exact
    baseline, not the scale path.  A query side above ``max_query_rows``
    raises (the limit+count probe short-circuits, so the check itself is
    cheap); pass ``max_query_rows=None`` to force through, or use
    :func:`lsh_topk` / :func:`ivf_topk` for large query sets.
    """
    if max_query_rows is not None:
        probe = queries.limit(max_query_rows + 1).count()
        if probe > max_query_rows:
            from ..errors import BallistaError

            raise BallistaError(
                f"cosine_topk is the brute-force exact baseline; query side "
                f"exceeds max_query_rows={max_query_rows} "
                f"(O(candidates x queries) crossJoin at this size). Use "
                f"lsh_topk/ivf_topk for large query sets, or pass "
                f"max_query_rows=None to force."
            )
    extra = [c for c in candidates.columns if c not in (vec_col,)]
    qn = _with_norm(queries, query_vec, "__qn")
    cn = _with_norm(candidates, vec_col, "__cn")
    sim = dot(F.col(query_vec), F.col(vec_col)) / (F.col("__qn") * F.col("__cn"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    pairs = F.broadcast(qn).crossJoin(cn)
    if pair_filter is not None:
        pairs = pairs.where(pair_filter)
    scored = pairs.select(
        F.col(query_id),
        *[F.col(c) for c in query_extra_cols],
        *[F.col(c) for c in extra],
        sim.alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python, seeded)."""
    import random

    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        s = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / s for x in v])
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from random hyperplanes.

    One Arrow-batched matmul per batch ((B x dim) @ (dim x planes), sign ->
    bit pack).  A literal-expression formulation would put n_planes x dim
    constant nodes in the Catalyst tree per call — analysis time alone
    dominates execution; the vectorized numpy path is partition-parallel and
    O(batch) regardless of dim.
    """
    plane_mat = np.array(planes, dtype=np.float64)
    bits = np.array([1 << i for i in range(len(planes))], dtype=np.int64)

    @pandas_udf("long")
    def _bucket(v: pd.Series) -> pd.Series:
        mat = _matrix(v)
        if mat.shape[0] == 0:
            return pd.Series([], dtype="int64")
        return pd.Series(((mat @ plane_mat.T > 0) * bits).sum(axis=1))

    return _bucket(vec)


def lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "qid",
    query_vec: str = "qe",
) -> DataFrame:
    """Approximate top-k with multi-table random-hyperplane LSH.

    OR-amplification: ``n_tables`` independent plane sets; a candidate is
    probed if it shares a bucket with the query in ANY table (recall
    ~ 1-(1-p^n_planes)^n_tables).  Each table contributes one equi-join on
    its bucket id — shuffles on bucket keys only, candidate sets shrink
    ~2^n_planes-fold per table vs the brute-force cross join.
    """
    # candidate-pair generation: one hash equi-join per table (NOT an OR-join,
    # which would degrade to a nested loop), unioned + deduped before the
    # expensive cosine scoring
    pair_frames = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        cb = candidates.select(
            F.col(id_col), lsh_bucket(F.col(vec_col), planes).alias("__bucket")
        )
        qb = queries.select(
            F.col(query_id), lsh_bucket(F.col(query_vec), planes).alias("__bucket")
        )
        pair_frames.append(
            F.broadcast(qb).join(cb, on="__bucket", how="inner").select(query_id, id_col)
        )
    pairs = pair_frames[0]
    for pf in pair_frames[1:]:
        pairs = pairs.union(pf)
    pairs = pairs.distinct()

    extra = [c for c in candidates.columns if c != vec_col]
    sim = F.round(
        dot(F.col(query_vec), F.col(vec_col)) / (F.col("__qn") * F.col("__cn")), 4
    )
    scored = (
        pairs.join(F.broadcast(_with_norm(queries, query_vec, "__qn")), on=query_id)
        .join(_with_norm(candidates, vec_col, "__cn"), on=id_col)
        .select(F.col(query_id), *[F.col(c) for c in extra], sim.alias("cos_sim"))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


# -- IVF (inverted-file) ANN ------------------------------------------------

def _cell_assign_udf(centroids: list[list[float]]):
    """Arrow-batched nearest-centroid assignment: (B x dim) @ (dim x k) ->
    argmax (ties -> lowest cell id, matching a (neg_dot, cid) struct sort)."""
    cent = np.array(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        mat = _matrix(v)
        if mat.shape[0] == 0:
            return pd.Series([], dtype="int32")
        return pd.Series(np.argmax(mat @ cent.T, axis=1).astype("int32"))

    return _assign


def _probe_cells_udf(centroids: list[list[float]], n_probe: int):
    """Arrow-batched n_probe nearest cells per query, most-similar first
    (stable argsort: ties -> lowest cell id)."""
    cent = np.array(centroids, dtype=np.float64)

    @pandas_udf("array<int>")
    def _probe(v: pd.Series) -> pd.Series:
        mat = _matrix(v)
        if mat.shape[0] == 0:
            return pd.Series([], dtype="object")
        order = np.argsort(-(mat @ cent.T), axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return _probe


def train_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_rows: int = 4096,
) -> list[list[float]]:
    """k-means-lite coarse quantizer: deterministic init (first k vectors by
    id), then ``iters`` assign/average rounds over a bounded sample.

    Quantizer quality needs a representative sample, not the full corpus
    (FAISS trains IVF quantizers on a sample for the same reason) — the
    sample is bounded at ``sample_rows``, Arrow-collected once, and the
    assign/average rounds run as in-memory matmuls.  Training cost is
    O(sample x k x iters) no matter how big the table is; the full corpus is
    only touched once, by the distributed cell assignment in ivf_topk."""
    sample = df.orderBy(id_col).limit(sample_rows) if sample_rows else df
    pdf = sample.select(vec_col).toPandas()
    mat = _matrix(pdf[vec_col])
    k = min(n_centroids, mat.shape[0])
    cent = mat[:k].copy()
    for _ in range(iters):
        cells = np.argmax(mat @ cent.T, axis=1)
        for i in range(k):
            members = mat[cells == i]
            if members.shape[0]:
                cent[i] = members.mean(axis=0)
    return [[float(x) for x in row] for row in cent]


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "qid",
    query_vec: str = "qe",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: coarse-quantize candidates into ``n_centroids`` cells, then
    score each query only against its ``n_probe`` nearest cells.

    Scale path: cell assignment is a pure map — the k x dim centroid matrix
    rides along to every executor inside an Arrow-batched numpy UDF (one
    matmul per batch); the probe is an equi-join on cell id — candidates are
    pruned ~n_centroids/n_probe-fold before any cosine math, and at 100 TB
    the candidate table would be written out partitioned by cell id so
    probes touch only matching files.

    ``centroids`` overrides the trained quantizer with a fixed one (e.g.
    seeded vectors for reproducible/oracle-checkable runs, or a quantizer
    trained offline once and reused across incremental loads)."""
    if centroids is None:
        centroids = train_centroids(candidates, n_centroids, iters, vec_col, id_col)

    cells = candidates.withColumn(
        "__cell", _cell_assign_udf(centroids)(F.col(vec_col))
    )
    probes = queries.withColumn(
        "__cell", F.explode(_probe_cells_udf(centroids, n_probe)(F.col(query_vec)))
    )
    extra = [c for c in candidates.columns if c != vec_col]
    sim = F.round(
        dot(F.col(query_vec), F.col(vec_col)) / (F.col("__qn") * F.col("__cn")), 4
    )
    scored = (
        F.broadcast(_with_norm(probes, query_vec, "__qn"))
        .join(_with_norm(cells, vec_col, "__cn"), on="__cell")
        .select(F.col(query_id), *[F.col(c) for c in extra], sim.alias("cos_sim"))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


# -- int8 embedding quantization -------------------------------------------


def _absmax(vec_col: str | Column) -> Column:
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.array_max(F.transform(c, lambda x: F.abs(x.cast("double"))))


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qcode",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric linear int8 quantization with one GLOBAL scale:
    ``scale = max |x|`` over the whole corpus, ``code = clamp(round(x /
    scale * 127), -127, 127)`` — 4x smaller embeddings (float32 -> int8)
    and integer dot products downstream, the standard storage/compute
    trade for corpus-scale ANN.

    Rounding is ``floor(v + 0.5)`` (half-toward-+inf) — spelled the same
    way in the DuckDB oracle so code arrays are bit-identical cross-engine
    (plain ROUND ties differ between engines).

    Scale shape: the absmax is ONE aggregate reduced map-side to a single
    row and broadcast back; the quantize itself is a pure codegen map —
    no Python, no shuffle of the embedding table.  Cosine on quantized
    codes needs no dequantize: the scale cancels in the ratio.
    """
    stats = df.agg(F.max(_absmax(vec_col)).alias("__scale"))
    code = lambda x: F.greatest(  # noqa: E731
        F.lit(-127),
        F.least(
            F.lit(127),
            F.floor(x.cast("double") / F.col("__scale") * 127 + F.lit(0.5)).cast("int"),
        ),
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(out_col, F.transform(F.col(vec_col), code))
        .withColumn(scale_col, F.col("__scale"))
        .drop("__scale")
    )


def dequantize_embeddings(
    df: DataFrame,
    code_col: str = "qcode",
    scale_col: str = "scale",
    out_col: str = "embedding_dq",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: ``x ~ code * scale / 127``.
    Reconstruction error is bounded by ``scale / 254`` per dimension."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(code_col),
            lambda c: (c.cast("double") * F.col(scale_col) / 127),
        ),
    )


def quantized_cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "qid",
    query_vec: str = "qe",
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact-over-quantized cosine top-k: both sides are int8-quantized
    with a shared scale, then ranked by cosine of the CODE vectors — the
    global scale cancels in the ratio, so no dequantization happens and
    the pairwise math is small-integer dot products.

    Recall loss comes only from rounding (<= 1/254 per dim relative);
    at 100 TB this is the memory-bound brute-force tier — 4x more vectors
    per executor than float32 — below which lsh/ivf prune candidates.
    """
    both_scale = candidates.select(_absmax(vec_col).alias("__m")).union(
        queries.select(_absmax(query_vec).alias("__m"))
    ).agg(F.max("__m").alias("__scale"))
    code = lambda v: F.transform(  # noqa: E731
        v,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(
                    x.cast("double") / F.col("__scale") * 127 + F.lit(0.5)
                ).cast("int"),
            ),
        ),
    )
    qn = (
        queries.crossJoin(F.broadcast(both_scale))
        .withColumn(query_vec, code(F.col(query_vec)))
        .drop("__scale")
    )
    cn = (
        candidates.crossJoin(F.broadcast(both_scale))
        .withColumn(vec_col, code(F.col(vec_col)))
        .drop("__scale")
    )
    return cosine_topk(
        cn,
        qn,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
        query_id=query_id,
        query_vec=query_vec,
        round_digits=round_digits,
    )


# -- IVF-PQ: product quantization + asymmetric-distance scoring ------------


def train_pq_codebooks(
    df: DataFrame,
    n_sub: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_rows: int = 4096,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011): split the vector into
    ``n_sub`` contiguous subspaces and train an independent ``n_codes``-
    entry codebook per subspace — k-means-lite (deterministic first-k
    init, ``iters`` assign/average rounds) on the SAME bounded ≤
    ``sample_rows`` sample contract as :func:`train_centroids`.
    Training cost is O(sample x n_codes x n_sub x iters) regardless of
    corpus size.  Returns ``codebooks[sub][code] -> list[float]``."""
    sample = df.orderBy(id_col).limit(sample_rows) if sample_rows else df
    pdf = sample.select(vec_col).toPandas()
    mat = _matrix(pdf[vec_col])
    dim = mat.shape[1]
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sd = dim // n_sub
    books: list[list[list[float]]] = []
    for s in range(n_sub):
        sub = mat[:, s * sd : (s + 1) * sd]
        k = min(n_codes, sub.shape[0])
        cb = sub[:k].copy()
        for _ in range(iters):
            # argmin ||x - c||^2 == argmin (||c||^2 - 2 x.c); ties -> lowest code
            d2 = (cb * cb).sum(axis=1) - 2.0 * (sub @ cb.T)
            cells = np.argmin(d2, axis=1)
            for i in range(k):
                members = sub[cells == i]
                if members.shape[0]:
                    cb[i] = members.mean(axis=0)
        books.append([[float(x) for x in row] for row in cb])
    return books


def _pq_encode_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched PQ encoding: per subspace, nearest codebook entry by
    L2 (ties -> lowest code via argmin-first).  One (B x sd) @ (sd x
    n_codes) matmul per subspace per batch."""
    cbs = [np.array(b, dtype=np.float64) for b in codebooks]
    sd = cbs[0].shape[1]

    @pandas_udf("array<int>")
    def _enc(v: pd.Series) -> pd.Series:
        mat = _matrix(v)
        if mat.shape[0] == 0:
            return pd.Series([], dtype="object")
        codes = np.empty((mat.shape[0], len(cbs)), dtype=np.int32)
        for s, cb in enumerate(cbs):
            sub = mat[:, s * sd : (s + 1) * sd]
            d2 = (cb * cb).sum(axis=1) - 2.0 * (sub @ cb.T)
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.Series([row.tolist() for row in codes])

    return _enc


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors as ``n_sub`` small-int codes — dim x 8 bytes of
    float64 collapse to n_sub bytes of code (the 100 TB memory story:
    a 64-dim embedding becomes 8 codes + shared codebooks)."""
    return df.withColumn(out_col, _pq_encode_udf(codebooks)(F.col(vec_col)))


def _adc_score_udf(codebooks: list[list[list[float]]]):
    """Asymmetric distance computation: cosine(query, RECONSTRUCTED
    candidate).  The query stays exact float; the candidate is looked up
    from its codes (numpy fancy-index gather, one einsum per batch).
    ||recon||^2 is exact from the gathered rows because subspaces are
    disjoint blocks (no cross terms)."""
    cb = np.stack([np.array(b, dtype=np.float64) for b in codebooks])
    n_sub = cb.shape[0]
    sub_idx = np.arange(n_sub)

    @pandas_udf("double")
    def _adc(qe: pd.Series, code: pd.Series) -> pd.Series:
        q = _matrix(qe)
        if q.shape[0] == 0:
            return pd.Series([], dtype="float64")
        c = np.array(code.tolist(), dtype=np.int64)
        recon = cb[sub_idx[None, :], c].reshape(c.shape[0], -1)
        num = np.einsum("bd,bd->b", q, recon)
        den = np.sqrt((q * q).sum(axis=1)) * np.sqrt((recon * recon).sum(axis=1))
        return pd.Series(num / den)

    return _adc


def ivfpq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_sub: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "qid",
    query_vec: str = "qe",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """IVF-PQ ANN — the memory-bound tier of the ladder (brute -> int8
    -> LSH/IVF -> IVF-PQ): coarse-quantize candidates into cells, PQ-
    encode each candidate to ``n_sub`` codes, and rank probed candidates
    by asymmetric cosine (exact query vs reconstructed candidate).

    ``rerank=R`` adds the standard refine stage (FAISS's IVFPQ+refine):
    the PQ scores build a per-query shortlist of R candidates, whose
    FLOAT vectors are fetched back by one id equi-join and re-scored
    exactly — PQ noise decides only who makes the shortlist, not the
    final order.  The exact-score join touches R rows per query, not the
    corpus, so the memory story stands: codes score the bulk, floats
    surface for R<<corpus rows.

    Scale shape: cell assign + PQ encode are pure Arrow-batched maps (the
    centroid matrix and codebooks ride to executors as literals); the
    probe is the same cell equi-join as :func:`ivf_topk`; scoring reads
    ONLY the code arrays — the float vectors never cross the shuffle, so
    an executor holds dim*8/n_sub x more candidates than float64
    brute-force (64-dim: 512 bytes -> 8 codes).  No residual encoding
    (codes quantize the raw vector, not x - centroid): one codebook set
    serves every cell, which is what lets the oracle replay encoding
    statically.  ``centroids``/``codebooks`` pin the quantizers for
    reproducible runs; both default to training on the bounded sample.
    """
    if rerank is not None and rerank < k:
        raise ValueError(
            f"rerank ({rerank}) must be >= k ({k}): the refine stage can "
            "only reorder the shortlist, not extend it"
        )
    if centroids is None:
        centroids = train_centroids(
            candidates, n_centroids, iters, vec_col, id_col
        )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            candidates, n_sub, n_codes, iters, vec_col, id_col
        )
    extra = [c for c in candidates.columns if c != vec_col]
    cells = candidates.withColumn(
        "__cell", _cell_assign_udf(centroids)(F.col(vec_col))
    )
    coded = pq_encode(cells, codebooks, vec_col).select(
        *extra, "__cell", "pq_code"
    )  # the raw vector column is DROPPED before the join — codes only
    probes = queries.withColumn(
        "__cell", F.explode(_probe_cells_udf(centroids, n_probe)(F.col(query_vec)))
    )
    sim = F.round(
        _adc_score_udf(codebooks)(F.col(query_vec), F.col("pq_code")), 4
    )
    scored = (
        F.broadcast(probes)
        .join(coded, on="__cell")
        .select(F.col(query_id), *[F.col(c) for c in extra], sim.alias("cos_sim"))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col(id_col))
    topped = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= (rerank if rerank is not None else k))
        .drop("__rn")
    )
    if rerank is None:
        return topped
    # refine: exact cosine over the R-row shortlist only.  The candidate
    # norm is computed AFTER the id join (r12): _with_norm before the
    # join ran the interpreted 64-element dot fold over EVERY candidate
    # row and then discarded all but the shortlist — post-join it touches
    # R rows per query, which is the memory/CPU story the docstring
    # promises (a shortlist member probed by several queries re-folds its
    # norm once per query row, but R x queries << corpus at every scale).
    shortlist = topped.drop("cos_sim").join(
        F.broadcast(_with_norm(queries, query_vec, "__qn")), on=query_id
    )
    refined = shortlist.join(
        candidates.select(id_col, vec_col),
        on=id_col,
    ).withColumn("__cn", norm(F.col(vec_col)))
    exact_sim = F.round(
        dot(F.col(query_vec), F.col(vec_col)) / (F.col("__qn") * F.col("__cn")), 4
    )
    rescored = refined.select(
        F.col(query_id), *[F.col(c) for c in extra], exact_sim.alias("cos_sim")
    )
    return (
        rescored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


# -- IVF on-disk index: cell-partitioned layout + pruned probes ------------


def write_ivf_index(
    candidates: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index as a cell-partitioned parquet dataset:
    one hive partition directory per quantizer cell.

    This is the 100 TB ANN serving layout the in-memory ``ivf_topk``
    docstring promises: a probe that touches ``n_probe`` of
    ``n_centroids`` cells reads exactly those partition directories —
    the other cells' files are never opened (dynamic partition pruning,
    plan-asserted in tests).  Cell assignment is the same Arrow-batched
    matmul as the query path; the write shuffles once on cell id.
    """
    from ..sources.layout import write_partitioned

    cells = candidates.withColumn(
        "cell", _cell_assign_udf(centroids)(F.col(vec_col))
    )
    write_partitioned(cells, path, ["cell"])


def append_ivf_index(
    candidates: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF index maintenance: assign NEW vectors to their
    quantizer cells and append them to an existing
    :func:`write_ivf_index` dataset.

    The append is partition-local — only cell directories that receive
    new vectors gain files; existing files are never read or rewritten,
    so ingesting a delta costs O(delta), not O(index).  Queries through
    :func:`ivf_topk_from_index` see base+delta with identical semantics
    to an index built from the union (the cell assignment is the same
    deterministic Arrow-batched matmul, and parquet partition append is
    set-union).  The centroids MUST be the index's own quantizer —
    re-training on the delta would silently split the vector space
    across incompatible cell layouts; when drift demands a new
    quantizer, rebuild (write_ivf_index) instead.  At scale, follow
    sustained ingestion with per-cell compaction (sources/layout.compact
    per directory) to bound file counts."""
    from ..sources.layout import write_partitioned

    cells = candidates.withColumn(
        "cell", _cell_assign_udf(centroids)(F.col(vec_col))
    )
    write_partitioned(cells, path, ["cell"], mode="append")


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "qid",
    query_vec: str = "qe",
) -> DataFrame:
    """ANN top-k against a :func:`write_ivf_index` dataset.

    Queries explode to their ``n_probe`` nearest cells; the broadcast
    probe-side join on the PARTITION column triggers dynamic partition
    pruning, so the scan reads only the probed cell directories.  Result
    semantics match :func:`ivf_topk` with the same centroids.
    """
    cells = spark.read.parquet(path)
    probes = queries.withColumn(
        "cell", F.explode(_probe_cells_udf(centroids, n_probe)(F.col(query_vec)))
    )
    extra = [c for c in cells.columns if c not in (vec_col, "cell")]
    sim = F.round(
        dot(F.col(query_vec), F.col(vec_col)) / (F.col("__qn") * F.col("__cn")), 4
    )
    scored = (
        F.broadcast(_with_norm(probes, query_vec, "__qn"))
        .join(_with_norm(cells, vec_col, "__cn"), on="cell")
        .select(F.col(query_id), *[F.col(c) for c in extra], sim.alias("cos_sim"))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def hard_negatives(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    query_id: str = "qid",
    query_vec: str = "qe",
    query_label: str = "qlabel",
    round_digits: int | None = 4,
    max_query_rows: int | None = MAX_BRUTE_FORCE_QUERIES,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per query,
    the ``k`` candidates MOST similar by cosine whose label differs from
    the query's — the near-misses a contrastive loss learns the most
    from.  A thin wrapper over :func:`cosine_topk`'s ``pair_filter``
    hook, so the scoring core (guard, norms, rounding, tiebreak) exists
    exactly once; the label exclusion applies BEFORE ranking (a
    post-filtered top-k would silently return fewer than k negatives
    whenever positives crowd the head of the ranking).

    Same scale shape and guard as :func:`cosine_topk` (the exact
    baseline; swap in the LSH/IVF scorer at corpus scale)."""
    return cosine_topk(
        candidates,
        queries,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
        query_id=query_id,
        query_vec=query_vec,
        round_digits=round_digits,
        max_query_rows=max_query_rows,
        # null-SAFE inequality: a NULL candidate or query label counts as a
        # DIFFERING label (the row stays minable) rather than yielding a
        # NULL predicate that silently drops it from mining; only
        # NULL-vs-NULL pairs are treated as same-label and excluded.
        pair_filter=~F.col(label_col).eqNullSafe(F.col(query_label)),
        query_extra_cols=(query_label,),
    )


def mmr_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 3,
    pool: int = 10,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "qid",
    query_vec: str = "qe",
    round_digits: int = 4,
    score_digits: int = 6,
    max_query_rows: int | None = MAX_BRUTE_FORCE_QUERIES,
) -> DataFrame:
    """Maximal Marginal Relevance top-k (Carbonell & Goldstein, SIGIR'98):
    per query, greedily select ``k`` results maximizing
    ``lam * rel(c) - (1-lam) * max_{s in selected} sim(c, s)`` — the
    diversity-aware re-ranking that keeps a near-duplicate cluster from
    monopolizing a result list (retrieval-augmented data curation: one
    representative per redundant group instead of k copies of the top
    hit).  The first pick maximizes ``lam * rel`` (empty selected set ->
    similarity term 0); ties break on ascending candidate id at every
    round.

    Two-stage shape, which is what makes it scale:
    1. a bounded RELEVANCE POOL of ``pool`` candidates per query via
       :func:`cosine_topk` — the only stage that touches the full
       candidate corpus, with that operator's scale path and guard (swap
       in the LSH/IVF scorer upstream for billion-row corpora);
    2. ``k`` greedy rounds over the pooled frame (``pool x |queries|``
       rows, localCheckpoint-ed): each round is one equi-join on the
       query id against the selected set, one max-aggregate, one
       window argmax — cost bounded by the pool, NEVER by the corpus.

    Determinism contract (how the DuckDB oracle replays selection
    bit-for-bit): relevance and every pairwise similarity are rounded to
    ``round_digits`` BEFORE entering a score; scores combine those
    rounded doubles with the exact doubles ``lam`` and ``1-lam``
    (IEEE-identical in both engines when literals match); argmax orders
    by (score DESC, id ASC).  Output: (query_id, rank 1..k, id,
    mmr_score rounded to ``score_digits``, rel).

    A query whose candidate set (or cosine_topk pool) holds fewer than
    ``k`` members returns that many rows — never padded, never an error
    (the greedy rounds simply run dry, which is what re-ranking an
    under-filled pool means).  The per-round ``localCheckpoint`` calls
    are LAZY: each round's frame wraps a lineage-severed RDD shared by
    identity across later rounds, so the caller's single action computes
    every round exactly once — no per-round construction-time jobs
    (beyond :func:`cosine_topk`'s bounded query-count guard probe).
    """
    from ..errors import BallistaError

    if not (0.0 < lam <= 1.0):
        raise BallistaError(f"lam must be in (0, 1], got {lam}")
    if not (1 <= k <= pool):
        raise BallistaError(f"need 1 <= k <= pool, got k={k} pool={pool}")
    mlam = 1.0 - lam

    pool_df = cosine_topk(
        candidates,
        queries,
        k=pool,
        vec_col=vec_col,
        id_col=id_col,
        query_id=query_id,
        query_vec=query_vec,
        round_digits=round_digits,
        max_query_rows=max_query_rows,
    ).select(F.col(query_id), F.col(id_col), F.col("cos_sim").alias("__rel"))
    # re-attach vectors + norms to pool members only (pool x |queries| rows)
    p = (
        pool_df.join(candidates.select(F.col(id_col), F.col(vec_col)), id_col)
        .withColumn("__n", norm(F.col(vec_col)))
        .localCheckpoint(eager=False)
    )

    w = Window.partitionBy(query_id).orderBy(F.desc("__score"), F.col(id_col))
    first = (
        p.withColumn("__score", F.lit(lam) * F.col("__rel"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("__rank", F.lit(1))
    )
    selected = first.localCheckpoint(eager=False)
    remaining = p.join(
        selected.select(query_id, id_col), [query_id, id_col], "left_anti"
    ).localCheckpoint(eager=False)

    for r in range(2, k + 1):
        c, s = remaining.alias("c"), selected.alias("s")
        sim = F.round(
            dot(F.col(f"c.{vec_col}"), F.col(f"s.{vec_col}"))
            / (F.col("c.__n") * F.col("s.__n")),
            round_digits,
        )
        maxsim = (
            c.join(s, F.col(f"c.{query_id}") == F.col(f"s.{query_id}"))
            .select(
                F.col(f"c.{query_id}").alias(query_id),
                F.col(f"c.{id_col}").alias(id_col),
                sim.alias("__sim"),
            )
            .groupBy(query_id, id_col)
            .agg(F.max("__sim").alias("__maxsim"))
        )
        pick = (
            remaining.join(maxsim, [query_id, id_col])
            .withColumn(
                "__score",
                F.lit(lam) * F.col("__rel") - F.lit(mlam) * F.col("__maxsim"),
            )
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(*p.columns, "__score")
            .withColumn("__rank", F.lit(r))
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=False)
        remaining = remaining.join(
            pick.select(query_id, id_col), [query_id, id_col], "left_anti"
        ).localCheckpoint(eager=False)

    return selected.select(
        F.col(query_id),
        F.col("__rank").alias("rank"),
        F.col(id_col),
        F.round(F.col("__score"), score_digits).alias("mmr_score"),
        F.col("__rel").alias("rel"),
    ).orderBy(query_id, "rank")


# -- distributed covariance / PCA -------------------------------------------

def embed_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: Optional[int] = None,
    method: str = "exact",
    round_digits: int = 6,
) -> DataFrame:
    """Covariance matrix of an embedding column as the upper-triangle long
    frame ``(i, j, cov)`` with ``0 <= i <= j < dim`` — the one-pass input
    to PCA whitening / decorrelation over a corpus of vectors.

    ``cov(i,j) = E[x_i * x_j] - E[x_i] * E[x_j]`` with every expectation
    an exact DECIMAL accumulation (order-independent, engine-exact) and
    the final value rounded at ``round_digits``.

    Two physical strategies:

    - ``method='exact'`` (certified): each row explodes into its
      ``dim*(dim+1)/2`` index-pair products inside one generator
      projection (no self-join), partial-aggregated map-side before the
      single ``(i, j)`` shuffle.  Bit-identical to the DuckDB oracle —
      products are computed float*float then widened to double, spelled
      the same on both engines (the certified dot arithmetic).
    - ``method='gram'`` (scale path): per-Arrow-batch numpy ``X.T @ X``
      via mapInPandas — each batch collapses to one d x d partial Gram
      before anything shuffles, so shuffle bytes are O(partitions * d^2)
      instead of O(rows * d^2).  Float, not bit-certified; equal to
      'exact' within 1e-6 (tested).

    Scale shape: output is dim^2-bounded (d=1024 -> ~524k rows) and the
    only shuffle key is (i, j) — uniform by construction, no skew.  The
    reference engine has no covariance operator; this extends its
    aggregate family (SURVEY §2.5) the way a training pipeline needs.
    """
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("embed_covariance: empty input and no dim given")
        dim = first["d"]
    v = F.col(vec_col)

    if method == "gram":
        d = dim
        out_schema = "i int, j int, kind int, s double, n long"

        def gram(batches):
            for pdf in batches:
                mat = _matrix(pdf[vec_col])
                if mat.shape[0] == 0:
                    continue
                g = mat.T @ mat
                iu, ju = np.triu_indices(d)
                colsum = mat.sum(axis=0)
                yield pd.DataFrame(
                    {
                        "i": np.concatenate([iu, np.arange(d)]),
                        "j": np.concatenate([ju, np.full(d, -1)]),
                        "kind": np.concatenate(
                            [np.zeros(len(iu), int), np.ones(d, int)]
                        ),
                        "s": np.concatenate([g[iu, ju], colsum]),
                        "n": np.full(len(iu) + d, mat.shape[0], dtype=np.int64),
                    }
                )

        parts = (
            df.select(vec_col)
            .mapInPandas(gram, schema=out_schema)
            .groupBy("i", "j", "kind")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        )
        sums = parts.where(F.col("kind") == 0).select(
            "i", "j", F.col("s").alias("sxy"), F.col("n").alias("n")
        )
        means = parts.where(F.col("kind") == 1).select(
            F.col("i").alias("mi"), (F.col("s") / F.col("n")).alias("mean")
        )
        return _assemble_cov(sums, means, round_digits)

    if method != "exact":
        raise ValueError(f"embed_covariance: unknown method {method!r}")

    # Pair generation via two chained posexplodes over a dim-padded copy of
    # the vector, filtered j >= i.  The original nested
    # transform/flatten/explode built dim*(dim+1)/2 structs per row through
    # INTERPRETED higher-order functions (HOFs are CodegenFallback) — the
    # r11 A/B (OPTIMIZATION_r11.md §13) measured it at 1.71 s vs 0.40 s for
    # this Generate-based form at sf0.1, with bit-identical (i, j, sxy, n)
    # aggregates.  The one remaining HOF is the per-ROW pad/truncate
    # transform (dim evals per row, not dim^2): element_at keeps the exact
    # out-of-range/NULL semantics of the old form, so ragged or
    # NULL-element vectors produce the same (xy, count) multiset —
    # posexplode emits NULL elements as rows, and a too-short vector still
    # yields all dim positions with NULL products, exactly as element_at
    # did per pair.  Unlike a constant-index-array Generate (variant D,
    # 78 s: it copied the vector into every generated pair row) the
    # generated rows here are narrow (int, float), and both Generates,
    # the filter and the partial aggregation run inside one
    # WholeStageCodegen span.
    padded = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)), lambda i: F.element_at(v, i + 1)
    )
    # A fanout-balance repartition before the pair explosion (spreading
    # the ~dim^2/2-fold generated work off a single-split scan) was
    # SHIPPED AND REVERTED in r12: a 5.5 s single-task stage observed in
    # the 70-query sweep context did not reproduce in isolation (noop
    # 0.91 s without it vs 1.12 s with; bench count path 0.384 vs
    # 0.420 s min over a 10-round interleaved A/B) — the sweep number
    # was JVM-context, not plan shape, so the extra exchange is pure
    # overhead at bench scale.  At 100 TB the documented scale path is
    # method='gram' (which never fans out), so the exact path keeps the
    # single-scan shape.
    sums = (
        df.select(padded.alias("__p"))
        .select("__p", F.posexplode("__p").alias("__i", "__xi"))
        .select(
            F.col("__i").cast("int").alias("i"),
            F.col("__xi"),
            F.posexplode("__p").alias("__j", "__xj"),
        )
        .where(F.col("__j") >= F.col("__i"))
        .select(
            "i",
            F.col("__j").cast("int").alias("j"),
            (F.col("__xi") * F.col("__xj")).cast("double").alias("xy"),
        )
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("xy").cast("decimal(25,6)")).cast("double").alias("sxy"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    means = (
        df.select(
            F.posexplode(F.transform(v, lambda x: x.cast("double"))).alias(
                "mi", "x"
            )
        )
        .groupBy("mi")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean")
        )
    )
    return _assemble_cov(sums, means, round_digits)


def _assemble_cov(
    sums: DataFrame, means: DataFrame, round_digits: int
) -> DataFrame:
    """Join pair sums (i, j, sxy, n) with per-dimension means (mi, mean)
    and emit (i, j, cov).  ``+ 0.0`` folds IEEE -0.0 to +0.0 — engines
    disagree on the sign of an underflowing round and the driver's
    repr-keyed row sort would misalign on it."""
    mj = means.select(F.col("mi").alias("mj_i"), F.col("mean").alias("mean_j"))
    return (
        sums.join(F.broadcast(means), sums["i"] == means["mi"])
        .join(F.broadcast(mj), sums["j"] == mj["mj_i"])
        .select(
            "i",
            "j",
            (
                F.round(
                    F.col("sxy") / F.col("n") - F.col("mean") * F.col("mean_j"),
                    round_digits,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 2,
    id_col: str = "vec_id",
    out_col: str = "pca",
    dim: Optional[int] = None,
) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components.

    Fits on the :func:`embed_covariance` Gram path (shuffle bytes bounded
    by partitions * d^2), eigendecomposes the d x d matrix on the DRIVER
    (numpy ``eigh`` — d x d is dim-bounded, independent of corpus size:
    the sanctioned driver-side footprint, same class as k-means
    centroids), then projects JVM-side with the Catalyst dot fold — no
    Python in the per-row path.  Components are sign-normalized (largest-
    |loading| coordinate positive) so output is deterministic.

    Eager: fitting runs Spark jobs at call time (like train_centroids).
    """
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("pca_project: empty input and no dim given")
        dim = first["d"]
    if not 1 <= k <= dim:
        raise ValueError(f"pca_project: k={k} out of range for dim={dim}")
    cov_rows = embed_covariance(
        df, vec_col=vec_col, dim=dim, method="gram", round_digits=12
    ).collect()
    cov = np.zeros((dim, dim))
    for r in cov_rows:
        cov[r["i"], r["j"]] = r["cov"]
        cov[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for c in order:
        comp = vecs[:, c]
        if comp[np.argmax(np.abs(comp))] < 0:
            comp = -comp
        comps.append([float(x) for x in comp])
    comp_col = F.array(
        *[
            F.array(*[F.lit(x) for x in comp])
            for comp in comps
        ]
    )
    proj = F.transform(
        comp_col,
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c, lambda x, y: (x * y).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return df.select(F.col(id_col), proj.alias(out_col))


def silhouette_simplified(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Simplified silhouette score per cluster (Hruschka et al. 2004 —
    the centroid-distance variant that makes silhouette computable at
    corpus scale): for each vector, ``a`` = euclidean distance to its
    own (nearest) centroid, ``b`` = distance to the second-nearest, and
    ``s = (b - a) / max(a, b)`` — the standard "are these clusters
    real" diagnostic for the k-means behind IVF cells and SemDeDup
    blocks.  True silhouette is O(n^2) pairwise; this variant is O(n*k)
    and fully map-side.

    Returns one row per cluster: ``(cell, n, mean_s)``; ``s`` is 0 when
    ``max(a, b) = 0`` (point coincides with tied centroids).  Ties on
    the nearest centroid assign the lowest cell id (first index of the
    min — same rule as the IVF/SemDeDup assignment).

    Determinism: distances are IEEE sqrt over the certified
    float->double fold; per-point ``s`` rounds at ``round_digits`` and
    accumulates per cell as DECIMAL, so means are partition-order-free
    and oracle-exact.

    Scale: all k distances compute in ONE projection per row (no join
    against a centroid table); the only shuffle is the per-cell partial
    aggregate — k cells, bounded.
    """
    if len(centroids) < 2:
        raise ValueError(
            f"silhouette_simplified: need >= 2 centroids, got {len(centroids)}"
        )
    cents = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    v = F.col(vec_col)
    dists = F.transform(
        cents,
        lambda c: F.sqrt(
            F.aggregate(
                F.zip_with(v, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    staged = df.select(F.col(id_col), dists.alias("__d")).select(
        id_col,
        (F.array_position(F.col("__d"), F.array_min("__d")) - 1)
        .cast("int")
        .alias("cell"),
        F.element_at(F.array_sort("__d"), 1).alias("__a"),
        F.element_at(F.array_sort("__d"), 2).alias("__b"),
    )
    s = F.when(
        F.greatest("__a", "__b") > 0,
        F.round(
            (F.col("__b") - F.col("__a")) / F.greatest("__a", "__b"),
            round_digits,
        ),
    ).otherwise(F.lit(0.0))
    return (
        staged.select("cell", s.alias("__s"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.col("__s").cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1)),
                round_digits,
            ).alias("mean_s"),
        )
    )
