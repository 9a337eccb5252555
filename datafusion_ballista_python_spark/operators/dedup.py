"""Deduplication operators: exact, token-Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the point of each variant):
- ``exact_clusters``: one hash-partitioned aggregation on a fingerprint —
  the only O(n) exact method; always run it first to shrink the corpus.
- ``ngram_jaccard_pairs``: exact pairwise Jaccard *within blocking keys* —
  quadratic per block, use only when blocks are bounded.
- ``minhash_lsh_pairs``: shingles -> minhash signatures -> banded LSH
  bucket join.  Candidate generation is linear + a shuffle on band keys;
  only candidates pay the exact-verify cost.  This is the 100 TB path.
- ``simhash_buckets``: 64-bit simhash; near-dups share band prefixes.
- ``embedding_near_dup_pairs``: cosine > threshold within blocks (see
  operators.similarity for the ANN variant).

Hash primitive: md5 hex (lexicographic min == numeric min for fixed-width
hex) — deterministic and identical across Spark and DuckDB, which is what
makes the LSH pipeline oracle-checkable in SQL.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalized_text

# The ordered-shingle checkpoint in jaccard_join / containment_join is
# LAZY by the r12 measurement (OPTIMIZATION_r12.md §7, eager -> lazy:
# jaccard 1.73 -> 1.64 s, containment 1.86 -> 1.73 s, identical rows): the
# r11 duplicate-compute concern does not materialize — under AQE, creating
# even a lazy checkpoint's RDD finalizes the plan and runs every
# intermediate stage once at build time, so the eager mode's only
# difference is a dedicated final-stage job whose blocks the first real
# action re-reads.


def exact_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group exact duplicates (by normalized-text md5) into clusters.

    Returns (fp, canonical_id, n_copies); canonical is the min id.  One
    shuffle on the 128-bit fingerprint; skew-free by construction.
    """
    return (
        df.select(F.col(id_col), F.md5(normalized_text(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).cast("long").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _first_per_fingerprint(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Rows with a ``__fp`` normalized-text fingerprint column, keeping
    only the min-id row per fingerprint (one skew-free shuffle).  The
    shared within-corpus dedup core of :func:`drop_exact_duplicates` and
    :func:`dedup_against_reference`."""
    from pyspark.sql import Window

    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (
        df.withColumn("__fp", F.md5(normalized_text(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep exactly one representative row (min id) per exact-duplicate
    cluster.  row_number over the fingerprint (one shuffle) rather than a
    semi-join on ids — correct even when id values repeat."""
    return _first_per_fingerprint(df, text_col, id_col).drop("__fp")


def dedup_against_reference(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    ref_text_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-corpus exact dedup: drop rows whose normalized-text
    fingerprint already exists in ``reference`` — the batch operator for
    deduplicating a new crawl against the existing training corpus
    (the batch arm of streaming.incremental_dedup_sink).

    Also dedups within ``df`` itself (first id per fingerprint), so the
    survivors are collision-free both against the reference AND each
    other — appending them to the reference keeps it exact-dup-free.

    Scale: the reference contributes ONE skinny 128-bit fingerprint
    column to a left-anti hash join — at 100 TB read just that column
    (store it materialized, as the incremental sink does); both the
    anti-join and the within-batch row_number shuffle on the skew-free
    fingerprint."""
    ref_fp = reference.select(
        F.md5(normalized_text(ref_text_col or text_col)).alias("__fp")
    ).distinct()
    return (
        _first_per_fingerprint(df, text_col, id_col)
        .join(ref_fp, "__fp", "left_anti")
        .drop("__fp")
    )


def _token_set(text_col: str, pattern: str = r"\s+") -> Column:
    return F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), pattern))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Optional[Sequence[str]] = None,
    round_digits: int = 6,
) -> DataFrame:
    """Exact token-set Jaccard over intra-block pairs (doc_a < doc_b).

    Blocking keys bound the quadratic blow-up; the self-join shuffles once
    on the block key.  For unblocked corpora use :func:`minhash_lsh_pairs`.
    """
    block_cols = list(block_cols or [])
    toks = df.select(
        F.col(id_col), *[F.col(b) for b in block_cols], _token_set(text_col).alias("grams")
    )
    a = toks.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(b).alias(f"__ba_{b}") for b in block_cols],
        F.col("grams").alias("grams_a"),
    )
    b = toks.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(c).alias(f"__bb_{c}") for c in block_cols],
        F.col("grams").alias("grams_b"),
    )
    cond = [F.col(f"__ba_{c}") == F.col(f"__bb_{c}") for c in block_cols]
    cond.append(F.col("doc_a") < F.col("doc_b"))
    # length filter (exact, from the set-similarity-join literature):
    # J(A,B) >= t implies min(|A|,|B|) >= t * max(|A|,|B|), so pairs with
    # a size ratio below t can be rejected BEFORE the expensive
    # array_intersect runs — this prunes inside the join, cutting the
    # per-pair work, and never changes the result set
    if threshold > 0:
        sa, sb = F.size("grams_a"), F.size("grams_b")
        cond.append(sa.cast("double") >= F.lit(threshold) * sb)
        cond.append(sb.cast("double") >= F.lit(threshold) * sa)
    # intersection size materialized once per pair — the inline
    # inter/union form evaluates array_intersect (the expensive part)
    # twice per pair
    joined = a.join(b, on=cond, how="inner").withColumn(
        "__is", F.size(F.array_intersect("grams_a", "grams_b"))
    )
    jac = F.col("__is").cast("double") / (
        F.size("grams_a") + F.size("grams_b") - F.col("__is")
    )
    return (
        joined.where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, round_digits).alias("jaccard"))
    )


def _shingles_of_words(words: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (distinct), from an already
    MATERIALIZED words-array column.

    ``words`` must be a plain column reference, not the split expression:
    a lambda body inlines every expression it references, so an inline
    split would re-tokenize the text once per element access — measured
    9x slower at sf0.1 (6.3s -> 0.7s for the shingle explode).  slice +
    array_join instead of n element_at calls for the same reason: one
    array access per shingle, not n.
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " "))
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out_col: str = "grams"
) -> DataFrame:
    """Project a distinct word-n-gram shingle array onto ``df`` (two-step:
    materialize the words array, then build shingles from the attribute —
    see :func:`_shingles_of_words` for why).

    BOTH projections are wrapped in a ``when(monotonically_increasing_id()
    >= 0, ...)`` guard — semantically a no-op (the id is always >= 0) but
    non-deterministic, which the optimizer may neither push through an
    exchange nor duplicate:

    - words guard: without it the optimizer pushes the whole shingle build
      below a ``repartition``, so a single-file input computes every shingle
      in the one scan task and the repartition parallelizes nothing
      (measured at sf0.1: the scan task carried 2.6s of the 2.9s wall; with
      the guard the same job is 32-way parallel).
    - grams guard: ``InferFiltersFromGenerate`` adds a ``size(grams) > 0``
      filter under the explode; over a deterministic alias it inlines the
      full gram-array build a second time per row (measured ~1.8x CPU).
      Guarded, the filter folds over the stored attribute.

    Net at sf0.1: 2.9s -> 0.74s wall for the minhash signature job.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return (
        df.withColumn(
            "__words", F.when(F.monotonically_increasing_id() >= 0, words)
        )
        .withColumn(
            out_col,
            F.when(
                F.monotonically_increasing_id() >= 0,
                _shingles_of_words(F.col("__words"), n),
            ),
        )
        .drop("__words")
    )


MINHASH_PRIME = 2_147_483_647  # 2^31 - 1; keeps a*h+b < 2^62 (no overflow)


def minhash_params(num_hashes: int = 16, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a, b), a != 0 — fixed so
    signatures are reproducible across engines (the oracle embeds them)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def _minhash_wide(
    df: DataFrame,
    num_hashes: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per document with ``__mh0..__mh{n-1}`` signature columns.

    MinHash via universal hashing: one md5 per shingle -> 60-bit int h,
    then sig_i = min((a_i*h + b_i) mod p).

    Why this shape (measured at sf0.1):
    - ONE md5 per shingle; the per-seed work is integer multiply-add —
      ~16x less hashing than md5 per (shingle, seed);
    - explode -> project-hash-once -> hash-agg: map-side partial
      aggregation collapses each doc to num_hashes longs BEFORE the
      shuffle, so shuffle volume is O(docs), not O(shingles);
    - text corpora often arrive as few large files while this stage is
      compute-bound, so we repartition up to the cluster's parallelism
      first (a ~MB-scale shuffle buying full CPU fan-out; no-op when the
      input is already well-partitioned, i.e. at real scale).

    h = first 15 md5 hex chars as int — identical in DuckDB via
    CAST(CONCAT('0x', SUBSTRING(MD5(g),1,15)) AS BIGINT), which keeps the
    whole pipeline oracle-checkable.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)

    exploded = with_shingles(df, text_col, shingle_n, "__grams").select(
        F.col(id_col), F.explode(F.col("__grams")).alias("g")
    )
    h = (
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long")
        % MINHASH_PRIME
    )
    hashed = exploded.select(F.col(id_col), h.alias("h"))
    params = minhash_params(num_hashes)
    return hashed.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME).alias(f"__mh{i}")
            for i, (a, b) in enumerate(params)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Long-form (doc, seed, mh) minhash signatures — a map-only posexplode
    of the wide per-document row (see :func:`_minhash_wide`)."""
    wide = _minhash_wide(df, num_hashes, shingle_n, text_col, id_col)
    return wide.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"__mh{i}") for i in range(num_hashes)])).alias(
            "seed", "mh"
        ),
    )


def _band_sig_inline(num_hashes: int, bands: int) -> Column:
    """The banded-signature generator shared by the self-join and the
    cross-corpus LSH: one (band, band_sig) row per band, built map-side
    from the wide ``__mh*`` signature row (no (doc, band) re-shuffle).
    ","-joined value-sorted mins: integers need a separator to be
    collision-free in string form, and sorting by value matches
    STRING_AGG(mh, ',' ORDER BY mh) on the oracle side.  ONE definition
    so the two operator variants can never drift from each other (or
    from the shared oracle CTEs)."""
    rows_per_band = num_hashes // bands
    return F.inline(
        F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    F.sort_array(F.array(*[
                        F.col(f"__mh{b * rows_per_band + j}")
                        for j in range(rows_per_band)
                    ])),
                ).alias("band_sig"),
            )
            for b in range(bands)
        ])
    )


def _verify_exact_jaccard(
    cands: DataFrame,
    source: DataFrame,
    left_col: str,
    right_col: str,
    threshold: float,
    text_col: str,
    shingle_n: int,
    id_col: str,
) -> DataFrame:
    """Exact shingle-Jaccard verification of LSH candidate pairs — the
    quantity minhash estimates — shared by both LSH variants.  Shingle
    arrays are recomputed ONLY for docs that appear in a candidate pair
    (semi-join first): the expensive array build + the join input shrink
    from O(corpus) to O(candidates).  No .distinct() on the id union —
    the semi-join's build side is a hash set, so the extra shuffle would
    buy nothing."""
    cand_ids = cands.select(F.col(left_col).alias(id_col)).union(
        cands.select(F.col(right_col).alias(id_col))
    )
    # lazy localCheckpoint: consumed once per pair side below, and each
    # consumer would otherwise re-run the corpus scan -> semi-join ->
    # tokenize subtree; the checkpointed frame is only the candidate-pair
    # members' shingles (O(candidates), tiny next to the corpus).  Lazy so
    # the caller's single action materializes it without a dedicated job.
    sh = with_shingles(
        source.join(cand_ids, id_col, "left_semi"), text_col, shingle_n, "grams"
    ).select(F.col(id_col), F.col("grams")).localCheckpoint(eager=False)
    pairs = (
        cands.join(
            sh.select(F.col(id_col).alias(left_col), F.col("grams").alias("ga")),
            left_col,
        )
        .join(
            sh.select(F.col(id_col).alias(right_col), F.col("grams").alias("gb")),
            right_col,
        )
        .withColumn("__is", F.size(F.array_intersect("ga", "gb")))
    )
    jac = F.col("__is").cast("double") / (F.size("ga") + F.size("gb") - F.col("__is"))
    return pairs.where(jac >= threshold).select(
        left_col, right_col, F.round(jac, 6).alias("jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, verified with exact Jaccard.

    rows/band = num_hashes/bands; docs sharing any band signature become
    candidates (one shuffle on the band key), then exact token-set Jaccard
    filters to >= threshold.  Returns (doc_a, doc_b, jaccard).
    """
    wide = _minhash_wide(df, num_hashes, shingle_n, text_col, id_col)
    # bucket key = xxhash64(band, band_sig): the self-join shuffles an
    # 8-byte long instead of a ","-joined integer string — narrower
    # shuffle bytes, cheaper sort/compare.  A hash collision can only ADD
    # a candidate pair, and every candidate is exact-Jaccard verified
    # below, so the result set is identical (same argument as
    # :func:`jaccard_candidates`'s hashed prefix key).
    banded = wide.select(
        F.col(id_col), _band_sig_inline(num_hashes, bands)
    ).select(F.col(id_col), F.xxhash64("band", "band_sig").alias("__bkey"))
    # the self-join below would otherwise recompute the whole corpus-scan ->
    # hash -> agg DAG for each side; banded is O(docs x bands) tiny rows
    # (~100x smaller than the corpus), so persisting it is the right trade
    # at any scale (MEMORY_AND_DISK spills rather than OOMs)
    banded = banded.persist()
    left = banded.select(F.col(id_col).alias("doc_a"), "__bkey")
    right = banded.select(F.col(id_col).alias("doc_b"), "__bkey")
    cands = (
        left.join(right, on=["__bkey"], how="inner")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        # consumed by three frames below (two shingle semi-joins + the
        # verify join) — persist instead of recomputing the bucket shuffle
        .persist()
    )
    return _verify_exact_jaccard(
        cands, df, "doc_a", "doc_b", threshold, text_col, shingle_n, id_col
    )


def _ordered_grams(base: DataFrame, id_col: str, order: str) -> DataFrame:
    """(id, grams) with each doc's shingle array re-sorted under the global
    total order the prefix filters truncate against — shared by
    :func:`jaccard_join` and :func:`containment_join` (pruning power only;
    the ordering must never change either join's result set, which both
    property tests pin).  ``"lex"`` is free; ``"frequency"`` (AllPairs
    document-frequency ascending, ties lexicographic) costs one token-count
    window and buys hot-shingle prefix immunity.

    The document frequency is attached with one window,
    ``COUNT() OVER (PARTITION BY __tok)``: one full occurrence exchange,
    no second pass over the grams.  Accepted exposure: a corpus-wide
    boilerplate shingle routes its whole posting list through one
    reducer, and AQE can split neither a window nor an aggregate (its
    skew handling covers joins only), the same trade ``text.tfidf``, the
    bigram LM and ``repeated_spans`` accept.  The measured alternative,
    a two-phase count attached by a salted join, is in
    OPTIMIZATION_r12.md §1: on one 3-gram in 30% of 40k docs it cut the
    worst max/median shuffle-read from 5.16 to 1.89, and it ran 25–35%
    slower at bench scale.
    """
    if order == "frequency":
        from pyspark.sql import Window

        tok = base.select(F.col(id_col), F.explode("grams").alias("__tok"))
        tokf = tok.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("__tok"))
        )
        return tokf.groupBy(id_col).agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__df", "__tok"))),
                lambda s: s["__tok"],
            ).alias("grams")
        )
    if order == "lex":
        return base.select(F.col(id_col), F.sort_array("grams").alias("grams"))
    from ..errors import BallistaError

    raise BallistaError(
        f"unknown prefix order {order!r}: expected 'lex' or 'frequency'"
    )


def jaccard_candidates(
    sh: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs for :func:`jaccard_join` from an
    ordered-grams frame ``sh`` (``(id_col, grams)``, grams sorted under
    one global total order): prefix explode, ONE equi-join on the shingle
    key with the AllPairs length filter and the PPJoin positional filter
    applied INSIDE the join, then distinct.

    Shared by the operator and the deterministic candidate-count tests,
    so the pruning facts pinned by the tests are facts about the SHIPPED
    pipeline, not a white-box replica.

    - AllPairs length filter: J(A,B) >= t forces |A∩B| >= t|A∪B| with
      |A∩B| <= min(|A|,|B|) and |A∪B| >= max, so min >= t*max — i.e.
      t|A| <= |B| <= |A|/t; Catalyst keeps __tok as the equi-join key and
      applies the size predicate inside the join, before the distinct.
    - PPJoin positional filter: with 0-based prefix positions pa/pb, the
      first-shared-token overlap bound 1 + min(na-(pa+1), nb-(pb+1))
      simplifies to min(na-pa, nb-pb); it must reach the Jaccard overlap
      requirement t/(1+t) * (na+nb) (1e-6 slack so double rounding can
      only UNDER-prune, never drop a boundary pair).
    """
    plen = (
        F.size("grams")
        - F.ceil(F.lit(threshold) * F.size("grams")).cast("int")
        + F.lit(1)
    )
    # join on xxhash64(shingle), not the string: an 8-byte fixed-width key
    # shuffles, sorts and compares far cheaper than a multi-word shingle
    # (guide: shuffle fewer/narrower bytes; measured 2.43s -> 1.68s on the
    # sf0.1 candidate join).  RESULT-IDENTICAL: a hash collision can only
    # ADD a candidate occurrence (shared token => shared hash, so every
    # occurrence the prefix-filter completeness proof relies on is still
    # emitted; the positional bound depends only on positions/sizes), and
    # every candidate is exact-verified downstream, so false candidates
    # cost a verify row, never a result row.
    pref = sh.select(
        F.col(id_col),
        F.size("grams").alias("__n"),
        F.posexplode(F.slice("grams", F.lit(1), plen)).alias("__pos", "__tok0"),
    ).select(
        id_col, "__n", "__pos", F.xxhash64("__tok0").alias("__tok")
    )
    pa = pref.select(
        F.col(id_col).alias("doc_a"),
        F.col("__n").alias("__na"),
        F.col("__pos").alias("__pa"),
        "__tok",
    )
    pb = pref.select(
        F.col(id_col).alias("doc_b"),
        F.col("__n").alias("__nb"),
        F.col("__pos").alias("__pb"),
        "__tok",
    )
    ub = F.least(
        F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
    ).cast("double")
    alpha = F.lit(threshold / (1.0 + threshold)) * (
        F.col("__na") + F.col("__nb")
    ).cast("double")
    cond = (
        (pa["__tok"] == pb["__tok"])
        & (F.col("__nb").cast("double") >= F.lit(threshold) * F.col("__na"))
        & (F.col("__na").cast("double") >= F.lit(threshold) * F.col("__nb"))
        & (ub >= alpha - F.lit(1e-6))
    )
    return (
        pa.join(pb, cond)
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _overlap_prefilter(
    cands: DataFrame,
    sh: DataFrame,
    id_col: str,
    required_overlap,
) -> DataFrame:
    """Drop candidate pairs that provably cannot reach ``required_overlap``
    shared shingles WITHOUT touching the string arrays — the exact
    ``array_intersect`` over multi-word shingle STRINGS is the dominant
    verify cost (measured 2.2 s vs 0.6 s on hashed longs for the sf0.1
    containment candidates), and ~99.7% of candidates fail the threshold,
    so an integer-array prefilter pays for itself many times over.

    Per doc (computed once off the checkpointed ``sh``): ``__h`` =
    xxhash64 of each gram, and guard ``__hok`` = "the hash map is
    injective on this doc's gram set".  When both docs' guards hold,
    every shared gram contributes a distinct shared hash, so
    ``|array_intersect(ha, hb)| >= |A∩B|`` and the prefilter keeps a
    SUPERSET of every pair the exact verify can accept (1e-6 slack so
    double rounding can only under-prune).  A doc with an internal hash
    collision (probability ~2^-64) bypasses the prefilter entirely —
    the exact string verify downstream still decides every surviving
    pair, so the result set is identical by construction.

    ``required_overlap``: Column over ``__na``/``__nb`` (the raw gram
    array sizes) giving the minimum |A∩B| the join's threshold implies.
    """
    hsh = sh.select(
        F.col(id_col),
        F.size("grams").alias("__n"),
        F.transform("grams", lambda g: F.xxhash64(g)).alias("__h"),
        F.size(F.array_distinct("grams")).alias("__nd"),
    ).select(
        id_col,
        "__n",
        "__h",
        (F.size(F.array_distinct("__h")) == F.col("__nd")).alias("__hok"),
    )
    ha = hsh.select(
        F.col(id_col).alias("doc_a"),
        F.col("__n").alias("__na"),
        F.col("__h").alias("__ha"),
        F.col("__hok").alias("__oka"),
    )
    hb = hsh.select(
        F.col(id_col).alias("doc_b"),
        F.col("__n").alias("__nb"),
        F.col("__h").alias("__hb"),
        F.col("__hok").alias("__okb"),
    )
    his = F.size(F.array_intersect("__ha", "__hb")).cast("double")
    keep = (
        (~F.col("__oka"))
        | (~F.col("__okb"))
        | (his >= required_overlap - F.lit(1e-6))
    )
    return (
        cands.join(ha, "doc_a").join(hb, "doc_b").where(keep)
        .select("doc_a", "doc_b")
    )


def jaccard_join(
    df: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
    order: str = "lex",
) -> DataFrame:
    """EXACT set-similarity self-join: ALL pairs with shingle Jaccard >=
    threshold — no misses, unlike :func:`minhash_lsh_pairs` — via prefix
    filtering (Bayardo et al., "Scaling Up All Pairs Similarity Search",
    WWW'07): with shingles in a global total order, J(A,B) >= t implies
    |A∩B| >= ceil(t*|A|), and two sets with overlap >= a must share a
    token within the first |A|-a+1 of each — so emitting only each doc's
    first ``|grams| - ceil(t*|grams|) + 1`` sorted shingles and
    equi-joining on the shingle yields a candidate SUPERSET of every
    qualifying pair, each then verified with exact Jaccard.

    Returns (doc_a, doc_b, jaccard), doc_a < doc_b.

    Scale shape: one map-side sort per doc, a prefix explode emitting
    ~(1-t)|grams|+1 rows per doc, ONE equi-join shuffled on the shingle
    key with the AllPairs LENGTH filter applied inside the join
    (J >= t forces t|A| <= |B| <= |A|/t, so mismatched-size candidates
    drop before the distinct), then the semi-join-pruned exact verify —
    candidate volume is bounded by shared-prefix-token pairs of
    compatible size, never n^2.

    ``order`` picks the global total order the prefixes are taken under —
    it changes PRUNING POWER only, never the result set:
    - ``"lex"`` (default): lexicographic; zero extra passes.
    - ``"frequency"``: corpus document-frequency ascending (rarest
      first, ties lexicographic) — the AllPairs-paper ordering.  Costs
      one token-count aggregate + one re-sort join, and buys the skew
      cure: prefixes hold each doc's RAREST shingles, so a corpus-wide
      boilerplate shingle (the hot reducer key AND the candidate-pair
      explosion under "lex") is pushed out of every prefix that has
      anything rarer.  The right setting for any real crawl corpus.

    On top of the prefix + length filters sits the PPJoin positional
    filter (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW'08) — result-identical pruning: a qualifying pair's
    FIRST shared token (positions i in A, j in B, 1-based, same global
    order, no shared token before it) bounds the overlap by
    ``1 + min(|A|-i, |B|-j)``, which must reach the Jaccard overlap
    requirement ``t/(1+t) * (|A|+|B|)``; candidate occurrences whose
    positions bound the overlap below that can never be a pair's first
    shared token AND qualify, so dropping them keeps the
    first-shared-token occurrence of every qualifying pair (the bound is
    relaxed by 1e-6 so double rounding can only under-prune).
    """
    base = with_shingles(df, text_col, shingle_n, "grams").select(
        F.col(id_col), F.col("grams")
    )
    # consumed by both prefix sides; localCheckpoint (lazy, see the
    # module note), not persist:
    # it materializes the scan -> tokenize -> shingle (-> frequency
    # re-sort) DAG exactly once and the ContextCleaner reclaims it when
    # the result frame is GC'd — a plain persist() registers in the
    # CacheManager forever, so repeated calls in a long-lived session
    # accumulate cached frames with no release path (same reasoning as
    # triangle_count's checkpoints)
    sh = _ordered_grams(base, id_col, order).localCheckpoint(eager=False)
    cands = jaccard_candidates(sh, threshold, id_col=id_col)
    # hashed-overlap prefilter before the exact verify: J >= t forces
    # |A∩B| >= t/(1+t) * (|A|+|B|); candidates provably below that bound
    # (on the cheap integer-hash arrays) never reach the string
    # array_intersect — see _overlap_prefilter for the result-identity
    # argument
    cands = _overlap_prefilter(
        cands,
        sh,
        id_col,
        F.lit(threshold / (1.0 + threshold))
        * (F.col("__na") + F.col("__nb")).cast("double"),
    )
    # verify against the ALREADY-checkpointed shingle frame instead of
    # re-tokenizing candidate docs from the source (what the LSH variants
    # must do, since they only hold signatures): Jaccard is order-blind,
    # so the re-sorted grams are the same SET — two broadcast-sized joins
    # against sh replace a full tokenize pass (containment_join's shape)
    pairs = (
        cands.join(
            sh.select(F.col(id_col).alias("doc_a"), F.col("grams").alias("ga")),
            "doc_a",
        )
        .join(
            sh.select(F.col(id_col).alias("doc_b"), F.col("grams").alias("gb")),
            "doc_b",
        )
        .withColumn("__is", F.size(F.array_intersect("ga", "gb")))
    )
    jac = F.col("__is").cast("double") / (
        F.size("ga") + F.size("gb") - F.col("__is")
    )
    return pairs.where(jac >= threshold).select(
        "doc_a", "doc_b", F.round(jac, round_digits).alias("jaccard")
    )


def containment_join(
    df: DataFrame,
    threshold: float = 0.9,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
    order: str = "lex",
) -> DataFrame:
    """EXACT containment self-join: every DIRECTED pair (doc_a, doc_b)
    with shingle containment C(A→B) = |A∩B| / |A| >= threshold — the
    asymmetric set-similarity that symmetric Jaccard structurally misses:
    a short document quoted whole inside a long one has high containment
    but a Jaccard diluted toward |A|/|B| (→0 as B grows), so the
    quote-inclusion / subset-duplicate class survives every
    Jaccard-thresholded dedup pass.  The training-data use is boilerplate
    and wholesale-quotation pruning (Lee et al.'s exact-substring work
    motivates the same signal at the substring level; this is the
    set-level operator).

    Prefix filter (one-sided, the standard containment adaptation of
    Bayardo et al.'s AllPairs): |A∩B| >= a = ceil(t*|A|) implies A shares
    a shingle within its first |A| - a + 1 SORTED shingles with B's FULL
    set — if none of those first |A|-a+1 were shared, at most a-1 of A's
    remaining shingles could be, a contradiction.  So the contained side
    explodes only its prefix, the container side explodes everything, one
    equi-join on the shingle key yields a provable candidate SUPERSET,
    and exact |A∩B|/|A| verifies.  Returns (doc_a, doc_b, containment),
    doc_a != doc_b, doc_a the contained side; mutual near-equality
    legitimately emits both directions.

    Scale shape: the full-side explode is the same row volume the
    tokenize stage already produced (one row per distinct shingle per
    doc); candidates shuffle ONCE on the shingle key and are bounded by
    sum_token(prefix_df(token) * df(token)), never n^2.

    ``order`` picks the global total order the PREFIXES are taken under
    (pruning power only, never the result set — same contract as
    :func:`jaccard_join`): ``"lex"`` (default, zero extra passes) or
    ``"frequency"`` (document-frequency ascending, AllPairs ordering) —
    the skew cure for a corpus-wide boilerplate shingle, which under lex
    stays in hot prefixes and fans out against the FULL side's postings
    for that shingle; rarest-first pushes it out of every prefix that
    has anything rarer.

    The PPJoin positional filter (Xiao et al., WWW'08) is applied too,
    adapted to the one-sided case: a qualifying pair's FIRST
    shared token (positions i in A's prefix, j in B's full sorted set,
    1-based, nothing shared before it) bounds the overlap by
    ``1 + min(|A|-i, |B|-j)``, which must reach the containment overlap
    requirement ``t * |A|``; occurrences below the (1e-6-relaxed) bound
    can never be a qualifying pair's first shared token, so dropping
    them is result-identical pruning — it cuts exactly the hot-posting
    fan-out where a large container shares only late tokens."""
    base = with_shingles(df, text_col, shingle_n, "grams").select(
        F.col(id_col), F.col("grams")
    )
    # consumed by the prefix side, the full side, and the verify stage;
    # localCheckpoint (lazy, see the module note), not persist — see
    # jaccard_join: the
    # ContextCleaner reclaims the checkpoint on GC, where a persist()
    # would leak CacheManager entries across repeated batch calls
    sh = _ordered_grams(base, id_col, order).localCheckpoint(eager=False)
    plen = (
        F.size("grams")
        - F.ceil(F.lit(threshold) * F.size("grams")).cast("int")
        + F.lit(1)
    )
    # hashed join key — same argument as :func:`jaccard_candidates`: a
    # collision only adds a candidate, the exact containment verify below
    # decides membership, so the result set is identical while the join
    # key drops from a multi-word string to 8 fixed bytes
    pref = sh.select(
        F.col(id_col).alias("doc_a"),
        F.size("grams").alias("__na"),
        F.posexplode(F.slice("grams", F.lit(1), plen)).alias("__pa", "__tok0"),
    ).select("doc_a", "__na", "__pa", F.xxhash64("__tok0").alias("__tok"))
    full = sh.select(
        F.col(id_col).alias("doc_b"),
        F.size("grams").alias("__nb"),
        F.posexplode("grams").alias("__pb", "__tok0"),
    ).select("doc_b", "__nb", "__pb", F.xxhash64("__tok0").alias("__tok"))
    # size filter INSIDE the join: |A∩B| >= ceil(t|A|) needs |B| >= t|A|,
    # so undersized containers drop before the candidate distinct — the
    # containment analogue of the set-similarity length filter.  Then the
    # one-sided PPJoin positional filter: first-shared-token overlap
    # bound min(na-pa, nb-pb) (0-based positions) must reach the
    # containment overlap requirement t*na (1e-6 slack: double rounding
    # can only under-prune)
    ub = F.least(
        F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
    ).cast("double")
    cond = (
        (pref["__tok"] == full["__tok"])
        & (F.col("__nb").cast("double") >= F.lit(threshold) * F.col("__na"))
        & (ub >= F.lit(threshold) * F.col("__na").cast("double") - F.lit(1e-6))
    )
    cands = (
        pref.join(full, cond)
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # hashed-overlap prefilter before the exact verify: C(A->B) >= t
    # forces |A∩B| >= t * |A|; candidates provably below that bound (on
    # the cheap integer-hash arrays) never reach the string
    # array_intersect — see _overlap_prefilter for the result-identity
    # argument
    cands = _overlap_prefilter(
        cands, sh, id_col, F.lit(threshold) * F.col("__na").cast("double")
    )
    pairs = (
        cands.join(
            sh.select(F.col(id_col).alias("doc_a"), F.col("grams").alias("ga")),
            "doc_a",
        )
        .join(
            sh.select(F.col(id_col).alias("doc_b"), F.col("grams").alias("gb")),
            "doc_b",
        )
        .withColumn("__is", F.size(F.array_intersect("ga", "gb")))
    )
    cont = F.col("__is").cast("double") / F.size("ga")
    return pairs.where(cont >= threshold).select(
        "doc_a", "doc_b", F.round(cont, round_digits).alias("containment")
    )


def lsh_recall(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Measured pair-recall of banded MinHash-LSH against the EXACT
    shingle-Jaccard ground truth — the dedup arm of the eval_ann_recall
    pattern: the measurement itself is an oracle-checkable dataflow, so a
    driver hash certifies the reported recall, not just that some number
    came out.

    Returns ONE row ``(n_true, n_found, recall)``: truth = every pair with
    exact shingle Jaccard >= threshold, computed by :func:`jaccard_join`
    (prefix-filtered EXACT join — shuffle-bounded, so the measurement
    itself scales; 5000 docs at sf0.1 dropped 472s -> seconds vs the
    nested-loop all-pairs truth this replaced); found = the subset that
    :func:`minhash_lsh_pairs` (same shingles, same threshold) surfaces.
    The verify stage makes the LSH output a subset of truth, so recall is
    a plain count ratio and misses are exactly the band-collision misses.
    ``recall`` is NULL when the corpus has no true pairs."""
    truth = jaccard_join(
        df, threshold, shingle_n, text_col, id_col
    ).select("doc_a", "doc_b")
    found = minhash_lsh_pairs(
        df, num_hashes, bands, shingle_n, threshold, text_col, id_col
    ).select("doc_a", "doc_b", F.lit(1).alias("__hit"))
    n_true = F.count(F.lit(1))
    n_found = F.coalesce(F.sum("__hit"), F.lit(0))
    return (
        truth.join(found, ["doc_a", "doc_b"], "left")
        .agg(
            n_true.cast("long").alias("n_true"),
            n_found.cast("long").alias("n_found"),
            F.when(
                n_true > 0, F.round(n_found.cast("double") / n_true, 6)
            ).alias("recall"),
        )
    )


_SIMHASH_BITS = 60  # 15 hex chars of md5 -> 60 hash bits per token


def simhash64(text_col: str = "text", n_bits: int = _SIMHASH_BITS) -> Column:
    """SimHash from word tokens, via md5-derived per-token bits.

    Token hash = first 15 hex chars of md5 (60 bits, fits a signed long).
    Bit i of the simhash is the sign of sum over tokens of
    (bit i set ? +1 : -1).  Shift amounts must be literals in the Column
    API, so the n_bits votes unroll into one codegen'd expression —
    JVM-side, no UDF, no shuffle.
    """
    words = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    tok_hash = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    )
    return simhash_of_hashes(tok_hash, n_bits)


def simhash_of_hashes(tok_hash: Column, n_bits: int = _SIMHASH_BITS) -> Column:
    """SimHash from a column of 60-bit token hashes (array<long>).

    Pass a MATERIALIZED column reference: every per-bit vote aggregate
    inlines the expression it folds over, so handing it the raw
    split+md5 transform would recompute all token md5s once per bit
    (n_bits x waste — measured 40x slower at sf0.1).  simhash_buckets
    does the two-projection dance.
    """
    def bit_vote(i: int) -> Column:
        # closure factory keeps the merge lambda strictly binary — pyspark
        # dispatches higher-order lambdas on parameter count
        return F.aggregate(
            tok_hash,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    sim = F.lit(0).cast("long")
    for i in range(n_bits):
        sim = sim + F.when(bit_vote(i) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sim


def simhash_buckets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", prefix_bits: int = 16
) -> DataFrame:
    """SimHash per doc + a bucket key (top ``prefix_bits`` bits) for
    candidate grouping; docs in one bucket are near-dup candidates.

    Token md5s are materialized in a projection of their own so the 60
    per-bit vote aggregates fold over the stored array instead of each
    re-hashing every token (see :func:`simhash_of_hashes`)."""
    words = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    hashed = df.withColumn("__w", words).withColumn(
        "__th",
        F.transform(
            F.col("__w"),
            lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"),
        ),
    )
    return (
        hashed.select(
            F.col(id_col), simhash_of_hashes(F.col("__th")).alias("simhash")
        )
        # separate projection: referencing the simhash attribute keeps the
        # 60-aggregate vote tree single-evaluated (it would be duplicated
        # if built inline for both output columns)
        .withColumn(
            "bucket", F.shiftright(F.col("simhash"), _SIMHASH_BITS - prefix_bits)
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_cols: Optional[Sequence[str]] = None,
    round_digits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within blocks (doc_a < doc_b).

    Norms are projected per SIDE before the join (n rows), not per pair
    (up to n^2/blocks rows) — the inline cosine form folds each vector
    three times per pair."""
    from .similarity import dot, norm

    block_cols = list(block_cols or [])
    normed = df.withColumn("__n", norm(F.col(vec_col)))
    a = normed.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(b).alias(f"__ba_{b}") for b in block_cols],
        F.col(vec_col).alias("va"),
        F.col("__n").alias("__na"),
    )
    b = normed.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(c).alias(f"__bb_{c}") for c in block_cols],
        F.col(vec_col).alias("vb"),
        F.col("__n").alias("__nb"),
    )
    cond = [F.col(f"__ba_{c}") == F.col(f"__bb_{c}") for c in block_cols]
    cond.append(F.col("doc_a") < F.col("doc_b"))
    sim = dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))
    return (
        a.join(b, on=cond, how="inner")
        .withColumn("cos_sim", F.round(sim, round_digits))
        .where(F.col("cos_sim") >= threshold)
        .select("doc_a", "doc_b", "cos_sim")
    )


def winnow_jaccard_pairs(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    threshold: tuple[int, int] = (1, 2),
    max_df: Optional[int] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by Jaccard over winnowing fingerprints (the MOSS /
    plagiarism-detection recipe): substring-level similarity that
    token-shingle MinHash misses when duplication is sub-sentence.

    Candidate generation is an INVERTED-INDEX equi-join on the
    fingerprint (never all-pairs): docs sharing zero fingerprints never
    meet, and any shared substring of length >= k+window-1 guarantees a
    shared fingerprint, so recall at that granularity is structural, not
    probabilistic.  ``threshold`` is a rational (num, den); the filter
    compares ``den * |A∩B| >= num * |A∪B|`` in exact integer arithmetic,
    so the cut is bit-identical across engines (a float >= on a ratio
    would flip boundary pairs between Spark and the DuckDB oracle).

    ``max_df`` drops fingerprints present in more than that many docs
    before pairing — the stop-substring guard: a boilerplate fragment
    shared by 10^6 docs would otherwise emit 10^12 candidate pairs.
    Dropping it costs recall only on pairs whose ENTIRE overlap is
    boilerplate, which are not dups worth keeping anyway.

    Scale: fingerprinting is the winnow_fingerprints shape (skinny
    position rows, one window shuffle per doc); the pair join shuffles
    (fp, doc) rows — O(fingerprints), with hot fingerprints removed by
    max_df; per-doc sizes attach via two equi-joins on the id.
    """
    from .text import winnow_fingerprints

    num, den = threshold
    fps = winnow_fingerprints(df, k=k, window=window, text_col=text_col, id_col=id_col)
    if max_df is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_df)
            .select("fp")
        )
        fps = fps.join(hot, "fp", "left_anti")
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    a = fps.select(F.col(id_col).alias("doc_a"), "fp")
    b = fps.select(F.col(id_col).alias("doc_b"), "fp")
    shared = (
        a.join(b, on=[a.fp == b.fp, F.col("doc_a") < F.col("doc_b")])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("__n").alias("__nb"))
    union_n = F.col("__na") + F.col("__nb") - F.col("n_shared")
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.col("n_shared") * den >= num * union_n)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(F.col("n_shared") / union_n.cast("double"), 6).alias("jaccard"),
        )
    )


def survivor_selection(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Policy-based survivor selection over duplicate clusters: close the
    near-dup ``pairs`` into connected components, then keep exactly one
    document per cluster — the HIGHEST ``score_col`` (ties to the lowest
    id), instead of the naive keep-lowest-id rule.  This is how production
    dedup keeps the longest / best-quality copy of each duplicate family
    rather than an arbitrary one.

    Returns every input document with ALL its original columns plus
    ``(component, keep)``; docs in no pair form their own singleton
    component and are always kept, so ``filter(keep)`` is the
    deduplicated corpus — no re-join needed to recover document
    attributes downstream.

    Scale shape: the transitive closure is the iterative join/agg of
    operators/graph.py (minlabel: O(diameter) rounds — never a driver
    collect); the label attach is one left join on the doc id; the
    argmax-per-cluster is a single window shuffle keyed by component.
    Near-dup components are small and singletons dominate, so the window
    partitioning is near-diagonal — skew is bounded by the largest
    duplicate family, not the corpus.
    """
    from pyspark.sql import Window

    from .graph import connected_components

    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    labeled = docs.join(
        cc, docs[id_col] == cc["node"], "left"
    ).select(
        docs["*"],
        F.coalesce(cc["component"], docs[id_col]).alias("component"),
    )
    w = Window.partitionBy("component").orderBy(F.desc(score_col), F.asc(id_col))
    return labeled.withColumn("keep", F.row_number().over(w) == 1)


def novel_against_reference_prefiltered(
    candidates: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    prefix_chars: int = 6,
) -> DataFrame:
    """Cross-corpus novelty (candidates NOT present in the reference
    corpus) with a bloom-style two-stage prune — the 100 TB shape of
    :func:`dedup_against_reference` when the reference itself is huge.

    Stage 1 (map-side): the reference collapses to its DISTINCT
    ``prefix_chars``-hex fingerprint prefixes — bounded by 16^prefix
    rows (16M at 6 chars) REGARDLESS of reference size, so it always
    broadcasts.  A candidate whose prefix misses the set is definitely
    novel and never enters a shuffle: exactly a Bloom-filter membership
    prune (prefix bits = the hash; zero false negatives, false positives
    = prefix collisions).
    Stage 2 (exact confirm): only prefix-colliding candidates — the tiny
    maybe-duplicate fraction — anti-join the full reference fingerprints
    on the shuffle path, eliminating the false positives.

    Result is therefore EXACT (identical to the plain anti-join the
    oracle runs); the two stages only change where the work happens:
    ~all of the 100 TB candidate side resolves map-side against the
    broadcast, and the exchange carries only colliding fingerprints.

    Cost shape, stated honestly: the branch-and-union form scans the
    candidate side TWICE (once per branch, one md5 per row per pass) —
    unavoidable without caching, because no single exchange-based join
    can both route no-hit rows straight to output and shuffle hit rows.
    That trade is deliberate for the 100 TB regime, where shuffle bytes
    dominate columnar scan cost; at cache-friendly scale, localCheckpoint
    the candidate frame before calling if the double scan matters.
    """
    # SAME normalized fingerprint as dedup_against_reference — the two
    # must agree on what "duplicate" means, or swapping to this scale
    # shape would silently change dedup results (review-pass fix: this
    # hashed RAW text while the sibling hashed normalized text, so a
    # case/whitespace variant was "duplicate" there and "novel" here)
    fp = F.md5(normalized_text(text_col))
    cand = candidates.withColumn("__fp", fp).withColumn(
        "__pfx", F.substring(F.col("__fp"), 1, prefix_chars)
    )
    ref_fp = reference.select(fp.alias("__fp"))
    ref_pfx = ref_fp.select(
        F.substring(F.col("__fp"), 1, prefix_chars).alias("__pfx")
    ).distinct()
    # one broadcast marker join expresses both the anti (miss) and semi
    # (hit) routes; Spark reuses the identical broadcast exchange subtree
    marked = cand.join(
        F.broadcast(ref_pfx.withColumn("__hit", F.lit(True))), "__pfx", "left"
    )
    definitely_novel = marked.where(F.col("__hit").isNull())
    confirmed_novel = marked.where(F.col("__hit").isNotNull()).join(
        ref_fp, "__fp", "left_anti"
    )
    return (
        definitely_novel.unionByName(confirmed_novel)
        .drop("__hit", "__fp", "__pfx")
    )


def minhash_lsh_pairs_against(
    batch: DataFrame,
    reference: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-corpus NEAR-dup detection: banded MinHash-LSH candidates
    between a new ``batch`` and an existing ``reference`` corpus, verified
    with exact shingle Jaccard — the near-duplicate upgrade of
    :func:`dedup_against_reference` (which only catches exact fingerprints).
    Returns ``(doc_id, ref_id, jaccard)``: batch docs with a reference
    near-dup at or above the threshold (anti-join the batch against the
    distinct ``doc_id`` output to keep only novel docs).

    Ids may OVERLAP between the two frames: the pipeline keys every
    internal stage on a composite (side, id) string — exactly how the
    SQL oracle keys its CTEs — so a batch doc reusing a stored id never
    merges signatures with its namesake (a raw-id grouping would form a
    spurious self-candidate and silently drop the genuinely novel doc).
    Scale shape is the self-join variant's, asymmetric: ONE signature
    pipeline over the union (map-side partial collapse to num_hashes
    longs per doc), the candidate join shuffles band keys with the
    batch side usually tiny (AQE broadcasts it), and the exact verify
    recomputes shingles only for candidate-pair members.  At steady
    state, persist the reference's banded signatures once and reuse
    them across batches.
    """
    key = F.concat(F.col("__side"), F.lit(":"), F.col(id_col).cast("string"))
    tagged = (
        batch.select(F.col(id_col), F.col(text_col))
        .withColumn("__side", F.lit("n"))
        .unionByName(
            reference.select(F.col(id_col), F.col(text_col)).withColumn(
                "__side", F.lit("r")
            )
        )
        .withColumn("__key", key)
    )
    wide = _minhash_wide(tagged, num_hashes, shingle_n, text_col, "__key")
    # hashed bucket key — same exact-verify argument as the self-join
    banded = (
        wide.select(F.col("__key"), _band_sig_inline(num_hashes, bands))
        .select(F.col("__key"), F.xxhash64("band", "band_sig").alias("__bkey"))
        .persist()
    )
    is_n = F.col("__key").startswith("n:")
    cands = (
        banded.where(is_n)
        .select(F.col("__key").alias("__nk"), "__bkey")
        .join(
            banded.where(~is_n).select(F.col("__key").alias("__rk"), "__bkey"),
            ["__bkey"],
        )
        .select("__nk", "__rk")
        .distinct()
        .persist()
    )
    verified = _verify_exact_jaccard(
        cands,
        tagged.select(F.col("__key"), F.col(text_col)),
        "__nk",
        "__rk",
        threshold,
        text_col,
        shingle_n,
        "__key",
    )
    # map composite keys back to the ORIGINAL ids (and their types)
    ids = tagged.select("__key", F.col(id_col))
    return (
        verified.join(ids.select(F.col("__key").alias("__nk"),
                                 F.col(id_col).alias("doc_id")), "__nk")
        .join(ids.select(F.col("__key").alias("__rk"),
                         F.col(id_col).alias("ref_id")), "__rk")
        .select("doc_id", "ref_id", "jaccard")
    )


def fuzzy_levenshtein_pairs(
    left: DataFrame,
    right: Optional[DataFrame] = None,
    max_dist: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Optional[Sequence[str]] = None,
    block_prefix: int = 16,
) -> DataFrame:
    """Edit-distance near-dup pairs ``(doc_a, doc_b, dist)`` with
    ``dist = levenshtein(text_a, text_b) <= max_dist`` — the
    character-level fuzzy join (OCR noise, trailing-boilerplate variants,
    typo dupes) that token-set Jaccard misses when a single word changes
    spelling.

    Self-join when ``right`` is None (``doc_a < doc_b``), cross-corpus
    otherwise (left ids -> doc_a).

    Scale shape (never all-pairs):

    - **blocking**: candidates must agree on every ``block_cols`` value
      AND on a ``block_prefix``-char signature of the text — taken from
      BOTH ends (head prefix, and head-of-reversed for the tail), two
      block joins unioned then de-duplicated, so an edit confined to one
      end of the document still pairs via the other end's key.  Like LSH
      banding this is a recall contract, not exactness: a pair edited at
      both ends within ``max_dist`` total can be missed (documented;
      raise ``block_prefix`` or add ``block_cols`` to trade recall vs
      candidate volume).
    - **length filter**: ``|len(a) - len(b)| <= max_dist`` inside the
      join condition (a true levenshtein bound — never drops a real
      pair) prunes candidates before the O(len^2) verify.
    - **bounded verify**: the threshold form ``levenshtein(a, b,
      max_dist)`` abandons the DP early (returns -1) once the distance
      provably exceeds the bound, so verify cost is O(len * max_dist)
      per candidate, not O(len^2).

    ``max_dist`` must be non-negative (``dist = 0`` = exact duplicate).
    """
    if max_dist < 0:
        from ..errors import BallistaError

        raise BallistaError(
            f"fuzzy_levenshtein_pairs: max_dist must be >= 0, got {max_dist}"
        )
    if block_prefix < 1:
        from ..errors import BallistaError

        raise BallistaError(
            f"fuzzy_levenshtein_pairs: block_prefix must be >= 1, got {block_prefix}"
        )
    block_cols = list(block_cols or [])
    self_join = right is None
    right = left if self_join else right

    def side(df: DataFrame, tag: str, key: Column) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"doc_{tag}"),
            F.col(text_col).alias(f"text_{tag}"),
            F.length(text_col).alias(f"len_{tag}"),
            *[F.col(c).alias(f"__b{tag}_{c}") for c in block_cols],
            key.alias(f"__k_{tag}"),
        )

    head = lambda c: F.substring(F.col(c), 1, block_prefix)  # noqa: E731
    tail = lambda c: F.substring(F.reverse(F.col(c)), 1, block_prefix)  # noqa: E731

    out = None
    for keyer in (head, tail):
        a = side(left, "a", keyer(text_col))
        b = side(right, "b", keyer(text_col))
        cond = [F.col("__k_a") == F.col("__k_b")]
        cond += [
            F.col(f"__ba_{c}") == F.col(f"__bb_{c}") for c in block_cols
        ]
        cond.append(F.col("doc_a") < F.col("doc_b") if self_join else F.lit(True))
        cond.append(
            F.abs(F.col("len_a") - F.col("len_b")) <= F.lit(max_dist)
        )
        cands = a.join(b, on=cond, how="inner").select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("text_a"), F.col("text_b"), max_dist).alias(
                "dist"
            ),
        )
        out = cands if out is None else out.unionByName(cands)
    return (
        out.where(F.col("dist") >= 0)
        .groupBy("doc_a", "doc_b")
        .agg(F.min("dist").cast("int").alias("dist"))
    )


def fuse_records(
    df: DataFrame,
    cluster_col: str,
    id_col: str = "doc_id",
    longest_col: Optional[str] = None,
    max_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    mode_cols: Sequence[str] = (),
) -> DataFrame:
    """Record fusion ("golden record"): collapse each duplicate cluster
    to ONE representative row with field-level survivorship rules — the
    step after clustering (exact_clusters / survivor_selection /
    connected components) when the pipeline wants a merged record
    instead of just a kept id:

    - ``longest_col``: keep the value from the cluster's LONGEST text
      (ties -> lowest ``id_col``) — the usual rule for the document body;
    - ``max_cols`` / ``min_cols``: per-field max/min (freshest
      timestamp, earliest crawl, highest score);
    - ``mode_cols``: the most frequent value in the cluster (ties ->
      lexicographically smallest) — the consensus rule for labels.

    Output: ``(cluster_col, n_members, <longest_col>, <maxs>, <mins>,
    <modes>)``.  Every rule is deterministic under ties, so the fused
    table is reproducible across partitionings and oracle-checkable.

    Scale: one window per rule family partitioned by the cluster key
    (skew bounded by the largest duplicate family — same bound as
    survivor_selection) plus one final per-cluster aggregate; no
    cross-cluster traffic.
    """
    from pyspark.sql import Window

    c = F.col(cluster_col)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_members")]
    aggs += [F.max(m).alias(m) for m in max_cols]
    aggs += [F.min(m).alias(m) for m in min_cols]
    out = df.groupBy(c.alias(cluster_col)).agg(*aggs)

    if longest_col is not None:
        w = Window.partitionBy(cluster_col).orderBy(
            F.length(longest_col).desc(), F.col(id_col)
        )
        longest = (
            df.select(cluster_col, id_col, longest_col)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(cluster_col, longest_col)
        )
        out = out.join(longest, cluster_col)

    for m in mode_cols:
        counts = df.groupBy(cluster_col, m).agg(F.count(F.lit(1)).alias("__c"))
        wm = Window.partitionBy(cluster_col).orderBy(
            F.col("__c").desc(), F.col(m)
        )
        winner = (
            counts.withColumn("__rn", F.row_number().over(wm))
            .where(F.col("__rn") == 1)
            .select(cluster_col, m)
        )
        out = out.join(winner, cluster_col)
    return out
