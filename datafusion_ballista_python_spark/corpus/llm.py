"""LLM-data-pipeline corpus: dedup / similarity / text analysis over the
``documents`` and ``embeddings`` tables (BASELINE north-star operators).

Thin corpus wrappers — the reusable implementations live in
``datafusion_ballista_python_spark.operators`` (dedup / similarity / text);
each entry here pins an oracle so the operator is hash-checked against
DuckDB, not just smoke-tested.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import functions as bf
from ..operators import dedup, graph, retrieval, similarity, text
from . import query
from .util import load

col = bf.col
lit = bf.lit


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(TRIM(text)) AS BIGINT) AS n_chars_m,
           CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(LEN(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '[^a-z0-9]+')) AS BIGINT) AS n_words,
           CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(TRIM(text)),
                '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^ \\t\\n\\f\\ra-z0-9]+|[ \\t\\n\\f\\r]+'))
                AS BIGINT) AS n_bpe_pieces
    FROM documents ORDER BY doc_id
    """,
)
def text_token_count(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.token_counts(docs).orderBy("doc_id")


@query(
    "text_quality",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS len,
           ROUND(CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                 / LENGTH(text), 6) AS alpha_ratio,
           ROUND(CAST(LENGTH(REGEXP_REPLACE(text, '[^ ]', '', 'g')) AS DOUBLE)
                 / LENGTH(text), 6) AS space_ratio,
           ROUND(CAST(LENGTH(TRIM(text)) AS DOUBLE)
                 / LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')), 6) AS avg_token_len
    FROM documents ORDER BY doc_id
    """,
)
def text_quality(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.quality_scores(docs).orderBy("doc_id")


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def text_fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.fingerprints(docs).orderBy("doc_id")


@query(
    "lang_id",
    oracle="""
    SELECT doc_id, lang,
           CASE
             WHEN LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^a-zà-ÿäöüßñ]+'),
                  ['the','and','of','to','is'])) >= 2 THEN 'en'
             WHEN LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^a-zà-ÿäöüßñ]+'),
                  ['der','die','und','das','ist'])) >= 2 THEN 'de'
             WHEN LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^a-zà-ÿäöüßñ]+'),
                  ['el','la','de','que','es'])) >= 2 THEN 'es'
             WHEN LEN(LIST_INTERSECT(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^a-zà-ÿäöüßñ]+'),
                  ['le','la','et','les','est'])) >= 2 THEN 'fr'
             ELSE 'unknown'
           END AS lang_guess
    FROM documents ORDER BY doc_id
    """,
)
def lang_id(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.language_id(docs).orderBy("doc_id")


@query(
    "dedup_exact",
    oracle="""
    WITH canon AS (
        SELECT doc_id,
               MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
    )
    SELECT fp, CAST(MIN(doc_id) AS BIGINT) AS canonical_id, COUNT(*) AS n_copies
    FROM canon GROUP BY fp
    ORDER BY canonical_id
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: fingerprint -> hash groupBy -> canonical representative.
    Scale: a single hash-partitioned aggregation on the fingerprint."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return dedup.exact_clusters(docs).orderBy("canonical_id")


@query(
    "dedup_against_reference",
    oracle="""
    WITH batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id >= 250
        UNION ALL
        -- re-idified copies of reference docs: cross-corpus duplicates
        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 40
        UNION ALL
        -- re-idified copies of batch docs: within-batch duplicates
        SELECT doc_id + 200000, text FROM documents
        WHERE doc_id >= 250 AND doc_id < 270
    ),
    fp AS (
        SELECT doc_id,
               MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS f
        FROM batch
    ),
    ref AS (
        SELECT DISTINCT MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS f
        FROM documents WHERE doc_id < 250
    ),
    ranked AS (
        SELECT doc_id, f,
               ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
        FROM fp
    )
    SELECT b.doc_id
    FROM ranked b LEFT JOIN ref r ON b.f = r.f
    WHERE b.rn = 1 AND r.f IS NULL
    ORDER BY b.doc_id
    """,
)
def dedup_against_reference(spark, sf_dir):
    """Cross-corpus dedup with a NON-VACUOUS oracle: the 'new crawl' is
    docs >= 250 plus re-idified copies of 40 reference docs (must be
    dropped by the anti-join) and of 20 batch docs (must be dropped by
    the within-batch rank) — both dedup paths change the answer, so a
    wrong join type or normalization fails the hash."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")["documents"]
    batch = (
        docs.where("doc_id >= 250")
        .select("doc_id", "text")
        .unionAll(
            docs.where("doc_id < 40").select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .unionAll(
            docs.where("doc_id >= 250 AND doc_id < 270").select(
                (F.col("doc_id") + 200000).alias("doc_id"), "text"
            )
        )
    )
    out = dedup.dedup_against_reference(batch, docs.where("doc_id < 250"))
    return out.select("doc_id").orderBy("doc_id")


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+')) AS grams
        FROM documents WHERE n_chars < 400
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(LEN(LIST_INTERSECT(a.grams, b.grams)) AS DOUBLE) /
                 (LEN(a.grams) + LEN(b.grams) - LEN(LIST_INTERSECT(a.grams, b.grams))), 6)
             AS jaccard
    FROM toks a JOIN toks b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(LEN(LIST_INTERSECT(a.grams, b.grams)) AS DOUBLE) /
          (LEN(a.grams) + LEN(b.grams) - LEN(LIST_INTERSECT(a.grams, b.grams))) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Token-set Jaccard near-dup with language blocking.  Scale: the
    blocking key bounds the pair explosion; at 100 TB use minhash-LSH
    (dedup_minhash_lsh) instead of exact pairwise."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return dedup.ngram_jaccard_pairs(
        docs.filter(F.col("n_chars") < 400), threshold=0.5, block_cols=["lang"]
    ).orderBy("doc_a", "doc_b")


# shared by embed_cosine_topk and the ANN recall eval entry
_COSINE_TOPK_ORACLE = """
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 5),
         scored AS (
            SELECT qid, vec_id, label,
                   ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qe, embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
                         (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qe, qe), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) * SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(embedding, embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))),
                         4) AS cos_sim
            FROM q CROSS JOIN c
         )
    SELECT qid, vec_id, label, cos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
    ) WHERE rn <= 10
    ORDER BY qid, cos_sim DESC, vec_id
    """


@query("embed_cosine_topk", oracle=_COSINE_TOPK_ORACLE)
def embed_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: the exact baseline for ANN.  Scale: the
    candidate side stays partitioned; only k rows per query survive the
    per-partition top-k before the final merge."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    return similarity.cosine_topk(cands, queries, k=10, round_digits=4).orderBy(
        "qid", F.desc("cos_sim"), "vec_id"
    )


# MMR diversified top-k: lam embedded as EXACT double literals on both
# sides (python 1-0.7 = 0.30000000000000004, not 0.3 — writing '0.3' in
# the SQL would make the two engines multiply DIFFERENT doubles and the
# greedy argmax could flip on a near-tie)
_MMR_LAM = 0.7
_MMR_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
scored AS (
  SELECT qid, vec_id, embedding,
         ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qe, embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
               (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qe, qe), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) * SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(embedding, embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))),
               4) AS rel
  FROM q CROSS JOIN c
),
pool AS (
  SELECT qid, vec_id, embedding, rel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn <= 10
),
s1 AS (
  SELECT qid, vec_id, embedding, rel, {_MMR_LAM!r} * rel AS score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rn
    FROM pool
  ) WHERE rn = 1
),
r1 AS (SELECT p.* FROM pool p ANTI JOIN s1 USING (qid, vec_id)),
m1 AS (
  SELECT r.qid, r.vec_id,
         MAX(ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(r.embedding, s.embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
             (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(r.embedding, r.embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) *
              SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(s.embedding, s.embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))), 4)) AS ms
  FROM r1 r JOIN s1 s ON r.qid = s.qid GROUP BY r.qid, r.vec_id
),
s2 AS (
  SELECT qid, vec_id, embedding, rel, score FROM (
    SELECT r.qid, r.vec_id, r.embedding, r.rel,
           {_MMR_LAM!r} * r.rel - {1 - _MMR_LAM!r} * m.ms AS score,
           ROW_NUMBER() OVER (
             PARTITION BY r.qid
             ORDER BY {_MMR_LAM!r} * r.rel - {1 - _MMR_LAM!r} * m.ms DESC, r.vec_id
           ) AS rn
    FROM r1 r JOIN m1 m ON r.qid = m.qid AND r.vec_id = m.vec_id
  ) WHERE rn = 1
),
r2 AS (SELECT p.* FROM r1 p ANTI JOIN s2 USING (qid, vec_id)),
sel2 AS (
  SELECT qid, vec_id, embedding FROM s1
  UNION ALL SELECT qid, vec_id, embedding FROM s2
),
m2 AS (
  SELECT r.qid, r.vec_id,
         MAX(ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(r.embedding, s.embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
             (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(r.embedding, r.embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) *
              SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(s.embedding, s.embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))), 4)) AS ms
  FROM r2 r JOIN sel2 s ON r.qid = s.qid GROUP BY r.qid, r.vec_id
),
s3 AS (
  SELECT qid, vec_id, rel, score FROM (
    SELECT r.qid, r.vec_id, r.rel,
           {_MMR_LAM!r} * r.rel - {1 - _MMR_LAM!r} * m.ms AS score,
           ROW_NUMBER() OVER (
             PARTITION BY r.qid
             ORDER BY {_MMR_LAM!r} * r.rel - {1 - _MMR_LAM!r} * m.ms DESC, r.vec_id
           ) AS rn
    FROM r2 r JOIN m2 m ON r.qid = m.qid AND r.vec_id = m.vec_id
  ) WHERE rn = 1
)
SELECT qid, 1 AS rank, vec_id, ROUND(score, 6) AS mmr_score, rel FROM s1
UNION ALL
SELECT qid, 2 AS rank, vec_id, ROUND(score, 6) AS mmr_score, rel FROM s2
UNION ALL
SELECT qid, 3 AS rank, vec_id, ROUND(score, 6) AS mmr_score, rel FROM s3
ORDER BY qid, rank
"""


@query("embed_mmr_topk", oracle=_MMR_ORACLE)
def embed_mmr_topk(spark, sf_dir):
    """MMR diversified top-k (operators/similarity.mmr_topk, Carbonell &
    Goldstein SIGIR'98): per query, 3 greedy picks maximizing
    lam*rel - (1-lam)*max-sim-to-selected over a 10-candidate relevance
    pool — one representative per redundant cluster instead of k copies
    of the top hit.  The oracle replays the greedy selection as a fixed
    3-round CTE unroll (same fixed-unroll pattern as graph_kcore) with
    identical rounding and tie-break, so the driver hash certifies every
    pick, not just the scores.  Scale: stage 1 (the relevance pool) is
    the only corpus-wide stage; the k rounds run on pool x |queries|
    rows."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    return similarity.mmr_topk(
        cands, queries, k=3, pool=10, lam=_MMR_LAM
    ).orderBy("qid", "rank")


# the exact (a, b) universal-hash coefficients the Spark operator uses —
# embedded literally so DuckDB reproduces signatures bit-for-bit
_MH_PARAMS_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(dedup.minhash_params(16))
)

_MINHASH_ORACLE = f"""
WITH words AS (
    SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+') AS w FROM documents
),
shingles AS (
    SELECT doc_id,
           LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(w)-2,1)),
                                        i -> ARRAY_TO_STRING(w[i+1:i+3], ' '))) AS sh
    FROM words
),
hashed AS (
    SELECT doc_id,
           CAST(CONCAT('0x', SUBSTRING(MD5(shingle),1,15)) AS BIGINT)
             % {dedup.MINHASH_PRIME} AS h
    FROM (SELECT doc_id, UNNEST(sh) AS shingle FROM shingles) s
),
sigs AS (
    SELECT doc_id, seed, MIN((a * h + b) % {dedup.MINHASH_PRIME}) AS mh
    FROM hashed CROSS JOIN (VALUES {_MH_PARAMS_VALUES}) params(seed, a, b)
    GROUP BY doc_id, seed
),
banded AS (
    SELECT doc_id, seed // 4 AS band, STRING_AGG(mh, ',' ORDER BY mh) AS band_sig
    FROM sigs GROUP BY doc_id, band
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(CAST(LEN(LIST_INTERSECT(sa.sh, sb.sh)) AS DOUBLE) /
             (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_INTERSECT(sa.sh, sb.sh))), 6) AS jaccard
FROM cands
JOIN shingles sa ON sa.doc_id = doc_a
JOIN shingles sb ON sb.doc_id = doc_b
WHERE CAST(LEN(LIST_INTERSECT(sa.sh, sb.sh)) AS DOUBLE) /
      (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_INTERSECT(sa.sh, sb.sh))) >= 0.8
ORDER BY doc_a, doc_b
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16 hashes) + 4-band LSH near-dup detection, verified by exact
    shingle Jaccard >= 0.8.  The md5-hex min-hash primitive is identical in
    Spark and DuckDB, so the full LSH pipeline is oracle-checkable.

    Scale: candidate generation is linear + one shuffle on band signatures;
    only bucket-colliding pairs pay the exact-verify join — this is the
    100 TB dedup path (SURVEY §7 step 8)."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_n=3, threshold=0.8
    ).orderBy("doc_a", "doc_b")


_LSH_RECALL_ORACLE = f"""
WITH truth_words AS (
    SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+') AS w FROM documents
),
truth_shingles AS MATERIALIZED (
    SELECT doc_id,
           LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(w)-2,1)),
                                        i -> ARRAY_TO_STRING(w[i+1:i+3], ' '))) AS sh
    FROM truth_words
),
truth AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM truth_shingles a JOIN truth_shingles b ON a.doc_id < b.doc_id
    WHERE CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE) /
          (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh))) >= 0.8
),
lsh AS (SELECT doc_a, doc_b, 1 AS hit FROM ({_MINHASH_ORACLE}))
SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COALESCE(SUM(l.hit), 0) AS BIGINT) AS n_found,
       CASE WHEN COUNT(*) > 0
            THEN ROUND(CAST(COALESCE(SUM(l.hit), 0) AS DOUBLE) / COUNT(*), 6)
       END AS recall
FROM truth t LEFT JOIN lsh l ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
"""


@query("eval_lsh_dedup_recall", oracle=_LSH_RECALL_ORACLE)
def eval_lsh_dedup_recall(spark, sf_dir):
    """Certified pair-recall of the banded-LSH dedup path
    (operators/dedup.lsh_recall): exact shingle Jaccard is the ground
    truth, dedup_minhash_lsh's verified pairs are the measured set, and
    the oracle composes the SAME minhash-pipeline SQL as the standalone
    dedup_minhash_lsh entry plus an independent ALL-PAIRS truth — so the
    driver hash certifies the recall MEASUREMENT itself, closing the
    eval ladder for dedup the way eval_ann_recall/eval_pq_recall do for
    ANN.  The Spark truth side is the prefix-filtered EXACT join
    (dedup.jaccard_join, shuffle-bounded); the DuckDB oracle derives
    truth by brute-force all-pairs — the hash match doubles as a
    completeness certificate for the prefix filter on real data."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return dedup.lsh_recall(docs, num_hashes=16, bands=4, shingle_n=3, threshold=0.8)


@query(
    "dedup_exact_jaccard_join",
    oracle="""
    WITH jw AS (
        SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+') AS w
        FROM documents
    ),
    jsh AS MATERIALIZED (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(w)-2,1)),
                                            i -> ARRAY_TO_STRING(w[i+1:i+3], ' '))) AS sh
        FROM jw
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE) /
                 (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh))), 6)
             AS jaccard
    FROM jsh a JOIN jsh b ON a.doc_id < b.doc_id
    WHERE CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE) /
          (LEN(a.sh) + LEN(b.sh) - LEN(LIST_INTERSECT(a.sh, b.sh))) >= 0.7
    ORDER BY doc_a, doc_b
    """,
)
def dedup_exact_jaccard_join(spark, sf_dir):
    """Prefix-filtered EXACT set-similarity self-join
    (operators/dedup.jaccard_join, Bayardo et al. WWW'07): ALL pairs with
    shingle Jaccard >= 0.7, no LSH misses.  The oracle derives the same
    pair set by brute-force all-pairs in DuckDB, so the driver hash is a
    completeness + exactness certificate for the prefix filter (candidate
    generation is an equi-join on each doc's first |g|-ceil(t|g|)+1
    sorted shingles — a candidate SUPERSET of every qualifying pair).
    Threshold 0.7 sits below the minhash entry's 0.8 so this surfaces
    pairs the LSH entry never has to."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return dedup.jaccard_join(docs, threshold=0.7, shingle_n=3, order="frequency").orderBy(
        "doc_a", "doc_b"
    )


@query(
    "dedup_containment_join",
    oracle="""
    WITH cw AS (
        SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+') AS w
        FROM documents
    ),
    csh AS MATERIALIZED (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(w)-2,1)),
                                            i -> ARRAY_TO_STRING(w[i+1:i+3], ' '))) AS sh
        FROM cw
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE) / LEN(a.sh), 6)
             AS containment
    FROM csh a JOIN csh b ON a.doc_id <> b.doc_id
    WHERE CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE) / LEN(a.sh) >= 0.9
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment_join(spark, sf_dir):
    """EXACT containment self-join (operators/dedup.containment_join):
    every DIRECTED pair with shingle containment |A∩B|/|A| >= 0.9 — the
    asymmetric signal that catches a short doc quoted whole inside a long
    one, which a Jaccard threshold structurally misses (J -> |A|/|B| -> 0
    as the container grows).  Spark generates candidates with the
    one-sided prefix filter (contained side explodes only its first
    |g|-ceil(t|g|)+1 sorted shingles, container side its full set, one
    equi-join) then verifies exactly; the oracle derives the same
    directed pair set by brute-force all-pairs, so the driver hash is a
    completeness certificate for the one-sided prefix filter on real
    data."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return dedup.containment_join(docs, threshold=0.9, shingle_n=3, order="frequency").orderBy(
        "doc_a", "doc_b"
    )


_SIMHASH_ORACLE = f"""
WITH w AS (
    SELECT doc_id,
           LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+')) AS words
    FROM documents
),
th AS (
    SELECT doc_id,
           LIST_TRANSFORM(words,
               t -> CAST(CONCAT('0x', SUBSTRING(MD5(t), 1, 15)) AS BIGINT)) AS hs
    FROM w
),
sh AS (
    SELECT doc_id,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, {dedup._SIMHASH_BITS}),
               i -> CASE WHEN LIST_SUM(LIST_TRANSFORM(hs,
                        h -> CASE WHEN (h >> CAST(i AS INT)) & 1 = 1
                             THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END))
             AS BIGINT) AS simhash
    FROM th
)
SELECT doc_id, simhash,
       CAST(simhash >> {dedup._SIMHASH_BITS - 16} AS BIGINT) AS bucket
FROM sh ORDER BY doc_id
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark, sf_dir):
    """SimHash64 bucketing, fully oracle-checked: the per-token 60-bit md5
    hash is the same primitive the minhash oracle proves, and the per-bit
    majority votes are DuckDB list lambdas over the token-hash list."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return dedup.simhash_buckets(docs).orderBy("doc_id")


@query(
    "embed_near_dup",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding FROM embeddings)
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(a.embedding, b.embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
                 (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(a.embedding, a.embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) *
                  SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(b.embedding, b.embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))), 4) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(a.embedding, b.embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
                (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(a.embedding, a.embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) *
                 SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(b.embedding, b.embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))), 4) >= 0.35
    ORDER BY doc_a, doc_b
    """,
)
def embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicates with label blocking.

    threshold=0.35 (not a production 0.9) because the synthetic embeddings
    are near-random: 0.35 yields a non-empty result at every test SF
    (14 / 26 / 391 pairs at sf 0.001 / 0.01 / 0.1), so the oracle hash
    actually exercises the blocked pair-join, per-side norm projection and
    rounding — a 0.9 threshold matched on 0 rows and proved nothing."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    return dedup.embedding_near_dup_pairs(
        emb, threshold=0.35, vec_col="embedding", id_col="vec_id", block_cols=["label"]
    ).orderBy("doc_a", "doc_b")


# the exact seeded hyperplanes the Spark operator derives from (seed 42 +
# 1000*table), embedded as literals so DuckDB rebuilds identical buckets —
# the _MH_PARAMS_VALUES pattern applied to ANN
_LSH_N_TABLES, _LSH_N_PLANES, _LSH_DIM, _LSH_SEED = 4, 6, 64, 42


def _lsh_planes_values() -> str:
    rows = []
    for t in range(_LSH_N_TABLES):
        planes = similarity._hyperplanes(_LSH_DIM, _LSH_N_PLANES, _LSH_SEED + 1000 * t)
        for p, vec in enumerate(planes):
            rows.append(f"({t}, {p}, [{', '.join(repr(x) for x in vec)}])")
    return ", ".join(rows)


_LSH_ORACLE = f"""
WITH planes(t, p, pv) AS (VALUES {_lsh_planes_values()}),
q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ce
      FROM embeddings WHERE vec_id >= 5),
qb AS (
    SELECT qid, t,
           CAST(SUM(CASE WHEN LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qe, pv), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) > 0
                    THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
    FROM q CROSS JOIN planes GROUP BY qid, t
),
cb AS (
    SELECT vec_id, t,
           CAST(SUM(CASE WHEN LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(ce, pv), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) > 0
                    THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
    FROM c CROSS JOIN planes GROUP BY vec_id, t
),
pairs AS (
    SELECT DISTINCT qb.qid, cb.vec_id
    FROM qb JOIN cb ON qb.t = cb.t AND qb.bucket = cb.bucket
),
scored AS (
    SELECT p.qid, p.vec_id, c.label,
           ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(q.qe, c.ce), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
                 (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(q.qe, q.qe), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) *
                  SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(c.ce, c.ce), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))), 4) AS cos_sim
    FROM pairs p JOIN q ON q.qid = p.qid JOIN c ON c.vec_id = p.vec_id
)
SELECT qid, vec_id, label, cos_sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored
) WHERE rn <= 10
ORDER BY qid, cos_sim DESC, vec_id
"""


@query("ann_lsh_topk", oracle=_LSH_ORACLE)
def ann_lsh_topk(spark, sf_dir):
    """Approximate nearest neighbors via multi-table random-hyperplane LSH,
    fully oracle-checked: the seeded hyperplanes are embedded as VALUES
    literals so DuckDB rebuilds the same buckets, candidate pairs, and
    rounded cosine scores.  Recall vs the brute-force baseline is asserted
    in tests/test_operators.py."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    return similarity.lsh_topk(
        cands, queries_df, k=10, n_planes=_LSH_N_PLANES, n_tables=_LSH_N_TABLES,
        dim=_LSH_DIM, seed=_LSH_SEED,
    ).orderBy("qid", F.desc("cos_sim"), "vec_id")


# fixed seeded quantizer for the corpus entry: the TRAINED quantizer is
# data-dependent (oracle strings are static), so the corpus pins seeded
# centroids — search semantics (assign/probe/score/top-k) are identical and
# fully checkable; the training path is exercised in tests/test_operators.py
_IVF_CENTROIDS = similarity._hyperplanes(64, 16, seed=7)
_IVF_N_PROBE = 4


def _ivf_centroid_values() -> str:
    return ", ".join(
        f"({i}, [{', '.join(repr(x) for x in v)}])" for i, v in enumerate(_IVF_CENTROIDS)
    )


_IVF_ORACLE = f"""
WITH cent(cell, cv) AS (VALUES {_ivf_centroid_values()}),
q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ce
      FROM embeddings WHERE vec_id >= 5),
ca AS (
    SELECT vec_id, label, ce, cell FROM (
        SELECT c.*, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                   ORDER BY LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(c.ce, cent.cv), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) DESC, cent.cell) AS rn
        FROM c CROSS JOIN cent
    ) WHERE rn = 1
),
qp AS (
    SELECT qid, qe, cell FROM (
        SELECT q.*, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                   ORDER BY LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(q.qe, cent.cv), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) DESC, cent.cell) AS rn
        FROM q CROSS JOIN cent
    ) WHERE rn <= {_IVF_N_PROBE}
),
scored AS (
    SELECT qp.qid, ca.vec_id, ca.label,
           ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qp.qe, ca.ce), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
                 (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qp.qe, qp.qe), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) *
                  SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(ca.ce, ca.ce), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))), 4) AS cos_sim
    FROM qp JOIN ca USING (cell)
)
SELECT qid, vec_id, label, cos_sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored
) WHERE rn <= 10
ORDER BY qid, cos_sim DESC, vec_id
"""


@query("ann_ivf_topk", oracle=_IVF_ORACLE)
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN with a pinned seeded quantizer, fully oracle-checked: DuckDB
    re-derives cell assignment (argmax dot, ties -> lowest cell), the
    n_probe nearest cells per query, and the rounded cosine top-k.  The
    trained (k-means-lite) quantizer path is exercised with recall
    assertions in tests/test_operators.py."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    return similarity.ivf_topk(
        cands, queries_df, k=10, n_probe=_IVF_N_PROBE, centroids=_IVF_CENTROIDS
    ).orderBy("qid", F.desc("cos_sim"), "vec_id")


# IVF-PQ: pinned seeded codebooks for the same reason as _IVF_CENTROIDS —
# the TRAINED codebooks are data-dependent; the corpus pins seeded ones so
# encoding + ADC scoring are statically replayable, while train_pq_codebooks
# is exercised with recall assertions in tests/test_operators.py
_PQ_N_SUB = 8
_PQ_N_CODES = 16
_PQ_SUB_DIM = 8
_PQ_CODEBOOKS = [
    similarity._hyperplanes(_PQ_SUB_DIM, _PQ_N_CODES, seed=7000 + s)
    for s in range(_PQ_N_SUB)
]
_PQ_RERANK = 50


def _pq_codebook_values() -> str:
    return ", ".join(
        f"({s}, {c}, [{', '.join(repr(x) for x in v)}])"
        for s, book in enumerate(_PQ_CODEBOOKS)
        for c, v in enumerate(book)
    )


_IVFPQ_ORACLE = f"""
WITH cent(cell, cv) AS (VALUES {_ivf_centroid_values()}),
cb(sub, code, cbv) AS (VALUES {_pq_codebook_values()}),
q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ce
      FROM embeddings WHERE vec_id >= 5),
ca AS MATERIALIZED (
    SELECT vec_id, label, ce, cell FROM (
        SELECT c.*, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                   ORDER BY LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(c.ce, cent.cv), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) DESC, cent.cell) AS rn
        FROM c CROSS JOIN cent
    ) WHERE rn = 1
),
subv AS (
    SELECT ca.vec_id, r.s AS sub,
           ca.ce[r.s * {_PQ_SUB_DIM} + 1 : r.s * {_PQ_SUB_DIM} + {_PQ_SUB_DIM}] AS sv
    FROM ca, (SELECT UNNEST(RANGE(0, {_PQ_N_SUB})) AS s) r
),
enc AS MATERIALIZED (
    SELECT vec_id, sub, cbv FROM (
        SELECT sv.vec_id, sv.sub, cb.code, cb.cbv,
               ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.sub
                   ORDER BY LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(cb.cbv, cb.cbv), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)
                            - 2 * LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(sv.sv, cb.cbv), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e), cb.code) AS rn
        FROM subv sv JOIN cb ON cb.sub = sv.sub
    ) WHERE rn = 1
),
recon AS MATERIALIZED (
    SELECT vec_id, FLATTEN(LIST(cbv ORDER BY sub)) AS rv
    FROM enc GROUP BY vec_id
),
crc AS (SELECT ca.vec_id, ca.label, ca.cell, r.rv
        FROM ca JOIN recon r USING (vec_id)),
qp AS (
    SELECT qid, qe, cell FROM (
        SELECT q.*, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                   ORDER BY LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(q.qe, cent.cv), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) DESC, cent.cell) AS rn
        FROM q CROSS JOIN cent
    ) WHERE rn <= {_IVF_N_PROBE}
),
scored AS (
    SELECT qp.qid, crc.vec_id, crc.label,
           ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qp.qe, crc.rv), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
                 (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qp.qe, qp.qe), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) *
                  SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(crc.rv, crc.rv), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))), 4) AS cos_sim
    FROM qp JOIN crc USING (cell)
),
short AS (
    SELECT qid, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
    ) WHERE rn <= {_PQ_RERANK}
),
rescored AS (
    SELECT s.qid, s.vec_id, c.label,
           ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(q.qe, c.ce), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
                 (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(q.qe, q.qe), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) *
                  SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(c.ce, c.ce), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))), 4) AS cos_sim
    FROM short s JOIN q ON q.qid = s.qid JOIN c ON c.vec_id = s.vec_id
)
SELECT qid, vec_id, label, cos_sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos_sim DESC, vec_id) AS rn
    FROM rescored
) WHERE rn <= 10
ORDER BY qid, cos_sim DESC, vec_id
"""


@query("ann_ivfpq_topk", oracle=_IVFPQ_ORACLE)
def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN (operators/similarity.ivfpq_topk) with pinned seeded
    quantizer + codebooks, fully oracle-checked: DuckDB re-derives cell
    assignment, the per-subspace PQ ENCODING (argmin L2, ties -> lowest
    code), the flattened reconstruction, the rounded asymmetric-cosine
    shortlist of 50, and the exact-cosine refine over it — so
    the driver hash certifies that the code arrays are bit-identical
    cross-engine, not just the final ranking.  The float vectors cross
    the probe join for only the R-row shortlist on the Spark side (codes
    score the bulk) — the memory-bound 100 TB tier of the ANN ladder.
    The trained (train_pq_codebooks) path is exercised with recall
    assertions in tests/test_operators.py."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    return similarity.ivfpq_topk(
        cands,
        queries_df,
        k=10,
        n_probe=_IVF_N_PROBE,
        centroids=_IVF_CENTROIDS,
        codebooks=_PQ_CODEBOOKS,
        rerank=_PQ_RERANK,
    ).orderBy("qid", F.desc("cos_sim"), "vec_id")


@query(
    "eval_pq_recall",
    oracle=f"""
    SELECT e.qid,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           ROUND(CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS recall
    FROM ({_COSINE_TOPK_ORACLE}) e
    LEFT JOIN ({_IVFPQ_ORACLE}) a
      ON a.qid = e.qid AND a.vec_id = e.vec_id
    GROUP BY e.qid ORDER BY e.qid
    """,
)
def eval_pq_recall(spark, sf_dir):
    """Recall@10 of IVF-PQ against the brute-force exact baseline — the
    same measured-recall-is-itself-certified harness shape as
    eval_ann_recall, closing the ladder: the oracle composes the exact
    entry's SQL and the IVF-PQ entry's SQL, so the driver hash covers
    the measurement."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    exact = similarity.cosine_topk(cands, queries_df, k=10).select("qid", "vec_id")
    approx = similarity.ivfpq_topk(
        cands,
        queries_df,
        k=10,
        n_probe=_IVF_N_PROBE,
        centroids=_IVF_CENTROIDS,
        codebooks=_PQ_CODEBOOKS,
        rerank=_PQ_RERANK,
    ).select(F.col("qid").alias("aqid"), F.col("vec_id").alias("avid"))
    joined = exact.join(
        approx,
        (F.col("qid") == F.col("aqid")) & (F.col("vec_id") == F.col("avid")),
        "left",
    )
    return (
        joined.groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.when(F.col("avid").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
            F.round(
                F.sum(F.when(F.col("avid").isNotNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("recall"),
        )
        .orderBy("qid")
    )


@query(
    "text_stopwords",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '[^a-z0-9]+') AS words
        FROM documents
    )
    SELECT doc_id,
           CAST(LEN(words) AS BIGINT) AS n_words,
           CAST(LEN(LIST_FILTER(words, x -> LIST_CONTAINS(
               ['the','and','of','to','a','in','is','it','that','for',
                'on','with','as','was','at','by','an','be','this','are'], x)))
             AS BIGINT) AS n_stopwords,
           ROUND(CAST(LEN(LIST_FILTER(words, x -> LIST_CONTAINS(
               ['the','and','of','to','a','in','is','it','that','for',
                'on','with','as','was','at','by','an','be','this','are'], x)))
             AS DOUBLE) / LEN(words), 6) AS stopword_ratio
    FROM w ORDER BY doc_id
    """,
)
def text_stopwords(spark, sf_dir):
    """Stopword-density quality signal (map-only, codegen)."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.stopword_stats(docs).orderBy("doc_id")


_WINNOW_K, _WINNOW_W = 8, 4
_WINNOW_POWERS = [pow(257, _WINNOW_K - 1 - j, 1_000_000_007) for j in range(_WINNOW_K)]


# the winnow mins CTE chain, shared by the fingerprint entry and the
# winnow-Jaccard pair entry (mins.m = the distinct fingerprint set per doc)
_WINNOW_MINS_CTES = f"""t AS (
        SELECT doc_id, LOWER(TRIM(text)) AS txt FROM documents
        WHERE LENGTH(TRIM(text)) >= {_WINNOW_K + _WINNOW_W - 1}
    ),
    codes AS (
        SELECT doc_id,
               LIST_TRANSFORM(RANGE(1, LENGTH(txt)+1),
                              i -> CAST(ASCII(SUBSTRING(txt, CAST(i AS INT), 1)) AS BIGINT) % 1000000007) AS c
        FROM t
    ),
    grams AS (
        SELECT doc_id,
               LIST_TRANSFORM(RANGE(0, LEN(c) - {_WINNOW_K} + 1),
                   i -> CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, {_WINNOW_K}),
                        j -> (c[CAST(i+j+1 AS INT)] *
                              ([{", ".join(map(str, _WINNOW_POWERS))}])[CAST(j+1 AS INT)])
                             % 1000000007)) % 1000000007 AS BIGINT)) AS g
        FROM codes
    ),
    mins AS (
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, LEN(g) - {_WINNOW_W} + 1),
                   i -> LIST_MIN(LIST_TRANSFORM(RANGE(0, {_WINNOW_W}),
                                                j -> g[CAST(i+j+1 AS INT)])))) AS m
        FROM grams
    )"""


@query(
    "text_winnow_fingerprints",
    oracle=f"""
    WITH {_WINNOW_MINS_CTES}
    SELECT doc_id, UNNEST(m) AS fp FROM mins ORDER BY doc_id, fp
    """,
)
def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing (rolling-hash) fingerprints — shared substrings of length
    >= k+w-1 guarantee shared fingerprints; the plagiarism-detection
    primitive, fully oracle-checked."""
    docs = load(spark, sf_dir, "documents")["documents"]
    docs = docs.filter(F.length(F.trim(F.col("text"))) >= _WINNOW_K + _WINNOW_W)
    return text.winnow_fingerprints(docs, k=_WINNOW_K, window=_WINNOW_W)


_WINNOW_MAX_DF = 50


@query(
    "dedup_winnow_jaccard",
    oracle=f"""
    WITH {_WINNOW_MINS_CTES},
    fps AS (SELECT doc_id, UNNEST(m) AS fp FROM mins),
    keep AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {_WINNOW_MAX_DF}),
    f2 AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep k ON f.fp = k.fp),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM f2 GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
           ROUND(n_shared / CAST(sa.n + sb.n - n_shared AS DOUBLE), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_shared * 2 >= sa.n + sb.n - n_shared
    ORDER BY doc_a, doc_b
    """,
)
def dedup_winnow_jaccard(spark, sf_dir):
    """Substring-level near-dup pairs: Jaccard >= 1/2 over winnowing
    fingerprints via an inverted-index fp join with a max-df stop-substring
    cap (operators/dedup.winnow_jaccard_pairs).  The threshold compares in
    exact integer arithmetic (2*|A∩B| >= |A∪B|) so boundary pairs match the
    oracle bit-for-bit; at sf0.01 this finds the 25 planted near-dup pairs
    (jaccard 0.93-1.0) and nothing else."""
    docs = load(spark, sf_dir, "documents")["documents"]
    docs = docs.filter(F.length(F.trim(F.col("text"))) >= _WINNOW_K + _WINNOW_W)
    return dedup.winnow_jaccard_pairs(
        docs,
        k=_WINNOW_K,
        window=_WINNOW_W,
        threshold=(1, 2),
        max_df=_WINNOW_MAX_DF,
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# connected components: near-dup pairs -> duplicate clusters
# ---------------------------------------------------------------------------

def _closure_sql(pairs_sql: str) -> str:
    """Recursive-CTE transitive closure of an undirected pair list into
    (node, component = min reachable id).  Shared by every cluster oracle
    (standalone AND composed) so closure semantics cannot diverge."""
    return f"""WITH RECURSIVE pairs AS (
  {pairs_sql}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
)
SELECT a AS node, LEAST(a, MIN(b)) AS component
FROM reach GROUP BY a"""


_CLUSTER_ORACLE = _closure_sql(_MINHASH_ORACLE) + " ORDER BY node"


@query("dedup_cluster_components", oracle=_CLUSTER_ORACLE)
def dedup_cluster_components(spark, sf_dir):
    """Transitive closure of minhash-LSH near-dup pairs into duplicate
    clusters: (node, component) with component = min reachable doc id —
    the id to KEEP; every other member is a removable duplicate.

    Spark side is iterative min-label propagation (operators/graph.py:
    one join + one min-aggregate per round, rounds = cluster diameter,
    convergence from the monotone label sum, localCheckpoint lineage
    truncation).  The oracle is a recursive-CTE transitive closure over
    the SAME embedded-coefficient minhash pair SQL, so the whole
    pairs -> clusters pipeline is hash-checked end-to-end."""
    docs = load(spark, sf_dir, "documents")["documents"]
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_n=3, threshold=0.8
    )
    return graph.connected_components(pairs).orderBy("node")


@query("dedup_cluster_components_star", oracle=_CLUSTER_ORACLE)
def dedup_cluster_components_star(spark, sf_dir):
    """Same closure as dedup_cluster_components via the large-star/
    small-star algorithm (Kiveris et al.) — O(log d) rounds instead of
    O(diameter), the scale path for chain-heavy near-dup graphs.  Both
    algorithms must produce the identical (node, min-id component)
    labeling, so they share one oracle."""
    docs = load(spark, sf_dir, "documents")["documents"]
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_n=3, threshold=0.8
    )
    return graph.connected_components(pairs, algorithm="star").orderBy("node")


# ---------------------------------------------------------------------------
# corpus-statistics term scoring: tf-idf / BM25
# ---------------------------------------------------------------------------

_TERMS_CTE = """
terms AS (
    SELECT doc_id, t AS term FROM (
        SELECT doc_id,
               UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '[^a-z0-9]+')) AS t
        FROM documents
    ) WHERE LENGTH(t) > 0
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM terms GROUP BY doc_id, term
),
dfreq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
)
"""


@query(
    "text_tfidf_topk",
    oracle=f"""
    WITH {_TERMS_CTE},
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, tf.term, tf, df,
               ROUND(tf * (LN((CAST(n_docs AS DOUBLE) + 1) / (CAST(df AS DOUBLE) + 1)) + 1), 6) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        FROM scored
    ) WHERE rn <= 3
    ORDER BY doc_id, tfidf DESC, term
    """,
)
def text_tfidf_topk(spark, sf_dir):
    """Top-3 tf-idf terms per document — the classic keyword/topic signal
    for corpus curation.  See operators/text.py:tfidf_top_terms for the
    shuffle shape (map-side-partial tf, term-shuffled df join, 1-row N
    broadcast, per-doc window top-k)."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.tfidf_top_terms(docs, k=3).orderBy(
        "doc_id", F.desc("tfidf"), "term"
    )


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH {_TERMS_CTE},
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl
    ),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
               -- parenthesized as idf * (num / denom) to mirror the Spark
               -- operator's float association order (bm25_top_terms
               -- computes idf * tf_norm); the flat form evaluates
               -- (idf * num) / denom, which can differ by 1 ulp and flip
               -- the 6dp rounding at a boundary
               ROUND(LN(1 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
                     * ((tf.tf * (1.2 + 1)) /
                        (tf.tf + 1.2 * (1 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl))),
                     6) AS bm25
        FROM tf JOIN dfreq USING (term)
                JOIN dl ON dl.doc_id = tf.doc_id
                CROSS JOIN stats
    )
    SELECT doc_id, term, tf, dl, bm25 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, term) AS rn
        FROM scored
    ) WHERE rn <= 3
    ORDER BY doc_id, bm25 DESC, term
    """,
)
def text_bm25_topk(spark, sf_dir):
    """Top-3 BM25 terms per document (k1=1.2, b=0.75) — the ranking
    function behind retrieval-based data filtering.  Length
    normalization uses a 1-row (N, avgdl) broadcast; everything else is
    the tf-idf shuffle shape."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.bm25_top_terms(docs, k=3).orderBy(
        "doc_id", F.desc("bm25"), "term"
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------

_QCODE_SQL = """
LIST_TRANSFORM(embedding,
    x -> GREATEST(-127, LEAST(127,
         CAST(FLOOR(CAST(x AS DOUBLE) / scale * 127 + 0.5) AS INT))))
"""


@query(
    "embed_quantize_int8",
    oracle=f"""
    WITH s AS (
        SELECT MAX(LIST_MAX(LIST_TRANSFORM(embedding,
                   x -> ABS(CAST(x AS DOUBLE))))) AS scale
        FROM embeddings
    )
    SELECT vec_id,
           ARRAY_TO_STRING({_QCODE_SQL}, ',') AS qcode_s,
           ROUND(scale, 6) AS scale_r
    FROM embeddings CROSS JOIN s
    ORDER BY vec_id
    """,
)
def embed_quantize_int8(spark, sf_dir):
    """Global-scale symmetric int8 quantization of the embedding table —
    4x smaller vectors, integer dot products downstream.  Codes are
    bit-identical to the DuckDB oracle (floor(v+0.5) rounding spelled the
    same on both engines); the array output is ','-serialized for the
    canonicalizer."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    q = similarity.quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.concat_ws(",", F.col("qcode")).alias("qcode_s"),
        F.round(F.col("scale"), 6).alias("scale_r"),
    ).orderBy("vec_id")


@query(
    "ann_quantized_topk",
    oracle=f"""
    WITH s AS (
        SELECT MAX(LIST_MAX(LIST_TRANSFORM(embedding,
                   x -> ABS(CAST(x AS DOUBLE))))) AS scale
        FROM embeddings
    ),
    coded AS (
        SELECT vec_id, label, {_QCODE_SQL} AS qc
        FROM embeddings CROSS JOIN s
    ),
    q AS (SELECT vec_id AS qid, qc AS qq FROM coded WHERE vec_id < 5),
    c AS (SELECT vec_id, label, qc FROM coded WHERE vec_id >= 5),
    scored AS (
        SELECT qid, vec_id, label,
               ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(LIST_TRANSFORM(qq, x -> CAST(x AS DOUBLE)), LIST_TRANSFORM(qc, x -> CAST(x AS DOUBLE))), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
                     (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(LIST_TRANSFORM(qq, x -> CAST(x AS DOUBLE)), LIST_TRANSFORM(qq, x -> CAST(x AS DOUBLE))), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) *
                      SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(LIST_TRANSFORM(qc, x -> CAST(x AS DOUBLE)), LIST_TRANSFORM(qc, x -> CAST(x AS DOUBLE))), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))),
                     4) AS cos_sim
        FROM q CROSS JOIN c
    )
    SELECT qid, vec_id, label, cos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
    ) WHERE rn <= 10
    ORDER BY qid, cos_sim DESC, vec_id
    """,
)
def ann_quantized_topk(spark, sf_dir):
    """Cosine top-k over int8-quantized codes (shared global scale — it
    cancels in the cosine ratio, so ranking needs no dequantize).  The
    memory-bound brute-force tier: 4x more vectors per executor than
    float32.  Fully hash-checked against DuckDB doing the same integer
    quantization."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    return similarity.quantized_cosine_topk(cands, queries, k=10).orderBy(
        "qid", F.desc("cos_sim"), "vec_id"
    )


# ---------------------------------------------------------------------------
# PII scrubbing + corpus-level boilerplate removal
# ---------------------------------------------------------------------------

@query(
    "text_scrub_pii",
    oracle=r"""
    WITH synth AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@example.com or +1 (555) 010-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
               ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t
        FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g'),
             '\+?\d[\d\s().-]{7,}\d', '[PHONE]', 'g') AS scrubbed
    FROM synth ORDER BY doc_id
    """,
)
def text_scrub_pii(spark, sf_dir):
    """PII masking (emails / phone-shaped digit runs / IPv4) as pure
    codegen regexp chains.  The entry synthesizes one email, phone and IP
    per document the same way in both engines, so the masking itself —
    not just a no-op pass — is hash-checked."""
    from ..operators.text import scrub_pii

    docs = load(spark, sf_dir, "documents")["documents"]
    synth = docs.where(F.col("doc_id") < 100).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1"),
        ).alias("text"),
    )
    return scrub_pii(synth, out_col="scrubbed").select("doc_id", "scrubbed").orderBy(
        "doc_id"
    )


@query(
    "text_remove_boilerplate",
    oracle=r"""
    WITH lines AS (
        SELECT doc_id,
               CAST(UNNEST(RANGE(LEN(arr))) AS INT) AS pos,
               UNNEST(arr) AS line
        FROM (SELECT doc_id, STRING_SPLIT(text, chr(10)) AS arr FROM documents)
    ),
    keyed AS (
        SELECT doc_id, pos, line,
               MD5(REGEXP_REPLACE(LOWER(TRIM(line)), '\s+', ' ', 'g')) AS fp,
               LENGTH(TRIM(line)) >= 10 AS long
        FROM lines
    ),
    freq AS (
        SELECT fp FROM keyed WHERE long
        GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 2
    )
    SELECT doc_id, STRING_AGG(line, chr(10) ORDER BY pos) AS text
    FROM keyed
    WHERE NOT (long AND fp IN (SELECT fp FROM freq))
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_remove_boilerplate(spark, sf_dir):
    """C4-style corpus-level line dedup: lines whose normalized form
    appears in more than 2 documents (boilerplate chrome, license
    headers, exact-duplicate bodies) are stripped from every document.
    Documents reassemble in original line order; fully hash-checked."""
    from ..operators.text import remove_boilerplate_lines

    docs = load(spark, sf_dir, "documents")["documents"]
    return remove_boilerplate_lines(docs, max_docs_per_line=2).orderBy("doc_id")


# -- SemDeDup: cluster-blocked semantic deduplication -----------------------
# Pinned seeded centroids (like the IVF entry) so DuckDB can re-derive the
# full decision: argmax-dot cluster assignment, within-cluster cosine pairs,
# drop-iff-lower-id-neighbor.  The trained (distributed Lloyd) path is
# property-tested in tests/test_operators.py (SSE monotone non-increase).
_SEMDEDUP_CENTROIDS = similarity._hyperplanes(64, 8, seed=11)
_SEMDEDUP_TAU = 0.3


def _semdedup_centroid_values() -> str:
    return ", ".join(
        f"({i}, [{', '.join(repr(x) for x in v)}])"
        for i, v in enumerate(_SEMDEDUP_CENTROIDS)
    )


_SEMDEDUP_ORACLE = f"""
WITH cent(cell, cv) AS (VALUES {{centroid_values}}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
ca AS (
    SELECT vec_id, e, cell FROM (
        SELECT v.*, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(v.e, cent.cv), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) DESC, cent.cell) AS rn
        FROM v CROSS JOIN cent
    ) WHERE rn = 1
),
pairs AS (
    SELECT a.vec_id AS ida, b.vec_id AS idb
    FROM ca a JOIN ca b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(a.e, b.e), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
                (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(a.e, a.e), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) *
                 SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(b.e, b.e), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))), 4) >= {_SEMDEDUP_TAU}
)
SELECT ca.vec_id, ca.cell,
       ca.vec_id NOT IN (SELECT idb FROM pairs) AS keep
FROM ca ORDER BY vec_id
""".format(centroid_values=_semdedup_centroid_values())


@query("dedup_semantic", oracle=_SEMDEDUP_ORACLE)
def dedup_semantic(spark, sf_dir):
    """SemDeDup (public algorithm): cluster-assign on pinned centroids,
    within-cluster cosine pairs, keep the lowest id per duplicate
    neighborhood.  Non-vacuous at sf0.01: 168 of 500 vectors drop at
    tau=0.3.  Map-only assignment + cell-blocked self-join — the 100 TB
    path writes the table partitioned by cell first (operators/semdedup.py
    docstring)."""
    from ..operators.semdedup import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    return semantic_dedup(
        emb, _SEMDEDUP_CENTROIDS, threshold=_SEMDEDUP_TAU
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# corpus-trained unigram LM perplexity / cross-document repeated spans
# ---------------------------------------------------------------------------


# the perplexity CTE chain (ends in `ppl`: doc_id, n_tokens, sum_bits,
# bits_per_token) — used verbatim by the standalone oracle below AND the
# composed pipeline oracle, so tokenization/accumulation can never diverge
_PPL_CTES = """terms AS (
        SELECT doc_id, t AS term FROM (
            SELECT doc_id,
                   UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '[^a-z0-9]+')) AS t
            FROM documents
        ) WHERE LENGTH(t) > 0
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM terms GROUP BY doc_id, term
    ),
    counts AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM terms GROUP BY term
    ),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
    ppl_scored AS (
        SELECT tf.doc_id, tf.tf,
               tf.tf * CAST(ROUND(-LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                                  / LN(2.0), 6) AS DECIMAL(25,6)) AS bits
        FROM tf JOIN counts USING (term) CROSS JOIN total
    ),
    ppl AS (
        -- exact integer half-up mean, mirroring the operator: engine
        -- ROUND on the double quotient diverges at decimal midpoints
        SELECT doc_id,
               CAST(SUM(tf) AS BIGINT) AS n_tokens,
               CAST(SUM(bits) AS DOUBLE) AS sum_bits,
               CAST((2 * CAST(SUM(bits) * 1000000 AS BIGINT) + CAST(SUM(tf) AS BIGINT))
                    // (2 * CAST(SUM(tf) AS BIGINT)) AS DOUBLE) / 1000000.0
                   AS bits_per_token
        FROM ppl_scored GROUP BY doc_id
    )"""


@query(
    "text_unigram_perplexity",
    oracle=f"""
    WITH {_PPL_CTES}
    SELECT doc_id, n_tokens, sum_bits, bits_per_token
    FROM ppl ORDER BY doc_id
    """,
)
def text_unigram_perplexity(spark, sf_dir):
    """Bits-per-token under a corpus-trained unigram LM (CCNet-style
    perplexity quality signal, operators/text.unigram_perplexity).  The
    per-token surprisal is rounded to 6 decimals before an exact
    tf-scaled DECIMAL accumulation, so Spark and DuckDB agree
    bit-for-bit despite libm ln differences."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.unigram_perplexity(docs).orderBy("doc_id")


@query(
    "text_repeated_spans",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '[^a-z0-9]+'),
                           t -> LENGTH(t) > 0) AS tok
        FROM documents
    ),
    spans AS (
        SELECT doc_id,
               ARRAY_TO_STRING(tok[i:i+7], ' ') AS span
        FROM toks, UNNEST(RANGE(1, LEN(tok) - 6)) AS r(i)
        WHERE LEN(tok) >= 8
    ),
    per_doc AS (
        SELECT doc_id, span, CAST(COUNT(*) AS BIGINT) AS occ
        FROM spans GROUP BY doc_id, span
    )
    SELECT span,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(occ) AS BIGINT) AS n_occurrences
    FROM per_doc GROUP BY span HAVING COUNT(*) >= 2
    ORDER BY span
    """,
)
def text_repeated_spans(spark, sf_dir):
    """Word 8-gram spans recurring across >= 2 documents — the scalable
    exact-substring-dup signal (operators/text.repeated_spans).  The
    oracle rebuilds the same sliding 8-grams with DuckDB list slicing;
    at sf0.01 the planted near-duplicate documents surface as shared
    spans."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.repeated_spans(docs, n=8, min_docs=2).orderBy("span")


@query(
    "text_maximal_repeated_spans",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id,
               LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '[^a-z0-9]+'),
                           t -> LENGTH(t) > 0) AS tok
        FROM documents
    ),
    anch AS MATERIALIZED (
        SELECT doc_id, i - 1 AS pos, ARRAY_TO_STRING(tok[i:i+7], ' ') AS span
        FROM toks, UNNEST(RANGE(1, LEN(tok) - 6)) AS r(i)
        WHERE LEN(tok) >= 8
    ),
    hot AS (SELECT span FROM anch GROUP BY span HAVING COUNT(*) >= 2),
    hp AS (SELECT a.doc_id, a.pos FROM anch a JOIN hot USING (span)),
    runs AS (
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS start_pos,
               CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS n_tokens
        FROM (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM hp
        ) GROUP BY doc_id, g
    )
    SELECT r.doc_id, r.start_pos, r.n_tokens,
           ARRAY_TO_STRING(
               t.tok[CAST(r.start_pos + 1 AS INT) :
                     CAST(r.start_pos + r.n_tokens AS INT)], ' ') AS span_text
    FROM runs r JOIN toks t USING (doc_id)
    ORDER BY r.doc_id, r.start_pos
    """,
)
def text_maximal_repeated_spans(spark, sf_dir):
    """MAXIMAL repeated spans (operators/text.maximal_repeated_spans):
    sorted 8-gram anchors, corpus-wide hot-anchor detection, per-doc
    gaps-and-islands merge into length-extensible intervals — the Lee
    et al. exact-substring-dedup upgrade of text_repeated_spans.  The
    oracle replays tokenization, anchor counting, the hot semi-join,
    the island merge, and the final token-slice reconstruction, so the
    driver hash certifies every maximal interval's position, length AND
    text."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.maximal_repeated_spans(docs, n=8, min_count=2).orderBy(
        "doc_id", "start_pos"
    )


@query(
    "dedup_exact_substrings",
    oracle="""
    WITH toks AS MATERIALIZED (
        SELECT doc_id,
               LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '[^a-z0-9]+'),
                           t -> LENGTH(t) > 0) AS tok
        FROM documents
    ),
    anch AS MATERIALIZED (
        SELECT doc_id, i - 1 AS pos, ARRAY_TO_STRING(tok[i:i+7], ' ') AS span
        FROM toks, UNNEST(RANGE(1, LEN(tok) - 6)) AS r(i)
        WHERE LEN(tok) >= 8
    ),
    hot AS (SELECT span FROM anch GROUP BY span HAVING COUNT(*) >= 2),
    hp AS (SELECT a.doc_id, a.pos FROM anch a JOIN hot USING (span)),
    runs AS MATERIALIZED (
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS start_pos,
               CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS n_tokens
        FROM (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM hp
        ) GROUP BY doc_id, g
    ),
    spans AS MATERIALIZED (
        SELECT r.doc_id, r.start_pos, r.n_tokens,
               ARRAY_TO_STRING(
                   t.tok[CAST(r.start_pos + 1 AS INT) :
                         CAST(r.start_pos + r.n_tokens AS INT)], ' ') AS span_text
        FROM runs r JOIN toks t USING (doc_id)
    ),
    losers AS (
        SELECT doc_id, start_pos, n_tokens FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY span_text ORDER BY doc_id, start_pos) AS rn
            FROM spans
        ) WHERE rn > 1
    ),
    droppos AS (
        SELECT doc_id, UNNEST(RANGE(start_pos, start_pos + n_tokens)) AS pos
        FROM losers
    ),
    tokrows AS (
        SELECT doc_id, i - 1 AS pos, tok[i] AS t
        FROM toks, UNNEST(RANGE(1, LEN(tok) + 1)) AS r(i)
    ),
    kept AS (
        SELECT tr.doc_id, tr.pos, tr.t
        FROM tokrows tr LEFT JOIN droppos d
          ON d.doc_id = tr.doc_id AND d.pos = tr.pos
        WHERE d.pos IS NULL
    ),
    reb AS (
        SELECT doc_id, ARRAY_TO_STRING(LIST(t ORDER BY pos), ' ') AS text_dedup,
               CAST(COUNT(*) AS BIGINT) AS n_tokens_kept
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(reb.text_dedup, '') AS text_dedup,
           COALESCE(reb.n_tokens_kept, 0) AS n_tokens_kept
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN reb USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def dedup_exact_substrings(spark, sf_dir):
    """Exact-substring dedup REMOVAL (operators/text.remove_repeated_spans):
    each maximal repeated span keeps its first (doc_id, start_pos)
    occurrence and is cut everywhere else — the Lee et al. pipeline step
    that text_maximal_repeated_spans only reports.  The oracle replays
    span detection, keep-first survivor selection, position expansion,
    the anti-join cut and per-doc reassembly, so the driver hash
    certifies every surviving token of every document."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.remove_repeated_spans(docs, n=8, min_count=2).orderBy("doc_id")


_SURVIVOR_ORACLE = f"""
WITH comp AS (
  {_CLUSTER_ORACLE}
)
SELECT d.*,
       COALESCE(c.component, d.doc_id) AS component,
       (ROW_NUMBER() OVER (PARTITION BY COALESCE(c.component, d.doc_id)
             ORDER BY d.n_chars DESC, d.doc_id) = 1) AS keep
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
ORDER BY d.doc_id
"""


@query("dedup_survivor_selection", oracle=_SURVIVOR_ORACLE)
def dedup_survivor_selection(spark, sf_dir):
    """Keep-best survivor selection over minhash-LSH duplicate clusters
    (operators/dedup.survivor_selection): transitive closure of the
    near-dup pairs, then keep the LONGEST document per cluster (ties to
    the lowest id); singletons always survive.  The oracle replays the
    same closure as a recursive CTE and the same argmax window, so the
    full pairs -> clusters -> policy pipeline is hash-checked."""
    docs = load(spark, sf_dir, "documents")["documents"]
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_n=3, threshold=0.8
    )
    return dedup.survivor_selection(docs, pairs, score_col="n_chars").orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# composed pipeline: perplexity gate -> minhash dedup -> keep-best -> stats
# ---------------------------------------------------------------------------

_QD_TAU = 5.0

# the minhash pair SQL restricted to the perplexity-gated subset: same CTE
# text as _MINHASH_ORACLE with its one `FROM documents` scan re-pointed at
# the gated frame, so the pair semantics stay bit-identical to the
# standalone dedup_minhash_lsh oracle
assert _MINHASH_ORACLE.count("FROM documents") == 1, (
    "minhash oracle must scan documents exactly once for the subset rewrite"
)
_QD_PAIRS_SQL = _MINHASH_ORACLE.replace("FROM documents", "FROM gated", 1)

_QUALITY_DEDUP_ORACLE = f"""
WITH gated AS (
    WITH {_PPL_CTES}
    SELECT d.* FROM documents d JOIN ppl USING (doc_id)
    WHERE ppl.bits_per_token <= {_QD_TAU}
),
comp AS (
    {_closure_sql(_QD_PAIRS_SQL)}
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
    SELECT g.lang, g.n_chars,
           ROW_NUMBER() OVER (PARTITION BY COALESCE(c.component, g.doc_id)
                ORDER BY g.n_chars DESC, g.doc_id) AS rn
    FROM gated g LEFT JOIN comp c ON c.node = g.doc_id
)
WHERE rn = 1
GROUP BY lang ORDER BY lang
"""


@query("pipeline_quality_dedup", oracle=_QUALITY_DEDUP_ORACLE)
def pipeline_quality_dedup(spark, sf_dir):
    """Composed quality-then-dedup pipeline in one plan: score every doc
    under the FULL-corpus unigram LM -> gate at bits_per_token <= 5.0
    (the near-dup MUTATED copies score high — rare-token mutations raise
    surprisal — so the gate itself removes some duplicates) -> minhash-LSH
    pairs over the SURVIVORS ONLY -> keep-best survivor selection (longest
    per duplicate cluster) -> per-language corpus stats.  Pair blocking on
    the gated subset drops differently than dedup_survivor_selection alone
    (a gate can remove one member of a near-dup pair), so the oracle
    hash-checks the composition, not just the stages — and it is assembled
    from the SAME _PPL_CTES / _MINHASH_ORACLE / _closure_sql constants the
    standalone oracles use, so the stages cannot silently diverge.

    Scale: the LM is one term shuffle; the gate is a semi-join riding the
    documents scan; everything downstream runs on the reduced survivor
    set.  ``gated`` feeds three plan branches (pair generation, the
    survivor window, the final stats) plus the iterative closure's round
    actions, so it is localCheckpoint'd — Spark only reuses identical
    exchange subtrees, not arbitrary shared lineage, and without the
    materialization the tokenize + two term shuffles of the LM re-run per
    branch.  localCheckpoint over persist: the checkpoint RDD is released
    by the ContextCleaner once the result frame is garbage-collected,
    where a CacheManager persist entry would leak per invocation."""
    docs = load(spark, sf_dir, "documents")["documents"]
    ppl = text.unigram_perplexity(docs)
    gated = docs.join(
        ppl.where(F.col("bits_per_token") <= _QD_TAU).select("doc_id"), "doc_id"
    ).localCheckpoint(eager=False)
    pairs = dedup.minhash_lsh_pairs(
        gated, num_hashes=16, bands=4, shingle_n=3, threshold=0.8
    )
    surv = dedup.survivor_selection(gated, pairs, score_col="n_chars")
    return (
        surv.where(F.col("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# PageRank over the near-dup graph (iterative algorithm, full oracle)
# ---------------------------------------------------------------------------

def _pagerank_iteration_sql(prev: str, this: str) -> str:
    """One power iteration as SQL, bit-identical to operators/graph.pagerank:
    per-edge contribution rounded at 12 then EXACT decimal sum; damping
    update as the same fixed double-op sequence, re-rounded at 12."""
    return f"""{this} AS (
  SELECT d.node, d.deg,
         ROUND(ROUND((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n, 12)
               + CAST(0.85 AS DOUBLE) * COALESCE(CAST(s.s AS DOUBLE), 0.0),
               12) AS pr
  FROM deg d CROSS JOIN n
  LEFT JOIN (
    SELECT e.b AS node,
           SUM(CAST(ROUND(p.pr / p.deg, 12) AS DECIMAL(28,12))) AS s
    FROM edges e JOIN {prev} p ON p.node = e.a GROUP BY e.b
  ) s ON s.node = d.node
)"""


_PAGERANK_ORACLE = f"""
WITH pairs AS (
  {_MINHASH_ORACLE}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY a),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
it0 AS (
  SELECT node, deg, ROUND(CAST(1 AS DOUBLE) / n.n, 12) AS pr
  FROM deg CROSS JOIN n
),
{_pagerank_iteration_sql("it0", "it1")},
{_pagerank_iteration_sql("it1", "it2")},
{_pagerank_iteration_sql("it2", "it3")}
SELECT node, pr FROM it3 ORDER BY node
"""


@query("graph_pagerank", oracle=_PAGERANK_ORACLE)
def graph_pagerank(spark, sf_dir):
    """Three PageRank power iterations over the minhash near-dup graph
    (operators/graph.pagerank) — an ITERATIVE algorithm with a full
    value-hash oracle: the DuckDB side unrolls the same three iterations
    with the identical round-then-exact-decimal accumulation, so every
    intermediate rank matches bit-for-bit.  Within a duplicate cluster,
    rank concentrates on the best-connected copies."""
    docs = load(spark, sf_dir, "documents")["documents"]
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_n=3, threshold=0.8
    )
    return graph.pagerank(pairs, iterations=3).orderBy("node")


def _kcore_peel_sql(edges_cte: str, k: int, rounds: int) -> str:
    """Unrolled k-core peel: ``rounds`` rounds of drop-degree-<k nodes.
    The k-core is the unique fixpoint regardless of peel order, so any
    round count >= the true peel depth yields the identical node set
    (surplus rounds are no-ops); the Spark side raises if IT fails to
    converge, so a hash match certifies fixpoint equality."""
    sql = f"e0 AS ({edges_cte})"
    for r in range(rounds):
        sql += f""",
k{r} AS (SELECT src FROM e{r} GROUP BY src HAVING COUNT(*) >= {k}),
e{r + 1} AS (
    SELECT e.src, e.dst FROM e{r} e
    JOIN k{r} a ON e.src = a.src
    JOIN k{r} b ON e.dst = b.src
)"""
    return sql


_KCORE_ORACLE = f"""
WITH {_kcore_peel_sql(f'''
    SELECT doc_a AS src, doc_b AS dst FROM ({_MINHASH_ORACLE})
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM ({_MINHASH_ORACLE})
''', k=2, rounds=4)}
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM e4 GROUP BY src ORDER BY node
"""


@query("graph_kcore", oracle=_KCORE_ORACLE)
def graph_kcore(spark, sf_dir):
    """2-core of the minhash near-dup graph (operators/graph.kcore):
    iteratively peel degree-<2 nodes until fixpoint — the density filter
    separating tight duplicate blobs (boilerplate/template hubs) from
    isolated pairs and thin chains.  The k-core is the unique
    peel-order-independent fixpoint, so the oracle unrolls four peel
    rounds (measured depth 2 on this graph; surplus rounds are no-ops on
    a converged core) over the SAME minhash-pipeline SQL as the
    standalone dedup_minhash_lsh entry, and the Spark side raises if it
    fails to converge — a hash match certifies fixpoint equality."""
    docs = load(spark, sf_dir, "documents")["documents"]
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_n=3, threshold=0.8
    )
    return graph.kcore(pairs, k=2)


_BIGRAM_PPL_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '[^a-z0-9]+'),
                       x -> x <> '') AS t
    FROM documents
),
bg AS (
    SELECT doc_id, t[i] AS p, t[i + 1] AS w
    FROM toks, UNNEST(RANGE(1, LEN(t))) AS r(i)
),
btf AS (
    SELECT doc_id, p, w, CAST(COUNT(*) AS BIGINT) AS tf
    FROM bg GROUP BY 1, 2, 3
),
cb AS (SELECT p, w, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY 1, 2),
cp AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cp FROM bg GROUP BY 1),
uni AS (SELECT UNNEST(t) AS w FROM toks),
cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni),
scored AS (
    SELECT btf.doc_id,
           btf.tf,
           btf.tf * CAST(ROUND(
               -LN(0.75 * (CAST(cb.cb AS DOUBLE) / cp.cp)
                   + 0.25 * (CAST(cw.c AS DOUBLE) / tot.n)) / LN(2.0),
               6) AS DECIMAL(25,6)) AS bits
    FROM btf
    JOIN cb ON cb.p = btf.p AND cb.w = btf.w
    JOIN cp ON cp.p = btf.p
    JOIN cw ON cw.w = btf.w
    CROSS JOIN tot
),
per_doc AS (
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           CAST(SUM(bits) AS DOUBLE) AS sum_bits,
           -- exact integral micro-bits for half-up integer rounding
           CAST(SUM(bits) * 1000000 AS BIGINT) AS micro
    FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(per_doc.n_bigrams, 0) AS n_bigrams,
       per_doc.sum_bits,
       CASE WHEN COALESCE(per_doc.n_bigrams, 0) > 0
            THEN CAST((2 * micro + n_bigrams) // (2 * n_bigrams) AS DOUBLE)
                 / 1000000.0 END
           AS bits_per_bigram
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per_doc USING (doc_id)
ORDER BY doc_id
"""


@query("text_bigram_perplexity", oracle=_BIGRAM_PPL_ORACLE)
def text_bigram_perplexity(spark, sf_dir):
    """Interpolated bigram-LM perplexity (operators/text.bigram_perplexity,
    lam=0.75): the transition-probability quality signal one rung above
    the unigram gate — same determinism contract (round-at-6 surprisal,
    exact decimal tf-scaled accumulation), bigrams from the array
    self-zip with map-side (doc, prev, w) collapse.  The oracle replays
    tokenization, the context-count model and the exact interpolation
    arithmetic."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.bigram_perplexity(docs).orderBy("doc_id")


_TRIANGLE_ORACLE = f"""
WITH pairs AS (
  {_MINHASH_ORACLE}
),
te AS (
  SELECT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM pairs WHERE doc_a <> doc_b GROUP BY 1, 2
),
w AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM te e1 JOIN te e2 ON e1.u = e2.u AND e1.v < e2.v
),
tri AS (SELECT a, b, c FROM w JOIN te ON te.u = w.b AND te.v = w.c),
tnodes AS (SELECT u AS node FROM te UNION SELECT v AS node FROM te),
corners AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY 1
)
SELECT n.node, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_triangles
FROM tnodes n LEFT JOIN corners c USING (node) ORDER BY node
"""


@query("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark, sf_dir):
    """Per-node triangle counts over the minhash near-dup graph
    (operators/graph.triangle_count): DEGREE-ordered oriented-edge wedge
    enumeration + closing-edge confirm join (Suri-Vassilvitskii) — whale
    nodes become orientation sinks, bounding wedge fan-out at O(sqrt(m))
    out-edges.  Triangle counts are orientation-invariant, so the
    id-oriented SQL replay certifies the degree-ordered plan; integer
    counts, no rounding anywhere."""
    docs = load(spark, sf_dir, "documents")["documents"]
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_n=3, threshold=0.8
    )
    return graph.triangle_count(pairs).orderBy("node")


def _pagerank_directed_iteration_sql(prev: str, this: str) -> str:
    """One DIRECTED power iteration with dangling-mass redistribution,
    bit-identical to operators/graph.pagerank_directed: per-edge
    contribution and the dangling total rounded at 12 then EXACT decimal
    sums; damping update as the same fixed double-op sequence."""
    return f"""{this} AS (
  SELECT d.node, d.od,
         ROUND(ROUND((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n, 12)
               + CAST(0.85 AS DOUBLE) *
                 (COALESCE(CAST(s.s AS DOUBLE), 0.0)
                  + COALESCE(CAST(dm.m AS DOUBLE), 0.0) / n.n),
               12) AS pr
  FROM dnodes d CROSS JOIN n
  CROSS JOIN (SELECT SUM(CAST(pr AS DECIMAL(28,12))) AS m
              FROM {prev} WHERE od = 0) dm
  LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST(ROUND(p.pr / p.od, 12) AS DECIMAL(28,12))) AS s
    FROM dedges e JOIN {prev} p ON p.node = e.src GROUP BY e.dst
  ) s ON s.node = d.node
)"""


_PAGERANK_DIRECTED_ORACLE = f"""
WITH pairs AS (
  {_MINHASH_ORACLE}
),
dedges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs),
dnodes AS (
  SELECT v.node, COALESCE(o.od, CAST(0 AS BIGINT)) AS od
  FROM (SELECT src AS node FROM dedges UNION SELECT dst FROM dedges) v
  LEFT JOIN (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS od
             FROM dedges GROUP BY src) o ON o.node = v.node
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM dnodes),
it0 AS (
  SELECT node, od, ROUND(CAST(1 AS DOUBLE) / n.n, 12) AS pr
  FROM dnodes CROSS JOIN n
),
{_pagerank_directed_iteration_sql("it0", "it1")},
{_pagerank_directed_iteration_sql("it1", "it2")},
{_pagerank_directed_iteration_sql("it2", "it3")}
SELECT node, pr FROM it3 ORDER BY node
"""


@query("graph_pagerank_directed", oracle=_PAGERANK_DIRECTED_ORACLE)
def graph_pagerank_directed(spark, sf_dir):
    """Directed PageRank with dangling-mass redistribution
    (operators/graph.pagerank_directed): the near-dup pairs become a
    DIRECTED citation-style graph (older doc -> newer doc), so every
    doc that never appears as a source is a dangling sink whose rank
    mass must be redistributed uniformly each iteration — without the
    dangling term ranks leak and no longer sum to 1.  The DuckDB oracle
    unrolls the same three iterations with the identical
    round-then-exact-decimal accumulation, bit-for-bit."""
    docs = load(spark, sf_dir, "documents")["documents"]
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_n=3, threshold=0.8
    )
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return graph.pagerank_directed(edges, iterations=3).orderBy("node")


@query(
    "embed_hard_negatives",
    oracle="""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe, label AS qlabel
        FROM embeddings WHERE vec_id < 5
    ),
    c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 5),
    scored AS (
        SELECT qid, qlabel, vec_id, label,
               ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qe, embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
                     (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qe, qe), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) *
                      SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(embedding, embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))), 4) AS cos_sim
        FROM q CROSS JOIN c
        WHERE label IS DISTINCT FROM qlabel
    )
    SELECT qid, qlabel, vec_id, label, cos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
    ) WHERE rn <= 10
    ORDER BY qid, cos_sim DESC, vec_id
    """,
)
def embed_hard_negatives(spark, sf_dir):
    """Hard-negative mining (operators/similarity.hard_negatives): per
    query, the 10 most-cosine-similar candidates with a DIFFERENT label —
    the label exclusion applies before ranking, so the head of the
    ranking is all near-misses.  The oracle replays score + pre-rank
    exclusion + window."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    return similarity.hard_negatives(cands, queries, k=10).orderBy(
        "qid", F.desc("cos_sim"), "vec_id"
    )


@query(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id, SUBSTRING(LOWER(text), CAST(i + 1 AS INT), 1) AS ch
        FROM documents, UNNEST(RANGE(0, LENGTH(text))) AS r(i)
    ),
    an AS (SELECT doc_id, ch FROM chars WHERE REGEXP_MATCHES(ch, '^[a-z0-9]$')),
    ctf AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS tf FROM an GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n FROM ctf GROUP BY 1),
    sc AS (
        SELECT ctf.doc_id,
               ctf.tf * CAST(ROUND(-LN(CAST(ctf.tf AS DOUBLE) / tot.n) / LN(2.0), 6)
                             AS DECIMAL(25,6)) AS bits
        FROM ctf JOIN tot USING (doc_id)
    ),
    pd AS (SELECT doc_id, CAST(SUM(bits) * 1000000 AS BIGINT) AS micro
           FROM sc GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(t.n, 0) AS n_chars_an,
           CASE WHEN COALESCE(t.n, 0) > 0
                THEN CAST((2 * pd.micro + t.n) // (2 * t.n) AS DOUBLE) / 1000000.0
           END AS entropy_bits
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN tot t USING (doc_id)
    LEFT JOIN pd USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def text_char_entropy(spark, sf_dir):
    """Per-doc character-distribution Shannon entropy
    (operators/text.char_entropy): the gibberish/degenerate-text signal
    on the quality ladder; per-(doc, char) counts collapse map-side (at
    most 36 survivors per doc), surprisal rounds at 6 pre-aggregation,
    and the bits/char mean uses the exact integer half-up rounding
    (same contract as the bigram LM)."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.char_entropy(docs).orderBy("doc_id")


@query(
    "eval_ann_recall",
    oracle=f"""
    SELECT e.qid,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           ROUND(CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS recall
    FROM ({_COSINE_TOPK_ORACLE}) e
    LEFT JOIN ({_LSH_ORACLE}) a
      ON a.qid = e.qid AND a.vec_id = e.vec_id
    GROUP BY e.qid ORDER BY e.qid
    """,
)
def eval_ann_recall(spark, sf_dir):
    """Recall@10 of the LSH ANN against the brute-force exact baseline —
    the eval harness FOR the similarity stack, as a first-class corpus
    entry: both sides are the exact operators the standalone entries
    run (same seeded hyperplanes, same rounding, same tiebreaks), so the
    oracle composes their two SQL constants and the driver hash
    certifies the measured recall itself, not just each side.  Shape:
    two top-k frames, one left join on (query, candidate), one per-query
    aggregate."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    exact = similarity.cosine_topk(cands, queries_df, k=10).select(
        "qid", "vec_id"
    )
    approx = similarity.lsh_topk(
        cands, queries_df, k=10, n_planes=_LSH_N_PLANES, n_tables=_LSH_N_TABLES,
        dim=_LSH_DIM, seed=_LSH_SEED,
    ).select(F.col("qid").alias("aqid"), F.col("vec_id").alias("avid"))
    joined = exact.join(
        approx,
        (F.col("qid") == F.col("aqid")) & (F.col("vec_id") == F.col("avid")),
        "left",
    )
    return (
        joined.groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.when(F.col("avid").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
            F.round(
                F.sum(F.when(F.col("avid").isNotNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("recall"),
        )
        .orderBy("qid")
    )


# cross-corpus near-dup pipeline CTEs over a pre-defined `allv(side,
# doc_id, text)` relation ('n' = new batch, 'r' = reference): signature
# build, band join, exact verify.  Shared verbatim by the standalone
# dedup_near_against_reference oracle and the ingest-pipeline composition
# so the stages cannot silently diverge.
_NEAR_MID_CTES = f"""
words AS (
    SELECT side, doc_id, REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+') AS w
    FROM allv
),
shingles AS (
    -- clamped list slice == Spark's slice+array_join: docs with < 3 words
    -- yield ONE partial shingle (the '||' form NULLed out and dropped them,
    -- a latent Spark/DuckDB divergence for short docs)
    SELECT side, doc_id,
           LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(w)-2,1)),
                                        i -> ARRAY_TO_STRING(w[i+1:i+3], ' '))) AS sh
    FROM words
),
hashed AS (
    SELECT side, doc_id,
           CAST(CONCAT('0x', SUBSTRING(MD5(shingle),1,15)) AS BIGINT)
             % {dedup.MINHASH_PRIME} AS h
    FROM (SELECT side, doc_id, UNNEST(sh) AS shingle FROM shingles) s
),
sigs AS (
    SELECT side, doc_id, seed, MIN((a * h + b) % {dedup.MINHASH_PRIME}) AS mh
    FROM hashed CROSS JOIN (VALUES {_MH_PARAMS_VALUES}) params(seed, a, b)
    GROUP BY side, doc_id, seed
),
banded AS (
    SELECT side, doc_id, seed // 4 AS band,
           STRING_AGG(mh, ',' ORDER BY mh) AS band_sig
    FROM sigs GROUP BY side, doc_id, band
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS ref_id
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_sig = b.band_sig
     AND a.side = 'n' AND b.side = 'r'
),
verified AS (
    SELECT cands.doc_id AS doc_id, cands.ref_id AS ref_id,
           ROUND(CAST(LEN(LIST_INTERSECT(sa.sh, sb.sh)) AS DOUBLE) /
                 (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_INTERSECT(sa.sh, sb.sh))), 6)
             AS jaccard
    FROM cands
    JOIN shingles sa ON sa.doc_id = cands.doc_id AND sa.side = 'n'
    JOIN shingles sb ON sb.doc_id = cands.ref_id AND sb.side = 'r'
    WHERE CAST(LEN(LIST_INTERSECT(sa.sh, sb.sh)) AS DOUBLE) /
          (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_INTERSECT(sa.sh, sb.sh))) >= 0.8
)"""

_NEAR_REF_ORACLE = f"""
WITH nbatch AS (
    SELECT doc_id, text FROM documents WHERE doc_id >= 250
    UNION ALL
    -- re-idified exact copies of reference docs: guaranteed jaccard-1.0
    -- near-dups, so the cross-corpus path is provably non-vacuous
    SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20
),
nref AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
allv AS (
    SELECT 'n' AS side, doc_id, text FROM nbatch
    UNION ALL
    SELECT 'r' AS side, doc_id, text FROM nref
),
{_NEAR_MID_CTES}
SELECT doc_id, ref_id, jaccard FROM verified
ORDER BY doc_id, ref_id
"""


@query("dedup_near_against_reference", oracle=_NEAR_REF_ORACLE)
def dedup_near_against_reference(spark, sf_dir):
    """Cross-corpus NEAR-dup detection
    (operators/dedup.minhash_lsh_pairs_against): a new crawl batch is
    LSH-banded against the existing reference corpus and candidates are
    verified with exact shingle Jaccard >= 0.8 — the near-duplicate
    upgrade of the exact-fingerprint dedup_against_reference.  The batch
    carries re-idified exact copies of 20 reference docs (jaccard 1.0),
    so the cross-corpus path provably fires; the oracle replays the full
    signature pipeline for both sides."""
    docs = load(spark, sf_dir, "documents")["documents"]
    batch = (
        docs.where("doc_id >= 250")
        .select("doc_id", "text")
        .unionAll(
            docs.where("doc_id < 20").select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
    )
    ref = docs.where("doc_id < 250").select("doc_id", "text")
    return dedup.minhash_lsh_pairs_against(
        batch, ref, num_hashes=16, bands=4, shingle_n=3, threshold=0.8
    ).orderBy("doc_id", "ref_id")


_INGEST_ORACLE = f"""
WITH pbatch AS (
    SELECT doc_id, lang, n_chars, text FROM documents WHERE doc_id >= 250
    UNION ALL
    -- exact copies of reference docs: stage 1's anti-join must drop them
    SELECT doc_id + 100000, lang, n_chars, text FROM documents WHERE doc_id < 20
    UNION ALL
    -- within-batch exact copies: stage 1's first-per-fingerprint drops them
    SELECT doc_id + 200000, lang, n_chars, text FROM documents
    WHERE doc_id >= 250 AND doc_id < 260
),
pref AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
bfp AS (
    SELECT doc_id, lang, n_chars, text,
           MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS f
    FROM pbatch
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM bfp
),
reffp AS (
    SELECT DISTINCT MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS f
    FROM pref
),
s1 AS (
    SELECT r.doc_id, r.lang, r.n_chars, r.text
    FROM ranked r LEFT JOIN reffp ON reffp.f = r.f
    WHERE r.rn = 1 AND reffp.f IS NULL
),
allv AS (
    SELECT 'n' AS side, doc_id, text FROM s1
    UNION ALL
    SELECT 'r' AS side, doc_id, text FROM pref
),
{_NEAR_MID_CTES},
s2 AS (
    SELECT s1.* FROM s1
    LEFT JOIN (SELECT DISTINCT doc_id FROM verified) v USING (doc_id)
    WHERE v.doc_id IS NULL
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s2 GROUP BY lang ORDER BY lang
"""


@query("pipeline_near_dedup_ingest", oracle=_INGEST_ORACLE)
def pipeline_near_dedup_ingest(spark, sf_dir):
    """The full crawl-ingest dedup ladder in one composition: EXACT stage
    (within-batch first-per-fingerprint + anti-join against the
    reference fingerprints — dedup.dedup_against_reference) followed by
    the NEAR-dup stage (LSH banded against the reference, exact-verified
    — dedup.minhash_lsh_pairs_against), then per-language stats of the
    docs that would actually be appended to the corpus.  The batch
    plants both exact-copy classes (cross-corpus and within-batch) so
    stage 1's two drop paths fire, and the genuine cross-split near-dups
    exercise stage 2.  The oracle shares _NEAR_MID_CTES with the
    standalone near-dup entry, so the composed stages cannot silently
    diverge from the operators they chain."""
    docs = load(spark, sf_dir, "documents")["documents"]
    batch = (
        docs.where("doc_id >= 250")
        .select("doc_id", "lang", "n_chars", "text")
        .unionAll(
            docs.where("doc_id < 20").select(
                (F.col("doc_id") + 100000).alias("doc_id"), "lang", "n_chars", "text"
            )
        )
        .unionAll(
            docs.where("doc_id >= 250 AND doc_id < 260").select(
                (F.col("doc_id") + 200000).alias("doc_id"), "lang", "n_chars", "text"
            )
        )
    )
    ref = docs.where("doc_id < 250").select("doc_id", "text")
    s1 = dedup.dedup_against_reference(batch, ref).localCheckpoint(eager=False)
    near = dedup.minhash_lsh_pairs_against(
        s1, ref, num_hashes=16, bands=4, shingle_n=3, threshold=0.8
    )
    # no .distinct(): the anti join's build side is a hash set, so the
    # extra shuffle would buy nothing (same rule minhash_lsh_pairs documents)
    s2 = s1.join(near.select("doc_id"), "doc_id", "left_anti")
    return (
        s2.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 + cosine pools fused with reciprocal-rank fusion
# ---------------------------------------------------------------------------

# Candidate set = documents that also carry an embedding (doc_id = vec_id,
# the alignment pipelines.py's classifier entry already relies on), minus
# the query ids.  Query: doc 0's text is the lexical query bag; vec 0's
# embedding is the semantic query.  Both systems retrieve a 50-doc pool;
# RRF (k=60) fuses them; top-10 fused ships.  The CTE chain through the
# two pools is shared with the Spearman rank-correlation entry below.
_RRF_POOL_CTES = """
    cand AS (
        SELECT d.doc_id, LOWER(TRIM(d.text)) AS text, e.embedding
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        WHERE d.doc_id >= 5
    ),
    qterms AS (
        SELECT DISTINCT t AS term FROM (
            SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '[^a-z0-9]+')) AS t
            FROM documents WHERE doc_id = 0
        ) WHERE LENGTH(t) > 0
    ),
    qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    terms AS (
        SELECT doc_id, t AS term FROM (
            SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, '[^a-z0-9]+')) AS t
            FROM cand
        ) WHERE LENGTH(t) > 0
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM terms GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl
    ),
    contrib AS (
        SELECT tf.doc_id,
               -- parenthesized as idf * (num / denom) to mirror the Spark
               -- operator's float association order exactly (a different
               -- order can differ by 1 ulp and flip the 6dp rounding)
               CAST(ROUND(LN(1 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
                     * ((tf.tf * (1.2 + 1)) /
                        (tf.tf + 1.2 * (1 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl))),
                     6) AS DECIMAL(25,6)) AS c
        FROM tf JOIN qterms USING (term)
                JOIN dfreq USING (term)
                JOIN dl ON dl.doc_id = tf.doc_id
                CROSS JOIN stats
    ),
    lex AS (
        SELECT dl.doc_id,
               ROUND(COALESCE(CAST(s.bm25d AS DOUBLE), 0.0), 6) AS bm25
        FROM dl LEFT JOIN (
            SELECT doc_id, SUM(c) AS bm25d FROM contrib GROUP BY doc_id
        ) s ON s.doc_id = dl.doc_id
    ),
    lexpool AS (
        SELECT doc_id, CAST(rn AS BIGINT) AS lex_rank FROM (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rn
            FROM lex
        ) WHERE rn <= 50
    ),
    sem AS (
        SELECT doc_id,
               ROUND(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qe, embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e) /
                     (SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(qe, qe), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e)) * SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(embedding, embedding), p -> CAST(p[1] * p[2] AS DOUBLE)), (s, e) -> s + e))),
                     4) AS cos_sim
        FROM cand CROSS JOIN qv
    ),
    sempool AS (
        SELECT doc_id, CAST(rn AS BIGINT) AS sem_rank FROM (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS rn
            FROM sem
        ) WHERE rn <= 50
    )
    """

_RRF_ORACLE = f"""
    WITH {_RRF_POOL_CTES},
    fused AS (
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
               l.lex_rank, s.sem_rank,
               ROUND(COALESCE(1.0 / (60 + l.lex_rank), 0.0)
                     + COALESCE(1.0 / (60 + s.sem_rank), 0.0), 6) AS rrf_score
        FROM lexpool l FULL OUTER JOIN sempool s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank, rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """


def _retrieval_pools(spark, sf_dir):
    """The two 50-doc retrieval pools shared by the RRF and Spearman
    entries: BM25-against-doc-0's-terms and cosine-against-vec-0, both
    over the documents∩embeddings candidate set (doc_id >= 5)."""
    docs = load(spark, sf_dir, "documents")["documents"]
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    emb_ids = emb.select(F.col("vec_id").alias("doc_id"))
    cand_docs = docs.filter(F.col("doc_id") >= 5).join(
        emb_ids, "doc_id", "left_semi"
    )
    qterms = (
        text._terms(docs.filter(F.col("doc_id") == 0), "text", "doc_id")
        .select("term")
        .distinct()
    )
    lex_pool = retrieval.topk_ranking(
        retrieval.bm25_query_scores(cand_docs, qterms), "bm25", "doc_id", n=50
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).cast("long").alias("qid"), F.col("embedding").alias("qe")
    )
    cands = emb.filter(F.col("vec_id") >= 5).join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    ).select("vec_id", "embedding")
    sem_scores = similarity.cosine_topk(cands, qv, k=50, round_digits=4).select(
        F.col("vec_id").alias("doc_id"), "cos_sim"
    )
    sem_pool = retrieval.topk_ranking(sem_scores, "cos_sim", "doc_id", n=50)
    return lex_pool, sem_pool


@query("retrieval_rrf_hybrid", oracle=_RRF_ORACLE)
def retrieval_rrf_hybrid(spark, sf_dir):
    """Hybrid retrieval (operators/retrieval.py): BM25-against-query and
    cosine-against-query each retrieve a 50-doc pool; reciprocal-rank
    fusion (Cormack et al., SIGIR'09; k=60) merges them without score
    calibration — the standard hybrid-search shape for retrieval-curated
    training data.  Scale: BM25 is partial-agg + one broadcast term join
    with DECIMAL-exact accumulation; each pool cut is
    TakeOrderedAndProject; fusion joins two 50-row frames.  The oracle
    replays both scorers, both rankings, and the fused arithmetic."""
    lex_pool, sem_pool = _retrieval_pools(spark, sf_dir)
    fused = retrieval.rrf_fuse({"lex": lex_pool, "sem": sem_pool}, k=60)
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(10)


_SPEARMAN_ORACLE = f"""
    WITH {_RRF_POOL_CTES},
    joined AS (
        SELECT l.doc_id, l.lex_rank, s.sem_rank
        FROM lexpool l JOIN sempool s ON l.doc_id = s.doc_id
    ),
    ranked AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY lex_rank) AS BIGINT) AS ra,
               CAST(ROW_NUMBER() OVER (ORDER BY sem_rank) AS BIGINT) AS rb
        FROM joined
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(COALESCE(SUM((ra - rb) * (ra - rb)), 0) AS BIGINT) AS sum_d2
        FROM ranked
    )
    SELECT n_items, sum_d2,
           CASE WHEN n_items >= 2 THEN
               ROUND(1.0 - CAST(sum_d2 * 6 AS DOUBLE)
                           / CAST(n_items * (n_items * n_items - 1) AS DOUBLE), 6)
           END AS rho
    FROM sums
    """


@query("eval_rank_correlation", oracle=_SPEARMAN_ORACLE)
def eval_rank_correlation(spark, sf_dir):
    """Spearman rank correlation between the lexical and semantic
    retrieval pools (operators/retrieval.spearman_rho) — the standard
    agreement statistic between two rankers, here answering "how
    differently do BM25 and embedding cosine order the docs they both
    retrieve".  sum(d^2) and n are exact integers (re-ranked densely
    within the pool intersection), so the 1-row result is partition- and
    engine-deterministic; the single double division happens last."""
    lex_pool, sem_pool = _retrieval_pools(spark, sf_dir)
    return retrieval.spearman_rho(lex_pool, sem_pool)


# ---------------------------------------------------------------------------
# corpus rank-frequency diagnostics (Zipf fit)
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = """
    WITH terms AS (
        SELECT t AS term FROM (
            SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '[^a-z0-9]+')) AS t
            FROM documents
        ) WHERE LENGTH(t) > 0
    ),
    counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM terms GROUP BY term),
    ranked AS (
        SELECT freq, rn AS rank FROM (
            SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rn
            FROM counts
        ) WHERE rn <= 500
    ),
    xy AS (
        SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS x,
               CAST(ROUND(LN(CAST(freq AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS y
        FROM ranked
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM xy
    ),
    fit AS (
        SELECT n, sx, sy,
               CASE WHEN n >= 2 THEN
                   ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                         6)
               END AS slope
        FROM sums
    )
    SELECT n AS n_terms, slope,
           CASE WHEN n >= 2 THEN
               ROUND((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * 1000000.0), 6)
           END AS intercept
    FROM fit
    """


@query("text_zipf_slope", oracle=_ZIPF_ORACLE)
def text_zipf_slope(spark, sf_dir):
    """Zipf rank-frequency fit over the top-500 corpus terms
    (operators/text.zipf_fit) — natural text sits near slope -1;
    template-heavy or synthetic corpora bend the curve.  The OLS sums
    accumulate exactly in 1e6-scaled integers so the single-row fit is
    partition-order- and engine-independent; the top-500 cut is
    TakeOrderedAndProject, never a global sort."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.zipf_fit(docs, top_n=500)


# ---------------------------------------------------------------------------
# CCNet perplexity buckets / NDCG retrieval eval
# ---------------------------------------------------------------------------


@query(
    "text_perplexity_buckets",
    oracle=f"""
    WITH {_PPL_CTES},
    scored AS (
        SELECT ppl.doc_id, d.lang, ppl.bits_per_token
        FROM ppl JOIN documents d USING (doc_id)
    ),
    b AS (
        SELECT doc_id, lang, bits_per_token,
               CAST(NTILE(3) OVER (
                   PARTITION BY lang ORDER BY bits_per_token, doc_id
               ) AS INTEGER) AS bucket
        FROM scored
    )
    SELECT doc_id, lang, bits_per_token, bucket,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS tier
    FROM b ORDER BY doc_id
    """,
)
def text_perplexity_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail split (operators/text.
    perplexity_buckets, public method: Wenzek et al. 2020): per-language
    NTILE(3) over the corpus-trained unigram bits-per-token — the
    standard pretraining quality strata, with a deterministic tie-break
    on doc id so the SQL replay matches bucket for bucket.  The
    perplexity CTE chain is shared verbatim with text_unigram_perplexity,
    so the two entries can never diverge on tokenization."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return text.perplexity_buckets(docs, n_buckets=3).orderBy("doc_id")


_NDCG_ORACLE = f"""
    WITH {{pool_ctes}},
    pool AS (
        SELECT doc_id, bm25 FROM lex ORDER BY bm25 DESC, doc_id LIMIT 50
    ),
    hits AS (
        SELECT t.doc_id, CAST(COUNT(DISTINCT t.term) AS BIGINT) AS nq
        FROM terms t JOIN qterms USING (term)
        GROUP BY t.doc_id
    ),
    graded AS (
        SELECT CAST(0 AS BIGINT) AS qid, p.doc_id, p.bm25,
               CAST(LEAST(3, COALESCE(h.nq, 0)) AS INTEGER) AS rel
        FROM pool p LEFT JOIN hits h USING (doc_id)
    ),
    ranked AS (
        SELECT qid,
               CAST(POW(2, rel) - 1 AS BIGINT) AS g,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS ra,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS ri
        FROM graded
    ),
    dterms AS (
        SELECT qid,
               CASE WHEN ra <= 10
                    THEN g * CAST(ROUND(1.0 / (LN(ra + 1.0) / LN(2.0)), 6)
                                  AS DECIMAL(25,6))
                    ELSE CAST(0 AS DECIMAL(25,6)) END AS dt,
               CASE WHEN ri <= 10
                    THEN g * CAST(ROUND(1.0 / (LN(ri + 1.0) / LN(2.0)), 6)
                                  AS DECIMAL(25,6))
                    ELSE CAST(0 AS DECIMAL(25,6)) END AS it
        FROM ranked
    ),
    agg AS (
        SELECT qid, CAST(SUM(dt) AS DOUBLE) AS dcg,
               CAST(SUM(it) AS DOUBLE) AS idcg
        FROM dterms GROUP BY qid
    )
    SELECT qid, dcg, idcg,
           CASE WHEN idcg > 0 THEN ROUND(dcg / idcg, 6) END AS ndcg
    FROM agg
""".format(pool_ctes=_RRF_POOL_CTES)


def _graded_bm25_pool(spark, sf_dir):
    """Shared by eval_ndcg_retrieval / eval_map_retrieval: the 50-doc
    BM25 pool with term-overlap graded relevance (qid, doc_id, bm25,
    rel) — the same candidate set / query terms / BM25 arithmetic the
    RRF and Spearman entries certify."""
    from ..operators import quality  # noqa: F401  (kept for callers)

    docs = load(spark, sf_dir, "documents")["documents"]
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    emb_ids = emb.select(F.col("vec_id").alias("doc_id"))
    cand_docs = docs.filter(F.col("doc_id") >= 5).join(
        emb_ids, "doc_id", "left_semi"
    )
    qterms = (
        text._terms(docs.filter(F.col("doc_id") == 0), "text", "doc_id")
        .select("term")
        .distinct()
    )
    scores = retrieval.bm25_query_scores(cand_docs, qterms)
    pool = scores.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(50)
    # one tokenize pass: rel counts (doc, query term) rows off the same
    # tf subtree the BM25 score shuffles — see eval_ndcg_retrieval
    _dl, qtf = retrieval._query_tf_parts(cand_docs, qterms)
    hits = qtf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("__nq")
    )
    return pool.join(hits, "doc_id", "left").select(
        F.lit(0).cast("long").alias("qid"),
        "doc_id",
        "bm25",
        F.least(F.lit(3), F.coalesce(F.col("__nq"), F.lit(0)))
        .cast("int")
        .alias("rel"),
    )


@query("eval_ndcg_retrieval", oracle=_NDCG_ORACLE)
def eval_ndcg_retrieval(spark, sf_dir):
    """NDCG@10 of the BM25 retriever (operators/quality.ndcg_at_k) over
    the shared 50-doc lexical pool, with graded relevance = number of
    distinct query terms present in the document (capped at 3) — the
    standard ranked-retrieval eval next to the corpus' AUC/Spearman
    entries.  Rank discounts round at 6 before exact DECIMAL
    accumulation; both the actual and the ideal ranking tie-break on doc
    id, so the single-row result is engine-exact.  The candidate set,
    query terms and BM25 arithmetic are the SAME CTE chain the RRF and
    Spearman entries certify."""
    from ..operators import quality

    docs = load(spark, sf_dir, "documents")["documents"]
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    emb_ids = emb.select(F.col("vec_id").alias("doc_id"))
    cand_docs = docs.filter(F.col("doc_id") >= 5).join(
        emb_ids, "doc_id", "left_semi"
    )
    qterms = (
        text._terms(docs.filter(F.col("doc_id") == 0), "text", "doc_id")
        .select("term")
        .distinct()
    )
    scores = retrieval.bm25_query_scores(cand_docs, qterms)
    pool = scores.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(50)
    # graded relevance from the SAME tokenize + (doc, term) aggregation
    # subtree the BM25 score shuffles (retrieval._query_tf_parts): qtf has
    # one row per (doc, query term) present, so COUNT(*) == the old
    # COUNT(DISTINCT term) over the raw token explode — identical rel
    # integers, one corpus tokenize pass instead of two (the old hits
    # exchange was keyed by doc_id, the tf exchange by (doc_id, term), so
    # nothing upstream was shareable between them).
    _dl, qtf = retrieval._query_tf_parts(cand_docs, qterms)
    hits = qtf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("__nq")
    )
    graded = pool.join(hits, "doc_id", "left").select(
        F.lit(0).cast("long").alias("qid"),
        "doc_id",
        "bm25",
        F.least(F.lit(3), F.coalesce(F.col("__nq"), F.lit(0)))
        .cast("int")
        .alias("rel"),
    )
    return quality.ndcg_at_k(
        graded, k=10, query_col="qid", id_col="doc_id",
        score_col="bm25", rel_col="rel",
    )


_MAP_ORACLE = f"""
    WITH {{pool_ctes}},
    pool AS (
        SELECT doc_id, bm25 FROM lex ORDER BY bm25 DESC, doc_id LIMIT 50
    ),
    hits AS (
        SELECT t.doc_id, CAST(COUNT(DISTINCT t.term) AS BIGINT) AS nq
        FROM terms t JOIN qterms USING (term)
        GROUP BY t.doc_id
    ),
    graded AS (
        SELECT CAST(0 AS BIGINT) AS qid, p.doc_id, p.bm25,
               CAST(LEAST(3, COALESCE(h.nq, 0)) AS INTEGER) AS rel
        FROM pool p LEFT JOIN hits h USING (doc_id)
    ),
    ranked AS (
        SELECT qid,
               CASE WHEN rel > 0 THEN 1 ELSE 0 END AS r,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS i,
               SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) OVER (
                   PARTITION BY qid ORDER BY bm25 DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM graded
    ),
    pterms AS (
        SELECT qid, r,
               CAST(CASE WHEN i <= 10 AND r = 1
                         THEN ROUND(CAST(cum AS DOUBLE) / i, 6)
                         ELSE 0.0 END AS DECIMAL(25,6)) AS p
        FROM ranked
    ),
    agg AS (
        SELECT qid, CAST(SUM(r) AS BIGINT) AS n_rel, SUM(p) AS sp
        FROM pterms GROUP BY qid
    )
    SELECT qid, n_rel,
           CASE WHEN n_rel > 0
                THEN ROUND(CAST(sp AS DOUBLE) / CAST(LEAST(n_rel, 10) AS DOUBLE), 6)
                END AS ap
    FROM agg
""".format(pool_ctes=_RRF_POOL_CTES)


@query("eval_map_retrieval", oracle=_MAP_ORACLE)
def eval_map_retrieval(spark, sf_dir):
    """Average Precision@10 of the BM25 retriever
    (operators/quality.map_at_k) over the shared 50-doc lexical pool —
    the binary-relevance companion to eval_ndcg_retrieval (rel > 0 =
    relevant), on the SAME candidate/BM25 CTE chain, so the three
    ranked-retrieval evals (NDCG, AP, Spearman) certify one another's
    setup.  Each precision@i is one exact-integer IEEE division rounded
    at 6 into a DECIMAL sum; the single-row result is engine-exact."""
    from ..operators import quality

    graded = _graded_bm25_pool(spark, sf_dir)
    return quality.map_at_k(
        graded, k=10, query_col="qid", id_col="doc_id",
        score_col="bm25", rel_col="rel",
    )


@query(
    "embed_covariance",
    oracle="""
    WITH idx AS (SELECT CAST(range AS INTEGER) AS i FROM range(0, 64)),
    pairs AS (
        SELECT x.i AS i, y.i AS j,
               CAST(e.embedding[x.i + 1] * e.embedding[y.i + 1] AS DOUBLE) AS xy
        FROM embeddings e, idx x, idx y
        WHERE y.i >= x.i
    ),
    s AS (
        SELECT i, j,
               CAST(SUM(CAST(xy AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
               COUNT(*) AS n
        FROM pairs GROUP BY i, j
    ),
    m AS (
        SELECT x.i AS i,
               CAST(SUM(CAST(CAST(e.embedding[x.i + 1] AS DOUBLE)
                             AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS mean
        FROM embeddings e, idx x
        GROUP BY x.i
    )
    SELECT s.i, s.j,
           ROUND(s.sxy / s.n - mi.mean * mj.mean, 6) + 0.0 AS cov
    FROM s JOIN m mi ON mi.i = s.i JOIN m mj ON mj.i = s.j
    ORDER BY s.i, s.j
    """,
)
def embed_covariance(spark, sf_dir):
    """Distributed covariance of the 64-dim embedding corpus as the
    2080-row upper triangle (operators/similarity.embed_covariance,
    exact mode) — the one-pass statistic behind PCA projection /
    whitening (similarity.pca_project runs the d x d eigh on the driver
    and projects JVM-side).  Every E[x_i x_j] and E[x_i] is a DECIMAL
    accumulation over float*float-widened-to-double products (the
    certified dot arithmetic), so the matrix is engine-exact.  Scale:
    per-row pair explosion is partial-aggregated map-side before the
    only shuffle, whose key space (i, j) is dim^2-bounded and uniform;
    the mapInPandas Gram mode (tested, not certified) cuts the exploded
    rows to one d x d partial per Arrow batch when dim is large."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.embed_covariance(emb, dim=64, method="exact").orderBy(
        "i", "j"
    )


@query(
    "dedup_fuzzy_levenshtein",
    oracle="""
    WITH newdocs AS (
        SELECT doc_id + 5000000 AS doc_id, text || ' ok' AS text
        FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 6000000, text FROM documents WHERE doc_id % 11 = 0
        UNION ALL
        SELECT doc_id + 7000000, text || ' plus an entirely new trailing sentence'
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 8000000, 'za ' || text FROM documents WHERE doc_id % 13 = 0
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.text AS ta, b.text AS tb
        FROM documents a JOIN newdocs b
          ON SUBSTRING(a.text, 1, 16) = SUBSTRING(b.text, 1, 16)
         AND ABS(LENGTH(a.text) - LENGTH(b.text)) <= 3
        UNION
        SELECT a.doc_id, b.doc_id, a.text, b.text
        FROM documents a JOIN newdocs b
          ON SUBSTRING(REVERSE(a.text), 1, 16) = SUBSTRING(REVERSE(b.text), 1, 16)
         AND ABS(LENGTH(a.text) - LENGTH(b.text)) <= 3
    )
    SELECT doc_a, doc_b, CAST(MIN(LEVENSHTEIN(ta, tb)) AS INTEGER) AS dist
    FROM cand
    WHERE LEVENSHTEIN(ta, tb) <= 3
    GROUP BY doc_a, doc_b
    ORDER BY doc_a, doc_b
    """,
)
def dedup_fuzzy_levenshtein(spark, sf_dir):
    """Character-level fuzzy dedup of an ingest batch against the corpus
    (operators/dedup.fuzzy_levenshtein_pairs, max_dist=3): the batch is
    derived deterministically so every arm fires at every SF — %5 docs
    get a 3-char tail edit (dist 3, caught by the HEAD block), %11 are
    unchanged (dist 0), %13 get a 3-char head edit (caught only by the
    reversed-tail block — certifies the two-ended blocking union), %7
    get a long suffix (length filter prunes before the DP verify).  The
    oracle replays the same blocked algorithm — both engines implement
    textbook Levenshtein, and Spark's bounded form (threshold arg)
    returns the true distance whenever it is within the bound.  Scale:
    candidates are bounded by the 16-char block keys + the length
    filter; verify is O(len * max_dist) early-abandon, never all-pairs."""
    docs = load(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    tail_edit = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" ok")).alias("text"),
    )
    unchanged = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 6000000).alias("doc_id"), "text"
    )
    long_suffix = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 7000000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" plus an entirely new trailing sentence")
        ).alias("text"),
    )
    head_edit = docs.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 8000000).alias("doc_id"),
        F.concat(F.lit("za "), F.col("text")).alias("text"),
    )
    batch = tail_edit.unionByName(unchanged).unionByName(long_suffix).unionByName(
        head_edit
    )
    return dedup.fuzzy_levenshtein_pairs(
        docs, batch, max_dist=3, block_prefix=16
    ).orderBy("doc_a", "doc_b")


_SILHOUETTE_ORACLE = f"""
WITH cent(cell, cv) AS (VALUES {{centroid_values}}),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
d AS (
    SELECT v.vec_id, cent.cell,
           SQRT(LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(v.e, cent.cv),
                p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                     * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
                (s, e) -> s + e)) AS dist
    FROM v CROSS JOIN cent
),
r AS (
    SELECT vec_id, cell, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM d
),
ab AS (
    SELECT vec_id,
           CAST(MIN(CASE WHEN rn = 1 THEN cell END) AS INTEGER) AS cell,
           MIN(CASE WHEN rn = 1 THEN dist END) AS a,
           MIN(CASE WHEN rn = 2 THEN dist END) AS b
    FROM r WHERE rn <= 2 GROUP BY vec_id
),
s AS (
    SELECT cell,
           CASE WHEN GREATEST(a, b) > 0
                THEN ROUND((b - a) / GREATEST(a, b), 6)
                ELSE 0.0 END AS s
    FROM ab
)
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(s AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6) AS mean_s
FROM s GROUP BY cell ORDER BY cell
""".format(centroid_values=_semdedup_centroid_values())


@query("embed_silhouette", oracle=_SILHOUETTE_ORACLE)
def embed_silhouette(spark, sf_dir):
    """Per-cluster simplified silhouette
    (operators/similarity.silhouette_simplified) over the SemDeDup
    pinned centroids — the "are these cells real clusters" health check
    for the IVF/SemDeDup blocking that several scale paths rely on.
    Random hyperplane centroids on near-isotropic synthetic vectors
    give mean_s near 0 (no real cluster structure) — exactly what the
    diagnostic should report here.  All k distances compute in one
    map-side projection per row (certified float->double fold + IEEE
    sqrt); per-point s rounds at 6 into per-cell DECIMAL means.  The
    only shuffle is the k-cell partial aggregate."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.silhouette_simplified(
        emb, _SEMDEDUP_CENTROIDS
    ).orderBy("cell")


@query(
    "dedup_fuse_records",
    oracle="""
    WITH d AS (
        SELECT *, CAST(doc_id % 97 AS BIGINT) AS cluster FROM documents
    ),
    base AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
               MAX(n_chars) AS n_chars, MIN(doc_id) AS doc_id
        FROM d GROUP BY cluster
    ),
    longest AS (
        SELECT cluster, text FROM (
            SELECT cluster, text,
                   ROW_NUMBER() OVER (PARTITION BY cluster
                       ORDER BY LENGTH(text) DESC, doc_id) AS rn
            FROM d
        ) WHERE rn = 1
    ),
    modes AS (
        SELECT cluster, lang FROM (
            SELECT cluster, lang,
                   ROW_NUMBER() OVER (PARTITION BY cluster
                       ORDER BY COUNT(*) DESC, lang) AS rn
            FROM d GROUP BY cluster, lang
        ) WHERE rn = 1
    )
    SELECT b.cluster, b.n_members, b.n_chars, b.doc_id, l.text, m.lang
    FROM base b JOIN longest l USING (cluster) JOIN modes m USING (cluster)
    ORDER BY cluster
    """,
)
def dedup_fuse_records(spark, sf_dir):
    """Record fusion (operators/dedup.fuse_records): collapse each
    duplicate cluster to one golden record with field-level survivorship
    — longest text (ties -> lowest id), max n_chars, earliest doc_id,
    modal language (ties -> lexicographic).  Clusters here are synthetic
    (doc_id % 97, ~5 members each) so every rule sees real multi-member
    groups with genuine mode ties at every SF; the production input is
    exact_clusters / survivor_selection components.  Every rule is
    deterministic under ties, so the fused table replays bit-for-bit.
    Scale: windows partitioned by the cluster key (skew bounded by the
    largest duplicate family) + one per-cluster aggregate."""
    docs = load(spark, sf_dir, "documents")["documents"]
    clustered = docs.withColumn(
        "cluster", (F.col("doc_id") % 97).cast("long")
    )
    return dedup.fuse_records(
        clustered,
        "cluster",
        id_col="doc_id",
        longest_col="text",
        max_cols=["n_chars"],
        min_cols=["doc_id"],
        mode_cols=["lang"],
    ).orderBy("cluster")


_ADAMIC_ADAR_ORACLE = """
WITH toks AS (
    SELECT doc_id, lang,
           LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+')) AS grams
    FROM documents WHERE n_chars < 400 AND doc_id % 7 = 0
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM toks a JOIN toks b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(LEN(LIST_INTERSECT(a.grams, b.grams)) AS DOUBLE) /
          (LEN(a.grams) + LEN(b.grams) - LEN(LIST_INTERSECT(a.grams, b.grams))) >= 0.55
),
und AS (
  SELECT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM pairs WHERE doc_a <> doc_b GROUP BY 1, 2
),
adj AS (SELECT u AS z, v AS nb FROM und UNION ALL SELECT v, u FROM und),
deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY z),
adjd AS (SELECT a.z, a.nb, d.deg FROM adj a JOIN deg d USING (z)),
wedges AS (
  SELECT l.nb AS node_a, r.nb AS node_b, l.deg
  FROM adjd l JOIN adjd r ON l.z = r.z AND l.nb < r.nb
),
scored AS (
  SELECT node_a, node_b, CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(CAST(ROUND(1.0 / LN(deg), 9) AS DECIMAL(38,9)))
              AS DOUBLE) AS aa_score
  FROM wedges GROUP BY node_a, node_b
)
SELECT s.node_a, s.node_b, s.n_common, s.aa_score
FROM scored s
WHERE NOT EXISTS (SELECT 1 FROM und e
                  WHERE e.u = s.node_a AND e.v = s.node_b)
ORDER BY s.node_a, s.node_b
"""


@query("graph_adamic_adar", oracle=_ADAMIC_ADAR_ORACLE)
def graph_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (operators/graph.adamic_adar) over the
    token-set similarity graph (lang-blocked Jaccard >= 0.55 on a %7 doc
    sample) — a graph that, unlike the minhash near-dup CLIQUES, is
    genuinely non-transitive: similarity balls overlap without closing,
    so thousands of non-adjacent wedge pairs earn scores at every SF
    (57 / 67 / 8115 predicted links at the three driver SFs — the
    minhash graph scores ZERO everywhere, a vacuity this entry's graph
    choice exists to avoid).  Common-neighbor weights are
    ROUND(1/LN(deg), 9) summed in DECIMAL (order-free, libm-rounded per
    the corpus policy); counts are exact BIGINTs.  The oracle replays
    the wedge self-join + existing-edge anti-join verbatim."""
    docs = load(spark, sf_dir, "documents")["documents"]
    sub = docs.where((F.col("n_chars") < 400) & (F.col("doc_id") % 7 == 0))
    pairs = dedup.ngram_jaccard_pairs(sub, threshold=0.55, block_cols=["lang"])
    return graph.adamic_adar(pairs).orderBy("node_a", "node_b")
