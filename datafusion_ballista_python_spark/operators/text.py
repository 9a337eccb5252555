"""Text-analysis operators for training-data pipelines.

All pure Catalyst expressions (regex/string builtins — whole-stage codegen,
no Python in the hot path), so they run at scan throughput on 100 TB of
documents: no shuffle at all, embarrassingly parallel per partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _trimmed(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(c)


# GPT-2-style pre-tokenizer shape (contractions | space-prefixed letter /
# digit / punctuation runs | whitespace), ASCII form without lookahead so
# RE2 (DuckDB oracle) and Java regex (Spark) agree match-for-match.
# Whitespace is the EXPLICIT class [ \t\n\f\r], not \s: Java's \s includes
# \x0B (vertical tab) while RE2's does not, and that one character would
# silently split pieces differently across the two engines
BPE_ISH_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^ \t\n\f\ra-z0-9]+|[ \t\n\f\r]+"
)


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace-token, word, and BPE-ish piece counts per document.

    ``n_tokens`` splits on ``\\s+`` (whitespace runs), ``n_words`` on
    non-alphanumeric runs, and ``n_bpe_pieces`` counts matches of a
    GPT-2-style pre-tokenization regex (:data:`BPE_ISH_RE`) — the three
    standard pre-training token estimates, cheapest to most faithful.
    All pure codegen, zero shuffle.
    """
    t = _trimmed(text_col)
    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars_m"),
        F.size(F.split(t, r"\s+")).cast("long").alias("n_tokens"),
        F.size(F.split(F.lower(t), r"[^a-z0-9]+")).cast("long").alias("n_words"),
        F.regexp_count(F.lower(t), F.lit(BPE_ISH_RE)).cast("long").alias("n_bpe_pieces"),
    )


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Cheap quality heuristics: alphabetic ratio, whitespace ratio, average
    token length.  Use as pre-filters before expensive model scoring."""
    c = F.col(text_col)
    t = _trimmed(text_col)
    n_alpha = F.length(F.regexp_replace(c, "[^a-zA-Z]", ""))
    n_space = F.length(F.regexp_replace(c, "[^ ]", ""))
    n_tokens = F.size(F.split(t, r"\s+"))
    return df.select(
        F.col(id_col),
        F.length(c).cast("long").alias("len"),
        F.round(n_alpha.cast("double") / F.length(c), 6).alias("alpha_ratio"),
        F.round(n_space.cast("double") / F.length(c), 6).alias("space_ratio"),
        F.round(F.length(t).cast("double") / n_tokens, 6).alias("avg_token_len"),
    )


def normalized_text(col: str | Column = "text") -> Column:
    """Canonical form for fingerprinting: lowercase, whitespace collapsed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def repetition_metrics(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style intra-document repetition signals — the standard
    quality filter that catches boilerplate loops and degenerate
    generations before training:

    - ``dup_ngram_frac``: fraction of word ``n``-gram OCCURRENCES that are
      repeats of an earlier occurrence (``1 - distinct/total``);
    - ``top_ngram_frac``: fraction of all n-gram occurrences taken by the
      single most frequent n-gram;
    - ``n_ngrams``: total n-gram occurrences (filter support).

    Docs with fewer than ``n`` tokens are omitted (no n-grams exist).

    Scale: both metrics come from ONE hash shuffle on (doc, n-gram) with
    map-side partial aggregation (counts per gram), then a per-doc
    roll-up — shuffle bytes are O(distinct n-grams per doc), never
    O(text), and no second pass over the corpus.
    """
    from .training import _ngrams, _token_array

    grams = df.select(
        F.col(id_col), _ngrams(_token_array(text_col), n).alias("__gs")
    ).where(F.size("__gs") > 0)
    per_gram = (
        grams.select(F.col(id_col), F.explode("__gs").alias("__g"))
        .groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    top = per_gram.groupBy(id_col).agg(
        F.max("__c").alias("__top"),
        F.sum("__c").cast("long").alias("n_ngrams"),
        F.count(F.lit(1)).alias("__distinct"),
    )
    return top.select(
        F.col(id_col),
        "n_ngrams",
        (
            F.lit(1.0)
            - F.col("__distinct").cast("double") / F.col("n_ngrams")
        ).alias("dup_ngram_frac"),
        (F.col("__top").cast("double") / F.col("n_ngrams")).alias("top_ngram_frac"),
    )


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic document fingerprint: md5 of normalized text."""
    return df.select(
        F.col(id_col), F.md5(normalized_text(text_col)).alias("fingerprint")
    )


# language-id stopword sets: tiny, deterministic, cross-engine expressible
_LANG_STOPWORDS = [
    ("en", ["the", "and", "of", "to", "is"]),
    ("de", ["der", "die", "und", "das", "ist"]),
    ("es", ["el", "la", "de", "que", "es"]),
    ("fr", ["le", "la", "et", "les", "est"]),
]


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", min_hits: int = 2
) -> DataFrame:
    """n-gram/stopword language heuristic: first language whose stopword set
    intersects the document's token set in >= ``min_hits`` words.

    Priority order is fixed (en > de > es > fr) so results are deterministic;
    a real pipeline would score all languages and argmax.
    """
    words = F.split(F.lower(F.col(text_col)), r"[^a-zà-ÿäöüßñ]+")
    guess = None
    for lang, stops in reversed(_LANG_STOPWORDS):
        hits = F.size(F.array_intersect(words, F.array(*[F.lit(s) for s in stops])))
        this = F.when(hits >= min_hits, F.lit(lang))
        guess = this.otherwise(guess) if guess is not None else this.otherwise(F.lit("unknown"))
        # build nested WHEN from lowest to highest priority
    # reversed() above means the final expression checks 'en' first
    out_cols = [F.col(id_col)]
    if "lang" in df.columns:
        out_cols.append(F.col("lang"))
    return df.select(*out_cols, guess.alias("lang_guess"))


_STOPWORDS_EN = [
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
]


def stopword_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword density — the classic fluency/quality signal (boilerplate
    and keyword-stuffed text score low; natural prose ~0.3-0.5)."""
    words = F.split(F.lower(_trimmed(text_col)), r"[^a-z0-9]+")
    stops = F.array(*[F.lit(s) for s in _STOPWORDS_EN])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stops, w)))
    return df.select(
        F.col(id_col),
        F.size(words).cast("long").alias("n_words"),
        n_stop.cast("long").alias("n_stopwords"),
        F.round(n_stop.cast("double") / F.size(words), 6).alias("stopword_ratio"),
    )


# -- winnowing fingerprints (rolling hash) ---------------------------------

WINNOW_PRIME = 1_000_000_007
WINNOW_BASE = 257


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): k-gram
    polynomial rolling hashes, minimum per sliding window of ``window``
    hashes, distinct mins = the fingerprint set.  Guarantees any shared
    substring of length >= k+window-1 yields a shared fingerprint —
    the plagiarism/near-dup detection primitive.

    Shape (measured; a nested transform/aggregate-over-sequence HOF version
    was ~1000x slower — deeply nested lambda evaluation leaves codegen):
    materialize char codes once per doc -> posexplode to skinny
    (doc, pos, code) rows -> gram hash from k-1 LEADs over the per-doc
    window (flat codegen arithmetic) -> sliding min via a ROWS window on
    the same partitioning/ordering (one exchange, one sort) -> distinct.
    Earlier explode-positions form carried the full text string into
    every position row — O(len^2) bytes of row traffic per document
    (ruinous for long docs at scale); this form carries 24 bytes per
    position regardless of document length.
    """
    txt = F.lower(_trimmed(text_col))
    # >= k + window - 1, the minimum length holding ONE full winnowing
    # window (L-k+1 >= window grams); the earlier >= k + window pre-filter
    # was off by one and dropped boundary-length docs the documented
    # shared-substring guarantee covers (review-pass fix; the window math
    # below always handled L = k+window-1 correctly)
    d = df.select(F.col(id_col), txt.alias("__t")).filter(
        F.length("__t") >= k + window - 1
    )
    codes = d.withColumn(
        "__c",
        F.transform(
            F.sequence(F.lit(1), F.length("__t")),
            lambda i: F.ascii(F.substring(F.col("__t"), i, 1)).cast("long")
            % WINNOW_PRIME,
        ),
    ).select(F.col(id_col), F.posexplode("__c").alias("__i", "__code"))
    powers = [pow(WINNOW_BASE, k - 1 - j, WINNOW_PRIME) for j in range(k)]
    wlead = Window.partitionBy(id_col).orderBy("__i")
    gram = None
    for j, p in enumerate(powers):
        c = F.col("__code") if j == 0 else F.lead("__code", j).over(wlead)
        term = (c * p) % WINNOW_PRIME
        gram = term if gram is None else (gram + term) % WINNOW_PRIME
    # lead() past the end is NULL, which nulls the gram — exactly the last
    # k-1 positions that have no full k-gram
    grams = codes.select(F.col(id_col), F.col("__i"), gram.alias("__g")).where(
        F.col("__g").isNotNull()
    )
    wdoc = Window.partitionBy(id_col)
    wslide = Window.partitionBy(id_col).orderBy("__i").rowsBetween(0, window - 1)
    return (
        grams.withColumn("__mx", F.max("__i").over(wdoc))
        .withColumn("__m", F.min("__g").over(wslide))
        .where(F.col("__i") <= F.col("__mx") - (window - 1))
        .select(F.col(id_col), F.col("__m").alias("fp"))
        .distinct()
        .orderBy(id_col, "fp")
    )


# -- corpus-statistics term scoring (tf-idf / BM25) ------------------------


def _terms(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per (doc, term occurrence): lowercase, non-alphanumeric
    split (the same tokenization as token_counts.n_words)."""
    return df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(_trimmed(text_col)), r"[^a-z0-9]+")).alias("term"),
    ).filter(F.length("term") > 0)


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k tf-idf terms per document (smoothed idf:
    ``ln((N+1)/(df+1)) + 1``), rounded to 6 decimals before ranking so
    rank boundaries are engine-stable.

    Scale shape: term explode feeds a map-side-partial (doc, term) count
    (Zipf-skewed hot terms collapse before the shuffle); document
    frequency rides ONE term-keyed exchange as COUNT() OVER (PARTITION BY
    term) — the r11 window form (same as _ordered_grams): the previous
    separate df aggregate + tf<->df join re-shuffled the tf table by term
    ANYWAY whenever the vocabulary was too big to broadcast, so the
    window pays the same exchange while deleting the second tf pass and
    the join (A/B: 0.70 -> 0.65 s at sf0.1, identical rows); the corpus
    size N is a 1-row broadcast; the final per-doc top-k is one window
    shuffle on doc id.  No driver-side collect anywhere.

    Known trade (advisor note): the window form gives up two escape
    hatches the join had when the vocabulary DID fit the broadcast
    threshold — AQE could broadcast the df side (skipping the term
    exchange of tf entirely) and could in principle skew-split the join
    — so one Zipf-head term's posting list lands on a single reducer
    with no runtime mitigation.  In practice neither hatch was real at
    corpus scale: an unbounded vocabulary cannot broadcast, and the
    skew split never fires on an aggregate-fed join (OptimizeSkewedJoin
    pattern-matches SMJ(Sort(ShuffleRead), Sort(ShuffleRead)) only —
    verified in the r12 skew work, dedup._ordered_grams).  A corpus
    with boilerplate-dominated term distributions should pre-filter
    stopwords upstream; OPTIMIZATION_r12.md §1 records the measured
    salted df attach (two-phase count, salted join) if this site ever
    needs that hardening.
    """
    terms = _terms(df, text_col, id_col)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    n = df.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    idf = F.log((F.col("n_docs").cast("double") + 1) / (F.col("df").cast("double") + 1)) + 1
    wt = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(wt))
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tf") * idf, 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.col("term"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(F.col(id_col), "term", "tf", "df", "tfidf")
    )


def bm25_top_terms(
    df: DataFrame,
    k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k BM25-scored terms per document (Robertson idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``, length-normalized tf).

    Same shuffle shape as :func:`tfidf_top_terms` plus a per-doc length
    aggregate; (N, avgdl) reduce to a 1-row broadcast so the length
    normalization is map-side.  r11: df and dl attach as window
    aggregates — df in the term-keyed exchange (see tfidf_top_terms),
    dl in the SAME doc-keyed exchange the final rank window needs — so
    both join-back passes over tf are gone (A/B: 1.01 -> 0.89 s at
    sf0.1, identical rows); the dl branch survives only as the 1-row
    (n_docs, avgdl) stats aggregate.
    """
    terms = _terms(df, text_col, id_col)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    stats = (
        tf.groupBy(id_col)
        .agg(F.sum("tf").cast("long").alias("dl"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
    )
    idf = F.log(
        1
        + (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
    )
    wt = Window.partitionBy("term")
    wd = Window.partitionBy(id_col)
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(wt))
        .withColumn("dl", F.sum("tf").over(wd).cast("long"))
        .crossJoin(F.broadcast(stats))
        .withColumn("bm25", F.round(idf * tf_norm, 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("bm25"), F.col("term"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(F.col(id_col), "term", "tf", "dl", "bm25")
    )


# -- corpus-trained unigram LM perplexity (CCNet-style) --------------------


def unigram_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm: DataFrame | None = None,
) -> DataFrame:
    """Per-document bits-per-token under a corpus-trained unigram language
    model — the cheap end of CCNet-style perplexity filtering (docs whose
    token distribution diverges from the corpus score high; gibberish and
    boilerplate-heavy pages are the usual outliers).

    ``lm``, if given, is a pre-trained ``(term, c)`` count table (e.g.
    from a clean reference corpus); by default the model is trained on
    ``df`` itself, so every scored token has ``c >= 1`` and no smoothing
    is needed.  With an external ``lm``, out-of-vocabulary tokens are
    EXCLUDED from both ``n_tokens`` and ``sum_bits`` (left join + null
    filter on the model count) — the score is in-vocab bits per in-vocab
    token — but every document still gets a row: a fully-OOV document
    comes back with ``n_tokens = 0`` and NULL ``bits_per_token``, so a
    ``bits_per_token > tau`` quality gate can route it explicitly instead
    of never seeing it.  Callers who want OOV mass to count should smooth
    the table first (add a sentinel row and coalesce the join).  ``p(t) = c / N``; per-token surprisal ``-log2 p`` is
    rounded to 6 decimals BEFORE aggregation (libm ``ln`` may differ in
    the last ulp across engines), then accumulated exactly in
    DECIMAL(25,6) scaled by the per-doc term frequency, so the result is
    bit-identical regardless of partition order or engine.

    Returns ``(id_col, n_tokens, sum_bits, bits_per_token)`` for every
    document with at least one token.

    Scale shape: tokenize + per-(doc,term) tf collapse map-side before
    any shuffle (the Zipf head never ships one row per occurrence); the
    global term-count table is one partial-agg shuffle on term; N is a
    1-row broadcast; the tf<->model join shuffles on term (vocabulary is
    unbounded at corpus scale — AQE broadcasts it when small); the final
    per-doc aggregate is map-side-partial.  Zero Python, zero collect.
    """
    terms = _terms(df, text_col, id_col)
    tf = terms.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # self-trained model counts from a SECOND aggregation of the raw
    # terms frame (identical integers: corpus term count == sum of
    # per-doc tfs).  The r11 round derived counts from tf instead
    # (counts = tf.groupBy(term).sum(tf)) to save this branch's
    # tokenize+explode; the r12 tripwire A/B (OPTIMIZATION_r12.md §6)
    # measured that form a real 1.26x regression on the composing
    # perplexity_buckets entry and neutral on the solo entry: deriving
    # from tf SERIALIZES the counts branch behind tf's (id, term)
    # exchange (tokenize -> X(id,term) -> agg -> X(term) on the critical
    # path), while the independent branch here runs CONCURRENTLY with
    # the tf branch and partial-aggregates map-side before its one
    # skinny vocabulary exchange — no extra shuffled bytes, just a
    # second pass over the pruned text column, which is this repo's
    # standing cheaper-at-scale trade (cf. fuzzy_levenshtein).
    counts = (
        lm.select("term", F.col("c").cast("long").alias("c"))
        if lm is not None
        else terms.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    total = counts.agg(F.sum("c").cast("long").alias("n"))
    bits = F.round(
        -F.log(F.col("c").cast("double") / F.col("n").cast("double"))
        / F.log(F.lit(2.0)),
        6,
    )
    in_vocab = F.col("c").isNotNull()
    zero = F.lit(0).cast("decimal(25,6)")
    scored = (
        # left join: OOV terms keep their doc row (c null) so fully-OOV
        # documents still surface in the result instead of vanishing
        tf.join(counts, "term", "left")
        .crossJoin(F.broadcast(total))
        # tf * decimal(bits) stays exact integer-scaled arithmetic
        .withColumn(
            "__bits",
            F.when(in_vocab, F.col("tf") * bits.cast("decimal(25,6)")).otherwise(zero),
        )
        .withColumn("__tf", F.when(in_vocab, F.col("tf")).otherwise(F.lit(0)))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("__tf").cast("long").alias("n_tokens"),
        F.sum("__bits").alias("__sum_dec"),
    )
    # The per-doc mean is rounded half-up at 6 decimals in EXACT INTEGER
    # arithmetic (same discipline as bigram_perplexity / char_entropy):
    # engine ROUND on the double quotient is a trap — a quotient landing
    # within an ulp of a decimal midpoint rounds differently under
    # Spark's exact-BigDecimal HALF_UP vs DuckDB's multiply-then-round.
    # The sf0.1 full-corpus replay caught exactly that (4.910475 vs
    # 4.910476 on one of 5000 docs); the micro-bit sum is integral, so
    # (2*micro + n) DIV (2*n) rounds identically everywhere.
    micro = (F.col("__sum_dec") * F.lit(1000000)).cast("long")
    return (
        per_doc.select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("__sum_dec").cast("double").alias("sum_bits"),
            micro.alias("__micro"),
        )
        .withColumn(
            "bits_per_token",
            F.when(
                F.col("n_tokens") > 0,
                F.expr("(2 * __micro + n_tokens) DIV (2 * n_tokens)").cast(
                    "double"
                )
                / F.lit(1000000.0),
            ),
        )
        .drop("__micro")
    )


# -- cross-document repeated spans (memorization / substring-dup signal) ---


def repeated_spans(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Word ``n``-gram spans that recur across at least ``min_docs``
    distinct documents — the scalable proxy for exact-substring
    deduplication (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): long verbatim spans shared across documents
    are what models memorize.  A full suffix-array dedup is not
    expressible as a bounded dataflow; distinct-``n``-gram document
    frequency over a long ``n`` finds the same repeated material with one
    partial-agg shuffle.

    Returns ``(span, n_docs, n_occurrences)`` for qualifying spans:
    ``n_docs`` counts documents containing the span, ``n_occurrences``
    total occurrences corpus-wide (> n_docs means it also repeats
    within documents).

    Scale shape: n-gram assembly is whole-stage codegen
    (sequence/transform/slice, no Python); per-doc occurrence counting
    collapses in the SAME map-side partial as the document count (one
    count + one sum over a per-(doc,span) pre-aggregate), so exactly one
    wide shuffle on the span key ships one row per (doc, distinct span).
    The ``min_docs`` filter prunes the Zipf tail immediately after the
    aggregate, before anything downstream.
    """
    from .training import _ngrams, _token_array

    per_doc = (
        df.select(
            F.col(id_col),
            F.explode(_ngrams(_token_array(text_col), n)).alias("span"),
        )
        .groupBy(id_col, "span")
        .agg(F.count(F.lit(1)).cast("long").alias("occ"))
    )
    return (
        per_doc.groupBy("span")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("occ").cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def maximal_repeated_spans(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MAXIMAL repeated token spans via sorted k-gram anchors +
    extend-and-merge — the length-extensible upgrade of
    :func:`repeated_spans` toward Lee et al.'s exact-substring
    deduplication (fixed-length n-grams only report length-n windows; a
    500-token verbatim duplicate should surface as ONE span, not 493).

    Semantics: anchor position p in a document is HOT if its word
    ``n``-gram occurs >= ``min_count`` times corpus-wide (across OR
    within documents — within-doc verbatim repeats are memorization
    signal too, unlike repeated_spans' ``min_docs``).  Runs of
    CONSECUTIVE hot anchors merge per document (gaps-and-islands) into
    maximal intervals: interval [p, p+m-n] covers m tokens whose every
    length-n window is corpus-repeated.  This is the k-gram-anchored
    approximation — it can over-merge where two distinct repeats abut
    (suffix-array exactness is not a bounded dataflow), but it never
    under-reports: every truly repeated span of length >= n is covered
    by exactly one maximal interval.

    Output: ``(doc_id, start_pos, n_tokens, span_text)``, start_pos
    0-based in token coordinates.

    Scale shape: anchor assembly is codegen (the _ngrams
    sequence/slice); ONE shuffle on the span key counts occurrences
    (map-side partials, Zipf head collapses early); hot positions come
    back via one span equi-join; the merge is a per-DOCUMENT window
    (bounded by doc length, never a global sort); the final text slice
    is one id equi-join against the SAME materialized token arrays the
    anchors came from (localCheckpoint — corpus-wide tokenization runs
    once, not once per consumer).
    """
    if n < 2 or min_count < 2:
        raise ValueError("need n >= 2 and min_count >= 2")
    return _maximal_spans_from_toks(
        _tokens_frame(df, text_col, id_col), n, min_count, id_col
    )


def _tokens_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, __t) token-array frame, materialized ONCE.

    localCheckpoint, not persist, for the same reason as
    triangle_count's oriented-edge frame: the span pipelines consume the
    tokenization 2-3 times (anchor explode, span-text slice join,
    position explode), and a lazily returned persist would re-tokenize
    the whole corpus per consumer until the cache materializes.  LAZY by
    the r12 measurement (OPTIMIZATION_r12.md §7: spans 0.90 -> 0.87 s,
    exact_substrings 0.48 -> 0.39 s, identical rows): the narrow-from-scan
    multi-consumer race the r11 round guarded against does not occur —
    AQE plan finalization runs the tokenize stage once at checkpoint-RDD
    creation, and the consumers read its output.
    """
    from .training import _token_array

    return df.select(
        F.col(id_col), _token_array(text_col).alias("__t")
    ).localCheckpoint(eager=False)


def _maximal_spans_from_toks(
    toks: DataFrame, n: int, min_count: int, id_col: str
) -> DataFrame:
    """maximal_repeated_spans body over a pre-materialized (id, __t)
    token frame — shared with remove_repeated_spans so the corpus-wide
    tokenization is paid once across both span derivation and removal."""
    # Anchor assembly + hot filter, r11 form (OPTIMIZATION_r11.md §14: 1.43 s ->
    # 0.60 s at sf0.1, identical rows).  Two changes vs the original
    # explode(_ngrams(...)) + aggregate + join:
    # (1) codegen assembly — posexplode the token array once and build each
    #     anchor span with n try_element_at's in codegen, instead of the
    #     interpreted HOF transform/slice per position (HOFs are
    #     CodegenFallback); the k + n <= size filter keeps every surviving
    #     row in range, and try_element_at (r12, advisor note) makes
    #     out-of-range access NULL by construction instead of relying on
    #     Catalyst evaluating the filter before the projection under ANSI
    #     — docs shorter than n contribute nothing, exactly like _ngrams'
    #     empty-array branch;
    # (2) hot positions via COUNT() OVER (PARTITION BY __span) — the old
    #     aggregate + equi-join shipped the anchor subtree through TWO
    #     exchanges and (because the agg and join map stages differ) built
    #     the anchor assembly twice; the window attaches the corpus count
    #     in the single span-keyed exchange, one assembly pass total.  The
    #     Zipf-head skew exposure is unchanged: the join's probe output for
    #     a hot span landed on one reducer under the old shape too.
    span = F.concat_ws(
        " ",
        *[F.try_element_at(F.col("__t"), F.col("__k") + i + 1) for i in range(n)],
    )
    anchors = (
        toks.select(F.col(id_col), "__t", F.posexplode("__t").alias("__k", "__x"))
        .where(F.col("__k") + n <= F.size("__t"))
        .select(F.col(id_col), F.col("__k").alias("__pos"), span.alias("__span"))
    )
    wh = Window.partitionBy("__span")
    hot_pos = (
        anchors.withColumn("__c", F.count(F.lit(1)).over(wh))
        .where(F.col("__c") >= min_count)
        .select(id_col, "__pos")
    )
    w = Window.partitionBy(id_col).orderBy("__pos")
    runs = (
        hot_pos.withColumn("__g", F.col("__pos") - F.row_number().over(w))
        .groupBy(id_col, "__g")
        .agg(
            F.min("__pos").cast("long").alias("start_pos"),
            (F.max("__pos") - F.min("__pos") + n).cast("long").alias("n_tokens"),
        )
        .drop("__g")
    )
    return runs.join(toks, id_col).select(
        F.col(id_col),
        "start_pos",
        "n_tokens",
        F.concat_ws(
            " ",
            F.slice(
                F.col("__t"),
                (F.col("start_pos") + 1).cast("int"),
                F.col("n_tokens").cast("int"),
            ),
        ).alias("span_text"),
    )


def remove_repeated_spans(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "text_dedup",
) -> DataFrame:
    """Exact-substring DEDUP REMOVAL (Lee et al.'s actual pipeline step):
    every maximal repeated span keeps its FIRST occurrence (lowest
    (doc_id, start_pos) among occurrences of the identical span text) and
    is CUT from all others — duplicated boilerplate survives exactly once
    corpus-wide instead of being memorized from every copy.

    Built on :func:`maximal_repeated_spans`; survivor selection is one
    window over identical span texts (partition sizes = occurrence
    counts, Zipf-bounded); the cut expands loser intervals to (doc, pos)
    rows — bounded by total duplicated tokens, not corpus size — and one
    left-anti equi-join drops them (NO range join: interval containment
    is pre-exploded to positions precisely so the anti-join stays
    hash-partitioned).  Reassembly is the order-restoring
    collect-struct-sort used by remove_boilerplate_lines, per document —
    never a global sort.

    Output: ``(id_col, out_col, n_tokens_kept)`` for EVERY input
    document (documents losing all tokens come back empty, not missing).
    """
    if n < 2 or min_count < 2:
        raise ValueError("need n >= 2 and min_count >= 2")
    toks = _tokens_frame(df, text_col, id_col)
    spans = _maximal_spans_from_toks(toks, n, min_count, id_col)
    w = Window.partitionBy("span_text").orderBy(id_col, "start_pos")
    losers = (
        spans.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.col("start_pos"),
                    F.col("start_pos") + F.col("n_tokens") - 1,
                )
            ).alias("__pos"),
        )
    )
    tok_rows = toks.select(F.col(id_col), F.posexplode("__t").alias("__pos", "__tok"))
    kept = tok_rows.join(losers, [id_col, "__pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias(out_col),
        F.count(F.lit(1)).cast("long").alias("n_tokens_kept"),
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            F.coalesce(F.col("n_tokens_kept"), F.lit(0).cast("long")).alias(
                "n_tokens_kept"
            ),
        )
    )


# -- corpus-level boilerplate line removal (C4-style) ----------------------


def remove_boilerplate_lines(
    df: DataFrame,
    max_docs_per_line: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 10,
) -> DataFrame:
    """Strip lines whose normalized form appears in more than
    ``max_docs_per_line`` documents (navigation chrome, cookie banners,
    license headers) — the C4-recipe corpus-level cleanup that per-doc
    filters can't do.

    Scale shape: posexplode to skinny (doc, pos, line) rows; line
    fingerprints aggregate with map-side partials (the boilerplate head
    collapses before the shuffle — the same Zipf argument as tf-idf);
    frequent lines join back on the fingerprint; surviving lines
    re-assemble with concat_ws over collect_list ordered by position
    (one window-free groupBy; order restored via array_sort on (pos,
    line) structs, not a sort of the whole corpus).  Short lines are
    exempt (blank/separator lines would collide across every doc).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("__line"))), r"\s+", " ")
    keyed = lines.withColumn("__fp", F.md5(norm)).withColumn(
        "__long", F.length(F.trim(F.col("__line"))) >= min_line_chars
    )
    freq = (
        keyed.where(F.col("__long"))
        .groupBy("__fp")
        .agg(F.count_distinct(F.col(id_col)).alias("__ndocs"))
        .where(F.col("__ndocs") > max_docs_per_line)
        .select("__fp")
    )
    kept = keyed.join(
        freq.withColumnRenamed("__fp", "__bfp"),
        (F.col("__long")) & (F.col("__fp") == F.col("__bfp")),
        "left_anti",
    )
    reassembled = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col("__line")))
            ).alias("__parts")
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                "\n", F.transform(F.col("__parts"), lambda s: s["__line"])
            ).alias(text_col),
        )
    )
    return reassembled


# -- PII scrubbing ---------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?\d[\d\s().-]{7,}\d"
_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    email_token: str = "[EMAIL]",
    phone_token: str = "[PHONE]",
    ip_token: str = "[IP]",
) -> DataFrame:
    """Mask emails, phone-number-shaped digit runs, and IPv4 addresses
    with typed placeholder tokens — the standard pre-training PII scrub.

    Pure codegen (three chained regexp_replace) — no Python, no shuffle;
    runs at scan throughput.  Pattern-based scrubbing is a floor, not a
    guarantee: layer model-based NER behind it for higher-recall redaction
    (that step is the expensive mapInPandas tier).
    """
    c = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, _EMAIL_RE, email_token), _IPV4_RE, ip_token
        ),
        _PHONE_RE,
        phone_token,
    )
    return df.withColumn(out_col or text_col, scrubbed)


def bigram_pmi(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
    round_digits: int = 6,
) -> DataFrame:
    """Collocation mining: top-k adjacent-token bigrams by pointwise
    mutual information, PMI = ln(p(ab) / (p(a) p(b))) — the phrase
    detector (word2vec-style "new_york") a tokenizer-prep pipeline runs
    before vocabulary construction.

    Tokenization is the corpus-standard lowercase ``[^a-z0-9]+`` split
    (empties filtered); bigrams come from zipping each token array with
    its own tail — array expressions, NO per-doc window.  Count shuffles:
    one on the bigram key and one on the unigram key, both map-side
    combined; the unigram table joins back twice (vocabulary-sized,
    AQE-broadcast at real scale).  All counts stay BIGINT; the single
    ln() rounds at ``round_digits`` so the score is engine-portable.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"[^a-z0-9]+"),
        lambda x: x != "",
    )
    d = docs.select(toks.alias("__t"))
    grams = d.select(
        F.explode(
            F.zip_with(
                F.expr("slice(__t, 1, greatest(size(__t) - 1, 0))"),
                F.expr("slice(__t, 2, greatest(size(__t) - 1, 0))"),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram")
    )
    unis = d.select(F.explode("__t").alias("tok"))
    c_ab = grams.groupBy("bigram").agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    c_t = unis.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    totals = unis.agg(F.count(F.lit(1)).cast("long").alias("n_tokens")).crossJoin(
        grams.agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"))
    )
    parts = F.split(F.col("bigram"), " ")
    scored = (
        c_ab.where(F.col("n_ab") >= min_count)
        .withColumn("__a", parts.getItem(0))
        .withColumn("__b", parts.getItem(1))
        .join(c_t.select(F.col("tok").alias("__a"), F.col("n_t").alias("n_a")), "__a")
        .join(c_t.select(F.col("tok").alias("__b"), F.col("n_t").alias("n_b")), "__b")
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.round(
        F.log(
            F.col("n_ab").cast("double")
            * F.col("n_tokens")
            * F.col("n_tokens")
            / (
                F.col("n_bigrams").cast("double")
                * F.col("n_a")
                * F.col("n_b")
            )
        ),
        round_digits,
    )
    return (
        scored.select("bigram", "n_ab", "n_a", "n_b", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "bigram")
        .limit(top_k)
    )


def bigram_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
) -> DataFrame:
    """Per-document bits-per-bigram under a corpus-trained INTERPOLATED
    bigram language model — the next rung above
    :func:`unigram_perplexity` on the CCNet-style quality ladder: word
    salad with plausible unigrams but improbable transitions scores high
    here while passing the unigram gate.

        p(w | prev) = lam * c(prev,w)/c(prev,·) + (1-lam) * c(w)/N

    where ``c(prev,·)`` counts prev as a bigram CONTEXT (so the
    conditional sums to 1) and the unigram interpolation term smooths
    rare contexts.  Trained on ``df`` itself, every scored bigram has
    positive probability; documents with fewer than 2 tokens come back
    with ``n_bigrams = 0`` and NULL score (routable, not dropped).

    Determinism contract (same as the unigram LM): per-bigram surprisal
    ``-log2 p`` rounds at 6 BEFORE aggregation; accumulation is exact
    DECIMAL(25,6) scaled by the per-(doc,bigram) frequency.

    Scale shape: bigrams collapse to per-(doc, prev, w) counts map-side
    before any shuffle; the context tables cb = c(prev,w) and
    cp = c(prev,·) attach as SUM windows riding ONE explicit
    repartition(p) of the btf frame (hash(p) clusters (p, w) too, and
    the (p, w) window's sort already satisfies the (p) window — one
    exchange, one sort, both tables).  The former join formulation paid
    full btf-grain exchanges on (p, w) for the cb join AND on (p) for
    the cp join — including the same Zipf-head hash(p) exchange the
    window needs, since hash(p, w) partitioning cannot satisfy a join on
    p — plus the model-table aggregation shuffles (r12 A/B,
    OPTIMIZATION_r12.md §3: locally flat 1.96 vs 1.90 s, identical rows,
    Exchange refs 32 -> 20, model-table joins gone from the plan).
    Known trade: a window partition cannot be AQE-skew-split, but
    neither could the joins it replaces — an aggregate sits between each
    join and its shuffle stage, so OptimizeSkewedJoin's pattern never
    matches (verified mechanically in the r12 skew work, dedup.py
    _ordered_grams) — and the join form paid the same hot-p exchange
    anyway.  The unigram term c(w) remains a join (it derives from the
    token explode, not from btf); N is a 1-row broadcast.  Zero Python,
    no per-doc window — bigrams come from the array self-zip.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"[^a-z0-9]+"),
        lambda x: x != "",
    )
    d = df.select(F.col(id_col), toks.alias("__t"))
    bg = d.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.expr("slice(__t, 1, greatest(size(__t) - 1, 0))"),
                F.expr("slice(__t, 2, greatest(size(__t) - 1, 0))"),
                lambda a, b: F.struct(a.alias("p"), b.alias("w")),
            )
        ).alias("__bg"),
    ).select(id_col, F.col("__bg.p").alias("p"), F.col("__bg.w").alias("w"))
    btf = bg.groupBy(id_col, "p", "w").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    # context tables as SUM windows over ONE hash(p) exchange (see the
    # docstring's scale-shape paragraph): cb = SUM(tf) OVER (p, w) and
    # cp = SUM(tf) OVER (p) are the same integers the former
    # groupBy-derived tables carried (window sum == group sum over
    # identical rows), attached without the (p, w)- and (p)-keyed join
    # exchanges.  The unigram side is unchanged: one explode feeds c_w,
    # and the corpus token total is the sum of c_w (identical integer),
    # not a second explode pass.
    from pyspark.sql import Window

    ctx = (
        btf.repartition(F.col("p"))
        .withColumn("cb", F.sum("tf").over(Window.partitionBy("p", "w")))
        .withColumn("cp", F.sum("tf").over(Window.partitionBy("p")))
    )
    c_w = (
        d.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    total = c_w.agg(F.sum("c").cast("long").alias("n"))
    prob = F.lit(float(lam)) * (F.col("cb").cast("double") / F.col("cp")) + F.lit(
        1.0 - float(lam)
    ) * (F.col("c").cast("double") / F.col("n"))
    bits = F.round(-F.log(prob) / F.log(F.lit(2.0)), 6)
    scored = (
        ctx.join(c_w, "w")
        .crossJoin(F.broadcast(total))
        .withColumn("__bits", F.col("tf") * bits.cast("decimal(25,6)"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.sum("__bits").alias("__sum_dec"),
    )
    # The per-doc mean is rounded half-up at 6 decimals in EXACT INTEGER
    # arithmetic: the decimal sum is integral micro-bits, and
    # (2*micro + n) DIV (2*n) is half-up division — engine ROUND on the
    # double quotient is a trap (a quotient landing exactly on a decimal
    # midpoint, e.g. 318660441/66 micro-bits, rounds differently under
    # Spark's exact-BigDecimal HALF_UP vs DuckDB's multiply-then-round).
    micro = (F.col("__sum_dec") * F.lit(1000000)).cast("long")
    half_up = F.expr(
        "(2 * __micro + n_bigrams) DIV (2 * n_bigrams)"
    )
    # docs with < 2 tokens have no bigram rows: restore them with NULLs
    all_docs = df.select(F.col(id_col)).distinct()
    return (
        all_docs.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias("n_bigrams"),
            F.col("__sum_dec").cast("double").alias("sum_bits"),
            micro.alias("__micro"),
        )
        .withColumn(
            "bits_per_bigram",
            F.when(
                F.col("n_bigrams") > 0,
                half_up.cast("double") / F.lit(1000000.0),
            ),
        )
        .drop("__micro")
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy (bits/char) of the alphanumeric
    character distribution — the classic gibberish/boilerplate signal:
    random noise scores near log2(36), single-char spam near 0, natural
    language in a stable mid band.

    Characters are lowercased and restricted to [a-z0-9] (the corpus
    tokenization alphabet) so the distribution is engine-portable.
    Determinism contract shared with the LM scorers: per-char surprisal
    ``-log2(tf/n)`` rounds at 6 BEFORE aggregation, accumulates exactly
    as DECIMAL(25,6) scaled by tf, and the final mean rounds half-up in
    exact integer micro-bits ((2*micro + n) DIV (2*n)) — no engine
    ROUND on a double quotient.

    Scale shape: chars collapse to per-(doc, char) counts map-side (at
    most 36 rows per doc survive the partial aggregate); per-doc totals
    join back on the doc key; zero Python.
    """
    ch = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), ""),
                lambda x: x.rlike("^[a-z0-9]$"),
            )
        ).alias("ch"),
    )
    tf = ch.groupBy(id_col, "ch").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    totals = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("n_chars_an"))
    bits = F.round(
        -F.log(F.col("tf").cast("double") / F.col("n_chars_an")) / F.log(F.lit(2.0)),
        6,
    )
    scored = tf.join(totals, id_col).withColumn(
        "__bits", F.col("tf") * bits.cast("decimal(25,6)")
    )
    per_doc = scored.groupBy(id_col).agg(
        F.max("n_chars_an").alias("n_chars_an"),
        F.sum("__bits").alias("__sum_dec"),
    )
    micro = (F.col("__sum_dec") * F.lit(1000000)).cast("long")
    all_docs = df.select(F.col(id_col)).distinct()
    return (
        all_docs.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_chars_an"), F.lit(0).cast("long")).alias("n_chars_an"),
            micro.alias("__micro"),
        )
        .withColumn(
            "entropy_bits",
            F.when(
                F.col("n_chars_an") > 0,
                F.expr("(2 * __micro + n_chars_an) DIV (2 * n_chars_an)").cast(
                    "double"
                )
                / F.lit(1000000.0),
            ),
        )
        .drop("__micro")
    )


# -- corpus rank-frequency diagnostics (Zipf fit) ---------------------------


def zipf_fit(
    df: DataFrame,
    top_n: int = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Log-log OLS fit of the corpus rank-frequency curve over the top
    ``top_n`` terms — the classic Zipf diagnostic for corpus health
    (natural text sits near slope -1; template/boilerplate-heavy or
    synthetic corpora bend the curve).

    Returns ONE row ``(n_terms, slope, intercept)`` where ``slope`` and
    ``intercept`` fit ``ln(freq) ~ slope * ln(rank) + intercept``.

    Determinism contract (hash-stable across engines): ``ln(rank)`` and
    ``ln(freq)`` are scaled by 1e6 and rounded to BIGINT, all five OLS
    sums accumulate exactly in integers (magnitudes bounded by
    ``top_n * (ln(max_freq)*1e6)^2 ~ 1e17 << 2^63``), and only the final
    slope/intercept arithmetic runs in double with a fixed operation
    order.  ``slope`` is invariant under the common scaling; the
    intercept divides it back out.

    Scale shape: one map-side-partial term count shuffle; the top-n cut
    is ``orderBy(...).limit`` (TakeOrderedAndProject — per-partition
    top-n, no global sort); the rank window sees only ``top_n`` rows; the
    OLS reduce is a 1-row aggregate.  Zero Python, zero collect.
    """
    counts = (
        _terms(df, text_col, id_col)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(top_n)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    ranked = counts.withColumn("rank", F.row_number().over(w).cast("long"))
    x = F.round(F.log(F.col("rank").cast("double")) * 1000000.0, 0).cast("long")
    y = F.round(F.log(F.col("freq").cast("double")) * 1000000.0, 0).cast("long")
    sums = (
        ranked.select(x.alias("x"), y.alias("y"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    # n >= 2 guard (same contract as retrieval.spearman_rho): with a
    # single distinct term the variance denominator is 0 — return NULL
    # explicitly on both engines instead of a silent engine-divergent
    # NULL-vs-NaN
    slope = F.when(
        F.col("n") >= 2,
        F.round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6),
    )
    return sums.withColumn("slope", slope).select(
        F.col("n").alias("n_terms"),
        "slope",
        F.when(
            F.col("n") >= 2,
            F.round((syd - F.col("slope") * sxd) / (nd * 1000000.0), 6),
        ).alias("intercept"),
    )


# -- tokenizer fertility by language (multilingual tokenizer eval) ----------


def tokenizer_fertility(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    max_piece_chars: int = 4,
) -> DataFrame:
    """Per-language tokenizer fertility: pieces per word and characters
    per piece — the standard multilingual tokenizer-efficiency report (a
    language whose fertility is 2x another's pays 2x the sequence length
    for the same text; see the SentencePiece / multilingual-LM eval
    literature).

    ``pieces`` uses the vocabulary-free bound ``ceil(len(word) /
    max_piece_chars)`` per word: any subword tokenizer whose longest
    piece is ``max_piece_chars`` characters emits at least this many
    pieces, so the ratio is a deterministic fertility floor that needs no
    trained vocab.  (The GPT-2 pre-tokenizer alone degenerates to
    pieces == words on a clean lowercase corpus — a constant 1.0 column,
    exactly what the vacuity audit exists to catch.)

    Returns ``(lang, n_docs, n_words, n_pieces, n_chars, fertility,
    chars_per_piece)`` — integer sums are exact, ratios are 6-decimal
    doubles of exact integers, so the result is engine- and
    partition-order-independent.

    Scale: pure map-side array expressions (no explode — a doc's word
    array folds to two longs in the scan stage) feeding ONE partial-agg
    shuffle on the language key.  Zero Python, zero collect.
    """
    m = int(max_piece_chars)
    if m < 1:
        raise ValueError(f"max_piece_chars must be >= 1, got {max_piece_chars}")
    words_sql = (
        f"filter(split(lower(trim({text_col})), '[^a-z0-9]+'),"
        " w -> length(w) > 0)"
    )
    per_doc = df.select(
        F.col(lang_col).alias("lang"),
        F.expr(f"cast(size({words_sql}) as long)").alias("__w"),
        F.expr(
            f"aggregate({words_sql}, 0L,"
            f" (acc, w) -> acc + (length(w) + {m - 1}) div {m})"
        ).alias("__p"),
        F.length(_trimmed(text_col)).cast("long").alias("__c"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__w").cast("long").alias("n_words"),
        F.sum("__p").cast("long").alias("n_pieces"),
        F.sum("__c").cast("long").alias("n_chars"),
        # 0/0 guard: a language whose docs yield zero words (or zero
        # pieces) must be NULL in BOTH engines — Spark's non-ANSI division
        # already returns NULL on x/0, but DuckDB's IEEE float division
        # returns NaN, so the oracle carries the matching CASE WHEN
        # (advisor finding r7)
        F.when(
            F.sum("__w") > 0,
            F.round(
                F.sum("__p").cast("double") / F.sum("__w").cast("double"), 6
            ),
        ).alias("fertility"),
        F.when(
            F.sum("__p") > 0,
            F.round(
                F.sum("__c").cast("double") / F.sum("__p").cast("double"), 6
            ),
        ).alias("chars_per_piece"),
    )


def perplexity_buckets(
    df: DataFrame,
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    lm: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al. 2020):
    score every document with :func:`unigram_perplexity`, then split each
    language's documents into ``n_buckets`` equal-frequency tiers —
    bucket 1 = lowest perplexity.  With the default 3 buckets the labels
    are CCNet's head/middle/tail, the standard pretraining-quality strata
    (train on head+middle, sample tail).

    Buckets are an NTILE over (bits_per_token, doc id) — ties are split
    deterministically by id, so bucket membership is bit-stable and a SQL
    oracle replays it exactly.

    Documents with zero tokens (no perplexity) are EXCLUDED — route them
    with a length gate upstream; a NULL score has no place in a quantile
    split.  Output: (id_col, lang, bits_per_token, bucket, tier) where
    tier is head/middle/tail for 3 buckets, 'b<k>' otherwise.

    Scale: the perplexity sub-plan is documented at
    :func:`unigram_perplexity` (map-side tf collapse, one term shuffle);
    the buckets add one window partitioned by language (a per-language
    sort — fine to thousands of partitions per language).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    scored = unigram_perplexity(df, text_col=text_col, id_col=id_col, lm=lm)
    scored = scored.join(
        df.select(F.col(id_col), F.col(lang_col).alias("lang")), id_col
    ).where(F.col("bits_per_token").isNotNull())

    w = Window.partitionBy("lang").orderBy(F.asc("bits_per_token"), F.asc(id_col))
    bucketed = scored.select(
        id_col,
        "lang",
        "bits_per_token",
        F.ntile(n_buckets).over(w).alias("bucket"),
    )
    tier = (
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        if n_buckets == 3
        else F.concat(F.lit("b"), F.col("bucket").cast("string"))
    )
    return bucketed.withColumn("tier", tier)


def token_js_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Per-term contributions to the Jensen-Shannon divergence between two
    corpora's unigram distributions — the "which tokens make corpus A
    different from corpus B" diagnostic a curation pipeline runs when a
    new crawl batch, a new source, or a filtered snapshot needs to be
    compared against the corpus it joins (JSD is symmetric and bounded
    [0, 1] in bits, unlike KL which explodes on disjoint support).

        m(t)   = (p(t) + q(t)) / 2
        jsd(t) = (p/2) log2(p/m) + (q/2) log2(q/m)      [0 when p=q]
        JSD    = sum_t jsd(t)

    Terms missing from one side contribute with probability 0 there (the
    0 log 0 = 0 convention — no smoothing needed for JS).  Returns the
    ``top_k`` terms by contribution DESC (ties on term ASC):
    ``(term, p_a, p_b, js_contrib)`` — probabilities are exact integer
    ratios of BIGINT counts; each log2 term is rounded to 6 decimals and
    the two halves combine in one fixed double-op order, so a SQL oracle
    replays every contribution bit-for-bit.  Sum ``js_contrib`` over ALL
    terms (top_k=None upstream of the cut) for the scalar JSD.

    Scale: each corpus collapses to one (term, count) table via map-side
    partial aggregation; the FULL OUTER join on term is vocabulary-sized
    (AQE handles it); the top-k cut is TakeOrderedAndProject, never a
    global sort.  Zero Python.
    """
    if top_k is not None and top_k < 1:
        raise ValueError(f"top_k must be >= 1 or None, got {top_k}")

    def counts(df: DataFrame, side: str) -> DataFrame:
        return (
            _terms(df, text_col, id_col)
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias(f"c_{side}"))
        )

    ca, cb = counts(df_a, "a"), counts(df_b, "b")
    joined = ca.join(cb, "term", "full_outer").select(
        "term",
        F.coalesce(F.col("c_a"), F.lit(0)).alias("c_a"),
        F.coalesce(F.col("c_b"), F.lit(0)).alias("c_b"),
    )
    tot = joined.agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum("c_b").cast("long").alias("n_b"),
    )
    p = F.col("c_a").cast("double") / F.col("n_a")
    q = F.col("c_b").cast("double") / F.col("n_b")
    m = (p + q) / F.lit(2.0)
    ln2 = F.log(F.lit(2.0))
    half_a = F.when(
        F.col("c_a") > 0,
        F.round((p / F.lit(2.0)) * (F.log(p / m) / ln2), 6),
    ).otherwise(F.lit(0.0))
    half_b = F.when(
        F.col("c_b") > 0,
        F.round((q / F.lit(2.0)) * (F.log(q / m) / ln2), 6),
    ).otherwise(F.lit(0.0))
    scored = joined.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(p, 6).alias("p_a"),
        F.round(q, 6).alias("p_b"),
        # decimal sum of the two rounded halves: exact, engine-identical
        (half_a.cast("decimal(25,6)") + half_b.cast("decimal(25,6)"))
        .cast("double")
        .alias("js_contrib"),
    )
    if top_k is None:
        return scored
    return scored.orderBy(F.desc("js_contrib"), F.asc("term")).limit(top_k)


# -- Gopher composite quality gate -------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
    round_digits: int = 6,
) -> DataFrame:
    """Gopher quality-rule gate (Rae et al. 2021, appendix A): the
    standard pre-training heuristic filter, as per-rule booleans plus the
    combined verdict — keep the raw metrics AND the flags so a pipeline
    can audit which rule rejected a document (the release-card question),
    not just that one did.

    Rules (defaults are the paper's): word count in [min_words,
    max_words]; mean word length in [min_mean_word_len,
    max_mean_word_len]; symbol-to-word ratio (``#`` characters and
    ``...``/``…`` ellipses) at most ``max_symbol_word_ratio``; at most
    ``max_bullet_line_frac`` of lines starting with a bullet; at most
    ``max_ellipsis_line_frac`` of lines ending with an ellipsis; at
    least ``min_alpha_word_frac`` of words containing an alphabetic
    character; at least ``min_stopword_hits`` DISTINCT stopwords
    present.  Words are whitespace-split (the paper's convention — NOT
    the corpus [^a-z0-9] convention, punctuation stays attached); lines
    split on newline.

    A document with zero words fails every word-denominated rule
    (ratio flags are NULL-folded to false), never divides by zero.

    Scale: one pass, pure per-row projection — no shuffle, no Python,
    whole-stage codegen end to end; put it FIRST in a curation pipeline
    so later (shuffling) stages see only survivors.
    """
    t = F.col(text_col)
    ws = F.filter(
        F.split(F.trim(t), r"\s+"), lambda x: F.length(x) > 0
    )
    lines = F.split(t, r"\n")
    staged = df.select(
        F.col(id_col), t.alias("__t"), ws.alias("__ws"), lines.alias("__ls")
    )
    n_words = F.size("__ws").cast("long")
    n_lines = F.size("__ls").cast("long")
    sum_len = F.aggregate(
        F.transform(F.col("__ws"), lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_hash = F.length("__t") - F.length(F.regexp_replace("__t", "#", ""))
    n_dots = (
        F.length("__t") - F.length(F.regexp_replace("__t", r"\.\.\.", ""))
    ) / 3
    n_uni = F.length("__t") - F.length(F.regexp_replace("__t", "…", ""))
    n_bullet = F.size(
        F.filter(
            F.col("__ls"),
            lambda x: x.startswith("- ") | x.startswith("* ") | x.startswith("• "),
        )
    )
    n_ellipsis_end = F.size(
        F.filter(F.col("__ls"), lambda x: x.endswith("...") | x.endswith("…"))
    )
    n_alpha = F.size(F.filter(F.col("__ws"), lambda x: x.rlike("[a-zA-Z]")))
    lowered = F.transform(F.col("__ws"), F.lower)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in stopwords]),
            lambda s: F.array_contains(lowered, s),
        )
    ).cast("long")

    metrics = staged.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.when(
            n_words > 0,
            F.round(sum_len.cast("double") / n_words, round_digits),
        ).alias("mean_word_len"),
        F.when(
            n_words > 0,
            F.round(
                (n_hash + n_dots + n_uni).cast("double") / n_words,
                round_digits,
            ),
        ).alias("symbol_ratio"),
        F.round(n_bullet.cast("double") / n_lines, round_digits).alias(
            "bullet_frac"
        ),
        F.round(n_ellipsis_end.cast("double") / n_lines, round_digits).alias(
            "ellipsis_frac"
        ),
        F.when(
            n_words > 0,
            F.round(n_alpha.cast("double") / n_words, round_digits),
        ).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
    )
    flag = lambda c: F.coalesce(c, F.lit(False))  # noqa: E731
    flags = metrics.select(
        "*",
        flag(
            (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
        ).alias("ok_words"),
        flag(
            (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
        ).alias("ok_mean_len"),
        flag(F.col("symbol_ratio") <= max_symbol_word_ratio).alias("ok_symbol"),
        flag(F.col("bullet_frac") <= max_bullet_line_frac).alias("ok_bullet"),
        flag(F.col("ellipsis_frac") <= max_ellipsis_line_frac).alias(
            "ok_ellipsis"
        ),
        flag(F.col("alpha_frac") >= min_alpha_word_frac).alias("ok_alpha"),
        (F.col("stop_hits") >= min_stopword_hits).alias("ok_stop"),
    )
    return flags.select(
        "*",
        (
            F.col("ok_words")
            & F.col("ok_mean_len")
            & F.col("ok_symbol")
            & F.col("ok_bullet")
            & F.col("ok_ellipsis")
            & F.col("ok_alpha")
            & F.col("ok_stop")
        ).alias("pass_gate"),
    )


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    badwords: tuple[str, ...] = (),
    drop_line_marker: str = "javascript",
) -> DataFrame:
    """C4 cleaning-rule gate (Raffel et al. 2020, §2.2): the other
    standard pre-training heuristic filter next to
    :func:`gopher_rules` — line-level retention plus page-level
    rejection, reported as per-rule columns so a curation pipeline can
    audit WHICH rule fired, not just that one did.

    Line rules (a line is kept only if it passes all three): ends in a
    terminal punctuation mark (``. ! ? "`` after right-trim); has at
    least ``min_words_per_line`` whitespace words; does not contain
    ``drop_line_marker`` (the paper drops any line with the word
    "javascript", case-insensitive).  Page rules: at least
    ``min_sentences`` sentences SURVIVE line filtering (sentences
    counted as ``. ! ?`` marks in the kept lines); no "lorem ipsum"; no
    ``{`` curly brace (code marker); no word from ``badwords`` (the
    paper's bad-words list — supplied by the caller, matched as whole
    lowercase whitespace words).

    Returns one row per document: ``(id, n_lines, n_kept_lines,
    n_sentences, kept_chars, has_lorem, has_brace, has_badword,
    pass_gate)``.  ``kept_chars`` is the length of the newline-joined
    kept lines — 0 when nothing survives.

    Scale: one pass, pure per-row projection over higher-order array
    functions — no shuffle, no Python, whole-stage codegen end to end;
    run it FIRST in a pipeline so shuffling stages see only survivors.
    """
    t = F.col(text_col)
    lines = F.transform(F.split(t, r"\n"), lambda x: F.trim(x))
    words_of = lambda x: F.filter(  # noqa: E731 — local shorthand
        F.split(x, r"\s+"), lambda w: F.length(w) > 0
    )
    keep = lambda x: (  # noqa: E731
        x.rlike('[.!?"]$')
        & (F.size(words_of(x)) >= int(min_words_per_line))
        & ~F.lower(x).contains(drop_line_marker.lower())
    )
    staged = df.select(
        F.col(id_col),
        t.alias("__t"),
        lines.alias("__ls"),
        F.array_join(F.filter(lines, keep), "\n").alias("__kept"),
    )
    n_sentences = (
        F.length("__kept")
        - F.length(F.regexp_replace("__kept", r"[.!?]", ""))
    ).cast("long")
    low_words = words_of(F.lower(F.col("__t")))
    has_badword = (
        F.arrays_overlap(
            low_words, F.array(*[F.lit(b.lower()) for b in badwords])
        )
        if badwords
        else F.lit(False)
    )
    flagged = staged.select(
        F.col(id_col),
        F.size("__ls").cast("long").alias("n_lines"),
        F.size(F.filter(F.col("__ls"), keep)).cast("long").alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        F.length("__kept").cast("long").alias("kept_chars"),
        F.lower(F.col("__t")).contains("lorem ipsum").alias("has_lorem"),
        F.col("__t").contains("{").alias("has_brace"),
        has_badword.alias("has_badword"),
    )
    return flagged.withColumn(
        "pass_gate",
        (F.col("n_sentences") >= int(min_sentences))
        & ~F.col("has_lorem")
        & ~F.col("has_brace")
        & ~F.col("has_badword"),
    )


def readability(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade level (Kincaid et al.
    1975) — the standard readability pair, a cheap text-quality feature
    for curation pipelines alongside :func:`quality_signals`.

    Words are whitespace tokens; sentences are RUNS of ``. ! ?``
    (``"end!?"`` is one boundary), floored at 1 so a mark-free document
    counts as one sentence (textbook convention); syllables use the
    standard vowel-group heuristic — runs of ``[aeiouy]`` in the
    lowered word, floored at 1 per word.

    ``flesch_reading_ease = 206.835 - 1.015*wps - 84.6*spw`` and
    ``fk_grade = 0.39*wps + 11.8*spw - 15.59`` where ``wps`` =
    words/sentence and ``spw`` = syllables/word, each an exact-integer
    IEEE division rounded at ``round_digits`` BEFORE entering the fixed
    double-op linear form (cross-engine deterministic); both scores are
    re-rounded at ``round_digits``.  Zero-word documents yield NULL
    ratios and scores.

    Scale: pure per-row projection over higher-order array functions —
    no shuffle, no Python, whole-stage codegen end to end.
    """
    t = F.col(text_col)
    ws = F.filter(F.split(F.trim(t), r"\s+"), lambda x: F.length(x) > 0)
    # run count = len(runs->'#') - len(runs->''): pre-existing '#' chars
    # appear in both operands and cancel
    n_sent_raw = (
        F.length(F.regexp_replace(t, r"[.!?]+", "#"))
        - F.length(F.regexp_replace(t, r"[.!?]+", ""))
    ).cast("long")

    def _syllables(w):
        lw = F.lower(w)
        runs = F.length(F.regexp_replace(lw, "[aeiouy]+", "#")) - F.length(
            F.regexp_replace(lw, "[aeiouy]+", "")
        )
        return F.greatest(runs.cast("long"), F.lit(1).cast("long"))

    staged = df.select(
        F.col(id_col),
        F.size(ws).cast("long").alias("n_words"),
        F.greatest(n_sent_raw, F.lit(1).cast("long")).alias("n_sentences"),
        F.aggregate(
            F.transform(ws, _syllables),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("n_syllables"),
    )
    wps = F.round(F.col("n_words") / F.col("n_sentences"), round_digits)
    spw = F.round(F.col("n_syllables") / F.col("n_words"), round_digits)
    has = F.col("n_words") > 0
    return staged.select(
        F.col(id_col),
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(has, wps).alias("words_per_sentence"),
        F.when(has, spw).alias("syllables_per_word"),
        F.when(
            has,
            F.round(
                F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
                round_digits,
            ),
        ).alias("flesch_reading_ease"),
        F.when(
            has,
            F.round(
                F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59),
                round_digits,
            ),
        ).alias("fk_grade"),
    )



def ngram_novelty(
    docs: DataFrame,
    reference: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus: the
    fraction of the document's distinct word n-grams that occur nowhere
    in the reference — the "how much genuinely new text does this shard
    add" curation signal, the mirror image of
    :func:`training.ngram_contamination` (which measures collision with
    a SMALL eval set and broadcasts it; a reference CORPUS is large, so
    here the join shuffles on the gram key instead).

    Returns ``(id_col, n_ngrams, n_novel, novelty)`` for documents with
    at least one n-gram; novelty = n_novel / n_ngrams rounded at
    ``round_digits``.

    Scale: per-doc grams dedup INSIDE the array (map-side); the
    reference collapses to distinct grams with map-side partial agg
    before the one gram-key shuffle; a left-anti join counts survivors.
    No broadcast of the big side, no Python.
    """
    from .training import _ngrams, _token_array

    rt = ref_text_col or text_col

    def grams_of(col):
        return F.array_distinct(_ngrams(_token_array(col), n))

    doc_grams = docs.select(
        F.col(id_col), F.explode(grams_of(text_col)).alias("__g")
    )
    ref_grams = reference.select(
        F.explode(grams_of(rt)).alias("__g")
    ).distinct()
    novel = doc_grams.join(ref_grams, "__g", "left_anti")
    totals = doc_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_ngrams")
    )
    novel_counts = novel.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    return (
        totals.join(novel_counts, id_col, "left")
        .select(
            id_col,
            "n_ngrams",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel") / F.col("n_ngrams"), round_digits),
        )
    )
