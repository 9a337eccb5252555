"""Training-data assembly walkthrough (operators/training.py): benchmark
decontamination -> sliding-window chunking -> fixed-length sequence
packing, the last mile between a curated corpus and model-ready batches."""

import os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))  # repo-root import shim (unneeded once pip-installed)

from ballista import BallistaContext
from datafusion_ballista_python_spark.operators import training

ctx = BallistaContext(master="local[4]", shuffle_partitions=4)
spark = ctx.spark

docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

# 1. decontaminate: drop training docs sharing trigrams with the eval set
eval_docs = docs.where("doc_id % 97 = 0")
contaminated = training.ngram_contamination(docs, eval_docs, n=3).where(
    "contamination > 0.5"
)
clean = docs.join(contaminated.select("doc_id"), "doc_id", "left_anti")
print("docs:", docs.count(), "quarantined:", contaminated.count())

# 2. chunk long documents into 128-token windows with 16 tokens of overlap
chunks = training.chunk_documents(clean, 128, overlap=16)
print("chunks:", chunks.count())

# 3. pack the corpus into 512-token training sequences (concat-and-chunk)
packed = training.pack_sequences(clean, 512)
n_seqs = packed.agg({"seq_id": "max"}).collect()[0][0] + 1
print("sequences:", n_seqs)

# 4. build a frequency-ranked vocabulary and id-encode the clean corpus
vocab = training.build_vocab(clean, top_k=1000, min_count=2)
encoded = training.encode_documents(clean, vocab)
print("vocab:", vocab.count(), "encoded docs:", encoded.count())

# 5. deterministic epoch shuffle: shard + in-shard order for epoch 0
shards = training.epoch_shards(encoded, "doc_id", n_shards=4, epoch=0)
print("shard sizes:", sorted((r[0], r[1]) for r in
                             shards.groupBy("shard").count().collect()))

# 6. (round 5) quality ladder: logistic gate -> curriculum buckets ->
#    per-domain quota -> hashed features + train/val/test assignment
from pyspark.sql import functions as F
from datafusion_ballista_python_spark.operators import quality, sampling

scored = quality.linear_score(
    clean.select("doc_id", "source", "n_chars",
                 F.round(F.log(F.col("n_chars") + 1), 6).alias("f_len")),
    features={"f_len": F.col("f_len")}, weights={"f_len": 0.9}, intercept=-4.5,
)
gated = scored.where("score >= 0.4")
staged = training.curriculum_buckets(gated, "n_chars")
balanced = sampling.domain_quota(staged, "source", quota=25)
feats = training.feature_hashing(clean.join(balanced.select("doc_id"), "doc_id"))
split = sampling.split_assign(balanced, "doc_id")
print("gated:", gated.count(), "balanced:", balanced.count(),
      "hashed cells:", feats.count())
print("splits:", sorted((r[0], r[1]) for r in
                        split.groupBy("split").count().collect()))

# 7. (round 6) tokenizer prep + exact-substring dedup: learn a word-level
#    BPE merge table (batched disjoint rounds), encode the corpus with it
#    (zero-shuffle chained replace), and cut duplicated maximal spans
#    (keep-first survivor, Lee et al. style)
from datafusion_ballista_python_spark.operators import text

merges = training.bpe_merges(clean, n_merges=6, batch=3)
print("learned merges:", [(l, r, n) for _, l, r, n in merges])
bpe = training.bpe_apply(clean, merges)
print("bpe-encoded docs:", bpe.count())

deduped = text.remove_repeated_spans(clean, n=8, min_count=2)
cut = deduped.where("n_tokens_kept = 0").count()
print("docs after span dedup:", deduped.count(), "(fully cut:", cut, ")")

# 8. (round 6) measure the dedup pipeline and split leakage-safely:
#    certified LSH pair-recall vs the exact all-pairs ground truth, then
#    a HOST-keyed train/val/test split so near-dups (which live within a
#    host) can never straddle train and test
from datafusion_ballista_python_spark.operators import dedup

r = dedup.lsh_recall(clean, threshold=0.8).collect()[0]
print("lsh recall:", r["n_found"], "/", r["n_true"], "=", r["recall"])
gsplit = sampling.split_assign(balanced, "source", salt="gsplit")
print("host-keyed splits:", sorted((row[0], row[1]) for row in
                                   gsplit.groupBy("split").count().collect()))

# 9. (round 6) containment dedup + the release card: catch short docs
#    quoted WHOLE inside long ones (high containment, Jaccard-invisible),
#    then ship the one-row dataset card a training-data release carries.
#    KEEP-FIRST rule: mutual near-duplicates emit BOTH directions, so
#    dropping every doc_a would delete all copies — keep the min-id of
#    each mutual pair, drop the contained side of one-way pairs
pairs = dedup.containment_join(
    clean, threshold=0.9, order="frequency"  # skew-safe default for real crawls
).select("doc_a", "doc_b")
rev = pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
mutual = pairs.intersect(rev)
one_way = pairs.join(mutual, ["doc_a", "doc_b"], "left_anti")
drop_contained = (
    one_way.select("doc_a")
    .union(mutual.where("doc_a > doc_b").select("doc_a"))
    .distinct()
    .withColumnRenamed("doc_a", "doc_id")
)
final = clean.join(drop_contained, "doc_id", "left_anti")
print("contained-dup docs dropped:", drop_contained.count(),
      "final corpus:", final.count())

card = quality.profile_table(final, ["doc_id", "n_chars", "lang"])
print("release profile:")
card.show(truncate=False)

# 10. (round 6) duplicate-blob density filter: k-core of the near-dup
#     graph separates tight template/boilerplate blobs (every copy
#     near-dups many others) from isolated pairs a pair threshold
#     cannot tell apart
from datafusion_ballista_python_spark.operators import graph

pairs = dedup.minhash_lsh_pairs(clean, num_hashes=16, bands=4, threshold=0.8)
cores = graph.kcore(pairs, k=2)
print("dense-duplicate core nodes:", cores.count())

# 11. (r8 continuation) turn the final mix into a training plan: target
#     shares + a token budget -> per-language epochs (capped at 2), with
#     the realized-vs-target gap made explicit; then a bootstrap CI on
#     the mean doc length so the release card carries an error bar
total_tokens = final.agg(F.sum("n_chars")).collect()[0][0]
plan = training.mixture_allocation(
    final, "lang",
    {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15},
    token_col="n_chars", budget=2.0 * float(total_tokens), max_epochs=2.0,
)
plan.orderBy("group").show()

ci = quality.bootstrap_mean_ci(final, "n_chars", n_boot=100)
ci.show()

print("training-pipeline complete")
