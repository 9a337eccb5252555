"""Living-corpus maintenance walkthrough (round-8 operators): snapshot
diff -> incremental work list -> mixture re-balancing -> privacy gate ->
corpus-drift diagnostic.  The between-ingest cycle a 100 TB training
corpus runs every week: find what changed, recompute only that, rebalance
the mix, and gate the release."""

import os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))  # repo-root import shim (unneeded once pip-installed)

from pyspark.sql import functions as F

from ballista import BallistaContext
from datafusion_ballista_python_spark.operators import quality, sampling, text, training
from datafusion_ballista_python_spark.sources.merge import snapshot_diff

ctx = BallistaContext(master="local[4]", shuffle_partitions=4)
spark = ctx.spark

docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

# 0. simulate this week's ingest: some docs removed, some re-crawled, some new
new_snapshot = (
    docs.where("doc_id % 11 != 0")
    .withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" updated"))).otherwise(F.col("text")),
    )
    .unionByName(docs.where("doc_id % 13 = 0")
                 .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000)))
)

# 1. diff the snapshots: the incremental-recompute work list
diff = snapshot_diff(docs.select("doc_id", "text"),
                     new_snapshot.select("doc_id", "text"), "doc_id", ["text"])
summary = {r["status"]: r["n"] for r in
           diff.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
print("snapshot diff:", summary)
work_list = diff.where(F.col("status").isin("added", "changed"))
print("docs needing re-embedding/re-scoring:", work_list.count())

# 2. score ONLY the work list against the reference distribution (DSIR)
touched = new_snapshot.join(work_list.select("doc_id"), "doc_id", "left_semi")
weights = training.dsir_weights(
    new_snapshot, F.col("lang") == "en", buckets=256
).join(touched.select("doc_id"), "doc_id", "left_semi")
print("DSIR-scored touched docs:", weights.count())

# 3. rebalance the language mix with temperature sampling (alpha = 0.7)
mix = sampling.temperature_weights(new_snapshot, "lang", alpha=0.7)
mix.orderBy("lang").show()

# 4. perplexity strata for the refreshed corpus (CCNet head/middle/tail)
tiers = text.perplexity_buckets(new_snapshot, n_buckets=3)
tiers.groupBy("lang", "tier").count().orderBy("lang", "tier").show(6)

# 5. privacy gate before release: no quasi-identifier class below k
cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
viol = quality.k_anonymity(
    cust.withColumn("bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long")),
    ["c_nationkey", "c_mktsegment", "bal_band"],
    k=2,
)
print("k-anonymity violations (k=2):", viol.count())

# 6. drift diagnostic: which tokens most separate the new snapshot from the old
drift = text.token_js_divergence(docs, new_snapshot, top_k=5)
drift.show(truncate=False)

# 7. (r8 continuation) quality gate + label QA + directional drift:
#    Gopher rules on the refreshed corpus (corpus-adapted thresholds),
#    kappa between the stored language label and a re-run heuristic
#    language ID, and a rank-sum test on doc length old-vs-new
gate = text.gopher_rules(new_snapshot, min_words=40, max_words=90,
                         max_mean_word_len=4.5, min_stopword_hits=1)
kept = new_snapshot.join(
    gate.where("pass_gate").select("doc_id"), "doc_id", "left_semi"
)
relabeled = text.language_id(new_snapshot)  # (doc_id, lang, lang_guess)
agreement = quality.cohens_kappa(relabeled, "lang", "lang_guess")
shift = quality.mann_whitney_u(docs, new_snapshot, "n_chars")
print("gopher survivors:", kept.count())
agreement.show()
shift.show()

print("corpus-maintenance pipeline complete")
