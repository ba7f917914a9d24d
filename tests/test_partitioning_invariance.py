"""Partitioning-invariance harness: the engine's core determinism claim.

Every registry query documents a deterministic total order / exact
arithmetic discipline so results are identical under ANY partitioning
(the property the reference's pandas sort-order idioms lack). This
harness tests the claim directly: run a representative query sample
under two different ``spark.sql.shuffle.partitions`` settings (and a
pre-shuffled input layout) and compare canonical value fingerprints.

The sample spans the failure classes partitioning can expose:
float-sum order (corr/centroids/LM scores), window tiebreaks (dedup,
top-k), iterative loops (CC), pair generation (LSH/SimHash), and
driver-state loops (trained IVF). sf0.001 keeps each run to seconds.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from dissertation_data_pipeline_spark.plans.registry import QUERIES

SF = "/root/testdata/sf0.001"

SAMPLE = [
    "flagship_corpus_rollup",      # window dedup + join + agg
    "w1_dedup_priority",           # priority dedup tiebreaks
    "o2_top_k_frequency",          # top-k boundary
    "ext_corr_matrix",             # moment sums (decimal exactness)
    "ext_minhash_lsh_pairs",       # banded pair generation
    "ext_near_dup_components",     # iterative CC loop
    "ext_ann_ivf_trained_topk",    # k-means driver loop + rank
    "ext_bigram_lm_score",         # documented bounded-error float sum
    "ext_pmi_collocations",        # ratio ranking + LIMIT boundary
    "ext_incremental_agg",         # full-outer merge of aggregates
    "ext_udaf_label_medians",      # grouped-agg pandas UDAF
    "ext_source_overlap_sketch",   # bottom-k sketches
    # round 3 additions
    "ext_capped_jaccard_pairs",    # stop-shingle df cap (window count)
    "ext_weighted_median",         # int64 cumulative-weight crossing
    "ext_ann_ivf_topk",            # packed-broadcast argmax assignment
    "ext_rolling_features",        # per-key lag/window feature block
    "ext_count_min_hitters",       # md5-bucketed counter matrix
    "ext_ccnet_buckets",           # per-lang ntile over LM perplexity
    # round 4 additions
    "ext_shard_assignment",        # md5 shard hash + budget sums
    "ext_classifier_quality_filter",  # int64 milli-score broadcast join
    "ext_temperature_mixture",     # sqrt shares + 1-row total broadcast
    "ext_unicode_nfc",             # pandas-UDF NFC map (narrow)
    # bounded drains: the state-partition cap runs them at 3 vs 8
    # state partitions under the two confs below
    "s_stateful_profile",          # applyInPandasWithState drain
    "s_stream_stream_left_outer",  # outer join, final watermark flush
]


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _fingerprint(df) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        "|".join(_canon(r[c]) for c in cols) for r in df.collect()
    )
    h = hashlib.sha256()
    for line in rows:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@pytest.mark.parametrize("name", SAMPLE)
def test_result_invariant_under_shuffle_partitioning(spark, name):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        fp_a = _fingerprint(QUERIES[name].fn(spark, SF))
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        fp_b = _fingerprint(QUERIES[name].fn(spark, SF))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert fp_a == fp_b, (
        f"{name}: result depends on shuffle partitioning "
        f"(3 -> {fp_a[:12]}, 29 -> {fp_b[:12]})"
    )
