"""Partition-count invariance: declared results must not depend on how
many shuffle partitions the session happens to use.

The driver and the oracle harness run with different parallelism than
production would; any query whose output shifts with
spark.sql.shuffle.partitions (a rank tied to physical row order, a
range-sampler boundary leaking into values, a non-deterministic
first()/collect_list survivorship) would flake the hash compare.  This
sweep pins the most order-sensitive machinery: global rank and running-sum
consumers, iterative argmax loops, TakeOrdered selections, and window-rank
queues.
"""

from __future__ import annotations

import pytest

from social_warner_spark.queries import all_queries

QUERIES = all_queries()

#: Queries whose plans leans hardest on ordering machinery.
SENSITIVE = [
    "x56_global_index",        # the range-partitioned rank primitive itself
    "x223_quantile_normalize", # global rank + two index joins
    "x228_padding_efficiency", # global rank batch layout
    "x230_vocab_budget_sweep", # global rank over the type relation
    "x136_pareto_concentration",  # global running sums under a DESC key
    "x137_rfm_segments",       # three chained global ntiles
    "x184_rank_auc",           # global running sum over distinct scores
    "x187_heaps_law",          # global running sums over doc order
    "x221_kcenter_coreset",    # iterative top-1 argmax rounds
    "x234_uncertainty_sampling",  # TakeOrdered + bounded rank window
    "x176_source_set_cover",   # greedy argmax loop over broadcast picks
    "x227_dsir_selection",     # TakeOrdered top-k with rank attach
    # r06 ordered-op conversions: median ranks over the grid² slope
    # relation / distributed 1-lead inter-arrivals — the range-partition
    # boundary must never leak into the reported values.
    "x267_theil_sen",
    "x286_ks_exponential",
    # r06 edge-incident propagation: singleton rejoin must not depend
    # on partitioning.
    "x27_neardup_clusters",
    # r07 grouped ordered-op conversions: per-group rank/cumsum values
    # must not depend on where the (group, order) range boundaries fall.
    "x29_sequence_packing",   # grouped cumsum (packing offsets)
    "x42_budget_selection",   # grouped cumsum under DESC order key
    "x17_range_frame",        # value-halo grouped RANGE frame
    "x18_distribution_windows",  # closed-form ntile/pct_rank/cume from grouped rank
    "x68_quantile_sketch",    # exact quantile baseline via grouped rank
    "x208_conformal",         # q-hat order statistic via grouped rank
    # r07 LSH verification rewrite: candidate rescore must be
    # partition-invariant end to end.
    "x15_minhash_lsh_pairs",
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", SENSITIVE)
def test_result_invariant_to_shuffle_partitions(spark, sf_smoke, name):
    from social_warner_spark.caching import release_persisted_intermediates

    key = "spark.sql.shuffle.partitions"
    original = spark.conf.get(key)
    try:
        spark.conf.set(key, "8")
        a = _rows(QUERIES[name](spark, sf_smoke))
        release_persisted_intermediates()
        spark.conf.set(key, "17")
        b = _rows(QUERIES[name](spark, sf_smoke))
        release_persisted_intermediates()
    finally:
        spark.conf.set(key, original)
    assert a == b, f"{name} output depends on shuffle partition count"
