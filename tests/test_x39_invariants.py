"""Semantic invariants for the x39-series Misra–Gries fold — the
theorems checked against independently-computed exact counts."""

from __future__ import annotations

import pandas as pd

from social_warner_spark.catalog import load_table


def test_misra_gries_merged_fold_guarantees(spark, sf_smoke, tmp_path):
    """The mergeable-summaries layout (`_mg_summary_merged`: per-scan-
    partition partial folds + the PODS'12 pairwise merge) must satisfy
    the Misra-Gries theorems — every item with frequency > n/k present,
    0 <= exact - est <= n/k, <= k-1 counters per event_type — at a k
    small enough (20) that the partial tables overflow and the merge's
    subtract-k-th-largest branch runs, and independent of how many scan
    partitions feed the partials.

    The smoke events parquet is ONE row group, so reading it in place
    folds everything into a single partial and the merge never merges
    (splitting by maxPartitionBytes only makes empty partitions).  The
    fold therefore runs against an 8-FILE copy of the same rows — 8
    real partials per event_type, so the pairwise merge and its
    subtract-k-th-largest step execute for real."""
    from social_warner_spark.queries.x39_series import (
        MG_DECLARED_K,
        _mg_summary_merged,
        x377_misra_gries_twin,
    )

    k = 20
    exact = (
        load_table(spark, sf_smoke, "events")
        .groupBy("event_type", "user_id")
        .count()
        .toPandas()
    )

    multi = str(tmp_path / "mg_multi")
    load_table(spark, sf_smoke, "events").repartition(8).write.parquet(
        f"{multi}/events.parquet"
    )
    n_parts = load_table(spark, multi, "events").rdd.getNumPartitions()
    assert n_parts > 1, "multi-file copy failed: merge path not exercised"
    merged = _mg_summary_merged(spark, multi, k=k).toPandas()
    for etype, grp in exact.groupby("event_type"):
        n = int(grp["count"].sum())
        bound = n / k
        summ = merged[merged["event_type"] == etype].set_index("user_id")
        assert (summ["n_processed"] == n).all()
        assert len(summ) <= k - 1
        true = dict(zip(grp["user_id"], grp["count"]))
        for uid, c in true.items():
            if c > bound:
                assert uid in summ.index, (etype, uid, c, bound)
        for uid, row in summ.iterrows():
            t = true.get(uid, 0)
            assert t - bound <= row["est_count"] <= t
            assert row["exact_count"] == t

    # the declared x377 (fold at MG_DECLARED_K) = the guaranteed
    # heavy-hitter set computed INDEPENDENTLY from exact counts, with
    # bound_ok TRUE everywhere (theorem + correct fold)
    base = (
        x377_misra_gries_twin(spark, sf_smoke)
        .toPandas()
        .sort_values(["event_type", "user_id"])
        .reset_index(drop=True)
    )
    assert base["bound_ok"].all()
    totals = exact.groupby("event_type")["count"].transform("sum")
    guaranteed = exact[exact["count"] * MG_DECLARED_K > totals]
    expected = (
        guaranteed.rename(columns={"count": "exact_count"})
        .assign(n_processed=totals[guaranteed.index])
        [["event_type", "user_id", "exact_count", "n_processed"]]
        .sort_values(["event_type", "user_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        base[["event_type", "user_id", "exact_count", "n_processed"]],
        expected,
        check_dtype=False,
    )
    assert len(base) > 0  # the guaranteed set is non-trivial at smoke SF

    # partition-layout independence of the DECLARED projection: the
    # guaranteed set + bound_ok must not move between the in-place read
    # (ONE partial per event_type) and the 8-file copy (8 partials) —
    # est_counts may differ between the two, they are not declared
    relaid = (
        x377_misra_gries_twin(spark, multi)
        .toPandas()
        .sort_values(["event_type", "user_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(base, relaid, check_dtype=False)
