"""applyInPandasWithState: running totals across micro-batches must equal
the batch aggregate after the stream drains."""

from __future__ import annotations

import pyspark.sql.functions as F

from social_warner_spark.catalog import load_table
from social_warner_spark.streaming import read_events_stream
from social_warner_spark.streaming.stateful import running_user_totals


def test_stateful_running_totals_converge_to_batch(spark, sf_smoke, tmp_path):
    d = str(tmp_path / "ev")
    # several files → several micro-batches (maxFilesPerTrigger=8 over 12 files)
    load_table(spark, sf_smoke, "events").repartition(12).write.parquet(d)

    out = (
        running_user_totals(read_events_stream(spark, d))
        .writeStream.format("memory")
        .queryName("state_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(180)
    assert not out.isActive

    # memory sink in update mode appends every emitted update; n_events is
    # strictly increasing per user, so the max-n_events row is the final state
    emitted = spark.table("state_totals").toPandas()
    final = (
        emitted.sort_values("n_events").groupby("user_id").tail(1).set_index("user_id")
    )

    batch = (
        load_table(spark, sf_smoke, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("exp_n"), F.round(F.sum("value"), 4).alias("exp_tv"))
        .toPandas()
        .set_index("user_id")
    )
    assert len(final) == len(batch)
    joined = final.join(batch)
    assert (joined["n_events"].astype(int) == joined["exp_n"]).all()
    assert (joined.eval("abs(total_value - exp_tv)") < 1e-3).all()


def test_streaming_heavy_hitters_guarantees_vs_exact(spark, sf_smoke, tmp_path):
    """Misra-Gries guarantees after the stream drains: every user with
    true per-type frequency > n/k is tracked, and every tracked
    estimate lies in [true - n/k, true]."""
    from social_warner_spark.streaming.stateful import streaming_heavy_hitters

    K = 20
    d = str(tmp_path / "ev_hh")
    load_table(spark, sf_smoke, "events").repartition(12).write.parquet(d)

    out = (
        streaming_heavy_hitters(read_events_stream(spark, d), k=K)
        .writeStream.format("memory")
        .queryName("state_hh")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(180)
    assert not out.isActive

    emitted = spark.table("state_hh").toPandas()
    # final summary per type = rows carrying that type's max n_processed
    final = emitted.loc[
        emitted.groupby("event_type")["n_processed"].transform("max")
        == emitted["n_processed"]
    ]
    exact = (
        load_table(spark, sf_smoke, "events")
        .groupBy("event_type", "user_id")
        .count()
        .toPandas()
    )
    for etype, grp in exact.groupby("event_type"):
        n = int(grp["count"].sum())
        bound = n / K
        summ = final[final["event_type"] == etype].set_index("user_id")
        assert (summ["n_processed"] == n).all()
        true = dict(zip(grp["user_id"], grp["count"]))
        # guarantee 1: all items with freq > n/k are present
        for uid, c in true.items():
            if c > bound:
                assert uid in summ.index, (etype, uid, c, bound)
        # guarantee 2: est in [true - n/k, true]
        for uid, est in summ["est_count"].items():
            t = true.get(uid, 0)
            assert t - bound <= est <= t, (etype, uid, est, t, bound)
        # state is bounded by design
        assert len(summ) <= K - 1


def test_misra_gries_batch_twin_parity_and_guarantees(spark, sf_smoke, tmp_path):
    """The Misra-Gries batch twin (applyInPandas) must (a) satisfy the
    Misra-Gries guarantees against independently-computed exact counts,
    (b) produce the IDENTICAL summary the applyInPandasWithState
    streaming operator emits when the whole table arrives as one ordered
    micro-batch, and (c) project the declared x377 output (the
    oracle-checkable guaranteed set) exactly: all users with
    exact·k > n, bound_ok TRUE everywhere."""
    from social_warner_spark.queries.x39_series import (
        MG_DECLARED_K,
        MG_K,
        _mg_summary,
        x377_misra_gries_twin,
    )
    from social_warner_spark.streaming.stateful import streaming_heavy_hitters

    twin = _mg_summary(spark, sf_smoke).toPandas()

    # (a) guarantees — every row self-audits, plus presence of all true
    # heavy hitters from an independent exact count
    exact = (
        load_table(spark, sf_smoke, "events")
        .groupBy("event_type", "user_id")
        .count()
        .toPandas()
    )
    for etype, grp in exact.groupby("event_type"):
        n = int(grp["count"].sum())
        bound = n / MG_K
        summ = twin[twin["event_type"] == etype].set_index("user_id")
        assert (summ["n_processed"] == n).all()
        assert len(summ) <= MG_K - 1
        true = dict(zip(grp["user_id"], grp["count"]))
        for uid, c in true.items():
            if c > bound:
                assert uid in summ.index, (etype, uid, c, bound)
        for uid, row in summ.iterrows():
            t = true.get(uid, 0)
            assert t - bound <= row["est_count"] <= t
            assert row["exact_count"] == t

    # (b) parity with the streaming operator fed one ordered micro-batch
    d = str(tmp_path / "ev_twin")
    load_table(spark, sf_smoke, "events").coalesce(1).write.parquet(d)
    out = (
        streaming_heavy_hitters(read_events_stream(spark, d), k=MG_K)
        .writeStream.format("memory")
        .queryName("state_hh_twin")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(180)
    assert not out.isActive
    streamed = (
        spark.table("state_hh_twin")
        .toPandas()
        .sort_values(["event_type", "user_id"])
        .reset_index(drop=True)
    )
    batch = (
        twin[["event_type", "user_id", "est_count", "n_processed"]]
        .sort_values(["event_type", "user_id"])
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(
        streamed[["event_type", "user_id", "est_count", "n_processed"]],
        batch,
        check_dtype=False,
    )

    # (c) the declared x377 (fold at MG_DECLARED_K) = the guaranteed
    # heavy-hitter set computed INDEPENDENTLY from exact counts, with
    # bound_ok TRUE everywhere (theorem + correct fold)
    declared = (
        x377_misra_gries_twin(spark, sf_smoke)
        .toPandas()
        .sort_values(["event_type", "user_id"])
        .reset_index(drop=True)
    )
    assert declared["bound_ok"].all()
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
        declared[["event_type", "user_id", "exact_count", "n_processed"]],
        expected,
        check_dtype=False,
    )
    assert len(declared) > 0  # the guaranteed set is non-trivial at smoke SF


def test_misra_gries_merged_fold_guarantees(spark, sf_smoke, tmp_path):
    """The mergeable-summaries layout (`_mg_summary_merged`: per-scan-
    partition partial folds + the PODS'12 pairwise merge) must satisfy
    the SAME Misra-Gries theorems as the sequential fold — every item
    with frequency > n/k present, 0 <= exact - est <= n/k, <= k-1
    counters per event_type — at a k small enough (20) that the partial
    tables overflow and the merge's subtract-k-th-largest branch runs,
    and independent of how many scan partitions feed the partials.

    The smoke events parquet is ONE row group, so reading it in place
    folds everything into a single partial and the merge never merges
    (splitting by maxPartitionBytes only makes empty partitions).  The
    fold therefore runs against an 8-FILE copy of the same rows — 8
    real partials per event_type, so the pairwise merge and its
    subtract-k-th-largest step execute for real."""
    from social_warner_spark.queries.x39_series import MG_K, _mg_summary_merged

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
    merged = _mg_summary_merged(spark, multi, k=MG_K).toPandas()
    for etype, grp in exact.groupby("event_type"):
        n = int(grp["count"].sum())
        bound = n / MG_K
        summ = merged[merged["event_type"] == etype].set_index("user_id")
        assert (summ["n_processed"] == n).all()
        assert len(summ) <= MG_K - 1
        true = dict(zip(grp["user_id"], grp["count"]))
        for uid, c in true.items():
            if c > bound:
                assert uid in summ.index, (etype, uid, c, bound)
        for uid, row in summ.iterrows():
            t = true.get(uid, 0)
            assert t - bound <= row["est_count"] <= t
            assert row["exact_count"] == t

    # partition-layout independence of the DECLARED projection: the
    # guaranteed set + bound_ok must not move between the in-place read
    # (ONE partial per event_type) and the 8-file copy (8 partials) —
    # est_counts may differ between the two, they are not declared
    from social_warner_spark.queries.x39_series import x377_misra_gries_twin

    base = (
        x377_misra_gries_twin(spark, sf_smoke)
        .toPandas()
        .sort_values(["event_type", "user_id"])
        .reset_index(drop=True)
    )
    relaid = (
        x377_misra_gries_twin(spark, multi)
        .toPandas()
        .sort_values(["event_type", "user_id"])
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(base, relaid, check_dtype=False)
