"""Semantic invariants for the round-3 iterative/statistical operators —
properties stronger than oracle equality on one configuration."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_twopass_median_bucket_width_invariant(spark, sf_correct, monkeypatch):
    """The exact median cannot depend on the bucketing: three very
    different widths must produce the identical (n, median) row, and it
    must equal percentile_cont(0.5) computed directly."""
    from social_warner_spark.operators import sketch
    from social_warner_spark.queries.common import T

    li = T(spark, sf_correct, "lineitem")
    rows = {}
    for w in (64.0, 1024.0, 50000.0):
        monkeypatch.setattr(sketch, "MEDIAN_BUCKET_WIDTH", w)
        rows[w] = sketch.twopass_median(li, "l_extendedprice").first().asDict()
    assert rows[64.0] == rows[1024.0] == rows[50000.0], rows
    direct = li.agg(
        F.round(F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"), 6)
    ).first()[0]
    assert rows[1024.0]["median"] == direct


def test_kcore_every_member_has_core_degree(spark, sf_correct):
    """k-core soundness: within the reported converged core, every node's
    degree must be >= k (recomputed independently from the full edge
    set restricted to the core)."""
    from social_warner_spark.queries.x11_series import KCORE_K, x203_kcore
    from social_warner_spark.queries.common import T

    res = x203_kcore(spark, sf_correct).first()
    assert res["converged"] and res["n_nodes"] > 0

    li = T(spark, sf_correct, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .select(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # peel with an independent (degree-table) formulation until stable
    nodes = None
    cur = edges
    for _ in range(12):
        deg = (
            cur.select(F.col("src").alias("n"))
            .unionAll(cur.select(F.col("dst").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )
        nodes = deg.where(F.col("d") >= KCORE_K).select("n").localCheckpoint(eager=True)
        cur = (
            cur.join(nodes.withColumnsRenamed({"n": "src"}), "src", "left_semi")
            .join(nodes.withColumnsRenamed({"n": "dst"}), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
    # independent reference agrees with the query's counts
    assert nodes.count() == res["n_nodes"]
    # and every member's in-core degree >= k
    min_deg = (
        cur.select(F.col("src").alias("n"))
        .unionAll(cur.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
        .agg(F.min("d"))
        .first()[0]
    )
    assert min_deg >= KCORE_K, min_deg


def test_cuped_reduces_variance_without_moving_the_gap(spark, sf_correct):
    """CUPED must (a) not increase metric variance and (b) leave the A/B
    gap essentially unchanged when assignment is independent of the
    covariate (it is — md5 hashing)."""
    from social_warner_spark.queries.x11_series import x202_cuped

    rows = {r["g"]: r.asDict() for r in x202_cuped(spark, sf_correct).collect()}
    any_row = next(iter(rows.values()))
    assert any_row["var_reduction"] >= 0.0
    gap_raw = rows[1]["mean_y"] - rows[0]["mean_y"]
    gap_adj = rows[1]["mean_y_adj"] - rows[0]["mean_y_adj"]
    scale = max(abs(gap_raw), 1.0)
    assert abs(gap_adj - gap_raw) / scale < 0.5, (gap_raw, gap_adj)


def test_logreg_gd_loss_decreases_with_rounds(spark, sf_correct):
    """More gradient rounds must not worsen the training log-loss (full
    batch, smooth objective, small LR)."""
    import social_warner_spark.queries.x11_series as m

    orig = m.GD_ROUNDS
    try:
        m.GD_ROUNDS = 1
        l1 = m.x188_logreg_gd(spark, sf_correct).first()["log_loss"]
        m.GD_ROUNDS = 3
        l3 = m.x188_logreg_gd(spark, sf_correct).first()["log_loss"]
    finally:
        m.GD_ROUNDS = orig
    assert l3 <= l1 + 1e-9, (l1, l3)
