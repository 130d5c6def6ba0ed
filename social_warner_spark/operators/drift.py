"""Distribution-drift operators.

``two_sample_ks`` is the general two-sample Kolmogorov-Smirnov test over
COUNT CELLS — (value, count) relations rather than raw rows.  Cells are
additive and merge by summation (``merge_cells``), like the CMS and
histogram sketches in operators/sketch.py, so per-day cell relations
fold into one distribution without a rescan (queries/x39_series.py:
x378_drift_cells).  The per-source query form (each source vs
rest-of-corpus) is queries/x11_series.py:x172_ks_drift.

Scale: everything happens on the value GRID — bounded by the value
domain, not the row count.  Producing cells from raw rows is one
map-side-combined groupBy; that is the only corpus-sized step.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

#: sqrt(-ln(alpha/2) / 2) for alpha = 0.05 — the classic KS critical
#: coefficient (literal so engines/rounds compare identical constants).
KS_COEF_05 = 1.3581015157406195


def merge_cells(cells: DataFrame) -> DataFrame:
    """Merge cell relations (e.g. per-day cells) by summation."""
    return cells.groupBy("v").agg(F.sum("c").alias("c"))


def two_sample_ks(cells_a: DataFrame, cells_b: DataFrame) -> DataFrame:
    """KS test between two (v, c) cell relations.

    Returns one row: (n_a, n_b, ks, ks_crit, drifted) where ks =
    sup |F_a(v) - F_b(v)| over the union grid and ks_crit is the
    alpha=0.05 two-sample critical value c(α)·sqrt((n_a+n_b)/(n_a·n_b)).

    The union grid is a full-outer join on v; CDFs are cumulative
    window sums along the grid (|values| rows — domain-bounded, fine as
    a single sort at any corpus size because the grid never scales with
    rows).
    """
    a = cells_a.select("v", F.col("c").alias("ca"))
    b = cells_b.select("v", F.col("c").alias("cb"))
    grid = a.join(b, "v", "full_outer").select(
        "v",
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    stepped = grid.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    totals = grid.agg(F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b"))
    ks = (
        stepped.crossJoin(F.broadcast(totals))
        .select(
            "n_a",
            "n_b",
            F.abs(
                F.col("cum_a") / F.col("n_a").cast("double")
                - F.col("cum_b") / F.col("n_b").cast("double")
            ).alias("d"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("d").alias("ks_raw"))
    )
    crit = F.lit(KS_COEF_05) * F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double")
        / (F.col("n_a") * F.col("n_b")).cast("double")
    )
    return ks.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("ks_raw", 6).alias("ks"),
        F.round(crit, 6).alias("ks_crit"),
        (F.col("ks_raw") > crit).alias("drifted"),
    )
