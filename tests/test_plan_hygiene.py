"""Plan-shape ratchet: no declared query may grow new shuffles or
degrade an equi-join into a nested loop without a conscious baseline
update (python -m tests.planaudit regenerates)."""

from __future__ import annotations

import json
import os

import pytest

from tests.planaudit import SHAPE_KEYS, plan_shape_counts
from social_warner_spark.queries import CHECK_PRIORITY, all_queries

BASELINE_PATH = os.path.join(os.path.dirname(__file__), "plan_shapes_baseline.json")


def _assert_no_regressions(spark, sf_smoke, names):
    with open(BASELINE_PATH) as f:
        baseline = json.load(f)

    missing = sorted(set(all_queries()) - set(baseline))
    assert not missing, (
        f"queries without a plan-shape baseline: {missing} — audit their "
        "plans and regenerate (python -m tests.planaudit)"
    )

    counts = plan_shape_counts(spark, sf_smoke, names)
    regressions = []
    for name, got in counts.items():
        base = baseline.get(name)
        if base is None:
            continue  # guarded by `missing` above
        for key in SHAPE_KEYS:
            if got[key] > base[key]:
                regressions.append(f"{name}: {key} {base[key]} -> {got[key]}")
    assert not regressions, (
        "plan-shape regressions (new shuffles / nested loops):\n"
        + "\n".join(regressions)
    )


def test_plan_shapes_do_not_regress_in_window(spark, sf_smoke):
    """Default-tier ratchet: the driver's CHECK_PRIORITY window — the 50
    queries whose code moved this round or last — is plan-audited on
    every default run (~40 s).  The full 445-query ratchet lives in the
    slow tier below (explaining every plan takes ~5 min, a third of the
    whole driver-facing tier — r10 verdict task 1)."""
    _assert_no_regressions(spark, sf_smoke, sorted(CHECK_PRIORITY))


@pytest.mark.slow
def test_plan_shapes_do_not_regress(spark, sf_smoke):
    _assert_no_regressions(spark, sf_smoke, None)


def test_unpartitioned_window_classifier():
    """ADVICE r05: the old regex missed expression-valued order args
    (parens/commas in the first windowspecdefinition argument).  The
    balanced-paren classifier counts those, still skips partitioned
    specs, and raises on a spec it cannot delimit."""
    from tests.planaudit import _count_unpartitioned_windows

    bare = (
        "windowspecdefinition(x#3L ASC NULLS FIRST, specifiedwindowframe("
        "RowFrame, unboundedpreceding$(), currentrow$()))"
    )
    expr = (
        "windowspecdefinition(cast(round(x#3, 2) as string) ASC NULLS "
        "FIRST, specifiedwindowframe(RangeFrame, unboundedpreceding$(), "
        "currentrow$()))"
    )
    partitioned = (
        "windowspecdefinition(g#1, x#3L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$()))"
    )
    part_expr = (
        "windowspecdefinition(coalesce(g#1, 0), x#3L DESC NULLS LAST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$()))"
    )
    frame_only = (
        "windowspecdefinition(specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), unboundedfollowing$()))"
    )
    assert _count_unpartitioned_windows(bare) == 1
    assert _count_unpartitioned_windows(expr) == 1
    assert _count_unpartitioned_windows(partitioned) == 0
    assert _count_unpartitioned_windows(part_expr) == 0
    assert _count_unpartitioned_windows(frame_only) == 1
    assert _count_unpartitioned_windows("\n".join([bare, expr, partitioned])) == 2
    # ADVICE r06: a spec split across physical lines (a future Spark
    # rendering change) is parsed, not a hard failure — only a spec whose
    # parens never close raises.  Spark 4.x renders specs on one line;
    # this keeps the audit alive if that assumption breaks.
    assert _count_unpartitioned_windows(partitioned.replace(", x#3L", ",\n x#3L")) == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unclassifiable"):
        _count_unpartitioned_windows("windowspecdefinition(x#3L ASC NULLS")


def test_lowcard_partition_window_classifier():
    """r07 metric: windows partitioned SOLELY by declared low-cardinality
    columns are counted; any extra (high-card) key exempts the spec, and
    expression-valued partition args are conservatively skipped."""
    from tests.planaudit import _count_lowcard_partition_windows

    lang_only = (
        "windowspecdefinition(lang#7, doc_id#0L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
    )
    lang_source = (
        "windowspecdefinition(lang#7, source#9, doc_id#0L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
    )
    lang_plus_token = (
        "windowspecdefinition(lang#7, tok#12, doc_id#0L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
    )
    user_key = (
        "windowspecdefinition(user_id#3L, ts#4 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
    )
    unpartitioned = (
        "windowspecdefinition(x#3L ASC NULLS FIRST, specifiedwindowframe("
        "RowFrame, unboundedpreceding$(), currentrow$()))"
    )
    expr_part = (
        "windowspecdefinition(coalesce(lang#7, x), doc_id#0L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
    )
    assert _count_lowcard_partition_windows(lang_only) == 1
    assert _count_lowcard_partition_windows(lang_source) == 1
    assert _count_lowcard_partition_windows(lang_plus_token) == 0
    assert _count_lowcard_partition_windows(user_key) == 0
    assert _count_lowcard_partition_windows(unpartitioned) == 0
    assert _count_lowcard_partition_windows(expr_part) == 0
    assert (
        _count_lowcard_partition_windows("\n".join([lang_only, user_key, lang_source]))
        == 2
    )


def test_broadcast_hint_counts_strategy_not_node():
    """ADVICE r06: the BroadcastHint metric matches the broadcast
    STRATEGY string, so a future hint('merge')/hint('shuffle_hash')
    is not tallied as a broadcast hint.

    Reviewer note (the metric's documented blind spot): hints inside an
    eagerly localCheckpoint-ed sub-relation are invisible to this pin —
    the checkpoint cuts the lineage before analysis.  Queries that
    checkpoint sub-relations (neardup clusters, calendar grids, IVM
    bases) must have their checkpointed subtrees' hints audited by hand
    when they change."""
    analyzed = (
        "Project [a#1]\n"
        "+- ResolvedHint (strategy=broadcast)\n"
        "   +- ResolvedHint (strategy=merge)\n"
        "      +- Relation [a#1] parquet\n"
    )
    assert analyzed.count("ResolvedHint (strategy=broadcast") == 1
    assert analyzed.count("ResolvedHint") == 2  # the node count the old metric used


def test_lowcard_grouped_pandas_classifier():
    """r07 metric: applyInPandas (FlatMapGroupsInPandas) grouped SOLELY
    by declared low-cardinality columns is counted — the ~|key|-task
    funnel that also MATERIALIZES each group in one pandas frame.  A
    high-card key in the set exempts the node; tree-section mentions
    (no Arguments block) are ignored; expression keys are skipped."""
    from tests.planaudit import _count_lowcard_grouped_pandas

    lowcard = (
        "(7) FlatMapGroupsInPandas\n"
        "Input [4]: [event_type#9, event_type#9, user_id#11L, v#12L]\n"
        "Arguments: [event_type#9], fold(event_type#9, v#12L)#14, "
        "[event_type#15, c#16L]"
    )
    highcard = (
        "(7) FlatMapGroupsInPandas\n"
        "Input [3]: [user_id#3L, user_id#3L, v#12L]\n"
        "Arguments: [user_id#3L], fold(user_id#3L, v#12L)#14, [c#16L]"
    )
    mixed = (
        "(7) FlatMapGroupsInPandas\n"
        "Input [4]: [event_type#9, pid#2, user_id#11L, v#12L]\n"
        "Arguments: [event_type#9, pid#2], fold(v#12L)#14, [c#16L]"
    )
    expr_key = (
        "(7) FlatMapGroupsInPandas\n"
        "Input [3]: [lang#7, v#12L, x#1]\n"
        "Arguments: [coalesce(lang#7, und)], fold(v#12L)#14, [c#16L]"
    )
    tree_only = "   +- FlatMapGroupsInPandas (7)\n      +- Sort (6)"
    # ADVICE r07: a ']' INSIDE a nested-bracket key expression must not
    # truncate the captured key list — here the nested array literal
    # would have made the old flat capture see only the low-card prefix
    # and miscount the node as low-card.
    nested_bracket = (
        "(7) FlatMapGroupsInPandas\n"
        "Input [3]: [event_type#9, user_id#11L, v#12L]\n"
        "Arguments: [event_type#9, element_at(array(user_id#11L)[0], 1)], "
        "fold(v#12L)#14, [c#16L]"
    )
    assert _count_lowcard_grouped_pandas(lowcard) == 1
    assert _count_lowcard_grouped_pandas(highcard) == 0
    assert _count_lowcard_grouped_pandas(mixed) == 0
    assert _count_lowcard_grouped_pandas(expr_key) == 0
    assert _count_lowcard_grouped_pandas(tree_only) == 0
    assert _count_lowcard_grouped_pandas(tree_only + "\n" + lowcard) == 1
    assert _count_lowcard_grouped_pandas(nested_bracket) == 0
