"""Focused pins for the r10 round-1 folds (commit 635868b).

The iterative graph operators fold round 1 into initialization:
propagate_min_labels' first labels are least(src, min(dst)), lpa_fixed's
first votes are the edge relation re-keyed, and x231's first authority
raw scores are dst in-degrees.  The hypothesis union-find property and
the x13/x14 invariant files pin the final outputs; these tests pin the
FOLD itself — the cases where the folded initialization must already BE
the fixpoint, the empty-edge degenerate, and a round-count-sensitive
deep chain — so a future refactor cannot silently revert to lab₀ = id
(wasting a round) or apply the fold twice (skipping one).
"""

from __future__ import annotations

import pyspark.sql.functions as F


def _labels(spark, edges_py):
    from social_warner_spark.operators.dedup import propagate_min_labels

    df = spark.createDataFrame(edges_py, "a long, b long")
    return {r.id: r.lab for r in propagate_min_labels(df).collect()}


def test_fold_is_already_fixpoint_on_stars_and_pairs(spark):
    """Graphs of diameter ≤ 2 with the min at the hub converge AT the
    folded initialization — the first loop iteration must detect zero
    change and exit with the init labels unchanged."""
    # min-hub star: every leaf's least(src, min(dst)) is already 1
    assert _labels(spark, [(1, 10), (1, 11), (1, 12)]) == {
        1: 1, 10: 1, 11: 1, 12: 1,
    }
    # single pair
    assert _labels(spark, [(7, 3)]) == {3: 3, 7: 3}


def test_fold_still_propagates_across_max_hub(spark):
    """max-id hub star: the hub folds to the min leaf immediately, but
    the OTHER leaves see only the hub in round 1 (their min(dst) is the
    hub id > own id), so convergence needs the post-fold loop — pins
    that the loop still runs and reaches the union-find fixpoint."""
    got = _labels(spark, [(10, 1), (10, 2), (10, 3)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 1}


def test_fold_deep_chain_converges_exactly(spark):
    """A descending chain 30→29→…→20 needs the full diameter of rounds
    after the fold; every node must still reach the global min."""
    edges = [(i, i + 1) for i in range(20, 30)]
    assert _labels(spark, edges) == {i: 20 for i in range(20, 31)}


def test_fold_empty_edges_yield_empty_labels(spark):
    """No edges → no edge-incident nodes: the folded init aggregates an
    empty relation and the loop must exit on its first no-change probe
    (neardup_clusters then rejoins every doc as its own singleton)."""
    df = spark.createDataFrame([], "a long, b long")
    from social_warner_spark.operators.dedup import propagate_min_labels

    assert propagate_min_labels(df).count() == 0


def test_lpa_single_round_equals_reference_replay(spark):
    """iters=1 exercises ONLY the folded round of lpa_fixed: each node
    must adopt its most frequent neighbor id (ties → min), and isolated
    nodes keep their own label — the same reference replay as the
    celebrity test, with no unfolded rounds to mask a fold defect."""
    from social_warner_spark.operators.graph import lpa_fixed

    # 1 and 2 point at each other and at 5; 9 is isolated.
    edges_py = [(1, 2), (2, 1), (1, 5), (2, 5), (5, 1)]
    nodes_py = [1, 2, 5, 9]
    # reference: round-1 votes under lab0 = id
    expected = {1: 2, 2: 1, 5: 1, 9: 9}
    nodes = spark.createDataFrame([(v,) for v in nodes_py], "node long")
    edges = spark.createDataFrame(edges_py, "src long, dst long")
    got = {r.node: r.lbl for r in lpa_fixed(nodes, edges, iters=1).collect()}
    assert got == expected


def test_hits_round1_authority_is_indegree_normalized(spark, sf_smoke, monkeypatch):
    """Pins x231's folded first half-round at the query level: run the
    declared pipeline with HITS_ITERS=1 so the output IS round 1, and
    recompute that round independently from the raw edge relation in
    Python — authorities must equal dst in-degree / Σ in-degree (6dp),
    hubs must equal the per-src sum of those authorities, renormalized
    (6dp).  A fold defect that merely preserved normalization (e.g.
    out-degree instead of in-degree, or a dropped count cast) fails
    here."""
    from social_warner_spark.queries import x13_series
    from social_warner_spark.queries.x13_series import x231_hits_scores
    from social_warner_spark.queries.common import T

    monkeypatch.setattr(x13_series, "HITS_ITERS", 1)
    out = {(r.node, r.role): r.score for r in x231_hits_scores(spark, sf_smoke).collect()}

    orders = T(spark, sf_smoke, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_smoke, "lineitem").select("l_orderkey", "l_suppkey")
    edges = {
        (r.src, r.dst)
        for r in orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
        .collect()
    }
    indeg: dict[int, int] = {}
    for _, d in edges:
        indeg[d] = indeg.get(d, 0) + 1
    tot = float(sum(indeg.values()))
    auth = {d: round(c / tot, 6) for d, c in indeg.items()}
    hraw = {}
    for s, d in edges:
        hraw[s] = hraw.get(s, 0.0) + auth[d]
    hsum = sum(hraw.values())
    hub = {s: round(v / hsum, 6) for s, v in hraw.items()}

    expected = {(f"s{d}", "authority"): a for d, a in auth.items()}
    expected.update({(f"c{s}", "hub"): h for s, h in hub.items()})
    assert out.keys() == expected.keys()
    for k, v in expected.items():
        # the engine's float sum order may differ from Python's at the
        # last ulp before rounding; 6dp-rounded values can then differ
        # by exactly one grid step on a knife edge — allow that only.
        assert abs(out[k] - v) <= 1e-6 + 1e-12, (k, out[k], v)
