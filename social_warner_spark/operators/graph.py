"""Graph operators expressed as iterated DataFrame joins.

PageRank with a FIXED iteration count, on the scaled recursion
R_{k+1}(n) = (1-d) + d * Σ_{(m,n)∈E} R_k(m) / outdeg(m)   (R_0 = 1),
i.e. ranks are N·PageRank, so values are O(1) and the 6dp per-iteration
rounding (applied identically by the SQL oracle) keeps both engines on
the same float grid.  A fixed iteration count — rather than
iterate-to-convergence — is what makes the operator oracle-checkable:
the DuckDB oracle unrolls the same three iterations as chained CTEs.

Companion to operators/dedup.py:neardup_clusters (min-label propagation,
the other iterative-join operator); see PERF.md for the shared scale
notes: edges+outdeg are persisted once and reused by every iteration,
each iteration is one shuffle (groupBy dst), and the rank table — one
row per node — is orders of magnitude smaller than the edge table, which
never re-shuffles after its first partitioning.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from social_warner_spark.caching import register_persisted

#: The damping factor d of the recursion above.
DAMPING = 0.85


def sorted_array_pairs(arr: Column, a: str = "src", b: str = "dst") -> Column:
    """All i < j element pairs of a SORTED array as struct(a, b) — the
    narrow (codegen, zero-shuffle) form of a within-group self-join.

    For a group already reduced to one array row, emitting its C(n, 2)
    unordered pairs this way replaces the classic
    ``rel.alias("l").join(rel.alias("r"), key & (l.item < r.item))``
    — which costs one more corpus-scale Exchange for the join's second
    side — with a per-row expression.  Callers must bound the array
    (small natural groups like order baskets, or an explicit degree
    cap applied BEFORE the collect) so per-row state stays O(cap).
    """
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.greatest(F.size(arr) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )


def within_group_pairs(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Distinct unordered item pairs (src < dst) co-occurring in a group —
    the co-occurrence-edge construction (parts sharing an order, docs
    sharing a tag, ...).

    One groupBy on the group key (collect_set is bounded by the natural
    group size — order baskets are O(10) items) + a narrow combination
    explode + the cross-group distinct: exactly the same pair set as the
    self-join form ``a ⋈ b ON a.g = b.g AND a.item < b.item`` with one
    fewer corpus-scale Exchange and no join (measured 2.0→1.4s on the
    sf0.1 co-purchase graph, r10).
    """
    grouped = df.groupBy(group_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("_items")
    )
    return (
        grouped.select(F.explode(sorted_array_pairs(F.col("_items"))).alias("_e"))
        .select("_e.src", "_e.dst")
        .distinct()
    )


def pagerank_fixed(nodes: DataFrame, edges: DataFrame, iters: int = 3) -> DataFrame:
    """nodes: (node) — one row per vertex.  edges: (src, dst) directed,
    pre-deduplicated.  Returns (node, pr) after ``iters`` iterations.
    """
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # deg is attached to edges once; the (src, dst, deg) relation is the
    # loop invariant every iteration re-reads.
    ed = register_persisted(edges.join(outdeg, "src").persist())
    base = F.lit(round(1.0 - DAMPING, 6))

    rank = nodes.select("node", F.lit(1.0).alias("pr"))
    for _ in range(iters):
        contrib = (
            ed.join(rank, ed["src"] == rank["node"])
            .select(ed["dst"], (rank["pr"] / ed["deg"]).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        rank = nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
            nodes["node"],
            F.round(
                base + F.lit(DAMPING) * F.coalesce(F.col("inflow"), F.lit(0.0)), 6
            ).alias("pr"),
        )
    return rank


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected simple graph (``edges``
    must be distinct pairs with src < dst) — one row: n_nodes, n_edges,
    n_triangles.

    Compact-forward orientation: every edge is directed from its
    lower-(degree, id) endpoint to the higher, turning the graph into a
    DAG where each triangle appears EXACTLY once as u→v, u→w closed by
    v→w — i.e. for every oriented edge (u,v) the closing vertices are
    N⁺(u) ∩ N⁺(v).  Orienting by degree bounds every out-degree at
    O(√E), so out-adjacency ARRAYS are safely collectable per node, and
    the count is one `array_intersect` per edge — the wedge join that a
    naive formulation materializes (Σ outdeg² rows ≈ 70M on the sf0.1
    co-purchase graph; measured 21.5s vs 6s for this form) never exists.
    Two equi-join shuffles attach the adjacency arrays; per-edge
    intersect cost is O(outdeg(u)+outdeg(v))."""
    from social_warner_spark.caching import register_persisted

    # edges feeds degree (twice, via the union), orientation, and the
    # n_edges count — persist or the upstream edge construction (often a
    # self-join + distinct) re-runs once per consumer.
    edges = register_persisted(edges.persist())
    deg = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        # deg is |nodes|-scaled: no explicit broadcast hint (r05 verdict
        # — AQE picks the build side; a hint would force corpus-sized
        # broadcasts at 100 TB).
        edges.join(deg.withColumnsRenamed({"n": "src", "deg": "_ds"}), "src")
        .join(deg.withColumnsRenamed({"n": "dst", "deg": "_dd"}), "dst")
    )
    src_first = (F.col("_ds") < F.col("_dd")) | (
        (F.col("_ds") == F.col("_dd")) & (F.col("src") < F.col("dst"))
    )
    oriented = register_persisted(
        with_deg.select(
            F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
            F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
        ).persist()
    )
    adj = oriented.groupBy(F.col("u").alias("n")).agg(
        F.collect_list("v").alias("nbrs")
    )
    closed = (
        # adj is |nodes|-scaled WITH adjacency arrays — the worst
        # relation to force-broadcast; plain equi-joins, AQE decides.
        oriented.join(adj.withColumnsRenamed({"n": "u", "nbrs": "_nu"}), "u")
        .join(
            adj.withColumnsRenamed({"n": "v", "nbrs": "_nv"}), "v", "left"
        )
        .select(
            F.when(F.col("_nv").isNull(), F.lit(0))
            .otherwise(F.size(F.array_intersect(F.col("_nu"), F.col("_nv"))))
            .alias("_t")
        )
    )
    tri = closed.agg(F.sum("_t").alias("n_triangles"))
    counts = edges.agg(F.count("*").alias("n_edges")).crossJoin(
        deg.agg(F.count("*").alias("n_nodes"))
    )
    return counts.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")

def lpa_fixed(nodes: DataFrame, edges: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous label propagation with a FIXED round count
    (Raghavan/Albert/Kumara 2007, made deterministic): every node starts
    labelled with its own id; each round it adopts the most frequent
    label among its neighbors, ties broken by lexicographic minimum;
    nodes with no in-edges keep their current label.  Returns
    (node, lbl) after ``iters`` rounds.

    nodes: (node).  edges: (src, dst) — directed; pass both directions
    for an undirected graph.  PRECONDITION: every edge endpoint (src and
    dst) must appear in ``nodes`` — the r10 round-1 fold treats a
    neighbor's id as its label, which is only the identity lookup the
    unfolded join computed when dst is a known node (out-of-contract
    dangling dst would now vote with lbl=dst instead of being silently
    dropped by the join).  Both in-repo callers build nodes/edges from
    the same FK-joined relations, so the contract holds by construction.
    Fixed rounds + the deterministic tie-break are what make the
    operator oracle-checkable (the DuckDB oracle unrolls the identical
    rounds as chained CTEs).

    Scale: the edge relation is persisted once, PRE-PARTITIONED on dst
    (r11) so every round's edges ⋈ labels join reuses the cached
    partitioning instead of re-exchanging |E| rows per round; each round
    is then that join plus ONE |E|-row exchange — the vote relation is
    re-keyed to its destination node up front, and the (node,label)
    count, the per-node top-1, and the labels update all reuse that same
    HashPartitioning(node) (hash on a prefix of the grouping keys
    satisfies the clustered distributions — guide §2.4 "two operations
    keyed the same way can share one exchange").  The r10 shape paid
    three keyed shuffles per round ((src,lbl) votes, node top-1, node
    join); measured interleaved on x239's graph: 4.0 → 3.2 s at sf0.1
    (PERF.md, "Rounds 10–11 — optimization record"), identical output.
    The label relation (one row per node) is persisted per round so
    round k joins a materialisation, not round k-1's lineage.
    """
    from social_warner_spark.caching import register_persisted

    ed = register_persisted(edges.repartition("dst").persist())
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for i in range(iters):
        if i == 0:
            # r10: ROUND-1 FOLD — with lab₀(v) = v, a neighbor's label IS
            # its id, so round 1's edges⋈labels join is an identity lookup
            # and the vote relation is the edge relation re-keyed
            # ((src, dst) → (node, lbl)), no join at all.  Precondition
            # (already the operator contract — the reference replay in
            # tests/test_hot_key_skew.py indexes labels[dst] directly):
            # every edge endpoint appears in ``nodes``.  One fewer |E|-row
            # join shuffle per run; identical output.
            votes = ed.groupBy(
                F.col("src").alias("node"), F.col("dst").alias("lbl")
            ).agg(F.count("*").alias("c"))
        else:
            # re-key the raw votes to their destination node BEFORE
            # aggregating: the explicit repartition("node") is the
            # round's only exchange — groupBy(node, lbl), the per-node
            # top-1, and the labels join below all reuse it.
            votes = (
                ed.join(labels.withColumnRenamed("node", "dst"), "dst")
                .select(F.col("src").alias("node"), "lbl")
                .repartition("node")
                .groupBy("node", "lbl")
                .agg(F.count("*").alias("c"))
            )
        # top-1 per node as a hash aggregation, not a window: min over the
        # (-count, label) struct = max count with min-label tie-break —
        # saves the per-round partition sort.  (An isolated-node-set-
        # union variant that drops the per-round persist was measured
        # SLOWER — the union erases the agg's hash partitioning, forcing
        # a full label re-shuffle every round; see PERF.md.)
        best = votes.groupBy("node").agg(
            F.min_by("lbl", F.struct(-F.col("c"), F.col("lbl"))).alias(
                "new_lbl"
            )
        )
        labels = register_persisted(
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("new_lbl"), F.col("lbl")).alias("lbl"),
            )
            .persist()
        )
    return labels
