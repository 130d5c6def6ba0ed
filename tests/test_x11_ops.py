"""Operator edge cases for the x11 batch (duplicated spans, Poisson
bootstrap weights, stratified sampling invariants)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F


COMMON = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 tokens


def test_duplicated_spans_handcrafted(spark):
    """Two docs sharing a 10-token run (at different offsets) each get ONE
    maximal span covering exactly that run; a doc with two separated
    shared runs gets TWO spans; a unique doc is absent."""
    from social_warner_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [
            # A: common run at pos 0..9, unique 4-token tail  (14 tokens)
            (1, COMMON + " ax1 ax2 ax3 ax4"),
            # B: 3-token unique prefix, common run at pos 3..12 (13 tokens)
            (2, "bx1 bx2 bx3 " + COMMON),
            # C: fully unique (no row expected)
            (3, "cx1 cx2 cx3 cx4 cx5 cx6 cx7 cx8 cx9 cx10"),
            # D: first 6 of the run, 6 unique, last 6 of the run (18 tokens)
            (
                4,
                "alpha beta gamma delta epsilon zeta "
                "dx1 dx2 dx3 dx4 dx5 dx6 "
                "epsilon zeta eta theta iota kappa",
            ),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in duplicated_spans(docs, w=4).collect()
    }
    assert set(out) == {1, 2, 4}
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 10
    assert out[1]["dup_frac"] == round(10 / 14, 6)
    assert out[2]["n_dup_spans"] == 1 and out[2]["dup_tokens"] == 10
    assert out[2]["dup_frac"] == round(10 / 13, 6)
    # D: two islands (hit positions 0..2 and 12..14; gap 10 > w=4)
    assert out[4]["n_dup_spans"] == 2 and out[4]["dup_tokens"] == 12
    assert out[4]["dup_frac"] == round(12 / 18, 6)


def test_duplicated_spans_adjacent_runs_merge(spark):
    """Hits whose gap is exactly w merge (spans touch end-to-end)."""
    from social_warner_spark.operators.dedup import duplicated_spans

    # shared run of 8 tokens → w=4 hits at 0..4: one span of 8
    run = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = spark.createDataFrame(
        [(1, run + " u1 u2"), (2, "v1 v2 " + run)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r.asDict() for r in duplicated_spans(docs, w=4).collect()}
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 8
    assert out[2]["n_dup_spans"] == 1 and out[2]["dup_tokens"] == 8


def test_poisson1_weight_ladder(spark):
    """The inverse-CDF ladder maps uniforms to the exact Poisson(1) k."""
    from social_warner_spark.queries.x11_series import POISSON1_CUM, poisson1_weight

    cases = [
        (0.1, 0),
        (POISSON1_CUM[0] - 1e-12, 0),
        (POISSON1_CUM[0] + 1e-12, 1),
        (0.5, 1),
        (0.9, 2),
        (0.95, 3),
        (POISSON1_CUM[8] + 1e-13, 9),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["u"])
    got = [r["w"] for r in df.select(poisson1_weight(F.col("u")).alias("w")).collect()]
    assert got == [k for _, k in cases]


def test_poisson_bootstrap_weight_mean_near_one(spark, sf_smoke):
    """Replicate weights must be ~Poisson(1): mean weight within 5% of 1
    over the events×B grid (a broken uniform or ladder shifts this)."""
    from social_warner_spark.queries.x11_series import (
        BOOT_B,
        _uniform_from_md5,
        poisson1_weight,
    )
    from social_warner_spark.queries.common import T

    e = T(spark, sf_smoke, "events").select("event_id")
    reps = e.select(
        "event_id", F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b")
    )
    u = _uniform_from_md5(
        F.concat(F.col("event_id").cast("string"), F.lit("#"), F.col("b").cast("string"))
    )
    m = reps.select(poisson1_weight(u).alias("w")).agg(F.avg("w")).first()[0]
    assert math.isclose(m, 1.0, rel_tol=0.05), m


def test_stratified_sample_sizes_and_determinism(spark, sf_correct):
    """Every source yields exactly min(k, stratum size) rows, and two runs
    select the identical doc_ids (the draw is md5-deterministic)."""
    from social_warner_spark.queries.x11_series import (
        STRATUM_K,
        x166_stratified_weighted_sample,
    )

    a = x166_stratified_weighted_sample(spark, sf_correct).collect()
    b = x166_stratified_weighted_sample(spark, sf_correct).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    per_source: dict[str, int] = {}
    for r in a:
        per_source[r["source"]] = per_source.get(r["source"], 0) + 1
    assert per_source and all(n == STRATUM_K for n in per_source.values())


def bpe_reference(corpus: list[list[str]], rounds: int) -> list[tuple[int, str, str, int]]:
    """Pure-Python reference BPE (greedy left-to-right merge): the oracle
    for learn_merges."""
    from social_warner_spark.operators.tokenizer import MERGE_SEP

    seqs = [list(doc) for doc in corpus]
    out = []
    for r in range(1, rounds + 1):
        counts: dict[tuple[str, str], int] = {}
        for s in seqs:
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        (p1, p2), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((r, p1, p2, n))
        merged_sym = p1 + MERGE_SEP + p2
        for idx, s in enumerate(seqs):
            ns, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == p1 and s[i + 1] == p2:
                    ns.append(merged_sym)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            seqs[idx] = ns
    return out


def test_bpe_learn_merges_matches_reference(spark):
    """The distributed merge loop reproduces reference BPE (greedy
    left-to-right merge, frequency-then-lexicographic rule choice)
    including consecutive-occurrence and self-pair (p1==p2) geometry."""
    from social_warner_spark.operators.tokenizer import learn_merges

    texts = [
        "the cat sat on the mat",
        "the cat ran to the cat",
        "a cat sat here and there",
        "b b b b b",          # self-pair: 4 b-pairs, greedy merges 2
        "the cat the cat sat",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = [
        (r["round"], r["p1"], r["p2"], r["n"])
        for r in learn_merges(docs, rounds=4).orderBy("round").collect()
    ]
    want = bpe_reference([t.split() for t in texts], 4)
    assert got == want, f"\ngot:  {got}\nwant: {want}"


def test_waterfill_exhausts_budget_and_respects_caps(spark, sf_correct):
    """Allocations must sum to the budget (95% of corpus tokens) and
    never exceed any source's supply; at least one source saturates on
    this corpus."""
    import pyspark.sql.functions as F

    from social_warner_spark.functions.text import token_count_ws
    from social_warner_spark.queries.common import T
    from social_warner_spark.queries.x11_series import x181_budget_waterfill

    rows = x181_budget_waterfill(spark, sf_correct).collect()
    total = (
        T(spark, sf_correct, "documents")
        .agg(F.sum(token_count_ws(F.col("text"))))
        .first()[0]
    )
    budget = total * 19 // 20
    assert abs(sum(r["allocation"] for r in rows) - budget) < 1e-2
    assert all(r["allocation"] <= r["supply"] + 1e-9 for r in rows)
    assert any(r["saturated"] for r in rows)
    assert any(not r["saturated"] for r in rows)
