"""Semantic invariants for the x31-series operators — independent
pure-Python recomputes plus definitional bounds."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd


def _vecs(sf_dir):
    e = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    return {
        int(r.vec_id): (int(r.label), np.array(r.embedding, dtype=np.float64))
        for r in e.itertuples()
    }


def _bucket(salt, vid, mod):
    return int(hashlib.md5(f"{salt}{vid}".encode()).hexdigest()[:8], 16) % mod


def test_anisotropy_matches_numpy(spark, sf_smoke):
    """x337: recompute the bucketed mean cosine; anisotropy in
    [-1, 1]."""
    from social_warner_spark.queries.x21_series import AU_BUCKETS
    from social_warner_spark.queries.x31_series import x337_anisotropy

    r = x337_anisotropy(spark, sf_smoke).collect()[0]
    vecs = _vecs(sf_smoke)
    ids = sorted(vecs)
    bks = {v: _bucket("au|", v, AU_BUCKETS) for v in ids}
    cs = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            if bks[a] != bks[b]:
                continue
            va, vb = vecs[a][1], vecs[b][1]
            cs.append(
                round(
                    float(va @ vb)
                    / (
                        math.sqrt(float(va @ va))
                        * math.sqrt(float(vb @ vb))
                    ),
                    6,
                )
            )
    assert r.n_pairs == len(cs)
    assert abs(r.anisotropy - round(sum(cs) / len(cs), 6)) < 1e-6
    assert -1.0 <= r.anisotropy <= 1.0
    norms = [math.sqrt(float(v @ v)) for _, v in vecs.values()]
    assert abs(r.mean_norm - round(sum(norms) / len(norms), 6)) < 1e-5


def test_hubness_matches_numpy(spark, sf_smoke):
    """x338: rebuild within-bucket top-k lists; mean occurrence must
    equal k when every bucket has > k members."""
    from social_warner_spark.queries.x31_series import (
        HUB_BUCKETS,
        HUB_K,
        x338_hubness,
    )

    r = x338_hubness(spark, sf_smoke).collect()[0]
    vecs = _vecs(sf_smoke)
    ids = sorted(vecs)
    bks = defaultdict(list)
    for v in ids:
        bks[_bucket("hub|", v, HUB_BUCKETS)].append(v)
    occ = Counter()
    for mem in bks.values():
        for q in mem:
            scores = []
            vq = vecs[q][1]
            nq = math.sqrt(float(vq @ vq))
            for c in mem:
                if c == q:
                    continue
                vc = vecs[c][1]
                nc = math.sqrt(float(vc @ vc))
                scores.append(
                    (round(float(vq @ vc) / (nq * nc), 6), c)
                )
            scores.sort(key=lambda t: (-t[0], t[1]))
            for _, c in scores[:HUB_K]:
                occ[c] += 1
    os_ = [occ.get(v, 0) for v in ids]
    n = len(os_)
    m1 = sum(os_) / n
    m2 = sum(o * o for o in os_) / n - m1 * m1
    m3 = (
        sum(o**3 for o in os_) / n
        - 3 * m1 * sum(o * o for o in os_) / n
        + 2 * m1**3
    )
    assert r.n_vectors == n
    assert abs(r.mean_occ - round(m1, 6)) < 1e-6
    assert r.max_occ == max(os_)
    assert abs(r.antihub_share - round(sum(o == 0 for o in os_) / n, 6)) < 1e-6
    assert abs(r.occ_skewness - round(m3 / m2**1.5, 6)) < 1e-4


def test_positivity_matches_pure_python(spark, sf_smoke):
    """x339: replay arms, decile bins and propensities."""
    from social_warner_spark.queries.x20_series import DID_SALT
    from social_warner_spark.queries.x31_series import (
        PP_BINS,
        PP_HI,
        PP_LO,
        x339_positivity_check,
    )

    r = x339_positivity_check(spark, sf_smoke).collect()[0]
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet")
    users = ev.groupby("user_id").size()
    cuts = [
        round(users.quantile(i / PP_BINS, interpolation="linear"), 6)
        for i in range(1, PP_BINS)
    ]
    bins = defaultdict(list)
    for uid, cnt in users.items():
        b = 1 + sum(cnt > c for c in cuts)
        t = 1 if _bucket(DID_SALT, uid, 2) == 0 else 0
        bins[b].append(t)
    props = {b: round(sum(ts) / len(ts), 6) for b, ts in bins.items()}
    assert r.n_bins == len(bins)
    assert r.bins_with_both_arms == sum(
        1 for p in props.values() if 0 < p < 1
    )
    assert abs(r.min_propensity - min(props.values())) < 1e-6
    assert abs(r.max_propensity - max(props.values())) < 1e-6
    em = sum(
        len(ts)
        for b, ts in bins.items()
        if props[b] < PP_LO or props[b] > PP_HI
    ) / len(users)
    assert abs(r.extreme_mass - round(em, 6)) < 1e-6


def test_subsequence_mining_matches_pure_python(spark, sf_smoke):
    """x340: exhaustive containment scan per user; supports agree and
    rank ties break lexicographically."""
    from social_warner_spark.queries.x31_series import (
        SS_TOP,
        x340_subsequence_mining,
    )

    rows = x340_subsequence_mining(spark, sf_smoke).collect()
    ev = pd.read_parquet(f"{sf_smoke}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    types = sorted(ev["event_type"].unique())
    sup = Counter()
    nu = ev["user_id"].nunique()
    for uid, g in ev.groupby("user_id"):
        seq = g["event_type"].to_list()

        def contains(a, b, c):
            try:
                i = seq.index(a)
                j = next(
                    k for k in range(i + 1, len(seq)) if seq[k] == b
                )
                return any(t == c for t in seq[j + 1 :])
            except (ValueError, StopIteration):
                return False

        for a in types:
            for b in types:
                for c in types:
                    if contains(a, b, c):
                        sup[(a, b, c)] += 1
    want = sorted(
        sup.items(), key=lambda kv: (-kv[1], kv[0])
    )[:SS_TOP]
    assert len(rows) == min(SS_TOP, len(sup))
    for row, ((a, b, c), s) in zip(rows, want):
        assert (row.a, row.b, row.c, row.support) == (a, b, c, s)
        assert abs(row.support_share - round(s / nu, 6)) < 1e-6


def test_ensemble_dedup_eval_invariants(spark, sf_smoke):
    """x341: union recall >= each detector's recall; intersection
    precision >= max single precision is NOT guaranteed, but union
    predictions == lex + sim - both must hold via counts."""
    from social_warner_spark.queries.x31_series import (
        x341_ensemble_dedup_eval,
    )

    got = {r.detector: r for r in x341_ensemble_dedup_eval(spark, sf_smoke).collect()}
    lex, sim = got["lexical"], got["simhash"]
    uni, inter = got["union"], got["intersection"]
    # set algebra on prediction counts
    assert uni.n_pred + inter.n_pred == lex.n_pred + sim.n_pred
    assert uni.tp + inter.tp == lex.tp + sim.tp
    # recall ordering
    if uni.recall is not None and lex.recall is not None:
        assert uni.recall >= lex.recall - 1e-9
        assert uni.recall >= (sim.recall or 0.0) - 1e-9
    if inter.recall is not None:
        assert inter.recall <= (lex.recall or 1.0) + 1e-9
    # gold is identical across detectors
    assert len({r.n_gold for r in got.values()}) == 1
    # exact duplicates have jaccard 1 -> lexical recall is 1
    assert lex.recall == 1.0
