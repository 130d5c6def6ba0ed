"""Declared query set (SURVEY.md §2.d) — the correctness contract.

Each series module exposes:
- ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
- ``ORACLES: dict[str, str]``  (DuckDB ANSI SQL over the same parquet views)

Column names are aliased identically on both sides; doubles that are the
result of cross-engine-reorderable arithmetic are rounded explicitly in BOTH
engines (2dp for large sums, 6dp for means/cosines) so value hashes match.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from social_warner_spark.queries import (
    c_series,
    l_series,
    r_series,
    s_series,
    sql_series,
    x2_series,
    x3_series,
    x4_series,
    x5_series,
    x6_series,
    x7_series,
    x8_series,
    x9_series,
    x10_series,
    x11_series,
    x12_series,
    x13_series,
    x14_series,
    x15_series,
    x16_series,
    x17_series,
    x18_series,
    x19_series,
    x20_series,
    x21_series,
    x22_series,
    x23_series,
    x24_series,
    x25_series,
    x26_series,
    x27_series,
    x28_series,
    x29_series,
    x30_series,
    x31_series,
    x32_series,
    x33_series,
    x34_series,
    x35_series,
    x36_series,
    x37_series,
    x38_series,
    x39_series,
    x_series,
)

_SERIES = (
    r_series,
    c_series,
    s_series,
    l_series,
    x_series,
    x2_series,
    x3_series,
    x4_series,
    x5_series,
    x6_series,
    x7_series,
    x8_series,
    x9_series,
    x10_series,
    x11_series,
    x12_series,
    x13_series,
    x14_series,
    x15_series,
    x16_series,
    x17_series,
    x18_series,
    x19_series,
    x20_series,
    x21_series,
    x22_series,
    x23_series,
    x24_series,
    x25_series,
    x26_series,
    x27_series,
    x28_series,
    x29_series,
    x30_series,
    x31_series,
    x32_series,
    x33_series,
    x34_series,
    x35_series,
    x36_series,
    x37_series,
    x38_series,
    x39_series,
    sql_series,
)

#: Queries with NO DuckDB oracle.  EMPTY by policy since round 5: the
#: r04 verdict established the driver has no rows-only mode (a missing
#: oracle records an `err` row), so every declared query must carry an
#: oracle.  x377 — the one former member — was reformulated to its
#: theorem-anchored guaranteed-set projection (queries/x39_series.py),
#: which is SQL-expressible while still running the applyInPandas fold.
NO_ORACLE = frozenset()

#: Checked-window priority.  The grading driver verifies queries in
#: iteration order (a bounded window), so the dict is emitted with the
#: 50 queries that most need a driver CORRECTNESS row first.
#:
#: Round-11 rotation (r10 verdict task 2): cumulative driver coverage
#: reached 445/445 in r10, so the policy switches from "oldest /
#: never-checked first" to "TOUCHED-THIS-ROUND-OR-LAST first" — the r10
#: window was frozen before r10's optimization commits landed, so none
#: of the ~45 queries whose construction those commits rewrote (round-1
#: folds, jaccard post-agg sizes, codec vectorization, x179 closed form,
#: bounded-array graph edges, scoring_vec hoist) has a post-change
#: driver row yet.  This window front-loads ALL of them, plus the
#: queries r11's own changes touch (x31 shared survivor-set shingles,
#: x220 fused PQ aggregates, x239/x307 single-exchange LPA rounds).
#: Slot accounting (50 total):
#: - r10 round-1 fold consumers (11): x27, x77, x119, x138, x155, x256,
#:   x330, x362 (propagate_min_labels); x239, x307 (lpa_fixed — ALSO
#:   r11's single-exchange round); x231 (HITS).
#: - r10 codec vectorization + closed form (6): x215-x218, x236, x179.
#: - r10 jaccard-core / shingle-path consumers (17): l2, x16, x31 (ALSO
#:   r11's survivor-set decon shingles), x51, x99, x111, x120, x151,
#:   x211, x277, x312, x319, x336, x341, x358, x262, x164.
#: - r10 scoring_vec consumers (9): x7, x8, l3, x61, x24, x224, x226,
#:   x229, x269.
#: - r10 bounded-array graph rewrites (2): x81, x259.
#: - r11-only code moves (1): x220 (fused PQ fit/encode aggregates).
#: - global-rank consumers (4): x56, x223, x228, x230 (ordered.
#:   with_grouped_rank with no group keys).
#: Everything previously verified stays green via the local DuckDB
#: mirror (tests/test_correctness.py `-m ""`, all queries,
#: serialization-strict like the driver's hash) — and the DEFAULT pytest
#: tier mirrors exactly this window (pytest.ini, r10 verdict task 1).
#: Queries not listed follow in stable module order; total set is 445
#: (query-count freeze HELD).
CHECK_PRIORITY = (
    # round-1 fold consumers (r10 635868b; x239/x307 also carry r11's
    # single-exchange LPA round):
    "x27_neardup_clusters",
    "x77_cluster_survivors",
    "x119_split_leakage",
    "x138_cluster_size_histogram",
    "x155_effective_tokens",
    "x256_bcubed_dedup_eval",
    "x330_medoid_canonicals",
    "x362_dedup_waterfall",
    "x239_label_propagation",
    "x307_modularity",
    "x231_hits_scores",
    # codec vectorization (r10 0971685) + x179 closed form (c6ab8b3):
    "x215_png_pixels",
    "x216_wav_samples",
    "x217_image_ahash",
    "x218_wav_frames",
    "x236_mulaw_audio",
    "x179_subtree_rollup",
    # jaccard-core consumers (r10 9fbaf95; x31 also carries r11's shared
    # survivor-set shingle pass):
    "l2_jaccard_pairs",
    "x16_corpus_prep",
    "x31_full_pipeline",
    "x51_incremental_dedup",
    "x99_dedup_policy_report",
    "x111_jaccard_threshold_sweep",
    "x120_cross_source_dups",
    "x151_triplet_mining",
    "x211_dedup_lm_impact",
    "x277_rouge_pairs",
    "x312_lsh_planner",
    "x319_simhash_audit",
    "x336_crosssource_dups",
    "x341_ensemble_dedup_eval",
    "x358_weighted_jaccard",
    "x262_winnowing_overlap",
    "x164_dup_spans",
    # scoring_vec consumers (r10 7bab210):
    "x7_embed_neardup",
    "x8_ann_bucketed",
    "l3_topk_cosine",
    "x61_semantic_dedup",
    "x24_ann_ivf",
    "x224_hard_negative_mining",
    "x226_d4_prune",
    "x229_margin_bitext_mining",
    "x269_cluster_quality",
    # bounded-array graph rewrites (r10 6801725):
    "x81_triangle_count",
    "x259_adamic_adar",
    # r11 code moves without an r10 slot above:
    "x220_pq_ann",
    # global-rank consumers (ordered.with_grouped_rank, no group keys):
    "x56_global_index",
    "x223_quantile_normalize",
    "x228_padding_efficiency",
    "x230_vocab_budget_sweep",
)

#: The driver verifies a window of this size in iteration order; the
#: priority list is sized to it EXACTLY so nothing listed falls outside.
CHECKED_WINDOW = 50
assert len(CHECK_PRIORITY) == CHECKED_WINDOW, len(CHECK_PRIORITY)
assert len(set(CHECK_PRIORITY)) == CHECKED_WINDOW


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _SERIES:
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise RuntimeError(f"duplicate query ids: {overlap}")
        merged.update(mod.QUERIES)
    missing = set(CHECK_PRIORITY) - merged.keys()
    if missing:
        raise RuntimeError(f"CHECK_PRIORITY names unknown queries: {missing}")
    out = {name: merged[name] for name in CHECK_PRIORITY}
    out.update((k, v) for k, v in merged.items() if k not in out)
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _SERIES:
        out.update(mod.ORACLES)
    return out
