"""t2 mirror: every declared query must match its DuckDB oracle at sf0.01."""

from __future__ import annotations

import pytest

from social_warner_spark.queries import NO_ORACLE, all_oracles, all_queries

from tests.oracle_harness import compare, duck_connection

QUERIES = all_queries()
ORACLES = all_oracles()


def test_every_query_has_oracle():
    """Every declared query has a DuckDB oracle, except the documented
    non-SQL-expressible set (NO_ORACLE — sequential stateful folds the
    driver checks rows-only and the local suite covers with dedicated
    guarantee/parity tests)."""
    missing = [q for q in QUERIES if q not in ORACLES and q not in NO_ORACLE]
    assert not missing, f"queries without oracles: {missing}"
    stale = [q for q in NO_ORACLE if q not in QUERIES or q in ORACLES]
    assert not stale, f"NO_ORACLE entries stale or oracled after all: {stale}"


#: Default (driver-facing) tier mirrors the driver's current
#: CHECK_PRIORITY window — the 50 queries whose CORRECTNESS rows this
#: round produces — so a default `pytest tests/` run proves the window
#: green in ~2 min.  Queries that rotate out of the window keep their
#: default-tier mirror (_KEPT_DEFAULT), so a rotation never drops a case
#: the default run already checked.  Every other declared query keeps
#: its mirror in the `slow` tier (`-m ""` runs all 445; the pre-close
#: gate).
from social_warner_spark.queries import CHECK_PRIORITY

#: Queries the default tier mirrors beyond the window:
#: - composite/dedup anchors that left the window when the global-rank
#:   consumers (x56, x223, x228, x230) took their slots;
#: - queries outside the window whose operators were rebuilt on a shared
#:   code path: the global rank / running sum / ntile callers now on the
#:   grouped operators with no group keys (x87, x136, x137, x184, x187,
#:   x267) and the media decoders and payload builders now on one
#:   mapInPandas / pandas-UDF scaffold (x49, x232, x235).
_KEPT_DEFAULT = {
    "l1_exact_dedup",
    "x54_segment_dedup",
    "x100_hierarchy_depth",
    "x176_source_set_cover",
    "x49_media_probe",
    "x87_skew_report",
    "x136_pareto_concentration",
    "x137_rfm_segments",
    "x184_rank_auc",
    "x187_heaps_law",
    "x232_gif_frame_stats",
    "x235_jpeg_pixels",
    "x267_theil_sen",
}
_DEFAULT_TIER = set(CHECK_PRIORITY) | _KEPT_DEFAULT


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=[] if n in _DEFAULT_TIER else [pytest.mark.slow])
        for n in sorted(set(QUERIES) - NO_ORACLE)
    ],
)
def test_query_matches_oracle(spark, sf_correct, name):
    sdf = QUERIES[name](spark, sf_correct)
    con = duck_connection(sf_correct)
    try:
        ddf = con.execute(ORACLES[name]).df()
    finally:
        con.close()
    ok, msg = compare(sdf, ddf)
    assert ok, f"{name}: {msg}"


def test_check_priority_window_spans_every_family():
    """The driver verifies the first CHECKED_WINDOW queries in iteration
    order; every series module must have at least one representative
    with a HARD driver signal — either inside the current window or
    already driver-verified in a recorded round (CORRECTNESS_r*.json).
    (Round 3 rotated the window to 50 never-checked queries per the
    round-2 verdict, so prior-round rows are what keep the early
    families covered.)"""
    import glob
    import json
    import os

    from social_warner_spark import queries as q

    window = set(q.CHECK_PRIORITY)
    assert len(window) == q.CHECKED_WINDOW
    repo_root = os.path.join(os.path.dirname(__file__), "..")
    verified: set[str] = set()
    for path in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        with open(path) as f:
            rows = json.load(f)
        verified |= {
            name
            for name, row in rows.items()
            if row.get("rows_match") and row.get("schema_match")
        }
    covered = window | verified
    for mod in q._SERIES:
        inside = covered & set(mod.QUERIES)
        assert inside, (
            f"{mod.__name__} has no query in the checked window or any "
            "recorded driver round"
        )
