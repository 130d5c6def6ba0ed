"""bench_runs_detail.json must be merged, not truncated (r08 verdict:
the driver's r08 bench run destroyed the manual ``quiet_rechecks_r08``
record PERF.md pointed at).  ``bench.merge_detail`` is the
read-modify-write helper every bench run now goes through."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _RUN_KEYS, merge_detail


def test_auxiliary_keys_survive_a_run():
    existing = {
        "metric": "headline_queries_wall_clock",
        "queries": {"c1_scan_filter": 9.9},
        "isolated_rechecks": {"x999": {"median": 1.0}},
        "quiet_rechecks_r08": {"note": "manual"},
        "quiet_rechecks_r09": {"x239_label_propagation": {"median": 4.0}},
    }
    record = {
        "metric": "headline_queries_wall_clock",
        "queries": {"c1_scan_filter": 0.5},
        "isolated_rechecks": {},
    }
    merged = merge_detail(existing, record)
    # run-produced keys come from the NEW record...
    assert merged["queries"] == {"c1_scan_filter": 0.5}
    assert merged["isolated_rechecks"] == {}
    # ...auxiliary keys are preserved verbatim
    assert merged["quiet_rechecks_r08"] == {"note": "manual"}
    assert merged["quiet_rechecks_r09"] == existing["quiet_rechecks_r09"]


def test_missing_or_corrupt_existing_degrades_to_record():
    record = {"metric": "m", "queries": {}}
    for existing in (None, "not a dict", [1, 2]):
        merged = merge_detail(existing, record)
        assert merged["metric"] == "m" and merged["queries"] == {}
        assert [h["queries"] for h in merged["runs_history"]] == [{}]


def test_run_keys_cover_everything_a_run_writes():
    # The keys bench.main() writes each run; drift here would silently
    # turn a run-produced key into a "preserved" stale one.
    assert _RUN_KEYS == {
        "metric", "value", "unit", "queries", "sf", "runs",
        "queries_all_runs", "loadavg", "queries_loadavg",
        "isolated_rechecks", "load_polluted", "queries_steal",
        "cpus", "recorded_at",
    }


def test_consecutive_runs_at_different_cpus_both_recoverable():
    """r10 verdict task 7: the driver's 8-core run clobbered the 32-core
    run's per-query steal.  Two consecutive merges must leave BOTH runs
    readable from the artifact, each self-describing via ``cpus``."""
    r32 = {
        "metric": "m", "cpus": "32",
        "queries": {"q": 1.0}, "queries_steal": {"q": 7376},
    }
    r8 = {
        "metric": "m", "cpus": "8",
        "queries": {"q": 2.0}, "queries_steal": {"q": 3},
    }
    merged = merge_detail(merge_detail({}, r32), r8)
    # top level = most recent run (back-compat for existing readers)
    assert merged["cpus"] == "8" and merged["queries"] == {"q": 2.0}
    by_cpus = {h["cpus"]: h for h in merged["runs_history"]}
    assert by_cpus["32"]["queries_steal"] == {"q": 7376}
    assert by_cpus["8"]["queries"] == {"q": 2.0}
    assert [h["attempt"] for h in merged["runs_history"]] == [1, 2]


def test_history_ring_is_bounded():
    from bench import HISTORY_MAX

    merged: dict = {}
    for i in range(HISTORY_MAX + 5):
        merged = merge_detail(merged, {"metric": "m", "value": i})
    hist = merged["runs_history"]
    assert len(hist) == HISTORY_MAX
    # most recent last; attempts keep counting past evictions
    assert hist[-1]["value"] == HISTORY_MAX + 4
    assert hist[-1]["attempt"] == HISTORY_MAX + 5


def test_history_survives_a_merge_as_auxiliary_state():
    # runs_history is NOT a run key: a merge must extend it, never reset.
    first = merge_detail({}, {"metric": "m", "value": 1})
    second = merge_detail(first, {"metric": "m", "value": 2})
    assert [h["value"] for h in second["runs_history"]] == [1, 2]


def test_history_entry_is_isolated_from_the_live_record():
    # the history ring must keep what the run recorded, even if the live
    # record's nested dicts are mutated after the merge
    record = {"metric": "m", "queries": {"q1": 1.0}, "queries_steal": {"q1": 0}}
    merged = merge_detail({}, record)
    record["queries"]["q1"] = 9.9
    record["queries_steal"]["q2"] = 5
    assert merged["runs_history"][-1]["queries"] == {"q1": 1.0}
    assert merged["runs_history"][-1]["queries_steal"] == {"q1": 0}


def test_steal_ticks_parses_proc_stat(tmp_path):
    from bench import steal_ticks

    p = tmp_path / "stat"
    p.write_text("cpu  100 0 50 9000 10 0 5 4242 0 0\n23 0 1 2 3 4 5 6 7 8\n")
    assert steal_ticks(str(p)) == 4242


def test_steal_ticks_unreadable_or_malformed_is_none(tmp_path):
    # Non-Linux / masked /proc must degrade to None, never fail a sweep.
    from bench import steal_ticks

    assert steal_ticks(str(tmp_path / "missing")) is None
    bad = tmp_path / "stat"
    bad.write_text("intr 12 34\n")  # first line isn't the cpu summary
    assert steal_ticks(str(bad)) is None
    bad.write_text("cpu  1 2 3\n")  # too few fields for a steal column
    assert steal_ticks(str(bad)) is None


def test_steal_ticks_live_host_monotone():
    # On this Linux host the counter exists and never decreases.
    from bench import steal_ticks

    a, b = steal_ticks(), steal_ticks()
    assert a is not None and b is not None and b >= a


def test_load_guard_quiet_host_passes_without_sleeping():
    from bench import load_guard

    sleeps = []
    polluted, la = load_guard(
        threshold=2.0, getload=lambda: (0.7, 0.5, 0.4),
        sleep=sleeps.append,
    )
    assert (polluted, la) == (False, 0.7)
    assert sleeps == []  # no wait on a quiet host


def test_load_guard_recovers_after_one_wait():
    from bench import load_guard

    reads = iter([(6.1, 5.0, 4.0), (1.2, 2.0, 3.0)])
    sleeps = []
    polluted, la = load_guard(
        threshold=2.0, getload=lambda: next(reads),
        sleep=sleeps.append, wait_s=60.0,
    )
    assert (polluted, la) == (False, 1.2)
    assert sleeps == [60.0]  # exactly one sleep-retry


def test_load_guard_still_busy_marks_polluted():
    # r9 verdict task 4: a sweep that starts on a busy host must
    # self-describe as polluted instead of reading as a regression.
    from bench import load_guard

    polluted, la = load_guard(
        threshold=2.0, getload=lambda: (6.1, 5.0, 4.0),
        sleep=lambda s: None, max_waits=1,
    )
    assert (polluted, la) == (True, 6.1)
