#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <sf>,
   "runs": N, "queries_all_runs": {...}, "loadavg": [...]}

Protocol (stable across rounds — compare PER QUERY, never totals, when the
headline set changes):
- each query runs N times consecutively (N = $SPARK_GRAFT_BENCH_RUNS,
  default 3); "queries" reports the per-query MEDIAN, "value" the sum of
  medians.  Medians absorb shared-host load spikes that hit sub-second
  queries hardest (±40% observed).
- the 1-minute load average is recorded before and after so a noisy run
  is visible in the artifact itself.
- r07 (verdict task 8 — BENCH artifacts keep being polluted by shared-
  host load; r06's driver run at loadavg 6.8 made three sub-second
  queries look 7x slower): the detail artifact additionally records the
  PER-QUERY start loadavg ("queries_loadavg"), and any headline query
  whose median moved >1.5x vs the most recent BENCH_r*.json artifact is
  AUTOMATICALLY re-measured with a 5-run median after the main sweep
  ("isolated_rechecks") — the same isolated re-measure the r05/r06
  judges ran by hand.  Read isolated_rechecks before believing a
  regression in "queries".
- each run is executed to completion with a count() action (forces full
  evaluation without driver-side result materialization dominating);
  persisted intermediates are released between runs so run k+1 never
  reads run k's cache.
- r10: the detail artifact records PER-QUERY HYPERVISOR STEAL TICKS
  ("queries_steal", /proc/stat cpu col 8 delta across the query's runs;
  also per isolated recheck).  Loadavg cannot distinguish the sweep's
  OWN 32-thread work from a co-tenant burst — steal can: it only rises
  when the hypervisor runs someone else on our vCPUs.  The r10 host
  showed 14.9 CPU-hours of cumulative steal over 22h uptime in bursts
  that uniformly inflated three whole builder sweeps (quiet starts!)
  while isolated re-measures landed back on historical values.
"""

from __future__ import annotations

import copy
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from social_warner_spark.session import get_spark  # noqa: E402
from social_warner_spark.queries import all_queries  # noqa: E402

#: Headline set: one per operator family, weighted toward scale-sensitive
#: plans (joins, aggs, windows, shuffles, dedup, similarity).
HEADLINE = [
    "r6_in_between_agg",     # filtered grouped agg (pushdown + partial agg)
    "c1_scan_filter",        # scan + pushed predicate
    "c2_inner_join",         # broadcast hash join
    "c3_star_join",          # multi-way star join + agg
    "c7_range_join",         # non-equi self join
    "c8_hash_agg",           # TPC-H Q1 shape
    "c13_ranking_windows",   # window ranking (shuffle + sort)
    "c23_explode_wordcount", # generator + agg + top-k
    "s1_tumbling",           # time-window agg
    "s3_session",            # session windows
    "q2_min_price_supplier", # correlated-MIN decorrelation (TPC-H Q2 shape)
    "q21_sole_returned_supplier",  # EXISTS + NOT EXISTS rewrites (Q21 shape)
    "l1_exact_dedup",        # hash dedup
    "l2_jaccard_pairs",      # shingle self-join (heaviest)
    "l3_topk_cosine",        # brute-force vector scoring
    "x8_ann_bucketed",       # LSH-bucketed ANN (multi-probe)
    "x7_embed_neardup",      # banded sign-LSH embedding near-dup
    "x24_ann_ivf",           # IVF ANN (max_by assignment, cluster slice search)
    "x51_incremental_dedup", # new-batch vs corpus LSH screening
    "x54_segment_dedup",     # segment-level dedup + document reassembly
    "x16_corpus_prep",       # composite corpus pipeline (gate+dedup+prune)
    "x31_full_pipeline",     # flagship: + decontamination + packing
    # round-2 additions (totals therefore not comparable to r01/r02-early;
    # compare per-query medians — see PERF.md)
    "x76_interval_coalesce", # gaps-and-islands, single user shuffle
    "x81_triangle_count",    # degree-oriented wedge join (graph heavy)
    "x85_hybrid_rrf_search", # BM25 + vector rank fusion
    "x96_rolling_distinct",  # mergeable KMV cells over trailing window
    # round-3 additions (same caveat: compare per-query, not totals)
    "x164_dup_spans",        # substring-level dup spans (shingle-hash heavy)
    "x170_bpe_merges",       # iterative BPE training (5 pair-count rounds)
    # round-3 verdict task 5: the plan-heaviest previously-unbenched
    # queries (top ratchet Exchange counts) now have a timed record
    "x185_power_iteration",  # iterative eigensolver (checkpointed rounds)
    "x119_split_leakage",    # near-dup clusters ⋈ split (composed heavy)
    "x138_cluster_size_histogram",  # cluster-size accounting over propagation
    "x77_cluster_survivors", # keep-one-per-cluster policy application
    "x27_neardup_clusters",  # transitive min-label propagation itself
    "x179_subtree_rollup",   # recursive hierarchy rollup
    "x176_source_set_cover", # greedy marginal-coverage loop
    "x100_hierarchy_depth",  # iterative pointer-doubling depth
    "x215_png_pixels",       # real PNG decode (zlib+filters) via mapInPandas
    "x217_image_ahash",      # perceptual-hash bucketing over real decode
    "x219_bradley_terry",    # pairwise-preference MM fit (checkpointed rounds)
    "x220_pq_ann",           # product-quantization ADC + exact re-rank ANN
    "x221_kcenter_coreset",  # Gonzalez farthest-point rounds (checkpointed)
    "x229_margin_bitext_mining",  # all-pairs scoring + reciprocal windows
    "x231_hits_scores",      # HITS mutual-reinforcement rounds
    # x14-series additions (same caveat: compare per-query, not totals)
    "x239_label_propagation",  # 3-round synchronous LPA (message passing)
    "x241_greedy_wordpiece",   # vocab-bounded substring join + greedy fold
    "x243_fellegi_sunter",     # blocked pair self-join + 8-row EM algebra
    # x15–x19-series additions (same caveat: compare per-query, not totals)
    "x259_adamic_adar",        # capped wedge join + anti-join link prediction
    "x262_winnowing_overlap",  # winnowing fingerprint self-join
    "x269_cluster_quality",    # IVF silhouette/DB (corpus x nlist scoring)
    "x270_markov_attribution", # journey matrix + masked value-iteration folds
    "x277_rouge_pairs",        # exact-Jaccard pairs + clipped n-gram overlap
    # round-4 stateful-twin anchors (same caveat: compare per-query)
    "x377_misra_gries_twin",   # ordered applyInPandas fold + exact-count join
    "x378_drift_cells",        # one-scan daily cells + merged KS grid
    # round-5 addition: layout changed this round (same caveat)
    "x33_gapfill_interpolate",  # day-partitioned halo gap-fill segments
]


#: Keys bench.py itself produces on every run.  Anything ELSE found in an
#: existing bench_runs_detail.json (manual quiet re-measure records like
#: "quiet_rechecks_r08", per-round isolated snapshots, ...) is preserved
#: across runs — the r08 driver bench truncated the file and destroyed
#: the quiet_rechecks_r08 record PERF.md pointed at (r08 verdict item 1).
_RUN_KEYS = frozenset(
    (
        "metric", "value", "unit", "queries", "sf", "runs",
        "queries_all_runs", "loadavg", "queries_loadavg",
        "isolated_rechecks", "load_polluted", "queries_steal",
        "cpus", "recorded_at",
    )
)


def steal_ticks(path: str = "/proc/stat") -> int | None:
    """Cumulative hypervisor-steal ticks (``cpu`` line, 8th value) or
    None where unreadable (non-Linux, masked /proc).  Deltas of this
    counter during a query are time STOLEN by co-tenants — the only
    cheap signal that separates "our own 32 threads" from "noisy
    neighbor", which loadavg structurally cannot."""
    try:
        with open(path) as f:
            fields = f.readline().split()
        return int(fields[8]) if fields and fields[0] == "cpu" else None
    except (OSError, IndexError, ValueError):
        return None

#: Load guard (r9 verdict task 4): sweeps repeatedly started on a busy
#: host (r9: loadavg 6.1 right after the 30-min test suite) and every
#: elevated number had to be re-litigated with isolated rechecks.  Above
#: this 1-min loadavg the sweep waits once, and if the host is STILL
#: busy the record self-describes as polluted instead of masquerading as
#: a regression.
LOAD_GUARD_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_MAX", "2.0"))


def load_guard(
    threshold: float = LOAD_GUARD_MAX,
    getload=os.getloadavg,
    sleep=time.sleep,
    wait_s: float = 60.0,
    max_waits: int = 1,
) -> tuple[bool, float]:
    """Return (load_polluted, loadavg_now).  If the 1-min loadavg exceeds
    ``threshold``, sleep-retry up to ``max_waits`` times; still-elevated
    load marks the sweep polluted (the artifact records it either way —
    callers never fail on load, they only label)."""
    la = getload()[0]
    waits = 0
    while la > threshold and waits < max_waits:
        sleep(wait_s)
        waits += 1
        la = getload()[0]
    return la > threshold, round(la, 2)


#: How many full run records the history ring keeps.  Each is ~10 KB of
#: per-query arrays; 12 covers a round's worth of builder sweeps plus
#: the driver's multi-cpu runs without growing the artifact unboundedly.
HISTORY_MAX = 12


def merge_detail(existing: object, record: dict) -> dict:
    """Overlay this run's ``record`` on ``existing``, keeping every key a
    bench run does not itself produce (read-modify-write, not truncate).
    A missing/corrupt existing file degrades to just the new record.

    r11 (r10 verdict task 7): the anonymous top-level record used to be
    the ONLY copy of a run, so the driver's 8-core scaling run clobbered
    the 32-core run's per-query steal — exactly the evidence needed to
    adjudicate its 29 apparent regressions.  Every merge now ALSO appends
    the record to the ``runs_history`` ring (most recent last, each entry
    self-describing via its ``cpus``/``recorded_at``/``attempt`` fields),
    so consecutive runs at different ``$SPARK_GRAFT_CPUS`` stay
    individually recoverable."""
    merged: dict = {}
    if isinstance(existing, dict):
        merged.update(
            (k, v) for k, v in existing.items() if k not in _RUN_KEYS
        )
    history = merged.get("runs_history")
    if not isinstance(history, list):
        history = []
    entry = copy.deepcopy(record)
    entry["attempt"] = 1 + max(
        (h.get("attempt", 0) for h in history if isinstance(h, dict)), default=0
    )
    merged["runs_history"] = (history + [entry])[-HISTORY_MAX:]
    merged.update(record)
    return merged


def _previous_round_medians() -> dict[str, float]:
    """Per-query medians from the most recent BENCH_r*.json artifact
    (the driver records one per round) — the round-over-round reference
    for the isolated-recheck protocol.  Missing/unparseable artifacts
    mean no rechecks, never a bench failure."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    arts = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    if not arts:
        return {}
    try:
        with open(arts[-1]) as f:
            data = json.load(f)
        # The driver wraps the bench line: its artifact is
        # {"n": ..., "tail": "<stdout tail>", "parsed": {<bench line>}}.
        # A bare bench line (this script's own output) is also accepted.
        if "queries" not in data and isinstance(data.get("parsed"), dict):
            data = data["parsed"]
        q = data.get("queries", {})
        return {k: float(v) for k, v in q.items()}
    except (OSError, ValueError, TypeError):
        return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="sws-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # Warm the JVM/session and touch every table's footer+data once so the
    # first timed query measures query execution, not first-file-open and
    # codegen warmup (steady-state semantics; files are page-cached on any
    # second touch in production too).
    spark.range(1).count()
    from social_warner_spark.catalog import TABLES, load_table
    import pyspark.sql.functions as F

    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        # count() alone is metadata-only on parquet; touch real column data
        df.agg(*[F.count(c) for c in df.columns]).collect()

    from social_warner_spark.caching import release_persisted_intermediates

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    load_polluted, _ = load_guard()
    load_before = os.getloadavg()
    all_runs: dict[str, list[float]] = {}
    query_loadavg: dict[str, float] = {}
    query_steal: dict[str, int | None] = {}
    for name in HEADLINE:
        query_loadavg[name] = round(os.getloadavg()[0], 2)
        s0 = steal_ticks()
        runs: list[float] = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).count()
            runs.append(round(time.perf_counter() - t0, 3))
            release_persisted_intermediates()  # no cross-run/query cache reuse
        s1 = steal_ticks()
        query_steal[name] = (s1 - s0) if (s0 is not None and s1 is not None) else None
        all_runs[name] = runs
    load_after = os.getloadavg()

    medians = {name: round(statistics.median(r), 3) for name, r in all_runs.items()}
    total = round(sum(medians.values()), 3)

    # Isolated recheck protocol (r07): compare against the most recent
    # round artifact; any query whose median moved >1.5x in EITHER
    # direction gets a 5-run re-measure at the end of the sweep, when
    # nothing else from this bench is running.  Shared-host load from
    # OTHER tenants can still pollute it — the per-query loadavg is the
    # tell — but this catches the common case where one crosstalk spike
    # hit one query mid-sweep.
    isolated: dict[str, dict] = {}
    prev = _previous_round_medians()
    for name, med in medians.items():
        p = prev.get(name)
        if not p or p <= 0:
            continue
        ratio = med / p
        if ratio > 1.5 or ratio < 1 / 1.5:
            la = round(os.getloadavg()[0], 2)
            s0 = steal_ticks()
            runs = []
            for _ in range(5):
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).count()
                runs.append(round(time.perf_counter() - t0, 3))
                release_persisted_intermediates()
            s1 = steal_ticks()
            isolated[name] = {
                "prev_median": p,
                "sweep_median": med,
                "runs": runs,
                "median": round(statistics.median(runs), 3),
                "loadavg_start": la,
                "steal_ticks": (s1 - s0)
                if (s0 is not None and s1 is not None)
                else None,
            }
    # Full 3-run detail goes to a repo artifact (the driver's stdout tail
    # keeps only the last ~2000 chars, which truncated the r02/r03
    # records); stdout gets ONE compact line — 2-decimal medians, no
    # per-run arrays, tight separators — as the LAST line so the
    # driver's tail-parse captures every query.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_runs_detail.json"
    )
    try:
        with open(detail_path) as f:
            existing: object = json.load(f)
    except (OSError, ValueError):
        existing = None
    with open(detail_path, "w") as f:
        json.dump(
            merge_detail(existing, {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                "recorded_at": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
                "queries": medians,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "runs": n_runs,
                "queries_all_runs": all_runs,
                "loadavg": [round(x, 2) for x in (*load_before, *load_after)],
                "queries_loadavg": query_loadavg,
                "queries_steal": query_steal,
                "isolated_rechecks": isolated,
                "load_polluted": load_polluted,
            }),
            f,
            indent=1,
        )
    compact = {
        "metric": "headline_queries_wall_clock",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {n: round(m, 2) for n, m in medians.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs": n_runs,
        "loadavg": [round(x, 1) for x in (*load_before, *load_after)],
        "load_polluted": load_polluted,
    }
    # Stay inside the driver's ~2000-char stdout tail window: drop
    # optional fields first, then truncate the queries map from the end
    # (full per-query detail survives in bench_runs_detail.json either
    # way).  A final hard assert makes an oversize line fail loudly at
    # bench time rather than surfacing as unparseable JSON at grading
    # time (ADVICE r04).
    line = json.dumps(compact, separators=(",", ":"))
    for field in ("loadavg", "runs"):
        if len(line) <= 1900:
            break
        compact.pop(field, None)
        line = json.dumps(compact, separators=(",", ":"))
    while len(line) > 1900 and compact["queries"]:
        compact["queries"].popitem()
        compact["queries_truncated"] = True
        line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= 1900, f"compact bench line still {len(line)} chars"
    print(line)


if __name__ == "__main__":
    main()
