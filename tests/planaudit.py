"""Plan-shape audit: count scale-critical physical operators per query.

The counts feed a RATCHET test (tests/test_plan_hygiene.py): a frozen
baseline records, for every declared query, how many Exchanges
(shuffles/broadcasts), BroadcastNestedLoopJoins, and CartesianProducts
its plan contains.  A refactor that silently adds a shuffle or degrades
an equi-join into a nested loop fails the suite even if results stay
correct — the 100 TB regression that correctness tests cannot see.

BNLJ/Cartesian are not forbidden outright: a crossJoin against a
broadcast 1-row relation (argmax rules in x170/x176, corpus-stat rows
everywhere) legitimately compiles to a BroadcastNestedLoopJoin.  The
ratchet pins each query at its audited count instead.

UnpartitionedWindow (r05 addition) counts window specs with NO
PARTITION BY — each one is a single-partition sort, the other silent
100 TB killer.  107 of 445 queries legitimately carry one over a
provably bounded relation (corpus-stat rows, calendar grids, top-k
shortlists, |sources|-sized aggregates); the ratchet pins those counts
so a refactor that pushes a CORPUS-sized relation through a global
window (what gapfill_interpolate did before r05) fails the suite.

BroadcastHint (r06 addition) counts ResolvedHint nodes in the ANALYZED
logical plan — every explicit ``F.broadcast()`` surviving to the final
query (hints inside eagerly-checkpointed sub-relations are gone with
their lineage).  r06 stripped every hint from SF-scaling relations (an
explicit hint bypasses autoBroadcastJoinThreshold, so it would force a
corpus-sized broadcast at 100 TB where AQE would demote to a shuffle
join); the surviving hints sit on provably bounded relations only
(constant dims, 1-row stats, value-domain grids, top-k shortlists,
probe sets, P-row offsets).  The pin makes re-adding a hint a
conscious baseline edit, not a silent drift.

LowCardPartitionWindow (r07 addition) counts window specs partitioned
SOLELY by declared low-cardinality columns (LOW_CARD_COLS) — at 100 TB
such a window routes the corpus through ~|key| reducer tasks (one
dominant language = one straggler sorting most of the corpus).  The
grouped ordered-op primitives (operators/ordered.py
with_grouped_cumsum/rank) are the scale-safe replacement; bounded
survivors (vocab-keyed stat relations, WindowGroupLimit-capped top-k)
are pinned with justifications in PERF.md.

LowCardGroupedPandas (r07 addition) counts FlatMapGroupsInPandas
nodes (applyInPandas) whose grouping keys are ENTIRELY declared
low-cardinality columns — the same ~|key|-task funnel as the window
class, with the extra hazard that applyInPandas MATERIALIZES the whole
group in one pandas frame (a corpus-sized group is an OOM, not just a
straggler).  x377's Misra–Gries moved off this shape in r07 (per-
partition mapInPandas partials + a merge over the bounded partial
relation — the one pinned survivor, ≤ partitions·k rows per group);
the metric makes re-introducing a corpus-sized low-card pandas group a
conscious baseline edit.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import SparkSession

#: Substrings counted in the formatted physical plan (plus one regex
#: metric, see _UNPARTITIONED_WINDOW).
SHAPE_KEYS = (
    "Exchange",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "UnpartitionedWindow",
    "BroadcastHint",
    "LowCardPartitionWindow",
    "LowCardGroupedPandas",
)

#: Sort-order marker inside a windowspecdefinition argument.
_ORDER_MARK = re.compile(r" (?:ASC|DESC) NULLS")

#: Bare attribute rendering in a physical plan: ``name#17`` with an
#: optional type-suffix letter run (``doc_id#0L``).
_BARE_ATTR = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*)#\d+[A-Za-z]*$")

#: Declared LOW-CARDINALITY columns (≤ ~25 distinct values in the data
#: model: ~10 langs, a handful of sources/event types, 3 order statuses
#: / return flags, 25 nations / brands).  A window PARTITIONED solely by
#: these over a corpus-scale relation is the r06 verdict's second silent
#: 100 TB killer: hash-partitioning on a ~10-value key routes the whole
#: relation through ~10 reducer tasks — one dominant language IS the
#: single-partition sort the UnpartitionedWindow metric already pins,
#: just wearing a PARTITION BY.  Bounded survivors (vocab-keyed stat
#: relations, WindowGroupLimit-capped top-k) are pinned by the baseline
#: with justifications in PERF.md.
LOW_CARD_COLS = frozenset(
    {"lang", "source", "event_type", "o_orderstatus", "l_returnflag", "n_name", "p_brand"}
)


def _window_specs(plan: str) -> list[list[str]]:
    """Top-level argument lists of every windowspecdefinition in `plan`.

    Balanced-paren split; newlines are treated as ordinary whitespace
    (ADVICE r06: Spark currently renders a full spec on one physical
    line, but a rendering change must not hard-fail the audit — only a
    spec whose parens never close, i.e. a genuinely truncated plan,
    raises).
    """
    specs: list[list[str]] = []
    idx = 0
    token = "windowspecdefinition("
    while True:
        i = plan.find(token, idx)
        if i < 0:
            return specs
        j = i + len(token)
        depth = 1
        args: list[str] = []
        start = j
        k = j
        end = len(plan)
        while k < end and depth > 0:
            ch = plan[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    args.append(plan[start:k].strip())
            elif ch == "," and depth == 1:
                args.append(plan[start:k].strip())
                start = k + 1
            k += 1
        if depth > 0:
            raise ValueError(
                "unclassifiable windowspecdefinition (truncated plan?): "
                + plan[i : i + 200]
            )
        specs.append(args)
        idx = j


def _partition_args(args: list[str]) -> list[str]:
    """The PARTITION BY prefix of a windowspecdefinition argument list —
    everything before the first ordering expression (``… ASC/DESC NULLS
    …``) or, for order-less global frames, the specifiedwindowframe."""
    out: list[str] = []
    for a in args:
        if _ORDER_MARK.search(a) or a.startswith("specifiedwindowframe("):
            break
        out.append(a)
    return out


def _count_lowcard_partition_windows(plan: str) -> int:
    """Count specs whose partition key set consists ENTIRELY of declared
    low-cardinality columns (LOW_CARD_COLS) — the r07 metric.  A key set
    containing any other column (a user id, a day, a token) is fine: the
    combined cardinality is what bounds the biggest reducer task.
    Expression-valued partition args are not classified (conservative:
    the declared queries partition on bare attributes)."""
    n = 0
    for args in _window_specs(plan):
        parts = _partition_args(args)
        if not parts:
            continue
        bases = [_BARE_ATTR.match(p) for p in parts]
        if all(b and b.group(1) in LOW_CARD_COLS for b in bases):
            n += 1
    return n


#: A FlatMapGroupsInPandas node's detail section in a formatted plan:
#: the FIRST bracketed Arguments list is the grouping-key expressions.
#: (The tree section's bare "FlatMapGroupsInPandas (7)" lines have no
#: Arguments and are not matched.)
_FMGIP_HEADER = re.compile(
    r"FlatMapGroupsInPandas\s*\nInput[^\n]*\nArguments: \["
)


def _fmgip_key_lists(plan: str) -> list[list[str]]:
    """Every FlatMapGroupsInPandas grouping-key list, split at TOP-LEVEL
    commas with balanced ()/[] tracking — the same approach as
    _window_specs (ADVICE r07: the old flat ``[^\\]]*`` capture
    truncated at the first ']' inside a nested-bracket key expression,
    silently shrinking the key set the ratchet classifies).  A list
    whose brackets never close (a genuinely truncated plan) raises."""
    lists: list[list[str]] = []
    for m in _FMGIP_HEADER.finditer(plan):
        j = m.end()
        depth = 1  # inside the Arguments '['
        keys: list[str] = []
        start = j
        k = j
        end = len(plan)
        while k < end and depth > 0:
            ch = plan[k]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
                if depth == 0:
                    keys.append(plan[start:k].strip())
            elif ch == "," and depth == 1:
                keys.append(plan[start:k].strip())
                start = k + 1
            k += 1
        if depth > 0:
            raise ValueError(
                "unclassifiable FlatMapGroupsInPandas arguments "
                "(truncated plan?): " + plan[m.start() : m.start() + 200]
            )
        lists.append([k for k in keys if k])
    return lists


def _count_lowcard_grouped_pandas(plan: str) -> int:
    """Count applyInPandas (FlatMapGroupsInPandas) nodes grouped SOLELY
    by declared low-cardinality columns (LOW_CARD_COLS) — the r07
    metric.  Any other key in the set (a user id, a partition id, a
    day) lifts the combined cardinality and the node is fine.
    Expression-valued keys are not classified (conservative: the
    declared queries group on bare attributes)."""
    n = 0
    for keys in _fmgip_key_lists(plan):
        if not keys:
            continue
        bases = [_BARE_ATTR.match(k) for k in keys]
        if all(b and b.group(1) in LOW_CARD_COLS for b in bases):
            n += 1
    return n


def _count_unpartitioned_windows(plan: str) -> int:
    """Count windowspecdefinition specs with NO partition columns.

    A spec is unpartitioned iff its FIRST top-level argument is already
    an ordering expression (``... ASC/DESC NULLS ...``) or — degenerate
    global frame with no ordering either — the ``specifiedwindowframe``
    itself (expression-valued order args included; ADVICE r05).  Parsing
    is shared with the low-card metric (_window_specs)."""
    return sum(1 for args in _window_specs(plan) if not _partition_args(args))


def plan_shape_counts(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, dict[str, int]]:
    """Formatted-explain every declared query; count SHAPE_KEYS each."""
    from social_warner_spark.caching import release_persisted_intermediates
    from social_warner_spark.queries import all_queries

    queries = all_queries()
    out: dict[str, dict[str, int]] = {}
    derived = (
        "UnpartitionedWindow",
        "BroadcastHint",
        "LowCardPartitionWindow",
        "LowCardGroupedPandas",
    )
    for name in names if names is not None else sorted(queries):
        release_persisted_intermediates()
        spark.catalog.clearCache()
        df = queries[name](spark, sf_dir)
        # Analysis only — no execution; ResolvedHint nodes are erased by
        # the optimizer, so the analyzed plan is where hints are visible.
        analyzed = df._jdf.queryExecution().analyzed().toString()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        counts = {k: plan.count(k) for k in SHAPE_KEYS if k not in derived}
        counts["UnpartitionedWindow"] = _count_unpartitioned_windows(plan)
        counts["LowCardPartitionWindow"] = _count_lowcard_partition_windows(plan)
        counts["LowCardGroupedPandas"] = _count_lowcard_grouped_pandas(plan)
        # Strategy-matched (ADVICE r06): a future hint('merge') /
        # hint('shuffle_hash') must not be tallied as a broadcast hint.
        # Blind spot, by construction: hints upstream of an eager
        # localCheckpoint are invisible here (the checkpoint cut their
        # lineage) — noted in tests/test_plan_hygiene.py for reviewers.
        counts["BroadcastHint"] = analyzed.count("ResolvedHint (strategy=broadcast")
        out[name] = counts
    return out


def _regenerate() -> None:
    """Regenerate tests/plan_shapes_baseline.json (run from the repo root
    after consciously accepting a plan-shape change):
    python -m tests.planaudit"""
    import json
    import os

    from social_warner_spark.session import get_spark

    spark = get_spark(app_name="planaudit")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR_SMOKE", "/root/testdata/sf0.001")
    counts = plan_shape_counts(spark, sf)
    path = os.path.join(os.path.dirname(__file__), "plan_shapes_baseline.json")
    with open(path, "w") as f:
        json.dump(counts, f, indent=0, sort_keys=True)
    print(f"wrote {len(counts)} baselines to {path}")


if __name__ == "__main__":
    _regenerate()
