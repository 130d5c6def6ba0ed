"""Distributed total-order operators: exact global rank / ntile / lead
over a unique composite sort key WITHOUT a single-partition sort.

Why: ``Window.orderBy(...)`` with no PARTITION BY compiles to Exchange
SinglePartition — every row through one task.  Fine for stat rows and
calendar grids (the plan ratchet's audited allowlist); fatal for
corpus-sized relations at 100 TB.  These helpers implement the classic
two-pass layout instead:

1. ``repartitionByRange`` on the (unique) order key — contiguous,
   balanced ranges whose partition ids ascend with the sort order.
2. A per-partition window (``row_number``/``lead``) does the local work.
3. A P-row (or P·k-row) boundary relation — per-partition counts or the
   first k rows of each partition — is collected once, prefix-combined
   on the driver, and broadcast back to finish the global answer.

Rank and running sum have ONE implementation each, the grouped one
(``with_grouped_rank`` / ``with_grouped_cumsum``, range-staged on
(group, order)); a global rank or running sum is that operator with
``group_cols=[]``, and ``with_global_ntile`` takes its total from the
same rank pass.  Running max and lead have only a global form.

Results are pure functions of the data: partition BOUNDS vary with
range sampling, but rank/neighbor arithmetic reconstructs the global
order exactly wherever the boundaries fall (double-run determinism
gate: tests/run_strict_mirror.py sparkdet).

The driver-side collects here are bounded by the PARTITION COUNT (P
rows / P·k rows), not the data — the same class as the module-audited
pivot-key, probe-set, and gap-fill-halo collects.

Reference scope: the reference ETL sorts one in-memory frame
(data_transform.py operates on a single pandas DataFrame); these
operators are what "sort the corpus" must become distributed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def _require_integral(df: DataFrame, cols: list[str], who: str) -> None:
    """Running sums and their prefix offsets are carried as longs —
    EXACT for integral sources only.  Decimal sources would silently
    truncate and float sources would re-associate across the partition
    boundary; both are rejected before any work happens."""
    from pyspark.sql.types import ByteType, ShortType

    integral = (ByteType, ShortType, IntegerType, LongType)
    for c in cols:
        if not isinstance(df.schema[c].dataType, integral):
            raise TypeError(
                f"{who} requires an integral source column; "
                f"{c!r} is {df.schema[c].dataType.simpleString()}"
            )


def _range_staged(df: DataFrame, order_cols: list, num_partitions: int | None):
    """repartitionByRange + ascending partition id column ``_pid``.

    PERSISTED (and registered for host release): the boundary-relation
    collect and the final compute must read the SAME materialization —
    range-bound sampling re-runs per execution, so without the pin the
    two passes could see different partitionings and the broadcast
    offsets would label the wrong rows."""
    from social_warner_spark.caching import register_persisted

    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    staged = df.repartitionByRange(p, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    return register_persisted(staged.persist())


def ntile_from_rank(rank: Column, total: int, buckets: int) -> Column:
    """Spark's exact ntile(buckets) bucket for a 1-based global rank over
    ``total`` rows: the first ``total % buckets`` buckets get one extra
    row — closed-form integer arithmetic, reproducible in any engine."""
    q, r = divmod(int(total), int(buckets))
    if q == 0:  # fewer rows than buckets: bucket i holds row i
        return rank.cast("int")
    head = r * (q + 1)
    return (
        F.when(rank <= head, F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(F.lit(r) + F.floor((rank - 1 - head) / q) + 1)
        .cast("int")
    )


def with_global_ntile(
    df: DataFrame,
    order_cols: list,
    buckets: int,
    tile_col: str = "_tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(buckets) over (ORDER BY order_cols)`` without the
    single-partition sort: two-pass global rank + closed-form bucket
    (the total comes free from the rank pass's partition counts)."""
    ranked, totals = _grouped_ranked(df, [], order_cols, "_grank_nt", num_partitions)
    return ranked.withColumn(
        tile_col, ntile_from_rank(F.col("_grank_nt"), totals.get((), 0), buckets)
    ).drop("_grank_nt")


def with_global_cummax_excl(
    df: DataFrame,
    order_cols: list,
    val_col: str,
    out_col: str = "_cummax",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append the EXCLUSIVE global running max (frame UNBOUNDED
    PRECEDING .. 1 PRECEDING) over the total order — the
    gaps-and-islands / skyline primitive — without a single-partition
    sort: per-partition exclusive running max, combined with the
    broadcast max over all EARLIER partitions (P-row collect).  NULL
    for the global first row, exactly like the window form."""
    staged = _range_staged(df, order_cols, num_partitions)
    maxes = {
        r["_pid"]: r["m"]
        for r in staged.groupBy("_pid").agg(F.max(val_col).alias("m")).collect()
    }
    prior = None
    offsets = []
    for pid in sorted(maxes):
        offsets.append((pid, prior))
        # An all-NULL partition contributes nothing to the running max
        # (max() over it is None); skip it instead of max(long, None).
        if maxes[pid] is not None:
            prior = maxes[pid] if prior is None else max(prior, maxes[pid])
    off_schema = StructType(
        [
            StructField("_pid", IntegerType()),
            StructField("_prior", df.schema[val_col].dataType),
        ]
    )
    off = df.sparkSession.createDataFrame(offsets or [(0, None)], off_schema)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        staged.join(F.broadcast(off), "_pid")
        # greatest() skips NULLs (returns the non-null side), which is
        # exactly the boundary semantics: pid-first rows take the prior
        # partitions' max; the global first row stays NULL.
        .withColumn(out_col, F.greatest(F.max(val_col).over(w), F.col("_prior")))
        .drop("_pid", "_prior")
    )


def _grouped_ranked(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    rank_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, dict[tuple, int]]:
    """with_grouped_rank's core: the ranked frame plus each group's total
    row count (keyed by the group-key tuple; ``()`` with no group keys),
    both from the one boundary collect."""
    staged = _range_staged(df, [*group_cols, *order_cols], num_partitions)
    rows = staged.groupBy("_pid", *group_cols).agg(F.count("*").alias("c")).collect()
    totals: dict[tuple, int] = {}
    offsets = []
    for r in sorted(rows, key=lambda r: r["_pid"]):
        g = tuple(r[c] for c in group_cols)
        offsets.append((r["_pid"], *g, totals.get(g, 0)))
        totals[g] = totals.get(g, 0) + r["c"]
    gtypes = [StructField(c, df.schema[c].dataType) for c in group_cols]
    off_schema = StructType(
        [StructField("_pid", IntegerType()), *gtypes, StructField("_off", LongType())]
    )
    off = df.sparkSession.createDataFrame(offsets, off_schema)
    w = Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
    ranked = (
        staged.join(F.broadcast(off), ["_pid", *group_cols])
        .withColumn(rank_col, F.row_number().over(w).cast("long") + F.col("_off"))
        .drop("_pid", "_off")
    )
    return ranked, totals


def with_grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    rank_col: str = "_grank",
    count_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append the exact ``row_number() over (PARTITION BY group_cols
    ORDER BY order_cols)`` without routing each group through one task:
    range partition on (group, order), per-(partition, group) local
    row_number, plus broadcast prefix offsets from the boundary collect.
    The (group, order) key must be a total order (include a unique
    tiebreaker).  With ``group_cols=[]`` this is the exact global
    ``row_number() over (ORDER BY order_cols)`` from a P-row collect.

    Every group's rows are contiguous across ascending partition ids and
    a partition holds a contiguous run of groups, so the per-(partition,
    group) boundary relation has at most P + G − 1 rows (only the group
    straddling a boundary repeats).  Built for LOW-CARDINALITY group
    keys (lang/source): there, ``Window.partitionBy(group)`` routes the
    corpus through ~G reducer tasks — one dominant language at 100 TB is
    a single-task sort in disguise (r06 verdict) — while the (group,
    order) range stage keeps every partition at ~|corpus|/P rows however
    skewed the group mix.  For high-cardinality groups a plain
    hash-partitioned window is already balanced — use that instead.

    Contract: group keys must be NON-NULL — the offset join is an
    equi-join, so a NULL group would silently drop its rows (where the
    window form would have formed a NULL group).  Every current consumer
    groups on non-null catalog columns (lang/source/status/flag/type).

    ``count_col`` (optional) also appends the group's TOTAL row count —
    free from the same boundary collect (a G-row broadcast join), so
    rank-position math (rn−1)/(n−1) needs no second corpus aggregation
    and no ``count(*) over (partition by group)`` window."""
    out, totals = _grouped_ranked(df, group_cols, order_cols, rank_col, num_partitions)
    if count_col is not None:
        gtypes = [StructField(c, df.schema[c].dataType) for c in group_cols]
        counts = df.sparkSession.createDataFrame(
            [(*g, n) for g, n in sorted(totals.items())],
            StructType([*gtypes, StructField(count_col, LongType())]),
        )
        out = out.join(F.broadcast(counts), group_cols)
    return out


def with_grouped_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    sum_cols: dict[str, str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Append inclusive per-group running sums over the (group, order)
    total order — ``sum_cols`` maps output name → source column —
    without a per-group single-task sort: range partition on (group,
    order), per-(partition, group) cumulative window, broadcast
    per-(partition, group) prefix totals (≤(P+G−1)-row collect).  With
    ``group_cols=[]`` these are the global running sums ``sum() over
    (ORDER BY order_cols)``.  Same layout, balance and NON-NULL group-key
    contract as with_grouped_rank.

    EXACT for INTEGRAL sources only (byte/short/int/long): the running
    sum and the prefix offsets are carried as longs.  Decimal sources
    would silently truncate and float sources would re-associate the
    summation across the partition boundary — both are rejected up
    front, before any staging (ADVICE r05/r06).

    NULL sources match the window form exactly (r07): ``sum() over`` is
    NULL only while the group prefix holds NO non-null value, so the
    offsets also carry the prior partitions' per-group non-null COUNT
    and the local frame's ``count(src)`` (same window spec — merged into
    the same Window node) decides NULL vs carried sum."""
    srcs = sorted(set(sum_cols.values()))
    _require_integral(df, srcs, "with_grouped_cumsum")
    staged = _range_staged(df, [*group_cols, *order_cols], num_partitions)
    rows = staged.groupBy("_pid", *group_cols).agg(
        *[F.sum(c).alias(c) for c in srcs],
        *[F.count(c).alias(f"_cnt_{c}") for c in srcs],
    ).collect()
    acc: dict[tuple, dict[str, int]] = {}
    cnts: dict[tuple, dict[str, int]] = {}
    offsets = []
    for r in sorted(rows, key=lambda r: r["_pid"]):
        g = tuple(r[c] for c in group_cols)
        cur = acc.setdefault(g, {c: 0 for c in srcs})
        ccur = cnts.setdefault(g, {c: 0 for c in srcs})
        offsets.append(
            (r["_pid"], *g, *[cur[c] for c in srcs], *[ccur[c] for c in srcs])
        )
        for c in srcs:
            cur[c] += r[c] or 0
            ccur[c] += r[f"_cnt_{c}"]
    gtypes = [StructField(c, df.schema[c].dataType) for c in group_cols]
    off_schema = StructType(
        [StructField("_pid", IntegerType()), *gtypes]
        + [StructField(f"_off_{c}", LongType()) for c in srcs]
        + [StructField(f"_offcnt_{c}", LongType()) for c in srcs]
    )
    off = df.sparkSession.createDataFrame(offsets, off_schema)
    w = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = staged.join(F.broadcast(off), ["_pid", *group_cols])
    for name, src in sum_cols.items():
        out = out.withColumn(
            name,
            F.when(
                F.count(src).over(w) + F.col(f"_offcnt_{src}") > 0,
                F.coalesce(F.sum(src).over(w).cast("long"), F.lit(0))
                + F.col(f"_off_{src}"),
            ),
        )
    return out.drop(
        "_pid",
        *[f"_off_{c}" for c in srcs],
        *[f"_offcnt_{c}" for c in srcs],
    )


def with_grouped_value_range(
    df: DataFrame,
    group_cols: list[str],
    val_col: str,
    lower_offset: int,
    agg_builders: dict,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group RANGE-frame window aggregates (``RANGE BETWEEN
    |lower_offset| PRECEDING AND CURRENT ROW`` over ``val_col``;
    ``lower_offset`` is a negative INT — the PySpark rangeBetween API
    takes integral offsets, value columns may be any numeric) without
    routing each group through one reducer task — the value-frame
    counterpart of with_grouped_rank/cumsum for LOW-CARDINALITY group
    keys.  ``agg_builders`` maps output name → callable(WindowSpec) →
    Column (e.g. ``lambda w: F.sum("x").over(w)``).

    Layout (the x33 gap-fill HALO recipe applied to value frames):

    1. Range-partition on (group, val) — balanced under any group mix.
    2. Collect each partition's MIN (group, val) key (P rows).
    3. HALO: every row of the boundary-straddling group whose value
       falls in the ``|lower_offset|``-wide band below a partition's
       min value is duplicated into that partition (broadcast band
       join against the P-row boundary relation).  Only the group that
       straddles the boundary can need earlier-partition rows: any
       later group's rows all sort after the boundary key, so they are
       never split backwards.
    4. One balanced per-(partition, group) RANGE window; halo rows
       contribute to real rows' frames and are dropped from the output.

    Frame membership is VALUE-based on both sides, and t ↦ t+lower is
    monotone under IEEE rounding, so the halo band is always a superset
    of what any real row's frame needs — no epsilon slack required.
    Halo volume is bounded by the value density of a band per boundary
    (P bands total), the same assumption the gap-fill halo documents.
    """
    staged = _range_staged(df, [*group_cols, val_col], num_partitions)
    mins = (
        staged.groupBy("_pid")
        .agg(F.min(F.struct(*group_cols, val_col)).alias("_k"))
        .collect()
    )
    b_rows = [
        (r["_pid"], *[r["_k"][c] for c in group_cols], r["_k"][val_col])
        for r in mins
    ]
    b_schema = StructType(
        [StructField("_bpid", IntegerType())]
        + [StructField(f"_bg_{c}", df.schema[c].dataType) for c in group_cols]
        + [StructField("_bvmin", df.schema[val_col].dataType)]
    )
    b = df.sparkSession.createDataFrame(b_rows or [], b_schema)
    band_lo = F.col("_bvmin") + F.lit(lower_offset)
    cond = F.lit(True)
    for c in group_cols:
        cond = cond & (F.col(c) == F.col(f"_bg_{c}"))
    cond = cond & (F.col(val_col) >= band_lo) & (F.col(val_col) < F.col("_bvmin"))
    cols = df.columns
    halo = (
        staged.drop("_pid")
        .join(F.broadcast(b), cond)
        .select(*cols, F.col("_bpid").alias("_pid"), F.lit(True).alias("_halo"))
    )
    base = staged.select(*cols, "_pid", F.lit(False).alias("_halo"))
    all_rows = base.unionByName(halo)
    w = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(val_col)
        .rangeBetween(lower_offset, 0)
    )
    out = all_rows
    for name, build in agg_builders.items():
        out = out.withColumn(name, build(w))
    return out.where(~F.col("_halo")).drop("_pid", "_halo")


def with_global_lead_structs(
    df: DataFrame,
    order_cols: list,
    payload_cols: list,
    k: int,
    out_col: str = "_next",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = array of the next ``k`` rows' payload structs
    in the GLOBAL (order_cols) order — the sorted-neighborhood primitive
    — without a single-partition sort.

    Per-partition ``lead`` covers interior rows; each partition's last
    ``k`` rows are completed from a broadcast successor stream built
    from the first ``k`` rows of every later partition (P·k-row
    collect).  Entries past the global end are NULL (same as lead()).
    """
    staged = _range_staged(df, order_cols, num_partitions)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    rn = F.row_number().over(w)
    cnt = F.count("*").over(Window.partitionBy("_pid"))

    # Boundary stream: first k rows of every partition, in global order;
    # each partition's successor stream = the next k rows drawn from
    # LATER partitions' heads (built in one reverse pass).
    firsts = (
        staged.withColumn("_rn", rn)
        .where(F.col("_rn") <= k)
        .select("_pid", "_rn", *payload_cols)
        .collect()
    )
    heads: dict[int, list[tuple]] = {}
    for r in sorted(firsts, key=lambda r: (r["_pid"], r["_rn"])):
        heads.setdefault(r["_pid"], []).append(
            tuple(r[c] for c in payload_cols)
        )
    succ_rows = []
    stream: list[tuple] = []
    for pid in sorted(heads, reverse=True):
        succ_rows.append((pid, list(stream)))
        stream = (heads[pid] + stream)[:k]
    payload_struct = StructType(
        [StructField(c, df.schema[c].dataType) for c in payload_cols]
    )
    succ_schema = StructType(
        [
            StructField("_pid", IntegerType()),
            StructField("_succ", ArrayType(payload_struct)),
        ]
    )
    succ = df.sparkSession.createDataFrame(succ_rows, succ_schema)

    payload = F.struct(*[F.col(c).alias(c) for c in payload_cols])
    leads = F.array(*[F.lead(payload, j).over(w) for j in range(1, k + 1)])
    followers = (cnt - rn).cast("int")  # in-partition rows after this one
    joined = (
        staged.withColumn("_leads", leads)
        .withColumn("_fol", followers)
        .join(F.broadcast(succ), "_pid", "left")
    )
    # j-th global neighbor: in-partition lead when j <= followers, else
    # the (j - followers)-th element of the successor stream.
    neighbor = F.transform(
        F.sequence(F.lit(1), F.lit(k)),
        lambda j: F.when(
            j <= F.col("_fol"), F.try_element_at(F.col("_leads"), j)
        ).otherwise(F.try_element_at(F.col("_succ"), j - F.col("_fol"))),
    )
    return joined.withColumn(out_col, neighbor).drop(
        "_pid", "_leads", "_fol", "_succ"
    )
