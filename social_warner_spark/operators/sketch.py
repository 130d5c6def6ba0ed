"""Sketch-based join pruning: an engine-portable relational bloom filter.

Spark's own runtime bloom filters (``bloom_filter_agg`` /
``might_contain``) are Catalyst-internal — not user-callable SQL — and
their bit layout is engine-specific, so a query built on them could never
be oracle-checked.  This module implements the same semi-join-reduction
idea purely relationally, with md5-derived hash positions, so the
construction is deterministic and reproducible by ANY engine:

- The filter over the build side's keys is a DISTINCT table of tagged hex
  positions ``"{seed}|{3 hex chars of md5(seed|key)}"`` — k seeds give k
  independent 4096-slot sub-filters (a partitioned bloom).  Size is
  bounded by ``k * 4096`` rows regardless of build-side cardinality.
- Probing is k chained **broadcast left-semi joins**: a fact row survives
  iff all k of its positions appear.  No shuffle touches the fact table;
  the only data movement is broadcasting the (tiny, bounded) position
  table.  False positives are possible by design and are removed by the
  real join that follows — the final result is exactly the plain join's.

At 100 TB this is the classic semi-join reduction: ship a bounded sketch
of the selective dimension to every executor and drop the vast majority
of fact rows before they reach the join shuffle.  Reference parity: the
reference filters in pandas after materializing everything in driver RAM
(data_transform.py:17); pruning-before-shuffle is the distributed
re-expression of that filter step.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from social_warner_spark.functions.text import md5_int

#: 3 hex chars = 4096 slots per sub-filter.
_NIBBLES = 3


def bloom_position(key: Column, seed: int) -> Column:
    """Tagged hash position of ``key`` under hash function ``seed``.

    The seed participates in the md5 input AND the output tag, so the k
    sub-filters occupy disjoint position namespaces in one table.
    """
    h = F.md5(F.concat(F.lit(f"{seed}|"), key.cast("string")))
    return F.concat(F.lit(f"{seed}|"), F.substring(h, 1, _NIBBLES))


def bloom_filter_table(build: DataFrame, key_col: str, k: int = 3) -> DataFrame:
    """DISTINCT position table (column ``pos``) for the build side's keys."""
    pos = None
    for seed in range(k):
        part = build.select(bloom_position(F.col(key_col), seed).alias("pos"))
        pos = part if pos is None else pos.unionAll(part)
    return pos.distinct()


def bloom_prune(
    fact: DataFrame, fact_key: str, positions: DataFrame, k: int = 3
) -> DataFrame:
    """Keep fact rows whose key is (probably) in the filter.

    k chained broadcast left-semi joins — the AND of the k membership
    tests.  Each is a map-side hash probe: the fact side is never
    shuffled or exploded.
    """
    out = fact
    for seed in range(k):
        out = out.join(
            F.broadcast(positions),
            bloom_position(F.col(fact_key), seed) == positions["pos"],
            "left_semi",
        )
    return out


def _cms_bucket(item: Column, width: int) -> Column:
    """Bucket of ``item`` in count-min row ``r``: the cells and the probes
    hash alike."""
    return (md5_int(F.concat_ws("|", F.col("r"), item), 15) % width).cast("int")


def cms_cells(
    items: DataFrame, item_col: str = "token", depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over an item
    stream: ``depth`` independent md5-derived hash rows × ``width``
    buckets, one count per touched cell.

    The whole sketch is at most depth·width rows regardless of stream
    cardinality, and it reduces via map-side partial aggregation — the
    shuffle carries ≤ depth·width pre-combined rows per task.  Cells are
    mergeable by addition, which is what makes the sketch the right
    heavy-hitter structure for incremental ingestion (sum cells across
    loads) and for 100 TB batch (sum cells across partitions).

    md5 positions (functions.text.md5_int) keep the construction
    engine-portable: any SQL engine reproduces the exact cells.
    """
    rows = F.array(*[F.lit(r) for r in range(depth)])
    return (
        items.select(F.col(item_col).alias("item"), F.explode(rows).alias("r"))
        .select("r", _cms_bucket(F.col("item"), width).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    depth: int = 4,
    width: int = 64,
    k: int = 20,
) -> DataFrame:
    """Top-k token heavy hitters with count-min estimates: (token, exact,
    est, overcount, rk).  ``est ≥ exact`` always (the one-sided CMS
    error); ``overcount`` makes the collision error observable and
    testable.

    The exact per-token counts here are the VERIFICATION baseline — the
    sketch path itself never shuffles the token stream beyond depth·width
    cells (broadcast back onto the candidates).  At 100 TB the candidate
    set comes from a cheap sample or a prior epoch's hitters, not from a
    full distinct — the sketch answers point queries for any candidate
    set without re-scanning.
    """
    from social_warner_spark.caching import register_persisted
    from social_warner_spark.functions.text import tokens

    tok = register_persisted(
        df.select(F.explode(tokens(F.col("text"))).alias("token")).persist()
    )
    cells = cms_cells(tok, "token", depth, width)
    exact = tok.groupBy("token").agg(F.count("*").alias("exact"))
    rows = F.array(*[F.lit(r) for r in range(depth)])
    probes = exact.select("token", "exact", F.explode(rows).alias("r")).select(
        "token",
        "exact",
        "r",
        _cms_bucket(F.col("token"), width).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("token", "exact")
        .agg(F.min("cnt").alias("est"))
    )
    # top-k via sort+limit (TakeOrderedAndProject — no single-partition
    # global window); the rank window then touches only k rows.
    top = est.orderBy(F.desc("est"), "token").limit(k)
    w = Window.orderBy(F.desc("est"), "token")
    return top.select(
        "token",
        "exact",
        "est",
        (F.col("est") - F.col("exact")).alias("overcount"),
        F.row_number().over(w).cast("int").alias("rk"),
    )


def log_histogram_cells(
    df: DataFrame, value_col: str, group_col: str, k: int = 20
) -> DataFrame:
    """Log-bucket histogram cells over a positive measure: bucket
    ``floor(ln(x)·k)`` → per-(group, bucket) count.

    The histogram is the mergeable quantile sketch (the idea behind
    DDSketch, Masson et al. VLDB 2019): buckets are relative-error
    ``e^(1/k)``-wide, the cell table is bounded by the VALUE RANGE (a few
    hundred rows) regardless of row count, cells reduce via map-side
    partial aggregation, and two sketches merge by adding counts — the
    quantile twin of ``cms_cells``/``hll_distinct``.  Unlike
    ``percentile_approx`` (whose Greenwald-Khanna state is
    engine-internal), every engine reproduces these cells exactly.
    """
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.floor(F.log(F.col(value_col).cast("double")) * k)
            .cast("long")
            .alias("bucket"),
        )
        .groupBy("grp", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def log_histogram_quantiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
    k: int = 20,
) -> DataFrame:
    """Quantile estimates from the log-bucket histogram: for target mass
    ``q·N`` walk the cumulative bucket counts, then interpolate linearly
    INSIDE the chosen bucket and invert the log transform —
    ``exp((bucket + frac)/k)``.  Relative error is bounded by the bucket
    width ``e^(1/k)-1`` (≈5% at k=20) by construction.

    Only the bounded cell table is windowed/sorted — the raw rows are
    touched once by the partial-aggregating cell scan, so the plan is a
    single shuffle of pre-combined cells no matter how many input rows.
    """
    cells = log_histogram_cells(df, value_col, group_col, k)
    w = Window.partitionBy("grp").orderBy("bucket")
    cum = cells.select(
        "grp",
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("prev"),
    )
    totals = cells.groupBy("grp").agg(F.sum("cnt").alias("n"))
    qs = totals.select(
        "grp",
        "n",
        F.explode(F.array(*[F.lit(q) for q in quantiles])).alias("q"),
    ).select("grp", "n", "q", (F.col("q") * F.col("n")).alias("target"))
    hit = qs.join(cum, "grp").where(
        (F.col("cum") >= F.col("target")) & (F.col("prev") < F.col("target"))
    )
    frac = (F.col("target") - F.col("prev")) / F.col("cnt")
    return hit.select(
        "grp",
        "q",
        F.col("n").alias("n_rows"),
        F.round(F.exp((F.col("bucket") + frac) / k), 6).alias("est"),
    )


#: HLL register count, and its bias constant (Flajolet et al. 2007, §4).
_HLL_M = 64
_HLL_ALPHA_64 = 0.709


def hll_distinct(
    items: DataFrame,
    item_col: str = "token",
    group_col: str = "source",
) -> DataFrame:
    """HyperLogLog distinct-count estimate per group (Flajolet et al.
    2007), built relationally so ANY engine reproduces the exact
    registers — unlike ``approx_count_distinct``, whose HLL++ register
    layout is engine-internal and therefore un-oracle-able.

    Per item: a 60-bit md5 hash; low 6 bits pick one of ``_HLL_M``=64
    registers, the remaining 54 bits' leading-zero rank (computed
    EXACTLY as ``55 - length(bin(w))`` — no float log2, whose rounding
    at the 2^53 boundary could diverge between engines) updates the
    register max.  The estimate applies the standard small-range linear
    counting correction when empty registers remain.

    Determinism note: the harmonic-mean denominator sums 2^(55-M) as
    INTEGERS (each term exact, total < 2^60) and divides once by 2^55 —
    an exact power-of-two scaling — so no float-accumulation order can
    differ between engines.

    Registers are (group, bucket, max-rank) rows: ≤ m per group, reduced
    by map-side partial aggregation, and mergeable across partitions or
    incremental loads by the same groupBy-max — the distinct-count twin
    of cms_cells.
    """
    h = md5_int(F.col(item_col), 15)
    hashed = items.select(
        F.col(group_col).alias("grp"),
        (h % _HLL_M).cast("int").alias("bucket"),
        F.shiftright(h, 6).alias("w"),
    )
    regs = (
        hashed.select(
            "grp",
            "bucket",
            F.when(
                F.col("w") > 0,
                F.lit(55) - F.length(F.bin(F.col("w"))),
            )
            .otherwise(F.lit(55))
            .alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("mreg"))
    )
    per = regs.groupBy("grp").agg(
        F.count("*").cast("int").alias("n_present"),
        F.sum(F.pow(F.lit(2.0), F.lit(55) - F.col("mreg")).cast("long")).alias(
            "sum_scaled"
        ),
    )
    v = _HLL_M - F.col("n_present")
    denom = F.col("sum_scaled") / F.lit(float(2**55)) + v
    e_raw = F.lit(_HLL_ALPHA_64 * _HLL_M * _HLL_M) / denom
    est = F.when(
        (v > 0) & (e_raw <= 2.5 * _HLL_M),
        F.lit(float(_HLL_M)) * F.log(F.lit(_HLL_M) / v),
    ).otherwise(e_raw)
    return per.select(
        F.col("grp").alias(group_col),
        "n_present",
        F.round(est, 6).alias("est_distinct"),
    )


# --- KMV (k-minimum-values) distinct sketch ----------------------------------
#
# The k smallest normalized hash values of a key set are a mergeable,
# fixed-size summary of its distinct count: if the k-th smallest hash is
# θ, the set held ≈ (k-1)/θ distinct keys.  Unlike HLL (hll_distinct
# above), KMV sketches support SET ALGEBRA: the k smallest of a union of
# sketches sketch the union, and the fraction of the union sketch's
# members common to both inputs estimates Jaccard — giving an
# INTERSECTION estimate, which inclusion-exclusion on HLL cannot do
# stably.  Hashes are md5-derived (first 12 hex chars / 16^12 ∈ [0,1)),
# so any engine reproduces the sketch bit-for-bit.

#: Normalizing constant for 12 hex chars.
_KMV_DENOM = float(16**12)


def kmv_hash(key: Column) -> Column:
    """Uniform-[0,1) deterministic hash of a key (12 hex chars of md5)."""
    return md5_int(key.cast("string"), 12).cast("double") / F.lit(_KMV_DENOM)


def kmv_sketch(df: DataFrame, key_col: str, group_col: str, k: int) -> DataFrame:
    """(group, h, rn ≤ k, n_distinct): the k smallest distinct-key hashes
    per group, with the group's exact distinct count riding along (needed
    for the small-set exact path: a sketch of a set with < k members IS
    the set).  One distinct shuffle + one group window; the rank filter
    pushes down as WindowGroupLimit so only k rows per group survive the
    sort."""
    d = df.select(group_col, key_col).distinct()
    h = d.select(
        group_col,
        kmv_hash(F.col(key_col)).alias("h"),
    )
    w = Window.partitionBy(group_col).orderBy("h")
    wall = Window.partitionBy(group_col)
    return (
        h.withColumn("rn", F.row_number().over(w))
        .withColumn("n_distinct", F.count("*").over(wall))
        .where(F.col("rn") <= k)
    )


def kmv_estimate(sketch: DataFrame, k: int, group_col: str = "group") -> DataFrame:
    """(group, est_distinct) from a kmv_sketch: (k-1)/θ_k when the group
    saturated the sketch, else the exact count it carried."""
    return sketch.groupBy(group_col).agg(
        F.when(
            F.max("n_distinct") >= k, (F.lit(float(k - 1)) / F.max("h"))
        )
        .otherwise(F.max("n_distinct").cast("double"))
        .alias("est_distinct")
    )


#: Value range per pass-1 cell of `twopass_median`.
MEDIAN_BUCKET_WIDTH = 1024.0


def twopass_median(df: DataFrame, value_col: str) -> DataFrame:
    """EXACT median without a global sort: the two-pass locate-and-rank
    recipe that scales where `percentile_cont` (full sort) cannot.

    Pass 1 buckets values (fixed width) into |range|/width cells and
    locates, from the cumulative cell counts, which bucket holds each
    middle rank (k1 = (n+1)//2, k2 = n//2+1 — both for even-n
    interpolation) and the rank WITHIN that bucket.  Pass 2 sorts ONLY
    the one-or-two target buckets (bounded by bucket density, never by
    n) and picks the in-bucket ranks; the median is their mean, exactly
    `percentile_cont(0.5)`.

    Everything data-dependent flows as broadcast 1-row relations — no
    driver collect.  At 100 TB: two scans of the persisted value
    column, one |buckets|-row cumulative, one bucket-local sort.
    """
    from social_warner_spark.caching import register_persisted

    v = F.col(value_col).cast("double")
    rows = register_persisted(
        df.select(
            v.alias("_v"), F.floor(v / MEDIAN_BUCKET_WIDTH).cast("long").alias("_b")
        ).persist()
    )
    cells = rows.groupBy("_b").agg(F.count("*").alias("c"))
    w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select("_b", "c", F.sum("c").over(w).alias("cum"))
    n = cells.agg(F.sum("c").alias("n"))
    targets = n.selectExpr(
        "n",
        "stack(2, 1, CAST((n + 1) / 2 AS LONG), 2, CAST(n / 2 + 1 AS LONG)) AS (which, k)",
    )
    located = (
        cum.crossJoin(F.broadcast(targets))
        .where((F.col("cum") >= F.col("k")) & (F.col("cum") - F.col("c") < F.col("k")))
        .select(
            "which",
            "n",
            F.col("_b").alias("_tb"),
            (F.col("k") - (F.col("cum") - F.col("c"))).alias("k_in"),
        )
    )
    cand = rows.join(F.broadcast(located), rows["_b"] == located["_tb"])
    wb = Window.partitionBy("which").orderBy("_v")
    picked = cand.withColumn("rn", F.row_number().over(wb)).where(
        F.col("rn") == F.col("k_in")
    )
    return picked.groupBy("n").agg(F.round(F.avg("_v"), 6).alias("median")).select(
        F.col("n").cast("long").alias("n"), "median"
    )
