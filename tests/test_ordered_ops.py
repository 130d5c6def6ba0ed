"""operators/ordered.py: distributed total-order primitives must equal
their single-partition window counterparts exactly, for any partition
count (including partitions smaller than the neighbor horizon).  A
global rank or running sum is the grouped operator with no group keys,
so the global tests call with_grouped_rank / with_grouped_cumsum with
``[]``."""

from __future__ import annotations

from contextlib import contextmanager

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from social_warner_spark.operators.ordered import (
    _range_staged,
    with_global_cummax_excl,
    with_global_lead_structs,
    with_global_ntile,
    with_grouped_cumsum,
    with_grouped_rank,
    with_grouped_value_range,
)


@contextmanager
def shuffle_partitions(spark, p):
    """Run the block with the session at ``p`` shuffle partitions: every
    range stage partitions into the session's
    ``spark.sql.shuffle.partitions`` ranges."""
    key = "spark.sql.shuffle.partitions"
    original = spark.conf.get(key)
    spark.conf.set(key, str(p))
    try:
        yield
    finally:
        spark.conf.set(key, original)


def _corpus(spark, n=97):
    # deliberately non-uniform key distribution + unique tiebreaker
    rows = [((i * 7919) % 13, (i * 37) % n, i) for i in range(n)]
    return spark.createDataFrame(rows, "g INT, v INT, id INT")


ORDER = ["g", "v", "id"]


@pytest.mark.parametrize("p", [1, 4, 16])
def test_global_rank_matches_window(spark, p):
    """Both order shapes the callers pass: column names, and Column
    expressions with a descending key."""
    df = _corpus(spark)
    for order in (ORDER, [F.desc("g"), F.asc("id")]):
        with shuffle_partitions(spark, p):
            got = {
                r["id"]: r["_grank"]
                for r in with_grouped_rank(df, [], order).collect()
            }
        want = {
            r["id"]: r["rk"]
            for r in df.withColumn(
                "rk", F.row_number().over(Window.orderBy(*order)).cast("long")
            ).collect()
        }
        assert got == want


@pytest.mark.parametrize("p,buckets", [(4, 10), (16, 10), (4, 7), (8, 200)])
def test_global_ntile_matches_window(spark, p, buckets):
    df = _corpus(spark)
    with shuffle_partitions(spark, p):
        got = {
            r["id"]: r["_tile"]
            for r in with_global_ntile(df, ORDER, buckets).collect()
        }
    want = {
        r["id"]: r["nt"]
        for r in df.withColumn(
            "nt", F.ntile(buckets).over(Window.orderBy(*ORDER))
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("p,k", [(4, 3), (16, 5), (8, 11), (1, 3)])
def test_global_lead_structs_matches_window(spark, p, k):
    # k=11 with 16 partitions over 97 rows: partitions hold ~6 rows, so
    # most neighbors cross MULTIPLE partition boundaries — the stream path.
    df = _corpus(spark)
    with shuffle_partitions(spark, p):
        got = {
            r["id"]: [None if e is None else (e["v"], e["id"]) for e in r["_next"]]
            for r in with_global_lead_structs(df, ORDER, ["v", "id"], k).collect()
        }
    w = Window.orderBy(*ORDER)
    lead_cols = [
        F.lead(F.struct(F.col("v"), F.col("id")), j).over(w).alias(f"_l{j}")
        for j in range(1, k + 1)
    ]
    want = {}
    for r in df.select("id", *lead_cols).collect():
        want[r["id"]] = [
            None if r[f"_l{j}"] is None else (r[f"_l{j}"]["v"], r[f"_l{j}"]["id"])
            for j in range(1, k + 1)
        ]
    assert got == want


@pytest.mark.parametrize("p", [4, 16])
def test_global_ntile_desc_order(spark, p):
    """x280/x347 sort (score DESC, id ASC) — sort-expression columns must
    flow through repartitionByRange and the per-partition window alike."""
    df = _corpus(spark)
    order = [F.desc("v"), F.asc("id")]
    with shuffle_partitions(spark, p):
        got = {
            r["id"]: r["_tile"]
            for r in with_global_ntile(df, order, 10).collect()
        }
    want = {
        r["id"]: r["nt"]
        for r in df.withColumn(
            "nt", F.ntile(10).over(Window.orderBy(F.desc("v"), F.asc("id")))
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("p", [1, 4, 16])
def test_global_cumsum_matches_window(spark, p):
    df = _corpus(spark).withColumn("c", (F.col("v") % 5 + 1).cast("long"))
    with shuffle_partitions(spark, p):
        got = {
            r["id"]: r["cum_c"]
            for r in with_grouped_cumsum(df, [], ORDER, {"cum_c": "c"}).collect()
        }
    w = Window.orderBy(*ORDER).rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: r["cc"]
        for r in df.withColumn("cc", F.sum("c").over(w).cast("long")).collect()
    }
    assert got == want


@pytest.mark.parametrize("p", [1, 4, 16])
def test_global_cummax_excl_matches_window(spark, p):
    df = _corpus(spark).withColumn("m", ((F.col("v") * 13) % 29).cast("long"))
    with shuffle_partitions(spark, p):
        got = {
            r["id"]: r["pm"]
            for r in with_global_cummax_excl(df, ORDER, "m", "pm").collect()
        }
    w = Window.orderBy(*ORDER).rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["id"]: r["pm"] for r in df.withColumn("pm", F.max("m").over(w)).collect()
    }
    assert got == want  # includes the NULL global-first row


def test_global_rank_single_row(spark):
    df = spark.createDataFrame([(1, 1, 1)], "g INT, v INT, id INT")
    with shuffle_partitions(spark, 4):
        out = with_grouped_rank(df, [], ORDER).collect()
    assert [r["_grank"] for r in out] == [1]


def test_ordered_ops_empty_input(spark):
    df = spark.createDataFrame([], "g INT, v INT, id INT")
    with shuffle_partitions(spark, 4):
        assert with_grouped_rank(df, [], ORDER).count() == 0
        assert with_grouped_cumsum(df, [], ORDER, {"c": "v"}).count() == 0
        assert with_global_cummax_excl(df, ORDER, "v").count() == 0
        assert with_global_lead_structs(df, ORDER, ["v", "id"], 3).count() == 0


def test_global_cumsum_rejects_non_integral_sources(spark):
    """ADVICE r05: the long-typed prefix offsets cannot carry decimal or
    float sources exactly — the contract is integral-only and enforced."""
    dec = spark.createDataFrame([(1, 1, 1)], "g INT, v INT, id INT").withColumn(
        "d", F.col("v").cast("decimal(12,2)")
    )
    with pytest.raises(TypeError, match="integral"):
        with_grouped_cumsum(dec, [], ORDER, {"cum": "d"})
    flt = dec.withColumn("f", F.col("v").cast("double"))
    with pytest.raises(TypeError, match="integral"):
        with_grouped_cumsum(flt, [], ORDER, {"cum": "f"})


@pytest.mark.parametrize("p", [1, 4, 16])
def test_global_cummax_excl_all_null_partition(spark, p):
    """ADVICE r05: a range partition whose val_col is entirely NULL must
    contribute nothing to the running max (window null-skipping), not
    crash the driver-side prefix fold on max(long, None)."""
    rows = [(0, i, i, None if 20 <= i < 40 else i * 7 % 13) for i in range(60)]
    df = spark.createDataFrame(rows, "g INT, v INT, id INT, m INT")
    with shuffle_partitions(spark, p):
        got = {
            r["id"]: r["pm"]
            for r in with_global_cummax_excl(df, ORDER, "m", "pm").collect()
        }
    w = Window.orderBy(*ORDER).rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["id"]: r["pm"] for r in df.withColumn("pm", F.max("m").over(w)).collect()
    }
    assert got == want


# ---- grouped primitives (r07: the low-cardinality-key counterparts) ----

GROUP = ["g"]
GORDER = ["v", "id"]


@pytest.mark.parametrize("p", [1, 4, 16])
def test_grouped_rank_matches_window(spark, p):
    df = _corpus(spark)
    with shuffle_partitions(spark, p):
        got = {
            r["id"]: (r["_grank"], r["_n"])
            for r in with_grouped_rank(df, GROUP, GORDER, count_col="_n").collect()
        }
    w = Window.partitionBy(*GROUP).orderBy(*GORDER)
    want = {
        r["id"]: (r["rk"], r["n"])
        for r in df.withColumn("rk", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count("*").over(Window.partitionBy(*GROUP)))
        .collect()
    }
    assert got == want


@pytest.mark.parametrize("p", [1, 4, 16])
def test_grouped_cumsum_matches_window(spark, p):
    df = _corpus(spark).withColumn("c", (F.col("v") % 5 + 1).cast("long"))
    with shuffle_partitions(spark, p):
        got = {
            r["id"]: r["cum_c"]
            for r in with_grouped_cumsum(df, GROUP, GORDER, {"cum_c": "c"}).collect()
        }
    w = (
        Window.partitionBy(*GROUP)
        .orderBy(*GORDER)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        r["id"]: r["cc"]
        for r in df.withColumn("cc", F.sum("c").over(w).cast("long")).collect()
    }
    assert got == want


@pytest.mark.parametrize("p", [4, 16])
def test_grouped_cumsum_desc_order(spark, p):
    """x42's (quality DESC, doc_id) selection order — sort expressions
    must flow through the grouped range stage and window alike."""
    df = _corpus(spark).withColumn("c", (F.col("v") % 5 + 1).cast("long"))
    order = [F.desc("v"), F.asc("id")]
    with shuffle_partitions(spark, p):
        got = {
            r["id"]: r["cum_c"]
            for r in with_grouped_cumsum(df, GROUP, order, {"cum_c": "c"}).collect()
        }
    w = (
        Window.partitionBy(*GROUP)
        .orderBy(F.desc("v"), F.asc("id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        r["id"]: r["cc"]
        for r in df.withColumn("cc", F.sum("c").over(w).cast("long")).collect()
    }
    assert got == want


def test_grouped_ops_empty_and_single(spark):
    empty = spark.createDataFrame([], "g INT, v INT, id INT")
    one = spark.createDataFrame([(1, 1, 1)], "g INT, v INT, id INT")
    with shuffle_partitions(spark, 4):
        assert with_grouped_rank(empty, GROUP, GORDER).count() == 0
        rows = with_grouped_rank(one, GROUP, GORDER, count_col="_n").collect()
    assert [(r["_grank"], r["_n"]) for r in rows] == [(1, 1)]


def test_grouped_cumsum_rejects_non_integral_sources(spark):
    dec = spark.createDataFrame([(1, 1, 1)], "g INT, v INT, id INT").withColumn(
        "d", F.col("v").cast("decimal(12,2)")
    )
    flt = dec.withColumn("f", F.col("v").cast("double"))
    for src in ("d", "f"):
        with pytest.raises(TypeError, match="integral"):
            with_grouped_cumsum(flt, GROUP, GORDER, {"cum": src})


def test_grouped_stage_balanced_under_dominant_group(spark):
    """r06 verdict task 5 (skew-resilience fixture): one group holding
    90% of rows must NOT concentrate on one task.  The grouped range
    stage partitions on (group, order), so the dominant group splits
    across partitions by the order key — assert no partition receives
    more than 2x the mean row count (the hot-shingle-cap test pattern).
    A Window.partitionBy(g) plan would put 90% of rows in ONE task."""
    n = 4000
    rows = [("en" if i % 10 != 0 else f"l{i % 7}", i * 37 % n, i) for i in range(n)]
    df = spark.createDataFrame(rows, "g STRING, v INT, id INT")
    dfc = df.withColumn("c", F.lit(1).cast("long"))
    with shuffle_partitions(spark, 16):
        staged = _range_staged(df, ["g", "v", "id"])
        sizes = [
            r["c"]
            for r in staged.groupBy("_pid").agg(F.count("*").alias("c")).collect()
        ]
        # and the grouped cumsum built on that stage is still exact
        got = {
            r["id"]: r["cum"]
            for r in with_grouped_cumsum(dfc, ["g"], ["v", "id"], {"cum": "c"}).collect()
        }
    assert sum(sizes) == n
    mean = n / len(sizes)
    assert max(sizes) <= 2 * mean, f"partition sizes skewed: max={max(sizes)} mean={mean:.0f} sizes={sorted(sizes, reverse=True)[:5]}"
    w = (
        Window.partitionBy("g")
        .orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        r["id"]: r["cc"]
        for r in dfc.withColumn("cc", F.sum("c").over(w).cast("long")).collect()
    }
    assert got == want


@pytest.mark.parametrize("p", [1, 4, 16])
def test_grouped_value_range_matches_window(spark, p):
    """with_grouped_value_range must equal the per-group RANGE-frame
    window exactly — including frames that span MULTIPLE range-partition
    boundaries (the halo band join is not limited to the immediate
    predecessor partition)."""
    n = 300
    # dense value field so a 25-wide band crosses several of 16 partitions
    rows = [((i * 7919) % 3, float((i * 37) % 100) + i * 0.001, i) for i in range(n)]
    df = spark.createDataFrame(rows, "g INT, v DOUBLE, id INT")
    with shuffle_partitions(spark, p):
        got = {
            (r["g"], r["id"]): (round(r["s"], 6), r["c"])
            for r in with_grouped_value_range(
                df,
                ["g"],
                "v",
                -25,
                {
                    "s": lambda w: F.sum("v").over(w),
                    "c": lambda w: F.count("*").over(w),
                },
            ).collect()
        }
    w = Window.partitionBy("g").orderBy("v").rangeBetween(-25, Window.currentRow)
    want = {
        (r["g"], r["id"]): (round(r["s"], 6), r["c"])
        for r in df.select(
            "g",
            "id",
            F.sum("v").over(w).alias("s"),
            F.count("*").over(w).alias("c"),
        ).collect()
    }
    assert got == want


def test_grouped_value_range_empty_and_single(spark):
    empty = spark.createDataFrame([], "g INT, v DOUBLE, id INT")
    one = spark.createDataFrame([(1, 2.0, 1)], "g INT, v DOUBLE, id INT")
    count = {"c": lambda w: F.count("*").over(w)}
    with shuffle_partitions(spark, 4):
        assert with_grouped_value_range(empty, ["g"], "v", -5, count).count() == 0
        rows = with_grouped_value_range(one, ["g"], "v", -5, count).collect()
    assert [r["c"] for r in rows] == [1]


# ---- property-based equivalence (r07): random skew, ties, NULL sums ----

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_rand_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # group (skewable)
        st.integers(min_value=0, max_value=6),      # order value (ties)
        st.one_of(st.none(), st.integers(min_value=-5, max_value=9)),
    ),
    min_size=0,
    max_size=40,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rand_rows, p=st.sampled_from([1, 3, 8]))
def test_grouped_primitives_random_equivalence(spark, rows, p):
    """with_grouped_rank / with_grouped_cumsum ≡ the Window forms on
    RANDOM inputs: arbitrary group skew (including one group holding
    everything and absent groups), order-value ties broken by the
    unique id, NULL sum sources (the r07 null-prefix parity rule), and
    partition counts below/above the group count."""
    data = [(f"g{g}", v, i, c) for i, (g, v, c) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, v int, id int, c long")

    with shuffle_partitions(spark, p):
        got = {
            r["id"]: (r["rk"], r["n"], r["cum"])
            for r in with_grouped_cumsum(
                with_grouped_rank(
                    df, ["g"], ["v", "id"], rank_col="rk", count_col="n"
                ),
                ["g"],
                ["v", "id"],
                {"cum": "c"},
            ).collect()
        }
    wr = Window.partitionBy("g").orderBy("v", "id")
    wc = wr.rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: (r["rk"], r["n"], r["cum"])
        for r in df.withColumn("rk", F.row_number().over(wr).cast("long"))
        .withColumn("n", F.count("*").over(Window.partitionBy("g")))
        .withColumn("cum", F.sum("c").over(wc).cast("long"))
        .collect()
    }
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rand_rows, p=st.sampled_from([1, 4, 16]))
def test_global_cumsum_random_equivalence_with_nulls(spark, rows, p):
    """Global running sums (with_grouped_cumsum, no group keys) ≡ sum()
    over (ORDER BY) on random inputs with NULL runs anywhere — including
    an all-NULL prefix spanning several range partitions (the case the
    r07 parity rule fixed)."""
    data = [(v * 7 + g, i, c) for i, (g, v, c) in enumerate(rows)]
    df = spark.createDataFrame(data, "v int, id int, c long")
    with shuffle_partitions(spark, p):
        got = {
            r["id"]: r["cum"]
            for r in with_grouped_cumsum(df, [], ["v", "id"], {"cum": "c"}).collect()
        }
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: r["cc"]
        for r in df.withColumn("cc", F.sum("c").over(w).cast("long")).collect()
    }
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # group
            st.integers(min_value=0, max_value=15),  # value (heavy ties)
        ),
        min_size=0,
        max_size=40,
    ),
    p=st.sampled_from([1, 4, 16]),
    off=st.sampled_from([-1, -3, -7]),
)
def test_grouped_value_range_random_equivalence(spark, rows, p, off):
    """The value-halo RANGE layout ≡ the per-group RANGE window on
    random inputs: duplicate values (RANGE ties share frames), groups
    that vanish, offsets smaller/larger than the value spacing, and
    partition counts far above the row count."""
    data = [(f"g{g}", float(v), i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, v double, id int")
    with shuffle_partitions(spark, p):
        got = {
            r["id"]: (round(r["s"], 6) if r["s"] is not None else None, r["c"])
            for r in with_grouped_value_range(
                df,
                ["g"],
                "v",
                off,
                {
                    "s": lambda w: F.sum("v").over(w),
                    "c": lambda w: F.count("*").over(w),
                },
            ).collect()
        }
    w = Window.partitionBy("g").orderBy("v").rangeBetween(off, Window.currentRow)
    want = {
        r["id"]: (round(r["s"], 6) if r["s"] is not None else None, r["c"])
        for r in df.select(
            "id", F.sum("v").over(w).alias("s"), F.count("*").over(w).alias("c")
        ).collect()
    }
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(min_value=0, max_value=50),
    buckets=st.sampled_from([1, 2, 3, 7, 50, 64]),
    p=st.sampled_from([1, 4, 16]),
)
def test_global_ntile_random_equivalence(spark, n, buckets, p):
    """The closed-form ntile bucket ≡ Spark's ntile() for random row
    counts around and below the bucket count (the q == 0 branch) and
    partition counts above the row count."""
    df = spark.createDataFrame(
        [((i * 13) % 97, i) for i in range(n)], "v int, id int"
    )
    with shuffle_partitions(spark, p):
        got = {
            r["id"]: r["_tile"]
            for r in with_global_ntile(df, ["v", "id"], buckets).collect()
        }
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["t"] for r in df.withColumn("t", F.ntile(buckets).over(w)).collect()
    }
    assert got == want
