"""Standing pre-close gate (r04 verdict task 7): the full driver-strict
mirror plus determinism double-runs, runnable as one command per scale.

Modes
-----
mirror    every declared query vs its DuckDB oracle with the
          serialization-strict compare (the exact class the driver
          hashes) — the gate that caught 22 latent hazards in r04.
duckdet   every oracle run under multiple DuckDB thread counts, each
          rendered canonically and diffed — catches parallel-summation
          rendering flappers on the oracle side.
sparkdet  every Spark query run twice, rendered canonically and
          diffed — catches partition-order float instability the
          driver would see as a one-shot hash mismatch.

mirror3   the mirror at ALL THREE scales (sf0.001, sf0.01, sf0.1) in
          one command — the standing pre-close form since round 9.
          sf0.001 is a first-class gate scale: the r08 sweep there
          caught three rounding-half-grid divergences (x144/x249/x323)
          that sf0.01/sf0.1 never exposed — tiny groups make exact
          decimal rationals land on the rounding grid's midpoints.

Usage: python -m tests.run_strict_mirror [mirror|mirror3|duckdet|sparkdet] [sf_dir]
Exit code 0 = clean; 1 = at least one failure (each printed as it lands).
"""

from __future__ import annotations

import sys


def _render_frame(df) -> list[str]:
    """Canonical rendered rows (the mirror's driver-faithful form)."""
    from tests.oracle_harness import _render_cell, canonicalize

    c = canonicalize(df)
    return ["|".join(_render_cell(v) for v in row) for row in c.itertuples(index=False)]


def run_mirror(sf_dir: str) -> int:
    from social_warner_spark.caching import release_persisted_intermediates
    from social_warner_spark.queries import all_oracles, all_queries
    from social_warner_spark.session import get_spark

    from tests.oracle_harness import compare, duck_connection

    spark = get_spark(app_name="strict-mirror")
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracles = all_queries(), all_oracles()
    con = duck_connection(sf_dir)
    fails = 0
    for i, name in enumerate(sorted(queries)):
        release_persisted_intermediates()
        try:
            sdf = queries[name](spark, sf_dir)
            ddf = con.execute(oracles[name]).df()
            ok, msg = compare(sdf, ddf)
        except Exception as e:  # noqa: BLE001 - report and keep going
            ok, msg = False, f"EXC {type(e).__name__}: {e}"
        if not ok:
            fails += 1
            print(f"FAIL {name}: {msg}", flush=True)
        if (i + 1) % 50 == 0:
            print(f"... {i + 1}/{len(queries)} ({fails} fails)", flush=True)
    print(f"mirror {sf_dir}: {len(queries)} queries, {fails} fails", flush=True)
    return 1 if fails else 0


def run_duckdet(sf_dir: str, threads=(2, 8, 32)) -> int:
    import duckdb  # noqa: F401 - ensures import error surfaces early

    from social_warner_spark.queries import all_oracles

    from tests.oracle_harness import duck_connection

    oracles = all_oracles()
    fails = 0
    baseline: dict[str, list[str]] = {}
    for t in threads:
        con = duck_connection(sf_dir)
        con.execute(f"SET threads TO {t}")
        for name in sorted(oracles):
            try:
                rendered = _render_frame(con.execute(oracles[name]).df())
            except Exception as e:  # noqa: BLE001
                rendered = [f"EXC {type(e).__name__}: {e}"]
            if name not in baseline:
                baseline[name] = rendered
            elif baseline[name] != rendered:
                fails += 1
                print(f"FLAP {name} at threads={t}", flush=True)
        con.close()
        print(f"duckdet threads={t} done ({fails} flaps)", flush=True)
    print(f"duckdet {sf_dir}: {len(oracles)} oracles, {fails} flaps", flush=True)
    return 1 if fails else 0


def run_sparkdet(sf_dir: str) -> int:
    from social_warner_spark.caching import release_persisted_intermediates
    from social_warner_spark.queries import all_queries
    from social_warner_spark.session import get_spark

    spark = get_spark(app_name="spark-det")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    fails = 0
    for i, name in enumerate(sorted(queries)):
        runs = []
        for _ in range(2):
            release_persisted_intermediates()
            spark.catalog.clearCache()
            try:
                runs.append(_render_frame(queries[name](spark, sf_dir).toPandas()))
            except Exception as e:  # noqa: BLE001
                runs.append([f"EXC {type(e).__name__}: {e}"])
        if runs[0] != runs[1]:
            fails += 1
            print(f"FLAP {name}", flush=True)
        if (i + 1) % 50 == 0:
            print(f"... {i + 1}/{len(queries)} ({fails} flaps)", flush=True)
    print(f"sparkdet {sf_dir}: {len(queries)} queries, {fails} flaps", flush=True)
    return 1 if fails else 0


#: The standing gate scales (round-9 promotion of sf0.001; see module
#: docstring).  Order: cheapest first so a systematic break fails fast.
GATE_SCALES = (
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
)


def run_mirror3(_sf_dir_ignored: str) -> int:
    rc = 0
    for d in GATE_SCALES:
        rc |= run_mirror(d)
    return rc


def run_sparkparts(sf_dir: str) -> int:
    """Partitioning-invariance sweep (round 9): render every query under
    TWO different partitioning regimes and diff.  sparkdet double-runs
    inside ONE session, so it can never see order-dependence that only
    surfaces when union/shuffle/scan partitioning changes — the class
    the asof_join duplicate-ts defect belonged to (a window sort that
    is not total lets the carried value follow partitioning order).
    Regime A: the standard session (local core count, 32 shuffle
    partitions).  Regime B: 7 shuffle partitions, 5 cores, 1 MiB scan
    splits — different scan partitioning, shuffle fan-in, AQE choices.
    A diff here is ALWAYS a real defect: declared queries must be
    functions of the data, not the physical plan."""
    from social_warner_spark.caching import release_persisted_intermediates
    from social_warner_spark.queries import all_queries
    from social_warner_spark.session import get_spark

    def render_all(session_kwargs: dict) -> dict[str, list[str]]:
        spark = get_spark(**session_kwargs)
        spark.sparkContext.setLogLevel("ERROR")
        queries = all_queries()
        out: dict[str, list[str]] = {}
        for i, name in enumerate(sorted(queries)):
            release_persisted_intermediates()
            spark.catalog.clearCache()
            try:
                out[name] = _render_frame(queries[name](spark, sf_dir).toPandas())
            except Exception as e:  # noqa: BLE001
                out[name] = [f"EXC {type(e).__name__}: {e}"]
            if (i + 1) % 50 == 0:
                print(f"... {i + 1}/{len(queries)}", flush=True)
        spark.stop()
        return out

    a = render_all({"app_name": "sparkparts-a"})
    print("regime A rendered; starting regime B", flush=True)
    b = render_all(
        {
            "app_name": "sparkparts-b",
            "master": "local[5]",
            "extra_conf": {
                "spark.sql.shuffle.partitions": "7",
                "spark.sql.files.maxPartitionBytes": "1m",
            },
        }
    )
    fails = 0
    excs = 0
    for name in sorted(a):
        if a[name] != b[name]:
            fails += 1
            print(f"FLAP {name} (partitioning-dependent output)", flush=True)
        # An exception — even one identical under both regimes — means the
        # query never executed, so it proved nothing about invariance.
        # Count it as a failure or the mode could exit 0 with broken
        # queries (ADVICE r9).
        elif a[name] and a[name][0].startswith("EXC "):
            excs += 1
            print(f"EXC  {name}: {a[name][0][4:]}", flush=True)
    print(
        f"sparkparts {sf_dir}: {len(a)} queries, {fails} flaps, "
        f"{excs} exceptions",
        flush=True,
    )
    return 1 if fails or excs else 0


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else "mirror"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    return {
        "mirror": run_mirror,
        "mirror3": run_mirror3,
        "duckdet": run_duckdet,
        "sparkdet": run_sparkdet,
        "sparkparts": run_sparkparts,
    }[mode](sf_dir)


if __name__ == "__main__":
    sys.exit(main())
