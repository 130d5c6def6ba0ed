"""Grouped-map and table-function operator surfaces.

- `user_session_features`: applyInPandas (grouped map) — per-key pandas
  logic over Arrow batches; each group must fit one worker's memory, so key
  cardinality should be high and group size bounded (enforce upstream).
- `ParseKVListUDTF`: Python UDTF (Spark 4) exploding "k: v" items to rows —
  the lateral-view/table-function surface.  The expression-only
  parse_kv_list (operators/nested.py) stays the hot-path implementation;
  the UDTF exists for API-surface parity and row-generating use cases.
- `salted_join`: key salting for skewed equi-joins — a hot key's big-side
  rows spread across `salts` reducers against a replicated small side.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

SESSION_FEATURES_SCHEMA = (
    "user_id long, n_events long, n_sessions long, "
    "mean_gap_seconds double, total_value double"
)


def user_session_features(events: DataFrame, gap_minutes: int = 10) -> DataFrame:
    """Per-user behavioral features via applyInPandas.

    Deliberately pandas-shaped logic (diff/cumsum over the user's ordered
    history) — the kind of per-entity computation that is awkward as window
    expressions but natural as a grouped map.
    """
    gap = pd.Timedelta(minutes=gap_minutes)

    def features(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        gaps = pdf["ts"].diff()
        n_sessions = int((gaps >= gap).sum()) + 1
        mean_gap = float(gaps.dt.total_seconds().mean()) if len(pdf) > 1 else 0.0
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(pdf)],
                "n_sessions": [n_sessions],
                "mean_gap_seconds": [round(mean_gap, 6)],
                "total_value": [round(float(pdf["value"].sum()), 6)],
            }
        )

    return events.groupBy("user_id").applyInPandas(features, SESSION_FEATURES_SCHEMA)


try:
    from pyspark.sql.functions import udtf

    @udtf(returnType="key string, value string")
    class ParseKVListUDTF:
        """Explode ["k: v", ...] items into (key, value) rows.

        Malformed (colon-less) items yield key 'untitled' — same contract
        as parse_kv_list (reference data_transform.py:133).
        """

        def eval(self, items):  # noqa: D102
            for item in items or []:
                if ":" in item:
                    k, _, v = item.partition(":")
                    yield k.strip().replace(" ", "_"), v.strip()
                else:
                    yield "untitled", item.strip()

    HAS_UDTF = True
except ImportError:  # pragma: no cover - Spark < 4
    ParseKVListUDTF = None  # type: ignore[assignment]
    HAS_UDTF = False


def salted_join(
    big: DataFrame, small: DataFrame, on: str, salts: int = 8, how: str = "inner"
) -> DataFrame:
    """Skew-resistant equi-join: replicate the small side ``salts``× (one
    copy per salt), salt each big-side row deterministically (row hash mod
    salts), and join on (key, salt) — a hot key's rows spread across
    ``salts`` reducers instead of one straggler task.

    The manual fallback for when AQE's skew-join can't split (e.g. the
    skewed side feeds a co-grouped window next).  Inner and left joins
    preserve exact semantics: each big row carries exactly ONE salt, so no
    duplicates arise; the salted result equals the plain join (oracle- and
    test-checked).  Cost: small side ×salts (still broadcast/tiny), big
    side unchanged.
    """
    from social_warner_spark.operators.audit import row_hash60

    assert how in ("inner", "left"), "salted_join preserves big-side semantics"
    salt = F.pmod(row_hash60(*[F.col(c) for c in big.columns]), F.lit(salts))
    b = big.withColumn("_salt", salt)
    s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    return b.join(s, [on, "_salt"], how).drop("_salt")
