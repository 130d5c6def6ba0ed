"""Skew-salted join (x59).

`salted_join`: key salting for skewed equi-joins — a hot key's big-side
rows spread across `salts` reducers against a replicated small side.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def salted_join(
    big: DataFrame, small: DataFrame, on: str, salts: int = 8
) -> DataFrame:
    """Skew-resistant equi-join: replicate the small side ``salts``× (one
    copy per salt), salt each big-side row deterministically (row hash mod
    salts), and join on (key, salt) — a hot key's rows spread across
    ``salts`` reducers instead of one straggler task.

    The manual fallback for when AQE's skew-join can't split (e.g. the
    skewed side feeds a co-grouped window next).  An inner join: each big
    row carries exactly ONE salt, so no duplicates arise; the salted
    result equals the plain join (oracle- and test-checked).  Cost: small
    side ×salts (still broadcast/tiny), big side unchanged.
    """
    from social_warner_spark.operators.audit import row_hash60

    salt = F.pmod(row_hash60(*[F.col(c) for c in big.columns]), F.lit(salts))
    b = big.withColumn("_salt", salt)
    s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    return b.join(s, [on, "_salt"]).drop("_salt")
