"""Custom stateful streaming operator via applyInPandasWithState
(north-star C6: the escape hatch when built-in windows can't express the
semantics — per-key running state across micro-batches).

`running_user_totals`: per-user cumulative event count + value sum,
emitting one updated row per user per micro-batch.  State is a single
(count, total) pair per user — O(keys) state, watermark-free because the
state never grows with time.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, total double"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Stateful per-user running totals (stream-only operator).

    The update function is defined as a closure so cloudpickle serializes
    it BY VALUE; a module-level function is pickled by reference and fails
    on executors that don't have this package on their import path.
    """

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 6)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_heavy_hitters(events: DataFrame, k: int = 20) -> DataFrame:
    """Per-event-type Misra–Gries heavy hitters over the user stream —
    the deterministic-guarantee top-k summary the CMS cells
    (streaming/corpus.py) cannot give: after n items, every user with
    true frequency > n/k is guaranteed present, and each kept counter
    underestimates its true count by at most n/k.

    State per event type is the classic k-1 counter table, carried as
    two parallel arrays (applyInPandasWithState state must be a flat
    struct); each micro-batch folds its rows through the textbook
    update (increment if tracked, insert if room, else decrement all)
    and emits the CURRENT summary — one row per tracked user plus the
    processed-count row the error bound derives from.

    The summary content is order-dependent (as Misra–Gries is); the
    GUARANTEES are not, and they are what the tests assert against the
    exact batch counts.  State is O(k) per event type — bounded however
    long the stream runs, watermark-free.
    """

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, counts, n = state.get
            table = dict(zip(ids, counts))
        else:
            table, n = {}, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for uid in pdf["user_id"]:
                uid = int(uid)
                n += 1
                if uid in table:
                    table[uid] += 1
                elif len(table) < k - 1:
                    table[uid] = 1
                else:
                    table = {
                        u: c - 1 for u, c in table.items() if c > 1
                    }
        ids = sorted(table)
        state.update((ids, [table[u] for u in ids], n))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(ids),
                "user_id": ids,
                "est_count": [table[u] for u in ids],
                "n_processed": [n] * len(ids),
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, user_id long, est_count long,"
            " n_processed long"
        ),
        stateStructType="ids array<long>, counts array<long>, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
