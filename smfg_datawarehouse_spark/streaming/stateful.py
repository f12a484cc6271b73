"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference's data model declares a REALTIME refresh cadence it never
implements (``1. Metadata Creation.sql:66``); Structured Streaming's
arbitrary-stateful API is the engine's answer for operators the built-in
windowed aggregations can't express: running per-key totals
(:func:`running_user_totals`) — CDC-style accumulator state per user,
emitting the updated running aggregate each micro-batch. State is one
tiny row per key; the shuffle is the groupBy hash partitioning, identical
at any scale.

Totals accumulate in integer micro-units (value ×1e6 rounded), so state is
exact and batch/stream results compare bit-identically — the same
decimal-accumulation convention the batch queries use.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from smfg_datawarehouse_spark.queries import micro_np

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_micros", T.LongType(), False),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_micros", T.LongType(), False),
    ]
)


def _accumulate(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    n, tot = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            # micro_np is the numpy twin of the batch queries' micro(),
            # so stream == batch bit-exactly
            tot += int(micro_np(pdf["value"].to_numpy()).sum())
    state.update((n, tot))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "total_micros": [tot]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, exact total in micro-units) — arbitrary
    stateful processing; works identically over batch or stream groupBy."""
    return events.groupBy("user_id").applyInPandasWithState(
        _accumulate,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_v2(events: DataFrame) -> DataFrame:
    """Per-user running (count, exact total in micro-units) on the
    ``transformWithStateInPandas`` API (Spark 4's successor to
    ``applyInPandasWithState``): identical semantics to
    :func:`running_user_totals`, different engine surface — named
    ValueState handles, timer support, state TTL, and a query-queryable
    state store (s13) come with the v2 API, so the engine carries both.

    ENVIRONMENT GATE: the v2 worker protocol needs the ``protobuf``
    package (``pyspark.sql.streaming.proto``), which this sandbox lacks
    — so the builder is NOT registered as a certified query (it would
    fail in the driver's identical container); ``tests/test_streaming``
    drives it equal-to-batch when protobuf is importable and skips
    otherwise, the same honest gate the PIL decode path uses. The v1
    path (s02) certifies the semantics either way — the arithmetic here
    is the same floor(x*1e6 + 0.5) integer-micro convention, so v1, v2,
    and the batch GROUP BY agree bit-exactly wherever v2 can run."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n_events BIGINT, total_micros BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np
            import pandas as pd

            (user_id,) = key
            n, tot = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    micros = np.floor(
                        pdf["value"].to_numpy() * 1_000_000.0 + 0.5
                    )
                    tot += int(micros.astype(np.int64).sum())
            self._state.update((n, tot))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "total_micros": [tot],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        _RunningTotals(),
        outputStructType=_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
