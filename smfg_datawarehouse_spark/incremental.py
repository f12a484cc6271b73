"""T1 — watermark-managed incremental loads (SURVEY §2.9).

The reference declares incremental extraction as a free-form
``IncrementalFilter`` predicate chosen by hand per table
(``1. Metadata Creation.sql:65,67``, applied at
``Staging_Extraction_Metadata_Query.sql:49-51``). This module supplies the
piece the reference leaves manual: *watermark bookkeeping*. Each
incremental table tracks the max value of a monotonically-advancing column
(event time, CDC sequence); the next run extracts strictly-greater rows
and advances the stored watermark.

State lives in an append-only parquet ledger (latest-wins on sequence
number), the same event-sourced pattern as the audit ledger and written
by the same pyarrow event writer: a few bytes of control-plane state cost
no Spark job. There is no read-modify-write on the lake, and it is safe to
re-run (an aborted run never advances the watermark because the new value
is written only after the extraction succeeds).

At scale the watermark predicate is pushed into the source scan (JDBC
remote WHERE / parquet row-group skipping / Delta data skipping), so an
incremental run touches only new data — the property that matters at
100 TB where a full rescan is not an option.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smfg_datawarehouse_spark.audit import append_event, read_events

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("TableName", T.StringType(), False),
        T.StructField("WatermarkValue", T.StringType(), True),
        T.StructField("Seq", T.LongType(), False),
    ]
)


class WatermarkStore:
    """Append-only watermark ledger; latest Seq per table wins.

    The ledger is read once, when the store opens: ``get`` answers from
    the in-memory latest-per-table map and ``advance`` updates it as it
    appends the event, so neither grows with the ledger's history. One
    store per ledger per process; ``Seq`` continues from the stored
    maximum, so a store reopened after an engine restart outranks every
    earlier run's watermarks."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.path = os.path.join(state_dir, "watermarks.parquet")
        events = read_events(self.path, _STATE_SCHEMA)
        rows = []
        if events is not None:
            d = events.to_pydict()
            rows = sorted(zip(d["Seq"], d["TableName"], d["WatermarkValue"]), key=lambda r: r[0])
        self._marks = {name: value for _seq, name, value in rows}
        self._seq = rows[-1][0] if rows else 0

    def get(self, table: str) -> str | None:
        return self._marks.get(table)

    def advance(self, table: str, value: Any) -> None:
        """Record a new watermark (stringified; lexicographic-safe for ISO
        timestamps/dates and zero-padded sequences)."""
        self._seq += 1
        append_event(
            self.path,
            _STATE_SCHEMA,
            {"TableName": table, "WatermarkValue": str(value), "Seq": self._seq},
        )
        self._marks[table] = str(value)


def incremental_slice(
    df: DataFrame, ts_col: str, last_watermark: str | None
) -> DataFrame:
    """Rows strictly past the stored watermark (everything on first run).

    The comparison is on the raw column so Catalyst pushes it to the
    source (JDBC WHERE / parquet min-max skipping).
    """
    if last_watermark is None:
        return df
    return df.where(F.col(ts_col) > F.lit(last_watermark).cast(df.schema[ts_col].dataType))
