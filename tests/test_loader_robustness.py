"""Schema-defensive loader guarantees: a fixture regeneration with a
different (but equivalent) physical encoding must not change what any
query sees. Round 1 was invalidated by exactly this class of drift —
events.ts flipping INT64-nanos ↔ timestamp[us] — so every branch is
pinned here against synthetic re-encodings of the real fixtures."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from smfg_datawarehouse_spark.queries import load_events

SF_DIR = "/root/testdata/sf0.001"


def _rowset(df):
    return sorted(tuple(str(v) for v in row) for row in df.collect())


@pytest.fixture(scope="module")
def nanos_events_dir(tmp_path_factory):
    """events re-encoded with ts as INT64 nanoseconds (the round-1
    fixture generation's encoding)."""
    src = pq.read_table(f"{SF_DIR}/events.parquet")
    ts_idx = src.schema.get_field_index("ts")
    nanos = src.column("ts").cast(pa.timestamp("ns")).cast(pa.int64())
    tbl = src.set_column(ts_idx, pa.field("ts", pa.int64()), nanos)
    d = tmp_path_factory.mktemp("events_nanos")
    pq.write_table(tbl, str(d / "events.parquet"))
    return str(d)


def test_load_events_nanos_branch_equals_timestamp_branch(spark, nanos_events_dir):
    canonical = _rowset(load_events(spark, SF_DIR))
    renanosed = _rowset(load_events(spark, nanos_events_dir))
    assert renanosed == canonical


def test_events_stream_handles_both_encodings(spark, nanos_events_dir, tmp_path):
    from smfg_datawarehouse_spark.streaming.windows import (
        events_stream,
        run_stream_to_memory,
        tumbling_agg,
    )

    expected = _rowset(tumbling_agg(load_events(spark, SF_DIR)))
    result = run_stream_to_memory(
        spark,
        tumbling_agg(events_stream(spark, nanos_events_dir)),
        "nanos_stream_t",
    )
    assert _rowset(result) == expected


def test_queries_run_in_fresh_unconfigured_session(spark):
    """Regression (round 3): ``spark.conf.get(key, "")`` in Spark 4
    VALIDATES the explicit default against the conf type, so the
    timezone re-pin guard itself threw INVALID_CONF_VALUE in any session
    that never set the key — which is precisely the externally-built
    driver session it exists to protect. Drive representative queries
    through a fresh ``newSession()`` (shared app, UNSET SQLConf) and
    require identical results to the configured session."""
    from smfg_datawarehouse_spark import queries as qmod

    q = qmod.all_queries()
    fresh = spark.newSession()
    sf = "/root/testdata/sf0.001"
    for name in ["q01_pricing_summary", "q20_tumbling_window", "x07_latest_event_per_user"]:
        want = sorted(map(str, q[name](spark, sf).collect()))
        got = sorted(map(str, q[name](fresh, sf).collect()))
        assert got == want, name
