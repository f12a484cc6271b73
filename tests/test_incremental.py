"""T1 watermark lifecycle: two incremental runs never overlap, never miss."""

from __future__ import annotations

from pyspark.sql import functions as F

from smfg_datawarehouse_spark.incremental import WatermarkStore, incremental_slice
from smfg_datawarehouse_spark.queries import load_events

SF_DIR = "/root/testdata/sf0.001"


def test_two_run_incremental_no_overlap_no_loss(spark, tmp_path):
    store = WatermarkStore(spark, str(tmp_path))
    events = load_events(spark, SF_DIR)
    cutoff = F.lit("2024-01-10 00:00:00").cast("timestamp")

    def run(source):
        """One incremental run: slice past the stored watermark, then
        advance it to the slice's max (ISO text compares like the ts)."""
        sliced = incremental_slice(source, "ts", store.get("events"))
        wm = sliced.agg(F.max("ts")).first()[0]
        if wm is not None:
            store.advance("events", wm.isoformat(sep=" "))
        return sliced

    # run 1: only the "arrived so far" prefix exists at the source
    first_batch = events.where(F.col("ts") < cutoff)
    n1 = run(first_batch).count()
    assert n1 == first_batch.count()  # first run takes everything
    wm1 = store.get("events")

    # run 2: the full table is visible; only post-watermark rows extract
    s2 = run(events)
    n2 = s2.count()
    assert n1 + n2 == events.count()  # no loss
    assert s2.where(F.col("ts") <= F.lit(wm1).cast("timestamp")).count() == 0  # no overlap
    wm2 = store.get("events")
    assert wm2 > wm1

    # run 3: nothing new → empty slice, watermark unchanged
    assert run(events).count() == 0
    assert store.get("events") == wm2
    # a reopened store reads the same watermark back from the ledger
    assert WatermarkStore(spark, str(tmp_path)).get("events") == wm2


def test_reopened_store_never_moves_watermark_back(spark, tmp_path):
    """An engine restart opens a new store over the same ledger: its
    advances must outrank every stored one, or ``get`` returns the
    previous run's value and the next run extracts those rows again."""
    a = WatermarkStore(spark, str(tmp_path))
    a.advance("a", "2024-01-01 00:00:00")
    a.advance("b", "2024-01-02 00:00:00")
    b = WatermarkStore(spark, str(tmp_path))
    b.advance("b", "2024-01-03 00:00:00")
    assert b.get("b") == "2024-01-03 00:00:00"
    assert WatermarkStore(spark, str(tmp_path)).get("b") == "2024-01-03 00:00:00"
    assert b.get("a") == "2024-01-01 00:00:00"


def test_reads_spark_written_watermarks(spark, tmp_path):
    """A ``watermarks.parquet`` directory written by Spark (part files plus
    ``_SUCCESS`` and ``.crc`` side files) reads back the same values."""
    import os

    from smfg_datawarehouse_spark.incremental import _STATE_SCHEMA
    from smfg_datawarehouse_spark.session import local_rows_df

    path = os.path.join(str(tmp_path), "watermarks.parquet")
    for row in [("events", "2024-01-05 00:00:00", 1), ("events", "2024-01-09 00:00:00", 2),
                ("orders", "42", 3)]:
        local_rows_df(spark, [row], _STATE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    store = WatermarkStore(spark, str(tmp_path))
    assert store.get("events") == "2024-01-09 00:00:00"
    assert store.get("orders") == "42"
    assert store.get("missing") is None
    store.advance("events", "2024-01-10 00:00:00")
    assert store.get("events") == "2024-01-10 00:00:00"
