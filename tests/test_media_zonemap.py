"""WAV codec robustness (operators/multimodal.py) and zone-map pruned
reads (``ManifestTable.file_ranges`` / ``read_files``): malformed payloads
must degrade loudly to the bad-row shape, and pruning must skip files yet
stay value-identical to a full scan — the conservative-skip contract."""

from __future__ import annotations

import datetime
import struct

import pytest

from pyspark.sql import functions as F

from smfg_datawarehouse_spark.operators.multimodal import (
    decode_wav_pcm16,
    encode_wav_pcm16,
)
from smfg_datawarehouse_spark.sources.manifest import ManifestTable


def test_wav_roundtrip_exact():
    n, rate = 199, 16000  # full sawtooth period: peak must be 99
    out = decode_wav_pcm16(encode_wav_pcm16(n, rate))
    assert out["pcm_ok"] and out["n_samples"] == n
    assert out["sample_rate"] == rate and out["bit_depth"] == 16
    assert out["peak"] == 99
    assert out["abs_sum"] == sum(abs(((i * 37) % 199) - 99) for i in range(n))
    assert out["duration_us"] == n * 1_000_000 // rate


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b"JUNK" + b[4:],  # wrong magic
        lambda b: b[:4] + struct.pack("<I", len(b)) + b[8:],  # bad RIFF size
        lambda b: b[:30],  # truncated mid-fmt
        lambda b: b.replace(b"fmt ", b"fmX "),  # fmt chunk missing
    ],
)
def test_wav_malformed_payloads_degrade_to_bad_row(mutate):
    out = decode_wav_pcm16(mutate(encode_wav_pcm16(64, 8000)))
    assert out["pcm_ok"] is False and out["n_samples"] is None


def test_wav_chunk_walk_skips_foreign_chunks():
    # a LIST chunk inserted before fmt must be walked over, not tripped on
    b = encode_wav_pcm16(64, 8000)
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    body = b[12:]
    payload = b"RIFF" + struct.pack("<I", 4 + len(extra) + len(body)) + b"WAVE" + extra + body
    out = decode_wav_pcm16(payload)
    assert out["pcm_ok"] and out["n_samples"] == 64


def _sorted_table(spark, path, df, col, n_files):
    mt = ManifestTable(spark, path)
    mt.write(df.repartitionByRange(n_files, F.col(col)).sortWithinPartitions(col))
    return mt


def _pruned(zones, lo, hi):
    return [z["file"] for z in zones if z["lo"] <= hi and z["hi"] >= lo]


def test_zonemap_prunes_and_matches_full_scan(spark, tmp_path):
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.col("id") * 86400 + 1_000_000_000).alias("ts"),
    )
    mt = _sorted_table(spark, str(tmp_path / "t"), df, "ts", 10)
    zm = mt.file_ranges("ts")
    assert len(zm) == 10
    lo = datetime.datetime(2001, 9, 9) + datetime.timedelta(days=100)
    hi = lo + datetime.timedelta(days=99)
    keep = _pruned(zm, lo, hi)
    assert len(keep) < len(zm)  # actually skipped files
    in_range = (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    got = (
        mt.read_files(keep)
        .where(in_range)
        .agg(F.count("*").alias("n"), F.sum("k").alias("s"))
        .collect()[0]
    )
    want = (
        df.where(in_range)
        .agg(F.count("*").alias("n"), F.sum("k").alias("s"))
        .collect()[0]
    )
    assert tuple(got) == tuple(want) and got["n"] > 0


def test_zonemap_empty_intersection_raises(spark, tmp_path):
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    mt = _sorted_table(spark, str(tmp_path / "t2"), df, "v", 4)
    with pytest.raises(ValueError):
        mt.read_files(_pruned(mt.file_ranges("v"), 1e6, 2e6))


def test_zonemap_delete_and_compact_under_a_path_with_a_space(spark, tmp_path):
    """Regression: a zone map built from ``input_file_name()`` named its
    files by percent-encoded URI, and rereading them under a directory
    with a space raised ``PATH_NOT_FOUND ... a%20b``. ``file_ranges``
    returns manifest paths, so the pruned read, a delete and a sorted
    compaction all work under ``a b``."""
    df = spark.range(0, 400).select(F.col("id").alias("k"), (F.col("id") % 5).alias("v"))
    mt = _sorted_table(spark, str(tmp_path / "a b" / "t"), df, "k", 4)
    zm = mt.file_ranges("k")
    assert len(zm) == 4 and all(not z["file"].startswith("file:") for z in zm)
    keep = _pruned(zm, 0, 50)
    assert 0 < len(keep) < len(zm)
    assert mt.read_files(keep).where("k <= 50").count() == 51
    assert mt.delete("v = 0") == 80
    assert mt.read().count() == 320
    v = mt.compact_sorted("k", target_files=2)
    assert len(mt.manifest(v)) == 2
    assert mt.read().count() == 320 and mt.read().where("v = 0").count() == 0
